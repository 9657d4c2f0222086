"""Registry gates that stage files use ``_core.scratch_dir``, which
removes its directory at interpreter exit; a bare ``mkdtemp`` leaks
one directory per gate run."""

from __future__ import annotations

import ast
import os

from aws_glue_jobs_incremental_database_etl_spark import registry


def test_no_mkdtemp_in_registry_outside_core():
    root = os.path.dirname(registry.__file__)
    found = []
    for name in sorted(os.listdir(root)):
        if not name.endswith(".py") or name == "_core.py":
            continue
        with open(os.path.join(root, name), encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        found += [
            f"{name}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, (ast.Attribute, ast.Name))
            and (node.attr if isinstance(node, ast.Attribute) else node.id)
            == "mkdtemp"
        ]
    assert not found, "mkdtemp outside registry/_core.py:\n" + "\n".join(found)
