"""The ``fsutil`` state layer without Spark: JSON documents replaced
whole, read-modify-writes serialised by ``locked``, and the replay
rule of a versioned ``fold``.  The catalog test is the two-shard case:
two writers loading different tables into one target database."""

from __future__ import annotations

import os
import sys
import threading

import pytest

from aws_glue_jobs_incremental_database_etl_spark.catalog import FileCatalog
from aws_glue_jobs_incremental_database_etl_spark.fsutil import (
    LocalFS,
    fold,
    read_json,
    write_json,
)


def test_write_json_replaces_whole_and_leaves_no_tmp(tmp_path, monkeypatch):
    path = str(tmp_path / "sub" / "doc.json")
    assert read_json(path, {"empty": True}) == {"empty": True}
    write_json(path, {"v": 1})
    write_json(path, {"v": 2})
    assert read_json(path, None) == {"v": 2}
    assert os.listdir(tmp_path / "sub") == ["doc.json"]

    def failing_replace(self, src, dst):
        raise OSError("injected replace failure")

    monkeypatch.setattr(LocalFS, "replace", failing_replace)
    with pytest.raises(OSError, match="injected"):
        write_json(path, {"v": 3})
    monkeypatch.undo()
    assert read_json(path, None) == {"v": 2}  # the old document stands
    assert os.listdir(tmp_path / "sub") == ["doc.json"]  # tmp deleted


def test_fold_skips_a_replay_before_building(tmp_path):
    """A batch id at or below the newest committed version is a replay:
    ``fold`` returns None without calling ``build`` (no Spark needed)."""
    root = str(tmp_path / "state")
    for v in (2, 3):
        os.makedirs(f"{root}/state-{v}")

    def build():
        raise AssertionError("a replayed batch was rebuilt")

    for batch_id in (1, 3):
        assert fold(root, "state-", batch_id, build, None, None) is None
    assert sorted(os.listdir(root)) == ["state-2", "state-3"]


def _partitioned_table(cat: FileCatalog, name: str, root: str) -> None:
    cat.create_table(
        "db",
        name,
        [{"Name": "x", "Type": "bigint"}, {"Name": "p", "Type": "int"}],
        f"{root}/lake/{name}",
        partition_keys=[{"Name": "p", "Type": "int"}],
    )


def test_concurrent_catalog_writers_keep_every_partition(tmp_path):
    """Two shards, each with its own ``FileCatalog`` on one root, add
    partitions to different tables of one database with lineage stamps
    interleaved: no writer may lose the other's updates."""
    root = str(tmp_path)
    _partitioned_table(FileCatalog(f"{root}/cat"), "t0", root)
    _partitioned_table(FileCatalog(f"{root}/cat"), "t1", root)
    errors: list[Exception] = []

    def shard(name: str) -> None:
        cat = FileCatalog(f"{root}/cat")
        try:
            for i in range(200):
                cat.add_partitions("db", name, ["p"], [{"p": i}])
                if i % 5 == 0:
                    cat.update_table_job_info("db", name, "job", f"r{i}", "t")
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=shard, args=(n,)) for n in ("t0", "t1")]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    cat = FileCatalog(f"{root}/cat")
    for name in ("t0", "t1"):
        assert sorted(cat.get_partitions("db", name), key=int) == [
            str(i) for i in range(200)
        ]
        assert cat.get_table("db", name)["Parameters"]["LastUpdatedByJobRun"] == "r195"
    assert sorted(os.listdir(f"{root}/cat")) == ["db.json", "db.json.lock"]
