"""Table maintenance: small-file compaction for append-only targets.

The incremental pipeline (reference semantics: append per run,
``jdbc_incremental.py:222-229``) accretes one file set per run per
partition; after thousands of runs a 100 TB table degenerates into
millions of KB-scale files and scan planning + open() overhead dwarfs
the IO.  Compaction rewrites each Hive partition's files into
~``target_file_bytes`` outputs and swaps the directory atomically —
the standard companion job every append-based lake pipeline runs on a
schedule (Iceberg/Delta `OPTIMIZE` reduced to plain directories).

Scale notes: the rewrite is one distributed read + one repartition
shuffle sized by the REAL byte totals (not row counts), so output
files land near the Parquet sweet spot regardless of row width; the
swap is two directory renames (no copy); readers that started before
the swap keep their open file handles (POSIX) — on object stores use
a manifest/metastore pointer swap instead.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fsutil import dir_bytes, swap_tree
from .sinks import SUPPORTED_FORMATS


def _data_file_count(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if not f.startswith((".", "_")) and not f.endswith(".crc"))
    return n


def compact_partitioned_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    partition_spec: Sequence[str] | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    cluster_by: Sequence[str] | None = None,
    zorder_by: Sequence[str] | None = None,
) -> dict[str, int]:
    """Rewrite ``path`` (optionally Hive-partitioned) into
    ~``target_file_bytes`` files and atomically swap it in.

    Returns ``{"files_before", "files_after", "bytes"}``.

    File-count targeting: output task count = ⌈input bytes ÷ target⌉,
    distributed across partition values by hashing (partition keys +
    a spreading index), so each partition directory ends with roughly
    bytes(partition)/target files without a per-partition plan.

    ``cluster_by`` sorts the rewrite by those columns (Delta/Iceberg
    ``OPTIMIZE ... ZORDER``'s single-dimension case): without a
    partition spec the data is range-partitioned so each output FILE
    covers a narrow key range and selective scans skip whole files via
    parquet/ORC footer min-max; with a spec, rows are sorted within
    each write task so skipping happens at row-group granularity
    inside each partition directory.

    ``zorder_by`` (mutually exclusive with ``cluster_by``) clusters on
    the Morton interleave of 2+ columns instead
    (``functions.zorder.z_value``): each output file covers a small
    hyper-rectangle of the clustered dimensions, so footer min/max
    prunes files for predicates on ANY subset of them — the
    multi-column skipping ``cluster_by`` cannot give.  The ``_z``
    column exists only inside the rewrite plan; written files keep the
    original schema.
    """
    fmt = fmt.lower()
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"Unknown format: {fmt}")
    if cluster_by and zorder_by:
        raise ValueError("cluster_by and zorder_by are mutually exclusive")
    path = path.rstrip("/")
    spec = list(partition_spec or [])
    cluster = list(cluster_by or [])
    zorder = list(zorder_by or [])

    in_bytes = dir_bytes(path)
    files_before = _data_file_count(path)
    n_out = max(1, math.ceil(in_bytes / target_file_bytes))

    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", "true").option("inferSchema", "true")
    df: DataFrame = reader.load(path)

    # hash-spread into exactly n_out write tasks; including the
    # partition keys co-locates rows so a task writes few partition
    # dirs (bounds small-file fan-out when spec is present)
    drop_z = False
    if zorder:
        from .functions.zorder import z_value

        df = z_value(df, zorder)
        drop_z = True
        if spec:
            df = df.repartition(n_out, *[F.col(c) for c in spec])
            df = df.sortWithinPartitions(*spec, "_z")
        else:
            df = df.repartitionByRange(n_out, F.col("_z"))
            df = df.sortWithinPartitions("_z")
    elif spec:
        df = df.repartition(n_out, *[F.col(c) for c in spec])
        if cluster:
            df = df.sortWithinPartitions(*spec, *cluster)
    elif cluster:
        df = df.repartitionByRange(n_out, *[F.col(c) for c in cluster])
        df = df.sortWithinPartitions(*cluster)
    else:
        df = df.repartition(n_out)
    if drop_z:
        df = df.drop("_z")

    tmp = f"{path}.__compact_{int(time.time() * 1000)}"
    writer = df.write.mode("overwrite")
    if spec:
        writer = writer.partitionBy(*spec)
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.format(fmt).save(tmp)
    swap_tree(path, tmp)

    return {
        "files_before": files_before,
        "files_after": _data_file_count(path),
        "bytes": in_bytes,
    }


_TEMP_MARKERS = (".__compact_", ".__trash_", ".__merge_", ".__merge_trash_")


def vacuum_temp_trees(path: str, older_than_seconds: float = 24 * 3600) -> list[str]:
    """Remove orphaned temp/trash trees a crashed compaction or merge
    left beside ``path`` (``<table>.__compact_*``, ``<table>.__merge_*``,
    ``<table>.__trash_*``...), keeping anything younger than
    ``older_than_seconds`` in case a job is mid-swap right now.

    The swap protocols are crash-safe for the LIVE tree (old or new
    complete state); what a crash can leak is disk, and this is the
    scheduled reclaim.  Returns the removed paths.
    """
    path = path.rstrip("/")
    parent, base = os.path.split(path)
    cutoff = time.time() - older_than_seconds
    removed = []
    if not os.path.isdir(parent):
        return removed
    for name in os.listdir(parent):
        full = os.path.join(parent, name)
        if not os.path.isdir(full):
            continue
        if any(name.startswith(base + m) for m in _TEMP_MARKERS):
            if os.path.getmtime(full) < cutoff:
                shutil.rmtree(full, ignore_errors=True)
                removed.append(full)
    return removed
