"""Canonical loaders for the driver testdata tables.

``/root/testdata/sf*/{name}.parquet`` — TPC-H-ish star schema plus
``events`` / ``documents`` / ``embeddings`` (TESTDATA.md).  One quirk:
``events.ts`` has shipped in two physical forms across driver rounds —
parquet TIMESTAMP(NANOS) (round 1), which Spark's reader rejects
unless ``spark.sql.legacy.parquet.nanosAsLong`` (set in
``session.get_spark``) turns it into a long we convert losslessly
here, and plain ``timestamp[us]`` with no zone (round 2+), which
Spark 4 infers as TIMESTAMP_NTZ and passes through unchanged.  Any
µs arithmetic downstream must therefore be NTZ-tolerant — use
``functions.epoch_us`` (casts via the UTC session zone), never bare
``F.unix_micros``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .fsutil import dir_bytes

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# (path, mtime_ns, size, nanosAsLong) -> StructType.  Parquet schema
# inference costs ~70 ms of driver time PER spark.read.parquet() call
# (footer fetch + merge); the registry issues ~600 load_table calls per
# full bench run, all over a handful of immutable testdata files.
# Memoizing the INFERRED SCHEMA (never data, never plans) and
# re-reading with ``spark.read.schema(...)`` removes that fixed cost
# while leaving every execution to scan parquet normally.  The
# (mtime, size) key invalidates the entry if a file is ever regenerated
# in place; the session's ``nanosAsLong`` decides whether a
# TIMESTAMP(NANOS) column infers as long, so it is part of the key.
_SCHEMA_CACHE: dict[tuple[str, int, int, str], T.StructType] = {}

# sf_dir -> total parquet bytes (immutable testdata; cached forever).
_DIR_BYTES: dict[str, int] = {}


def tune_shuffle_for_input(spark: SparkSession, sf_dir: str) -> None:
    """Derive AQE's ``initialPartitionNum`` from the INPUT SIZE instead
    of a constant (guide §2.2: partitioning must be scale-adaptive).

    AQE can only coalesce DOWN from the initial count, so the ceiling
    must grow with the data: ~1 MB of compressed parquet input per
    initial partition (postings/self-join shuffles expand compressed
    input 10-50×, so this targets tens-of-MB shuffle blocks), floored
    at the core count and capped at the round-11 production ceiling
    ``max(256, 8×cpus)`` (env-overridable).  At sf0.1 (17 MB) this
    lands on the floor — a measured ~0.1-0.25 s saving per shuffle vs
    a fixed 256 — while sf1 (160 MB) gets 160 and sf10+ the full
    ceiling, preserving the round-11 fix for 60M-row shuffles grinding
    through 32 fixed partitions.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32") or "32")
    cap = int(
        os.environ.get(
            "SPARK_GRAFT_INITIAL_PARTITIONS", str(max(256, 8 * cpus))
        )
    )
    in_bytes = _DIR_BYTES.get(sf_dir)
    if in_bytes is None:
        in_bytes = _DIR_BYTES[sf_dir] = dir_bytes(sf_dir)
    n = min(cap, max(cpus, in_bytes // (1 << 20)))
    try:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum", str(n)
        )
    except Exception:
        pass  # non-settable session build — keep going


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with canonical column types."""
    tune_shuffle_for_input(spark, sf_dir)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    try:
        st = os.stat(path)
        nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
        key = (path, st.st_mtime_ns, st.st_size, nanos)
    except OSError:
        key = None
    schema = _SCHEMA_CACHE.get(key) if key is not None else None
    if schema is None:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # integer `div`, NOT `/`: float division rounds 19-digit nano
        # values (> 2^53) and corrupts the microsecond by ±1
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql queries."""
    for n in TABLE_NAMES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
