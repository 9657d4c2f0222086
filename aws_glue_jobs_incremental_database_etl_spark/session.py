"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` but every default here is chosen to
also make sense on a large cluster: AQE on (runtime coalescing + skew
join handling), broadcast threshold sized for dimension tables, Arrow
on for the few Pandas-UDF operators, and partition-size knobs that keep
scan tasks in the 128 MB range so a 100 TB input splits into
~800k well-sized tasks rather than a handful of giant ones.

The engine runs the same plans again and again in one long-lived
session, so Spark's codegen cache is sized to hold every class a
repeated pass needs (``plans/r12/codegen_cache.json``, 4-vCPU guest,
Spark 4.1.2).  A pass of the five-query ``query_mix`` needs 116
distinct generated classes and the 237-query ``bench.py`` headline
4365 (4177 in its first reps, 188 more in the second).  Spark's
default cache of 100 entries, walked in a cycle, missed on 81 of them
in every warm ``query_mix`` pass; with 5000 entries a warm pass
compiles 0, and its JIT time fell from 8777/5631/4642/4660/3978 ms
to 6807/4175/3359/3338/2626 ms over passes 1-5.  Metaspace after six
passes: 160.5 MB with 100 entries, 157.0 MB with 5000 — the small
cache saves no memory, because an evicted class stays loaded until a
GC unloads it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# spark.sql.codegen.cache.maxEntries: the smallest round value above
# the bench.py headline's working set of 4365 classes (module docstring).
CODEGEN_CACHE_ENTRIES = 5000


def runtime_sql_conf(shuffle_partitions: int | None = None) -> dict[str, str]:
    """The runtime-settable SQL confs every session runs with: the ones
    :func:`get_spark` builds with, and the ones the driver entry point
    sets on a session it did not build.  ``shuffle_partitions``
    defaults to ``$SPARK_GRAFT_CPUS``."""
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return {
        # The driver testdata's events.ts is parquet TIMESTAMP(NANOS),
        # which the vectorized reader rejects; read as long and convert
        # (values are µs-aligned — see tables.load_table).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.session.timeZone": "UTC",
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic join-strategy switching — the single most important
        # setting for unpredictable 100 TB key distributions.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Dimension tables (region/nation/customer/supplier/part at
        # warehouse scale) broadcast instead of shuffling the fact side.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Arrow for pandas_udf / applyInPandas / mapInPandas operators.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Bound each Arrow batch handed to a Python kernel: the
        # embedding/simhash kernels hold batch × dim float64 plus the
        # result in memory, so executor footprint must be set by this
        # knob, not by partition size (default 10k rows is right for
        # 64-dim floats; drop it for wide multimodal blobs).
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # Keep scan splits ~128MB so task count scales with data volume.
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    }


def jvm_compile_counters(spark: SparkSession) -> tuple[int, int]:
    """``(janino_compiles, jit_ms)`` so far in the session's JVM: the
    number of generated classes Spark has compiled (cache misses of its
    codegen cache, driver and local executors alike) and the total
    milliseconds the JVM's JIT compilers have spent.  Take the
    difference of two readings to charge them to what ran between."""
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    jit_ms = jvm.java.lang.management.ManagementFactory.getCompilationMXBean().getTotalCompilationTime()
    return int(compiles), int(jit_ms)


def get_spark(
    app_name: str = "aws_glue_jobs_incremental_database_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    real cluster leave it unset and let spark-submit supply it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    # AQE's coalescer can only shrink the partition count, never grow
    # it — so `shuffle.partitions` must be the CEILING for the largest
    # shuffle, not the target for the common case.  Start every shuffle
    # at 8× the core count and let AQE coalesce small ones back down to
    # the parallelism floor (`parallelismFirst` keeps tiny sf0.1
    # shuffles at ~cpus partitions, so the local bench is unchanged,
    # while a 60M-row sf10 shuffle fans out to 256 instead of grinding
    # 2M-row partitions through 32 slots — VERDICT r10 #1).
    initial_partitions = int(
        os.environ.get(
            "SPARK_GRAFT_INITIAL_PARTITIONS", str(max(256, 8 * int(cpus)))
        )
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(initial_partitions, shuffle_partitions)),
        )
        # A static conf: it must be set here, spark.conf.set rejects it.
        # A warm query_mix pass compiles 81 classes with Spark's default
        # of 100 entries and 0 with this one (module docstring).
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**runtime_sql_conf(shuffle_partitions), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
