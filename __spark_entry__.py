"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — every implemented operator from SURVEY.md §2 as a
(spark, sf_dir) → DataFrame callable.
``oracle_sql()`` — matching DuckDB SQL per query (omitted only for
genuinely non-SQL-expressible / hash-seed-specific operators, which
get the weaker rows-only check).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aws_glue_jobs_incremental_database_etl_spark import registry  # noqa: E402
from aws_glue_jobs_incremental_database_etl_spark.session import runtime_sql_conf  # noqa: E402


def _prepare(spark: SparkSession) -> None:
    # The driver may hand us a session without our tuned config — set
    # every runtime-settable conf the queries rely on.  AQE's
    # initialPartitionNum (the shuffle-partition CEILING AQE coalesces
    # down from — VERDICT r10 #1) is NOT pinned here: it is derived
    # from the actual input volume per sf_dir by
    # ``tables.tune_shuffle_for_input`` (called by every load_table).
    # Nor is the codegen cache size: spark.sql.codegen.cache.maxEntries
    # is a static conf, so a session the driver supplies keeps Spark's
    # 100-entry cache and recompiles a working set larger than that on
    # every pass (``session.get_spark`` sizes it at build time).
    for k, v in runtime_sql_conf().items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this session build — keep going


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _prepare(spark)
    return registry.Q["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _prepare(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, fn in registry.Q.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (same column aliases)."""
    return dict(registry.O)
