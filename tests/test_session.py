"""The session factory: codegen cache sizing and the runtime conf set."""

from __future__ import annotations

import pytest

from aws_glue_jobs_incremental_database_etl_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    jvm_compile_counters,
    runtime_sql_conf,
)

# Spark's default spark.sql.codegen.cache.maxEntries
SPARK_DEFAULT_ENTRIES = 100


def test_session_carries_codegen_cache_size(spark):
    got = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    assert got == CODEGEN_CACHE_ENTRIES > SPARK_DEFAULT_ENTRIES


@pytest.mark.slow
def test_working_set_above_spark_default_compiles_once(spark):
    # A primitive literal is inlined into the generated source, so every
    # i is its own set of classes: 120 stages are more classes than
    # Spark's default cache holds.  A cyclic walk over an LRU cache that
    # is too small misses on every entry, so the second round would
    # compile all of them again.
    def one_round() -> int:
        before = jvm_compile_counters(spark)[0]
        for i in range(120):
            assert spark.range(8).selectExpr(f"id + {i} AS v").collect()[-1].v == 7 + i
        return jvm_compile_counters(spark)[0] - before

    first = one_round()
    assert first > SPARK_DEFAULT_ENTRIES, "the working set must exceed Spark's default"
    assert one_round() == 0


def test_runtime_sql_conf_is_runtime_settable(spark):
    # __spark_entry__._prepare applies these with spark.conf.set, which
    # silently drops a static key: every key here must be modifiable.
    static = [k for k in runtime_sql_conf() if not spark.conf.isModifiable(k)]
    assert static == []
