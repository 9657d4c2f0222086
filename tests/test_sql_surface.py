"""Round-3 SQL-surface family: max_by/min_by, listagg WITHIN GROUP,
LATERAL subqueries, recursive CTEs, DataFrame.transpose, regr_*.

Correctness of each gate query is oracle-checked end-to-end by
tools/check_oracle.py; these tests pin the small-case semantics and
the physical-plan properties that matter at scale (decorrelation, no
per-row re-execution)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_glue_jobs_incremental_database_etl_spark import registry
from aws_glue_jobs_incremental_database_etl_spark.registry.wave2 import (
    _RECURSIVE_DECAY_SQL,
)


def test_argmax_unique_selector_deterministic(spark, sf_dir):
    out = registry.Q["argmax_orders_per_customer"](spark, sf_dir)
    rows = {r["o_custkey"]: r for r in out.collect()}
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # cross-check one customer by brute force
    k = next(iter(rows))
    mine = (
        o.filter(F.col("o_custkey") == k)
        .orderBy(F.col("o_orderkey").desc())
        .limit(1)
        .collect()[0]
    )
    assert rows[k]["latest_date"] == mine["o_orderdate"]
    assert rows[k]["latest_price"] == mine["o_totalprice"]


def test_argmax_single_shuffle_plan(spark, sf_dir):
    out = registry.Q["argmax_orders_per_customer"](spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan  # one hash-agg shuffle, no window/join


def test_listagg_orders_statuses_bounded(spark, sf_dir):
    out = registry.Q["listagg_status_by_priority"](spark, sf_dir).collect()
    for r in out:
        parts = r["statuses"].split(",")
        assert parts == sorted(set(parts))  # DISTINCT + WITHIN GROUP order
        assert set(parts) <= {"F", "O", "P"}


def test_lateral_decorrelates_to_join(spark, sf_dir):
    out = registry.Q["lateral_customer_order_stats"](spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # Catalyst must decorrelate: an aggregate + join, not per-row subqueries
    assert "Join" in plan, plan
    # customers without orders still appear, with n_orders = 0
    zero = out.filter(F.col("n_orders") == 0)
    assert zero.filter(F.col("max_price").isNotNull()).count() == 0


def test_recursive_decay_small_case(spark):
    # two orders p1, p2 → final balance = 0.5*p1 + p2
    import datetime as dt

    df = spark.createDataFrame(
        [
            (1, 10, "F", 100.0, dt.datetime(2024, 1, 1), "x"),
            (1, 11, "F", 40.0, dt.datetime(2024, 1, 2), "x"),
            (2, 12, "F", 7.0, dt.datetime(2024, 1, 1), "x"),
        ],
        "o_custkey int, o_orderkey int, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    df.createOrReplaceTempView("orders")
    out = {
        r["o_custkey"]: r
        for r in spark.sql(_RECURSIVE_DECAY_SQL).collect()
    }
    # cents: 10000 -> floor(10000/2) + 4000 = 9000
    assert out[1]["n_orders"] == 2 and out[1]["final_balance_cents"] == 9000
    assert out[2]["n_orders"] == 1 and out[2]["final_balance_cents"] == 700


def test_transpose_shape(spark, sf_dir):
    out = registry.Q["transpose_order_status_stats"](spark, sf_dir)
    assert out.columns == ["key", "F", "O", "P"]
    rows = {r["key"]: r for r in out.collect()}
    assert set(rows) == {"n_orders", "sum_price", "avg_price"}


def test_regr_matches_closed_form(spark):
    # y = 2x + 1 exactly → slope 2, intercept 1, r2 1
    df = spark.createDataFrame(
        [(float(x), 2.0 * x + 1.0) for x in range(10)], "x double, value double"
    )
    r = df.agg(
        F.round(F.expr("regr_slope(value, x)"), 6).alias("s"),
        F.round(F.expr("regr_intercept(value, x)"), 6).alias("i"),
        F.round(F.expr("regr_r2(value, x)"), 6).alias("r2"),
    ).collect()[0]
    assert (r["s"], r["i"], r["r2"]) == (2.0, 1.0, 1.0)


def test_nullsafe_join_plan_and_null_group(spark, sf_dir):
    from aws_glue_jobs_incremental_database_etl_spark import registry

    out = registry.Q["nullsafe_join_order_priorities"](spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan, plan  # EqualNullSafe stays a hash key
    rows = out.collect()
    # the NULLIF-suppressed group must survive the null-safe join
    assert any(r["k"] is None for r in rows)


def test_collation_folds_case(spark, sf_dir):
    from aws_glue_jobs_incremental_database_etl_spark import registry

    rows = registry.Q["collated_group_part_types"](spark, sf_dir).collect()
    reps = [r["rep"] for r in rows]
    # folded groups: no two representatives differ only by case
    assert len({r.lower() for r in reps}) == len(reps)
