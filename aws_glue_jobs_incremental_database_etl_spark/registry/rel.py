"""Relational: aggregations — split from the single-file registry (VERDICT r7 #7).

Registration order is preserved by the package ``__init__`` importing
the domain modules in the original file order; ``Q``/``O`` are the
shared dicts from ``._core``.
"""

from __future__ import annotations

import tempfile  # noqa: F401  (several queries stage scratch dirs)

import pandas as pd  # noqa: F401  resolves pandas_udf string annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401
from pyspark.sql.window import Window  # noqa: F401

from ..functions import epoch_us  # noqa: F401
from ..materialize import checkpoint
from ..tables import load_table  # noqa: F401
from ._core import (  # noqa: F401
    _LM_CE_SQL,
    _SHINGLE_INTER_SQL,
    O,
    Q,
    query,
)

# =====================================================================
# Relational: aggregations
# =====================================================================

@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                    AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                               AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                    AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                               AS avg_price,
           ROUND(AVG(l_discount), 4)                                    AS avg_disc,
           COUNT(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary (SURVEY.md §2.4 [EXT] hash agg).

    Map-side partial aggregation → tiny shuffle (one row per
    flag/status pair) regardless of fact-table size."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "agg_lineitem_stats",
    """
    SELECT COUNT(*)                   AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           ROUND(MIN(l_quantity), 2)  AS min_qty,
           ROUND(MAX(l_quantity), 2)  AS max_qty,
           ROUND(AVG(l_quantity), 4)  AS avg_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem
    """,
)
def agg_stats(spark, sf_dir):
    """Global aggregate incl. exact COUNT DISTINCT (expand+2-phase agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


@query(
    "rollup_order_priorities",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_orders(spark, sf_dir):
    """ROLLUP grouping sets (SURVEY.md §2.4 [EXT])."""
    return (
        load_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "cube_returnflag_status",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items, ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_rf(spark, sf_dir):
    """CUBE grouping sets."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@query(
    "grouping_sets_orders",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_q(spark, sf_dir):
    """Explicit non-hierarchical GROUPING SETS (SURVEY.md §2.4 [EXT]) —
    per-status totals, per-priority totals, and a grand total in one
    pass (Expand + single aggregate, not three scans)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@query(
    "collect_list_order_keys",
    """
    SELECT o_orderpriority,
           array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
           COUNT(*) AS n
    FROM orders WHERE o_totalprice > 450000
    GROUP BY o_orderpriority
    """,
)
def collect_list_q(spark, sf_dir):
    """collect_list aggregate (SURVEY.md §2.4 [EXT]); sorted then
    comma-joined to a scalar — collect_list order is
    partition-nondeterministic, sort_array makes it canonical, and the
    gate can't hash array cells."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return o.groupBy("o_orderpriority").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("o_orderkey")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("order_keys"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_percentiles_orders",
    """
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           APPROX_COUNT_DISTINCT(o_custkey) > 0       AS acd_positive
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (F.percentile ≡ quantile_cont)
    plus the approx_count_distinct surface (HLL sketches differ across
    engines, so only its positivity is part of the oracle contract —
    the exact-match twin is agg_lineitem_stats' COUNT DISTINCT)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        (F.approx_count_distinct("o_custkey") > 0).alias("acd_positive"),
    )


@query(
    "explode_embedding_head",
    """
    SELECT vec_id, i - 1 AS pos,
           ROUND(CAST(embedding[i] AS DOUBLE), 4) AS v
    FROM embeddings, range(1, 5) t(i)
    """,
)
def explode_head(spark, sf_dir):
    """posexplode over an array column (lateral-view surface): first 4
    embedding components as (vec_id, pos, value) rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.posexplode(F.slice("embedding", 1, 4)).alias("pos", "raw")
    ).select("vec_id", "pos", F.round(F.col("raw").cast("double"), 4).alias("v"))


@query(
    "pivot_priority_by_status",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_q(spark, sf_dir):
    """Pivot surface: groupBy().pivot(values).count() with explicit
    pivot values (no extra distinct-discovery pass — the two-phase
    pivot without values needs a first job just to enumerate columns)."""
    o = load_table(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return p.select(
        "o_orderpriority",
        F.coalesce("F", F.lit(0)).alias("n_f"),
        F.coalesce("O", F.lit(0)).alias("n_o"),
        F.coalesce("P", F.lit(0)).alias("n_p"),
    )


@query(
    "distinct_mktsegments",
    "SELECT DISTINCT c_mktsegment FROM customer",
)
def distinct_seg(spark, sf_dir):
    """Distinct = the reference's partition-value discovery aggregate (A1)."""
    return load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()


# =====================================================================
# Relational: joins
# =====================================================================

@query(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q3(spark, sf_dir):
    """TPC-H Q3-style: selective dim filter → fact joins → top-k.

    customer is broadcast (small side); orders⋈lineitem sort-merge on
    the key; final TakeOrderedAndProject avoids a global sort."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "q5_region_revenue",
    """
    SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM region JOIN nation   ON n_regionkey = r_regionkey
                JOIN customer ON c_nationkey = n_nationkey
                JOIN orders   ON o_custkey = c_custkey
                JOIN lineitem ON l_orderkey = o_orderkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5(spark, sf_dir):
    """TPC-H Q5-style star join: broadcast the whole dim chain
    (region→nation→customer), shuffle only orders⋈lineitem."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    dims = F.broadcast(
        c.join(n, c.c_nationkey == n.n_nationkey).join(r, n.n_regionkey == r.r_regionkey)
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(dims, o.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q6_forecast_revenue",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))), 2)
               AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6(spark, sf_dir):
    """TPC-H Q6-style: pure filter + global agg — every predicate
    reaches the parquet scan (PushedFilters), zero joins, 1-row shuffle."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * F.col("l_discount")).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q14_promo_revenue",
    """
    SELECT ROUND(
             100.0 * SUM(CAST(CASE WHEN p_type LIKE 'PROMO%'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END AS DECIMAL(18,6)))
             / SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))),
             4) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-06-01 00:00:00'
    """,
)
def q14(spark, sf_dir):
    """TPC-H Q14-style promo revenue share: broadcast part into the
    filtered fact scan; conditional aggregation in exact decimal."""
    p = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-06-01 00:00:00").cast("timestamp_ntz"))
    )
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    promo = (
        F.when(F.col("p_type").like("PROMO%"), F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .otherwise(F.lit(0))
        .cast("decimal(18,6)")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            F.round(F.lit(100.0) * F.sum(promo) / F.sum(disc), 4).alias("promo_pct")
        )
    )


@query(
    "left_join_order_counts",
    """
    SELECT c_custkey, c_name,
           COUNT(o_orderkey)                    AS n_orders,
           ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS revenue
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    """,
)
def left_join_counts(spark, sf_dir):
    """Left outer join preserving customers with zero orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("revenue"),
        )
    )


@query(
    "right_join_big_orders",
    """
    SELECT c_custkey, c_mktsegment, COUNT(o_orderkey) AS n_big_orders
    FROM (SELECT * FROM orders WHERE o_totalprice > 150000) o
    RIGHT JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
)
def right_join_q(spark, sf_dir):
    """Right outer join (SURVEY.md §2.3 [EXT]): every customer kept,
    order side null where no qualifying order — the filter runs
    BEFORE the join so it can't be pushed past the preserved side."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_big_orders"))
    )


@query(
    "full_join_customer_orders",
    """
    WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 1000),
         o AS (SELECT o_custkey, COUNT(*) AS n_orders,
                      ROUND(SUM(o_totalprice), 2) AS revenue
               FROM orders WHERE o_custkey >= 500 GROUP BY o_custkey)
    SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
           c.c_name AS c_name,
           COALESCE(o.n_orders, 0) AS n_orders,
           COALESCE(o.revenue, 0.0) AS revenue
    FROM c FULL JOIN o ON c.c_custkey = o.o_custkey
    """,
)
def full_join_q(spark, sf_dir):
    """Full outer join (SURVEY.md §2.3 [EXT]) with genuinely unmatched
    rows on BOTH sides (disjoint key-range filters); agg-before-join
    keeps the outer join one-row-per-key."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 1000)
        .select("c_custkey", "c_name")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") >= 500)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
    j = c.join(o, c.c_custkey == o.o_custkey, "full")
    return j.select(
        F.coalesce(c.c_custkey, o.o_custkey).alias("custkey"),
        F.col("c_name"),
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("revenue"), F.lit(0.0)).alias("revenue"),
    )


@query(
    "semi_join_active_customers",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 100000)
    """,
)
def semi_join(spark, sf_dir):
    """left_semi join = EXISTS (no row multiplication, build side only
    emits the key)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "anti_join_inactive_customers",
    """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def anti_join(spark, sf_dir):
    """left_anti join = NOT EXISTS."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@query(
    "range_join_shipped_30d",
    """
    SELECT o_orderstatus, COUNT(*) AS n_items
    FROM lineitem JOIN orders
      ON l_orderkey = o_orderkey
     AND l_shipdate >= o_orderdate
     AND l_shipdate <  o_orderdate + INTERVAL 30 DAY
    GROUP BY o_orderstatus
    """,
)
def range_join_q(spark, sf_dir):
    """Range join WITH equi keys: Catalyst plans the equi join and
    applies the interval predicate as a filter — no nested-loop
    explosion (operators.joins.range_join)."""
    from ..operators.joins import range_join

    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    cond = (F.col("l_shipdate") >= F.col("o_orderdate")) & (
        F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    joined = range_join(
        l.select("l_orderkey", "l_shipdate").withColumnRenamed("l_orderkey", "o_orderkey"),
        o.select("o_orderkey", "o_orderdate", "o_orderstatus"),
        cond,
        equi_keys=["o_orderkey"],
    )
    return joined.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_items"))


@query(
    "asof_join_purchase_click",
    """
    SELECT p.event_id, p.user_id, p.ts, c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_q(spark, sf_dir):
    """As-of join (operators.joins.asof_join): latest click at-or-before
    each purchase, per user — sort-based union trick, one shuffle."""
    from ..operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    return asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        value_cols=["click_ts"],
        strict=False,
    )


@query(
    "training_data_pipeline",
    rf"""
    WITH q AS (
      SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') AS w,
             0.5 * LEAST(len(string_split_regex(trim(text), '\s+')) / 100.0, 1.0)
             + 0.3 * (1.0 - CASE WHEN length(text) > 0
                 THEN (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                      / CAST(length(text) AS DOUBLE) ELSE 0.0 END)
             + 0.2 * LEAST(4 * CASE WHEN len(string_split_regex(trim(text), '\s+')) > 0
                 THEN len(list_filter(list_transform(string_split_regex(trim(text), '\s+'), x -> lower(x)),
                          x -> x IN ('the','a','of','and','to','in','is','it')))
                      / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
                 ELSE 0.0 END, 1.0) AS quality
      FROM documents
    ), f AS (
      SELECT doc_id, w FROM q WHERE quality >= 0.55
    ), d AS MATERIALIZED (
      SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh, w
      FROM f
    ), {_SHINGLE_INTER_SQL}, losers AS (
      SELECT DISTINCT id_b AS doc_id FROM inter
      WHERE c::DOUBLE / (na + nb - c) >= 0.7
    ), s AS (
      SELECT doc_id, w,
             CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 10000 < 8000 THEN 'train'
                  WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 10000 < 9000 THEN 'val'
                  ELSE 'test' END AS split
      FROM d WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    ), nc AS (
      SELECT doc_id, split, w,
             CASE WHEN len(w) <= 64 THEN 1
                  ELSE 1 + (len(w) - 64 + 47) // 48 END AS n_chunks
      FROM s
    ), ex AS (
      SELECT doc_id, split, w, unnest(range(0, n_chunks)) AS i FROM nc
    )
    SELECT split, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_chunks,
           CAST(SUM(len(list_slice(w, i * 48 + 1, i * 48 + 64))) AS BIGINT)
               AS n_tokens
    FROM ex GROUP BY split
    """,
)
def training_pipeline_q(spark, sf_dir):
    """The engine's stages composed end-to-end as one dataflow —
    quality filter → MinHash near-dup dedup → deterministic md5
    train/val/test split → 64/16 context-window chunking → per-split
    corpus stats.  Every stage is the already-verified operator
    (text.quality_filter, dedup.minhash_dedup, sampling.hash_split,
    text.chunk_documents); the oracle is their SQL replicas composed
    the same way.  This is the shape a real training-data ingestion
    job takes: one lazy plan, no materialization between stages."""
    from ..operators.dedup import minhash_dedup
    from ..operators.sampling import hash_split
    from ..operators.text import chunk_documents, quality_filter

    d = load_table(spark, sf_dir, "documents")
    filtered = quality_filter(d, min_quality=0.55)
    deduped = minhash_dedup(
        filtered, "doc_id", "text", threshold=0.7, shingle_k=3,
        num_hashes=64, bands=16,
    )
    split = hash_split(deduped, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    chunks = chunk_documents(
        split.select("doc_id", "text"), "doc_id", "text",
        chunk_tokens=64, overlap_tokens=16,
    ).join(split.select("doc_id", "split"), F.col("id") == F.col("doc_id"))
    return chunks.groupBy("split").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_chunk_tokens").alias("n_tokens"),
    )


@query(
    "bigram_top_docs",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ), bg AS (
      SELECT doc_id, unnest(list_transform(range(1, len(w)),
             i -> w[i] || ' ' || w[i+1])) AS bigram
      FROM toks
    )
    SELECT bigram, COUNT(*) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM bg GROUP BY bigram
    ORDER BY n_occurrences DESC, bigram ASC LIMIT 20
    """,
)
def bigram_q(spark, sf_dir):
    """Bigram frequency head (n-gram LM prep, companion to
    vocab_top_terms): adjacent-token pairs via a zip of the token
    array with its own tail — map-only expansion, then one
    partial-aggregated shuffle on the bigram."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        d.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("bigram").asc())
        .limit(20)
    )


@query(
    "repetition_signals_docs",
    """
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(lower(trim(text)), '\\s+') END AS w
      FROM documents
    ), bg AS (
      SELECT doc_id, unnest(list_transform(range(1, len(w)),
             i -> w[i] || ' ' || w[i+1])) AS bigram
      FROM toks
    ), bc AS (
      SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram
    ), bs AS (
      SELECT doc_id, MAX(c) AS mx, SUM(c) AS tot FROM bc GROUP BY doc_id
    )
    SELECT t.doc_id AS id,
           CAST(len(w) AS BIGINT) AS n_words,
           CASE WHEN len(w) > 0
                THEN ROUND((len(w) - len(list_distinct(w)))
                           / CAST(len(w) AS DOUBLE), 6)
                ELSE 0.0 END AS dup_word_frac,
           COALESCE(ROUND(bs.mx / CAST(bs.tot AS DOUBLE), 6), 0.0)
             AS top_bigram_frac
    FROM toks t LEFT JOIN bs ON t.doc_id = bs.doc_id
    """,
)
def repetition_signals_q(spark, sf_dir):
    """Gopher-style repetition quality signals
    (operators.text.repetition_signals): duplicate-word fraction is a
    map-only HOF; top-bigram fraction is one explode + two
    partial-aggregated shuffles keyed by the document."""
    from ..operators.text import repetition_signals

    d = load_table(spark, sf_dir, "documents")
    return repetition_signals(d, "doc_id", "text")


@query(
    "gopher_quality_docs",
    """
    WITH w AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS ws,
             string_split(text, chr(10)) AS ls
      FROM documents
    ), s AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             ROUND(list_sum(list_transform(ws, x -> length(x)))
                   / CAST(len(ws) AS DOUBLE), 6) AS mean_word_len,
             ROUND(len(list_filter(ws,
                     x -> contains(x, '#') OR contains(x, '...')))
                   / CAST(len(ws) AS DOUBLE), 6) AS symbol_ratio,
             ROUND(len(list_filter(ls,
                     l -> starts_with(ltrim(l), '-')
                       OR starts_with(ltrim(l), '*')
                       OR starts_with(ltrim(l), '•')))
                   / CAST(len(ls) AS DOUBLE), 6) AS bullet_ratio,
             ROUND(len(list_filter(ls, l -> ends_with(rtrim(l), '...')))
                   / CAST(len(ls) AS DOUBLE), 6) AS ellipsis_ratio,
             CAST(len(list_filter(
                 ['the','be','to','of','and','that','have','with'],
                 st -> list_contains(ws, st))) AS INTEGER) AS stopword_hits
      FROM w
    )
    SELECT doc_id AS id, n_words, mean_word_len, symbol_ratio,
           bullet_ratio, ellipsis_ratio, stopword_hits,
           CAST(n_words >= 50 AND n_words <= 100000 AS INTEGER)
             AS pass_word_count,
           CAST(mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS INTEGER)
             AS pass_mean_word_len,
           CAST(symbol_ratio <= 0.1 AS INTEGER) AS pass_symbol_ratio,
           CAST(bullet_ratio <= 0.9 AS INTEGER) AS pass_bullet_ratio,
           CAST(ellipsis_ratio <= 0.3 AS INTEGER) AS pass_ellipsis_ratio,
           CAST(stopword_hits >= 2 AS INTEGER) AS pass_stopwords,
           CAST(n_words >= 50 AND n_words <= 100000
                AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
                AND ellipsis_ratio <= 0.3 AND stopword_hits >= 2
                AS INTEGER) AS keep
    FROM s
    """,
)
def gopher_quality_q(spark, sf_dir):
    """The Gopher hand-written quality-rule battery (Rae et al. 2021
    App. A1.1 — operators.text.gopher_quality_flags): word-count /
    mean-word-length / symbol / bullet / ellipsis / stopword rules as
    one map-only HOF pass, flags + keep per document.  Ratios round to
    6 before thresholding so the flag booleans are engine-exact."""
    from ..operators.text import gopher_quality_flags

    d = load_table(spark, sf_dir, "documents")
    return gopher_quality_flags(d, "doc_id", "text")


@query(
    "decontaminate_docs",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ), grams AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 5
                  THEN list_distinct(list_transform(range(1, len(w) - 3),
                       i -> array_to_string(list_slice(w, i, i + 4), ' ')))
                  ELSE [array_to_string(w, ' ')] END AS gs
      FROM toks
    ), doc_grams AS (
      SELECT doc_id, unnest(gs) AS g FROM grams
    ), bench AS (
      SELECT DISTINCT g FROM doc_grams WHERE doc_id % 97 = 0
    ), matched AS (
      SELECT dg.doc_id, COUNT(*) AS n_matched_grams
      FROM doc_grams dg JOIN bench b ON dg.g = b.g
      GROUP BY dg.doc_id
    )
    SELECT gr.doc_id AS id,
           CAST(len(gs) AS BIGINT) AS n_grams,
           CAST(COALESCE(m.n_matched_grams, 0) AS BIGINT) AS n_matched_grams,
           CAST(CASE WHEN COALESCE(m.n_matched_grams, 0) >= 1 THEN 1 ELSE 0
                END AS INT) AS is_contaminated
    FROM grams gr LEFT JOIN matched m ON gr.doc_id = m.doc_id
    """,
)
def decontaminate_q(spark, sf_dir):
    """Benchmark decontamination (operators.text.decontaminate): every
    doc sharing a 5-gram with the benchmark slice (doc_id % 97 = 0,
    a stand-in eval set) is flagged.  Bench grams broadcast as
    xxhash64 longs; the oracle replicates with gram strings — counts
    agree because both sides compare the same distinct gram sets."""
    from ..operators.text import decontaminate

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return decontaminate(d, bench, "doc_id", "text", k=5)


@query(
    "quality_checks_orders",
    """
    SELECT 'not_null_o_orderkey' AS check_name,
           CAST(CASE WHEN m = 0 THEN 1 ELSE 0 END AS INT) AS passed,
           CAST(m AS DOUBLE) AS observed
    FROM (SELECT COALESCE(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END), 0) AS m
          FROM orders)
    UNION ALL
    SELECT 'unique_o_orderkey',
           CAST(CASE WHEN m = 0 THEN 1 ELSE 0 END AS INT), CAST(m AS DOUBLE)
    FROM (SELECT COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS m FROM orders)
    UNION ALL
    SELECT 'accepted_values_o_orderstatus',
           CAST(CASE WHEN m = 0 THEN 1 ELSE 0 END AS INT), CAST(m AS DOUBLE)
    FROM (SELECT COALESCE(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P')
                               AND o_orderstatus IS NOT NULL
                          THEN 1 ELSE 0 END), 0) AS m FROM orders)
    UNION ALL
    SELECT 'min_value_o_totalprice',
           CAST(CASE WHEN m = 0 THEN 1 ELSE 0 END AS INT), CAST(m AS DOUBLE)
    FROM (SELECT COALESCE(SUM(CASE WHEN o_totalprice < 0.0 THEN 1 ELSE 0 END), 0) AS m
          FROM orders)
    UNION ALL
    SELECT 'fk_o_custkey',
           CAST(CASE WHEN m = 0 THEN 1 ELSE 0 END AS INT), CAST(m AS DOUBLE)
    FROM (SELECT COUNT(*) AS m FROM orders o
          WHERE o_custkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o.o_custkey))
    """,
)
def quality_checks_q(spark, sf_dir):
    """Data-quality constraint report (operators.quality
    .check_constraints — the Deequ/Great Expectations publish gate):
    row-local rules fold into one global aggregate pass; the FK rule
    is a broadcast left-anti orphan count."""
    from ..operators.quality import check_constraints

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return check_constraints(
        o,
        not_null=["o_orderkey"],
        unique=["o_orderkey"],
        accepted_values={"o_orderstatus": ["F", "O", "P"]},
        min_value={"o_totalprice": 0.0},
        foreign_keys=[("o_custkey", c, "c_custkey")],
    )


@query(
    "mixture_resample_docs",
    """
    WITH counts AS (
      SELECT source AS g, COUNT(*) AS n FROM documents GROUP BY source
    ), shares AS (
      SELECT * FROM (VALUES
        ('src0', CAST(0.5 AS DOUBLE)),
        ('src1', CAST(0.3 AS DOUBLE)),
        ('src2', CAST(0.2 AS DOUBLE))) AS t(g, s)
    ), j AS (
      SELECT c.g, c.n, sh.s AS frac FROM counts c JOIN shares sh USING (g)
    ), bind AS (
      SELECT MIN(n / frac) AS binding FROM j WHERE frac > 0
    ), th AS (
      SELECT g,
             CAST(FLOOR(LEAST(1.0, binding * frac / n) * 10000) AS BIGINT)
               AS thr
      FROM j CROSS JOIN bind
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN th ON d.source = th.g
    WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 10000 < th.thr
    """,
)
def mixture_resample_q(spark, sf_dir):
    """Corpus mixture resampling (operators.sampling.mixture_resample):
    downsample sources to a 50/30/20 target mixture without
    upsampling.  Group counts are one tiny aggregate; the resample is
    the md5-bucket predicate — exact selection reproduced by the
    oracle because threshold arithmetic is the same IEEE double
    sequence (binding · share / n, floored) on both engines."""
    from ..operators.sampling import mixture_resample

    d = load_table(spark, sf_dir, "documents")
    out = mixture_resample(
        d, "source", "doc_id", {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    )
    return out.select("doc_id", "source")


@query(
    "temperature_resample_docs",
    """
    WITH counts AS (
      SELECT source AS g, COUNT(*) AS n FROM documents
      WHERE source IS NOT NULL GROUP BY source
    ), tot AS (
      SELECT SUM(n) AS t FROM counts
    ), sh AS (
      SELECT g, n, SQRT(n / CAST(t AS DOUBLE)) AS s
      FROM counts CROSS JOIN tot
    ), bind AS (
      SELECT MIN(n / s) AS binding FROM sh WHERE n > 0
    ), th AS (
      SELECT g,
             CAST(FLOOR(LEAST(1.0, binding * s / n) * 10000) AS BIGINT)
               AS thr
      FROM sh CROSS JOIN bind
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN th ON d.source = th.g
    WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 10000 < th.thr
    """,
)
def temperature_resample_q(spark, sf_dir):
    """Temperature-smoothed source mixture
    (operators.sampling.temperature_resample, the XLM-R/mT5 sampling
    law p_g ∝ (n_g/N)^alpha at alpha=0.5): source counts are one
    bounded aggregate, shares use SQRT (correctly rounded per IEEE 754
    on both engines — exact cross-engine selection), the resample
    itself is the md5-bucket map-only predicate."""
    from ..operators.sampling import temperature_resample

    d = load_table(spark, sf_dir, "documents")
    return temperature_resample(d, "source", "doc_id", alpha=0.5).select(
        "doc_id", "source"
    )


def _zorder_oracle() -> str:
    from ..functions.zorder import zorder_sql_expr

    inner = zorder_sql_expr(["o_custkey", "o_totalprice"], "orders", bits=8)
    return f"SELECT o_orderkey, _z AS z_val FROM ({inner})"


@query("zorder_value_orders", _zorder_oracle())
def zorder_value_q(spark, sf_dir):
    """Morton z-values over (o_custkey, o_totalprice)
    (functions.zorder.z_value — the clustering key of
    maintenance.compact_partitioned_table(zorder_by=...)): linear
    min/max cells interleaved with pure shift/mask arithmetic, bounds
    from a 1-row broadcast pre-pass.  The oracle runs the generated
    ANSI replica of the identical expression, so the bit pattern is
    pinned engine-exact."""
    from ..functions.zorder import z_value

    o = load_table(spark, sf_dir, "orders")
    return z_value(o, ["o_custkey", "o_totalprice"], bits=8).select(
        "o_orderkey", F.col("_z").alias("z_val")
    )


@query(
    "skew_stats_lineitem_suppkey",
    """
    WITH counts AS (
      SELECT l_suppkey, COUNT(*) AS n_rows FROM lineitem GROUP BY l_suppkey
    ), t AS (
      SELECT SUM(n_rows) AS total, MAX(n_rows) AS mx, AVG(n_rows) AS mean
      FROM counts
    )
    SELECT l_suppkey, n_rows,
           ROUND(n_rows / t.total, 6) AS share,
           ROUND(t.mx / t.mean, 4) AS skew_ratio
    FROM counts, t
    ORDER BY n_rows DESC, l_suppkey ASC LIMIT 10
    """,
)
def skew_stats_q(spark, sf_dir):
    """Skew diagnostics (operators.skew.skew_stats): heavy-hitter keys
    with their row share and the column's max/mean skew ratio — the
    measurement that decides between AQE's skew split and explicit
    salting (joins.salted_join).  One count-by-key aggregate + a
    broadcast 1-row total."""
    from ..operators.skew import skew_stats

    li = load_table(spark, sf_dir, "lineitem")
    return skew_stats(li, ["l_suppkey"], top_k=10)


@query(
    "asof_join_tolerance_30m",
    """
    SELECT event_id, user_id, ts,
           CASE WHEN click_ts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(click_ts) <= 30 * 60 * 1000000
                THEN click_ts END AS click_ts
    FROM (
      SELECT p.event_id, p.user_id, p.ts, c.ts AS click_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT user_id, ts FROM events
                      WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND p.ts >= c.ts
    )
    """,
)
def asof_tolerance_q(spark, sf_dir):
    """As-of join with a staleness bound (joins.asof_join tolerance):
    clicks more than 30 minutes before the purchase are masked to NULL
    instead of matched — pandas merge_asof tolerance semantics.  The
    oracle post-filters DuckDB's ASOF JOIN with the same exact-µs
    bound."""
    from ..operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    return asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        value_cols=["click_ts"],
        strict=False,
        tolerance="30 minutes",
    )


@query(
    "q7_nation_volume",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           YEAR(l_shipdate) AS l_year,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
                  JOIN orders   ON o_orderkey = l_orderkey
                  JOIN customer ON c_custkey = o_custkey
                  JOIN nation n1 ON s_nationkey = n1.n_nationkey
                  JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE n1.n_name <> n2.n_name
    GROUP BY n1.n_name, n2.n_name, YEAR(l_shipdate)
    """,
)
def q7(spark, sf_dir):
    """TPC-H Q7-style bi-nation volume: both nation dims broadcast on
    different keys; lineitem⋈orders is the only big shuffle."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "q9_product_profit",
    """
    SELECT n_name AS nation, YEAR(o_orderdate) AS o_year,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS amount
    FROM part JOIN lineitem ON p_partkey = l_partkey
              JOIN supplier ON s_suppkey = l_suppkey
              JOIN orders   ON o_orderkey = l_orderkey
              JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%a%'
    GROUP BY n_name, YEAR(o_orderdate)
    """,
)
def q9(spark, sf_dir):
    """TPC-H Q9-style product profit by supplier nation and year
    (part filter broadcast into the fact scan)."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%a%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s.join(n, s.s_nationkey == n.n_nationkey)), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("amount")
        )
    )


@query(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           n_name
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q10(spark, sf_dir):
    """TPC-H Q10-style returned-item ranking: top-20 customers by lost
    revenue (TakeOrderedAndProject, no global sort)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.join(n, c.c_nationkey == n.n_nationkey)), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "q8_market_share",
    """
    WITH vol AS (
      SELECT YEAR(o_orderdate) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem JOIN orders   ON l_orderkey = o_orderkey
                    JOIN customer ON o_custkey = c_custkey
                    JOIN nation n1 ON c_nationkey = n1.n_nationkey
                    JOIN region   ON n1.n_regionkey = r_regionkey
                    JOIN supplier ON l_suppkey = s_suppkey
                    JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA'
    )
    SELECT o_year,
           CAST(ROUND(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume
                          ELSE CAST(0 AS DECIMAL(18,6)) END)
                 / SUM(volume), 6) AS DOUBLE) AS mkt_share
    FROM vol GROUP BY o_year
    """,
)
def q8(spark, sf_dir):
    """TPC-H Q8-style market share: one nation's revenue fraction of a
    region's customer volume by year — conditional decimal aggregation
    over a broadcast-dim star join."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    cust_dim = F.broadcast(
        c.join(n1, c.c_nationkey == F.col("c_nk")).join(
            r, F.col("c_rk") == r.r_regionkey
        )
    )
    supp_dim = F.broadcast(s.join(n2, s.s_nationkey == F.col("s_nk")))
    volume = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    zero = F.lit(0).cast("decimal(18,6)")
    vol = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(cust_dim, o.o_custkey == c.c_custkey)
        .join(supp_dim, l.l_suppkey == s.s_suppkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
    )
    return vol.groupBy("o_year").agg(
        F.round(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_1", F.col("volume")).otherwise(
                    zero
                )
            )
            / F.sum("volume"),
            6,
        )
        .cast("double")
        .alias("mkt_share")
    )


@query(
    "q18_large_orders",
    """
    SELECT c_custkey, c_name, o_orderkey,
           ROUND(o_totalprice, 2) AS price,
           ROUND(t.sum_qty, 2)    AS sum_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN (SELECT l_orderkey, SUM(l_quantity) AS sum_qty
               FROM lineitem GROUP BY l_orderkey
               HAVING SUM(l_quantity) > 300) t
           ON o_orderkey = t.l_orderkey
    """,
)
def q18(spark, sf_dir):
    """TPC-H Q18-style large-volume orders: pre-aggregated HAVING
    subquery joined back to the dims (agg-before-join keeps the join
    input at one row per qualifying order)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("raw_qty"))
        .filter(F.col("raw_qty") > 300)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            F.round("raw_qty", 2).alias("sum_qty"),
        )
    )


@query(
    "q19_disjunctive_revenue",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)
               AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 10)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity >= 30)
    """,
)
def q19(spark, sf_dir):
    """TPC-H Q19-style disjunctive predicate join: the OR-of-ANDs rides
    the broadcast hash join as one post-join filter (Catalyst extracts
    the common l_partkey equi key; no plan explosion per branch)."""
    p = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem")
    branch = lambda brand, lo, hi, qty: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(lo, hi)
        & (F.col("l_quantity") >= qty)
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(
            branch("Brand#1", 1, 15, 10)
            | branch("Brand#2", 10, 30, 20)
            | branch("Brand#3", 20, 50, 30)
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# =====================================================================
# Relational: subqueries (EXISTS / correlated / scalar)
# =====================================================================

@query(
    "q4_priority_late_ship",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-07-01'
      AND o_orderdate <  TIMESTAMP '1995-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4(spark, sf_dir):
    """TPC-H Q4-style EXISTS subquery (adapted: this lineitem has no
    l_commitdate/l_receiptdate, so "late" = shipped >60 days after the
    order date).  The EXISTS is a left-semi join: equi on l_orderkey
    with the date comparison as the join residual, so each order is
    emitted at most once without a distinct.  The quarter filter
    prunes orders at the scan (PushedFilters) before the semi join."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    window = o.filter(
        (F.col("o_orderdate") >= F.lit("1995-07-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1995-10-01").cast("timestamp_ntz"))
    )
    late = window.join(
        l,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@query(
    "q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders
               ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey) t
    GROUP BY c_count
    """,
)
def q13(spark, sf_dir):
    """TPC-H Q13-style customer order-count distribution: left outer
    join with a predicate INSIDE the join condition (unmatched
    customers keep count 0), then a second aggregation over the
    counts.  Both shuffles are keyed and partial-aggregated; the
    second one's input is one row per customer."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q17_small_quantity_revenue",
    """
    SELECT CAST(ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                      / 7.0, 2) AS DOUBLE) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#4'
      AND l_quantity < (SELECT 0.5 * AVG(l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
)
def q17(spark, sf_dir):
    """TPC-H Q17-style correlated scalar subquery (per-part average
    quantity threshold), expressed as a window aggregate: after the
    brand-filtered broadcast join, AVG(l_quantity) OVER (PARTITION BY
    p_partkey) sees exactly the rows the correlated subquery would —
    the join is n:1 so each part's full lineitem set is present.  Only
    the one brand's ~1/25 of lineitem reaches the window shuffle; no
    second scan of lineitem."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4")
    l = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("p_partkey")
    joined = l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    return (
        joined.withColumn("avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double")
                / 7.0,
                2,
            )
            .cast("double")
            .alias("avg_yearly")
        )
    )


@query(
    "q18_large_volume_customer",
    """
    SELECT c_custkey, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(SUM(l_quantity) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
    GROUP BY c_custkey, o_orderkey, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20
    """,
)
def q18(spark, sf_dir):
    """TPC-H Q18 (large-volume customers): the IN-subquery over a
    HAVING aggregate becomes a left-semi join against the big-order
    key set.  That set is the output of a partial-aggregated groupBy
    (tiny — orders with >300 units), so the semi join broadcasts and
    lineitem is scanned twice but shuffled once; final top-k is
    TakeOrderedAndProject.  l_quantity is integral-valued, so the
    double SUM is order-independent and engine-exact."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_tq"))
        .filter(F.col("_tq") > 300)
        .select("l_orderkey")
    )
    return (
        li.join(F.broadcast(big), "l_orderkey", "left_semi")
        .join(F.broadcast(o), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "o_orderkey", "o_totalprice")
        .agg(F.sum("l_quantity").cast("double").alias("total_qty"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


@query(
    "q21_waiting_supplier",
    """
    WITH late AS (
      SELECT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
        AND l_shipdate > o_orderdate + INTERVAL 100 DAY
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM late l1 JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 10
    """,
)
def q21(spark, sf_dir):
    """TPC-H Q21-style (suppliers who kept orders waiting), adapted:
    the testdata lineitem has no l_receiptdate/l_commitdate, so "late"
    is l_shipdate > o_orderdate + 100 days, and the nation filter is
    dropped.  The operator structure is Q21's: a correlated EXISTS
    with an inequality residual (another supplier touched the order)
    as a left-semi join, and the correlated NOT EXISTS (no OTHER
    supplier was late) as a left-anti join on the same late set —
    both carry the equi key plus a non-equi residual, the shape
    Catalyst plans as a residual-filtered hash join, never a BNLJ."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    late = (
        li.join(F.broadcast(o), F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 100 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    l1 = late.alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = late.alias("l3")
    waited = (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
            "left_anti",
        )
    )
    return (
        waited.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(10)
    )


@query(
    "q22_dormant_customers",
    """
    SELECT n_name AS nation, COUNT(*) AS numcust,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS totacctbal
    FROM customer JOIN nation ON n_nationkey = c_nationkey
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                       WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY n_name
    """,
)
def q22(spark, sf_dir):
    """TPC-H Q22-style (adapted: no c_phone column, so the country-code
    IN-list becomes the nation dim and "no orders" becomes "no URGENT
    orders" — every sf0.01 customer has some order).  The uncorrelated
    scalar subquery is a 1-row broadcast cross join; the NOT EXISTS is
    a left-anti join against the pre-filtered urgent orders (filter
    pushed below the anti join, so the build side is ~1/5 of orders)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("totacctbal"),
        )
    )


@query(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def q15(spark, sf_dir):
    """TPC-H Q15-style top supplier: the revenue "view" is computed
    once and reused for both the MAX scalar subquery and the final
    join (checkpointed → one lineitem scan); the max is a 1-row broadcast
    cross join.  Revenue is rounded identically on both sides BEFORE
    the max/equality so ties resolve the same way in both engines."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = checkpoint(
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("total_revenue")
        )
    )
    top = rev.agg(F.max("total_revenue").alias("max_rev"))
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q16_supplier_variety",
    """
    SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#45'
      AND l_suppkey IS NOT NULL
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0
                              AND s_suppkey IS NOT NULL)
    GROUP BY p_brand, p_type
    """,
)
def q16(spark, sf_dir):
    """TPC-H Q16-style supplier variety (adapted: no partsupp table,
    lineitem is the part↔supplier bridge): distinct suppliers per
    (brand, type), excluding an unwanted supplier set via NOT IN.

    Plan: the NOT IN subquery is a LEFT ANTI join against the tiny
    pre-filtered supplier list (broadcast); part joins broadcast on
    partkey; the COUNT DISTINCT is the standard two-phase distinct
    aggregate keyed by (brand, type) — one fact shuffle total.
    Both sides exclude NULL keys EXPLICITLY: bare NOT IN returns
    no rows if the subquery yields a NULL (and drops NULL probe
    keys) while an anti join keeps them — the IS NOT NULL guards
    make the two formulations equivalent for any data."""
    p = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    bad = s.filter(
        (F.col("s_acctbal") < 0) & F.col("s_suppkey").isNotNull()
    ).select("s_suppkey")
    return (
        l.filter(F.col("l_suppkey").isNotNull())
        .join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(
            F.broadcast(p.filter(F.col("p_brand") != "Brand#45")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q11_part_value_share",
    """
    SELECT l_partkey AS partkey,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS part_value
    FROM lineitem
    GROUP BY l_partkey
    HAVING SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
           > (SELECT SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,6))) * 0.0008 FROM lineitem)
    """,
)
def q11(spark, sf_dir):
    """TPC-H Q11-style important stock (adapted: no partsupp table in
    the corpus, so value = lineitem revenue per part): parts whose
    revenue exceeds a fraction of GLOBAL revenue — the uncorrelated
    scalar subquery in HAVING.

    Plan: one partial-aggregated shuffle keyed by part; the global
    total is a second aggregate over the SAME checkpointed per-part rollup
    (not a second fact scan), folded back as a 1-row broadcast cross
    join.  The HAVING compare runs on exact DECIMAL(18,6) sums in
    both engines — a double-precision threshold would make boundary
    parts engine-dependent (addition-order sensitivity)."""
    l = load_table(spark, sf_dir, "lineitem")
    per_part = checkpoint(
        l.groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            ).alias("_val")
        )
    )
    total = per_part.agg(F.sum("_val").alias("_total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("_val") > F.col("_total") * F.lit(0.0008).cast("decimal(7,4)"))
        .select(
            "partkey",
            F.round("_val", 2).cast("double").alias("part_value"),
        )
    )


@query(
    "q12_priority_lines",
    """
    SELECT l_returnflag AS returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    """,
)
def q12(spark, sf_dir):
    """TPC-H Q12-style two-way conditional counts (adapted: no
    l_shipmode/l_receiptdate columns, so the group key is returnflag
    and the window is a shipdate range): urgent-vs-other line counts
    per group, the CASE-sum-inside-join pattern.

    Plan: shipdate filter pushed to the lineitem scan, one shuffled
    equi-join on orderkey (both sides big → sort-merge under AQE),
    then a partial-aggregated CASE-sum — the conditional counts
    combine map-side so the final shuffle is rows-per-group."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            # ~high (not otherwise(1)): a NULL priority must count in
            # NEITHER bucket, matching the oracle's CASE … ELSE 0
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias(
                "low_line_count"
            ),
        )
    )


# =====================================================================
# Relational: windows, sorts, set ops
# =====================================================================

@query(
    "window_top_orders_per_customer",
    """
    SELECT * FROM (
        SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS price,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders) t
    WHERE rn <= 3
    """,
)
def window_topn(spark, sf_dir):
    """Ranking window: top-3 orders per customer (row_number)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "window_event_gaps",
    """
    SELECT event_id, user_id,
           epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id) AS gap_us
    FROM events
    """,
)
def window_gaps(spark, sf_dir):
    """Analytic window (lag): exact µs gap to the previous event."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    us = epoch_us("ts")
    return ev.select(
        "event_id", "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    )


@query(
    "funnel_view_click_purchase",
    """
    WITH s1 AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s1) AS n_view,
           (SELECT COUNT(*) FROM s2) AS n_click_after_view,
           (SELECT COUNT(*) FROM s3) AS n_purchase_after_click
    """,
)
def funnel_q(spark, sf_dir):
    """Ordered conversion funnel (view → click-after-view →
    purchase-after-click), the composite event-analytics shape: each
    stage is a conditional MIN keyed on the user joined against the
    previous stage's timestamp.  All time math in exact integer µs
    (events.ts arrives as nanos — see tables.load_table).  Three
    user-keyed aggregations; each join is user_id-keyed and the stage
    frames shrink monotonically."""
    ev = load_table(spark, sf_dir, "events")
    us = epoch_us("ts")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(us > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min(us).alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(us > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min(us).alias("t3"))
    )
    return (
        s1.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("n_click_after_view")))
        .crossJoin(s3.agg(F.count(F.lit(1)).alias("n_purchase_after_click")))
    )


@query(
    "window_running_revenue",
    """
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS UNBOUNDED PRECEDING), 2) AS running_revenue
    FROM orders
    """,
)
def window_running(spark, sf_dir):
    """Aggregate window with an explicit ROWS frame (running total)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_revenue"),
    )


@query(
    "window_range_frame",
    """
    SELECT o_orderkey,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_orderstatus
                                         ORDER BY o_orderkey
                                         RANGE BETWEEN 1000 PRECEDING
                                               AND CURRENT ROW), 2) AS rolling_1k
    FROM orders
    """,
)
def window_range(spark, sf_dir):
    """RANGE frame (value-based, vs the ROWS frame in
    window_running_revenue): rolling revenue over an orderkey span."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy(F.col("o_orderkey").asc())
        .rangeBetween(-1000, Window.currentRow)
    )
    return o.select(
        "o_orderkey", F.round(F.sum("o_totalprice").over(w), 2).alias("rolling_1k")
    )


@query(
    "window_rank_family",
    """
    SELECT o_orderkey,
           DENSE_RANK() OVER w AS drank,
           NTILE(4)     OVER w AS quartile,
           ROUND(LEAD(o_totalprice) OVER w, 2) AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice DESC, o_orderkey ASC)
    """,
)
def window_ranks(spark, sf_dir):
    """Ranking/analytic family: dense_rank + ntile + lead over one
    fully-ordered partition spec (deterministic ntile)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        F.dense_rank().over(w).alias("drank"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
    )


@query(
    "window_distribution_family",
    """
    SELECT o_orderkey,
           CAST(ROUND(PERCENT_RANK() OVER w, 6) AS DOUBLE) AS pct_rank,
           CAST(ROUND(CUME_DIST()    OVER w, 6) AS DOUBLE) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
)
def window_distribution(spark, sf_dir):
    """Distribution window functions (percent_rank / cume_dist) —
    the remaining members of the ranking family, over a fully-ordered
    (hence deterministic) partition spec."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).cast("double").alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).cast("double").alias("cume"),
    )


@query(
    "topk_orders",
    """
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS price FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
)
def topk(spark, sf_dir):
    """Global top-k → TakeOrderedAndProject (per-partition heap + merge
    of k rows; no full sort, no full shuffle)."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
        .orderBy(F.col("price").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


_RICH = "SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000"
_BIG = "SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000"


@query("setop_union", f"{_RICH} UNION {_BIG}")
def setop_union(spark, sf_dir):
    """UNION (distinct) — row-level analogue of the schema union in E2."""
    a, b = _setop_sides(spark, sf_dir)
    return a.union(b).distinct()


@query("setop_intersect", f"{_RICH} INTERSECT {_BIG}")
def setop_intersect(spark, sf_dir):
    a, b = _setop_sides(spark, sf_dir)
    return a.intersect(b)


@query("setop_except", f"{_RICH} EXCEPT {_BIG}")
def setop_except(spark, sf_dir):
    # EXCEPT DISTINCT: subtract() removes a row from the output if it
    # appears in b at all.  (exceptAll().distinct() is NOT the same —
    # a row occurring twice in a and once in b would survive it.)
    a, b = _setop_sides(spark, sf_dir)
    return a.subtract(b)


@query(
    "setop_union_by_name",
    """
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS price, NULL AS status
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL BY NAME
    SELECT o_orderkey, NULL AS price, o_orderstatus AS status
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def setop_union_by_name(spark, sf_dir):
    """unionByName(allowMissingColumns=True) — the ROW analogue of E2
    schema evolution: mismatched column sets align by name, absentees
    null-fill (SURVEY.md §2.7)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price")
    )
    b = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", F.col("o_orderstatus").alias("status")
    )
    return a.unionByName(b, allowMissingColumns=True)


@query(
    "unpivot_customer_measures",
    """
    SELECT c_custkey, measure, CAST(ROUND(value, 2) AS DOUBLE) AS value
    FROM (
      SELECT c_custkey, c_acctbal AS acctbal,
             CAST(c_nationkey AS DOUBLE) AS nationkey
      FROM customer WHERE c_custkey < 100
    ) UNPIVOT (value FOR measure IN (acctbal, nationkey))
    """,
)
def unpivot_q(spark, sf_dir):
    """unpivot/melt (inverse of pivot, SURVEY.md §2.4 family): wide
    measure columns become (key, measure, value) rows.  Spark 4's
    native DataFrame.unpivot is a map-side Expand — no shuffle, the
    exact dual of the pivot aggregate."""
    c = load_table(spark, sf_dir, "customer")
    wide = c.filter(F.col("c_custkey") < 100).select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    return wide.unpivot(
        ["c_custkey"], ["acctbal", "nationkey"], "measure", "raw"
    ).select(
        "c_custkey", "measure", F.round("raw", 2).cast("double").alias("value")
    )


@query(
    "vocab_top_terms",
    """
    SELECT term, n_occurrences, n_docs FROM (
      SELECT term, COUNT(*) AS n_occurrences,
             COUNT(DISTINCT doc_id) AS n_docs
      FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
            FROM documents)
      GROUP BY term
    ) ORDER BY n_occurrences DESC, term ASC LIMIT 20
    """,
)
def vocab_q(spark, sf_dir):
    """Corpus vocabulary head: exact term + document frequencies for
    the 20 most frequent terms (tie-broken by term).  explode → one
    partial-aggregated shuffle on the term; the distinct doc count
    rides the same aggregation.  The standard first look at a training
    corpus (stopword skew, boilerplate detection)."""
    d = load_table(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    )
    return (
        terms.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("term").asc())
        .limit(20)
    )


def _setop_sides(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    a = c.filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("custkey"))
    b = o.filter(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("custkey")
    )
    return a, b


@query(
    "sql_top_suppliers",
    """
    SELECT s_suppkey, s_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_suppkey, s_name
    ORDER BY revenue DESC, s_suppkey ASC
    LIMIT 15
    """,
)
def sql_top_suppliers(spark, sf_dir):
    """The spark.sql entry point (same ANSI text the oracle runs):
    registered temp views + SQL parser + Catalyst — proving the SQL
    surface, not just the DataFrame DSL, is first-class."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT s_suppkey, s_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_suppkey, s_name
        ORDER BY revenue DESC, s_suppkey ASC
        LIMIT 15
        """
    )


# =====================================================================
# Scalar function library
# =====================================================================

@query(
    "scalar_string_part",
    r"""
    SELECT p_partkey,
           UPPER(p_brand)                        AS brand_upper,
           SUBSTR(p_name, 1, 8)                  AS name_prefix,
           LENGTH(p_name)                        AS name_len,
           regexp_extract(p_type, '^(\w+)', 1)   AS type_first,
           ROUND(p_retailprice * 1.1, 2)         AS price_bump,
           (p_size >= 25)                        AS is_large,
           (p_name LIKE '%a%')                   AS has_a
    FROM part
    """,
)
def scalar_string(spark, sf_dir):
    """String/math scalar surface (SURVEY.md §2.8 [EXT]) — all
    codegen'd built-ins."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_first"),
        F.round(F.col("p_retailprice") * 1.1, 2).alias("price_bump"),
        (F.col("p_size") >= 25).alias("is_large"),
        F.col("p_name").like("%a%").alias("has_a"),
    )


@query(
    "scalar_date_orders",
    """
    SELECT o_orderkey,
           YEAR(o_orderdate)                                   AS y,
           MONTH(o_orderdate)                                  AS m,
           CAST(date_trunc('month', o_orderdate) AS DATE)      AS month_start,
           date_diff('day', DATE '1995-01-01',
                     CAST(o_orderdate AS DATE))                AS days_since_95
    FROM orders
    """,
)
def scalar_date(spark, sf_dir):
    """Date scalar surface: year/month/trunc/diff."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month_start"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_95"
        ),
    )


@query(
    "json_events_sum",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def json_events(spark, sf_dir):
    """Row-level JSON extraction (get_json_object) + aggregate."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "events_props_map",
    """
    SELECT event_id,
           array_to_string(list_sort(json_keys(props)), ',')  AS keys,
           len(json_keys(props))                              AS n_keys,
           CAST(json_extract_string(props, '$.k') AS BIGINT)  AS k_val
    FROM events
    """,
)
def events_props_map(spark, sf_dir):
    """MapType surface (map_keys / element_at / size over a parsed
    JSON map — SURVEY.md §2.8 [EXT] map functions). The sorted key
    list is emitted as a comma-joined scalar: the correctness gate's
    canonicalizer cannot hash array cells."""
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    return ev.select(
        "event_id",
        F.concat_ws(",", F.array_sort(F.map_keys(m))).alias("keys"),
        F.size(F.map_keys(m)).alias("n_keys"),
        F.element_at(m, "k").cast("bigint").alias("k_val"),
    )


@query(
    "scalar_array_vectors",
    """
    SELECT vec_id,
           len(embedding)                                             AS dim,
           ROUND(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                'sum'), 4)                            AS vec_sum,
           ROUND(list_aggregate(list_transform(list_slice(embedding, 1, 8),
                                               x -> CAST(x AS DOUBLE)),
                                'sum'), 4)                            AS head_sum,
           ROUND(CAST(list_sort(embedding)[len(embedding)] AS DOUBLE), 4) AS vec_max,
           len(list_filter(embedding, x -> x > 0))                    AS n_pos
    FROM embeddings
    """,
)
def scalar_array(spark, sf_dir):
    """Array-function surface (SURVEY.md §2.8 [EXT]): size / slice /
    sort / filter / aggregate HOFs — all Catalyst, no UDF."""
    emb = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(
            F.aggregate(dbl, F.lit(0.0), lambda a, x: a + x), 4
        ).alias("vec_sum"),
        F.round(
            F.aggregate(F.slice(dbl, 1, 8), F.lit(0.0), lambda a, x: a + x), 4
        ).alias("head_sum"),
        F.round(F.array_max("embedding").cast("double"), 4).alias("vec_max"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
    )


@query(
    "doc_token_counts",
    r"""
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
               AS bpe_tokens,
           n_chars
    FROM documents
    """,
)
def doc_token_counts_q(spark, sf_dir):
    """Token budgeting surface: whitespace tokens + BPE-ish subword
    estimate (functions.text.bpe_token_count), both map-only regex
    counts."""
    from ..functions.text import bpe_token_count, token_count
    from ..operators.dedup import _spread

    d = _spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("ws_tokens"),
        bpe_token_count(F.col("text")).alias("bpe_tokens"),
        "n_chars",
    )


