"""Round-7 wave 2: recommendations / survey design / privacy / stumps — split from the single-file registry (VERDICT r7 #7).

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
from .wave6_ts import _score_bin, _scored_docs, _scored_sql  # noqa: F401

# =====================================================================
# Round-7 wave 2: recommendations / survey design / privacy / stumps
# =====================================================================

@query(
    "item_cooccurrence_cosine_parts",
    """
    WITH li0 AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), bsz AS (
      SELECT l_orderkey, COUNT(*) AS bs FROM li0 GROUP BY l_orderkey
    ), li AS (
      -- postings_pairs(max_df=256) replay: mega-baskets are dropped
      -- before the self-join AND the item counts (no-op at test SFs,
      -- max basket 17)
      SELECT li0.l_orderkey, li0.l_partkey FROM li0
      JOIN bsz ON bsz.l_orderkey = li0.l_orderkey
      WHERE bsz.bs <= 256
    ), n AS (
      SELECT l_partkey, COUNT(*) AS cnt FROM li GROUP BY l_partkey
    ), co AS (
      SELECT a.l_partkey AS p_a, b.l_partkey AS p_b, COUNT(*) AS co
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= 2
    ), scored AS (
      SELECT co.p_a, co.p_b, co.co,
             co.co / (sqrt(na.cnt) * sqrt(nb.cnt)) AS cosine,
             ROW_NUMBER() OVER (
               ORDER BY co.co / (sqrt(na.cnt) * sqrt(nb.cnt)) DESC,
                        co.p_a ASC, co.p_b ASC) AS rn
      FROM co JOIN n na ON na.l_partkey = co.p_a
              JOIN n nb ON nb.l_partkey = co.p_b
    )
    SELECT CAST(p_a AS BIGINT) AS p_a, CAST(p_b AS BIGINT) AS p_b,
           CAST(co AS BIGINT) AS n_cooccur, ROUND(cosine, 6) AS cosine
    FROM scored WHERE rn <= 20 ORDER BY cosine DESC, p_a, p_b
    """,
)
def item_cooccur_q(spark, sf_dir):
    """Item-to-item collaborative filtering: cosine similarity between
    parts from order-basket co-occurrence (co / √n_a·√n_b — the
    classic Amazon item2item score), top-20 pairs with ≥2 shared
    baskets.  Pair generation is the basket-keyed postings self-join
    (bounded per-order fan-out, never item×item); each part's basket
    count is a window over the kept postings, carried onto both pair
    sides.  The 100 TB guard is wired on by default:
    ``postings_pairs`` drops mega-baskets with > 256 items (far above
    this schema's max of 17 at sf0.1, so gates are unchanged) and logs
    the drop count — bounding the worst order at 256² pairs."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.skew import postings_pairs

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    cnt = F.count(F.lit(1)).over(Window.partitionBy("l_partkey")).alias("cnt")
    scored = (
        postings_pairs(li, "l_orderkey", "l_partkey", 256, "basket-size", carry=(cnt,))
        .groupBy(
            F.col("l_partkey_a").alias("p_a"),
            F.col("l_partkey_b").alias("p_b"),
            F.col("cnt_a").alias("na"),
            F.col("cnt_b").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= 2)
        .select(
            "p_a",
            "p_b",
            "co",
            (
                F.col("co") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb")))
            ).alias("cosine"),
        )
    )
    w = Window.orderBy(
        F.col("cosine").desc(), F.col("p_a").asc(), F.col("p_b").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select(
            F.col("p_a").cast("bigint").alias("p_a"),
            F.col("p_b").cast("bigint").alias("p_b"),
            F.col("co").cast("bigint").alias("n_cooccur"),
            F.round("cosine", 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "p_a", "p_b")
    )


@query(
    "neyman_allocation_orders",
    """
    WITH cells AS (
      SELECT o_orderpriority, COUNT(*) AS nh,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS s,
             SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS HUGEINT)
                 * CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS ss
      FROM orders GROUP BY o_orderpriority
    ), sd AS (
      SELECT o_orderpriority, nh,
             sqrt((ss - CAST(s AS DOUBLE) * s / nh) / (nh - 1)) / 100.0
               AS sigma
      FROM cells
    ), tot AS (
      SELECT SUM(nh * sigma) AS denom FROM sd
    )
    SELECT sd.o_orderpriority AS priority, CAST(sd.nh AS BIGINT) AS stratum_n,
           ROUND(sd.sigma, 6) AS sigma,
           ROUND(sd.nh * sd.sigma / t.denom, 6) AS alloc_share,
           CAST(floor(1000 * sd.nh * sd.sigma / t.denom) AS BIGINT)
             AS alloc_n_of_1000
    FROM sd CROSS JOIN tot t ORDER BY priority
    """,
)
def neyman_q(spark, sf_dir):
    """Neyman optimal allocation for a stratified sample of n = 1000
    orders by priority: n_h ∝ N_h·σ_h — big AND volatile strata get
    the budget, the design that minimizes the stratified-mean
    variance (vs proportional allocation which ignores σ).  Stratum
    moments are ×100 integer-scaled exact sums; one grouped aggregate
    + a 1-row denominator broadcast; floor() both engines for the
    integer allocation."""
    o = load_table(spark, sf_dir, "orders")
    scaled = F.round(F.col("o_totalprice") * 100).cast("bigint")
    # squared ×100 cents reach ~3e15 per order: the stratum sum passes
    # int64 around 3k orders — accumulate decimal(38,0) ≙ HUGEINT
    cells = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum(scaled).alias("s"),
        F.sum(scaled.cast("decimal(38,0)") * scaled).alias("ss"),
    )
    sigma = (
        F.sqrt(
            (
                F.col("ss")
                - F.col("s").cast("double") * F.col("s") / F.col("nh")
            )
            / (F.col("nh") - 1)
        )
        / 100.0
    )
    sd = cells.select(
        "o_orderpriority", "nh", sigma.alias("sigma")
    )
    tot = sd.agg(F.sum(F.col("nh") * F.col("sigma")).alias("denom"))
    share = F.col("nh") * F.col("sigma") / F.col("denom")
    return (
        sd.join(F.broadcast(tot), F.lit(True))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.col("nh").cast("bigint").alias("stratum_n"),
            F.round("sigma", 6).alias("sigma"),
            F.round(share, 6).alias("alloc_share"),
            F.floor(1000 * share).cast("bigint").alias("alloc_n_of_1000"),
        )
        .orderBy("priority")
    )


@query(
    "t_closeness_report_orders",
    """
    WITH j AS (
      SELECT o.o_orderstatus, o.o_orderpriority,
             CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS order_year,
             c.c_mktsegment AS seg
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), grp AS (
      SELECT o_orderstatus, o_orderpriority, order_year, COUNT(*) AS gn
      FROM j GROUP BY 1, 2, 3
    ), segs AS (
      SELECT seg, COUNT(*) AS sc FROM j GROUP BY seg
    ), n AS (SELECT COUNT(*) AS n FROM j),
    cells AS (
      SELECT j.o_orderstatus, j.o_orderpriority, j.order_year, j.seg,
             COUNT(*) AS c
      FROM j GROUP BY 1, 2, 3, 4
    ), dense AS (
      SELECT g.o_orderstatus, g.o_orderpriority, g.order_year, g.gn,
             s.seg, s.sc, COALESCE(ce.c, 0) AS c
      FROM grp g CROSS JOIN segs s
      LEFT JOIN cells ce
        ON ce.o_orderstatus = g.o_orderstatus
       AND ce.o_orderpriority = g.o_orderpriority
       AND ce.order_year = g.order_year AND ce.seg = s.seg
    ), tv AS (
      SELECT o_orderstatus, o_orderpriority, order_year,
             ANY_VALUE(gn) AS gn,
             0.5 * SUM(ABS(CAST(c AS DOUBLE) / gn
                           - CAST(sc AS DOUBLE) / n.n)) AS tv
      FROM dense CROSS JOIN n
      GROUP BY o_orderstatus, o_orderpriority, order_year, n.n
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           ROUND(MAX(tv), 6) AS max_tv,
           ROUND(AVG(tv), 6) AS avg_tv,
           CAST(SUM(CASE WHEN tv > 0.3 THEN 1 ELSE 0 END) AS BIGINT)
             AS groups_over_03
    FROM tv
    """,
)
def t_closeness_q(spark, sf_dir):
    """t-closeness privacy report — the check k-anonymity and
    l-diversity both miss: a group can be large AND diverse yet still
    leak if its sensitive-value DISTRIBUTION (market segment) differs
    sharply from the corpus's.  Total-variation distance per
    quasi-identifier group (status, priority, year) over the dense
    group×segment grid (both dimension-bounded aggregates — the chisq
    cross-join class), reported as max/avg TV and the count of groups
    past t = 0.3.  Integer counts exact until the two ratio
    subtractions."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "o_orderstatus",
        "o_orderpriority",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.col("c_mktsegment").alias("seg"),
    )
    grp = j.groupBy("o_orderstatus", "o_orderpriority", "order_year").agg(
        F.count(F.lit(1)).alias("gn")
    )
    segs = j.groupBy("seg").agg(F.count(F.lit(1)).alias("sc"))
    n = j.agg(F.count(F.lit(1)).alias("n"))
    cells = j.groupBy(
        "o_orderstatus", "o_orderpriority", "order_year", "seg"
    ).agg(F.count(F.lit(1)).alias("c"))
    dense = (
        grp.join(F.broadcast(segs), F.lit(True))
        .join(
            cells,
            ["o_orderstatus", "o_orderpriority", "order_year", "seg"],
            "left",
        )
        .select(
            "o_orderstatus",
            "o_orderpriority",
            "order_year",
            "gn",
            "sc",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    tv = (
        dense.join(F.broadcast(n), F.lit(True))
        .groupBy("o_orderstatus", "o_orderpriority", "order_year", "n")
        .agg(
            F.any_value("gn").alias("gn"),
            (
                0.5
                * F.sum(
                    F.abs(
                        F.col("c").cast("double") / F.col("gn")
                        - F.col("sc").cast("double") / F.col("n")
                    )
                )
            ).alias("tv"),
        )
    )
    return tv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.round(F.max("tv"), 6).alias("max_tv"),
        F.round(F.avg("tv"), 6).alias("avg_tv"),
        F.sum(F.when(F.col("tv") > 0.3, 1).otherwise(0))
        .cast("bigint")
        .alias("groups_over_03"),
    )


@query("best_split_gini_docs", None)  # oracle attached below (composed)
def best_split_gini_q(spark, sf_dir):
    """Decision-stump learner on the classifier score: sweep every
    threshold on the literal 1001-bucket grid, score each split by
    weighted Gini impurity of the two sides, return the argmin (tie →
    lower threshold) with its information... Gini gain over the root.
    The single-feature version of what a tree trainer does per node —
    and the supervised counterpart of best-F1 (which fixes the
    prediction rule; the stump LEARNS which side is positive).  One
    cumulative window over the literal grid; counts exact BIGINTs
    until the impurity ratios."""
    scored = _scored_docs(spark, sf_dir).select(
        "y", _score_bin(F.col("score")).alias("bin")
    )
    g = scored.groupBy("bin").agg(
        F.sum("y").alias("pos"),
        F.sum(F.lit(1) - F.col("y")).alias("neg"),
    )
    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = scored.agg(
        F.sum("y").alias("tp"), F.sum(F.lit(1) - F.col("y")).alias("tn")
    )
    cum = (
        g.select(
            "bin",
            F.coalesce(F.sum("pos").over(w), F.lit(0)).alias("pl"),
            F.coalesce(F.sum("neg").over(w), F.lit(0)).alias("nl"),
        )
        .join(F.broadcast(tot), F.lit(True))
        .filter(
            (F.col("pl") + F.col("nl") > 0)
            & (F.col("tp") - F.col("pl") + F.col("tn") - F.col("nl") > 0)
        )
    )
    ln = F.col("pl") + F.col("nl")
    rp = F.col("tp") - F.col("pl")
    rn_ = F.col("tn") - F.col("nl")
    rtot = rp + rn_
    ntot = F.col("tp") + F.col("tn")
    gini_l = 1.0 - F.pow(F.col("pl") / ln, F.lit(2)) - F.pow(
        F.col("nl") / ln, F.lit(2)
    )
    gini_r = 1.0 - F.pow(rp / rtot, F.lit(2)) - F.pow(rn_ / rtot, F.lit(2))
    gini_w = (ln / ntot) * gini_l + (rtot / ntot) * gini_r
    root = 1.0 - F.pow(F.col("tp") / ntot, F.lit(2)) - F.pow(
        F.col("tn") / ntot, F.lit(2)
    )
    wr = Window.orderBy(gini_w.asc(), F.col("bin").asc())
    return (
        cum.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") == 1)
        .select(
            (F.col("bin").cast("double") / 1000).alias("threshold"),
            F.col("pl").cast("bigint").alias("left_pos"),
            F.col("nl").cast("bigint").alias("left_neg"),
            rp.cast("bigint").alias("right_pos"),
            rn_.cast("bigint").alias("right_neg"),
            F.round(gini_w, 6).alias("gini_split"),
            F.round(root - gini_w, 6).alias("gini_gain"),
        )
    )


O["best_split_gini_docs"] = f"""
    WITH {_scored_sql()}, bb AS (
      SELECT y, CAST(floor(LEAST(GREATEST(score, 0.0), 1.0) * 1000)
                     AS INTEGER) AS bin
      FROM scored
    ), g AS (
      SELECT bin, SUM(y) AS pos, SUM(1 - y) AS neg
      FROM bb GROUP BY bin
    ), tot AS (SELECT SUM(y) AS tp, SUM(1 - y) AS tn FROM bb),
    cum AS (
      SELECT bin,
             COALESCE(SUM(pos) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pl,
             COALESCE(SUM(neg) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nl
      FROM g
    ), spl AS (
      SELECT bin, pl, nl, t.tp - pl AS rp, t.tn - nl AS rn,
             ((pl + nl) / CAST(t.tp + t.tn AS DOUBLE))
               * (1.0 - POWER(pl / CAST(pl + nl AS DOUBLE), 2)
                      - POWER(nl / CAST(pl + nl AS DOUBLE), 2))
             + ((t.tp - pl + t.tn - nl) / CAST(t.tp + t.tn AS DOUBLE))
               * (1.0 - POWER((t.tp - pl)
                              / CAST(t.tp - pl + t.tn - nl AS DOUBLE), 2)
                      - POWER((t.tn - nl)
                              / CAST(t.tp - pl + t.tn - nl AS DOUBLE), 2))
               AS gini_w,
             1.0 - POWER(t.tp / CAST(t.tp + t.tn AS DOUBLE), 2)
                 - POWER(t.tn / CAST(t.tp + t.tn AS DOUBLE), 2) AS root
      FROM cum CROSS JOIN tot t
      WHERE pl + nl > 0 AND t.tp - pl + t.tn - nl > 0
    ), best AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY gini_w ASC, bin ASC) AS r
      FROM spl
    )
    SELECT CAST(bin AS DOUBLE) / 1000 AS threshold,
           CAST(pl AS BIGINT) AS left_pos, CAST(nl AS BIGINT) AS left_neg,
           CAST(rp AS BIGINT) AS right_pos, CAST(rn AS BIGINT) AS right_neg,
           ROUND(gini_w, 6) AS gini_split,
           ROUND(root - gini_w, 6) AS gini_gain
    FROM best WHERE r = 1
    """


@query(
    "markov_next_event_accuracy",
    """
    WITH seq AS (
      SELECT user_id, event_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), tr AS (
      SELECT event_type AS cur, nxt, event_id % 2 AS par
      FROM seq WHERE nxt IS NOT NULL
    ), train AS (
      SELECT cur, nxt, COUNT(*) AS c FROM tr WHERE par = 0
      GROUP BY cur, nxt
    ), pred AS (
      SELECT cur, nxt AS predicted FROM (
        SELECT cur, nxt,
               ROW_NUMBER() OVER (PARTITION BY cur
                                  ORDER BY c DESC, nxt ASC) AS rn
        FROM train
      ) WHERE rn = 1
    ), test AS (
      SELECT cur, nxt FROM tr WHERE par = 1
    )
    SELECT t.cur AS event_type, p.predicted,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           ROUND(AVG(CASE WHEN t.nxt = p.predicted THEN 1.0 ELSE 0.0 END),
                 6) AS accuracy
    FROM test t JOIN pred p USING (cur)
    GROUP BY t.cur, p.predicted ORDER BY event_type
    """,
)
def markov_accuracy_q(spark, sf_dir):
    """Held-out next-event prediction accuracy of the first-order
    Markov chain: train the argmax-next rule on transitions whose
    source event_id is even, score on the odd half — the honest
    "does knowing the current action actually predict the next one"
    eval that the transition matrix and entropy-rate gates only
    describe.  Parity split (not time split) keeps both halves
    covering the full period; deterministic tie-break (count DESC,
    next ASC); everything is grouped aggregates on the
    |states|²-bounded grid after one per-user LEAD."""
    e = load_table(spark, sf_dir, "events")
    seq = e.select(
        "event_id",
        "event_type",
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    tr = seq.select(
        F.col("event_type").alias("cur"),
        "nxt",
        (F.col("event_id") % 2).alias("par"),
    )
    train = (
        tr.filter(F.col("par") == 0)
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wp = Window.partitionBy("cur").orderBy(
        F.col("c").desc(), F.col("nxt").asc()
    )
    pred = (
        train.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("cur", F.col("nxt").alias("predicted"))
    )
    test = tr.filter(F.col("par") == 1).select("cur", "nxt")
    return (
        test.join(F.broadcast(pred), "cur")
        .groupBy(F.col("cur").alias("event_type"), "predicted")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.round(
                F.avg(
                    F.when(
                        F.col("nxt") == F.col("predicted"), 1.0
                    ).otherwise(0.0)
                ),
                6,
            ).alias("accuracy"),
        )
        .orderBy("event_type")
    )


def _truss_round_sql(src: str, n: int) -> str:
    """One k-truss pruning round as a CTE chain over edge set ``src``
    (u < v canonical): orient by (degree, id), enumerate triangles
    via the wedge-close join (the triangle_clustering construction),
    count per-edge support, keep edges in ≥2 triangles (k = 4)."""
    return f"""deg{n} AS MATERIALIZED (
      SELECT id, COUNT(*) AS degree
      FROM (SELECT u AS id FROM {src} UNION ALL SELECT v FROM {src})
      GROUP BY id
    ), o{n} AS MATERIALIZED (
      SELECT CASE WHEN da.degree < db.degree
                    OR (da.degree = db.degree AND e.u < e.v)
                  THEN e.u ELSE e.v END AS lo,
             CASE WHEN da.degree < db.degree
                    OR (da.degree = db.degree AND e.u < e.v)
                  THEN e.v ELSE e.u END AS hi
      FROM {src} e JOIN deg{n} da ON da.id = e.u
                   JOIN deg{n} db ON db.id = e.v
    ), w{n} AS (
      SELECT w1.lo AS x, w1.hi AS y, w2.hi AS z
      FROM o{n} w1 JOIN o{n} w2 ON w1.lo = w2.lo AND w1.hi < w2.hi
    ), tri{n} AS MATERIALIZED (
      SELECT t.x, t.y, t.z FROM w{n} t JOIN {src} c
        ON LEAST(t.y, t.z) = c.u AND GREATEST(t.y, t.z) = c.v
    ), se{n} AS (
      SELECT LEAST(x, y) AS u, GREATEST(x, y) AS v FROM tri{n}
      UNION ALL SELECT LEAST(x, z), GREATEST(x, z) FROM tri{n}
      UNION ALL SELECT LEAST(y, z), GREATEST(y, z) FROM tri{n}
    ), sup{n} AS (
      SELECT u, v, COUNT(*) AS sup FROM se{n} GROUP BY u, v
    ), keep{n} AS MATERIALIZED (
      SELECT u, v FROM sup{n} WHERE sup >= 2
    )"""


@query(
    "ktruss_prune_suppliers",
    f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ), co AS (
      SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(*) AS w
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY a.l_suppkey, b.l_suppkey
    ), e0 AS MATERIALIZED (
      SELECT u, v FROM (
        SELECT u, v, ROW_NUMBER() OVER (
          ORDER BY w DESC, u ASC, v ASC) AS rn
        FROM co
      ) WHERE rn <= 500
    ), {_truss_round_sql("e0", 1)}, {_truss_round_sql("keep1", 2)}
    SELECT 1 AS round,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e0) AS edges_in,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM keep1) AS edges_kept,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM tri1) AS triangles
    UNION ALL
    SELECT 2,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM keep1),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM keep2),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM tri2)
    ORDER BY round
    """,
)
def ktruss_q(spark, sf_dir):
    """Bounded-round 4-truss pruning of the TOP-500 supplier co-order
    similarity graph: repeatedly drop edges supported by fewer than 2
    triangles — the cohesion filter that strips tree-like fringe and
    keeps only community-grade structure (the k-core's stricter
    sibling: cores count neighbors, trusses count closed triangles).
    The edge set is the top-500 co-order pairs (weight DESC, pair
    ASC) — thresholding/top-k BEFORE trussing is the standard
    similarity-graph practice AND the scale bound: the raw co-order
    graph goes near-complete as orders grow (measured: the unthresh-
    olded wedge join OOMs at sf0.1), while the top-k subgraph keeps
    every round O(k^1.5).  Two unrolled rounds (the bounded-iteration
    LPA/BFS contract), each a degree-oriented wedge-close triangle
    enumeration + per-edge support count; reports
    edges-in/kept/triangles per round."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    ).distinct()
    a, b = li.alias("a"), li.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # top-500 via orderBy+limit (TakeOrderedAndProject): per-partition
    # parallel top-k + driver merge instead of the row_number window's
    # single-partition sort of the whole co-order pair frame (the
    # (w, u, v) order is total, so the selected set is identical)
    e0 = checkpoint(
        co.orderBy(F.col("w").desc(), F.col("u").asc(), F.col("v").asc())
        .limit(500)
        .select("u", "v")
    )

    def truss_round(e):
        deg = (
            e.select(F.col("u").alias("id"))
            .unionAll(e.select(F.col("v").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        da = deg.select(F.col("id").alias("u"), F.col("degree").alias("du"))
        db = deg.select(F.col("id").alias("v"), F.col("degree").alias("dv"))
        ed = e.join(da, "u").join(db, "v")
        first_lo = (F.col("du") < F.col("dv")) | (
            (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
        )
        o = checkpoint(
            ed.select(
                F.when(first_lo, F.col("u")).otherwise(F.col("v")).alias("lo"),
                F.when(first_lo, F.col("v")).otherwise(F.col("u")).alias("hi"),
            )
        )
        w1, w2 = o.alias("w1"), o.alias("w2")
        wedges = w1.join(
            w2,
            (F.col("w1.lo") == F.col("w2.lo"))
            & (F.col("w1.hi") < F.col("w2.hi")),
        ).select(
            F.col("w1.lo").alias("x"),
            F.col("w1.hi").alias("y"),
            F.col("w2.hi").alias("z"),
        )
        tri = checkpoint(
            wedges.join(
                e,
                (F.least("y", "z") == F.col("u"))
                & (F.greatest("y", "z") == F.col("v")),
            ).select("x", "y", "z")
        )
        se = (
            tri.select(
                F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")
            )
            .unionAll(
                tri.select(
                    F.least("x", "z").alias("u"),
                    F.greatest("x", "z").alias("v"),
                )
            )
            .unionAll(
                tri.select(
                    F.least("y", "z").alias("u"),
                    F.greatest("y", "z").alias("v"),
                )
            )
        )
        sup = se.groupBy("u", "v").agg(F.count(F.lit(1)).alias("sup"))
        keep = checkpoint(sup.filter(F.col("sup") >= 2).select("u", "v"))
        return tri, keep

    tri1, keep1 = truss_round(e0)
    tri2, keep2 = truss_round(keep1)
    # count each frame exactly once — keep1 feeds two report cells and
    # each .count() is a separate Spark job
    n_e0, n_keep1, n_tri1 = e0.count(), keep1.count(), tri1.count()
    counts = [
        (1, n_e0, n_keep1, n_tri1),
        (2, n_keep1, keep2.count(), tri2.count()),
    ]
    return spark.createDataFrame(
        counts, "round bigint, edges_in bigint, edges_kept bigint, triangles bigint"
    ).orderBy("round")


@query("brier_decomposition_quality_docs", None)  # oracle attached below
def brier_decomp_q(spark, sf_dir):
    """Murphy decomposition of the Brier score for the hashed
    classifier: ``brier = reliability − resolution + uncertainty``
    over a 10-bucket calibration table — the companion readout to
    calibration_ece_docs (ECE says HOW FAR the reliability diagram
    is from the diagonal; the decomposition says how much of the
    error is mis-calibration vs the classifier simply not separating
    the classes vs irreducible base-rate noise).  Scores are clipped
    to the literal 1001-bucket grid first so every moment
    (Σbin, Σbin², Σbin·y) is an exact BIGINT — the bounded-sweep
    contract of the eval suite; the 10-bucket fold and 1-row totals
    are the only non-distributed steps."""
    scored = _scored_docs(spark, sf_dir).select(
        "y", _score_bin(F.col("score")).alias("bin")
    )
    g = scored.groupBy(
        F.least(F.floor(F.col("bin") / 100), F.lit(9))
        .cast("int")
        .alias("cb")
    ).agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum("y").alias("sy"),
        F.sum("bin").alias("sb"),
        F.sum(F.col("bin").cast("bigint") * F.col("bin")).alias("sbb"),
        F.sum(F.col("bin").cast("bigint") * F.col("y")).alias("sby"),
    )
    tot = scored.agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy_t")
    )
    j = g.join(F.broadcast(tot), F.lit(True))
    conf = F.col("sb").cast("double") / (F.lit(1000.0) * F.col("nb"))
    acc = F.col("sy").cast("double") / F.col("nb")
    ybar = F.col("sy_t").cast("double") / F.col("n")
    av_ybar = F.any_value("sy_t").cast("double") / F.any_value("n")
    return j.agg(
        F.any_value("n").cast("bigint").alias("n_docs"),
        F.round(
            (
                F.sum("sbb").cast("double") / 1e6
                - F.lit(2.0) * F.sum("sby").cast("double") / 1e3
                + F.any_value("sy_t")
            )
            / F.any_value("n"),
            6,
        ).alias("brier"),
        F.round(
            F.sum(F.col("nb") * (conf - acc) * (conf - acc))
            / F.any_value("n"),
            6,
        ).alias("reliability"),
        F.round(
            F.sum(F.col("nb") * (acc - ybar) * (acc - ybar))
            / F.any_value("n"),
            6,
        ).alias("resolution"),
        F.round(av_ybar * (F.lit(1.0) - av_ybar), 6).alias("uncertainty"),
    )


O["brier_decomposition_quality_docs"] = f"""
    WITH {_scored_sql()}, b AS (
      SELECT y, CAST(floor(LEAST(GREATEST(score, 0.0), 1.0) * 1000)
                     AS INTEGER) AS bin
      FROM scored
    ), g AS (
      SELECT LEAST(CAST(floor(bin / 100) AS INTEGER), 9) AS cb,
             COUNT(*) AS nb, SUM(y) AS sy, SUM(bin) AS sb,
             SUM(CAST(bin AS BIGINT) * bin) AS sbb,
             SUM(CAST(bin AS BIGINT) * y) AS sby
      FROM b GROUP BY 1
    ), tot AS (
      SELECT COUNT(*) AS n, SUM(y) AS sy_t FROM b
    ), gg AS (
      SELECT nb, sbb, sby,
             CAST(sb AS DOUBLE) / (1000.0 * nb) AS conf,
             CAST(sy AS DOUBLE) / nb AS acc
      FROM g
    )
    SELECT CAST(tot.n AS BIGINT) AS n_docs,
           ROUND((CAST(SUM(sbb) AS DOUBLE) / 1e6
                  - 2.0 * CAST(SUM(sby) AS DOUBLE) / 1e3
                  + tot.sy_t) / tot.n, 6) AS brier,
           ROUND(SUM(nb * (conf - acc) * (conf - acc)) / tot.n, 6)
             AS reliability,
           ROUND(SUM(nb * (acc - CAST(tot.sy_t AS DOUBLE) / tot.n)
                        * (acc - CAST(tot.sy_t AS DOUBLE) / tot.n))
                 / tot.n, 6) AS resolution,
           ROUND((CAST(tot.sy_t AS DOUBLE) / tot.n)
                 * (1.0 - CAST(tot.sy_t AS DOUBLE) / tot.n), 6)
             AS uncertainty
    FROM gg, tot GROUP BY tot.n, tot.sy_t
    """


@query(
    "conformal_interval_events",
    """
    WITH e AS (
      SELECT event_type, value, CAST(event_id AS BIGINT) % 3 AS fold
      FROM events
    ), fit AS (
      SELECT event_type,
             CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS DOUBLE)
               / (10000.0 * COUNT(*)) AS pred
      FROM e WHERE fold = 0 GROUP BY event_type
    ), calib AS (
      SELECT e.event_type, quantile_cont(abs(value - pred), 0.9) AS q_hat
      FROM e JOIN fit USING (event_type)
      WHERE fold = 1 GROUP BY e.event_type
    )
    SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_test,
           ROUND(ANY_VALUE(q_hat), 6) AS q_hat,
           ROUND(AVG(CASE WHEN abs(value - pred) <= q_hat
                          THEN 1.0 ELSE 0.0 END), 6) AS coverage
    FROM e JOIN fit USING (event_type) JOIN calib USING (event_type)
    WHERE fold = 2 GROUP BY e.event_type ORDER BY event_type
    """,
)
def conformal_q(spark, sf_dir):
    """Split-conformal prediction intervals with honest coverage: a
    three-way event_id-parity split (fold 0 fits the per-type mean
    predictor, fold 1 calibrates the 90th-percentile absolute
    residual q̂, fold 2 measures empirical coverage of pred ± q̂) —
    the distribution-free uncertainty wrapper every point forecast
    should ship with, and the eval harness for it.  The predictor
    mean is an exact ×1e4 integer sum; q̂ is the proven
    percentile ≡ quantile_cont parity; coverage is an average of
    exact 0/1 indicators.  Everything is per-event_type grouped —
    no global state beyond broadcast-joined per-type scalars."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", "value", (F.col("event_id") % 3).alias("fold")
    )
    fit = (
        e.filter(F.col("fold") == 0)
        .groupBy("event_type")
        .agg(
            (
                F.sum(
                    F.round(F.col("value") * 10000).cast("bigint")
                ).cast("double")
                / (F.lit(10000.0) * F.count(F.lit(1)))
            ).alias("pred")
        )
    )
    calib = (
        e.filter(F.col("fold") == 1)
        .join(F.broadcast(fit), "event_type")
        .groupBy("event_type")
        .agg(
            F.expr("percentile(abs(value - pred), 0.9)").alias("q_hat")
        )
    )
    test = (
        e.filter(F.col("fold") == 2)
        .join(F.broadcast(fit), "event_type")
        .join(F.broadcast(calib), "event_type")
    )
    return (
        test.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.round(F.any_value("q_hat"), 6).alias("q_hat"),
            F.round(
                F.avg(
                    F.when(
                        F.abs(F.col("value") - F.col("pred"))
                        <= F.col("q_hat"),
                        1.0,
                    ).otherwise(0.0)
                ),
                6,
            ).alias("coverage"),
        )
        .orderBy("event_type")
    )


@query(
    "nelson_aalen_hazard_events",
    """
    WITH bounds AS (
      SELECT MAX(CAST(ts AS DATE)) AS maxd FROM events
    ), p AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             LEAD(CAST(ts AS DATE)) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS nd
      FROM events WHERE event_type = 'purchase'
    ), subj AS (
      SELECT CASE WHEN nd IS NULL THEN datediff('day', d, maxd)
                  ELSE datediff('day', d, nd) END AS life,
             CASE WHEN nd IS NULL THEN 1 ELSE 0 END AS censored
      FROM p, bounds
    ), hist AS (
      SELECT life, COUNT(*) AS n_all, SUM(1 - censored) AS deaths
      FROM subj GROUP BY life
    ), risk AS (
      SELECT life, deaths,
             SUM(n_all) OVER (ORDER BY life DESC
                              ROWS UNBOUNDED PRECEDING) AS at_risk
      FROM hist
    )
    SELECT CAST(life AS BIGINT) AS t_days,
           CAST(at_risk AS BIGINT) AS at_risk,
           CAST(deaths AS BIGINT) AS deaths,
           ROUND(SUM(CAST(deaths AS DOUBLE) / at_risk)
                 OVER (ORDER BY life ROWS UNBOUNDED PRECEDING), 6)
             AS cum_hazard
    FROM risk WHERE deaths > 0 ORDER BY t_days
    """,
)
def nelson_aalen_q(spark, sf_dir):
    """Nelson–Aalen cumulative-hazard estimator over the repurchase
    gaps — Kaplan–Meier's additive sibling: ``H(t) = Σ_{t_i≤t}
    d_i/n_i`` instead of the product-limit survival, the form whose
    increments ARE the discrete hazard and that stays finite when a
    death time wipes the risk set (no ln(0) guard needed at all —
    the reason actuaries plot H, not S, for diagnostics).  Identical
    scale story to the KM gate: one user-partitioned LEAD for gap
    construction, a ≤366-bucket gap histogram, and the at-risk
    reverse cumsum + hazard forward cumsum both run on the bounded
    lifetime grid (cites kaplan_meier_retention_events)."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(F.max(F.to_date("ts")).alias("maxd"))
    wp = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id", F.to_date("ts").alias("d"))
        .withColumn("nd", F.lead("d").over(wp))
    )
    subj = p.join(F.broadcast(bounds), F.lit(True)).select(
        F.when(
            F.col("nd").isNull(), F.datediff(F.col("maxd"), F.col("d"))
        )
        .otherwise(F.datediff(F.col("nd"), F.col("d")))
        .alias("life"),
        F.when(F.col("nd").isNull(), 1).otherwise(0).alias("censored"),
    )
    hist = subj.groupBy("life").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(F.lit(1) - F.col("censored")).alias("deaths"),
    )
    wrev = Window.orderBy(F.col("life").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = hist.withColumn("at_risk", F.sum("n_all").over(wrev)).filter(
        F.col("deaths") > 0
    )
    wfwd = Window.orderBy("life").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return risk.select(
        F.col("life").cast("bigint").alias("t_days"),
        F.col("at_risk").cast("bigint").alias("at_risk"),
        F.col("deaths").cast("bigint").alias("deaths"),
        F.round(
            F.sum(
                F.col("deaths").cast("double") / F.col("at_risk")
            ).over(wfwd),
            6,
        ).alias("cum_hazard"),
    ).orderBy("t_days")


@query(
    "distinct_ngram_diversity_docs",
    r"""
    WITH toks AS MATERIALIZED (
      SELECT source, string_split_regex(lower(trim(text)), '\s+') AS w
      FROM documents
    ), uni AS (
      SELECT source, 1 AS gram_n, unnest(w) AS g FROM toks
    ), ix2 AS (
      SELECT source, w, unnest(range(1, len(w))) AS i FROM toks
    ), bi AS (
      SELECT source, 2 AS gram_n, w[i] || ' ' || w[i + 1] AS g FROM ix2
    ), ix3 AS (
      SELECT source, w, unnest(range(1, len(w) - 1)) AS i FROM toks
    ), tri AS (
      SELECT source, 3 AS gram_n,
             w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS g
      FROM ix3
    ), allg AS (
      SELECT * FROM uni UNION ALL SELECT * FROM bi
      UNION ALL SELECT * FROM tri
    )
    SELECT source, gram_n,
           CAST(COUNT(*) AS BIGINT) AS total,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_grams,
           ROUND(CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*), 6)
             AS ratio
    FROM allg GROUP BY source, gram_n ORDER BY source, gram_n
    """,
)
def distinct_ngram_q(spark, sf_dir):
    """Distinct-n diversity ratios per source (distinct-1/2/3 — Li et
    al. 2016's repetition diagnostic): the share of unigram, bigram
    and trigram occurrences that are unique within each source — the
    standard collapse detector for generated/synthetic corpora
    (dup_ngram_stats profiles which grams repeat; this is the
    corpus-level diversity scalar that trend dashboards track).
    Grams are built positionally from one whitespace split (Spark:
    index-lambda transform over the STAGED token array; DuckDB:
    range-subscript unnest — the _LM_CE_SQL construction), then one
    (source, n)-grouped count + count-distinct; both engines shuffle
    on gram keys, never materializing cross-doc pairs."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("w"),
    )
    uni = toks.select(
        "source", F.lit(1).alias("gram_n"), F.explode("w").alias("g")
    )
    bi = (
        toks.filter(F.size("w") >= 2)
        .select(
            "source",
            F.lit(2).alias("gram_n"),
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), i -> "
                    "concat(element_at(w, i), ' ', element_at(w, i + 1)))"
                )
            ).alias("g"),
        )
    )
    tri = (
        toks.filter(F.size("w") >= 3)
        .select(
            "source",
            F.lit(3).alias("gram_n"),
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 2), i -> "
                    "concat(element_at(w, i), ' ', element_at(w, i + 1),"
                    " ' ', element_at(w, i + 2)))"
                )
            ).alias("g"),
        )
    )
    allg = uni.unionByName(bi).unionByName(tri)
    return (
        allg.groupBy("source", "gram_n")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("total"),
            F.countDistinct("g").cast("bigint").alias("distinct_grams"),
        )
        .withColumn(
            "ratio",
            F.round(
                F.col("distinct_grams").cast("double") / F.col("total"), 6
            ),
        )
        .orderBy("source", "gram_n")
    )


@query(
    "hits_authority_suppliers",
    """
    WITH e AS MATERIALIZED (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ), a1 AS (
      SELECT s, COUNT(*) AS a FROM e GROUP BY s
    ), h1 AS (
      SELECT e.p, SUM(a1.a) AS h FROM e JOIN a1 USING (s) GROUP BY e.p
    ), a2 AS (
      SELECT e.s, SUM(h1.h) AS a FROM e JOIN h1 USING (p) GROUP BY e.s
    ), norm AS (
      SELECT SUM(a) AS z FROM a2
    )
    SELECT s AS suppkey, CAST(a AS BIGINT) AS score_raw,
           ROUND(CAST(a AS DOUBLE) / z, 6) AS authority
    FROM a2, norm ORDER BY a DESC, s LIMIT 15
    """,
)
def hits_q(spark, sf_dir):
    """HITS hubs-and-authorities on the bipartite part→supplier graph
    (Kleinberg 1999), two unrolled power-iteration rounds with the
    normalization DEFERRED to the output: starting from unit hubs,
    authority₁ = in-degree, hub₁(p) = Σ authority₁ over p's
    suppliers, authority₂(s) = Σ hub₁ over s's parts — every
    intermediate is an exact BIGINT (deferred L1 normalization
    rescales all scores identically, so the round-2 authority
    RANKING is the true HITS ranking with zero float drift; divide
    by Σ once at the end for display).  PageRank ranks by random-walk
    mass; HITS separates 'stocks many parts' (authority) from
    'supplies the well-stocked parts' (mutual reinforcement).  Two
    key-partitioned join+agg rounds, O(E) exchange each, distributed
    top-15 tail."""
    # the distinct edge list feeds all three power-round joins and a2
    # feeds the norm fold + the report — cut lineages so the distinct
    # runs once (6 parquet scans in the pre-cut plan)
    li = checkpoint(
        load_table(spark, sf_dir, "lineitem").select(
            F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
        ).distinct()
    )
    a1 = li.groupBy("s").agg(F.count(F.lit(1)).alias("a"))
    h1 = (
        li.join(a1, "s")
        .groupBy("p")
        .agg(F.sum("a").alias("h"))
    )
    a2 = checkpoint(
        li.join(h1, "p")
        .groupBy("s")
        .agg(F.sum("h").alias("a"))
    )
    norm = a2.agg(F.sum("a").alias("z"))
    return (
        a2.join(F.broadcast(norm), F.lit(True))
        .orderBy(F.col("a").desc(), F.col("s"))
        .limit(15)
        .select(
            F.col("s").alias("suppkey"),
            F.col("a").cast("bigint").alias("score_raw"),
            F.round(F.col("a").cast("double") / F.col("z"), 6).alias(
                "authority"
            ),
        )
    )


@query(
    "fano_factor_users_events",
    """
    WITH bounds AS (
      SELECT datediff('day', MIN(CAST(ts AS DATE)),
                      MAX(CAST(ts AS DATE))) + 1 AS n_days
      FROM events
    ), daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d, COUNT(*) AS c
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ), pu AS (
      SELECT user_id, SUM(c) AS tot,
             SUM(CAST(c AS HUGEINT) * c) AS ssq,
             COUNT(*) AS active_days
      FROM daily GROUP BY user_id
    )
    SELECT user_id, CAST(tot AS BIGINT) AS n_events,
           CAST(active_days AS BIGINT) AS active_days,
           ROUND(CAST(n_days * ssq - CAST(tot AS HUGEINT) * tot AS DOUBLE)
                 / (CAST(n_days AS DOUBLE) * tot), 6) AS fano
    FROM pu, bounds
    ORDER BY CAST(n_days * ssq - CAST(tot AS HUGEINT) * tot AS DOUBLE)
             / (CAST(n_days AS DOUBLE) * tot) DESC, user_id
    LIMIT 20
    """,
)
def fano_q(spark, sf_dir):
    """Fano factor (variance-to-mean ratio of DAILY event counts,
    zeros included) per user, top-20 burstiest: Poisson arrivals give
    Fano = 1, so ≫1 flags batchy/scripted/bot-like accounts where
    inter-arrival moments (interarrival_stats_events) only see the
    active periods.  The day grid is NEVER materialized: with Z zero
    days, mean = tot/D and Σ(c−μ)² over all D days reduces to
    (D·Σc² − tot²)/D from active-day moments alone — population
    variance from two exact integers (widened decimal/HUGEINT, the
    Spearman contract) and the global day-count scalar.  Ranking key
    is the integer-derived double itself, not its rounding; ties
    break on user_id; distributed top-20 tail."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        (
            F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))) + 1
        ).alias("n_days")
    )
    daily = e.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("c")
    )
    pu = daily.groupBy("user_id").agg(
        F.sum("c").alias("tot"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("ssq"),
        F.count(F.lit(1)).alias("active_days"),
    )
    j = pu.join(F.broadcast(bounds), F.lit(True))
    fano = (
        F.col("n_days") * F.col("ssq")
        - F.col("tot").cast("decimal(38,0)") * F.col("tot")
    ).cast("double") / (F.col("n_days").cast("double") * F.col("tot"))
    return (
        j.withColumn("_f", fano)
        .orderBy(F.col("_f").desc(), F.col("user_id"))
        .limit(20)
        .select(
            "user_id",
            F.col("tot").cast("bigint").alias("n_events"),
            F.col("active_days").cast("bigint").alias("active_days"),
            F.round(F.col("_f"), 6).alias("fano"),
        )
    )


@query(
    "did_lift_events",
    """
    WITH bounds AS (
      SELECT MIN(CAST(ts AS DATE)) AS mind, MAX(CAST(ts AS DATE)) AS maxd
      FROM events
    ), cells AS (
      SELECT CAST(user_id AS BIGINT) % 2 AS grp,
             CASE WHEN CAST(ts AS DATE) >= mind
                       + CAST((datediff('day', mind, maxd) + 1) / 2
                              AS INTEGER)
                  THEN 1 ELSE 0 END AS post,
             CAST(ROUND(value * 10000) AS BIGINT) AS v
      FROM events, bounds
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_events,
      ROUND(CAST(SUM(CASE WHEN grp = 1 AND post = 0 THEN v END) AS DOUBLE)
            / (10000.0 * COUNT(CASE WHEN grp = 1 AND post = 0 THEN 1 END)),
            6) AS mean_t_pre,
      ROUND(CAST(SUM(CASE WHEN grp = 1 AND post = 1 THEN v END) AS DOUBLE)
            / (10000.0 * COUNT(CASE WHEN grp = 1 AND post = 1 THEN 1 END)),
            6) AS mean_t_post,
      ROUND(CAST(SUM(CASE WHEN grp = 0 AND post = 0 THEN v END) AS DOUBLE)
            / (10000.0 * COUNT(CASE WHEN grp = 0 AND post = 0 THEN 1 END)),
            6) AS mean_c_pre,
      ROUND(CAST(SUM(CASE WHEN grp = 0 AND post = 1 THEN v END) AS DOUBLE)
            / (10000.0 * COUNT(CASE WHEN grp = 0 AND post = 1 THEN 1 END)),
            6) AS mean_c_post,
      ROUND((CAST(SUM(CASE WHEN grp = 1 AND post = 1 THEN v END) AS DOUBLE)
             / (10000.0 * COUNT(CASE WHEN grp = 1 AND post = 1 THEN 1 END))
             - CAST(SUM(CASE WHEN grp = 1 AND post = 0 THEN v END)
                    AS DOUBLE)
             / (10000.0 * COUNT(CASE WHEN grp = 1 AND post = 0 THEN 1 END)))
            - (CAST(SUM(CASE WHEN grp = 0 AND post = 1 THEN v END)
                    AS DOUBLE)
               / (10000.0 * COUNT(CASE WHEN grp = 0 AND post = 1 THEN 1 END))
               - CAST(SUM(CASE WHEN grp = 0 AND post = 0 THEN v END)
                      AS DOUBLE)
               / (10000.0
                  * COUNT(CASE WHEN grp = 0 AND post = 0 THEN 1 END))),
            6) AS did
    FROM cells
    """,
)
def did_q(spark, sf_dir):
    """Difference-in-differences estimator on the CUPED split (treat =
    user_id parity, period = observation-window midpoint): DiD =
    (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre) —
    the quasi-experimental lift estimate that survives a level shift
    between arms because each arm differences out its own baseline
    (CUPED reduces variance of a post-only readout; DiD removes
    pre-existing bias).  All four cell means come from exact ×1e4
    integer sums in ONE conditional-aggregate pass over events —
    zero joins, one shuffle, a single output row."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.to_date("ts")).alias("mind"),
        F.max(F.to_date("ts")).alias("maxd"),
    )
    cut = F.date_add(
        F.col("mind"),
        F.floor(
            (F.datediff(F.col("maxd"), F.col("mind")) + 1) / 2
        ).cast("int"),
    )
    cells = e.join(F.broadcast(bounds), F.lit(True)).select(
        (F.col("user_id") % 2).alias("grp"),
        F.when(F.to_date("ts") >= cut, 1).otherwise(0).alias("post"),
        F.round(F.col("value") * 10000).cast("bigint").alias("v"),
    )

    def cell_mean(g, p):
        cond = (F.col("grp") == g) & (F.col("post") == p)
        return F.sum(F.when(cond, F.col("v"))).cast("double") / (
            F.lit(10000.0) * F.count(F.when(cond, F.lit(1)))
        )

    return cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(cell_mean(1, 0), 6).alias("mean_t_pre"),
        F.round(cell_mean(1, 1), 6).alias("mean_t_post"),
        F.round(cell_mean(0, 0), 6).alias("mean_c_pre"),
        F.round(cell_mean(0, 1), 6).alias("mean_c_post"),
        F.round(
            (cell_mean(1, 1) - cell_mean(1, 0))
            - (cell_mean(0, 1) - cell_mean(0, 0)),
            6,
        ).alias("did"),
    )


@query(
    "hill_diversity_docs",
    r"""
    WITH cnt AS (
      SELECT source, g, COUNT(*) AS c
      FROM (SELECT source,
                   unnest(string_split_regex(lower(trim(text)), '\s+')) AS g
            FROM documents)
      GROUP BY source, g
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS richness,
           ROUND(exp(ln(CAST(SUM(c) AS DOUBLE))
                     - SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
                       / SUM(c)), 4) AS hill_shannon,
           ROUND(CAST(SUM(c) AS DOUBLE) * SUM(c)
                 / CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE), 4)
             AS hill_simpson
    FROM cnt GROUP BY source ORDER BY source
    """,
)
def hill_q(spark, sf_dir):
    """Hill-number diversity profile of each source's token
    distribution — the three effective-vocabulary sizes ecology
    settled on: q=0 richness (raw vocab), q=1 exp(Shannon entropy)
    (typical-token vocabulary), q=2 inverse Simpson (dominant-token
    vocabulary).  A source whose richness is huge but whose hill₂ is
    tiny is boilerplate wearing a long tail — the single-number
    comparison Zipf slopes and Heaps curves only show graphically.
    One gram-keyed count shuffle, then per-source folds: Σc and Σc²
    exact integers (HUGEINT/decimal widened), the entropy term via
    the proven ln/exp parity; hill₁ = exp(ln N − Σc·ln c / N)
    algebraically avoids per-type p·ln p underflow."""
    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select(
            "source",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("g"),
        )
        .groupBy("source", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c")
    return (
        cnt.groupBy("source")
        .agg(
            n.cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("richness"),
            F.round(
                F.exp(
                    F.log(n.cast("double"))
                    - F.sum(
                        F.col("c").cast("double")
                        * F.log(F.col("c").cast("double"))
                    )
                    / n
                ),
                4,
            ).alias("hill_shannon"),
            F.round(
                n.cast("double")
                * n
                / F.sum(
                    F.col("c").cast("decimal(38,0)") * F.col("c")
                ).cast("double"),
                4,
            ).alias("hill_simpson"),
        )
        .orderBy("source")
    )


@query(
    "group_sequential_monitor_events",
    """
    WITH cells AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(user_id AS BIGINT) % 2 AS grp,
             CAST(ROUND(value * 10000) AS BIGINT) AS v
      FROM events
    ), daily AS (
      SELECT d,
             COUNT(CASE WHEN grp = 1 THEN 1 END) AS nt_d,
             COUNT(CASE WHEN grp = 0 THEN 1 END) AS nc_d,
             COALESCE(SUM(CASE WHEN grp = 1 THEN v END), 0) AS st_d,
             COALESCE(SUM(CASE WHEN grp = 0 THEN v END), 0) AS sc_d,
             COALESCE(SUM(CASE WHEN grp = 1
                               THEN CAST(v AS HUGEINT) * v END), 0) AS qt_d,
             COALESCE(SUM(CASE WHEN grp = 0
                               THEN CAST(v AS HUGEINT) * v END), 0) AS qc_d
      FROM cells GROUP BY d
    ), cum AS (
      SELECT d,
             SUM(nt_d) OVER w AS nt, SUM(nc_d) OVER w AS nc,
             SUM(st_d) OVER w AS st, SUM(sc_d) OVER w AS sc,
             SUM(qt_d) OVER w AS qt, SUM(qc_d) OVER w AS qc
      FROM daily
      WINDOW w AS (ORDER BY d ROWS UNBOUNDED PRECEDING)
    ), z AS (
      SELECT d, nt, nc,
             (CAST(st AS DOUBLE) / (10000.0 * nt)
              - CAST(sc AS DOUBLE) / (10000.0 * nc))
             / sqrt((CAST(qt AS DOUBLE) / 1e8
                     - nt * (CAST(st AS DOUBLE) / (10000.0 * nt))
                          * (CAST(st AS DOUBLE) / (10000.0 * nt)))
                    / (nt - 1) / nt
                    + (CAST(qc AS DOUBLE) / 1e8
                       - nc * (CAST(sc AS DOUBLE) / (10000.0 * nc))
                            * (CAST(sc AS DOUBLE) / (10000.0 * nc)))
                      / (nc - 1) / nc) AS zz
      FROM cum WHERE nt >= 2 AND nc >= 2
    )
    SELECT d, CAST(nt AS BIGINT) AS n_treat, CAST(nc AS BIGINT) AS n_ctrl,
           ROUND(zz, 6) AS z,
           CAST(CASE WHEN abs(zz) > 2.413 THEN 1 ELSE 0 END AS INTEGER)
             AS crossed
    FROM z ORDER BY d
    """,
)
def group_seq_q(spark, sf_dir):
    """Group-sequential experiment monitoring: the cumulative Welch
    z-statistic of treatment-vs-control mean value after EACH day of
    the experiment, flagged against a Pocock-style constant boundary
    (2.413 — the 5%-overall level for ~daily looks; the fixed-horizon
    1.96 is invalid under continuous peeking, the single most common
    A/B-testing error).  Day-level moment deltas (n, Σv, Σv² — ×1e4
    integers, squares HUGEINT/decimal-widened) are the ONLY things
    computed from events; the cumulative windows, Welch variances and
    boundary checks all run on the ≤observation-days grid, so the
    monitor costs one grouped pass regardless of corpus size."""
    from ..operators.profile import (
        experiment_daily_moments,
        sequential_z_report,
    )

    e = load_table(spark, sf_dir, "events")
    return sequential_z_report(experiment_daily_moments(e))


@query(
    "negbin_overdispersion_events",
    """
    WITH bounds AS (
      SELECT datediff('day', MIN(CAST(ts AS DATE)),
                      MAX(CAST(ts AS DATE))) + 1 AS nd
      FROM events
    ), daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS c
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), pt AS (
      SELECT event_type, SUM(c) AS tot,
             SUM(CAST(c AS HUGEINT) * c) AS ssq
      FROM daily GROUP BY event_type
    )
    SELECT event_type, CAST(nd AS BIGINT) AS n_days,
           ROUND(CAST(tot AS DOUBLE) / nd, 6) AS mean_daily,
           ROUND(CAST(nd * ssq - CAST(tot AS HUGEINT) * tot AS DOUBLE)
                 / (CAST(nd AS DOUBLE) * tot), 6) AS vmr,
           CASE WHEN CAST(nd * ssq - CAST(tot AS HUGEINT) * tot AS DOUBLE)
                     / (CAST(nd AS DOUBLE) * nd) > CAST(tot AS DOUBLE) / nd
                THEN ROUND((CAST(tot AS DOUBLE) / nd)
                           * (CAST(tot AS DOUBLE) / nd)
                           / (CAST(nd * ssq - CAST(tot AS HUGEINT) * tot
                                   AS DOUBLE) / (CAST(nd AS DOUBLE) * nd)
                              - CAST(tot AS DOUBLE) / nd), 6)
           END AS nb_r
    FROM pt, bounds ORDER BY event_type
    """,
)
def negbin_q(spark, sf_dir):
    """Negative-binomial overdispersion fit of each event type's
    daily-count series (zeros included algebraically, the Fano-gate
    fold): variance-to-mean ratio (Poisson = 1) plus the
    method-of-moments NB size parameter r = μ²/(σ² − μ) — the number
    a capacity planner needs to set tail quantiles when arrivals are
    burstier than Poisson (NULL when the series is UNDER-dispersed
    and NB doesn't apply — the engine-portable guard, no fabricated
    r).  Population variance from two exact integers per type:
    σ² = (D·Σc² − tot²)/D² with HUGEINT/decimal-widened squares and
    the 1-row day-count scalar broadcast."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        (
            F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))) + 1
        ).alias("nd")
    )
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("c")
    )
    pt = daily.groupBy("event_type").agg(
        F.sum("c").alias("tot"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("ssq"),
    )
    j = pt.join(F.broadcast(bounds), F.lit(True))
    mean = F.col("tot").cast("double") / F.col("nd")
    wide = (
        F.col("nd") * F.col("ssq")
        - F.col("tot").cast("decimal(38,0)") * F.col("tot")
    ).cast("double")
    var = wide / (F.col("nd").cast("double") * F.col("nd"))
    vmr = wide / (F.col("nd").cast("double") * F.col("tot"))
    return j.select(
        "event_type",
        F.col("nd").cast("bigint").alias("n_days"),
        F.round(mean, 6).alias("mean_daily"),
        F.round(vmr, 6).alias("vmr"),
        F.when(
            var > mean, F.round(mean * mean / (var - mean), 6)
        ).alias("nb_r"),
    ).orderBy("event_type")


@query(
    "peak_concurrency_events",
    """
    WITH g AS (
      SELECT user_id, epoch_us(ts) AS tu,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, tu,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY tu
                               ROWS UNBOUNDED PRECEDING) AS seq
      FROM g
    ), sess AS (
      SELECT MIN(tu) AS su, MAX(tu) + 1800000000 AS eu
      FROM s GROUP BY user_id, seq
    ), span AS (
      SELECT su, eu, unnest(range(CAST(floor(su / 86400000000.0) AS BIGINT),
                                  CAST(floor((eu - 1) / 86400000000.0)
                                       AS BIGINT) + 1)) AS k
      FROM sess
    ), pts AS (
      SELECT k, GREATEST(su, k * 86400000000) AS t, 1 AS delta FROM span
      UNION ALL
      SELECT k, LEAST(eu, (k + 1) * 86400000000) AS t, -1 AS delta
      FROM span
    ), run AS (
      SELECT k, delta,
             SUM(delta) OVER (PARTITION BY k ORDER BY t, delta
                              ROWS UNBOUNDED PRECEDING) AS running
      FROM pts
    )
    SELECT DATE '1970-01-01' + CAST(k AS INTEGER) AS day,
           CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sessions,
           CAST(MAX(running) AS BIGINT) AS peak_concurrent
    FROM run GROUP BY k ORDER BY day
    """,
)
def peak_concurrency_q(spark, sf_dir):
    """Peak concurrent active sessions per day — the load-profile
    number capacity is provisioned against (interval_union measures
    covered TIME, this measures simultaneous DEMAND).  Sessions are
    the 30-min-gap sessionization with a 30-min activity TTL
    (end = last event + 30 min, half-open); each session explodes
    into the ≤2-3 days it spans with µs-exact clipped endpoints, and
    each day's sweep is the classic +1/−1 running sum with releases
    ordered before arrivals at equal instants (half-open intervals
    never self-overlap).  Everything is integer microseconds; the
    sweep windows are DAY-partitioned (never a global sort), so the
    plan scales by adding days, not by widening a partition."""
    ev = load_table(spark, sf_dir, "events")
    wp = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id", "event_id", "ts", epoch_us(F.col("ts")).alias("tu")
    ).withColumn(
        "is_new",
        F.when(
            F.lag("tu").over(wp).isNull()
            | (F.col("tu") - F.lag("tu").over(wp) > 1800000000),
            1,
        ).otherwise(0),
    )
    wc = Window.partitionBy("user_id").orderBy("tu").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = g.withColumn("seq", F.sum("is_new").over(wc))
    sess = s.groupBy("user_id", "seq").agg(
        F.min("tu").alias("su"),
        (F.max("tu") + 1800000000).alias("eu"),
    )
    day_us = 86400000000
    span = sess.select(
        "su",
        "eu",
        F.explode(
            F.sequence(
                F.floor(F.col("su") / day_us),
                F.floor((F.col("eu") - 1) / day_us),
            )
        ).alias("k"),
    )
    pts = span.select(
        "k",
        F.greatest(F.col("su"), F.col("k") * day_us).alias("t"),
        F.lit(1).alias("delta"),
    ).unionAll(
        span.select(
            "k",
            F.least(F.col("eu"), (F.col("k") + 1) * day_us).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    wk = Window.partitionBy("k").orderBy("t", "delta").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = pts.withColumn("running", F.sum("delta").over(wk))
    return (
        run.groupBy("k")
        .agg(
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_sessions"),
            F.max("running").cast("bigint").alias("peak_concurrent"),
        )
        .select(
            F.date_add(
                F.lit("1970-01-01").cast("date"), F.col("k").cast("int")
            ).alias("day"),
            "n_sessions",
            "peak_concurrent",
        )
        .orderBy("day")
    )


@query(
    "laspeyres_price_index_lineitem",
    """
    WITH py AS (
      SELECT l_partkey AS part, year(l_shipdate) AS yr,
             SUM(CAST(ROUND(l_extendedprice / l_quantity * 1000000)
                      AS BIGINT)) AS sp,
             COUNT(*) AS cnt,
             SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS q
      FROM lineitem GROUP BY l_partkey, year(l_shipdate)
    ), base_yr AS (
      SELECT MIN(yr) AS y0 FROM py
    ), base AS (
      SELECT part, CAST(sp AS DOUBLE) / cnt AS p0, q AS q0
      FROM py, base_yr WHERE yr = y0
    ), num AS (
      SELECT py.yr, COUNT(*) AS n_parts,
             SUM(CAST(py.sp AS DOUBLE) / py.cnt * base.q0) AS v
      FROM py JOIN base ON base.part = py.part
      GROUP BY py.yr
    ), denom AS (
      SELECT SUM(p0 * q0) AS v0 FROM base
    )
    SELECT CAST(yr AS BIGINT) AS yr, CAST(n_parts AS BIGINT) AS n_parts,
           ROUND(v / v0, 6) AS laspeyres_index
    FROM num, denom ORDER BY yr
    """,
)
def laspeyres_q(spark, sf_dir):
    """Laspeyres price index per ship year: Σ p̄_t(part)·q₀(part) /
    Σ p̄₀(part)·q₀(part) — price inflation measured against the BASE
    year's basket, so quantity-mix shifts can't masquerade as price
    moves (the raw avg-unit-price trend conflates the two).  Per-row
    unit prices round to ×1e6 integers at extraction, so each
    part-year mean price is a ratio of exact integers; base-year
    quantities are exact integer weights; the basket join is a plain
    part-keyed equi-join (only base-year parts participate, per the
    fixed-basket definition) and the denominator rides a 1-row
    broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    py = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.year("l_shipdate").alias("yr"),
    ).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") / F.col("l_quantity") * 1000000
            ).cast("bigint")
        ).alias("sp"),
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias("q"),
    )
    base_yr = py.agg(F.min("yr").alias("y0"))
    base = (
        py.join(F.broadcast(base_yr), F.lit(True))
        .filter(F.col("yr") == F.col("y0"))
        .select(
            "part",
            (F.col("sp").cast("double") / F.col("cnt")).alias("p0"),
            F.col("q").alias("q0"),
        )
    )
    num = (
        py.join(base.select("part", "q0", "p0"), "part")
        .groupBy("yr")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(
                F.col("sp").cast("double") / F.col("cnt") * F.col("q0")
            ).alias("v"),
        )
    )
    denom = base.agg(F.sum(F.col("p0") * F.col("q0")).alias("v0"))
    return (
        num.join(F.broadcast(denom), F.lit(True))
        .select(
            F.col("yr").cast("bigint").alias("yr"),
            F.col("n_parts").cast("bigint").alias("n_parts"),
            F.round(F.col("v") / F.col("v0"), 6).alias("laspeyres_index"),
        )
        .orderBy("yr")
    )


@query(
    "runs_test_daily_events",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS c
      FROM events GROUP BY CAST(ts AS DATE)
    ), med AS (
      SELECT quantile_cont(CAST(c AS DOUBLE), 0.5) AS m FROM daily
    ), lab AS (
      SELECT d, CASE WHEN c > m THEN 1 ELSE 0 END AS above
      FROM daily, med WHERE CAST(c AS DOUBLE) <> m
    ), rr AS (
      SELECT above,
             CASE WHEN LAG(above) OVER (ORDER BY d) IS NULL
                    OR above <> LAG(above) OVER (ORDER BY d)
                  THEN 1 ELSE 0 END AS is_new
      FROM lab
    ), st AS (
      SELECT SUM(is_new) AS runs, SUM(above) AS n1,
             SUM(1 - above) AS n2, COUNT(*) AS n
      FROM rr
    )
    SELECT CAST(n AS BIGINT) AS n_days_used,
           CAST(n1 AS BIGINT) AS n_above, CAST(n2 AS BIGINT) AS n_below,
           CAST(runs AS BIGINT) AS runs,
           ROUND((runs - (2.0 * n1 * n2 / n + 1))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n)
                        / (CAST(n AS DOUBLE) * n * (n - 1))), 6) AS z
    FROM st
    """,
)
def runs_test_q(spark, sf_dir):
    """Wald–Wolfowitz runs test on the daily event-count series: are
    above-median and below-median days randomly interleaved, or does
    the series run in streaks (regime shifts, ramps, weekly cycles —
    anything that violates the i.i.d. assumption every per-day
    significance test upstream quietly makes)?  Median via the proven
    percentile ≡ quantile_cont parity, exact-median days dropped per
    the classic recipe; the run count is one LAG over the bounded
    daily grid and E[R], Var[R] close over exact integer counts."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("c")
    )
    med = daily.agg(
        F.expr("percentile(cast(c as double), 0.5)").alias("m")
    )
    lab = (
        daily.join(F.broadcast(med), F.lit(True))
        .filter(F.col("c").cast("double") != F.col("m"))
        .select(
            "d", F.when(F.col("c") > F.col("m"), 1).otherwise(0).alias("above")
        )
    )
    wd = Window.orderBy("d")
    rr = lab.select(
        "above",
        F.when(
            F.lag("above").over(wd).isNull()
            | (F.col("above") != F.lag("above").over(wd)),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    st = rr.agg(
        F.sum("is_new").alias("runs"),
        F.sum("above").alias("n1"),
        F.sum(F.lit(1) - F.col("above")).alias("n2"),
        F.count(F.lit(1)).alias("n"),
    )
    n, n1, n2, runs = (
        F.col("n"),
        F.col("n1"),
        F.col("n2"),
        F.col("runs"),
    )
    return st.select(
        n.cast("bigint").alias("n_days_used"),
        n1.cast("bigint").alias("n_above"),
        n2.cast("bigint").alias("n_below"),
        runs.cast("bigint").alias("runs"),
        F.round(
            (runs - (F.lit(2.0) * n1 * n2 / n + 1))
            / F.sqrt(
                F.lit(2.0)
                * n1
                * n2
                * (F.lit(2.0) * n1 * n2 - n)
                / (n.cast("double") * n * (n - 1))
            ),
            6,
        ).alias("z"),
    )


@query(
    "mann_kendall_trend_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS c
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), s AS (
      SELECT a.event_type,
             SUM(CASE WHEN b.c > a.c THEN 1
                      WHEN b.c < a.c THEN -1 ELSE 0 END) AS s_stat
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.d > a.d
      GROUP BY a.event_type
    ), nn AS (
      SELECT event_type, COUNT(*) AS n FROM daily GROUP BY event_type
    ), ties AS (
      SELECT event_type,
             SUM(CAST(t * (t - 1) AS BIGINT) * (2 * t + 5)) AS tie_term
      FROM (SELECT event_type, c, COUNT(*) AS t
            FROM daily GROUP BY event_type, c) g
      WHERE t > 1 GROUP BY event_type
    ), v AS (
      SELECT nn.event_type, nn.n, s.s_stat,
             (CAST(nn.n * (nn.n - 1) AS BIGINT) * (2 * nn.n + 5)
              - COALESCE(ties.tie_term, 0)) / 18.0 AS var_s
      FROM nn JOIN s USING (event_type)
      LEFT JOIN ties USING (event_type)
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           CAST(s_stat AS BIGINT) AS s_stat,
           ROUND(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                      WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                      ELSE 0.0 END, 6) AS z
    FROM v ORDER BY event_type
    """,
)
def mann_kendall_q(spark, sf_dir):
    """Mann–Kendall monotone-trend test per event type — the
    SIGNIFICANCE companion to the Theil–Sen slope gate (same pairwise
    construction; Theil–Sen answers 'how steep', this answers 'is it
    real'): S = Σ_{i<j} sign(c_j − c_i) over the bounded per-type
    daily frame, tie-corrected variance from the per-value run
    lengths, continuity-corrected z.  Every quantity up to the final
    division is an exact BIGINT; the pair join stays on the ≤days²/2
    daily grid, never on raw events."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("c")
    )
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.d") > F.col("a.d")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.c") > F.col("a.c"), 1)
                .when(F.col("b.c") < F.col("a.c"), -1)
                .otherwise(0)
            ).alias("s_stat")
        )
    )
    nn = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ties = (
        daily.groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.sum(
                (F.col("t") * (F.col("t") - 1)).cast("bigint")
                * (2 * F.col("t") + 5)
            ).alias("tie_term")
        )
    )
    v = (
        nn.join(s, "event_type")
        .join(ties, "event_type", "left")
        .select(
            "event_type",
            "n",
            "s_stat",
            (
                (F.col("n") * (F.col("n") - 1)).cast("bigint")
                * (2 * F.col("n") + 5)
                - F.coalesce(F.col("tie_term"), F.lit(0))
            ).alias("var18"),
        )
    )
    var_s = F.col("var18") / 18.0
    return v.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.col("s_stat").cast("bigint").alias("s_stat"),
        F.round(
            F.when(
                F.col("s_stat") > 0,
                (F.col("s_stat") - 1) / F.sqrt(var_s),
            )
            .when(
                F.col("s_stat") < 0,
                (F.col("s_stat") + 1) / F.sqrt(var_s),
            )
            .otherwise(0.0),
            6,
        ).alias("z"),
    ).orderBy("event_type")


@query(
    "chao1_good_turing_docs",
    r"""
    WITH cnt AS (
      SELECT source, g, COUNT(*) AS c
      FROM (SELECT source,
                   unnest(string_split_regex(lower(trim(text)), '\s+')) AS g
            FROM documents)
      GROUP BY source, g
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
           ROUND(COUNT(*)
                 + CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   * (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1)
                   / (2.0 * (SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1)),
                 4) AS chao1,
           ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / SUM(c), 6) AS gt_unseen_mass
    FROM cnt GROUP BY source ORDER BY source
    """,
)
def chao1_q(spark, sf_dir):
    """Chao1 vocabulary-richness estimator + Good–Turing unseen mass
    per source: the observed vocab UNDERCOUNTS the true vocabulary
    exactly when singletons abound, and Chao1's bias-corrected
    D + f₁(f₁−1)/(2(f₂+1)) estimates how much is still unseen, while
    GT's f₁/N is the probability the NEXT token is novel — together
    the "how much more is out there" readout that tells a crawl
    planner whether a source is exhausted (Heaps fits the growth
    curve; this estimates its asymptote from one snapshot).  One
    gram-keyed count shuffle, then per-source folds over exact
    integer abundance counts."""
    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select(
            "source",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("g"),
        )
        .groupBy("source", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    f1 = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    f2 = F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
    return (
        cnt.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("vocab"),
            f1.cast("bigint").alias("f1"),
            f2.cast("bigint").alias("f2"),
            F.round(
                F.count(F.lit(1))
                + f1.cast("double") * (f1 - 1) / (F.lit(2.0) * (f2 + 1)),
                4,
            ).alias("chao1"),
            F.round(f1.cast("double") / F.sum("c"), 6).alias(
                "gt_unseen_mass"
            ),
        )
        .orderBy("source")
    )


@query(
    "james_stein_user_shrinkage_events",
    """
    WITH pu AS (
      SELECT user_id, COUNT(*) AS n,
             SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS s,
             SUM(CAST(CAST(ROUND(value * 10000) AS BIGINT) AS HUGEINT)
                 * CAST(ROUND(value * 10000) AS BIGINT)) AS q
      FROM events GROUP BY user_id
    ), st AS (
      SELECT COUNT(*) AS k, SUM(n) AS ntot, SUM(s) AS stot,
             SUM(CAST(q AS DOUBLE) / 1e8
                 - n * (CAST(s AS DOUBLE) / (10000.0 * n))
                     * (CAST(s AS DOUBLE) / (10000.0 * n))) AS ssw,
             SUM(n - 1) AS dfw,
             SUM(n * (CAST(s AS DOUBLE) / (10000.0 * n))
                   * (CAST(s AS DOUBLE) / (10000.0 * n))) AS snm2
      FROM pu WHERE n >= 2
    ), pars AS (
      SELECT CAST(stot AS DOUBLE) / (10000.0 * ntot) AS m,
             ssw / dfw AS s2w,
             GREATEST((snm2 - ntot * (CAST(stot AS DOUBLE)
                                      / (10000.0 * ntot))
                              * (CAST(stot AS DOUBLE) / (10000.0 * ntot))
                       - (k - 1) * (ssw / dfw))
                      / (CAST(ntot AS DOUBLE)
                         - CAST(SUM_NN AS DOUBLE) / ntot), 0.0) AS tau2
      FROM st, (SELECT SUM(CAST(n AS HUGEINT) * n) AS SUM_NN
                FROM pu WHERE n >= 2)
    ), sh AS (
      SELECT user_id, n,
             CAST(s AS DOUBLE) / (10000.0 * n) AS raw,
             CASE WHEN tau2 > 0
                  THEN (n / (n + s2w / tau2))
                       * (CAST(s AS DOUBLE) / (10000.0 * n))
                       + (1 - n / (n + s2w / tau2)) * m
                  ELSE m END AS shrunk
      FROM pu, pars WHERE n >= 2
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           ROUND(raw, 6) AS raw_mean, ROUND(shrunk, 6) AS shrunk_mean,
           ROUND(abs(shrunk - raw), 6) AS correction
    FROM sh
    ORDER BY ROUND(abs(shrunk - raw), 6) DESC, user_id LIMIT 20
    """,
)
def james_stein_q(spark, sf_dir):
    """Empirical-Bayes (James–Stein-style) shrinkage of per-user mean
    event value toward the grand mean — the fix for the universal
    leaderboard artifact where tiny-sample users top every ranking:
    weight w_u = n_u/(n_u + s²_w/τ̂²) with the within-user variance
    s²_w pooled from exact ×1e4-integer moments and the between-user
    variance τ̂² by the one-way random-effects method of moments
    (clamped at 0 → full pooling).  Reports the 20 most-corrected
    users (rounded-key ordering, user_id tie-break) — exactly the
    accounts a naive per-user mean would misrank.  Users contribute
    three exact integers each; everything after is 1-row scalar
    algebra."""
    e = load_table(spark, sf_dir, "events")
    v = F.round(F.col("value") * 10000).cast("bigint")
    pu = (
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v).alias("s"),
            F.sum(v.cast("decimal(38,0)") * v).alias("q"),
        )
        .filter(F.col("n") >= 2)
    )
    mean_u = F.col("s").cast("double") / (F.lit(10000.0) * F.col("n"))
    st = pu.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("ntot"),
        F.sum("s").alias("stot"),
        F.sum(
            F.col("q").cast("double") / 1e8
            - F.col("n") * mean_u * mean_u
        ).alias("ssw"),
        F.sum(F.col("n") - 1).alias("dfw"),
        F.sum(F.col("n") * mean_u * mean_u).alias("snm2"),
        F.sum(F.col("n").cast("decimal(38,0)") * F.col("n")).alias(
            "sum_nn"
        ),
    )
    m = F.col("stot").cast("double") / (F.lit(10000.0) * F.col("ntot"))
    s2w = F.col("ssw") / F.col("dfw")
    tau2 = F.greatest(
        (
            F.col("snm2")
            - F.col("ntot") * m * m
            - (F.col("k") - 1) * s2w
        )
        / (
            F.col("ntot").cast("double")
            - F.col("sum_nn").cast("double") / F.col("ntot")
        ),
        F.lit(0.0),
    )
    pars = st.select(
        m.alias("m"), s2w.alias("s2w"), tau2.alias("tau2")
    )
    j = pu.join(F.broadcast(pars), F.lit(True))
    raw = F.col("s").cast("double") / (F.lit(10000.0) * F.col("n"))
    w = F.col("n") / (F.col("n") + F.col("s2w") / F.col("tau2"))
    shrunk = F.when(
        F.col("tau2") > 0, w * raw + (1 - w) * F.col("m")
    ).otherwise(F.col("m"))
    return (
        j.select(
            "user_id",
            F.col("n").cast("bigint").alias("n_events"),
            F.round(raw, 6).alias("raw_mean"),
            F.round(shrunk, 6).alias("shrunk_mean"),
            F.round(F.abs(shrunk - raw), 6).alias("correction"),
        )
        .orderBy(F.col("correction").desc(), F.col("user_id"))
        .limit(20)
    )


@query(
    "delta_method_ratio_metric_events",
    """
    WITH pu AS (
      SELECT user_id, CAST(user_id AS BIGINT) % 2 AS grp,
             SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS x,
             COUNT(DISTINCT CAST(ts AS DATE)) AS y
      FROM events GROUP BY user_id
    ), arm AS (
      SELECT grp, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM pu GROUP BY grp
    ), r AS (
      SELECT grp, n, sy, CAST(sx AS DOUBLE) / (10000.0 * sy) AS ratio,
             (CAST(sxx AS DOUBLE) / 1e8
              - 2 * (CAST(sx AS DOUBLE) / (10000.0 * sy))
                  * (CAST(sxy AS DOUBLE) / 10000.0)
              + (CAST(sx AS DOUBLE) / (10000.0 * sy))
                * (CAST(sx AS DOUBLE) / (10000.0 * sy))
                * CAST(syy AS DOUBLE))
             / (CAST(sy AS DOUBLE) * sy) * n / (n - 1.0) AS var_r
      FROM arm
    )
    SELECT ROUND(MAX(CASE WHEN grp = 1 THEN ratio END), 6) AS r_treat,
           ROUND(MAX(CASE WHEN grp = 0 THEN ratio END), 6) AS r_ctrl,
           ROUND(sqrt(SUM(var_r)), 6) AS se_diff,
           ROUND((MAX(CASE WHEN grp = 1 THEN ratio END)
                  - MAX(CASE WHEN grp = 0 THEN ratio END))
                 / sqrt(SUM(var_r)), 6) AS z
    FROM r
    """,
)
def delta_ratio_q(spark, sf_dir):
    """Delta-method z-test for a RATIO metric (value per active
    user-day) between the parity arms — the test naive per-row
    t-tests get wrong because both numerator and denominator vary
    per user (randomization unit ≠ analysis unit, the single most
    cited A/B pitfall after peeking): Var(X̄/Ȳ) ≈ (Sxx − 2R·Sxy +
    R²·Syy)·n/(n−1)/ (ΣY)² from per-user exact integer moments
    (×1e4 values, HUGEINT/decimal-widened squares).  One grouped
    pass per user, a 2-row arm fold, a 1-row report."""
    e = load_table(spark, sf_dir, "events")
    v = F.round(F.col("value") * 10000).cast("bigint")
    pu = e.groupBy("user_id").agg(
        F.first(F.col("user_id") % 2).alias("grp"),
        F.sum(v).alias("x"),
        F.countDistinct(F.to_date("ts")).alias("y"),
    )
    arm = pu.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    ratio = F.col("sx").cast("double") / (F.lit(10000.0) * F.col("sy"))
    var_r = (
        (
            F.col("sxx").cast("double") / 1e8
            - 2 * ratio * (F.col("sxy").cast("double") / 10000.0)
            + ratio * ratio * F.col("syy").cast("double")
        )
        / (F.col("sy").cast("double") * F.col("sy"))
        * F.col("n")
        / (F.col("n") - F.lit(1.0))
    )
    r = arm.select(
        "grp", ratio.alias("ratio"), var_r.alias("var_r")
    )
    return r.agg(
        F.round(
            F.max(F.when(F.col("grp") == 1, F.col("ratio"))), 6
        ).alias("r_treat"),
        F.round(
            F.max(F.when(F.col("grp") == 0, F.col("ratio"))), 6
        ).alias("r_ctrl"),
        F.round(F.sqrt(F.sum("var_r")), 6).alias("se_diff"),
        F.round(
            (
                F.max(F.when(F.col("grp") == 1, F.col("ratio")))
                - F.max(F.when(F.col("grp") == 0, F.col("ratio")))
            )
            / F.sqrt(F.sum("var_r")),
            6,
        ).alias("z"),
    )


@query(
    "mde_power_events",
    """
    WITH pu AS (
      SELECT user_id, CAST(user_id AS BIGINT) % 2 AS grp,
             SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS x
      FROM events GROUP BY user_id
    ), arm AS (
      SELECT grp, COUNT(*) AS n, SUM(x) AS sx,
             SUM(CAST(x AS HUGEINT) * x) AS sxx
      FROM pu GROUP BY grp
    ), v AS (
      SELECT grp, n, CAST(sx AS DOUBLE) / (10000.0 * n) AS mean,
             (CAST(sxx AS DOUBLE) / 1e8
              - n * (CAST(sx AS DOUBLE) / (10000.0 * n))
                  * (CAST(sx AS DOUBLE) / (10000.0 * n))) / (n - 1)
               AS s2
      FROM arm
    )
    SELECT CAST(MAX(CASE WHEN grp = 1 THEN n END) AS BIGINT) AS n_treat,
           CAST(MAX(CASE WHEN grp = 0 THEN n END) AS BIGINT) AS n_ctrl,
           ROUND(MAX(CASE WHEN grp = 0 THEN mean END), 6) AS ctrl_mean,
           ROUND((1.959964 + 0.841621)
                 * sqrt(MAX(CASE WHEN grp = 1 THEN s2 / n END)
                        + MAX(CASE WHEN grp = 0 THEN s2 / n END)), 6)
             AS mde_abs,
           ROUND((1.959964 + 0.841621)
                 * sqrt(MAX(CASE WHEN grp = 1 THEN s2 / n END)
                        + MAX(CASE WHEN grp = 0 THEN s2 / n END))
                 / MAX(CASE WHEN grp = 0 THEN mean END), 6) AS mde_rel
    FROM v
    """,
)
def mde_q(spark, sf_dir):
    """Minimum detectable effect at 80% power / 5% two-sided α for
    the CURRENT sample sizes and variances (per-user total value as
    the analysis unit): MDE = (z_{.975} + z_{.80})·√(s²_t/n_t +
    s²_c/n_c) — the pre-readout sanity check that tells an
    experimenter whether the test can even see the effect size they
    care about, from the same exact ×1e4-integer user-level moments
    the monitor uses (z constants as literals, both engines evaluate
    the identical double chain)."""
    e = load_table(spark, sf_dir, "events")
    v = F.round(F.col("value") * 10000).cast("bigint")
    pu = e.groupBy("user_id").agg(
        F.first(F.col("user_id") % 2).alias("grp"),
        F.sum(v).alias("x"),
    )
    arm = pu.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    )
    mean = F.col("sx").cast("double") / (F.lit(10000.0) * F.col("n"))
    s2 = (
        F.col("sxx").cast("double") / 1e8 - F.col("n") * mean * mean
    ) / (F.col("n") - 1)
    vv = arm.select(
        "grp", F.col("n"), mean.alias("mean"), s2.alias("s2")
    )
    zsum = F.lit(1.959964 + 0.841621)
    t_var = F.max(F.when(F.col("grp") == 1, F.col("s2") / F.col("n")))
    c_var = F.max(F.when(F.col("grp") == 0, F.col("s2") / F.col("n")))
    c_mean = F.max(F.when(F.col("grp") == 0, F.col("mean")))
    return vv.agg(
        F.max(F.when(F.col("grp") == 1, F.col("n")))
        .cast("bigint")
        .alias("n_treat"),
        F.max(F.when(F.col("grp") == 0, F.col("n")))
        .cast("bigint")
        .alias("n_ctrl"),
        F.round(c_mean, 6).alias("ctrl_mean"),
        F.round(zsum * F.sqrt(t_var + c_var), 6).alias("mde_abs"),
        F.round(zsum * F.sqrt(t_var + c_var) / c_mean, 6).alias(
            "mde_rel"
        ),
    )


@query(
    "symspell_variants_parts",
    r"""
    WITH vocab AS MATERIALIZED (
      SELECT g AS t, COUNT(*) AS c
      FROM (SELECT unnest(string_split_regex(lower(trim(p_name)), '\s+'))
              AS g
            FROM part)
      WHERE regexp_matches(g, '^[a-z]+$')
        AND len(g) BETWEEN 3 AND 15
      GROUP BY g
    ), posts AS MATERIALIZED (
      SELECT DISTINCT t, c, v FROM (
        SELECT t, c, t AS v FROM vocab
        UNION ALL
        SELECT t, c,
               substr(t, 1, i - 1) || substr(t, i + 1) AS v
        FROM (SELECT t, c, unnest(range(1, len(t) + 1)) AS i FROM vocab)
      )
    ), cand AS (
      SELECT a.t AS tok_a, b.t AS tok_b,
             ANY_VALUE(a.c) AS c_a, ANY_VALUE(b.c) AS c_b
      FROM posts a JOIN posts b ON a.v = b.v AND a.t < b.t
      GROUP BY a.t, b.t
    )
    SELECT tok_a, tok_b,
           CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b
    FROM cand WHERE levenshtein(tok_a, tok_b) <= 1
    ORDER BY tok_a, tok_b
    """,
)
def symspell_q(spark, sf_dir):
    """SymSpell symmetric-delete candidate generation + verify over
    the part-name vocabulary: every token posts itself PLUS its
    delete-1 variants, an equi-join on the variant key surfaces all
    edit-distance-1 candidates (deletions/insertions via
    original↔delete, substitutions via shared same-position delete),
    and ONE Levenshtein call per CANDIDATE confirms — the standard
    SymSpell contract (candidates can be distance 2 when the shared
    delete sits at different positions, e.g. old/rod, so the verify
    is part of the algorithm, not a patch).  This is the fuzzy-
    blocking scale shape: postings ≈ Σ|token| per DISTINCT token and
    the join is exact-key, vs. edit_distance_pairs' all-pairs
    Levenshtein that no filter saves at 100 TB.  Survivor pairs
    (cold/old, red/rod) are blocking keys for the entity-resolution
    pass (er_clusters_parts).  ASCII-only tokens keep lexicographic
    ordering collation-proof."""
    p = load_table(spark, sf_dir, "part")
    vocab = (
        p.select(
            F.explode(
                F.split(F.lower(F.trim(F.col("p_name"))), r"\s+")
            ).alias("t")
        )
        .filter(
            F.col("t").rlike("^[a-z]+$")
            & F.length("t").between(3, 15)
        )
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dels = vocab.select(
        "t",
        "c",
        F.explode(
            F.expr(
                "transform(sequence(1, length(t)), i -> "
                "concat(substring(t, 1, i - 1), substring(t, i + 1)))"
            )
        ).alias("v"),
    )
    posts = (
        vocab.select("t", "c", F.col("t").alias("v"))
        .unionAll(dels)
        .distinct()
    )
    a, b = posts.alias("a"), posts.alias("b")
    cand = (
        a.join(
            b,
            (F.col("b.v") == F.col("a.v"))
            & (F.col("a.t") < F.col("b.t")),
        )
        .groupBy(
            F.col("a.t").alias("tok_a"), F.col("b.t").alias("tok_b")
        )
        .agg(
            F.any_value(F.col("a.c")).alias("c_a"),
            F.any_value(F.col("b.c")).alias("c_b"),
        )
    )
    return (
        cand.filter(F.levenshtein("tok_a", "tok_b") <= 1)
        .select(
            "tok_a",
            "tok_b",
            F.col("c_a").cast("bigint").alias("c_a"),
            F.col("c_b").cast("bigint").alias("c_b"),
        )
        .orderBy("tok_a", "tok_b")
    )


@query(
    "position_attribution_events",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             CAST(ROUND(value * 10000) AS BIGINT) AS v,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS seg
      FROM events
    ), segs AS (
      SELECT user_id, COALESCE(seg, 0) AS seg, event_type, ts, event_id, v
      FROM seq
    ), pur AS (
      SELECT user_id, seg, MAX(v) AS pv
      FROM segs WHERE event_type = 'purchase' GROUP BY user_id, seg
    ), touches AS (
      SELECT s.user_id, s.seg, s.event_type, pur.pv,
             ROW_NUMBER() OVER (PARTITION BY s.user_id, s.seg
                                ORDER BY s.ts, s.event_id) AS r,
             COUNT(*) OVER (PARTITION BY s.user_id, s.seg) AS m
      FROM segs s JOIN pur ON pur.user_id = s.user_id
                          AND pur.seg = s.seg
      WHERE s.event_type <> 'purchase'
    ), credit AS (
      SELECT event_type,
             CAST(pv AS DOUBLE) / 10000.0
             * CASE WHEN m = 1 THEN 1.0
                    WHEN m = 2 THEN 0.5
                    WHEN r = 1 OR r = m THEN 0.4
                    ELSE 0.2 / (m - 2) END AS cr
      FROM touches
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           ROUND(SUM(cr), 2) AS credited_value
    FROM credit GROUP BY event_type ORDER BY event_type
    """,
)
def position_attribution_q(spark, sf_dir):
    """U-shaped (position-based) multi-touch attribution: each
    purchase's value splits 40/20/40 across its path — the
    non-purchase touches since the user's previous purchase — with
    first and last touch earning 40% each and the middle sharing 20%
    (n=1 → 100%, n=2 → 50/50); the industry-standard middle ground
    between last-touch (all credit to the closer) and linear (no
    position signal).  Paths are built with ONE purchase-count
    window per user (strictly-preceding frame, so the purchase
    anchors its own segment), position/size from per-segment
    windows — all user-partitioned, no self-joins; credited value
    sums per touch type from exact ×1e4-integer purchase values."""
    e = load_table(spark, sf_dir, "events")
    wseg = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 10000).cast("bigint").alias("v"),
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(wseg),
            F.lit(0),
        ).alias("seg"),
    )
    pur = (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "seg")
        .agg(F.max("v").alias("pv"))
    )
    wt = Window.partitionBy("user_id", "seg").orderBy("ts", "event_id")
    wm = Window.partitionBy("user_id", "seg")
    touches = (
        seq.filter(F.col("event_type") != "purchase")
        .join(pur, ["user_id", "seg"])
        .select(
            "event_type",
            "pv",
            F.row_number().over(wt).alias("r"),
            F.count(F.lit(1)).over(wm).alias("m"),
        )
    )
    cr = (
        F.col("pv").cast("double")
        / 10000.0
        * F.when(F.col("m") == 1, 1.0)
        .when(F.col("m") == 2, 0.5)
        .when((F.col("r") == 1) | (F.col("r") == F.col("m")), 0.4)
        .otherwise(F.lit(0.2) / (F.col("m") - 2))
    )
    return (
        touches.select("event_type", cr.alias("cr"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.round(F.sum("cr"), 2).alias("credited_value"),
        )
        .orderBy("event_type")
    )


@query(
    "gumbel_tail_events",
    """
    WITH dmax AS (
      SELECT CAST(ts AS DATE) AS d,
             MAX(CAST(ROUND(value * 10000) AS BIGINT)) AS mx
      FROM events GROUP BY CAST(ts AS DATE)
    ), st AS (
      SELECT COUNT(*) AS n, SUM(mx) AS s,
             SUM(CAST(mx AS HUGEINT) * mx) AS q
      FROM dmax
    ), fit AS (
      SELECT n,
             CAST(s AS DOUBLE) / (10000.0 * n) AS m,
             sqrt((CAST(q AS DOUBLE) / 1e8
                   - n * (CAST(s AS DOUBLE) / (10000.0 * n))
                       * (CAST(s AS DOUBLE) / (10000.0 * n))) / (n - 1))
               * sqrt(6.0) / 3.141592653589793 AS beta
      FROM st
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           ROUND(m - 0.5772156649015329 * beta, 4) AS mu,
           ROUND(beta, 4) AS beta,
           ROUND((m - 0.5772156649015329 * beta)
                 - beta * ln(-ln(1.0 - 1.0 / 30)), 4) AS return_30d,
           ROUND((m - 0.5772156649015329 * beta)
                 - beta * ln(-ln(1.0 - 1.0 / 365)), 4) AS return_365d
    FROM fit
    """,
)
def gumbel_q(spark, sf_dir):
    """Gumbel extreme-value fit of the DAILY MAXIMUM event value —
    the capacity-planning distribution for 'how big is the worst
    value we'll see in a month / a year': block maxima are Gumbel-
    domain for light-tailed parents (Fisher–Tippett), the
    method-of-moments fit is β = s·√6/π, μ = m − γβ, and the
    T-period return level is μ − β·ln(−ln(1−1/T)).  Daily maxima are
    exact ×1e4 integers; the ≤366-row moment fold and literal
    constants (γ, π) make every double identical cross-engine; mean
    and quantile gates describe the typical day — this prices the
    worst one."""
    e = load_table(spark, sf_dir, "events")
    dmax = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.max(F.round(F.col("value") * 10000).cast("bigint")).alias("mx")
    )
    st = dmax.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("mx").alias("s"),
        F.sum(F.col("mx").cast("decimal(38,0)") * F.col("mx")).alias("q"),
    )
    m = F.col("s").cast("double") / (F.lit(10000.0) * F.col("n"))
    beta = (
        F.sqrt(
            (F.col("q").cast("double") / 1e8 - F.col("n") * m * m)
            / (F.col("n") - 1)
        )
        * F.sqrt(F.lit(6.0))
        / F.lit(3.141592653589793)
    )
    mu = m - F.lit(0.5772156649015329) * beta
    rl = lambda t: mu - beta * F.log(-F.log(F.lit(1.0) - F.lit(1.0) / t))
    return st.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(mu, 4).alias("mu"),
        F.round(beta, 4).alias("beta"),
        F.round(rl(30), 4).alias("return_30d"),
        F.round(rl(365), 4).alias("return_365d"),
    )


@query(
    "poisson_surprise_events",
    """
    WITH bounds AS (
      SELECT datediff('day', MIN(CAST(ts AS DATE)),
                      MAX(CAST(ts AS DATE))) + 1 AS nd
      FROM events
    ), daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d, COUNT(*) AS c
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ), rate AS (
      SELECT user_id, SUM(c) AS tot FROM daily GROUP BY user_id
    )
    SELECT daily.user_id, daily.d,
           CAST(daily.c AS BIGINT) AS n_events,
           ROUND((daily.c - CAST(tot AS DOUBLE) / nd)
                 / sqrt(CAST(tot AS DOUBLE) / nd), 6) AS surprise_z
    FROM daily JOIN rate ON rate.user_id = daily.user_id, bounds
    ORDER BY (daily.c - CAST(tot AS DOUBLE) / nd)
             / sqrt(CAST(tot AS DOUBLE) / nd) DESC,
             daily.user_id, daily.d
    LIMIT 20
    """,
)
def poisson_surprise_q(spark, sf_dir):
    """Poisson surprise score per user-day: z = (c − λ̂_u)/√λ̂_u
    against the user's OWN baseline rate λ̂_u = total/observation
    days — the per-entity anomaly detector that catches a normally
    quiet account having a 50-event day, which every global
    threshold misses because the corpus-wide day counts look normal.
    Baselines come from one per-user fold of exact integers; the
    score join is user-keyed (partitioned, never broadcast-wide);
    the 1-row day-count scalar rides a broadcast; top-20 by the
    unrounded integer-derived key, (user, day) tie-break."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        (
            F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))) + 1
        ).alias("nd")
    )
    daily = e.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("c")
    )
    rate = daily.groupBy("user_id").agg(F.sum("c").alias("tot"))
    j = daily.join(rate, "user_id").join(F.broadcast(bounds), F.lit(True))
    lam = F.col("tot").cast("double") / F.col("nd")
    z = (F.col("c") - lam) / F.sqrt(lam)
    return (
        j.withColumn("_z", z)
        .orderBy(F.col("_z").desc(), F.col("user_id"), F.col("d"))
        .limit(20)
        .select(
            "user_id",
            "d",
            F.col("c").cast("bigint").alias("n_events"),
            F.round(F.col("_z"), 6).alias("surprise_z"),
        )
    )


@query(
    "label_centroid_cosine_embeddings",
    """
    WITH cells AS (
      SELECT label, i,
             SUM(CAST(ROUND(CAST(e[i] AS DOUBLE) * 1000000) AS BIGINT))
               AS s
      FROM (SELECT label, embedding AS e,
                   unnest(range(1, len(embedding) + 1)) AS i
            FROM embeddings)
      GROUP BY label, i
    ), norms AS (
      SELECT label, SUM(CAST(s AS DOUBLE) * s) AS nn FROM cells
      GROUP BY label
    ), dots AS (
      SELECT a.label AS label_a, b.label AS label_b,
             SUM(CAST(a.s AS DOUBLE) * b.s) AS ab
      FROM cells a JOIN cells b
        ON b.i = a.i AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT label_a, label_b,
           ROUND(ab / (sqrt(na.nn) * sqrt(nb.nn)), 6) AS centroid_cos
    FROM dots
    JOIN norms na ON na.label = dots.label_a
    JOIN norms nb ON nb.label = dots.label_b
    ORDER BY label_a, label_b
    """,
)
def label_centroid_q(spark, sf_dir):
    """Pairwise cosine similarity of per-label embedding CENTROIDS —
    the class-separation map: labels whose centroids sit near cosine
    1 are the confusable pairs a classifier (or a semantic-dedup
    pass) will blur, and a source whose centroid drifts toward
    another's is the embedding-space smell of content duplication
    across slices.  Centroid cells are exact ×1e6-integer sums via
    one (label, dim)-keyed shuffle (sums commute — no vector
    averaging in floats); the cosine grid joins on the literal dim
    key and is ≤labels² rows.  Per-pair silhouette says how tight
    each cluster is; this says how far apart their CENTERS are."""
    emb = load_table(spark, sf_dir, "embeddings")
    cells = (
        emb.select(
            "label",
            F.posexplode(
                F.transform(
                    "embedding",
                    lambda x: F.round(x.cast("double") * 1000000).cast(
                        "long"
                    ),
                )
            ).alias("i0", "v"),
        )
        .select("label", (F.col("i0") + 1).alias("i"), "v")
        .groupBy("label", "i")
        .agg(F.sum("v").alias("s"))
    )
    norms = cells.groupBy("label").agg(
        F.sum(F.col("s").cast("double") * F.col("s")).alias("nn")
    )
    a, b = cells.alias("a"), cells.alias("b")
    dots = (
        a.join(
            b,
            (F.col("b.i") == F.col("a.i"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
        )
        .agg(F.sum(F.col("a.s").cast("double") * F.col("b.s")).alias("ab"))
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("nn").alias("na"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("nn").alias("nb"))
    return (
        dots.join(na, "label_a")
        .join(nb, "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(
                F.col("ab") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))),
                6,
            ).alias("centroid_cos"),
        )
        .orderBy("label_a", "label_b")
    )


@query(
    "hill_tail_index_orders",
    """
    WITH topk AS (
      SELECT o_totalprice AS x
      FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC
      LIMIT 101
    ), cut AS (
      SELECT MIN(x) AS xk FROM topk
    )
    SELECT CAST(COUNT(*) - 1 AS BIGINT) AS k,
           ROUND(ANY_VALUE(xk), 2) AS x_threshold,
           ROUND((COUNT(*) - 1)
                 / SUM(CASE WHEN x > xk THEN ln(x / xk) ELSE 0 END), 6)
             AS hill_alpha
    FROM topk, cut
    """,
)
def hill_tail_q(spark, sf_dir):
    """Hill tail-index estimator over the top-100 order totals:
    α̂ = k / Σ ln(x_i/x_{k+1}) — the standard answer to 'HOW heavy is
    the heavy tail' (α < 2 ⇒ infinite variance: means and CUPED-style
    variance tricks stop working; Zipf/Gini gates say the
    distribution is skewed, this measures the tail exponent that
    decides which statistics survive it).  The only data-sized step
    is a distributed top-101 (TakeOrderedAndProject with orderkey
    tie-break, so both engines pick the identical value multiset);
    the log fold runs on 101 rows.  Ties AT the threshold contribute
    ln(1) = 0 — handled explicitly so both engines agree when the
    boundary value repeats."""
    o = load_table(spark, sf_dir, "orders")
    topk = (
        o.select(F.col("o_totalprice").alias("x"), "o_orderkey")
        .orderBy(F.col("x").desc(), F.col("o_orderkey").asc())
        .limit(101)
        .select("x")
    )
    cut = topk.agg(F.min("x").alias("xk"))
    j = topk.join(F.broadcast(cut), F.lit(True))
    return j.agg(
        (F.count(F.lit(1)) - 1).cast("bigint").alias("k"),
        F.round(F.any_value("xk"), 2).alias("x_threshold"),
        F.round(
            (F.count(F.lit(1)) - 1)
            / F.sum(
                F.when(
                    F.col("x") > F.col("xk"),
                    F.log(F.col("x") / F.col("xk")),
                ).otherwise(0.0)
            ),
            6,
        ).alias("hill_alpha"),
    )


@query(
    "qte_quantile_lift_events",
    """
    WITH pu AS (
      SELECT user_id, CAST(user_id AS BIGINT) % 2 AS grp,
             CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS DOUBLE)
               / 10000.0 AS x
      FROM events GROUP BY user_id
    ), arms AS (
      SELECT grp,
             quantile_cont(x, 0.25) AS q25, quantile_cont(x, 0.5) AS q50,
             quantile_cont(x, 0.75) AS q75, quantile_cont(x, 0.9) AS q90
      FROM pu GROUP BY grp
    ), long AS (
      SELECT CAST(0.25 AS DOUBLE) AS p,
             MAX(CASE WHEN grp = 1 THEN q25 END) AS qt,
             MAX(CASE WHEN grp = 0 THEN q25 END) AS qc FROM arms
      UNION ALL
      SELECT 0.5, MAX(CASE WHEN grp = 1 THEN q50 END),
             MAX(CASE WHEN grp = 0 THEN q50 END) FROM arms
      UNION ALL
      SELECT 0.75, MAX(CASE WHEN grp = 1 THEN q75 END),
             MAX(CASE WHEN grp = 0 THEN q75 END) FROM arms
      UNION ALL
      SELECT 0.9, MAX(CASE WHEN grp = 1 THEN q90 END),
             MAX(CASE WHEN grp = 0 THEN q90 END) FROM arms
    )
    SELECT p, ROUND(qt, 6) AS q_treat, ROUND(qc, 6) AS q_ctrl,
           ROUND(qt - qc, 6) AS qte
    FROM long ORDER BY p
    """,
)
def qte_q(spark, sf_dir):
    """Quantile treatment effects on per-user total value — where in
    the DISTRIBUTION the treatment acts: a mean lift (DiD/CUPED) that
    lives entirely above the median is a whales-only effect and ships
    a different product decision than a uniform shift; QTE at
    p ∈ {.25, .5, .75, .9} is the standard readout.  Per-user totals
    are exact ×1e4 integers; each arm computes four quantiles in one
    grouped pass (percentile ≡ quantile_cont, the proven parity); the
    2-row arm frame pivots to the literal 4-row report."""
    e = load_table(spark, sf_dir, "events")
    pu = e.groupBy("user_id").agg(
        F.first(F.col("user_id") % 2).alias("grp"),
        (
            F.sum(F.round(F.col("value") * 10000).cast("bigint")).cast(
                "double"
            )
            / 10000.0
        ).alias("x"),
    )
    arms = pu.groupBy("grp").agg(
        *[
            F.expr(f"percentile(x, {p})").alias(f"q{int(p*100)}")
            for p in (0.25, 0.5, 0.75, 0.9)
        ]
    )
    longs = None
    for p in (0.25, 0.5, 0.75, 0.9):
        c = f"q{int(p*100)}"
        one = arms.agg(
            F.lit(p).alias("p"),
            F.max(F.when(F.col("grp") == 1, F.col(c))).alias("qt"),
            F.max(F.when(F.col("grp") == 0, F.col(c))).alias("qc"),
        )
        longs = one if longs is None else longs.unionByName(one)
    return longs.select(
        "p",
        F.round("qt", 6).alias("q_treat"),
        F.round("qc", 6).alias("q_ctrl"),
        F.round(F.col("qt") - F.col("qc"), 6).alias("qte"),
    ).orderBy("p")


@query(
    "fd_violation_profile_docs",
    """
    WITH sl AS (
      SELECT 'source->lang' AS fd, source AS det,
             COUNT(DISTINCT lang) AS nd, COUNT(*) AS n
      FROM documents GROUP BY source
    ), ls AS (
      SELECT 'lang->source' AS fd, lang AS det,
             COUNT(DISTINCT source) AS nd, COUNT(*) AS n
      FROM documents GROUP BY lang
    ), fds AS (
      SELECT * FROM sl UNION ALL SELECT * FROM ls
    )
    SELECT fd,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS violating_groups,
           CAST(MAX(nd) AS BIGINT) AS max_distinct_dependents,
           ROUND(CAST(SUM(CASE WHEN nd > 1 THEN n ELSE 0 END) AS DOUBLE)
                 / SUM(n), 6) AS violating_row_share
    FROM fds GROUP BY fd ORDER BY fd
    """,
)
def fd_violation_q(spark, sf_dir):
    """Functional-dependency violation profile — the data-contract
    check schema types can't express: for each declared candidate FD
    (source→lang, lang→source) report how many determinant groups
    map to MORE than one dependent value and what share of rows sit
    in violating groups.  An FD that 'mostly holds' is how silent
    join fan-outs and bad dimension keys ship; profiling it is one
    determinant-keyed count-distinct per FD — groups shrink the data
    before anything global runs."""
    d = load_table(spark, sf_dir, "documents")

    def profile(fd, det, dep):
        return d.groupBy(F.col(det).alias("det")).agg(
            F.lit(fd).alias("fd"),
            F.countDistinct(dep).alias("nd"),
            F.count(F.lit(1)).alias("n"),
        )

    both = profile("source->lang", "source", "lang").unionByName(
        profile("lang->source", "lang", "source")
    )
    return (
        both.groupBy("fd")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("violating_groups"),
            F.max("nd").cast("bigint").alias("max_distinct_dependents"),
            F.round(
                F.sum(
                    F.when(F.col("nd") > 1, F.col("n")).otherwise(0)
                ).cast("double")
                / F.sum("n"),
                6,
            ).alias("violating_row_share"),
        )
        .orderBy("fd")
    )


@query("ess_importance_weights_docs", None)  # oracle attached below
def ess_weights_q(spark, sf_dir):
    """Effective sample size of importance weights per source — the
    collapse detector every reweighted-sampling pipeline (DSIR,
    quality-classifier keep-probabilities, temperature mixing) needs
    BEFORE training on the weights: ESS = (Σw)²/Σw² drops from n
    (uniform) toward 1 (one document carries all the mass), and an
    ess_ratio ≪ 1 says the reweighting silently shrank the corpus.
    Weights here are the hashed classifier's clipped keep-scores on
    the literal 1001-grid, so Σw and Σw² are EXACT integer sums
    (×1e3 / ×1e6 scales cancel in the ratio) — one grouped pass,
    engine-identical arithmetic."""
    scored = _scored_docs(spark, sf_dir).select(
        "doc_id", _score_bin(F.col("score")).alias("w")
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    j = scored.join(d, "doc_id")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("w").alias("sw"),
            F.sum(F.col("w").cast("bigint") * F.col("w")).alias("sww"),
        )
        .select(
            "source",
            "n_docs",
            F.round(
                F.col("sw").cast("double")
                * F.col("sw")
                / F.col("sww"),
                2,
            ).alias("ess"),
            F.round(
                F.col("sw").cast("double")
                * F.col("sw")
                / (F.col("sww") * F.col("n_docs")),
                6,
            ).alias("ess_ratio"),
        )
        .orderBy("source")
    )


O["ess_importance_weights_docs"] = f"""
    WITH {_scored_sql()}, b AS (
      SELECT doc_id, CAST(floor(LEAST(GREATEST(score, 0.0), 1.0) * 1000)
                          AS INTEGER) AS w
      FROM scored
    ), j AS (
      SELECT b.w, d.source FROM b JOIN documents d USING (doc_id)
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(w) AS DOUBLE) * SUM(w)
                 / SUM(CAST(w AS BIGINT) * w), 2) AS ess,
           ROUND(CAST(SUM(w) AS DOUBLE) * SUM(w)
                 / (SUM(CAST(w AS BIGINT) * w) * COUNT(*)), 6)
             AS ess_ratio
    FROM j GROUP BY source ORDER BY source
    """


