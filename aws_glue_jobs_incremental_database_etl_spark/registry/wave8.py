"""Round-8 wave: omnibus / post-hoc / sequential testing, robust
variants, and drift monitors — split-registry domain module.

Registration order is preserved by the package ``__init__`` importing
the domain modules in the original file order; ``Q``/``O`` are the
shared dicts from ``._core``.
"""

from __future__ import annotations

import tempfile  # noqa: F401

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
# Round-8 wave: omnibus / post-hoc / sequential testing
# =====================================================================

@query(
    "g_test_dow_events",
    """
    WITH cells AS (
      SELECT event_type, isodow(CAST(ts AS DATE)) AS dow,
             COUNT(*) AS o
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT SUM(o) AS n, COUNT(DISTINCT event_type) AS r,
             COUNT(DISTINCT dow) AS c
      FROM cells
    ), marg AS (
      SELECT c.event_type, c.dow, c.o,
             SUM(c.o) OVER (PARTITION BY c.event_type) AS rt,
             SUM(c.o) OVER (PARTITION BY c.dow) AS ct
      FROM cells c
    )
    SELECT CAST(t.n AS BIGINT) AS n_events,
           CAST((t.r - 1) * (t.c - 1) AS BIGINT) AS df,
           ROUND(2 * SUM(CASE WHEN m.o > 0 THEN m.o * LN(
                 m.o / (CAST(m.rt AS DOUBLE) * m.ct / t.n)) ELSE 0 END),
                 6) AS g_stat
    FROM marg m CROSS JOIN tot t
    GROUP BY t.n, t.r, t.c
    """,
)
def g_test_dow_q(spark, sf_dir):
    """Log-likelihood-ratio test of independence (G-test) on the
    event_type × ISO-day-of-week contingency table — the
    information-theoretic twin of the Pearson χ² drift gate
    (G = 2·Σ O·ln(O/E) = 2N·MI in nats, additive under partitioning
    where χ² is not, which is why G is the right form to MERGE across
    shards at 100 TB).  One hash agg reduces the corpus to the r×c
    grid; marginals are windows over that literal grid.  Zero cells
    contribute 0 (lim x·ln x = 0).  Spark weekday()+1 ≙ DuckDB
    isodow."""
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type", (F.weekday(F.to_date("ts")) + 1).alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    m = (
        cells.withColumn(
            "rt", F.sum("o").over(Window.partitionBy("event_type"))
        )
        .withColumn("ct", F.sum("o").over(Window.partitionBy("dow")))
        .withColumn("n", F.sum("o").over(Window.partitionBy()))
        .withColumn(
            "r",
            F.size(
                F.collect_set("event_type").over(Window.partitionBy())
            ),
        )
        .withColumn(
            "c", F.size(F.collect_set("dow").over(Window.partitionBy()))
        )
    )
    term = F.when(
        F.col("o") > 0,
        F.col("o")
        * F.log(
            F.col("o")
            / (F.col("rt").cast("double") * F.col("ct") / F.col("n"))
        ),
    ).otherwise(F.lit(0.0))
    return (
        m.groupBy("n", "r", "c")
        .agg(F.round(2 * F.sum(term), 6).alias("g_stat"))
        .select(
            F.col("n").cast("bigint").alias("n_events"),
            ((F.col("r") - 1) * (F.col("c") - 1))
            .cast("bigint")
            .alias("df"),
            "g_stat",
        )
    )


@query(
    "brown_forsythe_orders",
    """
    WITH med AS (
      SELECT o_orderpriority,
             quantile_cont(CAST(ROUND(o_totalprice * 100) AS BIGINT), 0.5)
               AS med_c
      FROM orders GROUP BY o_orderpriority
    ), w AS (
      SELECT o.o_orderpriority,
             CAST(ROUND(2 * ABS(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                                - m.med_c)) AS BIGINT) AS w
      FROM orders o JOIN med m USING (o_orderpriority)
    ), cells AS (
      SELECT o_orderpriority, COUNT(*) AS n, SUM(w) AS s,
             SUM(CAST(w AS HUGEINT) * w) AS ss
      FROM w GROUP BY o_orderpriority
    ), agg AS (
      SELECT COUNT(*) AS k, SUM(n) AS n,
             SUM(CAST(s AS DOUBLE) * s / n) AS sb_raw,
             SUM(s) AS gs, SUM(CAST(ss AS DOUBLE)) AS gss
      FROM cells
    )
    SELECT CAST(n AS BIGINT) AS n_orders, CAST(k AS BIGINT) AS n_groups,
           ROUND(((sb_raw - CAST(gs AS DOUBLE) * gs / n) / (k - 1))
                 / ((gss - sb_raw) / (n - k)), 6) AS f_stat
    FROM agg
    """,
)
def brown_forsythe_q(spark, sf_dir):
    """Brown–Forsythe (median-based Levene) test of variance
    homogeneity across order priorities — the gatekeeper for the
    equal-variance assumption upstream of the pooled-variance tests.
    One-way ANOVA F on w = |x − median_g|: medians per group over
    exact integer cents, then w doubled so the k+0.5 median case
    stays EXACT integer; squared sums accumulate decimal(38,0) ≙
    HUGEINT (w² ≤ 1e16 × 150k rows overflows int64 at sf0.1).  Spark
    percentile ≙ DuckDB quantile_cont (parity pinned by the weighted
    median gate)."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    med = o.groupBy("o_orderpriority").agg(
        F.percentile(cents, F.lit(0.5)).alias("med_c")
    )
    w = (
        o.select("o_orderpriority", cents.alias("c"))
        .join(med, "o_orderpriority")
        .select(
            "o_orderpriority",
            F.round(2 * F.abs(F.col("c") - F.col("med_c")))
            .cast("bigint")
            .alias("w"),
        )
    )
    cells = w.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("w").alias("s"),
        F.sum(F.col("w").cast("decimal(38,0)") * F.col("w")).alias("ss"),
    )
    agg = cells.groupBy().agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n"),
        F.sum(F.col("s").cast("double") * F.col("s") / F.col("n")).alias(
            "sb_raw"
        ),
        F.sum("s").alias("gs"),
        F.sum(F.col("ss").cast("double")).alias("gss"),
    )
    ssb = F.col("sb_raw") - F.col("gs").cast("double") * F.col("gs") / F.col(
        "n"
    )
    ssw = F.col("gss") - F.col("sb_raw")
    return agg.select(
        F.col("n").cast("bigint").alias("n_orders"),
        F.col("k").cast("bigint").alias("n_groups"),
        F.round(
            (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))), 6
        ).alias("f_stat"),
    )


@query(
    "tukey_hsd_priority_orders",
    """
    WITH cells AS (
      SELECT o_orderpriority AS g, COUNT(*) AS n,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS s,
             SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS HUGEINT)
                 * CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS ss
      FROM orders GROUP BY o_orderpriority
    ), msw AS (
      SELECT SUM(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
               / (SUM(n) - COUNT(*)) AS msw
      FROM cells
    )
    SELECT a.g AS g_a, b.g AS g_b,
           ROUND((CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
                 / 100.0, 4) AS mean_diff,
           ROUND(ABS(CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
                 / sqrt(m.msw / 2 * (1.0 / a.n + 1.0 / b.n)), 6) AS q_stat,
           ABS(CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
                 / sqrt(m.msw / 2 * (1.0 / a.n + 1.0 / b.n)) > 3.858
             AS significant
    FROM cells a JOIN cells b ON a.g < b.g CROSS JOIN msw m
    ORDER BY g_a, g_b
    """,
)
def tukey_hsd_q(spark, sf_dir):
    """Tukey HSD post-hoc sweep after the ANOVA omnibus: every pair of
    order-priority groups gets the studentized-range statistic
    q = |x̄_a − x̄_b| / √(MSW/2 · (1/n_a + 1/n_b)) with the
    Tukey–Kramer unequal-n correction, flagged at q₀.₀₅(k=5, df=∞) =
    3.858 (fixed critical constant, documented — no p interpolation).
    The corpus reduces to k=5 exact integer-cents moment cells; the
    pair sweep is a self-join of a 5-row frame (broadcast, k² pairs).
    Means/MSW in cents, mean_diff reported in dollars."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    cells = o.groupBy(F.col("o_orderpriority").alias("g")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s"),
        F.sum(cents.cast("decimal(38,0)") * cents).alias("ss"),
    )
    msw = cells.groupBy().agg(
        (
            F.sum(
                F.col("ss").cast("double")
                - F.col("s").cast("double") * F.col("s") / F.col("n")
            )
            / (F.sum("n") - F.count(F.lit(1)))
        ).alias("msw")
    )
    a, b = cells.alias("a"), cells.alias("b")
    mean_a = F.col("a.s").cast("double") / F.col("a.n")
    mean_b = F.col("b.s").cast("double") / F.col("b.n")
    se = F.sqrt(
        F.col("msw") / 2 * (1.0 / F.col("a.n") + 1.0 / F.col("b.n"))
    )
    qstat = F.abs(mean_a - mean_b) / se
    return (
        a.join(b, F.col("a.g") < F.col("b.g"))
        .join(F.broadcast(msw), F.lit(True))
        .select(
            F.col("a.g").alias("g_a"),
            F.col("b.g").alias("g_b"),
            F.round((mean_a - mean_b) / 100.0, 4).alias("mean_diff"),
            F.round(qstat, 6).alias("q_stat"),
            (qstat > 3.858).alias("significant"),
        )
        .orderBy("g_a", "g_b")
    )


@query(
    "kruskal_wallis_dow_value_events",
    """
    WITH obs AS (
      SELECT event_type, isodow(CAST(ts AS DATE)) AS dow,
             CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events
    ), hist AS (
      SELECT event_type, v, COUNT(*) AS t FROM obs GROUP BY event_type, v
    ), rk AS (
      SELECT event_type, v, t,
             SUM(t) OVER (PARTITION BY event_type ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS cum_before
      FROM hist
    ), rank_of AS (
      SELECT event_type, v,
             COALESCE(cum_before, 0) + (t + 1) / 2.0 AS avg_rank, t
      FROM rk
    ), grp AS (
      SELECT o.event_type, o.dow, COUNT(*) AS nj, SUM(r.avg_rank) AS rj
      FROM obs o JOIN rank_of r ON o.event_type = r.event_type AND o.v = r.v
      GROUP BY o.event_type, o.dow
    ), n AS (
      SELECT event_type, SUM(nj) AS n FROM grp GROUP BY event_type
    ), tie AS (
      SELECT event_type,
             SUM(CAST(t AS DOUBLE) * t * t - t) AS tie_sum
      FROM rank_of GROUP BY event_type
    ), h AS (
      SELECT g.event_type, ANY_VALUE(n.n) AS n, COUNT(*) AS k,
             12.0 / (ANY_VALUE(n.n) * (ANY_VALUE(n.n) + 1.0))
               * SUM(g.rj * g.rj / g.nj)
               - 3 * (ANY_VALUE(n.n) + 1.0) AS h_raw
      FROM grp g JOIN n ON g.event_type = n.event_type
      GROUP BY g.event_type
    )
    SELECT h.event_type, CAST(h.n AS BIGINT) AS n_events,
           CAST(h.k AS BIGINT) AS n_groups,
           ROUND(h.h_raw, 6) AS h_stat,
           ROUND(h.h_raw / (1 - t.tie_sum
                 / (CAST(h.n AS DOUBLE) * h.n * h.n - h.n)), 6)
             AS h_tie_adj
    FROM h JOIN tie t ON h.event_type = t.event_type
    ORDER BY h.event_type
    """,
)
def kruskal_wallis_q(spark, sf_dir):
    """Kruskal–Wallis rank test of event value across day-of-week
    groups per event type — the distribution-free twin of the ANOVA
    omnibus gate, with the exact tie correction.  The 100 TB shape:
    average ranks come from the cumulative window over the QUANTIZED
    value histogram (×100 cents grid, ≤|domain| rows per type), never
    a per-row sort — rank_of is a bounded-grid frame joined back to
    the (type, dow, v) counts, so the only row-scale operations are
    two hash aggs.  Ranks are exact halves (k or k+0.5) → R_j sums
    exact; tie term uses Σ(t³−t) over the same histogram."""
    e = load_table(spark, sf_dir, "events")
    obs = e.select(
        "event_type",
        (F.weekday(F.to_date("ts")) + 1).alias("dow"),
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    hist = obs.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("t"))
    wv = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rank_of = hist.select(
        "event_type",
        "v",
        "t",
        (
            F.coalesce(F.sum("t").over(wv), F.lit(0))
            + (F.col("t") + 1) / 2.0
        ).alias("avg_rank"),
    )
    grp = (
        obs.groupBy("event_type", "dow", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .join(rank_of, ["event_type", "v"])
        .groupBy("event_type", "dow")
        .agg(
            F.sum("c").alias("nj"),
            F.sum(F.col("c") * F.col("avg_rank")).alias("rj"),
        )
    )
    n = grp.groupBy("event_type").agg(F.sum("nj").alias("n"))
    tie = rank_of.groupBy("event_type").agg(
        F.sum(
            F.col("t").cast("double") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tie_sum")
    )
    h = (
        grp.join(n, "event_type")
        .groupBy("event_type")
        .agg(
            F.first("n").alias("n"),
            F.count(F.lit(1)).alias("k"),
            (
                12.0
                / (F.first("n") * (F.first("n") + 1.0))
                * F.sum(F.col("rj") * F.col("rj") / F.col("nj"))
                - 3 * (F.first("n") + 1.0)
            ).alias("h_raw"),
        )
    )
    return (
        h.join(tie, "event_type")
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_events"),
            F.col("k").cast("bigint").alias("n_groups"),
            F.round("h_raw", 6).alias("h_stat"),
            F.round(
                F.col("h_raw")
                / (
                    1
                    - F.col("tie_sum")
                    / (
                        F.col("n").cast("double")
                        * F.col("n")
                        * F.col("n")
                        - F.col("n")
                    )
                ),
                6,
            ).alias("h_tie_adj"),
        )
        .orderBy("event_type")
    )


@query(
    "sprt_purchase_rate_events",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
      FROM events GROUP BY 1
    ), llr AS (
      SELECT day, n, x,
             x * LN(0.22 / 0.18) + (n - x) * LN(0.78 / 0.82) AS llr_day
      FROM daily
    )
    SELECT day, CAST(n AS BIGINT) AS n_events, CAST(x AS BIGINT) AS n_purch,
           ROUND(llr_day, 6) AS llr_day,
           ROUND(SUM(llr_day) OVER (ORDER BY day), 6) AS cum_llr,
           CASE WHEN SUM(llr_day) OVER (ORDER BY day) >= LN(0.9 / 0.05)
                THEN 'accept_h1'
                WHEN SUM(llr_day) OVER (ORDER BY day) <= LN(0.1 / 0.95)
                THEN 'accept_h0'
                ELSE 'continue' END AS state
    FROM llr ORDER BY day
    """,
)
def sprt_q(spark, sf_dir):
    """Wald's sequential probability ratio test on the daily purchase
    rate — H0: p = 0.18 vs H1: p = 0.22 (α = 0.05, β = 0.10, all
    fixed documented constants): per day the binomial log-likelihood
    ratio increment, cumulated in day order, labeled against the Wald
    boundaries ln((1−β)/α) / ln(β/(1−α)).  This is the always-valid
    sequential family's simplest member (the group-sequential monitor
    gate is its z-test sibling); the corpus reduces to one row per
    day before any window, so the ordered cumulation runs on a
    bounded series.  State is per-day (non-sticky) by contract —
    the first-crossing day is visible as the first non-continue
    row."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("x"),
    )
    import math

    la = math.log(0.22 / 0.18)
    lb = math.log(0.78 / 0.82)
    hi = math.log(0.9 / 0.05)
    lo = math.log(0.1 / 0.95)
    llr = daily.withColumn(
        "llr_day", F.col("x") * la + (F.col("n") - F.col("x")) * lb
    )
    wd = Window.orderBy("day")
    cum = F.sum("llr_day").over(wd)
    return llr.select(
        "day",
        F.col("n").cast("bigint").alias("n_events"),
        F.col("x").cast("bigint").alias("n_purch"),
        F.round("llr_day", 6).alias("llr_day"),
        F.round(cum, 6).alias("cum_llr"),
        F.when(cum >= hi, "accept_h1")
        .when(cum <= lo, "accept_h0")
        .otherwise("continue")
        .alias("state"),
    ).orderBy("day")


@query(
    "page_hinkley_daily_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 100.0 AS m
      FROM events GROUP BY 1, 2
    ), acc AS (
      SELECT event_type, day, m,
             AVG(m) OVER (PARTITION BY event_type ORDER BY day) AS rm
      FROM daily
    ), mt AS (
      SELECT event_type, day, m, rm,
             SUM(m - rm - 0.005) OVER (PARTITION BY event_type
                                       ORDER BY day) AS mt
      FROM acc
    )
    SELECT event_type, day, ROUND(m, 6) AS daily_mean,
           ROUND(mt - MIN(mt) OVER (PARTITION BY event_type ORDER BY day),
                 6) AS ph_stat,
           mt - MIN(mt) OVER (PARTITION BY event_type ORDER BY day) > 5.0
             AS alarm
    FROM mt ORDER BY event_type, day
    """,
)
def page_hinkley_q(spark, sf_dir):
    """Page–Hinkley upward-drift monitor on each event type's daily
    mean value: M_t = Σ_{i≤t}(x_i − x̄_i − δ) with the running mean
    x̄_i and allowance δ = 0.005, PH_t = M_t − min_{s≤t} M_s, alarm
    past λ = 5 — the classic sequential change detector (the CUSUM
    gate's self-normalizing sibling; this variant needs no known
    baseline mean).  The corpus reduces to one exact integer-cents
    row per (type, day) before the three ordered windows, all over
    the bounded daily series.  Daily means divide exact integer sums
    so both engines see identical doubles.  The moment builder and
    readout are SHARED with the streaming twin
    (``streaming.run_drift_monitor`` folds the same additive
    day-level state; ``drift_ph_series`` reads it through these very
    expressions), so streamed ≡ batch bit-for-bit."""
    from ..operators.profile import drift_daily_moments, page_hinkley_report

    e = load_table(spark, sf_dir, "events")
    return page_hinkley_report(drift_daily_moments(e))


@query(
    "ewma_control_chart_events",
    """
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 100.0 AS x
      FROM events GROUP BY 1, 2
    ), num AS (
      SELECT event_type, day, x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM daily
    ), base AS (
      SELECT event_type, AVG(x) AS mu,
             sqrt((SUM(x * x) - SUM(x) * SUM(x) / COUNT(*))
                  / (COUNT(*) - 1)) AS sigma
      FROM daily GROUP BY event_type
    ), ew AS (
      SELECT event_type, day, rn, x, x AS s FROM num WHERE rn = 1
      UNION ALL
      SELECT n.event_type, n.day, n.rn, n.x, 0.25 * n.x + 0.75 * e.s
      FROM num n JOIN ew e
        ON n.event_type = e.event_type AND n.rn = e.rn + 1
    )
    SELECT e.event_type, e.day, ROUND(e.x, 6) AS daily_mean,
           ROUND(e.s, 6) AS ewma,
           ROUND(b.mu + 3 * b.sigma * sqrt(0.25 / 1.75
                 * (1 - power(0.5625, e.rn))), 6) AS ucl,
           ROUND(b.mu - 3 * b.sigma * sqrt(0.25 / 1.75
                 * (1 - power(0.5625, e.rn))), 6) AS lcl,
           e.s > b.mu + 3 * b.sigma * sqrt(0.25 / 1.75
                 * (1 - power(0.5625, e.rn)))
           OR e.s < b.mu - 3 * b.sigma * sqrt(0.25 / 1.75
                 * (1 - power(0.5625, e.rn))) AS out_of_control
    FROM ew e JOIN base b ON e.event_type = b.event_type
    ORDER BY e.event_type, e.day
    """,
)
def ewma_chart_q(spark, sf_dir):
    """EWMA control chart (λ = 1/4) on each event type's daily mean:
    s_t = λx_t + (1−λ)s_{t−1} with exact dyadic arithmetic (0.25 and
    0.75 are powers-of-two sums, so Spark's fold and the oracle's
    recursive CTE produce bit-identical levels — the SES gate's
    trick), against the finite-horizon control limits
    μ ± 3σ·√(λ/(2−λ)·(1−(1−λ)^{2t})).  μ/σ are the in-control
    estimates from the whole daily series.  The recursion walks the
    BOUNDED per-type daily array inside one applyInPandas kernel —
    the stream-ready shape (the experiment monitor folds the same
    daily deltas)."""
    import pandas as pd

    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        (
            F.sum(cents).cast("double") / F.count(F.lit(1)) / 100.0
        ).alias("x")
    )
    base = daily.groupBy("event_type").agg(
        F.avg("x").alias("mu"),
        F.sqrt(
            (
                F.sum(F.col("x") * F.col("x"))
                - F.sum("x") * F.sum("x") / F.count(F.lit(1))
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("sigma"),
    )

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        s = None
        out = []
        for x in pdf["x"]:
            s = x if s is None else 0.25 * x + 0.75 * s
            out.append(s)
        pdf["s"] = out
        pdf["rn"] = range(1, len(pdf) + 1)
        return pdf

    ew = daily.groupBy("event_type").applyInPandas(
        ewma, "event_type string, day date, x double, s double, rn long"
    )
    width = 3 * F.col("sigma") * F.sqrt(
        F.lit(0.25 / 1.75) * (1 - F.pow(F.lit(0.5625), F.col("rn")))
    )
    ucl = F.col("mu") + width
    lcl = F.col("mu") - width
    return (
        ew.join(base, "event_type")
        .select(
            "event_type",
            "day",
            F.round("x", 6).alias("daily_mean"),
            F.round("s", 6).alias("ewma"),
            F.round(ucl, 6).alias("ucl"),
            F.round(lcl, 6).alias("lcl"),
            ((F.col("s") > ucl) | (F.col("s") < lcl)).alias(
                "out_of_control"
            ),
        )
        .orderBy("event_type", "day")
    )


# =====================================================================
# Round-8 wave: stylometry / corpus similarity / keyword extraction
# =====================================================================

@query(
    "burrows_delta_sources_docs",
    r"""
    WITH toks AS (
      SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+'))
               AS w
      FROM documents
    ), wc AS (
      SELECT source, w, COUNT(*) AS c FROM toks GROUP BY source, w
    ), tot AS (
      SELECT source, SUM(c) AS t FROM wc GROUP BY source
    ), top AS (
      SELECT w FROM wc GROUP BY w
      ORDER BY SUM(c) DESC, w LIMIT 20
    ), grid AS (
      SELECT tot.source, top.w,
             1000.0 * COALESCE(wc.c, 0) / tot.t AS f
      FROM tot CROSS JOIN top
      LEFT JOIN wc ON wc.source = tot.source AND wc.w = top.w
    ), stats AS (
      SELECT w, COUNT(*) AS ns, SUM(f) AS sf, SUM(f * f) AS sff
      FROM grid GROUP BY w
    ), z AS (
      SELECT g.source, g.w,
             (g.f - s.sf / s.ns)
             / sqrt((s.sff - s.sf * s.sf / s.ns) / (s.ns - 1)) AS z
      FROM grid g JOIN stats s ON g.w = s.w
    ), delta AS (
      SELECT a.source AS s_a, b.source AS s_b,
             AVG(ABS(a.z - b.z)) AS delta
      FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
      GROUP BY a.source, b.source
    ), ranked AS (
      SELECT s_a, s_b, delta,
             ROW_NUMBER() OVER (ORDER BY delta ASC, s_a, s_b) AS rn
      FROM delta
    )
    SELECT s_a, s_b, ROUND(delta, 6) AS burrows_delta
    FROM ranked WHERE rn <= 10 ORDER BY burrows_delta, s_a, s_b
    """,
)
def burrows_delta_q(spark, sf_dir):
    """Burrows' Delta stylometric distance between sources: the 20
    highest-frequency corpus words become the feature set, each
    source's per-1000-token rate is z-scored across sources per word,
    and Delta(a,b) = mean |z_a − z_b| — the standard
    authorship-attribution measure (Burrows 2002); the 10 most
    similar source pairs surface.  The corpus reduces to the
    |sources|×20 rate grid via two hash aggs; everything after
    (z-scores, the pair sweep) runs on that literal grid.  Std is the
    explicit moment formula, IDENTICAL expression both engines —
    never the builtin stddev (single-pass vs Welford would diverge in
    the last ulp)."""
    from ..operators.dedup import tokens_of

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(tokens_of(F.col("text"))).alias("w")
    )
    wc = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    tot = wc.groupBy("source").agg(F.sum("c").alias("t"))
    top = (
        wc.groupBy("w")
        .agg(F.sum("c").alias("cw"))
        .orderBy(F.col("cw").desc(), "w")
        .limit(20)
        .select("w")
    )
    grid = (
        tot.crossJoin(F.broadcast(top))
        .join(wc, ["source", "w"], "left")
        .select(
            "source",
            "w",
            (
                1000.0
                * F.coalesce(F.col("c"), F.lit(0))
                / F.col("t")
            ).alias("f"),
        )
    )
    stats = grid.groupBy("w").agg(
        F.count(F.lit(1)).alias("ns"),
        F.sum("f").alias("sf"),
        F.sum(F.col("f") * F.col("f")).alias("sff"),
    )
    z = grid.join(stats, "w").select(
        "source",
        "w",
        (
            (F.col("f") - F.col("sf") / F.col("ns"))
            / F.sqrt(
                (F.col("sff") - F.col("sf") * F.col("sf") / F.col("ns"))
                / (F.col("ns") - 1)
            )
        ).alias("z"),
    )
    a, b = z.alias("a"), z.alias("b")
    delta = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("s_a"), F.col("b.source").alias("s_b")
        )
        .agg(F.avg(F.abs(F.col("a.z") - F.col("b.z"))).alias("delta"))
    )
    return (
        delta.orderBy(F.col("delta").asc(), "s_a", "s_b")
        .limit(10)
        .select(
            "s_a", "s_b", F.round("delta", 6).alias("burrows_delta")
        )
        .orderBy("burrows_delta", "s_a", "s_b")
    )


@query(
    "char_trigram_source_similarity_docs",
    """
    WITH s AS (
      SELECT source, lower(trim(text)) AS t FROM documents
      WHERE len(lower(trim(text))) >= 3
    ), grams AS (
      SELECT source, substring(t, i, 3) AS g,
             COUNT(*) AS c
      FROM (SELECT source, t, unnest(range(1, len(t) - 1)) AS i FROM s)
      GROUP BY source, substring(t, i, 3)
    ), norms AS (
      SELECT source, SUM(CAST(c AS HUGEINT) * c) AS nrm FROM grams
      GROUP BY source
    ), dots AS (
      SELECT a.source AS s_a, b.source AS s_b,
             SUM(CAST(a.c AS HUGEINT) * b.c) AS dot
      FROM grams a JOIN grams b
        ON a.g = b.g AND a.source < b.source
      GROUP BY a.source, b.source
    ), cosine AS (
      SELECT d.s_a, d.s_b,
             CAST(d.dot AS DOUBLE)
             / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE)))
               AS cos
      FROM dots d JOIN norms na ON na.source = d.s_a
                  JOIN norms nb ON nb.source = d.s_b
    ), ranked AS (
      SELECT s_a, s_b, cos,
             ROW_NUMBER() OVER (ORDER BY cos DESC, s_a, s_b) AS rn
      FROM cosine
    )
    SELECT s_a, s_b, ROUND(cos, 6) AS cosine
    FROM ranked WHERE rn <= 10 ORDER BY cosine DESC, s_a, s_b
    """,
)
def char_trigram_sim_q(spark, sf_dir):
    """Character-trigram profile cosine between sources — the
    language/style fingerprint underlying classic n-gram language ID
    (Cavnar–Trenkle), here as a source-pair similarity map (top-10
    pairs).  Per-source gram counts are one hash agg; the pair sweep
    is the postings self-join on the GRAM key (per-gram fan-out ≤
    |sources|, never all-pairs over rows); dot/norm products
    accumulate decimal(38,0) ≙ HUGEINT (counts² × gram variety passes
    int64 at sf1).  Spark 1-based substring ≙ DuckDB substring with
    range(1, len−1)."""
    d = load_table(spark, sf_dir, "documents")
    s = d.select(
        "source", F.lower(F.trim(F.col("text"))).alias("t")
    ).filter(F.length("t") >= 3)
    grams = checkpoint(
        s.select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("t") - 2),
                    lambda i: F.col("t").substr(i, F.lit(3)),
                )
            ).alias("g"),
        )
        .groupBy("source", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        # grams feeds norms AND both sides of the gram-keyed self-join:
        # without a lineage cut each consumer re-runs the trigram
        # explode + count from parquet (8 scans in the before-plan).
    )
    norms = grams.groupBy("source").agg(
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("nrm")
    )
    a, b = grams.alias("a"), grams.alias("b")
    dots = (
        # hint("merge"): the gram-keyed frame scales with corpus
        # vocabulary — never broadcast on a plan-time size estimate
        a.join(
            b.hint("merge"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("s_a"), F.col("b.source").alias("s_b")
        )
        .agg(
            F.sum(
                F.col("a.c").cast("decimal(38,0)") * F.col("b.c")
            ).alias("dot")
        )
    )
    cos = (
        dots.join(
            norms.select(
                F.col("source").alias("s_a"), F.col("nrm").alias("na")
            ),
            "s_a",
        )
        .join(
            norms.select(
                F.col("source").alias("s_b"), F.col("nrm").alias("nb")
            ),
            "s_b",
        )
        .select(
            "s_a",
            "s_b",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                )
            ).alias("cos"),
        )
    )
    return (
        cos.orderBy(F.col("cos").desc(), "s_a", "s_b")
        .limit(10)
        .select("s_a", "s_b", F.round("cos", 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "s_a", "s_b")
    )


@query(
    "spectral_entropy_daily_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1
               AS t,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM daily
    ), terms AS (
      SELECT event_type, n, k.k,
             SUM(x * cos(-2 * pi() * k.k * t / n)) AS a,
             SUM(x * sin(-2 * pi() * k.k * t / n)) AS b
      FROM idx CROSS JOIN
           (SELECT unnest(range(1, 200)) AS k) k
      WHERE k.k <= n // 2
      GROUP BY event_type, n, k.k
    ), power AS (
      SELECT event_type, n, k, a * a + b * b AS p,
             SUM(a * a + b * b) OVER (PARTITION BY event_type) AS ptot,
             COUNT(*) OVER (PARTITION BY event_type) AS nk
      FROM terms
    ), ent AS (
      SELECT event_type, ANY_VALUE(n) AS n, ANY_VALUE(nk) AS nk,
             -SUM(CASE WHEN p > 0 THEN p / ptot * LN(p / ptot)
                       ELSE 0 END) AS h
      FROM power GROUP BY event_type
    ), peak AS (
      SELECT event_type, k AS peak_k, p / ptot AS peak_share,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY p DESC, k ASC) AS rn
      FROM power
    )
    SELECT e.event_type, CAST(e.n AS BIGINT) AS n_days,
           CAST(e.nk AS BIGINT) AS n_freqs,
           ROUND(e.h, 6) AS spectral_entropy,
           ROUND(e.h / LN(e.nk), 6) AS normalized_entropy,
           CAST(p.peak_k AS BIGINT) AS peak_k,
           ROUND(p.peak_share, 6) AS peak_share
    FROM ent e JOIN peak p ON e.event_type = p.event_type AND p.rn = 1
    ORDER BY e.event_type
    """,
)
def spectral_entropy_q(spark, sf_dir):
    """Spectral entropy of each event type's daily-count series: an
    O(n²) exact DFT over the BOUNDED daily grid (n ≤ series days, so
    the day×frequency term table is ≤ n²/2 rows per type — the
    periodogram, not an approximation), Shannon entropy of the
    normalized power spectrum, plus the peak frequency bin and its
    power share.  Low entropy = strongly periodic (the seasonality
    the SAX/ACF gates see), high = white-noise-like.  The corpus
    reduces to one integer count per (type, day) before the grid
    join; integer inputs keep the cos/sin sums' cross-engine drift
    below the ROUND(6) horizon."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    wt = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "x",
        (F.row_number().over(wt.orderBy("day")) - 1).alias("t"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    ks = idx.select(
        "event_type",
        "x",
        "t",
        "n",
        F.explode(
            F.sequence(F.lit(1), (F.col("n") / 2).cast("int"))
        ).alias("k"),
    )
    import math

    ang = -2 * math.pi * F.col("k") * F.col("t") / F.col("n")
    terms = ks.groupBy("event_type", "n", "k").agg(
        F.sum(F.col("x") * F.cos(ang)).alias("a"),
        F.sum(F.col("x") * F.sin(ang)).alias("b"),
    )
    p = F.col("a") * F.col("a") + F.col("b") * F.col("b")
    power = terms.select(
        "event_type",
        "n",
        "k",
        p.alias("p"),
        F.sum(p).over(wt).alias("ptot"),
        F.count(F.lit(1)).over(wt).alias("nk"),
    )
    ent = power.groupBy("event_type").agg(
        F.first("n").alias("n"),
        F.first("nk").alias("nk"),
        (
            -F.sum(
                F.when(
                    F.col("p") > 0,
                    F.col("p")
                    / F.col("ptot")
                    * F.log(F.col("p") / F.col("ptot")),
                ).otherwise(F.lit(0.0))
            )
        ).alias("h"),
    )
    peak = (
        power.withColumn(
            "rn",
            F.row_number().over(
                wt.orderBy(F.col("p").desc(), F.col("k").asc())
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("k").alias("peak_k"),
            (F.col("p") / F.col("ptot")).alias("peak_share"),
        )
    )
    return (
        ent.join(peak, "event_type")
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_days"),
            F.col("nk").cast("bigint").alias("n_freqs"),
            F.round("h", 6).alias("spectral_entropy"),
            F.round(F.col("h") / F.log(F.col("nk")), 6).alias(
                "normalized_entropy"
            ),
            F.col("peak_k").cast("bigint").alias("peak_k"),
            F.round("peak_share", 6).alias("peak_share"),
        )
        .orderBy("event_type")
    )


# =====================================================================
# Round-8 wave: eval separation / ANN diagnostics / sketch set ops
# =====================================================================

@query("ks_separation_quality_docs", None)  # oracle attached below
def ks_separation_q(spark, sf_dir):
    """Kolmogorov–Smirnov separation of the hashed-classifier score
    between long and short documents — the credit-scoring "KS
    statistic" (max CDF gap) that complements ROC-AUC with WHERE the
    discrimination peaks (the natural operating threshold).  Same
    bounded shape as the AUC gate: scores quantize to the literal
    1001-bucket grid, one cumulative window over the grid, KS = max
    |F₁(b) − F₀(b)| with the first-peak bin as tiebreak.  Exact
    integer cumulative counts; one division per bucket at the end."""
    from .wave6_ts import _score_bin, _scored_docs

    scored = _scored_docs(spark, sf_dir).select(
        "y", _score_bin(F.col("score")).alias("bin")
    )
    g = scored.groupBy("bin").agg(
        F.sum("y").alias("pos"),
        F.sum(F.lit(1) - F.col("y")).alias("neg"),
    )
    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy()
    cum = g.select(
        "bin",
        F.sum("pos").over(w).alias("cpos"),
        F.sum("neg").over(w).alias("cneg"),
        F.sum("pos").over(tot).alias("n1"),
        F.sum("neg").over(tot).alias("n0"),
    )
    gap = F.abs(
        F.col("cpos").cast("double") / F.col("n1")
        - F.col("cneg").cast("double") / F.col("n0")
    )
    ranked = cum.select(
        "bin",
        "n1",
        "n0",
        gap.alias("gap"),
        F.row_number()
        .over(Window.orderBy(gap.desc(), F.col("bin").asc()))
        .alias("rn"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        F.col("n1").cast("bigint").alias("n_pos"),
        F.col("n0").cast("bigint").alias("n_neg"),
        F.round("gap", 6).alias("ks_stat"),
        F.col("bin").cast("bigint").alias("ks_bin"),
    )


def _ks_separation_oracle() -> str:
    from .wave6_ts import _scored_sql

    return f"""
    WITH {_scored_sql()}, b AS (
      SELECT y, CAST(floor(LEAST(GREATEST(score, 0.0), 1.0) * 1000)
                     AS INTEGER) AS bin
      FROM scored
    ), g AS (
      SELECT bin, SUM(y) AS pos, SUM(1 - y) AS neg
      FROM b GROUP BY bin
    ), cum AS (
      SELECT bin,
             SUM(pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cpos,
             SUM(neg) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cneg,
             SUM(pos) OVER () AS n1, SUM(neg) OVER () AS n0
      FROM g
    ), ranked AS (
      SELECT bin, n1, n0,
             ABS(CAST(cpos AS DOUBLE) / n1 - CAST(cneg AS DOUBLE) / n0)
               AS gap,
             ROW_NUMBER() OVER (ORDER BY
               ABS(CAST(cpos AS DOUBLE) / n1 - CAST(cneg AS DOUBLE) / n0)
                 DESC, bin ASC) AS rn
      FROM cum
    )
    SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
           ROUND(gap, 6) AS ks_stat, CAST(bin AS BIGINT) AS ks_bin
    FROM ranked WHERE rn = 1
    """


O["ks_separation_quality_docs"] = _ks_separation_oracle()


@query("pq_distortion_embeddings", None)  # oracle attached below (generated)
def pq_distortion_q(spark, sf_dir):
    """Product-quantization reconstruction distortion per subspace —
    the codebook-quality diagnostic behind every PQ deployment
    decision (how much ADC error does 4 bytes/vector buy?): per
    subspace, the squared-L2 between each vector's slice and its
    nearest codeword (= the encode-time min over the SAME literal
    distance chains the ADC gate pins), averaged corpus-wide, plus
    the worst-reconstructed vector.  Map-only over vectors, one
    m-row report; the per-row chains are bit-identical in SQL, the
    per-subspace mean rounds at 6 (ulp-level fold-order drift only).

    The per-row min-distance projection runs on the
    ``pq_subspace_errors_arrow`` numpy kernel, NOT the literal
    expression chains: 4×16×16 = 1024 chained terms blow janino's
    64 KB whole-stage-codegen method limit, so the old single wide
    projection+aggregate threw ``InternalCompilerException: Code
    grows beyond 64 KB`` and silently ran interpreted (VERDICT r9
    #1).  The kernel accumulates per codeword in the same
    left-to-right IEEE-double order as the chains (parity pinned in
    test_wave8_ops), so the SQL oracle is unchanged; the downstream
    aggregate is 3m+1 small expressions that compile fine."""
    from ..operators.similarity import pq_codebooks, pq_subspace_errors_arrow

    cb = pq_codebooks(64, 4, 16, seed=11)
    m, _, sub = cb.shape
    emb = load_table(spark, sf_dir, "embeddings")
    errs = pq_subspace_errors_arrow(emb, cb)
    # ALL per-subspace stats in ONE aggregation pass (VERDICT r8 #2:
    # the old per-subspace .agg() loop launched 16 jobs = 16 full
    # corpus scans; at 100 TB that is 16 reads where one suffices) —
    # the single wide HashAggregate map-combines per partition, then
    # one bounded SinglePartition fold of 16x3+1 scalars; the m-row
    # report is unpivoted driver-free via inline().  No global rank
    # window — the argmax carries the smallest-id tiebreak inside a
    # struct max.
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_vecs")]
    for s in range(m):
        aggs += [
            F.round(F.avg(f"e{s}"), 6).alias(f"mse{s}"),
            F.round(F.max(f"e{s}"), 6).alias(f"maxe{s}"),
            F.max(
                F.struct(
                    F.col(f"e{s}").alias("err"),
                    (-F.col("vec_id")).alias("nid"),
                )
            )
            .getField("nid")
            .alias(f"nid{s}"),
        ]
    one = errs.agg(*aggs)
    return one.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("bigint").alias("subspace"),
                        F.col("n_vecs").alias("n_vecs"),
                        F.col(f"mse{s}").alias("mse"),
                        F.col(f"maxe{s}").alias("max_err"),
                        (-F.col(f"nid{s}")).cast("bigint").alias(
                            "worst_vec_id"
                        ),
                    )
                    for s in range(m)
                ]
            )
        )
    ).orderBy("subspace")


def _pq_distortion_oracle() -> str:
    """Same literal chains as ``_pq_adc_oracle``; per-subspace
    list_min is the reconstruction error."""
    from ..operators.similarity import pq_codebooks

    cb = pq_codebooks(64, 4, 16, seed=11)
    m, _, sub = cb.shape

    def chain(vals, base, var):
        return "(" + " + ".join(
            f"({var}[{base + i + 1}] - {float(v)!r})"
            f" * ({var}[{base + i + 1}] - {float(v)!r})"
            for i, v in enumerate(vals)
        ) + ")"

    dls = ",\n           ".join(
        "[" + ",\n            ".join(chain(c, s * sub, "e") for c in cb[s])
        + f"] AS dl{s}"
        for s in range(m)
    )
    branches = "\n      UNION ALL\n".join(
        f"""      SELECT {s} AS subspace, vec_id, list_min(dl{s}) AS err
      FROM d"""
        for s in range(m)
    )
    return f"""
    WITH c AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), d AS (
      SELECT vec_id,
           {dls}
      FROM c
    ), errs AS (
{branches}
    ), ranked AS (
      SELECT subspace, vec_id, err,
             ROW_NUMBER() OVER (PARTITION BY subspace
                                ORDER BY err DESC, vec_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY subspace) AS n,
             AVG(err) OVER (PARTITION BY subspace) AS mse
      FROM errs
    )
    SELECT CAST(subspace AS BIGINT) AS subspace, CAST(n AS BIGINT) AS n_vecs,
           ROUND(mse, 6) AS mse, ROUND(err, 6) AS max_err,
           CAST(vec_id AS BIGINT) AS worst_vec_id
    FROM ranked WHERE rn = 1 ORDER BY subspace
    """


O["pq_distortion_embeddings"] = _pq_distortion_oracle()


@query(
    "rp_distance_preservation_embeddings",
    """
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
      FROM embeddings WHERE vec_id < 50
    ), ex AS (
      SELECT vec_id, i.i AS i, CAST(embedding[i.i + 1] AS DOUBLE) AS x
      FROM embeddings, (SELECT unnest(range(0, 64)) AS i) i
      WHERE vec_id < 50
    ), signed AS (
      SELECT vec_id, i, x,
             (CAST(('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || j.j),
                    1, 8)) AS BIGINT) % 2) * 2 - 1 AS s,
             j.j AS j
      FROM ex, (SELECT unnest(['0','1','2','3']) AS j) j
    ), proj AS (
      SELECT vec_id, CAST(j AS INTEGER) AS j,
             CAST(ROUND(SUM(x * s), 4) AS DOUBLE) AS p
      FROM signed GROUP BY vec_id, j
    ), pv AS (
      SELECT vec_id, list(p ORDER BY j) AS p FROM proj GROUP BY vec_id
    ), pairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             list_sum(list_transform(range(1, 65),
               k -> CAST((a.v[k] - b.v[k]) * (a.v[k] - b.v[k]) AS DOUBLE)))
               / 1e12 AS d2o,
             (pa.p[1] - pb.p[1]) * (pa.p[1] - pb.p[1])
             + (pa.p[2] - pb.p[2]) * (pa.p[2] - pb.p[2])
             + (pa.p[3] - pb.p[3]) * (pa.p[3] - pb.p[3])
             + (pa.p[4] - pb.p[4]) * (pa.p[4] - pb.p[4]) AS d2p
      FROM base a JOIN base b ON a.vec_id < b.vec_id
      JOIN pv pa ON pa.vec_id = a.vec_id
      JOIN pv pb ON pb.vec_id = b.vec_id
    ), ratios AS (
      SELECT (d2p / 4.0) / (d2o / 64.0) AS r
      FROM pairs WHERE d2o > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(r), 6) AS mean_ratio,
           ROUND(MIN(r), 6) AS min_ratio,
           ROUND(MAX(r), 6) AS max_ratio,
           ROUND(AVG(CASE WHEN r BETWEEN 0.5 AND 2.0 THEN 1.0 ELSE 0.0 END),
                 6) AS frac_within_2x
    FROM ratios
    """,
)
def rp_preservation_q(spark, sf_dir):
    """Johnson–Lindenstrauss distance-preservation audit of the ±1
    random projection (64→4 dims): over a fixed 50-vector anchor set
    (1225 pairs, bounded by construction — the audit needs a sample,
    not the corpus), the per-dimension-normalized squared-distance
    ratio (d²_proj/4)/(d²_orig/64), whose mean ≈ 1 is the JL
    guarantee and whose spread is what a 4-dim sketch actually costs.
    Original distances are EXACT ×1e6-integer sums (the knn_exact
    convention); projected components round to 4 decimals on both
    sides before differencing (the projection gate's contract), so
    every ratio is bit-identical cross-engine."""
    from ..operators.similarity import random_projection

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 50
    )
    base = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1000000).cast("bigint"),
        ).alias("v"),
    )
    proj = random_projection(emb, "embedding", 4, id_col="vec_id").select(
        "vec_id",
        F.transform(
            "projected", lambda x: F.round(x, 4).cast("double")
        ).alias("p"),
    )
    a = base.alias("a").join(proj.alias("pa"), "vec_id").select(
        F.col("vec_id").alias("ia"),
        F.col("v").alias("va"),
        F.col("p").alias("pa"),
    )
    b = base.alias("b").join(proj.alias("pb"), "vec_id").select(
        F.col("vec_id").alias("ib"),
        F.col("v").alias("vb"),
        F.col("p").alias("pb"),
    )
    d2o = (
        F.aggregate(
            F.zip_with(
                F.col("va"), F.col("vb"), lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).cast("double")
        / 1e12
    )
    d2p = None
    for i in range(4):
        t = F.col("pa")[i] - F.col("pb")[i]
        term = t * t
        d2p = term if d2p is None else d2p + term
    pairs = (
        a.join(F.broadcast(b), F.col("ia") < F.col("ib"))
        .select(d2o.alias("d2o"), d2p.alias("d2p"))
        .filter(F.col("d2o") > 0)
        .select(((F.col("d2p") / 4.0) / (F.col("d2o") / 64.0)).alias("r"))
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.avg("r"), 6).alias("mean_ratio"),
        F.round(F.min("r"), 6).alias("min_ratio"),
        F.round(F.max("r"), 6).alias("max_ratio"),
        F.round(
            F.avg(
                F.when(
                    (F.col("r") >= 0.5) & (F.col("r") <= 2.0), 1.0
                ).otherwise(0.0)
            ),
            6,
        ).alias("frac_within_2x"),
    )


@query(
    "kmv_jaccard_daily_users_events",
    """
    WITH h AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS hv
      FROM events
    ), days AS (
      SELECT DISTINCT day FROM h
    ), pairs AS (
      SELECT d1.day AS day_a, d2.day AS day_b
      FROM days d1 JOIN days d2 ON d2.day = d1.day + INTERVAL 1 DAY
    ), uni AS (
      SELECT p.day_a, p.day_b, x.hv,
             MAX(CASE WHEN x.day = p.day_a THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN x.day = p.day_b THEN 1 ELSE 0 END) AS in_b
      FROM pairs p JOIN h x ON x.day = p.day_a OR x.day = p.day_b
      GROUP BY p.day_a, p.day_b, x.hv
    ), ranked AS (
      SELECT day_a, day_b, hv, in_a, in_b,
             ROW_NUMBER() OVER (PARTITION BY day_a
                                ORDER BY hv ASC) AS r,
             COUNT(*) OVER (PARTITION BY day_a) AS n_union
      FROM uni
    ), est AS (
      SELECT day_a, day_b,
             SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS shared,
             COUNT(*) AS k_u,
             ANY_VALUE(n_union) AS n_union
      FROM ranked WHERE r <= 64
      GROUP BY day_a, day_b
    ), exact AS (
      SELECT day_a, day_b,
             SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
               AS n_inter,
             COUNT(*) AS n_union
      FROM uni GROUP BY day_a, day_b
    )
    SELECT e.day_a, e.day_b,
           CAST(e.n_inter AS BIGINT) AS n_inter,
           CAST(e.n_union AS BIGINT) AS n_union,
           ROUND(CAST(e.n_inter AS DOUBLE) / e.n_union, 6) AS exact_jaccard,
           CAST(s.k_u AS BIGINT) AS k_used,
           ROUND(CAST(s.shared AS DOUBLE) / s.k_u, 6) AS kmv_jaccard
    FROM exact e JOIN est s ON e.day_a = s.day_a AND e.day_b = s.day_b
    ORDER BY e.day_a
    """,
)
def kmv_jaccard_q(spark, sf_dir):
    """Day-over-day user-set Jaccard from KMV bottom-k sketches
    (Beyer et al. 2007): for each consecutive-day pair, the bottom 64
    md5 hashes of the UNION act as a uniform sample of it, and the
    fraction of them present in both days estimates J(A,B) — the
    k-statistics set-operation trick that lets fixed-size per-day
    sketches answer intersection questions mergeably (exact distinct
    intersections don't merge; bottom-k unions do).  The exact
    Jaccard rides along as the calibration column — at 100 TB only
    the sketch path survives; md5 keeps both engines on the
    identical hash domain.  Deterministic: pure order statistics,
    no RNG.

    Scale shape (VERDICT r8 #5, retiring the old 12× bench
    override): (1) pair membership is a 2-row EXPLODE — each (day,
    hv) contributes (anchor=day, in_a) and (anchor=day−1, in_b) —
    folded by a hash agg and equi-joined to the broadcast pair
    frame, replacing the old OR-condition BNLJ; (2) the bottom-64
    rank is two-stage: a PARTITION-LOCAL bottom-64 pre-fold
    (groupBy(day_a, partition_id) → sorted-slice) caps what reaches
    the per-day rank window at 64 × #partitions rows — the old
    global window sorted each day's ENTIRE union in one task.
    Two-stage min-k is exact (bottom-64 of a union = bottom-64 of
    the per-partition bottom-64s; hv is distinct within day_a), so
    the oracle's single global rank is unchanged."""
    e = load_table(spark, sf_dir, "events")
    h = checkpoint(
        e.select(
            F.to_date("ts").alias("day"),
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
                16,
                10,
            )
            .cast("long")
            .alias("hv"),
        ).distinct()
        # h feeds the day frame (both pair-join sides) AND the 2-row
        # explode — cut the lineage so the md5+distinct pass runs once
        # (6 parquet scans in the pre-cut plan)
    )
    days = h.select("day").distinct()
    pairs = days.alias("d1").join(
        days.alias("d2"),
        F.col("d2.day") == F.date_add(F.col("d1.day"), 1),
    ).select(F.col("d1.day").alias("day_a"), F.col("d2.day").alias("day_b"))
    contrib = h.select(
        "hv",
        F.explode(
            F.array(
                F.struct(
                    F.col("day").alias("day_a"),
                    F.lit(1).alias("ia"),
                    F.lit(0).alias("ib"),
                ),
                F.struct(
                    F.date_sub("day", 1).alias("day_a"),
                    F.lit(0).alias("ia"),
                    F.lit(1).alias("ib"),
                ),
            )
        ).alias("c"),
    ).select("hv", "c.day_a", "c.ia", "c.ib")
    uni = (
        contrib.groupBy("day_a", "hv")
        .agg(F.max("ia").alias("in_a"), F.max("ib").alias("in_b"))
        # keep only anchors that are real consecutive-day pairs (both
        # days present) — the pair frame is ≤ #days rows: broadcast
        .join(F.broadcast(pairs), "day_a")
        .select("day_a", "day_b", "hv", "in_a", "in_b")
    )
    folded = (
        uni.withColumn("pid", F.spark_partition_id())
        .groupBy("day_a", "day_b", "pid")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct("hv", "in_a", "in_b"))
                ),
                1,
                64,
            ).alias("bk")
        )
        .select("day_a", "day_b", F.explode("bk").alias("x"))
        .select("day_a", "day_b", "x.hv", "x.in_a", "x.in_b")
    )
    wp = Window.partitionBy("day_a")
    est = (
        folded.withColumn(
            "r", F.row_number().over(wp.orderBy(F.col("hv").asc()))
        )
        .filter(F.col("r") <= 64)
        .groupBy("day_a", "day_b")
        .agg(
            F.sum(
                F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1)
                .otherwise(0)
            ).alias("shared"),
            F.count(F.lit(1)).alias("k_u"),
        )
    )
    exact = uni.groupBy("day_a", "day_b").agg(
        F.sum(
            F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1)
            .otherwise(0)
        ).alias("n_inter"),
        F.count(F.lit(1)).alias("n_union"),
    )
    return (
        exact.join(est, ["day_a", "day_b"])
        .select(
            "day_a",
            "day_b",
            F.col("n_inter").cast("bigint").alias("n_inter"),
            F.col("n_union").cast("bigint").alias("n_union"),
            F.round(
                F.col("n_inter").cast("double") / F.col("n_union"), 6
            ).alias("exact_jaccard"),
            F.col("k_u").cast("bigint").alias("k_used"),
            F.round(
                F.col("shared").cast("double") / F.col("k_u"), 6
            ).alias("kmv_jaccard"),
        )
        .orderBy("day_a")
    )


# =====================================================================
# Round-8 wave: multimodal perceptual features
# =====================================================================

def _acc_chain_ctes(n: int, step: int = 8) -> tuple[str, str]:
    """The fake-decoder accumulator recurrence unrolled ``step`` per
    CTE (DuckDB lateral-alias binder depth), from a CTE named
    ``base`` with (media_id, H, L).  Returns (ctes_sql, last_name)."""
    byte = lambda k: f"CAST('0x' || substr(H, 2*({k} % L) + 1, 2) AS INT)"

    def acc_expr(k: int) -> str:
        if k == 0:
            return f"({byte(0)}) % 997 AS a0"
        return f"((a{k-1} * 31 + {byte(k)}) % 997) AS a{k}"

    ctes = []
    for g in range(0, n, step):
        cols = ", ".join(acc_expr(k) for k in range(g, min(g + step, n)))
        src = "base" if g == 0 else f"acc{g // step - 1}"
        ctes.append(f"acc{g // step} AS (SELECT *, {cols} FROM {src})")
    return ", ".join(ctes), f"acc{(n - 1) // step}"


def _image_phash_oracle(grid: int = 8) -> str:
    """SQL twin of ``image_perceptual_hash``'s fake-decoder path: the
    64-cell accumulator raster, 15 DCT coefficients as literal-weight
    multiply-add chains in the kernel's exact index order, median via
    list_sort, bit k iff coeff k > median."""
    from ..operators.multimodal import _phash_weights

    weights = _phash_weights(grid)
    ctes, last = _acc_chain_ctes(grid * grid)
    coeffs = ",\n           ".join(
        "("
        + " + ".join(
            f"a{i} * CAST({float(w[i])!r} AS DOUBLE)"
            for i in range(grid * grid)
        )
        + f") AS c{k}"
        for k, (_, _, w) in enumerate(weights)
    )
    clist = "[" + ", ".join(f"c{k}" for k in range(len(weights))) + "]"
    bits = " + ".join(
        f"CASE WHEN c{k} > med THEN {1 << k} ELSE 0 END"
        for k in range(len(weights))
    )
    return f"""
    WITH base AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS H,
             octet_length(encode(text)) AS L
      FROM documents WHERE text IS NOT NULL AND text <> ''
    ), {ctes}, co AS (
      SELECT media_id,
           {coeffs}
      FROM {last}
    ), md AS (
      SELECT *, list_sort({clist})[{len(weights) // 2 + 1}] AS med FROM co
    ), h AS (
      SELECT media_id, CAST({bits} AS BIGINT) AS phash FROM md
    )
    SELECT phash, COUNT(*) AS n_images,
           MIN(media_id) AS min_id, MAX(media_id) AS max_id
    FROM h GROUP BY phash
    """


@query("image_phash_groups", None)  # oracle attached below (generated)
def image_phash_q(spark, sf_dir):
    """Perceptual DCT-hash bucketing (operators.multimodal.
    image_perceptual_hash): identical-pHash groups are near-duplicate
    image candidates by SPECTRUM shape — the low-frequency 4×4 DCT
    corner vs the median — which survives the resize/blur/compression
    edits that flip aHash (mean) and dHash (gradient) bits; the three
    hashes together are the image-dedup precision ladder.  Same
    gate-media convention as the aHash/dHash gates; the literal-weight
    DCT chains replay bit-for-bit in SQL (same floats, same index
    order)."""
    from ..operators.multimodal import image_perceptual_hash

    d = load_table(spark, sf_dir, "documents")
    media = d.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    h = image_perceptual_hash(media, grid=8)
    return h.groupBy("phash").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.min("media_id").alias("min_id"),
        F.max("media_id").alias("max_id"),
    )


O["image_phash_groups"] = _image_phash_oracle()


def _audio_centroid_oracle(n_samples: int = 64, ws: int = 32, nb: int = 8) -> str:
    """SQL twin of ``audio_spectral_centroid``'s fake path at the
    gate's fixed duration: acc recurrence → c = 2·acc − 997, per
    window the literal cos/sin DFT chains in sample order, power,
    centroid and spread folds in bin order."""
    from ..operators.multimodal import _dft_weights

    weights = _dft_weights(ws, nb)
    ctes, last = _acc_chain_ctes(n_samples)
    cs = ", ".join(f"(2 * a{k} - 997) AS s{k}" for k in range(n_samples))
    windows = []
    for win in range(n_samples // ws):
        lo = win * ws
        ab = ", ".join(
            "("
            + " + ".join(
                f"s{lo + t} * CAST({float(cosw[t])!r} AS DOUBLE)"
                for t in range(ws)
            )
            + f") AS a{k}, ("
            + " + ".join(
                f"s{lo + t} * CAST({float(sinw[t])!r} AS DOUBLE)"
                for t in range(ws)
            )
            + f") AS b{k}"
            for k, cosw, sinw in weights
        )
        ps = ", ".join(
            f"(a{k} * a{k} + b{k} * b{k}) AS p{k}" for k, _, _ in weights
        )
        ptot = " + ".join(f"p{k}" for k, _, _ in weights)
        cen = " + ".join(f"{k} * p{k}" for k, _, _ in weights)
        var = " + ".join(
            f"({k} - cen) * ({k} - cen) * p{k}" for k, _, _ in weights
        )
        windows.append(
            f"""    SELECT media_id, {win} AS window_id,
           ROUND(cen, 6) AS centroid,
           ROUND(sqrt(({var}) / ptot), 6) AS spread
    FROM (
      SELECT media_id, ({ptot}) AS ptot,
             ({cen}) / ({ptot}) AS cen, *
      FROM (SELECT media_id, {ps} FROM
            (SELECT media_id, {ab} FROM sam) ab_{win}) p_{win}
    ) f_{win}"""
        )
    body = "\n    UNION ALL\n".join(windows)
    return f"""
    WITH base AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS H,
             octet_length(encode(text)) AS L
      FROM documents WHERE text IS NOT NULL AND text <> ''
    ), {ctes}, sam AS (
      SELECT media_id, {cs} FROM {last}
    )
    {body}
    """


@query("audio_spectral_centroid_windows", None)  # oracle attached below
def audio_centroid_q(spark, sf_dir):
    """Windowed spectral centroid + spread (operators.multimodal.
    audio_spectral_centroid): per 32-sample frame an exact 8-bin DFT
    over literal cos/sin weights, centroid = Σk·P/ΣP ("brightness" —
    the first feature of every audio classifier/quality filter) and
    its spread.  Gate media at the audio gate's fixed 3200 ms → 64
    samples → 2 windows so the DFT unrolls into a static SQL twin;
    kernel and SQL share the same weight floats and summation order,
    so every double matches bit-for-bit before the final ROUND."""
    from ..operators.multimodal import audio_spectral_centroid

    d = load_table(spark, sf_dir, "documents")
    media = d.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit(3200).cast("long").alias("duration_ms"),
    )
    return audio_spectral_centroid(media, window_samples=32, n_bins=8).select(
        "media_id",
        "window_id",
        F.round("centroid", 6).alias("centroid"),
        F.round("spread", 6).alias("spread"),
    )


O["audio_spectral_centroid_windows"] = _audio_centroid_oracle()


# =====================================================================
# Round-8 wave: design-based sampling / paired eval / sessions / graph
# =====================================================================

@query(
    "pps_sampling_ht_orders",
    """
    WITH t AS (
      SELECT SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS total_c
      FROM orders
    ), marked AS (
      SELECT o.o_orderkey,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS x_c,
             CAST('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 8)
                  AS BIGINT) / 4294967296.0 AS u,
             LEAST(1.0, 500.0 * CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                        / t.total_c) AS p
      FROM orders o CROSS JOIN t
    ), s AS (
      SELECT x_c, p FROM marked WHERE u < p
    )
    SELECT 500 AS n_target,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           ROUND(SUM(x_c / p) / 100.0, 2) AS ht_estimate,
           ROUND((SELECT total_c FROM t) / 100.0, 2) AS true_total,
           ROUND(ABS(SUM(x_c / p) - (SELECT total_c FROM t))
                 / (SELECT total_c FROM t), 6) AS rel_error
    FROM s
    """,
)
def pps_ht_q(spark, sf_dir):
    """Probability-proportional-to-size Poisson sampling with the
    Horvitz–Thompson total estimator: inclusion probability
    p_i = min(1, n·x_i/X), the md5-uniform as the deterministic
    "coin" (the repo's sampling contract — any engine replays the
    exact sample), estimate Σ_{sampled} x_i/p_i vs the true total.
    The design-based-survey workhorse for "estimate a 100 TB sum
    from a skew-aware sample": big orders enter almost surely
    (p = 1 ⇒ contribute exactly x_i), small ones carry weight X/n
    when sampled — note x_i/p_i = X/n exactly for every p<1 unit, so
    the HT fold is numerically exact rational arithmetic, not a
    float accumulation."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    t = o.agg(F.sum(cents).alias("total_c"))
    u = (
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    marked = o.join(F.broadcast(t), F.lit(True)).select(
        cents.alias("x_c"),
        u.alias("u"),
        F.least(
            F.lit(1.0), F.lit(500.0) * cents / F.col("total_c")
        ).alias("p"),
        "total_c",
    )
    s = marked.filter(F.col("u") < F.col("p"))
    return s.agg(
        F.first("total_c").alias("total_c"),
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        F.sum(F.col("x_c") / F.col("p")).alias("ht_c"),
    ).select(
        F.lit(500).alias("n_target"),
        "n_sampled",
        F.round(F.col("ht_c") / 100.0, 2).alias("ht_estimate"),
        F.round(F.col("total_c") / 100.0, 2).alias("true_total"),
        F.round(
            F.abs(F.col("ht_c") - F.col("total_c")) / F.col("total_c"), 6
        ).alias("rel_error"),
    )


@query("mcnemar_paired_quality_docs", None)  # oracle attached below
def mcnemar_q(spark, sf_dir):
    """McNemar's paired test comparing two document-quality
    classifiers on the SAME corpus — the right test for "did swapping
    the filter change accuracy?", since paired designs make the
    marginal-accuracy z-test invalid: only the discordant cells
    matter, χ² = (|b−c|−1)²/(b+c) with continuity correction, where
    b = only-A-correct, c = only-B-correct against the long-document
    truth.  Classifier A = the hashed linear scorer at 0.5;
    B = a char-length heuristic (n_chars ≥ 280).  One join + one
    4-cell fold — the corpus reduces to four integers."""
    from .wave6_ts import _scored_docs

    d = load_table(spark, sf_dir, "documents")
    scored = _scored_docs(spark, sf_dir)
    ab = scored.join(
        d.select("doc_id", "n_chars"), "doc_id"
    ).select(
        "y",
        (F.col("score") >= 0.5).cast("int").alias("a"),
        (F.col("n_chars") >= 280).cast("int").alias("b"),
    )
    cells = ab.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            ((F.col("a") == F.col("y")).cast("int"))
            * ((F.col("b") != F.col("y")).cast("int"))
        ).alias("only_a"),
        F.sum(
            ((F.col("a") != F.col("y")).cast("int"))
            * ((F.col("b") == F.col("y")).cast("int"))
        ).alias("only_b"),
        F.avg((F.col("a") == F.col("y")).cast("double")).alias("acc_a"),
        F.avg((F.col("b") == F.col("y")).cast("double")).alias("acc_b"),
    )
    bc = F.col("only_a") + F.col("only_b")
    chi2 = F.when(
        bc > 0,
        (F.abs(F.col("only_a") - F.col("only_b")) - 1)
        * (F.abs(F.col("only_a") - F.col("only_b")) - 1)
        / bc.cast("double"),
    ).otherwise(F.lit(0.0))
    return cells.select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.round("acc_a", 6).alias("acc_classifier"),
        F.round("acc_b", 6).alias("acc_heuristic"),
        F.col("only_a").cast("bigint").alias("only_a_correct"),
        F.col("only_b").cast("bigint").alias("only_b_correct"),
        F.round(chi2, 6).alias("mcnemar_chi2"),
    )


def _mcnemar_oracle() -> str:
    from .wave6_ts import _scored_sql

    return f"""
    WITH {_scored_sql()}, ab AS (
      SELECT s.y, CAST(s.score >= 0.5 AS INTEGER) AS a,
             CAST(d.n_chars >= 280 AS INTEGER) AS b
      FROM scored s JOIN documents d USING (doc_id)
    ), cells AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(a = y AS INTEGER) * CAST(b <> y AS INTEGER))
               AS only_a,
             SUM(CAST(a <> y AS INTEGER) * CAST(b = y AS INTEGER))
               AS only_b,
             AVG(CAST(a = y AS INTEGER)) AS acc_a,
             AVG(CAST(b = y AS INTEGER)) AS acc_b
      FROM ab
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           ROUND(acc_a, 6) AS acc_classifier,
           ROUND(acc_b, 6) AS acc_heuristic,
           CAST(only_a AS BIGINT) AS only_a_correct,
           CAST(only_b AS BIGINT) AS only_b_correct,
           ROUND(CASE WHEN only_a + only_b > 0
                 THEN (ABS(only_a - only_b) - 1) * (ABS(only_a - only_b) - 1)
                      / CAST(only_a + only_b AS DOUBLE)
                 ELSE 0 END, 6) AS mcnemar_chi2
    FROM cells
    """


O["mcnemar_paired_quality_docs"] = _mcnemar_oracle()


@query(
    "session_entropy_users_events",
    """
    WITH ut AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY user_id, event_type
    ), un AS (
      SELECT user_id, SUM(c) AS n FROM ut GROUP BY user_id
    ), ue AS (
      SELECT ut.user_id, ANY_VALUE(un.n) AS n,
             -SUM((CAST(ut.c AS DOUBLE) / un.n)
                  * LN(CAST(ut.c AS DOUBLE) / un.n)) AS h
      FROM ut JOIN un ON ut.user_id = un.user_id
      GROUP BY ut.user_id
    ), bucketed AS (
      SELECT CAST(floor(LN(n) / LN(2)) AS BIGINT) AS activity_bucket,
             n, h
      FROM ue
    )
    SELECT activity_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(AVG(CAST(n AS DOUBLE)), 4) AS avg_events,
           ROUND(AVG(h), 6) AS avg_entropy,
           ROUND(MIN(h), 6) AS min_entropy,
           ROUND(MAX(h), 6) AS max_entropy
    FROM bucketed GROUP BY activity_bucket ORDER BY activity_bucket
    """,
)
def session_entropy_q(spark, sf_dir):
    """Per-user behavioral entropy over event types, profiled by
    activity magnitude (log₂ event-count buckets): low-entropy heavy
    users are bots/single-purpose automation, high-entropy ones are
    organic browsers — the standard behavioral-diversity signal for
    traffic-quality filtering.  Two user-keyed hash aggs reduce the
    stream to one (user, entropy) row; the bucket profile is a third.
    Per-user entropy folds ≤|event-types| rational terms, so the only
    float fold is over ≤5 values per user."""
    e = load_table(spark, sf_dir, "events")
    ut = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    un = ut.groupBy("user_id").agg(F.sum("c").alias("n"))
    share = F.col("c").cast("double") / F.col("n")
    ue = (
        ut.join(un, "user_id")
        .groupBy("user_id")
        .agg(
            F.first("n").alias("n"),
            (-F.sum(share * F.log(share))).alias("h"),
        )
    )
    b = ue.select(
        F.floor(F.log(F.col("n").cast("double")) / F.log(F.lit(2.0)))
        .cast("bigint")
        .alias("activity_bucket"),
        "n",
        "h",
    )
    return (
        b.groupBy("activity_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.round(F.avg(F.col("n").cast("double")), 4).alias(
                "avg_events"
            ),
            F.round(F.avg("h"), 6).alias("avg_entropy"),
            F.round(F.min("h"), 6).alias("min_entropy"),
            F.round(F.max("h"), 6).alias("max_entropy"),
        )
        .orderBy("activity_bucket")
    )


@query(
    "seasonal_strength_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             isodow(CAST(ts AS DATE)) AS dow, COUNT(*) AS x
      FROM events GROUP BY 1, 2, 3
    ), dowm AS (
      SELECT event_type, dow,
             CAST(SUM(x) AS DOUBLE) / COUNT(*) AS m
      FROM daily GROUP BY event_type, dow
    ), r AS (
      SELECT d.event_type, d.x, d.x - m.m AS resid
      FROM daily d JOIN dowm m
        ON d.event_type = m.event_type AND d.dow = m.dow
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(AVG(CAST(x AS DOUBLE) * x) - AVG(CAST(x AS DOUBLE))
                 * AVG(CAST(x AS DOUBLE)), 6) AS var_total,
           ROUND(AVG(resid * resid) - AVG(resid) * AVG(resid), 6)
             AS var_resid,
           ROUND(GREATEST(0.0, 1.0
                 - (AVG(resid * resid) - AVG(resid) * AVG(resid))
                 / (AVG(CAST(x AS DOUBLE) * x) - AVG(CAST(x AS DOUBLE))
                    * AVG(CAST(x AS DOUBLE)))), 6) AS seasonal_strength
    FROM r GROUP BY event_type ORDER BY event_type
    """,
)
def seasonal_strength_q(spark, sf_dir):
    """STL-style seasonal-strength score per event type:
    F = max(0, 1 − Var(residual)/Var(series)) after removing
    day-of-week means from the daily count series — the one-number
    "how weekly is this metric" that decides whether the seasonal
    adjuster (seasonal_adjust_dow gate) is worth applying.  Two hash
    aggs to the daily and dow grids; population variances via the
    moment identity on integer counts (exact until the final
    divisions)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        (F.weekday(F.to_date("ts")) + 1).alias("dow"),
    ).agg(F.count(F.lit(1)).alias("x"))
    dowm = daily.groupBy("event_type", "dow").agg(
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("m")
    )
    r = daily.join(dowm, ["event_type", "dow"]).select(
        "event_type",
        "x",
        (F.col("x") - F.col("m")).alias("resid"),
    )
    xd = F.col("x").cast("double")
    var_total = F.avg(xd * F.col("x")) - F.avg(xd) * F.avg(xd)
    var_resid = F.avg(F.col("resid") * F.col("resid")) - F.avg(
        "resid"
    ) * F.avg("resid")
    return (
        r.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.round(var_total, 6).alias("var_total"),
            F.round(var_resid, 6).alias("var_resid"),
            F.round(
                F.greatest(F.lit(0.0), 1.0 - var_resid / var_total), 6
            ).alias("seasonal_strength"),
        )
        .orderBy("event_type")
    )


@query(
    "closeness_centrality_suppliers",
    """
    WITH raw0 AS (
      SELECT DISTINCT CAST(l_partkey AS BIGINT) AS p,
             CAST(l_suppkey AS BIGINT) AS s
      FROM lineitem
    ), pdeg AS (
      SELECT p, COUNT(*) AS pd FROM raw0 GROUP BY p
    ), raw AS (
      -- postings_pairs(max_df=256) replay: hub parts are dropped
      -- before the postings self-join (no-op at test SFs, max 52)
      SELECT raw0.p, raw0.s FROM raw0
      JOIN pdeg ON pdeg.p = raw0.p
      WHERE pdeg.pd <= 256
    ), e AS (
      SELECT DISTINCT a.s AS u, b.s AS v
      FROM raw a JOIN raw b ON a.p = b.p AND a.s <> b.s
    ), deg AS (
      SELECT u AS s, COUNT(*) AS d FROM e GROUP BY u
    ), anchors AS (
      SELECT s, d FROM deg ORDER BY d DESC, s ASC LIMIT 20
    ), h1 AS (
      SELECT DISTINCT a.s AS id, e.v AS n
      FROM anchors a JOIN e ON e.u = a.s
    ), h2 AS (
      SELECT DISTINCT h1.id, e.v AS n
      FROM h1 JOIN e ON e.u = h1.n
      WHERE e.v <> h1.id
    ), h2new AS (
      SELECT id, n FROM h2 EXCEPT SELECT id, n FROM h1
    ), h3 AS (
      SELECT DISTINCT h2new.id, e.v AS n
      FROM h2new JOIN e ON e.u = h2new.n
      WHERE e.v <> h2new.id
    ), h3new AS (
      SELECT id, n FROM h3
      EXCEPT SELECT id, n FROM h2new
      EXCEPT SELECT id, n FROM h1
    ), counts AS (
      SELECT a.s, a.d,
             (SELECT COUNT(*) FROM h1 WHERE h1.id = a.s) AS n1,
             (SELECT COUNT(*) FROM h2new WHERE h2new.id = a.s) AS n2,
             (SELECT COUNT(*) FROM h3new WHERE h3new.id = a.s) AS n3
      FROM anchors a
    )
    SELECT CAST(s AS BIGINT) AS suppkey, CAST(d AS BIGINT) AS degree,
           CAST(n1 AS BIGINT) AS reach_1, CAST(n2 AS BIGINT) AS reach_2,
           CAST(n3 AS BIGINT) AS reach_3,
           ROUND(n1 + n2 / 2.0 + n3 / 3.0, 6) AS harmonic_centrality
    FROM counts ORDER BY harmonic_centrality DESC, suppkey
    """,
)
def closeness_q(spark, sf_dir):
    """Harmonic closeness centrality (3-hop horizon) for the top-20
    highest-degree suppliers on the co-supply graph — "who is closest
    to everyone" for routing/influence questions, in the horizon-
    bounded form that survives scale (exact closeness needs a full
    BFS per node; the ≤3-hop harmonic sum H = Σ_d n_d/d is the
    standard truncation, and the anchor set is a literal top-k).
    Three frontier⋈edges rounds with cumulative de-dup (the khop/BFS
    audited shape); the co-supply edges come from the part-keyed
    ``postings_pairs`` self-join with its fan-out guard ON (hub parts
    with degree > 256 are dropped — with a logged count — before the
    self-join, bounding any part bucket at 256² pair rows; a no-op at
    test SFs where max part degree is 52, and the oracle replays the
    same cap)."""
    from ..operators.skew import postings_pairs

    li = load_table(spark, sf_dir, "lineitem")
    raw = li.select(
        F.col("l_partkey").cast("bigint").alias("p"),
        F.col("l_suppkey").cast("bigint").alias("s"),
    ).distinct()
    # The edge list and hop frontiers are each reused by multiple
    # consumers, and the joins reference their columns ACROSS the
    # reuse (e["v"] against h1⋈e), so each needs a lineage-TRUNCATING
    # materialization, not a mere persist (persist keeps the plan and
    # the parent⋈derived column references turn ambiguous).  A local
    # checkpoint gives one computation and a truncated plan; a
    # reliable checkpoint() would recompute its input a second time
    # (measured +60% at sf1).
    # The co-supply relation is symmetric, so only the u < v half is
    # joined and deduped — half the pair fan-out (17.4M → 8.7M rows at
    # sf0.1) and half the distinct's shuffle — and the checkpointed
    # half is mirrored into the full directed edge list by a union
    # (two in-memory scans of the same blocks).  Identical edge set
    # (guide §2.3: shuffle fewer bytes).
    half = checkpoint(
        postings_pairs(raw, "p", "s", 256, "part-degree")
        .select(F.col("s_a").alias("u"), F.col("s_b").alias("v"))
        .distinct()
    )
    e = half.unionByName(
        half.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = e.groupBy(F.col("u").alias("s")).agg(F.count(F.lit(1)).alias("d"))
    anchors = deg.orderBy(F.col("d").desc(), F.col("s").asc()).limit(20)
    h1 = checkpoint(
        anchors.select(F.col("s").alias("id"))
        .join(e, F.col("id") == F.col("u"))
        .select("id", F.col("v").alias("n"))
        .distinct()
    )
    h2 = (
        h1.join(e, h1["n"] == e["u"])
        .select("id", e["v"].alias("n2"))
        .filter(F.col("n2") != F.col("id"))
        .select("id", F.col("n2").alias("n"))
        .distinct()
    )
    # frontier de-dup stays exceptAll, NOT a merge-hinted anti-join:
    # the anti-join rewrite was ~1.5 s faster at sf0.1 but its SMJ
    # sort of the frontier DIED at sf10 (ShuffleExternalSorter
    # "Unable to grow the pointer array" → executor loss) where this
    # formulation completes in one 8 GB JVM (SCALE.md round-11 probe,
    # 424 s GC-bound) — the sf0.1 win was not worth the decade-2 OOM
    h2new = checkpoint(h2.exceptAll(h1).distinct())
    h3 = (
        h2new.join(e, h2new["n"] == e["u"])
        .select("id", e["v"].alias("n2"))
        .filter(F.col("n2") != F.col("id"))
        .select("id", F.col("n2").alias("n"))
        .distinct()
    )
    h3new = checkpoint(
        h3.exceptAll(h2new)
        .exceptAll(h1)
        .distinct()
    )
    c1 = h1.groupBy("id").agg(F.count(F.lit(1)).alias("n1"))
    c2 = h2new.groupBy("id").agg(F.count(F.lit(1)).alias("n2"))
    c3 = h3new.groupBy("id").agg(F.count(F.lit(1)).alias("n3"))
    out = (
        anchors.withColumnRenamed("s", "id")
        .join(c1, "id", "left")
        .join(c2, "id", "left")
        .join(c3, "id", "left")
        .select(
            F.col("id").cast("bigint").alias("suppkey"),
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce("n1", F.lit(0)).cast("bigint").alias("reach_1"),
            F.coalesce("n2", F.lit(0)).cast("bigint").alias("reach_2"),
            F.coalesce("n3", F.lit(0)).cast("bigint").alias("reach_3"),
        )
    )
    return out.select(
        "suppkey",
        "degree",
        "reach_1",
        "reach_2",
        "reach_3",
        F.round(
            F.col("reach_1")
            + F.col("reach_2") / 2.0
            + F.col("reach_3") / 3.0,
            6,
        ).alias("harmonic_centrality"),
    ).orderBy(F.col("harmonic_centrality").desc(), "suppkey")


@query(
    "rake_keywords_docs",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS ws
      FROM documents WHERE COALESCE(trim(text), '') <> ''
    ), pos AS (
      SELECT doc_id, i AS pos, ws[i] AS w
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM toks)
    ), stop AS (
      SELECT w FROM pos GROUP BY w
      ORDER BY COUNT(*) DESC, w LIMIT 5
    ), marked AS (
      SELECT p.doc_id, p.pos, p.w,
             CASE WHEN s.w IS NOT NULL THEN 1 ELSE 0 END AS is_stop
      FROM pos p LEFT JOIN stop s ON p.w = s.w
    ), grp AS (
      SELECT doc_id, pos, w, is_stop,
             SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos) AS g
      FROM marked
    ), phrase_words AS (
      SELECT doc_id, g, pos, w FROM grp WHERE is_stop = 0
    ), phrases AS (
      SELECT doc_id, g,
             string_agg(w, ' ' ORDER BY pos) AS phrase,
             COUNT(*) AS plen
      FROM phrase_words GROUP BY doc_id, g
    ), word_stats AS (
      SELECT pw.w, COUNT(*) AS freq, SUM(ph.plen) AS deg
      FROM phrase_words pw
      JOIN phrases ph ON pw.doc_id = ph.doc_id AND pw.g = ph.g
      GROUP BY pw.w
    ), scored AS (
      SELECT ph.phrase, COUNT(*) AS n_occurrences,
             ANY_VALUE(sc.score) AS score
      FROM phrases ph JOIN (
        SELECT p2.doc_id, p2.g,
               SUM(CAST(ws.deg AS DOUBLE) / ws.freq) AS score
        FROM phrase_words p2 JOIN word_stats ws ON p2.w = ws.w
        GROUP BY p2.doc_id, p2.g
      ) sc ON ph.doc_id = sc.doc_id AND ph.g = sc.g
      GROUP BY ph.phrase
    ), ranked AS (
      SELECT phrase, n_occurrences, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, phrase ASC) AS rn
      FROM scored
    )
    SELECT phrase, CAST(n_occurrences AS BIGINT) AS n_occurrences,
           ROUND(score, 6) AS rake_score
    FROM ranked WHERE rn <= 15 ORDER BY rake_score DESC, phrase
    """,
)
def rake_q(spark, sf_dir):
    """RAKE keyword extraction (Rose et al. 2010) with an adaptive
    stoplist: the 5 highest-frequency corpus words act as phrase
    delimiters (this corpus has no function words, so the stoplist is
    learned, not fixed — the docstring-documented twist), candidate
    phrases are maximal stopword-free token runs (gaps-and-islands
    via the cumulative stop count), each word scores degree/frequency
    over the phrase corpus, a phrase scores the sum of its words'
    scores, and the top-15 distinct phrases surface.  Per-doc
    windows are position-bounded; everything else is word/phrase-
    keyed hash aggs — the map-reduce shape keyword extraction has at
    any scale."""
    from ..operators.dedup import tokens_of

    d = load_table(spark, sf_dir, "documents").filter(
        F.coalesce(F.trim("text"), F.lit("")) != ""
    )
    pos = d.select(
        "doc_id",
        F.posexplode(tokens_of(F.col("text"))).alias("pos0", "w"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    stop = (
        pos.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(5)
        .select("w")
    )
    marked = pos.join(
        F.broadcast(stop.withColumn("is_stop", F.lit(1))), "w", "left"
    ).select(
        "doc_id",
        "pos",
        "w",
        F.coalesce("is_stop", F.lit(0)).alias("is_stop"),
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    grp = marked.withColumn("g", F.sum("is_stop").over(wd))
    phrase_words = grp.filter(F.col("is_stop") == 0).select(
        "doc_id", "g", "pos", "w"
    )
    phrases = phrase_words.groupBy("doc_id", "g").agg(
        F.concat_ws(
            " ", F.array_sort(F.collect_list(F.struct("pos", "w"))).getField("w")
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    word_stats = (
        phrase_words.join(phrases, ["doc_id", "g"])
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").alias("deg"),
        )
    )
    phrase_scores = (
        phrase_words.join(word_stats, "w")
        .groupBy("doc_id", "g")
        .agg(
            F.sum(F.col("deg").cast("double") / F.col("freq")).alias(
                "score"
            )
        )
    )
    scored = (
        phrases.join(phrase_scores, ["doc_id", "g"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.first("score").alias("score"),
        )
    )
    return (
        scored.orderBy(F.col("score").desc(), "phrase")
        .limit(15)
        .select(
            "phrase",
            F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
            F.round("score", 6).alias("rake_score"),
        )
        .orderBy(F.col("rake_score").desc(), "phrase")
    )


# =====================================================================
# Round-8 wave: effect sizes / inequality / corpus comparison / OLS
# diagnostics
# =====================================================================

@query(
    "cvm_two_sample_orders",
    """
    WITH obs AS (
      SELECT o_orderstatus AS g,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ), hist AS (
      SELECT v,
             SUM(CASE WHEN g = 'F' THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN g = 'O' THEN 1 ELSE 0 END) AS c2
      FROM obs GROUP BY v
    ), tot AS (
      SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM hist
    ), cum AS (
      SELECT v, c1, c2,
             SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f1,
             SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f2
      FROM hist
    )
    SELECT CAST(t.n1 AS BIGINT) AS n_f, CAST(t.n2 AS BIGINT) AS n_o,
           ROUND(CAST(t.n1 AS DOUBLE) * t.n2
                 / ((t.n1 + t.n2) * (t.n1 + t.n2))
                 * SUM((c.c1 + c.c2)
                       * (CAST(c.f1 AS DOUBLE) / t.n1
                          - CAST(c.f2 AS DOUBLE) / t.n2)
                       * (CAST(c.f1 AS DOUBLE) / t.n1
                          - CAST(c.f2 AS DOUBLE) / t.n2)), 6) AS cvm_t
    FROM cum c CROSS JOIN tot t
    GROUP BY t.n1, t.n2
    """,
)
def cvm_q(spark, sf_dir):
    """Two-sample Cramér–von Mises statistic between finished and
    open orders' price distributions — the whole-distribution drift
    test that weights EVERY quantile (KS sees only the single largest
    CDF gap; CvM integrates the squared gap, catching spread/shape
    drift KS dilutes).  T = n₁n₂/(n₁+n₂)² · Σ_pooled (F₁−F₂)².  The
    corpus reduces to the quantized-cents histogram; the cumulative
    CDFs are one ordered window over that bounded value domain (the
    Kruskal–Wallis audited grid shape); counts stay exact integers
    until the final divisions."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    obs = o.select(
        F.col("o_orderstatus").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
    )
    hist = obs.groupBy("v").agg(
        F.sum(F.when(F.col("g") == "F", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("g") == "O", 1).otherwise(0)).alias("c2"),
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy()
    cum = hist.select(
        "c1",
        "c2",
        F.sum("c1").over(w).alias("f1"),
        F.sum("c2").over(w).alias("f2"),
        F.sum("c1").over(wt).alias("n1"),
        F.sum("c2").over(wt).alias("n2"),
    )
    gap = F.col("f1").cast("double") / F.col("n1") - F.col("f2").cast(
        "double"
    ) / F.col("n2")
    return cum.groupBy("n1", "n2").agg(
        F.round(
            F.col("n1").cast("double")
            * F.col("n2")
            / ((F.col("n1") + F.col("n2")) * (F.col("n1") + F.col("n2")))
            * F.sum((F.col("c1") + F.col("c2")) * gap * gap),
            6,
        ).alias("cvm_t")
    ).select(
        F.col("n1").cast("bigint").alias("n_f"),
        F.col("n2").cast("bigint").alias("n_o"),
        "cvm_t",
    )


@query(
    "cliffs_delta_quantity_returnflag",
    """
    WITH obs AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v
      FROM lineitem WHERE l_returnflag IN ('R', 'N')
    ), hist AS (
      SELECT v,
             SUM(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS c2
      FROM obs GROUP BY v
    ), cum AS (
      SELECT v, c1, c2,
             COALESCE(SUM(c2) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS c2_below
      FROM hist
    ), u AS (
      SELECT SUM(c1) AS n1,
             (SELECT SUM(c2) FROM hist) AS n2,
             SUM(c1 * (c2_below + c2 / 2.0)) AS u_stat
      FROM cum
    )
    SELECT CAST(n1 AS BIGINT) AS n_r, CAST(n2 AS BIGINT) AS n_n,
           ROUND(u_stat, 2) AS u_stat,
           ROUND(2.0 * u_stat / (CAST(n1 AS DOUBLE) * n2) - 1.0, 6)
             AS cliffs_delta,
           CASE WHEN ABS(2.0 * u_stat / (CAST(n1 AS DOUBLE) * n2) - 1.0)
                     < 0.147 THEN 'negligible'
                WHEN ABS(2.0 * u_stat / (CAST(n1 AS DOUBLE) * n2) - 1.0)
                     < 0.33 THEN 'small'
                WHEN ABS(2.0 * u_stat / (CAST(n1 AS DOUBLE) * n2) - 1.0)
                     < 0.474 THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM u
    """,
)
def cliffs_delta_q(spark, sf_dir):
    """Cliff's delta effect size between returned and non-returned
    line quantities — the answer to "the Mann–Whitney test is
    significant, but does it MATTER": δ = P(X>Y) − P(X<Y) ∈ [−1, 1]
    with the standard Romano magnitude labels, computed tie-correctly
    from the quantized histogram (U = Σ_v c₁(v)·(c₂_below + c₂/2)) —
    no pair enumeration, one bounded-grid window, exact integers into
    the final two divisions."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "N")
    )
    obs = li.select(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").cast("bigint").alias("v"),
    )
    hist = obs.groupBy("v").agg(
        F.sum(F.when(F.col("g") == "R", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("g") == "N", 1).otherwise(0)).alias("c2"),
    )
    wb = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "c1",
        "c2",
        F.coalesce(F.sum("c2").over(wb), F.lit(0)).alias("c2_below"),
    )
    agg = cum.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(
            F.col("c1") * (F.col("c2_below") + F.col("c2") / 2.0)
        ).alias("u_stat"),
    )
    delta = 2.0 * F.col("u_stat") / (
        F.col("n1").cast("double") * F.col("n2")
    ) - 1.0
    return agg.select(
        F.col("n1").cast("bigint").alias("n_r"),
        F.col("n2").cast("bigint").alias("n_n"),
        F.round("u_stat", 2).alias("u_stat"),
        F.round(delta, 6).alias("cliffs_delta"),
        F.when(F.abs(delta) < 0.147, "negligible")
        .when(F.abs(delta) < 0.33, "small")
        .when(F.abs(delta) < 0.474, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )


@query(
    "theil_inequality_users_events",
    """
    WITH ut AS (
      SELECT e.user_id,
             SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS x
      FROM events e GROUP BY e.user_id
    ), dom AS (
      SELECT user_id, event_type AS grp FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY COUNT(*) DESC, event_type ASC)
                 AS rn
        FROM events GROUP BY user_id, event_type
      ) WHERE rn = 1
    ), j AS (
      SELECT d.grp, u.x FROM ut u JOIN dom d ON u.user_id = d.user_id
      WHERE u.x > 0
    ), tot AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx FROM j
    ), g AS (
      SELECT grp, COUNT(*) AS ng, SUM(x) AS sg,
             SUM(CAST(x AS DOUBLE) * LN(x)) AS sxlnx
      FROM j GROUP BY grp
    ), parts AS (
      SELECT g.grp, g.ng, g.sg, t.n, t.sx,
             (CAST(g.sg AS DOUBLE) / t.sx)
               * LN((CAST(g.sg AS DOUBLE) / g.ng)
                    / (CAST(t.sx AS DOUBLE) / t.n)) AS between_g,
             (CAST(g.sg AS DOUBLE) / t.sx)
               * (g.sxlnx / g.sg - LN(CAST(g.sg AS DOUBLE) / g.ng))
               AS within_g
      FROM g CROSS JOIN tot t
    )
    SELECT CAST(ANY_VALUE(n) AS BIGINT) AS n_users,
           ROUND(SUM(between_g), 6) AS theil_between,
           ROUND(SUM(within_g), 6) AS theil_within,
           ROUND(SUM(between_g) + SUM(within_g), 6) AS theil_total
    FROM parts
    """,
)
def theil_q(spark, sf_dir):
    """Theil T inequality of per-user total value, DECOMPOSED by each
    user's dominant event type — the inequality measure worth having
    precisely because it decomposes additively: T = T_between +
    T_within (Gini does not), so "is the concentration driven by the
    purchase-heavy cohort or within it" is one query.  Income-style
    form T = Σ(x/X)ln((x/μ_ratio)); within terms fold per group from
    Σx·ln(x) moments, so the corpus reduces to one row per group.
    Exact integer cents into the logs; the decomposition identity is
    visible in the output (between + within = total)."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    ut = e.groupBy("user_id").agg(F.sum(cents).alias("x"))
    dom = (
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("c").desc(), F.col("event_type").asc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("grp"))
    )
    j = ut.join(dom, "user_id").filter(F.col("x") > 0)
    tot = j.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx")
    )
    g = j.groupBy("grp").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("x").alias("sg"),
        F.sum(F.col("x").cast("double") * F.log(F.col("x"))).alias(
            "sxlnx"
        ),
    )
    p = g.join(F.broadcast(tot), F.lit(True))
    share = F.col("sg").cast("double") / F.col("sx")
    mu_g = F.col("sg").cast("double") / F.col("ng")
    mu = F.col("sx").cast("double") / F.col("n")
    parts = p.select(
        "n",
        (share * F.log(mu_g / mu)).alias("between_g"),
        (
            share
            * (F.col("sxlnx") / F.col("sg") - F.log(mu_g))
        ).alias("within_g"),
    )
    return parts.groupBy().agg(
        F.first("n").cast("bigint").alias("n_users"),
        F.round(F.sum("between_g"), 6).alias("theil_between"),
        F.round(F.sum("within_g"), 6).alias("theil_within"),
        F.round(F.sum("between_g") + F.sum("within_g"), 6).alias(
            "theil_total"
        ),
    )


@query(
    "fightin_words_lang_docs",
    r"""
    WITH toks AS (
      SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      FROM documents
    ), lw AS (
      SELECT lang, w, COUNT(*) AS y FROM toks GROUP BY lang, w
    ), wt AS (
      SELECT w, SUM(y) AS yw FROM lw GROUP BY w
    ), lt AS (
      SELECT lang, SUM(y) AS nl FROM lw GROUP BY lang
    ), v AS (
      SELECT COUNT(*) AS nv, SUM(yw) AS n FROM wt
    ), z AS (
      SELECT lw.lang, lw.w,
             LN((lw.y + 0.5) / (lt.nl + 0.5 * v.nv - lw.y - 0.5))
             - LN((wt.yw - lw.y + 0.5)
                  / (v.n - lt.nl + 0.5 * v.nv - (wt.yw - lw.y) - 0.5))
               AS delta,
             sqrt(1.0 / (lw.y + 0.5) + 1.0 / (wt.yw - lw.y + 0.5))
               AS se
      FROM lw JOIN wt ON lw.w = wt.w
              JOIN lt ON lw.lang = lt.lang
              CROSS JOIN v
    ), ranked AS (
      SELECT lang, w, delta / se AS zscore,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY delta / se DESC, w ASC) AS rn
      FROM z
    )
    SELECT lang, w AS word, ROUND(zscore, 6) AS log_odds_z
    FROM ranked WHERE rn <= 3 ORDER BY lang, log_odds_z DESC, word
    """,
)
def fightin_words_q(spark, sf_dir):
    """"Fightin' Words" (Monroe–Colaresi–Quinn 2008): which words
    mark each language, via z-scored log-odds-ratios with a Dirichlet
    prior (α = 0.5 per word) of lang vs rest-of-corpus — the
    statistically-grounded replacement for raw TF-IDF keyword lists
    that over-weights rare flukes.  Top-3 marker words per lang.  The
    corpus reduces to the (lang, word) count grid; priors make every
    log finite; gram-keyed hash aggs only."""
    from ..operators.dedup import tokens_of

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(tokens_of(F.col("text"))).alias("w"))
    lw = toks.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("y"))
    wt = lw.groupBy("w").agg(F.sum("y").alias("yw"))
    lt = lw.groupBy("lang").agg(F.sum("y").alias("nl"))
    v = wt.agg(
        F.count(F.lit(1)).alias("nv"), F.sum("yw").alias("n")
    )
    z = (
        lw.join(wt, "w")
        .join(F.broadcast(lt), "lang")
        .join(F.broadcast(v), F.lit(True))
    )
    delta = F.log(
        (F.col("y") + 0.5)
        / (F.col("nl") + 0.5 * F.col("nv") - F.col("y") - 0.5)
    ) - F.log(
        (F.col("yw") - F.col("y") + 0.5)
        / (
            F.col("n")
            - F.col("nl")
            + 0.5 * F.col("nv")
            - (F.col("yw") - F.col("y"))
            - 0.5
        )
    )
    se = F.sqrt(
        1.0 / (F.col("y") + 0.5) + 1.0 / (F.col("yw") - F.col("y") + 0.5)
    )
    ranked = z.select(
        "lang", "w", (delta / se).alias("zscore")
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("lang").orderBy(
                F.col("zscore").desc(), F.col("w").asc()
            )
        ),
    )
    return (
        ranked.filter(F.col("rn") <= 3)
        .select("lang", F.col("w").alias("word"), F.round("zscore", 6).alias("log_odds_z"))
        .orderBy("lang", F.col("log_odds_z").desc(), "word")
    )


@query(
    "cooks_distance_daily_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 100.0 AS y
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, day, y,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY day) AS DOUBLE) AS t
      FROM daily
    ), m AS (
      SELECT event_type, COUNT(*) AS n, SUM(t) AS st, SUM(t * t) AS stt,
             SUM(y) AS sy, SUM(t * y) AS sty
      FROM idx GROUP BY event_type
    ), fit AS (
      SELECT event_type, n, st / n AS tbar,
             stt - st * st / n AS sxx,
             (sty - st * sy / n) / (stt - st * st / n) AS b,
             (sy - (sty - st * sy / n) / (stt - st * st / n) * st) / n AS a
      FROM m
    ), resid AS (
      SELECT i.event_type, i.day, i.t, i.y,
             i.y - f.a - f.b * i.t AS e,
             1.0 / f.n + (i.t - f.tbar) * (i.t - f.tbar) / f.sxx AS h,
             f.n AS n
      FROM idx i JOIN fit f ON i.event_type = f.event_type
    ), s2 AS (
      SELECT event_type, SUM(e * e) / (ANY_VALUE(n) - 2) AS s2
      FROM resid GROUP BY event_type
    ), d AS (
      SELECT r.event_type, r.day, r.e, r.h,
             r.e * r.e * r.h / (2 * s.s2 * (1 - r.h) * (1 - r.h)) AS cooks_d,
             ROW_NUMBER() OVER (PARTITION BY r.event_type
               ORDER BY r.e * r.e * r.h
                        / (2 * s.s2 * (1 - r.h) * (1 - r.h)) DESC,
                        r.day ASC) AS rn
      FROM resid r JOIN s2 s ON r.event_type = s.event_type
    )
    SELECT event_type, day, ROUND(e, 6) AS residual,
           ROUND(h, 6) AS leverage, ROUND(cooks_d, 6) AS cooks_d
    FROM d WHERE rn <= 3 ORDER BY event_type, cooks_d DESC, day
    """,
)
def cooks_q(spark, sf_dir):
    """Cook's distance for the per-type daily trend regression — the
    influence diagnostic that answers "is this trend real or is one
    anomalous day steering the fit": closed-form leverage
    h = 1/n + (t−t̄)²/Sxx for simple OLS, D = e²h/(p·s²(1−h)²), top-3
    most influential days per type.  The corpus reduces to the
    bounded daily grid; the fit is pure moments (one row per type);
    windows are type-partitioned.  Companion to the
    regression-residual-outlier gate, which flags big residuals —
    influence ≠ residual (a boundary day with a modest residual can
    dominate the slope)."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        (
            F.sum(cents).cast("double") / F.count(F.lit(1)) / 100.0
        ).alias("y")
    )
    idx = daily.withColumn(
        "t",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .cast("double"),
    )
    m = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
    )
    sxx = F.col("stt") - F.col("st") * F.col("st") / F.col("n")
    b = (F.col("sty") - F.col("st") * F.col("sy") / F.col("n")) / sxx
    fit = m.select(
        "event_type",
        "n",
        (F.col("st") / F.col("n")).alias("tbar"),
        sxx.alias("sxx"),
        b.alias("b"),
        ((F.col("sy") - b * F.col("st")) / F.col("n")).alias("a"),
    )
    resid = idx.join(fit, "event_type").select(
        "event_type",
        "day",
        (F.col("y") - F.col("a") - F.col("b") * F.col("t")).alias("e"),
        (
            1.0 / F.col("n")
            + (F.col("t") - F.col("tbar"))
            * (F.col("t") - F.col("tbar"))
            / F.col("sxx")
        ).alias("h"),
        "n",
    )
    s2 = resid.groupBy("event_type").agg(
        (F.sum(F.col("e") * F.col("e")) / (F.first("n") - 2)).alias("s2")
    )
    cooks = F.col("e") * F.col("e") * F.col("h") / (
        2 * F.col("s2") * (1 - F.col("h")) * (1 - F.col("h"))
    )
    d = resid.join(s2, "event_type").withColumn(
        "cooks_d", cooks
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.col("cooks_d").desc(), F.col("day").asc()
            )
        ),
    )
    return (
        d.filter(F.col("rn") <= 3)
        .select(
            "event_type",
            "day",
            F.round("e", 6).alias("residual"),
            F.round("h", 6).alias("leverage"),
            F.round("cooks_d", 6).alias("cooks_d"),
        )
        .orderBy("event_type", F.col("cooks_d").desc(), "day")
    )


@query(
    "durbin_watson_daily_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 100.0 AS y
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, day, y,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY day) AS DOUBLE) AS t
      FROM daily
    ), m AS (
      SELECT event_type, COUNT(*) AS n, SUM(t) AS st, SUM(t * t) AS stt,
             SUM(y) AS sy, SUM(t * y) AS sty
      FROM idx GROUP BY event_type
    ), fit AS (
      SELECT event_type, n,
             (sty - st * sy / n) / (stt - st * st / n) AS b,
             (sy - (sty - st * sy / n) / (stt - st * st / n) * st) / n AS a
      FROM m
    ), resid AS (
      SELECT i.event_type, i.day,
             i.y - f.a - f.b * i.t AS e,
             LAG(i.y - f.a - f.b * i.t) OVER (
               PARTITION BY i.event_type ORDER BY i.day) AS ep,
             f.n AS n, f.b AS b
      FROM idx i JOIN fit f ON i.event_type = f.event_type
    )
    SELECT event_type, CAST(ANY_VALUE(n) AS BIGINT) AS n_days,
           ROUND(ANY_VALUE(b), 6) AS slope,
           ROUND(SUM(CASE WHEN ep IS NOT NULL
                          THEN (e - ep) * (e - ep) ELSE 0 END)
                 / SUM(e * e), 6) AS durbin_watson
    FROM resid GROUP BY event_type ORDER BY event_type
    """,
)
def durbin_watson_q(spark, sf_dir):
    """Durbin–Watson autocorrelation diagnostic on the per-type daily
    trend residuals — DW = Σ(e_t − e_{t−1})²/Σe², ≈2 means the OLS
    inference upstream (regr_* gates, trend tests) is safe, →0 means
    positive serial correlation is shrinking the honest standard
    errors (the classic way daily metrics fake significance).  Same
    bounded daily-grid OLS moments as the Cook's-distance gate; one
    LAG window per type."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        (
            F.sum(cents).cast("double") / F.count(F.lit(1)) / 100.0
        ).alias("y")
    )
    idx = daily.withColumn(
        "t",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .cast("double"),
    )
    m = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
    )
    sxx = F.col("stt") - F.col("st") * F.col("st") / F.col("n")
    b = (F.col("sty") - F.col("st") * F.col("sy") / F.col("n")) / sxx
    fit = m.select(
        "event_type",
        "n",
        b.alias("b"),
        ((F.col("sy") - b * F.col("st")) / F.col("n")).alias("a"),
    )
    ew = Window.partitionBy("event_type").orderBy("day")
    resid = idx.join(fit, "event_type").select(
        "event_type",
        "day",
        (F.col("y") - F.col("a") - F.col("b") * F.col("t")).alias("e"),
        "n",
        "b",
    ).withColumn("ep", F.lag("e").over(ew))
    return (
        resid.groupBy("event_type")
        .agg(
            F.first("n").cast("bigint").alias("n_days"),
            F.round(F.first("b"), 6).alias("slope"),
            F.round(
                F.sum(
                    F.when(
                        F.col("ep").isNotNull(),
                        (F.col("e") - F.col("ep"))
                        * (F.col("e") - F.col("ep")),
                    ).otherwise(F.lit(0.0))
                )
                / F.sum(F.col("e") * F.col("e")),
                6,
            ).alias("durbin_watson"),
        )
        .orderBy("event_type")
    )


@query(
    "anova_two_way_interaction_events",
    """
    WITH obs AS (
      SELECT event_type AS a, isodow(CAST(ts AS DATE)) AS b,
             CAST(ROUND(value * 10000) AS BIGINT) AS v
      FROM events
    ), cells AS (
      SELECT a, b, COUNT(*) AS n, SUM(v) AS s,
             SUM(CAST(v AS HUGEINT) * v) AS ss
      FROM obs GROUP BY a, b
    ), tot AS (
      SELECT SUM(n) AS n, SUM(s) AS s, SUM(CAST(ss AS DOUBLE)) AS ss,
             COUNT(DISTINCT a) AS ka, COUNT(DISTINCT b) AS kb,
             SUM(CAST(s AS DOUBLE) * s / n) AS sscells_raw
      FROM cells
    ), ma AS (
      SELECT SUM(CAST(sa AS DOUBLE) * sa / na) AS ssa_raw
      FROM (SELECT a, SUM(n) AS na, SUM(s) AS sa FROM cells GROUP BY a)
    ), mb AS (
      SELECT SUM(CAST(sb AS DOUBLE) * sb / nb) AS ssb_raw
      FROM (SELECT b, SUM(n) AS nb, SUM(s) AS sb FROM cells GROUP BY b)
    ), f AS (
      SELECT t.n, t.ka, t.kb,
             ma.ssa_raw - CAST(t.s AS DOUBLE) * t.s / t.n AS ssa,
             mb.ssb_raw - CAST(t.s AS DOUBLE) * t.s / t.n AS ssb,
             t.sscells_raw - ma.ssa_raw - mb.ssb_raw
               + CAST(t.s AS DOUBLE) * t.s / t.n AS ssab,
             t.ss - t.sscells_raw AS sse
      FROM tot t CROSS JOIN ma CROSS JOIN mb
    )
    SELECT CAST(n AS BIGINT) AS n_events,
           ROUND((ssa / (ka - 1)) / (sse / (n - ka * kb)), 6) AS f_type,
           ROUND((ssb / (kb - 1)) / (sse / (n - ka * kb)), 6) AS f_dow,
           ROUND((ssab / ((ka - 1) * (kb - 1)))
                 / (sse / (n - ka * kb)), 6) AS f_interaction,
           ROUND(ssab / (ssab + sse), 6) AS partial_eta_sq
    FROM f
    """,
)
def anova_two_way_q(spark, sf_dir):
    """Two-way ANOVA with interaction on event value over type × ISO
    day-of-week — the question the one-way gates can't ask: does the
    DAY effect DIFFER BY TYPE (an interaction), or do the two factors
    just add?  Sequential (Type-I) sums of squares from exact ×1e4
    integer cell moments (the standard caveat for unbalanced designs,
    documented): SSA/SSB from marginal folds, SSAB = SS_cells − SSA −
    SSB, SSE = Σx² − SS_cells, all reduced to the a×b grid in one
    hash agg; HUGEINT ≙ decimal(38,0) squared sums."""
    e = load_table(spark, sf_dir, "events")
    v = F.round(F.col("value") * 10000).cast("bigint")
    cells = e.groupBy(
        F.col("event_type").alias("a"),
        (F.weekday(F.to_date("ts")) + 1).alias("b"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s"),
        F.sum(v.cast("decimal(38,0)") * v).alias("ss"),
    )
    tot = cells.agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.sum(F.col("ss").cast("double")).alias("ss"),
        F.countDistinct("a").alias("ka"),
        F.countDistinct("b").alias("kb"),
        F.sum(F.col("s").cast("double") * F.col("s") / F.col("n")).alias(
            "sscells_raw"
        ),
    )
    ma = (
        cells.groupBy("a")
        .agg(F.sum("n").alias("na"), F.sum("s").alias("sa"))
        .agg(
            F.sum(
                F.col("sa").cast("double") * F.col("sa") / F.col("na")
            ).alias("ssa_raw")
        )
    )
    mb = (
        cells.groupBy("b")
        .agg(F.sum("n").alias("nb"), F.sum("s").alias("sb"))
        .agg(
            F.sum(
                F.col("sb").cast("double") * F.col("sb") / F.col("nb")
            ).alias("ssb_raw")
        )
    )
    f = tot.join(F.broadcast(ma), F.lit(True)).join(
        F.broadcast(mb), F.lit(True)
    )
    grand = F.col("s").cast("double") * F.col("s") / F.col("n")
    ssa = F.col("ssa_raw") - grand
    ssb = F.col("ssb_raw") - grand
    ssab = F.col("sscells_raw") - F.col("ssa_raw") - F.col("ssb_raw") + grand
    sse = F.col("ss") - F.col("sscells_raw")
    dfe = F.col("n") - F.col("ka") * F.col("kb")
    return f.select(
        F.col("n").cast("bigint").alias("n_events"),
        F.round((ssa / (F.col("ka") - 1)) / (sse / dfe), 6).alias("f_type"),
        F.round((ssb / (F.col("kb") - 1)) / (sse / dfe), 6).alias("f_dow"),
        F.round(
            (ssab / ((F.col("ka") - 1) * (F.col("kb") - 1))) / (sse / dfe),
            6,
        ).alias("f_interaction"),
        F.round(ssab / (ssab + sse), 6).alias("partial_eta_sq"),
    )


@query(
    "textrank_keywords_docs",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS ws
      FROM documents WHERE COALESCE(trim(text), '') <> ''
    ), pos AS (
      SELECT doc_id, i AS p, ws[i] AS w
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM toks)
    ), vocab AS (
      SELECT w FROM pos GROUP BY w ORDER BY COUNT(*) DESC, w LIMIT 30
    ), adj AS (
      SELECT a.w AS u, b.w AS v, COUNT(*) AS c
      FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
      WHERE a.w <> b.w
        AND a.w IN (SELECT w FROM vocab) AND b.w IN (SELECT w FROM vocab)
      GROUP BY a.w, b.w
    ), e AS (
      SELECT u, v, SUM(c) AS c FROM (
        SELECT u, v, c FROM adj UNION ALL SELECT v, u, c FROM adj
      ) GROUP BY u, v
    ), nodes AS (
      SELECT DISTINCT u AS id FROM e
    ), sc AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    wsum AS (
      SELECT u, CAST(SUM(c) AS DOUBLE) AS d FROM e GROUP BY u
    ), p0 AS (
      SELECT id, 1.0 / (SELECT n FROM sc) AS r FROM nodes
    ), c1 AS (
      SELECT e.v, SUM(p0.r * e.c / wsum.d) AS s
      FROM e JOIN wsum USING (u) JOIN p0 ON p0.id = e.u GROUP BY e.v
    ), p1 AS (
      SELECT nodes.id,
             0.15 / (SELECT n FROM sc) + 0.85 * COALESCE(c1.s, 0) AS r
      FROM nodes LEFT JOIN c1 ON c1.v = nodes.id
    ), c2 AS (
      SELECT e.v, SUM(p1.r * e.c / wsum.d) AS s
      FROM e JOIN wsum USING (u) JOIN p1 ON p1.id = e.u GROUP BY e.v
    ), p2 AS (
      SELECT nodes.id,
             0.15 / (SELECT n FROM sc) + 0.85 * COALESCE(c2.s, 0) AS r
      FROM nodes LEFT JOIN c2 ON c2.v = nodes.id
    ), c3 AS (
      SELECT e.v, SUM(p2.r * e.c / wsum.d) AS s
      FROM e JOIN wsum USING (u) JOIN p2 ON p2.id = e.u GROUP BY e.v
    ), p3 AS (
      SELECT nodes.id,
             0.15 / (SELECT n FROM sc) + 0.85 * COALESCE(c3.s, 0) AS r
      FROM nodes LEFT JOIN c3 ON c3.v = nodes.id
    ), ranked AS (
      SELECT id, r, ROW_NUMBER() OVER (ORDER BY r DESC, id ASC) AS rn
      FROM p3
    )
    SELECT id AS word, ROUND(r, 9) AS textrank
    FROM ranked WHERE rn <= 10 ORDER BY textrank DESC, word
    """,
)
def textrank_q(spark, sf_dir):
    """TextRank keyword scores (Mihalcea–Tarau 2004): weighted
    PageRank over the word co-occurrence graph (adjacent-token pairs,
    symmetric, top-30-frequency vocabulary as the bounded node set),
    three damped rounds r' = 0.15/n + 0.85·Σ w_uv/W_u·r_u, top-10
    keywords — the graph-centrality alternative to RAKE's
    degree/frequency scores (they disagree exactly where a word is
    frequent but peripheral).  The corpus reduces to the ≤30²
    weighted edge grid after one positional self-join per doc; the
    iteration is the PageRank gate's unrolled shape on a literal
    vocabulary."""
    from ..operators.dedup import tokens_of

    d = load_table(spark, sf_dir, "documents").filter(
        F.coalesce(F.trim("text"), F.lit("")) != ""
    )
    pos = d.select(
        "doc_id", F.posexplode(tokens_of(F.col("text"))).alias("p", "w")
    )
    vocab = (
        pos.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "w")
        .limit(30)
        .select("w")
    )
    a, b = pos.alias("a"), pos.alias("b")
    adj = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.p") == F.col("a.p") + 1),
        )
        .filter(F.col("a.w") != F.col("b.w"))
        .join(
            F.broadcast(vocab.withColumnRenamed("w", "wa")),
            F.col("a.w") == F.col("wa"),
        )
        .join(
            F.broadcast(vocab.withColumnRenamed("w", "wb")),
            F.col("b.w") == F.col("wb"),
        )
        .groupBy(F.col("a.w").alias("u"), F.col("b.w").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    e = checkpoint(
        adj.select("u", "v", "c")
        .unionAll(
            adj.select(
                F.col("v").alias("u"), F.col("u").alias("v"), "c"
            )
        )
        .groupBy("u", "v")
        .agg(F.sum("c").alias("c"))
    )
    nodes = e.select(F.col("u").alias("id")).distinct()
    n_nodes = nodes.agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    wsum = e.groupBy("u").agg(F.sum("c").cast("double").alias("d"))
    r = nodes.join(F.broadcast(n_nodes), F.lit(True)).select(
        "id", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(3):
        contrib = (
            e.join(wsum, "u")
            .join(r.withColumnRenamed("id", "u"), "u")
            .groupBy("v")
            .agg(
                F.sum(
                    F.col("r") * F.col("c") / F.col("d")
                ).alias("s")
            )
        )
        r = (
            nodes.join(contrib.withColumnRenamed("v", "id"), "id", "left")
            .join(F.broadcast(n_nodes), F.lit(True))
            .select(
                "id",
                (
                    F.lit(0.15) / F.col("n")
                    + F.lit(0.85) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return (
        r.orderBy(F.col("r").desc(), "id")
        .limit(10)
        .select(F.col("id").alias("word"), F.round("r", 9).alias("textrank"))
        .orderBy(F.col("textrank").desc(), "word")
    )


@query(
    "hhi_concentration_customers",
    """
    WITH cust AS (
      SELECT o_custkey,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS x
      FROM orders GROUP BY o_custkey
    ), tot AS (
      SELECT SUM(x) AS sx, COUNT(*) AS n FROM cust
    ), top4 AS (
      SELECT SUM(x) AS s4 FROM (
        SELECT x FROM cust ORDER BY x DESC, o_custkey ASC LIMIT 4
      )
    )
    SELECT CAST(t.n AS BIGINT) AS n_customers,
           ROUND(SUM((CAST(c.x AS DOUBLE) / t.sx)
                     * (CAST(c.x AS DOUBLE) / t.sx)) * 10000, 4) AS hhi,
           ROUND(10000.0 / t.n, 4) AS hhi_uniform,
           ROUND(CAST(f.s4 AS DOUBLE) / t.sx, 6) AS cr4
    FROM cust c CROSS JOIN tot t CROSS JOIN top4 f
    GROUP BY t.n, t.sx, f.s4
    """,
)
def hhi_q(spark, sf_dir):
    """Herfindahl–Hirschman revenue-concentration index over
    customers (HHI = 10000·Σ share², the antitrust-standard
    concentration scale) plus the CR4 top-4 concentration ratio and
    the uniform-market floor 10000/n — the "is our revenue one lost
    account away from trouble" number, complementing the Gini gate's
    inequality curve with the concentration economists actually
    threshold (1500/2500).  One customer-keyed agg, a 1-row total, a
    deterministic top-4 (TakeOrdered), one fold — shares are exact
    integer ratios into the final squares."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    cust = o.groupBy("o_custkey").agg(F.sum(cents).alias("x"))
    tot = cust.agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"))
    top4 = (
        cust.orderBy(F.col("x").desc(), F.col("o_custkey").asc())
        .limit(4)
        .agg(F.sum("x").alias("s4"))
    )
    share = F.col("x").cast("double") / F.col("sx")
    return (
        cust.join(F.broadcast(tot), F.lit(True))
        .join(F.broadcast(top4), F.lit(True))
        .groupBy("n", "sx", "s4")
        .agg(F.round(F.sum(share * share) * 10000, 4).alias("hhi"))
        .select(
            F.col("n").cast("bigint").alias("n_customers"),
            "hhi",
            F.round(F.lit(10000.0) / F.col("n"), 4).alias("hhi_uniform"),
            F.round(
                F.col("s4").cast("double") / F.col("sx"), 6
            ).alias("cr4"),
        )
    )
