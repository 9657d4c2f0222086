"""Round-9 wave: heteroscedastic/ordered/stratified inference, robust
two-sample tests, portmanteau autocorrelation, inequality curves,
cluster-validity indices, containment dedup, burstiness, survival
comparison, and STL-style decomposition — split-registry domain
module.

Registration order is preserved by the package ``__init__`` importing
the domain modules in the original file order; ``Q``/``O`` are the
shared dicts from ``._core``.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401  resolves pandas_udf string annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401
from pyspark.sql.window import Window  # noqa: F401

from ..materialize import checkpoint
from ..tables import load_table  # noqa: F401
from ._core import (  # noqa: F401
    O,
    Q,
    normal_cdf,
    query,
)


# =====================================================================
# Round-9 wave 1: heteroscedastic / ordered / stratified inference
# =====================================================================

@query(
    "welch_anova_priority_orders",
    """
    WITH cells AS (
      SELECT o_orderpriority AS g, COUNT(*) AS n,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS s,
             SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS HUGEINT)
                 * CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS ss
      FROM orders GROUP BY o_orderpriority
    ), wcells AS (
      SELECT g, n, CAST(s AS DOUBLE) / n AS m,
             n / ((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                  / (n - 1)) AS w
      FROM cells
    ), tot AS (
      SELECT COUNT(*) AS k, SUM(w) AS sw, SUM(w * m) AS swm FROM wcells
    ), parts AS (
      SELECT c.g, c.n, c.w, c.m, t.k, t.sw,
             c.w * (c.m - t.swm / t.sw) * (c.m - t.swm / t.sw) AS a_g,
             (1 - c.w / t.sw) * (1 - c.w / t.sw) / (c.n - 1) AS h_g
      FROM wcells c CROSS JOIN tot t
    )
    SELECT CAST(ANY_VALUE(k) AS BIGINT) AS n_groups,
           ROUND(SUM(a_g) / (ANY_VALUE(k) - 1)
                 / (1 + 2.0 * (ANY_VALUE(k) - 2) / (ANY_VALUE(k)
                    * ANY_VALUE(k) - 1) * SUM(h_g)), 6) AS w_stat,
           CAST(ANY_VALUE(k) - 1 AS BIGINT) AS df1,
           ROUND((ANY_VALUE(k) * ANY_VALUE(k) - 1.0) / (3.0 * SUM(h_g)), 4)
             AS df2
    FROM parts
    """,
)
def welch_anova_q(spark, sf_dir):
    """Welch's heteroscedastic ANOVA across order priorities — the
    omnibus that stays valid when group variances differ (classic
    ANOVA's MSW pooling is exactly what breaks under variance
    heterogeneity; the Brown–Forsythe gate tests FOR that
    heterogeneity, this one tests the means DESPITE it):
    W* = Σwᵢ(x̄ᵢ−x̄w)²/(k−1) / (1 + 2(k−2)/(k²−1)·Σhᵢ) with
    wᵢ = nᵢ/sᵢ², hᵢ = (1−wᵢ/Σw)²/(nᵢ−1), and the Welch–Satterthwaite
    df₂ = (k²−1)/(3Σhᵢ).  The corpus reduces to k=5 exact
    integer-cents moment cells; everything after is k-row scalar
    math."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    cells = o.groupBy(F.col("o_orderpriority").alias("g")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s"),
        F.sum(cents.cast("decimal(38,0)") * cents).alias("ss"),
    )
    wcells = cells.select(
        "g",
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("m"),
        (
            F.col("n")
            / (
                (
                    F.col("ss").cast("double")
                    - F.col("s").cast("double") * F.col("s") / F.col("n")
                )
                / (F.col("n") - 1)
            )
        ).alias("w"),
    )
    tot = wcells.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("w").alias("sw"),
        F.sum(F.col("w") * F.col("m")).alias("swm"),
    )
    parts = wcells.join(F.broadcast(tot), F.lit(True)).select(
        "k",
        (
            F.col("w")
            * (F.col("m") - F.col("swm") / F.col("sw"))
            * (F.col("m") - F.col("swm") / F.col("sw"))
        ).alias("a_g"),
        (
            (1 - F.col("w") / F.col("sw"))
            * (1 - F.col("w") / F.col("sw"))
            / (F.col("n") - 1)
        ).alias("h_g"),
    )
    return parts.agg(
        F.first("k").cast("bigint").alias("n_groups"),
        F.round(
            F.sum("a_g")
            / (F.first("k") - 1)
            / (
                1
                + 2.0
                * (F.first("k") - 2)
                / (F.first("k") * F.first("k") - 1)
                * F.sum("h_g")
            ),
            6,
        ).alias("w_stat"),
        (F.first("k") - 1).cast("bigint").alias("df1"),
        F.round(
            (F.first("k") * F.first("k") - 1.0) / (3.0 * F.sum("h_g")), 4
        ).alias("df2"),
    )


# The D'Agostino Z transforms are long closed-form scalar chains; one
# shared SQL string per output keeps Spark (via F.expr) and DuckDB on
# BIT-IDENTICAL expression trees — the pHash literal-chain trick
# applied to formulas instead of weights.  Inputs are one row of
# (nd, g1, b2) doubles.
_DAG_Y = "(g1 * sqrt((nd + 1) * (nd + 3) / (6 * (nd - 2))))"
_DAG_B2T = (
    "(3.0 * (nd * nd + 27 * nd - 70) * (nd + 1) * (nd + 3)"
    " / ((nd - 2) * (nd + 5) * (nd + 7) * (nd + 9)))"
)
_DAG_W2 = f"(-1.0 + sqrt(2.0 * ({_DAG_B2T} - 1)))"
_DAG_DELTA = f"(1.0 / sqrt(ln(sqrt({_DAG_W2}))))"
_DAG_ALPHA = f"(sqrt(2.0 / ({_DAG_W2} - 1)))"
_DAG_Z1 = (
    f"({_DAG_DELTA} * ln({_DAG_Y} / {_DAG_ALPHA}"
    f" + sqrt(({_DAG_Y} / {_DAG_ALPHA}) * ({_DAG_Y} / {_DAG_ALPHA}) + 1)))"
)
_DAG_EB2 = "(3.0 * (nd - 1) / (nd + 1))"
_DAG_VB2 = (
    "(24.0 * nd * (nd - 2) * (nd - 3)"
    " / ((nd + 1) * (nd + 1) * (nd + 3) * (nd + 5)))"
)
_DAG_X = f"((b2 - {_DAG_EB2}) / sqrt({_DAG_VB2}))"
_DAG_SB1 = (
    "(6.0 * (nd * nd - 5 * nd + 2) / ((nd + 7) * (nd + 9))"
    " * sqrt(6.0 * (nd + 3) * (nd + 5) / (nd * (nd - 2) * (nd - 3))))"
)
_DAG_A = (
    f"(6.0 + 8.0 / {_DAG_SB1} * (2.0 / {_DAG_SB1}"
    f" + sqrt(1.0 + 4.0 / ({_DAG_SB1} * {_DAG_SB1}))))"
)
_DAG_Z2 = (
    f"(((1.0 - 2.0 / (9.0 * {_DAG_A}))"
    f" - cbrt((1.0 - 2.0 / {_DAG_A})"
    f" / (1.0 + {_DAG_X} * sqrt(2.0 / ({_DAG_A} - 4)))))"
    f" / sqrt(2.0 / (9.0 * {_DAG_A})))"
)


@query(
    "dagostino_k2_totalprice",
    f"""
    WITH mom AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS s1,
             SUM(CAST(ROUND(o_totalprice) AS BIGINT)
                 * CAST(ROUND(o_totalprice) AS BIGINT)) AS s2,
             SUM(CAST(CAST(ROUND(o_totalprice) AS BIGINT) AS HUGEINT)
                 * CAST(ROUND(o_totalprice) AS BIGINT)
                 * CAST(ROUND(o_totalprice) AS BIGINT)) AS s3,
             SUM(CAST(CAST(ROUND(o_totalprice) AS BIGINT) AS HUGEINT)
                 * CAST(ROUND(o_totalprice) AS BIGINT)
                 * CAST(ROUND(o_totalprice) AS BIGINT)
                 * CAST(ROUND(o_totalprice) AS BIGINT)) AS s4
      FROM orders
    ), cm AS (
      SELECT CAST(n AS DOUBLE) AS nd,
             CAST(s1 AS DOUBLE) / n AS mu,
             CAST(s2 AS DOUBLE) / n AS r2,
             CAST(s3 AS DOUBLE) / n AS r3,
             CAST(s4 AS DOUBLE) / n AS r4
      FROM mom
    ), gg AS (
      SELECT nd,
             (r3 - 3 * mu * r2 + 2 * mu * mu * mu)
               / pow(r2 - mu * mu, 1.5) AS g1,
             (r4 - 4 * mu * r3 + 6 * mu * mu * r2 - 3 * mu * mu * mu * mu)
               / ((r2 - mu * mu) * (r2 - mu * mu)) AS b2
      FROM cm
    )
    SELECT CAST(nd AS BIGINT) AS n_orders,
           ROUND(g1, 6) AS skew_g1,
           ROUND(b2, 6) AS kurt_b2,
           ROUND({_DAG_Z1}, 6) AS z_skew,
           ROUND({_DAG_Z2}, 6) AS z_kurt,
           ROUND({_DAG_Z1} * {_DAG_Z1} + {_DAG_Z2} * {_DAG_Z2}, 6) AS k2_stat
    FROM gg
    """,
)
def dagostino_k2_q(spark, sf_dir):
    """D'Agostino–Pearson K² omnibus normality test on order totals —
    the moments-only normality check that scales where Shapiro–Wilk
    (needs a full sort and n ≤ 5000) cannot: skewness g1 through
    D'Agostino's Z₁ transform, kurtosis b2 through Anscombe–Glynn's
    Z₂, K² = Z₁² + Z₂² ~ χ²₂ under normality.  One pass of exact
    integer raw moments (whole-dollar grid so s4 stays inside
    decimal(38,0) ≡ HUGEINT at any SF), then scalar closed forms —
    built from ONE shared SQL string per transform (F.expr) so both
    engines evaluate bit-identical trees."""
    o = load_table(spark, sf_dir, "orders")
    v = F.round(F.col("o_totalprice")).cast("bigint")
    vd = v.cast("decimal(38,0)")
    mom = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(vd * v * v).alias("s3"),
        F.sum(vd * v * v * v).alias("s4"),
    )
    cm = mom.select(
        F.col("n").cast("double").alias("nd"),
        (F.col("s1").cast("double") / F.col("n")).alias("mu"),
        (F.col("s2").cast("double") / F.col("n")).alias("r2"),
        (F.col("s3").cast("double") / F.col("n")).alias("r3"),
        (F.col("s4").cast("double") / F.col("n")).alias("r4"),
    )
    gg = cm.select(
        "nd",
        F.expr(
            "(r3 - 3 * mu * r2 + 2 * mu * mu * mu)"
            " / pow(r2 - mu * mu, 1.5)"
        ).alias("g1"),
        F.expr(
            "(r4 - 4 * mu * r3 + 6 * mu * mu * r2 - 3 * mu * mu * mu * mu)"
            " / ((r2 - mu * mu) * (r2 - mu * mu))"
        ).alias("b2"),
    )
    return gg.select(
        F.col("nd").cast("bigint").alias("n_orders"),
        F.round("g1", 6).alias("skew_g1"),
        F.round("b2", 6).alias("kurt_b2"),
        F.round(F.expr(_DAG_Z1), 6).alias("z_skew"),
        F.round(F.expr(_DAG_Z2), 6).alias("z_kurt"),
        F.round(
            F.expr(f"{_DAG_Z1} * {_DAG_Z1} + {_DAG_Z2} * {_DAG_Z2}"), 6
        ).alias("k2_stat"),
    )


@query(
    "cochran_armitage_priority_returns",
    """
    WITH cells AS (
      SELECT CAST(substr(o.o_orderpriority, 1, 1) AS INT) AS sc,
             COUNT(*) AS n,
             SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS a
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1
    ), tot AS (
      SELECT SUM(n) AS nn, SUM(a) AS aa,
             SUM(CAST(sc AS DOUBLE) * n) AS ssn,
             SUM(CAST(sc AS DOUBLE) * sc * n) AS ss2n,
             SUM(CAST(sc AS DOUBLE) * a) AS ssa
      FROM cells
    )
    SELECT CAST(nn AS BIGINT) AS n_lines,
           ROUND(CAST(aa AS DOUBLE) / nn, 6) AS pooled_rate,
           ROUND((ssa - ssn * (CAST(aa AS DOUBLE) / nn))
                 / sqrt((CAST(aa AS DOUBLE) / nn)
                        * (1 - CAST(aa AS DOUBLE) / nn)
                        * (ss2n - ssn * ssn / nn)), 6) AS z_trend,
           ROUND((ssa - ssn * (CAST(aa AS DOUBLE) / nn))
                 * (ssa - ssn * (CAST(aa AS DOUBLE) / nn))
                 / ((CAST(aa AS DOUBLE) / nn)
                    * (1 - CAST(aa AS DOUBLE) / nn)
                    * (ss2n - ssn * ssn / nn)), 6) AS chi2_trend
    FROM tot
    """,
)
def cochran_armitage_q(spark, sf_dir):
    """Cochran–Armitage trend test: does the return RATE move
    monotonically with order priority (scores 1..5 from the priority
    prefix)?  The dose-response test a χ² of independence cannot
    answer (χ² detects ANY deviation; CA concentrates its one degree
    of freedom on the ordered trend):
    z = Σsᵢ(aᵢ−nᵢp̄) / √(p̄(1−p̄)(Σsᵢ²nᵢ − (Σsᵢnᵢ)²/N)).  The join
    reduces to k=5 exact integer cells — the scores are small
    integers so every sum is exact until the final division."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cells = (
        li.join(
            o.select("o_orderkey", "o_orderpriority"),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .groupBy(
            F.substring("o_orderpriority", 1, 1).cast("int").alias("sc")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("a"),
        )
    )
    tot = cells.agg(
        F.sum("n").alias("nn"),
        F.sum("a").alias("aa"),
        F.sum(F.col("sc").cast("double") * F.col("n")).alias("ssn"),
        F.sum(
            F.col("sc").cast("double") * F.col("sc") * F.col("n")
        ).alias("ss2n"),
        F.sum(F.col("sc").cast("double") * F.col("a")).alias("ssa"),
    )
    p = F.col("aa").cast("double") / F.col("nn")
    t_num = F.col("ssa") - F.col("ssn") * p
    var = p * (1 - p) * (
        F.col("ss2n") - F.col("ssn") * F.col("ssn") / F.col("nn")
    )
    return tot.select(
        F.col("nn").cast("bigint").alias("n_lines"),
        F.round(p, 6).alias("pooled_rate"),
        F.round(t_num / F.sqrt(var), 6).alias("z_trend"),
        F.round(t_num * t_num / var, 6).alias("chi2_trend"),
    )


@query(
    "mantel_haenszel_weekend_purchase_events",
    """
    WITH cells AS (
      SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk,
             SUM(CASE WHEN isodow(CAST(ts AS DATE)) >= 6
                  AND event_type = 'purchase' THEN 1 ELSE 0 END) AS a,
             SUM(CASE WHEN isodow(CAST(ts AS DATE)) >= 6
                  AND event_type <> 'purchase' THEN 1 ELSE 0 END) AS b,
             SUM(CASE WHEN isodow(CAST(ts AS DATE)) < 6
                  AND event_type = 'purchase' THEN 1 ELSE 0 END) AS c,
             SUM(CASE WHEN isodow(CAST(ts AS DATE)) < 6
                  AND event_type <> 'purchase' THEN 1 ELSE 0 END) AS d
      FROM events GROUP BY 1
    ), s AS (
      SELECT wk, a, b, c, d, a + b + c + d AS n FROM cells
      WHERE a + b + c + d >= 2
        AND (a + b) > 0 AND (c + d) > 0 AND (a + c) > 0 AND (b + d) > 0
    ), folds AS (
      SELECT COUNT(*) AS n_strata,
             SUM(CAST(a AS DOUBLE) * d / n) AS sad,
             SUM(CAST(b AS DOUBLE) * c / n) AS sbc,
             SUM(a) AS sa,
             SUM(CAST(a + b AS DOUBLE) * (a + c) / n) AS sea,
             SUM(CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)
                 / (CAST(n AS DOUBLE) * n * (n - 1))) AS sva
      FROM s
    )
    SELECT CAST(n_strata AS BIGINT) AS n_strata,
           ROUND(sad / sbc, 6) AS or_mh,
           ROUND((ABS(sa - sea) - 0.5) * (ABS(sa - sea) - 0.5) / sva, 6)
             AS chi2_mh
    FROM folds
    """,
)
def mantel_haenszel_q(spark, sf_dir):
    """Mantel–Haenszel pooled odds ratio: weekend exposure vs purchase
    outcome, stratified by ISO week — the confounder-adjusted
    association the crude 2×2 gets wrong whenever traffic mix shifts
    week to week (Simpson's reversal is exactly what stratification
    guards against).  ORₘₕ = Σ(aᵢdᵢ/nᵢ)/Σ(bᵢcᵢ/nᵢ) plus the MH χ²
    with continuity correction against the hypergeometric
    expectation.  Each stratum folds to four integers map-side; the
    estimator is a ratio of two additive folds, so it merges across
    any partitioning — degenerate strata (empty margin) are excluded
    by contract."""
    e = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    wknd = (F.weekday(day) + 1) >= 6
    purch = F.col("event_type") == "purchase"
    cells = e.groupBy(
        F.date_trunc("week", day).cast("date").alias("wk")
    ).agg(
        F.sum(F.when(wknd & purch, 1).otherwise(0)).alias("a"),
        F.sum(F.when(wknd & ~purch, 1).otherwise(0)).alias("b"),
        F.sum(F.when(~wknd & purch, 1).otherwise(0)).alias("c"),
        F.sum(F.when(~wknd & ~purch, 1).otherwise(0)).alias("d"),
    )
    s = cells.withColumn(
        "n", F.col("a") + F.col("b") + F.col("c") + F.col("d")
    ).filter(
        (F.col("n") >= 2)
        & (F.col("a") + F.col("b") > 0)
        & (F.col("c") + F.col("d") > 0)
        & (F.col("a") + F.col("c") > 0)
        & (F.col("b") + F.col("d") > 0)
    )
    folds = s.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum(F.col("a").cast("double") * F.col("d") / F.col("n")).alias(
            "sad"
        ),
        F.sum(F.col("b").cast("double") * F.col("c") / F.col("n")).alias(
            "sbc"
        ),
        F.sum("a").alias("sa"),
        F.sum(
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("a") + F.col("c"))
            / F.col("n")
        ).alias("sea"),
        F.sum(
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("c") + F.col("d"))
            * (F.col("a") + F.col("c"))
            * (F.col("b") + F.col("d"))
            / (F.col("n").cast("double") * F.col("n") * (F.col("n") - 1))
        ).alias("sva"),
    )
    return folds.select(
        F.col("n_strata").cast("bigint").alias("n_strata"),
        F.round(F.col("sad") / F.col("sbc"), 6).alias("or_mh"),
        F.round(
            (F.abs(F.col("sa") - F.col("sea")) - 0.5)
            * (F.abs(F.col("sa") - F.col("sea")) - 0.5)
            / F.col("sva"),
            6,
        ).alias("chi2_mh"),
    )


@query(
    "ljung_box_daily_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ), mstats AS (
      SELECT event_type, COUNT(*) AS n, AVG(CAST(y AS DOUBLE)) AS mu
      FROM daily GROUP BY event_type
    ), dev AS (
      SELECT d.event_type, d.day,
             CAST(d.y AS DOUBLE) - m.mu AS e, m.n
      FROM daily d JOIN mstats m ON d.event_type = m.event_type
    ), lagged AS (
      SELECT event_type, n, e,
             LAG(e, 1) OVER w AS e1, LAG(e, 2) OVER w AS e2,
             LAG(e, 3) OVER w AS e3, LAG(e, 4) OVER w AS e4,
             LAG(e, 5) OVER w AS e5, LAG(e, 6) OVER w AS e6,
             LAG(e, 7) OVER w AS e7
      FROM dev
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), acf AS (
      SELECT event_type, ANY_VALUE(n) AS n,
             SUM(e * e) AS c0,
             SUM(e * e1) AS c1, SUM(e * e2) AS c2, SUM(e * e3) AS c3,
             SUM(e * e4) AS c4, SUM(e * e5) AS c5, SUM(e * e6) AS c6,
             SUM(e * e7) AS c7
      FROM lagged GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           ROUND(c1 / c0, 6) AS r1,
           ROUND(n * (n + 2.0) * (
             (c1 / c0) * (c1 / c0) / (n - 1)
             + (c2 / c0) * (c2 / c0) / (n - 2)
             + (c3 / c0) * (c3 / c0) / (n - 3)
             + (c4 / c0) * (c4 / c0) / (n - 4)
             + (c5 / c0) * (c5 / c0) / (n - 5)
             + (c6 / c0) * (c6 / c0) / (n - 6)
             + (c7 / c0) * (c7 / c0) / (n - 7)), 6) AS q_lb
    FROM acf ORDER BY event_type
    """,
)
def ljung_box_q(spark, sf_dir):
    """Ljung–Box portmanteau Q over the first 7 lags of each type's
    daily count series — "is there ANY autocorrelation left" in one
    number (~χ²₇ under white noise), the residual-whiteness check
    that should follow every trend/seasonal fit (the Durbin–Watson
    gate sees only lag 1; weekly patterns live at lag 7).  The
    corpus reduces to the bounded daily grid; the 7 lag products
    come from ONE window pass (SUM(e·e₋ₖ) with missing leading lags
    null ≡ the truncated Σ_{t>k}), then Q = n(n+2)Σ rₖ²/(n−k)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("y")
    )
    mstats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.col("y").cast("double")).alias("mu"),
    )
    dev = daily.join(mstats, "event_type").select(
        "event_type",
        "day",
        (F.col("y").cast("double") - F.col("mu")).alias("e"),
        "n",
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = dev.select(
        "event_type",
        "n",
        "e",
        *[F.lag("e", k).over(w).alias(f"e{k}") for k in range(1, 8)],
    )
    acf = lagged.groupBy("event_type").agg(
        F.first("n").alias("n"),
        F.sum(F.col("e") * F.col("e")).alias("c0"),
        *[
            F.sum(F.col("e") * F.col(f"e{k}")).alias(f"c{k}")
            for k in range(1, 8)
        ],
    )
    rk = lambda k: (F.col(f"c{k}") / F.col("c0"))
    q = F.col("n") * (F.col("n") + 2.0) * sum(
        rk(k) * rk(k) / (F.col("n") - k) for k in range(1, 8)
    )
    return acf.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.round(rk(1), 6).alias("r1"),
        F.round(q, 6).alias("q_lb"),
    ).orderBy("event_type")


# =====================================================================
# Round-9 wave 2: ordered-alternative / blocked / robust rank tests
# =====================================================================

@query(
    "jonckheere_priority_totalprice_orders",
    """
    WITH hist AS (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS j,
             CAST(ROUND(o_totalprice) AS BIGINT) AS v, COUNT(*) AS c
      FROM orders GROUP BY 1, 2
    ), dense AS (
      SELECT g.v, s.j, COALESCE(h.c, 0) AS c
      FROM (SELECT DISTINCT v FROM hist) g
      CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5]) AS j) s
      LEFT JOIN hist h ON h.v = g.v AND h.j = s.j
    ), tb AS (
      SELECT v, j, c,
             COALESCE(SUM(c) OVER (PARTITION BY v ORDER BY j
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS ties_lower
      FROM dense
    ), cb AS (
      SELECT v, j, c, ties_lower,
             COALESCE(SUM(ties_lower) OVER (PARTITION BY j ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS below_lower
      FROM tb
    ), jt AS (
      SELECT SUM(c * (below_lower + ties_lower / 2.0)) AS jt_stat FROM cb
    ), gsz AS (
      SELECT j, SUM(c) AS ni FROM hist GROUP BY j
    ), tsz AS (
      SELECT v, SUM(c) AS t FROM hist GROUP BY v
    ), moms AS (
      SELECT (SELECT SUM(ni) FROM gsz) AS n,
             (SELECT SUM(CAST(ni AS DOUBLE) * ni) FROM gsz) AS sn2,
             (SELECT SUM(CAST(ni AS DOUBLE) * (ni - 1) * (2 * ni + 5))
              FROM gsz) AS u1,
             (SELECT SUM(CAST(ni AS DOUBLE) * (ni - 1) * (ni - 2))
              FROM gsz) AS u2,
             (SELECT SUM(CAST(ni AS DOUBLE) * (ni - 1)) FROM gsz) AS u3,
             (SELECT SUM(CAST(t AS DOUBLE) * (t - 1) * (2 * t + 5))
              FROM tsz) AS w1,
             (SELECT SUM(CAST(t AS DOUBLE) * (t - 1) * (t - 2))
              FROM tsz) AS w2,
             (SELECT SUM(CAST(t AS DOUBLE) * (t - 1)) FROM tsz) AS w3
    ), fin AS (
      SELECT j.jt_stat, m.n,
             (CAST(m.n AS DOUBLE) * m.n - m.sn2) / 4.0 AS e_jt,
             (CAST(m.n AS DOUBLE) * (m.n - 1) * (2 * m.n + 5)
              - m.u1 - m.w1) / 72.0
             + m.u2 * m.w2
               / (36.0 * m.n * (m.n - 1) * (m.n - 2))
             + m.u3 * m.w3 / (8.0 * m.n * (m.n - 1)) AS var_jt
      FROM jt j CROSS JOIN moms m
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           ROUND(jt_stat, 2) AS jt_stat,
           ROUND(e_jt, 2) AS e_jt,
           ROUND((jt_stat - e_jt) / sqrt(var_jt), 6) AS z_jt
    FROM fin
    """,
)
def jonckheere_q(spark, sf_dir):
    """Jonckheere–Terpstra ordered-alternative test: do order totals
    trend monotonically across the priority ladder (1-URGENT … 5-LOW)?
    The test Kruskal–Wallis wastes power on when the alternative is
    ORDERED: JT = Σ_{i<j} #{x_i < x_j} (+½ ties), z-scored against
    the tie-corrected Hollander–Wolfe null moments.  The 100 TB
    shape: pair counts come from TWO cumulative windows over the
    dense (whole-dollar value × 5 scores) grid — ties_lower
    cumulates over the score axis at fixed value, below_lower over
    the value axis at fixed score — never a pair join; the grid is
    price-domain-bounded.  All tie/group moments fold from the same
    histogram."""
    o = load_table(spark, sf_dir, "orders")
    hist = o.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("j"),
        F.round(F.col("o_totalprice")).cast("bigint").alias("v"),
    ).agg(F.count(F.lit(1)).alias("c"))
    scores = spark.range(1, 6).select(F.col("id").cast("int").alias("j"))
    dense = (
        hist.select("v")
        .distinct()
        .crossJoin(F.broadcast(scores))
        .join(hist, ["v", "j"], "left")
        .select("v", "j", F.coalesce("c", F.lit(0)).alias("c"))
    )
    w_tie = (
        Window.partitionBy("v")
        .orderBy("j")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tb = dense.withColumn(
        "ties_lower", F.coalesce(F.sum("c").over(w_tie), F.lit(0))
    )
    w_below = (
        Window.partitionBy("j")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cb = tb.withColumn(
        "below_lower", F.coalesce(F.sum("ties_lower").over(w_below), F.lit(0))
    )
    jt = cb.agg(
        F.sum(
            F.col("c") * (F.col("below_lower") + F.col("ties_lower") / 2.0)
        ).alias("jt_stat")
    )
    gsz = hist.groupBy("j").agg(F.sum("c").alias("ni"))
    tsz = hist.groupBy("v").agg(F.sum("c").alias("t"))
    nid = F.col("ni").cast("double")
    moms_g = gsz.agg(
        F.sum("ni").alias("n"),
        F.sum(nid * F.col("ni")).alias("sn2"),
        F.sum(nid * (F.col("ni") - 1) * (2 * F.col("ni") + 5)).alias("u1"),
        F.sum(nid * (F.col("ni") - 1) * (F.col("ni") - 2)).alias("u2"),
        F.sum(nid * (F.col("ni") - 1)).alias("u3"),
    )
    td = F.col("t").cast("double")
    moms_t = tsz.agg(
        F.sum(td * (F.col("t") - 1) * (2 * F.col("t") + 5)).alias("w1"),
        F.sum(td * (F.col("t") - 1) * (F.col("t") - 2)).alias("w2"),
        F.sum(td * (F.col("t") - 1)).alias("w3"),
    )
    nd = F.col("n").cast("double")
    fin = (
        jt.join(F.broadcast(moms_g), F.lit(True))
        .join(F.broadcast(moms_t), F.lit(True))
        .select(
            "jt_stat",
            "n",
            ((nd * F.col("n") - F.col("sn2")) / 4.0).alias("e_jt"),
            (
                (nd * (F.col("n") - 1) * (2 * F.col("n") + 5)
                 - F.col("u1") - F.col("w1")) / 72.0
                + F.col("u2") * F.col("w2")
                / (36.0 * nd * (F.col("n") - 1) * (F.col("n") - 2))
                + F.col("u3") * F.col("w3")
                / (8.0 * nd * (F.col("n") - 1))
            ).alias("var_jt"),
        )
    )
    return fin.select(
        F.col("n").cast("bigint").alias("n_orders"),
        F.round("jt_stat", 2).alias("jt_stat"),
        F.round("e_jt", 2).alias("e_jt"),
        F.round(
            (F.col("jt_stat") - F.col("e_jt")) / F.sqrt(F.col("var_jt")), 6
        ).alias("z_jt"),
    )


@query(
    "friedman_dow_weeks_events",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk,
             isodow(CAST(ts AS DATE)) AS dow, COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ), complete AS (
      SELECT wk FROM daily GROUP BY wk HAVING COUNT(*) = 7
    ), blocks AS (
      SELECT d.wk, d.dow, d.y FROM daily d JOIN complete c ON d.wk = c.wk
    ), ranked AS (
      SELECT wk, dow,
             COALESCE(SUM(1) OVER (PARTITION BY wk ORDER BY y
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + (SUM(1) OVER (PARTITION BY wk ORDER BY y
                RANGE BETWEEN CURRENT ROW AND CURRENT ROW) + 1) / 2.0
               AS r
      FROM blocks
    ), sums AS (
      SELECT dow, SUM(r) AS rj FROM ranked GROUP BY dow
    ), a1 AS (
      SELECT SUM(r * r) AS a1,
             COUNT(DISTINCT wk) AS b
      FROM ranked
    )
    SELECT CAST(a.b AS BIGINT) AS n_blocks,
           CAST(7 AS BIGINT) AS n_treatments,
           ROUND((7 - 1) * ((SELECT SUM(rj * rj) FROM sums)
                 - a.b * a.b * 7 * 8 * 8 / 4.0)
                 / (a.a1 - a.b * 7 * 8 * 8 / 4.0), 6) AS chi2_friedman
    FROM a1 a
    """,
)
def friedman_q(spark, sf_dir):
    """Friedman blocked rank test: does day-of-week move daily event
    volume, BLOCKING on the week (so weekly level shifts — launches,
    seasonality — cancel instead of inflating the error term the way
    they would in a one-way test)?  Conover's tie-corrected form
    T = (k−1)(ΣR_j²/b − bk(k+1)²/4)/(A₁ − bk(k+1)²/4) over complete
    7-day blocks, which reduces to the classic
    12/(bk(k+1))ΣR_j² − 3b(k+1) when ties are absent.  Within-block
    midranks come from two RANGE-frame window counts over ≤7-row
    partitions; everything else is bounded-grid folds."""
    e = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    daily = e.groupBy(
        F.date_trunc("week", day).cast("date").alias("wk"),
        (F.weekday(day) + 1).alias("dow"),
    ).agg(F.count(F.lit(1)).alias("y"))
    complete = daily.groupBy("wk").agg(
        F.count(F.lit(1)).alias("nd")
    ).filter(F.col("nd") == 7).select("wk")
    blocks = daily.join(complete, "wk")
    w_lt = (
        Window.partitionBy("wk")
        .orderBy("y")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eq = (
        Window.partitionBy("wk").orderBy("y").rangeBetween(0, 0)
    )
    ranked = blocks.select(
        "wk",
        "dow",
        (
            F.coalesce(F.sum(F.lit(1)).over(w_lt), F.lit(0))
            + (F.sum(F.lit(1)).over(w_eq) + 1) / 2.0
        ).alias("r"),
    )
    sums = ranked.groupBy("dow").agg(F.sum("r").alias("rj"))
    a1 = ranked.agg(
        F.sum(F.col("r") * F.col("r")).alias("a1"),
        F.countDistinct("wk").alias("b"),
    )
    srj = sums.agg(F.sum(F.col("rj") * F.col("rj")).alias("srj2"))
    k = 7
    # Conover T1 = (k−1)·(ΣR_j² − b²k(k+1)²/4) / (A1 − bk(k+1)²/4):
    # the numerator's centering term carries b², the denominator's b
    # (the b-vs-b² asymmetry is easy to flatten — the hand pin in
    # test_wave9_ops caught exactly that, in BOTH engines at once)
    c_term = F.col("b") * k * (k + 1) * (k + 1) / 4.0
    return (
        a1.join(F.broadcast(srj), F.lit(True))
        .select(
            F.col("b").cast("bigint").alias("n_blocks"),
            F.lit(k).cast("bigint").alias("n_treatments"),
            F.round(
                (k - 1)
                * (F.col("srj2") - F.col("b") * c_term)
                / (F.col("a1") - c_term),
                6,
            ).alias("chi2_friedman"),
        )
    )


@query(
    "yuen_trimmed_ttest_orders",
    """
    WITH obs AS (
      SELECT o_orderstatus AS g,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ), hist AS (
      SELECT g, v, COUNT(*) AS c FROM obs GROUP BY g, v
    ), cum AS (
      SELECT g, v, c,
             COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cb
      FROM hist
    ), tot AS (
      SELECT g, SUM(c) AS n,
             CAST(FLOOR(SUM(c) / 5.0) AS BIGINT) AS gt
      FROM hist GROUP BY g
    ), jx AS (
      SELECT c.g, c.v, c.c, c.cb, t.n, t.gt,
             GREATEST(0, LEAST(c.cb + c.c, t.n - t.gt)
                      - GREATEST(c.cb, t.gt)) AS e
      FROM cum c JOIN tot t ON c.g = t.g
    ), folds AS (
      SELECT g, ANY_VALUE(n) AS n, ANY_VALUE(gt) AS gt,
             SUM(v * e) AS ts,
             SUM(CAST(v AS HUGEINT) * v * e) AS tss,
             MIN(CASE WHEN cb + c >= gt + 1 THEN v END) AS v_lo,
             MIN(CASE WHEN cb + c >= n - gt THEN v END) AS v_hi
      FROM jx GROUP BY g
    ), stats AS (
      SELECT g, n, gt, n - 2 * gt AS h,
             CAST(ts AS DOUBLE) / (n - 2 * gt) AS tm,
             ((CAST(tss AS DOUBLE) + CAST(gt AS DOUBLE) * v_lo * v_lo
               + CAST(gt AS DOUBLE) * v_hi * v_hi)
              - (CAST(ts AS DOUBLE) + CAST(gt AS DOUBLE) * v_lo
                 + CAST(gt AS DOUBLE) * v_hi)
                * (CAST(ts AS DOUBLE) + CAST(gt AS DOUBLE) * v_lo
                   + CAST(gt AS DOUBLE) * v_hi) / n) / (n - 1) AS s2w
      FROM folds
    ), two AS (
      SELECT MAX(CASE WHEN g = 'F' THEN h END) AS h1,
             MAX(CASE WHEN g = 'O' THEN h END) AS h2,
             MAX(CASE WHEN g = 'F' THEN tm END) AS tm1,
             MAX(CASE WHEN g = 'O' THEN tm END) AS tm2,
             MAX(CASE WHEN g = 'F' THEN s2w * (n - 1.0)
                 / (h * (h - 1.0)) END) AS d1,
             MAX(CASE WHEN g = 'O' THEN s2w * (n - 1.0)
                 / (h * (h - 1.0)) END) AS d2
      FROM stats
    )
    SELECT CAST(h1 AS BIGINT) AS h_f, CAST(h2 AS BIGINT) AS h_o,
           ROUND((tm1 - tm2) / 100.0, 4) AS trimmed_mean_diff,
           ROUND((tm1 - tm2) / sqrt(d1 + d2), 6) AS yuen_t,
           ROUND((d1 + d2) * (d1 + d2)
                 / (d1 * d1 / (h1 - 1) + d2 * d2 / (h2 - 1)), 4) AS df
    FROM two
    """,
)
def yuen_q(spark, sf_dir):
    """Yuen's trimmed-mean t-test between finished and open orders —
    the robust two-sample location test that survives the heavy
    tails Welch's t does not (20 % trim each side, winsorized
    variance, Welch–Satterthwaite df on the trimmed counts).  The
    100 TB shape: order statistics come from the cents-quantized
    histogram (one per-group cumulative window over the bounded
    price domain, the CvM/Cliff's-δ audited pattern) — the trim
    multiplicity e(v) = overlap of [cb, cb+c) with [g, n−g) is
    integer-exact, and the winsorized moments stay in exact integers
    (HUGEINT ≡ decimal(38,0)) until the final divisions."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    obs = o.select(
        F.col("o_orderstatus").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
    )
    hist = obs.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c"))
    wv = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.withColumn(
        "cb", F.coalesce(F.sum("c").over(wv), F.lit(0))
    )
    tot = hist.groupBy("g").agg(
        F.sum("c").alias("n"),
        F.floor(F.sum("c") / 5.0).cast("long").alias("gt"),
    )
    jx = cum.join(tot, "g").withColumn(
        "e",
        F.greatest(
            F.lit(0),
            F.least(F.col("cb") + F.col("c"), F.col("n") - F.col("gt"))
            - F.greatest(F.col("cb"), F.col("gt")),
        ),
    )
    folds = jx.groupBy("g").agg(
        F.first("n").alias("n"),
        F.first("gt").alias("gt"),
        F.sum(F.col("v") * F.col("e")).alias("ts"),
        F.sum(
            F.col("v").cast("decimal(38,0)") * F.col("v") * F.col("e")
        ).alias("tss"),
        F.min(
            F.when(F.col("cb") + F.col("c") >= F.col("gt") + 1, F.col("v"))
        ).alias("v_lo"),
        F.min(
            F.when(
                F.col("cb") + F.col("c") >= F.col("n") - F.col("gt"),
                F.col("v"),
            )
        ).alias("v_hi"),
    )
    gtd = F.col("gt").cast("double")
    ws = F.col("ts").cast("double") + gtd * F.col("v_lo") + gtd * F.col("v_hi")
    wss = (
        F.col("tss").cast("double")
        + gtd * F.col("v_lo") * F.col("v_lo")
        + gtd * F.col("v_hi") * F.col("v_hi")
    )
    stats = folds.select(
        "g",
        "n",
        "gt",
        (F.col("n") - 2 * F.col("gt")).alias("h"),
        (
            F.col("ts").cast("double") / (F.col("n") - 2 * F.col("gt"))
        ).alias("tm"),
        ((wss - ws * ws / F.col("n")) / (F.col("n") - 1)).alias("s2w"),
    )
    di = F.col("s2w") * (F.col("n") - 1.0) / (F.col("h") * (F.col("h") - 1.0))
    two = stats.agg(
        F.max(F.when(F.col("g") == "F", F.col("h"))).alias("h1"),
        F.max(F.when(F.col("g") == "O", F.col("h"))).alias("h2"),
        F.max(F.when(F.col("g") == "F", F.col("tm"))).alias("tm1"),
        F.max(F.when(F.col("g") == "O", F.col("tm"))).alias("tm2"),
        F.max(F.when(F.col("g") == "F", di)).alias("d1"),
        F.max(F.when(F.col("g") == "O", di)).alias("d2"),
    )
    return two.select(
        F.col("h1").cast("bigint").alias("h_f"),
        F.col("h2").cast("bigint").alias("h_o"),
        F.round((F.col("tm1") - F.col("tm2")) / 100.0, 4).alias(
            "trimmed_mean_diff"
        ),
        F.round(
            (F.col("tm1") - F.col("tm2"))
            / F.sqrt(F.col("d1") + F.col("d2")),
            6,
        ).alias("yuen_t"),
        F.round(
            (F.col("d1") + F.col("d2"))
            * (F.col("d1") + F.col("d2"))
            / (
                F.col("d1") * F.col("d1") / (F.col("h1") - 1)
                + F.col("d2") * F.col("d2") / (F.col("h2") - 1)
            ),
            4,
        ).alias("df"),
    )


@query(
    "lorenz_curve_customers",
    """
    WITH ct AS (
      SELECT o_custkey,
             CAST(ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  / 100.0) AS BIGINT) AS v
      FROM orders GROUP BY o_custkey
    ), hist AS (
      SELECT v, COUNT(*) AS c FROM ct GROUP BY v
    ), cum AS (
      SELECT v, c,
             COALESCE(SUM(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cc_before,
             COALESCE(SUM(v * c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cv_before
      FROM hist
    ), tot AS (
      SELECT SUM(c) AS n, SUM(v * c) AS s,
             SUM(v * (c * cc_before + c * (c + 1) / 2)) AS srank
      FROM cum
    ), qs AS (
      SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) AS q
    ), pick AS (
      SELECT q.q, t.n, t.s, t.srank,
             CAST(FLOOR(q.q * t.n / 10.0) AS BIGINT) AS rq,
             c.v, c.cc_before, c.cv_before
      FROM qs q CROSS JOIN tot t
      JOIN cum c ON c.cc_before < CAST(FLOOR(q.q * t.n / 10.0) AS BIGINT)
                AND c.cc_before + c.c
                    >= CAST(FLOOR(q.q * t.n / 10.0) AS BIGINT)
    )
    SELECT CAST(q AS BIGINT) AS decile,
           ROUND(CAST(rq AS DOUBLE) / n, 6) AS cum_pop_share,
           ROUND((cv_before + CAST(v AS DOUBLE) * (rq - cc_before))
                 / s, 6) AS cum_value_share,
           ROUND(2.0 * srank / (CAST(n AS DOUBLE) * s)
                 - (n + 1.0) / n, 6) AS gini
    FROM pick ORDER BY decile
    """,
)
def lorenz_q(spark, sf_dir):
    """Lorenz curve + Gini of customer revenue concentration: the
    poorest ⌊qN/10⌋ customers hold L(q) of total revenue, q = 1..10,
    with the exact grouped-data Gini G = 2·Σrank·x/(N·Σx) − (N+1)/N
    riding along (the curve the HHI gate summarizes to one number —
    the curve says WHERE the concentration lives).  The 100 TB
    shape: per-customer totals quantize to the whole-dollar grid, so
    all order statistics come from one cumulative window over the
    price-domain-bounded histogram — the decile thresholds probe the
    straddling cell via a broadcast 10-row inequality join, and rank
    sums over ties are the exact triangular-number fold."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    ct = o.groupBy("o_custkey").agg(
        F.round(F.sum(cents) / 100.0).cast("bigint").alias("v")
    )
    hist = ct.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "v",
        "c",
        F.coalesce(F.sum("c").over(wv), F.lit(0)).alias("cc_before"),
        F.coalesce(F.sum(F.col("v") * F.col("c")).over(wv), F.lit(0)).alias(
            "cv_before"
        ),
    )
    tot = cum.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("v") * F.col("c")).alias("s"),
        F.sum(
            F.col("v")
            * (
                F.col("c") * F.col("cc_before")
                + F.col("c") * (F.col("c") + 1) / 2
            )
        ).alias("srank"),
    )
    qs = spark.range(1, 11).select(F.col("id").alias("q"))
    rq = F.floor(F.col("q") * F.col("n") / 10.0).cast("long")
    pick = (
        F.broadcast(qs.join(F.broadcast(tot), F.lit(True)))
        .withColumn("rq", rq)
        .join(
            cum,
            (F.col("cc_before") < F.col("rq"))
            & (F.col("cc_before") + F.col("c") >= F.col("rq")),
        )
    )
    return pick.select(
        F.col("q").cast("bigint").alias("decile"),
        F.round(F.col("rq").cast("double") / F.col("n"), 6).alias(
            "cum_pop_share"
        ),
        F.round(
            (
                F.col("cv_before")
                + F.col("v").cast("double") * (F.col("rq") - F.col("cc_before"))
            )
            / F.col("s"),
            6,
        ).alias("cum_value_share"),
        F.round(
            2.0 * F.col("srank") / (F.col("n").cast("double") * F.col("s"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
    ).orderBy("decile")


def _holm_oracle() -> str:
    from .wave6_ts import _PHI_SQL

    return f"""
    WITH cells AS (
      SELECT event_type, isodow(CAST(ts AS DATE)) AS dow,
             COUNT(*) AS n,
             SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS s,
             SUM(CAST(ROUND(value * 10000) AS BIGINT)
                 * CAST(ROUND(value * 10000) AS BIGINT)) AS ss
      FROM events GROUP BY event_type, isodow(CAST(ts AS DATE))
    ), gstat AS (
      SELECT SUM(n) AS gn, SUM(s) AS gs, SUM(ss) AS gss FROM cells
    ), z AS (
      SELECT event_type, dow, n,
             (CAST(s AS DOUBLE) / n - CAST(gs AS DOUBLE) / gn)
               / sqrt(((CAST(gss AS DOUBLE) - CAST(gs AS DOUBLE) * gs / gn)
                       / (gn - 1)) / n) AS zst
      FROM cells, gstat
    ), p AS (
      SELECT event_type, dow, n,
             2.0 * (1.0 - {_PHI_SQL.format(z="abs(zst)")}) AS pval
      FROM z
    ), ranked AS (
      SELECT event_type, dow, n, pval,
             ROW_NUMBER() OVER (ORDER BY pval ASC, event_type ASC, dow ASC)
               AS r,
             COUNT(*) OVER () AS m
      FROM p
    )
    SELECT event_type, CAST(dow AS BIGINT) AS dow, CAST(n AS BIGINT) AS n,
           ROUND(pval, 6) AS pval,
           ROUND(LEAST(1.0, MAX(pval * (m - r + 1)) OVER (ORDER BY r ASC
                 ROWS UNBOUNDED PRECEDING)), 6) AS p_adj,
           CAST(CASE WHEN LEAST(1.0, MAX(pval * (m - r + 1))
                          OVER (ORDER BY r ASC ROWS UNBOUNDED PRECEDING))
                          <= 0.05
                THEN 1 ELSE 0 END AS BIGINT) AS reject
    FROM ranked ORDER BY event_type, dow
    """


@query("holm_bonferroni_dow_events", None)  # oracle attached below
def holm_q(spark, sf_dir):
    """Holm–Bonferroni step-down over the (event_type × day-of-week)
    mean-value grid — the FWER-controlling sibling of the fdr_bh
    gate (BH bounds the FALSE-DISCOVERY RATE; Holm bounds the chance
    of ANY false positive — the right control when one wrong launch
    decision is expensive): p₍ᵢ₎ adjusted by the running max of
    p₍ⱼ₎·(m−j+1), clipped at 1.  Same exact-moment z grid and
    Abramowitz–Stegun Φ as fdr_bh; the step-down is one running-MAX
    window over the m = |types|·7 ranked rows — bounded by the test
    grid, never by data volume."""
    e = load_table(spark, sf_dir, "events")
    scaled = F.round(F.col("value") * 10000).cast("bigint")
    cells = e.groupBy(
        "event_type", (F.weekday(F.to_date("ts")) + 1).alias("dow")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(scaled).alias("s"),
        F.sum(scaled * scaled).alias("ss"),
    )
    glob = cells.agg(
        F.sum("n").alias("gn"),
        F.sum("s").alias("gs"),
        F.sum("ss").alias("gss"),
    )
    gmean = F.col("gs").cast("double") / F.col("gn")
    gvar = (
        F.col("gss").cast("double")
        - F.col("gs").cast("double") * F.col("gs") / F.col("gn")
    ) / (F.col("gn") - 1)
    z = cells.join(F.broadcast(glob), F.lit(True)).select(
        "event_type",
        "dow",
        "n",
        (
            (F.col("s").cast("double") / F.col("n") - gmean)
            / F.sqrt(gvar / F.col("n"))
        ).alias("zst"),
    )
    p = z.select(
        "event_type",
        "dow",
        "n",
        (2.0 * (1.0 - normal_cdf(F.abs(F.col("zst"))))).alias("pval"),
    )
    wr = Window.orderBy(
        F.col("pval").asc(), F.col("event_type").asc(), F.col("dow").asc()
    )
    ranked = p.select(
        "event_type",
        "dow",
        "n",
        "pval",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    wmax = Window.orderBy(F.col("r").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    padj = F.least(
        F.lit(1.0),
        F.max(F.col("pval") * (F.col("m") - F.col("r") + 1)).over(wmax),
    )
    return ranked.select(
        "event_type",
        F.col("dow").cast("bigint").alias("dow"),
        F.col("n").cast("bigint").alias("n"),
        F.round("pval", 6).alias("pval"),
        F.round(padj, 6).alias("p_adj"),
        F.when(padj <= 0.05, F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("reject"),
    ).orderBy("event_type", "dow")


O["holm_bonferroni_dow_events"] = _holm_oracle()


# =====================================================================
# Round-9 wave 3: cluster validity / containment dedup / burstiness
# =====================================================================

_EMB_DIM = 64


def _db_point_chain_sql() -> str:
    """Point-to-centroid squared distance: the silhouette gate's
    64-term left-to-right chain, verbatim."""
    return " + ".join(
        f"(CAST(v[{i + 1}] AS DOUBLE) - CAST(c.cent[{i + 1}] AS DOUBLE)"
        f" / c.n) * (CAST(v[{i + 1}] AS DOUBLE)"
        f" - CAST(c.cent[{i + 1}] AS DOUBLE) / c.n)"
        for i in range(_EMB_DIM)
    )


def _db_cent_chain_sql() -> str:
    """Centroid-to-centroid squared distance chain (a vs b)."""
    return " + ".join(
        f"(CAST(a.cent[{i + 1}] AS DOUBLE) / a.n"
        f" - CAST(b.cent[{i + 1}] AS DOUBLE) / b.n)"
        f" * (CAST(a.cent[{i + 1}] AS DOUBLE) / a.n"
        f" - CAST(b.cent[{i + 1}] AS DOUBLE) / b.n)"
        for i in range(_EMB_DIM)
    )


_EMB_CENT_SQL = f"""e AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
               AS v
      FROM embeddings
    ), comp AS (
      SELECT label, i, CAST(SUM(v[i]) AS BIGINT) AS s
      FROM e, range(1, {_EMB_DIM + 1}) t(i)
      GROUP BY label, i
    ), c AS (
      SELECT comp.label, list(s ORDER BY i) AS cent, ANY_VALUE(cnt.n) AS n
      FROM comp
      JOIN (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
            FROM e GROUP BY label) cnt ON cnt.label = comp.label
      GROUP BY comp.label
    )"""


@query(
    "davies_bouldin_embeddings",
    f"""
    WITH {_EMB_CENT_SQL}, dist AS (
      SELECT e.label AS own, c.label AS cl,
             sqrt({_db_point_chain_sql()}) / 1000000 AS d
      FROM e JOIN c ON e.label = c.label
    ), s AS (
      SELECT own AS label, COUNT(*) AS n_points, AVG(d) AS s_i
      FROM dist GROUP BY own
    ), m AS (
      SELECT a.label AS la, b.label AS lb,
             sqrt({_db_cent_chain_sql()}) / 1000000 AS mij
      FROM c a JOIN c b ON a.label <> b.label
    ), r AS (
      SELECT m.la AS label, MAX((sa.s_i + sb.s_i) / m.mij) AS r_i
      FROM m JOIN s sa ON sa.label = m.la
             JOIN s sb ON sb.label = m.lb
      GROUP BY m.la
    ), db AS (
      SELECT AVG(r_i) AS db_index FROM r
    )
    SELECT s.label, CAST(s.n_points AS BIGINT) AS n_points,
           ROUND(s.s_i, 6) AS scatter,
           ROUND(r.r_i, 6) AS r_i,
           ROUND(db.db_index, 6) AS db_index
    FROM s JOIN r ON s.label = r.label CROSS JOIN db
    ORDER BY s.label
    """,
)
def davies_bouldin_q(spark, sf_dir):
    """Davies–Bouldin index over the embedding labels — the cluster-
    validity score that punishes what silhouette's average can hide:
    the single WORST neighbor per cluster (Rᵢ = max_j (Sᵢ+Sⱼ)/Mᵢⱼ;
    lower is better).  Same 100 TB shape as the silhouette gate —
    one k-row centroid broadcast, map-only point distances, then
    k²-row scalar math; components integer-scale ×1e6 so centroids
    are exact rationals and the distance chains are identical
    left-to-right trees in both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1_000_000).cast("long"),
        ).alias("v"),
    )
    # The three 64-term distance chains below are built as ONE SQL
    # string each (F.expr) instead of a Python loop of Column ops:
    # the loop form is ~2000 py4j round-trips and measured ~4 s of
    # DRIVER time per plan build at 32 cores (the bench re-builds the
    # plan every rep, so that cost is paid per run — guide §7.3
    # "planning time itself can become the bottleneck").  The parsed
    # tree is identical (same left-to-right Add chain, same
    # ElementAt/Cast nodes), so the IEEE float result and the oracle
    # hash are unchanged.
    c = checkpoint(
        e.groupBy(F.col("label").alias("cl")).agg(
            F.expr(
                "array("
                + ",".join(
                    f"CAST(SUM(element_at(v, {i + 1})) AS BIGINT)"
                    for i in range(_EMB_DIM)
                )
                + ")"
            ).alias("cent"),
            F.count(F.lit(1)).alias("n"),
            # k-row frame read by the point-distance pass, both k² pair-
            # join sides and the final report — cut the lineage so the
            # 64-sum centroid aggregate runs once (14 parquet scans in the
            # pre-cut plan); a checkpoint, NOT persist: the columnar
            # cache build for the 64-long array column measured 2-4×
            # slower than the checkpoint's one-shot RDD materialization
        )
    )
    _pt = (
        "(CAST(element_at(v, {i}) AS DOUBLE)"
        " - CAST(element_at(cent, {i}) AS DOUBLE) / n)"
    )
    d2 = F.expr(
        " + ".join(
            f"({_pt.format(i=i + 1)} * {_pt.format(i=i + 1)})"
            for i in range(_EMB_DIM)
        )
    )
    dist = e.join(F.broadcast(c), e["label"] == c["cl"]).select(
        F.col("label").alias("own"),
        (F.sqrt(d2) / 1_000_000).alias("d"),
    )
    s = checkpoint(
        dist.groupBy(F.col("own").alias("label")).agg(
            F.count(F.lit(1)).alias("n_points"), F.avg("d").alias("s_i")
        )
    )
    a, b = c.alias("a"), c.alias("b")
    _ct = (
        "(CAST(element_at(a.cent, {i}) AS DOUBLE) / a.n"
        " - CAST(element_at(b.cent, {i}) AS DOUBLE) / b.n)"
    )
    m2 = F.expr(
        " + ".join(
            f"({_ct.format(i=i + 1)} * {_ct.format(i=i + 1)})"
            for i in range(_EMB_DIM)
        )
    )
    m = a.join(F.broadcast(b), F.col("a.cl") != F.col("b.cl")).select(
        F.col("a.cl").alias("la"),
        F.col("b.cl").alias("lb"),
        (F.sqrt(m2) / 1_000_000).alias("mij"),
    )
    sa = s.select(F.col("label").alias("la"), F.col("s_i").alias("s_a"))
    sb = s.select(F.col("label").alias("lb"), F.col("s_i").alias("s_b"))
    r = (
        m.join(F.broadcast(sa), "la")
        .join(F.broadcast(sb), "lb")
        .groupBy(F.col("la").alias("label"))
        .agg(
            F.max((F.col("s_a") + F.col("s_b")) / F.col("mij")).alias("r_i")
        )
    )
    db = r.agg(F.avg("r_i").alias("db_index"))
    return (
        s.join(r, "label")
        .join(F.broadcast(db), F.lit(True))
        .select(
            "label",
            F.col("n_points").cast("bigint").alias("n_points"),
            F.round("s_i", 6).alias("scatter"),
            F.round("r_i", 6).alias("r_i"),
            F.round("db_index", 6).alias("db_index"),
        )
        .orderBy("label")
    )


def _ch_between_chain_sql() -> str:
    """Per-label centroid-to-global squared distance chain — same
    left-to-right association as the Spark loop."""
    return " + ".join(
        f"(CAST(c.cent[{i + 1}] AS DOUBLE) / c.n"
        f" - CAST(g.gv[{i + 1}] AS DOUBLE) / w.nn)"
        f" * (CAST(c.cent[{i + 1}] AS DOUBLE) / c.n"
        f" - CAST(g.gv[{i + 1}] AS DOUBLE) / w.nn)"
        for i in range(_EMB_DIM)
    )


@query(
    "calinski_harabasz_embeddings",
    f"""
    WITH {_EMB_CENT_SQL}, pt AS (
      SELECT e.label,
             SUM((SELECT SUM(CAST(x * x AS HUGEINT))
                  FROM unnest(v) AS t(x))) AS ss_all
      FROM e GROUP BY e.label
    ), wp AS (
      SELECT c.label, pt.ss_all,
             (SELECT SUM(CAST(s * s AS HUGEINT) )
              FROM unnest(c.cent) AS t(s)) AS cent2,
             c.n
      FROM c JOIN pt ON pt.label = c.label
    ), w AS (
      SELECT SUM(CAST(ss_all AS DOUBLE) - CAST(cent2 AS DOUBLE) / n)
               / 1e12 AS w_ss,
             SUM(n) AS nn, COUNT(*) AS k
      FROM wp
    ), gl AS (
      SELECT i, SUM(s) AS gs
      FROM (SELECT unnest(cent) AS s,
                   unnest(range(1, {_EMB_DIM + 1})) AS i FROM c)
      GROUP BY i
    ), g AS (
      SELECT list(gs ORDER BY i) AS gv FROM gl
    ), b AS (
      SELECT SUM(c.n * ({_ch_between_chain_sql()})) AS b_ss
      FROM c CROSS JOIN w CROSS JOIN g
    )
    SELECT CAST(w.nn AS BIGINT) AS n_vecs, CAST(w.k AS BIGINT) AS n_labels,
           ROUND(LN(b.b_ss / 1e12), 6) AS log_between_ss,
           ROUND(LN(w.w_ss), 6) AS log_within_ss,
           ROUND((b.b_ss / 1e12 / (w.k - 1)) / (w.w_ss / (w.nn - w.k)), 4)
             AS ch_index
    FROM w CROSS JOIN b
    """,
)
def calinski_harabasz_q(spark, sf_dir):
    """Calinski–Harabasz (variance-ratio) index over the embedding
    labels: CH = (B/(k−1))/(W/(n−k)) — higher = tighter, better-
    separated clusters; the scale-free companion to Davies–Bouldin
    (CH rewards global separation, DB punishes the worst neighbor).
    The 100 TB shape is pure exact moments: W folds per label from
    Σ‖v‖² − ‖Σv‖²/n (×1e6 integers, HUGEINT ≡ decimal(38,0) sums —
    no per-point doubles to drift), B is k-row scalar math on the
    same centroid sums, so the only data-sized pass is one hash
    aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1_000_000).cast("long"),
        ).alias("v"),
    )
    point_ss = F.aggregate(
        F.transform("v", lambda x: (x * x).cast("decimal(38,0)")),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, x: acc + x,
    )
    # per-dim chains as single F.expr strings (identical parsed trees,
    # ~100× fewer py4j calls at plan build — see davies_bouldin above)
    cells = e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(point_ss).alias("ss_all"),
        F.expr(
            "array("
            + ",".join(
                f"CAST(SUM(element_at(v, {i + 1})) AS BIGINT)"
                for i in range(_EMB_DIM)
            )
            + ")"
        ).alias("cent"),
    )
    cent2 = F.aggregate(
        F.transform("cent", lambda s: (s * s).cast("decimal(38,0)")),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, x: acc + x,
    )
    wp = cells.select(
        "label",
        "n",
        "cent",
        (
            F.col("ss_all").cast("double") - cent2.cast("double") / F.col("n")
        ).alias("w_g"),
    )
    w = wp.agg(
        (F.sum("w_g") / 1e12).alias("w_ss"),
        F.sum("n").alias("nn"),
        F.count(F.lit(1)).alias("k"),
        F.expr(
            "array("
            + ",".join(
                f"CAST(SUM(element_at(cent, {i + 1})) AS BIGINT)"
                for i in range(_EMB_DIM)
            )
            + ")"
        ).alias("gsum"),
    )
    _bt = (
        "(CAST(element_at(cent, {i}) AS DOUBLE) / n"
        " - CAST(element_at(gsum, {i}) AS DOUBLE) / nn)"
    )
    b2 = F.expr(
        " + ".join(
            f"({_bt.format(i=i + 1)} * {_bt.format(i=i + 1)})"
            for i in range(_EMB_DIM)
        )
    )
    b = (
        wp.join(F.broadcast(w), F.lit(True))
        .select((F.col("n") * b2).alias("b_g"))
        .agg(F.sum("b_g").alias("b_ss"))
    )
    return (
        w.join(F.broadcast(b), F.lit(True))
        .select(
            F.col("nn").cast("bigint").alias("n_vecs"),
            F.col("k").cast("bigint").alias("n_labels"),
            # the raw scatter sums live at ~1e12-1e24 where double ulp
            # beats any fixed rounding — report them log-scale and the
            # CH RATIO, where relative (not absolute) error is what
            # rounding sees
            F.round(F.log(F.col("b_ss") / 1e12), 6).alias("log_between_ss"),
            F.round(F.log("w_ss"), 6).alias("log_within_ss"),
            F.round(
                (F.col("b_ss") / 1e12 / (F.col("k") - 1))
                / (F.col("w_ss") / (F.col("nn") - F.col("k"))),
                4,
            ).alias("ch_index"),
        )
    )


@query(
    "containment_near_dup_docs",
    rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      FROM documents
    ), d AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
                    range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                  ELSE [array_to_string(w, ' ')] END AS sh
      FROM toks
    ), posts AS MATERIALIZED (
      SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM d
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c,
             ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
      FROM posts a JOIN posts b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           ROUND(c::DOUBLE / LEAST(na, nb), 6) AS containment,
           ROUND(c::DOUBLE / (na + nb - c), 6) AS jaccard
    FROM inter WHERE c::DOUBLE / LEAST(na, nb) >= 0.5
    """,
)
def containment_q(spark, sf_dir):
    """Shingle-containment near-dup pairs: C = shared/min(|A|,|B|) ≥
    0.5 — the asymmetric overlap measure the Jaccard gate
    structurally misses (a doc quoted verbatim inside a much larger
    one has J ≈ |A|/|B| ≈ 0 but C ≈ 1), i.e. the quote/boilerplate/
    subset-duplication shape a decontamination pass must catch.
    Same inverted-postings plan as jaccard_near_dup_docs (the oracle
    is its twin with only the score changed); Jaccard rides along as
    the calibration column."""
    from ..operators.dedup import containment_near_dup_pairs

    d = load_table(spark, sf_dir, "documents")
    return containment_near_dup_pairs(
        d, "doc_id", "text", threshold=0.5, shingle_k=3
    )


@query(
    "term_burstiness_docs",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      FROM documents
    ), tf AS (
      SELECT doc_id, w, COUNT(*) AS f FROM toks GROUP BY doc_id, w
    ), nd AS (
      SELECT COUNT(*) AS d FROM documents
    ), stats AS (
      SELECT w, SUM(f) AS total, COUNT(*) AS df,
             SUM(f * f) AS s2
      FROM tf GROUP BY w
    ), ranked AS (
      SELECT w, total, df, s2,
             ROW_NUMBER() OVER (ORDER BY total DESC, w ASC) AS rn
      FROM stats
    )
    SELECT w AS term, CAST(total AS BIGINT) AS total_count,
           CAST(df AS BIGINT) AS doc_freq,
           ROUND(CAST(total AS DOUBLE) / d, 6) AS mean_per_doc,
           ROUND((CAST(s2 AS DOUBLE) / d
                  - (CAST(total AS DOUBLE) / d)
                    * (CAST(total AS DOUBLE) / d))
                 / (CAST(total AS DOUBLE) / d), 6) AS burstiness_vmr
    FROM ranked CROSS JOIN nd WHERE rn <= 20
    ORDER BY total_count DESC, term
    """,
)
def burstiness_q(spark, sf_dir):
    """Church–Gale term burstiness for the 20 highest-volume terms:
    variance-to-mean ratio of the per-document count (zeros
    included) — VMR ≈ 1 is Poisson scatter (function words), VMR ≫ 1
    means the term CLUMPS into few documents (topical/boilerplate
    terms — the signal that separates a term that is frequent
    because it is everywhere from one that is frequent because a few
    documents spam it, which is what dedup/quality filters care
    about).  Exact integer (Σf, Σf²) folds per term; zero cells
    contribute nothing to either sum, so the all-docs moments need
    only the corpus doc count."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("w"),
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    nd = d.agg(F.count(F.lit(1)).alias("d"))
    stats = tf.groupBy("w").agg(
        F.sum("f").alias("total"),
        F.count(F.lit(1)).alias("df"),
        F.sum(F.col("f") * F.col("f")).alias("s2"),
    )
    top = stats.orderBy(F.col("total").desc(), F.col("w").asc()).limit(20)
    mean = F.col("total").cast("double") / F.col("d")
    return (
        top.join(F.broadcast(nd), F.lit(True))
        .select(
            F.col("w").alias("term"),
            F.col("total").cast("bigint").alias("total_count"),
            F.col("df").cast("bigint").alias("doc_freq"),
            F.round(mean, 6).alias("mean_per_doc"),
            F.round(
                (F.col("s2").cast("double") / F.col("d") - mean * mean)
                / mean,
                6,
            ).alias("burstiness_vmr"),
        )
        .orderBy(F.col("total_count").desc(), "term")
    )


# =====================================================================
# Round-9 wave 4: audio energy features / STL shares / log-rank
# =====================================================================

def _audio_zcr_oracle(n_samples: int = 64, ws: int = 32) -> str:
    """SQL twin of ``audio_zcr_rms``'s fake path at the gate's fixed
    duration: acc recurrence → s = 2·acc − 997, per window exact
    integer Σs² and strict-sign-change counts, one final sqrt."""
    from .wave8 import _acc_chain_ctes

    ctes, last = _acc_chain_ctes(n_samples)
    cs = ", ".join(f"(2 * a{k} - 997) AS s{k}" for k in range(n_samples))
    windows = []
    for win in range(n_samples // ws):
        lo = win * ws
        ss = " + ".join(f"s{lo + t} * s{lo + t}" for t in range(ws))
        zc = " + ".join(
            f"(CASE WHEN s{lo + t} * s{lo + t - 1} < 0 THEN 1 ELSE 0 END)"
            for t in range(lo + 1, lo + ws) for t in [t - lo]
        )
        windows.append(
            f"""    SELECT media_id, {win} AS window_id,
           CAST(({zc}) AS INT) AS n_crossings,
           ROUND(sqrt(({ss}) / {float(ws)!r}), 6) AS rms
    FROM sam"""
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


@query("audio_zcr_rms_windows", None)  # oracle attached below (generated)
def audio_zcr_q(spark, sf_dir):
    """Windowed zero-crossing rate + RMS energy (operators.multimodal.
    audio_zcr_rms): the two cheapest audio-pipeline features — ZCR
    approximates brightness with zero DFT cost, RMS is the loudness
    every voice-activity / silence-trim front-end thresholds on.
    Gate media at the audio gates' fixed 3200 ms → 64 samples → 2
    windows; the kernel's integer Σs² and strict sign-change counts
    replay exactly in SQL (one final sqrt per window)."""
    from ..operators.multimodal import audio_zcr_rms

    d = load_table(spark, sf_dir, "documents")
    media = d.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit(3200).cast("long").alias("duration_ms"),
    )
    return audio_zcr_rms(media, window_samples=32).select(
        "media_id",
        "window_id",
        "n_crossings",
        F.round("rms", 6).alias("rms"),
    )


O["audio_zcr_rms_windows"] = _audio_zcr_oracle()


@query(
    "stl_decompose_daily_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             isodow(CAST(ts AS DATE)) AS dow, COUNT(*) AS y
      FROM events GROUP BY 1, 2, 3
    ), tr AS (
      SELECT event_type, day, dow, y,
             CASE WHEN COUNT(*) OVER w = 7
                  THEN SUM(CAST(y AS DOUBLE)) OVER w / 7 END AS trend
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), det AS (
      SELECT event_type, day, dow, y, trend, y - trend AS d
      FROM tr WHERE trend IS NOT NULL
    ), seas AS (
      SELECT event_type, dow, AVG(d) AS s
      FROM det GROUP BY event_type, dow
    ), rem AS (
      SELECT d.event_type, d.y, d.trend, d.d, s.s,
             d.d - s.s AS r
      FROM det d JOIN seas s
        ON d.event_type = s.event_type AND d.dow = s.dow
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(AVG(trend * trend) - AVG(trend) * AVG(trend), 6)
             AS var_trend,
           ROUND(AVG(s * s) - AVG(s) * AVG(s), 6) AS var_seasonal,
           ROUND(AVG(r * r) - AVG(r) * AVG(r), 6) AS var_remainder,
           ROUND(GREATEST(0.0, 1.0 - (AVG(r * r) - AVG(r) * AVG(r))
                 / (AVG(d * d) - AVG(d) * AVG(d))), 6)
             AS seasonal_strength,
           ROUND(GREATEST(0.0, 1.0 - (AVG(r * r) - AVG(r) * AVG(r))
                 / (AVG((y - s) * (y - s))
                    - AVG(y - s) * AVG(y - s))), 6) AS trend_strength
    FROM rem GROUP BY event_type ORDER BY event_type
    """,
)
def stl_decompose_q(spark, sf_dir):
    """STL-style additive decomposition of each type's daily count
    series — y = trend (centered 7-day moving average, complete
    windows only) + seasonal (day-of-week mean of the detrended
    series) + remainder — reporting component variances plus the
    Hyndman–Wang strength-of-trend/seasonality pair
    F = max(0, 1 − Var(R)/Var(·)) that the forecasting gates
    (Holt-Winters, seasonal-adjust) should be gated ON (the
    seasonal_strength gate answers "how weekly"; this one also says
    how much is TREND, from the same decomposition).  Everything
    runs on the bounded per-type daily grid: one centered window,
    two hash aggs."""
    e = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    daily = e.groupBy(
        "event_type",
        day.alias("day"),
        (F.weekday(day) + 1).alias("dow"),
    ).agg(F.count(F.lit(1)).alias("y"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type",
        "day",
        "dow",
        "y",
        F.when(
            F.count(F.lit(1)).over(w) == 7,
            F.sum(F.col("y").cast("double")).over(w) / 7,
        ).alias("trend"),
    )
    det = tr.filter(F.col("trend").isNotNull()).withColumn(
        "d", F.col("y") - F.col("trend")
    )
    seas = det.groupBy("event_type", "dow").agg(F.avg("d").alias("s"))
    rem = det.join(seas, ["event_type", "dow"]).select(
        "event_type",
        "y",
        "trend",
        "d",
        "s",
        (F.col("d") - F.col("s")).alias("r"),
    )

    def pvar(c):
        return F.avg(c * c) - F.avg(c) * F.avg(c)

    return (
        rem.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.round(pvar(F.col("trend")), 6).alias("var_trend"),
            F.round(pvar(F.col("s")), 6).alias("var_seasonal"),
            F.round(pvar(F.col("r")), 6).alias("var_remainder"),
            F.round(
                F.greatest(
                    F.lit(0.0), 1.0 - pvar(F.col("r")) / pvar(F.col("d"))
                ),
                6,
            ).alias("seasonal_strength"),
            F.round(
                F.greatest(
                    F.lit(0.0),
                    1.0 - pvar(F.col("r")) / pvar(F.col("y") - F.col("s")),
                ),
                6,
            ).alias("trend_strength"),
        )
        .orderBy("event_type")
    )


@query(
    "logrank_weekend_repurchase_events",
    """
    WITH bounds AS (
      SELECT MAX(CAST(ts AS DATE)) AS maxd FROM events
    ), p AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             LEAD(CAST(ts AS DATE)) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS nd
      FROM events WHERE event_type = 'purchase'
    ), subj AS (
      SELECT CASE WHEN isodow(d) >= 6 THEN 1 ELSE 0 END AS grp,
             CASE WHEN nd IS NULL THEN datediff('day', d, maxd)
                  ELSE datediff('day', d, nd) END AS life,
             CASE WHEN nd IS NULL THEN 0 ELSE 1 END AS died
      FROM p, bounds
    ), cells AS (
      SELECT life, grp, COUNT(*) AS n_all, SUM(died) AS deaths
      FROM subj GROUP BY life, grp
    ), dense AS (
      SELECT l.life, g.grp, COALESCE(c.n_all, 0) AS n_all,
             COALESCE(c.deaths, 0) AS deaths
      FROM (SELECT DISTINCT life FROM cells) l
      CROSS JOIN (SELECT unnest([0, 1]) AS grp) g
      LEFT JOIN cells c ON c.life = l.life AND c.grp = g.grp
    ), risk AS (
      SELECT life, grp, deaths,
             SUM(n_all) OVER (PARTITION BY grp ORDER BY life DESC
                              ROWS UNBOUNDED PRECEDING) AS at_risk
      FROM dense
    ), times AS (
      SELECT life,
             SUM(CASE WHEN grp = 1 THEN deaths ELSE 0 END) AS d1,
             SUM(deaths) AS dt,
             SUM(CASE WHEN grp = 1 THEN at_risk ELSE 0 END) AS n1,
             SUM(at_risk) AS nt
      FROM risk GROUP BY life
      HAVING SUM(deaths) > 0 AND SUM(at_risk) > 1
    ), folds AS (
      SELECT SUM(d1) AS o1,
             SUM(CAST(dt AS DOUBLE) * n1 / nt) AS e1,
             SUM(CAST(dt AS DOUBLE) * (CAST(n1 AS DOUBLE) / nt)
                 * (1 - CAST(n1 AS DOUBLE) / nt)
                 * (nt - dt) / (nt - 1)) AS v
      FROM times
    )
    SELECT CAST(o1 AS BIGINT) AS observed_weekend,
           ROUND(e1, 6) AS expected_weekend,
           ROUND((o1 - e1) / sqrt(v), 6) AS z_logrank,
           ROUND((o1 - e1) * (o1 - e1) / v, 6) AS chi2_logrank
    FROM folds
    """,
)
def logrank_q(spark, sf_dir):
    """Log-rank test comparing repurchase survival curves between
    weekend-started and weekday-started purchase gaps — the test the
    Kaplan–Meier gate's curves NEED before anyone reads a difference
    off them (censoring-aware; a t-test on raw gaps is biased by the
    open gaps): at each death time, observed-vs-hypergeometric-
    expected weekend deaths, χ² = (O−E)²/ΣV.  Same gap/censoring
    construction as kaplan_meier_retention_events; at-risk counts are
    reverse cumulative sums over the dense (life × 2 groups) grid —
    bounded by the day span, never a per-time rescan."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(F.max(F.to_date("ts")).alias("maxd"))
    wp = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            "user_id", F.to_date("ts").alias("d"), "ts", "event_id"
        )
        .withColumn("nd", F.lead("d").over(wp))
    )
    subj = p.join(F.broadcast(bounds), F.lit(True)).select(
        F.when((F.weekday("d") + 1) >= 6, 1).otherwise(0).alias("grp"),
        F.when(
            F.col("nd").isNull(), F.datediff("maxd", "d")
        ).otherwise(F.datediff("nd", "d")).alias("life"),
        F.when(F.col("nd").isNull(), 0).otherwise(1).alias("died"),
    )
    cells = subj.groupBy("life", "grp").agg(
        F.count(F.lit(1)).alias("n_all"), F.sum("died").alias("deaths")
    )
    grps = spark.range(0, 2).select(F.col("id").cast("int").alias("grp"))
    dense = (
        cells.select("life")
        .distinct()
        .crossJoin(F.broadcast(grps))
        .join(cells, ["life", "grp"], "left")
        .select(
            "life",
            "grp",
            F.coalesce("n_all", F.lit(0)).alias("n_all"),
            F.coalesce("deaths", F.lit(0)).alias("deaths"),
        )
    )
    wr = (
        Window.partitionBy("grp")
        .orderBy(F.col("life").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = dense.select(
        "life", "grp", "deaths", F.sum("n_all").over(wr).alias("at_risk")
    )
    times = (
        risk.groupBy("life")
        .agg(
            F.sum(F.when(F.col("grp") == 1, F.col("deaths")).otherwise(0)).alias("d1"),
            F.sum("deaths").alias("dt"),
            F.sum(F.when(F.col("grp") == 1, F.col("at_risk")).otherwise(0)).alias("n1"),
            F.sum("at_risk").alias("nt"),
        )
        .filter((F.col("dt") > 0) & (F.col("nt") > 1))
    )
    n1r = F.col("n1").cast("double") / F.col("nt")
    folds = times.agg(
        F.sum("d1").alias("o1"),
        F.sum(F.col("dt").cast("double") * F.col("n1") / F.col("nt")).alias("e1"),
        F.sum(
            F.col("dt").cast("double")
            * n1r
            * (1 - n1r)
            * (F.col("nt") - F.col("dt"))
            / (F.col("nt") - 1)
        ).alias("v"),
    )
    return folds.select(
        F.col("o1").cast("bigint").alias("observed_weekend"),
        F.round("e1", 6).alias("expected_weekend"),
        F.round(
            (F.col("o1") - F.col("e1")) / F.sqrt(F.col("v")), 6
        ).alias("z_logrank"),
        F.round(
            (F.col("o1") - F.col("e1"))
            * (F.col("o1") - F.col("e1"))
            / F.col("v"),
            6,
        ).alias("chi2_logrank"),
    )


@query(
    "cusum_chart_daily_events",
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
    ), cu AS (
      SELECT n.event_type, n.day, n.rn, n.x, b.mu, b.sigma,
             GREATEST(0, n.x - b.mu - 0.5 * b.sigma) AS sp,
             GREATEST(0, b.mu - n.x - 0.5 * b.sigma) AS sn
      FROM num n JOIN base b ON n.event_type = b.event_type
      WHERE n.rn = 1
      UNION ALL
      SELECT n.event_type, n.day, n.rn, n.x, c.mu, c.sigma,
             GREATEST(0, c.sp + (n.x - c.mu - 0.5 * c.sigma)),
             GREATEST(0, c.sn + (c.mu - n.x - 0.5 * c.sigma))
      FROM num n JOIN cu c
        ON n.event_type = c.event_type AND n.rn = c.rn + 1
    )
    SELECT event_type, day, ROUND(x, 6) AS daily_mean,
           ROUND(sp, 6) AS cusum_pos, ROUND(sn, 6) AS cusum_neg,
           (sp > 4 * sigma OR sn > 4 * sigma) AS alarm
    FROM cu ORDER BY event_type, day
    """,
)
def cusum_chart_q(spark, sf_dir):
    """Two-sided tabular CUSUM chart (k = 0.5σ slack, h = 4σ decision
    interval) on each type's daily mean — the sustained-small-shift
    alarm that completes the drift-monitor trio (Page–Hinkley
    self-normalizes, EWMA smooths, CUSUM accumulates signed excess):
    S⁺/S⁻ recursions via ``profile.cusum_chart_report``, the SAME
    shared expressions the streaming readout
    ``streaming.drift_cusum_series`` reads over the persisted
    (type, day) drift state — streamed ≡ batch bit-for-bit.  The
    recursion walks the bounded per-type daily array; the oracle is
    the recursive-CTE twin with identical fold order."""
    from ..operators.profile import cusum_chart_report, drift_daily_moments

    e = load_table(spark, sf_dir, "events")
    return cusum_chart_report(drift_daily_moments(e))


@query(
    "pages_trend_dow_weeks_events",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk,
             isodow(CAST(ts AS DATE)) AS dow, COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ), complete AS (
      SELECT wk FROM daily GROUP BY wk HAVING COUNT(*) = 7
    ), blocks AS (
      SELECT d.wk, d.dow, d.y FROM daily d JOIN complete c ON d.wk = c.wk
    ), ranked AS (
      SELECT wk, dow,
             COALESCE(SUM(1) OVER (PARTITION BY wk ORDER BY y
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + (SUM(1) OVER (PARTITION BY wk ORDER BY y
                RANGE BETWEEN CURRENT ROW AND CURRENT ROW) + 1) / 2.0
               AS r
      FROM blocks
    ), l AS (
      SELECT SUM(dow * r) AS l_stat,
             COUNT(DISTINCT wk) AS b
      FROM ranked
    )
    SELECT CAST(b AS BIGINT) AS n_blocks,
           ROUND(l_stat, 2) AS l_stat,
           ROUND(b * 7 * 8 * 8 / 4.0, 2) AS e_l,
           ROUND((l_stat - b * 7 * 8 * 8 / 4.0)
                 / sqrt(b * 49 * 64 * 6 / 144.0), 6) AS z_l
    FROM l
    """,
)
def pages_trend_q(spark, sf_dir):
    """Page's L trend test: is daily volume MONOTONE across the week
    (Mon < Tue < … < Sun as the ordered alternative), blocking on
    the week — the ordered sibling of the Friedman gate exactly as
    Jonckheere is Kruskal–Wallis's (an omnibus spends k−1 df; L
    concentrates on the ordered trend): L = Σ_j j·R_j over the same
    complete-block midranks, z-scored against E[L] = bk(k+1)²/4 and
    the no-ties Var[L] = bk²(k+1)²(k−1)/144 (documented normal
    approximation; midranks keep L exact under ties).  Same bounded
    rank grid as the Friedman gate — one more fold over it."""
    e = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    daily = e.groupBy(
        F.date_trunc("week", day).cast("date").alias("wk"),
        (F.weekday(day) + 1).alias("dow"),
    ).agg(F.count(F.lit(1)).alias("y"))
    complete = daily.groupBy("wk").agg(
        F.count(F.lit(1)).alias("nd")
    ).filter(F.col("nd") == 7).select("wk")
    blocks = daily.join(complete, "wk")
    w_lt = (
        Window.partitionBy("wk")
        .orderBy("y")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eq = Window.partitionBy("wk").orderBy("y").rangeBetween(0, 0)
    ranked = blocks.select(
        "wk",
        "dow",
        (
            F.coalesce(F.sum(F.lit(1)).over(w_lt), F.lit(0))
            + (F.sum(F.lit(1)).over(w_eq) + 1) / 2.0
        ).alias("r"),
    )
    l = ranked.agg(
        F.sum(F.col("dow") * F.col("r")).alias("l_stat"),
        F.countDistinct("wk").alias("b"),
    )
    e_l = F.col("b") * 7 * 8 * 8 / 4.0
    var_l = F.col("b") * 49 * 64 * 6 / 144.0
    return l.select(
        F.col("b").cast("bigint").alias("n_blocks"),
        F.round("l_stat", 2).alias("l_stat"),
        F.round(e_l, 2).alias("e_l"),
        F.round((F.col("l_stat") - e_l) / F.sqrt(var_l), 6).alias("z_l"),
    )


@query(
    "yules_k_sources_docs",
    r"""
    WITH toks AS (
      SELECT source,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      FROM documents
    ), tf AS (
      SELECT source, w, COUNT(*) AS f FROM toks GROUP BY source, w
    )
    SELECT source,
           CAST(SUM(f) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(10000.0 * (SUM(CAST(f AS DOUBLE) * f) - SUM(f))
                 / (CAST(SUM(f) AS DOUBLE) * SUM(f)), 6) AS yules_k
    FROM tf GROUP BY source ORDER BY source
    """,
)
def yules_k_q(spark, sf_dir):
    """Yule's K lexical-repetitiveness characteristic per source:
    K = 10⁴·(Σ_m m²V_m − N)/N² ≡ 10⁴·(Σ_w f_w² − N)/N² — the
    length-invariant repetition constant stylometry uses where
    type-token ratio fails (TTR shrinks with N; K does not), and a
    cheap template/boilerplate detector per corpus slice.  One exact
    integer (Σf, Σf²) fold over the per-source term histogram."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(
            "source",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("w"),
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    return (
        tf.groupBy("source")
        .agg(
            F.sum("f").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.round(
                10000.0
                * (
                    F.sum(F.col("f").cast("double") * F.col("f"))
                    - F.sum("f")
                )
                / (F.sum("f").cast("double") * F.sum("f")),
                6,
            ).alias("yules_k"),
        )
        .orderBy("source")
    )


def _gesd_oracle(rounds: int = 3) -> str:
    """Unrolled GESD rounds: each round recomputes exact moments of
    the remaining set (previous picks anti-joined) and takes the max
    studentized deviate (ties: value DESC, key ASC)."""
    ctes = [
        """obs0 AS (
      SELECT o_orderkey AS k,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
      FROM orders
    )"""
    ]
    sels = []
    for r in range(rounds):
        ctes.append(
            f"""m{r} AS (
      SELECT COUNT(*) AS n, SUM(v) AS s1,
             SUM(CAST(v AS HUGEINT) * v) AS s2
      FROM obs{r}
    ), d{r} AS (
      SELECT k, v,
             ABS(v - CAST(s1 AS DOUBLE) / n)
               / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                      / (n - 1)) AS stud
      FROM obs{r} CROSS JOIN m{r}
    ), pick{r} AS (
      SELECT k, v, stud FROM d{r}
      ORDER BY stud DESC, k ASC LIMIT 1
    ), obs{r + 1} AS (
      SELECT o.k, o.v FROM obs{r} o
      WHERE o.k NOT IN (SELECT k FROM pick{r})
    )"""
        )
        sels.append(
            f"""    SELECT {r + 1} AS round, CAST(k AS BIGINT) AS o_orderkey,
           ROUND(v / 100.0, 2) AS totalprice,
           ROUND(stud, 6) AS studentized
    FROM pick{r}"""
        )
    body = "\n    UNION ALL\n".join(sels)
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + f"\n{body}\n    ORDER BY round\n    "
    )


@query("gesd_outliers_totalprice", None)  # oracle attached below (generated)
def gesd_q(spark, sf_dir):
    """Generalized ESD outlier rounds (Rosner 1983) on order totals:
    r = 3 successive max-studentized-deviates, each computed on the
    set with the PREVIOUS picks removed — the masking-proof form of
    Grubbs (a second outlier inflates s and hides the first from a
    single-pass rule; GESD re-estimates after every removal).  Each
    round is one exact-integer moment fold plus a struct-max argmax
    — r bounded passes by design, no sort, no window; significance
    thresholds (λ_i from t quantiles) are left to the caller, the
    deviates themselves are the deliverable."""
    o = load_table(spark, sf_dir, "orders")
    remaining = o.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
    )
    out = None
    for r in range(3):
        mom = remaining.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s1"),
            F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("s2"),
        )
        mean = F.col("s1").cast("double") / F.col("n")
        sd = F.sqrt(
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1") / F.col("n")
            )
            / (F.col("n") - 1)
        )
        dev = remaining.join(F.broadcast(mom), F.lit(True)).select(
            "k", "v", (F.abs(F.col("v") - mean) / sd).alias("stud")
        )
        pick = (
            dev.agg(
                F.max(
                    F.struct(
                        F.col("stud").alias("stud"),
                        (-F.col("k")).alias("nk"),
                        F.col("v").alias("v"),
                    )
                ).alias("p")
            )
            .select(
                F.lit(r + 1).alias("round"),
                (-F.col("p.nk")).cast("bigint").alias("o_orderkey"),
                F.round(F.col("p.v") / 100.0, 2).alias("totalprice"),
                F.round(F.col("p.stud"), 6).alias("studentized"),
            )
        )
        out = pick if out is None else out.unionByName(pick)
        picked_key = pick.select(
            F.col("o_orderkey").alias("k")
        )
        remaining = remaining.join(
            F.broadcast(picked_key), "k", "left_anti"
        )
    return out.orderBy("round")


O["gesd_outliers_totalprice"] = _gesd_oracle()


@query(
    "wasserstein_drift_orders",
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
             SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f2,
             LEAD(v) OVER (ORDER BY v) AS nv
      FROM hist
    ), seg AS (
      SELECT ABS(CAST(f1 AS HUGEINT) * t.n2 - CAST(f2 AS HUGEINT) * t.n1)
               * (nv - v) AS num, t.n1, t.n2
      FROM cum CROSS JOIN tot t WHERE nv IS NOT NULL
    )
    SELECT CAST(ANY_VALUE(n1) AS BIGINT) AS n_f,
           CAST(ANY_VALUE(n2) AS BIGINT) AS n_o,
           ROUND(CAST(SUM(num) AS DOUBLE)
                 / (CAST(ANY_VALUE(n1) AS DOUBLE) * ANY_VALUE(n2))
                 / 100.0, 6) AS wasserstein_1
    FROM seg
    """,
)
def wasserstein_q(spark, sf_dir):
    """1-D Wasserstein (earth-mover's) distance between finished and
    open order price distributions — the drift number with UNITS
    (dollars of probability mass moved), completing the drift ladder
    (KS takes the max CDF gap, CvM integrates its square, W₁
    integrates the gap itself — the only one whose magnitude is
    directly actionable): W₁ = Σ|F₁(v)−F₂(v)|·Δv over the merged
    cents grid.  Fully EXACT integers until one final division —
    the gap is |cum₁·n₂ − cum₂·n₁| (no per-row CDF doubles to
    drift), scaled by the integer grid step, folded in
    decimal(38,0) ≡ HUGEINT."""
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
    tot = hist.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    wv = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "v",
        F.sum("c1").over(wv).alias("f1"),
        F.sum("c2").over(wv).alias("f2"),
        F.lead("v").over(Window.orderBy("v")).alias("nv"),
    )
    seg = (
        cum.filter(F.col("nv").isNotNull())
        .join(F.broadcast(tot), F.lit(True))
        .select(
            (
                F.abs(
                    F.col("f1").cast("decimal(38,0)") * F.col("n2")
                    - F.col("f2").cast("decimal(38,0)") * F.col("n1")
                )
                * (F.col("nv") - F.col("v"))
            ).alias("num"),
            "n1",
            "n2",
        )
    )
    return seg.agg(
        F.first("n1").cast("bigint").alias("n_f"),
        F.first("n2").cast("bigint").alias("n_o"),
        F.round(
            F.sum("num").cast("double")
            / (F.first("n1").cast("double") * F.first("n2"))
            / 100.0,
            6,
        ).alias("wasserstein_1"),
    )


@query(
    "rmst_repurchase_events",
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
    ), km AS (
      SELECT life, deaths, at_risk,
             CASE WHEN MAX(CASE WHEN deaths = at_risk THEN 1 ELSE 0 END)
                       OVER (ORDER BY life ROWS UNBOUNDED PRECEDING) = 1
                  THEN 0.0
                  ELSE exp(SUM(ln(CASE WHEN deaths = at_risk THEN 1.0
                             ELSE 1.0 - CAST(deaths AS DOUBLE) / at_risk
                             END))
                       OVER (ORDER BY life ROWS UNBOUNDED PRECEDING))
             END AS s
      FROM risk WHERE deaths > 0
    ), steps AS (
      SELECT life, s,
             LAG(s, 1, 1.0) OVER (ORDER BY life) AS s_prev,
             LAG(life, 1, 0) OVER (ORDER BY life) AS life_prev
      FROM km WHERE life <= 30
    ), area AS (
      SELECT SUM(s_prev * (life - life_prev)) AS a,
             MAX(life) AS last_t, MAX(s) AS _x,
             ANY_VALUE(0) AS _z
      FROM steps
    ), tail AS (
      SELECT s FROM steps ORDER BY life DESC LIMIT 1
    )
    SELECT CAST(30 AS BIGINT) AS tau_days,
           CAST((SELECT COUNT(*) FROM subj) AS BIGINT) AS n_gaps,
           ROUND(a.a + t.s * (30 - a.last_t), 6) AS rmst_days
    FROM area a CROSS JOIN tail t
    """,
)
def rmst_q(spark, sf_dir):
    """Restricted mean survival time of the repurchase gap at τ = 30
    days — ∫₀^τ S(t)dt over the Kaplan–Meier curve: "average days to
    repurchase within a month", the censoring-honest summary a plain
    mean-of-gaps overstates and a median hides (and the standard
    reporting companion to the log-rank gate: log-rank says WHETHER
    curves differ, RMST says BY HOW MANY DAYS).  Same gap/censoring
    construction and exp(Σln) survival accumulation as the KM gate;
    the step integral is one LAG window over the ≤τ death-time grid
    plus a tail rectangle to τ."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(F.max(F.to_date("ts")).alias("maxd"))
    wp = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("d"), "ts", "event_id")
        .withColumn("nd", F.lead("d").over(wp))
    )
    subj = p.join(F.broadcast(bounds), F.lit(True)).select(
        F.when(
            F.col("nd").isNull(), F.datediff("maxd", "d")
        ).otherwise(F.datediff("nd", "d")).alias("life"),
        F.when(F.col("nd").isNull(), 1).otherwise(0).alias("censored"),
    )
    hist = subj.groupBy("life").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(1 - F.col("censored")).alias("deaths"),
    )
    wr = Window.orderBy(F.col("life").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = hist.select(
        "life", "deaths", F.sum("n_all").over(wr).alias("at_risk")
    ).filter(F.col("deaths") > 0)
    wl = Window.orderBy("life").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dead_all = F.max(
        F.when(F.col("deaths") == F.col("at_risk"), 1).otherwise(0)
    ).over(wl)
    logs = F.sum(
        F.log(
            F.when(F.col("deaths") == F.col("at_risk"), F.lit(1.0)).otherwise(
                1.0 - F.col("deaths").cast("double") / F.col("at_risk")
            )
        )
    ).over(wl)
    km = risk.select(
        "life",
        F.when(dead_all == 1, F.lit(0.0)).otherwise(F.exp(logs)).alias("s"),
    )
    wo = Window.orderBy("life")
    steps = km.filter(F.col("life") <= 30).select(
        "life",
        "s",
        F.lag("s", 1, 1.0).over(wo).alias("s_prev"),
        F.lag("life", 1, 0).over(wo).alias("life_prev"),
    )
    area = steps.agg(
        F.sum(F.col("s_prev") * (F.col("life") - F.col("life_prev"))).alias(
            "a"
        ),
        F.max("life").alias("last_t"),
        F.max(F.struct(F.col("life"), F.col("s")))
        .getField("s")
        .alias("s_last"),
    )
    n_gaps = subj.agg(F.count(F.lit(1)).alias("n"))
    return (
        area.join(F.broadcast(n_gaps), F.lit(True))
        .select(
            F.lit(30).cast("bigint").alias("tau_days"),
            F.col("n").cast("bigint").alias("n_gaps"),
            F.round(
                F.col("a") + F.col("s_last") * (30 - F.col("last_t")), 6
            ).alias("rmst_days"),
        )
    )


def _image_edge_oracle(grid: int = 8, threshold: int = 250_000) -> str:
    """SQL twin of ``image_edge_stats``' fake path: acc recurrence →
    integer cells, per interior pixel the exact-integer Sobel pair,
    one sqrt per pixel summed in row-major order."""
    from .wave8 import _acc_chain_ctes

    ctes, last = _acc_chain_ctes(grid * grid)
    c = lambda y, x: f"a{y * grid + x}"
    m2s, sqrts = [], []
    for y in range(1, grid - 1):
        for x in range(1, grid - 1):
            gx = (
                f"(({c(y-1,x+1)} + 2 * {c(y,x+1)} + {c(y+1,x+1)})"
                f" - ({c(y-1,x-1)} + 2 * {c(y,x-1)} + {c(y+1,x-1)}))"
            )
            gy = (
                f"(({c(y+1,x-1)} + 2 * {c(y+1,x)} + {c(y+1,x+1)})"
                f" - ({c(y-1,x-1)} + 2 * {c(y-1,x)} + {c(y-1,x+1)}))"
            )
            m2 = f"({gx} * {gx} + {gy} * {gy})"
            m2s.append(f"(CASE WHEN {m2} > {threshold} THEN 1 ELSE 0 END)")
            sqrts.append(f"sqrt({m2})")
    n_int = (grid - 2) * (grid - 2)
    return f"""
    WITH base AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS H,
             octet_length(encode(text)) AS L
      FROM documents WHERE text IS NOT NULL AND text <> ''
    ), {ctes}
    SELECT media_id,
           CAST({" + ".join(m2s)} AS INT) AS n_edge_pixels,
           ROUND(({" + ".join(sqrts)}) / {n_int}, 6) AS mean_gradient
    FROM {last}
    """


@query("image_edge_density_stats", None)  # oracle attached below (generated)
def image_edge_q(spark, sf_dir):
    """Sobel edge density + mean gradient magnitude per gate image
    (operators.multimodal.image_edge_stats): the blur/blank/synthetic
    detector of every image-quality filter — near-zero edge density
    means a flat or heavily blurred payload that no perceptual hash
    should be trusted on (the hash-family gates assume texture; this
    gate is their precondition).  Fake-decoder raster → exact-integer
    Sobel pairs at the 36 interior pixels; the generated SQL twin
    replays the identical chains with one sqrt per pixel."""
    from ..operators.multimodal import image_edge_stats

    d = load_table(spark, sf_dir, "documents")
    media = d.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return image_edge_stats(media, grid=8).select(
        "media_id",
        "n_edge_pixels",
        F.round("mean_gradient", 6).alias("mean_gradient"),
    )


O["image_edge_density_stats"] = _image_edge_oracle()
