"""Round-11 extension wave F (SURVEY.md §2.34): the paired
Wilcoxon signed-rank test (the rank companion of the exact sign-flip
gate), Conover's squared-ranks scale test (dispersion after removing
group locations — the unequal-median-robust companion of
Ansari–Bradley), Engle's ARCH LM test (volatility clustering the
mean-model gates are blind to), Croston's method for intermittent
demand (SES over demand sizes AND inter-demand intervals — the
forecast the dense-series smoothers get wrong on sparse series),
a pinball-loss quantile backtest (does a trailing empirical quantile
forecast actually achieve its nominal coverage), a partition-volume
load-anomaly report (robust-z on daily ingest counts — the ETL
health check that catches double-loads and dropped partitions), the
Hosmer–Lemeshow decile-of-risk calibration test (the χ² companion of
the equal-width ECE gate), and Engle–Granger cointegration between
the daily click and purchase value series (do two trending series
share a stationary linear combination).

Every query follows the registry conventions (``._core``): identical
column aliases in the Spark plan and the DuckDB oracle, exact integer
cents until the final division, ROUND(…, 6) on floating outputs,
deterministic tie-breaks, and bounded grids (type-week pairs,
quantized-cents cells, the 30-day daily grid, 10 risk deciles,
top-10 customers) — never corpus² — on the join side.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..materialize import checkpoint
from ..tables import load_table
from ._core import O, Q, query  # noqa: F401


# =====================================================================
# Wilcoxon signed-rank test (paired weekend - weekday, type-weeks)
# =====================================================================

@query(
    "wilcoxon_signed_rank_weekend_events",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk,
             CASE WHEN isodow(CAST(ts AS DATE)) >= 6
                  THEN 1 ELSE 0 END AS wknd,
             CAST(ts AS DATE) AS day,
             ROUND(SUM(value), 4) AS v
      FROM events GROUP BY 1, 2, 3, 4
    ), wkcell AS (
      SELECT event_type, wk, wknd, AVG(v) AS av, COUNT(*) AS nd
      FROM daily GROUP BY 1, 2, 3
    ), paired AS (
      SELECT a.event_type, a.wk, ROUND(a.av - b.av, 6) AS d
      FROM wkcell a JOIN wkcell b
        ON a.event_type = b.event_type AND a.wk = b.wk
       AND a.wknd = 1 AND b.wknd = 0
      WHERE a.nd = 2 AND b.nd = 5 AND ROUND(a.av - b.av, 6) <> 0
    ), ranked AS (
      SELECT d, ABS(d) AS ad,
             RANK() OVER (ORDER BY ABS(d)) AS rmin,
             COUNT(*) OVER (PARTITION BY ABS(d)) AS tc
      FROM paired
    ), ties AS (
      SELECT COALESCE(SUM(CAST(tc AS DOUBLE) * tc * tc - tc), 0.0)
               AS tcorr
      FROM (SELECT ad, COUNT(*) AS tc FROM ranked GROUP BY ad)
    ), s AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN d > 0
                      THEN rmin + (tc - 1) / 2.0 ELSE 0 END) AS wp
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           ROUND(wp, 2) AS w_plus,
           ROUND(CASE WHEN CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1)
                           / 24.0 - tcorr / 48.0 > 0 THEN
                 (wp - n * (n + 1) / 4.0)
                 / SQRT(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1)
                        / 24.0 - tcorr / 48.0) END, 6) AS z_wilcoxon
    FROM s CROSS JOIN ties
    """,
)
def wilcoxon_signed_rank_q(spark, sf_dir):
    """Wilcoxon signed-rank test on the paired weekend−weekday weekly
    value differences, pooled over (event_type, ISO week) cells —
    the RANK-based paired location test between the sign-flip gate
    (exact but uses only signs of means) and a paired t (moment-based,
    normality-fragile): W+ = Σ ranks of |d| over positive d, z
    standardized with the exact tie-corrected null variance
    n(n+1)(2n+1)/24 − Σ(t³−t)/48.  Zero differences drop (Wilcoxon's
    convention); ties in |d| get average ranks (RANK + (tc−1)/2 —
    deterministic on the ROUND(6) difference grid).

    Scale: the pair frame is the (types × weeks) grid — bounded by
    calendar, not corpus — so the single global rank window and the
    two 1-row folds are constant-size no matter the row count
    underneath the weekly cells."""
    e = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    daily = e.groupBy(
        "event_type",
        F.date_trunc("week", day).cast("date").alias("wk"),
        F.when((F.weekday(day) + 1) >= 6, 1).otherwise(0).alias("wknd"),
        day.alias("day"),
    ).agg(F.round(F.sum("value"), 4).alias("v"))
    wkcell = daily.groupBy("event_type", "wk", "wknd").agg(
        F.avg("v").alias("av"), F.count(F.lit(1)).alias("nd")
    )
    a = wkcell.filter((F.col("wknd") == 1) & (F.col("nd") == 2)).select(
        "event_type", "wk", F.col("av").alias("av_w")
    )
    b = wkcell.filter((F.col("wknd") == 0) & (F.col("nd") == 5)).select(
        F.col("event_type").alias("et_b"),
        F.col("wk").alias("wk_b"),
        F.col("av").alias("av_d"),
    )
    paired = (
        a.join(
            b,
            (F.col("event_type") == F.col("et_b"))
            & (F.col("wk") == F.col("wk_b")),
        )
        .select(F.round(F.col("av_w") - F.col("av_d"), 6).alias("d"))
        .filter(F.col("d") != 0)
    )
    ranked = paired.select(
        "d",
        F.abs("d").alias("ad"),
        F.rank().over(Window.orderBy(F.abs("d"))).alias("rmin"),
        F.count(F.lit(1))
        .over(Window.partitionBy(F.abs("d")))
        .alias("tc"),
    )
    ties = (
        ranked.groupBy("ad")
        .agg(F.count(F.lit(1)).alias("tc"))
        .agg(
            F.coalesce(
                F.sum(
                    F.col("tc").cast("double") * F.col("tc") * F.col("tc")
                    - F.col("tc")
                ),
                F.lit(0.0),
            ).alias("tcorr")
        )
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.col("d") > 0,
                F.col("rmin") + (F.col("tc") - 1) / F.lit(2.0),
            ).otherwise(0.0)
        ).alias("wp"),
    )
    n = F.col("n")
    var = (
        n.cast("double") * (n + 1) * (2 * n + 1) / F.lit(24.0)
        - F.col("tcorr") / F.lit(48.0)
    )
    return s.join(F.broadcast(ties), F.lit(True)).select(
        n.cast("bigint").alias("n_pairs"),
        F.round("wp", 2).alias("w_plus"),
        F.round(
            F.when(
                var > 0,
                (F.col("wp") - n * (n + 1) / F.lit(4.0)) / F.sqrt(var),
            ),
            6,
        ).alias("z_wilcoxon"),
    )


# =====================================================================
# Conover squared-ranks scale test (urgent vs other order values)
# =====================================================================

@query(
    "conover_squared_ranks_orders",
    """
    WITH pts AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN substring(o_orderpriority, 1, 1) IN ('1', '2')
                  THEN 1 ELSE 0 END AS g
      FROM orders
    ), mu AS (
      SELECT g, CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS m
      FROM pts GROUP BY g
    ), dev AS (
      SELECT ABS(pts.cents - mu.m) AS u, pts.g
      FROM pts JOIN mu ON mu.g = pts.g
    ), cells AS (
      SELECT u, COUNT(*) AS c, SUM(g) AS c1 FROM dev GROUP BY u
    ), pos AS (
      SELECT u, c, c1,
             SUM(c) OVER (ORDER BY u ROWS UNBOUNDED PRECEDING) AS hi
      FROM cells
    ), scored AS (
      SELECT c, c1,
             (hi - (c - 1) / 2.0) * (hi - (c - 1) / 2.0) AS a
      FROM pos
    ), tot AS (
      SELECT SUM(c) AS n, SUM(c1) AS n1, SUM(c - c1) AS n2,
             SUM(c * a) AS sa, SUM(c1 * a) AS t1,
             SUM(c * a * a) AS saa
      FROM scored
    )
    SELECT CAST(n1 AS BIGINT) AS n_urgent,
           CAST(n2 AS BIGINT) AS n_other,
           ROUND(t1 / (CAST(n1 AS DOUBLE) * n * n), 6)
             AS mean_sq_rank_urgent,
           ROUND(sa / (CAST(n AS DOUBLE) * n * n), 6)
             AS mean_sq_rank_null,
           ROUND(CASE WHEN saa - sa * sa / n > 0 AND n > 1 THEN
                 (t1 - n1 * sa / n)
                 / SQRT(CAST(n1 AS DOUBLE) * n2 / (n * (n - 1.0))
                        * (saa - sa * sa / n)) END, 6) AS z
    FROM tot
    """,
)
def conover_squared_ranks_q(spark, sf_dir):
    """Conover squared-ranks scale test, urgent (priority 1–2) vs
    other orders on totalprice — rank |x − x̄_group| over the POOLED
    sample and score each rank SQUARED, so dispersion differences
    dominate the statistic while each group's own location is removed
    first.  The unequal-median-robust companion of the Ansari–Bradley
    gate (AB assumes equal locations; Conover subtracts them) and the
    rank-robust companion of Bartlett/Brown–Forsythe.  z standardizes
    T = Σ_{urgent} a by the exact sampling-without-replacement
    moments of the linear rank statistic: E T = n₁ā,
    Var T = n₁n₂/(n(n−1)) · Σc(a−ā)².  The reported group means are
    NORMALIZED squared ranks (midrank/n)² — raw T grows as n³, where
    a fixed-decimal ROUND sits below double fold-noise; z is affine-
    invariant in the scores, so the normalization changes nothing.

    Ranks live on the deviation grid (distinct |cents − μ_g| values,
    the Ansari–Bradley audited shape): one cumulative window turns
    tie-block bounds into exact midranks, never a per-row global
    sort.  Group means stay exact (integer cents sums / counts)."""
    o = load_table(spark, sf_dir, "orders")
    pts = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.when(
            F.substring("o_orderpriority", 1, 1).isin("1", "2"), 1
        )
        .otherwise(0)
        .alias("g"),
    )
    mu = pts.groupBy("g").agg(
        (F.sum("cents").cast("double") / F.count(F.lit(1))).alias("m")
    )
    dev = pts.join(F.broadcast(mu), "g").select(
        F.abs(F.col("cents") - F.col("m")).alias("u"), "g"
    )
    cells = dev.groupBy("u").agg(
        F.count(F.lit(1)).alias("c"), F.sum("g").alias("c1")
    )
    wcum = Window.orderBy("u").rowsBetween(Window.unboundedPreceding, 0)
    pos = cells.select(
        "c", "c1", F.sum("c").over(wcum).alias("hi")
    )
    mr = F.col("hi") - (F.col("c") - 1) / F.lit(2.0)
    scored = pos.select("c", "c1", (mr * mr).alias("a"))
    tot = scored.agg(
        F.sum("c").alias("n"),
        F.sum("c1").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).alias("n2"),
        F.sum(F.col("c") * F.col("a")).alias("sa"),
        F.sum(F.col("c1") * F.col("a")).alias("t1"),
        F.sum(F.col("c") * F.col("a") * F.col("a")).alias("saa"),
    )
    n, n1, n2 = F.col("n"), F.col("n1"), F.col("n2")
    sa, t1, saa = F.col("sa"), F.col("t1"), F.col("saa")
    ssq = saa - sa * sa / n
    return tot.select(
        n1.cast("bigint").alias("n_urgent"),
        n2.cast("bigint").alias("n_other"),
        F.round(t1 / (n1.cast("double") * n * n), 6).alias(
            "mean_sq_rank_urgent"
        ),
        F.round(sa / (n.cast("double") * n * n), 6).alias(
            "mean_sq_rank_null"
        ),
        F.round(
            F.when(
                (ssq > 0) & (n > 1),
                (t1 - n1 * sa / n)
                / F.sqrt(
                    n1.cast("double") * n2 / (n * (n - F.lit(1.0))) * ssq
                ),
            ),
            6,
        ).alias("z"),
    )


# =====================================================================
# Engle's ARCH LM test (volatility clustering, per event type)
# =====================================================================

@query(
    "arch_lm_daily_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 100.0 AS y
      FROM events GROUP BY 1, 2
    ), mean0 AS (
      SELECT event_type, AVG(y) AS ybar FROM daily GROUP BY 1
    ), sq AS (
      SELECT d.event_type, d.day,
             (d.y - m.ybar) * (d.y - m.ybar) AS s
      FROM daily d JOIN mean0 m ON m.event_type = d.event_type
    ), lagged AS (
      SELECT event_type, s, LAG(s) OVER w AS sl
      FROM sq WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), m AS (
      SELECT event_type, COUNT(*) AS n, SUM(sl) AS sx,
             SUM(sl * sl) AS sxx, SUM(s) AS sy, SUM(s * s) AS syy,
             SUM(sl * s) AS sxy
      FROM lagged WHERE sl IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_obs,
           ROUND(CASE WHEN (sxx - sx * sx / n) > 0
                       AND (syy - sy * sy / n) > 0 THEN
                 (sxy - sx * sy / n)
                 / SQRT((sxx - sx * sx / n) * (syy - sy * sy / n))
                 END, 6) AS rho1,
           ROUND(CASE WHEN (sxx - sx * sx / n) > 0
                       AND (syy - sy * sy / n) > 0 THEN
                 n * ((sxy - sx * sy / n)
                      / SQRT((sxx - sx * sx / n) * (syy - sy * sy / n)))
                   * ((sxy - sx * sy / n)
                      / SQRT((sxx - sx * sx / n) * (syy - sy * sy / n)))
                 END, 6) AS arch_lm
    FROM m ORDER BY event_type
    """,
)
def arch_lm_q(spark, sf_dir):
    """Engle's ARCH(1) LM test per event type's daily mean-value
    series — is the VOLATILITY clustered even when the level is not?
    Square the demeaned series, regress s_t on s_{t−1}; LM = n·R²
    (~χ²₁ under no-ARCH).  The heteroskedasticity-in-time gate the
    mean-model battery (AR, SES, Ljung–Box on levels) cannot see:
    a series can pass every autocorrelation test while its squared
    residuals scream dependence.  With one lag, R² = ρ₁(s)², so the
    whole test is a LAG window plus one closed-form moment fold per
    type — the dickey_fuller audited shape.

    Scale: the daily grid is calendar-bounded; all windows partition
    by event_type; the per-type mean joins back as a broadcast of a
    |types|-row frame."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        (
            F.sum(cents).cast("double") / F.count(F.lit(1)) / 100.0
        ).alias("y")
    )
    mean0 = daily.groupBy("event_type").agg(F.avg("y").alias("ybar"))
    sq = daily.join(F.broadcast(mean0), "event_type").select(
        "event_type",
        "day",
        (
            (F.col("y") - F.col("ybar")) * (F.col("y") - F.col("ybar"))
        ).alias("s"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = sq.select(
        "event_type", "s", F.lag("s").over(w).alias("sl")
    ).filter(F.col("sl").isNotNull())
    m = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("sl").alias("sx"),
        F.sum(F.col("sl") * F.col("sl")).alias("sxx"),
        F.sum("s").alias("sy"),
        F.sum(F.col("s") * F.col("s")).alias("syy"),
        F.sum(F.col("sl") * F.col("s")).alias("sxy"),
    )
    n = F.col("n")
    sxx_c = F.col("sxx") - F.col("sx") * F.col("sx") / n
    syy_c = F.col("syy") - F.col("sy") * F.col("sy") / n
    sxy_c = F.col("sxy") - F.col("sx") * F.col("sy") / n
    ok = (sxx_c > 0) & (syy_c > 0)
    rho = sxy_c / F.sqrt(sxx_c * syy_c)
    return m.select(
        "event_type",
        n.cast("bigint").alias("n_obs"),
        F.round(F.when(ok, rho), 6).alias("rho1"),
        F.round(F.when(ok, n * rho * rho), 6).alias("arch_lm"),
    ).orderBy("event_type")


# =====================================================================
# Croston's method (intermittent per-customer order demand)
# =====================================================================

@query(
    "croston_forecast_orders",
    """
    WITH occ AS (
      SELECT o_custkey AS ck, CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS z
      FROM orders GROUP BY 1, 2
    ), seq AS (
      SELECT ck, day, z,
             ROW_NUMBER() OVER (PARTITION BY ck ORDER BY day) AS j,
             COUNT(*) OVER (PARTITION BY ck) AS m,
             date_diff('day',
                       LAG(day) OVER (PARTITION BY ck ORDER BY day),
                       day) AS gap
      FROM occ
    ), zhat AS (
      SELECT ck, ANY_VALUE(m) AS m,
             SUM(CASE WHEN j = 1 THEN POWER(0.8, m - 1) * z
                      ELSE 0.2 * POWER(0.8, m - j) * z END) / 100.0
               AS zh,
             SUM(CASE WHEN j = 2 THEN POWER(0.8, m - 2) * gap
                      WHEN j > 2 THEN 0.2 * POWER(0.8, m - j) * gap
                      ELSE 0.0 END) AS ph
      FROM seq WHERE m >= 3 GROUP BY ck
    ), top AS (
      SELECT ck, m, zh, ph FROM zhat
      ORDER BY m DESC, ck LIMIT 10
    )
    SELECT ck AS custkey, CAST(m AS BIGINT) AS n_demand_days,
           ROUND(zh, 4) AS z_hat,
           ROUND(ph, 6) AS p_hat,
           ROUND(zh / ph, 4) AS croston_rate
    FROM top ORDER BY custkey
    """,
)
def croston_forecast_q(spark, sf_dir):
    """Croston's method on intermittent per-customer order demand:
    SES (α=0.2) over the demand SIZES at order days and, separately,
    over the INTER-ORDER intervals; the demand-rate forecast is their
    ratio ẑ/p̂.  The standard forecast for sparse series — plain SES
    on the zero-filled series biases toward zero right after each
    demand, which is exactly when replenishment decisions are made.
    SES after m observations has the closed weighted-sum form
    α(1−α)^(m−j) (first observation carries (1−α)^(m−1)), so both
    engines fold identical POWER terms — no recursion.  Reported for
    the 10 busiest customers (most demand days, custkey tie-break).

    Scale: one window pass per customer (partitioned), demand sizes
    in exact cents, then a TakeOrdered top-10 — no global shuffle
    beyond the 10-row result."""
    o = load_table(spark, sf_dir, "orders")
    occ = o.groupBy(
        F.col("o_custkey").alias("ck"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("z")
    )
    w = Window.partitionBy("ck").orderBy("day")
    wall = Window.partitionBy("ck")
    seq = occ.select(
        "ck",
        "z",
        F.row_number().over(w).alias("j"),
        F.count(F.lit(1)).over(wall).alias("m"),
        F.datediff(F.col("day"), F.lag("day").over(w)).alias("gap"),
    ).filter(F.col("m") >= 3)
    j, mcol = F.col("j"), F.col("m")
    alpha, beta = F.lit(0.2), F.lit(0.8)
    wz = F.when(j == 1, F.pow(beta, mcol - 1) * F.col("z")).otherwise(
        alpha * F.pow(beta, mcol - j) * F.col("z")
    )
    wp = (
        F.when(j == 2, F.pow(beta, mcol - 2) * F.col("gap"))
        .when(j > 2, alpha * F.pow(beta, mcol - j) * F.col("gap"))
        .otherwise(0.0)
    )
    zhat = seq.groupBy("ck").agg(
        F.any_value("m").alias("m"),
        (F.sum(wz) / 100.0).alias("zh"),
        F.sum(wp).alias("ph"),
    )
    top = zhat.orderBy(F.col("m").desc(), "ck").limit(10)
    return top.select(
        F.col("ck").alias("custkey"),
        F.col("m").cast("bigint").alias("n_demand_days"),
        F.round("zh", 4).alias("z_hat"),
        F.round("ph", 6).alias("p_hat"),
        F.round(F.col("zh") / F.col("ph"), 4).alias("croston_rate"),
    ).orderBy("custkey")


# =====================================================================
# Pinball-loss quantile backtest (trailing 7-day empirical quantiles)
# =====================================================================

@query(
    "pinball_backtest_daily_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS v
      FROM events GROUP BY 1, 2
    ), seq AS (
      SELECT event_type, day, v,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY day) AS rn,
             list_sort(list(v) OVER (PARTITION BY event_type
                                     ORDER BY day
                                     ROWS BETWEEN 7 PRECEDING
                                     AND 1 PRECEDING)) AS hist
      FROM daily
    ), fc AS (
      SELECT event_type, v,
             hist[CAST(FLOOR(6 * 0.1) AS INTEGER) + 1]
             + (6 * 0.1 - FLOOR(6 * 0.1))
               * (hist[LEAST(CAST(FLOOR(6 * 0.1) AS INTEGER) + 2, 7)]
                  - hist[CAST(FLOOR(6 * 0.1) AS INTEGER) + 1]) AS f01,
             hist[CAST(FLOOR(6 * 0.5) AS INTEGER) + 1]
             + (6 * 0.5 - FLOOR(6 * 0.5))
               * (hist[LEAST(CAST(FLOOR(6 * 0.5) AS INTEGER) + 2, 7)]
                  - hist[CAST(FLOOR(6 * 0.5) AS INTEGER) + 1]) AS f05,
             hist[CAST(FLOOR(6 * 0.9) AS INTEGER) + 1]
             + (6 * 0.9 - FLOOR(6 * 0.9))
               * (hist[LEAST(CAST(FLOOR(6 * 0.9) AS INTEGER) + 2, 7)]
                  - hist[CAST(FLOOR(6 * 0.9) AS INTEGER) + 1]) AS f09
      FROM seq WHERE rn >= 8
    ), longf AS (
      SELECT event_type, CAST(0.1 AS DOUBLE) AS q, v, f01 AS f FROM fc
      UNION ALL
      SELECT event_type, CAST(0.5 AS DOUBLE) AS q, v, f05 AS f FROM fc
      UNION ALL
      SELECT event_type, CAST(0.9 AS DOUBLE) AS q, v, f09 AS f FROM fc
    )
    SELECT event_type, q, CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(AVG(GREATEST(q * (v - f), (q - 1) * (v - f))), 4)
             AS mean_pinball,
           ROUND(AVG(CASE WHEN v <= f THEN 1.0 ELSE 0.0 END), 4)
             AS coverage
    FROM longf GROUP BY event_type, q ORDER BY event_type, q
    """,
)
def pinball_backtest_q(spark, sf_dir):
    """Quantile-forecast backtest: forecast each day's total value
    per event type with the trailing-7-day EMPIRICAL quantile
    (type-7 interpolation over the sorted window, q ∈ {0.1, 0.5,
    0.9}) and score with the pinball (quantile) loss — the proper
    scoring rule for quantile forecasts — plus realized coverage
    (fraction of days at or under the forecast; calibrated ⇒ ≈ q).
    The distribution-forecast companion of the point-forecast
    smape_mase gate: a point backtest can look fine while the q90
    badly under-covers, which is what capacity planning reads.

    The quantile is interpolated EXPLICITLY from the sorted 7-element
    window array ((n−1)q rule, identical arithmetic both engines)
    rather than relying on engine window-quantile semantics.  Scale:
    windows partition by event_type over the calendar-bounded daily
    grid; the q fan-out is a 3-way stack of the same bounded frame."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        (F.sum(cents).cast("double") / 100.0).alias("v")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    wh = w.rowsBetween(-7, -1)
    seq = daily.select(
        "event_type",
        "v",
        F.row_number().over(w).alias("rn"),
        F.sort_array(F.collect_list("v").over(wh)).alias("hist"),
    ).filter(F.col("rn") >= 8)

    def interp(q):
        lo = int(6 * q)  # FLOOR(6q) — exact for q in {.1, .5, .9}
        frac = F.lit(6 * q) - F.lit(float(lo))
        a1 = F.element_at("hist", lo + 1)
        a2 = F.element_at("hist", min(lo + 2, 7))
        return a1 + frac * (a2 - a1)

    fc = seq.select(
        "event_type",
        "v",
        interp(0.1).alias("f01"),
        interp(0.5).alias("f05"),
        interp(0.9).alias("f09"),
    )
    longf = fc.selectExpr(
        "event_type",
        "stack(3, CAST(0.1 AS DOUBLE), f01, CAST(0.5 AS DOUBLE), f05, "
        "CAST(0.9 AS DOUBLE), f09) AS (q, f)",
        "v",
    )
    err = F.col("v") - F.col("f")
    return (
        longf.groupBy("event_type", "q")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.round(
                F.avg(
                    F.greatest(
                        F.col("q") * err, (F.col("q") - 1) * err
                    )
                ),
                4,
            ).alias("mean_pinball"),
            F.round(
                F.avg(
                    F.when(F.col("v") <= F.col("f"), 1.0).otherwise(0.0)
                ),
                4,
            ).alias("coverage"),
        )
        .orderBy("event_type", "q")
    )


# =====================================================================
# Partition-volume load anomalies (robust z on daily ingest counts)
# =====================================================================

@query(
    "partition_volume_anomaly_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ), med AS (
      SELECT event_type, median(c) AS med FROM daily GROUP BY 1
    ), madt AS (
      SELECT d.event_type, median(ABS(d.c - m.med)) AS mad
      FROM daily d JOIN med m ON m.event_type = d.event_type
      GROUP BY 1
    ), z AS (
      SELECT d.event_type, d.day, d.c, m.med, t.mad,
             CASE WHEN t.mad > 0
                  THEN (d.c - m.med) / (1.4826 * t.mad) END AS rz
      FROM daily d
      JOIN med m ON m.event_type = d.event_type
      JOIN madt t ON t.event_type = d.event_type
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY COALESCE(ABS(rz), CAST(-1 AS DOUBLE)) DESC,
                        day) AS rk
      FROM z
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(ANY_VALUE(med), 1) AS med_volume,
           ROUND(ANY_VALUE(mad), 1) AS mad_volume,
           CAST(SUM(CASE WHEN ABS(rz) > 3.5 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_anomalies,
           MAX(CASE WHEN rk = 1 THEN day END) AS worst_day,
           ROUND(MAX(ABS(rz)), 6) AS max_abs_z
    FROM ranked GROUP BY event_type ORDER BY event_type
    """,
)
def partition_volume_anomaly_q(spark, sf_dir):
    """ETL load-health report: robust z-score (median/MAD with the
    1.4826 normal-consistency constant) on each event type's daily
    ingest row count, flagging days beyond |z| > 3.5 (Iglewicz–
    Hoaglin) plus the single worst day per type.  This is the check
    that catches double-loads, dropped partitions, and backfill
    collisions BEFORE a bookmark advances past them — mean/stddev
    versions self-mask because the anomaly inflates its own
    threshold; the median/MAD pair does not.

    Scale: everything lives on the (types × days) calendar grid —
    medians fold per type, the worst-day window partitions by type,
    and no corpus-scaled row survives the first groupBy."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    med = daily.groupBy("event_type").agg(F.median("c").alias("med"))
    madt = (
        daily.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.median(F.abs(F.col("c") - F.col("med"))).alias("mad"))
    )
    z = (
        daily.join(F.broadcast(med), "event_type")
        .join(F.broadcast(madt), "event_type")
        .select(
            "event_type",
            "day",
            "c",
            "med",
            "mad",
            F.when(
                F.col("mad") > 0,
                (F.col("c") - F.col("med"))
                / (F.lit(1.4826) * F.col("mad")),
            ).alias("rz"),
        )
    )
    wrk = Window.partitionBy("event_type").orderBy(
        F.coalesce(F.abs("rz"), F.lit(-1.0)).desc(), F.col("day")
    )
    ranked = z.select("*", F.row_number().over(wrk).alias("rk"))
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.round(F.any_value("med"), 1).alias("med_volume"),
            F.round(F.any_value("mad"), 1).alias("mad_volume"),
            F.sum(
                F.when(F.abs("rz") > 3.5, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_anomalies"),
            F.max(F.when(F.col("rk") == 1, F.col("day"))).alias(
                "worst_day"
            ),
            F.round(F.max(F.abs("rz")), 6).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


# =====================================================================
# Hosmer-Lemeshow decile-of-risk calibration test
# =====================================================================

@query(
    "hosmer_lemeshow_quality_docs",
    r"""
    WITH tok AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(
               unnest(string_split_regex(lower(trim(text)), '\s+'))), 1, 8))
               AS BIGINT) % 4096 AS b
      FROM documents WHERE text IS NOT NULL
    ), model AS (
      SELECT DISTINCT b AS bucket,
             (CAST(b % 101 AS DOUBLE) - 50.0) / 500.0 AS w
      FROM tok
    ), scored AS (
      SELECT tok.doc_id, SUM(model.w) AS sw
      FROM tok JOIN model ON model.bucket = tok.b
      GROUP BY tok.doc_id
    ), prob AS (
      SELECT d.doc_id,
             ROUND(1.0 / (1.0 + exp(-(0.1 + COALESCE(s.sw, 0.0)))), 6)
                 AS p,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
      WHERE d.text IS NOT NULL
    ), cuts AS (
      SELECT quantile_cont(p, 0.1) AS c1, quantile_cont(p, 0.2) AS c2,
             quantile_cont(p, 0.3) AS c3, quantile_cont(p, 0.4) AS c4,
             quantile_cont(p, 0.5) AS c5, quantile_cont(p, 0.6) AS c6,
             quantile_cont(p, 0.7) AS c7, quantile_cont(p, 0.8) AS c8,
             quantile_cont(p, 0.9) AS c9
      FROM prob
    ), binned AS (
      SELECT 1 + (CASE WHEN p > c1 THEN 1 ELSE 0 END)
               + (CASE WHEN p > c2 THEN 1 ELSE 0 END)
               + (CASE WHEN p > c3 THEN 1 ELSE 0 END)
               + (CASE WHEN p > c4 THEN 1 ELSE 0 END)
               + (CASE WHEN p > c5 THEN 1 ELSE 0 END)
               + (CASE WHEN p > c6 THEN 1 ELSE 0 END)
               + (CASE WHEN p > c7 THEN 1 ELSE 0 END)
               + (CASE WHEN p > c8 THEN 1 ELSE 0 END)
               + (CASE WHEN p > c9 THEN 1 ELSE 0 END) AS bin,
             p, y
      FROM prob CROSS JOIN cuts
    ), cells AS (
      SELECT bin, COUNT(*) AS ng, SUM(y) AS o1, SUM(p) AS e1
      FROM binned GROUP BY bin
    ), chi AS (
      SELECT SUM(CASE WHEN e1 > 0 AND e1 < ng THEN
                 (o1 - e1) * (o1 - e1) / (e1 * (1.0 - e1 / ng))
                 ELSE 0.0 END) AS chi2,
             CAST(COUNT(*) AS BIGINT) AS nbins
      FROM cells
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(ng AS BIGINT) AS n_docs,
           CAST(o1 AS BIGINT) AS obs_pos,
           ROUND(e1, 4) AS exp_pos,
           ROUND(chi.chi2, 4) AS hl_chi2,
           CAST(chi.nbins - 2 AS BIGINT) AS df
    FROM cells CROSS JOIN chi ORDER BY bin
    """,
)
def hosmer_lemeshow_q(spark, sf_dir):
    """Hosmer–Lemeshow decile-of-risk calibration test over the
    hashed linear classifier's scores (label = doc lang is English):
    cut the score distribution at its own exact deciles (type-7
    percentile, the winsorized_corr 1-row-fold precedent), then
    χ² = Σ (O−E)²/(E(1−E/n)) across risk groups (~χ²₈) — the
    CLASSICAL test companion of the equal-WIDTH ECE gate, whose fixed
    bins go empty or unbalanced exactly when scores bunch; HL's
    equal-count groups keep every cell populated, which is why
    clinical and credit models report it.  Ties at a cut fall to the
    lower group (p > c is strict) — deterministic on the ROUND(6)
    score grid.

    Scale: scoring is the broadcast-model hashed pipeline (corpus
    rows never join corpus rows); the cut vector is one 1-row
    percentile fold broadcast back; the report is a 10-row grid."""
    from ..operators.sampling import hash_bucket
    from ..operators.text import hashed_classifier_score

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    dim = 4096
    model = (
        d.select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("_t")
        )
        .select(hash_bucket(F.col("_t"), dim).alias("bucket"))
        .distinct()
        .select(
            "bucket",
            (
                ((F.col("bucket") % 101).cast("double") - 50.0) / 500.0
            ).alias("w"),
        )
    )
    scored = hashed_classifier_score(d, model, dim=dim, bias=0.1)
    # consumed by the percentile fold AND the binned pass: cut the
    # lineage so the hashed-classifier pipeline (token explode + vocab
    # distinct + score join) runs once, not once per consumer — the
    # before-plan held 32 parquet scans (plans/r11/hosmer_lemeshow_
    # quality_docs_before.txt)
    prob = checkpoint(
        scored.join(
            d.select("doc_id", "lang"), scored["id"] == F.col("doc_id")
        ).select(
            F.col("score").alias("p"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        )
    )
    cuts = prob.agg(
        *[
            F.expr(f"percentile(p, {q / 10.0})").alias(f"c{q}")
            for q in range(1, 10)
        ]
    )
    bin_expr = F.lit(1)
    for q in range(1, 10):
        bin_expr = bin_expr + F.when(
            F.col("p") > F.col(f"c{q}"), 1
        ).otherwise(0)
    binned = prob.join(F.broadcast(cuts), F.lit(True)).select(
        bin_expr.alias("bin"), "p", "y"
    )
    cells = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("y").alias("o1"),
        F.sum("p").alias("e1"),
    )
    e1, ng, o1 = F.col("e1"), F.col("ng"), F.col("o1")
    chi = cells.agg(
        F.sum(
            F.when(
                (e1 > 0) & (e1 < ng),
                (o1 - e1) * (o1 - e1) / (e1 * (F.lit(1.0) - e1 / ng)),
            ).otherwise(0.0)
        ).alias("chi2"),
        F.count(F.lit(1)).cast("bigint").alias("nbins"),
    )
    return (
        cells.join(F.broadcast(chi), F.lit(True))
        .select(
            F.col("bin").cast("bigint").alias("bin"),
            ng.cast("bigint").alias("n_docs"),
            o1.cast("bigint").alias("obs_pos"),
            F.round(e1, 4).alias("exp_pos"),
            F.round(F.col("chi2"), 4).alias("hl_chi2"),
            (F.col("nbins") - 2).cast("bigint").alias("df"),
        )
        .orderBy("bin")
    )


# =====================================================================
# Engle-Granger cointegration (daily click vs purchase value)
# =====================================================================

@query(
    "engle_granger_click_purchase_events",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CASE WHEN event_type = 'click'
                  THEN CAST(ROUND(value * 100) AS BIGINT)
                  ELSE 0 END) AS DOUBLE) / 100.0 AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100) AS BIGINT)
                  ELSE 0 END) AS DOUBLE) / 100.0 AS y
      FROM events GROUP BY 1
    ), m1 AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM daily
    ), fit AS (
      SELECT n, (sxy - sx * sy / n) / (sxx - sx * sx / n) AS b,
             sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n)
                      * sx / n AS a
      FROM m1
    ), resid AS (
      SELECT day, y - a - b * x AS r, a, b, n
      FROM daily CROSS JOIN fit
    ), lagd AS (
      SELECT r - LAG(r) OVER (ORDER BY day) AS dr,
             LAG(r) OVER (ORDER BY day) AS rl,
             a, b
      FROM resid
    ), m2 AS (
      SELECT ANY_VALUE(a) AS a, ANY_VALUE(b) AS b,
             COUNT(*) AS n2, SUM(rl * dr) AS sxy2,
             SUM(rl * rl) AS sxx2, SUM(dr * dr) AS syy2
      FROM lagd WHERE rl IS NOT NULL
    )
    SELECT CAST(n2 AS BIGINT) AS n_obs,
           ROUND(a, 4) AS alpha,
           ROUND(b, 6) AS beta_coint,
           ROUND(CASE WHEN sxx2 > 0 AND n2 > 1
                       AND (syy2 - sxy2 * sxy2 / sxx2) > 0 THEN
                 (sxy2 / sxx2)
                 / SQRT(((syy2 - sxy2 * sxy2 / sxx2) / (n2 - 1))
                        / sxx2) END, 6) AS eg_stat
    FROM m2
    """,
)
def engle_granger_q(spark, sf_dir):
    """Engle–Granger cointegration test between the daily click and
    purchase value series: OLS purchase-on-click in LEVELS, then a
    no-constant Dickey–Fuller on the residuals (Δr_t = βr_{t−1}+ε;
    strongly negative ⇒ the spread mean-reverts ⇒ the two trending
    series share a stationary linear combination).  The pair
    companion of the single-series dickey_fuller gate and the
    level-vs-difference counterpart of the granger_lag1 gate —
    regressing one trending series on another WITHOUT this test is
    the textbook spurious regression (critical values are the
    Engle–Granger table's, not t's; the gate reports the statistic).

    Scale: the series is the calendar-bounded daily grid; the OLS
    fit is one 1-row moment fold broadcast back over that grid (the
    dickey_fuller/buishand audited shape), then one LAG window and a
    final 1-row fold."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        (
            F.sum(
                F.when(F.col("event_type") == "click", cents).otherwise(
                    0
                )
            ).cast("double")
            / 100.0
        ).alias("x"),
        (
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", cents
                ).otherwise(0)
            ).cast("double")
            / 100.0
        ).alias("y"),
    )
    m1 = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    b = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / n
    )
    fit = m1.select(
        "n", b.alias("b"), (F.col("sy") / n - b * F.col("sx") / n).alias("a")
    )
    resid = daily.join(F.broadcast(fit), F.lit(True)).select(
        "day",
        (F.col("y") - F.col("a") - F.col("b") * F.col("x")).alias("r"),
        "a",
        "b",
    )
    w = Window.orderBy("day")
    lagd = resid.select(
        (F.col("r") - F.lag("r").over(w)).alias("dr"),
        F.lag("r").over(w).alias("rl"),
        "a",
        "b",
    ).filter(F.col("rl").isNotNull())
    m2 = lagd.agg(
        F.any_value("a").alias("a"),
        F.any_value("b").alias("b"),
        F.count(F.lit(1)).alias("n2"),
        F.sum(F.col("rl") * F.col("dr")).alias("sxy2"),
        F.sum(F.col("rl") * F.col("rl")).alias("sxx2"),
        F.sum(F.col("dr") * F.col("dr")).alias("syy2"),
    )
    n2 = F.col("n2")
    sxx2, sxy2, syy2 = F.col("sxx2"), F.col("sxy2"), F.col("syy2")
    s2 = syy2 - sxy2 * sxy2 / sxx2
    return m2.select(
        n2.cast("bigint").alias("n_obs"),
        F.round("a", 4).alias("alpha"),
        F.round("b", 6).alias("beta_coint"),
        F.round(
            F.when(
                (sxx2 > 0) & (n2 > 1) & (s2 > 0),
                (sxy2 / sxx2)
                / F.sqrt((s2 / (n2 - 1)) / sxx2),
            ),
            6,
        ).alias("eg_stat"),
    )
