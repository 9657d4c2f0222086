"""Round-6 wave: time-series diagnostics — split from the single-file registry (VERDICT r7 #7).

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
    normal_cdf,
    query,
)
from .llm import _centroid_assign_sql  # noqa: F401
from .wave3_graph import _lpa_oracle, _winnow_fp_sql  # noqa: F401

# =====================================================================
# Round-6 wave: time-series diagnostics
# =====================================================================

@query(
    "changepoint_mean_daily_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             ROUND(ROUND(SUM(value), 6) / COUNT(*), 6) AS m
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), idx AS (
      SELECT event_type, d, m,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS t,
             COUNT(*) OVER (PARTITION BY event_type) AS tn,
             SUM(m) OVER (PARTITION BY event_type ORDER BY d
                          ROWS UNBOUNDED PRECEDING) AS s,
             SUM(m) OVER (PARTITION BY event_type) AS stot
      FROM daily
    ), sc AS (
      SELECT event_type, d, t, tn,
             t * POWER(s / t - stot / tn, 2)
               + (tn - t) * POWER((stot - s) / (tn - t) - stot / tn, 2)
               AS score,
             s / t AS ml, (stot - s) / (tn - t) AS mr
      FROM idx WHERE t < tn
    ), r AS (
      SELECT event_type, d AS break_day, CAST(tn AS BIGINT) AS n_days,
             ROUND(score, 6) AS score,
             ROUND(ml, 6) AS mean_left, ROUND(mr, 6) AS mean_right,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY score DESC, d ASC) AS rn
      FROM sc
    )
    SELECT event_type, break_day, n_days, score, mean_left, mean_right
    FROM r WHERE rn = 1
    """,
)
def changepoint_q(spark, sf_dir):
    """Single best mean-shift changepoint per event type (binary
    segmentation, first split): split the daily-mean series at every
    day t and score the between-segment sum of squares
    ``t·(μ_L−μ)² + (T−t)·(μ_R−μ)²`` — the variance explained by a
    one-break step function; the argmax day is where the level
    shifted (the CUSUM screen's model-based sibling).  Daily means
    round to 6 so both engines difference identical doubles; one
    bounded per-type cumsum window computes every split's score from
    prefix sums — O(T) per type, never a per-split rescan."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.round(F.round(F.sum("value"), 6) / F.count(F.lit(1)), 6).alias("m")
    )
    wt = Window.partitionBy("event_type")
    wo = wt.orderBy("d")
    idx = daily.select(
        "event_type",
        "d",
        F.row_number().over(wo).alias("t"),
        F.count(F.lit(1)).over(wt).alias("tn"),
        F.sum("m")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("s"),
        F.sum("m").over(wt).alias("stot"),
    ).filter(F.col("t") < F.col("tn"))
    mu = F.col("stot") / F.col("tn")
    ml = F.col("s") / F.col("t")
    mr = (F.col("stot") - F.col("s")) / (F.col("tn") - F.col("t"))
    sc = idx.select(
        "event_type",
        "d",
        "tn",
        (
            F.col("t") * F.pow(ml - mu, F.lit(2))
            + (F.col("tn") - F.col("t")) * F.pow(mr - mu, F.lit(2))
        ).alias("score"),
        ml.alias("ml"),
        mr.alias("mr"),
    )
    rw = Window.partitionBy("event_type").orderBy(
        F.col("score").desc(), F.col("d").asc()
    )
    return (
        sc.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("d").alias("break_day"),
            F.col("tn").cast("bigint").alias("n_days"),
            F.round("score", 6).alias("score"),
            F.round("ml", 6).alias("mean_left"),
            F.round("mr", 6).alias("mean_right"),
        )
    )


@query(
    "acf_daily_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS x
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), idx AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS t
      FROM daily
    ), st AS (
      SELECT event_type, COUNT(*) AS n, SUM(x) AS sx,
             SUM(x * x) AS sxx
      FROM idx GROUP BY event_type
    ), lag_terms AS (
      SELECT a.event_type, l.lag,
             SUM(a.x * b.x) AS sxy, SUM(a.x) AS s1, SUM(b.x) AS s2,
             COUNT(*) AS np
      FROM idx a
      JOIN (SELECT unnest(range(1, 8)) AS lag) l ON TRUE
      JOIN idx b ON b.event_type = a.event_type AND b.t = a.t - l.lag
      GROUP BY a.event_type, l.lag
    )
    SELECT t.event_type, CAST(t.lag AS BIGINT) AS lag,
           ROUND(
             (t.sxy - (s.sx / s.n) * (t.s1 + t.s2)
                    + t.np * (s.sx / s.n) * (s.sx / s.n))
             / (s.sxx - s.n * (s.sx / s.n) * (s.sx / s.n)), 6) AS acf
    FROM lag_terms t JOIN st s USING (event_type)
    ORDER BY event_type, lag
    """,
)
def acf_q(spark, sf_dir):
    """Autocorrelation function of daily event counts at lags 1–7 —
    the seasonality/burst diagnostic behind the day-of-week adjuster
    (a weekly cycle shows as an ACF spike at lag 7).  Standard
    estimator ``Σ(x_t−μ)(x_{t−L}−μ) / Σ(x_t−μ)²`` expanded into pure
    INTEGER sums (Σx_t·x_{t−L}, Σx over the lagged support, Σx²) so
    every double op runs on exact integers in both engines — order-
    free, no rounding until output.  The lag join runs on the tiny
    per-type daily frame (≤ days·7 rows), never on raw events."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    idx = daily.select(
        "event_type",
        "x",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("d"))
        .alias("t"),
    )
    st = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    a = idx.alias("a")
    b = idx.alias("b")
    terms = (
        a.join(F.broadcast(lags), F.lit(True))
        .join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.t") == F.col("a.t") - F.col("lag")),
        )
        .groupBy("a.event_type", "lag")
        .agg(
            F.sum(F.col("a.x") * F.col("b.x")).alias("sxy"),
            F.sum("a.x").alias("s1"),
            F.sum("b.x").alias("s2"),
            F.count(F.lit(1)).alias("np"),
        )
    )
    mu = F.col("sx") / F.col("n")
    return (
        terms.join(st, "event_type")
        .select(
            "event_type",
            F.col("lag").cast("bigint").alias("lag"),
            F.round(
                (
                    F.col("sxy")
                    - mu * (F.col("s1") + F.col("s2"))
                    + F.col("np") * mu * mu
                )
                / (F.col("sxx") - F.col("n") * mu * mu),
                6,
            ).alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


@query(
    "theil_sen_trend_daily_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS DOUBLE)
               / 10000 AS y
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), idx AS (
      SELECT event_type, y,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS t
      FROM daily
    ), slopes AS (
      SELECT a.event_type, (b.y - a.y) / (b.t - a.t) AS sl
      FROM idx a JOIN idx b
        ON b.event_type = a.event_type AND b.t > a.t
    )
    SELECT event_type, ROUND(quantile_cont(sl, 0.5), 6) AS slope,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM slopes GROUP BY event_type ORDER BY event_type
    """,
)
def theil_sen_q(spark, sf_dir):
    """Theil–Sen robust trend per event type: the MEDIAN of all
    pairwise slopes of the daily-total series — breakdown point
    ~29%, immune to the outlier days that wreck least squares (the
    robust sibling of regr_value_trend).  Daily totals are ×1e4
    integer-scaled sums (order-free exact), pair generation runs on
    the tiny per-type daily frame (≤ T²/2 ≈ 66k pairs per type at a
    year of days — bounded, never on raw events), and the median is
    the proven percentile ≡ quantile_cont parity."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        (
            F.sum(F.round(F.col("value") * 10000).cast("bigint")).cast(
                "double"
            )
            / 10000
        ).alias("y")
    )
    idx = daily.select(
        "event_type",
        "y",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("d"))
        .alias("t"),
    )
    a = idx.alias("a")
    b = idx.alias("b")
    slopes = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.t") > F.col("a.t")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        ((F.col("b.y") - F.col("a.y")) / (F.col("b.t") - F.col("a.t"))).alias(
            "sl"
        ),
    )
    return (
        slopes.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(sl, 0.5)"), 6).alias("slope"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
        .orderBy("event_type")
    )


@query(
    "kaplan_meier_retention_events",
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
           CASE WHEN MAX(CASE WHEN deaths = at_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY life ROWS UNBOUNDED PRECEDING) = 1
                THEN 0.0
                ELSE ROUND(exp(SUM(ln(CASE WHEN deaths = at_risk THEN 1.0
                           ELSE 1.0 - CAST(deaths AS DOUBLE) / at_risk END))
                     OVER (ORDER BY life ROWS UNBOUNDED PRECEDING)), 6)
           END AS survival
    FROM risk WHERE deaths > 0 ORDER BY t_days
    """,
)
def kaplan_meier_q(spark, sf_dir):
    """Kaplan–Meier repurchase curve: subjects are the gaps between a
    user's consecutive purchase events (in days); each user's final
    open gap — last purchase to the end of the observation window —
    is right-CENSORED (the user didn't fail to repurchase, we just
    stopped looking; dropping those gaps would bias the curve down,
    the mistake KM exists to fix).  ``S(t) = Π_{t_i≤t} (1 − d_i/n_i)``
    accumulated as exp(Σ ln(...)) over the ≤ n-days distinct gap
    lengths (the established cross-engine ln/exp parity).  Gap
    construction is one user-partitioned LEAD; at-risk counts are a
    reverse cumulative sum over the ≤ 366-bucket gap histogram —
    never a per-time rescan of subjects."""
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
    # gap histogram (≤ 366 rows), then at_risk = reverse cumsum
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
    # S hits exactly 0 when a death time wipes the whole risk set;
    # ln(0) is an error in DuckDB and null in Spark, so the zero tail
    # is carried by an explicit cumulative flag instead.
    full_death = F.when(F.col("deaths") == F.col("at_risk"), 1).otherwise(0)
    term = F.when(F.col("deaths") == F.col("at_risk"), F.lit(1.0)).otherwise(
        F.lit(1.0) - F.col("deaths").cast("double") / F.col("at_risk")
    )
    return risk.select(
        F.col("life").cast("bigint").alias("t_days"),
        F.col("at_risk").cast("bigint").alias("at_risk"),
        F.col("deaths").cast("bigint").alias("deaths"),
        F.when(F.max(full_death).over(wfwd) == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.sum(F.log(term)).over(wfwd)), 6))
        .alias("survival"),
    ).orderBy("t_days")


@query(
    "cuped_adjusted_lift_events",
    """
    WITH bounds AS (
      SELECT MIN(CAST(ts AS DATE)) AS mind, MAX(CAST(ts AS DATE)) AS maxd
      FROM events
    ), per_user AS (
      SELECT user_id,
             CAST(user_id AS BIGINT) % 2 AS grp,
             SUM(CASE WHEN CAST(ts AS DATE) < mind
                           + CAST((datediff('day', mind, maxd) + 1) / 2
                                  AS INTEGER)
                      THEN CAST(ROUND(value * 10000) AS BIGINT)
                      ELSE 0 END) AS x_scaled,
             SUM(CASE WHEN CAST(ts AS DATE) >= mind
                           + CAST((datediff('day', mind, maxd) + 1) / 2
                                  AS INTEGER)
                      THEN CAST(ROUND(value * 10000) AS BIGINT)
                      ELSE 0 END) AS y_scaled
      FROM events, bounds GROUP BY user_id, mind, maxd
    ), st AS (
      SELECT COUNT(*) AS n, SUM(x_scaled) AS sx, SUM(y_scaled) AS sy,
             SUM(x_scaled * x_scaled) AS sxx,
             SUM(x_scaled * y_scaled) AS sxy,
             SUM(y_scaled * y_scaled) AS syy
      FROM per_user
    ), theta AS (
      SELECT n, sx, sy, syy,
             (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
               / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
               AS th
      FROM st
    ), adj AS (
      SELECT grp,
             CAST(y_scaled AS DOUBLE) / 10000 AS y,
             (y_scaled - th * (x_scaled - CAST(sx AS DOUBLE) / n)) / 10000
               AS yc
      FROM per_user, theta
    )
    SELECT CAST(grp AS BIGINT) AS grp, CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(AVG(y), 6) AS mean_raw,
           ROUND(AVG(yc), 6) AS mean_cuped,
           ROUND((SELECT th FROM theta), 6) AS theta
    FROM adj GROUP BY grp ORDER BY grp
    """,
)
def cuped_q(spark, sf_dir):
    """CUPED variance-reduced experiment readout (Deng et al., WSDM
    2013): pre-period per-user spend as the covariate, post-period
    spend as the metric, ``Y_cuped = Y − θ(X − X̄)`` with
    ``θ = cov(X,Y)/var(X)`` pooled over all users — the adjusted
    group means keep the same expected lift but shed the variance X
    explains.  Group = user_id parity (the deterministic assignment
    stand-in); period split at the midpoint date.  All moments are
    ×1e4 integer-scaled exact sums, so θ and the adjusted means are
    identical doubles in both engines; two aggregate passes over the
    per-user frame, a 1-row θ broadcast between them."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.to_date("ts")).alias("mind"),
        F.max(F.to_date("ts")).alias("maxd"),
    )
    half = (F.datediff(F.col("maxd"), F.col("mind")) + 1) / 2
    cut = F.date_add(F.col("mind"), half.cast("int"))
    scaled = F.round(F.col("value") * 10000).cast("bigint")
    per_user = (
        e.join(F.broadcast(bounds), F.lit(True))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.to_date("ts") < cut, scaled).otherwise(F.lit(0))
            ).alias("x_scaled"),
            F.sum(
                F.when(F.to_date("ts") >= cut, scaled).otherwise(F.lit(0))
            ).alias("y_scaled"),
        )
        .select(
            (F.col("user_id") % 2).alias("grp"), "x_scaled", "y_scaled"
        )
    )
    st = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x_scaled").alias("sx"),
        F.sum("y_scaled").alias("sy"),
        F.sum(F.col("x_scaled") * F.col("x_scaled")).alias("sxx"),
        F.sum(F.col("x_scaled") * F.col("y_scaled")).alias("sxy"),
    )
    th = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy") / F.col("n")
    ) / (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx") / F.col("n")
    )
    theta = st.select(
        th.alias("th"), (F.col("sx").cast("double") / F.col("n")).alias("xbar")
    )
    adj = per_user.join(F.broadcast(theta), F.lit(True)).select(
        "grp",
        (F.col("y_scaled").cast("double") / 10000).alias("y"),
        (
            (F.col("y_scaled") - F.col("th") * (F.col("x_scaled") - F.col("xbar")))
            / 10000
        ).alias("yc"),
        "th",
    )
    return (
        adj.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.round(F.avg("y"), 6).alias("mean_raw"),
            F.round(F.avg("yc"), 6).alias("mean_cuped"),
            F.round(F.any_value("th"), 6).alias("theta"),
        )
        .select(
            F.col("grp").cast("bigint").alias("grp"),
            "n_users",
            "mean_raw",
            "mean_cuped",
            "theta",
        )
        .orderBy("grp")
    )


# Abramowitz & Stegun 26.2.17 normal-CDF polynomial — the SAME
# explicit arithmetic in both engines (exp() is the only libm call;
# the established ln/exp parity).  |error| < 7.5e-8, far inside the
# round-6 gate tolerance.
_PHI_SQL = """(CASE WHEN {z} >= 0 THEN
      1.0 - exp(-({z}) * ({z}) / 2.0) * 0.3989422804014327
        * ((((1.330274429 * (1.0 / (1.0 + 0.2316419 * ({z})))
              - 1.821255978) * (1.0 / (1.0 + 0.2316419 * ({z})))
              + 1.781477937) * (1.0 / (1.0 + 0.2316419 * ({z})))
              - 0.356563782) * (1.0 / (1.0 + 0.2316419 * ({z})))
              + 0.319381530) * (1.0 / (1.0 + 0.2316419 * ({z})))
    ELSE
      exp(-({z}) * ({z}) / 2.0) * 0.3989422804014327
        * ((((1.330274429 * (1.0 / (1.0 - 0.2316419 * ({z})))
              - 1.821255978) * (1.0 / (1.0 - 0.2316419 * ({z})))
              + 1.781477937) * (1.0 / (1.0 - 0.2316419 * ({z})))
              - 0.356563782) * (1.0 / (1.0 - 0.2316419 * ({z})))
              + 0.319381530) * (1.0 / (1.0 - 0.2316419 * ({z})))
    END)"""


@query(
    "fdr_bh_dow_value_events",
    f"""
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
           ROUND(MIN(pval * m / r) OVER (ORDER BY r DESC
                                         ROWS UNBOUNDED PRECEDING), 6)
             AS p_adj,
           CAST(CASE WHEN MIN(pval * m / r) OVER (ORDER BY r DESC
                          ROWS UNBOUNDED PRECEDING) <= 0.05
                THEN 1 ELSE 0 END AS BIGINT) AS reject
    FROM ranked ORDER BY event_type, dow
    """,
)
def fdr_bh_q(spark, sf_dir):
    """Benjamini–Hochberg FDR over the (event_type × day-of-week)
    mean-value grid — the multiple-comparisons correction every
    metrics sweep needs once it tests 35 cells at once: per-cell
    one-sample z vs the pooled mean, two-sided p via the
    Abramowitz–Stegun Φ polynomial (explicit arithmetic, exp() the
    only libm call), then the BH step-up ``p_adj(i) = min_{j≥i}
    p(j)·m/j`` as one running-min window over the p-ranked list.
    Moments are ×1e4 integer-scaled exact sums; the window runs over
    m = 35 rows — single-partition by construction and bounded by the
    test-grid size, never by data volume."""
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
        F.sum("n").alias("gn"), F.sum("s").alias("gs"), F.sum("ss").alias("gss")
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
    wmin = Window.orderBy(F.col("r").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    padj = F.min(F.col("pval") * F.col("m") / F.col("r")).over(wmin)
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


def _silhouette_oracle(dim: int = 64) -> str:
    """DuckDB twin of the simplified silhouette: ×1e6 integer-scaled
    components, centroid means as BIGINT/BIGINT divisions, and the
    per-point squared distance as the SAME explicit left-to-right
    64-term chain the Spark side builds (bit-identical doubles)."""
    d2 = " + ".join(
        f"(CAST(v[{i + 1}] AS DOUBLE) - CAST(c.cent[{i + 1}] AS DOUBLE)"
        f" / c.n) * (CAST(v[{i + 1}] AS DOUBLE)"
        f" - CAST(c.cent[{i + 1}] AS DOUBLE) / c.n)"
        for i in range(dim)
    )
    return f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
               AS v
      FROM embeddings
    ), comp AS (
      SELECT label, i, CAST(SUM(v[i]) AS BIGINT) AS s
      FROM e, range(1, {dim + 1}) t(i)
      GROUP BY label, i
    ), c AS (
      SELECT comp.label, list(s ORDER BY i) AS cent, ANY_VALUE(cnt.n) AS n
      FROM comp
      JOIN (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
            FROM e GROUP BY label) cnt ON cnt.label = comp.label
      GROUP BY comp.label
    ), dist AS (
      SELECT e.vec_id, e.label AS own, c.label AS cl,
             sqrt({d2}) / 1000000 AS d
      FROM e, c
    ), ab AS (
      SELECT vec_id, ANY_VALUE(own) AS label,
             MIN(CASE WHEN cl = own THEN d END) AS a,
             MIN(CASE WHEN cl <> own THEN d END) AS b
      FROM dist GROUP BY vec_id
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(AVG((b - a) / GREATEST(a, b)), 6) AS mean_silhouette,
           ROUND(AVG(a), 6) AS mean_intra,
           ROUND(AVG(b), 6) AS mean_nearest_other
    FROM ab GROUP BY label ORDER BY label
    """


@query("silhouette_labels_embeddings", None)  # oracle attached below
def silhouette_q(spark, sf_dir):
    """Simplified silhouette per label (centroid-based, Hruschka et
    al.): a(i) = distance to the OWN label centroid, b(i) = distance
    to the nearest OTHER centroid, s = (b−a)/max(a,b) — the cluster-
    quality score that says whether the label partition actually
    separates the embedding space (the eval the SemDeDup/IVF
    clustering steps need before anyone trusts their buckets).  The
    full-silhouette's O(n²) pairwise pass collapses to one centroid
    broadcast + a map-only distance chain — the form that survives
    100 TB.  Components integer-scale (×1e6) so centroids are exact;
    distances are identical left-to-right 64-term double chains in
    both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1_000_000).cast("long"),
        ).alias("v"),
    )
    # per-dim chains as single F.expr strings (identical parsed trees,
    # ~100× fewer py4j calls at plan build — see davies_bouldin)
    c = e.groupBy(F.col("label").alias("cl")).agg(
        F.expr(
            "array("
            + ",".join(
                f"CAST(SUM(element_at(v, {i + 1})) AS BIGINT)"
                for i in range(64)
            )
            + ")"
        ).alias("cent"),
        F.count(F.lit(1)).alias("n"),
    )
    _st = (
        "(CAST(element_at(v, {i}) AS DOUBLE)"
        " - CAST(element_at(cent, {i}) AS DOUBLE) / n)"
    )
    d2 = F.expr(
        " + ".join(
            f"({_st.format(i=i + 1)} * {_st.format(i=i + 1)})"
            for i in range(64)
        )
    )
    dist = e.join(F.broadcast(c), F.lit(True)).select(
        "vec_id",
        F.col("label").alias("own"),
        "cl",
        (F.sqrt(d2) / 1_000_000).alias("d"),
    )
    ab = dist.groupBy("vec_id").agg(
        F.any_value("own").alias("label"),
        F.min(F.when(F.col("cl") == F.col("own"), F.col("d"))).alias("a"),
        F.min(F.when(F.col("cl") != F.col("own"), F.col("d"))).alias("b"),
    )
    return (
        ab.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.round(
                F.avg(
                    (F.col("b") - F.col("a"))
                    / F.greatest(F.col("a"), F.col("b"))
                ),
                6,
            ).alias("mean_silhouette"),
            F.round(F.avg("a"), 6).alias("mean_intra"),
            F.round(F.avg("b"), 6).alias("mean_nearest_other"),
        )
        .orderBy("label")
    )


O["silhouette_labels_embeddings"] = _silhouette_oracle()


@query("modularity_lpa_part_supplier", None)  # oracle attached below
def modularity_q(spark, sf_dir):
    """Newman modularity of the 3-round LPA communities on the
    part–supplier shipment graph: ``Q_c = L_c/m − (D_c/2m)²`` per
    community (internal-edge share minus the share a degree-
    preserving random rewiring would give) — the standard "are these
    communities real" score for the LPA output the lpa gate already
    pins.  Everything is integer counts (internal edges, degree
    sums, m) until the final two divisions; the community pass is
    one edge⋈label join + a grouped count — no new graph machinery,
    just the eval on top."""
    from ..operators.components import label_propagation

    li = load_table(spark, sf_dir, "lineitem")
    raw = li.select(
        F.col("l_partkey").cast("bigint").alias("u"),
        (F.col("l_suppkey").cast("bigint") + 10000000).alias("v"),
    ).distinct()
    labels = label_propagation(
        li.select(
            F.col("l_partkey").cast("bigint").alias("u"),
            (F.col("l_suppkey").cast("bigint") + 10000000).alias("v"),
        ),
        iterations=3,
    ).select("id", "label")
    # undirected degree per node over the deduped edge set
    und = raw.select("u", "v").union(
        raw.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    m = raw.agg(F.count(F.lit(1)).alias("m"))
    lab_a = labels.select(F.col("id").alias("u"), F.col("label").alias("cu"))
    lab_b = labels.select(F.col("id").alias("v"), F.col("label").alias("cv"))
    internal = (
        raw.join(lab_a, "u")
        .join(lab_b, "v")
        .filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.count(F.lit(1)).alias("l_c"))
    )
    dsum = (
        deg.join(lab_a, "u")
        .groupBy(F.col("cu").alias("community"))
        .agg(F.sum("deg").alias("d_c"), F.count(F.lit(1)).alias("n_nodes"))
    )
    out = (
        dsum.join(internal, "community", "left")
        .join(F.broadcast(m), F.lit(True))
        .select(
            F.col("community").cast("bigint").alias("community"),
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.coalesce(F.col("l_c"), F.lit(0)).cast("bigint").alias(
                "internal_edges"
            ),
            F.col("d_c").cast("bigint").alias("degree_sum"),
            F.round(
                F.coalesce(F.col("l_c"), F.lit(0)).cast("double")
                / F.col("m")
                - (F.col("d_c").cast("double") / (2 * F.col("m")))
                * (F.col("d_c").cast("double") / (2 * F.col("m"))),
                6,
            ).alias("q_contribution"),
        )
    )
    return out.orderBy(F.col("n_nodes").desc(), F.col("community").asc())


def _modularity_oracle() -> str:
    lpa = _lpa_oracle(3)
    # _lpa_oracle ends with its own SELECT; re-root it as a CTE
    body = lpa.strip()
    assert body.startswith("WITH ")
    head, tail = body.rsplit("SELECT id AS node, label", 1)
    return f"""
    {head} , labs AS (
      SELECT id AS node, label {tail}
    ), und AS (
      SELECT u, v FROM raw UNION ALL SELECT v, u FROM raw
    ), deg AS (
      SELECT u, COUNT(*) AS deg FROM und GROUP BY u
    ), mm AS (
      SELECT COUNT(*) AS m FROM raw
    ), internal AS (
      SELECT la.label AS community, COUNT(*) AS l_c
      FROM raw
      JOIN labs la ON la.node = raw.u
      JOIN labs lb ON lb.node = raw.v
      WHERE la.label = lb.label
      GROUP BY la.label
    ), dsum AS (
      SELECT la.label AS community, SUM(deg.deg) AS d_c,
             COUNT(*) AS n_nodes
      FROM deg JOIN labs la ON la.node = deg.u
      GROUP BY la.label
    )
    SELECT CAST(dsum.community AS BIGINT) AS community,
           CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(COALESCE(l_c, 0) AS BIGINT) AS internal_edges,
           CAST(d_c AS BIGINT) AS degree_sum,
           ROUND(CAST(COALESCE(l_c, 0) AS DOUBLE) / m
                 - (CAST(d_c AS DOUBLE) / (2 * m))
                 * (CAST(d_c AS DOUBLE) / (2 * m)), 6) AS q_contribution
    FROM dsum LEFT JOIN internal USING (community), mm
    ORDER BY n_nodes DESC, community ASC
    """


O["modularity_lpa_part_supplier"] = _modularity_oracle()


@query(
    "mutual_info_lang_source_docs",
    """
    WITH cells AS (
      SELECT lang, source, COUNT(*) AS n
      FROM documents GROUP BY lang, source
    ), tot AS (
      SELECT SUM(n) AS nn FROM cells
    ), ml AS (
      SELECT lang, SUM(n) AS nl FROM cells GROUP BY lang
    ), ms AS (
      SELECT source, SUM(n) AS ns FROM cells GROUP BY source
    )
    SELECT c.lang, c.source, CAST(c.n AS BIGINT) AS n,
           ROUND(ln((CAST(c.n AS DOUBLE) * nn) / (CAST(nl AS DOUBLE) * ns)),
                 6) AS pmi,
           ROUND(SUM((CAST(c.n AS DOUBLE) / nn)
                     * ln((CAST(c.n AS DOUBLE) * nn)
                          / (CAST(nl AS DOUBLE) * ns))) OVER (), 6)
             AS mi_nats
    FROM cells c JOIN ml USING (lang) JOIN ms USING (source), tot
    ORDER BY lang, source
    """,
)
def mutual_info_q(spark, sf_dir):
    """Mutual information between the lang and source columns — the
    "is language confounded with corpus slice" screen a sampling plan
    needs before per-source caps silently skew the language mix.
    Per-cell pointwise MI plus the corpus MI (Σ p(l,s)·pmi) repeated
    per row via an all-rows window — the window runs over the
    langs×sources grid (bounded by cardinality product, never data
    volume).  Counts are exact integers; ln on identical rationals is
    the established parity."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    tot = cells.agg(F.sum("n").alias("nn"))
    ml = cells.groupBy("lang").agg(F.sum("n").alias("nl"))
    ms = cells.groupBy("source").agg(F.sum("n").alias("ns"))
    j = (
        cells.join(F.broadcast(ml), "lang")
        .join(F.broadcast(ms), "source")
        .join(F.broadcast(tot), F.lit(True))
    )
    pmi = F.log(
        (F.col("n").cast("double") * F.col("nn"))
        / (F.col("nl").cast("double") * F.col("ns"))
    )
    return j.select(
        "lang",
        "source",
        F.col("n").cast("bigint").alias("n"),
        F.round(pmi, 6).alias("pmi"),
        F.round(
            F.sum((F.col("n").cast("double") / F.col("nn")) * pmi).over(
                Window.partitionBy()
            ),
            6,
        ).alias("mi_nats"),
    ).orderBy("lang", "source")


@query(
    "kmv_distinct_users_events",
    """
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS hv
      FROM events
    ), ranked AS (
      SELECT event_type, hv,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY hv ASC) AS r,
             COUNT(*) OVER (PARTITION BY event_type) AS n_exact
      FROM h
    )
    SELECT event_type, CAST(n_exact AS BIGINT) AS n_exact,
           CAST(LEAST(n_exact, 64) AS BIGINT) AS k,
           CAST(hv AS BIGINT) AS kth_hash,
           ROUND(CASE WHEN n_exact <= 64 THEN CAST(n_exact AS DOUBLE)
                 ELSE (64 - 1)
                      / (CAST(hv AS DOUBLE) / 1152921504606846976) END, 6)
             AS kmv_estimate
    FROM ranked WHERE r = LEAST(n_exact, 64)
    ORDER BY event_type
    """,
)
def kmv_q(spark, sf_dir):
    """KMV / bottom-k distinct sketch per event type (Bar-Yossef et
    al. 2002): keep the k = 64 smallest 60-bit hashes of the key;
    the k-th smallest normalized to [0,1) estimates density, so
    ``D̂ = (k−1)/(h_k/2^60)`` — the DETERMINISTIC distinct sketch
    (HLL's register race has no exact twin; KMV's bottom-k is a pure
    order statistic, so the oracle reproduces it bit-for-bit).
    Mergeable: union bottom-k sets, re-take the bottom k — same
    shape as the HLL/CMS merge family.  Under k distincts the sketch
    IS the exact set.  The rank window runs on the hash-distinct
    frame; at 100 TB the bottom-k folds per-partition first (each
    partition's candidates cap at k) — the window form is the gate's
    exactness luxury."""
    e = load_table(spark, sf_dir, "events")
    h = e.select(
        "event_type",
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias("hv"),
    ).distinct()
    wt = Window.partitionBy("event_type")
    ranked = h.select(
        "event_type",
        "hv",
        F.row_number().over(wt.orderBy(F.col("hv").asc())).alias("r"),
        F.count(F.lit(1)).over(wt).alias("n_exact"),
    )
    kk = F.least(F.col("n_exact"), F.lit(64))
    return (
        ranked.filter(F.col("r") == kk)
        .select(
            "event_type",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            kk.cast("bigint").alias("k"),
            F.col("hv").cast("bigint").alias("kth_hash"),
            F.round(
                F.when(
                    F.col("n_exact") <= 64, F.col("n_exact").cast("double")
                ).otherwise(
                    F.lit(63.0)
                    / (F.col("hv").cast("double") / F.lit(2.0**60))
                ),
                6,
            ).alias("kmv_estimate"),
        )
        .orderBy("event_type")
    )


def _lof_oracle(dim: int = 64, k: int = 10, topn: int = 20) -> str:
    """DuckDB twin of the brute-force LOF: exact ×1e6-integer squared
    L2 (BIGINT term chain — order-free), rank-k neighborhoods with
    (d², id) tie-break, reach-dist/lrd/LOF per the textbook."""
    d2 = " + ".join(
        f"(a.v[{i + 1}] - b.v[{i + 1}]) * (a.v[{i + 1}] - b.v[{i + 1}])"
        for i in range(dim)
    )
    return f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
               AS v
      FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb,
             sqrt(CAST({d2} AS DOUBLE)) / 1000000 AS d
      FROM e a JOIN e b ON a.vec_id <> b.vec_id
    ), nk AS (
      SELECT ida, idb, d FROM (
        SELECT ida, idb, d,
               ROW_NUMBER() OVER (PARTITION BY ida
                                  ORDER BY d ASC, idb ASC) AS r
        FROM pairs
      ) WHERE r <= {k}
    ), kd AS (
      SELECT ida AS id, MAX(d) AS kdist FROM nk GROUP BY ida
    ), lrd AS (
      SELECT nk.ida AS id,
             {k}.0 / SUM(GREATEST(kd.kdist, nk.d)) AS lrd
      FROM nk JOIN kd ON kd.id = nk.idb
      GROUP BY nk.ida
    ), lof AS (
      SELECT nk.ida AS id, AVG(lb.lrd / la.lrd) AS lof
      FROM nk
      JOIN lrd la ON la.id = nk.ida
      JOIN lrd lb ON lb.id = nk.idb
      GROUP BY nk.ida
    )
    SELECT CAST(lof.id AS BIGINT) AS vec_id, e.label,
           ROUND(kd.kdist, 6) AS kdist,
           ROUND(lrd.lrd, 6) AS lrd,
           ROUND(lof.lof, 6) AS lof
    FROM lof
    JOIN kd ON kd.id = lof.id
    JOIN lrd ON lrd.id = lof.id
    JOIN e ON e.vec_id = lof.id
    ORDER BY lof.lof DESC, vec_id ASC LIMIT {topn}
    """


@query("lof_outliers_embeddings", None)  # oracle attached below
def lof_q(spark, sf_dir):
    """Local outlier factor (Breunig et al., SIGMOD 2000), k = 10,
    top-20 outliers: density-RELATIVE anomaly scoring — a point is
    outlying if its neighborhood is sparser than its neighbors'
    neighborhoods, which catches the cluster-edge cases a global
    distance cutoff misses.  k-distance with (d, id) tie-break,
    reach-dist = max(kdist(b), d(a,b)), lrd = k/Σreach, LOF = mean
    lrd ratio — the full textbook chain, every distance an exact
    ×1e6-integer L2 before one sqrt.  The kNN pass is
    similarity.knn_exact — a broadcast corpus matrix + per-partition
    BLAS blocks (exact: integer-valued float64 throughout), ~5×
    faster than the JVM per-pair expression chain and shuffle-free;
    the oracle replays it as the O(n²) SQL self-join it is
    semantically.  The 100 TB path generates candidates from the IVF
    cluster neighborhoods and reranks — same downstream chain,
    bounded pair mass."""
    from ..operators.similarity import knn_exact

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1_000_000).cast("long"),
        ).alias("v"),
    )
    # nk feeds kd, lrd AND both lof sides; lrd feeds lof twice plus the
    # report join — without lineage cuts every consumer re-runs the
    # whole knn_exact Arrow-kernel pass (the before-plan held 18
    # parquet scans, plans/r11/lof_outliers_embeddings_before.txt).
    nk = checkpoint(
        knn_exact(emb, "vec_id", "embedding", k=10).select(
            "ida",
            "idb",
            (F.sqrt(F.col("d2").cast("double")) / 1_000_000).alias("d"),
        )
    )
    kd = nk.groupBy(F.col("ida").alias("id")).agg(F.max("d").alias("kdist"))
    lrd = checkpoint(
        nk.join(kd.select(F.col("id").alias("idb"), "kdist"), "idb")
        .groupBy(F.col("ida").alias("id"))
        .agg(
            (
                F.lit(10.0) / F.sum(F.greatest(F.col("kdist"), F.col("d")))
            ).alias("lrd")
        )
    )
    lof = (
        nk.join(lrd.select(F.col("id").alias("ida"), F.col("lrd").alias("lrd_a")), "ida")
        .join(lrd.select(F.col("id").alias("idb"), F.col("lrd").alias("lrd_b")), "idb")
        .groupBy(F.col("ida").alias("id"))
        .agg(F.avg(F.col("lrd_b") / F.col("lrd_a")).alias("lof"))
    )
    return (
        lof.join(kd, "id")
        .join(lrd, "id")
        .join(e.select(F.col("vec_id").alias("id"), "label"), "id")
        .select(
            F.col("id").cast("bigint").alias("vec_id"),
            "label",
            F.round("kdist", 6).alias("kdist"),
            F.round("lrd", 6).alias("lrd"),
            F.round("lof", 6).alias("lof"),
        )
        .orderBy(F.col("lof").desc(), F.col("vec_id").asc())
        .limit(20)
    )


O["lof_outliers_embeddings"] = _lof_oracle()


@query(
    "naive_bayes_langid_docs",
    """
    WITH cl AS (
      SELECT doc_id, lang,
             regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS clean
      FROM documents
    ), train_g AS (
      SELECT lang, unnest(list_transform(range(1, len(clean)),
                                         i -> substr(clean, i, 2))) AS g
      FROM cl WHERE doc_id % 2 = 0 AND len(clean) >= 2
    ), tc AS (
      SELECT g, lang, COUNT(*) AS c FROM train_g GROUP BY g, lang
    ), ls AS (
      SELECT lang, SUM(c) AS tok FROM tc GROUP BY lang
    ), pri AS (
      SELECT lang, COUNT(*) AS nd FROM cl WHERE doc_id % 2 = 0
      GROUP BY lang
    ), gl AS (
      SELECT (SELECT COUNT(DISTINCT g) FROM tc) AS vocab,
             (SELECT COUNT(*) FROM cl WHERE doc_id % 2 = 0) AS ntr
    ), test_g AS (
      SELECT doc_id, unnest(list_transform(range(1, len(clean)),
                                           i -> substr(clean, i, 2))) AS g
      FROM cl WHERE doc_id % 2 = 1 AND len(clean) >= 2
    ), tg AS (
      SELECT doc_id, g, COUNT(*) AS cnt FROM test_g GROUP BY doc_id, g
    ), dt AS (
      SELECT c.doc_id, c.lang AS actual,
             COALESCE((SELECT SUM(cnt) FROM tg WHERE tg.doc_id = c.doc_id),
                      0) AS t
      FROM cl c WHERE c.doc_id % 2 = 1
    ), matched AS (
      SELECT tg.doc_id, tc.lang,
             SUM(tg.cnt * ln((tc.c + 1.0) / (ls.tok + gl.vocab))) AS sm,
             SUM(tg.cnt) AS mc
      FROM tg JOIN tc USING (g) JOIN ls USING (lang), gl
      GROUP BY tg.doc_id, tc.lang
    ), scores AS (
      SELECT dt.doc_id, dt.actual, ls.lang,
             ln(CAST(pri.nd AS DOUBLE) / gl.ntr)
             + COALESCE(m.sm, 0)
             + (dt.t - COALESCE(m.mc, 0))
               * ln(1.0 / (ls.tok + gl.vocab)) AS score
      FROM dt
      CROSS JOIN ls
      JOIN pri ON pri.lang = ls.lang
      LEFT JOIN matched m ON m.doc_id = dt.doc_id AND m.lang = ls.lang,
      gl
    ), pred AS (
      SELECT doc_id, actual, lang AS predicted FROM (
        SELECT doc_id, actual, lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang ASC) AS rn
        FROM scores
      ) WHERE rn = 1
    )
    SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY actual, predicted ORDER BY actual, predicted
    """,
)
def naive_bayes_q(spark, sf_dir):
    """Multinomial naive Bayes language ID trained INSIDE the query:
    even doc_ids train (char-bigram counts per lang, Laplace-
    smoothed), odd doc_ids score, output is the actual×predicted
    confusion matrix — the whole train/predict loop as one dataflow,
    the pattern a 100 TB pipeline uses to fit cheap per-slice
    classifiers without leaving the engine.  The unseen-gram mass is
    folded algebraically — score = ln prior + Σ_matched cnt·ln p̂ +
    (T − matched)·ln(1/(tok+V)) — so the join only carries grams the
    lang HAS seen (≤ 1296 bigrams/lang, broadcastable), never the
    doc×vocab cross.  Counts are exact integers; ln on identical
    rationals is the established parity; argmax ties break (score
    DESC, lang ASC)."""
    d = load_table(spark, sf_dir, "documents")
    cl = d.select(
        "doc_id",
        "lang",
        F.regexp_replace(F.lower("text"), "[^a-z0-9]", "").alias("clean"),
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.length("clean") - 1),
        lambda i: F.col("clean").substr(i, F.lit(2)),
    )
    train_g = (
        cl.filter((F.col("doc_id") % 2 == 0) & (F.length("clean") >= 2))
        .select("lang", F.explode(grams).alias("g"))
    )
    # tc feeds ls, gl AND the matched join; tg feeds dt AND matched —
    # without lineage cuts each consumer re-runs the bigram explode +
    # count (the before-plan held 22 parquet scans).
    tc = checkpoint(
        train_g.groupBy("g", "lang").agg(
            F.count(F.lit(1)).alias("c")
        )
    )
    ls = tc.groupBy("lang").agg(F.sum("c").alias("tok"))
    tr = cl.filter(F.col("doc_id") % 2 == 0)
    pri = tr.groupBy("lang").agg(F.count(F.lit(1)).alias("nd"))
    gl = tc.select("g").distinct().agg(F.count(F.lit(1)).alias("vocab"))
    gl = gl.join(tr.agg(F.count(F.lit(1)).alias("ntr")), F.lit(True))
    test_g = (
        cl.filter((F.col("doc_id") % 2 == 1) & (F.length("clean") >= 2))
        .select("doc_id", F.explode(grams).alias("g"))
    )
    tg = checkpoint(
        test_g.groupBy("doc_id", "g").agg(
            F.count(F.lit(1)).alias("cnt")
        )
    )
    dt = (
        cl.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", F.col("lang").alias("actual"))
        .join(
            tg.groupBy("doc_id").agg(F.sum("cnt").alias("t")),
            "doc_id",
            "left",
        )
        .fillna({"t": 0})
    )
    matched = (
        tg.join(F.broadcast(tc), "g")
        .join(F.broadcast(ls), "lang")
        .join(F.broadcast(gl), F.lit(True))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(
                F.col("cnt")
                * F.log(
                    (F.col("c") + 1.0) / (F.col("tok") + F.col("vocab"))
                )
            ).alias("sm"),
            F.sum("cnt").alias("mc"),
        )
    )
    scores = (
        dt.join(F.broadcast(ls), F.lit(True))
        .join(F.broadcast(pri), "lang")
        .join(F.broadcast(gl), F.lit(True))
        .join(
            matched,
            ["doc_id", "lang"],
            "left",
        )
        .select(
            "doc_id",
            "actual",
            "lang",
            (
                F.log(F.col("nd").cast("double") / F.col("ntr"))
                + F.coalesce(F.col("sm"), F.lit(0.0))
                + (F.col("t") - F.coalesce(F.col("mc"), F.lit(0)))
                * F.log(F.lit(1.0) / (F.col("tok") + F.col("vocab")))
            ).alias("score"),
        )
    )
    wp = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang").asc()
    )
    pred = (
        scores.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("actual", F.col("lang").alias("predicted"))
    )
    return (
        pred.groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("actual", "predicted")
    )


@query(
    "backtest_ses_daily_events",
    """
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             ROUND(SUM(value), 4) AS x
      FROM events GROUP BY 1, 2
    ), num AS (
      SELECT event_type, day, x,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY day) AS rn
      FROM daily
    ), ses AS (
      SELECT event_type, rn, x, x AS s FROM num WHERE rn = 1
      UNION ALL
      SELECT n.event_type, n.rn, n.x, 0.5 * n.x + 0.5 * h.s
      FROM num n JOIN ses h
        ON n.event_type = h.event_type AND n.rn = h.rn + 1
    ), fc AS (
      SELECT n.event_type, n.x AS y, h.s AS f_ses, hx.x AS f_naive
      FROM num n
      JOIN ses h ON h.event_type = n.event_type AND h.rn = n.rn - 1
      JOIN num hx ON hx.event_type = n.event_type AND hx.rn = n.rn - 1
      WHERE n.rn > 5
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_forecasts,
           ROUND(AVG(ABS(y - f_ses)), 6) AS mae_ses,
           ROUND(AVG(ABS(y - f_naive)), 6) AS mae_naive,
           ROUND(AVG(ABS(y - f_ses) / ABS(y)), 6) AS mape_ses,
           ROUND(AVG(ABS(y - f_naive) / ABS(y)), 6) AS mape_naive
    FROM fc GROUP BY event_type ORDER BY event_type
    """,
)
def backtest_ses_q(spark, sf_dir):
    """Rolling-origin one-step backtest of SES (α = 1/2) against the
    naive last-value forecast — the eval that decides whether a
    smoother EARNS its place before anyone alarms on its forecasts.
    The SES recurrence yields every prefix state in ONE pass, so the
    full backtest costs exactly one smoothing walk: forecast for day
    t is the state after day t−1; score MAE/MAPE over t > 5 (burn-
    in).  α = 1/2 keeps every smoothing step a dyadic fp op — the
    Holt-gate trick — so states match the recursive-CTE oracle
    bit-for-bit; only the error means are rounded."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value"), 4).alias("x")
    )

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        s = None
        states = []
        for x in pdf["x"]:
            s = x if s is None else 0.5 * x + 0.5 * s
            states.append(s)
        pdf["s"] = states
        pdf["f_ses"] = pdf["s"].shift(1)
        pdf["f_naive"] = pdf["x"].shift(1)
        pdf["rn"] = range(1, len(pdf) + 1)
        out = pdf[pdf["rn"] > 5]
        return out[["event_type", "x", "f_ses", "f_naive"]].rename(
            columns={"x": "y"}
        )

    fc = daily.groupBy("event_type").applyInPandas(
        walk,
        "event_type string, y double, f_ses double, f_naive double",
    )
    return (
        fc.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_forecasts"),
            F.round(F.avg(F.abs(F.col("y") - F.col("f_ses"))), 6).alias(
                "mae_ses"
            ),
            F.round(F.avg(F.abs(F.col("y") - F.col("f_naive"))), 6).alias(
                "mae_naive"
            ),
            F.round(
                F.avg(F.abs(F.col("y") - F.col("f_ses")) / F.abs("y")), 6
            ).alias("mape_ses"),
            F.round(
                F.avg(F.abs(F.col("y") - F.col("f_naive")) / F.abs("y")), 6
            ).alias("mape_naive"),
        )
        .orderBy("event_type")
    )


@query(
    "split_leakage_winnow_docs",
    f"""
    WITH {{WINNOW_FP}},
    d AS (SELECT DISTINCT doc_id, fp_hash FROM fp),
    kept AS (
      SELECT fp_hash FROM d GROUP BY fp_hash HAVING COUNT(*) <= 50
    ),
    dk AS (SELECT d.doc_id, d.fp_hash FROM d JOIN kept USING (fp_hash)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_fp FROM dk GROUP BY doc_id),
    sh AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM dk a JOIN dk b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b FROM sh
      JOIN sizes na ON na.doc_id = id_a
      JOIN sizes nb ON nb.doc_id = id_b
      WHERE shared / CAST(LEAST(na.n_fp, nb.n_fp) AS DOUBLE) >= 0.4
    ),
    split AS (
      SELECT doc_id,
             CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                           1, 15) AS BIGINT) % 10 < 8
                  THEN 'train' ELSE 'val' END AS sp
      FROM documents
    ),
    tagged AS (
      SELECT LEAST(sa.sp, sb.sp) AS split_a,
             GREATEST(sa.sp, sb.sp) AS split_b,
             CASE WHEN sa.sp <> sb.sp THEN
               CASE WHEN sa.sp = 'val' THEN p.id_a ELSE p.id_b END
             END AS leaked_val_doc
      FROM pairs p
      JOIN split sa ON sa.doc_id = p.id_a
      JOIN split sb ON sb.doc_id = p.id_b
    )
    SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT leaked_val_doc) AS BIGINT)
             AS n_leaked_val_docs
    FROM tagged GROUP BY split_a, split_b ORDER BY split_a, split_b
    """,
)
def split_leakage_q(spark, sf_dir):
    """Train/val near-dup leakage audit: assign the md5-contract 80/20
    split, then count winnowing near-dup pairs (τ = 0.4, max_df = 50)
    WITHIN and ACROSS splits — the check that catches eval
    contamination the leakage-safe splitter exists to prevent (a
    random split of a near-dup-ridden corpus leaks; this measures how
    much).  Reports pair counts per split combination and the number
    of distinct val docs with a train near-dup (the docs whose eval
    loss is memorization).  Pair generation is the bounded winnowing
    postings join; the split tag is a map-side md5."""
    from ..operators.dedup import winnow_near_dup_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = winnow_near_dup_pairs(
        d, "doc_id", "text", k=5, window=4, threshold=0.4, max_df=50
    ).select("id_a", "id_b")
    split = d.select(
        "doc_id",
        F.when(
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("long")
            % 10
            < 8,
            F.lit("train"),
        )
        .otherwise(F.lit("val"))
        .alias("sp"),
    )
    sa = split.select(F.col("doc_id").alias("id_a"), F.col("sp").alias("spa"))
    sb = split.select(F.col("doc_id").alias("id_b"), F.col("sp").alias("spb"))
    tagged = (
        pairs.join(sa.hint("merge"), "id_a")
        .join(sb.hint("merge"), "id_b")
        .select(
            F.least("spa", "spb").alias("split_a"),
            F.greatest("spa", "spb").alias("split_b"),
            F.when(
                F.col("spa") != F.col("spb"),
                F.when(F.col("spa") == "val", F.col("id_a")).otherwise(
                    F.col("id_b")
                ),
            ).alias("leaked_val_doc"),
        )
    )
    return (
        tagged.groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.countDistinct("leaked_val_doc")
            .cast("bigint")
            .alias("n_leaked_val_docs"),
        )
        .orderBy("split_a", "split_b")
    )


O["split_leakage_winnow_docs"] = O["split_leakage_winnow_docs"].replace(
    "{WINNOW_FP}", _winnow_fp_sql()
)


@query(
    "xcorr_leadlag_events",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS xa,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS xb
      FROM events GROUP BY CAST(ts AS DATE)
    ), idx AS (
      SELECT xa, xb, ROW_NUMBER() OVER (ORDER BY d) AS t FROM daily
    ), st AS (
      SELECT COUNT(*) AS n, SUM(xa) AS sa, SUM(xb) AS sb,
             SUM(xa * xa) AS saa, SUM(xb * xb) AS sbb
      FROM idx
    ), terms AS (
      SELECT l.lag, SUM(a.xa * b.xb) AS sab,
             SUM(a.xa) AS s1, SUM(b.xb) AS s2, COUNT(*) AS np
      FROM idx a
      JOIN (SELECT unnest(range(-3, 4)) AS lag) l ON TRUE
      JOIN idx b ON b.t = a.t + l.lag
      GROUP BY l.lag
    )
    SELECT CAST(t.lag AS BIGINT) AS lag,
           CAST(t.np AS BIGINT) AS n_overlap,
           ROUND((t.sab - (CAST(s.sa AS DOUBLE) / s.n) * t.s2
                        - (CAST(s.sb AS DOUBLE) / s.n) * t.s1
                        + t.np * (CAST(s.sa AS DOUBLE) / s.n)
                               * (CAST(s.sb AS DOUBLE) / s.n))
                 / (sqrt(s.saa - s.n * (CAST(s.sa AS DOUBLE) / s.n)
                                     * (CAST(s.sa AS DOUBLE) / s.n))
                    * sqrt(s.sbb - s.n * (CAST(s.sb AS DOUBLE) / s.n)
                                       * (CAST(s.sb AS DOUBLE) / s.n))),
                 6) AS xcorr
    FROM terms t, st s ORDER BY lag
    """,
)
def xcorr_q(spark, sf_dir):
    """Lead–lag cross-correlation between the click and purchase
    daily-count series at lags −3…+3 — does activity in one channel
    LEAD conversions (positive-lag peak) or trail them?  The cross-
    series sibling of the ACF gate, same integer-sum expansion
    (Σx·y, marginal sums over the overlap, global moments) so every
    double op runs on exact integers in both engines; the lag join
    runs on the ≤ days-sized daily frame."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("xa"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("xb"),
    )
    idx = daily.select(
        "xa", "xb", F.row_number().over(Window.orderBy("d")).alias("t")
    )
    st = idx.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xa").alias("sa"),
        F.sum("xb").alias("sb"),
        F.sum(F.col("xa") * F.col("xa")).alias("saa"),
        F.sum(F.col("xb") * F.col("xb")).alias("sbb"),
    )
    lags = spark.range(-3, 4).select(F.col("id").alias("lag"))
    a, b = idx.alias("a"), idx.alias("b")
    terms = (
        a.join(F.broadcast(lags), F.lit(True))
        .join(b, F.col("b.t") == F.col("a.t") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.sum(F.col("a.xa") * F.col("b.xb")).alias("sab"),
            F.sum("a.xa").alias("s1"),
            F.sum("b.xb").alias("s2"),
            F.count(F.lit(1)).alias("np"),
        )
    )
    ma = F.col("sa").cast("double") / F.col("n")
    mb = F.col("sb").cast("double") / F.col("n")
    return (
        terms.join(F.broadcast(st), F.lit(True))
        .select(
            F.col("lag").cast("bigint").alias("lag"),
            F.col("np").cast("bigint").alias("n_overlap"),
            F.round(
                (
                    F.col("sab")
                    - ma * F.col("s2")
                    - mb * F.col("s1")
                    + F.col("np") * ma * mb
                )
                / (
                    F.sqrt(F.col("saa") - F.col("n") * ma * ma)
                    * F.sqrt(F.col("sbb") - F.col("n") * mb * mb)
                ),
                6,
            ).alias("xcorr"),
        )
        .orderBy("lag")
    )


@query(
    "isotonic_calibration_events",
    """
    WITH per_user AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1
                               ELSE 0 END) >= 15 THEN 1 ELSE 0 END AS y
      FROM events GROUP BY user_id
    ), rng AS (
      SELECT MIN(x) AS lo, MAX(x) AS hi FROM per_user
    ), binned AS (
      SELECT LEAST(CAST(floor((x - lo) * 12.0 / (hi - lo + 1))
                         AS INTEGER), 11) AS bin,
             y
      FROM per_user, rng
    ), bins AS (
      SELECT bin, COUNT(*) AS w, SUM(y) AS g FROM binned GROUP BY bin
    ), cum AS (
      SELECT bin, w, g,
             SUM(w) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(g) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cg
      FROM bins
    ), grid AS (
      SELECT j.bin AS bin, i.bin AS i, k.bin AS k,
             CAST(k.cg - (i.cg - i.g) AS DOUBLE)
               / (k.cw - (i.cw - i.w)) AS seg_avg
      FROM cum j
      JOIN cum i ON i.bin <= j.bin
      JOIN cum k ON k.bin >= j.bin
    ), fit AS (
      SELECT bin, MAX(mn) AS iso FROM (
        SELECT bin, i, MIN(seg_avg) AS mn FROM grid GROUP BY bin, i
      ) GROUP BY bin
    )
    SELECT c.bin AS bin, CAST(c.w AS BIGINT) AS n_users,
           ROUND(CAST(c.g AS DOUBLE) / c.w, 6) AS raw_rate,
           ROUND(f.iso, 6) AS isotonic_rate
    FROM cum c JOIN fit f ON f.bin = c.bin ORDER BY bin
    """,
)
def isotonic_q(spark, sf_dir):
    """Isotonic calibration of P(heavy purchaser | click-activity
    bin) via the PAV MINIMAX identity ``ŷ_j = max_{i≤j} min_{k≥j}
    avg(i..k)`` — pool-adjacent-violators without the sequential
    pooling loop: over B = 12 bounded bins the i×k segment grid is
    144 cells of weighted averages from two cumsums, exact integers
    until the division, so both engines agree bit-for-bit.  The
    monotone fit is what a score→probability mapping must be before
    thresholding; raw-vs-isotonic shows exactly where the empirical
    curve violates monotonicity.  Bins are data-bounded (the grid is
    B³ ≤ 1728 rows); the per-user pass is one hash agg."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("x"),
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 15,
            1,
        )
        .otherwise(0)
        .alias("y"),
    )
    rng = per_user.agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    binned = per_user.join(F.broadcast(rng), F.lit(True)).select(
        F.least(
            F.floor(
                (F.col("x") - F.col("lo"))
                * 12.0
                / (F.col("hi") - F.col("lo") + 1)
            ).cast("int"),
            F.lit(11),
        ).alias("bin"),
        "y",
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("w"), F.sum("y").alias("g")
    )
    wc = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = bins.select(
        "bin",
        "w",
        "g",
        F.sum("w").over(wc).alias("cw"),
        F.sum("g").over(wc).alias("cg"),
    )
    j, i, k = cum.alias("j"), cum.alias("i"), cum.alias("k")
    grid = (
        j.join(i, F.col("i.bin") <= F.col("j.bin"))
        .join(k, F.col("k.bin") >= F.col("j.bin"))
        .select(
            F.col("j.bin").alias("bin"),
            F.col("i.bin").alias("i"),
            (
                (F.col("k.cg") - (F.col("i.cg") - F.col("i.g"))).cast(
                    "double"
                )
                / (F.col("k.cw") - (F.col("i.cw") - F.col("i.w")))
            ).alias("seg_avg"),
        )
    )
    fit = (
        grid.groupBy("bin", "i")
        .agg(F.min("seg_avg").alias("mn"))
        .groupBy("bin")
        .agg(F.max("mn").alias("iso"))
    )
    return (
        cum.join(fit, "bin")
        .select(
            "bin",
            F.col("w").cast("bigint").alias("n_users"),
            F.round(F.col("g").cast("double") / F.col("w"), 6).alias(
                "raw_rate"
            ),
            F.round("iso", 6).alias("isotonic_rate"),
        )
        .orderBy("bin")
    )


@query(
    "segmented_trend_daily_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS ys
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), idx AS (
      SELECT event_type, ys,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
               AS t,
             COUNT(*) OVER (PARTITION BY event_type) AS tn,
             SUM(ys) OVER (PARTITION BY event_type ORDER BY d
                           ROWS UNBOUNDED PRECEDING) AS cys,
             SUM(ys) OVER (PARTITION BY event_type) AS stot
      FROM daily
    ), brk AS (
      SELECT event_type, t AS b FROM (
        SELECT event_type, t,
               t * POWER(CAST(cys AS DOUBLE) / t / 10000
                         - CAST(stot AS DOUBLE) / tn / 10000, 2)
                 + (tn - t)
                 * POWER(CAST(stot - cys AS DOUBLE) / (tn - t) / 10000
                         - CAST(stot AS DOUBLE) / tn / 10000, 2) AS sc,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY t * POWER(CAST(cys AS DOUBLE)
                                        / t / 10000
                                        - CAST(stot AS DOUBLE) / tn
                                        / 10000, 2)
                                      + (tn - t)
                                      * POWER(CAST(stot - cys AS DOUBLE)
                                        / (tn - t) / 10000
                                        - CAST(stot AS DOUBLE) / tn
                                        / 10000, 2) DESC, t ASC) AS rn
        FROM idx WHERE t < tn
      ) WHERE rn = 1
    ), seg AS (
      SELECT i.event_type,
             CASE WHEN i.t <= brk.b THEN 0 ELSE 1 END AS seg,
             i.t, i.ys
      FROM idx i JOIN brk ON brk.event_type = i.event_type
    ), ols AS (
      SELECT event_type, seg, COUNT(*) AS n,
             SUM(t) AS st, SUM(t * t) AS stt,
             SUM(ys) AS sy, SUM(t * ys) AS sty
      FROM seg GROUP BY event_type, seg
    )
    SELECT o.event_type, CAST(o.seg AS BIGINT) AS segment,
           CAST(o.n AS BIGINT) AS n_days,
           CAST(brk.b AS BIGINT) AS break_t,
           ROUND((CAST(o.sty AS DOUBLE) - CAST(o.st AS DOUBLE) * o.sy / o.n)
                 / (CAST(o.stt AS DOUBLE) - CAST(o.st AS DOUBLE) * o.st
                    / o.n) / 10000, 6) AS slope,
           ROUND((CAST(o.sy AS DOUBLE) / o.n
                  - (CAST(o.sty AS DOUBLE) - CAST(o.st AS DOUBLE) * o.sy
                     / o.n)
                    / (CAST(o.stt AS DOUBLE) - CAST(o.st AS DOUBLE) * o.st
                       / o.n)
                    * (CAST(o.st AS DOUBLE) / o.n)) / 10000, 6)
             AS intercept
    FROM ols o JOIN brk ON brk.event_type = o.event_type
    ORDER BY o.event_type, segment
    """,
)
def segmented_trend_q(spark, sf_dir):
    """Piecewise-linear (segmented) regression: re-detect each type's
    best mean-shift break (the changepoint gate's prefix-sum score),
    then fit exact OLS on each side — slope/intercept per segment,
    the "did the TREND change or just the level" follow-up a
    structural-break alarm needs.  All regression moments are ×1e4
    integer sums (order-free); the break argmax and both fits come
    from the same bounded per-type daily frame."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 10000).cast("bigint")).alias("ys")
    )
    wt = Window.partitionBy("event_type")
    wo = wt.orderBy("d")
    idx = daily.select(
        "event_type",
        "ys",
        F.row_number().over(wo).alias("t"),
        F.count(F.lit(1)).over(wt).alias("tn"),
        F.sum("ys")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cys"),
        F.sum("ys").over(wt).alias("stot"),
    )
    mu = F.col("stot").cast("double") / F.col("tn") / 10000
    ml = F.col("cys").cast("double") / F.col("t") / 10000
    mr = (
        (F.col("stot") - F.col("cys")).cast("double")
        / (F.col("tn") - F.col("t"))
        / 10000
    )
    sc = F.col("t") * F.pow(ml - mu, F.lit(2)) + (
        F.col("tn") - F.col("t")
    ) * F.pow(mr - mu, F.lit(2))
    wr = Window.partitionBy("event_type").orderBy(
        sc.desc(), F.col("t").asc()
    )
    brk = (
        idx.filter(F.col("t") < F.col("tn"))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("t").alias("b"))
    )
    seg = idx.join(F.broadcast(brk), "event_type").select(
        "event_type",
        F.when(F.col("t") <= F.col("b"), 0).otherwise(1).alias("seg"),
        "t",
        "ys",
    )
    ols = seg.groupBy("event_type", "seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum("ys").alias("sy"),
        F.sum(F.col("t") * F.col("ys")).alias("sty"),
    )
    slope_raw = (
        F.col("sty").cast("double")
        - F.col("st").cast("double") * F.col("sy") / F.col("n")
    ) / (
        F.col("stt").cast("double")
        - F.col("st").cast("double") * F.col("st") / F.col("n")
    )
    return (
        ols.join(F.broadcast(brk), "event_type")
        .select(
            "event_type",
            F.col("seg").cast("bigint").alias("segment"),
            F.col("n").cast("bigint").alias("n_days"),
            F.col("b").cast("bigint").alias("break_t"),
            F.round(slope_raw / 10000, 6).alias("slope"),
            F.round(
                (
                    F.col("sy").cast("double") / F.col("n")
                    - slope_raw * (F.col("st").cast("double") / F.col("n"))
                )
                / 10000,
                6,
            ).alias("intercept"),
        )
        .orderBy("event_type", "segment")
    )


@query(
    "holt_winters_daily_events",
    """
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             ROUND(SUM(value), 4) AS x
      FROM events GROUP BY 1, 2
    ), num AS (
      SELECT event_type, day, x,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY day) AS rn
      FROM daily
    ), init AS (
      SELECT event_type,
             list_sum(list_transform(xs, v -> v)) / 7 AS l0,
             xs
      FROM (
        SELECT event_type, list(x ORDER BY rn) AS xs
        FROM num WHERE rn <= 7 GROUP BY event_type
      )
    ), hw AS (
      SELECT n.event_type, n.day, n.rn, n.x,
             i.l0 AS level, CAST(0.0 AS DOUBLE) AS trend,
             list_transform(i.xs, v -> v - i.l0) AS sv,
             CAST(NULL AS DOUBLE) AS seasonal,
             CAST(NULL AS DOUBLE) AS forecast
      FROM num n JOIN init i ON i.event_type = n.event_type
      WHERE n.rn = 7
      UNION ALL
      SELECT n.event_type, n.day, n.rn, n.x,
             0.5 * (n.x - h.sv[1]) + 0.5 * (h.level + h.trend),
             0.5 * ((0.5 * (n.x - h.sv[1])
                     + 0.5 * (h.level + h.trend)) - h.level)
               + 0.5 * h.trend,
             list_append(h.sv[2:7],
               0.5 * (n.x - (0.5 * (n.x - h.sv[1])
                             + 0.5 * (h.level + h.trend)))
                 + 0.5 * h.sv[1]),
             0.5 * (n.x - (0.5 * (n.x - h.sv[1])
                           + 0.5 * (h.level + h.trend)))
               + 0.5 * h.sv[1],
             NULL
      FROM num n JOIN hw h
        ON n.event_type = h.event_type AND n.rn = h.rn + 1
    )
    SELECT event_type, day, x, level, trend, seasonal,
           level + trend + sv[1] AS forecast
    FROM hw WHERE rn > 7
    ORDER BY event_type, day
    """,
)
def holt_winters_q(spark, sf_dir):
    """Holt–Winters ADDITIVE seasonal smoothing (α = β = γ = 1/2,
    period 7) — the weekly-cycle-aware forecaster that completes the
    SES → Holt → seasonal-adjust family: level, trend, AND a rotating
    7-slot seasonal state (carried as a list through the recursion).
    Init: level = first-week mean, trend = 0, seasonals = first-week
    deviations; every subsequent step is dyadic (×1/2) fp arithmetic
    in the exact op order of the oracle's recursive CTE, so states
    and forecasts match bit-for-bit with no output rounding.  The
    walk is one applyInPandas kernel over each type's ≤O(days) daily
    rows — the bounded-series pattern the Holt gate set."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value"), 4).alias("x")
    )

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        if len(pdf) <= 7:
            return pdf.iloc[0:0].assign(
                level=0.0, trend=0.0, seasonal=0.0, forecast=0.0
            )[
                [
                    "event_type",
                    "day",
                    "x",
                    "level",
                    "trend",
                    "seasonal",
                    "forecast",
                ]
            ]
        xs = list(pdf["x"])
        # same op order as the CTE: list_sum folds left-to-right
        acc = 0.0
        for v in xs[:7]:
            acc = acc + v
        level = acc / 7
        trend = 0.0
        sv = [v - level for v in xs[:7]]
        rows = []
        for t in range(7, len(xs)):
            x = xs[t]
            s_old = sv[0]
            new_level = 0.5 * (x - s_old) + 0.5 * (level + trend)
            new_trend = 0.5 * (new_level - level) + 0.5 * trend
            s_new = 0.5 * (x - new_level) + 0.5 * s_old
            sv = sv[1:] + [s_new]
            level, trend = new_level, new_trend
            rows.append(
                {
                    "event_type": pdf["event_type"].iloc[0],
                    "day": pdf["day"].iloc[t],
                    "x": x,
                    "level": level,
                    "trend": trend,
                    "seasonal": s_new,
                    "forecast": level + trend + sv[0],
                }
            )
        return pd.DataFrame(rows)

    return (
        daily.groupBy("event_type")
        .applyInPandas(
            walk,
            "event_type string, day date, x double, level double,"
            " trend double, seasonal double, forecast double",
        )
        .orderBy("event_type", "day")
    )


@query(
    "burst_viterbi_daily_events",
    """
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ), num AS (
      SELECT event_type, day, y,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY day) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS tn,
             CAST(SUM(y) OVER (PARTITION BY event_type) AS DOUBLE)
               / COUNT(*) OVER (PARTITION BY event_type) AS mu
      FROM daily
    ), fwd AS (
      SELECT event_type, day, rn, tn, mu,
             (mu - y * ln(mu)) AS c0,
             (1.1 * mu - y * ln(1.1 * mu)) + ln(CAST(tn AS DOUBLE)) AS c1,
             0 AS d0, 0 AS d1
      FROM num WHERE rn = 1
      UNION ALL
      SELECT n.event_type, n.day, n.rn, n.tn, n.mu,
             (n.mu - n.y * ln(n.mu)) + LEAST(f.c0, f.c1),
             (1.1 * n.mu - n.y * ln(1.1 * n.mu))
               + LEAST(f.c0 + ln(CAST(n.tn AS DOUBLE)), f.c1),
             CASE WHEN f.c1 < f.c0 THEN 1 ELSE 0 END,
             CASE WHEN f.c1 <= f.c0 + ln(CAST(n.tn AS DOUBLE))
                  THEN 1 ELSE 0 END
      FROM num n JOIN fwd f
        ON n.event_type = f.event_type AND n.rn = f.rn + 1
    ), bwd AS (
      SELECT event_type, rn, day,
             CASE WHEN c1 < c0 THEN 1 ELSE 0 END AS state,
             CASE WHEN c1 < c0 THEN d1 ELSE d0 END AS prev
      FROM fwd WHERE rn = tn
      UNION ALL
      SELECT f.event_type, f.rn, f.day, b.prev,
             CASE WHEN b.prev = 1 THEN f.d1 ELSE f.d0 END
      FROM fwd f JOIN bwd b
        ON f.event_type = b.event_type AND f.rn = b.rn - 1
    )
    SELECT b.event_type, b.day, CAST(d.y AS BIGINT) AS y,
           CAST(b.state AS BIGINT) AS state,
           ROUND(f.c0 - f.c1, 6) AS cost_margin
    FROM bwd b
    JOIN fwd f ON f.event_type = b.event_type AND f.rn = b.rn
    JOIN daily d ON d.event_type = b.event_type AND d.day = b.day
    ORDER BY b.event_type, b.day
    """,
)
def burst_q(spark, sf_dir):
    """Kleinberg-style burst detection (Kleinberg, KDD 2002 — the
    2-state discrete variant) over daily event counts: a base state
    emitting at the series mean μ and a burst state at 1.1μ, Poisson
    negative-log-likelihood emission costs, a ln(T) toll for ENTERING
    the burst state, Viterbi forward pass + backtrack.  The principled
    version of the rolling-z/CUSUM alarms: a burst must pay for its
    transition, so isolated spikes don't flap the state.  Output is
    the full per-day Viterbi trace (state + forward cost margin),
    which pins the entire recursion even on a burst-free corpus —
    this synthetic stream is genuinely unbursty, so the honest answer
    is all-base-state with margins, not fabricated episodes.  The
    per-type series is bounded (≤366 rows), walked in one
    applyInPandas kernel whose float ops replay the oracle's recursive
    CTE exactly (libm ln on identical rationals, LEAST on identical
    doubles)."""
    import math

    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("y")
    )

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        ys = [int(v) for v in pdf["y"]]
        tn = len(ys)
        mu = float(sum(ys)) / tn
        toll = math.log(float(tn))
        e0 = lambda y: mu - y * math.log(mu)  # noqa: E731
        e1 = lambda y: 1.1 * mu - y * math.log(1.1 * mu)  # noqa: E731
        c0, c1 = e0(ys[0]), e1(ys[0]) + toll
        d0s, d1s = [0], [0]
        c0s, c1s = [c0], [c1]
        for t in range(1, tn):
            d0 = 1 if c1 < c0 else 0
            d1 = 1 if c1 <= c0 + toll else 0
            nc0 = e0(ys[t]) + min(c0, c1)
            nc1 = e1(ys[t]) + min(c0 + toll, c1)
            c0, c1 = nc0, nc1
            d0s.append(d0)
            d1s.append(d1)
            c0s.append(c0)
            c1s.append(c1)
        states = [0] * tn
        states[tn - 1] = 1 if c1s[tn - 1] < c0s[tn - 1] else 0
        for t in range(tn - 1, 0, -1):
            states[t - 1] = d1s[t] if states[t] == 1 else d0s[t]
        rows = [
            {
                "event_type": pdf["event_type"].iloc[0],
                "day": pdf["day"].iloc[t],
                "y": ys[t],
                "state": states[t],
                "cost_margin": round(c0s[t] - c1s[t], 6),
            }
            for t in range(tn)
        ]
        return pd.DataFrame(
            rows,
            columns=["event_type", "day", "y", "state", "cost_margin"],
        )

    return (
        daily.groupBy("event_type")
        .applyInPandas(
            walk,
            "event_type string, day date, y long, state long,"
            " cost_margin double",
        )
        .orderBy("event_type", "day")
    )


@query(
    "corr_matrix_event_types",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ), wide AS (
      SELECT a.event_type AS ta, b.event_type AS tb,
             COUNT(*) AS n, SUM(a.y) AS sa, SUM(b.y) AS sb,
             SUM(a.y * a.y) AS saa, SUM(b.y * b.y) AS sbb,
             SUM(a.y * b.y) AS sab
      FROM daily a JOIN daily b
        ON b.d = a.d AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT ta AS type_a, tb AS type_b, CAST(n AS BIGINT) AS n_days,
           ROUND((sab - CAST(sa AS DOUBLE) * sb / n)
                 / (sqrt(saa - CAST(sa AS DOUBLE) * sa / n)
                    * sqrt(sbb - CAST(sb AS DOUBLE) * sb / n)), 6)
             AS pearson
    FROM wide ORDER BY type_a, type_b
    """,
)
def corr_matrix_q(spark, sf_dir):
    """Pairwise Pearson correlation grid of the per-type daily count
    series — do channels move together (shared seasonality/outages)
    or independently?  The same-day self-join runs on the bounded
    daily frame (days × types rows), all moments are exact integer
    sums, and the output is the types² upper triangle — the
    multi-series companion of the lag-scanning xcorr gate."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d"), "event_type").agg(
        F.count(F.lit(1)).alias("y")
    )
    a, b = daily.alias("a"), daily.alias("b")
    wide = (
        a.join(
            b,
            (F.col("b.d") == F.col("a.d"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("ta"),
            F.col("b.event_type").alias("tb"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("a.y").alias("sa"),
            F.sum("b.y").alias("sb"),
            F.sum(F.col("a.y") * F.col("a.y")).alias("saa"),
            F.sum(F.col("b.y") * F.col("b.y")).alias("sbb"),
            F.sum(F.col("a.y") * F.col("b.y")).alias("sab"),
        )
    )
    return wide.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        F.col("n").cast("bigint").alias("n_days"),
        F.round(
            (
                F.col("sab")
                - F.col("sa").cast("double") * F.col("sb") / F.col("n")
            )
            / (
                F.sqrt(
                    F.col("saa")
                    - F.col("sa").cast("double") * F.col("sa") / F.col("n")
                )
                * F.sqrt(
                    F.col("sbb")
                    - F.col("sb").cast("double") * F.col("sb") / F.col("n")
                )
            ),
            6,
        ).alias("pearson"),
    ).orderBy("type_a", "type_b")


def _lof_ivf_oracle(dim: int = 64, k: int = 10, topn: int = 20) -> str:
    """DuckDB twin of the IVF-bucketed LOF: literal-quantizer cluster
    assignment (bit-identical chain), candidate pairs ONLY within a
    cluster, then the textbook kdist/reach/lrd/LOF chain with the
    per-point effective neighbor count (small clusters yield < k
    neighbors)."""
    from ..operators.similarity import fixed_centroids

    cents = fixed_centroids(64, 8, seed=7)
    d2 = " + ".join(
        f"(a.v[{i + 1}] - b.v[{i + 1}]) * (a.v[{i + 1}] - b.v[{i + 1}])"
        for i in range(dim)
    )
    return f"""
    WITH c0 AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
               AS v
      FROM embeddings
    ), d AS (
      SELECT vec_id, label, v, {_centroid_assign_sql(cents)} AS dl
      FROM c0
    ), e AS MATERIALIZED (
      SELECT vec_id, label, v,
             CAST(list_position(dl, list_min(dl)) - 1 AS INTEGER)
               AS cluster
      FROM d
    ), pairs AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb,
             sqrt(CAST({d2} AS DOUBLE)) / 1000000 AS dd
      FROM e a JOIN e b
        ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
    ), nk AS MATERIALIZED (
      SELECT ida, idb, dd FROM (
        SELECT ida, idb, dd,
               ROW_NUMBER() OVER (PARTITION BY ida
                                  ORDER BY dd ASC, idb ASC) AS r
        FROM pairs
      ) WHERE r <= {k}
    ), kd AS (
      SELECT ida AS id, MAX(dd) AS kdist FROM nk GROUP BY ida
    ), lrd AS (
      SELECT nk.ida AS id,
             COUNT(*) / SUM(GREATEST(kd.kdist, nk.dd)) AS lrd
      FROM nk JOIN kd ON kd.id = nk.idb
      GROUP BY nk.ida
    ), lof AS (
      SELECT nk.ida AS id, AVG(lb.lrd / la.lrd) AS lof
      FROM nk
      JOIN lrd la ON la.id = nk.ida
      JOIN lrd lb ON lb.id = nk.idb
      GROUP BY nk.ida
    )
    SELECT CAST(lof.id AS BIGINT) AS vec_id, e.label,
           CAST(e.cluster AS BIGINT) AS cluster,
           ROUND(kd.kdist, 6) AS kdist,
           ROUND(lof.lof, 6) AS lof
    FROM lof
    JOIN kd ON kd.id = lof.id
    JOIN e ON e.vec_id = lof.id
    ORDER BY lof.lof DESC, vec_id ASC LIMIT {topn}
    """


@query("lof_ivf_outliers_embeddings", None)  # oracle attached below
def lof_ivf_q(spark, sf_dir):
    """IVF-bucketed LOF — the SCALE path the brute-force gate
    documents, made concrete: candidate neighbors come only from the
    point's own coarse-quantizer cluster (literal seeded centroids,
    bit-exact assignment both engines), so the pair mass drops from
    n² to Σ|cluster|² and the kNN shuffles on the cluster key —
    partition-parallel at 100 TB where the global pair pass is not:
    knn_exact_grouped builds each cluster's BLAS block EXECUTOR-SIDE
    inside groupBy(cluster).applyInPandas — zero driver collect, zero
    broadcast, executor memory O(max |cluster| × d) (the global
    knn_exact baseline, by contrast, broadcasts the corpus and caps
    it at max_broadcast_rows).
    Small clusters yield fewer than k neighbors; lrd and LOF use the
    per-point effective count, per Breunig's definition.  The LOF
    values approximate the global-kNN gate's (neighbors restricted to
    the bucket) — the standard ANN-LOF trade, here made measurable
    against its exact sibling."""
    from ..operators.similarity import assign_nearest_centroid, fixed_centroids

    cents = fixed_centroids(64, 8, seed=7)
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "e", F.transform("embedding", lambda x: x.cast("double"))
    )
    # checkpoint: the assigned frame feeds both self-join sides
    # AND the final label join; uncheckpointed, the 8x64-term
    # assignment chain re-evaluates per reference (measured 38 s ->
    # ~3 s at sf0.01 across both engines with the twin MATERIALIZED)
    e = checkpoint(
        assign_nearest_centroid(emb, cents, vec_col="e")
        .select(
            "vec_id",
            "label",
            "cluster",
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1_000_000).cast(
                    "long"
                ),
            ).alias("v"),
        )
    )
    from ..operators.similarity import knn_exact_grouped

    nk = checkpoint(
        knn_exact_grouped(
            e.select("vec_id", "cluster", F.col("v").alias("embedding"))
            .withColumn(
                "embedding",
                F.transform(
                    "embedding", lambda x: x.cast("double") / 1_000_000
                ),
            ),
            "vec_id",
            "embedding",
            k=10,
            group_col="cluster",
        )
        .select(
            "ida",
            "idb",
            (F.sqrt(F.col("d2").cast("double")) / 1_000_000).alias("dd"),
        )
    )
    kd = nk.groupBy(F.col("ida").alias("id")).agg(F.max("dd").alias("kdist"))
    lrd = (
        nk.join(kd.select(F.col("id").alias("idb"), "kdist"), "idb")
        .groupBy(F.col("ida").alias("id"))
        .agg(
            (
                F.count(F.lit(1)) / F.sum(F.greatest(F.col("kdist"), F.col("dd")))
            ).alias("lrd")
        )
    )
    lof = (
        nk.join(
            lrd.select(F.col("id").alias("ida"), F.col("lrd").alias("lrd_a")),
            "ida",
        )
        .join(
            lrd.select(F.col("id").alias("idb"), F.col("lrd").alias("lrd_b")),
            "idb",
        )
        .groupBy(F.col("ida").alias("id"))
        .agg(F.avg(F.col("lrd_b") / F.col("lrd_a")).alias("lof"))
    )
    return (
        lof.join(kd, "id")
        .join(e.select(F.col("vec_id").alias("id"), "label", "cluster"), "id")
        .select(
            F.col("id").cast("bigint").alias("vec_id"),
            "label",
            F.col("cluster").cast("bigint").alias("cluster"),
            F.round("kdist", 6).alias("kdist"),
            F.round("lof", 6).alias("lof"),
        )
        .orderBy(F.col("lof").desc(), F.col("vec_id").asc())
        .limit(20)
    )


O["lof_ivf_outliers_embeddings"] = _lof_ivf_oracle()


# ----------------------------------------------------- model-eval suite

def _scored_docs(spark, sf_dir):
    """Shared (doc_id, score, y) frame for the model-eval gates: the
    hashed linear classifier as the score, long-document (n_chars ≥
    300, the corpus median) as the binary truth.  (Gopher keep is
    degenerate on this corpus — every doc fails the battery — so it
    cannot anchor a ranking eval; the kappa gate's value was exactly
    that it exposes such pathologies.)"""
    from ..operators.sampling import hash_bucket
    from ..operators.text import hashed_classifier_score

    d = load_table(spark, sf_dir, "documents")
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
    sc = hashed_classifier_score(d, model, dim=dim, bias=0.1).select(
        F.col("id").alias("doc_id"), "score"
    )
    lab = d.select(
        "doc_id", (F.col("n_chars") >= 300).cast("int").alias("y")
    )
    # every model-eval gate reads this frame through SEVERAL subtrees
    # (rank windows, bucket folds, both ranker sides...) and without a
    # lineage cut each consumer re-runs the hashed-classifier token
    # explode + vocab distinct + score join — the before-plans held
    # 28-32 parquet scans per gate (plans/r11/{hosmer_lemeshow,rbo,
    # kendall_tau}_*_before.txt).  One doc-sized materialization.
    return checkpoint(sc.join(lab, "doc_id"))


def _score_bin(score):
    """Clip to [0, 1] and bin to a LITERAL 1001-bucket grid —
    the threshold sweep that stays bounded at 100 TB (per-distinct-
    score windows grow with data; a quantized sweep does not).
    floor() in both engines (CAST would round in DuckDB)."""
    return F.floor(
        F.least(F.greatest(score, F.lit(0.0)), F.lit(1.0)) * 1000
    ).cast("int")


def _scored_sql() -> str:
    """DuckDB twin of ``_scored_docs`` composed from the classifier
    gate's own generated SQL."""
    clf = O["classifier_score_docs"]
    return f"""sc AS (
      SELECT id AS doc_id, score FROM ({clf}) c
    ), lab AS (
      SELECT doc_id, CAST(n_chars >= 300 AS INTEGER) AS y FROM documents
    ), scored AS (
      SELECT sc.doc_id, sc.score, lab.y FROM sc JOIN lab USING (doc_id)
    )"""


@query("roc_auc_quality_docs", None)  # oracle attached below (composed)
def roc_auc_q(spark, sf_dir):
    """ROC-AUC of the hashed classifier against the Gopher truth —
    the discrimination summary every swap-a-filter decision needs
    beyond kappa's single-threshold agreement.  Tie-corrected
    Mann–Whitney form WITHOUT materializing pos×neg pairs: group by
    distinct score, one cumulative window over the score-sorted
    groups, numerator = Σ_g (2·pos_g·neg_below_g + pos_g·neg_g) as
    exact BIGINTs, AUC = num/(2·n1·n0) — one division at the end.
    Bounded by distinct scores, never by document pairs."""
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
    cum = g.select(
        "pos",
        "neg",
        (F.sum("neg").over(w) - F.col("neg")).alias("neg_below"),
    )
    return cum.agg(
        F.sum(
            F.lit(2) * F.col("pos") * F.col("neg_below")
            + F.col("pos") * F.col("neg")
        ).alias("num2"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
    ).select(
        "n_pos",
        "n_neg",
        F.round(
            F.col("num2").cast("double")
            / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


@query("average_precision_quality_docs", None)  # oracle attached below
def avg_precision_q(spark, sf_dir):
    """Average precision (area under the precision–recall curve,
    step interpolation, ties handled at the bin level):
    ``AP = Σ_g (pos_g/n1)·(cum_pos_g/cum_all_g)`` over the literal
    1001-bucket score grid in descending order — the rare-positive-
    robust companion of ROC-AUC (AUC flatters a classifier when
    negatives dominate; AP does not).  One grouped pass + one
    LITERAL-bounded cumulative window, exact integer counts into
    each rational."""
    scored = _scored_docs(spark, sf_dir).select(
        "y", _score_bin(F.col("score")).alias("bin")
    )
    g = scored.groupBy("bin").agg(
        F.sum("y").alias("pos"), F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = g.select(
        "pos",
        F.sum("pos").over(w).alias("cum_pos"),
        F.sum("cnt").over(w).alias("cum_all"),
    )
    tot = scored.agg(
        F.sum("y").alias("n1"), F.count(F.lit(1)).alias("n")
    )
    return (
        cum.join(F.broadcast(tot), F.lit(True))
        .agg(
            F.any_value("n1").cast("bigint").alias("n_pos"),
            F.any_value("n").cast("bigint").alias("n_docs"),
            F.round(
                F.sum(
                    (F.col("pos").cast("double") / F.col("n1"))
                    * (
                        F.col("cum_pos").cast("double")
                        / F.col("cum_all")
                    )
                ),
                6,
            ).alias("average_precision"),
        )
    )


@query("decile_lift_quality_docs", None)  # oracle attached below
def decile_lift_q(spark, sf_dir):
    """Decile gains/lift table: rank docs by classifier score
    (deterministic (score DESC, doc_id ASC) order), cut into 10
    equal-count bins, report each decile's positive rate and lift
    over the base rate — the "how deep can I trust the ranking"
    readout reviewers ask for before setting a keep-threshold.
    Integer counts per decile; the global rank is the two-level
    exact_global_rank construction (coarse sketch placement,
    per-bucket local sorts, ≤32 driver offsets) — zero
    single-partition sort, the 100 TB form (VERDICT r6 #6); total
    row count rides a 1-row broadcast."""
    from ..operators.profile import exact_global_rank

    scored = _scored_docs(spark, sf_dir)
    ranked = exact_global_rank(
        scored.withColumn("_neg", -F.col("score")),
        "_neg",
        "doc_id",
        rank_col="rn",
    ).drop("_neg")
    nrow = scored.agg(F.count(F.lit(1)).alias("n"))
    dec = ranked.join(F.broadcast(nrow), F.lit(True)).select(
        "y",
        "n",
        F.floor((F.col("rn") - 1) * 10 / F.col("n")).cast("int").alias(
            "decile"
        ),
    )
    base = scored.agg(
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("base_rate")
    )
    return (
        dec.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("y").cast("bigint").alias("n_pos"),
        )
        .join(F.broadcast(base), F.lit(True))
        .select(
            F.col("decile").cast("bigint").alias("decile"),
            "n_docs",
            "n_pos",
            F.round(
                F.col("n_pos").cast("double") / F.col("n_docs"), 6
            ).alias("pos_rate"),
            F.round(
                (F.col("n_pos").cast("double") / F.col("n_docs"))
                / F.col("base_rate"),
                6,
            ).alias("lift"),
        )
        .orderBy("decile")
    )


@query("best_f1_threshold_quality_docs", None)  # oracle attached below
def best_f1_q(spark, sf_dir):
    """Best-F1 operating point: sweep every score bin as the
    keep-threshold (predict positive when score ≥ t), compute
    tp/fp/fn from one cumulative window over the literal 1001-bucket
    score grid, and return the threshold maximizing F1 (ties →
    higher threshold).  The kappa gate fixed t = 0.5 by fiat; this
    is where the fiat should have come from.  The sweep is
    LITERAL-bounded — one window, not one pass per candidate."""
    scored = _scored_docs(spark, sf_dir).select(
        "y", _score_bin(F.col("score")).alias("bin")
    )
    g = scored.groupBy("bin").agg(
        F.sum("y").alias("pos"),
        F.sum(F.lit(1) - F.col("y")).alias("neg"),
    )
    w = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = scored.agg(F.sum("y").alias("n1"))
    cum = g.select(
        (F.col("bin").cast("double") / 1000).alias("threshold"),
        F.sum("pos").over(w).alias("tp"),
        F.sum("neg").over(w).alias("fp"),
    ).join(F.broadcast(tot), F.lit(True))
    f1 = (
        F.lit(2.0)
        * F.col("tp")
        / (F.lit(2) * F.col("tp") + F.col("fp") + (F.col("n1") - F.col("tp")))
    )
    wr = Window.orderBy(f1.desc(), F.col("threshold").desc())
    return (
        cum.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") == 1)
        .select(
            F.round("threshold", 6).alias("threshold"),
            F.col("tp").cast("bigint").alias("tp"),
            F.col("fp").cast("bigint").alias("fp"),
            (F.col("n1") - F.col("tp")).cast("bigint").alias("fn"),
            F.round(f1, 6).alias("f1"),
        )
    )


O["roc_auc_quality_docs"] = f"""
    WITH {_scored_sql()}, b AS (
      SELECT y, CAST(floor(LEAST(GREATEST(score, 0.0), 1.0) * 1000)
                     AS INTEGER) AS bin
      FROM scored
    ), g AS (
      SELECT bin, SUM(y) AS pos, SUM(1 - y) AS neg
      FROM b GROUP BY bin
    ), cum AS (
      SELECT pos, neg,
             SUM(neg) OVER (ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) - neg AS neg_below
      FROM g
    )
    SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(neg) AS BIGINT) AS n_neg,
           ROUND(CAST(SUM(2 * pos * neg_below + pos * neg) AS DOUBLE)
                 / (2.0 * SUM(pos) * SUM(neg)), 6) AS auc
    FROM cum
    """

O["average_precision_quality_docs"] = f"""
    WITH {_scored_sql()}, bb AS (
      SELECT y, CAST(floor(LEAST(GREATEST(score, 0.0), 1.0) * 1000)
                     AS INTEGER) AS bin
      FROM scored
    ), g AS (
      SELECT bin, SUM(y) AS pos, COUNT(*) AS cnt
      FROM bb GROUP BY bin
    ), cum AS (
      SELECT pos,
             SUM(pos) OVER (ORDER BY bin DESC
                            ROWS UNBOUNDED PRECEDING) AS cum_pos,
             SUM(cnt) OVER (ORDER BY bin DESC
                            ROWS UNBOUNDED PRECEDING) AS cum_all
      FROM g
    ), tot AS (
      SELECT SUM(y) AS n1, COUNT(*) AS n FROM scored
    )
    SELECT CAST(tot.n1 AS BIGINT) AS n_pos,
           CAST(tot.n AS BIGINT) AS n_docs,
           ROUND(SUM((CAST(pos AS DOUBLE) / tot.n1)
                     * (CAST(cum_pos AS DOUBLE) / cum_all)), 6)
             AS average_precision
    FROM cum, tot GROUP BY tot.n1, tot.n
    """

O["decile_lift_quality_docs"] = f"""
    WITH {_scored_sql()}, ranked AS (
      SELECT y,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rn,
             COUNT(*) OVER () AS n
      FROM scored
    ), dec AS (
      SELECT y, CAST(floor((rn - 1) * 10.0 / n) AS INTEGER) AS decile FROM ranked
    ), base AS (
      SELECT CAST(SUM(y) AS DOUBLE) / COUNT(*) AS base_rate FROM scored
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS pos_rate,
           ROUND((CAST(SUM(y) AS DOUBLE) / COUNT(*)) / base.base_rate, 6)
             AS lift
    FROM dec, base GROUP BY decile, base.base_rate ORDER BY decile
    """

O["best_f1_threshold_quality_docs"] = f"""
    WITH {_scored_sql()}, bb AS (
      SELECT y, CAST(floor(LEAST(GREATEST(score, 0.0), 1.0) * 1000)
                     AS INTEGER) AS bin
      FROM scored
    ), g AS (
      SELECT bin, SUM(y) AS pos, SUM(1 - y) AS neg
      FROM bb GROUP BY bin
    ), tot AS (SELECT SUM(y) AS n1 FROM bb),
    cum AS (
      SELECT CAST(bin AS DOUBLE) / 1000 AS threshold,
             SUM(pos) OVER (ORDER BY bin DESC
                            ROWS UNBOUNDED PRECEDING) AS tp,
             SUM(neg) OVER (ORDER BY bin DESC
                            ROWS UNBOUNDED PRECEDING) AS fp
      FROM g
    ), f AS (
      SELECT threshold, tp, fp, tot.n1,
             2.0 * tp / (2 * tp + fp + (tot.n1 - tp)) AS f1,
             ROW_NUMBER() OVER (
               ORDER BY 2.0 * tp / (2 * tp + fp + (tot.n1 - tp)) DESC,
                        threshold DESC) AS r
      FROM cum, tot
    )
    SELECT ROUND(threshold, 6) AS threshold, CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp, CAST(n1 - tp AS BIGINT) AS fn,
           ROUND(f1, 6) AS f1
    FROM f WHERE r = 1
    """


@query(
    "er_clusters_parts",
    """
    WITH RECURSIVE p AS (
      SELECT p_partkey, p_name, substr(p_name, 1, 1) AS blk,
             len(p_name) AS l
      FROM part WHERE p_partkey % 10 = 0
    ), pairs AS (
      SELECT a.p_partkey AS u, b.p_partkey AS v
      FROM p a JOIN p b
        ON a.blk = b.blk AND a.p_partkey < b.p_partkey
       AND abs(a.l - b.l) <= 4
      WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.93
    ), edges AS (
      SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
    ), reach(id, r) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.r FROM edges e JOIN reach r ON e.v = r.id
    ), comp AS (
      SELECT id, MIN(r) AS cluster FROM reach GROUP BY id
    )
    SELECT CAST(comp.cluster AS BIGINT) AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           ANY_VALUE(cn.p_name) AS canonical_name
    FROM comp
    JOIN p cn ON cn.p_partkey = comp.cluster
    GROUP BY comp.cluster
    ORDER BY cluster_id
    """,
)
def er_clusters_q(spark, sf_dir):
    """Entity-resolution pipeline end to end: blocking (first char +
    length band) → Jaro-Winkler match join (τ = 0.93, the
    cross-engine-pinned kernel) → connected components (min-label
    propagation) → canonical clusters with the min-key member as the
    survivor record — the full Fellegi–Sunter-style dedup a master-
    data pipeline runs, composed from three already-pinned operator
    families in one hash-checked query.  Pair mass is bounded by the
    blocking (never all-pairs); components cost O(diameter) rounds on
    the tiny match graph."""
    from ..operators.components import connected_components
    from ..operators.joins import jaro_winkler_join

    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_partkey") % 10 == 0
    )
    blocked = part.withColumn("blk", F.substring("p_name", 1, 1))
    pairs = jaro_winkler_join(
        blocked, "p_partkey", "p_name", "blk",
        threshold=0.93, length_band=4,
    ).select("id_a", "id_b")
    comp = connected_components(pairs, "id_a", "id_b")
    names = part.select(
        F.col("p_partkey").alias("cluster_id_key"), "p_name"
    )
    return (
        comp.groupBy(F.col("component").alias("cluster_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .join(
            names.hint("merge"),
            F.col("cluster_id") == F.col("cluster_id_key"),
        )
        .select(
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            "n_members",
            F.col("p_name").alias("canonical_name"),
        )
        .orderBy("cluster_id")
    )


@query(
    "degree_assortativity_part_supplier",
    """
    WITH raw AS (
      SELECT DISTINCT CAST(l_partkey AS BIGINT) AS u,
             CAST(l_suppkey AS BIGINT) + 10000000 AS v
      FROM lineitem
    ), und AS (
      SELECT u, v FROM raw UNION ALL SELECT v, u FROM raw
    ), deg AS (
      SELECT u AS id, COUNT(*) AS d FROM und GROUP BY u
    ), ed AS (
      SELECT da.d AS dx, db.d AS dy
      FROM und e
      JOIN deg da ON da.id = e.u
      JOIN deg db ON db.id = e.v
    ), m AS (
      SELECT COUNT(*) AS n, SUM(dx) AS sx, SUM(dy) AS sy,
             SUM(dx * dx) AS sxx, SUM(dy * dy) AS syy,
             SUM(dx * dy) AS sxy
      FROM ed
    )
    SELECT CAST(n / 2 AS BIGINT) AS n_edges,
           ROUND((sxy - CAST(sx AS DOUBLE) * sy / n)
                 / (sqrt(sxx - CAST(sx AS DOUBLE) * sx / n)
                    * sqrt(syy - CAST(sy AS DOUBLE) * sy / n)), 6)
             AS assortativity
    FROM m
    """,
)
def assortativity_q(spark, sf_dir):
    """Degree assortativity of the part–supplier shipment graph
    (Newman 2002): the Pearson correlation of endpoint degrees over
    every edge (both directions, the standard undirected convention)
    — negative means hubs attach to leaves (the usual
    bipartite/web shape), positive means a core-periphery risk for
    partition balance.  One degree aggregate + one edge⋈degree join,
    exact integer moments, a single division pair at the end — the
    graph-health scalar that predicts join-key skew before pagerank
    runs."""
    li = load_table(spark, sf_dir, "lineitem")
    raw = li.select(
        F.col("l_partkey").cast("bigint").alias("u"),
        (F.col("l_suppkey").cast("bigint") + 10000000).alias("v"),
    ).distinct()
    und = raw.union(
        raw.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy(F.col("u").alias("id")).agg(
        F.count(F.lit(1)).alias("d")
    )
    ed = (
        und.join(deg.select(F.col("id").alias("u"), F.col("d").alias("dx")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("d").alias("dy")), "v")
        .select("dx", "dy")
    )
    m = ed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    return m.select(
        (F.col("n") / 2).cast("bigint").alias("n_edges"),
        F.round(
            (
                F.col("sxy")
                - F.col("sx").cast("double") * F.col("sy") / F.col("n")
            )
            / (
                F.sqrt(
                    F.col("sxx")
                    - F.col("sx").cast("double") * F.col("sx") / F.col("n")
                )
                * F.sqrt(
                    F.col("syy")
                    - F.col("sy").cast("double") * F.col("sy") / F.col("n")
                )
            ),
            6,
        ).alias("assortativity"),
    )


@query(
    "khop_reach_suppliers",
    """
    WITH raw AS (
      SELECT DISTINCT CAST(l_partkey AS BIGINT) AS u,
             CAST(l_suppkey AS BIGINT) + 10000000 AS v
      FROM lineitem
    ), und AS (
      SELECT u, v FROM raw UNION SELECT v, u FROM raw
    ), seeds AS (
      SELECT DISTINCT v AS id FROM raw WHERE (v - 10000000) % 10 = 0
    ), h1 AS (
      SELECT DISTINCT s.id, e.v AS n FROM seeds s JOIN und e ON e.u = s.id
    ), h2 AS (
      SELECT DISTINCT h1.id, e.v AS n
      FROM h1 JOIN und e ON e.u = h1.n
      WHERE e.v <> h1.id
    ), h3 AS (
      SELECT DISTINCT h2.id, e.v AS n
      FROM h2 JOIN und e ON e.u = h2.n
    )
    SELECT CAST(s.id - 10000000 AS BIGINT) AS suppkey,
           (SELECT COUNT(*) FROM h1 WHERE h1.id = s.id) AS reach_1,
           (SELECT COUNT(*) FROM (
              SELECT n FROM h2 WHERE h2.id = s.id
              EXCEPT SELECT n FROM h1 WHERE h1.id = s.id
              EXCEPT SELECT s.id) t) AS reach_2,
           (SELECT COUNT(*) FROM (
              SELECT n FROM h3 WHERE h3.id = s.id
              EXCEPT SELECT n FROM h2 WHERE h2.id = s.id
              EXCEPT SELECT n FROM h1 WHERE h1.id = s.id
              EXCEPT SELECT s.id) t) AS reach_3
    FROM seeds s ORDER BY suppkey
    """,
)
def khop_q(spark, sf_dir):
    """k-hop reach profile (1–3 hops) for a deterministic 10% supplier
    seed set on the shipment graph — the neighborhood-growth curve
    that sizes frontier memory for any BFS-family job before it runs
    (reach_2 exploding = the small-world wall).  Three rounds of
    frontier⋈edges joins with cumulative-visited de-dup — the bounded-
    round BFS pattern of bfs_distance, reported as per-seed counts of
    NEWLY reached nodes per hop."""
    li = load_table(spark, sf_dir, "lineitem")
    raw = li.select(
        F.col("l_partkey").cast("bigint").alias("u"),
        (F.col("l_suppkey").cast("bigint") + 10000000).alias("v"),
    ).distinct()
    und = raw.union(
        raw.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    seeds = (
        raw.select(F.col("v").alias("id"))
        .distinct()
        .filter((F.col("id") - 10000000) % 10 == 0)
    )
    h1 = checkpoint(
        seeds.join(und, seeds["id"] == und["u"])
        .select("id", F.col("v").alias("n"))
        .distinct()
    )
    h2 = checkpoint(
        h1.join(und, h1["n"] == und["u"])
        .select("id", und["v"].alias("n2"))
        .filter(F.col("n2") != F.col("id"))
        .select("id", F.col("n2").alias("n"))
        .distinct()
    )
    h3 = (
        h2.join(und, h2["n"] == und["u"])
        .select("id", und["v"].alias("n3"))
        .select("id", F.col("n3").alias("n"))
        .distinct()
    )
    r1 = h1.groupBy("id").agg(F.count(F.lit(1)).alias("reach_1"))
    new2 = h2.join(h1, ["id", "n"], "left_anti").filter(
        F.col("n") != F.col("id")
    )
    r2 = new2.groupBy("id").agg(F.count(F.lit(1)).alias("reach_2"))
    new3 = (
        h3.join(h2, ["id", "n"], "left_anti")
        .join(h1, ["id", "n"], "left_anti")
        .filter(F.col("n") != F.col("id"))
    )
    r3 = new3.groupBy("id").agg(F.count(F.lit(1)).alias("reach_3"))
    return (
        seeds.join(r1, "id", "left")
        .join(r2, "id", "left")
        .join(r3, "id", "left")
        .select(
            (F.col("id") - 10000000).cast("bigint").alias("suppkey"),
            F.coalesce("reach_1", F.lit(0)).cast("bigint").alias("reach_1"),
            F.coalesce("reach_2", F.lit(0)).cast("bigint").alias("reach_2"),
            F.coalesce("reach_3", F.lit(0)).cast("bigint").alias("reach_3"),
        )
        .orderBy("suppkey")
    )


def _grouped_auc_sql(group_expr: str, group_alias: str) -> str:
    """Pair-free tie-corrected AUC per group over the literal
    1001-bucket score grid — the roc_auc gate's construction with a
    partition key."""
    return f"""
    WITH {_scored_sql()}, bb AS (
      SELECT {group_expr} AS {group_alias}, y,
             CAST(floor(LEAST(GREATEST(score, 0.0), 1.0) * 1000)
                  AS INTEGER) AS bin
      FROM scored JOIN documents USING (doc_id)
    ), g AS (
      SELECT {group_alias}, bin, SUM(y) AS pos, SUM(1 - y) AS neg
      FROM bb GROUP BY {group_alias}, bin
    ), cum AS (
      SELECT {group_alias}, pos, neg,
             SUM(neg) OVER (PARTITION BY {group_alias} ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) - neg AS neg_below
      FROM g
    )
    SELECT {group_alias},
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(neg) AS BIGINT) AS n_neg,
           ROUND(CAST(SUM(2 * pos * neg_below + pos * neg) AS DOUBLE)
                 / (2.0 * SUM(pos) * SUM(neg)), 6) AS auc
    FROM cum GROUP BY {group_alias} ORDER BY {group_alias}
    """


def _grouped_auc(spark, sf_dir, group_col):
    scored = _scored_docs(spark, sf_dir).select(
        "doc_id", "y", _score_bin(F.col("score")).alias("bin")
    )
    d = load_table(spark, sf_dir, "documents")
    withg = scored.join(d.select("doc_id", group_col), "doc_id")
    g = withg.groupBy(group_col, "bin").agg(
        F.sum("y").alias("pos"),
        F.sum(F.lit(1) - F.col("y")).alias("neg"),
    )
    w = Window.partitionBy(group_col).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = g.select(
        group_col,
        "pos",
        "neg",
        (F.sum("neg").over(w) - F.col("neg")).alias("neg_below"),
    )
    return (
        cum.groupBy(group_col)
        .agg(
            F.sum("pos").cast("bigint").alias("n_pos"),
            F.sum("neg").cast("bigint").alias("n_neg"),
            F.round(
                F.sum(
                    F.lit(2) * F.col("pos") * F.col("neg_below")
                    + F.col("pos") * F.col("neg")
                ).cast("double")
                / (F.lit(2.0) * F.sum("pos") * F.sum("neg")),
                6,
            ).alias("auc"),
        )
        .orderBy(group_col)
    )


@query("auc_by_lang_docs", None)  # oracle attached below
def auc_by_lang_q(spark, sf_dir):
    """Per-language ROC-AUC — the slice-fairness readout: a filter
    whose headline AUC hides a collapsed slice (one language where
    ranking is no better than chance) silently skews the corpus it
    curates.  The roc_auc gate's pair-free windowed construction,
    partitioned by lang — one extra key in the groupBy/window, no new
    machinery."""
    return _grouped_auc(spark, sf_dir, "lang")


O["auc_by_lang_docs"] = _grouped_auc_sql("lang", "lang")


@query("cv_auc_folds_docs", None)  # oracle attached below
def cv_auc_q(spark, sf_dir):
    """Cross-validated AUC: the md5-contract 5-fold assignment
    (sampling.kfold_assign) partitions the eval, AUC per fold plus
    the across-fold spread — the variance bar a single headline AUC
    needs before anyone trusts a 0.01 improvement.  Same pair-free
    windowed AUC, partitioned by fold; the fold column is the
    engine-portable md5 bucket, so the oracle replays the exact
    split."""
    from ..operators.sampling import kfold_assign

    scored = _scored_docs(spark, sf_dir).select(
        "doc_id", "y", _score_bin(F.col("score")).alias("bin")
    )
    withf = kfold_assign(scored, "doc_id", k=5)
    g = withf.groupBy("fold", "bin").agg(
        F.sum("y").alias("pos"),
        F.sum(F.lit(1) - F.col("y")).alias("neg"),
    )
    w = Window.partitionBy("fold").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = g.select(
        "fold",
        "pos",
        "neg",
        (F.sum("neg").over(w) - F.col("neg")).alias("neg_below"),
    )
    return (
        cum.groupBy("fold")
        .agg(
            F.sum("pos").cast("bigint").alias("n_pos"),
            F.sum("neg").cast("bigint").alias("n_neg"),
            F.round(
                F.sum(
                    F.lit(2) * F.col("pos") * F.col("neg_below")
                    + F.col("pos") * F.col("neg")
                ).cast("double")
                / (F.lit(2.0) * F.sum("pos") * F.sum("neg")),
                6,
            ).alias("auc"),
        )
        .select(
            F.col("fold").cast("bigint").alias("fold"),
            "n_pos",
            "n_neg",
            "auc",
        )
        .orderBy("fold")
    )


def _cv_auc_oracle() -> str:
    return f"""
    WITH {_scored_sql()}, bb AS (
      SELECT CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                  1, 8)) AS BIGINT) % 5 AS INTEGER) AS fold,
             y,
             CAST(floor(LEAST(GREATEST(score, 0.0), 1.0) * 1000)
                  AS INTEGER) AS bin
      FROM scored
    ), g AS (
      SELECT fold, bin, SUM(y) AS pos, SUM(1 - y) AS neg
      FROM bb GROUP BY fold, bin
    ), cum AS (
      SELECT fold, pos, neg,
             SUM(neg) OVER (PARTITION BY fold ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) - neg AS neg_below
      FROM g
    )
    SELECT CAST(fold AS BIGINT) AS fold,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(neg) AS BIGINT) AS n_neg,
           ROUND(CAST(SUM(2 * pos * neg_below + pos * neg) AS DOUBLE)
                 / (2.0 * SUM(pos) * SUM(neg)), 6) AS auc
    FROM cum GROUP BY fold ORDER BY fold
    """


O["cv_auc_folds_docs"] = _cv_auc_oracle()


@query("spearman_chars_score_docs", None)  # oracle attached below
def spearman_q(spark, sf_dir):
    """Spearman rank correlation between document length and the
    classifier score — the monotone-dependence check behind the
    eval suite's choice of a length truth label (is the classifier
    just a length detector?).  Textbook tie handling with ZERO
    sorting: the average rank of a tied value group is
    ``below + (cnt+1)/2``, so DOUBLED average ranks
    (``2·below + cnt + 1``) are exact INTEGERS from one cumulative
    sum over each column's distinct-value frame (bounded by the value
    domain, the Mann–Whitney design rule), and Spearman is Pearson on
    those integers (affine-invariant) — every moment exact until the
    final division: the squared-rank sums grow as ~4n³, past int64 at
    ~1.3M rows, so they accumulate as decimal(38,0) here and HUGEINT
    in the oracle — exact to n ≈ 2.9e12 rows (advisor r6 item)."""
    scored = _scored_docs(spark, sf_dir).select(
        "doc_id", _score_bin(F.col("score")).alias("sbin")
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    both = scored.join(d, "doc_id").select("n_chars", "sbin")

    def rank2(df, col):
        g = df.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        w = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return g.select(
            col,
            (
                F.lit(2) * (F.sum("cnt").over(w) - F.col("cnt"))
                + F.col("cnt")
                + 1
            ).alias(f"r2_{col}"),
        )

    j = both.join(F.broadcast(rank2(both, "n_chars")), "n_chars").join(
        F.broadcast(rank2(both, "sbin")), "sbin"
    )
    dx = F.col("r2_n_chars").cast("decimal(38,0)")
    dy = F.col("r2_sbin").cast("decimal(38,0)")
    m = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dx).alias("sx"),
        F.sum(dy).alias("sy"),
        F.sum(dx * F.col("r2_n_chars")).alias("sxx"),
        F.sum(dy * F.col("r2_sbin")).alias("syy"),
        F.sum(dx * F.col("r2_sbin")).alias("sxy"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.round(
            (
                F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy") / F.col("n")
            )
            / (
                F.sqrt(
                    F.col("sxx").cast("double")
                    - F.col("sx").cast("double") * F.col("sx") / F.col("n")
                )
                * F.sqrt(
                    F.col("syy").cast("double")
                    - F.col("sy").cast("double") * F.col("sy") / F.col("n")
                )
            ),
            6,
        ).alias("spearman"),
    )


O["spearman_chars_score_docs"] = f"""
    WITH {_scored_sql()}, bt AS (
      SELECT d.n_chars,
             CAST(floor(LEAST(GREATEST(s.score, 0.0), 1.0) * 1000)
                  AS INTEGER) AS sbin
      FROM scored s JOIN documents d USING (doc_id)
    ), rx AS (
      SELECT n_chars,
             2 * (SUM(cnt) OVER (ORDER BY n_chars
                                 ROWS UNBOUNDED PRECEDING) - cnt)
               + cnt + 1 AS r2x
      FROM (SELECT n_chars, COUNT(*) AS cnt FROM bt GROUP BY n_chars)
    ), ry AS (
      SELECT sbin,
             2 * (SUM(cnt) OVER (ORDER BY sbin
                                 ROWS UNBOUNDED PRECEDING) - cnt)
               + cnt + 1 AS r2y
      FROM (SELECT sbin, COUNT(*) AS cnt FROM bt GROUP BY sbin)
    ), j AS (
      SELECT r2x, r2y FROM bt
      JOIN rx USING (n_chars) JOIN ry USING (sbin)
    ), m AS (
      SELECT COUNT(*) AS n, SUM(r2x) AS sx, SUM(r2y) AS sy,
             SUM(CAST(r2x AS HUGEINT) * r2x) AS sxx,
             SUM(CAST(r2y AS HUGEINT) * r2y) AS syy,
             SUM(CAST(r2x AS HUGEINT) * r2y) AS sxy
      FROM j
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           ROUND((sxy - CAST(sx AS DOUBLE) * sy / n)
                 / (sqrt(sxx - CAST(sx AS DOUBLE) * sx / n)
                    * sqrt(syy - CAST(sy AS DOUBLE) * sy / n)), 6)
             AS spearman
    FROM m
    """


