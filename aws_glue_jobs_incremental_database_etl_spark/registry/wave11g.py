"""Round-11 extension wave G (SURVEY.md §2.35): bias-corrected token
entropy estimators (Miller–Madow and Chao–Shen coverage-adjusted —
the plug-in entropy every quality report uses is biased LOW on
undersampled vocabularies), the Aalen–Johansen competing-risks
cumulative incidence (first purchase vs first error per user — the
KM companion that does NOT treat the competing event as censoring),
a closed-form Weibull fit on inter-arrival gaps (Menon/Gumbel
log-moment estimator — duration modeling beyond the exponential AD
gate), a Simpson's-paradox reversal detector (pooled vs per-type
daily trend signs — the composition-shift trap every aggregate
dashboard falls into), the Törnqvist and Walsh superlative price
indexes (completing the Laspeyres/Paasche/Fisher family on the same
matched basket), and the LSH S-curve recall planner (expected
candidate-recall of the deployed (b=8, r=4) minhash config per exact
Jaccard band — what a dedup owner reads before trusting LSH at a
threshold).

Every query follows the registry conventions (``._core``): identical
column aliases in the Spark plan and the DuckDB oracle, exact integer
cents/µs until the final division, ROUND(…, 6) on floating outputs,
deterministic tie-breaks, and bounded grids (per-source vocab folds,
the ≤31-row life grid, |types| strata, year×part baskets, 10
similarity bands) on the join side.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..materialize import checkpoint
from ..tables import load_table
from ._core import _SHINGLE_INTER_SQL, O, Q, query  # noqa: F401


# =====================================================================
# Bias-corrected token entropy (Miller-Madow, Chao-Shen) per source
# =====================================================================

@query(
    "entropy_bias_corrected_docs",
    r"""
    WITH tok AS (
      SELECT source,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
      FROM documents WHERE text IS NOT NULL
    ), cnt AS (
      SELECT source, t, COUNT(*) AS n FROM tok GROUP BY 1, 2
    ), tot AS (
      SELECT source, SUM(n) AS nn, COUNT(*) AS k,
             SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS f1
      FROM cnt GROUP BY source
    ), h AS (
      SELECT c.source, ANY_VALUE(t.nn) AS nn, ANY_VALUE(t.k) AS k,
             ANY_VALUE(t.f1) AS f1,
             -SUM((CAST(c.n AS DOUBLE) / t.nn)
                  * ln(CAST(c.n AS DOUBLE) / t.nn)) AS hp,
             -SUM(CASE WHEN t.f1 < t.nn THEN
                  ((1.0 - CAST(t.f1 AS DOUBLE) / t.nn) * c.n / t.nn)
                  * ln((1.0 - CAST(t.f1 AS DOUBLE) / t.nn) * c.n / t.nn)
                  / (1.0 - POWER(1.0 - (1.0 - CAST(t.f1 AS DOUBLE)
                                        / t.nn) * c.n / t.nn, t.nn))
                  END) AS hcs
      FROM cnt c JOIN tot t ON t.source = c.source
      GROUP BY c.source
    )
    SELECT source, CAST(nn AS BIGINT) AS n_tokens,
           CAST(k AS BIGINT) AS n_types,
           CAST(f1 AS BIGINT) AS n_singletons,
           ROUND(hp, 6) AS h_plugin,
           ROUND(hp + (k - 1.0) / (2.0 * nn), 6) AS h_miller_madow,
           ROUND(hcs, 6) AS h_chao_shen
    FROM h ORDER BY source
    """,
)
def entropy_bias_corrected_q(spark, sf_dir):
    """Token-entropy triple per source: the plug-in estimate, the
    Miller–Madow bias correction Ĥ + (K−1)/2N, and the Chao–Shen
    coverage-adjusted estimator (Good–Turing coverage C = 1 − f₁/N
    shrinks each probability, Horvitz–Thompson 1/(1−(1−p̃)^N)
    reweights for the unseen mass).  Plug-in entropy is biased LOW by
    ~K/2N nats on undersampled vocabularies — exactly the regime a
    new or small source is in — so ranking sources by raw entropy
    quietly penalizes the well-sampled ones; the corrected pair shows
    how much of each source's "diversity" is sampling artifact.
    Companion of chao1_good_turing (vocab SIZE) on the same counts:
    this corrects the DISTRIBUTION functional.  All-singleton sources
    (C = 0) return NULL for Chao–Shen rather than ln(0).

    Scale: one (source, token) count shuffle — the vocab_top_terms
    shape — then per-source folds against the |sources|-row totals
    broadcast; no corpus×corpus join anywhere."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    cnt = (
        d.select(
            "source",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("t"),
        )
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cnt.groupBy("source").agg(
        F.sum("n").alias("nn"),
        F.count(F.lit(1)).alias("k"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("f1"),
    )
    j = cnt.join(F.broadcast(tot), "source")
    p = F.col("n").cast("double") / F.col("nn")
    cov = F.lit(1.0) - F.col("f1").cast("double") / F.col("nn")
    ptil = cov * F.col("n") / F.col("nn")
    h = j.groupBy("source").agg(
        F.any_value("nn").alias("nn"),
        F.any_value("k").alias("k"),
        F.any_value("f1").alias("f1"),
        (-F.sum(p * F.log(p))).alias("hp"),
        (
            -F.sum(
                F.when(
                    F.col("f1") < F.col("nn"),
                    ptil
                    * F.log(ptil)
                    / (
                        F.lit(1.0)
                        - F.pow(F.lit(1.0) - ptil, F.col("nn"))
                    ),
                )
            )
        ).alias("hcs"),
    )
    return h.select(
        "source",
        F.col("nn").cast("bigint").alias("n_tokens"),
        F.col("k").cast("bigint").alias("n_types"),
        F.col("f1").cast("bigint").alias("n_singletons"),
        F.round("hp", 6).alias("h_plugin"),
        F.round(
            F.col("hp")
            + (F.col("k") - F.lit(1.0)) / (F.lit(2.0) * F.col("nn")),
            6,
        ).alias("h_miller_madow"),
        F.round("hcs", 6).alias("h_chao_shen"),
    ).orderBy("source")


# =====================================================================
# Aalen-Johansen competing-risks cumulative incidence
# =====================================================================

@query(
    "aalen_johansen_competing_events",
    """
    WITH bounds AS (
      SELECT MAX(CAST(ts AS DATE)) AS maxd FROM events
    ), u AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS origin,
             MIN(CASE WHEN event_type = 'purchase'
                 THEN CAST(ts AS DATE) END) AS pe,
             MIN(CASE WHEN event_type = 'error'
                 THEN CAST(ts AS DATE) END) AS er
      FROM events GROUP BY user_id
    ), subj AS (
      SELECT CASE
               WHEN pe IS NULL AND er IS NULL
                    THEN datediff('day', origin, maxd)
               WHEN er IS NULL OR (pe IS NOT NULL AND pe <= er)
                    THEN datediff('day', origin, pe)
               ELSE datediff('day', origin, er) END AS life,
             CASE WHEN pe IS NULL AND er IS NULL THEN 0
                  WHEN er IS NULL OR (pe IS NOT NULL AND pe <= er)
                       THEN 1
                  ELSE 2 END AS cause
      FROM u CROSS JOIN bounds
    ), hist AS (
      SELECT life, COUNT(*) AS n_all,
             SUM(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS d1,
             SUM(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS d2
      FROM subj GROUP BY life
    ), risk AS (
      SELECT life, n_all, d1, d2,
             SUM(n_all) OVER (ORDER BY life DESC
                              ROWS UNBOUNDED PRECEDING) AS nr
      FROM hist
    ), sprev AS (
      SELECT life, d1, d2, nr,
             COALESCE(MAX(CASE WHEN d1 + d2 = nr THEN 1 ELSE 0 END)
                OVER (ORDER BY life ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0) AS wiped,
             COALESCE(SUM(ln(CASE WHEN d1 + d2 = nr THEN 1.0
                       ELSE 1.0 - CAST(d1 + d2 AS DOUBLE) / nr END))
                OVER (ORDER BY life ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0.0) AS lsum
      FROM risk
    ), inc AS (
      SELECT life, d1, d2, nr,
             CASE WHEN wiped = 1 THEN 0.0 ELSE exp(lsum) END AS sminus
      FROM sprev
    ), cif AS (
      SELECT life, nr, d1, d2,
             SUM(sminus * d1 / nr) OVER (ORDER BY life
                 ROWS UNBOUNDED PRECEDING) AS cif1,
             SUM(sminus * d2 / nr) OVER (ORDER BY life
                 ROWS UNBOUNDED PRECEDING) AS cif2
      FROM inc
    )
    SELECT CAST(life AS BIGINT) AS t_days,
           CAST(nr AS BIGINT) AS at_risk,
           CAST(d1 AS BIGINT) AS d_purchase,
           CAST(d2 AS BIGINT) AS d_error,
           ROUND(cif1, 6) AS cif_purchase,
           ROUND(cif2, 6) AS cif_error
    FROM cif WHERE d1 + d2 > 0 ORDER BY t_days
    """,
)
def aalen_johansen_q(spark, sf_dir):
    """Aalen–Johansen cumulative incidence for two COMPETING first
    events per user — first purchase (conversion) vs first error
    (failure), clocked from the user's first activity, censored at
    the observation end if neither occurs (tie day → purchase,
    deterministic).  CIF_k(t) = Σ_{u≤t} S(u−)·d_k/n_u with S the
    ALL-cause KM — the estimator that fixes the textbook mistake of
    running per-cause KM with the competitor treated as censoring
    (1−KM overstates every cause's incidence; the per-cause KMs can
    sum past 1, the AJ CIFs cannot).  Companion of kaplan_meier
    (single risk) and nelson_aalen (hazard) on the same event table.

    Scale: per-user min-folds, then the ≤31-row life-grid carries a
    reverse-cumulative at-risk window, the exp(Σln) survival with the
    KM zero-tail flag (computed over STRICTLY-previous rows), and two
    cumulative CIF sums — the kaplan_meier/actuarial audited shape."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(F.max(F.to_date("ts")).alias("maxd"))
    u = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("origin"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.to_date("ts"))
        ).alias("pe"),
        F.min(
            F.when(F.col("event_type") == "error", F.to_date("ts"))
        ).alias("er"),
    )
    pe, er = F.col("pe"), F.col("er")
    both_null = pe.isNull() & er.isNull()
    p_wins = er.isNull() | (pe.isNotNull() & (pe <= er))
    subj = u.join(F.broadcast(bounds), F.lit(True)).select(
        F.when(both_null, F.datediff(F.col("maxd"), F.col("origin")))
        .when(p_wins, F.datediff(pe, F.col("origin")))
        .otherwise(F.datediff(er, F.col("origin")))
        .alias("life"),
        F.when(both_null, 0).when(p_wins, 1).otherwise(2).alias("cause"),
    )
    hist = subj.groupBy("life").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(F.when(F.col("cause") == 1, 1).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("cause") == 2, 1).otherwise(0)).alias("d2"),
    )
    wrev = Window.orderBy(F.col("life").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = hist.withColumn("nr", F.sum("n_all").over(wrev))
    d = F.col("d1") + F.col("d2")
    wprev = Window.orderBy("life").rowsBetween(
        Window.unboundedPreceding, -1
    )
    term = F.when(d == F.col("nr"), F.lit(1.0)).otherwise(
        F.lit(1.0) - d.cast("double") / F.col("nr")
    )
    sprev = risk.select(
        "life",
        "d1",
        "d2",
        "nr",
        F.coalesce(
            F.max(F.when(d == F.col("nr"), 1).otherwise(0)).over(wprev),
            F.lit(0),
        ).alias("wiped"),
        F.coalesce(F.sum(F.log(term)).over(wprev), F.lit(0.0)).alias(
            "lsum"
        ),
    )
    inc = sprev.select(
        "life",
        "d1",
        "d2",
        "nr",
        F.when(F.col("wiped") == 1, F.lit(0.0))
        .otherwise(F.exp("lsum"))
        .alias("sminus"),
    )
    wcum = Window.orderBy("life").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cif = inc.select(
        "life",
        "nr",
        "d1",
        "d2",
        F.sum(F.col("sminus") * F.col("d1") / F.col("nr"))
        .over(wcum)
        .alias("cif1"),
        F.sum(F.col("sminus") * F.col("d2") / F.col("nr"))
        .over(wcum)
        .alias("cif2"),
    )
    return (
        cif.filter((F.col("d1") + F.col("d2")) > 0)
        .select(
            F.col("life").cast("bigint").alias("t_days"),
            F.col("nr").cast("bigint").alias("at_risk"),
            F.col("d1").cast("bigint").alias("d_purchase"),
            F.col("d2").cast("bigint").alias("d_error"),
            F.round("cif1", 6).alias("cif_purchase"),
            F.round("cif2", 6).alias("cif_error"),
        )
        .orderBy("t_days")
    )


# =====================================================================
# Weibull fit on inter-arrival gaps (Gumbel log-moment estimator)
# =====================================================================

@query(
    "weibull_interarrival_fit_events",
    """
    WITH g AS (
      SELECT event_type,
             (epoch_us(ts) - epoch_us(LAG(ts) OVER (
                PARTITION BY user_id, event_type
                ORDER BY ts, event_id))) // 1000000 AS gap_s
      FROM events
    ), x AS (
      SELECT event_type, ln(CAST(gap_s AS DOUBLE) / 3600.0) AS lx,
             gap_s
      FROM g WHERE gap_s IS NOT NULL AND gap_s > 0
    ), m AS (
      SELECT event_type, COUNT(*) AS n, SUM(lx) AS sx,
             SUM(lx * lx) AS sxx, SUM(gap_s) AS sg
      FROM x GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
           ROUND(CASE WHEN n >= 3
                       AND (sxx - sx * sx / n) / (n - 1) > 0 THEN
                 PI() / SQRT(6.0 * (sxx - sx * sx / n) / (n - 1))
                 END, 6) AS k_shape,
           ROUND(CASE WHEN n >= 3
                       AND (sxx - sx * sx / n) / (n - 1) > 0 THEN
                 exp(sx / n + 0.5772156649015329
                     * SQRT(6.0 * (sxx - sx * sx / n) / (n - 1)) / PI())
                 END, 4) AS lambda_hours,
           ROUND(CAST(sg AS DOUBLE) / n / 3600.0, 4) AS mean_gap_hours
    FROM m ORDER BY event_type
    """,
)
def weibull_interarrival_q(spark, sf_dir):
    """Closed-form Weibull fit on per-user inter-arrival gaps by
    event type, via the Gumbel log-moment (Menon) estimator: if X ~
    Weibull(k, λ) then ln X is Gumbel with Var = π²/(6k²) and mean =
    ln λ − γ/k, so k = π/(σ_lnX·√6) and λ = exp(μ_lnX + γ/k) — no
    iteration, no MLE solver.  k < 1 ⇒ bursty (clustered arrivals,
    decreasing hazard), k ≈ 1 ⇒ memoryless (the exponential the AD
    gate tests), k > 1 ⇒ regularizing — the one-number
    burstiness-vs-schedule verdict per event type, beyond the
    second-moment Fano/burstiness gates.  Zero-second gaps
    (same-second events) drop — ln needs positive support.

    Scale: one (user, type)-partitioned LAG (exact integer µs → whole
    seconds), then ln on integers (deterministic both engines) into a
    per-type moment fold — never a global window."""
    from ..functions.vectors import epoch_us

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    g = (
        e.select(
            "event_type",
            epoch_us(F.col("ts")).alias("_u"),
            "ts",
            "event_id",
            "user_id",
        )
        .withColumn("_lag", F.lag("_u").over(w))
        .filter(F.col("_lag").isNotNull())
        .select(
            "event_type",
            F.expr("(_u - _lag) div 1000000").alias("gap_s"),
        )
        .filter(F.col("gap_s") > 0)
    )
    lx = F.log(F.col("gap_s").cast("double") / 3600.0)
    m = g.select("event_type", lx.alias("lx"), "gap_s").groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lx").alias("sx"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum("gap_s").alias("sg"),
    )
    n = F.col("n")
    s2 = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)
    ok = (n >= 3) & (s2 > 0)
    gamma = 0.5772156649015329
    return m.select(
        "event_type",
        n.cast("bigint").alias("n_gaps"),
        F.round(
            F.when(ok, F.lit(math.pi) / F.sqrt(F.lit(6.0) * s2)), 6
        ).alias("k_shape"),
        F.round(
            F.when(
                ok,
                F.exp(
                    F.col("sx") / n
                    + F.lit(gamma)
                    * F.sqrt(F.lit(6.0) * s2)
                    / F.lit(math.pi)
                ),
            ),
            4,
        ).alias("lambda_hours"),
        F.round(F.col("sg").cast("double") / n / 3600.0, 4).alias(
            "mean_gap_hours"
        ),
    ).orderBy("event_type")


# =====================================================================
# Simpson's-paradox reversal detector (pooled vs per-type trend)
# =====================================================================

@query(
    "simpson_reversal_events",
    """
    WITH daily_all AS (
      SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 100.0 AS y
      FROM events GROUP BY 1
    ), mo AS (
      SELECT COUNT(*) AS n, SUM(CAST(x AS DOUBLE)) AS sx, SUM(y) AS sy,
             SUM(CAST(x AS DOUBLE) * x) AS sxx,
             SUM(CAST(x AS DOUBLE) * y) AS sxy
      FROM daily_all
    ), overall AS (
      SELECT (sxy - sx * sy / n) / (sxx - sx * sx / n) AS slope_o
      FROM mo
    ), daily_t AS (
      SELECT event_type,
             datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 100.0 AS y
      FROM events GROUP BY 1, 2
    ), mt AS (
      SELECT event_type, COUNT(*) AS n, SUM(CAST(x AS DOUBLE)) AS sx,
             SUM(y) AS sy, SUM(CAST(x AS DOUBLE) * x) AS sxx,
             SUM(CAST(x AS DOUBLE) * y) AS sxy
      FROM daily_t GROUP BY event_type
    ), strata AS (
      SELECT event_type,
             (sxy - sx * sy / n) / (sxx - sx * sx / n) AS slope_t
      FROM mt WHERE n >= 2 AND sxx - sx * sx / n > 0
    )
    SELECT ROUND(o.slope_o, 6) AS overall_slope,
           CAST(COUNT(*) AS BIGINT) AS n_strata,
           CAST(SUM(CASE WHEN SIGN(ROUND(s.slope_t, 6))
                              * SIGN(ROUND(o.slope_o, 6)) = -1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_reversed,
           SUM(CASE WHEN SIGN(ROUND(s.slope_t, 6))
                         * SIGN(ROUND(o.slope_o, 6)) = -1
                    THEN 1 ELSE 0 END) > 0 AS any_reversal
    FROM strata s CROSS JOIN overall o GROUP BY o.slope_o
    """,
)
def simpson_reversal_q(spark, sf_dir):
    """Simpson's-paradox detector on the daily value trend: the OLS
    slope of the POOLED daily mean value vs each event type's own
    slope — a stratum whose sign opposes the pooled sign (after
    ROUND(6), so float dust can't manufacture a reversal) means the
    aggregate trend is a composition artifact (mix shift between
    types), not a real within-type movement.  The one-number guard
    every aggregate dashboard needs before a pooled trend is
    reported; companion of the per-stratum Mantel–Haenszel and CUPED
    gates, which ADJUST for strata — this one detects when adjusting
    matters.

    Scale: two calendar-bounded daily folds (pooled, per-type), a
    |types|-row slope frame, and a 1-row overall-slope crossJoin —
    the dickey_fuller audited shape."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    x = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))

    def slope_of(df, keys):
        daily = df.groupBy(*keys, x.alias("x")).agg(
            (
                F.sum(cents).cast("double") / F.count(F.lit(1)) / 100.0
            ).alias("y")
        )
        xd = F.col("x").cast("double")
        m = daily.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(xd).alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(xd * F.col("x")).alias("sxx"),
            F.sum(xd * F.col("y")).alias("sxy"),
        )
        n = F.col("n")
        sxx_c = F.col("sxx") - F.col("sx") * F.col("sx") / n
        sxy_c = F.col("sxy") - F.col("sx") * F.col("sy") / n
        return m, sxx_c, sxy_c, n

    mo, sxx_o, sxy_o, n_o = slope_of(e, [])
    overall = mo.select((sxy_o / sxx_o).alias("slope_o"))
    mt, sxx_t, sxy_t, n_t = slope_of(e, ["event_type"])
    strata = mt.filter((n_t >= 2) & (sxx_t > 0)).select(
        "event_type", (sxy_t / sxx_t).alias("slope_t")
    )
    rev = (
        F.signum(F.round(F.col("slope_t"), 6))
        * F.signum(F.round(F.col("slope_o"), 6))
        == -1
    )
    return (
        strata.join(F.broadcast(overall), F.lit(True))
        .groupBy("slope_o")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_strata"),
            F.sum(F.when(rev, 1).otherwise(0))
            .cast("bigint")
            .alias("n_reversed"),
        )
        .select(
            F.round("slope_o", 6).alias("overall_slope"),
            "n_strata",
            "n_reversed",
            (F.col("n_reversed") > 0).alias("any_reversal"),
        )
    )


# =====================================================================
# Tornqvist + Walsh superlative price indexes (matched basket)
# =====================================================================

@query(
    "tornqvist_price_index_lineitem",
    """
    WITH py AS (
      SELECT l_partkey AS part, year(l_shipdate) AS yr,
             SUM(CAST(ROUND(l_extendedprice / l_quantity * 1000000)
                      AS BIGINT)) AS sp,
             COUNT(*) AS cnt,
             SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS q
      FROM lineitem GROUP BY 1, 2
      HAVING SUM(CAST(ROUND(l_quantity) AS BIGINT)) > 0
    ), base_yr AS (
      SELECT MIN(yr) AS y0 FROM py
    ), b AS (
      SELECT part, CAST(sp AS DOUBLE) / cnt AS p0, q AS q0
      FROM py, base_yr WHERE yr = y0
    ), t AS (
      SELECT yr, part, CAST(sp AS DOUBLE) / cnt AS pt, q AS qt
      FROM py, base_yr WHERE yr > y0
    ), j AS (
      SELECT t.yr, t.part, b.p0, b.q0, t.pt, t.qt
      FROM t JOIN b USING (part)
    ), rev AS (
      SELECT yr, SUM(p0 * q0) AS r0, SUM(pt * qt) AS rt
      FROM j GROUP BY yr
    ), idx AS (
      SELECT j.yr, COUNT(*) AS n_parts,
             SUM(0.5 * (j.p0 * j.q0 / rev.r0 + j.pt * j.qt / rev.rt)
                 * ln(j.pt / j.p0)) AS ln_torn,
             SUM(j.pt * SQRT(CAST(j.q0 AS DOUBLE) * j.qt))
               / SUM(j.p0 * SQRT(CAST(j.q0 AS DOUBLE) * j.qt)) AS walsh
      FROM j JOIN rev ON rev.yr = j.yr
      GROUP BY j.yr
    )
    SELECT CAST(yr AS BIGINT) AS yr, CAST(n_parts AS BIGINT) AS n_parts,
           ROUND(exp(ln_torn), 6) AS tornqvist,
           ROUND(walsh, 6) AS walsh
    FROM idx ORDER BY yr
    """,
)
def tornqvist_price_index_q(spark, sf_dir):
    """Törnqvist and Walsh price indexes per ship year on the SAME
    matched basket as the Fisher gate: Törnqvist is the
    share-weighted geometric mean (exp Σ ½(w₀+w_t)·ln(p_t/p₀), the
    superlative index central banks favor for chained series), Walsh
    weights by the geometric mean of the period quantities
    (Σp_t√(q₀q_t)/Σp₀√(q₀q_t)).  Completing the superlative family
    next to Fisher lets a pipeline owner SEE index-formula risk: the
    three agree under stable expenditure shares and split when
    substitution is violent — a spread worth flagging before any is
    trusted.

    Parity/scale contract identical to the Fisher twin: ×1e6 exact
    integer unit prices, exact integer quantities, the part-keyed
    base⋈current merge-hinted equi-join, per-year revenue totals
    joined back on the bounded year key, one fold to one row per
    year."""
    li = load_table(spark, sf_dir, "lineitem")
    py = checkpoint(
        li.groupBy(
            F.col("l_partkey").alias("part"),
            F.year("l_shipdate").alias("yr"),
        )
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    / F.col("l_quantity")
                    * 1000000
                ).cast("bigint")
            ).alias("sp"),
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias("q"),
        )
        .filter(F.col("q") > 0)
        # py feeds the base-year fold AND both matched-basket sides;
        # j feeds the revenue totals AND the index fold — cut lineages
        # so the part×year aggregate and the basket join each run once
        # (8 parquet scans in the pre-cut plan)
    )
    base_yr = py.agg(F.min("yr").alias("y0"))
    withy0 = py.join(F.broadcast(base_yr), F.lit(True))
    b = withy0.filter(F.col("yr") == F.col("y0")).select(
        "part",
        (F.col("sp").cast("double") / F.col("cnt")).alias("p0"),
        F.col("q").alias("q0"),
    )
    t = withy0.filter(F.col("yr") > F.col("y0")).select(
        "yr",
        "part",
        (F.col("sp").cast("double") / F.col("cnt")).alias("pt"),
        F.col("q").alias("qt"),
    )
    j = checkpoint(t.hint("merge").join(b, "part"))
    rev = j.groupBy("yr").agg(
        F.sum(F.col("p0") * F.col("q0")).alias("r0"),
        F.sum(F.col("pt") * F.col("qt")).alias("rt"),
    )
    jj = j.join(F.broadcast(rev), "yr")
    sq = F.sqrt(F.col("q0").cast("double") * F.col("qt"))
    idx = jj.groupBy("yr").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(
            F.lit(0.5)
            * (
                F.col("p0") * F.col("q0") / F.col("r0")
                + F.col("pt") * F.col("qt") / F.col("rt")
            )
            * F.log(F.col("pt") / F.col("p0"))
        ).alias("ln_torn"),
        (
            F.sum(F.col("pt") * sq) / F.sum(F.col("p0") * sq)
        ).alias("walsh"),
    )
    return idx.select(
        F.col("yr").cast("bigint").alias("yr"),
        F.col("n_parts").cast("bigint").alias("n_parts"),
        F.round(F.exp("ln_torn"), 6).alias("tornqvist"),
        F.round("walsh", 6).alias("walsh"),
    ).orderBy("yr")


# =====================================================================
# LSH S-curve recall planner (expected recall per Jaccard band)
# =====================================================================

@query(
    "lsh_scurve_recall_docs",
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
    ), {_SHINGLE_INTER_SQL}, j AS (
      SELECT c::DOUBLE / (na + nb - c) AS jac FROM inter
    ), banded AS (
      SELECT LEAST(CAST(FLOOR(jac * 10) AS INTEGER), 9) AS band,
             jac,
             1.0 - POWER(1.0 - POWER(jac, 4), 8) AS p_cand
      FROM j
    )
    SELECT CAST(band AS BIGINT) AS band,
           ROUND(band / 10.0, 1) AS s_lo,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(jac), 4) AS mean_jaccard,
           ROUND(AVG(p_cand), 4) AS expected_recall
    FROM banded GROUP BY band ORDER BY band
    """,
)
def lsh_scurve_recall_q(spark, sf_dir):
    """LSH S-curve recall planner for the deployed minhash config
    (num_hashes=32 as 8 bands × 4 rows — operators.dedup defaults):
    over the EXACT 3-gram-Jaccard candidate pairs, the probability
    the banded minhash surfaces a pair with similarity s is
    1−(1−s⁴)⁸, so per similarity band this reports how many true
    near-dup pairs exist and what fraction LSH is EXPECTED to
    recall.  The number a dedup owner reads before trusting LSH at a
    threshold: at s = 0.5 the curve recalls ~42%, at 0.8 ~99% — if
    the pair mass sits in the 0.5–0.6 band, banded minhash alone
    under-deduplicates and the prefix/containment passes must carry
    the rest.  (The curve is the standard analytic collision
    probability evaluated on the true pair distribution — the
    empirical-vs-analytic ANN twin is ann_recall_lsh_vs_exact.)

    Scale: identical candidate generation to jaccard_near_dup_pairs
    (gram-keyed postings join, merge-hinted in the operator); the
    band fold is a 10-cell hash agg."""
    from ..operators.dedup import jaccard_near_dup_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_near_dup_pairs(
        d, "doc_id", "text", threshold=0.0, shingle_k=3
    ).select(F.col("jaccard").alias("jac"))
    band = F.least(F.floor(F.col("jac") * 10).cast("int"), F.lit(9))
    p_cand = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(F.col("jac"), 4), 8
    )
    return (
        pairs.select(
            band.alias("band"), "jac", p_cand.alias("p_cand")
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.avg("jac"), 4).alias("mean_jaccard"),
            F.round(F.avg("p_cand"), 4).alias("expected_recall"),
        )
        .select(
            F.col("band").cast("bigint").alias("band"),
            F.round(F.col("band") / 10.0, 1).alias("s_lo"),
            "n_pairs",
            "mean_jaccard",
            "expected_recall",
        )
        .orderBy("band")
    )
