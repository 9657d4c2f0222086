"""Round-11 extension wave D (SURVEY.md §2.32): chance-corrected
agreement with missing ratings (Krippendorff's α) and prevalence
robustness (Gwet's AC1 vs Cohen's κ side by side), method agreement
(Bland–Altman limits), hidden-periodicity detection (Fisher's g on
the periodogram), effective dimensionality (participation ratio),
robust scale (biweight midvariance), median-quadrant association
(Blomqvist's β), and exponential goodness-of-fit for interarrival
times (one-sample Anderson–Darling on the value grid).

Every query follows the registry conventions (``._core``): identical
column aliases in the Spark plan and the DuckDB oracle, exact integer
arithmetic until the final division, ROUND(…, 6) on floating outputs,
deterministic tie-breaks on every rank/top-k boundary, and bounded
grids (value domains, dim², ≤365-day windows) — never corpus² — on
the join side.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401  resolves pandas_udf string annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import epoch_us
from ..materialize import checkpoint
from ..tables import load_table
from ._core import O, Q, query  # noqa: F401


# =====================================================================
# Krippendorff's alpha (nominal, binary) with missing ratings
# =====================================================================

@query(
    "krippendorff_alpha_quality_docs",
    r"""
    WITH rated AS (
      SELECT doc_id,
             (CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END
              + CASE WHEN lower(text) LIKE '% the %' THEN 1 ELSE 0 END
              + CASE WHEN n_chars >= 50 AND
                          len(string_split_regex(lower(trim(text)),
                              '\s+')) >= 40 THEN 1 ELSE 0 END) AS n1,
             CASE WHEN n_chars >= 50 THEN 3 ELSE 2 END AS m
      FROM documents WHERE text IS NOT NULL AND text <> ''
    ), units AS (
      SELECT n1, m - n1 AS n0, m FROM rated WHERE m >= 2
    ), folds AS (
      SELECT COUNT(*) AS n_units, SUM(m) AS ntot,
             SUM(n1) AS c1, SUM(n0) AS c0,
             SUM(CAST(n0 AS DOUBLE) * n1 / (m - 1)) AS o01
      FROM units
    )
    SELECT CAST(n_units AS BIGINT) AS n_units,
           CAST(ntot AS BIGINT) AS n_ratings,
           ROUND(1.0 - (ntot - 1) * o01
                 / (CAST(c0 AS DOUBLE) * c1), 6) AS kripp_alpha
    FROM folds
    """,
)
def krippendorff_q(spark, sf_dir):
    """Krippendorff's α (nominal, binary) across the three
    deterministic quality raters of the Fleiss gate — but with
    MISSING data: the word-count rater abstains on sub-50-char
    documents, which is exactly the case Fleiss/Cohen cannot handle
    and the reason content-analysis methodology standardized on α
    (Krippendorff 2004).  Coincidence-matrix form for binary nominal
    data: α = 1 − (n··−1)·Σᵤ nᵤ₀nᵤ₁/(mᵤ−1) / (n₀n₁), units with ≥2
    ratings.  One map + one 5-scalar fold — exact integers until the
    final division, map-only at 100 TB.

    Cites the fleiss_kappa_quality_docs rater construction
    (wave9b.py) so the two agreement gates disagree only through the
    missingness mechanism."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("text") != "")
    )
    low = F.lower(F.col("text"))
    wc = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    n1 = (
        F.when(F.col("n_chars") >= 200, 1).otherwise(0)
        + F.when(low.like("% the %"), 1).otherwise(0)
        + F.when((F.col("n_chars") >= 50) & (wc >= 40), 1).otherwise(0)
    )
    m = F.when(F.col("n_chars") >= 50, 3).otherwise(2)
    units = d.select(n1.alias("n1"), m.alias("m")).filter(
        F.col("m") >= 2
    ).select("n1", (F.col("m") - F.col("n1")).alias("n0"), "m")
    folds = units.agg(
        F.count(F.lit(1)).alias("n_units"),
        F.sum("m").alias("ntot"),
        F.sum("n1").alias("c1"),
        F.sum("n0").alias("c0"),
        F.sum(
            F.col("n0").cast("double") * F.col("n1") / (F.col("m") - 1)
        ).alias("o01"),
    )
    return folds.select(
        F.col("n_units").cast("bigint").alias("n_units"),
        F.col("ntot").cast("bigint").alias("n_ratings"),
        F.round(
            1.0
            - (F.col("ntot") - 1)
            * F.col("o01")
            / (F.col("c0").cast("double") * F.col("c1")),
            6,
        ).alias("kripp_alpha"),
    )


# =====================================================================
# Gwet's AC1 vs Cohen's kappa (the prevalence paradox, side by side)
# =====================================================================

@query(
    "gwet_ac1_quality_docs",
    """
    WITH rated AS (
      SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS r1,
             CASE WHEN lower(text) LIKE '% the %' THEN 1 ELSE 0 END
               AS r2
      FROM documents WHERE text IS NOT NULL AND text <> ''
    ), folds AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS agree,
             SUM(r1) AS s1, SUM(r2) AS s2
      FROM rated
    ), d AS (
      SELECT n, CAST(agree AS DOUBLE) / n AS pa,
             CAST(s1 AS DOUBLE) / n AS p1,
             CAST(s2 AS DOUBLE) / n AS p2
      FROM folds
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           ROUND(pa, 6) AS p_agree,
           ROUND((pa - 2 * ((p1 + p2) / 2) * (1 - (p1 + p2) / 2))
                 / (1 - 2 * ((p1 + p2) / 2) * (1 - (p1 + p2) / 2)), 6)
             AS gwet_ac1,
           ROUND((pa - (p1 * p2 + (1 - p1) * (1 - p2)))
                 / (1 - (p1 * p2 + (1 - p1) * (1 - p2))), 6)
             AS cohen_kappa
    FROM d
    """,
)
def gwet_ac1_q(spark, sf_dir):
    """Gwet's AC1 (2008) next to Cohen's κ for the same two binary
    quality raters — the chance-corrected agreement pair that exposes
    the PREVALENCE PARADOX: when one category dominates, κ collapses
    toward 0 even at near-perfect raw agreement (its chance term
    rewards imbalance), while AC1's chance term 2π̄(1−π̄) stays
    calibrated — which is why rater-reliability audits report both.
    One map + one 4-integer fold; everything exact until the final
    divisions."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("text") != "")
    )
    r1 = F.when(F.col("n_chars") >= 200, 1).otherwise(0)
    r2 = F.when(F.lower(F.col("text")).like("% the %"), 1).otherwise(0)
    folds = d.select(r1.alias("r1"), r2.alias("r2")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("r1") == F.col("r2"), 1).otherwise(0)).alias(
            "agree"
        ),
        F.sum("r1").alias("s1"),
        F.sum("r2").alias("s2"),
    )
    pa = F.col("agree").cast("double") / F.col("n")
    p1 = F.col("s1").cast("double") / F.col("n")
    p2 = F.col("s2").cast("double") / F.col("n")
    pbar = (p1 + p2) / 2
    pe_ac1 = 2 * pbar * (1 - pbar)
    pe_k = p1 * p2 + (1 - p1) * (1 - p2)
    return folds.select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.round(pa, 6).alias("p_agree"),
        F.round((pa - pe_ac1) / (1 - pe_ac1), 6).alias("gwet_ac1"),
        F.round((pa - pe_k) / (1 - pe_k), 6).alias("cohen_kappa"),
    )


# =====================================================================
# Bland–Altman limits of agreement between two token-count estimators
# =====================================================================

@query(
    "bland_altman_tokenizers_docs",
    r"""
    WITH pairs AS (
      SELECT len(string_split_regex(lower(trim(text)), '\s+')) AS x,
             n_chars / 5.0 AS y
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ), folds AS (
      SELECT COUNT(*) AS n, AVG(x - y) AS md, STDDEV_SAMP(x - y) AS sd
      FROM pairs
    ), lim AS (
      SELECT n, md, sd, md - 1.96 * sd AS lo, md + 1.96 * sd AS hi
      FROM folds
    ), cov AS (
      SELECT AVG(CASE WHEN p.x - p.y >= lim.lo AND p.x - p.y <= lim.hi
                      THEN 1.0 ELSE 0.0 END) AS within
      FROM pairs p, lim
    )
    SELECT CAST(lim.n AS BIGINT) AS n_docs,
           ROUND(lim.md, 6) AS mean_diff,
           ROUND(lim.lo, 6) AS loa_lo,
           ROUND(lim.hi, 6) AS loa_hi,
           ROUND(cov.within, 6) AS frac_within
    FROM lim, cov
    """,
)
def bland_altman_q(spark, sf_dir):
    """Bland–Altman limits of agreement (Lancet 1986) between two
    token-count estimators — the whitespace tokenizer vs the chars/5
    heuristic every budget planner falls back on: correlation gates
    can't answer "can method B replace method A?" (two methods can
    correlate at .99 yet disagree by 30 tokens/doc); the BA interval
    mean±1.96·SD of the differences is the standard answer, plus the
    empirical coverage of that interval (≈95% under normal diffs —
    a miss flags heavy-tailed disagreement).  One fold for (μ, SD),
    one broadcast compare pass — both corpus-linear."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    pairs = d.select(
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "x"
        ),
        (F.col("n_chars") / 5.0).alias("y"),
    ).select((F.col("x") - F.col("y")).alias("diff"))
    folds = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("diff").alias("md"),
        F.stddev_samp("diff").alias("sd"),
    ).select(
        "n",
        "md",
        (F.col("md") - 1.96 * F.col("sd")).alias("lo"),
        (F.col("md") + 1.96 * F.col("sd")).alias("hi"),
    )
    cov = (
        pairs.join(F.broadcast(folds), F.lit(True))
        .agg(
            F.avg(
                F.when(
                    (F.col("diff") >= F.col("lo"))
                    & (F.col("diff") <= F.col("hi")),
                    1.0,
                ).otherwise(0.0)
            ).alias("within")
        )
    )
    return (
        folds.join(F.broadcast(cov), F.lit(True))
        .select(
            F.col("n").cast("bigint").alias("n_docs"),
            F.round(F.col("md"), 6).alias("mean_diff"),
            F.round(F.col("lo"), 6).alias("loa_lo"),
            F.round(F.col("hi"), 6).alias("loa_hi"),
            F.round(F.col("within"), 6).alias("frac_within"),
        )
    )


# =====================================================================
# Fisher's g test for hidden periodicity (last 365 days, per type)
# =====================================================================

@query(
    "fisher_g_periodicity_events",
    """
    WITH mx AS (
      SELECT MAX(CAST(ts AS DATE)) AS dmax FROM events
    ), daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
      FROM events, mx
      WHERE CAST(ts AS DATE) > dmax - INTERVAL 365 DAY
      GROUP BY 1, 2
    ), num AS (
      SELECT event_type, y,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY day) AS t,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM daily
    ), t AS (
      SELECT * FROM num WHERE n >= 30
    ), freqs AS (
      SELECT t.event_type, t.t, t.y, t.n, k.k
      FROM t JOIN (SELECT unnest(range(1, 183)) AS k) k
        ON 2 * k.k <= t.n - 1
    ), ords AS (
      SELECT event_type, k, ANY_VALUE(n) AS n,
             SUM(y * COS(2 * 3.141592653589793 * k * t / n)) AS ck,
             SUM(y * SIN(2 * 3.141592653589793 * k * t / n)) AS sk
      FROM freqs GROUP BY event_type, k
    ), ik AS (
      SELECT event_type, k, n,
             (ck * ck + sk * sk) / n AS i
      FROM ords
    ), tot AS (
      SELECT event_type, SUM(i) AS si, COUNT(*) AS m,
             ANY_VALUE(n) AS n
      FROM ik GROUP BY event_type
    ), ranked AS (
      SELECT ik.event_type, ik.k,
             ROUND(ik.i / tot.si, 6) AS gk, tot.m, tot.n,
             ROW_NUMBER() OVER (PARTITION BY ik.event_type
                                ORDER BY ROUND(ik.i / tot.si, 6) DESC,
                                         ik.k ASC) AS r
      FROM ik JOIN tot ON tot.event_type = ik.event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           CAST(m AS BIGINT) AS m_freqs,
           CAST(k AS BIGINT) AS top_k,
           ROUND(CAST(n AS DOUBLE) / k, 6) AS top_period_days,
           gk AS fisher_g,
           ROUND(m * POWER(1.0 - gk, m - 1), 6) AS p_approx
    FROM ranked WHERE r = 1 ORDER BY event_type
    """,
)
def fisher_g_q(spark, sf_dir):
    """Fisher's g test (1929) for hidden periodicity in each type's
    daily counts over the last 365 days: the periodogram ordinates
    I(fₖ) = (Cₖ²+Sₖ²)/n at the Fourier frequencies, g = max I / Σ I,
    with the standard first-term null approximation p ≈ m(1−g)^{m−1}
    — the calibrated "is there a real cycle?" question that the
    seasonal-strength and ACF gates describe but don't TEST, and the
    spectral-entropy gate summarizes without localizing.  Reports the
    winning frequency as a period in days (7 ⇒ weekly seasonality).

    Scale contract: the recency window caps the (t × k) grid at
    ≤365×182 cells per type regardless of table span (the SampEn
    discipline); ordinates are ratios of same-magnitude sums, ranked
    on ROUND(g, 6) with a k tie-break so both engines pick the same
    winner."""
    e = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    mx = e.agg(F.max(day).alias("dmax"))
    daily = (
        e.join(F.broadcast(mx), F.lit(True))
        .filter(day > F.date_sub(F.col("dmax"), 365))
        .groupBy("event_type", day.alias("day"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    wn = Window.partitionBy("event_type")
    num = daily.select(
        "event_type",
        "y",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .alias("t"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    t = num.filter(F.col("n") >= 30)
    ks = spark.range(1, 183).select(F.col("id").alias("k"))
    freqs = t.join(
        F.broadcast(ks), 2 * F.col("k") <= F.col("n") - 1
    )
    pi2 = 2 * 3.141592653589793
    arg = pi2 * F.col("k") * F.col("t") / F.col("n")
    ords = freqs.groupBy("event_type", "k").agg(
        F.any_value("n").alias("n"),
        F.sum(F.col("y") * F.cos(arg)).alias("ck"),
        F.sum(F.col("y") * F.sin(arg)).alias("sk"),
    )
    ik = ords.select(
        "event_type",
        "k",
        "n",
        (
            (F.col("ck") * F.col("ck") + F.col("sk") * F.col("sk"))
            / F.col("n")
        ).alias("i"),
    )
    tot = ik.groupBy("event_type").agg(
        F.sum("i").alias("si"),
        F.count(F.lit(1)).alias("m"),
        F.any_value("n").alias("n"),
    )
    j = ik.join(
        F.broadcast(tot.select(F.col("event_type").alias("et"), "si",
                               "m", F.col("n").alias("nn"))),
        F.col("event_type") == F.col("et"),
    )
    gk = F.round(F.col("i") / F.col("si"), 6)
    ranked = j.select(
        "event_type",
        "k",
        gk.alias("gk"),
        "m",
        F.col("nn").alias("n"),
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                gk.desc(), F.col("k").asc()
            )
        )
        .alias("r"),
    )
    return (
        ranked.filter(F.col("r") == 1)
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_days"),
            F.col("m").cast("bigint").alias("m_freqs"),
            F.col("k").cast("bigint").alias("top_k"),
            F.round(F.col("n").cast("double") / F.col("k"), 6).alias(
                "top_period_days"
            ),
            F.col("gk").alias("fisher_g"),
            F.round(
                F.col("m")
                * F.pow(F.lit(1.0) - F.col("gk"), F.col("m") - 1),
                6,
            ).alias("p_approx"),
        )
        .orderBy("event_type")
    )


# =====================================================================
# Participation ratio (effective dimensionality) of the embeddings
# =====================================================================

@query(
    "participation_ratio_embeddings",
    """
    WITH x AS (
      SELECT vec_id, CAST(w[i + 1] AS DOUBLE) AS xi, i
      FROM (SELECT vec_id, embedding AS w,
                   unnest(range(0, len(embedding))) AS i
            FROM embeddings)
    ), mu AS (
      SELECT i, AVG(xi) AS mu FROM x GROUP BY i
    ), xc AS (
      SELECT vec_id, x.i, xi - mu AS c FROM x JOIN mu USING (i)
    ), cells AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j, SUM(a.c * b.c) AS val
      FROM xc a JOIN xc b ON a.vec_id = b.vec_id GROUP BY a.i, b.i
    ), folds AS (
      SELECT SUM(CASE WHEN i = j THEN val END) AS tr,
             SUM(val * val) AS fro2
      FROM cells
    )
    SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM mu) AS BIGINT) AS dim,
           ROUND(tr * tr / fro2, 6) AS participation_ratio
    FROM folds
    """,
)
def participation_ratio_q(spark, sf_dir):
    """Participation ratio PR = (tr C)²/‖C‖²_F = (Σλ)²/Σλ² of the
    embedding covariance — the eigen-free effective-dimensionality
    score (PR = d for isotropic features, → 1 under rank collapse)
    that representation-health dashboards track next to effective
    rank: effective rank needs the spectrum (power iterations), PR
    needs only the trace and the Frobenius norm, both of which fall
    out of the SAME covariance-cell frame the PCA/CKA gates already
    build — making it the cheap every-batch collapse alarm.  One
    corpus pass (dim² cells, merge-hinted self-join), one 2-scalar
    fold."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        F.col("vec_id").alias("_id"),
        F.posexplode(
            F.transform(F.col("embedding"), lambda v: v.cast("double"))
        ).alias("i", "xi"),
    )
    mu = x.groupBy("i").agg(F.avg("xi").alias("mu"))
    xc = x.join(F.broadcast(mu), "i").select(
        "_id", "i", (F.col("xi") - F.col("mu")).alias("c")
    )
    a, b = xc.alias("a"), xc.alias("b")
    cells = checkpoint(
        a.hint("merge")
        .join(b, F.col("a._id") == F.col("b._id"))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("val"))
    )
    folds = cells.agg(
        F.sum(
            F.when(F.col("i") == F.col("j"), F.col("val"))
        ).alias("tr"),
        F.sum(F.col("val") * F.col("val")).alias("fro2"),
    )
    n = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    dim = mu.agg(F.count(F.lit(1)).cast("bigint").alias("dim"))
    return (
        folds.join(F.broadcast(n), F.lit(True))
        .join(F.broadcast(dim), F.lit(True))
        .select(
            "n_rows",
            "dim",
            F.round(
                F.col("tr") * F.col("tr") / F.col("fro2"), 6
            ).alias("participation_ratio"),
        )
    )


# =====================================================================
# Biweight midvariance (robust scale) of order value
# =====================================================================

@query(
    "biweight_midvariance_totalprice",
    """
    WITH med AS (
      SELECT quantile_cont(o_totalprice, 0.5) AS m,
             COUNT(*) AS n
      FROM orders WHERE o_totalprice IS NOT NULL
    ), mad AS (
      SELECT quantile_cont(ABS(o.o_totalprice - med.m), 0.5) AS mad
      FROM orders o, med WHERE o.o_totalprice IS NOT NULL
    ), u AS (
      SELECT o.o_totalprice AS x, med.m, med.n, mad.mad,
             (o.o_totalprice - med.m) / (9 * mad.mad) AS u
      FROM orders o, med, mad WHERE o.o_totalprice IS NOT NULL
    ), folds AS (
      SELECT ANY_VALUE(n) AS n, ANY_VALUE(m) AS m,
             ANY_VALUE(mad) AS mad,
             COUNT(CASE WHEN ABS(u) < 1 THEN 1 END) AS n_used,
             SUM(CASE WHEN ABS(u) < 1
                      THEN (x - m) * (x - m)
                           * (1 - u * u) * (1 - u * u)
                           * (1 - u * u) * (1 - u * u) END) AS num,
             SUM(CASE WHEN ABS(u) < 1
                      THEN (1 - u * u) * (1 - 5 * u * u) END) AS den,
             STDDEV_POP(x) AS sd
      FROM u
    )
    SELECT CAST(n AS BIGINT) AS n_rows, CAST(n_used AS BIGINT) AS n_used,
           ROUND(m, 6) AS median, ROUND(mad, 6) AS mad,
           ROUND(SQRT(n * num) / ABS(den), 4) AS bw_scale,
           ROUND(SQRT(n * num) / ABS(den) / sd, 6) AS scale_ratio
    FROM folds
    """,
)
def biweight_q(spark, sf_dir):
    """Tukey's biweight midvariance of order value (Lax 1985; the
    robust scale estimator with ~87% Gaussian efficiency, vs ~37% for
    the MAD the existing gate reports) — outliers beyond 9·MAD get
    ZERO weight instead of the clipped weight winsorizing gives them.
    √BWMV and its ratio to the classical SD quantify how much of the
    nominal spread is outlier-driven.  Median and MAD are the exact
    type-7 percentiles (the mad-gate parity), then one weighted fold
    over the corpus — two broadcast scalars, no sort."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    med = o.agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("m"),
        F.count(F.lit(1)).alias("n"),
    )
    mad = (
        o.join(F.broadcast(med), F.lit(True))
        .agg(
            F.expr(
                "percentile(abs(o_totalprice - m), 0.5)"
            ).alias("mad")
        )
    )
    u = (
        o.join(F.broadcast(med), F.lit(True))
        .join(F.broadcast(mad), F.lit(True))
        .select(
            F.col("o_totalprice").alias("x"),
            "m",
            "n",
            "mad",
            (
                (F.col("o_totalprice") - F.col("m"))
                / (9 * F.col("mad"))
            ).alias("u"),
        )
    )
    inl = F.abs(F.col("u")) < 1
    w2 = (1 - F.col("u") * F.col("u"))
    folds = u.agg(
        F.any_value("n").alias("n"),
        F.any_value("m").alias("m"),
        F.any_value("mad").alias("mad"),
        F.count(F.when(inl, 1)).alias("n_used"),
        F.sum(
            F.when(
                inl,
                (F.col("x") - F.col("m"))
                * (F.col("x") - F.col("m"))
                * w2 * w2 * w2 * w2,
            )
        ).alias("num"),
        F.sum(
            F.when(inl, w2 * (1 - 5 * F.col("u") * F.col("u")))
        ).alias("den"),
        F.stddev_pop("x").alias("sd"),
    )
    bw = F.sqrt(F.col("n") * F.col("num")) / F.abs(F.col("den"))
    return folds.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.col("n_used").cast("bigint").alias("n_used"),
        F.round(F.col("m"), 6).alias("median"),
        F.round(F.col("mad"), 6).alias("mad"),
        F.round(bw, 4).alias("bw_scale"),
        F.round(bw / F.col("sd"), 6).alias("scale_ratio"),
    )


# =====================================================================
# Blomqvist's beta (medial correlation) between quantity and price
# =====================================================================

@query(
    "blomqvist_beta_lineitem",
    """
    WITH med AS (
      SELECT quantile_cont(l_quantity, 0.5) AS mx,
             quantile_cont(l_extendedprice, 0.5) AS my
      FROM lineitem
    ), cells AS (
      SELECT
        SUM(CASE WHEN l_quantity > mx AND l_extendedprice > my
                 THEN 1 ELSE 0 END) AS n11,
        SUM(CASE WHEN l_quantity < mx AND l_extendedprice < my
                 THEN 1 ELSE 0 END) AS n00,
        SUM(CASE WHEN l_quantity > mx AND l_extendedprice < my
                 THEN 1 ELSE 0 END) AS n10,
        SUM(CASE WHEN l_quantity < mx AND l_extendedprice > my
                 THEN 1 ELSE 0 END) AS n01,
        SUM(CASE WHEN l_quantity = mx OR l_extendedprice = my
                 THEN 1 ELSE 0 END) AS n_on
      FROM lineitem, med
    )
    SELECT CAST(n11 + n00 + n10 + n01 AS BIGINT) AS n_used,
           CAST(n_on AS BIGINT) AS n_excluded,
           ROUND(CAST(n11 + n00 - n10 - n01 AS DOUBLE)
                 / (n11 + n00 + n10 + n01), 6) AS blomqvist_beta
    FROM cells
    """,
)
def blomqvist_q(spark, sf_dir):
    """Blomqvist's β (1950; the medial correlation) between line-item
    quantity and extended price: the sign-concordance of
    median-centered quadrants, (n₁₁+n₀₀−n₁₀−n₀₁)/n — the maximally
    robust dependence screen (only the two medians can be corrupted)
    and the copula value C(½,½) rescaled, sitting between the
    corr_matrix gate (moments, outlier-fragile) and the full
    tail_dependence gate (extreme quadrants only).  Points ON either
    median are excluded and counted (the standard discrete-data
    convention).  Two exact percentiles broadcast back into one
    4-cell fold — no sort, no pairs."""
    li = load_table(spark, sf_dir, "lineitem")
    med = li.agg(
        F.expr("percentile(l_quantity, 0.5)").alias("mx"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("my"),
    )
    j = li.join(F.broadcast(med), F.lit(True))
    up_x = F.col("l_quantity") > F.col("mx")
    dn_x = F.col("l_quantity") < F.col("mx")
    up_y = F.col("l_extendedprice") > F.col("my")
    dn_y = F.col("l_extendedprice") < F.col("my")
    cells = j.agg(
        F.sum(F.when(up_x & up_y, 1).otherwise(0)).alias("n11"),
        F.sum(F.when(dn_x & dn_y, 1).otherwise(0)).alias("n00"),
        F.sum(F.when(up_x & dn_y, 1).otherwise(0)).alias("n10"),
        F.sum(F.when(dn_x & up_y, 1).otherwise(0)).alias("n01"),
        F.sum(
            F.when(
                (F.col("l_quantity") == F.col("mx"))
                | (F.col("l_extendedprice") == F.col("my")),
                1,
            ).otherwise(0)
        ).alias("n_on"),
    )
    used = F.col("n11") + F.col("n00") + F.col("n10") + F.col("n01")
    return cells.select(
        used.cast("bigint").alias("n_used"),
        F.col("n_on").cast("bigint").alias("n_excluded"),
        F.round(
            (F.col("n11") + F.col("n00") - F.col("n10") - F.col("n01"))
            .cast("double")
            / used,
            6,
        ).alias("blomqvist_beta"),
    )


# =====================================================================
# One-sample Anderson–Darling: are interarrival times exponential?
# =====================================================================

@query(
    "ad_exponential_interarrivals_events",
    """
    WITH seq AS (
      SELECT user_id,
             epoch_us(ts) - LAG(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
      FROM events
    ), xs AS (
      SELECT CAST(FLOOR(gap / 1000000) AS BIGINT) AS x FROM seq
      WHERE gap IS NOT NULL AND gap >= 1000000
    ), grid AS (
      SELECT x, COUNT(*) AS c FROM xs GROUP BY x
    ), tot AS (
      SELECT SUM(c) AS n, SUM(x * c) AS sx FROM grid
    ), walk AS (
      SELECT g.x, g.c, tot.n,
             CAST(tot.sx AS DOUBLE) / tot.n AS mean,
             COALESCE(SUM(g.c) OVER (ORDER BY g.x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS s
      FROM grid g, tot
    ), terms AS (
      SELECT n, mean,
             SUM(LN(1 - EXP(-x / mean)) * c * (2 * s + c)) AS t1,
             SUM((-x / mean) * c * (2 * n - 2 * s - c)) AS t2
      FROM walk GROUP BY n, mean
    )
    SELECT CAST(n AS BIGINT) AS n_intervals,
           ROUND(mean, 6) AS mean_seconds,
           ROUND(-n - (t1 + t2) / n, 6) AS ad_stat
    FROM terms
    """,
)
def ad_exponential_q(spark, sf_dir):
    """One-sample Anderson–Darling goodness-of-fit of per-user
    interarrival times (whole seconds, ≥1s) against Exponential(λ̂) —
    the test behind "is this a Poisson process?", which the
    interarrival-stats and fano-factor gates summarize but never
    test; AD weights the tails where exponentiality actually fails
    (burstiness ⇒ heavy right tail).  A² = −n − (1/n)Σ(2i−1)[ln F(xᵢ)
    + ln(1−F(x_{n+1−i}))] re-expressed on the integer-seconds VALUE
    grid: for a run of c ties after s smaller values, Σ(2i−1) =
    c(2s+c) and the mirrored index folds to c(2n−2s−c) — so the
    order-statistic sum needs cumulative counts over the bounded gap
    domain, never a corpus sort (the Mann–Whitney rule).
    ln(1−F) = −x/λ̂ is exact, dodging the catastrophic cancellation
    of the naive form."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        (epoch_us("ts") - F.lag(epoch_us("ts")).over(w)).alias("gap")
    )
    xs = seq.filter(
        F.col("gap").isNotNull() & (F.col("gap") >= 1000000)
    ).select(F.floor(F.col("gap") / 1000000).cast("bigint").alias("x"))
    grid = xs.groupBy("x").agg(F.count(F.lit(1)).alias("c"))
    tot = grid.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("x") * F.col("c")).alias("sx"),
    )
    wv = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    walk = grid.join(F.broadcast(tot), F.lit(True)).select(
        "x",
        "c",
        "n",
        (F.col("sx").cast("double") / F.col("n")).alias("mean"),
        F.coalesce(F.sum("c").over(wv), F.lit(0)).alias("s"),
    )
    terms = walk.groupBy("n", "mean").agg(
        F.sum(
            F.log(1 - F.exp(-F.col("x") / F.col("mean")))
            * F.col("c")
            * (2 * F.col("s") + F.col("c"))
        ).alias("t1"),
        F.sum(
            (-F.col("x") / F.col("mean"))
            * F.col("c")
            * (2 * F.col("n") - 2 * F.col("s") - F.col("c"))
        ).alias("t2"),
    )
    return terms.select(
        F.col("n").cast("bigint").alias("n_intervals"),
        F.round(F.col("mean"), 6).alias("mean_seconds"),
        F.round(
            -F.col("n") - (F.col("t1") + F.col("t2")) / F.col("n"), 6
        ).alias("ad_stat"),
    )
