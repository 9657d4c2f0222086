"""Round-11 extension wave H (SURVEY.md §2.36): the Hartley
Fmax + Cochran's C variance-homogeneity screen (the cheap prescreen
before ANOVA/Bartlett), a cross-source boilerplate n-gram report (the
templated-text detector corpus curation runs before dedup thresholds
are tuned), the Diebold–Mariano forecast-comparison test between the
naive and seasonal-naive baselines (is weekly seasonality worth
modeling, with an actual significance statement), Benjamini–Yekutieli
FDR next to the BH gate (valid under the arbitrary dependence the
shared-pooled-mean z grid actually has), and an embedding norm audit
(zero-norm / non-finite / norm-spread checks — the data-quality gate
every ANN index build should run first).

Every query follows the registry conventions (``._core``): identical
column aliases in the Spark plan and the DuckDB oracle, exact integer
cents (decimal(38,0) ↔ HUGEINT for the squared sums), ROUND(…, 6) on
floating outputs, deterministic tie-breaks, and bounded grids (5
priority cells, top-20 grams, the 35-cell dow grid, 1-row audits) on
the join side.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..tables import load_table
from ._core import O, Q, normal_cdf, query  # noqa: F401
from .wave6_ts import _PHI_SQL


# =====================================================================
# Hartley Fmax + Cochran's C variance-homogeneity screen
# =====================================================================

@query(
    "variance_homogeneity_screen_orders",
    """
    WITH cells AS (
      SELECT o_orderpriority AS g, COUNT(*) AS n,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS s,
             SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                      AS HUGEINT)
                 * CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS ss
      FROM orders GROUP BY o_orderpriority
    ), vcells AS (
      SELECT g, n,
             (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)
               AS s2
      FROM cells WHERE n >= 2
    ), ranked AS (
      SELECT g, n, s2,
             ROW_NUMBER() OVER (ORDER BY s2 DESC, g ASC) AS rd,
             ROW_NUMBER() OVER (ORDER BY s2 ASC, g ASC) AS ra
      FROM vcells
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           CAST(MIN(n) AS BIGINT) AS n_min,
           CAST(MAX(n) AS BIGINT) AS n_max,
           MAX(CASE WHEN rd = 1 THEN g END) AS max_var_group,
           ROUND(MAX(CASE WHEN rd = 1 THEN s2 END)
                 / MAX(CASE WHEN ra = 1 THEN s2 END), 6) AS hartley_fmax,
           ROUND(MAX(CASE WHEN rd = 1 THEN s2 END) / SUM(s2), 6)
             AS cochran_c
    FROM ranked
    """,
)
def variance_homogeneity_screen_q(spark, sf_dir):
    """Hartley's Fmax (max/min group variance) and Cochran's C (max
    variance / variance total) across order priorities — the
    two-number homogeneity SCREEN run before any equal-variance
    procedure (pooled t, classic ANOVA): Fmax ≈ 1 and C ≈ 1/k say
    the pooled estimate is safe; a large Fmax with C near 1 says ONE
    group carries the heterogeneity (named in max_var_group), which
    the omnibus Bartlett/Brown–Forsythe statistics report but don't
    localize.  Variances are exact integer-cents moments
    (decimal(38,0) ↔ HUGEINT squared sums, the bartlett precedent)
    cast to double only for the final ratios, which are unit-
    invariant.

    Scale: one k=5-cell hash agg, then scalar math on the k-row
    frame — constant work above the scan at any volume."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    cells = o.groupBy(F.col("o_orderpriority").alias("g")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s"),
        F.sum(cents.cast("decimal(38,0)") * cents).alias("ss"),
    )
    vcells = cells.filter(F.col("n") >= 2).select(
        "g",
        "n",
        (
            (
                F.col("ss").cast("double")
                - F.col("s").cast("double") * F.col("s") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("s2"),
    )
    ranked = vcells.select(
        "g",
        "n",
        "s2",
        F.row_number()
        .over(Window.orderBy(F.col("s2").desc(), F.col("g").asc()))
        .alias("rd"),
        F.row_number()
        .over(Window.orderBy(F.col("s2").asc(), F.col("g").asc()))
        .alias("ra"),
    )
    smax = F.max(F.when(F.col("rd") == 1, F.col("s2")))
    smin = F.max(F.when(F.col("ra") == 1, F.col("s2")))
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.min("n").cast("bigint").alias("n_min"),
        F.max("n").cast("bigint").alias("n_max"),
        F.max(F.when(F.col("rd") == 1, F.col("g"))).alias(
            "max_var_group"
        ),
        F.round(smax / smin, 6).alias("hartley_fmax"),
        F.round(smax / F.sum("s2"), 6).alias("cochran_c"),
    )


# =====================================================================
# Cross-source boilerplate n-grams (templated-text detector)
# =====================================================================

@query(
    "boilerplate_ngrams_docs",
    r"""
    WITH toks AS (
      SELECT doc_id, source,
             string_split_regex(lower(trim(text)), '\s+') AS w
      FROM documents WHERE text IS NOT NULL
    ), grams AS (
      SELECT doc_id, source,
             unnest(CASE WHEN len(w) >= 5 THEN list_transform(
                      range(1, len(w) - 3),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                           || ' ' || w[i+3] || ' ' || w[i+4])
                    ELSE [] END) AS gram
      FROM toks
    ), stats AS (
      SELECT gram,
             COUNT(DISTINCT source) AS n_sources,
             COUNT(DISTINCT doc_id) AS n_docs,
             COUNT(*) AS n_occ
      FROM grams GROUP BY gram
      HAVING COUNT(DISTINCT source) >= 3
    )
    SELECT gram, CAST(n_sources AS BIGINT) AS n_sources,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_occ AS BIGINT) AS n_occ
    FROM stats
    ORDER BY n_sources DESC, n_docs DESC, gram ASC LIMIT 20
    """,
)
def boilerplate_ngrams_q(spark, sf_dir):
    """Cross-source boilerplate detector: the 5-grams that recur
    across ≥3 DIFFERENT sources, ranked by source spread then doc
    count — navigation chrome, license blurbs, cookie banners, and
    scraper artifacts show up here, WITHIN-source repetition (a
    prolific author) does not, which is what separates this from the
    dup_ngram/winnowing gates.  The standard pre-dedup curation
    sweep: boilerplate inflates near-dup similarity between unrelated
    documents, so these grams are what a pipeline strips (or what
    winnowing's max_df cap absorbs) BEFORE tuning a dedup τ.

    Scale: tokenize → 5-gram explode → a (gram, doc, source)
    pre-aggregation FIRST (map-side partial combine collapses the
    occurrence stream before it shuffles; a direct
    per-gram double-COUNT(DISTINCT) would expand the full stream
    ×3 — measured 21.9 s → 9.5 s at sf0.1), then one per-gram fold
    (n_docs = row count of the deduped frame, n_occ = Σ occurrence
    counts, sources as the one remaining distinct) → TakeOrdered
    top-20.  Linear in corpus tokens, never a pair join."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    # materialize the token array ONCE per row before the gram lambda:
    # higher-order functions run interpreted (no whole-stage codegen,
    # no common-subexpression elimination inside the lambda), so an
    # inline split() here is re-evaluated by every element_at of every
    # sequence element — O(tokens × text_len) per doc, measured 16.3 s
    # at sf0.1; with the array projected first the lambda is 5 O(1)
    # indexes and the same query runs in ~1 s (guide §1.2 step 2)
    toks = d.select(
        "doc_id",
        "source",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("w"),
    )
    w = F.col("w")
    grams5 = F.when(
        F.size(w) >= 5,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - 5),
            lambda i: F.concat_ws(
                " ",
                F.element_at(w, i + 1),
                F.element_at(w, i + 2),
                F.element_at(w, i + 3),
                F.element_at(w, i + 4),
                F.element_at(w, i + 5),
            ),
        ),
    ).otherwise(F.array())
    grams = toks.select(
        "doc_id", "source", F.explode(grams5).alias("gram")
    )
    # pre-reduce to (gram, doc, source) occurrence cells so the big
    # shuffle gets map-side combine; the per-gram distincts then run
    # on the collapsed frame instead of expanding the raw stream
    cells = grams.groupBy("gram", "doc_id", "source").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    stats = (
        cells.groupBy("gram")
        .agg(
            F.countDistinct("source").alias("n_sources"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("cnt").alias("n_occ"),
        )
        .filter(F.col("n_sources") >= 3)
    )
    return (
        stats.select(
            "gram",
            F.col("n_sources").cast("bigint").alias("n_sources"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_occ").cast("bigint").alias("n_occ"),
        )
        .orderBy(
            F.col("n_sources").desc(), F.col("n_docs").desc(), F.col("gram")
        )
        .limit(20)
    )


# =====================================================================
# Diebold-Mariano: naive vs seasonal-naive forecast comparison
# =====================================================================

@query(
    "diebold_mariano_daily_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS v
      FROM events GROUP BY 1, 2
    ), seq AS (
      SELECT event_type, v,
             ROW_NUMBER() OVER w AS rn,
             LAG(v, 1) OVER w AS f_naive,
             LAG(v, 7) OVER w AS f_snaive
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), losses AS (
      SELECT event_type,
             (v - f_naive) * (v - f_naive) AS la,
             (v - f_snaive) * (v - f_snaive) AS lb
      FROM seq WHERE rn >= 8
    ), folds AS (
      SELECT event_type, COUNT(*) AS n,
             AVG(la) AS mla, AVG(lb) AS mlb,
             SUM(la - lb) AS sd, SUM((la - lb) * (la - lb)) AS sdd
      FROM losses GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           ROUND(mla, 4) AS mse_naive,
           ROUND(mlb, 4) AS mse_seasonal_naive,
           ROUND(CASE WHEN n > 1
                       AND (sdd - sd * sd / n) / (n - 1) > 0 THEN
                 (sd / n)
                 / SQRT(((sdd - sd * sd / n) / (n - 1)) / n) END, 6)
             AS dm_stat
    FROM folds ORDER BY event_type
    """,
)
def diebold_mariano_q(spark, sf_dir):
    """Diebold–Mariano forecast-comparison test between the two
    baselines every forecasting effort must beat: naive (yesterday's
    value) vs seasonal-naive (same weekday last week), one-step
    squared-loss differential d_t = e²_naive − e²_snaive, DM =
    d̄/se(d̄).  Positive and large ⇒ weekly seasonality is real and
    worth modeling; ≈0 ⇒ the seasonal structure the STL/seasonal
    gates DESCRIBE does not actually help prediction — the question
    a mean-loss table (backtest_ses, smape_mase) displays but never
    tests.  Lag-0 variance is appropriate for one-step forecasts
    (the h−1 HAC terms vanish at h=1).

    Scale: per-type LAG windows over the calendar-bounded daily
    grid + one moment fold per type — the dickey_fuller shape."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        (F.sum(cents).cast("double") / 100.0).alias("v")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    seq = daily.select(
        "event_type",
        "v",
        F.row_number().over(w).alias("rn"),
        F.lag("v", 1).over(w).alias("f_naive"),
        F.lag("v", 7).over(w).alias("f_snaive"),
    ).filter(F.col("rn") >= 8)
    la = (F.col("v") - F.col("f_naive")) * (F.col("v") - F.col("f_naive"))
    lb = (F.col("v") - F.col("f_snaive")) * (
        F.col("v") - F.col("f_snaive")
    )
    folds = seq.select(
        "event_type", la.alias("la"), lb.alias("lb")
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("la").alias("mla"),
        F.avg("lb").alias("mlb"),
        F.sum(F.col("la") - F.col("lb")).alias("sd"),
        F.sum(
            (F.col("la") - F.col("lb")) * (F.col("la") - F.col("lb"))
        ).alias("sdd"),
    )
    n = F.col("n")
    vard = (F.col("sdd") - F.col("sd") * F.col("sd") / n) / (n - 1)
    return folds.select(
        "event_type",
        n.cast("bigint").alias("n_days"),
        F.round("mla", 4).alias("mse_naive"),
        F.round("mlb", 4).alias("mse_seasonal_naive"),
        F.round(
            F.when(
                (n > 1) & (vard > 0),
                (F.col("sd") / n) / F.sqrt(vard / n),
            ),
            6,
        ).alias("dm_stat"),
    ).orderBy("event_type")


# =====================================================================
# Benjamini-Yekutieli FDR (arbitrary dependence) on the dow grid
# =====================================================================

@query(
    "benjamini_yekutieli_dow_events",
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
    ), ranked0 AS (
      SELECT event_type, dow, n, pval,
             ROW_NUMBER() OVER (ORDER BY pval ASC, event_type ASC, dow ASC)
               AS r,
             COUNT(*) OVER () AS m
      FROM p
    ), ranked AS (
      SELECT *, SUM(1.0 / r) OVER () AS hm FROM ranked0
    )
    SELECT event_type, CAST(dow AS BIGINT) AS dow,
           ROUND(pval, 6) AS pval,
           ROUND(LEAST(MIN(pval * m / r) OVER (ORDER BY r DESC
                       ROWS UNBOUNDED PRECEDING), 1.0), 6) AS p_adj_bh,
           ROUND(LEAST(MIN(pval * m * hm / r) OVER (ORDER BY r DESC
                       ROWS UNBOUNDED PRECEDING), 1.0), 6) AS p_adj_by,
           CAST(CASE WHEN LEAST(MIN(pval * m * hm / r) OVER (
                          ORDER BY r DESC ROWS UNBOUNDED PRECEDING),
                          1.0) <= 0.05
                THEN 1 ELSE 0 END AS BIGINT) AS reject_by
    FROM ranked ORDER BY event_type, dow
    """,
)
def benjamini_yekutieli_q(spark, sf_dir):
    """Benjamini–Yekutieli FDR over the same (event_type × dow) z
    grid as the BH gate, with both adjustments side by side.  The BH
    gate's 35 tests all share the pooled global mean, so they are
    DEPENDENT — BH's FDR guarantee needs positive-regression
    dependence, while BY's m·H_m inflation (H_m = Σ1/k ≈ ln m + γ,
    ×~4.1 at m=35) is valid under ARBITRARY dependence.  The
    side-by-side answers the reviewer question every metrics sweep
    gets: which BH discoveries survive the assumption-free
    correction.  Both adjusted p's clamp at 1.

    Scale: identical to the BH gate — ×1e4 exact integer moment
    cells, one 35-row ranked window, bounded by the test grid."""
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
        (2.0 * (1.0 - normal_cdf(F.abs(F.col("zst"))))).alias("pval"),
    )
    wr = Window.orderBy(
        F.col("pval").asc(), F.col("event_type").asc(), F.col("dow").asc()
    )
    wall = Window.partitionBy()
    ranked = p.select(
        "event_type",
        "dow",
        "pval",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(wall).alias("m"),
    ).withColumn("hm", F.sum(1.0 / F.col("r")).over(wall))
    wmin = Window.orderBy(F.col("r").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    padj_bh = F.least(
        F.min(F.col("pval") * F.col("m") / F.col("r")).over(wmin),
        F.lit(1.0),
    )
    padj_by = F.least(
        F.min(
            F.col("pval") * F.col("m") * F.col("hm") / F.col("r")
        ).over(wmin),
        F.lit(1.0),
    )
    return ranked.select(
        "event_type",
        F.col("dow").cast("bigint").alias("dow"),
        F.round("pval", 6).alias("pval"),
        F.round(padj_bh, 6).alias("p_adj_bh"),
        F.round(padj_by, 6).alias("p_adj_by"),
        F.when(padj_by <= 0.05, F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("reject_by"),
    ).orderBy("event_type", "dow")


# =====================================================================
# Embedding norm audit (pre-ANN data-quality gate)
# =====================================================================

@query(
    "embedding_norm_audit",
    """
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), norms AS (
      SELECT vec_id,
             CASE WHEN len(list_filter(v, x -> isnan(x) OR isinf(x)))
                       > 0 THEN 1 ELSE 0 END AS bad,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      FROM e
    ), fin AS (
      SELECT vec_id, bad,
             CASE WHEN bad = 0 THEN nrm END AS nrm
      FROM norms
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(bad) AS BIGINT) AS n_nonfinite,
           CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero_norm,
           ROUND(quantile_cont(nrm, 0.05), 4) AS norm_p05,
           ROUND(quantile_cont(nrm, 0.5), 4) AS norm_p50,
           ROUND(quantile_cont(nrm, 0.95), 4) AS norm_p95,
           ROUND(MIN(nrm), 4) AS norm_min,
           ROUND(MAX(nrm), 4) AS norm_max
    FROM fin
    """,
)
def embedding_norm_audit_q(spark, sf_dir):
    """Pre-ANN embedding audit: counts of non-finite vectors (any
    NaN/Inf element) and zero-norm vectors, plus the L2-norm spread
    (p05/p50/p95, min, max).  Zero and non-finite vectors silently
    poison cosine ANN (0/0 similarities, NaN-contaminated centroids
    in IVF training) and a wide norm spread means dot-product and
    cosine rankings DISAGREE — the two-minute check that should gate
    every index build, embedding-diagnostics companion to the
    structural LOF/hubness/intrinsic-dimension gates which all
    presuppose the vectors are at least finite.

    Scale: one map-only pass computing per-row norms, a single
    percentile/extreme fold to one row — no joins at all."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    bad_cnt = F.size(
        F.filter("v", lambda x: F.isnan(x) | (F.abs(x) == float("inf")))
    )
    norms = emb.select(
        F.when(bad_cnt > 0, 1).otherwise(0).alias("bad"),
        F.sqrt(
            F.aggregate(
                "v", F.lit(0.0), lambda acc, x: acc + x * x
            )
        ).alias("nrm0"),
    ).select(
        "bad",
        F.when(F.col("bad") == 0, F.col("nrm0")).alias("nrm"),
    )
    return norms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum("bad").cast("bigint").alias("n_nonfinite"),
        F.sum(F.when(F.col("nrm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero_norm"),
        F.round(F.expr("percentile(nrm, 0.05)"), 4).alias("norm_p05"),
        F.round(F.expr("percentile(nrm, 0.5)"), 4).alias("norm_p50"),
        F.round(F.expr("percentile(nrm, 0.95)"), 4).alias("norm_p95"),
        F.round(F.min("nrm"), 4).alias("norm_min"),
        F.round(F.max("nrm"), 4).alias("norm_max"),
    )
