"""Round-11 extension wave C (SURVEY.md §2.31): index-number theory
(matched-basket Laspeyres/Paasche/Fisher), regularity statistics
(sample entropy), stratified-contingency diagnostics (Breslow–Day /
Tarone homogeneity of odds ratios), rotation-invariant drift (Kuiper),
nonlinear dependence (distance correlation), graded retrieval quality
(Expected Reciprocal Rank), privacy (l-diversity), representation
similarity (linear CKA), generation diversity (self-BLEU-2),
zero-inflation score testing, and Lorenz asymmetry.

Every query follows the registry conventions (``._core``): identical
column aliases in the Spark plan and the DuckDB oracle, exact integer
arithmetic until the final division, ROUND(…, 6) on floating outputs,
deterministic tie-breaks on every rank/top-k boundary, and bounded
grids (days², |strata|, dim², sampled-docs) — never corpus² — on the
join side; corpus-keyed self-joins carry the package's merge-hint
contract.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401  resolves pandas_udf string annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..materialize import checkpoint
from ..tables import load_table
from ._core import O, Q, query  # noqa: F401


# =====================================================================
# Fisher ideal price index (matched basket, Laspeyres × Paasche)
# =====================================================================

@query(
    "fisher_price_index_lineitem",
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
    ), idx AS (
      SELECT yr, COUNT(*) AS n_parts,
             SUM(pt * q0) / SUM(p0 * q0) AS lasp,
             SUM(pt * qt) / SUM(p0 * qt) AS paas
      FROM j GROUP BY yr
    )
    SELECT CAST(yr AS BIGINT) AS yr, CAST(n_parts AS BIGINT) AS n_parts,
           ROUND(lasp, 6) AS laspeyres_matched,
           ROUND(paas, 6) AS paasche,
           ROUND(SQRT(lasp * paas), 6) AS fisher
    FROM idx ORDER BY yr
    """,
)
def fisher_price_index_q(spark, sf_dir):
    """Fisher ideal price index per ship year — the geometric mean of
    the MATCHED-basket Laspeyres and Paasche indexes, the superlative
    index national statistics offices publish because Laspeyres
    (base-year basket) overstates and Paasche (current basket)
    understates inflation under substitution.  Complements the
    fixed-basket ``laspeyres_price_index_lineitem`` gate: here the
    basket is the part set present in BOTH years, which is what makes
    Paasche (current-year quantity weights) well-defined.

    Parity/scale contract as the Laspeyres twin: per-row unit prices
    round to ×1e6 exact integers at extraction, quantities are exact
    integer weights, and the only corpus-scaled join is the part-keyed
    base⋈current equi-join (merge-hinted per the corpus-join
    contract); indexes fold map-side to one row per year."""
    li = load_table(spark, sf_dir, "lineitem")
    py = checkpoint(
        li.groupBy(
            F.col("l_partkey").alias("part"), F.year("l_shipdate").alias("yr")
        ).agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") / F.col("l_quantity") * 1000000
                ).cast("bigint")
            ).alias("sp"),
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias("q"),
        ).filter(F.col("q") > 0)
        # py feeds the base-year fold AND both matched-basket sides —
        # cut the lineage so the part×year aggregate runs once (same
        # multi-consumer shape as the Törnqvist twin)
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
    idx = (
        t.hint("merge")
        .join(b, "part")
        .groupBy("yr")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            (
                F.sum(F.col("pt") * F.col("q0"))
                / F.sum(F.col("p0") * F.col("q0"))
            ).alias("lasp"),
            (
                F.sum(F.col("pt") * F.col("qt"))
                / F.sum(F.col("p0") * F.col("qt"))
            ).alias("paas"),
        )
    )
    return idx.select(
        F.col("yr").cast("bigint").alias("yr"),
        F.col("n_parts").cast("bigint").alias("n_parts"),
        F.round(F.col("lasp"), 6).alias("laspeyres_matched"),
        F.round(F.col("paas"), 6).alias("paasche"),
        F.round(F.sqrt(F.col("lasp") * F.col("paas")), 6).alias("fisher"),
    ).orderBy("yr")


# =====================================================================
# Sample entropy of the daily count series (last 365 days)
# =====================================================================

@query(
    "sample_entropy_daily_events",
    """
    WITH mx AS (
      SELECT MAX(CAST(ts AS DATE)) AS dmax FROM events
    ), daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
      FROM events, mx
      WHERE CAST(ts AS DATE) > dmax - INTERVAL 365 DAY
      GROUP BY 1, 2
    ), sig AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(y * y) AS syy, SUM(y) AS sy
      FROM daily GROUP BY event_type
    ), r AS (
      SELECT event_type, n,
             0.2 * SQRT((syy - CAST(sy AS DOUBLE) * sy / n) / n) AS r
      FROM sig WHERE n >= 10
    ), tmpl AS (
      SELECT d.event_type, r.n, r.r,
             ROW_NUMBER() OVER (PARTITION BY d.event_type
                                ORDER BY d.day) AS rn,
             CAST(d.y AS DOUBLE) AS y0,
             CAST(LEAD(d.y, 1) OVER (PARTITION BY d.event_type
                                     ORDER BY d.day) AS DOUBLE) AS y1,
             CAST(LEAD(d.y, 2) OVER (PARTITION BY d.event_type
                                     ORDER BY d.day) AS DOUBLE) AS y2
      FROM daily d JOIN r ON r.event_type = d.event_type
    ), tt AS (
      SELECT * FROM tmpl WHERE rn <= n - 2
    ), pairs AS (
      SELECT a.event_type, ANY_VALUE(a.n) AS n,
             SUM(CASE WHEN ABS(a.y0 - b.y0) <= a.r
                       AND ABS(a.y1 - b.y1) <= a.r
                      THEN 1 ELSE 0 END) AS b_pairs,
             SUM(CASE WHEN ABS(a.y0 - b.y0) <= a.r
                       AND ABS(a.y1 - b.y1) <= a.r
                       AND ABS(a.y2 - b.y2) <= a.r
                      THEN 1 ELSE 0 END) AS a_pairs
      FROM tt a JOIN tt b
        ON a.event_type = b.event_type AND b.rn > a.rn
      GROUP BY a.event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           CAST(b_pairs AS BIGINT) AS b_pairs,
           CAST(a_pairs AS BIGINT) AS a_pairs,
           CASE WHEN a_pairs > 0 AND b_pairs > 0
                THEN ROUND(-LN(CAST(a_pairs AS DOUBLE) / b_pairs), 6)
           END AS sampen
    FROM pairs ORDER BY event_type
    """,
)
def sample_entropy_q(spark, sf_dir):
    """Sample entropy (Richman & Moorman 2000; m=2, r=0.2σ) of each
    event type's daily-count series over the LAST 365 days — the
    regularity statistic physiology/ops monitoring uses where ApEn's
    self-match bias breaks small samples: SampEn = −ln(A/B), with B
    the count of template pairs (i<j) whose length-2 windows stay
    within Chebyshev distance r and A the same count for length-3
    windows (both indexed over i ≤ n−2, per the original paper).

    Scale contract: the 365-day recency window caps every stratum at
    ≤365 templates → ≤366²/2 pairs per type REGARDLESS of table span
    (the same bounded-window discipline as the year-stratified trend
    gates — an unwindowed SampEn would grow pairs with calendar
    span²).  r folds from exact integer moments; distances are
    integer-valued so the ≤r comparisons are ULP-safe."""
    e = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    mx = e.agg(F.max(day).alias("dmax"))
    daily = checkpoint(
        e.join(F.broadcast(mx), F.lit(True))
        .filter(day > F.date_sub(F.col("dmax"), 365))
        .groupBy("event_type", day.alias("day"))
        .agg(F.count(F.lit(1)).alias("y"))
        # daily feeds the σ fold AND the template windows; tt feeds
        # both pair-join sides — cut lineages so the events aggregate
        # runs once (8 parquet scans in the pre-cut plan)
    )
    sig = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum("y").alias("sy"),
    )
    r = sig.filter(F.col("n") >= 10).select(
        "event_type",
        "n",
        (
            F.lit(0.2)
            * F.sqrt(
                (
                    F.col("syy")
                    - F.col("sy").cast("double") * F.col("sy") / F.col("n")
                )
                / F.col("n")
            )
        ).alias("r"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    tmpl = daily.join(F.broadcast(r), "event_type").select(
        "event_type",
        "n",
        "r",
        F.row_number().over(w).alias("rn"),
        F.col("y").cast("double").alias("y0"),
        F.lead("y", 1).over(w).cast("double").alias("y1"),
        F.lead("y", 2).over(w).cast("double").alias("y2"),
    )
    tt = checkpoint(tmpl.filter(F.col("rn") <= F.col("n") - 2))
    a, b = tt.alias("a"), tt.alias("b")
    bmatch = (
        F.abs(F.col("a.y0") - F.col("b.y0")) <= F.col("a.r")
    ) & (F.abs(F.col("a.y1") - F.col("b.y1")) <= F.col("a.r"))
    amatch = bmatch & (
        F.abs(F.col("a.y2") - F.col("b.y2")) <= F.col("a.r")
    )
    pairs = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("b.rn") > F.col("a.rn")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.any_value(F.col("a.n")).alias("n"),
            F.sum(F.when(bmatch, 1).otherwise(0)).alias("b_pairs"),
            F.sum(F.when(amatch, 1).otherwise(0)).alias("a_pairs"),
        )
    )
    return pairs.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.col("b_pairs").cast("bigint").alias("b_pairs"),
        F.col("a_pairs").cast("bigint").alias("a_pairs"),
        F.when(
            (F.col("a_pairs") > 0) & (F.col("b_pairs") > 0),
            F.round(
                -F.log(F.col("a_pairs").cast("double") / F.col("b_pairs")),
                6,
            ),
        ).alias("sampen"),
    ).orderBy("event_type")


# =====================================================================
# Breslow–Day / Tarone homogeneity of odds ratios (weekly strata)
# =====================================================================

@query(
    "breslow_day_weekend_purchase_events",
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
    ), psi AS (
      SELECT SUM(CAST(a AS DOUBLE) * d / n)
             / SUM(CAST(b AS DOUBLE) * c / n) AS psi
      FROM s
    ), coef AS (
      SELECT s.a, s.n, psi.psi,
             CAST(s.a + s.b AS DOUBLE) AS r1,
             CAST(s.c + s.d AS DOUBLE) AS r2,
             CAST(s.a + s.c AS DOUBLE) AS c1,
             psi.psi - 1.0 AS qa,
             psi.psi * ((s.a + s.b) + (s.a + s.c))
               + s.n - (s.a + s.b) - (s.a + s.c) AS mb,
             psi.psi * (s.a + s.b) * (s.a + s.c) AS qc,
             GREATEST(0.0, CAST((s.a + s.b) + (s.a + s.c) - s.n
                                AS DOUBLE)) AS lo,
             LEAST(CAST(s.a + s.b AS DOUBLE),
                   CAST(s.a + s.c AS DOUBLE)) AS hi
      FROM s, psi
    ), roots AS (
      SELECT *,
             (mb - SQRT(mb * mb - 4 * qa * qc)) / (2 * qa) AS x1,
             (mb + SQRT(mb * mb - 4 * qa * qc)) / (2 * qa) AS x2
      FROM coef
    ), solved AS (
      SELECT a, n, psi, r1, r2, c1,
             CASE WHEN ABS(qa) < 1e-12 THEN r1 * c1 / n
                  WHEN x1 > lo AND x1 < hi THEN x1 ELSE x2
             END AS ea
      FROM roots
    ), terms AS (
      SELECT a, psi, ea,
             1.0 / (1.0 / ea + 1.0 / (r1 - ea) + 1.0 / (c1 - ea)
                    + 1.0 / (r2 - c1 + ea)) AS v
      FROM solved
    ), folds AS (
      SELECT COUNT(*) AS n_strata,
             ANY_VALUE(psi) AS psi,
             SUM((a - ea) * (a - ea) / v) AS bd,
             SUM(a - ea) AS sdev, SUM(v) AS sv
      FROM terms
    )
    SELECT CAST(n_strata AS BIGINT) AS n_strata,
           ROUND(psi, 6) AS or_mh,
           ROUND(bd, 6) AS bd_chi2,
           ROUND(bd - sdev * sdev / sv, 6) AS tarone_chi2,
           CAST(n_strata - 1 AS BIGINT) AS df
    FROM folds
    """,
)
def breslow_day_q(spark, sf_dir):
    """Breslow–Day homogeneity test (with Tarone's correction) for
    the weekend×purchase odds ratio across ISO-week strata — the
    companion the ``mantel_haenszel_weekend_purchase_events`` gate
    needs before its pooled OR is trusted: MH assumes a COMMON odds
    ratio, and BD is the standard χ²(K−1) test of that assumption
    (Breslow & Day 1980 §IV; Tarone 1985).  Per stratum the expected
    a-cell under the pooled ψ solves the quadratic
    (ψ−1)x² − [ψ(r₁+c₁) + n − r₁ − c₁]x + ψr₁c₁ = 0, taking the root
    inside [max(0, r₁+c₁−n), min(r₁, c₁)]; the variance is the
    harmonic fold of the four expected cells.

    Strata construction, margin filters, and ψ are IDENTICAL to the
    MH gate (one agg → four integers per week); everything downstream
    lives on the K-row strata frame, so the test adds no corpus
    passes."""
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
    psi = s.agg(
        (
            F.sum(F.col("a").cast("double") * F.col("d") / F.col("n"))
            / F.sum(F.col("b").cast("double") * F.col("c") / F.col("n"))
        ).alias("psi")
    )
    j = s.join(F.broadcast(psi), F.lit(True)).select(
        "a",
        "n",
        "psi",
        (F.col("a") + F.col("b")).cast("double").alias("r1"),
        (F.col("c") + F.col("d")).cast("double").alias("r2"),
        (F.col("a") + F.col("c")).cast("double").alias("c1"),
    )
    qa = F.col("psi") - 1.0
    mb = F.col("psi") * (F.col("r1") + F.col("c1")) + (
        F.col("n") - F.col("r1") - F.col("c1")
    )
    qc = F.col("psi") * F.col("r1") * F.col("c1")
    disc = F.sqrt(mb * mb - 4 * qa * qc)
    x1 = (mb - disc) / (2 * qa)
    x2 = (mb + disc) / (2 * qa)
    lo = F.greatest(F.lit(0.0), F.col("r1") + F.col("c1") - F.col("n"))
    hi = F.least(F.col("r1"), F.col("c1"))
    ea = F.when(
        F.abs(qa) < 1e-12, F.col("r1") * F.col("c1") / F.col("n")
    ).otherwise(F.when((x1 > lo) & (x1 < hi), x1).otherwise(x2))
    solved = j.withColumn("ea", ea)
    v = 1.0 / (
        1.0 / F.col("ea")
        + 1.0 / (F.col("r1") - F.col("ea"))
        + 1.0 / (F.col("c1") - F.col("ea"))
        + 1.0 / (F.col("r2") - F.col("c1") + F.col("ea"))
    )
    terms = solved.withColumn("v", v)
    folds = terms.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.any_value("psi").alias("psi"),
        F.sum(
            (F.col("a") - F.col("ea"))
            * (F.col("a") - F.col("ea"))
            / F.col("v")
        ).alias("bd"),
        F.sum(F.col("a") - F.col("ea")).alias("sdev"),
        F.sum("v").alias("sv"),
    )
    return folds.select(
        F.col("n_strata").cast("bigint").alias("n_strata"),
        F.round(F.col("psi"), 6).alias("or_mh"),
        F.round(F.col("bd"), 6).alias("bd_chi2"),
        F.round(
            F.col("bd") - F.col("sdev") * F.col("sdev") / F.col("sv"), 6
        ).alias("tarone_chi2"),
        (F.col("n_strata") - 1).cast("bigint").alias("df"),
    )


# =====================================================================
# Kuiper two-sample drift statistic (rotation-invariant KS)
# =====================================================================

@query(
    "kuiper_drift_orders",
    """
    WITH tagged AS (
      SELECT o_totalprice,
             CASE WHEN o_orderkey % 2 = 0 THEN 0 ELSE 1 END AS half
      FROM orders
    ), binned AS (
      SELECT half,
             LEAST(GREATEST(CAST(FLOOR(o_totalprice / 20000.0) AS INT),
                            0), 31) AS bin,
             COUNT(*) AS c
      FROM tagged GROUP BY 1, 2
    ), grid AS (
      SELECT b.bin,
             COALESCE(MAX(CASE WHEN half = 0 THEN c END), 0) AS ca,
             COALESCE(MAX(CASE WHEN half = 1 THEN c END), 0) AS cb
      FROM (SELECT unnest(range(0, 32)) AS bin) b
      LEFT JOIN binned ON binned.bin = b.bin
      GROUP BY b.bin
    ), cum AS (
      SELECT bin,
             SUM(ca) OVER (ORDER BY bin) AS cum_a,
             SUM(cb) OVER (ORDER BY bin) AS cum_b,
             (SELECT SUM(ca) FROM grid) AS na,
             (SELECT SUM(cb) FROM grid) AS nb
      FROM grid
    )
    SELECT CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
           ROUND(MAX(CAST(cum_a AS DOUBLE) / na
                     - CAST(cum_b AS DOUBLE) / nb), 6) AS d_plus,
           ROUND(MAX(CAST(cum_b AS DOUBLE) / nb
                     - CAST(cum_a AS DOUBLE) / na), 6) AS d_minus,
           ROUND(MAX(CAST(cum_a AS DOUBLE) / na
                     - CAST(cum_b AS DOUBLE) / nb)
                 + MAX(CAST(cum_b AS DOUBLE) / nb
                       - CAST(cum_a AS DOUBLE) / na), 6) AS kuiper_v
    FROM cum
    """,
)
def kuiper_drift_q(spark, sf_dir):
    """Kuiper two-sample statistic V = D⁺ + D⁻ between the even- and
    odd-key halves of order value on the same fixed 32-bin grid as
    ``ks_drift_orders`` — the KS variant that weights BOTH tails
    equally (KS's sup|·| is insensitive to shifts near the extremes;
    Kuiper V is invariant under cyclic shifts, which is why it's the
    standard for distributional drift where tail mass matters).  Same
    scale rule as the KS twin: one hash agg folds the corpus to ≤64
    (half, bin) integer cells; the cumulative walk runs on the 32-row
    literal grid."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 2 == 0, 0).otherwise(1).alias("half"),
    )
    binned = o.groupBy(
        "half",
        F.least(
            F.greatest(
                F.floor(F.col("o_totalprice") / 20000.0).cast("int"),
                F.lit(0),
            ),
            F.lit(31),
        ).alias("bin"),
    ).agg(F.count("*").alias("c"))
    grid = (
        spark.range(0, 32)
        .select(F.col("id").cast("int").alias("bin"))
        .join(binned, "bin", "left")
        .groupBy("bin")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("half") == 0, F.col("c"))), F.lit(0)
            ).alias("ca"),
            F.coalesce(
                F.max(F.when(F.col("half") == 1, F.col("c"))), F.lit(0)
            ).alias("cb"),
        )
    )
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    cum = grid.select(
        F.sum("ca").over(wc).alias("cum_a"),
        F.sum("cb").over(wc).alias("cum_b"),
        F.sum("ca").over(wt).alias("na"),
        F.sum("cb").over(wt).alias("nb"),
    )
    fa = F.col("cum_a").cast("double") / F.col("na")
    fb = F.col("cum_b").cast("double") / F.col("nb")
    return cum.agg(
        F.max("na").cast("bigint").alias("n_a"),
        F.max("nb").cast("bigint").alias("n_b"),
        F.round(F.max(fa - fb), 6).alias("d_plus"),
        F.round(F.max(fb - fa), 6).alias("d_minus"),
        F.round(F.max(fa - fb) + F.max(fb - fa), 6).alias("kuiper_v"),
    )


# =====================================================================
# Distance correlation between daily count and daily value (per year)
# =====================================================================

@query(
    "distance_corr_daily_events",
    """
    WITH daily AS (
      SELECT year(CAST(ts AS DATE)) AS yr, CAST(ts AS DATE) AS day,
             COUNT(*) AS x, ROUND(SUM(value), 4) AS y
      FROM events GROUP BY 1, 2
    ), num AS (
      SELECT yr, x, y,
             ROW_NUMBER() OVER (PARTITION BY yr ORDER BY day) AS rn,
             COUNT(*) OVER (PARTITION BY yr) AS n
      FROM daily
    ), t AS (
      SELECT * FROM num WHERE n >= 30
    ), pairs AS (
      SELECT a.yr, a.rn AS j, b.rn AS k,
             ABS(CAST(a.x AS DOUBLE) - b.x) AS da,
             ABS(a.y - b.y) AS db
      FROM t a JOIN t b ON a.yr = b.yr
    ), rm AS (
      SELECT yr, j, AVG(da) AS am, AVG(db) AS bm
      FROM pairs GROUP BY yr, j
    ), gm AS (
      SELECT yr, AVG(da) AS ag, AVG(db) AS bg
      FROM pairs GROUP BY yr
    ), nd AS (
      SELECT yr, ANY_VALUE(n) AS n_days FROM t GROUP BY yr
    ), cent AS (
      SELECT p.yr,
             p.da - r1.am - r2.am + g.ag AS ca,
             p.db - r1.bm - r2.bm + g.bg AS cb
      FROM pairs p
      JOIN rm r1 ON r1.yr = p.yr AND r1.j = p.j
      JOIN rm r2 ON r2.yr = p.yr AND r2.j = p.k
      JOIN gm g ON g.yr = p.yr
    ), folds AS (
      SELECT cent.yr, nd.n_days,
             AVG(ca * cb) AS dcov2,
             AVG(ca * ca) AS dvx, AVG(cb * cb) AS dvy
      FROM cent JOIN nd ON nd.yr = cent.yr
      GROUP BY cent.yr, nd.n_days
    )
    SELECT CAST(yr AS BIGINT) AS yr,
           CAST(n_days AS BIGINT) AS n_days,
           CASE WHEN dvx > 0 AND dvy > 0
                THEN ROUND(SQRT(GREATEST(dcov2, 0.0)
                                / SQRT(dvx * dvy)), 6)
           END AS dcor
    FROM folds ORDER BY yr
    """,
)
def distance_corr_q(spark, sf_dir):
    """Distance correlation (Székely, Rizzo & Bakirov 2007) between
    the daily event COUNT and the daily total VALUE, stratified by
    year — the dependence measure that is zero IFF the two series are
    independent, catching the nonlinear/heteroscedastic couplings
    Pearson (corr_matrix) and rank (spearman) gates miss.  Per year:
    pairwise L1 distance matrices for both series, double-centered
    (A = a − ā_j· − ā_·k + ā··), dCor = √(dCov²/√(dVarX·dVarY)) from
    the V-statistic folds.

    Scale contract: the pair grid is built WITHIN year strata (the
    same discipline as theil_sen_yearly) — ≤366² pairs per year, so
    total cost grows linearly in calendar years, never span².  Daily
    y folds ROUND(…,4) before any distance so cross-engine double
    sums can't leak ULPs into the grid."""
    e = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    daily = e.groupBy(
        F.year(day).alias("yr"), day.alias("day")
    ).agg(
        F.count(F.lit(1)).alias("x"),
        F.round(F.sum("value"), 4).alias("y"),
    )
    wn = Window.partitionBy("yr")
    num = daily.select(
        "yr",
        "x",
        "y",
        F.row_number().over(
            Window.partitionBy("yr").orderBy("day")
        ).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    # t feeds both pair-join sides, pairs feeds rm/gm/cent, rm feeds
    # both centering sides — cut lineages so the daily aggregate and
    # the year-strata pair grid each compute once (9 parquet scans in
    # the pre-cut plan)
    t = checkpoint(num.filter(F.col("n") >= 30))
    a, b = t.alias("a"), t.alias("b")
    pairs = checkpoint(
        a.join(b, F.col("a.yr") == F.col("b.yr")).select(
            F.col("a.yr").alias("yr"),
            F.col("a.rn").alias("j"),
            F.col("b.rn").alias("k"),
            F.abs(F.col("a.x").cast("double") - F.col("b.x")).alias("da"),
            F.abs(F.col("a.y") - F.col("b.y")).alias("db"),
        )
    )
    rm = checkpoint(
        pairs.groupBy("yr", "j").agg(
            F.avg("da").alias("am"), F.avg("db").alias("bm")
        )
    )
    gm = pairs.groupBy("yr").agg(
        F.avg("da").alias("ag"), F.avg("db").alias("bg")
    )
    r1 = rm.select(
        F.col("yr").alias("yr1"),
        F.col("j").alias("j1"),
        F.col("am").alias("am1"),
        F.col("bm").alias("bm1"),
    )
    r2 = rm.select(
        F.col("yr").alias("yr2"),
        F.col("j").alias("j2"),
        F.col("am").alias("am2"),
        F.col("bm").alias("bm2"),
    )
    cent = (
        pairs.join(
            r1,
            (F.col("yr") == F.col("yr1")) & (F.col("j") == F.col("j1")),
        )
        .join(
            r2,
            (F.col("yr") == F.col("yr2")) & (F.col("k") == F.col("j2")),
        )
        .join(F.broadcast(gm.withColumnRenamed("yr", "yrg")),
              F.col("yr") == F.col("yrg"))
        .select(
            "yr",
            (
                F.col("da") - F.col("am1") - F.col("am2") + F.col("ag")
            ).alias("ca"),
            (
                F.col("db") - F.col("bm1") - F.col("bm2") + F.col("bg")
            ).alias("cb"),
        )
    )
    nd = t.groupBy("yr").agg(F.any_value("n").alias("n_days"))
    folds = (
        cent.groupBy("yr")
        .agg(
            F.avg(F.col("ca") * F.col("cb")).alias("dcov2"),
            F.avg(F.col("ca") * F.col("ca")).alias("dvx"),
            F.avg(F.col("cb") * F.col("cb")).alias("dvy"),
        )
        .join(F.broadcast(nd), "yr")
    )
    return folds.select(
        F.col("yr").cast("bigint").alias("yr"),
        F.col("n_days").cast("bigint").alias("n_days"),
        F.when(
            (F.col("dvx") > 0) & (F.col("dvy") > 0),
            F.round(
                F.sqrt(
                    F.greatest(F.col("dcov2"), F.lit(0.0))
                    / F.sqrt(F.col("dvx") * F.col("dvy"))
                ),
                6,
            ),
        ).alias("dcor"),
    ).orderBy("yr")


# =====================================================================
# Expected Reciprocal Rank of the BM25 ranking, classifier-graded
# =====================================================================

@query(
    "err_bm25_graded_docs",
    r"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE string_split_regex(lower(trim(text)), '\s+')
             END AS w
      FROM documents
    ), b2 AS (
      SELECT doc_id, len(w) AS n_tokens, w FROM base
    ), g AS (
      SELECT COUNT(*) AS n_docs, AVG(n_tokens) AS avg_len FROM b2
    ), tf AS (
      SELECT doc_id, n_tokens, term, COUNT(*) AS tf
      FROM (SELECT doc_id, n_tokens, unnest(w) AS term FROM b2)
      WHERE term IN ('spark', 'stream', 'window')
      GROUP BY 1, 2, 3
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), bm AS (
      SELECT tf.doc_id AS id,
             ROUND(SUM(
               LN(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * tf.n_tokens / g.avg_len))
             ), 6) AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN g GROUP BY 1
    ), bm_all AS (
      SELECT d.doc_id AS id, COALESCE(bm.score, 0.0) AS score
      FROM documents d LEFT JOIN bm ON bm.id = d.doc_id
    ), tok AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(
               unnest(string_split_regex(lower(trim(text)), '\s+'))), 1, 8))
               AS BIGINT) % 4096 AS b
      FROM documents
    ), model AS (
      SELECT DISTINCT b AS bucket,
             (CAST(b % 101 AS DOUBLE) - 50.0) / 500.0 AS w
      FROM tok
    ), scored AS (
      SELECT tok.doc_id, SUM(model.w) AS sw
      FROM tok JOIN model ON model.bucket = tok.b GROUP BY tok.doc_id
    ), cl_all AS (
      SELECT d.doc_id AS id,
             ROUND(1.0 / (1.0 + exp(-(0.1 + COALESCE(s.sw, 0.0)))), 6)
               AS score
      FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
    ), sgrid AS (
      SELECT score, COUNT(*) AS c FROM cl_all GROUP BY score
    ), scum AS (
      SELECT score, SUM(c) OVER (ORDER BY score) AS cum,
             (SELECT SUM(c) FROM sgrid) AS n
      FROM sgrid
    ), thr AS (
      SELECT MIN(CASE WHEN 4 * cum >= 1 * n THEN score END) AS t1,
             MIN(CASE WHEN 4 * cum >= 2 * n THEN score END) AS t2,
             MIN(CASE WHEN 4 * cum >= 3 * n THEN score END) AS t3
      FROM scum
    ), grades AS (
      SELECT id,
             (CASE WHEN score > t1 THEN 1 ELSE 0 END)
             + (CASE WHEN score > t2 THEN 1 ELSE 0 END)
             + (CASE WHEN score > t3 THEN 1 ELSE 0 END) AS g
      FROM cl_all, thr
    ), top AS (
      SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) AS r
      FROM bm_all QUALIFY r <= 20
    ), rel AS (
      SELECT top.r, (POWER(2.0, grades.g) - 1.0) / 8.0 AS rr
      FROM top JOIN grades USING (id)
    ), walked AS (
      SELECT r, rr,
             COALESCE(product(1.0 - rr) OVER (ORDER BY r
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 1.0)
               AS stop_prob
      FROM rel
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_at_20,
           ROUND(AVG(rr * 8.0 / 7.0 * 3.0), 6) AS mean_grade_proxy,
           ROUND(SUM(rr * stop_prob / r), 6) AS err_at_20
    FROM walked
    """,
)
def err_bm25_q(spark, sf_dir):
    """Expected Reciprocal Rank at 20 (Chapelle et al., CIKM 2009) of
    the BM25 ranking, graded by the hashed-classifier score quartile
    — the cascade-model retrieval metric that, unlike NDCG/MRR (both
    already gated), models a user who STOPS at the first satisfying
    result: ERR = Σᵣ (1/r)·Rᵣ·Π_{i<r}(1−Rᵢ) with R = (2^g−1)/2^gmax,
    g ∈ {0..3} counting the exact score-quartile thresholds the
    classifier score strictly exceeds.  Both scorers are the EXISTING
    gate pipelines (bm25_score / hashed_classifier_score, as in the
    RBO gate); the BM25 ranking uses rounded scores with doc_id
    tie-breaks so both engines walk the identical top-20, and the
    cascade product is an exact 20-row window fold (product(), not
    exp∘Σln, so the walk is ULP-reproducible).

    Scale: scoring is the existing corpus-linear pipelines; the
    quartile thresholds come from a cumulative walk over the DISTINCT
    rounded-score grid (the Mann–Whitney value-domain rule — the
    quantized classifier weights bound the grid, never a corpus
    sort/ntile); ERR itself lives on a 20-row frame after
    TakeOrderedAndProject."""
    from ..operators.sampling import hash_bucket
    from ..operators.text import bm25_score, hashed_classifier_score

    d = load_table(spark, sf_dir, "documents")
    bm = bm25_score(d, ["spark", "stream", "window"], "doc_id", "text")
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
    # consumed by the threshold grid AND the per-doc grade pass: cut
    # the lineage so the hashed-classifier pipeline runs once (same
    # multi-consumer recomputation as the _scored_docs family)
    cl = checkpoint(hashed_classifier_score(d, model, dim=dim, bias=0.1))
    sgrid = cl.groupBy("score").agg(F.count(F.lit(1)).alias("c"))
    wv = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, 0
    )
    scum = sgrid.select(
        "score",
        F.sum("c").over(wv).alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    thr = scum.agg(
        F.min(
            F.when(4 * F.col("cum") >= 1 * F.col("n"), F.col("score"))
        ).alias("t1"),
        F.min(
            F.when(4 * F.col("cum") >= 2 * F.col("n"), F.col("score"))
        ).alias("t2"),
        F.min(
            F.when(4 * F.col("cum") >= 3 * F.col("n"), F.col("score"))
        ).alias("t3"),
    )
    grades = cl.join(F.broadcast(thr), F.lit(True)).select(
        "id",
        (
            F.when(F.col("score") > F.col("t1"), 1).otherwise(0)
            + F.when(F.col("score") > F.col("t2"), 1).otherwise(0)
            + F.when(F.col("score") > F.col("t3"), 1).otherwise(0)
        ).alias("g"),
    )
    top = (
        bm.select("id", "score")
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(20)
        .select(
            "id",
            F.row_number()
            .over(Window.orderBy(F.col("score").desc(), F.col("id").asc()))
            .alias("r"),
        )
    )
    rel = top.join(grades, "id").select(
        "r", ((F.pow(F.lit(2.0), F.col("g")) - 1.0) / 8.0).alias("rr")
    )
    wprev = Window.orderBy("r").rowsBetween(Window.unboundedPreceding, -1)
    walked = rel.select(
        "r",
        "rr",
        F.coalesce(
            F.product(F.lit(1.0) - F.col("rr")).over(wprev), F.lit(1.0)
        ).alias("stop_prob"),
    )
    return walked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_at_20"),
        F.round(F.avg(F.col("rr") * 8.0 / 7.0 * 3.0), 6).alias(
            "mean_grade_proxy"
        ),
        F.round(
            F.sum(F.col("rr") * F.col("stop_prob") / F.col("r")), 6
        ).alias("err_at_20"),
    )


# =====================================================================
# l-diversity report (distinct-l and entropy-l) over QI groups
# =====================================================================

@query(
    "l_diversity_report_orders",
    """
    WITH cells AS (
      SELECT o_orderpriority AS qi1,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS qi2,
             o_orderstatus AS sens, COUNT(*) AS c
      FROM orders GROUP BY 1, 2, 3
    ), per AS (
      SELECT qi1, qi2, c,
             CAST(c AS DOUBLE)
               / SUM(c) OVER (PARTITION BY qi1, qi2) AS p
      FROM cells
    ), grp AS (
      SELECT qi1, qi2, SUM(c) AS n, COUNT(*) AS l_distinct,
             EXP(-SUM(p * LN(p))) AS l_entropy
      FROM per GROUP BY qi1, qi2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(l_distinct) AS BIGINT) AS min_distinct_l,
           ROUND(MIN(l_entropy), 6) AS min_entropy_l,
           ROUND(AVG(CASE WHEN l_distinct >= 2 THEN 1.0 ELSE 0.0 END), 6)
             AS frac_l_ge2,
           ROUND(AVG(CASE WHEN l_distinct >= 3 THEN 1.0 ELSE 0.0 END), 6)
             AS frac_l_ge3
    FROM grp
    """,
)
def l_diversity_q(spark, sf_dir):
    """l-diversity audit (Machanavajjhala et al., ICDE 2006) of the
    orders table: quasi-identifier groups = (priority, order month),
    sensitive attribute = order status — the release-safety check
    k-anonymity (k_anonymity_report_orders) misses, because a group
    can be large yet reveal everyone's status if all rows share one
    value.  Reports worst-case distinct-l, worst-case entropy-l
    (exp of the Shannon entropy of the in-group sensitive
    distribution), and the fraction of groups meeting l≥2 / l≥3.
    One hash agg folds the corpus to (qi, sensitive) integer cells;
    everything after runs on the bounded group frame."""
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("qi1"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("qi2"),
        F.col("o_orderstatus").alias("sens"),
    ).agg(F.count(F.lit(1)).alias("c"))
    wg = Window.partitionBy("qi1", "qi2")
    p = F.col("c").cast("double") / F.sum("c").over(wg)
    per = cells.select(
        "qi1", "qi2", "c", p.alias("p")
    )
    grp = per.groupBy("qi1", "qi2").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("l_distinct"),
        F.exp(-F.sum(F.col("p") * F.log("p"))).alias("l_entropy"),
    )
    return grp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.min("l_distinct").cast("bigint").alias("min_distinct_l"),
        F.round(F.min("l_entropy"), 6).alias("min_entropy_l"),
        F.round(
            F.avg(F.when(F.col("l_distinct") >= 2, 1.0).otherwise(0.0)), 6
        ).alias("frac_l_ge2"),
        F.round(
            F.avg(F.when(F.col("l_distinct") >= 3, 1.0).otherwise(0.0)), 6
        ).alias("frac_l_ge3"),
    )


# =====================================================================
# Linear CKA between the two halves of the embedding space
# =====================================================================

@query(
    "cka_linear_embeddings",
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
    ), half AS (
      SELECT CAST(MAX(i) + 1 AS INT) / 2 AS h FROM mu
    ), cells AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j, SUM(a.c * b.c) AS val
      FROM xc a JOIN xc b ON a.vec_id = b.vec_id GROUP BY a.i, b.i
    ), blocks AS (
      SELECT SUM(CASE WHEN i < h AND j >= h THEN val * val END) AS sxy,
             SUM(CASE WHEN i < h AND j < h THEN val * val END) AS sxx,
             SUM(CASE WHEN i >= h AND j >= h THEN val * val END) AS syy
      FROM cells, half
    )
    SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_rows,
           ROUND(sxy / SQRT(sxx * syy), 6) AS cka
    FROM blocks
    """,
)
def cka_linear_q(spark, sf_dir):
    """Linear Centered Kernel Alignment (Kornblith et al., ICML 2019)
    between the first and second halves of the embedding dimensions —
    the standard representation-similarity score ML teams use to ask
    "do these two feature blocks encode the same geometry?" (CKA = 1
    ⇒ identical up to rotation/scale; near 0 ⇒ independent blocks;
    a high value flags redundant dimensions that Matryoshka-style
    truncation can drop).  CKA = ‖C_xy‖²_F / (‖C_xx‖_F·‖C_yy‖_F) on
    column-centered features, computed from the SAME covariance-cell
    algebra as the PCA gates: center per dimension, self-join on
    vec_id, fold dim² = 4 096 cells, then three block Frobenius sums
    on the cell frame.

    Scale: the cell build is the one corpus pass (dim² terms per row,
    map-side partial agg, merge-hinted self-join); everything after
    lives on the 4 096-row cell frame."""
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
    half = mu.agg(
        ((F.max("i") + 1) / 2).cast("int").alias("h")
    )
    blocks = cells.join(F.broadcast(half), F.lit(True)).agg(
        F.sum(
            F.when(
                (F.col("i") < F.col("h")) & (F.col("j") >= F.col("h")),
                F.col("val") * F.col("val"),
            )
        ).alias("sxy"),
        F.sum(
            F.when(
                (F.col("i") < F.col("h")) & (F.col("j") < F.col("h")),
                F.col("val") * F.col("val"),
            )
        ).alias("sxx"),
        F.sum(
            F.when(
                (F.col("i") >= F.col("h")) & (F.col("j") >= F.col("h")),
                F.col("val") * F.col("val"),
            )
        ).alias("syy"),
    )
    n = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    return blocks.join(F.broadcast(n), F.lit(True)).select(
        "n_rows",
        F.round(
            F.col("sxy") / F.sqrt(F.col("sxx") * F.col("syy")), 6
        ).alias("cka"),
    )


# =====================================================================
# Self-BLEU-2 generation-diversity score on an md5-sampled doc set
# =====================================================================

@query(
    "self_bleu_sample_docs",
    r"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE string_split_regex(lower(trim(text)), '\s+')
             END AS w
      FROM documents
      WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 17 = 0
    ), docs AS (
      SELECT doc_id, w, len(w) AS n_tok FROM base WHERE len(w) >= 2
    ), lens AS (
      SELECT COUNT(*) AS m, SUM(n_tok) AS s FROM docs
    ), uni AS (
      SELECT doc_id, g, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(w) AS g FROM docs) GROUP BY 1, 2
    ), bi AS (
      SELECT doc_id, g, COUNT(*) AS c
      FROM (SELECT doc_id, w[i] || ' ' || w[i + 1] AS g
            FROM (SELECT doc_id, w,
                         unnest(range(1, len(w))) AS i FROM docs))
      GROUP BY 1, 2
    ), ubyc AS (
      SELECT g, c, COUNT(*) AS cnt FROM uni GROUP BY g, c
    ), uen AS (
      SELECT ubyc.g, ubyc.c, ubyc.cnt, gm.mx1,
             DENSE_RANK() OVER (PARTITION BY ubyc.g
                                ORDER BY ubyc.c DESC) AS rnk
      FROM ubyc JOIN (SELECT g, MAX(c) AS mx1 FROM ubyc GROUP BY g) gm
        USING (g)
    ), ustat AS (
      SELECT g, ANY_VALUE(mx1) AS mx1,
             SUM(CASE WHEN c = mx1 THEN cnt ELSE 0 END) AS nmx,
             MAX(CASE WHEN rnk = 2 THEN c END) AS mx2
      FROM uen GROUP BY g
    ), bbyc AS (
      SELECT g, c, COUNT(*) AS cnt FROM bi GROUP BY g, c
    ), ben AS (
      SELECT bbyc.g, bbyc.c, bbyc.cnt, gm.mx1,
             DENSE_RANK() OVER (PARTITION BY bbyc.g
                                ORDER BY bbyc.c DESC) AS rnk
      FROM bbyc JOIN (SELECT g, MAX(c) AS mx1 FROM bbyc GROUP BY g) gm
        USING (g)
    ), bstat AS (
      SELECT g, ANY_VALUE(mx1) AS mx1,
             SUM(CASE WHEN c = mx1 THEN cnt ELSE 0 END) AS nmx,
             MAX(CASE WHEN rnk = 2 THEN c END) AS mx2
      FROM ben GROUP BY g
    ), p1 AS (
      SELECT uni.doc_id,
             CAST(SUM(LEAST(uni.c,
               CASE WHEN uni.c = u.mx1 AND u.nmx = 1
                    THEN COALESCE(u.mx2, 0) ELSE u.mx1 END)) AS DOUBLE)
               / SUM(uni.c) AS p1
      FROM uni JOIN ustat u USING (g) GROUP BY uni.doc_id
    ), p2 AS (
      SELECT bi.doc_id,
             CAST(SUM(LEAST(bi.c,
               CASE WHEN bi.c = b.mx1 AND b.nmx = 1
                    THEN COALESCE(b.mx2, 0) ELSE b.mx1 END)) AS DOUBLE)
               / SUM(bi.c) AS p2
      FROM bi JOIN bstat b USING (g) GROUP BY bi.doc_id
    ), scored AS (
      SELECT d.doc_id, p1.p1, p2.p2,
             CASE WHEN CAST(d.n_tok AS DOUBLE)
                       >= (lens.s - d.n_tok) / (lens.m - 1.0) THEN 1.0
                  ELSE EXP(1.0 - ((lens.s - d.n_tok) / (lens.m - 1.0))
                           / d.n_tok)
             END AS bp
      FROM docs d
      JOIN p1 ON p1.doc_id = d.doc_id
      JOIN p2 ON p2.doc_id = d.doc_id
      CROSS JOIN lens
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
           ROUND(AVG(p1), 6) AS mean_p1,
           ROUND(AVG(p2), 6) AS mean_p2,
           ROUND(AVG(CASE WHEN p1 > 0 AND p2 > 0
                          THEN bp * SQRT(p1 * p2) ELSE 0.0 END), 6)
             AS mean_self_bleu2
    FROM scored
    """,
)
def self_bleu_q(spark, sf_dir):
    """Self-BLEU-2 (Zhu et al., SIGIR 2018) over a deterministic
    md5-sampled 1/17 document subset — the corpus-diversity score
    generation teams track: each sampled document is BLEU-scored
    against ALL OTHER sampled documents as references, so a HIGH mean
    self-BLEU flags mode collapse / templated text that per-document
    repetition gates can't see (they never compare across documents).
    Per doc: clipped modified n-gram precision (clip = the gram's max
    count among OTHER docs — max₁ unless this doc is the unique
    argmax, then max₂), geometric mean of p₁,p₂, brevity penalty
    against the mean other-doc length.

    Scale: the sample is a fixed md5-coin fraction (the package's
    sampling contract); gram⋈gram-stat joins are gram-keyed and
    merge-hinted (corpus-scaled sides), never doc×doc — the classic
    all-pairs BLEU is re-expressed as per-gram max/second-max
    statistics, one shuffle each for unigrams and bigrams."""
    from ..operators.sampling import hash_bucket

    d = load_table(spark, sf_dir, "documents").filter(
        hash_bucket(F.col("doc_id"), 17) == 0
    )
    toks = d.select(
        "doc_id",
        F.when(F.trim("text") == "", F.array().cast("array<string>"))
        .otherwise(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .alias("w"),
    )
    docs = checkpoint(
        toks.filter(F.size("w") >= 2).select(
            "doc_id", "w", F.size("w").alias("n_tok")
        )
    )
    lens = docs.agg(
        F.count(F.lit(1)).alias("m"), F.sum("n_tok").alias("s")
    )
    uni = (
        docs.select("doc_id", F.explode("w").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> concat(w[i - 1], ' ', w[i]))"
                )
            ).alias("g"),
        )
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    def gram_stats(cnts):
        # per gram: top count, #docs at top, and the runner-up count
        byc = cnts.groupBy("g", "c").agg(F.count(F.lit(1)).alias("cnt"))
        wg = Window.partitionBy("g")
        wr = Window.partitionBy("g").orderBy(F.col("c").desc())
        en = byc.select(
            "g",
            "c",
            "cnt",
            F.max("c").over(wg).alias("mx1"),
            F.dense_rank().over(wr).alias("rnk"),
        ).withColumn(
            "nmx",
            F.sum(
                F.when(F.col("c") == F.col("mx1"), F.col("cnt")).otherwise(
                    0
                )
            ).over(wg),
        )
        return en.groupBy("g", "mx1", "nmx").agg(
            F.max(F.when(F.col("rnk") == 2, F.col("c"))).alias("mx2")
        )

    def precision(cnts, stats, out):
        clip = F.when(
            (F.col("c") == F.col("mx1")) & (F.col("nmx") == 1),
            F.coalesce(F.col("mx2"), F.lit(0)),
        ).otherwise(F.col("mx1"))
        return (
            cnts.hint("merge")
            .join(stats, "g")
            .groupBy("doc_id")
            .agg(
                (
                    F.sum(F.least(F.col("c"), clip)).cast("double")
                    / F.sum("c")
                ).alias(out)
            )
        )

    p1 = precision(uni, gram_stats(uni), "p1")
    p2 = precision(bi, gram_stats(bi), "p2")
    scored = (
        docs.join(p1, "doc_id")
        .join(p2, "doc_id")
        .join(F.broadcast(lens), F.lit(True))
    )
    rlen = (F.col("s") - F.col("n_tok")) / (F.col("m") - F.lit(1.0))
    bp = F.when(
        F.col("n_tok").cast("double") >= rlen, F.lit(1.0)
    ).otherwise(F.exp(F.lit(1.0) - rlen / F.col("n_tok")))
    scored = scored.withColumn("bp", bp)
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        F.round(F.avg("p1"), 6).alias("mean_p1"),
        F.round(F.avg("p2"), 6).alias("mean_p2"),
        F.round(
            F.avg(
                F.when(
                    (F.col("p1") > 0) & (F.col("p2") > 0),
                    F.col("bp") * F.sqrt(F.col("p1") * F.col("p2")),
                ).otherwise(0.0)
            ),
            6,
        ).alias("mean_self_bleu2"),
    )


# =====================================================================
# Zero-inflation score test (van den Broek) on per-(user, day) counts
# =====================================================================

@query(
    "zero_inflation_purchase_events",
    """
    WITH units AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS y
      FROM events GROUP BY 1, 2
    ), folds AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS n0,
             SUM(y) AS sy, SUM(y * y) AS syy
      FROM units
    ), d AS (
      SELECT n, n0, sy, syy,
             CAST(sy AS DOUBLE) / n AS lam,
             EXP(-CAST(sy AS DOUBLE) / n) AS p0
      FROM folds
    )
    SELECT CAST(n AS BIGINT) AS n_units, CAST(n0 AS BIGINT) AS n_zero,
           ROUND(lam, 6) AS lambda_hat,
           ROUND((syy - CAST(sy AS DOUBLE) * sy / n)
                 / CAST(sy AS DOUBLE), 6) AS vmr,
           CASE WHEN n * p0 * (1 - p0) - n * lam * p0 * p0 > 0
                THEN ROUND((n0 - n * p0) * (n0 - n * p0)
                           / (n * p0 * (1 - p0) - n * lam * p0 * p0), 6)
           END AS zi_score_stat
    FROM d
    """,
)
def zero_inflation_q(spark, sf_dir):
    """Zero-inflation score test (van den Broek, Biometrics 1995) on
    per-(user, active-day) purchase counts against a Poisson null —
    the one-degree-of-freedom χ² that asks "are there MORE zero-
    purchase days than Poisson(λ̂) predicts?", the standard pre-check
    before fitting ZIP/hurdle demand models (the companion overdisp-
    ersion gate ``negbin_overdispersion_events`` tests the variance,
    which stays Poisson-like under pure zero-inflation — the two
    tests separate the failure modes).  S = (n₀ − n·p̂₀)² /
    (n·p̂₀(1−p̂₀) − n·ȳ·p̂₀²), p̂₀ = e^{−ȳ}.  One hash agg to
    (user, day) integer counts, one 4-integer fold; vmr (variance-
    to-mean, the dispersion index) is reported alongside."""
    e = load_table(spark, sf_dir, "events")
    units = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y")
    )
    folds = units.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("y") == 0, 1).otherwise(0)).alias("n0"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    lam = F.col("sy").cast("double") / F.col("n")
    p0 = F.exp(-lam)
    denom = (
        F.col("n") * p0 * (1 - p0) - F.col("n") * lam * p0 * p0
    )
    return folds.select(
        F.col("n").cast("bigint").alias("n_units"),
        F.col("n0").cast("bigint").alias("n_zero"),
        F.round(lam, 6).alias("lambda_hat"),
        F.round(
            (
                F.col("syy")
                - F.col("sy").cast("double") * F.col("sy") / F.col("n")
            )
            / F.col("sy").cast("double"),
            6,
        ).alias("vmr"),
        F.when(
            denom > 0,
            F.round(
                (F.col("n0") - F.col("n") * p0)
                * (F.col("n0") - F.col("n") * p0)
                / denom,
                6,
            ),
        ).alias("zi_score_stat"),
    )


# =====================================================================
# Lorenz asymmetry coefficient of customer spend concentration
# =====================================================================

@query(
    "lorenz_asymmetry_customers",
    """
    WITH cust AS (
      SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS x
      FROM orders GROUP BY 1
    ), stats AS (
      SELECT COUNT(*) AS n, AVG(x) AS mu, SUM(x) AS ln_total FROM cust
    ), parts AS (
      SELECT s.n, s.mu, s.ln_total,
             SUM(CASE WHEN c.x < s.mu THEN 1 ELSE 0 END) AS m,
             SUM(CASE WHEN c.x < s.mu THEN c.x ELSE 0 END) AS lm,
             MAX(CASE WHEN c.x < s.mu THEN c.x END) AS xm,
             MIN(CASE WHEN c.x >= s.mu THEN c.x END) AS xm1
      FROM cust c, stats s
      GROUP BY s.n, s.mu, s.ln_total
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(m AS BIGINT) AS n_below_mean,
           ROUND((m + (mu - xm) / (xm1 - xm)) / n
                 + (lm + (mu - xm) / (xm1 - xm) * xm1) / ln_total, 6)
             AS lorenz_asymmetry
    FROM parts
    """,
)
def lorenz_asymmetry_q(spark, sf_dir):
    """Lorenz asymmetry coefficient (Damgaard & Weiner, Ecology 2000)
    of per-customer spend: S = F(μ) + L(μ) with the standard linear
    interpolation δ = (μ − x₍ₘ₎)/(x₍ₘ₊₁₎ − x₍ₘ₎) — the companion the
    Gini/Lorenz gates (lorenz_curve_customers) need to say WHICH tail
    drives the inequality: S < 1 means concentration comes from many
    small customers, S > 1 from a few whales; two distributions can
    share a Gini yet differ here.  Per-customer totals round to
    cents; F(μ), L(μ) and the two boundary order statistics all fold
    in ONE pass over the customer frame (no sort, no rank — the
    boundary points are conditional MAX/MIN against the broadcast
    mean)."""
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("x")
    )
    stats = cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("x").alias("mu"),
        F.sum("x").alias("ln_total"),
    )
    parts = (
        cust.join(F.broadcast(stats), F.lit(True))
        .groupBy("n", "mu", "ln_total")
        .agg(
            F.sum(F.when(F.col("x") < F.col("mu"), 1).otherwise(0)).alias(
                "m"
            ),
            F.sum(
                F.when(F.col("x") < F.col("mu"), F.col("x")).otherwise(0.0)
            ).alias("lm"),
            F.max(F.when(F.col("x") < F.col("mu"), F.col("x"))).alias(
                "xm"
            ),
            F.min(F.when(F.col("x") >= F.col("mu"), F.col("x"))).alias(
                "xm1"
            ),
        )
    )
    delta = (F.col("mu") - F.col("xm")) / (F.col("xm1") - F.col("xm"))
    return parts.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("m").cast("bigint").alias("n_below_mean"),
        F.round(
            (F.col("m") + delta) / F.col("n")
            + (F.col("lm") + delta * F.col("xm1")) / F.col("ln_total"),
            6,
        ).alias("lorenz_asymmetry"),
    )
