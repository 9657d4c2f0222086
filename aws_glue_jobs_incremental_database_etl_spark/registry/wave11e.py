"""Round-11 extension wave E (SURVEY.md §2.33): cohort LTV curves
with triangle (right-censoring) correction, log-log price elasticity,
an exact Fisher randomization test (paired sign-flip), ties-corrected
Kendall's τ-b on year strata, Goodman–Kruskal's τ (the variance-based
PRE companion of the λ gate), and a centroid-form Dunn index for
cluster validity.

Every query follows the registry conventions (``._core``): identical
column aliases in the Spark plan and the DuckDB oracle, exact integer
arithmetic until the final division, ROUND(…, 6) on floating outputs,
deterministic tie-breaks, and bounded grids (ages ≤ 8, 64 literal
flips, |types|, year-strata day pairs, k² centroid pairs) — never
corpus² — on the join side.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401  resolves pandas_udf string annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..tables import load_table
from ._core import O, Q, query  # noqa: F401


# =====================================================================
# Cohort LTV curve (cumulative purchase value per user by cohort age)
# =====================================================================

@query(
    "cohort_ltv_curve_events",
    """
    WITH wk AS (
      SELECT user_id,
             CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS w,
             SUM(CASE WHEN event_type = 'purchase'
                      THEN value ELSE 0 END) AS rev
      FROM events GROUP BY 1, 2
    ), w0 AS (
      SELECT user_id, MIN(w) AS w0 FROM wk GROUP BY user_id
    ), wmax AS (
      SELECT MAX(w) AS wmax FROM wk
    ), aged AS (
      SELECT wk.user_id, w0.w0,
             CAST(date_diff('day', w0.w0, wk.w) AS BIGINT) // 7 AS age,
             wk.rev
      FROM wk JOIN w0 ON w0.user_id = wk.user_id
    ), ages AS (
      SELECT unnest(range(0, 8)) AS age
    ), peruser AS (
      SELECT w0.user_id, w0.w0, ages.age,
             COALESCE(SUM(a.rev), 0.0) AS rev_at_age
      FROM w0 CROSS JOIN ages
      LEFT JOIN aged a
        ON a.user_id = w0.user_id AND a.age = ages.age
      GROUP BY 1, 2, 3
    ), cum AS (
      SELECT user_id, w0, age,
             SUM(rev_at_age) OVER (PARTITION BY user_id
                                   ORDER BY age) AS cum_rev
      FROM peruser
    ), eligible AS (
      SELECT c.age, c.cum_rev
      FROM cum c, wmax
      WHERE c.w0 <= wmax.wmax - (CAST(c.age AS BIGINT) * 7)
                                * INTERVAL 1 DAY
    )
    SELECT CAST(age AS BIGINT) AS age_weeks,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(SUM(cum_rev) / COUNT(*), 4) AS ltv_per_user
    FROM eligible GROUP BY age ORDER BY age
    """,
)
def cohort_ltv_q(spark, sf_dir):
    """Cohort LTV curve: cumulative purchase value per user at cohort
    ages 0..7 weeks, pooled over acquisition cohorts with the
    TRIANGLE correction — at each age only cohorts old enough to be
    fully observed at that age contribute, the right-censoring filter
    naive LTV averages skip (they mix immature cohorts in and bend
    the curve down at the tail).  The retention twin
    (cohort_weekly_retention) counts active users; this accumulates
    VALUE, which is what payback-period decisions need.

    Scale: user-week folds, an 8-row literal age grid fanned per user
    (≤8× the user dimension), a per-user cumulative window, and one
    bounded group-by — no corpus pairs anywhere."""
    e = load_table(spark, sf_dir, "events")
    wkcol = F.date_trunc("week", F.to_date("ts")).cast("date")
    wk = e.groupBy("user_id", wkcol.alias("w")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value"))
            .otherwise(0.0)
        ).alias("rev")
    )
    w0 = wk.groupBy("user_id").agg(F.min("w").alias("w0"))
    wmax = wk.agg(F.max("w").alias("wmax"))
    aged = wk.join(w0, "user_id").select(
        F.col("user_id").alias("uid"),
        F.floor(
            F.datediff(F.col("w"), F.col("w0")).cast("bigint") / 7
        ).alias("a"),
        "rev",
    )
    ages = spark.range(0, 8).select(F.col("id").alias("age"))
    peruser = (
        w0.join(F.broadcast(ages), F.lit(True))
        .join(
            aged,
            (F.col("uid") == F.col("user_id"))
            & (F.col("a") == F.col("age")),
            "left",
        )
        .groupBy("user_id", "w0", "age")
        .agg(F.coalesce(F.sum("rev"), F.lit(0.0)).alias("rev_at_age"))
    )
    cum = peruser.select(
        "user_id",
        "w0",
        "age",
        F.sum("rev_at_age")
        .over(Window.partitionBy("user_id").orderBy("age"))
        .alias("cum_rev"),
    )
    eligible = cum.join(F.broadcast(wmax), F.lit(True)).filter(
        F.col("w0") <= F.date_sub(F.col("wmax"), (F.col("age") * 7).cast("int"))
    )
    return (
        eligible.groupBy("age")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.round(F.sum("cum_rev") / F.count(F.lit(1)), 4).alias(
                "ltv_per_user"
            ),
        )
        .select(
            F.col("age").cast("bigint").alias("age_weeks"),
            "n_users",
            "ltv_per_user",
        )
        .orderBy("age_weeks")
    )


# =====================================================================
# Log-log price elasticity of demand per part type
# =====================================================================

@query(
    "price_elasticity_lineitem",
    """
    WITH obs AS (
      SELECT p.p_type,
             LN(SUM(l.l_extendedprice) / SUM(l.l_quantity)) AS lp,
             LN(SUM(l.l_quantity)) AS lq
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_quantity > 0
      GROUP BY p.p_type, l.l_partkey,
               date_trunc('month', l.l_shipdate)
    ), folds AS (
      SELECT p_type, COUNT(*) AS n,
             AVG(lp) AS mp, AVG(lq) AS mq,
             AVG(lp * lq) AS mpq, AVG(lp * lp) AS mpp
      FROM obs GROUP BY p_type
    )
    SELECT p_type, CAST(n AS BIGINT) AS n_obs,
           CASE WHEN mpp - mp * mp > 0
                THEN ROUND((mpq - mp * mq) / (mpp - mp * mp), 6)
           END AS elasticity
    FROM folds WHERE n >= 10 ORDER BY p_type
    """,
)
def price_elasticity_q(spark, sf_dir):
    """Own-price elasticity of demand per part type: the OLS slope of
    ln(quantity) on ln(unit price) over (part, month) market cells —
    THE pricing-analytics number (elasticity < −1 ⇒ revenue rises
    when price falls), which the raw corr/regr gates don't produce
    because elasticity is defined on LOG aggregated market cells, not
    row-level prices.  Unit price folds exactly per cell
    (Σ revenue / Σ quantity) before the log; the slope is the
    covariance/variance ratio of 4 per-type moments.

    Scale: one part-keyed join (dimension join, broadcast at bench
    scale, shuffle at 100 TB), one (type, part, month) fold, one
    |types|-row moment fold."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") > 0
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    obs = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy(
            "p_type",
            "l_partkey",
            F.date_trunc("month", "l_shipdate").alias("mon"),
        )
        .agg(
            F.log(
                F.sum("l_extendedprice") / F.sum("l_quantity")
            ).alias("lp"),
            F.log(F.sum("l_quantity")).alias("lq"),
        )
    )
    folds = obs.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("lp").alias("mp"),
        F.avg("lq").alias("mq"),
        F.avg(F.col("lp") * F.col("lq")).alias("mpq"),
        F.avg(F.col("lp") * F.col("lp")).alias("mpp"),
    )
    varp = F.col("mpp") - F.col("mp") * F.col("mp")
    return (
        folds.filter(F.col("n") >= 10)
        .select(
            "p_type",
            F.col("n").cast("bigint").alias("n_obs"),
            F.when(
                varp > 0,
                F.round(
                    (F.col("mpq") - F.col("mp") * F.col("mq")) / varp, 6
                ),
            ).alias("elasticity"),
        )
        .orderBy("p_type")
    )


# =====================================================================
# Paired sign-flip randomization test: weekend vs weekday value
# =====================================================================

@query(
    "sign_flip_test_weekend_events",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk,
             CASE WHEN isodow(CAST(ts AS DATE)) >= 6
                  THEN 1 ELSE 0 END AS wknd,
             CAST(ts AS DATE) AS day,
             ROUND(SUM(value), 4) AS v
      FROM events GROUP BY 1, 2, 3
    ), wkcell AS (
      SELECT wk, wknd, AVG(v) AS av, COUNT(*) AS nd
      FROM daily GROUP BY wk, wknd
    ), paired AS (
      SELECT a.wk, ROUND(a.av - b.av, 6) AS d
      FROM wkcell a JOIN wkcell b
        ON a.wk = b.wk AND a.wknd = 1 AND b.wknd = 0
      WHERE a.nd = 2 AND b.nd = 5
    ), obs AS (
      SELECT COUNT(*) AS k, AVG(d) AS t_obs FROM paired
    ), flips AS (
      SELECT r, AVG(CASE WHEN CAST(('0x' || substring(md5(
                      CAST(wk AS VARCHAR) || '#' || CAST(r AS VARCHAR)),
                      1, 8)) AS BIGINT) % 2 = 0
                    THEN d ELSE -d END) AS t_r
      FROM paired, (SELECT unnest(range(1, 65)) AS r)
      GROUP BY r
    )
    SELECT CAST(obs.k AS BIGINT) AS n_weeks,
           ROUND(obs.t_obs, 6) AS mean_weekend_lift,
           CAST(SUM(CASE WHEN ABS(flips.t_r) >= ABS(obs.t_obs)
                           - 1e-9 * GREATEST(1, ABS(obs.t_obs))
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
           ROUND((1.0 + SUM(CASE WHEN ABS(flips.t_r) >= ABS(obs.t_obs)
                                   - 1e-9 * GREATEST(1, ABS(obs.t_obs))
                                 THEN 1 ELSE 0 END)) / 65.0, 6)
             AS p_value
    FROM flips, obs GROUP BY obs.k, obs.t_obs
    """,
)
def sign_flip_q(spark, sf_dir):
    """Exact Fisher randomization test, paired sign-flip form: does
    weekend daily value differ from weekday daily value?  Each
    COMPLETE ISO week (2 weekend + 5 weekday days) contributes one
    paired difference d = mean(weekend) − mean(weekday); under H₀ the
    sign of every d is exchangeable, so 64 deterministic md5-coin
    sign assignments give the randomization distribution and
    p = (1 + #{|T_r| ≥ |T_obs|})/(64+1) — finite-sample valid with NO
    normality assumption, the inference the Welch/MW gates can't
    claim under weekly dependence (the pairing absorbs the week
    effect).  The ≥ carries a tolerance of 1e-9·max(1, |T_obs|):
    all-same-sign assignments make |T_r| mathematically EQUAL to
    |T_obs|, and whether that exact tie survives float summation
    depends on reduction order — ties must count, per the
    p ≥ 1/(n+1) identity-assignment guarantee.  The tolerance is
    relative so it scales with the lift; the floor of 1 keeps it at
    1e-9 absolute near zero.  Degenerate case: when |T_obs| ≤ 1e-9
    the bound is ≤ 0, every |T_r| clears it, so n_extreme = 64 and
    p = 1 — "no evidence", the right answer for a zero observed
    lift.  The md5(week, r) coins are the package's deterministic
    resampling contract (bootstrap_ci's scheme).

    Scale: week-cell folds, a 64-row literal flip grid fanned over
    the ≤weeks paired frame, one group-by — bounded everywhere."""
    from ..operators.sampling import hash_bucket

    e = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    daily = e.groupBy(
        F.date_trunc("week", day).cast("date").alias("wk"),
        F.when((F.weekday(day) + 1) >= 6, 1).otherwise(0).alias("wknd"),
        day.alias("day"),
    ).agg(F.round(F.sum("value"), 4).alias("v"))
    wkcell = daily.groupBy("wk", "wknd").agg(
        F.avg("v").alias("av"), F.count(F.lit(1)).alias("nd")
    )
    a = wkcell.filter((F.col("wknd") == 1) & (F.col("nd") == 2)).select(
        "wk", F.col("av").alias("av_w")
    )
    b = wkcell.filter((F.col("wknd") == 0) & (F.col("nd") == 5)).select(
        F.col("wk").alias("wk_b"), F.col("av").alias("av_d")
    )
    paired = a.join(b, F.col("wk") == F.col("wk_b")).select(
        "wk", F.round(F.col("av_w") - F.col("av_d"), 6).alias("d")
    )
    obs = paired.agg(
        F.count(F.lit(1)).alias("k"), F.avg("d").alias("t_obs")
    )
    rs = spark.range(1, 65).select(F.col("id").alias("r"))
    coin = hash_bucket(
        F.concat_ws("#", F.col("wk").cast("string"),
                    F.col("r").cast("string")),
        2,
    )
    flips = (
        paired.join(F.broadcast(rs), F.lit(True))
        .groupBy("r")
        .agg(
            F.avg(
                F.when(coin == 0, F.col("d")).otherwise(-F.col("d"))
            ).alias("t_r")
        )
    )
    ext = F.sum(
        F.when(
            F.abs(F.col("t_r"))
            >= F.abs(F.col("t_obs"))
            - F.lit(1e-9) * F.greatest(F.lit(1.0), F.abs(F.col("t_obs"))),
            1,
        ).otherwise(0)
    )
    return (
        flips.join(F.broadcast(obs), F.lit(True))
        .groupBy("k", "t_obs")
        .agg(ext.alias("n_ext"))
        .select(
            F.col("k").cast("bigint").alias("n_weeks"),
            F.round(F.col("t_obs"), 6).alias("mean_weekend_lift"),
            F.col("n_ext").cast("bigint").alias("n_extreme"),
            F.round((1.0 + F.col("n_ext")) / 65.0, 6).alias("p_value"),
        )
    )


# =====================================================================
# Kendall's tau-b between daily count and daily value (year strata)
# =====================================================================

@query(
    "kendall_taub_daily_events",
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
      SELECT a.yr, ANY_VALUE(a.n) AS n,
             SUM(CASE WHEN (a.x < b.x AND a.y < b.y)
                        OR (a.x > b.x AND a.y > b.y)
                      THEN 1 ELSE 0 END) AS conc,
             SUM(CASE WHEN (a.x < b.x AND a.y > b.y)
                        OR (a.x > b.x AND a.y < b.y)
                      THEN 1 ELSE 0 END) AS disc,
             SUM(CASE WHEN a.x = b.x AND a.y <> b.y
                      THEN 1 ELSE 0 END) AS tx,
             SUM(CASE WHEN a.y = b.y AND a.x <> b.x
                      THEN 1 ELSE 0 END) AS ty
      FROM t a JOIN t b ON a.yr = b.yr AND b.rn > a.rn
      GROUP BY a.yr
    )
    SELECT CAST(yr AS BIGINT) AS yr, CAST(n AS BIGINT) AS n_days,
           CAST(conc AS BIGINT) AS concordant,
           CAST(disc AS BIGINT) AS discordant,
           ROUND((conc - disc)
                 / SQRT(CAST(conc + disc + tx AS DOUBLE)
                        * (conc + disc + ty)), 6) AS tau_b
    FROM pairs ORDER BY yr
    """,
)
def kendall_taub_q(spark, sf_dir):
    """Kendall's τ-b between daily event count and daily total value,
    stratified by year — the TIES-CORRECTED rank dependence the suite
    was missing: Spearman (spearman_chars_score) mishandles heavy
    ties, Chatterjee's ξ is asymmetric, dCor is magnitude-based; τ-b
    divides C−D by the tie-adjusted pair counts, the form every stats
    package reports for discrete data (daily counts tie often).

    Scale: the pair grid is built WITHIN year strata (the
    theil_sen_yearly discipline) — ≤366²/2 pairs per year, linear in
    years, never span²; counts are exact integers and y folds
    ROUND(…,4) before comparison so tie detection is ULP-safe."""
    e = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    daily = e.groupBy(F.year(day).alias("yr"), day.alias("day")).agg(
        F.count(F.lit(1)).alias("x"),
        F.round(F.sum("value"), 4).alias("y"),
    )
    num = daily.select(
        "yr",
        "x",
        "y",
        F.row_number()
        .over(Window.partitionBy("yr").orderBy("day"))
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("yr")).alias("n"),
    )
    t = num.filter(F.col("n") >= 30)
    a, b = t.alias("a"), t.alias("b")
    ax, bx = F.col("a.x"), F.col("b.x")
    ay, by = F.col("a.y"), F.col("b.y")
    pairs = (
        a.join(
            b,
            (F.col("a.yr") == F.col("b.yr"))
            & (F.col("b.rn") > F.col("a.rn")),
        )
        .groupBy(F.col("a.yr").alias("yr"))
        .agg(
            F.any_value(F.col("a.n")).alias("n"),
            F.sum(
                F.when(
                    ((ax < bx) & (ay < by)) | ((ax > bx) & (ay > by)), 1
                ).otherwise(0)
            ).alias("conc"),
            F.sum(
                F.when(
                    ((ax < bx) & (ay > by)) | ((ax > bx) & (ay < by)), 1
                ).otherwise(0)
            ).alias("disc"),
            F.sum(
                F.when((ax == bx) & (ay != by), 1).otherwise(0)
            ).alias("tx"),
            F.sum(
                F.when((ay == by) & (ax != bx), 1).otherwise(0)
            ).alias("ty"),
        )
    )
    return pairs.select(
        F.col("yr").cast("bigint").alias("yr"),
        F.col("n").cast("bigint").alias("n_days"),
        F.col("conc").cast("bigint").alias("concordant"),
        F.col("disc").cast("bigint").alias("discordant"),
        F.round(
            (F.col("conc") - F.col("disc"))
            / F.sqrt(
                (F.col("conc") + F.col("disc") + F.col("tx")).cast(
                    "double"
                )
                * (F.col("conc") + F.col("disc") + F.col("ty"))
            ),
            6,
        ).alias("tau_b"),
    ).orderBy("yr")


# =====================================================================
# Goodman–Kruskal tau (variance-based PRE) for lang | source
# =====================================================================

@query(
    "gk_tau_lang_source_docs",
    """
    WITH cells AS (
      SELECT source, lang, COUNT(*) AS c
      FROM documents GROUP BY 1, 2
    ), rowm AS (
      SELECT source, SUM(c) AS ri FROM cells GROUP BY source
    ), colm AS (
      SELECT lang, SUM(c) AS cj FROM cells GROUP BY lang
    ), tot AS (
      SELECT SUM(c) AS n FROM cells
    ), cond AS (
      SELECT SUM(CAST(cells.c AS DOUBLE) * cells.c / rowm.ri) AS s_cond
      FROM cells JOIN rowm ON rowm.source = cells.source
    ), marg AS (
      SELECT SUM(CAST(cj AS DOUBLE) * cj) / (SELECT n FROM tot) AS s_marg
      FROM colm
    )
    SELECT CAST(tot.n AS BIGINT) AS n_docs,
           ROUND((cond.s_cond - marg.s_marg)
                 / (tot.n - marg.s_marg), 6) AS gk_tau
    FROM cond, marg, tot
    """,
)
def gk_tau_q(spark, sf_dir):
    """Goodman–Kruskal's τ for predicting language from source — the
    VARIANCE-based proportional-reduction-in-error companion of the
    existing λ gate (gk_lambda_lang_source_docs): λ only counts modal
    misses, so it reads 0 whenever every source shares the same modal
    language even under real association; τ uses the full Gini
    variation (τ = [Σᵢⱼ nᵢⱼ²/nᵢ· − Σⱼ n·ⱼ²/n]/[n − Σⱼ n·ⱼ²/n]) and
    detects it — reporting both is the standard practice for nominal
    association audits.  One hash agg to the |source|×|lang| grid;
    everything after is bounded-grid arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("c")
    )
    rowm = cells.groupBy("source").agg(F.sum("c").alias("ri"))
    colm = cells.groupBy("lang").agg(F.sum("c").alias("cj"))
    tot = cells.agg(F.sum("c").alias("n"))
    cond = (
        cells.join(F.broadcast(rowm), "source")
        .agg(
            F.sum(
                F.col("c").cast("double") * F.col("c") / F.col("ri")
            ).alias("s_cond")
        )
    )
    marg = (
        colm.join(F.broadcast(tot), F.lit(True))
        .agg(
            (
                F.sum(F.col("cj").cast("double") * F.col("cj"))
                / F.any_value("n")
            ).alias("s_marg")
        )
    )
    return (
        cond.join(F.broadcast(marg), F.lit(True))
        .join(F.broadcast(tot), F.lit(True))
        .select(
            F.col("n").cast("bigint").alias("n_docs"),
            F.round(
                (F.col("s_cond") - F.col("s_marg"))
                / (F.col("n") - F.col("s_marg")),
                6,
            ).alias("gk_tau"),
        )
    )


# =====================================================================
# Centroid-form Dunn index over the embedding labels
# =====================================================================

@query(
    "dunn_index_labels_embeddings",
    """
    WITH x AS (
      SELECT vec_id, label, CAST(w[i + 1] AS DOUBLE) AS xi, i
      FROM (SELECT vec_id, label, embedding AS w,
                   unnest(range(0, len(embedding))) AS i
            FROM embeddings)
    ), cent AS (
      SELECT label, i, AVG(xi) AS mu FROM x GROUP BY label, i
    ), rad AS (
      SELECT x.label, x.vec_id,
             SQRT(SUM((x.xi - cent.mu) * (x.xi - cent.mu))) AS r
      FROM x JOIN cent ON cent.label = x.label AND cent.i = x.i
      GROUP BY x.label, x.vec_id
    ), diam AS (
      SELECT MAX(mr) AS max_diam
      FROM (SELECT label, 2 * MAX(r) AS mr FROM rad GROUP BY label)
    ), inter AS (
      SELECT MIN(dist) AS min_inter
      FROM (
        SELECT a.label AS la, b.label AS lb,
               SQRT(SUM((a.mu - b.mu) * (a.mu - b.mu))) AS dist
        FROM cent a JOIN cent b
          ON a.i = b.i AND a.label < b.label
        GROUP BY a.label, b.label
      )
    ), k AS (
      SELECT COUNT(DISTINCT label) AS k FROM cent
    )
    SELECT CAST(k.k AS BIGINT) AS k,
           ROUND(inter.min_inter, 6) AS min_intercentroid,
           ROUND(diam.max_diam, 6) AS max_diameter,
           ROUND(inter.min_inter / diam.max_diam, 6) AS dunn_index
    FROM k, inter, diam
    """,
)
def dunn_index_q(spark, sf_dir):
    """Centroid-form Dunn index (Bezdek & Pal 1998 generalization)
    over the embedding labels: min inter-centroid distance over max
    cluster diameter (2·max point-to-centroid radius) — the
    separation/compactness validity ratio that complements the
    existing Davies–Bouldin (average-case) and silhouette (per-point)
    gates with the WORST-CASE view: one overlapping cluster pair
    drags Dunn to ~0 even when the average looks fine.  The classic
    point-pair Dunn is corpus²; the centroid form is the standard
    scalable surrogate and needs only per-label means, per-point
    radii (one corpus pass), and a k² centroid grid."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform(F.col("embedding"), lambda v: v.cast("double"))
        ).alias("i", "xi"),
    )
    cent = x.groupBy("label", "i").agg(F.avg("xi").alias("mu"))
    centr = cent.select(
        F.col("label").alias("lc"),
        F.col("i").alias("ic"),
        "mu",
    )
    rad = (
        x.join(
            F.broadcast(centr),
            (F.col("lc") == F.col("label"))
            & (F.col("ic") == F.col("i")),
        )
        .groupBy("label", "vec_id")
        .agg(
            F.sqrt(
                F.sum(
                    (F.col("xi") - F.col("mu"))
                    * (F.col("xi") - F.col("mu"))
                )
            ).alias("r")
        )
    )
    diam = (
        rad.groupBy("label")
        .agg((2 * F.max("r")).alias("mr"))
        .agg(F.max("mr").alias("max_diam"))
    )
    ca = cent.select(
        F.col("label").alias("la"), F.col("i").alias("ia"),
        F.col("mu").alias("ma")
    )
    cb = cent.select(
        F.col("label").alias("lb"), F.col("i").alias("ib"),
        F.col("mu").alias("mb")
    )
    inter = (
        ca.join(
            cb,
            (F.col("ia") == F.col("ib")) & (F.col("la") < F.col("lb")),
        )
        .groupBy("la", "lb")
        .agg(
            F.sqrt(
                F.sum(
                    (F.col("ma") - F.col("mb"))
                    * (F.col("ma") - F.col("mb"))
                )
            ).alias("dist")
        )
        .agg(F.min("dist").alias("min_inter"))
    )
    k = cent.select("label").distinct().agg(
        F.count(F.lit(1)).alias("k")
    )
    return (
        k.join(F.broadcast(inter), F.lit(True))
        .join(F.broadcast(diam), F.lit(True))
        .select(
            F.col("k").cast("bigint").alias("k"),
            F.round(F.col("min_inter"), 6).alias("min_intercentroid"),
            F.round(F.col("max_diam"), 6).alias("max_diameter"),
            F.round(
                F.col("min_inter") / F.col("max_diam"), 6
            ).alias("dunn_index"),
        )
    )


# =====================================================================
# Jaccard dedup threshold yield curve (policy sweep)
# =====================================================================

from ._core import _SHINGLE_INTER_SQL  # noqa: E402


@query(
    "jaccard_yield_curve_docs",
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
    ), taus AS (
      SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS tau
    )
    SELECT taus.tau,
           CAST(SUM(CASE WHEN j.jac >= taus.tau THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pairs,
           ROUND(AVG(CASE WHEN j.jac >= taus.tau THEN j.jac END), 4)
             AS mean_jaccard
    FROM taus LEFT JOIN j ON j.jac >= 0.0
    GROUP BY taus.tau ORDER BY taus.tau
    """,
)
def jaccard_yield_curve_q(spark, sf_dir):
    """Dedup-policy threshold sweep: how many exact 3-gram-Jaccard
    near-dup pairs each candidate threshold τ ∈ {0.5..0.9} would
    surface, with the mean similarity above each cut — the text-side
    twin of semdedup_yield_curve_embeddings, and the number a
    curation team reads BEFORE committing to a τ (the single-τ gates
    answer "who is a dup at 0.7", this answers "what does moving τ
    cost/buy").  Candidate pairs come from the same inverted shingle
    index as the jaccard/minhash gates (never all-pairs); the sweep
    is a 5-row literal τ grid folded over the candidate-pair scores.

    Scale: identical candidate-generation shape to
    jaccard_near_dup_pairs (gram-keyed postings join, merge-hinted in
    the operator); the τ fan-out is ≤5× the PAIR frame, not the
    corpus."""
    from ..operators.dedup import jaccard_near_dup_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_near_dup_pairs(
        d, "doc_id", "text", threshold=0.0, shingle_k=3
    ).select(F.col("jaccard").alias("jac"))
    taus = spark.createDataFrame(
        [(t,) for t in [0.5, 0.6, 0.7, 0.8, 0.9]], "tau double"
    )
    # fan the 5-row literal grid over the pair frame (broadcast the
    # GRID, never the corpus-scaled pair set), then densify zero-pair
    # thresholds by joining the grid back
    agg = (
        pairs.join(F.broadcast(taus), F.lit(True))
        .groupBy("tau")
        .agg(
            F.sum(
                F.when(F.col("jac") >= F.col("tau"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_pairs"),
            F.round(
                F.avg(
                    F.when(F.col("jac") >= F.col("tau"), F.col("jac"))
                ),
                4,
            ).alias("mean_jaccard"),
        )
    )
    return (
        taus.join(agg, "tau", "left")
        .select(
            "tau",
            F.coalesce(F.col("n_pairs"), F.lit(0).cast("bigint")).alias(
                "n_pairs"
            ),
            "mean_jaccard",
        )
        .orderBy("tau")
    )
