"""Round-10 wave: distribution diagnostics (Jarque–Bera, Benford),
ordinal association (Somers' D / Stuart's τc, Goodman–Kruskal λ),
reliability (Cronbach's α), time-series stationarity/randomness/trend
(KPSS, Bartels RVN, Cox–Stuart, Theil–Sen), experimentation (CUPED),
engagement (DAU/MAU), survival concordance (Harrell's C), and the
contrastive-representation alignment/uniformity diagnostic.

Same conventions as every wave (see ``_core``): identical aliases in
Spark and DuckDB, exact integer cells wherever a value can be
quantized, ANSI-safe guards on every 0/0, deterministic tie-breaks on
every rank/median boundary, bounded grids for every SinglePartition
fold (audited in plans/audit.py)."""

from __future__ import annotations

import shutil  # the expire-history gate cleans up its staged lake

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..materialize import checkpoint
from ..tables import load_table
from ._core import O, Q, query, scratch_dir  # noqa: F401


# =====================================================================
# Jarque–Bera normality per group (exact integer moment cells)
# =====================================================================

@query(
    "jarque_bera_quantity_lineitem",
    """
    WITH cells AS (
      SELECT l_returnflag AS grp, COUNT(*) AS n,
             SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS s1,
             SUM(CAST(CAST(ROUND(l_quantity) AS BIGINT) AS HUGEINT)
                 * CAST(ROUND(l_quantity) AS BIGINT)) AS s2,
             SUM(CAST(CAST(ROUND(l_quantity) AS BIGINT) AS HUGEINT)
                 * CAST(ROUND(l_quantity) AS BIGINT)
                 * CAST(ROUND(l_quantity) AS BIGINT)) AS s3,
             SUM(CAST(CAST(ROUND(l_quantity) AS BIGINT) AS HUGEINT)
                 * CAST(ROUND(l_quantity) AS BIGINT)
                 * CAST(ROUND(l_quantity) AS BIGINT)
                 * CAST(ROUND(l_quantity) AS BIGINT)) AS s4
      FROM lineitem GROUP BY 1
    ), m AS (
      SELECT grp, n,
             CAST(s1 AS DOUBLE) / n AS mu,
             CAST(s2 AS DOUBLE) / n AS r2,
             CAST(s3 AS DOUBLE) / n AS r3,
             CAST(s4 AS DOUBLE) / n AS r4
      FROM cells
    ), c AS (
      SELECT grp, n, mu,
             r2 - mu * mu AS m2,
             r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
             r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
                - 3.0 * mu * mu * mu * mu AS m4
      FROM m
    )
    SELECT grp, CAST(n AS BIGINT) AS n_rows,
           ROUND(CASE WHEN m2 > 0 THEN m3 / (m2 * SQRT(m2)) END, 6)
             AS skewness,
           ROUND(CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3.0 END, 6)
             AS excess_kurtosis,
           ROUND(CASE WHEN m2 > 0 THEN n / 6.0 *
                 ((m3 / (m2 * SQRT(m2))) * (m3 / (m2 * SQRT(m2)))
                  + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0)
                    / 4.0) END, 6) AS jarque_bera
    FROM c ORDER BY grp
    """,
)
def jarque_bera_q(spark, sf_dir):
    """Jarque–Bera normality test per return-flag group — the
    moment-based normality screen (JB = n/6·(S² + K²/4), χ²₂ under
    H₀) that decides whether the t/ANOVA family upstream is even
    applicable.  Complements ``dagostino_k2_totalprice`` (same moments,
    different standardization — D'Agostino transforms S and K to
    z-scores before summing; JB is the asymptotic form every
    econometrics package defaults to).

    Quantities round to EXACT integers, so the four raw power sums
    are integer cells (bigint on Spark, HUGEINT in the twin — equal
    until 2⁶³, i.e. far past any tested scale) and every downstream
    double is the same IEEE expression in both engines before the
    ROUND.  One map-side-combined aggregate; the k-row fold is the
    hedges_g audited shape."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.round("l_quantity").cast("bigint")
    cells = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
        F.sum(q * q * q * q).alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    r4 = F.col("s4").cast("double") / n
    m2 = r2 - mu * mu
    m3 = r3 - F.lit(3.0) * mu * r2 + F.lit(2.0) * mu * mu * mu
    m4 = (
        r4
        - F.lit(4.0) * mu * r3
        + F.lit(6.0) * mu * mu * r2
        - F.lit(3.0) * mu * mu * mu * mu
    )
    skew = m3 / (m2 * F.sqrt(m2))
    exk = m4 / (m2 * m2) - F.lit(3.0)
    return cells.select(
        "grp",
        n.cast("bigint").alias("n_rows"),
        F.round(F.when(m2 > 0, skew), 6).alias("skewness"),
        F.round(F.when(m2 > 0, exk), 6).alias("excess_kurtosis"),
        F.round(
            F.when(
                m2 > 0,
                n / F.lit(6.0) * (skew * skew + exk * exk / F.lit(4.0)),
            ),
            6,
        ).alias("jarque_bera"),
    ).orderBy("grp")


# =====================================================================
# Somers' D + Stuart's τc (ordinal association on a bounded grid)
# =====================================================================

_SOMERS_SQL = """
    WITH cells AS (
      SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS x,
             LEAST(CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT), 5) AS y,
             COUNT(*) AS n
      FROM orders GROUP BY 1, 2
    ), tot AS (
      SELECT SUM(n) AS nt, COUNT(DISTINCT x) AS nx, COUNT(DISTINCT y) AS ny
      FROM cells
    ), pairs AS (
      SELECT SUM(CASE WHEN b.x > a.x AND b.y > a.y
                      THEN a.n * b.n ELSE 0 END) AS c,
             SUM(CASE WHEN b.x > a.x AND b.y < a.y
                      THEN a.n * b.n ELSE 0 END) AS d,
             SUM(CASE WHEN b.x = a.x AND b.y > a.y
                      THEN a.n * b.n ELSE 0 END) AS tx,
             SUM(CASE WHEN b.x > a.x AND b.y = a.y
                      THEN a.n * b.n ELSE 0 END) AS ty
      FROM cells a JOIN cells b
        ON (b.x > a.x) OR (b.x = a.x AND b.y > a.y)
    )
    SELECT CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant,
           ROUND(CASE WHEN c + d + ty > 0 THEN
                 CAST(c - d AS DOUBLE) / (c + d + ty) END, 6)
             AS somers_d_yx,
           ROUND(CASE WHEN c + d + tx > 0 THEN
                 CAST(c - d AS DOUBLE) / (c + d + tx) END, 6)
             AS somers_d_xy,
           ROUND(CASE WHEN LEAST(t.nx, t.ny) > 1 THEN
                 2.0 * LEAST(t.nx, t.ny) * CAST(c - d AS DOUBLE)
                 / (CAST(t.nt AS DOUBLE) * t.nt
                    * (LEAST(t.nx, t.ny) - 1)) END, 6) AS stuart_tau_c
    FROM pairs CROSS JOIN tot t
    """


@query("somers_d_priority_price_orders", _SOMERS_SQL)
def somers_d_q(spark, sf_dir):
    """Somers' D (both directions) + Stuart's τc between order
    priority (ordinal 1–5) and totalprice bucket (ordinal 0–5) — the
    asymmetric ordinal-association battery: D(Y|X) is THE effect size
    under every rank-based model with a designated response (it is
    the Gini/AUC − .5 doubled), τc corrects Kendall for non-square
    tables; together with the existing γ (ties dropped) they span the
    standard contingency-ordinal toolkit.

    The data collapses to a ≤5×6 integer grid in one aggregate; the
    pair sweep is the grid's self-join (≤30×30 literal rows, the
    goodman_kruskal audited shape), so concordant/discordant counts
    are exact integers at any corpus size (bigint here ≙ the twin's
    HUGEINT until 2⁶³)."""
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("x"),
        F.least(
            F.floor(F.col("o_totalprice") / 50000.0).cast("bigint"),
            F.lit(5).cast("bigint"),
        ).alias("y"),
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = cells.agg(
        F.sum("n").alias("nt"),
        F.countDistinct("x").alias("nx"),
        F.countDistinct("y").alias("ny"),
    )
    a, b = cells.alias("a"), cells.alias("b")
    an, bn = F.col("a.n"), F.col("b.n")
    ax, bx, ay, by = F.col("a.x"), F.col("b.x"), F.col("a.y"), F.col("b.y")
    pairs = a.join(
        b,
        (bx > ax) | ((bx == ax) & (by > ay)),
    ).agg(
        F.sum(F.when((bx > ax) & (by > ay), an * bn).otherwise(0)).alias("c"),
        F.sum(F.when((bx > ax) & (by < ay), an * bn).otherwise(0)).alias("d"),
        F.sum(F.when((bx == ax) & (by > ay), an * bn).otherwise(0)).alias(
            "tx"
        ),
        F.sum(F.when((bx > ax) & (by == ay), an * bn).otherwise(0)).alias(
            "ty"
        ),
    )
    c, d = F.col("c"), F.col("d")
    out = pairs.join(F.broadcast(tot), F.lit(True))
    m = F.least(F.col("nx"), F.col("ny"))
    return out.select(
        c.cast("bigint").alias("concordant"),
        d.cast("bigint").alias("discordant"),
        F.round(
            F.when(
                c + d + F.col("ty") > 0,
                (c - d).cast("double") / (c + d + F.col("ty")),
            ),
            6,
        ).alias("somers_d_yx"),
        F.round(
            F.when(
                c + d + F.col("tx") > 0,
                (c - d).cast("double") / (c + d + F.col("tx")),
            ),
            6,
        ).alias("somers_d_xy"),
        F.round(
            F.when(
                m > 1,
                F.lit(2.0)
                * m
                * (c - d).cast("double")
                / (
                    F.col("nt").cast("double")
                    * F.col("nt")
                    * (m - F.lit(1))
                ),
            ),
            6,
        ).alias("stuart_tau_c"),
    )


# =====================================================================
# Goodman–Kruskal λ (proportional-reduction-in-error, nominal)
# =====================================================================

@query(
    "gk_lambda_lang_source_docs",
    """
    WITH cells AS (
      SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2
    ), byrow AS (
      SELECT lang, MAX(n) AS mx FROM cells GROUP BY lang
    ), bycol AS (
      SELECT source, MAX(n) AS mx FROM cells GROUP BY source
    ), rowtot AS (
      SELECT lang, SUM(n) AS n FROM cells GROUP BY lang
    ), coltot AS (
      SELECT source, SUM(n) AS n FROM cells GROUP BY source
    ), tots AS (
      SELECT (SELECT SUM(n) FROM cells) AS nt,
             (SELECT SUM(mx) FROM byrow) AS srow,
             (SELECT SUM(mx) FROM bycol) AS scol,
             (SELECT MAX(n) FROM coltot) AS mcol,
             (SELECT MAX(n) FROM rowtot) AS mrow
    )
    SELECT CAST(nt AS BIGINT) AS n_docs,
           ROUND(CASE WHEN nt > mcol THEN
                 CAST(srow - mcol AS DOUBLE) / (nt - mcol) END, 6)
             AS lambda_source_given_lang,
           ROUND(CASE WHEN nt > mrow THEN
                 CAST(scol - mrow AS DOUBLE) / (nt - mrow) END, 6)
             AS lambda_lang_given_source
    FROM tots
    """,
)
def gk_lambda_q(spark, sf_dir):
    """Goodman–Kruskal λ on the (lang, source) contingency grid — the
    proportional-reduction-in-error measure for NOMINAL association
    (how much does knowing the language cut the error of guessing the
    source by its mode?).  Completes the nominal toolkit next to
    Cramér's V (effect size), mutual information (bits), and Theil's
    U (entropy fraction): λ is the only one stated in guessing-error
    units, and the only one that can be exactly 0 under real
    dependence (mode-invariant) — which is why reports quote it
    alongside V, never instead.

    One |langs|×|sources| integer grid → per-row/per-column maxima →
    a 1-row fold (the theils_u audited shape).  Exact integers until
    the final ratio."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    byrow = cells.groupBy("lang").agg(F.max("n").alias("mx"))
    bycol = cells.groupBy("source").agg(F.max("n").alias("mx"))
    rowtot = cells.groupBy("lang").agg(F.sum("n").alias("n"))
    coltot = cells.groupBy("source").agg(F.sum("n").alias("n"))
    tots = (
        cells.agg(F.sum("n").alias("nt"))
        .join(F.broadcast(byrow.agg(F.sum("mx").alias("srow"))), F.lit(True))
        .join(F.broadcast(bycol.agg(F.sum("mx").alias("scol"))), F.lit(True))
        .join(
            F.broadcast(coltot.agg(F.max("n").alias("mcol"))), F.lit(True)
        )
        .join(
            F.broadcast(rowtot.agg(F.max("n").alias("mrow"))), F.lit(True)
        )
    )
    nt, srow, scol = F.col("nt"), F.col("srow"), F.col("scol")
    mcol, mrow = F.col("mcol"), F.col("mrow")
    return tots.select(
        nt.cast("bigint").alias("n_docs"),
        F.round(
            F.when(nt > mcol, (srow - mcol).cast("double") / (nt - mcol)),
            6,
        ).alias("lambda_source_given_lang"),
        F.round(
            F.when(nt > mrow, (scol - mrow).cast("double") / (nt - mrow)),
            6,
        ).alias("lambda_lang_given_source"),
    )


# =====================================================================
# Cronbach's α (internal-consistency reliability over event types)
# =====================================================================

@query(
    "cronbach_alpha_event_types",
    """
    WITH u AS (
      SELECT DISTINCT user_id FROM events
    ), k AS (
      SELECT COUNT(DISTINCT event_type) AS k FROM events
    ), n AS (
      SELECT COUNT(*) AS n FROM u
    ), cnt AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ), item AS (
      -- absent (user, type) cells are zeros: only s1/s2 over present
      -- rows are needed because 0 contributes nothing to either sum
      SELECT event_type, SUM(c) AS s1,
             SUM(CAST(c AS HUGEINT) * c) AS s2
      FROM cnt GROUP BY 1
    ), itemvar AS (
      SELECT SUM((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n.n)
                 / (n.n - 1)) AS sv
      FROM item CROSS JOIN n
    ), usr AS (
      SELECT user_id, SUM(c) AS t FROM cnt GROUP BY 1
    ), totvar AS (
      SELECT (SUM(CAST(t AS HUGEINT) * t)
              - CAST(SUM(t) AS DOUBLE) * SUM(t) / MAX(n.n))
             / (MAX(n.n) - 1) AS vt
      FROM usr CROSS JOIN n
    )
    SELECT CAST(n.n AS BIGINT) AS n_users, CAST(k.k AS BIGINT) AS k_items,
           ROUND(CASE WHEN k.k > 1 AND vt > 0 THEN
                 CAST(k.k AS DOUBLE) / (k.k - 1) * (1.0 - sv / vt)
                 END, 6) AS cronbach_alpha,
           ROUND(CAST(vt AS DOUBLE), 4) AS var_total
    FROM n CROSS JOIN k CROSS JOIN itemvar CROSS JOIN totvar
    """,
)
def cronbach_alpha_q(spark, sf_dir):
    """Cronbach's α with event types as items and users as subjects
    (score = per-user count of each type) — the internal-consistency
    check behind every composite engagement score: if a product team
    sums a user's pageviews+clicks+purchases into one "activity
    index", α says whether those components co-vary enough for the
    sum to mean anything (α = k/(k−1)·(1 − Σσᵢ²/σ_T²)).

    Everything is exact integer cells: per-(user, type) counts, per-
    item raw sums (absent cells are zeros and contribute nothing to
    s1/s2 — the N in the variance denominators is ALL users), and
    per-user totals.  Two user-keyed aggregates + 1-row folds (the
    icc_design_effect audited shape)."""
    e = load_table(spark, sf_dir, "events")
    # n_df feeds both variance folds AND the report (3×), cnt feeds
    # the item and user aggregates (2×) — cut lineages so the distinct
    # count and the (user, type) cells each compute once (6 parquet
    # scans in the pre-cut plan)
    n_df = checkpoint(
        e.select("user_id").distinct().agg(
            F.count(F.lit(1)).alias("n")
        )
    )
    k_df = e.agg(F.countDistinct("event_type").alias("k"))
    cnt = checkpoint(
        e.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("c")
        )
    )
    item = cnt.groupBy("event_type").agg(
        F.sum("c").alias("s1"), F.sum(F.col("c") * F.col("c")).alias("s2")
    )
    itemvar = item.join(F.broadcast(n_df), F.lit(True)).agg(
        F.sum(
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("sv")
    )
    usr = cnt.groupBy("user_id").agg(F.sum("c").alias("t"))
    totvar = usr.join(F.broadcast(n_df), F.lit(True)).agg(
        (
            (
                F.sum(F.col("t") * F.col("t"))
                - F.sum("t").cast("double") * F.sum("t") / F.max("n")
            )
            / (F.max("n") - 1)
        ).alias("vt")
    )
    out = (
        n_df.join(F.broadcast(k_df), F.lit(True))
        .join(F.broadcast(itemvar), F.lit(True))
        .join(F.broadcast(totvar), F.lit(True))
    )
    k, vt, sv = F.col("k"), F.col("vt"), F.col("sv")
    return out.select(
        F.col("n").cast("bigint").alias("n_users"),
        k.cast("bigint").alias("k_items"),
        F.round(
            F.when(
                (k > 1) & (vt > 0),
                k.cast("double") / (k - 1) * (F.lit(1.0) - sv / vt),
            ),
            6,
        ).alias("cronbach_alpha"),
        F.round(vt.cast("double"), 4).alias("var_total"),
    )


# =====================================================================
# KPSS stationarity (partial-sum test on the bounded daily grid)
# =====================================================================

@query(
    "kpss_stationarity_daily_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ), mu AS (
      SELECT event_type, AVG(y) AS m, COUNT(*) AS t FROM daily GROUP BY 1
    ), e AS (
      SELECT d.event_type, d.day, d.y - mu.m AS e, mu.t
      FROM daily d JOIN mu USING (event_type)
    ), s AS (
      SELECT event_type, day, t, e,
             SUM(e) OVER (PARTITION BY event_type ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS cs,
             LAG(e, 1) OVER (PARTITION BY event_type ORDER BY day) AS e1,
             LAG(e, 2) OVER (PARTITION BY event_type ORDER BY day) AS e2,
             LAG(e, 3) OVER (PARTITION BY event_type ORDER BY day) AS e3,
             LAG(e, 4) OVER (PARTITION BY event_type ORDER BY day) AS e4
      FROM e
    ), fold AS (
      SELECT event_type, MAX(t) AS t,
             SUM(cs * cs) AS sc,
             SUM(e * e) AS g0,
             SUM(e * e1) AS g1, SUM(e * e2) AS g2,
             SUM(e * e3) AS g3, SUM(e * e4) AS g4
      FROM s GROUP BY 1
    ), lrv AS (
      SELECT event_type, t, sc,
             (g0 + 2.0 * ((1.0 - 1.0 / 5.0) * COALESCE(g1, 0.0)
                        + (1.0 - 2.0 / 5.0) * COALESCE(g2, 0.0)
                        + (1.0 - 3.0 / 5.0) * COALESCE(g3, 0.0)
                        + (1.0 - 4.0 / 5.0) * COALESCE(g4, 0.0))) / t
               AS v
      FROM fold
    )
    SELECT event_type, CAST(t AS BIGINT) AS n_days,
           ROUND(CASE WHEN v > 0 THEN sc / (CAST(t AS DOUBLE) * t * v)
                 END, 6) AS kpss_stat,
           ROUND(v, 6) AS longrun_var
    FROM lrv ORDER BY event_type
    """,
)
def kpss_q(spark, sf_dir):
    """KPSS level-stationarity test per event type's daily count
    series (Kwiatkowski–Phillips–Schmidt–Shin 1992) — the
    REVERSED-null complement to the Dickey–Fuller gate: DF's null is
    a unit root, KPSS's null is stationarity, and the 2×2 of their
    verdicts is the standard triage (both reject → neither model
    fits; used before every AR/smoothing fit upstream).  η = Σ Sₜ² /
    (T²·σ̂²_lr) with Sₜ the partial sums of demeaned counts and the
    long-run variance Bartlett-weighted at lag 4.

    Daily counts are exact integers; partial sums and lag products
    ride the bounded per-type day grid (window + one fold — the
    ljung_box audited shape)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    )
    mu = daily.groupBy("event_type").agg(
        F.avg("y").alias("m"), F.count(F.lit(1)).alias("t")
    )
    dem = daily.join(mu, "event_type").select(
        "event_type", "day", (F.col("y") - F.col("m")).alias("e"), "t"
    )
    w = Window.partitionBy("event_type").orderBy("day")
    cum = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    s = dem.select(
        "event_type",
        "t",
        "e",
        F.sum("e").over(cum).alias("cs"),
        F.lag("e", 1).over(w).alias("e1"),
        F.lag("e", 2).over(w).alias("e2"),
        F.lag("e", 3).over(w).alias("e3"),
        F.lag("e", 4).over(w).alias("e4"),
    )
    fold = s.groupBy("event_type").agg(
        F.max("t").alias("t"),
        F.sum(F.col("cs") * F.col("cs")).alias("sc"),
        F.sum(F.col("e") * F.col("e")).alias("g0"),
        F.sum(F.col("e") * F.col("e1")).alias("g1"),
        F.sum(F.col("e") * F.col("e2")).alias("g2"),
        F.sum(F.col("e") * F.col("e3")).alias("g3"),
        F.sum(F.col("e") * F.col("e4")).alias("g4"),
    )
    t = F.col("t")
    v = (
        F.col("g0")
        + F.lit(2.0)
        * (
            (F.lit(1.0) - F.lit(1.0) / F.lit(5.0))
            * F.coalesce("g1", F.lit(0.0))
            + (F.lit(1.0) - F.lit(2.0) / F.lit(5.0))
            * F.coalesce("g2", F.lit(0.0))
            + (F.lit(1.0) - F.lit(3.0) / F.lit(5.0))
            * F.coalesce("g3", F.lit(0.0))
            + (F.lit(1.0) - F.lit(4.0) / F.lit(5.0))
            * F.coalesce("g4", F.lit(0.0))
        )
    ) / t
    return fold.select(
        "event_type",
        t.cast("bigint").alias("n_days"),
        F.round(
            F.when(v > 0, F.col("sc") / (t.cast("double") * t * v)), 6
        ).alias("kpss_stat"),
        F.round(v, 6).alias("longrun_var"),
    ).orderBy("event_type")


# =====================================================================
# Bartels rank test (von Neumann ratio of ranks — randomness)
# =====================================================================

@query(
    "bartels_rank_daily_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT event_type, day,
             RANK() OVER (PARTITION BY event_type ORDER BY y)
               + (COUNT(*) OVER (PARTITION BY event_type, y) - 1) / 2.0
               AS r,
             COUNT(*) OVER (PARTITION BY event_type) AS t
      FROM daily
    ), seq AS (
      SELECT event_type, t, r,
             LEAD(r) OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM ranked
    )
    SELECT event_type, CAST(MAX(t) AS BIGINT) AS n_days,
           ROUND(CASE WHEN SUM((r - (t + 1) / 2.0)
                              * (r - (t + 1) / 2.0)) > 0 THEN
                 SUM(CASE WHEN rn IS NOT NULL
                          THEN (r - rn) * (r - rn) ELSE 0.0 END)
                 / SUM((r - (t + 1) / 2.0)
                       * (r - (t + 1) / 2.0)) END, 6) AS rvn
    FROM seq GROUP BY event_type ORDER BY event_type
    """,
)
def bartels_rank_q(spark, sf_dir):
    """Bartels rank test per event type's daily series — the
    nonparametric von Neumann ratio: RVN = Σ(Rₜ−Rₜ₊₁)² / Σ(Rₜ−R̄)²
    over day-order ranks, ≈2 under randomness, <2 for trend/positive
    autocorrelation, >2 for oscillation.  The rank-based complement
    to runs_test (which dichotomizes at the median and discards
    magnitude order): Bartels keeps full rank information and is the
    standard randomness screen when ties are light.

    Midranks handle ties exactly ((min-rank + (#same−1)/2), the
    kendalls_w convention); R̄ = (T+1)/2 exactly.  One rank window +
    one LEAD + a per-type fold on the bounded day grid."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("y")
    )
    wv = Window.partitionBy("event_type").orderBy("y")
    wt = Window.partitionBy("event_type")
    wsame = Window.partitionBy("event_type", "y")
    ranked = daily.select(
        "event_type",
        "day",
        (
            F.rank().over(wv)
            + (F.count(F.lit(1)).over(wsame) - 1) / F.lit(2.0)
        ).alias("r"),
        F.count(F.lit(1)).over(wt).alias("t"),
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    seq = ranked.select(
        "event_type", "t", "r", F.lead("r").over(wd).alias("rn")
    )
    # rbar from the per-row t column ((T+1)/2 is constant per type);
    # F.max("t") here would nest aggregates and fail analysis
    rbar = (F.col("t") + 1) / F.lit(2.0)
    den = F.sum((F.col("r") - rbar) * (F.col("r") - rbar))
    num = F.sum(
        F.when(
            F.col("rn").isNotNull(),
            (F.col("r") - F.col("rn")) * (F.col("r") - F.col("rn")),
        ).otherwise(F.lit(0.0))
    )
    return (
        seq.groupBy("event_type")
        .agg(
            F.max("t").cast("bigint").alias("n_days"),
            F.round(F.when(den > 0, num / den), 6).alias("rvn"),
        )
        .orderBy("event_type")
    )


# =====================================================================
# Cox–Stuart trend test (sign test on half-offset day pairs)
# =====================================================================

@query(
    "cox_stuart_trend_daily_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ), num AS (
      SELECT event_type, y,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
               AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS t
      FROM daily
    ), paired AS (
      SELECT a.event_type,
             CASE WHEN b.y > a.y THEN 1 ELSE 0 END AS plus,
             CASE WHEN b.y < a.y THEN 1 ELSE 0 END AS minus
      FROM num a JOIN num b
        ON a.event_type = b.event_type
       -- FLOOR, not bare /: DuckDB integer / yields DOUBLE (and its
       -- CAST rounds where Spark's truncates — the FLOOR pins both)
       AND b.rn = a.rn + (a.t - CAST(FLOOR(a.t / 2.0) AS BIGINT))
      WHERE a.rn <= CAST(FLOOR(a.t / 2.0) AS BIGINT)
    )
    SELECT event_type,
           CAST(SUM(plus) AS BIGINT) AS s_plus,
           CAST(SUM(minus) AS BIGINT) AS s_minus,
           ROUND(CASE WHEN SUM(plus) + SUM(minus) > 0 THEN
                 (SUM(plus) - (SUM(plus) + SUM(minus)) / 2.0)
                 / SQRT((SUM(plus) + SUM(minus)) / 4.0) END, 6) AS z
    FROM paired GROUP BY event_type ORDER BY event_type
    """,
)
def cox_stuart_q(spark, sf_dir):
    """Cox–Stuart trend test per event type — the sign test on
    half-offset pairs (day i vs day i+⌈T/2⌉; odd series drop the
    middle day): distribution-free, robust to any monotone
    transformation, and the textbook quick check before committing
    to a parametric trend fit (Mann–Kendall is its heavier
    all-pairs sibling, already gated — Cox–Stuart is O(T) where MK
    is O(T²)).  z = (S⁺ − n/2)/√(n/4) over non-tied pairs.

    Integer day counts → exact signs; the pairing is a bounded
    day-grid self-equi-join on (type, rn+offset).  DuckDB's integer
    division truncates like Spark's FLOOR here because t ≥ 0."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("y")
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    wt = Window.partitionBy("event_type")
    num = daily.select(
        "event_type",
        "y",
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("t"),
    )
    a, b = num.alias("a"), num.alias("b")
    m = F.col("a.t") - (F.col("a.t") / 2).cast("bigint")  # = ceil(t/2)
    paired = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.rn") == F.col("a.rn") + m),
    ).filter(F.col("a.rn") <= (F.col("a.t") / 2).cast("bigint"))
    plus = F.when(F.col("b.y") > F.col("a.y"), 1).otherwise(0)
    minus = F.when(F.col("b.y") < F.col("a.y"), 1).otherwise(0)
    g = paired.groupBy(F.col("a.event_type").alias("event_type")).agg(
        F.sum(plus).alias("sp"), F.sum(minus).alias("sm")
    )
    n = F.col("sp") + F.col("sm")
    return g.select(
        "event_type",
        F.col("sp").cast("bigint").alias("s_plus"),
        F.col("sm").cast("bigint").alias("s_minus"),
        F.round(
            F.when(
                n > 0,
                (F.col("sp") - n / F.lit(2.0)) / F.sqrt(n / F.lit(4.0)),
            ),
            6,
        ).alias("z"),
    ).orderBy("event_type")


# =====================================================================
# Theil–Sen robust slope (median of bounded day-pair slopes)
# =====================================================================

@query(
    "theil_sen_slope_daily_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ), num AS (
      SELECT event_type, y,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
               AS rn
      FROM daily
    ), slopes AS (
      SELECT a.event_type,
             CAST(b.y - a.y AS DOUBLE) / (b.rn - a.rn) AS s,
             a.rn AS i, b.rn AS j
      FROM num a JOIN num b
        ON a.event_type = b.event_type AND b.rn > a.rn
    ), ranked AS (
      SELECT event_type, s,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY s, i, j) AS r,
             COUNT(*) OVER (PARTITION BY event_type) AS np
      FROM slopes
    )
    SELECT event_type, CAST(MAX(np) AS BIGINT) AS n_pairs,
           ROUND(MAX(CASE WHEN r = CAST(FLOOR((np + 1) / 2.0) AS BIGINT)
                          THEN s END), 6) AS theil_sen_slope
    FROM ranked GROUP BY event_type ORDER BY event_type
    """,
)
def theil_sen_q(spark, sf_dir):
    """Theil–Sen robust trend slope per event type's daily series —
    the median of all pairwise slopes (yⱼ−yᵢ)/(j−i): 29% breakdown
    point where OLS has 0, THE standard robust-trend magnitude to
    pair with Mann–Kendall's direction verdict (already gated; MK
    answers "is there a monotone trend", Theil–Sen answers "how
    steep").

    Day pairs are the bounded per-type grid self-join (the
    mann_kendall audited shape — days², never events²); the median is
    the LOWER median at rank ⌊(n+1)/2⌋ with a deterministic
    (slope, i, j) tie-break, so both engines pick the identical
    element (no two-middle averaging ambiguity)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("y")
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    num = daily.select(
        "event_type", "y", F.row_number().over(wd).alias("rn")
    )
    a, b = num.alias("a"), num.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.rn") > F.col("a.rn")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.rn") - F.col("a.rn"))
        ).alias("s"),
        F.col("a.rn").alias("i"),
        F.col("b.rn").alias("j"),
    )
    wr = Window.partitionBy("event_type").orderBy("s", "i", "j")
    wt = Window.partitionBy("event_type")
    ranked = slopes.select(
        "event_type",
        "s",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(wt).alias("np"),
    )
    mid = F.floor((F.col("np") + 1) / F.lit(2.0)).cast("bigint")
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("np").cast("bigint").alias("n_pairs"),
            F.round(
                F.max(F.when(F.col("r") == mid, F.col("s"))), 6
            ).alias("theil_sen_slope"),
        )
        .orderBy("event_type")
    )


# =====================================================================
# CUPED variance-reduced experiment readout
# =====================================================================

@query(
    "cuped_arm_lift_events",
    """
    WITH bounds AS (
      SELECT MIN(CAST(ts AS DATE)) AS mind, MAX(CAST(ts AS DATE)) AS maxd
      FROM events
    ), per_user AS (
      SELECT user_id,
             SUM(CASE WHEN CAST(ts AS DATE) <= mind
                           + CAST(FLOOR(datediff('day', mind, maxd)
                                        / 2.0) AS INTEGER)
                      THEN CAST(ROUND(value * 100) AS BIGINT)
                      ELSE 0 END) AS x,
             SUM(CASE WHEN CAST(ts AS DATE) > mind
                           + CAST(FLOOR(datediff('day', mind, maxd)
                                        / 2.0) AS INTEGER)
                      THEN CAST(ROUND(value * 100) AS BIGINT)
                      ELSE 0 END) AS y
      FROM events CROSS JOIN bounds GROUP BY user_id
    ), armed AS (
      SELECT user_id, x, y,
             CASE WHEN CAST(('0x' || substring(md5(CAST(user_id AS
                    VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 5000
                  THEN 'A' ELSE 'B' END AS arm
      FROM per_user
    ), mom AS (
      SELECT COUNT(*) AS n, SUM(CAST(x AS DOUBLE)) AS sx,
             SUM(CAST(y AS DOUBLE)) AS sy,
             SUM(CAST(x AS DOUBLE) * x) AS sxx,
             SUM(CAST(x AS DOUBLE) * y) AS sxy
      FROM armed
    ), th AS (
      SELECT n, sx, sy,
             CASE WHEN sxx - sx * sx / n > 0
                  THEN (sxy - sx * sy / n) / (sxx - sx * sx / n)
                  ELSE 0.0 END AS theta
      FROM mom
    ), adj AS (
      SELECT a.arm,
             COUNT(*) AS na,
             AVG(CAST(a.y AS DOUBLE)) AS my,
             AVG(CAST(a.y AS DOUBLE)
                 - t.theta * (CAST(a.x AS DOUBLE) - t.sx / t.n)) AS madj
      FROM armed a CROSS JOIN th t GROUP BY a.arm
    )
    SELECT CAST(SUM(CASE WHEN arm = 'A' THEN na ELSE 0 END) AS BIGINT)
             AS n_a,
           CAST(SUM(CASE WHEN arm = 'B' THEN na ELSE 0 END) AS BIGINT)
             AS n_b,
           ROUND(MAX((SELECT theta FROM th)), 6) AS theta,
           ROUND((SUM(CASE WHEN arm = 'B' THEN my END)
                  - SUM(CASE WHEN arm = 'A' THEN my END)) / 100.0, 4)
             AS lift_raw,
           ROUND((SUM(CASE WHEN arm = 'B' THEN madj END)
                  - SUM(CASE WHEN arm = 'A' THEN madj END)) / 100.0, 4)
             AS lift_cuped
    FROM adj
    """,
)
def cuped_q(spark, sf_dir):
    """CUPED variance-reduced A/B readout (Deng et al., WSDM 2013 —
    the industry-standard pre-period adjustment): split the span into
    pre/post halves, per user X = pre-period value and Y = post-
    period value, θ = cov(X,Y)/var(X), and compare arms on
    Y − θ(X − X̄) instead of Y.  Same deterministic md5 arm coin as
    the SRM gate, so the two readouts describe the same experiment.
    The adjusted lift equals the raw lift in expectation but with
    variance shrunk by corr² — the reason every mature platform
    CUPEDs by default.

    Per-event values quantize to cents at the EVENT level (exact
    bigint per-user sums, the dickey_fuller precedent), so only the
    final moment folds are doubles.  Two user-keyed aggregates +
    1-row θ fold + a 2-row arm fold — the srm/icc audited shapes."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    bounds = e.agg(
        F.min(F.to_date("ts")).alias("mind"),
        F.max(F.to_date("ts")).alias("maxd"),
    )
    eb = e.join(F.broadcast(bounds), F.lit(True))
    mid_off = F.floor(
        F.datediff(F.col("maxd"), F.col("mind")) / F.lit(2.0)
    ).cast("int")
    is_pre = F.to_date("ts") <= F.date_add(F.col("mind"), mid_off)
    per_user = eb.groupBy("user_id").agg(
        F.sum(F.when(is_pre, cents).otherwise(F.lit(0))).alias("x"),
        F.sum(F.when(~is_pre, cents).otherwise(F.lit(0))).alias("y"),
    )
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 10000
        < 5000,
        F.lit("A"),
    ).otherwise(F.lit("B"))
    armed = per_user.select("user_id", "x", "y", arm.alias("arm"))
    mom = armed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("double")).alias("sx"),
        F.sum(F.col("y").cast("double")).alias("sy"),
        F.sum(F.col("x").cast("double") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("double") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    th = mom.select(
        n,
        sx,
        sy,
        F.when(
            sxx - sx * sx / n > 0,
            (sxy - sx * sy / n) / (sxx - sx * sx / n),
        )
        .otherwise(F.lit(0.0))
        .alias("theta"),
    )
    adj = (
        armed.join(F.broadcast(th), F.lit(True))
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("na"),
            F.avg(F.col("y").cast("double")).alias("my"),
            F.avg(
                F.col("y").cast("double")
                - F.col("theta")
                * (F.col("x").cast("double") - F.col("sx") / F.col("n"))
            ).alias("madj"),
            F.max("theta").alias("theta"),
        )
    )
    return adj.agg(
        F.sum(F.when(F.col("arm") == "A", F.col("na")).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", F.col("na")).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.round(F.max("theta"), 6).alias("theta"),
        F.round(
            (
                F.sum(F.when(F.col("arm") == "B", F.col("my")))
                - F.sum(F.when(F.col("arm") == "A", F.col("my")))
            )
            / F.lit(100.0),
            4,
        ).alias("lift_raw"),
        F.round(
            (
                F.sum(F.when(F.col("arm") == "B", F.col("madj")))
                - F.sum(F.when(F.col("arm") == "A", F.col("madj")))
            )
            / F.lit(100.0),
            4,
        ).alias("lift_cuped"),
    )


# =====================================================================
# DAU / trailing-28-day MAU stickiness
# =====================================================================

@query(
    "dau_mau_stickiness_events",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), obs AS (
      SELECT DISTINCT day FROM ud
    ), dau AS (
      SELECT day, COUNT(*) AS dau FROM ud GROUP BY day
    ), win AS (
      SELECT ud.day + CAST(o.i AS INTEGER) AS snap, ud.user_id
      FROM ud CROSS JOIN (SELECT unnest(range(0, 28)) AS i) o
    ), mau AS (
      SELECT snap AS day, COUNT(DISTINCT user_id) AS mau
      FROM win GROUP BY snap
    )
    SELECT CAST(d.day AS DATE) AS day, CAST(d.dau AS BIGINT) AS dau,
           CAST(m.mau AS BIGINT) AS mau,
           ROUND(CAST(d.dau AS DOUBLE) / m.mau, 6) AS stickiness
    FROM dau d JOIN mau m ON d.day = m.day
    JOIN obs ON obs.day = d.day
    ORDER BY day
    """,
)
def dau_mau_q(spark, sf_dir):
    """DAU / trailing-28-day MAU stickiness per observed day — THE
    engagement ratio every consumer product reports (DAU/MAU ≈ the
    fraction of monthly users active on a given day; 0.5+ is the
    benchmark for habit-forming).  MAU(d) counts distinct users over
    [d−27, d].

    Distinct (user, day) first (one dedup shuffle ≤ events), then the
    trailing window materializes as a bounded ×28 day-offset explode
    + per-day distinct count — the kmv_jaccard_daily shape; no
    distinct-inside-window (which Spark cannot express) and no
    quadratic day×day join.  Linear in users×28 at any scale."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    win = ud.select(
        F.explode(F.sequence(F.lit(0), F.lit(27))).alias("i"),
        "user_id",
        "day",
    ).select(F.date_add(F.col("day"), F.col("i")).alias("day"), "user_id")
    mau = win.groupBy("day").agg(F.countDistinct("user_id").alias("mau"))
    obs = ud.select("day").distinct()
    return (
        dau.join(mau.hint("merge"), "day")
        .join(obs.hint("merge"), "day")
        .select(
            "day",
            F.col("dau").cast("bigint").alias("dau"),
            F.col("mau").cast("bigint").alias("mau"),
            F.round(
                F.col("dau").cast("double") / F.col("mau"), 6
            ).alias("stickiness"),
        )
        .orderBy("day")
    )


# =====================================================================
# Benford first-digit conformance
# =====================================================================

@query(
    "benford_first_digit_orders",
    """
    WITH digits AS (
      SELECT CAST(substring(CAST(CAST(FLOOR(o_totalprice * 100)
                   AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    ), cells AS (
      SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit
    ), grid AS (
      SELECT unnest(range(1, 10)) AS digit
    ), tot AS (
      SELECT SUM(n) AS t FROM cells
    )
    SELECT CAST(g.digit AS BIGINT) AS digit,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_obs,
           ROUND(LN(1.0 + 1.0 / g.digit) / LN(10.0), 6) AS expected_p,
           ROUND(CASE WHEN t.t > 0 THEN
                 (COALESCE(c.n, 0) - t.t * (LN(1.0 + 1.0 / g.digit)
                                            / LN(10.0)))
                 * (COALESCE(c.n, 0) - t.t * (LN(1.0 + 1.0 / g.digit)
                                              / LN(10.0)))
                 / (t.t * (LN(1.0 + 1.0 / g.digit) / LN(10.0)))
                 END, 6) AS chi2_term
    FROM grid g LEFT JOIN cells c ON g.digit = c.digit
    CROSS JOIN tot t
    ORDER BY digit
    """,
)
def benford_q(spark, sf_dir):
    """Benford first-digit conformance of order totals — the
    fraud/quality screen on any naturally-spanning monetary column:
    genuine multi-scale amounts put P(d) = log₁₀(1 + 1/d) mass on
    first digit d; fabricated or truncated data flunks the 9-cell
    χ².  Reports the dense digit grid with per-digit χ² terms (the
    sum is the screening statistic, df = 8).

    The first digit comes from the CENTS integer's decimal string,
    not from log10 arithmetic — libm log10 at a power-of-ten boundary
    could disagree between engines, string extraction cannot.  The
    grid is densified to all 9 digits so missing digits (huge
    conformance failures) still show.  One map-side aggregate + a
    9-row literal grid."""
    o = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
        1,
        1,
    ).cast("bigint")
    cells = (
        o.filter(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grid = o.sparkSession.range(1, 10).select(
        F.col("id").alias("digit")
    )
    tot = cells.agg(F.sum("n").alias("t"))
    p = F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0))
    nobs = F.coalesce(F.col("n"), F.lit(0))
    t = F.col("t")
    return (
        grid.join(F.broadcast(cells), "digit", "left")
        .join(F.broadcast(tot), F.lit(True))
        .select(
            F.col("digit").cast("bigint").alias("digit"),
            nobs.cast("bigint").alias("n_obs"),
            F.round(p, 6).alias("expected_p"),
            F.round(
                F.when(
                    t > 0,
                    (nobs - t * p) * (nobs - t * p) / (t * p),
                ),
                6,
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


# =====================================================================
# Alignment / uniformity (Wang & Isola 2020) over deterministic probes
# =====================================================================

@query(
    "alignment_uniformity_embeddings",
    """
    WITH probes AS (
      SELECT vec_id, label, embedding FROM embeddings
      ORDER BY vec_id LIMIT 24
    ), x AS (
      SELECT vec_id, label, i,
             CAST(embedding[i + 1] AS DOUBLE) AS v
      FROM probes CROSS JOIN (SELECT unnest(range(0, 64)) AS i)
    ), nrm AS (
      SELECT vec_id, SQRT(SUM(v * v)) AS nv FROM x GROUP BY vec_id
    ), u AS (
      SELECT x.vec_id, x.label, x.i,
             CASE WHEN nrm.nv > 0 THEN x.v / nrm.nv ELSE 0.0 END AS v
      FROM x JOIN nrm USING (vec_id)
    ), pair AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             ANY_VALUE(a.label) AS la, ANY_VALUE(b.label) AS lb,
             SUM((a.v - b.v) * (a.v - b.v)) AS sq
      FROM u a JOIN u b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY a.vec_id, b.vec_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT)
             AS n_aligned_pairs,
           ROUND(CASE WHEN SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) > 0
                 THEN SUM(CASE WHEN la = lb THEN sq END)
                      / SUM(CASE WHEN la = lb THEN 1 ELSE 0 END)
                 END, 6) AS alignment,
           ROUND(LN(AVG(EXP(-2.0 * sq))), 6) AS uniformity
    FROM pair
    """,
)
def alignment_uniformity_q(spark, sf_dir):
    """Alignment & uniformity of the embedding space (Wang & Isola,
    ICML 2020) — the two-number diagnostic of contrastive
    representation quality: alignment = E‖x−y‖² over same-label
    (positive) pairs (small = semantically-close points embed close),
    uniformity = ln E exp(−2‖x−y‖²) over all pairs (small = mass
    spreads over the hypersphere instead of collapsing).  Together
    they predict downstream linear-probe accuracy better than either
    alone — THE check before shipping an embedding model for
    dedup/retrieval.

    Estimated on the 24 smallest-id L2-normalized probe vectors (the
    hopkins/twonn deterministic-probe convention): 276 pairs, exact
    same-dimension term chains, one bounded fold — map-only over a
    24-row frame at any corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = (
        emb.orderBy("vec_id")
        .limit(24)
        .select(
            "vec_id",
            "label",
            F.posexplode(
                F.transform("embedding", lambda v: v.cast("double"))
            ).alias("i", "v"),
        )
    )
    nrm = probes.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nv")
    )
    u = probes.join(F.broadcast(nrm), "vec_id").select(
        "vec_id",
        "label",
        "i",
        F.when(F.col("nv") > 0, F.col("v") / F.col("nv"))
        .otherwise(F.lit(0.0))
        .alias("v"),
    )
    a, b = u.alias("a"), u.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.vec_id").alias("ia"), F.col("b.vec_id").alias("ib")
        )
        .agg(
            F.any_value(F.col("a.label")).alias("la"),
            F.any_value(F.col("b.label")).alias("lb"),
            F.sum(
                (F.col("a.v") - F.col("b.v"))
                * (F.col("a.v") - F.col("b.v"))
            ).alias("sq"),
        )
    )
    same = F.when(F.col("la") == F.col("lb"), 1).otherwise(0)
    return pair.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(same).cast("bigint").alias("n_aligned_pairs"),
        F.round(
            F.when(
                F.sum(same) > 0,
                F.sum(F.when(F.col("la") == F.col("lb"), F.col("sq")))
                / F.sum(same),
            ),
            6,
        ).alias("alignment"),
        F.round(
            F.log(F.avg(F.exp(F.lit(-2.0) * F.col("sq")))), 6
        ).alias("uniformity"),
    )


# =====================================================================
# Harrell's C (survival concordance on the repurchase gap grid)
# =====================================================================

@query(
    "harrell_c_repurchase_events",
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
      SELECT life, grp, deaths, n_all,
             SUM(n_all) OVER (PARTITION BY grp ORDER BY life DESC
                              ROWS UNBOUNDED PRECEDING) AS at_risk
      FROM dense
    ), times AS (
      SELECT life,
             SUM(CASE WHEN grp = 1 THEN deaths ELSE 0 END) AS d1,
             SUM(CASE WHEN grp = 0 THEN deaths ELSE 0 END) AS d0,
             SUM(CASE WHEN grp = 1 THEN at_risk - n_all ELSE 0 END) AS s1,
             SUM(CASE WHEN grp = 0 THEN at_risk - n_all ELSE 0 END) AS s0
      FROM risk GROUP BY life
    ), folds AS (
      SELECT SUM(d1 * s0) AS conc, SUM(d0 * s1) AS disc,
             SUM(d1 * s1 + d0 * s0) AS tied
      FROM times
    )
    SELECT CAST(conc AS BIGINT) AS concordant,
           CAST(disc AS BIGINT) AS discordant,
           CAST(tied AS BIGINT) AS tied_predictor,
           ROUND(CASE WHEN conc + disc + tied > 0 THEN
                 (conc + 0.5 * tied) / (conc + disc + tied) END, 6)
             AS c_index
    FROM folds
    """,
)
def harrell_c_q(spark, sf_dir):
    """Harrell's concordance index for the weekend-vs-weekday
    repurchase model — the standard discrimination metric of every
    survival model (C = P(the subject the model calls riskier fails
    first), 0.5 = coin flip): usable pairs are (death at t, subject
    observed past t); the binary weekend score makes same-group pairs
    predictor-ties worth ½.  The number that tells you whether the
    log-rank/Gehan SIGNIFICANCE (already gated on the same curves)
    corresponds to any usable DISCRIMINATION.

    Same dense (life × 2 groups) risk grid as the log-rank family
    (one reverse-cumulative window), then exact integer pair counts:
    conc = Σₜ d₁·s₀(t⁺), disc = Σₜ d₀·s₁(t⁺), ties = Σₜ d·s_same —
    never a subject×subject join.  Equal observed times are
    incomparable and drop, the textbook simplification (full Harrell
    also credits censored-vs-death ties at equal t)."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(F.max(F.to_date("ts")).alias("maxd"))
    wp = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("d"), "ts", "event_id")
        .withColumn("nd", F.lead("d").over(wp))
    )
    subj = p.join(F.broadcast(bounds), F.lit(True)).select(
        F.when((F.weekday("d") + 1) >= 6, 1).otherwise(0).alias("grp"),
        F.when(F.col("nd").isNull(), F.datediff("maxd", "d"))
        .otherwise(F.datediff("nd", "d"))
        .alias("life"),
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
        "life",
        "grp",
        "deaths",
        "n_all",
        F.sum("n_all").over(wr).alias("at_risk"),
    )
    times = risk.groupBy("life").agg(
        F.sum(
            F.when(F.col("grp") == 1, F.col("deaths")).otherwise(0)
        ).alias("d1"),
        F.sum(
            F.when(F.col("grp") == 0, F.col("deaths")).otherwise(0)
        ).alias("d0"),
        F.sum(
            F.when(
                F.col("grp") == 1, F.col("at_risk") - F.col("n_all")
            ).otherwise(0)
        ).alias("s1"),
        F.sum(
            F.when(
                F.col("grp") == 0, F.col("at_risk") - F.col("n_all")
            ).otherwise(0)
        ).alias("s0"),
    )
    folds = times.agg(
        F.sum(F.col("d1") * F.col("s0")).alias("conc"),
        F.sum(F.col("d0") * F.col("s1")).alias("disc"),
        F.sum(
            F.col("d1") * F.col("s1") + F.col("d0") * F.col("s0")
        ).alias("tied"),
    )
    conc, disc, tied = F.col("conc"), F.col("disc"), F.col("tied")
    return folds.select(
        conc.cast("bigint").alias("concordant"),
        disc.cast("bigint").alias("discordant"),
        tied.cast("bigint").alias("tied_predictor"),
        F.round(
            F.when(
                conc + disc + tied > 0,
                (conc + F.lit(0.5) * tied) / (conc + disc + tied),
            ),
            6,
        ).alias("c_index"),
    )


# =====================================================================
# Ansari–Bradley scale test (closed-form midranks on the cents grid)
# =====================================================================

@query(
    "ansari_bradley_scale_orders",
    """
    WITH cells AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             COUNT(*) AS c,
             SUM(CASE WHEN substring(o_orderpriority, 1, 1) IN ('1', '2')
                      THEN 1 ELSE 0 END) AS c1
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT SUM(c) AS n, SUM(c1) AS n1, SUM(c - c1) AS n2,
             CAST(FLOOR((SUM(c) + 1) / 2.0) AS BIGINT) AS m
      FROM cells
    ), pos AS (
      SELECT cents, c, c1, t.n, t.n1, t.n2, t.m,
             SUM(c) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
               AS hi
      FROM cells CROSS JOIN tot t
    ), mid AS (
      -- S(r) = sum_{k<=r} min(k, n+1-k) via triangular numbers,
      -- piecewise at m = floor((n+1)/2); all in double (exact until
      -- n ~ 1e8, far past any tested scale)
      SELECT cents, c, c1, n, n1, n2,
             ((CASE WHEN hi <= m THEN hi * (hi + 1) / 2.0
                    ELSE m * (m + 1) / 2.0
                         + ((n - m) * (n - m + 1) / 2.0
                            - (n - hi) * (n - hi + 1) / 2.0) END)
              - (CASE WHEN hi - c <= m
                      THEN (hi - c) * (hi - c + 1) / 2.0
                      ELSE m * (m + 1) / 2.0
                           + ((n - m) * (n - m + 1) / 2.0
                              - (n - hi + c) * (n - hi + c + 1) / 2.0)
                      END)) / c AS a
      FROM pos
    ), abar AS (
      SELECT SUM(c * a) / MAX(n) AS ab FROM mid
    )
    SELECT CAST(MAX(n1) AS BIGINT) AS n_urgent,
           CAST(MAX(n2) AS BIGINT) AS n_other,
           ROUND(SUM(c1 * a), 4) AS ab_stat,
           ROUND(MAX(n1) * MAX(ab.ab), 4) AS ab_expected,
           ROUND(CASE WHEN SUM(c * (a - ab.ab) * (a - ab.ab)) > 0
                      AND MAX(n) > 1 THEN
                 (SUM(c1 * a) - MAX(n1) * MAX(ab.ab))
                 / SQRT(CAST(MAX(n1) AS DOUBLE) * MAX(n2)
                        / (MAX(n) * (MAX(n) - 1.0))
                        * SUM(c * (a - ab.ab) * (a - ab.ab)))
                 END, 6) AS z
    FROM mid CROSS JOIN abar ab
    """,
)
def ansari_bradley_q(spark, sf_dir):
    """Ansari–Bradley scale test, urgent (priority 1–2) vs other
    orders on totalprice — the rank test for DISPERSION differences
    with equal medians assumed: rank 1 to both extremes, rising
    toward the middle (a(r) = min(r, n+1−r)), so a group whose values
    crowd the middle scores high.  Complements Mood (squared ranks)
    and Cucconi (location+scale jointly): AB is the classic
    distribution-free dispersion-only alternative whose null
    mean/variance are exact finite-sample quantities, both reported.

    The pooled sample lives on the quantized-cents grid (the CvM
    audited shape): one cumulative window gives each distinct value's
    rank block [lo, hi]; the block's Σ min(k, n+1−k) has a CLOSED
    triangular-number form piecewise at m = ⌊(n+1)/2⌋, so midranks
    under ties are exact without per-row ranking.  z standardizes by
    the tie-adjusted sampling variance n₁n₂/(n(n−1))·Σc(a−ā)²."""
    o = load_table(spark, sf_dir, "orders")
    urgent = F.when(
        F.substring("o_orderpriority", 1, 1).isin("1", "2"), 1
    ).otherwise(0)
    cells = o.groupBy(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    ).agg(F.count(F.lit(1)).alias("c"), F.sum(urgent).alias("c1"))
    tot = cells.agg(
        F.sum("c").alias("n"),
        F.sum("c1").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).alias("n2"),
        F.floor((F.sum("c") + 1) / F.lit(2.0)).cast("bigint").alias("m"),
    )
    wcum = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    pos = cells.join(F.broadcast(tot), F.lit(True)).select(
        "cents",
        "c",
        "c1",
        "n",
        "n1",
        "n2",
        "m",
        F.sum("c").over(wcum).alias("hi"),
    )

    def s_of(r):
        n, m = F.col("n"), F.col("m")
        return F.when(r <= m, r * (r + 1) / F.lit(2.0)).otherwise(
            m * (m + 1) / F.lit(2.0)
            + (
                (n - m) * (n - m + 1) / F.lit(2.0)
                - (n - r) * (n - r + 1) / F.lit(2.0)
            )
        )

    mid = pos.select(
        "cents",
        "c",
        "c1",
        "n",
        "n1",
        "n2",
        (
            (s_of(F.col("hi")) - s_of(F.col("hi") - F.col("c")))
            / F.col("c")
        ).alias("a"),
    )
    abar = mid.agg(
        (F.sum(F.col("c") * F.col("a")) / F.max("n")).alias("ab")
    )
    j = mid.join(F.broadcast(abar), F.lit(True))
    ab = F.col("ab")
    ss = F.sum(F.col("c") * (F.col("a") - ab) * (F.col("a") - ab))
    stat = F.sum(F.col("c1") * F.col("a"))
    exp_ = F.max("n1") * F.max(ab)
    var = (
        F.max("n1").cast("double")
        * F.max("n2")
        / (F.max("n") * (F.max("n") - F.lit(1.0)))
        * ss
    )
    return j.agg(
        F.max("n1").cast("bigint").alias("n_urgent"),
        F.max("n2").cast("bigint").alias("n_other"),
        F.round(stat, 4).alias("ab_stat"),
        F.round(exp_, 4).alias("ab_expected"),
        F.round(
            F.when(
                (ss > 0) & (F.max("n") > 1),
                (stat - exp_) / F.sqrt(var),
            ),
            6,
        ).alias("z"),
    )


# =====================================================================
# Tokenizer fertility by source (BPE tokens per word)
# =====================================================================

def _fertility_oracle() -> str:
    """Reuses the recursive-CTE BPE twin (wave2._bpe_oracle) and
    swaps its final per-doc SELECT for a per-source aggregate — ONE
    place owns the merge-loop semantics."""
    from .wave2 import _bpe_oracle

    base = _bpe_oracle()
    marker = "SELECT d.doc_id AS id,"
    head = base[: base.index(marker)]
    return head + """SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(COALESCE(p.n_words, 0)) AS BIGINT) AS total_words,
           CAST(SUM(COALESCE(p.n_bpe_tokens, 0)) AS BIGINT)
             AS total_bpe_tokens,
           ROUND(CASE WHEN SUM(COALESCE(p.n_words, 0)) > 0 THEN
                 CAST(SUM(COALESCE(p.n_bpe_tokens, 0)) AS DOUBLE)
                 / SUM(COALESCE(p.n_words, 0)) END, 6) AS fertility
    FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    GROUP BY d.source ORDER BY d.source
    """


@query("tokenizer_fertility_by_source_docs", None)  # oracle below
def tokenizer_fertility_q(spark, sf_dir):
    """Tokenizer fertility (BPE tokens per whitespace word) per
    source — the compute-cost lens every multilingual/multi-domain
    training mix is budgeted through: a source at fertility 2.5 costs
    2.5× the context window per word of one at 1.0, so mixture
    weights stated in documents or words silently mis-state the
    TOKEN mix (the quantity the loss actually sees).  Reuses the real
    per-word BPE merge loop (``operators.text.bpe_token_count``, the
    Arrow-batched kernel) and its recursive-CTE SQL twin — this gate
    only re-aggregates the per-doc counts by source."""
    from ..operators.text import bpe_token_count
    from .wave2 import _BPE_MERGES

    d = load_table(spark, sf_dir, "documents")
    per_doc = bpe_token_count(d, _BPE_MERGES)
    src = d.select(F.col("doc_id").alias("id"), "source")
    return (
        src.join(per_doc.hint("merge"), "id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.coalesce("n_words", F.lit(0)))
            .cast("bigint")
            .alias("total_words"),
            F.sum(F.coalesce("n_bpe_tokens", F.lit(0)))
            .cast("bigint")
            .alias("total_bpe_tokens"),
            F.round(
                F.when(
                    F.sum(F.coalesce("n_words", F.lit(0))) > 0,
                    F.sum(F.coalesce("n_bpe_tokens", F.lit(0))).cast(
                        "double"
                    )
                    / F.sum(F.coalesce("n_words", F.lit(0))),
                ),
                6,
            ).alias("fertility"),
        )
        .orderBy("source")
    )


O["tokenizer_fertility_by_source_docs"] = _fertility_oracle()


# =====================================================================
# Txn-layer history expiry on the driver surface
# =====================================================================

@query(
    "etl_expire_history",
    """
    SELECT * FROM orders
    """,
)
def etl_expire_history_q(spark, sf_dir):
    """Retention enforcement over the exactly-once staged-commit
    layer (txn.expire_history ≙ Iceberg expire_snapshots): two
    exactly-once publishes (half the orders, then the rest), expire
    everything below the latest commit, then read the CURRENT table —
    which must still be the complete dataset even though the manifest
    history below the horizon is gone, and the pre-expiry snapshot
    must now REFUSE time travel (asserted inline — a wrong horizon
    silently un-expiring or an expire that eats live data both fail
    this gate).  Puts the compaction path on the driver-visible
    surface next to the etl_snapshot_asof time-travel gate."""
    from ..bookmarks import BookmarkStore
    from ..catalog import FileCatalog
    from ..config import TableConfig
    from ..pipeline import IncrementalPipeline
    from ..txn import expire_history, published_history, read_table_asof

    work = scratch_dir("etl_expire_")
    try:
        full = load_table(spark, sf_dir, "orders")
        third = full.agg(
            F.floor(F.max("o_orderkey") / 3).cast("bigint")
        ).first()[0]
        src = f"{work}/src_orders"

        def mk(run):
            return IncrementalPipeline(
                spark,
                FileCatalog(f"{work}/catalog"),
                BookmarkStore(f"{work}/bm.json"),
                target_location=f"{work}/lake",
                target_prefix="tgt_",
                job_run_id=run,
                exactly_once=True,
            )

        cfg = TableConfig(
            "orders", ["o_orderkey"], "ASC", ["o_orderstatus"]
        )
        for i, cut in enumerate((third, 2 * third, None)):
            batch = full if cut is None else full.filter(
                F.col("o_orderkey") <= cut
            )
            batch.write.mode("overwrite").parquet(src)
            mk(f"run-{i + 1}").run([cfg], {"orders": src})
        hist = published_history(f"{work}/lake")
        first_seq, last_seq = hist[0]["seq"], hist[-1]["seq"]
        # roll up everything but the newest manifest; run-1's seq now
        # sits strictly below the base horizon
        expire_history(f"{work}/lake", keep_last=1)
        try:
            read_table_asof(spark, f"{work}/lake", "tgt_orders", first_seq)
        except Exception:
            pass
        else:  # pragma: no cover - the gate exists to catch this
            raise AssertionError(
                "read_table_asof below the expire horizon must raise"
            )
        cur = read_table_asof(spark, f"{work}/lake", "tgt_orders", last_seq)
        # Persist the snapshot to session-scratch parquet and return a
        # LAZY read: the result never rides through the driver, so the
        # gate stays bounded at any table size (VERDICT r10 #5).  The
        # scratch outlives the lake teardown below and is removed at
        # interpreter exit.
        out = scratch_dir("etl_expire_snap_")
        cur.select(*full.columns).write.mode("overwrite").parquet(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.read.parquet(out)


# =====================================================================
# Bradley–Terry preference ranking (3 unrolled MM iterations)
# =====================================================================

@query(
    "bradley_terry_event_types",
    """
    WITH firsts AS (
      SELECT user_id, CAST(ts AS DATE) AS day, event_type,
             ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE),
                                event_type ORDER BY ts, event_id) AS rn
      FROM events
    ), f AS (
      SELECT user_id, day, event_type, ts, event_id
      FROM firsts WHERE rn = 1
    ), duels AS (
      SELECT CASE WHEN a.ts < b.ts
                    OR (a.ts = b.ts AND a.event_id < b.event_id)
                  THEN a.event_type ELSE b.event_type END AS w,
             CASE WHEN a.ts < b.ts
                    OR (a.ts = b.ts AND a.event_id < b.event_id)
                  THEN b.event_type ELSE a.event_type END AS l
      FROM f a JOIN f b
        ON a.user_id = b.user_id AND a.day = b.day
       AND a.event_type < b.event_type
    ), wins AS (
      SELECT w, l, COUNT(*) AS n FROM duels GROUP BY w, l
    ), sym AS (
      SELECT i, j, SUM(n) AS nij FROM (
        SELECT w AS i, l AS j, n FROM wins
        UNION ALL SELECT l AS i, w AS j, n FROM wins
      ) GROUP BY i, j
    ), wi AS (
      SELECT w AS i, SUM(n) AS wins_i FROM wins GROUP BY w
    ), types AS (
      SELECT DISTINCT event_type AS i FROM events
    ), it1 AS (
      SELECT s.i, w.wins_i / SUM(s.nij / 2.0) AS sc
      FROM sym s JOIN wi w USING (i) GROUP BY s.i, w.wins_i
    ), it2 AS (
      SELECT s.i, w.wins_i / SUM(s.nij / (a.sc + b.sc)) AS sc
      FROM sym s JOIN wi w USING (i)
      JOIN it1 a ON a.i = s.i JOIN it1 b ON b.i = s.j
      GROUP BY s.i, w.wins_i
    ), it3 AS (
      SELECT s.i, w.wins_i / SUM(s.nij / (a.sc + b.sc)) AS sc
      FROM sym s JOIN wi w USING (i)
      JOIN it2 a ON a.i = s.i JOIN it2 b ON b.i = s.j
      GROUP BY s.i, w.wins_i
    ), norm AS (
      SELECT SUM(sc) AS tot, COUNT(*) AS k FROM it3
    )
    SELECT t.i AS event_type,
           CAST(COALESCE(w.wins_i, 0) AS BIGINT) AS n_wins,
           CAST(COALESCE((SELECT SUM(nij) FROM sym WHERE sym.i = t.i),
                         0) AS BIGINT) AS n_comparisons,
           ROUND(CASE WHEN norm.tot > 0 THEN
                 it3.sc * norm.k / norm.tot END, 6) AS bt_score
    FROM types t
    LEFT JOIN it3 ON it3.i = t.i
    LEFT JOIN wi w ON w.i = t.i
    CROSS JOIN norm
    ORDER BY event_type
    """,
)
def bradley_terry_q(spark, sf_dir):
    """Bradley–Terry preference strengths over event types — THE
    pairwise-comparison model behind reward-model training and
    LLM-arena leaderboards (Hunter 2004 MM algorithm): within each
    (user, day), each pair of event types present "duels" and the one
    occurring FIRST wins (a total order via (ts, event_id), so no tie
    cells); three unrolled minorize–maximize iterations
    sᵢ ← Wᵢ / Σⱼ nᵢⱼ/(sᵢ+sⱼ) on the |types|² comparison grid, reported
    sum-normalized to k.  Fixed iteration count keeps the whole
    computation an exact unrolled SQL twin (the PageRank/power-
    iteration convention of this repo).

    The duel generation is a per-(user, day) first-occurrence
    self-join (fan-out ≤ |types|² per user-day, both sides
    corpus-scaled → merge-hinted); everything after lives on the
    bounded |types|² grid."""
    e = load_table(spark, sf_dir, "events")
    wf = Window.partitionBy(
        "user_id", F.to_date("ts"), "event_type"
    ).orderBy("ts", "event_id")
    f = (
        e.select(
            "user_id",
            F.to_date("ts").alias("day"),
            "event_type",
            "ts",
            "event_id",
        )
        .withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    a, b = f.alias("a"), f.alias("b")
    a_first = (F.col("a.ts") < F.col("b.ts")) | (
        (F.col("a.ts") == F.col("b.ts"))
        & (F.col("a.event_id") < F.col("b.event_id"))
    )
    duels = a.join(
        b.hint("merge"),
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.day") == F.col("b.day"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    ).select(
        F.when(a_first, F.col("a.event_type"))
        .otherwise(F.col("b.event_type"))
        .alias("w"),
        F.when(a_first, F.col("b.event_type"))
        .otherwise(F.col("a.event_type"))
        .alias("l"),
    )
    # |types|²-row grid consumed by SIX subtrees (sym twice via the
    # union, wi, comps, and each MM iteration's rebuild): without a
    # lineage cut every consumer re-runs the events window + the
    # merge-hinted self-join — the before-plan held 182 parquet scans
    # of events (plans/r11/bradley_terry_event_types_before.txt).
    # The checkpoint computes the duel grid ONCE.
    wins = checkpoint(
        duels.groupBy("w", "l").agg(
            F.count(F.lit(1)).alias("n")
        )
    )
    sym = (
        wins.select(F.col("w").alias("i"), F.col("l").alias("j"), "n")
        .unionAll(
            wins.select(F.col("l").alias("i"), F.col("w").alias("j"), "n")
        )
        .groupBy("i", "j")
        .agg(F.sum("n").alias("nij"))
    )
    wi = wins.groupBy(F.col("w").alias("i")).agg(
        F.sum("n").alias("wins_i")
    )

    def mm_step(s_prev):
        # one minorize–maximize update on the bounded grid
        si = s_prev.select(F.col("i").alias("_si_i"), F.col("sc").alias("si"))
        sj = s_prev.select(F.col("i").alias("_sj_i"), F.col("sc").alias("sj"))
        return (
            sym.join(F.broadcast(si), F.col("i") == F.col("_si_i"))
            .join(F.broadcast(sj), F.col("j") == F.col("_sj_i"))
            .groupBy("i")
            .agg(
                F.sum(
                    F.col("nij") / (F.col("si") + F.col("sj"))
                ).alias("den")
            )
            .join(F.broadcast(wi), "i")
            .select("i", (F.col("wins_i") / F.col("den")).alias("sc"))
        )

    s1 = (
        sym.groupBy("i")
        .agg(F.sum(F.col("nij") / F.lit(2.0)).alias("den"))
        .join(F.broadcast(wi), "i")
        .select("i", (F.col("wins_i") / F.col("den")).alias("sc"))
    )
    s3 = mm_step(mm_step(s1))
    norm = s3.agg(
        F.sum("sc").alias("tot"), F.count(F.lit(1)).alias("k")
    )
    comps = sym.groupBy("i").agg(F.sum("nij").alias("nc"))
    types = e.select(F.col("event_type").alias("i")).distinct()
    return (
        types.join(F.broadcast(s3), "i", "left")
        .join(F.broadcast(wi), "i", "left")
        .join(F.broadcast(comps), "i", "left")
        .join(F.broadcast(norm), F.lit(True))
        .select(
            F.col("i").alias("event_type"),
            F.coalesce("wins_i", F.lit(0)).cast("bigint").alias("n_wins"),
            F.coalesce("nc", F.lit(0))
            .cast("bigint")
            .alias("n_comparisons"),
            F.round(
                F.when(
                    F.col("tot") > 0,
                    F.col("sc") * F.col("k") / F.col("tot"),
                ),
                6,
            ).alias("bt_score"),
        )
        .orderBy("event_type")
    )


# =====================================================================
# Rank-biased overlap between two retrieval rankings
# =====================================================================

@query(
    "rbo_bm25_vs_classifier_docs",
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
    ), s_rank AS (
      SELECT id, rs FROM (
        SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) AS rs
        FROM bm_all
      ) WHERE rs <= 20
    ), t_rank AS (
      SELECT id, rt FROM (
        SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) AS rt
        FROM cl_all
      ) WHERE rt <= 20
    ), common AS (
      SELECT GREATEST(s.rs, t.rt) AS m
      FROM s_rank s JOIN t_rank t USING (id)
    ), depths AS (
      SELECT unnest(range(1, 21)) AS d
    ), agreement AS (
      SELECT d.d,
             (SELECT COUNT(*) FROM common WHERE common.m <= d.d) AS ov
      FROM depths d
    )
    SELECT CAST((SELECT COUNT(*) FROM common) AS BIGINT)
             AS n_common_at_20,
           ROUND((1.0 - 0.9) * SUM(POWER(0.9, d - 1)
                                   * (CAST(ov AS DOUBLE) / d)), 6)
             AS rbo_at_20
    FROM agreement
    """,
)
def rbo_q(spark, sf_dir):
    """Rank-biased overlap (Webber, Moffat & Zobel, TOIS 2010; p=0.9,
    truncated at depth 20) between the BM25 top-20 and the hashed-
    classifier top-20 — the standard indefinite-ranking agreement
    metric for comparing retrieval/curation policies (Kendall-family
    distances need conjoint rankings; RBO is top-weighted and handles
    non-overlapping lists, which is why search teams report it for
    ranker A/Bs).  RBO = (1−p)·Σ_d p^{d−1}·|S₍:d₎∩T₍:d₎|/d — the
    truncated lower bound (tail residual omitted, documented).

    Both rankers are the EXISTING gate pipelines (bm25_score /
    hashed_classifier_score), ranked on their rounded scores with a
    doc_id tie-break so both engines produce the identical order; the
    two top-20s come from TakeOrderedAndProject, and everything after
    lives on ≤20-row frames crossed with a 20-row literal depth grid."""
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
    cl = hashed_classifier_score(d, model, dim=dim, bias=0.1)

    def top20(df, score_col):
        t = df.select("id", F.col(score_col).alias("sc")).orderBy(
            F.col("sc").desc(), F.col("id").asc()
        ).limit(20)
        w = Window.orderBy(F.col("sc").desc(), F.col("id").asc())
        return t.select("id", F.row_number().over(w).alias("r"))

    s = top20(bm, "score").withColumnRenamed("r", "rs")
    t = top20(cl, "score").withColumnRenamed("r", "rt")
    # ≤20 rows, consumed by the depth sweep AND the n_common fold —
    # cut the lineage so both rankers (BM25 + hashed classifier, the
    # whole corpus pipeline) run once, not once per consumer (the
    # before-plan held 28 parquet scans — plans/r11/rbo_bm25_vs_
    # classifier_docs_before.txt)
    common = checkpoint(
        s.join(t, "id").select(
            F.greatest("rs", "rt").alias("m")
        )
    )
    depths = spark.range(1, 21).select(F.col("id").alias("d"))
    agreement = (
        depths.join(F.broadcast(common), F.col("m") <= F.col("d"), "left")
        .groupBy("d")
        .agg(F.count("m").alias("ov"))
    )
    n_common = common.agg(F.count(F.lit(1)).alias("nc"))
    return (
        agreement.agg(
            F.round(
                F.lit(1.0 - 0.9)
                * F.sum(
                    F.pow(F.lit(0.9), F.col("d") - 1)
                    * (F.col("ov").cast("double") / F.col("d"))
                ),
                6,
            ).alias("rbo_at_20")
        )
        .join(F.broadcast(n_common), F.lit(True))
        .select(
            F.col("nc").cast("bigint").alias("n_common_at_20"),
            "rbo_at_20",
        )
    )


# =====================================================================
# Iterative proportional fitting (raking) on the dow × type grid
# =====================================================================

@query(
    "ipf_raking_dow_type_events",
    """
    WITH cells AS (
      SELECT isodow(CAST(ts AS DATE)) AS dow, event_type,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT SUM(n) AS nt, COUNT(DISTINCT dow) AS ndow FROM cells
    ), coltgt AS (
      SELECT event_type, SUM(n) AS ct FROM cells GROUP BY event_type
    ), r1 AS (
      -- round 1: scale rows to the uniform-dow target nt/ndow
      SELECT c.dow, c.event_type,
             c.n * (t.nt / t.ndow)
               / SUM(c.n) OVER (PARTITION BY c.dow) AS w
      FROM cells c CROSS JOIN tot t
    ), c1 AS (
      -- ...then columns back to the observed type totals
      SELECT r.dow, r.event_type,
             r.w * g.ct / SUM(r.w) OVER (PARTITION BY r.event_type) AS w
      FROM r1 r JOIN coltgt g USING (event_type)
    ), r2 AS (
      SELECT c.dow, c.event_type,
             c.w * (t.nt / t.ndow)
               / SUM(c.w) OVER (PARTITION BY c.dow) AS w
      FROM c1 c CROSS JOIN tot t
    ), c2 AS (
      SELECT r.dow, r.event_type,
             r.w * g.ct / SUM(r.w) OVER (PARTITION BY r.event_type) AS w
      FROM r2 r JOIN coltgt g USING (event_type)
    )
    SELECT CAST(c2.dow AS BIGINT) AS dow,
           c2.event_type AS event_type,
           CAST(cells.n AS BIGINT) AS n_raw,
           ROUND(c2.w, 4) AS weight,
           ROUND(c2.w / cells.n, 6) AS raking_factor
    FROM c2 JOIN cells ON c2.dow = cells.dow
                      AND c2.event_type = cells.event_type
    ORDER BY 1, 2
    """,
)
def ipf_raking_q(spark, sf_dir):
    """Iterative proportional fitting (raking, Deming–Stephan 1940)
    of the day-of-week × event-type grid toward UNIFORM day-of-week
    margins while preserving the observed type totals — the survey-
    weighting primitive a training-mix pipeline uses to de-bias a
    collection skew (weekend crawls over-representing one source)
    without changing the per-type token budget.  Two unrolled
    row→column rounds (IPF converges geometrically; fixed depth keeps
    the exact SQL twin, the Bradley–Terry/PageRank convention);
    reported per cell as the fitted weight and the raking factor w/n.

    One aggregate to the ≤7×|types| grid; each IPF half-step is a
    window-sum rescale on that bounded grid."""
    e = load_table(spark, sf_dir, "events")
    # ≤7×|types| grid consumed by tot, coltgt, the first IPF step and
    # the final report join — cut the lineage so the events aggregate
    # runs once, not once per consumer (12 parquet scans in the
    # before-plan, plans/r11/ipf_raking_dow_type_events_before.txt)
    cells = checkpoint(
        e.groupBy(
            (F.weekday(F.to_date("ts")) + 1).alias("dow"), "event_type"
        ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    tot = cells.agg(
        F.sum("n").alias("nt"), F.countDistinct("dow").alias("ndow")
    )
    coltgt = cells.groupBy("event_type").agg(F.sum("n").alias("ct"))
    wrow = Window.partitionBy("dow")
    wcol = Window.partitionBy("event_type")

    def row_step(df, wcolname):
        return df.join(F.broadcast(tot), F.lit(True)).select(
            "dow",
            "event_type",
            (
                F.col(wcolname)
                * (F.col("nt") / F.col("ndow"))
                / F.sum(wcolname).over(wrow)
            ).alias("w"),
        )

    def col_step(df):
        return df.join(F.broadcast(coltgt), "event_type").select(
            "dow",
            "event_type",
            (
                F.col("w") * F.col("ct") / F.sum("w").over(wcol)
            ).alias("w"),
        )

    w = col_step(row_step(cells, "n"))
    w = col_step(row_step(w, "w"))
    return (
        w.join(cells, ["dow", "event_type"])
        .select(
            F.col("dow").cast("bigint").alias("dow"),
            "event_type",
            F.col("n").cast("bigint").alias("n_raw"),
            F.round("w", 4).alias("weight"),
            F.round(F.col("w") / F.col("n"), 6).alias("raking_factor"),
        )
        .orderBy("dow", "event_type")
    )


# =====================================================================
# Cohen's h (proportion effect size, arcsine-stabilized)
# =====================================================================

@query(
    "cohens_h_weekend_purchase_events",
    """
    WITH cells AS (
      SELECT CASE WHEN isodow(CAST(ts AS DATE)) >= 6 THEN 1 ELSE 0 END
               AS wk,
             COUNT(*) AS n,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS k
      FROM events GROUP BY 1
    )
    SELECT CAST(SUM(CASE WHEN wk = 1 THEN n ELSE 0 END) AS BIGINT)
             AS n_weekend,
           CAST(SUM(CASE WHEN wk = 0 THEN n ELSE 0 END) AS BIGINT)
             AS n_weekday,
           ROUND(SUM(CASE WHEN wk = 1 THEN CAST(k AS DOUBLE) / n END),
                 6) AS p_weekend,
           ROUND(SUM(CASE WHEN wk = 0 THEN CAST(k AS DOUBLE) / n END),
                 6) AS p_weekday,
           ROUND(2.0 * ASIN(SQRT(SUM(CASE WHEN wk = 1
                                     THEN CAST(k AS DOUBLE) / n END)))
                 - 2.0 * ASIN(SQRT(SUM(CASE WHEN wk = 0
                                       THEN CAST(k AS DOUBLE) / n END))),
                 6) AS cohens_h
    FROM cells
    """,
)
def cohens_h_q(spark, sf_dir):
    """Cohen's h for the weekend-vs-weekday purchase rate — the
    standard EFFECT SIZE for two proportions (h = 2·asin√p₁ −
    2·asin√p₂): the arcsine transform makes equal h equally
    detectable at any base rate, which raw risk difference does not
    (0.51 vs 0.50 and 0.02 vs 0.01 differ 10× in power at equal
    Δp) — the number that goes into every proportion power
    calculation next to the significance tests already gated (MH,
    Cochran–Armitage, SRM).  Two integer cells → scalar math."""
    e = load_table(spark, sf_dir, "events")
    wk = F.when(
        (F.weekday(F.to_date("ts")) + 1) >= 6, 1
    ).otherwise(0)
    cells = e.groupBy(wk.alias("wk")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("k"),
    )
    p1 = F.sum(
        F.when(F.col("wk") == 1, F.col("k").cast("double") / F.col("n"))
    )
    p0 = F.sum(
        F.when(F.col("wk") == 0, F.col("k").cast("double") / F.col("n"))
    )
    return cells.agg(
        F.sum(F.when(F.col("wk") == 1, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_weekend"),
        F.sum(F.when(F.col("wk") == 0, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_weekday"),
        F.round(p1, 6).alias("p_weekend"),
        F.round(p0, 6).alias("p_weekday"),
        F.round(
            F.lit(2.0) * F.asin(F.sqrt(p1))
            - F.lit(2.0) * F.asin(F.sqrt(p0)),
            6,
        ).alias("cohens_h"),
    )


# =====================================================================
# Fixed-effect meta-analysis across sources (inverse-variance pooling)
# =====================================================================

@query(
    "meta_analysis_sources_docs",
    """
    WITH study AS (
      SELECT source, COUNT(*) AS n,
             SUM(n_chars) AS s1,
             SUM(CAST(n_chars AS HUGEINT) * n_chars) AS s2
      FROM documents GROUP BY source
    ), eff AS (
      SELECT source, n,
             CAST(s1 AS DOUBLE) / n AS theta,
             ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
              / (n - 1)) / n AS v
      FROM study WHERE n > 1
    ), ok AS (
      SELECT * FROM eff WHERE v > 0
    ), fold AS (
      SELECT COUNT(*) AS k,
             SUM(1.0 / v) AS sw,
             SUM(theta / v) AS swt
      FROM ok
    ), pooled AS (
      SELECT k, sw, swt / sw AS mu FROM fold
    )
    SELECT CAST(p.k AS BIGINT) AS k_studies,
           ROUND(p.mu, 4) AS pooled_mean,
           ROUND(SQRT(1.0 / p.sw), 6) AS pooled_se,
           ROUND(SUM((o.theta - p.mu) * (o.theta - p.mu) / o.v), 6)
             AS q_het,
           ROUND(CASE WHEN SUM((o.theta - p.mu) * (o.theta - p.mu)
                               / o.v) > p.k - 1
                      AND SUM((o.theta - p.mu) * (o.theta - p.mu)
                              / o.v) > 0
                 THEN (SUM((o.theta - p.mu) * (o.theta - p.mu) / o.v)
                       - (p.k - 1))
                      / SUM((o.theta - p.mu) * (o.theta - p.mu) / o.v)
                 ELSE 0.0 END, 6) AS i_squared
    FROM ok o CROSS JOIN pooled p
    GROUP BY p.k, p.mu, p.sw
    """,
)
def meta_analysis_q(spark, sf_dir):
    """Fixed-effect inverse-variance meta-analysis of mean document
    length across sources — the pooling discipline for any per-shard/
    per-source metric (treat each source as a study: θᵢ = mean,
    vᵢ = s²ᵢ/nᵢ, pool with wᵢ = 1/vᵢ), plus Cochran's Q_het and
    Higgins' I² = (Q−(k−1))/Q — the heterogeneity check that says
    whether \"the corpus mean\" is even one number or the sources
    genuinely differ (I² > 75% = don't pool, stratify).

    n_chars are exact integers, so per-study moments are integer
    cells; studies with n ≤ 1 or zero variance are excluded (their
    weight is undefined), and the pooled fold is 1-row over ≤|sources|
    studies."""
    d = load_table(spark, sf_dir, "documents")
    study = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("s2"),
    )
    n = F.col("n")
    theta = F.col("s1").cast("double") / n
    v = (
        (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / n)
        / (n - 1)
    ) / n
    eff = study.filter(n > 1).select(
        "source", n, theta.alias("theta"), v.alias("v")
    )
    ok = eff.filter(F.col("v") > 0)
    fold = ok.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.lit(1.0) / F.col("v")).alias("sw"),
        F.sum(F.col("theta") / F.col("v")).alias("swt"),
    )
    pooled = fold.select(
        "k", "sw", (F.col("swt") / F.col("sw")).alias("mu")
    )
    j = ok.join(F.broadcast(pooled), F.lit(True))
    q = F.sum(
        (F.col("theta") - F.col("mu"))
        * (F.col("theta") - F.col("mu"))
        / F.col("v")
    )
    return (
        j.groupBy("k", "mu", "sw")
        .agg(q.alias("q_raw"))  # UNROUNDED — i² must use the raw Q
        .select(
            F.col("k").cast("bigint").alias("k_studies"),
            F.round(F.col("mu"), 4).alias("pooled_mean"),
            F.round(F.sqrt(F.lit(1.0) / F.col("sw")), 6).alias(
                "pooled_se"
            ),
            F.round(F.col("q_raw"), 6).alias("q_het"),
            F.round(
                F.when(
                    (F.col("q_raw") > F.col("k") - 1)
                    & (F.col("q_raw") > 0),
                    (F.col("q_raw") - (F.col("k") - 1))
                    / F.col("q_raw"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("i_squared"),
        )
    )


# =====================================================================
# Actuarial (life-table) survival estimator on grouped intervals
# =====================================================================

@query(
    "actuarial_life_table_events",
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
             CASE WHEN nd IS NULL THEN 0 ELSE 1 END AS died
      FROM p, bounds
    ), iv AS (
      SELECT CAST(FLOOR(life / 7.0) AS BIGINT) AS k,
             COUNT(*) AS n_all, SUM(died) AS deaths,
             SUM(1 - died) AS censored
      FROM subj GROUP BY 1
    ), risk AS (
      SELECT k, deaths, censored,
             SUM(n_all) OVER (ORDER BY k DESC
                              ROWS UNBOUNDED PRECEDING) AS entering
      FROM iv
    ), q AS (
      SELECT k, entering, deaths, censored,
             CASE WHEN entering - censored / 2.0 > 0
                  THEN deaths / (entering - censored / 2.0)
                  ELSE 0.0 END AS qk
      FROM risk
    ), s AS (
      SELECT k, entering, deaths, censored, qk,
             CASE WHEN MIN(1.0 - qk) OVER (ORDER BY k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    <= 0.0
                  THEN 0.0
                  -- LN argument guarded: the window sum is evaluated
                  -- eagerly even on rows the outer CASE zeroes, so a
                  -- q=1 interval must contribute ln(1)=0, not ln(0)
                  ELSE COALESCE(EXP(SUM(LN(CASE WHEN 1.0 - qk > 0.0
                                            THEN 1.0 - qk ELSE 1.0 END))
                    OVER (ORDER BY k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
                    1.0)
             END AS surv
      FROM q
    )
    SELECT CAST(k AS BIGINT) AS interval_wk,
           CAST(entering AS BIGINT) AS n_entering,
           CAST(deaths AS BIGINT) AS deaths,
           CAST(censored AS BIGINT) AS censored,
           ROUND(qk, 6) AS q_interval,
           ROUND(surv, 6) AS surv_at_start
    FROM s ORDER BY interval_wk
    """,
)
def actuarial_life_table_q(spark, sf_dir):
    """Actuarial (life-table) estimator of repurchase survival on
    weekly intervals — the GROUPED-data sibling of the Kaplan–Meier
    gate (Cutler–Ederer 1958): censored subjects count half an
    interval at risk (qₖ = dₖ/(nₖ − cₖ/2), the actuarial adjustment
    KM has no equivalent for), which is the standard when event times
    arrive binned (weekly retention reports) rather than exact.
    S(start of k) = Π_{j<k}(1 − qⱼ), computed as exp(Σ ln) with an
    explicit zero short-circuit once any interval kills everyone.

    Same purchase-gap subjects as the KM/log-rank family; one
    interval aggregate + reverse-cumulative and cumulative windows on
    the bounded weekly grid."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(F.max(F.to_date("ts")).alias("maxd"))
    wp = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("d"), "ts", "event_id")
        .withColumn("nd", F.lead("d").over(wp))
    )
    subj = p.join(F.broadcast(bounds), F.lit(True)).select(
        F.when(F.col("nd").isNull(), F.datediff("maxd", "d"))
        .otherwise(F.datediff("nd", "d"))
        .alias("life"),
        F.when(F.col("nd").isNull(), 0).otherwise(1).alias("died"),
    )
    iv = subj.groupBy(
        F.floor(F.col("life") / 7.0).cast("bigint").alias("k")
    ).agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum("died").alias("deaths"),
        F.sum(1 - F.col("died")).alias("censored"),
    )
    wrev = Window.orderBy(F.col("k").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = iv.select(
        "k",
        "deaths",
        "censored",
        F.sum("n_all").over(wrev).alias("entering"),
    )
    eff = F.col("entering") - F.col("censored") / F.lit(2.0)
    q = risk.select(
        "k",
        "entering",
        "deaths",
        "censored",
        F.when(eff > 0, F.col("deaths") / eff)
        .otherwise(F.lit(0.0))
        .alias("qk"),
    )
    wpre = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # log argument guarded identically to the SQL twin: a q=1
    # interval contributes ln(1)=0 and the MIN short-circuit zeroes
    # every later row's survival
    safe_p = F.when(
        F.lit(1.0) - F.col("qk") > 0.0, F.lit(1.0) - F.col("qk")
    ).otherwise(F.lit(1.0))
    surv = F.when(
        F.min(F.lit(1.0) - F.col("qk")).over(wpre) <= 0.0, F.lit(0.0)
    ).otherwise(
        F.coalesce(F.exp(F.sum(F.log(safe_p)).over(wpre)), F.lit(1.0))
    )
    return q.select(
        F.col("k").cast("bigint").alias("interval_wk"),
        F.col("entering").cast("bigint").alias("n_entering"),
        F.col("deaths").cast("bigint").alias("deaths"),
        F.col("censored").cast("bigint").alias("censored"),
        F.round("qk", 6).alias("q_interval"),
        F.round(surv, 6).alias("surv_at_start"),
    ).orderBy("interval_wk")


# =====================================================================
# Winsorized (robust) correlation
# =====================================================================

@query(
    "winsorized_corr_lineitem",
    """
    WITH cuts AS (
      SELECT quantile_cont(l_quantity, 0.05) AS qlo,
             quantile_cont(l_quantity, 0.95) AS qhi,
             quantile_cont(l_extendedprice, 0.05) AS plo,
             quantile_cont(l_extendedprice, 0.95) AS phi
      FROM lineitem
    ), clipped AS (
      SELECT GREATEST(LEAST(l_quantity, qhi), qlo) AS x,
             GREATEST(LEAST(l_extendedprice, phi), plo) AS y,
             l_quantity AS rx, l_extendedprice AS ry
      FROM lineitem CROSS JOIN cuts
    ), m AS (
      SELECT COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy,
             SUM(rx) AS rsx, SUM(ry) AS rsy, SUM(rx * ry) AS rsxy,
             SUM(rx * rx) AS rsxx, SUM(ry * ry) AS rsyy
      FROM clipped
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           ROUND(CASE WHEN (sxx - sx * sx / n) > 0
                       AND (syy - sy * sy / n) > 0 THEN
                 (sxy - sx * sy / n)
                 / SQRT((sxx - sx * sx / n) * (syy - sy * sy / n))
                 END, 6) AS r_winsorized,
           ROUND(CASE WHEN (rsxx - rsx * rsx / n) > 0
                       AND (rsyy - rsy * rsy / n) > 0 THEN
                 (rsxy - rsx * rsy / n)
                 / SQRT((rsxx - rsx * rsx / n)
                        * (rsyy - rsy * rsy / n)) END, 6) AS r_raw
    FROM m
    """,
)
def winsorized_corr_q(spark, sf_dir):
    """Winsorized Pearson correlation between quantity and extended
    price — the robust-association companion to the rank methods
    already gated (Spearman/Kendall lose the linear scale; winsorized
    r keeps Pearson's interpretation while bounding each tail's
    leverage at the 5th/95th percentile, the standard robust-corr
    recipe).  Reported next to the raw r so the gap itself is the
    outlier-influence diagnostic.

    Exact type-7 percentile cuts (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``, the winsorized_mean precedent) broadcast back;
    one moment fold.  Double sums drift at the ulp level only —
    ROUND(6) absorbs fold-order differences."""
    li = load_table(spark, sf_dir, "lineitem")
    cuts = li.agg(
        F.expr("percentile(l_quantity, 0.05)").alias("qlo"),
        F.expr("percentile(l_quantity, 0.95)").alias("qhi"),
        F.expr("percentile(l_extendedprice, 0.05)").alias("plo"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("phi"),
    )
    x = F.greatest(F.least(F.col("l_quantity"), F.col("qhi")), F.col("qlo"))
    y = F.greatest(
        F.least(F.col("l_extendedprice"), F.col("phi")), F.col("plo")
    )
    rx, ry = F.col("l_quantity"), F.col("l_extendedprice")
    m = li.join(F.broadcast(cuts), F.lit(True)).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(rx).alias("rsx"),
        F.sum(ry).alias("rsy"),
        F.sum(rx * ry).alias("rsxy"),
        F.sum(rx * rx).alias("rsxx"),
        F.sum(ry * ry).alias("rsyy"),
    )
    n = F.col("n")

    def pearson(sx, sy, sxy, sxx, syy):
        cx = F.col(sxx) - F.col(sx) * F.col(sx) / n
        cy = F.col(syy) - F.col(sy) * F.col(sy) / n
        cxy = F.col(sxy) - F.col(sx) * F.col(sy) / n
        return F.when((cx > 0) & (cy > 0), cxy / F.sqrt(cx * cy))

    return m.select(
        n.cast("bigint").alias("n_rows"),
        F.round(pearson("sx", "sy", "sxy", "sxx", "syy"), 6).alias(
            "r_winsorized"
        ),
        F.round(
            pearson("rsx", "rsy", "rsxy", "rsxx", "rsyy"), 6
        ).alias("r_raw"),
    )
