"""Round-7 wave: link prediction / forecast scoring / corpus novelty — split from the single-file registry (VERDICT r7 #7).

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
    query,
)
from .wave6_ts import _score_bin, _scored_docs, _scored_sql  # noqa: F401

# =====================================================================
# Round-7 wave: link prediction / forecast scoring / corpus novelty
# =====================================================================

@query(
    "adamic_adar_links_suppliers",
    """
    WITH e AS (
      SELECT DISTINCT CAST(l_partkey AS BIGINT) AS p,
             CAST(l_suppkey AS BIGINT) AS s
      FROM lineitem
    ), deg AS (
      SELECT p, COUNT(*) AS d FROM e GROUP BY p
    ), pairs AS (
      SELECT a.s AS s_a, b.s AS s_b,
             SUM(1.0 / LN(d.d)) AS aa, COUNT(*) AS common_parts
      FROM e a JOIN e b ON a.p = b.p AND a.s < b.s
      JOIN deg d ON d.p = a.p
      -- d <= 256 replays postings_pairs(max_df=256): hub parts are
      -- dropped whole, kept parts keep their degree (no-op at test
      -- SFs, max part degree 52)
      WHERE d.d >= 2 AND d.d <= 256
      GROUP BY a.s, b.s
    ), ranked AS (
      SELECT s_a, s_b, common_parts, aa,
             ROW_NUMBER() OVER (ORDER BY aa DESC, s_a ASC, s_b ASC) AS rn
      FROM pairs
    )
    SELECT CAST(s_a AS BIGINT) AS s_a, CAST(s_b AS BIGINT) AS s_b,
           CAST(common_parts AS BIGINT) AS common_parts,
           ROUND(aa, 6) AS adamic_adar
    FROM ranked WHERE rn <= 20 ORDER BY adamic_adar DESC, s_a, s_b
    """,
)
def adamic_adar_q(spark, sf_dir):
    """Adamic–Adar link prediction on the supplier co-supply graph:
    supplier pairs sharing parts score Σ_p 1/ln(deg p) over their
    common parts — rare shared parts count more than ubiquitous ones
    — and the top-20 predicted links surface.  Pair generation is the
    postings self-join on the part key (bounded per-part fan-out,
    never all-pairs — the Jaccard-family shape); the part degree is
    the kernel's per-key fan-out ``_df``, read off each pair row.  The
    100 TB guard is wired on by default: ``postings_pairs`` drops hub
    parts with degree > 256 (far above this schema's max of 52 at
    sf0.1, so gates are unchanged) and logs the drop count — bounding
    the worst bucket at 256² pairs.  A pair row implies degree ≥ 2,
    so 1/ln(d) is always finite."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.skew import postings_pairs

    li = load_table(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_partkey").cast("bigint").alias("p"),
        F.col("l_suppkey").cast("bigint").alias("s"),
    ).distinct()
    pairs = (
        postings_pairs(e, "p", "s", 256, "part-degree")
        .groupBy("s_a", "s_b")
        .agg(
            F.sum(F.lit(1.0) / F.log(F.col("_df").cast("double"))).alias("aa"),
            F.count(F.lit(1)).alias("common_parts"),
        )
    )
    # top-20 via orderBy+limit (TakeOrderedAndProject): a fully
    # parallel per-partition top-k + driver merge, replacing the
    # row_number window's single-partition sort of the whole pair
    # frame (the order is total — s_a, s_b unique per pair — so the
    # result is identical; guide §2.4)
    return (
        pairs.orderBy(
            F.col("aa").desc(), F.col("s_a").asc(), F.col("s_b").asc()
        )
        .limit(20)
        .select(
            F.col("s_a").cast("bigint").alias("s_a"),
            F.col("s_b").cast("bigint").alias("s_b"),
            F.col("common_parts").cast("bigint").alias("common_parts"),
            F.round("aa", 6).alias("adamic_adar"),
        )
        .orderBy(F.col("adamic_adar").desc(), "s_a", "s_b")
    )


@query(
    "smape_mase_backtest_events",
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
           ROUND(AVG(CASE WHEN ABS(f_ses) + ABS(y) = 0 THEN 0.0
                     ELSE 2.0 * ABS(y - f_ses) / (ABS(f_ses) + ABS(y))
                     END), 6) AS smape_ses,
           ROUND(AVG(CASE WHEN ABS(f_naive) + ABS(y) = 0 THEN 0.0
                     ELSE 2.0 * ABS(y - f_naive) / (ABS(f_naive) + ABS(y))
                     END), 6) AS smape_naive,
           ROUND(AVG(ABS(y - f_ses)) / AVG(ABS(y - f_naive)), 6) AS mase_ses
    FROM fc GROUP BY event_type ORDER BY event_type
    """,
)
def smape_mase_q(spark, sf_dir):
    """Scale-free forecast scoring over the SES backtest (the
    backtest_ses gate's dyadic-α walk, rescored): sMAPE for both SES
    and the naive forecaster, and MASE — SES MAE scaled by the naive
    MAE on the SAME forecast window, so "is the smoother beating
    persistence" reads directly as MASE < 1.  Zero-denominator sMAPE
    terms are defined 0 in BOTH engines (no silent null drops); the
    per-type walk is the one-pass applyInPandas recurrence, states
    bit-exact vs the recursive-CTE oracle."""
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

    def smape(fcol):
        den = F.abs(F.col(fcol)) + F.abs(F.col("y"))
        return F.avg(
            F.when(den == 0, F.lit(0.0)).otherwise(
                2.0 * F.abs(F.col("y") - F.col(fcol)) / den
            )
        )

    return (
        fc.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_forecasts"),
            F.round(smape("f_ses"), 6).alias("smape_ses"),
            F.round(smape("f_naive"), 6).alias("smape_naive"),
            F.round(
                F.avg(F.abs(F.col("y") - F.col("f_ses")))
                / F.avg(F.abs(F.col("y") - F.col("f_naive"))),
                6,
            ).alias("mase_ses"),
        )
        .orderBy("event_type")
    )


@query(
    "ngram_novelty_prefix_docs",
    r"""
    WITH toks AS (
      SELECT doc_id, source,
             string_split_regex(lower(trim(text)), '\s+') AS w
      FROM documents
    ), d AS MATERIALIZED (
      SELECT doc_id, source,
             CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
                    range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                  ELSE [array_to_string(w, ' ')] END AS sh
      FROM toks
    ), posts AS (
      SELECT doc_id, source, unnest(sh) AS g FROM d
    ), firsts AS (
      SELECT g, MIN(doc_id) AS fd FROM posts GROUP BY g
    ), per_doc AS (
      SELECT p.doc_id, p.source, COUNT(*) AS n_sh,
             SUM(CASE WHEN f.fd = p.doc_id THEN 1 ELSE 0 END) AS n_new
      FROM posts p JOIN firsts f USING (g)
      GROUP BY p.doc_id, p.source
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
           ROUND(CAST(SUM(n_new) AS DOUBLE) / SUM(n_sh), 6)
             AS novelty_ratio
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def ngram_novelty_q(spark, sf_dir):
    """Corpus-prefix n-gram novelty per source: the share of each
    document's distinct 3-token shingles whose FIRST occurrence (by
    doc_id order) is that document — the "how much genuinely new text
    does this source add" curve that decides ingestion order and
    catches mirror sources before near-dup pairing spends compute on
    them.  Shingles reuse the dedup family's tokenization contract;
    the first-seen pass is one min-aggregate on the shingle key (the
    postings shuffle), and the ratio is exact integer sums — no
    pairwise anything.

    Plan shape: n_new(doc) = |{g : first(g) = doc}| is a COUNT over
    the firsts frame keyed by its min-doc — the postings never join
    back onto the firsts (the naive formulation's dominant shuffle;
    measured 8.4 → ~3 s at sf0.1).  Both branches off the shingle
    stream are map-side-partial aggregates; only tiny per-doc frames
    join."""
    from ..operators.dedup import shingles_from_tokens, tokens_of

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # stage tokens as a real column: Catalyst inlines multi-referenced
    # lambda subtrees (the shingle expr reads its input 4x)
    # one tokenize+shingle pass, staged (lazy checkpoint): the n_sh
    # branch reads size(sh) map-only, the n_new branch explodes — neither
    # re-tokenizes
    staged = checkpoint(
        d.withColumn("_toks", tokens_of(F.col("text")))
        .withColumn("sh", shingles_from_tokens(F.col("_toks"), 3))
        .select("doc_id", "source", "sh")
    )
    n_new = (
        staged.select("doc_id", F.explode("sh").alias("g"))
        .groupBy("g")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    n_sh = staged.select(
        "doc_id", "source", F.size("sh").alias("n_sh")
    )
    per_doc = n_sh.join(n_new.hint("merge"), "doc_id", "left").select(
        "doc_id",
        "source",
        "n_sh",
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_sh").cast("bigint").alias("n_shingles"),
            F.round(
                F.sum("n_new").cast("double") / F.sum("n_sh"), 6
            ).alias("novelty_ratio"),
        )
        .orderBy("source")
    )


@query(
    "script_char_profile_docs",
    """
    WITH per_doc AS (
      SELECT lang, LENGTH(text) AS n,
             LENGTH(text) - LENGTH(regexp_replace(text, '[A-Z]', '', 'g'))
               AS n_upper,
             LENGTH(text) - LENGTH(regexp_replace(text, '[a-z]', '', 'g'))
               AS n_lower,
             LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g'))
               AS n_digit,
             LENGTH(text)
               - LENGTH(regexp_replace(text, '[ \t\n\r]', '', 'g'))
               AS n_space
      FROM documents
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS n_chars,
           ROUND(CAST(SUM(n_upper) AS DOUBLE) / SUM(n), 6) AS upper_ratio,
           ROUND(CAST(SUM(n_lower) AS DOUBLE) / SUM(n), 6) AS lower_ratio,
           ROUND(CAST(SUM(n_digit) AS DOUBLE) / SUM(n), 6) AS digit_ratio,
           ROUND(CAST(SUM(n_space) AS DOUBLE) / SUM(n), 6) AS space_ratio,
           ROUND(CAST(SUM(n - n_upper - n_lower - n_digit - n_space)
                      AS DOUBLE) / SUM(n), 6) AS other_ratio
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def script_profile_q(spark, sf_dir):
    """Character-class profile per language: corpus-level ratios of
    ASCII upper/lower/digit/whitespace/other — the cheap script
    sanity screen that catches mislabeled languages, HTML spill
    (other_ratio spike) and ALL-CAPS shouting corpora before any
    model-based scorer runs.  Counts are regexp-strip length deltas
    (explicit ASCII classes — engine-portable, unlike \\s which
    differs between Java and RE2 regex), aggregated as exact integer
    sums with ONE ratio at the end — map-only + one lang-keyed
    shuffle."""
    d = load_table(spark, sf_dir, "documents")

    def n_class(pat):
        return F.length("text") - F.length(
            F.regexp_replace(F.col("text"), pat, "")
        )

    per_doc = d.select(
        "lang",
        F.length("text").alias("n"),
        n_class("[A-Z]").alias("n_upper"),
        n_class("[a-z]").alias("n_lower"),
        n_class("[0-9]").alias("n_digit"),
        n_class("[ \t\n\r]").alias("n_space"),
    )
    ratio = lambda c: F.round(  # noqa: E731
        F.sum(c).cast("double") / F.sum("n"), 6
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("n_chars"),
            ratio("n_upper").alias("upper_ratio"),
            ratio("n_lower").alias("lower_ratio"),
            ratio("n_digit").alias("digit_ratio"),
            ratio("n_space").alias("space_ratio"),
            F.round(
                F.sum(
                    F.col("n")
                    - F.col("n_upper")
                    - F.col("n_lower")
                    - F.col("n_digit")
                    - F.col("n_space")
                ).cast("double")
                / F.sum("n"),
                6,
            ).alias("other_ratio"),
        )
        .orderBy("lang")
    )


# =====================================================================
# Round-7 wave: binned rank association + submodular selection
# =====================================================================

@query("kendall_tau_chars_score_docs", None)  # oracle attached below
def kendall_tau_q(spark, sf_dir):
    """Kendall tau-b between document length and classifier score on
    a LITERAL 64×63 bin grid — the rank-association check that,
    unlike Spearman, reads directly as P(concordant)−P(discordant).
    Exact tau over raw values needs pairwise dominance counts; on the
    binned grid the dominance sums become TWO cumulative windows over
    the dense 4032-cell literal frame (column-cumulative over x per
    y-slice, then cumulative / reverse-cumulative over y per x-slice)
    — concordant C = Σ cnt·D_lt and discordant D = Σ cnt·D_gt as
    exact BIGINTs, tie terms from the bin marginals, all bounded by
    the grid, never by document pairs.  The dense grid comes from ONE
    spark.range (no cross join); only the final 1-row reduction is
    single-partition."""
    scored = _scored_docs(spark, sf_dir).select(
        "doc_id", _score_bin(F.col("score")).alias("sbin")
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    obs = (
        scored.join(d, "doc_id")
        .select(
            F.least(F.floor(F.col("n_chars") / 50), F.lit(63))
            .cast("int")
            .alias("xb"),
            F.least(F.floor(F.col("sbin") / 16), F.lit(62))
            .cast("int")
            .alias("yb"),
        )
        .groupBy("xb", "yb")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dense = spark.range(0, 64 * 63).select(
        (F.col("id") / 63).cast("int").alias("xb"),
        (F.col("id") % 63).cast("int").alias("yb"),
    )
    grid = dense.join(obs, ["xb", "yb"], "left").select(
        "xb", "yb", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )
    wy = Window.partitionBy("yb").orderBy("xb").rowsBetween(
        Window.unboundedPreceding, -1
    )
    g1 = grid.select(
        "xb", "yb", "cnt", F.coalesce(F.sum("cnt").over(wy), F.lit(0)).alias("cl")
    )
    wx_asc = Window.partitionBy("xb").orderBy("yb").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wx_desc = (
        Window.partitionBy("xb")
        .orderBy(F.col("yb").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g2 = g1.select(
        "xb",
        "yb",
        "cnt",
        F.coalesce(F.sum("cl").over(wx_asc), F.lit(0)).alias("dlt"),
        F.coalesce(F.sum("cl").over(wx_desc), F.lit(0)).alias("dgt"),
    )
    cd = g2.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * F.col("dlt")).alias("conc"),
        F.sum(F.col("cnt") * F.col("dgt")).alias("disc"),
    )
    tx = grid.groupBy("xb").agg(F.sum("cnt").alias("t"))
    ty = grid.groupBy("yb").agg(F.sum("cnt").alias("t"))
    n1 = tx.agg(
        F.sum(F.col("t") * (F.col("t") - 1) / 2).cast("bigint").alias("n1")
    )
    n2 = ty.agg(
        F.sum(F.col("t") * (F.col("t") - 1) / 2).cast("bigint").alias("n2")
    )
    n0 = (F.col("n") * (F.col("n") - 1) / 2).cast("bigint")
    return (
        cd.join(F.broadcast(n1), F.lit(True))
        .join(F.broadcast(n2), F.lit(True))
        .select(
            F.col("n").cast("bigint").alias("n_docs"),
            F.col("conc").cast("bigint").alias("concordant"),
            F.col("disc").cast("bigint").alias("discordant"),
            F.round(
                (F.col("conc") - F.col("disc")).cast("double")
                / F.sqrt(
                    (n0 - F.col("n1")).cast("double")
                    * (n0 - F.col("n2")).cast("double")
                ),
                6,
            ).alias("tau_b"),
        )
    )


O["kendall_tau_chars_score_docs"] = f"""
    WITH {_scored_sql()}, binned AS (
      SELECT LEAST(CAST(floor(d.n_chars / 50.0) AS INTEGER), 63) AS xb,
             LEAST(CAST(floor(
               floor(LEAST(GREATEST(s.score, 0.0), 1.0) * 1000) / 16.0)
               AS INTEGER), 62) AS yb
      FROM scored s JOIN documents d USING (doc_id)
    ), obs AS (
      SELECT xb, yb, COUNT(*) AS cnt FROM binned GROUP BY xb, yb
    ), dense AS (
      SELECT CAST(floor(i / 63.0) AS INTEGER) AS xb,
             CAST(i % 63 AS INTEGER) AS yb
      FROM (SELECT unnest(range(0, 4032)) AS i)
    ), grid AS (
      SELECT d.xb, d.yb, COALESCE(o.cnt, 0) AS cnt
      FROM dense d LEFT JOIN obs o ON o.xb = d.xb AND o.yb = d.yb
    ), g1 AS (
      SELECT xb, yb, cnt,
             COALESCE(SUM(cnt) OVER (PARTITION BY yb ORDER BY xb
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cl
      FROM grid
    ), g2 AS (
      SELECT xb, yb, cnt,
             COALESCE(SUM(cl) OVER (PARTITION BY xb ORDER BY yb
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS dlt,
             COALESCE(SUM(cl) OVER (PARTITION BY xb ORDER BY yb DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS dgt
      FROM g1
    ), cd AS (
      SELECT SUM(cnt) AS n, SUM(cnt * dlt) AS conc, SUM(cnt * dgt) AS disc
      FROM g2
    ), tiex AS (
      SELECT CAST(SUM(t * (t - 1) / 2) AS BIGINT) AS n1
      FROM (SELECT SUM(cnt) AS t FROM grid GROUP BY xb)
    ), tiey AS (
      SELECT CAST(SUM(t * (t - 1) / 2) AS BIGINT) AS n2
      FROM (SELECT SUM(cnt) AS t FROM grid GROUP BY yb)
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(conc AS BIGINT) AS concordant,
           CAST(disc AS BIGINT) AS discordant,
           ROUND(CAST(conc - disc AS DOUBLE)
                 / sqrt(CAST(CAST(n * (n - 1) / 2 AS BIGINT) - n1 AS DOUBLE)
                        * CAST(CAST(n * (n - 1) / 2 AS BIGINT) - n2
                               AS DOUBLE)), 6) AS tau_b
    FROM cd CROSS JOIN tiex CROSS JOIN tiey
    """


@query("facility_location_select_embeddings", None)  # oracle below
def facility_location_q(spark, sf_dir):
    """Greedy facility-location selection: pick 5 of the 20 anchor
    candidates (vec_id < 20) maximizing Σ_x max_{c∈S} sim⁺(x,c) —
    the submodular "cover the corpus with representatives" objective
    behind coreset/exemplar selection for training-data curation
    (MMR optimizes diversity among the SELECTED; facility location
    optimizes coverage of EVERYTHING ELSE).  sim⁺ is the clipped
    ×1e6-integer-scaled dot product (64 dims × 1e12 per term < 2^53:
    the BLAS-exactness contract), so every gain is an exact BIGINT —
    the greedy argmax is engine-deterministic by construction, no FP
    tie ambiguity.  The corpus×20 sim frame is the audited
    bounded-anchor broadcast shape, built ONCE; each of the 5 rounds
    is one 20-row aggregate + a corpus-keyed best-coverage update
    (driver sees only the 1-row argmax — the bounded-scalar collect
    class).  The DuckDB twin unrolls the 5 greedy stages as chained
    CTEs."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1_000_000).cast("long"),
        ).alias("v"),
    )
    cand = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("c"), F.col("v").alias("cv")
    )
    dot = F.aggregate(
        F.zip_with("v", "cv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sims = checkpoint(
        emb.join(F.broadcast(cand), F.lit(True))
        .select(
            F.col("vec_id").alias("x"),
            "c",
            F.greatest(dot, F.lit(0).cast("long")).alias("sp"),
        )
    )
    best = sims.select("x").distinct().select(
        "x", F.lit(0).cast("long").alias("best")
    )
    chosen: list = []
    rows = []
    for rnd in range(1, 6):
        gains = (
            sims.filter(~F.col("c").isin(chosen) if chosen else F.lit(True))
            .join(best, "x")
            .groupBy("c")
            .agg(
                F.sum(F.greatest(F.col("sp") - F.col("best"), F.lit(0))).alias(
                    "gain"
                )
            )
        )
        pick = gains.orderBy(F.col("gain").desc(), F.col("c").asc()).first()
        chosen.append(pick["c"])
        rows.append((rnd, pick["c"], int(pick["gain"])))
        best = checkpoint(
            best.join(
                sims.filter(F.col("c") == pick["c"]).select("x", "sp"), "x"
            )
            .select("x", F.greatest("best", "sp").alias("best")),
            eager=True,
        )
    return spark.createDataFrame(
        [
            (r, c, round(g / 1e12, 6))
            for r, c, g in rows
        ],
        "round bigint, vec_id bigint, gain double",
    ).orderBy("round")


def _fl_oracle() -> str:
    prev_sel: list[str] = []
    stages = []
    for r in range(1, 6):
        excl = (
            " AND ".join(f"s.c <> (SELECT c FROM s{k})" for k in prev_sel)
            if prev_sel
            else "TRUE"
        )
        bprev = f"b{r - 1}" if r > 1 else None
        if r == 1:
            stages.append(
                "g1 AS (SELECT c, SUM(sp) AS gain FROM sims s GROUP BY c)"
            )
        else:
            stages.append(
                f"g{r} AS (SELECT s.c, SUM(GREATEST(s.sp - b.best, 0)) AS gain"
                f" FROM sims s JOIN {bprev} b USING (x)"
                f" WHERE {excl} GROUP BY s.c)"
            )
        stages.append(
            f"s{r} AS (SELECT c, gain FROM g{r}"
            f" ORDER BY gain DESC, c ASC LIMIT 1)"
        )
        if r == 1:
            stages.append(
                "b1 AS (SELECT s.x, s.sp AS best FROM sims s"
                " WHERE s.c = (SELECT c FROM s1))"
            )
        else:
            stages.append(
                f"b{r} AS (SELECT b.x, GREATEST(b.best, s.sp) AS best"
                f" FROM b{r - 1} b JOIN sims s ON s.x = b.x"
                f" WHERE s.c = (SELECT c FROM s{r}))"
            )
        prev_sel.append(str(r))
    finals = " UNION ALL ".join(
        f"SELECT {r} AS round, (SELECT c FROM s{r}) AS vec_id,"
        f" (SELECT gain FROM s{r}) AS gain_i"
        for r in range(1, 6)
    )
    return f"""
    WITH ints AS (
      SELECT vec_id, list_transform(embedding,
               e -> CAST(ROUND(CAST(e AS DOUBLE) * 1000000) AS BIGINT)) AS v
      FROM embeddings
    ), cand AS (
      SELECT vec_id AS c, v AS cv FROM ints WHERE vec_id < 20
    ), sims AS MATERIALIZED (
      SELECT p.vec_id AS x, c.c,
             GREATEST(list_sum(list_transform(range(1, 65),
               i -> p.v[i] * c.cv[i])), 0) AS sp
      FROM ints p CROSS JOIN cand c
    ), {", ".join(stages)}
    SELECT CAST(round AS BIGINT) AS round, CAST(vec_id AS BIGINT) AS vec_id,
           ROUND(gain_i / 1e12, 6) AS gain
    FROM ({finals}) ORDER BY round
    """


O["facility_location_select_embeddings"] = _fl_oracle()


