"""Round-3 pipeline additions: duplicated-n-gram profiling and — split from the single-file registry (VERDICT r7 #7).

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
from .llm import _centroid_assign_sql  # noqa: F401

# =====================================================================
# Round-3 pipeline additions: duplicated-n-gram profiling and
# tokenizer-coverage (OOV) audit
# =====================================================================

@query(
    "dup_ngram_stats_docs",
    r"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE string_split_regex(lower(trim(text)), '\s+')
             END AS w
      FROM documents
    ), g AS (
      SELECT doc_id, array_to_string(list_slice(w, i + 1, i + 3), ' ') AS gram
      FROM (SELECT doc_id, w,
                   unnest(range(0, greatest(len(w) - 2, 0))) AS i
            FROM d)
    ), c AS (
      SELECT gram, COUNT(*) AS cnt FROM g GROUP BY gram
    ), p AS (
      SELECT doc_id, COUNT(*) AS n_ngrams,
             CAST(SUM(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup
      FROM g JOIN c USING (gram) GROUP BY doc_id
    )
    SELECT d.doc_id AS id,
           COALESCE(p.n_ngrams, 0) AS n_ngrams,
           COALESCE(p.n_dup, 0)    AS n_dup,
           ROUND(CASE WHEN COALESCE(p.n_ngrams, 0) > 0
                      THEN p.n_dup / CAST(p.n_ngrams AS DOUBLE)
                      ELSE 0.0 END, 6) AS dup_ratio
    FROM d LEFT JOIN p ON d.doc_id = p.doc_id
    """,
)
def dup_ngram_q(spark, sf_dir):
    """Duplicated-n-gram profile (operators.text.dup_ngram_profile;
    Lee et al. repeated-substring dedup signal at 3-gram granularity —
    3 because the gate corpus's small vocabulary makes trigram
    collisions informative).  gram_repr='text' for exact oracle
    parity; the registered scale path is gram_repr='xxhash64'."""
    from ..operators.text import dup_ngram_profile

    d = load_table(spark, sf_dir, "documents")
    return dup_ngram_profile(d, "doc_id", "text", n=3, gram_repr="text")


@query(
    "oov_rate_docs",
    r"""
    WITH t AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      FROM documents WHERE trim(text) <> ''
    ), t2 AS (
      SELECT doc_id, tok FROM t WHERE tok <> ''
    ), vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS c FROM t2 GROUP BY tok
        ORDER BY c DESC, tok ASC LIMIT 20
      )
    ), p AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_oov
      FROM t2 LEFT JOIN vocab v ON t2.tok = v.tok GROUP BY doc_id
    )
    SELECT d.doc_id AS id,
           COALESCE(p.n_tokens, 0) AS n_tokens,
           COALESCE(p.n_oov, 0)    AS n_oov,
           ROUND(CASE WHEN COALESCE(p.n_tokens, 0) > 0
                      THEN p.n_oov / CAST(p.n_tokens AS DOUBLE)
                      ELSE 0.0 END, 6) AS oov_rate
    FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id
    """,
)
def oov_rate_q(spark, sf_dir):
    """Tokenizer-coverage audit (operators.text.oov_rate): per-doc
    OOV fraction against the corpus's deterministic top-20 token
    vocabulary — the 'what does a fixed vocab fail to express'
    pre-training signal.  Vocab selection is a distributed top-k
    (TakeOrderedAndProject), membership a broadcast existence join."""
    from ..operators.text import oov_rate

    d = load_table(spark, sf_dir, "documents")
    return oov_rate(d, "doc_id", "text", vocab_size=20)


@query(
    "bloom_prefilter_docs",
    r"""
    WITH fp AS (
      SELECT doc_id, source,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS f
      FROM documents
    ), keys AS (
      SELECT DISTINCT f FROM fp WHERE source = 'src0'
    ), kpos AS (
      SELECT CAST('0x' || substr(md5(f || '#' || i), 1, 15) AS BIGINT)
                 % 128 AS p
      FROM keys, range(0, 5) t(i)
    ), words AS (
      SELECT p // 32 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS bits
      FROM kpos GROUP BY 1
    ), ppos AS (
      SELECT doc_id, f,
             CAST('0x' || substr(md5(f || '#' || i), 1, 15) AS BIGINT)
                 % 128 AS p
      FROM fp, range(0, 5) t(i)
    ), hits AS (
      SELECT doc_id,
             bool_and(COALESCE(
               (w.bits & (CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)))
                   <> 0, false)) AS bloom_hit
      FROM ppos LEFT JOIN words w ON w.word = p // 32
      GROUP BY doc_id
    )
    SELECT fp.doc_id, h.bloom_hit,
           (k.f IS NOT NULL) AS exact_hit
    FROM fp JOIN hits h ON fp.doc_id = h.doc_id
    LEFT JOIN keys k ON fp.f = k.f
    """,
)
def bloom_prefilter_q(spark, sf_dir):
    """Portable Bloom-filter membership (functions.bloom): every
    document's fingerprint probed against a deliberately tiny 128-bit/5-hash filter (~60% fill, so false positives actually occur and get hash-verified)
    built from the src0 slice's fingerprints — the scale pattern for
    decontamination/blocklist prefiltering where the key set is big
    enough that an exact broadcast set is unaffordable but a few MB
    of bits is fine.  ``bloom_hit`` is deterministic *including false
    positives* (md5-derived positions), so the oracle rebuilds the
    identical filter in SQL and the gate hash-checks FP behavior too;
    ``exact_hit`` (the ground truth membership) rides along to show
    no-false-negative containment."""
    from ..functions.bloom import bloom_build, bloom_probe
    from ..functions.text import text_fingerprint

    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id", "source", text_fingerprint(F.col("text")).alias("f")
    )
    keys = fp.filter(F.col("source") == "src0").select("f").distinct()
    bloom = bloom_build(keys, "f", m=128, k=5)
    probed = bloom_probe(fp, "f", bloom, m=128, k=5)
    exact = keys.withColumnRenamed("f", "_kf")
    return (
        probed.join(
            F.broadcast(exact), probed["f"] == exact["_kf"], "left"
        )
        .select(
            "doc_id",
            "bloom_hit",
            F.col("_kf").isNotNull().alias("exact_hit"),
        )
    )


@query("quantize_embeddings_arrow")
def quantize_arrow_q(spark, sf_dir):
    """mapInArrow twin of ``quantize_embeddings_int8``
    (operators.similarity.quantize_embeddings_arrow): same rounding
    contract, zero-copy Arrow batches + flat-buffer numpy kernel
    instead of codegen HOFs — shares the expression version's oracle
    verbatim, proving the two execution paths are bit-identical."""
    from ..operators.similarity import quantize_embeddings_arrow

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings_arrow(emb, "vec_id", "embedding")
    return q.select(
        F.col("id").alias("vec_id"),
        F.round("scale", 9).alias("scale"),
        F.aggregate(
            "q", F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("q_sum"),
        F.array_min("q").cast("bigint").alias("q_min"),
        F.array_max("q").cast("bigint").alias("q_max"),
    )


O["quantize_embeddings_arrow"] = O["quantize_embeddings_int8"]


@query(
    "edit_distance_pairs_parts",
    """
    SELECT a.p_brand || '#' || a.p_type AS block,
           a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_type = b.p_type
     AND a.p_partkey < b.p_partkey
    WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
      AND levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def edit_distance_q(spark, sf_dir):
    """Blocked Levenshtein similarity join
    (operators.joins.edit_distance_join): near-identical part names
    at ≤ 2 edits under a COMPOSITE blocking key (brand#type — 6×
    fewer candidate pairs than brand alone at sf0.1; composing
    attributes is the standard way to keep blocks small).  The
    length band and Spark's thresholded levenshtein kernel prune
    before the full DP; the operator docstring records the
    LSH-candidates → levenshtein-verify composition for corpora
    where any fixed key's blocks grow unboundedly."""
    from ..operators.joins import edit_distance_join

    p = load_table(spark, sf_dir, "part").withColumn(
        "_blk", F.concat_ws("#", "p_brand", "p_type")
    )
    return edit_distance_join(p, "p_partkey", "p_name", "_blk", max_dist=2)


@query(
    "entity_clusters_parts",
    """
    WITH RECURSIVE pairs AS (
      SELECT a.p_partkey AS u, b.p_partkey AS v
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand AND a.p_type = b.p_type
       AND a.p_partkey < b.p_partkey
      WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
        AND levenshtein(a.p_name, b.p_name) <= 2
    ), edges AS (
      SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
    ), reach(id, r) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.r FROM edges e JOIN reach r ON e.v = r.id
    ), comp AS (
      SELECT id, MIN(r) AS root FROM reach GROUP BY id
    ), keyed AS (
      SELECT p.p_partkey AS id, COALESCE(c.root, p.p_partkey) AS entity
      FROM part p LEFT JOIN comp c ON c.id = p.p_partkey
    )
    SELECT entity, CAST(COUNT(*) AS BIGINT) AS n_members,
           string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
    FROM keyed GROUP BY entity
    """,
)
def entity_clusters_q(spark, sf_dir):
    """End-to-end entity resolution: blocked Levenshtein pair
    generation (operators.joins.edit_distance_join, brand#type
    blocks, ≤ 2 edits) → transitive closure into entity clusters
    (operators.components.connected_components) → per-entity member
    rollup.  The match-then-cluster composition is the standard
    record-linkage pipeline (Fellegi–Sunter matching, cluster
    resolution); singletons keep their own id as entity.  Oracle:
    the pair SQL + recursive-CTE components, members string-agged in
    id order."""
    from ..operators.components import connected_components
    from ..operators.joins import edit_distance_join

    p = load_table(spark, sf_dir, "part").withColumn(
        "_blk", F.concat_ws("#", "p_brand", "p_type")
    )
    pairs = edit_distance_join(p, "p_partkey", "p_name", "_blk", max_dist=2)
    comp = connected_components(pairs, "id_a", "id_b")
    keyed = (
        p.select(F.col("p_partkey").alias("id"))
        .join(comp, "id", "left")
        .select(
            "id", F.coalesce("component", F.col("id")).alias("entity")
        )
    )
    return keyed.groupBy("entity").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("members"),
    )


def _resize_oracle() -> str:
    """SQL twin of the real nearest-neighbor PPM resize: the gate
    media is an 8×8 raster of repeat(md5(text),6) hex chars, so the
    resized 4×4 channel sums are sums of ascii codes at the EXACT
    byte offsets the kernel's ``src = dst·in div out`` mapping
    selects — integer arithmetic end to end."""
    bases = [3 * (16 * y + 2 * x) for y in range(4) for x in range(4)]
    sums = {
        ch: " + ".join(
            f"ascii(substr(m, {b + ch + 1}, 1))" for b in bases
        )
        for ch in range(3)
    }
    return f"""
    WITH base AS (
      SELECT doc_id AS media_id, repeat(md5(text), 6) AS m
      FROM documents WHERE text IS NOT NULL AND text <> ''
    )
    SELECT media_id,
           CAST({sums[0]} AS BIGINT) AS r_sum,
           CAST({sums[1]} AS BIGINT) AS g_sum,
           CAST({sums[2]} AS BIGINT) AS b_sum,
           CAST(16 AS BIGINT) AS n_pixels
    FROM base
    """


@query("resize_image_checksums", None)  # oracle attached below (generated)
def resize_q(spark, sf_dir):
    """Multimodal resize (operators.multimodal.resize_image): REAL
    nearest-neighbor resampling of real PPM pixels (8×8 → 4×4), then
    exact integer channel sums of the resized raster
    (ppm_channel_sums) — decode, resize, re-encode, and re-decode all
    exercised, and the whole chain hash-checked against byte-offset
    SQL.  Gate media: an 8×8 raster of repeat(md5(text), 6) hex
    characters — ASCII-only, so char offsets ≡ byte offsets in both
    engines."""
    from ..operators.multimodal import ppm_channel_sums, resize_image

    d = load_table(spark, sf_dir, "documents")
    media = d.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).select(
        F.col("doc_id").alias("media_id"),
        F.encode(
            F.concat(
                F.lit("P6\n8 8\n255\n"),
                F.substring(F.repeat(F.md5("text"), 6), 1, 192),
            ),
            "UTF-8",
        ).alias("payload"),
    )
    resized = resize_image(media, out_w=4, out_h=4)
    return ppm_channel_sums(resized)


O["resize_image_checksums"] = _resize_oracle()


def _resample_oracle() -> str:
    """SQL twin of the WAV resample chain: the gate media's 96
    samples are little-endian char pairs of repeat(md5(text),6), and
    8 kHz → 4 kHz nearest-neighbor keeps samples 2i — so the resampled
    sum is Σ ascii-pair arithmetic at the mapped offsets."""
    terms = " + ".join(
        f"(ascii(substr(m, {4 * i + 1}, 1))"
        f" + 256 * ascii(substr(m, {4 * i + 2}, 1)))"
        for i in range(48)
    )
    return f"""
    WITH base AS (
      SELECT doc_id AS media_id, repeat(md5(text), 6) AS m
      FROM documents WHERE text IS NOT NULL AND text <> ''
    )
    SELECT media_id, 4000 AS rate, CAST(48 AS BIGINT) AS n_samples,
           CAST({terms} AS BIGINT) AS sample_sum
    FROM base
    """


@query("resample_audio_checksums", None)  # oracle attached below
def resample_audio_q(spark, sf_dir):
    """Audio resample (operators.multimodal.resample_audio): REAL
    16-bit PCM WAV decoded, nearest-neighbor resampled 8 kHz → 4 kHz,
    re-encoded, re-decoded, and verified by integer-exact sample sums
    (wav_sample_stats) — the audio twin of resize_image_checksums,
    hash-checked against ascii-pair SQL arithmetic (the gate media's
    samples are md5-hex char pairs, so no RIFF parsing in the
    oracle)."""
    from ..operators.multimodal import (
        resample_audio,
        text_to_wav_media,
        wav_sample_stats,
    )

    d = load_table(spark, sf_dir, "documents")
    media = text_to_wav_media(
        d.filter(F.col("text").isNotNull() & (F.length("text") > 0)),
        "doc_id",
        "text",
    )
    return wav_sample_stats(resample_audio(media, out_rate=4000))


O["resample_audio_checksums"] = _resample_oracle()


def _pca_topk_oracle(k: int = 2, iterations: int = 3) -> str:
    """Unrolled power-iteration-with-deflation: per component, the
    same matvec/normalize rounds as the single-component oracle, then
    quantize-to-6, Rayleigh eigenvalue, and relational deflation —
    the exact schedule operators.similarity.principal_components
    runs."""
    head = """
    WITH x AS MATERIALIZED (
      SELECT vec_id, i, CAST(w[i + 1] AS DOUBLE) AS xi
      FROM (SELECT vec_id, embedding AS w,
                   unnest(range(0, len(embedding))) AS i
            FROM embeddings)
    ), mu AS (
      SELECT i, AVG(xi) AS mu FROM x GROUP BY i
    ), xc AS (
      SELECT vec_id, x.i, xi - mu AS c FROM x JOIN mu USING (i)
    ), nn AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings
    ), cells0 AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j, SUM(a.c * b.c) / (SELECT n FROM nn) AS val
      FROM xc a JOIN xc b ON a.vec_id = b.vec_id GROUP BY a.i, b.i
    ), dimt AS (
      SELECT 1.0 / sqrt(COUNT(*)) AS v0 FROM mu
    )"""
    parts = [head]
    for c in range(k):
        prev = f"v{c}_0"
        parts.append(
            f""", v{c}_0 AS (
      SELECT i AS j, (SELECT v0 FROM dimt) AS v FROM mu
    )"""
        )
        for t in range(1, iterations + 1):
            parts.append(
                f""", w{c}_{t} AS (
      SELECT cells{c}.i, SUM(val * vv.v) AS w
      FROM cells{c} JOIN v{c}_{t-1} vv ON vv.j = cells{c}.j
      GROUP BY cells{c}.i
    ), nv{c}_{t} AS (
      SELECT sqrt(SUM(w * w)) AS nv FROM w{c}_{t}
    ), v{c}_{t} AS (
      SELECT i AS j, w / (SELECT nv FROM nv{c}_{t}) AS v FROM w{c}_{t}
    )"""
            )
        parts.append(
            f""", vq{c} AS MATERIALIZED (
      SELECT j, ROUND(v, 6) AS v FROM v{c}_{iterations}
    ), lam{c} AS (
      SELECT ROUND(SUM(cells{c}.val * a.v * b.v), 6) AS l
      FROM cells{c} JOIN vq{c} a ON a.j = cells{c}.i
                    JOIN vq{c} b ON b.j = cells{c}.j
    )"""
        )
        if c + 1 < k:
            parts.append(
                f""", cells{c+1} AS MATERIALIZED (
      SELECT cells{c}.i, cells{c}.j,
             cells{c}.val - (SELECT l FROM lam{c}) * a.v * b.v AS val
      FROM cells{c} JOIN vq{c} a ON a.j = cells{c}.i
                    JOIN vq{c} b ON b.j = cells{c}.j
    )"""
            )
    selects = [
        f"""SELECT {c} AS component, j AS dim_index, v AS loading,
           (SELECT l FROM lam{c}) AS eigenvalue FROM vq{c}"""
        for c in range(k)
    ]
    parts.append("\n    " + "\n    UNION ALL\n    ".join(selects) + "\n    ")
    return "".join(parts)


@query("pca_top2_components_embeddings", None)  # oracle attached below
def pca_top2_q(spark, sf_dir):
    """Top-2 principal components with eigenvalues
    (operators.similarity.principal_components): power iteration +
    quantized deflation — the 2-D embedding map and explained-
    variance pair, engine-identical by the quantize-before-deflate
    contract and hash-checked against the unrolled SQL twin."""
    from ..operators.similarity import principal_components

    emb = load_table(spark, sf_dir, "embeddings")
    return principal_components(
        emb, "embedding", "vec_id", k=2, iterations=3
    )


O["pca_top2_components_embeddings"] = _pca_topk_oracle(2, 3)


def _pca_projection_oracle(iterations: int = 3) -> str:
    """Top-2 oracle + the projection pass: centered coordinates onto
    the two quantized components."""
    base = _pca_topk_oracle(2, iterations)
    # strip the final UNION ALL select block; re-terminate with the
    # projection over the shared CTE chain
    head = base[: base.rindex("\n    SELECT 0 AS component")]
    return (
        head
        + """
    SELECT xc.vec_id AS id,
           ROUND(SUM(xc.c * a.v), 6) AS pc1,
           ROUND(SUM(xc.c * b.v), 6) AS pc2
    FROM xc JOIN vq0 a ON a.j = xc.i JOIN vq1 b ON b.j = xc.i
    GROUP BY xc.vec_id
    """
    )


@query("pca_projection_embeddings", None)  # oracle attached below
def pca_projection_q(spark, sf_dir):
    """The 2-D embedding map: every vector's centered coordinates on
    the top-2 principal components (the plot behind every corpus
    visualization and the input to density/outlier screens in reduced
    space).  Components come from principal_components (quantized, so
    engine-identical); the projection itself is one map-side join of
    the centered cells against the 64-row component vectors —
    map-only relative to the corpus."""
    from ..operators.similarity import principal_components

    emb = load_table(spark, sf_dir, "embeddings")
    comps = principal_components(
        emb, "embedding", "vec_id", k=2, iterations=3
    )
    v0 = comps.filter(F.col("component") == 0).select(
        F.col("dim_index").alias("i"), F.col("loading").alias("v1")
    )
    v1 = comps.filter(F.col("component") == 1).select(
        F.col("dim_index").alias("i"), F.col("loading").alias("v2")
    )
    x = emb.select(
        F.col("vec_id").alias("id"),
        F.posexplode(
            F.transform(F.col("embedding"), lambda v: v.cast("double"))
        ).alias("i", "xi"),
    )
    mu = x.groupBy("i").agg(F.avg("xi").alias("mu"))
    xc = x.join(mu, "i").select(
        "id", "i", (F.col("xi") - F.col("mu")).alias("c")
    )
    return (
        xc.join(F.broadcast(v0), "i")
        .join(F.broadcast(v1), "i")
        .groupBy("id")
        .agg(
            F.round(F.sum(F.col("c") * F.col("v1")), 6).alias("pc1"),
            F.round(F.sum(F.col("c") * F.col("v2")), 6).alias("pc2"),
        )
    )


O["pca_projection_embeddings"] = _pca_projection_oracle(3)


def _pca_outlier_oracle(iterations: int = 3) -> str:
    """Projection oracle + the Mahalanobis-style screen: per-axis
    z-scores in the reduced space (the components are uncorrelated,
    so the diagonal form is exact), flag √(z1²+z2²) > 2.5."""
    base = _pca_projection_oracle(iterations)
    proj = base[: base.rindex("\n    SELECT xc.vec_id AS id,")]
    return (
        proj
        + """, proj AS (
      SELECT xc.vec_id AS id,
             ROUND(SUM(xc.c * a.v), 6) AS pc1,
             ROUND(SUM(xc.c * b.v), 6) AS pc2
      FROM xc JOIN vq0 a ON a.j = xc.i JOIN vq1 b ON b.j = xc.i
      GROUP BY xc.vec_id
    ), st AS (
      SELECT ROUND(STDDEV_SAMP(pc1), 6) AS s1,
             ROUND(STDDEV_SAMP(pc2), 6) AS s2
      FROM proj
    )
    SELECT id, pc1, pc2,
           ROUND(sqrt((pc1 / s1) * (pc1 / s1)
                      + (pc2 / s2) * (pc2 / s2)), 4) AS score
    FROM proj CROSS JOIN st
    WHERE sqrt((pc1 / s1) * (pc1 / s1)
               + (pc2 / s2) * (pc2 / s2)) > 2.5
    """
    )


@query("pca_outliers_embeddings", None)  # oracle attached below
def pca_outliers_q(spark, sf_dir):
    """Outlier screen in the reduced space: per-axis z-scores of the
    2-D PCA projection (axes are principal, hence uncorrelated — the
    diagonal Mahalanobis is exact), flagging radius > 2.5 — the
    embedding-space anomaly detector the projection map feeds
    (means are 0 by construction: projections of centered data).
    Projections and stddevs round before the radius so the threshold
    compare is engine-exact."""
    from ..operators.similarity import principal_components

    emb = load_table(spark, sf_dir, "embeddings")
    comps = principal_components(
        emb, "embedding", "vec_id", k=2, iterations=3
    )
    v0 = comps.filter(F.col("component") == 0).select(
        F.col("dim_index").alias("i"), F.col("loading").alias("v1")
    )
    v1 = comps.filter(F.col("component") == 1).select(
        F.col("dim_index").alias("i"), F.col("loading").alias("v2")
    )
    x = emb.select(
        F.col("vec_id").alias("id"),
        F.posexplode(
            F.transform(F.col("embedding"), lambda v: v.cast("double"))
        ).alias("i", "xi"),
    )
    mu = x.groupBy("i").agg(F.avg("xi").alias("mu"))
    xc = x.join(mu, "i").select(
        "id", "i", (F.col("xi") - F.col("mu")).alias("c")
    )
    proj = (
        xc.join(F.broadcast(v0), "i")
        .join(F.broadcast(v1), "i")
        .groupBy("id")
        .agg(
            F.round(F.sum(F.col("c") * F.col("v1")), 6).alias("pc1"),
            F.round(F.sum(F.col("c") * F.col("v2")), 6).alias("pc2"),
        )
    )
    st = proj.agg(
        F.round(F.stddev_samp("pc1"), 6).alias("s1"),
        F.round(F.stddev_samp("pc2"), 6).alias("s2"),
    )
    z = F.sqrt(
        (F.col("pc1") / F.col("s1")) * (F.col("pc1") / F.col("s1"))
        + (F.col("pc2") / F.col("s2")) * (F.col("pc2") / F.col("s2"))
    )
    return (
        proj.crossJoin(F.broadcast(st))
        .filter(z > 2.5)
        .select("id", "pc1", "pc2", F.round(z, 4).alias("score"))
    )


O["pca_outliers_embeddings"] = _pca_outlier_oracle(3)


@query(
    "single_link_hierarchy_embeddings",
    """
    WITH RECURSIVE pf AS (
      SELECT a.vec_id AS u, b.vec_id AS v
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(
              list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
              list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
            >= 0.45
    ), pc AS (
      SELECT a.vec_id AS u, b.vec_id AS v
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(
              list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
              list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
            >= 0.35
    ), ef AS (
      SELECT u, v FROM pf UNION SELECT v, u FROM pf
    ), ec AS (
      SELECT u, v FROM pc UNION SELECT v, u FROM pc
    ), rf(id, r) AS (
      SELECT u, u FROM ef
      UNION
      SELECT ef.u, rf.r FROM ef JOIN rf ON ef.v = rf.id
    ), rc(id, r) AS (
      SELECT u, u FROM ec
      UNION
      SELECT ec.u, rc.r FROM ec JOIN rc ON ec.v = rc.id
    ), cf AS (
      SELECT id, MIN(r) AS root FROM rf GROUP BY id
    ), cc AS (
      SELECT id, MIN(r) AS root FROM rc GROUP BY id
    )
    SELECT e.vec_id AS id,
           COALESCE(cf.root, e.vec_id) AS cluster_fine,
           COALESCE(cc.root, e.vec_id) AS cluster_coarse
    FROM embeddings e
    LEFT JOIN cf ON cf.id = e.vec_id
    LEFT JOIN cc ON cc.id = e.vec_id
    """,
)
def single_link_q(spark, sf_dir):
    """Two levels of single-link agglomerative clustering: components
    of the cosine-pair graph at τ=0.45 (fine) and τ=0.35 (coarse) —
    single-link at threshold τ IS connected components of the
    τ-neighbor graph, so the dendrogram's levels come from the shipped
    near-dup kernel + components, and fine clusters PROVABLY nest
    inside coarse ones (fine pairs ⊆ coarse pairs; the nesting is
    test-pinned).  The cut-level generalization of cluster_dedup."""
    from ..operators.components import connected_components
    from ..operators.dedup import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    ids = emb.select(F.col("vec_id").alias("id"))

    def level(threshold, out):
        pairs = embedding_near_dup_pairs(
            emb, "vec_id", "embedding", threshold=threshold
        )
        comp = connected_components(pairs, "id_a", "id_b")
        return ids.join(comp, "id", "left").select(
            "id", F.coalesce("component", F.col("id")).alias(out)
        )

    return level(0.45, "cluster_fine").join(
        level(0.35, "cluster_coarse"), "id"
    )


@query(
    "pmi_pairs_docs",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      FROM documents WHERE COALESCE(trim(text), '') <> ''
    ), tok AS (
      SELECT doc_id, w[i] AS word, i AS p
      FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM toks)
    ), uni AS (
      SELECT word, COUNT(*) AS cu FROM tok GROUP BY word
    ), nt AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM tok
    ), ctx AS (
      SELECT t.doc_id, t.word AS center, t.p + o AS cp
      FROM tok t, unnest([-2, -1, 1, 2]) AS u(o)
    ), pairs AS (
      SELECT c.center, t2.word AS context, COUNT(*) AS cp
      FROM ctx c JOIN tok t2 ON t2.doc_id = c.doc_id AND t2.p = c.cp
      GROUP BY c.center, t2.word
    ), np AS (
      SELECT CAST(SUM(cp) AS DOUBLE) AS n FROM pairs
    )
    SELECT center, context, CAST(p.cp AS BIGINT) AS n_cooc,
           ROUND(LN((p.cp / (SELECT n FROM np))
                 / ((a.cu / (SELECT n FROM nt))
                    * (b.cu / (SELECT n FROM nt)))), 6) AS pmi
    FROM pairs p JOIN uni a ON a.word = p.center
                 JOIN uni b ON b.word = p.context
    WHERE p.cp >= 5
    ORDER BY pmi DESC, center ASC, context ASC LIMIT 25
    """,
)
def pmi_q(spark, sf_dir):
    """Pointwise mutual information over the ±2 skip-gram window
    (Church & Hanks 1990): PMI = ln(p(a,b)/(p(a)p(b))), minimum
    co-occurrence 5, top-25 — the collocation detector behind phrase
    mining and embedding-quality audits.  Reuses the skip-gram pair
    machinery; unigram and pair totals are two scalar aggregates
    fanned back broadcast."""
    d = load_table(spark, sf_dir, "documents")
    toks = checkpoint(
        d.filter(
            F.coalesce(F.trim("text"), F.lit("")) != ""
        ).select(
            "doc_id",
            F.posexplode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("p", "word"),
        ),
        eager=True,
    )
    uni = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cu"))
    n_tok = float(toks.count())
    ctx = toks.select(
        "doc_id",
        F.col("word").alias("center"),
        "p",
        F.explode(F.array(*[F.lit(o) for o in (-2, -1, 1, 2)])).alias("o"),
    ).select("doc_id", "center", (F.col("p") + F.col("o")).alias("cp"))
    t2 = toks.select(
        "doc_id", F.col("p").alias("cp"), F.col("word").alias("context")
    )
    pairs = checkpoint(
        ctx.join(t2, ["doc_id", "cp"])
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("cpair")),
        eager=True,
    )
    n_pair = float(pairs.agg(F.sum("cpair")).first()[0])
    ua = uni.select(F.col("word").alias("center"), F.col("cu").alias("ca"))
    ub = uni.select(F.col("word").alias("context"), F.col("cu").alias("cb"))
    return (
        pairs.filter(F.col("cpair") >= 5)
        .join(ua, "center")
        .join(ub, "context")
        .select(
            "center",
            "context",
            F.col("cpair").cast("bigint").alias("n_cooc"),
            F.round(
                F.log(
                    (F.col("cpair") / F.lit(n_pair))
                    / (
                        (F.col("ca") / F.lit(n_tok))
                        * (F.col("cb") / F.lit(n_tok))
                    )
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(
            F.col("pmi").desc(), F.col("center").asc(), F.col("context").asc()
        )
        .limit(25)
    )


@query(
    "chisq_lang_drift_by_source",
    """
    WITH obs AS (
      SELECT source, lang, CAST(COUNT(*) AS DOUBLE) AS o
      FROM documents GROUP BY source, lang
    ), src AS (
      SELECT source, SUM(o) AS ns FROM obs GROUP BY source
    ), corpus AS (
      SELECT lang, SUM(o) AS cl FROM obs GROUP BY lang
    ), nt AS (
      SELECT SUM(o) AS n FROM obs
    ), grid AS (
      SELECT src.source, corpus.lang, src.ns,
             src.ns * corpus.cl / (SELECT n FROM nt) AS e
      FROM src CROSS JOIN corpus
    )
    SELECT g.source,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           ROUND(SUM((COALESCE(obs.o, 0) - g.e) * (COALESCE(obs.o, 0) - g.e)
                     / g.e), 6) AS chi_sq
    FROM grid g LEFT JOIN obs
      ON obs.source = g.source AND obs.lang = g.lang
    GROUP BY g.source
    """,
)
def chisq_q(spark, sf_dir):
    """Chi-square language-mix drift per source: Σ (obs − exp)²/exp
    against the corpus-wide language distribution — the classic
    homogeneity screen that flags a source whose language mix departs
    from the corpus (PSI's categorical cousin; PSI monitors two
    snapshots of one slice, this ranks many slices against the pool).
    The expected grid is sources × langs (tiny) built from two
    bounded aggregates."""
    d = load_table(spark, sf_dir, "documents")
    obs = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("double").alias("o")
    )
    src = obs.groupBy("source").agg(F.sum("o").alias("ns"))
    corpus = obs.groupBy("lang").agg(F.sum("o").alias("cl"))
    n = float(d.count())
    grid = src.crossJoin(corpus).select(
        "source", "lang", (F.col("ns") * F.col("cl") / F.lit(n)).alias("e")
    )
    return (
        grid.join(obs, ["source", "lang"], "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_langs"),
            F.round(
                F.sum(
                    (F.coalesce("o", F.lit(0.0)) - F.col("e"))
                    * (F.coalesce("o", F.lit(0.0)) - F.col("e"))
                    / F.col("e")
                ),
                6,
            ).alias("chi_sq"),
        )
    )


@query(
    "mad_totalprice_by_status",
    """
    WITH med AS (
      SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS m
      FROM orders GROUP BY o_orderstatus
    ), dev AS (
      SELECT o.o_orderstatus, ABS(o.o_totalprice - med.m) AS d, med.m
      FROM orders o JOIN med USING (o_orderstatus)
    )
    SELECT o_orderstatus, ROUND(ANY_VALUE(m), 6) AS median,
           ROUND(quantile_cont(d, 0.5), 6) AS mad,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM dev GROUP BY o_orderstatus
    """,
)
def mad_q(spark, sf_dir):
    """Median absolute deviation per order status — the robust scale
    estimate (breakdown point 50%, vs 0% for stddev): two exact
    type-7 medians (Spark percentile ≡ DuckDB quantile_cont, the
    parity the winsorize gate proved), the first broadcast back for
    the deviation pass.  At 100 TB both swap to approx_percentile
    with an unchanged downstream plan."""
    o = load_table(spark, sf_dir, "orders")
    med = o.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("m")
    )
    dev = o.join(F.broadcast(med), "o_orderstatus").select(
        "o_orderstatus",
        F.abs(F.col("o_totalprice") - F.col("m")).alias("d"),
        "m",
    )
    return dev.groupBy("o_orderstatus").agg(
        F.round(F.any_value("m"), 6).alias("median"),
        F.round(F.expr("percentile(d, 0.5)"), 6).alias("mad"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )


@query(
    "dbscan_embeddings",
    """
    WITH RECURSIVE p AS (
      SELECT a.vec_id AS u, b.vec_id AS v
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(
              list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
              list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
            >= 0.35
    ), e AS (
      SELECT u, v FROM p UNION SELECT v, u FROM p
    ), nc AS (
      SELECT u, COUNT(*) AS c FROM e GROUP BY u
    ), core AS (
      SELECT u AS id FROM nc WHERE c >= 3
    ), ce AS (
      SELECT e.u, e.v FROM e
      JOIN core a ON a.id = e.u JOIN core b ON b.id = e.v
    ), reach(id, r) AS (
      SELECT u, u FROM ce
      UNION
      SELECT ce.u, r.r FROM ce JOIN reach r ON ce.v = r.id
    ), comp AS (
      SELECT id, MIN(r) AS root FROM reach GROUP BY id
    ), core_cl AS (
      SELECT core.id, COALESCE(comp.root, core.id) AS cluster
      FROM core LEFT JOIN comp ON comp.id = core.id
    ), border AS (
      SELECT e.u AS id, MIN(cc.cluster) AS cluster
      FROM e JOIN core_cl cc ON cc.id = e.v
      WHERE e.u NOT IN (SELECT id FROM core)
      GROUP BY e.u
    )
    SELECT emb.vec_id AS id,
           CASE WHEN k.id IS NOT NULL THEN 'core'
                WHEN b.id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           CAST(COALESCE(k.cluster, b.cluster, -1) AS BIGINT) AS cluster
    FROM embeddings emb
    LEFT JOIN core_cl k ON k.id = emb.vec_id
    LEFT JOIN border b ON b.id = emb.vec_id
    """,
)
def dbscan_q(spark, sf_dir):
    """DBSCAN density clustering (operators.components.
    dbscan_from_pairs, min_pts=3) over the exact cosine ε-neighbor
    graph (ε ≙ cosine ≥ 0.35, the shipped near-dup pair kernel) —
    core/border/noise roles and min-core-id clusters, all
    deterministic, the whole composition hash-checked against a
    recursive-CTE twin.  At 100 TB the pair kernel swaps to the LSH-
    bucketed variant; the clustering half is unchanged."""
    from ..operators.components import dbscan_from_pairs
    from ..operators.dedup import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    pairs = embedding_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.35
    )
    return dbscan_from_pairs(
        emb.select(F.col("vec_id")), pairs, id_col="vec_id", min_pts=3
    )


def _kmeans_oracle(k: int = 8, iterations: int = 2, dim: int = 64) -> str:
    """Unrolled Lloyd iterations with the same per-round quantization
    contract as operators.similarity.lloyd_kmeans: centroids AND
    distances round to 6 before use, so every round's state is
    bit-identical across engines."""
    from ..operators.similarity import fixed_centroids

    init = fixed_centroids(dim, k, 7)
    vals = ", ".join(
        f"({c}, {j}, {round(float(init[c][j]), 6)!r})"
        for c in range(k)
        for j in range(dim)
    )
    parts = [
        f"""
    WITH x AS MATERIALIZED (
      SELECT vec_id AS id, i AS j, CAST(w[i + 1] AS DOUBLE) AS xj
      FROM (SELECT vec_id, embedding AS w,
                   unnest(range(0, len(embedding))) AS i
            FROM embeddings)
    ), c0(c, j, cj) AS (VALUES {vals})"""
    ]
    for r in range(1, iterations + 1):
        parts.append(
            f""", d{r} AS (
      SELECT x.id, cc.c,
             ROUND(SUM((x.xj - cc.cj) * (x.xj - cc.cj)), 6) AS d2
      FROM x JOIN c{r-1} cc ON cc.j = x.j GROUP BY x.id, cc.c
    ), a{r} AS (
      SELECT id, c FROM (
        SELECT id, c,
               ROW_NUMBER() OVER (PARTITION BY id
                                  ORDER BY d2 ASC, c ASC) AS rn
        FROM d{r}
      ) WHERE rn = 1
    ), u{r} AS (
      SELECT a.c, x.j, ROUND(AVG(x.xj), 6) AS new_cj
      FROM x JOIN a{r} a USING (id) GROUP BY a.c, x.j
    ), c{r} AS (
      SELECT p.c, p.j, COALESCE(u.new_cj, p.cj) AS cj
      FROM c{r-1} p LEFT JOIN u{r} u ON u.c = p.c AND u.j = p.j
    ), n{r} AS (
      SELECT c, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM a{r} GROUP BY c
    )"""
        )
    parts.append(
        f"""
    SELECT cf.c AS cluster, cf.j AS dim_index, cf.cj AS centroid,
           COALESCE(nf.n_members, 0) AS n_members
    FROM c{iterations} cf LEFT JOIN n{iterations} nf ON nf.c = cf.c
    """
    )
    return "".join(parts)


@query("kmeans_centroids_embeddings", None)  # oracle attached below
def kmeans_q(spark, sf_dir):
    """Distributed Lloyd's KMeans (operators.similarity.lloyd_kmeans,
    k=8, 2 rounds): TRAINED centroids as relational assign→update
    rounds — the upgrade over the literal fixed_centroids quantizer
    that IVF/SemDeDup gates use, now itself oracle-paired (per-round
    quantization of centroids and distances makes every round's state
    engine-identical, so the unrolled SQL twin is exact)."""
    from ..operators.similarity import lloyd_kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    return lloyd_kmeans(emb, "embedding", "vec_id", k=8, iterations=2)


O["kmeans_centroids_embeddings"] = _kmeans_oracle(8, 2, 64)


@query(
    "curation_pipeline_v2",
    r"""
    WITH clean AS (
      SELECT doc_id, source, text FROM documents
      WHERE COALESCE(n_chars >= 100, FALSE)
        AND COALESCE(trim(text), '') <> ''
    ), base AS (
      SELECT doc_id, source,
             string_split_regex(lower(trim(text)), '\s+') AS w
      FROM clean
    ), grams AS (
      SELECT doc_id, i AS s,
             array_to_string(list_slice(w, i, i + 4), ' ') AS g
      FROM (
        SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
        FROM base WHERE len(w) >= 5
      )
    ), dup AS (
      SELECT g FROM grams GROUP BY g HAVING COUNT(*) > 1
    ), cov AS (
      SELECT DISTINCT doc_id, p
      FROM (
        SELECT grams.doc_id, unnest(range(s, s + 5)) AS p
        FROM grams JOIN dup USING (g)
      )
    ), removed AS (
      SELECT doc_id, COUNT(*) AS n_removed FROM cov GROUP BY doc_id
    )
    SELECT b.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(b.w)) AS BIGINT) AS total_tokens,
           CAST(SUM(COALESCE(r.n_removed, 0)) AS BIGINT) AS tokens_removed,
           ROUND(SUM(COALESCE(r.n_removed, 0))
                 / CAST(SUM(len(b.w)) AS DOUBLE), 6) AS removal_ratio
    FROM base b LEFT JOIN removed r ON r.doc_id = b.doc_id
    GROUP BY b.source
    """,
)
def curation_v2_q(spark, sf_dir):
    """Round-3 curation pipeline end to end: data-contract quarantine
    (operators.quality.quarantine — short/empty docs dead-lettered,
    NULL fails closed) → corpus-wide duplicated-span removal
    (operators.text.remove_duplicate_spans, k=5) → per-source
    datasheet rollup of surviving volume and removal ratios.  The
    whole chain is one hash-checked query — the composed twin of the
    round-1 flagship's filter→dedup→count pipeline, built from this
    round's operators."""
    from ..operators.quality import quarantine
    from ..operators.text import remove_duplicate_spans

    d = load_table(spark, sf_dir, "documents")
    clean, _bad = quarantine(
        d,
        {
            "min_length": "n_chars >= 100",
            "nonempty_text": "COALESCE(trim(text), '') <> ''",
        },
    )
    spans = remove_duplicate_spans(clean, k=5)
    joined = spans.join(
        clean.select(F.col("doc_id").alias("id"), "source"), "id"
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("n_removed").cast("bigint").alias("tokens_removed"),
        F.round(
            F.sum("n_removed") / F.sum("n_tokens").cast("double"), 6
        ).alias("removal_ratio"),
    )


@query(
    "rrf_fusion_docs",
    r"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE string_split_regex(lower(trim(text)), '\s+')
             END AS w,
             text
      FROM documents
    ), b2 AS (
      SELECT doc_id, len(w) AS n_tokens, w, text FROM base
    ), g AS (
      SELECT COUNT(*) AS n_docs, AVG(n_tokens) AS avg_len FROM b2
    ), tf AS (
      SELECT doc_id, n_tokens, term, COUNT(*) AS tf
      FROM (SELECT doc_id, n_tokens, unnest(w) AS term FROM b2)
      WHERE term IN ('spark', 'stream', 'window')
      GROUP BY 1, 2, 3
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), sc AS (
      SELECT tf.doc_id AS id, ROUND(SUM(
               LN(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * tf.n_tokens / g.avg_len))
             ), 6) AS s
      FROM tf JOIN dfreq USING (term) CROSS JOIN g GROUP BY 1
    ), qual AS (
      SELECT doc_id AS id, ROUND(
        0.5 * LEAST(n_tokens / 100.0, 1.0)
        + 0.3 * (1.0 - CASE WHEN length(text) > 0
            THEN (length(text) - length(regexp_replace(text,
                   '[.,!?;:]', '', 'g'))) / CAST(length(text) AS DOUBLE)
            ELSE 0.0 END)
        + 0.2 * LEAST(4 * CASE WHEN n_tokens > 0
            THEN len(list_filter(list_transform(w, x -> lower(x)),
                 x -> x IN ('the','a','of','and','to','in','is','it')))
                 / CAST(n_tokens AS DOUBLE)
            ELSE 0.0 END, 1.0), 6) AS q
      FROM b2
    ), r1 AS (
      SELECT id, r1 FROM (
        SELECT id, ROW_NUMBER() OVER (ORDER BY s DESC, id ASC) AS r1
        FROM sc
      ) WHERE r1 <= 100
    ), r2 AS (
      SELECT id, r2 FROM (
        SELECT id, ROW_NUMBER() OVER (ORDER BY q DESC, id ASC) AS r2
        FROM qual
      ) WHERE r2 <= 100
    ), fused AS (
      SELECT COALESCE(r1.id, r2.id) AS id, r1.r1, r2.r2,
             ROUND(COALESCE(1.0 / (60 + r1.r1), 0.0)
                   + COALESCE(1.0 / (60 + r2.r2), 0.0), 6) AS rrf
      FROM r1 FULL JOIN r2 ON r1.id = r2.id
    )
    SELECT id, CAST(r1 AS BIGINT) AS r1, CAST(r2 AS BIGINT) AS r2, rrf
    FROM fused ORDER BY rrf DESC, id ASC LIMIT 20
    """,
)
def rrf_q(spark, sf_dir):
    """Reciprocal-rank fusion (Cormack et al. SIGIR'09, k=60) of two
    retrievers over the corpus: BM25 relevance to {spark, stream,
    window} and the heuristic quality score — the standard hybrid-
    retrieval combiner (lexical ⊕ quality here; lexical ⊕ dense in a
    vector stack).  Scale shape: each retriever contributes only its
    top-100 via TakeOrderedAndProject, so ranking windows run over
    ≤ 100 candidate rows, never the corpus; scores are rounded to 6
    BEFORE ranking so tie order is engine-exact."""
    from ..functions.text import quality_score
    from ..operators.text import bm25_score

    d = load_table(spark, sf_dir, "documents")
    sc = bm25_score(d, ["spark", "stream", "window"]).select(
        "id", F.round("score", 6).alias("s")
    )
    qual = d.select(
        F.col("doc_id").alias("id"),
        F.round(quality_score(F.col("text")), 6).alias("q"),
    )

    def topk_ranked(df, key, rank_name):
        top = df.orderBy(F.col(key).desc(), F.col("id").asc()).limit(100)
        w = Window.orderBy(F.col(key).desc(), F.col("id").asc())
        return top.withColumn(rank_name, F.row_number().over(w)).select(
            "id", rank_name
        )

    r1 = topk_ranked(sc, "s", "r1")
    r2 = topk_ranked(qual, "q", "r2")
    fused = r1.join(r2, "id", "full").select(
        "id",
        F.col("r1").cast("bigint").alias("r1"),
        F.col("r2").cast("bigint").alias("r2"),
        F.round(
            F.coalesce(1.0 / (60 + F.col("r1")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("r2")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("id").asc()).limit(20)


@query(
    "grouped_sketch_quantiles_events",
    """
    WITH s AS (
      SELECT event_type AS "group",
             LEAST(GREATEST(CAST(FLOOR((value - 0.0) / 12.5) AS INT),
                            0), 31) AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), c AS (
      SELECT "group", bin, cnt,
             COALESCE(SUM(cnt) OVER (PARTITION BY "group" ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM s
    ), t AS (
      SELECT "group", CAST(SUM(cnt) AS BIGINT) AS n_rows
      FROM s GROUP BY "group"
    ), tg AS (
      SELECT "group", n_rows, prob, prob * n_rows AS target
      FROM t CROSS JOIN
           (SELECT CAST(unnest([0.5, 0.95]) AS DOUBLE) AS prob)
    )
    SELECT tg."group", tg.prob,
           ROUND(0.0 + (c.bin + (tg.target - c.cum_before) / c.cnt)
                 * 12.5, 6) AS quantile,
           tg.n_rows
    FROM tg JOIN c
      ON c."group" = tg."group"
     AND c.cum_before < tg.target AND c.cum_before + c.cnt >= tg.target
    """,
)
def grouped_sketch_q(spark, sf_dir):
    """Per-key mergeable percentiles (operators.profile.
    grouped_histogram_sketch + grouped_sketch_quantiles): p50/p95 of
    event value per event type from 32-bin fixed-grid sketches whose
    counts sum across batches — ≤ groups·bins rows of state, the
    per-key streaming-percentile answer.  The cumulative walk windows
    over ≤ bins rows PER GROUP PARTITION — no single-partition
    exchange anywhere (unlike the global sketch's bounded one)."""
    from ..operators.profile import (
        grouped_histogram_sketch,
        grouped_sketch_quantiles,
    )

    e = load_table(spark, sf_dir, "events")
    sk = grouped_histogram_sketch(
        e, "event_type", "value", lo=0.0, hi=400.0, bins=32
    )
    return grouped_sketch_quantiles(
        sk, [0.5, 0.95], lo=0.0, hi=400.0, bins=32
    )


@query(
    "skipgram_pairs_docs",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      FROM documents WHERE COALESCE(trim(text), '') <> ''
    ), tok AS (
      SELECT doc_id, w[i] AS word, i AS p
      FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM toks)
    ), ctx AS (
      SELECT t.doc_id, t.word AS center, t.p + o AS cp
      FROM tok t, unnest([-2, -1, 1, 2]) AS u(o)
    ), pairs AS (
      SELECT c.center, t2.word AS context
      FROM ctx c JOIN tok t2 ON t2.doc_id = c.doc_id AND t2.p = c.cp
    )
    SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY center, context
    ORDER BY n DESC, center ASC, context ASC LIMIT 30
    """,
)
def skipgram_q(spark, sf_dir):
    """Skip-gram (center, context) pair extraction, window ±2 — the
    training-pair generator of word2vec-family embedding training
    (Mikolov et al. 2013), top-30 by frequency.  Offsets are a
    4-element literal explode so the context lookup is a pure
    (doc, position) EQUI-join — never a range join or per-doc window;
    one pair-keyed aggregate + TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.filter(
        F.coalesce(F.trim("text"), F.lit("")) != ""
    ).select(
        "doc_id",
        F.posexplode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("p", "word"),
    )
    ctx = toks.select(
        "doc_id",
        F.col("word").alias("center"),
        "p",
        F.explode(F.array(*[F.lit(o) for o in (-2, -1, 1, 2)])).alias("o"),
    ).select(
        "doc_id", "center", (F.col("p") + F.col("o")).alias("cp")
    )
    t2 = toks.select(
        "doc_id", F.col("p").alias("cp"), F.col("word").alias("context")
    )
    return (
        ctx.join(t2, ["doc_id", "cp"])
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(
            F.col("n").desc(), F.col("center").asc(), F.col("context").asc()
        )
        .limit(30)
    )


@query(
    "datasheet_by_source",
    r"""
    WITH t AS (
      SELECT doc_id, source, lang,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END
               AS n_tokens,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
               AS fp
      FROM documents
    ), f AS (
      SELECT source, fp, COUNT(*) AS c FROM t GROUP BY source, fp
    ), dup AS (
      SELECT source, SUM(c - 1) AS n_dup FROM f GROUP BY source
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(CAST(n_tokens AS DOUBLE)), 4) AS avg_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           ROUND(ANY_VALUE(dup.n_dup) / CAST(COUNT(*) AS DOUBLE), 6)
             AS exact_dup_ratio
    FROM t JOIN dup ON dup.source = t.source
    GROUP BY t.source
    """,
)
def datasheet_q(spark, sf_dir):
    """Per-source dataset card (the datasheet rollup a curation run
    publishes next to its output): document/token volumes, language
    spread, and the exact-duplicate ratio from the md5 normalized-text
    fingerprint (functions.text.text_fingerprint) — duplicates counted
    as occurrences beyond each fingerprint's first.  Two
    partial-aggregated passes (fingerprint groups, then the source
    rollup); every signal map-only before its aggregate."""
    from ..functions.text import text_fingerprint, token_count

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "source",
        "lang",
        token_count(F.col("text")).alias("n_tokens"),
        text_fingerprint(F.col("text")).alias("fp"),
    )
    dup = (
        t.groupBy("source", "fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source")
        .agg(F.sum(F.col("c") - 1).alias("n_dup"))
    )
    return (
        t.join(dup, "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.avg(F.col("n_tokens").cast("double")), 4).alias(
                "avg_tokens"
            ),
            F.count_distinct(F.col("lang")).cast("bigint").alias("n_langs"),
            F.round(
                F.any_value("n_dup") / F.count(F.lit(1)).cast("double"), 6
            ).alias("exact_dup_ratio"),
        )
    )


@query(
    "quarantine_orders",
    """
    WITH ann AS (
      SELECT o_orderkey,
             list_filter([
               CASE WHEN NOT COALESCE(o_orderdate < DATE '1998-06-01', FALSE)
                    THEN 'date_cutoff' END,
               CASE WHEN NOT COALESCE(o_orderstatus IN ('F', 'O'), FALSE)
                    THEN 'known_status' END,
               CASE WHEN NOT COALESCE(o_totalprice <= 300000, FALSE)
                    THEN 'price_cap' END
             ], x -> x IS NOT NULL) AS v
      FROM orders
    )
    SELECT o_orderkey, array_to_string(v, ',') AS violations,
           CAST(len(v) AS INTEGER) AS n_violations
    FROM ann WHERE len(v) > 0
    """,
)
def quarantine_q(spark, sf_dir):
    """Data-contract quarantine (operators.quality.quarantine): the
    dead-letter side of a three-rule order contract — rows failing
    any rule carry the sorted violation names (NULL evaluations
    quarantine, never slip).  Map-only CASE chain; the enforcement
    counterpart of the reporting-only check_constraints gate."""
    from ..operators.quality import quarantine

    o = load_table(spark, sf_dir, "orders")
    rules = {
        "date_cutoff": "o_orderdate < DATE '1998-06-01'",
        "known_status": "o_orderstatus IN ('F', 'O')",
        "price_cap": "o_totalprice <= 300000",
    }
    _clean, bad = quarantine(o, rules)
    return bad.select(
        "o_orderkey",
        F.array_join("_violations", ",").alias("violations"),
        F.size("_violations").alias("n_violations"),
    )


@query(
    "incremental_components_parts",
    """
    WITH RECURSIVE pairs AS (
      SELECT a.p_partkey AS u, b.p_partkey AS v
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand AND a.p_type = b.p_type
       AND a.p_partkey < b.p_partkey
      WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
        AND levenshtein(a.p_name, b.p_name) <= 2
    ), edges AS (
      SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
    ), reach(id, r) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.r FROM edges e JOIN reach r ON e.v = r.id
    ), comp AS (
      SELECT id, MIN(r) AS root FROM reach GROUP BY id
    )
    SELECT p.p_partkey AS id,
           COALESCE(c.root, p.p_partkey) AS component
    FROM part p LEFT JOIN comp c ON c.id = p.p_partkey
    """,
)
def incremental_components_q(spark, sf_dir):
    """Incremental cluster maintenance (operators.components.
    merge_components): stage 1 resolves only the pairs among the
    first half of the id space; stage 2 folds the REMAINING pairs
    into those labels as star edges — never re-reading stage 1's pair
    set.  The oracle is ONE full resolution over all pairs, so the
    hash gate proves incremental ≡ full recompute cross-engine (the
    star-edge compression loses nothing)."""
    from ..operators.components import connected_components, merge_components
    from ..operators.joins import edit_distance_join

    p = load_table(spark, sf_dir, "part").withColumn(
        "_blk", F.concat_ws("#", "p_brand", "p_type")
    )
    pairs = checkpoint(
        edit_distance_join(
            p, "p_partkey", "p_name", "_blk", max_dist=2
        ).select("id_a", "id_b"),
        eager=True,
    )
    mid = p.agg(
        (F.min("p_partkey") + F.max("p_partkey")) / 2
    ).first()[0]
    batch1 = pairs.filter(
        (F.col("id_a") <= mid) & (F.col("id_b") <= mid)
    )
    batch2 = pairs.exceptAll(batch1)
    comp1 = connected_components(batch1, "id_a", "id_b")
    labels1 = (
        p.select(F.col("p_partkey").alias("id"))
        .join(comp1, "id", "left")
        .select(
            "id", F.coalesce("component", F.col("id")).alias("component")
        )
    )
    return merge_components(labels1, batch2)


def _pca_oracle(iterations: int = 3) -> str:
    """Unrolled relational power iteration: covariance cells from a
    self-join on id, matvec = cell⋈vector + group-by, scalar-subquery
    normalizer — the identical algebra top_principal_component runs."""
    head = """
    WITH x AS (
      SELECT vec_id, CAST(w[i + 1] AS DOUBLE) AS xi, i
      FROM (SELECT vec_id, embedding AS w,
                   unnest(range(0, len(embedding))) AS i
            FROM embeddings)
    ), mu AS (
      SELECT i, AVG(xi) AS mu FROM x GROUP BY i
    ), xc AS (
      SELECT vec_id, x.i, xi - mu AS c FROM x JOIN mu USING (i)
    ), nn AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings
    ), cells AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j, SUM(a.c * b.c) / (SELECT n FROM nn) AS val
      FROM xc a JOIN xc b ON a.vec_id = b.vec_id GROUP BY a.i, b.i
    ), v0 AS (
      SELECT i AS j, 1.0 / sqrt((SELECT COUNT(*) FROM mu)) AS v FROM mu
    )"""
    parts = [head]
    for k in range(1, iterations + 1):
        parts.append(
            f""", w{k} AS (
      SELECT cells.i, SUM(val * v.v) AS w
      FROM cells JOIN v{k-1} v ON v.j = cells.j GROUP BY cells.i
    ), nv{k} AS (
      SELECT sqrt(SUM(w * w)) AS nv FROM w{k}
    ), v{k} AS (
      SELECT i AS j, w / (SELECT nv FROM nv{k}) AS v FROM w{k}
    )"""
        )
    parts.append(
        f"""
    SELECT j AS dim_index, ROUND(v, 6) AS loading FROM v{iterations}
    """
    )
    return "".join(parts)


@query("pca_top_component_embeddings", None)  # oracle attached below
def pca_q(spark, sf_dir):
    """Top principal component (operators.similarity.
    top_principal_component, 3 power iterations) of the embeddings
    table — PCA's dominant axis as pure DataFrame algebra (covariance
    cells + relational matvec), with the deterministic 1/√dim start
    vector fixing the eigenvector sign so the unrolled SQL twin is
    exact."""
    from ..operators.similarity import top_principal_component

    emb = load_table(spark, sf_dir, "embeddings")
    return top_principal_component(emb, "embedding", "vec_id", iterations=3)


O["pca_top_component_embeddings"] = _pca_oracle(3)


@query(
    "sketch_quantiles_totalprice",
    """
    WITH s AS (
      SELECT LEAST(GREATEST(CAST(FLOOR((o_totalprice - 0.0) / 9375.0)
                                 AS INT), 0), 63) AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
    ), c AS (
      SELECT bin, cnt,
             COALESCE(SUM(cnt) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM s
    ), t AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows FROM s
    ), tg AS (
      SELECT prob, n_rows, prob * n_rows AS target
      FROM (SELECT CAST(unnest([0.5, 0.95, 0.99]) AS DOUBLE) AS prob)
           CROSS JOIN t
    )
    SELECT tg.prob,
           ROUND(0.0 + (c.bin + (tg.target - c.cum_before) / c.cnt)
                 * 9375.0, 6) AS quantile,
           tg.n_rows
    FROM tg JOIN c
      ON c.cum_before < tg.target AND c.cum_before + c.cnt >= tg.target
    """,
)
def sketch_quantiles_q(spark, sf_dir):
    """Mergeable quantile estimation (operators.profile.
    histogram_sketch + sketch_quantiles): p50/p95/p99 of order value
    from a 64-bin fixed-grid histogram — the sketch whose counts ADD
    across partitions/batches/days, so incremental and streaming
    percentile maintenance never re-scans (fixed-grid cousin of
    t-digest/KLL; merge ≡ whole-build is property-tested like
    bloom/cms).  Max error one bin width; exact integer cumulative
    counts make the interpolation engine-reproducible."""
    from ..operators.profile import histogram_sketch, sketch_quantiles

    o = load_table(spark, sf_dir, "orders")
    sk = histogram_sketch(o, "o_totalprice", lo=0.0, hi=600000.0, bins=64)
    return sketch_quantiles(
        sk, [0.5, 0.95, 0.99], lo=0.0, hi=600000.0, bins=64
    )


@query(
    "attribution_last_touch",
    """
    WITH seq AS (
      SELECT user_id, event_type, value, ts, event_id,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch
      FROM events
    )
    SELECT COALESCE(touch, '(none)') AS touch,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           ROUND(SUM(value), 4) AS attributed_value
    FROM seq WHERE event_type = 'purchase'
    GROUP BY COALESCE(touch, '(none)')
    """,
)
def attribution_q(spark, sf_dir):
    """Last-touch attribution: each purchase's value credited to the
    user's most recent NON-purchase event before it (IGNORE NULLS lag
    skips intervening purchases) — the marketing-analytics rollup
    funnel/cohort don't cover.  One user-keyed window + one tiny
    aggregate; purchases with no prior touch fall into '(none)'."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # LAG ... IGNORE NULLS ≡ last non-null over the strictly-preceding
    # frame (PySpark's lag() has no ignorenulls parameter)
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        e.withColumn("touch", touch)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("(none)")).alias("touch"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.round(F.sum("value"), 4).alias("attributed_value"),
        )
    )


@query(
    "regression_residual_outliers",
    """
    WITH x AS (
      SELECT event_type, value, event_id,
             CAST(epoch_us(ts) - 1640995200000000 AS DOUBLE) / 86400000000.0
               AS day_x
      FROM events
    ), fit AS (
      SELECT event_type,
             regr_slope(value, day_x) AS sl,
             regr_intercept(value, day_x) AS ic,
             COUNT(*) AS n
      FROM x GROUP BY event_type
    ), resid AS (
      SELECT x.event_type, x.event_id,
             x.value - (fit.sl * x.day_x + fit.ic) AS r
      FROM x JOIN fit USING (event_type)
    ), stats AS (
      SELECT event_type, AVG(r) AS mu, STDDEV_SAMP(r) AS sd
      FROM resid GROUP BY event_type
    )
    SELECT r.event_type, r.event_id, ROUND((r.r - s.mu) / s.sd, 4) AS z
    FROM resid r JOIN stats s USING (event_type)
    WHERE ABS((r.r - s.mu) / s.sd) > 3.0
    """,
)
def regr_outliers_q(spark, sf_dir):
    """Trend-adjusted outliers: per event type, fit the OLS value
    trend over time (regr_slope/intercept, anchored to a literal
    epoch so Σx² stays well-conditioned), then flag events whose
    RESIDUAL z-score exceeds 3 — catches points that are anomalous
    relative to the trend, which a raw z-score misses when the mean
    drifts.  Two aggregates + two broadcast join-backs of 5-row
    model tables; the fact table is scanned twice, shuffled never."""
    e = load_table(spark, sf_dir, "events")
    from ..functions import epoch_us

    x = e.select(
        "event_type",
        "value",
        "event_id",
        (
            (epoch_us(F.col("ts")) - F.lit(1640995200000000)).cast(
                "double"
            )
            / 86400000000.0
        ).alias("day_x"),
    )
    fit = x.groupBy("event_type").agg(
        F.regr_slope("value", "day_x").alias("sl"),
        F.regr_intercept("value", "day_x").alias("ic"),
    )
    resid = x.join(F.broadcast(fit), "event_type").select(
        "event_type",
        "event_id",
        (
            F.col("value") - (F.col("sl") * F.col("day_x") + F.col("ic"))
        ).alias("r"),
    )
    stats = resid.groupBy("event_type").agg(
        F.avg("r").alias("mu"), F.stddev_samp("r").alias("sd")
    )
    z = (F.col("r") - F.col("mu")) / F.col("sd")
    return (
        resid.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 3.0)
        .select("event_type", "event_id", F.round(z, 4).alias("z"))
    )


@query(
    "rolling_zscore_events",
    """
    SELECT event_id, user_id,
           COUNT(value) OVER w AS n_window,
           ROUND((value - AVG(value) OVER w)
                 / NULLIF(STDDEV_SAMP(value) OVER w, 0), 4) AS z
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    """,
)
def rolling_zscore_q(spark, sf_dir):
    """Rolling-window anomaly score (SURVEY.md §2.14): each event's
    value standardized against the user's trailing 20 events
    (exclusive of self — no leakage).  One shuffle on user_id + one
    per-partition sort; the frame is ROWS-bounded so state per row is
    O(20) regardless of history length.  First events have
    n_window < 2 → NULL z on both engines."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    sd = F.stddev_samp("value").over(w)
    return e.select(
        "event_id",
        "user_id",
        F.count("value").over(w).alias("n_window"),
        F.round(
            (F.col("value") - F.avg("value").over(w))
            / F.when(sd != 0, sd),
            4,
        ).alias("z"),
    )


@query(
    "cms_token_counts_docs",
    r"""
    WITH t AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      FROM documents WHERE trim(text) <> ''
    ), tt AS (
      SELECT tok FROM t WHERE tok <> ''
    ), truec AS (
      SELECT tok, COUNT(*) AS true_cnt FROM tt GROUP BY tok
    ), cells AS (
      SELECT tok, true_cnt, i,
             CAST('0x' || substr(md5(tok || '@' || i), 1, 15) AS BIGINT)
                 % 32 AS col
      FROM truec, range(0, 3) r(i)
    ), grid AS (
      SELECT i AS row, col, CAST(SUM(true_cnt) AS BIGINT) AS cnt
      FROM cells GROUP BY 1, 2
    )
    SELECT c.tok, ANY_VALUE(c.true_cnt) AS true_cnt,
           MIN(g.cnt) AS est
    FROM cells c JOIN grid g ON g.row = c.i AND g.col = c.col
    GROUP BY c.tok
    """,
)
def cms_tokens_q(spark, sf_dir):
    """Portable Count-Min Sketch (functions.cms): corpus token
    frequencies estimated from a deliberately small 3×32 grid so
    collisions occur and the overcounts themselves are hash-verified
    against the DuckDB twin (est ≥ true_cnt always; equality when a
    key owns a collision-free cell).  Build = explode + capped
    (≤ d·w group) aggregate; probe = one packed-map broadcast +
    least() over d lookups, map-only."""
    from ..functions.cms import cms_build, cms_estimate

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("tok")
    ).filter(F.col("tok") != "")
    truec = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_cnt"))
    sketch = cms_build(toks, "tok", d=3, w=32)
    return cms_estimate(truec, "tok", sketch, d=3, w=32).select(
        "tok", "true_cnt", "est"
    )


@query(
    "python_datasource_numbers",
    """
    WITH v AS (
      SELECT i, CAST('0x' || substr(md5('row:' || i), 1, 15) AS BIGINT)
                    % 1000 AS value
      FROM range(0, 2000) t(i)
    )
    SELECT value % 5 AS bucket,
           COUNT(*) AS n,
           CAST(SUM(value) AS BIGINT) AS sum_value,
           MIN(i) AS min_i, MAX(i) AS max_i
    FROM v GROUP BY 1
    """,
)
def python_datasource_q(spark, sf_dir):
    """Spark 4 Python Data Source API
    (sources.python_datasource.DeterministicNumbersDataSource): a
    pure-Python ``format()`` source with real partition planning — 8
    parallel splits, one task each, rows streamed from a per-task
    generator.  The generated stream is md5-deterministic, so the
    aggregate over it hash-matches the DuckDB twin — proving the
    custom source feeds Catalyst like any built-in."""
    from ..sources.python_datasource import register

    register(spark)
    df = (
        spark.read.format("deterministic_numbers")
        .option("n", "2000")
        .option("numPartitions", "8")
        .load()
    )
    return df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_value"),
        F.min("i").alias("min_i"),
        F.max("i").alias("max_i"),
    )


@query(
    "sql_udf_revenue_orders",
    """
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem GROUP BY l_returnflag
    """,
)
def sql_udf_q(spark, sf_dir):
    """ANSI SQL scalar UDF (Spark 4 ``CREATE FUNCTION ... RETURN``):
    the discounted-price formula declared once as a catalog function
    and reused by name.  Catalyst inlines the body into the aggregate
    expression — whole-stage codegen, zero Python boundary — so the
    oracle is simply the inlined SQL."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1.0 - d)"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               ROUND(SUM(disc_price(l_extendedprice, l_discount)), 2)
                   AS revenue,
               COUNT(*) AS n_items
        FROM lineitem GROUP BY l_returnflag
        """
    )


@query(
    "udtf_table_arg_docs",
    r"""
    SELECT doc_id,
           CAST(len(list_distinct(w)) AS INTEGER) AS n_unique,
           CAST(len(w) AS INTEGER) AS n_tokens
    FROM (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE string_split_regex(lower(trim(text)), '\s+')
             END AS w
      FROM documents
    ) t
    """,
)
def udtf_table_arg_q(spark, sf_dir):
    """Spark 4 UDTF with a TABLE() argument: the function consumes a
    relation (not scalar columns) row-by-row and emits derived rows —
    the polymorphic-operator extension surface.  Kept deliberately
    simple (per-doc unique/total token counts) so the DuckDB twin is
    exact; the point under test is the TABLE-argument calling
    convention itself."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, n_unique int, n_tokens int", useArrow=True)
    class TokenStats:
        def eval(self, row):
            words = (row.text or "").lower().split()
            yield row.doc_id, len(set(words)), len(words)

    spark.udtf.register("token_stats_udtf", TokenStats)
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        "SELECT * FROM token_stats_udtf(TABLE(SELECT doc_id, text FROM documents))"
    )


@query(
    "collated_group_part_types",
    """
    WITH m AS (
      SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_type)
                  ELSE p_type END AS t
      FROM part
    )
    SELECT min(t) AS rep, COUNT(*) AS n
    FROM m GROUP BY lower(t)
    """,
)
def collated_group_q(spark, sf_dir):
    """Spark 4 collation-aware grouping (SURVEY.md §2.14): a
    mixed-case column grouped under ``COLLATE UTF8_LCASE`` — the
    engine folds case inside the grouping key, no manual lower()
    in the pipeline.  The deterministic representative is the binary
    min of the raw values; the oracle folds with lower(), which
    coincides with UTF8_LCASE on this ASCII domain."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH m AS (
          SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_type)
                      ELSE p_type END AS t
          FROM part
        )
        SELECT min(t) AS rep, COUNT(*) AS n
        FROM m GROUP BY t COLLATE UTF8_LCASE
        """
    )


@query(
    "nullsafe_join_order_priorities",
    """
    WITH a AS (
      SELECT NULLIF(o_orderpriority, '3-MEDIUM') AS k, COUNT(*) AS n_f
      FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
    ), b AS (
      SELECT NULLIF(o_orderpriority, '3-MEDIUM') AS k, COUNT(*) AS n_o
      FROM orders WHERE o_orderstatus = 'O' GROUP BY 1
    )
    SELECT a.k, a.n_f, b.n_o
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def nullsafe_join_q(spark, sf_dir):
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): NULL
    keys match each other, so the NULLIF-suppressed group survives
    the join — the semantics every naive ``=`` join silently drops.
    Spark plans EqualNullSafe as a true hash-join key (no BNLJ),
    pinned in test_sql_surface."""
    o = load_table(spark, sf_dir, "orders")
    k = F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")).alias("k")
    a = (
        o.filter(F.col("o_orderstatus") == "F")
        .groupBy(k)
        .agg(F.count(F.lit(1)).alias("n_f"))
    )
    b = (
        o.filter(F.col("o_orderstatus") == "O")
        .groupBy(k)
        .agg(F.count(F.lit(1)).alias("n_o"))
    )
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(
        a["k"].alias("k"), "n_f", "n_o"
    )


@query(
    "xml_roundtrip_events",
    """
    SELECT event_id, event_type AS event_type_x, value AS value_x
    FROM events
    """,
)
def xml_roundtrip_q(spark, sf_dir):
    """XML scalar family (to_xml / xpath_string / xpath_double —
    Spark 4): each event serialized to an XML fragment and parsed
    back; the gate asserts the round-trip is the identity (the oracle
    is simply the base columns).  Java's Double.toString E-notation
    re-parses exactly, so value_x is bit-identical."""
    e = load_table(spark, sf_dir, "events")
    xml = F.expr(
        "to_xml(named_struct('t', event_type, 'v', value))"
    ).alias("_x")
    return e.select("event_id", xml).select(
        "event_id",
        F.expr("xpath_string(_x, 'ROW/t')").alias("event_type_x"),
        F.expr("CAST(xpath_string(_x, 'ROW/v') AS DOUBLE)").alias("value_x"),
    )


@query("asof_join_cogroup_30m")
def asof_cogroup_q(spark, sf_dir):
    """Cogrouped-pandas execution path for the tolerance as-of join
    (operators.joins.asof_join_cogroup): one co-partitioned shuffle →
    per-user pandas.merge_asof — same semantics as the window-based
    asof_join, so it shares `asof_join_tolerance_30m`'s oracle
    verbatim.  The cogroup surface is what custom per-key alignment
    logic uses when expressions run out."""
    from ..operators.joins import asof_join_cogroup

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    return asof_join_cogroup(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        value_cols=["click_ts"],
        tolerance_us=30 * 60 * 1_000_000,
    )


O["asof_join_cogroup_30m"] = O["asof_join_tolerance_30m"]


@query(
    "epoch_shuffle_docs",
    """
    WITH k AS (
      SELECT doc_id,
             CAST('0x' || substr(md5('42:' || doc_id), 1, 15) AS BIGINT)
                 AS sk
      FROM documents
    )
    SELECT doc_id, CAST(NTILE(16) OVER (ORDER BY sk, doc_id) AS INT) AS shard
    FROM k
    """,
)
def epoch_shuffle_q(spark, sf_dir):
    """Deterministic epoch shuffle (operators.sampling.epoch_shuffle):
    seed-42 md5 permutation of the corpus split into 16 equal training
    shards — replayable across reruns/retries, new seed ⇒ new
    permutation.  Uses the distributed exact-NTILE construction (no
    single-partition sort); the oracle IS a bare NTILE over the same
    portable key, proving the two-level ranking matches it
    bit-for-bit."""
    from ..operators.sampling import epoch_shuffle

    d = load_table(spark, sf_dir, "documents")
    return epoch_shuffle(d, "doc_id", seed=42, n_shards=16).select(
        "doc_id", "shard"
    )


@query(
    "rescue_columns_events",
    """
    SELECT event_id,
           value,
           TRY_CAST(event_type AS INTEGER) AS event_type,
           CAST(NULL AS INTEGER) AS quality_tier,
           '{"user_id":"' || CAST(user_id AS VARCHAR) || '"}' AS _rescued
    FROM events
    """,
)
def rescue_columns_q(spark, sf_dir):
    """Schema-drift quarantine (transforms.rescue_columns, the
    `_rescued_data` pattern): the events feed projected onto a
    contract that (a) expects a column the source doesn't ship
    (quality_tier → typed NULL), (b) expects event_type as INT
    (try_cast fails → NULL, a data-quality signal), and (c) never saw
    user_id — which survives in the deterministic rescued-JSON column
    instead of being dropped.  Map-only, no UDF; the oracle rebuilds
    the same contract with TRY_CAST + string concat."""
    from ..transforms import rescue_columns

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    return rescue_columns(
        e,
        [
            ("event_id", "bigint"),
            ("value", "double"),
            ("event_type", "int"),
            ("quality_tier", "int"),
        ],
    )


@query(
    "weighted_median_lineitem",
    """
    WITH staged AS (
      SELECT l_returnflag AS g, l_extendedprice AS v,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag) AS tot
      FROM lineitem
    )
    SELECT g AS l_returnflag, MIN(v) AS w_median,
           CAST(ANY_VALUE(tot) AS BIGINT) AS total_weight
    FROM staged WHERE 2 * cumw >= tot GROUP BY g
    """,
)
def weighted_median_q(spark, sf_dir):
    """Exact quantity-weighted median price per return flag
    (operators.profile.weighted_median): integer-exact cumulative
    weights, so the median cut has no float ambiguity; one shuffle +
    in-partition sort, qualifying-prefix min instead of per-group
    collect."""
    from ..operators.profile import weighted_median

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "_tb",
        F.col("l_orderkey") * 10 + F.col("l_linenumber"),
    )
    return weighted_median(
        li, "l_returnflag", "l_extendedprice", "l_quantity", "_tb"
    )


@query(
    "mode_priority_by_status",
    """
    WITH counted AS (
      SELECT o_orderstatus AS g, o_orderpriority AS v, COUNT(*) AS c
      FROM orders GROUP BY 1, 2
    ), ranked AS (
      SELECT g, v, c,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY c DESC, v ASC) AS rn
      FROM counted
    )
    SELECT g AS o_orderstatus, v AS mode_value, c AS mode_count
    FROM ranked WHERE rn = 1
    """,
)
def mode_q(spark, sf_dir):
    """Deterministic per-group mode (operators.profile.
    deterministic_mode): modal order priority per status with a total
    (count desc, value asc) tie order — unlike SQL ``mode()``, which
    may break ties arbitrarily and is therefore unusable for
    reproducible pipelines.  Two partial-aggregated shuffles."""
    from ..operators.profile import deterministic_mode

    o = load_table(spark, sf_dir, "orders")
    return deterministic_mode(o, "o_orderstatus", "o_orderpriority")


@query(
    "bm25_score_docs",
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
    ), sc AS (
      SELECT tf.doc_id, COUNT(*) AS n_hits,
             ROUND(SUM(
               LN(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * tf.n_tokens / g.avg_len))
             ), 6) AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN g GROUP BY 1
    )
    SELECT b2.doc_id AS id, b2.n_tokens,
           COALESCE(sc.n_hits, 0) AS n_hits,
           COALESCE(sc.score, 0.0) AS score
    FROM b2 LEFT JOIN sc ON b2.doc_id = sc.doc_id
    """,
)
def bm25_q(spark, sf_dir):
    """Okapi BM25 relevance (operators.text.bm25_score) of every
    document to the query {spark, stream, window} — the retrieval
    scorer behind targeted training-data selection.  Query-term df
    and corpus avg length are the only global state (both scalar-
    sized, broadcast); non-query tokens never shuffle.  avg_len is
    exact cross-engine (integer-valued double sums), so the score
    arithmetic replays in SQL to the rounded digit."""
    from ..operators.text import bm25_score

    d = load_table(spark, sf_dir, "documents")
    return bm25_score(d, ["spark", "stream", "window"], "doc_id", "text")


@query(
    "winsorized_mean_orders",
    """
    WITH cuts AS (
      SELECT o_orderstatus AS g,
             quantile_cont(o_totalprice, 0.05) AS lo_c,
             quantile_cont(o_totalprice, 0.95) AS hi_c
      FROM orders GROUP BY 1
    )
    SELECT g AS o_orderstatus,
           ROUND(ANY_VALUE(lo_c), 6) AS lo_cut,
           ROUND(ANY_VALUE(hi_c), 6) AS hi_cut,
           ROUND(AVG(greatest(least(o_totalprice, hi_c), lo_c)), 4) AS w_mean,
           COUNT(*) AS n
    FROM orders JOIN cuts ON o_orderstatus = cuts.g
    GROUP BY g
    """,
)
def winsorized_mean_q(spark, sf_dir):
    """Winsorized mean order value per status
    (operators.profile.winsorized_mean): exact type-7 interpolated
    percentile cuts (Spark ``percentile`` ≡ DuckDB ``quantile_cont``)
    + map-only clip — the outlier-robust location estimate.  Cuts
    join back broadcast; at 100 TB the documented swap is
    approx_percentile with the identical downstream plan."""
    from ..operators.profile import winsorized_mean

    o = load_table(spark, sf_dir, "orders")
    return winsorized_mean(o, "o_orderstatus", "o_totalprice")


@query(
    "minmax_normalize_events",
    """
    SELECT event_id, event_type,
           ROUND(CASE WHEN mx > mn THEN (value - mn) / (mx - mn)
                      ELSE 0.5 END, 6) AS v_norm
    FROM (
      SELECT event_id, event_type, value,
             MIN(value) OVER (PARTITION BY event_type) AS mn,
             MAX(value) OVER (PARTITION BY event_type) AS mx
      FROM events
    ) t
    """,
)
def minmax_normalize_q(spark, sf_dir):
    """Per-group min-max feature scaling
    (operators.profile.minmax_normalize): one unordered window —
    min/max are order-insensitive exact picks, so the normalized
    value is pure deterministic arithmetic on both engines."""
    from ..operators.profile import minmax_normalize

    e = load_table(spark, sf_dir, "events")
    return minmax_normalize(e, "event_type", "value").select(
        "event_id", "event_type", "v_norm"
    )


@query(
    "ohlc_bars_events",
    """
    WITH k AS (
      SELECT event_type, date_trunc('hour', ts) AS bar_hour, value,
             lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || ':' ||
             lpad(CAST(event_id AS VARCHAR), 12, '0') AS sel
      FROM events
    )
    SELECT event_type, bar_hour,
           arg_min(value, sel) AS open,
           MAX(value)          AS high,
           MIN(value)          AS low,
           arg_max(value, sel) AS close,
           COUNT(*)            AS n_events
    FROM k GROUP BY 1, 2
    """,
)
def ohlc_q(spark, sf_dir):
    """OHLC bars (open-high-low-close) per event type per hour — the
    canonical time-series downsample.  Open/close are argmin/argmax
    over a zero-padded ``epoch_us:event_id`` string selector: one
    scalar key whose lexicographic order IS the (time, id) total
    order, portable to any engine (composite argmax selectors are
    not).  Single hash-agg shuffle, no window sort."""
    e = load_table(spark, sf_dir, "events")
    sel = F.concat(
        F.lpad(epoch_us(F.col("ts")).cast("string"), 20, "0"),
        F.lit(":"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        e.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("bar_hour"),
            "value",
            sel.alias("sel"),
        )
        .groupBy("event_type", "bar_hour")
        .agg(
            F.expr("min_by(value, sel)").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.expr("max_by(value, sel)").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "twap_events_per_user",
    """
    WITH d AS (
      SELECT user_id, value,
             lead(epoch_us(ts)) OVER w - epoch_us(ts) AS dt_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(SUM(dt_us) AS BIGINT) AS span_us,
           ROUND(SUM(value * dt_us) / SUM(dt_us), 4) AS twap,
           COUNT(*) AS n_intervals
    FROM d WHERE dt_us IS NOT NULL AND dt_us > 0
    GROUP BY user_id
    """,
)
def twap_q(spark, sf_dir):
    """Time-weighted average value per user (TWAP): each observation
    weighted by how long it was current (exact integer µs from
    ``lead``), zero-length intervals dropped — the estimator that is
    robust to irregular sampling where a plain AVG oversamples bursts.
    One key shuffle + in-partition sort, then a hash aggregate."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = epoch_us(F.col("ts"))
    d = e.select(
        "user_id",
        "value",
        (F.lead(us).over(w) - us).alias("dt_us"),
    ).filter(F.col("dt_us").isNotNull() & (F.col("dt_us") > 0))
    return d.groupBy("user_id").agg(
        F.sum("dt_us").cast("bigint").alias("span_us"),
        F.round(
            F.sum(F.col("value") * F.col("dt_us")) / F.sum("dt_us"), 4
        ).alias("twap"),
        F.count(F.lit(1)).alias("n_intervals"),
    )


@query(
    "event_transition_matrix",
    """
    WITH t AS (
      SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ), c AS (
      SELECT event_type, next_type, COUNT(*) AS n
      FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT event_type, next_type, n,
           ROUND(n / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE),
                 6) AS p
    FROM c
    """,
)
def event_transitions_q(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current) — the path-analysis
    primitive behind funnels and next-action models.  One key shuffle
    + sort for the lead, then the |types|²-row matrix normalizes with
    a tiny window; the probability is an exact integer ratio, so it
    reproduces to the rounded digit in any engine."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    c = t.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wt = Window.partitionBy("event_type")
    return c.select(
        "event_type",
        "next_type",
        "n",
        F.round(
            F.col("n") / F.sum("n").over(wt).cast("double"), 6
        ).alias("p"),
    )


@query(
    "pareto_frontier_orders",
    """
    WITH best AS (
      SELECT o_totalprice AS p, MIN(o_orderdate) AS d
      FROM orders GROUP BY 1
    ), cand AS (
      SELECT o.o_totalprice AS p, o.o_orderdate AS d, COUNT(*) AS n_rows
      FROM orders o JOIN best b
        ON o.o_totalprice = b.p AND o.o_orderdate = b.d
      GROUP BY 1, 2
    ), r AS (
      SELECT p, d, n_rows,
             MIN(d) OVER (ORDER BY p DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS cm
      FROM cand
    )
    SELECT p AS o_totalprice, d AS o_orderdate, n_rows
    FROM r WHERE cm IS NULL OR d < cm
    """,
)
def pareto_q(spark, sf_dir):
    """2-D Pareto frontier (operators.sampling.pareto_frontier_2d):
    orders undominated on (totalprice max, orderdate min) — the
    multi-objective selection primitive ("best value, earliest"),
    O(n log n) via per-coordinate best + a bucket-partitioned
    exclusive running minimum (exact_ntile's two-level construction —
    no single-partition sort, no O(n²) dominance join).  The oracle
    states the frontier independently with one ordered window; the
    unit test additionally checks the brute-force NOT EXISTS
    dominance definition."""
    from ..operators.sampling import pareto_frontier_2d

    o = load_table(spark, sf_dir, "orders")
    return pareto_frontier_2d(o, "o_totalprice", "o_orderdate")


@query(
    "psi_drift_orders",
    """
    WITH counted AS (
      SELECT o_orderstatus AS s,
             (CASE WHEN o_totalprice > 100000.0 THEN 1 ELSE 0 END +
              CASE WHEN o_totalprice > 200000.0 THEN 1 ELSE 0 END +
              CASE WHEN o_totalprice > 300000.0 THEN 1 ELSE 0 END +
              CASE WHEN o_totalprice > 400000.0 THEN 1 ELSE 0 END) AS bin,
             COUNT(*) AS c
      FROM orders GROUP BY 1, 2
    ), totals AS (
      SELECT s, CAST(SUM(c) AS BIGINT) AS tot FROM counted GROUP BY 1
    ), spine AS (
      SELECT s, tot, i AS bin FROM totals, range(0, 5) t(i)
    ), base AS (
      SELECT bin, c AS bc FROM counted WHERE s = 'F'
    ), btot AS (
      SELECT tot AS btot FROM totals WHERE s = 'F'
    ), j AS (
      SELECT spine.s, spine.tot,
             (COALESCE(c.c, 0) + 0.5) / (spine.tot + 2.5) AS p,
             (COALESCE(b.bc, 0) + 0.5) / (btot.btot + 2.5) AS q
      FROM spine
      LEFT JOIN counted c ON c.s = spine.s AND c.bin = spine.bin
      LEFT JOIN base b ON b.bin = spine.bin
      CROSS JOIN btot
    )
    SELECT s AS o_orderstatus,
           ROUND(SUM((p - q) * LN(p / q)), 6) AS psi,
           ANY_VALUE(tot) AS n_rows
    FROM j GROUP BY 1
    """,
)
def psi_drift_q(spark, sf_dir):
    """Population Stability Index (operators.quality.psi_drift): each
    order-status slice's price distribution scored against the 'F'
    baseline over literal bin edges — the standard "did this batch's
    distribution move" monitoring gate (0.1/0.25 thresholds).
    Laplace-smoothed integer-ratio probabilities make the doubles
    engine-identical; one map-side-partial (slice, bin) aggregate."""
    from ..operators.quality import psi_drift

    o = load_table(spark, sf_dir, "orders")
    return psi_drift(
        o,
        "o_orderstatus",
        "o_totalprice",
        "F",
        [100000.0, 200000.0, 300000.0, 400000.0],
    )


@query("ann_recall_lsh_vs_exact", None)  # oracle attached below (composed)
def ann_recall_q(spark, sf_dir):
    """ANN evaluation harness: recall@10 of the hyperplane-LSH
    retriever against the exact cosine top-10 for the same query
    vector — the measurement every approximate index must ship with
    before anyone trusts it at corpus scale.  Both retrievers are the
    registered operators; the overlap is a tiny id join, so the
    eval's cost is the two retrievals themselves."""
    from ..operators.similarity import cosine_topk, cosine_topk_lsh

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ex = cosine_topk(emb, qvec, k=10, round_to=4).select("vec_id")
    ls = cosine_topk_lsh(emb, qvec, k=10, num_planes=6).select("vec_id")
    ex_n = ex.agg(F.count(F.lit(1)).alias("n_exact"))
    ls_n = ls.agg(F.count(F.lit(1)).alias("n_lsh"))
    ov_n = ex.join(ls, "vec_id").agg(F.count(F.lit(1)).alias("n_overlap"))
    return (
        ex_n.crossJoin(ls_n)
        .crossJoin(ov_n)
        .select(
            F.lit(10).alias("k"),
            "n_exact",
            "n_lsh",
            "n_overlap",
            F.round(F.col("n_overlap") / 10.0, 6).alias("recall"),
        )
    )


def _ann_recall_oracle() -> str:
    """Compose the exact-top-10 SQL with the GENERATED lsh_topk
    oracle (nested as a CTE-bearing subquery) and count the overlap —
    the recall number itself is oracle-checked, not just the two
    retrievals independently."""
    lsh_sql = O["lsh_topk_embeddings"]
    return f"""
    WITH exact10 AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               ROUND(list_cosine_similarity(
                       list_transform(embedding, x -> CAST(x AS DOUBLE)),
                       (SELECT list_transform(embedding,
                                              x -> CAST(x AS DOUBLE))
                        FROM embeddings WHERE vec_id = 0)), 4) AS cosine
        FROM embeddings
        ORDER BY cosine DESC, vec_id ASC
        LIMIT 10
      )
    ), lsh10 AS (
      SELECT vec_id FROM ({lsh_sql}) t
    )
    SELECT 10 AS k,
           (SELECT COUNT(*) FROM exact10) AS n_exact,
           (SELECT COUNT(*) FROM lsh10) AS n_lsh,
           (SELECT COUNT(*) FROM exact10 JOIN lsh10 USING (vec_id))
               AS n_overlap,
           ROUND((SELECT COUNT(*) FROM exact10 JOIN lsh10 USING (vec_id))
                 / 10.0, 6) AS recall
    """


O["ann_recall_lsh_vs_exact"] = _ann_recall_oracle()


def _ndcg_discounts(k: int = 10) -> list[float]:
    """Positional DCG discounts 1/log2(pos+1) as shared literals:
    folding them in as constants (not engine log2 calls) removes the
    one libm-dependent op from the eval, so both engines multiply the
    IDENTICAL doubles and the scaled-integer sums are bit-equal."""
    import math

    return [1.0 / math.log2(i + 1) for i in range(1, k + 1)]


def _ndcg_idcg_scaled(k: int = 10) -> int:
    """IDCG with graded relevance (k+1-i), scaled by 1e6 and summed as
    exact integers (per-term HALF_UP like both engines' ROUND)."""
    import math

    d = _ndcg_discounts(k)
    return sum(
        int(math.floor((k - i) * d[i] * 1_000_000 + 0.5)) for i in range(k)
    )


@query("ann_ndcg_lsh_vs_exact", None)  # oracle attached below (composed)
def ann_ndcg_q(spark, sf_dir):
    """ANN ranking-quality eval: nDCG@10 of the hyperplane-LSH
    retriever against the exact cosine ranking — recall@k says WHAT
    was found, nDCG says whether it surfaced in the right ORDER, the
    second number every approximate index ships with.  Relevance is
    graded by exact rank (11−rank, 0 for misses); per-position terms
    are rel × literal discount, scaled to exact integers before the
    sum so the aggregate is order-free and engine-identical.  Cost is
    the two ≤10-row retrievals; every window here ranks ≤10 rows
    (bounded, audited)."""
    from ..operators.similarity import cosine_topk, cosine_topk_lsh

    k = 10
    disc = _ndcg_discounts(k)
    idcg_scaled = _ndcg_idcg_scaled(k)
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    w = Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    exact = (
        cosine_topk(emb, qvec, k=k, round_to=4)
        .withColumn("erank", F.row_number().over(w))
        .select("vec_id", (F.lit(k + 1) - F.col("erank")).alias("rel"))
    )
    lsh = (
        cosine_topk_lsh(emb, qvec, k=k, num_planes=6)
        .withColumn("pos", F.row_number().over(w))
        .select("vec_id", "pos")
    )
    darr = F.array(*[F.lit(float(x)) for x in disc])
    scored = lsh.join(exact, "vec_id", "left").select(
        "vec_id",
        F.round(
            F.coalesce("rel", F.lit(0))
            * F.element_at(darr, F.col("pos"))
            * F.lit(1_000_000.0)
        )
        .cast("bigint")
        .alias("term"),
        F.when(F.col("rel").isNotNull(), 1).otherwise(0).alias("hit"),
    )
    agg = scored.agg(
        F.count(F.lit(1)).alias("n_lsh"),
        F.sum("hit").cast("bigint").alias("n_overlap"),
        F.sum("term").alias("dcg_s"),
    )
    return agg.select(
        F.lit(k).alias("k"),
        "n_lsh",
        "n_overlap",
        F.round(F.col("dcg_s") / F.lit(1_000_000.0), 6).alias("dcg"),
        F.round(F.lit(idcg_scaled) / F.lit(1_000_000.0), 6).alias("idcg"),
        F.round(
            F.col("dcg_s").cast("double") / F.lit(float(idcg_scaled)), 6
        ).alias("ndcg"),
    )


def _ann_ndcg_oracle() -> str:
    """Same composition as the recall oracle, plus the rank windows
    and the scaled-integer DCG fold — discounts and the IDCG constant
    are the SAME Python-generated literals the Spark side folds in."""
    k = 10
    disc = _ndcg_discounts(k)
    idcg_scaled = _ndcg_idcg_scaled(k)
    lsh_sql = O["lsh_topk_embeddings"]
    dcase = " ".join(
        f"WHEN {i + 1} THEN {float(d)!r}" for i, d in enumerate(disc)
    )
    return f"""
    WITH exact10 AS (
      SELECT vec_id,
             {k + 1} - ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC)
               AS rel
      FROM (
        SELECT vec_id,
               ROUND(list_cosine_similarity(
                       list_transform(embedding, x -> CAST(x AS DOUBLE)),
                       (SELECT list_transform(embedding,
                                              x -> CAST(x AS DOUBLE))
                        FROM embeddings WHERE vec_id = 0)), 4) AS cosine
        FROM embeddings
        ORDER BY cosine DESC, vec_id ASC
        LIMIT {k}
      )
    ), lsh10 AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS pos
      FROM ({lsh_sql}) t
    ), scored AS (
      SELECT l.vec_id,
             CAST(ROUND(COALESCE(e.rel, 0)
                        * (CASE l.pos {dcase} END)
                        * 1000000.0) AS BIGINT) AS term,
             CASE WHEN e.rel IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM lsh10 l LEFT JOIN exact10 e ON l.vec_id = e.vec_id
    )
    SELECT {k} AS k,
           COUNT(*) AS n_lsh,
           CAST(SUM(hit) AS BIGINT) AS n_overlap,
           ROUND(SUM(term) / 1000000.0, 6) AS dcg,
           ROUND({idcg_scaled} / 1000000.0, 6) AS idcg,
           ROUND(CAST(SUM(term) AS DOUBLE) / {float(idcg_scaled)!r}, 6)
             AS ndcg
    FROM scored
    """


O["ann_ndcg_lsh_vs_exact"] = _ann_ndcg_oracle()


@query("ann_mrr_lsh_vs_exact", None)  # oracle attached below (composed)
def ann_mrr_q(spark, sf_dir):
    """ANN eval, reciprocal-rank flavor: MRR@10 of the hyperplane-LSH
    retriever against the exact cosine top-10 — recall says WHAT was
    found, nDCG grades the whole ordering, RR grades how FAST the
    first true hit surfaces (the metric retrieval-augmented pipelines
    quote when only the top result feeds the model).  first_hit_pos =
    0 and rr = 0 when nothing in the exact set is retrieved.  The
    rank window orders a ≤10-row frame (bounded, audited)."""
    from ..operators.similarity import cosine_topk, cosine_topk_lsh

    k = 10
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ex = cosine_topk(emb, qvec, k=k, round_to=4).select("vec_id")
    w = Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    lsh = (
        cosine_topk_lsh(emb, qvec, k=k, num_planes=6)
        .withColumn("pos", F.row_number().over(w))
        .select("vec_id", "pos")
    )
    first = lsh.join(ex, "vec_id").agg(F.min("pos").alias("p"))
    return first.select(
        F.lit(k).alias("k"),
        F.coalesce("p", F.lit(0)).cast("int").alias("first_hit_pos"),
        F.round(
            F.coalesce(F.lit(1.0) / F.col("p"), F.lit(0.0)), 6
        ).alias("rr"),
    )


def _ann_mrr_oracle() -> str:
    """Exact-top-10 ⨝ ranked LSH frame, MIN over hit positions —
    the same composed-oracle recipe as recall/nDCG."""
    lsh_sql = O["lsh_topk_embeddings"]
    return f"""
    WITH exact10 AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               ROUND(list_cosine_similarity(
                       list_transform(embedding, x -> CAST(x AS DOUBLE)),
                       (SELECT list_transform(embedding,
                                              x -> CAST(x AS DOUBLE))
                        FROM embeddings WHERE vec_id = 0)), 4) AS cosine
        FROM embeddings
        ORDER BY cosine DESC, vec_id ASC
        LIMIT 10
      )
    ), lsh10 AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS pos
      FROM ({lsh_sql}) t
    ), hit AS (
      SELECT MIN(pos) AS p FROM lsh10 JOIN exact10 USING (vec_id)
    )
    SELECT 10 AS k,
           CAST(COALESCE(p, 0) AS INTEGER) AS first_hit_pos,
           ROUND(COALESCE(1.0 / p, 0.0), 6) AS rr
    FROM hit
    """


O["ann_mrr_lsh_vs_exact"] = _ann_mrr_oracle()


@query(
    "hll_rolling_7d_users",
    r"""
    WITH e AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               AS BIGINT) AS hv
      FROM events
    ), br AS (
      SELECT day, hv % 256 AS bucket, hv // 256 AS sfx FROM e
    ), reg AS (
      SELECT day, bucket,
             MAX(CASE WHEN sfx = 0 THEN 53
                      ELSE 52 - length(bin(sfx)) + 1 END) AS reg
      FROM br GROUP BY day, bucket
    ), days AS (
      SELECT DISTINCT day FROM reg
    ), merged AS (
      SELECT d.day, r.bucket, MAX(r.reg) AS reg
      FROM days d JOIN reg r
        ON r.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
      GROUP BY d.day, r.bucket
    ), s AS (
      SELECT day, COUNT(*) AS nz,
             SUM(1::BIGINT << (53 - reg)) AS cpart
      FROM merged GROUP BY day
    ), e2 AS (
      SELECT day, CAST(256 - nz AS BIGINT) AS zero_registers,
             CAST(0.7213 AS DOUBLE)
               / (CAST(1.0 AS DOUBLE)
                  + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))
               * CAST(256.0 AS DOUBLE) * CAST(256.0 AS DOUBLE)
               * CAST(9007199254740992.0 AS DOUBLE)
               / CAST(cpart + (256 - nz) * (1::BIGINT << 53) AS DOUBLE)
                 AS raw
      FROM s
    ), est AS (
      SELECT day, zero_registers,
             ROUND(CASE WHEN raw <= CAST(640.0 AS DOUBLE)
                         AND zero_registers > 0
                        THEN CAST(256.0 AS DOUBLE)
                             * LN(CAST(256.0 AS DOUBLE)
                                  / CAST(zero_registers AS DOUBLE))
                        ELSE raw END, 2) AS est_7d
      FROM e2
    ), ex AS (
      SELECT d.day,
             CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS exact_7d
      FROM days d JOIN (SELECT CAST(ts AS DATE) AS day, user_id
                        FROM events) ev
        ON ev.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
      GROUP BY d.day
    )
    SELECT day, exact_7d, est_7d, zero_registers
    FROM est JOIN ex USING (day) ORDER BY day
    """,
)
def hll_rolling_q(spark, sf_dir):
    """ROLLING-WINDOW distinct users (trailing 7 days, per day) via
    mergeable HLL register state — the sketch-mergeability payoff:
    the daily register frames (≤256 rows/day) fold into each day's
    window with one MAX per (day, bucket); the raw event stream is
    touched exactly once, and at 100 TB the rolling merge costs
    days×256 rows however many events each window spans.  The exact
    column re-scans events per window (the 7× fan-out join the sketch
    exists to avoid) purely as the gate's accuracy report."""
    from ..functions.hll import hll_build, hll_estimate

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(F.to_date(F.col("ts")).alias("day"), "user_id")
    reg = hll_build(base, "user_id", b=8, group_cols=("day",))
    days = reg.select("day").distinct()
    merged = (
        days.alias("d")
        .join(
            reg.alias("r"),
            F.col("r.day").between(
                F.date_sub(F.col("d.day"), 6), F.col("d.day")
            ),
        )
        .groupBy(F.col("d.day").alias("day"), F.col("r.bucket"))
        .agg(F.max("r.reg").alias("reg"))
    )
    est = hll_estimate(merged, b=8, group_cols=("day",)).select(
        "day", "zero_registers", F.col("est_distinct").alias("est_7d")
    )
    exact = (
        days.alias("d")
        .join(
            base.alias("e"),
            F.col("e.day").between(
                F.date_sub(F.col("d.day"), 6), F.col("d.day")
            ),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.countDistinct("e.user_id").alias("exact_7d"))
    )
    return (
        est.join(exact, "day")
        .select("day", "exact_7d", "est_7d", "zero_registers")
        .orderBy("day")
    )



@query(
    "gini_user_activity_events",
    """
    WITH x AS (
      SELECT user_id, COUNT(*) AS x FROM events GROUP BY user_id
    ), r AS (
      SELECT user_id, x,
             ROW_NUMBER() OVER (ORDER BY x, user_id) AS rnk
      FROM x
    ), s AS (
      SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(rnk * x) AS BIGINT) AS srx
      FROM r
    )
    SELECT n AS n_users, sx AS total_events,
           ROUND(CAST(2 * srx - (n + 1) * sx AS DOUBLE)
                 / CAST(n * sx AS DOUBLE), 6) AS gini
    FROM s
    """,
)
def gini_user_activity_q(spark, sf_dir):
    """Gini concentration of per-user event activity — the bot/power-
    user inequality screen (0 = uniform, →1 = one user generates
    everything).  Exact rank-based formula G = (2·Σr·x − (n+1)·Σx) /
    (n·Σx) with the rank from profile.exact_global_rank (the two-
    level distributed construction — no single-partition sort over
    the user domain); every sum folds as an exact BIGINT, one double
    division at the end."""
    from ..operators.profile import exact_global_rank

    ev = load_table(spark, sf_dir, "events")
    x = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("x"))
    ranked = exact_global_rank(x, "x", "user_id", rank_col="rnk")
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("rnk") * F.col("x")).cast("long").alias("srx"),
    )
    return s.select(
        F.col("n").alias("n_users"),
        F.col("sx").alias("total_events"),
        F.round(
            (2 * F.col("srx") - (F.col("n") + 1) * F.col("sx")).cast(
                "double"
            )
            / (F.col("n") * F.col("sx")).cast("double"),
            6,
        ).alias("gini"),
    )



@query(
    "expectations_report_tpch",
    """
    SELECT 'orders_pk_unique' AS rule,
           CAST((SELECT COUNT(*) FROM (
              SELECT o_orderkey FROM orders
              GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS BIGINT)
             AS n_violations
    UNION ALL
    SELECT 'lineitem_fk_orders',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT)
    UNION ALL
    SELECT 'orderstatus_accepted',
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_orderstatus NOT IN ('F', 'O', 'P')
                    OR o_orderstatus IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'custkey_not_null',
           CAST((SELECT COUNT(*) FROM customer
                 WHERE c_custkey IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'retailprice_non_negative',
           CAST((SELECT COUNT(*) FROM part
                 WHERE p_retailprice < 0) AS BIGINT)
    UNION ALL
    SELECT 'discount_in_unit_range',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_discount < 0 OR l_discount > 1) AS BIGINT)
    ORDER BY rule
    """,
)
def expectations_q(spark, sf_dir):
    """Data-quality expectation suite (the dbt-test battery as one
    report): primary-key uniqueness, referential integrity, accepted
    values, not-null, and range rules — each a COUNT of violations,
    zero meaning the expectation holds.  The ops-facing counterpart
    of the row-level quarantine operators: run it per load, alert on
    any nonzero.

    Scale: uniqueness = one keyed agg; the FK check is a left-anti
    join (broadcast or shuffle per AQE); value rules are map-side
    predicate counts.  Nothing collects; the report is 6 rows."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")

    def one(rule, cnt_df):
        return cnt_df.select(
            F.lit(rule).alias("rule"),
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias(
                "n_violations"
            ),
        )

    pk = one(
        "orders_pk_unique",
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") > 1)
        .agg(F.count(F.lit(1)).alias("c")),
    )
    fk = one(
        "lineitem_fk_orders",
        lineitem.join(
            orders.select("o_orderkey"),
            lineitem["l_orderkey"] == orders["o_orderkey"],
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("c")),
    )
    acc = one(
        "orderstatus_accepted",
        orders.filter(
            ~F.col("o_orderstatus").isin("F", "O", "P")
            | F.col("o_orderstatus").isNull()
        ).agg(F.count(F.lit(1)).alias("c")),
    )
    nn = one(
        "custkey_not_null",
        customer.filter(F.col("c_custkey").isNull()).agg(
            F.count(F.lit(1)).alias("c")
        ),
    )
    rng = one(
        "retailprice_non_negative",
        part.filter(F.col("p_retailprice") < 0).agg(
            F.count(F.lit(1)).alias("c")
        ),
    )
    disc = one(
        "discount_in_unit_range",
        lineitem.filter(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
        ).agg(F.count(F.lit(1)).alias("c")),
    )
    return (
        pk.unionByName(fk)
        .unionByName(acc)
        .unionByName(nn)
        .unionByName(rng)
        .unionByName(disc)
        .orderBy("rule")
    )



@query(
    "jaro_winkler_pairs_parts",
    """
    WITH p AS (
      SELECT p_partkey, p_name, substr(p_name, 1, 1) AS blk,
             len(p_name) AS l
      FROM part WHERE p_partkey % 10 = 0
    )
    SELECT a.blk AS block, a.p_partkey AS id_a, b.p_partkey AS id_b,
           ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
    FROM p a JOIN p b
      ON a.blk = b.blk AND a.p_partkey < b.p_partkey
     AND abs(a.l - b.l) <= 4
    WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.93
    ORDER BY block, id_a, id_b
    """,
)
def jaro_winkler_q(spark, sf_dir):
    """Blocked Jaro-Winkler record-linkage join
    (joins.jaro_winkler_join): first-char + length-band blocking,
    then the prefix-weighted name matcher — the textbook kernel
    (boost 0.7 / scale 0.1 / prefix 4), Arrow-batched, validated
    bit-identical against DuckDB's builtin
    ``jaro_winkler_similarity`` which this oracle calls directly:
    the strongest cross-engine pin available (independent
    implementations, same doubles).  Gated on the md5-free 10%%
    partkey slice purely to keep the pair table small."""
    from ..operators.joins import jaro_winkler_join

    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_partkey") % 10 == 0
    )
    blocked = part.withColumn("blk", F.substring("p_name", 1, 1))
    return jaro_winkler_join(
        blocked, "p_partkey", "p_name", "blk",
        threshold=0.93, length_band=4,
    ).orderBy("block", "id_a", "id_b")



@query(
    "tfidf_cosine_pairs_docs",
    r"""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
      FROM documents
    ), tf AS (
      SELECT id, token, COUNT(*) AS tf
      FROM toks WHERE token <> '' GROUP BY id, token
    ), dfq AS (
      SELECT token, COUNT(*) AS df FROM tf GROUP BY token
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), w AS (
      SELECT id, token,
             tf * CAST(ROUND((LN((n_docs + 1)
                                 / CAST(df + 1 AS DOUBLE)) + 1.0)
                             * 10000) AS BIGINT) AS w
      FROM tf JOIN dfq USING (token), n
      WHERE df <= 1000
    ), norms AS (
      SELECT id, CAST(SUM(w * w) AS BIGINT) AS n2 FROM w GROUP BY id
    ), dots AS (
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(SUM(a.w * b.w) AS BIGINT) AS dot
      FROM w a JOIN w b ON a.token = b.token AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT id_a, id_b, cos FROM (
      SELECT id_a, id_b,
             ROUND(dot / sqrt(CAST(na.n2 AS DOUBLE)
                              * CAST(nb.n2 AS DOUBLE)), 4) AS cos
      FROM dots
      JOIN norms na ON na.id = id_a
      JOIN norms nb ON nb.id = id_b
    ) WHERE cos >= 0.9
    ORDER BY id_a, id_b
    """,
)
def tfidf_cosine_q(spark, sf_dir):
    """EXACT tf-idf weighted-cosine pair join
    (dedup.tfidf_cosine_pairs): the weighted counterpart of the
    Jaccard postings join — rare terms dominate instead of every
    token counting equally, catching topical near-dups whose shingle
    overlap is diluted by boilerplate.  Integer-scaled idf weights
    make every dot product and norm an exact BIGINT fold (order-free
    both engines); the only floats are one IEEE sqrt + one division.
    Postings capped at df ≤ 1000 identically on both sides."""
    from ..operators.dedup import tfidf_cosine_pairs

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(
        docs, "doc_id", "text", threshold=0.9, max_postings=1000
    ).orderBy("id_a", "id_b")




@query("cohens_kappa_quality_docs", None)  # oracle attached below (composed)
def cohens_kappa_q(spark, sf_dir):
    """Cohen's kappa agreement between the two shipped quality
    raters — the hashed linear classifier (score >= 0.5) and the
    Gopher rule battery (keep flag): the standard chance-corrected
    check that two filters actually measure the same thing before one
    replaces the other in a curation pipeline.  The 2x2 agreement
    matrix folds as exact BIGINTs; po/pe/kappa are literal arithmetic
    on five integers.  Oracle composes the classifier and Gopher
    gates' own generated SQL, so the raters here are pinned to the
    exact rater definitions those gates verify."""
    from ..operators.sampling import hash_bucket
    from ..operators.text import gopher_quality_flags, hashed_classifier_score

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
    ra = hashed_classifier_score(d, model, dim=dim, bias=0.1).select(
        F.col("id").alias("doc_id"),
        (F.col("score") >= 0.5).cast("int").alias("a"),
    )
    rb = gopher_quality_flags(d, "doc_id", "text").select(
        F.col("id").alias("doc_id"), F.col("keep").alias("b")
    )
    m = ra.join(rb, "doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b")))
        .cast("long")
        .alias("n00"),
    )
    po = F.col("n11") + F.col("n00")
    pe_num = (F.col("n11") + F.col("n10")) * (
        F.col("n11") + F.col("n01")
    ) + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    po_d = po.cast("double") / F.col("n")
    pe_d = pe_num.cast("double") / (F.col("n") * F.col("n")).cast(
        "double"
    )
    return m.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(po_d, 6).alias("po"),
        F.round(pe_d, 6).alias("pe"),
        F.round((po_d - pe_d) / (F.lit(1.0) - pe_d), 6).alias("kappa"),
    )


def _cohens_kappa_oracle() -> str:
    """Compose the classifier and Gopher oracles (both generated
    above) into the 2x2 agreement fold."""
    clf = O["classifier_score_docs"]
    gopher = O["gopher_quality_docs"]
    return f"""
    WITH ra AS (
      SELECT id AS doc_id, CAST(score >= 0.5 AS INTEGER) AS a
      FROM ({clf}) c
    ), rb AS (
      SELECT id AS doc_id, keep AS b FROM ({gopher}) g
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a * b) AS BIGINT) AS n11,
             CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
             CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
             CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
      FROM ra JOIN rb USING (doc_id)
    )
    SELECT n, n11, n10, n01, n00,
           ROUND(CAST(n11 + n00 AS DOUBLE) / n, 6) AS po,
           ROUND(CAST((n11 + n10) * (n11 + n01)
                      + (n01 + n00) * (n10 + n00) AS DOUBLE)
                 / CAST(n * n AS DOUBLE), 6) AS pe,
           ROUND((CAST(n11 + n00 AS DOUBLE) / n
                  - CAST((n11 + n10) * (n11 + n01)
                         + (n01 + n00) * (n10 + n00) AS DOUBLE)
                    / CAST(n * n AS DOUBLE))
                 / (1.0 - CAST((n11 + n10) * (n11 + n01)
                               + (n01 + n00) * (n10 + n00) AS DOUBLE)
                          / CAST(n * n AS DOUBLE)), 6) AS kappa
    FROM m
    """


O["cohens_kappa_quality_docs"] = _cohens_kappa_oracle()


@query(
    "k_anonymity_report_orders",
    """
    WITH g AS (
      SELECT o_orderstatus, o_orderpriority,
             CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
             COUNT(*) AS grp_size,
             COUNT(DISTINCT o_custkey) AS n_sensitive
      FROM orders
      GROUP BY o_orderstatus, o_orderpriority, order_year
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN grp_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS k_violating_groups,
           CAST(SUM(CASE WHEN grp_size < 5 THEN grp_size ELSE 0 END)
                AS BIGINT) AS rows_at_risk,
           CAST(SUM(CASE WHEN n_sensitive < 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS l_violating_groups,
           CAST(MIN(grp_size) AS BIGINT) AS min_group_size,
           CAST(MIN(n_sensitive) AS BIGINT) AS min_l
    FROM g
    """,
)
def k_anonymity_q(spark, sf_dir):
    """k-anonymity / l-diversity privacy report over the quasi-
    identifier tuple (status, priority, order year) with the customer key
    as the sensitive attribute: groups smaller than k = 5 re-identify their
    members; groups with fewer than l = 3 distinct sensitive values
    leak it even at size ≥ k.  The release-gate check a dataset
    publisher runs before sharing — one grouped aggregate (map-side
    partial) + one 1-row fold, pure integer counts."""
    orders = load_table(spark, sf_dir, "orders")
    g = orders.groupBy(
        "o_orderstatus",
        "o_orderpriority",
        F.year("o_orderdate").cast("long").alias("order_year"),
    ).agg(
        F.count(F.lit(1)).alias("grp_size"),
        F.countDistinct("o_custkey").alias("n_sensitive"),
    )
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(
            F.when(F.col("grp_size") < 5, 1).otherwise(0)
        ).cast("long").alias("k_violating_groups"),
        F.sum(
            F.when(F.col("grp_size") < 5, F.col("grp_size")).otherwise(0)
        ).cast("long").alias("rows_at_risk"),
        F.sum(
            F.when(F.col("n_sensitive") < 3, 1).otherwise(0)
        ).cast("long").alias("l_violating_groups"),
        F.min("grp_size").cast("long").alias("min_group_size"),
        F.min("n_sensitive").cast("long").alias("min_l"),
    )



@query(
    "seasonal_adjust_dow_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             ROUND(SUM(value), 4) AS x
      FROM events GROUP BY 1, 2
    ), d2 AS (
      SELECT event_type, day, x, dayofweek(day) AS dow FROM daily
    ), per_dow AS (
      SELECT event_type, dow, SUM(x) AS sdow,
             CAST(COUNT(*) AS BIGINT) AS cdow
      FROM d2 GROUP BY event_type, dow
    ), overall AS (
      SELECT event_type, SUM(x) AS sall,
             CAST(COUNT(*) AS BIGINT) AS call
      FROM d2 GROUP BY event_type
    ), si AS (
      SELECT p.event_type, p.dow,
             ROUND((p.sdow * o.call) / (p.cdow * o.sall), 6)
               AS seasonal_index
      FROM per_dow p JOIN overall o ON o.event_type = p.event_type
    )
    SELECT d2.event_type, d2.day, d2.x, si.seasonal_index,
           ROUND(d2.x / si.seasonal_index, 4) AS deseasonalized
    FROM d2 JOIN si
      ON si.event_type = d2.event_type AND si.dow = d2.dow
    ORDER BY d2.event_type, d2.day
    """,
)
def seasonal_adjust_q(spark, sf_dir):
    """Day-of-week seasonal adjustment (the ratio-to-moving-average
    decomposition's seasonal step, weekly period): seasonal index =
    dow mean / overall mean per event type, deseasonalized value =
    x / index — the series a weekday-aware anomaly monitor thresholds
    instead of the raw one.  The index is one bounded (type × 7)-row
    frame computed from the SAME dyadic ratio expression both
    engines evaluate (products before division, one ROUND)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value"), 4).alias("x"))
        .withColumn("dow", F.dayofweek("day"))
    )
    per_dow = daily.groupBy("event_type", "dow").agg(
        F.sum("x").alias("sdow"), F.count(F.lit(1)).alias("cdow")
    )
    overall = daily.groupBy("event_type").agg(
        F.sum("x").alias("sall"), F.count(F.lit(1)).alias("call")
    )
    si = per_dow.join(overall, "event_type").select(
        "event_type",
        "dow",
        F.round(
            (F.col("sdow") * F.col("call"))
            / (F.col("cdow") * F.col("sall")),
            6,
        ).alias("seasonal_index"),
    )
    return (
        daily.join(si, ["event_type", "dow"])
        .select(
            "event_type",
            "day",
            "x",
            "seasonal_index",
            F.round(F.col("x") / F.col("seasonal_index"), 4).alias(
                "deseasonalized"
            ),
        )
        .orderBy("event_type", "day")
    )



@query(
    "heaps_law_fit_docs",
    r"""
    WITH n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
    ), dt AS (
      SELECT doc_id,
             CAST(len(list_filter(
               string_split_regex(lower(trim(text)), '\s+'),
               t -> t <> '')) AS BIGINT) AS n_toks
      FROM documents
    ), fd AS (
      SELECT token, MIN(doc_id) AS first_doc
      FROM (SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\s+'))
                     AS token
            FROM documents)
      WHERE token <> '' GROUP BY token
    ), cp AS (
      SELECT i, (i * n_docs) // 10 AS cutoff
      FROM range(1, 11) t(i), n
    ), vocab AS (
      SELECT cp.i, CAST(COUNT(*) AS BIGINT) AS v
      FROM cp JOIN fd ON fd.first_doc < cp.cutoff
      GROUP BY cp.i
    ), toks AS (
      SELECT cp.i, CAST(SUM(dt.n_toks) AS BIGINT) AS tk
      FROM cp JOIN dt ON dt.doc_id < cp.cutoff
      GROUP BY cp.i
    ), pts AS (
      SELECT vocab.i, ROUND(LN(toks.tk), 6) AS x,
             ROUND(LN(vocab.v), 6) AS y
      FROM vocab JOIN toks ON toks.i = vocab.i
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(regr_slope(y, x), 4) AS beta,
           ROUND(exp(regr_intercept(y, x)), 2) AS k
    FROM pts
    """,
)
def heaps_law_q(spark, sf_dir):
    """Heaps' law fit V(n) = K·n^beta — vocabulary growth against
    cumulative token volume, the scaling diagnostic that predicts
    vocab size (and hash-feature collision rates, sketch widths,
    tokenizer OOV pressure) at 100 TB from what the small corpus
    shows.  Ten cumulative checkpoints in doc_id order: per-token
    first-occurrence doc (one grouped MIN over the postings), vocab
    and token totals per checkpoint via two bounded 10-row joins,
    then a log-log OLS via regr_slope/regr_intercept over the 10
    points (inputs rounded to 6 before the fit, outputs rounded)."""
    ev = load_table(spark, sf_dir, "documents")
    n = ev.agg(F.count(F.lit(1)).alias("n_docs"))
    toks_col = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda t: t != "",
    )
    dt = ev.select(
        "doc_id", F.size(toks_col).cast("long").alias("n_toks")
    )
    fd = (
        ev.select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    cp = (
        spark.range(1, 11)
        .select(F.col("id").alias("i"))
        .crossJoin(F.broadcast(n))
        .select("i", F.expr("(i * n_docs) div 10").alias("cutoff"))
    )
    vocab = (
        cp.join(fd, fd["first_doc"] < cp["cutoff"])
        .groupBy("i")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    tk = (
        cp.join(dt, dt["doc_id"] < cp["cutoff"])
        .groupBy("i")
        .agg(F.sum("n_toks").alias("tk"))
    )
    pts = vocab.join(tk, "i").select(
        F.round(F.log(F.col("tk").cast("double")), 6).alias("x"),
        F.round(F.log(F.col("v").cast("double")), 6).alias("y"),
    )
    return pts.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.expr("regr_slope(y, x)"), 4).alias("beta"),
        F.round(F.exp(F.expr("regr_intercept(y, x)")), 2).alias("k"),
    )



@query(
    "rfm_user_scores_events",
    """
    WITH base AS (
      SELECT user_id,
             epoch_us(MAX(ts)) AS recency_us,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             ROUND(SUM(value), 4) AS monetary
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ), scored AS (
      SELECT user_id, recency_us, frequency, monetary,
             NTILE(5) OVER (ORDER BY recency_us, user_id) AS r_score,
             NTILE(5) OVER (ORDER BY frequency, user_id) AS f_score,
             NTILE(5) OVER (ORDER BY monetary, user_id) AS m_score
      FROM base
    )
    SELECT user_id, recency_us, frequency, monetary,
           r_score, f_score, m_score,
           100 * r_score + 10 * f_score + m_score AS rfm
    FROM scored ORDER BY user_id
    """,
)
def rfm_scores_q(spark, sf_dir):
    """RFM customer scoring (recency / frequency / monetary
    quintiles, the classic segmentation): per-user purchase
    aggregates, then THREE exact quintile assignments via
    profile.exact_ntile — each the two-level distributed rank, no
    single-partition sort over the user domain (a bare NTILE window,
    the oracle's formulation, funnels every user through one
    partition).  Recency is the exact-microsecond last-purchase
    epoch; monetary rounds before ranking so the tie order is
    engine-identical; rfm = 100r + 10f + m is the standard code."""
    from ..operators.profile import exact_ntile

    ev = load_table(spark, sf_dir, "events")
    base = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            epoch_us(F.max("ts")).alias("recency_us"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("value"), 4).alias("monetary"),
        )
    )
    r = exact_ntile(base, 5, "recency_us", "user_id", bucket_col="r_score")
    f_ = exact_ntile(
        r, 5, "frequency", "user_id", bucket_col="f_score"
    )
    m = exact_ntile(
        f_, 5, "monetary", "user_id", bucket_col="m_score"
    )
    return m.select(
        "user_id",
        "recency_us",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        (
            100 * F.col("r_score") + 10 * F.col("f_score") + F.col("m_score")
        ).alias("rfm"),
    ).orderBy("user_id")



@query(
    "vocab_coverage_curve_docs",
    r"""
    WITH tf AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
              AS token FROM documents)
      WHERE token <> '' GROUP BY token
    ), ranked AS (
      SELECT token, c,
             ROW_NUMBER() OVER (ORDER BY c DESC, token ASC) AS rnk
      FROM tf
    ), tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS vocab
      FROM tf
    ), ks AS (
      SELECT unnest([10, 30, 100, 300, 1000]) AS k
    )
    SELECT ks.k,
           CAST(SUM(CASE WHEN ranked.rnk <= ks.k THEN ranked.c
                         ELSE 0 END) AS BIGINT) AS covered_tokens,
           ANY_VALUE(tot.total) AS total_tokens,
           ANY_VALUE(tot.vocab) AS vocab_size,
           ROUND(CAST(SUM(CASE WHEN ranked.rnk <= ks.k THEN ranked.c
                              ELSE 0 END) AS DOUBLE)
                 / ANY_VALUE(tot.total), 6) AS coverage
    FROM ks, ranked, tot
    GROUP BY ks.k ORDER BY ks.k
    """,
)
def vocab_coverage_q(spark, sf_dir):
    """Vocabulary coverage curve: what fraction of all token
    instances the top-k most frequent types cover, at k ∈ {10, 30,
    100, 300, 1000} — the tokenizer/vocab-sizing companion to the
    Zipf and Heaps fits (pick the smallest vocab hitting the target
    coverage).  The rank orders TYPES (vocab-bounded, not corpus-
    bounded — the Mann-Whitney design rule), counts fold as exact
    BIGINTs, one division per k."""
    ev = load_table(spark, sf_dir, "documents")
    tf = (
        ev.select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy(F.col("c").desc(), F.col("token").asc())
    ranked = tf.withColumn("rnk", F.row_number().over(w))
    tot = tf.agg(
        F.sum("c").cast("long").alias("total"),
        F.count(F.lit(1)).alias("vocab"),
    )
    ks = spark.range(0).sparkSession.createDataFrame(
        [(10,), (30,), (100,), (300,), (1000,)], "k int"
    )
    return (
        ks.crossJoin(ranked)
        .crossJoin(F.broadcast(tot))
        .groupBy("k")
        .agg(
            F.sum(
                F.when(F.col("rnk") <= F.col("k"), F.col("c")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("covered_tokens"),
            F.first("total").alias("total_tokens"),
            F.first("vocab").alias("vocab_size"),
            F.round(
                F.sum(
                    F.when(
                        F.col("rnk") <= F.col("k"), F.col("c")
                    ).otherwise(0)
                ).cast("double")
                / F.first("total"),
                6,
            ).alias("coverage"),
        )
        .orderBy("k")
    )



@query(
    "centroid_drift_labels_embeddings",
    """
    WITH e AS (
      SELECT label,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
               AS v
      FROM embeddings
    ), comp AS (
      SELECT label, i, CAST(SUM(v[i]) AS BIGINT) AS s
      FROM e, range(1, 65) t(i)
      GROUP BY label, i
    ), c AS (
      SELECT comp.label, list(s ORDER BY i) AS cent,
             ANY_VALUE(cnt.n) AS n
      FROM comp
      JOIN (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
            FROM e GROUP BY label) cnt
        ON cnt.label = comp.label
      GROUP BY comp.label
    )
    SELECT a.label AS label_a, b.label AS label_b, a.n AS n_a, b.n AS n_b,
           ROUND(
             CAST(list_sum(list_transform(range(1, 65),
                    i -> a.cent[i] * b.cent[i])) AS DOUBLE)
             / (sqrt(CAST(list_sum(list_transform(range(1, 65),
                      i -> a.cent[i] * a.cent[i])) AS DOUBLE))
                * sqrt(CAST(list_sum(list_transform(range(1, 65),
                        i -> b.cent[i] * b.cent[i])) AS DOUBLE))), 4)
             AS centroid_cosine
    FROM c a JOIN c b ON a.label < b.label
    ORDER BY label_a, label_b
    """,
)
def centroid_drift_q(spark, sf_dir):
    """Per-label embedding centroid drift: the pairwise cosine grid
    between label centroids — the embedding-space analogue of the
    JSD/KS source-drift family (are two slices' representations
    converging or separating?).  Components scale to integers
    (×1e6, rounded) BEFORE summing so every centroid, dot product,
    and norm folds as an exact BIGINT regardless of engine sum
    order; the only floats are two IEEE sqrts and one division.
    One grouped aggregate reduces the corpus; the grid is
    labels², bounded."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1_000_000).cast("long"),
        ).alias("v"),
    )
    # per-dim chains as single F.expr strings (identical parsed trees,
    # ~100× fewer py4j calls at plan build — see davies_bouldin)
    c = e.groupBy("label").agg(
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
    a, b = c.alias("a"), c.alias("b")

    def dot(x, y):
        return F.expr(
            " + ".join(
                f"(element_at({x}, {i + 1}) * element_at({y}, {i + 1}))"
                for i in range(64)
            )
        )

    ca, cb = "a.cent", "b.cent"
    return (
        a.join(b, F.col("a.label") < F.col("b.label"))
        .select(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            F.round(
                dot(ca, cb).cast("double")
                / (
                    F.sqrt(dot(ca, ca).cast("double"))
                    * F.sqrt(dot(cb, cb).cast("double"))
                ),
                4,
            ).alias("centroid_cosine"),
        )
        .orderBy("label_a", "label_b")
    )



@query("cluster_stats_embeddings", None)  # oracle attached below (generated)
def cluster_stats_q(spark, sf_dir):
    """Clustering diagnostics over the literal seeded quantizer
    (similarity.centroid_distances): per-cluster population, mean and
    max distance-to-centroid — the balance/radius report that decides
    whether an IVF/SemDeDup partitioning is usable before anything
    expensive runs on it.  Map-only assignment + one hash agg."""
    from ..operators.similarity import (
        assign_nearest_centroid_arrow,
        fixed_centroids,
    )

    cents = fixed_centroids(64, 8, seed=7)
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    a = assign_nearest_centroid_arrow(
        e, cents, "embedding", dist_col="dist"
    ).select("cluster", "dist")
    return a.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("dist"), 6).alias("mean_dist"),
        F.round(F.max("dist"), 6).alias("max_dist"),
    )


def _cluster_stats_oracle() -> str:
    from ..operators.similarity import fixed_centroids

    cents = fixed_centroids(64, 8, seed=7)
    return f"""
    WITH c AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), d AS (
      SELECT vec_id, {_centroid_assign_sql(cents)} AS dl FROM c
    ), a AS (
      SELECT CAST(list_position(dl, list_min(dl)) - 1 AS INTEGER) AS cluster,
             sqrt(list_min(dl)) AS dist
      FROM d
    )
    SELECT cluster, COUNT(*) AS n,
           ROUND(AVG(dist), 6) AS mean_dist,
           ROUND(MAX(dist), 6) AS max_dist
    FROM a GROUP BY 1
    """


O["cluster_stats_embeddings"] = _cluster_stats_oracle()


@query(
    "token_budget_selection_docs",
    r"""
    WITH t AS (
      SELECT doc_id AS id, CAST(n_chars AS DOUBLE) AS score,
             CAST(CASE WHEN trim(text) = '' THEN 0
                       ELSE len(string_split_regex(trim(text), '\s+'))
                  END AS BIGINT) AS tokens
      FROM documents
    ), c AS (
      SELECT id, score, tokens,
             CAST(SUM(tokens) OVER (ORDER BY score DESC, id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_tokens
      FROM t
    )
    SELECT id, score, tokens, cum_tokens FROM c WHERE cum_tokens <= 10000
    """,
)
def token_budget_q(spark, sf_dir):
    """Budget-constrained corpus selection
    (operators.sampling.select_token_budget): the best-scored
    documents whose running token total fits a 10k-token budget —
    the "assemble the best corpus that fits N tokens" curation step.
    The implementation's bucketed two-pass cumsum (coarse placement
    buckets + ≤32 driver scalars, no single-partition sort) must
    reproduce the oracle's bare global-window cumsum exactly."""
    from ..functions.text import token_count
    from ..operators.sampling import select_token_budget

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("double").alias("score"),
        token_count(F.col("text")).cast("long").alias("tokens"),
    )
    return select_token_budget(d, "doc_id", "score", "tokens", budget=10000)


@query(
    "leakage_safe_split_docs",
    rf"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      FROM documents
    ), d AS MATERIALIZED (
      SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      FROM toks
    ), {_SHINGLE_INTER_SQL}, pairs AS (
      SELECT id_a AS u, id_b AS v FROM inter
      WHERE c::DOUBLE / (na + nb - c) >= 0.7
    ), edges AS (
      SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
    ), reach(id, r) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.r FROM edges e JOIN reach r ON e.v = r.id
    ), comp AS (
      SELECT id, MIN(r) AS root FROM reach GROUP BY id
    ), keyed AS (
      SELECT d0.doc_id AS id,
             COALESCE(c.root, d0.doc_id) AS split_key
      FROM documents d0 LEFT JOIN comp c ON d0.doc_id = c.id
    )
    SELECT id, split_key,
           CASE WHEN CAST('0x' || substring(md5(CAST(split_key AS VARCHAR)),
                                            1, 8) AS BIGINT) % 10000 < 8000
                THEN 'train'
                WHEN CAST('0x' || substring(md5(CAST(split_key AS VARCHAR)),
                                            1, 8) AS BIGINT) % 10000 < 9000
                THEN 'val'
                ELSE 'test' END AS split
    FROM keyed
    """,
)
def leakage_safe_split_q(spark, sf_dir):
    """Leakage-safe train/val/test split
    (operators.sampling.leakage_safe_split): documents assigned by
    their near-dup COMPONENT root, so no near-duplicate pair ever
    straddles a split — the failure mode a per-document hash split
    silently permits (test twins in train inflate eval).  MinHash
    recall is 1 at τ=0.7 on this corpus, so the recursive-CTE
    component oracle + the md5-bucket contract replay the assignment
    exactly."""
    from ..operators.dedup import minhash_near_dup_pairs
    from ..operators.sampling import leakage_safe_split

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        d, "doc_id", "text", threshold=0.7, shingle_k=3, num_hashes=64, bands=16
    )
    return leakage_safe_split(
        d, "doc_id", pairs, {"train": 0.8, "val": 0.1, "test": 0.1}
    )


@query(
    "contrastive_pairs_embeddings",
    """
    WITH n AS (
      SELECT COUNT(*) AS nn FROM embeddings
    ), pos AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(list_cosine_similarity(
                     list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                     list_transform(b.embedding, x -> CAST(x AS DOUBLE))),
                   4) AS cosine,
             1 AS label
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(
              list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
              list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.4
    ), negk AS (
      SELECT e1.vec_id AS i,
             (e1.vec_id + 1 +
              CAST('0x' || substr(md5('neg:' || e1.vec_id), 1, 15)
                   AS BIGINT) % (n.nn - 1)) % n.nn AS j
      FROM embeddings e1 CROSS JOIN n
    ), npair AS (
      SELECT DISTINCT LEAST(i, j) AS id_a, GREATEST(i, j) AS id_b
      FROM negk JOIN embeddings ej ON ej.vec_id = negk.j
    ), neg AS (
      SELECT p.id_a, p.id_b,
             ROUND(list_cosine_similarity(
                     list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                     list_transform(b.embedding, x -> CAST(x AS DOUBLE))),
                   4) AS cosine,
             0 AS label
      FROM npair p
      JOIN embeddings a ON a.vec_id = p.id_a
      JOIN embeddings b ON b.vec_id = p.id_b
      WHERE list_cosine_similarity(
              list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
              list_transform(b.embedding, x -> CAST(x AS DOUBLE))) < 0.4
    )
    SELECT * FROM pos UNION ALL SELECT * FROM neg
    """,
)
def contrastive_pairs_q(spark, sf_dir):
    """Contrastive training-pair mining: positives = exact cosine
    near-dups (the verified Arrow-matmul kernel), negatives = one
    deterministic md5-derived partner per vector (cyclic offset,
    never self), filtered so no negative is accidentally a near-dup —
    the (anchor, partner, label) table a contrastive/embedding
    fine-tune consumes.  Negatives are a pure function of ids, so the
    whole pair table is replayable and oracle-checkable; partner
    selection assumes/joins against existing ids and drops misses."""
    from ..functions.vectors import cosine_similarity
    from ..operators.dedup import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    nn = emb.count()
    pos = (
        embedding_near_dup_pairs(emb, "vec_id", "embedding", threshold=0.4)
        .select(
            "id_a",
            "id_b",
            F.round("cosine", 4).alias("cosine"),
            F.lit(1).alias("label"),
        )
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("neg:"), F.col("vec_id"))), 1, 15),
        16,
        10,
    ).cast("long")
    negk = emb.select(
        F.col("vec_id").alias("i"),
        ((F.col("vec_id") + 1 + h % (nn - 1)) % nn).alias("j"),
    )
    ids = emb.select(F.col("vec_id").alias("j"))
    npair = (
        negk.join(ids, "j")
        .select(
            F.least("i", "j").alias("id_a"),
            F.greatest("i", "j").alias("id_b"),
        )
        .distinct()
    )
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    eb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    cos = cosine_similarity(F.col("_va"), F.col("_vb"))
    neg = (
        npair.join(ea, "id_a")
        .join(eb, "id_b")
        .filter(cos < 0.4)
        .select(
            "id_a",
            "id_b",
            F.round(cos, 4).alias("cosine"),
            F.lit(0).alias("label"),
        )
    )
    return pos.unionByName(neg)


@query(
    "hourly_value_percentiles",
    """
    SELECT date_trunc('hour', ts) AS bar_hour,
           COUNT(*) AS n,
           ROUND(quantile_cont(value, 0.50), 6) AS p50,
           ROUND(quantile_cont(value, 0.95), 6) AS p95,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY 1
    """,
)
def hourly_percentiles_q(spark, sf_dir):
    """Hourly p50/p95/p99 bands over event values — the
    latency-dashboard staple.  Exact type-7 interpolated percentiles
    per hour bucket (same Spark percentile ≡ DuckDB quantile_cont
    parity the winsorize gate proved); one hash-agg shuffle keyed on
    the hour.  At 100 TB swap to approx_percentile per bucket — the
    plan shape is identical and the sketch is mergeable map-side."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("bar_hour"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(value, 0.50)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        )
    )


@query(
    "lm_heldout_perplexity_docs",
    r"""
    WITH split AS (
      SELECT doc_id, text,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 10000 < 8000 AS is_train
      FROM documents
    ), trtoks AS (
      SELECT string_split_regex(lower(trim(text)), '\s+') AS w
      FROM split WHERE is_train
    ), uni AS MATERIALIZED (
      SELECT g AS w1, COUNT(*) AS cu
      FROM (SELECT unnest(w) AS g FROM trtoks) GROUP BY 1
    ), v AS (
      SELECT COUNT(*) AS vs FROM uni
    ), trbi AS (
      SELECT w[i] AS w1, w[i + 1] AS w2
      FROM (SELECT w, unnest(range(1, len(w))) AS i FROM trtoks)
    ), bc AS MATERIALIZED (
      SELECT w1, w2, COUNT(*) AS cb FROM trbi GROUP BY 1, 2
    ), tetoks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      FROM split WHERE NOT is_train
    ), tebi AS (
      SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
      FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM tetoks)
    ), sc AS (
      SELECT tebi.doc_id, COUNT(*) AS n_bigrams,
             ROUND(-AVG(LN((COALESCE(bc.cb, 0) + 0.5)
                           / (COALESCE(uni.cu, 0) + 0.5 * v.vs))), 6) AS ce
      FROM tebi
      LEFT JOIN bc ON tebi.w1 = bc.w1 AND tebi.w2 = bc.w2
      LEFT JOIN uni ON tebi.w1 = uni.w1
      CROSS JOIN v
      GROUP BY 1
    )
    SELECT t.doc_id AS id,
           COALESCE(sc.n_bigrams, 0) AS n_bigrams,
           COALESCE(sc.ce, 0.0) AS cross_entropy
    FROM tetoks t LEFT JOIN sc ON t.doc_id = sc.doc_id
    """,
)
def lm_heldout_q(spark, sf_dir):
    """Held-out LM evaluation
    (operators.text.lm_heldout_cross_entropy): the md5-contract 80%
    train slice fits the bigram model, the 20% test slice is scored
    under it with add-k backoff for unseen events — the leakage-free
    perplexity number (lm_score_docs' model sees its own input; this
    one never does).  Unseen-bigram handling is the point under
    test: C(w1,w2) and C(w1) coalesce to 0 and smoothing keeps every
    probability positive."""
    from ..operators.sampling import hash_bucket
    from ..operators.text import lm_heldout_cross_entropy

    d = load_table(spark, sf_dir, "documents")
    is_train = hash_bucket(F.col("doc_id")) < 8000
    return lm_heldout_cross_entropy(
        d.filter(is_train), d.filter(~is_train)
    )


@query(
    "conditional_aggregates_orders",
    """
    SELECT o_orderstatus,
           COUNT(*) FILTER (WHERE o_totalprice > 100000.0) AS n_big,
           bool_and(o_totalprice > 0)                      AS all_positive,
           bool_or(o_orderpriority = '1-URGENT')           AS any_urgent,
           COUNT(DISTINCT o_orderpriority)                 AS n_priorities
    FROM orders GROUP BY ALL
    """,
)
def conditional_agg_q(spark, sf_dir):
    """Conditional-aggregate surface: ``count_if`` / ``every`` /
    ``any`` (DuckDB spells them FILTER / bool_and / bool_or) plus
    Spark 4 / modern-SQL ``GROUP BY ALL`` inference — the everyday
    data-quality one-liner family.  Single partial-aggregated
    shuffle; the booleans fold map-side like any other aggregate."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus,
               count_if(o_totalprice > 100000.0)     AS n_big,
               every(o_totalprice > 0)               AS all_positive,
               any(o_orderpriority = '1-URGENT')     AS any_urgent,
               COUNT(DISTINCT o_orderpriority)       AS n_priorities
        FROM orders GROUP BY ALL
        """
    )


@query("apply_in_arrow_event_stats")
def apply_in_arrow_q(spark, sf_dir):
    """Spark 4 grouped ``applyInArrow`` twin of
    ``pandas_udaf_event_stats`` — the zero-pandas grouped kernel
    surface: each group arrives as one Arrow table, numpy computes
    the plain and 10%-trimmed means with exact integer sums (k values
    are integers, so float64 summation is exact under ANY association
    and the result matches the UDAF/SQL paths bit-for-bit — the two
    execution paths share one oracle)."""
    import numpy as np
    import pyarrow as pa

    def stats(table: "pa.Table") -> "pa.Table":
        et = table.column("event_type")[0].as_py()
        k = np.asarray(table.column("k_val"), dtype=np.float64)
        k = k[~np.isnan(k)]
        n = len(k)
        ks = np.sort(k, kind="stable")
        lo = n // 10
        trimmed = ks[lo : n - lo]
        return pa.table(
            {
                "event_type": [et],
                "mean_k": [round(float(k.sum() / n), 4) if n else None],
                "trimmed_k": [
                    round(float(trimmed.sum() / len(trimmed)), 4)
                    if len(trimmed)
                    else None
                ],
            }
        )

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
    )
    return base.groupBy("event_type").applyInArrow(
        stats, "event_type string, mean_k double, trimmed_k double"
    )


O["apply_in_arrow_event_stats"] = O["pandas_udaf_event_stats"]


@query(
    "revenue_share_of_parent",
    """
    WITH rev AS (
      SELECT r_name AS region, n_name AS nation,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1, 2
    )
    SELECT region, nation, revenue,
           ROUND(revenue / SUM(revenue) OVER (PARTITION BY region), 6)
               AS share_of_region,
           ROUND(revenue / SUM(revenue) OVER (), 6) AS share_of_total
    FROM rev
    """,
)
def revenue_share_q(spark, sf_dir):
    """Ratio-to-parent hierarchical report: each nation's revenue as
    a share of its region and of the grand total — the contribution
    analysis every BI rollup ends with.  The fact join aggregates
    FIRST (broadcast dims, one fact shuffle); the windows then run
    over the 25-row summary, so the unpartitioned total window is
    bounded by the dimension hierarchy, never the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    w_region = Window.partitionBy("region")
    w_all = Window.partitionBy()
    return rev.select(
        "region",
        "nation",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w_region), 6).alias(
            "share_of_region"
        ),
        F.round(F.col("revenue") / F.sum("revenue").over(w_all), 6).alias(
            "share_of_total"
        ),
    )


@query(
    "benford_digits_totalprice",
    """
    WITH d AS (
      SELECT CAST(regexp_extract(CAST(o_totalprice AS VARCHAR), '[1-9]')
                  AS INTEGER) AS digit
      FROM orders WHERE o_totalprice > 0
    ), c AS (
      SELECT digit, COUNT(*) AS n FROM d GROUP BY 1
    ), t AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total FROM c
    )
    SELECT digit, n,
           ROUND(n / CAST(t.total AS DOUBLE), 6) AS observed,
           ROUND(LOG10(1.0 + 1.0 / digit), 6) AS benford
    FROM c CROSS JOIN t
    """,
)
def benford_q(spark, sf_dir):
    """Benford first-significant-digit audit of order values — the
    classic fabricated-data screen (organic financial magnitudes
    follow log10(1+1/d); uniform or truncated generators don't).
    The digit comes from the decimal STRING rendering, not
    floor(log10(x)) arithmetic — log10 sits within an ulp of an
    integer exactly at the power-of-ten boundaries, where the floor
    (and thus the digit) would flip per engine.  One map + one
    9-group aggregate."""
    o = load_table(spark, sf_dir, "orders")
    d = o.filter(F.col("o_totalprice") > 0).select(
        F.regexp_extract(
            F.col("o_totalprice").cast("string"), "[1-9]", 0
        ).cast("int").alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").cast("bigint").alias("total"))
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(F.col("n") / F.col("total").cast("double"), 6).alias(
            "observed"
        ),
        F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford"),
    )


@query(
    "degree_distribution_part_supplier",
    """
    WITH e AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ), deg AS (
      SELECT l_partkey, COUNT(*) AS degree FROM e GROUP BY 1
    )
    SELECT degree, COUNT(*) AS n_parts
    FROM deg GROUP BY 1
    """,
)
def degree_dist_q(spark, sf_dir):
    """Degree distribution of the part–supplier bipartite graph (the
    same edge set pagerank_part_supplier iterates): how many parts
    have k distinct suppliers — the skew diagnostic that decides
    whether graph algorithms need salting before they run.  One
    distinct-edge aggregate + two tiny group-bys; the distinct is the
    only real shuffle and it is partial-aggregated map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    e = li.select("l_partkey", "l_suppkey").distinct()
    deg = e.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_parts"))


