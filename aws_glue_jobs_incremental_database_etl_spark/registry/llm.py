"""LLM-pipeline operators: dedup / similarity / text / multimodal — split from the single-file registry (VERDICT r7 #7).

Registration order is preserved by the package ``__init__`` importing
the domain modules in the original file order; ``Q``/``O`` are the
shared dicts from ``._core``.
"""

from __future__ import annotations


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
    scratch_dir,
)

# =====================================================================
# LLM-pipeline operators: dedup / similarity / text / multimodal
# =====================================================================

@query(
    "dedup_exact_docs",
    """
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY lang, source)
    """,
)
def dedup_exact_q(spark, sf_dir):
    """Exact dedup with deterministic survivor (min doc_id per key)."""
    from ..operators.dedup import exact_dedup

    d = load_table(spark, sf_dir, "documents")
    return exact_dedup(d, ["lang", "source"], order_by=["doc_id"]).select(
        "doc_id", "lang", "source"
    )


@query(
    "doc_text_stats",
    r"""
    WITH t AS (
      SELECT doc_id, text,
             string_split_regex(trim(text), '\s+') AS toks,
             CASE WHEN length(text) > 0
                  THEN (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) / CAST(length(text) AS DOUBLE)
                  ELSE 0.0 END AS praw
      FROM documents
    ), u AS (
      SELECT doc_id, text, praw,
             CASE WHEN trim(text) = '' THEN 0 ELSE len(toks) END AS n_tokens,
             CASE WHEN len(toks) > 0
                  THEN len(list_filter(list_transform(toks, x -> lower(x)),
                           x -> x IN ('the','a','of','and','to','in','is','it'))) / CAST(len(toks) AS DOUBLE)
                  ELSE 0.0 END AS sraw
      FROM t
    )
    SELECT doc_id, n_tokens,
           ROUND(praw, 6) AS punct_ratio,
           ROUND(sraw, 6) AS stopword_ratio,
           ROUND(0.5 * LEAST(n_tokens / 100.0, 1.0)
                 + 0.3 * (1.0 - praw)
                 + 0.2 * LEAST(4 * sraw, 1.0), 6) AS quality,
           CASE WHEN sraw > 0.05 THEN 'en' ELSE 'unknown' END AS lang_pred,
           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
    FROM u
    """,
)
def doc_stats_q(spark, sf_dir):
    """Text analysis: token count, punct/stopword ratios, quality
    score, language-ID heuristic, md5 fingerprint — all map-only.
    The corpus arrives as one small file → spread the regex-heavy map
    across cores (same rationale as dedup._spread)."""
    from ..operators.dedup import _spread
    from ..operators.text import document_stats

    d = _spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return document_stats(d).select(
        "doc_id",
        "n_tokens",
        "punct_ratio",
        "stopword_ratio",
        "quality",
        "lang_pred",
        "fingerprint",
    )


@query(
    "cosine_topk_embeddings",
    """
    SELECT vec_id,
           ROUND(list_cosine_similarity(
                   list_transform(embedding, x -> CAST(x AS DOUBLE)),
                   (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE))
                    FROM embeddings WHERE vec_id = 0)), 4) AS cosine
    FROM embeddings
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 20
    """,
)
def cosine_topk_q(spark, sf_dir):
    """Exact brute-force cosine top-k (operators.similarity.cosine_topk):
    map-only scan + TakeOrdered; double-precision on both sides."""
    from ..operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    # round_to=4 matches the oracle's ROUND(...,4)-before-ORDER-BY, so
    # the ranking key (and its vec_id tie-break) is identical on both
    # sides at any scale factor.
    return cosine_topk(emb, qvec, k=20, round_to=4)


@query(
    "incremental_topk_embeddings",
    """
    SELECT vec_id,
           ROUND(list_cosine_similarity(
                   list_transform(embedding, x -> CAST(x AS DOUBLE)),
                   (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE))
                    FROM embeddings WHERE vec_id = 0)), 4) AS cosine
    FROM embeddings
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 15
    """,
)
def incremental_topk_q(spark, sf_dir):
    """Incremental top-k maintenance under appends
    (operators.similarity.cosine_topk_incremental): the corpus arrives
    as THREE disjoint batches (vec_id mod 3) folded one at a time into
    a ≤k-row persisted state — history never re-scanned — and the
    final state must equal the oracle's single-pass top-k over the
    whole table (the monotone-mergeability of top-k, exercised
    end-to-end through the atomic state commit)."""
    from ..operators.similarity import cosine_topk_incremental

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    state = scratch_dir("inc_topk_")
    out = None
    for m in (0, 1, 2):
        out = cosine_topk_incremental(
            spark,
            state,
            emb.filter(F.col("vec_id") % 3 == m),
            qvec,
            k=15,
            round_to=4,
        )
    return out


@query(
    "hard_negatives_embeddings",
    """
    WITH c AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), a AS (
      SELECT vec_id AS anchor_id, label AS anchor_label, e AS ae
      FROM c WHERE vec_id < 10
    ), s AS (
      SELECT a.anchor_id, a.anchor_label,
             c.vec_id AS negative_id, c.label AS negative_label,
             ROUND(list_cosine_similarity(c.e, a.ae), 6) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY a.anchor_id
               ORDER BY ROUND(list_cosine_similarity(c.e, a.ae), 6) DESC,
                        c.vec_id ASC) AS rn
      FROM c JOIN a ON c.label <> a.anchor_label
    )
    SELECT anchor_id, anchor_label, negative_id, negative_label, cosine
    FROM s WHERE rn = 1
    """,
)
def hard_negatives_q(spark, sf_dir):
    """Hard-negative mining for contrastive/embedding training (the
    batch-construction step of SimCLR/DPR-style training: the most
    similar OTHER-class example per anchor is the gradient-richest
    negative).  Anchors (bounded set) broadcast against one corpus
    scan — the ``cosine_topk_many`` shape with a label-inequality
    predicate; per-anchor argmax via an anchor-keyed window (never
    global).  Same-label rows (self included) are excluded by the
    predicate itself."""
    from ..functions.vectors import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    c = emb.select("vec_id", "label", "embedding")
    a = c.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("ae"),
    )
    joined = c.join(
        F.broadcast(a), F.col("label") != F.col("anchor_label")
    ).select(
        "anchor_id",
        "anchor_label",
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        F.round(cosine_similarity(F.col("embedding"), F.col("ae")), 6).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id").asc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "knn_label_accuracy_embeddings",
    """
    WITH c AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), p AS (
      SELECT vec_id AS pid, label AS tlbl, e AS pe
      FROM c WHERE vec_id < 50
    ), nn AS (
      SELECT p.pid, p.tlbl, c.label AS nlbl,
             ROW_NUMBER() OVER (
               PARTITION BY p.pid
               ORDER BY ROUND(list_cosine_similarity(c.e, p.pe), 6) DESC,
                        c.vec_id ASC) AS rn
      FROM c JOIN p ON c.vec_id <> p.pid
    ), votes AS (
      SELECT pid, tlbl, nlbl, COUNT(*) AS v
      FROM nn WHERE rn <= 5 GROUP BY pid, tlbl, nlbl
    ), pred AS (
      SELECT pid, tlbl, nlbl AS plbl,
             ROW_NUMBER() OVER (
               PARTITION BY pid ORDER BY v DESC, nlbl ASC) AS r
      FROM votes
    )
    SELECT tlbl AS label,
           COUNT(*) AS n_probes,
           CAST(SUM(CASE WHEN plbl = tlbl THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           ROUND(SUM(CASE WHEN plbl = tlbl THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
    FROM pred WHERE r = 1 GROUP BY tlbl
    """,
)
def knn_accuracy_q(spark, sf_dir):
    """Embedding-quality eval via 5-NN label prediction: for a bounded
    probe set, the majority label of the 5 nearest neighbors
    (self excluded; ties → higher vote count then smaller label)
    scored against the true label, per-class — the standard intrinsic
    check that an embedding space separates its classes BEFORE it is
    trusted for dedup/search/curation.  Probes broadcast against one
    corpus scan (the ``cosine_topk_many`` shape); every window is
    probe-keyed, never global."""
    from ..functions.vectors import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    c = emb.select("vec_id", "label", "embedding")
    p = c.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("pid"),
        F.col("label").alias("tlbl"),
        F.col("embedding").alias("pe"),
    )
    nn = (
        c.join(F.broadcast(p), F.col("vec_id") != F.col("pid"))
        .select(
            "pid",
            "tlbl",
            F.col("label").alias("nlbl"),
            F.round(
                cosine_similarity(F.col("embedding"), F.col("pe")), 6
            ).alias("cosine"),
            "vec_id",
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("pid").orderBy(
                    F.col("cosine").desc(), F.col("vec_id").asc()
                )
            ),
        )
        .filter(F.col("rn") <= 5)
    )
    votes = nn.groupBy("pid", "tlbl", "nlbl").agg(
        F.count(F.lit(1)).alias("v")
    )
    pred = (
        votes.withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("pid").orderBy(
                    F.col("v").desc(), F.col("nlbl").asc()
                )
            ),
        )
        .filter(F.col("r") == 1)
        .select("pid", "tlbl", F.col("nlbl").alias("plbl"))
    )
    return pred.groupBy(F.col("tlbl").alias("label")).agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(
            F.when(F.col("plbl") == F.col("tlbl"), 1).otherwise(0)
        ).cast("bigint").alias("n_correct"),
        F.round(
            F.sum(F.when(F.col("plbl") == F.col("tlbl"), 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("accuracy"),
    )


@query(
    "embedding_near_dup",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(
                   list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 4) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(
            list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
            list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.4
    """,
)
def emb_near_dup_q(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (exact verify kernel)."""
    from ..operators.dedup import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    out = embedding_near_dup_pairs(emb, "vec_id", "embedding", threshold=0.4)
    return out.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


@query(
    "embedding_near_dup_bucketed",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(
                   list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 4) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(
            list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
            list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.4
    """,
)
def emb_near_dup_bucketed_q(spark, sf_dir):
    """Embedding near-dup via multi-table hyperplane LSH — the 100 TB
    path (no driver-side collect; per-bucket matmul kernel).  Checked
    against the SAME exact all-pairs oracle: the seeded hyperplanes
    make the result deterministic, and at these table/plane settings
    recall is 1.0 on this corpus (verified at sf0.001/0.01/0.1 — 49
    tables cover every τ≥0.4 pair at sf0.1, 64 leaves margin; false
    positives are impossible — cosine is computed exactly in the
    kernel)."""
    from ..operators.dedup import embedding_near_dup_pairs_bucketed

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    out = embedding_near_dup_pairs_bucketed(
        emb, "vec_id", "embedding", threshold=0.4, num_planes=4, num_tables=64
    )
    return out.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


@query(
    "minhash_near_dup_docs",
    rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      FROM documents
    ), d AS MATERIALIZED (
      -- short docs fall back to ONE whole-doc shingle, exactly like
      -- shingles_from_tokens: dropping them instead would silently
      -- miss identical-short-doc pairs on corpora that ship them
      SELECT doc_id,
             CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
                    range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                  ELSE [array_to_string(w, ' ')] END AS sh
      FROM toks
    ), {_SHINGLE_INTER_SQL}
    SELECT id_a, id_b, ROUND(c::DOUBLE / (na + nb - c), 6) AS jaccard
    FROM inter WHERE c::DOUBLE / (na + nb - c) >= 0.7""",
)
def minhash_q(spark, sf_dir):
    """MinHash-LSH near-dup pairs (banded; candidates only from shared
    buckets, exact-Jaccard verified).  3-gram shingles + τ=0.7 target
    the driver data's injected near-dups (j≈0.98) — 16 bands × 4 rows
    puts the S-curve threshold at (1/16)^(1/4) ≈ 0.5, so recall at
    0.98 is ~1 while random pairs (j≈0) never collide."""
    from ..operators.dedup import minhash_near_dup_pairs

    d = load_table(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(
        d, "doc_id", "text", threshold=0.7, shingle_k=3, num_hashes=64, bands=16
    )


@query(
    "jaccard_near_dup_docs",
    rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      FROM documents
    ), d AS MATERIALIZED (
      -- short docs fall back to ONE whole-doc shingle, exactly like
      -- shingles_from_tokens: dropping them instead would silently
      -- miss identical-short-doc pairs on corpora that ship them
      SELECT doc_id,
             CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
                    range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                  ELSE [array_to_string(w, ' ')] END AS sh
      FROM toks
    ), {_SHINGLE_INTER_SQL}
    SELECT id_a, id_b, ROUND(c::DOUBLE / (na + nb - c), 6) AS jaccard
    FROM inter WHERE c::DOUBLE / (na + nb - c) >= 0.7
    """,
)
def jaccard_q(spark, sf_dir):
    """EXACT n-gram-Jaccard near-dup pairs via inverted shingle index
    (zero false negatives — the DuckDB oracle does the O(n²) compare;
    the Spark plan only ever scores pairs sharing a shingle)."""
    from ..operators.dedup import jaccard_near_dup_pairs

    d = load_table(spark, sf_dir, "documents")
    return jaccard_near_dup_pairs(d, "doc_id", "text", threshold=0.7, shingle_k=3)


def _simhash_oracle() -> str:
    """Full SQL twin of simhash_near_dup_pairs(hash_fn='md5_60'):
    identical shingling (3-gram, distinct, whole-doc fallback for
    short docs), the same portable 60-bit md5 token hash, 60 bit-vote
    aggregates building the signature, then the O(n²) pair compare the
    Spark side's 4×16 banding only approximates from below — full
    recall at Hamming ≤ 3 is the pigeonhole guarantee, so the two
    engines agree exactly."""
    bit_terms = "\n           + ".join(
        f"(CASE WHEN SUM(CASE WHEN ((h >> {j}) & 1) = 1 THEN 1 ELSE -1 END)"
        f" > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(60)
    )
    return rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      FROM documents
    ), d AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
                    range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                  ELSE [array_to_string(w, ' ')] END AS sh
      FROM toks
    ), hashed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(unnest(sh)), 1, 15) AS BIGINT) AS h
      FROM d
    ), sigs AS MATERIALIZED (
      SELECT doc_id,
           {bit_terms} AS sig
      FROM hashed GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 3
    """


@query("simhash_near_dup_docs", None)  # oracle attached below (generated SQL)
def simhash_q(spark, sf_dir):
    """SimHash near-dup pairs (64-bit signatures, 16-bit banding; the
    4×16 pigeonhole guarantees full recall at Hamming ≤ 3).  The gate
    uses the portable md5-based token hash so the DuckDB oracle can
    rebuild the signatures bit-for-bit; production callers keep the
    xxhash64 default (same plan, cheaper hash)."""
    from ..operators.dedup import simhash_near_dup_pairs

    d = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(
        d, "doc_id", "text", max_hamming=3, shingle_k=3, hash_fn="md5_60"
    )


O["simhash_near_dup_docs"] = _simhash_oracle()


@query(
    "cosine_topk_many_embeddings",
    """
    WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings WHERE vec_id < 3),
         c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings)
    SELECT query_id, vec_id, cosine FROM (
      SELECT q.vec_id AS query_id, c.vec_id,
             ROUND(list_cosine_similarity(c.v, q.v), 6) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY ROUND(list_cosine_similarity(c.v, q.v), 6) DESC,
                        c.vec_id ASC) AS rn
      FROM q CROSS JOIN c) t
    WHERE rn <= 5
    """,
)
def cosine_topk_many_q(spark, sf_dir):
    """Batched exact top-k for several query vectors in ONE corpus scan
    (broadcast queries + per-query window top-k)."""
    from ..operators.similarity import cosine_topk_many

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return cosine_topk_many(emb, queries, k=5)


def _lsh_topk_oracle() -> str:
    """DuckDB replica of cosine_topk_lsh's exact semantics: the seeded
    hyperplanes are literal doubles, so the bucket assignment (sign of
    each plane dot product) is reproducible engine-to-engine — the
    'approximate' operator is deterministic and carries a full oracle."""
    from ..operators.similarity import _hyperplanes

    planes = _hyperplanes(dim=64, num_planes=6, seed=42)

    def lst(v):
        return "[" + ",".join(repr(float(x)) for x in v) + "]"

    def bucket(var):
        return " + ".join(
            f"(CASE WHEN list_inner_product({var}, {lst(p)}) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )

    return f"""
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      FROM embeddings WHERE vec_id = 0
    ), c AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    )
    SELECT vec_id,
           ROUND(list_cosine_similarity(e, (SELECT qe FROM q)), 6) AS cosine
    FROM c
    WHERE ({bucket('e')}) = (SELECT {bucket('qe')} FROM q)
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """


@query("lsh_topk_embeddings", None)  # oracle attached below (generated SQL)
def lsh_topk_q(spark, sf_dir):
    """ANN top-k via random-hyperplane LSH bucket restriction."""
    from ..operators.similarity import cosine_topk_lsh

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return cosine_topk_lsh(emb, qvec, k=10, num_planes=6)


O["lsh_topk_embeddings"] = _lsh_topk_oracle()


def _lsh_multiprobe_oracle() -> str:
    """The lsh_topk oracle's bucket expressions with the probe set
    widened to Hamming distance ≤ 1 (bit_count of the signature XOR)
    — the same planes+1 buckets the Spark side enumerates as
    literals."""
    from ..operators.similarity import _hyperplanes

    planes = _hyperplanes(dim=64, num_planes=6, seed=42)

    def lst(v):
        return "[" + ",".join(repr(float(x)) for x in v) + "]"

    def bucket(var):
        return " + ".join(
            f"(CASE WHEN list_inner_product({var}, {lst(p)}) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )

    return f"""
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      FROM embeddings WHERE vec_id = 0
    ), qb AS (
      SELECT CAST({bucket('qe')} AS BIGINT) AS b FROM q
    ), c AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    )
    SELECT vec_id,
           ROUND(list_cosine_similarity(e, (SELECT qe FROM q)), 6) AS cosine
    FROM c
    WHERE bit_count(xor(CAST({bucket('e')} AS BIGINT),
                        (SELECT b FROM qb))) <= 1
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """


@query("lsh_multiprobe_topk_embeddings", None)  # oracle attached below
def lsh_multiprobe_q(spark, sf_dir):
    """Multi-probe LSH ANN (similarity.cosine_topk_lsh_multiprobe —
    Lv et al., VLDB 2007): the query bucket plus its 6 Hamming-1
    neighbors, enumerated driver-side as literal bucket ids (the
    partition-prunable form), then exact rank — 7/64ths of the corpus
    for materially better recall than the single-bucket probe."""
    from ..operators.similarity import cosine_topk_lsh_multiprobe

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return cosine_topk_lsh_multiprobe(emb, qvec, k=10, num_planes=6)


O["lsh_multiprobe_topk_embeddings"] = _lsh_multiprobe_oracle()


@query(
    "sessionize_capped_events",
    """
    WITH RECURSIVE e AS (
      SELECT user_id, epoch_us(ts) AS t,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), walk AS (
      SELECT user_id, rn, t, 1 AS session_idx, t AS session_start
      FROM e WHERE rn = 1
      UNION ALL
      SELECT n.user_id, n.rn, n.t,
             CASE WHEN n.t - w.t > 1800000000
                    OR n.t - w.session_start > 7200000000
                  THEN w.session_idx + 1 ELSE w.session_idx END,
             CASE WHEN n.t - w.t > 1800000000
                    OR n.t - w.session_start > 7200000000
                  THEN n.t ELSE w.session_start END
      FROM e n JOIN walk w
        ON n.user_id = w.user_id AND n.rn = w.rn + 1
    )
    SELECT user_id, session_idx,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(t) AS start_us, MAX(t) AS end_us
    FROM walk GROUP BY user_id, session_idx
    ORDER BY user_id, session_idx
    """,
)
def sessionize_capped_q(spark, sf_dir):
    """Duration-capped sessionization (the GA4 rule: a session ends
    after a 30-minute gap OR when it has lasted 2 hours since its
    start) — genuinely recursive state, unlike the plain gap rule: a
    split depends on the running session START, which a window
    function cannot carry.  Same architecture as SES/Holt: one
    user-partitioned sort feeds an applyInPandas walk over each
    user's bounded event list; the oracle is the recursive-CTE twin
    over exact-microsecond integers (no float state at all).

    The walk jumps session-boundary-to-session-boundary in numpy
    (O(sessions · log n) per user, C speed) instead of per-row
    Python: gap splits are position-independent (precomputed from
    diff once), and from a session start at t[i] the cap split is
    just searchsorted(t, t[i] + CAP, 'right') — the per-row loop was
    the #2 slowest headline at 4.4 s sf0.1."""
    import numpy as np
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        epoch_us("ts").alias("t"),
        "event_id",
    )

    GAP, CAP = 1_800_000_000, 7_200_000_000

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["t", "event_id"]).reset_index(drop=True)
        t = pdf["t"].to_numpy()
        n = len(t)
        # positions where a >GAP silence forces a split regardless of
        # session start — fixed for the whole user, computed once
        gap_idx = np.flatnonzero(np.diff(t) > GAP) + 1
        sess = np.empty(n, dtype=np.int32)
        i, sid = 0, 0
        while i < n:
            sid += 1
            g = gap_idx.searchsorted(i, side="right")
            next_gap = gap_idx[g] if g < len(gap_idx) else n
            # first event strictly beyond start + CAP (t sorted)
            next_cap = int(np.searchsorted(t, t[i] + CAP, side="right"))
            j = min(next_gap, next_cap)  # > i: both bounds exceed i
            sess[i:j] = sid
            i = j
        pdf["session_idx"] = sess
        return pdf[["user_id", "t", "session_idx"]]

    # explicit-width repartition on the grouping key: it satisfies the
    # walk's required clustering, so no second exchange is inserted —
    # and unlike the implicit one, AQE won't coalesce it to a single
    # partition when the shuffle is small (measured: that serialized
    # all ~1.5k per-user walks through ONE Python worker, 3.6 s of
    # pure per-group Arrow overhead; explicit 32-way is 0.9 s)
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    walked = (
        base.repartition(width, "user_id")
        .groupBy("user_id")
        .applyInPandas(walk, "user_id long, t long, session_idx int")
    )
    return (
        walked.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("t").alias("start_us"),
            F.max("t").alias("end_us"),
        )
        .orderBy("user_id", "session_idx")
    )



@query(
    "interval_union_length_events",
    """
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s,
             epoch_us(ts) + 1800000000 AS e
      FROM events
    ), ord AS (
      SELECT user_id, s, e,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS max_prev_e
      FROM iv
    ), isl AS (
      SELECT user_id, s, e,
             SUM(CASE WHEN max_prev_e IS NULL OR s > max_prev_e
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS island
      FROM ord
    ), merged AS (
      SELECT user_id, island, MIN(s) AS s, MAX(e) AS e
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(e - s) AS BIGINT) AS covered_us
    FROM merged GROUP BY user_id ORDER BY user_id
    """,
)
def interval_union_q(spark, sf_dir):
    """Interval-union coverage (merge overlapping intervals, total
    covered time): each event opens a 30-minute activity interval;
    islands form where a start exceeds the running MAX of prior ends
    — the monotone-state trick that keeps this pure windows (running
    max + cumulative island counter), no recursion, no pandas.  The
    billing/uptime primitive (distinct covered seconds, not event
    counts).  All integer microseconds; two user-partitioned windows
    + one grouped merge."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        epoch_us("ts").alias("s"),
        (epoch_us("ts") + F.lit(1_800_000_000)).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e")
    ordd = iv.withColumn(
        "max_prev_e",
        F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)),
    )
    isl = ordd.withColumn(
        "island",
        F.sum(
            F.when(
                F.col("max_prev_e").isNull()
                | (F.col("s") > F.col("max_prev_e")),
                1,
            ).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = isl.groupBy("user_id", "island").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    return (
        merged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum(F.col("e") - F.col("s")).cast("long").alias(
                "covered_us"
            ),
        )
        .orderBy("user_id")
    )


@query(
    "clamped_balance_users_events",
    """
    WITH RECURSIVE e AS (
      SELECT user_id,
             CAST(ROUND(value * 10000) AS BIGINT) - 500000 AS delta,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), walk AS (
      SELECT user_id, rn, delta,
             greatest(CAST(0 AS BIGINT), delta) AS bal
      FROM e WHERE rn = 1
      UNION ALL
      SELECT n.user_id, n.rn, n.delta,
             greatest(CAST(0 AS BIGINT), w.bal + n.delta)
      FROM e n JOIN walk w
        ON n.user_id = w.user_id AND n.rn = w.rn + 1
    )
    SELECT user_id,
           CAST(MAX(rn) AS BIGINT) AS n_events,
           MAX(bal) AS peak_scaled,
           MAX(CASE WHEN rn = mx THEN bal END) AS final_scaled
    FROM walk JOIN (SELECT user_id AS u2, MAX(rn) AS mx
                    FROM walk GROUP BY user_id) m
      ON m.u2 = walk.user_id
    GROUP BY user_id ORDER BY user_id
    """,
)
def clamped_balance_q(spark, sf_dir):
    """Floor-clamped running balance (inventory/credit semantics:
    balance never goes below zero, so deficits do NOT carry).  The
    clamp LOOKS like a non-linear recurrence, but zero-floor clamping
    has the classic reflection identity
    ``bal_n = S_n − min(0, min_{k≤n} S_k)`` (prefix sum minus the
    most negative prefix — the Skorokhod reflection / max(0,·) fold
    closed form), so the whole walk is two user-partitioned windows
    and one grouped fold: pure whole-stage-codegen JVM, no Python at
    all (this replaced a per-row applyInPandas walk — round-6 perf
    sweep).  Deltas are value×1e4 − 50.0×1e4 as exact integers; the
    oracle is the recursive-CTE twin, which hash-proves the identity.
    Reports peak and final balance per user."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        (
            F.round(F.col("value") * 10_000).cast("long")
            - F.lit(500_000)
        ).alias("delta"),
        epoch_us("ts").alias("t"),
        "event_id",
    )

    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    bal = (
        base.withColumn("s", F.sum("delta").over(w))
        .withColumn("bal", F.col("s") - F.least(F.lit(0), F.min("s").over(w)))
    )
    return (
        bal.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("bal").alias("peak_scaled"),
            F.max_by("bal", F.struct("t", "event_id")).alias("final_scaled"),
        )
        .orderBy("user_id")
    )



@query(
    "rtbf_cascade_report",
    """
    WITH forget AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    ), o_del AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM forget)
    )
    SELECT 'customer' AS tbl,
           CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS rows_before,
           CAST((SELECT COUNT(*) FROM forget) AS BIGINT) AS rows_deleted,
           CAST((SELECT COUNT(*) FROM customer) -
                (SELECT COUNT(*) FROM forget) AS BIGINT) AS rows_after
    UNION ALL
    SELECT 'orders',
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
           CAST((SELECT COUNT(*) FROM o_del) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders) -
                (SELECT COUNT(*) FROM o_del) AS BIGINT)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_orderkey IN (SELECT o_orderkey FROM o_del))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem) -
                (SELECT COUNT(*) FROM lineitem
                 WHERE l_orderkey IN (SELECT o_orderkey FROM o_del))
                AS BIGINT)
    ORDER BY tbl
    """,
)
def rtbf_cascade_q(spark, sf_dir):
    """Right-to-be-forgotten cascade report: a deletion set of
    customers (the md5-free %-contract picks a deterministic ~1%)
    propagates through the FK graph — their orders, and those orders'
    line items — and the report pins exactly how many rows each table
    sheds.  The compliance-audit twin of an actual cascade delete:
    run it before the delete to scope blast radius, after to verify.

    Scale: two semi-joins down the FK chain (broadcast — the deletion
    set is small by construction; AQE handles it when it is not) +
    per-table counts.  No row is rewritten here; the actual delete is
    an anti-join write with the same plans."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    forget = customer.filter(F.col("c_custkey") % 97 == 0).select(
        "c_custkey"
    )
    o_del = orders.join(
        forget, orders["o_custkey"] == forget["c_custkey"], "left_semi"
    ).select("o_orderkey")
    l_del = lineitem.join(
        o_del, lineitem["l_orderkey"] == o_del["o_orderkey"], "left_semi"
    )

    def row(tbl, total_df, del_df):
        t = total_df.agg(F.count(F.lit(1)).alias("rows_before"))
        d = del_df.agg(F.count(F.lit(1)).alias("rows_deleted"))
        return (
            t.crossJoin(F.broadcast(d))
            .select(
                F.lit(tbl).alias("tbl"),
                "rows_before",
                "rows_deleted",
                (F.col("rows_before") - F.col("rows_deleted")).alias(
                    "rows_after"
                ),
            )
        )

    return (
        row("customer", customer, forget)
        .unionByName(row("orders", orders, o_del))
        .unionByName(row("lineitem", lineitem, l_del))
        .orderBy("tbl")
    )



@query("curation_pipeline_v3", None)  # oracle attached below (composed)
def curation_v3_q(spark, sf_dir):
    """Round-5 curation pipeline end to end: data-contract quarantine
    (short/empty docs dead-lettered) → WINNOWING near-dup pair
    detection over the clean set (position-tolerant, max_df
    boilerplate guard) → one-pass dedup (drop the larger id of every
    pair) → per-source datasheet of survivors and dedup pressure.
    The composed twin of curation_pipeline_v2 with the round-5
    fingerprinting engine in the dedup seat; one hash-checked query
    pins the whole chain."""
    from ..operators.dedup import winnow_near_dup_pairs
    from ..operators.quality import quarantine

    d = load_table(spark, sf_dir, "documents")
    clean, _bad = quarantine(
        d,
        {
            "min_length": "n_chars >= 100",
            "nonempty_text": "COALESCE(trim(text), '') <> ''",
        },
    )
    clean = checkpoint(clean)
    pairs = winnow_near_dup_pairs(
        clean, "doc_id", "text", k=5, window=4, threshold=0.4, max_df=50
    )
    losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    survivors = clean.join(losers, "doc_id", "left_anti")
    per_src_clean = clean.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_clean")
    )
    per_src_drop = (
        clean.join(losers, "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_dropped"))
    )
    per_src_surv = survivors.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.sum("n_chars").cast("long").alias("survivor_chars"),
    )
    return (
        per_src_clean.join(per_src_drop, "source", "left")
        .join(per_src_surv, "source", "left")
        .select(
            "source",
            "n_clean",
            F.coalesce("n_dropped", F.lit(0)).cast("long").alias(
                "n_dropped"
            ),
            F.coalesce("n_survivors", F.lit(0)).cast("long").alias(
                "n_survivors"
            ),
            F.coalesce("survivor_chars", F.lit(0)).cast("long").alias(
                "survivor_chars"
            ),
            F.round(
                F.coalesce("n_dropped", F.lit(0))
                / F.col("n_clean").cast("double"),
                6,
            ).alias("dup_ratio"),
        )
        .orderBy("source")
    )


def _curation_v3_oracle() -> str:
    """Quarantine filter + the winnowing CTE chain re-rooted on the
    clean set + the pair/loser/datasheet folds — one composed SQL."""
    # deferred: _winnow_fp_sql lives in wave3_graph, which registers
    # AFTER this module — by the time any oracle calls this, it exists
    from .wave3_graph import _winnow_fp_sql

    fp_chain = _winnow_fp_sql(src_table="clean")
    return f"""
    WITH clean AS (
      SELECT doc_id, source, n_chars, text FROM documents
      WHERE COALESCE(n_chars >= 100, FALSE)
        AND COALESCE(trim(text), '') <> ''
    ), {fp_chain},
    dfp AS (SELECT DISTINCT doc_id, fp_hash FROM fp),
    kept AS (
      SELECT fp_hash FROM dfp GROUP BY fp_hash HAVING COUNT(*) <= 50
    ),
    dk AS (SELECT dfp.doc_id, dfp.fp_hash
           FROM dfp JOIN kept USING (fp_hash)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_fp FROM dk GROUP BY doc_id),
    sh AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM dk a JOIN dk b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    losers AS (
      SELECT DISTINCT id_b AS doc_id
      FROM sh
      JOIN sizes na ON na.doc_id = id_a
      JOIN sizes nb ON nb.doc_id = id_b
      WHERE shared / CAST(LEAST(na.n_fp, nb.n_fp) AS DOUBLE) >= 0.4
    )
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT) AS n_clean,
           CAST(SUM(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN l.doc_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_survivors,
           CAST(SUM(CASE WHEN l.doc_id IS NULL THEN c.n_chars
                         ELSE 0 END) AS BIGINT) AS survivor_chars,
           ROUND(SUM(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_ratio
    FROM clean c LEFT JOIN losers l ON l.doc_id = c.doc_id
    GROUP BY c.source ORDER BY c.source
    """





def _centroid_assign_sql(centroids) -> str:
    """DuckDB twin of ``similarity.assign_nearest_centroid`` over a
    double-list column ``e``: per-centroid squared-euclidean distance
    as the SAME left-to-right term chain the Catalyst expression uses,
    argmin via first-occurrence ``list_position`` — bit-identical
    assignment, exact-tie rule included."""
    chains = []
    for c in centroids:
        terms = " + ".join(
            f"(e[{i + 1}] - {float(v)!r}) * (e[{i + 1}] - {float(v)!r})"
            for i, v in enumerate(c)
        )
        chains.append(f"({terms})")
    return "[" + ",\n        ".join(chains) + "]"


def _ivf_topk_oracle() -> str:
    """IVF with a LITERAL coarse quantizer is fully SQL-expressible:
    replay the assignment, rank the 8 literal centroids against the
    query vector, keep the nprobe=2 nearest lists, exact cosine top-k
    within them (same shape as the lsh_topk generated oracle)."""
    from ..operators.similarity import fixed_centroids

    cents = fixed_centroids(64, 8, seed=7)

    def lst(v):
        return "[" + ",".join(repr(float(x)) for x in v) + "]"

    probes = "\n      UNION ALL ".join(
        f"SELECT {j} AS cl, list_cosine_similarity({lst(c)},"
        f" (SELECT qe FROM q)) AS s"
        for j, c in enumerate(cents)
    )
    return f"""
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      FROM embeddings WHERE vec_id = 0
    ), c AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), d AS (
      SELECT vec_id, e, {_centroid_assign_sql(cents)} AS dl FROM c
    ), a AS (
      SELECT vec_id, e,
             CAST(list_position(dl, list_min(dl)) - 1 AS INTEGER) AS cluster
      FROM d
    ), probe AS (
      SELECT cl FROM ({probes}) ORDER BY s DESC, cl ASC LIMIT 2
    )
    SELECT vec_id,
           ROUND(list_cosine_similarity(e, (SELECT qe FROM q)), 6) AS cosine
    FROM a WHERE cluster IN (SELECT cl FROM probe)
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """


@query("ivf_topk_embeddings", None)  # oracle attached below (generated SQL)
def ivf_topk_q(spark, sf_dir):
    """ANN top-k via IVF (nprobe=2 of 8 inverted lists — at scale the
    lists are partition-pruned files).  The gate uses the LITERAL
    seeded quantizer (``fixed_centroids``) so the whole operator —
    assignment, probe selection, within-list ranking — carries an
    exact SQL oracle; production callers train the quantizer
    (``ivf_assign``) for data-adaptive lists."""
    from ..operators.similarity import cosine_topk_ivf, fixed_centroids

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return cosine_topk_ivf(
        emb, qvec, k=10, nprobe=2, centroids=fixed_centroids(64, 8, seed=7)
    )


O["ivf_topk_embeddings"] = _ivf_topk_oracle()


@query("ivf_partitioned_topk_embeddings", None)  # oracle attached below
def ivf_partitioned_topk_q(spark, sf_dir):
    """The IVF index DEMONSTRATED end-to-end at the storage layer:
    build (scan → literal-quantizer assign → ``partitionBy("cluster")``
    parquet write), then query (centroid ranking on the driver →
    ``cluster IN (nprobe lists)`` → partition-pruned scan → exact
    cosine top-k).  Identical result contract to ``ivf_topk_embeddings``
    — what changes is WHERE the scan fraction comes from: here the
    unprobed lists' files are never opened (PartitionFilters, pinned in
    tests/test_plans.py and tests/test_operators.py).  At 100 TB the
    build runs once and the per-query cost is nprobe/n_clusters of the
    corpus files."""
    from ..operators.similarity import (
        build_ivf_index,
        cosine_topk_ivf_partitioned,
        fixed_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    cents = fixed_centroids(64, 8, seed=7)
    loc = scratch_dir("ivf_part_") + "/index"
    build_ivf_index(emb, loc, cents)
    return cosine_topk_ivf_partitioned(
        spark, loc, qvec, cents, k=10, nprobe=2
    )


O["ivf_partitioned_topk_embeddings"] = _ivf_topk_oracle()


def _multimodal_image_oracle(dim: int = 16) -> str:
    """DuckDB twin of the deterministic fake image decoder: the byte
    recurrence ``acc = (acc*31 + payload[i mod L]) mod 997`` unrolled
    as lateral-alias columns over ``hex(encode(text))`` byte lookups,
    features rounded through REAL exactly as Arrow narrows the UDF
    output to float32.  Every arithmetic step is associated in the
    same order on both engines, so the doubles are bit-identical — no
    ROUND needed anywhere."""
    byte = (
        lambda k: f"CAST('0x' || substr(H, 2*({k} % L) + 1, 2) AS INT)"
    )
    accs = [f"({byte(0)}) % 997 AS a0"] + [
        f"((a{k-1} * 31 + {byte(k)}) % 997) AS a{k}" for k in range(1, dim)
    ]
    feats = ", ".join(
        f"CAST(CAST(a{k} / 997.0 AS REAL) AS DOUBLE) AS f{k}"
        for k in range(dim)
    )
    checksum = " + ".join(f"f{k} * {float(k + 1)!r}" for k in range(dim))
    return f"""
    WITH base AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS H,
             octet_length(encode(text)) AS L
      FROM documents WHERE text IS NOT NULL AND text <> ''
    ), acc AS (
      SELECT media_id, {", ".join(accs)} FROM base
    ), f AS (
      SELECT media_id, {feats} FROM acc
    )
    SELECT media_id, {dim} AS feat_dim, f0, f7, f15,
           {checksum} AS checksum
    FROM f
    """


@query("multimodal_image_features", None)  # oracle attached below (generated)
def multimodal_q(spark, sf_dir):
    """Multimodal plumbing: binary payloads → Arrow-batched mapInPandas
    feature extraction.  The gate derives the media table from the
    real ``documents`` parquet (payload = UTF-8 bytes of text) so the
    deterministic fake-decode arithmetic has a full SQL twin — the
    decode kernel, batch shape, and float32 feature narrowing are all
    hash-checked, not just row-counted.  ``make_fake_media`` remains
    the unit-test fixture path."""
    from ..operators.multimodal import extract_image_features

    d = load_table(spark, sf_dir, "documents")
    media = d.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image/png").alias("mime"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    feats = extract_image_features(media, dim=16)

    def f(k):
        return F.col("feature").getItem(k).cast("double")

    checksum = f(0) * F.lit(1.0)
    for k in range(1, 16):
        checksum = checksum + f(k) * F.lit(float(k + 1))
    return feats.select(
        "media_id",
        F.size("feature").alias("feat_dim"),
        f(0).alias("f0"),
        f(7).alias("f7"),
        f(15).alias("f15"),
        checksum.alias("checksum"),
    )


O["multimodal_image_features"] = _multimodal_image_oracle()


def _multimodal_audio_oracle(n_samples: int = 64, ws: int = 32) -> str:
    """DuckDB twin of the integer-exact audio featurization at the
    gate's fixed duration (``n_samples`` decode steps → ``n/ws``
    windows): the acc recurrence unrolled as lateral-alias columns,
    ``c = 2*acc - 997`` (odd, never 0), per-window exact-integer sum
    of squares, ``rms = round(sqrt(ssq/ws)/1994, 6)`` — the same two
    IEEE roundings in the same order as the numpy kernel — and zcr as
    a sign-flip count over ws-1 adjacent pairs."""
    byte = lambda k: f"CAST('0x' || substr(H, 2*({k} % L) + 1, 2) AS INT)"

    def acc_expr(k: int) -> str:
        if k == 0:
            return f"({byte(0)}) % 997 AS a0"
        return f"((a{k-1} * 31 + {byte(k)}) % 997) AS a{k}"

    # stack the recurrence 8 steps per CTE: DuckDB binds lateral
    # column aliases by substitution, and a 64-deep chain in one
    # SELECT exceeds its binder recursion limit (128)
    step = 8
    acc_ctes = []
    for g in range(0, n_samples, step):
        cols = ", ".join(acc_expr(k) for k in range(g, min(g + step, n_samples)))
        src = "base" if g == 0 else f"acc{g // step - 1}"
        acc_ctes.append(f"acc{g // step} AS (SELECT *, {cols} FROM {src})")
    last_acc = f"acc{(n_samples - 1) // step}"
    cs = ", ".join(f"(2 * a{k} - 997) AS c{k}" for k in range(n_samples))
    windows = []
    for win in range(n_samples // ws):
        lo = win * ws
        ssq = " + ".join(f"c{k} * c{k}" for k in range(lo, lo + ws))
        flips = " + ".join(
            f"(CASE WHEN (c{k} > 0) <> (c{k + 1} > 0) THEN 1 ELSE 0 END)"
            for k in range(lo, lo + ws - 1)
        )
        windows.append(
            f"SELECT media_id, {win} AS window_id,\n"
            f"       ROUND(sqrt(({ssq}) / {float(ws)!r}) / 1994.0, 6)"
            f" AS rms,\n"
            f"       ROUND(({flips}) / {float(ws - 1)!r}, 6) AS zcr\n"
            f"    FROM c"
        )
    body = "\n    UNION ALL\n    ".join(windows)
    return f"""
    WITH base AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS H,
             octet_length(encode(text)) AS L
      FROM documents WHERE text IS NOT NULL AND text <> ''
    ), {", ".join(acc_ctes)}, c AS (
      SELECT media_id, {cs} FROM {last_acc}
    )
    {body}
    """


@query("multimodal_audio_features", None)  # oracle attached below (generated)
def audio_q(spark, sf_dir):
    """Windowed audio featurization (operators.multimodal.
    extract_audio_features): 1-row-in → N-windows-out mapInPandas,
    RMS + zero-crossing rate per window.  The gate derives media from
    the real ``documents`` parquet at a FIXED duration (3200 ms → 64
    samples → 2 windows) so the recurrence unrolls into a static SQL
    twin; the duration-varying path is pinned by unit tests."""
    from ..operators.multimodal import extract_audio_features

    d = load_table(spark, sf_dir, "documents")
    media = d.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio/wav").alias("mime"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit(3200).cast("long").alias("duration_ms"),
    )
    return extract_audio_features(media, window_samples=32).select(
        "media_id", "window_id", "rms", "zcr"
    )


O["multimodal_audio_features"] = _multimodal_audio_oracle()


@query(
    "multimodal_frame_sample",
    """
    WITH media AS (
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 2 = 0 THEN 'video/mp4'
                  ELSE 'audio/wav' END AS mime,
             n_chars * 20 AS duration_ms
      FROM documents
    )
    SELECT media_id, mime,
           CAST(unnest(list_transform(
             range(0, LEAST(CAST(floor(duration_ms / 500) AS INT) + 1, 16)),
             i -> i * 500)) AS INTEGER) AS frame_ts_ms
    FROM media
    """,
)
def frames_q(spark, sf_dir):
    """Video/audio frame-sampling plan (sequence+explode, no UDF) over
    ``documents``-derived media (duration = 20 ms per char) — pure
    Catalyst, full SQL twin."""
    from ..operators.multimodal import sample_frames

    d = load_table(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("video/mp4"))
        .otherwise(F.lit("audio/wav"))
        .alias("mime"),
        (F.col("n_chars") * 20).alias("duration_ms"),
    )
    return sample_frames(media, every_ms=500, max_frames=16)


# =====================================================================
# UDTF (Spark 4 @udtf — SURVEY.md §2.10 [EXT])
# =====================================================================

@query(
    "udtf_split_words",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id,
           CAST(unnest(generate_series(0, len(toks) - 1)) AS INT) AS pos,
           unnest(toks) AS token
    FROM t
    """,
)
def udtf_q(spark, sf_dir):
    """Python UDTF (Spark 4 ``@udtf``): one output row per token with
    its position, applied per input row via SQL LATERAL.  Arrow-
    optimized (``useArrow=True``) so batches cross the Python boundary
    columnar, not row-at-a-time pickling.  Tokenization is ASCII-\\s+
    (``re.ASCII``) to match the oracle's RE2 ``\\s`` exactly — Python's
    default ``str.split()`` also splits on unicode whitespace, which
    RE2 does not."""
    import re

    from pyspark.sql.functions import udtf

    ws = re.compile(r"\s+", re.ASCII)

    @udtf(returnType="pos: int, token: string", useArrow=True)
    class SplitWords:
        def eval(self, text: str):
            pos = 0
            for tok in ws.split(text or ""):
                if tok:
                    yield pos, tok
                    pos += 1

    spark.udtf.register("split_words", SplitWords)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, w.pos, w.token
        FROM docs_udtf d, LATERAL split_words(d.text) w
        WHERE d.doc_id < 100
        """
    )


