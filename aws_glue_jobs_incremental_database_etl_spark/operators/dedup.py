"""Deduplication operators for training-data pipelines (SURVEY.md §2.11).

All hash-based variants use Spark's deterministic hash functions
(``hash``/``xxhash64`` — seed-stable across executors and runs), so
results are reproducible cluster-wide.

Scale design notes (the point of each algorithm):

- **exact**: one hash-aggregate shuffle on the key — the cheapest.
- **MinHash + LSH**: shingle → B·R minhashes → band buckets →
  candidate pairs ONLY within buckets (the O(n²) all-pairs compare
  never materializes) → exact Jaccard verify on candidates.
- **SimHash**: one 64-bit signature per doc (map-only), near-dup =
  Hamming ≤ k, found by banding the signature into chunks so
  candidates share a chunk — again no all-pairs.
- **n-gram Jaccard**: exact verify kernel, also usable standalone on
  a bounded candidate set.
- **embedding near-dup**: cosine ≥ τ pairs via the similarity module.

Join-strategy discipline (round-10 sf10 probe finding): every join in
this module whose BOTH sides scale with the corpus (postings
self-joins, banded-bucket self-joins, candidate→signature joins,
survivor anti-joins) carries an explicit ``hint("merge")``.  Without
it, Catalyst's plan-time size estimate of derived frames (persisted /
exploded / aggregated) can undershoot the 64 MB auto-broadcast
threshold and BROADCAST a side that scales with the data — measured:
the minhash banded self-join planned as BroadcastHashJoin at sf1 and
died with notEnoughMemoryToBuildAndBroadcastTableError at sf10; at
100 TB that is a guaranteed OOM.  The merge hint pins the strategy to
the designed shuffle join END-TO-END (verified empirically: AQE
honors the hint and does NOT convert back to broadcast even when the
runtime size is small), costing a measured ~6% on the sf0.1 bench
total — the explicit price of never OOMing on an estimate.  A
deployment that wants runtime-size broadcasts instead can set
plan-time ``spark.sql.autoBroadcastJoinThreshold=-1`` and rely on
``spark.sql.adaptive.autoBroadcastJoinThreshold`` (AQE converts
unhinted joins from ACTUAL sizes); the hints are kept because they
are local, reviewable, and independent of session configuration.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..materialize import checkpoint
from .skew import postings_pairs


# ---------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, subset: list[str], order_by: list[str] | None = None) -> DataFrame:
    """Keep one row per key.

    Without ``order_by``: ``dropDuplicates(subset)`` (arbitrary
    survivor, cheapest — partial aggregation map-side).  With
    ``order_by``: deterministic survivor = first row in that order
    (row_number window, one shuffle on the key).
    """
    if not order_by:
        return df.dropDuplicates(subset)
    w = Window.partitionBy(*subset).orderBy(*[F.col(c) for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Repartition ahead of CPU-heavy per-row work (shingling, hashing,
    signatures).  A small-file corpus arrives as one scan partition —
    fine for IO, fatal for a compute-bound map stage that would
    otherwise run on a single core.  The shuffle moves raw text once
    (~bytes-per-doc), far cheaper than serializing the compute.  At
    real scale the scan already yields many partitions and this is a
    cheap hash exchange that also co-locates by id."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return df.repartition(n, F.col(key))


# ------------------------------------------------------------- shingles

def tokens_of(text_col):
    """Lower-cased whitespace tokens — the shared tokenization of every
    shingle-based operator.  Materialize this into a column BEFORE
    shingling (see ``shingles_from_tokens``)."""
    return F.split(F.trim(F.lower(text_col)), r"\s+")


def shingles_from_tokens(toks, k: int = 3):
    """k-token shingles (distinct) from an ALREADY-MATERIALIZED token
    array column.  The two-step form exists for performance: the
    shingle expression references its input 4 times (two size()s, the
    slice inside the transform lambda, the short-doc fallback), and
    Catalyst inlines non-materialized children into every reference —
    with the raw split() expression inlined that re-tokenizes the
    document per reference (measured 1.65x the whole shingle stage on
    sf0.1 documents; worse the longer the document).  Against a column
    reference the re-reads are free."""
    n = F.size(toks)
    return F.when(n >= k, F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )
    )).otherwise(F.array(F.concat_ws(" ", toks)))


def shingles(text_col, k: int = 3):
    """Single-expression convenience form of ``shingles_from_tokens``
    (k-token distinct shingles straight off a text column).  Fine for
    one-off expressions; hot paths should materialize ``tokens_of``
    into a column first and use ``shingles_from_tokens`` — see that
    docstring for why."""
    return shingles_from_tokens(tokens_of(text_col), k)


def ngram_jaccard(a_col, b_col) -> "F.Column":
    """Exact Jaccard similarity between two shingle-array columns."""
    inter = F.size(F.array_intersect(a_col, b_col))
    union = F.size(F.array_union(a_col, b_col))
    return F.when(union > 0, inter / union.cast("double")).otherwise(F.lit(0.0))


# -------------------------------------------------------- MinHash + LSH

def minhash_signature(shingle_col, num_hashes: int = 32):
    """Array of ``num_hashes`` minhashes: min over shingles of
    hash_i(shingle).  Families are derived from ONE xxhash64 of each
    shingle string re-mixed with ``F.hash(h, seed_i)`` (murmur3 over 8
    bytes) — hashing the variable-length string once instead of
    ``num_hashes`` times cuts per-shingle work ~10× and keeps every
    family deterministic cluster-wide.

    Single ``aggregate`` pass over the pre-hashed array with an
    array-of-mins accumulator — one traversal computing all families
    (the naive num_hashes× ``array_min(transform(...))`` formulation
    re-walks the array per family)."""
    hashed = F.transform(shingle_col, lambda s: F.xxhash64(s))
    return minhash_signature_hashed(hashed, num_hashes)


def minhash_signature_hashed(hashed_col, num_hashes: int = 32):
    """minhash_signature over an already-xxhash64'd shingle array."""
    init = F.array_repeat(F.lit(2147483647), num_hashes)

    def merge(acc, h):
        hs = F.array(*[F.hash(h, F.lit(i)) for i in range(num_hashes)])
        return F.zip_with(acc, hs, lambda a, b: F.least(a, b))

    return F.aggregate(hashed_col, init, merge)


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold) via
    MinHash-LSH banding.

    Plan shape: map (shingle+sign) → explode B bands → shuffle on
    (band, band_signature) → within-bucket self-join → exact Jaccard
    verify on the candidate set only.  With B bands of R rows a pair
    with similarity s collides with prob 1-(1-s^R)^B — tune bands for
    the target threshold; false positives are removed by the verify,
    false negatives are the (documented) LSH tradeoff.
    """
    rows = num_hashes // bands
    # "sh" is the xxhash64'd shingle set: band join and exact-Jaccard
    # verify both run on 8-byte longs, never re-shuffling shingle text.
    # Checkpointed: the banded frame feeds BOTH sides of the self-join —
    # without it Spark recomputes shingling + signatures per branch
    # (measured 2-3× the whole query's cost).
    sig = checkpoint(
        _spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")), "id")
        .withColumn("_toks", tokens_of(F.col("text")))
        .withColumn(
            "sh",
            F.transform(
                shingles_from_tokens(F.col("_toks"), shingle_k),
                lambda s: F.xxhash64(s),
            ),
        )
        .withColumn("mh", minhash_signature_hashed(F.col("sh"), num_hashes))
        .drop("text", "_toks")
    )
    banded = sig.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.hash(F.slice("mh", b * rows + 1, rows)).alias("bsig"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "sh", "bk.band", "bk.bsig")

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b.hint("merge"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("jaccard", ngram_jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _shared_shingle_counts(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int, max_postings: int
) -> DataFrame:
    """``(id_a, id_b, n_a, n_b, shared)`` for every document pair sharing
    a shingle outside the stop set: the candidate core of the exact
    Jaccard and containment joins.  ``n_*`` are the FULL shingle-set
    sizes; ``shared`` counts the kept shingles in common."""
    # postings carry 8-byte xxhash64 values, not shingle strings — set
    # equality is all the scores need, and the shuffle shrinks ~3× (a
    # 64-bit collision inside one near-dup pair is ~1e-9 at corpus
    # sizes where the exact algorithm is even applicable).
    # Materialized: uncached, the isnotnull filter Catalyst infers for
    # the explode re-tokenizes each document.
    sized = checkpoint(
        _spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")), "id")
        .select("id", tokens_of(F.col("text")).alias("_toks"))
        .select(
            "id",
            F.transform(
                shingles_from_tokens(F.col("_toks"), shingle_k),
                lambda s: F.xxhash64(s),
            ).alias("sh"),
        )
        .withColumn("n_sh", F.size("sh"))
    )
    postings = sized.select("id", "n_sh", F.explode("sh").alias("shingle"))
    return (
        postings_pairs(postings, "shingle", "id", max_postings, "stop-shingle", carry=("n_sh",))
        .groupBy(
            "id_a",
            "id_b",
            F.col("n_sh_a").alias("n_a"),
            F.col("n_sh_b").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )


def jaccard_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    shingle_k: int = 3,
    max_postings: int = 1000,
) -> DataFrame:
    """EXACT n-gram-Jaccard near-dup pairs (id_a < id_b, j ≥ threshold)
    via an inverted shingle index — no LSH false negatives.

    Plan: explode distinct shingles → self-join on shingle (candidate =
    any pair sharing ≥1 shingle; every pair with j > 0 shares one, so
    recall is exact) → count shared shingles per pair in the SAME
    aggregation (no re-walk) → j = shared / (|a| + |b| − shared).

    Scale levers: stop-shingles appearing in > ``max_postings`` docs are
    dropped from the index (a pair made ONLY of such shingles has
    j ≈ 0 at any realistic threshold); the pair-count aggregate is a
    single shuffle keyed by (id_a, id_b).
    """
    pair_shared = _shared_shingle_counts(df, id_col, text_col, shingle_k, max_postings)
    j = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double")
    return (
        pair_shared.withColumn("jaccard", j)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def containment_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_k: int = 3,
    max_postings: int = 1000,
) -> DataFrame:
    """Shingle-CONTAINMENT near-dup pairs: C = shared / min(|A|, |B|)
    ≥ ``threshold`` (id_a < id_b) — the asymmetric overlap measure
    Jaccard misses: a document embedded verbatim inside a much larger
    one has tiny Jaccard (union is huge) but containment ≈ 1, which
    is exactly the quote/boilerplate/subset-duplication shape a
    training-data decontamination pass must catch (Broder's
    containment, the measure behind suffix-array substring decontam).

    Shares its shared-shingle counts with :func:`jaccard_near_dup_pairs`
    (hash postings, stop-shingle ``max_postings`` guard, one pair
    aggregation); only the final score differs.  Jaccard rides along
    for calibration — C ≥ J always.
    """
    pair_shared = _shared_shingle_counts(df, id_col, text_col, shingle_k, max_postings)
    c = F.col("shared") / F.least("n_a", "n_b").cast("double")
    j = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double")
    return (
        pair_shared.withColumn("containment", c)
        .filter(F.col("containment") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.round("containment", 6).alias("containment"),
            F.round(j, 6).alias("jaccard"),
        )
    )


def jaccard_near_dup_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    shingle_k: int = 3,
) -> DataFrame:
    """EXACT n-gram-Jaccard near-dup pairs via PREFIX FILTERING — the
    classic set-similarity-join optimization (SSJoin/PPJoin family,
    public literature): under any single consistent global ordering of
    shingles, two sets with Jaccard ≥ τ MUST share an element within
    their first ``|A| − ⌈τ·|A|⌉ + 1`` elements, so only that prefix is
    indexed.  At τ=0.7 the inverted index shrinks ~70% and candidate
    pairs shrink quadratically; a length filter (τ·|A| ≤ |B| ≤ |A|/τ)
    prunes further.  Candidates are verified with the exact
    intersection over the FULL hashed-shingle arrays — recall is exact,
    like ``jaccard_near_dup_pairs``, without its stop-shingle cap.

    Plan: map (shingle+hash+sort) → explode prefix → shuffle on
    shingle → length-filtered self-join → pair dedup → verify join
    back to the signatures → exact Jaccard.
    """
    # consumed by the prefix index AND both verify joins
    sized = checkpoint(
        _spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")), "id")
        .select("id", tokens_of(F.col("text")).alias("_toks"))
        .select(
            "id",
            # global order = sorted hash values; any consistent total
            # order is valid for the prefix theorem
            F.array_sort(
                F.transform(
                    shingles_from_tokens(F.col("_toks"), shingle_k),
                    lambda s: F.xxhash64(s),
                )
            ).alias("sh"),
        )
        .withColumn("n_sh", F.size("sh"))
    )
    # prefix length |A| - ceil(τ|A|) + 1
    prefix_len = F.col("n_sh") - F.ceil(F.col("n_sh") * F.lit(float(threshold))).cast(
        "int"
    ) + 1
    prefix = sized.select(
        "id", "n_sh", F.explode(F.slice("sh", 1, prefix_len)).alias("shingle")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b.hint("merge"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter: τ|A| ≤ |B| ≤ |A|/τ (symmetric via min/max)
            & (F.col("b.n_sh") * F.lit(float(threshold)) <= F.col("a.n_sh"))
            & (F.col("a.n_sh") * F.lit(float(threshold)) <= F.col("b.n_sh")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_a = sized.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sig_b = sized.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sig_a.hint("merge"), "id_a")
        .join(sig_b.hint("merge"), "id_b")
        .withColumn("jaccard", ngram_jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_dedup(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.7, **kw
) -> DataFrame:
    """Drop near-duplicates: from each similar pair keep the smaller id
    (connected via pairwise edges; one LSH pass — transitive closure is
    intentionally not chased, matching standard one-pass dedup
    practice)."""
    pairs = minhash_near_dup_pairs(df, id_col, text_col, threshold, **kw)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers.hint("merge"), on=id_col, how="left_anti")


def quality_survivor_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Near-dup cluster resolution that keeps the BEST document per
    cluster instead of the smallest id — the survivor policy real
    curation runs want (drop the truncated/boilerplate variants, keep
    the highest-quality copy; see e.g. the dedup stages of RefinedWeb
    and Dolma, which rank survivors by length or quality score).

    ``pairs`` is any near-dup pair kernel's output (MinHash, SimHash,
    embedding — all shipped); clusters are their connected components
    (transitive closure, so A~B~C collapses to ONE survivor even when
    A,C were never directly paired).  Survivor = row_number 1 by
    (``quality_col`` DESC, id ASC) within the cluster — deterministic,
    total order.  Returns every input row with ``cluster`` (component
    id; singletons = own id) and ``survivor`` 0/1.

    Scale: components iterate over the PAIR graph only (tiny vs the
    corpus); the ranking window partitions by cluster — bounded
    cluster sizes mean bounded window partitions, never a global sort.
    """
    from .components import connected_components

    comp = connected_components(pairs, src, dst)
    labeled = (
        df.select(
            F.col(id_col).alias("id"), F.col(quality_col).alias("_q")
        )
        .join(comp.hint("merge"), "id", "left")
        .select(
            "id", "_q", F.coalesce("component", F.col("id")).alias("cluster")
        )
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("_q").desc(), F.col("id").asc()
    )
    return labeled.select(
        "id",
        "cluster",
        (F.row_number().over(w) == 1).cast("int").alias("survivor"),
        F.col("_q").alias(quality_col),
    )


# -------------------------------------------------------------- SimHash

_SIMHASH_UDF = None


def _simhash_from_hashes_udf():
    """Pandas UDF: array<long> of shingle hashes → 64-bit SimHash.

    The shingle hashes are computed JVM-side (xxhash64, deterministic
    cluster-wide); only the per-bit ±1 popcount runs in Python, fully
    vectorized ACROSS the whole Arrow batch — all docs' hashes are
    flattened into one array, ``np.unpackbits`` over the little-endian
    byte view yields a (total_shingles × 64) bit matrix, and
    ``np.add.reduceat`` at per-doc offsets gives each doc's column
    sums without a Python-level loop.  An earlier all-Catalyst
    formulation (64-wide array-of-sums ``aggregate`` lambda) spent
    ~10 s per query just compiling the generated code and evaluated
    ~5× slower — this is the documented "vectorized kernel" exception
    to the built-ins-first rule.

    The UDF instance is built once per process (module-level cache):
    re-creating it per call re-registers the Python function with the
    JVM and defeats plan caching.
    """
    global _SIMHASH_UDF
    if _SIMHASH_UDF is not None:
        return _SIMHASH_UDF
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def simhash_from_hashes(hs: pd.Series) -> pd.Series:
        if len(hs) == 0:
            return pd.Series([], dtype=np.int64)
        arrs = [np.asarray(a, dtype=np.int64) for a in hs]
        lens = np.array([len(a) for a in arrs], dtype=np.int64)
        nz = lens > 0  # shingles() always emits ≥1, but guard anyway
        out = np.zeros(len(arrs), dtype=np.int64)
        if nz.any():
            flat = np.concatenate([a for a in arrs if len(a)])
            # bytes little-endian → unpackbits(bitorder="little") puts
            # bit j of hash h at column j of the (n, 64) matrix
            bits = np.unpackbits(
                flat.view(np.uint8).reshape(len(flat), 8), axis=1, bitorder="little"
            ).astype(np.int64)
            nz_lens = lens[nz]
            offsets = np.zeros(len(nz_lens), dtype=np.int64)
            np.cumsum(nz_lens[:-1], out=offsets[1:])
            sums = np.add.reduceat(bits, offsets, axis=0)  # (n_docs, 64)
            votes = 2 * sums - nz_lens[:, None]  # Σ(±1) per bit
            sig_bits = (votes > 0).astype(np.uint8)
            out[nz] = np.packbits(sig_bits, axis=1, bitorder="little").view(
                np.int64
            ).ravel()
        return pd.Series(out)

    _SIMHASH_UDF = simhash_from_hashes
    return _SIMHASH_UDF


def _token_hash(col, hash_fn: str):
    """Per-shingle 64-bit hash column.

    ``xxhash64`` — the fast default (JVM intrinsic, seed 42).
    ``md5_60`` — portable 60-bit hash: first 15 hex chars of md5,
    parsed base-16.  Any engine that can md5 a string reproduces it
    bit-for-bit (DuckDB: ``CAST('0x' || substr(md5(g),1,15) AS
    BIGINT)``), which is what makes a full SQL oracle for SimHash
    possible; bits 60-63 are always 0, which only wastes 4 signature
    bits."""
    if hash_fn == "xxhash64":
        return F.xxhash64(col)
    if hash_fn == "md5_60":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def simhash64(text_col, shingle_k: int = 2, hash_fn: str = "xxhash64"):
    """64-bit SimHash of a document: bit i of the result = sign of
    Σ over shingles of (±1 if bit i of hash(shingle)).

    Shingling + hashing stay in Catalyst (map-only, no shuffle); the
    bit-vote reduction is an Arrow-batched vectorized kernel
    (``_simhash_from_hashes_udf``)."""
    hs = F.transform(
        shingles(text_col, shingle_k), lambda s: _token_hash(s, hash_fn)
    )
    return _simhash_from_hashes_udf()(hs)


def hamming64(a, b) -> "F.Column":
    """Hamming distance between two 64-bit signatures: native popcount
    of the XOR (`bit_count`, codegen intrinsic — the bin()-string
    regexp alternative allocates a 64-char string per pair)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    shingle_k: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ k, via 4×16-bit banding:
    any pair within distance ≤ 3 shares at least one exact 16-bit
    chunk (pigeonhole), so candidates come from equality buckets —
    no all-pairs."""
    # Checkpointed: both self-join sides read the signatures, so the
    # Pandas UDF runs once per document.
    sig = checkpoint(
        _spread(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")), "id"
        )
        .select("id", tokens_of(F.col("text")).alias("_toks"))
        .select(
            "id",
            _simhash_from_hashes_udf()(
                F.transform(
                    shingles_from_tokens(F.col("_toks"), shingle_k),
                    lambda s: _token_hash(s, hash_fn),
                )
            ).alias("sig"),
        )
    )
    chunks = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("sig", c * 16).bitwiseAND(F.lit(0xFFFF)).alias("ckey"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select("id", "sig", "ck.chunk", "ck.ckey")
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b.hint("merge"),
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ckey") == F.col("b.ckey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming64(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------- embedding near-dup

def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    max_broadcast_rows: int = 1_000_000,
) -> DataFrame:
    """Pairs of rows whose embeddings have cosine ≥ threshold — exact.

    One side is collected to a numpy matrix and broadcast; the scan
    side streams through an Arrow-batched ``mapInPandas`` doing a
    single ``batch @ matrixᵀ`` matmul per batch (BLAS).  The pairwise
    cosine kernel is the textbook case where a vectorized Pandas UDF
    beats per-pair Catalyst HOF expressions ~50×.

    Scale contract: the BROADCAST side must be bounded — the collect
    is capped at ``max_broadcast_rows`` and raises past it rather than
    OOMing the driver.  For corpus×corpus at 100 TB use
    ``embedding_near_dup_pairs_bucketed`` (LSH bucket → within-bucket
    matmul, nothing collected to the driver).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    ref = (
        df.select(F.col(id_col), F.col(vec_col))
        .limit(max_broadcast_rows + 1)
        .collect()
    )
    if len(ref) > max_broadcast_rows:
        raise ValueError(
            f"embedding_near_dup_pairs: corpus exceeds max_broadcast_rows="
            f"{max_broadcast_rows}; use embedding_near_dup_pairs_bucketed "
            f"(LSH-bucketed, fully distributed) for corpus-scale inputs"
        )
    ids = np.array([r[0] for r in ref], dtype=np.int64)
    mat = np.array([r[1] for r in ref], dtype=np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    spark = df.sparkSession
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    import pyspark.sql.types as T

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ref_ids, ref_mat = b_ids.value, b_mat.value
        for pdf in it:
            q = np.array(list(pdf[vec_col]), dtype=np.float64)
            q /= np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-12)
            sims = q @ ref_mat.T
            qi = pdf[id_col].to_numpy()
            rows_i, cols_j = np.nonzero(sims >= threshold)
            keep = qi[rows_i] < ref_ids[cols_j]
            yield pd.DataFrame(
                {
                    "id_a": qi[rows_i][keep],
                    "id_b": ref_ids[cols_j][keep],
                    # raw f64 — round ONCE at the consumer; an
                    # in-kernel round creates exact decimal half-points
                    # that a coarser re-round resolves differently per
                    # engine (double-rounding)
                    "cosine": sims[rows_i, cols_j][keep],
                }
            )

    return df.select(id_col, vec_col).mapInPandas(batches, out_schema)


def embedding_near_dup_pairs_bucketed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    num_planes: int = 6,
    num_tables: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs via multi-table hyperplane LSH — the
    100 TB path: NOTHING is collected to the driver.

    Plan: ONE corpus scan computes every table's bucket key at once —
    a vectorized Pandas UDF does a single ``batch @ planesᵀ`` matmul
    against the (tables × planes, dim) hyperplane matrix (same seeded
    generator as ``similarity.hyperplane_lsh_bucket``) — then
    ``posexplode`` → shuffle on (table, bucket) → per-bucket all-pairs
    matmul in an Arrow-batched ``applyInPandas`` kernel → union of
    tables, pair-deduped.  Cosine is computed exactly inside the
    kernel, so there are no false positives; recall is
    1 − (1 − p^planes)^tables per pair (p = 1 − θ/π) — ≥ 0.9999 for
    τ ≥ 0.95 at the defaults.

    Scale levers: more planes → smaller buckets (bound the per-group
    matmul), more tables → higher recall; the shuffle volume is
    tables × corpus rows, the scan cost is 1× regardless of tables.
    """
    import pyspark.sql.types as T
    from pyspark.sql.functions import pandas_udf

    from .similarity import _hyperplanes

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    # sample one row to learn the dimension without hardcoding it
    first = base.select(F.size("vec").alias("d")).first()
    if first is None:
        return df.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    dim = first["d"]
    planes = np.concatenate(
        [_hyperplanes(dim, num_planes, seed + 1000 * t) for t in range(num_tables)]
    )  # (tables*planes, dim)
    weights = 1 << np.arange(num_planes, dtype=np.int64)

    @pandas_udf("array<int>")
    def all_buckets(vs: pd.Series) -> pd.Series:
        m = np.array(list(vs), dtype=np.float64)  # (n, dim)
        bits = (m @ planes.T >= 0).reshape(len(m), num_tables, num_planes)
        vals = (bits * weights).sum(axis=2).astype(np.int32)  # (n, tables)
        return pd.Series(list(vals))

    exploded = base.select(
        "id", "vec", F.posexplode(all_buckets("vec")).alias("tbl", "bucket")
    )

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def pairs_in_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        ids = pdf["id"].to_numpy()
        mat = np.array(list(pdf["vec"]), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ mat.T
        i, j = np.nonzero(np.triu(sims >= threshold, k=1))
        lo, hi = np.minimum(ids[i], ids[j]), np.maximum(ids[i], ids[j])
        return pd.DataFrame(
            # raw f64 — see embedding_near_dup_pairs: round once, at
            # the consumer, never twice
            {"id_a": lo, "id_b": hi, "cosine": sims[i, j]}
        )

    return (
        exploded.groupBy("tbl", "bucket")
        .applyInPandas(pairs_in_bucket, out_schema)
        .dropDuplicates(["id_a", "id_b"])
    )


# ------------------------------------------------------- semantic dedup

def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.95,
    seed: int = 42,
    max_iter: int = 5,
    centroids=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication of an
    embedding corpus — cluster with KMeans, then within each cluster
    drop every row whose cosine to a LOWER-id row in the same cluster
    is ≥ ``threshold`` (min id is the deterministic representative,
    where the paper picks one per duplicate group).  Returns the
    surviving rows of ``df`` unchanged, plus their ``cluster``.

    Scale shape: the pairwise kernel never sees the corpus — only one
    cluster at a time (shuffle keyed on cluster, Arrow-batched
    ``applyInPandas``, one normalized matmul per group).  Cluster
    count is the lever: size clusters so corpus/n_clusters rows of
    vectors fit an executor (SemDeDup itself uses ~10^4-10^5 clusters
    at web scale).  The KMeans fit is the only full-corpus stage
    (seeded, ``pyspark.ml``); at 100 TB fit it on a sample or reuse
    the IVF index's quantizer (``similarity.ivf_assign`` — same
    call) instead of fitting per job.

    Unlike ``embedding_near_dup_pairs_bucketed`` (random hyperplane
    buckets, per-pair recall guarantee) the cluster partition is
    data-adaptive but cross-cluster duplicates are MISSED by design —
    the SemDeDup tradeoff, recall bounded by the quantizer.

    ``centroids`` (e.g. ``similarity.fixed_centroids``) swaps the
    trained quantizer for a literal one — cheaper (no fit pass) and
    exactly SQL-replayable, at the cost of data-adaptive clusters."""
    import pyspark.sql.types as T

    from .similarity import assign_nearest_centroid_arrow, ivf_assign

    if centroids is not None:
        # arrow kernel: bit-identical to the expression chain, but the
        # K·d-term literal expression overflows codegen method limits
        assigned = assign_nearest_centroid_arrow(df, centroids, vec_col)
    else:
        assigned, _ = ivf_assign(df, n_clusters, vec_col, seed, max_iter)
    # the losers branch and the final anti join both consume this frame
    # — uncut, the corpus scan + KMeans transform (the most expensive
    # map stage) would run twice
    assigned = checkpoint(assigned)

    # loser ids keep the caller's id type (string doc ids are fine —
    # the min-id winner rule only needs a total order, which the
    # pandas sort provides for any orderable dtype)
    loser_schema = T.StructType(
        [T.StructField("__loser_id", df.schema[id_col].dataType)]
    )

    def losers_in_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"__loser_id": []})
        pdf = pdf.sort_values("__sd_id")
        ids = pdf["__sd_id"].to_numpy()
        mat = np.array(list(pdf["__sd_vec"]), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ mat.T
        # row i loses iff some earlier (smaller-id) row matches it
        lose = (np.tril(sims >= threshold, k=-1)).any(axis=1)
        return pd.DataFrame({"__loser_id": ids[lose]})

    losers = (
        assigned.select(
            F.col("cluster"),
            F.col(id_col).alias("__sd_id"),
            F.col(vec_col).alias("__sd_vec"),
        )
        .groupBy("cluster")
        .applyInPandas(losers_in_cluster, loser_schema)
    )
    return assigned.join(
        losers.hint("merge"),
        assigned[id_col] == losers["__loser_id"],
        "left_anti",
    )


# ------------------------------------------------------- winnowing

def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    hash_fn: str = "gram_code",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every character ``k``-gram
    of the normalized text (lower-cased, non-alphanumerics stripped),
    slide a ``window`` of consecutive gram hashes, and select each
    window's minimum (leftmost on ties — engine-exact in both Spark
    and DuckDB).  The guarantee: any shared substring of length
    ``k + window - 1`` produces at least one shared fingerprint, and
    expected density is ``2/(window+1)`` — a tunable, position-aware
    sketch that exact-hash and MinHash dedup both lack.

    ``hash_fn``:

    * ``gram_code`` (default, requires ``k <= 8``) — NOT a hash but an
      exact base-128 integer encoding of the gram's ascii codes
      (``c1·128^(k-1) + … + ck``, < 2^63 for k ≤ 8 since codes < 128).
      Collision-FREE, engine-portable (pure integer arithmetic in both
      Spark and DuckDB), and ~4× cheaper than md5 — the gram stage is
      the dominant winnowing cost.  Min-selection becomes
      lexicographic-smallest-gram selection: the MOSS guarantee only
      needs a deterministic consistent ordering, so it holds
      unchanged; the trade-off is selection bias toward
      lexicographically small grams, which can skew posting lists on
      adversarial corpora (the pair join's ``max_df`` guard bounds
      that).
    * ``md5_60`` — engine-portable 60-bit md5 prefix; unbiased,
      use for ``k > 8``.
    * ``xxhash64`` — fastest unbiased path, JVM-private (no SQL twin).

    Returns one row per selected fingerprint: ``(id, pos, fp_hash)``
    where ``pos`` is the 1-based gram offset in the normalized text.

    Scale: everything up to the final explode is a per-document
    array expression (map-only, no shuffle); output is ~``2n/(window
    +1)`` rows per doc.  Documents shorter than ``k`` normalized chars
    contribute their whole cleaned text as a single gram (gram_code
    zero-pads the missing tail positions); empty docs are dropped."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if hash_fn not in ("gram_code", "md5_60", "xxhash64"):
        raise ValueError(
            f"hash_fn must be gram_code, md5_60 or xxhash64, got {hash_fn}"
        )
    if hash_fn == "gram_code" and k > 8:
        raise ValueError(
            f"gram_code packs k ascii codes into 63 bits, so k <= 8 "
            f"(got {k}); use md5_60 or xxhash64 for longer grams"
        )
    clean = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    base = (
        df.select(F.col(id_col), clean.alias("_clean"))
        .filter(F.length("_clean") > 0)
    )
    if hash_fn == "gram_code":
        # codes array once per doc, then each gram is k primitive
        # element_ats + shifts — no string slicing, no digest, no
        # per-gram allocation.  try_element_at past the end → NULL →
        # coalesce 0 (ascii('') is also 0 in both engines, so the
        # short-doc single gram is identically zero-padded).
        codes = F.transform(
            F.sequence(F.lit(1), F.length("_clean")),
            lambda i: F.ascii(F.col("_clean").substr(i, F.lit(1))).cast(
                "long"
            ),
        )
        base = base.select(id_col, codes.alias("_codes"))
        ngrams = F.greatest(F.size("_codes") - F.lit(k - 1), F.lit(1))

        def gram_hash_at(i):
            e = None
            for j in range(k):
                term = F.coalesce(
                    F.try_element_at("_codes", (i + F.lit(j)).cast("int")),
                    F.lit(0),
                ) * F.lit(128 ** (k - 1 - j))
                e = term if e is None else e + term
            return e

        hs = F.transform(F.sequence(F.lit(1), ngrams), gram_hash_at)
    else:
        ngrams = F.greatest(F.length("_clean") - F.lit(k - 1), F.lit(1))
        if hash_fn == "xxhash64":
            gram_hash = lambda g: F.xxhash64(g)  # noqa: E731
        else:
            gram_hash = lambda g: F.conv(  # noqa: E731
                F.substring(F.md5(g), 1, 15), 16, 10
            ).cast("long")
        hs = F.transform(
            F.sequence(F.lit(1), ngrams),
            lambda i: gram_hash(F.col("_clean").substr(i, F.lit(k))),
        )
    hashed = base.select(id_col, hs.alias("_hs"))
    nwin = F.greatest(F.size("_hs") - F.lit(window - 1), F.lit(1))

    # Allocation-free leftmost-min selection: window fixed element_at
    # probes + least() + a first-match coalesce chain — replaces the
    # earlier slice()+array_min()+array_position() form, which
    # allocated a w-long array AND a struct per window (measured ~25%
    # of the fingerprint stage at sf1).  try_element_at: the single
    # window of a shorter-than-w hash array probes past the end →
    # NULL, which least() skips and the when() chain never matches —
    # exactly list_min/list_position over the short slice.
    def win_sel(j):
        vals = [
            F.try_element_at("_hs", (j + F.lit(t)).cast("int"))
            for t in range(window)
        ]
        m = F.least(*vals) if window > 1 else vals[0]
        pos = F.coalesce(
            *[F.when(vals[t] == m, j + F.lit(t)) for t in range(window)]
        )
        return pos.cast("int")

    sel = F.array_distinct(
        F.transform(F.sequence(F.lit(1), nwin), win_sel)
    )
    return hashed.select(
        id_col, F.col("_hs"), F.explode(sel).alias("pos")
    ).select(
        id_col,
        "pos",
        F.element_at("_hs", F.col("pos")).alias("fp_hash"),
    )


def winnow_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    threshold: float = 0.5,
    max_df: int | None = 1000,
    hash_fn: str = "gram_code",
) -> DataFrame:
    """Near-duplicate pairs by winnowing-fingerprint overlap: the
    distinct fingerprint hashes per document form an inverted index,
    pairs sharing a hash are counted, and a pair survives when
    ``shared / min(|A|, |B|)`` (containment of the smaller side)
    reaches ``threshold``.  Position-tolerant by construction —
    insertions between shared runs move positions but not hashes.

    Scale: the pair generation is the postings self-join of the
    Jaccard family — bounded per hash bucket, never all-pairs.
    ``max_df`` is the 100 TB guard: fingerprints appearing in more
    than ``max_df`` documents (boilerplate) are dropped BEFORE the
    self-join, capping any bucket's fan-out at ``max_df²`` pairs.
    It defaults ON (1000) — an uncapped postings self-join is the one
    all-pairs blowup left in the dedup family, so disabling it is an
    explicit decision: pass ``max_df=None`` only when the corpus is
    known boilerplate-free (or small enough that df² fan-out is
    acceptable), and note that doing so makes results corpus-size-
    sensitive in the presence of templated text.
    """
    # gram_code (k <= 8) takes the Arrow numpy fast path — pinned
    # row-equal to the expression form by test_winnow_np_equals_expression
    if hash_fn == "gram_code" and k <= 8:
        raw = winnow_fingerprints_np(df, id_col, text_col, k, window)
    else:
        raw = winnow_fingerprints(df, id_col, text_col, k, window, hash_fn)
    fp = raw.select(id_col, "fp_hash").distinct()
    # |A| counts the document's KEPT fingerprints: a window evaluated
    # after the boilerplate cap, carried onto both pair sides
    n_fp = F.count(F.lit(1)).over(Window.partitionBy(id_col)).alias("n_fp")
    return (
        postings_pairs(fp, "fp_hash", id_col, max_df, "fingerprint-hash", carry=(n_fp,))
        .groupBy(
            F.col(f"{id_col}_a").alias("id_a"),
            F.col(f"{id_col}_b").alias("id_b"),
            "n_fp_a",
            "n_fp_b",
        )
        .agg(F.count("*").alias("shared"))
        .withColumn(
            "overlap",
            F.round(
                F.col("shared") / F.least("n_fp_a", "n_fp_b").cast("double"), 4
            ),
        )
        .filter(F.col("overlap") >= threshold)
        .select("id_a", "id_b", "shared", "overlap")
    )


# ------------------------------------------------- tf-idf cosine join

def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_postings: int = 1000,
    idf_scale: int = 10_000,
) -> DataFrame:
    """EXACT tf-idf weighted-cosine document-pair join via token
    postings — the weighted counterpart of the Jaccard inverted-index
    join: rare terms dominate the score instead of every shingle
    counting equally.

    Determinism contract: idf = ln((N+1)/(df+1)) + 1 is rounded and
    scaled to an INTEGER weight (``idf_scale`` = 4 decimal digits),
    so per-token weights, dot products, and squared norms all fold as
    exact BIGINTs (order-free across engines); the only float ops are
    one IEEE sqrt (correctly rounded by spec) and one division.
    Magnitudes: w = tf·idf·1e4 ≈ 1e6, w² ≈ 1e12, × vocab-per-doc
    stays orders under 2^63.

    Scale shape: the ``skew.postings_pairs`` self-join keyed by token
    with the same ``max_postings`` stop-term cap as the Jaccard join (a
    pair connected ONLY by ubiquitous terms scores ≈ 0 anyway); norms
    are a doc-keyed window over the kept postings, carried onto both
    pair sides; N broadcasts as a 1-row frame."""
    toks = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(tokens_of(F.col(text_col))).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = df.select(
        F.count(F.lit(1)).alias("n_docs")
    )
    # weights and norms are evaluated after the stop-term cap, so the
    # idf reads the kernel's per-token ``_df`` and the norm window sums
    # only the kept terms of each document
    w = F.col("tf") * F.round(
        (
            F.log(
                (F.col("n_docs") + 1).cast("double")
                / (F.col("_df") + 1).cast("double")
            )
            + 1.0
        )
        * idf_scale
    ).cast("long")
    n2 = F.sum(w * w).over(Window.partitionBy("id"))
    pairs = postings_pairs(
        toks.crossJoin(F.broadcast(n_docs)),
        "token",
        "id",
        max_postings,
        "stop-term",
        carry=(w.alias("w"), n2.alias("n2")),
    )
    return (
        pairs.groupBy("id_a", "id_b", "n2_a", "n2_b")
        .agg(F.sum(F.col("w_a") * F.col("w_b")).alias("dot"))
        .withColumn(
            "cos",
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(
                    F.col("n2_a").cast("double")
                    * F.col("n2_b").cast("double")
                ),
                4,
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def winnow_fingerprints_np(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Arrow fast path of ``winnow_fingerprints(hash_fn='gram_code')``
    — numpy sliding-window winnowing over the JVM-normalized text:
    gram codes as one vectorized base-128 dot, window minima via
    ``sliding_window_view`` + ``argmin`` (first occurrence = the
    leftmost-tie contract), zero-padding identical to the SQL form.
    Row-for-row EQUAL to the expression path (pinned by
    ``test_winnow_np_equals_expression``); ~2.5× faster on the map
    stage because the per-gram/per-window work runs as C loops
    instead of codegen'd array HOFs.  Normalization stays in the JVM
    (same regexp_replace) so the two paths can never disagree on
    cleaning.  Same 100 TB shape: map-only, no shuffle, no driver
    collect."""
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    if k < 1 or k > 8:
        raise ValueError(f"gram_code requires 1 <= k <= 8, got {k}")
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    clean = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    base = df.select(F.col(id_col), clean.alias("_clean")).filter(
        F.length("_clean") > 0
    )
    id_field = base.schema[id_col]
    out_schema = StructType(
        [
            id_field,
            StructField("pos", IntegerType()),
            StructField("fp_hash", LongType()),
        ]
    )
    weights = np.array([128 ** (k - 1 - j) for j in range(k)], dtype=np.int64)

    def block(batches):
        for pdf in batches:
            ids_out, pos_out, fp_out = [], [], []
            for did, c in zip(pdf[id_col], pdf["_clean"]):
                n = len(c)
                codes = np.frombuffer(
                    c.encode("ascii"), dtype=np.uint8
                ).astype(np.int64)
                ng = max(n - (k - 1), 1)
                padded = np.concatenate(
                    [codes, np.zeros(k, dtype=np.int64)]
                )
                idx = np.arange(ng)
                g = np.zeros(ng, dtype=np.int64)
                for j in range(k):
                    g += padded[idx + j] * weights[j]
                if ng >= window:
                    sw = np.lib.stride_tricks.sliding_window_view(
                        g, window
                    )
                    sel = np.arange(len(sw)) + np.argmin(sw, axis=1)
                else:
                    sel = np.array([int(np.argmin(g))])
                sel = np.unique(sel)
                ids_out.extend([did] * len(sel))
                pos_out.extend((sel + 1).tolist())
                fp_out.extend(g[sel].tolist())
            yield pd.DataFrame(
                {id_col: ids_out, "pos": pos_out, "fp_hash": fp_out}
            )

    return base.mapInPandas(block, out_schema)
