"""Similarity search over an embedding column (SURVEY.md §2.11).

- ``cosine_topk``          — exact brute force: map-only cosine pass +
                             ``TakeOrderedAndProject`` (no full sort,
                             no shuffle of the data — only k rows per
                             partition reach the driver-side merge).
- ``cosine_topk_many``     — batched exact top-k for MANY query
                             vectors: broadcast the queries, one pass
                             over the corpus, per-query window top-k.
- ``hyperplane_lsh_bucket``— random-hyperplane signatures for
                             LSH-bucketed ANN: at 100 TB, search only
                             the query's bucket (+ optional multiprobe
                             neighbors) instead of the corpus.
- ``cosine_topk_lsh``      — ANN top-k = bucket restrict → exact rank.

Hyperplanes are generated from a fixed seed so signatures are
deterministic across runs and executors.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..fsutil import fold
from ..functions.vectors import cosine_similarity, dot_product
from ..materialize import checkpoint


def cosine_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k rows most cosine-similar to one query vector.

    The query is a literal array (broadcast by value into the plan), so
    this is a single map-only scan followed by a global top-k — the
    optimal exact plan at any scale.

    ``round_to`` is the precision of the RANKING key, not just the
    output: ordering is (round(cosine, round_to) DESC, id ASC), so a
    caller comparing against an oracle that rounds before ORDER BY must
    pass the same precision — otherwise rows tied at the oracle's
    precision but distinct at ours are ranked differently near the
    k-boundary.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        corpus.select(
            F.col(id_col),
            F.round(cosine_similarity(F.col(vec_col), q), round_to).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_topk_many(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k per query vector, for a (small, broadcastable) query
    set: broadcast-cross-join then per-query window top-k.  Corpus is
    scanned once regardless of query count."""
    joined = corpus.join(F.broadcast(queries))
    scored = joined.select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(
            cosine_similarity(F.col(vec_col), F.col(query_vec_col)), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _hyperplanes(dim: int, num_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_planes, dim))


def fixed_centroids(dim: int, n: int, seed: int = 7) -> np.ndarray:
    """Seeded unit-norm random centroids — the data-INDEPENDENT coarse
    quantizer.  Lower assignment quality than trained KMeans, but the
    centroids are plain literals any engine can replay, which is what
    makes a full SQL oracle for IVF / SemDeDup possible (same trick as
    the LSH hyperplanes)."""
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((n, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def assign_nearest_centroid(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
) -> DataFrame:
    """Nearest-centroid assignment against LITERAL centroids, entirely
    in Catalyst: per-centroid squared-euclidean distance as an explicit
    left-to-right term chain (bit-reproducible in any engine — no fold
    reassociation), argmin via ``array_position(dists,
    array_min(dists))`` (first index wins exact ties).  Map-only, no
    UDF, no shuffle — the assignment side of an IVF index when the
    quantizer is fixed rather than trained (``ivf_assign``)."""
    arr = centroid_distances(centroids, vec_col)
    return df.withColumn(
        cluster_col,
        (F.array_position(arr, F.array_min(arr)) - 1).cast("int"),
    )


def centroid_distances(centroids, vec_col: str = "embedding") -> Column:
    """Array of per-centroid squared-euclidean distances as explicit
    left-to-right term chains — the engine-reproducible building block
    shared by assignment, cluster diagnostics, and their SQL twins."""
    dists = []
    for c in centroids:
        d = None
        for i, ci in enumerate(c):
            t = F.col(vec_col)[int(i)] - F.lit(float(ci))
            term = t * t
            d = term if d is None else d + term
        dists.append(d)
    return F.array(*dists)


def hyperplane_lsh_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 8,
    seed: int = 42,
    out_col: str = "bucket",
) -> DataFrame:
    """Append a 2^num_planes-way LSH bucket id: bit i = sign(v·hᵢ).

    Cosine-similar vectors land in the same bucket with probability
    (1 − θ/π)^planes; the hyperplanes are literal arrays folded into
    the plan (no UDF, no join).
    """
    planes = _hyperplanes(dim, num_planes, seed)
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        h = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(dot_product(F.col(vec_col), h) >= 0, 1).otherwise(0)
        bucket = bucket + F.shiftleft(bit, i)
    return df.withColumn(out_col, bucket)


def ivf_assign(
    corpus: DataFrame,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 5,
) -> tuple[DataFrame, np.ndarray]:
    """IVF coarse quantizer: KMeans (pyspark.ml, seeded) over the
    corpus; returns (corpus + ``cluster`` column, centroid matrix).

    This is the build side of an IVF index.  At 100 TB the cluster
    column becomes the partition key (``.write.partitionBy("cluster")``),
    so a query touches only nprobe/k of the data files — the classic
    inverted-file layout expressed as Spark partition pruning.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.withColumn("__feat", array_to_vector(F.col(vec_col)))
    model = KMeans(
        k=n_clusters, seed=seed, maxIter=max_iter, featuresCol="__feat",
        predictionCol="cluster",
    ).fit(feat)
    assigned = model.transform(feat).drop("__feat")
    centroids = np.array([np.asarray(c) for c in model.clusterCenters()])
    return assigned, centroids


def cosine_topk_ivf(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    centroids=None,
) -> DataFrame:
    """ANN top-k via IVF: rank centroids by cosine to the query, scan
    only the ``nprobe`` nearest inverted lists, exact-rank within them.

    Recall grows with nprobe (nprobe == n_clusters → exact); the scale
    win is scanning ~nprobe/n_clusters of the corpus.  In production
    the assignment is precomputed once (``ivf_assign`` + partitioned
    write), not per query — kept inline here so the operator is
    self-contained.  Pass ``centroids`` (e.g. ``fixed_centroids``) to
    use a literal quantizer instead of training KMeans — same inverted
    -file structure, and the whole operator gains an exact SQL twin.
    """
    if centroids is not None:
        centroids = np.asarray(centroids, dtype=np.float64)
        assigned = assign_nearest_centroid_arrow(corpus, centroids, vec_col)
    else:
        assigned, centroids = ivf_assign(corpus, n_clusters, vec_col, seed)
    q = np.asarray(query_vec, dtype=np.float64)
    norms = np.linalg.norm(centroids, axis=1) * np.linalg.norm(q)
    sims = (centroids @ q) / np.maximum(norms, 1e-12)
    probe = np.argsort(-sims)[:nprobe].tolist()
    return cosine_topk(
        assigned.filter(F.col("cluster").isin(probe)), query_vec, k, id_col, vec_col
    )


def build_ivf_index(
    corpus: DataFrame,
    out_path: str,
    centroids,
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
) -> str:
    """Materialize the corpus as an on-disk IVF inverted-file layout:
    one parquet partition directory per coarse-quantizer cluster
    (``cluster=<id>/part-*.parquet``).

    Assignment uses the Arrow kernel
    (``assign_nearest_centroid_arrow`` — bit-identical to the
    literal-centroid Catalyst expression and its SQL twins, and ~5×
    faster: the K·d-term expression blows past whole-stage codegen's
    method-size limits), so the build is scan → assign →
    cluster-keyed repartition → partitioned write.  The repartition
    keeps the file
    count at O(n_clusters) instead of O(tasks × n_clusters) — without
    it every scan task writes a sliver into every cluster directory,
    the small-files explosion sinks.py warns about; with 10^4–10^5
    clusters at production scale the shuffle also IS the write
    parallelism.  At 100 TB this runs once; every subsequent nprobe
    query reads only nprobe/len(centroids) of the files via partition
    pruning (shape pinned in
    tests/test_plans.py::test_ivf_partitioned_corpus_prunes_at_file_level).
    """
    assigned = assign_nearest_centroid_arrow(
        corpus, centroids, vec_col, cluster_col
    )
    assigned.repartition(F.col(cluster_col)).write.mode(
        "overwrite"
    ).partitionBy(cluster_col).parquet(out_path)
    return out_path


def binary_quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "bq",
    dim: int = 64,
) -> DataFrame:
    """1-bit binary quantization: pack the per-dimension SIGN bits of
    a ≤64-dim vector into one BIGINT (bit i = 1 iff v[i] ≥ 0) — the
    cheapest vector code there is (64 dims → 8 bytes, 32× under
    float32), and the modern first-pass filter of production vector
    stores.  Pure Catalyst: a 64-term literal shift/add chain, the
    same shape as the SimHash signature fold; map-only, engine-exact
    (sign of a double is not a rounding question)."""
    if not 1 <= dim <= 64:
        raise ValueError(f"dim must be in [1, 64], got {dim}")
    bits = None
    for i in range(dim):
        b = F.expr(
            f"shiftleft(CAST(CASE WHEN {vec_col}[{i}] >= 0 THEN 1 ELSE 0 END"
            f" AS BIGINT), {i})"
        )
        bits = b if bits is None else bits + b
    return df.withColumn(out_col, bits)


def binary_topk_rerank(
    corpus: DataFrame,
    query_vec: list,
    k: int = 10,
    candidates: int = 30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Two-stage ANN with 1-bit codes: Hamming-distance top-
    ``candidates`` over the packed sign bits (XOR + popcount — integer
    exact, a TakeOrdered over 8-byte codes), then EXACT cosine rerank
    of only those candidates to the final top-``k``.

    This is the standard refine pattern: the cheap first pass reads
    64× less data than the float vectors and is wrong in a bounded
    way (sign agreement approximates angle); the second pass restores
    exact ranking on a ``candidates``-row frame whose cost no longer
    depends on corpus size.  Both stages are deterministic
    (``(hamming, id)`` then ``(round(cosine), id)`` orders), so the
    whole composition carries an exact SQL twin."""
    dim = len(query_vec)
    if not 1 <= dim <= 64:
        raise ValueError(f"query dim must be in [1, 64], got {dim}")
    qbits = 0
    for i, x in enumerate(query_vec):
        if float(x) >= 0:
            qbits |= 1 << i
    if qbits >= 1 << 63:
        qbits -= 1 << 64  # BIGINT literal is signed two's complement
    coded = binary_quantize(corpus, vec_col, "bq", dim)
    cand = (
        coded.select(
            id_col,
            vec_col,
            # lit(int), not an SQL literal: -2^63 cannot be PARSED as
            # `-9223372036854775808L` (the positive token overflows
            # before negation applies)
            F.bit_count(
                F.col("bq").bitwiseXOR(F.lit(qbits))
            ).alias("hamming"),
        )
        .orderBy(F.col("hamming").asc(), F.col(id_col).asc())
        .limit(candidates)
    )
    return (
        cand.select(
            id_col,
            "hamming",
            F.round(
                cosine_similarity(
                    F.col(vec_col),
                    F.array(*[F.lit(float(x)) for x in query_vec]),
                ),
                round_to,
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def matryoshka_topk(
    corpus: DataFrame,
    query_vec: list,
    k: int = 10,
    candidates: int = 30,
    prefix_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Matryoshka two-stage search (Kusupati et al., NeurIPS 2022 —
    MRL-trained embeddings keep most of their signal in a prefix):
    rank by cosine over the FIRST ``prefix_dim`` dimensions to pick
    ``candidates``, then exact full-dimension rerank to the top
    ``k``.  The first pass reads/computes dim/prefix_dim less per row
    (16 of 64 here = 4×; 64 of 1024 in production = 16×) and is a
    plain map + TakeOrdered; the rerank touches ``candidates`` rows
    regardless of corpus size.  Both stages deterministic
    (``(round(prefix_cos), id)`` then ``(round(cos), id)``) — exact
    SQL twin via ``list_slice``."""
    if not 1 <= prefix_dim <= len(query_vec):
        raise ValueError(
            f"prefix_dim must be in [1, {len(query_vec)}], got {prefix_dim}"
        )
    qpref = [float(x) for x in query_vec[:prefix_dim]]
    cand = (
        corpus.select(
            id_col,
            vec_col,
            F.round(
                cosine_similarity(
                    F.slice(F.col(vec_col), 1, prefix_dim),
                    F.array(*[F.lit(x) for x in qpref]),
                ),
                6,
            ).alias("prefix_cos"),
        )
        .orderBy(F.col("prefix_cos").desc(), F.col(id_col).asc())
        .limit(candidates)
    )
    return (
        cand.select(
            id_col,
            "prefix_cos",
            F.round(
                cosine_similarity(
                    F.col(vec_col),
                    F.array(*[F.lit(float(x)) for x in query_vec]),
                ),
                round_to,
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def append_to_ivf_index(
    corpus_delta: DataFrame,
    index_path: str,
    centroids,
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
) -> str:
    """Maintain the on-disk IVF index under corpus growth WITHOUT a
    rebuild: assign the new batch against the SAME frozen coarse
    quantizer and append its rows into the existing ``cluster=<id>/``
    directories — per batch the cost is one map-only assign + one
    cluster-keyed shuffle of the DELTA, never a rescan of the indexed
    corpus (the inverted-file analogue of the bookmark pipeline's
    append-only contract).  Queries see the union immediately; the
    centroids must be the build's (a re-trained quantizer means a
    rebuild, as in any IVF system).  Appends are at-least-once under
    crash-replay — wrap in ``txn.StagedCommit`` or key batches by id
    (the ``exactly_once_batch_writer`` discipline) when the caller
    replays."""
    assigned = assign_nearest_centroid_arrow(
        corpus_delta, centroids, vec_col, cluster_col
    )
    assigned.repartition(F.col(cluster_col)).write.mode(
        "append"
    ).partitionBy(cluster_col).parquet(index_path)
    return index_path


def append_to_ivfpq_index(
    corpus_delta: DataFrame,
    index_path: str,
    centroids,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
) -> str:
    """:func:`append_to_ivf_index` for the IVF-PQ layout: corpus
    growth folds into the on-disk code index WITHOUT re-encoding the
    indexed corpus.  The delta is assigned against the SAME frozen
    coarse quantizer, residual-PQ-encoded against the SAME frozen
    codebooks (both must be the build's — retraining either means a
    rebuild, as in any IVF-PQ system), and its m-byte code rows append
    into the existing ``cluster=<id>/`` directories.  Per batch: one
    map-only assign+encode and one cluster-keyed shuffle of the DELTA;
    queries see the union immediately and ``append ≡ rebuild`` exactly
    (the gate value-hashes it), because encoding is per-row against
    frozen parameters.  At-least-once upstream replays need the same
    ``txn.StagedCommit`` / batch-keyed discipline as the raw path."""
    m = int(np.asarray(codebooks).shape[0])
    assigned = assign_nearest_centroid_arrow(
        corpus_delta, centroids, vec_col, cluster_col
    )
    enc = pq_encode_arrow(
        assigned, codebooks, vec_col, centers=centroids, cluster_col=cluster_col
    )
    codes = [f"code_{s}" for s in range(m)]
    (
        enc.select(id_col, cluster_col, *codes)
        .repartition(F.col(cluster_col))
        .write.mode("append")
        .partitionBy(cluster_col)
        .parquet(index_path)
    )
    return index_path


def cosine_topk_ivf_partitioned(
    spark,
    index_path: str,
    query_vec: list[float],
    centroids,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    schema=None,
) -> DataFrame:
    """Query side of the on-disk IVF index: rank the centroids against
    the query on the driver (len(centroids) dot products — trivially
    bounded), then scan ONLY the ``nprobe`` nearest inverted lists and
    exact-rank within them.  The ``cluster IN (...)`` predicate
    resolves against the directory layout (PartitionFilters), so files
    in unprobed lists are never opened — the IVF scan-fraction win as
    plain Spark partition pruning, no custom reader.

    Pass ``schema`` (the index's read schema, partition column
    included) to skip footer sampling at planning time: on a 100 TB
    index, inference would open a data-file footer just to learn a
    schema the caller already knows — and it may open it in a list the
    query never probes."""
    centroids = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    norms = np.linalg.norm(centroids, axis=1) * np.linalg.norm(q)
    sims = (centroids @ q) / np.maximum(norms, 1e-12)
    probe = np.argsort(-sims)[:nprobe].tolist()
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    idx = reader.parquet(index_path)
    return cosine_topk(
        idx.filter(F.col(cluster_col).isin(probe)), query_vec, k, id_col, vec_col
    )


def build_ivfpq_index(
    corpus: DataFrame,
    out_path: str,
    centroids,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
) -> str:
    """:func:`build_ivf_index` upgraded to store PQ RESIDUAL CODES
    instead of raw vectors — the two halves the round-4 operators
    demonstrated separately, combined (VERDICT r4 #6): the partitioned
    ``cluster=<id>/`` layout bounds WHAT is read (partition pruning),
    and the m-byte codes bound HOW MUCH each file holds (m ints vs
    4·dim floats per row — 64× here).  At 100 TB the probed lists'
    scan bytes drop by the same factor, which is the difference
    between an nprobe query being I/O-bound on vectors and reading
    kilobytes of codes.

    One pass: assign (Arrow kernel) → per-row residual encode against
    the OWN cluster's centroid (``pq_encode_arrow(centers=...)`` —
    no per-cluster plan branches) → cluster-keyed repartition →
    ``partitionBy(cluster)`` write of ``(id, code_0..code_{m-1})``
    ONLY.  The raw vector column is dropped before the write, so the
    on-disk files physically cannot serve un-quantized reads — the
    honest storage trade of an IVF-PQ index (keep the source corpus
    elsewhere for reranking)."""
    m = int(np.asarray(codebooks).shape[0])
    assigned = assign_nearest_centroid_arrow(
        corpus, centroids, vec_col, cluster_col
    )
    enc = pq_encode_arrow(
        assigned, codebooks, vec_col, centers=centroids, cluster_col=cluster_col
    )
    codes = [f"code_{s}" for s in range(m)]
    (
        enc.select(id_col, cluster_col, *codes)
        .repartition(F.col(cluster_col))
        .write.mode("overwrite")
        .partitionBy(cluster_col)
        .parquet(out_path)
    )
    return out_path


def ivfpq_topk_partitioned(
    spark,
    index_path: str,
    query_vec: list,
    centroids,
    codebooks: np.ndarray,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    cluster_col: str = "cluster",
    schema=None,
) -> DataFrame:
    """Query side of the on-disk IVF-PQ index: rank centroids on the
    driver, scan only the ``nprobe`` probed partitions (the
    ``cluster IN (...)`` predicate resolves to PartitionFilters — the
    files of unprobed lists are never opened), and ADC-score the
    stored residual codes against per-cluster LUTs built from
    ``q − centroid`` — a CASE over the nprobe probed clusters, so one
    scan serves every branch.  Per-row cost: m lookups + m−1 adds;
    per-query bytes: nprobe/n_clusters of the index's m-byte rows.
    Identical ranking contract to :func:`pq_ivf_topk_residual`
    (round-6 ADC key, id tie-break); pass ``schema`` to skip footer
    sampling exactly as :func:`cosine_topk_ivf_partitioned` does."""
    centroids = np.asarray(centroids, dtype=np.float64)
    cb = np.asarray(codebooks, dtype=np.float64)
    m, _, sub = cb.shape
    q = np.asarray(query_vec, dtype=np.float64)
    norms = np.linalg.norm(centroids, axis=1) * np.linalg.norm(q)
    sims = (centroids @ q) / np.maximum(norms, 1e-12)
    probe = np.argsort(-sims)[:nprobe].tolist()

    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    idx = reader.parquet(index_path).filter(F.col(cluster_col).isin(probe))

    def lut_for(cl: int, s: int) -> F.Column:
        cent = [float(x) for x in centroids[cl]]
        lut = []
        for cw in cb[s]:
            acc = None
            for i, ci in enumerate(cw):
                t = (float(query_vec[s * sub + i]) - cent[s * sub + i]) - float(ci)
                term = t * t
                acc = term if acc is None else acc + term
            lut.append(acc)
        return F.element_at(
            F.array(*[F.lit(v) for v in lut]), F.col(f"code_{s}") + 1
        )

    score = None
    for s in range(m):
        entry = None
        for cl in probe:
            branch = F.when(F.col(cluster_col) == cl, lut_for(cl, s))
            entry = branch if entry is None else entry.when(
                F.col(cluster_col) == cl, lut_for(cl, s)
            )
        score = entry if score is None else score + entry
    return (
        idx.select(
            F.col(id_col),
            F.col(cluster_col).cast("int").alias(cluster_col),
            F.round(score, 6).alias("adc_dist"),
        )
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ivfpq_refine_topk(
    spark,
    index_path: str,
    corpus: DataFrame,
    query_vec: list,
    centroids,
    codebooks: np.ndarray,
    k: int = 10,
    candidates: int = 30,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    schema=None,
    round_to: int = 4,
) -> DataFrame:
    """The FAISS refine step on top of the on-disk IVF-PQ index:
    ADC-rank the probed lists' m-byte codes to ``candidates``
    (:func:`ivfpq_topk_partitioned` — partition-pruned, codes-only
    scan), then join those ids back to the RAW corpus and exact-rank
    by cosine to the final ``k``.  Quantization error caps at the
    candidate boundary instead of the final ranking: the exact pass
    touches ``candidates`` vectors regardless of corpus size, joined
    via a broadcast of the ≤``candidates``-row id frame — so the full
    corpus is never scanned, only point-looked-up.  Deterministic at
    both stages (``(adc, id)`` then ``(round(cos), id)``)."""
    cand = ivfpq_topk_partitioned(
        spark,
        index_path,
        query_vec,
        centroids,
        codebooks,
        k=candidates,
        nprobe=nprobe,
        id_col=id_col,
        schema=schema,
    ).select(id_col, "adc_dist")
    return (
        corpus.join(F.broadcast(cand), id_col)
        .select(
            id_col,
            "adc_dist",
            F.round(
                cosine_similarity(
                    F.col(vec_col),
                    F.array(*[F.lit(float(x)) for x in query_vec]),
                ),
                round_to,
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_topk_incremental(
    spark,
    state_path: str,
    batch: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Maintain an exact top-k result under APPEND-ONLY corpus growth
    (the incremental top-k similarity-search pattern of interactive
    analysis sessions, cf. EDBT'20): fold each new batch's local top-k
    into a persisted ≤k-row state and re-rank.  Correct because top-k
    is monotone-mergeable — ``topk(A ∪ B) = topk(topk(A) ∪ topk(B))``
    under the same total order (round(cosine) DESC, id ASC) — so the
    historical corpus is NEVER re-scanned: per batch the cost is one
    map-only pass over the delta plus a ≤2k-row merge.  Each call is
    one versioned fold (``fsutil.fold``) over ``topk-<n>`` directories.
    Returns the new top-k DataFrame (read from the committed state).
    """
    cur = fold(
        state_path,
        "topk-",
        None,
        lambda: cosine_topk(batch, query_vec, k, id_col, vec_col, round_to),
        lambda prev, delta: prev.unionByName(delta)
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k),
        spark,
    )
    return spark.read.parquet(cur)


def cosine_topk_lsh(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: restrict to the query's LSH bucket, then
    exact-rank inside it.  Recall < 1 by design; the scale win is that
    the candidate set is ~corpus/2^planes.  (Multiprobe = also search
    buckets at Hamming distance 1 from the query signature — left as a
    bucket-set parameter at call sites that need higher recall.)"""
    dim = len(query_vec)
    planes = _hyperplanes(dim, num_planes, seed)
    qsig = 0
    qv = np.asarray(query_vec)
    for i, p in enumerate(planes):
        if float(qv @ p) >= 0:
            qsig |= 1 << i
    bucketed = hyperplane_lsh_bucket(corpus, vec_col, dim, num_planes, seed)
    return cosine_topk(
        bucketed.filter(F.col("bucket") == qsig), query_vec, k, id_col, vec_col
    )


def cosine_topk_lsh_multiprobe(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al., VLDB 2007): search the
    query's bucket AND every bucket at Hamming distance 1 from its
    signature — the recall knob that costs (planes+1)/2^planes of the
    corpus instead of rebuilding with fewer planes.  The probe set is
    enumerated DRIVER-SIDE as literal bucket ids (planes+1 values),
    so on a bucket-partitioned layout the filter resolves to
    PartitionFilters exactly like the IVF nprobe scan; candidates
    then exact-rank as usual."""
    dim = len(query_vec)
    planes = _hyperplanes(dim, num_planes, seed)
    qsig = 0
    qv = np.asarray(query_vec)
    for i, p in enumerate(planes):
        if float(qv @ p) >= 0:
            qsig |= 1 << i
    probes = [qsig] + [qsig ^ (1 << i) for i in range(num_planes)]
    bucketed = hyperplane_lsh_bucket(corpus, vec_col, dim, num_planes, seed)
    return cosine_topk(
        bucketed.filter(F.col("bucket").isin(probes)),
        query_vec,
        k,
        id_col,
        vec_col,
    )


def random_projection(
    df: DataFrame,
    vec_col: str,
    out_dim: int,
    id_col: str | None = None,
    out_col: str = "projected",
) -> DataFrame:
    """Deterministic ±1 random projection to ``out_dim`` dimensions
    (Achlioptas-style sparse JL transform with the md5 contract as the
    sign source): ``out[j] = Σ_i sign(i, j) · vec[i]``.

    Dimension reduction is the standard prelude to ANN at 100 TB —
    distances are approximately preserved (Johnson-Lindenstrauss)
    while bucketing/scan cost drops by dim/out_dim.  The sign matrix
    is derived per (i, j) from md5, so ANY engine reproduces the exact
    projection (no seeded RNG, no broadcast weight matrix — the
    "matrix" is an expression).  Pure Catalyst: transform+aggregate
    HOFs, map-only, no UDF.
    """
    if out_dim < 1:
        raise ValueError("out_dim must be >= 1")
    v = F.col(vec_col)

    def sign(i: F.Column, j: int) -> F.Column:
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws(":", i.cast("string"), F.lit(str(j)))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        return (h % 2) * 2 - 1  # ∈ {-1, +1}

    comps = [
        F.aggregate(
            F.zip_with(
                v,
                F.sequence(F.lit(0), F.size(v) - 1),
                lambda x, i: x.cast("double") * sign(i, j),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias(f"_p{j}")
        for j in range(out_dim)
    ]
    keep = [id_col] if id_col else list(df.columns)
    return df.select(*keep, *comps).select(
        *keep, F.array(*[f"_p{j}" for j in range(out_dim)]).alias(out_col)
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization per vector → ``(id, scale, q)``:
    ``scale = 127 / max|v|`` and ``q_i = floor(v_i·scale + 0.5)``
    (round-half-up, stated explicitly so every engine reproduces the
    same codes bit-for-bit — built-in ROUND functions disagree on
    half-way ties across engines).  Reconstruction ``q_i/scale`` is
    within ``0.5/scale`` per component.

    The storage/bandwidth step of an embedding pipeline: int8 codes cut
    a 100 TB float32 corpus 4× before ANN indexing, and IVF/LSH
    bucketing composes downstream unchanged.  Map-only HOF expressions
    — no UDF, no shuffle; an all-zero vector keeps scale 1 and zero
    codes.
    """
    v = F.col(vec_col)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.when(mx > 0, F.lit(127.0) / mx).otherwise(F.lit(1.0))
    return df.select(
        F.col(id_col).alias("id"),
        scale.alias("scale"),
        F.transform(
            v,
            lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast(
                "int"
            ),
        ).alias("q"),
    )


def dequantize_embeddings(
    q_col: str = "q", scale_col: str = "scale"
) -> Column:
    """Reconstruction expression: ``q/scale`` as double components."""
    s = F.col(scale_col)
    return F.transform(F.col(q_col), lambda x: x.cast("double") / s)


def quantize_embeddings_arrow(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``quantize_embeddings`` twin on the Spark 4 ``mapInArrow``
    fast path: zero-copy Arrow batches → flat-buffer numpy kernel →
    Arrow back, no pandas materialization and no per-row Python.

    Bit-exact with the expression version: components cast float→
    double (exact), then ``floor(v·scale + 0.5)`` in IEEE double —
    the same op sequence whole-stage codegen runs, so the codes are
    identical and the two paths share one oracle.

    The kernel works on the ListArray's *flattened* value buffer with
    ``maximum.reduceat`` segment maxima — one vectorized pass per
    batch regardless of vector dimension.  Map-only; Arrow batch size
    is bounded by the session's
    ``spark.sql.execution.arrow.maxRecordsPerBatch``.
    """
    import pyarrow as pa

    def kernel(batches):
        for batch in batches:
            ids = batch.column(0)
            emb = batch.column(1)
            counts = np.asarray(emb.value_lengths(), dtype=np.int64)
            flat = np.asarray(emb.flatten(), dtype=np.float64)
            starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
            n = len(counts)
            if len(flat) == 0:
                mx = np.zeros(n)
            else:
                mx = np.maximum.reduceat(np.abs(flat), starts)
                mx[counts == 0] = 0.0  # reduceat misbehaves on empty segments
            scale = np.where(mx > 0, 127.0 / np.where(mx > 0, mx, 1.0), 1.0)
            codes = np.floor(
                flat * np.repeat(scale, counts) + 0.5
            ).astype(np.int32)
            offsets = pa.array(
                np.concatenate(([0], np.cumsum(counts))), type=pa.int32()
            )
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(scale, type=pa.float64()),
                    pa.ListArray.from_arrays(offsets, pa.array(codes, type=pa.int32())),
                ],
                names=["id", "scale", "q"],
            )

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v"))
    return base.mapInArrow(kernel, "id long, scale double, q array<int>")


def assign_nearest_centroid_arrow(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    dist_col: str | None = None,
) -> DataFrame:
    """``assign_nearest_centroid`` on the ``mapInArrow`` fast path —
    bit-identical to the expression version (and therefore to the
    generated SQL oracles): per centroid the squared distance
    accumulates dimension-by-dimension in the same left-to-right IEEE
    order the Catalyst term chain uses, and ``np.argmin`` is
    first-occurrence on ties like ``array_position(.., array_min)``.

    Exists because the literal-centroid expression is K·d chained
    terms (4096 for 8×64): past whole-stage codegen's method-size
    limits it falls back to interpreted evaluation and megabyte task
    binaries (measured 7.5 s for 5 k rows at sf0.1); the numpy loop
    is ~60 vector ops per batch.  Optional ``dist_col`` appends
    ``sqrt(min_distance²)``.
    """
    import pyarrow as pa

    cents = [np.asarray([float(x) for x in c], dtype=np.float64) for c in centroids]
    vec_idx = df.columns.index(vec_col)
    out_fields = df.schema.fields
    schema_parts = [f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields]
    schema_parts.append(f"`{cluster_col}` int")
    if dist_col is not None:
        schema_parts.append(f"`{dist_col}` double")
    out_schema = ", ".join(schema_parts)

    def kernel(batches):
        for batch in batches:
            emb = batch.column(vec_idx)
            counts = np.asarray(emb.value_lengths(), dtype=np.int64)
            n = len(counts)
            if n == 0:
                continue
            d = int(counts[0])
            if not (counts == d).all():
                raise ValueError("vectors must share one dimension")
            X = np.asarray(emb.flatten(), dtype=np.float64).reshape(n, d)
            dists = []
            for c in cents:
                if len(c) != d:
                    raise ValueError("centroid dimension mismatch")
                acc = (X[:, 0] - c[0]) ** 2
                for i in range(1, d):
                    acc = acc + (X[:, i] - c[i]) ** 2
                dists.append(acc)
            D = np.stack(dists, axis=1)
            cluster = np.argmin(D, axis=1).astype(np.int32)
            cols = list(batch.columns) + [pa.array(cluster, type=pa.int32())]
            names = list(batch.schema.names) + [cluster_col]
            if dist_col is not None:
                cols.append(pa.array(np.sqrt(D.min(axis=1)), type=pa.float64()))
                names.append(dist_col)
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return df.mapInArrow(kernel, out_schema)


def top_principal_component(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iterations: int = 3,
) -> DataFrame:
    """Top principal component of an embedding column → ``(dim_index,
    loading)`` via RELATIONAL power iteration — the PCA axis that
    drives embedding whitening, drift monitoring, and the "dominant
    direction" diagnostics of representation collapse.

    Everything is DataFrame algebra, nothing driver-side beyond the
    dimension scalar: per-dimension means (one agg) → centered
    per-id entries → covariance CELLS ``(i, j, val)`` from a self-join
    on id (the inherent Σ xxᵀ cost: dim² terms per row, one shuffle)
    → power iteration as cell⋈vector matvec + group-by, with the
    normalizer a 1-row broadcast cross join.  The iterate count is
    fixed so the whole computation has an exact unrolled SQL twin;
    the deterministic ``1/√dim`` start vector fixes the eigenvector's
    sign.

    Scale: the covariance build shuffles dim² keys (64² = 4 096
    cells) with map-side partial aggregation — the per-row dim² work
    is the algorithm's floor, and beyond ~10⁴ dims you switch to
    randomized sketching, not a bigger shuffle.  Iterations touch
    only the 4 096-cell table.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    dim = df.select(F.size(vec_col)).first()[0]
    x = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.transform(F.col(vec_col), lambda v: v.cast("double"))
        ).alias("i", "xi"),
    )
    mu = x.groupBy("i").agg(F.avg("xi").alias("mu"))
    xc = x.join(mu, "i").select(
        "_id", "i", (F.col("xi") - F.col("mu")).alias("c")
    )
    n = float(df.count())
    a, b = xc.alias("a"), xc.alias("b")
    cells = checkpoint(
        a.join(b, F.col("a._id") == F.col("b._id"))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg((F.sum(F.col("a.c") * F.col("b.c")) / F.lit(n)).alias("val")),
        eager=True,
    )
    spark = df.sparkSession
    v = spark.range(dim).select(
        F.col("id").cast("int").alias("j"),
        F.lit(1.0 / math.sqrt(dim)).alias("v"),
    )
    for _ in range(iterations):
        w = checkpoint(
            cells.join(v, "j")
            .groupBy("i")
            .agg(F.sum(F.col("val") * F.col("v")).alias("w")),
            # the normalizer and the next vector BOTH read w — without a
            # checkpoint the matvec subplan doubles per reference and
            # the plan grows 2^iterations (64 rows: materializing is free)
            eager=True,
        )
        norm = w.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("_nv"))
        v = w.crossJoin(F.broadcast(norm)).select(
            F.col("i").alias("j"), (F.col("w") / F.col("_nv")).alias("v")
        )
    return v.select(
        F.col("j").alias("dim_index"), F.round("v", 6).alias("loading")
    )


def lloyd_kmeans(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iterations: int = 2,
    seed: int = 7,
) -> DataFrame:
    """Distributed Lloyd's KMeans — TRAINED centroids, not the
    data-independent ``fixed_centroids`` quantizer — returning the
    final centroid CELLS ``(cluster, dim_index, centroid, n_members)``
    after exactly ``iterations`` assign→update rounds.

    Fully relational and engine-reproducible: vectors and centroids
    both live as (row, dim, value) cells; assignment is a cell⋈cell
    join on the dim key + an (id, cluster) distance aggregate + an
    argmin with cluster-asc tie-break; the update is a per-(cluster,
    dim) mean.  Updated centroids are ROUNDED TO 6 DECIMALS each
    round — that quantization makes every round's centroids IDENTICAL
    across engines (killing float-fold drift in the next round's
    distances), so the fixed round count has an exact unrolled SQL
    twin.  Empty clusters keep their previous centroid.

    Scale: per round one |rows|·k·dim distance aggregate (the
    algorithm's floor — partial-aggregated, shuffled on the id key)
    and one (k·dim)-keyed mean; centroid state is k·dim rows,
    checkpointed per round so lineage stays linear (the PCA lesson).
    Beyond ~10⁵ clusters you shard the centroid join; beyond that,
    approximate assignment (IVF-on-IVF), not a bigger shuffle.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if k < 1:
        raise ValueError("k must be >= 1")
    dim = df.select(F.size(vec_col)).first()[0]
    spark = df.sparkSession
    x = checkpoint(
        df.select(
            F.col(id_col).alias("_id"),
            F.posexplode(
                F.transform(F.col(vec_col), lambda v: v.cast("double"))
            ).alias("j", "xj"),
        ),
        eager=True,
    )
    init = fixed_centroids(dim, k, seed)
    cent = spark.createDataFrame(
        [
            (c, j, round(float(init[c][j]), 6))
            for c in range(k)
            for j in range(dim)
        ],
        "c int, j int, cj double",
    )
    counts = None
    for _ in range(iterations):
        # d2 is ROUNDED before the argmin for the same reason the
        # centroids are: a float sum's association order differs
        # between engines/partitionings, and an ulp on a near-tie
        # would flip the assignment — quantized distances turn
        # near-ties into exact ties, which the cluster-asc tie-break
        # resolves identically everywhere
        dist = (
            x.join(cent, "j")
            .groupBy("_id", "c")
            .agg(
                F.round(
                    F.sum(
                        (F.col("xj") - F.col("cj"))
                        * (F.col("xj") - F.col("cj"))
                    ),
                    6,
                ).alias("d2")
            )
        )
        assign = (
            dist.groupBy("_id")
            .agg(F.min(F.struct("d2", "c")).alias("_m"))
            .select("_id", F.col("_m.c").alias("c"))
        )
        upd = (
            x.join(assign, "_id")
            .groupBy("c", "j")
            .agg(F.round(F.avg("xj"), 6).alias("new_cj"))
        )
        counts = assign.groupBy("c").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members")
        )
        cent = checkpoint(
            cent.join(upd, ["c", "j"], "left")
            .select(
                "c", "j", F.coalesce("new_cj", F.col("cj")).alias("cj")
            ),
            eager=True,
        )
        counts = checkpoint(counts, eager=True)
    return cent.join(counts, "c", "left").select(
        F.col("c").alias("cluster"),
        F.col("j").alias("dim_index"),
        F.col("cj").alias("centroid"),
        F.coalesce("n_members", F.lit(0)).cast("bigint").alias("n_members"),
    )


def principal_components(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 2,
    iterations: int = 3,
) -> DataFrame:
    """Top-``k`` principal components via power iteration WITH
    DEFLATION → ``(component, dim_index, loading, eigenvalue)`` —
    the 2-D/3-D embedding map and explained-variance report behind
    representation diagnostics (``top_principal_component`` is the
    k=1 special case without the eigenvalue).

    After each component converges, its vector is QUANTIZED to 1e-6
    and the covariance cells are deflated relationally
    (``val − λ·vᵢ·vⱼ``, λ = vᵀCv from the same cells) — quantizing
    before deflation makes the deflated state bit-identical across
    engines (the lloyd_kmeans contract), so the whole k-component
    computation has an exact unrolled SQL twin.  Deflated cells and
    per-iteration vectors are checkpointed (dim² / dim rows — free),
    keeping lineage linear.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    dim = df.select(F.size(vec_col)).first()[0]
    spark = df.sparkSession
    x = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.transform(F.col(vec_col), lambda v: v.cast("double"))
        ).alias("i", "xi"),
    )
    mu = x.groupBy("i").agg(F.avg("xi").alias("mu"))
    xc = x.join(mu, "i").select(
        "_id", "i", (F.col("xi") - F.col("mu")).alias("c")
    )
    n = float(df.count())
    a, b = xc.alias("a"), xc.alias("b")
    cells = checkpoint(
        a.join(b, F.col("a._id") == F.col("b._id"))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg((F.sum(F.col("a.c") * F.col("b.c")) / F.lit(n)).alias("val")),
        eager=True,
    )
    outs = []
    for comp in range(k):
        v = spark.range(dim).select(
            F.col("id").cast("int").alias("j"),
            F.lit(1.0 / math.sqrt(dim)).alias("v"),
        )
        for _ in range(iterations):
            w = checkpoint(
                cells.join(v, "j")
                .groupBy("i")
                .agg(F.sum(F.col("val") * F.col("v")).alias("w")),
                eager=True,
            )
            norm = w.agg(
                F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("_nv")
            )
            v = w.crossJoin(F.broadcast(norm)).select(
                F.col("i").alias("j"),
                (F.col("w") / F.col("_nv")).alias("v"),
            )
        # quantize BEFORE the Rayleigh quotient and deflation: the
        # engine-identity contract for everything downstream
        v = checkpoint(v.select("j", F.round("v", 6).alias("v")), eager=True)
        vi = v.select(F.col("j").alias("i"), F.col("v").alias("vi"))
        lam_row = (
            cells.join(vi, "i")
            .join(v, "j")
            .agg(
                F.round(
                    F.sum(F.col("val") * F.col("vi") * F.col("v")), 6
                ).alias("lam")
            )
        )
        lam = float(lam_row.first()[0])
        outs.append(
            v.select(
                F.lit(comp).alias("component"),
                F.col("j").alias("dim_index"),
                F.col("v").alias("loading"),
                F.lit(lam).alias("eigenvalue"),
            )
        )
        if comp + 1 < k:
            cells = checkpoint(
                cells.join(vi, "i")
                .join(v, "j")
                .select(
                    "i",
                    "j",
                    (
                        F.col("val")
                        - F.lit(lam) * F.col("vi") * F.col("v")
                    ).alias("val"),
                ),
                eager=True,
            )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def pq_codebooks(
    dim: int, m: int = 4, k: int = 16, seed: int = 11
) -> np.ndarray:
    """Seeded per-subspace PQ codebooks, shape ``(m, k, dim // m)``.

    Like :func:`fixed_centroids`, the codebooks are data-INDEPENDENT
    literals so the whole encode + ADC pipeline carries an exact SQL
    oracle; production callers would train them (per-subspace Lloyd
    iterations over a sample) and accept a rows-only gate.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m} subspaces")
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((m, k, dim // m))
    return c / np.linalg.norm(c, axis=2, keepdims=True)


def _subspace_distances(
    codebook_s, offset: int, vec_col: str = "embedding"
) -> Column:
    """Per-centroid squared-L2 over ONE subspace slice as explicit
    left-to-right term chains (the :func:`centroid_distances` shape
    with an element offset) — bit-reproducible in any engine."""
    dists = []
    for c in codebook_s:
        d = None
        for i, ci in enumerate(c):
            t = F.col(vec_col)[int(offset + i)] - F.lit(float(ci))
            term = t * t
            d = term if d is None else d + term
        dists.append(d)
    return F.array(*dists)


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    code_prefix: str = "code_",
) -> DataFrame:
    """Product-Quantization encode: per subspace, nearest-codeword id
    (argmin of the literal chain, first index wins exact ties — the
    :func:`assign_nearest_centroid` rule per subspace).  Map-only, no
    UDF, no shuffle.  At 100 TB this is THE memory lever for ANN: an
    m-byte code replaces a 4·dim-byte vector (64× here), so the whole
    corpus's codes fit where 1/64th of the raw vectors would."""
    m, _, sub = codebooks.shape
    out = df
    for s in range(m):
        arr = _subspace_distances(codebooks[s], s * sub, vec_col)
        out = out.withColumn(
            f"{code_prefix}{s}",
            (F.array_position(arr, F.array_min(arr)) - 1).cast("int"),
        )
    return out


def pq_adc_topk(
    corpus: DataFrame,
    query_vec: list,
    codebooks: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_arrow: bool = True,
) -> DataFrame:
    """Asymmetric-Distance-Computation top-k over PQ codes (Jégou et
    al., "Product Quantization for Nearest Neighbor Search", TPAMI
    2011): the query stays exact; each subspace contributes a
    precomputed query→codeword distance from an m×k lookup table, and
    a row's approximate distance is the sum of its m table entries.

    The LUT is built driver-side with the SAME left-to-right float64
    accumulation the SQL oracle's term chains use, folded in as
    literal arrays — so encode, LUT, and ranking are all
    bit-identical cross-engine (no rounding needed).  Plan: map-only
    scan + ``TakeOrderedAndProject``; per-row cost is m array lookups
    + m-1 adds regardless of dim."""
    m, kk, sub = codebooks.shape
    enc = (
        pq_encode_arrow(corpus, codebooks, vec_col)
        if use_arrow
        else pq_encode(corpus, codebooks, vec_col)
    )
    score = None
    for s in range(m):
        lut = []
        for cent in codebooks[s]:
            acc = None
            for i, ci in enumerate(cent):
                t = float(query_vec[s * sub + i]) - float(ci)
                term = t * t
                acc = term if acc is None else acc + term
            lut.append(acc)
        entry = F.element_at(
            F.array(*[F.lit(v) for v in lut]), F.col(f"code_{s}") + 1
        )
        score = entry if score is None else score + entry
    return (
        enc.select(
            F.col(id_col),
            *[F.col(f"code_{s}") for s in range(m)],
            score.alias("adc_dist"),
        )
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def mmr_rerank(
    corpus: DataFrame,
    query_vec: list,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k (Carbonell &
    Goldstein, SIGIR 1998): greedily pick ``k`` of the ``pool``
    most-relevant candidates, each step maximising
    ``lam·rel − (1−lam)·max_sim_to_already_selected`` (the max over
    the empty set is 0, so step 1 ranks by ``lam·rel``).

    Scale shape: ONE exact top-``pool`` scan bounds everything after
    it — pairwise similarities are pool² broadcast-joined rows and the
    greedy loop runs in a single Arrow batch over ≤pool·(pool−1)
    rows.  Cross-engine determinism: rel and sim are rounded to 6
    BEFORE selection (the cosine fold-order boundary), the MMR
    arithmetic on those rounded values is exact IEEE, and every
    argmax tie-breaks on ascending id.

    Returns (step, id, rel, mmr) — step 1-based selection order.
    """
    cand = cosine_topk(
        corpus, query_vec, k=pool, id_col=id_col, vec_col=vec_col,
        round_to=6,
    ).withColumnRenamed("cosine", "rel")
    return mmr_greedy(cand, corpus, k=k, lam=lam, id_col=id_col, vec_col=vec_col)


def mmr_greedy(
    cand: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The greedy MMR selection over an EXTERNALLY-scored candidate
    frame ``cand`` = (id, rel) — rel can be cosine (``mmr_rerank``),
    an RRF fusion score, a cross-encoder score, anything: the penalty
    term is always pairwise cosine between the candidates' vectors in
    ``corpus``.  Candidate count bounds everything downstream; same
    determinism contract as :func:`mmr_rerank`.

    Ids must be integral (the output schema pins ``vec_id`` as LONG)
    — validated up front rather than silently truncated in the
    kernel.  The pairwise frame is built with a LEFT join so a
    singleton candidate set (pool = 1, or one survivor of the corpus
    join) still selects that candidate instead of vanishing with the
    empty pairs frame (ADVICE r4)."""
    id_type = dict(cand.dtypes).get(id_col)
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"mmr_greedy requires an integral {id_col} (output schema "
            f"is LONG); got {id_type}"
        )
    cand_emb = F.broadcast(
        cand.join(corpus.select(id_col, vec_col), id_col)
    )
    a, b = cand_emb.alias("a"), cand_emb.alias("b")
    pairs = (
        a.join(
            F.broadcast(b),
            F.col(f"a.{id_col}") != F.col(f"b.{id_col}"),
            "left",
        )
        .select(
            F.col(f"a.{id_col}").alias("vec_id"),
            F.col("a.rel").alias("rel"),
            F.col(f"b.{id_col}").alias("other"),
            F.round(
                cosine_similarity(
                    F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")
                ),
                6,
            ).alias("sim"),
        )
    )

    lam_f = float(lam)

    def greedy(pdf):
        import pandas as pd

        rels = (
            pdf[["vec_id", "rel"]]
            .drop_duplicates("vec_id")
            .set_index("vec_id")["rel"]
            .to_dict()
        )
        sims = {
            (int(r.vec_id), int(r.other)): float(r.sim)
            for r in pdf.itertuples()
            if not pd.isna(r.other)  # left-join self-row of a singleton
        }
        selected: list[int] = []
        rows = []
        while len(selected) < min(k, len(rels)):
            best = None
            for vid in sorted(rels):
                if vid in selected:
                    continue
                ms = (
                    max(sims[(vid, s)] for s in selected)
                    if selected
                    else 0.0
                )
                mmr = lam_f * rels[vid] - (1.0 - lam_f) * ms
                if best is None or mmr > best[0]:
                    best = (mmr, vid)
            selected.append(best[1])
            rows.append(
                (len(selected), best[1], rels[best[1]], best[0])
            )
        return pd.DataFrame(
            rows, columns=["step", "vec_id", "rel", "mmr"]
        )

    out = pairs.groupBy(F.lit(0).alias("__g")).applyInPandas(
        greedy, "step int, vec_id long, rel double, mmr double"
    )
    return out.select(
        "step",
        F.col("vec_id").alias(id_col),
        "rel",
        F.round("mmr", 6).alias("mmr"),
    ).orderBy("step")


def pq_ivf_topk(
    corpus: DataFrame,
    query_vec: list,
    centroids,
    codebooks: np.ndarray,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the FAISS-style composition — coarse-quantizer probe
    pruning (scan ~nprobe/n_clusters of the corpus) and PQ-ADC
    scoring inside the probed lists (m table lookups per row instead
    of a dim-length float pass).  Together they are THE standard
    billion-vector recipe: IVF bounds what is read, PQ bounds memory
    and per-row cost.

    Simplification vs FAISS: codes quantize the RAW vector, not the
    residual (v − centroid) — residual chains would double every
    literal expression for a modest recall gain; the docstring of the
    caller should treat recall numbers accordingly.  Probe ranking is
    cosine, matching :func:`cosine_topk_ivf`."""
    centroids = np.asarray(centroids, dtype=np.float64)
    assigned = assign_nearest_centroid_arrow(corpus, centroids, vec_col)
    q = np.asarray(query_vec, dtype=np.float64)
    norms = np.linalg.norm(centroids, axis=1) * np.linalg.norm(q)
    sims = (centroids @ q) / np.maximum(norms, 1e-12)
    probe = np.argsort(-sims)[:nprobe].tolist()
    return pq_adc_topk(
        assigned.filter(F.col("cluster").isin(probe)),
        query_vec,
        codebooks,
        k,
        id_col,
        vec_col,
    )


def pq_encode_arrow(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    code_prefix: str = "code_",
    center=None,
    centers=None,
    cluster_col: str | None = None,
) -> DataFrame:
    """``pq_encode`` on the ``mapInArrow`` fast path — bit-identical
    to the expression version and its SQL twins: per codeword the
    subspace distance accumulates dimension-by-dimension in the same
    left-to-right IEEE order the literal chain uses, and
    ``np.argmin`` is first-occurrence on ties.  Exists for the same
    reason as :func:`assign_nearest_centroid_arrow`: m·k·(dim/m)
    chained terms (1024 here) overflow whole-stage codegen into
    interpreted evaluation (measured 7.3 s for 5 k rows at sf0.1 vs
    ~0.5 s on this path).

    ``center`` (a dim-length vector) switches to RESIDUAL encoding:
    codes quantize ``v − center`` — each dimension subtracts the
    center BEFORE the codeword, as two separate IEEE ops, so the SQL
    twin's ``((e[i] − cent) − cw)²`` chain replays it exactly.

    ``centers`` (a n_clusters×dim matrix) + ``cluster_col`` switch to
    PER-ROW residual encoding: each row subtracts the centroid its
    ``cluster_col`` value indexes — the single-pass build side of an
    on-disk IVF-PQ index, where per-cluster filter branches would
    multiply the plan by n_clusters.  Same per-dimension IEEE order
    (numpy row-slice arithmetic is elementwise), so parity with the
    one-center path and the SQL chains holds row for row."""
    import pyarrow as pa

    cb = np.asarray(codebooks, dtype=np.float64)
    ctr = None if center is None else [float(x) for x in center]
    ctrs = None if centers is None else np.asarray(centers, dtype=np.float64)
    if ctr is not None and ctrs is not None:
        raise ValueError("pass center or centers+cluster_col, not both")
    if (ctrs is None) != (cluster_col is None):
        raise ValueError("centers and cluster_col go together")
    m, _, sub = cb.shape
    vec_idx = df.columns.index(vec_col)
    clu_idx = None if cluster_col is None else df.columns.index(cluster_col)
    out_fields = [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
    out_fields += [f"`{code_prefix}{s}` int" for s in range(m)]
    out_schema = ", ".join(out_fields)

    def kernel(batches):
        for batch in batches:
            emb = batch.column(vec_idx)
            counts = np.asarray(emb.value_lengths(), dtype=np.int64)
            n = len(counts)
            if n == 0:
                continue
            d = int(counts[0])
            if not (counts == d).all():
                raise ValueError("vectors must share one dimension")
            if d != m * sub:
                raise ValueError("codebook/vector dimension mismatch")
            X = np.asarray(emb.flatten(), dtype=np.float64).reshape(n, d)
            if clu_idx is not None:
                clusters = np.asarray(
                    batch.column(clu_idx).to_numpy(zero_copy_only=False),
                    dtype=np.int64,
                )
                C = ctrs[clusters]  # per-row centroid, shape (n, d)
            cols = list(batch.columns)
            names = list(batch.schema.names)
            for s in range(m):
                base = s * sub
                dists = []
                for c in cb[s]:
                    if ctr is None and clu_idx is None:
                        acc = (X[:, base] - c[0]) ** 2
                        for i in range(1, sub):
                            acc = acc + (X[:, base + i] - c[i]) ** 2
                    elif clu_idx is not None:
                        acc = ((X[:, base] - C[:, base]) - c[0]) ** 2
                        for i in range(1, sub):
                            acc = acc + (
                                (X[:, base + i] - C[:, base + i]) - c[i]
                            ) ** 2
                    else:
                        acc = ((X[:, base] - ctr[base]) - c[0]) ** 2
                        for i in range(1, sub):
                            acc = acc + (
                                (X[:, base + i] - ctr[base + i]) - c[i]
                            ) ** 2
                    dists.append(acc)
                code = np.argmin(np.stack(dists, axis=1), axis=1)
                cols.append(pa.array(code.astype(np.int32), type=pa.int32()))
                names.append(f"{code_prefix}{s}")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return df.mapInArrow(kernel, out_schema)


def pq_subspace_errors_arrow(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    err_prefix: str = "e",
) -> DataFrame:
    """Per-row, per-subspace PQ reconstruction error (min squared-L2
    to the subspace's codewords) on the ``mapInArrow`` fast path —
    the projection half of ``pq_distortion_embeddings``.

    Exists because the expression form (m·k literal chains =
    4×16×16 = 1024 terms here) exceeds janino's 64 KB method limit:
    whole-stage codegen throws ``InternalCompilerException: Code
    grows beyond 64 KB`` and the single wide projection+aggregate
    silently runs interpreted (VERDICT r9 What's-wrong #1) — at
    100 TB an interpreted chain per row is a multiple-× throughput
    hit, plus ~11 s of driver-side expression build.

    Bit-identical to :func:`_subspace_distances` + ``array_min`` and
    therefore to the generated SQL oracle: per codeword the distance
    accumulates dimension-by-dimension in the same left-to-right
    IEEE-double order the literal chain uses (the
    :func:`pq_encode_arrow` loop shape, parity already test-pinned
    there), and the min over exact doubles is order-independent.
    Map-only; output is ``id_col`` + m double columns, so the
    downstream wide aggregate is 3m+1 small expressions that compile
    comfortably."""
    import pyarrow as pa

    cb = np.asarray(codebooks, dtype=np.float64)
    m, _, sub = cb.shape
    id_idx = df.columns.index(id_col)
    vec_idx = df.columns.index(vec_col)
    id_type = df.schema.fields[id_idx].dataType.simpleString()
    out_schema = ", ".join(
        [f"`{id_col}` {id_type}"]
        + [f"`{err_prefix}{s}` double" for s in range(m)]
    )

    def kernel(batches):
        for batch in batches:
            emb = batch.column(vec_idx)
            counts = np.asarray(emb.value_lengths(), dtype=np.int64)
            n = len(counts)
            if n == 0:
                continue
            d = int(counts[0])
            if not (counts == d).all():
                raise ValueError("vectors must share one dimension")
            if d != m * sub:
                raise ValueError("codebook/vector dimension mismatch")
            X = np.asarray(emb.flatten(), dtype=np.float64).reshape(n, d)
            cols = [batch.column(id_idx)]
            names = [id_col]
            for s in range(m):
                base = s * sub
                dists = []
                for c in cb[s]:
                    acc = (X[:, base] - c[0]) ** 2
                    for i in range(1, sub):
                        acc = acc + (X[:, base + i] - c[i]) ** 2
                    dists.append(acc)
                err = np.stack(dists, axis=1).min(axis=1)
                cols.append(pa.array(err, type=pa.float64()))
                names.append(f"{err_prefix}{s}")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return df.select(id_col, vec_col).mapInArrow(kernel, out_schema)


def pq_ivf_topk_residual(
    corpus: DataFrame,
    query_vec: list,
    centroids,
    codebooks: np.ndarray,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — FAISS's actual recipe: codes
    quantize ``v − centroid(v)``, which concentrates the quantizer's
    resolution where the list's vectors actually live (residual norms
    ≪ vector norms), and the query LUT per probed list is built from
    ``q − centroid``.  ADC stays exact over the reconstruction:
    ``‖q − (centroid + codeword)‖² = ‖(q − centroid) − codeword‖²``.

    Per-probe branches keep everything literal (no per-row CASE over
    centroids): rows of each probed list encode and score against
    that list's centroid, then the branches union before one top-k.
    The branch count is nprobe (a small literal), so the plan is
    nprobe filtered map-only scans of the SAME assignment pass —
    Catalyst collapses the shared scan at 100 TB when the index is
    the partitioned on-disk layout (``build_ivf_index``)."""
    centroids = np.asarray(centroids, dtype=np.float64)
    m, kk, sub = codebooks.shape
    assigned = assign_nearest_centroid_arrow(corpus, centroids, vec_col)
    q = np.asarray(query_vec, dtype=np.float64)
    norms = np.linalg.norm(centroids, axis=1) * np.linalg.norm(q)
    sims = (centroids @ q) / np.maximum(norms, 1e-12)
    probe = np.argsort(-sims)[:nprobe].tolist()

    branches = []
    for cl in probe:
        cent = [float(x) for x in centroids[cl]]
        enc = pq_encode_arrow(
            assigned.filter(F.col("cluster") == cl),
            codebooks,
            vec_col,
            center=cent,
        )
        score = None
        for s in range(m):
            lut = []
            for cw in codebooks[s]:
                acc = None
                for i, ci in enumerate(cw):
                    t = (float(query_vec[s * sub + i]) - cent[s * sub + i]) - float(ci)
                    term = t * t
                    acc = term if acc is None else acc + term
                lut.append(acc)
            entry = F.element_at(
                F.array(*[F.lit(v) for v in lut]), F.col(f"code_{s}") + 1
            )
            score = entry if score is None else score + entry
        branches.append(
            enc.select(
                F.col(id_col),
                F.lit(int(cl)).alias("cluster"),
                # round_to=6 ranking key: the residual chain showed a
                # 1-ulp cross-engine divergence (likely FMA
                # contraction) that the raw-vector chain never did
                F.round(score, 6).alias("adc_dist"),
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out.orderBy(F.col("adc_dist").asc(), F.col(id_col).asc()).limit(k)


# ---------------------------------------------------- int4 quantization

INT4_NIBBLES_PER_WORD = 15  # bits 0..59 — bit 60+ stays clear so the
# packed word never overflows a signed BIGINT in ANY ANSI engine (the
# same layout rationale as functions/bloom.py's 32-bits-per-word).


def int4_quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int4 quantization, PACKED: ``scale = 7/max|v|``,
    ``code_i = floor(v_i·scale + 0.5)`` ∈ [−7, 7] stored as the
    unsigned nibble ``code+8`` ∈ [1, 15], fifteen nibbles per BIGINT
    word (missing tail positions pad with nibble 8 = code 0).  64 dims
    → 5 words = 40 bytes vs 256 float32 bytes (6.4×; 8× asymptotic) —
    the storage tier between int8 (4×) and the 1-bit codes (32×).

    Map-only HOF expressions, no UDF: per-word packing is a literal
    15-term ``nibble·2^{4j}`` sum (exact long arithmetic — max word
    value < 2^60), out-of-range tail reads use ``F.get`` (null-safe at
    any ANSI setting) and coalesce to the pad nibble.  Returns ``(id,
    scale, words array<long>, dim)``."""
    npw = INT4_NIBBLES_PER_WORD
    v = F.col(vec_col)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.when(mx > 0, F.lit(7.0) / mx).otherwise(F.lit(1.0))
    base = df.select(
        F.col(id_col).alias("id"),
        scale.alias("scale"),
        F.transform(
            v,
            lambda x: (
                F.floor(x.cast("double") * scale + F.lit(0.5)) + 8
            ).cast("long"),
        ).alias("_nib"),
        F.size(v).alias("dim"),
    )
    nwords = F.ceil(F.col("dim") / F.lit(npw)).cast("int")

    def word_of(w: Column) -> Column:
        acc = None
        for j in range(npw):
            term = F.coalesce(
                F.get("_nib", w * npw + F.lit(j)), F.lit(8).cast("long")
            ) * F.lit(1 << (4 * j))
            acc = term if acc is None else acc + term
        return acc

    return base.select(
        "id",
        "scale",
        F.transform(F.sequence(F.lit(0), nwords - 1), word_of).alias(
            "words"
        ),
        "dim",
    )


def int4_dequantize(
    words_col: str = "words",
    scale_col: str = "scale",
    dim: int = 64,
) -> Column:
    """Reconstruction expression for :func:`int4_quantize` output:
    component ``i`` = ``((words[i div 15] div 2^{4(i mod 15)}) mod 16
    − 8) / scale`` — pure integer div/mod (engine-portable, no bitwise
    ops needed), one literal expression per component."""
    npw = INT4_NIBBLES_PER_WORD
    s = F.col(scale_col)
    comps = []
    for i in range(dim):
        w, j = divmod(i, npw)
        # integer `div`, NOT float division: words reach 2^60, past
        # double's 53-bit mantissa — a float path would corrupt the
        # low nibbles before the modulo
        nib = F.expr(
            f"(element_at({words_col}, {w + 1}) div {1 << (4 * j)}) % 16"
        )
        comps.append((nib - 8).cast("double") / s)
    return F.array(*comps)


def knn_exact(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    scale: int = 1_000_000,
    group_col: str | None = None,
    max_broadcast_rows: int = 1_000_000,
) -> DataFrame:
    """All-pairs exact k-nearest-neighbor join (squared L2 over
    ×``scale`` integer-scaled components) — the brute-force baseline
    under LOF / SemDeDup-style density analyses.

    Returns ``(ida, idb, d2)`` with the ``k`` nearest OTHER rows per
    row, ties broken by ``(d², idb)`` — deterministic and
    engine-exact: components round to integers before differencing,
    and every BLAS product of two ≤1e6 integers summed over ≤64 dims
    stays below 2^53, so the float64 matmul is EXACT integer
    arithmetic (same values as a BIGINT term chain).

    Plan shape: the corpus is collected once into a broadcast numpy
    matrix (n×d float64 — 25 MB at 50k×64) and each partition's rows
    compute one ``A @ Bᵀ`` block: BLAS speed, no n² shuffle, no JVM
    per-pair expression.  That is the right BASELINE shape while the
    corpus matrix fits executor memory; past that, generate
    candidates from IVF cluster neighborhoods (``cosine_topk_ivf``)
    and rerank — same downstream contract.

    ``group_col``: restrict candidates to rows sharing the group
    value (e.g. an IVF cluster id) — the broadcast becomes one
    matrix per group and each row multiplies only against its own
    group's block, dropping pair mass from n² to Σ|group|².

    Driver-memory guard: the corpus collect is capped at
    ``max_broadcast_rows`` and raises past it rather than OOMing the
    driver — past the cap use :func:`knn_exact_grouped` (fully
    distributed, zero broadcast) with IVF cluster ids, or generate
    candidates from ``cosine_topk_ivf`` and rerank."""
    from pyspark.sql.types import LongType, StructField, StructType

    spark = df.sparkSession
    cols = [
        F.col(id_col).cast("long").alias("_id"),
        F.transform(
            vec_col, lambda x: F.round(x.cast("double") * scale).cast("long")
        ).alias("_v"),
    ]
    if group_col is not None:
        cols.append(F.col(group_col).cast("long").alias("_g"))
    scaled = df.select(*cols)
    rows = scaled.limit(max_broadcast_rows + 1).collect()
    if len(rows) > max_broadcast_rows:
        raise ValueError(
            f"knn_exact: corpus exceeds max_broadcast_rows="
            f"{max_broadcast_rows}; use knn_exact_grouped (per-cluster "
            "executor-side blocks, no broadcast) or cosine_topk_ivf "
            "candidates + rerank"
        )
    groups: dict = {}
    for r in rows:
        g = r["_g"] if group_col is not None else 0
        if g is None:
            # a NULL group would NaN-poison the int64 cast in the
            # pandas block — fail loudly with the null-safe alternative
            raise ValueError(
                f"knn_exact: NULL value in group_col={group_col!r} "
                f"(id={r['_id']}); assign every row a group, or use "
                "knn_exact_grouped, which is null-safe by construction"
            )
        groups.setdefault(g, ([], []))
        groups[g][0].append(r["_id"])
        groups[g][1].append(r["_v"])
    packed = {
        g: (
            np.array(ids_, dtype=np.int64),
            np.array(vs, dtype=np.float64),
        )
        for g, (ids_, vs) in groups.items()
    }
    packed = {
        g: (ids_, mat, (mat * mat).sum(axis=1))
        for g, (ids_, mat) in packed.items()
    }
    b_packed = spark.sparkContext.broadcast(packed)

    out_schema = StructType(
        [
            StructField("ida", LongType()),
            StructField("idb", LongType()),
            StructField("d2", LongType()),
        ]
    )

    def block(batches):
        import pandas as pd

        P = b_packed.value
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.array(pdf["_v"].tolist(), dtype=np.float64)
            Aids = pdf["_id"].to_numpy(dtype=np.int64)
            if "_g" in pdf.columns:
                Ags = pdf["_g"].to_numpy(dtype=np.int64)
            else:
                Ags = np.zeros(len(A), dtype=np.int64)
            an = (A * A).sum(axis=1)
            outa, outb, outd = [], [], []
            for g in np.unique(Ags):
                Bids, B, Bn = P[int(g)]
                sel = np.nonzero(Ags == g)[0]
                # exact: all products/sums are integers < 2^53
                d2 = (
                    an[sel][:, None]
                    + Bn[None, :]
                    - 2.0 * (A[sel] @ B.T)
                )
                for j, i in enumerate(sel):
                    row = d2[j]
                    row = np.where(Bids == Aids[i], np.inf, row)
                    # duplicate ids mask >1 entry to inf — cut the
                    # top-k over FINITE candidates only, else kth=inf
                    # admits inf rows whose int64 cast is INT64_MIN
                    finite = np.nonzero(np.isfinite(row))[0]
                    kk = min(k, len(finite))
                    if kk <= 0:
                        continue
                    kth = np.partition(row[finite], kk - 1)[kk - 1]
                    cand = finite[row[finite] <= kth]
                    order = cand[np.lexsort((Bids[cand], row[cand]))][:kk]
                    outa.extend([Aids[i]] * len(order))
                    outb.extend(Bids[order].tolist())
                    outd.extend(row[order].astype(np.int64).tolist())
            yield pd.DataFrame({"ida": outa, "idb": outb, "d2": outd})

    return scaled.mapInPandas(block, out_schema)


def knn_exact_grouped(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    scale: int = 1_000_000,
    group_col: str = "cluster",
    block_rows: int = 1024,
) -> DataFrame:
    """Fully distributed per-group exact kNN — the 100 TB shape of
    ``knn_exact(group_col=...)``.

    Candidates are restricted to the point's own group (e.g. an IVF
    coarse cluster), so instead of collecting the corpus to the
    driver and broadcasting it, each group's candidate matrix is
    built EXECUTOR-SIDE from the group itself via
    ``groupBy(group).applyInPandas``: one shuffle on the group key,
    zero broadcast, zero driver collect — executor memory is
    O(max |group| × d) and pair compute Σ|group|².  Within a group
    the A-side is processed in ``block_rows`` chunks so the distance
    block stays O(block_rows × |group|).

    Same numeric contract as :func:`knn_exact`: components round to
    ×``scale`` integers, every float64 product of two ≤1e6 integers
    summed over ≤64 dims is < 2^53 so the BLAS matmul is EXACT
    integer arithmetic; ties broken by ``(d², idb)``.  Rows whose
    group value is NULL form their own group (null-safe by
    construction — the pandas block never reads the key).  Groups
    with a single row emit nothing (no OTHER row exists), matching
    ``knn_exact``'s ``kk <= 0`` skip."""
    from pyspark.sql.types import LongType, StructField, StructType

    scaled = df.select(
        F.col(group_col).alias("_g"),
        F.col(id_col).cast("long").alias("_id"),
        F.transform(
            vec_col, lambda x: F.round(x.cast("double") * scale).cast("long")
        ).alias("_v"),
    )
    out_schema = StructType(
        [
            StructField("ida", LongType()),
            StructField("idb", LongType()),
            StructField("d2", LongType()),
        ]
    )

    def per_group(pdf):
        import pandas as pd

        n = len(pdf)
        if n <= 1:
            return pd.DataFrame(
                {
                    "ida": pd.Series(dtype="int64"),
                    "idb": pd.Series(dtype="int64"),
                    "d2": pd.Series(dtype="int64"),
                }
            )
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        B = np.array(pdf["_v"].tolist(), dtype=np.float64)
        Bn = (B * B).sum(axis=1)
        outa, outb, outd = [], [], []
        for s in range(0, n, block_rows):
            e = min(n, s + block_rows)
            # exact: all products/sums are integers < 2^53
            d2 = Bn[s:e][:, None] + Bn[None, :] - 2.0 * (B[s:e] @ B.T)
            for j in range(e - s):
                i = s + j
                row = np.where(ids == ids[i], np.inf, d2[j])
                # duplicate ids mask >1 entry to inf — cut the top-k
                # over FINITE candidates only, else kth=inf admits
                # inf rows whose int64 cast is INT64_MIN
                finite = np.nonzero(np.isfinite(row))[0]
                kk = min(k, len(finite))
                if kk <= 0:
                    continue
                kth = np.partition(row[finite], kk - 1)[kk - 1]
                cand = finite[row[finite] <= kth]
                order = cand[np.lexsort((ids[cand], row[cand]))][:kk]
                outa.extend([ids[i]] * len(order))
                outb.extend(ids[order].tolist())
                outd.extend(row[order].astype(np.int64).tolist())
        return pd.DataFrame({"ida": outa, "idb": outb, "d2": outd})

    return scaled.groupBy("_g").applyInPandas(per_group, out_schema)
