"""Property-based checks for the near-dup operators: against random
small corpora, the Spark implementations must agree with a plain
Python brute force (exact ops) or be a sound subset of it (LSH ops).

Few examples × real SparkSession jobs — each example costs a Spark
job, so max_examples stays small; the value is in the weird corpora
hypothesis finds (empty docs, single tokens, all-identical docs,
whitespace runs), not in volume.
"""

from hypothesis import given, settings
from hypothesis import strategies as st

from aws_glue_jobs_incremental_database_etl_spark.operators.dedup import (
    containment_near_dup_pairs,
    jaccard_near_dup_pairs,
    jaccard_near_dup_pairs_prefix,
    minhash_near_dup_pairs,
)

WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


def _doc():
    return st.lists(st.sampled_from(WORDS), min_size=0, max_size=12).map(" ".join)


def _corpus():
    return st.lists(_doc(), min_size=2, max_size=8)


def _brute_force(texts, k=3, threshold=0.7, containment=False):
    """Reference semantics: k-token shingles (distinct; whole doc if
    fewer than k tokens), exact Jaccard (or containment, shared over
    the smaller set), pairs id_a < id_b."""
    shingle_sets = []
    for t in texts:
        toks = t.strip().lower().split()
        if len(toks) >= k:
            sh = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
        else:
            sh = {" ".join(toks)}
        shingle_sets.append(sh)
    out = set()
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            a, b = shingle_sets[i], shingle_sets[j]
            denom = min(len(a), len(b)) if containment else len(a | b)
            score = (len(a & b) / denom) if denom else 0.0
            if score >= threshold:
                out.add((i, j))
    return out


@given(_corpus())
@settings(max_examples=15, deadline=None)
def test_exact_jaccard_variants_match_brute_force(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    expect = _brute_force(texts)
    got_postings = {
        (r.id_a, r.id_b)
        for r in jaccard_near_dup_pairs(df, "doc_id", "text", 0.7).collect()
    }
    got_prefix = {
        (r.id_a, r.id_b)
        for r in jaccard_near_dup_pairs_prefix(df, "doc_id", "text", 0.7).collect()
    }
    got_containment = {
        (r.id_a, r.id_b)
        for r in containment_near_dup_pairs(df, "doc_id", "text", 0.5).collect()
    }
    assert got_postings == expect
    assert got_prefix == expect
    assert got_containment == _brute_force(texts, threshold=0.5, containment=True)


@given(_corpus())
@settings(max_examples=10, deadline=None)
def test_minhash_is_sound_subset_of_exact(spark, texts):
    """MinHash banding may MISS pairs (LSH recall < 1) but the exact
    verify guarantees it never reports a pair below the threshold."""
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    expect = _brute_force(texts)
    got = {
        (r.id_a, r.id_b)
        for r in minhash_near_dup_pairs(df, "doc_id", "text", 0.7).collect()
    }
    assert got <= expect


# ---------------------------------------------------------------------
# interval_join: bucketed overlap ≡ brute force on random intervals
# ---------------------------------------------------------------------

_intervals = st.lists(
    st.tuples(st.integers(0, 500), st.integers(0, 120)),  # (start, length)
    min_size=1,
    max_size=25,
)


@given(_intervals, _intervals, st.sampled_from([7, 50, 200]))
@settings(max_examples=12, deadline=None)
def test_interval_join_equals_bruteforce(spark, ls, rs, width):
    from aws_glue_jobs_incremental_database_etl_spark.operators.joins import (
        interval_join,
    )

    lrows = [(i, s, s + n) for i, (s, n) in enumerate(ls)]
    rrows = [(j, s, s + n) for j, (s, n) in enumerate(rs)]
    left = spark.createDataFrame(lrows, "lid int, lst long, len long")
    right = spark.createDataFrame(rrows, "rid int, rst long, ren long")
    got = {
        (r.lid, r.rid)
        for r in interval_join(
            left, right, ("lst", "len"), ("rst", "ren"), bucket_width=width
        ).collect()
    }
    want = {
        (i, j)
        for i, a, b in lrows
        for j, c, d in rrows
        if a <= d and c <= b
    }
    assert got == want


@given(st.lists(st.text(min_size=0, max_size=20), min_size=1, max_size=8))
@settings(max_examples=10, deadline=None)
def test_md5_60_token_hash_matches_hashlib(spark, texts):
    """The portable simhash token hash is engine-independent: Spark's
    conv(substr(md5,1,15),16,10) == python int(md5[:15],16) — the
    property the generated DuckDB simhash oracle stands on."""
    import hashlib

    import pyspark.sql.functions as F

    from aws_glue_jobs_incremental_database_etl_spark.operators.dedup import _token_hash

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = {r.t: r.h for r in df.select("t", _token_hash(F.col("t"), "md5_60").alias("h")).collect()}
    for t in texts:
        assert got[t] == int(hashlib.md5(t.encode()).hexdigest()[:15], 16)


@given(
    st.lists(
        st.lists(st.floats(-1, 1, allow_nan=False, width=32), min_size=8, max_size=8),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=8, deadline=None)
def test_assign_nearest_centroid_matches_numpy_argmin(spark, vecs):
    """Literal-centroid assignment == numpy argmin of squared
    euclidean distance (first index wins ties) — the contract the
    generated IVF/SemDeDup oracles replay in SQL."""
    import numpy as np

    from aws_glue_jobs_incremental_database_etl_spark.operators.similarity import (
        assign_nearest_centroid,
        fixed_centroids,
    )

    cents = fixed_centroids(8, 4, seed=7)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: r.cluster
        for r in assign_nearest_centroid(df, cents).collect()
    }
    m = np.array(vecs, dtype=np.float64)
    d2 = ((m[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    for i in range(len(vecs)):
        assert got[i] == int(np.argmin(d2[i]))
