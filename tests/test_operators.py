"""Unit tests for the [EXT] operator library: joins, dedup,
similarity, text (SURVEY.md §2.3/§2.11)."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from aws_glue_jobs_incremental_database_etl_spark.operators.dedup import (
    exact_dedup,
    hamming64,
    jaccard_near_dup_pairs,
    minhash_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard,
    shingles,
    simhash_near_dup_pairs,
)
from aws_glue_jobs_incremental_database_etl_spark.operators.joins import (
    asof_join,
    range_join,
)
from aws_glue_jobs_incremental_database_etl_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_lsh,
    cosine_topk_many,
    hyperplane_lsh_bucket,
)


# --------------------------------------------------------------- joins

def _asof_fixture(spark):
    trades = spark.createDataFrame(
        [(1, 100, "a"), (1, 200, "b"), (2, 150, "c")],
        ["key", "t", "trade"],
    )
    quotes = spark.createDataFrame(
        [(1, 90, 1.0), (1, 100, 2.0), (1, 199, 3.0), (2, 300, 9.0)],
        ["key", "t", "px"],
    )
    return trades, quotes


def test_asof_join_strict(spark):
    trades, quotes = _asof_fixture(spark)
    out = asof_join(
        trades, quotes, on=["key"], left_ts="t", right_ts="t", value_cols=["px"],
        strict=True,
    )
    got = {(r.key, r.t): r.px for r in out.collect()}
    # strict <: the t=100 quote is NOT visible to the t=100 trade
    assert got == {(1, 100): 1.0, (1, 200): 3.0, (2, 150): None}


def test_asof_join_non_strict(spark):
    trades, quotes = _asof_fixture(spark)
    out = asof_join(
        trades, quotes, on=["key"], left_ts="t", right_ts="t", value_cols=["px"],
        strict=False,
    )
    got = {(r.key, r.t): r.px for r in out.collect()}
    assert got == {(1, 100): 2.0, (1, 200): 3.0, (2, 150): None}


def test_asof_join_keeps_all_left_rows(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    out = asof_join(
        purchases, clicks, on=["user_id"], left_ts="ts", right_ts="click_ts",
        value_cols=["click_ts"], strict=False,
    )
    assert out.count() == purchases.count()
    bad = out.filter(F.col("click_ts") > F.col("ts")).count()
    assert bad == 0


def test_range_join_with_equi_keys_no_bnlj(spark):
    left = spark.createDataFrame([(1, 5), (1, 50), (2, 5)], ["k", "x"])
    right = spark.createDataFrame([(1, 0, 10), (2, 10, 20)], ["k", "lo", "hi"])
    cond = (F.col("x") >= F.col("lo")) & (F.col("x") < F.col("hi"))
    out = range_join(left, right, cond, equi_keys=["k"])
    rows = {(r.k, r.x) for r in out.select(left.k, "x").collect()}
    assert rows == {(1, 5)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


# --------------------------------------------------------------- dedup

def test_exact_dedup_deterministic_survivor(spark):
    df = spark.createDataFrame(
        [(3, "a"), (1, "a"), (2, "a"), (9, "b")], ["id", "k"]
    )
    out = exact_dedup(df, ["k"], order_by=["id"]).collect()
    assert {(r.id, r.k) for r in out} == {(1, "a"), (9, "b")}
    # without order_by: one arbitrary survivor per key
    assert exact_dedup(df, ["k"]).count() == 2


def test_shingles_and_jaccard(spark):
    df = spark.createDataFrame([("the quick brown fox",)], ["t"])
    out = df.select(shingles(F.col("t"), 2).alias("sh")).first()
    assert sorted(out.sh) == ["brown fox", "quick brown", "the quick"]
    # short text falls back to whole-string shingle
    short = spark.createDataFrame([("hello",)], ["t"])
    assert short.select(shingles(F.col("t"), 3).alias("sh")).first().sh == ["hello"]
    # jaccard of identical sets = 1
    j = (
        df.select(
            ngram_jaccard(shingles(F.col("t"), 2), shingles(F.col("t"), 2)).alias("j")
        )
        .first()
        .j
    )
    assert j == 1.0


DOCS = [
    (0, "alpha beta gamma delta epsilon zeta eta theta"),
    (1, "alpha beta gamma delta epsilon zeta eta iota"),   # near-dup of 0
    (2, "one two three four five six seven eight nine"),
    (3, "completely different words entirely unrelated text here now"),
    (4, "one two three four five six seven eight ten"),    # near-dup of 2
]


def test_minhash_finds_planted_near_dups(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    pairs = minhash_near_dup_pairs(
        df, "doc_id", "text", threshold=0.5, shingle_k=2, num_hashes=64, bands=16
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(0, 1), (2, 4)}


def test_jaccard_exact_matches_bruteforce(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    pairs = jaccard_near_dup_pairs(df, "doc_id", "text", threshold=0.5, shingle_k=2)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert set(got) == {(0, 1), (2, 4)}
    # 2-shingles: 7 per doc, 6 shared → j = 6/8
    assert got[(0, 1)] == pytest.approx(0.75)


def test_minhash_dedup_drops_losers(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    kept = minhash_dedup(
        df, "doc_id", "text", threshold=0.5, shingle_k=2, num_hashes=64, bands=16
    )
    assert sorted(r.doc_id for r in kept.collect()) == [0, 2, 3]


def test_jaccard_prefix_filter_matches_postings_variant(spark, sf_dir):
    from aws_glue_jobs_incremental_database_etl_spark.operators.dedup import (
        jaccard_near_dup_pairs,
        jaccard_near_dup_pairs_prefix,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_near_dup_pairs(docs, "doc_id", "text", 0.7).collect()
    }
    pref = {
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_near_dup_pairs_prefix(docs, "doc_id", "text", 0.7).collect()
    }
    # prefix filtering is exact: same pairs, same similarities
    assert pref == full and full


def test_quality_survivor_dedup_keeps_best_per_transitive_cluster(spark):
    """A~B and B~C (A,C never directly paired) must collapse to ONE
    survivor — the highest-quality member; ties break to the smaller
    id; singletons survive as their own cluster."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.dedup import (
        quality_survivor_dedup,
    )

    docs = spark.createDataFrame(
        [(1, 80), (2, 95), (3, 95), (9, 10)], "doc_id long, n_chars long"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = {
        r["id"]: (r["cluster"], r["survivor"])
        for r in quality_survivor_dedup(docs, pairs).collect()
    }
    assert out[1] == (1, 0)  # cluster label = min id of the component
    assert out[2] == (1, 1)  # quality tie with 3 → smaller id wins
    assert out[3] == (1, 0)
    assert out[9] == (9, 1)  # singleton survives
    assert sum(s for _, s in out.values()) == 2


def test_simhash_near_dups_and_hamming(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    pairs = simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=10, shingle_k=2)
    rows = pairs.collect()
    got = {(r.id_a, r.id_b) for r in rows}
    # only planted near-dup pairs may surface (banding recall on tiny
    # 7-shingle docs is not guaranteed past hamming 3, so subset not
    # equality), and every reported pair honors the threshold
    assert got and got <= {(0, 1), (2, 4)}
    assert all(r.hamming <= 10 and r.id_a < r.id_b for r in rows)
    # hamming64 sanity: 0b111 vs 0 → 3
    row = spark.range(1).select(hamming64(F.lit(7), F.lit(0)).alias("h")).first()
    assert row.h == 3


def test_embedding_near_dup_bucketed_matches_exact(spark, sf_dir):
    from aws_glue_jobs_incremental_database_etl_spark.operators.dedup import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_bucketed,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.4
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs_bucketed(
            emb, "vec_id", "embedding", threshold=0.4, num_planes=4, num_tables=48
        ).collect()
    }
    # no false positives ever (exact cosine inside the kernel); at
    # these settings recall is complete on this corpus
    assert lsh == exact and exact


def test_embedding_near_dup_broadcast_bound_enforced(spark, sf_dir):
    import pytest as _pytest

    from aws_glue_jobs_incremental_database_etl_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with _pytest.raises(ValueError, match="max_broadcast_rows"):
        embedding_near_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.9, max_broadcast_rows=10
        )


# ----------------------------------------------------------- similarity

def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )


def test_cosine_topk_matches_numpy(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows])
    q = mat[0]
    sims = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -np.round(sims, 6)))[:5]
    expect = list(ids[order])
    got = [r.vec_id for r in cosine_topk(emb, list(q), k=5).collect()]
    assert got == expect


def test_cosine_topk_many_per_query(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = cosine_topk_many(emb, queries, k=3)
    counts = {r.query_id: r.n for r in out.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: 3, 1: 3}
    # each query's own vector appears in its top-3 (self-cosine = 1)
    selfs = out.filter(F.col("query_id") == F.col("vec_id"))
    assert selfs.count() == 2


def test_lsh_bucket_deterministic_and_topk_subset(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    b1 = hyperplane_lsh_bucket(emb, num_planes=6).select("vec_id", "bucket")
    b2 = hyperplane_lsh_bucket(emb, num_planes=6).select("vec_id", "bucket")
    assert b1.exceptAll(b2).count() == 0
    q = emb.filter(F.col("vec_id") == 0).first().embedding
    ann = cosine_topk_lsh(emb, list(q), k=10, num_planes=6)
    ann_ids = {r.vec_id for r in ann.collect()}
    assert 0 in ann_ids  # query's own bucket contains itself
    assert len(ann_ids) <= 10
    # ANN candidates all come from the query's bucket
    qsig_bucket = (
        hyperplane_lsh_bucket(emb, num_planes=6)
        .filter(F.col("vec_id") == 0)
        .first()
        .bucket
    )
    bucket_ids = {
        r.vec_id
        for r in hyperplane_lsh_bucket(emb, num_planes=6)
        .filter(F.col("bucket") == qsig_bucket)
        .collect()
    }
    assert ann_ids <= bucket_ids


def test_incremental_topk_equals_full_scan_and_survives_crash(
    spark, sf_dir, tmp_path
):
    """Folding batches one at a time must equal the single-pass top-k
    (monotone mergeability end-to-end through the persisted state);
    stale staging leftovers from a crashed fold must not poison the
    next commit."""
    import os

    from aws_glue_jobs_incremental_database_etl_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_incremental,
    )

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).first().embedding
    state = str(tmp_path / "topk_state")
    os.makedirs(os.path.join(state, ".staging-1", "junk"))  # crash debris
    out = None
    for m in (0, 1):
        out = cosine_topk_incremental(
            spark, state, emb.filter(F.col("vec_id") % 2 == m), list(q), k=7
        )
    got = [(r.vec_id, r.cosine) for r in out.collect()]
    want = [
        (r.vec_id, r.cosine) for r in cosine_topk(emb, list(q), k=7).collect()
    ]
    assert sorted(got) == sorted(want)
    # exactly one committed version remains, bounded at k rows on disk
    vdirs = [d for d in os.listdir(state) if d.startswith("topk-")]
    assert len(vdirs) == 1
    assert spark.read.parquet(os.path.join(state, vdirs[0])).count() == 7
    # crash-at-any-point: a half-written staging dir for the NEXT
    # version must not hide the committed state (the two-rename
    # scheme's no-state window, fixed round 5)
    os.makedirs(os.path.join(state, ".staging-99", "junk"))
    out3 = cosine_topk_incremental(
        spark, state, emb.limit(0), list(q), k=7
    )
    assert sorted(
        (r.vec_id, r.cosine) for r in out3.collect()
    ) == sorted(got)


def test_ivf_topk_full_probe_matches_exact(spark, sf_dir):
    from aws_glue_jobs_incremental_database_etl_spark.operators.similarity import (
        cosine_topk_ivf,
    )

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).first().embedding
    exact = [r.vec_id for r in cosine_topk(emb, list(q), k=5).collect()]
    # probing every cluster must reproduce the exact answer
    full = cosine_topk_ivf(
        emb, list(q), k=5, n_clusters=4, nprobe=4
    )
    assert [r.vec_id for r in full.collect()] == exact
    # restricted probe returns k results that are a subset of the corpus
    ann = cosine_topk_ivf(emb, list(q), k=5, n_clusters=4, nprobe=1)
    got = [r.vec_id for r in ann.collect()]
    assert 0 < len(got) <= 5
    assert 0 in got  # query vector's own cluster is always probed


def test_ivf_partitioned_index_never_reads_unprobed_lists(
    spark, sf_dir, tmp_path
):
    """End-to-end IVF storage layout: build writes cluster=<id>/ dirs;
    the nprobe query must resolve its cluster filter against the
    DIRECTORY layout, not row filtering — proven the hard way by
    corrupting every parquet file in the unprobed lists and asserting
    the query still runs (a post-scan filter would crash reading the
    garbage bytes) and matches the uncorrupted in-memory path."""
    import os

    from aws_glue_jobs_incremental_database_etl_spark.operators.similarity import (
        assign_nearest_centroid,
        build_ivf_index,
        cosine_topk_ivf_partitioned,
        fixed_centroids,
    )

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).first().embedding
    cents = fixed_centroids(len(q), 8, seed=7)
    loc = str(tmp_path / "ivf")
    build_ivf_index(emb, loc, cents)
    dirs = sorted(d for d in os.listdir(loc) if d.startswith("cluster="))
    assert len(dirs) >= 2  # real inverted-file layout on disk

    expected = cosine_topk_ivf_partitioned(
        spark, loc, list(q), cents, k=5, nprobe=2
    ).collect()
    idx_schema = spark.read.parquet(loc).schema

    # which lists does nprobe=2 probe for this query?
    qv = np.asarray(q)
    sims = (cents @ qv) / (
        np.linalg.norm(cents, axis=1) * np.linalg.norm(qv)
    )
    probed = {int(i) for i in np.argsort(-sims)[:2]}
    for d in dirs:
        if int(d.split("=", 1)[1]) in probed:
            continue
        for f in os.listdir(os.path.join(loc, d)):
            if f.endswith(".parquet"):
                with open(os.path.join(loc, d, f), "wb") as fh:
                    fh.write(b"not parquet")
    # schema pinned (the 100 TB contract: no footer sampling at plan
    # time) — execution must now succeed iff unprobed files are skipped
    got = cosine_topk_ivf_partitioned(
        spark, loc, list(q), cents, k=5, nprobe=2, schema=idx_schema
    ).collect()
    assert got == expected
    # and the in-memory assignment agrees with what landed on disk
    mem = assign_nearest_centroid(emb, cents)
    on_disk = spark.read.schema(idx_schema).parquet(loc).filter(
        F.col("cluster").isin(list(probed))
    )
    assert (
        on_disk.count()
        == mem.filter(F.col("cluster").isin(list(probed))).count()
    )


# ----------------------------------------------------------------- text

def test_document_stats_properties(spark):
    from aws_glue_jobs_incremental_database_etl_spark.operators.text import document_stats

    df = spark.createDataFrame(
        [
            (1, "The cat sat on the mat. It is a cat!"),
            (2, ""),
            (3, "xyzzy plugh"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in document_stats(df).collect()}
    assert out[1].n_tokens == 10
    assert out[1].lang_pred == "en"
    assert out[2].n_tokens == 0
    assert out[3].stopword_ratio == 0.0
    assert 0.0 <= out[1].quality <= 1.0
    # fingerprint is whitespace/case-insensitive
    df2 = spark.createDataFrame([(1, "  the CAT  sat on the mat.  it is a cat!")], ["doc_id", "text"])
    fp2 = document_stats(df2).first().fingerprint
    assert fp2 == out[1].fingerprint


# --------------------------------------------------------- scale helpers

def test_salted_join_matches_plain_join(spark, sf_dir):
    from aws_glue_jobs_incremental_database_etl_spark.operators.joins import (
        salted_join,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = o.join(c, ["o_custkey"]).select("o_orderkey", "c_name")
    salted = salted_join(o, c, ["o_custkey"], salt_buckets=8).select(
        "o_orderkey", "c_name"
    )
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_bucketed_table_join_has_no_exchange(spark, tmp_path):
    import uuid

    from aws_glue_jobs_incremental_database_etl_spark.sinks import (
        write_bucketed_table,
    )

    suffix = uuid.uuid4().hex[:8]
    # tables land in the session warehouse dir (gitignored
    # spark-warehouse/); dropped in finally
    a = spark.range(1000).withColumn("v", F.col("id") * 2)
    b = spark.range(1000).withColumn("w", F.col("id") * 3)
    ta, tb = f"bk_a_{suffix}", f"bk_b_{suffix}"
    write_bucketed_table(a, ta, ["id"], num_buckets=8)
    write_bucketed_table(b, tb, ["id"], num_buckets=8)
    try:
        joined = spark.table(ta).join(spark.table(tb), "id")
        assert joined.count() == 1000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # both sides bucketed on the join key -> shuffle-free join
        assert "Exchange hashpartitioning" not in plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_chunk_documents_windows_and_overlap(spark):
    from aws_glue_jobs_incremental_database_etl_spark.operators.text import (
        chunk_documents,
    )

    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, text), (2, "a b")], "doc_id long, text string")
    out = chunk_documents(df, chunk_tokens=4, overlap_tokens=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["id"], []).append((r["chunk_id"], r["chunk_text"]))
    # doc 1: stride 3 → starts 0,3,6,9 → 1+ceil((10-4)/3)=3 chunks;
    # starts 0,3,6 cover w0..w9
    assert by_doc[1] == [
        (0, "w0 w1 w2 w3"),
        (1, "w3 w4 w5 w6"),
        (2, "w6 w7 w8 w9"),
    ]
    assert by_doc[2] == [(0, "a b")]  # short doc: one partial chunk


def test_redact_pii_masks_shapes_and_keeps_prose(spark):
    from aws_glue_jobs_incremental_database_etl_spark.functions.text import redact_pii

    rows = [
        (1, "contact jane.doe+x@corp.example.org for details"),
        (2, "call 415-555-0199 x2 or 4111 1111 1111 1111"),
        (3, "server at 10.0.42.7 responded"),
        (4, "ordinary text with numbers like 42 and 2024 stays"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {r["id"]: r["out"] for r in df.select("id", redact_pii("t").alias("out")).collect()}
    assert got[1] == "contact <EMAIL> for details"
    assert got[2] == "call <NUMBER> x2 or <NUMBER>"
    assert got[3] == "server at <IP> responded"
    assert got[4] == rows[3][1]  # short numbers untouched


def test_asof_join_tolerance_rejects_stale_matches(spark):
    import datetime as dt

    from aws_glue_jobs_incremental_database_etl_spark.operators.joins import asof_join

    T = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    left = spark.createDataFrame(
        [("k", T(10)), ("k", T(50))], "id string, lts timestamp"
    )
    right = spark.createDataFrame(
        [("k", T(5), 1.0), ("k", T(12), 2.0)], "id string, rts timestamp, v double"
    )
    out = asof_join(
        left, right, ["id"], "lts", "rts", tolerance="10 minutes"
    )
    got = {r["lts"].minute: r["v"] for r in out.collect()}
    assert got[10] == 1.0   # 5 min stale ≤ tolerance
    assert got[50] is None  # latest match is 38 min stale → masked


def test_tfidf_top_terms_ranks_rare_terms_higher(spark):
    from aws_glue_jobs_incremental_database_etl_spark.operators.text import (
        tfidf_top_terms,
    )

    df = spark.createDataFrame(
        [
            (1, "common rare"),
            (2, "common common common"),
            (3, "common unique"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(df, k=1)
    top = {r["id"]: r["term"] for r in out.collect()}
    # "common" appears in every doc → lowest idf; doc-specific terms win
    assert top[1] == "rare"
    assert top[3] == "unique"
    assert top[2] == "common"  # only term it has
    assert out.count() == 3  # exactly k=1 per doc


def test_random_projection_deterministic_and_distance_preserving(spark):
    import math
    import random

    from aws_glue_jobs_incremental_database_etl_spark.operators.similarity import (
        random_projection,
    )

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    p1 = {r["vec_id"]: r["projected"] for r in random_projection(df, "embedding", 16, id_col="vec_id").collect()}
    p2 = {r["vec_id"]: r["projected"] for r in random_projection(df.repartition(5), "embedding", 16, id_col="vec_id").collect()}
    assert p1 == p2  # layout-independent, no RNG

    # JL sanity: projected distances correlate with the originals
    def dist(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    orig = {r[0]: r[1] for r in rows}
    pairs = [(i, j) for i in range(0, 10) for j in range(i + 1, 10)]
    d_orig = [dist(orig[i], orig[j]) for i, j in pairs]
    d_proj = [dist(p1[i], p1[j]) / math.sqrt(16) for i, j in pairs]
    # normalized projected distance within 2x of original for most pairs
    ok = sum(1 for a, b in zip(d_orig, d_proj) if 0.4 < b / a < 2.5)
    assert ok >= int(0.8 * len(pairs))


def test_lexicon_score_broadcast_and_zero_hits(spark):
    from aws_glue_jobs_incremental_database_etl_spark.operators.text import (
        lexicon_score,
    )

    docs = spark.createDataFrame(
        [(1, "Good good bad"), (2, "neutral words only"), (3, "BAD")],
        "doc_id long, text string",
    )
    lex = spark.createDataFrame(
        [("good", 1.0), ("bad", -2.0)], "term string, weight double"
    )
    out = {r["id"]: (r["n_matched"], r["score"]) for r in lexicon_score(docs, lex).collect()}
    assert out == {1: (3, 0.0), 2: (0, 0.0), 3: (1, -2.0)}  # case-folded; zero-hit kept
    plan = lexicon_score(docs, lex)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # lexicon never shuffles the corpus


def test_skew_stats_and_salt_recommendation(spark):
    from aws_glue_jobs_incremental_database_etl_spark.operators.skew import (
        recommend_salt,
        skew_stats,
    )

    # 1000 rows: key 0 holds 40%, the rest uniform over 60 keys
    rows = [(0,)] * 400 + [(1 + i % 60,) for i in range(600)]
    df = spark.createDataFrame(rows, "k long")
    top = skew_stats(df, ["k"], top_k=3).collect()
    assert top[0]["k"] == 0 and top[0]["n_rows"] == 400
    assert top[0]["share"] == 0.4
    assert top[0]["skew_ratio"] == top[1]["skew_ratio"] > 20  # 400 / (1000/61)

    assert recommend_salt(df, ["k"], target_share=0.01) == 40
    uniform = spark.createDataFrame([(i % 50,) for i in range(1000)], "k long")
    assert recommend_salt(uniform, ["k"], target_share=0.05) == 1


def test_postings_pairs_caps_hub_keys_and_warns(spark, caplog):
    """The capped postings self-join: a hub key past max_df is dropped
    whole (warning fired with the drop count), a key at the cap is
    kept, max_df=None opts out silently, ``_df`` is each kept key's
    fan-out, and carried windows see only the kept postings."""
    import logging

    from pyspark.sql.window import Window

    from aws_glue_jobs_incremental_database_etl_spark.operators.skew import (
        postings_pairs,
    )

    # key 7 is the hub: 30 items; keys 1..5 hold items 0..2 each, so
    # items 0..2 sit in 6 keys before the cap and 5 after it
    rows = [(7, i) for i in range(30)] + [
        (k, i) for k in range(1, 6) for i in range(3)
    ]
    df = spark.createDataFrame(rows, "k long, item long")
    n_keys = F.count(F.lit(1)).over(Window.partitionBy("item")).alias("n")
    with caplog.at_level(logging.WARNING):
        pairs = postings_pairs(df, "k", "item", 10, "unit-test", carry=(n_keys,))
        out = pairs.collect()
    assert pairs.columns == ["k", "_df", "item_a", "n_a", "item_b", "n_b"]
    assert {r.k for r in out} == {1, 2, 3, 4, 5}
    assert len(out) == 15  # 3 pairs per kept key
    assert all(r.item_a < r.item_b for r in out)
    assert {r.k: r._df for r in out} == {k: 3 for k in range(1, 6)}
    assert {(r.n_a, r.n_b) for r in out} == {(5, 5)}
    assert any(
        "dropped 1 over-cap unit-test keys" in r.message for r in caplog.records
    )
    # the merge hint holds: AQE never broadcasts the self-join, even
    # when the runtime size is tiny
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan

    caplog.clear()
    with caplog.at_level(logging.WARNING):
        uncapped = postings_pairs(df, "k", "item", None, "unit-test").collect()
        at_cap = postings_pairs(df, "k", "item", 30, "unit-test").count()
    assert not caplog.records
    assert len(uncapped) == at_cap == 30 * 29 // 2 + 15
    assert {r.k: r._df for r in uncapped}[7] == 30


def test_repetition_signals_known_values(spark):
    from aws_glue_jobs_incremental_database_etl_spark.operators.text import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),      # 6 words, 2 distinct; bigrams: a-b ×3, b-a ×2
            (2, "w x y z"),          # all distinct; each bigram once
            (3, "solo"),             # 1 word → no bigrams
            (4, ""),                 # empty
        ],
        ["doc_id", "text"],
    )
    out = {r.id: r for r in repetition_signals(df).collect()}
    assert out[1].n_words == 6
    assert out[1].dup_word_frac == round(4 / 6, 6)
    assert out[1].top_bigram_frac == 0.6  # 3 of 5 bigrams are "a b"
    assert out[2].dup_word_frac == 0.0
    assert out[2].top_bigram_frac == round(1 / 3, 6)
    assert out[3].n_words == 1 and out[3].top_bigram_frac == 0.0
    assert out[4].n_words == 0
    assert out[4].dup_word_frac == 0.0 and out[4].top_bigram_frac == 0.0


def test_decontaminate_flags_ngram_overlap(spark):
    from aws_glue_jobs_incremental_database_etl_spark.operators.text import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "p q r s t u v w"),        # contains the benchmark 5-gram q..u
            (2, "a b c d e f g h"),        # no overlap
            (3, "q r s t u"),              # exactly the benchmark text
            (4, "tiny"),                   # < k words → whole-text gram
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(100, "q r s t u")], ["doc_id", "text"])
    out = {r.id: r for r in decontaminate(docs, bench, k=5).collect()}
    assert out[1].is_contaminated == 1 and out[1].n_matched_grams == 1
    assert out[1].n_grams == 4  # 8 words → 4 distinct 5-grams
    assert out[2].is_contaminated == 0 and out[2].n_matched_grams == 0
    assert out[3].is_contaminated == 1
    assert out[4].is_contaminated == 0 and out[4].n_grams == 1


def test_decontaminate_min_matches_threshold(spark):
    from aws_glue_jobs_incremental_database_etl_spark.operators.text import decontaminate

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e z a b c d e")], ["doc_id", "text"]
    )
    bench = spark.createDataFrame([(9, "a b c d e f")], ["doc_id", "text"])
    out = {r.id: r for r in decontaminate(docs, bench, k=5, min_matches=2).collect()}
    assert out[1].n_matched_grams == 2 and out[1].is_contaminated == 1
    assert out[2].n_matched_grams == 1 and out[2].is_contaminated == 0


# ------------------------------------------------- packing / segment dedup

def test_pack_sequences_window_assignment(spark):
    from aws_glue_jobs_incremental_database_etl_spark.operators.text import pack_sequences

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f g"), (3, "h i"), (4, "   ")],
        ["doc_id", "text"],
    )
    # stream (id order): doc1 @ [0,2], doc2 @ [3,6], doc3 @ [7,8]; L=4
    out = {
        (r.window_id, r.id): r.win_tokens
        for r in pack_sequences(docs, seq_len=4, bucket_width=2).collect()
    }
    assert out == {(0, 1): 3, (0, 2): 1, (1, 2): 3, (1, 3): 1, (2, 3): 1}


def test_pack_sequences_bucket_width_invariant(spark):
    from aws_glue_jobs_incremental_database_etl_spark.operators.text import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (i % 7 + 1))) for i in range(1, 40)],
        ["doc_id", "text"],
    )
    a = sorted(map(tuple, pack_sequences(docs, seq_len=8, bucket_width=1).collect()))
    b = sorted(map(tuple, pack_sequences(docs, seq_len=8, bucket_width=1000).collect()))
    assert a == b
    # every document's windowed tokens sum back to its token count
    per_doc = {}
    for w, i, n, wt in a:
        per_doc.setdefault((i, n), 0)
        per_doc[(i, n)] += wt
    assert all(total == n for (_, n), total in per_doc.items())


def test_dedup_segments_keep_first(spark):
    from aws_glue_jobs_incremental_database_etl_spark.operators.text import dedup_segments

    docs = spark.createDataFrame(
        [
            (1, "hello world\nfoo bar"),
            (2, "foo bar\nunique line"),
            (3, "hello world\nfoo bar"),
        ],
        ["doc_id", "text"],
    )
    out = {r.id: r for r in dedup_segments(docs, delimiter="\n").collect()}
    assert out[1].n_kept == 2 and out[1].clean_text == "hello world\nfoo bar"
    assert out[2].n_kept == 1 and out[2].clean_text == "unique line"
    assert out[3].n_kept == 0 and out[3].clean_text == ""
    assert all(r.n_segments == 2 for r in out.values())


def test_dedup_segments_drop_common(spark):
    from aws_glue_jobs_incremental_database_etl_spark.operators.text import dedup_segments

    docs = spark.createDataFrame(
        [
            (1, "hello world\nfoo bar"),
            (2, "foo bar\nunique line"),
            (3, "hello world\nfoo bar"),
            (4, "foo bar"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.id: r
        for r in dedup_segments(docs, delimiter="\n", mode="drop_common", max_docs=2).collect()
    }
    # "foo bar" is in 3 docs > max_docs → dropped everywhere, incl. first
    assert out[1].clean_text == "hello world"
    assert out[3].clean_text == "hello world"
    assert out[4].clean_text == ""
    assert out[2].clean_text == "unique line"


def test_dedup_segments_fixed_token_segments(spark):
    from aws_glue_jobs_incremental_database_etl_spark.operators.text import (
        dedup_segments,
        fixed_token_segments,
    )

    docs = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    segs = docs.select(fixed_token_segments(F.col("text"), 2).alias("s")).first().s
    assert segs == ["a b", "c d", "e"]
    out = dedup_segments(docs, segment_tokens=2).first()
    assert out.n_segments == 3 and out.n_kept == 3
    assert out.clean_text == "a b c d e"


def test_semantic_dedup_within_cluster_min_id_survives(spark):
    from aws_glue_jobs_incremental_database_etl_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(7)
    rows = []
    # two well-separated cluster centers; ids 1-3 are near-identical
    # copies in cluster A, ids 10-11 near-identical in cluster B,
    # id 20 is a loner in cluster A's region but far from 1-3
    a = rng.standard_normal(16); a /= np.linalg.norm(a)
    b = rng.standard_normal(16); b /= np.linalg.norm(b)
    for i in (1, 2, 3):
        v = a + rng.standard_normal(16) * 1e-3
        rows.append((i, [float(x) for x in v]))
    for i in (10, 11):
        v = b + rng.standard_normal(16) * 1e-3
        rows.append((i, [float(x) for x in v]))
    loner = a * 0.2 + rng.standard_normal(16) * 0.5
    rows.append((20, [float(x) for x in loner]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = semantic_dedup(df, "vec_id", "embedding", n_clusters=2, threshold=0.99)
    survivors = sorted(r.vec_id for r in out.collect())
    assert 1 in survivors and 10 in survivors          # min ids survive
    assert 2 not in survivors and 3 not in survivors   # near-dups of 1
    assert 11 not in survivors                         # near-dup of 10
    assert 20 in survivors                             # not a duplicate
    assert "cluster" in out.columns


def test_dedup_segments_and_pack_sequences_validate_args(spark):
    from aws_glue_jobs_incremental_database_etl_spark.operators.text import (
        dedup_segments,
        pack_sequences,
    )

    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        dedup_segments(df, mode="nope")
    with pytest.raises(ValueError):
        dedup_segments(df, segment_tokens=0)
    with pytest.raises(ValueError):
        dedup_segments(df, delimiter="")
    with pytest.raises(ValueError):
        pack_sequences(df, seq_len=0)
    with pytest.raises(ValueError):
        pack_sequences(df, bucket_width=0)


def test_interval_join_matches_bruteforce(spark):
    """Bucketed interval join ≡ naive O(n²) overlap, incl. intervals
    spanning many buckets and exact-boundary touches."""
    import itertools

    from aws_glue_jobs_incremental_database_etl_spark.operators.joins import interval_join

    lrows = [(i, s, e) for i, (s, e) in enumerate(
        [(0, 10), (5, 5), (10, 20), (95, 250), (300, 301), (100, 100)]
    )]
    rrows = [(j, s, e) for j, (s, e) in enumerate(
        [(8, 12), (20, 20), (0, 400), (251, 260), (99, 101)]
    )]
    left = spark.createDataFrame(lrows, "lid int, ls long, le long")
    right = spark.createDataFrame(rrows, "rid int, rs long, re long")
    got = {
        (r.lid, r.rid)
        for r in interval_join(
            left, right, ("ls", "le"), ("rs", "re"), bucket_width=100
        ).collect()
    }
    want = {
        (i, j)
        for (i, ls, le), (j, rs, re) in itertools.product(lrows, rrows)
        if ls <= re and rs <= le
    }
    assert got == want


def test_interval_join_no_duplicate_pairs_across_buckets(spark):
    """A pair sharing many buckets must appear exactly once (algebraic
    first-common-bucket dedup, not DISTINCT)."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.joins import interval_join

    left = spark.createDataFrame([(1, 0, 1000)], "lid int, ls long, le long")
    right = spark.createDataFrame([(2, 0, 1000)], "rid int, rs long, re long")
    out = interval_join(
        left, right, ("ls", "le"), ("rs", "re"), bucket_width=10
    ).collect()
    assert len(out) == 1
    plan = interval_join(
        left, right, ("ls", "le"), ("rs", "re"), bucket_width=10
    )._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_interval_join_rejects_colliding_columns(spark):
    import pytest as _pytest

    from aws_glue_jobs_incremental_database_etl_spark.operators.joins import interval_join

    df = spark.createDataFrame([(1, 2, 3)], "a int, s long, e long")
    with _pytest.raises(ValueError, match="disjoint"):
        interval_join(df, df, ("s", "e"), ("s", "e"), bucket_width=10)


def test_dsir_importance_prefers_target_like_docs(spark):
    """Docs made of target-domain tokens must outscore docs of
    off-domain tokens, and scores must match a numpy replica."""
    import math

    from aws_glue_jobs_incremental_database_etl_spark.operators.text import dsir_importance

    docs = [
        (0, "apple banana apple"),
        (1, "quark gluon boson"),
        (2, "apple gluon"),
        (3, "banana banana apple apple"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    target = df.filter("doc_id in (0, 3)")  # fruit domain
    out = {r.id: (r.n_tokens, r.log_ratio) for r in dsir_importance(df, target).collect()}

    # replica
    corpus = [t for _, s in docs for t in s.lower().split()]
    tgt = [t for i, s in docs if i in (0, 3) for t in s.lower().split()]
    cc = {w: corpus.count(w) for w in set(corpus)}
    ct = {w: tgt.count(w) for w in set(tgt)}
    k, v, nc, nt = 0.5, len(cc), len(corpus), len(tgt)
    lr = {
        w: math.log((ct.get(w, 0) + k) / (nt + k * v))
        - math.log((cc[w] + k) / (nc + k * v))
        for w in cc
    }
    for i, s in docs:
        toks = s.lower().split()
        assert out[i][0] == len(toks)
        assert abs(out[i][1] - sum(lr[t] for t in toks)) < 1e-5
    assert out[0][1] > out[1][1] and out[3][1] > out[1][1]


def test_dsir_model_cache_bounded_and_hit_stable(spark):
    """The DSIR model LRU: repeat scorings of the same (corpus,
    target) hit one cached entry with identical results; distinct
    models never grow the cache past its bound, and eviction
    unpersists (no storage-memory creep across many corpora)."""
    from aws_glue_jobs_incremental_database_etl_spark.operators import text as text_ops
    from aws_glue_jobs_incremental_database_etl_spark.operators.text import (
        dsir_clear_model_cache,
        dsir_importance,
    )

    dsir_clear_model_cache()
    base = [(i, f"tok{i % 7} tok{i % 3} alpha") for i in range(40)]
    df = spark.createDataFrame(base, "doc_id long, text string")
    tgt = df.filter("doc_id < 10")
    first = sorted(map(tuple, dsir_importance(df, tgt).collect()))
    again = sorted(map(tuple, dsir_importance(df, tgt).collect()))
    assert first == again
    assert len(text_ops._DSIR_CACHE) == 1  # same identity → one entry
    # distinct models: bound holds, oldest evicted
    for j in range(text_ops._DSIR_CACHE_MAX + 2):
        dsir_importance(df, df.filter(f"doc_id < {11 + j}")).collect()
    assert len(text_ops._DSIR_CACHE) == text_ops._DSIR_CACHE_MAX
    cached = list(text_ops._DSIR_CACHE.values())
    assert all(m.storageLevel.useMemory for m in cached)
    dsir_clear_model_cache()
    assert len(text_ops._DSIR_CACHE) == 0
    assert all(not m.storageLevel.useMemory for m in cached)


def test_pii_density_counts_and_no_double_count(spark):
    """Known PII shapes count exactly once each; an IPv4's digit run
    must NOT also count as a number (count-then-mask order); clean
    text scores zero."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.text import pii_density

    rows = [
        (0, "mail a@b.com and c.d@e.org end"),  # 2 emails, 5 words
        (1, "host 10.0.0.1 and 192.168.100.200 up"),  # 2 IPs only
        (2, "call 555-000-1234 or 5550001234567"),  # 2 numbers
        (3, "perfectly clean prose with no shapes at all"),
        (4, "x@y.io at 10.0.0.1 tel 555 123 4567 ok"),  # one of each
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r.asDict() for r in pii_density(df).collect()}
    assert (out[0]["n_emails"], out[0]["n_ips"], out[0]["n_numbers"]) == (2, 0, 0)
    assert (out[1]["n_emails"], out[1]["n_ips"], out[1]["n_numbers"]) == (0, 2, 0)
    assert (out[2]["n_emails"], out[2]["n_ips"], out[2]["n_numbers"]) == (0, 0, 2)
    assert out[3]["pii_density"] == 0.0
    assert (out[4]["n_emails"], out[4]["n_ips"], out[4]["n_numbers"]) == (1, 1, 1)
    assert out[0]["pii_density"] == round(2 / 5, 6)


def test_gopher_quality_rules_each_fire(spark):
    """Each Gopher rule (Rae et al. 2021 A1.1) fails exactly the doc
    constructed to violate it, and the compliant doc passes all."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.text import (
        gopher_quality_flags,
    )

    good = "the quick brown fox jumps over lazy dogs and cats " * 6
    short = "the of and that"  # < 50 words
    symbols = " ".join(["#tag"] * 30 + ["the", "of"] * 15)  # 30/60 symbolish
    bullets = "\n".join(f"- {good}" for _ in range(10))  # 100% bullet lines
    ellipsis = "\n".join(f"{good}..." for _ in range(10))
    nostop = "alpha beta gamma delta " * 20  # no required stopwords
    longwords = " ".join(["pneumonoultramicroscopic"] * 60)  # mean len > 10
    df = spark.createDataFrame(
        list(
            enumerate(
                [good, short, symbols, bullets, ellipsis, nostop, longwords]
            )
        ),
        "doc_id long, text string",
    )
    out = {r["id"]: r.asDict() for r in gopher_quality_flags(df).collect()}
    assert out[0]["keep"] == 1
    assert out[1]["pass_word_count"] == 0 and out[1]["keep"] == 0
    assert out[2]["pass_symbol_ratio"] == 0 and out[2]["symbol_ratio"] == 0.5
    assert out[3]["pass_bullet_ratio"] == 0 and out[3]["bullet_ratio"] == 1.0
    assert out[4]["pass_ellipsis_ratio"] == 0
    assert out[5]["pass_stopwords"] == 0 and out[5]["stopword_hits"] == 0
    assert out[6]["pass_mean_word_len"] == 0
    # the violating docs fail ONLY their targeted rule (plus any
    # construction side-effects explicitly allowed below)
    assert out[3]["pass_ellipsis_ratio"] == 1
    assert out[4]["pass_bullet_ratio"] == 1


def test_char_entropy_known_values_and_tails(spark):
    """Exact entropies on constructed strings; spam/blob tails separate
    from prose."""
    import math

    from aws_glue_jobs_incremental_database_etl_spark.functions.text import char_entropy

    rows = [
        (0, "abab"),            # ln 2
        (1, "aaaa"),            # 0
        (2, ""),                # 0 by convention
        (3, "abcd"),            # ln 4
        (4, "the cat sat on the warm mat near the door"),   # prose
        (5, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzz"),              # spam
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {r.id: r.e for r in df.select(
        "id", F.round(char_entropy("t"), 9).alias("e")
    ).collect()}
    assert abs(got[0] - math.log(2)) < 1e-9
    assert got[1] == 0.0 and got[2] == 0.0
    assert abs(got[3] - math.log(4)) < 1e-9
    assert got[5] == 0.0 and got[4] > 2.0  # prose well above spam


def test_quantize_embeddings_roundtrip_bound(spark, sf_dir):
    """int8 codes stay in [-127, 127]; reconstruction error per
    component is bounded by 0.5/scale; all-zero vectors are stable."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    q = quantize_embeddings(emb, "vec_id", "embedding")
    joined = q.join(
        emb.select(F.col("vec_id").alias("id"), "embedding"), "id"
    ).select(
        "id", "scale",
        F.array_max(F.transform("q", lambda x: F.abs(x))).alias("qmax"),
        F.array_max(
            F.zip_with(
                dequantize_embeddings("q", "scale"),
                F.transform("embedding", lambda x: x.cast("double")),
                lambda r, v: F.abs(r - v),
            )
        ).alias("err"),
    )
    rows = joined.collect()
    assert rows
    for r in rows:
        assert r.qmax <= 127
        assert r.err <= 0.5 / r.scale + 1e-12

    zero = spark.createDataFrame([(1, [0.0, 0.0, 0.0])], "vec_id long, embedding array<double>")
    z = quantize_embeddings(zero, "vec_id", "embedding").first()
    assert z.scale == 1.0 and z.q == [0, 0, 0]


def test_interval_join_with_equi_keys(spark):
    """equi_keys restrict overlap pairs to the same key (and shared
    key names are exempt from the disjointness check)."""
    import itertools

    from aws_glue_jobs_incremental_database_etl_spark.operators.joins import interval_join

    lrows = [(1, "a", 0, 100), (2, "b", 0, 100)]
    rrows = [(10, "a", 50, 60), (11, "b", 500, 600), (12, "c", 0, 100)]
    left = spark.createDataFrame(lrows, "lid int, k string, ls long, le long")
    right = spark.createDataFrame(rrows, "rid int, k string, rs long, re long")
    got = {
        (r.lid, r.rid)
        for r in interval_join(
            left, right, ("ls", "le"), ("rs", "re"),
            bucket_width=50, equi_keys=["k"],
        ).collect()
    }
    want = {
        (i, j)
        for (i, lk, a, b), (j, rk, c, d) in itertools.product(lrows, rrows)
        if lk == rk and a <= d and c <= b
    }
    assert got == want == {(1, 10)}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="must exist on both"):
        interval_join(
            left, right, ("ls", "le"), ("rs", "re"),
            bucket_width=50, equi_keys=["nope"],
        )


def test_hashed_classifier_score_matches_replica_and_separates(spark):
    """Scores ≡ hashlib/math replica; a model weighted toward 'good'
    tokens separates good from bad docs."""
    import hashlib as _hl
    import math

    from aws_glue_jobs_incremental_database_etl_spark.operators.text import (
        hashed_classifier_score,
    )

    dim = 1024
    docs = [(0, "good clean prose text"), (1, "spam junk noise garbage")]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def bucket(t):
        return int(_hl.md5(t.encode()).hexdigest()[:8], 16) % dim

    good = {bucket(t) for t in "good clean prose text".split()}
    bad = {bucket(t) for t in "spam junk noise garbage".split()}
    weights = [(b, 1.0) for b in good] + [(b, -1.0) for b in bad - good]
    wdf = spark.createDataFrame(weights, "bucket long, w double")

    got = {r.id: (r.n_tokens, r.score) for r in
           hashed_classifier_score(df, wdf, dim=dim, bias=0.5).collect()}

    for i, text in docs:
        x = 0.5 + sum(dict(weights).get(bucket(t), 0.0) for t in text.lower().split())
        want = round(1.0 / (1.0 + math.exp(-x)), 6)
        assert got[i] == (len(text.split()), want)
    assert got[0][1] > 0.9 and got[1][1] < 0.2


def test_bpe_token_count_matches_reference(spark):
    """Greedy lowest-rank merging ≡ a step-by-step reference; words
    with no applicable merges stay character-tokenized."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.text import (
        bpe_token_count,
    )

    merges = [("t", "h"), ("th", "e"), ("e", "r"), ("h", "e")]
    docs = [(0, "the"), (1, "there"), (2, "xyz"), (3, "the the he"), (4, None)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.id: (r.n_words, r.n_bpe_tokens)
           for r in bpe_token_count(df, merges).collect()}

    def ref(word):
        rank = {p: i for i, p in enumerate(merges)}
        parts = list(word)
        while len(parts) > 1:
            cands = [(rank[(a, b)], i) for i, (a, b) in
                     enumerate(zip(parts, parts[1:])) if (a, b) in rank]
            if not cands:
                break
            _, i = min(cands)
            parts[i:i + 2] = [parts[i] + parts[i + 1]]
        return len(parts)

    for i, text in docs:
        words = (text or "").lower().split()
        assert got[i] == (len(words), sum(ref(w) for w in words)), (i, text)
    # 'the' → th → the = 1 token; 'there' → th|e|r|e → the|r|e and no
    # (r,e) merge exists (only (e,r)), so it stays 3 tokens
    assert got[0] == (1, 1) and got[1] == (1, 3)
    assert got[2] == (1, 3)        # no merges apply
    assert got[4] == (0, 0)        # NULL text


def test_resample_ffill_grid_and_carry(spark):
    """Hourly grid spans each key's own range; gaps carry the latest
    prior value; in-slot ties resolve to the latest timestamp."""
    import datetime as dt

    from aws_glue_jobs_incremental_database_etl_spark.operators.joins import (
        resample_ffill,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 30)
    rows = [
        (1, t0, 10.0),
        (1, t0 + dt.timedelta(minutes=10), 11.0),   # same slot, later → wins
        (1, t0 + dt.timedelta(hours=3), 99.0),      # 2-hour gap before this
        (2, t0 + dt.timedelta(hours=5), 7.0),       # other key, 1 slot only
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = resample_ffill(df, "user_id", "ts", "value", step_us=3_600_000_000)
    got = {(r.user_id, r.slot_start.hour): (r.value, r.is_observed)
           for r in out.collect()}
    assert got[(1, 0)] == (11.0, True)    # max_by picks the later obs
    assert got[(1, 1)] == (11.0, False)   # carried
    assert got[(1, 2)] == (11.0, False)   # carried
    assert got[(1, 3)] == (99.0, True)
    assert got[(2, 5)] == (7.0, True)
    assert len(got) == 5                  # grids span each key's own range

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported agg"):
        resample_ffill(df, "user_id", "ts", "value", 3_600_000_000, agg="mode")


def test_binary_quantize_matches_python_pack_and_rerank_bounds(spark, sf_dir):
    """Sign-bit packing must equal a pure-python two's-complement
    model (bit 63 → negative BIGINT), and the two-stage rerank's
    result must be the exact top-k RESTRICTED to its Hamming
    candidate set (the refine contract: stage 2 is exact over stage
    1's survivors)."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.similarity import (
        binary_quantize,
        binary_topk_rerank,
        cosine_topk,
    )

    emb = _emb(spark, sf_dir)
    got = {
        r.vec_id: r.bq
        for r in binary_quantize(emb, "embedding").select("vec_id", "bq").collect()
    }
    for r in emb.select("vec_id", "embedding").collect():
        bits = 0
        for i, x in enumerate(r.embedding):
            if float(x) >= 0:
                bits |= 1 << i
        if bits >= 1 << 63:
            bits -= 1 << 64  # Java BIGINT two's complement
        assert got[r.vec_id] == bits, r.vec_id
    q = list(emb.filter(F.col("vec_id") == 0).first().embedding)
    out = binary_topk_rerank(emb, q, k=5, candidates=25)
    rows = out.collect()
    assert len(rows) == 5
    # stage-2 exactness: rerank order must agree with exact cosine
    # over the same candidate ids
    cand_ids = {r.vec_id for r in rows}
    exact = [
        r.vec_id
        for r in cosine_topk(emb, q, k=200).collect()
        if r.vec_id in cand_ids
    ][:5]
    assert [r.vec_id for r in rows] == exact

    import pytest

    with pytest.raises(ValueError, match="dim must be"):
        binary_quantize(emb, "embedding", dim=65)


def test_matryoshka_prefix_full_probe_is_exact(spark, sf_dir):
    """With candidates = corpus size the prefix stage cannot drop the
    true winners, so matryoshka_topk must equal the exact top-k; and
    prefix_dim out of range raises."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.similarity import (
        cosine_topk,
        matryoshka_topk,
    )

    emb = _emb(spark, sf_dir)
    q = list(emb.filter(F.col("vec_id") == 0).first().embedding)
    n = emb.count()
    full = matryoshka_topk(emb, q, k=7, candidates=n, prefix_dim=16)
    want = cosine_topk(emb, q, k=7)
    assert [r.vec_id for r in full.collect()] == [
        r.vec_id for r in want.collect()
    ]

    import pytest

    with pytest.raises(ValueError, match="prefix_dim"):
        matryoshka_topk(emb, q, prefix_dim=0)


def test_ivfpq_refine_is_exact_over_adc_candidates(spark, sf_dir, tmp_path):
    """Refine contract: the final top-k must equal the exact cosine
    ranking RESTRICTED to the ADC stage's candidate set — stage 2 is
    exact, quantization error stops at the candidate boundary."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.similarity import (
        build_ivfpq_index,
        cosine_topk,
        fixed_centroids,
        ivfpq_refine_topk,
        ivfpq_topk_partitioned,
        pq_codebooks,
    )

    emb = _emb(spark, sf_dir)
    q = list(emb.filter(F.col("vec_id") == 0).first().embedding)
    cents = fixed_centroids(64, 8, seed=7)
    cb = pq_codebooks(64, 4, 16, seed=11)
    loc = str(tmp_path / "idx")
    build_ivfpq_index(emb, loc, cents, cb)
    out = ivfpq_refine_topk(
        spark, loc, emb, q, cents, cb, k=5, candidates=20, nprobe=2
    ).collect()
    assert len(out) == 5
    cand_ids = {
        r.vec_id
        for r in ivfpq_topk_partitioned(
            spark, loc, q, cents, cb, k=20, nprobe=2
        ).collect()
    }
    exact = [
        r.vec_id
        for r in cosine_topk(emb, q, k=10_000).collect()
        if r.vec_id in cand_ids
    ][:5]
    assert [r.vec_id for r in out] == exact


def test_winnow_guarantee_and_determinism(spark):
    """The MOSS guarantee: two docs sharing a substring of length
    k + window - 1 normalized chars MUST share at least one
    fingerprint hash; and disjoint-alphabet docs share none.  Plus
    parameter validation."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_near_dup_pairs,
    )

    shared = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [
            (1, "AAAA xyzzy " + shared + " plugh BBBB"),
            (2, shared + " entirely different ending here"),
            (3, "0000 1111 2222 3333 4444 5555 6666 7777"),
        ],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(df, "doc_id", "text", k=5, window=4)
    by_doc = {
        r.doc_id: set(r.hs)
        for r in fp.groupBy("doc_id")
        .agg(F.collect_set("fp_hash").alias("hs"))
        .collect()
    }
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])

    # short-doc path: fewer normalized chars than k still fingerprints
    tiny = spark.createDataFrame([(9, "ab")], "doc_id long, text string")
    rows = winnow_fingerprints(tiny, "doc_id", "text", k=5, window=4).collect()
    assert len(rows) == 1 and rows[0].pos == 1

    pairs = winnow_near_dup_pairs(
        df, "doc_id", "text", k=5, window=4, threshold=0.2
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}

    # the boilerplate guard defaults ON (an uncapped postings self-join
    # is the dedup family's one all-pairs blowup) and drops over-cap
    # fingerprints BEFORE pair generation: at max_df=1, every shared
    # hash of the (1,2) pair is in two docs → no pairs survive
    import inspect

    assert (
        inspect.signature(winnow_near_dup_pairs).parameters["max_df"].default
        == 1000
    )
    capped = winnow_near_dup_pairs(
        df, "doc_id", "text", k=5, window=4, threshold=0.2, max_df=1
    ).collect()
    assert capped == []
    # explicit opt-out stays available
    uncapped = winnow_near_dup_pairs(
        df, "doc_id", "text", k=5, window=4, threshold=0.2, max_df=None
    ).collect()
    assert {(r.id_a, r.id_b) for r in uncapped} == {(1, 2)}

    import pytest

    with pytest.raises(ValueError, match="k must be"):
        winnow_fingerprints(df, k=0)
    with pytest.raises(ValueError, match="window must be"):
        winnow_fingerprints(df, window=0)


def test_winnow_gram_code_exact_encoding(spark):
    """gram_code (the default hash_fn) is an EXACT base-128 ascii
    encoding, not a hash: fp_hash values are hand-computable, the
    short-doc single gram zero-pads missing tail positions, k > 8
    overflows 63 bits and must raise, and md5_60/xxhash64 remain
    selectable with identical row shape."""
    import pytest

    from aws_glue_jobs_incremental_database_etl_spark.operators.dedup import (
        winnow_fingerprints,
    )

    def code(gram: str, k: int = 5) -> int:
        padded = [ord(c) for c in gram] + [0] * (k - len(gram))
        v = 0
        for c in padded[:k]:
            v = v * 128 + c
        return v

    df = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "xy")], "doc_id long, text string"
    )
    rows = winnow_fingerprints(df, "doc_id", "text", k=5, window=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.pos] = r.fp_hash
    # doc 1: grams at pos 1..4 are abcde..defgh; window-4 min over an
    # increasing sequence is always the leftmost gram → single
    # fingerprint at pos 1 = code("abcde")
    assert by_doc[1] == {1: code("abcde")}
    # doc 2 shorter than k: one zero-padded gram
    assert by_doc[2] == {1: code("xy")}

    with pytest.raises(ValueError, match="k <= 8"):
        winnow_fingerprints(df, "doc_id", "text", k=9, window=4)
    # md5_60 stays available for k > 8 (and yields different values)
    md5_rows = winnow_fingerprints(
        df, "doc_id", "text", k=9, window=4, hash_fn="md5_60"
    ).collect()
    assert {r.doc_id for r in md5_rows} == {1, 2}
    assert all(r.fp_hash != code("abcde") for r in md5_rows)


def test_winnow_np_equals_expression(spark, sf_dir):
    """The Arrow numpy winnowing fast path must produce EXACTLY the
    expression path's rows — every (id, pos, fp_hash), including the
    zero-padded short-doc gram and leftmost-tie window selection."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_fingerprints_np,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    extra = spark.createDataFrame(
        [(9001, "ab"), (9002, ""), (9003, "AAAA aaaa AAAA !!"), (9004, None)],
        "doc_id long, text string",
    ).select("doc_id", "text")
    both = docs.select("doc_id", "text").unionByName(extra)
    expr_rows = {
        (r.doc_id, r.pos, r.fp_hash)
        for r in winnow_fingerprints(
            both, "doc_id", "text", k=5, window=4, hash_fn="gram_code"
        ).collect()
    }
    np_rows = {
        (r.doc_id, r.pos, r.fp_hash)
        for r in winnow_fingerprints_np(
            both, "doc_id", "text", k=5, window=4
        ).collect()
    }
    assert expr_rows == np_rows and len(np_rows) > 100


def test_knn_exact_matches_jvm_chain(spark, sf_dir):
    """knn_exact's BLAS-block path must equal the JVM per-pair
    integer-chain formulation exactly — same neighbors, same ranks,
    same integer d² (the float64 matmul stays below 2^53 so it IS
    integer arithmetic), deterministic (d², idb) tie-break."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.similarity import (
        knn_exact,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(80)
    got = {
        (r.ida, r.idb): r.d2
        for r in knn_exact(emb, "vec_id", "embedding", k=5).collect()
    }

    e = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1_000_000).cast("long"),
        ).alias("v"),
    )
    a, b = e.alias("a"), e.alias("b")
    d2 = None
    for i in range(64):
        t = F.element_at(F.col("a.v"), i + 1) - F.element_at(
            F.col("b.v"), i + 1
        )
        d2 = t * t if d2 is None else d2 + t * t
    pairs = a.join(b, F.col("a.vec_id") != F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("ida"),
        F.col("b.vec_id").alias("idb"),
        d2.alias("d2"),
    )
    from pyspark.sql.window import Window as W

    wr = W.partitionBy("ida").orderBy(F.col("d2").asc(), F.col("idb").asc())
    want = {
        (r.ida, r.idb): r.d2
        for r in pairs.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") <= 5)
        .collect()
    }
    assert got == want
    # k per row
    from collections import Counter

    per_row = Counter(ida for ida, _ in got)
    assert set(per_row.values()) == {5}

    # grouped path: same contract with candidates restricted to the
    # group — equal to the JVM-chain rank computed within groups
    grouped = emb.withColumn("grp", (F.col("vec_id") % 3).cast("long"))
    got_g = {
        (r.ida, r.idb): r.d2
        for r in knn_exact(
            grouped, "vec_id", "embedding", k=5, group_col="grp"
        ).collect()
    }
    eg = grouped.select(
        "vec_id",
        "grp",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1_000_000).cast("long"),
        ).alias("v"),
    )
    ag, bg = eg.alias("a"), eg.alias("b")
    d2g = None
    for i in range(64):
        t = F.element_at(F.col("a.v"), i + 1) - F.element_at(
            F.col("b.v"), i + 1
        )
        d2g = t * t if d2g is None else d2g + t * t
    pg = ag.join(
        bg,
        (F.col("a.grp") == F.col("b.grp"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("ida"),
        F.col("b.vec_id").alias("idb"),
        d2g.alias("d2"),
    )
    wg = W.partitionBy("ida").orderBy(F.col("d2").asc(), F.col("idb").asc())
    want_g = {
        (r.ida, r.idb): r.d2
        for r in pg.withColumn("r", F.row_number().over(wg))
        .filter(F.col("r") <= 5)
        .collect()
    }
    assert got_g == want_g


def test_knn_exact_grouped_distributed(spark, sf_dir):
    """knn_exact_grouped (executor-side per-cluster blocks, zero
    broadcast/collect) must equal the broadcast-based
    knn_exact(group_col=...) pair-for-pair, survive NULL group
    values, and keep its plan a pure groupBy→applyInPandas shuffle
    (FlatMapGroupsInPandas, no BroadcastExchange)."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.similarity import (
        knn_exact,
        knn_exact_grouped,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(120)
    grouped = emb.withColumn("grp", (F.col("vec_id") % 4).cast("long"))
    want = {
        (r.ida, r.idb): r.d2
        for r in knn_exact(
            grouped, "vec_id", "embedding", k=5, group_col="grp"
        ).collect()
    }
    out = knn_exact_grouped(
        grouped, "vec_id", "embedding", k=5, group_col="grp"
    )
    got = {(r.ida, r.idb): r.d2 for r in out.collect()}
    assert got == want and len(got) > 100

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastExchange" not in plan

    # tiny block_rows must chunk without changing results
    got_small = {
        (r.ida, r.idb): r.d2
        for r in knn_exact_grouped(
            grouped, "vec_id", "embedding", k=5, group_col="grp",
            block_rows=7,
        ).collect()
    }
    assert got_small == want

    # NULL group values form their own candidate pool, no crash
    nulled = grouped.withColumn(
        "grp",
        F.when(F.col("vec_id") % 4 == 0, F.lit(None)).otherwise(
            F.col("grp")
        ),
    )
    rows = knn_exact_grouped(
        nulled, "vec_id", "embedding", k=3, group_col="grp"
    ).collect()
    null_ids = {
        r.vec_id for r in nulled.filter("grp is null").collect()
    }
    by_a = {}
    for r in rows:
        by_a.setdefault(r.ida, set()).add(r.idb)
    for a, bs in by_a.items():
        if a in null_ids:
            assert bs <= null_ids
        else:
            assert not (bs & null_ids)


def test_knn_exact_broadcast_guard(spark, sf_dir):
    """knn_exact raises past max_broadcast_rows (naming the
    distributed alternative) instead of collecting an oversized
    corpus to the driver."""
    import pytest

    from aws_glue_jobs_incremental_database_etl_spark.operators.similarity import (
        knn_exact,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    with pytest.raises(ValueError, match="knn_exact_grouped"):
        knn_exact(emb, "vec_id", "embedding", k=5, max_broadcast_rows=10)
    # at the cap exactly: no raise
    knn_exact(
        emb.limit(10), "vec_id", "embedding", k=3, max_broadcast_rows=10
    ).collect()


def test_knn_duplicate_ids_no_garbage_rows(spark, sf_dir):
    """Duplicate ids mask >1 candidate to inf; with fewer than k
    finite candidates the top-k cut must emit FEWER rows — never
    inf-distance rows int64-cast to INT64_MIN (advisor r7)."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.similarity import (
        knn_exact,
        knn_exact_grouped,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(3)
    # 3 distinct ids, each duplicated → per query, 4 same-id rows are
    # masked out of 6, leaving only 4 finite candidates for k=5
    dup = emb.union(emb).withColumn("grp", F.lit(0).cast("long"))
    for out in (
        knn_exact(dup, "vec_id", "embedding", k=5, group_col="grp"),
        knn_exact_grouped(dup, "vec_id", "embedding", k=5, group_col="grp"),
    ):
        rows = out.collect()
        assert rows, "under-populated groups should still emit finite rows"
        for r in rows:
            assert r.d2 >= 0, f"garbage distance {r.d2} leaked"
            assert r.ida != r.idb
        per_query = {}
        for r in rows:
            per_query[r.ida] = per_query.get(r.ida, 0) + 1
        # each id occurs as a query row TWICE (it's duplicated) and
        # each query row has only 4 finite candidates, not k=5
        assert all(c <= 8 for c in per_query.values())


def test_knn_exact_null_group_raises(spark, sf_dir):
    """knn_exact with group_col raises loudly on a NULL group value
    (which would otherwise NaN-poison the int64 cast inside the
    pandas block), naming the null-safe alternative."""
    import pytest

    from aws_glue_jobs_incremental_database_etl_spark.operators.similarity import (
        knn_exact,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(20)
    nulled = emb.withColumn(
        "grp",
        F.when(F.col("vec_id") % 5 == 0, F.lit(None)).otherwise(
            (F.col("vec_id") % 3).cast("long")
        ),
    )
    with pytest.raises(ValueError, match="null-safe"):
        knn_exact(nulled, "vec_id", "embedding", k=3, group_col="grp")


def test_int4_roundtrip_bound_and_packing(spark, sf_dir):
    """int4 pack→unpack must reconstruct within 0.5/scale per
    component (the round-half-up quantization bound), words must stay
    under 2^60 (signed-BIGINT-safe layout), and codes must live in
    [1, 15] as nibbles."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.similarity import (
        int4_dequantize,
        int4_quantize,
    )

    emb = _emb(spark, sf_dir)
    q4 = int4_quantize(emb)
    rows = q4.collect()
    assert all(0 <= w < (1 << 60) for r in rows for w in r.words)
    assert all(len(r.words) == 5 and r.dim == 64 for r in rows)

    chk = (
        q4.join(emb.select(F.col("vec_id").alias("id"), "embedding"), "id")
        .select(
            F.array_max(
                F.zip_with(
                    int4_dequantize("words", "scale", dim=64),
                    F.col("embedding"),
                    lambda a, b: F.abs(a - b),
                )
            ).alias("err"),
            (F.lit(0.5) / F.col("scale")).alias("bound"),
        )
        .collect()
    )
    assert all(r.err <= r.bound + 1e-12 for r in chk)


def test_exact_ntile_grouped_matches_window_ntile(spark, sf_dir):
    """Grouped distributed NTILE must equal the window NTILE
    bit-for-bit (per-group totals, tie split by id), and the bounded-
    group-domain guard must raise."""
    from pyspark.sql.window import Window as W

    from aws_glue_jobs_incremental_database_etl_spark.operators.profile import (
        exact_ntile_grouped,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = exact_ntile_grouped(docs, 7, "n_chars", "doc_id", "source")
    ref = docs.withColumn(
        "ref",
        F.ntile(7).over(
            W.partitionBy("source").orderBy(
                F.col("n_chars").asc(), F.col("doc_id").asc()
            )
        ),
    )
    j = out.join(ref.select("doc_id", "ref"), "doc_id")
    assert j.filter(F.col("bucket") != F.col("ref")).count() == 0

    # tiny group (fewer rows than tiles): NTILE gives one row per tile
    tiny = spark.createDataFrame(
        [(1, "g", 5), (2, "g", 3)], "doc_id long, source string, n_chars long"
    )
    got = {
        r.doc_id: r.bucket
        for r in exact_ntile_grouped(
            tiny, 7, "n_chars", "doc_id", "source"
        ).collect()
    }
    assert got == {2: 1, 1: 2}

    import pytest

    with pytest.raises(ValueError, match="exceeds max_groups"):
        exact_ntile_grouped(docs, 4, "n_chars", "doc_id", "doc_id", max_groups=10)
    with pytest.raises(ValueError, match="n_tiles"):
        exact_ntile_grouped(docs, 0, "n_chars", "doc_id", "source")


def test_jaro_winkler_join_reference_values(spark):
    """The JW kernel must reproduce reference values (textbook
    MARTHA/MARHTA etc.) and honor blocking + threshold; validation
    errors raise."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.joins import (
        jaro_winkler_join,
    )

    df = spark.createDataFrame(
        [
            (1, "MARTHA", "M"),
            (2, "MARHTA", "M"),
            (3, "DWAYNE", "D"),
            (4, "DUANE", "D"),
            (5, "DIXON", "D"),
            (6, "DICKSONX", "D"),
            (7, "ZZZZZZ", "Z"),
        ],
        "id long, name string, blk string",
    )
    out = {
        (r.id_a, r.id_b): r.jw
        for r in jaro_winkler_join(
            df, "id", "name", "blk", threshold=0.0, length_band=10
        ).collect()
    }
    assert abs(out[(1, 2)] - 0.961111) < 1e-6   # MARTHA/MARHTA
    assert abs(out[(3, 4)] - 0.84) < 1e-6       # DWAYNE/DUANE
    assert abs(out[(5, 6)] - 0.813333) < 1e-6   # DIXON/DICKSONX
    assert (1, 3) not in out                    # different block
    assert (3, 5) in out and out[(3, 5)] < 0.7  # no Winkler boost

    import pytest

    with pytest.raises(ValueError, match="threshold"):
        jaro_winkler_join(df, "id", "name", "blk", threshold=0.0 - 1)
    with pytest.raises(ValueError, match="length_band"):
        jaro_winkler_join(df, "id", "name", "blk", length_band=-1)


def test_lsh_multiprobe_dominates_single_bucket(spark, sf_dir):
    """Hamming-1 multiprobe must retrieve a SUPERSET of the single-
    bucket candidates (the query bucket is in the probe set), so its
    recall vs exact top-k can only be >= the single probe's."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_lsh,
        cosine_topk_lsh_multiprobe,
    )

    emb = _emb(spark, sf_dir)
    q = list(emb.filter(F.col("vec_id") == 0).first().embedding)
    exact = {r.vec_id for r in cosine_topk(emb, q, k=10).collect()}
    single = {
        r.vec_id
        for r in cosine_topk_lsh(emb, q, k=10, num_planes=6).collect()
    }
    multi = {
        r.vec_id
        for r in cosine_topk_lsh_multiprobe(
            emb, q, k=10, num_planes=6
        ).collect()
    }
    assert len(multi & exact) >= len(single & exact)
    assert len(multi) >= len(single)


def test_winnow_xxhash_fast_path_guarantee(spark):
    """The xxhash64 production path must keep the MOSS guarantee
    (shared k+w−1 substring ⇒ shared fingerprint) — the selection
    algorithm is hash-agnostic; only the oracle needs md5."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_near_dup_pairs,
    )

    shared = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [(1, "xx " + shared + " yy"), (2, shared + " zz different")],
        "doc_id long, text string",
    )
    pairs = winnow_near_dup_pairs(
        df, "doc_id", "text", threshold=0.2, hash_fn="xxhash64"
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}

    import pytest

    with pytest.raises(ValueError, match="hash_fn"):
        winnow_fingerprints(df, hash_fn="sha1")
