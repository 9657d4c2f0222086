"""Round-4 retrieval/statistics operators: Product-Quantization ADC
search, MMR diversified rerank, and the two-sample statistics built on
bounded-domain folds."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from aws_glue_jobs_incremental_database_etl_spark.operators.similarity import (
    cosine_topk,
    mmr_rerank,
    pq_adc_topk,
    pq_codebooks,
    pq_encode,
)


@pytest.fixture()
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )


def test_pq_encode_matches_numpy_argmin(emb):
    cb = pq_codebooks(64, 4, 16, seed=11)
    got = {
        r.vec_id: (r.code_0, r.code_1, r.code_2, r.code_3)
        for r in pq_encode(emb.limit(50), cb).collect()
    }
    rows = {r.vec_id: np.array(r.embedding) for r in emb.limit(50).collect()}
    for vid, v in rows.items():
        want = tuple(
            int(np.argmin(((cb[s] - v[s * 16 : (s + 1) * 16]) ** 2).sum(1)))
            for s in range(4)
        )
        assert got[vid] == want, vid


def test_pq_codebooks_validate_and_shape():
    assert pq_codebooks(64, 4, 16).shape == (4, 16, 16)
    with pytest.raises(ValueError):
        pq_codebooks(65, 4, 16)


def test_pq_adc_is_a_faithful_l2_surrogate(emb):
    """ADC distance must equal the exact L2² between the query and the
    RECONSTRUCTED (codeword-concatenated) vector — that is the PQ
    contract; approximation error lives in the encode step only."""
    cb = pq_codebooks(64, 4, 16, seed=11)
    q = emb.filter(F.col("vec_id") == 0).first().embedding
    top = pq_adc_topk(emb, list(q), cb, k=15).collect()
    qa = np.array(q)
    for r in top:
        recon = np.concatenate(
            [cb[s][[r.code_0, r.code_1, r.code_2, r.code_3][s]] for s in range(4)]
        )
        assert abs(((qa - recon) ** 2).sum() - r.adc_dist) < 1e-9
    # ranking is ascending with id tie-break
    dists = [(r.adc_dist, r.vec_id) for r in top]
    assert dists == sorted(dists)


def test_mmr_first_pick_is_top_relevance_and_diversifies(emb):
    q = emb.filter(F.col("vec_id") == 0).first().embedding
    corpus = emb.filter(F.col("vec_id") != 0)
    sel = mmr_rerank(corpus, list(q), k=5, pool=20, lam=0.5).collect()
    assert [r.step for r in sel] == [1, 2, 3, 4, 5]
    assert len({r.vec_id for r in sel}) == 5
    top1 = cosine_topk(corpus, list(q), k=1).first()
    assert sel[0].vec_id == top1.vec_id
    # diversification really kicked in: at least one selection differs
    # from the plain relevance top-5
    plain = [r.vec_id for r in cosine_topk(corpus, list(q), k=5).collect()]
    assert [r.vec_id for r in sel] != plain


def test_mmr_lam_one_reduces_to_plain_topk(emb):
    """With lam=1 the penalty vanishes, so MMR must return exactly the
    relevance top-k in order."""
    q = emb.filter(F.col("vec_id") == 0).first().embedding
    corpus = emb.filter(F.col("vec_id") != 0)
    sel = mmr_rerank(corpus, list(q), k=5, pool=20, lam=1.0).collect()
    want = cosine_topk(corpus, list(q), k=5).collect()
    assert [r.vec_id for r in sel] == [r.vec_id for r in want]


def test_mmr_singleton_pool_selects_the_candidate(emb):
    """ADVICE r4: a pool of ONE candidate produced an empty pairwise
    frame → zero applyInPandas groups → empty result.  The left-join
    self-row fix must select that single candidate at step 1 with
    mmr = lam·rel."""
    q = emb.filter(F.col("vec_id") == 0).first().embedding
    corpus = emb.filter(F.col("vec_id") != 0)
    sel = mmr_rerank(corpus, list(q), k=5, pool=1, lam=0.5).collect()
    top1 = cosine_topk(corpus, list(q), k=1).first()
    assert len(sel) == 1
    assert sel[0].step == 1 and sel[0].vec_id == top1.vec_id
    assert abs(sel[0].mmr - 0.5 * sel[0].rel) < 1e-12


def test_mmr_greedy_rejects_non_integral_ids(emb):
    """The output schema pins vec_id as LONG, so string ids must be
    rejected up front instead of silently truncated in the kernel."""
    import pytest

    from aws_glue_jobs_incremental_database_etl_spark.operators.similarity import (
        mmr_greedy,
    )

    corpus = emb.select(
        F.col("vec_id").cast("string").alias("vec_id"), "embedding"
    )
    cand = corpus.select("vec_id").limit(3).withColumn("rel", F.lit(1.0))
    with pytest.raises(ValueError, match="integral"):
        mmr_greedy(cand, corpus, k=2)


def test_mannwhitney_z_matches_scipy_formula(spark, sf_dir):
    """Cross-check the bounded-domain U fold against a direct python
    computation of U and the tie-corrected z on the same rows."""
    from aws_glue_jobs_incremental_database_etl_spark.registry import Q

    row = Q["mannwhitney_quantity_returnflag"](spark, sf_dir).first()
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_returnflag").isin("A", "R"))
        .select(
            F.col("l_quantity").cast("bigint").alias("v"), "l_returnflag"
        )
        .collect()
    )
    a = sorted(r.v for r in li if r.l_returnflag == "A")
    b = sorted(r.v for r in li if r.l_returnflag == "R")
    # U = #{(x,y): x>y} + 0.5 * ties, brute force on the value domain
    import collections

    ca, cb_ = collections.Counter(a), collections.Counter(b)
    u = 0.0
    for v, na in ca.items():
        u += na * (sum(nb for w, nb in cb_.items() if w < v) + 0.5 * cb_[v])
    assert row.n_a == len(a) and row.n_b == len(b)
    assert abs(row.u_stat - u) < 1e-6
    n, m = len(a), len(b)
    nn = n + m
    tie3 = sum(
        (ca[v] + cb_[v]) ** 3 - (ca[v] + cb_[v])
        for v in set(ca) | set(cb_)
    )
    sigma = (n * m / 12.0 * ((nn + 1.0) - tie3 / (nn * (nn - 1.0)))) ** 0.5
    assert abs(row.z_score - (u - n * m / 2.0) / sigma) < 1e-3


def test_bootstrap_ci_brackets_point_mean(spark, sf_dir):
    from aws_glue_jobs_incremental_database_etl_spark.registry import Q

    row = Q["bootstrap_ci_orders"](spark, sf_dir).first()
    assert row.n_boot == 64
    assert row.ci_lo <= row.point_mean <= row.ci_hi
    # half-subsample means concentrate: the CI is tight around the mean
    assert (row.ci_hi - row.ci_lo) / row.point_mean < 0.1


def test_welch_t_is_antisymmetric_and_dof_bounded(spark, sf_dir):
    from aws_glue_jobs_incremental_database_etl_spark.registry import Q

    rows = Q["welch_ttest_orders"](spark, sf_dir).collect()
    assert len(rows) == 10  # C(5,2) priority pairs
    for r in rows:
        assert min(r.na, r.nb) - 1 <= r.welch_dof <= r.na + r.nb - 2


def test_zipf_slope_is_negative_decay(spark, sf_dir):
    from aws_glue_jobs_incremental_database_etl_spark.registry import Q

    rows = Q["zipf_slope_by_source"](spark, sf_dir).collect()
    assert rows, "at least one source"
    for r in rows:
        assert r.zipf_slope < 0, (r.source, r.zipf_slope)


def test_hll_matches_python_model_and_merges(spark):
    """Register-for-register parity with a pure-python replay of the
    md5/bit-length contract, merge ≡ whole-build, and the standard
    1.04/sqrt(m) error bound with headroom."""
    import hashlib

    from aws_glue_jobs_incremental_database_etl_spark.functions.hll import (
        hll_build,
        hll_estimate,
        hll_merge,
    )

    df = spark.range(5000).select(F.col("id").cast("string").alias("k"))
    sk = {r.bucket: r.reg for r in hll_build(df, "k").collect()}
    regs = {}
    for i in range(5000):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        s = h // 256
        rho = 53 if s == 0 else 52 - s.bit_length() + 1
        regs[h % 256] = max(regs.get(h % 256, 0), rho)
    assert sk == regs
    est = hll_estimate(hll_build(df, "k")).first()
    assert abs(est.est_distinct - 5000) / 5000 < 3 * 1.04 / 16  # 3 sigma, m=256
    halves = [df.filter(f"id % 2 = {i}") for i in (0, 1)]
    merged = hll_merge(*[hll_build(h, "k") for h in halves])
    assert sorted(map(tuple, merged.collect())) == sorted(
        (b, r) for b, r in sk.items()
    )


def test_hll_nondefault_b_scale_and_validation(spark):
    """ADVICE r4: a fixed 53-bit harmonic scale made `53 - reg` a
    NEGATIVE shift for b < 8 (Java shifts mod 64 — silent corruption)
    and overflowed the exact BIGINT bound for b > 9.  The scale is now
    derived (S = 61 - b), so every supported b must estimate within
    the standard 3·1.04/sqrt(m) bound, and out-of-range b must raise
    on BOTH build and estimate."""
    import pytest

    from aws_glue_jobs_incremental_database_etl_spark.functions.hll import (
        hll_build,
        hll_estimate,
    )

    df = spark.range(20000).select(F.col("id").cast("string").alias("k"))
    for b in (4, 6, 12):
        m = 1 << b
        est = hll_estimate(hll_build(df, "k", b=b), b=b).first()
        assert abs(est.est_distinct - 20000) / 20000 < 3 * 1.04 / (m**0.5), (
            b,
            est.est_distinct,
        )
    for bad in (3, 17, 0):
        with pytest.raises(ValueError, match="hll: b"):
            hll_build(df, "k", b=bad)
        with pytest.raises(ValueError, match="hll: b"):
            hll_estimate(hll_build(df, "k"), b=bad)


def test_hll_small_range_linear_counting(spark):
    from aws_glue_jobs_incremental_database_etl_spark.functions.hll import (
        hll_build,
        hll_estimate,
    )

    df = spark.range(60).select(F.col("id").cast("string").alias("k"))
    est = hll_estimate(hll_build(df, "k")).first()
    assert est.zero_registers > 0
    assert abs(est.est_distinct - 60) < 15  # linear counting is tight here


def test_streaming_hll_equals_batch_sketch(spark, tmp_path):
    """The HLL register fold is max-mergeable, so the streamed
    two-drain sketch must equal the batch single-pass sketch — same
    exactly-once foreachBatch harness as the CMS/histogram twins."""
    from aws_glue_jobs_incremental_database_etl_spark.functions.hll import (
        hll_build,
        hll_merge,
    )
    from aws_glue_jobs_incremental_database_etl_spark.streaming.stream import (
        read_sketch,
        sketch_fold_writer,
    )
    from tests.test_streaming import incremental_file_stream

    df = spark.range(2000).select(F.col("id").cast("string").alias("k"))
    src = str(tmp_path / "src"); ckpt = str(tmp_path / "ck")
    state = str(tmp_path / "hll")

    def drain():
        stream = incremental_file_stream(spark, src, df.schema)
        q = (
            stream.writeStream.foreachBatch(
                sketch_fold_writer(
                    state, lambda b: hll_build(b, "k"), hll_merge
                )
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    df.filter("k like '1%'").write.mode("append").parquet(src)
    drain()
    df.filter("k not like '1%'").write.mode("append").parquet(src)
    drain()
    got = sorted(map(tuple, read_sketch(spark, state).collect()))
    want = sorted(map(tuple, hll_build(df, "k").collect()))
    assert got == want


def test_association_rules_against_bruteforce(spark, sf_dir):
    """Brute-force confidence/lift over collected baskets must match
    the distributed pair-join computation row for row."""
    import collections
    import itertools

    from aws_glue_jobs_incremental_database_etl_spark.registry import Q

    rows = Q["association_rules_lineitem"](spark, sf_dir).collect()
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    baskets = collections.defaultdict(set)
    for r in li:
        baskets[r.l_orderkey].add(r.l_partkey)
    supp = collections.Counter()
    pair = collections.Counter()
    for items in baskets.values():
        for i in items:
            supp[i] += 1
        for a, b in itertools.combinations(sorted(items), 2):
            pair[(a, b)] += 1
    n = len(baskets)
    assert rows, "min-support 2 yields rules at this sf"
    for r in rows:
        sp = pair[(r.item_a, r.item_b)]
        assert sp == r.supp_pair >= 2
        assert supp[r.item_a] == r.supp_a
        conf = sp / supp[r.item_a]
        assert abs(r.confidence - conf) < 1e-6
        assert abs(r.lift - conf * n / supp[r.item_b]) < 1e-6
    # ordering contract: lift desc with (item_a, item_b) tie-break
    ks = [(-r.lift, r.item_a, r.item_b) for r in rows]
    assert ks == sorted(ks)


def test_nfc_normalization_composes(spark, sf_dir):
    from aws_glue_jobs_incremental_database_etl_spark.registry import Q

    rows = Q["nfc_normalize_docs"](spark, sf_dir).limit(50).collect()
    assert rows
    # every doc containing an 'e' gained combining marks that NFC
    # then composed away
    assert any(r.n_composed > 0 for r in rows)
    assert all(r.len_after + r.n_composed == r.len_before for r in rows)


def test_ivfpq_results_come_from_probed_lists_only(emb):
    """IVF-PQ contract: every result id belongs to one of the nprobe
    probed clusters, and its ADC distance equals the PQ surrogate on
    the full corpus (pruning changes WHICH rows compete, never their
    scores)."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.similarity import (
        assign_nearest_centroid_arrow,
        fixed_centroids,
        pq_ivf_topk,
    )

    cents = fixed_centroids(64, 8, seed=7)
    cb = pq_codebooks(64, 4, 16, seed=11)
    q = emb.filter(F.col("vec_id") == 0).first().embedding
    got = pq_ivf_topk(emb, list(q), cents, cb, k=10, nprobe=2).collect()
    assert got
    qa = np.array(q)
    sims = cents @ qa / (np.linalg.norm(cents, axis=1) * np.linalg.norm(qa))
    probed = set(np.argsort(-sims)[:2].tolist())
    clusters = {
        r.vec_id: r.cluster
        for r in assign_nearest_centroid_arrow(emb, cents).collect()
    }
    full = {
        r.vec_id: r.adc_dist
        for r in pq_adc_topk(emb, list(q), cb, k=500).collect()
    }
    for r in got:
        assert clusters[r.vec_id] in probed
        assert abs(full[r.vec_id] - r.adc_dist) < 1e-12


def test_incremental_join_view_equals_full_join(spark, sf_dir, tmp_path):
    """Interleaved left/right/both-side batches folded through the
    delta-join identity must reproduce the one-shot join exactly,
    including keys whose match arrives batches later; reading before
    any state raises."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.incremental_join import (
        IncrementalJoinView,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    v = IncrementalJoinView(str(tmp_path / "v"), on="o_custkey")
    with pytest.raises(FileNotFoundError):
        v.read_view(spark)
    v.apply_batch(spark, left_delta=o.filter("o_orderkey % 3 = 0"))
    v.apply_batch(spark, right_delta=c.filter("o_custkey % 2 = 0"))
    v.apply_batch(
        spark,
        left_delta=o.filter("o_orderkey % 3 = 1"),
        right_delta=c.filter("o_custkey % 2 = 1"),
    )
    v.apply_batch(spark, left_delta=o.filter("o_orderkey % 3 = 2"))
    got = v.read_view(spark)
    want = o.join(c, "o_custkey")
    assert got.count() == want.count()
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_incremental_join_semi_prefilters_accumulated_side(spark, sf_dir, tmp_path):
    """The delta-vs-accumulated term must semi-filter the accumulated
    scan on the broadcast delta keys — the O(|Δ|) guarantee; pinned by
    counting view rows when the second batch touches ONE key."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.incremental_join import (
        IncrementalJoinView,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    v = IncrementalJoinView(str(tmp_path / "v"), on="o_custkey")
    v.apply_batch(spark, left_delta=o)
    one = c.orderBy("o_custkey").limit(1)
    key = one.first().o_custkey
    v.apply_batch(spark, right_delta=one)
    got = v.read_view(spark)
    assert got.count() == o.filter(F.col("o_custkey") == key).count()
    # and the plan of the accumulated-side term carries a semi join
    import re

    keys = F.broadcast(one.select("o_custkey").distinct())
    term = spark.read.parquet(v.left_dir).join(keys, "o_custkey", "semi").join(one, "o_custkey")
    plan = term._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"LeftSemi", plan), plan[:1500]


def test_calibration_bins_partition_the_corpus(spark, sf_dir):
    from aws_glue_jobs_incremental_database_etl_spark.registry import Q

    rows = Q["calibration_ece_docs"](spark, sf_dir).collect()
    n_docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    )
    assert sum(r.n_docs for r in rows) == n_docs
    eces = {r.ece for r in rows}
    assert len(eces) == 1 and 0.0 <= eces.pop() <= 1.0
    for r in rows:
        assert 0 <= r.bin <= 9
        assert 0.0 <= r.avg_conf <= 1.0 and 0.0 <= r.frac_pos <= 1.0


def test_cms_join_size_estimate_is_one_sided(spark, sf_dir):
    """The inner-product estimate can only OVERcount (collisions add,
    never subtract) and must sit within the Cormode–Muthukrishnan
    e/w · N_A·N_B additive bound."""
    from aws_glue_jobs_incremental_database_etl_spark.registry import Q

    r = Q["join_size_estimate_cms"](spark, sf_dir).first()
    assert r.est_join_size >= r.true_join_size
    na = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    nb = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    import math

    assert r.est_join_size - r.true_join_size <= math.e / r.w * na * nb


def test_pq_encode_arrow_bit_identical_to_expression(emb):
    """The Arrow fast path must produce EXACTLY the expression twin's
    codes (same left-to-right accumulation, first-occurrence argmin) —
    the contract that lets the SQL oracles keep validating the fast
    path."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.similarity import (
        pq_encode_arrow,
    )

    cb = pq_codebooks(64, 4, 16, seed=11)
    slow = {
        r.vec_id: (r.code_0, r.code_1, r.code_2, r.code_3)
        for r in pq_encode(emb, cb, "embedding").collect()
    }
    fast = {
        r.vec_id: (r.code_0, r.code_1, r.code_2, r.code_3)
        for r in pq_encode_arrow(emb, cb, "embedding").collect()
    }
    assert slow == fast


def test_incremental_join_replay_same_batch_id_is_noop(spark, sf_dir, tmp_path):
    """Exactly-once: re-applying a batch with the same id (the
    foreachBatch replay case) must leave the view unchanged."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.incremental_join import (
        IncrementalJoinView,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    v = IncrementalJoinView(str(tmp_path / "v"), on="o_custkey")
    v.apply_batch(spark, left_delta=o, right_delta=c, batch_id=0)
    n1 = v.read_view(spark).count()
    v.apply_batch(spark, left_delta=o, right_delta=c, batch_id=0)
    assert v.read_view(spark).count() == n1 == o.join(c, "o_custkey").count()


def test_streaming_join_view_maintenance(spark, sf_dir, tmp_path):
    """Left-side appends STREAMED through checkpointed foreachBatch
    must maintain the same view as the one-shot join, across two
    separate drains of the same checkpoint."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.incremental_join import (
        IncrementalJoinView,
    )
    from aws_glue_jobs_incremental_database_etl_spark.streaming.stream import (
        streaming_join_view_maintenance,
    )
    from tests.test_streaming import incremental_file_stream

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    v = IncrementalJoinView(str(tmp_path / "v"), on="o_custkey")
    v.apply_batch(spark, right_delta=c, batch_id="seed-right")

    src = str(tmp_path / "src"); ckpt = str(tmp_path / "ck")
    o.filter("o_orderkey % 2 = 0").write.mode("append").parquet(src)
    streaming_join_view_maintenance(
        spark, incremental_file_stream(spark, src, o.schema), v, ckpt
    )
    o.filter("o_orderkey % 2 = 1").write.mode("append").parquet(src)
    streaming_join_view_maintenance(
        spark, incremental_file_stream(spark, src, o.schema), v, ckpt
    )
    got = v.read_view(spark)
    want = o.join(c, "o_custkey")
    assert got.count() == want.count()
    assert got.exceptAll(want).isEmpty()


def test_readability_scores_are_sane(spark, sf_dir):
    from aws_glue_jobs_incremental_database_etl_spark.registry import Q

    rows = Q["readability_docs"](spark, sf_dir).limit(100).collect()
    assert rows
    for r in rows:
        assert r.n_syllables >= 1 and r.n_words >= 1 and r.n_sentences >= 1
        # vowel-group syllables can't exceed ~per-char bound
        assert r.fk_grade == pytest.approx(
            0.39 * r.n_words / r.n_sentences
            + 11.8 * r.n_syllables / r.n_words
            - 15.59,
            abs=0.006,
        )


def test_rbo_bounds_and_identity(spark, sf_dir):
    """RBO@10 with p=1/2 lies in [0, 1-2^-10·(something)] — bounded by
    the full-agreement weight sum Σ_{d≤10} 2^-d = 1 − 2^-10; identical
    rankings must hit that bound exactly."""
    from aws_glue_jobs_incremental_database_etl_spark.registry import Q

    r = Q["rbo_lsh_vs_exact"](spark, sf_dir).first()
    max_rbo = sum(2.0 ** -d for d in range(1, 11))
    assert 0.0 <= r.rbo <= max_rbo + 1e-9


def test_residual_pq_reconstruction_contract(emb):
    """Residual IVF-PQ contract: every result's ADC distance equals
    ‖(q − centroid) − codeword‖² for the row's assigned cluster and
    codes — verified by recomputing the reconstruction in numpy."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.similarity import (
        assign_nearest_centroid_arrow,
        fixed_centroids,
        pq_encode_arrow,
        pq_ivf_topk_residual,
    )

    cents = fixed_centroids(64, 8, seed=7)
    cb = pq_codebooks(64, 4, 16, seed=11)
    q = np.array(emb.filter(F.col("vec_id") == 0).first().embedding)
    got = pq_ivf_topk_residual(emb, list(q), cents, cb, k=10, nprobe=2).collect()
    assert got
    # recompute codes for the probed rows
    assigned = assign_nearest_centroid_arrow(emb, cents)
    for r in got:
        row = assigned.filter(F.col("vec_id") == r.vec_id).first()
        assert row.cluster == r.cluster
        enc = pq_encode_arrow(
            assigned.filter(F.col("vec_id") == r.vec_id),
            cb,
            center=[float(x) for x in cents[r.cluster]],
        ).first()
        recon = cents[r.cluster] + np.concatenate(
            [cb[s][getattr(enc, f"code_{s}")] for s in range(4)]
        )
        assert abs(((q - recon) ** 2).sum() - r.adc_dist) < 1e-5


def test_weighted_join_view_update_and_multiplicity(spark, tmp_path):
    """Retraction semantics: an UPDATE (−1 old, +1 new) moves the
    joined value; duplicate inserts give net multiplicity 2; deleting
    one copy leaves 1."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.incremental_join import (
        WeightedIncrementalJoinView,
    )

    l0 = spark.createDataFrame([(1, 100, 1), (2, 200, 1), (2, 200, 1)], "k long, v long, _w int")
    r0 = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], "k long, t string, _w int")
    v = WeightedIncrementalJoinView(str(tmp_path / "w"), on="k")
    v.apply_batch(spark, left_delta=l0, right_delta=r0, batch_id=0)
    # update k=1: v 100 -> 150
    upd = spark.createDataFrame([(1, 100, -1), (1, 150, 1)], "k long, v long, _w int")
    v.apply_batch(spark, left_delta=upd, batch_id=1)
    # delete ONE of the two duplicate (2, 200) rows
    dele = spark.createDataFrame([(2, 200, -1)], "k long, v long, _w int")
    v.apply_batch(spark, left_delta=dele, batch_id=2)
    net = {(r.k, r.v, r.t): r._net for r in v.read_view_net(spark).collect()}
    assert net == {(1, 150, "a"): 1, (2, 200, "b"): 1}
    # missing weight column raises
    import pytest as _pt

    bad = spark.createDataFrame([(1, 1)], "k long, v long")
    with _pt.raises(ValueError):
        v.apply_batch(spark, left_delta=bad, batch_id=3)


def test_weighted_join_view_compaction(spark, tmp_path):
    """Compaction (VERDICT r4 #4): netting history must preserve
    read_view_net exactly, physically drop cancelled ±1 pairs, keep
    the newest partition untouched (the streaming replay marker), and
    a crash between the compaction commit and its GC must heal on the
    next read instead of double-counting."""
    import os
    import shutil

    from aws_glue_jobs_incremental_database_etl_spark.operators.incremental_join import (
        WeightedIncrementalJoinView,
    )

    rows = "k long, v long, _w int"
    v = WeightedIncrementalJoinView(str(tmp_path / "w"), on="k")
    r0 = spark.createDataFrame([(1, 0, 1), (2, 0, 1), (3, 0, 1)], rows)
    v.apply_batch(spark, right_delta=r0.selectExpr("k", "v as u", "_w"), batch_id=0)
    v.apply_batch(
        spark,
        left_delta=spark.createDataFrame([(1, 10, 1), (2, 20, 1)], rows),
        batch_id=1,
    )
    # retract (2, 20) entirely, insert (3, 30)
    v.apply_batch(
        spark,
        left_delta=spark.createDataFrame([(2, 20, -1), (3, 30, 1)], rows),
        batch_id=2,
    )
    before = sorted(map(tuple, v.read_view_net(spark).collect()))
    stats = v.compact(spark)
    assert stats["view"] >= 1 and stats["left"] >= 1
    after = sorted(map(tuple, v.read_view_net(spark).collect()))
    assert after == before
    # cancelled pairs are physically gone: the compacted view slice
    # holds net rows only
    view_parts = sorted(os.listdir(v.view_dir))
    assert any(p.startswith("batch=compact-") for p in view_parts)
    # newest partition (batch=2) untouched — replay marker preserved
    assert "batch=2" in view_parts
    raw = spark.read.parquet(v.view_dir)
    assert raw.filter("batch <> '2'").groupBy("k", "v", "t" if "t" in raw.columns else "u").count().filter("count > 1").count() == 0

    # crash-heal: resurrect a superseded partition by hand (= crash
    # between commit and GC) — the next read must delete it, not
    # double-count
    compact_part = next(
        p for p in os.listdir(v.view_dir) if p.startswith("batch=compact-")
    )
    victims = open(
        os.path.join(v.view_dir, compact_part, "_REPLACES")
    ).read().splitlines()
    ghost = os.path.join(v.view_dir, victims[0])
    shutil.copytree(os.path.join(v.view_dir, compact_part), ghost)
    os.remove(os.path.join(ghost, "_REPLACES"))
    healed = sorted(map(tuple, v.read_view_net(spark).collect()))
    assert healed == before
    assert not os.path.exists(ghost)

    # folding AFTER compaction still works against compacted state
    v.apply_batch(
        spark,
        left_delta=spark.createDataFrame([(3, 30, -1)], rows),
        batch_id=3,
    )
    final = {(r.k, r.v) for r in v.read_view_net(spark).collect()}
    assert final == {(1, 10)}


def test_streaming_weighted_join_view_cdc(spark, sf_dir, tmp_path):
    """A CDC stream (inserts then retractions) folded through the
    SAME streaming harness into the weighted view: net state equals
    the survivors' one-shot join."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.incremental_join import (
        WeightedIncrementalJoinView,
    )
    from aws_glue_jobs_incremental_database_etl_spark.streaming.stream import (
        streaming_join_view_maintenance,
    )
    from tests.test_streaming import incremental_file_stream

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    v = WeightedIncrementalJoinView(str(tmp_path / "w"), on="o_custkey")
    v.apply_batch(
        spark,
        right_delta=c.select("*", F.lit(1).alias("_w")),
        batch_id="seed",
    )
    src = str(tmp_path / "src"); ckpt = str(tmp_path / "ck")
    ins = o.select("*", F.lit(1).alias("_w"))
    ins.write.mode("append").parquet(src)
    streaming_join_view_maintenance(
        spark, incremental_file_stream(spark, src, ins.schema), v, ckpt
    )
    # retraction wave arrives on the same stream
    o.filter("o_orderkey % 5 = 2").select(
        "*", F.lit(-1).alias("_w")
    ).write.mode("append").parquet(src)
    streaming_join_view_maintenance(
        spark, incremental_file_stream(spark, src, ins.schema), v, ckpt
    )
    net = v.read_view_net(spark)
    want = o.filter("o_orderkey % 5 <> 2").join(c, "o_custkey")
    assert net.filter("_net <> 1").count() == 0
    assert net.count() == want.count()
    assert net.drop("_net").exceptAll(want).isEmpty()


def test_join_view_change_feed(spark, tmp_path):
    """read_changes exposes per-batch view deltas with their batch id
    — summing the feed reproduces the view, and each batch's slice is
    exactly what that batch changed."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.incremental_join import (
        IncrementalJoinView,
        read_changes,
    )

    l = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    r = spark.createDataFrame([(1, "a"), (2, "b")], "k long, t string")
    v = IncrementalJoinView(str(tmp_path / "v"), on="k")
    v.apply_batch(spark, left_delta=l, right_delta=r, batch_id="e0")
    v.apply_batch(
        spark,
        left_delta=spark.createDataFrame([(2, 21)], "k long, v long"),
        batch_id="e1",
    )
    feed = read_changes(v, spark)
    assert set(feed.select("batch").distinct().toPandas()["batch"]) == {"e0", "e1"}
    assert feed.filter("batch = 'e1'").count() == 1  # only (2,21,b)
    assert feed.count() == v.read_view(spark).count()


def test_weighted_join_view_compacts_repeatedly(spark, tmp_path):
    """Each compaction takes the next free ``compact-<n>`` id: a third
    compaction (one earlier compact partition left, superseded again)
    must neither collide with it nor lose rows."""
    import os

    from aws_glue_jobs_incremental_database_etl_spark.operators.incremental_join import (
        WeightedIncrementalJoinView,
    )

    rows = "k long, v long, _w int"
    v = WeightedIncrementalJoinView(str(tmp_path / "w"), on="k")
    v.apply_batch(
        spark,
        right_delta=spark.createDataFrame([(1, 0, 1)], rows)
        .selectExpr("k", "v as u", "_w"),
        batch_id=0,
    )
    for i in (1, 2, 3, 4):
        v.apply_batch(
            spark,
            left_delta=spark.createDataFrame([(1, i, 1)], rows),
            batch_id=i,
        )
        if i > 1:
            assert v.compact(spark)["view"] >= 1
    assert sorted(os.listdir(v.view_dir)) == ["batch=4", "batch=compact-3"]
    net = {(r.k, r.v, r.u, r._net) for r in v.read_view_net(spark).collect()}
    assert net == {(1, i, 0, 1) for i in (1, 2, 3, 4)}


def test_weighted_join_view_second_compaction_keeps_newest_batch(spark, tmp_path):
    """Two back-to-back compactions keep the newest ``batch=<id>``
    partition (the in-flight epoch's replay marker): the compacted
    partition the first one wrote is not the partition to keep."""
    import os

    from aws_glue_jobs_incremental_database_etl_spark.operators.incremental_join import (
        WeightedIncrementalJoinView,
    )

    rows = "k long, v long, _w int"
    v = WeightedIncrementalJoinView(str(tmp_path / "w"), on="k")
    v.apply_batch(
        spark,
        right_delta=spark.createDataFrame([(1, 0, 1)], rows)
        .selectExpr("k", "v as u", "_w"),
        batch_id=0,
    )
    for i in (1, 2):
        v.apply_batch(
            spark,
            left_delta=spark.createDataFrame([(1, i, 1)], rows),
            batch_id=i,
        )
    v.compact(spark)
    v.compact(spark)
    assert sorted(os.listdir(v.view_dir)) == ["batch=2", "batch=compact-1"]
    assert v.apply_batch(  # the replay marker still makes a replay a no-op
        spark, left_delta=spark.createDataFrame([(1, 2, 1)], rows), batch_id=2
    ) is None
    net = {(r.k, r.v, r.u, r._net) for r in v.read_view_net(spark).collect()}
    assert net == {(1, 1, 0, 1), (1, 2, 0, 1)}
