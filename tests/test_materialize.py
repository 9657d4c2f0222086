"""The materialisation policy (``materialize.checkpoint`` / ``cached``):
scoped caches are always released, operators that hand back lazy
frames leave no cached blocks behind, and no module materialises by
hand."""

from __future__ import annotations

import os
import re

import numpy as np
import pytest

import aws_glue_jobs_incremental_database_etl_spark as pkg
from aws_glue_jobs_incremental_database_etl_spark.materialize import cached, checkpoint


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cached_unpersists_when_body_raises(spark):
    df = spark.range(10)
    with pytest.raises(RuntimeError):
        with cached(df) as held:
            assert held.storageLevel.useDisk
            assert not held.storageLevel.useMemory
            assert held.count() == 10
            raise RuntimeError("body failed")
    assert not df.storageLevel.useDisk
    with cached(df) as held:
        assert held.count() == 10
    assert not df.storageLevel.useDisk


def test_checkpoint_cuts_lineage(spark):
    df = spark.range(10).selectExpr("id * 2 AS x")
    for eager in (False, True):
        cut = checkpoint(df, eager=eager)
        assert "LogicalRDD" in cut._jdf.queryExecution().logical().toString()
        assert sorted(r.x for r in cut.collect()) == list(range(0, 20, 2))


def test_dedup_operators_leave_no_cached_blocks(spark):
    """Operators that return lazy frames must not leave a persisted
    intermediate in the session's cache manager after their result is
    consumed: nothing would ever release it."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.dedup import (
        jaccard_near_dup_pairs_prefix,
        minhash_near_dup_pairs,
        semantic_dedup,
        simhash_near_dup_pairs,
    )
    from aws_glue_jobs_incremental_database_etl_spark.operators.text import (
        dsir_clear_model_cache,
        lm_cross_entropy,
    )

    dsir_clear_model_cache()
    spark.catalog.clearCache()
    assert _cache_empty(spark)
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog again"),
            (3, "an entirely different sentence about spark"),
        ],
        "doc_id long, text string",
    )
    rng = np.random.default_rng(5)
    base = rng.standard_normal(8)
    vecs = spark.createDataFrame(
        [
            (i, [float(x) for x in base + rng.standard_normal(8) * s])
            for i, s in ((1, 0.0), (2, 1e-4), (3, 1.0))
        ],
        ["vec_id", "embedding"],
    )
    minhash_near_dup_pairs(docs, "doc_id", "text", 0.5).collect()
    jaccard_near_dup_pairs_prefix(docs, "doc_id", "text", 0.5).collect()
    simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=10).collect()
    semantic_dedup(vecs, "vec_id", "embedding", n_clusters=2, threshold=0.99).collect()
    lm_cross_entropy(docs, "doc_id", "text").collect()
    assert _cache_empty(spark)


# The two deliberate exceptions, matched by file and line.
_RAW_ALLOWED = {
    # the DSIR model LRU owns its entries' lifetime across calls
    ("operators/text.py", "model = model.persist()"),
    # a reliable checkpoint when the session has a checkpoint dir
    ("operators/incremental_dedup.py", "losers = losers.checkpoint(eager=True)"),
}
_RAW = re.compile(
    r"\.persist\(|\.localCheckpoint\(|\.checkpoint\(|\.cache\(\)|StorageLevel"
)


def test_no_hand_written_materialisation_outside_the_helper():
    """Every lineage cut and scoped cache goes through ``materialize``;
    a raw ``persist``/``checkpoint``/``cache`` or a storage level
    anywhere else reintroduces the per-site policy this module owns."""
    root = os.path.dirname(pkg.__file__)
    found = []
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            if rel == "materialize.py":
                continue
            with open(path, encoding="utf-8") as fh:
                for no, line in enumerate(fh, 1):
                    if _RAW.search(line) and (rel, line.strip()) not in _RAW_ALLOWED:
                        found.append(f"{rel}:{no}: {line.strip()}")
    assert not found, "raw materialisation outside materialize.py:\n" + "\n".join(found)
