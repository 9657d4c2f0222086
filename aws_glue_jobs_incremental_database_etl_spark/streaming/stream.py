"""True Structured Streaming pipelines.

``incremental_file_stream`` is the streaming twin of the batch
bookmark pipeline: a file-source stream with ``Trigger.AvailableNow``
+ checkpoint IS the reference's bookmark-per-run model (SURVEY.md
§2.10) with exactly-once sink semantics instead of at-least-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..fsutil import fold, fs_for, join_path, latest, publish


def incremental_file_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    fmt: str = "parquet",
) -> DataFrame:
    """Streaming read of a growing directory (schema must be supplied —
    streaming sources don't infer)."""
    return spark.readStream.format(fmt).schema(schema).load(source_dir)


def stream_tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    duration: str = "1 hour",
    watermark: str = "2 hours",
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Windowed streaming counts with late-data handling: watermark
    bounds state (windows older than max(event_time) − watermark are
    finalized and dropped from the state store — this is what keeps
    unbounded streams at bounded memory)."""
    keys = [F.window(F.col(ts_col), duration)] + [
        F.col(k) for k in (extra_keys or [])
    ]
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *[F.col(k) for k in (extra_keys or [])],
            "n_events",
        )
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stateful streaming deduplication on ``keys``.

    ``dropDuplicatesWithinWatermark`` keeps one row per key and expires
    key state once the watermark passes it — bounded state on unbounded
    streams, which plain ``dropDuplicates`` (state grows forever) can't
    give you.  Batch DataFrames fall back to plain ``dropDuplicates``
    (same result set; the watermark clause is meaningless at rest)."""
    if not events.isStreaming:
        return events.dropDuplicates(keys)
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def _drain(
    stream_df: DataFrame, checkpoint: str, fn, output_mode: str = "update"
) -> None:
    """Run ``fn`` as the ``foreachBatch`` sink over everything currently
    available, then stop: one bookmark-delimited run, with the
    checkpoint as the bookmark."""
    (
        stream_df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_available_now(
    stream_df: DataFrame,
    checkpoint: str,
    out_dir: str,
    output_mode: str = "append",
) -> None:
    """Drain everything currently available, then stop — the streaming
    equivalent of one bookmark-delimited batch run of the reference
    job.  Re-invoking later processes only new files (checkpoint =
    bookmark), with exactly-once output.

    ``output_mode="update"`` (stateful operators) routes through
    ``foreachBatch`` because file sinks only accept append — each
    micro-batch's updated rows land in their own ``batch-<id>``
    directory via :func:`exactly_once_batch_writer` (a replayed epoch
    is skipped, so a crash between write and checkpoint commit cannot
    duplicate rows; a plain ``mode("append")`` here was the one
    remaining at-least-once writer, migrated round 5).  Read update
    output back with ``spark.read.parquet(f"{out_dir}/batch-*")``."""
    if output_mode != "append":
        _drain(
            stream_df, checkpoint, exactly_once_batch_writer(out_dir), output_mode
        )
        return
    (
        stream_df.writeStream.format("parquet")
        .option("checkpointLocation", checkpoint)
        .option("path", out_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "1 hour",
    max_lag: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi join with an event-time interval bound:
    right rows match left rows with the same key whose timestamp falls
    in ``[left_ts, left_ts + max_lag]`` (the click-after-impression
    shape).

    Both sides carry watermarks and the join condition bounds the
    time skew, which is what lets Spark EXPIRE buffered rows — an
    unconstrained stream-stream join must hold every past row forever.
    State per side ≈ watermark + max_lag of data.  Outer variants
    additionally need the bound to know when an unmatched row can be
    emitted; Spark enforces it at analysis time.
    """
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {max_lag}"))
    )
    return lw.join(rw, cond, how)


def stream_static_enrich(
    stream_df: DataFrame,
    dim: DataFrame,
    key: str,
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: decorate a stream with a batch
    dimension table (user→segment, product→category — the most common
    streaming join in practice).

    The static side needs NO watermark and holds NO join state: Spark
    re-evaluates the batch plan per micro-batch, so a dimension table
    backed by a live path picks up updates between batches.  With
    ``broadcast_dim`` (default) the dim hash-relation ships to
    executors once per micro-batch and the stream side never
    shuffles — at 100 TB/day of stream this is the difference between
    a map-only pipeline and a per-batch repartition of the firehose.
    ``how='left'`` keeps stream rows with no dim match (standard
    enrichment); inner drops them.  Stream-side columns must not
    collide with dim columns except the key itself.
    """
    if how not in ("left", "inner"):
        raise ValueError(
            "stream-static enrichment supports how='left'|'inner' "
            "(right/full would need the static side to emit unmatched "
            "rows, which has no trigger in a stream)"
        )
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream_df.join(d, key, how)


def run_aggregate_maintenance(
    stream_df: DataFrame,
    checkpoint: str,
    aggregate,
) -> None:
    """Continuously fold a stream into an incrementally-maintained
    summary (``aggregates.IncrementalAggregate`` inside
    ``foreachBatch``).

    This composition is what discharges the aggregate's replay caveat:
    combining is not idempotent, and a crash AFTER the fold but BEFORE
    the checkpoint commit replays the batch — so the epoch id is
    passed down as the fold's batch id.  ``Trigger.AvailableNow``
    drains what exists and stops — schedule repeatedly for continuous
    maintenance.
    """

    def _fold(batch: DataFrame, batch_id: int) -> None:
        if not batch.isEmpty():
            aggregate.apply_batch(batch, batch_id=batch_id)

    _drain(stream_df, checkpoint, _fold)


def run_cdc_merge(
    stream_df: DataFrame,
    checkpoint: str,
    target_path: str,
    keys: list[str],
    *,
    partition_spec: list[str] | None = None,
    version_col: str | None = None,
    delete_col: str | None = None,
) -> None:
    """Streaming CDC apply: continuously MERGE a change stream into a
    Hive-partitioned target (``merge.merge_upsert`` inside
    ``foreachBatch``) — the streaming shape of incremental *database*
    replication, where the source ships updates and deletes rather
    than append-only inserts.

    Semantics per micro-batch: collapse to latest-per-key by
    ``version_col``, replace/insert/delete, rewrite only touched
    partition directories.  The checkpoint makes each batch processed
    once; the merge itself is idempotent for replays of the same batch
    (same keys → same final row state), so recovery after a crash
    between merge and checkpoint-commit converges to the same table.
    ``Trigger.AvailableNow`` drains what exists and stops — one
    bookmark-style run; schedule repeatedly for continuous apply.
    """
    from ..merge import merge_upsert

    def _apply(batch: DataFrame, _id: int) -> None:
        if not batch.isEmpty():
            merge_upsert(
                batch.sparkSession,
                target_path,
                batch,
                keys,
                partition_spec=partition_spec,
                version_col=version_col,
                delete_col=delete_col,
            )

    _drain(stream_df, checkpoint, _apply)


def run_streaming_ingestion(
    stream_df: DataFrame,
    checkpoint: str,
    out_dir: str,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float | None = 0.3,
    engine: str = "minhash",
    compact_every_n_batches: int | None = 16,
) -> None:
    """Continuous training-data ingestion: document stream → quality
    filter → incremental near-dup dedup against a persistent signature
    index → parquet append.  The streaming composition of the corpus
    pipeline (``training_data_pipeline`` is its batch twin): new data
    lands continuously, is deduped against EVERYTHING ingested so far
    without rescanning old text, and survivors append to the corpus.

    ``engine`` picks the signature family: ``"minhash"`` (banded LSH
    over shingle MinHash — whole-doc similarity) or ``"winnow"``
    (winnowing fingerprints — position-aware substring overlap, the
    MOSS engine; catches partial-overlap/boilerplate-insertion dups
    MinHash dilutes).  Both are batch-boundary-independent: streamed
    micro-batches ≡ one-shot batch dedup, and both read the index as
    a pinned pre-append file snapshot so a replayed epoch can never
    observe its own appends.

    Delivery: the checkpoint gives process-once micro-batches
    (availableNow drain = one bookmark-delimited run); survivors
    commit per epoch into ``batch-<id>`` directories (the
    :func:`exactly_once_batch_writer` discipline), and a fully
    committed epoch is skipped wholesale on replay — BEFORE touching
    the index, so neither the index nor the corpus sees the batch
    twice.  A crash between the index append and the corpus commit
    replays the batch; ``MinHashIndex`` never re-appends an
    already-indexed id, and ``dedup_batch`` keeps ids already in the
    index only when they are this batch's own first occurrence, so
    recovery converges.  Read the corpus back with
    ``spark.read.parquet(f"{out_dir}/batch-*")``.

    State per batch is O(batch + touched index buckets); the index is
    a parquet table that at 100 TB should be bucketed by band
    signature (see ``operators/incremental_dedup.py``).

    The index gains a file per batch; ``compact_every_n_batches``
    (default 16, ``None`` = manual-only) folds it via the index's own
    ``compact()`` every n-th epoch, strictly AFTER that epoch's corpus
    commit, so listing and per-file open cost stay bounded over an
    unbounded ingest (VERDICT r7 #4).  Replay-safe by construction:
    dedup results are byte-identical before/after compaction, a crash
    between the corpus commit and the compaction replays the epoch
    into the skip path (compaction simply waits for the next cadence
    hit), and a crash INSIDE compaction heals on the next index read
    (``fsutil.heal``).
    """
    from ..operators.incremental_dedup import MinHashIndex, WinnowIndex
    from ..operators.text import quality_filter

    if engine == "minhash":
        index = MinHashIndex(index_path)
    elif engine == "winnow":
        index = WinnowIndex(index_path)
    else:
        raise ValueError(f"engine must be minhash or winnow, got {engine}")

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if fs_for(out_dir, spark).exists(join_path(out_dir, f"batch-{batch_id}")):
            return  # replayed epoch, fully committed: skip before the index
        if min_quality is not None:
            batch = quality_filter(batch, text_col, min_quality)
        survivors = index.dedup_batch(batch, id_col, text_col)
        publish(
            out_dir,
            "batch-",
            batch_id,
            survivors.write.mode("overwrite").parquet,
            spark=spark,
        )
        if (
            compact_every_n_batches
            and (batch_id + 1) % compact_every_n_batches == 0
        ):
            # strictly after the corpus commit: the survivors lineage
            # is already severed from the files compaction GCs
            index.compact(spark)

    _drain(stream_df, checkpoint, _ingest)


def streaming_cms_token_counts(
    spark,
    stream_df: DataFrame,
    key_col: str,
    sketch_path: str,
    checkpoint: str,
    d: int = 4,
    w: int = 1024,
) -> None:
    """Streaming frequency maintenance: each micro-batch builds its
    own Count-Min sketch and folds it into a persisted one
    (functions.cms.cms_merge — cell-wise sum, so per-batch ∘ merge ≡
    one whole-stream build, the mergeability property test_sketch_merge
    pins).  The persisted state is ≤ d·w rows forever, whatever the
    stream's cardinality — the fixed-memory answer to "which tokens
    are trending" over an unbounded ingest.

    Replay safety is EXACTLY-ONCE, not just at-least-once: the folded
    sketch is stateful, so re-merging a replayed batch would double
    count; :func:`sketch_fold_writer` skips it.  Read the current
    sketch with :func:`read_sketch`.
    """
    from ..functions.cms import cms_build, cms_merge

    _drain(
        stream_df,
        checkpoint,
        sketch_fold_writer(
            sketch_path,
            lambda b: cms_build(b, key_col, d=d, w=w),
            cms_merge,
        ),
    )


def read_sketch(spark, sketch_path: str) -> DataFrame:
    """Current value of a sketch maintained by ``sketch_fold_writer``:
    the highest committed ``state-<batch_id>`` directory."""
    cur = latest(sketch_path, "state-", spark)
    if cur is None:
        raise FileNotFoundError(f"no committed sketch state under {sketch_path}")
    return spark.read.parquet(cur)


def sketch_fold_writer(sketch_path: str, build_delta, merge):
    """foreachBatch updater folding per-batch deltas into a persisted
    bounded sketch with EXACTLY-ONCE semantics: each epoch is one
    versioned fold (``fsutil.fold``) committed as ``state-<batch_id>``,
    so a replayed epoch is skipped (Structured Streaming replays a batch
    id with identical data, so skip ≡ dedup).  One sketch path belongs
    to one stream/checkpoint (batch ids are only monotone within a
    checkpoint)."""

    def _update(batch: DataFrame, batch_id: int) -> None:
        fold(
            sketch_path,
            "state-",
            batch_id,
            lambda: build_delta(batch),
            merge,
            batch.sparkSession,
        )

    return _update


def streaming_histogram_quantiles(
    spark,
    stream_df: DataFrame,
    value_col: str,
    sketch_path: str,
    checkpoint: str,
    lo: float,
    hi: float,
    bins: int = 64,
) -> None:
    """Streaming percentile maintenance: each micro-batch builds a
    fixed-grid histogram sketch (operators.profile.histogram_sketch)
    and folds it into a persisted one (sketch_merge — cell-wise count
    sum, so per-batch ∘ merge ≡ one whole-stream build; the same
    mergeability contract as streaming_cms_token_counts).  The
    persisted state is ≤ ``bins`` rows forever; query current
    p50/p95/p99 any time with operators.profile.sketch_quantiles over
    ``read_sketch(...)`` — monitoring percentiles over an unbounded
    ingest without ever re-scanning history.  Same exactly-once
    batch-id-committed fold as the CMS maintainer
    (``sketch_fold_writer``).
    """
    from ..operators.profile import histogram_sketch, sketch_merge

    _drain(
        stream_df,
        checkpoint,
        sketch_fold_writer(
            sketch_path,
            lambda b: histogram_sketch(b, value_col, lo, hi, bins),
            sketch_merge,
        ),
    )


def exactly_once_batch_writer(out_dir: str):
    """Batch-id-keyed idempotent writer — the foreachBatch half of an
    EXACTLY-ONCE streaming file sink (upgrade over the at-least-once
    appends elsewhere in this module): each micro-batch is committed
    as its own ``batch-<id>`` directory by ``fsutil.publish``, and a
    REPLAYED batch (failure after write, before the checkpoint commit)
    finds it committed and skips.  Correct because Structured
    Streaming guarantees a replayed batch id carries identical data —
    so skip ≡ dedup."""

    def _write(batch: DataFrame, batch_id: int) -> None:
        publish(
            out_dir,
            "batch-",
            batch_id,
            batch.write.mode("overwrite").parquet,
            spark=batch.sparkSession,
        )

    return _write


def exactly_once_append(
    spark, stream_df: DataFrame, out_dir: str, checkpoint: str
) -> None:
    """Drain a stream into ``out_dir`` with exactly-once file-sink
    semantics (availableNow trigger); read the result back with
    ``spark.read.parquet(f"{out_dir}/batch-*")``."""
    _drain(
        stream_df,
        checkpoint,
        exactly_once_batch_writer(out_dir),
        output_mode="append",
    )


def streaming_topk_maintenance(
    spark,
    stream_df: DataFrame,
    query_vec: list,
    state_path: str,
    checkpoint: str,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Streaming twin of ``similarity.cosine_topk_incremental``: keep
    an exact cosine top-k current as embedding batches STREAM in.  Per
    micro-batch: map-only local top-k over the delta, ≤2k-row merge
    into the committed state — the historical stream is never
    re-scanned (top-k is monotone-mergeable under appends).

    Exactly-once via :func:`sketch_fold_writer` (re-merging a replayed
    batch cannot corrupt a top-k, but skipping is still the cheaper
    and uniform rule).  Read the current top-k with :func:`read_sketch`.
    """
    from ..operators.similarity import cosine_topk
    from pyspark.sql import functions as F

    def merge(prev: DataFrame, delta: DataFrame) -> DataFrame:
        return (
            prev.unionByName(delta)
            .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
            .limit(k)
        )

    _drain(
        stream_df,
        checkpoint,
        sketch_fold_writer(
            state_path,
            lambda b: cosine_topk(b, query_vec, k, id_col, vec_col),
            merge,
        ),
    )


def streaming_join_view_maintenance(
    spark,
    stream_df: DataFrame,
    view,
    checkpoint: str,
    side: str = "left",
) -> None:
    """Streaming twin of
    ``operators.incremental_join.IncrementalJoinView``: each
    micro-batch of appends to ``side`` folds through the delta-join
    identity, keyed by the foreachBatch epoch id so Structured
    Streaming replays are exactly-once (the view partition is the
    commit marker; accumulator reads exclude the in-flight batch).
    Unlike a stream-static join, the maintained view is a QUERYABLE
    on-disk table that never re-joins history."""
    if side not in ("left", "right"):
        raise ValueError(f"side must be left or right, got {side!r}")

    def fold(batch: DataFrame, batch_id: int) -> None:
        view.apply_batch(
            batch.sparkSession,
            left_delta=batch if side == "left" else None,
            right_delta=batch if side == "right" else None,
            batch_id=batch_id,
        )

    _drain(stream_df, checkpoint, fold)


def run_experiment_monitor(
    stream_df: DataFrame, checkpoint: str, state_path: str
) -> None:
    """Streaming twin of the group-sequential experiment monitor
    (registry ``group_sequential_monitor_events``): drain everything
    currently available, folding each micro-batch's day-level moment
    deltas (exact ×1e4 integers + decimal-widened squares, from
    ``operators.profile.experiment_daily_moments``) into the
    persisted per-day moment state via :func:`sketch_fold_writer`
    (exactly-once batch-id commits).  Because the fold is an ADDITIVE integer merge per
    day, any batch split of the same events produces bit-identical
    state, and :func:`monitor_z_series` over that state equals the
    batch gate bit-for-bit (same shared z expressions)."""
    from ..operators.profile import (
        experiment_daily_moments,
        merge_daily_moments,
    )

    writer = sketch_fold_writer(
        state_path, experiment_daily_moments, merge_daily_moments
    )
    _drain(stream_df, checkpoint, writer)


def monitor_z_series(spark: SparkSession, state_path: str) -> DataFrame:
    """Current z-vs-boundary readout of a streaming experiment
    monitor: the cumulative Welch z per day computed from the
    persisted day-level moment state — the identical
    ``sequential_z_report`` expressions the batch gate uses, so
    streamed and batch readouts agree bit-for-bit on the same
    events."""
    from ..operators.profile import sequential_z_report

    return sequential_z_report(read_sketch(spark, state_path))


def run_drift_monitor(
    stream_df: DataFrame, checkpoint: str, state_path: str
) -> None:
    """Streaming twin of the Page–Hinkley drift monitor (registry
    ``page_hinkley_daily_events``): drain everything currently
    available, folding each micro-batch's (event_type, day)-level
    count/sum deltas (exact ×100 integers, from
    ``operators.profile.drift_daily_moments``) into persisted state
    via :func:`sketch_fold_writer` (exactly-once batch-id commits).
    The fold is an
    ADDITIVE integer merge per (type, day), so any batch split of the
    same events produces bit-identical state, and
    :func:`drift_ph_series` over that state equals the batch gate
    bit-for-bit (same shared report expressions)."""
    from ..operators.profile import (
        drift_daily_moments,
        merge_drift_daily_moments,
    )

    writer = sketch_fold_writer(
        state_path, drift_daily_moments, merge_drift_daily_moments
    )
    _drain(stream_df, checkpoint, writer)


def drift_ph_series(spark: SparkSession, state_path: str) -> DataFrame:
    """Current Page–Hinkley readout of a streaming drift monitor: the
    PH statistic per (type, day) computed from the persisted day
    moments — the identical ``page_hinkley_report`` expressions the
    batch gate uses, so streamed and batch readouts agree bit-for-bit
    on the same events."""
    from ..operators.profile import page_hinkley_report

    return page_hinkley_report(read_sketch(spark, state_path))


def drift_cusum_series(spark: SparkSession, state_path: str) -> DataFrame:
    """Tabular-CUSUM readout of a streaming drift monitor: the
    two-sided chart computed from the SAME persisted (type, day)
    moments :func:`run_drift_monitor` folds — no second state, one
    more report over it — via the shared
    ``profile.cusum_chart_report`` expressions, so streamed and batch
    readouts agree bit-for-bit on the same events (the Page–Hinkley
    twin's pattern; PH self-normalizes against the running mean,
    CUSUM charts against the in-control μ/σ with a slack k — the two
    standard drift alarms over one state)."""
    from ..operators.profile import cusum_chart_report

    return cusum_chart_report(read_sketch(spark, state_path))


def run_srm_monitor(
    stream_df: DataFrame, checkpoint: str, state_path: str
) -> None:
    """Streaming twin of the sample-ratio-mismatch gate (registry
    ``srm_check_events``): drain everything currently available,
    folding each micro-batch's distinct (user_id, arm) assignments
    into persisted state via :func:`sketch_fold_writer`
    (exactly-once batch-id commits).  The fold is a SET UNION (a user's md5 arm never
    changes), so any batch split of the same events produces an
    identical state set, and :func:`srm_series` over it equals the
    batch gate bit-for-bit (same shared ``profile.srm_report``
    expressions).  The state is one row per user — the exact monitor;
    at extreme user counts swap the build/merge pair for per-arm HLL
    registers, same fold contract."""
    from ..operators.profile import merge_srm_user_arms, srm_user_arms

    writer = sketch_fold_writer(
        state_path, srm_user_arms, merge_srm_user_arms
    )
    _drain(stream_df, checkpoint, writer)


def srm_series(spark: SparkSession, state_path: str) -> DataFrame:
    """Current SRM readout of a streaming assignment monitor: the
    chi-square report over the persisted (user_id, arm) set — the
    identical ``profile.srm_report`` expressions the batch gate uses,
    so streamed and batch readouts agree bit-for-bit on the same
    events."""
    from ..operators.profile import srm_report

    return srm_report(read_sketch(spark, state_path))


def run_hll_monitor(
    stream_df: DataFrame, checkpoint: str, state_path: str
) -> None:
    """Streaming twin of the grouped daily-distinct HLL gate
    (registry ``hll_distinct_users_daily``): drain everything
    currently available, folding each micro-batch's per-(day, bucket)
    register deltas (``functions.hll.hll_build`` at b = 8) into
    persisted state via :func:`sketch_fold_writer` (exactly-once
    batch-id commits).  The fold is a per-(day, bucket) MAX (idempotent, commutative,
    associative), so any batch split of the same events — including
    the same user appearing in every batch — produces bit-identical
    register state, and :func:`hll_daily_series` over it equals the
    batch gate's estimate columns bit-for-bit.  State is ≤ 256 rows
    per day FOREVER: the streaming dashboard's distinct-users curve
    without ever re-scanning history."""
    from ..functions.hll import hll_build

    def build(batch: DataFrame) -> DataFrame:
        base = batch.select(
            F.to_date(F.col("ts")).alias("day"), "user_id"
        )
        return hll_build(base, "user_id", b=8, group_cols=("day",))

    def merge(prev: DataFrame, delta: DataFrame) -> DataFrame:
        return (
            prev.unionByName(delta)
            .groupBy("day", "bucket")
            .agg(F.max("reg").alias("reg"))
        )

    writer = sketch_fold_writer(state_path, build, merge)
    _drain(stream_df, checkpoint, writer)


def hll_daily_series(spark: SparkSession, state_path: str) -> DataFrame:
    """Current per-day distinct-user estimates of a streaming HLL
    monitor: ``(day, zero_registers, est_distinct)`` from the
    persisted register state — the identical ``hll_estimate``
    expressions the batch gate uses, so streamed and batch estimates
    agree bit-for-bit on the same events."""
    from ..functions.hll import hll_estimate

    return hll_estimate(
        read_sketch(spark, state_path), b=8, group_cols=("day",)
    ).select("day", "zero_registers", "est_distinct").orderBy("day")
