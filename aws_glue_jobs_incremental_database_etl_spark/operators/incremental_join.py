"""Incremental JOIN-view maintenance: keep ``L ⋈ R`` current under
append-only batches to EITHER side without ever re-joining history
with history.

The delta-join identity for appends (the classic incremental-view
rule; e.g. DBSP / differential dataflow for the general case):

    Δ(L ⋈ R) = ΔL ⋈ R_old  ∪  L_old ⋈ ΔR  ∪  ΔL ⋈ ΔR

so each ``apply_batch`` joins only delta-vs-accumulated and
delta-vs-delta; the accumulated×accumulated work that dominates a
full recompute is never repeated.  Deletes/updates need retraction
weights — out of scope here, matching the append-only bookmark
pipelines this repo models (``pipeline.py``).

Scale shape: before each delta-vs-accumulated join the accumulated
side is SEMI-JOIN pre-filtered on the delta's (small, broadcastable)
key set, so the wide side's shuffle carries only rows that can match
— at 100 TB the per-batch cost is O(|Δ| + matching slice), not
O(corpus).  Store the accumulators bucketed by the join key and even
that filtered scan prunes to touched buckets.

Exactly-once: state lives in three ``batch=<id>``-partitioned parquet
dirs (``left/``, ``right/``, ``view/``), each partition committed by
``fsutil.publish``.  The VIEW partition doubles as the batch's commit
marker, so a replayed ``batch_id`` is skipped, and a crash between an
accumulator commit and the view commit replays safely because
accumulator reads EXCLUDE the in-flight batch's own partition (the
identity always sees pre-batch state).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsutil import fs_for, heal, join_path, publish, versions
from ..materialize import checkpoint

# compacted partitions: the entries whose ``_REPLACES`` manifests heal reads
_COMPACT = "batch=compact-"


def _partitions(spark: SparkSession, d: str) -> list[str]:
    """Committed ``batch=<id>`` partitions of the state dir ``d``
    (sorted; ``[]`` when ``d`` is missing), after finishing any
    interrupted compaction GC."""
    heal(d, _COMPACT, spark)
    fs = fs_for(d, spark)
    if not fs.isdir(d):
        return []
    return [e for e in fs.listdir(d) if e.startswith("batch=")]


class IncrementalJoinView:
    """Maintained inner equi-join view at ``path``."""

    def __init__(self, path: str, on: str) -> None:
        self.path = path.rstrip("/")
        self.on = on
        self.left_dir = join_path(self.path, "left")
        self.right_dir = join_path(self.path, "right")
        self.view_dir = join_path(self.path, "view")

    # -- state plumbing ----------------------------------------------------

    def _read(
        self, spark: SparkSession, d: str, exclude_batch: str | None = None
    ) -> DataFrame | None:
        """Committed state at ``d``, minus ``exclude_batch``'s own
        partition (replay safety), minus the engine-added ``batch``
        partition column."""
        if not _partitions(spark, d):
            return None
        df = spark.read.parquet(d)
        if exclude_batch is not None:
            # partition values may be inferred as int — compare as string
            df = df.filter(F.col("batch").cast("string") != exclude_batch)
        return df.drop("batch")

    def _commit(
        self, spark: SparkSession, df: DataFrame, root: str, batch_id: str
    ) -> None:
        publish(
            root, "batch=", batch_id, df.write.mode("overwrite").parquet, spark=spark
        )

    def _join(self, a: DataFrame, b: DataFrame) -> DataFrame:
        return a.join(b, self.on)

    # -- the fold ----------------------------------------------------------

    def apply_batch(
        self,
        spark: SparkSession,
        left_delta: DataFrame | None = None,
        right_delta: DataFrame | None = None,
        batch_id: str | int | None = None,
    ) -> None:
        """Fold one batch of appends (either side or both) into the
        maintained view.  Pass the upstream batch id (e.g. the
        foreachBatch epoch) for exactly-once replay; without one a
        random id is used (at-least-once, like plain appends)."""
        bid = str(uuid.uuid4()) if batch_id is None else str(batch_id)
        if fs_for(self.view_dir, spark).exists(
            join_path(self.view_dir, f"batch={bid}")
        ):
            return  # replayed batch: fully committed already
        on = self.on
        l_old = self._read(spark, self.left_dir, exclude_batch=bid)
        r_old = self._read(spark, self.right_dir, exclude_batch=bid)
        dl = (
            checkpoint(left_delta, eager=True)
            if left_delta is not None
            else None
        )
        dr = (
            checkpoint(right_delta, eager=True)
            if right_delta is not None
            else None
        )

        parts = []
        if dl is not None and r_old is not None:
            keys = F.broadcast(dl.select(on).distinct())
            parts.append(self._join(dl, r_old.join(keys, on, "semi")))
        if dr is not None and l_old is not None:
            keys = F.broadcast(dr.select(on).distinct())
            parts.append(self._join(l_old.join(keys, on, "semi"), dr))
        if dl is not None and dr is not None:
            parts.append(self._join(dl, dr))

        # accumulators first; the view partition is the commit marker,
        # so a crash here replays into the exclude-own-batch reads
        if dl is not None:
            self._commit(spark, dl, self.left_dir, bid)
        if dr is not None:
            self._commit(spark, dr, self.right_dir, bid)
        if parts:
            delta_view = parts[0]
            for p in parts[1:]:
                delta_view = delta_view.unionByName(p)
            self._commit(spark, delta_view, self.view_dir, bid)
        # parts empty (first-ever batch of one side): no view partition
        # is written — the join schema is unknown until both sides have
        # state, and every commit above is idempotent, so a replay of
        # this batch is still safe without the view marker

    def read_view(self, spark: SparkSession) -> DataFrame:
        view = self._read(spark, self.view_dir)
        if view is None:
            raise FileNotFoundError(
                f"no view state at {self.view_dir}: apply a batch first"
            )
        return view


class WeightedIncrementalJoinView(IncrementalJoinView):
    """The RETRACTION half: deltas carry a weight column (+1 insert,
    −1 delete/retract — an update is a −1 of the old row and a +1 of
    the new one, exactly a CDC feed), and the join is maintained over
    the weighted multiset.  The delta-join identity is BILINEAR in
    the weights, so the same three terms apply with the view row's
    weight = product of the joined weights:

        w(l ⋈ r) = w(l) · w(r)

    A row deleted from the left retracts every joined output it ever
    produced (−1 · +1 = −1), and net multiplicities fall out of a
    final sum — this is the z-set/DBSP construction specialised to
    inner equi-joins.  ``read_view_net`` collapses to rows with net
    weight > 0 (kept as a ``_net`` multiplicity column; weighted
    aggregates should consume ``_net`` directly instead of
    materialising repeats)."""

    def __init__(self, path: str, on: str, weight_col: str = "_w") -> None:
        super().__init__(path, on)
        self.weight_col = weight_col

    def _join(self, a: DataFrame, b: DataFrame) -> DataFrame:
        w = self.weight_col
        return (
            a.withColumnRenamed(w, "_wl")
            .join(b.withColumnRenamed(w, "_wr"), self.on)
            .withColumn(w, F.col("_wl") * F.col("_wr"))
            .drop("_wl", "_wr")
        )

    def apply_batch(
        self,
        spark: SparkSession,
        left_delta: DataFrame | None = None,
        right_delta: DataFrame | None = None,
        batch_id: str | int | None = None,
    ) -> None:
        w = self.weight_col
        for side, d in (("left", left_delta), ("right", right_delta)):
            if d is not None and w not in d.columns:
                raise ValueError(f"{side} delta lacks weight column {w!r}")
        super().apply_batch(spark, left_delta, right_delta, batch_id)

    def read_view_net(self, spark: SparkSession) -> DataFrame:
        """Rows with positive net multiplicity, carrying it as
        ``_net`` — the materialised current state of the view."""
        w = self.weight_col
        view = self.read_view(spark)
        keys = [c for c in view.columns if c != w]
        return (
            view.groupBy(*keys)
            .agg(F.sum(w).alias("_net"))
            .filter(F.col("_net") > 0)
        )

    # -- compaction --------------------------------------------------------

    def _net_rows(self, df: DataFrame) -> DataFrame:
        """Collapse a weighted frame to net multiplicities, dropping
        rows whose inserts and retractions cancel; weighted sums over
        the result equal weighted sums over the input exactly."""
        w = self.weight_col
        keys = [c for c in df.columns if c != w]
        return (
            df.groupBy(*keys)
            .agg(F.sum(w).cast("int").alias(w))
            .filter(F.col(w) != 0)
        )

    def compact(self, spark: SparkSession) -> dict[str, int]:
        """Rewrite history so reads stay O(live rows), not O(history):
        for each state dir (view + both accumulators), net ALL
        committed partitions EXCEPT the newest ``batch=<id>`` one into
        one ``batch=compact-<n>`` partition and drop the originals — once
        the retraction ratio grows, cancelled ±1 pairs stop being
        re-scanned and re-summed by every ``read_view_net`` and every
        delta-vs-accumulated join (VERDICT r4 #4; the retraction
        analogue of log-structured compaction).

        Crash safety: the compacted partition is committed by
        ``fsutil.publish`` superseding the partitions it nets, and
        every read heals first, so no interleaving double-counts.

        The newest batch partition is never compacted, also by a second
        compaction right after the first: its ``batch=<id>`` marker is
        what makes a Structured-Streaming replay of the in-flight epoch
        a no-op.  Change-feed consumers
        (``read_changes``) must be drained first — compaction rewrites
        the feed's history into one synthetic ``compact-<n>`` batch.
        """
        stats = {}
        for name, d in (
            ("view", self.view_dir),
            ("left", self.left_dir),
            ("right", self.right_dir),
        ):
            fs = fs_for(d, spark)
            parts = _partitions(spark, d)
            # newest by mtime: ids are opaque strings
            fresh = [e for e in parts if not e.startswith(_COMPACT)]
            newest = max(
                fresh, key=lambda e: fs.getmtime(join_path(d, e)), default=None
            )
            victims = [e for e in parts if e != newest]
            if len(victims) < 2 and all(v.startswith(_COMPACT) for v in victims):
                stats[name] = 0  # nothing to compact
                continue
            cid = f"compact-{max(versions(d, _COMPACT, spark), default=0) + 1}"
            netted = self._net_rows(
                spark.read.parquet(*[join_path(d, e) for e in victims])
            )
            publish(
                d,
                "batch=",
                cid,
                netted.write.mode("overwrite").parquet,
                replaces=victims,
                spark=spark,
            )
            stats[name] = len(victims)
        return stats


def read_changes(view: IncrementalJoinView, spark: SparkSession) -> DataFrame:
    """The view's change feed: every committed view delta WITH its
    ``batch`` id — downstream consumers (a second incremental view, a
    reverse-ETL sink) subscribe to exactly what each batch changed
    instead of diffing snapshots.  For the weighted view the rows
    carry their ±weights, i.e. a full CDC stream OUT of the
    maintained join.  Batch ids are opaque strings; consumers track
    the set they have seen (ids are only ordered if the caller makes
    them so, e.g. zero-padded epochs)."""
    d = view.view_dir
    if not _partitions(spark, d):
        raise FileNotFoundError(f"no view state at {d}")
    return spark.read.parquet(d).withColumn(
        "batch", F.col("batch").cast("string")
    )
