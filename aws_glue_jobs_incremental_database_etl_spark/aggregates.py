"""Incremental aggregate maintenance: keep a summary table current
per batch without re-scanning the fact table.

The incremental pipeline delivers bookmark-delimited batches; the
standard companion is a summary/rollup table (revenue per customer,
events per user-day, ...) that analysts hit instead of the 100 TB
fact table.  Recomputing it per run costs a full fact scan;
maintaining it incrementally costs one aggregation of the BATCH plus
one combine against the (comparatively tiny) summary — the
materialized-view delta-maintenance idea reduced to mergeable
aggregates.

Only decomposable aggregates participate (sum/count/min/max — a
batch's partial combines with the running value associatively).
AVG is derived: maintain sum+count, divide at read time.  COUNT
DISTINCT is non-mergeable exactly, so the ``approx_distinct`` kind
stores its mergeable form instead: a Datasketches HLL sketch
(``hll_sketch_agg``), unioned per batch and estimated at read time —
exact for small cardinalities, ~2% error at any scale, constant
state.  Exact distinct and percentiles need their full input and
don't belong in an incrementally-maintained summary.

Replay safety (combining is NOT idempotent, unlike merge_upsert):
pass ``batch_id`` (the Structured Streaming epoch id — what
``run_aggregate_maintenance`` does) so a replayed epoch is skipped by
the versioned fold (``fsutil.fold``) over ``state-<n>`` directories.
Without a batch_id (ad-hoc batch folds), run from exactly-once inputs
(txn.py staging) or dedup upstream.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fsutil import fold, latest

_MERGEABLE = ("sum", "count", "min", "max", "approx_distinct")


class IncrementalAggregate:
    """A summary table at ``path``: ``keys`` → mergeable aggregates.

    ``agg_spec`` maps source column → aggregate kind, e.g.
    ``{"o_totalprice": "sum", "o_orderkey": "count"}``; stored columns
    are named ``{col}_{kind}``.
    """

    def __init__(
        self,
        path: str,
        keys: Sequence[str],
        agg_spec: Mapping[str, str],
    ) -> None:
        for col, kind in agg_spec.items():
            if kind not in _MERGEABLE:
                raise ValueError(
                    f"aggregate {kind!r} on {col!r} is not mergeable; "
                    f"supported: {_MERGEABLE} (derive AVG as sum/count)"
                )
        self.path = path.rstrip("/")
        self.keys = list(keys)
        self.agg_spec = dict(agg_spec)

    # -- helpers -----------------------------------------------------------

    def _out_name(self, col: str, kind: str) -> str:
        return f"{col}_{kind}"

    def _partial(self, batch: DataFrame) -> DataFrame:
        aggs = []
        for col, kind in self.agg_spec.items():
            if kind == "approx_distinct":
                # an HLL sketch IS the mergeable form of COUNT DISTINCT
                # (exact distinct is the canonical non-mergeable
                # aggregate); stored as the Datasketches binary
                agg = F.hll_sketch_agg(F.col(col))
            else:
                fn = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}[kind]
                agg = fn(F.col(col))
            aggs.append(agg.alias(self._out_name(col, kind)))
        return batch.groupBy(*self.keys).agg(*aggs)

    def _combine(self, current: DataFrame, partial: DataFrame) -> DataFrame:
        merged_cols = []
        for col, kind in self.agg_spec.items():
            n = self._out_name(col, kind)
            a, b = F.col(f"cur.{n}"), F.col(f"new.{n}")
            if kind in ("sum", "count"):
                expr = F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))
            elif kind == "min":
                expr = F.least(F.coalesce(a, b), F.coalesce(b, a))
            elif kind == "max":
                expr = F.greatest(F.coalesce(a, b), F.coalesce(b, a))
            else:  # approx_distinct: sketch union (hll_union rejects null)
                expr = (
                    F.when(a.isNull(), b)
                    .when(b.isNull(), a)
                    .otherwise(F.hll_union(a, b))
                )
            merged_cols.append(expr.alias(n))
        return current.alias("cur").join(
            partial.alias("new"), on=self.keys, how="full_outer"
        ).select(*self.keys, *merged_cols)

    # -- the operation -----------------------------------------------------

    def _current_dir(self) -> str:
        cur = latest(self.path, "state-")
        if cur is None:
            raise FileNotFoundError(f"no committed summary under {self.path}")
        return cur

    def apply_batch(
        self, batch: DataFrame, batch_id: int | None = None
    ) -> dict[str, int]:
        """Fold one batch into the summary.  Cost: one aggregation of
        the batch (map-side partial → tiny shuffle) + one key-outer
        join against the summary, then one atomic rename.  The fact
        table is never re-read.

        With ``batch_id`` (a monotone int — the streaming epoch id),
        the id doubles as the state version, so a replayed id is
        skipped (``"replayed": 1``): exactly-once under the Structured
        Streaming replay contract (a replayed id carries identical
        data).

        At very large summary cardinalities, partition the summary by
        a key-hash bucket column and prune the combine to the buckets
        the batch touches — same pattern as ``merge.merge_upsert``;
        this implementation rewrites the summary wholesale because a
        summary is orders of magnitude smaller than its fact table.
        """
        spark = batch.sparkSession
        existed = latest(self.path, "state-", spark) is not None
        cur = fold(
            self.path,
            "state-",
            batch_id,
            lambda: self._partial(batch),
            self._combine,
            spark,
        )
        out = {
            "keys_total": spark.read.parquet(cur or self._current_dir()).count(),
            "existed": 1 if existed else 0,
        }
        if cur is None:
            out["replayed"] = 1
        return out

    def read(self, spark: SparkSession, estimate_sketches: bool = True) -> DataFrame:
        """The current summary.  ``estimate_sketches`` surfaces each
        HLL column as its cardinality estimate (bigint); pass False to
        get the raw binary sketches (e.g. to union further downstream)."""
        df = spark.read.parquet(self._current_dir())
        if estimate_sketches:
            for col, kind in self.agg_spec.items():
                if kind == "approx_distinct":
                    n = self._out_name(col, kind)
                    df = df.withColumn(n, F.hll_sketch_estimate(F.col(n)))
        return df
