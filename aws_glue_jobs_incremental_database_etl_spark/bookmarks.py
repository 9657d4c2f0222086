"""Job-bookmark (incremental watermark) state store.

Reproduces AWS Glue job-bookmark semantics as used by the reference
(``jdbc_incremental.py:175-179, 305-306, 639``):

- per ``(job_name, transformation_ctx)`` high-watermark over one or
  more ``bookmark_keys``;
- each run reads only rows *strictly beyond* the committed watermark
  (per-key conjunction: ``k1 > w1 AND k2 > w2`` for ASC, ``<`` for
  DESC — Glue's documented composite-key behavior);
- the first run (no committed state) reads everything;
- ALL tables' watermarks commit once, together, at job end
  (``job.commit()``, ``jdbc_incremental.py:639``) → a mid-run failure
  re-reads every table next run and already-written output stays:
  **at-least-once** delivery, faithfully reproduced (SURVEY.md E7).

Scale notes: the state file is O(#tables × #keys) — tiny — and the
watermark filter is a plain Catalyst predicate, so it is *pushed down*
to the source (JDBC ``WHERE`` clause / Parquet row-group min-max
skipping).  Computing the next watermark is a single global min/max
aggregate (map-side partial + 1-row final), not a sort.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import os
import tempfile
from collections.abc import Sequence
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# -- watermark value (de)serialization ------------------------------------
# JSON can't hold timestamps/dates/decimals natively; tag them.


def _encode(v: Any) -> Any:
    if isinstance(v, dt.datetime):
        return {"__ts__": v.isoformat()}
    if isinstance(v, dt.date):
        return {"__date__": v.isoformat()}
    if isinstance(v, decimal.Decimal):
        # Untagged, json.dump's default=str would reload this as a
        # plain string and the next run's predicate would compare a
        # decimal column to a string literal.
        return {"__dec__": str(v)}
    return v


def _decode(v: Any) -> Any:
    if isinstance(v, dict):
        if "__ts__" in v:
            return dt.datetime.fromisoformat(v["__ts__"])
        if "__date__" in v:
            return dt.date.fromisoformat(v["__date__"])
        if "__dec__" in v:
            return decimal.Decimal(v["__dec__"])
    return v


# -- watermark advance rule -----------------------------------------------


def watermark_aggregates(bookmark_keys: list[str], sort_order: str = "ASC") -> list[Column]:
    """Per-key max (ASC) / min (DESC): the aggregates, in key order,
    whose values :func:`watermark_from` turns into the next watermark."""
    agg_fn = F.min if sort_order.upper() == "DESC" else F.max
    return [agg_fn(k).alias(k) for k in bookmark_keys]


def watermark_from(values: Sequence[Any], bookmark_keys: list[str]) -> dict[str, Any] | None:
    """Aggregate values (in key order) → watermark: null keys are left
    out (their committed value stands), ``None`` if every key is null
    (an all-null batch does not move the bookmark)."""
    wm = {k: v for k, v in zip(bookmark_keys, values) if v is not None}
    return wm or None


class BookmarkStore:
    """File-backed watermark store keyed by ``(job_name, ctx)``.

    ``commit()`` is atomic (write-temp + ``os.replace``), mirroring the
    single end-of-job ``job.commit()`` in the reference: stage updates
    with :meth:`stage`, persist them all with :meth:`commit`.
    """

    def __init__(self, path: str, job_name: str = "job") -> None:
        self.path = path
        self.job_name = job_name
        self._state: dict[str, dict[str, Any]] = {}
        self._staged: dict[str, dict[str, Any]] = {}
        if os.path.exists(path):
            with open(path) as f:
                raw = json.load(f)
            self._state = {
                ctx: {k: _decode(v) for k, v in wm.items()} for ctx, wm in raw.items()
            }

    def _key(self, ctx: str) -> str:
        return f"{self.job_name}::{ctx}"

    def get(self, ctx: str) -> dict[str, Any] | None:
        """Committed watermark for this transformation context, if any."""
        return self._state.get(self._key(ctx))

    # -- filter construction ---------------------------------------------

    def watermark_predicate(
        self, ctx: str, bookmark_keys: list[str], sort_order: str = "ASC"
    ) -> Column | None:
        """Strictly-greater (ASC) / strictly-less (DESC) conjunction.

        Returns None on the first run (read everything), matching Glue
        bookmark behavior on an uninitialized bookmark.
        """
        wm = self.get(ctx)
        if not wm:
            return None
        if sort_order.upper() == "DESC":
            preds = [F.col(k) < F.lit(wm[k]) for k in bookmark_keys if k in wm]
        else:
            preds = [F.col(k) > F.lit(wm[k]) for k in bookmark_keys if k in wm]
        if not preds:
            return None
        return reduce(lambda a, b: a & b, preds)

    def filter_new(
        self, df: DataFrame, ctx: str, bookmark_keys: list[str], sort_order: str = "ASC"
    ) -> DataFrame:
        """Apply the incremental watermark filter (pushed down by Catalyst)."""
        pred = self.watermark_predicate(ctx, bookmark_keys, sort_order)
        return df if pred is None else df.filter(pred)

    # -- watermark advance ------------------------------------------------

    def compute_next(
        self, df: DataFrame, bookmark_keys: list[str], sort_order: str = "ASC"
    ) -> dict[str, Any] | None:
        """New watermark over the batch (:func:`watermark_aggregates`,
        :func:`watermark_from`).

        One global aggregate; partial aggregation keeps it a single
        1-row shuffle regardless of input size.  The pipeline folds the
        same aggregates into its one pass over the batch instead.
        """
        row = df.agg(*watermark_aggregates(bookmark_keys, sort_order)).first()
        return None if row is None else watermark_from(row, bookmark_keys)

    def stage(self, ctx: str, watermark: dict[str, Any] | None) -> None:
        """Record a table's new watermark in memory; persisted by commit()."""
        if watermark:
            merged = dict(self._state.get(self._key(ctx)) or {})
            merged.update(watermark)
            self._staged[self._key(ctx)] = merged

    def staged_snapshot(self) -> dict[str, dict[str, Any]]:
        """Staged-but-uncommitted watermarks, keyed by FULL context key
        (``job::ctx``) — consumed by the staged-commit manifest
        (txn.py) so recovery can replay the commit."""
        return {ctx: dict(wm) for ctx, wm in self._staged.items()}

    def stage_raw(self, full_key: str, watermark: dict[str, Any]) -> None:
        """Stage by full context key (manifest replay path — the key
        was produced by :meth:`_key` in the original run)."""
        if watermark:
            merged = dict(self._state.get(full_key) or {})
            merged.update(watermark)
            self._staged[full_key] = merged

    def commit(self) -> None:
        """Atomically persist ALL staged watermarks (the one job.commit()).

        Re-reads and merges the on-disk state first so two job shards
        (``job_index``/``num_jobs`` > 1) sharing one bookmark path
        don't clobber each other's contexts: this instance only owns
        the contexts it staged; everything else on disk is preserved.
        Staged entries win over disk for the contexts they cover.

        The read-merge-write runs under an exclusive ``flock`` on a
        sidecar lockfile, closing the window where two shards
        committing simultaneously each read the pre-both state (the
        merge alone cannot fix a concurrent interleave).  On
        filesystems without advisory locks (or non-POSIX hosts) the
        lock degrades to merge-only — same guarantee as before, and
        object-store deployments should give each shard its own
        bookmark path anyway.
        """
        lock_fh = None
        try:
            import fcntl

            os.makedirs(os.path.dirname(os.path.abspath(self.path)), exist_ok=True)
            lock_fh = open(self.path + ".lock", "w")
            fcntl.flock(lock_fh, fcntl.LOCK_EX)
        except Exception:
            if lock_fh is not None:
                lock_fh.close()
                lock_fh = None
        try:
            self._commit_locked()
        finally:
            if lock_fh is not None:
                try:
                    import fcntl

                    fcntl.flock(lock_fh, fcntl.LOCK_UN)
                finally:
                    lock_fh.close()

    def _commit_locked(self) -> None:
        if os.path.exists(self.path):
            try:
                with open(self.path) as f:
                    on_disk = json.load(f)
                for ctx, wm in on_disk.items():
                    if ctx not in self._staged:
                        self._state[ctx] = {k: _decode(v) for k, v in wm.items()}
            except (json.JSONDecodeError, OSError):
                pass  # unreadable state → keep our in-memory view
        self._state.update(self._staged)
        self._staged.clear()
        payload = {
            ctx: {k: _encode(v) for k, v in wm.items()}
            for ctx, wm in self._state.items()
        }
        d = os.path.dirname(os.path.abspath(self.path))
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".bookmark.tmp")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(payload, f, indent=2, default=str)
            os.replace(tmp, self.path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
