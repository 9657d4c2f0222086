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

Unchanged-listing signature: beside each file source's watermark the
store keeps, under its own context key (``<ctx>::listing``), a hash of
the table's whole config, the source format, options and path, each
file's ``(relative path, bytes, mtime)`` from ``fsutil`` ``listing``,
and the watermark the context holds after the commit.  It rests on one
contract, the one Glue's S3 bookmarks and Spark's file stream source
also rely on: a file is complete and immutable once it is listed (a
rewrite in place changes its size or mtime, a Spark overwrite its
name).  The proof that a poll whose signature matches is empty: a
committed run scanned listing L with predicate ``k > w`` and committed
``w' >= w``, the per-key max of that batch; so every row of L has
``k <= w'`` or a null key, and the next filtered scan of an unchanged
L is empty (likewise ``<`` for DESC; for composite keys every row
fails the conjunction on at least one key of ``w'``).  A signature is
therefore staged only when that batch was empty or ``w'`` holds at
least one key: a first run whose keys are all null leaves the next
run's scan unfiltered.  JDBC sources, globs and missing paths have no
signature and always scan.  A source overwritten in place on a store
with coarse mtimes is outside the contract: S3A's Last-Modified has
one-second resolution, as do some NFS and HDFS setups, so a same-size
rewrite within the second of the listing leaves the signature
unchanged, and its new keys wait until some other file of the source
changes.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
from collections.abc import Sequence
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .fsutil import locked, read_json, write_json

# context-key suffix of a source-listing signature (module docstring)
_LISTING = "::listing"

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

    :meth:`commit` mirrors the single end-of-job ``job.commit()`` in the
    reference: stage updates with :meth:`stage`, persist them all with
    :meth:`commit`.
    """

    def __init__(self, path: str, job_name: str = "job") -> None:
        self.path = path
        self.job_name = job_name
        self._state: dict[str, dict[str, Any]] = {
            ctx: {k: _decode(v) for k, v in wm.items()}
            for ctx, wm in read_json(path, {}).items()
        }
        self._staged: dict[str, dict[str, Any]] = {}

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

    # -- unchanged-listing signature (module docstring) -------------------

    def _signature(self, source: Any, watermark: dict[str, Any] | None) -> dict[str, str]:
        blob = json.dumps(
            [source, {k: _encode(v) for k, v in (watermark or {}).items()}],
            sort_keys=True,
            default=str,
        )
        return {"sha256": hashlib.sha256(blob.encode()).hexdigest()}

    def listing_unchanged(self, ctx: str, source: Any) -> bool:
        """True when ``source`` (the pipeline's description of a file
        source and its listing) matches the signature committed for
        ``ctx`` together with ``ctx``'s committed watermark."""
        committed = self.get(ctx + _LISTING)
        return committed is not None and committed == self._signature(
            source, self.get(ctx)
        )

    def stage_listing(self, ctx: str, source: Any) -> None:
        """Stage ``source``'s signature, bound to the watermark ``ctx``
        holds after commit (staged, else committed); committed with the
        watermarks by :meth:`commit` or the txn manifest."""
        wm = self._staged.get(self._key(ctx), self.get(ctx))
        self.stage(ctx + _LISTING, self._signature(source, wm))

    def has_staged_watermark(self) -> bool:
        """Whether anything besides listing signatures is staged."""
        return any(not k.endswith(_LISTING) for k in self._staged)

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
        """Persist ALL staged watermarks (the one job.commit()) as one
        locked read-modify-write of the bookmark document.

        The on-disk state is re-read and merged under the lock so two
        job shards (``job_index``/``num_jobs`` > 1) sharing one
        bookmark path don't clobber each other's contexts: this
        instance only owns the contexts it staged; everything else on
        disk is preserved.  Staged entries win over disk for the
        contexts they cover.  Where the lock degrades to none (see
        ``fsutil.locked``), give each shard its own bookmark path.
        Nothing staged → the document is not rewritten.
        """
        if not self._staged:
            return
        with locked(self.path):
            try:
                on_disk = read_json(self.path, {})
            except (ValueError, OSError):
                on_disk = {}  # unreadable state → keep our in-memory view
            for ctx, wm in on_disk.items():
                if ctx not in self._staged:
                    self._state[ctx] = {k: _decode(v) for k, v in wm.items()}
            self._state.update(self._staged)
            self._staged.clear()
            write_json(
                self.path,
                {
                    ctx: {k: _encode(v) for k, v in wm.items()}
                    for ctx, wm in self._state.items()
                },
            )
