"""Staged-commit protocol: the optional exactly-once upgrade over the
reference's at-least-once delivery (SURVEY.md §4 "Write atomicity",
§7 "optional staging-commit upgrade flag kept OFF for parity").

The reference appends per-table data as it goes and commits every
bookmark once at job end (``jdbc_incremental.py:222-229, 639``), so a
mid-run failure replays all tables and duplicates whatever already
landed.  This module closes that window with a miniature transaction
log — the same atomic-metadata-swap idea as Iceberg/Delta commits,
reduced to one manifest file:

1.  Every table's batch is written to a PRIVATE staging directory
    (``<target>/_staging/<run_id>/<table>``) — invisible to readers
    (Spark ignores ``_``/``.``-prefixed paths during discovery).
2.  After ALL tables stage successfully, a manifest listing every
    (staged-file → final-file) move AND the new bookmark watermarks is
    written to ``<target>/_txn/`` as one JSON document — its
    ``replace`` IS the commit point.
3.  The moves are executed (one rename per file — idempotent: a file
    is either still in staging or already at its destination), the
    bookmarks from the manifest are committed, and the manifest +
    staging are deleted.

Crash anywhere before step 2: no manifest, no visible data, no
watermark — the rerun re-stages from scratch; leftover staging is
garbage-collected.  Crash during/after step 2: :func:`recover_pending`
(called at the start of the next run) finishes the moves and the
bookmark commit from the manifest — the run's effects happen exactly
once.

Scale note: the commit point is one filesystem rename regardless of
data volume; publish is O(#files) metadata moves, no data copy.  On
S3A the manifest's ``replace`` is a copy, and the idempotent
:func:`recover_pending` replay is what absorbs the non-atomic window
(production-grade object-store commits would use a conditional PUT of
the manifest key).
"""

from __future__ import annotations

import json
from typing import Any

from .bookmarks import BookmarkStore, _decode, _encode
from .fsutil import fs_for, join_path, write_json

_SPARK_SIDECARS = ("_SUCCESS", "_committed", "_started", ".crc")


def _is_data_file(name: str) -> bool:
    return not name.startswith((".", "_")) and not name.endswith(".crc")


def _dirname(p: str) -> str:
    """Parent path for both plain paths and scheme'd URIs (pure '/'
    string split — the layouts only nest simple names)."""
    return p.rstrip("/").rsplit("/", 1)[0]


def _basename(p: str) -> str:
    return p.rstrip("/").rsplit("/", 1)[-1]


class StagedCommit:
    """One run's staging state: register per-table staged writes, then
    :meth:`commit` them all behind a single manifest rename."""

    def __init__(self, target_location: str, run_id: str) -> None:
        self.target_location = target_location.rstrip("/")
        self.run_id = run_id
        self._tables: list[dict[str, str]] = []

    # -- staging -----------------------------------------------------------

    def staging_path(self, table_name: str) -> str:
        return f"{self.target_location}/_staging/{self.run_id}/{table_name}"

    def register(self, table_name: str, final_path: str) -> None:
        """Record that ``table_name``'s batch is fully staged and must
        be published into ``final_path`` at commit."""
        self._tables.append(
            {"table": table_name, "staging": self.staging_path(table_name),
             "final": final_path.rstrip("/")}
        )

    def _collect_moves(self, fs) -> list[tuple[str, str]]:
        moves: list[tuple[str, str]] = []
        for t in self._tables:
            staging, final = t["staging"], t["final"]
            # walk_files yields paths RELATIVE to staging (the fsutil
            # contract) — src/dst are rebuilt in the caller's own path
            # space, immune to backend URI normalization (the
            # file:///x → file:/x slice bug)
            for rel in fs.walk_files(staging):
                name = _basename(rel)
                if not _is_data_file(name):
                    continue
                moves.append((join_path(staging, rel), join_path(final, rel)))
        return moves

    # -- commit ------------------------------------------------------------

    def commit(self, bookmarks: BookmarkStore) -> None:
        """Publish every staged table and the staged watermarks.

        The manifest rename is the all-or-nothing point; everything
        after it is idempotent and replayable by recover_pending().
        A run that staged no table and no watermark writes no manifest:
        listing signatures alone commit straight to the bookmark store
        (losing one costs the next poll a scan, never a row), and with
        nothing staged nothing is written.
        """
        if not self._tables and not bookmarks.has_staged_watermark():
            bookmarks.commit()
            return
        fs = fs_for(self.target_location)
        moves = self._collect_moves(fs)
        manifest = {
            "run_id": self.run_id,
            "seq": _next_seq(self.target_location),
            "tables": {t["table"]: t["final"] for t in self._tables},
            "moves": moves,
            "staging_root": f"{self.target_location}/_staging/{self.run_id}",
            "bookmarks": {
                ctx: {k: _encode(v) for k, v in wm.items()}
                for ctx, wm in bookmarks.staged_snapshot().items()
            },
        }
        dst = f"{self.target_location}/_txn/manifest-{self.run_id}.json"
        write_json(dst, manifest)  # COMMIT POINT
        _apply_manifest(fs, dst, manifest, bookmarks)


def _apply_manifest(
    fs, manifest_path: str, manifest: dict[str, Any], bookmarks: BookmarkStore
) -> None:
    """Replay a committed manifest: finish the moves (idempotent),
    commit its bookmarks, clean up.  Safe to call any number of times."""
    for src, dst in manifest["moves"]:
        if fs.exists(dst):
            continue  # already published by an earlier attempt
        if not fs.exists(src):
            raise RuntimeError(
                f"staged file lost before publish: {src} (manifest "
                f"{manifest_path}) — staging must not be cleaned manually"
            )
        fs.mkdirs(_dirname(dst))
        try:
            fs.rename(src, dst)
        except (FileNotFoundError, OSError):
            # a concurrent recovery moved it between our checks — fine
            # as long as the destination materialized
            if not fs.exists(dst):
                raise
    for ctx, wm in manifest["bookmarks"].items():
        bookmarks.stage_raw(ctx, {k: _decode(v) for k, v in wm.items()})
    bookmarks.commit()
    fs.delete(manifest["staging_root"])
    parent = _dirname(manifest["staging_root"].rstrip("/"))
    fs.rmdir_if_empty(parent)  # drop the now-empty _staging root
    # retain the manifest as this run's immutable publish record —
    # the table's transaction history (see published_history /
    # read_table_asof); _txn/ itself keeps only pending manifests
    applied_dir = join_path(_dirname(manifest_path), "applied")
    applied_dst = join_path(applied_dir, _basename(manifest_path))
    if not fs.exists(manifest_path):
        return  # concurrent recovery already archived it
    fs.mkdirs(applied_dir)
    try:
        fs.replace(manifest_path, applied_dst)
    except OSError:
        # concurrent recovery archived it between our checks — fine as
        # long as it landed (HadoopFS.rename raises plain OSError, not
        # FileNotFoundError, when the source vanished — mirror the
        # move loop's tolerance)
        if not fs.exists(applied_dst):
            raise


def _manifests(fs, d: str) -> list[tuple[str, dict[str, Any]]]:
    """``(path, manifest)`` of every committed ``manifest-*.json`` in
    ``d`` (a ``.tmp`` sibling was never committed); ``[]`` when ``d``
    is missing."""
    if not fs.isdir(d):
        return []
    paths = [
        join_path(d, name)
        for name in fs.listdir(d)
        if name.startswith("manifest-") and name.endswith(".json")
    ]
    return [(p, json.loads(fs.read_text(p))) for p in paths]


def _applied_manifests(target_location: str) -> list[dict[str, Any]]:
    loc = target_location.rstrip("/")
    out = [m for _p, m in _manifests(fs_for(loc), f"{loc}/_txn/applied")]
    # run_id tiebreak: two runs that raced _next_seq and stamped the
    # same number still get a deterministic history order
    out.sort(key=lambda m: (m.get("seq", 0), m.get("run_id", "")))
    return out


def _next_seq(target_location: str) -> int:
    loc = target_location.rstrip("/")
    seqs = [m.get("seq", 0) for m in _applied_manifests(loc)]
    # committed-but-unpublished runs count too
    seqs += [m.get("seq", 0) for _p, m in _manifests(fs_for(loc), f"{loc}/_txn")]
    return max(seqs, default=0) + 1


def published_history(target_location: str) -> list[dict[str, Any]]:
    """The table group's commit log, oldest first: one entry per
    published run — ``{"seq", "run_id", "tables": {name: n_files}}``.

    This is what the retained manifests buy: an audit trail of exactly
    which files each run added (the reference's lineage properties
    record only the LAST job; this records all of them)."""
    hist = []
    for m in _applied_manifests(target_location):
        counts: dict[str, int] = {}
        for _src, dst in m.get("moves", []):
            for table, final in m.get("tables", {}).items():
                root = final.rstrip("/")
                if dst.startswith(root + "/") or _dirname(dst) == root:
                    counts[table] = counts.get(table, 0) + 1
                    break
        hist.append(
            {"run_id": m["run_id"], "seq": m.get("seq", 0), "tables": counts}
        )
    return hist


def read_table_asof(
    spark,
    target_location: str,
    table_name: str,
    seq: int,
    fmt: str = "parquet",
):
    """Snapshot read: the table as it stood after commit ``seq`` —
    exactly the files published by runs with seq ≤ ``seq`` (Iceberg
    "time travel" reduced to the retained manifests).  The file list
    is metadata-only; the scan itself is a normal distributed read
    with partition columns recovered via ``basePath``."""
    files: list[str] = []
    final = None
    for m in _applied_manifests(target_location):
        if (
            m.get("base")
            and m.get("seq", 0) > seq
            and table_name in m.get("tables", {})
        ):
            # history below the rollup horizon was compacted away —
            # a partial reconstruction would be silently wrong
            raise ValueError(
                f"history before seq {m['seq']} was compacted by "
                f"expire_history; snapshot reads of {table_name!r} at "
                f"seq {seq} are no longer available"
            )
        if m.get("seq", 0) > seq:
            continue
        t_final = m.get("tables", {}).get(table_name)
        if t_final is None:
            continue
        final = t_final
        root = t_final.rstrip("/")
        files += [
            dst
            for _src, dst in m.get("moves", [])
            if dst.startswith(root + "/") or _dirname(dst) == root
        ]
    if final is None:
        raise ValueError(
            f"no published run ≤ seq {seq} covers table {table_name!r}"
        )
    return spark.read.format(fmt).option("basePath", final).load(files)


def recover_pending(target_location: str, bookmarks: BookmarkStore) -> list[str]:
    """Complete any committed-but-unpublished run, then garbage-collect
    staging left by runs that died BEFORE their commit point.

    Returns the run_ids that were recovered (published).
    """
    loc = target_location.rstrip("/")
    fs = fs_for(loc)
    txn_dir, staging_dir = f"{loc}/_txn", f"{loc}/_staging"
    recovered: list[str] = []
    for path, manifest in _manifests(fs, txn_dir):
        _apply_manifest(fs, path, manifest, bookmarks)
        recovered.append(manifest["run_id"])
    if fs.isdir(txn_dir):
        for name in fs.listdir(txn_dir):
            if name.endswith(".tmp"):
                fs.delete(join_path(txn_dir, name))
    if fs.isdir(staging_dir):
        # anything still here has no manifest → the run never committed
        fs.delete(staging_dir)
    return recovered


def expire_history(
    target_location: str, keep_last: int = 100
) -> list[str]:
    """History retention by ROLLUP: compact every applied manifest
    older than the newest ``keep_last`` into one synthetic BASE
    manifest carrying the union of their published files.

    The applied manifests are per-run DELTAS — the audit trail behind
    :func:`published_history` and the snapshot index behind
    :func:`read_table_asof` — so deleting old ones outright would
    silently truncate EVERY later snapshot (a seq-S read accumulates
    files from all manifests ≤ S).  Rollup keeps snapshots complete:
    ``read_table_asof`` stays exact for any seq ≥ the base's seq and
    RAISES for seqs strictly below it (that history is gone — the
    Iceberg ``expire_snapshots`` contract), while per-run lineage for
    the compacted runs collapses into one ``base-…`` history entry.

    Idempotent under rerun (moves dedupe by destination, so a crash
    between base-write and old-manifest deletion re-converges on the
    next call); same single-writer contract as commit/recovery.
    Returns the compacted run_ids (oldest first)."""
    if keep_last < 0:
        raise ValueError("keep_last must be >= 0")
    loc = target_location.rstrip("/")
    fs = fs_for(loc)
    applied = f"{loc}/_txn/applied"
    if not fs.isdir(applied):
        return []
    manifests = _applied_manifests(loc)  # oldest first
    to_drop = manifests[: max(0, len(manifests) - keep_last)]
    if not to_drop:
        return []
    tables: dict[str, str] = {}
    moves: dict[str, list[str]] = {}  # dst -> [src, dst]; dedupe by dst
    expired: list[str] = []
    for m in to_drop:
        tables.update(m.get("tables", {}))
        for src_p, dst in m.get("moves", []):
            moves[dst] = [src_p, dst]
        expired += m.get("expired_run_ids", []) or [m["run_id"]]
    base_seq = max(m.get("seq", 0) for m in to_drop)
    base = {
        "run_id": f"base-{base_seq:012d}",
        "seq": base_seq,
        "base": True,
        "expired_run_ids": expired,
        "tables": tables,
        "moves": sorted(moves.values()),
        "staging_root": "",
        "bookmarks": {},
    }
    write_json(join_path(applied, f"manifest-{base['run_id']}.json"), base)
    for m in to_drop:
        if m["run_id"] != base["run_id"]:
            fs.delete(join_path(applied, f"manifest-{m['run_id']}.json"))
    return [r for r in expired]
