"""Filesystem abstraction and the one state layer for the metadata
plumbing and every piece of incremental state (the catalog, bookmarks
and staged-commit log documents, dedup-index compaction, streaming
sinks and sketch folds, the incremental aggregate, top-k and join
view): plain
local paths use the ``os``/``shutil`` fast path, any ``scheme://`` path
resolves through the Hadoop FileSystem API — so ``file://`` (the
hermetic object-store stand-in in tests), ``hdfs://`` and ``s3a://``
(given the connector jars on the Spark classpath) all work with the
same contracts.  An unsupported scheme fails loudly at
``getFileSystem``, never silently reads an empty directory.

The commit protocol (:func:`publish`), stated once:

- **staging name** — an entry ``<root>/<prefix><id>`` is written into
  ``<root>/.staging-<id>`` (dot-prefixed, so the parquet reader and
  every listing skip it); debris of a crashed earlier attempt is
  cleared first;
- **commit point** — ONE rename of the staging dir to its final name;
  before it readers see the previous state, after it the new one, so a
  crash at any point leaves a complete committed state readable, and
  an id whose final entry exists is a replay and is skipped;
- **GC after commit** — entries the new one supersedes are named in
  its ``_REPLACES`` manifest (an underscore file, invisible to the
  parquet reader) and deleted strictly after the rename;
- **heal before read** — a crash between the rename and the GC leaves
  both generations on disk; readers of state that unions entries call
  :func:`heal` first, which finishes the GC from the manifest.
  Versioned state (:func:`versions`) reads only the newest entry and
  needs no heal: the next publish supersedes every older one.

A versioned fold (:func:`fold`) is the protocol applied to state
that is one ``<prefix><n>`` entry at a time: a batch id at or below the
newest committed version is a replay and is skipped before any work;
otherwise the batch's delta is merged with the newest version (when
there is one) and published as ``<prefix><batch_id>``, superseding
every older version.  A missing batch id means newest + 1.

Small state documents (catalog databases, bookmarks, txn manifests,
index metadata) are JSON files replaced whole: :func:`write_json`
writes a unique ``<path>.<rand>.tmp`` sibling and ONE ``replace`` of
it is the commit point, so readers (:func:`read_json`) see the old or
the new document, never a torn one.  A read-modify-write shared by
several writers runs inside :func:`locked`, an exclusive ``flock`` on
``<path>.lock``; it degrades to no lock where ``flock`` is unavailable
or the path has a scheme (object-store deployments give each writer
its own document).  The lock is per open file, so a body that enters
it again in the same process blocks forever: no ``locked`` body calls
code that locks.

A source listing (``listing`` on both backends) is every file Spark's
file sources would read under a root, as ``(relative path, bytes,
mtime)``: what the pipeline hashes to end a poll of an unchanged
source before Spark.

Whole-tree swaps (:func:`swap_tree`) rename the live tree to a trash
name, the staged tree to the live name, roll back if that fails, and
delete the trash last; ``maintenance.vacuum_temp_trees`` reclaims what
a crash leaks.

Note on atomicity: ``rename`` is every caller's commit point — atomic
on POSIX and HDFS, a copy on S3A; the replay skip and :func:`heal` are
what absorb the non-atomic window on object stores.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame


def join_path(base: str, *parts: str) -> str:
    """Path join valid for both plain local paths and scheme'd URIs:
    the layouts under management only ever nest simple entry names,
    so '/'-joining is exact."""
    out = base.rstrip("/")
    for p in parts:
        out += "/" + p
    return out


def dir_bytes(path: str) -> int:
    """Total size of the data files under the local directory ``path``,
    at any depth (a directory-style ``name.parquet/part-*`` table counts
    its part files); ``.``/``_`` files (checksums, ``_SUCCESS``) are
    skipped.  0 for a missing directory."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def _unread(name: str) -> bool:
    """Spark's file-index rule for an entry its file sources never read:
    a ``.`` name, an ``_`` name that is not a ``k=v`` partition
    directory or a parquet summary file, and an in-flight
    ``._COPYING_`` copy."""
    if name.startswith(("_metadata", "_common_metadata")):
        return False
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


class LocalFS:
    """``os``/``shutil``-backed filesystem for scheme-less local
    paths — no JVM round-trips on the (default) local fast path."""

    def exists(self, p: str) -> bool:
        return os.path.exists(p)

    def isdir(self, p: str) -> bool:
        return os.path.isdir(p)

    def listdir(self, p: str) -> list[str]:
        return sorted(os.listdir(p))

    def getsize(self, p: str) -> int:
        return os.path.getsize(p)

    def getmtime(self, p: str) -> float:
        return os.path.getmtime(p)

    def delete(self, p: str) -> None:
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        elif os.path.exists(p):
            os.remove(p)

    def rename(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def replace(self, src: str, dst: str) -> None:
        os.replace(src, dst)

    def mkdirs(self, p: str) -> None:
        os.makedirs(p, exist_ok=True)

    def rmdir_if_empty(self, p: str) -> None:
        try:
            if os.path.isdir(p) and not os.listdir(p):
                os.rmdir(p)
        except OSError:
            pass

    def walk_files(self, root: str) -> Iterator[str]:
        """Yield every file under ``root`` as a path RELATIVE to
        ``root`` (contract shared with :class:`HadoopFS` — relative
        yields sidestep backend URI normalization entirely: Hadoop
        renders ``file:///x`` as ``file:/x``, so absolute yields would
        force every caller to re-derive the prefix length)."""
        out = []
        for r, _dirs, files in os.walk(root):
            for f in files:
                out.append(
                    os.path.relpath(os.path.join(r, f), root).replace(
                        os.sep, "/"
                    )
                )
        yield from sorted(out)

    def listing(self, root: str) -> list[tuple[str, int, float]] | None:
        """``(relative path, bytes, mtime)`` of every file under ``root``
        that Spark's file sources read (:func:`_unread` prunes the rest,
        directories included), sorted; a file root lists itself under
        its own name; ``None`` when ``root`` is missing.  Symlinked
        directories are walked, as Hadoop's local file index reads
        them; a directory reached again through another link is walked
        once, so a link cycle ends."""
        if os.path.isfile(root):
            st = os.stat(root)
            return [(os.path.basename(root), st.st_size, st.st_mtime)]
        if not os.path.isdir(root):
            return None
        out = []
        seen = set()
        for r, dirs, files in os.walk(root, followlinks=True):
            real = os.path.realpath(r)
            if real in seen:
                dirs[:] = []
                continue
            seen.add(real)
            dirs[:] = [d for d in dirs if not _unread(d)]
            for f in files:
                if not _unread(f):
                    p = os.path.join(r, f)
                    st = os.stat(p)
                    rel = os.path.relpath(p, root).replace(os.sep, "/")
                    out.append((rel, st.st_size, st.st_mtime))
        return sorted(out)

    def read_text(self, p: str) -> str:
        with open(p) as f:
            return f.read()

    def write_text(self, p: str, text: str) -> None:
        with open(p, "w") as f:
            f.write(text)


class HadoopFS:
    """Hadoop ``FileSystem``-backed twin of :class:`LocalFS` for
    scheme'd paths.  Same contract; ``replace`` emulates overwriting
    rename (delete-then-rename — callers' heal passes cover the
    non-atomic window, same as S3A rename itself)."""

    def __init__(self, spark, base: str) -> None:
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        try:
            self._fs = self._jpath(base).getFileSystem(self._conf)
        except Exception as e:  # e.g. no connector jar for the scheme
            raise NotImplementedError(
                f"non-local path {base!r}: no Hadoop FileSystem for "
                "this scheme on the Spark classpath (for s3a:// add "
                "hadoop-aws + aws sdk jars; for gs:// the "
                f"gcs-connector): {e}"
            ) from e

    def _jpath(self, s: str):
        return self._jvm.org.apache.hadoop.fs.Path(s)

    def exists(self, p: str) -> bool:
        return bool(self._fs.exists(self._jpath(p)))

    def isdir(self, p: str) -> bool:
        jp = self._jpath(p)
        return bool(self._fs.exists(jp)) and bool(
            self._fs.getFileStatus(jp).isDirectory()
        )

    def listdir(self, p: str) -> list[str]:
        return sorted(
            st.getPath().getName()
            for st in self._fs.listStatus(self._jpath(p))
        )

    def getsize(self, p: str) -> int:
        return int(self._fs.getFileStatus(self._jpath(p)).getLen())

    def getmtime(self, p: str) -> float:
        return self._fs.getFileStatus(self._jpath(p)).getModificationTime() / 1000

    def delete(self, p: str) -> None:
        self._fs.delete(self._jpath(p), True)

    def rename(self, src: str, dst: str) -> None:
        if not self._fs.rename(self._jpath(src), self._jpath(dst)):
            raise OSError(f"rename {src!r} -> {dst!r} failed")

    def replace(self, src: str, dst: str) -> None:
        jd = self._jpath(dst)
        if self._fs.exists(jd):
            self._fs.delete(jd, True)
        self.rename(src, dst)

    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self._jpath(p))

    def rmdir_if_empty(self, p: str) -> None:
        jp = self._jpath(p)
        try:
            if self._fs.exists(jp) and not list(self._fs.listStatus(jp)):
                self._fs.delete(jp, False)
        except Exception:
            pass

    def walk_files(self, root: str) -> Iterator[str]:
        """Yield every file under ``root`` RELATIVE to ``root``.

        The prefix to strip is the backend-normalized root
        (``getFileStatus(root).getPath()``) — the exact string form
        ``listFiles`` renders children in — NOT the caller's ``root``
        string: Hadoop normalizes empty-authority URIs
        (``file:///x`` → ``file:/x``), so slicing by the caller's
        string length would eat leading characters of the first
        relative component (corrupting e.g. partition directory
        names)."""
        jroot = self._jpath(root)
        prefix = (
            self._fs.getFileStatus(jroot).getPath().toString().rstrip("/")
            + "/"
        )
        it = self._fs.listFiles(jroot, True)
        out = []
        while it.hasNext():
            p = it.next().getPath().toString()
            if not p.startswith(prefix):
                raise ValueError(
                    f"walk_files: listed path {p!r} is not under the "
                    f"normalized root {prefix!r}"
                )
            out.append(p[len(prefix) :])
        yield from sorted(out)

    def listing(self, root: str) -> list[tuple[str, int, float]] | None:
        """Same contract as :meth:`LocalFS.listing`, from one recursive
        ``listFiles``; relative paths are cut after the normalized root,
        as in :meth:`walk_files`."""
        jroot = self._jpath(root)
        if not self._fs.exists(jroot):
            return None
        top = self._fs.getFileStatus(jroot)
        if top.isFile():
            return [(top.getPath().getName(), int(top.getLen()),
                     top.getModificationTime() / 1000)]
        n = len(top.getPath().toString().rstrip("/")) + 1
        it = self._fs.listFiles(jroot, True)
        out = []
        while it.hasNext():
            st = it.next()
            rel = st.getPath().toString()[n:]
            if not any(_unread(c) for c in rel.split("/")):
                out.append((rel, int(st.getLen()), st.getModificationTime() / 1000))
        return sorted(out)

    def read_text(self, p: str) -> str:
        stream = self._fs.open(self._jpath(p))
        reader = self._jvm.java.io.BufferedReader(
            self._jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        try:
            lines = []
            while True:
                ln = reader.readLine()
                if ln is None:
                    break
                lines.append(ln)
            return "\n".join(lines)
        finally:
            reader.close()

    def write_text(self, p: str, text: str) -> None:
        out = self._fs.create(self._jpath(p), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()


def fs_for(path: str, spark=None):
    """Backend for ``path``: plain paths → :class:`LocalFS`; any
    ``scheme://`` path → :class:`HadoopFS` (using the active
    SparkSession when one isn't passed — the metadata plumbing always
    runs driver-side next to a live session)."""
    if "://" not in path:
        return LocalFS()
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                f"scheme'd path {path!r} needs a live SparkSession to "
                "reach the Hadoop FileSystem API"
            )
    return HadoopFS(spark, path)


def publish(
    root: str,
    prefix: str,
    id,
    write: Callable[[str], None],
    *,
    replaces: Iterable[str] = (),
    spark=None,
) -> str:
    """Commit ``<root>/<prefix><id>`` by the protocol above: ``write``
    fills the staging path, one rename publishes it, and each entry of
    ``replaces`` (names under ``root``) is deleted after the rename.
    An already-committed id is returned untouched (replay skip).
    Returns the final path."""
    fs = fs_for(root, spark)
    name = f"{prefix}{id}"
    final = join_path(root, name)
    if fs.exists(final):
        return final
    staging = join_path(root, f".staging-{id}")
    fs.delete(staging)
    write(staging)
    victims = [v for v in replaces if v != name]
    if victims:
        fs.write_text(join_path(staging, "_REPLACES"), "\n".join(victims))
    fs.mkdirs(root)
    fs.rename(staging, final)  # the commit point
    for v in victims:
        fs.delete(join_path(root, v))
    return final


def versions(root: str, prefix: str, spark=None) -> list[int]:
    """Sorted int ids of the committed ``<prefix><n>`` entries under
    ``root``; ``[]`` when ``root`` is missing."""
    fs = fs_for(root, spark)
    if not fs.isdir(root):
        return []
    return sorted(
        int(e[len(prefix) :])
        for e in fs.listdir(root)
        if e.startswith(prefix) and e[len(prefix) :].isdigit()
    )


def heal(root: str, prefix: str, spark=None) -> None:
    """Finish an interrupted GC: delete every entry still present that
    a committed ``<prefix>*`` entry's ``_REPLACES`` manifest names.
    Idempotent; a no-op when nothing is pending or ``root`` is
    missing."""
    fs = fs_for(root, spark)
    if not fs.isdir(root):
        return
    for e in fs.listdir(root):
        if not e.startswith(prefix):
            continue
        manifest = join_path(root, e, "_REPLACES")
        if not fs.exists(manifest):
            continue
        for victim in fs.read_text(manifest).splitlines():
            if victim and victim != e:
                fs.delete(join_path(root, victim))


def swap_tree(live: str, staged: str, spark=None) -> None:
    """Replace the tree at ``live`` with the one at ``staged``: live →
    ``<live>.__trash_<ms>``, staged → live (rolled back if it fails),
    then the trash is deleted.  A crash leaves either the old or the
    new complete tree at ``live``."""
    fs = fs_for(live, spark)
    trash = f"{live}.__trash_{int(time.time() * 1000)}"
    fs.rename(live, trash)
    try:
        fs.rename(staged, live)
    except Exception:
        fs.rename(trash, live)
        raise
    fs.delete(trash)


def fold(
    root: str,
    prefix: str,
    batch_id: int | None,
    build: Callable[[], DataFrame],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
    spark,
) -> str | None:
    """Advance the versioned state under ``root`` by one batch (the
    fold rule above): ``build()`` makes the batch's delta, ``merge(prev,
    delta)`` combines it with the newest version.  Returns the committed
    path, or ``None`` when ``batch_id`` is a replay."""
    committed = versions(root, prefix, spark)
    newest = committed[-1] if committed else None
    if batch_id is None:
        batch_id = (newest or 0) + 1
    elif newest is not None and int(batch_id) <= newest:
        return None
    state = build()
    if newest is not None:
        prev = spark.read.parquet(join_path(root, f"{prefix}{newest}"))
        state = merge(prev, state)
    return publish(
        root,
        prefix,
        int(batch_id),
        state.write.mode("overwrite").parquet,
        replaces=[f"{prefix}{v}" for v in committed],
        spark=spark,
    )


def latest(root: str, prefix: str, spark=None) -> str | None:
    """Path of the newest committed ``<prefix><n>`` version under
    ``root``; ``None`` when there is none."""
    committed = versions(root, prefix, spark)
    return join_path(root, f"{prefix}{committed[-1]}") if committed else None


def read_json(path: str, default=None, spark=None):
    """The JSON document at ``path``; ``default`` when it is missing."""
    fs = fs_for(path, spark)
    if not fs.exists(path):
        return default
    return json.loads(fs.read_text(path))


def write_json(path: str, obj, spark=None) -> None:
    """Replace the JSON document at ``path`` with ``obj``: a unique
    ``<path>.<rand>.tmp`` sibling, then one ``replace`` (the commit
    point).  The tmp file is deleted if anything raises."""
    fs = fs_for(path, spark)
    fs.mkdirs(_parent(path))
    tmp = f"{path}.{uuid.uuid4().hex[:12]}.tmp"
    try:
        fs.write_text(tmp, json.dumps(obj, indent=2, default=str))
        fs.replace(tmp, path)
    except BaseException:
        fs.delete(tmp)
        raise


@contextmanager
def locked(path: str) -> Iterator[None]:
    """Hold an exclusive ``flock`` on ``<path>.lock`` for the body: the
    writers of one document serialise their read-modify-writes.  No
    lock where ``flock`` is unavailable or ``path`` has a scheme.  Never
    enter it again inside its own body (see the module docstring)."""
    fh = None
    if "://" not in path:
        try:
            import fcntl

            os.makedirs(_parent(path), exist_ok=True)
            fh = open(path + ".lock", "w")
            fcntl.flock(fh, fcntl.LOCK_EX)
        except (ImportError, OSError):
            if fh is not None:
                fh.close()
                fh = None
    try:
        yield
    finally:
        if fh is not None:
            fh.close()  # closing the only descriptor releases the lock


def _parent(path: str) -> str:
    if "://" not in path:
        return os.path.dirname(os.path.abspath(path))
    return path.rstrip("/").rsplit("/", 1)[0]
