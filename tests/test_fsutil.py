"""Filesystem-backend contract tests (VERDICT r8 Next-round #7).

The metadata plumbing (dedup-index snapshots, staged-commit txn log)
must behave identically whether it runs on the ``os``/``shutil`` fast
path (plain paths), the Hadoop FileSystem API with an empty-authority
URI (``file://`` — where Hadoop's Path normalization drops two
slashes), or a scheme WITH an authority (``viewfs://mount/`` — a real
second Hadoop scheme, mounted onto a tmp dir, no MiniDFS needed).
One parametrized sweep pins every operation the callers use; an
end-to-end exactly-once publish over viewfs:// pins that partition
directory names survive the non-file scheme too (the r8 ADVICE bug
class: rel-path slicing corrupted ``o_orderstatus=F`` →
``_orderstatus=F`` on file://).
"""

from __future__ import annotations

import os

import pytest

from aws_glue_jobs_incremental_database_etl_spark.fsutil import fs_for


def _mount_viewfs(spark, name: str, local_dir: str) -> str:
    spark._jsc.hadoopConfiguration().set(
        f"fs.viewfs.mounttable.{name}.link./lake", "file://" + local_dir
    )
    return f"viewfs://{name}/lake"


@pytest.fixture(
    params=["local", "hadoop-file", "hadoop-viewfs"], ids=str
)
def backend(request, spark, tmp_path):
    """(fs, root, local_mirror): the same tmp dir reachable through
    each backend; local_mirror is the plain-os path for independent
    verification of what actually landed on disk."""
    local = str(tmp_path / "data")
    os.makedirs(local)
    if request.param == "local":
        root = local
    elif request.param == "hadoop-file":
        root = "file://" + local
    else:
        # unique mount name per test invocation — FileSystem caches
        # by (scheme, authority), so a reused name would pin a stale
        # mount table
        root = _mount_viewfs(
            spark, f"m{abs(hash(str(tmp_path))) % 10**9}", local
        )
    return fs_for(root, spark), root, local


def test_backend_contract(backend):
    """Every operation the txn/index callers rely on, with the
    observable result checked through BOTH the backend and the plain
    local mirror: exists/isdir/mkdirs, write/read round-trip,
    root-RELATIVE walk_files (sorted, nested), rename, overwriting
    replace, listdir names, getsize, delete, rmdir_if_empty."""
    fs, root, local = backend
    assert not fs.exists(f"{root}/x")
    fs.mkdirs(f"{root}/d1/d2")
    assert fs.isdir(f"{root}/d1/d2") and os.path.isdir(f"{local}/d1/d2")
    fs.write_text(f"{root}/d1/d2/a.txt", "alpha")
    fs.write_text(f"{root}/d1/b.txt", "bb")
    assert fs.read_text(f"{root}/d1/d2/a.txt") == "alpha"
    assert fs.getsize(f"{root}/d1/b.txt") == 2
    # the contract the r8 ADVICE bug was about: walk_files yields
    # paths RELATIVE to the walked root, whatever the backend's URI
    # normalization does (file:///x -> file:/x, viewfs authority)
    assert list(fs.walk_files(f"{root}/d1")) == ["b.txt", "d2/a.txt"]
    assert fs.listdir(f"{root}/d1") == ["b.txt", "d2"]
    # rename: moves, source gone, content preserved
    fs.rename(f"{root}/d1/d2/a.txt", f"{root}/d1/d2/a2.txt")
    assert not fs.exists(f"{root}/d1/d2/a.txt")
    assert fs.read_text(f"{root}/d1/d2/a2.txt") == "alpha"
    # replace: overwrites an existing destination
    fs.write_text(f"{root}/d1/d2/a3.txt", "new")
    fs.replace(f"{root}/d1/d2/a3.txt", f"{root}/d1/d2/a2.txt")
    assert fs.read_text(f"{root}/d1/d2/a2.txt") == "new"
    assert not fs.exists(f"{root}/d1/d2/a3.txt")
    # partition-style directory names round-trip verbatim
    fs.mkdirs(f"{root}/tbl/o_orderstatus=F")
    fs.write_text(f"{root}/tbl/o_orderstatus=F/part-0.parquet", "p")
    assert list(fs.walk_files(f"{root}/tbl")) == [
        "o_orderstatus=F/part-0.parquet"
    ]
    assert os.path.isdir(f"{local}/tbl/o_orderstatus=F")
    # delete is recursive; rmdir_if_empty only drops empty dirs
    fs.delete(f"{root}/d1/d2")
    assert not fs.exists(f"{root}/d1/d2")
    fs.rmdir_if_empty(f"{root}/d1")  # b.txt still there -> kept
    assert fs.isdir(f"{root}/d1")
    fs.delete(f"{root}/d1/b.txt")
    fs.rmdir_if_empty(f"{root}/d1")
    assert not fs.exists(f"{root}/d1")


def test_listing_same_on_plain_and_file_uri_root(spark, tmp_path):
    """``listing`` gives the same relative paths and sizes through both
    backends, skips what Spark's file sources skip (``_``/``.`` names
    outside ``k=v`` directories, checksums, hidden directories), lists a
    file root under its own name and gives ``None`` for a missing one.
    A symlinked ``k=v`` directory is listed, as Spark reads it, so a file
    added under it changes the listing."""
    from aws_glue_jobs_incremental_database_etl_spark.fsutil import HadoopFS, LocalFS

    root = tmp_path / "src"
    files = {
        "part-0.parquet": "aaaa",
        "k=1/part-1.parquet": "bb",
        "k=1/_SUCCESS": "",
        "k=1/.part-1.parquet.crc": "c",
        "_temporary/0/part-9.parquet": "zzz",
        ".hidden/part-8.parquet": "y",
        "_k=2/part-2.parquet": "ddddd",
    }
    for rel, text in files.items():
        os.makedirs(os.path.dirname(root / rel), exist_ok=True)
        (root / rel).write_text(text)
    linked = tmp_path / "elsewhere"
    os.makedirs(linked)
    (linked / "part-3.parquet").write_text("eee")
    os.symlink(linked, root / "k=3")
    want = [
        ("_k=2/part-2.parquet", 5),
        ("k=1/part-1.parquet", 2),
        ("k=3/part-3.parquet", 3),
        ("part-0.parquet", 4),
    ]
    plain, uri = str(root), "file://" + str(root)
    local, hadoop = fs_for(plain), fs_for(uri, spark)
    assert isinstance(local, LocalFS) and isinstance(hadoop, HadoopFS)
    for fs, r in ((local, plain), (hadoop, uri)):
        assert [(p, n) for p, n, _m in fs.listing(r)] == want
        assert [(p, n) for p, n, _m in fs.listing(r + "/part-0.parquet")] == [
            ("part-0.parquet", 4)
        ]
        assert fs.listing(r + "/missing") is None
    mtimes = [m for _p, _n, m in local.listing(plain)]
    assert [m for _p, _n, m in hadoop.listing(uri)] == pytest.approx(mtimes, abs=1e-3)
    (linked / "part-4.parquet").write_text("f")
    for fs, r in ((local, plain), (hadoop, uri)):
        assert ("k=3/part-4.parquet", 1) in [(p, n) for p, n, _m in fs.listing(r)]


def test_exactly_once_publish_over_viewfs(spark, tmp_path, sf_dir):
    """Full staged-commit publish against a viewfs:// target — a
    Hadoop scheme WITH an authority, whose Path normalization differs
    from both plain paths and file:// — then assert the partition
    directories and partition VALUES round-trip (the assertions that
    would have caught the r8 rel-slicing corruption on any backend)."""
    from pyspark.sql import functions as F

    from aws_glue_jobs_incremental_database_etl_spark.bookmarks import BookmarkStore
    from aws_glue_jobs_incremental_database_etl_spark.catalog import FileCatalog
    from aws_glue_jobs_incremental_database_etl_spark.config import TableConfig
    from aws_glue_jobs_incremental_database_etl_spark.pipeline import (
        IncrementalPipeline,
    )

    lake_local = str(tmp_path / "lake")
    os.makedirs(lake_local)
    lake = _mount_viewfs(spark, "e2e%d" % (abs(hash(str(tmp_path))) % 10**9), lake_local)
    cfg = TableConfig("orders", ["o_orderkey"], "ASC", ["o_orderstatus"])
    full = spark.read.parquet(f"{sf_dir}/orders.parquet")
    src = str(tmp_path / "src_orders")
    full.write.parquet(src)
    p = IncrementalPipeline(
        spark,
        FileCatalog(str(tmp_path / "catalog")),
        BookmarkStore(str(tmp_path / "bookmarks.json")),
        target_location=lake,
        target_prefix="tgt_",
        job_run_id="v1",
        exactly_once=True,
    )
    (res,) = p.run([cfg], {"orders": src})
    assert res.rows_written == full.count()
    part_dirs = [d for d in os.listdir(f"{lake_local}/tgt_orders") if "=" in d]
    assert part_dirs and all(
        d.startswith("o_orderstatus=") for d in part_dirs
    ), part_dirs
    tgt = p.read_target("orders")
    src_counts = {
        r["o_orderstatus"]: r["n"]
        for r in full.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    tgt_counts = {
        r["o_orderstatus"]: r["n"]
        for r in tgt.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert tgt_counts == src_counts
    # housekeeping went through the viewfs backend: staging gone
    assert not os.path.exists(f"{lake_local}/_staging")
    assert os.path.isdir(f"{lake_local}/_txn/applied")


def test_time_travel_and_expiry_over_viewfs(spark, tmp_path, sf_dir):
    """Snapshot reads + history expiry composed over viewfs:// (VERDICT
    r10 Next-round #4 / r9 ask #7): three exactly-once publishes into a
    mounted viewfs target, then (a) read_table_asof at the FIRST commit
    returns exactly the first batch, (b) expire_history(keep_last=1)
    rolls the old manifests into a base through the viewfs backend,
    (c) the expired snapshot REFUSES time travel, and (d) the current
    snapshot still reads complete.  This closes the last txn surface
    that was only ever exercised on local paths — manifest parsing,
    move-path reconstruction, and the rollup rewrite all traverse the
    authority-bearing scheme here."""
    import pytest as _pytest

    from aws_glue_jobs_incremental_database_etl_spark.bookmarks import BookmarkStore
    from aws_glue_jobs_incremental_database_etl_spark.catalog import FileCatalog
    from aws_glue_jobs_incremental_database_etl_spark.config import TableConfig
    from aws_glue_jobs_incremental_database_etl_spark.pipeline import (
        IncrementalPipeline,
    )
    from aws_glue_jobs_incremental_database_etl_spark.txn import (
        expire_history,
        published_history,
        read_table_asof,
    )

    lake_local = str(tmp_path / "lake")
    os.makedirs(lake_local)
    lake = _mount_viewfs(
        spark, "tt%d" % (abs(hash(str(tmp_path))) % 10**9), lake_local
    )
    cfg = TableConfig("orders", ["o_orderkey"], "ASC", ["o_orderstatus"])
    full = spark.read.parquet(f"{sf_dir}/orders.parquet")
    maxk = full.agg({"o_orderkey": "max"}).first()[0]
    cuts = (maxk // 3, 2 * (maxk // 3), maxk)
    src = str(tmp_path / "src_orders")
    for i, cut in enumerate(cuts):
        full.filter(f"o_orderkey <= {cut}").write.mode("overwrite").parquet(src)
        IncrementalPipeline(
            spark,
            FileCatalog(str(tmp_path / "catalog")),
            BookmarkStore(str(tmp_path / "bookmarks.json")),
            target_location=lake,
            target_prefix="tgt_",
            job_run_id=f"tt-{i + 1}",
            exactly_once=True,
        ).run([cfg], {"orders": src})
    hist = published_history(lake)
    assert [h["run_id"] for h in hist] == ["tt-1", "tt-2", "tt-3"]
    first_seq, last_seq = hist[0]["seq"], hist[-1]["seq"]
    snap1 = read_table_asof(spark, lake, "tgt_orders", first_seq)
    assert snap1.count() == full.filter(f"o_orderkey <= {cuts[0]}").count()
    # partition values recovered through the viewfs basePath
    assert set(
        r["o_orderstatus"] for r in snap1.select("o_orderstatus").distinct().collect()
    ) == set(
        r["o_orderstatus"]
        for r in full.filter(f"o_orderkey <= {cuts[0]}")
        .select("o_orderstatus")
        .distinct()
        .collect()
    )
    expired = expire_history(lake, keep_last=1)
    assert set(expired) == {"tt-1", "tt-2"}
    # the rollup rewrote the applied log on the REAL disk behind the mount
    applied_local = os.listdir(f"{lake_local}/_txn/applied")
    assert any(n.startswith("manifest-base-") for n in applied_local)
    with _pytest.raises(ValueError, match="compacted|no longer available"):
        read_table_asof(spark, lake, "tgt_orders", first_seq)
    cur = read_table_asof(spark, lake, "tgt_orders", last_seq)
    assert cur.count() == full.count()


# -- the commit protocol (publish / versions / heal / swap_tree) ---------


def _ls(p: str) -> list[str]:
    """Entries of the local mirror, without the Hadoop backend's
    ``.<name>.crc`` checksum side files."""
    return sorted(n for n in os.listdir(p) if not n.endswith(".crc"))


def _write_text_tree(fs, text: str):
    """A ``publish`` writer that fills the staging dir through ``fs``."""

    def write(staging: str) -> None:
        fs.mkdirs(staging)
        fs.write_text(f"{staging}/data", text)

    return write


def test_publish_clears_debris_skips_committed_and_gcs(backend, spark):
    from aws_glue_jobs_incremental_database_etl_spark.fsutil import publish

    fs, root, local = backend
    os.makedirs(f"{local}/s/.staging-1/junk")  # a crashed attempt
    final = publish(f"{root}/s", "state-", 1, _write_text_tree(fs, "v1"), spark=spark)
    assert final == f"{root}/s/state-1"
    assert _ls(f"{local}/s") == ["state-1"]
    assert _ls(f"{local}/s/state-1") == ["data"]  # debris gone

    def must_not_write(_staging):
        raise AssertionError("a committed id was rewritten")

    assert publish(f"{root}/s", "state-", 1, must_not_write, spark=spark) == final

    publish(
        f"{root}/s",
        "state-",
        2,
        _write_text_tree(fs, "v2"),
        replaces=["state-1"],
        spark=spark,
    )
    assert _ls(f"{local}/s") == ["state-2"]
    with open(f"{local}/s/state-2/_REPLACES") as f:
        assert f.read() == "state-1"
    with open(f"{local}/s/state-2/data") as f:
        assert f.read() == "v2"


def test_heal_finishes_gc_interrupted_after_commit(backend, spark, monkeypatch):
    from aws_glue_jobs_incremental_database_etl_spark.fsutil import heal, publish

    fs, root, local = backend
    d = f"{root}/view"
    for name in ("batch=a", "batch=b", "batch=c"):
        fs.mkdirs(f"{d}/{name}")
    victims = ["batch=a", "batch=b"]

    real_delete = type(fs).delete

    def crash_on_gc(self, p):
        if p.rsplit("/", 1)[-1] in victims:
            raise OSError("injected crash between commit and GC")
        real_delete(self, p)

    monkeypatch.setattr(type(fs), "delete", crash_on_gc)
    with pytest.raises(OSError, match="injected"):
        publish(
            d, "batch=", "compact-1", _write_text_tree(fs, "net"),
            replaces=victims, spark=spark,
        )
    monkeypatch.undo()
    # committed, manifest present, victims still on disk
    assert _ls(f"{local}/view") == [
        "batch=a", "batch=b", "batch=c", "batch=compact-1",
    ]
    heal(d, "batch=other-", spark)  # other prefixes' manifests only
    assert len(_ls(f"{local}/view")) == 4
    heal(d, "batch=compact-", spark)
    assert _ls(f"{local}/view") == ["batch=c", "batch=compact-1"]
    heal(d, "batch=compact-", spark)  # idempotent
    heal(f"{root}/missing", "batch=compact-", spark)  # no-op


def test_versions_ignores_staging_and_foreign_entries(backend, spark):
    from aws_glue_jobs_incremental_database_etl_spark.fsutil import versions

    fs, root, _local = backend
    assert versions(f"{root}/missing", "state-", spark) == []
    for name in ("state-3", "state-10", ".staging-11", "state-x", "other-4"):
        fs.mkdirs(f"{root}/s/{name}")
    assert versions(f"{root}/s", "state-", spark) == [3, 10]


def test_swap_tree_keeps_live_tree_when_staged_rename_raises(
    backend, spark, monkeypatch
):
    from aws_glue_jobs_incremental_database_etl_spark.fsutil import swap_tree

    fs, root, local = backend
    live, staged = f"{root}/tbl", f"{root}/tbl.__compact_1"
    fs.mkdirs(live)
    fs.write_text(f"{live}/f", "old")
    fs.mkdirs(staged)
    fs.write_text(f"{staged}/f", "new")

    real_rename = type(fs).rename

    def failing_rename(self, src, dst):
        if src == staged:
            raise OSError("injected rename failure")
        real_rename(self, src, dst)

    monkeypatch.setattr(type(fs), "rename", failing_rename)
    with pytest.raises(OSError, match="injected"):
        swap_tree(live, staged, spark)
    monkeypatch.undo()
    assert _ls(local) == ["tbl", "tbl.__compact_1"]  # no trash
    with open(f"{local}/tbl/f") as f:
        assert f.read() == "old"

    swap_tree(live, staged, spark)
    assert _ls(local) == ["tbl"]
    with open(f"{local}/tbl/f") as f:
        assert f.read() == "new"


def test_aggregate_and_sketch_fold_on_file_uri_root(spark, tmp_path):
    """The incremental aggregate and the streaming sketch fold keep
    their exactly-once fold on a ``file://`` root (the Hadoop backend),
    not only on plain local paths."""
    from pyspark.sql import functions as F

    from aws_glue_jobs_incremental_database_etl_spark.aggregates import (
        IncrementalAggregate,
    )
    from aws_glue_jobs_incremental_database_etl_spark.streaming.stream import (
        read_sketch,
        sketch_fold_writer,
    )

    rows = "k string, v long"
    b0 = spark.createDataFrame([("a", 1), ("b", 2)], rows)
    b1 = spark.createDataFrame([("a", 10)], rows)

    agg_local = str(tmp_path / "summary")
    agg = IncrementalAggregate("file://" + agg_local, ["k"], {"v": "sum"})
    agg.apply_batch(b0, batch_id=0)
    agg.apply_batch(b1, batch_id=1)
    assert agg.apply_batch(b1, batch_id=1).get("replayed") == 1
    got = {r["k"]: r["v_sum"] for r in agg.read(spark).collect()}
    assert got == {"a": 11, "b": 2}
    assert _ls(agg_local) == ["state-1"]

    sketch_local = str(tmp_path / "sketch")
    fold = sketch_fold_writer(
        "file://" + sketch_local,
        lambda b: b.groupBy("k").agg(F.sum("v").alias("v")),
        lambda prev, delta: prev.unionByName(delta)
        .groupBy("k")
        .agg(F.sum("v").alias("v")),
    )
    fold(b0, 0)
    fold(b1, 1)
    fold(b1, 1)  # replayed epoch: skipped
    got = {r["k"]: r["v"] for r in read_sketch(spark, "file://" + sketch_local).collect()}
    assert got == {"a": 11, "b": 2}
    assert _ls(sketch_local) == ["state-1"]


# The two commits outside the protocol, matched by file and scope:
# merge_upsert's per-partition swap and the executor-side writer commit
# of the Python data source.
_RAW_COMMIT_ALLOWED = {
    ("merge.py", "merge_upsert"),
    ("sources/python_datasource.py", "JsonLinesWriter"),
}


def test_no_hand_written_commit_outside_fsutil():
    """Every staged write → rename → GC goes through ``fsutil``: a raw
    ``os.rename(`` or a ``.staging-`` name anywhere else reintroduces
    a per-site copy of the commit protocol."""
    import ast

    import aws_glue_jobs_incremental_database_etl_spark as pkg

    root = os.path.dirname(pkg.__file__)
    found = []
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            if rel == "fsutil.py":
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())

            def visit(node, scope):
                for child in ast.iter_child_nodes(node):
                    inner = scope
                    if isinstance(
                        child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                    ) and scope is None:
                        inner = child.name
                    hit = (
                        isinstance(child, ast.Call)
                        and isinstance(child.func, ast.Attribute)
                        and child.func.attr == "rename"
                        and isinstance(child.func.value, ast.Name)
                        and child.func.value.id == "os"
                    ) or (
                        isinstance(child, ast.Constant)
                        and isinstance(child.value, str)
                        and ".staging-" in child.value
                    )
                    if hit and (rel, scope) not in _RAW_COMMIT_ALLOWED:
                        found.append(f"{rel}:{child.lineno} (in {scope})")
                    visit(child, inner)

            visit(tree, None)
    assert not found, "hand-written commit outside fsutil.py:\n" + "\n".join(found)


def test_join_view_on_file_uri_root(spark, tmp_path):
    """The incremental join view sees its own state on a ``file://``
    root: a left batch then a right batch produce the joined view."""
    from aws_glue_jobs_incremental_database_etl_spark.operators.incremental_join import (
        IncrementalJoinView,
        read_changes,
    )

    v = IncrementalJoinView("file://" + str(tmp_path / "v"), on="k")
    v.apply_batch(
        spark,
        left_delta=spark.createDataFrame([(1, 10), (2, 20)], "k long, x long"),
        batch_id=0,
    )
    v.apply_batch(
        spark,
        right_delta=spark.createDataFrame([(1, "a")], "k long, y string"),
        batch_id=1,
    )
    got = {tuple(r) for r in v.read_view(spark).select("k", "x", "y").collect()}
    assert got == {(1, 10, "a")}
    assert read_changes(v, spark).count() == 1
    assert _ls(str(tmp_path / "v" / "view")) == ["batch=1"]
    # compaction orders partitions by the backend's mtime
    local = str(tmp_path / "v" / "view" / "batch=1")
    got = fs_for("file://" + local, spark).getmtime("file://" + local)
    assert abs(got - os.path.getmtime(local)) < 1.0
