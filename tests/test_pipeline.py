"""End-to-end incremental pipeline tests (SURVEY.md §3, §5.2;
FIXTURES.md scenarios 1, 3, 4, 5).

Run the pipeline over a source that grows between runs; assert run 2
reads only the delta, output is append-only, the watermark advances,
an empty delta short-circuits, and schema evolution follows E2.
"""

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from aws_glue_jobs_incremental_database_etl_spark.bookmarks import BookmarkStore
from aws_glue_jobs_incremental_database_etl_spark.catalog import FileCatalog
from aws_glue_jobs_incremental_database_etl_spark.config import (
    TableConfig,
    parse_table_config,
)
from aws_glue_jobs_incremental_database_etl_spark.pipeline import IncrementalPipeline


@pytest.fixture()
def env(tmp_path, spark):
    def make(**kw):
        return IncrementalPipeline(
            spark,
            FileCatalog(str(tmp_path / "catalog")),
            BookmarkStore(str(tmp_path / "bookmarks.json")),
            target_location=str(tmp_path / "lake"),
            target_prefix="tgt_",
            **kw,
        )

    return tmp_path, make


def _write_source(spark, sf_dir, tmp_path, predicate=None):
    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    if predicate:
        src = src.filter(predicate)
    p = str(tmp_path / "src_orders")
    src.write.mode("overwrite").parquet(p)
    return p


CFG = TableConfig("orders", ["o_orderkey"], "ASC", ["o_orderstatus"])


def test_two_run_incremental_load(env, spark, sf_dir):
    tmp_path, make = env
    full = spark.read.parquet(f"{sf_dir}/orders.parquet")
    median = full.approxQuantile("o_orderkey", [0.5], 0.0)[0]

    # run 1: first half
    src = _write_source(spark, sf_dir, tmp_path, f"o_orderkey <= {median}")
    pipe = make(job_run_id="run-1")
    (r1,) = pipe.run([CFG], {"orders": src})
    assert r1.created_table
    n1 = full.filter(f"o_orderkey <= {median}").count()
    assert r1.rows_written == n1

    # run 2: full table — only the delta is read/written
    src = _write_source(spark, sf_dir, tmp_path)
    pipe2 = make(job_run_id="run-2")
    (r2,) = pipe2.run([CFG], {"orders": src})
    assert not r2.created_table
    assert r2.rows_written == full.count() - n1

    # target now equals the full source exactly (append-only union)
    out = pipe2.read_target("orders")
    assert out.count() == full.count()
    assert set(out.columns) == set(full.columns)
    src_sum = full.agg(F.sum("o_totalprice")).first()[0]
    out_sum = out.agg(F.sum("o_totalprice")).first()[0]
    assert abs(src_sum - out_sum) < 1e-6

    # run 3: no new data → short-circuit, nothing appended
    pipe3 = make(job_run_id="run-3")
    (r3,) = pipe3.run([CFG], {"orders": src})
    assert r3.skipped_empty
    assert pipe3.read_target("orders").count() == full.count()
    # lineage still stamped on the empty run (reference stamps
    # unconditionally after transform, jdbc_incremental.py:617-623)
    params = pipe3.catalog.get_table("target", "tgt_orders")["Parameters"]
    assert params["LastUpdatedByJobRun"] == "run-3"


def test_bookmark_option_disable_full_rereads_and_never_advances(
    env, spark, sf_dir
):
    """Glue job-bookmark-disable (reference :246 passes the option
    through to the runtime): every run reads the FULL source — no
    watermark filter, no watermark advance."""
    tmp_path, make = env
    src = _write_source(spark, sf_dir, tmp_path)
    n = spark.read.parquet(src).count()

    pipe = make(job_run_id="run-1", bookmark_option="job-bookmark-disable")
    (r1,) = pipe.run([CFG], {"orders": src})
    assert r1.rows_written == n
    # no state was ever tracked
    assert pipe.bookmarks.get("datasource0_tgt_orders") is None

    # second disabled run re-reads everything (append duplicates —
    # exactly what an operator replaying a window asks for)
    pipe2 = make(job_run_id="run-2", bookmark_option="disable")
    (r2,) = pipe2.run([CFG], {"orders": src})
    assert r2.rows_written == n
    assert pipe2.read_target("orders").count() == 2 * n


def test_bookmark_option_pause_filters_but_never_advances(
    env, spark, sf_dir
):
    """job-bookmark-pause: the EXISTING watermark still filters the
    scan, but the run does not move it — the same incremental window
    replays run after run."""
    tmp_path, make = env
    full = spark.read.parquet(f"{sf_dir}/orders.parquet")
    median = full.approxQuantile("o_orderkey", [0.5], 0.0)[0]

    # run 1 (enabled) establishes the watermark at the median
    src = _write_source(spark, sf_dir, tmp_path, f"o_orderkey <= {median}")
    (r1,) = make(job_run_id="run-1").run([CFG], {"orders": src})
    wm_before = make().bookmarks.get("datasource0_tgt_orders")
    assert wm_before is not None

    # paused runs over the grown source: both see exactly the delta
    # beyond the FROZEN watermark
    src = _write_source(spark, sf_dir, tmp_path)
    delta = full.filter(f"o_orderkey > {median}").count()
    for run in ("run-2", "run-3"):
        pipe = make(job_run_id=run, bookmark_option="job-bookmark-pause")
        (r,) = pipe.run([CFG], {"orders": src})
        assert r.rows_written == delta
        assert (
            pipe.bookmarks.get("datasource0_tgt_orders") == wm_before
        )


def test_bookmark_option_validated_and_encryption_recorded(
    env, spark, sf_dir
):
    tmp_path, make = env
    with pytest.raises(ValueError, match="bookmark_option"):
        make(bookmark_option="sometimes")
    src = _write_source(spark, sf_dir, tmp_path)
    pipe = make(job_run_id="run-1", encryption_type="sse-kms")
    pipe.run([CFG], {"orders": src})
    tbl = pipe.catalog.get_table("target", "tgt_orders")
    assert tbl["Parameters"]["EncryptionType"] == "sse-kms"


def test_empty_first_run_still_stamps_and_grants(env, spark, sf_dir):
    """A created-but-empty table gets lineage parameters and the
    creator grant (reference runs both unconditionally, :617-637)."""
    tmp_path, make = env
    src = _write_source(spark, sf_dir, tmp_path, "o_orderkey < 0")  # empty
    pipe = make(job_run_id="run-empty", creator_arn="arn:creator")
    (res,) = pipe.run([CFG], {"orders": src})
    assert res.created_table and res.skipped_empty
    params = pipe.catalog.get_table("target", "tgt_orders")["Parameters"]
    assert params["LastUpdatedByJobRun"] == "run-empty"
    assert "TransformTime" in params
    assert params["PermissionsGrantedTo"] == "arn:creator"


def test_mid_run_failure_is_at_least_once(env, spark, sf_dir):
    """E7 semantics (reference: lone job.commit() at :639): a failure
    AFTER table A wrote but BEFORE the end-of-run commit leaves no
    watermark, so the next run re-reads everything — table A's rows
    are appended twice.  At-least-once, exactly like the reference."""
    tmp_path, make = env
    src_orders = _write_source(spark, sf_dir, tmp_path)
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    cfg_a = TableConfig("orders", ["o_orderkey"], "ASC", [])
    cfg_b = TableConfig("lineitem", ["l_orderkey"], "ASC", [])

    pipe = make(job_run_id="r1")
    with pytest.raises(Exception):
        # lineitem's source path doesn't exist → run_table raises after
        # orders already appended, before the single commit
        pipe.run(
            [cfg_a, cfg_b],
            {"orders": src_orders, "lineitem": str(tmp_path / "nope")},
        )
    assert pipe.read_target("orders").count() == n_orders  # A's write landed
    # ...but nothing committed: a restarted job sees no watermark
    fresh = BookmarkStore(str(tmp_path / "bookmarks.json"))
    assert fresh.get("datasource0_tgt_orders") is None

    src_li = str(tmp_path / "src_lineitem")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").write.parquet(src_li)
    pipe2 = make(job_run_id="r2")
    pipe2.run([cfg_a, cfg_b], {"orders": src_orders, "lineitem": src_li})
    # run 2 re-read orders in full → duplicated append (at-least-once)
    assert pipe2.read_target("orders").count() == 2 * n_orders
    # run 3 is incremental again: empty delta everywhere
    (r3a, r3b) = make(job_run_id="r3").run(
        [cfg_a, cfg_b], {"orders": src_orders, "lineitem": src_li}
    )
    assert r3a.skipped_empty and r3b.skipped_empty


def test_partitioned_layout_and_registration(env, spark, sf_dir):
    tmp_path, make = env
    src = _write_source(spark, sf_dir, tmp_path)
    pipe = make()
    (res,) = pipe.run([CFG], {"orders": src})

    statuses = [
        r.o_orderstatus
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderstatus").distinct().collect()
    ]
    # hive-style k=v dirs on disk
    tgt = str(tmp_path / "lake" / "tgt_orders")
    for s in statuses:
        assert os.path.isdir(os.path.join(tgt, f"o_orderstatus={s}"))
    # catalog partitions registered (create-else-update, idempotent)
    parts = pipe.catalog.get_partitions("target", "tgt_orders")
    assert sorted(parts.keys()) == sorted(str(s) for s in statuses)
    assert sorted(res.partitions_registered) == sorted(str(s) for s in statuses)
    # partition column not in data columns (hive layout stores it in the path)
    cols = [
        c["Name"]
        for c in pipe.catalog.get_table("target", "tgt_orders")["StorageDescriptor"]["Columns"]
    ]
    assert "o_orderstatus" not in cols


def test_all_null_column_dropped_from_output(env, spark, sf_dir):
    tmp_path, make = env
    src = spark.read.parquet(f"{sf_dir}/customer.parquet").withColumn(
        "ghost", F.lit(None).cast("string")
    )
    p = str(tmp_path / "src_customer")
    src.write.mode("overwrite").parquet(p)
    pipe = make()
    cfg = TableConfig("customer", ["c_custkey"])
    pipe.run([cfg], {"customer": p})
    # the written FILES must not contain the all-null column
    # (DropNullFields runs before the write, reference :205-229)
    files = spark.read.parquet(str(tmp_path / "lake" / "tgt_customer"))
    assert "ghost" not in files.columns
    assert files.count() == src.count()
    # ...but the catalog keeps it (DDL happens from the source schema,
    # before DropNullFields), so reads surface it as all-NULL
    out = pipe.read_target("customer")
    assert "ghost" in out.columns
    assert out.filter("ghost IS NOT NULL").count() == 0


def test_schema_evolution_run_over_run(env, spark, sf_dir):
    tmp_path, make = env
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    p = str(tmp_path / "src_part")
    cfg = TableConfig("part", ["p_partkey"])

    part.write.mode("overwrite").parquet(p)
    make(job_run_id="run-1").run([cfg], {"part": p})

    # v2 source: drop p_brand, retype p_size int->bigint, append p_comment
    v2 = (
        part.drop("p_brand")
        .withColumn("p_size", F.col("p_size").cast("bigint"))
        .withColumn("p_comment", F.lit("c"))
        .withColumn("p_partkey", F.col("p_partkey") + 1_000_000)
    )
    v2.write.mode("overwrite").parquet(p)
    pipe2 = make(job_run_id="run-2")
    (r2,) = pipe2.run([cfg], {"part": p})
    assert r2.evolved_schema

    cols = pipe2.catalog.get_table("target", "tgt_part")["StorageDescriptor"]["Columns"]
    names = [c["Name"] for c in cols]
    # order stable, dropped retained, new appended at end
    assert names == ["p_partkey", "p_name", "p_brand", "p_type", "p_size",
                     "p_retailprice", "p_comment"]
    assert dict((c["Name"], c["Type"]) for c in cols)["p_size"] == "bigint"
    # data read-back unions old+new files (mergeSchema)
    out = pipe2.read_target("part")
    assert out.count() == part.count() * 2
    assert "p_comment" in out.columns


def test_sharding_skips_unowned_tables(env, spark, sf_dir):
    tmp_path, make = env
    src = _write_source(spark, sf_dir, tmp_path)
    pipe = make(job_index=0, num_jobs=2)
    pipe2 = make(job_index=1, num_jobs=2)
    res_all = pipe.run([CFG], {"orders": src}) + pipe2.run([CFG], {"orders": src})
    # exactly one of the two job instances owns "orders"
    assert len(res_all) == 1


@pytest.mark.parametrize("fmt", ["csv", "json", "orc"])
def test_csv_json_target_formats_roundtrip(env, spark, sf_dir, fmt):
    """S6-S9 parity: csv (with header, read back via catalog schema),
    json, and orc targets produce the same rows as the parquet
    source."""
    tmp_path, make = env
    src = _write_source(spark, sf_dir, tmp_path)
    pipe = make(job_run_id="run-1", target_format=fmt)
    (r1,) = pipe.run([CFG], {"orders": src})
    assert not r1.skipped_empty

    full = spark.read.parquet(f"{sf_dir}/orders.parquet")
    back = pipe.read_target("orders")
    assert back.count() == full.count()
    # value-level spot check on a stable projection
    a = {
        (r.o_orderkey, r.o_orderstatus, round(r.o_totalprice, 2))
        for r in back.select("o_orderkey", "o_orderstatus", "o_totalprice").collect()
    }
    b = {
        (r.o_orderkey, r.o_orderstatus, round(r.o_totalprice, 2))
        for r in full.select("o_orderkey", "o_orderstatus", "o_totalprice").collect()
    }
    assert a == b


def test_unknown_target_format_rejected(env, spark, sf_dir):
    from aws_glue_jobs_incremental_database_etl_spark.sinks import write_partitioned

    with pytest.raises(ValueError, match="Unknown format"):
        write_partitioned(
            spark.range(1), "/tmp/never-written", fmt="avro", partition_spec=[]
        )


def test_cdc_merge_mode_applies_updates_and_deletes(env, spark, sf_dir):
    """mergeKeys switches a table from append to CDC apply: run 2's
    bookmark-delimited batch carries updates and tombstones and the
    target converges to the merged state instead of accumulating
    duplicates."""
    tmp_path, make = env
    full = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cfg = parse_table_config(
        '[{"tableName":"orders","bookmarkKeys":["op_seq"],"sortOrder":"ASC",'
        '"partitionSpec":"o_orderstatus","mergeKeys":["o_orderkey"],'
        '"versionColumn":"op_seq","deleteColumn":"is_deleted"}]'
    )

    src = str(tmp_path / "cdc_src")
    base = full.filter("o_orderkey <= 800").select(
        "*",
        F.col("o_orderkey").alias("op_seq"),
        F.lit(False).alias("is_deleted"),
    )
    base.write.mode("overwrite").parquet(src)
    (r1,) = make(job_run_id="r1").run(cfg, {"orders": src})
    assert r1.created_table and r1.rows_written == 801

    # CDC batch beyond the bookmark: update 10 rows, delete 5, insert 0
    updates = (
        full.filter("o_orderkey between 100 and 109")
        .select(
            "*",
            (F.col("o_orderkey") + 100000).alias("op_seq"),
            F.lit(False).alias("is_deleted"),
        )
        .withColumn("o_totalprice", F.lit(1.0))
    )
    deletes = full.filter("o_orderkey between 0 and 4").select(
        "*",
        (F.col("o_orderkey") + 200000).alias("op_seq"),
        F.lit(True).alias("is_deleted"),
    )
    updates.unionByName(deletes).write.mode("append").parquet(src)
    p2 = make(job_run_id="r2")
    (r2,) = p2.run(cfg, {"orders": src})

    out = p2.read_target("orders")
    assert out.count() == 801 - 5
    assert out.filter("o_orderkey < 5").count() == 0
    assert out.filter("o_totalprice = 1.0").count() == 10
    assert "is_deleted" not in out.columns  # tombstone marker never stored

    # replaying the same batch (at-least-once) converges, not duplicates
    (r3,) = make(job_run_id="r2-replay").run(cfg, {"orders": src})
    assert not r3.skipped_empty or True  # bookmark already advanced → empty
    assert p2.read_target("orders").count() == 796


def test_cdc_merge_mode_rejects_exactly_once(env, spark, sf_dir):
    tmp_path, _ = env
    from aws_glue_jobs_incremental_database_etl_spark.pipeline import (
        IncrementalPipeline,
    )
    from aws_glue_jobs_incremental_database_etl_spark.catalog import FileCatalog
    from aws_glue_jobs_incremental_database_etl_spark.bookmarks import BookmarkStore

    pipe = IncrementalPipeline(
        spark,
        FileCatalog(str(tmp_path / "cat2")),
        BookmarkStore(str(tmp_path / "bm2.json")),
        target_location=str(tmp_path / "lake2"),
        job_run_id="rx",
        exactly_once=True,
    )
    cfg = parse_table_config(
        '[{"tableName":"orders","bookmarkKeys":["o_orderkey"],"sortOrder":"ASC",'
        '"mergeKeys":["o_orderkey"]}]'
    )
    src = str(tmp_path / "src_orders_x")
    spark.read.parquet(f"{sf_dir}/orders.parquet").limit(10).write.parquet(src)
    with pytest.raises(ValueError, match="mergeKeys is incompatible"):
        pipe.run(cfg, {"orders": src})


def test_partition_spec_change_rejected(env, spark, sf_dir):
    """Changing a table's partitionSpec between runs would write a
    second directory layout under the same root — rejected."""
    tmp_path, make = env
    src = _write_source(spark, sf_dir, tmp_path)
    make(job_run_id="r1").run([CFG], {"orders": src})

    changed = TableConfig("orders", ["o_orderkey"], "ASC", ["o_orderpriority"])
    with pytest.raises(ValueError, match="partitionSpec changed"):
        make(job_run_id="r2").run([changed], {"orders": src})


def test_sink_compression_codec(spark, sf_dir, tmp_path):
    from aws_glue_jobs_incremental_database_etl_spark.sinks import write_partitioned

    df = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(100)
    loc = str(tmp_path / "zstd_out")
    write_partitioned(df, loc, compression="zstd", mode="overwrite")
    files = [f for f in os.listdir(loc) if f.endswith(".parquet")]
    assert files and all(".zstd." in f for f in files)
    assert spark.read.parquet(loc).count() == 100


# -- the fused batch pass: job counts and the behaviour it must keep --------


def _spark_jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return (its result, the number
    of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"pipeline-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "pipeline job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_table_run_job_counts(env, spark, sf_dir):
    """A non-empty append run is one aggregate and one write: at most 7
    Spark jobs (11 here when each stage ran its own pass).  A poll of an
    unchanged listing launches none; its bound of 2 dates from the
    ``take(1)`` probe it used to run."""
    tmp_path, make = env
    src = _write_source(spark, sf_dir, tmp_path, "o_orderkey <= 750")
    make(job_run_id="run-0").run([CFG], {"orders": src})

    src = _write_source(spark, sf_dir, tmp_path)
    (res,), n_step = _spark_jobs(
        spark, lambda: make(job_run_id="run-1").run([CFG], {"orders": src})
    )
    assert res.rows_written > 0
    assert n_step <= 7

    (res,), n_poll = _spark_jobs(
        spark, lambda: make(job_run_id="run-2").run([CFG], {"orders": src})
    )
    assert res.skipped_empty
    assert n_poll <= 2


CTX = "datasource0_tgt_orders"


def _signature(tmp_path):
    """The committed listing signature of tgt_orders, if any."""
    return BookmarkStore(str(tmp_path / "bookmarks.json")).get(CTX + "::listing")


def test_unchanged_listing_poll_launches_no_job(env, spark, sf_dir):
    """A poll of an unchanged file listing ends before Spark and
    rewrites no bookmark; a file with new keys after it loads exactly."""
    tmp_path, make = env
    full = spark.read.parquet(f"{sf_dir}/orders.parquet")
    src = _write_source(spark, sf_dir, tmp_path, "o_orderkey <= 750")
    make(job_run_id="run-1").run([CFG], {"orders": src})
    assert _signature(tmp_path) is not None
    bm = tmp_path / "bookmarks.json"
    before = (bm.read_bytes(), os.stat(bm).st_mtime_ns)

    (res,), n = _spark_jobs(spark, lambda: make(job_run_id="run-2").run([CFG], {"orders": src}))
    assert n == 0
    assert res.skipped_empty and res.rows_written == 0
    assert (bm.read_bytes(), os.stat(bm).st_mtime_ns) == before
    params = make().catalog.get_table("target", "tgt_orders")["Parameters"]
    assert params["LastUpdatedByJobRun"] == "run-2"

    new = full.filter("o_orderkey > 750")
    new.write.mode("append").parquet(src)
    pipe = make(job_run_id="run-3")
    (res,) = pipe.run([CFG], {"orders": src})
    assert res.rows_written == new.count()
    assert pipe.read_target("orders").count() == full.count()

    (res,), n = _spark_jobs(spark, lambda: make(job_run_id="run-4").run([CFG], {"orders": src}))
    assert n == 0 and res.skipped_empty


def test_rewritten_source_file_goes_full_path(env, spark, sf_dir, tmp_path):
    """A file rewritten in place (new mtime, or new size) and a Spark
    ``mode("overwrite")`` rewrite each change the listing, so the run
    scans; the in-place rewrite with new rows loads exactly those."""
    _, make = env
    full = spark.read.parquet(f"{sf_dir}/orders.parquet")
    src = str(tmp_path / "src_single")
    full.filter("o_orderkey <= 750").coalesce(1).write.parquet(src)
    (part,) = [f for f in os.listdir(src) if f.endswith(".parquet")]
    part = os.path.join(src, part)
    (r1,) = make(job_run_id="run-1").run([CFG], {"orders": src})

    def poll(run):
        return _spark_jobs(spark, lambda: make(job_run_id=run).run([CFG], {"orders": src}))

    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 10**10))
    (res,), n = poll("run-2")
    assert n > 0 and res.skipped_empty
    assert poll("run-3")[1] == 0

    whole = str(tmp_path / "src_whole")
    full.coalesce(1).write.parquet(whole)
    (big,) = [f for f in os.listdir(whole) if f.endswith(".parquet")]
    # an outside writer leaves no checksum; a stale one would fail the read
    os.remove(os.path.join(src, f".{os.path.basename(part)}.crc"))
    shutil.copyfile(os.path.join(whole, big), part)
    (res,), n = poll("run-4")
    assert n > 0 and res.rows_written == full.count() - r1.rows_written

    full.coalesce(1).write.mode("overwrite").parquet(src)
    (res,), n = poll("run-5")
    assert n > 0 and res.skipped_empty
    assert make().read_target("orders").count() == full.count()


def test_changed_config_goes_full_path(env, spark, sf_dir):
    """The signature covers the whole table config: a changed bookmark
    key set scans, and a changed partitionSpec still reaches its check."""
    tmp_path, make = env
    src = _write_source(spark, sf_dir, tmp_path)
    make(job_run_id="run-1").run([CFG], {"orders": src})
    keys = TableConfig("orders", ["o_orderkey", "o_custkey"], "ASC", ["o_orderstatus"])
    (res,), n = _spark_jobs(spark, lambda: make(job_run_id="run-2").run([keys], {"orders": src}))
    assert n > 0 and res.skipped_empty
    assert _spark_jobs(spark, lambda: make(job_run_id="run-3").run([keys], {"orders": src}))[1] == 0

    changed = TableConfig("orders", ["o_orderkey", "o_custkey"], "ASC", ["o_orderpriority"])
    with pytest.raises(ValueError, match="partitionSpec changed"):
        make(job_run_id="run-4").run([changed], {"orders": src})


def test_failed_run_leaves_no_signature(env, spark, sf_dir):
    """A run that fails before its commit stages nothing durable, so
    the next run of the same listing scans (and, at-least-once,
    re-reads)."""
    tmp_path, make = env
    src = _write_source(spark, sf_dir, tmp_path)
    cfg_b = TableConfig("lineitem", ["l_orderkey"], "ASC", [])
    with pytest.raises(Exception):
        make(job_run_id="r1").run(
            [CFG, cfg_b], {"orders": src, "lineitem": str(tmp_path / "nope")}
        )
    assert _signature(tmp_path) is None
    (res,), n = _spark_jobs(spark, lambda: make(job_run_id="r2").run([CFG], {"orders": src}))
    assert n > 0 and res.rows_written == spark.read.parquet(src).count()


def test_all_null_first_batch_stages_no_signature(env, spark, sf_dir):
    """A first batch whose keys are all null moves no watermark, so its
    listing gets no signature and the next run re-reads it, as before."""
    tmp_path, make = env
    full = spark.read.parquet(f"{sf_dir}/orders.parquet")
    nulls = full.limit(40).withColumn(
        "o_orderkey", F.lit(None).cast(full.schema["o_orderkey"].dataType)
    )
    src = str(tmp_path / "src_nullkeys")
    nulls.write.parquet(src)
    (r1,) = make(job_run_id="run-1").run([CFG], {"orders": src})
    assert r1.rows_written == 40
    assert make().bookmarks.get(CTX) is None and _signature(tmp_path) is None
    (r2,) = make(job_run_id="run-2").run([CFG], {"orders": src})
    assert r2.rows_written == 40 and not r2.skipped_empty


def test_desc_watermark_tracks_min(env, spark, sf_dir):
    tmp_path, make = env
    full = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cfg = TableConfig("orders", ["o_orderkey"], "DESC", ["o_orderstatus"])
    src = _write_source(spark, sf_dir, tmp_path, "o_orderkey > 750")
    (r1,) = make(job_run_id="run-1").run([cfg], {"orders": src})
    hi = full.filter("o_orderkey > 750")
    assert r1.rows_written == hi.count()
    ctx = "datasource0_tgt_orders"
    assert make().bookmarks.get(ctx) == {
        "o_orderkey": hi.agg(F.min("o_orderkey")).first()[0]
    }

    src = _write_source(spark, sf_dir, tmp_path)
    (r2,) = make(job_run_id="run-2").run([cfg], {"orders": src})
    assert r2.rows_written == full.count() - hi.count()
    assert make().bookmarks.get(ctx) == {
        "o_orderkey": full.agg(F.min("o_orderkey")).first()[0]
    }


def test_composite_bookmark_keys_advance_per_key(env, spark, sf_dir):
    tmp_path, make = env
    src = _write_source(spark, sf_dir, tmp_path, "o_orderkey <= 750")
    cfg = TableConfig("orders", ["o_orderkey", "o_custkey"], "ASC", [])
    make(job_run_id="run-1").run([cfg], {"orders": src})
    batch = spark.read.parquet(src)
    want = batch.agg(F.max("o_orderkey"), F.max("o_custkey")).first()
    assert make().bookmarks.get("datasource0_tgt_orders") == {
        "o_orderkey": want[0],
        "o_custkey": want[1],
    }


def test_null_partition_value_registration(env, spark, sf_dir):
    """A null partition value registers under the key ``"None"``."""
    tmp_path, make = env
    src = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderstatus") == "P", None).otherwise(F.col("o_orderstatus")),
    )
    p = str(tmp_path / "src_nullpart")
    src.write.mode("overwrite").parquet(p)
    (res,) = make().run([CFG], {"orders": p})
    want = {"F", "O", "None"}
    assert sorted(res.partitions_registered) == sorted(want)
    parts = make().catalog.get_partitions("target", "tgt_orders")
    assert set(parts) == want
    assert parts["None"]["Values"] == ["None"]
    assert parts["None"]["StorageDescriptor"]["Location"].endswith(
        "/tgt_orders/o_orderstatus=None/"
    )


def test_all_null_column_dropped_but_cdc_column_kept(env, spark, sf_dir):
    """An all-null data column leaves the written files, while an
    all-null delete marker (a batch with no tombstones) survives to the
    merge that needs it."""
    tmp_path, make = env
    cfg = parse_table_config(
        '[{"tableName":"orders","bookmarkKeys":["op_seq"],"sortOrder":"ASC",'
        '"partitionSpec":"o_orderstatus","mergeKeys":["o_orderkey"],'
        '"versionColumn":"op_seq","deleteColumn":"is_deleted"}]'
    )
    src = str(tmp_path / "cdc_nulls")
    batch = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "*",
        F.col("o_orderkey").alias("op_seq"),
        F.lit(None).cast("string").alias("ghost"),
        F.lit(None).cast("boolean").alias("is_deleted"),
    )
    batch.write.mode("overwrite").parquet(src)
    (res,) = make(job_run_id="r1").run(cfg, {"orders": src})
    assert res.rows_written == batch.count()
    files = spark.read.parquet(str(tmp_path / "lake" / "tgt_orders"))
    assert "ghost" not in files.columns
    assert "is_deleted" not in files.columns
    assert files.count() == batch.count()
    assert make().bookmarks.get("datasource0_tgt_orders") == {
        "op_seq": batch.agg(F.max("op_seq")).first()[0]
    }


@pytest.mark.parametrize("exactly_once", [False, True])
def test_rows_written_is_the_targets_delta(env, spark, sf_dir, exactly_once):
    tmp_path, make = env
    src = _write_source(spark, sf_dir, tmp_path, "o_orderkey <= 750")
    (r1,) = make(job_run_id="run-1", exactly_once=exactly_once).run(
        [CFG], {"orders": src}
    )
    before = make().read_target("orders").count()
    assert r1.rows_written == before

    src = _write_source(spark, sf_dir, tmp_path)
    pipe = make(job_run_id="run-2", exactly_once=exactly_once)
    (r2,) = pipe.run([CFG], {"orders": src})
    assert r2.rows_written == pipe.read_target("orders").count() - before > 0


def test_add_partitions_is_add_partition_with_one_save(tmp_path):
    """Batch registration stores what one add_partition call per tuple
    stores (create-else-update), with one rewrite of the database file."""
    spec = ["o_orderstatus", "o_year"]
    batch = [
        {"o_orderstatus": "F", "o_year": 1995},
        {"o_orderstatus": "O", "o_year": None},
        {"o_orderstatus": "F", "o_year": 1995},
    ]
    cols = [
        {"Name": "o_orderkey", "Type": "bigint"},
        {"Name": "o_orderstatus", "Type": "string"},
        {"Name": "o_year", "Type": "int"},
    ]

    class CountingCatalog(FileCatalog):
        saves = 0

        def _save(self, database, state):
            self.saves += 1
            super()._save(database, state)

    one = CountingCatalog(str(tmp_path / "one"))
    many = CountingCatalog(str(tmp_path / "many"))
    for cat in (one, many):
        cat.create_table("target", "t", cols[:1], "/lake/t", partition_keys=cols[1:])
        cat.saves = 0
    for values in batch:
        one.add_partition("target", "t", spec, values)
    many.add_partitions("target", "t", spec, batch)
    assert many.get_partitions("target", "t") == one.get_partitions("target", "t")
    assert set(many.get_partitions("target", "t")) == {"F/1995", "O/None"}
    assert (one.saves, many.saves) == (3, 1)
