"""The ``etl_incremental`` workload: the paper's pipeline as a scheduled
file job, exactly-once, that appends two parquet-source tables
(``orders``, ``lineitem``) to partitioned lake tables.  The first load
takes half of each table; a delta run appends about 1% of each, and a
poll finds nothing new.

A traced run also runs a CDC job, at-least-once, that reads an
``orders`` change log from an embedded Derby database over JDBC and
merges it into a partitioned table (latest version per key wins,
tombstones delete), for the per-layer figures of ``sources`` over JDBC
and ``merge``.  It is left out of the timed runs: with the engine's
default shuffle sizing (256 initial partitions) a merge batch took
5-19 s and the first load of the change log 12-23 s on a 4-cpu guest,
more than a run may spend.
"""

from __future__ import annotations

import csv
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import checks
import gen
from harness import Bench, log
from spans import instrument_bookmarks, instrument_catalog, instrument_modules

# orders 15k, lineitem ~60k rows in all; the first load takes half of
# each, every delta the next 1%.  At this size a run's time is set by
# its Spark job count more than by its bytes.
ETL_SF = 0.01
# The first delta runs in a JVM still compile code: their CPU time fell
# by half over the first four.  So the first WARMUP_CYCLES cycles (with
# no polls) stay out of the medians.
WARMUP_CYCLES = 2
MIN_CYCLES = 4
POLLS_PER_CYCLE = 2
CDC_BATCHES = 3

FILE_TABLES = {
    # name: (bookmark key, partition spec)
    "orders": ("o_orderkey", "o_orderstatus"),
    "lineitem": ("l_orderkey", "l_returnflag/l_linestatus"),
}
CDC_TABLE = "orders_cdc"
CDC_KEYS = 5_000
DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def lake_files(root: str) -> dict[str, tuple[int, int]]:
    """Data files under ``root`` (skipping ``_``/``.`` entries such as the
    txn log, staging and checksums): relative path → (inode, bytes)."""
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                st = os.stat(os.path.join(d, f))
                out[os.path.relpath(os.path.join(d, f), root)] = (st.st_ino, st.st_size)
    return out


class Job:
    """One pipeline job whose catalog, bookmark store and lake live under
    ``root``: a fresh catalog, bookmark store and pipeline per run, as a
    scheduled job would build them."""

    def __init__(self, b: Bench, name: str, root: str, configs, locations, **pipeline_kw) -> None:
        self.b, self.name, self.configs, self.locations = b, name, configs, locations
        self.root, self.lake = root, os.path.join(root, "lake")
        self.kw = pipeline_kw
        self.n_runs = 0

    def catalog(self):
        from aws_glue_jobs_incremental_database_etl_spark.catalog import FileCatalog

        return FileCatalog(os.path.join(self.root, "catalog"))

    def bookmarks(self):
        from aws_glue_jobs_incremental_database_etl_spark.bookmarks import BookmarkStore

        return BookmarkStore(os.path.join(self.root, "bookmarks.json"))

    def pipeline(self, traced: bool = False):
        from aws_glue_jobs_incremental_database_etl_spark.pipeline import IncrementalPipeline

        cat, bm = self.catalog(), self.bookmarks()
        if traced:
            instrument_catalog(self.b.tracer, cat, self.b.counts)
            instrument_bookmarks(self.b.tracer, bm)
        self.n_runs += 1
        return IncrementalPipeline(
            self.b.spark, cat, bm, target_location=self.lake,
            target_prefix="tgt_", job_run_id=f"{self.name}-{self.n_runs:04d}", **self.kw,
        )

    def run(self, traced: bool) -> dict[str, object]:
        with self.b.tracer.span("pipeline.run"):
            results = self.pipeline(traced).run(self.configs, self.locations)
        return {r.table: r for r in results}


class Derby:
    """An in-memory Derby database inside the Spark driver JVM, loaded
    through Derby's own bulk import (no Spark job)."""

    def __init__(self, spark, name: str, work: str) -> None:
        self.jvm = spark._jvm
        self.url = f"jdbc:derby:memory:{name}"
        self.work = work
        self.conn = self.jvm.java.sql.DriverManager.getConnection(self.url + ";create=true")
        self.execute(
            "CREATE TABLE ORDERS_CDC (O_ORDERKEY BIGINT, O_CUSTKEY BIGINT, "
            "O_ORDERSTATUS VARCHAR(1), O_TOTALPRICE DOUBLE, O_ORDERDATE DATE, "
            "O_YEAR INT, CHANGE_SEQ BIGINT, IS_DELETED SMALLINT)"
        )
        self.n_files = 0

    def execute(self, sql: str) -> None:
        st = self.conn.createStatement()
        try:
            st.execute(sql)
        finally:
            st.close()

    def append(self, rows: list[tuple]) -> int:
        self.n_files += 1
        path = os.path.join(self.work, f"cdc-{self.n_files:05d}.csv")
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            for r in rows:
                w.writerow([r[0], r[1], r[2], repr(r[3]), r[4].isoformat(), r[5], r[6], r[7]])
        self.execute(
            "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE("
            f"'APP', 'ORDERS_CDC', '{path}', ',', '\"', 'UTF-8', 0)"
        )
        size = os.path.getsize(path)
        os.unlink(path)
        return size

    def drop(self) -> None:
        self.conn.close()
        try:
            self.jvm.java.sql.DriverManager.getConnection(self.url + ";drop=true")
        except Exception as e:  # Derby reports a successful drop as SQLException 08006
            if "08006" not in str(e) and "dropped" not in str(e):
                raise


class FileSource:
    """The parquet-source tables, cut by key: the first half, then
    successive 1% chunks, each chunk a new file in the source directory."""

    def __init__(self, b: Bench) -> None:
        self.b = b
        self.tables = gen.make_tables(b.seed, ETL_SF)
        n_orders = self.tables["orders"].num_rows
        # lineitem is cut by l_orderkey on the orders' key ranges
        self.size = {name: (n_orders if name == "lineitem" else self.tables[name].num_rows)
                     for name in FILE_TABLES}
        self.n_chunks = min(1 + (n - n // 2) // max(1, n // 100) for n in self.size.values())
        self.root = os.path.join(b.work, "src")
        self.loaded: dict[str, list[pa.Table]] = {name: [] for name in FILE_TABLES}

    def _bounds(self, name: str, j: int) -> tuple[int, int]:
        h, s = self.size[name] // 2, max(1, self.size[name] // 100)
        return (0, h) if j == 0 else (h + (j - 1) * s, h + j * s)

    def write_chunk(self, j: int) -> dict[str, int]:
        rows = {}
        for name, (key, _) in FILE_TABLES.items():
            lo, hi = self._bounds(name, j)
            col = self.tables[name][key]
            part = self.tables[name].filter(pc.and_(pc.greater_equal(col, lo), pc.less(col, hi)))
            os.makedirs(os.path.join(self.root, name), exist_ok=True)
            path = os.path.join(self.root, name, f"part-{j:05d}.parquet")
            pq.write_table(part, path)
            self.loaded[name].append(part)
            rows[name] = part.num_rows
            info = self.b.inputs.setdefault(name, {"rows": 0, "bytes": 0, "files": 0})
            info["rows"] += part.num_rows
            info["bytes"] += os.path.getsize(path)
            info["files"] += 1
        return rows

    def job(self, root: str) -> Job:
        from aws_glue_jobs_incremental_database_etl_spark.config import parse_table_config

        configs = parse_table_config([
            {"tableName": name, "bookmarkKeys": [key], "sortOrder": "ASC", "partitionSpec": spec}
            for name, (key, spec) in FILE_TABLES.items()
        ])
        locations = {name: os.path.join(self.root, name) for name in FILE_TABLES}
        return Job(self.b, "files", root, configs, locations, exactly_once=True)

    def check(self, job: Job) -> None:
        p, cat, bm = job.pipeline(), job.catalog(), job.bookmarks()
        for name, (key, spec) in FILE_TABLES.items():
            expected = pa.concat_tables(self.loaded[name])
            try:
                problems = checks.check_table(name, expected, p.read_target(name).toArrow())
            except Exception as e:
                problems = [f"{name}: read_target raised {type(e).__name__}: {e}"]
            problems += checks.check_bookmark(
                name, bm.get(f"datasource0_tgt_{name}"), key, pc.max(expected[key]).as_py())
            cols = spec.split("/")
            want = {"/".join(str(v) for v in t) for t in zip(*[expected[c].to_pylist() for c in cols])}
            problems += checks.check_partitions(
                name, set(cat.get_partitions("target", f"tgt_{name}")), want)
            self.b.check(problems)


class CdcSource:
    """The ``orders`` change log in Derby, one batch appended per delta."""

    def __init__(self, b: Bench) -> None:
        self.b = b
        self.log = gen.ChangeLog(b.seed, CDC_KEYS)
        self.derby = Derby(b.spark, f"perfbench_{os.getpid()}", b.work)
        b.inputs[CDC_TABLE] = {"rows": 0, "bytes": 0, "batches": 0}
        self._load(self.log.batches[0])

    def _load(self, rows: list[tuple]) -> int:
        info = self.b.inputs[CDC_TABLE]
        info["rows"] += len(rows)
        info["bytes"] += self.derby.append(rows)
        info["batches"] += 1
        return len(rows)

    def next_batch(self) -> int:
        return self._load(self.log.next_batch())

    def job(self, root: str) -> Job:
        from aws_glue_jobs_incremental_database_etl_spark.config import parse_table_config

        configs = parse_table_config([{
            "tableName": CDC_TABLE, "bookmarkKeys": ["CHANGE_SEQ"], "sortOrder": "ASC",
            "partitionSpec": "O_YEAR", "mergeKeys": ["O_ORDERKEY"],
            "versionColumn": "CHANGE_SEQ", "deleteColumn": "IS_DELETED",
        }])
        return Job(
            self.b, "cdc", root, configs, {CDC_TABLE: f"{self.derby.url}::ORDERS_CDC"},
            source_format="jdbc",
            source_options={"properties": DERBY_PROPS, "hashfield": "O_ORDERKEY",
                            "hashpartitions": self.b.cpus},
        )

    def check(self, job: Job) -> None:
        """The target must be the latest change per key minus tombstones."""
        changes = pa.Table.from_pylist(
            [dict(zip(gen.CDC_COLUMNS, r)) for r in self.log.all_rows()],
            schema=pa.schema([
                ("O_ORDERKEY", pa.int64()), ("O_CUSTKEY", pa.int64()),
                ("O_ORDERSTATUS", pa.string()), ("O_TOTALPRICE", pa.float64()),
                ("O_ORDERDATE", pa.date32()), ("O_YEAR", pa.int32()),
                ("CHANGE_SEQ", pa.int64()), ("IS_DELETED", pa.int16()),
            ]),
        )
        expected = checks.cdc_expected(changes)
        try:
            got = job.pipeline().read_target(CDC_TABLE).toArrow()
            problems = checks.check_table(CDC_TABLE, expected, got)
        except Exception as e:
            problems = [f"{CDC_TABLE}: read_target raised {type(e).__name__}: {e}"]
        problems += checks.check_bookmark(
            CDC_TABLE, job.bookmarks().get(f"datasource0_tgt_{CDC_TABLE}"), "CHANGE_SEQ",
            int(np.max(changes["CHANGE_SEQ"].to_numpy())))
        self.b.check(problems)


def cycle(b: Bench, job: Job, kind: str, traced: bool, want: dict[str, int] | None) -> bool:
    """One timed run of ``job``; ``want`` is the rows each table must take
    in, ``None`` for a poll that must find nothing."""
    traced = traced and b.trace
    before = lake_files(job.lake) if traced else {}
    bytes0 = b.counts["catalog.bytes_written"]
    ok, out = b.op(kind, lambda: job.run(traced), traced)
    if not ok:
        return False
    got = {t: (0 if r.skipped_empty else r.rows_written) for t, r in out.items()}
    if want is None:
        if any(got.values()):
            b.fail(f"{kind}: an empty poll wrote rows {got}")
    elif CDC_TABLE in want:
        # a merge writes back whole partitions, so only that it wrote is checked
        if not got.get(CDC_TABLE):
            b.fail(f"{kind}: the merge of {want[CDC_TABLE]} changes wrote nothing")
    elif got != want:
        b.fail(f"{kind}: rows written {got}, expected {want}")
    if traced:
        new = [v for k, v in lake_files(job.lake).items() if before.get(k) != v]
        b.counts[f"{kind}.files_written"] += len(new)
        b.counts[f"{kind}.bytes_written"] += sum(v[1] for v in new)
        b.counts[f"{kind}.catalog.bytes_written"] += b.counts["catalog.bytes_written"] - bytes0
        if want and CDC_TABLE in want:
            merged = out[CDC_TABLE]
            b.counts[f"{kind}.partitions_rewritten"] += len(merged.partitions_registered)
            b.counts[f"{kind}.rows_rewritten"] += merged.rows_written
            b.counts[f"{kind}.rows_changed"] += want[CDC_TABLE]
    return True


def cdc_cycles(b: Bench) -> None:
    """The traced run's CDC job: the change log's first load, then
    ``CDC_BATCHES`` merged batches, then the output check."""
    cdc = CdcSource(b)
    try:
        job = cdc.job(os.path.join(b.work, "cdc"))
        ok = cycle(b, job, "cdc_first", True, {CDC_TABLE: len(cdc.log.batches[0])})
        for _ in range(CDC_BATCHES):
            ok = ok and cycle(b, job, "cdc_step", True, {CDC_TABLE: cdc.next_batch()})
        cdc.check(job)
    finally:
        cdc.derby.drop()


def etl_incremental(b: Bench) -> None:
    t0 = time.perf_counter()
    files = FileSource(b)
    first = files.write_chunk(0)
    b.inputs["generate_s"] = time.perf_counter() - t0
    b.layer["pipeline.tables"] = len(FILE_TABLES)

    restore = instrument_modules(b.tracer) if b.trace else (lambda: None)
    try:
        job = files.job(os.path.join(b.work, "files"))
        ok = cycle(b, job, "first", True, first)
        # A traced run traces every other timed delta cycle, so the
        # untraced ones give the tracing overhead.
        deadline = time.perf_counter() + b.seconds
        i = 1
        while ok and i < files.n_chunks and (
                i <= WARMUP_CYCLES + MIN_CYCLES or time.perf_counter() < deadline):
            warm = "warmup_" if i <= WARMUP_CYCLES else ""
            traced = not warm and i % 2 == 0
            ok = cycle(b, job, warm + "step", traced, files.write_chunk(i))
            for _ in range(0 if warm else POLLS_PER_CYCLE):
                ok = ok and cycle(b, job, "floor", traced, None)
            i += 1
        b.record_overhead()
        if b.trace:
            cdc_cycles(b)
    finally:
        restore()
    now = lake_files(job.lake)
    b.layer["lake.files"] = float(len(now))
    b.layer["lake.mb"] = sum(v[1] for v in now.values()) / 1e6
    t0 = time.perf_counter()
    files.check(job)
    log(f"output checks {time.perf_counter() - t0:.2f} s")
