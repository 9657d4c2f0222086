"""Per-table incremental ETL orchestration.

The engine's equivalent of the reference's ``Driver.run_transform`` +
``Transform._transform`` (``jdbc_incremental.py:564-639, 175-229``),
stage for stage (SURVEY.md §3):

  config → unchanged-listing check → catalog resolve → DDL branch
  (create / evolve) → incremental scan (bookmark filter, pushed down)
  → apply_mapping (cast to catalog types) → one batch aggregate (an
  empty batch stops here) → drop_null_fields → partition registration
  → partitioned append write → lineage stamp → single end-of-job
  bookmark commit (at-least-once, reference ``:639``).

Scale design — a non-empty batch costs two Spark actions, an empty
one costs one, and a poll of an unchanged file listing costs none:
- unchanged listing: a file source whose config, options and file
  listing (path, bytes, mtime) hash to the signature committed with
  its watermark cannot hold a row beyond it (the proof and the
  immutable-file contract are in ``bookmarks``), so the run stops
  before any DataFrame is built;
- the bookmark predicate is a Catalyst filter → pushed to the parquet
  row-group / JDBC WHERE level; the incremental batch, not the table,
  is what flows through the job;
- aggregate: ONE global aggregate over the cached, mapped batch gives
  the row count (zero ends the run as an empty batch), every column's
  non-null count (DropNullFields), the next watermark (per-key
  max/min) and the distinct partition tuples (bounded by partition
  cardinality, not data size);
- write: a distributed ``partitionBy`` append of the same cached
  batch — no per-partition driver round-trips; the partitions are
  registered with one catalog rewrite, not one per tuple.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .bookmarks import BookmarkStore, watermark_aggregates, watermark_from
from .catalog import FileCatalog
from .config import TableConfig
from .fsutil import fs_for
from .materialize import cached
from .sharding import select_tables
from .sinks import write_partitioned
from .sources import read_table
from .transforms import (
    apply_mapping,
    count_non_nulls,
    drop_null_fields,
    identity_mappings,
)
from .types import schema_to_columns

# names of the batch aggregate's extra results (beside the per-column
# non-null counts); a source column of the same name is rejected
_ROWS = "__graft_rows"
_WATERMARK = "__graft_watermark"
_PARTITIONS = "__graft_partitions"


@dataclass
class PipelineResult:
    """Outcome of one table's run (for tests / observability)."""

    table: str
    rows_written: int = 0
    skipped_empty: bool = False
    created_table: bool = False
    evolved_schema: bool = False
    partitions_registered: list[str] = field(default_factory=list)


class IncrementalPipeline:
    """Multi-table bookmark-driven incremental loader.

    ``source_locations`` maps source table name → file path (the local
    stand-in for the JDBC/catalog source of the reference); targets are
    written under ``target_location/{target_prefix}{name}`` mirroring
    the reference's naming (``jdbc_incremental.py:68, 575-577``).
    """

    def __init__(
        self,
        spark: SparkSession,
        catalog: FileCatalog,
        bookmarks: BookmarkStore,
        target_location: str,
        target_database: str = "target",
        target_format: str = "parquet",
        target_prefix: str = "",
        source_format: str = "parquet",
        job_name: str = "job",
        job_run_id: str = "run-0",
        job_index: int = 0,
        num_jobs: int = 1,
        creator_arn: str | None = None,
        source_options: dict | None = None,
        exactly_once: bool = False,
        bookmark_option: str = "job-bookmark-enable",
        encryption_type: str | None = None,
    ) -> None:
        self.spark = spark
        self.catalog = catalog
        self.bookmarks = bookmarks
        self.target_location = target_location.rstrip("/") + "/"
        self.target_database = target_database
        self.target_format = target_format
        self.target_prefix = target_prefix
        self.source_format = source_format
        self.job_name = job_name
        self.job_run_id = job_run_id
        self.job_index = job_index
        self.num_jobs = num_jobs
        self.creator_arn = creator_arn
        # forwarded to the source reader (e.g. JDBC driver properties,
        # hashfield/hashpartitions — the reference's additional_options)
        self.source_options = dict(source_options or {})
        # OFF by default for reference parity (at-least-once, :639);
        # ON = staged-commit protocol (txn.py): batches land in a
        # private staging dir and publish atomically with the bookmark
        # commit behind one manifest rename.
        self.exactly_once = exactly_once
        self._txn = None
        # Glue's job-bookmark-option (reference :246 requires the arg;
        # the Glue RUNTIME, not the script, interprets it — so the
        # local engine interprets it here): 'enable' = filter + advance
        # (default), 'pause' = filter with the existing watermark but
        # never advance (re-runnable window), 'disable' = full re-read,
        # no filter, no advance.  Short or full ('job-bookmark-…')
        # forms accepted.
        mode = (bookmark_option or "job-bookmark-enable").lower()
        mode = mode.removeprefix("job-bookmark-")
        if mode not in ("enable", "pause", "disable"):
            raise ValueError(
                f"bookmark_option must be one of job-bookmark-enable/"
                f"pause/disable, got {bookmark_option!r}"
            )
        self.bookmark_mode = mode
        # encryption-type (reference :261): control-plane passthrough —
        # recorded on created tables so downstream tooling sees the
        # job's declared at-rest encryption; no local KMS analogue
        # (same treatment as the E9 permissions grant).
        self.encryption_type = encryption_type

    # -- naming (reference :68, 575-577) -----------------------------------

    def target_table_name(self, source_name: str) -> str:
        return self.target_prefix + source_name

    def target_path(self, source_name: str) -> str:
        return self.target_location + self.target_table_name(source_name)

    # -- orchestration (reference :564-639) --------------------------------

    def run(
        self, configs: list[TableConfig], source_locations: dict[str, str]
    ) -> list[PipelineResult]:
        """Run every table owned by this job shard, then commit ALL
        bookmarks once (at-least-once semantics, reference ``:639``;
        or staged exactly-once when ``exactly_once=True``)."""
        if self.exactly_once:
            from .txn import StagedCommit, recover_pending

            # finish any crashed-but-committed predecessor first
            recover_pending(self.target_location, self.bookmarks)
            self._txn = StagedCommit(self.target_location, self.job_run_id)
        owned = set(
            select_tables([c.table_name for c in configs], self.job_index, self.num_jobs)
        )
        results = []
        for cfg in configs:
            if cfg.table_name not in owned:
                continue
            results.append(self.run_table(cfg, source_locations[cfg.table_name]))
        # Single commit AFTER the loop — a mid-loop failure replays all
        # tables next run (duplicated appends = at-least-once), exactly
        # like the reference's lone job.commit().  In exactly_once mode
        # the same single-commit shape holds, but data publish and
        # bookmark commit ride one atomic manifest rename instead.
        if self.exactly_once:
            self._txn.commit(self.bookmarks)
        else:
            self.bookmarks.commit()
        return results

    def _source_signature(self, cfg: TableConfig, source_path: str) -> dict | None:
        """What an unchanged-listing poll compares (``bookmarks``): the
        table's config, the source format, options and path, and the
        file listing.  ``None`` for a JDBC source, a glob or a missing
        path, which always scan."""
        if self.source_format.lower() == "jdbc" or any(c in source_path for c in "*?[{"):
            return None
        files = fs_for(source_path, self.spark).listing(source_path)
        if files is None:
            return None
        return {
            "config": asdict(cfg),
            "format": self.source_format.lower(),
            "options": self.source_options,
            "path": source_path,
            "files": files,
        }

    def run_table(self, cfg: TableConfig, source_path: str) -> PipelineResult:
        res = PipelineResult(table=cfg.table_name)
        t0 = dt.datetime.now(dt.timezone.utc)
        ctx = f"datasource0_{self.target_table_name(cfg.table_name)}"
        tgt_name = self.target_table_name(cfg.table_name)

        # (0) unchanged listing: the listing is taken BEFORE the scan, so
        # a file that lands after it is never covered by the staged
        # signature.  A match ends the run with no DataFrame built and no
        # Spark job; the lineage stamp still runs, as for any empty batch.
        enable = self.bookmark_mode == "enable"
        source = self._source_signature(cfg, source_path) if enable else None
        if (
            source is not None
            and self.bookmarks.listing_unchanged(ctx, source)
            and self.catalog.table_exists(self.target_database, tgt_name)
        ):
            res.skipped_empty = True
            self._stamp_lineage_and_grant(res, tgt_name, t0)
            return res

        # (1) scan + bookmark filter — both pushed into the source scan
        # (parquet row-group skipping / JDBC WHERE pushdown).
        src = read_table(
            self.spark, source_path, self.source_format, **self.source_options
        )
        if self.bookmark_mode == "disable":
            batch = src  # full re-read: the watermark is ignored
        else:
            batch = self.bookmarks.filter_new(
                src, ctx, cfg.bookmark_keys, cfg.sort_order
            )

        if cfg.merge_keys and self.exactly_once:
            raise ValueError(
                f"table {cfg.table_name!r}: mergeKeys is incompatible with "
                "exactly_once (the staged-commit protocol publishes by "
                "moving appended files; a merge rewrites directories in "
                "place).  CDC tables run at-least-once — replaying the "
                "same batch re-merges to the identical state."
            )

        # DDL branch (reference :604-615): create target if absent,
        # else merge the (possibly evolved) source schema into it.
        source_columns = schema_to_columns(src.schema)
        if cfg.delete_col:
            # the tombstone marker is batch metadata, never stored
            source_columns_ddl = [
                c for c in source_columns if c["Name"] != cfg.delete_col
            ]
        else:
            source_columns_ddl = source_columns
        created = not self.catalog.table_exists(self.target_database, tgt_name)
        # name matching is case-insensitive, like Spark's own column
        # resolution — JDBC catalogs (Derby, Oracle, DB2) report
        # upper-cased names that must still match a lower-case spec
        spec_lower = [s.lower() for s in cfg.partition_spec]
        if created:
            data_cols = [
                c
                for c in source_columns_ddl
                if c["Name"].lower() not in spec_lower
            ]
            part_cols = [
                c for c in source_columns_ddl if c["Name"].lower() in spec_lower
            ]
            # preserve partition_spec order (reference :96-102, 389-399)
            part_cols.sort(key=lambda c: spec_lower.index(c["Name"].lower()))
            self.catalog.create_table(
                self.target_database,
                tgt_name,
                data_cols,
                self.target_path(cfg.table_name),
                fmt=self.target_format,
                partition_keys=part_cols,
                parameters={
                    "CreatedByJob": self.job_name,
                    "CreatedByJobRun": self.job_run_id,
                    **(
                        {"EncryptionType": self.encryption_type}
                        if self.encryption_type
                        else {}
                    ),
                },
            )
            res.created_table = True
        else:
            from .evolution import merge_schemas

            tgt = self.catalog.get_table(self.target_database, tgt_name)
            # partition layout is immutable once data exists: a changed
            # partitionSpec would silently write a SECOND directory
            # layout under the same table root (half the files
            # k1=v/..., half k2=v/... — unreadable as one table)
            existing_spec = [c["Name"] for c in tgt.get("PartitionKeys", [])]
            if [k.lower() for k in existing_spec] != spec_lower:
                raise ValueError(
                    f"table {cfg.table_name!r}: partitionSpec changed from "
                    f"{existing_spec} to {list(cfg.partition_spec)}; partition "
                    "layout is immutable — create a new table (or rewrite via "
                    "maintenance.compact_partitioned_table) to repartition"
                )
            existing = tgt["StorageDescriptor"]["Columns"]
            src_data_cols = [
                c
                for c in source_columns_ddl
                if c["Name"].lower() not in spec_lower
            ]
            merged = merge_schemas(src_data_cols, existing, cfg.partition_spec)
            if merged != existing:
                self.catalog.update_table_columns(self.target_database, tgt_name, merged)
                res.evolved_schema = True

        # (2) map/cast to catalog types (reference :199-203).
        mapped = apply_mapping(batch, identity_mappings(source_columns))

        # Cache the batch once, scoped to this run: it is the snapshot
        # that the aggregate (3) and the write (4) both read, so the
        # row count, the registered partitions, the watermark and the
        # written rows agree — a JDBC source re-queries the database on
        # every action.  ``cached`` releases the blocks when the write
        # and the bookmark staging are done, also when either raises.
        with cached(mapped) as mapped:
            # (3) ONE global aggregate over the batch: the row count,
            # every column's non-null count (DropNullFields, reference
            # :205-208), the next watermark and the distinct partition
            # tuples (reference :210-220; bounded by partition
            # cardinality, not data size).
            extra = {_ROWS: F.count(F.lit(1))}
            if enable:
                extra[_WATERMARK] = F.struct(
                    *watermark_aggregates(cfg.bookmark_keys, cfg.sort_order)
                )
            if cfg.partition_spec:
                extra[_PARTITIONS] = F.collect_set(F.struct(*cfg.partition_spec))
            stats = count_non_nulls(mapped, extra)
            # An empty batch (reference :194-197) writes, registers and
            # advances nothing; in 'enable' mode it stages its listing's
            # signature, so the next poll of the same listing launches
            # no Spark job.  The lineage stamp + creator grant still run
            # (the reference calls update_table_job_info and the
            # first-creation grant unconditionally after transform(),
            # :617-637 — an empty batch must not leave a created table
            # unstamped).
            if stats[_ROWS] == 0:
                res.skipped_empty = True
                if source is not None:
                    self.bookmarks.stage_listing(ctx, source)
                self._stamp_lineage_and_grant(res, tgt_name, t0)
                return res

            pruned = drop_null_fields(mapped, stats)
            # CDC columns are contract, not data: a batch with no
            # tombstones (all-null delete marker) must not lose the
            # column the merge logic keys on
            protected = {cfg.delete_col, cfg.version_col, *cfg.merge_keys} - {None}
            if protected - set(pruned.columns):
                keep = [
                    c
                    for c in mapped.columns
                    if c in pruned.columns or c in protected
                ]
                pruned = mapped.select(*keep)

            if cfg.partition_spec:
                values = [
                    dict(zip(cfg.partition_spec, t)) for t in stats[_PARTITIONS]
                ]
                self.catalog.add_partitions(
                    self.target_database,
                    tgt_name,
                    cfg.partition_spec,
                    values,
                    fmt=self.target_format,
                )
                res.partitions_registered.extend(
                    "/".join(str(v[k]) for k in cfg.partition_spec)
                    for v in values
                )

            # (4) write.  CDC tables (mergeKeys, [EXT]) MERGE the batch
            # into the target — latest-per-key, tombstone deletes, only
            # touched partition directories rewritten (merge.py);
            # replaying the same batch re-merges to the identical state,
            # preserving the at-least-once contract.  Everything else is
            # the reference's partitioned append (:222-229); its row
            # count is the aggregate's.  In exactly_once mode the batch
            # lands in the run's private staging dir and is published
            # at commit (txn.py).
            if cfg.merge_keys:
                from .merge import merge_upsert

                merged = merge_upsert(
                    self.spark,
                    self.target_path(cfg.table_name),
                    pruned,
                    cfg.merge_keys,
                    fmt=self.target_format,
                    partition_spec=cfg.partition_spec,
                    version_col=cfg.version_col,
                    delete_col=cfg.delete_col,
                )
                res.rows_written = merged["rows_written"]
            else:
                if self.exactly_once:
                    write_partitioned(
                        pruned,
                        self._txn.staging_path(tgt_name),
                        fmt=self.target_format,
                        partition_spec=cfg.partition_spec,
                        mode="overwrite",
                    )
                    self._txn.register(tgt_name, self.target_path(cfg.table_name))
                else:
                    write_partitioned(
                        pruned,
                        self.target_path(cfg.table_name),
                        fmt=self.target_format,
                        partition_spec=cfg.partition_spec,
                        mode="append",
                    )
                res.rows_written = stats[_ROWS]

            # (5) stage the new watermark from THIS batch — only in
            # 'enable' mode: 'pause' replays the same window next run
            # (the filter still applied, the watermark frozen);
            # 'disable' never tracks state at all — both are Glue's
            # documented option semantics.  Committed with all the
            # others in run().  The listing's signature rides along
            # only when the watermark holds a key: an all-null first
            # batch leaves the next scan unfiltered.
            if enable:
                wm = watermark_from(stats[_WATERMARK], cfg.bookmark_keys)
                self.bookmarks.stage(ctx, wm)
                if wm and source is not None:
                    self.bookmarks.stage_listing(ctx, source)

        self._stamp_lineage_and_grant(res, tgt_name, t0)
        return res

    def _stamp_lineage_and_grant(
        self, res: PipelineResult, tgt_name: str, t0: dt.datetime
    ) -> None:
        """Lineage stamp (reference :617-623, 480-503) and
        first-creation grant (reference :626-637); runs for empty and
        non-empty batches alike."""
        t1 = dt.datetime.now(dt.timezone.utc)
        self.catalog.update_table_job_info(
            self.target_database,
            tgt_name,
            self.job_name,
            self.job_run_id,
            transform_time=str(t1 - t0),
            completed_on=t1.isoformat(),
        )
        if res.created_table:
            self.catalog.grant_all_permissions_to_creator(
                self.target_database, tgt_name, self.creator_arn
            )

    # -- reading back ------------------------------------------------------

    def read_target(self, source_name: str) -> DataFrame:
        """Read a target table back using the CATALOG's evolved schema.

        This is how Hive/Glue reads evolved tables: the catalog schema
        (not per-file inference) drives the scan.  Spark 4's parquet
        reader supports the widening promotions schema evolution can
        produce (int→bigint, float→double); columns appended after a
        file was written read as NULL in that file — matching the
        reference's "old data stays queryable" contract (E2).
        """
        path = self.target_path(source_name)
        if not fs_for(path, self.spark).exists(path):
            raise FileNotFoundError(path)
        from pyspark.sql import types as T

        from .types import hive_to_spark

        t = self.catalog.get_table(
            self.target_database, self.target_table_name(source_name)
        )
        fields = [
            T.StructField(c["Name"], hive_to_spark(c["Type"]))
            for c in t["StorageDescriptor"]["Columns"] + t.get("PartitionKeys", [])
        ]
        reader = self.spark.read.schema(T.StructType(fields))
        if self.target_format == "csv":
            reader = reader.option("header", "true")
        return reader.format(self.target_format).load(path)
