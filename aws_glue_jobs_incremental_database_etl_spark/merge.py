"""CDC merge/upsert into a Hive-partitioned parquet target.

The reference pipeline is append-only: its bookmark contract assumes
monotonically increasing keys and never revisits a row
(``jdbc_incremental.py:175-192, 222-229``).  Real incremental
*database* replication also ships UPDATEs and DELETEs; this module
adds the missing half — MERGE semantics over plain directories, the
Iceberg/Delta ``MERGE INTO`` reduced to partition-level swaps:

1. collapse the update batch to one row per key — latest wins by
   ``version_col`` (total-ordered via ``max(struct(version, ...))``,
   so exact version ties still resolve deterministically);
2. read ONLY the partitions the batch touches (partition-pruned
   scan), anti-join away rows being replaced or deleted;
3. union the survivors with the collapsed upserts
   (``unionByName(allowMissingColumns=True)`` — new source columns
   appear null-filled in old rows, matching the schema-evolution
   contract in ``evolution.py``);
4. write the merged rows to a staging tree and swap ONLY the
   affected partition directories into the live tree.

Scale notes (100 TB): cost is O(touched partitions + batch), never
O(table).  The affected-partition list is a bounded driver collect
(same contract as the reference's partition discovery) capped by
``max_affected_partitions``.  The per-directory swap is atomic per
partition but not across partitions — at scale, publish via a
manifest/metastore pointer (see ``txn.py``) instead of directory
renames.  Constraint: a key's partition values must be immutable
(standard for Hive-layout upserts — relocating a key requires a
global index or a full-table anti-join; neither is attempted here,
and a moved key would leave its old row in the old partition).
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .fsutil import swap_tree
from .materialize import cached
from .sinks import SUPPORTED_FORMATS


def collapse_latest(
    updates: DataFrame, keys: Sequence[str], version_col: str
) -> DataFrame:
    """One row per key: the max ``(version, payload...)`` struct.

    Struct comparison is lexicographic field-by-field, so the version
    column decides first and the remaining payload columns break exact
    version ties deterministically (no ``max_by`` nondeterminism).
    ``version_col`` must be non-null and orderable.
    """
    others = [c for c in updates.columns if c not in keys and c != version_col]
    packed = updates.groupBy(*keys).agg(
        F.max(F.struct(F.col(version_col), *[F.col(c) for c in others])).alias("_w")
    )
    return packed.select(
        *keys, F.col(f"_w.{version_col}"), *[F.col(f"_w.{c}") for c in others]
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    op_col: str = "op",
) -> DataFrame:
    """Derive the change feed between two snapshots: rows of ``new``
    tagged ``insert``/``update`` plus deleted keys tagged ``delete``
    (payload from ``old``) — the inverse of :func:`merge_upsert`
    (``merge_upsert(old, table_diff(old, new), ...)`` reproduces
    ``new``), and the standard way to bootstrap CDC from systems that
    only give you periodic full dumps.

    One full-outer join on the keys; change detection compares the
    packed payload structs (null-safe single comparison, not N
    per-column ORs).  Unchanged rows are dropped.
    """
    keys = list(keys)
    payload = [c for c in new.columns if c not in keys]
    if payload != [c for c in old.columns if c not in keys]:
        raise ValueError(
            "old/new schemas differ; align columns before diffing "
            f"(old={old.columns}, new={new.columns})"
        )
    o = old.select(
        *keys, F.struct(*[F.col(c) for c in payload]).alias("__old")
    )
    n = new.select(
        *keys, F.struct(*[F.col(c) for c in payload]).alias("__new")
    )
    joined = o.join(n, on=keys, how="full_outer")
    op = (
        F.when(F.col("__old").isNull(), F.lit("insert"))
        .when(F.col("__new").isNull(), F.lit("delete"))
        .when(~F.col("__old").eqNullSafe(F.col("__new")), F.lit("update"))
    )
    body = F.coalesce(F.col("__new"), F.col("__old"))
    return (
        joined.withColumn(op_col, op)
        .filter(F.col(op_col).isNotNull())  # unchanged rows drop out
        .select(*keys, *[body[c].alias(c) for c in payload], op_col)
    )


def scd2_apply(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: Sequence[str],
    *,
    version_col: str,
    delete_col: str | None = None,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> dict[str, int]:
    """Slowly-changing-dimension Type 2 apply: instead of overwriting
    (:func:`merge_upsert` is Type 1), every change CLOSES the current
    row (``valid_to`` = new version) and appends a new one
    (``valid_from`` = new version, ``valid_to`` NULL = current) — the
    warehouse-dimension history pattern, so any past state remains
    queryable with ``valid_from <= v AND (valid_to IS NULL OR
    valid_to > v)``.

    Per batch: collapse to latest-per-key (intermediate versions
    within one batch are not historized — feed finer batches if every
    hop matters), no-op keys whose payload is unchanged, close+append
    for changed keys, close-only for tombstones.  History rows
    (already closed) stream through untouched.

    Rewrite is whole-table behind an atomic swap — dimensions are
    small next to facts.  At large dimension cardinality store the
    history bucketed by key hash and prune like ``merge_upsert``.
    Returns ``{"rows_total", "rows_closed", "rows_appended"}``.
    """
    keys = list(keys)
    collapsed = collapse_latest(updates, keys, version_col)
    if delete_col is not None:
        is_del = F.coalesce(F.col(delete_col).cast("boolean"), F.lit(False))
        collapsed = collapsed.withColumn("__del", is_del).drop(delete_col)
    else:
        collapsed = collapsed.withColumn("__del", F.lit(False))
    payload = [
        c for c in collapsed.columns if c not in keys and c not in (version_col, "__del")
    ]

    if not os.path.exists(path):
        fresh = (
            collapsed.filter(~F.col("__del"))
            .select(
                *keys,
                *payload,
                F.col(version_col).alias(from_col),
                F.lit(None).cast(collapsed.schema[version_col].dataType).alias(to_col),
            )
        )
        fresh.write.parquet(path)
        n = spark.read.parquet(path).count()
        return {"rows_total": n, "rows_closed": 0, "rows_appended": n}

    tgt = spark.read.parquet(path)
    history = tgt.filter(F.col(to_col).isNotNull())
    current = tgt.filter(F.col(to_col).isNull())

    cur_pack = current.select(
        *keys, F.struct(*[F.col(c) for c in payload]).alias("__cur"),
        F.col(from_col),
    )
    new_pack = collapsed.select(
        *keys, F.struct(*[F.col(c) for c in payload]).alias("__new"),
        F.col(version_col).alias("__v"), "__del",
    )
    j = cur_pack.join(new_pack, on=keys, how="full_outer")

    changed = (~F.col("__cur").eqNullSafe(F.col("__new"))) | F.col("__del")
    # current rows: keep open if no batch row or payload unchanged;
    # close at the batch version otherwise
    kept_current = j.filter(F.col("__cur").isNotNull()).select(
        *keys,
        *[F.col("__cur")[c].alias(c) for c in payload],
        F.col(from_col),
        F.when(F.col("__new").isNull() | ~changed, F.lit(None)).otherwise(
            F.col("__v")
        ).cast(tgt.schema[to_col].dataType).alias(to_col),
    )
    # new versions: inserts, and updates whose payload actually changed
    appended = j.filter(
        F.col("__new").isNotNull()
        & ~F.col("__del")
        & (F.col("__cur").isNull() | changed)
    ).select(
        *keys,
        *[F.col("__new")[c].alias(c) for c in payload],
        F.col("__v").alias(from_col),
        F.lit(None).cast(tgt.schema[to_col].dataType).alias(to_col),
    )
    out = history.select(*keys, *payload, from_col, to_col).unionByName(
        kept_current
    ).unionByName(appended)

    # count the old generation BEFORE the swap — its files move away
    n_history, n_current = history.count(), current.count()

    staging = f"{path}.__merge_{int(time.time() * 1000)}"
    out.write.parquet(staging)
    swap_tree(path, staging)

    final = spark.read.parquet(path)
    total = final.count()
    closed_total = final.filter(F.col(to_col).isNotNull()).count()
    return {
        "rows_total": total,
        "rows_closed": closed_total - n_history,
        "rows_appended": total - n_history - n_current,
    }


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: Sequence[str],
    *,
    fmt: str = "parquet",
    partition_spec: Sequence[str] | None = None,
    version_col: str | None = None,
    delete_col: str | None = None,
    max_affected_partitions: int = 10_000,
) -> dict[str, int]:
    """MERGE ``updates`` into the table at ``path``.

    Rows matching on ``keys`` are replaced (latest per key by
    ``version_col``); rows whose ``delete_col`` is true are removed;
    everything else is inserted.  Returns
    ``{"rows_written", "rows_deleted", "partitions_rewritten"}``.

    Without ``version_col`` the batch must already be unique per key
    (validated).  ``delete_col`` marks tombstones inside the batch;
    tombstones participate in the version collapse (a later upsert
    supersedes an earlier delete and vice versa) and the column is
    dropped from the stored schema.
    """
    fmt = fmt.lower()
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"Unknown format: {fmt}")
    keys = list(keys)
    spec = list(partition_spec or [])
    path = path.rstrip("/")

    # ---- 1. collapse the batch to one decision per key ----------------
    if version_col is not None:
        collapsed = collapse_latest(updates, keys, version_col)
    else:
        dups = (
            updates.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1).limit(1).count()
        )
        if dups:
            raise ValueError(
                "updates contain duplicate keys; pass version_col to define "
                "latest-wins order"
            )
        collapsed = updates
    with cached(collapsed) as collapsed:
        if delete_col is not None:
            is_del = F.coalesce(F.col(delete_col).cast("boolean"), F.lit(False))
            inserts = collapsed.filter(~is_del).drop(delete_col)
            del_keys = collapsed.filter(is_del).select(*keys)
        else:
            inserts = collapsed
            del_keys = None
        all_keys = collapsed.select(*keys)

        target_exists = os.path.exists(path)
        obs = Observation()
        deleted = 0

        if not target_exists:
            out = inserts.observe(obs, F.count(F.lit(1)).alias("n"))
            writer = out.write.mode("overwrite").format(fmt)
            if spec:
                writer = writer.partitionBy(*spec)
            writer.save(path)
            return {
                "rows_written": int(obs.get["n"]),
                "rows_deleted": 0,
                "partitions_rewritten": 0,
            }

        # ---- 2. partition-pruned read of the touched slice ----------------
        reader = spark.read.format(fmt)
        if fmt == "csv":
            reader = reader.option("header", "true").option("inferSchema", "true")
        target = reader.load(path)
        affected: list = []
        if spec:
            affected = collapsed.select(*spec).distinct().collect()
            if len(affected) > max_affected_partitions:
                raise ValueError(
                    f"batch touches {len(affected)} partitions "
                    f"(> max_affected_partitions={max_affected_partitions}); "
                    "split the batch or raise the cap"
                )
            cond = reduce(
                lambda a, b: a | b,
                [
                    reduce(
                        lambda a, b: a & b,
                        [F.col(k).eqNullSafe(F.lit(row[k])) for k in spec],
                    )
                    for row in affected
                ],
            )
            target = target.filter(cond)

        # ---- 3. merge ------------------------------------------------------
        kept = target.join(all_keys, on=keys, how="left_anti")
        if del_keys is not None:
            deleted = target.join(del_keys, on=keys, how="left_semi").count()
        merged = kept.unionByName(inserts, allowMissingColumns=True).observe(
            obs, F.count(F.lit(1)).alias("n")
        )

        # ---- 4. staged write + per-partition swap --------------------------
        stamp = int(time.time() * 1000)
        staging = f"{path}.__merge_{stamp}"
        writer = merged.write.mode("overwrite").format(fmt)
        if spec:
            writer = writer.partitionBy(*spec)
        writer.save(staging)

        def _partdir(base: str, row) -> str:
            parts = []
            for k in spec:
                v = "__HIVE_DEFAULT_PARTITION__" if row[k] is None else str(row[k])
                if "/" in v or "=" in v:
                    # Spark escapes such values in directory names
                    # (%2F/%3D); rather than replicate the escaping table,
                    # refuse — partition columns with path metacharacters
                    # are a layout smell anyway
                    raise ValueError(
                        f"partition value {v!r} for {k!r} contains path "
                        "metacharacters; cast/sanitize the partition column "
                        "before merging"
                    )
                parts.append(f"{k}={v}")
            return os.path.join(base, *parts)

        if spec:
            trash = f"{path}.__merge_trash_{stamp}"
            os.makedirs(trash, exist_ok=True)
            for i, row in enumerate(affected):
                live, staged = _partdir(path, row), _partdir(staging, row)
                if os.path.exists(live):
                    os.rename(live, os.path.join(trash, str(i)))
                if os.path.exists(staged):
                    os.makedirs(os.path.dirname(live), exist_ok=True)
                    os.rename(staged, live)
            shutil.rmtree(staging, ignore_errors=True)
            shutil.rmtree(trash, ignore_errors=True)
        else:
            swap_tree(path, staging)

        return {
            "rows_written": int(obs.get["n"]),
            "rows_deleted": int(deleted),
            "partitions_rewritten": len(affected) if spec else 1,
        }
