"""File-backed Glue-Data-Catalog shim.

Hermetic stand-in for the boto3 Glue catalog control plane the
reference drives (SURVEY.md §2.9 E1–E6, E9): tables with
``StorageDescriptor`` / ``PartitionKeys`` / ``Parameters`` /
``TableType``, Hive-style partitions with per-partition storage
descriptors, lineage properties, and a no-op permissions hook (Lake
Formation has no local analogue).

State is one JSON document per database under the catalog root —
small metadata, driver-side only; the data plane never touches it.
Every mutation is one locked read-modify-write of its database's
document (``fsutil`` documents): two shards loading different tables
into one database must not lose each other's updates.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
from collections.abc import Iterator, Sequence
from contextlib import contextmanager
from typing import Any

from .fsutil import fs_for, locked, read_json, write_json

Column = dict[str, str]

# Hive SerDe wiring per format — parity with the reference's storage
# descriptors (parquet: jdbc_incremental.py:130-140,328-338; csv:
# :142-152,339-345; json stub: :346-349). These class names are public
# Apache Hive constants.
_FORMAT_WIRING: dict[str, dict[str, Any]] = {
    "parquet": {
        "InputFormat": "org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat",
        "OutputFormat": "org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat",
        "SerdeInfo": {
            "SerializationLibrary": "org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe",
            "Parameters": {"serialization.format": "1"},
        },
    },
    "csv": {
        "InputFormat": "org.apache.hadoop.mapred.TextInputFormat",
        "OutputFormat": "org.apache.hadoop.hive.ql.io.HiveIgnoreKeyTextOutputFormat",
        "SerdeInfo": {
            "SerializationLibrary": "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe",
            "Parameters": {"field.delim": ","},
        },
    },
    "json": {  # catalog-only stub, as in the reference (:346-349)
        "InputFormat": "",
        "OutputFormat": "",
        "SerdeInfo": {},
    },
    "orc": {  # [EXT] beyond the reference; standard Hive ORC wiring
        "InputFormat": "org.apache.hadoop.hive.ql.io.orc.OrcInputFormat",
        "OutputFormat": "org.apache.hadoop.hive.ql.io.orc.OrcOutputFormat",
        "SerdeInfo": {
            "SerializationLibrary": "org.apache.hadoop.hive.ql.io.orc.OrcSerde",
            "Parameters": {"serialization.format": "1"},
        },
    },
}


def get_storage_descriptor(
    fmt: str, columns: Sequence[Column], location: str
) -> dict[str, Any]:
    """Format-specific storage descriptor (reference ``:327-361``)."""
    fmt = fmt.lower()
    if fmt not in _FORMAT_WIRING:
        raise ValueError(f"Unknown format: {fmt}")
    wiring = _FORMAT_WIRING[fmt]
    return {
        "Columns": [dict(c) for c in columns],
        "Location": location,
        "InputFormat": wiring["InputFormat"],
        "OutputFormat": wiring["OutputFormat"],
        "SerdeInfo": json.loads(json.dumps(wiring["SerdeInfo"])),
    }


def partition_location(
    table_location: str, partition_spec: Sequence[str], values: dict[str, Any]
) -> str:
    """Hive path rendering ``.../k1=v1/k2=v2/`` (reference ``:114-120``);
    values stringified as in the reference (``:156``)."""
    base = table_location.rstrip("/")
    return base + "".join(f"/{k}={values[k]}" for k in partition_spec) + "/"


class FileCatalog:
    """A Glue-catalog-shaped metastore persisted as JSON files."""

    _READONLY_KEYS = ("CreatedBy", "CreateTime", "UpdateTime", "DatabaseName")

    def __init__(self, root: str) -> None:
        self.root = root
        fs_for(root).mkdirs(root)

    # -- persistence ------------------------------------------------------

    def _db_path(self, database: str) -> str:
        return os.path.join(self.root, f"{database}.json")

    def _load(self, database: str) -> dict[str, Any]:
        return read_json(self._db_path(database), {"tables": {}})

    def _save(self, database: str, state: dict[str, Any]) -> None:
        write_json(self._db_path(database), state)

    @contextmanager
    def _edit(self, database: str, name: str) -> Iterator[dict[str, Any]]:
        """Table ``name``'s entry for one read-modify-write under the
        database's lock, saved when the body returns.  The body must
        not call another mutating method (the lock is not
        re-entrant)."""
        with locked(self._db_path(database)):
            state = self._load(database)
            if name not in state["tables"]:
                raise KeyError(f"table not found: {database}.{name}")
            yield state["tables"][name]
            self._save(database, state)

    # -- tables (E1, E2, E4, E5, E6) --------------------------------------

    def table_exists(self, database: str, name: str) -> bool:
        """get_table try/except → bool (reference ``:308-317``)."""
        return name in self._load(database)["tables"]

    def get_table(self, database: str, name: str) -> dict[str, Any]:
        tables = self._load(database)["tables"]
        if name not in tables:
            raise KeyError(f"table not found: {database}.{name}")
        return tables[name]

    def create_table(
        self,
        database: str,
        name: str,
        columns: Sequence[Column],
        location: str,
        fmt: str = "parquet",
        partition_keys: Sequence[Column] = (),
        parameters: dict[str, str] | None = None,
        source_connection: str | None = None,
    ) -> dict[str, Any]:
        """Create an EXTERNAL_TABLE entry (reference ``create_table``
        ``:363-422``): format wiring, lineage parameters, ordered
        partition keys, CSV header-skip property, optional
        SourceConnection propagation (``:401-412``)."""
        params = dict(parameters or {})
        if source_connection:
            params["SourceConnection"] = source_connection
        if fmt.lower() == "csv":
            params["skip.header.line.count"] = "1"
        table = {
            "Name": name,
            "TableType": "EXTERNAL_TABLE",
            "StorageDescriptor": get_storage_descriptor(fmt, columns, location),
            "PartitionKeys": [dict(c) for c in partition_keys],
            "Parameters": params,
            "CreateTime": dt.datetime.now(dt.timezone.utc).isoformat(),
            "Partitions": {},
        }
        with locked(self._db_path(database)):
            state = self._load(database)
            state["tables"][name] = table
            self._save(database, state)
        return table

    def update_table(self, database: str, name: str, table_input: dict[str, Any]) -> None:
        """Replace a table entry, dropping read-only keys — parity with
        ``update_table_job_info``'s key stripping (reference
        ``:487-491``)."""
        with self._edit(database, name) as t:
            t.update(
                (k, v)
                for k, v in table_input.items()
                if k not in self._READONLY_KEYS
            )

    def update_table_columns(
        self, database: str, name: str, columns: Sequence[Column]
    ) -> None:
        """Swap in an evolved column list (the write half of E2)."""
        with self._edit(database, name) as t:
            t["StorageDescriptor"]["Columns"] = [dict(c) for c in columns]

    def get_tables(self, database: str, name_regex: str | None = None) -> list[str]:
        """List table names, optionally filtered by an anchored regex —
        parity with the paginated ``Expression="^{prefix}.*"`` listing
        (reference ``:505-518``)."""
        names = sorted(self._load(database)["tables"].keys())
        if name_regex:
            rx = re.compile(name_regex)
            names = [n for n in names if rx.match(n)]
        return names

    def update_table_job_info(
        self,
        database: str,
        name: str,
        job_name: str,
        job_run_id: str,
        transform_time: str,
        completed_on: str | None = None,
    ) -> None:
        """Stamp lineage properties (reference ``:480-503``):
        LastUpdatedByJob / LastUpdatedByJobRun / TransformTime /
        LastTransformCompletedOn; TableType defaulted if missing."""
        with self._edit(database, name) as t:
            t.setdefault("TableType", "EXTERNAL_TABLE")
            t["Parameters"].update(
                {
                    "LastUpdatedByJob": job_name,
                    "LastUpdatedByJobRun": job_run_id,
                    "TransformTime": transform_time,
                    "LastTransformCompletedOn": completed_on
                    or dt.datetime.now(dt.timezone.utc).isoformat(),
                }
            )

    # -- partitions (E3) ---------------------------------------------------

    def add_partition(
        self,
        database: str,
        table: str,
        partition_spec: Sequence[str],
        values: dict[str, Any],
        fmt: str | None = None,
    ) -> dict[str, Any]:
        """Idempotent create-else-update partition registration —
        parity with the reference's try create / except update
        (``:158-173``).  Partition values stringified (``:156``);
        per-partition storage descriptor carries the non-partition
        columns and the format wiring (``:122-152``)."""
        return self.add_partitions(database, table, partition_spec, [values], fmt)[0]

    def add_partitions(
        self,
        database: str,
        table: str,
        partition_spec: Sequence[str],
        values_list: Sequence[dict[str, Any]],
        fmt: str | None = None,
    ) -> list[dict[str, Any]]:
        """:meth:`add_partition` for every values dict of a batch, with
        one load and one save of the database file instead of one
        rewrite per partition."""
        with self._edit(database, table) as t:
            fmt = fmt or _format_of(t)
            data_columns = [
                c
                for c in t["StorageDescriptor"]["Columns"]
                if c["Name"] not in partition_spec
            ]
            parts = t.setdefault("Partitions", {})
            out = []
            for values in values_list:
                loc = partition_location(
                    t["StorageDescriptor"]["Location"], partition_spec, values
                )
                key = "/".join(str(values[k]) for k in partition_spec)
                parts[key] = {
                    "Values": [str(values[k]) for k in partition_spec],
                    "StorageDescriptor": get_storage_descriptor(
                        fmt, data_columns, loc
                    ),
                }
                out.append(parts[key])
        return out

    def get_partitions(self, database: str, table: str) -> dict[str, Any]:
        return self.get_table(database, table).get("Partitions", {})

    # -- permissions (E9) --------------------------------------------------

    def grant_all_permissions_to_creator(
        self, database: str, table: str, creator_arn: str | None
    ) -> None:
        """Lake Formation grant hook (reference ``:626-637``) — no local
        analogue; recorded as a table parameter only."""
        if not creator_arn:
            return
        with self._edit(database, table) as t:
            t["Parameters"]["PermissionsGrantedTo"] = creator_arn


def _format_of(table: dict[str, Any]) -> str:
    out = table["StorageDescriptor"].get("OutputFormat", "")
    if "parquet" in out.lower():
        return "parquet"
    if "IgnoreKeyText" in out:
        return "csv"
    return "json"
