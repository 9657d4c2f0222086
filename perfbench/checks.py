"""Output checks: every problem found is one string in the returned list.

Tables are compared as Arrow tables by row count and by the
order-insensitive value hash of ``tools/check_oracle.table_hash`` (the
repo's oracle gate), after timestamps are normalised to naive UTC so
Spark's zone-aware Arrow export and the generator's naive timestamps
hash alike.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))

from check_oracle import table_hash  # noqa: E402


def _naive(col: pa.ChunkedArray) -> pa.ChunkedArray:
    if pa.types.is_timestamp(col.type) and col.type.tz is not None:
        return col.cast(pa.timestamp(col.type.unit))
    return col


def arrow_hash(tbl: pa.Table) -> str:
    cols = tbl.column_names
    rows = list(zip(*[_naive(tbl.column(c)).to_pylist() for c in cols]))
    return table_hash(cols, rows)


def check_table(name: str, expected: pa.Table, got: pa.Table) -> list[str]:
    """Same columns, same row count, same multiset of rows."""
    if sorted(expected.column_names) != sorted(got.column_names):
        return [f"{name}: columns {sorted(got.column_names)} != {sorted(expected.column_names)}"]
    if expected.num_rows != got.num_rows:
        return [f"{name}: {got.num_rows} rows, expected {expected.num_rows}"]
    if arrow_hash(expected) != arrow_hash(got):
        return [f"{name}: value hash differs from the expected rows"]
    return []


def check_bookmark(name: str, committed: dict | None, key: str, expected_max) -> list[str]:
    got = (committed or {}).get(key)
    if got != expected_max:
        return [f"{name}: committed bookmark {key}={got!r}, source max is {expected_max!r}"]
    return []


def check_partitions(name: str, registered: set[str], expected: set[str]) -> list[str]:
    if registered != expected:
        missing, extra = sorted(expected - registered), sorted(registered - expected)
        return [f"{name}: catalog partitions missing {missing[:5]}, unexpected {extra[:5]}"]
    return []


CDC_EXPECTED_SQL = """
SELECT * EXCLUDE (rn, IS_DELETED) FROM (
  SELECT *, row_number() OVER (PARTITION BY O_ORDERKEY ORDER BY CHANGE_SEQ DESC) AS rn
  FROM log
) WHERE rn = 1 AND IS_DELETED = 0
"""


def cdc_expected(log: pa.Table) -> pa.Table:
    """Latest change per key minus tombstones, computed by DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("log", log)
        return con.execute(CDC_EXPECTED_SQL).fetch_arrow_table()
    finally:
        con.close()
