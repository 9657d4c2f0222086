"""Row-stream transforms: ApplyMapping and DropNullFields equivalents.

These are the two Glue transforms the reference applies between scan
and sink (``jdbc_incremental.py:199-208``), re-expressed as Catalyst
projections so they stay inside whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .types import hive_to_spark


def apply_mapping(
    df: DataFrame, mappings: Sequence[tuple[str, str, str]]
) -> DataFrame:
    """Project + rename + cast, one column per mapping tuple.

    Parity with Glue ``ApplyMapping.apply(frame, mappings)``
    (``jdbc_incremental.py:199-203``): each ``(src, dst, type_str)``
    selects source column ``src``, renames it ``dst``, casts to the
    catalog type; unmapped columns are dropped.  The reference builds
    identity mappings from the catalog schema
    (``get_mappings``, ``jdbc_incremental.py:111-112``).

    One ``select`` of cast expressions → Catalyst collapses it into the
    scan projection (column pruning + cast folding); zero extra passes.
    """
    exprs = [
        F.col(src).cast(hive_to_spark(type_str)).alias(dst)
        for (src, dst, type_str) in mappings
    ]
    return df.select(*exprs)


def identity_mappings(columns: Sequence[dict[str, str]]) -> list[tuple[str, str, str]]:
    """Catalog columns → identity (src, src, type) mapping tuples.

    Mirrors ``Transform.get_mappings`` (``jdbc_incremental.py:111-112``).
    """
    return [(c["Name"], c["Name"], c["Type"]) for c in columns]


def count_non_nulls(
    df: DataFrame, extra: dict[str, Column] | None = None
) -> dict[str, Any]:
    """Per-column non-null counts in ONE pass (partial+final agg).

    ``F.count(col)`` counts non-null values, so a single ``agg`` over
    all columns gives every column's null-ness with one scan and a
    1-row shuffle — this is the data-dependent pass DropNullFields
    needs (no Catalyst rule can avoid it; SURVEY.md §4).

    ``extra`` (name → aggregate column) rides the same pass: each
    result comes back under its name beside the counts, so a caller
    that needs other batch statistics (the pipeline's row count,
    watermark and partition tuples) pays for one scan, not several.
    """
    extra = extra or {}
    clash = sorted(set(extra) & set(df.columns))
    if clash:
        raise ValueError(f"extra aggregate names clash with columns: {clash}")
    row = df.agg(
        *[F.count(F.col(c)).alias(c) for c in df.columns],
        *[agg.alias(name) for name, agg in extra.items()],
    ).first()
    return dict(zip([*df.columns, *extra], row))


def drop_null_fields(
    df: DataFrame, non_null_counts: dict[str, int] | None = None
) -> DataFrame:
    """Drop every column whose value is null in ALL rows.

    Parity with Glue ``DropNullFields.apply``
    (``jdbc_incremental.py:205-208``), which removes NullType/all-null
    fields before partition discovery and the write — so an all-null
    source column silently disappears from the target files.

    With ``non_null_counts`` (e.g. from the pipeline's one aggregate
    over a batch it has already found non-empty) this is a pure
    projection: no Spark job.  Without them it probes for emptiness
    and counts: an empty input keeps all columns (the reference never
    reaches this transform with an empty batch thanks to its take(1)
    probe, ``jdbc_incremental.py:194-197``).
    """
    if non_null_counts is None:
        if len(df.take(1)) == 0:
            return df
        non_null_counts = count_non_nulls(df)
    all_null = [c for c in df.columns if non_null_counts.get(c, 0) == 0]
    return df.drop(*all_null) if all_null else df


def rescue_columns(
    df: DataFrame,
    expected: Sequence[tuple[str, str]],
    rescued_col: str = "_rescued",
) -> DataFrame:
    """Schema-drift quarantine (the `_rescued_data` pattern): project
    the frame onto the ``expected`` ``(name, type)`` contract —
    missing columns materialize as typed NULLs, matching columns are
    ``try_cast`` to the contract type — and fold every UNEXPECTED
    column into one deterministic JSON string column instead of
    dropping it.

    Complements evolution.merge_schemas (reference
    ``jdbc_incremental.py:441-460``): evolution handles the *planned*
    drift path (catalog updated, target widened); rescue handles the
    *unplanned* one — a source suddenly shipping extra columns keeps
    loading, nothing is lost, and the rescued payload stays queryable
    with JSON functions until the contract catches up.

    The rescued JSON is built with sorted keys and explicit
    ``key:value`` concatenation (values via CAST AS STRING), so it is
    byte-deterministic and engine-reproducible — NULL extras are
    omitted, an empty rescue is NULL.  Map-only; no shuffle, no UDF.

    ``try_cast`` (not ``cast``) keeps the contract total: a value that
    cannot convert becomes NULL in the typed column while its source
    text survives in the rescued payload only if its column was
    unexpected — type-failed EXPECTED columns are data-quality
    signal, countable downstream via ``typed IS NULL AND raw IS NOT
    NULL`` against the source.
    """
    expected_names = [n for n, _ in expected]
    extras = sorted(c for c in df.columns if c not in expected_names)
    typed = [
        (
            F.expr(f"try_cast(`{n}` AS {t})") if n in df.columns
            else F.lit(None).cast(t)
        ).alias(n)
        for n, t in expected
    ]
    if extras:
        pieces = [
            F.when(
                F.col(c).isNotNull(),
                F.concat(
                    F.lit(f'"{c}":"'),
                    F.col(c).cast("string"),
                    F.lit('"'),
                ),
            )
            for c in extras
        ]
        body = F.concat_ws(",", *pieces)
        rescued = F.when(
            body != "", F.concat(F.lit("{"), body, F.lit("}"))
        ).alias(rescued_col)
    else:
        rescued = F.lit(None).cast("string").alias(rescued_col)
    return df.select(*typed, rescued)
