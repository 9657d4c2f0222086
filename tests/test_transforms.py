"""ApplyMapping / DropNullFields tests (SURVEY.md P1, P2)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_glue_jobs_incremental_database_etl_spark.transforms import (
    apply_mapping,
    count_non_nulls,
    drop_null_fields,
    identity_mappings,
)


def test_apply_mapping_cast_matrix(spark):
    df = spark.createDataFrame(
        [("1", "2.5", "2024-03-01 10:00:00", "true", 7)],
        ["a", "b", "c", "d", "e"],
    )
    out = apply_mapping(
        df,
        [
            ("a", "a_int", "int"),
            ("b", "b_dec", "decimal(5,2)"),
            ("c", "c_ts", "timestamp"),
            ("d", "d_bool", "boolean"),
            ("e", "e_str", "string"),
        ],
    )
    assert out.columns == ["a_int", "b_dec", "c_ts", "d_bool", "e_str"]
    row = out.first()
    assert row.a_int == 1
    assert float(row.b_dec) == 2.5
    assert row.c_ts == dt.datetime(2024, 3, 1, 10, 0, 0)
    assert row.d_bool is True
    assert row.e_str == "7"


def test_apply_mapping_drops_unmapped(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["a", "b", "c"])
    out = apply_mapping(df, [("a", "a", "bigint")])
    assert out.columns == ["a"]


def test_identity_mappings():
    cols = [{"Name": "x", "Type": "int"}, {"Name": "y", "Type": "string"}]
    assert identity_mappings(cols) == [("x", "x", "int"), ("y", "y", "string")]


def test_drop_null_fields_matrix(spark):
    # FIXTURES.md scenario 3: all-null dropped, half-null kept, no-null kept
    schema = T.StructType(
        [
            T.StructField("keep", T.IntegerType()),
            T.StructField("half", T.StringType()),
            T.StructField("gone", T.StringType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, "x", None), (2, None, None), (3, "y", None)], schema
    )
    out = drop_null_fields(df)
    assert out.columns == ["keep", "half"]
    assert out.count() == 3


def test_drop_null_fields_empty_input_keeps_columns(spark):
    schema = T.StructType([T.StructField("a", T.IntegerType())])
    df = spark.createDataFrame([], schema)
    assert drop_null_fields(df).columns == ["a"]


def test_count_non_nulls_single_pass(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/customer.parquet").withColumn(
        "allnull", F.lit(None).cast("string")
    )
    counts = count_non_nulls(df)
    assert counts["allnull"] == 0
    assert counts["c_custkey"] == df.count()
    # extra aggregates ride the same pass, under their own names
    stats = count_non_nulls(df, {"rows": F.count(F.lit(1))})
    assert stats == {**counts, "rows": df.count()}
    with pytest.raises(ValueError, match="clash"):
        count_non_nulls(df, {"c_custkey": F.count(F.lit(1))})


def test_drop_null_fields_trusts_given_counts(spark):
    """Given counts are used as they are: no probe, no recount."""
    df = spark.createDataFrame([(1, "x")], ["a", "b"])
    assert drop_null_fields(df, {"a": 1, "b": 0}).columns == ["a"]
    assert drop_null_fields(df, {}).columns == []


def test_rescue_columns_contract(spark):
    from aws_glue_jobs_incremental_database_etl_spark.transforms import (
        rescue_columns,
    )
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [("1", "x", "extra1", None), ("oops", "y", None, "e2")],
        "k string, keep string, a string, b string",
    )
    out = rescue_columns(
        df, [("k", "int"), ("keep", "string"), ("missing", "double")]
    )
    assert out.columns == ["k", "keep", "missing", "_rescued"]
    rows = {r["keep"]: r for r in out.collect()}
    assert rows["x"]["k"] == 1
    assert rows["y"]["k"] is None           # try_cast failure -> NULL
    assert rows["x"]["missing"] is None     # expected-but-absent -> typed NULL
    assert rows["x"]["_rescued"] == '{"a":"extra1"}'   # NULL extras omitted
    assert rows["y"]["_rescued"] == '{"b":"e2"}'
    # no extras at all -> rescued NULL
    out2 = rescue_columns(df.select("k"), [("k", "int")])
    assert out2.filter(F.col("_rescued").isNotNull()).count() == 0
