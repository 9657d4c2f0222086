"""Shuffle sizing in ``tables.load_table``: AQE's initial partition
count follows the input bytes of the table directory."""

from __future__ import annotations

from aws_glue_jobs_incremental_database_etl_spark import tables
from aws_glue_jobs_incremental_database_etl_spark.fsutil import dir_bytes

_KEY = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"


def test_load_table_restores_initial_partition_num(spark, sf_dir):
    """Every load_table sets the conf, so a value changed in between
    (another caller, another session reusing the object id) never
    survives into the next query."""
    before = spark.conf.get(_KEY, None)
    try:
        tables.load_table(spark, sf_dir, "nation")
        tuned = spark.conf.get(_KEY)
        spark.conf.set(_KEY, "7")
        tables.load_table(spark, sf_dir, "nation")
        assert spark.conf.get(_KEY) == tuned
    finally:
        if before is None:
            spark.conf.unset(_KEY)
        else:
            spark.conf.set(_KEY, before)


def test_directory_style_table_counts_its_part_files(spark, tmp_path, monkeypatch):
    """A ``name.parquet/part-*.parquet`` table is sized by its part
    files (recursively); ``_SUCCESS`` and ``.crc`` side files are not."""
    table = tmp_path / "lineitem.parquet"
    (table / "l_shipmode=AIR").mkdir(parents=True)
    for i, mb in enumerate((24, 16)):
        with open(table / "l_shipmode=AIR" / f"part-{i:05d}.parquet", "wb") as fh:
            fh.truncate(mb << 20)  # sparse: sized, not written
    (table / "_SUCCESS").write_bytes(b"")
    (table / "l_shipmode=AIR" / ".part-00000.parquet.crc").write_bytes(b"x" * 4096)
    assert dir_bytes(str(tmp_path)) == 40 << 20

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    monkeypatch.delenv("SPARK_GRAFT_INITIAL_PARTITIONS", raising=False)
    before = spark.conf.get(_KEY, None)
    try:
        tables.tune_shuffle_for_input(spark, str(tmp_path))
        assert spark.conf.get(_KEY) == "40"
    finally:
        tables._DIR_BYTES.pop(str(tmp_path), None)
        if before is None:
            spark.conf.unset(_KEY)
        else:
            spark.conf.set(_KEY, before)


def test_schema_cache_keys_on_nanos_as_long(spark, sf_dir, monkeypatch):
    """``nanosAsLong`` decides how a TIMESTAMP(NANOS) column infers, so
    a schema cached under one value is not reused under the other."""
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(conf)
    monkeypatch.setattr(tables, "_SCHEMA_CACHE", {})
    try:
        for value in ("true", "false", "true"):
            spark.conf.set(conf, value)
            tables.load_table(spark, sf_dir, "orders")
        assert len(tables._SCHEMA_CACHE) == 2
    finally:
        spark.conf.set(conf, old)
