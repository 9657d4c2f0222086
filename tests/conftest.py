from __future__ import annotations

import os

import pytest

from aws_glue_jobs_incremental_database_etl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    # registered only, never deselected: every test still runs by default
    config.addinivalue_line(
        "markers", "slow: multi-second property or end-to-end test"
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="engine-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def load(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
