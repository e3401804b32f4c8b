from __future__ import annotations

import os

import pytest

from data_transformation_2022_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def jobs_submitted(spark):
    """Callable: the jobs the DAG scheduler has accepted so far, from
    every thread (the engine's prefetch pools submit off the main one)."""
    return lambda: spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
