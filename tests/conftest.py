from __future__ import annotations

import os
import uuid

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MID = "/root/testdata/sf0.01"


def count_jobs(spark, fn):
    """(number of Spark jobs ``fn`` launched, its result)."""
    sc = spark.sparkContext
    group = f"jobs_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: multi-second end-to-end training runs")


@pytest.fixture(scope="session")
def spark():
    from predictor_spark.session import get_spark

    spark = get_spark("predictor_spark_tests", cpus=8)
    yield spark


@pytest.fixture(scope="session")
def tables(spark):
    from predictor_spark.sources.tables import register_views

    return register_views(spark, SF_DIR)
