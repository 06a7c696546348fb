from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from dblink_spark.session import get_spark

    spark = get_spark("dblink_spark_tests", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("WARN")
    yield spark
    spark.stop()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)``: the number of Spark jobs ``fn()`` runs, read from
    the status tracker under a job group of its own."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"test-jobs-{id(fn)}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
