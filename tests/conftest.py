from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from fugue_spark.session import get_spark

    spark = get_spark(app_name="fugue_spark_tests", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correctness_dir() -> str:
    return SF_CORRECTNESS


_JOB_GROUPS = itertools.count()


def count_jobs(spark, fn):
    """``(fn(), the number of Spark jobs fn ran)``, counted in a job group
    of its own."""
    sc = spark.sparkContext
    group = f"count_jobs_{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
