"""Shared fixtures: one SparkSession per test session, sf0.001 paths."""

from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from tmdb_movie_data_pipeline_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    # default sf0.001 for speed; SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01
    # mirrors the driver's correctness scale.
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMALL)


@contextmanager
def job_group(spark, group):
    """Run the body under ``group``; yields a list that holds the ids of
    the Spark jobs the body launched once the block exits."""
    sc = spark.sparkContext
    jobs: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def physical_nodes(df):
    """Every node of ``df``'s executed physical plan, looking through the
    AQE wrapper."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        yield node
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
