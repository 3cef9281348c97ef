"""Shared fixtures: one SparkSession per test run, testdata paths."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from api_log_iceberg_test_spark.session import build_session  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # Small parallelism: sf0.001 jobs are overhead-dominated; 8 threads and
    # 8 shuffle partitions cut per-job task count without changing plans.
    s = build_session(app_name="pytest-api-log-engine", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF0001)


def construction_jobs(spark, group, build, *args, **kwargs):
    """Spark jobs launched, in job group ``group``, while ``build(*args,
    **kwargs)`` runs (constructs a DataFrame, or writes a table)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build(*args, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker learns of jobs from the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
