"""Shared pytest fixtures.

The session comes from the shared ``local_session`` factory and mirrors
the reference's deterministic test setup (SparkRuntimeSpec.scala:14-20,
PipelineBuilderSpec.scala:15-22): local master, tiny shuffle
partitioning, UI off.
"""

from __future__ import annotations

import os
import sys
import time

import pytest

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)

SF_DIR = os.environ.get("CTDC_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from compile_time_data_contracts_spark.session import local_session

    # a fixed 4 cores: tests assert partition and file counts
    spark = local_session("ctdc-spark-tests", cores=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def marker_job(spark):
    """``marker_job(tag)`` runs a one-task job in its own group and
    returns its id once the status store has recorded it, and so every
    earlier job.  Job ids are global and sequential, so the difference
    of two markers' ids, less one, counts the jobs between them."""

    def run(tag: str) -> int:
        sc = spark.sparkContext
        sc.setJobGroup(tag, tag)
        sc.parallelize([1], 1).count()
        sc._jsc.clearJobGroup()
        deadline = time.monotonic() + 10.0
        while time.monotonic() < deadline:
            ids = sc.statusTracker().getJobIdsForGroup(tag)
            if ids and sc.statusTracker().getJobInfo(ids[0]).status == "SUCCEEDED":
                return ids[0]
            time.sleep(0.002)
        raise RuntimeError(f"marker job {tag} never finished")

    return run


@pytest.fixture
def cc_star_sides(spark):
    """``run(fn)`` calls ``fn`` on both sides of
    ``connected_components_star``'s local finish and returns both
    results: first with the session as it is (the small test graphs
    finish on the driver), then with the broadcast threshold at -1,
    which forces the distributed star rounds.  ``fn`` must collect
    what it checks before it returns."""
    key = "spark.sql.autoBroadcastJoinThreshold"

    def run(fn):
        local = fn()
        old = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            distributed = fn()
        finally:
            spark.conf.set(key, old)
        return local, distributed

    return run
