"""Shared pytest fixtures.

The session comes from the shared ``local_session`` factory and mirrors
the reference's deterministic test setup (SparkRuntimeSpec.scala:14-20,
PipelineBuilderSpec.scala:15-22): local master, tiny shuffle
partitioning, UI off.
"""

from __future__ import annotations

import os
import sys

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
    """``marker_job()`` is the benchmark's own job counter,
    ``perfbench/probes.py:JobCounter.marker``: it runs a one-task job in
    its own group and returns its id once the status store has recorded
    it, and so every earlier job.  Job ids are global and sequential, so
    the difference of two markers' ids, less one, counts the jobs
    between them."""
    return _probes().JobCounter(spark).marker


def _probes():
    """``perfbench/probes.py``, loaded once without importing the rest of
    the benchmark."""
    import importlib.util

    name = "perfbench_probes"
    if name not in sys.modules:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location(
            name, os.path.join(root, "perfbench", "probes.py")
        )
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
        sys.modules[name] = module
    return sys.modules[name]


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
