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
