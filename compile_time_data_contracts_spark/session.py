"""The one local SparkSession factory.

Every entry point that starts Spark — ``bench.py``, the test fixture,
the examples and the ``tools/`` scripts — builds its session here, so
the settings they share live in one place:

  * master ``local[cores]`` with ``spark.sql.shuffle.partitions = cores``;
  * UI off, session time zone UTC, AQE on;
  * log level ERROR.

``cores`` defaults to ``$SPARK_GRAFT_CPUS``, else the usable core count
of this process.  Caller-specific settings go in ``conf`` and are
applied last, so they override the shared ones::

    spark = local_session("ctdc-bench", **{"spark.driver.memory": "16g"})

A setting that one block of work needs, and no other, goes through
``session_conf``, which puts the session's own value back afterwards.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

__all__ = ["local_session", "session_conf"]


def _usable_cores() -> int:
    # CPU affinity, which a container's cpuset narrows; cpu_count() off Linux
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def local_session(app: str, cores: int | None = None, **conf):
    """Get or create the local SparkSession named ``app``."""
    from pyspark.sql import SparkSession

    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS") or _usable_cores())
    settings = {
        "spark.sql.shuffle.partitions": cores,
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        **conf,
    }
    builder = SparkSession.builder.master(f"local[{cores}]").appName(app)
    for key, value in settings.items():
        builder = builder.config(key, str(value))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


@contextmanager
def session_conf(spark, settings: dict):
    """Set ``settings`` in ``spark``'s session conf for the block.  On
    exit, also when the block raises, each key gets its earlier value
    back, or is unset if it had none."""
    saved = {key: spark.conf.get(key, None) for key in settings}
    for key, value in settings.items():
        spark.conf.set(key, str(value))
    try:
        yield
    finally:
        for key, value in saved.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
