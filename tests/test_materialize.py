"""materialize.reuse / reuse_dir: the one home for temp paths and
build-once caches.

The helper tests use a pure-Python ``build``; the warm-path tests call
every registry query that caches through ``reuse`` twice in one session,
which is the only place the reuse path runs (the oracle comparison runs
each query once, in a fresh temp dir).
"""

from __future__ import annotations

import json
import os
import pathlib
import tempfile
import threading

import pytest

from compile_time_data_contracts_spark.operators.materialize import (
    reuse,
    reuse_dir,
)


@pytest.fixture
def temp_root(tmp_path, monkeypatch):
    """A private ``gettempdir()`` for the test: no cache from another
    run is found, and none is left behind."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def _leftovers(root) -> list[str]:
    return sorted(
        p.name for p in pathlib.Path(root).iterdir() if ".build-" in p.name
    )


def test_reuse_dir_names_kind_and_key(temp_root):
    path = reuse_dir("ivf", "sf|c32")
    assert os.path.dirname(path) == str(temp_root)
    assert os.path.basename(path).startswith("ctdc-ivf-")
    assert path == reuse_dir("ivf", "sf|c32") != reuse_dir("ivf", "sf|c16")


def test_reuse_matching_want_does_not_build(temp_root):
    calls = []

    def build(stage):
        calls.append(stage)
        with open(os.path.join(stage, "data.txt"), "w") as fh:
            fh.write("v1")
        return {"rows": 3}

    root, meta, built = reuse("t", "k", {"n": 3, "version": 1}, build)
    assert built and len(calls) == 1
    assert meta == {"n": 3, "version": 1, "rows": 3}
    with open(os.path.join(root, "meta.json")) as fh:
        assert json.load(fh) == meta
    again = reuse("t", "k", {"n": 3, "version": 1}, build)
    assert again == (root, meta, False) and len(calls) == 1
    assert _leftovers(temp_root) == []


def test_reuse_changed_want_rebuilds(temp_root):
    def build_v(text):
        def build(stage):
            with open(os.path.join(stage, "data.txt"), "w") as fh:
                fh.write(text)

        return build

    root, _, _ = reuse("t", "k", {"n": 3, "version": 1}, build_v("v1"))
    root2, meta, built = reuse(
        "t", "k", {"n": 3, "version": 2}, build_v("v2")
    )
    assert built and root2 == root and meta == {"n": 3, "version": 2}
    with open(os.path.join(root, "data.txt")) as fh:
        assert fh.read() == "v2"
    assert sorted(os.listdir(temp_root)) == [os.path.basename(root)]


def test_reuse_failed_build_leaves_nothing(temp_root):
    def build(stage):
        with open(os.path.join(stage, "half.txt"), "w") as fh:
            fh.write("half")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        reuse("t", "k", {"n": 1}, build)
    assert os.listdir(temp_root) == []


def test_reuse_race_publishes_one_complete_root(temp_root):
    both_building = threading.Barrier(2)

    def build(stage):
        both_building.wait(timeout=30)
        with open(os.path.join(stage, "data.txt"), "w") as fh:
            fh.write(stage)
        return {"stage": stage}

    results = []

    def run():
        results.append(reuse("t", "k", {"n": 7}, build))

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert len(results) == 2
    (root_a, meta_a, _), (root_b, meta_b, _) = results
    assert root_a == root_b
    with open(os.path.join(root_a, "meta.json")) as fh:
        on_disk = json.load(fh)
    assert meta_a == meta_b == on_disk and on_disk["n"] == 7
    with open(os.path.join(root_a, "data.txt")) as fh:
        assert fh.read() == on_disk["stage"]
    assert sorted(r[2] for r in results) == [False, True]
    assert _leftovers(temp_root) == []


def test_temp_paths_have_one_home():
    """Only operators/materialize.py asks the OS for a temp location or
    names a fixed one, across the package, the tools and the examples."""
    repo = pathlib.Path(__file__).resolve().parents[1]
    callers = sorted(
        str(p.relative_to(repo))
        for d in ("compile_time_data_contracts_spark", "tools", "examples")
        for p in (repo / d).rglob("*.py")
        if any(t in p.read_text() for t in ("gettempdir", "mkdtemp", '"/tmp/'))
    )
    assert callers == [
        os.path.join("compile_time_data_contracts_spark", "operators", "materialize.py")
    ]


def test_index_meta_has_one_home():
    """Only operators/materialize.py reads an index's ``meta`` or
    ``pq/meta`` table (through ``read_meta``), and no package module
    imports an underscore name from another operators module: a private
    helper that two modules need belongs in a public home.  Tests and
    tools may still read the raw tables, since they check the on-disk
    format."""
    import ast
    import re

    repo = pathlib.Path(__file__).resolve().parents[1]
    home = os.path.join("compile_time_data_contracts_spark", "operators", "materialize.py")
    meta_read = re.compile(r"\.read\.parquet\([^)]*/meta\b", re.DOTALL)
    found = []
    for p in sorted((repo / "compile_time_data_contracts_spark").rglob("*.py")):
        rel = str(p.relative_to(repo))
        src = p.read_text()
        if rel != home and meta_read.search(src):
            found.append(f"{rel}: reads a meta table")
        parts = rel[: -len(".py")].split(os.sep)
        for node in ast.walk(ast.parse(src)):
            if not isinstance(node, ast.ImportFrom) or not node.level:
                continue
            base = parts[: len(parts) - node.level]
            source = ".".join(base + ([node.module] if node.module else []))
            private = [
                a.name for a in node.names
                if a.name.startswith("_") and not a.name.startswith("__")
            ]
            if private and source != ".".join(parts) and source.startswith(
                "compile_time_data_contracts_spark.operators."
            ):
                found.append(f"{rel}:{node.lineno}: {source} {private}")
    assert found == []


# every registry query whose cache goes through materialize.reuse
_REUSE_QUERIES = [
    "q112_dynamic_partition_pruning",
    "q136_bucket_pruned_merge",
    "q143_ivf_append_contract",
    "q145_stream_idempotent_sink",
    "q199_stream_outer_join",
    "q212_stream_incremental_rollup",
    "q304_stream_ohlc_bars",
    "q331_stream_bitmap_audience",
    "q369_stream_srm_monitor",
    "q384_pq_append_contract",
    "q385_index_erasure_contract",
    "q386_stream_index_maintenance",
    "q387_index_compaction_contract",
    "q390_index_autopilot_contract",
]


def _published(root) -> dict:
    """meta.json mtime of every cache published under ``root``."""
    return {
        p.parent.name: p.stat().st_mtime_ns
        for p in pathlib.Path(root).glob("ctdc-*/meta.json")
    }


@pytest.mark.parametrize("name", _REUSE_QUERIES)
def test_reuse_query_warm_call_matches_cold(spark, sf_dir, temp_root, name):
    """The second call in a session takes the reuse path — it publishes
    nothing new — and returns the rows the building call returned."""
    from compile_time_data_contracts_spark.queries import queries

    q = queries()[name]
    cold = sorted(map(tuple, q(spark, sf_dir).collect()))
    built = _published(temp_root)
    assert built, "the first call published no cache"
    warm = sorted(map(tuple, q(spark, sf_dir).collect()))
    assert _published(temp_root) == built
    assert warm == cold
    assert _leftovers(temp_root) == []


@pytest.mark.parametrize(
    "name, jobs",
    [("q112_dynamic_partition_pruning", 6), ("q143_ivf_append_contract", 12)],
)
def test_reuse_path_job_count(
    spark, sf_dir, temp_root, marker_job, name, jobs
):
    """On the reuse path the cache check is a local meta.json read and
    runs no Spark job: the counted jobs are the source fingerprint and
    the query's own work."""
    from compile_time_data_contracts_spark.queries import queries

    q = queries()[name]
    q(spark, sf_dir).write.format("noop").mode("overwrite").save()  # build
    first = marker_job()
    q(spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert marker_job() - first - 1 == jobs


def test_training_sample_sends_the_driver_about_n_rows(spark):
    """Eight partitions of 1 000 rows and n = 500 vectors of 64 doubles:
    a per-partition top-n would send the driver 4 000 vectors (about
    2 MB), past a 1 MB ``spark.driver.maxResultSize``.  The hash range
    sends about n, and the sample is still the n rows with the smallest
    hash, in the frame's row order."""
    import numpy as np
    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.operators.materialize import (
        training_sample,
    )

    df = spark.range(0, 8000, 1, 8).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)), lambda x: F.rand(7) + x
        ).alias("embedding"),
    )
    # the live SparkConf: each new task set reads its result-size limit
    conf = spark.sparkContext._jsc.sc().conf()
    key = "spark.driver.maxResultSize"
    had = conf.getOption(key)
    conf.set(key, "1m")
    try:
        X = training_sample(df, "vec_id", "embedding", 500, 42)
    finally:
        if had.isDefined():
            conf.set(key, had.get())
        else:
            conf.remove(key)
    ids = [
        r.vec_id
        for r in df.orderBy(F.xxhash64("vec_id", F.lit(42)), "vec_id")
        .limit(500)
        .select("vec_id")
        .collect()
    ]
    want = df.where(F.col("vec_id").isin(ids)).orderBy("vec_id").collect()
    assert np.array_equal(X, np.array([r.embedding for r in want]))
