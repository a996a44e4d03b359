"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def test_events_are_deterministic_for_a_seed():
    a, b, c = (gen.build_events(s, 0.001) for s in (7, 7, 8))
    assert a.equals(b) and not a.equals(c)
    assert a.num_rows == gen.event_rows(0.001) == 1000
    assert a["user_id"].to_pylist() != c["user_id"].to_pylist()


def test_events_match_the_catalog_contract():
    from compile_time_data_contracts_spark import catalog, spark_schema

    arrow = {"bigint": pa.int64(), "timestamp": pa.timestamp("us"),
             "string": pa.string(), "double": pa.float64()}
    want = [(f.name, arrow[f.dataType.simpleString()])
            for f in spark_schema(catalog.TABLES["events"]).fields]
    assert [(f.name, f.type) for f in gen.build_events(1, 0.001).schema] == want


def test_account_feed_is_deterministic_for_a_seed(tmp_path):
    paths = [tmp_path / f"{i}.csv" for i in range(3)]
    truths = [gen.write_accounts_csv(str(p), s, 500) for p, s in zip(paths, (3, 3, 4))]
    assert paths[0].read_bytes() == paths[1].read_bytes() != paths[2].read_bytes()
    assert truths[0] == truths[1] != truths[2]
    assert truths[0].rows == 500


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def test_oracle_check_catches_a_perturbed_result():
    import duckdb

    saved = list(sys.path)
    co = workloads.load_tool(ROOT, "compare_oracle")
    assert sys.path == saved
    con = duckdb.connect()
    oracle = "SELECT * FROM (VALUES (1, 2.5), (2, 3.25)) t(k, v)"
    assert workloads.check_result(co, con, oracle, ["v", "k"], [(3.25, 2), (2.5, 1)]) == ""
    assert "hash" in workloads.check_result(co, con, oracle, ["k", "v"], [(1, 2.5), (2, 3.26)])
    assert "rows" in workloads.check_result(co, con, oracle, ["k", "v"], [(1, 2.5)])
    assert "columns" in workloads.check_result(co, con, oracle, ["k", "w"], [(1, 2.5), (2, 3.25)])
    assert workloads.check_result(co, con, None, ["k"], []) != ""


def _pipeline(tmp_path):
    ctx = workloads.Context(spark=None, work=str(tmp_path), seed=5)
    wl = workloads.PipelineWorkload(ctx, ROOT)
    wl.truth = gen.FeedTruth(rows=3, id_sum=6, amount_sum=60, input_bytes=100)
    return wl


def _write(path, ids, amounts):
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array(ids, pa.int64()), "amount_cents": pa.array(amounts, pa.int64())}),
        os.path.join(path, "part-0.parquet"),
    )


def test_sink_check_catches_a_perturbed_sink(tmp_path):
    wl = _pipeline(tmp_path)
    _write(wl.nested, [1, 2, 3], [10, 20, 30])
    _write(os.path.join(wl.flat, "bucket=1"), [1, 2, 3], [10, 20, 30])
    assert wl.check_sinks() == []
    _write(os.path.join(wl.flat, "bucket=1"), [1, 2, 3], [10, 20, 31])
    assert len(wl.check_sinks()) == 1


def test_construction_batch_rejects_exactly_the_drift_cases(tmp_path):
    ops = _pipeline(tmp_path).construction_batch()
    assert len(ops) == len(workloads.CONSTRUCTION_CASES)
    assert [o.error for o in ops if not o.ok] == []
    policies = {case[2] for case in workloads.CONSTRUCTION_CASES}
    assert len(policies) == 8


def test_pass_cpu_is_scaled_to_the_nominal_host_speed():
    slow = 2 * run.REF_LOOP_NOMINAL_S  # the host ran at half speed
    passes = [
        {"py_cpu_s": 1.0, "jvm_cpu_s": 3.0},
        {"py_cpu_s": 1.0, "jvm_cpu_s": 5.0},
        {"py_cpu_s": 1.0, "jvm_cpu_s": 9.0},
    ]
    refs = [slow * 0.8, slow * 1.3, slow * 0.9]  # averages to `slow`
    assert run.host_speed(refs) == pytest.approx(0.5)
    assert run.pass_cpu_s(passes, refs) == pytest.approx(3.0)
