"""Smoke test for ``tools/micro_bench.py``, the probe of contract work
(comparator ns/op and construction-time ``conforms`` overhead): it runs
in a subprocess at a small op count, checks its own verdicts, and prints
one JSON line.  No SparkSession is started."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_micro_bench_runs_and_reports():
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "micro_bench.py"), "50"],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = proc.stdout.strip().splitlines()[-1]
    record = json.loads(line)
    assert record["metric"] == "micro_bench"
    results = record["results"]
    for case in (
        "custom_exact_unordered_match",
        "custom_exact_unordered_match_distinct",
        "custom_exact_unordered_mismatch",
        "custom_by_position_match",
        "spark_structtype_eq",
        "spark_structtype_eq_distinct",
        "ratio_unordered_vs_eq",
        "ratio_by_position_vs_eq",
    ):
        assert results[case] > 0, case
    for n_pairs in (10, 25, 50):
        assert results[f"construct_{n_pairs}_baseline_ms"] > 0
        assert results[f"construct_{n_pairs}_contract_ms"] > 0
