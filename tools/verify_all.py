"""One-command gate runner: everything the per-round verification
checks, in order, stopping on the first failure.

  1. pytest tests/            — contract matrix + operator + streaming
  2. tools/compare_oracle.py  — DuckDB hash-match of every gate query,
     at BOTH sf0.001 and sf0.01 (two scale factors so a scale-coupled
     constant — the q165 modulus bug-class, fixed in ad83840 — can
     never reappear unseen), each writing its ORACLE artifact
  3. tools/plan_audit.py      — physical-plan property assertions
  4. tools/micro_bench.py     — comparator ns/op vs BASELINE.md
  5. pytest perfbench/        — the benchmark harness, which loads
     tools/compare_oracle.py and tools/micro_bench.py by path
  6. bench.py (optional, --bench) — headline timings at sf0.1

Usage: python tools/verify_all.py [sf_dir ...] [--bench]
  (default sf dirs: /root/testdata/sf0.001 AND /root/testdata/sf0.01)
Exit 0 only if every stage passes.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(name: str, cmd: list[str]) -> None:
    t0 = time.time()
    print(f"== {name}: {' '.join(cmd)}", flush=True)
    proc = subprocess.run(cmd, cwd=REPO)
    if proc.returncode != 0:
        print(f"FAILED {name} (exit {proc.returncode})")
        sys.exit(proc.returncode)
    print(f"== {name} OK ({time.time() - t0:.0f}s)", flush=True)


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--bench"]
    with_bench = "--bench" in sys.argv[1:]
    sf_dirs = args or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
    ]
    py = sys.executable
    run("tests", [py, "-m", "pytest", "tests/", "-x", "-q"])
    for sf in sf_dirs:
        tag = sf.rstrip("/").rsplit("/", 1)[-1]
        run(
            f"oracle@{tag}",
            [
                py,
                "tools/compare_oracle.py",
                "--json",
                os.path.join(REPO, f"ORACLE_{tag}.json"),
                sf,
            ],
        )
    run("plan-audit", [py, "tools/plan_audit.py", sf_dirs[-1]])
    run("micro-bench", [py, "tools/micro_bench.py", "2000"])
    run(
        "perfbench-tests",
        [py, "-m", "pytest", "perfbench", "-q", "-p", "no:cacheprovider"],
    )
    if with_bench:
        run("bench", [py, "bench.py"])
    print("ALL GATES GREEN")


if __name__ == "__main__":
    main()
