"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the usable core count).

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q01_...": sec, ...}, "sf": ..., "cpus": ...}

Each query is materialized with a noop-format write so the full plan
(including projections) executes without driver-side row transfer, and
without Catalyst short-circuiting column evaluation the way count() can.

The headline set is the ENTIRE queries() registry — every operator
family at its scale path (scans, broadcast + shuffled joins, theta
self-join, group/cube aggs, windows, event-time windows, streaming,
pandas UDFs, dedup exact + MinHash-LSH, vector search brute-force +
LSH/IVF, text analysis, multimodal) plus every cheap contract/IO shape.
Nothing is excluded: n_queries in the output always equals the registry
size, so a regression in any registered query is visible per-round.

BENCH_DETAIL.json splits each query's time into build (the query
function call: Python plan construction, Catalyst analysis and any eager
checkpoints) and exec (the noop write).

Options (this is the repo's only query-timing loop):
  --only NAME ...  time just these registry queries (A/B work); the
                   full-registry BENCH_DETAIL.json is left untouched
  --plans TAG      write each timed query's explain("formatted") to
                   plans/<TAG>/<query>.txt
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--only", nargs="+", metavar="NAME")
    ap.add_argument("--plans", metavar="TAG")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    import tempfile

    import __spark_entry__ as entrymod
    from compile_time_data_contracts_spark.operators.materialize import (
        scratch_dir,
    )
    from compile_time_data_contracts_spark.session import local_session

    # a private temp dir per run, inherited by the Python workers: the
    # registry's build-once caches live under gettempdir()
    # (materialize.reuse_dir).  Those built by materialize.reuse publish
    # by rename, but the library index operators build in place at their
    # path and q136 merges into its published snapshot, so two
    # concurrent runs sharing one cache path could still break each other
    tempfile.tempdir = os.environ["TMPDIR"] = scratch_dir("ctdc-bench-")
    spark = local_session(
        "ctdc-bench",
        **{
            "spark.sql.adaptive.coalescePartitions.enabled": "true",
            "spark.sql.autoBroadcastJoinThreshold": "64MB",
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", "16g"
            ),
            # GC-reclaim per-call checkpoint files during long runs
            "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
        },
    )

    qs = entrymod.queries()
    # The headline set is STRUCTURAL: every queries() registry entry is
    # benchmarked — no silent exclusions (the no-silent-caps rule
    # applies to the bench itself), so n_queries in the output always
    # equals the registry size and a new query can never be silently
    # missing from BENCH_r{N}.json.  --only narrows it for A/B work,
    # and such a run never overwrites the full-registry detail file.
    headline = sorted(qs)
    if args.only:
        unknown = sorted(set(args.only) - set(qs))
        if unknown:
            raise SystemExit(f"unknown queries: {unknown}")
        headline = list(dict.fromkeys(args.only))
    plan_dir = None
    if args.plans:
        plan_dir = os.path.join(ROOT, "plans", args.plans)
        os.makedirs(plan_dir, exist_ok=True)

    # Warm-up protocol (mirrors the reference benchmark's warmup+measured
    # batches, benchmarks/run-benchmarks.sh): one untimed run of every
    # headline query at sf0.001 first, so the timed pass measures
    # steady-state execution rather than one-time JVM JIT/codegen compile
    # of each query's code paths (~2-3 s per distinct plan, amortized to
    # zero on any long-running cluster).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    warm_dir = os.environ.get(
        "SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001"
    )
    for name in headline:
        try:
            qs[name](spark, warm_dir).write.mode("overwrite").format(
                "noop"
            ).save()
        except Exception:
            pass  # warm-up is best-effort; the timed run will surface errors

    # Min-of-n per query: a single-pass wall time conflates query cost
    # with whatever else the container host is doing at that moment
    # (round-3 showed uniform ~1.2x cross-container drift plus two
    # outliers on untouched code).  The MIN over n interleaved full
    # passes is the noise-robust estimator — any one quiet window per
    # query suffices — so host contention can no longer masquerade as a
    # regression.  Passes are interleaved (pass 1 runs every query, then
    # pass 2, ...) so a noisy minute degrades one sample of many queries
    # instead of every sample of one query.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    samples: dict[str, list[float]] = {name: [] for name in headline}
    # (build, exec) seconds per pass, same order as samples
    phases: dict[str, list[tuple[float, float]]] = {
        name: [] for name in headline
    }
    errors: dict[str, str] = {}
    # Host-noise self-diagnosis: each pass opens with a FIXED synthetic
    # JVM probe (sum over range(10^8) — pure CPU, no IO, identical plan
    # every time), recorded for information only (see noise_flag).
    probe_sec: list[float] = []
    # Aging-free contention meter (r11): a fixed pure-Python busy loop
    # has no JVM state to age, so its per-pass time moves ONLY with CPU
    # contention and its max/min ratio needs no host-specific floor.
    # min-of-2 per pass kills one-off scheduler jitter.
    def _py_busy() -> float:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            x = 0
            for i in range(2_000_000):
                x += i
            best = min(best, time.perf_counter() - t0)
        return round(best, 4)

    busy_sec: list[float] = []
    # one UNRECORDED warm-up of the probe plan: pass 1 would otherwise
    # carry its codegen/JIT compile and read as 2x+ the later passes
    spark.range(100_000_000).selectExpr("sum(id)").collect()
    _py_busy()  # warm the loop's bytecode/allocator path the same way
    for _ in range(repeats):
        busy_sec.append(_py_busy())
        t0 = time.time()
        spark.range(100_000_000).selectExpr("sum(id)").collect()
        probe_sec.append(round(time.time() - t0, 3))
        for name in headline:
            fn = qs[name]
            t0 = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
                t1 = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                t2 = time.perf_counter()
            except Exception as ex:  # noqa: BLE001
                # one failing query must not abort the whole bench and
                # discard every completed sample: record the failure in
                # the output (the JSON line carries an "errors" map) and
                # keep timing the other queries
                errors[name] = repr(ex)[:200]
                continue
            samples[name].append(round(t2 - t0, 3))
            phases[name].append((round(t1 - t0, 3), round(t2 - t1, 3)))
            if plan_dir and len(samples[name]) == 1:
                # after the timed write, so planning here cannot warm it
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                with open(os.path.join(plan_dir, f"{name}.txt"), "w") as f:
                    f.write(plan)
    timings = {
        name: min(ts) for name, ts in samples.items() if ts
    }
    # build/exec split of each query's fastest pass (sums to its timing)
    split = {
        name: dict(
            zip(("build", "exec"), phases[name][ts.index(min(ts))])
        )
        for name, ts in samples.items()
        if ts
    }

    # record the SPREAD next to the min (p50/p95 over the repeats) so a
    # drift question dies in the artifact instead of needing a re-run:
    # a wide p95/min gap says "noisy host", a moved min says "the code"
    def _q(ts: list[float], f: float) -> float:
        s = sorted(ts)
        return s[min(len(s) - 1, int(f * len(s)))]

    spread = {
        name: {"p50": _q(ts, 0.5), "p95": _q(ts, 0.95)}
        for name, ts in samples.items()
        if ts
    }

    # noise verdict: count queries whose p95 ran >2.5x their own min
    # (ignoring sub-0.2s queries where scheduler jitter dominates), and
    # compare the busy loop's spread.  Either signal past threshold marks
    # the ARTIFACT as contended — timings themselves are untouched (the
    # min-of-n estimator already defends against one noisy window).
    n_noisy = sum(
        1
        for ts in samples.values()
        if len(ts) >= 2 and min(ts) > 0.2 and _q(ts, 0.95) > 2.5 * min(ts)
    )
    probe_ratio = (
        round(max(probe_sec) / max(min(probe_sec), 1e-9), 3)
        if probe_sec
        else None
    )
    # the JVM probe ratio is informational only: it mixes contention
    # with JVM session aging (an IDLE host ages the 10^8-row sum ~2-4x
    # across passes), so it feeds no verdict.  The busy-loop ratio
    # does: >1.4x between passes is contention, full stop (an idle host
    # holds the min-of-2 loop within a few percent)
    busy_ratio = (
        round(max(busy_sec) / max(min(busy_sec), 1e-9), 3)
        if busy_sec
        else None
    )
    noise = {
        "probe_sec": probe_sec,
        "probe_ratio": probe_ratio,
        "busy_sec": busy_sec,
        "busy_ratio": busy_ratio,
        "n_noisy_queries": n_noisy,
        "noise_flag": bool(
            n_noisy > max(10, len(samples) // 33)
            or (busy_ratio is not None and busy_ratio > 1.4)
        ),
    }
    if noise["noise_flag"]:
        print(
            f"(noise_flag: {n_noisy} queries p95>2.5x min, "
            f"busy_ratio={busy_ratio} — treat regressions in this run "
            "as suspect)",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    cpus = spark.sparkContext.defaultParallelism

    # per-query delta vs the newest BENCH_r{N}.json so regressions
    # surface at build time, not judge time (stderr: stdout must stay
    # one JSON line for the driver)
    import glob
    import re as _re

    try:
        # the whole report — including the glob+sort, whose regex
        # dies on e.g. BENCH_rtest.json — must be non-fatal: all
        # queries have already run by this point
        matched = [
            (int(m.group(1)), p)
            for p in glob.glob(os.path.join(ROOT, "BENCH_r*.json"))
            if (m := _re.search(r"_r(\d+)\.json$", p))
        ]
        prev_files = [p for _, p in sorted(matched)]
        # prefer the sidecar detail file (full per-query dict); the
        # driver's BENCH_r{N}.json wraps a tail-truncated stdout whose
        # "parsed" is often null
        detail_prev = os.path.join(ROOT, "BENCH_DETAIL.json")
        if os.path.exists(detail_prev):
            prev_files.append(detail_prev)
        if not prev_files:
            raise FileNotFoundError("no prior BENCH_r{N}.json")
        with open(prev_files[-1]) as f:
            prev = json.load(f)
        # the driver wraps the bench line under "parsed"
        prev = prev.get("parsed") or prev
        prev_sf = prev.get("sf")
        if prev_sf is not None and prev_sf != sf_val:
            raise ValueError(
                f"prior bench ran at sf={prev_sf}, this run at "
                f"sf={sf_val} — cross-sf deltas are meaningless"
            )
        if prev.get("cpus") != cpus:
            raise ValueError(
                f"prior bench ran on cpus={prev.get('cpus')}, this run on "
                f"cpus={cpus} — cross-core-count deltas are meaningless"
            )
        prev_q = prev.get("queries", {})
        prev_name = os.path.basename(prev_files[-1])
        lines = [f"-- delta vs {prev_name} (sec, +slower/-faster) --"]
        for name, t in timings.items():
            p = prev_q.get(name)
            if p is None:
                lines.append(f"{name:40s} {t:7.2f}    (new)")
            else:
                d = t - p
                flag = "  <-- regression" if p > 0.3 and d > max(
                    0.5, 0.5 * p
                ) else ""
                lines.append(
                    f"{name:40s} {t:7.2f}  {d:+6.2f}{flag}"
                )
        pt = prev.get("value")
        if isinstance(pt, (int, float)) and not args.only:
            lines.append(f"{'TOTAL':40s} {total:7.2f}  {total - pt:+6.2f}")
        print("\n".join(lines), file=sys.stderr)
    except Exception as e:  # delta report must never break the bench
        print(f"(delta report unavailable: {e})", file=sys.stderr)

    # Full per-query detail (all timings + p50/p95 spread) goes to a
    # sidecar file: with 236 headline queries the full dict is ~15 KB,
    # which overflows the driver's 2000-char stdout tail and has left
    # every BENCH_r{N}.json since r04 with "parsed": null.  The stdout
    # line must stay ONE short JSON line the driver can actually parse,
    # so it carries the total plus only the slowest queries.
    detail = {
        "metric": "query_inventory_wall_seconds",
        "value": total,
        "repeats": repeats,
        "estimator": "min_per_query",
        "unit": "sec",
        "queries": timings,
        "split": split,
        "spread": spread,
        "errors": errors,
        "noise": noise,
        "sf": sf_val,
        "cpus": cpus,
    }
    try:
        if not args.only:
            with open(os.path.join(ROOT, "BENCH_DETAIL.json"), "w") as f:
                json.dump(detail, f, indent=1, sort_keys=True)
    except OSError as e:  # read-only checkout must not kill the bench
        print(f"(detail file unavailable: {e})", file=sys.stderr)

    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:20]
    )
    line = {
        "metric": "query_inventory_wall_seconds",
        "value": total,
        "repeats": repeats,
        "estimator": "min_per_query",
        "unit": "sec",
        "n_queries": len(timings),
        "n_errors": len(errors),
        "errors": errors,
        "noise": noise,
        "queries": slowest,
        "queries_truncated": True,
        "detail_file": "BENCH_DETAIL.json",
        "sf": sf_val,
        "cpus": cpus,
    }
    if args.only:  # a subset run's whole detail is the line itself
        line.update(queries=timings, queries_truncated=False,
                    detail_file=None, split=split)
    print(json.dumps(line, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
