"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run generates its inputs from the
seed, starts Spark on ``local[<usable cores>]``, warms up with untimed
passes that also check every output, then repeats timed passes for
``S`` seconds. The last line on stdout is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; ``--trace 1``
wraps the program's layer functions and reports per-layer metrics
instead. Everything the run writes goes under ``.perfbench_work/`` in
the repository root and the per-run part is removed at exit; the traced
run keeps its spans in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "compile_time_data_contracts_spark"

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "contracts.conforms_us": "us",
    "contracts.conforms_calls": "count",
    "contracts.spark_schema_us": "us",
    "runtime.pin_us": "us",
    "runtime.pin_calls": "count",
    "runtime.compare_ns": "ns",
    "plans.construct_us": "us",
    "sources.read_df_ms": "ms",
    "sources.write_df_s": "s",
    "sources.bytes_written_per_input_byte": "ratio",
    "sources.files_written": "count",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "operators.materialize.calls": "count",
    "operators.materialize.self_s": "s",
    "operators.materialize.checkpoint_bytes": "bytes",
    "operators.dedup.self_s": "s",
    "operators.dedup.cc_rounds": "count",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "proc.py_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "host.busy_ratio": "ratio",
    "host.ref_loop_ms": "ms",
    "trace.pass_s": "s",
    "trace.pass_cpu_s": "s",
}

# the reference loop's CPU time on a 4-vCPU cloud VM while the machine
# it shares was quiet; CPU times are scaled to it (see host_speed)
REF_LOOP_NOMINAL_S = 0.018


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, cores: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.driver.memory", "1g")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            # a fixed initial heap keeps peak RSS from following GC sizing;
            # C1 only: with C2 the passes kept getting faster for ~45 s
            # (3.9 s -> 2.4 s on iterative), far past any affordable warm-up,
            # so the timed passes never reached a steady state. No code
            # cache flushing: every plan compiles new classes, and about
            # 70 s in the sweeper flushed compiled code that C1 then
            # compiled again, doubling the JVM CPU of the next passes
            # (7 s -> 17 s on iterative). Serial GC: no GC threads
            # competing with the four task threads.
            f"-Xms1g -XX:TieredStopAtLevel=1 -XX:-UseCodeCacheFlushing "
            f"-XX:ReservedCodeCacheSize=512m -XX:+UseSerialGC -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={tmp} -XX:-UsePerfData",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(os.path.join(work, "checkpoints"))
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
    return total


def compare_ns() -> float:
    """``tools/micro_bench.py``'s distinct-object comparator case, run by
    its own ``run_case``: the nested ``Contract``'s schema against a
    structurally equal copy, in ns per comparison (min over batches)."""
    import contextlib

    from pyspark.sql import types as T

    from compile_time_data_contracts_spark import RuntimeSchemaComparator, spark_schema
    from workloads import load_tool

    mb = load_tool(ROOT, "micro_bench")
    expected = spark_schema(mb.Contract)
    clone = T.StructType.fromJson(expected.jsonValue())
    with contextlib.redirect_stdout(sys.stderr):  # run_case prints its line
        return mb.run_case(
            "custom_exact_unordered_match_distinct",
            lambda: RuntimeSchemaComparator.unordered(expected, clone),
            20000,
        )


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every temp file of this process, the JVM and Python workers in
    # the run directory; workers import the program from the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp
    spark = None
    try:
        spark = start_spark(work, usable_cores())
        result = run(args, spark, work, base, workloads)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, spark, work: str, base: str, workloads) -> dict:
    import probes as tr

    t_session = time.perf_counter() - T_START
    ctx = workloads.Context(spark=spark, work=work, seed=args.seed)
    wl = workloads.WORKLOADS[args.workload](ctx, ROOT)
    wl.prepare()
    t_inputs = time.perf_counter() - T_START
    failures = wl.warm_and_check()
    setup_wall = time.perf_counter() - T_START
    proc = tr.Proc(spark)
    setup_cpu = proc.py_cpu_s() + proc.jvm_cpu_s()
    print(
        f"perfbench: setup session={t_session:.2f}s inputs={t_inputs - t_session:.2f}s "
        f"warm={setup_wall - t_inputs:.2f}s cpu={setup_cpu:.2f}s",
        file=sys.stderr,
    )

    jobs = tr.JobCounter(spark)
    ckpt = os.path.join(work, "checkpoints")
    tracer = listener = None
    if args.trace:
        tracer = tr.Tracer(PACKAGE)
        tracer.install()
        ctx.tracer, ctx.jobs = tracer, jobs
        listener = tr.streaming_listener()
        spark.streams.addListener(listener)
        stream0 = listener.snapshot()

    passes = []  # one dict per timed pass
    t_measure = time.perf_counter()
    # at least two passes: the first still pays for JIT compilation
    while len(passes) < 2 or time.perf_counter() - t_measure < args.seconds:
        ref = tr.ref_loop_s()
        span0 = len(tracer.spans) if tracer else 0
        cpu0 = (proc.py_cpu_s(), proc.jvm_cpu_s())
        first = jobs.marker()
        t0 = time.perf_counter()
        ops = wl.run_pass()
        pass_s = time.perf_counter() - t0
        last = jobs.marker()
        n_jobs, n_stages, n_tasks = jobs.between(first, last)
        markers = sum(1 for o in ops if o.jobs is not None) * 2
        passes.append(
            {
                "pass_s": pass_s,
                "ops": ops,
                "ref_s": ref,
                "jobs": n_jobs - markers,
                "stages": n_stages - markers,
                "tasks": n_tasks - markers,
                "py_cpu_s": proc.py_cpu_s() - cpu0[0],
                "jvm_cpu_s": proc.jvm_cpu_s() - cpu0[1],
                "ckpt_bytes": dir_bytes(ckpt),
                "io": wl.pass_io(),
                "spans": tracer.totals(span0) if tracer else None,
                "cc_rounds": tracer.calls_by_query(CC_ROUND[0], span0) if tracer else None,
            }
        )
        shutil.rmtree(ckpt, ignore_errors=True)
    # one more reading after the last pass, so the readings bracket them
    refs = [p["ref_s"] for p in passes] + [tr.ref_loop_s()]
    post = wl.after_passes()

    ops = [o for p in passes for o in p["ops"]]
    bad = [o for o in ops if not o.ok]
    # the warm pass's check and the after-pass check count as one op each
    attempted = len(ops) + 2
    failed = len(bad) + bool(failures) + bool(post)
    for msg in failures + post + [f"{o.name}: {o.error}" for o in bad]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed={args.seed} passes={len(passes)} "
        f"pass_s={[round(p['pass_s'], 3) for p in passes]} "
        f"jobs={[p['jobs'] for p in passes]} "
        f"cpu_s={[round(p['py_cpu_s'] + p['jvm_cpu_s'], 3) for p in passes]} "
        f"ref_s={[round(r, 4) for r in refs]}",
        file=sys.stderr,
    )

    if not args.trace:
        values = {
            "setup_s": host_speed(refs) * setup_cpu,
            "pass_cpu_s": pass_cpu_s(passes, refs),
            "peak_rss_mb": proc.peak_rss_mb(),
        }
        units = END_TO_END
    else:
        time.sleep(0.5)  # let the last progress events arrive
        stream1 = listener.snapshot()
        spark.streams.removeListener(listener)
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        op_records = [
            {
                "op": o.name,
                "pass": i,
                "build_s": o.build_s,
                "exec_s": o.exec_s,
                "jobs": o.jobs,
                "cc_rounds": p["cc_rounds"].get(o.name, 0),
            }
            for i, p in enumerate(passes)
            for o in p["ops"]
        ]
        per_query = {r["op"]: r["cc_rounds"] for r in op_records if r["cc_rounds"]}
        print(f"perfbench: cc_rounds per query {per_query}", file=sys.stderr)
        tracer.dump(
            os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.jsonl"), op_records
        )
        values = layer_metrics(passes, refs, stream0, stream1)
        values["runtime.compare_ns"] = compare_ns()
        units = PER_LAYER
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def host_speed(refs: list[float]) -> float:
    """How much faster than nominal the host ran during the timed passes:
    the nominal reference-loop time over the mean of the readings taken
    around the passes (under 1 when the machine is busy). The mean, not
    the median: the machine's speed flips between two levels about 1.4x
    apart within seconds, and a pass's CPU time adds up both."""
    return REF_LOOP_NOMINAL_S / statistics.fmean(refs)


def pass_cpu_s(passes: list[dict], refs: list[float]) -> float:
    """Median CPU seconds (driver Python plus JVM) of a timed pass, scaled
    to the nominal host speed."""
    return host_speed(refs) * statistics.median(p["py_cpu_s"] + p["jvm_cpu_s"] for p in passes)


CC_ROUND = ("operators.materialize.pin_with_signature",)


def layer_metrics(passes: list[dict], refs: list[float], stream0: dict, stream1: dict) -> dict:
    """Per-pass medians of every per-layer quantity."""

    def med(fn):
        return statistics.median(fn(p) for p in passes)

    def incl(p, *names):
        return sum(p["spans"]["incl_s"].get(n, 0.0) for n in names)

    def calls(p, *names):
        return sum(p["spans"]["calls"].get(n, 0) for n in names)

    def self_s(p, layer):
        return p["spans"]["self_s"].get(layer, 0.0)

    conforms = ("contracts.conforms.conforms",)
    pins = ("runtime.pins.assert_matches_contract",)
    materialize = tuple(
        f"operators.materialize.{f}" for f in ("pin", "pin_if_input_large", "pin_with_signature")
    )
    n = len(passes)

    def stream(key):
        return (stream1.get(key, 0.0) - stream0.get(key, 0.0)) / n

    return {
        "contracts.conforms_us": med(lambda p: 1e6 * incl(p, *conforms)),
        "contracts.conforms_calls": med(lambda p: calls(p, *conforms)),
        "contracts.spark_schema_us": med(lambda p: 1e6 * incl(p, "contracts.schema.spark_schema")),
        "runtime.pin_us": med(lambda p: 1e6 * incl(p, *pins)),
        "runtime.pin_calls": med(lambda p: calls(p, *pins)),
        "sources.read_df_ms": med(lambda p: 1e3 * incl(p, "sources.io.read_df")),
        "sources.write_df_s": med(lambda p: incl(p, "sources.io.write_df")),
        "sources.bytes_written_per_input_byte": med(
            lambda p: p["io"].get("bytes_written_per_input_byte", 0.0)
        ),
        "sources.files_written": med(lambda p: p["io"].get("files_written", 0)),
        "queries.build_s": med(lambda p: incl(p, "queries.build")),
        "queries.exec_s": med(lambda p: incl(p, "queries.exec")),
        "spark.jobs": med(lambda p: p["jobs"]),
        "spark.stages": med(lambda p: p["stages"]),
        "spark.tasks": med(lambda p: p["tasks"]),
        "operators.materialize.calls": med(lambda p: calls(p, *materialize)),
        "operators.materialize.self_s": med(lambda p: self_s(p, "operators.materialize")),
        "operators.materialize.checkpoint_bytes": med(lambda p: p["ckpt_bytes"]),
        "operators.dedup.self_s": med(lambda p: self_s(p, "operators.dedup")),
        # the connected-components loops materialize their initial edges
        # or labels, then every round, through one pin_with_signature call
        "operators.dedup.cc_rounds": med(lambda p: calls(p, *CC_ROUND)),
        "streaming.batches": stream("batches"),
        "streaming.trigger_ms": stream("triggerExecution"),
        "streaming.add_batch_ms": stream("addBatch"),
        "streaming.wal_commit_ms": stream("walCommit"),
        "streaming.commit_offsets_ms": stream("commitOffsets"),
        "streaming.query_planning_ms": stream("queryPlanning"),
        "streaming.state_commit_ms": stream("stateCommit"),
        "proc.py_cpu_s": med(lambda p: p["py_cpu_s"]),
        "proc.jvm_cpu_s": med(lambda p: p["jvm_cpu_s"]),
        "host.busy_ratio": max(refs) / min(refs),
        "host.ref_loop_ms": 1e3 * statistics.fmean(refs),
        "plans.construct_us": 1e6
        * statistics.median(o.build_s for p in passes for o in p["ops"] if o.construct_only)
        if any(o.construct_only for o in passes[0]["ops"])
        else 0.0,
        "trace.pass_s": med(lambda p: p["pass_s"]),
        "trace.pass_cpu_s": pass_cpu_s(passes, refs),
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
