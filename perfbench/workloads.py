"""The benchmark's workloads.

Each workload generates its inputs from the seed (``prepare``), runs
untimed warm passes that also check every output (``warm_and_check``),
then runs timed passes (``run_pass``). A pass is a list of :class:`Op`
samples; ``after_passes`` checks what the timed passes left behind.

* ``contract_pipeline`` — the paper's path: CSV -> nest -> Parquet under
  ``EXACT``, then Parquet -> flatten -> partitioned Parquet under
  ``EXACT_ORDERED``, plus a construction batch over all eight policies
  in which every drift case must be rejected at ``add_sink``.
* ``iterative`` — two query-registry loops, a connected-components
  loop and a streaming gate, each built and then executed with a noop
  write and checked against its DuckDB oracle.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import sys
import time
from typing import Callable, Optional

import gen


@dataclasses.dataclass
class Op:
    """One timed operation: constructing a query or pipeline, then
    executing it."""

    name: str
    build_s: float
    exec_s: float
    ok: bool
    error: str = ""
    jobs: Optional[tuple] = None  # (jobs, stages, tasks) in the traced run
    construct_only: bool = False  # a construction-batch case: nothing runs

    @property
    def total_s(self) -> float:
        return self.build_s + self.exec_s


@dataclasses.dataclass
class Context:
    spark: object
    work: str  # per-run scratch directory
    seed: int
    tracer: Optional[object] = None  # probes.Tracer in the traced run
    jobs: Optional[object] = None  # probes.JobCounter for per-op brackets

    def phase(self, name: str, layer: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer)


def _timed(ctx: Context, name: str, layer: str, build: Callable, run: Callable) -> Op:
    """Time ``build()`` then ``run(built)``; a raised error is a failed op."""
    if ctx.tracer is not None:
        ctx.tracer.query = name
    t0 = time.perf_counter()
    t1 = None
    try:
        with ctx.phase(f"{layer}.build", layer):
            built = build()
        t1 = time.perf_counter()
        with ctx.phase(f"{layer}.exec", layer):
            run(built)
        t2 = time.perf_counter()
        return Op(name, t1 - t0, t2 - t1, True)
    except Exception as e:  # noqa: BLE001 - one failed op must not end the run
        t2 = time.perf_counter()
        b = (t1 or t2) - t0
        return Op(name, b, t2 - (t1 or t2), False, f"{type(e).__name__}: {str(e)[:300]}")
    finally:
        if ctx.tracer is not None:
            ctx.tracer.query = None


def load_tool(root: str, name: str):
    """``tools/<name>.py`` as a module, loaded without letting the tool's
    own ``sys.path`` edit leak into this process."""
    import importlib.util
    import sys

    mod_name = f"perfbench_{name}"
    if mod_name in sys.modules:
        return sys.modules[mod_name]
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            mod_name, os.path.join(root, "tools", f"{name}.py")
        )
        mod = importlib.util.module_from_spec(spec)
        # registered first: dataclasses resolve annotations through it
        sys.modules[mod_name] = mod
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


# ---------------------------------------------------------------------------
# registry workloads
# ---------------------------------------------------------------------------


class RegistryWorkload:
    """A fixed list of query-registry entries over a generated ``events``
    table."""

    def __init__(self, ctx: Context, root: str, names: tuple[str, ...], sf: float):
        from compile_time_data_contracts_spark import queries as registry

        self.ctx = ctx
        self.root = root
        self.sf = sf
        self.data = os.path.join(ctx.work, "tables")
        all_queries = registry.queries()
        self.oracles = registry.oracle_sql()
        missing = [n for n in names if n not in all_queries]
        if missing:
            raise KeyError(f"unknown registry entries: {missing}")
        self.queries = [(n, all_queries[n]) for n in names]

    def prepare(self) -> None:
        gen.write_events(self.data, self.ctx.seed, self.sf)

    def _op(self, name, fn, run) -> Op:
        return _timed(self.ctx, name, "queries", lambda: fn(self.ctx.spark, self.data), run)

    def warm_and_check(self) -> list[str]:
        """One untimed pass at the workload's own scale. Each result is
        collected and its value hash compared with the DuckDB oracle over
        the same files; an entry without an oracle must return rows."""
        import duckdb

        co = load_tool(self.root, "compare_oracle")
        con = duckdb.connect()
        con.sql(f"CREATE VIEW events AS SELECT * FROM '{self.data}/events.parquet'")
        failures = []
        for name, fn in self.queries:
            got = {}

            def collect(df, got=got):
                got["cols"] = df.columns
                got["rows"] = [tuple(r) for r in df.collect()]

            op = self._op(name, fn, collect)
            t0 = time.perf_counter()
            why = op.error or check_result(
                co, con, self.oracles.get(name), got["cols"], got["rows"]
            )
            print(
                f"perfbench: checked {name} run={op.total_s:.2f}s "
                f"oracle={time.perf_counter() - t0:.2f}s",
                file=sys.stderr,
            )
            if why:
                failures.append(f"{name}: {why}")
        con.close()
        return failures

    def run_pass(self) -> list[Op]:
        ops = []
        for name, fn in self.queries:
            if self.ctx.jobs is not None:
                first = self.ctx.jobs.marker()
            ops.append(
                self._op(name, fn, lambda df: df.write.mode("overwrite").format("noop").save())
            )
            if self.ctx.jobs is not None:
                ops[-1].jobs = self.ctx.jobs.between(first, self.ctx.jobs.marker())
        return ops

    def after_passes(self) -> list[str]:
        return []

    def pass_io(self) -> dict:
        return {}


def check_result(co, con, oracle: Optional[str], cols: list[str], rows: list[tuple]) -> str:
    """Empty string when ``rows`` is a correct result, else the reason."""
    if oracle is None:
        return "" if rows else "no rows (entry has no oracle)"
    rel = con.sql(oracle)
    dcols = [d[0] for d in rel.description]
    drows = rel.fetchall()
    if sorted(cols) != sorted(dcols):
        return f"columns {sorted(cols)} != oracle {sorted(dcols)}"
    if len(rows) != len(drows):
        return f"{len(rows)} rows != oracle {len(drows)}"
    if co.value_hash(cols, rows) != co.value_hash(dcols, drows):
        return "value hash differs from oracle"
    return ""


# Loops whose time is jobs x per-job cost. q101 chains each user's ~67
# events, and the star operator contracts the chains in 8 rounds on every
# seed (41 jobs, one checkpoint a round); q44 runs a watermarked windowed
# stream (micro-batches and state commits). q150's entity resolution over
# the fixture vocabulary converges in 1 or 2 rounds, by seed, so it
# measures its candidate join more than the loop and is left out.
ITERATIVE = (
    "q101_components_deep_chain",
    "q44_watermark_stream",
)


# ---------------------------------------------------------------------------
# contract pipeline
# ---------------------------------------------------------------------------


# (producer, sink contract, policy, must build) — two per policy where
# the policy can reject anything; FULL accepts everything
CONSTRUCTION_CASES = (
    ("Flat", "Flat", "EXACT", True),
    ("Flat", "FlatAmountText", "EXACT", False),
    ("Flat", "FlatReordered", "EXACT_UNORDERED_CI", True),
    ("Flat", "FlatNoAge", "EXACT_UNORDERED_CI", False),
    ("Flat", "Flat", "EXACT_ORDERED", True),
    ("Flat", "FlatReordered", "EXACT_ORDERED", False),
    ("Flat", "FlatUpper", "EXACT_ORDERED_CI", True),
    ("Flat", "FlatReordered", "EXACT_ORDERED_CI", False),
    ("Flat", "FlatRenamed", "EXACT_BY_POSITION", True),
    ("Flat", "FlatAmountText", "EXACT_BY_POSITION", False),
    ("Flat", "FlatWithRegion", "BACKWARD", True),
    ("Flat", "FlatNeedsRegion", "BACKWARD", False),
    ("FlatNoAge", "Flat", "FORWARD", True),
    ("Flat", "FlatNoAge", "FORWARD", False),
    ("Flat", "FlatAmountText", "FULL", True),
    ("FlatNoAge", "FlatNeedsRegion", "FULL", True),
)


def _nest(df):
    from pyspark.sql import functions as F

    return df.select(
        "id",
        "email",
        "age",
        F.struct("street", "city", "zip", F.struct("lat", "lon").alias("geo")).alias("address"),
        F.array(
            F.struct(
                "kind",
                "at",
                F.array("tag_a", "tag_b").alias("tags"),
                F.create_map("attr_key", F.coalesce("attr_value", F.lit(""))).alias("attrs"),
            )
        ).alias("events"),
        F.create_map(F.lit("a"), "metric_a", F.lit("b"), "metric_b").alias("metrics"),
        "amount_cents",
    )


def _flatten(df):
    from pyspark.sql import functions as F

    return df.select(
        "id",
        "email",
        "age",
        F.col("address.city").alias("city"),
        F.col("address.zip").alias("zip"),
        F.col("address.geo.lat").alias("lat"),
        F.col("address.geo.lon").alias("lon"),
        F.size("events").alias("n_events"),
        F.col("events")[0]["kind"].alias("first_kind"),
        F.size("metrics").alias("n_metrics"),
        "amount_cents",
        (F.col("id") % 8).cast("int").alias("bucket"),
    )


class PipelineWorkload:
    """Two contract-pinned pipelines and a construction batch per pass."""

    ROWS = 100_000
    # a construction takes tens of microseconds: repeat the batch so each
    # case's median rests on many samples per run
    CONSTRUCT_REPEATS = 25

    def __init__(self, ctx: Context, root: str):
        import bench_contracts

        self.ctx = ctx
        self.c = vars(bench_contracts)
        self.csv = os.path.join(ctx.work, "accounts.csv")
        self.nested = os.path.join(ctx.work, "accounts_nested")
        self.flat = os.path.join(ctx.work, "accounts_flat")
        self.truth = None

    def prepare(self) -> None:
        self.truth = gen.write_accounts_csv(self.csv, self.ctx.seed, self.ROWS)

    def _ingest(self):
        from compile_time_data_contracts_spark import PipelineBuilder, SchemaPolicy, Sink, Source

        c = self.c
        return (
            PipelineBuilder("ingest-accounts")
            .add_source(Source(c["AccountRow"], "csv", self.csv, {"header": "true"}))
            .transform_as(c["Account"], "nest", _nest)
            .add_sink(Sink(c["Account"], self.nested), SchemaPolicy.EXACT)
            .build()
        )

    def _flatten(self):
        from compile_time_data_contracts_spark import PipelineBuilder, SchemaPolicy, Sink, Source

        c = self.c
        return (
            PipelineBuilder("flatten-accounts")
            .add_source(Source(c["StoredAccount"], "parquet", self.nested))
            .transform_as(c["AccountFlat"], "flatten", _flatten)
            .add_sink(
                Sink(c["AccountFlat"], self.flat, partition_by=("bucket",)),
                SchemaPolicy.EXACT_ORDERED,
            )
            .build()
        )

    def _construct(self, producer: str, sink: str, policy: str):
        from compile_time_data_contracts_spark import PipelineBuilder, SchemaPolicy, Sink, Source

        c = self.c
        return (
            PipelineBuilder(f"{producer}-to-{sink}-{policy}")
            .add_source(Source(c["AccountRow"], "csv", self.csv, {"header": "true"}))
            .transform_as(c[producer], "project", lambda df: df)
            .add_sink(Sink(c[sink], os.path.join(self.ctx.work, "never")), SchemaPolicy[policy])
            .build()
        )

    def construction_batch(self) -> list[Op]:
        """Build every case; a case is correct when it builds exactly when
        it must, and every rejection is a ``ContractDriftError``."""
        from compile_time_data_contracts_spark import ContractDriftError

        ops = []
        for producer, sink, policy, must_build in CONSTRUCTION_CASES:
            name = f"construct:{producer}->{sink}:{policy}"
            t0 = time.perf_counter()
            try:
                with self.ctx.phase("plans.construct", "plans"):
                    self._construct(producer, sink, policy)
                ok, err = must_build, "" if must_build else "drift case was accepted"
            except ContractDriftError as e:
                ok, err = not must_build, "" if not must_build else f"green case rejected: {e}"
            except Exception as e:  # noqa: BLE001
                ok, err = False, f"{type(e).__name__}: {e}"
            ops.append(Op(name, time.perf_counter() - t0, 0.0, ok, err, construct_only=True))
        return ops

    def run_pass(self) -> list[Op]:
        spark = self.ctx.spark
        ops = [
            _timed(self.ctx, "ingest", "plans", self._ingest, lambda p: p(spark)),
            _timed(self.ctx, "flatten", "plans", self._flatten, lambda p: p(spark)),
        ]
        for _ in range(self.CONSTRUCT_REPEATS):
            ops += self.construction_batch()
        return ops

    def warm_and_check(self) -> list[str]:
        """Two untimed passes (the first CSV scan and Parquet writes stay
        slow for more than one pass), then the sink checks."""
        ops = self.run_pass() + self.run_pass()
        return [f"{o.name}: {o.error}" for o in ops if not o.ok] + self.check_sinks()

    def after_passes(self) -> list[str]:
        return self.check_sinks()

    def check_sinks(self) -> list[str]:
        """Row count and id/amount checksums of both sinks, read back with
        DuckDB, against the generator's."""
        import duckdb

        t = self.truth
        want = (t.rows, t.id_sum, t.amount_sum)
        failures = []
        con = duckdb.connect()
        for label, path in (("ingest", self.nested), ("flatten", self.flat)):
            try:
                got = con.sql(
                    "SELECT count(*), sum(id)::BIGINT, sum(amount_cents)::BIGINT "
                    f"FROM read_parquet('{path}/**/*.parquet', hive_partitioning=false)"
                ).fetchone()
            except duckdb.IOException as e:
                failures.append(f"{label} sink unreadable: {e}")
                continue
            if tuple(got) != want:
                failures.append(f"{label} sink holds {tuple(got)}, generator wrote {want}")
        con.close()
        return failures

    def pass_io(self) -> dict:
        """Bytes and data files the pass's sinks hold."""
        size = files = 0
        for path in (self.nested, self.flat):
            for d, _, names in os.walk(path):
                for n in names:
                    if n.endswith(".parquet"):
                        size += os.path.getsize(os.path.join(d, n))
                        files += 1
        return {
            "bytes_written_per_input_byte": size / self.truth.input_bytes,
            "files_written": files,
        }


WORKLOADS = {
    "contract_pipeline": lambda ctx, root: PipelineWorkload(ctx, root),
    "iterative": lambda ctx, root: RegistryWorkload(ctx, root, ITERATIVE, 0.001),
}
