"""Measurement from outside the program: spans, Spark job counts,
streaming progress and process counters.

Nothing here edits the program. :class:`Tracer` replaces the public
functions of the program's layer modules with timing wrappers, in every
module namespace that holds a reference to them, so calls made through
``from x import f`` are traced too.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import resource
import statistics
import sys
import threading
import time
import types
from collections import defaultdict

# layer modules whose public functions the traced run wraps
LAYER_MODULES = (
    "contracts.conforms",
    "contracts.schema",
    "runtime.pins",
    "plans.builder",
    "sources.io",
    "operators.materialize",
    "operators.graph",
    "operators.dedup",
    "operators.similarity",
    "streaming.windows",
    "streaming.joins",
    "streaming.stateful",
)
# classes whose public methods are wrapped like functions
LAYER_CLASSES = (
    ("plans.builder", "PipelineBuilder"),
    ("plans.builder", "Pipeline"),
)


class Tracer:
    """In-memory spans ``(name, layer, start, end, parent, query)``.

    ``layer`` is the module path below the package (``operators.dedup``);
    the benchmark's own spans use the layer ``queries`` or ``plans``.
    """

    def __init__(self, package: str):
        self.package = package
        self.spans: list[list] = []
        self.query = None
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- recording ---------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, layer: str) -> int:
        stack = self._stack()
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                [name, layer, time.perf_counter(), None,
                 stack[-1] if stack else -1, self.query]
            )
        stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx][3] = time.perf_counter()
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        idx = self._open(name, layer)
        try:
            yield
        finally:
            self._close(idx)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self._open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(idx)

        traced.__perfbench_wrapped__ = fn
        return traced

    # -- installation ------------------------------------------------
    def install(self) -> int:
        """Wrap every public function of :data:`LAYER_MODULES` and the
        public methods of :data:`LAYER_CLASSES`; returns how many."""
        import importlib

        replace: dict[int, object] = {}
        for short in LAYER_MODULES:
            mod = importlib.import_module(f"{self.package}.{short}")
            for attr, fn in vars(mod).items():
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == mod.__name__
                ):
                    replace[id(fn)] = self.wrap(fn, f"{short}.{attr}", short)
        for short, cls_name in LAYER_CLASSES:
            cls = getattr(importlib.import_module(f"{self.package}.{short}"), cls_name)
            for attr, fn in list(vars(cls).items()):
                if inspect.isfunction(fn) and (attr == "__call__" or not attr.startswith("_")):
                    setattr(cls, attr, self.wrap(fn, f"{short}.{cls_name}.{attr}", short))
        # rebind every module-level reference, so `from x import f` and
        # later `import`-inside-function lookups both reach the wrapper
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(self.package) or not isinstance(mod, types.ModuleType):
                continue
            for attr, value in list(vars(mod).items()):
                wrapper = replace.get(id(value))
                if wrapper is not None and getattr(wrapper, "__perfbench_wrapped__", None) is value:
                    setattr(mod, attr, wrapper)
        return len(replace)

    # -- reduction ---------------------------------------------------
    def totals(self, since: int = 0) -> dict:
        """Per-layer self seconds, per-name inclusive seconds and call
        counts over the spans opened at index ``since`` or later."""
        spans = self.spans[since:]
        child_time = defaultdict(float)
        for s in spans:
            if s[4] >= since and s[3] is not None:
                child_time[s[4]] += s[3] - s[2]
        self_s = defaultdict(float)
        incl_s = defaultdict(float)
        calls = defaultdict(int)
        for i, s in enumerate(spans, start=since):
            if s[3] is None:
                continue
            dur = s[3] - s[2]
            self_s[s[1]] += dur - child_time[i]
            incl_s[s[0]] += dur
            calls[s[0]] += 1
        return {"self_s": self_s, "incl_s": incl_s, "calls": calls}

    def calls_by_query(self, name: str, since: int = 0) -> dict:
        """Calls of ``name`` per query, over the spans opened at index
        ``since`` or later."""
        counts = defaultdict(int)
        for s in self.spans[since:]:
            if s[0] == name:
                counts[s[5]] += 1
        return dict(counts)

    def dump(self, path: str, records: list[dict]) -> None:
        """Write every span, then ``records`` (one JSON object a line)."""
        keys = ("name", "layer", "start", "end", "parent", "query")
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(zip(keys, s))) + "\n")
            for r in records:
                f.write(json.dumps(r) + "\n")


class JobCounter:
    """Counts every Spark job, stage and task started between two marker
    jobs. Job ids are global and sequential in a SparkContext, so the
    count also covers jobs started by other threads (streaming
    micro-batches), which a job group would miss."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self._n = 0

    def marker(self) -> int:
        """Run one single-task JVM job and return its job id, once the
        status store has seen it finish (the store is fed by an
        asynchronous, ordered event queue, so every earlier job has been
        recorded by then as well)."""
        self._n += 1
        group = f"perfbench-marker-{os.getpid()}-{self._n}"
        jvm = self.sc._jvm
        self.sc.setJobGroup(group, "perfbench marker")
        try:
            one = jvm.java.util.ArrayList()
            one.add(1)
            self.sc._jsc.parallelize(one, 1).count()
        finally:
            self.sc._jsc.clearJobGroup()
        deadline = time.monotonic() + 10.0
        while True:
            ids = self.status.getJobIdsForGroup(group)
            if ids:
                info = self.status.getJobInfo(ids[0])
                if info is not None and info.status == "SUCCEEDED":
                    return ids[0]
            if time.monotonic() > deadline:
                raise RuntimeError("marker job never reached the status store")
            time.sleep(0.002)

    def between(self, first: int, last: int) -> tuple[int, int, int]:
        """(jobs, stages run, tasks run) strictly between two markers."""
        stages = tasks = 0
        for job in range(first + 1, last):
            info = self.status.getJobInfo(job)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.status.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return last - first - 1, stages, tasks


def streaming_listener():
    """A StreamingQueryListener that sums each trigger's phase times."""
    from pyspark.sql.streaming import StreamingQueryListener

    class PhaseListener(StreamingQueryListener):
        FIELDS = ("triggerExecution", "addBatch", "walCommit",
                  "commitOffsets", "queryPlanning")

        def __init__(self):
            self.lock = threading.Lock()
            self.totals = defaultdict(float)

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self.lock:
                self.totals["batches"] += 1
                for k in self.FIELDS:
                    self.totals[k] += p.durationMs.get(k, 0)
                self.totals["stateCommit"] += sum(
                    op.commitTimeMs for op in p.stateOperators
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def snapshot(self) -> dict:
            with self.lock:
                return dict(self.totals)

    return PhaseListener()


class Proc:
    """CPU seconds (since each process started) and peak resident memory
    of the driver: this Python process plus its JVM child."""

    def __init__(self, spark):
        self.jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        self._tick = os.sysconf("SC_CLK_TCK")

    def py_cpu_s(self) -> float:
        r = resource.getrusage(resource.RUSAGE_SELF)
        return r.ru_utime + r.ru_stime

    def jvm_cpu_s(self) -> float:
        with open(f"/proc/{self.jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / self._tick

    def peak_rss_mb(self) -> float:
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0


def ref_loop_s() -> float:
    """The host's current speed: median CPU time of a fixed pure-Python
    loop (500 000 additions) over seven runs. Nothing in it ages or
    caches, so it changes only when the machine does; CPU time rather
    than wall time, so time stolen by the hypervisor does not count, as
    it does not count in the CPU time it scales."""
    times = []
    for _ in range(7):
        t0 = time.thread_time()
        x = 0
        for i in range(500_000):
            x += i
        times.append(time.thread_time() - t0)
    return statistics.median(times)
