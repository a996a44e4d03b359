"""The engine's one home for where data lands outside a caller's
paths: per-call scratch directories, build-once reuse caches, and
reliable checkpoints with observe()-fused convergence signatures.

Paths and reuse.  This module is the only one that asks the OS for a
temp location (``gettempdir``/``mkdtemp``) or decides whether a cache
may be reused:

* :func:`scratch_dir` — a fresh directory per call, removed at process
  exit: every per-call output (a round-trip sink, a replay feed, a
  gate's checkpoint) goes here, so concurrent runs never share a path.
* :func:`reuse_dir` — the deterministic ``ctdc-<kind>-<md5(key)[:12]>``
  name of a cache that outlives the process, for the library operators
  that take a caller path (below).
* :func:`reuse` — build once, search many: the cache at
  ``reuse_dir(kind, key)`` is reused while its ``meta.json`` matches the
  caller's ``want`` fields (a content fingerprint plus any version
  token), else rebuilt in a unique staging sibling and published by
  rename, so no reader ever sees a half-built cache.

The library indexes whose path the caller supplies —
``ivf_build_or_reuse``, ``ivf_pq_build_or_reuse`` and
``minhash_index_reuse_or_build`` — keep a one-row Parquet ``meta``
table, read by :func:`read_meta`, and reuse it by the rule
:func:`reuse` applies to ``meta.json`` (:func:`meta_matches`).  They
build in place, because a caller path may be remote storage that a
local rename cannot publish to (queries hand them a :func:`reuse_dir`
path).  Mutation after publish also stays with its owner: ``ivf_drift``
records its ``drift_baseline`` into an existing index, and q136 merges
into its published snapshot and re-checks the row count it recorded.

Checkpoints.  :func:`pin` is the ensure-dir +
``checkpoint(eager=True)`` pattern that ~20 call sites used to inline
(the round-10 self-review's deferred refactor), plus the round-11
job-count optimization: iterative operators that need a convergence
signature of the frame they just materialized used to pay a SEPARATE
aggregation job per round (checkpoint action, then a count/xor-hash
action re-reading the checkpoint).
:func:`pin_with_signature` collects the (count, order-independent
xor-hash) signature from the SAME job via ``DataFrame.observe`` —
metrics accumulate on the driver while the checkpoint job computes each
partition, so every loop round is ONE action instead of two
(spark_optimization_guide §1.5/§5: the signature is metadata of work
already being done, not a second pass).

Why reliable checkpoints and never ``localCheckpoint``: local
checkpoint blocks live on executors and are not recomputable, so on a
real cluster one lost executor kills an iterative job — the repo's
documented durability stance since round 2.  Why checkpoint and not
persist for lineage control: persist materializes DATA but keeps the
LOGICAL plan, so Catalyst re-analysis grows superlinearly with loop
depth (measured in round 10's checkpoint-cadence A/B); checkpoint is
the only cut that also resets the plan.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

__all__ = [
    "content_fingerprint",
    "ensure_checkpoint_dir",
    "hadoop_delete",
    "hadoop_exists",
    "meta_matches",
    "path_bytes",
    "pin",
    "pin_if_input_large",
    "pin_with_signature",
    "read_meta",
    "read_optional",
    "reuse",
    "reuse_dir",
    "scan_input_bytes",
    "scratch_dir",
    "training_sample",
    "under_scratch_dir",
]

# every directory scratch_dir has made in this process
_SCRATCH_DIRS: set[str] = set()


def scratch_dir(prefix: str) -> str:
    """A fresh driver-local temp directory, removed at process exit.

    It outlives the call, so a lazily evaluated frame can still read a
    sink written there, and it is unique per call, so concurrent runs
    never share (and clobber) one fixed location."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    _SCRATCH_DIRS.add(path)
    return path


def reuse_dir(kind: str, key: str) -> str:
    """The fixed temp path of the ``kind`` cache for ``key``:
    ``<gettempdir()>/ctdc-<kind>-<md5(key)[:12]>``.  Every process that
    asks with the same pair gets the same path, which is what lets a
    cache outlive the call that built it."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(key.encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"ctdc-{kind}-{tag}")


def _read_json_meta(root: str) -> dict | None:
    import json
    import os

    try:
        with open(os.path.join(root, "meta.json")) as fh:
            meta = json.load(fh)
    except (OSError, ValueError):
        return None
    return meta if isinstance(meta, dict) else None


def meta_matches(meta: dict | None, want: dict) -> bool:
    """The one staleness rule: a cache or index whose recorded ``meta``
    holds every ``want`` field with an equal value is reused; any other
    (no meta, a missing field, a changed value) is rebuilt."""
    return meta is not None and all(meta.get(k) == v for k, v in want.items())


def reuse(kind: str, key: str, want: dict, build) -> tuple[str, dict, bool]:
    """Build once, search many: return ``(root, meta, built)`` for the
    cache at :func:`reuse_dir` ``(kind, key)``.

    The cache is reused when every ``want`` field (JSON values: a
    content fingerprint, a version token) equals the one recorded in
    ``root/meta.json``.  Otherwise ``build(staging)`` fills a unique
    sibling ``<root>.build-<pid>-<token>``; ``meta.json`` — the ``want``
    fields plus any dict ``build`` returns — is written last, and the
    staging directory is published by rename, replacing a stale root.
    If another process published a matching root first, the staging
    copy is discarded and that root is used (``built`` is False).  If
    ``build`` raises, the staging directory is removed and the
    exception propagates; the root is left as it was."""
    import json
    import os
    import secrets
    import shutil

    want = json.loads(json.dumps(want))  # tuples compare as JSON lists
    root = reuse_dir(kind, key)
    meta = _read_json_meta(root)
    if meta_matches(meta, want):
        return root, meta, False
    staging = f"{root}.build-{os.getpid()}-{secrets.token_hex(4)}"
    os.makedirs(staging)
    try:
        meta = {**want, **(build(staging) or {})}
        with open(os.path.join(staging, "meta.json"), "w") as fh:
            json.dump(meta, fh)
        while True:
            try:
                os.rename(staging, root)
                return root, meta, True
            except OSError:
                have = _read_json_meta(root)
                if meta_matches(have, want):
                    shutil.rmtree(staging, ignore_errors=True)
                    return root, have, False
                if not os.path.isdir(root):
                    raise
            # a stale root is in the way: move it aside, then retry
            old = f"{root}.stale-{os.getpid()}-{secrets.token_hex(4)}"
            try:
                os.rename(root, old)
            except FileNotFoundError:
                continue
            shutil.rmtree(old, ignore_errors=True)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise


def _hadoop_fs(spark, path: str):
    """``(FileSystem, Path)`` for ``path`` via the Hadoop FS API, which
    works for any scheme the session can reach."""
    p = getattr(spark._jvm, "org.apache.hadoop.fs.Path")(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def hadoop_exists(spark, path: str) -> bool:
    """Whether ``path`` exists.  The cold-index probes ask this before
    reading an index table: a failing ``spark.read`` is not silent once
    the session has run an ``observe()`` — Spark's observation listener
    logs its full stack trace at ERROR."""
    fs, p = _hadoop_fs(spark, path)
    return bool(fs.exists(p))


def hadoop_delete(spark, path: str) -> bool:
    """Recursively delete ``path`` via the Hadoop FS API.  Returns
    whether the path existed — callers that KNOW it must exist treat
    False as an error instead of silently skipping (the
    leaf-path-mismatch failure mode)."""
    fs, p = _hadoop_fs(spark, path)
    if fs.exists(p):
        fs.delete(p, True)
        return True
    return False


def read_optional(spark, path: str) -> DataFrame | None:
    """``spark.read.parquet(path)`` of an optional table, or None when
    the path does not exist (asked first, for the reason
    :func:`hadoop_exists` gives) or holds no Parquet to read: no data
    file (``AnalysisException``) or a file that is not Parquet, such as
    a part file a torn write truncated (a footer-read failure).  Any
    other error (a storage fault) surfaces: it must not trigger a
    rebuild over a valid index."""
    from py4j.protocol import Py4JJavaError

    if not hadoop_exists(spark, path):
        return None
    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return None
    except Py4JJavaError as e:
        if "is not a Parquet file" in str(e):
            return None
        raise


def read_meta(spark, path: str) -> dict | None:
    """The one-row Parquet meta table at ``path`` as a dict, or None
    when :func:`read_optional` finds no table there or it holds no row.
    Reuse is ``meta_matches(read_meta(spark, path), want)``."""
    df = read_optional(spark, path)
    row = df.first() if df is not None else None
    return row.asDict() if row is not None else None


def content_fingerprint(df: DataFrame, id_col: str) -> tuple[int, str]:
    """Cheap content fingerprint of an indexed table — the IVF, IVF-PQ
    and MinHash indexes' reuse check: (row count, max id rendered as
    string).  Count comes from parquet footers; the max is a
    single column-pruned partial-agg scan — negligible next to a k-means
    fit, and it catches a regenerated source table that a bare
    path-exists check would silently miss."""
    row = df.agg(
        F.count("*").alias("n"),
        F.max(F.col(id_col).cast("string")).alias("mx"),
    ).first()
    return int(row["n"]), (row["mx"] if row["mx"] is not None else "")


def training_sample(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n: int,
    seed: int,
    rows: int | None = None,
) -> "np.ndarray":
    """The ``vec_col`` vectors of up to ``n`` rows of ``df`` as one
    matrix: the rows with the smallest ``xxhash64(id, seed)``, stacked
    in ``df``'s own row order, so a table of at most ``n`` rows trains
    on itself as given.  The same input files give the same matrix on
    every run, so k-means centroids and PQ codebooks trained on it are
    reproducible (a ``sample(frac).limit(n)`` draw takes rows in
    shuffle-arrival order).

    The driver receives about ``n`` rows, not one top-``n`` per
    partition: rows are first kept by a hash range sized from the row
    count (``rows`` when the caller knows it, else counted) to hold
    ``n`` with five standard deviations to spare, and the ordered limit
    runs over those."""
    import numpy as np

    h = F.xxhash64(F.col(id_col), F.lit(seed))
    rows = df.count() if rows is None else rows
    frac = (n + 5 * n**0.5 + 20) / max(rows, 1)
    if frac < 1.0:
        # xxhash64 is uniform over the signed 64-bit range
        df = df.where(h < F.lit(-(2**63) + int(frac * 2**64)))
    pdf = (
        df.withColumn("__pos", F.monotonically_increasing_id())
        .orderBy(h, F.col(id_col))
        .limit(n)
        .select("__pos", vec_col)
        .toPandas()
        .sort_values("__pos")
    )
    return np.vstack(pdf[vec_col].to_numpy())


def under_scratch_dir(path: str) -> bool:
    """Whether ``path`` lies in a directory :func:`scratch_dir` made in
    this process, which no caller named and no other process uses."""
    import os

    path = os.path.abspath(path)
    return any(
        path == d or path.startswith(d + os.sep) for d in _SCRATCH_DIRS
    )


def ensure_checkpoint_dir(sc) -> None:
    """Auto-configure a checkpoint dir when unset, but make the scope of
    the fallback explicit: a driver-local temp dir gives RELIABLE
    checkpoint semantics only on ``local[*]`` masters.  On a real
    cluster executors cannot read the driver's /tmp, so the advertised
    executor-loss recoverability silently would not hold — warn so the
    operator points ``sc.setCheckpointDir`` at shared durable storage
    (HDFS/S3) instead."""
    if sc.getCheckpointDir() is not None:
        return
    import warnings

    # checkpoint files are only auto-deleted while the app runs when
    # spark.cleaner.referenceTracking.cleanCheckpoints=true (bench.py
    # and the tools set it); the directory WE created is additionally
    # removed at process exit so repeated runs cannot grow /tmp
    # unboundedly.  A caller-configured dir is never touched.
    path = scratch_dir("ctdc-checkpoint-")
    if not sc.master.startswith("local"):
        warnings.warn(
            "no checkpoint dir configured; falling back to driver-local "
            f"{path} on non-local master {sc.master!r} — reliable-"
            "checkpoint recovery after executor loss will NOT hold. "
            "Call sc.setCheckpointDir(<shared durable storage>) first.",
            RuntimeWarning,
            stacklevel=3,
        )
    sc.setCheckpointDir(path)


def pin(df: DataFrame) -> DataFrame:
    """Materialize ``df`` once with a RELIABLE eager checkpoint (the
    checkpoint dir auto-configured when unset) and return the
    lineage-cut frame.

    The per-call materialization discipline in one greppable place:
    the checkpointed frame is a per-call temporary keyed by nothing —
    every invocation of the calling operator still computes from
    parquet (no cross-run reuse); the checkpoint only stops Catalyst
    re-deriving a diamond-shaped subtree once per consumer."""
    ensure_checkpoint_dir(df.sparkSession.sparkContext)
    return df.checkpoint(eager=True)


def scan_input_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes behind ``df``'s file scans, or None when it
    cannot be determined cheaply (non-file sources, remote filesystems
    this driver cannot stat).  Driver-side metadata only — no job runs.
    """
    return _scan_input_bytes(df, stop_at=float("inf"))


def _scan_input_bytes(df: DataFrame, stop_at: float) -> int | None:
    try:
        return path_bytes(df.inputFiles(), stop_at)
    except Exception:
        return None


def path_bytes(paths, stop_at: float = float("inf")) -> int | None:
    """Total on-disk bytes under ``paths`` (files, and directories
    walked recursively), or None when one cannot be stat-ed locally:
    a remote filesystem, a glob, a missing path.  Stops
    stat-ing once the running total reaches ``stop_at``: past a size
    threshold the exact total cannot change the caller's answer."""
    import os
    import stat

    total = 0
    try:
        for uri in paths:
            path = uri.removeprefix("file:")
            if "://" in path:  # hdfs://, s3a://, ... — not stat-able here
                return None
            info = os.stat(path)
            sizes = (
                (
                    os.stat(os.path.join(d, f)).st_size
                    for d, _, fs in os.walk(path)
                    for f in fs
                )
                if stat.S_ISDIR(info.st_mode)
                else (info.st_size,)
            )
            for size in sizes:
                total += size
                if total >= stop_at:
                    return total
    except OSError:
        return None
    return total


def pin_if_input_large(
    df: DataFrame,
    source_df: DataFrame,
    threshold_bytes: int = 64 << 20,
) -> DataFrame:
    """Cost-conditional :func:`pin` (round-11 verdict item 1): a
    checkpoint only pays when the pass it truncates is expensive, and
    that cost scales with the SOURCE scan, not with the pinned frame.
    Pin when ``source_df``'s scan input exceeds ``threshold_bytes`` —
    or when its size cannot be determined, because the safe default at
    unknown scale is to materialize once rather than re-derive an
    O(n²) subtree per consumer.  At fixture scale (sub-MB inputs) the
    checkpoint's write+read round-trip exceeds the saved recomputation
    (measured on q106: 5.15 s pinned vs 4.86 s unpinned min-of-5) and
    the pin is skipped."""
    size = _scan_input_bytes(source_df, stop_at=threshold_bytes)
    if size is not None and size < threshold_bytes:
        return df
    return pin(df)


def _signature_aggs(hash_cols: tuple[str, ...]) -> list:
    # bit_xor: order-independent, overflow-free (a sum of 64-bit hashes
    # overflows long under ANSI); callers feed row-distinct frames so
    # xor-cancellation of repeated rows cannot occur
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*hash_cols)), F.lit(0)).alias("h"),
    ]


def pin_with_signature(
    df: DataFrame, *hash_cols: str
) -> tuple[DataFrame, tuple[int, int]]:
    """:func:`pin`, plus the (row count, order-independent xor-hash)
    convergence signature of exactly the rows materialized — collected
    from the SAME checkpoint job via ``DataFrame.observe`` instead of a
    second aggregation action re-reading the checkpoint.  Returns
    ``(checkpointed_frame, (n, h))``.

    The signature values are identical to the former two-action form
    (same count/xxhash64/bit_xor expressions over the same rows); only
    the job count changes (2 → 1 per loop round)."""
    ensure_checkpoint_dir(df.sparkSession.sparkContext)
    obs = Observation()
    observed = df.observe(obs, *_signature_aggs(hash_cols))
    ck = observed.checkpoint(eager=True)
    if ck is observed:  # pragma: no cover - plan-audit unpinned pass
        # tools/plan_audit.py patches DataFrame.checkpoint to identity
        # to audit the full pre-pin plan; no action ran, so obs.get
        # would block forever — compute the signature directly instead
        row = df.agg(*_signature_aggs(hash_cols)).first()
        return ck, (int(row["n"]), int(row["h"]))
    m = obs.get
    return ck, (int(m["n"]), int(m["h"]))
