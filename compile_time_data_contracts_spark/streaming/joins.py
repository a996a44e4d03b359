"""Stream-stream joins and contract-pinned streaming sinks.

Stream-stream joins need watermarks on both sides plus an event-time
range condition so Spark can bound the join state: each side buffers
only rows younger than (watermark − interval).  Without the range
condition state grows forever — the constructor here refuses to build
such a join rather than shipping an unbounded-state plan to a 100 TB
cluster.

``write_stream_with_contract`` bridges Structured Streaming to the
engine's contract discipline: every micro-batch passes through the same
policy pin as a batch write (``write_df``), so a mid-stream schema drift
(e.g. a new field appearing after a producer deploy) aborts the query
instead of silently corrupting the sink.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..contracts.policies import SchemaPolicy
from ..sources.io import Sink, write_df

__all__ = [
    "interval_join",
    "interval_join_gate",
    "outer_interval_join_gate",
    "write_stream_with_contract",
    "write_stream_idempotent",
    "idempotent_batch_writer",
]


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower: str = "0 seconds",
    upper: str = "1 hour",
    left_watermark: str = "1 hour",
    right_watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join constrained to
    ``right_ts ∈ [left_ts - upper, left_ts - lower]`` — e.g. each click
    joined to purchases in the preceding hour.  Both sides are
    watermarked and the range condition bounds state retention; Spark
    derives the per-side buffer horizon from watermark + interval.
    """
    l = left.withWatermark(left_ts, left_watermark).alias("l")
    r = right.withWatermark(right_ts, right_watermark).alias("r")
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (
            F.col(f"r.{right_ts}")
            >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {upper}")
        )
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {lower}")
        )
    )
    return l.join(r, cond, how)


def write_stream_with_contract(
    stream: DataFrame,
    sink: Sink,
    policy: SchemaPolicy = SchemaPolicy.EXACT_UNORDERED_CI,
    checkpoint: str | None = None,
    query_name: str = "ctdc_contract_sink",
    available_now: bool = True,
):
    """Start a streaming write where EVERY micro-batch runs the policy
    pin before appending (foreachBatch -> write_df with mode=append):
    the streaming analogue of the batch sink fuse.  A schema drift in
    any batch raises SchemaMismatchError and fails the query — data
    stops moving, exactly like the batch pipeline's construction-time
    refusal.  Returns the StreamingQuery (caller awaits termination)."""
    # replace() copies every field and overrides only mode, so a future
    # Sink field can never be silently dropped or misassigned here
    append_sink = dataclasses.replace(sink, mode="append")

    def pin_and_write(batch_df: DataFrame, batch_id: int) -> None:
        write_df(batch_df, append_sink, policy)

    writer = (
        stream.writeStream.foreachBatch(pin_and_write)
        .queryName(query_name)
        .outputMode("append")
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def interval_join_gate(
    spark,
    sf_dir: str,
    query_name: str = "ctdc_q86_sink",
) -> DataFrame:
    """Gate-checkable stream-stream interval join: two streaming sources
    over the same events feed, inner-joined per user to events in the
    preceding 30 minutes through the watermarked range-condition path,
    run to completion and aggregated to per-user pair counts.

    Both sides arrive in the first micro-batch (single-file feed), so
    nothing can be state-evicted before its match and the result equals
    the batch interval join — which is the DuckDB oracle.  What this
    gates is the stream-stream plumbing itself: dual watermarks, the
    state-bounding range condition, and append-mode inner-join emission.
    """
    from ..catalog import load_table
    from ..operators.materialize import scratch_dir
    from .windows import run_gate_to_memory, write_ordered_feed_parallel

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", "value")
        .filter(F.pmod(F.col("user_id"), F.lit(5)) == 0)
    )
    base = scratch_dir("ctdc-ssjoin-")
    # single-batch feed written at natural parallelism (no reader
    # maxFilesPerTrigger, so availableNow takes every file in the one
    # micro-batch the gate's semantics require)
    write_ordered_feed_parallel([ev], base)

    def source() -> DataFrame:
        return spark.readStream.schema(ev.schema).parquet(base)

    joined = interval_join(
        source(),
        source(),
        on="user_id",
        lower="0 seconds",
        upper="30 minutes",
        left_watermark="1 hour",
        right_watermark="2 hours",
    )
    pairs = joined.select(F.col("l.user_id").alias("user_id"))
    table, _ = run_gate_to_memory(pairs, query_name, "append")
    return table.groupBy("user_id").agg(F.count("*").alias("n_pairs"))


def idempotent_batch_writer(path: str):
    """The per-batch writer `write_stream_idempotent` installs — exposed
    so tests and gates can SIMULATE a post-crash redelivery by invoking
    it again with the same (batch_df, batch_id) and asserting the sink
    is unchanged."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("__batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(path)
        )

    return write_batch


def write_stream_idempotent(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    query_name: str = "ctdc_idempotent_sink",
    available_now: bool = True,
):
    """Exactly-once parquet sink via batch-id partitioning: each
    micro-batch writes to ``path/__batch_id=N`` with DYNAMIC partition
    overwrite, so a batch RE-DELIVERED after a crash between the data
    write and the checkpoint commit (the at-least-once window of plain
    ``foreachBatch`` + append) replaces its own partition instead of
    duplicating rows.  This is the standard idempotent-sink recipe for
    engines without a transactional table format: (output, batch_id) is
    deterministic, and overwrite-by-batch-partition makes redelivery a
    no-op.

    Readers use ``spark.read.parquet(path)`` and simply never select
    ``__batch_id``; at 100 TB the per-batch directories double as
    retention/compaction units (`compact_parquet` on aged batches).
    ``checkpoint`` is the caller's, so the query keeps Spark's default
    checkpoint manager, whose rename refuses a second writer.
    Returns the StreamingQuery.
    """
    writer = (
        stream.writeStream.foreachBatch(idempotent_batch_writer(path))
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def outer_interval_join_gate(
    spark,
    sf_dir: str,
    query_name: str = "ctdc_q199_sink",
) -> DataFrame:
    """Gate-checkable stream-stream LEFT OUTER interval join — the
    semantics q86's inner join cannot express: a left row with no match
    must still emit (with nulls) once the watermark proves no match can
    ever arrive.

    Why the null emission is the hard part: Spark holds an unmatched
    left row in state until the joint watermark passes its last possible
    match time; rows near the head of the stream would sit in state
    forever if the watermark never advanced past them.  The gate drives
    the flush deterministically with a SENTINEL second batch on BOTH
    feeds — one far-future row per side (10 h past max(ts), key outside
    the data's key space so it matches nothing) — which advances both
    watermarks past every real row.  After the sentinel batch, every
    matched pair AND every unmatched left row (as l.*, NULLs) has been
    emitted exactly once, so per-user row/unmatched counts equal the
    batch left join — the DuckDB oracle.  At 100 TB the same mechanism
    is simply the arrival of later event time; state stays bounded by
    watermark + interval exactly as in the inner case.

    Left feed: events with user_id % 5 == 0.  Right feed: the purchase
    subset of the same rows, so most left rows are unmatched.

    Feed build follows the index convention (q67/q107): the two feeds
    are deterministic functions of the events table, so they persist
    through :func:`~..operators.materialize.reuse` keyed on ``sf_dir``
    and are REBUILT only when the table's content fingerprint changes —
    the same build-once contract as the IVF index.  The STREAMING
    REPLAY itself (state store, watermark flush, exactly-once
    accounting) still runs on every call — reuse removes the redundant
    feed materialization, never the semantics under test.  Feeds are written at natural
    parallelism (:func:`write_ordered_feed_parallel`), not through a
    one-task ``coalesce(1)`` funnel.
    """
    import datetime
    import os

    from ..catalog import load_table
    from ..operators.materialize import reuse
    from .windows import run_gate_to_memory, write_ordered_feed_parallel

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    left = ev.filter(F.pmod(F.col("user_id"), F.lit(5)) == 0)
    right = left.filter(F.col("event_type") == "purchase")

    # one row, driver-side: content fingerprint + sentinel base.  The
    # fingerprint covers the columns that DEFINE the feeds (the left
    # predicate's user_id slice, the right predicate's purchase subset,
    # the event_id sum as a content proxy), not just table shape — a
    # regenerated table with the same row count and max ts but a
    # different event mix must rebuild, not silently replay stale feeds
    row = ev.agg(
        F.count("*").alias("n"),
        F.max("ts").alias("mx"),
        F.sum(
            (F.pmod(F.col("user_id"), F.lit(5)) == 0).cast("long")
        ).alias("n_left"),
        F.sum(
            (
                (F.pmod(F.col("user_id"), F.lit(5)) == 0)
                & (F.col("event_type") == "purchase")
            ).cast("long")
        ).alias("n_right"),
        F.sum(F.col("event_id").cast("decimal(38,0)")).alias("id_sum"),
    ).first()
    max_ts = row["mx"]
    sentinel = max_ts + datetime.timedelta(hours=10)
    sent_l = spark.createDataFrame(
        [(-1, -998, sentinel, "sentinel")], ev.schema
    )
    sent_r = spark.createDataFrame(
        [(-2, -999, sentinel, "sentinel")], ev.schema
    )

    want = {
        "n": int(row["n"]),
        "max_ts": str(max_ts),
        "n_left": int(row["n_left"] or 0),
        "n_right": int(row["n_right"] or 0),
        "id_sum": str(row["id_sum"]),
        "version": 3,
    }

    def build(stage: str) -> dict:
        return {
            "mft_l": write_ordered_feed_parallel(
                [left, sent_l], os.path.join(stage, "left")
            ),
            "mft_r": write_ordered_feed_parallel(
                [right, sent_r], os.path.join(stage, "right")
            ),
        }

    feed_root, meta, _ = reuse("ossjoin", sf_dir, want, build)
    lbase = os.path.join(feed_root, "left")
    rbase = os.path.join(feed_root, "right")
    mft_l, mft_r = meta["mft_l"], meta["mft_r"]

    def source(base: str, max_files: int) -> DataFrame:
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", str(max_files))
            .parquet(base)
        )

    joined = interval_join(
        source(lbase, mft_l),
        source(rbase, mft_r),
        on="user_id",
        lower="0 seconds",
        upper="30 minutes",
        left_watermark="1 hour",
        right_watermark="2 hours",
        how="left_outer",
    )
    out = joined.select(
        F.col("l.user_id").alias("user_id"),
        F.col("r.event_id").alias("r_event_id"),
    )
    table, _ = run_gate_to_memory(out, query_name, "append")
    return (
        table
        .filter(F.col("user_id") >= 0)  # the left sentinel, if flushed
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.col("r_event_id").isNull().cast("long"))
            .cast("bigint")
            .alias("n_unmatched"),
        )
    )
