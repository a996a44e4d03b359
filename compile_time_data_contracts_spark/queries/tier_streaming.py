"""Structured Streaming surface: watermarks, stateful aggregation, stream
joins, session windows, exactly-once sinks, RocksDB state store.

Split from the original single-module inventory (round 5); registration
order within a tier is preserved, and all modules share the `_shared`
registry so `queries()` / `oracle_sql()` stay the single assembly point.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from ._shared import _ORACLES, _QUERIES, _ts_str, q  # noqa: F401


@q(
    "q44_watermark_stream",
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
              count(*) AS n
       FROM events GROUP BY 1""",
)
def q44(spark: SparkSession, sf: str) -> DataFrame:
    """True Structured Streaming: file source -> watermark -> tumbling
    window agg -> memory sink, run to completion with availableNow.
    Complete output mode makes the final state equal the batch answer, so
    the batch SQL oracle applies.  (Append-mode late-data drop semantics
    are exercised in tests/test_streaming.py with a two-batch feed.)"""
    from ..streaming.windows import run_stream_to_memory

    return run_stream_to_memory(spark, sf)


# =========================================================================
# Scale-hardening gate queries (Q78-Q81): append-mode watermark semantics,
# skew mitigation, bucketed co-located joins — each oracle-checked against
# the plain (unsalted/unbucketed/batch) SQL so the physical rewrite is
# proven result-identical.
# =========================================================================

@q(
    "q78_watermark_late_drop",
    """WITH nonlate AS (SELECT * FROM events WHERE event_id % 100 <> 0),
            late AS (SELECT * FROM events WHERE event_id % 100 = 0),
            wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM nonlate),
            fin AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
            kept AS (
              SELECT ts FROM nonlate
              UNION ALL
              SELECT l.ts FROM late l, wm
              WHERE date_trunc('hour', l.ts) + INTERVAL 1 HOUR > wm.w
            )
       SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
              count(*) AS n
       FROM kept, fin
       WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= fin.w
       GROUP BY 1""",
)
def q78(spark: SparkSession, sf: str) -> DataFrame:
    """TRUE append-mode watermark late-drop (SURVEY §2.2 Q44's original
    description): a 3-batch ordered replay of events with late rows
    injected last; Spark's watermark machinery drops expired late rows
    and emits only closed windows, and the oracle recomputes both
    effects from the same deterministic split."""
    from ..streaming.windows import late_drop_counts

    return late_drop_counts(spark, sf)


@q(
    "q84_stateful_running_totals",
    """SELECT user_id, count(*) AS n_events,
              round(sum(value), 2) AS total_value_r
       FROM events GROUP BY user_id""",
)
def q84(spark: SparkSession, sf: str) -> DataFrame:
    """Arbitrary-stateful streaming (applyInPandasWithState): per-user
    (count, sum) state accumulated across a 3-batch ordered replay; the
    final per-user emission must equal the batch GROUP BY oracle — the
    state-store path is value-checked at the gate, not only in tests."""
    from ..streaming.stateful import stateful_totals_gate

    return stateful_totals_gate(spark, sf)


@q(
    "q86_stream_interval_join",
    """SELECT l.user_id, count(*) AS n_pairs
       FROM (SELECT * FROM events WHERE user_id % 5 = 0) l
       JOIN (SELECT * FROM events WHERE user_id % 5 = 0) r
         ON l.user_id = r.user_id
        AND r.ts >= l.ts - INTERVAL 30 MINUTE
        AND r.ts <= l.ts
       GROUP BY l.user_id""",
)
def q86(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream interval join (dual watermarks + state-bounding
    range condition) run to completion; per-user pair counts equal the
    batch interval join, which is the oracle."""
    from ..streaming.joins import interval_join_gate

    return interval_join_gate(spark, sf)


@q(
    "q100_stream_dedup",
    """SELECT user_id, count(*) AS n_events,
              round(sum(value), 2) AS total_value_r
       FROM events GROUP BY user_id""",
)
def q100(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming exactly-once dedup under replay: batch 1 re-emits exact
    copies of every event_id % 10 == 0 row; dropDuplicatesWithinWatermark
    (bounded state — entries evicted once the watermark passes their
    event time) must drop every replay, so the emitted rows equal the
    distinct originals and the batch GROUP BY is the oracle."""
    from ..streaming.windows import stream_dedup_gate

    return stream_dedup_gate(spark, sf)


@q(
    "q123_python_stream_source",
    """SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum(id) AS BIGINT) AS sum_id,
              CAST(sum(CASE WHEN ((id * 2654435761) % 4294967296)
                                 < 2147483648 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_low
       FROM generate_series(0, 4999) t(id)""",
)
def q123(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING over the custom Python data source: the same
    ``ctdc_synth`` format read via ``readStream`` with a
    SimpleDataSourceStreamReader — offset init, batch read, and the
    readBetweenOffsets replay contract that underwrites exactly-once.
    An availableNow run drains the configured range into a memory sink;
    the oracle regenerates the identical rows.  This is the template
    for streaming systems Spark ships no connector for (queues, change
    feeds)."""
    from ..sources.pysource import register_synth_source

    register_synth_source(spark)
    stream = (
        spark.readStream.format("ctdc_synth")
        .option("n", "5000")
        .option("batch", "5000")
        .load()
    )
    agg = stream.groupBy().agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("id").cast("bigint").alias("sum_id"),
        F.sum(F.when(F.col("hash32") < 2147483648, 1).otherwise(0))
        .cast("bigint")
        .alias("n_low"),
    )
    from ..streaming.windows import run_gate_to_memory

    table, _ = run_gate_to_memory(agg, "ctdc_q123_sink", "complete")
    return table


@q(
    "q124_stream_static_join",
    """SELECT strftime(date_trunc('day', e.ts), '%Y-%m-%d') AS day,
              CAST(count(*) AS BIGINT) AS n,
              CAST(round(sum(CAST(e.value *
                    (CASE e.event_type WHEN 'click' THEN 1.5
                                       WHEN 'purchase' THEN 3.0
                                       WHEN 'view' THEN 1.0
                                       ELSE 0.5 END) AS DECIMAL(28, 8))), 2)
                    AS DOUBLE) AS weighted_r
       FROM events e GROUP BY 1""",
)
def q124(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-STATIC enrichment join: the events stream joins a static
    dimension (per-type weights) inside the streaming query — the
    standard enrich-then-aggregate shape.  The dim is broadcast into
    every micro-batch (no stream state for the join; only the windowed
    agg keeps state), and a complete-mode availableNow replay must equal
    the batch aggregation exactly."""
    from ..streaming.windows import events_stream

    weights = spark.createDataFrame(
        [("click", 1.5), ("purchase", 3.0), ("view", 1.0)],
        "event_type string, w double",
    )
    stream = events_stream(spark, sf, glob="events.parquet")
    enriched = stream.join(F.broadcast(weights), "event_type", "left").select(
        "ts",
        "value",
        F.coalesce(F.col("w"), F.lit(0.5)).alias("w"),
    )
    agg = (
        enriched.groupBy(F.window("ts", "1 day").alias("win"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(
                F.sum(
                    (F.col("value") * F.col("w")).cast("decimal(28,8)")
                ),
                2,
            ).cast("double").alias("weighted_r"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd").alias("day"),
            "n",
            "weighted_r",
        )
    )
    from ..streaming.windows import run_gate_to_memory

    table, _ = run_gate_to_memory(agg, "ctdc_q124_sink", "complete")
    return table


@q(
    "q132_stream_session_window",
    """WITH marked AS (
         SELECT user_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                     THEN 1 ELSE 0 END AS new_s
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ), numbered AS (
         SELECT user_id, ts,
                sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS s
         FROM marked
       )
       SELECT user_id,
              strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
              CAST(count(*) AS BIGINT) AS n_events
       FROM numbered GROUP BY user_id, s""",
)
def q132(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING session windows (merge-on-arrival session_window state,
    30-minute gap) replayed to completion over the static events feed —
    the streaming twin of batch q43/q113: a complete-mode availableNow
    run must produce exactly the sessions the batch gaps-and-islands
    computation derives.  Session-window state merges adjacent windows
    as events arrive; the watermark bounds it in production append
    mode."""
    from ..streaming.windows import events_stream, session_counts

    stream = events_stream(spark, sf, glob="events.parquet")
    agg = session_counts(stream, watermark="1 hour", gap="30 minutes")
    from ..streaming.windows import run_gate_to_memory

    table, _ = run_gate_to_memory(agg, "ctdc_q132_sink", "complete")
    return table.select(
        "user_id",
        "session_start",
        F.col("n_events").cast("bigint").alias("n_events"),
    )


@q(
    "q145_stream_idempotent_sink",
    """SELECT event_type,
              CAST(count(*) AS BIGINT) AS n,
              round(sum(value), 4) AS total_value
       FROM events GROUP BY event_type""",
)
def q145(spark: SparkSession, sf: str) -> DataFrame:
    """Exactly-once streaming sink under redelivery: the events table
    replays as 3 ordered micro-batches into the batch-id-partitioned
    idempotent sink, then batch 0 is RE-DELIVERED (simulating a crash
    between the data write and the checkpoint commit — the window where
    a plain append sink duplicates).  Dynamic partition overwrite makes
    the redelivery replace its own partition, so the final table must
    aggregate exactly to the batch recompute the oracle runs.  With an
    append sink this query would double batch 0's counts and fail the
    hash gate."""
    from ..operators.materialize import scratch_dir
    from ..streaming.joins import idempotent_batch_writer
    from ..streaming.windows import (
        events_stream,
        persistent_event_slices_feed,
        run_gate,
    )

    ev = load_table(spark, sf, "events")
    base = scratch_dir("ctdc-idem-")
    out, ckpt = f"{base}/out", f"{base}/ckpt"
    feed, mft = persistent_event_slices_feed(spark, sf)
    stream = events_stream(spark, feed, max_files_per_trigger=mft)
    writer = stream.writeStream.foreachBatch(idempotent_batch_writer(out))
    run_gate(stream, writer, ckpt)
    # post-crash redelivery of batch 0: same rows, same batch id
    slice0 = ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == 0)
    idempotent_batch_writer(out)(slice0, 0)
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


@q(
    "q167_rocksdb_state_store",
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
              round(sum(value), 2) AS total_value_r,
              TRUE AS rocksdb_engaged
       FROM events GROUP BY event_type""",
)
def q167(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming aggregation through the ROCKSDB state store provider —
    the scale path for keyed streaming state: the default provider
    holds state on the executor heap (bounded by memory), RocksDB
    spills to local disk with changelog checkpointing, scaling keyed
    state to billions of keys.  A 3-batch replay accumulates per-type
    totals across micro-batches; `rocksdb_engaged` is read back from
    the query's own state-operator metrics, so the gate fails if the
    provider conf silently didn't apply, and the totals must equal the
    batch GROUP BY (the oracle).  The provider conf is restored after
    the run — no session-wide side effect."""
    from ..streaming.stateful import rocksdb_totals_gate

    return rocksdb_totals_gate(spark, sf)


@q(
    "q196_state_store_reader",
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
              round(sum(value), 2) AS total_value_r
       FROM events GROUP BY user_id""",
)
def q196(spark: SparkSession, sf: str) -> DataFrame:
    """State Data Source (Spark 4, `spark.read.format("statestore")`):
    a completed streaming aggregation's checkpoint read back as a BATCH
    DataFrame — one task per state shard, no input replay — flattened
    to (user_id, n_events, total_value_r).  The snapshot of a committed
    per-user count/sum state must equal the batch GROUP BY over the same
    feed, which is the oracle; see
    `streaming/stateful.py: state_store_snapshot_totals` for why this is
    the operational primitive (state audits, debugging, reseeding) a
    1000-executor streaming deployment needs."""
    from ..streaming.stateful import state_store_snapshot_totals

    return state_store_snapshot_totals(spark, sf)


@q(
    "q199_stream_outer_join",
    """WITH l AS (SELECT * FROM events WHERE user_id % 5 = 0),
            r AS (SELECT * FROM events
                  WHERE user_id % 5 = 0 AND event_type = 'purchase')
       SELECT l.user_id,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CASE WHEN r.event_id IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_unmatched
       FROM l LEFT JOIN r
         ON l.user_id = r.user_id
        AND r.ts >= l.ts - INTERVAL 30 MINUTE
        AND r.ts <= l.ts
       GROUP BY l.user_id""",
)
def q199(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: unmatched left rows must
    emit with nulls — but only once the joint watermark proves no match
    can arrive, so the gate drives the flush with a far-future sentinel
    batch on both feeds (see `streaming/joins.py:
    outer_interval_join_gate`).  Per-user (rows, unmatched) counts equal
    the batch left join — the oracle.  Completes the stream-join surface
    alongside q86's inner form; state is bounded by watermark + interval
    exactly as there."""
    from ..streaming.joins import outer_interval_join_gate

    return outer_interval_join_gate(spark, sf)


@q(
    "q200_dynamic_gap_sessions",
    """WITH t AS (SELECT user_id, ts,
              ts + CASE WHEN event_type = 'purchase'
                        THEN INTERVAL 30 MINUTE
                        ELSE INTERVAL 10 MINUTE END AS e_end
            FROM events),
       m AS (SELECT user_id, ts, e_end,
               max(e_end) OVER (PARTITION BY user_id ORDER BY ts, e_end
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prev_max
             FROM t),
       f AS (SELECT *, CASE WHEN prev_max IS NULL OR ts > prev_max
                            THEN 1 ELSE 0 END AS brk FROM m),
       s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
               ORDER BY ts, e_end ROWS UNBOUNDED PRECEDING) AS sid
             FROM f)
       SELECT user_id,
              strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
              CAST(count(*) AS BIGINT) AS n_events
       FROM s GROUP BY user_id, sid""",
)
def q200(spark: SparkSession, sf: str) -> DataFrame:
    """DYNAMIC-gap session windows: the gap duration is a per-event
    expression (purchases hold a session open 30 min, everything else
    10 min) — q43/q132's static gap can't express engagement-dependent
    timeouts.  Spark merges an event into the running session when its
    ts is <= the running max of (ts + gap) over earlier events
    (boundary-equal MERGES — [start, end] inclusive at the merge step,
    pinned by test); the oracle replays exactly that rule as a
    running-max gaps-and-islands window.  Same single user_id exchange
    + sort as the static form, so the scale posture is q43's."""
    ev = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_type"
    )
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    return (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )


@q(
    "q202_state_metadata",
    """SELECT CAST(0 AS BIGINT) AS operator_id,
              'stateStoreSave' AS operator_name,
              'default' AS state_store_name,
              CAST(0 AS BIGINT) AS min_batch_id,
              CAST(0 AS BIGINT) AS max_batch_id""",
)
def q202(spark: SparkSession, sf: str) -> DataFrame:
    """Checkpoint operator metadata (`state-metadata` data source,
    Spark 4) — the discovery half of the state-reader story: q196 reads
    a checkpoint's state, q202 discovers WHAT the checkpoint contains
    (stateful operators, store names, committed batch range) without
    replaying anything.  A single-commit availableNow aggregation has
    exactly one stateStoreSave operator with batch range [0, 0], which
    the oracle pins (numPartitions is deliberately dropped — it echoes
    the runner's shuffle conf).  See `streaming/stateful.py:
    state_metadata_gate`."""
    from ..streaming.stateful import state_metadata_gate

    return state_metadata_gate(spark, sf)


@q(
    "q212_stream_incremental_rollup",
    """WITH g AS (
         SELECT event_type,
                strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000
                     AS BIGINT) AS micros,
                min(value) AS min_value,
                max(value) AS max_value
         FROM events GROUP BY event_type, day)
       SELECT event_type, day, n,
              CAST(micros AS DOUBLE) / 1000000 AS sum_value,
              min_value, max_value,
              CAST((2 * micros + 100 * n) // (200 * n) AS DOUBLE)
                / 10000 AS avg_value
       FROM g""",
)
def q212(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING materialized-view maintenance
    (`versioned_state_merger`, operators/incremental.py): the events
    table replays as 3 ordered micro-batches through `foreachBatch`;
    each epoch e writes state v{e} = merge(v{e-1},
    aggregate_state(batch)) — O(batch)+O(|keys|) per epoch, history
    never re-scanned.  Then epoch 1 is RE-DELIVERED (the crash window
    between sink write and checkpoint commit, q145's scenario): the
    redelivery rewrites v1 from the same inputs, so v2 — built before
    the crash — still aggregates exactly to the batch recompute the
    oracle runs.  An append-style state sink would double batch 1 here
    and fail the hash gate.  Output digits are engine-deterministic the
    q206 way: DECIMAL sums, raw-double min/max, integer half-up avg."""
    from ..operators.incremental import versioned_state_merger
    from ..operators.materialize import scratch_dir
    from ..streaming.windows import (
        events_stream,
        persistent_event_slices_feed,
        run_gate,
    )

    spec = dict(sums=["value_dec"], mins=["value"], maxs=["value"])
    keys = ["event_type", "day"]

    def keyed(df: DataFrame) -> DataFrame:
        return df.select(
            "event_type",
            F.date_format(
                F.date_trunc("day", F.col("ts")), "yyyy-MM-dd"
            ).alias("day"),
            "value",
            F.col("value").cast("decimal(18,6)").alias("value_dec"),
        )

    ev = load_table(spark, sf, "events")
    base = scratch_dir("ctdc-incr-stream-")
    state, ckpt = f"{base}/state", f"{base}/ckpt"
    feed, mft = persistent_event_slices_feed(spark, sf)
    handler = versioned_state_merger(state, keys, **spec)
    stream = keyed(events_stream(spark, feed, max_files_per_trigger=mft))
    run_gate(stream, stream.writeStream.foreachBatch(handler), ckpt)
    # post-crash redelivery of epoch 1: same batch, same epoch id
    slice1 = ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == 1)
    handler(keyed(slice1), 1)
    merged = spark.read.parquet(f"{state}/v2")
    return merged.select(
        "event_type",
        "day",
        "n",
        F.expr("CAST(sum_value_dec AS DOUBLE)").alias("sum_value"),
        "min_value",
        "max_value",
        F.expr(
            "CAST((2 * CAST(sum_value_dec * 1000000 AS BIGINT)"
            " + 100 * n) DIV (200 * n) AS DOUBLE) / 10000"
        ).alias("avg_value"),
    )


@q(
    "q304_stream_ohlc_bars",
    """WITH base AS (
         SELECT event_type AS key,
                date_trunc('hour', ts) AS bar_ts,
                ts, event_id,
                CAST(floor(value * 1000000) AS BIGINT) AS v
         FROM events),
       ranked AS (
         SELECT key, bar_ts, v,
                row_number() OVER (PARTITION BY key, bar_ts
                                   ORDER BY ts, event_id) AS rf,
                row_number() OVER (PARTITION BY key, bar_ts
                                   ORDER BY ts DESC, event_id DESC)
                  AS rl
         FROM base)
       SELECT key, strftime(bar_ts, '%Y-%m-%d %H:%M:%S') AS bar,
              CAST(max(CASE WHEN rf = 1 THEN v END) AS BIGINT)
                AS open_micro,
              CAST(max(v) AS BIGINT) AS high_micro,
              CAST(min(v) AS BIGINT) AS low_micro,
              CAST(max(CASE WHEN rl = 1 THEN v END) AS BIGINT)
                AS close_micro,
              CAST(count(*) AS BIGINT) AS n_ticks,
              CAST(sum(v) AS BIGINT) AS sum_micro
       FROM ranked GROUP BY key, bar_ts""",
)
def q304(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING OHLC bar maintenance: the q296 tick-compaction
    primitive kept fresh by the q212 versioned-state merger — the
    key insight is that open/close are ALGEBRAIC once packed as
    (ts, event_id, value) structs: struct min/max is lexicographic,
    so `merge(state, batch)` picks the globally earliest/latest tick
    across epochs with plain min/max — no windows over history, no
    re-scan; each epoch costs O(batch) + O(|bars|).  The events
    table replays as 3 ordered micro-batches through foreachBatch;
    the final state must equal the batch recompute the oracle runs
    (the q44/q78 stream-equals-batch discipline)."""
    from ..operators.incremental import versioned_state_merger
    from ..operators.materialize import scratch_dir
    from ..streaming.windows import (
        events_stream,
        persistent_event_slices_feed,
        run_gate,
    )

    keys = ["key", "bar_ts"]

    def keyed(df: DataFrame) -> DataFrame:
        v = F.floor(F.col("value") * 1_000_000).cast("bigint")
        tick = F.struct(
            F.col("ts").alias("t"),
            F.col("event_id").alias("i"),
            v.alias("v"),
        )
        return df.select(
            F.col("event_type").alias("key"),
            F.date_trunc("hour", F.col("ts")).alias("bar_ts"),
            v.alias("vm"),
            tick.alias("tick"),
        )

    ev = load_table(spark, sf, "events")
    base = scratch_dir("ctdc-ohlc-stream-")
    state, ckpt = f"{base}/state", f"{base}/ckpt"
    feed, mft = persistent_event_slices_feed(spark, sf)
    handler = versioned_state_merger(
        state, keys, sums=["vm"], mins=["tick", "vm"], maxs=["tick", "vm"]
    )
    stream = keyed(events_stream(spark, feed, max_files_per_trigger=mft))
    run_gate(stream, stream.writeStream.foreachBatch(handler), ckpt)
    merged = spark.read.parquet(f"{state}/v2")
    return merged.select(
        "key",
        F.date_format("bar_ts", "yyyy-MM-dd HH:mm:ss").alias("bar"),
        F.col("min_tick.v").cast("bigint").alias("open_micro"),
        F.col("max_vm").cast("bigint").alias("high_micro"),
        F.col("min_vm").cast("bigint").alias("low_micro"),
        F.col("max_tick.v").cast("bigint").alias("close_micro"),
        F.col("n").cast("bigint").alias("n_ticks"),
        F.col("sum_vm").cast("bigint").alias("sum_micro"),
    )


# Oracle = the q317 batch recompute restricted to the two audience
# columns the streamed state report emits.
@q("q331_stream_bitmap_audience", """
  WITH m AS (
    SELECT user_id,
           bit_or(CAST(1 AS BIGINT) << CAST(hour(ts) AS INT)) AS mask
    FROM events GROUP BY user_id),
  hrs AS (SELECT unnest(generate_series(0, 23)) AS h)
  SELECT CAST(hrs.h AS BIGINT) AS hour_of_day,
         CAST(sum((m.mask >> hrs.h) & 1) AS BIGINT) AS audience,
         CAST(sum(CASE WHEN m.mask = (CAST(1 AS BIGINT) << hrs.h)
                       THEN 1 ELSE 0 END) AS BIGINT)
           AS exclusive_audience
  FROM hrs CROSS JOIN m
  GROUP BY hrs.h""")
def q331(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING bitmap-audience maintenance: q317's per-user hour
    masks kept fresh by the q212 versioned-state merger, because
    bit_or is ALGEBRAIC exactly like sum/min/max — merge(state,
    batch) = bit_or of the two masks, so each epoch costs O(batch) +
    O(|users|) and history is never re-scanned.  The events table
    replays as 3 ordered micro-batches through foreachBatch, epoch 1
    is RE-DELIVERED (the q145/q212 crash window), and the final
    state's per-hour audience report must hash-match the batch
    recompute the oracle runs — an append-style mask sink would OR
    in nothing extra (bit_or is idempotent!), which is why the
    contract also checks exclusive_audience: idempotence hides
    double-delivery for masks, but the versioned merger is what
    keeps the COUNT columns (n) exact in the same state table."""
    from ..operators.incremental import versioned_state_merger
    from ..operators.materialize import scratch_dir
    from ..streaming.windows import (
        events_stream,
        persistent_event_slices_feed,
        run_gate,
    )

    def keyed(df: DataFrame) -> DataFrame:
        return df.select(
            "user_id",
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(hour(ts) AS INT))"
            ).alias("hbit"),
        )

    ev = load_table(spark, sf, "events")
    base = scratch_dir("ctdc-bitmap-stream-")
    state, ckpt = f"{base}/state", f"{base}/ckpt"
    feed, mft = persistent_event_slices_feed(spark, sf)
    handler = versioned_state_merger(state, ["user_id"], bors=["hbit"])
    stream = keyed(events_stream(spark, feed, max_files_per_trigger=mft))
    run_gate(stream, stream.writeStream.foreachBatch(handler), ckpt)
    # post-crash redelivery of epoch 1: same batch, same epoch id
    slice1 = ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == 1)
    handler(keyed(slice1), 1)
    masks = spark.read.parquet(f"{state}/v2").select(
        "user_id", F.col("bor_hbit").alias("mask")
    )
    hrs = spark.range(0, 24).select(F.col("id").cast("int").alias("h"))
    return (
        hrs.crossJoin(masks)
        .groupBy(F.col("h").cast("bigint").alias("hour_of_day"))
        .agg(
            F.sum(F.expr("shiftright(mask, h) & 1"))
            .cast("bigint")
            .alias("audience"),
            F.sum(
                F.when(
                    F.col("mask")
                    == F.expr("shiftleft(CAST(1 AS BIGINT), h)"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("exclusive_audience"),
        )
    )


@q("q369_stream_srm_monitor", """
  WITH u AS (SELECT DISTINCT user_id FROM events),
  a AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n0,
           CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n1
    FROM u)
  SELECT n AS n_users, n0 AS n_arm0, n1 AS n_arm1,
         CAST((1000000 * ((2 * n0 - n) * (2 * n0 - n)
                          + (2 * n1 - n) * (2 * n1 - n)))
              // (2 * n) AS BIGINT) AS chi2_micro,
         ((1000000 * ((2 * n0 - n) * (2 * n0 - n)
                      + (2 * n1 - n) * (2 * n1 - n)))
          // (2 * n)) > 3841459 AS srm_flag
  FROM a""")
def q369(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING sample-ratio-mismatch monitor: q334's launch-gating
    chi-square kept fresh as events arrive, because an SRM you find
    at readout time has already wasted the experiment — the monitor
    must trip DURING the ramp.  The distinct-user set per arm is
    exactly the q212 versioned-state table keyed by user_id (the
    state IS the dedup; its per-key count absorbs re-deliveries), so
    each epoch costs O(batch) + O(|users|) and the SRM statistic is
    a 2-row rollup of the committed state.  The events table replays
    as 3 ordered micro-batches with epoch 1 RE-DELIVERED (the
    q145/q331 crash window); the final statistic must hash-match
    q334's batch recompute — an append-style user sink would
    double-count the replayed epoch's new users and flip the flag."""
    from ..operators.incremental import versioned_state_merger
    from ..operators.materialize import scratch_dir
    from ..streaming.windows import (
        events_stream,
        persistent_event_slices_feed,
        run_gate,
    )

    ev = load_table(spark, sf, "events")
    base = scratch_dir("ctdc-srm-stream-")
    state, ckpt = f"{base}/state", f"{base}/ckpt"
    feed, mft = persistent_event_slices_feed(spark, sf)
    handler = versioned_state_merger(state, ["user_id"])
    users = events_stream(spark, feed, max_files_per_trigger=mft).select(
        "user_id"
    )
    run_gate(users, users.writeStream.foreachBatch(handler), ckpt)
    # post-crash redelivery of epoch 1: same batch, same epoch id —
    # the versioned merger rewrites v1 idempotently
    slice1 = ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == 1)
    handler(slice1.select("user_id"), 1)
    users = spark.read.parquet(f"{state}/v2").select("user_id")
    a = users.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
    )
    return a.selectExpr(
        "n AS n_users",
        "n0 AS n_arm0",
        "n1 AS n_arm1",
        "CAST((1000000 * ((2 * n0 - n) * (2 * n0 - n)"
        " + (2 * n1 - n) * (2 * n1 - n))) DIV (2 * n) AS BIGINT)"
        " AS chi2_micro",
        "((1000000 * ((2 * n0 - n) * (2 * n0 - n)"
        " + (2 * n1 - n) * (2 * n1 - n))) DIV (2 * n)) > 3841459"
        " AS srm_flag",
    )
