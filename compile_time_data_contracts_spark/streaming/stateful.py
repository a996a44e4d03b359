"""Custom stateful streaming operators via applyInPandasWithState.

Where the built-in watermarked aggregations can't express the semantics
(running per-key state across micro-batches, custom eviction), Structured
Streaming's arbitrary-state API is the engine's extension point: state
lives in the state store (checkpointed, partitioned by key), each
micro-batch hands the operator its key's rows as Arrow batches plus the
GroupState handle.  At scale the state store shards by key hash across
executors; state size must be bounded by timeouts (here: processing-time
timeout evicts idle keys).
"""

from __future__ import annotations

import typing

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "running_user_totals",
    "stateful_totals_gate",
    "running_user_totals_tws",
    "tws_totals_gate",
    "tws_available",
    "state_store_snapshot_totals",
    "state_metadata_gate",
    "rocksdb_totals_gate",
]

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.DoubleType()),
    ]
)


def running_user_totals(
    stream: DataFrame,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Per-user running (count, sum(value)) maintained across
    micro-batches — the canonical arbitrary-stateful operator.  Emits the
    updated totals for every user seen in a batch (use outputMode
    'update').  With ``idle_timeout_ms`` set, a key idle for that long is
    evicted and emits a final row, bounding state for 100 TB key spaces.
    """
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    def update(
        key: tuple,
        pdfs: typing.Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> typing.Iterator["pd.DataFrame"]:
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            n, s = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [user_id], "n_events": [n], "total_value": [s]}
            )
            return
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [s]}
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return stream.groupBy("user_id").applyInPandasWithState(
        update, _OUT_SCHEMA, _STATE_SCHEMA, "update", timeout
    )


def stateful_totals_gate(
    spark,
    sf_dir: str,
    query_name: str = "ctdc_q84_sink",
) -> DataFrame:
    """Gate-checkable run of the arbitrary-stateful operator: the events
    table replays as an ordered 3-batch feed, per-user (count, sum)
    state accumulates across micro-batches in the state store, and the
    FINAL emission per user (update mode emits one row per user per
    batch-they-appear-in; n_events is strictly increasing, so max-n wins)
    must equal the plain batch GROUP BY — which is the DuckDB oracle.
    """
    from pyspark.sql import Window

    from ..catalog import load_table
    from ..operators.materialize import scratch_dir
    from .windows import write_sliced_feed

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    base = scratch_dir("ctdc-statefeed-")
    # one-pass sliced feed (r11): the three mod-3 batches written by ONE
    # partitioned job instead of three full scan+write jobs; padding
    # keeps one batch == one trigger structurally exactly as before
    mft = write_sliced_feed(
        ev, F.pmod(F.col("event_id"), F.lit(3)), 3, base
    )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", str(mft))
        .parquet(base)
    )
    totals = running_user_totals(stream)
    from .windows import run_gate_to_memory

    table, _ = run_gate_to_memory(totals, query_name, "update")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        table
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("total_value", 2).alias("total_value_r"),
        )
    )


def _rocksdb_state(spark):
    """Queries started inside this block keep their state in RocksDB;
    the session's own provider setting is restored on exit."""
    from ..session import session_conf

    return session_conf(
        spark,
        {
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
            )
        },
    )


def _run_to_checkpoint(agg: DataFrame, ckpt: str):
    """Run ``agg`` to completion into a noop sink, leaving its committed
    state in the checkpoint ``ckpt``; return the terminated query."""
    from .windows import run_gate

    writer = agg.writeStream.format("noop").outputMode("update")
    return run_gate(agg, writer, ckpt)


def tws_available() -> bool:
    """transformWithStateInPandas drives a Python state-server over a
    protobuf protocol; the `protobuf` package is not installed in every
    deployment (not in this container), so callers must gate on this."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def running_user_totals_tws(stream: DataFrame) -> DataFrame:
    """The same running per-user (count, sum) operator on Spark 4's
    transformWithState API (StatefulProcessor + typed ValueState,
    RocksDB-backed state store) — the successor to
    applyInPandasWithState, with typed state handles, timers, and TTL.
    Semantics are identical to :func:`running_user_totals`, so the same
    oracle would gate both APIs.

    ENVIRONMENT-GATED: requires the `protobuf` package
    (:func:`tws_available`); raises a clear error when absent rather
    than crashing the streaming Python runner mid-query.
    """
    if not tws_available():
        raise RuntimeError(
            "transformWithStateInPandas needs the protobuf package "
            "(its Python state-server protocol); not installed here — "
            "use running_user_totals (applyInPandasWithState) instead"
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", _STATE_SCHEMA)

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            (user_id,) = key
            if self._state.exists():
                prev = self._state.get()
                n, s = int(prev[0]), float(prev[1])
            else:
                n, s = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
            self._state.update((n, s))
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "total_value": [s],
                }
            )

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        Totals(), _OUT_SCHEMA, "update", "none"
    )


def tws_totals_gate(
    spark,
    sf_dir: str,
    query_name: str = "ctdc_q113_sink",
) -> DataFrame:
    """Gate for the transformWithState path: same ordered 3-batch feed
    and max-n final-emission selection as :func:`stateful_totals_gate`.
    transformWithState requires the RocksDB state store provider; it is
    set for this query and restored afterwards."""
    from pyspark.sql import Window

    from ..catalog import load_table
    from ..operators.materialize import scratch_dir
    from .windows import write_sliced_feed

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    base = scratch_dir("ctdc-twsfeed-")
    mft = write_sliced_feed(
        ev, F.pmod(F.col("event_id"), F.lit(3)), 3, base
    )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", str(mft))
        .parquet(base)
    )
    totals = running_user_totals_tws(stream)
    from .windows import run_gate_to_memory

    with _rocksdb_state(spark):
        table, _ = run_gate_to_memory(totals, query_name, "update")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        table
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("total_value", 2).alias("total_value_r"),
        )
    )


def rocksdb_totals_gate(
    spark,
    sf_dir: str,
    query_name: str = "ctdc_q167_sink",
) -> DataFrame:
    """Streaming aggregation with the RocksDB state store provider —
    the 100 TB streaming answer to state size: the default HDFS-backed
    provider keeps every key's state on the executor HEAP (state must
    fit in memory × partitions), while RocksDB spills state to local
    disk with changelog checkpointing, so keyed state scales to
    billions of keys per executor.

    The provider conf is set only for the duration of this stream and
    restored afterwards (no session-wide side effect).  A 3-batch
    ordered replay accumulates per-event-type (count, sum) across
    micro-batches through RocksDB; the emitted `rocksdb_engaged` column
    asserts from the query's own state-operator metrics that the
    RocksDB provider actually served the state (guarding against the
    conf silently not applying), and the totals must equal the batch
    GROUP BY — the DuckDB oracle.
    """
    from ..catalog import load_table
    from ..operators.materialize import scratch_dir
    from .windows import write_sliced_feed

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    base = scratch_dir("ctdc-rocksfeed-")
    mft = write_sliced_feed(
        ev, F.pmod(F.col("event_id"), F.lit(3)), 3, base
    )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", str(mft))
        .parquet(base)
    )
    totals = stream.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("total_value"),
    )
    from .windows import run_gate_to_memory

    with _rocksdb_state(spark):
        table, q = run_gate_to_memory(totals, query_name, "complete")
    # `or [{}]` (not a .get default): a no-data final progress event
    # can carry 'stateOperators': [] — an empty list, which the .get
    # default would not replace, and [0] would IndexError
    ops = (q.lastProgress or {}).get("stateOperators") or [{}]
    metrics = ops[0].get("customMetrics") or {}
    engaged = any("rocksdb" in k.lower() for k in metrics)

    return table.select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round("total_value", 2).alias("total_value_r"),
        F.lit(bool(engaged)).alias("rocksdb_engaged"),
    )


def state_store_snapshot_totals(spark, sf_dir: str) -> DataFrame:
    """The state store itself read back as a BATCH DataFrame — the
    Spark 4 State Data Source (``spark.read.format("statestore")``),
    pointed at the checkpoint of a completed streaming aggregation.

    This is the operational primitive streaming deployments need at
    scale: debugging a misbehaving stateful query, auditing exactly what
    per-key state a 1000-executor job is carrying, or seeding a
    re-partitioned replacement query — all WITHOUT replaying the input.
    The read plans one task per state-store shard (= shuffle partition
    of the original query), so it parallelizes like any file source and
    never routes state through the driver.

    The gate run streams the events table (availableNow, one commit)
    through a per-user count/sum aggregation into a noop sink, then
    reads the committed state back and flattens the (key, value) structs.
    Built-in agg state buffers expose canonical field names (``count``
    for the count(*) buffer, ``sum`` for the sum buffer) regardless of
    output aliases.  Because every key lives in exactly one shuffle
    partition, the snapshot has one row per user and must equal the
    batch GROUP BY over the same input — the DuckDB oracle.
    """
    from ..catalog import load_table
    from ..operators.materialize import scratch_dir

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    base = scratch_dir("ctdc-statesrc-")
    src, ckpt = f"{base}/feed", f"{base}/ckpt"
    ev.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = stream.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("value").alias("total_value")
    )
    _run_to_checkpoint(agg, ckpt)
    return spark.read.format("statestore").load(ckpt).select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").cast("bigint").alias("n_events"),
        F.round(F.col("value.sum"), 2).alias("total_value_r"),
    )


def state_metadata_gate(spark, sf_dir: str) -> DataFrame:
    """Operator metadata of a committed streaming checkpoint via the
    Spark 4 `state-metadata` data source — the discovery half of the
    state-reader story (q196 reads the state itself): which stateful
    operators a checkpoint contains, their store names, and the batch
    range their state covers, WITHOUT replaying the query.  At scale
    this is how tooling decides what a foreign checkpoint holds before
    attaching a statestore read or planning a state migration.

    The gate streams a small slice of events (availableNow, one commit)
    through a per-user aggregate into a noop sink, then reads the
    metadata back.  Every emitted column is run-deterministic
    (numPartitions is intentionally dropped: it echoes the session's
    shuffle-partition conf, which differs between runners), so the
    oracle pins the exact row.
    """
    from ..catalog import load_table
    from ..operators.materialize import scratch_dir

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .select("user_id", "value")
    )
    base = scratch_dir("ctdc-statemeta-")
    src, ckpt = f"{base}/feed", f"{base}/ckpt"
    ev.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = stream.groupBy("user_id").agg(F.count("*").alias("n_events"))
    _run_to_checkpoint(agg, ckpt)
    return spark.read.format("state-metadata").load(ckpt).select(
        F.col("operatorId").cast("bigint").alias("operator_id"),
        F.col("operatorName").alias("operator_name"),
        F.col("stateStoreName").alias("state_store_name"),
        F.col("minBatchId").cast("bigint").alias("min_batch_id"),
        F.col("maxBatchId").cast("bigint").alias("max_batch_id"),
    )
