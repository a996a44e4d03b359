"""Structured Streaming tests: batch/stream equivalence, late-data drop
under a watermark, stateful dedup.

The feed is a temp directory of parquet files with controlled
modification times so the file source's batch order is deterministic
(every batch padded to the same file count N, `maxFilesPerTrigger=N`
+ mtime ordering).
"""

from __future__ import annotations

import datetime
import os
import re
import shutil
from typing import Optional

import pytest
from pyspark.sql import functions as F

from compile_time_data_contracts_spark.streaming.windows import (
    dedup_within_watermark,
    events_stream,
    run_gate_to_memory,
    run_stream_to_memory,
    tumbling_counts,
)

SF_DIR = "/root/testdata/sf0.001"


def test_stream_equals_batch_tumbling(spark):
    """Complete-mode availableNow run over the static events feed must
    equal the batch aggregation exactly."""
    from compile_time_data_contracts_spark.catalog import load_table

    result = run_stream_to_memory(spark, SF_DIR, query_name="t_eq_batch")
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n",
        )
    )
    got = {(r.window_start, r.n) for r in result.collect()}
    want = {(r.window_start, r.n) for r in batch.collect()}
    assert got == want and len(got) > 0


def _write_feed(spark, base, batches):
    """Write each batch as the same number of parquet files, with
    increasing mtimes, so a file stream with ``maxFilesPerTrigger`` set
    to the returned count processes one batch per trigger, in order
    (library write_ordered_feed_parallel)."""
    from compile_time_data_contracts_spark.streaming.windows import (
        write_ordered_feed_parallel,
    )

    return write_ordered_feed_parallel(
        [
            spark.createDataFrame(
                rows, "event_id long, user_id long, ts timestamp, value double"
            )
            for rows in batches
        ],
        base,
    )


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append mode with a 1-hour watermark: a row arriving in batch 2
    that is older than (max_ts_seen - 1h) must be dropped; a late-but-
    within-watermark row must still be counted."""
    from pyspark.sql import types as T
    import datetime as dt

    base = str(tmp_path / "feed")
    ts = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    mft = _write_feed(
        spark,
        base,
        [
            # batch 0: events up to 12:00 -> watermark 11:00 after commit
            [(1, 1, ts(9, 30), 1.0), (2, 1, ts(12, 0), 1.0)],
            # batch 1: keep-alive — the late-row FILTER uses the
            # watermark lagging one batch behind the reported value, so
            # the 11:00 watermark only becomes effective in batch 2
            [(6, 1, ts(12, 30), 1.0)],
            # batch 2: 09:45's window end (10:00) < effective watermark
            # (11:00) -> DROPPED; 11:30 is within watermark -> counted
            [(3, 1, ts(9, 45), 1.0), (4, 1, ts(11, 30), 1.0)],
            # batch 3: push the watermark past 13:00 so the 11:00 and
            # 12:00 windows close and emit in append mode
            [(5, 1, ts(15, 0), 1.0)],
        ],
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(mft))
        .parquet(base)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.date_format("w.start", "HH:mm").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late_drop")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.ws, r.n) for r in spark.table("t_late_drop").collect()}
    # 09:00 window: only event 1 (event 3 dropped as late)
    assert ("09:00", 1) in got
    # 11:30 arrived late but within watermark -> counted
    assert ("11:00", 1) in got
    # 12:00 window holds events 2 and 6
    assert ("12:00", 2) in got


def test_dedup_within_watermark(spark, tmp_path):
    import datetime as dt

    base = str(tmp_path / "dedup_feed")
    ts = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    mft = _write_feed(
        spark,
        base,
        [
            [(1, 1, ts(10), 1.0), (1, 1, ts(10, 5), 1.0)],  # dup in-batch
            [(1, 1, ts(10, 10), 1.0), (2, 1, ts(10, 20), 1.0)],  # dup cross-batch
        ],
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(mft))
        .parquet(base)
    )
    out = dedup_within_watermark(stream, ["event_id"], watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("t_dedup_wm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ids = [r.event_id for r in spark.table("t_dedup_wm").collect()]
    assert sorted(ids) == [1, 2]


def test_events_stream_schema_pinned(spark):
    """Streaming reads must use the contract schema, never inference."""
    s = events_stream(spark, SF_DIR, glob="events.parquet")
    assert s.isStreaming
    assert dict(
        (f.name, f.dataType.simpleString()) for f in s.schema.fields
    )["ts"] == "timestamp"
    agg = tumbling_counts(s)
    assert "window_start" in agg.columns


def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState keeps per-key state across micro-batches:
    the last 'update'-mode emission per user equals the batch totals."""
    import datetime as dt

    from compile_time_data_contracts_spark.streaming.stateful import (
        running_user_totals,
    )

    base = str(tmp_path / "state_feed")
    ts = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    mft = _write_feed(
        spark,
        base,
        [
            [(1, 1, ts(10), 2.0), (2, 2, ts(10, 5), 3.0)],
            [(3, 1, ts(11), 5.0)],  # user 1 again -> state carries over
        ],
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(mft))
        .parquet(base)
    )
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("t_stateful")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("t_stateful").collect()
    # last emission per user (memory sink appends every update)
    final = {}
    for r in rows:
        final[r.user_id] = (r.n_events, r.total_value)
    assert final[1] == (2, 7.0)  # two events, 2.0 + 5.0, across batches
    assert final[2] == (1, 3.0)


def test_stream_stream_interval_join(spark, tmp_path):
    """Each click joins purchases by the same user within the preceding
    hour; a purchase outside the interval must not match."""
    import datetime as dt

    from pyspark.sql import types as T

    from compile_time_data_contracts_spark.streaming.joins import (
        interval_join,
    )

    ts = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    clicks_dir = str(tmp_path / "clicks")
    buys_dir = str(tmp_path / "buys")
    _write_feed(spark, clicks_dir, [
        [(1, 1, ts(12, 0), 1.0), (2, 2, ts(12, 30), 1.0)],
    ])
    _write_feed(spark, buys_dir, [
        [(10, 1, ts(11, 40), 5.0),   # within 1h before click 1 -> match
         (11, 2, ts(9, 0), 7.0)],    # 3.5h before click 2 -> no match
    ])
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ])
    clicks = spark.readStream.schema(schema).parquet(clicks_dir)
    buys = (
        spark.readStream.schema(schema).parquet(buys_dir)
        .withColumnRenamed("event_id", "buy_id")
        .withColumnRenamed("value", "buy_value")
    )
    joined = interval_join(
        clicks, buys, on="user_id", upper="1 hour"
    ).select("l.event_id", "r.buy_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ssjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.event_id, r.buy_id) for r in spark.table("t_ssjoin").collect()}
    assert got == {(1, 10)}


def test_contract_pinned_streaming_sink(spark, tmp_path):
    """foreachBatch sink pins every micro-batch: the green stream lands,
    a drifted stream fails the query with the schema mismatch."""
    from dataclasses import dataclass

    from pyspark.sql import types as T

    from compile_time_data_contracts_spark import (
        SchemaMismatchError,
        SchemaPolicy,
        Sink,
    )
    from compile_time_data_contracts_spark.contracts.shape import contract
    from compile_time_data_contracts_spark.streaming.joins import (
        write_stream_with_contract,
    )

    @contract
    @dataclass
    class Event:
        event_id: int
        user_id: int
        ts: datetime.datetime
        value: Optional[float] = None

    ts = lambda h: datetime.datetime(2024, 1, 1, h)
    feed = str(tmp_path / "pin_feed")
    _write_feed(spark, feed, [[(1, 1, ts(10), 1.0), (2, 2, ts(11), 2.0)]])
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ])
    stream = spark.readStream.schema(schema).parquet(feed)
    out = str(tmp_path / "pinned_out")
    q = write_stream_with_contract(
        stream,
        Sink(Event, out),
        SchemaPolicy.EXACT,
        checkpoint=str(tmp_path / "ckpt1"),
        query_name="t_pin_green",
    )
    q.awaitTermination()
    assert spark.read.parquet(out).count() == 2

    # drifted stream: an extra column trips the per-batch pin
    drifted = stream.withColumn("surprise", F.lit("x"))
    q2 = write_stream_with_contract(
        drifted,
        Sink(Event, str(tmp_path / "pinned_out2")),
        SchemaPolicy.EXACT,
        checkpoint=str(tmp_path / "ckpt2"),
        query_name="t_pin_red",
    )
    with pytest.raises(Exception) as exc:
        q2.awaitTermination()
    assert "surprise" in str(exc.value) or "SchemaMismatch" in str(exc.value)


def test_transform_with_state_gated_on_protobuf(spark, tmp_path):
    """The transformWithState path needs protobuf (its Python
    state-server protocol).  When absent the operator must refuse with
    a clear error instead of crashing the streaming runner; when
    present the gate must match the batch GROUP BY."""
    import pytest

    from compile_time_data_contracts_spark.streaming.stateful import (
        running_user_totals_tws,
        tws_available,
        tws_totals_gate,
    )

    if not tws_available():
        feed = str(tmp_path / "tws-guard")
        spark.createDataFrame(
            [(1, 1.0)], "user_id long, value double"
        ).write.mode("overwrite").parquet(feed)
        stream = spark.readStream.schema(
            "user_id long, value double"
        ).parquet(feed)
        with pytest.raises(RuntimeError, match="protobuf"):
            running_user_totals_tws(stream)
        return
    out = tws_totals_gate(spark, "/root/testdata/sf0.001")
    from compile_time_data_contracts_spark.catalog import load_table
    from pyspark.sql import functions as F

    expect = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value_r"),
        )
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, expect.collect())
    )


def test_idempotent_sink_redelivery_is_a_noop(spark, tmp_path):
    """Re-invoking the batch writer with the same (rows, batch_id) must
    leave the table row-identical; with CHANGED rows it must REPLACE the
    batch partition (overwrite semantics), never append."""
    from compile_time_data_contracts_spark.streaming.joins import (
        idempotent_batch_writer,
    )

    out = str(tmp_path / "sink")
    w = idempotent_batch_writer(out)
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    b1 = spark.createDataFrame([(3, "c")], "id long, v string")
    w(b0, 0)
    w(b1, 1)
    rows = sorted(map(tuple, spark.read.parquet(out).drop("__batch_id").collect()))
    assert rows == [(1, "a"), (2, "b"), (3, "c")]
    # same batch redelivered -> no duplicates
    w(b0, 0)
    assert sorted(
        map(tuple, spark.read.parquet(out).drop("__batch_id").collect())
    ) == rows
    # changed batch 0 -> replaced, batch 1 untouched
    w(spark.createDataFrame([(9, "z")], "id long, v string"), 0)
    assert sorted(
        map(tuple, spark.read.parquet(out).drop("__batch_id").collect())
    ) == [(3, "c"), (9, "z")]


def test_write_stream_idempotent_runs_once_per_checkpoint(spark, tmp_path):
    """The caller-named checkpoint path: a second start on the same
    checkpoint commits nothing and leaves the sink as it was."""
    from compile_time_data_contracts_spark.streaming.joins import (
        write_stream_idempotent,
    )

    feed, out = str(tmp_path / "feed"), str(tmp_path / "sink")
    batch = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    batch.write.parquet(feed)
    stream = spark.readStream.schema("id long, v string").parquet(feed)
    for want_rows in (2, 0):
        q = write_stream_idempotent(stream, out, str(tmp_path / "ckpt"))
        q.awaitTermination()
        assert sum(p["numInputRows"] for p in q.recentProgress) == want_rows
        rows = spark.read.parquet(out).collect()
        assert sorted(map(tuple, rows)) == [(1, "a", 0), (2, "b", 0)]


# --- gate state partitions ---------------------------------------------


def _state_partitions_run(q) -> list[int]:
    ops = next(p["stateOperators"] for p in q.recentProgress if p["stateOperators"])
    return [op["numShufflePartitions"] for op in ops]


def _q44_gate(spark, name):
    agg = tumbling_counts(events_stream(spark, SF_DIR, glob="events.parquet"))
    return run_gate_to_memory(agg, name, "complete")


def test_gate_state_partitions_follow_feed_size(spark):
    """A KB-sized feed under JVM state gets one state partition."""
    _, q = _q44_gate(spark, "t_gate_small")
    assert _state_partitions_run(q) == [1]


def test_gate_state_partitions_follow_advisory_size(spark):
    """``min(cores, ceil(feed bytes / advisoryPartitionSizeInBytes))``
    state partitions, on both sides of the cap."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    cores = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # the stream reads SF_DIR through a glob; the whole directory counts
    size = sum(os.path.getsize(e.path) for e in os.scandir(SF_DIR))
    saved = spark.conf.get(key)
    try:
        # 2 partitions, under the cap; then 4 * cores, clamped to cores
        for advisory, want in ((size // 2 + 1, 2), (size // (4 * cores), cores)):
            spark.conf.set(key, str(advisory))
            _, q = _q44_gate(spark, "t_gate_advisory")
            assert _state_partitions_run(q) == [want]
    finally:
        spark.conf.set(key, saved)


def test_gate_python_state_keeps_session_partitions(spark, tmp_path):
    """Python state is per-row Python time: one state partition per
    core however small the feed."""
    from compile_time_data_contracts_spark.streaming.stateful import (
        running_user_totals,
    )

    base = str(tmp_path / "feed")
    _write_feed(spark, base, [[(1, 1, datetime.datetime(2024, 1, 1), 2.0)]])
    stream = spark.readStream.schema(
        "event_id long, user_id long, ts timestamp, value double"
    ).parquet(base)
    _, q = run_gate_to_memory(running_user_totals(stream), "t_gate_py", "update")
    cores = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert _state_partitions_run(q) == [cores]


def test_gate_unknown_size_source_keeps_session_partitions(spark):
    """A Python data source has no size to stat: the session count."""
    from compile_time_data_contracts_spark.sources.pysource import (
        register_synth_source,
    )

    register_synth_source(spark)
    stream = spark.readStream.format("ctdc_synth").option("n", "100").load()
    agg = stream.groupBy((F.col("id") % 7).alias("k")).count()
    table, q = run_gate_to_memory(agg, "t_gate_pysource", "complete")
    cores = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert _state_partitions_run(q) == [cores]
    assert sum(r["count"] for r in table.collect()) == 100


def test_gate_restores_session_shuffle_partitions(spark):
    """The override ends with the gate, also when the gate raises."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    _q44_gate(spark, "t_gate_restore")
    assert spark.conf.get(key) == before
    raw = events_stream(spark, SF_DIR, glob="events.parquet")
    # complete mode needs an aggregation: the query fails at start
    with pytest.raises(Exception, match="(?i)complete"):
        run_gate_to_memory(raw, "t_gate_raises", "complete")
    assert spark.conf.get(key) == before


def test_gate_rerun_under_one_name_returns_second_result(spark, tmp_path):
    for n in (3, 5):
        spark.range(n).write.parquet(str(tmp_path / f"feed{n}"))
        stream = spark.readStream.schema("id long").parquet(
            str(tmp_path / f"feed{n}")
        )
        table, _ = run_gate_to_memory(
            stream.groupBy().count(), "t_gate_rerun", "complete"
        )
        assert table.collect()[0]["count"] == n


# --- gate checkpoint manager --------------------------------------------

_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _checkpoint_manager(spark) -> str:
    """The class Spark's CheckpointFileManager.create picks under the
    session conf as it is now."""
    jvm = spark._jvm
    managers = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    path = jvm.org.apache.hadoop.fs.Path(SF_DIR)
    return managers.CheckpointFileManager.create(path, conf).getClass().getSimpleName()


def test_gate_checkpoint_manager_scope(spark, tmp_path):
    """Only a checkpoint the engine owns is written through the
    FileSystem manager, and the key ends with the gate, also when the
    gate raises: unset stays unset, a preset value survives."""
    from compile_time_data_contracts_spark.operators.materialize import (
        scratch_dir,
    )
    from compile_time_data_contracts_spark.streaming.windows import (
        gate_state_partitions,
        run_gate,
    )

    fs, fc = (
        "FileSystemBasedCheckpointFileManager",
        "FileContextBasedCheckpointFileManager",
    )
    stream = events_stream(spark, SF_DIR, glob="events.parquet")

    def inside(checkpoint=None):
        with gate_state_partitions(stream, checkpoint):
            return _checkpoint_manager(spark)

    assert _checkpoint_manager(spark) == fc
    assert inside() == fs  # Spark's temporary checkpoint
    assert inside(f"{scratch_dir('t-ckpt-')}/ckpt") == fs
    assert inside(str(tmp_path / "ckpt")) == fc  # named by the caller
    default = "spark.sql.streaming.checkpointLocation"
    spark.conf.set(default, str(tmp_path / "default"))
    try:
        assert inside() == fc
    finally:
        spark.conf.unset(default)

    # the query itself starts under the same manager
    seen = []
    writer = stream.writeStream.foreachBatch(
        lambda df, i: seen.append(_checkpoint_manager(spark))
    )
    run_gate(stream, writer, f"{scratch_dir('t-ckpt-')}/ckpt")
    run_gate(stream, writer, str(tmp_path / "named"))
    assert seen == [fs, fc]

    raw = events_stream(spark, SF_DIR, glob="events.parquet")
    for preset in (None, fc):
        if preset is not None:
            spark.conf.set(_MANAGER_KEY, preset)
        try:
            _q44_gate(spark, "t_gate_manager")
            assert spark.conf.get(_MANAGER_KEY, None) == preset
            with pytest.raises(Exception, match="(?i)complete"):
                run_gate_to_memory(raw, "t_gate_manager_raises", "complete")
            assert spark.conf.get(_MANAGER_KEY, None) == preset
        finally:
            spark.conf.unset(_MANAGER_KEY)


def _process_starts(spark, tmp_path, run) -> list[str]:
    """The command lines of the processes the JVM starts during
    ``run()``, from a JFR recording of ``jdk.ProcessStart`` alone."""
    jvm = spark._jvm
    recording = jvm.jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try:
        run()
    finally:
        recording.stop()
    dump = jvm.java.io.File(str(tmp_path / "gate.jfr")).toPath()
    recording.dump(dump)
    recording.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    return [events.get(i).getString("command") for i in range(events.size())]


def test_q44_gate_process_budget(spark, tmp_path):
    """q44's stream, run through ``run_gate`` on a checkpoint in a
    ``scratch_dir``, owns that checkpoint, so no offset, commit or state
    file goes through FileContext, which starts a ``readlink`` for each
    rename and existence check (64 for this gate) on a Hadoop client
    without its native library.  What is left is Hadoop's local
    ``setPermission``: exactly one ``chmod`` for every file or directory
    the gate created there, ``.crc`` sidecars included, where an atomic
    write chmods its temporary file (``.<name>.<uuid>.tmp``, and
    ``..<name>.<uuid>.tmp.crc`` for the sidecar) before renaming it."""
    from compile_time_data_contracts_spark.operators.materialize import (
        scratch_dir,
    )
    from compile_time_data_contracts_spark.streaming.windows import run_gate

    base = scratch_dir("t-q44-budget-")

    def gate():
        stream = tumbling_counts(events_stream(spark, SF_DIR, glob="events.parquet"))
        spark.catalog.dropTempView("t_q44_budget")
        writer = (
            stream.writeStream.format("memory")
            .queryName("t_q44_budget")
            .outputMode("complete")
        )
        run_gate(stream, writer, f"{base}/ckpt")

    run_stream_to_memory(spark, SF_DIR)  # warm: first-use processes
    commands = _process_starts(spark, tmp_path, gate)
    assert [c for c in commands if "readlink" in c] == []
    renamed = re.compile(r"(.*/)\.\.?(.+)\.[0-9a-f-]{36}\.tmp(\.crc)?")
    chmodded = []
    # processes outside the checkpoint (an earlier test's session
    # cleanup runs `rm -rf` asynchronously) are not the gate's
    for c in (c for c in commands if base in c):
        assert c.startswith("chmod "), commands
        path = c.split(" ", 2)[2]
        m = renamed.fullmatch(path)
        if m is not None:
            path = m[1] + (f".{m[2]}.crc" if m[3] else m[2])
        chmodded.append(path)
    created = [
        os.path.join(d, n) for d, dirs, files in os.walk(base) for n in dirs + files
    ]
    assert sorted(chmodded) == sorted(created)


def test_owned_checkpoint_restart_commits_nothing(spark):
    """Exactly-once under the FileSystem manager: a gate run again on
    its own committed checkpoint commits no new batch, and its state
    reads back the same."""
    from compile_time_data_contracts_spark.operators.materialize import (
        scratch_dir,
    )
    from compile_time_data_contracts_spark.streaming.stateful import (
        _run_to_checkpoint,
    )

    base = scratch_dir("t-restart-")
    feed, ckpt = f"{base}/feed", f"{base}/ckpt"
    spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "value"
    ).write.parquet(feed)
    stream = spark.readStream.schema("user_id long, value double").parquet(feed)
    agg = stream.groupBy("user_id").agg(F.count("*").alias("n"))

    def committed():
        state = spark.read.format("statestore").load(ckpt)
        rows = state.select("key.user_id", "value.count").collect()
        return sorted(os.listdir(f"{ckpt}/commits")), sorted(map(tuple, rows))

    first = _run_to_checkpoint(agg, ckpt)
    assert first.lastProgress["batchId"] == 0
    before = committed()
    again = _run_to_checkpoint(agg, ckpt)
    assert all(p["numInputRows"] == 0 for p in again.recentProgress)
    assert committed() == before
    assert len(before[1]) > 0


def test_q44_gate_job_count(spark, marker_job):
    """q44 built and executed as the bench runs it costs exactly two
    Spark jobs: its one micro-batch and the noop write of its result,
    with the footer probe's verdict cached or not (the probe reads the
    footer without Spark).  Job ids are global and sequential, so the
    bracket also counts the streaming query's own thread."""
    from compile_time_data_contracts_spark import catalog

    def jobs():
        first = marker_job()
        result = run_stream_to_memory(spark, SF_DIR)
        result.write.format("noop").mode("overwrite").save()
        return marker_job() - first - 1

    run_stream_to_memory(spark, SF_DIR)  # warm: the footer probe caches
    assert jobs() == 2
    catalog._EVENTS_LAYOUT_CACHE.clear()
    assert jobs() == 2


def test_events_layout_probe_reads_the_footer(spark, tmp_path):
    """TIMESTAMP(NANOS) events are legacy: the probe sets nanosAsLong,
    also from its cache, and load_table returns the same rows as from
    the MICROS file, which leaves the conf alone.  INT96, Spark's own
    legacy timestamp encoding, is not legacy."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from compile_time_data_contracts_spark.catalog import (
        events_ts_is_legacy_nanos,
        load_table,
    )

    events = pq.read_table(f"{SF_DIR}/events.parquet")
    nanos = events.set_column(
        1, "ts", events.column("ts").cast(pa.timestamp("ns"))
    )
    for name, table, kw in [
        ("micros", events, {}),
        ("nanos", nanos, {}),
        ("int96", events, {"use_deprecated_int96_timestamps": True}),
    ]:
        (tmp_path / name).mkdir()
        pq.write_table(table, tmp_path / name / "events.parquet", **kw)

    key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        for name in ("micros", "int96"):
            path = str(tmp_path / name / "events.parquet")
            assert not events_ts_is_legacy_nanos(spark, path)
            assert spark.conf.get(key) == "false"
        path = str(tmp_path / "nanos" / "events.parquet")
        assert events_ts_is_legacy_nanos(spark, path)
        assert spark.conf.get(key) == "true"
        spark.conf.set(key, "false")
        assert events_ts_is_legacy_nanos(spark, path)  # cached verdict
        assert spark.conf.get(key) == "true"

        def rows(name):
            df = load_table(spark, str(tmp_path / name), "events")
            return sorted(df.collect())

        assert rows("nanos") == rows("micros")
    finally:
        spark.conf.set(key, prior)
