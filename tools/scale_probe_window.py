"""Scale probe: windowed behavioral analytics at 10M events / 100k
users — the q169 (trailing z-score anomaly), q170 (sessionization +
transition mining), q198 (trailing EWMA), and q200 (dynamic-gap session
windows) shapes at 100x the gate's data.

Event stream (deterministic, generated distributed, untimed): 10M
events across 100k users; per-user timestamps step 60s with every
50th gap stretched to 45 min (planted session breaks), values sampled
from a seeded per-row hash with every 25th event spiked 50x
(planted anomalies).

Contracts:
  * the anomaly pass flags >= 90% of planted spikes and < 1% of
    unspiked events (z > 3 on a stable baseline),
  * sessionization produces exactly the planted session count
    (users x ceil(events_per_user / 50)),
  * both plans keep ALL window frames on one user-keyed Exchange
    (the frames share the (user, time) sort),
  * wall times recorded.

Usage: python tools/scale_probe_window.py [n_events]
Writes `window_n{n}` into SCALEBENCH.json.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scalebench import args, finish, timed  # noqa: E402

EVENTS_PER_USER = 100
SESSION_EVERY = 50  # every 50th event opens a new session (45-min gap)
SPIKE_EVERY = 25  # by event index within user stream
# bump when the event generator changes, so the cached stream rebuilds
VERSION = 1


def main() -> int:
    (n,) = args(10_000_000)
    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.operators.materialize import reuse
    from compile_time_data_contracts_spark.session import local_session

    spark = local_session(
        "ctdc-scale-window",
        **{"spark.sql.shuffle.partitions": "64", "spark.driver.memory": "48g"},
    )

    n_users = n // EVENTS_PER_USER
    # event i of user u: ts steps 60s, each SESSION_EVERY-th event adds
    # a 45-min gap; value is hash noise in [10, 20) with a 50x spike on
    # each SPIKE_EVERY-th event of the user's stream
    ev = (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            (F.col("id") % n_users).alias("user_id"),
            (F.col("id") / n_users).cast("long").alias("seq"),
        )
        .select(
            "event_id",
            "user_id",
            "seq",
            F.timestamp_seconds(
                F.col("seq") * 60
                + (F.col("seq") / SESSION_EVERY).cast("long") * 2700
            ).alias("ts"),
            (
                F.lit(10.0)
                + F.pmod(F.xxhash64("event_id"), F.lit(1000)) / 100.0
                + F.when(
                    (F.col("seq") % SPIKE_EVERY == 0) & (F.col("seq") > 0),
                    500.0,
                ).otherwise(0.0)
            ).alias("value"),
        )
    )
    want = {
        "n": n, "events_per_user": EVENTS_PER_USER,
        "session_every": SESSION_EVERY, "spike_every": SPIKE_EVERY,
        "version": VERSION,
    }
    root, _, _ = reuse(
        "probe-window", str(n), want,
        lambda stage: ev.write.parquet(os.path.join(stage, "data")),
    )
    events = spark.read.parquet(os.path.join(root, "data"))

    results: dict = {"n_events": n, "n_users": n_users}

    # --- q169 shape: trailing z-score over the previous 20 per user
    from pyspark.sql import Window

    with timed(results, "anomaly_sec"):
        w = (
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(-20, -1)
        )
        z = events.select(
            "event_id",
            "seq",
            F.when(
                (F.count("*").over(w) >= 5)
                & (F.stddev_samp("value").over(w) > 1e-12),
                F.abs(F.col("value") - F.avg("value").over(w))
                / F.stddev_samp("value").over(w),
            ).alias("zscore"),
        ).filter(F.col("zscore").isNotNull())
        flagged = z.filter(F.col("zscore") > 3.0)
        spiked = flagged.filter(
            (F.col("seq") % SPIKE_EVERY == 0) & (F.col("seq") > 0)
        ).count()
        false_pos = flagged.count() - spiked
        n_planted = events.filter(
            (F.col("seq") % SPIKE_EVERY == 0) & (F.col("seq") > 0)
        ).count()
        n_scored = z.count()
    results["planted_spikes"] = int(n_planted)
    results["spikes_flagged"] = int(spiked)
    results["false_positives"] = int(false_pos)
    results["spike_recall"] = round(spiked / max(n_planted, 1), 4)
    results["false_positive_rate"] = round(
        false_pos / max(n_scored - n_planted, 1), 6
    )

    plan = z._sc._jvm.PythonSQLUtils.explainString(
        z._jdf.queryExecution(), "formatted"
    )
    results["anomaly_one_exchange"] = (
        len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    )

    # --- q170 shape: 30-min-gap sessionization
    with timed(results, "sessionize_sec"):
        wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
        new_s = (
            F.when(F.lag("ts").over(wo).isNull(), 1)
            .when(
                F.col("ts").cast("long") - F.lag("ts").over(wo).cast("long")
                > 1800,
                1,
            )
            .otherwise(0)
        )
        sess = events.withColumn("new_s", new_s).withColumn(
            "sid", F.sum("new_s").over(wo)
        )
        n_sessions = sess.agg(
            F.count_distinct("user_id", "sid").alias("c")
        ).collect()[0].c
    results["sessions"] = int(n_sessions)
    expected_sessions = n_users * (
        (EVENTS_PER_USER + SESSION_EVERY - 1) // SESSION_EVERY
    )
    results["sessions_expected"] = expected_sessions

    # --- q198 shape: trailing-window EWMA over the full stream
    from compile_time_data_contracts_spark.operators.timeseries import (
        ewma_trailing,
    )

    with timed(results, "ewma_sec"):
        ew = ewma_trailing(
            events, "user_id", ["ts", "event_id"], "value",
            alpha=0.1, window=8, decimals=6,
        )
        ew_sum = ew.agg(F.sum("ewma").alias("s")).collect()[0].s
    results["ewma_checksum"] = round(float(ew_sum), 2)

    plan = ew._sc._jvm.PythonSQLUtils.explainString(
        ew._jdf.queryExecution(), "formatted"
    )
    results["ewma_one_exchange"] = (
        len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    )

    # contract: one user's full series equals the pure-Python recursion
    # (k-sized collect: EVENTS_PER_USER rows)
    u0 = (
        events.filter(F.col("user_id") == 0)
        .orderBy("ts", "event_id")
        .select("event_id", "value")
        .collect()
    )
    got = {
        r.event_id: r.ewma
        for r in ew.filter(F.col("user_id") == 0).collect()
    }
    vals = [r.value for r in u0]
    d = 0.9
    max_err = 0.0
    for t, row in enumerate(u0):
        frame = vals[max(0, t - 7): t + 1]
        num = sum(
            x * d ** (len(frame) - 1 - i) for i, x in enumerate(frame)
        )
        den = (1.0 - d ** len(frame)) / 0.1
        max_err = max(max_err, abs(got[row.event_id] - num / den))
    results["ewma_max_err_vs_python"] = round(max_err, 9)

    # --- q200 shape: DYNAMIC-gap session windows (per-event gap
    # expression -> MergingSessions plan).  The gap GENUINELY varies
    # (30 vs 10 min by event parity — not constant-foldable), but the
    # planted geometry pins the answer regardless of which gap each
    # event draws: intra-session steps are 60 s (< both gaps, always
    # merge) and planted breaks are 2,760 s (> both gaps, always
    # break), so the dynamic session count must equal the lag-based
    # count above.
    with timed(results, "dyn_session_sec"):
        gap = F.when(
            F.col("event_id") % 2 == 0, F.lit("30 minutes")
        ).otherwise(F.lit("10 minutes"))
        dyn = events.groupBy(
            "user_id", F.session_window("ts", gap)
        ).agg(F.count("*"))
        n_dyn = dyn.count()
    results["dyn_sessions"] = int(n_dyn)
    dplan = dyn._sc._jvm.PythonSQLUtils.explainString(
        dyn._jdf.queryExecution(), "formatted"
    )
    results["dyn_session_merging_plan"] = (
        "MergingSessions" in dplan
        and len(re.findall(r"\(\d+\) Exchange", dplan)) <= 2
    )

    results["ok"] = (
        results["spike_recall"] >= 0.9
        and results["false_positive_rate"] < 0.01
        and results["anomaly_one_exchange"]
        and n_sessions == expected_sessions
        and results["ewma_one_exchange"]
        and results["ewma_max_err_vs_python"] < 1e-5
        and n_dyn == expected_sessions
        and results["dyn_session_merging_plan"]
    )
    return finish(spark, {f"window_n{n}": results}, results["ok"])


if __name__ == "__main__":
    sys.exit(main())
