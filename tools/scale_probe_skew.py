"""Skew scale probe: demonstrate the *benefit* of `salted_join` (not just
its correctness) at >= 10^7 fact rows with one hot key (VERDICT r3 #8).

The salted-join correctness tests (tests/test_operators.py) assert result
equality at toy scale; what they cannot show is that salting actually
flattens the task-time distribution.  This probe:

  1. generates a 2x10^7-row fact table where ONE key owns 5% of all rows
     (1M rows) and the rest spread uniformly over 100k keys, plus a
     100k-row dimension (the fact table built once per scale through
     `materialize.reuse`, outside the timed region),
  2. runs the PLAIN shuffle join (auto-broadcast off, AQE skew-join
     splitting off — the regime the operator docstring targets: cases
     AQE's splitter does not cover, e.g. stateful streaming joins or
     engines without it; AQE partition coalescing is also off in BOTH
     runs so the task counts are honest and comparable) and the SALTED
     join, each fused with a count+checksum aggregate so one action
     executes the whole join,
  3. reads per-task executorRunTime maxima from the Spark UI REST API
     (jobs are tagged with job groups; the max is taken over all stages
     of each group's jobs — the join stage dominates),
  4. asserts: identical (row count, checksum) between plain and salted,
     and salted max-task < plain max-task,
  5. merges a `skew_join_n{n}` entry into SCALEBENCH.json.

Usage: python tools/scale_probe_skew.py [n_rows]   (default 20_000_000)
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scalebench import args, finish, timed  # noqa: E402

N_KEYS = 100_000
HOT_PCT = 5  # one key owns this % of all fact rows
SALT = 32
SHUFFLE_PARTITIONS = 256  # cluster-realistic; hot key ~14x the median task
# bump when the fact generator changes, so the cached table is rebuilt
VERSION = 1


def rest_json(base: str, path: str):
    with urllib.request.urlopen(f"{base}/api/v1{path}", timeout=30) as r:
        return json.loads(r.read())


def max_task_ms(spark, group: str) -> float:
    """Max executorRunTime (ms) over every task of every job in a group."""
    base = spark.sparkContext.uiWebUrl
    (app,) = rest_json(base, "/applications")
    app_id = app["id"]
    worst = 0.0
    for job in rest_json(base, f"/applications/{app_id}/jobs"):
        if job.get("jobGroup") != group:
            continue
        for sid in job["stageIds"]:
            try:
                summ = rest_json(
                    base,
                    f"/applications/{app_id}/stages/{sid}/0/taskSummary"
                    "?quantiles=1.0",
                )
            except Exception:
                continue  # skipped stage (reused exchange)
            worst = max(worst, float(summ["executorRunTime"][0]))
    return worst


def main() -> int:
    (n,) = args(20_000_000)

    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.operators.materialize import reuse
    from compile_time_data_contracts_spark.session import local_session
    from compile_time_data_contracts_spark.operators.skew import salted_join

    spark = local_session(
        "ctdc-scale-probe-skew",
        **{
            "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
            "spark.ui.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "false",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.driver.memory": "16g",
        },
    )
    sc = spark.sparkContext

    results: dict = {
        "n_rows": n,
        "n_keys": N_KEYS,
        "hot_pct": HOT_PCT,
        "salt": SALT,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
    }

    def build(stage: str) -> None:
        with timed(results, "generate_sec"):
            spark.range(n).select(
                F.when(
                    F.pmod(F.xxhash64("id"), F.lit(100)) < F.lit(HOT_PCT),
                    F.lit(0),
                )
                .otherwise(
                    F.pmod(F.xxhash64(F.col("id") + F.lit(1)), F.lit(N_KEYS))
                    + 1
                )
                .cast("long")
                .alias("key"),
                F.col("id").alias("v"),
            ).write.parquet(os.path.join(stage, "data"))

    want = {"n": n, "n_keys": N_KEYS, "hot_pct": HOT_PCT, "version": VERSION}
    root, _, _ = reuse("probe-skew", str(n), want, build)
    fact = spark.read.parquet(os.path.join(root, "data"))
    dim = spark.range(N_KEYS + 1).select(
        F.col("id").alias("key"), (F.col("id") * 2).alias("w")
    )

    def checksum(df):
        # bit_xor: order-independent and cannot overflow under ANSI mode
        # (summing 2e7 xxhash64 longs does)
        (row,) = df.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(key, v, w))").alias("chk"),
        ).collect()
        return row.n, row.chk

    sc.setJobGroup("plain", "plain shuffle join")
    with timed(results, "plain_wall_sec"):
        plain_n, plain_chk = checksum(fact.join(dim, "key"))
    sc.setJobGroup("salted", "salted join")
    with timed(results, "salted_wall_sec"):
        salt_n, salt_chk = checksum(
            salted_join(fact, dim, on=["key"], salt=SALT)
        )
    sc.setJobGroup("probe-misc", "probe bookkeeping")

    results["rows"] = plain_n
    results["results_equal"] = bool(plain_n == salt_n and plain_chk == salt_chk)

    plain_ms = max_task_ms(spark, "plain")
    salted_ms = max_task_ms(spark, "salted")
    results["plain_max_task_ms"] = plain_ms
    results["salted_max_task_ms"] = salted_ms
    results["max_task_speedup"] = (
        round(plain_ms / salted_ms, 2) if salted_ms else None
    )

    ok = results["results_equal"] and 0 < salted_ms < plain_ms
    results["ok"] = ok
    return finish(spark, {f"skew_join_n{n}": results}, ok)


if __name__ == "__main__":
    raise SystemExit(main())
