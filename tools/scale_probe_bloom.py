"""Bloom-runtime-filter scale probe: demonstrate the *benefit* of
`InjectRuntimeFilter` (q187) at >= 10^7 fact rows — not just that the
plan contains `might_contain`, but that the non-joining fact rows are
actually dropped BEFORE the shuffle.

The direct evidence is shuffle volume, which the Spark UI REST API
exposes per stage (`shuffleWriteRecords`).  This probe:

  1. generates a 2x10^7-row fact table over 10^6 join keys plus a
     10^6-row dimension, built once per scale through
     `materialize.reuse` (outside the timed region); a selective dim
     filter keeps ~2% of the keys,
  2. runs the SAME shuffle join twice — Bloom filter off, then on —
     with auto-broadcast disabled in both runs (the 100 TB regime where
     the filtered dim is past the broadcast threshold; with a broadcast
     join Spark would rightly skip the Bloom filter), each fused with a
     count+checksum aggregate so one action executes the whole join,
  3. reads per-stage shuffleWriteRecords / shuffleWriteBytes from the
     REST API (jobs tagged with job groups, stages deduped per group),
  4. asserts: identical (row count, checksum), `might_contain` present
     in the Bloom run's executed plan and absent from the plain run's,
     and Bloom-run shuffle records < half the plain run's,
  5. merges a `bloom_filter_n{n}` entry into SCALEBENCH.json.

Usage: python tools/scale_probe_bloom.py [n_rows]   (default 20_000_000)
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scalebench import args, finish, timed  # noqa: E402

N_KEYS = 1_000_000
DIM_MOD = 50  # dim filter keeps keys where key % DIM_MOD == 0 (~2%)
SHUFFLE_PARTITIONS = 256
# bump when either generator changes, so the cached tables are rebuilt
VERSION = 1


def rest_json(base: str, path: str):
    with urllib.request.urlopen(f"{base}/api/v1{path}", timeout=30) as r:
        return json.loads(r.read())


def group_shuffle(spark, group: str) -> tuple[int, int]:
    """(records, bytes) shuffle-written by every stage of a job group."""
    base = spark.sparkContext.uiWebUrl
    (app,) = rest_json(base, "/applications")
    app_id = app["id"]
    seen: set[int] = set()
    records = nbytes = 0
    for job in rest_json(base, f"/applications/{app_id}/jobs"):
        if job.get("jobGroup") != group:
            continue
        for sid in job["stageIds"]:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = rest_json(
                    base, f"/applications/{app_id}/stages/{sid}/0"
                )
            except Exception:
                continue  # skipped stage (reused exchange)
            records += int(st.get("shuffleWriteRecords", 0))
            nbytes += int(st.get("shuffleWriteBytes", 0))
    return records, nbytes


def main() -> int:
    (n,) = args(20_000_000)

    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.operators.materialize import reuse
    from compile_time_data_contracts_spark.session import local_session

    spark = local_session(
        "ctdc-scale-probe-bloom",
        **{
            "spark.sql.shuffle.partitions": SHUFFLE_PARTITIONS,
            "spark.ui.enabled": "true",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            # AQE would re-plan the tiny probe dim into a broadcast join
            # at runtime, which removes the fact-side shuffle in BOTH
            # runs and hides the effect being measured; at the modeled
            # scale the filtered dim is past broadcast size, so pin the
            # shuffle join.
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold": "0",
            "spark.driver.memory": "16g",
        },
    )
    sc = spark.sparkContext

    results: dict = {
        "n_rows": n,
        "n_keys": N_KEYS,
        "dim_keep_pct": round(100.0 / DIM_MOD, 2),
        "shuffle_partitions": SHUFFLE_PARTITIONS,
    }

    def build_fact(stage: str) -> None:
        with timed(results, "generate_sec"):
            spark.range(n).select(
                F.pmod(F.xxhash64("id"), F.lit(N_KEYS)).cast("long").alias("key"),
                F.col("id").alias("v"),
            ).write.parquet(os.path.join(stage, "data"))

    def build_dim(stage: str) -> None:
        # The selective predicate must live on a NON-key attribute: a
        # filter on the join key itself (e.g. key % 50 == 0) is
        # transitively inferred onto the fact side by Catalyst's
        # constraint propagation and the plain run would prune for free
        # — which is exactly why runtime filters exist for the
        # attribute-filter case (q187 filters o_orderpriority, not
        # o_orderkey).
        spark.range(N_KEYS).select(
            F.col("id").alias("key"),
            (F.col("id") * 2).alias("w"),
            F.pmod(F.xxhash64("id"), F.lit(DIM_MOD)).alias("attr"),
        ).write.parquet(os.path.join(stage, "data"))

    want = {"n_keys": N_KEYS, "dim_mod": DIM_MOD, "version": VERSION}
    fact_root, _, _ = reuse(
        "probe-bloom", str(n), {"n": n, **want}, build_fact
    )
    dim_root, _, _ = reuse("probe-bloom-dim", str(N_KEYS), want, build_dim)
    fact_path = os.path.join(fact_root, "data")
    dim_path = os.path.join(dim_root, "data")

    def run(group: str, bloom: bool):
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "true" if bloom else "false",
        )
        fact = spark.read.parquet(fact_path)
        dim = spark.read.parquet(dim_path).filter(F.col("attr") == 0)
        joined = fact.join(dim, "key")
        agg = joined.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(key, v, w))").alias("chk"),
        )
        sc.setJobGroup(group, f"bloom={bloom}")
        with timed(results, f"{group}_wall_sec"):
            (row,) = agg.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        return row.n, row.chk, "might_contain" in plan

    plain_n, plain_chk, plain_mc = run("plain", bloom=False)
    bloom_n, bloom_chk, bloom_mc = run("bloom", bloom=True)
    sc.setJobGroup("probe-misc", "probe bookkeeping")

    results["rows"] = plain_n
    results["results_equal"] = bool(
        plain_n == bloom_n and plain_chk == bloom_chk
    )
    results["plain_plan_has_might_contain"] = plain_mc
    results["bloom_plan_has_might_contain"] = bloom_mc

    pr, pb = group_shuffle(spark, "plain")
    br, bb = group_shuffle(spark, "bloom")
    results["plain_shuffle_records"] = pr
    results["bloom_shuffle_records"] = br
    results["plain_shuffle_mb"] = round(pb / 1e6, 1)
    results["bloom_shuffle_mb"] = round(bb / 1e6, 1)
    results["shuffle_record_reduction"] = (
        round(1 - br / pr, 4) if pr else None
    )

    ok = (
        results["results_equal"]
        and bloom_mc
        and not plain_mc
        and 0 < br < pr / 2
    )
    results["ok"] = ok
    return finish(spark, {f"bloom_filter_n{n}": results}, ok)


if __name__ == "__main__":
    raise SystemExit(main())
