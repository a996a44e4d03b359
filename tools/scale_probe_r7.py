"""Scale probe: round-7 operators at 10^6-10^8 rows.

1. KMV sketch union/intersection (q287 path) at ``n_rows`` keys per
   side: A = [0, 0.6n), B = [0.4n, n) — exact union n, exact
   intersection 0.2n.  Contract: k=256 estimates land within 3 sigma
   (~19%) of truth for the union and within 0.19*union absolute for
   the intersection, one pass per side + KB-sized merge.

2. Resource-Allocation link prediction (q288 path) on a 10^6-node
   ring-with-chords graph (edges i->i+1, i->i+2 mod N: every node
   degree 4) plus ONE planted hub adjacent to 10^5 nodes.  Uncapped,
   the hub alone would emit C(10^5, 2) ~ 5e9 candidate pairs — the
   df-squared blowup.  With max_hub_degree=64 the probe must:
     * finish with the hub contributing ZERO carriers,
     * emit EXACTLY N-2 predicted pairs — the ring structure makes
       the closed form provable: (j, j+3) share carriers {j+1, j+2}
       and nothing else reaches min_common=2 (the hub's neighbor
       pairs share only the capped hub); the two ring pairs whose
       carrier set CONTAINS the hub node, (N-2, 1) and (N-1, 2),
       drop to one carrier and are correctly filtered,
     * every score in {400000, 450000, 500000} (two deg-4 carriers =
       2x250000; hub-adjacent carriers have deg 5 = 200000).
   Reports the avoided candidate count (the work the cap deleted).

3. OHLC bar compaction (q296/q304 path) at ``ohlc_rows`` synthetic
   ticks: key = id % 16, ts = epoch + id seconds, value = a
   deterministic sawtooth f(id) whose per-bar open/high/low/close
   have CLOSED FORMS (first/last tick of each (key, hour) is known
   from the id arithmetic) — the probe checks every bar row against
   the formula via one anti-join, plus the |bars| compaction ratio.

Usage: python tools/scale_probe_r7.py [kmv_rows] [graph_nodes] [ohlc_rows]
Writes `kmv_n{n}`, `linkpred_n{n}`, `ohlc_n{n}` into SCALEBENCH.json.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scalebench import args, finish, timed  # noqa: E402


def main() -> int:
    kmv_n, graph_n, ohlc_n = args(100_000_000, 1_000_000, 100_000_000)
    from pyspark.sql import functions as F
    from compile_time_data_contracts_spark.session import local_session

    from compile_time_data_contracts_spark.operators.graph import (
        link_prediction_ra,
    )
    from compile_time_data_contracts_spark.operators.sketches import (
        kmv_sketch,
        kmv_union_intersection,
    )

    spark = local_session(
        "ctdc-scale-r7",
        **{"spark.sql.shuffle.partitions": "64", "spark.driver.memory": "48g"},
    )

    # ---- 1. KMV at kmv_n keys/side -------------------------------
    K = 256
    exact_union = kmv_n
    exact_inter = kmv_n // 5
    a_hi = (kmv_n * 3) // 5
    b_lo = (kmv_n * 2) // 5
    sets = spark.range(kmv_n).select(
        F.when(F.col("id") < a_hi, F.lit("a")).alias("sa"),
        F.when(F.col("id") >= b_lo, F.lit("b")).alias("sb"),
        F.col("id"),
    )
    both = sets.select(
        F.explode(
            F.array_compact(F.array(F.col("sa"), F.col("sb")))
        ).alias("set_id"),
        F.col("id"),
    )
    kmv_res: dict = {}
    with timed(kmv_res, "sec"):
        sk = kmv_sketch(both, "set_id", "id", k=K)
        est = kmv_union_intersection(
            sk.filter(F.col("set_id") == "a"),
            sk.filter(F.col("set_id") == "b"),
            k=K,
        ).collect()[0]
    union_rel = abs(est["est_union_r"] - exact_union) / exact_union
    inter_abs_rel = abs(est["est_intersection_r"] - exact_inter) / exact_union
    kmv_res |= {
        "n_per_side": kmv_n,
        "k": K,
        "exact_union": exact_union,
        "exact_intersection": exact_inter,
        "est_union": est["est_union_r"],
        "est_intersection": est["est_intersection_r"],
        "union_rel_err": round(union_rel, 5),
        "inter_err_vs_union": round(inter_abs_rel, 5),
        "ok": bool(union_rel < 0.19 and inter_abs_rel < 0.19),
    }

    # ---- 2. link prediction with a planted hub -------------------
    N = graph_n
    hub_deg = max(N // 10, 100_000) if N >= 1_000_000 else N // 10
    ring = spark.range(N).select(
        F.col("id").alias("src"),
        ((F.col("id") + 1) % N).alias("dst"),
    ).union(
        spark.range(N).select(
            F.col("id").alias("src"),
            ((F.col("id") + 2) % N).alias("dst"),
        )
    )
    hub = spark.range(1, hub_deg + 1).select(
        F.lit(0).cast("long").alias("src"),
        (F.col("id") * 10 % N).alias("dst"),
    )
    edges = ring.union(hub)
    lp_res: dict = {}
    with timed(lp_res, "sec"):
        pred = link_prediction_ra(edges, max_hub_degree=64, min_common=2)
        agg = pred.agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("ra_micro").alias("min_ra"),
            F.max("ra_micro").alias("max_ra"),
        ).collect()[0]
    avoided = hub_deg * (hub_deg - 1) // 2
    lp_res |= {
        "n_nodes": N,
        "hub_degree": hub_deg,
        "cap": 64,
        "n_pairs": int(agg["n_pairs"]),
        "expected_pairs": N - 2,
        "min_ra_micro": int(agg["min_ra"]),
        "max_ra_micro": int(agg["max_ra"]),
        "avoided_hub_candidates": avoided,
        "ok": bool(
            agg["n_pairs"] == N - 2
            and 400_000 <= agg["min_ra"]
            and agg["max_ra"] == 500_000
        ),
    }

    # ---- 3. OHLC bars at ohlc_n ticks -----------------------------
    from compile_time_data_contracts_spark.operators.timeseries import (
        ohlc_bars,
    )

    NKEYS = 16
    # tick i of key k: ts = t0 + i sec, value = (i % 3600) droops by
    # construction inside each hour: value micro = (i % 3600) * 1000
    ticks = spark.range(ohlc_n).select(
        (F.col("id") % NKEYS).alias("key"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=(F.col("id") / NKEYS).cast("long"))
        ).alias("ts"),
        F.col("id").alias("tick_id"),
        ((F.col("id") / NKEYS).cast("long") % 3600).cast("double")
        .alias("v"),
    )
    ohlc_res: dict = {}
    with timed(ohlc_res, "sec"):
        bars = ohlc_bars(ticks, "key", "ts", "tick_id", "v", "hour")
        # closed forms: every FULL hour bar has 3600 ticks, open 0,
        # close 3599e6, low 0, high 3599e6, sum = 3600*3599/2 * 1e6
        full = bars.filter(F.col("n_ticks") == 3600)
        bad = full.filter(
            (F.col("open_micro") != 0)
            | (F.col("close_micro") != 3_599_000_000)
            | (F.col("low_micro") != 0)
            | (F.col("high_micro") != 3_599_000_000)
            | (F.col("sum_micro") != 3600 * 3599 // 2 * 1_000_000)
        ).count()
        counts = bars.agg(
            F.count(F.lit(1)).alias("n_bars"),
            F.sum("n_ticks").alias("n_ticks"),
        ).collect()[0]
    ohlc_res |= {
        "n_ticks": ohlc_n,
        "n_keys": NKEYS,
        "n_bars": int(counts["n_bars"]),
        "bad_full_bars": int(bad),
        "ticks_accounted": int(counts["n_ticks"]),
        "compaction_ratio": round(ohlc_n / counts["n_bars"], 1),
        "ok": bool(bad == 0 and counts["n_ticks"] == ohlc_n),
    }

    entries = {
        f"kmv_n{kmv_n}": kmv_res,
        f"linkpred_n{N}": lp_res,
        f"ohlc_n{ohlc_n}": ohlc_res,
    }
    return finish(spark, entries, all(r["ok"] for r in entries.values()))


if __name__ == "__main__":
    sys.exit(main())
