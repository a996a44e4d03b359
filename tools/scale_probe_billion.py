"""Scale probe: scan-shaped statistics at 10^9 rows on one box — the
histogram-collapse family's headline claim ("cost is the scan") made
concrete at a billion rows, each against a closed-form planted
contract:

  * mutual information: exactly uniform independent 4x4 grid over
    10^9 rows -> MI exactly 0 (the contingency is 16 cells; the whole
    query is one partial-combined aggregate + windows over 16 rows).
  * two-proportion z-test: planted conversion rates 0.30 (arm A,
    id%2=0) vs 0.27 (arm B) via exact modular stripes -> counts are
    closed-form integers and z reproduces the pooled formula computed
    in Python on those exact counts.
  * CUSUM changepoint: 10^9 rows pre-aggregated to 1000 ticks (the
    operator's documented contract) with a planted level shift at
    tick 700 -> the integer argmax lands exactly there.

Usage: python tools/scale_probe_billion.py [n_rows]   (default 10^9)
Writes `billion_n{n}` into SCALEBENCH.json.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scalebench import merge_entry  # noqa: E402


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000_000
    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.session import local_session
    from compile_time_data_contracts_spark.operators.stats import (
        mutual_information,
        two_proportion_ztest,
    )
    from compile_time_data_contracts_spark.operators.timeseries import (
        cusum_changepoint,
    )

    spark = local_session(
        "ctdc-scale-billion",
        **{"spark.sql.shuffle.partitions": "64", "spark.driver.memory": "48g"},
    )
    # the planted contracts are exact only over whole residue cycles:
    # truncate to a multiple of lcm(16, 200, 1000) = 2000 so ANY argv
    # n yields exact closed forms instead of a spurious ok:false
    n = (n // 2000) * 2000
    results: dict = {"n_rows": n}

    # ---- mutual information at n rows: exact zero on a uniform grid
    n16 = (n // 16) * 16
    t0 = time.time()
    grid = spark.range(n16).select(
        (F.col("id") % 4).cast("string").alias("x"),
        ((F.col("id") / 4).cast("bigint") % 4).cast("string").alias("y"),
    )
    mi = mutual_information(grid, "x", "y").collect()[0]
    results["mutual_information"] = {
        "secs": round(time.time() - t0, 1),
        "rows": n16,
        "mi_exactly_zero": mi["mi_r"] == 0.0,
    }

    # ---- two-proportion z-test: planted 30% vs 27% conversion
    t0 = time.time()
    # arm A = even ids; conv iff id%20 in {0,2,4} — 3 of A's 10
    # residues -> exactly 0.30.  arm B = odd ids; conv iff
    # id%200 in {1,3,...,53} — 27 of B's 100 residues -> exactly 0.27.
    odd_conv = F.col("id") % 200
    users = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, "A").otherwise("B").alias("arm"),
        F.when(
            (F.col("id") % 2 == 0) & (F.col("id") % 20 < 6), 1
        )
        .when(
            (F.col("id") % 2 == 1) & (odd_conv < 54), 1
        )
        .otherwise(0)
        .alias("conv"),
    )
    z = two_proportion_ztest(users, "arm", "conv", "A", "B").collect()[0]
    # closed-form counts: evens with id%20 in {0,2,4} -> 3 of 10 even
    # residues = 0.30; odds with id%200 < 54 -> odd residues
    # {1,3,...,53} = 27 of 100 odd residues = 0.27
    n_a, n_b = z["n_a"], z["n_b"]
    k_a, k_b = z["k_a"], z["k_b"]
    rate_ok = (
        abs(k_a / n_a - 0.30) < 1e-6 and abs(k_b / n_b - 0.27) < 1e-6
    )
    pool = (k_a + k_b) / (n_a + n_b)
    se = math.sqrt(pool * (1 - pool) * (1 / n_a + 1 / n_b))
    z_exp = (k_a / n_a - k_b / n_b) / se
    results["two_proportion_ztest"] = {
        "secs": round(time.time() - t0, 1),
        "rows": n,
        "rates_exact": rate_ok,
        "z_matches_closed_form": abs(z["z_r"] - round(z_exp, 4)) < 1e-3,
        "z": z["z_r"],
    }

    # ---- CUSUM: n rows pre-aggregated to 1000 ticks, shift at 700
    t0 = time.time()
    raw = spark.range(n).select(
        (F.col("id") % 1000).alias("tick"),
        F.when(F.col("id") % 1000 < 700, 100).otherwise(130).alias("v"),
    )
    ticks = raw.groupBy("tick").agg(
        F.sum("v").cast("double").alias("tv")
    )
    cp = cusum_changepoint(ticks, "tick", "tv", scale=1).collect()[0]
    # level 100 for ticks 0..699 then 130: max |cumsum deviation| at
    # the last low tick, 699
    results["cusum"] = {
        "secs": round(time.time() - t0, 1),
        "rows": n,
        "cp_tick": cp["cp_ts"],
        "changepoint_exact": cp["cp_ts"] == 699,
    }

    ok = (
        results["mutual_information"]["mi_exactly_zero"]
        and rate_ok
        and results["two_proportion_ztest"]["z_matches_closed_form"]
        and results["cusum"]["changepoint_exact"]
    )
    results["ok"] = ok
    merge_entry(f"billion_n{n}", results)
    print(json.dumps({"metric": "scale_probe_billion", "results": results}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
