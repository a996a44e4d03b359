"""Scale probe: the single-pass statistics family at 10^8 rows — the
q227 (OLS by normal equations), q228 (weighted median), and q232
(equi-depth binning) paths at 1000x+ the gate's data.

Data (generated inline by spark.range, nothing persisted):
  * OLS at n rows: x1 = i % 1000, x2 = (i * 2654435761) % 500,
    y = 7000 + 3*x1 - 2*x2 + noise,
    noise = (x1 * 40503 + x2 * 69069) % 101 - 50 (deterministic
    pseudo-noise, bounded |50|; it is a function of x1/x2 so it
    correlates weakly with the regressors).  The moment aggregate must
    recover the slope coefficients (3, -2) to within 0.02 — the fit is
    one partial-combined agg, so wall time ~= the scan.
  * weighted median at n/10 rows over 25 groups: group g holds values
    v = 1..m with weight 1 each except v = m, which gets weight m.
    Total weight is 2m - 1, so the first v with 2·cumweight >= total
    is v = m itself (2(m-1) = 2m-2 falls short) — the heavy tail row
    IS the weighted median, closed-form per group.
  * ntile(4) equi-depth binning at n/10 rows: bucket populations must
    differ by <= 1 and boundaries must tile in order.

Usage: python tools/scale_probe_stats.py [n_rows]
Writes `stats_n{n}` into SCALEBENCH.json.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scalebench import merge_entry  # noqa: E402


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000_000
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.session import local_session

    spark = local_session(
        "ctdc-scale-stats",
        **{"spark.sql.shuffle.partitions": "64", "spark.driver.memory": "48g"},
    )
    results: dict = {"n_rows": n}

    # ---- OLS: one partial-combined moment aggregate over 10^8 rows
    base = spark.range(n).select(
        (F.col("id") % 1000).alias("x1"),
        ((F.col("id") * 2654435761) % 500).alias("x2"),
    )
    df = base.select(
        "x1",
        "x2",
        (
            F.lit(7000)
            + 3 * F.col("x1")
            - 2 * F.col("x2")
            + (
                (F.col("x1") * 40503 + F.col("x2") * 69069) % 101
                - 50
            )
        ).alias("y"),
    )
    t0 = time.time()
    m = df.agg(
        F.count(F.lit(1)).alias("cn"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    ).collect()[0]
    results["ols_sec"] = round(time.time() - t0, 2)
    import numpy as np

    A = np.array(
        [
            [m.cn, m.s1, m.s2],
            [m.s1, m.s11, m.s12],
            [m.s2, m.s12, m.s22],
        ],
        dtype=float,
    )
    b = np.array([m.sy, m.s1y, m.s2y], dtype=float)
    beta = np.linalg.solve(A, b)
    results["ols_beta"] = [round(float(x), 4) for x in beta]
    # noise correlates weakly with x1/x2 (it's a function of them), so
    # allow a small tolerance around the planted coefficients
    results["ols_recovers_coefficients"] = bool(
        abs(beta[1] - 3) < 0.02 and abs(beta[2] + 2) < 0.02
    )

    # ---- weighted median: 25 groups, m values each, heavy top weight
    wm_n = n // 10
    m_per = wm_n // 25
    wdf = spark.range(wm_n).select(
        (F.col("id") % 25).alias("g"),
        ((F.col("id") / 25).cast("long") % m_per + 1).alias("v"),
    ).select(
        "g",
        "v",
        F.when(F.col("v") == m_per, F.lit(m_per)).otherwise(
            F.lit(1)
        ).alias("w"),
    )
    wcum = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("g")
    t0 = time.time()
    med = (
        wdf.select(
            "g",
            "v",
            F.sum("w").over(wcum).alias("cw"),
            F.sum("w").over(wtot).alias("tw"),
        )
        .filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("g")
        .agg(F.min("v").alias("med"))
        .collect()
    )
    results["wmedian_sec"] = round(time.time() - t0, 2)
    # total weight = (m-1)·1 + m = 2m - 1 and cumulative weight at
    # value v < m is v, so 2v >= 2m-1 first holds at v = m: the
    # heavy tail row IS the weighted median (see module docstring)
    want = m_per
    results["wmedian_correct"] = all(r.med == want for r in med)
    results["wmedian_groups"] = len(med)

    # ---- equi-depth binning at n/10 rows (global sort window)
    bdf = spark.range(wm_n).select(
        ((F.col("id") * 2654435761) % 1_000_000).alias("cents"),
        F.col("id").alias("k"),
    )
    wb = Window.orderBy("cents", "k")
    t0 = time.time()
    bins = (
        bdf.select("cents", F.ntile(4).over(wb).alias("bin"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("cents").alias("lo"),
            F.max("cents").alias("hi"),
        )
        .orderBy("bin")
        .collect()
    )
    results["binning_sec"] = round(time.time() - t0, 2)
    cnts = [r.cnt for r in bins]
    results["binning_balanced"] = max(cnts) - min(cnts) <= 1
    results["binning_ordered"] = all(
        a.hi <= b.lo for a, b in zip(bins, bins[1:])
    )

    results["ok"] = all(
        results[k]
        for k in (
            "ols_recovers_coefficients",
            "wmedian_correct",
            "binning_balanced",
            "binning_ordered",
        )
    )
    merge_entry(f"stats_n{n}", results)
    print(results)
    spark.stop()
    return 0 if results["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
