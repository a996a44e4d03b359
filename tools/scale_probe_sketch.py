"""Scale probe: mergeable sketches at 100,000,000 rows — the q19/q130
(HyperLogLog) and q160 (Count-Min) paths at 1000x the gate's data.

Stream (generated inline by spark.range, nothing persisted): 10^8
rows; key space 10^7 distinct keys with key 0 planted hot at ~5% of
all rows; a distinct-id column with exactly 10^8 unique values.

Contracts:
  * HLL approx distinct of the unique column within 3% of 10^8
    (default lgK=12 implies ~1.6% standard error),
  * CMS point estimate for the hot key >= its true count and within
    eps*N above it (eps = 1e-4, so the bound is 10k on 10^8),
  * CMS estimate for a typical cold key within the same bound,
  * both finish in one pass each, wall recorded.

Usage: python tools/scale_probe_sketch.py [n_rows]
Writes `sketch_n{n}` into SCALEBENCH.json.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scalebench import args, finish, timed  # noqa: E402

HOT_PCT = 5
KEYSPACE = 10_000_000
EPS = 1e-4


def main() -> int:
    (n,) = args(100_000_000)
    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.session import local_session

    spark = local_session(
        "ctdc-scale-sketch",
        **{"spark.sql.shuffle.partitions": "64", "spark.driver.memory": "48g"},
    )

    # every HOT_PCT-th row is key 0; the rest mix over KEYSPACE keys
    rows = spark.range(n).select(
        F.col("id").alias("uid"),
        F.when(F.col("id") % (100 // HOT_PCT) == 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(KEYSPACE)))
        .alias("key"),
    )

    results: dict = {
        "n_rows": n,
        "keyspace": KEYSPACE,
        "hot_pct": HOT_PCT,
        "eps": EPS,
    }

    with timed(results, "hll_sec"):
        hll = rows.agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("uid")).alias("est")
        ).collect()[0].est
    results["hll_estimate"] = int(hll)
    results["hll_rel_err"] = round(abs(hll - n) / n, 5)

    with timed(results, "cms_sec"):
        row = rows.selectExpr(
            f"count_min_sketch(key, {EPS}d, 0.99d, 42) AS s",
            "sum(CASE WHEN key = 0 THEN 1 ELSE 0 END) AS hot_true",
            "sum(CASE WHEN key = 12345 THEN 1 ELSE 0 END) AS cold_true",
        ).collect()[0]
        jvm = spark._jvm
        cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
            jvm.java.io.ByteArrayInputStream(bytes(row.s))
        )
        bound = math.ceil(EPS * n)
        hot_est = int(cms.estimateCount(0))
        cold_est = int(cms.estimateCount(12345))
    results["hot_true"] = int(row.hot_true)
    results["hot_est"] = hot_est
    results["cold_true"] = int(row.cold_true)
    results["cold_est"] = cold_est
    results["cms_bound"] = bound

    results["ok"] = (
        results["hll_rel_err"] < 0.03
        and row.hot_true <= hot_est <= row.hot_true + bound
        and row.cold_true <= cold_est <= row.cold_true + bound
    )
    return finish(spark, {f"sketch_n{n}": results}, results["ok"])


if __name__ == "__main__":
    sys.exit(main())
