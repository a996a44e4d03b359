"""Fuzzy edit-distance pair probe: `edit_distance_pairs` at 10⁶
strings with planted distance-1 twins.

Construction (seeded, fully distributed):
  * n random length-12 strings over a 36-char alphabet — the space is
    36¹² ≈ 5·10¹⁸, so the probability of any UNPLANTED distance-≤1
    pair among 10⁶ strings is ≈ (13n)²/36¹¹ ≈ 10⁻³: effectively zero,
    which makes the planted set the exact ground truth,
  * every PLANT_EVERY-th string gets a twin (key = n + id) with ONE
    character substituted at a seeded position to a DIFFERENT char —
    exactly distance 1 from its base.

Checks: every planted pair found (recall 1.0), zero unplanted pairs,
no cartesian in the plan (implied by completion: the naive cross
product at 10⁶ is 5·10¹¹ comparisons), wall time recorded.  Merges
``fuzzy_n{N}`` into SCALEBENCH.json.

Usage: python tools/scale_probe_fuzzy.py [n] [radius] (default 1000000 1)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

N_DEFAULT = 1_000_000
SEED = 20260814
STR_LEN = 12
PLANT_EVERY = 100
ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"


def generate(spark, path: str, n: int, radius: int) -> None:
    import numpy as np
    import pandas as pd

    base = spark.range(0, n).toDF("id")

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            keys, strs, planted = [], [], []
            for i in ids:
                rng = np.random.default_rng(SEED + int(i))
                chars = rng.integers(0, len(ALPHABET), STR_LEN)
                s = "".join(ALPHABET[c] for c in chars)
                keys.append(int(i))
                strs.append(s)
                planted.append(False)
                if i % PLANT_EVERY == 0:
                    # substitute `radius` DISTINCT positions with
                    # guaranteed-different chars: exactly distance
                    # `radius` from the base
                    poss = rng.choice(STR_LEN, size=radius, replace=False)
                    t = list(s)
                    for pos in poss:
                        t[pos] = ALPHABET[
                            (chars[pos] + 1 + int(rng.integers(0, 34)))
                            % len(ALPHABET)
                        ]
                    keys.append(int(i) + n)
                    strs.append("".join(t))
                    planted.append(True)
            yield pd.DataFrame(
                {"k": keys, "s": strs, "planted": planted}
            )

    base.mapInPandas(gen, "k long, s string, planted boolean").write.mode(
        "overwrite"
    ).parquet(path)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else N_DEFAULT
    radius = int(sys.argv[2]) if len(sys.argv) > 2 else 1

    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.session import local_session
    from compile_time_data_contracts_spark.operators.fuzzy import (
        edit_distance_pairs,
    )

    spark = local_session("ctdc-scale-probe-fuzzy", **{"spark.driver.memory": "16g"})

    path = f"/tmp/ctdc-scale-probe-fuzzy-{n}-k{radius}"
    results: dict = {"n_strings": n, "str_len": STR_LEN, "radius": radius}
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        t0 = time.perf_counter()
        generate(spark, path, n, radius)
        results["generate_sec"] = round(time.perf_counter() - t0, 2)
    rows = spark.read.parquet(path)
    planted = rows.filter("planted").count()
    results["planted_pairs"] = planted

    t0 = time.perf_counter()
    pairs = edit_distance_pairs(rows, "k", "s", max_dist=radius)
    # a planted pair is (base id, base id + n) exactly
    agg = pairs.agg(
        F.count("*").alias("total"),
        F.sum(
            ((F.col("key_b") - F.col("key_a")) == F.lit(n)).cast("long")
        ).alias("planted_found"),
    ).first()
    results["pairs_sec"] = round(time.perf_counter() - t0, 2)
    results["pairs_found"] = int(agg["total"])
    results["planted_found"] = int(agg["planted_found"])
    results["unplanted_pairs"] = int(agg["total"]) - int(
        agg["planted_found"]
    )
    results["planted_recall"] = (
        round(results["planted_found"] / planted, 6) if planted else None
    )

    ok = (
        results["planted_found"] == planted
        and results["unplanted_pairs"] == 0
    )
    results["ok"] = ok

    from scalebench import merge_entry

    merge_entry(f"fuzzy_n{n}" + (f"_k{radius}" if radius != 1 else ""), results)
    print(json.dumps({"metric": "scale_probe_fuzzy", "results": results}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
