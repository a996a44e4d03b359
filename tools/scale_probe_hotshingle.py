"""Hot-shingle df² probe: prove the max_df posting cap kills the one
remaining scale-killer-shaped risk in the exact pair operators
(VERDICT r4, watch-item #1) without losing a single qualifying pair.

Construction (seeded, fully distributed):
  * n base documents of 30 random vocab tokens (trigram shingles are
    effectively unique across docs),
  * a BOILERPLATE trigram ("terms of service") appended to hot_frac of
    all docs — ONE shingle with df = hot_frac·n, the corpus-stopword
    pattern that makes the uncapped co-occurrence join emit
    df·(df-1)/2 pairs before any threshold can cut them,
  * PLANTED containment pairs: partner doc = source's 30 tokens + 30
    fresh tokens, so C(source, partner) ≈ 1.0 ≥ 0.8 and every planted
    intersection is ~28 CONTENT shingles (no planted pair depends on
    the boilerplate shingle — the lossless-cap condition holds by
    construction, as it does for real corpora where boilerplate is not
    document content).

Measurements:
  1. SMALL scale (default 100k docs, hot df = 10k): the uncapped
     posting self-join is actually RUN — its join-row count must equal
     the Σ df·(df-1)/2 histogram formula (demonstrating the df² law on
     measured rows, not arithmetic), and the uncapped and capped
     operators must return IDENTICAL ≥-threshold pair sets.
  2. FULL scale (default 1M docs, hot df = 100k): the uncapped join
     would emit ≈ 5×10⁹ rows from the one hot shingle alone — reported
     from the histogram, not run — while the capped path completes,
     with planted recall 1.0 and 0 unplanted pairs.

Merges `hotshingle_n{N}` into SCALEBENCH.json.

Usage: python tools/scale_probe_hotshingle.py [n_docs] [small_n]
       (defaults 1000000 100000)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

N_DEFAULT = 1_000_000
SMALL_DEFAULT = 100_000
PLANTED = 1_000
SEED = 20260814
DOC_TOKENS = 30
VOCAB = 200_000
HOT_FRAC = 0.1
MAX_DF = 1_000
THRESHOLD = 0.8
BOILER = "terms of service"  # one trigram after tokenization


def generate(spark, path: str, n: int) -> None:
    import numpy as np
    import pandas as pd

    base = spark.range(0, n + PLANTED).toDF("doc_id")

    def gen(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            texts = []
            for i in ids:
                src = i if i < n else i - n
                rng = np.random.default_rng(SEED + int(src))
                words = [f"w{w}" for w in rng.integers(0, VOCAB, DOC_TOKENS)]
                if i >= n:
                    # planted CONTAINER: source's tokens + 30 fresh ones
                    # => C(source, container) ≈ 1.0
                    nrng = np.random.default_rng(SEED * 3 + int(src))
                    words = words + [
                        f"x{w}" for w in nrng.integers(0, VOCAB, DOC_TOKENS)
                    ]
                elif rng.random() < HOT_FRAC:
                    # corpus boilerplate: ONE shared hot trigram
                    words = words + BOILER.split(" ")
                texts.append(" ".join(words))
            yield pd.DataFrame({"doc_id": ids, "text": texts})

    base.mapInPandas(gen, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(path)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else N_DEFAULT
    small_n = int(sys.argv[2]) if len(sys.argv) > 2 else SMALL_DEFAULT

    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.session import local_session
    from compile_time_data_contracts_spark.operators.dedup import (
        containment_pairs,
        hot_shingle_report,
        shingle_rows,
    )

    spark = local_session(
        "ctdc-scale-probe-hotshingle",
        **{"spark.driver.memory": "16g"},
    )

    results: dict = {
        "n_docs": n + PLANTED,
        "small_n_docs": small_n + PLANTED,
        "max_df": MAX_DF,
        "threshold": THRESHOLD,
    }

    # ---------------- small scale: run BOTH paths, prove the df² law
    path_s = f"/tmp/ctdc-scale-probe-hotshingle-{small_n}"
    if not os.path.exists(os.path.join(path_s, "_SUCCESS")):
        generate(spark, path_s, small_n)
    docs_s = spark.read.parquet(path_s)

    sh = shingle_rows(docs_s, "doc_id", "text").distinct()
    hist = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    predicted = hist.agg(
        F.sum(F.col("df") * (F.col("df") - 1) / 2).cast("long")
    ).first()[0]
    t0 = time.perf_counter()
    a, b = sh.alias("a"), sh.alias("b")
    measured = a.join(
        b,
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).count()
    results["small_uncapped_join_rows_measured"] = measured
    results["small_uncapped_join_rows_predicted"] = int(predicted)
    results["small_uncapped_join_sec"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    uncapped = {
        (r.doc_a, r.doc_b, r.containment)
        for r in containment_pairs(docs_s, threshold=THRESHOLD).collect()
    }
    results["small_uncapped_sec"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    capped = {
        (r.doc_a, r.doc_b, r.containment)
        for r in containment_pairs(
            docs_s, threshold=THRESHOLD, max_df=MAX_DF
        ).collect()
    }
    results["small_capped_sec"] = round(time.perf_counter() - t0, 2)
    results["small_pairs"] = len(uncapped)
    results["small_identical_pairs"] = capped == uncapped

    # ---------------- full scale: histogram the blowup, RUN only capped
    path = f"/tmp/ctdc-scale-probe-hotshingle-{n}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        t0 = time.perf_counter()
        generate(spark, path, n)
        results["generate_sec"] = round(time.perf_counter() - t0, 2)
    docs = spark.read.parquet(path)

    t0 = time.perf_counter()
    hot = hot_shingle_report(docs, max_df=MAX_DF).collect()
    results["hot_report_sec"] = round(time.perf_counter() - t0, 2)
    results["hot_shingles_dropped"] = len(hot)
    results["hot_max_df"] = max((r.df for r in hot), default=0)
    # the pairs the uncapped join would emit for the hot shingles alone
    results["uncapped_join_rows_hot_only"] = sum(
        r.df * (r.df - 1) // 2 for r in hot
    )

    t0 = time.perf_counter()
    pairs = containment_pairs(
        docs, threshold=THRESHOLD, max_df=MAX_DF
    ).persist()
    # planted: container (id src+n) CONTAINS source => contained doc_a
    # = src, doc_b = src + n
    n_pairs = pairs.count()
    planted_hit = pairs.filter(
        (F.col("doc_b") - F.col("doc_a") == n) & (F.col("doc_a") < PLANTED)
    ).count()
    results["capped_sec"] = round(time.perf_counter() - t0, 2)
    results["pairs_found"] = n_pairs
    results["planted_recall"] = round(planted_hit / PLANTED, 4)
    # directional: container->contained direction has C ≈ 0.5, below
    # 0.8, so each planted pair appears exactly once; anything else is
    # noise
    results["unplanted_pairs"] = n_pairs - planted_hit
    pairs.unpersist()

    # the blowup bound scales with the run: hot df ≈ n·HOT_FRAC, so the
    # hot shingle alone must account for ≈ (n·HOT_FRAC)²/2 join rows —
    # a smoke run at reduced n passes its own proportional bound
    # instead of recording a spurious failure against the 1M target
    expected_blowup = (n * HOT_FRAC) ** 2 / 2 * 0.8
    ok = (
        results["small_identical_pairs"]
        and measured == int(predicted)
        and results["hot_shingles_dropped"] >= 1
        and results["hot_max_df"] >= int(n * HOT_FRAC * 0.8)
        and results["uncapped_join_rows_hot_only"] > expected_blowup
        and results["planted_recall"] == 1.0
        and results["unplanted_pairs"] == 0
    )
    results["ok"] = ok

    from scalebench import merge_entry

    merge_entry(f"hotshingle_n{n + PLANTED}", results)
    print(json.dumps({"metric": "scale_probe_hotshingle", "results": results}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
