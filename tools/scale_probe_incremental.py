"""Scale probe: INCREMENTAL cross-batch near-dup dedup at 1M-corpus /
51k-batch — the real ingest pattern (new crawl batches dedup against
the existing corpus, not corpus-against-itself).

Setup (deterministic, generated distributed, untimed):
  * corpus: N docs, each a seeded 60-token word sequence,
  * batch:  B docs — the first 1,000 are near-copies of corpus docs
    0..999 (3 of 60 tokens substituted, trigram-Jaccard ~0.7 > 0.5),
    the rest are fresh unique documents.

Measured:
  * index build (one-time corpus cost; persisted banded signatures),
  * `near_dup_against` (batch-only shingling + join against the
    persisted index — the per-ingest cost),
  * full recompute `minhash_near_dup_pairs(corpus ∪ batch)` for
    comparison.

Contracts: the incremental pass finds EXACTLY the 1,000 planted cross
pairs (recall 1.0, zero unplanted), its result equals the full
recompute's cross-batch subset, and its wall time beats the full
recompute (the point of the index).

Usage: python tools/scale_probe_incremental.py [corpus_n] [batch_n]
Writes `incremental_n{N}_b{B}` into SCALEBENCH.json.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scalebench import merge_entry  # noqa: E402

SEED = 20260814
VOCAB = 50_000
DOC_TOKENS = 60
PLANTED = 1_000


def generate(spark, path: str, lo: int, hi: int, corpus_n: int) -> None:
    """Docs with ids [lo, hi): id < corpus_n -> seeded original; id in
    [corpus_n, corpus_n + PLANTED) -> near-copy of (id - corpus_n);
    anything else -> fresh unique doc."""
    import numpy as np
    import pandas as pd

    base = spark.range(lo, hi).toDF("doc_id").repartition(32)

    def gen(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            texts = []
            for i in ids:
                i = int(i)
                is_copy = corpus_n <= i < corpus_n + PLANTED
                src = i - corpus_n if is_copy else i
                rng = np.random.default_rng(SEED + src)
                words = rng.integers(0, VOCAB, size=DOC_TOKENS)
                if is_copy:
                    nrng = np.random.default_rng(SEED * 2 + src)
                    pos = nrng.choice(DOC_TOKENS, size=3, replace=False)
                    words = words.copy()
                    words[pos] = nrng.integers(0, VOCAB, size=3)
                texts.append(" ".join(f"w{w}" for w in words))
            yield pd.DataFrame({"doc_id": ids, "text": texts})

    base.mapInPandas(gen, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(path)


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    b = int(sys.argv[2]) if len(sys.argv) > 2 else 51_000

    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.session import local_session
    from compile_time_data_contracts_spark.operators.dedup import (
        minhash_index_build,
        minhash_near_dup_pairs,
        near_dup_against,
    )

    spark = local_session(
        "ctdc-scale-incremental",
        **{"spark.sql.shuffle.partitions": "64", "spark.driver.memory": "48g"},
    )

    cpath = f"/tmp/ctdc-incr-corpus-{n}"
    bpath = f"/tmp/ctdc-incr-batch-{n}-{b}"
    if not os.path.exists(os.path.join(cpath, "_SUCCESS")):
        generate(spark, cpath, 0, n, corpus_n=n)
    if not os.path.exists(os.path.join(bpath, "_SUCCESS")):
        generate(spark, bpath, n, n + b, corpus_n=n)
    corpus = spark.read.parquet(cpath)
    batch = spark.read.parquet(bpath)

    results: dict = {"corpus_n": n, "batch_n": b, "threshold": 0.5}
    ipath = f"/tmp/ctdc-incr-index-{n}"

    t0 = time.perf_counter()
    minhash_index_build(corpus, ipath)
    results["index_build_sec"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    incr = near_dup_against(spark, ipath, batch, threshold=0.5).persist()
    n_incr = incr.count()
    results["incremental_sec"] = round(time.perf_counter() - t0, 2)
    results["incremental_pairs"] = n_incr

    planted_hit = incr.filter(
        (F.col("doc_b") - F.col("doc_a") == n) & (F.col("doc_a") < PLANTED)
    ).count()
    results["planted_recall"] = round(planted_hit / PLANTED, 4)
    results["unplanted_pairs"] = n_incr - planted_hit

    t0 = time.perf_counter()
    full = minhash_near_dup_pairs(corpus.union(batch), threshold=0.5)
    cross_full = full.filter(
        (F.col("doc_a") < n) & (F.col("doc_b") >= n)
    ).count()
    results["full_recompute_sec"] = round(time.perf_counter() - t0, 2)
    results["full_cross_pairs"] = cross_full

    results["ok"] = (
        results["planted_recall"] == 1.0
        and results["unplanted_pairs"] == 0
        and cross_full == n_incr
        and results["incremental_sec"] < results["full_recompute_sec"]
    )
    merge_entry(f"incremental_n{n}_b{b}", results)
    print(results)
    spark.stop()
    return 0 if results["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
