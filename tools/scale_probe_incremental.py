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

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scalebench import args, finish, timed  # noqa: E402

SEED = 20260814
# bump when generate() changes, so the cached corpus and batch rebuild
VERSION = 1
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
    n, b = args(1_000_000, 51_000)

    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.operators.materialize import (
        reuse,
        scratch_dir,
    )
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

    def docs(kind: str, key: str, lo: int, hi: int):
        def build(stage: str) -> None:
            generate(spark, os.path.join(stage, "data"), lo, hi, corpus_n=n)

        want = {"lo": lo, "hi": hi, "corpus_n": n, "seed": SEED,
                "version": VERSION}
        root, _, _ = reuse(kind, key, want, build)
        return spark.read.parquet(os.path.join(root, "data"))

    corpus = docs("probe-incr-corpus", str(n), 0, n)
    batch = docs("probe-incr-batch", f"{n}-{b}", n, n + b)

    results: dict = {"corpus_n": n, "batch_n": b, "threshold": 0.5}
    ipath = scratch_dir("ctdc-probe-incr-index-")

    with timed(results, "index_build_sec"):
        minhash_index_build(corpus, ipath)

    with timed(results, "incremental_sec"):
        incr = near_dup_against(spark, ipath, batch, threshold=0.5).persist()
        n_incr = incr.count()
    results["incremental_pairs"] = n_incr

    planted_hit = incr.filter(
        (F.col("doc_b") - F.col("doc_a") == n) & (F.col("doc_a") < PLANTED)
    ).count()
    results["planted_recall"] = round(planted_hit / PLANTED, 4)
    results["unplanted_pairs"] = n_incr - planted_hit

    with timed(results, "full_recompute_sec"):
        full = minhash_near_dup_pairs(corpus.union(batch), threshold=0.5)
        cross_full = full.filter(
            (F.col("doc_a") < n) & (F.col("doc_b") >= n)
        ).count()
    results["full_cross_pairs"] = cross_full

    results["ok"] = (
        results["planted_recall"] == 1.0
        and results["unplanted_pairs"] == 0
        and cross_full == n_incr
        and results["incremental_sec"] < results["full_recompute_sec"]
    )
    return finish(spark, {f"incremental_n{n}_b{b}": results}, results["ok"])


if __name__ == "__main__":
    sys.exit(main())
