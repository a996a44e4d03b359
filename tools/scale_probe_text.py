"""Text-dedup scale probe: MinHash-LSH near-dup detection at >= 100k
documents (the sibling of tools/scale_probe.py for the text path).

The documents gate tables top out at ~5k rows, so the banded MinHash
pipeline (shingle explode -> 32-hash signatures -> 16-band bucket join
-> exact-Jaccard verify) never runs at representative corpus size in
any gate.  This probe:

  1. generates a seeded 100k-document corpus, fully distributed: each
     document is a deterministic word sequence drawn from a vocabulary,
     with 1,000 planted near-duplicate pairs (partner = source with 3
     of 60 tokens substituted; each substitution kills up to 3 trigram
     shingles, so shingle-Jaccard stays >= ~0.7, above the 0.5
     threshold — substituting 15% of tokens would amplify to J ~ 0.36
     and the pairs would CORRECTLY not be found) and everything else
     far below it,
  2. runs minhash_near_dup_pairs at threshold 0.5, measuring recall
     against the planted pairs and asserting precision via the exact
     verify (every emitted pair has true Jaccard >= 0.5 by
     construction),
  3. clusters the found pairs with connected_components_star and checks the
     planted pairs collapse to one representative each,
  4. merges a `text_n{total}` entry into SCALEBENCH.json (keyed by
     scale, so 100k and 1M runs coexist).

Usage: python tools/scale_probe_text.py [n_docs]   (default 100000)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scalebench import args, finish, timed  # noqa: E402

PLANTED = 1_000
SEED = 20260813
DOC_TOKENS = 60
VOCAB = 50_000
# bump when generate() changes, so the cached corpus is rebuilt
VERSION = 1


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
                words = rng.integers(0, VOCAB, size=DOC_TOKENS)
                if i >= n:  # planted near-dup: substitute 3 tokens
                    nrng = np.random.default_rng(SEED * 2 + int(src))
                    pos = nrng.choice(DOC_TOKENS, size=3, replace=False)
                    words = words.copy()
                    words[pos] = nrng.integers(0, VOCAB, size=3)
                texts.append(" ".join(f"w{w}" for w in words))
            yield pd.DataFrame({"doc_id": ids, "text": texts})

    base.mapInPandas(gen, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(path)


def main() -> int:
    (n,) = args(100_000)

    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.operators.materialize import reuse
    from compile_time_data_contracts_spark.session import local_session
    from compile_time_data_contracts_spark.operators.dedup import (
        connected_components_star,
        minhash_near_dup_pairs,
    )

    spark = local_session("ctdc-scale-probe-text", **{"spark.driver.memory": "16g"})

    results: dict = {"n_docs": n + PLANTED, "threshold": 0.5}

    def build(stage: str) -> None:
        with timed(results, "generate_sec"):
            generate(spark, os.path.join(stage, "data"), n)

    want = {"n": n, "seed": SEED, "version": VERSION}
    root, _, _ = reuse("probe-text", str(n), want, build)
    docs = spark.read.parquet(os.path.join(root, "data"))

    with timed(results, "minhash_sec"):
        pairs = minhash_near_dup_pairs(docs, threshold=0.5).persist()
        n_pairs = pairs.count()
    results["pairs_found"] = n_pairs

    planted_hit = pairs.filter(
        (F.col("doc_b") - F.col("doc_a") == n) & (F.col("doc_a") < PLANTED)
    ).count()
    results["planted_recall"] = round(planted_hit / PLANTED, 4)
    # precision is structural (exact-Jaccard verify >= threshold), but
    # assert nothing OUTSIDE the planted construction was emitted — the
    # corpus is built so random pairs sit far below 0.5
    results["unplanted_pairs"] = n_pairs - planted_hit

    with timed(results, "cc_sec"):
        clusters = connected_components_star(pairs)
        n_clusters = clusters.filter(
            F.col("doc_id") == F.col("cluster_id")
        ).count()
    results["clusters"] = n_clusters

    # leakage-safe split over the full corpus: every near-dup cluster
    # must land in exactly ONE split (q166's operator at probe scale),
    # and the naive doc-id split must visibly scatter planted clusters
    # (partner ids differ from sources by n, so their hashes are
    # independent)
    from compile_time_data_contracts_spark.operators.sampling import (
        split_by_cluster,
    )

    with timed(results, "split_sec"):
        allc = (
            docs.select("doc_id")
            .join(clusters, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            )
        )
        lab = split_by_cluster(allc)
        agg = lab.groupBy("cluster_id").agg(
            F.count("*").alias("sz"),
            F.countDistinct("split").alias("n_safe"),
            F.countDistinct("naive_split").alias("n_naive"),
        )
        straddling_safe = agg.filter("n_safe > 1").count()
        leaked_naive = agg.filter("sz > 1 AND n_naive > 1").count()
    results["split_straddling_clusters"] = straddling_safe
    results["split_leaked_clusters_naive"] = leaked_naive

    ok = (
        results["planted_recall"] >= 0.95
        and results["unplanted_pairs"] == 0
        and n_clusters == planted_hit  # every pair collapses to one rep
        and straddling_safe == 0  # cluster-keyed split never leaks
        and leaked_naive > 0  # naive split demonstrably would
    )
    results["ok"] = ok
    # keyed by scale, next to the vector probe's entries
    return finish(spark, {f"text_n{n + PLANTED}": results}, ok)


if __name__ == "__main__":
    raise SystemExit(main())
