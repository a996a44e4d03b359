"""Scale probe: BATCH IVF-PQ search (the q380 path) — a query batch
against a 10^6-vector compressed index, served by ONE pruned code scan
plus ONE pruned hydration scan.

Reuses the scale_probe_filtered_ivf corpus AND index directory: the
IVF layer and (if the filtered-ivfpq probe ran) the PQ layer are
already persisted; `ivf_pq_build_or_reuse`'s layered staleness adds
only what is missing.

Contracts (all asserted, results recorded in SCALEBENCH.json):

  1. `batch_recall_mean` vs the exact per-query top-10 (one
     `topk_cosine_multi` pass) clears the floor, and the planted
     query's family is fully recovered — nprobe and rerank govern
     recall per query exactly as in the single-query composite (the
     probe mask prevents union leakage).
  2. TWO scans total in the executed plan (codes for ADC + vectors for
     the exact re-rank) — never |queries| passes; the code scan prunes
     on the probe-list union.
  3. `speedup_vs_sequential_est`: batch wall vs |queries| x the median
     single `ivf_pq_topk` search latency.

Usage: python tools/scale_probe_batch_ivfpq.py [n] [dim] [n_queries]
Writes `batch_ivfpq_n{total}_q{n_queries}` into SCALEBENCH.json.
"""

from __future__ import annotations

import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scale_probe_filtered_ivf import (  # noqa: E402
    N_CLUSTERS,
    N_PLANTS,
    corpus,
    index_path,
)
from scalebench import args, finish, timed  # noqa: E402

NPROBE = 16
K = 10
# production PQ shape: 8-bit codebooks (ksub=256), 8 bytes/vector.
# The gate-scale ksub=16 (4-bit) codebook collapses at 10^6 vectors:
# ~15k same-component candidates per probed cloud and 4-bit ADC can't
# separate true top-10 from the cloud (measured recall 0.25 with
# rerank 200); 8-bit ADC + rerank 10^3 is the FAISS-default regime.
# rerank 5000 (0.5% of the corpus hydrated): the mixture clouds are
# locally DENSE — same-component members sit at near-identical cosine,
# so the true top-10's ADC margin is below quantization noise and the
# re-rank set must be generous (measured mean recall 0.25 at 4-bit/
# rerank 200, 0.81 at 8-bit/1000, >=0.85 floor at 8-bit/5000).  The
# compressed scan still reads 8-byte codes; hydration stays 0.5%.
M = 8
KSUB = 256
RERANK = 5000
RECALL_FLOOR = 0.85


def main() -> int:
    n, dim, n_queries = args(1_000_000, 64, 200)

    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.session import local_session
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_pq_search_batch,
        ivf_pq_topk,
        topk_cosine_multi,
    )

    spark = local_session(
        "ctdc-scale-probe-batch-ivfpq",
        **{"spark.driver.memory": "16g", "spark.sql.maxMetadataStringLength": "100000"},
    )

    total = n + 2 * N_PLANTS
    results: dict = {
        "n": total, "dim": dim, "n_queries": n_queries,
        "n_clusters": N_CLUSTERS, "nprobe": NPROBE, "k": K,
        "m": M, "ksub": KSUB, "rerank": RERANK,
    }
    emb = corpus(spark, n, dim, results)
    idx = index_path(n, dim)

    stride = max(1, n // n_queries)
    qids = [i * stride for i in range(n_queries - 1)] + [n]
    queries = emb.filter(F.col("vec_id").isin(qids))

    def search(qs):
        return ivf_pq_search_batch(
            emb, qs, k=K, n_clusters=N_CLUSTERS, nprobe=NPROBE,
            m=M, ksub=KSUB, rerank=RERANK, index_path=idx,
            meta_cols=("label",), query_id_col="vec_id",
        )

    # first call pays any missing index layer; time it apart from the
    # steady-state batch search
    with timed(results, "ensure_index_sec"):
        search(queries.limit(1)).collect()

    with timed(results, "batch_search_sec"):
        batch = search(queries)
        plan = batch._jdf.queryExecution().executedPlan().toString()
        got: dict = {}
        for r in batch.collect():
            got.setdefault(r.query_id, set()).add(r.vec_id)

    results["plan_scans"] = len(re.findall(r"Scan parquet[^\n]*", plan))
    results["plan_prunes_codes_on_cluster"] = bool(
        re.search(r"PartitionFilters: \[[^\]]*cluster", plan)
    )

    with timed(results, "exact_batch_sec"):
        exact: dict = {}
        for r in topk_cosine_multi(
            emb, queries, k=K, query_id_col="vec_id"
        ).collect():
            exact.setdefault(r.query_id, set()).add(r.vec_id)

    recalls = [
        len(got.get(q, set()) & exact[q]) / len(exact[q]) for q in exact
    ]
    results["batch_recall_mean"] = round(sum(recalls) / len(recalls), 4)
    results["batch_recall_min"] = round(min(recalls), 4)
    results["planted_query_recall"] = round(
        len(got.get(n, set()) & exact[n]) / len(exact[n]), 2
    )

    singles = []
    for q in qids[:5]:
        t0 = time.perf_counter()
        ivf_pq_topk(
            emb, emb.filter(F.col("vec_id") == q), k=K,
            n_clusters=N_CLUSTERS, nprobe=NPROBE, m=M, ksub=KSUB,
            rerank=RERANK, index_path=idx, meta_cols=("label",),
        ).collect()
        singles.append(time.perf_counter() - t0)
    results["single_search_sec_median"] = round(
        statistics.median(singles), 3
    )
    results["sequential_est_sec"] = round(
        statistics.median(singles) * n_queries, 1
    )
    results["speedup_vs_sequential_est"] = round(
        results["sequential_est_sec"] / results["batch_search_sec"], 1
    )

    ok = (
        results["batch_recall_mean"] >= RECALL_FLOOR
        and results["planted_query_recall"] >= 0.9
        and results["plan_scans"] == 2
        and results["plan_prunes_codes_on_cluster"]
        and results["speedup_vs_sequential_est"] > 1
    )
    results["ok"] = bool(ok)
    return finish(
        spark, {f"batch_ivfpq_n{total}_q{n_queries}": results}, ok
    )


if __name__ == "__main__":
    raise SystemExit(main())
