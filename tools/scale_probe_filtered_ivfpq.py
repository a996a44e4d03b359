"""Scale probe: label-FILTERED IVF-PQ search (the q378 path) at 10^6
vectors — the compressed-domain twin of scale_probe_filtered_ivf, with
the same planted in-label/decoy families that distinguish in-candidate
filtering from post-filtering.

Reuses the scale_probe_filtered_ivf corpus AND its (cluster, label)
index directory: `ivf_pq_topk`'s layered staleness sees the existing
IVF layer (fingerprint + layout match) and adds only the PQ code/book
tables under it — the build-once convention across probes.

Contracts (all asserted, results recorded in SCALEBENCH.json):

  1. `filtered_recall` >= 0.9 and `exact_match`: the filtered
     composite recovers the 10 in-label plants (k=11: query + 10) and
     equals the exact label-filtered top-k.
  2. `post_filter_would_return` <= 2: the decoys (closer, wrong label)
     dominate the unfiltered top-k — a post-filter design would starve.
  3. Plan: the CODE scan's PartitionFilters carry BOTH axes (cluster
     INSET + label equality) — no cross-label codes are ever decoded —
     and so does the re-rank hydration scan.
  4. `code_dirs_probed` MEASURED: cluster ids parsed from the executed
     plan, surviving (cluster=c, label=0) CODE directories counted on
     disk; must be in (0, nprobe].

Usage: python tools/scale_probe_filtered_ivfpq.py [n] [dim]
Writes `filtered_ivfpq_n{total}` into SCALEBENCH.json.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scale_probe_filtered_ivf import (  # noqa: E402
    N_CLUSTERS,
    N_PLANTS,
    cluster_ids,
    corpus,
    index_path,
)
from scalebench import args, finish, timed  # noqa: E402

NPROBE = 16
M = 8
KSUB = 16
RERANK = 200


def main() -> int:
    n, dim = args(1_000_000, 64)

    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.session import local_session
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_pq_topk,
        topk_cosine,
    )

    spark = local_session(
        "ctdc-scale-probe-filtered-ivfpq",
        **{"spark.driver.memory": "16g", "spark.sql.maxMetadataStringLength": "100000"},
    )

    total = n + 2 * N_PLANTS
    results: dict = {
        "n": total,
        "dim": dim,
        "n_clusters": N_CLUSTERS,
        "nprobe": NPROBE,
        "m": M,
        "ksub": KSUB,
        "rerank": RERANK,
    }
    emb = corpus(spark, n, dim, results)

    idx = index_path(n, dim)
    query = emb.filter(F.col("vec_id") == n)  # in-label plant near v0

    def search():
        return ivf_pq_topk(
            emb, query, k=N_PLANTS + 1, n_clusters=N_CLUSTERS,
            nprobe=NPROBE, m=M, ksub=KSUB, rerank=RERANK, index_path=idx,
            meta_cols=("label",), filters={"label": 0},
        )

    # first call pays the PQ train/encode (the IVF layer is reused if
    # the filtered-IVF probe already built it); time it separately from
    # the steady-state search
    with timed(results, "first_call_sec"):
        search().collect()

    with timed(results, "filtered_search_sec"):
        approx_df = search()
        plan = approx_df._jdf.queryExecution().executedPlan().toString()
        approx_ids = {r.vec_id for r in approx_df.collect()}

    planted = set(range(n, n + N_PLANTS))
    results["filtered_recall"] = round(
        len(approx_ids & planted) / N_PLANTS, 2
    )

    pfs = re.findall(r"PartitionFilters: \[[^\]]*\]", plan)
    results["plan_scans_pruning_cluster"] = sum(
        1 for p in pfs if "cluster" in p
    )
    results["plan_scans_pruning_label"] = sum(
        1 for p in pfs if "label" in p
    )
    probed_clusters = next(
        (ids for ids in map(cluster_ids, pfs) if ids), []
    )
    results["code_dirs_probed"] = sum(
        1
        for c in probed_clusters
        if os.path.isdir(f"{idx}/pq/codes/cluster={c}/label=0")
    )
    code_dirs = 0
    for cdir in os.listdir(f"{idx}/pq/codes"):
        if cdir.startswith("cluster="):
            code_dirs += sum(
                1
                for ldir in os.listdir(f"{idx}/pq/codes/{cdir}")
                if ldir.startswith("label=")
            )
    results["code_dirs_total"] = code_dirs

    # exact filtered ground truth + post-filter starvation
    with timed(results, "exact_filtered_sec"):
        exact_filtered = {
            r.vec_id
            for r in topk_cosine(
                emb.filter(F.col("label") == 0), query, k=N_PLANTS + 1
            ).collect()
        }
    results["exact_match"] = approx_ids == exact_filtered

    unfiltered = topk_cosine(emb, query, k=N_PLANTS + 1)
    lbl = {
        r.vec_id: r.label
        for r in emb.filter(F.col("vec_id") >= n)
        .select("vec_id", "label")
        .collect()
    }
    post = [
        r.vec_id
        for r in unfiltered.collect()
        if lbl.get(r.vec_id, r.vec_id % 10) == 0
    ]
    results["post_filter_would_return"] = len(post)

    ok = (
        results["filtered_recall"] >= 0.9
        and results["exact_match"]
        and results["post_filter_would_return"] <= 2
        and results["plan_scans_pruning_cluster"] >= 2
        and results["plan_scans_pruning_label"] >= 2
        and 0 < results["code_dirs_probed"] <= NPROBE
    )
    results["ok"] = bool(ok)
    return finish(spark, {f"filtered_ivfpq_n{total}": results}, ok)


if __name__ == "__main__":
    raise SystemExit(main())
