"""End-to-end ANN index LIFECYCLE demo, composed from the operator
library — the serving-side story a production RAG/vector-search stack
actually runs, at demo scale:

  1. build a persisted IVF index on the initial corpus (k-means fit
     once, vectors written partitioned by cluster so every search is a
     directory-pruned parquet scan),
  2. search it (single query and a batched, one-scan query set),
  3. grow it incrementally (`ivf_append`: frozen centroids, only
     touched cluster partitions receive files),
  4. watch it (`ivf_stats`: leaf skew, files/leaf — the numbers that
     schedule maintenance),
  5. decide maintenance with measurement, not a schedule
     (`ivf_maintain`: an in-distribution batch APPENDS and advances
     the drift baseline exactly; a drifted batch triggers a full
     RE-FIT with an atomic directory swap),
  6. compact the small files the appends left behind (`ivf_compact`,
     a no-op when already packed),
  7. erase a cohort (`ivf_delete`: GDPR path, rewrites only touched
     partitions, deleted ids never resurface),
  8. verify recall against the exact brute-force answer at the end of
     ALL of it.

Every step prints the operator's own measured stats, so the demo
doubles as a narrated trace of the avoided work.

Run:  PYTHONPATH=. python examples/ann_lifecycle_demo.py [sf_dir]
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from compile_time_data_contracts_spark.catalog import load_table
from compile_time_data_contracts_spark.operators.materialize import scratch_dir
from compile_time_data_contracts_spark.operators.similarity import (
    ivf_build,
    ivf_compact,
    ivf_delete,
    ivf_drift,
    ivf_maintain,
    ivf_search,
    ivf_search_batch,
    ivf_stats,
    topk_cosine,
)
from compile_time_data_contracts_spark.session import local_session


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = local_session("ctdc-ann-lifecycle", cores=8)

    emb = load_table(spark, sf, "embeddings")
    idx = scratch_dir("ctdc_ann_demo_")

    # 1. build on the initial corpus (the even half)
    initial = emb.filter(F.col("vec_id") % 2 == 0)
    ivf_build(initial, idx, n_clusters=16)
    print(f"built: {ivf_stats(spark, idx)['n_vectors']} vectors, 16 cells")

    # 2. search — single query, then a 4-query batch through ONE
    # directory-pruned scan
    query = emb.filter(F.col("vec_id") == 8)
    print("single-query top-3:")
    ivf_search(spark, idx, query, k=3, nprobe=4).show()
    batch_queries = emb.filter(F.col("vec_id").isin([0, 2, 4, 6]))
    hits = ivf_search_batch(
        spark, idx, batch_queries, k=2, nprobe=4, query_id_col="vec_id"
    )
    print(f"batch search: {hits.count()} (query, hit) rows from one scan")

    # 3+5a. grow with an IN-DISTRIBUTION batch: the autopilot measures
    # drift, appends under frozen centroids, and advances the baseline
    # from the batch's own partials (no index re-scan)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    r = ivf_maintain(spark, idx, odd, distortion_ratio_max=1.6)
    d = r["drift"]
    print(
        f"maintain(in-dist): action={r['action']} "
        f"ratio={d['distortion_ratio']:.3f} tvd={d['assignment_tvd']:.3f} "
        f"compacted={r['compaction']['partitions_compacted']} leaves"
    )

    # 4. observe
    st = ivf_stats(spark, idx)
    print(
        f"stats: n={st['n_vectors']} leaves={st['nonempty_clusters']} "
        f"imbalance={st['imbalance']:.2f} files/leaf="
        f"{st['avg_files_per_leaf']:.1f}"
    )

    # 5b. a DRIFTED batch (every vector shifted off the corpus
    # distribution) must trigger a re-fit, after which the same batch
    # re-checks as in-distribution — its region now owns centroids
    drifted = emb.filter(F.col("vec_id") % 5 == 1).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr(
            "transform(embedding, x -> CAST(x + 3.0 AS float))"
        ).alias("embedding"),
    )
    r2 = ivf_maintain(spark, idx, drifted, distortion_ratio_max=1.6)
    closure = ivf_drift(spark, idx, drifted, distortion_ratio_max=1.6)
    print(
        f"maintain(drifted): action={r2['action']} "
        f"tvd={r2['drift']['assignment_tvd']:.3f} -> post-refit ratio "
        f"{closure['distortion_ratio']:.4f} (closure)"
    )

    # 6. compaction after the re-fit is a no-op (fresh one-file leaves)
    print(f"compact: {ivf_compact(spark, idx)} (no-op when packed)")

    # 7. erase the drifted cohort again — GDPR path, touched
    # partitions only, deleted ids never resurface
    del_stats = ivf_delete(
        spark, idx, drifted.select("vec_id"), "vec_id"
    )
    print(
        f"erase: {del_stats['n_deleted']} ids, "
        f"{del_stats['rewritten_partitions']} partitions rewritten, "
        f"{del_stats['emptied']} leaves emptied"
    )
    leaked = (
        ivf_search(spark, idx, query, k=10, nprobe=16)
        .filter(F.col("vec_id") >= 100000)
        .count()
    )
    print(f"erased ids surfacing in search: {leaked}")

    # 8. final recall vs exact brute force over the surviving corpus
    exact = topk_cosine(emb, query, k=5)
    approx = ivf_search(spark, idx, query, k=5, nprobe=16).select("vec_id")
    overlap = exact.join(approx, "vec_id", "semi").count()
    print(f"final recall vs exact: {overlap}/5")

    spark.stop()


if __name__ == "__main__":
    main()
