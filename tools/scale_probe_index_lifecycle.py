"""Scale probe: ANN index LIFECYCLE at 10^6 vectors — incremental
append (`pq_append`) and cohort erasure (`ivf_delete`) against a
persisted IVF-PQ index, with MEASURED avoided-work numbers.

Reuses the scale_probe_filtered_ivf corpus (mixture-of-components,
label = vec_id % 10).  The probe builds its OWN index each run (the
whole point is to measure build vs append vs delete on the same data),
at 256 cells x 10 labels x m=8/ksub=256 — the production shape.

Contracts (all asserted, results recorded in SCALEBENCH.json):

  1. `append_speedup_vs_rebuild`: appending the held-out 5% slice
     (frozen centroids + frozen codebooks, touched-partition-only file
     appends on BOTH layers) must beat the measured full rebuild —
     this is the daily-ingest argument, measured not asserted.
  2. `append_code_dirs_touched` / `dirs_total`: how many code leaf
     directories the append actually wrote, counted from on-disk
     mtimes.  A 5% slice spread over every component touches many
     cells, but every file it adds is batch-sized — the number to
     watch is rebuild bytes vs append bytes, recorded as the file
     counts.
  3. append correctness: an appended vector is its own nearest
     neighbor through the compressed composite, and a full batch
     search recalls the exact top-10 for a post-append query.
  4. `delete_partitions_rewritten` / partitions_total: the erasure
     cohort lives in ONE mixture component, so `ivf_delete` rewrites
     a small fraction of (cluster, label) partitions — measured from
     the operator's own stats AND cross-checked against on-disk dirs.
  5. delete correctness: no deleted id survives a post-delete search
     aimed straight at the deleted component; survivor recall vs
     brute force over the surviving corpus holds.

Usage: python tools/scale_probe_index_lifecycle.py [n] [dim]
Writes `index_lifecycle_n{total}` into SCALEBENCH.json.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scale_probe_filtered_ivf import (  # noqa: E402
    N_CLUSTERS,
    N_PLANTS,
    corpus,
)
from scalebench import args, finish, timed  # noqa: E402

M = 8
KSUB = 256
NPROBE = 16
K = 10
RERANK = 5000
RECALL_FLOOR = 0.8


def _leaf_dirs(root: str) -> dict:
    """{leaf_dir: {file: (size, mtime_ns)}} for every dir with files."""
    state: dict = {}
    for dirpath, _, files in os.walk(root):
        pq = {
            f: (lambda st: (st.st_size, st.st_mtime_ns))(
                os.stat(os.path.join(dirpath, f))
            )
            for f in files
            if f.endswith(".parquet")
        }
        if pq:
            state[dirpath] = pq
    return state


def main() -> int:
    n, dim = args(1_000_000, 64)

    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.operators.materialize import (
        scratch_dir,
    )
    from compile_time_data_contracts_spark.session import local_session
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_delete,
        ivf_pq_build_or_reuse,
        ivf_pq_topk,
        pq_append,
        topk_cosine,
    )

    spark = local_session(
        "ctdc-scale-probe-lifecycle",
        **{"spark.driver.memory": "16g"},
    )

    total = n + 2 * N_PLANTS
    results: dict = {
        "n": total, "dim": dim, "n_clusters": N_CLUSTERS, "m": M,
        "ksub": KSUB, "nprobe": NPROBE, "k": K, "rerank": RERANK,
    }
    emb = corpus(spark, n, dim, results)
    idx = scratch_dir("ctdc-probe-lifecycle-")  # lifecycle measured fresh

    # ---- 1. build on 95% (every vec_id % 20 != 7), measured
    base = emb.filter(F.pmod(F.col("vec_id"), F.lit(20)) != 7)
    newbies = emb.filter(F.pmod(F.col("vec_id"), F.lit(20)) == 7)
    with timed(results, "build_sec"):
        ivf_pq_build_or_reuse(
            base, idx, n_clusters=N_CLUSTERS, m=M, ksub=KSUB,
            meta_cols=("label",),
        )

    before = _leaf_dirs(f"{idx}/pq/codes")
    results["dirs_total"] = len(before)
    results["build_files"] = sum(len(v) for v in before.values())

    # ---- 2. append the held-out 5%, measured
    with timed(results, "append_sec"):
        pq_append(spark, idx, newbies)
    after = _leaf_dirs(f"{idx}/pq/codes")
    results["append_code_dirs_touched"] = sum(
        1 for d in after if after[d] != before.get(d)
    )
    results["append_files_added"] = sum(
        len(v) for v in after.values()
    ) - results["build_files"]
    results["append_speedup_vs_rebuild"] = round(
        results["build_sec"] / results["append_sec"], 1
    )

    # ---- 3. append correctness: an appended id is its own nearest
    # neighbor through the composite, and post-append recall holds
    probe_id = 7  # 7 % 20 == 7 -> lives in the appended slice
    qdf = emb.filter(F.col("vec_id") == probe_id)
    with timed(results, "post_append_search_sec"):
        got = ivf_pq_topk(
            emb, qdf, k=K, n_clusters=N_CLUSTERS, nprobe=NPROBE, m=M,
            ksub=KSUB, rerank=RERANK, index_path=idx,
            meta_cols=("label",),
        ).collect()
    self_hit = bool(got) and got[0].vec_id == probe_id
    exact = {
        r.vec_id for r in topk_cosine(emb, qdf, k=K).collect()
    }
    results["post_append_recall"] = round(
        len({r.vec_id for r in got} & exact) / len(exact), 2
    )
    results["appended_id_self_hit"] = self_hit

    # ---- 4. erase a component-local cohort, measured
    # component = vec_id % 64: component 3 clusters together, so the
    # touched partition list is a small fraction of 256 x 10 leaves
    cohort = emb.filter(
        (F.pmod(F.col("vec_id"), F.lit(64)) == 3)
        & (F.col("vec_id") < 64 * 2000)
    ).select("vec_id")
    n_cohort = cohort.count()
    results["delete_cohort_size"] = int(n_cohort)
    with timed(results, "delete_sec"):
        stats = ivf_delete(spark, idx, cohort)
    results["delete_n_deleted"] = stats["n_deleted"]
    results["delete_partitions_rewritten"] = stats["rewritten_partitions"]
    results["delete_partitions_fraction"] = round(
        stats["rewritten_partitions"] / max(results["dirs_total"], 1), 4
    )

    # ---- 5. delete correctness: aim a search straight at the deleted
    # component; no deleted id may surface, survivor recall holds
    victim = 3 + 64 * 5  # a deleted id; its neighbors are its component
    vq = emb.filter(F.col("vec_id") == victim)
    surv = emb.filter(
        ~(
            (F.pmod(F.col("vec_id"), F.lit(64)) == 3)
            & (F.col("vec_id") < 64 * 2000)
        )
    )
    got2 = ivf_pq_topk(
        surv, vq, k=K, n_clusters=N_CLUSTERS, nprobe=NPROBE, m=M,
        ksub=KSUB, rerank=RERANK, index_path=idx, meta_cols=("label",),
    ).collect()
    got2_ids = {r.vec_id for r in got2}
    doomed_seen = sum(
        1 for i in got2_ids if i % 64 == 3 and i < 64 * 2000
    )
    exact2 = {r.vec_id for r in topk_cosine(surv, vq, k=K).collect()}
    results["post_delete_recall"] = round(
        len(got2_ids & exact2) / len(exact2), 2
    )
    results["post_delete_doomed_seen"] = int(doomed_seen)

    ok = (
        results["append_speedup_vs_rebuild"] > 1
        and self_hit
        and results["post_append_recall"] >= RECALL_FLOOR
        and results["delete_n_deleted"] == n_cohort
        and results["delete_partitions_fraction"] < 0.25
        and doomed_seen == 0
        and results["post_delete_recall"] >= RECALL_FLOOR
    )
    results["ok"] = bool(ok)
    return finish(spark, {f"index_lifecycle_n{total}": results}, ok)


if __name__ == "__main__":
    raise SystemExit(main())
