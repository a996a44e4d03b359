"""Scale probe for the above-broadcast similarity paths (VERDICT r2 #1).

At gate scale (sf0.1 = 2,000 x 64) every run of q49/q56 takes the
BLAS-broadcast branch, so `cosine_pairs_exact_blocked` and the LSH
auto-bits sizing never execute at representative n.  This probe runs
them at >= 100k x 64:

  1. generates a seeded synthetic embedding table (100k vectors, 64-dim,
     with 1,000 planted near-duplicate pairs at cosine >= ~0.95),
     built once per (n, dim) through `materialize.reuse` — the fixture
     tables have none this size,
  2. runs the `cosine_pairs` dispatcher with a lowered broadcast bound
     so it provably takes the block-grid path (plan-asserted:
     FlatMapGroupsInPandas cells, no full-matrix broadcast MapInPandas),
  3. runs `cosine_pairs_lsh` with bits=None and asserts the auto-sizing
     chose ceil(log2(n)) - 3 (not a constant),
  4. computes the q106-style recall contract: LSH pairs vs the exact
     blocked pairs at the same threshold — recall >= 0.9, precision 1
     (every LSH pair is exact-verified by construction),
  5. merges an entry into SCALEBENCH.json at the repo root (keyed
     `vectors_n{total}` so probes at several scales coexist) with wall
     times + the assertion results.

Above BLOCKED_MAX vectors (default 200k) the all-pairs exact path is
O(n^2) and would dominate the probe (~40 min at 1M on 32 cores), so
big-n runs switch the ground truth: recall is measured against the
PLANTED pairs directly, and precision is checked by independently
re-computing the exact cosine of a sample of emitted pairs in numpy
(the operator already exact-verifies every candidate; the sample is an
independent re-derivation, not a re-run of the same code path).

Usage: python tools/scale_probe.py [n_vectors] [dim]   (default 100000 64)
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scalebench import args, finish, timed  # noqa: E402

PLANTED_PAIRS = 1_000
THRESHOLD = 0.9
SEED = 20260813
# bump when generate() changes, so the cached corpus is rebuilt
VERSION = 2
# above this, the all-pairs exact block grid is O(n^2) and the probe
# switches to planted-pair recall + independent sample re-verification
BLOCKED_MAX = 200_000


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


N_COMPONENTS = 64


def generate(spark, path: str, n: int, dim: int) -> None:
    """Seeded MIXTURE-of-components vectors, fully distributed
    (spark.range + a vectorized batch transform — no driver-side
    matrix).  Real embedding corpora are clustered, not isotropic —
    vector i draws component i % 64 (unit center scaled so
    intra-component cosine sits near 0.5, far below the 0.9 pair
    threshold) plus unit gaussian noise; on pure isotropic noise every
    angle concentrates and NO coarse quantizer can localize neighbors,
    so an IVF recall probe on such data measures the data, not the
    index.  Vector i in [0, PLANTED_PAIRS) still gets a near-duplicate
    partner at id n + i (same vector + small noise, cosine ~0.99)."""
    import numpy as np
    import pandas as pd

    centers = np.random.default_rng(SEED * 3).normal(
        size=(N_COMPONENTS, dim)
    )
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    centers *= math.sqrt(dim)  # E[cos] within a component ~ d/(d+d) = 0.5

    base = spark.range(0, n + PLANTED_PAIRS).toDF("vec_id")

    def gen(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            out = np.empty((len(ids), dim))
            for row, i in enumerate(ids):
                src = i if i < n else i - n  # partner copies its source
                rng = np.random.default_rng(SEED + int(src))
                v = centers[src % N_COMPONENTS] + rng.normal(size=dim)
                if i >= n:  # planted near-duplicate: small perturbation
                    nrng = np.random.default_rng(SEED * 2 + int(src))
                    v = v + 0.18 * nrng.normal(size=dim)
                out[row] = v
            yield pd.DataFrame(
                {"vec_id": ids, "embedding": [r.astype(np.float32) for r in out]}
            )

    df = base.mapInPandas(gen, "vec_id long, embedding array<float>")
    df.write.mode("overwrite").parquet(path)


def main() -> int:
    n, dim = args(100_000, 64)

    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.operators.materialize import (
        reuse,
        scratch_dir,
    )
    from compile_time_data_contracts_spark.session import local_session
    from compile_time_data_contracts_spark.operators.similarity import (
        cosine_pairs,
        cosine_pairs_lsh,
        lsh_auto_bits,
    )

    spark = local_session("ctdc-scale-probe", **{"spark.driver.memory": "16g"})

    results: dict = {"n": n + PLANTED_PAIRS, "dim": dim, "threshold": THRESHOLD}

    def build(stage: str) -> None:
        with timed(results, "generate_sec"):
            generate(spark, os.path.join(stage, "data"), n, dim)

    want = {"n": n, "dim": dim, "seed": SEED, "version": VERSION}
    root, _, _ = reuse("probe-vectors", f"{n}x{dim}", want, build)
    emb = spark.read.parquet(os.path.join(root, "data"))
    total = emb.count()
    assert total == n + PLANTED_PAIRS

    big = total > BLOCKED_MAX
    results["mode"] = "planted_truth" if big else "exact_truth"

    exact_pairs: set | None = None
    planted_found = PLANTED_PAIRS
    if not big:
        # --- 1. exact block-grid path, forced below the broadcast bound
        with timed(results, "blocked_sec"):
            blocked = cosine_pairs(
                emb, THRESHOLD, max_broadcast_bytes=16 << 20, n=total,
                dim=dim,
            )
            plan = plan_of(blocked)
            results["blocked_plan_cells"] = "FlatMapGroupsInPandas" in plan
            results["blocked_plan_no_full_broadcast"] = (
                "MapInPandas" not in plan
            )
            exact_pairs = {
                (r.vec_a, r.vec_b) for r in blocked.collect()
            }
        results["exact_pairs"] = len(exact_pairs)
        # every planted pair must be found by the exact path (sanity: the
        # perturbation keeps planted cosine far above the threshold)
        planted_found = sum(
            1 for i in range(PLANTED_PAIRS) if (i, n + i) in exact_pairs
        )
        results["planted_recovered_exact"] = planted_found

    # --- 2. LSH auto-bits at representative n ---------------------------
    # the operator sizes buckets with this same function when bits=None;
    # assert it scales with n rather than sitting at the toy-scale 8
    chosen_bits = lsh_auto_bits(total)
    results["auto_bits_chosen"] = chosen_bits
    results["auto_bits_expected"] = min(
        20, max(6, math.ceil(math.log2(total)) - 3)
    )
    results["auto_bits_scales"] = chosen_bits > 8
    with timed(results, "lsh_sec"):
        lsh = cosine_pairs_lsh(
            emb, THRESHOLD, bits=None, tables=16, probes="auto", dim=dim
        )
        lsh_pairs = {(r.vec_a, r.vec_b) for r in lsh.collect()}
    results["lsh_pairs"] = len(lsh_pairs)

    # --- 3. recall contract (q106-style) --------------------------------
    if not big:
        # ground truth = the exact blocked pairs
        if exact_pairs:
            hit = len(lsh_pairs & exact_pairs)
            recall = hit / len(exact_pairs)
        else:
            recall = 1.0
        precision_violations = len(lsh_pairs - exact_pairs)
    else:
        # ground truth = the planted construction; precision checked by
        # independently re-computing cosines of a sample of emitted
        # pairs in numpy (not the operator's own verify path)
        import numpy as np

        planted = {(i, n + i) for i in range(PLANTED_PAIRS)}
        recall = len(lsh_pairs & planted) / PLANTED_PAIRS
        results["unplanted_pairs"] = len(lsh_pairs - planted)

        sample = sorted(lsh_pairs)[:2000]
        ids = sorted({i for p in sample for i in p})
        vec_rows = (
            emb.filter(F.col("vec_id").isin(ids))
            .select("vec_id", "embedding")
            .collect()
        )
        vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in vec_rows}
        precision_violations = 0
        for a, b in sample:
            va, vb = vecs[a], vecs[b]
            cos = float(va @ vb) / (
                float(np.linalg.norm(va)) * float(np.linalg.norm(vb))
            )
            if cos < THRESHOLD - 1e-9:
                precision_violations += 1
        results["sample_verified_pairs"] = len(sample)
    results["recall"] = round(recall, 4)
    results["precision_violations"] = precision_violations

    # --- 4. IVF build/search at representative n ------------------------
    import re

    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_build,
        ivf_search,
        topk_cosine,
    )

    idx = scratch_dir("ctdc-probe-ivf-")
    with timed(results, "ivf_build_sec"):
        ivf_build(emb, idx, n_clusters=256, sample_size=20000)
    query = emb.filter(F.col("vec_id") == 0)
    with timed(results, "ivf_search_sec"):
        approx = ivf_search(spark, idx, query, k=10, nprobe=16)
        approx_plan = plan_of(approx)
        approx_ids = [r.vec_id for r in approx.collect()]
    results["ivf_partition_pruned"] = bool(
        re.search(r"PartitionFilters: \[[^\]]*cluster", approx_plan)
    )
    with timed(results, "exact_topk_sec"):
        exact_ids = [r.vec_id for r in topk_cosine(emb, query, k=10).collect()]
    results["ivf_recall_at_10"] = round(
        len(set(approx_ids) & set(exact_ids)) / 10.0, 2
    )

    # --- 4b. PQ compressed-domain ANN at representative n ----------------
    # same query + exact ground truth as the IVF section: train on a
    # bounded sample, encode the corpus once (Arrow pass), ADC-scan the
    # m-byte codes JVM-side, exact-rerank 1000 candidates.  Standard
    # 8-bit PQ (ksub=256): the gate-scale q151 runs ksub=16 because its
    # corpus is 1k vectors; at 10^5-10^6 the clustered corpus has many
    # near-tied neighbors and 4-bit codebooks can't separate them
    from compile_time_data_contracts_spark.operators.similarity import (
        pq_topk,
    )

    # m scales with corpus size: a 10^6-row clustered corpus packs
    # ~15k near-tied neighbors into the query's component, so ranking
    # inside those tiny cosine gaps needs 4-dim subquantizers (m=16,
    # 16 B/vector — still 16x smaller than float32) and a deeper
    # rerank; at 10^5 the 8-byte m=8 code suffices
    pq_m = 16 if big else 8
    pq_rerank = 2000 if big else 1000
    with timed(results, "pq_search_sec"):
        pq_ids = [
            r.vec_id
            for r in pq_topk(
                emb, query, k=10, m=pq_m, ksub=256, rerank=pq_rerank
            ).collect()
        ]
    results["pq_m"] = pq_m
    results["pq_rerank"] = pq_rerank
    results["pq_recall_at_10"] = round(
        len(set(pq_ids) & set(exact_ids)) / 10.0, 2
    )

    # --- 5. SemDeDup at representative cluster sizes ---------------------
    # the generator's mixture component IS the coarse-quantizer label
    # (vector i draws component src % 64, its planted partner shares it),
    # so the contract is exact: every planted partner (id >= n, higher id
    # than its source, same cluster, cosine ~0.99) must drop and every
    # original must survive.  At n=10^6 the 64 clusters hold ~15.6k
    # vectors each — exactly the regime the chunked triangular scan's
    # memory bound exists for.
    from compile_time_data_contracts_spark.operators.dedup import (
        semantic_dedup,
    )

    labeled = emb.withColumn(
        "label",
        F.when(F.col("vec_id") < n, F.pmod(F.col("vec_id"), F.lit(64)))
        .otherwise(F.pmod(F.col("vec_id") - n, F.lit(64)))
        .cast("int"),
    )
    with timed(results, "semdedup_sec"):
        kept = semantic_dedup(labeled, threshold=THRESHOLD)
        n_kept = kept.count()
    results["semdedup_kept"] = n_kept
    planted_dropped = total - n_kept
    results["semdedup_dropped"] = planted_dropped
    kept_partners = kept.filter(F.col("vec_id") >= n).count()
    results["semdedup_partner_survivors"] = kept_partners

    ok = (
        n_kept == n
        and kept_partners == 0
        and
        results["auto_bits_scales"]
        and chosen_bits == results["auto_bits_expected"]
        and planted_found == PLANTED_PAIRS
        and recall >= 0.9
        and precision_violations == 0
        and results["ivf_partition_pruned"]
        and results["ivf_recall_at_10"] >= 0.8
        and results["pq_recall_at_10"] >= 0.8
    )
    if not big:
        ok = (
            ok
            and results["blocked_plan_cells"]
            and results["blocked_plan_no_full_broadcast"]
        )
    results["ok"] = ok
    return finish(spark, {f"vectors_n{total}": results}, ok)


if __name__ == "__main__":
    raise SystemExit(main())
