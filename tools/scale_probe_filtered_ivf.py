"""Scale probe: label-FILTERED IVF search (the q376 path) at 10^6
vectors with planted ground truth that distinguishes in-candidate
filtering from post-filtering.

Corpus: 10^6 mixture-of-components vectors (the scale_probe.py
recipe — clustered, not isotropic) with label = vec_id % 10, plus two
planted families around vector 0 (label 0):

  * 10 IN-LABEL plants (ids n..n+9, label 0, cosine ~0.97 to v0) —
    the true filtered top-10;
  * 10 DECOY plants (ids n+10..n+19, label 1, cosine ~0.997 to v0 —
    strictly CLOSER than every in-label plant) — these dominate the
    unfiltered top-k, so an implementation that post-filters a global
    top-k would return almost nothing for label 0.

Contracts (all asserted, results recorded in SCALEBENCH.json):

  1. `filtered_recall` = 1.0: `ivf_search(filters={"label": 0})`
     against an index built with ``meta_cols=("label",)`` recovers all
     10 in-label plants (k=11 window: query + 10 plants).
  2. `post_filter_would_return`: the number of label-0 vectors inside
     the exact UNFILTERED top-11 (expected 1 — the query itself).
     This is the starvation a post-filter design would ship.
  3. Plan: the probed scan's PartitionFilters carry BOTH axes —
     `cluster` (nprobe cells) and `label` (one value) — so the cut is
     directory-level on both; no unfiltered candidate generation.
  4. Directory math, MEASURED: the cluster ids are parsed out of the
     executed plan's PartitionFilters and the surviving
     (cluster=c, label=0) directories counted on disk — recorded as
     `dirs_probed` (must be in (0, nprobe]) next to `dirs_total`;
     a regression to post-read label filtering would flip `ok`.

Usage: python tools/scale_probe_filtered_ivf.py [n] [dim]
Writes `filtered_ivf_n{total}` into SCALEBENCH.json.
"""

from __future__ import annotations

import math
import os
import re
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scalebench import args, finish, timed  # noqa: E402

SEED = 20260816
# bump when generate() changes: the cached corpus and the shared index
# built from it are then rebuilt
VERSION = 1
N_COMPONENTS = 64
N_LABELS = 10
N_CLUSTERS = 256
NPROBE = 16
N_PLANTS = 10


def generate(spark, path: str, n: int, dim: int) -> None:
    import numpy as np
    import pandas as pd

    centers = np.random.default_rng(SEED * 3).normal(
        size=(N_COMPONENTS, dim)
    )
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    centers *= math.sqrt(dim)

    base = spark.range(0, n + 2 * N_PLANTS).toDF("vec_id")

    def gen(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            out = np.empty((len(ids), dim))
            labels = np.empty(len(ids), dtype=np.int32)
            v0 = centers[0] + np.random.default_rng(SEED).normal(size=dim)
            for row, i in enumerate(ids):
                if i < n:
                    rng = np.random.default_rng(SEED + int(i))
                    out[row] = centers[i % N_COMPONENTS] + rng.normal(
                        size=dim
                    )
                    labels[row] = i % N_LABELS
                elif i < n + N_PLANTS:  # in-label plant: label 0
                    prng = np.random.default_rng(SEED * 5 + int(i))
                    out[row] = v0 + 0.20 * prng.normal(size=dim)
                    labels[row] = 0
                else:  # decoy plant: closer, but label 1
                    prng = np.random.default_rng(SEED * 7 + int(i))
                    out[row] = v0 + 0.06 * prng.normal(size=dim)
                    labels[row] = 1
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "embedding": [r.astype(np.float32) for r in out],
                    "label": labels,
                }
            )

    base.mapInPandas(
        gen, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(path)


def corpus(spark, n: int, dim: int, results: dict):
    """The mixture corpus (n vectors plus both plant families), built
    once per (n, dim, generator version); ``results["generate_sec"]``
    records a build."""
    from compile_time_data_contracts_spark.operators.materialize import reuse

    def build(stage: str) -> None:
        with timed(results, "generate_sec"):
            generate(spark, os.path.join(stage, "data"), n, dim)

    want = {"n": n, "dim": dim, "seed": SEED, "version": VERSION}
    root, _, _ = reuse("probe-fivf", f"{n}x{dim}", want, build)
    return spark.read.parquet(os.path.join(root, "data"))


def index_path(n: int, dim: int) -> str:
    """The (cluster, label) IVF index over :func:`corpus`, shared by the
    filtered, batch and PQ probes."""
    from compile_time_data_contracts_spark.operators.materialize import (
        reuse_dir,
    )

    return reuse_dir("probe-fivf-idx", f"{n}x{dim}|v{VERSION}")


def cluster_ids(pf_text: str) -> list[int]:
    """The cluster ids a plan's PartitionFilters text keeps."""
    found = re.search(r"cluster#\d+ (?:INSET ([0-9, ]+)|IN \(([0-9, ]*)\))", pf_text)
    if not found:
        return []
    return [int(x) for x in (found.group(1) or found.group(2)).split(",") if x.strip()]


def main() -> int:
    n, dim = args(1_000_000, 64)

    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_build,
        ivf_search,
        topk_cosine,
    )
    from compile_time_data_contracts_spark.session import local_session

    spark = local_session(
        "ctdc-scale-probe-filtered-ivf",
        **{
            "spark.driver.memory": "16g",
            # default 100-char metadata truncation would cut the INSET
            # list out of PartitionFilters before dirs_probed can parse it
            "spark.sql.maxMetadataStringLength": "100000",
        },
    )

    total = n + 2 * N_PLANTS
    results: dict = {
        "n": total,
        "dim": dim,
        "n_labels": N_LABELS,
        "n_clusters": N_CLUSTERS,
        "nprobe": NPROBE,
    }
    emb = corpus(spark, n, dim, results)
    assert emb.count() == total

    # --- index build: partitioned by (cluster, label) --------------------
    idx = index_path(n, dim)
    shutil.rmtree(idx, ignore_errors=True)
    with timed(results, "build_sec"):
        ivf_build(
            emb, idx, n_clusters=N_CLUSTERS, sample_size=20000,
            meta_cols=("label",),
        )
    leaf_dirs = 0
    for cdir in os.listdir(f"{idx}/vectors"):
        if cdir.startswith("cluster="):
            leaf_dirs += sum(
                1
                for ldir in os.listdir(f"{idx}/vectors/{cdir}")
                if ldir.startswith("label=")
            )
    results["dirs_total"] = leaf_dirs

    # --- filtered search: must recover the in-label plants ---------------
    query = emb.filter(F.col("vec_id") == n)  # an in-label plant near v0
    with timed(results, "filtered_search_sec"):
        approx = ivf_search(
            spark, idx, query, k=N_PLANTS + 1, nprobe=NPROBE,
            filters={"label": 0},
        )
        plan = approx._jdf.queryExecution().executedPlan().toString()
        approx_ids = {r.vec_id for r in approx.collect()}

    planted = set(range(n, n + N_PLANTS))
    results["filtered_recall"] = round(
        len(approx_ids & planted) / N_PLANTS, 2
    )
    pf = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
    pf_text = pf.group(0) if pf else ""
    results["plan_prunes_cluster"] = "cluster" in pf_text
    results["plan_prunes_label"] = "label" in pf_text
    # MEASURED probed-directory count (not the nprobe x 1 assumption):
    # the cluster ids come out of the executed plan's own partition
    # filter, then each surviving (cluster=c, label=0) directory is
    # checked on disk — if label pruning regressed to a post-read
    # filter, this count would jump to nprobe x |labels| and `ok` flips
    results["dirs_probed"] = sum(
        1
        for c in cluster_ids(pf_text)
        if os.path.isdir(f"{idx}/vectors/cluster={c}/label=0")
    )

    # --- exact ground truth + the post-filter starvation count -----------
    with timed(results, "exact_filtered_sec"):
        exact_filtered = {
            r.vec_id
            for r in topk_cosine(
                emb.filter(F.col("label") == 0), query, k=N_PLANTS + 1
            ).collect()
        }
    results["exact_match"] = approx_ids == exact_filtered

    unfiltered_top = topk_cosine(emb, query, k=N_PLANTS + 1)
    lbl = {r.vec_id: r.label for r in emb.filter(
        F.col("vec_id") >= n
    ).select("vec_id", "label").collect()}
    post = [
        r.vec_id
        for r in unfiltered_top.collect()
        if lbl.get(r.vec_id, r.vec_id % N_LABELS) == 0
    ]
    results["post_filter_would_return"] = len(post)

    ok = (
        results["filtered_recall"] >= 0.9
        and results["plan_prunes_cluster"]
        and results["plan_prunes_label"]
        and results["exact_match"]
        and results["post_filter_would_return"] <= 2
        and 0 < results["dirs_probed"] <= NPROBE
    )
    results["ok"] = bool(ok)
    return finish(spark, {f"filtered_ivf_n{total}": results}, ok)


if __name__ == "__main__":
    raise SystemExit(main())
