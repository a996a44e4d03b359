"""Scale probe: centroid-DRIFT detection (`ivf_drift`) at 10^6
vectors — the scheduling signal for full index re-fit, measured where
it matters: the corpus baseline must be paid ONCE (one pass over the
index), after which every drift check is O(batch).

Reuses the scale_probe_filtered_ivf mixture corpus (64 components).
Contracts (all asserted, results recorded in SCALEBENCH.json):

  1. verdict correctness at scale: a held-out 5% slice of the SAME
     mixture (spans every component) is NOT flagged; a same-size batch
     drawn from 8 NEW components (disjoint center seed — "new topics")
     IS flagged, with the distortion ratio doing the flagging (the
     per-vector quantizer loss explodes far from every frozen
     centroid).
  2. `baseline_cold_sec` vs `check_warm_sec`: the first call pays the
     index pass and persists (cluster, cnt, sum_dist) behind the
     content fingerprint; subsequent checks reuse it — the measured
     gap IS the avoided work (at 10^6: a full-corpus Arrow pass vs a
     50k-row one).
  3. steady-state cost is batch-sized: the warm check on the 50k batch
     must come in well under the cold one (floor asserted at 3x; the
     honest number is recorded, not the floor).

Usage: python tools/scale_probe_drift.py [n] [dim]
Writes `drift_n{total}` into SCALEBENCH.json.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scale_probe_filtered_ivf import (  # noqa: E402
    N_CLUSTERS,
    SEED,
    VERSION,
    corpus,
)
from scalebench import args, finish, timed  # noqa: E402

BATCH = 50_000
N_NEW_COMPONENTS = 8


def drifted_batch(spark, n: int, dim: int):
    """BATCH vectors from components the index has never seen: centers
    drawn with a DISJOINT seed — the "new topic burst" shape."""
    import numpy as np
    import pandas as pd

    centers = np.random.default_rng(SEED * 11 + 1).normal(
        size=(N_NEW_COMPONENTS, dim)
    )
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    centers *= math.sqrt(dim)
    base = spark.range(10_000_000, 10_000_000 + BATCH).toDF("vec_id")

    def gen(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            out = np.empty((len(ids), dim))
            for row, i in enumerate(ids):
                rng = np.random.default_rng(SEED * 13 + int(i))
                out[row] = centers[i % N_NEW_COMPONENTS] + rng.normal(
                    size=dim
                )
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "embedding": [r.astype(np.float32) for r in out],
                }
            )

    return base.mapInPandas(gen, "vec_id long, embedding array<float>")


def load_probe_frames(spark, n: int, dim: int):
    """(base, held_out, drifted) for the drift probe: the cached
    mixture corpus's base slice, and the two MATERIALIZED probe
    batches (a production drift check receives an arrival batch as its
    own table — deriving them lazily would bill a full-corpus filter
    scan to every timed call).  The base excludes the held slice.

    NOTE: the held-out slice must be COMPONENT-BLIND — vec_id % 20
    aliases with the 64-component mixture (gcd 4: the slice would
    cover only 16 components, a genuine mass relocation that ivf_drift
    correctly flags).  The id is hashed so the batch spans every
    component."""
    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.operators.materialize import reuse

    emb = corpus(spark, n, dim, {}).select("vec_id", "embedding")
    slice_col = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(20))
    base = emb.filter(slice_col != 7)
    want = {"n": n, "dim": dim, "seed": SEED, "version": VERSION}

    def held(stage: str) -> None:
        emb.filter(slice_col == 7).limit(BATCH).write.parquet(
            os.path.join(stage, "data")
        )

    def new(stage: str) -> None:
        drifted_batch(spark, n, dim).write.parquet(os.path.join(stage, "data"))

    frames = [base]
    for kind, build in (("probe-drift-held", held), ("probe-drift-new", new)):
        root, _, _ = reuse(kind, f"{n}x{dim}", want, build)
        frames.append(spark.read.parquet(os.path.join(root, "data")))
    return frames


def main() -> int:
    n, dim = args(1_000_000, 64)

    from compile_time_data_contracts_spark.operators.materialize import (
        reuse_dir,
    )
    from compile_time_data_contracts_spark.session import local_session

    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_build_or_reuse,
        ivf_drift,
    )

    spark = local_session("ctdc-scale-probe-drift", **{"spark.driver.memory": "16g"})

    results: dict = {
        "n": n, "dim": dim, "n_clusters": N_CLUSTERS, "batch": BATCH,
        "new_components": N_NEW_COMPONENTS,
    }
    with timed(results, "setup_sec"):
        base, held_out, drifted = load_probe_frames(spark, n, dim)
    # the index under watch: built on 95%, fingerprint-cached across
    # probe runs (drift never mutates it — only the baseline cache
    # inside it advances)
    idx = reuse_dir("probe-drift-idx", f"{n}x{dim}|v{VERSION}")
    with timed(results, "build_or_reuse_sec"):
        ivf_build_or_reuse(base, idx, n_clusters=N_CLUSTERS)

    # drop any previous run's baseline so cold cost is really measured
    import shutil

    shutil.rmtree(f"{idx}/drift_baseline", ignore_errors=True)

    with timed(results, "baseline_cold_sec"):
        d_cold = ivf_drift(spark, idx, held_out)
    assert not d_cold["reused_baseline"]
    assert not d_cold["needs_refit"], d_cold
    results["in_dist_ratio"] = round(d_cold["distortion_ratio"], 4)
    results["in_dist_tvd"] = round(d_cold["assignment_tvd"], 4)

    with timed(results, "check_warm_sec"):
        d_warm = ivf_drift(spark, idx, held_out)
    assert d_warm["reused_baseline"]
    assert not d_warm["needs_refit"], d_warm

    with timed(results, "drift_check_sec"):
        d_new = ivf_drift(spark, idx, drifted)
    assert d_new["reused_baseline"]
    assert d_new["needs_refit"], d_new
    assert d_new["distortion_ratio"] > 1.25, d_new
    results["drifted_ratio"] = round(d_new["distortion_ratio"], 4)
    results["drifted_tvd"] = round(d_new["assignment_tvd"], 4)

    speedup = results["baseline_cold_sec"] / max(
        results["check_warm_sec"], 1e-9
    )
    results["baseline_reuse_speedup"] = round(speedup, 1)
    assert speedup >= 3.0, results  # floor; the honest number is recorded

    results["ok"] = True
    return finish(spark, {f"drift_n{n}": results}, True)


if __name__ == "__main__":
    raise SystemExit(main())
