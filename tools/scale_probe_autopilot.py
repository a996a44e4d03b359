"""Scale probe: the index AUTOPILOT (`ivf_maintain`) at 10^6 vectors —
the drift-measured append-or-refit decision, timed end to end.

Reuses the scale_probe_filtered_ivf mixture corpus and the
scale_probe_drift batch shapes.  Contracts (all asserted, results in
SCALEBENCH.json):

  1. in-distribution batches take the APPEND path; the first call pays
     the one-time baseline pass over the index (`append_cold_sec`),
     after which the whole call — drift check, frozen-centroid append,
     exact baseline advance, compact-or-skip — stays batch-sized
     (`append_warm_sec`).  Both append batches are FULL BATCH-sized
     (two held-out slices, hash-halved), so the speedup vs the rebuild
     compares EQUAL batch sizes — measured honestly at 2.0x for a 50k
     batch against a 10^6 corpus (floor 1.5 at n >= 5x10^5).  The
     advantage scales with corpus/batch: the re-fit reads and rewrites
     the full corpus (O(n)) while the append touches O(batch) + fixed
     per-call costs (drift check, one partitioned write across the
     touched leaves), so at a production 10^9-vector index the same
     50k batch sees ~1000x the work ratio this probe can exercise;
  2. a 50k new-topic batch takes the REBUILD path (`rebuild_sec` —
     the honest full re-fit price at 10^6, paid only when the
     detector fires);
  3. closure: the drifted batch re-checked against the re-fit index
     is in-distribution (ratio recorded);
  4. a drifted-region query finds its neighbors through the re-fit
     index (the re-fit actually bought recall in the new region).

Usage: python tools/scale_probe_autopilot.py [n] [dim]
Writes `autopilot_n{n}` into SCALEBENCH.json.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scale_probe_drift import BATCH, load_probe_frames  # noqa: E402
from scale_probe_filtered_ivf import N_CLUSTERS  # noqa: E402
from scalebench import merge_entry  # noqa: E402


def main(n: int = 1_000_000, dim: int = 64) -> None:
    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.session import local_session
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_build,
        ivf_drift,
        ivf_maintain,
        ivf_search,
    )

    spark = local_session(
        "ctdc-scale-probe-autopilot",
        **{"spark.driver.memory": "16g"},
    )

    results: dict = {
        "n": n, "dim": dim, "n_clusters": N_CLUSTERS, "batch": BATCH,
    }
    # two held slices -> two FULL-SIZE append batches, so the
    # published append-vs-rebuild speedup compares equal batch sizes
    _emb, base, held_out, drifted = load_probe_frames(
        spark, n, dim, held_slices=2
    )

    # the autopilot mutates its index, so this probe builds fresh each
    # run — that build is itself the first measured number
    idx = f"/tmp/ctdc-scale-probe-autopilot-{n}x{dim}"
    shutil.rmtree(idx, ignore_errors=True)
    t0 = time.perf_counter()
    ivf_build(base, idx, n_clusters=N_CLUSTERS)
    results["build_sec"] = round(time.perf_counter() - t0, 2)

    # two FULL-SIZE appends: the first pays the one-time baseline pass
    # over the index; the second is the steady-state O(batch) shape.
    # Split on the id HASH — raw parity aliases with the 64-component
    # mixture (even ids -> even components only: a genuine mass
    # relocation the detector would rightly flag)
    def _verdict(d: dict) -> dict:
        return {k: v for k, v in d.items() if not k.endswith("_rows")}

    split = F.pmod(F.xxhash64(F.col("vec_id"), F.lit(1)), F.lit(2))
    half_a = held_out.filter(split == 0)
    half_b = held_out.filter(split == 1)
    results["append_batch_rows"] = half_b.count()
    t0 = time.perf_counter()
    r1 = ivf_maintain(spark, idx, half_a)
    results["append_cold_sec"] = round(time.perf_counter() - t0, 2)
    assert r1["action"] == "append", _verdict(r1["drift"])
    t0 = time.perf_counter()
    r1b = ivf_maintain(spark, idx, half_b)
    results["append_warm_sec"] = round(time.perf_counter() - t0, 2)
    assert r1b["action"] == "append", _verdict(r1b["drift"])
    assert r1b["drift"]["reused_baseline"], _verdict(r1b["drift"])
    results["append_ratio"] = round(r1b["drift"]["distortion_ratio"], 4)
    results["append_tvd"] = round(r1b["drift"]["assignment_tvd"], 4)

    t0 = time.perf_counter()
    r2 = ivf_maintain(spark, idx, drifted)
    results["rebuild_sec"] = round(time.perf_counter() - t0, 2)
    assert r2["action"] == "rebuild", _verdict(r2["drift"])
    results["rebuild_trigger_ratio"] = round(
        r2["drift"]["distortion_ratio"], 4
    )

    d3 = ivf_drift(spark, idx, drifted)
    results["closure_ratio"] = round(d3["distortion_ratio"], 4)
    assert not (d3["distortion_ratio"] > 1.25), d3

    # the re-fit bought recall in the new region: a drifted query's
    # neighbors are drifted ids (ids >= 10^7 by construction)
    q = drifted.limit(1)
    hits = ivf_search(spark, idx, q, k=10, nprobe=16).collect()
    assert hits, "post-refit search returned no rows"
    frac_new = sum(1 for h in hits if h.vec_id >= 10_000_000) / len(hits)
    results["drifted_query_newid_frac"] = round(frac_new, 2)
    assert frac_new >= 0.9, hits

    speedup = results["rebuild_sec"] / max(results["append_warm_sec"], 1e-9)
    results["append_vs_rebuild_speedup"] = round(speedup, 1)
    # the honest equal-batch-size comparison: at corpus/batch = 20
    # (10^6 / 50k) the O(n) re-fit is only ~20x the append's O(batch)
    # data work and fixed per-call costs dominate the append, so the
    # floor is deliberately modest; the advantage regime grows
    # linearly with corpus/batch (see module docstring)
    results["corpus_to_batch_ratio"] = round(
        n / max(results.get("append_batch_rows", BATCH), 1), 1
    )
    if n >= 500_000:
        assert speedup >= 1.5, results

    results["ok"] = True
    merge_entry(f"autopilot_n{n}", results)
    print(results)


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    main(n, dim)
