"""Hot-key skew probe for connected_components_star (round-11 VERDICT
item 3): star contraction concentrates a component's edges onto its
root, so the neighborhood-min step must survive a single node with 10^6
neighbors without buffering the whole neighborhood in one window task.

Two synthetic graphs, both one giant star + a control chain:

  * lowroot  — hub id 0 with N leaves: after symmetrization the hub owns
    an N-row group in the LARGE-star min (the partition the r10 window
    form buffered in one task; the r11 partial-agg groupBy + equi-join
    form map-side-combines it to one row per map task).
  * highroot — hub id N+1 with N smaller leaves: large-star emits N rows
    keyed by the hub, stressing the SMALL-star min in the first
    alternation.  Above ``windowed_min_max_edges`` the skew-safe branch
    takes BOTH star mins with a partial-agg groupBy + equi-join, so
    neither phase buffers the hub's neighborhood in one window task.

Both graphs' pairs are small enough (16 bytes a pair row: ~16 MB at
10^6 leaves) to finish on the driver under a 64 MB broadcast threshold,
which would skip the star rounds this probe compares.  The session
therefore sets ``spark.sql.autoBroadcastJoinThreshold=-1``, which forces
the distributed rounds, and keeps the 64 MB bound for the joins AQE
re-plans at run time through ``spark.sql.adaptive.autoBroadcastJoinThreshold``.

Asserts the exact labeling (every node -> component min) and writes
timings to SCALEBENCH.json as cc_hotkey_{lowroot,highroot}_n{N}.

Usage: python tools/scale_probe_cc_hotkey.py [n_leaves]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scalebench import args, finish, timed  # noqa: E402


def main() -> int:
    (n,) = args(1_000_000)

    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.session import local_session
    from compile_time_data_contracts_spark.operators.dedup import (
        connected_components_star,
    )

    spark = local_session(
        "ctdc-scale-probe-cc-hotkey",
        **{
            "spark.sql.adaptive.coalescePartitions.enabled": "true",
            # -1 forces the star rounds (see the module docstring)
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "64MB",
            "spark.driver.memory": "16g",
            "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
        },
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # a 64-node chain rides along so the probe also exercises multiple
    # alternations, not just the one-round star collapse
    chain_lo = 10 * n
    chain = spark.range(chain_lo, chain_lo + 63).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )

    results: dict[str, dict] = {}
    for kind in ("lowroot", "highroot"):
        if kind == "lowroot":
            hub, leaves = 0, spark.range(1, n + 1)
            comp_min = 0
        else:
            hub, leaves = n + 1, spark.range(1, n + 1)
            comp_min = 1
        star = leaves.select(
            F.lit(hub).cast("long").alias("doc_a"),
            F.col("id").alias("doc_b"),
        )
        pairs = star.union(chain)
        results[kind] = {"n_leaves": n, "cpus": spark.sparkContext.defaultParallelism}
        # default (adaptive: n_edges > 1M -> skew-safe agg+join) vs the
        # r10 window form forced via an unreachable threshold — the
        # contrast the round-10 verdict asked the probe to demonstrate
        for strat, threshold in (
            ("skew_safe", 1_000_000),
            ("window", 1 << 60),
        ):
            spark.sparkContext.setJobDescription(
                f"cc-hotkey {kind} {strat} n={n}"
            )
            with timed(results[kind], f"sec_{strat}"):
                labels = connected_components_star(
                    pairs, windowed_min_max_edges=threshold
                )
                row = labels.agg(
                    F.count("*").alias("n_nodes"),
                    F.sum(
                        (F.col("cluster_id") == F.lit(comp_min)).cast("long")
                    ).alias("n_in_star"),
                    F.countDistinct("cluster_id").alias("n_components"),
                ).first()
            # star (n leaves + hub) + chain (64 nodes) = n + 65 nodes,
            # 2 components
            assert row["n_nodes"] == n + 65, row
            assert row["n_in_star"] == n + 1, row
            assert row["n_components"] == 2, row

    return finish(
        spark,
        {f"cc_hotkey_{kind}_n{n}": res for kind, res in results.items()},
        True,
    )


if __name__ == "__main__":
    sys.exit(main())
