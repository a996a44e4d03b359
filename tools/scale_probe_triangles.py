"""Triangle-count probe: `triangle_count` at 2.2M edges with EXACT
known ground truth.

Construction (fully distributed, no driver data): n_cliques disjoint
K5 cliques (10 edges, 10 triangles each) chained by single bridge
edges between consecutive cliques.  A bridge joins two vertices whose
other neighbors are disjoint, so bridges add edges but ZERO triangles:
ground truth is exactly 10·n_cliques triangles over
10·n_cliques + (n_cliques−1) edges.

Checks: exact triangle count, exact edge count after cleaning (the
generator also emits each clique edge REVERSED — 2× raw rows — to
prove canonicalization), wall time.  The degree-ordered orientation
bounds the wedge join at O(m^1.5) on any graph; here degrees are
uniform (4–6) so the probe stresses volume, while the unit test suite
pins correctness on adversarial shapes.  Merges ``triangles_n{N}``
into SCALEBENCH.json.

Usage: python tools/scale_probe_triangles.py [n_cliques] (default 200000)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

N_DEFAULT = 200_000


def main() -> None:
    n_cliques = int(sys.argv[1]) if len(sys.argv) > 1 else N_DEFAULT

    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.session import local_session
    from compile_time_data_contracts_spark.operators.graph import (
        triangle_count,
    )

    spark = local_session(
        "ctdc-scale-probe-triangles",
        **{"spark.driver.memory": "16g"},
    )

    # clique c occupies vertices 5c..5c+4; all 10 edges per clique,
    # emitted BOTH directions (canonicalization must halve them);
    # bridge: vertex 5c+4 -> 5(c+1)
    cl = spark.range(0, n_cliques).toDF("c")
    pairs = [(i, j) for i in range(5) for j in range(5) if i != j]
    pair_col = F.array(
        *[F.struct(F.lit(i).alias("i"), F.lit(j).alias("j")) for i, j in pairs]
    )
    clique_edges = (
        cl.select("c", F.explode(pair_col).alias("p"))
        .select(
            (F.col("c") * 5 + F.col("p.i")).alias("src"),
            (F.col("c") * 5 + F.col("p.j")).alias("dst"),
        )
    )
    bridges = (
        spark.range(0, n_cliques - 1)
        .toDF("c")
        .select(
            (F.col("c") * 5 + 4).alias("src"),
            ((F.col("c") + 1) * 5).alias("dst"),
        )
    )
    edges = clique_edges.unionAll(bridges)

    want_edges = 10 * n_cliques + (n_cliques - 1)
    want_tris = 10 * n_cliques

    t0 = time.perf_counter()
    r = triangle_count(edges).collect()[0]
    dt = round(time.perf_counter() - t0, 2)

    results = {
        "n_cliques": n_cliques,
        "raw_edge_rows": 20 * n_cliques + (n_cliques - 1),
        "n_edges": int(r.n_edges),
        "expected_edges": want_edges,
        "n_wedges": int(r.n_wedges),
        "n_triangles": int(r.n_triangles),
        "expected_triangles": want_tris,
        "count_sec": dt,
    }
    ok = (
        results["n_edges"] == want_edges
        and results["n_triangles"] == want_tris
    )
    results["ok"] = ok

    from scalebench import merge_entry

    merge_entry(f"triangles_n{n_cliques}", results)
    print(
        json.dumps({"metric": "scale_probe_triangles", "results": results})
    )
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
