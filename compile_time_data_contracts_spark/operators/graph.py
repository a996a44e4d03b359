"""Iterative graph analytics on DataFrames: fixed-iteration PageRank.

Connected components (the dedup workhorse) live in ``operators.dedup``;
this module holds the value-propagation family, where each round is one
join + one aggregation rather than a label min.

The reference has no graph surface (its relational work all flows
through the opaque transform hole, SparkCore.scala:404-415); this is
part of the EXT large-scale-pipeline surface: link-graph scoring for
crawl/corpus curation (rank-weighted sampling, spam demotion) is a
standard pretraining-data step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "pagerank",
    "triangle_count",
    "label_propagation",
    "k_core",
    "bfs_levels",
    "deterministic_random_walks",
    "sssp_bounded",
    "personalized_pagerank",
    "link_prediction_ra",
    "community_modularity",
    "hits_bipartite",
]


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    n_nodes: int | None = None,
    checkpoint_every: int = 8,
    dangling: str = "drop",
) -> DataFrame:
    """Fixed-iteration power-method PageRank.

    ``nodes``: one column ``id``; ``edges``: columns ``src``, ``dst``
    (directed, deduplicated).  Returns (id, pr) after ``iters`` rounds
    from the uniform start 1/N.

    ``n_nodes``: pass the (known) node count to keep construction fully
    lazy; left ``None``, one eager ``nodes.count()`` job runs at build
    time (a single columnar scan — fine interactively, but callers that
    already know N, e.g. from a fixture or a prior agg, should pass it).

    ``dangling`` — explicit policy for nodes with no out-edges:
      * ``"drop"`` (default): their mass vanishes each round (total
        mass shrinks).  This is the honest semantics of the plain
        contribution join and keeps the operator a pure SQL join tower
        (the q165 graph guarantees outdeg >= 1, so for it drop ==
        conserve and the unrolled-SQL oracle stays exact).
      * ``"redistribute"``: each round the dangling mass m (a 1-row
        aggregate over pr ⟕̸ deg, never collected) is spread uniformly —
        pr' = base + d*(contrib + m/N) — the textbook teleport fix;
        total mass is conserved for ANY graph.

    Execution shape per round (all JVM-side, no Python):
      1. edges ⋈ pr on ``src``       — shuffle keyed by src,
      2. contributions grouped by ``dst`` — map-side partial sum, then
         shuffle keyed by dst,
      3. left join back to ``nodes`` for the (1-d)/N base term so
         zero-in-degree nodes keep a row,
      4. (redistribute only) one 1-row dangling-mass aggregate
         cross-joined in — broadcast, no data-sized movement.

    Lineage: when ``iters > checkpoint_every``, the degree-annotated
    edge list is persisted for the loop and ``pr`` is cut with a
    RELIABLE checkpoint every ``checkpoint_every`` rounds and once at
    loop exit (same durability argument as
    ``connected_components_star``: localCheckpoint blocks die with
    executors) — a 20+ iteration run
    neither re-derives the edge join tower per round nor grows an
    O(iters)-deep plan.  At or below ``checkpoint_every`` rounds the
    result is fully lazy and plan-auditable, unchanged from before.

    At 100 TB: out-degrees are precomputed ONCE and joined onto the
    edge list before the loop, so each round moves only (dst, pr/deg)
    pairs; pre-partitioning both ``edges`` and ``pr`` by the join key
    (or bucketing the edge table on src) makes round joins
    exchange-free on the edge side — the edge list, the dominant
    volume, is then never reshuffled across rounds.  Rounds are a
    fixed small constant (rank stabilizes in tens of rounds; curation
    uses the ORDER of scores, which converges much earlier).
    """
    if dangling not in ("drop", "redistribute"):
        raise ValueError(
            f"dangling must be 'drop' or 'redistribute', got {dangling!r}"
        )
    if n_nodes is None:
        n_nodes = nodes.count()
    deg = edges.groupBy("src").agg(F.count("*").alias("__outdeg"))
    # edge list with degree attached once, reused every round
    ew = edges.join(deg, "src")
    do_checkpoint = iters > checkpoint_every
    # dangling nodes (no out-edges) — the set is static across rounds
    dang = nodes.join(
        deg.select(F.col("src").alias("id")), "id", "left_anti"
    )
    if do_checkpoint:
        from pyspark import StorageLevel

        from .materialize import pin as _pin
        ew = ew.persist(StorageLevel.MEMORY_AND_DISK)
        if dangling == "redistribute":
            # each round's 1-row mass aggregate would otherwise rebuild
            # deg + the anti-join from the raw edges EVERY round the
            # checkpoints materialize — cache the static set once
            dang = dang.persist(StorageLevel.MEMORY_AND_DISK)
    pr = nodes.select("id", F.lit(1.0 / n_nodes).alias("pr"))
    base = (1.0 - damping) / n_nodes
    try:
        for it in range(iters):
            contrib = ew.join(pr, ew["src"] == pr["id"]).select(
                ew["dst"].alias("id"),
                (F.col("pr") / F.col("__outdeg")).alias("__c"),
            )
            summed = contrib.groupBy("id").agg(F.sum("__c").alias("__s"))
            if dangling == "redistribute":
                # 1-row frame: this round's dangling mass / N
                m = dang.join(pr, "id").agg(
                    F.coalesce(
                        F.sum("pr") / F.lit(float(n_nodes)), F.lit(0.0)
                    ).alias("__mshare")
                )
                pr = (
                    nodes.join(summed, "id", "left")
                    .crossJoin(F.broadcast(m))
                    .select(
                        "id",
                        (
                            F.lit(base)
                            + F.lit(damping)
                            * (
                                F.coalesce("__s", F.lit(0.0))
                                + F.col("__mshare")
                            )
                        ).alias("pr"),
                    )
                )
            else:
                pr = nodes.join(summed, "id", "left").select(
                    "id",
                    (
                        F.lit(base)
                        + F.lit(damping) * F.coalesce("__s", F.lit(0.0))
                    ).alias("pr"),
                )
            if do_checkpoint and (
                (it + 1) % checkpoint_every == 0 or it == iters - 1
            ):
                pr = pr.transform(_pin)
    finally:
        if do_checkpoint:
            ew.unpersist()
            if dangling == "redistribute":
                dang.unpersist()
    return pr


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact triangle count via the degree-ordered "compact-forward"
    join (Latapy 2008; the MapReduce formulation is Suri & Vassilvitskii
    2011's MR Node Iterator++): canonicalize the undirected edge set,
    then orient every edge from the lower to the higher endpoint under
    the total order (degree, id).  Each triangle has exactly one vertex
    whose two incident edges both point OUT (the minimum under the
    order), so counting = (oriented wedge a→b, a→c with b ≺ c) ⋈
    (oriented edge b→c) — two plain equi-joins, each triangle counted
    exactly once.

    The orientation is the scale play: out-degree under the
    (degree, id) order is O(√m) on ANY graph (arboricity bound), so the
    wedge join emits O(m^1.5) rows worst-case instead of the Σ deg²
    a naive neighbor join pays — a celebrity node with 10⁷ followers
    contributes almost no wedges because nearly all its edges point IN.
    Both joins are shuffle equi-joins; wedge/triangle totals
    partial-aggregate.

    Returns one row: (n_edges, n_wedges, n_triangles) over the
    de-duplicated self-loop-free undirected graph; n_wedges counts
    ordered open wedges (the join's left side), so
    n_triangles ≤ n_wedges.
    """
    u, v = F.col(src), F.col(dst)
    canon = (
        edges.select(
            F.least(u, v).alias("a"), F.greatest(u, v).alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionAll(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # total-order key: (degree, id) as a STRUCT compared
    # lexicographically — NOT packed into one BIGINT, because packing
    # (deg * 2^32 + id) aliases distinct nodes whenever ids reach 2^32
    # (64-bit hashed ids are the norm at scale), breaking the total
    # order and silently mis-counting triangles
    key = F.struct(F.col("deg"), F.col("node")).alias("ok")
    okeys = deg.select("node", key)
    withk = (
        canon.join(okeys.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("ok", "ka")
        .join(
            okeys.withColumnRenamed("node", "b").withColumnRenamed(
                "ok", "kb"
            ),
            "b",
        )
    )
    oriented = withk.select(
        F.when(F.col("ka") < F.col("kb"), F.col("a"))
        .otherwise(F.col("b"))
        .alias("s"),
        F.when(F.col("ka") < F.col("kb"), F.col("b"))
        .otherwise(F.col("a"))
        .alias("t"),
        F.greatest("ka", "kb").alias("kt"),
    )
    from .materialize import pin as _pin

    # the three output branches (edge count, wedge count, triangle
    # join) are independent plan subtrees: un-materialized, each would
    # re-execute the canon/degree/orient pipeline, and the O(m^1.5)
    # wedge join would run twice.  Checkpoint the oriented edge list
    # ONCE (edge-sized write, reused by every branch — the
    # connected_components_star posture), derive n_wedges ANALYTICALLY
    # (kt is distinct within each s under the total order, so the
    # wedge join emits exactly C(out_deg, 2) rows per source — a
    # node-sized aggregate instead of a second execution of the
    # dominant join), and keep the returned 1-row frame lazy
    oriented = oriented.transform(_pin)
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.s") == F.col("e2.s"))
        & (F.col("e1.kt") < F.col("e2.kt")),
    ).select(F.col("e1.t").alias("wb"), F.col("e2.t").alias("wc"))
    closing = oriented.select(
        F.col("s").alias("wb"), F.col("t").alias("wc")
    )
    tri = wedges.join(closing, ["wb", "wc"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    wc = (
        oriented.groupBy("s")
        .agg(F.count(F.lit(1)).alias("__d"))
        .agg(
            F.coalesce(
                F.sum(F.col("__d") * (F.col("__d") - 1) / 2), F.lit(0)
            )
            .cast("bigint")
            .alias("n_wedges")
        )
    )
    stats = oriented.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges")
    )
    return stats.crossJoin(wc).crossJoin(tri)


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 2,
    edges_symmetrized: bool = False,
) -> DataFrame:
    """Semi-supervised label propagation (Zhu & Ghahramani 2002 shape,
    synchronous rounds, deterministic): ``edges`` (src, dst) is
    symmetrized and de-duplicated; ``seeds`` (id, label) are CLAMPED —
    a seeded node never changes.  Each round, every unseeded node takes
    the MAJORITY label among its labeled neighbors, ties broken to the
    smallest label; nodes with no labeled neighbor keep their previous
    state (possibly unlabeled).  Integer labels + integer counts make
    every round engine-exact, so a fixed ``iters`` unrolls to an exact
    SQL tower oracle (the q165 PageRank pattern).

    Round shape, all JVM: edges ⋈ labels on src (shuffle keyed by
    src), groupBy (dst, label) partial-combined counts, one
    WindowGroupLimit-prunable row_number over dst to pick the mode,
    then a left join back onto the node set with seed/previous
    coalesce.  The symmetrized edge list — the dominant volume — is
    computed once before the loop; pre-partitioning it by src makes
    round joins exchange-free on the edge side, the same co-location
    argument as ``pagerank``.  Classifier-light corpus labeling
    (domain/topic spread from a small seeded set over a link graph) is
    a standard curation step.

    ``edges_symmetrized=True`` declares that ``edges`` is ALREADY
    symmetric, self-loop-free and de-duplicated (and, for performance,
    ideally materialized — e.g. a checkpointed frame a caller shares
    with :func:`community_modularity`): the symmetrize pass and its
    cache are skipped entirely.  Same output by definition.

    Returns (id, label) for every node that is labeled after ``iters``
    rounds.
    """
    from pyspark import StorageLevel

    from .materialize import pin as _pin
    if edges_symmetrized:
        sym = edges.select("src", "dst")
    else:
        sym = (
            edges.select("src", "dst")
            .union(
                edges.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            # referenced by every round (votes) AND the node set: cache
            # the dominant volume once instead of re-deriving it per
            # reference
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    try:
        # node set = edge endpoints ∪ seed ids: a seeded node with no
        # edges must still appear in the output (clamped at its seed
        # label) — deriving nodes from the edge list alone would
        # silently drop it, violating the "every labeled node" contract
        nodes = (
            sym.select(F.col("src").alias("id"))
            .union(seeds.select("id"))
            .distinct()
        )
        labels = nodes.join(
            seeds.select(
                "id", F.col("label").cast("bigint").alias("label")
            ),
            "id",
            "left",
        ).transform(_pin)
        seeded = seeds.select(
            "id", F.col("label").cast("bigint").alias("__seed")
        )
        w = Window.partitionBy("id").orderBy(F.desc("__n"), F.asc("label"))
        for _ in range(iters):
            votes = (
                sym.join(
                    labels.filter(F.col("label").isNotNull()).select(
                        F.col("id").alias("src"), "label"
                    ),
                    "src",
                )
                .groupBy(F.col("dst").alias("id"), "label")
                .agg(F.count(F.lit(1)).alias("__n"))
            )
            mode = (
                votes.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select("id", F.col("label").alias("__mode"))
            )
            # each round's state is node-sized; a reliable checkpoint
            # cuts the join tower so the plan (and re-execution cost)
            # stays linear in rounds, the connected_components_star
            # pattern
            labels = (
                labels.join(mode, "id", "left")
                .join(seeded, "id", "left")
                .select(
                    "id",
                    F.coalesce("__seed", "__mode", "label").alias(
                        "label"
                    ),
                )
                .transform(_pin)
            )
    finally:
        if not edges_symmetrized:
            sym.unpersist()
    return labels.filter(F.col("label").isNotNull())


def k_core(
    edges: DataFrame,
    k: int,
    max_peels: int = 3,
) -> DataFrame:
    """k-core peeling, ``max_peels`` synchronous rounds: symmetrize +
    de-duplicate the undirected edge set, then repeatedly delete every
    node whose CURRENT degree is below ``k`` (deleting a node deletes
    its edges, which is what makes the step iterative).  A fixed round
    budget keeps the operator an exact unrollable plan (the oracle
    replays the same peels as a SQL tower); the returned frame reports
    (id, degree) of the surviving subgraph, so callers can verify
    convergence by checking min(degree) >= k — at the gate's budget the
    fixture converges, as the test pins.

    Per round, all JVM: one partial-combined degree count + one
    semi-join of the edge list against surviving nodes on BOTH
    endpoints (two shuffle equi-joins; broadcast when the survivor set
    is small).  The edge list never grows; rounds only shrink it, so
    at 100 TB the first peel — over the full corpus graph — dominates
    and subsequent rounds ride the shrunken remainder.  Dense-core
    extraction (spam link farms, boilerplate template webs) is a
    standard crawl-curation signal.
    """
    sym = (
        edges.select("src", "dst")
        .union(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    from .materialize import pin as _pin
    # each peel references the previous edge set three times (degree +
    # both endpoint semi-joins); a reliable per-round checkpoint keeps
    # the plan linear in peels instead of 3^peels (the
    # connected_components_star pattern)
    cur = sym.transform(_pin)
    for peel in range(max_peels):
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
        keep = deg.filter(F.col("__deg") >= k).select("src")
        cur = cur.join(keep, "src", "left_semi").join(
            keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
        )
        # the LAST peel's edge set feeds exactly one consumer (the
        # returned degree aggregate), so its checkpoint round-trip
        # bought nothing — materialize between peels only (r11)
        if peel < max_peels - 1:
            cur = cur.transform(_pin)
    return (
        cur.groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    symmetric: bool = True,
) -> DataFrame:
    """Multi-source BFS hop distance, ``max_hops`` synchronous rounds:
    every node reachable from the seed set within ``max_hops`` hops is
    returned as (id, hop) where hop is the EXACT shortest hop count —
    BFS discovers each node at its minimum distance by construction, so
    no min-aggregation re-pass is needed.  Integer hops make every
    round engine-exact; a fixed round budget unrolls to a frontier/
    visited SQL tower oracle (the q165 pattern — DuckDB's recursive CTE
    would also express it, but the tower mirrors the operator round for
    round).

    ``seeds``: one column ``id``.  ``symmetric=True`` (default)
    symmetrizes + de-duplicates the edge list first (undirected
    reachability); ``False`` walks directed edges as given.

    Round shape, all JVM: frontier ⋈ edges on src (shuffle keyed by
    src) → distinct candidate dsts → LEFT ANTI join against the visited
    set — one equi-join, one partial-combined distinct, one anti-join
    per hop.  The frontier is the moving volume; the edge list — the
    dominant volume — is built once, and pre-partitioning it by src
    makes round joins exchange-free on the edge side (the ``pagerank``
    co-location argument).  Per-round reliable checkpoints keep the
    visited set's plan linear in hops (the
    ``connected_components_star`` durability pattern).  Hop-bounded
    reachability is the crawl-frontier / link-spam-neighborhood /
    citation-radius primitive of corpus curation.
    """
    from .materialize import pin as _pin
    e = edges.select("src", "dst")
    if symmetric:
        e = e.union(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
    from pyspark import StorageLevel

    # the symmetrize+dedup edge list is referenced by EVERY hop's
    # eager checkpoint — cache the dominant volume once instead of
    # re-deriving it per round (the label_propagation pattern)
    e = (
        e.filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        visited = (
            seeds.select(F.col("id").cast("bigint").alias("id"))
            .distinct()
            .select("id", F.lit(0).cast("int").alias("hop"))
            .transform(_pin)
        )
        frontier = visited.select("id")
        for t in range(1, max_hops + 1):
            nxt = (
                e.join(
                    frontier.withColumnRenamed("id", "src"), "src"
                )
                .select(F.col("dst").alias("id"))
                .distinct()
                .join(visited, "id", "left_anti")
                .select("id", F.lit(t).cast("int").alias("hop"))
                .transform(_pin)
            )
            # r11: the visited set is a UNION OF PINS — every leaf is
            # already materialized and the union tree is linear in
            # hops, so the old per-hop checkpoint of the union was a
            # cumulative re-WRITE of all visited rows every round
            # (O(hops x nodes) extra writes) for zero lineage benefit
            visited = visited.union(nxt)
            frontier = nxt.select("id")
    finally:
        e.unpersist()
    return visited


def deterministic_random_walks(
    edges: DataFrame,
    starts: DataFrame,
    steps: int = 3,
) -> DataFrame:
    """Fixed-length HASH-DRIVEN random walks (the node2vec/DeepWalk
    corpus-prep primitive, made reproducible): from every start node,
    take ``steps`` steps where the next hop from node v at step t is
    the out-neighbor d minimizing md5(v || '|t|' || d) — a uniform-ish
    but fully DETERMINISTIC choice (the q209 hash-determinism
    contract: no RNG state, so walks are engine-, partitioning-, and
    run-stable, and any engine reproduces them from the formula
    alone).  Walks at nodes with no out-edge simply stop.

    Returns (walk, step, node): walk = start node id, step 0..steps.

    Per step, all JVM: current positions ⋈ edges on src (shuffle keyed
    by the current node) + one WindowGroupLimit-prunable row_number
    over (hash, dst) per walk — the rank-1 filter is pushed into a
    per-partition heap before the exchange, so the shuffle carries one
    candidate row per (walk, partition), not the full neighbor
    fan-out.  The edge list is the static dominant volume:
    pre-partitioning it by src makes every step's join exchange-free
    on the edge side (the ``pagerank`` co-location argument).  A
    reliable checkpoint per step keeps the plan linear in steps.
    """
    from .materialize import pin as _pin
    from pyspark import StorageLevel

    # the de-duplicated edge list feeds every step's eager checkpoint —
    # cache it once (the label_propagation pattern).  NOTE: it stays
    # persisted until the returned frame is consumed; steps' checkpoints
    # are the expensive part and they read it while cached.
    e = (
        edges.select(
            F.col("src").cast("bigint").alias("src"),
            F.col("dst").cast("bigint").alias("dst"),
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        pos = (
            starts.select(F.col("id").cast("bigint").alias("walk"))
            .distinct()
            .select("walk", F.col("walk").alias("node"))
            .transform(_pin)
        )
        out = pos.select(
            "walk", F.lit(0).cast("int").alias("step"), "node"
        )
        for t in range(1, steps + 1):
            cand = pos.join(e, pos["node"] == e["src"]).select(
                "walk",
                F.col("dst").alias("nxt"),
                F.md5(
                    F.concat_ws(
                        "",
                        F.col("node").cast("string"),
                        F.lit(f"|{t}|"),
                        F.col("dst").cast("string"),
                    )
                ).alias("__h"),
            )
            w = Window.partitionBy("walk").orderBy("__h", "nxt")
            pos = (
                cand.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select("walk", F.col("nxt").alias("node"))
                .transform(_pin)
            )
            out = out.union(
                pos.select(
                    "walk", F.lit(t).cast("int").alias("step"), "node"
                )
            )
    finally:
        # all steps are checkpointed, so the returned union never
        # re-reads the cached edge list; release it even if a step
        # raised mid-loop (the bfs_levels pattern)
        e.unpersist()
    return out


def sssp_bounded(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    weight_col: str = "w",
) -> DataFrame:
    """Bounded-hop single/multi-source WEIGHTED shortest paths —
    synchronous Bellman-Ford, ``max_hops`` relaxation rounds: returns
    (id, dist) with the exact minimum path weight among paths of at
    most ``max_hops`` edges (the weighted generalization of
    :func:`bfs_levels`; with unit weights the two agree).  Integer
    weights keep every round engine-exact, and the fixed round budget
    unrolls to a min-aggregation SQL tower oracle round for round.

    Round shape, all JVM: dist ⋈ edges on src (shuffle keyed by src) →
    candidate (dst, dist+w) → union with the current dists → ONE
    partial-combined min per node.  Unlike BFS there is no anti-join:
    a node can improve after first discovery, so every round
    re-minimizes — the map-side partial min keeps the shuffle at
    |nodes| rows.  The edge list — the dominant volume — is cached
    once across rounds and per-round checkpoints keep the plan linear
    in hops (the bfs_levels pattern).  Negative weights are rejected:
    with a bounded hop budget they would make "shortest within k hops"
    ill-ordered for pruning, and every corpus-graph use (link distance,
    crawl cost, citation radius) is nonnegative.
    """
    from pyspark import StorageLevel

    from .materialize import pin as _pin
    # the documented negative-weight rejection, enforced INSIDE the
    # codegen projection (zero extra scan — the first materialization
    # of the cached edge list fails on the first offending row) rather
    # than as a separate validation pass over the dominant volume
    w = F.col(weight_col).cast("bigint")
    checked_w = F.when(
        w < 0,
        F.raise_error(
            F.concat(
                F.lit("sssp_bounded: negative weight "),
                w.cast("string"),
                F.lit(" — bounded-hop shortest paths require "
                      "nonnegative weights"),
            )
        ).cast("bigint"),
    ).otherwise(w)
    e = edges.select(
        F.col("src").cast("bigint").alias("src"),
        F.col("dst").cast("bigint").alias("dst"),
        checked_w.alias("__w"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        dist = (
            seeds.select(F.col("id").cast("bigint").alias("id"))
            .distinct()
            .select("id", F.lit(0).cast("bigint").alias("dist"))
            .transform(_pin)
        )
        for _ in range(max_hops):
            relax = dist.join(
                e, dist["id"] == e["src"]
            ).select(
                F.col("dst").alias("id"),
                (F.col("dist") + F.col("__w")).alias("dist"),
            )
            dist = (
                dist.unionByName(relax)
                .groupBy("id")
                .agg(F.min("dist").alias("dist"))
                .transform(_pin)
            )
        return dist
    finally:
        e.unpersist()


def personalized_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    checkpoint_every: int = 8,
) -> DataFrame:
    """Personalized PageRank: the teleport distribution concentrates
    on ``seeds`` (uniform 1/|S| over the seed set, 0 elsewhere)
    instead of 1/N over all nodes — rank becomes "importance AS SEEN
    FROM the seeds", the recommendation / related-items / trusted-
    neighborhood primitive (global PageRank q165 answers "important
    overall").  Start vector = the teleport vector; dangling mass
    drops (the q165 graph guarantees outdeg >= 1, keeping the
    operator a pure SQL join tower and the unrolled oracle exact).

    Per round, identical shape to :func:`pagerank`: edges ⋈ pr on src
    (degrees attached once, outside the loop), partial-summed by dst,
    left-joined back to nodes with the seed-indicator base term —
    all JVM, no Python, no driver state.  The seed base term rides a
    broadcast-sized join (|S| rows).  Returns (id, pr).

    Lineage follows :func:`pagerank` exactly: above ``checkpoint_every``
    rounds the degree-annotated edge list is persisted for the loop and
    ``pr`` is cut with a reliable checkpoint every ``checkpoint_every``
    rounds (otherwise each materialization re-derives the degree join
    once per round under an O(iters)-deep plan); at or below the
    threshold the result stays fully lazy and plan-auditable.
    """
    deg = edges.groupBy("src").agg(F.count("*").alias("__outdeg"))
    ew = edges.join(deg, "src")
    do_checkpoint = iters > checkpoint_every
    if do_checkpoint:
        from pyspark import StorageLevel

        from .materialize import pin as _pin
        ew = ew.persist(StorageLevel.MEMORY_AND_DISK)
    s = seeds.select(F.col("id").cast("bigint").alias("id")).distinct()
    # teleport share as a 1-row lazy broadcast (no eager count job)
    ns = s.agg(F.count(F.lit(1)).alias("__ns"))
    tele = s.crossJoin(F.broadcast(ns)).select(
        "id", (F.lit(1.0) / F.col("__ns")).alias("__e")
    )
    pr = nodes.join(tele, "id", "left").select(
        "id", F.coalesce("__e", F.lit(0.0)).alias("pr")
    )
    try:
        for it in range(iters):
            contrib = ew.join(pr, ew["src"] == pr["id"]).select(
                ew["dst"].alias("id"),
                (F.col("pr") / F.col("__outdeg")).alias("__c"),
            )
            summed = contrib.groupBy("id").agg(F.sum("__c").alias("__s"))
            pr = (
                nodes.join(summed, "id", "left")
                .join(tele, "id", "left")
                .select(
                    "id",
                    (
                        F.lit(1.0 - damping)
                        * F.coalesce("__e", F.lit(0.0))
                        + F.lit(damping) * F.coalesce("__s", F.lit(0.0))
                    ).alias("pr"),
                )
            )
            if do_checkpoint and (
                (it + 1) % checkpoint_every == 0 or it == iters - 1
            ):
                pr = pr.transform(_pin)
    finally:
        if do_checkpoint:
            ew.unpersist()
    return pr


def link_prediction_ra(
    edges: DataFrame,
    max_hub_degree: int = 64,
    min_common: int = 2,
) -> DataFrame:
    """Resource-Allocation link prediction (Zhou, Lu, Zhang, EPJ B
    2009): for non-adjacent node pairs (u, v), score
    sum_z 1/deg(z) over common neighbors z — RA rather than
    Adamic-Adar's 1/ln(deg) because 1/deg integerizes exactly
    (floor(1e6/deg) needs no engine-matched libm log), same empirical
    ranking quality on sparse graphs.

    ``edges`` is a directed (src, dst) list; it is symmetrized +
    de-duplicated here.  The candidate generator is the posting-list
    self-join on the common neighbor z — the same shape as the q157
    containment join, and with the same df-squared hazard: one hub of
    degree d emits d^2 candidate pairs.  ``max_hub_degree`` CAPS the
    carrier set (a hub's common-neighborship carries almost no signal
    anyway — 1/deg makes its weight negligible), turning worst-case
    work into O(sum_{deg(z)<=cap} deg(z)^2).  The truncation is not
    silent, but the audit lives OUTSIDE this frame: the dropped-hub
    count is one metadata-sized aggregate over the degree table
    (``deg.filter(deg > max_hub_degree).count()`` — the
    `linkpred_n1000000` scale probe measures it this way), because
    folding a scalar audit column into every output row would carry a
    constant through the candidate shuffle for nothing.  Existing
    edges are anti-joined out; ties in score are resolved by the
    (u, v) key itself, so output is deterministic.

    Returns (u, v, cn, ra_micro): common-neighbor count and the
    integer micro-score sum_z floor(1e6 / deg(z)).
    """
    from .materialize import pin as _pin
    e0 = edges.select(
        F.col("src").cast("bigint").alias("src"),
        F.col("dst").cast("bigint").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    # sym feeds THREE consumers (degree agg, carrier join, final
    # adjacency anti-join) and carrier feeds BOTH sides of the z
    # self-join: without materialization each reference re-derives the
    # whole scan->union->distinct (resp. ->join) subtree — the measured
    # plan had 40 parquet scans / 64 exchanges for ONE logical pass.
    # One reliable checkpoint each writes the edge-sized frame once and
    # every consumer reads it back, the _capped_pair_scores discipline.
    sym = (
        e0.union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .transform(_pin)
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # carriers: neighbor z with its weight, hub-capped
    carrier = (
        sym.join(deg, "src")
        .filter(F.col("deg") <= max_hub_degree)
        .select(
            F.col("src").alias("z"),
            F.col("dst").alias("n"),
            (F.lit(1_000_000) / F.col("deg")).cast("bigint").alias("w"),
        )
        .transform(_pin)
    )
    a = carrier.select("z", F.col("n").alias("u"), "w")
    b = carrier.select("z", F.col("n").alias("v"))
    cand = (
        a.join(b, "z")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cn"),
            F.sum("w").cast("bigint").alias("ra_micro"),
        )
        .filter(F.col("cn") >= min_common)
    )
    existing = sym.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    return cand.join(existing, ["u", "v"], "left_anti")


def community_modularity(
    edges: DataFrame,
    labels: DataFrame,
    n_sym_edges: int | None = None,
    edges_symmetrized: bool = False,
) -> DataFrame:
    """Per-community Newman modularity contributions for a node
    labelling (e.g. :func:`label_propagation` output): for community
    c over the symmetrized edge list E (|E| = 2m),

        Q_c = e_c/|E|  -  (d_c/|E|)^2

    with e_c = symmetrized edges internal to c and d_c = total degree
    of c's members — Q = sum_c Q_c is the standard partition-quality
    score (Newman & Girvan 2004), and the per-community rows localize
    WHICH communities are cohesive vs incidental, which the scalar
    hides.  Unlabelled nodes contribute to degrees (they are real
    neighbors) but form no community row.  ``members`` counts a
    community's nodes INCIDENT TO AN EDGE: a labelled node with no
    edges has d_i = 0 and contributes nothing to any term of Q, so an
    all-isolated community produces no row — by the same definition
    the oracle implements (label_propagation can emit such nodes; a
    caller that wants them counted left-joins its label table back in).

    All counts are exact integers; each contribution is one fixed
    IEEE expression over two integers, so an ANSI oracle reproduces
    every row bit-for-bit.  Cost: one degree aggregate + two
    broadcast-size label joins over the edge list — one shuffle
    round, no iteration — plus one |sym| count job at BUILD time
    unless the caller passes ``n_sym_edges`` (the q165-pagerank
    lazy-build discipline: callers that already know the edge count,
    or batch many modularity calls, skip the extra job).
    ``edges_symmetrized=True`` declares ``edges`` already symmetric,
    bigint-keyed, self-loop-free and de-duplicated (e.g. the SAME
    checkpointed frame the caller fed :func:`label_propagation`), so
    the symmetrize pass — otherwise re-derived here for every one of
    the FOUR sym references (degree agg, two label joins, the |sym|
    count) — is skipped.  Returns
    (label, members, internal_edges, degree_sum, contribution_r).
    """
    if edges_symmetrized:
        sym = edges.select("src", "dst")
    else:
        e0 = edges.select(
            F.col("src").cast("bigint").alias("src"),
            F.col("dst").cast("bigint").alias("dst"),
        ).filter(F.col("src") != F.col("dst"))
        sym = (
            e0.union(
                e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            ).distinct()
        )
    lab = labels.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("label").cast("bigint").alias("label"),
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    member = lab.join(deg, lab["id"] == deg["src"]).select(
        "label", "id", "deg"
    )
    per_label = member.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("members"),
        F.sum("deg").cast("bigint").alias("degree_sum"),
    )
    ls = lab.select(F.col("id").alias("src"), F.col("label").alias("ls"))
    ld = lab.select(F.col("id").alias("dst"), F.col("label").alias("ld"))
    internal = (
        sym.join(ls, "src")
        .join(ld, "dst")
        .filter(F.col("ls") == F.col("ld"))
        .groupBy(F.col("ls").alias("label"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("internal_edges"))
    )
    m2 = n_sym_edges if n_sym_edges is not None else sym.count()
    return (
        per_label.join(internal, "label", "left")
        .select(
            "label",
            "members",
            F.coalesce("internal_edges", F.lit(0))
            .cast("bigint")
            .alias("internal_edges"),
            "degree_sum",
            F.round(
                F.coalesce("internal_edges", F.lit(0))
                / F.lit(float(m2))
                - (F.col("degree_sum") / F.lit(float(m2)))
                * (F.col("degree_sum") / F.lit(float(m2))),
                6,
            ).alias("contribution_r"),
        )
    )


def hits_bipartite(edges: DataFrame) -> DataFrame:
    """One full HITS round (Kleinberg, JACM 1999) on a bipartite
    (hub, auth) edge list, kept in EXACT integer arithmetic so the
    result is oracle-checkable with no float-summation-order risk:

      a1(s) = indegree(s)                      (hubs start at 1)
      h1(c) = sum_{c->s} a1(s)                 (integer)
      a2(s) = sum_{c->s} h1(c)                 (integer numerator;
               the L1 normalizations cancel into one final divide)

    With L1 normalization every intermediate normalizer is a global
    constant, so it can be deferred: a2's normalized value is just
    ``a2_num / sum(a2_num)``, emitted here in parts-per-million via
    decimal(38,0) integer division (``a2_num`` is O(|E| * max_deg^2)
    and would overflow int64 on a 100 TB edge list; decimal keeps the
    multiply exact and the final ppm fits a long again).

    Plan shape at scale: indegree is a partial-aggregated groupBy on
    dst; a1 and h1 attach via shuffle joins on their own keys (a1 is
    |auth|-sized and broadcastable when the authority side is a
    dimension, but that is the optimizer's call via AQE, not ours);
    no iteration state lives on the driver.

    Returns (auth, indeg, auth_ppm) — one row per authority node.
    """
    from pyspark import StorageLevel

    # the de-duplicated edge list feeds THREE aggregations (a1, h1, a2);
    # without a persist each reuse re-scans and re-distincts the source.
    # The cache is scoped to the RETURNED lazy plan (unpersisting here
    # would defeat it before the caller ever executes); it is reclaimed
    # by Spark's ContextCleaner once the returned frame is
    # garbage-collected, or eagerly by a caller that materializes the
    # (|auth|-sized) result and calls spark.catalog.clearCache()
    e = (
        edges.select(
            F.col("hub").cast("bigint").alias("hub"),
            F.col("auth").cast("bigint").alias("auth"),
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a1 = e.groupBy("auth").agg(F.count(F.lit(1)).cast("bigint").alias("indeg"))
    h1 = (
        e.join(a1, "auth")
        .groupBy("hub")
        .agg(F.sum("indeg").cast("bigint").alias("h1_num"))
    )
    a2 = (
        e.join(h1, "hub")
        .groupBy("auth")
        .agg(F.sum(F.col("h1_num").cast("decimal(38,0)")).alias("a2_num"))
    )
    tot = a2.agg(F.sum("a2_num").alias("tot"))
    return (
        a2.crossJoin(F.broadcast(tot))
        .join(a1, "auth")
        .select(
            "auth",
            "indeg",
            F.expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * a2_num) DIV tot AS BIGINT)")
            .alias("auth_ppm"),
        )
    )
