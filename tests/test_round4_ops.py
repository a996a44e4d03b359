"""Round-4 additions II: reconciliation, incremental components,
weighted reservoir, product quantization."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


# ---------------------------------------------------------------- reconcile

def test_snapshot_diff_classifies_all_four_statuses(spark):
    from compile_time_data_contracts_spark.operators.reconcile import (
        diff_summary,
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        # 1 unchanged, 2 changed, 3 removed (absent), 5 added
        [(1, "a", 10.0), (2, "b", 99.0), (4, "d", 40.0), (5, "e", 50.0)],
        "k long, s string, v double",
    )
    d = snapshot_diff(old, new, ["k"])
    got = {r["k"]: r["status"] for r in d.collect()}
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        4: "unchanged",
        5: "added",
    }
    summary = {
        r["status"]: (r["n"], r["key_sum"])
        for r in diff_summary(d, "k").collect()
    }
    assert summary["unchanged"] == (2, 5)
    assert summary["added"] == (1, 5)
    assert summary["removed"] == (1, 3)
    assert summary["changed"] == (1, 2)


def test_snapshot_diff_null_vs_literal_null_string_differ(spark):
    from compile_time_data_contracts_spark.operators.reconcile import (
        snapshot_diff,
    )

    old = spark.createDataFrame([(1, None)], "k long, s string")
    new = spark.createDataFrame([(1, "NULL")], "k long, s string")
    [row] = snapshot_diff(old, new, ["k"]).collect()
    assert row["status"] == "changed"


def test_row_fingerprint_column_order_insensitive(spark):
    from compile_time_data_contracts_spark.operators.reconcile import (
        row_fingerprint,
    )

    df = spark.createDataFrame([(1, "x", 2.5)], "a long, b string, c double")
    f1 = df.select(row_fingerprint(["a", "b", "c"]).alias("f")).first()["f"]
    f2 = df.select(row_fingerprint(["c", "b", "a"]).alias("f")).first()["f"]
    assert f1 == f2


# ------------------------------------------------- incremental components

def test_incremental_cc_equals_full_recompute(spark, cc_star_sides):
    from compile_time_data_contracts_spark.operators.dedup import (
        connected_components_incremental,
        connected_components_star,
    )

    # batch1: {1-2-3}, {10-11}; batch2 bridges 3-10 and adds {20-21}
    b1 = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    b2 = spark.createDataFrame(
        [(3, 10), (20, 21)], "doc_a long, doc_b long"
    )

    def run():
        labels1 = connected_components_star(b1)
        incr = connected_components_incremental(labels1, b2)
        full = connected_components_star(b1.union(b2))
        got = {r["doc_id"]: r["cluster_id"] for r in incr.collect()}
        want = {r["doc_id"]: r["cluster_id"] for r in full.collect()}
        return got, want

    for got, want in cc_star_sides(run):
        assert got == want
        # the bridge merged both old components into min-label 1
        assert got[11] == 1 and got[3] == 1 and got[21] == 20


def test_incremental_cc_untouched_components_survive(spark, cc_star_sides):
    from compile_time_data_contracts_spark.operators.dedup import (
        connected_components_incremental,
        connected_components_star,
    )

    b1 = spark.createDataFrame([(5, 6)], "doc_a long, doc_b long")
    b2 = spark.createDataFrame([(100, 101)], "doc_a long, doc_b long")

    def run():
        labels1 = connected_components_star(b1)
        return {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components_incremental(labels1, b2).collect()
        }

    assert cc_star_sides(run) == ({5: 5, 6: 5, 100: 100, 101: 100},) * 2


# ------------------------------------------------------ weighted reservoir

def test_reservoir_exact_k_per_group(spark):
    from compile_time_data_contracts_spark.operators.sampling import (
        reservoir_per_group,
    )

    rows = [(g, i, float(1 + i % 7)) for g in ("x", "y") for i in range(40)]
    df = spark.createDataFrame(rows, "g string, id long, w double")
    out = reservoir_per_group(df, "g", "w", "id", 5)
    counts = {
        r["g"]: r["n"]
        for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"x": 5, "y": 5}


def test_reservoir_small_group_returns_whole_group(spark):
    from compile_time_data_contracts_spark.operators.sampling import (
        reservoir_per_group,
    )

    df = spark.createDataFrame(
        [("x", 1, 1.0), ("x", 2, 1.0)], "g string, id long, w double"
    )
    assert reservoir_per_group(df, "g", "w", "id", 5).count() == 2


def test_reservoir_deterministic_across_partitionings(spark):
    from compile_time_data_contracts_spark.operators.sampling import (
        reservoir_per_group,
    )

    rows = [("g", i, float(1 + (i * 13) % 11)) for i in range(200)]
    df1 = spark.createDataFrame(rows, "g string, id long, w double")
    df2 = df1.repartition(7)
    ids1 = sorted(
        r["id"] for r in reservoir_per_group(df1, "g", "w", "id", 9).collect()
    )
    ids2 = sorted(
        r["id"] for r in reservoir_per_group(df2, "g", "w", "id", 9).collect()
    )
    assert ids1 == ids2


def test_reservoir_weight_bias(spark):
    """A group where one row holds ~all the mass: that row must always
    be selected at k=1 (u^(1/w) -> 1 as w -> inf, and every other row's
    key is pushed toward 0)."""
    from compile_time_data_contracts_spark.operators.sampling import (
        reservoir_per_group,
    )

    rows = [("g", i, 0.001) for i in range(50)] + [("g", 99, 1e9)]
    df = spark.createDataFrame(rows, "g string, id long, w double")
    [row] = reservoir_per_group(df, "g", "w", "id", 1).collect()
    assert row["id"] == 99


# ---------------------------------------------------- product quantization

def _planted_vectors(n: int, dim: int, seed: int = 7):
    import numpy as np

    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, dim))
    return X / np.linalg.norm(X, axis=1, keepdims=True)


def test_pq_train_shapes_and_encode_range(spark):
    import numpy as np

    from compile_time_data_contracts_spark.operators.similarity import (
        pq_encode,
        pq_train,
    )

    X = _planted_vectors(300, 16)
    books = pq_train(X, m=4, ksub=8)
    assert books.shape == (4, 8, 4)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    codes = pq_encode(df, books).collect()
    assert len(codes) == 300
    arr = np.array([r["codes"] for r in codes])
    assert arr.shape == (300, 4)
    assert arr.min() >= 0 and arr.max() < 8


def test_pq_topk_recall_on_planted_cluster(spark):
    """Plant 5 near-copies of the query among 400 random vectors; the
    PQ search with exact re-rank must put all 5 in its top-10 and the
    returned sims must be exact (match brute force to 1e-9)."""
    import numpy as np

    from compile_time_data_contracts_spark.operators.similarity import (
        pq_topk,
        topk_cosine,
    )

    rng = np.random.default_rng(3)
    X = _planted_vectors(400, 32, seed=3)
    q = X[0]
    for i in range(1, 6):  # near-duplicates of the query
        v = q + 0.05 * rng.normal(size=32)
        X[i] = v / np.linalg.norm(v)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(400)],
        "vec_id long, embedding array<float>",
    )
    query = df.filter(F.col("vec_id") == 0)
    approx = pq_topk(df, query, k=10, m=8, ksub=16, rerank=60)
    got = {r["vec_id"]: r["sim"] for r in approx.collect()}
    assert set(range(6)).issubset(got)
    exact = {
        r["vec_id"]: r["sim"]
        for r in topk_cosine(df, query, k=10).collect()
    }
    for vid in set(range(6)):
        assert got[vid] == pytest.approx(exact[vid], abs=1e-9)


def test_pq_adc_scores_match_numpy_lut(spark):
    """The JVM-side zip_with/aggregate ADC expression must equal the
    straightforward numpy LUT sum."""
    import numpy as np

    from compile_time_data_contracts_spark.operators.similarity import (
        pq_adc_scores,
        pq_encode,
        pq_train,
    )

    X = _planted_vectors(100, 16, seed=11)
    books = pq_train(X, m=4, ksub=8, seed=11)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    codes_df = pq_encode(df, books)
    q = X[42]
    got = {
        r["vec_id"]: r["adc_score"]
        for r in pq_adc_scores(codes_df, q, books).collect()
    }
    codes = {r["vec_id"]: r["codes"] for r in codes_df.collect()}
    m, ksub, dsub = books.shape
    lut = np.stack(
        [books[s] @ q[s * dsub : (s + 1) * dsub] for s in range(m)]
    )
    for vid, cs in codes.items():
        want = float(sum(lut[s][cs[s]] for s in range(m)))
        assert got[vid] == pytest.approx(want, abs=1e-9)


# ------------------------------------------------- temperature mixture

def test_temperature_alpha1_keeps_everything(spark):
    """alpha=1 is proportional sampling == no rebalancing: every
    group's keep_rate must be exactly 1."""
    from compile_time_data_contracts_spark.operators.sampling import (
        temperature_mixture_rates,
    )

    rows = [("en", i) for i in range(90)] + [("yo", i) for i in range(10)]
    df = spark.createDataFrame(rows, "lang string, id long")
    out = temperature_mixture_rates(df, "lang", alpha=1.0).collect()
    assert all(r["keep_rate"] == 1.0 for r in out)
    p = {r["lang"]: r["p_target"] for r in out}
    assert p["en"] == pytest.approx(0.9, abs=1e-6)


def test_temperature_alpha_half_flattens_head(spark):
    from compile_time_data_contracts_spark.operators.sampling import (
        temperature_mixture_rates,
    )

    rows = [("en", i) for i in range(90)] + [("yo", i) for i in range(10)]
    df = spark.createDataFrame(rows, "lang string, id long")
    out = {
        r["lang"]: r
        for r in temperature_mixture_rates(df, "lang", alpha=0.5).collect()
    }
    # sqrt weighting: 90:10 head share drops from 0.9 toward 0.75
    assert out["en"]["p_target"] < 0.9
    assert out["yo"]["p_target"] > 0.1
    # head is downsampled (rate < 1), tail capped at 1
    assert out["en"]["keep_rate"] < 1.0
    assert out["yo"]["keep_rate"] == 1.0


# ---------------------------------------------------- duplicate spans

def test_duplicate_span_stats_planted_span(spark):
    """Two docs share one contiguous 10-token run; each must report
    exactly one duplicated span of 10 tokens."""
    from compile_time_data_contracts_spark.operators.text import (
        duplicate_span_stats,
    )

    shared = " ".join(f"s{i}" for i in range(10))
    docs = [
        (1, f"a1 a2 a3 {shared} a4 a5 a6"),
        (2, f"b1 b2 {shared} b3 b4 b5 b6 b7"),
        (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in duplicate_span_stats(df, ngram=8).collect()}
    assert set(out) == {1, 2}
    for d in (1, 2):
        assert out[d]["n_dup_spans"] == 1
        assert out[d]["dup_tokens"] == 10


def test_duplicate_span_stats_two_separate_spans(spark):
    """Two shared runs separated by unique text must stay two islands,
    not merge."""
    from compile_time_data_contracts_spark.operators.text import (
        duplicate_span_stats,
    )

    s1 = " ".join(f"x{i}" for i in range(8))
    s2 = " ".join(f"y{i}" for i in range(8))
    gap = " ".join(f"u{i}" for i in range(12))
    docs = [
        (1, f"{s1} {gap} {s2}"),
        (2, f"{s1} w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 {s2}"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in duplicate_span_stats(df, ngram=8).collect()}
    assert out[1]["n_dup_spans"] == 2
    assert out[1]["dup_tokens"] == 16


def test_duplicate_span_stats_short_docs_excluded(spark):
    from compile_time_data_contracts_spark.operators.text import (
        duplicate_span_stats,
    )

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
    )
    assert duplicate_span_stats(df, ngram=8).count() == 0


# ------------------------------------------------------- containment

def test_containment_asymmetric(spark):
    """A small doc fully inside a large one: containment 1.0 one way,
    below threshold the other."""
    from compile_time_data_contracts_spark.operators.dedup import (
        containment_pairs,
    )

    small = "q1 q2 q3 q4 q5 q6"
    big = "p1 p2 p3 p4 " + small + " p5 p6 p7 p8 p9 p10 p11 p12"
    df = spark.createDataFrame(
        [(1, small), (2, big)], "doc_id long, text string"
    )
    rows = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in containment_pairs(df, n=3, threshold=0.8).collect()
    }
    assert rows == {(1, 2): 1.0}


# -------------------------------------------------------------- PSI drift

def test_psi_identical_distributions_near_zero(spark):
    from compile_time_data_contracts_spark.operators.stats import psi_drift

    df = spark.createDataFrame(
        [(float(i % 100),) for i in range(1000)], "v double"
    )
    out = psi_drift(df, df, "v").collect()
    assert len(out) == 10
    assert all(abs(r["psi_total_r"]) < 1e-9 for r in out)
    assert all(abs(r["p_old_r"] - r["p_new_r"]) < 1e-9 for r in out)


def test_psi_major_shift_trips_threshold(spark):
    from compile_time_data_contracts_spark.operators.stats import psi_drift

    import pyspark.sql.functions as SF

    old = spark.createDataFrame(
        [(float(i % 100),) for i in range(1000)], "v double"
    )
    # half the mass pushed past the baseline max -> clamps to bucket 9
    new = old.withColumn(
        "v",
        SF.when(SF.col("v") < 50, SF.col("v") + 1000.0).otherwise(
            SF.col("v")
        ),
    )
    [total] = {r["psi_total_r"] for r in psi_drift(old, new, "v").collect()}
    assert total > 0.25


def test_psi_empty_bucket_eps_guard(spark):
    """A new-side distribution missing a baseline bucket entirely must
    produce a finite contribution (eps floor), not an infinity/NaN."""
    import math

    from compile_time_data_contracts_spark.operators.stats import psi_drift

    old = spark.createDataFrame(
        [(float(i),) for i in range(100)], "v double"
    )
    new = spark.createDataFrame(
        [(float(i),) for i in range(50)], "v double"  # top half absent
    )
    out = psi_drift(old, new, "v").collect()
    assert all(math.isfinite(r["psi_contrib_r"]) for r in out)
    assert all(math.isfinite(r["psi_total_r"]) for r in out)


# ------------------------------------------------- count-min / SQL routines

def test_count_min_estimate_bounds_and_determinism(spark):
    from compile_time_data_contracts_spark.operators.stats import (
        count_min_frequencies,
    )

    rows = [("a",)] * 500 + [("b",)] * 120 + [("c",)] * 7 + [("d",)] * 1
    df = spark.createDataFrame(rows, "k string").repartition(4)
    exact = {"a": 500, "b": 120, "c": 7, "d": 1}
    eps = 0.01
    est1 = count_min_frequencies(df, "k", list(exact), eps=eps, seed=7)
    est2 = count_min_frequencies(df, "k", list(exact), eps=eps, seed=7)
    assert est1 == est2  # fixed seed -> reproducible across runs
    n = est1[0][2]
    assert n == 628
    for k, e, _ in est1:
        assert e >= exact[k]  # CMS never underestimates
        assert e <= exact[k] + int(eps * n) + 1


def test_count_min_merge_composes_across_shards(spark):
    # the 100 TB composition story: sketch(day1) ⊕ sketch(day2) answers
    # the union's point queries — verified against a single-pass sketch
    d1 = spark.createDataFrame([("x",)] * 50 + [("y",)] * 3, "k string")
    d2 = spark.createDataFrame([("x",)] * 25 + [("z",)] * 9, "k string")
    expr = "count_min_sketch(k, 0.01d, 0.95d, 11) AS s"
    jvm = spark._jvm

    def decode(df):
        b = df.selectExpr(expr).collect()[0].s
        return jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
            jvm.java.io.ByteArrayInputStream(bytes(b))
        )

    s1, s2, sall = decode(d1), decode(d2), decode(d1.union(d2))
    s1.mergeInPlace(s2)
    for k in ("x", "y", "z"):
        assert s1.estimateCount(k) == sall.estimateCount(k)


def test_recursive_cte_closure_matches_python_walk(spark):
    df = spark.createDataFrame([(i,) for i in range(1, 17)], "k bigint")
    df.createOrReplaceTempView("t_rec")
    got = {
        r.k: (r.depth, r.path_sum)
        for r in spark.sql(
            """WITH RECURSIVE w(leaf, node, depth) AS (
                 SELECT k, k, 0 FROM t_rec
                 UNION ALL
                 SELECT leaf, CAST(floor(node / 2) AS BIGINT), depth + 1
                 FROM w WHERE node > 1
               )
               SELECT leaf AS k, max(depth) AS depth,
                      sum(node) AS path_sum
               FROM w GROUP BY leaf"""
        ).collect()
    }
    for k in range(1, 17):
        path, node = [], k
        while True:
            path.append(node)
            if node <= 1:
                break
            node //= 2
        assert got[k] == (len(path) - 1, sum(path))


def test_sql_scalar_udf_inlined_no_python(spark):
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION t_sq(x INT)
           RETURNS INT RETURN x * x"""
    )
    df = spark.range(10).selectExpr("t_sq(CAST(id AS INT)) AS v")
    assert [r.v for r in df.orderBy("v").collect()] == [
        i * i for i in range(10)
    ]
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_sql_tvf_chunks_reassemble_to_original(spark):
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION t_chunks(
             txt STRING, sz INT)
           RETURNS TABLE(chunk_idx INT, chunk STRING)
           RETURN SELECT CAST(i AS INT),
                         substr(txt, CAST(i AS INT) * sz + 1, sz)
                  FROM (SELECT explode(sequence(
                          0,
                          CAST(ceil(length(txt) / CAST(sz AS DOUBLE))
                               AS INT) - 1)) AS i)"""
    )
    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "xyz"), (3, "a" * 25)], "id long, t string"
    )
    docs.createOrReplaceTempView("t_tvf_docs")
    out = spark.sql(
        """SELECT d.id, c.chunk_idx, c.chunk
           FROM t_tvf_docs d, LATERAL t_chunks(d.t, 10) c"""
    ).collect()
    by_id: dict[int, list] = {}
    for r in out:
        by_id.setdefault(r.id, []).append((r.chunk_idx, r.chunk))
    originals = {1: "abcdefghij", 2: "xyz", 3: "a" * 25}
    for i, txt in originals.items():
        chunks = [c for _, c in sorted(by_id[i])]
        assert "".join(chunks) == txt
        assert all(len(c) <= 10 for c in chunks)


# -------------------------------------------------- trend / KS / pagerank

def test_ks_statistic_identical_and_disjoint(spark):
    from compile_time_data_contracts_spark.operators.stats import ks_statistic

    same = spark.createDataFrame(
        [(float(v), g) for v in range(20) for g in ("a", "b")],
        "v double, g string",
    )
    r = ks_statistic(same, "v", "g", "a", "b").collect()[0]
    assert (r.n1, r.n2, r.ks_stat) == (20, 20, 0.0)

    disjoint = spark.createDataFrame(
        [(float(v), "a") for v in range(10)]
        + [(float(v + 100), "b") for v in range(10)],
        "v double, g string",
    )
    r = ks_statistic(disjoint, "v", "g", "a", "b").collect()[0]
    assert r.ks_stat == 1.0  # fully separated ECDFs


def test_ks_statistic_known_half_shift(spark):
    from compile_time_data_contracts_spark.operators.stats import ks_statistic

    # a = {0..9}, b = {5..14}: ECDF gap peaks at 0.5 (values 4/9 boundary)
    df = spark.createDataFrame(
        [(float(v), "a") for v in range(10)]
        + [(float(v + 5), "b") for v in range(10)],
        "v double, g string",
    )
    r = ks_statistic(df, "v", "g", "a", "b").collect()[0]
    assert r.ks_stat == 0.5


def test_pagerank_star_graph_ranks_center_highest(spark):
    from compile_time_data_contracts_spark.operators.graph import pagerank

    # star: every leaf points at node 0; 0 points at node 1
    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)] + [(0, 1)], "src long, dst long"
    )
    pr = {r.id: r.pr for r in pagerank(nodes, edges, iters=10).collect()}
    # the center and its sole successor (which inherits the center's
    # whole mass each round) dominate; leaves 2..5 are symmetric
    assert set(sorted(pr, key=pr.get)[-2:]) == {0, 1}
    assert len({round(pr[i], 12) for i in range(2, 6)}) == 1
    assert pr[0] > pr[2]
    assert abs(sum(pr.values()) - 1.0) < 1e-9  # outdeg>=1 conserves mass


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from compile_time_data_contracts_spark.operators.graph import pagerank

    rng = [(i, (i * 7 + 3) % 10) for i in range(10)] + [
        (i, (i * 3 + 1) % 10) for i in range(10)
    ]
    edges_py = sorted(set(rng))
    nodes = spark.createDataFrame([(i,) for i in range(10)], "id long")
    edges = spark.createDataFrame(edges_py, "src long, dst long")
    got = {r.id: r.pr for r in pagerank(nodes, edges, iters=5).collect()}

    M = np.zeros((10, 10))
    outdeg = {}
    for s, _d in edges_py:
        outdeg[s] = outdeg.get(s, 0) + 1
    for s, d in edges_py:
        M[d, s] = 1.0 / outdeg[s]
    v = np.full(10, 0.1)
    for _ in range(5):
        v = 0.15 / 10 + 0.85 * (M @ v)
    for i in range(10):
        assert abs(got[i] - v[i]) < 1e-12


# ----------------------------------------------------- leakage-safe split

def test_split_by_cluster_members_share_split(spark):
    from compile_time_data_contracts_spark.operators.sampling import (
        split_by_cluster,
    )

    # 3 clusters of 4 docs each with scattered doc_ids
    rows = []
    for c, base in [(1, 1), (2, 1000), (3, 123456)]:
        for j in range(4):
            rows.append((base + j * 97, c))
    df = spark.createDataFrame(rows, "doc_id long, cluster_id long")
    lab = split_by_cluster(df).collect()
    by_cluster: dict[int, set] = {}
    for r in lab:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values())


def test_split_by_cluster_deterministic_and_partition_invariant(spark):
    from compile_time_data_contracts_spark.operators.sampling import (
        split_by_cluster,
    )

    rows = [(i, i // 3) for i in range(300)]
    df1 = spark.createDataFrame(rows, "doc_id long, cluster_id long")
    df2 = df1.repartition(13)
    a = sorted(map(tuple, split_by_cluster(df1).collect()))
    b = sorted(map(tuple, split_by_cluster(df2).collect()))
    assert a == b
    # roughly 80/10/10 by construction of the bucket thresholds
    from collections import Counter

    c = Counter(s for (_, _, s, _) in a)
    assert c["train"] > c["val"] and c["train"] > c["test"]


def test_split_by_cluster_naive_leak_detectable(spark):
    from compile_time_data_contracts_spark.operators.sampling import (
        split_by_cluster,
    )

    # a big cluster spread over many doc_ids must show naive-split
    # disagreement (P(all 40 ids hash to one split) is negligible)
    rows = [(i * 31, 7) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, cluster_id long")
    lab = split_by_cluster(df).collect()
    assert len({r.split for r in lab}) == 1
    assert len({r.naive_split for r in lab}) > 1


# ---------------------------------------------------- rocksdb state store

def test_rocksdb_gate_matches_batch_and_engages(spark):
    from compile_time_data_contracts_spark.streaming.stateful import (
        rocksdb_totals_gate,
    )

    sfd = "/root/testdata/sf0.001"
    got = {
        r.event_type: (r.n_events, r.total_value_r, r.rocksdb_engaged)
        for r in rocksdb_totals_gate(
            spark, sfd, query_name="t_rocks_gate"
        ).collect()
    }
    batch = {
        r.event_type: (r.n, r.s)
        for r in spark.read.parquet(f"{sfd}/events.parquet")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s")
        )
        .collect()
    }
    assert set(got) == set(batch)
    for k, (n, s) in batch.items():
        assert got[k] == (n, s, True)
    # provider conf restored (no session-wide side effect)
    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        cur = spark.conf.get(key)
    except Exception:
        cur = None
    assert cur is None or "RocksDB" not in cur


# ---------------------------------------------------- anomaly / transitions

def test_anomaly_zscore_warmup_and_spike(spark):
    """First 5 events per user abstain (warm-up); a 100x spike after a
    stable run must be flagged with a large z."""
    rows = []
    for i in range(10):
        rows.append((i, 1, "t", 10.0 + (i % 2) * 0.5, i))  # stable-ish
    rows.append((10, 1, "t", 1000.0, 10))  # spike
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
        "value double, tsec long"
    ).select(
        "event_id", "user_id", "event_type", "value",
        F.timestamp_seconds("tsec").alias("ts"),
    )
    df.createOrReplaceTempView("q169_events")
    import compile_time_data_contracts_spark.queries as Q

    out = spark.sql(Q._Q169_SQL.format(events="q169_events")).collect()
    [r] = out
    # events 0-4 abstain (fewer than 5 priors); 5-10 scored = 6 rows
    assert r.n_scored == 6
    assert r.n_anomalies == 1  # only the spike crosses z > 3
    assert r.max_z_r > 100


def test_session_transitions_gap_splits_sessions(spark):
    """Events 31+ minutes apart must NOT produce a transition bigram."""
    rows = [
        (1, 1, "a", 0),
        (2, 1, "b", 60),        # same session: a->b
        (3, 1, "c", 60 + 31 * 60),  # 31 min later: new session, no b->c
        (4, 1, "d", 60 + 31 * 60 + 5),  # c->d
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, tsec long"
    ).select(
        "event_id", "user_id", "event_type",
        F.timestamp_seconds("tsec").alias("ts"),
    )
    df.createOrReplaceTempView("q170_events")
    import compile_time_data_contracts_spark.queries as Q

    got = {
        (r.src_type, r.dst_type): r.n
        for r in spark.sql(Q._Q170_SQL.format(events="q170_events")).collect()
    }
    assert got == {("a", "b"): 1, ("c", "d"): 1}


def test_ks_statistic_matches_pure_python_reference(spark):
    """Deterministic pseudo-random samples (several shapes/sizes)
    against a pure-Python two-sample KS: max over pooled values of
    |ECDF_a - ECDF_b|, ECDFs right-continuous (<= value)."""
    import math

    def py_ks(xs, ys):
        pool = sorted(set(xs) | set(ys))
        best = 0.0
        for v in pool:
            fa = sum(1 for x in xs if x <= v) / len(xs)
            fb = sum(1 for y in ys if y <= v) / len(ys)
            best = max(best, abs(fa - fb))
        return round(best, 6)

    from compile_time_data_contracts_spark.operators.stats import ks_statistic

    cases = []
    for seed, (na, nb) in [(1, (17, 23)), (2, (40, 40)), (3, (9, 31))]:
        xs = [((seed * 1103515245 + i * 12345) % 1000) / 10.0
              for i in range(na)]
        ys = [((seed * 69069 + i * 54321) % 900) / 9.0 for i in range(nb)]
        cases.append((xs, ys))
    for xs, ys in cases:
        df = spark.createDataFrame(
            [(float(v), "a") for v in xs] + [(float(v), "b") for v in ys],
            "v double, g string",
        )
        r = ks_statistic(df, "v", "g", "a", "b").collect()[0]
        assert (r.n1, r.n2) == (len(xs), len(ys))
        assert r.ks_stat == py_ks(xs, ys)


# -------------------------------------------------------- MMR retrieval

def test_mmr_skips_near_duplicates_of_selected(spark):
    """Candidates: the query itself, 4 near-copies of it, and 5
    moderately-relevant but mutually-distant vectors.  Plain top-5 is
    the duplicate pile; MMR at lam=0.5 must keep the top-1 and then
    prefer the distant vectors over the remaining copies."""
    import numpy as np

    from compile_time_data_contracts_spark.operators.similarity import (
        mmr_select,
        topk_cosine,
    )

    rng = np.random.default_rng(11)
    q = rng.normal(size=16)
    q /= np.linalg.norm(q)
    rows = [(0, [float(x) for x in q])]
    for i in range(1, 5):  # near-copies of the query
        v = q + 0.01 * rng.normal(size=16)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    for i in range(5, 10):  # distant-from-each-other, mild relevance
        v = 0.3 * q + rng.normal(size=16)
        rows.append((100 + i, [float(x) for x in v / np.linalg.norm(v)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    query = df.filter(F.col("vec_id") == 0)

    top5 = [r.vec_id for r in topk_cosine(df, query, k=5).collect()]
    assert set(top5) == {0, 1, 2, 3, 4}  # the duplicate pile wins top-5

    sel = mmr_select(df, query, k=5, fetch_k=10, lam=0.3).collect()
    sel_ids = [r.vec_id for r in sel]
    assert sel[0].rank == 0 and sel_ids[0] == 0  # top-1 always kept
    # at most one additional near-copy sneaks in; the distant vectors
    # dominate the rest of the selection
    assert sum(1 for i in sel_ids if i in {1, 2, 3, 4}) <= 1
    assert sum(1 for i in sel_ids if i >= 105) >= 3


def test_mmr_lambda_one_equals_plain_topk(spark):
    """lam=1 ignores diversity entirely -> selection == plain top-k."""
    import numpy as np

    from compile_time_data_contracts_spark.operators.similarity import (
        mmr_select,
        topk_cosine,
    )

    rng = np.random.default_rng(5)
    rows = []
    for i in range(30):
        v = rng.normal(size=8)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    query = df.filter(F.col("vec_id") == 0)
    top = [r.vec_id for r in topk_cosine(df, query, k=6).collect()]
    sel = [
        r.vec_id
        for r in mmr_select(df, query, k=6, fetch_k=12, lam=1.0).collect()
    ]
    assert sel == top


# ------------------------------------------------------- bloom runtime filter

def test_bloom_filter_query_scopes_confs_and_pins_plan(spark, sf_dir):
    """q187 must (a) leave every optimizer conf exactly as it found it,
    and (b) still return a plan whose fact-side scan carries the
    injected Bloom-filter probe — the physical plan is pinned while the
    scoped confs are live, so restoring them cannot un-inject it."""
    from compile_time_data_contracts_spark.queries import queries

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold",
    ]
    before = {k: spark.conf.get(k) for k in keys}
    df = queries()["q187_bloom_runtime_filter"](spark, sf_dir)
    after = {k: spark.conf.get(k) for k in keys}
    assert after == before  # no session side effects

    jvm = spark._jvm
    plan = df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "might_contain" in plan  # Bloom probe reached the scan
    assert "BroadcastHashJoin" not in plan  # scale posture held
    assert df.count() > 0
