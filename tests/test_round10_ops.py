"""Round-10 tests: per-query metadata filters in batch ANN search —
the heterogeneous multi-tenant serving shape (one batch, many tenants,
each query confined to its own tenant's vectors).  Contracts pinned:

  * per-query parity with |queries| independent filtered
    `ivf_search(filters=...)` / `ivf_pq_topk(filters=...)` calls,
  * cross-label leakage: a query can NEVER surface another label's ids,
    even when both labels share the same probe cells,
  * both-axis directory pruning: the one batch scan carries cluster AND
    label partition filters built from (cluster, value) PAIRS,
  * validation: a filter column missing from the queries frame or from
    the index layout raises the explicit rebuild-with-meta_cols error.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from compile_time_data_contracts_spark.operators.similarity import (
    ivf_build,
    ivf_pq_build_or_reuse,
    ivf_pq_search_batch,
    ivf_pq_topk,
    ivf_search,
    ivf_search_batch,
)


def _vec(direction, i, dim=4):
    # orthogonal groups with per-vector jitter: every cosine distinct
    base = [0.0] * dim
    base[direction] = 1.0
    base[dim - 1] = 0.001 * (i + 1)
    return base


@pytest.fixture(scope="module")
def tenant_index(spark, tmp_path_factory):
    """Vectors where LABELS CROSS CELLS: two orthogonal directions
    (→ two IVF cells) each containing both label 'a' and label 'b'
    rows, so label confinement cannot be a side effect of cluster
    confinement — the label axis must do real work."""
    rows = [
        (i, _vec(0, i), "a" if i % 2 == 0 else "b") for i in range(20)
    ] + [
        (100 + i, _vec(1, i), "a" if i % 2 == 0 else "b")
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    idx = str(tmp_path_factory.mktemp("tivf") / "idx")
    ivf_build(df, idx, n_clusters=2, meta_cols=("label",))
    return df, idx


def _mixed_queries(df):
    # >=2 distinct labels in ONE batch, both directions represented
    return df.filter(F.col("vec_id").isin([0, 1, 100, 101]))


def test_per_query_filtered_batch_matches_single_path(
    spark, tenant_index
):
    df, idx = tenant_index
    queries = _mixed_queries(df)
    batch = ivf_search_batch(
        spark, idx, queries, k=5, nprobe=2, query_id_col="vec_id",
        query_filter_cols=("label",),
    )
    got = {
        (r.query_id, r.rank): (r.vec_id, round(r.sim, 9))
        for r in batch.collect()
    }
    for qid, lbl in [(0, "a"), (1, "b"), (100, "a"), (101, "b")]:
        single = ivf_search(
            spark, idx, df.filter(F.col("vec_id") == qid), k=5,
            nprobe=2, filters={"label": lbl},
        ).collect()
        assert len(single) == 5
        for rank, r in enumerate(single, 1):
            assert got[(qid, rank)] == (r.vec_id, round(r.sim, 9))


def test_no_cross_label_leakage(spark, tenant_index):
    """Every returned id must carry the query's OWN label — the two
    labels share every probe cell here, so any attribution slip leaks
    immediately."""
    df, idx = tenant_index
    queries = _mixed_queries(df)
    out = ivf_search_batch(
        spark, idx, queries, k=10, nprobe=2, query_id_col="vec_id",
        query_filter_cols=("label",),
    ).collect()
    assert out
    lbl_of = {r.vec_id: r.label for r in df.collect()}
    for r in out:
        assert lbl_of[r.vec_id] == lbl_of[r.query_id], (
            f"query {r.query_id} ({lbl_of[r.query_id]}) surfaced "
            f"{r.vec_id} ({lbl_of[r.vec_id]})"
        )


def test_pair_pruning_reaches_the_scan(spark, tenant_index):
    """ONE parquet scan whose PartitionFilters carry BOTH axes: the
    cluster predicate and the label predicate (per filter-value group),
    so the directory listing is pruned on (cluster, label) pairs."""
    df, idx = tenant_index
    queries = _mixed_queries(df)
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        plan = (
            ivf_search_batch(
                spark, idx, queries, k=3, nprobe=1,
                query_id_col="vec_id", query_filter_cols=("label",),
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert plan.count("Scan parquet") == 1
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "cluster" in pf[0] and "label" in pf[0]


def test_filter_col_validation(spark, tenant_index):
    df, idx = tenant_index
    queries = _mixed_queries(df)
    with pytest.raises(ValueError, match="queries DataFrame"):
        ivf_search_batch(
            spark, idx, queries, query_id_col="vec_id",
            query_filter_cols=("tenant",),
        )
    with pytest.raises(ValueError, match="meta_cols"):
        ivf_search_batch(
            spark, idx,
            queries.withColumn("tenant", F.lit("x")),
            query_id_col="vec_id", query_filter_cols=("tenant",),
        )


def test_per_query_filtered_batch_ivfpq_matches_composite(
    spark, tmp_path
):
    """Compressed-domain twin: a mixed-label ivf_pq_search_batch must
    return each query's own ivf_pq_topk(filters=...) answer — ids AND
    exact re-ranked sims — and never another label's ids."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [
        (
            i,
            (rng.normal(size=8) + 3.0 * np.eye(8)[i % 2]).tolist(),
            "a" if i % 3 == 0 else "b",
        )
        for i in range(120)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    idx = str(tmp_path / "pqt")
    ivf_pq_build_or_reuse(
        df, idx, n_clusters=4, m=2, ksub=16, meta_cols=("label",)
    )
    queries = df.filter(F.col("vec_id").isin([0, 1, 6, 7]))
    batch = ivf_pq_search_batch(
        df, queries, k=3, n_clusters=4, nprobe=2, m=2, ksub=16,
        rerank=20, index_path=idx, meta_cols=("label",),
        query_id_col="vec_id", query_filter_cols=("label",),
    )
    got = {
        (r.query_id, r.rank): (r.vec_id, round(r.sim, 9))
        for r in batch.collect()
    }
    lbl_of = {r.vec_id: r.label for r in df.select("vec_id", "label").collect()}
    for (qid, _), (vid, _) in got.items():
        assert lbl_of[vid] == lbl_of[qid]
    for qid, lbl in [(0, "a"), (1, "b"), (6, "a"), (7, "b")]:
        single = ivf_pq_topk(
            df, df.filter(F.col("vec_id") == qid), k=3, n_clusters=4,
            nprobe=2, m=2, ksub=16, rerank=20, index_path=idx,
            meta_cols=("label",), filters={"label": lbl},
        ).collect()
        assert len(single) == 3
        for rank, r in enumerate(single, 1):
            assert got[(qid, rank)] == (r.vec_id, round(r.sim, 9))


@pytest.fixture()
def pq_append_setup(spark, tmp_path):
    """IVF-PQ index built on two orthogonal groups; the append batch
    touches ONLY group 0's cluster, so group 1's code and vector
    directories must stay byte-identical."""
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_pq_build_or_reuse,
    )

    base = [(i, _vec(0, i)) for i in range(40)] + [
        (100 + i, _vec(1, i)) for i in range(40)
    ]
    df = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "pqa")
    ivf_pq_build_or_reuse(df, idx, n_clusters=2, m=2, ksub=16)
    new = spark.createDataFrame(
        [(200 + i, _vec(0, 50 + i)) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    return df, new, idx


def _dir_state(root):
    import os

    state = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            fp = os.path.join(dirpath, f)
            st = os.stat(fp)
            state[fp] = (st.st_size, st.st_mtime_ns)
    return state


def test_pq_append_untouched_dirs_byte_identical(spark, pq_append_setup):
    import numpy as np

    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_pq_topk,
        pq_append,
    )

    df, new, idx = pq_append_setup
    # which cluster holds group-1 (e1) vectors? that dir must not move
    cents = spark.read.parquet(f"{idx}/centroids").collect()
    e1_cluster = max(cents, key=lambda r: r.centroid[1]).cluster
    before_codes = _dir_state(f"{idx}/pq/codes/cluster={e1_cluster}")
    before_vecs = _dir_state(f"{idx}/vectors/cluster={e1_cluster}")
    assert before_codes and before_vecs

    pq_append(spark, idx, new)

    assert _dir_state(f"{idx}/pq/codes/cluster={e1_cluster}") == before_codes
    assert _dir_state(f"{idx}/vectors/cluster={e1_cluster}") == before_vecs
    # fingerprint advanced to the combined corpus
    meta = spark.read.parquet(f"{idx}/meta").first()
    assert int(meta["n"]) == 100
    # the appended ids are now SEARCHABLE through the composite: a
    # query near the new e0 vectors must surface appended ids, and the
    # build_or_reuse inside ivf_pq_topk must treat the appended index
    # as FRESH for the full corpus (no rebuild — codes state unchanged)
    full = df.unionByName(new)
    state_after = _dir_state(f"{idx}/pq")
    query = spark.createDataFrame(
        [(999, _vec(0, 69))], "vec_id long, embedding array<double>"
    )
    got = ivf_pq_topk(
        full, query, k=5, n_clusters=2, nprobe=1, m=2, ksub=16,
        rerank=30, index_path=idx,
    ).collect()
    assert _dir_state(f"{idx}/pq") == state_after, "append must be reused"
    assert 219 in {r.vec_id for r in got}  # nearest appended id found
    # exact parity on the returned sims (re-rank is exact)
    emb_of = {r.vec_id: np.array(r.embedding) for r in full.collect()}
    qv = np.array(_vec(0, 69))
    for r in got:
        v = emb_of[r.vec_id]
        want = float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv)))
        assert abs(r.sim - want) < 1e-9


def test_pq_append_refusals(spark, pq_append_setup, tmp_path):
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_build,
        pq_append,
    )

    df, new, idx = pq_append_setup
    with pytest.raises(ValueError, match="meta_cols"):
        pq_append(spark, idx, new, meta_cols=("label",))
    # an IVF-only index (no PQ layer) must refuse, not write garbage
    bare = str(tmp_path / "bare")
    ivf_build(df, bare, n_clusters=2)
    with pytest.raises(ValueError, match="no PQ layer"):
        pq_append(spark, bare, new)


def test_ivf_delete_erases_across_all_search_paths(spark, tmp_path):
    """Erasure contract: build a labeled IVF-PQ index, delete a cohort
    that (a) partially empties one leaf and (b) FULLY empties another;
    deleted ids must never surface through the single, batch, filtered,
    or compressed search paths; untouched leaves stay byte-identical;
    survivor results equal brute force over the surviving corpus."""
    import numpy as np

    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_delete,
        ivf_pq_build_or_reuse,
        ivf_pq_topk,
        ivf_search,
        ivf_search_batch,
        topk_cosine,
    )

    # labels cross cells; (cluster e1, label b) will be fully erased
    rows = [
        (i, _vec(0, i), "a" if i % 2 == 0 else "b") for i in range(20)
    ] + [
        (100 + i, _vec(1, i), "a" if i % 2 == 0 else "b")
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    idx = str(tmp_path / "erase")
    ivf_pq_build_or_reuse(
        df, idx, n_clusters=2, m=2, ksub=16, meta_cols=("label",)
    )
    cents = spark.read.parquet(f"{idx}/centroids").collect()
    e0_cluster = max(cents, key=lambda r: r.centroid[0]).cluster
    e1_cluster = 1 - e0_cluster
    # cohort: every e1/label-b id (empties that leaf) + two e0/label-a ids
    doomed = [100 + i for i in range(20) if i % 2 == 1] + [0, 2]
    survivors_exp = {r.vec_id for r in df.collect()} - set(doomed)

    # leaves that must stay byte-identical: e0/label-b (no doomed ids)
    b4_vec = _dir_state(f"{idx}/vectors/cluster={e0_cluster}/label=b")
    b4_code = _dir_state(f"{idx}/pq/codes/cluster={e0_cluster}/label=b")
    assert b4_vec and b4_code

    del_df = spark.createDataFrame([(i,) for i in doomed], "vec_id long")
    stats = ivf_delete(spark, idx, del_df)
    assert stats["n_deleted"] == len(doomed)
    assert stats["emptied"] == 2  # (e1, b) leaf in vectors AND codes

    assert _dir_state(f"{idx}/vectors/cluster={e0_cluster}/label=b") == b4_vec
    assert _dir_state(f"{idx}/pq/codes/cluster={e0_cluster}/label=b") == b4_code
    import os

    assert not os.path.exists(f"{idx}/vectors/cluster={e1_cluster}/label=b")
    assert not os.path.exists(f"{idx}/pq/codes/cluster={e1_cluster}/label=b")

    # meta fingerprint reflects the post-delete index
    meta = spark.read.parquet(f"{idx}/meta").first()
    assert int(meta["n"]) == len(survivors_exp)

    full_surv = df.filter(~F.col("vec_id").isin(doomed))
    q_e1b = spark.createDataFrame(
        [(999, _vec(1, 1), "b")],
        "vec_id long, embedding array<double>, label string",
    )
    # single path, exhaustive probes: equals brute force over survivors
    got = ivf_search(spark, idx, q_e1b, k=5, nprobe=2).collect()
    want = topk_cosine(full_surv, q_e1b, k=5).collect()
    assert [(r.vec_id, round(r.sim, 9)) for r in got] == [
        (r.vec_id, round(r.sim, 9)) for r in want
    ]
    # filtered single path: label-b survivors only — the emptied leaf
    # contributes nothing and deleted ids never reappear
    got_f = ivf_search(
        spark, idx, q_e1b, k=5, nprobe=2, filters={"label": "b"}
    ).collect()
    assert got_f and all(
        r.vec_id in survivors_exp and r.vec_id % 2 == 1 for r in got_f
    )
    # batch path with per-query filters
    batch = ivf_search_batch(
        spark, idx, q_e1b, k=5, nprobe=2, query_id_col="vec_id",
        query_filter_cols=("label",),
    ).collect()
    assert batch and all(r.vec_id in survivors_exp for r in batch)
    # compressed path: search the POST-delete corpus (fingerprint
    # matches the erased index, so no rebuild) — no doomed ids
    state = _dir_state(f"{idx}/pq")
    pq_got = ivf_pq_topk(
        full_surv, q_e1b, k=5, n_clusters=2, nprobe=2, m=2, ksub=16,
        rerank=40, index_path=idx, meta_cols=("label",),
    ).collect()
    assert _dir_state(f"{idx}/pq") == state, "erased index must be reused"
    assert pq_got and all(r.vec_id in survivors_exp for r in pq_got)

    # idempotency: re-erasing the same cohort is a no-op
    again = ivf_delete(spark, idx, del_df)
    assert again == {
        "n_deleted": 0, "rewritten_partitions": 0, "emptied": 0,
    }


def test_stream_maintainer_exactly_once(spark, tmp_path):
    """Stream the second half of a corpus into a persisted IVF index
    via foreachBatch: the final index answers like the batch-built one,
    a redelivered committed epoch is a no-op, and an UNRECORDED partial
    epoch heals (delete-then-append) instead of double-inserting."""
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_append,
        ivf_build,
        ivf_search,
        ivf_stream_maintainer,
        topk_cosine,
    )
    from compile_time_data_contracts_spark.streaming.windows import (
        write_ordered_feed_parallel,
    )

    rows = [(i, _vec(i % 2, i)) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    evens = df.filter(F.col("vec_id") % 2 == 0)
    odds = df.filter(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "sidx")
    ivf_build(evens, idx, n_clusters=2)

    feed = str(tmp_path / "feed")
    b0 = odds.filter(F.col("vec_id") < 40)
    b1 = odds.filter(F.col("vec_id") >= 40)
    mft = write_ordered_feed_parallel([b0, b1], feed)
    handler = ivf_stream_maintainer(idx)
    q = (
        spark.readStream.schema(odds.schema)
        .option("maxFilesPerTrigger", str(mft))
        .parquet(feed)
        .writeStream.foreachBatch(handler)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    meta = spark.read.parquet(f"{idx}/meta").first()
    assert int(meta["n"]) == 80
    applied = sorted(
        r.batch_id for r in spark.read.parquet(f"{idx}/stream_meta").collect()
    )
    assert applied == [0, 1]

    # redelivered COMMITTED epoch: byte-identical no-op
    before = _dir_state(idx)
    handler(b0, 0)
    assert _dir_state(idx) == before

    # STARTED-but-uncommitted epoch: simulate the real crash sequence
    # (started marker written, append partially done, commit never
    # recorded), then redeliver the whole batch — the handler must
    # heal via erase-then-append, not double-insert
    b2 = spark.createDataFrame(
        [(200 + i, _vec(0, 90 + i)) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    spark.createDataFrame([(2,)], "batch_id long").write.mode(
        "append"
    ).parquet(f"{idx}/stream_meta_started")
    ivf_append(spark, idx, b2.filter(F.col("vec_id") < 205))  # partial
    handler(b2, 2)
    vec_ids = spark.read.parquet(f"{idx}/vectors").groupBy("vec_id").count()
    assert vec_ids.filter(F.col("count") > 1).count() == 0
    assert int(spark.read.parquet(f"{idx}/meta").first()["n"]) == 90

    # the streamed+healed index answers exactly like brute force
    full = df.unionByName(b2)
    query = spark.createDataFrame(
        [(999, _vec(1, 33))], "vec_id long, embedding array<double>"
    )
    got = ivf_search(spark, idx, query, k=5, nprobe=2).collect()
    want = topk_cosine(full, query, k=5).collect()
    assert [(r.vec_id, round(r.sim, 9)) for r in got] == [
        (r.vec_id, round(r.sim, 9)) for r in want
    ]


def test_ivf_compact_preserves_results_and_reduces_files(spark, tmp_path):
    """Append twice (small files accumulate per touched leaf), compact,
    and require: fewer files, byte-identical already-compact leaves,
    IDENTICAL search results, unchanged fingerprint meta, idempotent
    second compact."""
    import os

    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_append,
        ivf_build,
        ivf_compact,
        ivf_search,
    )

    df = spark.createDataFrame(
        [(i, _vec(i % 2, i)) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "cidx")
    ivf_build(df, idx, n_clusters=2)
    # two appends into cluster e0 only -> that leaf accumulates files,
    # the e1 leaf stays single-file (must NOT be rewritten)
    a1 = spark.createDataFrame(
        [(100 + i, _vec(0, 50 + i)) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    a2 = spark.createDataFrame(
        [(200 + i, _vec(0, 70 + i)) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    ivf_append(spark, idx, a1)
    ivf_append(spark, idx, a2)
    cents = spark.read.parquet(f"{idx}/centroids").collect()
    e1_cluster = max(cents, key=lambda r: r.centroid[1]).cluster
    e0_cluster = 1 - e1_cluster
    before_e1 = _dir_state(f"{idx}/vectors/cluster={e1_cluster}")
    n_files_e0 = len(
        [f for f in os.listdir(f"{idx}/vectors/cluster={e0_cluster}")
         if f.endswith(".parquet")]
    )
    assert n_files_e0 >= 3  # build + 2 appends
    meta_before = spark.read.parquet(f"{idx}/meta").first()
    query = spark.createDataFrame(
        [(999, _vec(0, 75))], "vec_id long, embedding array<double>"
    )
    pre = [
        (r.vec_id, round(r.sim, 9))
        for r in ivf_search(spark, idx, query, k=8, nprobe=2).collect()
    ]

    stats = ivf_compact(spark, idx)
    assert stats["partitions_compacted"] == 1  # only the appended leaf
    assert stats["files_after"] < stats["files_before"]
    assert _dir_state(f"{idx}/vectors/cluster={e1_cluster}") == before_e1
    post = [
        (r.vec_id, round(r.sim, 9))
        for r in ivf_search(spark, idx, query, k=8, nprobe=2).collect()
    ]
    assert post == pre
    assert spark.read.parquet(f"{idx}/meta").first() == meta_before
    # idempotent
    assert ivf_compact(spark, idx)["partitions_compacted"] == 0


def test_ivf_delete_escaped_and_null_partition_values(spark, tmp_path):
    """Erasure must honor Spark's partition-path ESCAPING and null
    partition values: labels like 'a:b' are written as label=a%3Ab and
    a None label as the Hive default partition — a raw f-string path
    or a plain == predicate would leave 'erased' rows on disk and
    searchable."""
    import os

    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_build,
        ivf_delete,
        ivf_search,
    )

    rows = (
        [(i, _vec(0, i), "a:b") for i in range(10)]
        + [(100 + i, _vec(1, i), "50%") for i in range(10)]
        + [(200 + i, _vec(1, 50 + i), None) for i in range(10)]
    )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    idx = str(tmp_path / "escidx")
    ivf_build(df, idx, n_clusters=2, meta_cols=("label",))
    # escaped dirs actually on disk
    leaf_names = set()
    for dirpath, dirs, _ in os.walk(f"{idx}/vectors"):
        leaf_names.update(d for d in dirs if d.startswith("label="))
    assert "label=a%3Ab" in leaf_names
    assert "label=50%25" in leaf_names
    assert "label=__HIVE_DEFAULT_PARTITION__" in leaf_names

    # fully empty the a:b leaf AND the null-label leaf
    doomed = [i for i in range(10)] + [200 + i for i in range(10)]
    stats = ivf_delete(
        spark, idx,
        spark.createDataFrame([(i,) for i in doomed], "vec_id long"),
    )
    assert stats["n_deleted"] == 20
    assert stats["emptied"] == 2
    remaining = {
        r.vec_id for r in spark.read.parquet(f"{idx}/vectors").collect()
    }
    assert remaining == {100 + i for i in range(10)}
    got = ivf_search(
        spark, idx,
        spark.createDataFrame(
            [(999, _vec(0, 3))], "vec_id long, embedding array<double>"
        ),
        k=30, nprobe=2,
    ).collect()
    assert got and not ({r.vec_id for r in got} & set(doomed))


def test_stream_maintainer_grows_pq_layer(spark, tmp_path):
    """Streaming into an IVF-PQ index must advance the CODE table with
    the vectors (pq_append), or compressed searches silently miss every
    streamed vector forever (the PQ staleness check keys on params, not
    content)."""
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_pq_build_or_reuse,
        ivf_pq_topk,
        ivf_stream_maintainer,
    )

    rows = [(i, _vec(i % 2, i)) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    evens = df.filter(F.col("vec_id") % 2 == 0)
    odds = df.filter(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "pqsidx")
    ivf_pq_build_or_reuse(evens, idx, n_clusters=2, m=2, ksub=16)
    handler = ivf_stream_maintainer(idx)
    handler(odds, 0)
    # codes advanced with the vectors
    n_codes = spark.read.parquet(f"{idx}/pq/codes").count()
    n_vecs = spark.read.parquet(f"{idx}/vectors").count()
    assert n_codes == n_vecs == 60
    # a streamed-in vector is reachable through the COMPRESSED path
    query = spark.createDataFrame(
        [(999, _vec(1, 59))], "vec_id long, embedding array<double>"
    )
    got = ivf_pq_topk(
        df, query, k=3, n_clusters=2, nprobe=1, m=2, ksub=16,
        rerank=30, index_path=idx,
    ).collect()
    assert got and got[0].vec_id == 59


# ---------------------------------------------------------------------------
# ivf_drift / ivf_stats: the maintenance-scheduling signals
# ---------------------------------------------------------------------------


@pytest.fixture()
def drift_index(spark, tmp_path):
    """Two well-separated direction clusters, k=2: baseline distortion
    is tiny (every vector hugs its centroid), so BOTH drift axes have
    teeth — an orthogonal batch trips the distortion ratio, a
    mass-relocating batch trips the assignment TVD."""
    rows = [(i, _vec(i % 2, i)) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "driftidx")
    ivf_build(df, idx, n_clusters=2)
    return idx, df


def test_drift_in_distribution_not_flagged(spark, drift_index):
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_drift,
    )

    idx, df = drift_index
    # direction alternates with vec_id parity, so a PARITY slice would
    # be single-direction (mass relocation); slice on id PAIRS instead
    # to keep both directions represented equally
    d = ivf_drift(spark, idx, df.filter(F.col("vec_id") % 4 < 2))
    assert not d["needs_refit"]
    assert d["distortion_ratio"] < 1.25
    assert d["assignment_tvd"] < 0.35
    assert d["n_batch"] == 20
    assert not d["reused_baseline"]  # first call computes the baseline


def test_drift_orthogonal_batch_trips_distortion_ratio(spark, drift_index):
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_drift,
    )

    idx, df = drift_index
    # direction 2 is orthogonal to both build directions: far from
    # every frozen centroid -> the per-vector quantizer loss explodes
    rows = [(100 + i, _vec(2, i)) for i in range(20)]
    batch = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    d = ivf_drift(spark, idx, batch)
    assert d["needs_refit"]
    assert d["distortion_ratio"] > 1.25
    assert d["batch_distortion"] > d["baseline_distortion"]


def test_drift_mass_relocation_trips_tvd(spark, drift_index):
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_drift,
    )

    idx, df = drift_index
    # all-direction-0 batch: quantizes perfectly (ratio ~1) but the
    # assignment histogram collapses into one cell -> TVD ~0.5
    d = ivf_drift(spark, idx, df.filter(F.col("vec_id") % 2 == 0))
    d2 = ivf_drift(
        spark, idx,
        spark.createDataFrame(
            [(200 + i, _vec(0, i)) for i in range(20)],
            "vec_id long, embedding array<double>",
        ),
        tvd_max=0.35,
    )
    assert d2["distortion_ratio"] < 1.25  # in-dist per-vector loss
    assert d2["assignment_tvd"] > 0.35
    assert d2["needs_refit"]
    assert d2["reused_baseline"]  # second call on the same index


def test_drift_baseline_invalidated_by_append(spark, drift_index):
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_append,
        ivf_drift,
    )

    idx, df = drift_index
    in_dist = df.filter(F.col("vec_id") % 2 == 0)
    ivf_drift(spark, idx, in_dist)  # computes + persists the baseline
    new = spark.createDataFrame(
        [(500 + i, _vec(1, i)) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    ivf_append(spark, idx, new)  # fingerprint advances with the index
    d = ivf_drift(spark, idx, in_dist)
    assert not d["reused_baseline"]  # stale cache recomputed, not served


def test_drift_empty_batch_carries_no_signal(spark, drift_index):
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_drift,
    )

    idx, df = drift_index
    d = ivf_drift(spark, idx, df.filter(F.col("vec_id") < 0))
    assert d["n_batch"] == 0
    assert not d["needs_refit"]
    assert d["batch_distortion"] is None


def test_drift_recomputes_a_torn_baseline(spark, drift_index):
    """A baseline whose part file is not Parquet (a torn write) is a
    stale derived cache: the next check recomputes and rewrites it."""
    import os
    import shutil

    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_drift,
    )

    idx, df = drift_index
    in_dist = df.filter(F.col("vec_id") % 4 < 2)
    first = ivf_drift(spark, idx, in_dist)
    base = os.path.join(idx, "drift_baseline")
    shutil.rmtree(base)
    os.makedirs(base)
    with open(os.path.join(base, "part-0.parquet"), "w") as fh:
        fh.write("truncated")
    d = ivf_drift(spark, idx, in_dist)
    assert not d["reused_baseline"]
    assert d["baseline_distortion"] == first["baseline_distortion"]
    assert ivf_drift(spark, idx, in_dist)["reused_baseline"]


def test_ivf_stats_fresh_build(spark, drift_index):
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_stats,
    )

    idx, df = drift_index
    st = ivf_stats(spark, idx)
    assert st["n_vectors"] == 40
    assert st["n_clusters"] == 2
    assert st["nonempty_clusters"] == 2
    assert st["max_leaf"] <= st["n_vectors"]
    assert st["max_leaf"] >= st["mean_leaf"]
    assert abs(st["mean_leaf"] * st["nonempty_clusters"] - 40) < 1e-9
    assert st["imbalance"] >= 1.0
    # one-writer-per-leaf build: exactly one file per leaf directory
    assert st["files"] == st["leaf_dirs"] == 2
    assert st["has_pq"] is False and st["pq"] is None
    assert st["meta_cols"] == [] and st["legacy_meta"] is False


def test_ivf_stats_leaf_unit_is_the_partition_dir(spark, tenant_index):
    """On a meta-partitioned index, size stats and file stats must
    describe the SAME leaves — the (cluster, label) directories — while
    nonempty_clusters stays cluster-level for the nprobe check."""
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_stats,
    )

    df, idx = tenant_index
    st = ivf_stats(spark, idx)
    assert st["nonempty_clusters"] == 2
    assert st["leaf_dirs"] == 4  # 2 clusters x 2 labels
    assert abs(st["mean_leaf"] * 4 - 40) < 1e-9
    assert st["meta_cols"] == ["label"]


def test_ivf_stats_refuses_a_path_with_no_index(spark, tmp_path):
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_stats,
    )

    with pytest.raises(ValueError, match="no index meta"):
        ivf_stats(spark, str(tmp_path / "no_index"))


def test_ivf_stats_sees_pq_layer(spark, tmp_path):
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_pq_build_or_reuse,
        ivf_stats,
    )

    rows = [(i, _vec(i % 2, i)) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "statspq")
    ivf_pq_build_or_reuse(df, idx, n_clusters=2, m=2, ksub=16)
    st = ivf_stats(spark, idx)
    assert st["has_pq"] is True
    assert st["pq"] == {"m": 2, "ksub": 16}


# ---------------------------------------------------------------------------
# ivf_maintain: the autopilot (drift-check -> append-or-refit -> compact)
# ---------------------------------------------------------------------------


def test_maintain_appends_in_distribution_and_advances_baseline(
    spark, drift_index
):
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_drift,
        ivf_maintain,
    )

    idx, df = drift_index
    new = spark.createDataFrame(
        [(500 + i, _vec(i % 2, i)) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    r = ivf_maintain(spark, idx, new)
    assert r["action"] == "append"
    assert spark.read.parquet(f"{idx}/vectors").count() == 60
    # the merged baseline must equal what a recompute would produce
    merged = spark.read.parquet(f"{idx}/drift_baseline").collect()
    m_mean = sum(x.sum_dist for x in merged) / sum(x.cnt for x in merged)
    import shutil

    shutil.rmtree(f"{idx}/drift_baseline")
    d = ivf_drift(spark, idx, new.limit(1))
    # merged partials measure the pre-rounding batch values; the
    # recompute reads the float32-stored vectors — equal to storage
    # rounding (counts are exactly equal; see ivf_maintain docstring)
    assert abs(m_mean - d["baseline_distortion"]) < 1e-6
    assert sum(x.cnt for x in merged) == 60


def test_maintain_refits_on_drift_with_closure(spark, drift_index):
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_drift,
        ivf_maintain,
    )

    idx, df = drift_index
    drifted = spark.createDataFrame(
        [(900 + i, _vec(2, i)) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    r = ivf_maintain(spark, idx, drifted)
    assert r["action"] == "rebuild"
    assert spark.read.parquet(f"{idx}/vectors").count() == 60
    # closure: the refit index represents the batch's region now
    d = ivf_drift(spark, idx, drifted)
    assert d["distortion_ratio"] < 1.25
    # old drift baseline died with the old centroids
    assert not d["reused_baseline"]


def test_maintain_rebuild_retrains_pq_layer(spark, tmp_path):
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_maintain,
        ivf_pq_build_or_reuse,
        ivf_pq_topk,
    )

    rows = [(i, _vec(i % 2, i)) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "maintpq")
    ivf_pq_build_or_reuse(df, idx, n_clusters=2, m=2, ksub=16)
    drifted = spark.createDataFrame(
        [(900 + i, _vec(2, i)) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    r = ivf_maintain(spark, idx, drifted)
    assert r["action"] == "rebuild"
    # both layers advanced together
    assert spark.read.parquet(f"{idx}/vectors").count() == 90
    assert spark.read.parquet(f"{idx}/pq/codes").count() == 90
    # a drifted-region vector is reachable through the COMPRESSED path
    union = df.unionByName(drifted)
    query = spark.createDataFrame(
        [(999, _vec(2, 5))], "vec_id long, embedding array<double>"
    )
    got = ivf_pq_topk(
        union, query, k=3, n_clusters=2, nprobe=2, m=2, ksub=16,
        rerank=30, index_path=idx,
    ).collect()
    assert got and got[0].vec_id == 905


def test_maintain_empty_batch_is_noop(spark, drift_index):
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_maintain,
    )

    idx, df = drift_index
    r = ivf_maintain(spark, idx, df.filter(F.col("vec_id") < 0))
    assert r["action"] == "noop"
    assert r["drift"] is None
    assert spark.read.parquet(f"{idx}/vectors").count() == 40


def test_maintain_preserves_stream_bookkeeping_across_refit(
    spark, drift_index
):
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_maintain,
    )

    idx, df = drift_index
    spark.createDataFrame([(7,)], "batch_id long").write.mode(
        "append"
    ).parquet(f"{idx}/stream_meta")
    drifted = spark.createDataFrame(
        [(900 + i, _vec(2, i)) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    r = ivf_maintain(spark, idx, drifted)
    assert r["action"] == "rebuild"
    ids = [
        r2.batch_id
        for r2 in spark.read.parquet(f"{idx}/stream_meta").collect()
    ]
    assert ids == [7]


def test_maintain_compacts_once_a_leaf_accumulates_excess(
    spark, drift_index
):
    """The autopilot's compact-or-skip gate must actually FIRE: tiny
    in-distribution appends add one file per touched leaf per call
    (byte-need stays 1), so by the fourth append some leaf carries 4
    excess files and the default threshold triggers a real compaction
    that bin-packs the leaves back down."""
    from compile_time_data_contracts_spark.operators.similarity import (
        _leaf_file_stats,
        ivf_maintain,
    )

    idx, df = drift_index
    last = None
    for i in range(4):
        batch = spark.createDataFrame(
            [(1000 + 10 * i + j, _vec(j % 2, j)) for j in range(4)],
            "vec_id long, embedding array<double>",
        )
        # thresholds opened wide: a 4-row batch against the fixture's
        # near-zero baseline makes the ratio hyper-sensitive, and this
        # test pins the COMPACTION gate, not the drift verdict
        last = ivf_maintain(
            spark, idx, batch, distortion_ratio_max=100.0, tvd_max=0.99
        )
        assert last["action"] == "append"
    assert last["compaction"]["partitions_compacted"] > 0
    _nf, _nl, excess = _leaf_file_stats(f"{idx}/vectors", 128 << 20)
    assert excess == 0  # bin-packed back down
