"""Round-8 hardening tests: q143's build-once-search-many reuse
contract (deterministic index path + full-corpus fingerprint), mirroring
the q67/q107/q376 convention it joined this round."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F


def _file_state(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            fp = os.path.join(dirpath, f)
            st = os.stat(fp)
            out[fp] = (st.st_size, st.st_mtime_ns)
    return out


def _vec(direction, i):
    # orthogonal groups (e0 vs e1) with per-vector jitter so every
    # cosine similarity is distinct (no tie-break ambiguity between the
    # exact heap and the IVF heap)
    base = [0.0, 0.0, 0.0]
    base[direction] = 1.0
    base[2] = 0.001 * (i + 1)
    return base


def _write_embeddings(spark, sf_dir, extra_rows=()):
    rows = (
        [(i, _vec(0, i), 0) for i in range(20)]
        + [(100 + i, _vec(1, i), 1) for i in range(20)]
        + list(extra_rows)
    )
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{sf_dir}/embeddings.parquet")


def test_q143_reuses_appended_index_and_rebuilds_on_change(
    spark, tmp_path, monkeypatch
):
    import tempfile

    import __spark_entry__ as entrymod

    # a private gettempdir() (as test_materialize's temp_root does): the
    # index cache is found only by this test and removed with tmp_path
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf_dir = str(tmp_path / "sf_e")
    os.makedirs(sf_dir)
    _write_embeddings(spark, sf_dir)
    q143 = entrymod.queries()["q143_ivf_append_contract"]

    from compile_time_data_contracts_spark.operators.materialize import (
        reuse_dir,
    )

    idx = reuse_dir("ivfappend", f"{sf_dir}|append32")

    first = sorted(map(tuple, q143(spark, sf_dir).collect()))
    assert len(first) == 10
    # all top-10 neighbors of the e0 query come from the e0 group, and
    # the partition-pruned search of the appended index recovers >= 7
    assert all(vid < 100 for vid, _, _ in first)
    assert all(ok for _, _, ok in first)
    state_after_build = _file_state(idx)
    assert state_after_build, "index was not persisted at the shared path"

    # second call: fingerprint matches -> pure search, byte-identical
    # index (no rebuild, no append, no meta advance)
    second = sorted(map(tuple, q143(spark, sf_dir).collect()))
    assert second == first
    assert _file_state(idx) == state_after_build

    # regenerated corpus at the same sf path: (n, max_id) fingerprint
    # changes -> half-build + append re-runs against the new table
    _write_embeddings(spark, sf_dir, extra_rows=[(300, _vec(0, 50), 0)])
    third = sorted(map(tuple, q143(spark, sf_dir).collect()))
    assert _file_state(idx) != state_after_build
    assert len(third) == 10
    # meta now fingerprints the 41-row corpus (build half + appended
    # half + the new row routed to its parity half)
    meta = spark.read.parquet(f"{idx}/meta").first()
    assert int(meta["n"]) == 41


def test_ivf_append_derives_layout_from_index_meta(spark, tmp_path):
    """The append layout comes from the index's own meta, never the
    caller: a default-args append into a (cluster, label)-partitioned
    index must land at the correct directory depth (previously it wrote
    one level shallow and broke partition discovery for every
    subsequent read), and an explicitly WRONG meta_cols must raise
    instead of corrupting the layout."""
    import pytest as _pytest

    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_append,
        ivf_build,
        ivf_search,
    )

    corpus = spark.createDataFrame(
        [(i, _vec(i % 2, i), i % 2) for i in range(40)],
        "vec_id long, embedding array<float>, label int",
    )
    idx = str(tmp_path / "fivf")
    ivf_build(
        corpus, idx, n_clusters=4, sample_size=100, seed=7,
        meta_cols=("label",),
    )

    batch = spark.createDataFrame(
        [(100 + i, _vec(0, i), 0) for i in range(5)],
        "vec_id long, embedding array<float>, label int",
    )
    # defaults: layout derived from meta -> lands under cluster=/label=
    ivf_append(spark, idx, batch)
    got = spark.read.parquet(f"{idx}/vectors")
    assert set(got.columns) == {"vec_id", "embedding", "label", "cluster"}
    assert got.count() == 45
    # the appended rows are searchable through the label-filtered path
    query = corpus.filter(F.col("vec_id") == 0)
    found = {
        r.vec_id
        for r in ivf_search(
            spark, idx, query, k=45, nprobe=4, filters={"label": 0}
        ).collect()
    }
    assert set(range(100, 105)) <= found

    # an explicitly wrong layout is an error, not a corruption
    with _pytest.raises(ValueError, match="partitioned by"):
        ivf_append(spark, idx, batch, meta_cols=("tenant",))


def test_bigram_lm_tokens_containing_delimiter(spark):
    """A token containing '|' must parse as ONE token: the old
    shingle-string round-trip split 'a|b c' into ('a','b')."""
    from compile_time_data_contracts_spark.operators.text import bigram_lm

    docs = spark.createDataFrame(
        [("a|b c",), ("a|b c",), ("solo",)], "text string"
    )
    got = {(r.w1, r.top_w2, r.n_pair) for r in bigram_lm(docs).collect()}
    assert got == {("a|b", "c", 2)}


def test_keep_best_dedup_deterministic_on_score_ties(spark):
    """Equal scores within a duplicate group must pick the same winner
    on every run: the full-row struct breaks the tie."""
    from compile_time_data_contracts_spark.operators.dedup import (
        keep_best_dedup,
    )

    rows = [(i, "same text", 7) for i in (5, 3, 9)]
    df = spark.createDataFrame(rows, "doc_id long, text string, score long")
    for _ in range(3):
        got = keep_best_dedup(
            df.repartition(4), col="text", score_col="score"
        ).collect()
        assert [(r.doc_id, r.score) for r in got] == [(3, 7)]
    # descending keeps the max row under the same total order
    got = keep_best_dedup(
        df, col="text", score_col="score", ascending=False
    ).collect()
    assert [r.doc_id for r in got] == [9]


def test_sssp_bounded_rejects_negative_weights(spark):
    """The documented nonnegativity contract is enforced inside the
    codegen projection — execution fails on the first negative weight."""
    import pytest as _pytest

    from compile_time_data_contracts_spark.operators.graph import (
        sssp_bounded,
    )

    edges = spark.createDataFrame(
        [(1, 2, 4), (2, 3, -5)], "src long, dst long, w long"
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    with _pytest.raises(Exception, match="negative weight"):
        sssp_bounded(edges, seeds, max_hops=2).collect()
    ok = spark.createDataFrame(
        [(1, 2, 4), (2, 3, 5)], "src long, dst long, w long"
    )
    got = {r.id: r.dist for r in sssp_bounded(ok, seeds, max_hops=2).collect()}
    assert got == {1: 0, 2: 4, 3: 9}


def test_finalize_state_avg_over_nullable_measure(spark):
    """avg_<c> divides by the NON-NULL count: dividing by the total row
    count silently understated the average of any nullable measure."""
    from compile_time_data_contracts_spark.operators.incremental import (
        aggregate_state,
        finalize_state,
        merge_aggregate_states,
    )

    df = spark.createDataFrame(
        [("k", 10.0), ("k", None), ("k", 20.0)], "g string, v double"
    )
    st = aggregate_state(df, ["g"], sums=["v"])
    merged = merge_aggregate_states([st, st], ["g"], sums=["v"])
    row = finalize_state(merged, avgs=["v"]).collect()[0]
    assert row["n"] == 6 and row["cnt_v"] == 4
    assert row["avg_v"] == 15.0  # (10+20)*2 / 4, NOT /6


def test_topk_cosine_multi_preserves_int32_query_ids(spark):
    """int32 query ids must survive to the declared output schema —
    numpy's default int64 promotion previously desynced the emitted
    Arrow batch from the mapInArrow schema."""
    from pyspark.sql import functions as SF

    from compile_time_data_contracts_spark.operators.similarity import (
        topk_cosine_multi,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(1, [1.0, 1.0]), (2, [0.0, 1.0])],
        "qid int, embedding array<float>",
    ).withColumn("qid", SF.col("qid").cast("int"))
    out = topk_cosine_multi(
        corpus, queries, k=2, query_id_col="qid"
    )
    assert out.schema["query_id"].dataType.simpleString() == "int"
    rows = out.collect()
    assert len(rows) == 4 and {r.query_id for r in rows} == {1, 2}


def test_asof_join_picks_one_right_row_atomically(spark):
    """A NULL right-side value must stay NULL: independent per-column
    ignorenulls picks previously filled it from an OLDER right row,
    emitting a column combination that never existed."""
    from compile_time_data_contracts_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 3)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 1, 5.0, None), (1, 2, None, 7.0)],
        "k long, t long, a double, b double",
    )
    row = asof_join(
        left, right, on="k", left_ts="t", right_ts="t",
        value_cols=["a", "b"],
    ).collect()[0]
    # matched row is (t=2): its a is genuinely NULL, its b is 7.0
    assert row["asof_ts"] == 2
    assert row["asof_a"] is None
    assert row["asof_b"] == 7.0


def test_asof_join_numeric_tolerance(spark):
    """Numeric ordering columns take a numeric tolerance in their own
    units (INTERVAL math on a bigint was an AnalysisException)."""
    from compile_time_data_contracts_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100), (1, 500)], "k long, t long")
    right = spark.createDataFrame([(1, 90, 1.0)], "k long, t long, v double")
    got = {
        r["t"]: r["asof_v"]
        for r in asof_join(
            left, right, on="k", left_ts="t", right_ts="t",
            value_cols=["v"], tolerance=50,
        ).collect()
    }
    assert got == {100: 1.0, 500: None}  # 500-90 > 50 -> nulled


def test_merge_upsert_rejects_duplicate_update_keys(spark, tmp_path):
    import pytest as _pytest

    from compile_time_data_contracts_spark.operators.merge import (
        merge_upsert,
        snapshot_write,
    )

    base = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    path = str(tmp_path / "snap")
    snapshot_write(base, path, "k", num_buckets=4)
    dup = spark.createDataFrame([(1, 11), (1, 12)], "k long, v long")
    with _pytest.raises(ValueError, match="duplicate keys"):
        merge_upsert(spark, path, dup)
