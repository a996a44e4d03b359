"""The shared session factory and the per-call helpers around it.

  * ``local_session`` is where the test fixture's settings come from,
    and caller ``conf`` overrides its shared settings;
  * contract round-trip queries sink to a fresh directory per call, so
    concurrent runs never share a path;
  * ``pin_if_input_large`` stops stat-ing input files once the running
    total crosses its threshold, with the same pin-or-skip answer;
  * ``connected_components_star`` labels a graph identically whether it
    finishes on the driver or runs star rounds, whichever
    neighborhood-min branch (window, or groupBy + join) each round takes.
"""

from __future__ import annotations

import os

from pyspark.sql import Row, SparkSession

from compile_time_data_contracts_spark.session import local_session


def _builder_options(spark, monkeypatch, *args, **kwargs) -> dict:
    """The options ``local_session(*args, **kwargs)`` hands the builder,
    captured without starting a second session."""
    seen: dict = {}

    def capture(builder):
        seen.update(builder._options)
        return spark

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    local_session(*args, **kwargs)
    return seen


def test_fixture_session_comes_from_local_session(spark, monkeypatch):
    opts = _builder_options(spark, monkeypatch, "ctdc-spark-tests", cores=4)
    assert opts["spark.master"] == "local[4]"
    assert opts["spark.sql.shuffle.partitions"] == "4"
    assert opts["spark.ui.enabled"] == "false"
    assert opts["spark.sql.session.timeZone"] == "UTC"
    assert opts["spark.sql.adaptive.enabled"] == "true"
    live = dict(spark.sparkContext.getConf().getAll())
    assert {k: live.get(k) for k in opts} == opts


def test_local_session_cores_from_env_and_conf_applied_last(
    spark, monkeypatch
):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    opts = _builder_options(
        spark,
        monkeypatch,
        "probe",
        **{"spark.sql.shuffle.partitions": 64, "spark.ui.enabled": "true"},
    )
    assert opts["spark.master"] == "local[3]"
    assert opts["spark.sql.shuffle.partitions"] == "64"
    assert opts["spark.ui.enabled"] == "true"


def test_q04_sinks_per_call_and_matches_oracle(spark, sf_dir):
    import duckdb

    import __spark_entry__ as entrymod

    name = "q04_parquet_sink_roundtrip"
    q04 = entrymod.queries()[name]
    first, second = q04(spark, sf_dir), q04(spark, sf_dir)
    assert set(first.inputFiles()).isdisjoint(second.inputFiles())

    con = duckdb.connect()
    con.sql(f"CREATE VIEW region AS SELECT * FROM '{sf_dir}/region.parquet'")
    want = sorted(con.sql(entrymod.oracle_sql()[name]).fetchall())
    assert want
    # the first frame still reads its own sink after the second call
    for df in (first, second):
        assert sorted(tuple(r) for r in df.collect()) == want


def test_pin_if_input_large_stops_stat_at_threshold(
    spark, tmp_path, monkeypatch
):
    from compile_time_data_contracts_spark.operators import materialize

    src = str(tmp_path / "multi")
    spark.range(4000).repartition(4).write.parquet(src)
    df = spark.read.parquet(src)
    sizes = [os.path.getsize(f.removeprefix("file:")) for f in df.inputFiles()]
    assert len(sizes) == 4

    stat_calls: list[str] = []
    real_stat = os.stat

    def counting_stat(path, *args, **kwargs):
        if src in str(path):
            stat_calls.append(str(path))
        return real_stat(path, *args, **kwargs)

    monkeypatch.setattr(os, "stat", counting_stat)

    # threshold below one file: the first stat decides "pin"
    pinned = materialize.pin_if_input_large(
        df, df, threshold_bytes=min(sizes) - 1
    )
    assert pinned is not df
    assert len(stat_calls) == 1

    # threshold above the total: every file is stat-ed, pin skipped
    stat_calls.clear()
    assert materialize.pin_if_input_large(df, df, threshold_bytes=10**12) is df
    assert len(stat_calls) == len(sizes)

    # the public size scan still reports the full total
    stat_calls.clear()
    assert materialize.scan_input_bytes(df) == sum(sizes)
    assert len(stat_calls) == len(sizes)


def test_cc_star_branches_label_identically(spark, cc_star_sides):
    from compile_time_data_contracts_spark.operators.dedup import (
        connected_components_star,
    )

    # a hub with leaves on both sides of its id, a chain, a pair and a
    # self-loop singleton
    edges = [(50, leaf) for leaf in (3, 7, 60, 70, 80)]
    edges += [(i, i + 1) for i in range(100, 110)]
    edges += [(200, 201), (300, 300)]
    df = spark.createDataFrame([Row(doc_a=a, doc_b=b) for a, b in edges])

    def labels(windowed_min_max_edges: int) -> dict:
        return {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components_star(
                df, windowed_min_max_edges=windowed_min_max_edges
            ).collect()
        }

    want = {n: 3 for n in (3, 7, 50, 60, 70, 80)}
    want.update({n: 100 for n in range(100, 111)})
    want.update({200: 200, 201: 200, 300: 300})
    # on the distributed side, an edge count > 0 takes groupBy + join
    # every round and 10**12 the window every round
    local, (group_by_join, window) = cc_star_sides(
        lambda: (labels(0), labels(10**12))
    )
    assert local == (want, want)
    assert group_by_join == window == want
