"""Parquet sinks learn which dictionaries Parquet throws away.

A sink's first write in the process is made with Parquet's defaults;
the leaf columns whose chunks carry no dictionary page there get
``parquet.enable.dictionary#<column>=false`` on every later write of the
same sink, which writes the same bytes.  Also: the benchmark's contract
pipeline (ingest and flatten) runs exactly two Spark jobs a pass.
"""

from __future__ import annotations

import csv
import hashlib
import os
import re
from dataclasses import dataclass
from typing import Optional

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from compile_time_data_contracts_spark import (
    PipelineBuilder,
    SchemaPolicy,
    Sink,
    Source,
    contract,
    write_df,
)
from compile_time_data_contracts_spark.contracts.schema import spark_schema
from compile_time_data_contracts_spark.contracts.types import int32
from compile_time_data_contracts_spark.sources import io as sink_io


@contract
@dataclass
class Reading:
    id: int
    kind: str
    x: float
    bucket: int32


def _readings(spark):
    """A unique id, a 5-value string, a unique double and a 3-value
    partition column: Parquet keeps ``kind``'s and ``bucket``'s
    dictionaries only."""
    kinds = F.array(*[F.lit(k) for k in ("alpha", "beta", "gamma", "delta", "eps")])
    return spark.range(0, 20_000, 1, 4).select(
        "id",
        F.element_at(kinds, (F.col("id") % 5 + 1).cast("int")).alias("kind"),
        (F.sqrt("id") * 1.7).alias("x"),
        (F.col("id") % 3).cast("int").alias("bucket"),
    )


_TASK = re.compile(r"(part-\d+)-[0-9a-f-]{36}(.*)")


def _md5_per_task(path: str) -> dict[str, str]:
    """md5 of each data file, keyed by its partition directory and task
    (the write's job id left out of the name)."""
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                m = _TASK.fullmatch(n)
                key = os.path.join(os.path.relpath(d, path), m[1] + m[2])
                with open(os.path.join(d, n), "rb") as f:
                    out[key] = hashlib.md5(f.read()).hexdigest()
    return out


def _encodings(path: str, column: str) -> set[str]:
    """Every encoding ``column``'s chunks use across the sink's files."""
    found = set()
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                meta = pq.read_metadata(os.path.join(d, n))
                for g in range(meta.num_row_groups):
                    group = meta.row_group(g)
                    for i in range(group.num_columns):
                        if group.column(i).path_in_schema == column:
                            found.update(group.column(i).encodings)
    return found


def _learns_ids_and_doubles(spark, sink: Sink) -> None:
    df = _readings(spark)
    key = (os.path.abspath(sink.path), Reading)
    write_df(df, sink)
    first = _md5_per_task(sink.path)
    assert sink_io._PLAIN_COLUMNS[key] == {"id", "x"}
    write_df(df, sink)
    assert _md5_per_task(sink.path) == first
    assert len(first) >= 4
    assert "PLAIN_DICTIONARY" in _encodings(sink.path, "kind")
    # the learned setting reaches Parquet: a learned kind goes PLAIN
    sink_io._PLAIN_COLUMNS[key] = frozenset({"id", "x", "kind"})
    write_df(df, sink)
    assert "PLAIN_DICTIONARY" not in _encodings(sink.path, "kind")


def test_overwrite_sink_learns_plain_columns(spark, tmp_path):
    _learns_ids_and_doubles(spark, Sink(Reading, str(tmp_path / "readings")))


def test_partitioned_sink_learns_plain_columns(spark, tmp_path):
    _learns_ids_and_doubles(
        spark, Sink(Reading, str(tmp_path / "by_bucket"), partition_by=("bucket",))
    )


def test_caller_dictionary_options_disable_learning(spark, tmp_path):
    """Options that name a ``parquet.enable.dictionary`` key are the
    caller's: nothing is learned for the sink and nothing learned is
    added, even when the same path and contract learned before."""
    df = _readings(spark)
    path = str(tmp_path / "own")
    key = (os.path.abspath(path), Reading)
    sink = Sink(Reading, path, options={"parquet.enable.dictionary#kind": "true"})
    write_df(df, sink)
    write_df(df, sink)
    assert key not in sink_io._PLAIN_COLUMNS
    sink_io._PLAIN_COLUMNS[key] = frozenset({"kind"})
    write_df(df, sink)
    assert "PLAIN_DICTIONARY" in _encodings(path, "kind")
    plain = Sink(Reading, path, options={"parquet.enable.dictionary": "false"})
    write_df(df, plain)
    assert "PLAIN_DICTIONARY" not in _encodings(path, "kind")
    assert sink_io._PLAIN_COLUMNS[key] == {"kind"}


class _RecordingWriter:
    """Stands in for ``df.write``: records the options and the save."""

    def __init__(self, log):
        self.log = log

    def format(self, _):
        return self

    def mode(self, _):
        return self

    def partitionBy(self, *_):
        return self

    def options(self, **kw):
        self.log.update(kw)
        return self

    def option(self, k, v):
        self.log[k] = v
        return self

    def save(self, path):
        self.log["saved"] = path


class _RemoteFrame:
    def __init__(self, log):
        self.schema = spark_schema(Reading)
        self.columns = self.schema.names
        self.write = _RecordingWriter(log)


def test_remote_uri_learns_nothing():
    """A sink on a filesystem this process cannot read learns nothing and
    gets nothing added (no connection is made: the frame is a stub)."""
    before = dict(sink_io._PLAIN_COLUMNS)
    for _ in range(2):
        log = {}
        write_df(_RemoteFrame(log), Sink(Reading, "s3a://bucket/readings"))
        assert log == {"saved": "s3a://bucket/readings"}
    assert sink_io._PLAIN_COLUMNS == before


# the benchmark's contract pipeline, its shapes rebuilt here


@contract
@dataclass
class AccountRow:
    id: int
    email: str
    age: Optional[int]
    street: str
    city: str
    zip: Optional[int]
    lat: float
    lon: float
    kind: str
    at: int
    tag_a: Optional[str]
    tag_b: Optional[str]
    attr_key: str
    attr_value: str
    metric_a: Optional[int]
    metric_b: Optional[int]
    amount_cents: int


@contract
@dataclass
class Geo:
    lat: float
    lon: float


@contract
@dataclass
class Address:
    street: str
    city: str
    zip: Optional[int]
    geo: Geo


@contract
@dataclass
class Event:
    kind: str
    at: int
    tags: list[Optional[str]]
    attrs: dict[str, str]


@contract
@dataclass
class Account:
    id: int
    email: str
    age: Optional[int]
    address: Address
    events: list[Event]
    metrics: dict[str, Optional[int]]
    amount_cents: int


@contract
@dataclass
class StoredEvent:
    kind: str
    at: int
    tags: Optional[list[Optional[str]]]
    attrs: Optional[dict[str, Optional[str]]]


@contract
@dataclass
class StoredAccount:
    id: int
    email: str
    age: Optional[int]
    address: Optional[Address]
    events: Optional[list[Optional[StoredEvent]]]
    metrics: Optional[dict[str, Optional[int]]]
    amount_cents: int


@contract
@dataclass
class AccountFlat:
    id: int
    email: str
    age: Optional[int]
    city: str
    zip: Optional[int]
    lat: float
    lon: float
    n_events: int32
    first_kind: str
    n_metrics: int32
    amount_cents: int
    bucket: int32


def _nest(df):
    return df.select(
        "id",
        "email",
        "age",
        F.struct("street", "city", "zip", F.struct("lat", "lon").alias("geo")).alias("address"),
        F.array(
            F.struct(
                "kind",
                "at",
                F.array("tag_a", "tag_b").alias("tags"),
                F.create_map("attr_key", F.coalesce("attr_value", F.lit(""))).alias("attrs"),
            )
        ).alias("events"),
        F.create_map(F.lit("a"), "metric_a", F.lit("b"), "metric_b").alias("metrics"),
        "amount_cents",
    )


def _flatten(df):
    return df.select(
        "id",
        "email",
        "age",
        F.col("address.city").alias("city"),
        F.col("address.zip").alias("zip"),
        F.col("address.geo.lat").alias("lat"),
        F.col("address.geo.lon").alias("lon"),
        F.size("events").alias("n_events"),
        F.col("events")[0]["kind"].alias("first_kind"),
        F.size("metrics").alias("n_metrics"),
        "amount_cents",
        (F.col("id") % 8).cast("int").alias("bucket"),
    )


def test_contract_pipeline_job_count(spark, tmp_path, marker_job):
    """The ingest (CSV -> nest -> Parquet, EXACT) and flatten (Parquet ->
    flatten -> partitioned Parquet, EXACT_ORDERED) pipelines cost one
    Spark job each once warm: every pin is a schema metadata check,
    and the sinks' footer reads run no job."""
    src = tmp_path / "accounts.csv"
    with open(src, "w", newline="") as f:
        out = csv.writer(f)
        out.writerow(spark_schema(AccountRow).names)
        for i in range(500):
            out.writerow(
                [i, f"u{i}@example.com", 20 + i % 50, f"{i} Main St",
                 ("Oslo", "Lima", "Pune")[i % 3], 10_000 + i, i * 0.013, -i * 0.007,
                 ("view", "buy")[i % 2], 1_700_000_000 + i, "t1", "", "k", "v",
                 i % 7, "", 100 * i]
            )
    nested, flat = str(tmp_path / "nested"), str(tmp_path / "flat")
    ingest = (
        PipelineBuilder("ingest")
        .add_source(Source(AccountRow, "csv", str(src), {"header": "true"}))
        .transform_as(Account, "nest", _nest)
        .add_sink(Sink(Account, nested), SchemaPolicy.EXACT)
        .build()
    )
    flatten = (
        PipelineBuilder("flatten")
        .add_source(Source(StoredAccount, "parquet", nested))
        .transform_as(AccountFlat, "flatten", _flatten)
        .add_sink(
            Sink(AccountFlat, flat, partition_by=("bucket",)),
            SchemaPolicy.EXACT_ORDERED,
        )
        .build()
    )
    ingest(spark)
    flatten(spark)  # warm: both sinks learn from this write
    first = marker_job()
    ingest(spark)
    flatten(spark)
    assert marker_job() - first - 1 == 2
    assert (os.path.abspath(nested), Account) in sink_io._PLAIN_COLUMNS
    assert (os.path.abspath(flat), AccountFlat) in sink_io._PLAIN_COLUMNS
