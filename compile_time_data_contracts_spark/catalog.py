"""Contract catalog for the analytic tables + contract-pinned loader.

Every table read goes through the typed-source path (explicit contract
schema on the scan + post-read pin, SparkCore.scala:346-352) — no schema
inference ever runs, and the explicit ReadSchema keeps column pruning
visible in `.explain`.

Schemas mirror FIXTURES.md §B (driver-provided parquet at
/root/testdata/<sf>/<table>.parquet).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from .contracts.shape import contract
from .contracts.types import float32, int32
from .sources.io import Source, read_df

import datetime

__all__ = ["TABLES", "load_table"]


@contract
@dataclass
class Region:
    r_regionkey: int32
    r_name: str


@contract
@dataclass
class Nation:
    n_nationkey: int32
    n_name: str
    n_regionkey: int32


@contract
@dataclass
class Customer:
    c_custkey: int
    c_name: str
    c_nationkey: int32
    c_acctbal: float
    c_mktsegment: str


@contract
@dataclass
class Supplier:
    s_suppkey: int
    s_name: str
    s_nationkey: int32
    s_acctbal: float


@contract
@dataclass
class Part:
    p_partkey: int
    p_name: str
    p_brand: str
    p_type: str
    p_size: int32
    p_retailprice: float


@contract
@dataclass
class Orders:
    o_orderkey: int
    o_custkey: int
    o_orderstatus: str
    o_totalprice: float
    o_orderdate: datetime.datetime
    o_orderpriority: str


@contract
@dataclass
class Lineitem:
    l_orderkey: int
    l_partkey: int
    l_suppkey: int
    l_linenumber: int32
    l_quantity: float
    l_extendedprice: float
    l_discount: float
    l_tax: float
    l_returnflag: str
    l_linestatus: str
    l_shipdate: datetime.datetime


@contract
@dataclass
class EventsRaw:
    """On-disk shape: the driver writes ts as parquet TIMESTAMP(NANOS),
    which Spark reads only as long (spark.sql.legacy.parquet.nanosAsLong);
    the loader converts to the semantic Events shape below."""

    event_id: int
    ts: int
    user_id: int
    event_type: str
    value: float
    props: str


@contract
@dataclass
class Events:
    event_id: int
    ts: datetime.datetime
    user_id: int
    event_type: str
    value: float
    props: str


@contract
@dataclass
class Documents:
    doc_id: int
    text: str
    lang: str
    source: str
    n_chars: int


@contract
@dataclass
class Embeddings:
    vec_id: int
    # parquet list elements are optional in the driver-written files; the
    # source pin enforces containsNull strictly, so declare it
    embedding: list[Optional[float32]]
    label: int32


TABLES: dict[str, type] = {
    "region": Region,
    "nation": Nation,
    "customer": Customer,
    "supplier": Supplier,
    "part": Part,
    "orders": Orders,
    "lineitem": Lineitem,
    "events": Events,
    "documents": Documents,
    "embeddings": Embeddings,
}


# (applicationId, path, stat fingerprint) -> legacy flag.  The footer
# probe is a driver-side file listing + footer parse paid by
# EVERY events load — hundreds of times per bench run for one immutable
# answer.  The fingerprint (mtime_ns, size of the file, or of the
# enclosing directory for glob paths) invalidates the entry if the
# table is regenerated mid-session; the applicationId key scopes the
# cached nanosAsLong session conf side effect to the session that set
# it (see the config-hygiene note below).
_EVENTS_LAYOUT_CACHE: dict = {}


def _path_stat_fingerprint(path: str) -> tuple:
    import glob as _glob
    import os

    try:
        if any(ch in path for ch in "*?["):
            hits = sorted(_glob.glob(path))
            return tuple(
                (p, os.stat(p).st_mtime_ns, os.stat(p).st_size)
                for p in hits
            )
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return ("unstattable",)


def events_ts_is_legacy_nanos(spark: SparkSession, path: str) -> bool:
    """The driver has shipped events.ts in two parquet layouts across
    rounds: TIMESTAMP(NANOS) (readable only as int64 under
    spark.sql.legacy.parquet.nanosAsLong) and plain TIMESTAMP(MICROS)
    NTZ.  Read the parquet footer schema with pyarrow (footer metadata
    only: no Spark job, no data scan) and report whether ``ts`` is
    ``timestamp[ns]``.  INT96 timestamps, Spark's own legacy writer
    format, read as micros here, as Spark reads them.  The verdict is
    cached per (session, path, file-stat fingerprint): the layout of an
    immutable path cannot change under a live session, so only the
    FIRST load pays the listing+footer read; a regenerated file (new
    mtime/size) re-probes.

    Config hygiene: only a LEGACY verdict sets nanosAsLong, a
    session-global read mode, and it stays set: every subsequent lazy
    scan of these events files (bench runs, gate queries, stream
    replays) executes under it.  A MICROS verdict leaves the session
    conf untouched."""
    import glob as _glob

    import pyarrow as pa
    import pyarrow.dataset as ds

    cache_key = (
        spark.sparkContext.applicationId,
        path,
        _path_stat_fingerprint(path),
    )
    legacy = _EVENTS_LAYOUT_CACHE.get(cache_key)
    if legacy is None:
        source = sorted(_glob.glob(path)) if any(
            ch in path for ch in "*?["
        ) else path
        fmt = ds.ParquetFileFormat(
            read_options={"coerce_int96_timestamp_unit": "us"}
        )
        ts = ds.dataset(source, format=fmt).schema.field("ts").type
        legacy = ts == pa.timestamp("ns")
        _EVENTS_LAYOUT_CACHE[cache_key] = legacy
    if legacy:
        # set on every call, cached or not: idempotent, and a session
        # that unset it in between still reads these files
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return legacy


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Contract-pinned parquet scan of one analytic table.

    events: layout-probed (see events_ts_is_legacy_nanos).  Legacy
    TIMESTAMP(NANOS) files read as long and convert with integer
    division (ts DIV 1000 — float division would lose precision above
    2^53 ns); micros files read directly under the semantic contract
    schema (the explicit TimestampType schema also normalizes an NTZ
    footer annotation).  Both paths re-pin against the Events contract.
    """
    from pyspark.sql import functions as F

    from .contracts.schema import spark_schema
    from .runtime.pins import assert_matches_contract

    if name == "events":
        path = f"{sf_dir}/events.parquet"
        if events_ts_is_legacy_nanos(spark, path):
            raw = read_df(spark, Source(EventsRaw, "parquet", path))
            df = raw.withColumn(
                "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
            )
        else:
            df = read_df(spark, Source(Events, "parquet", path))
        assert_matches_contract(df.schema, spark_schema(Events), context="events")
        return df
    return read_df(
        spark, Source(TABLES[name], "parquet", f"{sf_dir}/{name}.parquet")
    )
