"""Typed sources/sinks and contract-pinned IO.

Python re-expression of `TypedSource`/`TypedSink`/`TypedIO`
(SparkCore.scala:24-29, 346-367):

  * sources are NEVER schema-inferred — every read passes the
    contract-derived explicit StructType (SparkCore.scala:349-350), which
    also skips Spark's costly CSV/JSON inference job,
  * the loaded DataFrame's schema is re-validated immediately after read
    (SparkCore.scala:351),
  * sinks policy-pin the frame before writing (SparkCore.scala:355-360).

All pins are schema metadata checks that read no rows; the write itself
is ``df.write`` with the sink's format, mode, options and partitioning,
so Catalyst/Tungsten own the data path.  One setting is added to it:

  * a Parquet sink remembers, per process, the leaf columns for which
    its first write in this process kept no dictionary page (parquet-mr
    builds a dictionary for every column, then abandons it and re-encodes
    the values PLAIN when the column has too many distinct values), and
    later writes of that sink switch those columns' dictionaries off
    (``parquet.enable.dictionary#<column>=false``).  For the same data
    the files are the same bytes: a dictionary that falls back on its
    first page cuts pages by the raw values' size, as PLAIN does.  What
    goes is the hash map built and thrown away per column chunk.
  * The record is learned once, from the footers of the files the first
    write left (pyarrow, in this process: no Spark job), only on local
    paths and only when the sink's options name no
    ``parquet.enable.dictionary`` key; a sink whose options do name one
    gets nothing added.
  * Staleness bound: if a sink's data changes character within one
    process, a learned column stays PLAIN until the process ends.  Such a
    file is valid and possibly larger, never wrong.
"""

from __future__ import annotations

import dataclasses
import os
import typing

from pyspark.sql import DataFrame, SparkSession

from ..contracts.policies import SchemaPolicy
from ..contracts.schema import spark_schema
from ..runtime.pins import assert_matches_contract

__all__ = ["Source", "Sink", "read_df", "write_df"]


@dataclasses.dataclass(frozen=True)
class Source:
    """TypedSource[C] (SparkCore.scala:24-26)."""

    contract: type
    format: str
    path: str
    options: typing.Mapping[str, str] = dataclasses.field(default_factory=dict)


@dataclasses.dataclass(frozen=True)
class Sink:
    """TypedSink[C] (SparkCore.scala:27-29); default mode Overwrite.

    ``partition_by`` produces a hive-layout directory tree
    (col=value/...), the standard 100 TB sink layout: readers filtering
    on the partition column prune entire directories before any file is
    opened (partition pruning shows as ``PartitionFilters`` in
    ``.explain``).  Partition columns must exist in the contract."""

    contract: type
    path: str
    mode: str = "overwrite"
    format: str = "parquet"
    options: typing.Mapping[str, str] = dataclasses.field(default_factory=dict)
    partition_by: tuple[str, ...] = ()

    def __post_init__(self) -> None:
        # contract-membership is a CONSTRUCTION-time property (the
        # repo's refuse-early ethos): a Sink declaring a partition
        # column the contract lacks is wrong independent of any frame,
        # and under a lenient policy (FULL/BACKWARD) the first write's
        # df.columns check could otherwise mis-blame the frame
        if self.partition_by:
            names = set(spark_schema(self.contract).names)
            missing = set(self.partition_by) - names
            if missing:
                raise ValueError(
                    f"sink {self.path}: partition columns not in "
                    f"contract {self.contract.__name__}: {sorted(missing)}"
                )


def read_df(spark: SparkSession, source: Source) -> DataFrame:
    """`TypedIO.readDF` (SparkCore.scala:346-352): explicit contract schema
    on the scan + immediate default pin.  For self-describing formats
    (parquet/orc) the explicit schema still prunes columns at the scan."""
    schema = spark_schema(source.contract)
    df = (
        spark.read.format(source.format)
        .options(**dict(source.options))
        .schema(schema)
        .load(source.path)
    )
    assert_matches_contract(
        df.schema, schema, SchemaPolicy.EXACT_UNORDERED_CI, context=f"source {source.path}"
    )
    return df


def write_df(
    df: DataFrame, sink: Sink, policy: SchemaPolicy = SchemaPolicy.EXACT_UNORDERED_CI
) -> None:
    """`TypedIO.writeDF` (SparkCore.scala:355-360): policy pin, then write.

    A Parquet sink on a local path learns from its first write in this
    process which leaf columns Parquet wrote without a dictionary page
    (read from the footers of the files that write left), and every
    later write of the same sink path and contract switches those
    columns' dictionaries off, which writes the same bytes for the same
    data with less CPU and heap.  Options that name any ``parquet.enable.dictionary`` key
    turn this off for the sink: the caller's setting wins.  Staleness:
    if the data changes character within one process, a learned column
    stays PLAIN until the process ends — a valid, possibly larger file,
    never a wrong one."""
    assert_matches_contract(
        df.schema, spark_schema(sink.contract), policy, context=f"sink {sink.path}"
    )
    if sink.partition_by:
        # contract membership was validated at Sink construction; this
        # guards the FRAME (a lenient policy can admit a frame missing
        # a contract column the layout partitions on)
        missing = set(sink.partition_by) - set(df.columns)
        if missing:
            raise ValueError(
                f"sink {sink.path}: partition columns missing from the "
                f"frame being written: {sorted(missing)}"
            )
    key = _learning_key(sink)
    learned = _PLAIN_COLUMNS.get(key) if key is not None else None
    writer = (
        df.write.format(sink.format)
        .mode(sink.mode)
        .options(**dict(sink.options))
    )
    for column in learned or ():
        writer = writer.option(f"{_DICTIONARY_KEY}#{column}", "false")
    if sink.partition_by:
        writer = writer.partitionBy(*sink.partition_by)
    # learn from a write made with Parquet's defaults only; two first
    # writes racing in one process may both learn, and either record holds
    learning = key is not None and learned is None
    before = _data_files(key[0]) if learning else set()
    writer.save(sink.path)
    if learning:
        plain = _plain_columns(_data_files(key[0]) - before)
        if plain is not None:
            _PLAIN_COLUMNS[key] = plain


_DICTIONARY_KEY = "parquet.enable.dictionary"

# (resolved local sink path, sink contract) -> the leaf column paths that
# the sink's first write in this process wrote without a dictionary page
_PLAIN_COLUMNS: dict[tuple[str, type], frozenset[str]] = {}


def _learning_key(sink: Sink) -> typing.Optional[tuple[str, type]]:
    """The key ``sink``'s learned columns are kept under, or None when
    the sink takes no part: not Parquet, not a local path (as in
    ``materialize.path_bytes``, a remote URI is not read here), or
    options that name a dictionary setting, which are the caller's."""
    if sink.format.lower() != "parquet" or any(
        k.startswith(_DICTIONARY_KEY) for k in sink.options
    ):
        return None
    path = sink.path.removeprefix("file:")
    if "://" in path:
        return None
    return os.path.abspath(path), sink.contract


def _data_files(root: str) -> set[str]:
    """The Parquet data files under ``root``, partition directories
    included; Spark's hidden ``_``/``.`` files and directories are not
    data."""
    found = set()
    for d, dirs, names in os.walk(root):
        dirs[:] = [n for n in dirs if not n.startswith(("_", "."))]
        found.update(
            os.path.join(d, n)
            for n in names
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        )
    return found


def _plain_columns(files: set[str]) -> typing.Optional[frozenset[str]]:
    """The leaf column paths with no dictionary page in any column chunk
    of ``files``, read from their footers; None when the files hold no
    row group (nothing to learn from) or a footer cannot be read."""
    import pyarrow.parquet as pq

    seen: set[str] = set()
    with_dictionary: set[str] = set()
    try:
        for f in files:
            meta = pq.read_metadata(f)
            for g in range(meta.num_row_groups):
                group = meta.row_group(g)
                for i in range(group.num_columns):
                    chunk = group.column(i)
                    seen.add(chunk.path_in_schema)
                    if chunk.has_dictionary_page:
                        with_dictionary.add(chunk.path_in_schema)
    except (OSError, ValueError):  # a file gone or not Parquet
        return None
    if not seen:
        return None
    return frozenset(seen - with_dictionary)
