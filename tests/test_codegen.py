"""Contract source generation: schema -> dataclass source -> schema
round trip."""

from __future__ import annotations

import keyword

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import types as T

from compile_time_data_contracts_spark.contracts.codegen import (
    UnsupportedSchemaError,
    contract_source,
    load_contract,
)
from compile_time_data_contracts_spark.contracts.schema import spark_schema


def _strip_meta(s: T.StructType) -> T.StructType:
    def go(dt):
        if isinstance(dt, T.StructType):
            return T.StructType(
                [
                    T.StructField(f.name, go(f.dataType), f.nullable)
                    for f in dt.fields
                ]
            )
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(go(dt.elementType), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(go(dt.keyType), go(dt.valueType), dt.valueContainsNull)
        return dt

    return go(s)


def _roundtrip(schema: T.StructType) -> T.StructType:
    src = contract_source(schema, "Gen")
    return spark_schema(load_contract(src, "Gen"))


def test_flat_roundtrip():
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), False),
            T.StructField("score", T.DoubleType(), True),
            T.StructField("rank", T.IntegerType(), True),
            T.StructField("flag", T.BooleanType(), False),
        ]
    )
    assert _strip_meta(_roundtrip(schema)) == schema


def test_nested_roundtrip():
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField(
                "addr",
                T.StructType(
                    [
                        T.StructField("city", T.StringType(), False),
                        T.StructField("zip", T.IntegerType(), True),
                    ]
                ),
                False,
            ),
            T.StructField(
                "tags", T.ArrayType(T.StringType(), True), False
            ),
            T.StructField(
                "metrics",
                T.MapType(T.StringType(), T.IntegerType(), True),
                True,
            ),
        ]
    )
    assert _strip_meta(_roundtrip(schema)) == schema


# every contract leaf and every atomic map-key type
LEAVES = [
    T.StringType(), T.LongType(), T.IntegerType(), T.ShortType(),
    T.ByteType(), T.DoubleType(), T.FloatType(), T.BooleanType(),
    T.DecimalType(38, 18), T.DateType(), T.TimestampType(),
    T.TimestampNTZType(),
]
KEYS = [
    T.StringType(), T.IntegerType(), T.LongType(), T.ShortType(),
    T.ByteType(), T.BooleanType(),
]
# names the generated module also binds (annotations, imports,
# decorators) next to ordinary identifiers
NAMES = st.one_of(
    st.sampled_from(
        ["str", "int", "float", "bool", "Optional", "datetime", "decimal",
         "int32", "timestamp_ntz", "dataclass", "contract"]
    ),
    st.from_regex(r"[a-z][a-z0-9_]{0,6}", fullmatch=True).filter(
        lambda n: not keyword.iskeyword(n)
    ),
)


def data_types(depth: int = 2):
    leaf = st.sampled_from(LEAVES)
    if depth == 0:
        return leaf
    inner = data_types(depth - 1)
    return st.one_of(
        leaf,
        st.builds(T.ArrayType, inner, st.booleans()),
        st.builds(T.MapType, st.sampled_from(KEYS), inner, st.booleans()),
        struct_types(depth - 1),
    )


def struct_types(depth: int = 2):
    fields = st.lists(
        st.tuples(NAMES, data_types(depth), st.booleans()),
        min_size=1,
        max_size=5,
        unique_by=lambda t: t[0],
    )
    return fields.map(
        lambda fs: T.StructType([T.StructField(*f) for f in fs])
    )


@settings(max_examples=60, deadline=None)
@given(struct_types())
def test_roundtrip_property(schema):
    """Any schema over the contract leaves — nullable fields, nullable
    array elements and map values, nested structs, every atomic key —
    survives schema -> source -> contract -> schema, up to metadata."""
    assert _strip_meta(_roundtrip(schema)) == schema


def test_parquet_table_roundtrip(spark, sf_dir):
    """Generating a contract from a real table's schema reproduces it."""
    import os

    schema = spark.read.parquet(
        os.path.join(sf_dir, "customer.parquet")
    ).schema
    got = _strip_meta(_roundtrip(schema))
    # parquet reads are nullable everywhere; compare full trees
    assert got == _strip_meta(schema)


def test_rejects_unsupported():
    with pytest.raises(UnsupportedSchemaError, match="outside the closed"):
        contract_source(
            T.StructType([T.StructField("b", T.BinaryType(), False)])
        )
    with pytest.raises(UnsupportedSchemaError, match="not atomic"):
        contract_source(
            T.StructType(
                [
                    T.StructField(
                        "m",
                        T.MapType(T.DateType(), T.StringType()),
                        False,
                    )
                ]
            )
        )
    with pytest.raises(UnsupportedSchemaError, match="identifier"):
        contract_source(
            T.StructType([T.StructField("bad name", T.StringType(), False)])
        )
