"""Property-based tests for the conformance prover.

The reference's suite is an example matrix (SchemaConformsSpec.scala); these
properties cover the algebra the examples sample: reflexivity under every
policy, reorder (in)sensitivity, subset semantics of Backward/Forward, Full's
universal acceptance, field-optionality invariance (quirk 1) vs nested
collection-optionality strictness (quirk 2), all over randomized StructType trees.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass
from typing import Optional

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import types as T

from compile_time_data_contracts_spark.contracts.conforms import (
    ContractDriftError,
    conforms,
)
from compile_time_data_contracts_spark.contracts.policies import SchemaPolicy
from compile_time_data_contracts_spark.contracts.schema import (
    HAS_DEFAULT_KEY,
    spark_schema,
)
from compile_time_data_contracts_spark.contracts.shape import contract
from compile_time_data_contracts_spark.contracts.types import int32

PRIMS = [
    T.StringType(),
    T.IntegerType(),
    T.LongType(),
    T.DoubleType(),
    T.BooleanType(),
    T.DateType(),
    T.TimestampType(),
]
ATOMIC_KEYS = [T.StringType(), T.IntegerType(), T.LongType()]


def _field(name, dt, nullable=False, has_default=False):
    return T.StructField(name, dt, nullable, {HAS_DEFAULT_KEY: has_default})


def data_types(depth: int = 2):
    prim = st.sampled_from(PRIMS)
    if depth == 0:
        return prim
    inner = data_types(depth - 1)
    return st.one_of(
        prim,
        st.tuples(inner, st.booleans()).map(
            lambda t: T.ArrayType(t[0], t[1])
        ),
        st.tuples(st.sampled_from(ATOMIC_KEYS), inner, st.booleans()).map(
            lambda t: T.MapType(t[0], t[1], t[2])
        ),
        struct_types(depth - 1),
    )


def struct_types(depth: int = 2):
    """StructTypes as ``@contract`` derives them: every field carries a
    drawn ``nullable`` (field ``Optional``) and ``ctdc.hasDefault``."""
    names = st.lists(
        st.text(
            alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=8
        ),
        min_size=1,
        max_size=5,
        unique_by=lambda s: s.lower(),
    )
    return names.flatmap(
        lambda ns: st.tuples(
            *[
                st.tuples(data_types(depth), st.booleans(), st.booleans()).map(
                    lambda t, n=n: _field(n, t[0], t[1], t[2])
                )
                for n in ns
            ]
        ).map(lambda fs: T.StructType(list(fs)))
    )


def _with(s: T.StructType, *fields: T.StructField) -> T.StructType:
    return T.StructType(list(s.fields) + list(fields))


ALL_POLICIES = list(SchemaPolicy)


@settings(max_examples=60, deadline=None)
@given(struct_types(), st.sampled_from(ALL_POLICIES))
def test_reflexivity(s, policy):
    """Every contract conforms to itself under every policy."""
    assert conforms(s, s, policy).ok


@settings(max_examples=60, deadline=None)
@given(struct_types())
def test_reorder_invariance_unordered_sensitivity_ordered(s):
    """Reversing field order never breaks unordered policies; ordered
    policies reject iff the name sequence actually changed."""
    rev = T.StructType(list(reversed(s.fields)))
    assert conforms(rev, s, SchemaPolicy.EXACT, raise_on_drift=False).ok
    assert conforms(
        rev, s, SchemaPolicy.EXACT_UNORDERED_CI, raise_on_drift=False
    ).ok
    ordered_ok = conforms(
        rev, s, SchemaPolicy.EXACT_ORDERED, raise_on_drift=False
    ).ok
    assert ordered_ok == (
        [f.name for f in rev.fields] == [f.name for f in s.fields]
    )


@settings(max_examples=60, deadline=None)
@given(struct_types(), struct_types())
def test_full_accepts_anything(a, b):
    assert conforms(a, b, SchemaPolicy.FULL).ok


@settings(max_examples=60, deadline=None)
@given(struct_types())
def test_backward_allows_producer_extras(s):
    """A producer with extra fields backward-conforms to the original."""
    extra = _with(s, _field("zzextra", T.StringType()))
    assert conforms(extra, s, SchemaPolicy.BACKWARD).ok
    # ...but EXACT rejects the extra
    assert not conforms(extra, s, SchemaPolicy.EXACT, raise_on_drift=False).ok


@settings(max_examples=60, deadline=None)
@given(struct_types())
def test_backward_missing_required_field_drifts(s):
    """Dropping a required (non-optional, no-default) contract field from
    the producer breaks Backward; dropping an optional one does not."""
    required = _with(s, _field("zzreq", T.LongType()))
    assert not conforms(
        s, required, SchemaPolicy.BACKWARD, raise_on_drift=False
    ).ok
    optional = _with(s, _field("zzopt", T.LongType(), nullable=True))
    assert conforms(s, optional, SchemaPolicy.BACKWARD).ok


@settings(max_examples=60, deadline=None)
@given(struct_types())
def test_forward_is_subset_semantics(s):
    """A producer subset forward-conforms; a producer extra breaks it."""
    if len(s.fields) > 1:
        subset = T.StructType(s.fields[:-1])
        assert conforms(subset, s, SchemaPolicy.FORWARD).ok
    extra = _with(s, _field("zzextra", T.StringType()))
    assert not conforms(
        extra, s, SchemaPolicy.FORWARD, raise_on_drift=False
    ).ok


@settings(max_examples=60, deadline=None)
@given(struct_types(), st.sampled_from(ALL_POLICIES))
def test_field_optionality_invariance(s, policy):
    """Quirk 1: Option[T] vs T at field level never affects conformance —
    nullable/hasDefault are metadata, compared on the unwrapped type."""
    flipped = T.StructType(
        [_field(f.name, f.dataType, not f.nullable, True) for f in s.fields]
    )
    assert conforms(flipped, s, policy).ok


@settings(max_examples=60, deadline=None)
@given(struct_types())
def test_nested_contains_null_is_strict(s):
    """Quirk 2: containsNull INSIDE a sequence participates in comparison
    under every exact policy."""
    a = _with(s, _field("zzseq", T.ArrayType(T.IntegerType(), False)))
    b = _with(s, _field("zzseq", T.ArrayType(T.IntegerType(), True)))
    for policy in (
        SchemaPolicy.EXACT,
        SchemaPolicy.EXACT_ORDERED,
        SchemaPolicy.EXACT_BY_POSITION,
        SchemaPolicy.BACKWARD,
        SchemaPolicy.FORWARD,
    ):
        report = conforms(a, b, policy, raise_on_drift=False)
        assert not report.ok, policy
        assert report.mismatch


@settings(max_examples=60, deadline=None)
@given(struct_types())
def test_rename_reports_missing_and_extra(s):
    """Renaming a field under EXACT yields exactly one missing and one
    extra drift, with the renderable paths."""
    first = s.fields[0]
    renamed = T.StructType(
        [T.StructField("zzrenamed", first.dataType, first.nullable, first.metadata)]
        + s.fields[1:]
    )
    with pytest.raises(ContractDriftError) as exc:
        conforms(renamed, s, SchemaPolicy.EXACT)
    msg = str(exc.value)
    assert "Missing attributes" in msg
    assert "Extra attributes" in msg
    assert "zzrenamed" in msg


@contract
@dataclass
class Address:
    city: str
    zip: Optional[int32] = None


@contract
@dataclass
class Order:
    id: int
    placed: datetime.date
    address: Address
    tags: list[Optional[str]]


def test_live_schema_drift_names_path():
    """A live schema (as a Parquet read returns it: nullable everywhere,
    no metadata) is checked against the contract class directly; the
    drift names the nested path."""
    live = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("placed", T.DateType()),
            T.StructField(
                "address",
                T.StructType(
                    [
                        T.StructField("city", T.StringType()),
                        T.StructField("zip", T.LongType()),
                    ]
                ),
            ),
            T.StructField("tags", T.ArrayType(T.StringType(), True)),
        ]
    )
    with pytest.raises(ContractDriftError) as exc:
        conforms(live, Order, SchemaPolicy.EXACT)
    assert "  - address.zip: expected int, found long" in str(exc.value)


@pytest.mark.parametrize("policy", ALL_POLICIES)
def test_derived_schema_conforms_to_its_contract(policy):
    assert conforms(spark_schema(Order), Order, policy).ok
