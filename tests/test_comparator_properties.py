"""Property-based tests for the runtime StructType comparators
(R19-R25): the live-schema mirror of test_conforms_properties."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import types as T

from compile_time_data_contracts_spark.runtime.comparator import (
    RuntimeSchemaComparator as C,
    compare_data_type,
    duplicate_names,
)
from compile_time_data_contracts_spark.runtime.pins import (
    SchemaMismatchError,
    assert_matches_contract,
)

PRIMS = [
    T.StringType(),
    T.IntegerType(),
    T.LongType(),
    T.DoubleType(),
    T.BooleanType(),
    T.DateType(),
    T.TimestampType(),
]


def dtypes(depth: int = 2):
    prim = st.sampled_from(PRIMS)
    if depth == 0:
        return prim
    inner = dtypes(depth - 1)
    return st.one_of(
        prim,
        st.tuples(inner, st.booleans()).map(
            lambda t: T.ArrayType(t[0], t[1])
        ),
        st.tuples(st.sampled_from([T.StringType(), T.LongType()]),
                  inner, st.booleans()).map(
            lambda t: T.MapType(t[0], t[1], t[2])
        ),
        structs(depth - 1),
    )


def structs(depth: int = 2):
    names = st.lists(
        st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1,
                max_size=8),
        min_size=1,
        max_size=5,
        unique_by=lambda s: s.lower(),
    )
    return names.flatmap(
        lambda ns: st.tuples(
            *[
                st.tuples(dtypes(depth), st.booleans()).map(
                    lambda t, n=n: T.StructField(n, t[0], t[1])
                )
                for n in ns
            ]
        ).map(lambda fs: T.StructType(list(fs)))
    )


@settings(max_examples=60, deadline=None)
@given(structs())
def test_reflexivity_all_strategies(s):
    assert C.unordered(s, s)
    assert C.ordered(s, s)
    assert C.by_position(s, s)
    assert C.backward(s, s)
    assert C.forward(s, s)


@settings(max_examples=60, deadline=None)
@given(structs())
def test_unordered_ignores_order_ordered_does_not(s):
    rev = T.StructType(list(reversed(s.fields)))
    assert C.unordered(rev, s)
    same_names = [f.name for f in rev.fields] == [f.name for f in s.fields]
    assert C.ordered(rev, s) == same_names


@settings(max_examples=60, deadline=None)
@given(structs())
def test_field_nullability_never_matters(s):
    """Quirk 1 at runtime: StructField.nullable is ignored by every
    comparator (SparkCore.scala:132-147 never reads it)."""
    flipped = T.StructType(
        [
            T.StructField(f.name, f.dataType, not f.nullable, f.metadata)
            for f in s.fields
        ]
    )
    assert C.unordered(flipped, s)
    assert C.ordered(flipped, s)
    assert C.by_position(flipped, s)
    assert C.forward(flipped, s)


@settings(max_examples=60, deadline=None)
@given(structs())
def test_backward_allows_extras_forward_rejects_them(s):
    extra = T.StructType(
        list(s.fields) + [T.StructField("zzextra", T.StringType(), True)]
    )
    assert C.backward(s, extra)  # found=extra has extras -> fine
    assert not C.forward(s, extra)  # found has unknown field -> reject
    assert not C.unordered(s, extra)


@settings(max_examples=60, deadline=None)
@given(structs())
def test_backward_missing_gated_by_nullability(s):
    """A required (non-nullable, no-default) expected field missing from
    found fails Backward; a nullable one is allowed absent."""
    required = T.StructType(
        list(s.fields) + [T.StructField("zzreq", T.LongType(), False)]
    )
    optional = T.StructType(
        list(s.fields) + [T.StructField("zzopt", T.LongType(), True)]
    )
    assert not C.backward(required, s)
    assert C.backward(optional, s)


@settings(max_examples=60, deadline=None)
@given(structs())
def test_duplicate_names_fail_unordered(s):
    dup = T.StructType(
        list(s.fields)
        + [
            T.StructField("DupCol", T.StringType(), True),
            T.StructField("dupcol", T.LongType(), True),
        ]
    )
    assert duplicate_names(dup)
    assert not C.unordered(dup, dup)


@settings(max_examples=60, deadline=None)
@given(dtypes())
def test_nested_contains_null_strict(dt):
    """Quirk 2 at runtime: ArrayType.containsNull / MapType.
    valueContainsNull must match exactly inside compare_data_type."""
    a = T.ArrayType(dt, True)
    b = T.ArrayType(dt, False)
    assert compare_data_type(a, a)
    assert not compare_data_type(a, b)
    m1 = T.MapType(T.StringType(), dt, True)
    m2 = T.MapType(T.StringType(), dt, False)
    assert not compare_data_type(m1, m2)


# ---- double-derivation consistency: the property the reference's whole
# ---- architecture rests on (one contract drives both the construction-
# ---- time proof and the runtime pin; they must agree)

from compile_time_data_contracts_spark.contracts.conforms import conforms
from compile_time_data_contracts_spark.contracts.policies import SchemaPolicy
from compile_time_data_contracts_spark.contracts.schema import (
    HAS_DEFAULT_KEY,
    spark_schema,
)


def _contract_structs(depth: int = 2):
    """Bounded-depth recursive StructType generator, each field with a
    drawn ``nullable`` and ``ctdc.hasDefault`` as ``@contract`` derives
    them: leaves, arrays, AND nested StructTypes (also wrapped in arrays
    and map values), so the agreement property exercises the mode-aware
    nested-struct recursion of both layers — a flat-only generator
    cannot catch nested-mode divergence.  Names are unique only
    case-sensitively and drawn from a small mixed-case alphabet, so
    ``id``/``ID``-style groups (duplicates under the case-insensitive
    policies) and cross-side name overlaps are common."""
    names = st.lists(
        st.text(alphabet="abAB", min_size=1, max_size=2),
        min_size=1,
        max_size=4,
        unique=True,
    )
    leaf = st.sampled_from(
        [T.StringType(), T.IntegerType(), T.LongType(), T.DoubleType(),
         T.BooleanType()]
    )
    options = [
        leaf,
        st.tuples(leaf, st.booleans()).map(
            lambda t: T.ArrayType(t[0], t[1])
        ),
    ]
    if depth > 0:
        inner = _contract_structs(depth - 1)
        options.append(inner)
        options.append(
            st.tuples(inner, st.booleans()).map(
                lambda t: T.ArrayType(t[0], t[1])
            )
        )
        options.append(
            st.tuples(inner, st.booleans()).map(
                lambda t: T.MapType(T.StringType(), t[0], t[1])
            )
        )
    data_type = st.one_of(*options)
    return names.flatmap(
        lambda ns: st.tuples(
            *[
                st.tuples(data_type, st.booleans(), st.booleans()).map(
                    lambda t, n=n: T.StructField(
                        n, t[0], t[1], {HAS_DEFAULT_KEY: t[2]}
                    )
                )
                for n in ns
            ]
        ).map(lambda fs: T.StructType(list(fs)))
    )


@settings(max_examples=80, deadline=None)
@given(_contract_structs(), _contract_structs())
def test_compile_and_runtime_verdicts_agree(a, b):
    """conforms(producer, expected, policy).ok must equal the runtime
    comparator's verdict over the derived StructTypes, for all eight
    policies, and the pin must raise exactly when conforms reports drift,
    with the report's drift lines in its message.  Each contract is also
    checked against itself: a case-insensitive duplicate group must fail
    both layers under the case-insensitive by-name policies."""
    for prod, exp in ((a, b), (a, a)):
        sa, sb = spark_schema(prod), spark_schema(exp)
        cases = [
            (SchemaPolicy.EXACT, lambda: C.unordered(sb, sa)),
            (SchemaPolicy.EXACT_UNORDERED_CI, lambda: C.unordered(sb, sa, True)),
            (SchemaPolicy.EXACT_ORDERED, lambda: C.ordered(sb, sa, False)),
            (SchemaPolicy.EXACT_ORDERED_CI, lambda: C.ordered(sb, sa, True)),
            (SchemaPolicy.BACKWARD, lambda: C.backward(sb, sa)),
            (SchemaPolicy.FORWARD, lambda: C.forward(sb, sa)),
            (SchemaPolicy.EXACT_BY_POSITION, lambda: C.by_position(sb, sa)),
            (SchemaPolicy.FULL, lambda: True),
        ]
        for policy, runtime in cases:
            report = conforms(prod, exp, policy, raise_on_drift=False)
            compile_ok = report.ok
            assert compile_ok == runtime(), (
                f"{policy}: compile={compile_ok} runtime={not compile_ok}\n"
                f"A={prod.simpleString()}\nB={exp.simpleString()}"
            )
            assert compile_ok == C.matches(sb, sa, policy), policy
            if report.ok:
                assert_matches_contract(sa, exp, policy)
                continue
            with pytest.raises(SchemaMismatchError) as exc:
                assert_matches_contract(sa, exp, policy)
            for line in report.render().splitlines()[1:]:
                assert line in str(exc.value), policy
