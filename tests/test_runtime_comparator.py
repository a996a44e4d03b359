"""Runtime comparator matrix over hand-built StructTypes.

Port of /root/reference/src/test/scala/ctdc/SparkRuntimeSpec.scala.  The
comparators are pure functions over StructType metadata, so no SparkSession
is required (the reference uses empty DataFrames purely as schema carriers,
SparkRuntimeSpec.scala:26-27).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import types as T

from compile_time_data_contracts_spark import (
    RuntimeSchemaComparator as C,
    SchemaPolicy,
    SchemaMismatchError,
    assert_matches_contract,
    compare_data_type,
)
from compile_time_data_contracts_spark.contracts.schema import (
    HAS_DEFAULT_KEY,
    spark_schema,
)
from compile_time_data_contracts_spark.contracts.shape import contract

import pytest


def _s(*fields: T.StructField) -> T.StructType:
    return T.StructType(list(fields))


def _f(name, dt, nullable=False, has_default=False):
    return T.StructField(name, dt, nullable, metadata={HAS_DEFAULT_KEY: has_default})


BASE = _s(_f("id", T.LongType()), _f("email", T.StringType()))


# --- nested optionality (SparkRuntimeSpec.scala:29-63) ---------------------

def test_nested_collection_optionality_rejected():
    strict = _s(_f("values", T.ArrayType(T.IntegerType(), containsNull=False)))
    opt = _s(_f("values", T.ArrayType(T.IntegerType(), containsNull=True)))
    assert not C.unordered(strict, opt)
    assert not C.by_position(strict, opt)

    strict_m = _s(_f("m", T.MapType(T.StringType(), T.IntegerType(), False)))
    opt_m = _s(_f("m", T.MapType(T.StringType(), T.IntegerType(), True)))
    assert not C.unordered(strict_m, opt_m)


def test_struct_field_nullability_ignored():
    # SparkCore.scala:132-147 — nullable never inspected
    a = _s(_f("id", T.LongType(), nullable=False))
    b = _s(_f("id", T.LongType(), nullable=True))
    assert C.unordered(a, b)
    assert compare_data_type(
        T.StructType([T.StructField("x", T.LongType(), True)]),
        T.StructType([T.StructField("x", T.LongType(), False)]),
    )


# --- duplicate names (SparkRuntimeSpec.scala:65-84) -------------------------

def test_ci_duplicates_fail_unordered():
    dup = _s(_f("Email", T.StringType()), _f("email", T.StringType()))
    assert not C.unordered(BASE, dup)
    assert not C.unordered(dup, BASE)
    with pytest.raises(SchemaMismatchError) as exc:
        assert_matches_contract(dup, BASE, SchemaPolicy.EXACT, context="test")
    assert "Duplicate field names (case-insensitive)" in str(exc.value)
    # Backward names are case-sensitive and by-position ignores names, so
    # 'Email'/'email' are no duplicates there and the message lists none
    for policy in (SchemaPolicy.BACKWARD, SchemaPolicy.EXACT_BY_POSITION):
        with pytest.raises(SchemaMismatchError) as exc:
            assert_matches_contract(dup, BASE, policy, context="test")
        assert "Duplicate field names" not in str(exc.value)
    same = _s(_f("email", T.StringType()), _f("email", T.StringType()))
    with pytest.raises(SchemaMismatchError) as exc:
        assert_matches_contract(same, BASE, SchemaPolicy.BACKWARD, context="test")
    assert "Duplicate field names (case-sensitive)" in str(exc.value)


def test_pin_message_names_the_failing_path():
    """A failing pin prints the drift report above the two trees, so a
    nested type drift is named by its path."""
    def schema(lat: T.DataType) -> T.StructType:
        geo = _s(_f("lat", lat), _f("lon", T.DoubleType()))
        return _s(
            _f("id", T.LongType()),
            _f("address", _s(_f("city", T.StringType()), _f("geo", geo))),
        )

    with pytest.raises(SchemaMismatchError) as exc:
        assert_matches_contract(
            schema(T.StringType()), schema(T.DoubleType()), SchemaPolicy.EXACT
        )
    msg = str(exc.value)
    assert "  - address.geo.lat: expected double, found string" in msg
    assert msg.index("address.geo.lat") < msg.index("Found schema:")


# --- ordered / orderedCI / unorderedCI (SparkRuntimeSpec.scala:104-187) ----

def test_order_case_matrix():
    reordered = _s(_f("email", T.StringType()), _f("id", T.LongType()))
    upper = _s(_f("ID", T.LongType()), _f("EMAIL", T.StringType()))
    type_drift = _s(_f("ID", T.LongType()), _f("EMAIL", T.IntegerType()))

    assert C.unordered(BASE, reordered, case_insensitive=True)
    assert C.unordered(BASE, upper, case_insensitive=True)
    assert not C.unordered(BASE, upper, case_insensitive=False)
    assert not C.unordered(BASE, type_drift, case_insensitive=True)

    assert not C.ordered(BASE, reordered)
    assert C.ordered(BASE, upper, case_insensitive=True)
    assert not C.ordered(BASE, upper, case_insensitive=False)
    assert not C.ordered(BASE, type_drift, case_insensitive=True)

    assert C.by_position(BASE, upper)  # names ignored
    assert not C.by_position(BASE, reordered)  # types at position differ
    assert not C.by_position(BASE, type_drift)


# --- backward (SparkRuntimeSpec.scala:189-282) ------------------------------

def test_backward_extras_allowed():
    found = _s(
        _f("id", T.LongType()), _f("email", T.StringType()), _f("extra", T.StringType())
    )
    assert C.backward(BASE, found)


def test_backward_missing_nullable_or_default_allowed():
    exp = _s(
        _f("id", T.LongType()),
        _f("age", T.IntegerType(), nullable=True),
        _f("region", T.StringType(), nullable=False, has_default=True),
    )
    found = _s(_f("id", T.LongType()))
    assert C.backward(exp, found)


def test_backward_missing_required_rejected():
    exp = _s(_f("id", T.LongType()), _f("email", T.StringType()))
    found = _s(_f("id", T.LongType()))
    assert not C.backward(exp, found)


def test_backward_metadata_fallback():
    # SparkRuntimeSpec.scala:251-282 — without hasDefault metadata, only
    # nullability allows absence
    exp_no_meta = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("region", T.StringType(), False),
        ]
    )
    found = _s(_f("id", T.LongType()))
    assert not C.backward(exp_no_meta, found)


def test_backward_recursive_into_structs():
    inner_exp = T.StructType(
        [
            T.StructField("street", T.StringType(), False),
            T.StructField("zip", T.StringType(), True),
        ]
    )
    inner_found = T.StructType([T.StructField("street", T.StringType(), False)])
    exp = _s(_f("id", T.LongType()), T.StructField("addr", inner_exp, False))
    found = _s(_f("id", T.LongType()), T.StructField("addr", inner_found, False))
    assert C.backward(exp, found)


# --- forward (SparkRuntimeSpec.scala:284-343) -------------------------------

def test_forward_subset_allowed_extras_rejected():
    subset = _s(_f("id", T.LongType()))
    superset = _s(
        _f("id", T.LongType()), _f("email", T.StringType()), _f("x", T.StringType())
    )
    assert C.forward(BASE, subset)
    assert not C.forward(BASE, superset)


def test_forward_recursive():
    inner_exp = T.StructType(
        [
            T.StructField("street", T.StringType(), False),
            T.StructField("zip", T.StringType(), True),
        ]
    )
    inner_found = T.StructType([T.StructField("street", T.StringType(), False)])
    exp = _s(T.StructField("addr", inner_exp, False))
    found = _s(T.StructField("addr", inner_found, False))
    assert C.forward(exp, found)


# --- deep nesting (SparkRuntimeSpec.scala:345-417) ---------------------------

def _deep(code_type: T.DataType) -> T.StructType:
    payload = T.StructType([T.StructField("code", code_type, False)])
    item = T.StructType(
        [
            T.StructField(
                "payload",
                T.MapType(T.StringType(), payload, valueContainsNull=True),
                False,
            )
        ]
    )
    return _s(_f("items", T.ArrayType(item, containsNull=False)))


def test_deep_nested_accept_and_reject():
    assert C.unordered(_deep(T.IntegerType()), _deep(T.IntegerType()))
    assert not C.unordered(_deep(T.IntegerType()), _deep(T.StringType()))


# --- full + dispatch (SparkRuntimeSpec.scala:419-432) ------------------------

def test_full_always_matches():
    other = _s(_f("anything", T.BooleanType()))
    assert C.matches(BASE, other, SchemaPolicy.FULL)


def test_policy_dispatch():
    upper = _s(_f("ID", T.LongType()), _f("EMAIL", T.StringType()))
    assert C.matches(BASE, upper, SchemaPolicy.EXACT)
    assert not C.matches(BASE, upper, SchemaPolicy.EXACT_ORDERED)
    assert C.matches(BASE, upper, SchemaPolicy.EXACT_ORDERED_CI)
    assert C.matches(BASE, upper, SchemaPolicy.EXACT_BY_POSITION)
    assert not C.matches(BASE, upper, SchemaPolicy.BACKWARD)  # CS names


# --- mode-aware nested recursion (SparkCore.scala:79-147: StructMode is
# --- threaded through compareDataType into nested structs) ------------------

NESTED_AB = _s(
    _f("id", T.LongType()),
    _f("geo", T.StructType([
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lon", T.DoubleType(), False),
    ])),
)
NESTED_BA = _s(
    _f("id", T.LongType()),
    _f("geo", T.StructType([
        T.StructField("lon", T.DoubleType(), False),
        T.StructField("lat", T.DoubleType(), False),
    ])),
)


def test_unordered_accepts_reordered_nested_struct():
    """ADVICE r1 (high): a reordered nested struct must pass the unordered
    runtime pin, matching the compile-time conforms verdict under Exact —
    the reference recurses compareStruct with UnorderedByName."""
    assert C.unordered(NESTED_AB, NESTED_BA)
    assert C.matches(NESTED_AB, NESTED_BA, SchemaPolicy.EXACT)


def test_ordered_rejects_reordered_nested_struct():
    assert not C.ordered(NESTED_AB, NESTED_BA)


def test_by_position_ignores_names_in_nested_struct():
    renamed = _s(
        _f("id", T.LongType()),
        _f("geo", T.StructType([
            T.StructField("x", T.DoubleType(), False),
            T.StructField("y", T.DoubleType(), False),
        ])),
    )
    assert C.by_position(NESTED_AB, renamed)
    # reorder of same-typed fields is also fine by position
    assert C.by_position(NESTED_AB, NESTED_BA)


def test_unordered_case_insensitive_nested_names():
    upper = _s(
        _f("id", T.LongType()),
        _f("geo", T.StructType([
            T.StructField("LAT", T.DoubleType(), False),
            T.StructField("LON", T.DoubleType(), False),
        ])),
    )
    assert C.unordered(NESTED_AB, upper, case_insensitive=True)
    assert not C.unordered(NESTED_AB, upper, case_insensitive=False)


def test_backward_recurses_in_backward_mode_nested():
    """Nested struct under Backward: a nullable expected nested field may be
    absent from found; extras inside found's nested struct are fine."""
    expected = _s(
        _f("payload", T.StructType([
            T.StructField("code", T.LongType(), False),
            T.StructField("note", T.StringType(), True),  # nullable
        ])),
    )
    found = _s(
        _f("payload", T.StructType([
            T.StructField("code", T.LongType(), False),
            T.StructField("surplus", T.StringType(), False),
        ])),
    )
    assert C.backward(expected, found)
    # non-nullable nested field absent -> reject
    required = _s(
        _f("payload", T.StructType([
            T.StructField("code", T.LongType(), False),
            T.StructField("must", T.StringType(), False),
        ])),
    )
    assert not C.backward(required, found)


def test_backward_forward_fail_on_duplicate_names():
    """ADVICE r1 (medium): BackwardByName/ForwardByName go through
    uniqueFieldsByName — duplicates on either side fail the match
    (SparkCore.scala:72-78), never silently keep the last field."""
    dup_found = _s(
        _f("a", T.LongType()), _f("a", T.StringType()), _f("b", T.LongType())
    )
    expected = _s(_f("a", T.StringType(), nullable=True), _f("b", T.LongType()))
    assert not C.backward(expected, dup_found)
    assert not C.forward(expected, dup_found)
    dup_expected = _s(_f("a", T.LongType()), _f("a", T.StringType()))
    found = _s(_f("a", T.LongType()))
    assert not C.backward(dup_expected, found)
    assert not C.forward(dup_expected, found)


def test_compile_runtime_agree_on_reordered_nested_struct():
    """The ADVICE repro end-to-end: compile-time conforms under Exact and
    the runtime unordered pin must give the same verdict for reordered
    nested structs (the round-1 divergence aborted pipelines mid-run)."""
    from compile_time_data_contracts_spark.contracts.conforms import conforms

    geo = _s(_f("lat", T.DoubleType()), _f("lon", T.DoubleType()))
    geo_rev = _s(_f("lon", T.DoubleType()), _f("lat", T.DoubleType()))
    a = _s(_f("id", T.LongType()), _f("geo", geo))
    b = _s(_f("id", T.LongType()), _f("geo", geo_rev))
    ok_ct = conforms(a, b, SchemaPolicy.EXACT, raise_on_drift=False).ok
    ok_rt = C.matches(spark_schema(b), spark_schema(a), SchemaPolicy.EXACT)
    assert ok_ct and ok_rt
    # and under ExactOrdered both layers reject
    bad_ct = conforms(a, b, SchemaPolicy.EXACT_ORDERED, raise_on_drift=False).ok
    bad_rt = C.matches(spark_schema(b), spark_schema(a), SchemaPolicy.EXACT_ORDERED)
    assert (not bad_ct) and (not bad_rt)


def test_name_index_cache_invalidated_by_add():
    """A verdict is fresh after an in-place ``schema.add()``: comparing,
    editing either side, and comparing again reflects the edit."""
    from pyspark.sql import types as T

    a = T.StructType([T.StructField("x", T.LongType())])
    b = T.StructType([T.StructField("x", T.LongType())])
    assert C.unordered(a, b)
    b.add(T.StructField("y", T.StringType()))
    assert not C.unordered(a, b)
    a.add(T.StructField("y", T.StringType()))
    assert C.unordered(a, b)


def test_duplicate_names_fail_self_comparison():
    """A dup-name struct must fail against the SAME object under by-name
    modes (SparkCore.scala:72-78)."""
    from pyspark.sql import types as T

    dup = T.StructType(
        [
            T.StructField("x", T.LongType()),
            T.StructField("X", T.StringType()),
        ]
    )
    assert not C.unordered(dup, dup, case_insensitive=True)
    assert not C.backward(dup, dup, case_insensitive=True)
    assert not C.forward(dup, dup, case_insensitive=True)
    # case-sensitive: 'x' and 'X' are distinct names -> self-match holds
    assert C.forward(dup, dup, case_insensitive=False)
    # nested dup inside an array element struct
    nested = T.StructType(
        [T.StructField("arr", T.ArrayType(dup))]
    )
    assert not C.unordered(nested, nested, case_insensitive=True)


def test_name_index_cache_invalidated_by_same_length_mutation():
    """A verdict is fresh after a same-length in-place field replacement
    (``fields[i] = other``): renames and type changes made that way are
    seen by the next comparison, and restoring the field matches again."""
    from pyspark.sql import types as T

    a = T.StructType(
        [T.StructField("x", T.LongType()), T.StructField("y", T.StringType())]
    )
    b = T.StructType(
        [T.StructField("x", T.LongType()), T.StructField("y", T.StringType())]
    )
    assert C.unordered(a, b)
    # rename by replacement, same field count
    b.fields[1] = T.StructField("z", T.StringType())
    assert not C.unordered(a, b)
    # type change by replacement, same names, same field count
    b.fields[1] = T.StructField("y", T.LongType())
    assert not C.unordered(a, b)
    # restore -> matches again
    b.fields[1] = T.StructField("y", T.StringType())
    assert C.unordered(a, b)


def test_dupfree_cache_invalidated_by_same_length_mutation():
    """A verdict is fresh after an in-place field replacement that
    introduces a case-insensitive duplicate name: the struct then fails
    against itself under by-name modes."""
    from pyspark.sql import types as T

    s = T.StructType(
        [T.StructField("x", T.LongType()), T.StructField("y", T.StringType())]
    )
    assert C.unordered(s, s, case_insensitive=True)
    s.fields[1] = T.StructField("X", T.StringType())  # CI duplicate of 'x'
    assert not C.unordered(s, s, case_insensitive=True)
    # by-position never reads names, so the dup struct still self-matches
    assert C.by_position(s, s)


def test_positional_modes_self_match_with_duplicates():
    """Ordered/by-position never consult the name index, so duplicate
    names cannot fail them (SparkCore.scala:82-91)."""
    from pyspark.sql import types as T

    dup = T.StructType(
        [T.StructField("x", T.LongType()), T.StructField("x", T.LongType())]
    )
    assert C.by_position(dup, dup)
    assert C.ordered(dup, dup, case_insensitive=False)
    assert C.ordered(dup, dup, case_insensitive=True)


class _ArraySubclass(T.ArrayType):
    pass


@pytest.mark.parametrize(
    "found, expected, verdict",
    [
        (T.StringType("UTF8_LCASE"), T.StringType(), False),
        (T.DecimalType(10, 2), T.DecimalType(38, 18), False),
        (T.VarcharType(5), T.VarcharType(6), False),
        (_ArraySubclass(T.LongType(), True), T.ArrayType(T.LongType(), True), True),
        (_ArraySubclass(T.LongType(), True), T.ArrayType(T.LongType(), False), False),
    ],
    ids=["collation", "decimal", "varchar", "array-subclass", "array-subclass-null"],
)
def test_leaf_parameters_and_subclasses(found, expected, verdict):
    """Parameterized leaves compare with their parameters; a DataType
    subclass compares structurally with its base class."""
    assert compare_data_type(found, expected) is verdict


@contract
@dataclass
class _Geo:
    lat: float
    lon: float


@contract
@dataclass
class _Address:
    street: str
    zip: Optional[int]
    geo: _Geo


@contract
@dataclass
class _Order:
    id: int
    email: str
    address: _Address
    tags: list[Optional[str]]
    metrics: dict[str, Optional[int]]


def test_pin_leaves_schema_equality_intact():
    """Pinning writes nothing onto the schemas it compares: after a pin
    under every policy, the contract's schema and a struct nested in it
    still equal their JSON round-trips."""

    def round_trip(s: T.StructType) -> T.StructType:
        return T.StructType.fromJson(s.jsonValue())

    expected = spark_schema(_Order)
    nested = expected["address"].dataType
    for policy in SchemaPolicy:
        assert_matches_contract(round_trip(expected), _Order, policy)
        assert_matches_contract(expected, _Order, policy)
        assert expected == round_trip(expected), policy
        assert nested == round_trip(nested), policy
