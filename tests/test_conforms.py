"""Construction-time conformance matrix.

Port of the reference's compile-time spec
(/root/reference/src/test/scala/ctdc/SchemaConformsSpec.scala): positive
conformance per policy, negative drift with asserted message snippets, and
the strict closed leaf set.  `typeCheckErrors` assertions become
``pytest.raises(ContractDriftError)`` at conforms-call time.

(No ``from __future__ import annotations`` here: PEP 563 string annotations
cannot be resolved for function-local contract classes.)
"""

import dataclasses
import enum
import re
import typing
import uuid
from dataclasses import dataclass, field
from typing import Optional

import pytest

from compile_time_data_contracts_spark import (
    ContractDriftError,
    SchemaPolicy,
    UnsupportedShapeError,
    conforms,
    contract,
)
from compile_time_data_contracts_spark.contracts.types import int32


@contract
@dataclass
class Producer:
    id: int
    email: str
    age: Optional[int32] = None


@contract
@dataclass
class SameCI:
    ID: int
    Email: str
    AGE: int32 = 0


@contract
@dataclass
class AgeRequired:
    id: int
    email: str
    age: int32


# --- positive conformance -------------------------------------------------

def test_exact_unordered_ci_accepts_case_and_order_variants():
    # SchemaConformsSpec.scala:33-45
    report = conforms(SameCI, Producer, SchemaPolicy.EXACT)
    assert report.ok
    conforms(SameCI, Producer, SchemaPolicy.EXACT_UNORDERED_CI)


def test_option_and_non_option_structurally_equal():
    # SchemaConformsSpec.scala:47-59 — field optionality ignored
    assert conforms(AgeRequired, Producer, SchemaPolicy.EXACT).ok
    assert conforms(Producer, AgeRequired, SchemaPolicy.EXACT).ok


def test_backward_allows_extras_and_missing_defaults():
    # SchemaConformsSpec.scala:61-88
    @contract
    @dataclass
    class WithExtra:
        id: int
        email: str
        age: Optional[int32] = None
        segment: str = ""

    @contract
    @dataclass
    class ContractWithDefault:
        id: int
        email: str
        age: Optional[int32] = None
        region: str = "IN"

    # extra producer column allowed under Backward
    assert conforms(WithExtra, Producer, SchemaPolicy.BACKWARD).ok
    # missing contract column allowed when it has a default
    assert conforms(Producer, ContractWithDefault, SchemaPolicy.BACKWARD).ok


def test_backward_rejects_missing_required():
    # SchemaConformsSpec.scala:166-179
    @contract
    @dataclass
    class MissingEmail:
        id: int
        age: Optional[int32] = None

    with pytest.raises(ContractDriftError) as exc:
        conforms(MissingEmail, Producer, SchemaPolicy.BACKWARD)
    assert "Missing attributes" in str(exc.value)
    assert "email" in str(exc.value)


def test_forward_subset():
    # SchemaConformsSpec.scala:104-116 — producer may omit, not add
    @contract
    @dataclass
    class Subset:
        id: int
        email: str

    assert conforms(Subset, Producer, SchemaPolicy.FORWARD).ok
    @contract
    @dataclass
    class Superset:
        id: int
        email: str
        age: Optional[int32] = None
        extra: str = ""

    with pytest.raises(ContractDriftError) as exc:
        conforms(Superset, Producer, SchemaPolicy.FORWARD)
    assert "Extra attributes" in str(exc.value)


def test_full_accepts_anything():
    # SchemaConformsSpec.scala:295-307
    @contract
    @dataclass
    class Unrelated:
        foo: float
        bar: bool

    assert conforms(Unrelated, Producer, SchemaPolicy.FULL).ok


def test_sequence_flavors_collapse():
    # ContractsCore.scala:127-136; SchemaConformsSpec.scala:75-88
    @contract
    @dataclass
    class WithList:
        id: int
        tags: list[str]

    @contract
    @dataclass
    class WithSet:
        id: int
        tags: set[str]

    assert conforms(WithList, WithSet, SchemaPolicy.EXACT).ok


# --- ordered / by-position ------------------------------------------------

def test_ordered_rejects_reorder_with_indexed_path():
    # SchemaConformsSpec.scala:118-148 — message contains `@0(...)`
    @contract
    @dataclass
    class Reordered:
        email: str
        id: int
        age: Optional[int32] = None

    with pytest.raises(ContractDriftError) as exc:
        conforms(Reordered, Producer, SchemaPolicy.EXACT_ORDERED)
    # the reference spec asserts the literal "(name)" marker — the
    # names live in the expected/found detail, not the path
    assert "@0(name)" in str(exc.value)
    assert "expected id, found email" in str(exc.value)
    # same schema passes unordered
    assert conforms(Reordered, Producer, SchemaPolicy.EXACT).ok


def test_ordered_ci_vs_cs():
    assert conforms(SameCI, Producer, SchemaPolicy.EXACT_ORDERED_CI).ok
    with pytest.raises(ContractDriftError):
        conforms(SameCI, Producer, SchemaPolicy.EXACT_ORDERED)


def test_by_position_ignores_names_checks_types():
    # SchemaConformsSpec.scala:150-164 — message contains `@0 expected`-style path
    @contract
    @dataclass
    class Renamed:
        key: int
        mail: str
        years: Optional[int32] = None

    assert conforms(Renamed, Producer, SchemaPolicy.EXACT_BY_POSITION).ok

    @contract
    @dataclass
    class TypeDrift:
        key: str
        mail: str
        years: Optional[int32] = None

    with pytest.raises(ContractDriftError) as exc:
        conforms(TypeDrift, Producer, SchemaPolicy.EXACT_BY_POSITION)
    assert "@0" in str(exc.value)
    assert "expected" in str(exc.value)


# --- nested structures ----------------------------------------------------

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
    zip: Optional[int32] = None


def test_deep_nesting_paths():
    # SchemaConformsSpec.scala:229-245, 309-342 — paths like
    # `items[].payload<value>.code` and `shipTo.zip expected`
    @contract
    @dataclass
    class PayloadV1:
        code: int32

    @contract
    @dataclass
    class PayloadV2:
        code: str

    @contract
    @dataclass
    class ItemV1:
        payload: dict[str, Optional[PayloadV1]]

    @contract
    @dataclass
    class ItemV2:
        payload: dict[str, Optional[PayloadV2]]

    @contract
    @dataclass
    class RootV1:
        items: list[ItemV1]

    @contract
    @dataclass
    class RootV2:
        items: list[ItemV2]

    with pytest.raises(ContractDriftError) as exc:
        conforms(RootV1, RootV2, SchemaPolicy.EXACT)
    assert "items[].payload<value>.code" in str(exc.value)
    assert "expected string, found int" in str(exc.value)


def test_nested_collection_optionality_strict():
    # SchemaConformsSpec.scala:247-277 — containsNull / valueContainsNull
    # must match exactly even though field optionality is ignored
    @contract
    @dataclass
    class StrictSeq:
        values: list[int]

    @contract
    @dataclass
    class OptSeq:
        values: list[Optional[int]]

    with pytest.raises(ContractDriftError) as exc:
        conforms(StrictSeq, OptSeq, SchemaPolicy.EXACT)
    assert "found required" in str(exc.value) or "found optional" in str(exc.value)

    @contract
    @dataclass
    class StrictMap:
        metrics: dict[str, int]

    @contract
    @dataclass
    class OptMap:
        metrics: dict[str, Optional[int]]

    with pytest.raises(ContractDriftError) as exc:
        conforms(OptMap, StrictMap, SchemaPolicy.EXACT)
    assert "found optional" in str(exc.value)


def test_deep_nesting_positive():
    # SchemaConformsSpec.scala:309-323
    @contract
    @dataclass
    class Order:
        id: int
        ship_to: Optional[Address] = None
        tags: list[str] = field(default_factory=list)

    @contract
    @dataclass
    class OrderContract:
        id: int
        ship_to: Optional[Address] = None
        tags: list[str] = field(default_factory=list)

    assert conforms(Order, OrderContract, SchemaPolicy.EXACT).ok


# --- unsupported leaves ---------------------------------------------------

def test_rejects_uuid_enum_tuple():
    # SchemaConformsSpec.scala:181-227, SparkSchemaSpec.scala:71-114
    with pytest.raises(UnsupportedShapeError):
        @contract
        @dataclass
        class WithUUID:
            id: uuid.UUID

    class Color(enum.Enum):
        RED = 1

    with pytest.raises(UnsupportedShapeError):
        @contract
        @dataclass
        class WithEnum:
            c: Color

    with pytest.raises(UnsupportedShapeError):
        @contract
        @dataclass
        class WithTuple:
            pair: tuple[int, str]


def test_rejects_non_atomic_map_keys():
    # ContractsCore.scala:145-148,182-184
    with pytest.raises(UnsupportedShapeError):
        @contract
        @dataclass
        class BadKeys:
            m: dict[float, str]


class Color(enum.Enum):
    RED = 1


SUPPORTED = (
    "supported leaves are ['boolean', 'byte', 'date', 'decimal(38,18)', "
    "'double', 'float', 'int', 'long', 'short', 'string', 'timestamp', "
    "'timestamp_ntz'], Optional[...], list/set[...], dict[atomic, ...], and "
    "nested contract dataclasses"
)
ATOMIC = (
    "map keys must be atomic "
    "(['boolean', 'byte', 'int', 'long', 'short', 'string'])"
)


@pytest.mark.parametrize(
    "annotation, message",
    [
        (uuid.UUID, f"Unsupported contract leaf UUID 'UUID': {SUPPORTED}"),
        (Color, f"Unsupported contract leaf enum 'Color': {SUPPORTED}"),
        (tuple[int, str], f"Unsupported contract leaf tuple 'tuple': {SUPPORTED}"),
        (bytes, f"Unsupported contract leaf type 'bytes': {SUPPORTED}"),
        (typing.Any, f"Unsupported contract leaf type 'Any': {SUPPORTED}"),
        (list, f"Unsupported contract leaf type 'list': {SUPPORTED}"),
        (dict, f"Unsupported contract leaf type 'dict': {SUPPORTED}"),
        (typing.List, f"Unsupported contract leaf type 'List': {SUPPORTED}"),
        (list[int, str], f"Unsupported contract leaf type 'list': {SUPPORTED}"),
        (int | str, "Unsupported union type int | str: only Optional[T] is supported"),
        (dict[float, str], f"Unsupported map key type <class 'float'>: {ATOMIC}"),
        (
            dict[Optional[str], int],
            f"Unsupported map key type typing.Optional[str]: {ATOMIC}",
        ),
    ],
    ids=[
        "uuid", "enum", "tuple", "bytes", "any", "bare_list", "bare_dict",
        "bare_typing_list", "list_of_two", "union", "float_key",
        "optional_key",
    ],
)
def test_rejects_unsupported_annotation(annotation, message):
    """Every refused annotation aborts declaration with its message, the
    supported-leaf or atomic-key list spelled out."""
    cls = dataclasses.make_dataclass("Bad", [("f", annotation)])
    with pytest.raises(UnsupportedShapeError, match=f"^{re.escape(message)}$"):
        contract(cls)


@dataclass
class Node:
    id: int
    children: list["Node"]


@dataclass
class Left:
    right: Optional["Right"]


@dataclass
class Right:
    lefts: dict[str, "Left"]


def test_rejects_recursive_contracts():
    """A self-referential contract has no finite StructType: declaration
    names the cycle instead of recursing until RecursionError."""
    with pytest.raises(
        UnsupportedShapeError, match=re.escape("children[] refers back to Node")
    ):
        contract(Node)
    with pytest.raises(
        UnsupportedShapeError,
        match=re.escape("right.lefts<value> refers back to Left"),
    ):
        contract(Left)


# --- mode-aware nested recursion (ContractsCore.scala:314-337, 364-378) -----

def test_ordered_rejects_reordered_nested_struct():
    """ADVICE r1: compareOrdered recurses into nested structs in
    ordered mode — a reordered nested struct drifts under ExactOrdered."""
    @contract
    @dataclass
    class GeoRev:
        lon: float
        lat: float

    @contract
    @dataclass
    class PlaceA:
        id: int
        geo: Geo

    @contract
    @dataclass
    class PlaceB:
        id: int
        geo: GeoRev

    with pytest.raises(ContractDriftError) as exc:
        conforms(PlaceB, PlaceA, SchemaPolicy.EXACT_ORDERED)
    assert "geo" in str(exc.value)
    # unordered still accepts the same pair
    assert conforms(PlaceB, PlaceA, SchemaPolicy.EXACT).ok


def test_by_position_ignores_nested_names():
    """ADVICE r1: compareByPos ignores names at every depth — a renamed
    same-typed nested struct conforms under ExactByPosition."""
    @contract
    @dataclass
    class XY:
        x: float
        y: float

    @contract
    @dataclass
    class PlaceA:
        id: int
        geo: Geo

    @contract
    @dataclass
    class PlaceRenamed:
        key: int
        pos: XY

    assert conforms(PlaceRenamed, PlaceA, SchemaPolicy.EXACT_BY_POSITION).ok

    @contract
    @dataclass
    class XYDrift:
        x: float
        y: str

    @contract
    @dataclass
    class PlaceDrift:
        key: int
        pos: XYDrift

    with pytest.raises(ContractDriftError):
        conforms(PlaceDrift, PlaceA, SchemaPolicy.EXACT_BY_POSITION)
