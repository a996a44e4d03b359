"""Policy-aware runtime schema comparator over live ``StructType``s.

Python re-expression of `RuntimeSchemaComparator` (SparkCore.scala:30-147).
Operates on driver-side metadata only (``df.schema``) — never touches
rows, so cost is microseconds per pipeline boundary regardless of data
scale.

The comparison *mode* (unordered / ordered / backward / forward /
by-position, each with its case sensitivity) is threaded through every
nesting level, exactly like the reference's ``StructMode`` passed from
``compareStruct`` into ``compareDataType`` and back
(SparkCore.scala:79-147): a nested struct inside an array or map is
compared under the active policy's semantics, not under a fixed
positional rule.

Key semantics Spark's own comparators lack (ARTIFACT.md:29):
  * ``ArrayType.containsNull`` / ``MapType.valueContainsNull`` compared
    strictly (SparkCore.scala:137-144) while StructField.nullable is
    ignored (SparkCore.scala:132-147),
  * duplicate field names on either side fail every by-name mode because
    unique-by-name indexing is impossible (``uniqueFieldsByName`` yields
    None, SparkCore.scala:72-78) — including Backward and Forward,
  * Backward subset: expected field may be absent iff nullable or
    ``ctdc.hasDefault`` metadata (SparkCore.scala:105-116),
  * Forward subset: every found field must exist in expected
    (SparkCore.scala:118-127).
"""

from __future__ import annotations

import dataclasses
from collections import Counter

from pyspark.sql import types as T

from ..contracts.policies import SchemaPolicy
from ..contracts.schema import HAS_DEFAULT_KEY

__all__ = [
    "StructMode",
    "compare_data_type",
    "duplicate_names",
    "RuntimeSchemaComparator",
]


@dataclasses.dataclass(frozen=True)
class StructMode:
    """Active struct-comparison mode (SparkCore.scala:31-36)."""

    kind: str  # "unordered" | "ordered" | "backward" | "forward" | "by_position"
    case_insensitive: bool = False

    def norm(self, name: str) -> str:
        return name.lower() if self.case_insensitive else name


# Default for bare compare_data_type calls: strict name+type positional
# comparison (the behavior the public helper always had).
_ORDERED_CS = StructMode("ordered", case_insensitive=False)


def duplicate_names(
    schema: T.StructType, case_insensitive: bool = True
) -> list[list[str]]:
    """Duplicate field groups under the active name normalization
    (SparkCore.scala:59-65)."""
    norm = (lambda s: s.lower()) if case_insensitive else (lambda s: s)
    counts = Counter(norm(f.name) for f in schema.fields)
    dups = {n for n, c in counts.items() if c > 1}
    return [
        [f.name for f in schema.fields if norm(f.name) == d] for d in sorted(dups)
    ]


def _missing_allowed(field: T.StructField) -> bool:
    return field.nullable or bool((field.metadata or {}).get(HAS_DEFAULT_KEY))


def _unique_fields_by_name(
    schema: T.StructType, mode: StructMode
) -> dict[str, T.StructField] | None:
    """Unique-by-name index, or None when duplicates make by-name matching
    ill-defined (SparkCore.scala:72-78)."""
    out: dict[str, T.StructField] = {}
    for f in schema.fields:
        key = mode.norm(f.name)
        if key in out:
            return None
        out[key] = f
    return out


def compare_data_type(
    found: T.DataType, expected: T.DataType, mode: StructMode = _ORDERED_CS
) -> bool:
    """Deep DataType comparer (SparkCore.scala:132-147): recurses
    Struct/Array/Map carrying the active mode, requires
    containsNull/valueContainsNull equality, ignores StructField.nullable,
    leaf equality otherwise.

    Do NOT replace with ``found == expected`` — Spark's equality includes
    struct-field nullability and metadata.
    """
    if isinstance(found, T.StructType) and isinstance(expected, T.StructType):
        return _compare_struct(found, expected, mode)
    if isinstance(found, T.ArrayType) and isinstance(expected, T.ArrayType):
        return found.containsNull == expected.containsNull and compare_data_type(
            found.elementType, expected.elementType, mode
        )
    if isinstance(found, T.MapType) and isinstance(expected, T.MapType):
        return (
            found.valueContainsNull == expected.valueContainsNull
            and compare_data_type(found.keyType, expected.keyType, mode)
            and compare_data_type(found.valueType, expected.valueType, mode)
        )
    return found == expected


def _compare_struct(
    found: T.StructType, expected: T.StructType, mode: StructMode
) -> bool:
    """Mode-dispatched struct comparison (SparkCore.scala:79-127)."""
    if mode.kind in ("ordered", "by_position"):
        if len(found.fields) != len(expected.fields):
            return False
        return all(
            (mode.kind == "by_position" or mode.norm(ff.name) == mode.norm(ef.name))
            and compare_data_type(ff.dataType, ef.dataType, mode)
            for ff, ef in zip(found.fields, expected.fields)
        )
    if mode.kind not in ("unordered", "backward", "forward"):
        raise ValueError(f"unknown struct mode {mode.kind!r}")

    fnd_by = _unique_fields_by_name(found, mode)
    exp_by = _unique_fields_by_name(expected, mode)
    if fnd_by is None or exp_by is None:
        return False
    if mode.kind == "unordered" and fnd_by.keys() != exp_by.keys():
        return False
    if mode.kind == "forward" and not fnd_by.keys() <= exp_by.keys():
        return False
    for key, ef in exp_by.items():
        ff = fnd_by.get(key)
        if ff is None:  # only backward and forward get here
            if mode.kind == "backward" and not _missing_allowed(ef):
                return False
        elif not compare_data_type(ff.dataType, ef.dataType, mode):
            return False
    return True


class RuntimeSchemaComparator:
    """The five comparison strategies + policy dispatch
    (SparkCore.scala:38-52, 150-189)."""

    @staticmethod
    def unordered(
        expected: T.StructType, found: T.StructType, case_insensitive: bool = True
    ) -> bool:
        """Unordered name equality; duplicate names on either side fail the
        match (SparkCore.scala:72-78, 93-103)."""
        return _compare_struct(
            found, expected, StructMode("unordered", case_insensitive)
        )

    @staticmethod
    def ordered(
        expected: T.StructType, found: T.StructType, case_insensitive: bool = False
    ) -> bool:
        """Length + per-position name (CS/CI) + type (SparkCore.scala:86-91)."""
        return _compare_struct(found, expected, StructMode("ordered", case_insensitive))

    @staticmethod
    def by_position(expected: T.StructType, found: T.StructType) -> bool:
        """Length + per-position type only (SparkCore.scala:82-84)."""
        return _compare_struct(found, expected, StructMode("by_position"))

    @staticmethod
    def backward(
        expected: T.StructType, found: T.StructType, case_insensitive: bool = False
    ) -> bool:
        """Every expected field is present with matching type OR its absence
        is allowed (nullable or ctdc.hasDefault); extras in found are fine;
        duplicates on either side fail; recursive in backward mode
        (SparkCore.scala:105-116)."""
        return _compare_struct(
            found, expected, StructMode("backward", case_insensitive)
        )

    @staticmethod
    def forward(
        expected: T.StructType, found: T.StructType, case_insensitive: bool = False
    ) -> bool:
        """Every found field must exist in expected with matching type;
        duplicates on either side fail; recursive in forward mode
        (SparkCore.scala:118-127)."""
        return _compare_struct(found, expected, StructMode("forward", case_insensitive))

    @staticmethod
    def matches(
        expected: T.StructType, found: T.StructType, policy: SchemaPolicy
    ) -> bool:
        """Policy -> comparator dispatch (SparkCore.scala:150-189); the
        policy's flags come from ``SchemaPolicy`` itself."""
        if policy is SchemaPolicy.FULL:
            return True
        if policy.by_position:
            kind = "by_position"
        elif policy.ordered:
            kind = "ordered"
        elif policy is SchemaPolicy.BACKWARD:
            kind = "backward"
        elif policy is SchemaPolicy.FORWARD:
            kind = "forward"
        else:
            kind = "unordered"
        return _compare_struct(
            found, expected, StructMode(kind, policy.case_insensitive)
        )
