"""The one implementation of the eight schema policies, over Spark
``DataType``s.

Python re-expression of both of the reference's comparers on one module:
the runtime `RuntimeSchemaComparator` (SparkCore.scala:30-189) and the
construction-time proof's comparers with their policy post-filter
(ContractsCore.scala:237-416: by-name :237-284, ordered :286-340,
by-position :342-381, post-filter :402-416).  ``conforms`` runs it over
the contracts' derived StructTypes, the runtime pins over live
``df.schema``s; both read driver-side metadata only, never rows.

One recursion, :func:`_drifts`, walks ``found`` against ``expected`` and
yields :class:`Drift`s in report order; a verdict is "no first drift",
so it stops at the first one and a report lists them all.  The comparison
*mode* (unordered / ordered / backward / forward / by-position, each with
its case sensitivity) is threaded through every nesting level, like the
reference's ``StructMode`` passed from ``compareStruct`` into
``compareDataType`` and back (SparkCore.scala:79-147): a nested struct
inside an array or map is compared under the active policy's semantics.
Backward and Forward leniency is applied by the mode where a field is
found absent, which is the reference's post-filter without the second
pass.

Drift paths use the reference's grammar: ``a.b`` nested field, ``a[]``
sequence element, ``a<key>``/``a<value>`` map sides, ``@i(name)``
ordered position, ``@i`` positional.  Details render leaves with the
reference's names, which are ``simpleString()`` except ``long``,
``short`` and ``byte``.

Key semantics Spark's own comparators lack (ARTIFACT.md:29):
  * ``ArrayType.containsNull`` / ``MapType.valueContainsNull`` compared
    strictly (SparkCore.scala:137-144) while StructField.nullable is
    ignored (SparkCore.scala:132-147) except where Backward asks whether
    an absent field may be missing,
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
from typing import Iterator

from pyspark.sql import types as T

from ..contracts.policies import SchemaPolicy
from ..contracts.schema import HAS_DEFAULT_KEY, _leaf_name

__all__ = [
    "Drift",
    "StructMode",
    "compare_data_type",
    "duplicate_names",
    "schema_drifts",
    "RuntimeSchemaComparator",
]


@dataclasses.dataclass(frozen=True)
class Drift:
    kind: str  # "missing" | "extra" | "mismatch"
    path: str
    detail: str
    # the absent expected field's flags, as the reference's Backward
    # post-filter reads them (ContractsCore.scala:402-408)
    missing_is_optional: bool = False
    missing_has_default: bool = False


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

_OPTIONAL = {True: "optional", False: "required"}


def duplicate_names(
    schema: T.StructType, case_insensitive: bool = True
) -> list[list[str]]:
    """Duplicate field groups under the active name normalization, in
    field order (SparkCore.scala:59-65)."""
    groups: dict[str, list[str]] = {}
    for f in schema.fields:
        key = f.name.lower() if case_insensitive else f.name
        groups.setdefault(key, []).append(f.name)
    return [names for names in groups.values() if len(names) > 1]


def _render(dt: T.DataType) -> str:
    """A DataType in the reference's drift-report notation."""
    if isinstance(dt, T.StructType):
        inner = ", ".join(f"{f.name}: {_render(f.dataType)}" for f in dt.fields)
        return f"struct{{{inner}}}"
    if isinstance(dt, T.ArrayType):
        opt = "?" if dt.containsNull else ""
        return f"seq[{_render(dt.elementType)}{opt}]"
    if isinstance(dt, T.MapType):
        opt = "?" if dt.valueContainsNull else ""
        return f"map[{_render(dt.keyType)}, {_render(dt.valueType)}{opt}]"
    return _leaf_name(dt)


def _join(path: str, name: str) -> str:
    return f"{path}.{name}" if path else name


def _missing(path: str, field: T.StructField, detail: str) -> Drift:
    has_default = bool((field.metadata or {}).get(HAS_DEFAULT_KEY))
    return Drift("missing", path, detail, field.nullable, has_default)


def _nulls(path: str, what: str, found: bool, expected: bool) -> Iterator[Drift]:
    if found != expected:
        detail = f"expected {_OPTIONAL[expected]} {what}, found {_OPTIONAL[found]}"
        yield Drift("mismatch", path, detail)


def _drifts(
    path: str, found: T.DataType, expected: T.DataType, mode: StructMode
) -> Iterator[Drift]:
    """Deep DataType comparer (SparkCore.scala:132-147,
    ContractsCore.scala:247-260): recurses Struct/Array/Map carrying the
    active mode, requires containsNull/valueContainsNull equality,
    ignores StructField.nullable, leaf equality otherwise.

    Leaves compare with ``==``, never by rendered name, so collations,
    decimal parameters and varchar lengths all count.

    A generator, in report order: a verdict stops at the first drift."""
    if isinstance(found, T.StructType) and isinstance(expected, T.StructType):
        if mode.kind in ("ordered", "by_position"):
            yield from _positional(path, found, expected, mode)
        else:
            yield from _by_name(path, found, expected, mode)
    elif isinstance(found, T.ArrayType) and isinstance(expected, T.ArrayType):
        path += "[]"
        yield from _nulls(path, "element", found.containsNull, expected.containsNull)
        yield from _drifts(path, found.elementType, expected.elementType, mode)
    elif isinstance(found, T.MapType) and isinstance(expected, T.MapType):
        value = f"{path}<value>"
        yield from _drifts(f"{path}<key>", found.keyType, expected.keyType, mode)
        yield from _nulls(
            value, "value", found.valueContainsNull, expected.valueContainsNull
        )
        yield from _drifts(value, found.valueType, expected.valueType, mode)
    elif found != expected:
        detail = f"expected {_render(expected)}, found {_render(found)}"
        yield Drift("mismatch", path, detail)


def _positional(
    path: str, found: T.StructType, expected: T.StructType, mode: StructMode
) -> Iterator[Drift]:
    """Ordered: per-position name (in the mode's case) and type, nested
    fields at the name-joined path, the type compared whether or not the
    names matched (SparkCore.scala:86-91, ContractsCore.scala:286-340).
    By position: types only, names ignored at every depth and paths
    indexed; the unmatched tail sits at index ``min`` with the field
    name moved into the detail (SparkCore.scala:82-84,
    ContractsCore.scala:342-381)."""
    by_position = mode.kind == "by_position"
    for i, (ff, ef) in enumerate(zip(found.fields, expected.fields)):
        if by_position:
            at = _join(path, f"@{i}")
        else:
            at = _join(path, ef.name)
            if mode.norm(ff.name) != mode.norm(ef.name):
                # the literal "(name)" marker is the reference's grammar
                # (ContractsCore.scala:323)
                yield Drift(
                    "mismatch",
                    _join(path, f"@{i}(name)"),
                    f"expected {ef.name}, found {ff.name}",
                )
        yield from _drifts(at, ff.dataType, ef.dataType, mode)
    n = min(len(found.fields), len(expected.fields))
    tail = _join(path, f"@{n}")
    for ef in expected.fields[n:]:
        if by_position:
            yield _missing(tail, ef, f"{ef.name}: {_render(ef.dataType)}")
        else:
            yield _missing(_join(path, ef.name), ef, _render(ef.dataType))
    for ff in found.fields[n:]:
        at = tail if by_position else _join(path, ff.name)
        yield Drift("extra", at, _render(ff.dataType))


def _by_name(
    path: str, found: T.StructType, expected: T.StructType, mode: StructMode
) -> Iterator[Drift]:
    """Unordered by-name comparer (SparkCore.scala:93-127,
    ContractsCore.scala:237-284).  Names that collide under the mode's
    normalization make the by-name index ill-defined, so each colliding
    group is a mismatch (SparkCore.scala:72-78).  Backward lets an
    expected field be absent iff nullable or defaulted and ignores
    extras; Forward ignores absent fields (ContractsCore.scala:402-416)."""
    if mode.kind not in ("unordered", "backward", "forward"):
        raise ValueError(f"unknown struct mode {mode.kind!r}")
    # with duplicates, the last of each group stands for it
    fnd_by = {mode.norm(f.name): f for f in found.fields}
    exp_by = {mode.norm(f.name): f for f in expected.fields}
    for side, schema, by_name in (
        ("found", found, fnd_by),
        ("expected", expected, exp_by),
    ):
        if len(by_name) != len(schema.fields):
            for names in duplicate_names(schema, mode.case_insensitive):
                yield Drift(
                    "mismatch",
                    _join(path, names[0]),
                    f"duplicate field names in {side}: {names}",
                )
    if mode.kind != "forward":
        for key, ef in exp_by.items():
            if key in fnd_by:
                continue
            missing = _missing(_join(path, ef.name), ef, _render(ef.dataType))
            if mode.kind == "unordered" or not (
                missing.missing_is_optional or missing.missing_has_default
            ):
                yield missing
    if mode.kind != "backward":
        for key, ff in fnd_by.items():
            if key not in exp_by:
                yield Drift("extra", _join(path, ff.name), _render(ff.dataType))
    for key, ef in exp_by.items():
        ff = fnd_by.get(key)
        if ff is not None:
            yield from _drifts(_join(path, ef.name), ff.dataType, ef.dataType, mode)


def _policy_drifts(
    found: T.StructType, expected: T.StructType, policy: SchemaPolicy
) -> Iterator[Drift]:
    """The drifts of ``found`` against ``expected`` under ``policy``,
    lazily (policy dispatch, SparkCore.scala:150-189 and
    ContractsCore.scala:224-234); Full has none."""
    if policy is SchemaPolicy.FULL:
        return iter(())
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
    return _drifts("", found, expected, StructMode(kind, policy.case_insensitive))


def schema_drifts(
    found: T.StructType, expected: T.StructType, policy: SchemaPolicy
) -> list[Drift]:
    """Every drift of ``found`` against ``expected`` under ``policy``, in
    report order; Full has none."""
    return list(_policy_drifts(found, expected, policy))


def compare_data_type(
    found: T.DataType, expected: T.DataType, mode: StructMode = _ORDERED_CS
) -> bool:
    """Whether ``found`` matches ``expected`` under ``mode``: no drifts.

    Do NOT replace with ``found == expected`` — Spark's equality includes
    struct-field nullability and metadata.
    """
    return next(_drifts("", found, expected, mode), None) is None


class RuntimeSchemaComparator:
    """The five comparison strategies + policy dispatch
    (SparkCore.scala:38-52, 150-189); each verdict is "no drifts"."""

    @staticmethod
    def unordered(
        expected: T.StructType, found: T.StructType, case_insensitive: bool = True
    ) -> bool:
        """Unordered name equality; duplicate names on either side fail the
        match (SparkCore.scala:72-78, 93-103)."""
        return compare_data_type(
            found, expected, StructMode("unordered", case_insensitive)
        )

    @staticmethod
    def ordered(
        expected: T.StructType, found: T.StructType, case_insensitive: bool = False
    ) -> bool:
        """Length + per-position name (CS/CI) + type (SparkCore.scala:86-91)."""
        return compare_data_type(
            found, expected, StructMode("ordered", case_insensitive)
        )

    @staticmethod
    def by_position(expected: T.StructType, found: T.StructType) -> bool:
        """Length + per-position type only (SparkCore.scala:82-84)."""
        return compare_data_type(found, expected, StructMode("by_position"))

    @staticmethod
    def backward(
        expected: T.StructType, found: T.StructType, case_insensitive: bool = False
    ) -> bool:
        """Every expected field is present with matching type OR its absence
        is allowed (nullable or ctdc.hasDefault); extras in found are fine;
        duplicates on either side fail; recursive in backward mode
        (SparkCore.scala:105-116)."""
        return compare_data_type(
            found, expected, StructMode("backward", case_insensitive)
        )

    @staticmethod
    def forward(
        expected: T.StructType, found: T.StructType, case_insensitive: bool = False
    ) -> bool:
        """Every found field must exist in expected with matching type;
        duplicates on either side fail; recursive in forward mode
        (SparkCore.scala:118-127)."""
        return compare_data_type(
            found, expected, StructMode("forward", case_insensitive)
        )

    @staticmethod
    def matches(
        expected: T.StructType, found: T.StructType, policy: SchemaPolicy
    ) -> bool:
        """Policy -> comparator dispatch (SparkCore.scala:150-189)."""
        return next(_policy_drifts(found, expected, policy), None) is None
