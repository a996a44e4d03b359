"""Construction-time structural conformance prover.

Python re-expression of the reference's macro-time proof
(`conformsImpl`, /root/reference/src/main/scala/ctdc/ContractsCore.scala:106-112):
three comparers (by-name :237-284, ordered :286-340, by-position :342-381),
policy post-filter (:402-416) and path-rich drift renderer (:418-435).

Python has no compile step, so this runs at *pipeline-construction time* —
before any Spark action — preserving the "fails before data moves"
property.  Path grammar matches the reference so the test matrix ports 1:1:
``a.b`` nested field, ``a[]`` sequence element, ``a<key>``/``a<value>`` map
sides, ``@i(name)`` ordered position, ``@i`` positional.
"""

from __future__ import annotations

import dataclasses
import typing

from .policies import SchemaPolicy
from .shape import (
    FieldShape,
    MapShape,
    PrimitiveShape,
    SequenceShape,
    Shape,
    StructShape,
    shape_for,
)

__all__ = ["conforms", "ContractDriftError", "DriftReport", "Drift"]


@dataclasses.dataclass(frozen=True)
class Drift:
    kind: str  # "missing" | "extra" | "mismatch"
    path: str
    detail: str
    # flags used by the Backward post-filter (ContractsCore.scala:402-408)
    missing_is_optional: bool = False
    missing_has_default: bool = False


@dataclasses.dataclass(frozen=True)
class DriftReport:
    policy: SchemaPolicy
    missing: tuple[Drift, ...]
    extra: tuple[Drift, ...]
    mismatch: tuple[Drift, ...]

    @property
    def ok(self) -> bool:
        return not (self.missing or self.extra or self.mismatch)

    def render(self) -> str:
        """Drift message, format stable across the test matrix
        (ContractsCore.scala:418-435)."""
        lines = [f"Schema drift detected under policy {self.policy.value}:"]
        if self.missing:
            lines.append("Missing attributes:")
            lines += [f"  - {d.path}: {d.detail}" for d in self.missing]
        if self.extra:
            lines.append("Extra attributes:")
            lines += [f"  - {d.path}: {d.detail}" for d in self.extra]
        if self.mismatch:
            lines.append("Mismatch attributes:")
            lines += [f"  - {d.path}: {d.detail}" for d in self.mismatch]
        return "\n".join(lines)


class ContractDriftError(Exception):
    def __init__(self, report: DriftReport):
        self.report = report
        super().__init__(report.render())


def _join(path: str, name: str) -> str:
    return f"{path}.{name}" if path else name


def _norm(name: str, ci: bool) -> str:
    return name.lower() if ci else name


def _compare_shape(
    path: str, out: Shape, exp: Shape, ci: bool, mode: str = "name"
) -> list[Drift]:
    """Strict structural compare; field-level optionality never reaches
    here (unwrapped at FieldShape), nested collection optionality is
    compared strictly (ContractsCore.scala:247-260).

    ``mode`` is the active comparer ("name" | "ordered" | "pos") and is
    preserved through every nesting level, exactly like the reference's
    compareByName/compareOrdered/compareByPos each recursing into nested
    StructShapes in their own mode (ContractsCore.scala:262-281, 314-337,
    364-378) — a nested struct under ExactOrdered is compared ordered, and
    under ExactByPosition names are ignored at every depth."""
    drifts: list[Drift] = []
    if isinstance(out, StructShape) and isinstance(exp, StructShape):
        if mode == "ordered":
            return _compare_ordered(path, out, exp, ci)
        if mode == "pos":
            return _compare_by_pos(path, out, exp)
        return _compare_by_name(path, out, exp, ci)
    if isinstance(out, SequenceShape) and isinstance(exp, SequenceShape):
        if out.contains_null != exp.contains_null:
            found = "optional" if out.contains_null else "required"
            expd = "optional" if exp.contains_null else "required"
            drifts.append(
                Drift(
                    "mismatch",
                    f"{path}[]",
                    f"expected {expd} element, found {found}",
                )
            )
        drifts += _compare_shape(f"{path}[]", out.element, exp.element, ci, mode)
        return drifts
    if isinstance(out, MapShape) and isinstance(exp, MapShape):
        if out.key != exp.key:
            drifts.append(
                Drift(
                    "mismatch",
                    f"{path}<key>",
                    f"expected {exp.key}, found {out.key}",
                )
            )
        if out.value_contains_null != exp.value_contains_null:
            found = "optional" if out.value_contains_null else "required"
            expd = "optional" if exp.value_contains_null else "required"
            drifts.append(
                Drift(
                    "mismatch",
                    f"{path}<value>",
                    f"expected {expd} value, found {found}",
                )
            )
        drifts += _compare_shape(f"{path}<value>", out.value, exp.value, ci, mode)
        return drifts
    if isinstance(out, PrimitiveShape) and isinstance(exp, PrimitiveShape):
        if out.name != exp.name:
            drifts.append(
                Drift(
                    "mismatch",
                    path,
                    f"expected {exp.name}, found {out.name}",
                )
            )
        return drifts
    drifts.append(
        Drift(
            "mismatch",
            path,
            f"expected {exp.render()}, found {out.render()}",
        )
    )
    return drifts


def _compare_by_name(
    path: str, out: StructShape, exp: StructShape, ci: bool
) -> list[Drift]:
    """Unordered by-name comparer (ContractsCore.scala:237-284).  Names
    that collide under the active normalization make the by-name index
    ill-defined, so each colliding group is a mismatch — the runtime pin
    rejects the same struct (SparkCore.scala:72-78)."""
    drifts: list[Drift] = []
    out_by = { _norm(f.name, ci): f for f in out.fields }
    exp_by = { _norm(f.name, ci): f for f in exp.fields }
    for side, s, by_name in (("found", out, out_by), ("expected", exp, exp_by)):
        if len(by_name) != len(s.fields):
            for key in by_name:
                group = [f.name for f in s.fields if _norm(f.name, ci) == key]
                if len(group) > 1:
                    drifts.append(
                        Drift(
                            "mismatch",
                            _join(path, group[0]),
                            f"duplicate field names in {side}: {group}",
                        )
                    )
    for key, ef in exp_by.items():
        if key not in out_by:
            drifts.append(
                Drift(
                    "missing",
                    _join(path, ef.name),
                    ef.shape.render(),
                    missing_is_optional=ef.is_optional,
                    missing_has_default=ef.has_default,
                )
            )
    for key, of in out_by.items():
        if key not in exp_by:
            drifts.append(Drift("extra", _join(path, of.name), of.shape.render()))
    for key, ef in exp_by.items():
        of = out_by.get(key)
        if of is not None:
            drifts += _compare_shape(
                _join(path, ef.name), of.shape, ef.shape, ci, "name"
            )
    return drifts


def _compare_ordered(
    path: str, out: StructShape, exp: StructShape, ci: bool
) -> list[Drift]:
    """Ordered-by-name comparer with indexed paths for name mismatches;
    nested shapes recurse in ordered mode at the name-joined path, and the
    shape comparison happens whether or not the positional names matched
    (ContractsCore.scala:286-340, StructShape case :314-337)."""
    drifts: list[Drift] = []
    for i, (of, ef) in enumerate(zip(out.fields, exp.fields)):
        # the literal "(name)" marker is the reference's grammar
        # (ContractsCore.scala:323, Mismatch(s"$path.@$i(name)", ...));
        # the names themselves live in the expected/found detail
        ipath = f"{path}@{i}(name)" if not path else f"{path}.@{i}(name)"
        if _norm(of.name, ci) != _norm(ef.name, ci):
            drifts.append(
                Drift(
                    "mismatch",
                    ipath,
                    f"expected {ef.name}, found {of.name}",
                )
            )
        drifts += _compare_shape(
            _join(path, ef.name), of.shape, ef.shape, ci, "ordered"
        )
    for ef in exp.fields[len(out.fields):]:
        drifts.append(
            Drift("missing", _join(path, ef.name), ef.shape.render(),
                  missing_is_optional=ef.is_optional,
                  missing_has_default=ef.has_default)
        )
    for of in out.fields[len(exp.fields):]:
        drifts.append(Drift("extra", _join(path, of.name), of.shape.render()))
    return drifts


def _compare_by_pos(
    path: str, out: StructShape, exp: StructShape
) -> list[Drift]:
    """By-position comparer, names ignored at every depth — nested
    StructShapes recurse in by-position mode and their drifts propagate
    with indexed paths (ContractsCore.scala:342-381, recursion :364-368)."""
    drifts: list[Drift] = []
    for i, (of, ef) in enumerate(zip(out.fields, exp.fields)):
        ipath = f"{path}@{i}" if not path else f"{path}.@{i}"
        drifts += _compare_shape(ipath, of.shape, ef.shape, ci=False, mode="pos")
    # tail missing/extra keep the POSITIONAL grammar, all at index `min`
    # — the reference's tailMissing/tailExtra both use s"$path.@$min"
    # (ContractsCore.scala:373-376); the field name moves into the
    # rendered value (the reference's renderField) since by-position
    # paths never carry names
    min_len = min(len(out.fields), len(exp.fields))
    tpath = f"{path}@{min_len}" if not path else f"{path}.@{min_len}"
    for ef in exp.fields[min_len:]:
        drifts.append(Drift("missing", tpath,
                            f"{ef.name}: {ef.shape.render()}",
                            missing_is_optional=ef.is_optional,
                            missing_has_default=ef.has_default))
    for of in out.fields[min_len:]:
        drifts.append(Drift("extra", tpath, of.shape.render()))
    return drifts


def _post_filter(drifts: list[Drift], policy: SchemaPolicy) -> list[Drift]:
    """Policy post-filter (ContractsCore.scala:402-416): Backward drops
    Missing-where-optional-or-default and all Extra; Forward drops all
    Missing; Full drops everything."""
    if policy is SchemaPolicy.FULL:
        return []
    out = []
    for d in drifts:
        if policy is SchemaPolicy.BACKWARD:
            if d.kind == "missing" and (d.missing_is_optional or d.missing_has_default):
                continue
            if d.kind == "extra":
                continue
        if policy is SchemaPolicy.FORWARD and d.kind == "missing":
            continue
        out.append(d)
    return out


def conforms(
    producer: typing.Union[type, StructShape],
    expected: typing.Union[type, StructShape],
    policy: SchemaPolicy = SchemaPolicy.EXACT,
    *,
    raise_on_drift: bool = True,
) -> DriftReport:
    """Prove that the producer contract structurally conforms to the
    expected contract under ``policy`` (the Python analogue of
    ``summon[SchemaConforms[Out, Contract, P]]``).

    Returns the (possibly empty) DriftReport; raises ContractDriftError on
    non-empty drift unless ``raise_on_drift=False``.
    """
    out = producer if isinstance(producer, StructShape) else shape_for(producer)
    exp = expected if isinstance(expected, StructShape) else shape_for(expected)

    if policy.by_position:
        drifts = _compare_by_pos("", out, exp)
    elif policy.ordered:
        drifts = _compare_ordered("", out, exp, policy.case_insensitive)
    else:
        drifts = _compare_by_name("", out, exp, policy.case_insensitive)

    drifts = _post_filter(drifts, policy)
    report = DriftReport(
        policy=policy,
        missing=tuple(d for d in drifts if d.kind == "missing"),
        extra=tuple(d for d in drifts if d.kind == "extra"),
        mismatch=tuple(d for d in drifts if d.kind == "mismatch"),
    )
    if raise_on_drift and not report.ok:
        raise ContractDriftError(report)
    return report
