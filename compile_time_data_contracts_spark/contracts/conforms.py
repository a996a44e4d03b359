"""Construction-time structural conformance prover.

Python re-expression of the reference's macro-time proof
(`conformsImpl`, ContractsCore.scala:106-112) and its path-rich drift
renderer (:418-435).  The three comparers and the policy post-filter
(ContractsCore.scala:237-416) live in ``runtime/comparator.py``, the one
implementation of the eight policies, which the runtime pins
(SparkCore.scala:30-189) share: the proof runs it over the two
contracts' derived StructTypes, so the two checks cannot disagree.

Python has no compile step, so this runs at *pipeline-construction time* —
before any Spark action — preserving the "fails before data moves"
property.  Path grammar matches the reference so the test matrix ports 1:1:
``a.b`` nested field, ``a[]`` sequence element, ``a<key>``/``a<value>`` map
sides, ``@i(name)`` ordered position, ``@i`` positional.
"""

from __future__ import annotations

import dataclasses
import typing

from pyspark.sql import types as T

from ..runtime.comparator import Drift, schema_drifts
from .policies import SchemaPolicy
from .schema import spark_schema

__all__ = ["conforms", "drift_report", "ContractDriftError", "DriftReport", "Drift"]


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


def drift_report(
    found: T.StructType, expected: T.StructType, policy: SchemaPolicy
) -> DriftReport:
    """The drifts of ``found`` against ``expected`` under ``policy``,
    grouped by kind; ``conforms`` and the runtime pins both report
    through it."""
    drifts = schema_drifts(found, expected, policy)
    return DriftReport(
        policy,
        *(
            tuple(d for d in drifts if d.kind == kind)
            for kind in ("missing", "extra", "mismatch")
        ),
    )


def conforms(
    producer: typing.Union[type, T.StructType],
    expected: typing.Union[type, T.StructType],
    policy: SchemaPolicy = SchemaPolicy.EXACT,
    *,
    raise_on_drift: bool = True,
) -> DriftReport:
    """Prove that the producer contract structurally conforms to the
    expected contract under ``policy`` (the Python analogue of
    ``summon[SchemaConforms[Out, Contract, P]]``).

    Field-level optionality is metadata only: it decides whether
    Backward lets an absent field be missing and is never compared.

    Returns the (possibly empty) DriftReport; raises ContractDriftError on
    non-empty drift unless ``raise_on_drift=False``.
    """
    report = drift_report(spark_schema(producer), spark_schema(expected), policy)
    if raise_on_drift and not report.ok:
        raise ContractDriftError(report)
    return report
