"""Runtime schema pins: assert-or-throw with the drift report and the
rendered schema trees.

Python re-expression of `SchemaCheck.assertMatchesContract`
(SparkCore.scala:302-340).  The verdict and the report come from
``runtime/comparator.py``, the one implementation of the eight policies
that the construction-time proof shares (SparkCore.scala:30-189,
ContractsCore.scala:237-416).  Driver-side metadata check only — no
Spark job is triggered.
"""

from __future__ import annotations

import typing

from pyspark.sql import types as T

from ..contracts.conforms import DriftReport, drift_report
from ..contracts.policies import SchemaPolicy
from ..contracts.schema import spark_schema
from .comparator import RuntimeSchemaComparator, duplicate_names

__all__ = ["SchemaMismatchError", "assert_matches_contract"]


class SchemaMismatchError(Exception):
    """Runtime pin failure: the drift report, whose paths name what
    failed, above both schema trees in Spark's ``printSchema`` format
    (message shape mirrors SparkCore.scala:318-338).
    Duplicate field names are listed only for by-name policies, under the
    policy's own name normalization: ordered and by-position pins never
    index by name."""

    def __init__(
        self,
        context: str,
        policy: SchemaPolicy,
        expected: T.StructType,
        found: T.StructType,
        report: DriftReport,
    ):
        self.context = context
        self.policy = policy
        self.expected = expected
        self.found = found
        dup_note = ""
        if not (policy.ordered or policy.by_position):
            ci = policy.case_insensitive
            dups = duplicate_names(found, ci) + duplicate_names(expected, ci)
            if dups:
                names = "case-insensitive" if ci else "case-sensitive"
                dup_note = f"\nDuplicate field names ({names}): {dups}"
        super().__init__(
            f"Schema mismatch at {context} under policy {policy.value}:"
            f"{dup_note}\n"
            f"{report.render()}\n"
            f"Found schema:\n{found.treeString()}"
            f"Expected schema:\n{expected.treeString()}"
        )


def assert_matches_contract(
    found: T.StructType,
    contract: typing.Union[type, T.StructType],
    policy: SchemaPolicy = SchemaPolicy.EXACT_UNORDERED_CI,
    context: str = "schema pin",
) -> None:
    """Assert the live schema matches the contract under ``policy``; raise
    SchemaMismatchError otherwise.  The default pin is the unordered-CI
    comparator regardless of sink policy, matching the reference's
    post-transform pin (SparkCore.scala:404-415, README.md:58-59).

    The verdict stops at the first drift; only a failing pin builds the
    drift report, once, for its message."""
    expected = spark_schema(contract)
    if not RuntimeSchemaComparator.matches(expected, found, policy):
        report = drift_report(found, expected, policy)
        raise SchemaMismatchError(context, policy, expected, found, report)
