"""Contracts the benchmark declares: the contract pipeline's records and
the construction batch's variants.

Importing this module needs ``compile_time_data_contracts_spark`` on the
path.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from compile_time_data_contracts_spark import contract
from compile_time_data_contracts_spark.contracts.types import int32


@contract
@dataclass
class AccountRow:
    """The flat CSV feed, one row per account."""

    id: int
    email: str
    age: Optional[int]
    street: str
    city: str
    zip: Optional[int]
    lat: float
    lon: float
    kind: str
    at: int
    tag_a: Optional[str]
    tag_b: Optional[str]
    attr_key: str
    attr_value: str
    metric_a: Optional[int]
    metric_b: Optional[int]
    amount_cents: int


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
    zip: Optional[int]
    geo: Geo


@contract
@dataclass
class Event:
    kind: str
    at: int
    tags: list[Optional[str]]
    attrs: dict[str, str]


@contract
@dataclass
class Account:
    """The nested record the ingest pipeline writes."""

    id: int
    email: str
    age: Optional[int]
    address: Address
    events: list[Event]
    metrics: dict[str, Optional[int]]
    amount_cents: int


@contract
@dataclass
class StoredEvent:
    kind: str
    at: int
    tags: Optional[list[Optional[str]]]
    attrs: Optional[dict[str, Optional[str]]]


@contract
@dataclass
class StoredAccount:
    """``Account`` as a file read returns it: Spark marks every field and
    every array element and map value of a file source nullable, so the
    flatten pipeline's source contract declares them optional."""

    id: int
    email: str
    age: Optional[int]
    address: Optional[Address]
    events: Optional[list[Optional[StoredEvent]]]
    metrics: Optional[dict[str, Optional[int]]]
    amount_cents: int


@contract
@dataclass
class AccountFlat:
    """The partitioned layout the flatten pipeline writes."""

    id: int
    email: str
    age: Optional[int]
    city: str
    zip: Optional[int]
    lat: float
    lon: float
    n_events: int32
    first_kind: str
    n_metrics: int32
    amount_cents: int
    bucket: int32


# construction-batch variants of one small flat shape


@contract
@dataclass
class Flat:
    id: int
    email: str
    age: Optional[int]
    amount_cents: int


@contract
@dataclass
class FlatReordered:
    email: str
    id: int
    amount_cents: int
    age: Optional[int]


@contract
@dataclass
class FlatUpper:
    ID: int
    EMAIL: str
    AGE: Optional[int]
    AMOUNT_CENTS: int


@contract
@dataclass
class FlatRenamed:
    a: int
    b: str
    c: Optional[int]
    d: int


@contract
@dataclass
class FlatNoAge:
    id: int
    email: str
    amount_cents: int


@contract
@dataclass
class FlatAmountText:
    id: int
    email: str
    age: Optional[int]
    amount_cents: str


@contract
@dataclass
class FlatWithRegion:
    id: int
    email: str
    age: Optional[int]
    amount_cents: int
    region: str = "EU"


@contract
@dataclass
class FlatNeedsRegion:
    id: int
    email: str
    age: Optional[int]
    amount_cents: int
    region: str
