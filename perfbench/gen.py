"""Seeded input generators for the benchmark.

Everything here is NumPy + PyArrow, with no Spark: the inputs exist
before the program under test starts, and the same ``seed`` always
writes the same bytes.

* :func:`write_events` writes the ``events`` table the registry
  queries read (``<dir>/events.parquet``), with the column types of
  ``compile_time_data_contracts_spark.catalog``.
* :func:`write_accounts_csv` writes the flat CSV feed the contract
  pipeline ingests and returns the row count and checksums the sink must
  reproduce.
"""

from __future__ import annotations

import dataclasses
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

_EVENTS_PER_SF = 1_000_000
_USERS_PER_EVENT = 0.015  # ~67 events per user, so per-user chains are long
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def event_rows(sf: float) -> int:
    return max(10, int(_EVENTS_PER_SF * sf))


def build_events(seed: int, sf: float) -> pa.Table:
    """The ``events`` table at scale ``sf``, distributed like the fixture
    tables' ``events``: ids in time order over 30 days, users and event
    types drawn uniformly."""
    rng = np.random.default_rng(seed)
    ne = event_rows(sf)
    users = max(2, round(ne * _USERS_PER_EVENT))
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, ne))
    return pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
            "event_type": pa.array(
                np.asarray(_EVENT_TYPES, dtype=object)[rng.integers(0, 5, ne)]
            ),
            "value": np.round(rng.exponential(60.0, ne) + 0.01, 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )


def write_events(out_dir: str, seed: int, sf: float) -> int:
    """Write ``<out_dir>/events.parquet``; returns its row count."""
    os.makedirs(out_dir, exist_ok=True)
    table = build_events(seed, sf)
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    return table.num_rows


@dataclasses.dataclass(frozen=True)
class FeedTruth:
    """What a correct sink must hold after ingesting the feed."""

    rows: int
    id_sum: int
    amount_sum: int
    input_bytes: int


def build_accounts(seed: int, rows: int) -> pa.Table:
    """The flat account feed: one row per account event, with empty
    optional cells (age, zip, tags, metrics) the pipeline must keep null."""
    rng = np.random.default_rng(seed)

    def with_nulls(values: np.ndarray, share: float) -> pa.Array:
        return pa.array(values, mask=rng.random(rows) < share)

    ids = rng.permutation(rows).astype(np.int64) + 1_000_000
    cities = np.asarray([f"city{k:02d}" for k in range(40)], dtype=object)
    words = np.asarray(["red", "green", "blue", "gold", None], dtype=object)
    cols = {
        "id": ids,
        "email": pa.array([f"user{k}@example.org" for k in ids]),
        "age": with_nulls(rng.integers(18, 90, rows), 0.1),
        "street": pa.array([f"{k % 997} main st" for k in ids]),
        "city": pa.array(cities[rng.integers(0, len(cities), rows)]),
        "zip": with_nulls(rng.integers(10_000, 99_999, rows), 0.05),
        "lat": np.round(rng.uniform(-90.0, 90.0, rows), 5),
        "lon": np.round(rng.uniform(-180.0, 180.0, rows), 5),
        "kind": pa.array(np.asarray(_EVENT_TYPES, dtype=object)[rng.integers(0, 5, rows)]),
        "at": _EPOCH_2024 // 1_000_000 + rng.integers(0, 86_400 * 30, rows),
        "tag_a": pa.array(words[rng.integers(0, 5, rows)]),
        "tag_b": pa.array(words[rng.integers(0, 5, rows)]),
        "attr_key": pa.array(np.asarray(["src", "tier", "lang"], dtype=object)[rng.integers(0, 3, rows)]),
        "attr_value": pa.array([f"v{k % 13}" for k in ids]),
        "metric_a": with_nulls(rng.integers(0, 1000, rows), 0.2),
        "metric_b": with_nulls(rng.integers(0, 1000, rows), 0.2),
        "amount_cents": rng.integers(1, 10_000_000, rows).astype(np.int64),
    }
    return pa.table(cols)


def write_accounts_csv(path: str, seed: int, rows: int) -> FeedTruth:
    table = build_accounts(seed, rows)
    pacsv.write_csv(table, path)
    return FeedTruth(
        rows=table.num_rows,
        id_sum=int(np.sum(table["id"].to_numpy())),
        amount_sum=int(np.sum(table["amount_cents"].to_numpy())),
        input_bytes=os.path.getsize(path),
    )
