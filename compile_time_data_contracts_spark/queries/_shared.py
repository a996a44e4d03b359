"""The declared query inventory (SURVEY.md §2.2, Q01-Q52 + extensions).

Every entry is registered as (name -> spark_fn, name -> oracle_sql) where
the oracle is ANSI SQL runnable by DuckDB over the same parquet tables.
The driver hash-compares both sides at sf=0.01 (rows sorted, columns
sorted by name), so:

  * every computed column is aliased identically on both sides,
  * doubles are rounded (2 dp for money, 4-6 dp for ratios) on BOTH sides
    so double-summation-order ulp differences can't flip the hash,
  * timestamps are emitted as formatted strings or DATEs (parquet ns vs
    Spark us precision would otherwise desync the value hash),
  * BIGINT casts pin DuckDB's hugeint sums to Spark's long.

Queries with no oracle entry (approx sketches, LSH-recall paths, SimHash)
get the driver's weaker rows-only check by design.
"""

from __future__ import annotations

import typing
from collections.abc import Callable
from typing import Optional  # noqa: F401  (q52 contract annotation resolution)

import pandas as pd  # noqa: F401  (q122 pandas_udf annotation resolution)

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..contracts.policies import SchemaPolicy
# module-level so PEP 563 string annotations on function-local contract
# dataclasses (q52) resolve against module globals
from ..contracts.types import int32  # noqa: F401
from ..operators.asof import asof_join
from ..operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_index_reuse_or_build,
    minhash_near_dup_pairs,
    near_dup_against,
    normalize_text,
    simhash,
    simhash_table,
)
from ..operators.multimodal import attach_fake_media, extract_media_features
from ..operators.similarity import (
    cosine_pairs,
    cosine_pairs_exact_blas,
    cosine_pairs_lsh,
    topk_cosine,
)
from ..operators.sampling import deterministic_sample, pack_sequences
from ..operators.text import (
    bpe_ish_token_count,
    fingerprint_md5,
    language_id,
    punct_ratio,
    redact_pii,
    stopword_ratio,
    token_count,
    token_diversity,
    winnow_fingerprint,
)
from ..operators.topk import topk_per_group

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def q(name: str, oracle: typing.Optional[str] = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


def _ts_str(col: Column) -> Column:
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
