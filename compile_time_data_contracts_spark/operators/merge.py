"""Bucket-pruned MERGE / upsert over a partitioned parquet snapshot.

The reference delegates all mutation to its opaque transform hole
(/root/reference/src/main/scala/ctdc/SparkCore.scala:404-415); this module
supplies the Spark-first upsert a contract-pinned lakehouse snapshot needs
without a transactional table format: the snapshot is laid out partitioned
by a deterministic key bucket, and a MERGE rewrites ONLY the bucket
directories that actually contain updated keys.

Why this matters at 100 TB: q133's plain formulation full-outer-joins the
ENTIRE snapshot against every update batch and rewrites every byte.  With
the snapshot bucketed on ``pmod(xxhash64(key), B)``, an update batch
touching K distinct buckets reads and rewrites K/B of the data — for a
typical daily batch (thousands of keys, B = 1024) that is a few percent of
the snapshot, partition-pruned at the directory level by the scan
(PartitionFilters) and replaced atomically per-directory by dynamic
partition overwrite.  Untouched bucket directories are not read and not
written — their files stay byte-identical (asserted by test).

Layout (mirrors the IVF / MinHash index convention):

    {path}/data/__bucket=K/...   the snapshot, partitioned by bucket
    {path}/meta                  key column + bucket count (one row)

The bucket column is derived, never user data; readers use
:func:`snapshot_read`, which drops it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "snapshot_write",
    "snapshot_read",
    "merge_upsert",
    "cdc_apply",
    "BUCKET_COL",
]

BUCKET_COL = "__bucket"


def _bucket_of(key_col: str, num_buckets: int) -> F.Column:
    # xxhash64 (not hash/murmur3) so bucket ids are stable across Spark
    # versions that reseed murmur3 defaults; pmod keeps negatives positive
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_buckets)).cast("int")


def snapshot_write(
    df: DataFrame,
    path: str,
    key_col: str,
    num_buckets: int = 64,
) -> None:
    """Write ``df`` as a merge-ready snapshot: data partitioned by the
    key bucket plus a one-row meta table pinning (key_col, num_buckets)
    so every future merge buckets its updates identically.  One shuffle
    -- a repartition on the bucket column so each partition directory is
    written by one task instead of every task appending a file to every
    directory (at 1000 executors x 1024 buckets that is the difference
    between 1024 files and ~1M)."""
    if num_buckets < 1:
        raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
    if key_col not in df.columns:
        raise ValueError(f"key column {key_col!r} not in {df.columns}")
    bucketed = df.withColumn(BUCKET_COL, _bucket_of(key_col, num_buckets))
    bucketed.repartition(F.col(BUCKET_COL)).write.mode(
        "overwrite"
    ).partitionBy(BUCKET_COL).parquet(f"{path}/data")
    from ..sources.layout import write_tiny_parquet

    write_tiny_parquet(
        df.sparkSession,
        [(key_col, num_buckets)], "key_col string, num_buckets int",
        f"{path}/meta",
    )


def snapshot_read(spark: SparkSession, path: str) -> DataFrame:
    """The snapshot's user-visible contents (bucket column dropped)."""
    return spark.read.parquet(f"{path}/data").drop(BUCKET_COL)


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
) -> list[int]:
    """SCD type-1 MERGE of an update batch into the snapshot at ``path``,
    rewriting only the buckets the batch touches.  Returns the sorted
    bucket list that was rewritten (len/num_buckets = fraction of the
    snapshot read AND written).

    Semantics match q133's full-outer-join formulation exactly: for a
    key present in both, each column takes the update's value WHERE
    NON-NULL (per-column coalesce — an update cannot clear a value to
    NULL; delete-a-cell needs a tombstone convention on top), an
    update-only key inserts, a snapshot-only key carries forward
    untouched.  ``updates`` must carry the snapshot's full user schema
    and be UNIQUE on the key — a duplicate-keyed batch (e.g. a replayed
    CDC slice) would fan out through the join and permanently duplicate
    snapshot rows, so it is rejected up front (Delta MERGE's
    multiple-source-matches error, made explicit).

    Mechanics, in 100 TB order of importance:

      1. the batch's bucket list comes from one tiny distinct over the
         derived bucket column — keys outside these buckets cannot be
         affected, by construction of the bucketing,
      2. the snapshot scan filters ``__bucket IN (...)``: a partition
         column, so pruning happens at the directory level
         (PartitionFilters) — untouched buckets are never read,
      3. the join shuffles only the touched slice + the batch,
      4. the write uses per-write dynamic partition overwrite
         (``partitionOverwriteMode=dynamic``): only directories present
         in the output — exactly the touched buckets — are replaced;
         commit is atomic per directory (the usual non-transactional
         parquet caveat: concurrent writers to the SAME bucket still
         need an external lock or a table format).
    """
    from .materialize import read_meta

    meta = read_meta(spark, f"{path}/meta")
    if meta is None:
        raise ValueError(f"merge_upsert: no snapshot meta at {path}")
    key_col = meta["key_col"]
    num_buckets = meta["num_buckets"]
    if key_col not in updates.columns:
        raise ValueError(
            f"updates lack the snapshot key column {key_col!r} "
            f"(snapshot at {path})"
        )

    u = updates.withColumn(BUCKET_COL, _bucket_of(key_col, num_buckets))
    # batch-sized duplicate check (one agg over the update slice, never
    # the snapshot): duplicates would multiply snapshot rows silently
    dup = (
        u.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(3)
        .collect()
    )
    if dup:
        raise ValueError(
            f"merge_upsert: update batch has duplicate keys "
            f"{[r[key_col] for r in dup]} (first 3) — dedupe the batch "
            "(e.g. keep the latest by a sequence column) before merging"
        )
    touched = sorted(
        r[BUCKET_COL] for r in u.select(BUCKET_COL).distinct().collect()
    )
    if not touched:
        return []

    snap = spark.read.parquet(f"{path}/data")
    cols = [c for c in snap.columns if c != BUCKET_COL]
    if sorted(updates.columns) != sorted(cols):
        raise ValueError(
            f"updates schema {sorted(updates.columns)} != snapshot schema "
            f"{sorted(cols)}"
        )
    slice_ = snap.filter(F.col(BUCKET_COL).isin(touched)).alias("c")
    ub = u.alias("u")
    merged = slice_.join(
        ub, F.col(f"c.{key_col}") == F.col(f"u.{key_col}"), "full_outer"
    ).select(
        *[
            F.coalesce(F.col(f"u.{c}"), F.col(f"c.{c}")).alias(c)
            for c in cols
        ],
        F.coalesce(
            F.col(f"u.{BUCKET_COL}"), F.col(f"c.{BUCKET_COL}")
        ).alias(BUCKET_COL),
    )
    # the write overwrites directories the plan also reads — materialize
    # the merged slice first (reliable checkpoint: touched-slice-sized,
    # recoverable) so the overwrite never consumes files it is replacing.
    # Checkpoint files persist after the merge: set
    # spark.cleaner.referenceTracking.cleanCheckpoints=true (or point
    # the checkpoint dir at storage with a TTL) on a long-lived driver,
    # or repeated daily merges accumulate one touched-slice-sized
    # directory each
    from .materialize import pin as _pin
    merged = merged.repartition(F.col(BUCKET_COL)).transform(_pin)
    merged.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(BUCKET_COL).parquet(f"{path}/data")
    return touched


def cdc_apply(
    changes: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Apply a CDC change stream (Debezium-style I/U/D rows) to derive
    the current snapshot: per key, order by ``seq_cols`` and keep the
    LAST change; if that change is a delete the key is absent from the
    result, otherwise the row's payload is the current state.  A
    delete followed by a later upsert correctly re-creates the key —
    "last op wins" needs no per-key replay.

    ``seq_cols`` must totally order each key's changes (include a
    unique tiebreaker like the change's log offset) and must not be
    NULL: engines disagree on NULL placement under DESC ordering, so a
    NULL sequence value turns "last op wins" into "engine-dependent op
    wins" — the same contract as the reference's ordered comparers.
    ``op_col`` must not be NULL either: a malformed op on the winning
    change is a data fault, and the operator FAILS FAST on it
    (``raise_error``) rather than letting ``NULL != delete_op``
    evaluate to NULL and silently delete the key.

    Scale shape: ONE window over the key exchange (row_number desc +
    rank filter, which Spark rewrites into a per-partition top-1 heap
    via WindowGroupLimit before the shuffle), then a codegen filter.
    No join against the previous snapshot is needed to answer "current
    state" from a complete change log; to roll a PERSISTED snapshot
    forward instead, feed ``snapshot ∪ changes`` in (the snapshot rows
    carrying the lowest sequence value), which is exactly how q210's
    oracle recomputes it."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(
        *[F.desc(c) for c in seq_cols]
    )
    guarded_op = F.when(
        F.col(op_col).isNull(),
        F.raise_error(
            F.lit(
                "cdc_apply: NULL op on a winning change row — a NULL "
                f"{op_col} would be silently treated as a delete"
            )
        ),
    ).otherwise(F.col(op_col))
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .filter(guarded_op != delete_op)
        .drop("__rn")
    )
