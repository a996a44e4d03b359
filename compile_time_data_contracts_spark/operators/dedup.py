"""Deduplication operators for LLM training-data pipelines.

Four tiers, all expressed with built-in JVM functions (no Python UDFs in
any hot path):

  * exact:   sha2 over normalized text, hash-groupBy — one shuffle.
  * n-gram Jaccard: word-shingle sets + (at small n) pair join with
    array_intersect; the scale path is MinHash-LSH below.
  * MinHash-LSH: shingles -> H minhash values (xxhash64 per seed) ->
    b bands -> explode (band_id, band_hash) -> self-join on band buckets ->
    exact-Jaccard verification of candidates.  The band join touches only
    colliding buckets: at 100 TB this is the difference between O(n²)
    pairs and O(candidates).
  * SimHash: per-token 64-bit hash, bitwise majority vote -> one bigint
    signature; near-dups cluster by hamming distance on signature
    prefixes.

All hashes are Spark's deterministic xxhash64/sha2, so results are stable
across runs and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .materialize import content_fingerprint, meta_matches, read_meta

__all__ = [
    "normalize_text",
    "exact_dedup",
    "shingles",
    "jaccard_pairs",
    "containment_pairs",
    "hot_shingle_report",
    "banding_then_containment",
    "chunked_containment_pairs",
    "prefix_filtered_jaccard_pairs",
    "minhash_signature",
    "banded_signature_table",
    "shingle_set_table",
    "lsh_candidate_pairs",
    "minhash_near_dup_pairs",
    "minhash_index_build",
    "minhash_index_reuse_or_build",
    "near_dup_against",
    "keep_best_dedup",
    "connected_components_star",
    "connected_components_incremental",
    "simhash",
    "simhash_table",
    "contamination_check",
    "semantic_dedup",
]

# Broadcasting the hot-shingle list into the anti-join is only safe
# while the list is genuinely small; past this many entries (~tens of
# MB of shingle strings) fall back to a shuffle anti-join rather than
# ship an unbounded set to the driver and every executor.
_HOT_BROADCAST_MAX = 1_000_000


def anti_join_hot(df: DataFrame, hot: DataFrame, on: str, n_hot: int) -> DataFrame:
    """``df`` without the rows whose ``on`` value is in ``hot`` (a list
    of ``n_hot`` rows): a broadcast anti-join while the list is at most
    ``_HOT_BROADCAST_MAX`` rows, a shuffle anti-join past it."""
    side = F.broadcast(hot) if n_hot <= _HOT_BROADCAST_MAX else hot
    return df.join(side, on, "left_anti")


def normalize_text(col: str = "text") -> F.Column:
    """Canonical text form for exact dedup: trim, lowercase, collapse
    whitespace."""
    return F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " ")


def exact_dedup(df: DataFrame, col: str = "text") -> DataFrame:
    """Keep one row per normalized-text hash (deterministic winner: lowest
    doc_id via min aggregation would need a key; we use dropDuplicates on
    the hash after adding it)."""
    hashed = df.withColumn("__h", F.sha2(normalize_text(col), 256))
    return hashed.dropDuplicates(["__h"]).drop("__h")


def shingles(col: str = "text", n: int = 3) -> F.Column:
    """Distinct word n-gram shingles as an array<string>, entirely with
    built-in higher-order functions (split -> transform over an index
    sequence -> slice -> concat_ws)."""
    toks = F.split(F.col(col), " ")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws("|", F.slice(toks, i + 1, n)),
        )
    )


def _jaccard(a: F.Column, b: F.Column) -> F.Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def hot_shingle_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_df: int = 1024,
) -> DataFrame:
    """(shingle, df) for every shingle whose document frequency exceeds
    ``max_df`` — the shingles a ``max_df``-capped pair operator drops
    from its posting lists.  This is the NO-SILENT-TRUNCATION companion
    to the ``max_df`` parameter of :func:`jaccard_pairs` /
    :func:`containment_pairs`: run it (one explode + one partial-
    combined count, the same first pass the capped operators do) to see
    exactly which corpus stop-shingles ("terms of service …") were
    excluded from candidate generation and how common each is."""
    sh = shingle_rows(df, id_col, text_col, n).distinct()
    return (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
    )


def _capped_pair_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_df: int,
) -> DataFrame:
    """Exact pair scores with df-capped CANDIDATE GENERATION: the fix
    for the hot-shingle O(Σ df²) blowup of the plain co-occurrence
    join.

    Shape (the prefix-filtering idea from the exact set-similarity-join
    literature, e.g. PPJoin's frequency ordering):

      1. one posting pass counts each shingle's document frequency;
         shingles with df > max_df are dropped from the posting lists
         ONLY for candidate generation (broadcast into a left-anti
         join when the hot list is actually small — counted, not
         assumed; a huge hot list, e.g. a tiny max_df over a diverse
         corpus, falls back to a shuffle anti-join instead of
         becoming a driver/executor memory hazard),
      2. the capped self-join emits candidate id-pairs — each surviving
         shingle contributes at most max_df² join rows, so a corpus
         stop-shingle with df=10⁶ costs 0 instead of 10¹²,
      3. every candidate is verified EXACTLY against the full
         (uncapped) shingle sets of the candidate docs only
         (broadcast semi-join restricts the corpus first, as in
         lsh_candidate_pairs), so reported intersection/sizes — and
         therefore every Jaccard/containment value — are identical to
         the uncapped operator's.

    Lossless condition (document it to callers): a qualifying pair is
    missed ONLY if its entire shingle intersection is hot (df >
    max_df).  A pair at Jaccard >= t has |A∩B| >= t/(1+t)·(|A|+|B|);
    at containment >= t, |A∩B| >= t·|A|.  If documents carry fewer hot
    shingles than that bound (true for any sane max_df — hot shingles
    are corpus boilerplate, qualifying intersections are document
    content), the capped pair set equals the exact one.  Use
    :func:`hot_shingle_report` to see what was dropped.

    Returns (doc_a, doc_b, __inter, __sz_a, __sz_b) for UNORDERED
    candidate pairs (doc_a < doc_b) sharing >= 1 non-hot shingle.
    """
    import logging

    from pyspark import StorageLevel

    _ensure_checkpoint_dir(df.sparkSession.sparkContext)
    # ONE corpus pass fills the posting cache; the df histogram, both
    # sides of the capped self-join, the hot count, AND the full-set
    # verification all derive from it — the corpus text is never
    # re-scanned or re-shingled.  Same cache-scope discipline as
    # lsh_candidate_pairs: tiny frames are checkpoint-materialized,
    # then the cache is dropped in finally.
    sh = (
        shingle_rows(df, id_col, text_col, n)
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        dfreq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
        hot = dfreq.filter(F.col("__df") > max_df).select("shingle")
        # the hot list is USUALLY tiny (corpus boilerplate), but with a
        # small max_df over a large diverse corpus it can be
        # arbitrarily large — count it (one aggregate over the cached
        # postings, reused by the log line below) and only broadcast
        # under the threshold; above it, a plain shuffle anti-join
        n_hot = hot.count()
        kept = anti_join_hot(sh, hot, "shingle", n_hot)
        a, b = kept.alias("a"), kept.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("doc_a"),
                F.col(f"b.{id_col}").alias("doc_b"),
            )
            .dropDuplicates(["doc_a", "doc_b"])
            .transform(_pin)
        )
        logging.getLogger(__name__).info(
            "df-capped pair join: dropped %d shingles with df > %d "
            "from candidate generation (verification stays exact; "
            "call hot_shingle_report for the list)",
            n_hot,
            max_df,
        )
        cand_ids = (
            cand.select(F.col("doc_a").alias(id_col))
            .union(cand.select(F.col("doc_b").alias(id_col)))
            .distinct()
        )
        # full (uncapped) shingle sets for candidate docs only, straight
        # from the cached postings — candidate-sized collect_set state
        sh_full = (
            sh.join(F.broadcast(cand_ids), id_col, "semi")
            .groupBy(id_col)
            .agg(F.collect_set("shingle").alias("sh"))
            .transform(_pin)
        )
    finally:
        sh.unpersist()
    return (
        cand.join(
            sh_full.withColumnRenamed(id_col, "doc_a"), "doc_a"
        )
        .withColumnRenamed("sh", "__sh_a")
        .join(
            sh_full.withColumnRenamed(id_col, "doc_b").withColumnRenamed(
                "sh", "__sh_b"
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("__sh_a", "__sh_b"))
            .cast("long")
            .alias("__inter"),
            F.size("__sh_a").cast("long").alias("__sz_a"),
            F.size("__sh_b").cast("long").alias("__sz_b"),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard — the correctness baseline.

    Computed as a co-occurrence join, not a cartesian: explode distinct
    shingles to rows, self-join on the shingle to count |A∩B| per pair
    (codegen hash join + partial-agg count), then |A∪B| = |A|+|B|-|A∩B|
    from per-doc set sizes.  Pairs sharing zero shingles never
    materialize (their Jaccard is 0 < any positive threshold), so work is
    O(Σ_shingle df²) — driven by shingle document-frequency, not n².

    ``max_df``: the hot-shingle safety valve.  A stop-shingle shared by
    k docs contributes k² join rows — a single corpus-boilerplate
    shingle with df=10⁶ emits 10¹² pairs before any threshold can cut
    them.  With ``max_df`` set, shingles with df > max_df are dropped
    from CANDIDATE GENERATION only and every candidate is verified
    against the full shingle sets, so scores are exact and the pair
    set is unchanged whenever qualifying pairs share at least one
    non-hot shingle (see :func:`_capped_pair_scores` for the precise
    bound); the dropped shingles are reported via
    :func:`hot_shingle_report` and an INFO log — never silently.
    Default None preserves the plain exact join (the fixture-sized
    oracle path); at 100 TB set max_df (or use
    minhash_near_dup_pairs / banding_then_containment).

    NOTE (r10): the uncapped path materializes the distinct shingle
    table EAGERLY at construction (reliable checkpoint) because it
    feeds three plan branches — calling this builds and runs that job
    immediately, it is not a lazy frame.
    """
    if max_df is not None:
        scored = _capped_pair_scores(df, id_col, text_col, n, max_df)
        return scored.select(
            "doc_a",
            "doc_b",
            (
                F.col("__inter").cast("double")
                / (F.col("__sz_a") + F.col("__sz_b") - F.col("__inter"))
            ).alias("jaccard"),
        ).filter(F.col("jaccard") >= threshold)
    # the exploded distinct shingle table feeds the size histogram AND
    # both sides of the co-occurrence self-join — un-materialized, the
    # corpus shingling tower runs three times.  One reliable checkpoint
    # (posting-sized: ids + shingles, never full text) runs it once per
    # call (the _capped_pair_scores discipline).
    _ensure_checkpoint_dir(df.sparkSession.sparkContext)
    sh = shingle_rows(df, id_col, text_col, n).distinct().checkpoint(
        eager=True
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("__sz"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count("*").alias("__inter"))
    )
    sz_a = sizes.select(
        F.col(id_col).alias("doc_a"), F.col("__sz").alias("__sz_a")
    )
    sz_b = sizes.select(
        F.col(id_col).alias("doc_b"), F.col("__sz").alias("__sz_b")
    )
    return (
        inter.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("__inter").cast("double")
                / (F.col("__sz_a") + F.col("__sz_b") - F.col("__inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signature(
    sh_col: F.Column, num_hashes: int = 32
) -> F.Column:
    """H-wide MinHash signature as a single expression: for seed h, min
    over shingles of xxhash64(shingle, h).  array<bigint> of length H.

    NOTE: higher-order-function lambdas are interpreted (outside
    WholeStageCodegen), so this column form is ~100× slower than the
    exploded/aggregated form in :func:`minhash_table` — it exists for
    expression-level composition (e.g. signatures over an array column
    that is not worth exploding).  The LSH pipeline uses minhash_table.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda h: F.array_min(
            F.transform(sh_col, lambda s: F.xxhash64(s, h))
        ),
    )


def shingle_rows(
    df: DataFrame,
    id_col="doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """One row per (id, word-n-gram), entirely inside whole-stage codegen.

    Higher-order-function lambdas (transform/aggregate) are interpreted
    expression trees in Spark — ~0.5 ms/doc — so instead the n-gram is
    assembled from ``arrays_zip`` of n shifted ``slice`` views +
    ``posexplode`` (GenerateExec supports codegen for posexplode) +
    ``concat_ws``.  Emits the same strings as :func:`shingles` minus the
    array_distinct (duplicates are harmless under min-aggregation and
    row-level distinct is available to callers that need it).

    ``id_col`` may be one column name or a sequence of names (compound
    key, e.g. (owner, window) for the chunked-containment pipeline).
    """
    id_cols = [id_col] if isinstance(id_col, str) else list(id_col)
    # shingling + per-shingle hashing is the dominant pre-shuffle map
    # work of the whole dedup/ER family and would otherwise run inside
    # the (often single-row-group, single-task) scan stage — spread the
    # narrow (ids, text) projection first (guide §2.5; no-op on wide
    # scans).  Every consumer aggregates order-insensitively (distinct /
    # min / count), so round-robin placement is safe.
    from .spread import spread_for_compute

    src = spread_for_compute(
        df.select(*[F.col(c) for c in id_cols], F.col(text_col))
    )
    toks = F.split(F.col(text_col), " ")
    base = src.select(*[F.col(c) for c in id_cols], toks.alias("__t"))
    shifted = F.arrays_zip(
        *[
            F.slice(F.col("__t"), i + 1, F.size("__t")).alias(f"g{i}")
            for i in range(n)
        ]
    )
    rows = base.select(
        *[F.col(c) for c in id_cols],
        F.size("__t").alias("__sz"),
        F.posexplode(shifted).alias("__pos", "__g"),
    )
    # same index range as shingles(): 0 .. max(len - n, 0); trailing
    # entries have null g1/g2, which concat_ws skips — identical to the
    # short-slice behavior for sub-n-token documents
    return rows.filter(
        F.col("__pos") <= F.greatest(F.col("__sz") - n, F.lit(0))
    ).select(
        *[F.col(c) for c in id_cols],
        F.concat_ws("|", *[f"__g.g{i}" for i in range(n)]).alias("shingle"),
    )


def minhash_table(
    df: DataFrame,
    id_col="doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """(id, h0..h{H-1}) MinHash signatures via explode + codegen'd
    aggregation — the scale path.

    Shingles are exploded to one row each (:func:`shingle_rows`), every
    seed's hash is a plain ``xxhash64(shingle, seed)`` column
    (whole-stage codegen, subexpression-eliminated), and the per-document
    min is a hash aggregate with map-side partial combine: the shuffle
    carries only |docs| × H longs regardless of document length.  Hash
    values are identical to minhash_signature's (xxhash64 of the
    (shingle, seed) pair), so the two forms are interchangeable.

    ``id_col`` accepts one name or a sequence (compound key) — same
    contract as :func:`shingle_rows`.
    """
    id_cols = [id_col] if isinstance(id_col, str) else list(id_col)
    sh_rows = shingle_rows(df, id_cols, text_col, n)
    aggs = [
        F.min(F.xxhash64("shingle", F.lit(h))).alias(f"h{h}")
        for h in range(num_hashes)
    ]
    return sh_rows.groupBy(*id_cols).agg(*aggs)


def _band_hash_columns(num_hashes: int, bands: int) -> list:
    """One xxhash64 column per band over the aggregated h0..h{H-1}
    signature columns.  THE banding-compatibility invariant: every
    producer of a bandable table (whole-doc signatures, container-chunk
    signatures, the persisted incremental index) must hash bands with
    THIS function, or bucket joins between them silently stop
    colliding (zero candidates, no error)."""
    rows = num_hashes // bands
    return [
        F.xxhash64(*[f"h{b * rows + r}" for r in range(rows)])
        for b in range(bands)
    ]


def banded_signature_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """(id, band_id, band_hash): one 64-bit hash per signature band,
    exploded to one row per (doc, band).  The shared building block of
    the self-join path (:func:`lsh_candidate_pairs`) and the persisted
    incremental index (:func:`minhash_index_build`).

    The table carries ONLY ids and longs — the heavy shingle arrays
    never enter the b×-exploded table or its shuffle.  Band hashes are
    attribute refs over the aggregated h0..h{H-1} columns, so no
    expression re-evaluation."""
    sigs = minhash_table(df, id_col, text_col, n, num_hashes)
    return sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(*_band_hash_columns(num_hashes, bands))
        ).alias("band_id", "band_hash"),
    )


def shingle_set_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(id, sh array<string>): per-document distinct shingle sets via the
    codegen'd explode + map-side-combined collect_set — the verification
    payload for exact-Jaccard checks."""
    return (
        shingle_rows(df, id_col, text_col, n)
        .groupBy(id_col)
        .agg(F.collect_set("shingle").alias("sh"))
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    ``num_hashes // bands`` rows, hash each band, explode to
    (band_id, band_hash, id), self-join per bucket.

    With r=2, b=16 the candidate probability at Jaccard s is
    1-(1-s²)^16 — ≥0.99 for s ≥ 0.5 — while ~s=0.02 noise pairs almost
    never collide, so the join stays tiny.
    Returns distinct candidate (doc_a, doc_b) pairs with shingle arrays
    attached for verification.
    """
    banded = banded_signature_table(df, id_col, text_col, n, num_hashes, bands)
    # banded feeds both sides of the bucket self-join — unpersisted, the
    # shingle-explode + minhash pipeline would run twice.  The cache is
    # scoped, not leaked: the candidate id-pairs (tiny — ids only) are
    # materialized with a reliable checkpoint, after which the banded
    # cache is dropped in a finally block, so repeated calls in a
    # long-lived session cannot accumulate cache entries.
    from pyspark import StorageLevel

    _ensure_checkpoint_dir(df.sparkSession.sparkContext)
    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        a = banded.alias("a")
        b = banded.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("doc_a"),
                F.col(f"b.{id_col}").alias("doc_b"),
            )
            .dropDuplicates(["doc_a", "doc_b"])
            .transform(_pin)  # cut lineage; banded cache can go
        )
    finally:
        banded.unpersist()
    # attach shingle sets for verification only to surviving candidates:
    # restrict the corpus to candidate docs FIRST (broadcast semi-join
    # against the tiny checkpointed pair set), so the shingle
    # collect_set state is candidate-sized, never corpus-sized — at
    # 100 TB the full-corpus shingle table would dwarf memory, while
    # candidates are the (rare) near-dup docs.  Sets come from
    # collect_set over the codegen'd shingle rows, not the interpreted
    # shingles() lambda (~100× cheaper per doc).
    cand_ids = (
        cand.select(F.col("doc_a").alias(id_col))
        .union(cand.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    sh = shingle_set_table(
        df.join(F.broadcast(cand_ids), id_col, "semi"), id_col, text_col, n
        # candidate-sized and consumed by BOTH verification joins:
        # checkpoint instead of cache, so the corpus is scanned exactly
        # once and no cache entry outlives the call
    ).transform(_pin)
    return (
        cand.join(sh.withColumnRenamed(id_col, "doc_a"), "doc_a")
        .withColumnRenamed("sh", "sh_a")
        .join(
            sh.withColumnRenamed(id_col, "doc_b").withColumnRenamed(
                "sh", "sh_b"
            ),
            "doc_b",
        )
        .select("doc_a", "doc_b", "sh_a", "sh_b")
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """MinHash-LSH candidates + exact-Jaccard verification: the scale path
    for near-dup detection.  Output schema matches jaccard_pairs."""
    cand = lsh_candidate_pairs(df, id_col, text_col, n, num_hashes, bands)
    return (
        cand.withColumn("jaccard", _jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_index_build(
    df: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    fingerprint: tuple[int, str] | None = None,
) -> None:
    """Build and PERSIST a MinHash-LSH near-dup index so later batches
    dedup *against* the corpus without re-shingling it — the
    incremental-ingest pattern of a real training-data pipeline (new
    crawl batches arrive daily; the corpus is re-processed never).

    Two parquet tables plus metadata land under ``index_path``:

      * ``bands``    — (id, band_id, band_hash) from
        :func:`banded_signature_table`: ids + longs only, ~24 bytes per
        (doc, band).  The probe side of every future batch join.
      * ``shingles`` — (id, sh array<string>) from
        :func:`shingle_set_table`: the exact-Jaccard verification
        payload, fetched only for candidate docs at query time.
      * ``meta``     — shingle/hash/band parameters + the corpus content
        fingerprint, so :func:`near_dup_against` can refuse an index
        whose parameters don't match and reuse logic can detect a
        regenerated corpus.

    One corpus pass each for bands and shingles; on a real cluster point
    ``index_path`` at durable shared storage."""
    spark = df.sparkSession
    banded_signature_table(
        df, id_col, text_col, n, num_hashes, bands
    ).write.mode("overwrite").parquet(f"{index_path}/bands")
    shingle_set_table(df, id_col, text_col, n).write.mode(
        "overwrite"
    ).parquet(f"{index_path}/shingles")
    fp = (
        fingerprint
        if fingerprint is not None
        else content_fingerprint(df, id_col)
    )
    from ..sources.layout import write_tiny_parquet

    write_tiny_parquet(
        spark,
        [tuple(_minhash_meta_row(fp, id_col, n, num_hashes, bands).values())],
        "n_docs long, max_id string, id_col string, shingle_n int, "
        "num_hashes int, bands int",
        f"{index_path}/meta",
    )


def _minhash_meta_row(fp, id_col, n, num_hashes, bands) -> dict:
    """The MinHash index ``meta`` row: the corpus content fingerprint
    and the shingle/hash/band parameters, in column order."""
    return {
        "n_docs": fp[0], "max_id": fp[1], "id_col": id_col,
        "shingle_n": n, "num_hashes": num_hashes, "bands": bands,
    }


def minhash_index_reuse_or_build(
    df: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
) -> None:
    """Build the index only when missing or stale: the persisted meta
    fingerprint (row count + max id) and parameters must match the
    current corpus, mirroring ``ivf_topk``'s reuse contract — a
    regenerated corpus at the same path triggers a rebuild instead of
    silently serving stale candidates."""
    fp = content_fingerprint(df, id_col)
    want = _minhash_meta_row(fp, id_col, n, num_hashes, bands)
    if not meta_matches(read_meta(df.sparkSession, f"{index_path}/meta"), want):
        minhash_index_build(
            df, index_path, id_col, text_col, n, num_hashes, bands,
            fingerprint=fp,
        )


def near_dup_against(
    spark,
    index_path: str,
    batch: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs between a NEW batch and a persisted corpus index:
    (doc_a = corpus id, doc_b = batch id, jaccard), exact-verified at
    ``threshold``.  Only the batch is shingled/minhashed; the corpus
    side is two parquet reads of the index — never recomputed, never
    re-shuffled in full:

      * candidates: the corpus ``bands`` table streams through a
        broadcast hash join against the (small) batch band table — the
        100 TB-corpus side is one columnar scan of ids+longs with no
        shuffle and no sort,
      * verification: candidate pairs join the index ``shingles`` table
        (corpus side) and the batch's shingle sets; exact Jaccard
        filters to >= threshold, so precision is 1 and recall is the
        banding recall (>0.9999 at the default r=2, b=16 for s >= 0.5).

    Self-pairs (a batch re-ingesting a doc id already in the corpus) are
    excluded.  Intra-batch duplicates are out of scope by design — run
    :func:`minhash_near_dup_pairs` on the batch for those.  Parameters
    (shingle n, hashes, bands) come from the index meta so batch
    signatures are always computed compatibly."""
    m = read_meta(spark, f"{index_path}/meta")
    if m is None:
        raise ValueError(f"near_dup_against: no index meta at {index_path}")
    if m["id_col"] != id_col:
        raise ValueError(
            f"index at {index_path} was built on id column "
            f"{m['id_col']!r}, not {id_col!r}"
        )
    n = int(m["shingle_n"])
    num_hashes = int(m["num_hashes"])
    bands = int(m["bands"])

    corpus_bands = spark.read.parquet(f"{index_path}/bands")
    batch_bands = banded_signature_table(
        batch, id_col, text_col, n, num_hashes, bands
    )
    cand = (
        corpus_bands.alias("c")
        .join(
            F.broadcast(batch_bands).alias("b"),
            (F.col("c.band_id") == F.col("b.band_id"))
            & (F.col("c.band_hash") == F.col("b.band_hash"))
            & (F.col(f"c.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"c.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh_c = spark.read.parquet(f"{index_path}/shingles").select(
        F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a")
    )
    sh_b = shingle_set_table(batch, id_col, text_col, n).select(
        F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b")
    )
    return (
        cand.join(sh_c, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn("jaccard", _jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def keep_best_dedup(
    df: DataFrame,
    col: str = "text",
    score_col: str = "doc_id",
    ascending: bool = True,
) -> DataFrame:
    """Exact dedup with a declared winner: within each normalized-text
    hash group, keep the row with the min (ascending) or max ``score_col``
    — e.g. keep the highest-quality or earliest-crawled duplicate instead
    of an arbitrary one.

    One hash aggregate (map-side combined): the winner is selected with
    min_by/max_by over the group, so no window sort and no second pass.

    Ties on ``score_col`` break on the FULL row struct (field order =
    ``df.columns``): min_by/max_by alone returns an arbitrary tied row,
    varying across runs and partitionings — the determinism the module
    promises (and oracle comparison relies on) needs a total order.
    """
    hashed = df.withColumn("__h", F.sha2(normalize_text(col), 256))
    pick = F.min_by if ascending else F.max_by
    # struct ordering is lexicographic by field, so (score, *row) is a
    # total order: score decides, the row itself breaks ties (the min
    # row under min_by, the max row under max_by)
    order_key = F.struct(F.col(score_col), *[F.col(c) for c in df.columns])
    keep_struct = pick(F.struct(*df.columns), order_key)
    winners = hashed.groupBy("__h").agg(keep_struct.alias("__w"))
    return winners.select("__w.*")


# one shared home for the materialization discipline (round-11
# consolidation); re-exported here because operators and tests import
# it from this module historically
from .materialize import ensure_checkpoint_dir as _ensure_checkpoint_dir
from .materialize import pin as _pin
from .materialize import pin_with_signature as _pin_with_signature


def simhash(col: str = "text", bits: int = 64) -> F.Column:
    """SimHash signature: per-token xxhash64, majority vote per bit,
    packed into one bigint.

    bit i of the signature = 1 iff sum over tokens of sign(bit i of
    xxhash64(token)) is positive.  Written as a SQL expression because the
    shift amount is a lambda variable (the Python shiftright wrapper only
    accepts int literals); the token hashes are bound once via a
    single-element aggregate so they are not recomputed per bit.

    **Per-row expression form — fixture/reference only.**  The nested
    ``aggregate`` lambdas are interpreted (never codegen'd): O(bits ×
    tokens) HOF steps per document, ~0.5 ms/doc.  The hot path is
    :func:`simhash_table`, which computes bit-identical signatures via
    explode + one map-side-combined aggregate.
    """
    hashes = f"transform(split({col}, ' '), s -> xxhash64(s))"
    bit_vote = (
        "aggregate(hs, 0, (v, h) -> v + IF((shiftright(h, i) & 1) = 1, 1, -1))"
    )
    return F.expr(
        f"aggregate(transform(array(0), z -> {hashes}), cast(0 as long), "
        f"(acc, hs) -> aggregate(sequence(0, {bits - 1}), acc, "
        f"(a2, i) -> a2 + IF({bit_vote} > 0, shiftleft(cast(1 as long), i), "
        f"cast(0 as long))))"
    )


def simhash_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """(id, signature) SimHash via explode + codegen'd aggregation — the
    scale path, mirroring :func:`minhash_table`.

    Tokens explode to one row each, the token hash is a single
    ``xxhash64`` column (whole-stage codegen, subexpression-eliminated
    across the ``bits`` vote columns), and each bit's majority vote is a
    plain ``sum`` in ONE hash aggregate with map-side partial combine:
    the shuffle carries |docs| × bits small longs regardless of document
    length, and no interpreted higher-order function appears anywhere in
    the plan.  Signatures are bit-identical to the :func:`simhash`
    expression form (same xxhash64 per token, same >0 vote, same JVM
    shiftleft wrap at bit 63); the only behavioral difference is that a
    NULL text yields no output row here versus a NULL signature there.
    """
    from .spread import spread_for_compute

    # token explode + per-token hashing + the 64-column partial vote agg
    # all run pre-exchange — spread a narrow scan first (guide §2.5;
    # no-op on wide scans); the per-bit sums are order-insensitive
    toks = spread_for_compute(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("__tok"),
    ).select(F.col(id_col), F.xxhash64(F.col("__tok")).alias("__h"))
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("__h"), i).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1),
                ).otherwise(F.lit(-1))
            ).alias(f"__b{i}")
            for i in range(bits)
        ]
    )
    sig = None
    for i in range(bits):
        term = F.when(
            F.col(f"__b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return votes.select(F.col(id_col), sig.alias("signature"))


def contamination_check(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark-contamination scan: which corpus documents share any
    word-``n``-gram with an evaluation set (the decontamination step
    every pretraining pipeline runs before training).

    Both sides expand to (id, n-gram) rows via the codegen shingle path
    (:func:`shingle_rows`); benchmark n-grams are deduplicated and
    **broadcast** (eval sets are small by definition — if yours is not,
    drop the broadcast hint and this becomes a plain shuffled equi-join
    on the n-gram), so the corpus never shuffles for the join itself.
    Per-document hit counts come from one count-distinct aggregation.

    Output: (id, n_shared_ngrams, n_bench_docs) for contaminated
    documents only — clean documents produce no row, so the result is
    eval-set-sized, not corpus-sized.
    """
    left = shingle_rows(corpus, id_col, text_col, n)
    right = (
        shingle_rows(bench, id_col, text_col, n)
        .select(F.col(id_col).alias("__bench_id"), "shingle")
        .distinct()
    )
    return (
        left.join(F.broadcast(right), "shingle")
        .groupBy(id_col)
        .agg(
            F.countDistinct("shingle").alias("n_shared_ngrams"),
            F.countDistinct("__bench_id").alias("n_bench_docs"),
        )
    )


def _component_min_labels(u, v):
    """``(nodes, mins)``: every node of the edge list ``u[i] -- v[i]``
    (NumPy arrays) and its component's minimum node, by vectorized
    hook-and-pointer-jump over dense ``np.unique`` indices.  The indices
    are in id order, so a component's smallest index is its min id.

    Each pass hooks every root onto the smallest root it shares an
    edge with (a root's label only ever decreases and every label
    points at a smaller-or-equal index, so no cycle can form), then
    pointer-jumps until every node points straight at its root.  It
    stops when both ends of every edge carry the same root, which is
    then its component's min."""
    import numpy as np

    nodes, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = idx[: len(u)], idx[len(u) :]
    label = np.arange(len(nodes))
    while True:
        la, lb = label[a], label[b]
        differ = la != lb
        if not differ.any():
            return nodes, nodes[label]
        la, lb = la[differ], lb[differ]
        np.minimum.at(label, np.maximum(la, lb), np.minimum(la, lb))
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped


# the star reaches its fixed point in O(log n) alternations, far
# below this; running out means a bug, not a big graph
_CC_MAX_ALTERNATIONS = 30


def _local_star_labels(spark, a, b) -> DataFrame:
    """:func:`connected_components_star`'s output computed on the driver
    from the collected pair columns ``a``, ``b`` (Arrow arrays of one
    type), row for row what the star rounds return: every non-null id
    of either column is a node, labels come only from pairs of two
    non-null ids (a null beside an id leaves it a singleton, as
    ``greatest``/``least`` do in the rounds), and any null id adds one
    ``(null, null)`` row, as the rounds' ``all_nodes`` join does."""
    import pyarrow as pa
    import pyarrow.compute as pc

    u, v = pc.coalesce(a, b), pc.coalesce(b, a)
    some = u.is_valid()
    nodes, mins = _component_min_labels(
        u.filter(some).to_numpy(), v.filter(some).to_numpy()
    )
    nulls = pa.nulls(1 if a.null_count or b.null_count else 0, a.type)

    def column(ids):
        return pa.chunked_array([pa.array(ids, a.type), nulls])

    return spark.createDataFrame(
        pa.table({"doc_id": column(nodes), "cluster_id": column(mins)})
    )


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    windowed_min_max_edges: int = 4_000_000,
) -> DataFrame:
    """Cluster a pair graph into connected components via alternating
    large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond").  Output: one ``(doc_id, cluster_id)`` row
    per distinct id of either pair column, where ``cluster_id`` is the
    smallest id reachable through the pairs (a self-loop or an id whose
    partner is null is its own cluster); any null id adds one
    ``(null, null)`` row.

    Min-label propagation needs O(diameter) rounds — fine for shallow
    near-dup clusters, hopeless for chain-shaped graphs (a 1000-link
    chain is 1000 rounds).  The star operations instead contract toward
    the component minimum in O(log n) alternations regardless of
    diameter (no fixed point within ``_CC_MAX_ALTERNATIONS`` raises
    rather than mislabel):

      * large-star: every node's strictly-larger neighbors re-attach to
        the minimum of its neighborhood,
      * small-star: every node and its smaller neighbors re-attach
        likewise (edges kept directed larger->smaller between rounds);
        both star outputs fold into ONE explode per round (the r10
        union-of-selects form evaluated each phase's min twice, once
        per union branch).

    The per-node neighborhood min is computed one of two ways, chosen
    PER ROUND from the round's edge count (``windowed_min_max_edges``,
    known for free from the convergence signature): a
    min-over-partition WINDOW while the worst-case single-task buffer
    (2·n_edges rows for one hub owning every edge) stays trivially
    bounded, and a partial-combined groupBy + equi-join above that —
    star contraction concentrates a component's edges onto its root,
    so at scale a giant component makes one unsplittable hot window
    partition (round-10 verdict item 3), while map-side combine
    collapses the same hub to one row per map task and hands the
    attach join to machinery AQE can broadcast or skew-split (guide
    §2.5/§3.1).  The 4M-edge default sits at the MEASURED local
    crossover (tools/scale_probe_cc_hotkey.py, SCALEBENCH.json): on a
    worst-case graph where ONE hub owns every edge, the window form
    still wins at 10^6 edges (20-21 s vs 27-36 s — its single hot task
    is only 2M rows) and starts losing at 10^7 (high-id hub: 103 s vs
    95 s skew-safe), while the skew-safe form's worst case stays flat
    at any degree.  Both probes complete correctly either way — the
    switch is about bounding tail risk (a 10^9-degree hub is a
    ~30 GB single window task; the agg+join collapses it map-side),
    not about the fixture, whose graphs sit far below the threshold
    and keep the measured-faster window plan.

    At the fixed point the edges form depth-1 stars rooted at each
    component min.  Convergence is detected by (count,
    order-independent xor-hash) equality of the edge set, collected by
    ``observe`` from the SAME job that materializes each round's
    checkpoint (materialize.pin_with_signature) — one action per round.

    Local finish: the rounds exist for graphs too big for one machine.
    Before any distributed step, the persisted pair projection is
    built, and the row count its cache builder keeps is the guard's
    count.  ``cap`` is the session's
    ``spark.sql.autoBroadcastJoinThreshold`` over 16 bytes a pair row
    (two 64-bit ids).  At most ``cap`` rows are collected once as Arrow
    from the cache the build filled, the component minima are computed
    on the driver (:func:`_local_star_labels`) and handed back as a
    local relation: no node pin, no edge checkpoint, no join, and the
    checkpoint dir is never touched.  The broadcast threshold is the
    bound because it is the session's existing statement of how large a
    relation the driver may collect and ship.  The guard counts raw
    pair rows (duplicates and reversed pairs included), so it is a
    little more conservative than a distinct-edge count.  More rows pay
    only the cache build (one job with no shuffle, whose count comes
    free with the cache the rounds read anyway) before the rounds.  A
    threshold below 16 bytes, -1 included, skips the count and disables
    the local finish.

    Lineage management: every round takes a RELIABLE checkpoint.  We
    MEASURED the alternative (persist MEMORY_AND_DISK between
    checkpoints, checkpoint every N rounds) at sf0.1 and it is strictly
    WORSE: 17.3 s (every round) vs 29.4 s (every 2nd) vs 43.4 s (every
    3rd) for the q152 gate.  Persisting materializes the DATA but does
    not truncate the LOGICAL PLAN — each skipped checkpoint leaves the
    next round's plan two alternations deep, and Catalyst
    re-analysis/optimization time grows superlinearly with plan depth,
    dwarfing the ~1 s checkpoint-write fixed cost it saves.  Checkpoint
    is the only lineage cut that also resets the plan, which is exactly
    what an iterative loop needs (localCheckpoint is still never used —
    it dies with an executor at cluster scale).
    """
    from pyspark import StorageLevel

    spark = pairs.sparkSession
    cached = pairs.select(F.col(a_col), F.col(b_col))
    a_type, b_type = (f.dataType for f in cached.schema)
    if a_type != b_type:
        # both sides label the one type the rounds' union would widen to
        common = (
            cached.select(a_col).union(cached.select(b_col)).schema[0].dataType
        )
        cached = cached.select(
            F.col(a_col).cast(common).alias(a_col),
            F.col(b_col).cast(common).alias(b_col),
        )
    # the pairs feed the size guard, the initial edge build, the
    # convergence signature, both all_nodes branches, and round 1 —
    # ~6 evaluations of the (expensive) upstream pair pipeline without
    # persistence.  Persist an INTERNAL projection (never the caller's
    # object — its storage semantics stay untouched), checkpoint the two
    # derived frames eagerly, and drop the cache in a finally block so
    # nothing leaks to session LRU.
    cached = cached.persist(StorageLevel.MEMORY_AND_DISK)
    bound = (
        spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    )
    cap = bound // 16
    try:
        if cap > 0:
            # filling the cache is one job with no shuffle, AQE on or
            # off, and its builder counts the rows it stores; a retried
            # task can only over-count, the guard's safe side
            builder = cached._jdf.queryExecution().withCachedData().cacheBuilder()
            builder.cachedColumnBuffers().count()
            if builder.rowCountStats().value() <= cap:
                tbl = cached.toArrow()
                return _local_star_labels(spark, tbl.column(0), tbl.column(1))
        _ensure_checkpoint_dir(spark.sparkContext)
        all_nodes = (
            cached.select(F.col(a_col).alias("node"))
            .union(cached.select(F.col(b_col).alias("node")))
            .distinct()
            .transform(_pin)
        )
        # directed larger -> smaller, self-loops dropped; the initial
        # signature rides the same checkpoint job (observe-fused)
        edges, sig = _pin_with_signature(
            cached.select(
                F.greatest(F.col(a_col), F.col(b_col)).alias("u"),
                F.least(F.col(a_col), F.col(b_col)).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct(),
            "u",
            "v",
        )
    finally:
        cached.unpersist()

    n_edges = sig[0]
    for _ in range(_CC_MAX_ALTERNATIONS):
        # ---- large-star: symmetrize, attach larger neighbors to the min
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # Neighborhood-min strategy, chosen PER ROUND from the round's
        # own edge count (free — it is the count component of the
        # convergence signature, observed on the previous checkpoint
        # job).  Below the threshold the min-over-partition window is
        # strictly cheaper (ONE exchange+sort of sym, zero extra query
        # stages) and its worst case is bounded; above it, the window's
        # worst case grows without bound while the agg+join stays flat.
        # Measured crossover + probe evidence in the docstring.
        skew_safe = n_edges > windowed_min_max_edges
        if skew_safe:
            mins = (
                sym.groupBy("u")
                .agg(F.min("v").alias("__mn"))
                .select(
                    "u", F.least(F.col("u"), F.col("__mn")).alias("m")
                )
            )
            large = (
                sym.filter(F.col("v") > F.col("u"))
                .join(mins, "u")
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                # one explicit exchange on the new key, shared by the
                # small-star aggregate AND its attach join below
                # (ReusedExchange), so large is computed once per round
                .repartition("u")
            )
            mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
            l2 = large.join(mins2, "u")
        else:
            wu = Window.partitionBy("u")
            large = (
                sym.withColumn(
                    "m", F.least(F.col("u"), F.min("v").over(wu))
                )
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
            )
            l2 = large.withColumn("m", F.min("v").over(wu))
        # ---- small-star: attach node + smaller neighbors to the min,
        # emitted in ONE pass: each row yields the root edge (u, m)
        # always and the member edge (v, m) when v != m, via explode —
        # the r10 union-of-two-selects referenced l2 twice, so Catalyst
        # evaluated BOTH windows once per branch (the shuffle was
        # reused, the window sort+eval was not); same output set under
        # the final distinct.
        member = F.struct(F.col("v").alias("u"), F.col("m").alias("v"))
        root = F.struct(F.col("u").alias("u"), F.col("m").alias("v"))
        small = (
            l2.select(
                F.explode(
                    F.when(
                        F.col("v") != F.col("m"), F.array(member, root)
                    ).otherwise(F.array(root))
                ).alias("__e")
            )
            .select("__e.u", "__e.v")
            .distinct()
        )
        # one action: checkpoint materialization + observed signature
        edges, new_sig = _pin_with_signature(small, "u", "v")
        if new_sig == sig:
            # (u, v) covers the non-root nodes; roots and self-loop
            # singletons keep their own id
            lbl = edges.select(
                F.col("u").alias("node"), F.col("v").alias("__lbl")
            )
            return all_nodes.join(lbl, "node", "left").select(
                F.col("node").alias("doc_id"),
                F.coalesce(F.col("__lbl"), F.col("node")).alias("cluster_id"),
            )
        sig = new_sig
        n_edges = new_sig[0]
    raise RuntimeError(
        "connected_components_star: no fixed point after "
        f"{_CC_MAX_ALTERNATIONS} alternations"
    )


# chunk rows per block in semantic_dedup's lower-triangular scan;
# module-level so tests can shrink it to exercise the multi-chunk path
_SEMDEDUP_CHUNK = 2048


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
    threshold: float = 0.92,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): within each pre-assigned cluster, drop every item
    that has a LOWER-id near-twin at cosine >= ``threshold``; emit the
    surviving ids.

    The cluster assignment is the caller's coarse quantizer — k-means
    centroid ids (``ivf_build``'s assignment step produces exactly
    this), a topic label, or any upstream partition of the corpus.
    Semantics are deterministic and engine-independent: survivor =
    no same-cluster item with smaller id at cosine >= threshold, so an
    external SQL engine can re-derive the result exactly.

    Scale shape: ONE shuffle on the cluster key, then per-cluster
    O(m^2/2) float64 BLAS inside an Arrow batch — the SemDeDup recipe's
    own cost model, which is why k is chosen so m = n/k keeps m^2
    matrices in executor memory (k ~ sqrt(n) gives m*dim ~ MBs at any
    corpus size).  Nothing all-pairs across clusters, no driver-side
    data.  Null/zero vectors never match anything (cosine treated as 0)
    and therefore always survive.
    """
    import numpy as np
    import pandas as pd

    out_schema = f"{id_col} long"

    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        keep_null = pdf[vec_col].isna().to_numpy()
        if keep_null.all():
            return pd.DataFrame({id_col: ids})
        mat = np.zeros((len(ids), 0))
        vecs = [
            np.asarray(v, dtype=np.float64)
            for v in pdf[vec_col].to_numpy()
            if v is not None
        ]
        mat = np.vstack(vecs) if vecs else mat
        norms = np.linalg.norm(mat, axis=1)
        nz = norms > 0
        mat[nz] = mat[nz] / norms[nz, None]
        mat[~nz] = 0.0  # zero vectors: cosine 0 against everything
        dense_idx = np.flatnonzero(~keep_null)
        survive = np.ones(len(ids), dtype=bool)
        # Chunked lower-triangular scan: a full m x m similarity matrix
        # is 1.8 GB at m = 15k, so compute CHUNK rows against all
        # PREDECESSOR rows at a time — peak transient is CHUNK * m
        # doubles (~250 MB at m = 15k), same O(m^2/2) flops.  A row is
        # dropped when ANY lower-position row reaches the threshold
        # (kept or dropped itself — chain semantics, matching the
        # oracle's NOT EXISTS over all lower ids).
        CHUNK = _SEMDEDUP_CHUNK
        m = len(dense_idx)
        for s in range(1, m, CHUNK):
            e = min(s + CHUNK, m)
            block = mat[s:e] @ mat[:e].T  # (e-s, e)
            for r in range(s, e):
                if (block[r - s, :r] >= threshold).any():
                    survive[dense_idx[r]] = False
        return pd.DataFrame({id_col: ids[survive]})

    return (
        df.select(id_col, vec_col, cluster_col)
        .groupBy(cluster_col)
        .applyInPandas(dedup_cluster, out_schema)
    )


def connected_components_incremental(
    labels: DataFrame,
    new_edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Grow an existing component labeling with a NEW batch of edges
    without re-walking the old graph: the prior (doc_id, cluster_id)
    table — already a depth-1 star per component, the fixed point of
    :func:`connected_components_star` — is re-entered as star edges and
    unioned with the batch edges, then star alternation re-converges.

    Why this is the incremental path at 100 TB: the old corpus's edge
    set (built from the full MinHash/cosine machinery) is NEVER
    recomputed or rescanned — labels are its complete, maximally
    contracted summary (one row per node, depth 1), so convergence work
    is proportional to the NEW edges' reach: a batch that touches no
    old component converges in one alternation; a batch that bridges
    two old components needs only the rounds to merge two stars
    (O(log of the merged star count), not O(old diameter), since the
    old chains are already contracted away).  Daily-ingest dedup runs
    this after `near_dup_against` (the incremental pair producer);
    result equals a from-scratch run over the union of all edges
    (test- and oracle-asserted).
    """
    star_edges = labels.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select(
        F.col("doc_id").alias(a_col), F.col("cluster_id").alias(b_col)
    )
    # singleton-component nodes (doc_id == cluster_id) carry no star
    # edge; keep them reachable via a self-loop so they still appear in
    # the output when the new batch doesn't touch them
    self_loops = labels.filter(
        F.col("doc_id") == F.col("cluster_id")
    ).select(
        F.col("doc_id").alias(a_col), F.col("cluster_id").alias(b_col)
    )
    combined = star_edges.union(self_loops).union(
        new_edges.select(
            F.col(a_col).cast("long").alias(a_col),
            F.col(b_col).cast("long").alias(b_col),
        )
    )
    return connected_components_star(combined, a_col, b_col)


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup: containment C(a,b) = |Sa ∩ Sb| / |Sa| —
    "document a is mostly inside document b" — the relation Jaccard
    misses when sizes differ (a 50-token quote inside a 5,000-token doc
    has J ≈ 0.01 but C ≈ 1.0).  Returns (doc_a, doc_b, containment)
    for ordered pairs a != b with C >= threshold; the dedup policy that
    consumes this usually drops the contained (smaller) side.

    Same co-occurrence-join shape as :func:`jaccard_pairs` (explode
    distinct shingles, self-join on the shingle, partial-agg count —
    never a cartesian), divided by the CONTAINED side's set size only,
    and emitted in both orders since containment is directional.

    ``max_df`` is the hot-shingle safety valve (same semantics as
    :func:`jaccard_pairs`: df-capped candidate generation, EXACT
    verification against full shingle sets, dropped shingles surfaced
    via :func:`hot_shingle_report` + INFO log).  A pair at containment
    >= t shares |A∩B| >= t·|Sa| shingles, so it escapes only if ALL of
    those are corpus-boilerplate (df > max_df) — size max_df so that
    bound can't bind (e.g. max_df well above the df of genuine shared
    content) and the capped pair set is provably identical.  Default
    None keeps the plain exact join (work O(Σ_shingle df²)); at 100 TB
    set max_df, or run :func:`banding_then_containment` when the pair
    sizes are comparable enough for MinHash banding to see them.

    NOTE (r10): the uncapped path materializes the distinct shingle
    table EAGERLY at construction (reliable checkpoint, three plan
    branches) — calling this runs that job immediately.
    """
    if max_df is not None:
        scored = _capped_pair_scores(df, id_col, text_col, n, max_df)
        both = scored.select(
            "doc_a", "doc_b", "__inter", F.col("__sz_a").alias("__sz")
        ).union(
            scored.select(
                F.col("doc_b"),
                F.col("doc_a"),
                "__inter",
                F.col("__sz_b").alias("__sz"),
            )
        )
        return (
            both.select(
                "doc_a",
                "doc_b",
                F.round(F.col("__inter") / F.col("__sz"), 6).alias(
                    "containment"
                ),
            )
            .filter(F.col("containment") >= threshold)
        )
    # the exploded distinct shingle table feeds the size histogram AND
    # both sides of the co-occurrence self-join — un-materialized, the
    # corpus shingling tower runs three times.  One reliable checkpoint
    # (posting-sized: ids + shingles, never full text) runs it once per
    # call (the _capped_pair_scores discipline).
    _ensure_checkpoint_dir(df.sparkSession.sparkContext)
    sh = shingle_rows(df, id_col, text_col, n).distinct().checkpoint(
        eager=True
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("__sz"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count("*").alias("__inter"))
    )
    sz_a = sizes.select(
        F.col(id_col).alias("doc_a"), F.col("__sz").alias("__sz_a")
    )
    return (
        inter.join(sz_a, "doc_a")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("__inter") / F.col("__sz_a"), 6
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def chunked_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    chunk_tokens: int = 32,
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """Asymmetric containment at scale: band WHOLE-document signatures
    against CONTAINER-CHUNK signatures, then verify exactly.

    Plain MinHash banding cannot see a small document inside a much
    larger one (J ≈ |Sa|/|Sb| ≈ 0 — :func:`banding_then_containment`
    documents this as its blind spot); the fix its docstring prescribes
    is implemented here: every document is ALSO cut into overlapping
    ``chunk_tokens``-token windows (step = chunk_tokens/2, so a quote
    at any alignment overlaps at least one window by >= half), each
    window gets its own MinHash signature, and banding runs between
    whole-doc signatures (the potential CONTAINED side) and window
    signatures (the potential CONTAINER side).  A quote sized near the
    window length now meets a window at Jaccard ~1/3-1 instead of ~0,
    which the band join sees fine.  Candidates are verified EXACTLY on
    the two documents' full shingle sets (C(a,b) = |Sa∩Sb|/|Sa|), so
    precision is exact; recall is probabilistic in the banding
    (1-(1-s^r)^b at window-vs-doc Jaccard s) — tune chunk_tokens to
    the quote sizes that matter, or fall back to the df-capped exact
    join (``containment_pairs(max_df=...)``) when recall must be 1.

    Cost shape: the window explode multiplies the signature table by
    ~2·len/chunk_tokens rows of H longs each (ids + longs only — the
    text never enters the banded table), the band join touches only
    colliding buckets, and verification is candidate-sized.  No
    Python, no cartesian, hot-shingle-immune (signatures, not posting
    lists).  Returns (doc_a, doc_b, containment): doc_a contained in
    doc_b, C >= threshold.
    """
    from pyspark import StorageLevel

    step = max(1, chunk_tokens // 2)

    # whole-doc signatures -> banded (the contained side)
    whole = banded_signature_table(
        df, id_col, text_col, n, num_hashes, bands
    )

    # container chunks: overlapping token windows re-joined to text,
    # then the same shingle->minhash->band pipeline keyed by the OWNER
    # doc id (chunk identity doesn't matter downstream — any colliding
    # window implicates its document)
    toks = F.split(F.col(text_col), " ")
    nwin = F.greatest(
        F.ceil((F.size(toks) - chunk_tokens) / step).cast("int") + 1,
        F.lit(1),
    )
    chunks = df.select(
        F.col(id_col).alias("__owner"),
        toks.alias("__t"),
        F.explode(F.sequence(F.lit(0), nwin - 1)).alias("__w"),
    ).select(
        "__owner",
        "__w",
        F.concat_ws(
            " ", F.slice(F.col("__t"), F.col("__w") * step + 1, chunk_tokens)
        ).alias("__chunk_text"),
    )
    # compound (owner, window) key rides the shingle->minhash pipeline,
    # so the owner needs no re-join (and no unstable synthetic chunk id)
    chunk_sigs = minhash_table(
        chunks, ["__owner", "__w"], "__chunk_text", n, num_hashes
    )
    # _band_hash_columns keeps chunk bands join-compatible with the
    # whole-doc bands above — the shared helper IS the invariant
    chunk_banded = chunk_sigs.select(
        F.col("__owner"),
        F.posexplode(
            F.array(*_band_hash_columns(num_hashes, bands))
        ).alias("band_id", "band_hash"),
    ).dropDuplicates(["__owner", "band_id", "band_hash"])

    _ensure_checkpoint_dir(df.sparkSession.sparkContext)
    whole = whole.persist(StorageLevel.MEMORY_AND_DISK)
    chunk_banded = chunk_banded.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        cand = (
            whole.alias("a")
            .join(
                chunk_banded.alias("b"),
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col(f"a.{id_col}") != F.col("b.__owner")),
            )
            .select(
                F.col(f"a.{id_col}").alias("doc_a"),
                F.col("b.__owner").alias("doc_b"),
            )
            .dropDuplicates(["doc_a", "doc_b"])
            .transform(_pin)
        )
    finally:
        whole.unpersist()
        chunk_banded.unpersist()
    cand_ids = (
        cand.select(F.col("doc_a").alias(id_col))
        .union(cand.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    sh = shingle_set_table(
        df.join(F.broadcast(cand_ids), id_col, "semi"), id_col, text_col, n
    ).transform(_pin)
    return (
        cand.join(sh.withColumnRenamed(id_col, "doc_a"), "doc_a")
        .withColumnRenamed("sh", "__sh_a")
        .join(
            sh.withColumnRenamed(id_col, "doc_b").withColumnRenamed(
                "sh", "__sh_b"
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("__sh_a", "__sh_b"))
                / F.size("__sh_a"),
                6,
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    threshold: float,
    block_col: str | None = None,
) -> DataFrame:
    """Exact all-pairs token-set Jaccard with PREFIX-FILTERED candidate
    generation (the PPJoin/AllPairs idea, Bayardo et al. WWW'07 —
    public literature): order every document's tokens by global rarity
    and index only its first |X| - ⌈t·|X|⌉ + 1 tokens.  Two sets with
    J >= t have overlap >= ⌈t·max(|A|,|B|)⌉, so by pigeonhole their
    rarity-ordered prefixes MUST share a token — candidate generation
    from prefix postings is provably lossless for ANY data, unlike a
    df-cap (which needs qualifying pairs to share a non-hot token:
    q150's fixture has matched pairs sharing only 2 tokens, both
    possibly common, so a cap there could silently drop matches).

    Hot tokens are killed structurally rather than by a tuning knob:
    rarity ordering puts a corpus stop-token LAST within every
    document, so it enters a prefix only for documents made almost
    entirely of stop-tokens — the posting list that was df-sized is
    now near-empty, and Σ df² collapses without dropping anything.

    Candidates are verified EXACTLY against the full token arrays
    (array_intersect / array_union on candidate pairs only), so output
    equals the naive all-pairs join bit-for-bit.

    ``df``: one row per record, ``tokens_col`` an array<string> of
    DISTINCT tokens.  ``block_col``: optional blocking key — postings
    join within (block, token) and pairs never cross blocks (entity-
    resolution blocking).  Returns (doc_a, doc_b, jaccard) unordered
    pairs, doc_a < doc_b.

    Cost shape: one global token-frequency aggregate, one per-document
    rank (window keyed by the document id — same row volume as the
    explode), the prefix-posting self-join (the pruned df² — at 100 TB
    this is the term that matters), and a candidate-sized verification
    join.  All JVM-side, no Python.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    _ensure_checkpoint_dir(df.sparkSession.sparkContext)
    base = df.select(
        F.col(id_col),
        *([F.col(block_col)] if block_col else []),
        F.col(tokens_col).alias("__toks"),
        F.size(tokens_col).alias("__sz"),
    )
    # the posting explode feeds the df histogram AND the rarity-rank
    # join, and the ranked prefix feeds BOTH sides of the candidate
    # self-join: cache the postings once, checkpoint the (pruned,
    # posting-sized) prefix once, so the explode+window tower runs one
    # time instead of four (the _capped_pair_scores discipline)
    ex = base.select(
        F.col(id_col),
        *([F.col(block_col)] if block_col else []),
        "__sz",
        F.explode("__toks").alias("__t"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        dfreq = ex.groupBy("__t").agg(F.count("*").alias("__df"))
        # rank tokens within each doc by global rarity (ties broken by
        # the token string so the order is total and deterministic)
        w = Window.partitionBy(id_col).orderBy("__df", "__t")
        # prefix length = |X| - ceil(t·|X|) + 1.  The epsilon guards
        # IEEE round-UP of an exactly-integer product (0.28*25 =
        # 7.0000…01 would ceil to 8 and SHORTEN the prefix — a silent
        # recall hole); erring the other way only lengthens the prefix,
        # which keeps the pigeonhole guarantee (a superset of the
        # required prefix).
        min_overlap = F.ceil(
            F.lit(threshold) * F.col("__sz") - F.lit(1e-9)
        )
        prefix = (
            ex.join(dfreq, "__t")
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= F.col("__sz") - min_overlap + 1)
            .transform(_pin)
        )
    finally:
        ex.unpersist()
    a, b = prefix.alias("a"), prefix.alias("b")
    join_cond = (F.col("a.__t") == F.col("b.__t")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    if block_col:
        join_cond = join_cond & (
            F.col(f"a.{block_col}") == F.col(f"b.{block_col}")
        )
    cand = (
        a.join(b, join_cond)
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ta = base.select(
        F.col(id_col).alias("doc_a"), F.col("__toks").alias("__ta")
    )
    tb = base.select(
        F.col(id_col).alias("doc_b"), F.col("__toks").alias("__tb")
    )
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("__ta", "__tb")).cast("double")
                / F.size(F.array_union("__ta", "__tb"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def banding_then_containment(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """Containment scoring restricted to MinHash-LSH candidates — the
    banding-first composite the plain :func:`containment_pairs`
    docstring prescribes for 100 TB corpora.

    MinHash banding (:func:`lsh_candidate_pairs`) produces the
    candidate pairs — O(colliding buckets), immune to hot-shingle df²
    blowup because the per-doc signature is H mins, not a posting list
    — and containment C(a,b) = |Sa∩Sb|/|Sa| is computed EXACTLY on the
    candidates' full shingle sets, emitted in both directions like
    containment_pairs (same output schema: doc_a = contained side).

    Recall is governed by the pair's JACCARD (banding collides on
    signature equality): with r = num_hashes/bands rows per band the
    candidate probability at Jaccard s is 1-(1-s^r)^bands.  For
    comparable-size pairs, C >= t implies J >= t/(2-t) (e.g. C >= 0.8
    ⇒ J >= 2/3 ⇒ collision w.p. > 0.9999 at r=2, b=16), so this
    composite is exact-in-practice for the dedup case.  The asymmetric
    quote-inside-a-book case (|Sb| >> |Sa| ⇒ J ≈ |Sa|/|Sb| ≈ 0) is
    invisible to plain MinHash banding BY CONSTRUCTION — for that,
    use ``containment_pairs(..., max_df=...)`` (exact, df-capped) or
    band over fixed-length document chunks so every window of the
    container is its own bandable unit.
    """
    cand = lsh_candidate_pairs(df, id_col, text_col, n, num_hashes, bands)
    scored = cand.select(
        "doc_a",
        "doc_b",
        F.size(F.array_intersect("sh_a", "sh_b"))
        .cast("long")
        .alias("__inter"),
        F.size("sh_a").cast("long").alias("__sz_a"),
        F.size("sh_b").cast("long").alias("__sz_b"),
    )
    both = scored.select(
        "doc_a", "doc_b", "__inter", F.col("__sz_a").alias("__sz")
    ).union(
        scored.select(
            F.col("doc_b"),
            F.col("doc_a"),
            "__inter",
            F.col("__sz_b").alias("__sz"),
        )
    )
    return (
        both.select(
            "doc_a",
            "doc_b",
            F.round(F.col("__inter") / F.col("__sz"), 6).alias(
                "containment"
            ),
        )
        .filter(F.col("containment") >= threshold)
    )
