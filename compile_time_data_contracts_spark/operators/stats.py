"""Dataset profiling: histograms + per-column summaries.

The ANALYZE-TABLE shape every pipeline needs before deciding join
strategies, bucket counts, and skew mitigations.  Everything is one or
two map-side-combined aggregate passes — profile cost is scan cost.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "NDCG_DISCOUNT_MICRO",
    "grouped_global_rank",
    "markov_conversion_prob",
    "isotonic_fit_bins",
    "ranking_metrics",
    "equi_width_histogram",
    "column_profile",
    "psi_drift",
    "count_min_frequencies",
    "ks_statistic",
    "roc_auc",
    "kaplan_meier",
    "eb_rate_shrinkage",
    "poisson_bootstrap_mean_ci",
    "quantile_normalize",
    "winsorized_group_stats",
    "mutual_information",
    "percentile_bands",
    "two_proportion_ztest",
    "price_volume_mix",
    "classification_report",
    "prefix_zscore_anomalies",
    "rfm_scores",
    "gini_best_split",
    "mann_whitney_u",
]


def equi_width_histogram(
    df: DataFrame, col: str, nbuckets: int = 10
) -> DataFrame:
    """Equi-width histogram of a numeric column: (bucket, lo, hi, n).

    Two aggregate passes — global (min, max) as a 1-row broadcast, then
    the bucket assignment as a codegen expression feeding one map-side-
    combined count: the shuffle carries ``nbuckets`` rows per partition
    regardless of table size.  The top edge is closed (x = max lands in
    the last bucket); nulls are dropped.  All arithmetic is plain IEEE
    double division/floor, so an external engine reproduces the exact
    bucket boundaries.
    """
    mm = df.agg(
        F.min(F.col(col).cast("double")).alias("__mn"),
        F.max(F.col(col).cast("double")).alias("__mx"),
    )
    width = (F.col("__mx") - F.col("__mn")) / F.lit(float(nbuckets))
    # a constant column (min == max) would make width 0 and the division
    # null/NaN; every value belongs in bucket 0 in that case
    bucket = F.when(F.col("__mx") == F.col("__mn"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col(col).cast("double") - F.col("__mn")) / width),
            F.lit(nbuckets - 1),
        )
    ).cast("int")
    return (
        df.filter(F.col(col).isNotNull())
        .crossJoin(F.broadcast(mm))
        .select(
            bucket.alias("bucket"),
            (F.col("__mn") + bucket * width).alias("lo"),
            (F.col("__mn") + (bucket + 1) * width).alias("hi"),
        )
        .groupBy("bucket", "lo", "hi")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def grouped_global_rank(
    df: DataFrame,
    value_col: str,
    tie_cols: list[str],
    out_col: str = "r0",
    descending: bool = False,
    ties: str = "row_number",
    max_groups: int = 8_000_000,
) -> DataFrame:
    """0-based GLOBAL rank in the total order (``value_col`` asc/desc,
    ``tie_cols`` asc) WITHOUT a single-partition sort.

    ``Window.orderBy(...)`` with no partition key pulls the whole table
    into ONE task — the classic scale killer (and, on a single-row-group
    fixture, a serial sort of every row).  When the leading sort column
    has boundedly many distinct values (scores, buckets, quantized
    metrics), the global rank decomposes exactly:

        r0(row) = (# rows in strictly-earlier value groups)
                  + row_number within its own value group - 1

    which is one PARALLEL per-value-group window (partitioned by
    ``value_col``), one value-group size aggregate, a cumulative-offset
    window over the (tiny) distinct-value table, and a broadcast join.
    No row-sized single-task stage anywhere.

    Preconditions (enforced in-plan, zero extra jobs):
      * ``value_col`` is non-null (null ordering is not replicated) —
        a null key raises via the null-safe-join + assert_true guard;
      * the distinct-value table is broadcast-sized (the operator's
        whole point: |distinct| << |rows|) — ``max_groups`` caps it,
        asserted on the offsets table itself (r11: a caller passing a
        high-cardinality key now gets a clear error instead of a
        silent single-task sort of the offsets window and an
        over-budget broadcast).

    ``ties`` selects the semantics on rows whose FULL key
    (``value_col``, *``tie_cols``) repeats: ``"row_number"`` (default)
    numbers them consecutively in an arbitrary-but-same-bucket order —
    exactly ``row_number()`` over the total order; ``"min"`` gives all
    of them the smallest position — exactly ``rank()``.  Both reduce to
    the same integers when the key is unique.  Ties in ``tie_cols``
    direction is always ascending, matching the deterministic-tiebreak
    convention of the rank contracts (q299, q343).  Returns ``df`` plus
    ``out_col`` (bigint).
    """
    order_value = (
        F.col(value_col).desc() if descending else F.col(value_col).asc()
    )
    wg = Window.partitionBy(value_col).orderBy(
        *[F.col(c).asc() for c in tie_cols]
    )
    sizes = df.groupBy(value_col).agg(F.count(F.lit(1)).alias("__c"))
    wo = Window.orderBy(order_value).rowsBetween(
        Window.unboundedPreceding, -1
    )
    # the cardinality guard rides the SAME small post-agg table the
    # cumulative window already processes (count over the whole-table
    # frame adds no exchange); assert_true folds into the offsets
    # projection, so exceeding max_groups fails fast with the message
    # below instead of silently single-task-sorting a huge offsets table
    grp_guard = F.coalesce(
        F.assert_true(
            F.count(F.lit(1)).over(Window.partitionBy()) <= max_groups,
            F.lit(
                f"grouped_global_rank: {value_col} exceeds max_groups="
                f"{max_groups} distinct values — the decomposition "
                "needs a broadcast-sized offsets table; use a plain "
                "window rank or raise max_groups"
            ),
        ).cast("bigint"),
        F.lit(0).cast("bigint"),
    )
    offs = sizes.select(
        value_col,
        (
            F.coalesce(F.sum("__c").over(wo), F.lit(0)).cast("bigint")
            + grp_guard
        ).alias(f"__{out_col}_off"),
    )
    if ties not in ("row_number", "min"):
        raise ValueError(f"ties must be 'row_number' or 'min', got {ties!r}")
    pos = F.row_number() if ties == "row_number" else F.rank()
    # temp columns carry the out_col suffix so an input frame that
    # already uses __rn/__off-style names is never clobbered
    rn_c, off_c = f"__{out_col}_rn", f"__{out_col}_off"
    # enforce the non-null precondition instead of silently dropping
    # null-key rows: a plain inner join would drop them BEFORE any
    # row-level assert could fire (Catalyst pushes the join's IsNotNull
    # constraint below a deterministic guard projection — measured, the
    # naive assert never evaluates).  A NULL-SAFE equi-join keeps null
    # keys flowing to the output projection, where a zero-cost
    # assert_true raises a clear error instead of emitting wrong ranks.
    key_c = f"__{out_col}_k"
    null_guard = F.coalesce(
        F.assert_true(
            F.col(value_col).isNotNull(),
            F.lit(
                f"grouped_global_rank: {value_col} contains NULLs — "
                "null ordering is not replicated; filter or coalesce "
                "them first"
            ),
        ).cast("bigint"),
        F.lit(0).cast("bigint"),
    )
    offs = offs.withColumnRenamed(value_col, key_c)
    return (
        df.withColumn(rn_c, pos.over(wg))
        .join(
            F.broadcast(offs),
            F.col(value_col).eqNullSafe(F.col(key_c)),
        )
        .withColumn(
            out_col,
            (F.col(off_c) + F.col(rn_c) - 1 + null_guard).cast(
                "bigint"
            ),
        )
        .drop(key_c, rn_c, off_c)
    )


def column_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """One-pass profile: a row per column with null count, exact
    distinct count, and min/max rendered as strings (type-erased so
    heterogeneous columns share one result schema).  Spark rewrites the
    multi-column count-distinct with expand + partial aggregation; for
    very wide profiles run per-column and union."""
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long"))
            .cast("bigint")
            .alias(f"__nnull_{c}"),
            F.countDistinct(c).cast("bigint").alias(f"__ndv_{c}"),
            F.min(c).cast("string").alias(f"__min_{c}"),
            F.max(c).cast("string").alias(f"__max_{c}"),
        ]
    # the expand-based multi-distinct partial aggregate multiplies every
    # input row by len(cols)+1 BEFORE the first exchange — spread a
    # narrow single-row-group scan across cores first (guide §2.5;
    # no-op on wide scans; all aggregates are order-insensitive)
    from .spread import spread_for_compute

    wide = spread_for_compute(df.select(*cols)).agg(*aggs)
    # stack (not a union of projections): a union would let Catalyst
    # inline the aggregate into every branch — N column-pruned scans —
    # while stack keeps ONE consumer of the single-row wide result, so
    # the whole profile is one scan + one expand-based aggregate
    stack_args = ", ".join(
        f"'{c}', `__nnull_{c}`, `__ndv_{c}`, `__min_{c}`, `__max_{c}`"
        for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column, n_null, n_distinct, min_str, max_str)"
        )
    )


def psi_drift(
    old: DataFrame,
    new: DataFrame,
    col: str,
    nbuckets: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two versions of a numeric
    column — DISTRIBUTION-level drift detection, the companion to
    row-level `reconcile.snapshot_diff`: a backfill can leave every key
    'changed' while the distribution is fine, or keys untouched while a
    unit change shifts the whole distribution.

    Bin edges are equal-width over the OLD (baseline) min/max — a 1-row
    broadcast, deterministic in any engine (no approximate quantiles,
    which would desync engines); new-side values outside the baseline
    range clamp into the edge buckets.  Each side then pays one
    map-side-combined count; the shuffle carries ``nbuckets`` rows.
    Empty buckets are floored at ``eps`` before the log ratio (the
    standard PSI guard).  Output: one row per bucket with both
    proportions, the bucket's PSI contribution, and the TOTAL repeated
    on every row (window over the nbuckets-row result).  Rule of thumb:
    PSI < 0.1 stable, 0.1-0.25 moderate, > 0.25 major drift.
    """
    from pyspark.sql import Window

    mm = old.agg(
        F.min(F.col(col).cast("double")).alias("__mn"),
        F.max(F.col(col).cast("double")).alias("__mx"),
    )
    width = (F.col("__mx") - F.col("__mn")) / F.lit(float(nbuckets))

    def side_counts(df: DataFrame, name: str) -> DataFrame:
        bucket = F.when(
            F.col("__mx") == F.col("__mn"), F.lit(0)
        ).otherwise(
            F.greatest(
                F.lit(0),
                F.least(
                    F.floor(
                        (F.col(col).cast("double") - F.col("__mn")) / width
                    ),
                    F.lit(nbuckets - 1),
                ),
            )
        ).cast("int")
        return (
            df.filter(F.col(col).isNotNull())
            .crossJoin(F.broadcast(mm))
            .groupBy(bucket.alias("bucket"))
            .agg(F.count("*").alias(name))
        )

    o = side_counts(old, "__n_old")
    n = side_counts(new, "__n_new")
    tot = Window.partitionBy()
    joined = (
        o.join(n, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("__n_old", F.lit(0)).alias("__n_old"),
            F.coalesce("__n_new", F.lit(0)).alias("__n_new"),
        )
        .select(
            "bucket",
            F.greatest(
                F.col("__n_old") / F.sum("__n_old").over(tot), F.lit(eps)
            ).alias("__p_old"),
            F.greatest(
                F.col("__n_new") / F.sum("__n_new").over(tot), F.lit(eps)
            ).alias("__p_new"),
        )
    )
    contrib = (F.col("__p_new") - F.col("__p_old")) * F.log(
        F.col("__p_new") / F.col("__p_old")
    )
    return joined.select(
        "bucket",
        F.round("__p_old", 6).alias("p_old_r"),
        F.round("__p_new", 6).alias("p_new_r"),
        F.round(contrib, 6).alias("psi_contrib_r"),
        F.round(F.sum(contrib).over(Window.partitionBy()), 6).alias(
            "psi_total_r"
        ),
    )


def count_min_frequencies(
    df: DataFrame,
    col: str,
    keys: list[str],
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
) -> list[tuple[str, int, int]]:
    """Point-queryable frequency estimates from ONE mergeable Count-Min
    sketch built distributed (`count_min_sketch` aggregate — JVM-side,
    map-side partial merge; the shuffle carries depth*width counters, not
    rows).  The binary sketch is decoded on the driver with Spark's own
    ``org.apache.spark.util.sketch.CountMinSketch`` (same murmur hashing
    as the SQL aggregate, so estimates are exactly reproducible for a
    fixed seed) and probed for each requested key.

    Returns [(key, estimate, total_count)].  CMS guarantees
    estimate >= true_count always, and estimate <= true_count + eps*N
    with probability ``confidence`` per query — the q160 gate asserts
    that contract against exact GROUP BY counts.

    At 100 TB: the sketch is a few MB regardless of row count; per-key
    frequency questions (heavy-hitter gating, stopword discovery,
    contamination canaries) become O(1) lookups instead of a second
    full-corpus GROUP BY.  Unlike the exact count it composes across
    days/shards by sketch merge (`count_min_sketch` over stored sketch
    bytes is not exposed as a SQL merge, but ``CountMinSketch.mergeInPlace``
    on the driver is, and sketches are tiny).
    """
    spark = df.sparkSession
    # sketch over CAST(col AS STRING): the probe below hashes the
    # caller's Python strings, and a numeric column sketched via
    # addLong would hash a DIFFERENT byte stream — estimates of ~0
    # with no error, silently voiding the >= true_count guarantee
    row = df.selectExpr(
        f"count_min_sketch(CAST({col} AS STRING), {eps}d, "
        f"{confidence}d, {seed}) AS s",
        "count(*) AS n",
    ).collect()[0]
    jvm = spark._jvm
    bais = getattr(jvm, "java.io.ByteArrayInputStream")(bytes(row.s))
    cms = getattr(jvm, "org.apache.spark.util.sketch.CountMinSketch").readFrom(bais)
    return [(k, int(cms.estimateCount(k)), int(row.n)) for k in keys]


def ks_statistic(
    df: DataFrame, col: str, group_col: str, a: str, b: str
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the ``col``
    distributions of groups ``a`` and ``b``: max over observed values of
    |ECDF_a(x) - ECDF_b(x)|.  The exact nonparametric companion to
    `psi_drift` (which is binned): KS catches any distributional change,
    PSI localizes it to buckets.

    Computed as one GROUP BY over distinct values (map-side combined —
    the window below runs over |distinct values| rows, not |rows|)
    followed by cumulative counts and a global max.  The unpartitioned
    ORDER BY window is the honest cost: an exact ECDF needs a total
    order.  At 100 TB run it on the distinct-value table (usually tiny
    for measures) or pre-bin to a fixed grid first — the binned ECDF
    bounds the exact KS within one bin's mass, and the window input
    becomes nbins rows.
    """
    from pyspark.sql import Window

    # drop NULL values like the histogram/PSI siblings: a NULL would
    # otherwise group into its own nulls-first ECDF bucket and report a
    # spurious maximal drift equal to the groups' null-rate gap
    s = df.filter(
        F.col(group_col).isin(a, b) & F.col(col).isNotNull()
    ).select(
        F.col(col).alias("__v"),
        F.when(F.col(group_col) == a, 1).otherwise(0).alias("__g"),
    )
    c = s.groupBy("__v").agg(
        F.sum("__g").alias("__d1"),
        F.sum(F.lit(1) - F.col("__g")).alias("__d2"),
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    cum = c.select(
        F.sum("__d1").over(w).alias("__c1"),
        F.sum("__d2").over(w).alias("__c2"),
        F.sum("__d1").over(tot).alias("__n1"),
        F.sum("__d2").over(tot).alias("__n2"),
    )
    gap = F.abs(
        F.col("__c1").cast("double") / F.col("__n1")
        - F.col("__c2").cast("double") / F.col("__n2")
    )
    return cum.agg(
        F.max("__n1").cast("bigint").alias("n1"),
        F.max("__n2").cast("bigint").alias("n2"),
        F.round(F.max(gap), 6).alias("ks_stat"),
    )


def roc_auc(
    df: DataFrame,
    label_col: str,
    score_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """EXACT ROC-AUC (= the Mann-Whitney U statistic, midrank tie
    handling) per group — the ranking-quality metric for every learned
    scorer in the pipeline (q168's model filter, q141's BM25, q179's
    quality model): AUC = P(score(pos) > score(neg)) +
    ½·P(score(pos) = score(neg)).

    Scale shape — never a global sort of the raw rows:

      1. ``groupBy(score)`` collapses the corpus to the DISTINCT-SCORE
         histogram with per-score positive/negative counts — one
         partial-combined shuffle agg (the ks_statistic pattern).
         Window input is |distinct scores| rows per group, not |rows|.
      2. one ordered pass over the histogram accumulates negatives
         strictly below each score; the doubled numerator
         ``num2 = Σ_s p_s·(2·neg_below(s) + n_s)`` stays INTEGER
         (ties contribute exactly half), so the statistic is
         engine-exact up to the final division.

    For continuous scores whose distinct count approaches |rows|,
    quantize first (e.g. ``F.round(score, 6)``) — the binned AUC is
    within one bin's probability mass of the exact one, the same
    trade documented on :func:`ks_statistic`.

    ``label_col`` must be 0/1 integers.  Returns one row per group:
    (group_cols..., n_pos, n_neg, auc_r) with auc_r = round(auc, 6);
    groups with no positives or no negatives return NULL auc_r (AUC is
    undefined there) rather than failing.
    """
    from pyspark.sql import Window

    gb = list(group_cols or [])
    lab = F.col(label_col).cast("long")
    hist = df.groupBy(*gb, F.col(score_col).alias("__s")).agg(
        F.sum(lab).alias("__p"),
        F.sum(F.lit(1) - lab).alias("__n"),
    )
    w = (
        Window.partitionBy(*gb)
        .orderBy(F.col("__s").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    neg_below = F.coalesce(F.sum("__n").over(w), F.lit(0))
    per_s = hist.withColumn(
        "__num2", F.col("__p") * (2 * neg_below + F.col("__n"))
    )
    agg = per_s.groupBy(*gb).agg(
        F.sum("__p").cast("bigint").alias("n_pos"),
        F.sum("__n").cast("bigint").alias("n_neg"),
        F.sum("__num2").cast("bigint").alias("__num2"),
    )
    defined = (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
    return agg.select(
        *gb,
        "n_pos",
        "n_neg",
        F.when(
            defined,
            F.round(
                F.col("__num2")
                / (2.0 * F.col("n_pos") * F.col("n_neg")),
                6,
            ),
        ).alias("auc_r"),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Kaplan-Meier product-limit survival estimator per group: input is
    one row per subject with an integer ``duration_col`` and a 0/1
    ``event_col`` (1 = event observed at duration, 0 = right-censored at
    duration).  Output: one row per (group, distinct EVENT time t) with
    n_risk (subjects whose duration >= t), d_events, and
    surv_r = round(Π_{t'<=t} (1 − d_t'/n_t'), 6).

    Scale shape — the ks_statistic/roc_auc histogram pattern: subjects
    collapse to the per-duration (events, censored) histogram in ONE
    partial-combined aggregate, and everything after runs windows over
    |distinct durations| rows per group, never |subjects|.  n_risk is
    N minus the cumulative removals strictly before t (exact integers);
    the product is exp(Σ ln(1−d/n)) — the only doubles in the operator,
    rounded on output.  Subjects removed (event or censor) AT t still
    count as at-risk AT t — standard KM right-continuity.
    """
    from pyspark.sql import Window

    gb = list(group_cols or [])
    ev = F.col(event_col).cast("long")
    hist = df.groupBy(*gb, F.col(duration_col).alias("__t")).agg(
        F.sum(ev).alias("__d"),
        F.sum(F.lit(1) - ev).alias("__c"),
    )
    wprev = (
        Window.partitionBy(*gb)
        .orderBy("__t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.partitionBy(*gb)
    at_risk = hist.select(
        *gb,
        "__t",
        "__d",
        (
            F.sum(F.col("__d") + F.col("__c")).over(wall)
            - F.coalesce(
                F.sum(F.col("__d") + F.col("__c")).over(wprev), F.lit(0)
            )
        ).alias("__n"),
    )
    wcum = (
        Window.partitionBy(*gb)
        .orderBy("__t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # ln term is 0 where d=0 (censor-only times), so including every
    # histogram row in the cumulative sum is exact; rows are then
    # filtered to event times for the output.  d = n (everyone at risk
    # dies at t — the final event time) makes the factor exactly 0:
    # handled as an explicit flag, NOT ln(0) (Spark's log returns NULL
    # there and sum() would silently SKIP it, yielding a plausible
    # nonzero survival; DuckDB raises instead)
    lnterm = F.when(
        (F.col("__d") > 0) & (F.col("__d") < F.col("__n")),
        F.log(F.lit(1.0) - F.col("__d").cast("double") / F.col("__n")),
    ).otherwise(F.lit(0.0))
    hit_zero = F.max(
        ((F.col("__d") > 0) & (F.col("__d") == F.col("__n"))).cast("int")
    ).over(wcum)
    surv = F.when(hit_zero == 1, F.lit(0.0)).otherwise(
        F.exp(F.sum(lnterm).over(wcum))
    )
    return (
        at_risk.withColumn("__surv", surv)
        .filter(F.col("__d") > 0)
        .select(
            *gb,
            F.col("__t").cast("bigint").alias("t"),
            F.col("__n").cast("bigint").alias("n_risk"),
            F.col("__d").cast("bigint").alias("d_events"),
            F.round("__surv", 6).alias("surv_r"),
        )
    )


def eb_rate_shrinkage(
    df: DataFrame,
    key_cols: list[str],
    success_col: str,
    min_var: float = 1e-9,
) -> DataFrame:
    """Empirical-Bayes (beta-binomial) shrinkage of per-key success
    rates toward the corpus prior — the standard fix for "this part has
    a 100 % return rate (n=1)" artifacts in per-key quality/defect/CTR
    tables.  Method-of-moments prior over the per-key raw rates:
    m = mean(rate), v = var_pop(rate), prior strength
    s = m(1−m)/v − 1 (floored at 0 when the rates are over-dispersed
    past the beta family), α = m·s, β = (1−m)·s, and
    shrunk = (k+α)/(n+α+β) per key.

    Two aggregate passes — per-key (k, n) with map-side partial
    combine, then ONE 1-row prior broadcast joined back — so cost is
    the scan plus a |keys|-row shuffle at any scale; nothing driver-
    side, no iteration.  Output per key: (key_cols…, n, k, rate_r,
    shrunk_r) — rates rounded to 6 dp.
    """
    suc = F.col(success_col).cast("long")
    per = df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(suc).cast("bigint").alias("k"),
    )
    rate = F.col("k").cast("double") / F.col("n")
    prior = per.agg(
        F.avg(rate).alias("__m"),
        F.var_pop(rate).alias("__v"),
    ).select(
        "__m",
        F.greatest(F.col("__v"), F.lit(min_var)).alias("__v"),
    ).select(
        "__m",
        F.greatest(
            F.col("__m") * (1.0 - F.col("__m")) / F.col("__v") - 1.0,
            F.lit(0.0),
        ).alias("__s"),
    )
    alpha = F.col("__m") * F.col("__s")
    # denominator is n + s DIRECTLY, not n + alpha + beta: m·s +
    # (1−m)·s is not guaranteed bit-equal to s in IEEE arithmetic,
    # and a shrunk rate on a round(...,6) half-boundary would then
    # flip between engines (the oracle computes n + s)
    return per.crossJoin(F.broadcast(prior)).select(
        *key_cols,
        "n",
        "k",
        F.round(rate, 6).alias("rate_r"),
        F.round(
            (F.col("k") + alpha) / (F.col("n") + F.col("__s")), 6
        ).alias("shrunk_r"),
    )


# P(X<=k) for Poisson(1), cumulative: e^-1 * (1 + 1 + 1/2 + 1/6 + 1/24)
_POIS1_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726562,
]


# Poisson(1) CDF cutoffs as 16-bit fixed-width lowercase hex: lane
# weight k iff hex lane < _POIS1_HEX16[k] (lexicographic == numeric for
# fixed-width hex).  floor(cdf * 65536) rendered as %04x.
_POIS1_HEX16 = ("5e2d", "bc5a", "eb71", "fb23", "ff10")


def poisson_bootstrap_mean_ci(
    df: DataFrame,
    value_col: str,
    key_col: str,
    n_boot: int = 200,
    lo_q: float = 0.025,
    hi_q: float = 0.975,
    salt: str = "boot-v1",
    scale: int = 100,
) -> DataFrame:
    """Bootstrap confidence interval for the mean of ``value_col`` via
    the POISSON bootstrap — the resampling scheme that actually
    distributes: instead of drawing n rows with replacement (which
    needs a global sample per replicate), each row independently
    receives a Poisson(1) weight per replicate, which converges to the
    multinomial bootstrap for large n (Chamandy et al., "Estimating
    Uncertainty for Massive Data Streams", Google 2012).

    Determinism contract (the q209/q223 md5 scheme): replicates are
    packed EIGHT PER DIGEST — the weight for (row, replicate b) is
    the Poisson(1) inverse-CDF of the (b mod 8)-th 16-bit hex lane of
    md5(key|b div 8|salt), evaluated as a fixed-width hex string
    comparison against the _POIS1_HEX16 cutoffs — no RNG state, so
    any engine replays the exact replicate weights from the formula
    alone (weights capped at 5; P(X>=6) < 6e-5 of weight mass;
    16-bit lane granularity rounds each cutoff by < 1.6e-5, noise
    against the 3.7e-3 bucket it bounds).
    Engine-exactness: values are fixed-pointed by ``scale`` so each
    replicate's weighted sum is an exact INTEGER pair (Σwx, Σw); the
    replicate mean divides two exact integers — bit-identical anywhere.

    Shape: rows × n_boot exploded in the map stage, then ONE
    partial-combined aggregate to n_boot rows; the shuffle carries
    n_boot rows per partition regardless of table size.  The CI is the
    nearest-rank order statistic over the n_boot replicate means (a
    window over n_boot rows).  Returns ONE row:
    (n_rows, n_boot, mean_r, ci_lo_r, ci_hi_r).
    """
    import math

    from pyspark.sql import Window

    vi = F.floor(F.col(value_col).cast("double") * scale).cast("bigint")
    # the n_boot/8 digests per row are the dominant cost and run BEFORE
    # the first exchange (partial agg in the scan stage) — spread a
    # narrow single-row-group scan across the cores first (guide §2.5;
    # no-op at production scan widths).  Sum aggregation downstream is
    # order-insensitive, so round-robin placement is safe.
    from .spread import spread_for_compute

    base = spread_for_compute(
        df.select(F.col(key_col).cast("string").alias("__k"), vi.alias("__v"))
    )
    # 8 replicate lanes per digest: one md5 yields eight 16-bit
    # uniforms (4 hex chars each), so per-row hashing is
    # ceil(n_boot/8) digests, not n_boot.  Weights come from comparing
    # the fixed-width lowercase-hex lane DIRECTLY against precomputed
    # hex thresholds (lexicographic order on fixed-width hex IS
    # numeric order) — no radix conversion, no division, and any ANSI
    # engine replays the identical comparisons.  16-bit granularity
    # (1.5e-5) rounds each Poisson(1) CDF cutoff to the nearest
    # 1/65536 — negligible against the 3.7e-3 tail bucket it bounds.
    # Lane weights stay COLUMNS (projection codegen CSE evaluates the
    # shared digest once per row; inside an explode/Generate CSE does
    # not reach), the per-group aggregate sums all eight lanes at
    # once, and the 8-lane unpivot happens on the n_boot/8-row
    # aggregated frame (free).  Measured 4x faster at sf0.1 (27.7s -> 6.7s) than
    # the digest-per-replicate scheme, same determinism contract.
    n_lanes = 8
    n_groups = (n_boot + n_lanes - 1) // n_lanes
    ex = base.select(
        "__k",
        "__v",
        F.explode(F.sequence(F.lit(0), F.lit(n_groups - 1))).alias(
            "__g"
        ),
    )
    digest = F.md5(
        F.concat_ws("|", F.col("__k"), F.col("__g"), F.lit(salt))
    )

    def lane_w(lane: int):
        h = F.substring(digest, 1 + 4 * lane, 4)
        return (
            F.when(h < _POIS1_HEX16[0], 0)
            .when(h < _POIS1_HEX16[1], 1)
            .when(h < _POIS1_HEX16[2], 2)
            .when(h < _POIS1_HEX16[3], 3)
            .when(h < _POIS1_HEX16[4], 4)
            .otherwise(5)
        )

    lanes = ex.select(
        "__v",
        "__g",
        *[lane_w(i).alias(f"__w{i}") for i in range(n_lanes)],
    )
    g_reps = lanes.groupBy("__g").agg(
        *[
            agg
            for i in range(n_lanes)
            for agg in (
                F.sum(F.col(f"__w{i}") * F.col("__v")).alias(f"__swx{i}"),
                F.sum(f"__w{i}").alias(f"__sw{i}"),
            )
        ]
    )
    reps = (
        g_reps.select(
            "__g",
            F.posexplode(
                F.array(
                    *[
                        F.struct(
                            F.col(f"__swx{i}").alias("swx"),
                            F.col(f"__sw{i}").alias("sw"),
                        )
                        for i in range(n_lanes)
                    ]
                )
            ).alias("__lane", "__s"),
        )
        .select(
            (F.col("__g") * n_lanes + F.col("__lane")).alias("__b"),
            F.col("__s.swx").alias("__swx"),
            F.col("__s.sw").alias("__sw"),
        )
        .filter(F.col("__b") < n_boot)
    )
    mean_b = F.col("__swx").cast("double") / F.col("__sw") / scale
    ranked = reps.select(
        mean_b.alias("__m"),
        F.row_number()
        .over(Window.orderBy(mean_b.asc(), F.col("__b").asc()))
        .alias("__rn"),
    )
    lo_rank = max(1, math.ceil(lo_q * n_boot))
    hi_rank = max(1, math.ceil(hi_q * n_boot))
    full = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.sum("__v").cast("double") / F.count(F.lit(1)) / scale).alias(
            "__mean"
        ),
    )
    ci = ranked.agg(
        F.min(F.when(F.col("__rn") == lo_rank, F.col("__m"))).alias(
            "__lo"
        ),
        F.min(F.when(F.col("__rn") == hi_rank, F.col("__m"))).alias(
            "__hi"
        ),
    )
    return full.crossJoin(F.broadcast(ci)).select(
        "n_rows",
        F.lit(n_boot).cast("bigint").alias("n_boot"),
        F.round("__mean", 4).alias("mean_r"),
        F.round("__lo", 4).alias("ci_lo_r"),
        F.round("__hi", 4).alias("ci_hi_r"),
    )


def quantile_normalize(
    df: DataFrame,
    col: str,
    group_col: str,
    id_col: str,
) -> DataFrame:
    """Quantile normalization across groups: each row's value is
    replaced by the GLOBAL value at the same quantile position its
    value occupies WITHIN its group — after which every group has (up
    to rank granularity) the pooled distribution.  The cross-corpus
    score-mixing fix: per-source quality scores with different scales/
    spreads become comparable before a single global threshold or
    mixture weight is applied (q139/q155 consumers).

    Mapping is nearest-rank: p = percent_rank within group over the
    (value, id) order — ties are broken by id, so equal raw values in
    a group map to ADJACENT (not identical) pooled targets; the id
    tiebreak is what makes the mapping engine-deterministic.  Target =
    global sorted value at index 1 + floor(p·(N−1)) — integer
    arithmetic on ranks, engine-exact for integer inputs.

    Shape: one group-partitioned window for p (parallel across
    groups), one GLOBAL ordered window for the pooled rank table — the
    honest total-order cost, same trade as ks_statistic: at 100 TB
    pre-bin to a fixed grid (the binned map is within one bin of
    exact) or run on the distinct-value histogram.  The rank join is
    an integer equi-join of |rows| against |rows| — shuffle-heavy but
    never all-pairs.  Output: (id_col, group_col, col, normalized).
    """
    from pyspark.sql import Window

    wg = Window.partitionBy(group_col).orderBy(
        F.col(col).asc(), F.col(id_col).asc()
    )
    src = df.select(
        id_col,
        group_col,
        col,
        F.percent_rank().over(wg).alias("__p"),
    )
    wglob = Window.orderBy(F.col(col).asc(), F.col(id_col).asc())
    pooled = df.select(
        F.col(col).alias("__gv"),
        F.row_number().over(wglob).alias("__grn"),
    )
    # N as a lazy 1-row broadcast, not an eager .count() — no job runs
    # unless the caller executes the result
    nrow = df.agg(F.count(F.lit(1)).alias("__N"))
    target = (
        F.lit(1) + F.floor(F.col("__p") * (F.col("__N") - 1))
    ).cast("int")
    return (
        src.crossJoin(F.broadcast(nrow))
        .withColumn("__trn", target)
        .join(pooled, F.col("__trn") == F.col("__grn"), "left")
        .select(
            id_col,
            group_col,
            col,
            F.col("__gv").alias("normalized"),
        )
    )


def winsorized_group_stats(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    lo_q: float = 0.05,
    hi_q: float = 0.95,
    scale: int = 100,
) -> DataFrame:
    """Winsorized mean per group: values are clamped to the group's
    nearest-rank [lo_q, hi_q] percentiles before averaging — the
    outlier-robust mean that, unlike trimming, keeps n constant (the
    q183 MAD / q221 robust-stats companion for MONEY columns where a
    fat-fingered 100× entry would otherwise own the mean).

    Nearest-rank percentiles (rank = ceil(q·n), ties broken by the
    value order itself) instead of interpolated quantiles: integer
    rank arithmetic on fixed-point values is engine-exact, where
    percentile interpolation differs across engines.  Shape: one
    group-partitioned ordered window for ranks, one conditional
    aggregate for the two bounds per group (|groups| rows), a
    broadcast-sized join back, and one partial-combined clamped sum —
    never a global sort.  Output per group: (group_cols…, n, lo_r,
    hi_r, mean_r, winsorized_mean_r), money rounded to 2 dp, means to
    4 dp.
    """
    from pyspark.sql import Window

    vi = F.floor(F.col(value_col).cast("double") * scale).cast("bigint")
    s = df.select(*group_cols, vi.alias("__v"))
    wrank = Window.partitionBy(*group_cols).orderBy(F.col("__v").asc())
    wall = Window.partitionBy(*group_cols)
    ranked = s.select(
        *group_cols,
        "__v",
        F.row_number().over(wrank).alias("__rn"),
        F.count(F.lit(1)).over(wall).alias("__n"),
    )
    lo_rank = F.greatest(
        F.lit(1), F.ceil(F.lit(lo_q) * F.col("__n")).cast("int")
    )
    hi_rank = F.greatest(
        F.lit(1), F.ceil(F.lit(hi_q) * F.col("__n")).cast("int")
    )
    bounds = ranked.groupBy(*group_cols).agg(
        F.min(F.when(F.col("__rn") == lo_rank, F.col("__v"))).alias(
            "__lo"
        ),
        F.min(F.when(F.col("__rn") == hi_rank, F.col("__v"))).alias(
            "__hi"
        ),
    )
    clamped = s.join(F.broadcast(bounds), group_cols).select(
        *group_cols,
        "__v",
        F.least(F.greatest(F.col("__v"), F.col("__lo")), F.col("__hi"))
        .alias("__cv"),
        "__lo",
        "__hi",
    )
    return clamped.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.min("__lo") / scale, 2).alias("lo_r"),
        F.round(F.min("__hi") / scale, 2).alias("hi_r"),
        F.round(
            F.sum("__v").cast("double") / F.count(F.lit(1)) / scale, 4
        ).alias("mean_r"),
        F.round(
            F.sum("__cv").cast("double") / F.count(F.lit(1)) / scale, 4
        ).alias("winsorized_mean_r"),
    )


def mutual_information(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Mutual information (and the sqrt-normalized NMI) between two
    categorical columns — the association strength the drift family
    lacks: chi-square (q173) tests IF two categoricals are dependent,
    JS divergence (q236) compares two distributions of ONE variable;
    MI measures HOW MUCH one variable tells you about the other, in
    nats, comparable across column pairs (via NMI) — the
    feature-redundancy / leakage-screen metric.

    One partial-combined aggregate collapses the corpus to the
    |X|·|Y| contingency table; marginals and totals are window sums
    OVER THAT TABLE (never a second scan), and MI = Σ p·ln(p/(px·py))
    with the entropies for NMI from the same windows.  Counts are
    exact; the log arithmetic is the identical expression tree both
    engines round to 6 dp.  Output ONE row: (n, mi_r, nmi_r); NMI is
    NULL when either marginal entropy is 0 (a constant column carries
    no information to normalize by).
    """
    from pyspark.sql import Window

    joint = df.groupBy(
        F.col(x_col).alias("__x"), F.col(y_col).alias("__y")
    ).agg(F.count(F.lit(1)).alias("__c"))
    wx = Window.partitionBy("__x")
    wy = Window.partitionBy("__y")
    wall = Window.partitionBy()
    t = joint.select(
        "__x",
        "__y",
        "__c",
        F.sum("__c").over(wx).alias("__cx"),
        F.sum("__c").over(wy).alias("__cy"),
        F.sum("__c").over(wall).alias("__n"),
        F.count(F.lit(1)).over(wx).alias("__kx"),
        F.count(F.lit(1)).over(wy).alias("__ky"),
    )
    p = F.col("__c") / F.col("__n")
    px = F.col("__cx") / F.col("__n")
    py = F.col("__cy") / F.col("__n")
    mi_term = p * F.log(p / (px * py))
    # entropy terms would double-count across the joint table: divide
    # each marginal's contribution by the number of joint cells that
    # share it (count over the same partition)
    hx_term = -(px / F.col("__kx")) * F.log(px)
    hy_term = -(py / F.col("__ky")) * F.log(py)
    agg = t.agg(
        F.max("__n").cast("bigint").alias("n"),
        F.sum(mi_term).alias("__mi"),
        F.sum(hx_term).alias("__hx"),
        F.sum(hy_term).alias("__hy"),
    )
    return agg.select(
        "n",
        F.round("__mi", 6).alias("mi_r"),
        F.when(
            (F.col("__hx") > 0) & (F.col("__hy") > 0),
            F.round(
                F.col("__mi") / F.sqrt(F.col("__hx") * F.col("__hy")),
                6,
            ),
        ).alias("nmi_r"),
    )


def percentile_bands(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    bands: dict[str, float] | None = None,
    scale: int = 100,
) -> DataFrame:
    """Exact nearest-rank percentile bands per group — the p50/p90/p99
    latency/value report every telemetry pipeline publishes, computed
    EXACTLY (rank = ceil(q·n) on the group's sort order) instead of
    via approx_percentile (q96), so two engines — or two runs — never
    disagree on a published SLO number.

    One per-group ordered window for ranks + ONE conditional aggregate
    for all bands (|groups| result rows): the honest cost is the
    per-group sort, same as any exact percentile; at 100 TB pre-bin to
    a value histogram and take band edges from cumulative counts (the
    ks_statistic trade).  Fixed-point ``scale`` keeps rank selection
    on exact integers.  Output: (group_cols…, n, <band>_r…, money
    rounded 2 dp).
    """
    from pyspark.sql import Window

    bands = bands or {"p50": 0.5, "p90": 0.9, "p99": 0.99}
    vi = F.floor(F.col(value_col).cast("double") * scale).cast("bigint")
    s = df.select(*group_cols, vi.alias("__v"))
    wrank = Window.partitionBy(*group_cols).orderBy(F.col("__v").asc())
    wall = Window.partitionBy(*group_cols)
    ranked = s.select(
        *group_cols,
        "__v",
        F.row_number().over(wrank).alias("__rn"),
        F.count(F.lit(1)).over(wall).alias("__n"),
    )
    aggs = [F.max("__n").cast("bigint").alias("n")]
    for name, q in bands.items():
        rank = F.greatest(
            F.lit(1), F.ceil(F.lit(q) * F.col("__n")).cast("int")
        )
        aggs.append(
            F.round(
                F.min(F.when(F.col("__rn") == rank, F.col("__v")))
                / scale,
                2,
            ).alias(f"{name}_r")
        )
    return ranked.groupBy(*group_cols).agg(*aggs)


def two_proportion_ztest(
    df: DataFrame,
    group_col: str,
    success_col: str,
    a: str,
    b: str,
) -> DataFrame:
    """Two-proportion z-test between groups ``a`` and ``b`` — the A/B
    experiment readout: z = (p̂a − p̂b) / √(p̂(1−p̂)(1/na + 1/nb))
    with the pooled p̂, the standard normal-approximation test for
    conversion deltas.  ONE partial-combined aggregate produces all
    four counts (na, ka, nb, kb) in a single pass — conditional sums,
    no join, no second scan; the z statistic is a closed-form
    expression over the 1-row result.  Counts exact; z is the
    identical IEEE expression tree both engines round to 4 dp.
    Output ONE row: (n_a, k_a, n_b, k_b, rate_a_r, rate_b_r, z_r,
    significant_95) — significance compared on the UNROUNDED z.
    """
    in_a = (F.col(group_col) == a).cast("long")
    in_b = (F.col(group_col) == b).cast("long")
    suc = F.col(success_col).cast("long")
    agg = df.agg(
        F.sum(in_a).cast("bigint").alias("n_a"),
        F.sum(in_a * suc).cast("bigint").alias("k_a"),
        F.sum(in_b).cast("bigint").alias("n_b"),
        F.sum(in_b * suc).cast("bigint").alias("k_b"),
    )
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    pa = F.col("k_a") / F.col("n_a")
    pb = F.col("k_b") / F.col("n_b")
    pool = (F.col("k_a") + F.col("k_b")) / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(
        pool * (1.0 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    # every branch sits under a CASE guard: an empty arm or a
    # degenerate pooled rate (all success / all failure -> se = 0)
    # yields NULL, never an ANSI divide-by-zero
    z = F.when(ok & (se > 0), (pa - pb) / se)
    return agg.select(
        "n_a",
        "k_a",
        "n_b",
        "k_b",
        F.when(F.col("n_a") > 0, F.round(pa, 6)).alias("rate_a_r"),
        F.when(F.col("n_b") > 0, F.round(pb, 6)).alias("rate_b_r"),
        F.round(z, 4).alias("z_r"),
        (F.abs(z) > 1.959963984540054).alias("significant_95"),
    )


def price_volume_mix(
    df0: DataFrame,
    df1: DataFrame,
    key_cols: list[str],
    qty_col: str,
    amount_col: str,
    scale: int = 100,
) -> DataFrame:
    """Price-volume-mix decomposition of a revenue delta between two
    periods, per key: with Q = Σqty, R = Σamount, u = R/Q,
    ΔR = (Q₁−Q₀)·u₀ [volume] + (u₁−u₀)·Q₀ [price] +
    (Q₁−Q₀)(u₁−u₀) [cross]; keys present in only one period land in
    'new'/'lost' buckets carrying their full revenue — the FP&A "why
    did revenue move" answer the plain GROUP BY delta can't give
    (a −2 % revenue print can hide +5 % volume against −7 % price).

    One partial-combined aggregate per side to |keys| rows, one
    full-outer equi-join of the two key tables — cost is the two
    scans at any scale.  Q and R are exact integers (amounts
    fixed-pointed by ``scale``); unit prices and effects are the
    identical IEEE expression tree over those integers, summed only
    by the caller (round at the report edge).  Output per key:
    (key_cols…, status ∈ {both, new, lost}, q0, q1, r0, r1,
    volume_eff, price_eff, cross_eff) — revenue/effect columns in
    VALUE units (already divided by ``scale``), unrounded.
    """
    def side(df: DataFrame, tag: str) -> DataFrame:
        amt = F.floor(
            F.col(amount_col).cast("double") * scale
        ).cast("bigint")
        qty = F.floor(F.col(qty_col).cast("double")).cast("bigint")
        return df.groupBy(*key_cols).agg(
            F.sum(qty).alias(f"__q{tag}"),
            F.sum(amt).alias(f"__r{tag}"),
        )

    a = side(df0, "0")
    b = side(df1, "1")
    j = a.join(b, key_cols, "full_outer")
    has0 = F.col("__q0").isNotNull()
    has1 = F.col("__q1").isNotNull()
    q0 = F.coalesce("__q0", F.lit(0)).cast("bigint")
    q1 = F.coalesce("__q1", F.lit(0)).cast("bigint")
    r0 = F.coalesce("__r0", F.lit(0)).cast("double") / scale
    r1 = F.coalesce("__r1", F.lit(0)).cast("double") / scale
    u0 = F.when(q0 > 0, r0 / q0)
    u1 = F.when(q1 > 0, r1 / q1)
    both = has0 & has1
    # a 'both' key with q0=0 or q1=0 has an UNDEFINED unit price on
    # that side; NULL effects would silently drop out of the caller's
    # sums and break the one invariant an FP&A bridge must satisfy
    # (vol+price+cross == ΔR).  Defined convention: the whole delta is
    # volume effect, price/cross are 0 — reconciliation always holds.
    defined = both & (q0 > 0) & (q1 > 0)
    return j.select(
        *key_cols,
        F.when(both, "both")
        .when(has1, "new")
        .otherwise("lost")
        .alias("status"),
        q0.alias("q0"),
        q1.alias("q1"),
        r0.alias("r0"),
        r1.alias("r1"),
        F.when(defined, (q1 - q0) * u0)
        .when(both, r1 - r0)
        .when(has1, r1)
        .otherwise(-r0)
        .alias("volume_eff"),
        F.when(defined, (u1 - u0) * q0).otherwise(F.lit(0.0))
        .alias("price_eff"),
        F.when(defined, (q1 - q0) * (u1 - u0)).otherwise(F.lit(0.0))
        .alias("cross_eff"),
    )


def classification_report(
    df: DataFrame, label_col: str, pred_col: str
) -> DataFrame:
    """Per-class precision / recall / F1 + support from (label,
    prediction) pairs — the multi-class companion to ROC-AUC (q238,
    threshold-free ranking) and Cohen's kappa (q234, chance-corrected
    agreement): the per-class view that says WHICH class a quality /
    language / topic classifier fails on.

    One partial-combined aggregate to the |L|·|P| confusion matrix,
    then each cell EXPLODES into exactly two (class, margin)
    contributions — one to its label's row margin (+tp if diagonal),
    one to its prediction's column margin — and ONE |classes|-row
    aggregate finishes: a single consumer chain, so the corpus is
    scanned ONCE (the margins-as-joins formulation re-inlines the
    contingency aggregate into every branch — N scans — which the
    plan audit forbids).  Classes appearing only as labels (never
    predicted) or only as predictions still get a row, with NULL
    precision (no predictions to be precise about) or NULL recall
    respectively — the undefined-metric convention, never a divide
    error.  Output: (class, support, tp, fp, fn, precision_r,
    recall_r, f1_r), 6 dp.
    """
    cont = df.groupBy(
        F.col(label_col).cast("string").alias("__l"),
        F.col(pred_col).cast("string").alias("__p"),
    ).agg(F.count(F.lit(1)).alias("__c"))
    tp_c = F.when(
        F.col("__l") == F.col("__p"), F.col("__c")
    ).otherwise(F.lit(0))
    contrib = cont.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("__l").alias("class"),
                    F.col("__c").alias("rc"),
                    F.lit(0).cast("long").alias("cc"),
                    tp_c.alias("tpc"),
                ),
                F.struct(
                    F.col("__p").alias("class"),
                    F.lit(0).cast("long").alias("rc"),
                    F.col("__c").alias("cc"),
                    F.lit(0).cast("long").alias("tpc"),
                ),
            )
        ).alias("__e")
    ).select("__e.*")
    m = contrib.groupBy("class").agg(
        F.sum("rc").cast("bigint").alias("support"),
        F.sum("tpc").cast("bigint").alias("tp"),
        (F.sum("cc") - F.sum("tpc")).cast("bigint").alias("fp"),
        (F.sum("rc") - F.sum("tpc")).cast("bigint").alias("fn"),
    )
    prec = F.when(
        (F.col("tp") + F.col("fp")) > 0,
        F.col("tp") / (F.col("tp") + F.col("fp")),
    )
    rec = F.when(
        (F.col("tp") + F.col("fn")) > 0,
        F.col("tp") / (F.col("tp") + F.col("fn")),
    )
    f1 = F.when(
        prec.isNotNull() & rec.isNotNull() & ((prec + rec) > 0),
        2.0 * prec * rec / (prec + rec),
    )
    return m.select(
        "class",
        "support",
        "tp",
        "fp",
        "fn",
        F.round(prec, 6).alias("precision_r"),
        F.round(rec, 6).alias("recall_r"),
        F.round(f1, 6).alias("f1_r"),
    )


def prefix_zscore_anomalies(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    value_col: str,
    min_history: int = 30,
    z_threshold: float = 3.0,
    scale: int = 1000000,
) -> DataFrame:
    """Leakage-free online anomaly detection per key: each point is
    scored against the mean/σ of STRICTLY PRIOR observations (rows
    frame ... to −1) — the causally-valid twin of q169's global
    z-score, which scores every point against statistics that include
    the anomaly itself (self-masking: a huge spike inflates the very
    σ it is judged by, and sneaks under the threshold).

    One per-key ordered window computes prefix count/Σv/Σv² in place
    — no self-join, no second scan; prefix sums accumulate in a
    DETERMINISTIC order (the window's), so engines agree exactly on
    the integer Σv and to per-term rounding on Σv².  Points with
    fewer than ``min_history`` prior observations are never flagged
    (the cold-start guard).  Returns FLAGGED rows only:
    (key_col, ts_col, tiebreak_col, value, z_r).
    """
    from pyspark.sql import Window

    vi = F.floor(F.col(value_col).cast("double") * scale).cast(
        "bigint"
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, tiebreak_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s = df.select(
        key_col,
        ts_col,
        tiebreak_col,
        vi.alias("__v"),
        F.count(F.lit(1)).over(w).alias("__n"),
        F.sum(vi).over(w).alias("__s"),
        F.sum(vi.cast("double") * vi.cast("double")).over(w).alias(
            "__s2"
        ),
    )
    mu = F.col("__s").cast("double") / F.col("__n")
    sigma = F.sqrt(
        F.greatest(
            F.col("__s2") / F.col("__n") - mu * mu, F.lit(0.0)
        )
    )
    z = F.when(
        (F.col("__n") >= min_history) & (sigma > 0),
        (F.col("__v") - mu) / sigma,
    )
    return s.filter(F.abs(z) > z_threshold).select(
        key_col,
        ts_col,
        tiebreak_col,
        (F.col("__v").cast("double") / scale).alias("value"),
        F.round(z, 4).alias("z_r"),
    )


def rfm_scores(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    amount_col: str,
    n_tiles: int = 5,
    scale: int = 100,
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer scoring — the
    canonical segmentation deliverable: per key, days since last
    event (vs the corpus max date), event count, and fixed-point
    total spend, each quantile-bucketed into ``n_tiles`` scores
    (recency REVERSED: most recent = highest score), plus the
    concatenated segment label.

    One partial-combined aggregate to |keys| rows, a 1-row broadcast
    for the anchor date, and three ntile windows over the |keys|-row
    table (ordered with the key as tiebreak, so bucket boundaries are
    engine-deterministic under ties — plain ntile on a tied column is
    not).  Output: (key, recency_days, frequency, monetary_r, r_score,
    f_score, m_score, segment).
    """
    from pyspark.sql import Window

    amt = F.floor(F.col(amount_col).cast("double") * scale).cast(
        "bigint"
    )
    mx = df.agg(F.max(F.col(ts_col).cast("date")).alias("__mxd"))
    per = (
        df.groupBy(key_col)
        .agg(
            F.max(F.col(ts_col).cast("date")).alias("__last"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum(amt).alias("__cents"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            key_col,
            F.datediff(F.col("__mxd"), F.col("__last")).alias(
                "recency_days"
            ),
            "frequency",
            "__cents",
        )
    )
    wr = Window.orderBy(
        F.col("recency_days").asc(), F.col(key_col).asc()
    )
    wf = Window.orderBy(F.col("frequency").asc(), F.col(key_col).asc())
    wm = Window.orderBy(F.col("__cents").asc(), F.col(key_col).asc())
    r_sc = (F.lit(n_tiles + 1) - F.ntile(n_tiles).over(wr)).cast("int")
    f_sc = F.ntile(n_tiles).over(wf).cast("int")
    m_sc = F.ntile(n_tiles).over(wm).cast("int")
    return per.select(
        key_col,
        F.col("recency_days").cast("int").alias("recency_days"),
        "frequency",
        F.round(F.col("__cents") / F.lit(float(scale)), 2).alias(
            "monetary_r"
        ),
        r_sc.alias("r_score"),
        f_sc.alias("f_score"),
        m_sc.alias("m_score"),
        F.concat(
            r_sc.cast("string"),
            f_sc.cast("string"),
            m_sc.cast("string"),
        ).alias("segment"),
    )


# NDCG rank discounts, integerized once at import: micro-discount
# floor(1e6 / log2(rank+1)) for ranks 1..20.  Precomputing in Python
# and inlining the CONSTANTS into both the Spark plan and any ANSI
# oracle removes the engine-matched-libm hazard (Spark's log2 and
# another engine's log2 may differ in the last ulp; a shared literal
# table cannot) — and a broadcast |k|-row lookup is exactly how the
# discount would ship on a real cluster anyway.
NDCG_DISCOUNT_MICRO: tuple[int, ...] = tuple(
    int(1_000_000 / math.log2(r + 1)) for r in range(1, 21)
)


def ranking_metrics(
    df: DataFrame,
    group_col: str,
    order_cols: list,
    rel_col: str,
    k: int = 10,
) -> DataFrame:
    """Grouped ranking-quality metrics for retrieval evaluation:
    NDCG@k and MRR@k per ``group_col`` (one group = one query), from a
    candidate frame ordered by ``order_cols`` (the system's ranking;
    include a unique tiebreak column) with binary relevance
    ``rel_col``.

    All metric arithmetic is integer micro-units — MRR is
    floor(1e6/first_relevant_rank), DCG uses the module-level
    :data:`NDCG_DISCOUNT_MICRO` table, IDCG is the prefix sum of that
    table over the group's relevant count — so an ANSI oracle replays
    every value exactly; the only division is the final ndcg ratio of
    two exact integers, rounded at 6 dp.

    Shape: one rank window per group with a rank<=k filter (plans as
    WindowGroupLimit — partitions forward at most k rows per group),
    then a |groups|-row aggregate.  No collect, no Python.
    Returns (group, n_rel, mrr_micro, dcg_micro, idcg_micro, ndcg_r).
    """
    from pyspark.sql import Window

    if k > len(NDCG_DISCOUNT_MICRO):
        raise ValueError(
            f"k={k} exceeds the precomputed discount table "
            f"({len(NDCG_DISCOUNT_MICRO)})"
        )
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    ranked = (
        df.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= k)
        .select(
            F.col(group_col).alias("grp"),
            "__rank",
            F.col(rel_col).cast("int").alias("__rel"),
        )
    )
    disc = F.lit(None).cast("long")
    for r in range(k, 0, -1):
        disc = F.when(
            F.col("__rank") == r, F.lit(NDCG_DISCOUNT_MICRO[r - 1])
        ).otherwise(disc)
    rr = F.when(
        F.col("__rel") == 1, (F.lit(1_000_000) / F.col("__rank")).cast("bigint")
    ).otherwise(F.lit(0))
    per = ranked.groupBy("grp").agg(
        F.sum("__rel").cast("bigint").alias("n_rel"),
        F.max(rr).cast("bigint").alias("mrr_micro"),
        F.sum(F.col("__rel") * disc).cast("bigint").alias("dcg_micro"),
    )
    # ideal DCG: prefix sums of the discount table, keyed by n_rel
    prefix = [0]
    for d in NDCG_DISCOUNT_MICRO[:k]:
        prefix.append(prefix[-1] + d)
    idcg = F.lit(None).cast("long")
    for n in range(k, -1, -1):
        idcg = F.when(F.col("n_rel") == n, F.lit(prefix[n])).otherwise(idcg)
    return per.select(
        "grp",
        "n_rel",
        "mrr_micro",
        F.coalesce("dcg_micro", F.lit(0)).cast("bigint").alias("dcg_micro"),
        idcg.cast("bigint").alias("idcg_micro"),
        F.when(
            F.col("n_rel") > 0,
            F.round(
                F.coalesce("dcg_micro", F.lit(0))
                / idcg.cast("double"),
                6,
            ),
        ).alias("ndcg_r"),
    )


def gini_best_split(
    df: DataFrame,
    group_col: str,
    feature_col: str,
    label_col: str,
) -> DataFrame:
    """Distributed decision-stump trainer: per group, the integer
    feature threshold minimizing weighted Gini impurity for the 0/1
    label.  The single-machine sort-and-scan becomes one groupBy
    (class histogram per DISTINCT feature value) + one
    group-partitioned cumulative window + an argmax — the shuffle
    carries one row per distinct value, not per input row, which is
    what makes the per-feature inner loop of tree boosting feasible
    at 100 TB.  Purity is rational arithmetic over exact integer
    cumulative counts, with squares lifted to DOUBLE before the
    multiply so planetary-scale counts cannot overflow BIGINT; ties
    break toward the smallest threshold, so the argmax is
    deterministic and oracle-replayable.  Returns (grp,
    best_threshold, n_left, pos_left, n_right, pos_right,
    weighted_gini_r).
    """
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(feature_col).cast("bigint").alias("f"),
        F.col(label_col).cast("int").alias("pos"),
    )
    cand = base.groupBy("grp", "f").agg(
        F.count("*").alias("cnt"), F.sum("pos").alias("p")
    )
    tot = cand.groupBy("grp").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum("p").cast("bigint").alias("np"),
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("f")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    walked = cand.select(
        "grp",
        "f",
        F.sum("cnt").over(w).cast("bigint").alias("nl"),
        F.sum("p").over(w).cast("bigint").alias("pl"),
    )
    j = walked.join(tot, "grp").where(F.col("nl") < F.col("n"))
    nl, pl, n, np_ = F.col("nl"), F.col("pl"), F.col("n"), F.col("np")
    purity = (
        pl.cast("double") * pl + (nl - pl).cast("double") * (nl - pl)
    ) / nl + (
        (np_ - pl).cast("double") * (np_ - pl)
        + ((n - nl) - (np_ - pl)).cast("double")
        * ((n - nl) - (np_ - pl))
    ) / (n - nl)
    scored = j.select(
        "grp", "f", "nl", "pl",
        (n - nl).alias("nr"),
        (np_ - pl).alias("pr"),
        "n",
        purity.alias("purity"),
    )
    wb = Window.partitionBy("grp").orderBy(
        F.col("purity").desc(), F.col("f").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(wb))
        .where(F.col("rn") == 1)
        .select(
            "grp",
            F.col("f").cast("bigint").alias("best_threshold"),
            F.col("nl").alias("n_left"),
            F.col("pl").alias("pos_left"),
            F.col("nr").cast("bigint").alias("n_right"),
            F.col("pr").cast("bigint").alias("pos_right"),
            F.round(
                (F.col("n") - F.col("purity")) / F.col("n"), 6
            ).alias("weighted_gini_r"),
        )
    )


def mann_whitney_u(
    df: DataFrame,
    cohort_col: str,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Mann-Whitney U rank-sum test per cohort over an integer value
    column (fix-point floats upstream): ``group_col`` is the 0/1
    sample indicator, ranks use the average-tie convention computed
    by one cohort-partitioned sort, and the normal-approximation z
    carries the exact tie-correction term sum(t^3 - t).  Ranks, tie
    counts, and rank sums are exact (half-integer) arithmetic; the
    only inexact op is the final IEEE sqrt, identical on identical
    inputs across engines.  One sort + two hash aggregates — the
    nonparametric complement of the two-proportion z-test
    (``two_proportion_ztest``) when values, not rates, are compared.
    Returns (cohort, n1, n2, u1, z_r).
    """
    base = df.select(
        F.col(cohort_col).alias("cohort"),
        F.col(group_col).cast("int").alias("g1"),
        F.col(value_col).cast("bigint").alias("v"),
    )
    wr = Window.partitionBy("cohort").orderBy("v")
    wt = Window.partitionBy("cohort", "v")
    r = base.select(
        "cohort",
        "g1",
        (
            (
                F.rank().over(wr).cast("double") * 2
                + F.count("*").over(wt)
                - F.lit(1)
            )
            / 2
        ).alias("ar"),
    )
    agg = r.groupBy("cohort").agg(
        F.sum("g1").cast("bigint").alias("n1"),
        F.sum(F.lit(1) - F.col("g1")).cast("bigint").alias("n2"),
        F.sum(
            F.when(F.col("g1") == 1, F.col("ar")).otherwise(0.0)
        ).alias("r1"),
    )
    ties = (
        base.groupBy("cohort", "v")
        .agg(F.count("*").alias("c"))
        .groupBy("cohort")
        .agg(
            F.sum(
                F.col("c").cast("double") * F.col("c") * F.col("c")
                - F.col("c")
            ).alias("tie_term")
        )
    )
    n1, n2, r1 = F.col("n1"), F.col("n2"), F.col("r1")
    u1 = r1 - n1.cast("double") * (n1 + 1) / 2
    ntot = n1 + n2
    # greatest(ntot-1, 1): CASE guards do NOT short-circuit column
    # evaluation in Spark, so the tie-term division must be safe even
    # for the ntot=1 cohort whose z the outer guard nulls anyway
    sigma = F.sqrt(
        (n1.cast("double") * n2 / 12)
        * (
            (ntot + 1)
            - F.col("tie_term")
            / (ntot.cast("double") * F.greatest(ntot - 1, F.lit(1)))
        )
    )
    return agg.join(ties, "cohort").select(
        "cohort",
        "n1",
        "n2",
        F.round(u1, 1).alias("u1"),
        # sigma = 0 when every value is tied (or ntot <= 1 makes the
        # tie term itself divide by zero): z is undefined — emit NULL
        # under a CASE guard, never an ANSI/oracle divide-by-zero (the
        # two_proportion_ztest convention, stats.py se>0 guard)
        F.when(
            (ntot > 1) & (sigma > 0),
            F.round((u1 - n1.cast("double") * n2 / 2) / sigma, 6),
        ).alias("z_r"),
    )


def isotonic_fit_bins(binned: DataFrame, bin_col: str = "bin",
                      n_col: str = "n", pos_col: str = "pos") -> DataFrame:
    """Weighted isotonic regression (pool-adjacent-violators, Barlow
    et al. 1972) over PRE-AGGREGATED score bins: input is one row per
    bin with trial count ``n`` and success count ``pos``; output adds
    ``iso_rate`` — the monotone-nondecreasing fit to pos/n, i.e. the
    calibration map Zadrozny-Elkan 2002 uses to turn raw model scores
    into probabilities.

    Scale shape: the DISTRIBUTED stage is the binning aggregation the
    caller already did (one partial-agg groupBy over the full table);
    PAV itself runs on the driver over the |bins|-sized result — tens
    of rows regardless of data volume, the same k-sized-collect
    pattern as the IVF centroid and merge-bucket paths.  Block pooling
    compares means by integer cross-multiplication, so the merge
    decisions are exact (no float drift can flip a pooling), and each
    output mean is a single bigint/bigint double division —
    bit-reproducible against any engine that divides the same two
    integers.
    """
    from pyspark import StorageLevel

    # binned is read twice (driver collect for PAV + the join below);
    # persist so the caller's full-table aggregation runs once.  The
    # cache must outlive the RETURNED frame (the join re-reads it), so
    # it is not unpersisted here: the blocks are |bins|-sized and are
    # reclaimed by Spark's LRU / session teardown; a caller that wants
    # eager release can .count() the result and unpersist the input.
    binned = binned.persist(StorageLevel.MEMORY_AND_DISK)
    rows = (
        binned.select(
            F.col(bin_col).cast("bigint").alias("bin"),
            F.col(n_col).cast("bigint").alias("n"),
            F.col(pos_col).cast("bigint").alias("pos"),
        )
        .orderBy("bin")
        .collect()
    )
    if not rows:
        # no bins: the monotone fit is vacuous — emit the input shape
        # with a NULL iso_rate rather than generating empty VALUES SQL
        return binned.withColumn(
            "iso_rate", F.lit(None).cast("double")
        )
    bad = [
        r["bin"]
        for r in rows
        if r["bin"] is None
        or r["n"] is None
        or r["n"] <= 0
        or r["pos"] is None
    ]
    if bad:
        raise ValueError(
            f"isotonic_fit_bins: bins {bad} have a NULL bin id, NULL "
            "pos, or n<=0; every bin must carry at least one trial and "
            "an integer success count (pos/n is undefined otherwise)"
        )
    # PAV with exact integer block sums: stack of (bins, n, pos)
    stack: list[list] = []
    for r in rows:
        blk = [[r["bin"]], r["n"], r["pos"]]
        stack.append(blk)
        # pool while previous block mean > current block mean:
        # pos_prev/n_prev > pos_cur/n_cur  <=>  pos_prev*n_cur > pos_cur*n_prev
        while len(stack) >= 2 and stack[-2][2] * stack[-1][1] > stack[-1][2] * stack[-2][1]:
            b2 = stack.pop()
            stack[-1][0].extend(b2[0])
            stack[-1][1] += b2[1]
            stack[-1][2] += b2[2]
    out = []
    for bins, bn, bpos in stack:
        mean = bpos / bn  # exact ints < 2^53: correctly-rounded double
        for b in bins:
            out.append((int(b), float(mean)))
    spark = binned.sparkSession
    # VALUES LocalRelation, not createDataFrame-from-list: the latter
    # schedules a Python-RDD conversion stage (ExistingRDD) for a frame
    # that is tens of rows; string-cast doubles round-trip exactly
    # (repr() is the shortest-roundtrip decimal)
    values = ", ".join(
        f"({b}, CAST('{m!r}' AS DOUBLE))" for b, m in out
    )
    fit = spark.sql(
        f"SELECT * FROM VALUES {values} AS fit(bin, iso_rate)"
    )
    return binned.join(fit, binned[bin_col] == fit["bin"]).select(
        binned["*"], fit["iso_rate"]
    )


def markov_conversion_prob(
    transitions: list,
    channels: list[str],
    n_iter: int = 8,
    removed: str | None = None,
) -> float:
    """K-step conversion probability from START of the first-order
    Markov attribution chain (Anderl et al., IJRM 2016): given raw
    transition COUNTS (src, dst, cnt) over states
    {START, channels..., CONV, DROP}, iterate

        v <- pconv + T v        (n_iter applications, v0 = 0)

    i.e. the probability of reaching CONV within ``n_iter``
    transitions.  The FIXED horizon (rather than iterate-to-
    convergence) makes the number an exact arithmetic artifact both
    engines can reproduce op-for-op — the same reason q165's PageRank
    pins its iteration count.  ``removed`` drops a channel Markov-
    removal style: every transition INTO it is lost mass (the user
    who would have touched the removed channel just doesn't convert
    through it).

    This is the DRIVER-side tail of the operator: the input is the
    |states|^2-row transition-count table the distributed stage
    aggregates, never raw events.
    """
    tot: dict = {}
    for s, d, c in transitions:
        tot[s] = tot.get(s, 0) + c
    p: dict = {}
    for s, d, c in transitions:
        p[(s, d)] = c / tot[s]
    states = ["START"] + [c for c in channels if c != removed]
    v = {s: 0.0 for s in states}
    for _ in range(n_iter):
        nv = {}
        for i in states:
            acc = p.get((i, "CONV"), 0.0)
            for j in channels:
                if j == removed:
                    continue
                pij = p.get((i, j))
                if pij is not None:
                    acc += pij * v[j]
            nv[i] = acc
        v = nv
    return v["START"]
