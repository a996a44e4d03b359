"""Scale probe: the round-6 batch F-J statistics family at 10^7-10^8
rows — exact percentile bands, prefix z-score anomalies, Poisson
bootstrap, Kaplan-Meier, table fingerprint, mutual information — each
against a CLOSED-FORM contract (planted structure, analytically known
answer), so the probe checks correctness at scale, not just survival.

Data is generated inline by spark.range (nothing persisted):

  * percentile_bands at n rows: value = id % M cycles 0..M-1, so the
    exact nearest-rank percentile is computable in closed form from
    (n div M, n mod M) — the probe asserts EQUALITY, not tolerance.
  * prefix_zscore at n/10 rows, 10 keys: constant base + |wiggle| <= 6
    (z <= ~1.6, never flagged) with planted 100x spikes after the
    warm-up: every spike flagged, ZERO false positives.
  * poisson_bootstrap at 10^6 rows x 200 replicates (2x10^8 exploded):
    the CI must bracket the exact mean of the planted uniform values
    and the width must be within 4x the CLT prediction.
  * kaplan_meier at n/10 subjects, durations uniform 0..999 with a
    deterministic 10% censor stripe: n_risk and d_events at probe
    times equal their closed forms exactly.
  * table_fingerprint at n rows: invariant under repartition (order),
    changed by a single-row edit.
  * mutual_information at n rows: exactly uniform independent 4x4
    grid -> MI exactly 0; y = x -> NMI = 1.

Usage: python tools/scale_probe_stats_f.py [n_rows]   (default 10^8)
Writes `stats_f_n{n}` into SCALEBENCH.json.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scalebench import args, finish, timed  # noqa: E402


def expected_nearest_rank(n: int, m: int, q: float) -> int:
    """Exact nearest-rank percentile of the multiset {i % m : i < n}."""
    rank = max(1, math.ceil(q * n))
    c, r = divmod(n, m)
    # values 0..r-1 appear c+1 times, values r..m-1 appear c times
    cum = 0
    for v in range(m):
        cum += c + 1 if v < r else c
        if cum >= rank:
            return v
    return m - 1


def main() -> int:
    (n,) = args(100_000_000)
    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.session import local_session
    from compile_time_data_contracts_spark.operators.reconcile import (
        table_fingerprint,
    )
    from compile_time_data_contracts_spark.operators.stats import (
        kaplan_meier,
        mutual_information,
        percentile_bands,
        poisson_bootstrap_mean_ci,
        prefix_zscore_anomalies,
    )

    spark = local_session(
        "ctdc-scale-stats-f",
        **{"spark.sql.shuffle.partitions": "64", "spark.driver.memory": "48g"},
    )
    results: dict = {"n_rows": n}
    # one dict per section; each records its own "secs"
    bands, zs, boot, kmr, fpr, mir = (
        results.setdefault(name, {})
        for name in (
            "percentile_bands", "prefix_zscore", "poisson_bootstrap",
            "kaplan_meier", "table_fingerprint", "mutual_information",
        )
    )

    # ---- percentile bands: closed-form nearest-rank over a cycle
    M = 1_000_001
    with timed(bands, "secs"):
        df = spark.range(n).select(
            F.lit("g").alias("g"),
            (F.col("id") % M).cast("double").alias("v"),
        )
        row = percentile_bands(df, "v", ["g"], scale=1).collect()[0]
        bands_ok = all(
            row[f"{name}_r"] == float(expected_nearest_rank(n, M, q))
            for name, q in [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)]
        )
    bands["exact_closed_form"] = bands_ok

    # ---- prefix z-score: planted spikes, zero false positives
    nz = n // 10
    spike_mod = 1_000_003
    with timed(zs, "secs"):
        ev = spark.range(nz).select(
            (F.col("id") % 10).cast("string").alias("k"),
            F.col("id").alias("seq"),
            F.col("id").alias("tb"),
            F.when(F.col("id") % spike_mod == 17, F.lit(10000.0))
            .otherwise(100.0 + (F.col("id") % 7).cast("double"))
            .alias("v"),
        )
        flagged = prefix_zscore_anomalies(
            ev, "k", "seq", "tb", "v", min_history=30, z_threshold=3.0
        )
        got = [r["tb"] for r in flagged.collect()]
        planted = {i for i in range(nz) if i % spike_mod == 17}
        # spikes inside a key's first 30 observations are legitimately
        # unflagged (cold start); keys interleave mod 10, so a spike at
        # global position p is that key's (p // 10)-th observation
        expected = {p for p in planted if (p // 10) >= 30}
    zs["n_planted_scoreable"] = len(expected)
    zs["all_planted_flagged"] = expected.issubset(set(got))
    zs["false_positives"] = len(set(got) - planted)

    # ---- Poisson bootstrap: CI brackets the exact mean, CLT width
    nb_rows, B = 1_000_000, 200
    with timed(boot, "secs"):
        vals = spark.range(nb_rows).select(
            F.col("id").alias("k"),
            ((F.col("id") % 1000) / 100.0 + 5.0).alias("v"),  # mean 9.995
        )
        ci = poisson_bootstrap_mean_ci(vals, "v", "k", n_boot=B).collect()[0]
        true_mean = sum((i % 1000) / 100.0 + 5.0 for i in range(1000)) / 1000
        sd = math.sqrt(
            sum(((i % 1000) / 100.0 + 5.0 - true_mean) ** 2 for i in range(1000))
            / 1000
        )
        clt_half = 1.96 * sd / math.sqrt(nb_rows)
        width = ci["ci_hi_r"] - ci["ci_lo_r"]
    boot["exploded_rows"] = nb_rows * B
    boot["ci_brackets_true_mean"] = (
        ci["ci_lo_r"] <= round(true_mean, 4) <= ci["ci_hi_r"]
    )
    boot["width"] = round(width, 4)
    boot["clt_width"] = round(2 * clt_half, 4)
    boot["width_within_4x_clt"] = width <= 4 * 2 * clt_half

    # ---- Kaplan-Meier: closed-form n_risk/d_events at probe times
    nk = n // 10
    with timed(kmr, "secs"):
        subj = spark.range(nk).select(
            (F.col("id") % 1000).alias("dur"),
            (F.col("id") % 10 > 0).cast("int").alias("ev"),
        )
        km = {r["t"]: r for r in kaplan_meier(subj, "dur", "ev").collect()}
        # duration d is taken by ids with id % 1000 == d: count = nk/1000
        # (nk divisible by 1000).  Because d fixes id mod 10, censoring
        # is all-or-nothing per duration: d % 10 == 0 durations are fully
        # censored (no KM row), every other duration is fully events —
        # exactly 900 event times, d_events = per_t each, and
        # n_risk(t) = nk - t*per_t regardless of censoring.
        per_t = nk // 1000
        km_ok = len(km) == 900 and 500 not in km
        for t in (1, 501, 999):
            r = km.get(t)
            if r is None or r["d_events"] != per_t or r["n_risk"] != (
                nk - t * per_t
            ):
                km_ok = False
    kmr["subjects"] = nk
    kmr["closed_form_counts"] = km_ok
    kmr["distinct_event_times"] = len(km)

    # ---- table fingerprint: order-invariant, edit-sensitive
    with timed(fpr, "secs"):
        base = spark.range(n).select(
            F.col("id"), (F.col("id") % 97).cast("string").alias("s")
        )
        fp1 = table_fingerprint(base, ["id", "s"]).collect()[0]
        fp2 = table_fingerprint(base.repartition(97), ["id", "s"]).collect()[0]
        edited = spark.range(n).select(
            F.col("id"),
            F.when(F.col("id") == n // 2, F.lit("EDITED"))
            .otherwise((F.col("id") % 97).cast("string"))
            .alias("s"),
        )
        fp3 = table_fingerprint(edited, ["id", "s"]).collect()[0]
    fpr["order_invariant"] = tuple(fp1) == tuple(fp2)
    fpr["single_row_edit_detected"] = tuple(fp3) != tuple(fp1)

    # ---- mutual information: exact-zero and exact-one contracts
    with timed(mir, "secs"):
        grid = spark.range((n // 16) * 16).select(
            (F.col("id") % 4).cast("string").alias("x"),
            ((F.col("id") / 4).cast("bigint") % 4).cast("string").alias("y"),
        )
        mi0 = mutual_information(grid, "x", "y").collect()[0]
        ident = spark.range(n // 10).select(
            (F.col("id") % 4).cast("string").alias("x"),
            (F.col("id") % 4).cast("string").alias("y"),
        )
        mi1 = mutual_information(ident, "x", "y").collect()[0]
    mir["independent_mi_zero"] = abs(mi0["mi_r"]) < 1e-9
    mir["identity_nmi_one"] = abs(mi1["nmi_r"] - 1.0) < 1e-9

    ok = (
        bands_ok
        and zs["all_planted_flagged"]
        and zs["false_positives"] == 0
        and boot["ci_brackets_true_mean"]
        and boot["width_within_4x_clt"]
        and km_ok
        and fpr["order_invariant"]
        and fpr["single_row_edit_detected"]
        and mir["independent_mi_zero"]
        and mir["identity_nmi_one"]
    )
    results["ok"] = ok
    return finish(spark, {f"stats_f_n{n}": results}, ok)


if __name__ == "__main__":
    sys.exit(main())
