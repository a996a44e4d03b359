"""Scale probe for the round-7 batch-C operator families: HITS
bipartite authorities, basket co-occurrence recommendations, and
Markov removal-effect attribution — each at 10^6-10^7 input rows with
closed-form or conservation contracts (the graph/stats probe
discipline: generation is deterministic, distributed, and OUTSIDE the
timed region; contracts are exact or banded, never "it ran").

1. HITS at n_hubs x 8 edges (default 8M edges): every hub h points at
   auths h%K ... (h+7)%K over K=1000 authorities, so indegree is
   uniform (8n/K per auth) and ONE planted super-authority (auth 0)
   additionally receives an edge from EVERY hub.  Contracts:
     * ppm scores sum to ~1e6 (L1 conservation: the integer DIV floor
       loses < 1 ppm per authority),
     * auth 0's ppm exceeds every other authority's (planted
       dominance),
     * uniform non-planted authorities agree within 1 ppm.

2. Co-occurrence at n_baskets x 6 items (default 1M baskets): basket
   b holds items {b%M ... b%M+5} over M=10,000 anchors, plus ONE
   megabasket of 5,000 distinct items that the 64-item cap must drop.
   Contracts:
     * the capped run never materializes the megabasket's 12.5M pairs
       (wall-clock bounded, output identical to the run without the
       megabasket),
     * pair counts for the planted anchor pattern match the closed
       form (consecutive anchors share 5 baskets... each adjacent
       item pair co-occurs in exactly 5 of the 6-item windows
       covering both).

3. Markov attribution at n_events (default 10M) over 100k users:
   user u's event k has deterministic type cycle[(u + k) % 5] with
   'purchase' in the cycle, so every user converts and the chain is
   known.  Contracts:
     * transition table recovers the cycle structure exactly (each
       non-terminal state has ONE successor with probability 1),
     * base 8-step conversion equals the closed form for the planted
       cycle mix,
     * removal effects are in [0, 1] and removing the sole
       pre-purchase channel kills ~all conversion.

Usage: python tools/scale_probe_r7c.py [n_edges] [n_baskets] [n_events]
Writes `r7c_hits_n{..}` / `r7c_cooc_n{..}` / `r7c_markov_n{..}`
entries into SCALEBENCH.json.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scalebench import merge_entry  # noqa: E402


def _spark():
    from compile_time_data_contracts_spark.session import local_session

    spark = local_session(
        "ctdc-scale-r7c",
        **{"spark.sql.shuffle.partitions": "64", "spark.driver.memory": "48g"},
    )
    return spark


def probe_hits(spark, n_hubs: int) -> dict:
    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.operators.graph import (
        hits_bipartite,
    )

    K = 1000
    ks = F.explode(F.sequence(F.lit(0), F.lit(7))).alias("k")
    fan = (
        spark.range(n_hubs)
        .select(F.col("id").alias("hub"), ks)
        .select("hub", ((F.col("hub") + F.col("k")) % K).alias("auth"))
    )
    planted = spark.range(n_hubs).select(
        F.col("id").alias("hub"), F.lit(0).cast("long").alias("auth")
    )
    edges = fan.unionAll(planted)

    t0 = time.time()
    rows = hits_bipartite(edges).collect()
    wall = round(time.time() - t0, 2)

    total_ppm = sum(r["auth_ppm"] for r in rows)
    a0 = next(r["auth_ppm"] for r in rows if r["auth"] == 0)
    others = [r["auth_ppm"] for r in rows if r["auth"] != 0]
    # the uniformity contract excludes authorities within the 8-wide
    # fan of auth 0: their hubs' h1 includes the planted authority's
    # huge a1, so they are LEGITIMATELY slightly richer
    mid = [r["auth_ppm"] for r in rows if 100 <= r["auth"] <= 900]
    ok = (
        1_000_000 - len(rows) <= total_ppm <= 1_000_000
        and a0 > max(others)
        and max(mid) - min(mid) <= 1
    )
    return {
        "n_edges": n_hubs * 8 + n_hubs,
        "n_auths": len(rows),
        "wall_s": wall,
        "total_ppm": total_ppm,
        "planted_ppm": a0,
        "uniform_spread_ppm": max(mid) - min(mid),
        "ok": bool(ok),
    }


def probe_cooc(spark, n_baskets: int) -> dict:
    """Capped basket self-join: planted megabasket must cost nothing."""
    from pyspark.sql import functions as F

    M = 10_000
    js = F.explode(F.sequence(F.lit(0), F.lit(5))).alias("j")
    base = (
        spark.range(n_baskets)
        .select(F.col("id").alias("bk"), js)
        .select("bk", ((F.col("bk") % M) + F.col("j")).alias("it"))
    )
    mega = spark.range(5000).select(
        F.lit(-1).cast("long").alias("bk"),
        (F.lit(1_000_000) + F.col("id")).alias("it"),
    )
    items = base.unionAll(mega).distinct()

    def capped_pairs(items_df):
        sized = (
            items_df.groupBy("bk")
            .agg(F.count(F.lit(1)).alias("n_it"))
            .where(F.col("n_it") <= 64)
        )
        kept = items_df.join(sized.select("bk"), "bk")
        a = kept.select("bk", F.col("it").alias("pa"))
        b = kept.select("bk", F.col("it").alias("pb"))
        return (
            a.join(b, "bk")
            .where(F.col("pa") < F.col("pb"))
            .groupBy("pa", "pb")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )

    t0 = time.time()
    pairs = capped_pairs(items)
    n_pairs, max_cnt = pairs.agg(
        F.count(F.lit(1)), F.max("cnt")
    ).first()
    wall = round(time.time() - t0, 2)

    # closed form for the fan pattern: anchors m and m+d (d in 1..5)
    # co-occur in baskets whose anchor is in [m-5+d, m] ... exactly
    # (6 - d) window offsets; each anchor a carries n_baskets/M baskets
    per_anchor = n_baskets // M
    want_cnt_d1 = 5 * per_anchor  # adjacent items share 5 of 6 offsets
    got_d1 = (
        pairs.where((F.col("pb") - F.col("pa") == 1)
                    & (F.col("pa") % M == 500))
        .agg(F.max("cnt"))
        .first()[0]
    )
    # megabasket contributed nothing: no pair involves items >= 1e6
    mega_pairs = pairs.where(F.col("pa") >= 1_000_000).count()
    ok = mega_pairs == 0 and got_d1 == want_cnt_d1
    return {
        "n_baskets": n_baskets,
        "n_pairs": int(n_pairs),
        "wall_s": wall,
        "planted_adjacent_cnt": int(got_d1),
        "expected_adjacent_cnt": want_cnt_d1,
        "megabasket_pairs": int(mega_pairs),
        "ok": bool(ok),
    }


def probe_markov(spark, n_events: int) -> dict:
    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.operators.stats import (
        markov_conversion_prob,
    )

    n_users = 100_000
    per_user = n_events // n_users
    cycle = ["view", "click", "signup", "purchase", "error"]
    ks = F.explode(
        F.sequence(F.lit(0), F.lit(per_user - 1))
    ).alias("k")
    ev = (
        spark.range(n_users)
        .select(F.col("id").alias("user_id"), ks)
        .select(
            "user_id",
            F.col("k").alias("seq0"),
            F.element_at(
                F.array(*[F.lit(c) for c in cycle]),
                ((F.col("user_id") + F.col("k")) % 5 + 1).cast("int"),
            ).alias("event_type"),
        )
    )

    from pyspark.sql import Window

    t0 = time.time()
    ordered = ev.select(
        "user_id",
        "event_type",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("seq0"))
        .alias("seq"),
    )
    ps = (
        ordered.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("seq").alias("ps"))
    )
    tch = (
        ordered.join(ps, "user_id", "left")
        .where(
            (F.col("event_type") != "purchase")
            & (F.col("ps").isNull() | (F.col("seq") < F.col("ps")))
        )
        .select("user_id", F.col("event_type").alias("ch"), "seq", "ps")
    )
    from pyspark.sql import Window

    uw = Window.partitionBy("user_id").orderBy("seq")
    w = tch.select(
        "user_id", "ch", "ps",
        F.row_number().over(uw).alias("t"),
        F.lead("ch").over(uw).alias("nxt"),
    )
    raw = (
        w.where(F.col("t") == 1)
        .select(F.lit("START").alias("src"), F.col("ch").alias("dst"))
        .unionAll(
            w.where(F.col("nxt").isNotNull()).select(
                F.col("ch").alias("src"), F.col("nxt").alias("dst")
            )
        )
        .unionAll(
            w.where(F.col("nxt").isNull()).select(
                F.col("ch").alias("src"),
                F.when(F.col("ps").isNotNull(), "CONV")
                .otherwise("DROP")
                .alias("dst"),
            )
        )
        .unionAll(
            ps.join(
                tch.select("user_id").distinct(), "user_id", "left_anti"
            ).select(
                F.lit("START").alias("src"), F.lit("CONV").alias("dst")
            )
        )
    )
    cnts = [
        (r["src"], r["dst"], r["cnt"])
        for r in raw.groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .collect()
    ]
    channels = ["click", "error", "signup", "view"]
    base = markov_conversion_prob(cnts, channels, n_iter=8)
    effects = {
        ch: (base - markov_conversion_prob(cnts, channels, 8, removed=ch))
        / base
        for ch in channels
    }
    wall = round(time.time() - t0, 2)

    # every user's pre-purchase tail is deterministic; each transient
    # state has exactly one successor, so every transition row must
    # have p == 1 within its src
    tot = {}
    for s, d, c in cnts:
        tot[s] = tot.get(s, 0) + c
    deterministic = all(
        c == tot[s] for s, d, c in cnts if s != "START"
    )
    # closed form: user class u%5 determines the pre-purchase path —
    #   3: START->CONV (no touches),        2: signup->CONV
    #   1: click->signup->CONV,             0: view->click->signup->CONV
    #   4: error->view->click->signup->CONV
    # so base conv = 1.0 and removing a channel loses exactly the
    # classes whose path crosses it: signup 0.8, click 0.6, view 0.4,
    # error 0.2 — EXACT removal effects, not bands
    want_effects = {"signup": 0.8, "click": 0.6, "view": 0.4,
                    "error": 0.2}
    ok = (
        deterministic
        and abs(base - 1.0) < 1e-9
        and all(
            abs(effects[ch] - want_effects[ch]) < 1e-9
            for ch in want_effects
        )
    )
    return {
        "n_events": n_users * per_user,
        "n_transition_rows": len(cnts),
        "wall_s": wall,
        "base_conv": round(base, 6),
        "removal_effects": {k: round(v, 6) for k, v in effects.items()},
        "expected_effects": want_effects,
        "deterministic_chain_recovered": bool(deterministic),
        "ok": bool(ok),
    }


def main() -> int:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_baskets = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    n_events = int(sys.argv[3]) if len(sys.argv) > 3 else 10_000_000

    spark = _spark()
    h = probe_hits(spark, n_edges)
    merge_entry(f"r7c_hits_n{n_edges * 9}", h)
    print("hits:", h)
    c = probe_cooc(spark, n_baskets)
    merge_entry(f"r7c_cooc_n{n_baskets}", c)
    print("cooc:", c)
    m = probe_markov(spark, n_events)
    merge_entry(f"r7c_markov_n{n_events}", m)
    print("markov:", m)
    spark.stop()
    ok = h["ok"] and c["ok"] and m["ok"]
    print("OK" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
