"""Scale probe: round-8 families at 10^6-10^8 rows, closed-form contracts.

1. Capped two-hop reach (q374 path) on a 10^6-node ring-with-chords
   graph (edges i->i+1, i->i+2 mod N; every node degree 4) plus ONE
   planted megahub: node 0 adjacent to ~10^5 multiples of 10.  Seeds
   are nodes % 100 == 0 (all hub-adjacent by construction — the worst
   case).  Uncapped, every non-hub seed would fan out THROUGH the hub
   to deg(hub) ~ 10^5 candidates each (~10^9 candidate rows total);
   with the degree-64 intermediate cap the probe must:
     * finish with ZERO two-hop expansion through the hub (counted),
     * reproduce the provable closed form: reach(seed != 0) = 9
       ({seed +-1..+-4} via capped mids, + the hub via the uncapped
       first hop); reach(0) = 500_003 (the hub's first hop is its
       ~10^5 neighbors; its two-hop set is the mod-10 classes
       {8,9,1,2} of the hub fan plus 4 ring stragglers),
     * report the avoided candidate count (the work the cap deleted),
       measured from the degree table (metadata-sized), never by
       running the uncapped plan.

2. Kneser-Ney bigram smoothing (q356 path) at 10^8 bigrams over a
   planted (V=10^4 contexts) x (K=10 continuations) grid, every pair
   appearing exactly M/(V*K) times.  The corpus pass must be ONE
   partial-combined aggregate (the q91 pattern: the shuffle carries
   the V*K vocabulary, never the token stream — plan-asserted), and
   the smoothed probability has the exact closed form
   p = (c-d)/c1 + (d*K/c1) * (V/(V*K)) = 0.1 for every pair
   (c=M/VK, c1=M/V, d=0.75): interpolated KN mass sums to 1 by
   construction, so every pair must round to exactly 0.100000.

3. Streaming SRM monitor (q369 path) at 10^7 events replayed as 3
   ordered micro-batches with epoch 1 RE-DELIVERED: the versioned
   state absorbs the replay (exactly-once by construction), the final
   state is |users|-sized (10^6 rows — NOT event-sized; asserted
   exactly), and the chi-square trips on the planted 550k/450k arm
   split: chi2_micro = 10^10 > 3.841459e6 -> srm_flag true.

Usage: python tools/scale_probe_r8.py [graph_nodes] [kn_bigrams] [srm_events]
Writes `twohop_n{n}`, `kneserney_n{n}`, `srm_n{n}` into SCALEBENCH.json.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scalebench import args, finish, timed  # noqa: E402


def main() -> int:
    graph_n, kn_m, srm_m = args(1_000_000, 100_000_000, 10_000_000)

    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.operators.materialize import (
        scratch_dir,
    )
    from compile_time_data_contracts_spark.session import local_session

    spark = local_session(
        "ctdc-scale-r8",
        **{"spark.sql.shuffle.partitions": "64", "spark.driver.memory": "48g"},
    )

    # ---- 1. capped two-hop reach with a planted megahub -----------
    N = graph_n
    hub_fan = N // 10  # multiples of 10 (0 excluded as a self-loop)
    ring = spark.range(N).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % N).alias("dst")
    ).union(
        spark.range(N).select(
            F.col("id").alias("src"), ((F.col("id") + 2) % N).alias("dst")
        )
    )
    hub = spark.range(1, hub_fan + 1).select(
        F.lit(0).cast("long").alias("src"),
        (F.col("id") * 10 % N).alias("dst"),
    )
    e0 = ring.union(hub).where(F.col("src") != F.col("dst")).distinct()
    twohop_res: dict = {}
    with timed(twohop_res, "sec"):
        sym = (
            e0.union(
                e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        deg = sym.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).cast("bigint").alias("d")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        mid = sym.join(
            deg.select(F.col("node").alias("dst"), "d"), "dst"
        ).where(F.col("d") <= 64).select("src", "dst")
        a = mid.where(F.col("src") % 100 == 0).select(
            F.col("src").alias("seed"), F.col("dst").alias("via")
        )
        b = mid.select(F.col("src").alias("via"), F.col("dst").alias("nbr"))
        hop2 = (
            a.join(b, "via")
            .where(F.col("nbr") != F.col("seed"))
            .select("seed", "nbr")
            .union(
                sym.where(F.col("src") % 100 == 0).select(
                    F.col("src").alias("seed"), F.col("dst").alias("nbr")
                )
            )
            .distinct()
        )
        reach = hop2.groupBy("seed").agg(
            F.count("*").cast("bigint").alias("reach2")
        )
        agg = reach.agg(
            F.count("*").cast("bigint").alias("n_seeds"),
            F.sum("reach2").cast("bigint").alias("total_reach"),
            F.min("reach2").cast("bigint").alias("min_reach"),
            F.max("reach2").cast("bigint").alias("max_reach"),
        ).collect()[0]
    # two-hop expansion THROUGH over-cap intermediates: must be zero in
    # the capped plan; the avoided fan-out is measured from the degree
    # table (each hub-adjacent seed would emit deg(hub) candidates)
    through_hub = (
        a.join(
            deg.where(F.col("d") > 64).select(F.col("node").alias("via")),
            "via",
        ).count()
    )
    over = deg.where(F.col("d") > 64).collect()
    hub_deg = int(over[0]["d"]) if over else 0
    avoided = (
        sym.where(F.col("src") % 100 == 0)
        .join(
            deg.where(F.col("d") > 64).select(
                F.col("node").alias("dst"), F.col("d").alias("dd")
            ),
            "dst",
        )
        .agg(F.sum("dd").alias("s"))
        .collect()[0]["s"]
    ) or 0
    n_seeds = N // 100
    exp_hub_reach = 5 * (hub_fan - 1) + 8  # mod-10 classes + stragglers
    exp_total = exp_hub_reach + (n_seeds - 1) * 9
    twohop_res |= {
        "n_nodes": N,
        "hub_degree": hub_deg,
        "cap": 64,
        "n_seeds": int(agg["n_seeds"]),
        "total_reach": int(agg["total_reach"]),
        "min_reach": int(agg["min_reach"]),
        "max_reach": int(agg["max_reach"]),
        "expected_total": exp_total,
        "expected_hub_reach": exp_hub_reach,
        "twohop_rows_through_hub": int(through_hub),
        "avoided_hub_candidates": int(avoided),
        "ok": bool(
            agg["n_seeds"] == n_seeds
            and agg["total_reach"] == exp_total
            and agg["min_reach"] == 9
            and agg["max_reach"] == exp_hub_reach
            and through_hub == 0
            and avoided == (n_seeds - 1) * hub_deg
        ),
    }
    sym.unpersist()
    deg.unpersist()

    # ---- 2. Kneser-Ney at kn_m bigrams ----------------------------
    V, K, D_NUM, D_DEN = 10_000, 10, 3, 4  # d = 0.75 exact
    M = (kn_m // (V * K)) * (V * K)  # exact multiple: closed form holds
    toks = spark.range(M).select(
        F.concat(F.lit("w"), (F.col("id") % V).cast("string")).alias("w1"),
        F.concat(
            F.lit("c"), ((F.col("id") % (V * K)) / V).cast("long").cast("string")
        ).alias("w2"),
    )
    kn_res: dict = {}
    with timed(kn_res, "sec"):
        c = toks.groupBy("w1", "w2").agg(
            F.count("*").cast("bigint").alias("n_pair")
        )
        plan = c._sc._jvm.PythonSQLUtils.explainString(
            c._jdf.queryExecution(), "formatted"
        )
        one_pass = (
            "partial_count" in plan
            and "EvalPython" not in plan
            and "InPandas" not in plan
        )
        c = c.persist(StorageLevel.MEMORY_AND_DISK)
        uni = c.groupBy("w1").agg(
            F.sum("n_pair").cast("bigint").alias("c1"),
            F.count("*").cast("bigint").alias("n1plus_fw"),
        )
        cont = c.groupBy("w2").agg(
            F.count("*").cast("bigint").alias("n1plus_bw")
        )
        tt = c.agg(F.count("*").cast("bigint").alias("T"))
        p = (
            c.join(uni, "w1")
            .join(cont, "w2")
            .crossJoin(F.broadcast(tt))
            .select(
                F.round(
                    (
                        F.greatest(
                            F.col("n_pair") - F.lit(D_NUM) / F.lit(D_DEN),
                            F.lit(0.0),
                        )
                        / F.col("c1")
                    )
                    + (F.lit(D_NUM) / F.lit(D_DEN))
                    * F.col("n1plus_fw")
                    / F.col("c1")
                    * (F.col("n1plus_bw") / F.col("T").cast("double")),
                    6,
                ).alias("p_kn_r")
            )
        )
        stats = p.agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.countDistinct("p_kn_r").cast("bigint").alias("n_distinct"),
            F.min("p_kn_r").alias("pmin"),
            F.max("p_kn_r").alias("pmax"),
        ).collect()[0]
    c.unpersist()
    kn_res |= {
        "n_bigrams": M,
        "vocab_contexts": V,
        "continuations": K,
        "n_pairs": int(stats["n_pairs"]),
        "expected_pairs": V * K,
        "p_kn_distinct": int(stats["n_distinct"]),
        "p_kn_value": float(stats["pmin"]),
        "expected_p": 0.1,
        "corpus_pass_one_partial_agg": bool(one_pass),
        "ok": bool(
            stats["n_pairs"] == V * K
            and stats["n_distinct"] == 1
            and stats["pmin"] == 0.1
            and stats["pmax"] == 0.1
            and one_pass
        ),
    }

    # ---- 3. streaming SRM at srm_m events, 3-batch replay ---------
    from compile_time_data_contracts_spark.operators.incremental import (
        versioned_state_merger,
    )
    from compile_time_data_contracts_spark.streaming.windows import (
        write_sliced_feed,
    )

    # planted arm sizes: 5.5% / 4.5% of the event count (550k/450k at
    # the default 10^7) — an SRM by construction, every user hit many
    # times so the distinct-state closed form is exact
    E, O = 11 * srm_m // 200, 9 * srm_m // 200
    n_users = E + O
    ev = spark.range(srm_m).select(
        F.col("id").alias("event_id"),
        F.when(
            F.col("id") % 2 == 0, 2 * ((F.col("id") / 2).cast("long") % E)
        )
        .otherwise(2 * (((F.col("id") - 1) / 2).cast("long") % O) + 1)
        .alias("user_id"),
    )
    base = scratch_dir("ctdc-srm-probe-")
    feed, state, ckpt = f"{base}/feed", f"{base}/state", f"{base}/ckpt"
    srm_res: dict = {}
    with timed(srm_res, "sec"):
        mft = write_sliced_feed(ev, F.pmod(F.col("event_id"), F.lit(3)), 3, feed)
        handler = versioned_state_merger(state, ["user_id"])
        qh = (
            spark.readStream.schema("event_id long, user_id long")
            .format("parquet")
            .option("maxFilesPerTrigger", str(mft))
            .load(feed)
            .select("user_id")
            .writeStream.foreachBatch(handler)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        qh.awaitTermination()
        # crash-window redelivery: same batch, same epoch — the versioned
        # merger rewrites v1 idempotently; an append sink would double-count
        handler(
            ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == 1).select("user_id"),
            1,
        )
        users = spark.read.parquet(f"{state}/v2").select("user_id")
        a2 = users.agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n0"),
            F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n1"),
        ).collect()[0]
        n, n0, n1 = int(a2["n"]), int(a2["n0"]), int(a2["n1"])
        chi2_micro = (
            1_000_000 * ((2 * n0 - n) ** 2 + (2 * n1 - n) ** 2)
        ) // (2 * n)
    exp_chi2 = (
        1_000_000 * ((2 * E - n_users) ** 2 + (2 * O - n_users) ** 2)
    ) // (2 * n_users)
    srm_res |= {
        "n_events": srm_m,
        "n_batches": 3,
        "redelivered_epoch": 1,
        "state_rows": n,
        "expected_state_rows": n_users,
        "n_arm0": n0,
        "n_arm1": n1,
        "chi2_micro": chi2_micro,
        "expected_chi2_micro": exp_chi2,
        "srm_flag": bool(chi2_micro > 3_841_459),
        "ok": bool(
            n == n_users
            and n0 == E
            and n1 == O
            and chi2_micro == exp_chi2
            and chi2_micro > 3_841_459
        ),
    }

    entries = {
        f"twohop_n{N}": twohop_res,
        f"kneserney_n{M}": kn_res,
        f"srm_n{srm_m}": srm_res,
    }
    return finish(spark, entries, all(r["ok"] for r in entries.values()))


if __name__ == "__main__":
    sys.exit(main())
