"""Scale probe: ordered funnel + interval overlap join at 10^7-10^8
rows, each against a CLOSED-FORM planted contract.

  * funnel at n events / n/100 users: user u emits a 'view' at t0(u),
    a 'click' strictly after iff u % 2 == 0, and a 'purchase' after
    the click iff u % 4 == 0 (the rest of the events are filler) —
    reach MUST be exactly (U, U/2, U/4).  Exercises the per-step
    pushed-filter scan + user-keyed min-agg + co-partitioned join
    shape at 10^8 events.
  * interval overlap at n/10 intervals: interval i = [60i, 60i + 90]
    seconds overlaps exactly its successor (gap 60 < 90) and nothing
    further (gap 120 > 90), so the l.id < r.id pair count is EXACTLY
    n_intervals - 1.  Exercises the bin-equi-join + rendezvous-bin
    dedup at 10^7 intervals — the quadratic form would be 10^13
    candidate pairs.

Usage: python tools/scale_probe_funnel_interval.py [n_rows]  (default 10^8)
Writes `funnel_interval_n{n}` into SCALEBENCH.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scalebench import merge_entry  # noqa: E402


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000_000
    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.session import local_session
    from compile_time_data_contracts_spark.operators.asof import (
        interval_overlap_join,
    )
    from compile_time_data_contracts_spark.operators.timeseries import (
        funnel_conversion,
    )

    spark = local_session(
        "ctdc-scale-funnel-interval",
        **{"spark.sql.shuffle.partitions": "64", "spark.driver.memory": "48g"},
    )
    results: dict = {"n_rows": n}

    # ---- funnel: planted per-user step structure over n events
    users = n // 100
    t0 = time.time()
    # event e of user u at second u*1000 + k (k = e % 100): k == 0 is
    # the view; k == 1 is a click for even users; k == 2 is a purchase
    # for u % 4 == 0; everything else is filler
    ev = spark.range(n).select(
        (F.col("id") % users).alias("user_id"),
        F.timestamp_seconds(
            (F.col("id") % users) * 1000
            + (F.col("id") / users).cast("bigint")
        ).alias("ts"),
        F.when((F.col("id") / users).cast("bigint") == 0, "view")
        .when(
            ((F.col("id") / users).cast("bigint") == 1)
            & (F.col("id") % users % 2 == 0),
            "click",
        )
        .when(
            ((F.col("id") / users).cast("bigint") == 2)
            & (F.col("id") % users % 4 == 0),
            "purchase",
        )
        .otherwise("filler")
        .alias("event_type"),
    )
    reach = {
        r["step"]: r["users_reached"]
        for r in funnel_conversion(
            ev, ["view", "click", "purchase"]
        ).collect()
    }
    exp = {
        "view": users,
        "click": users // 2,
        "purchase": users // 4,
    }
    funnel_ok = reach == exp
    results["funnel"] = {
        "secs": round(time.time() - t0, 1),
        "events": n,
        "users": users,
        "reach": reach,
        "closed_form": funnel_ok,
    }

    # ---- interval overlap: chain of staggered intervals
    ni = n // 10
    t0 = time.time()
    iv = spark.range(ni).select(
        F.col("id"),
        F.timestamp_seconds(F.col("id") * 60).alias("st"),
        F.timestamp_seconds(F.col("id") * 60 + 90).alias("en"),
    )
    pairs = interval_overlap_join(
        iv,
        iv,
        "st",
        "en",
        "st",
        "en",
        bin_seconds=120,
        extra_cond=F.col("l.id") < F.col("r.id"),
    ).count()
    iv_ok = pairs == ni - 1
    results["interval_overlap"] = {
        "secs": round(time.time() - t0, 1),
        "intervals": ni,
        "pairs": pairs,
        "expected_pairs": ni - 1,
        "closed_form": iv_ok,
        "quadratic_alternative_pairs": ni * (ni - 1) // 2,
    }

    ok = funnel_ok and iv_ok
    results["ok"] = ok
    merge_entry(f"funnel_interval_n{n}", results)
    print(
        json.dumps(
            {"metric": "scale_probe_funnel_interval", "results": results}
        )
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
