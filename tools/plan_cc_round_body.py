"""Snapshot the star-contraction ROUND-BODY plans (the part the
per-round checkpoints hide from the whole-query dumps): one round's
`small` frame over the q101 chain-graph edge set, in both
neighborhood-min strategies, into plans/r11/cc_round_body_*.txt.

Usage: python tools/plan_cc_round_body.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.catalog import load_table
    from compile_time_data_contracts_spark.operators.materialize import pin
    from compile_time_data_contracts_spark.session import local_session

    spark = local_session(
        "ctdc-plan-cc-round",
        **{
            "spark.sql.autoBroadcastJoinThreshold": "64MB",
            "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
        },
    )

    # the q101 edge shape (consecutive event ids per user), materialized
    # the same way the operator materializes its round inputs
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    w = Window.partitionBy("user_id").orderBy("event_id")
    edges = pin(
        ev.withColumn("__prev", F.lag("event_id").over(w))
        .filter(F.col("__prev").isNotNull())
        .select(
            F.greatest("__prev", "event_id").alias("u"),
            F.least("__prev", "event_id").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "r11",
    )
    os.makedirs(out_dir, exist_ok=True)

    def round_body(skew_safe: bool):
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
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
        member = F.struct(F.col("v").alias("u"), F.col("m").alias("v"))
        root = F.struct(F.col("u").alias("u"), F.col("m").alias("v"))
        return (
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

    # the r10 union-of-selects body, for the window-eval-count diff
    def round_body_r10_union():
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        wu = Window.partitionBy("u")
        large = (
            sym.withColumn("m", F.least(F.col("u"), F.min("v").over(wu)))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        l2 = large.withColumn("m", F.min("v").over(wu))
        return (
            l2.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(l2.select("u", F.col("m").alias("v")))
            .distinct()
        )

    for name, df in (
        ("cc_round_body_window_after", round_body(False)),
        ("cc_round_body_skewsafe_after", round_body(True)),
        ("cc_round_body_union_before", round_body_r10_union()),
    ):
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_window = plan.count("Window")
        n_exch = plan.count("Exchange")
        print(f"{name}: Window x{n_window}, Exchange x{n_exch} -> {path}")

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
