"""Boilerplate-line removal probe: run `remove_boilerplate_lines` at
10⁶ documents with a planted corpus banner and verify the result
BYTE-FOR-BYTE against per-doc expected output built at generation time.

Construction (seeded, fully distributed):
  * n docs of 6 lines × 8 random vocab tokens (lines are effectively
    unique across docs: vocab 200k, collision df ≫ 100 impossible),
  * a BANNER line ("accept cookies to continue reading this site")
    inserted at a seeded per-doc position into HOT_FRAC of all docs —
    ONE line with df ≈ n·HOT_FRAC, the cookie-wall pattern,
  * each generated row also carries its EXPECTED clean text (the doc
    without the banner line), so verification is a distributed
    equality count, not a sampled spot-check.

Checks: zero mismatching documents, dropped-line total == planted
banner count, clean docs untouched, and the operator's wall time at
n=10⁶ recorded.  Merges `boilerplate_n{N}` into SCALEBENCH.json.

Usage: python tools/scale_probe_boilerplate.py [n_docs]  (default 1000000)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

N_DEFAULT = 1_000_000
SEED = 20260814
LINES = 6
LINE_TOKENS = 8
VOCAB = 200_000
HOT_FRAC = 0.2
MAX_DOC_FREQ = 100
BANNER = "accept cookies to continue reading this site"


def generate(spark, path: str, n: int) -> None:
    import numpy as np
    import pandas as pd

    base = spark.range(0, n).toDF("doc_id")

    def gen(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            texts, cleans, banners = [], [], []
            for i in ids:
                rng = np.random.default_rng(SEED + int(i))
                lines = [
                    " ".join(
                        f"w{w}"
                        for w in rng.integers(0, VOCAB, LINE_TOKENS)
                    )
                    for _ in range(LINES)
                ]
                clean = "\n".join(lines)
                has_banner = rng.random() < HOT_FRAC
                if has_banner:
                    pos = int(rng.integers(0, LINES + 1))
                    with_banner = lines[:pos] + [BANNER] + lines[pos:]
                    texts.append("\n".join(with_banner))
                else:
                    texts.append(clean)
                cleans.append(clean)
                banners.append(has_banner)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "text": texts,
                    "expected_clean": cleans,
                    "has_banner": banners,
                }
            )

    base.mapInPandas(
        gen,
        "doc_id long, text string, expected_clean string, "
        "has_banner boolean",
    ).write.mode("overwrite").parquet(path)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else N_DEFAULT

    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.session import local_session
    from compile_time_data_contracts_spark.operators.text import (
        remove_boilerplate_lines,
    )

    spark = local_session(
        "ctdc-scale-probe-boilerplate",
        **{"spark.driver.memory": "16g"},
    )

    path = f"/tmp/ctdc-scale-probe-boilerplate-{n}"
    results: dict = {
        "n_docs": n,
        "max_doc_freq": MAX_DOC_FREQ,
        "hot_frac": HOT_FRAC,
    }
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        t0 = time.perf_counter()
        generate(spark, path, n)
        results["generate_sec"] = round(time.perf_counter() - t0, 2)
    docs = spark.read.parquet(path)
    planted = docs.filter("has_banner").count()
    results["planted_banner_docs"] = planted

    t0 = time.perf_counter()
    cleaned = remove_boilerplate_lines(
        docs, "doc_id", "text", max_doc_freq=MAX_DOC_FREQ,
        out_col="clean",
    )
    agg = (
        cleaned.join(
            docs.select("doc_id", "expected_clean", "has_banner"),
            "doc_id",
        )
        .agg(
            F.sum(
                (F.col("clean") != F.col("expected_clean")).cast("long")
            ).alias("mismatches"),
            F.sum("n_lines_dropped").alias("dropped_total"),
            F.sum(
                ((F.col("n_lines_dropped") > 0) & ~F.col("has_banner"))
                .cast("long")
            ).alias("clean_docs_touched"),
        )
        .first()
    )
    results["operator_sec"] = round(time.perf_counter() - t0, 2)
    results["mismatching_docs"] = int(agg["mismatches"])
    results["dropped_lines_total"] = int(agg["dropped_total"])
    results["clean_docs_touched"] = int(agg["clean_docs_touched"])

    ok = (
        results["mismatching_docs"] == 0
        and results["dropped_lines_total"] == planted
        and results["clean_docs_touched"] == 0
        and planted > MAX_DOC_FREQ
    )
    results["ok"] = ok

    from scalebench import merge_entry

    merge_entry(f"boilerplate_n{n}", results)
    print(
        json.dumps(
            {"metric": "scale_probe_boilerplate", "results": results}
        )
    )
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
