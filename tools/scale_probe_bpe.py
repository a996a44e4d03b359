"""Distributed-BPE probe: 2·10⁷ corpus tokens, 10 merge steps,
cross-checked against a pure-Python reference BPE on the identical
word-frequency table.

Construction (seeded, fully distributed): documents of 20 tokens drawn
Zipf-style from a syllabic vocabulary (three syllables from a 40-entry
set → up to 64k distinct words) — real morphology for BPE to learn
(frequent syllables should win the early merges).

Checks:
  * the Spark merge sequence equals the reference BPE run on the SAME
    collected word-frequency table, step for step (pair, frequency,
    canonical left-to-right rewrite, lexicographic tie-break),
  * merge frequencies are non-increasing (a merge can only create
    pairs at most as frequent as itself),
  * the corpus pass and the 10 vocabulary-sized iterations are timed
    separately — the scale claim is that iteration cost depends on
    |vocab|, not corpus bytes.

Merges ``bpe_n{N}`` into SCALEBENCH.json.

Usage: python tools/scale_probe_bpe.py [n_docs] (default 1000000)
"""

from __future__ import annotations

import collections
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

N_DEFAULT = 1_000_000
SEED = 20260814
DOC_TOKENS = 20
N_MERGES = 10
SYLLABLES = [
    "ka", "to", "ri", "na", "mi", "so", "ta", "ke", "ru", "ha",
    "no", "ya", "se", "ko", "mu", "ra", "te", "ni", "sa", "mo",
    "ba", "de", "gi", "fu", "pe", "zo", "wa", "ju", "vi", "lo",
    "chi", "sho", "tsu", "kyo", "ryu", "hya", "gyo", "nya", "bya",
    "pyo",
]


def generate(spark, path: str, n: int) -> None:
    import numpy as np
    import pandas as pd

    base = spark.range(0, n).toDF("doc_id")
    syl = np.array(SYLLABLES)

    def gen(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            texts = []
            for i in ids:
                rng = np.random.default_rng(SEED + int(i))
                # Zipf-ish: syllable index ~ floor(40 * u^2) biases
                # toward early syllables, giving a skewed word dist
                u = rng.random((DOC_TOKENS, 3))
                idx = (len(syl) * u * u).astype(int)
                words = ["".join(syl[j] for j in row) for row in idx]
                texts.append(" ".join(words))
            yield pd.DataFrame({"doc_id": ids, "text": texts})

    base.mapInPandas(gen, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(path)


def reference_bpe(
    freqs: dict[str, int], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Pure-Python canonical BPE on a word-frequency dict."""
    words = {w: tuple(w) for w in freqs}
    out = []
    for step in range(1, n_merges + 1):
        counts: collections.Counter = collections.Counter()
        for w, syms in words.items():
            f = freqs[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += f
        if not counts:
            break
        (lhs, rhs), pf = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        out.append((step, lhs, rhs, pf))
        merged = lhs + rhs
        for w, syms in words.items():
            res: list[str] = []
            for x in syms:
                if res and res[-1] == lhs and x == rhs:
                    res[-1] = merged
                else:
                    res.append(x)
            words[w] = tuple(res)
    return out


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else N_DEFAULT

    from compile_time_data_contracts_spark.session import local_session

    from compile_time_data_contracts_spark.operators.bpe import (
        bpe_merge_steps,
        word_frequencies,
    )

    spark = local_session("ctdc-scale-probe-bpe", **{"spark.driver.memory": "16g"})

    path = f"/tmp/ctdc-scale-probe-bpe-{n}"
    results: dict = {
        "n_docs": n,
        "corpus_tokens": n * DOC_TOKENS,
        "n_merges": N_MERGES,
    }
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        t0 = time.perf_counter()
        generate(spark, path, n)
        results["generate_sec"] = round(time.perf_counter() - t0, 2)
    docs = spark.read.parquet(path)

    t0 = time.perf_counter()
    words = word_frequencies(docs, "text").cache()
    vocab_n = words.count()
    results["corpus_pass_sec"] = round(time.perf_counter() - t0, 2)
    results["vocab_size"] = vocab_n

    t0 = time.perf_counter()
    merges, final_words = bpe_merge_steps(spark, words, N_MERGES)
    got = [
        (r.step, r.lhs, r.rhs, r.pair_freq) for r in merges.collect()
    ]
    results["merges_sec"] = round(time.perf_counter() - t0, 2)
    results["merges"] = [f"{s}:{a}+{b}@{f}" for s, a, b, f in got]

    # reference BPE on the identical word-frequency table
    freqs = {r.word: r.freq for r in words.select("word", "freq").collect()}
    t0 = time.perf_counter()
    want = reference_bpe(freqs, N_MERGES)
    results["reference_sec"] = round(time.perf_counter() - t0, 2)
    final_words.unpersist()
    words.unpersist()

    nonincreasing = all(
        got[i][3] >= got[i + 1][3] for i in range(len(got) - 1)
    )
    ok = got == want and len(got) == N_MERGES and nonincreasing
    results["matches_reference"] = got == want
    results["freq_nonincreasing"] = nonincreasing
    results["ok"] = ok

    from scalebench import merge_entry

    merge_entry(f"bpe_n{n}", results)
    print(json.dumps({"metric": "scale_probe_bpe", "results": results}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
