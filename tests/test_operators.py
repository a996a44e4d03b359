"""Operator-library unit tests: dedup, similarity, as-of join, top-k,
text analysis, multimodal plumbing.

Oracles here are tiny hand-computable datasets (and numpy for vector
math) — the full-table DuckDB hash-match harness lives in
tools/compare_oracle.py; these tests pin operator semantics and edge
cases that the table-level harness can't isolate.
"""

from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from compile_time_data_contracts_spark.operators.asof import asof_join
from compile_time_data_contracts_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_index_build,
    minhash_index_reuse_or_build,
    minhash_near_dup_pairs,
    minhash_signature,
    minhash_table,
    near_dup_against,
    shingle_rows,
    shingles,
    simhash,
)
from compile_time_data_contracts_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    attach_fake_media,
    extract_media_features,
)
from compile_time_data_contracts_spark.operators.similarity import (
    cosine,
    cosine_pairs_exact_blas,
    cosine_pairs_lsh,
    topk_cosine,
)
from compile_time_data_contracts_spark.operators.sampling import (
    deterministic_sample,
    hash_bucket,
    pack_sequences,
)
from compile_time_data_contracts_spark.operators.text import (
    redact_pii,
    bpe_ish_token_count,
    fingerprint_md5,
    language_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    token_diversity,
)
from compile_time_data_contracts_spark.operators.topk import topk_per_group


# ---------------------------------------------------------------- dedup

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
    (3, "completely different text about spark engines here"),
    (4, "The  Quick Brown  fox jumps over the lazy dog"),  # exact dup of 1 mod case/ws
    (5, "short doc"),
    (6, "x"),  # single token: fewer tokens than shingle width
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup_normalizes_case_and_whitespace(docs):
    kept = exact_dedup(docs)
    # 1 and 4 normalize identically -> one survives
    assert kept.count() == 5
    texts = {r.doc_id for r in kept.collect()}
    assert len({1, 4} & texts) == 1


def test_shingle_rows_matches_expression_shingles(docs):
    """The codegen explode path must emit exactly the expression path's
    shingle set (modulo duplicates) for every row, including sub-n docs."""
    a = shingle_rows(docs).distinct()
    b = docs.select(
        "doc_id", F.explode(shingles("text", 3)).alias("shingle")
    ).distinct()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_shingles_short_doc_single_shingle(docs):
    row = docs.filter(F.col("doc_id") == 6).select(
        shingles("text", 3).alias("sh")
    ).first()
    assert row.sh == ["x"]


def test_minhash_table_matches_expression_signature(docs):
    """minhash_table's h0..hN columns must equal the expression-level
    minhash_signature values (same xxhash64(shingle, seed) stream)."""
    expr = docs.select(
        "doc_id", minhash_signature(shingles("text", 3), 8).alias("sig")
    ).collect()
    tab = minhash_table(docs, num_hashes=8).collect()
    by_id_expr = {r.doc_id: r.sig for r in expr}
    by_id_tab = {r.doc_id: [r[f"h{i}"] for i in range(8)] for r in tab}
    assert by_id_expr == by_id_tab


def test_jaccard_pairs_exact_value(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(docs, threshold=0.3).collect()
    }
    # docs 1/2 share 6 of 7+7 distinct 3-shingles -> J = 6/8
    assert (1, 2) in pairs
    assert pairs[(1, 2)] == pytest.approx(6 / 8)
    # 1/4 differ after case folding? shingles are case-sensitive -> not a pair
    assert all(a < b for (a, b) in pairs)


def test_minhash_near_dup_finds_planted_pair(docs):
    got = {
        (r.doc_a, r.doc_b)
        for r in minhash_near_dup_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) in got
    # verification step: no false positives below threshold
    exact = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert got <= exact


def test_lsh_candidates_carry_shingle_sets(docs):
    cand = lsh_candidate_pairs(docs).filter(
        (F.col("doc_a") == 1) & (F.col("doc_b") == 2)
    ).first()
    assert cand is not None
    assert set(cand.sh_a) == set(
        docs.filter(F.col("doc_id") == 1)
        .select(shingles("text", 3).alias("s"))
        .first()
        .s
    )


def test_simhash_deterministic_and_near_for_near_dups(docs):
    sig = {
        r.doc_id: r.s
        for r in docs.select("doc_id", simhash("text").alias("s")).collect()
    }
    sig2 = {
        r.doc_id: r.s
        for r in docs.select("doc_id", simhash("text").alias("s")).collect()
    }
    assert sig == sig2
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    # near-dups differ in fewer bits than unrelated docs
    assert ham(sig[1], sig[2]) < ham(sig[1], sig[3])


# ------------------------------------------------------------ similarity

VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0, 0.0]),   # close to 0
    (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
    (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
    (4, [0.5, 0.5, 0.5, 0.5]),
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in VECS],
        "vec_id long, embedding array<double>",
    )


def _np_cosine(a, b):
    da = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return da / (na * nb)


def test_cosine_expression_matches_python(vecs):
    got = (
        vecs.alias("a")
        .crossJoin(vecs.alias("b"))
        .select(
            F.col("a.vec_id").alias("i"),
            F.col("b.vec_id").alias("j"),
            cosine(F.col("a.embedding"), F.col("b.embedding")).alias("sim"),
        )
        .collect()
    )
    by_pair = {(r.i, r.j): r.sim for r in got}
    for i, va in VECS:
        for j, vb in VECS:
            assert by_pair[(i, j)] == pytest.approx(
                _np_cosine(va, vb), abs=1e-12
            )


def _cosine_pairs_exact(df, threshold):
    """All pairs with cosine >= threshold, one JVM expression a pair:
    the O(n²) reference the BLAS form is checked against."""
    a, b = df.alias("a"), df.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine(F.col("a.embedding"), F.col("b.embedding")).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def test_exact_pairs_expression_and_blas_agree(vecs):
    t = 0.4
    a = {
        (r.vec_a, r.vec_b): r.sim
        for r in _cosine_pairs_exact(vecs, t).collect()
    }
    b = {
        (r.vec_a, r.vec_b): r.sim
        for r in cosine_pairs_exact_blas(vecs, t).collect()
    }
    assert set(a) == set(b)
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=1e-12)


def test_topk_cosine_order(vecs):
    q = vecs.filter(F.col("vec_id") == 0)
    top = topk_cosine(vecs, q, k=3).collect()
    assert [r.vec_id for r in top] == [0, 1, 4]
    assert top[0].sim == pytest.approx(1.0)


def test_lsh_pairs_subset_of_exact_with_high_recall(spark):
    # 60 planted clusters of 2 near-identical vectors + noise dims
    import random

    rng = random.Random(7)
    rows = []
    vid = 0
    for c in range(60):
        base = [rng.gauss(0, 1) for _ in range(16)]
        for _ in range(2):
            jit = [x + rng.gauss(0, 0.05) for x in base]
            rows.append((vid, jit))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r.vec_a, r.vec_b)
        for r in cosine_pairs_exact_blas(df, 0.8).collect()
    }
    got = {
        (r.vec_a, r.vec_b)
        for r in cosine_pairs_lsh(df, 0.8, dim=16).collect()
    }
    assert got <= exact  # exact verification -> precision 1
    assert len(got) >= 0.9 * len(exact)  # multi-table recall


# --------------------------------------------------------------- as-of

def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 12:00:00"),
            (2, "2024-01-01 09:00:00"),  # before any right row
        ],
        ["k", "lts"],
    ).withColumn("lts", F.to_timestamp("lts"))
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 09:30:00", 10.0),
            (1, "2024-01-01 10:00:00", 20.0),  # equal ts: must match
            (1, "2024-01-01 11:00:00", 30.0),
            (2, "2024-01-01 09:30:00", 99.0),
        ],
        ["k", "rts", "v"],
    ).withColumn("rts", F.to_timestamp("rts"))

    out = {
        (r.k, str(r.lts)): r.asof_v
        for r in asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            value_cols=["v"],
        ).collect()
    }
    # equal timestamp: right row at 10:00 is visible (ASOF >=)
    assert out[(1, "2024-01-01 10:00:00")] == 20.0
    # latest preceding right row wins
    assert out[(1, "2024-01-01 12:00:00")] == 30.0
    # no preceding right row -> null
    assert out[(2, "2024-01-01 09:00:00")] is None


# --------------------------------------------------------------- top-k

def test_topk_per_group(spark):
    df = spark.createDataFrame(
        [("a", i) for i in range(10)] + [("b", i) for i in range(3)],
        ["g", "v"],
    )
    out = topk_per_group(df, ["g"], [F.desc("v")], k=2)
    got = {(r.g, r.v) for r in out.collect()}
    assert got == {("a", 9), ("a", 8), ("b", 2), ("b", 1)}
    assert all(r.rn <= 2 for r in out.collect())


# ----------------------------------------------------------------- text

def test_text_metrics(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog!"), (2, "word"), (3, "a a a a")],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            token_count("text").alias("n"),
            bpe_ish_token_count("text").alias("bpe"),
            punct_ratio("text").alias("punct"),
            stopword_ratio("text").alias("stop"),
            token_diversity("text").alias("div"),
        ).collect()
    }
    assert got[1].n == 5
    assert got[1].bpe == 6  # five words + '!'
    assert got[1].punct == pytest.approx(1 / 20)
    assert got[1].stop == pytest.approx(3 / 5)  # the, and, the
    assert got[2].div == pytest.approx(1.0)
    assert got[3].div == pytest.approx(1 / 4)


def test_language_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            (1, "the house of the rising sun and a dog"),
            (2, "el perro de la casa y que bonito"),
            (3, "der hund und die katze das haus"),
            (4, "zzz qqq xxx"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r.lang
        for r in df.select(
            "doc_id", language_id("text").alias("lang")
        ).collect()
    }
    assert got[1] == "en"
    assert got[2] == "es"
    assert got[3] == "de"
    assert got[4] == "und"


def test_fingerprint_md5_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "  hello world "), (3, "hello worlds")],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r.fp
        for r in df.select(
            "doc_id", fingerprint_md5("text").alias("fp")
        ).collect()
    }
    assert got[1] == got[2]
    assert got[1] != got[3]


def test_quality_score_bands(spark):
    long_doc = " ".join(f"tok{i}" for i in range(50))
    df = spark.createDataFrame(
        [(1, long_doc), (2, "tiny")], ["doc_id", "text"]
    )
    got = {
        r.doc_id: r.q
        for r in df.select(
            "doc_id", quality_score("text").alias("q")
        ).collect()
    }
    assert got[1] == pytest.approx(1.0)  # in-band length, full diversity
    assert got[2] < got[1]


# ---------------------------------------------------- sampling / packing

def test_deterministic_sample_stable_across_partitionings(spark):
    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    a = {r.k for r in deterministic_sample(df, 0.3, "k").collect()}
    b = {
        r.k
        for r in deterministic_sample(
            df.repartition(7), 0.3, "k"
        ).collect()
    }
    assert a == b
    assert 0.25 < len(a) / 10_000 < 0.35  # well-mixed rate


def test_stratified_rates(spark):
    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(10_000)]
    df = spark.createDataFrame(rows, ["k", "lang"])
    kept = deterministic_sample(
        df, rate=0.1, key_col="k", strata_col="lang", rates={"en": 0.5}
    )
    counts = {
        r.lang: r.n
        for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert 0.4 < counts["en"] / 5000 < 0.6
    assert 0.05 < counts["de"] / 5000 < 0.15


def test_pack_sequences_budget_fill(spark):
    df = spark.createDataFrame(
        [(i, 600) for i in range(10)], ["doc_id", "n_tokens"]
    )
    out = {
        r.doc_id: r.pack_id
        for r in pack_sequences(df, budget=2048).collect()
    }
    # exclusive cumsum: docs 0-3 (0,600,1200,1800) -> pack 0;
    # docs 4-6 (2400,3000,3600) -> pack 1; ...
    assert out == {0: 0, 1: 0, 2: 0, 3: 0, 4: 1, 5: 1, 6: 1, 7: 2, 8: 2, 9: 2}


def test_pack_sequences_sharded_parallel(spark):
    rows = [(i, "a" if i < 5 else "b", 1000) for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "shard", "n_tokens"])
    out = pack_sequences(
        df, budget=2048, shard_col="shard"
    ).groupBy("shard").agg(F.max("pack_id").alias("mx")).collect()
    # each shard packs independently from pack 0: exclusive cumsums
    # 0..4000 over budget 2048 -> packs 0,0,0,1,1
    assert {r.shard: r.mx for r in out} == {"a": 1, "b": 1}


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [(1, "mail me at jo.doe+x@foo-bar.org or call +1 555-123 4567 now")],
        ["doc_id", "text"],
    )
    got = df.select(redact_pii("text").alias("t")).first().t
    assert "<EMAIL>" in got and "<PHONE>" in got
    assert "@" not in got and "555" not in got


# ------------------------------------------------------------ multimodal

def test_media_features_schema_and_determinism(spark):
    df = spark.createDataFrame(
        [(1, "hello"), (2, "")], ["doc_id", "text"]
    )
    feats = extract_media_features(attach_fake_media(df))
    assert feats.schema == FEATURE_SCHEMA
    rows = {r.doc_id: r for r in feats.collect()}
    assert rows[1].byte_len == 5
    assert rows[1].checksum == sum(b"hello")
    assert rows[2].byte_len == 0
    # deterministic across runs
    again = {
        r.doc_id: r
        for r in extract_media_features(attach_fake_media(df)).collect()
    }
    assert rows == again


def test_media_decode_stub_gate(spark):
    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    feats = extract_media_features(
        attach_fake_media(df), decode_stub=False
    )
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        feats.collect()


# ----------------------------------------------------------------- skew

def test_salted_join_matches_plain_join(spark):
    from compile_time_data_contracts_spark.operators.skew import salted_join

    # one hot key (90% of rows) + uniform tail
    left = spark.createDataFrame(
        [(1 if i % 10 else i, i) for i in range(2000)], ["k", "v"]
    )
    right = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(200)], ["k", "name"]
    )
    plain = {(r.k, r.v, r.name) for r in left.join(right, "k").collect()}
    salted = {
        (r.k, r.v, r.name)
        for r in salted_join(left, right, ["k"], salt=8).collect()
    }
    assert salted == plain

    left_plain = {
        (r.k, r.v, r.name)
        for r in left.join(right, "k", "left").collect()
    }
    left_salted = {
        (r.k, r.v, r.name)
        for r in salted_join(left, right, ["k"], salt=8, how="left").collect()
    }
    assert left_salted == left_plain


def test_two_phase_count_distinct_matches_exact(spark):
    from compile_time_data_contracts_spark.operators.skew import (
        two_phase_count_distinct,
    )

    df = spark.createDataFrame(
        [("hot" if i % 5 else f"g{i}", i % 97) for i in range(3000)],
        ["g", "v"],
    )
    exact = {
        (r.g, r.n)
        for r in df.groupBy("g")
        .agg(F.countDistinct("v").cast("bigint").alias("n"))
        .collect()
    }
    got = {
        (r.g, r.n_distinct)
        for r in two_phase_count_distinct(df, "g", "v").collect()
    }
    assert got == exact


def test_language_id_table_matches_expression(spark):
    """The scale form must reproduce the expression form exactly,
    including tie-break and 'und' semantics."""
    from compile_time_data_contracts_spark.operators.text import (
        language_id_table,
    )

    df = spark.createDataFrame(
        [
            (1, "the house of the rising sun and a dog"),
            (2, "el perro de la casa y que bonito"),
            (3, "le chat et le chien un jour"),
            (4, "der hund und die katze das haus"),
            (5, "zzz qqq xxx"),
            (6, "la de"),  # es/fr tie on shared stopwords -> es (declared order)
            (7, ""),
        ],
        ["doc_id", "text"],
    )
    expr = {
        r.doc_id: r.lang
        for r in df.select(
            "doc_id", language_id("text").alias("lang")
        ).collect()
    }
    tab = {
        r.doc_id: r.lang_guess for r in language_id_table(df).collect()
    }
    assert tab == expr


def test_ivf_topk_high_recall_vs_exact(spark):
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_topk,
    )
    import random

    rng = random.Random(3)
    rows = []
    for i in range(3000):
        base = [rng.gauss(0, 1) for _ in range(16)]
        rows.append((i, base))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") == 0)
    exact = [r.vec_id for r in topk_cosine(df, q, k=10).collect()]
    approx = [
        r.vec_id
        for r in ivf_topk(
            df, q, k=10, n_clusters=32, nprobe=8
        ).collect()
    ]
    # the query's own cluster is always probed; >= 70% of the exact
    # top-10 must appear (random isotropic vectors are the hard case)
    assert approx[0] == 0
    assert len(set(approx) & set(exact)) >= 7


def test_asof_join_tolerance(spark):
    from compile_time_data_contracts_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 12:00:00")], ["k", "lts"]
    ).withColumn("lts", F.to_timestamp("lts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 08:00:00", 10.0)], ["k", "rts", "v"]
    ).withColumn("rts", F.to_timestamp("rts"))
    # without tolerance the 08:00 row matches; with 2h tolerance it's too old
    loose = asof_join(left, right, "k", "lts", "rts", ["v"]).first()
    assert loose.asof_v == 10.0
    tight = asof_join(
        left, right, "k", "lts", "rts", ["v"], tolerance="2 hours"
    ).first()
    assert tight.asof_v is None and tight.asof_ts is None


def test_keep_best_dedup(spark):
    from compile_time_data_contracts_spark.operators.dedup import (
        keep_best_dedup,
    )

    df = spark.createDataFrame(
        [
            (1, "Same Doc", 0.2),
            (2, "same  doc", 0.9),   # normalized dup of 1, higher quality
            (3, "unique here", 0.5),
        ],
        ["doc_id", "text", "quality"],
    )
    best = keep_best_dedup(df, score_col="quality", ascending=False)
    got = {r.doc_id for r in best.collect()}
    assert got == {2, 3}
    first = keep_best_dedup(df, score_col="doc_id", ascending=True)
    assert {r.doc_id for r in first.collect()} == {1, 3}


def test_connected_components_clusters(spark, cc_star_sides):
    from compile_time_data_contracts_spark.operators.dedup import (
        connected_components_star,
    )

    # two chains: 1-2-3 (via 1-2, 2-3) and 7-9; singleton edges only
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], ["doc_a", "doc_b"]
    )
    for got in cc_star_sides(
        lambda: {
            (r.doc_id, r.cluster_id)
            for r in connected_components_star(pairs).collect()
        }
    ):
        assert got == {(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)}


def test_resample_ffill(spark):
    import datetime as dt

    from compile_time_data_contracts_spark.operators.timeseries import (
        resample_ffill,
    )

    ts = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    df = spark.createDataFrame(
        [(1, ts(10, 30), 5.0), (1, ts(13, 10), 9.0), (2, ts(8), 1.0)],
        ["k", "ts", "v"],
    )
    out = {
        (r.k, r.ts.hour): r.v_ffill
        for r in resample_ffill(df, "k", "ts", "v", "1 hour").collect()
    }
    # key 1 grid 10:00..13:00; 10:00 precedes the first obs (10:30) -> null
    assert out[(1, 10)] is None
    assert out[(1, 11)] == 5.0 and out[(1, 12)] == 5.0
    assert out[(1, 13)] is None or out[(1, 13)] == 5.0  # 13:00 < 13:10
    assert out[(2, 8)] == 1.0
    assert len(out) == 5  # 4 ticks for key 1 + 1 for key 2


def test_asof_join_composite_key(spark):
    from compile_time_data_contracts_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "eu", "2024-01-01 12:00:00"), (1, "us", "2024-01-01 12:00:00")],
        ["k", "region", "lts"],
    ).withColumn("lts", F.to_timestamp("lts"))
    right = spark.createDataFrame(
        [
            (1, "eu", "2024-01-01 11:00:00", 10.0),
            (1, "us", "2024-01-01 11:30:00", 20.0),
        ],
        ["k", "region", "rts", "v"],
    ).withColumn("rts", F.to_timestamp("rts"))
    out = {
        (r.k, r.region): r.asof_v
        for r in asof_join(
            left, right, on=["k", "region"], left_ts="lts",
            right_ts="rts", value_cols=["v"],
        ).collect()
    }
    # each (k, region) pair only sees its own region's observations
    assert out == {(1, "eu"): 10.0, (1, "us"): 20.0}


def test_cosine_pairs_dispatch_size_guard(vecs):
    """q49's gate path must never unconditionally collect: under the
    broadcast bound the dispatcher takes the BLAS mapInPandas path; above
    it, the fully-distributed pair join (no driver collect — the plan has
    a Join and no Python map stage)."""
    from compile_time_data_contracts_spark.operators.similarity import (
        cosine_pairs,
    )

    t = 0.4
    small = cosine_pairs(vecs, t)  # fits easily -> BLAS path
    plan_small = small._sc._jvm.PythonSQLUtils.explainString(
        small._jdf.queryExecution(), "formatted"
    )
    assert "MapInPandas" in plan_small

    big = cosine_pairs(vecs, t, max_broadcast_bytes=1)  # force fallback
    plan_big = big._sc._jvm.PythonSQLUtils.explainString(
        big._jdf.queryExecution(), "formatted"
    )
    # block-grid form: per-cell BLAS via applyInPandas, no full-matrix
    # broadcast (the blas path's MapInPandas-over-broadcast is absent)
    assert "FlatMapGroupsInPandas" in plan_big
    assert "MapInPandas" not in plan_big

    a = {(r.vec_a, r.vec_b): r.sim for r in small.collect()}
    b = {(r.vec_a, r.vec_b): r.sim for r in big.collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=1e-12)


def test_simhash_table_matches_expression(docs):
    """The explode+groupBy scale form must produce bit-identical
    signatures to the per-row expression form, with no interpreted
    higher-order function in its plan."""
    from compile_time_data_contracts_spark.operators.dedup import (
        simhash_table,
    )

    expr_sigs = {
        r.doc_id: r.s
        for r in docs.select("doc_id", simhash("text").alias("s")).collect()
    }
    table = simhash_table(docs, "doc_id", "text")
    table_sigs = {r.doc_id: r.signature for r in table.collect()}
    assert table_sigs == expr_sigs

    plan = table._sc._jvm.PythonSQLUtils.explainString(
        table._jdf.queryExecution(), "formatted"
    )
    assert "aggregate(" not in plan  # no interpreted HOF
    assert "HashAggregate" in plan  # map-side-combined vote aggregate


def test_connected_components_reliable_checkpoint(spark, cc_star_sides):
    """The distributed star rounds cut lineage with a RELIABLE
    checkpoint: this call writes files into the configured checkpoint
    dir (recomputable after executor loss, unlike localCheckpoint), and
    the returned plan is the exit's single join over two checkpointed
    relations, with no join chain from prior rounds."""
    import os

    from compile_time_data_contracts_spark.operators.dedup import (
        connected_components_star,
    )

    def checkpoint_files():
        ckpt_dir = spark.sparkContext.getCheckpointDir()
        if ckpt_dir is None:
            return set()
        root = ckpt_dir.removeprefix("file:")
        return {os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs}

    # a diameter-6 path graph forces several star alternations
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "doc_a long, doc_b long"
    )

    def run():
        before = checkpoint_files()
        labels = connected_components_star(edges)
        got = {r.doc_id: r.cluster_id for r in labels.collect()}
        plan = labels._sc._jvm.PythonSQLUtils.explainString(
            labels._jdf.queryExecution(), "formatted"
        )
        return got, checkpoint_files() - before, plan

    (local_got, _, _), (got, written, plan) = cc_star_sides(run)
    assert local_got == got == {i: 0 for i in range(7)}

    assert written, "reliable checkpoint wrote no files"
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert final.count("SortMergeJoin") == 1  # lineage from rounds is cut
    assert final.count("Scan ExistingRDD") == 2
    # every leaf reads a checkpointed RDD, the source's included
    scans = re.findall(r"\) Scan ExistingRDD.*\n.*\nArguments: (.*)", plan)
    assert len(scans) == 2
    assert all("] at checkpoint at " in a for a in scans), scans


def test_ivf_index_persisted_and_partition_pruned(spark, tmp_path):
    """ivf_build writes the assigned table partitioned by cluster;
    ivf_search's probe scan must prune partitions (PartitionFilters on
    cluster, fewer partitions read than exist) and reuse the persisted
    index without refitting."""
    import os

    import numpy as np

    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_build,
        ivf_search,
        topk_cosine,
    )

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(size=16)]) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = str(tmp_path / "ivf")
    ivf_build(df, idx, n_clusters=8, seed=7)

    part_dirs = [
        d for d in os.listdir(f"{idx}/vectors") if d.startswith("cluster=")
    ]
    assert len(part_dirs) == 8

    query = df.filter(F.col("vec_id") == 0)
    top = ivf_search(spark, idx, query, k=5, nprobe=2)
    plan = top._sc._jvm.PythonSQLUtils.explainString(
        top._jdf.queryExecution(), "formatted"
    )
    m = re.search(r"PartitionFilters: \[[^\]]*cluster", plan)
    assert m, f"no partition filter on cluster:\n{plan}"

    got = [r.vec_id for r in top.collect()]
    assert got[0] == 0  # the query vector itself lives in a probed cell
    # nprobe=all equals brute force exactly
    full = ivf_search(spark, idx, query, k=5, nprobe=8)
    exact = topk_cosine(df, query, k=5)
    assert [r.vec_id for r in full.collect()] == [
        r.vec_id for r in exact.collect()
    ]


def test_cosine_pairs_blocked_matches_blas(vecs):
    """The block-grid exact form must produce identical pairs/sims to the
    broadcast BLAS form, including across block boundaries (forced tiny
    blocks so the grid is non-trivial) and on the diagonal cells."""
    from compile_time_data_contracts_spark.operators.similarity import (
        cosine_pairs_exact_blas,
        cosine_pairs_exact_blocked,
    )

    t = 0.4
    a = {
        (r.vec_a, r.vec_b): r.sim
        for r in cosine_pairs_exact_blas(vecs, t).collect()
    }
    b = {
        (r.vec_a, r.vec_b): r.sim
        for r in cosine_pairs_exact_blocked(vecs, t, block_rows=2).collect()
    }
    assert set(a) == set(b) and len(a) > 0
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=1e-12)


def test_topk_cosine_arrow_matches_expr(vecs):
    from compile_time_data_contracts_spark.operators.similarity import (
        topk_cosine,
    )

    q = vecs.filter(F.col("vec_id") == 0)
    arrow = topk_cosine(vecs, q, k=3, score_mode="arrow").collect()
    expr = topk_cosine(vecs, q, k=3, score_mode="expr").collect()
    assert [r.vec_id for r in arrow] == [r.vec_id for r in expr]
    for ra, re_ in zip(arrow, expr):
        assert ra.sim == pytest.approx(re_.sim, abs=1e-12)


def test_topk_cosine_multi_exact_per_query(vecs):
    """Every query's top-k must equal the single-query exact answer,
    including rank order and tie-break by id."""
    from compile_time_data_contracts_spark.operators.similarity import (
        topk_cosine,
        topk_cosine_multi,
    )

    got = topk_cosine_multi(vecs, vecs, k=3).collect()
    by_query = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
        by_query.setdefault(r.query_id, []).append(r.vec_id)
    assert set(by_query) == {0, 1, 2, 3, 4}
    for qid in by_query:
        single = topk_cosine(
            vecs, vecs.filter(F.col("vec_id") == qid), k=3
        ).collect()
        assert by_query[qid] == [r.vec_id for r in single]


def test_chunk_documents_windows_and_overlap(docs):
    from compile_time_data_contracts_spark.operators.text import (
        chunk_documents,
    )

    chunks = chunk_documents(docs, "doc_id", "text", chunk_tokens=4, overlap=1)
    rows = sorted(
        chunks.collect(), key=lambda r: (r.doc_id, r.chunk_id)
    )
    # doc 1 has 9 tokens: stride 3 -> ceil((9-1)/3) = 3 chunks
    d1 = [r for r in rows if r.doc_id == 1]
    assert [r.chunk_id for r in d1] == [0, 1, 2]
    assert d1[0].chunk_text == "the quick brown fox"
    assert d1[1].chunk_text == "fox jumps over the"  # 1-token overlap
    assert d1[2].chunk_text == "the lazy dog"
    assert d1[2].chunk_token_count == 3
    # single-token doc 6 -> exactly one chunk, itself
    d6 = [r for r in rows if r.doc_id == 6]
    assert len(d6) == 1 and d6[0].chunk_text == "x"

    with pytest.raises(ValueError):
        chunk_documents(docs, overlap=64, chunk_tokens=64)


def test_asof_join_non_timestamp_ordering_column(spark):
    """ADVICE r1 (low): the null marker must take the right ordering
    column's actual type — as-of over epoch longs (or any orderable
    type) must work, not only timestamps."""
    left = spark.createDataFrame(
        [(1, 100), (1, 205), (2, 50)], "k long, t long"
    )
    right = spark.createDataFrame(
        [(1, 90, 9.0), (1, 200, 20.0), (2, 60, 6.0)],
        "k long, t long, v double",
    )
    out = asof_join(
        left, right, on="k", left_ts="t", right_ts="t", value_cols=["v"]
    ).collect()
    got = {(r.k, r.t): (r.asof_ts, r.asof_v) for r in out}
    assert got[(1, 100)] == (90, 9.0)
    assert got[(1, 205)] == (200, 20.0)
    assert got[(2, 50)] == (None, None)  # no right row at or before 50


def test_capped_per_group_sample_deterministic(spark):
    from compile_time_data_contracts_spark.operators.sampling import (
        capped_per_group_sample,
    )

    df = spark.createDataFrame(
        [(i, "a" if i < 80 else "b") for i in range(100)], "k long, g string"
    )
    s1 = capped_per_group_sample(df, "g", "k", 10)
    s2 = capped_per_group_sample(df.repartition(7), "g", "k", 10)
    r1 = sorted((r.g, r.k) for r in s1.collect())
    r2 = sorted((r.g, r.k) for r in s2.collect())
    assert r1 == r2  # membership is partitioning-independent
    per_g = {}
    for g, k in r1:
        per_g.setdefault(g, []).append(k)
    assert len(per_g["a"]) == 10
    assert len(per_g["b"]) == 10  # only 20 'b' rows -> capped to 10


def test_range_join_binned_no_bnlj_and_exact(spark):
    """The binned rewrite must (a) produce exactly the pairs of the
    naive range join and (b) plan as an equi-join on the bin, never a
    BroadcastNestedLoopJoin/cartesian."""
    import datetime as dt

    from compile_time_data_contracts_spark.operators.asof import (
        range_join_binned,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(seconds=s))
        for i, s in enumerate([0, 10, 299, 300, 301, 601, 900, 905])
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp")
    joined = range_join_binned(
        ev, ev, "ts", "ts", 0, 300,
        extra_cond=F.col("l.event_id") != F.col("r.event_id"),
    )
    got = {
        (r.lid, r.rid)
        for r in joined.select(
            F.col("l.event_id").alias("lid"),
            F.col("r.event_id").alias("rid"),
        ).collect()
    }
    naive = {
        (ra[0], rb[0])
        for ra in rows
        for rb in rows
        if ra[0] != rb[0]
        and ra[1] <= rb[1] <= ra[1] + dt.timedelta(seconds=300)
    }
    assert got == naive
    # boundary case included: (2 -> 3) gap exactly 1s, (0 -> 3) gap 300s
    assert (0, 3) in got
    plan = joined._sc._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# =========================================================================
# Round-2 additions: mixing, contamination, quantization, vocabulary,
# distributed global-shuffle rank
# =========================================================================


def test_mix_to_proportions_matches_targets_and_is_deterministic(spark):
    from compile_time_data_contracts_spark.operators.sampling import (
        mix_to_proportions,
    )

    rows = [
        Row(k=i, domain="web" if i % 10 < 6 else ("code" if i % 10 < 9 else "books"))
        for i in range(5000)
    ]
    df = spark.createDataFrame(rows)
    weights = {"web": 0.3, "code": 0.3, "books": 0.4}
    kept = mix_to_proportions(df, "domain", "k", weights)
    counts = {r["domain"]: r["n"] for r in kept.groupBy("domain").agg(F.count("*").alias("n")).collect()}
    # books (500 rows, weight .4) binds: n_total = 500/.4 = 1250
    # targets: web 375, code 375, books 500 (binding domain kept whole)
    assert counts["books"] == 500
    total = sum(counts.values())
    for d, w in weights.items():
        # hash filter is uniform, not exact-count: allow a few % slack
        assert abs(counts[d] / total - w) < 0.05, (d, counts)
    # deterministic: identical membership across runs/partitionings
    kept2 = mix_to_proportions(df.repartition(13), "domain", "k", weights)
    assert sorted(r["k"] for r in kept.select("k").collect()) == sorted(
        r["k"] for r in kept2.select("k").collect()
    )
    # domains not in weights are dropped
    df2 = df.union(spark.createDataFrame([Row(k=99999, domain="junk")]))
    kept3 = mix_to_proportions(df2, "domain", "k", weights)
    assert kept3.filter(F.col("domain") == "junk").count() == 0


def test_contamination_check_planted_overlap(spark):
    from compile_time_data_contracts_spark.operators.dedup import (
        contamination_check,
    )

    bench = spark.createDataFrame(
        [Row(doc_id=1, text="the quick brown fox jumps")]
    )
    corpus = spark.createDataFrame(
        [
            # shares "the|quick|brown" and "quick|brown|fox" (n=3)
            Row(doc_id=10, text="see the quick brown fox run"),
            # no shared 3-gram
            Row(doc_id=11, text="completely different words here"),
            # shares via duplicate occurrences -> still counted once
            Row(doc_id=12, text="the quick brown then the quick brown"),
        ]
    )
    out = {
        r["doc_id"]: (r["n_shared_ngrams"], r["n_bench_docs"])
        for r in contamination_check(corpus, bench, n=3).collect()
    }
    assert out[10] == (2, 1)  # the|quick|brown, quick|brown|fox
    assert 11 not in out
    assert out[12] == (1, 1)  # the|quick|brown counted once despite 2 hits


def test_quantize_int8_bounds_and_reconstruction(spark):
    import numpy as np

    from compile_time_data_contracts_spark.operators.similarity import (
        quantize_int8,
    )

    vecs = [
        Row(vec_id=0, embedding=[0.5, -1.0, 0.25, 0.0]),
        Row(vec_id=1, embedding=[0.0, 0.0, 0.0, 0.0]),  # zero vector
        Row(vec_id=2, embedding=[127.0, -127.0, 1.0, -1.0]),
    ]
    out = {
        r["vec_id"]: r
        for r in quantize_int8(spark.createDataFrame(vecs)).collect()
    }
    for r in vecs:
        got = out[r["vec_id"]]
        x = np.array(r["embedding"], dtype=np.float64)
        scale = np.abs(x).max() / 127.0
        q = np.array(got["q_embedding"], dtype=np.float64)
        assert len(q) == len(x)
        if scale == 0:
            assert got["q_scale"] == 0.0 and (q == 0).all()
            continue
        assert got["q_scale"] == pytest.approx(scale)
        assert (np.abs(q) <= 127).all()
        # floor quantization: reconstruction within one scale step
        assert (np.abs(x - q * scale) < scale + 1e-12).all()


def test_vocabulary_rank_and_coverage(spark):
    from compile_time_data_contracts_spark.operators.text import vocabulary

    df = spark.createDataFrame(
        [
            Row(text="a a a b b c"),
            Row(text="a b C"),  # lowercased -> c
        ]
    )
    # counts: a=4, b=3, c=2; total=9
    rows = {r["token"]: r for r in vocabulary(df, min_count=2, top_n=10).collect()}
    assert rows["a"]["rank"] == 1 and rows["a"]["n"] == 4
    assert rows["b"]["rank"] == 2 and rows["b"]["n"] == 3
    assert rows["c"]["rank"] == 3 and rows["c"]["n"] == 2
    assert rows["a"]["cum_share"] == pytest.approx(4 / 9)
    assert rows["c"]["cum_share"] == pytest.approx(1.0)
    # min_count cuts the tail but not the ranks of survivors
    rows2 = {r["token"]: r for r in vocabulary(df, min_count=3, top_n=10).collect()}
    assert set(rows2) == {"a", "b"} and rows2["b"]["rank"] == 2


def test_global_shuffle_positions_equals_global_sort(spark):
    from compile_time_data_contracts_spark.operators.sampling import (
        _KNUTH,
        _M32,
        global_shuffle_positions,
    )

    df = spark.createDataFrame([Row(k=i) for i in range(2000)]).repartition(7)
    out = global_shuffle_positions(df, "k", buckets=16).collect()
    # positions are a permutation of 1..n
    assert sorted(r["pos"] for r in out) == list(range(1, 2001))
    # and agree with the single-sort definition
    expect = sorted(range(2000), key=lambda k: ((k * _KNUTH) % _M32, k))
    got = {r["pos"]: r["k"] for r in out}
    for i, k in enumerate(expect, start=1):
        assert got[i] == k


def test_tfidf_keywords_hand_computed(spark):
    import math

    from compile_time_data_contracts_spark.operators.text import (
        tfidf_keywords,
    )

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="apple apple banana"),
            Row(doc_id=2, text="banana cherry"),
        ]
    )
    out = {
        (r["doc_id"], r["token"]): r
        for r in tfidf_keywords(df, k=3).collect()
    }
    # N=2; df: apple=1, banana=2, cherry=1
    idf_apple = math.log(3 / 2)   # ln((2+1)/(1+1))
    idf_banana = math.log(3 / 3)  # = 0
    assert out[(1, "apple")]["score"] == pytest.approx((2 / 3) * idf_apple)
    assert out[(1, "banana")]["score"] == pytest.approx((1 / 3) * idf_banana)
    assert out[(2, "cherry")]["score"] == pytest.approx((1 / 2) * idf_apple)
    # ranks: doc1 apple first (positive beats zero), doc2 cherry first
    assert out[(1, "apple")]["rnk"] == 1
    assert out[(2, "cherry")]["rnk"] == 1
    # k cap respected
    assert all(r["rnk"] <= 3 for r in out.values())


def test_bigram_lm_conditional_probabilities(spark):
    from compile_time_data_contracts_spark.operators.text import bigram_lm

    df = spark.createDataFrame(
        [
            Row(text="a b a b"),   # (a,b) (b,a) (a,b)
            Row(text="a c"),       # (a,c)
            Row(text="solo"),      # no bigram: must not contribute
        ]
    )
    out = {r["w1"]: r for r in bigram_lm(df).collect()}
    assert out["a"]["top_w2"] == "b" and out["a"]["n_pair"] == 2
    assert out["a"]["p"] == pytest.approx(2 / 3)
    assert out["b"]["top_w2"] == "a" and out["b"]["p"] == pytest.approx(1.0)
    assert "solo" not in out
    # deterministic tie-break: equal counts pick the lexicographically
    # smaller successor
    df2 = spark.createDataFrame([Row(text="x b"), Row(text="x a")])
    out2 = {r["w1"]: r for r in bigram_lm(df2).collect()}
    assert out2["x"]["top_w2"] == "a"


def union_find(edges):
    """Plain union-find reference: every node of ``edges`` and its
    component's minimum node."""
    parent: dict = {}

    def root(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: root(x) for x in list(parent)}


def test_connected_components_star_matches_union_find(spark, cc_star_sides):
    import random

    from compile_time_data_contracts_spark.operators.dedup import (
        connected_components_star,
    )

    rng = random.Random(11)
    # random sparse graph: 200 nodes, 150 edges -> many small components
    edges = [
        Row(doc_a=rng.randrange(200), doc_b=rng.randrange(200))
        for _ in range(150)
    ]
    df = spark.createDataFrame(edges)
    want = set(union_find((e.doc_a, e.doc_b) for e in edges).items())
    local, distributed = cc_star_sides(
        lambda: {
            (r["doc_id"], r["cluster_id"])
            for r in connected_components_star(df).collect()
        }
    )
    assert want == local == distributed


def test_connected_components_star_deep_chain(spark, cc_star_sides):
    """A 400-link chain needs ~400 min-label rounds but only O(log n)
    star alternations — the case the star variant exists for."""
    from compile_time_data_contracts_spark.operators.dedup import (
        connected_components_star,
    )

    chain = [Row(doc_a=i, doc_b=i + 1) for i in range(400)]
    # second component: a chain offset by 1000
    chain += [Row(doc_a=1000 + i, doc_b=1001 + i) for i in range(50)]
    df = spark.createDataFrame(chain)
    for out in cc_star_sides(
        lambda: {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components_star(df).collect()
        }
    ):
        assert all(out[i] == 0 for i in range(401))
        assert all(out[1000 + i] == 1000 for i in range(51))


def test_q101_job_count(spark, sf_dir, marker_job):
    """q101 built and executed as the bench runs it costs exactly four
    Spark jobs at fixture scale, where the star finishes on the driver:
    the local finish's guard reads its row count from the pair cache's
    build, one job, instead of counting the filled cache again."""
    from compile_time_data_contracts_spark.queries import queries

    q101 = queries()["q101_components_deep_chain"]
    q101(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
    first = marker_job()
    q101(spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert marker_job() - first - 1 == 4


def test_connected_components_star_self_loops_and_singletons(
    spark, cc_star_sides
):
    from compile_time_data_contracts_spark.operators.dedup import (
        connected_components_star,
    )

    df = spark.createDataFrame(
        [Row(doc_a=5, doc_b=5), Row(doc_a=7, doc_b=9)]
    )
    # self-loop node is its own singleton component; 7-9 share min 7
    assert cc_star_sides(
        lambda: {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components_star(df).collect()
        }
    ) == ({5: 5, 7: 7, 9: 7},) * 2


@pytest.mark.parametrize(
    "rows, want",
    [([], []), ([(5, 5), (6, 6), (5, 5)], [(5, 5), (6, 6)])],
    ids=["empty", "self_loops_only"],
)
def test_connected_components_star_no_edges(spark, cc_star_sides, rows, want):
    from compile_time_data_contracts_spark.operators.dedup import (
        connected_components_star,
    )

    df = spark.createDataFrame(rows, "doc_a long, doc_b long")

    def run():
        labels = connected_components_star(df)
        return labels.schema.simpleString(), sorted(
            tuple(r) for r in labels.collect()
        )

    schema = "struct<doc_id:bigint,cluster_id:bigint>"
    assert cc_star_sides(run) == ((schema, want),) * 2


def test_component_min_labels_matches_union_find():
    """The driver-side finish against a plain union-find reference on
    random multigraphs (repeated edges, negative ids, many components)."""
    import random

    import numpy as np

    from compile_time_data_contracts_spark.operators.dedup import (
        _component_min_labels,
    )

    rng = random.Random(7)
    for _ in range(200):
        n = rng.randrange(1, 60)
        edges = [
            (rng.randrange(n) * 7 - 20, rng.randrange(n) * 7 - 20)
            for _ in range(rng.randrange(0, 80))
        ]
        edges = [(max(a, b), min(a, b)) for a, b in edges if a != b]
        nodes, mins = _component_min_labels(
            np.array([a for a, _ in edges], dtype=np.int64),
            np.array([b for _, b in edges], dtype=np.int64),
        )
        assert dict(zip(nodes.tolist(), mins.tolist())) == union_find(edges)


@pytest.mark.parametrize(
    "schema", ["doc_a long, doc_b long", "doc_a int, doc_b long"]
)
def test_connected_components_star_null_ids(spark, cc_star_sides, schema):
    """A null beside an id leaves that id a singleton, and any null id
    adds one (null, null) row, on both sides of the local finish; ids
    of two types come back as the wider one."""
    from compile_time_data_contracts_spark.operators.dedup import (
        connected_components_star,
    )

    df = spark.createDataFrame(
        [(None, 5), (1, 2), (2, None), (7, 7)], schema
    )

    def run():
        labels = connected_components_star(df)
        return labels.schema.simpleString(), {
            r["doc_id"]: r["cluster_id"] for r in labels.collect()
        }

    assert cc_star_sides(run) == (
        (
            "struct<doc_id:bigint,cluster_id:bigint>",
            {1: 1, 2: 1, 5: 5, 7: 7, None: None},
        ),
    ) * 2


def test_connected_components_star_local_finish_boundary(spark, monkeypatch):
    """The pairs finish on the driver exactly while their 16 bytes a
    pair row fit under the broadcast threshold: one Arrow collect and no
    signature pin at the bound, star rounds and no collect one byte
    below.  Duplicated and reversed pairs count as rows, and a threshold
    past the Java int range still finishes locally."""
    from compile_time_data_contracts_spark.operators import dedup

    pins, collects = [], []
    real_pin = dedup._pin_with_signature
    frame = type(spark.range(1))
    real_collect = frame.toArrow

    def spy_pin(*args, **kwargs):
        pins.append(args)
        return real_pin(*args, **kwargs)

    def spy_collect(self):
        collects.append(self)
        return real_collect(self)

    monkeypatch.setattr(dedup, "_pin_with_signature", spy_pin)
    monkeypatch.setattr(frame, "toArrow", spy_collect)
    chain = [(i, i + 1) for i in range(10)]
    key = "spark.sql.autoBroadcastJoinThreshold"

    def run(rows, threshold: int):
        pins.clear()
        collects.clear()
        spark.conf.set(key, str(threshold))
        df = spark.createDataFrame(rows, "doc_a long, doc_b long")
        labels = dedup.connected_components_star(df)
        out = dict(tuple(r) for r in labels.collect())
        return out, len(collects), len(pins)

    want = {i: 0 for i in range(11)}
    old = spark.conf.get(key)
    try:
        for rows in (chain, chain + [(0, 1), (2, 1), (3, 2)]):
            assert run(rows, 16 * len(rows)) == (want, 1, 0)
            labels, n_collects, n_pins = run(rows, 16 * len(rows) - 1)
            assert labels == want and n_collects == 0 and n_pins > 0
        assert run(chain, 2**40) == (want, 1, 0)
    finally:
        spark.conf.set(key, old)


def test_connected_components_star_leaves_no_cache(spark, cc_star_sides):
    """The internal pair cache is dropped on both sides of the guard."""
    from compile_time_data_contracts_spark.operators.dedup import (
        connected_components_star,
    )

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "doc_a long, doc_b long"
    )
    jsc = spark.sparkContext._jsc

    def run():
        before = jsc.getPersistentRDDs().size()
        labels = connected_components_star(df).collect()
        return len(labels), jsc.getPersistentRDDs().size() - before

    assert cc_star_sides(run) == ((21, 0),) * 2


def test_embedding_dim_stats(spark):
    import numpy as np

    from compile_time_data_contracts_spark.operators.similarity import (
        embedding_dim_stats,
    )

    mat = np.array(
        [[1.0, 10.0, 5.0], [3.0, 10.0, 7.0], [5.0, 10.0, 9.0]]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<double>",
    )
    st = {r["dim"]: r for r in embedding_dim_stats(df).collect()}
    for d in range(3):
        assert st[d]["mean"] == pytest.approx(mat[:, d].mean())
        assert st[d]["std"] == pytest.approx(mat[:, d].std())
        assert st[d]["n"] == 3


def test_asof_join_forward_direction(spark):
    left = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 35), (2, 5)], "k long, ts long"
    )
    right = spark.createDataFrame(
        [(1, 15, "a"), (1, 20, "b"), (1, 30, "c"), (2, 1, "z")],
        "k long, ts long, v string",
    )
    out = {
        (r["k"], r["ts"]): (r["asof_ts"], r["asof_v"])
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            value_cols=["v"], direction="forward",
        ).collect()
    }
    assert out[(1, 10)] == (15, "a")   # next at/after 10
    assert out[(1, 20)] == (20, "b")   # equal ts matches
    assert out[(1, 35)] == (None, None)  # nothing after
    assert out[(2, 5)] == (None, None)   # right rows only before


def test_upsample_by_factor_copies_and_determinism(spark):
    from compile_time_data_contracts_spark.operators.sampling import (
        upsample_by_factor,
    )

    rows = [
        Row(k=i, domain="hot" if i % 2 == 0 else ("cold" if i % 4 == 1 else "base"))
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows)
    up = upsample_by_factor(df, "domain", "k", {"hot": 3.0, "cold": 0.5})
    got = {
        r["domain"]: r
        for r in up.groupBy("domain").agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("k").alias("n_keys"),
            F.max("copy_id").alias("max_copy"),
        ).collect()
    }
    # hot x3.0: exactly 3 copies of every row
    assert got["hot"]["n_rows"] == 3 * got["hot"]["n_keys"] == 3000
    assert got["hot"]["max_copy"] == 3
    # cold x0.5: deterministic subsample, one copy each, roughly half kept
    assert got["cold"]["max_copy"] == 1
    assert got["cold"]["n_rows"] == got["cold"]["n_keys"]
    assert 150 < got["cold"]["n_keys"] < 350  # of 500
    # base (unlisted): untouched
    assert got["base"]["n_rows"] == got["base"]["n_keys"] == 500
    # deterministic under repartitioning
    up2 = upsample_by_factor(
        df.repartition(17), "domain", "k", {"hot": 3.0, "cold": 0.5}
    )
    assert sorted(map(tuple, up.collect())) == sorted(map(tuple, up2.collect()))


def test_profile_and_histogram_null_handling(spark):
    from compile_time_data_contracts_spark.operators.stats import (
        column_profile,
        equi_width_histogram,
    )

    df = spark.createDataFrame(
        [(1.0, "a"), (None, "b"), (3.0, None), (10.0, "a")],
        "x double, s string",
    )
    prof = {r["column"]: r for r in column_profile(df, ["x", "s"]).collect()}
    assert prof["x"]["n_null"] == 1 and prof["x"]["n_distinct"] == 3
    assert prof["x"]["min_str"] == "1.0" and prof["x"]["max_str"] == "10.0"
    assert prof["s"]["n_null"] == 1 and prof["s"]["n_distinct"] == 2
    h = {r["bucket"]: r for r in equi_width_histogram(df, "x", 3).collect()}
    # range [1,10] width 3: 1.0,3.0 -> bucket 0; 10.0 (== max) -> bucket 2
    assert h[0]["n"] == 2 and h[2]["n"] == 1 and 1 not in h
    assert sum(r["n"] for r in h.values()) == 3  # null dropped


@pytest.mark.parametrize("buckets", [1, 7, 1024])
def test_global_shuffle_positions_bucket_invariance(spark, buckets):
    """Positions are a pure function of the data — the bucket count is
    an execution knob and must never change the output."""
    from compile_time_data_contracts_spark.operators.sampling import (
        global_shuffle_positions,
    )

    df = spark.createDataFrame([Row(k=i * 3 + 1) for i in range(500)])
    out = sorted(
        (r["pos"], r["k"])
        for r in global_shuffle_positions(df, "k", buckets=buckets).collect()
    )
    ref = sorted(
        (r["pos"], r["k"])
        for r in global_shuffle_positions(df, "k", buckets=64).collect()
    )
    assert out == ref


def test_histogram_constant_column_single_bucket(spark):
    """min == max must not divide by zero: every value lands in bucket 0
    with lo == hi == the constant (ADVICE r2)."""
    from compile_time_data_contracts_spark.operators.stats import (
        equi_width_histogram,
    )

    df = spark.createDataFrame([(5.0,)] * 7, "x double")
    rows = equi_width_histogram(df, "x", 4).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["bucket"], r["lo"], r["hi"], r["n"]) == (0, 5.0, 5.0, 7)


def test_cosine_pairs_empty_and_null_guard(spark):
    """Dispatcher on an empty table returns an empty pair frame; a null
    leading embedding raises a clear error instead of TypeError
    (ADVICE r2)."""
    from compile_time_data_contracts_spark.operators.similarity import (
        cosine_pairs,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = cosine_pairs(empty, 0.5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["vec_a", "vec_b", "sim"]

    nullfirst = spark.createDataFrame(
        [(0, None)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="null"):
        cosine_pairs(nullfirst, 0.5)


def test_topk_cosine_string_ids(spark):
    """The Arrow top-k paths must carry a non-long id column through
    unchanged instead of hardcoding long (ADVICE r2)."""
    from compile_time_data_contracts_spark.operators.similarity import (
        topk_cosine,
        topk_cosine_multi,
    )

    rows = [
        ("a", [1.0, 0.0]),
        ("b", [0.9, 0.1]),
        ("c", [0.0, 1.0]),
        ("d", [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "doc string, embedding array<double>")
    q = df.filter(F.col("doc") == "a")
    top = topk_cosine(df, q, k=2, id_col="doc")
    assert [r.doc for r in top.collect()] == ["a", "b"]
    assert dict(top.dtypes)["doc"] == "string"

    multi = topk_cosine_multi(
        df, df.filter(F.col("doc").isin("a", "c")), k=2, id_col="doc"
    )
    got = {
        (r.query_id, r.rank): r.doc
        for r in multi.collect()
    }
    assert got[("a", 1)] == "a" and got[("a", 2)] == "b"
    assert got[("c", 1)] == "c"


def test_ivf_topk_rebuilds_on_stale_index(spark, tmp_path):
    """Regenerating the source table at the same path must trigger an
    index rebuild — reuse is keyed on a content fingerprint, not bare
    path existence (ADVICE r2, medium)."""
    import numpy as np

    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_topk,
        topk_cosine,
    )

    idx = str(tmp_path / "ivf-stale")
    rng = np.random.default_rng(3)
    df1 = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    q1 = df1.filter(F.col("vec_id") == 0)
    ivf_topk(df1, q1, k=3, n_clusters=4, nprobe=4, index_path=idx).collect()

    # "regenerate" the table: different rows, same logical location
    df2 = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(150)],
        "vec_id long, embedding array<float>",
    )
    q2 = df2.filter(F.col("vec_id") == 149)
    got = ivf_topk(
        df2, q2, k=3, n_clusters=4, nprobe=4, index_path=idx
    ).collect()
    exact = topk_cosine(df2, q2, k=3).collect()
    # with nprobe == n_clusters the (rebuilt) index is exact; a stale
    # index could not even contain vec_id 149
    assert [r.vec_id for r in got] == [r.vec_id for r in exact]
    assert got[0].vec_id == 149


def test_checkpoint_dir_fallback_warns_on_nonlocal_master():
    """Driver-local checkpoint fallback must warn when the master is not
    local[*] — the temp dir is not shared storage there (ADVICE r2)."""
    import warnings

    from compile_time_data_contracts_spark.operators.dedup import (
        _ensure_checkpoint_dir,
    )

    class FakeSC:
        def __init__(self, master):
            self.master = master
            self.dir = None

        def getCheckpointDir(self):
            return self.dir

        def setCheckpointDir(self, d):
            self.dir = d

    sc = FakeSC("spark://cluster:7077")
    with pytest.warns(RuntimeWarning, match="driver-local"):
        _ensure_checkpoint_dir(sc)
    assert sc.dir is not None

    sc2 = FakeSC("local[4]")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        _ensure_checkpoint_dir(sc2)
    assert sc2.dir is not None


def test_salted_join_hot_key_equality_and_task_spread(spark):
    """Deliberate skew (one key carrying ~50% of rows): the salted join
    must (a) produce byte-identical results to the plain join and
    (b) actually spread the hot key — its rows land on all `salt`
    shuffle buckets, so the max per-task input drops ~salt-fold vs the
    plain hash distribution where the hot key is one task's problem
    (VERDICT r2 #6; q79's operator)."""
    from compile_time_data_contracts_spark.operators.skew import salted_join

    n, salt, parts = 20_000, 8, 32
    left = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(1))
        .otherwise(F.col("id"))
        .alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(1, 101)], "k long, name string"
    )

    plain = left.join(right, "k").select("k", "v", "name")
    salted = salted_join(left, right, ["k"], salt=salt).select(
        "k", "v", "name"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )

    # skew metric: max rows any shuffle bucket receives when the left
    # side is hash-distributed by the join key (the join's task input)
    def max_bucket(df, cols):
        return (
            df.repartition(parts, *cols)
            .withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .agg(F.max("count"))
            .first()[0]
        )

    plain_max = max_bucket(left, ["k"])
    salted_left = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt)).cast(
            "int"
        ),
    )
    salted_max = max_bucket(salted_left, ["k", "__salt"])
    assert plain_max >= n // 2  # the hot key IS one bucket's input
    # hot-key input drops several-fold (two salted groups may still
    # hash-collide into one bucket, so the bound is salt/2-ish, not salt)
    assert salted_max <= plain_max / 3
    # and the hot key really uses every salt value
    n_salts = (
        salted_left.filter(F.col("k") == 1)
        .select("__salt")
        .distinct()
        .count()
    )
    assert n_salts == salt


def test_lsh_expected_recall_and_auto_probes(spark):
    """probes='auto' keeps multiprobe when the threshold sits near the
    noise floor (q56's 0.45) and drops it when exact-signature matches
    already clear the target (0.9) — verified against the analytic
    floor AND empirically on planted pairs."""
    from compile_time_data_contracts_spark.operators.similarity import (
        cosine_pairs_lsh,
        lsh_expected_recall,
    )

    # analytic floor: monotone in probes and tables, and the two gate
    # regimes land on opposite sides of the 0.95 target at bits=8, L=16
    assert lsh_expected_recall(0.45, 8, 16, 0) < 0.95
    assert lsh_expected_recall(0.45, 8, 16, 1) >= 0.9
    assert lsh_expected_recall(0.9, 8, 16, 0) > 0.99
    # high bits push the exact-signature floor back under the target,
    # so auto keeps multiprobe there — the floor guards pairs AT the
    # threshold, not the (easier) pairs a given corpus happens to hold
    assert lsh_expected_recall(0.9, 14, 16, 0) < 0.95
    assert lsh_expected_recall(0.9, 14, 16, 1) >= 0.95

    import random

    rng = random.Random(11)
    rows = []
    vid = 0
    for _ in range(40):
        base = [rng.gauss(0, 1) for _ in range(16)]
        for _ in range(2):
            rows.append(
                (vid, [x + rng.gauss(0, 0.02) for x in base])
            )
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.vec_a, r.vec_b)
        for r in cosine_pairs_lsh(
            df, 0.9, bits=6, tables=8, probes="auto", seed=3
        ).collect()
    }
    planted = {(2 * i, 2 * i + 1) for i in range(40)}
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9


def test_python_datasource_partition_planning(spark):
    """The custom Python data source must plan real partitions (each
    task generates its own id slice) and produce the deterministic
    (id, hash32) rows."""
    from compile_time_data_contracts_spark.sources.pysource import (
        _SynthReader,
        register_synth_source,
    )

    r = _SynthReader({"n": "103", "partitions": "4"})
    parts = r.partitions()
    assert [(p.start, p.end) for p in parts] == [
        (0, 26), (26, 52), (52, 78), (78, 103)
    ]
    assert sum(p.end - p.start for p in parts) == 103

    register_synth_source(spark)
    df = (
        spark.read.format("ctdc_synth")
        .option("n", "103")
        .option("partitions", "4")
        .load()
    )
    rows = {r.id: r.hash32 for r in df.collect()}
    assert len(rows) == 103
    assert rows[7] == (7 * 2654435761) % 4294967296
    assert df.rdd.getNumPartitions() == 4


def test_plan_lsh_prefers_tables_over_multiprobe():
    """Recall-budgeted planning: raising tables reaches the same floor
    as single-bit multiprobe at a fraction of the probe-row/candidate
    cost, so auto prefers it; multiprobe survives only for thresholds
    so deep that the table count would exceed the multiprobe-equivalent
    cap."""
    from compile_time_data_contracts_spark.operators.similarity import (
        lsh_expected_recall,
        plan_lsh,
    )

    # already above target: untouched
    assert plan_lsh(0.9, 6, 8) == (8, 0)
    # below target: tables raised to the analytic minimum, no multiprobe
    tabs, probes = plan_lsh(0.9, 14, 16)
    assert probes == 0 and tabs > 16
    assert lsh_expected_recall(0.9, 14, tabs, 0) >= 0.95
    assert lsh_expected_recall(0.9, 14, tabs - 1, 0) < 0.95  # minimal
    # q56's gate regime
    tabs, probes = plan_lsh(0.45, 8, 16)
    assert probes == 0 and lsh_expected_recall(0.45, 8, tabs, 0) >= 0.95
    # hopeless threshold: planner falls back to multiprobe rather than
    # exploding the table count
    assert plan_lsh(0.05, 12, 16) == (16, 1)


def test_python_stream_source_offsets_and_replay(spark):
    """The streaming reader must advance offsets deterministically and
    readBetweenOffsets must regenerate any batch exactly (the
    exactly-once replay contract)."""
    from compile_time_data_contracts_spark.sources.pysource import (
        _SynthStreamReader,
    )

    r = _SynthStreamReader({"n": "10", "batch": "4"})
    assert r.initialOffset() == {"offset": 0}
    rows1, o1 = r.read({"offset": 0})
    assert o1 == {"offset": 4} and len(list(rows1)) == 4
    rows2, o2 = r.read(o1)
    assert o2 == {"offset": 8}
    _, o3 = r.read(o2)
    assert o3 == {"offset": 10}  # capped at n
    rows_end, o4 = r.read(o3)
    assert o4 == {"offset": 10} and list(rows_end) == []
    replay = list(r.readBetweenOffsets({"offset": 4}, {"offset": 8}))
    assert replay == [(i, (i * 2654435761) % 4294967296) for i in range(4, 8)]


def test_winnow_fingerprint_cross_form_and_short_doc(spark):
    """q60's rows-only gate needs a pinned companion: the expression
    form must equal an independently-built explode+min computation of
    the same k-window xxhash64 stream, be deterministic, and degrade to
    the whole-text window for sub-k documents."""
    from compile_time_data_contracts_spark.operators.text import (
        winnow_fingerprint,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "short doc"),  # fewer tokens than k=5
            (3, "a b c d e f g h i j"),  # identical to 1
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r.fp
        for r in df.select(
            "doc_id", winnow_fingerprint("text", k=5).alias("fp")
        ).collect()
    }
    # independent construction: explode window starts, hash each
    # 5-token slice, take the min
    toks = F.split(F.col("text"), r"\s+")
    alt = (
        df.select(
            "doc_id",
            toks.alias("t"),
            F.explode(
                F.sequence(
                    F.lit(0), F.greatest(F.size(toks) - 5, F.lit(0))
                )
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.xxhash64(
                F.concat_ws(" ", F.slice(F.col("t"), F.col("i") + 1, 5))
            ).alias("h"),
        )
        .groupBy("doc_id")
        .agg(F.min("h").alias("fp"))
    )
    want = {r.doc_id: r.fp for r in alt.collect()}
    assert got == want
    assert got[1] == got[3]  # deterministic: same text, same fingerprint
    # sub-k doc: single window over the whole text
    whole = df.filter(F.col("doc_id") == 2).select(
        F.xxhash64(F.concat_ws(" ", F.slice(F.split(F.col("text"), r"\s+"), 1, 5))).alias("h")
    ).first().h
    assert got[2] == whole


def test_lsh_recall_floor_monotonicity():
    """Property: the analytic recall floor is monotone — nondecreasing
    in tables and probes, nonincreasing in bits, nondecreasing in
    threshold — across a grid of regimes.  The planner's correctness
    rests on these directions."""
    from compile_time_data_contracts_spark.operators.similarity import (
        lsh_expected_recall,
    )

    thresholds = [0.2, 0.45, 0.7, 0.9]
    for t in thresholds:
        for b in (4, 8, 12, 16):
            for L in (1, 4, 16, 64):
                r = lsh_expected_recall(t, b, L, 0)
                assert 0.0 <= r <= 1.0
                assert lsh_expected_recall(t, b, L + 1, 0) >= r
                assert lsh_expected_recall(t, b, L, 1) >= r
                assert lsh_expected_recall(t, b + 1, L, 0) <= r + 1e-12
    # threshold direction: easier pairs (higher cosine) never lose recall
    for b in (8, 14):
        for L in (8, 16):
            prev = 0.0
            for t in thresholds:
                r = lsh_expected_recall(t, b, L, 0)
                assert r >= prev - 1e-12
                prev = r


# ---------------------------------------------------------------------------
# incremental cross-batch near-dup index
# ---------------------------------------------------------------------------


def _index_file_state(path):
    import glob
    import os

    return {
        p: (os.path.getmtime(p), os.path.getsize(p))
        for p in glob.glob(f"{path}/**/*.parquet", recursive=True)
    }


def test_near_dup_against_matches_from_scratch(docs, tmp_path, spark):
    """Batch-vs-index pairs must equal the cross-set slice of a full
    from-scratch jaccard_pairs run (precision 1, recall 1 on this tiny
    planted corpus)."""
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "ndidx")
    minhash_index_build(corpus, idx)
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in near_dup_against(spark, idx, batch, 0.5).collect()
    }
    full = jaccard_pairs(docs, threshold=0.5).collect()
    want = {}
    for r in full:
        if r.doc_a % 2 == 0 and r.doc_b % 2 == 1:
            want[(r.doc_a, r.doc_b)] = r.jaccard
        elif r.doc_a % 2 == 1 and r.doc_b % 2 == 0:
            want[(r.doc_b, r.doc_a)] = r.jaccard
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k])


def test_near_dup_index_reuse_and_stale_rebuild(docs, tmp_path, spark):
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    idx = str(tmp_path / "ndidx")
    minhash_index_reuse_or_build(corpus, idx)
    state = _index_file_state(idx)
    # unchanged corpus: second call must not rewrite any index file
    minhash_index_reuse_or_build(corpus, idx)
    assert _index_file_state(idx) == state
    # regenerated (different) corpus at the same path: fingerprint
    # mismatch must trigger a rebuild
    minhash_index_reuse_or_build(docs, idx)
    assert _index_file_state(idx) != state
    # parameter mismatch rebuilds even at equal fingerprint
    st2 = _index_file_state(idx)
    minhash_index_reuse_or_build(docs, idx, bands=8)
    assert _index_file_state(idx) != st2


def _set_meta_state(spark, path, state, keep=()):
    """Turn the meta table at ``path`` into an ``empty`` table (its
    schema, no row), a ``legacy`` one (only the ``keep`` columns), an
    ``unreadable`` one (a directory with no Parquet file in it), or a
    ``not_parquet`` one (a part file that is not Parquet, as a torn
    write leaves)."""
    import os
    import shutil

    meta = spark.read.parquet(path)
    if state == "empty":
        new = spark.createDataFrame([], meta.schema)
    elif state == "legacy":
        old = meta.select(*keep)
        new = spark.createDataFrame([old.first()], old.schema)
    shutil.rmtree(path)
    if state == "unreadable":
        os.makedirs(path)
        open(os.path.join(path, "_SUCCESS"), "w").close()
    elif state == "not_parquet":
        os.makedirs(path)
        with open(os.path.join(path, "part-0.parquet"), "w") as fh:
            fh.write("truncated")
    else:
        new.write.parquet(path)


# per kind: the meta table the states are applied to, the columns a
# legacy meta keeps, and the parameter change that must rebuild
_INDEX_KINDS = {
    "ivf": ("meta", ("n", "max_id"), {"n_clusters": 3}),
    "ivfpq": ("pq/meta", ("n_clusters", "m", "ksub"), {"ksub": 2}),
    "minhash": ("meta", ("n_docs", "max_id", "shingle_n"), {"bands": 8}),
}


@pytest.mark.parametrize("kind", ["ivf", "ivfpq", "minhash"])
def test_cold_index_probe_after_observe_reads_no_missing_meta(
    docs, tmp_path, spark, monkeypatch, kind
):
    """Once a session has run an ``observe()``, Spark's observation
    listener logs every failed read's stack trace at ERROR, so a cold
    index probe must build without first reading the meta it lacks.

    Then every meta state on the reuse path: a matching meta is reused
    with no index file rewritten; an empty, legacy (a field missing),
    unreadable, not-Parquet or parameter-changed meta rebuilds."""
    import os

    from pyspark.errors import AnalysisException
    from pyspark.sql import DataFrameReader, Observation

    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_build_or_reuse,
        ivf_pq_build_or_reuse,
    )

    spark.range(3).observe(Observation(), F.count(F.lit(1)).alias("n")).collect()
    failed = []
    read = DataFrameReader.parquet

    def parquet(self, *paths, **options):
        try:
            return read(self, *paths, **options)
        except AnalysisException:
            failed.append(paths)
            raise

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    idx = str(tmp_path / kind)
    vecs = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0, float(i % 7)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )

    def probe(**changed):
        if kind == "ivf":
            ivf_build_or_reuse(vecs, idx, **{"n_clusters": 2, **changed})
        elif kind == "ivfpq":
            ivf_pq_build_or_reuse(
                vecs, idx, **{"n_clusters": 2, "m": 2, "ksub": 4, **changed}
            )
        else:
            minhash_index_reuse_or_build(docs, idx, **changed)

    probe()
    assert failed == []
    assert os.path.isdir(os.path.join(idx, "meta"))

    table, keep, change = _INDEX_KINDS[kind]
    states = ("matching", "empty", "legacy", "unreadable", "not_parquet")
    for state in (*states, "changed"):
        if state in states[1:]:
            _set_meta_state(spark, f"{idx}/{table}", state, keep)
        before = _index_file_state(idx)
        probe(**(change if state == "changed" else {}))
        rebuilt = _index_file_state(idx) != before
        assert rebuilt == (state != "matching"), state


def test_layout_operations_refuse_an_unrecorded_layout(spark, tmp_path):
    """Appending, erasing or maintaining an index whose meta records no
    partition layout (legacy) would write at a guessed directory depth,
    so each raises the one layout error; so does ``pq_append`` when the
    vector and code layers record different layouts."""
    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_append,
        ivf_build,
        ivf_delete,
        ivf_maintain,
        ivf_pq_build_or_reuse,
        pq_append,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0, float(i % 7)], f"l{i % 2}")
         for i in range(40)],
        "vec_id long, embedding array<float>, label string",
    )
    batch = vecs.filter(F.col("vec_id") < 4).withColumn(
        "vec_id", F.col("vec_id") + 100
    )
    idx = str(tmp_path / "ivf")
    ivf_build(vecs, idx, n_clusters=2)
    _set_meta_state(spark, f"{idx}/meta", "legacy", ("n", "max_id"))
    layout = "no recorded partition layout"
    with pytest.raises(ValueError, match=layout):
        ivf_append(spark, idx, batch)
    with pytest.raises(ValueError, match=layout):
        ivf_delete(spark, idx, batch.select("vec_id"))
    with pytest.raises(ValueError, match=layout):
        ivf_maintain(spark, idx, batch)

    pq = str(tmp_path / "ivfpq")
    ivf_pq_build_or_reuse(
        vecs, pq, n_clusters=2, m=2, ksub=4, meta_cols=("label",)
    )
    meta = spark.read.parquet(f"{pq}/meta")
    spark.createDataFrame(
        [meta.first().asDict() | {"meta_cols": ""}], meta.schema
    ).write.mode("overwrite").parquet(f"{pq}/meta")
    with pytest.raises(ValueError, match="disagree on the partition layout"):
        pq_append(spark, pq, batch)
    _set_meta_state(spark, f"{pq}/meta", "legacy", ("n", "max_id"))
    with pytest.raises(ValueError, match=layout):
        pq_append(spark, pq, batch)


def test_index_training_is_reproducible(spark, tmp_path):
    """Two builds of the same multi-file, multi-partition frame in one
    session train on the same sample and write identical centroids and
    codebooks."""
    import numpy as np

    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_pq_build_or_reuse,
    )

    rng = np.random.default_rng(5)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(3000)],
        "vec_id long, embedding array<float>",
    ).repartition(8).write.parquet(src)
    df = spark.read.parquet(src)

    def trained(path):
        ivf_pq_build_or_reuse(
            df, path, n_clusters=6, m=2, ksub=8, sample_size=400
        )
        return (
            spark.read.parquet(f"{path}/centroids").orderBy("cluster").collect(),
            spark.read.parquet(f"{path}/pq/books").orderBy("s", "c").collect(),
        )

    assert trained(str(tmp_path / "a")) == trained(str(tmp_path / "b"))


def test_near_dup_against_rejects_wrong_id_col(docs, tmp_path, spark):
    idx = str(tmp_path / "ndidx")
    minhash_index_build(docs, idx)
    with pytest.raises(ValueError, match="id column"):
        near_dup_against(spark, idx, docs, id_col="other_id")


def test_near_dup_against_excludes_self_pairs(docs, tmp_path, spark):
    """Re-ingesting docs already in the corpus must not report a doc as
    a near-dup of itself."""
    idx = str(tmp_path / "ndidx")
    minhash_index_build(docs, idx)
    pairs = near_dup_against(spark, idx, docs, 0.5).collect()
    assert all(r.doc_a != r.doc_b for r in pairs)
    # but true cross duplicates still surface (both orientations, since
    # both docs sit in corpus AND batch)
    assert {(r.doc_a, r.doc_b) for r in pairs} >= {(1, 2), (2, 1)}


# ---------------------------------------------------------------------------
# gopher_quality (q137) + semantic_dedup (q138)
# ---------------------------------------------------------------------------


def test_gopher_quality_rules(spark):
    from compile_time_data_contracts_spark.operators.text import gopher_quality

    docs = spark.createDataFrame(
        [
            # 24 words, mean len ~3.2, stopwords the/of/and/a present
            (1, "the cat sat on a mat and the dog ran off with a hat "
                "of wool and the cat came back home again"),
            (2, "too short a doc"),                     # fails word count
            (3, " ".join(["#"] * 30)),                  # symbols, no alpha
            (4, " ".join(["the", "of", "and"] * 10)
                + " " + " ".join(["supercalifragilistic"] * 5)),
        ],
        "doc_id int, text string",
    )
    rows = {
        r.doc_id: r
        for r in docs.select("doc_id", *gopher_quality("text")).collect()
    }
    assert rows[1].gopher_keep
    assert rows[1].stop_hits >= 4
    assert not rows[2].gopher_keep and rows[2].n_words == 4
    assert not rows[3].gopher_keep
    assert rows[3].alpha_frac == 0.0 and rows[3].symbol_ratio == 1.0
    # doc 4: 35 words, mean length (30*3-ish + 5*20)/35 > 5 but < 10 — the
    # binding failure is nothing: words 35 in band, stop hits 3 >= 2,
    # mean len = (3+2+3)*10/35... compute: fails only if out of band
    assert rows[4].n_words == 35


def test_semantic_dedup_drops_lower_id_twins(spark):
    import math

    from compile_time_data_contracts_spark.operators.dedup import semantic_dedup

    rows = [
        # cluster 0: 11 ~ 10 (dup), 12 orthogonal
        (10, [1.0, 0.0, 0.0], 0),
        (11, [0.999, 0.01, 0.0], 0),
        (12, [0.0, 1.0, 0.0], 0),
        # cluster 1: same direction as 10 but different cluster — kept
        (20, [1.0, 0.0, 0.0], 1),
        (21, [0.0, 0.0, 1.0], 1),
        # null + zero vectors always survive
        (30, None, 0),
        (31, [0.0, 0.0, 0.0], 0),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    kept = {
        r.vec_id
        for r in semantic_dedup(df, threshold=0.95).collect()
    }
    assert kept == {10, 12, 20, 21, 30, 31}


def test_semantic_dedup_chain_semantics(spark):
    """v is dropped when ANY lower-id same-cluster item is within tau —
    including an item that is itself dropped (chain, not star)."""
    from compile_time_data_contracts_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.999, 0.04], 0),   # dup of 1 -> dropped
            (3, [0.995, 0.09], 0),   # dup of 2 (dropped) and of 1 -> dropped
        ],
        "vec_id long, embedding array<double>, label int",
    )
    kept = {r.vec_id for r in semantic_dedup(df, threshold=0.99).collect()}
    assert kept == {1}


def test_bm25_scores_match_hand_computation(spark):
    """3-doc corpus, single-term query — BM25 verified against the
    closed-form number."""
    import math

    from compile_time_data_contracts_spark.operators.text import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "cat dog cat"),        # tf(cat)=2, dl=3
            (2, "dog bird"),           # no cat
            (3, "cat fish fish fish"),  # tf(cat)=1, dl=4
        ],
        "doc_id int, text string",
    )
    got = {
        r.doc_id: r.bm25
        for r in bm25_scores(docs, ["cat"]).collect()
    }
    n, avgdl, k1, b = 3.0, 3.0, 1.2, 0.75
    idf = math.log((n - 2 + 0.5) / (2 + 0.5) + 1.0)

    def score(tf, dl):
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert set(got) == {1, 3}
    assert abs(got[1] - score(2, 3)) < 1e-12
    assert abs(got[3] - score(1, 4)) < 1e-12


def test_ivf_append_grows_index_without_rewriting(spark, tmp_path):
    """Appending a batch must (a) leave untouched cluster partitions
    byte-identical, (b) make the new vectors searchable, (c) advance the
    meta fingerprint to the combined corpus."""
    import os

    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_append,
        ivf_build,
        ivf_search,
        topk_cosine,
    )

    def vec(direction, eps, i):
        base = [0.0, 0.0, 0.0]
        base[direction] = 1.0
        base[(direction + 1) % 3] = eps * (1 + i % 3)
        return base

    corpus = spark.createDataFrame(
        [(i, vec(0, 0.01, i)) for i in range(20)]
        + [(100 + i, vec(1, 0.01, i)) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    idx = str(tmp_path / "ivf")
    ivf_build(corpus, idx, n_clusters=2, sample_size=100, seed=7)

    def file_state(root):
        out = {}
        for dirpath, _, files in os.walk(root):
            for f in files:
                fp = os.path.join(dirpath, f)
                st = os.stat(fp)
                out[fp] = (st.st_size, st.st_mtime_ns)
        return out

    # batch points along e0 only -> only e0's cluster partition is
    # touched; smaller perturbation than any corpus vector, so the batch
    # becomes the exact top-5 for an e0 query
    batch = spark.createDataFrame(
        [(200 + i, vec(0, 0.001, i)) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    vecdir = f"{idx}/vectors"
    cluster_dirs = [
        d for d in os.listdir(vecdir) if d.startswith("cluster=")
    ]
    assert len(cluster_dirs) == 2
    before = {d: file_state(os.path.join(vecdir, d)) for d in cluster_dirs}
    ivf_append(spark, idx, batch)
    after = {d: file_state(os.path.join(vecdir, d)) for d in cluster_dirs}
    touched = [d for d in cluster_dirs if before[d] != after[d]]
    untouched = [d for d in cluster_dirs if before[d] == after[d]]
    assert len(touched) == 1, f"expected 1 touched cluster, got {touched}"
    # every pre-existing file in the touched cluster also survives intact
    assert set(before[touched[0]]).issubset(set(after[touched[0]]))
    for f, st in before[touched[0]].items():
        assert after[touched[0]][f] == st
    assert len(untouched) == 1

    # appended vectors are searchable; with nprobe = all cells the IVF
    # result must EQUAL exact brute force over the combined corpus
    query = spark.createDataFrame(
        [(999, [1.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    got = {
        r.vec_id
        for r in ivf_search(spark, idx, query, k=5, nprobe=2).collect()
    }
    combined = corpus.unionByName(batch)
    exact = {r.vec_id for r in topk_cosine(combined, query, k=5).collect()}
    assert got == exact
    assert got == {200, 201, 202, 203, 204}

    meta = spark.read.parquet(f"{idx}/meta").first()
    assert meta["n"] == 45


def test_semantic_dedup_chunked_scan_matches_naive(spark, monkeypatch):
    """Shrink the chunk to 3 so a 20-row cluster spans many blocks; the
    survivors must match a naive full-matrix reference computed here."""
    import numpy as np

    from compile_time_data_contracts_spark.operators import dedup as D

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(20, 8))
    # plant a few near-twins
    vecs[5] = vecs[2] + 0.01 * rng.normal(size=8)
    vecs[11] = vecs[2] + 0.01 * rng.normal(size=8)
    vecs[17] = vecs[9] + 0.01 * rng.normal(size=8)
    tau = 0.95
    nrm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = nrm @ nrm.T
    expect = {
        i for i in range(20)
        if not (sims[i, :i] >= tau).any()
    }

    monkeypatch.setattr(D, "_SEMDEDUP_CHUNK", 3)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]], 0) for i in range(20)],
        "vec_id long, embedding array<double>, label int",
    )
    got = {r.vec_id for r in D.semantic_dedup(df, threshold=tau).collect()}
    assert got == expect


def test_weighted_sample_prefers_heavy_rows(spark):
    from compile_time_data_contracts_spark.operators.sampling import (
        weighted_sample,
    )

    # 2000 rows, half weight 1, half weight 9 -> mean 5; rates 0.06 / 0.54
    df = spark.createDataFrame(
        [(i, 1 if i % 2 == 0 else 9) for i in range(2000)],
        "k long, w int",
    )
    kept = weighted_sample(df, "w", "k", 0.3)
    light = kept.filter(F.col("w") == 1).count()
    heavy = kept.filter(F.col("w") == 9).count()
    # expectations: 1000*0.06 = 60 light, 1000*0.54 = 540 heavy
    assert 30 <= light <= 100
    assert 450 <= heavy <= 630
    # deterministic: second run identical
    again = weighted_sample(df, "w", "k", 0.3)
    assert sorted(r.k for r in kept.collect()) == sorted(
        r.k for r in again.collect()
    )


def test_weighted_sample_caps_rate_at_one(spark):
    from compile_time_data_contracts_spark.operators.sampling import (
        weighted_sample,
    )

    # one giant weight: rate capped at 1, never > 100% kept
    df = spark.createDataFrame(
        [(1, 1_000_000)] + [(i, 1) for i in range(2, 100)], "k long, w int"
    )
    kept = weighted_sample(df, "w", "k", 0.5)
    assert kept.filter(F.col("k") == 1).count() == 1


# ---------------------------------------------------------------------------
# property tests: gopher_quality vs a pure-Python reference
# ---------------------------------------------------------------------------


def _gopher_ref(text: str) -> dict:
    import re as _re

    words = text.split(" ") if text else [""]
    n = len(words)
    mean_len = sum(len(w) for w in words) / n if n else 0.0
    symbols = len(_re.findall(r"#|\.\.\.", text))
    symbol_ratio = symbols / n if n else 0.0
    alpha = sum(1 for w in words if _re.search("[A-Za-z]", w))
    alpha_frac = alpha / n if n else 0.0
    gsw = ["the", "be", "to", "of", "and", "that", "have", "with", "a", "in"]
    stop_hits = len({w.lower() for w in words} & set(gsw))
    keep = (
        20 <= n <= 1000
        and 3.0 <= mean_len <= 10.0
        and symbol_ratio <= 0.1
        and alpha_frac >= 0.8
        and stop_hits >= 2
    )
    return {
        "n_words": n,
        "mean_word_len": round(mean_len, 6),
        "symbol_ratio": round(symbol_ratio, 6),
        "alpha_frac": round(alpha_frac, 6),
        "stop_hits": stop_hits,
        "gopher_keep": keep,
    }


def test_gopher_quality_matches_reference_on_random_docs(spark):
    import random

    from compile_time_data_contracts_spark.operators.text import gopher_quality

    rng = random.Random(7)
    vocab = ["the", "cat", "a", "of", "x1", "#", "...", "zz", "table", "be",
             "supercal", "and", "99", "...", "wo#rd"]
    docs = []
    for i in range(60):
        n = rng.randint(1, 60)
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        r.doc_id: r.asDict()
        for r in df.select("doc_id", *gopher_quality("text")).collect()
    }
    for i, text in docs:
        ref = _gopher_ref(text)
        row = got[i]
        for k, v in ref.items():
            assert row[k] == v, (i, k, row[k], v, text)


def test_expectations_fail_on_planted_violations(spark):
    from compile_time_data_contracts_spark.operators.expectations import (
        accepted_values,
        evaluate_expectations,
        in_range,
        not_null,
        ref_integrity_report,
        unique,
    )

    df = spark.createDataFrame(
        [(1, 10.0, "A"), (1, None, "B"), (3, -5.0, "X")],
        "k long, v double, s string",
    )
    report = {
        r.rule: r
        for r in evaluate_expectations(
            df,
            [
                unique("k"),                       # dup k=1 -> fail
                not_null("v"),                     # one null -> fail
                in_range("v", 0.0, 100.0),         # -5 -> fail
                accepted_values("s", ["A", "B"]),  # X -> fail
            ],
        ).collect()
    }
    assert not report["unique"].passed and report["unique"].metric == 1.0
    assert not report["not_null"].passed
    assert abs(report["not_null"].metric - 1 / 3) < 1e-6
    assert not report["in_range"].passed and report["in_range"].metric == 1.0
    assert not report["accepted_values"].passed

    parent = spark.createDataFrame([(1,), (3,)], "pk long")
    ref = ref_integrity_report(df, "k", parent, "pk").first()
    assert ref.passed and ref.metric == 0.0
    ref2 = ref_integrity_report(
        df, "k", parent.filter(F.col("pk") != 3), "pk"
    ).first()
    assert not ref2.passed and ref2.metric == 1.0


def test_expectations_single_scan_plan(spark):
    """The whole rule suite must evaluate as ONE aggregate over the
    source — rules add metric columns, never extra scans."""
    from compile_time_data_contracts_spark.operators.expectations import (
        evaluate_expectations,
        in_range,
        not_null,
        unique,
    )

    df = spark.range(100).selectExpr("id AS k", "id * 1.0 AS v")
    rep = evaluate_expectations(
        df, [unique("k"), not_null("v"), in_range("v", 0, 1000)]
    )
    plan = rep._sc._jvm.PythonSQLUtils.explainString(
        rep._jdf.queryExecution(), "formatted"
    )
    assert plan.count("Scan ") <= 1 or "Range" in plan


def test_filtered_ivf_label_partitioned_and_exact_at_full_probe(
    spark, tmp_path
):
    """meta_cols builds a (cluster, label)-partitioned index; a
    filtered search reads only the query label's directories, never
    returns another label, and at nprobe=all equals the exact
    label-filtered top-k (reference parity: q355 exact filtered
    retrieval is the oracle this index must match)."""
    import os

    import numpy as np

    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_build,
        ivf_search,
        topk_cosine,
    )

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in rng.normal(size=16)], int(i % 4))
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    idx = str(tmp_path / "fivf")
    ivf_build(df, idx, n_clusters=8, seed=11, meta_cols=("label",))

    # layout: cluster dirs each split into label subdirectories
    cdirs = [
        d for d in os.listdir(f"{idx}/vectors") if d.startswith("cluster=")
    ]
    assert len(cdirs) == 8
    sub = os.listdir(f"{idx}/vectors/{cdirs[0]}")
    assert all(d.startswith("label=") for d in sub)

    query = df.filter(F.col("vec_id") == 1)  # label 1
    top = ivf_search(
        spark, idx, query, k=5, nprobe=3, filters={"label": 1}
    )
    plan = top._sc._jvm.PythonSQLUtils.explainString(
        top._jdf.queryExecution(), "formatted"
    )
    assert re.search(r"PartitionFilters: \[[^\]]*cluster", plan), plan
    assert re.search(r"PartitionFilters: \[[^\]]*label", plan), plan

    # in-candidate filtering: every result carries the asked-for label
    got = top.collect()
    members = {
        r.vec_id for r in df.where(F.col("label") == 1).collect()
    }
    assert {r.vec_id for r in got} <= members
    assert got[0].vec_id == 1  # self hit always in a probed cell

    # nprobe=all == exact filtered brute force, row for row
    full = ivf_search(
        spark, idx, query, k=5, nprobe=8, filters={"label": 1}
    )
    exact = topk_cosine(df.where(F.col("label") == 1), query, k=5)
    assert [r.vec_id for r in full.collect()] == [
        r.vec_id for r in exact.collect()
    ]


def test_filtered_ivf_append_carries_meta(spark, tmp_path):
    """ivf_append with meta_cols lands new vectors in the right
    (cluster, label) directories and a filtered search sees them."""
    import numpy as np

    from compile_time_data_contracts_spark.operators.similarity import (
        ivf_append,
        ivf_build,
        ivf_search,
    )

    rng = np.random.default_rng(13)
    mk = lambda i: [float(x) for x in rng.normal(size=8)]
    base = [(i, mk(i), int(i % 2)) for i in range(100)]
    df = spark.createDataFrame(
        base, "vec_id long, embedding array<float>, label int"
    )
    idx = str(tmp_path / "fivf-app")
    ivf_build(df, idx, n_clusters=4, seed=13, meta_cols=("label",))

    extra = spark.createDataFrame(
        [(1000, mk(1000), 1)],
        "vec_id long, embedding array<float>, label int",
    )
    ivf_append(spark, idx, extra, meta_cols=("label",))

    q1000 = extra
    got = ivf_search(
        spark, idx, q1000, k=1, nprobe=4, filters={"label": 1}
    ).collect()
    assert got[0].vec_id == 1000 and got[0].sim > 0.999
