"""LLM-pipeline vector family: exact + ANN similarity search (LSH /
IVF / PQ), recall contracts, embedding statistics and quantization,
k-means, PCA, feature hashing, retrieval fusion."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from ._shared import _ORACLES, _QUERIES, _ts_str, q  # noqa: F401
from ..operators.materialize import (
    content_fingerprint,
    meta_matches,
    read_meta,
    reuse,
    reuse_dir,
    scratch_dir,
)


def _pin_topk(df):
    """Materialize a k-row top-k frame with a reliable checkpoint.

    Every recall gate references its exact top-k twice — once in the
    overlap semi-join count and once as the returned annotation frame —
    and un-materialized each reference re-runs the full corpus scoring
    pass.  A k-row checkpoint runs that pass ONCE per call; the job
    still executes from parquet on every invocation (the checkpoint is
    a per-call temporary, never reused across calls)."""
    from ..operators.materialize import pin

    return pin(df)


def _index_want(df) -> dict:
    """The ``reuse`` want of a gate index built from ``df``: its
    content fingerprint (row count, max vec_id)."""
    n, max_id = content_fingerprint(df, "vec_id")
    return {"n": n, "max_id": max_id}


# embeddings are float32 on disk; both engines must do the cosine in
# DOUBLE or the 4-dp rounding can disagree in the 7th decimal
_COSINE_PAIRS_ORACLE = """
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim_r
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
"""


@q("q49_neardup_cosine_exact", _COSINE_PAIRS_ORACLE)
def q49(spark: SparkSession, sf: str) -> DataFrame:
    """Exact audit path via the size-guarded dispatcher: BLAS-broadcast
    blocks when the matrix fits the broadcast bound, the fully-distributed
    no-collect pair join above it — no gate query unconditionally
    collects a data-sized table to the driver."""
    emb = load_table(spark, sf, "embeddings")
    pairs = cosine_pairs(emb, threshold=0.45)
    return pairs.select(
        "vec_a", "vec_b", F.round("sim", 4).alias("sim_r")
    )


@q(
    "q50_topk_vector_search",
    """SELECT b.vec_id,
              round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim_r
       FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) a
       CROSS JOIN embeddings b
       ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC, b.vec_id
       LIMIT 10""",
)
def q50(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    top = topk_cosine(emb, query, k=10)
    return top.select("vec_id", F.round("sim", 4).alias("sim_r"))


@q("q56_cosine_lsh_pairs")  # recall<1 by construction: rows-only check
def q56(spark: SparkSession, sf: str) -> DataFrame:
    """Hyperplane-LSH bucketed cosine self-join — the ANN scale path; the
    exact-join audit is q49."""
    emb = load_table(spark, sf, "embeddings")
    pairs = cosine_pairs_lsh(
        emb, threshold=0.45, bits=None, tables=16, probes="auto", dim=64
    )
    return pairs.select("vec_a", "vec_b", F.round("sim", 4).alias("sim_r"))


@q("q67_ivf_topk")  # nprobe < n_clusters: recall < 1 by construction
def q67(spark: SparkSession, sf: str) -> DataFrame:
    """IVF (cluster-then-probe) ANN top-k — q50's scale path: k-means
    centroids on a bounded driver sample, streamed assignment, only the
    nprobe nearest cells scanned via a partition-pruned scan of the
    persisted cluster-partitioned index (built once per sf dir and
    reused).  q50 (brute force) is the exact audit."""
    from ..operators.similarity import ivf_topk

    emb = load_table(spark, sf, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    idx = reuse_dir("ivf", f"{sf}|c32")
    top = ivf_topk(
        emb, query, k=10, n_clusters=32, nprobe=8, index_path=idx
    )
    return top.select("vec_id", F.round("sim", 4).alias("sim_r"))


@q(
    "q82_batch_vector_retrieval",
    """SELECT query_id, vec_id, sim_r, rank FROM (
         SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
                round(list_cosine_similarity(q.embedding::DOUBLE[],
                                             b.embedding::DOUBLE[]), 4) AS sim_r,
                row_number() OVER (
                  PARTITION BY q.vec_id
                  ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                                  b.embedding::DOUBLE[]) DESC,
                           b.vec_id
                ) AS rank
         FROM (SELECT * FROM embeddings WHERE vec_id % 50 = 0) q
         CROSS JOIN embeddings b
       ) WHERE rank <= 5""",
)
def q82(spark: SparkSession, sf: str) -> DataFrame:
    """Batch retrieval (training-pipeline shape): exact top-5 corpus
    neighbors for every query in a batch, one corpus pass, batch-local
    top-k per Arrow batch so the shuffle carries candidates only."""
    from ..operators.similarity import topk_cosine_multi

    emb = load_table(spark, sf, "embeddings")
    qbatch = emb.filter(F.pmod(F.col("vec_id"), F.lit(50)) == 0)
    top = topk_cosine_multi(emb, qbatch, k=5)
    return top.select(
        "query_id", "vec_id", F.round("sim", 4).alias("sim_r"), "rank"
    )


@q(
    "q90_quantize_embeddings",
    """WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
            m AS (SELECT vec_id, e,
                         list_aggregate(list_transform(e, x -> abs(x)), 'max')
                           AS ma
                  FROM t),
            qv AS (SELECT vec_id, ma / 127.0 AS scale,
                          CASE WHEN ma = 0
                               THEN list_transform(e, x -> 0)
                               ELSE list_transform(e, x ->
                                      CAST(floor(x / (ma / 127.0)) AS INT))
                          END AS q
                   FROM m)
       SELECT vec_id,
              round(scale, 6) AS scale_r,
              CAST(list_sum(q) AS BIGINT) AS q_sum,
              CAST(list_aggregate(q, 'min') AS INT) AS q_min,
              CAST(list_aggregate(q, 'max') AS INT) AS q_max
       FROM qv""",
)
def q90(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric int8 embedding quantization (4x compression for the
    serving/storage tier): per-vector scale = max|x|/127, codes =
    floor(x/scale).  Pure codegen column expressions, one scan, no
    shuffle; floor keeps the arithmetic engine-portable, so the oracle
    reproduces the exact codes."""
    from ..operators.similarity import quantize_int8

    emb = load_table(spark, sf, "embeddings")
    qed = quantize_int8(emb)
    return qed.select(
        "vec_id",
        F.round("q_scale", 6).alias("scale_r"),
        F.aggregate(
            "q_embedding",
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("q_sum"),
        F.array_min("q_embedding").alias("q_min"),
        F.array_max("q_embedding").alias("q_max"),
    )


@q(
    "q102_embedding_dim_stats",
    """WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
            d AS (SELECT CAST(j AS INT) AS dim, e[j + 1] AS x
                  FROM t, LATERAL UNNEST(generate_series(0, len(e) - 1))
                       AS s(j))
       SELECT dim,
              round(avg(x), 6) AS mean_r,
              round(stddev_pop(x), 6) AS std_r,
              round(min(x), 6) AS min_r,
              round(max(x), 6) AS max_r,
              CAST(count(*) AS BIGINT) AS n
       FROM d GROUP BY dim""",
)
def q102(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding feature-health table: per-dimension mean/std/min/max
    over the corpus.  posexplode (codegen Generate) + ONE map-side-
    combined aggregate — the shuffle carries |dims| partial-moment rows
    per partition regardless of corpus size."""
    from ..operators.similarity import embedding_dim_stats

    emb = load_table(spark, sf, "embeddings")
    st = embedding_dim_stats(emb)
    return st.select(
        "dim",
        F.round("mean", 6).alias("mean_r"),
        F.round("std", 6).alias("std_r"),
        F.round("min", 6).alias("min_r"),
        F.round("max", 6).alias("max_r"),
        "n",
    )


@q(
    "q103_retrieval_with_docs",
    """WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
                  WHERE vec_id = 7),
            scored AS (SELECT b.vec_id,
                              list_cosine_similarity(
                                q.qe, b.embedding::DOUBLE[]) AS sim
                       FROM embeddings b, q)
       SELECT s.vec_id, round(s.sim, 4) AS sim_r, d.lang,
              substr(d.text, 1, 40) AS preview
       FROM scored s JOIN documents d ON s.vec_id = d.doc_id
       ORDER BY s.sim DESC, s.vec_id LIMIT 5""",
)
def q103(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end retrieval (the RAG read path): top-5 nearest
    embeddings to the query vector, then hydrate each hit with its
    document metadata + snippet.  Top-k resolves FIRST (TakeOrdered
    heap over one corpus pass), so the hydration join touches k rows —
    the tiny side broadcasts, the documents table is probed once."""
    from ..operators.similarity import topk_cosine

    emb = load_table(spark, sf, "embeddings")
    docs = load_table(spark, sf, "documents")
    qv = emb.filter(F.col("vec_id") == 7)
    top = topk_cosine(emb, qv, k=5)
    return (
        top.join(docs, top["vec_id"] == docs["doc_id"])
        .select(
            "vec_id",
            F.round("sim", 4).alias("sim_r"),
            "lang",
            F.substring("text", 1, 40).alias("preview"),
        )
    )


@q(
    "q106_lsh_recall_contract",
    # same pattern as q19/q96: the LSH pair set is engine-specific, but
    # its accuracy CONTRACT vs the exact answer is oracle-checkable —
    # the exact pair count hash-matches, the booleans assert the bound
    """SELECT CAST(count(*) AS BIGINT) AS n_exact,
              TRUE AS recall_ok, TRUE AS precision_ok
       FROM (SELECT a.vec_id AS va, b.vec_id AS vb
             FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]) >= 0.45)""",
)
def q106(spark: SparkSession, sf: str) -> DataFrame:
    """LSH accuracy contract: the bucketed hyperplane-LSH pair set must
    reach recall >= 0.9 against the exact threshold self-join with
    precision 1 (verified candidates only).  Exact pair count is value-
    checked against brute force; the booleans gate the sketch — so the
    rows-only q56 path now has an oracle-checked companion."""
    from ..operators.materialize import pin_if_input_large
    from ..operators.similarity import cosine_pairs, cosine_pairs_lsh

    emb = load_table(spark, sf, "embeddings")
    t = 0.45
    # exact feeds the hits join AND the n_exact agg; lsh feeds the hits
    # join AND the __n_lsh agg — un-materialized, each reference re-runs
    # the full O(n²) BLAS pass / the whole LSH pipeline once per branch.
    # The r10 unconditional checkpoints were a measured LOSS at fixture
    # scale (the pair-sized write+read round-trip exceeds the saved
    # recompute on a sub-MB corpus: 4.86 s unpinned vs 5.15 s pinned
    # min-of-5, and the round-10 driver flagged the same regression);
    # pin_if_input_large keeps the pin exactly where it matters — a
    # corpus whose scan is large (or of unknowable size), where a second
    # O(n²) pass dwarfs any materialization cost.
    exact = pin_if_input_large(
        cosine_pairs(emb, t).select(
            F.col("vec_a").alias("va"), F.col("vec_b").alias("vb")
        ),
        emb,
    )
    lsh = pin_if_input_large(
        cosine_pairs_lsh(emb, t).select(
            F.col("vec_a").alias("va"), F.col("vec_b").alias("vb")
        ),
        emb,
    )
    hits = lsh.join(exact, ["va", "vb"], "inner")
    agg = (
        exact.agg(F.count("*").cast("bigint").alias("n_exact"))
        .crossJoin(F.broadcast(hits.agg(F.count("*").alias("__n_hit"))))
        .crossJoin(F.broadcast(lsh.agg(F.count("*").alias("__n_lsh"))))
    )
    return agg.select(
        "n_exact",
        (
            (F.col("__n_hit") >= 0.9 * F.col("n_exact"))
            | (F.col("n_exact") == 0)
        ).alias("recall_ok"),
        (F.col("__n_hit") == F.col("__n_lsh")).alias("precision_ok"),
    )


@q(
    "q107_ivf_recall_contract",
    """SELECT b.vec_id,
              round(list_cosine_similarity(
                (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 7),
                b.embedding::DOUBLE[]), 4) AS sim_r,
              TRUE AS ivf_overlap_ok
       FROM embeddings b
       ORDER BY list_cosine_similarity(
                (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 7),
                b.embedding::DOUBLE[]) DESC, b.vec_id
       LIMIT 10""",
)
def q107(spark: SparkSession, sf: str) -> DataFrame:
    """IVF accuracy contract: the exact top-10 (value-checked against
    brute force) annotated with whether the partition-pruned IVF search
    recovered >= 7 of them — the rows-only q67 path's oracle-checked
    companion."""
    from ..operators.similarity import ivf_topk, topk_cosine

    emb = load_table(spark, sf, "embeddings")
    query = emb.filter(F.col("vec_id") == 7)
    exact = _pin_topk(topk_cosine(emb, query, k=10))
    idx = reuse_dir("ivf", f"{sf}|c32")
    approx = ivf_topk(
        emb, query, k=10, n_clusters=32, nprobe=8, index_path=idx
    ).select("vec_id")
    overlap = exact.join(approx, "vec_id", "semi").count()
    return exact.select(
        "vec_id",
        F.round("sim", 4).alias("sim_r"),
        F.lit(overlap >= 7).alias("ivf_overlap_ok"),
    )


@q(
    "q142_hybrid_rrf_fusion",
    """WITH base AS (
         SELECT doc_id, string_split(lower(text), ' ') AS toks,
                len(string_split(lower(text), ' ')) AS dl
         FROM documents
       ), stats AS (
         SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM base
       ), hits AS (
         SELECT doc_id, dl, unnest(toks) AS term FROM base
       ), tf AS (
         SELECT doc_id, term, dl, count(*)::DOUBLE AS tf
         FROM hits
         WHERE term IN ('table', 'merge', 'window', 'spark')
         GROUP BY doc_id, term, dl
       ), dfreq AS (
         SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
       ), bm AS (
         SELECT tf.doc_id,
                sum(ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
                    * (tf.tf * 2.2)
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))
                ) AS bm25
         FROM tf, dfreq, stats
         WHERE tf.term = dfreq.term
         GROUP BY tf.doc_id
       ), bm_rank AS (
         -- rank on the ROUNDED score: mathematically-tied docs (same
         -- tf/dl profile) must collapse to the id tiebreak in both
         -- engines, not to summation-order ulps
         SELECT doc_id,
                row_number() OVER (ORDER BY round(bm25, 6) DESC, doc_id) AS r
         FROM bm QUALIFY r <= 100
       ), qv AS (
         SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         WHERE vec_id = 0
       ), cos_rank AS (
         SELECT vec_id AS doc_id,
                row_number() OVER (
                  ORDER BY list_cosine_similarity(
                             CAST(e.embedding AS DOUBLE[]), qv.v) DESC,
                           vec_id) AS r
         FROM embeddings e, qv
         WHERE vec_id <> 0
         QUALIFY r <= 100
       )
       SELECT b.doc_id,
              CAST(b.r AS INT) AS bm25_rank,
              CAST(c.r AS INT) AS cosine_rank,
              round(1.0 / (60 + b.r) + 1.0 / (60 + c.r), 6) AS rrf
       FROM bm_rank b JOIN cos_rank c USING (doc_id)""",
)
def q142(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: the BM25 top-100
    (q141's scorer) fused with the embedding-cosine top-100 for query
    vector vec_id=0 — rrf = 1/(60+r_lex) + 1/(60+r_vec) over ids in
    both lists.  Ranks are integers with deterministic id tiebreaks, so
    the fusion is exactly reproducible.  At 100 TB each list is
    TakeOrdered-k (per-partition heaps, k-row driver merge) — the
    fusion join touches 2k rows, never the corpus."""
    from ..operators.similarity import cosine
    from ..operators.text import bm25_scores

    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    bm = bm25_scores(docs, ["table", "merge", "window", "spark"]).select(
        "doc_id", F.round("bm25", 6).alias("bm25")
    )
    w_bm = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    bm_rank = (
        bm.withColumn("r", F.row_number().over(w_bm)).filter(F.col("r") <= 100)
    )
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("__qv")
    )
    w_cos = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    cos_rank = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id", cosine(F.col("embedding"), F.col("__qv")).alias("cos")
        )
        .withColumn("r", F.row_number().over(w_cos))
        .filter(F.col("r") <= 100)
    )
    return (
        bm_rank.select("doc_id", F.col("r").alias("bm25_rank"))
        .join(
            cos_rank.select(
                F.col("vec_id").alias("doc_id"), F.col("r").alias("cosine_rank")
            ),
            "doc_id",
        )
        .select(
            "doc_id",
            F.col("bm25_rank").cast("int").alias("bm25_rank"),
            F.col("cosine_rank").cast("int").alias("cosine_rank"),
            F.round(
                1.0 / (60 + F.col("bm25_rank")) + 1.0 / (60 + F.col("cosine_rank")),
                6,
            ).alias("rrf"),
        )
    )


@q(
    "q143_ivf_append_contract",
    """SELECT b.vec_id,
              round(list_cosine_similarity(
                (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 7),
                b.embedding::DOUBLE[]), 4) AS sim_r,
              TRUE AS ivf_overlap_ok
       FROM embeddings b
       ORDER BY list_cosine_similarity(
                (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 7),
                b.embedding::DOUBLE[]) DESC, b.vec_id
       LIMIT 10""",
)
def q143(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental-index accuracy contract (q107's sibling for
    `ivf_append`): the index is built on HALF the corpus (even ids) and
    the other half arrives as an appended batch — assignment against the
    frozen centroids, touched-partition-only file appends, no k-means
    refit.  The exact top-10 over the FULL corpus (value-checked by the
    oracle) is annotated with whether the partition-pruned search of the
    appended index recovers >= 7 of them — same floor as q107's
    build-once contract, so appending must not cost recall on a
    stationary distribution.

    Build-once-search-many, the q67/q107/q376 convention: the appended
    index persists through ``materialize.reuse`` and is REUSED while
    the full corpus fingerprint still matches, so repeat calls measure
    steady-state search; `ivf_append`'s byte-identical
    untouched partitions are asserted in tests/test_operators.py."""
    from ..operators.similarity import (
        ivf_append,
        ivf_build,
        ivf_search,
        topk_cosine,
    )

    emb = load_table(spark, sf, "embeddings")
    query = emb.filter(F.col("vec_id") == 7)
    exact = _pin_topk(topk_cosine(emb, query, k=10))

    def build(stage: str) -> None:
        ivf_build(
            emb.filter(F.col("vec_id") % 2 == 0), stage, n_clusters=32,
            sample_size=10000, seed=42,
        )
        ivf_append(spark, stage, emb.filter(F.col("vec_id") % 2 == 1))

    idx, _, _ = reuse("ivfappend", f"{sf}|append32", _index_want(emb), build)
    approx = ivf_search(spark, idx, query, k=10, nprobe=8).select("vec_id")
    overlap = exact.join(approx, "vec_id", "semi").count()
    return exact.select(
        "vec_id",
        F.round("sim", 4).alias("sim_r"),
        F.lit(overlap >= 7).alias("ivf_overlap_ok"),
    )


@q(
    "q151_pq_recall_contract",
    """SELECT b.vec_id,
              round(list_cosine_similarity(
                (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 11),
                b.embedding::DOUBLE[]), 4) AS sim_r,
              TRUE AS pq_overlap_ok
       FROM embeddings b
       ORDER BY list_cosine_similarity(
                (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 11),
                b.embedding::DOUBLE[]) DESC, b.vec_id
       LIMIT 10""",
)
def q151(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization accuracy contract (same shape as the IVF
    contract q107): the exact top-10 for a query vector, annotated with
    whether the compressed-domain ADC search + exact re-rank recovered
    >= 7 of them.  PQ is the 100 TB memory lever: the corpus scans as
    m=8 one-byte codes per vector (32x smaller than float32), the
    query-side lookup table is ~1 KB of literals evaluated inside
    whole-stage codegen, and only the `rerank` best candidates ever
    touch their true vectors."""
    from ..operators.similarity import pq_topk, topk_cosine

    emb = load_table(spark, sf, "embeddings")
    query = emb.filter(F.col("vec_id") == 11)
    exact = _pin_topk(topk_cosine(emb, query, k=10))
    approx = pq_topk(
        emb, query, k=10, m=8, ksub=16, rerank=100
    ).select("vec_id")
    overlap = exact.join(approx, "vec_id", "semi").count()
    return exact.select(
        "vec_id",
        F.round("sim", 4).alias("sim_r"),
        F.lit(overlap >= 7).alias("pq_overlap_ok"),
    )


@q(
    "q172_mmr_diversified_retrieval",
    """SELECT CAST(10 AS BIGINT) AS k,
              CAST(10 AS BIGINT) AS from_fetchk,
              TRUE AS top1_kept,
              TRUE AS diversity_not_worse""",
)
def q172(spark: SparkSession, sf: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified retrieval contract: one
    distributed corpus pass fetches the 50 most relevant vectors
    (TakeOrdered, never a global sort), then the driver-side greedy
    rerank picks 10 balancing relevance against similarity-to-already-
    selected.  The gate asserts the MMR invariants the oracle can
    state without replaying the greedy loop: every selection comes
    from the fetched candidate set, the single most relevant vector is
    always kept (rank 0), and the selected set is no LESS diverse than
    the plain top-10 (max pairwise cosine does not increase).  The
    greedy loop itself is pinned by unit tests on planted
    duplicate-heavy candidates.  Like q106/q107, a contract oracle:
    the selection math is not SQL-expressible, the properties are."""
    import numpy as np

    from ..operators.similarity import mmr_select

    emb = load_table(spark, sf, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    sel = mmr_select(emb, query, k=10, fetch_k=50, lam=0.5)
    top = topk_cosine(emb, query, k=50)
    top_ids = [r.vec_id for r in top.collect()]
    top10_ids = top_ids[:10]
    sel_rows = sel.collect()
    sel_ids = [r.vec_id for r in sel_rows]

    def max_pair_sim(ids: list) -> float:
        rows = (
            emb.filter(F.col("vec_id").isin(ids))
            .select("vec_id", "embedding")
            .collect()
        )
        X = np.array([list(r.embedding) for r in rows], dtype=np.float64)
        X = X / np.linalg.norm(X, axis=1, keepdims=True)
        S = X @ X.T
        np.fill_diagonal(S, -np.inf)
        return float(S.max())

    from_fetchk = sum(1 for i in sel_ids if i in set(top_ids))
    top1_kept = bool(sel_rows and sel_rows[0].rank == 0
                     and sel_ids[0] == top_ids[0])
    diversity_ok = max_pair_sim(sel_ids) <= max_pair_sim(top10_ids) + 1e-12
    return spark.createDataFrame(
        [(len(sel_ids), from_fetchk, top1_kept, diversity_ok)],
        "k bigint, from_fetchk bigint, top1_kept boolean, "
        "diversity_not_worse boolean",
    )


@q(
    "q193_ivf_pq_recall_contract",
    """SELECT b.vec_id,
              round(list_cosine_similarity(
                (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 23),
                b.embedding::DOUBLE[]), 4) AS sim_r,
              TRUE AS ivfpq_overlap_ok
       FROM embeddings b
       ORDER BY list_cosine_similarity(
                (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 23),
                b.embedding::DOUBLE[]) DESC, b.vec_id
       LIMIT 10""",
)
def q193(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ accuracy contract — the production ANN composite (the
    FAISS IVFx,PQy shape: cell pruning x compressed-domain ADC scan x
    exact re-rank) under the same contract pattern as q107 (IVF) and
    q151 (PQ): the exact top-10 for a query vector, annotated with
    whether the composite recovered >= 7 of them.  The three stages
    multiply at 100 TB: nprobe/n_clusters of the cells x 32x byte
    compression means the hot scan reads ~0.4% of the raw corpus
    bytes, and the code table is partition-pruned per query exactly
    like the vector table (PartitionFilters on cluster)."""
    from ..operators.similarity import ivf_pq_topk, topk_cosine

    emb = load_table(spark, sf, "embeddings")
    query = emb.filter(F.col("vec_id") == 23)
    exact = _pin_topk(topk_cosine(emb, query, k=10))
    # stable fingerprinted index path (q67/q107 convention): the first
    # call builds, later calls reuse — a repeated gate/bench run measures
    # the SEARCH, which is the amortized production posture.  Assumes
    # one gate runner at a time (as q67/q107 do): concurrent first-runs
    # could race the build; production indexes live behind a writer lock
    idx = reuse_dir("ivfpq", f"{sf}|c16-m8-k16")
    approx = ivf_pq_topk(
        emb, query, k=10, n_clusters=16, nprobe=8, m=8, ksub=16,
        rerank=200, index_path=idx,
    ).select("vec_id")
    overlap = exact.join(approx, "vec_id", "semi").count()
    return exact.select(
        "vec_id",
        F.round("sim", 4).alias("sim_r"),
        F.lit(overlap >= 7).alias("ivfpq_overlap_ok"),
    )


_Q217_ORACLE = """
WITH vm AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS m
  FROM embeddings),
c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, m
  FROM (SELECT * FROM vm ORDER BY vec_id LIMIT 4)),
a1 AS (
  SELECT vec_id, m, cid FROM (
    SELECT v.vec_id, v.m, c.cid,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             list_sum(list_transform(range(1, 65),
               i -> (v.m[CAST(i AS INT)] - c.m[CAST(i AS INT)])
                  * (v.m[CAST(i AS INT)] - c.m[CAST(i AS INT)]))),
             c.cid) AS rn
    FROM vm v CROSS JOIN c0 c) WHERE rn = 1),
u1 AS (
  SELECT cid, CAST(i AS INT) - 1 AS dim,
         CAST(floor(CAST(sum(m[CAST(i AS INT)]) AS DOUBLE) / count(*))
              AS BIGINT) AS c,
         count(*) AS n
  FROM a1, UNNEST(range(1, 65)) AS t(i)
  GROUP BY cid, CAST(i AS INT) - 1),
c1 AS (SELECT cid, list(c ORDER BY dim) AS m FROM u1 GROUP BY cid),
a2 AS (
  SELECT vec_id, m, cid FROM (
    SELECT v.vec_id, v.m, c.cid,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             list_sum(list_transform(range(1, 65),
               i -> (v.m[CAST(i AS INT)] - c.m[CAST(i AS INT)])
                  * (v.m[CAST(i AS INT)] - c.m[CAST(i AS INT)]))),
             c.cid) AS rn
    FROM vm v CROSS JOIN c1 c) WHERE rn = 1),
u2 AS (
  SELECT cid, CAST(i AS INT) - 1 AS dim,
         CAST(floor(CAST(sum(m[CAST(i AS INT)]) AS DOUBLE) / count(*))
              AS BIGINT) AS c,
         CAST(count(*) AS BIGINT) AS n
  FROM a2, UNNEST(range(1, 65)) AS t(i)
  GROUP BY cid, CAST(i AS INT) - 1)
SELECT CAST(cid AS INT) AS cid, CAST(dim AS INT) AS dim,
       c AS c_micros, n
FROM u2"""


@q("q217_kmeans_lloyd", _Q217_ORACLE)
def q217(spark: SparkSession, sf: str) -> DataFrame:
    """DISTRIBUTED k-means — two full Lloyd rounds over every vector
    (`operators/clustering.py: kmeans_lloyd`), the corpus-scale
    counterpart of the driver-side SAMPLE training that IVF uses
    (q67/q107/q193).  Per round: assignment is a map-only codegen
    stage (centroids are a k×d literal — zip_with difference,
    aggregate fold, array_min over (dist, cid) structs with ties to
    the smallest cid, NO join and NO shuffle), and the update is one
    partial-combined groupBy(cid, dim) whose shuffle carries k·d
    partial sums per partition, never vectors.  Only k·d cells reach
    the driver between rounds; the final round is returned lazy.

    Engine-exactness: components are floored to integer micros once,
    distances are integer sums, and updated centroids are
    floor(sum/n) back in micros — both engines run identical integer
    arithmetic, so two fixed rounds give bit-identical centroids (the
    q216 quantization contract extended through a full iterative
    algorithm; same unrolled-SQL-tower oracle pattern as q165's
    PageRank).  Seed = the k smallest vec_ids.  Empty clusters would
    keep their previous centroid with n = 0 on the Spark side; this
    fixture keeps all 4 clusters populated (133/117/129/121 at
    sf0.01), so the tower oracle — which has no empty branch — is
    exact for the gate data, as pinned by tests."""
    from ..operators.clustering import kmeans_lloyd

    emb = load_table(spark, sf, "embeddings")
    return kmeans_lloyd(emb, k=4, iters=2)


def _q218_oracle() -> str:
    pairs = [(i, j) for i in range(8) for j in range(i, 8)]
    sums = ", ".join(
        [f"sum(m[{i + 1}]) AS s{i}" for i in range(8)]
        + [f"sum(m[{i + 1}] * m[{j + 1}]) AS p{i}_{j}" for i, j in pairs]
    )
    arms = "\n       UNION ALL ".join(
        f"SELECT {i} AS i, {j} AS j, "
        f"CAST(n * p{i}_{j} - s{i} * s{j} AS DOUBLE) / (CAST(n AS DOUBLE) * n)"
        f" AS cov_micros2 FROM s"
        for i, j in pairs
    )
    return f"""
WITH x AS (
  SELECT list_transform(embedding,
           v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS m
  FROM embeddings),
s AS (SELECT count(*) AS n, {sums} FROM x)
{arms}"""


def q218_moment_agg(spark: SparkSession, sf: str) -> DataFrame:
    """The data-sized half of q218 — the single partial-combined
    scan+aggregate producing all 45 moments + count in one row —
    exposed separately so tools/plan_audit.py can pin its shape (the
    query itself collects this row and reshapes driver-side, so the
    RETURNED plan is a 36-row local relation)."""
    from ..operators.spread import spread_for_compute

    emb = load_table(spark, sf, "embeddings")
    dims = list(range(8))
    pairs = [(i, j) for i in dims for j in dims if j >= i]
    sel = spread_for_compute(
        emb.select(
            *[
                F.floor(
                    F.element_at(F.col("embedding"), i + 1).cast("double")
                    * 1000000
                )
                .cast("bigint")
                .alias(f"x{i}")
                for i in dims
            ]
        )
    )
    return sel.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.col(f"x{i}")).alias(f"s{i}") for i in dims],
        *[
            F.sum(F.col(f"x{i}") * F.col(f"x{j}")).alias(f"p{i}_{j}")
            for i, j in pairs
        ],
    )


@q("q218_covariance_matrix", _q218_oracle())
def q218(spark: SparkSession, sf: str) -> DataFrame:
    """Feature-covariance matrix (upper triangle, leading 8 embedding
    dims) as ONE partial-combined aggregate: 8 element_at projections,
    8 + 36 sums and a count in a single groupBy-less agg — no join, no
    explode, map-side combine reduces every partition to one row, so
    at 100 TB the full covariance costs exactly the scan (the classic
    single-pass moment method; whitening / PCA preprocessing for the
    embedding pipeline).  cov(i,j) = (n·Σxy − Σx·Σy) / n² evaluated on
    exact integer micros operands, so both engines divide identical
    integers and the doubles agree bit-for-bit — no rounding step.

    The 36 output rows are exploded from the 1-row aggregate IN-PLAN
    (explode over a literal struct array), keeping the query lazy end
    to end.  Integer-range note: BIGINT moment sums hold to ~10⁹ rows
    at micros scale; beyond that, production shifts to DECIMAL(38)
    sums (the q206 pattern) or the centered two-pass — the micros
    quantization itself is only for cross-engine determinism (q216)."""
    dims = list(range(8))
    pairs = [(i, j) for i in dims for j in dims if j >= i]
    # 45 sums over 8 extracted dims are map-side work; the scan-stage
    # shape (spread + one partial-combined aggregate) lives in
    # q218_moment_agg, which the plan audit pins directly.
    agg = q218_moment_agg(spark, sf)
    # r11: the 36 output cells used to be an in-plan explode over a
    # literal struct array referencing the 46 aggregate outputs — ~90
    # more named expressions whose Catalyst analysis cost 3-4x the
    # execution itself (r11 plan snapshot: build 1.63 s vs warm exec 0.20 s).
    # The aggregate is ONE row; collect it and do the 36 divisions on
    # exact Python integers (arbitrary precision ⊇ the BIGINT range both
    # engines declare; float() of an int64-range int is the same
    # round-to-nearest-double as the JVM/DuckDB CAST, so values are
    # bit-identical).  The data-sized work — the single partial-combined
    # scan+agg — is unchanged; only the 36-cell reshape moved off the
    # plan.  One driver row is the q287/q107 eager-scalar precedent.
    row = agg.first()
    n = int(row["n"])
    cells = [
        (
            i,
            j,
            float(
                n * int(row[f"p{i}_{j}"])
                - int(row[f"s{i}"]) * int(row[f"s{j}"])
            )
            / (float(n) * n),
        )
        for i, j in pairs
    ]
    return spark.createDataFrame(
        cells, "i int, j int, cov_micros2 double"
    )


_Q301_ORACLE = """
  WITH n AS (
    SELECT vec_id,
           sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                        x -> x * x))) AS nrm
    FROM embeddings),
  m AS (SELECT quantile_cont(nrm, 0.5) AS med FROM n),
  a AS (
    SELECT quantile_cont(abs(n.nrm - m.med), 0.5) AS mad
    FROM n, m)
  SELECT n.vec_id,
         round(n.nrm, 6) AS norm_r,
         round((n.nrm - m.med) / (1.4826 * a.mad), 4) AS z_mad_r
  FROM n, m, a
  WHERE abs((n.nrm - m.med) / (1.4826 * a.mad)) > 2.5"""


@q("q301_embedding_norm_outliers", _Q301_ORACLE)
def q301(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding norm-outlier audit: per-vector L2 norm via ONE
    sequential in-row fold (engine-exact — same left-to-right IEEE
    sum both sides, no shuffle-order hazard), then robust MAD
    z-scores against the corpus median (q183's estimator on the
    embedding table) and the |z| > 2.5 outlier rows — collapsed or
    exploded embeddings are the classic silent poison in a vector
    corpus, invisible to q102's per-DIMENSION stats because a bad
    VECTOR hides inside 64 healthy dimension means.  The median/MAD
    pair is two exact interpolated percentiles (q300's verified
    bit-parity); the two scalars broadcast back over one more pass.
    Cost: two scans of the norms projection + the row filter."""
    emb = load_table(spark, sf, "embeddings")
    nrm = emb.select(
        "vec_id",
        F.sqrt(
            F.aggregate(
                F.transform(
                    "embedding",
                    lambda x: x.cast("double") * x.cast("double"),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("nrm"),
    )
    med = nrm.agg(F.expr("percentile(nrm, 0.5)").alias("med"))
    a = nrm.crossJoin(F.broadcast(med)).agg(
        F.expr("percentile(abs(nrm - med), 0.5)").alias("mad"),
        F.first("med").alias("med"),
    )
    z = (F.col("nrm") - F.col("med")) / (1.4826 * F.col("mad"))
    return (
        nrm.crossJoin(F.broadcast(a))
        .filter(F.abs(z) > 2.5)
        .select(
            "vec_id",
            F.round("nrm", 6).alias("norm_r"),
            F.round(z, 4).alias("z_mad_r"),
        )
    )


_Q302_ORACLE = """
  WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents),
  posts AS (
    SELECT doc_id,
           w[i] || '|' || w[i + 1] || '|' || w[i + 2] AS shingle
    FROM toks, LATERAL UNNEST(generate_series(1, len(w) - 2))
         AS s(i)),
  tf AS (
    SELECT doc_id, shingle, count(*) AS tf
    FROM posts GROUP BY 1, 2),
  dfreq AS (
    SELECT shingle, count(*) AS df FROM tf GROUP BY 1),
  wt AS (
    SELECT t.doc_id AS doc, t.shingle,
           t.tf * CAST(floor(1000000 / CAST(d.df AS DOUBLE)) AS BIGINT)
             AS w
    FROM tf t JOIN dfreq d ON t.shingle = d.shingle
    WHERE d.df <= 10000),
  norms AS (
    SELECT doc, CAST(sum(w * w) AS BIGINT) AS n2 FROM wt GROUP BY 1),
  num AS (
    SELECT a.doc AS da, b.doc AS db,
           CAST(sum(a.w * b.w) AS BIGINT) AS num
    FROM wt a JOIN wt b ON a.shingle = b.shingle AND a.doc < b.doc
    GROUP BY 1, 2),
  mirrored AS (
    SELECT da, db, num FROM num
    UNION ALL SELECT db, da, num FROM num),
  cosed AS (
    SELECT p.da, p.db,
           p.num / (sqrt(CAST(na.n2 AS DOUBLE))
                    * sqrt(CAST(nb.n2 AS DOUBLE))) AS c
    FROM mirrored p
    JOIN norms na ON p.da = na.doc
    JOIN norms nb ON p.db = nb.doc),
  ranked AS (
    SELECT da, db, c,
           row_number() OVER (PARTITION BY da
                              ORDER BY c DESC, db ASC) AS rank
    FROM cosed)
  SELECT da AS doc_id, db AS neighbor,
         CAST(rank AS INT) AS rank, round(c, 6) AS cos_r
  FROM ranked WHERE rank <= 5"""


@q("q302_sparse_tfidf_knn", _Q302_ORACLE)
def q302(spark: SparkSession, sf: str) -> DataFrame:
    """Sparse lexical kNN (`operators/similarity.py:
    sparse_tfidf_knn`): top-5 cosine neighbors per document over
    word-TRIGRAM inverse-df weighted vectors, as a posting-list join
    — the sparse-retrieval counterpart to the dense q49/q56/q67
    paths, exact on the lexical space and model-free.  Integer
    weights (tf * floor(1e6/df)), BIGINT dot products and norms, one
    fixed IEEE cosine expression — the oracle replays everything.
    Trigram terms keep df low by construction (this corpus: vocab 31
    but ~30k distinct trigrams) and max_df=10000 caps hot terms
    outright; the top-k prunes at the window (WindowGroupLimit)."""
    from ..operators.similarity import sparse_tfidf_knn

    docs = load_table(spark, sf, "documents")
    return sparse_tfidf_knn(
        docs, id_col="doc_id", text_col="text", n=3, k=5, max_df=10_000
    )


_Q313_ORACLE = """
  WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tk
    FROM documents),
  tk2 AS (SELECT doc_id, tk FROM tok WHERE len(tk) > 0),
  hashed AS (
    SELECT doc_id,
           substring(md5(tk), 1, 3) AS bucket,
           CASE WHEN substring(md5(tk), 4, 1) < '8' THEN 1 ELSE -1 END
             AS sgn
    FROM tk2),
  feat AS (
    SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS val
    FROM hashed GROUP BY doc_id, bucket)
  SELECT bucket,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(val) AS BIGINT) AS sum_val,
         CAST(sum(abs(val)) AS BIGINT) AS sum_abs
  FROM feat GROUP BY bucket
  ORDER BY sum_abs DESC, bucket LIMIT 50"""


@q("q313_feature_hashing", _Q313_ORACLE)
def q313(spark: SparkSession, sf: str) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al. 2009): tokens map
    to 4096 buckets via the first 3 hex chars of md5 with a signed
    +-1 from the 4th char, so per-doc sparse vectors build with ZERO
    vocabulary state — no vocab broadcast, no OOV, the property that
    makes the trick the default at 100 TB where a vocab table is
    itself a big-data problem (contrast q171's explicit vocab-id
    assignment).  The md5-derived bucket/sign replays exactly in any
    engine (the q209/q243 hash-determinism contract, kept as hex
    STRINGS so no engine-specific hex-to-int parse is involved), and
    the whole plan is two partial-aggregated groupBys on
    (doc, bucket) then (bucket) — the signed-sum collision algebra
    E[collision] = 0 visible in sum_val vs sum_abs."""
    docs = load_table(spark, sf, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tk")
    ).where(F.length("tk") > 0)
    hashed = toks.select(
        "doc_id",
        F.substring(F.md5(F.col("tk").cast("binary")), 1, 3).alias(
            "bucket"
        ),
        F.when(
            F.substring(F.md5(F.col("tk").cast("binary")), 4, 1) < "8", 1
        )
        .otherwise(-1)
        .alias("sgn"),
    )
    feat = hashed.groupBy("doc_id", "bucket").agg(
        F.sum("sgn").cast("bigint").alias("val")
    )
    return (
        feat.groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("val").cast("bigint").alias("sum_val"),
            F.sum(F.abs(F.col("val"))).cast("bigint").alias("sum_abs"),
        )
        .orderBy(F.col("sum_abs").desc(), "bucket")
        .limit(50)
    )


_Q355_ORACLE = """
  SELECT query_id, vec_id, label, sim_r, rank FROM (
    SELECT q.vec_id AS query_id, b.vec_id AS vec_id, b.label,
           round(list_cosine_similarity(q.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 4) AS sim_r,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                             b.embedding::DOUBLE[]) DESC,
                      b.vec_id
           ) AS rank
    FROM (SELECT * FROM embeddings WHERE vec_id % 200 = 0) q
    JOIN embeddings b
      ON b.label = q.label AND b.vec_id <> q.vec_id
  ) WHERE rank <= 5"""


@q("q355_filtered_vector_topk", _Q355_ORACLE)
def q355(spark: SparkSession, sf: str) -> DataFrame:
    """Metadata-FILTERED vector retrieval: exact top-5 cosine
    neighbors per query among candidates sharing the query's label —
    the RAG pattern every production store needs ('nearest docs
    *within this tenant/language/date range*') and the one that
    breaks naive ANN indexes (post-filtering an unfiltered top-k
    under-delivers when the filter is selective; this query is the
    exact ORACLE such an index must match, the q106-contract pattern).
    The query batch broadcasts onto the corpus with the label
    equality folded INTO the join condition, so candidate generation
    prunes before any distance math; per-query top-5 cuts via
    WindowGroupLimit, all cosine arithmetic JVM-side (zip_with +
    aggregate, no Python)."""
    from ..operators.similarity import cosine

    emb = load_table(spark, sf, "embeddings")
    qset = emb.where(F.col("vec_id") % 200 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qvec"),
    )
    cand = emb.join(
        F.broadcast(qset),
        (F.col("label") == F.col("qlabel"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        "vec_id",
        "label",
        cosine(F.col("embedding"), F.col("qvec")).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "vec_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(
            "query_id",
            "vec_id",
            "label",
            F.round("sim", 4).alias("sim_r"),
            "rank",
        )
    )


def _q371_oracle() -> str:
    """q218's exact-integer covariance, then an unrolled 9-step power
    iteration (the q165/q354 SQL-tower pattern): v_{k+1} = C v_k from
    v0 = 1, no intermediate normalization (power iteration is
    scale-invariant); loadings come off v8, Rayleigh quotient off
    v9.v8 / v8.v8."""
    pairs = [(i, j) for i in range(8) for j in range(i, 8)]
    sums = ", ".join(
        [f"sum(m[{i + 1}]) AS s{i}" for i in range(8)]
        + [f"sum(m[{i + 1}] * m[{j + 1}]) AS p{i}_{j}" for i, j in pairs]
    )
    arms = "\n       UNION ALL ".join(
        f"SELECT {i} AS i, {j} AS j, "
        f"CAST(n * p{i}_{j} - s{i} * s{j} AS DOUBLE)"
        f" / (CAST(n AS DOUBLE) * n) AS cov FROM s"
        for i, j in pairs
    )
    layers = []
    for k in range(9):
        prev = f"v{k}" if k else "v0"
        layers.append(f""",
  v{k + 1} AS (
    SELECT cf.i, sum(cf.cov * p.v) AS v
    FROM cfull cf JOIN {prev} p ON cf.j = p.i
    GROUP BY cf.i)""")
    return f"""
  WITH x AS (
    SELECT list_transform(embedding,
             v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS m
    FROM embeddings),
  s AS (SELECT count(*) AS n, {sums} FROM x),
  cov AS ({arms}),
  cfull AS (
    SELECT i, j, cov FROM cov
    UNION ALL
    SELECT j, i, cov FROM cov WHERE i <> j),
  v0 AS (SELECT unnest(range(0, 8)) AS i, 1.0 AS v){"".join(layers)},
  nrm AS (SELECT sqrt(sum(v * v)) AS nv FROM v8),
  ray AS (
    SELECT sum(v9.v * v8.v) / sum(v8.v * v8.v) AS eig
    FROM v8 JOIN v9 ON v8.i = v9.i),
  tr AS (SELECT sum(cov) AS trace FROM cov WHERE i = j)
  SELECT CAST(v8.i AS BIGINT) AS dim,
         round(v8.v / nrm.nv, 6) AS loading_r,
         round(ray.eig, 4) AS eigenvalue_micros2_r,
         round(ray.eig / tr.trace, 6) AS var_explained_r
  FROM v8 CROSS JOIN nrm CROSS JOIN ray CROSS JOIN tr"""


@q("q371_pca_power_iteration", _q371_oracle())
def q371(spark: SparkSession, sf: str) -> DataFrame:
    """Dominant principal direction of the embedding covariance by
    NINE fixed power-iteration steps (Mises-Pollaczek 1929) — the
    whitening / anisotropy diagnostic for an embedding store:
    var_explained near 1 means the vectors collapse onto a line and
    every cosine (q49, q106) is dominated by one axis, the classic
    symptom that the q90 quantizer needs rotation first.  On a
    NEAR-ISOTROPIC spectrum (this synthetic fixture) nine steps are
    a Krylov estimate whose Rayleigh quotient lower-bounds the top
    eigenvalue; on a planted dominant direction they converge to the
    true eigenvector (test-pinned at |cos| > 0.999).  The data-sized
    stage is EXACTLY q218's single-pass 45-moment aggregate (integer
    micros); the 8x8 matrix iterates on the DRIVER with no
    normalization (power iteration is scale-invariant, so there is
    no intermediate sqrt to match) and re-enters as a VALUES
    relation (loadings off v8, Rayleigh off v9.v8 / v8.v8); the
    DuckDB oracle cross-checks through an independently evaluated
    9-layer matrix-vector SQL tower."""
    emb = load_table(spark, sf, "embeddings")
    x = emb.select(
        *[
            F.floor(
                F.element_at("embedding", i + 1).cast("double") * 1000000
            )
            .cast("bigint")
            .alias(f"m{i}")
            for i in range(8)
        ]
    )
    pairs = [(i, j) for i in range(8) for j in range(i, 8)]
    aggs = (
        [F.count("*").cast("bigint").alias("n")]
        + [F.sum(f"m{i}").cast("bigint").alias(f"s{i}") for i in range(8)]
        + [
            F.sum(F.col(f"m{i}") * F.col(f"m{j}"))
            .cast("bigint")
            .alias(f"p{i}_{j}")
            for i, j in pairs
        ]
    )
    row = x.agg(*aggs).collect()[0]
    n = row["n"]
    cov = {}
    for i, j in pairs:
        c = (n * row[f"p{i}_{j}"] - row[f"s{i}"] * row[f"s{j}"]) / (
            float(n) * n
        )
        cov[(i, j)] = c
        cov[(j, i)] = c
    v = [1.0] * 8
    vs = [v]
    for _ in range(9):
        v = [
            sum(cov[(i, j)] * v[j] for j in range(8)) for i in range(8)
        ]
        vs.append(v)
    v8, v9 = vs[8], vs[9]
    import math

    nrm = math.sqrt(sum(t * t for t in v8))
    eig = sum(a * b for a, b in zip(v9, v8)) / sum(t * t for t in v8)
    trace = sum(cov[(i, i)] for i in range(8))
    values = ", ".join(
        f"({i}, CAST('{v8[i] / nrm!r}' AS DOUBLE),"
        f" CAST('{eig!r}' AS DOUBLE),"
        f" CAST('{eig / trace!r}' AS DOUBLE))"
        for i in range(8)
    )
    return spark.sql(
        f"SELECT CAST(dim AS BIGINT) AS dim, round(l, 6) AS loading_r,"
        f" round(e, 4) AS eigenvalue_micros2_r,"
        f" round(ve, 6) AS var_explained_r"
        f" FROM VALUES {values} AS t(dim, l, e, ve)"
    )


_Q376_ORACLE = """
  WITH q AS (SELECT embedding::DOUBLE[] AS qe, label AS ql
             FROM embeddings WHERE vec_id = 7)
  SELECT b.vec_id,
         round(list_cosine_similarity(q.qe, b.embedding::DOUBLE[]), 4)
           AS sim_r,
         TRUE AS filtered_ivf_recall_ok
  FROM embeddings b, q
  WHERE b.label = q.ql
  ORDER BY list_cosine_similarity(q.qe, b.embedding::DOUBLE[]) DESC,
           b.vec_id
  LIMIT 10"""


@q("q376_filtered_ivf_recall_contract", _Q376_ORACLE)
def q376(spark: SparkSession, sf: str) -> DataFrame:
    """Filtered-ANN accuracy contract (the q107 pattern over q355's
    exact filtered retrieval): the label-aware IVF index — built with
    ``meta_cols=("label",)`` so vectors persist partitioned by
    (cluster, label) — must recover >= 9 of the exact top-10 cosine
    neighbors WITHIN the query's label.  The search prunes on BOTH
    partition axes before any distance math (directory-level: only
    the probed cells' one-label subdirectories are read — never an
    unfiltered candidate set that a post-filter would then starve),
    which is the production RAG shape 'nearest docs within this
    tenant' at 100 TB: ~nprobe/n_clusters x 1/|labels| of the index
    scanned per query.  Exact side value-checked against the DuckDB
    oracle; the boolean gates the index.

    Gate shape vs production shape: at gate scale this probes 24 of 32
    cells (75% — near-exhaustive, chosen so the >= 9/10 recall floor is
    deterministic on a 500-to-5k-vector fixture whose weak neighbors
    scatter widely).  The PRUNING claim does NOT rest on this gate: the
    `filtered_ivf_n1000020` scale probe searches 16 of 256 cells and
    reads 6 of 1,284 (cluster, label) directories at recall 1.0 — that
    probe, not this near-exhaustive gate probe, is the production
    shape."""
    from ..operators.similarity import ivf_topk, topk_cosine

    emb = load_table(spark, sf, "embeddings")
    query = emb.filter(F.col("vec_id") == 7)
    ql = query.select("label").first()[0]
    exact = _pin_topk(topk_cosine(emb.where(F.col("label") == ql), query, k=10))
    idx = reuse_dir("fivf", f"{sf}|fl32")
    approx = ivf_topk(
        emb, query, k=10, n_clusters=32, nprobe=24, index_path=idx,
        meta_cols=("label",), filters={"label": ql},
    ).select("vec_id")
    overlap = exact.join(approx, "vec_id", "semi").count()
    return exact.select(
        "vec_id",
        F.round("sim", 4).alias("sim_r"),
        F.lit(overlap >= 9).alias("filtered_ivf_recall_ok"),
    )


_Q377_ORACLE = """
  WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
             FROM embeddings WHERE vec_id IN (1, 2, 3, 7, 11, 13, 17, 19)),
  ranked AS (
    SELECT q.query_id, b.vec_id,
           list_cosine_similarity(q.qe, b.embedding::DOUBLE[]) AS sim,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qe, b.embedding::DOUBLE[])
                      DESC, b.vec_id) AS rn
    FROM embeddings b CROSS JOIN q)
  SELECT query_id, vec_id, round(sim, 4) AS sim_r,
         TRUE AS batch_ivf_recall_ok
  FROM ranked WHERE rn <= 10"""


@q("q377_batch_ivf_recall_contract", _Q377_ORACLE)
def q377(spark: SparkSession, sf: str) -> DataFrame:
    """Batch-retrieval accuracy contract (q107's pattern over a WHOLE
    query batch): the exact per-query top-10 (one corpus pass via
    ``topk_cosine_multi``, value-checked against the DuckDB window
    oracle) annotated per query with whether ``ivf_search_batch``
    recovered >= 7 of that query's exact neighbors from the persisted
    IVF index — q107's single-query floor, now enforced for every
    member of an 8-query batch.

    This is the production RAG read path the single-query gates (q107,
    q376) bracket but don't cover: the per-query probe lists are
    unioned into ONE PartitionFilters-pruned index scan (plan-audited —
    one parquet scan for the whole batch, not |queries| scans), while a
    closure-shipped probe mask keeps each query's candidates confined
    to its OWN nprobe cells, so per-query recall is governed by nprobe
    exactly as in q107.  The index is the SAME persisted artifact q107
    searches (``ivf_build_or_reuse`` on the shared fingerprinted path)
    — build-once-search-many across gate queries, the q67/q107/q376
    convention."""
    from ..operators.similarity import (
        ivf_build_or_reuse,
        ivf_search_batch,
        topk_cosine_multi,
    )

    emb = load_table(spark, sf, "embeddings")
    qids = [1, 2, 3, 7, 11, 13, 17, 19]
    queries = emb.filter(F.col("vec_id").isin(qids))
    # exact stays un-pinned here: the checkpoint round-trip measured
    # +0.2-0.5 s against the ~0.15 s corpus pass it saves at gate scale
    # (multi-query Arrow pass; see OPTIMIZATION_r10.md batch 4)
    exact = topk_cosine_multi(emb, queries, k=10, query_id_col="vec_id")
    idx = ivf_build_or_reuse(
        emb, reuse_dir("ivf", f"{sf}|c32"), n_clusters=32
    )
    # nprobe 16/32 at gate scale (measured: per-query recall floor 7/10
    # at sf0.001, 8/10 at sf0.01 — q107's nprobe=8 leaves two of the
    # eight batch queries under the floor; weak-neighbor top-10s scatter
    # across more cells than a self-similar top-1).  The PRUNING claim
    # is the scale probe's (batch_ivf probe: 10^3 queries x 10^6
    # vectors, nprobe 16/256), not this near-half-probe gate shape —
    # same gate-vs-production split as q376.
    approx = ivf_search_batch(
        spark, idx, queries, k=10, nprobe=16, query_id_col="vec_id"
    )
    hits = (
        exact.join(
            approx.select("query_id", "vec_id"),
            ["query_id", "vec_id"],
            "semi",
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("__n_hit"))
    )
    # left join + coalesce: a query with ZERO recovered neighbors must
    # surface as a FALSE flag (hash mismatch), not as dropped rows
    return (
        exact.join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            "vec_id",
            F.round("sim", 4).alias("sim_r"),
            (F.coalesce(F.col("__n_hit"), F.lit(0)) >= 7).alias(
                "batch_ivf_recall_ok"
            ),
        )
    )


_Q378_ORACLE = """
  WITH q AS (SELECT embedding::DOUBLE[] AS qe, label AS ql
             FROM embeddings WHERE vec_id = 23)
  SELECT b.vec_id,
         round(list_cosine_similarity(q.qe, b.embedding::DOUBLE[]), 4)
           AS sim_r,
         TRUE AS filtered_ivfpq_recall_ok
  FROM embeddings b, q
  WHERE b.label = q.ql
  ORDER BY list_cosine_similarity(q.qe, b.embedding::DOUBLE[]) DESC,
           b.vec_id
  LIMIT 10"""


@q("q378_filtered_ivfpq_recall_contract", _Q378_ORACLE)
def q378(spark: SparkSession, sf: str) -> DataFrame:
    """Filtered IVF-PQ accuracy contract — q376's metadata axis carried
    into the COMPRESSED domain (q193's composite): with
    ``meta_cols=("label",)`` both the vector table AND the PQ code
    table persist partitioned by (cluster, label), so a
    ``filters={"label": ql}`` search prunes the ADC code scan and the
    exact re-rank hydration at the directory level on BOTH axes —
    'nearest docs within this tenant' never decodes or scores another
    tenant's codes (plan-audited: PartitionFilters with cluster INSET
    and label equality on both scans).  The composite must recover
    >= 8 of the exact top-10 within the query's label; exact side
    value-checked against the DuckDB oracle.

    Gate shape vs production shape: nprobe 12/16 here (near-exhaustive
    so the floor is deterministic on the small fixture); the pruning
    claim is the scale probe's (filtered_ivfpq probe: 256 cells,
    nprobe 16), same split as q376/q377."""
    from ..operators.similarity import ivf_pq_topk, topk_cosine

    emb = load_table(spark, sf, "embeddings")
    query = emb.filter(F.col("vec_id") == 23)
    ql = query.select("label").first()[0]
    exact = _pin_topk(topk_cosine(emb.where(F.col("label") == ql), query, k=10))
    idx = reuse_dir("fivfpq", f"{sf}|fpq16-8-16")
    approx = ivf_pq_topk(
        emb, query, k=10, n_clusters=16, nprobe=12, m=8, ksub=16,
        rerank=200, index_path=idx, meta_cols=("label",),
        filters={"label": ql},
    ).select("vec_id")
    overlap = exact.join(approx, "vec_id", "semi").count()
    return exact.select(
        "vec_id",
        F.round("sim", 4).alias("sim_r"),
        F.lit(overlap >= 8).alias("filtered_ivfpq_recall_ok"),
    )


_Q379_ORACLE = """
  WITH lbl AS (SELECT label FROM embeddings WHERE vec_id = 7),
  q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE label = (SELECT label FROM lbl)
        ORDER BY vec_id LIMIT 4),
  ranked AS (
    SELECT q.query_id, b.vec_id,
           list_cosine_similarity(q.qe, b.embedding::DOUBLE[]) AS sim,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qe, b.embedding::DOUBLE[])
                      DESC, b.vec_id) AS rn
    FROM embeddings b CROSS JOIN q
    WHERE b.label = (SELECT label FROM lbl))
  SELECT query_id, vec_id, round(sim, 4) AS sim_r,
         TRUE AS batch_filtered_recall_ok
  FROM ranked WHERE rn <= 10"""


@q("q379_batch_filtered_ivf_recall_contract", _Q379_ORACLE)
def q379(spark: SparkSession, sf: str) -> DataFrame:
    """Batch + filtered ANN over the RAW vector index — one cell of
    the retrieval matrix ({single, batch} x {IVF, IVF-PQ} x
    {unfiltered, filtered}; raw-IVF row: q107 single/unfiltered, q376
    single/filtered, q377 batch/unfiltered, this gate batch/filtered;
    the IVF-PQ row is q193/q378/q380/q381): four same-label queries
    served by ONE index scan that prunes at the directory level on BOTH
    axes — `cluster IN (union of the four probe lists)` AND the label
    equality — while the probe mask keeps each query's candidates in
    its OWN cells.  This is the production multi-tenant RAG batch:
    'for each of these queries, nearest docs within this tenant',
    one pruned pass.

    Exact side: per-query top-10 WITHIN the label via one
    `topk_cosine_multi` pass over the label subset, value-checked
    against the DuckDB window oracle.  Contract: >= 8/10 recovered per
    query at nprobe 24/32 (measured 9-10/10 at both gate SFs).  The
    index is q376's persisted artifact (`ivf_build_or_reuse` on the
    shared fingerprinted path) — build-once-search-many across gates."""
    from ..operators.similarity import (
        ivf_build_or_reuse,
        ivf_search_batch,
        topk_cosine_multi,
    )

    emb = load_table(spark, sf, "embeddings")
    ql = emb.filter(F.col("vec_id") == 7).select("label").first()[0]
    sub = emb.where(F.col("label") == ql)
    qids = [r.vec_id for r in sub.orderBy("vec_id").limit(4).collect()]
    queries = emb.filter(F.col("vec_id").isin(qids))
    exact = topk_cosine_multi(sub, queries, k=10, query_id_col="vec_id")
    idx = ivf_build_or_reuse(
        emb, reuse_dir("fivf", f"{sf}|fl32"), n_clusters=32,
        meta_cols=("label",),
    )
    approx = ivf_search_batch(
        spark, idx, queries, k=10, nprobe=24, query_id_col="vec_id",
        filters={"label": ql},
    )
    hits = (
        exact.join(
            approx.select("query_id", "vec_id"),
            ["query_id", "vec_id"],
            "semi",
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("__n_hit"))
    )
    return (
        exact.join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            "vec_id",
            F.round("sim", 4).alias("sim_r"),
            (F.coalesce(F.col("__n_hit"), F.lit(0)) >= 8).alias(
                "batch_filtered_recall_ok"
            ),
        )
    )


_Q380_ORACLE = """
  WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
             FROM embeddings WHERE vec_id IN (1, 7, 23, 42)),
  ranked AS (
    SELECT q.query_id, b.vec_id,
           list_cosine_similarity(q.qe, b.embedding::DOUBLE[]) AS sim,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qe, b.embedding::DOUBLE[])
                      DESC, b.vec_id) AS rn
    FROM embeddings b CROSS JOIN q)
  SELECT query_id, vec_id, round(sim, 4) AS sim_r,
         TRUE AS batch_ivfpq_recall_ok
  FROM ranked WHERE rn <= 10"""


@q("q380_batch_ivfpq_recall_contract", _Q380_ORACLE)
def q380(spark: SparkSession, sf: str) -> DataFrame:
    """Batch retrieval over the COMPRESSED domain (q377's shape through
    q193's composite): four queries served by ONE partition-pruned scan
    of the PQ CODE table (union of per-query probe lists, per-query
    ADC via a closure-shipped LUT tensor, probe-mask attribution) plus
    one pruned hydration scan for the exact re-rank — instead of
    |queries| independent ivf_pq_topk passes.  Per-query results are
    IDENTICAL to the single-query composite (parity smoke-tested); the
    gate pins >= 8/10 recall per query vs the exact top-10 at
    nprobe 12/16, rerank 200 (measured 9-10/10 at both SFs).  Exact
    side value-checked against the DuckDB window oracle.  The index is
    q380's own fingerprinted artifact (16 cells, m=8, ksub=16 — the
    q193 family's shape)."""
    from ..operators.similarity import (
        ivf_pq_search_batch,
        topk_cosine_multi,
    )

    emb = load_table(spark, sf, "embeddings")
    qids = [1, 7, 23, 42]
    queries = emb.filter(F.col("vec_id").isin(qids))
    # exact stays un-pinned here: the checkpoint round-trip measured
    # +0.2-0.5 s against the ~0.15 s corpus pass it saves at gate scale
    # (multi-query Arrow pass; see OPTIMIZATION_r10.md batch 4)
    exact = topk_cosine_multi(emb, queries, k=10, query_id_col="vec_id")
    idx = reuse_dir("bpq", f"{sf}|bpq16-8-16")
    approx = ivf_pq_search_batch(
        emb, queries, k=10, n_clusters=16, nprobe=12, m=8, ksub=16,
        rerank=200, index_path=idx, query_id_col="vec_id",
    )
    hits = (
        exact.join(
            approx.select("query_id", "vec_id"),
            ["query_id", "vec_id"],
            "semi",
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("__n_hit"))
    )
    return (
        exact.join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            "vec_id",
            F.round("sim", 4).alias("sim_r"),
            (F.coalesce(F.col("__n_hit"), F.lit(0)) >= 8).alias(
                "batch_ivfpq_recall_ok"
            ),
        )
    )


_Q381_ORACLE = """
  WITH lbl AS (SELECT label FROM embeddings WHERE vec_id = 7),
  q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE label = (SELECT label FROM lbl)
        ORDER BY vec_id LIMIT 4),
  ranked AS (
    SELECT q.query_id, b.vec_id,
           list_cosine_similarity(q.qe, b.embedding::DOUBLE[]) AS sim,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qe, b.embedding::DOUBLE[])
                      DESC, b.vec_id) AS rn
    FROM embeddings b CROSS JOIN q
    WHERE b.label = (SELECT label FROM lbl))
  SELECT query_id, vec_id, round(sim, 4) AS sim_r,
         TRUE AS batch_filtered_ivfpq_recall_ok
  FROM ranked WHERE rn <= 10"""


@q("q381_batch_filtered_ivfpq_recall_contract", _Q381_ORACLE)
def q381(spark: SparkSession, sf: str) -> DataFrame:
    """The eighth and final cell of the retrieval matrix
    ({single, batch} × {IVF, IVF-PQ} × {unfiltered, filtered}): four
    same-label queries through the COMPRESSED domain with BOTH-axis
    directory pruning — one scan of the (cluster, label)-partitioned
    code table serves the whole batch (union of probe lists × one
    label subdirectory), per-query ADC via the LUT tensor, exact
    re-rank against each query's own vector from the equally-pruned
    hydration scan.  Contract: >= 7/10 within-label recall per query
    at nprobe 14/16, rerank 200 (measured 8-10/10 at both SFs; PQ
    quantization at 10 labels × 16 cells is the binding recall factor,
    hence one notch under q379's raw-IVF floor).  Exact side
    value-checked against the DuckDB window oracle."""
    from ..operators.similarity import (
        ivf_pq_search_batch,
        topk_cosine_multi,
    )

    emb = load_table(spark, sf, "embeddings")
    ql = emb.filter(F.col("vec_id") == 7).select("label").first()[0]
    sub = emb.where(F.col("label") == ql)
    qids = [r.vec_id for r in sub.orderBy("vec_id").limit(4).collect()]
    queries = emb.filter(F.col("vec_id").isin(qids))
    exact = topk_cosine_multi(sub, queries, k=10, query_id_col="vec_id")
    idx = reuse_dir("bpqf", f"{sf}|bpqf16-8-16")
    approx = ivf_pq_search_batch(
        emb, queries, k=10, n_clusters=16, nprobe=14, m=8, ksub=16,
        rerank=200, index_path=idx, meta_cols=("label",),
        filters={"label": ql}, query_id_col="vec_id",
    )
    hits = (
        exact.join(
            approx.select("query_id", "vec_id"),
            ["query_id", "vec_id"],
            "semi",
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("__n_hit"))
    )
    return (
        exact.join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            "vec_id",
            F.round("sim", 4).alias("sim_r"),
            (F.coalesce(F.col("__n_hit"), F.lit(0)) >= 7).alias(
                "batch_filtered_ivfpq_recall_ok"
            ),
        )
    )


_Q382_ORACLE = """
  WITH labs AS (SELECT DISTINCT label FROM embeddings
                ORDER BY label LIMIT 2),
  q AS (SELECT vec_id AS query_id, qe, ql FROM (
          SELECT vec_id, embedding::DOUBLE[] AS qe, label AS ql,
                 row_number() OVER (PARTITION BY label ORDER BY vec_id)
                   AS qr
          FROM embeddings WHERE label IN (SELECT label FROM labs))
        WHERE qr <= 2),
  ranked AS (
    SELECT q.query_id, b.vec_id,
           list_cosine_similarity(q.qe, b.embedding::DOUBLE[]) AS sim,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qe, b.embedding::DOUBLE[])
                      DESC, b.vec_id) AS rn
    FROM embeddings b JOIN q ON b.label = q.ql)
  SELECT query_id, vec_id, round(sim, 4) AS sim_r,
         TRUE AS leak_free, TRUE AS mixed_batch_recall_ok
  FROM ranked WHERE rn <= 10"""


@q("q382_mixed_label_batch_ivf_contract", _Q382_ORACLE)
def q382(spark: SparkSession, sf: str) -> DataFrame:
    """PER-QUERY metadata filters in batch ANN — the heterogeneous
    multi-tenant serving shape q379 brackets but doesn't cover: q379's
    batch is same-label (one ``filters=`` value for the whole batch);
    production batches MIX tenants, each query confined to its own.
    Four queries spanning TWO distinct labels (two per label) are
    served by ONE index scan that prunes on the union of (cluster,
    label) PAIRS — per label group, only that group's probe cells under
    that label's directories — while the in-closure probe mask is
    AND-ed with a row-label == query-label match
    (``query_filter_cols=("label",)``), so each query returns exactly
    its own ``ivf_search(filters=...)`` answer (parity-tested in
    tests/test_round10_ops.py).

    Exact side: per-query top-10 WITHIN each query's own label (one
    ``topk_cosine_multi`` pass per label subset), value-checked against
    the DuckDB window oracle.  ``leak_free`` pins zero cross-label ids
    batch-wide; recall floor >= 8/10 per query at nprobe 24/32 (q379's
    measured margin — same index, same probe shape, stricter
    attribution).  The index is q379's persisted artifact
    (``ivf_build_or_reuse`` on the shared fingerprinted path) —
    build-once-search-many across gates."""
    from ..operators.similarity import (
        ivf_build_or_reuse,
        ivf_search_batch,
        topk_cosine_multi,
    )

    emb = load_table(spark, sf, "embeddings")
    labs = [
        r.label
        for r in emb.select("label").distinct().orderBy("label").limit(2).collect()
    ]
    wq = Window.partitionBy("label").orderBy("vec_id")
    queries = (
        emb.where(F.col("label").isin(labs))
        .withColumn("__qr", F.row_number().over(wq))
        .filter(F.col("__qr") <= 2)
        .drop("__qr")
    )
    exact = None
    for lbl in labs:
        part = topk_cosine_multi(
            emb.where(F.col("label") == lbl),
            queries.where(F.col("label") == lbl),
            k=10,
            query_id_col="vec_id",
        )
        exact = part if exact is None else exact.unionByName(part)
    idx = ivf_build_or_reuse(
        emb, reuse_dir("fivf", f"{sf}|fl32"), n_clusters=32,
        meta_cols=("label",),
    )
    approx = ivf_search_batch(
        spark, idx, queries, k=10, nprobe=24, query_id_col="vec_id",
        query_filter_cols=("label",),
    )
    # approx feeds the leakage audit AND the hits semi-join — pin the
    # k·|Q|-row result once so the pruned batch search runs once per
    # call (exact stays un-pinned: measured cheaper to re-run at gate
    # scale than to checkpoint — see OPTIMIZATION_r10.md batch 4)
    approx = _pin_topk(approx)
    # leakage audit: every returned id must carry its query's own label
    qlab = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("__ql")
    )
    n_leaks = (
        approx.join(emb.select("vec_id", "label"), "vec_id")
        .join(F.broadcast(qlab), "query_id")
        .filter(F.col("label") != F.col("__ql"))
        .count()
    )
    hits = (
        exact.join(
            approx.select("query_id", "vec_id"),
            ["query_id", "vec_id"],
            "semi",
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("__n_hit"))
    )
    return (
        exact.join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            "vec_id",
            F.round("sim", 4).alias("sim_r"),
            F.lit(n_leaks == 0).alias("leak_free"),
            (F.coalesce(F.col("__n_hit"), F.lit(0)) >= 8).alias(
                "mixed_batch_recall_ok"
            ),
        )
    )


_Q383_ORACLE = """
  WITH labs AS (SELECT DISTINCT label FROM embeddings
                ORDER BY label LIMIT 2),
  q AS (SELECT vec_id AS query_id, qe, ql FROM (
          SELECT vec_id, embedding::DOUBLE[] AS qe, label AS ql,
                 row_number() OVER (PARTITION BY label ORDER BY vec_id)
                   AS qr
          FROM embeddings WHERE label IN (SELECT label FROM labs))
        WHERE qr <= 2),
  ranked AS (
    SELECT q.query_id, b.vec_id,
           list_cosine_similarity(q.qe, b.embedding::DOUBLE[]) AS sim,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qe, b.embedding::DOUBLE[])
                      DESC, b.vec_id) AS rn
    FROM embeddings b JOIN q ON b.label = q.ql)
  SELECT query_id, vec_id, round(sim, 4) AS sim_r,
         TRUE AS leak_free, TRUE AS mixed_batch_pq_recall_ok
  FROM ranked WHERE rn <= 10"""


@q("q383_mixed_label_batch_ivfpq_contract", _Q383_ORACLE)
def q383(spark: SparkSession, sf: str) -> DataFrame:
    """q382's heterogeneous multi-tenant batch through the COMPRESSED
    domain: two labels in one batch, BOTH the ADC code scan and the
    exact re-rank hydration scan pruned on the union of (cluster,
    label) pairs, the per-query ADC LUT tensor masked on cluster AND
    label axes (``query_filter_cols=("label",)`` on
    ``ivf_pq_search_batch``).  Each query returns exactly its own
    ``ivf_pq_topk(filters=...)`` answer (parity-tested).

    ``leak_free`` pins zero cross-label ids; recall floor >= 7/10
    within-label per query at nprobe 14/16, rerank 200 (q381's
    measured PQ-bound margin — same index artifact, same probe shape).
    Exact side value-checked against the DuckDB window oracle.  The
    index is q381's persisted artifact — build-once-search-many."""
    from ..operators.similarity import (
        ivf_pq_search_batch,
        topk_cosine_multi,
    )

    emb = load_table(spark, sf, "embeddings")
    labs = [
        r.label
        for r in emb.select("label").distinct().orderBy("label").limit(2).collect()
    ]
    wq = Window.partitionBy("label").orderBy("vec_id")
    queries = (
        emb.where(F.col("label").isin(labs))
        .withColumn("__qr", F.row_number().over(wq))
        .filter(F.col("__qr") <= 2)
        .drop("__qr")
    )
    exact = None
    for lbl in labs:
        part = topk_cosine_multi(
            emb.where(F.col("label") == lbl),
            queries.where(F.col("label") == lbl),
            k=10,
            query_id_col="vec_id",
        )
        exact = part if exact is None else exact.unionByName(part)
    idx = reuse_dir("bpqf", f"{sf}|bpqf16-8-16")
    approx = ivf_pq_search_batch(
        emb, queries, k=10, n_clusters=16, nprobe=14, m=8, ksub=16,
        rerank=200, index_path=idx, meta_cols=("label",),
        query_id_col="vec_id", query_filter_cols=("label",),
    )
    # same double-reference shape as q382: pin the approx search once
    approx = _pin_topk(approx)
    qlab = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("__ql")
    )
    n_leaks = (
        approx.join(emb.select("vec_id", "label"), "vec_id")
        .join(F.broadcast(qlab), "query_id")
        .filter(F.col("label") != F.col("__ql"))
        .count()
    )
    hits = (
        exact.join(
            approx.select("query_id", "vec_id"),
            ["query_id", "vec_id"],
            "semi",
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("__n_hit"))
    )
    return (
        exact.join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            "vec_id",
            F.round("sim", 4).alias("sim_r"),
            F.lit(n_leaks == 0).alias("leak_free"),
            (F.coalesce(F.col("__n_hit"), F.lit(0)) >= 7).alias(
                "mixed_batch_pq_recall_ok"
            ),
        )
    )


@q(
    "q384_pq_append_contract",
    """SELECT b.vec_id,
              round(list_cosine_similarity(
                (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 7),
                b.embedding::DOUBLE[]), 4) AS sim_r,
              TRUE AS pq_append_recall_ok
       FROM embeddings b
       ORDER BY list_cosine_similarity(
                (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 7),
                b.embedding::DOUBLE[]) DESC, b.vec_id
       LIMIT 10""",
)
def q384(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental IVF-PQ accuracy contract — q143's append contract
    carried into the COMPRESSED domain via ``pq_append``: the IVF-PQ
    index (centroids + codebooks + partitioned codes) is built on HALF
    the corpus (even ids), the other half arrives as an appended batch
    — assigned to the FROZEN centroids, encoded with the FROZEN
    codebooks, only touched cluster code partitions appended (untouched
    code dirs byte-identical; test-asserted in
    tests/test_round10_ops.py), vector partitions + fingerprint
    advanced LAST so a crash mid-append reads as stale and rebuilds.

    The exact top-10 over the FULL corpus (value-checked by the
    oracle) is annotated with whether the compressed-domain search of
    the APPENDED index recovers >= 7 of them — the same floor as
    q151/q193, so appending must not cost recall on a stationary
    distribution even though the codebooks never saw the appended
    half.  Build-once-search-many: the appended index persists behind
    the full-corpus fingerprint, so repeat calls are pure searches."""
    from ..operators.similarity import (
        ivf_pq_build_or_reuse,
        ivf_pq_topk,
        pq_append,
        topk_cosine,
    )

    emb = load_table(spark, sf, "embeddings")
    query = emb.filter(F.col("vec_id") == 7)
    exact = _pin_topk(topk_cosine(emb, query, k=10))

    def build(stage: str) -> None:
        ivf_pq_build_or_reuse(
            emb.filter(F.col("vec_id") % 2 == 0), stage, n_clusters=16,
            m=8, ksub=16,
        )
        pq_append(spark, stage, emb.filter(F.col("vec_id") % 2 == 1))

    idx, _, _ = reuse(
        "pqappend", f"{sf}|pqappend16-8-16", _index_want(emb), build
    )
    approx = ivf_pq_topk(
        emb, query, k=10, n_clusters=16, nprobe=12, m=8, ksub=16,
        rerank=200, index_path=idx,
    ).select("vec_id")
    overlap = exact.join(approx, "vec_id", "semi").count()
    return exact.select(
        "vec_id",
        F.round("sim", 4).alias("sim_r"),
        F.lit(overlap >= 7).alias("pq_append_recall_ok"),
    )


@q(
    "q385_index_erasure_contract",
    """SELECT b.vec_id,
              round(list_cosine_similarity(
                (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 7),
                b.embedding::DOUBLE[]), 4) AS sim_r,
              TRUE AS erasure_ok
       FROM embeddings b
       WHERE b.vec_id % 10 != 3
       ORDER BY list_cosine_similarity(
                (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 7),
                b.embedding::DOUBLE[]) DESC, b.vec_id
       LIMIT 10""",
)
def q385(spark: SparkSession, sf: str) -> DataFrame:
    """ANN index ERASURE contract (`ivf_delete` — the GDPR path): a
    deterministic cohort (vec_id % 10 == 3) is deleted from a persisted
    IVF-PQ index by rewriting ONLY the touched cluster partitions
    (untouched directories byte-identical, fully-emptied leaves
    removed, PQ code layer rewritten under the same layout, fingerprint
    meta recomputed LAST — all test-asserted in
    tests/test_round10_ops.py).  The exact top-10 over the SURVIVING
    corpus (value-checked by the oracle, which recomputes the erasure
    relationally) is annotated with whether the erased index's
    compressed-domain search (a) never surfaces a deleted id and (b)
    recovers >= 7 of the survivor top-10 — erasure must not cost
    survivor recall, because centroids, codebooks, and surviving rows'
    assignments are untouched by construction.

    Build-once-erase-once-search-many: the erased index's fingerprint
    EQUALS the surviving corpus's fingerprint, so repeat calls (and the
    composite's internal build_or_reuse over the survivor frame) reuse
    the erased artifact; a regenerated source rebuilds + re-erases."""
    from ..operators.similarity import (
        ivf_delete,
        ivf_pq_build_or_reuse,
        ivf_pq_topk,
        topk_cosine,
    )

    emb = load_table(spark, sf, "embeddings")
    surv = emb.filter(F.col("vec_id") % 10 != 3)
    query = emb.filter(F.col("vec_id") == 7)
    exact = _pin_topk(topk_cosine(surv, query, k=10))

    def build(stage: str) -> None:
        ivf_pq_build_or_reuse(emb, stage, n_clusters=16, m=8, ksub=16)
        ivf_delete(spark, stage, emb.filter(F.col("vec_id") % 10 == 3))

    idx, _, _ = reuse("erase", f"{sf}|erase16-8-16", _index_want(surv), build)
    approx = _pin_topk(
        ivf_pq_topk(
            surv, query, k=10, n_clusters=16, nprobe=12, m=8, ksub=16,
            rerank=200, index_path=idx,
        ).select("vec_id")
    )  # referenced twice: the doomed-id audit and the overlap count
    n_doomed = approx.filter(F.col("vec_id") % 10 == 3).count()
    overlap = exact.join(approx, "vec_id", "semi").count()
    return exact.select(
        "vec_id",
        F.round("sim", 4).alias("sim_r"),
        F.lit(n_doomed == 0 and overlap >= 7).alias("erasure_ok"),
    )


@q(
    "q386_stream_index_maintenance",
    """SELECT b.vec_id,
              round(list_cosine_similarity(
                (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 7),
                b.embedding::DOUBLE[]), 4) AS sim_r,
              TRUE AS stream_maintained_ok
       FROM embeddings b
       ORDER BY list_cosine_similarity(
                (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 7),
                b.embedding::DOUBLE[]) DESC, b.vec_id
       LIMIT 10""",
)
def q386(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING index maintenance contract: the IVF index is
    bootstrapped on HALF the corpus (even ids) and the other half
    arrives as a Structured Streaming file feed, applied per
    micro-batch by ``ivf_stream_maintainer`` under foreachBatch — the
    q212 exactly-once convention for index growth (batch ids recorded
    in the index's stream_meta AFTER the append; a redelivered
    committed epoch is skipped; an unrecorded partial epoch heals via
    delete-then-append — all dir-state-asserted in
    tests/test_round10_ops.py).  After the stream drains, one epoch is
    explicitly REDELIVERED and must not change the index
    (``redelivery_noop`` folds into the gate flag via the fingerprint).

    The exact top-10 over the FULL corpus (value-checked by the
    oracle) is annotated with whether the stream-maintained index
    recovers >= 7 of them — the batch-built index's answer is the
    oracle, so streaming ingestion must cost nothing vs a bulk
    ``ivf_append`` (identical frozen-centroid assignments, identical
    partitions).  Build-once-stream-once-search-many: the maintained
    index persists behind the full-corpus fingerprint; warm calls are
    pure searches."""
    from ..operators.similarity import (
        ivf_build,
        ivf_search,
        ivf_stream_maintainer,
        topk_cosine,
    )
    from ..streaming.windows import run_gate, write_ordered_feed_parallel

    emb = load_table(spark, sf, "embeddings")
    query = emb.filter(F.col("vec_id") == 7)
    exact = _pin_topk(topk_cosine(emb, query, k=10))
    want = _index_want(emb)

    def build(stage: str) -> None:
        evens = emb.filter(F.col("vec_id") % 2 == 0).select(
            "vec_id", "embedding"
        )
        odds = emb.filter(F.col("vec_id") % 2 == 1).select(
            "vec_id", "embedding"
        )
        ivf_build(evens, stage, n_clusters=32)
        feed = scratch_dir("ctdc-simnt-feed-")
        b0 = odds.filter(F.pmod(F.col("vec_id"), F.lit(4)) == 1)
        b1 = odds.filter(F.pmod(F.col("vec_id"), F.lit(4)) == 3)
        # padded parallel feed: one trigger == one epoch structurally,
        # and the two odd-half passes write at natural parallelism
        # instead of through the coalesce(1) single-writer funnel
        mft = write_ordered_feed_parallel([b0, b1], feed)
        handler = ivf_stream_maintainer(stage)
        stream = (
            spark.readStream.schema(b0.schema)
            .option("maxFilesPerTrigger", str(mft))
            .parquet(feed)
        )
        writer = stream.writeStream.foreachBatch(handler)
        run_gate(stream, writer, scratch_dir("ctdc-simnt-ckpt-"))
        # explicit epoch redelivery: committed batch 0 must be skipped
        handler(b0, 0)

    idx, _, _ = reuse("simnt", f"{sf}|simnt32", want, build)
    redelivery_noop = meta_matches(read_meta(spark, f"{idx}/meta"), want)
    # nprobe 16/32: measured 9/10 at sf0.001, 10/10 at sf0.01 — q143's
    # nprobe=8 landed exactly ON the 7/10 floor at sf0.001 here (the
    # stream slices the append half differently, so cell fill differs),
    # and a zero-margin recall gate is a flake, not a contract
    approx = ivf_search(spark, idx, query, k=10, nprobe=16).select("vec_id")
    overlap = exact.join(approx, "vec_id", "semi").count()
    return exact.select(
        "vec_id",
        F.round("sim", 4).alias("sim_r"),
        F.lit(bool(redelivery_noop) and overlap >= 7).alias(
            "stream_maintained_ok"
        ),
    )


@q(
    "q387_index_compaction_contract",
    """SELECT b.vec_id,
              round(list_cosine_similarity(
                (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 7),
                b.embedding::DOUBLE[]), 4) AS sim_r,
              TRUE AS compaction_ok
       FROM embeddings b
       ORDER BY list_cosine_similarity(
                (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 7),
                b.embedding::DOUBLE[]) DESC, b.vec_id
       LIMIT 10""",
)
def q387(spark: SparkSession, sf: str) -> DataFrame:
    """Index COMPACTION contract (`ivf_compact` — the maintenance pass
    closing the append loop): the index is built on half the corpus
    and grown with TWO appended quarters, so touched leaves accumulate
    one file per append; compaction bin-packs only those leaves
    (already-compact leaves byte-identical, rewrites via temp+rename —
    test-asserted), preserving rows exactly, so search results and the
    content fingerprint are UNCHANGED.  Cold runs prove the file count
    drops; EVERY warm run re-asserts idempotence (a second
    `ivf_compact` compacts zero partitions — a cheap file-count pass,
    no Spark job when already compact).  Recall floor >= 7/10 vs the
    exact full-corpus top-10 (the q143 family's contract; same frozen
    centroids, so compaction cannot move recall at all — the floor
    guards the composition, the equality lives in
    tests/test_round10_ops.py)."""
    from ..operators.similarity import (
        ivf_append,
        ivf_build,
        ivf_compact,
        ivf_search,
        topk_cosine,
    )

    emb = load_table(spark, sf, "embeddings")
    query = emb.filter(F.col("vec_id") == 7)
    exact = _pin_topk(topk_cosine(emb, query, k=10))

    def build(stage: str) -> dict:
        ivf_build(emb.filter(F.col("vec_id") % 2 == 0), stage, n_clusters=32)
        odd = F.pmod(F.col("vec_id"), F.lit(4))
        ivf_append(spark, stage, emb.filter(odd == 1))
        ivf_append(spark, stage, emb.filter(odd == 3))
        c = ivf_compact(spark, stage)
        return {
            "compacted": c["partitions_compacted"] > 0
            and c["files_after"] < c["files_before"]
        }

    idx, meta, built = reuse(
        "compactivf", f"{sf}|compact32", _index_want(emb), build
    )
    # steady state: an already-compacted index must be a no-op
    compact_proof = (
        meta["compacted"]
        if built
        else ivf_compact(spark, idx)["partitions_compacted"] == 0
    )
    approx = ivf_search(spark, idx, query, k=10, nprobe=16).select("vec_id")
    overlap = exact.join(approx, "vec_id", "semi").count()
    return exact.select(
        "vec_id",
        F.round("sim", 4).alias("sim_r"),
        F.lit(bool(compact_proof) and overlap >= 7).alias("compaction_ok"),
    )


@q(
    "q388_centroid_drift_contract",
    """SELECT count(*)::BIGINT AS n_vectors,
              TRUE AS in_dist_ok,
              TRUE AS shift_flagged,
              TRUE AS baseline_reused
       FROM embeddings""",
)
def q388(spark: SparkSession, sf: str) -> DataFrame:
    """Centroid-DRIFT contract (`ivf_drift` — the scheduling signal for
    the full-rebuild compaction that every append path defers to): an
    in-distribution batch (an id-slice of the indexed corpus itself)
    must NOT trip the detector (distortion ratio ~1, assignment TVD at
    sampling-noise level — measured <=0.12 vs the 0.35 threshold at
    both SFs), while an additively shifted batch (x -> x + 3, which
    concentrates every direction near the all-ones diagonal) MUST trip
    it via the assignment histogram (TVD measured 0.94: nearly all
    mass collapses into the diagonal's cell).  The corpus baseline is
    computed once and persisted behind the index content fingerprint —
    the second drift call on the same index must REUSE it (O(batch)
    steady-state cost), gate-asserted via `baseline_reused`."""
    from ..operators.similarity import ivf_build_or_reuse, ivf_drift

    emb = load_table(spark, sf, "embeddings")
    idx = reuse_dir("driftivf", f"{sf}|drift16")
    ivf_build_or_reuse(emb, idx, n_clusters=16)
    in_dist = emb.filter(F.col("vec_id") % 2 == 0)
    shifted = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(x + 3.0 AS float))"
        ).alias("embedding"),
    )
    d1 = ivf_drift(spark, idx, in_dist)
    d2 = ivf_drift(spark, idx, shifted)
    return emb.agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.lit(not d1["needs_refit"]).alias("in_dist_ok"),
        F.lit(
            bool(d2["needs_refit"]) and d2["assignment_tvd"] > 0.35
        ).alias("shift_flagged"),
        F.lit(bool(d2["reused_baseline"])).alias("baseline_reused"),
    )


@q(
    "q389_index_stats_contract",
    """SELECT count(*)::BIGINT AS n_vectors,
              16 AS n_clusters,
              TRUE AS leaves_consistent,
              TRUE AS imbalance_ok,
              TRUE AS files_bounded
       FROM embeddings""",
)
def q389(spark: SparkSession, sf: str) -> DataFrame:
    """Index OBSERVABILITY contract (`ivf_stats` — the numbers that
    schedule the two maintenance passes: `ivf_compact` when
    files-per-leaf grows, full rebuild when `ivf_drift` fires or leaf
    skew degrades probe pruning): n_vectors must equal the corpus count
    (meta fingerprint, no data scan), leaf sizes must sum to it and
    every leaf must be non-empty at gate scale, imbalance
    (max_leaf/mean_leaf) must stay under 4 on the near-isotropic gate
    corpus, and a freshly built (never-appended) index must have
    exactly one file per leaf — the one-writer-per-leaf build shuffle's
    observable contract."""
    from ..operators.similarity import ivf_build_or_reuse, ivf_stats

    emb = load_table(spark, sf, "embeddings")
    idx = reuse_dir("driftivf", f"{sf}|drift16")
    ivf_build_or_reuse(emb, idx, n_clusters=16)
    st = ivf_stats(spark, idx)
    n = emb.count()
    leaves_ok = (
        st["n_vectors"] == n
        and st["nonempty_clusters"] == st["n_clusters"]
        and st["max_leaf"] * st["nonempty_clusters"] >= n  # sizes sum sanity
        and abs(st["mean_leaf"] * st["nonempty_clusters"] - n) < 1e-6
    )
    return emb.agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.lit(st["n_clusters"]).cast("int").alias("n_clusters"),
        F.lit(bool(leaves_ok)).alias("leaves_consistent"),
        F.lit(bool(st["imbalance"] < 4.0)).alias("imbalance_ok"),
        F.lit(
            st["avg_files_per_leaf"] == 1.0 and st["files"] == st["leaf_dirs"]
        ).alias("files_bounded"),
    )


@q(
    "q390_index_autopilot_contract",
    """SELECT count(*)::BIGINT AS n_vectors,
              TRUE AS maintained_ok,
              TRUE AS recall_ok
       FROM embeddings""",
)
def q390(spark: SparkSession, sf: str) -> DataFrame:
    """Index AUTOPILOT contract (`ivf_maintain` — drift-check ->
    append-or-refit -> compact, one call per arriving batch): built on
    the even half, the odd half must APPEND (in-distribution; its
    distortion partials advance the persisted baseline exactly — no
    index re-pass), then an additively shifted batch must trigger a
    REBUILD (assignment TVD 0.95: the batch's mass lands where the
    index has none), after which the CLOSURE property holds: the same
    batch re-checked against the re-fit index has distortion ratio
    ~0 (its region now owns centroids).  TVD stays high on that
    re-check BY DESIGN — a concentrated batch is always a mass
    relocation; that axis answers "is mass moving", which a re-fit
    does not (and should not) change; the ratio axis answers "can the
    frozen quantizer represent it", which the re-fit fixes.  The
    ratio threshold is 1.6 here, not the 1.25 default: a baseline
    measured on the index's OWN vectors is in-sample, and at the gate
    corpus's ~15 points/cluster the out-of-sample generalization gap
    alone is ~1.26 (measured; at the 10^6 probe's ~4k points/cluster
    it is 1.002 — see SCALEBENCH drift_n1000000).  Warm runs detect
    the steady-state fingerprint and re-assert the non-mutating half:
    in-distribution batches stay clean, a never-applied shift is
    still flagged, compaction is a no-op, recall holds.  Recall floor
    >= 7/10 vs exact over the union corpus (measured 10/10)."""
    from ..operators.similarity import (
        ivf_build,
        ivf_compact,
        ivf_drift,
        ivf_maintain,
        ivf_search,
        topk_cosine,
    )

    emb = load_table(spark, sf, "embeddings")
    fvec = F.col("embedding").cast("array<float>").alias("embedding")
    shifted = emb.filter(F.col("vec_id") % 5 == 1).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr(
            "transform(embedding, x -> CAST(x + 3.0 AS float))"
        ).alias("embedding"),
    )
    union = emb.select("vec_id", fvec).unionByName(
        shifted.select("vec_id", fvec)
    )

    def build(stage: str) -> dict:
        ivf_build(emb.filter(F.col("vec_id") % 2 == 0), stage, n_clusters=16)
        r1 = ivf_maintain(
            spark, stage, emb.filter(F.col("vec_id") % 2 == 1),
            distortion_ratio_max=1.6,
        )
        r2 = ivf_maintain(spark, stage, shifted, distortion_ratio_max=1.6)
        closure = ivf_drift(spark, stage, shifted, distortion_ratio_max=1.6)
        return {
            "maintained": r1["action"] == "append"
            and r2["action"] == "rebuild"
            and closure["distortion_ratio"] < 1.6
            and r2["compaction"]["partitions_compacted"] == 0
        }

    idx, meta, built = reuse(
        "autopilot", f"{sf}|ap16", _index_want(union), build
    )
    if built:
        maintained = meta["maintained"]
    else:
        # steady state: re-assert every non-mutating claim
        d_in = ivf_drift(
            spark, idx, emb.filter(F.col("vec_id") % 2 == 1),
            distortion_ratio_max=1.6,
        )
        never_applied = emb.filter(F.col("vec_id") % 5 == 2).select(
            (F.col("vec_id") + 200000).alias("vec_id"),
            F.expr(
                "transform(embedding, x -> CAST(x - 3.0 AS float))"
            ).alias("embedding"),
        )
        d_out = ivf_drift(
            spark, idx, never_applied, distortion_ratio_max=1.6
        )
        maintained = (
            d_in["distortion_ratio"] < 1.6
            and d_out["needs_refit"]
            and ivf_compact(spark, idx)["partitions_compacted"] == 0
        )
    query = emb.filter(F.col("vec_id") == 7)
    exact = topk_cosine(union, query, k=10)  # single reference: no pin
    approx = ivf_search(spark, idx, query, k=10, nprobe=16).select("vec_id")
    overlap = exact.join(approx, "vec_id", "semi").count()
    return emb.agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.lit(bool(maintained)).alias("maintained_ok"),
        F.lit(overlap >= 7).alias("recall_ok"),
    )
