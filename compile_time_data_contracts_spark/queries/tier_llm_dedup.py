"""LLM-pipeline dedup family: exact / MinHash-LSH / SimHash /
containment / prefix-filtered entity resolution, incremental indexes,
connected components, curation pipelines, dedup reporting."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from ._shared import _ORACLES, _QUERIES, _ts_str, q  # noqa: F401
from ..operators.materialize import reuse_dir, scratch_dir


# =========================================================================
# LLM-data-pipeline extensions (Q48+)
# =========================================================================

@q(
    "q48_exact_dedup",
    """SELECT count(*) AS n_docs,
              CAST(count(DISTINCT sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
                   AS BIGINT) AS n_unique
       FROM documents""",
)
def q48(spark: SparkSession, sf: str) -> DataFrame:
    """Single-pass form: count + distinct-hash count in one scan (the
    exact_dedup operator itself — dropDuplicates on the hash — is
    library API, exercised in tests)."""
    from ..operators.dedup import normalize_text

    docs = load_table(spark, sf, "documents")
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.sha2(normalize_text("text"), 256))
        .cast("bigint")
        .alias("n_unique"),
    )


# co-occurrence form (shingle-join + per-doc set sizes) rather than an
# O(n²) list_intersect cross join — same answer for any threshold > 0,
# ~10× faster in the driver's correctness gate
_JACCARD_ORACLE = """
    WITH sh AS (
      SELECT DISTINCT doc_id,
             concat_ws('|', toks[gs], toks[gs+1], toks[gs+2]) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           LATERAL UNNEST(generate_series(1, greatest(len(toks) - 2, 1))) t(gs)
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(i::DOUBLE / (sa.sz + sb.sz - i), 4) AS jaccard_r
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.5
"""


@q("q53_ngram_jaccard_neardup", _JACCARD_ORACLE)
def q53(spark: SparkSession, sf: str) -> DataFrame:
    """Exact all-pairs word-3-gram Jaccard — the correctness baseline for
    near-dup detection."""
    docs = load_table(spark, sf, "documents")
    pairs = jaccard_pairs(docs, threshold=0.5)
    return pairs.select(
        "doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard_r")
    )


@q("q54_minhash_lsh_neardup", _JACCARD_ORACLE)
def q54(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH banding + exact verification — the 100 TB path.  With
    32 hashes / 16 bands the candidate recall at Jaccard>=0.5 is >0.9999,
    so the verified output equals the exact all-pairs oracle."""
    docs = load_table(spark, sf, "documents")
    pairs = minhash_near_dup_pairs(docs, threshold=0.5)
    return pairs.select(
        "doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard_r")
    )


@q("q55_simhash")  # 64-bit signature: not SQL-expressible, rows-only check
def q55(spark: SparkSession, sf: str) -> DataFrame:
    """Explode + one map-side-combined aggregate (simhash_table) — no
    interpreted HOF in the plan; bit-identical to the simhash()
    expression form (pinned by test_simhash_table_matches_expression)."""
    docs = load_table(spark, sf, "documents")
    return simhash_table(docs, "doc_id", "text")


@q(
    "q59_fingerprint",
    """SELECT doc_id,
              md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp_md5
       FROM documents""",
)
def q59(spark: SparkSession, sf: str) -> DataFrame:
    """Whole-document md5 fingerprint (oracle-checked); the winnowing
    rolling-hash variant rides along as a rows-only extra column in q60."""
    docs = load_table(spark, sf, "documents")
    return docs.select("doc_id", fingerprint_md5("text").alias("fp_md5"))


@q("q60_winnow_fingerprint")  # xxhash64-based: rows-only check
def q60(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.spread import spread_for_compute

    docs = load_table(spark, sf, "documents")
    # the rolling-window HOF hash is interpreted (no codegen) and would
    # run single-task on a single-row-group scan — spread first (guide
    # §2.5; per-row deterministic output, so placement is free to vary)
    return spread_for_compute(docs.select("doc_id", "text")).select(
        "doc_id", winnow_fingerprint("text", k=5).alias("fp_winnow")
    )


@q(
    "q72_keep_best_dedup",
    """SELECT CAST(count(*) AS BIGINT) AS n_kept,
              CAST(sum(doc_id) AS BIGINT) AS id_sum
       FROM (
         SELECT arg_max(doc_id, n_chars) AS doc_id
         FROM documents
         GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
       )""",
)
def q72(spark: SparkSession, sf: str) -> DataFrame:
    """Keep-best exact dedup: one winner per normalized-text group,
    chosen by max n_chars (tie-broken identically in both engines since
    duplicate groups here are singletons or share n_chars order)."""
    from ..operators.dedup import keep_best_dedup

    docs = load_table(spark, sf, "documents")
    kept = keep_best_dedup(docs, score_col="n_chars", ascending=False)
    return kept.agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
    )


@q(
    "q73_neardup_clusters",
    """WITH RECURSIVE pairs AS (
         SELECT doc_a, doc_b FROM (
           WITH sh AS (
             SELECT DISTINCT doc_id,
                    concat_ws('|', toks[gs], toks[gs+1], toks[gs+2]) AS shingle
             FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
                  LATERAL UNNEST(generate_series(1, greatest(len(toks) - 2, 1))) t(gs)
           ), sizes AS (
             SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
           ), inter AS (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
             FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             GROUP BY a.doc_id, b.doc_id
           )
           SELECT doc_a, doc_b FROM inter
           JOIN sizes sa ON sa.doc_id = doc_a
           JOIN sizes sb ON sb.doc_id = doc_b
           WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.5
         )
       ), edges AS (
         SELECT doc_a AS src, doc_b AS dst FROM pairs
         UNION SELECT doc_b, doc_a FROM pairs
       ), reach(src, dst) AS (
         SELECT src, dst FROM edges
         UNION
         SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       )
       SELECT src AS doc_id,
              least(src, min(dst)) AS cluster_id
       FROM reach GROUP BY src""",
)
def q73(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup clustering: MinHash-LSH pairs -> connected components
    (star contraction to the component min), the standard
    choose-one-per-cluster step.
    Oracle computes the same clusters via transitive closure over the
    exact-Jaccard pair graph (recursive CTE)."""
    from ..operators.dedup import connected_components_star

    docs = load_table(spark, sf, "documents")
    # 64 hashes / 32 bands: candidate probability at J=0.5 is
    # 1-(1-0.25)^32 ≈ 0.9999 (vs 0.986 with 16 bands), so the clustered
    # graph equals the exact-Jaccard oracle graph with margin
    pairs = minhash_near_dup_pairs(
        docs, threshold=0.5, num_hashes=64, bands=32
    )
    return connected_components_star(pairs)


@q(
    "q89_contamination_check",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents),
            g AS (SELECT doc_id,
                         array_to_string(toks[1 + j : j + 3], '|') AS shingle
                  FROM t, LATERAL UNNEST(generate_series(
                           0, CAST(greatest(len(toks) - 3, 0) AS BIGINT)
                         )) AS s(j)),
            corp AS (SELECT doc_id, shingle FROM g WHERE doc_id % 97 <> 0),
            bench AS (SELECT DISTINCT doc_id AS bench_id, shingle
                      FROM g WHERE doc_id % 97 = 0)
       SELECT c.doc_id,
              CAST(count(DISTINCT c.shingle) AS BIGINT) AS n_shared_ngrams,
              CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
       FROM corp c JOIN bench b USING (shingle)
       GROUP BY c.doc_id""",
)
def q89(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing any word
    3-gram with the held-out eval split (doc_id % 97 == 0).  Benchmark
    n-grams broadcast (eval sets are small); corpus side never shuffles
    for the join — only the per-doc count-distinct aggregates."""
    from ..operators.dedup import contamination_check

    docs = load_table(spark, sf, "documents")
    bench = docs.filter(F.pmod(F.col("doc_id"), F.lit(97)) == 0)
    corpus = docs.filter(F.pmod(F.col("doc_id"), F.lit(97)) != 0)
    return contamination_check(corpus, bench, "doc_id", "text", n=3)


@q(
    "q99_curation_pipeline",
    """WITH f AS (SELECT * FROM documents
                  WHERE len(string_split(text, ' ')) BETWEEN 20 AND 80),
            l AS (SELECT *, lower(array_to_string(
                              string_split(text, ' ')[1:3], ' ')) AS lead
                  FROM f),
            d AS (SELECT * FROM (
                    SELECT *, row_number() OVER (
                               PARTITION BY lead ORDER BY doc_id
                             ) AS rk
                    FROM l) WHERE rk = 1),
            s AS (SELECT * FROM d
                  WHERE ((doc_id * 2654435761) % 4294967296) * 10000
                        / 4294967296 < 5000)
       SELECT lang, count(*) AS n_kept,
              CAST(sum(n_chars) AS BIGINT) AS total_chars
       FROM s GROUP BY lang""",
)
def q99(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end curation pipeline, composed from the library: length
    gate -> deterministic lead-prefix dedup (keep_best: min doc_id per
    normalized 3-token lead, one min_by aggregate, no window sort) ->
    deterministic 50% hash sample -> per-language stats.  Every stage
    is reproducible (pure functions of the data), so the oracle
    recomputes the identical final corpus."""
    from ..operators.dedup import keep_best_dedup
    from ..operators.sampling import deterministic_sample
    from ..operators.text import token_count

    docs = load_table(spark, sf, "documents")
    gated = docs.filter(token_count("text").between(20, 80))
    with_lead = gated.withColumn(
        "lead",
        F.lower(F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 3))),
    )
    deduped = keep_best_dedup(
        with_lead, col="lead", score_col="doc_id", ascending=True
    )
    sampled = deterministic_sample(deduped, rate=0.5, key_col="doc_id")
    return sampled.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@q(
    "q101_components_deep_chain",
    """WITH nodes AS (
         SELECT event_id, user_id,
                count(*) OVER (PARTITION BY user_id) AS n_user
         FROM events)
       SELECT event_id AS doc_id,
              min(event_id) OVER (PARTITION BY user_id) AS cluster_id
       FROM nodes WHERE n_user >= 2""",
)
def q101(spark: SparkSession, sf: str) -> DataFrame:
    """Connected components on a DEEP graph: each user's events chained
    consecutively (chain length = events/user, ~100 at sf0.01 — ~100
    rounds for O(diameter) min-label propagation).  The large-star/
    small-star operator contracts every chain to its min in O(log n)
    alternations; the oracle knows each chain's component is simply the
    per-user min event_id."""
    from ..operators.dedup import connected_components_star

    ev = load_table(spark, sf, "events").select("event_id", "user_id")
    w = Window.partitionBy("user_id").orderBy("event_id")
    edges = (
        ev.withColumn("__prev", F.lag("event_id").over(w))
        .filter(F.col("__prev").isNotNull())
        .select(
            F.col("__prev").alias("doc_a"), F.col("event_id").alias("doc_b")
        )
    )
    return connected_components_star(edges)


@q(
    "q119_embedding_dedup_scrub",
    """WITH RECURSIVE pairs AS (
         SELECT a.vec_id AS va, b.vec_id AS vb
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]) >= 0.45
       ), edges AS (
         SELECT va AS src, vb AS dst FROM pairs
         UNION SELECT vb, va FROM pairs
       ), reach(src, dst) AS (
         SELECT src, dst FROM edges
         UNION
         SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       ), clus AS (
         SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
         FROM reach GROUP BY src
       ), kept AS (
         SELECT e.vec_id, e.label
         FROM embeddings e LEFT JOIN clus c ON e.vec_id = c.vec_id
         WHERE c.vec_id IS NULL OR c.cluster_id = e.vec_id
       )
       SELECT label, CAST(count(*) AS BIGINT) AS n_kept
       FROM kept GROUP BY label""",
)
def q119(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end embedding near-dup SCRUB — the composite every
    training-data pipeline actually runs: exact cosine pairs (the
    size-guarded dispatcher; LSH is the drop-in above exact-feasible
    scale) -> connected components -> keep the min-id representative per
    cluster, singletons pass through untouched -> per-label survivor
    counts.  The oracle recomputes the identical scrub via an O(n²)
    cosine self-join + recursive transitive closure, so cluster
    formation AND representative choice are value-checked end to end."""
    from ..operators.dedup import connected_components_star

    emb = load_table(spark, sf, "embeddings")
    pairs = cosine_pairs(emb, threshold=0.45)
    clus = connected_components_star(pairs, "vec_a", "vec_b")
    kept = (
        emb.join(
            clus.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left"
        )
        .filter(
            F.col("cluster_id").isNull()
            | (F.col("cluster_id") == F.col("vec_id"))
        )
    )
    return kept.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_kept")
    )


@q(
    "q135_incremental_neardup",
    """WITH sh AS (
      SELECT DISTINCT doc_id,
             concat_ws('|', toks[gs], toks[gs+1], toks[gs+2]) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           LATERAL UNNEST(generate_series(1, greatest(len(toks) - 2, 1))) t(gs)
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle
       AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(i::DOUBLE / (sa.sz + sb.sz - i), 4) AS jaccard_r
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.5""",
)
def q135(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental cross-batch near-dup dedup: the corpus half (even doc
    ids) is indexed ONCE (persisted banded signatures + shingle sets +
    content fingerprint, reused across calls via the meta fingerprint),
    then the new batch (odd doc ids) is deduped AGAINST the index — only
    the batch is shingled; the corpus side is two parquet reads.  The
    oracle recomputes the same cross-set pairs from raw text, so a green
    hash proves the index path loses nothing vs a from-scratch run.
    Mirrors daily-crawl ingest at 100 TB: per-batch cost is one
    broadcast-join scan of the ids+longs band table, never a corpus
    re-shingle or corpus shuffle."""
    docs = load_table(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    idx = reuse_dir("ndidx", f"{sf}|nd-even")
    minhash_index_reuse_or_build(corpus, idx)
    pairs = near_dup_against(spark, idx, batch, threshold=0.5)
    return pairs.select(
        "doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard_r")
    )


@q(
    "q138_semantic_dedup",
    """SELECT e1.vec_id
       FROM embeddings e1
       WHERE NOT EXISTS (
         SELECT 1 FROM embeddings e2
         WHERE e2.label = e1.label
           AND e2.vec_id < e1.vec_id
           AND list_cosine_similarity(CAST(e2.embedding AS DOUBLE[]),
                                      CAST(e1.embedding AS DOUBLE[])) >= 0.35)""",
)
def q138(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style semantic dedup: within each cluster (the ``label``
    column stands in for the k-means centroid assignment), drop every
    vector with a lower-id neighbor at cosine >= 0.35; survivors only.
    One shuffle on the cluster key + per-cluster Arrow-batched BLAS —
    never all-pairs across clusters (operators/dedup.py:semantic_dedup).
    tau=0.35 sits >= 5e-5 from every actual pairwise cosine at all SFs,
    so the f64 boundary cannot flip between engines."""
    from ..operators.dedup import semantic_dedup

    emb = load_table(spark, sf, "embeddings")
    return semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding",
        cluster_col="label", threshold=0.35,
    )


@q(
    "q150_entity_resolution",
    """WITH RECURSIVE tok AS (
         SELECT p_partkey, p_brand, p_retailprice,
                list_distinct(list_concat(
                  string_split(p_name, ' '),
                  string_split(lower(p_type), ' '))) AS toks
         FROM part
       ), pairs AS (
         SELECT a.p_partkey AS doc_a, b.p_partkey AS doc_b
         FROM tok a JOIN tok b
           ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
         WHERE len(list_intersect(a.toks, b.toks))::DOUBLE /
               len(list_distinct(list_concat(a.toks, b.toks))) >= 0.6
       ), edges AS (
         SELECT doc_a AS src, doc_b AS dst FROM pairs
         UNION SELECT doc_b, doc_a FROM pairs
       ), reach(src, dst) AS (
         SELECT src, dst FROM edges
         UNION
         SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       ), lab AS (
         SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         FROM reach GROUP BY src
       )
       SELECT l.cluster_id AS entity_id,
              CAST(count(*) AS BIGINT) AS n_members,
              round(max(p.p_retailprice) - min(p.p_retailprice), 2)
                AS price_spread_r
       FROM lab l JOIN part p ON p.p_partkey = l.doc_id
       GROUP BY l.cluster_id""",
)
def q150(spark: SparkSession, sf: str) -> DataFrame:
    """Entity resolution (record linkage): parts whose name+type token
    sets overlap at Jaccard >= 0.6 within a p_brand BLOCK are the same
    entity; matched pairs are clustered with connected components and
    each entity reports its size and price spread.  Candidates come
    from an INVERTED token index, not a block cross product: records
    explode to (brand, token) postings, an equi-join + partial-combined
    count yields |A∩B| per co-occurring pair, and Jaccard is
    i/(sa+sb-i) — only pairs sharing >= 1 token are ever materialized,
    each as one counted row instead of a per-pair array intersection
    (measured 4.6x faster than the block cross join at sf0.1, identical
    pairs).  Blocking remains the outer scale lever (the join key is
    (brand, token)); a hot block salts like any skewed join.  The
    hot-TOKEN df² exposure of this posting join is removed by q190's
    prefix-filtered variant (provably identical output, rarity-ordered
    prefixes prune the posting lists structurally) — that is the path
    for corpora with stop-token skew.  The oracle replays matching
    exactly and closes the transitive match graph with a recursive
    CTE."""
    from ..operators.dedup import connected_components_star

    parts = load_table(spark, sf, "part")
    tok = parts.select(
        "p_partkey",
        "p_brand",
        F.array_distinct(
            F.concat(
                F.split(F.col("p_name"), " "),
                F.split(F.lower(F.col("p_type")), " "),
            )
        ).alias("toks"),
    )
    # the posting explode feeds BOTH sides of the co-occurrence
    # self-join — checkpoint once so the part scan + tokenize + explode
    # tower runs once per call (the _capped_pair_scores discipline)
    from ..operators.materialize import pin as _pin
    ex = tok.select(
        "p_partkey",
        "p_brand",
        F.size("toks").alias("sz"),
        F.explode("toks").alias("t"),
    ).transform(_pin)
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.t") == F.col("b.t"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .groupBy(
            F.col("a.p_partkey").alias("doc_a"),
            F.col("b.p_partkey").alias("doc_b"),
            F.col("a.sz").alias("sa"),
            F.col("b.sz").alias("sb"),
        )
        .agg(F.count("*").alias("i"))
    )
    matched = inter.filter(
        F.col("i") / (F.col("sa") + F.col("sb") - F.col("i")) >= 0.6
    ).select("doc_a", "doc_b")
    labels = connected_components_star(matched)
    return (
        labels.join(
            parts.select(
                F.col("p_partkey").alias("doc_id"), "p_retailprice"
            ),
            "doc_id",
        )
        .groupBy(F.col("cluster_id").alias("entity_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.round(
                F.max("p_retailprice") - F.min("p_retailprice"), 2
            ).alias("price_spread_r"),
        )
    )


@q(
    "q152_components_incremental",
    """WITH nodes AS (
         SELECT event_id, user_id,
                count(*) OVER (PARTITION BY user_id) AS n_user
         FROM events)
       SELECT event_id AS doc_id,
              min(event_id) OVER (PARTITION BY user_id) AS cluster_id
       FROM nodes WHERE n_user >= 2""",
)
def q152(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental connected components: yesterday's labels + today's
    edge batch, WITHOUT re-walking yesterday's graph.  The per-user
    event chains are split into two batches; batch 1 is clustered from
    scratch, then its (node, label) table re-enters as depth-1 star
    edges alongside batch 2's edges only.  The result must equal the
    full recompute — the oracle (per-user min event id) checks exactly
    that.  At 100 TB the saving is the point: the old corpus's pair
    machinery never reruns; daily work is proportional to the new
    batch's reach."""
    from ..operators.dedup import (
        connected_components_incremental,
        connected_components_star,
    )

    ev = load_table(spark, sf, "events").select("event_id", "user_id")
    w = Window.partitionBy("user_id").orderBy("event_id")
    edges = (
        ev.withColumn("__prev", F.lag("event_id").over(w))
        .filter(F.col("__prev").isNotNull())
        .select(
            F.col("__prev").alias("doc_a"), F.col("event_id").alias("doc_b")
        )
    )
    # the lag-window edge pipeline (full shuffle + sort over events) is
    # read by BOTH star runs (batch 1 from scratch, batch 2 inside the
    # incremental union); checkpoint it once so the expensive window
    # executes once and both batches replay cheap columnar files —
    # measured ~4 s saved at sf0.1, and it is the same durability story
    # as the loop's own per-round checkpoints
    from ..operators.materialize import pin as _pin
    edges = edges.transform(_pin)
    batch1 = edges.filter(F.col("doc_b") % 3 != 0)
    batch2 = edges.filter(F.col("doc_b") % 3 == 0)
    labels1 = connected_components_star(batch1)
    return connected_components_incremental(labels1, batch2)


@q(
    "q156_duplicate_spans",
    """WITH pos AS (
         SELECT doc_id, len(toks) AS n_toks,
                CAST(gs - 1 AS BIGINT) AS pos,
                concat_ws(' ', toks[gs], toks[gs+1], toks[gs+2],
                          toks[gs+3], toks[gs+4], toks[gs+5],
                          toks[gs+6], toks[gs+7]) AS g
         FROM (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
              LATERAL UNNEST(generate_series(1, len(toks) - 7)) t(gs)
         WHERE len(toks) >= 8
       ), shared AS (
         SELECT g FROM pos GROUP BY g
         HAVING count(DISTINCT doc_id) >= 2
       ), dup AS (
         SELECT p.doc_id, p.n_toks, p.pos
         FROM pos p JOIN shared s ON p.g = s.g
       ), isl AS (
         SELECT doc_id, n_toks, pos,
                CASE WHEN lag(pos) OVER w IS NULL
                          OR pos - lag(pos) OVER w > 8
                     THEN 1 ELSE 0 END AS ni
         FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
       ), grp AS (
         SELECT doc_id, n_toks, pos,
                sum(ni) OVER (PARTITION BY doc_id ORDER BY pos)
                  AS island
         FROM isl
       ), spans AS (
         SELECT doc_id, any_value(n_toks) AS n_toks,
                max(pos) - min(pos) + 8 AS span_len
         FROM grp GROUP BY doc_id, island
       )
       SELECT CAST(doc_id AS BIGINT) AS doc_id,
              CAST(count(*) AS BIGINT) AS n_dup_spans,
              CAST(sum(span_len) AS BIGINT) AS dup_tokens,
              round(sum(span_len)::DOUBLE / any_value(n_toks), 6)
                AS dup_frac
       FROM spans GROUP BY doc_id""",
)
def q156(spark: SparkSession, sf: str) -> DataFrame:
    """Exact duplicate-SPAN detection (token-level dedup, the public
    'Deduplicating Training Data' recipe re-expressed relationally):
    8-token windows whose exact text appears in >= 2 documents, merged
    into per-document spans (gaps-and-islands window), reported as
    span count / duplicated tokens / duplicated fraction.  The only
    corpus-wide shuffle moves (hash, doc, pos) longs — never text; a
    suffix array finds longer repeats but needs a global sort."""
    from ..operators.text import duplicate_span_stats

    docs = load_table(spark, sf, "documents")
    return duplicate_span_stats(docs, ngram=8)


# the exact all-pairs containment answer (q157's oracle): both q188's
# df-capped path and q189's banding-first composite must reproduce it
# bit-for-bit on the fixture — losslessness is the point of the gate
_CONTAINMENT_ORACLE = """
    WITH sh AS (
      SELECT DISTINCT doc_id,
             concat_ws('|', toks[gs], toks[gs+1], toks[gs+2]) AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents),
           LATERAL UNNEST(generate_series(1, greatest(len(toks) - 2, 1)))
             t(gs)
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b
        ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT CAST(doc_a AS BIGINT) AS doc_a,
           CAST(doc_b AS BIGINT) AS doc_b,
           round(i::DOUBLE / sz.sz, 6) AS containment
    FROM inter JOIN sizes sz ON sz.doc_id = doc_a
    WHERE round(i::DOUBLE / sz.sz, 6) >= 0.8
"""


@q("q188_capped_containment", _CONTAINMENT_ORACLE)
def q188(spark: SparkSession, sf: str) -> DataFrame:
    """Containment dedup with the hot-shingle df-cap engaged
    (``max_df=5`` drops the fixture's ~30 most common shingles from
    candidate generation — the same shingles a 100 TB corpus would
    contribute as df=10⁶ boilerplate, where the uncapped co-occurrence
    join's O(Σ df²) is 10¹² rows for ONE stop-shingle).  Candidates
    come from the capped posting self-join (each surviving shingle
    contributes ≤ max_df² rows); every candidate is verified against
    the FULL shingle sets, so values are exact and the oracle is the
    plain uncapped all-pairs answer — the gate proves the cap is
    lossless here, not merely fast.  Dropped shingles are surfaced by
    ``hot_shingle_report`` + an INFO log, never silently."""
    from ..operators.dedup import containment_pairs

    docs = load_table(spark, sf, "documents")
    return containment_pairs(docs, n=3, threshold=0.8, max_df=5).select(
        F.col("doc_a").cast("bigint").alias("doc_a"),
        F.col("doc_b").cast("bigint").alias("doc_b"),
        "containment",
    )


@q("q189_banding_then_containment", _CONTAINMENT_ORACLE)
def q189(spark: SparkSession, sf: str) -> DataFrame:
    """The banding-first containment composite: MinHash-LSH candidate
    generation (O(colliding buckets), hot-shingle-immune — signatures
    are H mins, not posting lists) followed by exact containment
    scoring of the candidates' full shingle sets, both directions.
    Recall rides on the pair's Jaccard (C >= 0.8 on comparable sizes ⇒
    J >= 2/3 ⇒ collision w.p. > 0.9999 at r=2, b=16), so on this
    fixture — where every containment pair has J >= 0.88 — the output
    equals the exact all-pairs oracle; the extreme quote-inside-a-book
    asymmetry that banding cannot see is q188's df-capped exact path."""
    from ..operators.dedup import banding_then_containment

    docs = load_table(spark, sf, "documents")
    return banding_then_containment(docs, n=3, threshold=0.8).select(
        F.col("doc_a").cast("bigint").alias("doc_a"),
        F.col("doc_b").cast("bigint").alias("doc_b"),
        "containment",
    )


@q(
    "q190_prefix_filtered_entity_resolution",
    # the EXACT entity-resolution answer — q150's oracle verbatim: the
    # prefix-filtered candidate path must reproduce it bit-for-bit
    _ORACLES["q150_entity_resolution"],
)
def q190(spark: SparkSession, sf: str) -> DataFrame:
    """q150's entity resolution with PREFIX-FILTERED candidate
    generation (PPJoin/AllPairs, Bayardo et al. WWW'07): tokens are
    ranked by global rarity and only each record's first
    |X| - ceil(0.6·|X|) + 1 tokens are indexed — by pigeonhole any pair
    at Jaccard >= 0.6 shares a prefix token, so candidates are
    provably complete for ANY data (a df-cap is NOT: this fixture has
    matched pairs sharing only 2 tokens, so dropping a hot token could
    silently lose a match).  Hot tokens die structurally — rarity
    ordering pushes a stop-token to the end of every record, so its
    posting list (the df² term) only keeps records made almost
    entirely of stop-tokens.  Candidates are verified exactly on full
    token arrays; the oracle is q150's exact SQL, proving losslessness
    end-to-end through the same connected-components clustering."""
    from ..operators.dedup import (
        connected_components_star,
        prefix_filtered_jaccard_pairs,
    )

    parts = load_table(spark, sf, "part")
    tok = parts.select(
        "p_partkey",
        "p_brand",
        F.array_distinct(
            F.concat(
                F.split(F.col("p_name"), " "),
                F.split(F.lower(F.col("p_type")), " "),
            )
        ).alias("toks"),
    )
    matched = prefix_filtered_jaccard_pairs(
        tok, "p_partkey", "toks", 0.6, block_col="p_brand"
    ).select("doc_a", "doc_b")
    labels = connected_components_star(matched)
    return (
        labels.join(
            parts.select(
                F.col("p_partkey").alias("doc_id"), "p_retailprice"
            ),
            "doc_id",
        )
        .groupBy(F.col("cluster_id").alias("entity_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.round(
                F.max("p_retailprice") - F.min("p_retailprice"), 2
            ).alias("price_spread_r"),
        )
    )


@q("q192_chunked_containment", _CONTAINMENT_ORACLE)
def q192(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric containment via CHUNKED banding: whole-document
    MinHash signatures band against overlapping 32-token WINDOW
    signatures of every potential container, closing the
    quote-inside-a-book blind spot that whole-doc banding has by
    construction (q189's documented recall envelope) — a planted
    24-token quote inside a 120-token book is found by this operator
    and provably missed by plain banding (unit-tested).  Exact
    verification on full shingle sets keeps precision exact; on this
    fixture every containment pair is also high-Jaccard, so the output
    equals the exact all-pairs oracle.  Signatures, not posting lists:
    hot-shingle immune, band join touches only colliding buckets, the
    window explode multiplies the signature table by ~2·len/32 rows of
    H longs (never text)."""
    from ..operators.dedup import chunked_containment_pairs

    docs = load_table(spark, sf, "documents")
    return chunked_containment_pairs(
        docs, n=3, threshold=0.8, chunk_tokens=32
    ).select(
        F.col("doc_a").cast("bigint").alias("doc_a"),
        F.col("doc_b").cast("bigint").alias("doc_b"),
        "containment",
    )


@q(
    "q203_boilerplate_lines",
    """WITH lined AS (
         SELECT doc_id, source,
                replace(text, ' batch ', chr(10)) AS text
         FROM documents),
       split AS (
         SELECT doc_id, source, text,
                string_split(text, chr(10)) AS ls
         FROM lined),
       lines AS (
         SELECT doc_id, source, unnest(ls) AS line,
                unnest(range(len(ls))) AS pos
         FROM split),
       docline AS (
         SELECT DISTINCT doc_id, lower(trim(line)) AS norm
         FROM lines WHERE length(trim(line)) > 0),
       hot AS (
         SELECT norm FROM (
           SELECT norm, count(*) AS c FROM docline GROUP BY norm)
         WHERE c > 5),
       kept AS (
         SELECT l.doc_id, l.source, l.line, l.pos
         FROM lines l LEFT JOIN hot h
           ON lower(trim(l.line)) = h.norm
         WHERE h.norm IS NULL),
       reasm AS (
         SELECT doc_id,
                string_agg(line, chr(10) ORDER BY pos) AS clean,
                count(*) AS kept
         FROM kept GROUP BY doc_id),
       tot AS (
         SELECT doc_id, source, len(ls) AS n_lines FROM split)
       SELECT t.source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(count(*) FILTER (WHERE r.clean IS NULL) AS BIGINT)
                AS emptied,
              CAST(COALESCE(sum(r.kept), 0) AS BIGINT) AS lines_kept,
              CAST(sum(t.n_lines - COALESCE(r.kept, 0)) AS BIGINT)
                AS lines_dropped,
              CAST(COALESCE(sum(length(r.clean)), 0) AS BIGINT)
                AS chars_kept
       FROM tot t LEFT JOIN reasm r USING (doc_id)
       GROUP BY t.source
       ORDER BY t.source""",
)
def q203(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus boilerplate-LINE removal (`remove_boilerplate_lines` —
    the CCNet/RefinedWeb line-dedup recipe): lines whose normalized
    form appears in more than 5 distinct documents are dropped and
    every document is reassembled from its surviving lines in original
    order.  The fixture corpus has no newlines, so line structure is
    synthesized IDENTICALLY in both engines by splitting on the
    ' batch ' token (plain non-overlapping replace — dialect-checked);
    the per-source rollup (doc counts, emptied docs, kept/dropped line
    totals, surviving character mass) pins the reassembly byte-for-byte
    without shipping 100k document bodies through the compare.

    Plan shape: posexplode(split) postings -> partial-combined line
    document-frequency -> counted-broadcast anti-join (shuffle
    fallback above the guard, like the hot-shingle cap) ->
    collect_list(struct(pos, line)) + array_sort reassembly.  At
    100 TB both corpus-wide shuffles are key-partitioned line hashes
    with map-side combine; nothing is quadratic in line frequency —
    hot lines are counted and excluded, never self-joined.
    """
    from ..operators.text import remove_boilerplate_lines

    docs = load_table(spark, sf, "documents")
    lined = docs.select(
        "doc_id",
        "source",
        F.replace(F.col("text"), F.lit(" batch "), F.lit("\n")).alias(
            "text"
        ),
    )
    cleaned = remove_boilerplate_lines(
        lined, "doc_id", "text", max_doc_freq=5
    )
    return (
        lined.select("doc_id", "source")
        .join(cleaned, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            # emptied = ZERO KEPT LINES, matching the oracle's
            # `r.clean IS NULL` (no reassembly row) exactly; counting
            # length(text)==0 instead would diverge on a document
            # whose kept lines reassemble to an empty string (a single
            # blank line is never hot, so it is kept) — the q191
            # null-ambiguity bug-class, closed here by construction
            F.sum((F.col("n_lines_kept") == 0).cast("int"))
            .cast("bigint")
            .alias("emptied"),
            F.sum("n_lines_kept").cast("bigint").alias("lines_kept"),
            F.sum("n_lines_dropped")
            .cast("bigint")
            .alias("lines_dropped"),
            F.sum(F.length("text")).cast("bigint").alias("chars_kept"),
        )
        .orderBy("source")
    )


@q(
    "q204_boilerplate_against_index",
    """WITH lined AS (
         SELECT doc_id, source,
                replace(text, ' batch ', chr(10)) AS text
         FROM documents),
       corpus AS (SELECT * FROM lined WHERE doc_id % 5 <> 0),
       batch AS (SELECT * FROM lined WHERE doc_id % 5 = 0),
       csplit AS (
         SELECT doc_id, string_split(text, chr(10)) AS ls FROM corpus),
       clines AS (
         SELECT doc_id, unnest(ls) AS line FROM csplit),
       hot AS (
         SELECT norm FROM (
           SELECT norm, count(*) AS c FROM (
             SELECT DISTINCT doc_id, lower(trim(line)) AS norm
             FROM clines WHERE length(trim(line)) > 0)
           GROUP BY norm)
         WHERE c > 3),
       bsplit AS (
         SELECT doc_id, source, string_split(text, chr(10)) AS ls
         FROM batch),
       blines AS (
         SELECT doc_id, source, unnest(ls) AS line,
                unnest(range(len(ls))) AS pos
         FROM bsplit),
       kept AS (
         SELECT l.doc_id, l.source, l.line, l.pos
         FROM blines l LEFT JOIN hot h
           ON lower(trim(l.line)) = h.norm
         WHERE h.norm IS NULL),
       reasm AS (
         SELECT doc_id,
                string_agg(line, chr(10) ORDER BY pos) AS clean,
                count(*) AS kept
         FROM kept GROUP BY doc_id),
       tot AS (
         SELECT doc_id, source, len(ls) AS n_lines FROM bsplit)
       SELECT t.source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(COALESCE(sum(r.kept), 0) AS BIGINT) AS lines_kept,
              CAST(sum(t.n_lines - COALESCE(r.kept, 0)) AS BIGINT)
                AS lines_dropped,
              CAST(COALESCE(sum(length(r.clean)), 0) AS BIGINT)
                AS chars_kept
       FROM tot t LEFT JOIN reasm r USING (doc_id)
       GROUP BY t.source
       ORDER BY t.source""",
)
def q204(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental boilerplate removal against a PERSISTED hot-line
    index (`boilerplate_index_build` + `remove_boilerplate_against`):
    the corpus partition (doc_id % 5 != 0) is counted ONCE into a
    hot-line index; the arriving batch (doc_id % 5 == 0) is stripped
    against that index with O(batch) work — one batch scan + one
    anti-join, the corpus is never rescanned.  This is the daily-crawl
    posture: a banner is stripped from new documents because it is
    CORPUS-hot, even when the batch alone would never reach the
    frequency threshold (batch lines do not advance corpus counts —
    by design; the oracle computes the hot set from the corpus
    partition only).  Per-source batch rollup pins the reassembly, as
    q203 does for the one-shot operator."""
    from ..operators.text import (
        boilerplate_index_build,
        remove_boilerplate_against,
    )

    docs = load_table(spark, sf, "documents")
    lined = docs.select(
        "doc_id",
        "source",
        F.replace(F.col("text"), F.lit(" batch "), F.lit("\n")).alias(
            "text"
        ),
    )
    corpus = lined.filter(F.col("doc_id") % 5 != 0)
    batch = lined.filter(F.col("doc_id") % 5 == 0)
    idx = scratch_dir("ctdc-bpidx-")
    boilerplate_index_build(
        corpus, idx, "doc_id", "text", max_doc_freq=3
    )
    cleaned = remove_boilerplate_against(batch, idx, "doc_id", "text")
    return (
        batch.select("doc_id", "source")
        .join(cleaned, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_lines_kept").cast("bigint").alias("lines_kept"),
            F.sum("n_lines_dropped")
            .cast("bigint")
            .alias("lines_dropped"),
            F.sum(F.length("text")).cast("bigint").alias("chars_kept"),
        )
        .orderBy("source")
    )


@q(
    "q215_fuzzy_dedup_clusters",
    """WITH RECURSIVE fpairs AS (
         SELECT key_a, key_b FROM (
           WITH names AS (
             SELECT c_custkey AS k, c_name AS s FROM customer),
           vars AS (
             SELECT k, s, s AS v FROM names
             UNION ALL
             SELECT k, s,
                    left(s, CAST(i AS INT)) ||
                    substr(s, CAST(i AS INT) + 2) AS v
             FROM names, UNNEST(range(0, length(s))) AS t(i)),
           dvars AS (SELECT DISTINCT k, s, v FROM vars),
           cand AS (
             SELECT DISTINCT a.k AS key_a, b.k AS key_b,
                    a.s AS s_a, b.s AS s_b
             FROM dvars a JOIN dvars b
               ON a.v = b.v AND a.k < b.k)
           SELECT key_a, key_b FROM cand
           WHERE levenshtein(s_a, s_b) <= 1
         )
       ), edges AS (
         SELECT key_a AS src, key_b AS dst FROM fpairs
         UNION SELECT key_b, key_a FROM fpairs
       ), reach(src, dst) AS (
         SELECT src, dst FROM edges
         UNION
         SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       )
       SELECT src AS doc_id,
              least(src, min(dst)) AS cluster_id
       FROM reach GROUP BY src""",
)
def q215(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end FUZZY dedup clustering — the string twin of the
    MinHash pipeline (q54 → q73): FastSS deletion-neighborhood
    candidate generation + exact levenshtein verification
    (`edit_distance_pairs`) feeds large-star/small-star connected
    components (`connected_components_star` — the DEEP-graph CC,
    because digit-substitution chains over sequential customer names
    produce long paths that would cost min-label propagation
    O(diameter) rounds; the star variant converges in O(log n)
    alternations).  Output is (doc_id, cluster_id = component min),
    the keep-one-per-cluster contract; the oracle recomputes the
    identical candidate set and closes it with a recursive CTE."""
    from ..operators.dedup import connected_components_star
    from ..operators.fuzzy import edit_distance_pairs

    cust = load_table(spark, sf, "customer")
    pairs = edit_distance_pairs(
        cust, "c_custkey", "c_name", max_dist=1
    ).select(
        F.col("key_a").alias("doc_a"), F.col("key_b").alias("doc_b")
    )
    return connected_components_star(pairs)


_Q336_ORACLE = """
  WITH d AS (
    SELECT source, doc_id, n_chars, md5(text) AS h FROM documents),
  cl AS (
    SELECT source, h, CAST(count(*) AS BIGINT) AS sz,
           CAST(sum(n_chars) AS BIGINT) AS bytes_all,
           CAST(min(n_chars) AS BIGINT) AS bytes_keep
    FROM d GROUP BY source, h)
  SELECT source,
         CAST(sum(sz) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_clusters,
         CAST(sum(sz) - count(*) AS BIGINT) AS n_dup_docs,
         CAST(max(sz) AS BIGINT) AS largest_cluster,
         CAST(sum(bytes_all) AS BIGINT) AS bytes_total,
         CAST(sum(bytes_keep) AS BIGINT) AS bytes_dedup,
         CAST((1000 * (sum(bytes_all) - sum(bytes_keep)))
              // sum(bytes_all) AS BIGINT) AS savings_milli
  FROM cl GROUP BY source"""


@q("q336_dedup_savings_report", _Q336_ORACLE)
def q336(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup ROI report per source: exact-duplicate clusters by text
    hash, cluster-size spread, and the BYTE savings a keep-one
    dedup pass would realize — the number that decides whether the
    q54 near-dup machinery is worth its shuffle on a new crawl
    source (a source with 2% exact-dup mass doesn't need MinHash
    yet; one with 40% does).  Identical duplicate texts share
    n_chars, so the kept-representative bytes are min(n_chars) per
    cluster with no doc_id arbitration needed; two cascaded
    partial-aggregated groupBys on the md5 pre-hash — the heavy text
    column is reduced to 16 bytes before any shuffle."""
    docs = load_table(spark, sf, "documents")
    d = docs.select(
        "source",
        "n_chars",
        F.md5(F.col("text").cast("binary")).alias("h"),
    )
    cl = d.groupBy("source", "h").agg(
        F.count("*").cast("bigint").alias("sz"),
        F.sum("n_chars").cast("bigint").alias("bytes_all"),
        F.min("n_chars").cast("bigint").alias("bytes_keep"),
    )
    return cl.groupBy("source").agg(
        F.sum("sz").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_clusters"),
        (F.sum("sz") - F.count("*")).cast("bigint").alias("n_dup_docs"),
        F.max("sz").cast("bigint").alias("largest_cluster"),
        F.sum("bytes_all").cast("bigint").alias("bytes_total"),
        F.sum("bytes_keep").cast("bigint").alias("bytes_dedup"),
        F.expr(
            "(1000 * (sum(bytes_all) - sum(bytes_keep)))"
            " DIV sum(bytes_all)"
        )
        .cast("bigint")
        .alias("savings_milli"),
    )


_Q357_ORACLE = """
  WITH sh AS (
    SELECT DISTINCT source, md5(text) AS h FROM documents),
  hs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_hashes
         FROM sh GROUP BY source),
  inter AS (
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM sh a JOIN sh b ON a.h = b.h AND a.source <> b.source
    GROUP BY a.source, b.source)
  SELECT ha.source AS src_a, hb.source AS src_b,
         CAST(coalesce(i.n_shared, 0) AS BIGINT) AS n_shared,
         ha.n_hashes AS n_hashes_a,
         CAST((1000 * coalesce(i.n_shared, 0)) // ha.n_hashes AS BIGINT)
           AS containment_milli
  FROM hs ha JOIN hs hb ON ha.source <> hb.source
  LEFT JOIN inter i
    ON i.src_a = ha.source AND i.src_b = hb.source"""


@q("q357_cross_source_duplication", _Q357_ORACLE)
def q357(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source duplication matrix: for every ordered crawl-source
    pair (A, B), how much of A's DISTINCT content already exists
    verbatim in B (containment of hash sets, in exact integer milli).
    This is the number that orders a multi-dump ingestion — process
    the most-contained dump LAST and its near-free dedup rate is
    known in advance (the cross-dump twin of q336's within-source
    savings).  Docs reduce to 16-byte md5s at the scan (the heavy
    text column never shuffles); the hash self-join fans out at most
    |sources| per hash, so a corpus-wide duplicate costs |sources|^2
    rows, not df^2."""
    from ..operators.materialize import pin as _pin

    docs = load_table(spark, sf, "documents")
    # checkpoint (not persist): the hash table feeds the per-source
    # counts and both self-join sides of the RETURNED plan — a leaked
    # persist would be silently reused by later calls
    sh = (
        docs.select("source", F.md5(F.col("text").cast("binary")).alias("h"))
        .distinct()
        .transform(_pin)
    )
    hs = sh.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_hashes")
    )
    a = sh.select(F.col("source").alias("src_a"), "h")
    b = sh.select(F.col("source").alias("src_b"), "h")
    inter = (
        a.join(b, "h")
        .where(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    # full ordered-pair matrix (|sources|^2 rows): a clean corpus must
    # REPORT its zero overlaps, not return an empty frame
    pairs = (
        hs.select(F.col("source").alias("src_a"),
                  F.col("n_hashes").alias("n_hashes_a"))
        .crossJoin(F.broadcast(hs.select(F.col("source").alias("src_b"))))
        .where(F.col("src_a") != F.col("src_b"))
    )
    return pairs.join(inter, ["src_a", "src_b"], "left").select(
        "src_a",
        "src_b",
        F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared"),
        "n_hashes_a",
        F.expr(
            "CAST((1000 * coalesce(n_shared, 0)) DIV n_hashes_a AS BIGINT)"
        ).alias("containment_milli"),
    )
