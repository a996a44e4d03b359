"""LLM-pipeline evaluation / events / sketch family: drift statistics,
agreement, ROC, funnels, activity analytics, KMV / HLL-style sketch
contracts, representativeness, datasheets."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from ._shared import _ORACLES, _QUERIES, _ts_str, q  # noqa: F401


@q(
    "q130_hll_merge_contract",
    """WITH per_type AS (
         SELECT event_type, count(DISTINCT user_id) AS exact_n
         FROM events GROUP BY event_type),
       total AS (SELECT count(DISTINCT user_id) AS exact_total FROM events)
       SELECT p.event_type, CAST(p.exact_n AS BIGINT) AS exact_n,
              CAST(t.exact_total AS BIGINT) AS exact_total,
              TRUE AS est_ok
       FROM per_type p, total t""",
)
def q130(spark: SparkSession, sf: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (DataSketches HLL): per-type
    sketches aggregate once, and the GLOBAL distinct estimate comes from
    hll_union_agg over the tiny sketch column — never re-scanning the
    fact table.  This is the pre-aggregation pattern 100 TB rollups
    live on: persist sketch bytes per grain, union upward on demand.
    The oracle pins exactness of the exact columns and the contract
    flag: every estimate (per type and merged) must land within 5% of
    the true distinct count (HLL lgK=12 carries ~1.6% standard error,
    so 5% is >3 sigma)."""
    ev = load_table(spark, sf, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").cast("bigint").alias("exact_n"),
    )
    merged = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_total")
    )
    total = ev.agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_total")
    )
    out = per_type.withColumn(
        "est_n", F.hll_sketch_estimate("sk")
    ).crossJoin(F.broadcast(merged)).crossJoin(F.broadcast(total))
    ok = (
        (F.abs(F.col("est_n") - F.col("exact_n"))
         <= 0.05 * F.col("exact_n"))
        & (F.abs(F.col("est_total") - F.col("exact_total"))
           <= 0.05 * F.col("exact_total"))
    )
    return out.select(
        "event_type",
        "exact_n",
        "exact_total",
        ok.alias("est_ok"),
    )


@q(
    "q160_cms_frequency_contract",
    """SELECT event_type, CAST(count(*) AS BIGINT) AS exact_cnt,
              TRUE AS within_bound
       FROM events GROUP BY event_type""",
)
def q160(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min-sketch frequency contract: one mergeable CMS built by
    the JVM `count_min_sketch` aggregate (map-side partial merge — the
    shuffle carries depth x width counters, not rows), decoded on the
    driver with Spark's own sketch library, and point-probed for every
    event type.  The emitted `within_bound` asserts the CMS guarantee
    (estimate >= exact, and <= exact + eps*N) against the exact GROUP BY
    counts — the oracle predicts all-true, so a hashing mismatch between
    the SQL aggregate and the decoder, or a broken merge, flips the gate.
    At 100 TB the sketch is a few MB however many rows feed it, and
    per-key frequency questions become O(1) probes instead of a second
    full-corpus aggregate; sketches from different days/shards compose
    by `mergeInPlace`."""
    from ..operators.stats import count_min_frequencies

    eps = 0.001
    events = load_table(spark, sf, "events")
    exact = events.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("exact_cnt")
    )
    keys = [r.event_type for r in exact.select("event_type").collect()]
    est = count_min_frequencies(
        events, "event_type", keys, eps=eps, confidence=0.99, seed=42
    )
    import math

    bound = math.ceil(eps * (est[0][2] if est else 0))
    est_df = spark.createDataFrame(
        [(k, e) for (k, e, _n) in est], "event_type string, est bigint"
    )
    return exact.join(F.broadcast(est_df), "event_type").select(
        "event_type",
        "exact_cnt",
        (
            (F.col("est") >= F.col("exact_cnt"))
            & (F.col("est") <= F.col("exact_cnt") + F.lit(bound))
        ).alias("within_bound"),
    )


@q(
    "q164_ks_drift",
    """WITH s AS (SELECT value AS v,
                  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g
           FROM events WHERE event_type IN ('click', 'purchase')),
       c AS (SELECT v, sum(g) AS d1, sum(1 - g) AS d2 FROM s GROUP BY v),
       cum AS (SELECT v,
               sum(d1) OVER (ORDER BY v) AS c1,
               sum(d2) OVER (ORDER BY v) AS c2,
               sum(d1) OVER () AS n1, sum(d2) OVER () AS n2
        FROM c)
       SELECT CAST(max(n1) AS BIGINT) AS n1,
              CAST(max(n2) AS BIGINT) AS n2,
              round(max(abs(CAST(c1 AS DOUBLE) / n1
                            - CAST(c2 AS DOUBLE) / n2)), 6) AS ks_stat
       FROM cum""",
)
def q164(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between the value
    distributions of two event types — the EXACT nonparametric
    companion to q158's binned PSI.  The per-value GROUP BY collapses
    the window input to |distinct values| rows before the one total-
    order cumulative pass (the honest cost of an exact ECDF); at 100 TB
    pre-bin to a fixed grid and the same plan bounds KS within one
    bin's mass.  click vs purchase here differ mildly (~0.03); the
    q158 scenario pushed through this query reads ~0.5."""
    from ..operators.stats import ks_statistic

    events = load_table(spark, sf, "events")
    return ks_statistic(events, "value", "event_type", "click", "purchase")


@q(
    "q165_pagerank",
    """WITH nc AS (SELECT count(*) AS n FROM customer),
       e AS (
         SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
                CAST(1 + (o_orderkey % nc.n) AS BIGINT) AS dst
         FROM orders, nc
         UNION
         SELECT CAST(c_custkey AS BIGINT),
                CAST(1 + (c_custkey % nc.n) AS BIGINT)
         FROM customer, nc
       ),
       deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       nodes AS (SELECT CAST(c_custkey AS BIGINT) AS id FROM customer),
       p0 AS (SELECT id, 1.0 / nc.n AS pr FROM nodes, nc),
       i1 AS (SELECT n.id, 0.15 / max(nc.n) + 0.85
                * coalesce(sum(q.pr / g.outdeg), 0) AS pr
              FROM nodes n CROSS JOIN nc
              LEFT JOIN e ON e.dst = n.id
              LEFT JOIN p0 q ON q.id = e.src
              LEFT JOIN deg g ON g.src = e.src
              GROUP BY n.id),
       i2 AS (SELECT n.id, 0.15 / max(nc.n) + 0.85
                * coalesce(sum(q.pr / g.outdeg), 0) AS pr
              FROM nodes n CROSS JOIN nc
              LEFT JOIN e ON e.dst = n.id
              LEFT JOIN i1 q ON q.id = e.src
              LEFT JOIN deg g ON g.src = e.src
              GROUP BY n.id),
       i3 AS (SELECT n.id, 0.15 / max(nc.n) + 0.85
                * coalesce(sum(q.pr / g.outdeg), 0) AS pr
              FROM nodes n CROSS JOIN nc
              LEFT JOIN e ON e.dst = n.id
              LEFT JOIN i2 q ON q.id = e.src
              LEFT JOIN deg g ON g.src = e.src
              GROUP BY n.id)
       SELECT id, round(pr * nc.n, 6) AS pr_norm FROM i3, nc""",
)
def q165(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-iteration PageRank over a deterministic link graph derived
    from orders (src = o_custkey, dst = 1 + (o_orderkey mod
    |customers|) so every destination is a real customer key in 1..n,
    plus a ring edge per customer so every node has outdeg >= 1 —
    together these make rank mass genuinely conserved without a
    dangling-redistribution term).
    The Spark side is the generic `operators.graph.pagerank` loop —
    one src-keyed join + one dst-keyed partial-combined sum per round,
    degrees attached to the edge list ONCE before the loop; the oracle
    is the same three rounds unrolled as a SQL join tower.  Scores are
    reported normalized (x N) and rounded so the two engines'
    summation orders agree.  Link-graph rank is the classic corpus-
    curation prior (rank-weighted sampling, spam demotion)."""
    from ..operators.graph import pagerank

    customer = load_table(spark, sf, "customer")
    n = customer.count()
    orders = load_table(spark, sf, "orders")
    # dst = 1 + (key mod n) keeps every destination inside the customer
    # key range 1..n (a bare `mod n` emits node 0, which is NOT a
    # customer — its contributions would silently vanish and the
    # mass-conservation claim would be false for this graph).
    edges = (
        orders.select(
            F.col("o_custkey").cast("bigint").alias("src"),
            (F.lit(1) + (F.col("o_orderkey") % n)).cast("bigint").alias("dst"),
        )
        .distinct()
        .union(
            customer.select(
                F.col("c_custkey").cast("bigint"),
                (F.lit(1) + (F.col("c_custkey") % n)).cast("bigint"),
            )
        )
        .distinct()
    )
    nodes = customer.select(F.col("c_custkey").cast("bigint").alias("id"))
    pr = pagerank(nodes, edges, iters=3, damping=0.85)
    return pr.select("id", F.round(F.col("pr") * n, 6).alias("pr_norm"))


@q(
    "q166_leakage_safe_split",
    """WITH RECURSIVE pairs AS (
         SELECT doc_a, doc_b FROM (
           WITH sh AS (
             SELECT DISTINCT doc_id,
                    concat_ws('|', toks[gs], toks[gs+1], toks[gs+2])
                      AS shingle
             FROM (SELECT doc_id, string_split(text, ' ') AS toks
                   FROM documents),
                  LATERAL UNNEST(generate_series(
                    1, greatest(len(toks) - 2, 1))) t(gs)
           ), sizes AS (
             SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
           ), inter AS (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
             FROM sh a JOIN sh b
               ON a.shingle = b.shingle AND a.doc_id < b.doc_id
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
       ), cc AS (
         SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         FROM reach GROUP BY src
       ), allc AS (
         SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
         FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
       ), lab AS (
         SELECT doc_id, cluster_id,
           CASE WHEN floor(((cluster_id * 2654435761) % 4294967296)
                      * 10.0 / 4294967296) < 8 THEN 'train'
                WHEN floor(((cluster_id * 2654435761) % 4294967296)
                      * 10.0 / 4294967296) = 8 THEN 'val'
                ELSE 'test' END AS split,
           CASE WHEN floor(((doc_id * 2654435761) % 4294967296)
                      * 10.0 / 4294967296) < 8 THEN 'train'
                WHEN floor(((doc_id * 2654435761) % 4294967296)
                      * 10.0 / 4294967296) = 8 THEN 'val'
                ELSE 'test' END AS naive_split
         FROM allc
       ), leak AS (
         SELECT CAST(count(*) AS BIGINT) AS n FROM (
           SELECT cluster_id FROM lab GROUP BY cluster_id
           HAVING count(*) > 1 AND count(DISTINCT naive_split) > 1)
       )
       SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
              (SELECT n FROM leak) AS leaked_clusters_naive
       FROM lab GROUP BY split""",
)
def q166(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe train/val/test split: documents are split by a
    deterministic hash of their NEAR-DUP CLUSTER id (MinHash-LSH pairs
    -> connected components, q73's machinery; singletons are their own
    cluster), so near-copies of an eval document can never sit in
    train.  The report quantifies the hazard naive doc-id splitting
    would have caused: `leaked_clusters_naive` counts multi-document
    clusters that naive hashing scatters across splits (9 at sf0.01 —
    each one an eval-contamination incident).  Split assignment itself
    adds ZERO shuffle on top of the clustering (pure codegen hash of
    the label), and because the hash depends only on the cluster id,
    yesterday's held-out set stays held out as the corpus grows — the
    auditability property an RNG-based split lacks.  Oracle: exact-
    Jaccard closure (recursive CTE) + the same integer hash."""
    from ..operators.dedup import connected_components_star
    from ..operators.sampling import split_by_cluster

    docs = load_table(spark, sf, "documents")
    pairs = minhash_near_dup_pairs(
        docs, threshold=0.5, num_hashes=64, bands=32
    )
    labels = connected_components_star(pairs)
    allc = (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
        )
    )
    lab = split_by_cluster(allc)
    leak = (
        lab.groupBy("cluster_id")
        .agg(
            F.count("*").alias("sz"),
            F.countDistinct("naive_split").alias("ns"),
        )
        .filter("sz > 1 AND ns > 1")
        .count()
    )
    return (
        lab.groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
        )
        .withColumn(
            "leaked_clusters_naive", F.lit(leak).cast("bigint")
        )
    )


@q(
    "q168_model_quality_filter",
    """WITH feats AS (
         SELECT doc_id, source,
           least(len(string_split(text, ' ')), 512) / 512.0 AS f_len,
           (length(text) - length(regexp_replace(text, '[^\\w\\s]', '',
                                                 'g')))
             / length(text)::DOUBLE AS f_punct,
           len(list_filter(string_split(lower(text), ' '),
               t -> t IN ('the', 'a', 'of', 'and', 'to')))::DOUBLE
             / len(string_split(text, ' ')) AS f_stop,
           len(list_distinct(string_split(text, ' ')))::DOUBLE
             / len(string_split(text, ' ')) AS f_div
         FROM documents),
       scored AS (
         SELECT doc_id, source,
           1.0 / (1.0 + exp(-(-2.0 + 2.5 * f_len - 4.0 * f_punct
                              + 6.0 * f_stop + 2.0 * f_div))) AS score
         FROM feats)
       SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_kept,
              round(avg(score), 6) AS mean_score_r
       FROM scored GROUP BY source""",
)
def q168(spark: SparkSession, sf: str) -> DataFrame:
    """Model-based quality filtering: a logistic classifier with FIXED
    (pre-trained, checked-in) weights over the q57 feature set — the
    fasttext-style quality-filter shape every pretraining pipeline runs,
    expressed entirely as codegen column arithmetic: features, dot
    product, and sigmoid are one Project over the scan, so scoring
    100 TB costs exactly the scan (no UDF server, no model runtime; a
    real linear/fasttext head with thousands of hashed-ngram weights
    becomes a broadcast map lookup in the same shape).  Reported
    per-source keep rates are the mixture-shift audit reviewers ask for
    before enabling a new filter.  Features are IEEE doubles in a fixed
    expression order, so the oracle reproduces scores exactly."""
    docs = load_table(spark, sf, "documents")
    feats = docs.select(
        "doc_id",
        "source",
        (F.least(token_count("text"), F.lit(512)) / F.lit(512.0)).alias(
            "f_len"
        ),
        punct_ratio("text").alias("f_punct"),
        stopword_ratio("text").alias("f_stop"),
        token_diversity("text").alias("f_div"),
    )
    z = (
        F.lit(-2.0)
        + F.lit(2.5) * F.col("f_len")
        - F.lit(4.0) * F.col("f_punct")
        + F.lit(6.0) * F.col("f_stop")
        + F.lit(2.0) * F.col("f_div")
    )
    scored = feats.select(
        "doc_id",
        "source",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("score"),
    )
    return scored.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum((F.col("score") >= 0.5).cast("long"))
        .cast("bigint")
        .alias("n_kept"),
        F.round(F.avg("score"), 6).alias("mean_score_r"),
    )


@q(
    "q171_vocab_id_assignment",
    """WITH toks AS (
         SELECT unnest(string_split(lower(text), ' ')) AS token
         FROM documents
       ), counts AS (
         SELECT token, count(*) AS n FROM toks
         WHERE token <> '' GROUP BY token
       )
       SELECT token, CAST(n AS BIGINT) AS n,
              CAST(row_number() OVER (ORDER BY n DESC, token) - 1
                   AS BIGINT) AS vocab_id
       FROM counts WHERE n >= 5""",
)
def q171(spark: SparkSession, sf: str) -> DataFrame:
    """Stable dense vocabulary-id assignment (the build-the-vocab step
    before dictionary-encoding a corpus): tokens above a min-count
    floor get ids 0..V-1 ordered by (frequency desc, token asc) — the
    tie-break makes ids a pure function of the corpus, so two engines
    (or two runs) assign identical ids, which is what lets token-id
    shards from different workers interoperate.  Cost shape: one
    explode + map-combined count collapses the corpus to |vocab| rows
    BEFORE the min-count filter and the one ordered window — the
    global sort runs over the filtered vocabulary (thousands of rows),
    never the corpus.  At 100 TB the count aggregate dominates and is
    one scan; ship the resulting id map as a broadcast dictionary."""
    load_table(spark, sf, "documents").createOrReplaceTempView(
        "q171_documents"
    )
    return spark.sql(
        """WITH toks AS (
             SELECT explode(split(lower(text), ' ')) AS token
             FROM q171_documents
           ), counts AS (
             SELECT token, count(*) AS n FROM toks
             WHERE token <> '' GROUP BY token
           )
           SELECT token, CAST(n AS BIGINT) AS n,
                  CAST(row_number() OVER (ORDER BY n DESC, token) - 1
                       AS BIGINT) AS vocab_id
           FROM counts WHERE n >= 5"""
    )


_Q173_SQL = """
WITH s AS (
  SELECT event_type,
         CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS cohort
  FROM {events}
), o AS (
  SELECT event_type,
         CAST(sum(CASE WHEN cohort = 'a' THEN 1 ELSE 0 END) AS DOUBLE)
           AS n_a,
         CAST(sum(CASE WHEN cohort = 'b' THEN 1 ELSE 0 END) AS DOUBLE)
           AS n_b
  FROM s GROUP BY event_type
), t AS (
  SELECT CAST(sum(n_a) AS DOUBLE) AS ta, CAST(sum(n_b) AS DOUBLE) AS tb
  FROM o
), e AS (
  SELECT event_type, n_a, n_b,
         (n_a + n_b) * ta / (ta + tb) AS e_a,
         (n_a + n_b) * tb / (ta + tb) AS e_b
  FROM o, t
)
SELECT event_type,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round((n_a - e_a) * (n_a - e_a) / e_a
             + (n_b - e_b) * (n_b - e_b) / e_b, 6) AS chi2_contrib_r,
       round(sum((n_a - e_a) * (n_a - e_a) / e_a
             + (n_b - e_b) * (n_b - e_b) / e_b) OVER (), 6)
         AS chi2_total_r,
       CAST(count(*) OVER () - 1 AS BIGINT) AS dof
FROM e
"""


@q("q173_chi_square_drift", _Q173_SQL.format(events="events"))
def q173(spark: SparkSession, sf: str) -> DataFrame:
    """Chi-square homogeneity test between two cohorts' event-type
    distributions — the CATEGORICAL drift companion to q158 (binned
    numeric PSI) and q164 (exact numeric KS): expected counts from the
    pooled marginals, per-category contribution plus the total and
    degrees of freedom repeated on every row (windows over the
    |categories|-row aggregate).  One map-combined count pass collapses
    the corpus to |categories| rows; everything after is arithmetic on
    that tiny frame, so a 100 TB drift check costs one scan.  The
    even/odd user split here is an A/A test — chi2 ~ dof signals the
    healthy no-drift baseline (12.3 on 4 dof at sf0.01)."""
    load_table(spark, sf, "events").createOrReplaceTempView("q173_events")
    return spark.sql(_Q173_SQL.format(events="q173_events"))


@q(
    "q179_lm_perplexity_filter",
    """WITH toks AS (
         SELECT doc_id, string_split(lower(text), ' ') AS ws
         FROM documents
         WHERE len(string_split(lower(text), ' ')) >= 2
       ), bg AS (
         SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
         FROM toks, LATERAL UNNEST(generate_series(1, len(ws) - 1)) t(i)
       ), cb AS (
         SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
       ), cu AS (
         SELECT w1, sum(c12) AS c1 FROM cb GROUP BY w1
       ), p AS (
         SELECT cb.w1, cb.w2, cb.c12 * 1.0 / cu.c1 AS prob
         FROM cb JOIN cu ON cu.w1 = cb.w1
       ), scored AS (
         SELECT bg.doc_id, ln(p.prob) AS lp
         FROM bg JOIN p ON p.w1 = bg.w1 AND p.w2 = bg.w2
       )
       SELECT doc_id,
              CAST(count(*) AS BIGINT) AS n_bigrams,
              round(exp(-avg(lp)), 4) AS perplexity_r
       FROM scored GROUP BY doc_id""",
)
def q179(spark: SparkSession, sf: str) -> DataFrame:
    """Language-model perplexity scoring (the CCNet/KenLM quality
    recipe, re-expressed relationally on q98's bigram machinery): each
    document's bigrams are scored against the MLE bigram model and
    per-doc perplexity = exp(-mean log P(w2|w1)) reported — gibberish
    and boilerplate score high, fluent text low, and the downstream
    percentile gate (q116's machinery) drops the tail.  Here the model
    is trained on the scored corpus itself; production trains `p` on a
    clean reference corpus and broadcasts it (the model table is
    |bigram vocab|-sized, metadata next to a 100 TB corpus).  Cost
    shape: two map-combined counts build the model, one hash join
    scores (bigram stream never carries text, just token pairs), one
    partial-combined rollup per doc.  All probabilities are exact
    rationals evaluated in fixed order, so the oracle reproduces
    perplexities to the rounded digit."""
    load_table(spark, sf, "documents").createOrReplaceTempView(
        "q179_documents"
    )
    return spark.sql(
        """WITH toks AS (
             SELECT doc_id, split(lower(text), ' ') AS ws
             FROM q179_documents
             WHERE size(split(lower(text), ' ')) >= 2
           ), bg AS (
             SELECT doc_id, ws[i-1] AS w1, ws[i] AS w2
             FROM toks LATERAL VIEW explode(sequence(1, size(ws) - 1))
               t AS i
           ), cb AS (
             SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
           ), cu AS (
             SELECT w1, sum(c12) AS c1 FROM cb GROUP BY w1
           ), p AS (
             SELECT cb.w1, cb.w2, cb.c12 * 1.0 / cu.c1 AS prob
             FROM cb JOIN cu ON cu.w1 = cb.w1
           ), scored AS (
             SELECT bg.doc_id, ln(p.prob) AS lp
             FROM bg JOIN p ON p.w1 = bg.w1 AND p.w2 = bg.w2
           )
           SELECT doc_id,
                  CAST(count(*) AS BIGINT) AS n_bigrams,
                  round(exp(-avg(lp)), 4) AS perplexity_r
           FROM scored GROUP BY doc_id"""
    )


@q(
    "q181_score_calibration",
    """WITH feats AS (
         SELECT doc_id,
           least(len(string_split(text, ' ')), 512) / 512.0 AS f_len,
           (length(text) - length(regexp_replace(text, '[^\\w\\s]', '',
                                                 'g')))
             / length(text)::DOUBLE AS f_punct,
           len(list_filter(string_split(lower(text), ' '),
               t -> t IN ('the', 'a', 'of', 'and', 'to')))::DOUBLE
             / len(string_split(text, ' ')) AS f_stop,
           len(list_distinct(string_split(text, ' ')))::DOUBLE
             / len(string_split(text, ' ')) AS f_div
         FROM documents),
       scored AS (
         SELECT doc_id, f_stop,
           1.0 / (1.0 + exp(-(-2.0 + 2.5 * f_len - 4.0 * f_punct
                              + 6.0 * f_stop + 2.0 * f_div))) AS score
         FROM feats),
       bucketed AS (
         SELECT ntile(10) OVER (ORDER BY score, doc_id) AS decile,
                score, f_stop
         FROM scored)
       SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
              round(avg(score), 6) AS mean_score_r,
              round(avg(CASE WHEN f_stop >= 0.12 THEN 1.0 ELSE 0.0 END),
                    6) AS frac_stopword_rich_r
       FROM bucketed GROUP BY decile""",
)
def q181(spark: SparkSession, sf: str) -> DataFrame:
    """Score-calibration table for the q168 quality model: documents
    ranked into score deciles (deterministic ntile — ties broken by
    doc_id) with per-decile mean score and the empirical rate of a
    proxy signal (stopword-rich text).  A well-behaved filter shows
    the proxy rate rising monotonically with the score decile; this
    is the reliability audit reviewers demand before gating a corpus
    on a model score.  ntile's single total-order window runs over
    (score, id) PAIRS — at 100 TB, rank against quantile cut points
    from `approx_percentile` instead (q116's machinery) and this
    becomes a map-only bucket assignment; the report itself is a
    |deciles|-row aggregate either way."""
    from ..operators.text import (
        punct_ratio,
        stopword_ratio,
        token_count,
        token_diversity,
    )

    docs = load_table(spark, sf, "documents")
    feats = docs.select(
        "doc_id",
        (F.least(token_count("text"), F.lit(512)) / F.lit(512.0)).alias(
            "f_len"
        ),
        punct_ratio("text").alias("f_punct"),
        stopword_ratio("text").alias("f_stop"),
        token_diversity("text").alias("f_div"),
    )
    z = (
        F.lit(-2.0)
        + F.lit(2.5) * F.col("f_len")
        - F.lit(4.0) * F.col("f_punct")
        + F.lit(6.0) * F.col("f_stop")
        + F.lit(2.0) * F.col("f_div")
    )
    scored = feats.select(
        "doc_id",
        "f_stop",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("score"),
    )
    bucketed = scored.withColumn(
        "decile", F.ntile(10).over(Window.orderBy("score", "doc_id"))
    )
    return bucketed.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(F.avg("score"), 6).alias("mean_score_r"),
        F.round(
            F.avg((F.col("f_stop") >= 0.12).cast("double")), 6
        ).alias("frac_stopword_rich_r"),
    )


@q(
    "q184_gini_concentration",
    """WITH s AS (
         SELECT source,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
         FROM documents GROUP BY source
       ), r AS (
         SELECT source, toks,
                row_number() OVER (ORDER BY toks, source) AS i,
                count(*) OVER () AS n,
                sum(toks) OVER () AS tot,
                sum(toks) OVER (ORDER BY toks, source) AS cum
         FROM s
       )
       SELECT source, toks,
              round(CAST(cum AS DOUBLE) / tot, 6) AS cum_share_r,
              round(2.0 * sum(CAST(i AS DOUBLE) * toks) OVER ()
                    / (CAST(n AS DOUBLE) * tot) - (n + 1.0) / n, 6)
                AS gini_r
       FROM r""",
)
def q184(spark: SparkSession, sf: str) -> DataFrame:
    """Gini concentration of the token budget across sources — the
    corpus-balance audit behind mixture planning (q139/q155): the
    Lorenz cumulative share per source plus the Gini coefficient
    repeated on every row (0 = perfectly balanced, 1 = one source owns
    the corpus; the synthetic tables land near 0.05).  One
    map-combined token count collapses the corpus to |sources| rows;
    every window after runs over that tiny aggregate, so the audit
    costs one scan at any corpus size.  Deterministic tie-break
    (tokens, source) keeps ranks — and therefore the Gini sum — exact
    across engines."""
    load_table(spark, sf, "documents").createOrReplaceTempView(
        "q184_documents"
    )
    return spark.sql(
        """WITH s AS (
             SELECT source,
                    CAST(sum(size(split(text, ' '))) AS BIGINT) AS toks
             FROM q184_documents GROUP BY source
           ), r AS (
             SELECT source, toks,
                    row_number() OVER (ORDER BY toks, source) AS i,
                    count(*) OVER () AS n,
                    sum(toks) OVER () AS tot,
                    sum(toks) OVER (ORDER BY toks, source) AS cum
             FROM s
           )
           SELECT source, toks,
                  round(CAST(cum AS DOUBLE) / tot, 6) AS cum_share_r,
                  round(2.0 * sum(CAST(i AS DOUBLE) * toks) OVER ()
                        / (CAST(n AS DOUBLE) * tot) - (n + 1.0) / n, 6)
                    AS gini_r
           FROM r"""
    )


@q(
    "q201_approx_topk_contract",
    """SELECT tok, CAST(count(*) AS BIGINT) AS n, TRUE AS sketch_ok
       FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
             FROM documents)
       GROUP BY tok
       ORDER BY n DESC, tok
       LIMIT 10""",
)
def q201(spark: SparkSession, sf: str) -> DataFrame:
    """Heavy-hitters sketch contract (`approx_top_k`, Spark 4):
    completes the mergeable-sketch family (HLL q130, Count-Min q160,
    quantile q96) with the one-pass top-k summary.  Like CMS, the
    sketch state is fixed-size and merges associatively across
    partitions — at 100 TB the shuffle carries one sketch per map
    partition instead of one row per distinct token, which is the whole
    point versus the exact q66 path when the token space is huge.

    Contract: every token of the EXACT top-10 (deterministic tiebreak:
    count desc, token asc) must appear in the sketch's top-20 with an
    estimated count within max(1, 1%) of truth; the emitted rows are
    the exact top-10 (oracle-checkable) plus the sketch verdict, which
    the oracle pins to TRUE.
    """
    docs = load_table(spark, sf, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    exact = (
        toks.groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(10)
    )
    sketch = (
        toks.agg(F.expr("approx_top_k(tok, 20, 65536)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("tok"),
            F.col("e.count").cast("bigint").alias("est"),
        )
    )
    verdict = (
        exact.join(F.broadcast(sketch), "tok", "left")
        .agg(
            F.min(
                F.col("est").isNotNull()
                & (
                    F.abs(F.col("est") - F.col("n"))
                    <= F.greatest(F.lit(1.0), 0.01 * F.col("n"))
                )
            ).alias("sketch_ok")
        )
    )
    return exact.crossJoin(F.broadcast(verdict)).select(
        "tok", "n", "sketch_ok"
    )


@q(
    "q209_negative_sampling",
    """WITH l AS (SELECT DISTINCT lang AS g FROM documents),
       cand AS (
         SELECT l.g, d.doc_id,
                row_number() OVER (
                  PARTITION BY l.g
                  ORDER BY md5(l.g || '|' ||
                               CAST(d.doc_id AS VARCHAR) || '|'),
                           d.doc_id) AS neg_rank
         FROM l JOIN documents d ON d.lang <> l.g)
       SELECT g AS lang, doc_id, CAST(neg_rank AS INT) AS neg_rank
       FROM cand WHERE neg_rank <= 5""",
)
def q209(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic negative sampling (`negative_samples`,
    operators/sampling.py): for every language, 5 reproducible
    pseudo-random documents NOT in that language — the contrastive /
    retrieval-training sampler.  Determinism rides md5(group|item), a
    keyed hash both engines compute identically, so the draw is stable
    across runs, partitionings, and engines with no RNG state.  The
    tiny distinct-group side broadcasts; the deliberate |groups|-way
    fan-out is the pivot-style small-side pattern; and the
    row_number() <= k filter is rewritten by WindowGroupLimit into a
    per-partition top-k heap BEFORE the exchange (audited), so the
    shuffle carries ~k·|groups| rows per partition, not the fanned-out
    corpus."""
    from ..operators.sampling import negative_samples

    docs = load_table(spark, sf, "documents")
    return negative_samples(
        docs.select("doc_id", "lang"), "doc_id", "lang", k=5
    ).select("lang", "doc_id", F.col("neg_rank").cast("int").alias("neg_rank"))


@q(
    "q213_triangle_count",
    """WITH nc AS (SELECT count(*) AS n FROM customer),
       raw AS (
         SELECT CAST(o_custkey AS BIGINT) AS u,
                CAST(1 + (o_orderkey % nc.n) AS BIGINT) AS v
         FROM orders, nc),
       canon AS (
         SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
         FROM raw WHERE u <> v),
       deg AS (
         SELECT node, count(*) AS deg FROM (
           SELECT a AS node FROM canon
           UNION ALL SELECT b FROM canon)
         GROUP BY node),
       k AS (SELECT node, deg * 4294967296 + node AS ok FROM deg),
       wk AS (
         SELECT c.a, c.b, ka.ok AS ka, kb.ok AS kb
         FROM canon c
         JOIN k ka ON ka.node = c.a
         JOIN k kb ON kb.node = c.b),
       o AS (
         SELECT CASE WHEN ka < kb THEN a ELSE b END AS s,
                CASE WHEN ka < kb THEN b ELSE a END AS t,
                greatest(ka, kb) AS kt
         FROM wk),
       w AS (
         SELECT e1.t AS wb, e2.t AS wc
         FROM o e1 JOIN o e2 ON e1.s = e2.s AND e1.kt < e2.kt),
       tri AS (
         SELECT count(*) AS nt
         FROM w JOIN o ON o.s = w.wb AND o.t = w.wc)
       SELECT (SELECT CAST(count(*) AS BIGINT) FROM canon) AS n_edges,
              (SELECT CAST(count(*) AS BIGINT) FROM w) AS n_wedges,
              CAST(tri.nt AS BIGINT) AS n_triangles
       FROM tri""",
)
def q213(spark: SparkSession, sf: str) -> DataFrame:
    """Exact triangle counting (`triangle_count`, operators/graph.py)
    on the q165 synthetic customer graph (orders hashed onto the
    customer id range).  Degree-ordered compact-forward join: orient
    each undirected edge toward the higher (degree, id) endpoint, so
    every triangle is counted at exactly one vertex and the wedge
    join's fan-out is bounded by the O(√m) oriented out-degree on ANY
    degree distribution — the celebrity node contributes ~no wedges
    because its edges point IN.  Two shuffle equi-joins + partial
    aggregation; no cartesian (audited).  The oracle replays the
    identical orientation and joins in SQL, pinning edge, wedge, and
    triangle counts."""
    from ..operators.graph import triangle_count

    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    n = cust.count()  # |customer| — one columnar-count job, q165-style
    edges = orders.select(
        F.col("o_custkey").cast("bigint").alias("src"),
        (F.lit(1) + F.col("o_orderkey") % F.lit(n))
        .cast("bigint")
        .alias("dst"),
    )
    return triangle_count(edges)


@q(
    "q216_distributed_centroids",
    """WITH ex AS (
         SELECT label, CAST(i AS INT) - 1 AS dim,
                floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                      * 1000000) AS micros
         FROM embeddings,
              UNNEST(range(1, len(embedding) + 1)) AS t(i))
       SELECT label, dim,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(micros) AS BIGINT) AS sum_micros,
              CAST(sum(micros) AS DOUBLE) / count(*) AS mean_micros
       FROM ex GROUP BY label, dim""",
)
def q216(spark: SparkSession, sf: str) -> DataFrame:
    """DISTRIBUTED centroid computation — the k-means update step at
    corpus scale.  IVF training (q67/q107/q193) runs k-means on a
    driver-side sample because centroids are k-sized; updating those
    centroids over ALL 100 TB of vectors must instead be one
    partial-combined aggregation: posexplode the vector into (label,
    dim, value) and groupBy (label, dim) — the shuffle carries one
    partial sum per (label, dim) per partition, never vectors.

    Float-sum determinism: per-dimension values are floored to integer
    MICROS before summing (floor, not cast — DuckDB's double→int CAST
    rounds while Spark's truncates; floor agrees everywhere including
    negatives), so the sums are exact integers on both engines and the
    derived mean is a division of identical operands — no rounding
    step exists to disagree at a midpoint.  The 1e-6 quantization is
    inherent to cross-engine float-sum comparison, not to the
    operator: swap micros for raw F.sum(val) in production and accept
    ulp-order nondeterminism from reduction order instead."""
    emb = load_table(spark, sf, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim", "val")
    ).select(
        "label",
        "dim",
        F.floor(F.col("val").cast("double") * 1000000).alias("micros"),
    )
    return ex.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("micros").cast("bigint").alias("sum_micros"),
        (
            F.sum("micros").cast("double") / F.count(F.lit(1))
        ).alias("mean_micros"),
    )


_Q234_ORACLE = """
  WITH r AS (
    SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
           CASE WHEN len(string_split(text, ' ')) >= 50
                THEN 1 ELSE 0 END AS b
    FROM documents),
  c AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(a * b) AS BIGINT) AS n11,
           CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
           CAST(sum((1 - a) * b) AS BIGINT) AS n01,
           CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
    FROM r)
  SELECT n, n11, n10, n01, n00,
         round((CAST(n11 + n00 AS DOUBLE) / n
                - (CAST(n11 + n10 AS DOUBLE) / n)
                  * (CAST(n11 + n01 AS DOUBLE) / n)
                - (CAST(n01 + n00 AS DOUBLE) / n)
                  * (CAST(n10 + n00 AS DOUBLE) / n))
               / (1.0
                  - (CAST(n11 + n10 AS DOUBLE) / n)
                    * (CAST(n11 + n01 AS DOUBLE) / n)
                  - (CAST(n01 + n00 AS DOUBLE) / n)
                    * (CAST(n10 + n00 AS DOUBLE) / n)), 6) AS kappa
  FROM c"""


@q("q234_cohens_kappa", _Q234_ORACLE)
def q234(spark: SparkSession, sf: str) -> DataFrame:
    """Cohen's kappa between two deterministic document raters
    (length >= 300 chars vs whitespace tokens >= 50) — chance-corrected
    agreement, THE quality-control statistic for labeling pipelines:
    before sparse human/classifier labels are trusted to drive
    curation (q219's seeds, q168's model filter), their agreement with
    a second rater has to beat chance, and kappa is that measurement.

    One partial-combined, groupBy-less aggregate builds the full 2x2
    contingency (n11/n10/n01/n00) in a single scan — the q218/q227
    moment shape, so at 100 TB the statistic costs the scan and the
    shuffle carries five integers per partition.  kappa =
    (po - pe)/(1 - pe) is evaluated on the exact integer margins with
    the identical DOUBLE expression tree on both engines (the q227
    contract), pinned by round(., 6)."""
    docs = load_table(spark, sf, "documents")
    # rater b splits on a literal single space, matching the oracle's
    # string_split(text, ' ') exactly (operators.text.token_count
    # splits on \s+, which diverges on tabs/doubled spaces — the
    # q235/q236 tokenizer-alignment rule)
    r = docs.select(
        F.when(F.col("n_chars") >= 300, 1).otherwise(0).alias("a"),
        F.when(F.size(F.split(F.col("text"), " ")) >= 50, 1)
        .otherwise(0)
        .alias("b"),
    )
    c = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("bigint").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("bigint").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b")))
        .cast("bigint")
        .alias("n00"),
    )
    n = F.col("n")
    pa = (F.col("n11") + F.col("n10")).cast("double") / n
    pb = (F.col("n11") + F.col("n01")).cast("double") / n
    qa = (F.col("n01") + F.col("n00")).cast("double") / n
    qb = (F.col("n10") + F.col("n00")).cast("double") / n
    po = (F.col("n11") + F.col("n00")).cast("double") / n
    return c.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(
            (po - pa * pb - qa * qb) / (F.lit(1.0) - pa * pb - qa * qb), 6
        ).alias("kappa"),
    )


_Q236_ORACLE = """
  WITH tok AS (
    SELECT source, unnest(string_split(text, ' ')) AS token
    FROM documents WHERE source IN ('src0', 'src1')),
  c AS (
    SELECT token,
           CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
             AS BIGINT) AS a,
           CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
             AS BIGINT) AS b
    FROM tok GROUP BY token),
  n AS (
    SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb
    FROM c),
  terms AS (
    SELECT
      CAST(sum(CASE WHEN a > 0 THEN CAST(floor(CAST(a AS DOUBLE)
            * ln(CAST(2 * a * nb AS DOUBLE)
                 / CAST(a * nb + b * na AS DOUBLE)) * 1000000) AS BIGINT)
          ELSE 0 END) AS BIGINT) AS sp_micros,
      CAST(sum(CASE WHEN b > 0 THEN CAST(floor(CAST(b AS DOUBLE)
            * ln(CAST(2 * b * na AS DOUBLE)
                 / CAST(a * nb + b * na AS DOUBLE)) * 1000000) AS BIGINT)
          ELSE 0 END) AS BIGINT) AS sq_micros
    FROM c CROSS JOIN n)
  SELECT na, nb,
         round(((CAST(sp_micros AS DOUBLE) / 1000000.0) / na
                + (CAST(sq_micros AS DOUBLE) / 1000000.0) / nb)
               / 2.0, 6) AS js_nats
  FROM terms CROSS JOIN n"""


@q("q236_js_divergence", _Q236_ORACLE)
def q236(spark: SparkSession, sf: str) -> DataFrame:
    """Jensen–Shannon divergence between two sources' token
    distributions — the symmetric, bounded (<= ln 2) distribution
    distance used to decide whether two crawl sources are near-copies
    (merge and dedup them) or genuinely complementary (keep both in
    the mixture); the distributional sibling of q158's PSI and q164's
    KS, which compare scalar score distributions rather than
    vocabularies.

    JS = (KL(P||M) + KL(Q||M))/2 with M the even mixture; per token,
    P/M = 2a·NB/(a·NB + b·NA) keeps every log argument a ratio of
    exact BIGINT products.  The per-token terms are floored to integer
    MICRO-NATS and summed exactly (the q235 contract — double
    summation order can never matter), then the two KL sums divide by
    their totals in one identical expression tree, pinned by
    round(., 6).  Plan shape: one explode + one partial-combined
    (token, a, b) pivot count + unpartitioned window sums for the
    totals (over the VOCAB-sized pivot — the corpus is scanned exactly
    once) + one partial-combined term rollup — the vocabulary, not the
    corpus, crosses the wire."""
    docs = load_table(spark, sf, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    tok = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    c = tok.groupBy("token").agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("source") == "src1", 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
    )
    # totals as unpartitioned window sums over the VOCAB-sized pivot
    # table (not a second corpus pass): c is |vocabulary| rows, so the
    # single-partition window is cheap and the whole query reads the
    # corpus exactly once
    wall = Window.partitionBy()
    cn = c.select(
        "a",
        "b",
        F.sum("a").over(wall).cast("bigint").alias("na"),
        F.sum("b").over(wall).cast("bigint").alias("nb"),
    )
    term_p = F.when(
        F.col("a") > 0,
        F.floor(
            F.col("a").cast("double")
            * F.log(
                (2 * F.col("a") * F.col("nb")).cast("double")
                / (
                    F.col("a") * F.col("nb") + F.col("b") * F.col("na")
                ).cast("double")
            )
            * 1000000
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    term_q = F.when(
        F.col("b") > 0,
        F.floor(
            F.col("b").cast("double")
            * F.log(
                (2 * F.col("b") * F.col("na")).cast("double")
                / (
                    F.col("a") * F.col("nb") + F.col("b") * F.col("na")
                ).cast("double")
            )
            * 1000000
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    terms = cn.agg(
        F.sum(term_p).cast("bigint").alias("sp_micros"),
        F.sum(term_q).cast("bigint").alias("sq_micros"),
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
    )
    return terms.select(
        "na",
        "nb",
        F.round(
            (
                (F.col("sp_micros").cast("double") / 1000000.0)
                / F.col("na")
                + (F.col("sq_micros").cast("double") / 1000000.0)
                / F.col("nb")
            )
            / 2.0,
            6,
        ).alias("js_nats"),
    )


_Q238_ORACLE = """
  WITH h AS (
    SELECT source, n_chars AS s,
           CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS p,
           CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END)
                AS BIGINT) AS n
    FROM documents GROUP BY source, n_chars),
  c AS (
    SELECT source, p, n,
           COALESCE(sum(n) OVER (PARTITION BY source ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS nb
    FROM h),
  a AS (
    SELECT source,
           CAST(sum(p) AS BIGINT) AS n_pos,
           CAST(sum(n) AS BIGINT) AS n_neg,
           CAST(sum(p * (2 * nb + n)) AS BIGINT) AS num2
    FROM c GROUP BY source)
  SELECT source, n_pos, n_neg,
         CASE WHEN n_pos > 0 AND n_neg > 0
              THEN round(num2 / (2.0 * n_pos * n_neg), 6) END AS auc_r
  FROM a ORDER BY source"""


@q("q238_roc_auc", _Q238_ORACLE)
def q238(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source EXACT ROC-AUC (`stats.roc_auc` — Mann-Whitney with
    midrank ties) for a deterministic scorer/label pair: score =
    n_chars, label = (doc_id % 3 == 0).  AUC is THE threshold-free
    ranking metric for the pipeline's learned scorers (q168 model
    filter, q179 quality model, q141 BM25): a curation gate on a
    scorer should pin its AUC the same way q106 pins LSH recall.

    Scale shape (the operator's contract): the corpus collapses to the
    per-group DISTINCT-SCORE histogram in one partial-combined agg,
    the ordered pass runs per group (partitioned window — no global
    sort), and the doubled numerator Σ p_s·(2·neg_below + n_s) stays
    integer, so both engines agree exactly up to one final rounded
    division.  The synthetic label makes expected AUC ≈ 0.5; the
    contract is engine-exactness, not model quality."""
    from ..operators.stats import roc_auc

    docs = load_table(spark, sf, "documents")
    labeled = docs.select(
        "source",
        (F.col("doc_id") % 3 == 0).cast("int").alias("label"),
        F.col("n_chars").alias("score"),
    )
    return roc_auc(labeled, "label", "score", ["source"]).orderBy(
        "source"
    )


_Q244_ORACLE = """
  WITH src AS (
    SELECT doc_id, source, n_chars,
           percent_rank() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS p
    FROM documents),
  pooled AS (
    SELECT n_chars AS gv,
           row_number() OVER (ORDER BY n_chars, doc_id) AS grn
    FROM documents),
  nn AS (SELECT count(*) AS n FROM documents)
  SELECT s.doc_id, s.source,
         CAST(s.n_chars AS BIGINT) AS n_chars,
         CAST(p2.gv AS BIGINT) AS normalized
  FROM src s CROSS JOIN nn
  JOIN pooled p2
    ON (1 + CAST(floor(s.p * (nn.n - 1)) AS BIGINT)) = p2.grn"""


@q("q244_quantile_normalize", _Q244_ORACLE)
def q244(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile normalization of per-source document lengths
    (`stats.quantile_normalize`): each doc's n_chars is replaced by the
    GLOBAL length at the same within-source quantile position — after
    which every source shares the pooled distribution, so one global
    threshold or mixture weight (q139/q155) applies fairly across
    sources with different length scales.  Nearest-rank mapping is
    integer arithmetic on window ranks (engine-exact for integer
    inputs); one group-partitioned window + one global ordered window
    (the ks_statistic total-order trade: pre-bin at 100 TB) + an
    integer equi-join, never all-pairs."""
    from ..operators.stats import quantile_normalize

    docs = load_table(spark, sf, "documents")
    out = quantile_normalize(docs, "n_chars", "source", "doc_id")
    return out.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("normalized").cast("bigint").alias("normalized"),
    )


_Q250_ORACLE = """
  WITH joint AS (
    SELECT lang AS x, source AS y, count(*) AS c
    FROM documents GROUP BY 1, 2),
  t AS (
    SELECT x, y, c,
           sum(c) OVER (PARTITION BY x) AS cx,
           sum(c) OVER (PARTITION BY y) AS cy,
           sum(c) OVER () AS n,
           count(*) OVER (PARTITION BY x) AS kx,
           count(*) OVER (PARTITION BY y) AS ky
    FROM joint),
  a AS (
    SELECT max(n) AS n,
           sum((c / CAST(n AS DOUBLE))
               * ln((c / CAST(n AS DOUBLE))
                    / ((cx / CAST(n AS DOUBLE))
                       * (cy / CAST(n AS DOUBLE))))) AS mi,
           sum(-(cx / CAST(n AS DOUBLE)) / kx
               * ln(cx / CAST(n AS DOUBLE))) AS hx,
           sum(-(cy / CAST(n AS DOUBLE)) / ky
               * ln(cy / CAST(n AS DOUBLE))) AS hy
    FROM t)
  SELECT CAST(n AS BIGINT) AS n, round(mi, 6) AS mi_r,
         CASE WHEN hx > 0 AND hy > 0
              THEN round(mi / sqrt(hx * hy), 6) END AS nmi_r
  FROM a"""


@q("q250_mutual_information", _Q250_ORACLE)
def q250(spark: SparkSession, sf: str) -> DataFrame:
    """Mutual information (+ sqrt-normalized NMI) between document
    language and source (`stats.mutual_information`) — the
    association-STRENGTH metric completing the dependence family:
    chi-square (q173) tests IF, JS divergence (q236) compares one
    variable's two distributions, MI says HOW MUCH one column tells
    you about another (feature redundancy / leakage screening before
    training).  One partial-combined aggregate to the |X|·|Y|
    contingency; marginals, totals, AND both entropies come from
    windows over that table — the corpus is scanned once."""
    from ..operators.stats import mutual_information

    docs = load_table(spark, sf, "documents")
    return mutual_information(docs, "lang", "source")


_Q251_ORACLE = """
  WITH g AS (
    SELECT event_type,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (
             PARTITION BY event_type
             ORDER BY ts, event_id) AS gap
    FROM events),
  f AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
  a AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_gaps,
           sum(gap) AS s,
           sum(CAST(gap AS DOUBLE) * CAST(gap AS DOUBLE)) AS s2
    FROM f GROUP BY 1),
  m AS (
    SELECT event_type, n_gaps,
           CAST(s AS DOUBLE) / n_gaps AS mu,
           sqrt(greatest(
             s2 / n_gaps
             - (CAST(s AS DOUBLE) / n_gaps)
               * (CAST(s AS DOUBLE) / n_gaps),
             0.0)) AS sigma
    FROM a)
  SELECT event_type, n_gaps,
         round(mu / 1000000.0, 4) AS mean_gap_s_r,
         CASE WHEN mu > 0 THEN round(sigma / mu, 4) END AS cv_r,
         CASE WHEN (sigma + mu) > 0
              THEN round((sigma - mu) / (sigma + mu), 4)
              END AS burstiness_r
  FROM m"""


@q("q251_interarrival_burstiness", _Q251_ORACLE)
def q251(spark: SparkSession, sf: str) -> DataFrame:
    """Inter-arrival statistics per event type
    (`timeseries.interarrival_stats`): mean gap, CV, and the
    Goh-Barabási burstiness index B = (σ−μ)/(σ+μ) — the arrival-
    PATTERN telemetry signal (clock ≈ −1, Poisson ≈ 0, bursts → 1)
    complementing the WHEN-shaped CUSUM (q240).  Gaps are exact
    integer microseconds from one per-key lag window (unix_micros ↔
    epoch_us — second truncation would desync engines); one
    partial-combined aggregate reduces them — two exchanges total,
    no self-join."""
    from ..operators.timeseries import interarrival_stats

    ev = load_table(spark, sf, "events")
    return interarrival_stats(ev, "event_type", "ts", "event_id")


_Q253_ORACLE = """
  WITH users AS (
    SELECT user_id,
           CASE WHEN sum(CASE WHEN event_type = 'purchase'
                              THEN 1 ELSE 0 END) > 13
                THEN 1 ELSE 0 END AS conv,
           CASE WHEN (('0x' || substring(
                  md5(CAST(user_id AS VARCHAR) || '|' || 'ab-v1'),
                  1, 8))::BIGINT % 2) = 0
                THEN 'A' ELSE 'B' END AS arm
    FROM events GROUP BY user_id),
  agg AS (
    SELECT
      CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_a,
      CAST(sum(CASE WHEN arm = 'A' THEN conv ELSE 0 END) AS BIGINT)
        AS k_a,
      CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_b,
      CAST(sum(CASE WHEN arm = 'B' THEN conv ELSE 0 END) AS BIGINT)
        AS k_b
    FROM users)
  SELECT n_a, k_a, n_b, k_b,
         round(k_a / CAST(n_a AS DOUBLE), 6) AS rate_a_r,
         round(k_b / CAST(n_b AS DOUBLE), 6) AS rate_b_r,
         round((k_a / CAST(n_a AS DOUBLE) - k_b / CAST(n_b AS DOUBLE))
               / sqrt(((k_a + k_b) / CAST(n_a + n_b AS DOUBLE))
                      * (1.0 - (k_a + k_b)
                               / CAST(n_a + n_b AS DOUBLE))
                      * (1.0 / n_a + 1.0 / n_b)), 4) AS z_r,
         abs((k_a / CAST(n_a AS DOUBLE) - k_b / CAST(n_b AS DOUBLE))
             / sqrt(((k_a + k_b) / CAST(n_a + n_b AS DOUBLE))
                    * (1.0 - (k_a + k_b)
                             / CAST(n_a + n_b AS DOUBLE))
                    * (1.0 / n_a + 1.0 / n_b)))
           > 1.959963984540054 AS significant_95
  FROM agg"""


@q("q253_ab_test_ztest", _Q253_ORACLE)
def q253(spark: SparkSession, sf: str) -> DataFrame:
    """Two-proportion z-test on a deterministic A/B split of event
    users (`stats.two_proportion_ztest`): arms from the q209/q223 md5
    contract (no RNG — assignment is engine-replayable, the
    experiment-bucketing primitive), success = a high-value user
    (> 13 purchase events — ~50 % base rate, so the test is
    non-degenerate at every gate scale factor).
    One per-user partial-combined rollup + ONE aggregate producing
    all four counts via conditional sums — no join, no second scan;
    z is a closed form over the 1-row result, significance compared
    on the unrounded statistic."""
    from ..operators.stats import two_proportion_ztest

    ev = load_table(spark, sf, "events")
    h32 = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|", F.col("user_id").cast("string"), F.lit("ab-v1")
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    users = ev.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("long"))
            > 13
        )
        .cast("int")
        .alias("conv")
    ).withColumn(
        "arm", F.when(h32 % 2 == 0, "A").otherwise("B")
    )
    return two_proportion_ztest(users, "arm", "conv", "A", "B")


_Q258_ORACLE = """
  WITH v AS (
    SELECT user_id, min(ts) AS t FROM events
    WHERE event_type = 'view' GROUP BY 1),
  p AS (
    SELECT e.user_id, min(e.ts) AS t
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'purchase' AND e.ts > v.t GROUP BY 1),
  s AS (
    SELECT 'all' AS grp,
           epoch_us(p.t) - epoch_us(v.t) AS v
    FROM p JOIN v ON p.user_id = v.user_id),
  ranked AS (
    SELECT grp, v,
           row_number() OVER (PARTITION BY grp ORDER BY v ASC) AS rn,
           count(*) OVER (PARTITION BY grp) AS n
    FROM s)
  SELECT grp,
         CAST(max(n) AS BIGINT) AS n,
         round(min(CASE WHEN rn = greatest(1,
                 CAST(ceil(0.5 * n) AS INT)) THEN v END) / 1.0, 2)
           AS p50_r,
         round(min(CASE WHEN rn = greatest(1,
                 CAST(ceil(0.9 * n) AS INT)) THEN v END) / 1.0, 2)
           AS p90_r,
         round(min(CASE WHEN rn = greatest(1,
                 CAST(ceil(0.99 * n) AS INT)) THEN v END) / 1.0, 2)
           AS p99_r
  FROM ranked GROUP BY grp"""


@q("q258_conversion_latency_bands", _Q258_ORACLE)
def q258(spark: SparkSession, sf: str) -> DataFrame:
    """Exact nearest-rank p50/p90/p99 of view→purchase conversion
    latency in MICROSECONDS — the q239 funnel's "how fast", computed
    by COMPOSING two existing operators: the funnel's earliest-
    qualifying-times rule produces per-user latencies (pushed-down
    per-step scans + user-keyed min-aggs + one co-partitioned
    equi-join), and `stats.percentile_bands` publishes the exact
    bands (scale=1 — latencies are already exact integer µs, the
    q251 unix_micros ↔ epoch_us contract).  The published-SLO number
    two engines can never disagree on."""
    from ..operators.stats import percentile_bands

    ev = load_table(spark, sf, "events")
    v = ev.filter(F.col("event_type") == "view").groupBy(
        "user_id"
    ).agg(F.min("ts").alias("__vt"))
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("__vt"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("__pt"))
    )
    lat = p.join(v, "user_id").select(
        F.lit("all").alias("grp"),
        (
            F.unix_micros(F.col("__pt")) - F.unix_micros(F.col("__vt"))
        ).alias("lat_us"),
    )
    return percentile_bands(lat, "lat_us", ["grp"], scale=1)


_Q259_ORACLE = """
  WITH s AS (
    SELECT event_type, ts, event_id,
           CAST(floor(value * 1000000) AS BIGINT) AS v
    FROM events),
  w AS (
    SELECT event_type, ts, event_id, v,
           count(*) OVER pw AS n,
           sum(v) OVER pw AS s,
           sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)) OVER pw AS s2
    FROM s
    WINDOW pw AS (PARTITION BY event_type ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
  z AS (
    SELECT event_type, ts, event_id,
           v / 1000000.0 AS value,
           CASE WHEN n >= 30
                     AND sqrt(greatest(
                           s2 / n - (CAST(s AS DOUBLE) / n)
                                    * (CAST(s AS DOUBLE) / n),
                           0.0)) > 0
                THEN (v - CAST(s AS DOUBLE) / n)
                     / sqrt(greatest(
                         s2 / n - (CAST(s AS DOUBLE) / n)
                                  * (CAST(s AS DOUBLE) / n),
                         0.0))
                END AS zz
    FROM w)
  SELECT event_type,
         strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
         CAST(event_id AS BIGINT) AS event_id,
         round(value, 6) AS value_r,
         round(zz, 4) AS z_r
  FROM z WHERE abs(zz) > 3.0"""


@q("q259_prefix_zscore_anomaly", _Q259_ORACLE)
def q259(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-free online anomaly flags over the event stream
    (`stats.prefix_zscore_anomalies`, ≥30 prior obs, |z| > 3): each
    point is scored against STRICTLY PRIOR statistics — the causally
    valid twin of q169's global z-score, which lets a spike inflate
    the very σ it is judged by (self-masking).  One per-type ordered
    window computes prefix count/Σv/Σv² in place; prefix sums
    accumulate in the window's deterministic order, so both engines
    agree exactly; micro-fixed-pointing keeps Σv an exact integer."""
    from ..operators.stats import prefix_zscore_anomalies

    ev = load_table(spark, sf, "events")
    out = prefix_zscore_anomalies(
        ev, "event_type", "ts", "event_id", "value",
        min_history=30, z_threshold=3.0,
    )
    return out.select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.col("event_id").cast("bigint").alias("event_id"),
        F.round("value", 6).alias("value_r"),
        "z_r",
    )


_Q260_ORACLE = """
  WITH s AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(floor(value * 1000) AS BIGINT) AS v,
           CAST(floor((lead(epoch_us(ts)) OVER (
                  PARTITION BY event_type, CAST(ts AS DATE)
                  ORDER BY ts, event_id)
                - epoch_us(ts)) / 1000) AS BIGINT) AS dt
    FROM events),
  a AS (
    SELECT event_type, day,
           CAST(count(*) AS BIGINT) AS n_obs,
           CAST(coalesce(sum(dt), 0) AS BIGINT) AS held_ms,
           sum(v * dt) AS wv
    FROM s GROUP BY 1, 2)
  SELECT event_type, day, n_obs, held_ms,
         CASE WHEN held_ms > 0
              THEN round(CAST(wv AS DOUBLE) / held_ms / 1000, 4)
              END AS twap_r
  FROM a"""


@q("q260_time_weighted_average", _Q260_ORACLE)
def q260(spark: SparkSession, sf: str) -> DataFrame:
    """Time-weighted average event value per (type, day)
    (`timeseries.time_weighted_average`): each observation weighted
    by its holding time to the group's next observation — the correct
    aggregate for irregularly-sampled gauges, where the plain daily
    mean lets ten readings in a quiet minute outweigh one that held
    for hours.  One per-group lead window + one partial-combined
    aggregate; milli-fixed-pointed values × integer millisecond
    holds keep both sums exact integers, so the TWAP is a ratio of
    exact integers in any engine."""
    from ..operators.timeseries import time_weighted_average

    ev = load_table(spark, sf, "events")
    return time_weighted_average(
        ev.withColumn("day", F.col("ts").cast("date")),
        ["event_type", "day"],
        "ts",
        "event_id",
        "value",
    )


_Q262_ORACLE = """
  WITH ranked AS (
    SELECT lang,
           row_number() OVER (
             PARTITION BY lang
             ORDER BY md5(CAST(doc_id AS VARCHAR) || '|' || 'split-v1'),
                      doc_id) AS rn,
           count(*) OVER (PARTITION BY lang) AS n
    FROM documents),
  assigned AS (
    SELECT lang,
           CASE WHEN rn <= CAST(ceil(0.8 * n) AS INT) THEN 'train'
                WHEN rn <= CAST(ceil(0.9 * n) AS INT) THEN 'val'
                ELSE 'test' END AS split
    FROM ranked)
  SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs
  FROM assigned GROUP BY lang, split"""


@q("q262_exact_stratified_split", _Q262_ORACLE)
def q262(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-proportion stratified train/val/test split per language
    (`sampling.split_exact_stratified`, 80/10/10): rows rank within
    each stratum by md5(id|salt) — deterministic pseudo-random, no
    RNG — and assign by POSITION against cumulative thresholds, so
    every stratum's sizes are exact to ±1 where q223's hash-modulo
    split is exact only in expectation (a 50-doc language can land
    13/2/35 by hash luck, fatal for a small eval slice).  One
    per-stratum ordered window is the cost of exactness; strata sort
    independently in parallel."""
    from ..operators.sampling import split_exact_stratified

    docs = load_table(spark, sf, "documents")
    return split_exact_stratified(
        docs, ["lang"], "doc_id"
    ).groupBy("lang", "split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


_Q263_ORACLE = """
  WITH s0 AS (
    SELECT user_id, min(ts) AS t FROM events
    WHERE event_type = 'view' GROUP BY user_id),
  s1 AS (
    SELECT e.user_id, min(e.ts) AS t
    FROM events e JOIN s0 ON e.user_id = s0.user_id
    WHERE e.event_type = 'click' AND e.ts > s0.t
      AND epoch_us(e.ts) <= epoch_us(s0.t) + 1800000000
    GROUP BY e.user_id),
  s2 AS (
    SELECT e.user_id, min(e.ts) AS t
    FROM events e JOIN s1 ON e.user_id = s1.user_id
    WHERE e.event_type = 'purchase' AND e.ts > s1.t
      AND epoch_us(e.ts) <= epoch_us(s1.t) + 1800000000
    GROUP BY e.user_id),
  counts AS (
    SELECT 0 AS step_idx, 'view' AS step,
           CAST(count(*) AS BIGINT) AS users_reached FROM s0
    UNION ALL SELECT 1, 'click', CAST(count(*) AS BIGINT) FROM s1
    UNION ALL SELECT 2, 'purchase', CAST(count(*) AS BIGINT) FROM s2)
  SELECT step_idx, step, users_reached,
         CASE WHEN step_idx > 0
                   AND lag(users_reached) OVER (ORDER BY step_idx) > 0
              THEN round(users_reached /
                   CAST(lag(users_reached) OVER (ORDER BY step_idx)
                        AS DOUBLE), 6) END AS conversion_from_prev_r,
         CASE WHEN step_idx > 0
                   AND first_value(users_reached)
                       OVER (ORDER BY step_idx) > 0
              THEN round(users_reached /
                   CAST(first_value(users_reached)
                        OVER (ORDER BY step_idx) AS DOUBLE), 6)
              END AS conversion_from_first_r
  FROM counts ORDER BY step_idx"""


@q("q263_time_bounded_funnel", _Q263_ORACLE)
def q263(spark: SparkSession, sf: str) -> DataFrame:
    """Attribution-window funnel: view → click → purchase where each
    hop must land within 30 MINUTES of the previous step's time
    (`timeseries.funnel_conversion(max_gap_s=1800)`) — the marketing-
    attribution form of q239's unbounded funnel; the bound is one
    more pushed predicate on the same co-partitioned user join (same
    plan shape, different semantics), with hop times compared in
    exact integer microseconds (the q251 contract)."""
    from ..operators.timeseries import funnel_conversion

    ev = load_table(spark, sf, "events")
    return funnel_conversion(
        ev,
        ["view", "click", "purchase"],
        "user_id",
        "ts",
        "event_type",
        max_gap_s=1800,
    )


_Q267_ORACLE = """
  WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           sum(CASE WHEN event_type = 'click'
                    THEN CAST(floor(value * 1000000) AS BIGINT)
                    ELSE 0 END) AS x,
           sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(floor(value * 1000000) AS BIGINT)
                    ELSE 0 END) AS y
    FROM events GROUP BY 1),
  m AS (
    SELECT day,
           count(*) OVER w AS n,
           sum(x) OVER w AS sx,
           sum(y) OVER w AS sy,
           sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) OVER w AS sxx,
           sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) OVER w AS syy,
           sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) OVER w AS sxy
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 29 PRECEDING
                 AND CURRENT ROW))
  SELECT day,
         CAST(n AS BIGINT) AS n_window,
         CASE WHEN n >= 10
                   AND (CAST(n AS DOUBLE) * sxx
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                   AND (CAST(n AS DOUBLE) * syy
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
              THEN round((CAST(n AS DOUBLE) * sxy
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / sqrt((CAST(n AS DOUBLE) * sxx
                                 - CAST(sx AS DOUBLE)
                                   * CAST(sx AS DOUBLE))
                                * (CAST(n AS DOUBLE) * syy
                                   - CAST(sy AS DOUBLE)
                                     * CAST(sy AS DOUBLE))), 6)
              END AS r_r
  FROM m"""


@q("q267_rolling_correlation", _Q267_ORACLE)
def q267(spark: SparkSession, sf: str) -> DataFrame:
    """30-day rolling Pearson correlation between daily click and
    purchase value (`timeseries.rolling_correlation`) — the time-LOCAL
    dependence view where q224's lagged cross-correlation is global
    (a coupling that flips sign mid-year averages to zero globally
    but shows in every rolling window).  Daily sums are exact integer
    micros (one conditional-sum aggregate, no pivot join); ONE
    ordered rows-frame window carries all five moment sums in a
    single pass — no self-join, no per-window re-aggregation."""
    from ..operators.timeseries import rolling_correlation

    ev = load_table(spark, sf, "events")
    vm = F.floor(F.col("value") * 1000000).cast("bigint")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == "click", vm).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", vm).otherwise(0)
        ).alias("y"),
    )
    return rolling_correlation(
        daily, "day", "x", "y", window_rows=30, min_rows=10, scale=1
    )


_Q277_ORACLE = """
  WITH days AS (
    SELECT DISTINCT user_id,
           date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
             AS d
    FROM events),
  isl AS (
    SELECT user_id, d,
           d - row_number() OVER (PARTITION BY user_id ORDER BY d)
             AS island
    FROM days),
  runs AS (
    SELECT user_id, island, count(*) AS len
    FROM isl GROUP BY 1, 2)
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_streaks,
         CAST(max(len) AS BIGINT) AS longest_streak
  FROM runs GROUP BY user_id"""


@q("q277_activity_streaks", _Q277_ORACLE)
def q277(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user activity streaks (`timeseries.gaps_islands`): maximal
    runs of CONSECUTIVE active days via the classic seq −
    row_number() island key — the engagement metric (current/longest
    streak) and the contiguous-range primitive (unbroken SLA days,
    id-range compaction) in one shape: one per-key ordered window +
    one partial-combined aggregate, no self-join, no recursion."""
    from ..operators.timeseries import gaps_islands

    ev = load_table(spark, sf, "events")
    days = ev.select(
        "user_id",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("d"),
    )
    islands = gaps_islands(days, "user_id", "d")
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("length").cast("bigint").alias("longest_streak"),
    )


_Q280_ORACLE = """
  WITH du AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
  dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
          FROM du GROUP BY day),
  fu AS (SELECT user_id, min(day) AS fd FROM du GROUP BY user_id),
  newu AS (SELECT fd AS day, CAST(count(*) AS BIGINT) AS new_users
           FROM fu GROUP BY fd)
  SELECT d.day, d.dau,
         CAST(coalesce(n.new_users, 0) AS BIGINT) AS new_users,
         CAST(sum(coalesce(n.new_users, 0)) OVER (
           ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cumulative_unique
  FROM dau d LEFT JOIN newu n ON d.day = n.day"""


@q("q280_cumulative_unique_users", _Q280_ORACLE)
def q280(spark: SparkSession, sf: str) -> DataFrame:
    """Daily active / new / cumulative-unique users — the growth
    dashboard's top row, computed WITHOUT a running set: each user
    contributes to 'new' at exactly their FIRST active day (one
    partial-combined min per user — the q249 vocabulary-growth trick
    on users instead of tokens), so cumulative-unique is a plain
    cumulative sum over the |days|-row table and users never cross
    the shuffle after the min."""
    from pyspark.sql import Window

    ev = load_table(spark, sf, "events")
    du = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    dau = du.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("dau")
    )
    fu = du.groupBy("user_id").agg(F.min("day").alias("fd"))
    newu = fu.groupBy(F.col("fd").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        dau.join(newu, "day", "left")
        .select(
            "day",
            "dau",
            F.coalesce("new_users", F.lit(0))
            .cast("bigint")
            .alias("new_users"),
        )
        .withColumn(
            "cumulative_unique",
            F.sum("new_users").over(wcum).cast("bigint"),
        )
    )


_Q281_ORACLE = """
  WITH du AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
  mx AS (SELECT max(day) AS mxd FROM du),
  contrib AS (
    SELECT user_id,
           CAST(day + to_days(CAST(o AS INT)) AS DATE) AS target
    FROM du CROSS JOIN
         (SELECT unnest(generate_series(0, 6)) AS o) offs
    WHERE day + to_days(CAST(o AS INT)) <= (SELECT mxd FROM mx))
  SELECT target AS day,
         CAST(count(DISTINCT user_id) AS BIGINT) AS rolling_7d_users
  FROM contrib GROUP BY target"""


@q("q281_rolling_active_users", _Q281_ORACLE)
def q281(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT trailing-7-day active users per day — the WAU/rolling-
    retention headline, where q231's sliding HLL trades exactness for
    state: each (user, day) activity contributes itself to the 7
    target days it stays inside the window (a bounded codegen
    fan-out — explode of a 7-element sequence, the q87 bin-replication
    move applied to time windows), then ONE distinct-count per target
    day.  No self-join of the activity table against a date range,
    no per-day re-scan; fan-out is the window length, fixed."""
    ev = load_table(spark, sf, "events")
    du = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    mx = du.agg(F.max("day").alias("__mxd"))
    contrib = (
        du.select(
            "user_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(6))
            ).alias("__o"),
            "day",
        )
        .select(
            "user_id",
            F.date_add(F.col("day"), F.col("__o")).alias("target"),
        )
        .crossJoin(F.broadcast(mx))
        .filter(F.col("target") <= F.col("__mxd"))
    )
    return contrib.groupBy(F.col("target").alias("day")).agg(
        F.countDistinct("user_id").cast("bigint").alias(
            "rolling_7d_users"
        )
    )


_Q283_ORACLE = """
  WITH mx AS (SELECT max(epoch_us(ts)) AS anchor FROM events),
  per AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           max(epoch_us(ts)) AS last_us,
           max(ts) AS last_ts
    FROM events GROUP BY event_type)
  SELECT event_type, n_events,
         strftime(last_ts, '%Y-%m-%d %H:%M:%S') AS last_ts_s,
         round(((SELECT anchor FROM mx) - last_us)
               / 3600000000.0, 4) AS hours_behind_r
  FROM per"""


@q("q283_freshness_report", _Q283_ORACLE)
def q283(spark: SparkSession, sf: str) -> DataFrame:
    """Data-freshness report per event stream: row count, last event
    time, and hours behind the freshest stream (anchor = corpus max —
    never now(), which would make the report non-reproducible;
    derived as a window over the |streams|-row aggregate itself, so
    the event table is scanned ONCE) — the ops staple that pages
    someone when a source stalls;
    lateness is a ratio of exact integer microseconds (the q251
    unix_micros ↔ epoch_us contract)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf, "events")
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max(F.unix_micros(F.col("ts"))).alias("__last_us"),
        F.max("ts").alias("__last_ts"),
    )
    # the anchor IS max(__last_us) over the |streams|-row aggregate —
    # a window over the tiny result, never a second scan of events
    anchor = F.max("__last_us").over(Window.partitionBy())
    return per.select(
        "event_type",
        "n_events",
        F.date_format("__last_ts", "yyyy-MM-dd HH:mm:ss").alias(
            "last_ts_s"
        ),
        F.round(
            (anchor - F.col("__last_us")) / 3600000000.0, 4
        ).alias("hours_behind_r"),
    )


_Q286_ORACLE = """
  WITH per AS (
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_corpus,
           CAST(sum(CASE WHEN ((doc_id * 2654435761) % 4294967296)
                              * 10000 / 4294967296 < 3000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sample
    FROM documents GROUP BY lang),
  j AS (
    SELECT lang, n_corpus, n_sample,
           sum(n_sample) OVER () AS tot_s,
           sum(n_corpus) OVER () AS tot_c
    FROM per),
  terms AS (
    SELECT lang, n_corpus, n_sample,
           n_corpus * (tot_s / CAST(tot_c AS DOUBLE)) AS expected
    FROM j),
  a AS (
    SELECT CAST(sum(n_sample) AS BIGINT) AS n_sample,
           CAST(count(*) AS BIGINT) AS n_strata,
           sum((n_sample - expected) * (n_sample - expected)
               / expected) AS chi2
    FROM terms)
  SELECT n_sample, n_strata,
         CAST(n_strata - 1 AS BIGINT) AS dof,
         round(chi2, 4) AS chi2_r,
         CASE n_strata - 1
           WHEN 1 THEN chi2 > 3.841458820694124
           WHEN 2 THEN chi2 > 5.991464547107979
           WHEN 3 THEN chi2 > 7.814727903251179
           WHEN 4 THEN chi2 > 9.487729036781154
           WHEN 5 THEN chi2 > 11.070497693516351
           WHEN 6 THEN chi2 > 12.591587243743977
           WHEN 7 THEN chi2 > 14.067140449340169
           WHEN 8 THEN chi2 > 15.50731305586545
           WHEN 9 THEN chi2 > 16.918977604620448
           ELSE NULL END AS biased_at_95
  FROM a"""


@q("q286_sample_representativeness", _Q286_ORACLE)
def q286(spark: SparkSession, sf: str) -> DataFrame:
    """Sample-representativeness audit: a chi-square goodness-of-fit
    of the q63-style deterministic 30 % hash sample's language mix
    against the corpus mix — "is my sample representative" answered
    BEFORE the sample feeds anything (the governance twin of q173's
    drift chi-square: that compares two corpora, this compares a
    sample to its own population).  ONE conditional-sum scan (the
    q173 one-pass discipline) + windows over the |langs|-row result;
    counts exact, the statistic the identical IEEE tree both engines
    round; significance compared on the unrounded value against the
    dof-APPROPRIATE 95 % critical point from a shared lookup — dof
    follows the data, so a corpus with a different language count is
    never judged against the wrong threshold."""
    from pyspark.sql import Window

    from ..operators.sampling import hash_bucket

    docs = load_table(spark, sf, "documents")
    # the q63 sampling contract via the SHARED helper (no re-inlined
    # magic constants), as a conditional sum so corpus and sample
    # counts come from ONE scan — the q173 one-pass discipline
    keep = hash_bucket(F.col("doc_id"), 10000) < F.lit(3000)
    per = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_corpus"),
        F.sum(keep.cast("long")).cast("bigint").alias("n_sample"),
    )
    wall = Window.partitionBy()
    j = per.select(
        "lang",
        "n_corpus",
        "n_sample",
        (
            F.col("n_corpus")
            * (
                F.sum("n_sample").over(wall)
                / F.sum("n_corpus").over(wall).cast("double")
            )
        ).alias("expected"),
    )
    term = (
        (F.col("n_sample") - F.col("expected"))
        * (F.col("n_sample") - F.col("expected"))
        / F.col("expected")
    )
    a = j.agg(
        F.sum("n_sample").cast("bigint").alias("n_sample"),
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum(term).alias("__chi2"),
    )
    # 95% chi-square critical values by dof — dof follows the data; a
    # hardcoded df=4 verdict would silently misjudge any corpus with a
    # different language count
    crits = {
        1: 3.841458820694124, 2: 5.991464547107979,
        3: 7.814727903251179, 4: 9.487729036781154,
        5: 11.070497693516351, 6: 12.591587243743977,
        7: 14.067140449340169, 8: 15.50731305586545,
        9: 16.918977604620448,
    }
    dof = F.col("n_strata") - 1
    verdict = F.lit(None).cast("boolean")
    for d in sorted(crits, reverse=True):
        verdict = F.when(
            dof == d, F.col("__chi2") > crits[d]
        ).otherwise(verdict)
    return a.select(
        "n_sample",
        "n_strata",
        dof.cast("bigint").alias("dof"),
        F.round("__chi2", 4).alias("chi2_r"),
        verdict.alias("biased_at_95"),
    )


_Q287_ORACLE = """
  WITH ha AS (
    SELECT DISTINCT ('0x' || substring(md5(
             user_id || ':' || CAST(CAST(ts AS DATE) AS VARCHAR)
             || '|kmv-v1'), 1, 13))::BIGINT AS h
    FROM events WHERE event_type = 'click'),
  hb AS (
    SELECT DISTINCT ('0x' || substring(md5(
             user_id || ':' || CAST(CAST(ts AS DATE) AS VARCHAR)
             || '|kmv-v1'), 1, 13))::BIGINT AS h
    FROM events WHERE event_type = 'purchase'),
  sa AS (SELECT h FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ha)
    WHERE rn <= 256),
  sb AS (SELECT h FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hb)
    WHERE rn <= 256),
  merged AS (
    SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb)),
  topk AS (SELECT h FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rn FROM merged)
    WHERE rn <= 256),
  marked AS (
    SELECT t.h,
           CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
                THEN 1 ELSE 0 END AS in_both
    FROM topk t
    LEFT JOIN sa a ON t.h = a.h
    LEFT JOIN sb b ON t.h = b.h),
  agg AS (
    SELECT CAST(count(*) AS BIGINT) AS k_used,
           max(h) AS hk,
           sum(in_both) AS c_both
    FROM marked),
  est AS (
    SELECT k_used,
           round(CASE WHEN k_used < 256 THEN CAST(k_used AS DOUBLE)
                 ELSE (k_used - 1) * 4503599627370496.0 / hk END, 4)
             AS est_union_r,
           round(CASE WHEN k_used < 256 THEN CAST(c_both AS DOUBLE)
                 ELSE (c_both * ((k_used - 1) * 4503599627370496.0 / hk))
                      / k_used END, 4)
             AS est_intersection_r
    FROM agg),
  ex AS (
    SELECT (SELECT count(*) FROM ha) AS na,
           (SELECT count(*) FROM hb) AS nb,
           (SELECT count(*) FROM (
              SELECT h FROM ha INTERSECT SELECT h FROM hb)) AS ni)
  SELECT e.k_used,
         e.est_union_r, e.est_intersection_r,
         CAST(x.na + x.nb - x.ni AS BIGINT) AS exact_union,
         CAST(x.ni AS BIGINT) AS exact_intersection,
         abs(e.est_union_r - (x.na + x.nb - x.ni))
           <= 0.25 * (x.na + x.nb - x.ni) AS union_err_ok,
         abs(e.est_intersection_r - x.ni)
           <= 0.25 * (x.na + x.nb - x.ni) AS inter_err_ok
  FROM est e, ex x"""


@q("q287_kmv_intersection_contract", _Q287_ORACLE)
def q287(spark: SparkSession, sf: str) -> DataFrame:
    """KMV (k-minimum-values) sketch contract (`operators/sketches.py`,
    Beyer et al. SIGMOD 2007): estimate |A cup B| and |A cap B| for
    A = user-days with a click, B = user-days with a purchase, from
    two 256-value sketches — the set-INTERSECTION estimate the q130
    HLL contract cannot give (HLL inclusion-exclusion error explodes
    on small overlaps; KMV's rho-scaling degrades gracefully).  The
    hash is the leading 52 bits of md5 so the single division is
    engine-exact IEEE; everything else is integer, so the oracle
    replays the ENTIRE estimator verbatim and the driver hash-matches
    estimates, exact counts, and the error-bound verdicts.  Per-set
    top-k plans as WindowGroupLimit (partitions forward <= k rows
    each); the merge and estimator touch <= 2k rows regardless of
    corpus size — at 100 TB the cost is the scan, and the sketches
    are mergeable partials for incremental refresh."""
    from ..operators.sketches import kmv_sketch, kmv_union_intersection

    K = 256
    ev = load_table(spark, sf, "events")
    keyed = ev.filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        "event_type",
        F.concat_ws(
            ":",
            F.col("user_id").cast("string"),
            F.col("ts").cast("date").cast("string"),
        ).alias("ud"),
    )
    sk = kmv_sketch(keyed, "event_type", "ud", k=K)
    sa = sk.filter(F.col("set_id") == "click")
    sb = sk.filter(F.col("set_id") == "purchase")
    est = kmv_union_intersection(sa, sb, k=K)
    # exact counts for the contract verdict (gate-scale affordable;
    # the production path ships only the sketches)
    from ..operators.sketches import kmv_hash

    # exact |A|, |B|, |A∩B| in ONE job: per-hash membership flags from a
    # single partial-combined groupBy, then a 1-row sum — replaces the
    # old three actions (two counts + an intersect) that re-ran the
    # events scan+distinct pipeline once each (values identical: the
    # flags are exact set membership, not estimates)
    memb = (
        keyed.groupBy(kmv_hash(F.col("ud")).alias("h"))
        .agg(
            F.max(
                (F.col("event_type") == "click").cast("int")
            ).alias("__a"),
            F.max(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("__b"),
        )
    )
    cnt = memb.agg(
        F.sum("__a").alias("na"),
        F.sum("__b").alias("nb"),
        F.sum(F.col("__a") * F.col("__b")).alias("ni"),
    ).collect()[0]
    ni = int(cnt["ni"] or 0)
    exact_union = int(cnt["na"] or 0) + int(cnt["nb"] or 0) - ni
    return est.select(
        "k_used",
        "est_union_r",
        "est_intersection_r",
        F.lit(exact_union).cast("bigint").alias("exact_union"),
        F.lit(ni).cast("bigint").alias("exact_intersection"),
        (
            F.abs(F.col("est_union_r") - exact_union)
            <= 0.25 * exact_union
        ).alias("union_err_ok"),
        (
            F.abs(F.col("est_intersection_r") - ni) <= 0.25 * exact_union
        ).alias("inter_err_ok"),
    )


def _q290_oracle() -> str:
    # the oracle shares the SAME precomputed integer discount table as
    # the operator (one Python source of truth, literals inlined into
    # both engines' plans — no libm log2 parity assumption anywhere)
    from ..operators.stats import NDCG_DISCOUNT_MICRO

    k = 10
    disc = " ".join(
        f"WHEN {r} THEN {NDCG_DISCOUNT_MICRO[r - 1]}"
        for r in range(1, k + 1)
    )
    prefix = [0]
    for d in NDCG_DISCOUNT_MICRO[:k]:
        prefix.append(prefix[-1] + d)
    idcg = " ".join(f"WHEN {n} THEN {prefix[n]}" for n in range(0, k + 1))
    return f"""
  WITH ranked AS (
    SELECT n.n_name AS grp,
           row_number() OVER (PARTITION BY n.n_name
                              ORDER BY c.c_acctbal DESC,
                                       c.c_custkey ASC) AS rank,
           CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
             AS rel
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
  topk AS (SELECT * FROM ranked WHERE rank <= {k}),
  per AS (
    SELECT grp,
           CAST(sum(rel) AS BIGINT) AS n_rel,
           CAST(max(CASE WHEN rel = 1 THEN
                 CAST(floor(1000000 / CAST(rank AS DOUBLE)) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS mrr_micro,
           CAST(sum(rel * CASE rank {disc} END) AS BIGINT) AS dcg_micro
    FROM topk GROUP BY grp)
  SELECT grp, n_rel, mrr_micro, dcg_micro,
         CAST(CASE n_rel {idcg} END AS BIGINT) AS idcg_micro,
         CASE WHEN n_rel > 0 THEN
           round(dcg_micro / CAST(CASE n_rel {idcg} END AS DOUBLE), 6)
         END AS ndcg_r
  FROM per"""


@q("q290_ranking_metrics", _q290_oracle())
def q290(spark: SparkSession, sf: str) -> DataFrame:
    """Retrieval-quality evaluation (`operators/stats.py:
    ranking_metrics`): NDCG@10 and MRR@10 per query group — here each
    nation is a "query" whose candidate ranking is its customers by
    account balance (custkey tiebreak) and whose relevant items are
    the BUILDING segment.  The eval harness the retrieval tier
    (BM25 q141, RRF q142, MMR q172) was missing: those produce
    rankings, this scores them.  All metric arithmetic is integer
    micro-units from a discount table precomputed ONCE in Python and
    inlined into both engines' plans (no libm log2 parity
    assumption); the rank filter plans as WindowGroupLimit so only k
    rows per group survive the window.  The single division is the
    final ndcg ratio of two exact integers, rounded at 6 dp."""
    from ..operators.stats import ranking_metrics

    customer = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    cand = customer.join(
        nation,
        customer["c_nationkey"] == nation["n_nationkey"],
    ).select(
        F.col("n_name"),
        F.col("c_acctbal"),
        F.col("c_custkey"),
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("rel"),
    )
    return ranking_metrics(
        cand,
        "n_name",
        [F.col("c_acctbal").desc(), F.col("c_custkey").asc()],
        "rel",
        k=10,
    )


_Q294_ORACLE = """
  WITH seq AS (
    SELECT user_id, event_type AS e1,
           lead(event_type, 1) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS e2,
           lead(event_type, 2) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS e3
    FROM events),
  tri AS (
    SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY 1, 2, 3),
  wt AS (
    SELECT e1, e2, e3, n,
           sum(n) OVER (PARTITION BY e1, e2) AS n2
    FROM tri)
  SELECT e1 || '>' || e2 || '>' || e3 AS path, n,
         CAST(floor(1000000 * n / CAST(n2 AS DOUBLE)) AS BIGINT)
           AS conf_micro
  FROM wt WHERE n >= 5"""


@q("q294_event_path_mining", _Q294_ORACLE)
def q294(spark: SparkSession, sf: str) -> DataFrame:
    """Sequential path mining: frequent event-type TRIGRAM paths per
    user timeline (ts, event_id ordered) with support >= 5 and an
    integerized confidence — P(third step | first two) as
    floor(1e6 * n3/n2) — the length-3 extension of q170's Markov
    transition matrix (bigrams tell you the next step; product teams
    ask for the full click-path).  Two lead() windows over ONE
    user-partitioned sort (both share the partitioning, one shuffle),
    then |paths|-sized aggregates; the bigram denominator is a
    rollup of the trigram counts, not a second scan."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    tri = seq.groupBy("e1", "e2", "e3").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # bigram denominator as a WINDOW over the trigram rollup — a
    # groupBy+self-join here would recompute the whole trigram subtree
    # (two corpus scans); the window reuses the |paths|-sized frame
    wb = Window.partitionBy("e1", "e2")
    return (
        tri.withColumn("n2", F.sum("n").over(wb))
        .filter(F.col("n") >= 5)
        .select(
            F.concat_ws(">", "e1", "e2", "e3").alias("path"),
            "n",
            F.floor(
                F.lit(1_000_000) * F.col("n") / F.col("n2").cast("double")
            )
            .cast("bigint")
            .alias("conf_micro"),
        )
    )


_Q298_ORACLE = """
  WITH t AS (
    SELECT text, string_split(text, ' ') AS words FROM documents),
  s AS (
    SELECT len(words) AS n_words,
           list_sum(list_transform(words, w -> len(w)))::DOUBLE
             / len(words) AS mean_len,
           len(regexp_extract_all(text, '#|\\.\\.\\.'))::DOUBLE
             / len(words) AS symbol_r,
           len(list_filter(words,
               w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE
             / len(words) AS alpha_f,
           len(list_intersect(list_transform(words, w -> lower(w)),
               ['the','be','to','of','and','that','have','with','a','in']))
             AS stop_hits
    FROM t),
  f AS (
    -- flags recomputed from the ROUNDED signals, matching the Spark
    -- side exactly (gopher_quality exposes round(.,6) columns and the
    -- funnel recomputes its rules from those)
    SELECT n_words BETWEEN 20 AND 1000 AS r1,
           round(mean_len, 6) BETWEEN 3.0 AND 10.0 AS r2,
           round(symbol_r, 6) <= 0.1 AS r3,
           round(alpha_f, 6) >= 0.8 AS r4,
           stop_hits >= 2 AS r5
    FROM s),
  a AS (
    SELECT CAST(count(*) AS BIGINT) AS c0,
           CAST(sum(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           CAST(sum(CASE WHEN r1 AND r2 THEN 1 ELSE 0 END) AS BIGINT)
             AS c2,
           CAST(sum(CASE WHEN r1 AND r2 AND r3 THEN 1 ELSE 0 END)
             AS BIGINT) AS c3,
           CAST(sum(CASE WHEN r1 AND r2 AND r3 AND r4 THEN 1 ELSE 0 END)
             AS BIGINT) AS c4,
           CAST(sum(CASE WHEN r1 AND r2 AND r3 AND r4 AND r5
                    THEN 1 ELSE 0 END) AS BIGINT) AS c5
    FROM f)
  SELECT 1 AS stage, 'word_count_band' AS rule,
         c0 AS n_in, c1 AS n_out, c0 - c1 AS n_dropped FROM a
  UNION ALL SELECT 2, 'mean_word_len_band', c1, c2, c1 - c2 FROM a
  UNION ALL SELECT 3, 'symbol_ratio_max', c2, c3, c2 - c3 FROM a
  UNION ALL SELECT 4, 'alpha_frac_min', c3, c4, c3 - c4 FROM a
  UNION ALL SELECT 5, 'stop_word_floor', c4, c5, c4 - c5 FROM a"""


@q("q298_filter_funnel", _Q298_ORACLE)
def q298(spark: SparkSession, sf: str) -> DataFrame:
    """Curation filter funnel (`operators/expectations.py:
    filter_funnel`): the q137 Gopher rules applied in ORDER, with
    per-stage survivor/drop counts — q137's ANDed keep flag says how
    many documents survived; this says WHICH rule took the rest,
    which is what you tune when the survival rate surprises you.
    All cumulative-AND counts come from ONE conditional-sum scan
    (never one job per rule); the 5-row report unpivots from the
    1-row aggregate."""
    from ..operators.expectations import filter_funnel
    from ..operators.text import gopher_quality

    docs = load_table(spark, sf, "documents")
    cols = gopher_quality("text")
    # per-rule booleans recomputed from the same signal columns the
    # battery exposes (names pinned by q137's output contract)
    flagged = docs.select(*cols)
    rules = [
        ("word_count_band", F.col("n_words").between(20, 1000)),
        ("mean_word_len_band", F.col("mean_word_len").between(3.0, 10.0)),
        ("symbol_ratio_max", F.col("symbol_ratio") <= 0.1),
        ("alpha_frac_min", F.col("alpha_frac") >= 0.8),
        ("stop_word_floor", F.col("stop_hits") >= 2),
    ]
    return filter_funnel(flagged, rules)


_Q303_ORACLE = """
  WITH ud AS (
    SELECT DISTINCT user_id || ':' || CAST(CAST(ts AS DATE) AS VARCHAR)
             AS k,
           CAST(ts AS DATE) AS day
    FROM events),
  h AS (
    SELECT k, day,
           ('0x' || substring(md5(k || '|kmv-v1'), 1, 13))::BIGINT AS h
    FROM ud),
  cutoff AS (
    SELECT CAST(min(day) + INTERVAL 20 DAY AS DATE) AS c FROM h),
  old_sk AS (
    SELECT h FROM (
      SELECT h.h, row_number() OVER (ORDER BY h.h) AS rn
      FROM h, cutoff WHERE h.day < cutoff.c) WHERE rn <= 256),
  new_sk AS (
    SELECT h FROM (
      SELECT h.h, row_number() OVER (ORDER BY h.h) AS rn
      FROM h, cutoff WHERE h.day >= cutoff.c) WHERE rn <= 256),
  merged AS (
    SELECT h FROM (
      SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
        SELECT DISTINCT h FROM (
          SELECT h FROM old_sk UNION ALL SELECT h FROM new_sk)))
    WHERE rn <= 256),
  full_sk AS (
    SELECT h FROM (
      SELECT DISTINCT h, row_number() OVER (ORDER BY h) AS rn
      FROM (SELECT DISTINCT h FROM h)) WHERE rn <= 256),
  cmp AS (
    SELECT (SELECT count(*) FROM merged) AS k_merged,
           (SELECT count(*) FROM full_sk) AS k_full,
           (SELECT count(*) FROM (
              SELECT h FROM merged INTERSECT SELECT h FROM full_sk))
             AS k_common,
           (SELECT max(h) FROM merged) AS hk_merged)
  SELECT CAST(k_merged AS BIGINT) AS k_merged,
         k_merged = k_full AND k_common = k_merged
           AS merged_equals_full,
         round(CASE WHEN k_merged < 256
                    THEN CAST(k_merged AS DOUBLE)
               ELSE (k_merged - 1) * 4503599627370496.0 / hk_merged
               END, 4) AS est_distinct_r
  FROM cmp"""


@q("q303_kmv_incremental_merge", _Q303_ORACLE)
def q303(spark: SparkSession, sf: str) -> DataFrame:
    """KMV mergeability as an enforced contract (the q287 sketch's
    INCREMENTAL refresh path): sketch the first 20 days of user-day
    activity, sketch the later batch separately, MERGE the two
    k-sized sketches, and prove the merged sketch is row-identical to
    a full recompute — top-k of a union of top-ks IS the union's
    top-k, which is exactly why KMV refreshes at 100 TB cost the new
    batch's scan plus a KB-sized merge (the q135/q143/q206
    incremental discipline applied to sketches).  The oracle replays
    both paths and the equality verdict verbatim."""
    from ..operators.sketches import HASH_SPACE, kmv_hash

    K = 256
    ev = load_table(spark, sf, "events")
    ud = ev.select(
        F.concat_ws(
            ":",
            F.col("user_id").cast("string"),
            F.col("ts").cast("date").cast("string"),
        ).alias("k"),
        F.col("ts").cast("date").alias("day"),
    ).distinct()
    # h feeds the cutoff agg and three sketch branches, and every branch
    # is driven by an EAGER action below — un-cached, the events
    # scan+distinct+hash pipeline re-runs per action (~6x).  All the
    # actions happen inside this call, so a scoped persist (dropped
    # before return) is safe: nothing cached leaks across invocations.
    from pyspark import StorageLevel

    h = ud.select(kmv_hash(F.col("k")).alias("h"), "day").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        cutoff = h.agg(
            F.date_add(F.min("day"), 20).alias("c")
        ).collect()[0]["c"]

        def topk(df):
            # k smallest distinct hashes: sort+limit plans as a
            # TakeOrdered heap (parallel partial top-k per partition)
            # instead of a single-task row_number window — same K rows
            return df.select("h").distinct().orderBy("h").limit(K)

        old_sk = topk(h.filter(F.col("day") < F.lit(cutoff)))
        new_sk = topk(h.filter(F.col("day") >= F.lit(cutoff)))
        # merged/full are <= K rows but each is consumed by 2-3 actions;
        # a driver-side collect per sketch keeps every later comparison
        # local (the sketches ARE KB-sized by construction)
        merged_rows = sorted(
            r["h"] for r in topk(old_sk.unionByName(new_sk)).collect()
        )
        full_rows = sorted(r["h"] for r in topk(h).collect())
        k_merged = len(merged_rows)
        k_full = len(full_rows)
        k_common = len(set(merged_rows) & set(full_rows))
        hk = max(merged_rows) if merged_rows else None
    finally:
        h.unpersist()
    est = (
        float(k_merged)
        if k_merged < K
        else (k_merged - 1) * HASH_SPACE / hk
    )
    return spark.createDataFrame(
        [
            (
                k_merged,
                bool(k_merged == k_full and k_common == k_merged),
                round(est, 4),
            )
        ],
        "k_merged bigint, merged_equals_full boolean, est_distinct_r double",
    )


_Q306_ORACLE = """
  WITH per AS (
    SELECT source, lang, n_chars,
           len(string_split(text, ' ')) AS toks,
           CASE WHEN len(string_split(text, ' '))
                     BETWEEN 20 AND 1000 THEN 1 ELSE 0 END AS len_ok,
           md5(text) AS th
    FROM documents),
  src AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT th) AS BIGINT) AS n_unique_texts,
           CAST(sum(len_ok) AS BIGINT) AS n_len_ok
    FROM per GROUP BY source),
  tot AS (SELECT sum(n_tokens) AS t FROM src)
  SELECT s.source, s.n_docs, s.n_tokens, s.n_chars, s.n_langs,
         s.n_unique_texts,
         CAST(s.n_docs - s.n_unique_texts AS BIGINT) AS n_exact_dupes,
         round(s.n_len_ok / CAST(s.n_docs AS DOUBLE), 6)
           AS len_pass_rate_r,
         round(s.n_tokens / CAST(tot.t AS DOUBLE), 6)
           AS token_share_r
  FROM src s, tot"""


@q("q306_dataset_datasheet", _Q306_ORACLE)
def q306(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source dataset datasheet — the one-table corpus summary a
    "Datasheets for Datasets" release (Gebru et al. 2021) starts
    from: docs, tokens, chars, language spread, exact-duplicate mass
    (docs minus distinct text hashes), length-filter pass rate, and
    each source's token share of the corpus.  Pure composition of
    audited shapes: ONE scan feeds a per-source aggregate (distinct
    counts via md5 pre-hash, so the heavy column never shuffles
    twice), one 1-row total joined back broadcast.  The kind of
    query a pipeline runs after every ingest; every cell integer or
    a ratio of integers."""
    docs = load_table(spark, sf, "documents")
    toks = F.size(F.split(F.col("text"), " "))
    per = docs.select(
        "source",
        "lang",
        "n_chars",
        toks.alias("toks"),
        toks.between(20, 1000).cast("int").alias("len_ok"),
        F.md5("text").alias("th"),
    )
    src = per.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("th").cast("bigint").alias("n_unique_texts"),
        F.sum("len_ok").cast("bigint").alias("n_len_ok"),
    )
    tot = src.agg(F.sum("n_tokens").alias("t"))
    return src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        "n_chars",
        "n_langs",
        "n_unique_texts",
        (F.col("n_docs") - F.col("n_unique_texts"))
        .cast("bigint")
        .alias("n_exact_dupes"),
        F.round(
            F.col("n_len_ok") / F.col("n_docs").cast("double"), 6
        ).alias("len_pass_rate_r"),
        F.round(F.col("n_tokens") / F.col("t").cast("double"), 6).alias(
            "token_share_r"
        ),
    )


_Q353_ORACLE = """
  WITH cells AS (
    SELECT lang, source, CAST(count(*) AS BIGINT) AS n
    FROM documents GROUP BY lang, source),
  t AS (
    SELECT n,
           lang, source,
           sum(n) OVER (PARTITION BY lang) AS rt,
           sum(n) OVER (PARTITION BY source) AS ct,
           sum(n) OVER () AS tot
    FROM cells),
  terms AS (
    SELECT lang, source, n,
           rt * (ct / CAST(tot AS DOUBLE)) AS e
    FROM t),
  a AS (
    SELECT CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(count(DISTINCT lang) AS BIGINT) AS nl,
           CAST(count(DISTINCT source) AS BIGINT) AS ns,
           sum((n - e) * (n - e) / e) AS chi2
    FROM terms)
  SELECT n_docs, n_cells,
         CAST((nl - 1) * (ns - 1) AS BIGINT) AS dof,
         round(chi2, 4) AS chi2_r,
         round(sqrt(chi2 / (n_docs * least(nl - 1, ns - 1))), 6) AS v_r
  FROM a"""


@q("q353_cramers_v_association", _Q353_ORACLE)
def q353(spark: SparkSession, sf: str) -> DataFrame:
    """Cramér's V association between the corpus's two categorical
    axes (language x crawl source): chi-square answers 'is the
    dependence real', V = sqrt(chi2 / (n * min(r-1, c-1))) rescales
    it to [0, 1] so pipelines can THRESHOLD it — a corpus where
    V(lang, source) is high cannot deduplicate or sample per-source
    without skewing its language mix (the q88 mixture planner's
    hidden-confounder check).  One partial-agg contingency groupBy;
    row/column/grand totals are windows over the |cells|-row frame
    (never a re-scan); counts exact, the statistic one identical
    IEEE tree rounded on both sides."""
    docs = load_table(spark, sf, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    t = cells.select(
        "lang",
        "source",
        "n",
        F.sum("n").over(Window.partitionBy("lang")).alias("rt"),
        F.sum("n").over(Window.partitionBy("source")).alias("ct"),
        F.sum("n").over(Window.partitionBy()).alias("tot"),
    )
    terms = t.select(
        "lang",
        "source",
        "n",
        (F.col("rt") * (F.col("ct") / F.col("tot").cast("double"))).alias("e"),
    )
    a = terms.agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.countDistinct("lang").cast("bigint").alias("nl"),
        F.countDistinct("source").cast("bigint").alias("ns"),
        F.sum(
            (F.col("n") - F.col("e")) * (F.col("n") - F.col("e")) / F.col("e")
        ).alias("chi2"),
    )
    return a.selectExpr(
        "n_docs",
        "n_cells",
        "CAST((nl - 1) * (ns - 1) AS BIGINT) AS dof",
        "round(chi2, 4) AS chi2_r",
        "round(sqrt(chi2 / (n_docs * least(nl - 1, ns - 1))), 6) AS v_r",
    )


_Q365_ORACLE = """
  WITH w AS (
    SELECT source, CAST(n_chars AS BIGINT) AS w FROM documents),
  a AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(w) AS BIGINT) AS sw,
           CAST(sum(w * w) AS BIGINT) AS sww
    FROM w GROUP BY source)
  SELECT source, n,
         round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
               / CAST(sww AS DOUBLE), 4) AS ess_r,
         round(CAST(n AS DOUBLE) * CAST(sww AS DOUBLE)
               / (CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)), 6)
           AS deff_r,
         round(1000 * (CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                       / CAST(sww AS DOUBLE)) / CAST(n AS DOUBLE), 0)
           AS ess_ratio_milli_r
  FROM a"""


@q("q365_effective_sample_size", _Q365_ORACLE)
def q365(spark: SparkSession, sf: str) -> DataFrame:
    """Kish effective sample size and design effect (Kish 1965) of a
    length-weighted corpus read: when documents are weighted by size
    (the natural weighting for token-level statistics), ESS =
    (Σw)²/Σw² says how many EQUAL documents the weighted set is worth
    and deff = n·Σw²/(Σw)² inflates every q351-style standard error —
    a source whose ESS ratio is 200/1000 contributes 5x less
    statistical power than its row count suggests, which reprices the
    whole q88 mixture plan.  One partial-agg scan; two exact bigint
    sums per source; ratios as one identical IEEE tree."""
    docs = load_table(spark, sf, "documents")
    a = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("n_chars").cast("bigint")).cast("bigint").alias("sw"),
        F.sum(
            F.col("n_chars").cast("bigint") * F.col("n_chars").cast("bigint")
        )
        .cast("bigint")
        .alias("sww"),
    )
    return a.selectExpr(
        "source",
        "n",
        "round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)"
        " / CAST(sww AS DOUBLE), 4) AS ess_r",
        "round(CAST(n AS DOUBLE) * CAST(sww AS DOUBLE)"
        " / (CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)), 6) AS deff_r",
        "round(1000 * (CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)"
        " / CAST(sww AS DOUBLE)) / CAST(n AS DOUBLE), 0)"
        " AS ess_ratio_milli_r",
    )


_Q375_ORACLE = """
  WITH c AS (
    SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS k
    FROM events GROUP BY user_id, event_type),
  u AS (
    SELECT user_id, CAST(sum(k) AS BIGINT) AS n,
           sum(CAST(k AS DOUBLE) * ln(CAST(k AS DOUBLE))) AS sklnk
    FROM c GROUP BY user_id),
  h AS (
    SELECT user_id, n,
           ln(CAST(n AS DOUBLE)) - sklnk / n AS ent
    FROM u),
  b AS (
    SELECT least(CAST(floor(ent / 0.4) AS BIGINT), 4) AS band, n
    FROM h)
  SELECT band,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(n) AS BIGINT) AS n_events,
         CAST((1000 * sum(n)) // count(*) AS BIGINT)
           AS events_per_user_milli
  FROM b GROUP BY band"""


@q("q375_behavioral_entropy_bands", _Q375_ORACLE)
def q375(spark: SparkSession, sf: str) -> DataFrame:
    """User behavioral diversity: Shannon entropy of each user's
    event-type mix via the streaming-friendly identity H = ln(n) -
    (1/n)*sum(k*ln k) (only per-type counts needed, no
    probabilities materialized), banded into 0.4-nat buckets — the
    bot/power-user separator: near-zero entropy is a single-action
    script, max entropy (~ln 5) is organic browsing, and the band
    histogram with events-per-user exposes which cohort carries the
    traffic.  Two partial-agg groupBys; entropy is ln over exact
    integer counts (the q235 precedent), banding happens on
    engine-identical doubles."""
    ev = load_table(spark, sf, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("bigint").alias("k")
    )
    u = c.groupBy("user_id").agg(
        F.sum("k").cast("bigint").alias("n"),
        F.sum(
            F.col("k").cast("double") * F.log(F.col("k").cast("double"))
        ).alias("sklnk"),
    )
    h = u.select(
        "n",
        (
            F.log(F.col("n").cast("double")) - F.col("sklnk") / F.col("n")
        ).alias("ent"),
    )
    b = h.select(
        F.least(F.floor(F.col("ent") / 0.4).cast("bigint"), F.lit(4)).alias(
            "band"
        ),
        "n",
    )
    return b.groupBy("band").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("n").cast("bigint").alias("n_events"),
        F.expr("CAST((1000 * sum(n)) DIV count(*) AS BIGINT)").alias(
            "events_per_user_milli"
        ),
    )
