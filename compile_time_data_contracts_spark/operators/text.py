"""Text-analysis operators for LLM training-data pipelines.

All expressions are built-in JVM functions (split/regexp/aggregate) — no
Python UDFs — so they stay inside whole-stage codegen and scale linearly
with a parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "tokens",
    "token_count",
    "bpe_ish_token_count",
    "punct_ratio",
    "stopword_ratio",
    "token_diversity",
    "quality_score",
    "language_id",
    "fingerprint_md5",
    "winnow_fingerprint",
    "redact_pii",
    "language_id_table",
    "chunk_documents",
    "gopher_quality",
    "GOPHER_STOP_WORDS",
    "bm25_scores",
    "duplicate_span_stats",
    "remove_boilerplate_lines",
    "line_doc_frequency",
    "boilerplate_index_build",
    "remove_boilerplate_against",
    "ngram_novelty",
    "vocabulary",
    "tfidf_keywords",
    "bigram_lm",
    "vocabulary_growth",
    "pii_scan",
]

# tiny per-language stopword lists for the n-gram/stopword heuristic
# language-ID (deterministic, SQL-expressible)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "de", "et", "un"],
    "de": ["der", "die", "das", "und", "ein"],
    "zh": ["的", "是", "了", "在", "我"],
}

DEFAULT_STOPWORDS = STOPWORDS["en"]


def tokens(col: str = "text") -> Column:
    """Whitespace tokenization."""
    return F.split(F.col(col), r"\s+")


def token_count(col: str = "text") -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: str = "text") -> Column:
    """BPE-ish token estimate: count of word-or-punctuation matches —
    the standard `\\w+|[^\\w\\s]` segmentation regex."""
    return F.size(F.regexp_extract_all(F.col(col), F.lit(r"\w+|[^\w\s]"), 0))


def punct_ratio(col: str = "text") -> Column:
    """Punctuation characters / total characters."""
    total = F.length(F.col(col)).cast("double")
    punct = (
        total - F.length(F.regexp_replace(F.col(col), r"[^\w\s]", ""))
    ).cast("double")
    return F.when(total > 0, punct / total).otherwise(F.lit(0.0))


def stopword_ratio(col: str = "text", stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are common stopwords — a classic quality
    signal (too low => noise/boilerplate, too high => filler)."""
    sw = F.array(*[F.lit(w) for w in (stopwords or DEFAULT_STOPWORDS)])
    toks = tokens(col)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return F.when(
        F.size(toks) > 0, hits.cast("double") / F.size(toks).cast("double")
    ).otherwise(F.lit(0.0))


def token_diversity(col: str = "text") -> Column:
    """Distinct tokens / total tokens (type-token ratio)."""
    toks = tokens(col)
    return F.when(
        F.size(toks) > 0,
        F.size(F.array_distinct(toks)).cast("double") / F.size(toks).cast("double"),
    ).otherwise(F.lit(0.0))


def quality_score(col: str = "text") -> Column:
    """Composite 0..1 quality heuristic: length band + diversity -
    punctuation excess.  Deterministic and SQL-expressible."""
    n = token_count(col).cast("double")
    length_band = F.when((n >= 20) & (n <= 1000), 1.0).otherwise(
        F.when(n >= 5, 0.5).otherwise(0.0)
    )
    return F.round(
        (length_band + token_diversity(col)) / 2.0 - punct_ratio(col), 6
    )


def language_id(col: str = "text") -> Column:
    """Argmax language by stopword-hit ratio; 'und' when all scores are 0.
    Ties break by language order (deterministic)."""
    toks = tokens(col)
    best_lang = F.lit("und")
    best_score = F.lit(0.0)
    for lang, words in STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        score = F.size(
            F.filter(toks, lambda t: F.array_contains(sw, F.lower(t)))
        ).cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")
        is_better = score > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best_lang


GOPHER_STOP_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with", "a", "in"]


def gopher_quality(
    col: str = "text",
    min_words: int = 20,
    max_words: int = 1000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> list[Column]:
    """The Gopher/MassiveText document-quality rule battery (Rae et al.
    2021, "Scaling Language Models", §A1.1) as pure codegen expressions:

      * word count within [min_words, max_words],
      * mean word length within [min_mean_word_len, max_mean_word_len]
        (filters line noise and character-mashed text),
      * symbol-to-word ratio (# and ... occurrences / words) <= max,
      * fraction of words containing >= 1 alphabetic char >= min,
      * at least ``min_stop_hits`` DISTINCT common stop words present
        (the "stop word" rule that kills keyword-stuffing pages).

    Returns the per-rule signal columns plus a ``gopher_keep`` AND of
    all rules, each aliased, so callers can select them directly or
    aggregate pass rates.  Everything is split/filter/aggregate built-ins
    — one scan, no shuffle, no Python in the row path; at 100 TB this
    composes with any other per-document map work for free.
    """
    toks = tokens(col)
    n = F.size(toks).cast("double")
    mean_len = F.when(
        n > 0,
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / n,
    ).otherwise(F.lit(0.0))
    symbols = (
        F.size(F.regexp_extract_all(F.col(col), F.lit(r"#|\.\.\."), 0)).cast(
            "double"
        )
    )
    symbol_ratio = F.when(n > 0, symbols / n).otherwise(F.lit(0.0))
    alpha_frac = F.when(
        n > 0,
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("double") / n,
    ).otherwise(F.lit(0.0))
    sw = F.array(*[F.lit(w) for w in GOPHER_STOP_WORDS])
    stop_hits = F.size(
        F.array_intersect(F.transform(toks, F.lower), sw)
    )
    keep = (
        n.between(float(min_words), float(max_words))
        & mean_len.between(min_mean_word_len, max_mean_word_len)
        & (symbol_ratio <= max_symbol_ratio)
        & (alpha_frac >= min_alpha_frac)
        & (stop_hits >= min_stop_hits)
    )
    return [
        n.cast("int").alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_frac, 6).alias("alpha_frac"),
        stop_hits.cast("int").alias("stop_hits"),
        keep.alias("gopher_keep"),
    ]


def language_id_table(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: list[str] | None = None,
) -> "DataFrame":
    """(id, lang_guess) via explode + codegen aggregation — the scale
    form of :func:`language_id`.

    The expression form runs one interpreted higher-order filter per
    language per row (~1.3 ms/doc); here tokens explode once
    (codegen), each language's hits are a `when(isin)` sum aggregate
    with map-side combine, and the argmax keeps the expression form's
    exact semantics: first language in declared order whose score
    strictly exceeds the running best, 'und' when all are zero.  The
    shuffle carries |docs| × (1 + n_langs) longs.

    ``carry_cols``: per-row columns functionally dependent on the id
    (e.g. a label) carried THROUGH the aggregate as extra group keys,
    so callers that need (label, guess) pairs don't pay a second
    corpus scan + |docs|-row join to re-attach what was on the row.
    """
    carry = list(carry_cols or [])
    # NO spread here (r11): the per-token work is one lower() + an isin
    # lookup — cheap enough that the round-robin exchange a spread adds
    # costs more than the single-task map stage it parallelizes
    # (A/B-measured at sf0.1: q61 0.92 -> 0.50 s, q285 1.35 -> 0.70 s
    # min-of-5 after REMOVING the r10 spread; the heavy adopters —
    # shingling, bootstrap digests, percentile state — keep theirs)
    toks = df.select(
        F.col(id_col), *carry, F.col(text_col)
    ).select(
        F.col(id_col), *carry, F.explode(tokens(text_col)).alias("__tok")
    )
    lowered = F.lower(F.col("__tok"))
    counts = toks.groupBy(id_col, *carry).agg(
        F.count("*").alias("__n"),
        *[
            F.sum(F.when(lowered.isin(words), 1).otherwise(0)).alias(
                f"__h_{lang}"
            )
            for lang, words in STOPWORDS.items()
        ],
    )
    best_lang = F.lit("und")
    best_score = F.lit(0.0)
    n = F.greatest(F.col("__n"), F.lit(1)).cast("double")
    for lang in STOPWORDS:
        score = F.col(f"__h_{lang}").cast("double") / n
        is_better = score > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    return counts.select(
        F.col(id_col), *carry, best_lang.alias("lang_guess")
    )


def fingerprint_md5(col: str = "text") -> Column:
    """Whole-document fingerprint of the normalized text."""
    return F.md5(F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " "))


# PII patterns restricted to syntax shared by Java regex and RE2 (no
# backrefs/lookaround) so the DuckDB oracle evaluates identically
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
_PHONE_RE = r"\+?[0-9][0-9 -]{6,}[0-9]"


def redact_pii(col: str = "text") -> Column:
    """Replace email addresses and phone-number-shaped spans with typed
    placeholder tokens — the standard pre-training scrub.  Pure
    regexp_replace expressions: JVM-side, codegen, one scan, no Python.
    """
    emails_gone = F.regexp_replace(F.col(col), _EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(emails_gone, _PHONE_RE, "<PHONE>")


def winnow_fingerprint(col: str = "text", k: int = 5) -> Column:
    """Winnowing-style rolling fingerprint: minimum xxhash64 over all
    k-token windows — robust to local edits, cheap to compare.
    (Full winnowing keeps the min of every w-window; the global min is the
    degenerate w=n case, sufficient as a single-column fingerprint.)"""
    toks = F.split(F.col(col), r"\s+")
    window_hashes = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, k))),
    )
    return F.array_min(window_hashes)


def chunk_documents(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
):
    """Split documents into overlapping fixed-token windows — the
    standard pre-tokenization chunking step of a training-data pipeline.

    Chunk j covers tokens [j*stride, j*stride + chunk_tokens) with
    stride = chunk_tokens - overlap; a document shorter than one chunk
    yields exactly one chunk.  Entirely codegen: posexplode over a
    chunk-index sequence + slice with a column start + concat_ws — one
    scan, no shuffle, no Python, parallel per document.  Output:
    (id, chunk_id, chunk_text, chunk_token_count).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    n_chunks = F.greatest(
        F.ceil((F.size(toks) - F.lit(overlap)) / F.lit(float(stride))),
        F.lit(1),
    ).cast("int")
    base = df.select(
        F.col(id_col),
        toks.alias("__t"),
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias(
            "__p", "chunk_id"
        ),
    )
    piece = F.slice(
        F.col("__t"), F.col("chunk_id") * stride + 1, chunk_tokens
    )
    return base.select(
        F.col(id_col),
        F.col("chunk_id"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).alias("chunk_token_count"),
    )


def vocabulary(
    df,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 100,
):
    """Frequency-ranked vocabulary with cumulative corpus coverage — the
    tokenizer-training precursor (which top-N token list covers which
    fraction of the corpus).

    Token counts are one explode + map-side-combined groupBy (the
    shuffle carries one row per (partition, token type)); rank and
    cumulative share are windows over the *aggregated vocabulary*, which
    is token-type-sized — millions of rows at web scale, not corpus-
    sized — so the single-partition global window is driver-safe by
    construction.  Coverage divides by ALL token occurrences, including
    types later cut by ``min_count``.

    Output: (token, n, rank, cum_share) for the top_n types with
    n >= min_count.
    """
    from pyspark.sql import Window

    from .spread import spread_for_compute

    # explode + the token-type partial count run pre-exchange — spread a
    # narrow scan first (guide §2.5; no-op on wide scans)
    toks = spread_for_compute(df.select(F.col(text_col))).select(
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token")
    )
    counts = toks.groupBy("token").agg(
        F.count("*").cast("bigint").alias("n")
    )
    # total coverage denominator includes the below-min tail, so compute
    # it BEFORE the cut (tiny agg, broadcast back); the min_count filter
    # then shrinks the ranked sort to the surviving types only — every
    # dropped row has n < any survivor's n, so it would have sorted
    # strictly after all of them and the ranks/cumulative sums are
    # unchanged
    total = counts.agg(F.sum("n").alias("__total"))
    order = Window.orderBy(F.desc("n"), F.asc("token"))
    ranked = (
        counts.filter(F.col("n") >= min_count)
        .crossJoin(F.broadcast(total))
        .select(
            "token",
            "n",
            F.row_number().over(order).alias("rank"),
            (
                F.sum("n").over(
                    order.rowsBetween(Window.unboundedPreceding, 0)
                )
                / F.col("__total")
            ).alias("cum_share"),
        )
    )
    return ranked.filter(F.col("rank") <= top_n)


def tfidf_keywords(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
):
    """Per-document top-k keywords by TF-IDF (smoothed:
    tf/len × ln((N+1)/(df+1))) — the classic keyword/topic-signal
    extraction step of a corpus analysis pipeline.

    Term frequencies are one explode + map-side-combined count;
    document frequencies fall out of the SAME tf table (one row per
    (doc, term) already) with a second tiny aggregation; the corpus
    size N is a 1-row broadcast.  The only corpus-sized shuffles are
    the two hash aggregations and the per-document top-k window — no
    cartesian anywhere, everything codegen.
    """
    from pyspark.sql import Window

    from .spread import spread_for_compute

    toks = F.split(F.lower(F.col(text_col)), " ")
    # explode + the (doc, term) partial count run pre-exchange — spread
    # a narrow scan first (guide §2.5; no-op on wide scans)
    tok_rows = spread_for_compute(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.size(toks).alias("__len"), F.explode(toks).alias("token")
    )
    tf = tok_rows.groupBy(id_col, "__len", "token").agg(
        F.count("*").cast("bigint").alias("n_td")
    )
    # document frequency as a window over the SAME tf rows (one row per
    # (doc, term) already, so count-over-token-partition IS df) — a
    # separate groupBy+join branch would make Catalyst recompute the
    # whole tf aggregate for the join side; the window reuses it
    df_count = F.count("*").over(Window.partitionBy("token"))
    n_docs = df.agg(F.count("*").cast("double").alias("__n"))
    scored = tf.crossJoin(F.broadcast(n_docs)).select(
        F.col(id_col),
        "token",
        (
            (F.col("n_td") / F.col("__len"))
            * F.log((F.col("__n") + 1) / (df_count + 1))
        ).alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def bigram_lm(df, text_col: str = "text"):
    """Bigram language-model table: for every token, its most likely
    successor and the conditional probability P(w2|w1) — the n-gram LM
    estimation step (corpus statistics / generation-artifact detection).

    Bigrams use the codegen arrays_zip-of-shifted-slices trick (the
    shingle_rows construction with n=2, no interpreted HOFs) but keep
    (w1, w2) as SEPARATE columns end to end — never joined into a
    delimited string and re-split, because a token containing the
    delimiter character would then parse back as a corrupted pair
    ('a|b c' splitting into ('a','b') instead of ('a|b','c')).  Counts
    are map-side combined; the argmax and the conditional total share
    ONE window partitioning on w1 (sum over the whole partition, rank
    over the ordered frame), so the bigram table shuffles once.
    Probabilities are ratios of exact integer counts — engine-portable.
    Output: (w1, top_w2, n_pair, p) with one row per distinct w1.
    """
    from pyspark.sql import Window

    toks = F.split(F.lower(F.col(text_col)), " ")
    # NO spread here (r11): the bigram explode is one split + arrays_zip
    # per row — the added round-robin exchange was A/B-measured a net
    # loss at sf0.1 (q98 0.86 -> 0.50 s min-of-5 after removing it)
    base = df.select(F.col(text_col)).select(
        toks.alias("__t")
    )
    shifted = F.arrays_zip(
        F.slice(F.col("__t"), 1, F.size("__t")).alias("g0"),
        F.slice(F.col("__t"), 2, F.size("__t")).alias("g1"),
    )
    rows = base.select(
        F.size("__t").alias("__sz"),
        F.posexplode(shifted).alias("__pos", "__g"),
    )
    # pos range 0 .. sz-2: sub-2-token documents emit no bigram
    pairs = rows.filter(F.col("__pos") <= F.col("__sz") - 2).select(
        F.col("__g.g0").alias("w1"),
        F.col("__g.g1").alias("w2"),
    )
    counts = pairs.groupBy("w1", "w2").agg(
        F.count("*").cast("bigint").alias("n_pair")
    )
    part = Window.partitionBy("w1")
    ranked = counts.select(
        "w1",
        "w2",
        "n_pair",
        F.sum("n_pair").over(part).alias("__n_w1"),
        F.row_number()
        .over(part.orderBy(F.desc("n_pair"), F.asc("w2")))
        .alias("__rk"),
    )
    return ranked.filter(F.col("__rk") == 1).select(
        "w1",
        F.col("w2").alias("top_w2"),
        "n_pair",
        (F.col("n_pair") / F.col("__n_w1")).alias("p"),
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a bag-of-terms
    query: (id, bm25) for documents matching at least one term.

    idf(t) = ln((N - df_t + 0.5) / (df_t + 0.5) + 1)       (the Lucene
    non-negative variant), tf saturated by k1 and length-normalized by b
    against the corpus mean document length.

    Scale shape: corpus statistics (N, avgdl) are ONE map-side-combined
    aggregate broadcast back as a single row; per-term document
    frequencies aggregate to |terms| rows (broadcast); term frequencies
    come from one explode filtered to the query terms BEFORE the
    shuffle, so the exchanged rows are (matching doc, term) only — at
    100 TB the score join never moves non-matching documents.  All
    arithmetic is IEEE double in a fixed order, reproducible by an
    external SQL engine.
    """
    terms = F.array(*[F.lit(t) for t in query_terms])
    toks = F.split(F.lower(F.col(text_col)), " ")
    base = df.select(F.col(id_col), toks.alias("__t"), F.size(toks).alias("__dl"))
    stats = base.agg(
        F.count("*").cast("double").alias("__n"),
        F.avg("__dl").alias("__avgdl"),
    )
    hits = base.select(
        id_col, "__dl", F.explode("__t").alias("__term")
    ).filter(F.array_contains(terms, F.col("__term")))
    tf = hits.groupBy(id_col, "__term", "__dl").agg(
        F.count("*").cast("double").alias("__tf")
    )
    dfreq = tf.groupBy("__term").agg(
        F.count("*").cast("double").alias("__df")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "__term")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            (
                F.log(
                    (F.col("__n") - F.col("__df") + 0.5)
                    / (F.col("__df") + 0.5)
                    + 1.0
                )
                * (F.col("__tf") * (k1 + 1.0))
                / (
                    F.col("__tf")
                    + k1
                    * (1.0 - b + b * F.col("__dl") / F.col("__avgdl"))
                )
            ).alias("__s"),
        )
    )
    return scored.groupBy(id_col).agg(F.sum("__s").alias("bm25"))


def duplicate_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 8,
) -> DataFrame:
    """Exact duplicate-SPAN detection (the token-level counterpart of
    document near-dup — the public "Deduplicating Training Data Makes
    Language Models Better" recipe, Lee et al. 2022, re-expressed
    relationally): an ``ngram``-token window whose exact text appears
    in MORE THAN ONE document marks its positions duplicated; runs of
    overlapping/adjacent duplicated windows merge into spans, and each
    document reports its span count, duplicated-token total, and
    duplicated fraction.

    Plan shape (all codegen, no Python):
      1. one scan -> positional n-gram table via transform+posexplode
         (shuffle carries (hash, doc, pos) longs, never the text),
      2. cross-doc windows = one partial-combined aggregate keeping
         hashes with >= 2 distinct docs (two-level distinct agg, no
         pair join),
      3. a semi-join back tags each doc's duplicated positions,
      4. span merge is the classic gaps-and-islands window per doc
         (new island when the next window start clears the previous
         span's reach).

    At 100 TB stage 2's aggregate is the only corpus-wide shuffle and
    it moves 16 bytes per window; suffix-array approaches find longer
    exact repeats but need a global sort — banded windows at fixed n
    are the shuffle-friendly 95% answer.

    NOTE (r10): the positional n-gram table is materialized EAGERLY at
    construction (reliable checkpoint — it feeds the histogram and the
    semi-join); calling this runs that job immediately.
    """
    # positional n-grams via arrays_zip of n shifted slice views +
    # posexplode — same codegen-friendly construction as
    # dedup.shingle_rows (transform lambdas are interpreted, ~0.5 ms/doc)
    toks = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col), toks.alias("__t")).filter(
        F.size("__t") >= ngram
    )
    shifted = F.arrays_zip(
        *[
            F.slice(F.col("__t"), i + 1, F.size("__t")).alias(f"g{i}")
            for i in range(ngram)
        ]
    )
    rows = base.select(
        F.col(id_col),
        F.size("__t").alias("__n_toks"),
        F.posexplode(shifted).alias("pos", "__g"),
    )
    pos_tbl = rows.filter(
        F.col("pos") <= F.col("__n_toks") - ngram
    ).select(
        id_col,
        "__n_toks",
        "pos",
        F.xxhash64(
            F.concat_ws(" ", *[f"__g.g{i}" for i in range(ngram)])
        ).alias("gh"),
    )
    # the positional n-gram table feeds the shared-window histogram AND
    # the semi-join that tags duplicated positions — un-materialized,
    # the tokenize+zip+posexplode tower runs twice per call.  One
    # reliable checkpoint ((id, n_toks, pos, hash) longs — never text)
    # runs it once.
    from .materialize import pin as _pin
    pos_tbl = pos_tbl.transform(_pin)
    shared = (
        pos_tbl.groupBy("gh")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("gh")
    )
    dup_pos = pos_tbl.join(shared, "gh", "semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    spans = (
        dup_pos.withColumn("__prev", F.lag("pos").over(w))
        .withColumn(
            "__new_island",
            (
                F.col("__prev").isNull()
                | (F.col("pos") - F.col("__prev") > ngram)
            ).cast("int"),
        )
        .withColumn(
            "__island",
            F.sum("__new_island").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy(id_col, "__island")
        .agg(
            F.first("__n_toks").alias("__n_toks"),
            (F.max("pos") - F.min("pos") + ngram).alias("__span_len"),
        )
    )
    return spans.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_dup_spans"),
        F.sum("__span_len").cast("bigint").alias("dup_tokens"),
        F.round(
            F.sum("__span_len") / F.first("__n_toks"), 6
        ).alias("dup_frac"),
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int = 10,
    sep: str = "\n",
    out_col: str | None = None,
) -> DataFrame:
    """Corpus-level boilerplate-LINE removal (the CCNet / RefinedWeb
    line-dedup recipe): drop every line whose normalized form appears
    in MORE THAN ``max_doc_freq`` distinct documents — cookie banners,
    nav menus, "terms of service" footers — and reassemble each
    document with its surviving lines in original order.

    Plan shape (all codegen, no Python):
      1. one scan -> positional line table via posexplode(split),
      2. line document-frequency = partial-combined count over the
         per-doc-DISTINCT normalized lines (blank lines never count),
      3. hot lines (df > max_doc_freq) leave via an anti-join —
         broadcast only when the hot list is verifiably small
         (counted, same guard as the dedup operators' hot-shingle
         list), shuffle anti-join otherwise,
      4. reassembly is one partial-combined collect_list of
         (pos, line) structs + array_sort + array_join — per-doc
         state is the document itself, never corpus-sized.

    Documents whose every line is boilerplate survive with empty text
    (dropping them is a policy choice — compose with a filter).
    Output: (id_col, out_col, n_lines_kept, n_lines_dropped).  At
    100 TB the corpus-wide shuffles move normalized lines once for the
    frequency count and once for the anti-join — both key-partitioned,
    both combiner-reduced; nothing is quadratic in df because lines are
    counted, never self-joined.
    """
    from .materialize import pin as _pin

    # checkpoint-materialize the hot list ONCE: _drop_lines both
    # counts it (broadcast guard) and anti-joins against it — without
    # materialization the corpus-wide line_doc_frequency aggregation
    # would execute twice (the dominant stage).  Hot-list-sized write,
    # same discipline as dedup._capped_pair_scores.
    hot = (
        line_doc_frequency(df, id_col, text_col, sep)
        .filter(F.col("line_df") > max_doc_freq)
        .select("__norm")
        .transform(_pin)
    )
    return _drop_lines(df, hot, id_col, text_col, sep, out_col)


def line_doc_frequency(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Per-line corpus document frequency: one row per distinct
    normalized (lowercased, trimmed) non-blank line with the count of
    distinct documents containing it — the statistic every
    boilerplate-removal policy keys on.  Output: (__norm, line_df)."""
    return (
        _line_table(df, id_col, text_col, sep)
        .filter(F.length("__norm") > 0)
        .select(id_col, "__norm")
        .distinct()
        .groupBy("__norm")
        .agg(F.count("*").cast("bigint").alias("line_df"))
    )


def boilerplate_index_build(
    df: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int = 10,
    sep: str = "\n",
) -> None:
    """Build and PERSIST the hot-line list so later batches strip
    corpus boilerplate WITHOUT rescanning the corpus — the
    incremental-ingest pattern (same posture as
    ``dedup.minhash_index_build``): new crawl batches arrive daily,
    the reference corpus is re-counted never.

    Writes under ``index_path``:
      * ``hot_lines`` — (__norm, line_df) for lines with df >
        max_doc_freq (hot-list-sized, not corpus-sized),
      * ``meta``      — (n_docs, max_doc_freq, sep) so
        :func:`remove_boilerplate_against` refuses an index built
        with different semantics.

    Batch lines do NOT advance the corpus counts (a banner must
    already be corpus-hot to be stripped from a new batch) — schedule
    a periodic rebuild as corpus boilerplate drifts."""
    hot = line_doc_frequency(df, id_col, text_col, sep).filter(
        F.col("line_df") > max_doc_freq
    )
    hot.write.mode("overwrite").parquet(f"{index_path}/hot_lines")
    from ..sources.layout import write_tiny_parquet

    write_tiny_parquet(
        df.sparkSession,
        [(df.count(), max_doc_freq, sep)],
        "n_docs long, max_doc_freq int, sep string",
        f"{index_path}/meta",
    )


def remove_boilerplate_against(
    batch: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    out_col: str | None = None,
) -> DataFrame:
    """Strip a NEW batch's boilerplate lines against a persisted
    corpus hot-line index (:func:`boilerplate_index_build`): cost is
    O(batch) — one batch scan, one anti-join against the hot list —
    never O(corpus).  Same output contract as
    :func:`remove_boilerplate_lines`.  Raises if the index was built
    with a different ``sep`` (different line semantics)."""
    from .materialize import read_meta

    spark = batch.sparkSession
    meta = read_meta(spark, f"{index_path}/meta")
    if meta is None:
        raise ValueError(
            f"remove_boilerplate_against: no index meta at {index_path}"
        )
    if meta["sep"] != sep:
        raise ValueError(
            f"remove_boilerplate_against: index at {index_path} was "
            f"built with sep={meta['sep']!r}, called with {sep!r}"
        )
    hot = spark.read.parquet(f"{index_path}/hot_lines").select("__norm")
    return _drop_lines(batch, hot, id_col, text_col, sep, out_col)


def _sep_pattern(sep: str) -> str:
    """Quote a literal separator for ``F.split`` (whose pattern arg is
    a Java regex): ``sep='|'`` or ``'.'`` must split on the LITERAL
    character, not regex alternation / any-char.  ``\\Q…\\E`` quoting,
    with embedded ``\\E`` handled the standard way."""
    return "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _line_table(
    df: DataFrame, id_col: str, text_col: str, sep: str
) -> DataFrame:
    """(id, __pos, __line, __norm) — one row per line via
    posexplode(split), normalized for frequency counting."""
    return df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), F.lit(_sep_pattern(sep)), -1)
        ).alias("__pos", "__line"),
    ).withColumn("__norm", F.lower(F.trim(F.col("__line"))))


def _drop_lines(
    df: DataFrame,
    hot: DataFrame,
    id_col: str,
    text_col: str,
    sep: str,
    out_col: str | None,
) -> DataFrame:
    """Anti-join a document frame's lines against a hot-line frame
    (column ``__norm``) and reassemble survivors in original order."""
    from .dedup import anti_join_hot

    out_col = out_col or text_col
    lines = _line_table(df, id_col, text_col, sep)
    kept = anti_join_hot(lines, hot, "__norm", hot.count())
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__line"))
                ),
                lambda s: s["__line"],
            ),
            sep,
        ).alias("__clean"),
        F.count("*").cast("bigint").alias("n_lines_kept"),
    )
    totals = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), F.lit(_sep_pattern(sep)), -1))
        .cast("bigint")
        .alias("__n_lines"),
    )
    return (
        totals.join(reassembled, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("__clean", F.lit("")).alias(out_col),
            F.coalesce("n_lines_kept", F.lit(0))
            .cast("bigint")
            .alias("n_lines_kept"),
            (
                F.col("__n_lines")
                - F.coalesce("n_lines_kept", F.lit(0))
            )
            .cast("bigint")
            .alias("n_lines_dropped"),
        )
    )


def ngram_novelty(
    df: "DataFrame",
    ref: "DataFrame",
    id_col: str,
    text_col: str = "text",
    n: int = 3,
) -> "DataFrame":
    """Per-document novelty against a reference corpus: the fraction of
    the doc's distinct word n-gram shingles NOT present anywhere in
    ``ref`` — the inverse of q89's contamination check (that asks "does
    eval text leak into training", this asks "does a new batch add
    anything the corpus doesn't already say"), the dedup-adjacent
    signal for pruning near-redundant acquisitions before the expensive
    MinHash pass.

    Shape: both sides shingle through the CODEGEN path (shingle_rows —
    arrays_zip of shifted slices + posexplode, never the interpreted
    transform-lambda ``shingles()`` HOF whose ~0.5 ms/doc cost would
    dominate this operator's per-batch reuse shape at corpus scale),
    de-duplicated per doc to match ``shingles()``'s array_distinct; the
    reference collapses to its DISTINCT shingle set (partial-combined),
    and seen counts come from a LEFT SEMI equi-join on the shingle —
    never all-pairs, the same posting-list discipline as jaccard_pairs.
    At 100 TB the reference set is the q135/q204 move: build it once,
    persist, reuse per batch.  Counts are exact integers; only the
    final ratio is floating (rounded 6 dp).  Output: (id_col,
    n_shingles, n_seen, novelty_r).
    """
    from .dedup import shingle_rows

    d = (
        shingle_rows(df, id_col, text_col, n)
        .select(F.col(id_col), F.col("shingle").alias("__s"))
        .distinct()
    )
    r = (
        shingle_rows(
            ref.withColumn("__rid", F.monotonically_increasing_id()),
            "__rid",
            text_col,
            n,
        )
        .select(F.col("shingle").alias("__s"))
        .distinct()
    )
    tot = d.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    )
    seen = (
        d.join(r, "__s", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_seen"))
    )
    return tot.join(seen, id_col, "left").select(
        id_col,
        "n_shingles",
        F.coalesce("n_seen", F.lit(0)).cast("bigint").alias("n_seen"),
        F.round(
            (F.col("n_shingles") - F.coalesce("n_seen", F.lit(0)))
            / F.col("n_shingles").cast("double"),
            6,
        ).alias("novelty_r"),
    )


def vocabulary_growth(
    df: "DataFrame",
    id_col: str,
    text_col: str = "text",
    n_points: int = 10,
) -> "DataFrame":
    """Heaps-law vocabulary growth curve: cumulative distinct-token
    count vs cumulative token count, sampled at ``n_points`` evenly
    spaced corpus positions (by ``id_col`` order), plus the implied
    growth exponent β vs the first sample (V ≈ K·Tᵝ) — the
    corpus-acquisition planning signal: a flattening curve says new
    data is re-saying the old data (q245's novelty, corpus-level).

    The distributed trick: "cumulative distinct" is NOT a running set —
    each token contributes at exactly its FIRST document (min doc per
    token, one partial-combined aggregate), so cumulative vocabulary is
    a plain cumulative SUM of per-doc first-occurrence counts.  Tokens
    never cross the shuffle after the min; the ordered windows run over
    |docs| rows, not |tokens| (the ks_statistic total-order trade —
    pre-bucket by id range at 100 TB).  All counts are exact integers;
    only β divides logs at the end (rounded 4 dp).  Output per sample
    point: (pt, doc_rank, cum_tokens, cum_vocab, beta_r; beta_r NULL
    at the first point).
    """
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col).alias("__id"),
        F.explode(tokens(text_col)).alias("__tk"),
    )
    first = tok.groupBy("__tk").agg(F.min("__id").alias("__fd"))
    new_per_doc = first.groupBy("__fd").agg(
        F.count(F.lit(1)).alias("__n_new")
    )
    per_doc = (
        df.select(
            F.col(id_col).alias("__id"),
            F.size(tokens(text_col)).cast("bigint").alias("__nt"),
        )
        .join(
            new_per_doc,
            F.col("__id") == F.col("__fd"),
            "left",
        )
        .select(
            "__id", "__nt", F.coalesce("__n_new", F.lit(0)).alias("__nn")
        )
    )
    wcum = Window.orderBy("__id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    cum = per_doc.select(
        "__id",
        F.sum("__nt").over(wcum).alias("cum_tokens"),
        F.sum("__nn").over(wcum).alias("cum_vocab"),
        F.row_number().over(Window.orderBy("__id")).alias("__rn"),
        F.count(F.lit(1)).over(wall).alias("__N"),
    )
    pts = df.sparkSession.range(1, n_points + 1).select(
        F.col("id").cast("int").alias("pt")
    )
    sampled = cum.join(
        F.broadcast(pts),
        F.col("__rn")
        == F.ceil(
            F.col("pt") * F.col("__N") / F.lit(float(n_points))
        ).cast("int"),
    )
    wpt = Window.orderBy("pt").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t1 = F.first("cum_tokens").over(wpt)
    v1 = F.first("cum_vocab").over(wpt)
    beta = F.when(
        (F.col("pt") > 1) & (F.col("cum_tokens") > t1) & (v1 > 0),
        F.round(
            F.log(F.col("cum_vocab") / v1)
            / F.log(F.col("cum_tokens") / t1),
            4,
        ),
    )
    return sampled.select(
        "pt",
        F.col("__rn").cast("bigint").alias("doc_rank"),
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        F.col("cum_vocab").cast("bigint").alias("cum_vocab"),
        beta.alias("beta_r"),
    )


_SSN_RE = r"[0-9]{3}-[0-9]{2}-[0-9]{4}"


def pii_scan(df: "DataFrame", cols: list[str]) -> "DataFrame":
    """Column-level PII detection battery: for each string column, the
    count of rows matching email / phone / SSN-shaped patterns (the
    same regexes :func:`redact_pii` scrubs with) — the GOVERNANCE
    half of redaction: before scrubbing, a release review needs to
    know WHERE PII lives and at what rate, per column, across every
    table (the q111 column-profile discipline applied to privacy).

    One scan, one wide conditional-sum aggregate, ``stack``ed to a
    row per column (the column_profile single-consumer trick — a
    union of projections would re-inline the aggregate into N scans).
    Patterns are RE2-safe character classes, so any engine replays
    the counts.  Output: (column, n_rows, n_email, n_phone, n_ssn).
    """
    aggs = [F.count(F.lit(1)).cast("bigint").alias("__n")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).rlike(_EMAIL_RE).cast("long"))
            .cast("bigint")
            .alias(f"__em_{c}"),
            F.sum(F.col(c).rlike(_PHONE_RE).cast("long"))
            .cast("bigint")
            .alias(f"__ph_{c}"),
            F.sum(F.col(c).rlike(_SSN_RE).cast("long"))
            .cast("bigint")
            .alias(f"__ss_{c}"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `__n`, `__em_{c}`, `__ph_{c}`, `__ss_{c}`" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column, n_rows, n_email, n_phone, n_ssn)"
        )
    )


def readability_scores(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Integerized Flesch reading-ease signal per document — a
    curation-filter feature in the q57/q137 quality family.  The
    classic formula 206.835 - 1.015*(words/sentences) -
    84.6*(syllables/words) is computed in MILLI-units with integer
    division only:

        flesch_milli = 206835 - 1015 * wps - (84600 * syll) DIV words

    where syllables are approximated by vowel-group count (the
    standard cheap heuristic) and sentences by terminal-punctuation
    runs, floored at 1 — the synthetic corpus has no punctuation, so
    there wps = words, which the docstring states rather than hides.
    Integerizing removes every cross-engine float hazard; the scores
    stay monotone in the same features the float formula uses.

    Pure whole-stage-codegen arithmetic on the scan — no shuffle, no
    Python; at 100 TB scoring costs what reading the text column
    costs.  Adds (words, sentences, syllables, flesch_milli).
    """
    t = F.col(text_col)
    words = F.size(F.split(t, r"\s+"))
    sentences = F.greatest(
        F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1)
    )
    syllables = F.regexp_count(F.lower(t), F.lit(r"[aeiouy]+"))
    return (
        df.withColumn("words", words.cast("bigint"))
        .withColumn("sentences", sentences.cast("bigint"))
        .withColumn("syllables", syllables.cast("bigint"))
        .withColumn(
            "flesch_milli",
            (
                F.lit(206835)
                - F.lit(1015)
                * F.expr("words DIV sentences")
                - F.expr("(84600 * syllables) DIV words")
            ).cast("bigint"),
        )
    )
