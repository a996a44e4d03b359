"""Python-boundary and SQL-language surface split from
tier_core_sql (round 10): pandas/Arrow UDFs and UDTFs,
applyInPandas/Arrow, SQL scalar/table UDFs, recursive CTEs,
GROUP BY ALL, parameterized/pipe/scripting SQL, collations.
Registration keys and oracle SQL unchanged.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from ._shared import _ORACLES, _QUERIES, _ts_str, q  # noqa: F401


@q(
    "q45_pandas_udf_zscore",
    """SELECT c_custkey,
              round((c_acctbal - avg(c_acctbal) OVER ()) /
                    stddev_samp(c_acctbal) OVER (), 6) AS z_udf,
              round((c_acctbal - avg(c_acctbal) OVER ()) /
                    stddev_samp(c_acctbal) OVER (), 6) AS z_builtin
       FROM customer""",
)
def q45(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow-batched pandas UDF z-score vs the equivalent built-in
    expression — both must agree with the oracle."""
    from pyspark.sql.functions import pandas_udf

    # no type hints: PEP 563 string annotations (module-level future
    # import) are not resolvable by the pandas_udf signature inspector
    @pandas_udf("double")
    def zscore(x, m, s):
        return (x - m) / s

    c = load_table(spark, sf, "customer")
    stats = c.agg(
        F.avg("c_acctbal").alias("__m"), F.stddev("c_acctbal").alias("__s")
    )
    with_stats = c.crossJoin(F.broadcast(stats))
    return with_stats.select(
        "c_custkey",
        F.round(zscore(F.col("c_acctbal"), F.col("__m"), F.col("__s")), 6).alias(
            "z_udf"
        ),
        F.round((F.col("c_acctbal") - F.col("__m")) / F.col("__s"), 6).alias(
            "z_builtin"
        ),
    )


@q(
    "q46_apply_in_pandas_demean",
    """SELECT c_custkey,
              round(c_acctbal - avg(c_acctbal) OVER (PARTITION BY c_nationkey), 6)
                AS demeaned
       FROM customer""",
)
def q46(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped-map applyInPandas: per-nation demeaned account balance."""
    import pandas as pd

    def demean(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "c_custkey": pdf["c_custkey"],
                "demeaned": (pdf["c_acctbal"] - pdf["c_acctbal"].mean()).round(6),
            }
        )

    c = load_table(spark, sf, "customer")
    return c.groupBy("c_nationkey").applyInPandas(
        demean, "c_custkey bigint, demeaned double"
    )


@q(
    "q47_udtf_explode_tokens",
    """SELECT doc_id, CAST(gs - 1 AS INT) AS pos, toks[gs] AS token
       FROM (SELECT doc_id, string_split(text, ' ') AS toks
             FROM documents WHERE doc_id < 50),
            LATERAL UNNEST(generate_series(1, len(toks))) AS t(gs)""",
)
def q47(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 50)
    return docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "token"),
    )


@q(
    "q122_grouped_agg_pandas_udf",
    """SELECT l_returnflag,
              round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4)
                AS wavg_price
       FROM lineitem GROUP BY l_returnflag""",
)
def q122(spark: SparkSession, sf: str) -> DataFrame:
    """GROUPED_AGG pandas UDF (the third pandas-UDF flavor next to
    scalar q45 and grouped-map q46): a weighted average computed
    vectorized per group, Arrow-batched.  Honest scale caveat: unlike
    native aggregates, a pandas grouped agg has NO map-side partial
    combine — the plan is Exchange(all rows) -> Sort ->
    ArrowAggregatePython — so the full table crosses the shuffle.  Use
    it for semantics built-ins can't express; this weighted average is
    expressible natively (the oracle shows the rewrite) and exists here
    to pin the API surface."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(wavg("l_extendedprice", "l_quantity"), 4).alias("wavg_price")
    )


@q(
    "q126_apply_in_arrow_demean",
    """SELECT event_id,
              round(value - avg(value) OVER (PARTITION BY event_type), 6)
                AS demeaned_r
       FROM events""",
)
def q126(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped-map over ARROW tables (applyInArrow — the zero-copy
    sibling of q46's applyInPandas): per-type demeaning computed with
    pyarrow compute kernels, no pandas object materialization.  Same
    per-group shuffle shape as any grouped map; the win is batch
    transfer staying columnar end to end."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def demean(table: "pa.Table") -> "pa.Table":
        v = table.column("value")
        mean = pc.mean(v).as_py()
        return pa.table(
            {
                "event_id": table.column("event_id"),
                "demeaned_r": pc.round(
                    pc.subtract(v, pa.scalar(mean, pa.float64())), 6
                ),
            }
        )

    ev = load_table(spark, sf, "events").select(
        "event_id", "event_type", "value"
    )
    return ev.groupBy("event_type").applyInArrow(
        demean, "event_id long, demeaned_r double"
    )


@q(
    "q159_recursive_cte_closure",
    """WITH RECURSIVE walk(leaf, node, depth) AS (
         SELECT s_suppkey AS leaf, s_suppkey AS node, 0 AS depth
         FROM supplier
         UNION ALL
         SELECT leaf, CAST(floor(node / 2) AS BIGINT) AS node,
                depth + 1 AS depth
         FROM walk WHERE node > 1
       )
       SELECT leaf AS s_suppkey, CAST(max(depth) AS INT) AS depth,
              CAST(sum(node) AS BIGINT) AS path_sum,
              CAST(count(*) AS BIGINT) AS chain_len
       FROM walk GROUP BY leaf""",
)
def q159(spark: SparkSession, sf: str) -> DataFrame:
    """Recursive CTE (Spark 4 `WITH RECURSIVE`): ancestor-chain closure
    over a derived hierarchy (parent(k) = floor(k/2), a binary tree
    rooted at 1) — per-leaf depth, path node-sum, and chain length.
    This is the SQL-standard spec for the iterative closures the engine
    elsewhere runs by hand (q73/q101/q152 connected components): Spark
    executes it as iterated UNION ALL micro-plans, one join per level,
    terminating when the recursive leg is empty.  Rounds ∝ hierarchy
    DEPTH (log n here), and each round's shuffle carries only the still-
    walking frontier — the same O(depth) alternation bound as the
    hand-written CC loop, but optimizer-planned.  For 100 TB graphs with
    unknown/deep diameter the explicit large-star/small-star operator
    (q101) stays the scale path; recursive CTE is the right tool for
    bounded-depth hierarchies (org charts, BOM explosions, paths)."""
    for t in ("supplier",):
        load_table(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(
        """WITH RECURSIVE walk(leaf, node, depth) AS (
             SELECT s_suppkey AS leaf, s_suppkey AS node, 0 AS depth
             FROM supplier
             UNION ALL
             SELECT leaf, CAST(floor(node / 2) AS BIGINT) AS node,
                    depth + 1 AS depth
             FROM walk WHERE node > 1
           )
           SELECT leaf AS s_suppkey, CAST(max(depth) AS INT) AS depth,
                  CAST(sum(node) AS BIGINT) AS path_sum,
                  CAST(count(*) AS BIGINT) AS chain_len
           FROM walk GROUP BY leaf"""
    )


@q(
    "q161_sql_scalar_udf",
    """SELECT doc_id,
              round(least(n_chars, 2000) / 2000.0 +
                    CASE WHEN text LIKE '%the%' THEN 0.1 ELSE 0.0 END,
                    6) AS score
       FROM documents""",
)
def q161(spark: SparkSession, sf: str) -> DataFrame:
    """SQL scalar UDF (Spark 4 `CREATE FUNCTION ... RETURN expr`): a
    reusable quality-score routine declared ONCE in the catalog and used
    like a builtin.  Unlike a Python UDF there is no serialization
    boundary at all — Catalyst inlines the body into the calling plan,
    so the scored scan stays inside WholeStageCodegen and every
    optimization (pushdown through it, constant folding, pruning)
    applies as if the expression were written inline.  This is the right
    home for org-wide curation formulas at 100 TB: one definition,
    zero runtime cost, no UDF-server fleet."""
    load_table(spark, sf, "documents").createOrReplaceTempView(
        "q161_documents"
    )
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION q161_score(
             nc BIGINT, txt STRING) RETURNS DOUBLE
           RETURN round(least(nc, 2000) / 2000.0 +
             CASE WHEN txt LIKE '%the%' THEN 0.1 ELSE 0.0 END, 6)"""
    )
    return spark.sql(
        "SELECT doc_id, q161_score(n_chars, text) AS score "
        "FROM q161_documents"
    )


@q(
    "q162_sql_table_udf_chunks",
    """SELECT doc_id, CAST(gs AS INT) AS chunk_idx,
              substr(text, CAST(gs AS INT) * 40 + 1, 40) AS chunk
       FROM documents,
            LATERAL UNNEST(generate_series(
              0, CAST(ceil(length(text) / 40.0) AS INT) - 1)) t(gs)
       WHERE length(text) > 0""",
)
def q162(spark: SparkSession, sf: str) -> DataFrame:
    """SQL table-valued UDF (`CREATE FUNCTION ... RETURNS TABLE`)
    applied per-row via LATERAL: fixed-width document chunking as a
    declarative, catalog-registered routine — the SQL twin of the
    Python-UDTF chunker (q70/q83) with NO Python boundary.  Catalyst
    rewrites the lateral TVF call into an inlined correlated generate
    (sequence + explode), so chunk production is a generator inside the
    scan stage: rows-out scales with text length, the shuffle (none
    here) is untouched, and per-executor memory is one row's chunks.
    The chunk width is a routine parameter — callers retarget context
    windows without redeploying code."""
    load_table(spark, sf, "documents").createOrReplaceTempView(
        "q162_documents"
    )
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION q162_chunks(
             txt STRING, sz INT)
           RETURNS TABLE(chunk_idx INT, chunk STRING)
           RETURN SELECT CAST(i AS INT) AS chunk_idx,
                         substr(txt, CAST(i AS INT) * sz + 1, sz) AS chunk
                  FROM (SELECT explode(sequence(
                          0,
                          greatest(
                            CAST(ceil(length(txt) / CAST(sz AS DOUBLE))
                                 AS INT) - 1, 0))) AS i)"""
    )
    # Spark's sequence(a, b) runs DESCENDING when b < a, so empty text
    # would emit chunk_idx [0, -1]; the greatest() clamp plus this
    # empty-text filter (mirrored in the oracle, whose generate_series
    # emits nothing for a negative stop) keeps both engines chunk-free
    # for zero-length documents.
    return spark.sql(
        """SELECT d.doc_id, c.chunk_idx, c.chunk
           FROM q162_documents d, LATERAL q162_chunks(d.text, 40) c
           WHERE length(d.text) > 0"""
    )


@q(
    "q176_iterator_pandas_udf",
    """SELECT doc_id,
              CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS INT)
                AS bpe_tokens
       FROM documents""",
)
def q176(spark: SparkSession, sf: str) -> DataFrame:
    """ITERATOR-form pandas UDF (Iterator[pd.Series] ->
    Iterator[pd.Series]): the per-worker setup — here a compiled regex,
    in production a tokenizer or ONNX session — runs ONCE per task
    before the batch loop, amortized over every Arrow batch, instead of
    per-call like the scalar form.  This is THE pattern for model-
    assisted scoring at 100 TB: load weights once per executor task,
    stream batches through.  Matches q58's pure-SQL token count exactly
    (the oracle), so the Python boundary is value-checked, and the
    scalar-vs-iterator results are interchangeable — only the
    amortization differs."""
    import re as _re

    from pyspark.sql.functions import pandas_udf

    # typing.Iterator (module-global) so the PEP-563 string annotation
    # resolves when pyspark inspects the signature
    @pandas_udf("int")
    def tok_count(
        it: typing.Iterator[pd.Series],
    ) -> typing.Iterator[pd.Series]:
        pat = _re.compile(r"\w+|[^\w\s]")  # once per task, not per batch
        for s in it:
            yield s.map(lambda t: len(pat.findall(t)))

    docs = load_table(spark, sf, "documents")
    return docs.select("doc_id", tok_count("text").alias("bpe_tokens"))


@q(
    "q177_arrow_optimized_udf",
    """SELECT doc_id,
              upper(substr(source, 1, 2)) || CAST(length(source) % 10
                                                  AS VARCHAR) AS code
       FROM documents""",
)
def q177(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow-OPTIMIZED scalar Python UDF (`udf(..., useArrow=True)`):
    same author-facing row-at-a-time signature as the legacy pickle
    UDF, but executed as ArrowEvalPython — columnar Arrow batches
    cross the boundary instead of per-row pickling (the plan audit
    pins ArrowEvalPython and forbids BatchEvalPython).  The pragmatic
    middle tier when logic doesn't vectorize but 100 TB can't afford
    pickle serialization; the oracle recomputes the same derivation in
    SQL, value-checking the boundary."""
    fn = F.udf(
        lambda s: (s[:2].upper() + str(len(s) % 10)) if s else None,
        "string",
        useArrow=True,
    )
    docs = load_table(spark, sf, "documents")
    return docs.select("doc_id", fn(F.col("source")).alias("code"))


@q(
    "q178_polymorphic_udtf",
    """SELECT doc_id,
              substr(source, 1, 1) AS c0,
              substr(source, 2, 1) AS c1,
              substr(source, 3, 1) AS c2
       FROM documents""",
)
def q178(spark: SparkSession, sf: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (static `analyze()`, Spark 4): the
    output schema is computed at ANALYSIS time from the call's literal
    arguments — here n=3 produces columns c0..c2; a different call
    site gets a different arity with no code change.  This is the
    form that lets one UDTF serve schema-varying extraction (top-n
    fields, configurable feature fan-out) while staying fully typed in
    the plan — downstream pruning and codegen see concrete columns.
    Rows flow through the same Arrow UDTF machinery as q70; the
    oracle recomputes the fixed n=3 instance relationally."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class LeadChars:
        @staticmethod
        def analyze(
            text: AnalyzeArgument, n: AnalyzeArgument
        ) -> AnalyzeResult:
            schema = StructType()
            for i in range(n.value):
                schema = schema.add(f"c{i}", "string")
            return AnalyzeResult(schema=schema)

        def eval(self, text, n):
            t = text or ""
            yield tuple(t[i] if i < len(t) else None for i in range(n))

    spark.udtf.register("q178_lead_chars", LeadChars)
    load_table(spark, sf, "documents").createOrReplaceTempView(
        "q178_documents"
    )
    return spark.sql(
        """SELECT d.doc_id, t.c0, t.c1, t.c2
           FROM q178_documents d, LATERAL q178_lead_chars(d.source, 3) t"""
    )


_Q185_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS revenue
FROM {orders} GROUP BY ALL
"""


@q("q185_group_by_all", _Q185_SQL.format(orders="orders"))
def q185(spark: SparkSession, sf: str) -> DataFrame:
    """`GROUP BY ALL` (Spark 4 / modern-SQL sugar): the grouping key
    list is inferred from the non-aggregate select items, so adding a
    dimension to a metrics rollup is a one-place edit — the analyst
    ergonomics every warehouse dialect converged on.  Resolves at
    analysis time to the ordinary partial-combined hash aggregate
    (identical plan to the explicit form); money sums through DECIMAL
    for cross-engine cent-exactness."""
    load_table(spark, sf, "orders").createOrReplaceTempView("q185_orders")
    return spark.sql(_Q185_SQL.format(orders="q185_orders"))


@q(
    "q186_parameterized_sql",
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
       FROM orders
       WHERE o_totalprice >= 150000.0 AND o_orderstatus = 'O'
       GROUP BY o_orderpriority""",
)
def q186(spark: SparkSession, sf: str) -> DataFrame:
    """Named-parameter SQL (`spark.sql(query, args={...})`, Spark 3.4+):
    values bind as TYPED literals at parse time — no string
    interpolation, so no injection surface and no accidental type
    coercions; the bound plan is byte-identical to the inlined one, so
    pushdown sees the literal (PushedFilters carries the bound
    threshold).  The right template mechanism for the thousands of
    parameterized curation/reporting runs a 100 TB pipeline schedules
    daily."""
    load_table(spark, sf, "orders").createOrReplaceTempView("q186_orders")
    return spark.sql(
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n "
        "FROM q186_orders "
        "WHERE o_totalprice >= :floor AND o_orderstatus = :status "
        "GROUP BY o_orderpriority",
        args={"floor": 150000.0, "status": "O"},
    )


_Q194_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@q("q194_pipe_syntax", _Q194_ORACLE)
def q194(spark: SparkSession, sf: str) -> DataFrame:
    """SQL pipe syntax (Spark 4): the |> operator chain — FROM |> WHERE
    |> EXTEND |> AGGREGATE … GROUP BY |> ORDER BY — each stage consuming
    the previous stage's output, in execution order instead of SELECT's
    inside-out order.  Purely parser-level sugar: the chain resolves to
    the identical analyzed plan as the nested form (same partial-agg
    hash aggregate, same pushdown — the WHERE reaches PushedFilters),
    so the scale posture is exactly q17's; the oracle is the classic
    spelling of the same query."""
    load_table(spark, sf, "lineitem").createOrReplaceTempView(
        "q194_lineitem"
    )
    return spark.sql(
        """
        FROM q194_lineitem
        |> WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |> EXTEND l_extendedprice * (1 - l_discount) AS disc_price
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n,
                     round(sum(l_quantity), 2) AS sum_qty,
                     round(sum(disc_price), 2) AS sum_disc_price
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


_Q195_ORACLE = """
SELECT lower(o_orderpriority) AS priority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS total
FROM orders GROUP BY 1
"""


@q("q195_collated_group", _Q195_ORACLE)
def q195(spark: SparkSession, sf: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 string collations): the group
    key is COLLATE(…, 'UTF8_LCASE'), so 'URGENT' / 'urgent' / 'Urgent'
    hash and compare as one group INSIDE the aggregate — no lower()
    normalization column, and any index/partition stats on the original
    column stay usable.  The fixture synthesizes deterministic
    case-mangled keys (upper/lower/initcap by o_orderkey mod 3); the
    oracle groups the clean column case-insensitively.  Output key is
    min(lower(key)): identical for every member of a UTF8_LCASE group,
    so the emission is deterministic even though the group retains an
    arbitrary representative."""
    load_table(spark, sf, "orders").createOrReplaceTempView("q195_orders")
    return spark.sql(
        """
        WITH mixed AS (
          SELECT CASE WHEN o_orderkey % 3 = 0 THEN upper(o_orderpriority)
                      WHEN o_orderkey % 3 = 1 THEN lower(o_orderpriority)
                      ELSE initcap(lower(o_orderpriority)) END AS pr,
                 o_totalprice
          FROM q195_orders)
        SELECT min(lower(pr)) AS priority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                    AS DOUBLE) AS total
        FROM mixed GROUP BY collate(pr, 'UTF8_LCASE')
        """
    )


@q(
    "q211_sql_scripting",
    """WITH tot AS (SELECT count(*) AS n FROM customer),
       grid AS (SELECT unnest(range(0, 25)) * 500.0 AS t),
       fr AS (SELECT g.t,
                (SELECT count(*) FROM customer
                 WHERE c_acctbal > g.t) AS n_above,
              tot.n
              FROM grid g, tot),
       sel AS (SELECT t, n_above FROM fr
               WHERE n_above * 1.0 / n <= 0.1
               ORDER BY t LIMIT 1)
       SELECT t AS threshold, CAST(n_above AS BIGINT) AS n_above
       FROM sel""",
)
def q211(spark: SparkSession, sf: str) -> DataFrame:
    """Spark 4 SQL SCRIPTING (BEGIN…END, DECLARE, WHILE): an iterative
    threshold search executed entirely inside the SQL engine — raise a
    balance cutoff in 500-unit steps until at most 10 % of customers
    sit above it, then report the threshold and the population above.
    Control flow lives in the script (no driver-side Python loop
    besides submitting it); each iteration is one partial-combined
    aggregate over the table.  The oracle replays the search as a
    DuckDB grid scan — first multiple of 500 meeting the exit
    condition — so the loop's exit semantics are cross-checked, not
    assumed.  Complements q186 (named-parameter SQL) and q194 (pipe
    syntax) on the Spark-4 SQL surface."""
    load_table(spark, sf, "customer").createOrReplaceTempView(
        "q211_customer"
    )
    return spark.sql(
        """
        BEGIN
          DECLARE t DOUBLE DEFAULT 0.0;
          WHILE (SELECT count(*) FILTER (WHERE c_acctbal > t) * 1.0
                        / count(*)
                 FROM q211_customer) > 0.1 DO
            SET t = t + 500.0;
          END WHILE;
          SELECT t AS threshold,
                 (SELECT CAST(count(*) AS BIGINT)
                  FROM q211_customer
                  WHERE c_acctbal > t) AS n_above;
        END
        """
    )
