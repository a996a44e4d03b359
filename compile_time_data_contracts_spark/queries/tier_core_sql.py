"""Core relational/SQL surface: scans, joins, aggregates, windows, set ops,
subqueries, SQL functions, optimizer demos, Python-boundary UDFs, and the
flagship star join.

Split from the original single-module inventory (round 5); registration
order within a tier is preserved, and all modules share the `_shared`
registry so `queries()` / `oracle_sql()` stay the single assembly point.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from ._shared import _ORACLES, _QUERIES, _ts_str, q  # noqa: F401
from ..operators.materialize import reuse, scratch_dir
from ..operators.stats import gini_best_split, mann_whitney_u
from ..operators.timeseries import clamped_running_balance, peak_concurrency


# =========================================================================
# Projection / filter / predicates (Q05-Q07)
# =========================================================================

@q(
    "q05_projection",
    """SELECT l_orderkey, l_linenumber,
              round(l_extendedprice * (1 - l_discount), 2) AS revenue
       FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100""",
)
def q05(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
                "revenue"
            ),
        )
        .orderBy("l_orderkey", "l_linenumber")
        .limit(100)
    )


@q(
    "q06_predicates",
    """SELECT count(*) AS n FROM orders
       WHERE o_orderstatus = 'O'
         AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1998-12-31'
         AND o_orderpriority IN ('1-URGENT', '2-HIGH')
         AND (o_totalprice > 50000 OR o_orderpriority LIKE '1-%')
         AND o_custkey IS NOT NULL""",
)
def q06(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    return o.filter(
        (F.col("o_orderstatus") == "O")
        & F.col("o_orderdate").between("1996-01-01", "1998-12-31")
        & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & ((F.col("o_totalprice") > 50000) | F.col("o_orderpriority").like("1-%"))
        & F.col("o_custkey").isNotNull()
    ).agg(F.count("*").alias("n"))


@q(
    "q07_case_when",
    """SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                   WHEN c_acctbal < 3000 THEN 'low'
                   WHEN c_acctbal < 7000 THEN 'mid'
                   ELSE 'high' END AS band,
              count(*) AS n
       FROM customer GROUP BY band""",
)
def q07(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 3000, "low")
        .when(F.col("c_acctbal") < 7000, "mid")
        .otherwise("high")
    )
    return c.groupBy(band.alias("band")).agg(F.count("*").alias("n"))


# =========================================================================
# Joins (Q08-Q16)
# =========================================================================

@q(
    "q08_inner_join",
    """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total
       FROM customer JOIN orders ON c_custkey = o_custkey""",
)
def q08(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "inner").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


@q(
    "q09_join5_revenue_by_nation",
    """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
       FROM region
       JOIN nation   ON n_regionkey = r_regionkey
       JOIN customer ON c_nationkey = n_nationkey
       JOIN orders   ON o_custkey = c_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       WHERE r_name IN ('ASIA', 'EUROPE')
       GROUP BY n_name""",
)
def q09(spark: SparkSession, sf: str) -> DataFrame:
    """5-way star join.  region/nation/customer are small dims: Spark's
    AQE broadcasts them automatically; the only real shuffle is
    orders⋈lineitem on orderkey."""
    r = load_table(spark, sf, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    n = load_table(spark, sf, "nation")
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    return (
        F.broadcast(r)
        .join(n, n.n_regionkey == r.r_regionkey)
        .join(c, c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@q(
    "q10_outer_join",
    """SELECT count(*) AS n_rows,
              CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_no_orders
       FROM customer LEFT JOIN orders ON c_custkey = o_custkey""",
)
def q10(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    j = c.join(o, c.c_custkey == o.o_custkey, "left")
    return j.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_no_orders"),
    )


@q(
    "q11_semi_join",
    """SELECT count(*) AS n FROM customer
       WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
)
def q11(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").agg(
        F.count("*").alias("n")
    )


@q(
    "q12_anti_join",
    """SELECT count(*) AS n FROM customer
       WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
)
def q12(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").agg(
        F.count("*").alias("n")
    )


@q(
    "q13_broadcast_join",
    """SELECT p_brand, count(*) AS n, round(avg(l_quantity), 4) AS avg_qty
       FROM lineitem JOIN part ON l_partkey = p_partkey
       GROUP BY p_brand""",
)
def q13(spark: SparkSession, sf: str) -> DataFrame:
    """part is the small dimension: explicit F.broadcast removes the
    shuffle on the lineitem side entirely."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.count("*").alias("n"), F.round(F.avg("l_quantity"), 4).alias("avg_qty"))
    )


@q(
    "q14_theta_self_join",
    """SELECT count(*) AS n
       FROM lineitem l1 JOIN lineitem l2
         ON l1.l_orderkey = l2.l_orderkey AND l1.l_linenumber < l2.l_linenumber""",
)
def q14(spark: SparkSession, sf: str) -> DataFrame:
    """Equi + range self-join: Spark plans the equi part as the join key
    (one shuffle) with the range predicate as a post-join filter — NOT a
    cartesian product."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_linenumber")
    a, b = li.alias("a"), li.alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
    ).agg(F.count("*").alias("n"))


@q(
    "q15_asof_join",
    """SELECT l.event_id, strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS asof_ts_str
       FROM (SELECT * FROM events WHERE event_type = 'click') l
       ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
         ON l.user_id = r.user_id AND l.ts >= r.ts""",
)
def q15(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: for each click, the latest purchase by the same user at
    or before the click (union-marker + single window, see operators/asof)."""
    ev = load_table(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    joined = asof_join(clicks, purchases, on="user_id", left_ts="ts", right_ts="ts")
    return joined.select(
        "event_id", _ts_str(F.col("asof_ts")).alias("asof_ts_str")
    )


@q("q16_cross_join", "SELECT count(*) AS n FROM region CROSS JOIN nation")
def q16(spark: SparkSession, sf: str) -> DataFrame:
    r = load_table(spark, sf, "region")
    n = load_table(spark, sf, "nation")
    return r.crossJoin(n).agg(F.count("*").alias("n"))


# =========================================================================
# Aggregations (Q17-Q23)
# =========================================================================

@q(
    "q17_groupagg_tpch_q1",
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty,
              round(sum(l_extendedprice), 2) AS sum_base_price,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
              round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
              round(avg(l_quantity), 4) AS avg_qty,
              round(avg(l_extendedprice), 4) AS avg_price,
              round(avg(l_discount), 6) AS avg_disc,
              count(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       GROUP BY l_returnflag, l_linestatus""",
)
def q17(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02"
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@q(
    "q18_count_distinct",
    "SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n FROM orders",
)
def q18(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    return o.agg(F.countDistinct("o_custkey").alias("n"))


@q(
    "q19_approx_count_distinct",
    # the sketch value itself is engine-specific; what IS checkable is the
    # sketch's contract — within rsd of the exact count (SURVEY §2.2 Q19:
    # "checked vs exact within rsd, not hash-matched")
    """SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
              TRUE AS within_rsd
       FROM orders""",
)
def q19(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    agg = o.agg(
        F.countDistinct("o_custkey").cast("bigint").alias("n_exact"),
        F.approx_count_distinct("o_custkey", rsd=0.05).alias("__approx"),
    )
    # 3*rsd tolerance: the estimator's error is approximately normal with
    # std = rsd, so 3 sigma bounds false-failures at ~0.3%
    return agg.select(
        "n_exact",
        (
            F.abs(F.col("__approx") - F.col("n_exact"))
            <= 3 * 0.05 * F.col("n_exact")
        ).alias("within_rsd"),
    )


@q(
    "q20_rollup",
    """SELECT r_name, n_name, count(*) AS n
       FROM region JOIN nation ON n_regionkey = r_regionkey
       GROUP BY ROLLUP (r_name, n_name)""",
)
def q20(spark: SparkSession, sf: str) -> DataFrame:
    r = load_table(spark, sf, "region")
    n = load_table(spark, sf, "nation")
    return (
        r.join(n, n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n"))
    )


@q(
    "q21_cube",
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n
       FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
)
def q21(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))


@q(
    "q22_having",
    """SELECT c_nationkey, count(*) AS n_customers
       FROM customer GROUP BY c_nationkey HAVING count(*) > 3""",
)
def q22(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    return (
        c.groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
        .filter(F.col("n_customers") > 3)
    )


@q(
    "q23_stats",
    """SELECT round(min(l_quantity), 2) AS min_qty,
              round(max(l_quantity), 2) AS max_qty,
              round(stddev_samp(l_quantity), 6) AS std_qty,
              round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
              round(quantile_cont(l_quantity, 0.95), 6) AS p95_qty
       FROM lineitem""",
)
def q23(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return li.agg(
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
        F.round(F.stddev("l_quantity"), 6).alias("std_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("median_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.95)), 6).alias("p95_qty"),
    )


# =========================================================================
# Sorts / limits / top-k (Q28-Q29)
# =========================================================================

@q(
    "q28_global_sort",
    """SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS acctbal
       FROM customer
       ORDER BY c_mktsegment ASC NULLS LAST, c_acctbal DESC NULLS LAST, c_custkey
       LIMIT 100""",
)
def q28(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    return (
        c.select("c_custkey", "c_mktsegment", F.round("c_acctbal", 2).alias("acctbal"))
        .orderBy(
            F.asc_nulls_last("c_mktsegment"),
            F.desc_nulls_last("acctbal"),
            F.col("c_custkey"),
        )
        .limit(100)
    )


# =========================================================================
# Set operations (Q30-Q31)
# =========================================================================

@q(
    "q30_union",
    """SELECT count(*) AS n_all, CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_distinct
       FROM (
         SELECT c_custkey FROM customer WHERE c_acctbal > 5000
         UNION ALL
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
       )""",
)
def q30(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    a = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    b = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return a.unionAll(b).agg(
        F.count("*").alias("n_all"),
        F.countDistinct("c_custkey").alias("n_distinct"),
    )


@q(
    "q31_intersect_except",
    """SELECT
         (SELECT count(*) FROM (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
            INTERSECT
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')) AS n_intersect,
         (SELECT count(*) FROM (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
            EXCEPT
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')) AS n_except""",
)
def q31(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    open_ = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    done = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    n_i = open_.intersect(done).agg(F.count("*").alias("n_intersect"))
    n_e = open_.subtract(done).agg(F.count("*").alias("n_except"))
    return n_i.crossJoin(n_e)


# =========================================================================
# Scalar functions (Q32-Q38)
# =========================================================================

@q(
    "q32_string_funcs",
    """SELECT p_partkey,
              upper(p_name) AS up, lower(p_brand) AS lo,
              substring(p_name, 1, 8) AS sub,
              CAST(length(p_name) AS INT) AS len,
              trim(p_name) AS trimmed,
              lpad(p_brand, 12, '#') AS padded,
              concat_ws('-', p_brand, p_type) AS joined,
              regexp_extract(p_name, '^(\\w+)', 1) AS first_word,
              regexp_replace(p_name, ' ', '_') AS underscored,
              string_split(p_name, ' ')[1] AS tok0
       FROM part ORDER BY p_partkey LIMIT 500""",
)
def q32(spark: SparkSession, sf: str) -> DataFrame:
    p = load_table(spark, sf, "part")
    return (
        p.select(
            "p_partkey",
            F.upper("p_name").alias("up"),
            F.lower("p_brand").alias("lo"),
            F.substring("p_name", 1, 8).alias("sub"),
            F.length("p_name").alias("len"),
            F.trim("p_name").alias("trimmed"),
            F.lpad("p_brand", 12, "#").alias("padded"),
            F.concat_ws("-", "p_brand", "p_type").alias("joined"),
            F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
            F.regexp_replace("p_name", " ", "_").alias("underscored"),
            F.split(F.col("p_name"), " ")[0].alias("tok0"),
        )
        .orderBy("p_partkey")
        .limit(500)
    )


@q(
    "q33_date_funcs",
    """SELECT o_orderkey,
              CAST(year(o_orderdate) AS INT) AS y,
              CAST(month(o_orderdate) AS INT) AS m,
              CAST(day(o_orderdate) AS INT) AS d,
              CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS plus30,
              CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT) AS days_since,
              strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
              CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
       FROM orders ORDER BY o_orderkey LIMIT 500""",
)
def q33(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    return (
        o.select(
            "o_orderkey",
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("m"),
            F.dayofmonth("o_orderdate").alias("d"),
            F.date_add(F.col("o_orderdate").cast("date"), 30).alias("plus30"),
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
                "days_since"
            ),
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
                "month_start"
            ),
            F.unix_timestamp("o_orderdate").alias("epoch_s"),
        )
        .orderBy("o_orderkey")
        .limit(500)
    )


@q(
    "q34_math_funcs",
    """SELECT l_orderkey, l_linenumber,
              round(l_extendedprice, 2) AS rounded,
              CAST(floor(l_extendedprice) AS BIGINT) AS floored,
              CAST(ceil(l_extendedprice) AS BIGINT) AS ceiled,
              round(abs(l_discount - 0.05), 6) AS abs_disc,
              round(power(l_quantity, 2), 4) AS qty_sq,
              round(ln(l_extendedprice), 6) AS log_price,
              round(exp(l_discount), 6) AS exp_disc,
              round(sqrt(l_quantity), 6) AS sqrt_qty
       FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 500""",
)
def q34(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    # top-k FIRST, math after: projecting before orderBy+limit leaves
    # the Project below TakeOrderedAndProject, so ln/exp/sqrt/pow run
    # for EVERY scanned row; selecting the raw inputs, taking the
    # top-500, and projecting after folds the math into the operator's
    # post-heap projection — 500 evaluations instead of |lineitem|
    # (measured 1.18 -> 0.23 s exec at sf0.1, rows identical)
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
        )
        .orderBy("l_orderkey", "l_linenumber")
        .limit(500)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 2).alias("rounded"),
            F.floor("l_extendedprice").alias("floored"),
            F.ceil("l_extendedprice").alias("ceiled"),
            F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("abs_disc"),
            F.round(F.pow("l_quantity", F.lit(2)), 4).alias("qty_sq"),
            F.round(F.log("l_extendedprice"), 6).alias("log_price"),
            F.round(F.exp("l_discount"), 6).alias("exp_disc"),
            F.round(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
        )
    )


@q(
    "q35_array_funcs",
    """SELECT p_partkey,
              CAST(len(toks) AS INT) AS n_tokens,
              CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
              list_contains(toks, 'green') AS has_green,
              array_to_string(list_sort(toks), ',') AS sorted_toks,
              array_to_string(toks[1:2], ',') AS first_two
       FROM (SELECT p_partkey, string_split(p_name, ' ') AS toks FROM part)
       ORDER BY p_partkey LIMIT 500""",
)
def q35(spark: SparkSession, sf: str) -> DataFrame:
    p = load_table(spark, sf, "part").withColumn("toks", F.split("p_name", " "))
    return (
        p.select(
            "p_partkey",
            F.size("toks").alias("n_tokens"),
            F.size(F.array_distinct("toks")).alias("n_distinct"),
            F.array_contains("toks", "green").alias("has_green"),
            F.concat_ws(",", F.sort_array("toks")).alias("sorted_toks"),
            F.concat_ws(",", F.slice("toks", 1, 2)).alias("first_two"),
        )
        .orderBy("p_partkey")
        .limit(500)
    )


@q(
    "q36_map_funcs",
    """SELECT p_partkey, p_brand AS brand_from_map, p_type AS type_from_map,
              CAST(2 AS INT) AS n_keys, 'brand,type' AS keys_str
       FROM part ORDER BY p_partkey LIMIT 500""",
)
def q36(spark: SparkSession, sf: str) -> DataFrame:
    """Builds a real map column Spark-side (map_from_arrays/map_keys/
    element_at); the oracle states the trivially-known expected values."""
    p = load_table(spark, sf, "part").withColumn(
        "attrs",
        F.map_from_arrays(
            F.array(F.lit("brand"), F.lit("type")),
            F.array(F.col("p_brand"), F.col("p_type")),
        ),
    )
    return (
        p.select(
            "p_partkey",
            F.element_at("attrs", "brand").alias("brand_from_map"),
            F.element_at("attrs", "type").alias("type_from_map"),
            F.size("attrs").alias("n_keys"),
            F.concat_ws(",", F.sort_array(F.map_keys("attrs"))).alias("keys_str"),
        )
        .orderBy("p_partkey")
        .limit(500)
    )


@q(
    "q37_json_funcs",
    """SELECT event_id,
              json_extract_string(props, '$.k') AS k_str,
              CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
              CAST(json_object('k', CAST(json_extract_string(props, '$.k') AS INT))
                   AS VARCHAR) AS k_json
       FROM events
       WHERE json_extract_string(props, '$.k') IS NOT NULL""",
)
def q37(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.spread import spread_for_compute

    ev = load_table(spark, sf, "events")
    k_int = F.from_json(F.col("props"), "k INT")["k"]
    # three JSON parses per row are the dominant cost; a single-row-
    # group fixture scans as ONE task, serializing them on one core —
    # fan the projected (event_id, props) rows out first (no-op on any
    # input that already scans wide)
    return (
        spread_for_compute(ev.select("event_id", "props"))
        .select(
            "event_id",
            F.get_json_object("props", "$.k").alias("k_str"),
            k_int.alias("k_int"),
            F.to_json(F.struct(k_int.alias("k"))).alias("k_json"),
        )
        .filter(F.col("k_str").isNotNull())
    )


@q(
    "q38_conditional_funcs",
    """SELECT c_custkey,
              coalesce(nullif(c_mktsegment, 'BUILDING'), '(redacted)') AS segment,
              round(greatest(c_acctbal, 0.0), 2) AS pos_bal,
              round(least(c_acctbal, 1000.0), 2) AS capped_bal
       FROM customer""",
)
def q38(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("(redacted)")
        ).alias("segment"),
        F.round(F.greatest("c_acctbal", F.lit(0.0)), 2).alias("pos_bal"),
        F.round(F.least("c_acctbal", F.lit(1000.0)), 2).alias("capped_bal"),
    )


# =========================================================================
# Subqueries (Q39-Q40)
# =========================================================================

@q(
    "q39_scalar_subquery",
    """SELECT count(*) AS n FROM orders
       WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)""",
)
def q39(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    avg_df = o.agg(F.avg("o_totalprice").alias("__avg"))
    return (
        o.crossJoin(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > F.col("__avg"))
        .agg(F.count("*").alias("n"))
    )


@q(
    "q40_exists_subquery",
    """SELECT count(*) AS n FROM customer
       WHERE EXISTS (SELECT 1 FROM orders
                     WHERE o_custkey = c_custkey AND o_totalprice > 100000)""",
)
def q40(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated EXISTS through spark.sql — Catalyst decorrelates to a
    semi join."""
    load_table(spark, sf, "customer").createOrReplaceTempView("ctdc_customer")
    load_table(spark, sf, "orders").createOrReplaceTempView("ctdc_orders")
    return spark.sql(
        """SELECT count(*) AS n FROM ctdc_customer
           WHERE EXISTS (SELECT 1 FROM ctdc_orders
                         WHERE o_custkey = c_custkey AND o_totalprice > 100000)"""
    )


# =========================================================================
# Multi-dimensional aggregation variants (Q68-Q69)
# =========================================================================


@q(
    "q68_grouping_sets",
    """SELECT o_orderstatus, o_orderpriority,
              CAST(count(*) AS BIGINT) AS n,
              round(sum(o_totalprice), 2) AS total
       FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                               (o_orderstatus, o_orderpriority), ())""",
)
def q68(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS (SURVEY Q21's third form beyond cube and
    rollup) via Spark SQL — each grouping set is a separate aggregation
    over one Expand of the input, one shuffle total."""
    o = load_table(spark, sf, "orders")
    o.createOrReplaceTempView("q68_orders")
    return spark.sql(
        """SELECT o_orderstatus, o_orderpriority,
                  CAST(count(*) AS BIGINT) AS n,
                  round(sum(o_totalprice), 2) AS total
           FROM q68_orders
           GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                   (o_orderstatus, o_orderpriority), ())"""
    )


@q(
    "q69_pivot",
    # the oracle uses conditional aggregation — engine-neutral and
    # column-name-stable, unlike PIVOT syntax differences
    """SELECT n_name,
              CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS f_orders,
              CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS o_orders,
              CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS p_orders
       FROM orders
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       GROUP BY n_name""",
)
def q69(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot: order-status counts per nation.  groupBy().pivot(values)
    with explicit values skips the extra distinct-scan job and compiles
    to the same single-shuffle conditional aggregation as the oracle."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    joined = o.join(c, o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    return (
        joined.groupBy("n_name")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "n_name",
            F.coalesce(F.col("F"), F.lit(0)).cast("bigint").alias("f_orders"),
            F.coalesce(F.col("O"), F.lit(0)).cast("bigint").alias("o_orders"),
            F.coalesce(F.col("P"), F.lit(0)).cast("bigint").alias("p_orders"),
        )
    )


@q(
    "q76_stat_aggregates",
    """SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
              round(covar_pop(l_quantity, l_extendedprice), 4) AS covp,
              round(covar_samp(l_quantity, l_extendedprice), 4) AS covs,
              round(var_pop(l_discount), 8) AS varp,
              round(var_samp(l_discount), 8) AS vars,
              round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
              round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept
       FROM lineitem""",
)
def q76(spark: SparkSession, sf: str) -> DataFrame:
    """Statistical aggregate family: correlation, population/sample
    covariance and variance, linear-regression slope/intercept — all
    single-pass partial-aggregable moments."""
    li = load_table(spark, sf, "lineitem")
    q, p, d = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")
    return li.agg(
        F.round(F.corr(q, p), 6).alias("corr_qp"),
        F.round(F.covar_pop(q, p), 4).alias("covp"),
        F.round(F.covar_samp(q, p), 4).alias("covs"),
        F.round(F.var_pop(d), 8).alias("varp"),
        F.round(F.var_samp(d), 8).alias("vars"),
        F.round(F.regr_slope(p, q), 4).alias("slope"),
        F.round(F.regr_intercept(p, q), 4).alias("icept"),
    )


@q(
    "q79_salted_skew_join",
    """SELECT p.p_brand AS brand,
              count(*) AS n,
              round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
       FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       GROUP BY 1""",
)
def q79(spark: SparkSession, sf: str) -> DataFrame:
    """Fact-to-dim join routed through the salted-join rewrite (hot left
    keys spread over 8 salt buckets, dim replicated 8x); the oracle is
    the plain unsalted SQL join — salting must be result-invisible."""
    from ..operators.skew import salted_join

    li = load_table(spark, sf, "lineitem").withColumnRenamed(
        "l_partkey", "p_partkey"
    )
    part = load_table(spark, sf, "part").select("p_partkey", "p_brand")
    joined = salted_join(li, part, on=["p_partkey"], salt=8)
    return joined.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


@q(
    "q80_two_phase_count_distinct",
    """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_distinct
       FROM orders GROUP BY 1""",
)
def q80(spark: SparkSession, sf: str) -> DataFrame:
    """COUNT(DISTINCT) over a group key via the two-phase skew-safe form
    (distinct on (key, value) spreads a hot key's values by value hash,
    then a plain count); oracle = the direct COUNT(DISTINCT)."""
    from ..operators.skew import two_phase_count_distinct

    orders = load_table(spark, sf, "orders")
    return two_phase_count_distinct(orders, "o_orderpriority", "o_custkey")


@q(
    "q81_bucketed_join",
    """SELECT c.c_mktsegment AS segment,
              count(*) AS n_orders,
              round(sum(o.o_totalprice), 2) AS total
       FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
       GROUP BY 1""",
)
def q81(spark: SparkSession, sf: str) -> DataFrame:
    """Customer-orders join through bucketed tables: both sides written
    hash-bucketed on custkey (shuffle paid once at write), the join reads
    co-located buckets (zero Exchange on either side when the sort-merge
    path is chosen — asserted in tools/plan_audit.py with broadcast off).
    Tables live in a database located in a scratch directory, so the
    gate never writes into the caller's cwd warehouse and no other run
    shares its table directories."""
    from ..sources.bucketing import bucketed_join_ready, write_bucketed

    db = "ctdc_bucket"
    if not spark.catalog.databaseExists(db):
        warehouse = scratch_dir("ctdc-bucket-warehouse-")
        spark.sql(f"CREATE DATABASE {db} LOCATION '{warehouse}'")
    cust_t = f"{db}.customer"
    ord_t = f"{db}.orders"
    for t in (cust_t, ord_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    cust = load_table(spark, sf, "customer").withColumnRenamed(
        "c_custkey", "custkey"
    )
    orders = load_table(spark, sf, "orders").withColumnRenamed(
        "o_custkey", "custkey"
    )
    write_bucketed(cust, cust_t, ["custkey"], 8)
    write_bucketed(orders, ord_t, ["custkey"], 8)
    joined = bucketed_join_ready(spark, cust_t, ord_t, ["custkey"])
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@q(
    "q87_range_join_binned",
    """SELECT l.event_type, count(*) AS n_pairs
       FROM events l JOIN events r
         ON r.ts >= l.ts
        AND r.ts <= l.ts + INTERVAL 300 SECOND
        AND l.event_id <> r.event_id
       GROUP BY l.event_type""",
)
def q87(spark: SparkSession, sf: str) -> DataFrame:
    """Pure range join (NO equi-key): every event paired with events in
    the following 5 minutes.  A bare range predicate plans as
    BroadcastNestedLoopJoin — O(n²) compares; the binned rewrite joins
    on a time-bucket equi-key (plan-audited: no BNLJ) and filters the
    exact range, so work is pairs-within-bin-distance."""
    from ..operators.asof import range_join_binned

    ev = load_table(spark, sf, "events")
    joined = range_join_binned(
        ev,
        ev,
        "ts",
        "ts",
        0,
        300,
        extra_cond=F.col("l.event_id") != F.col("r.event_id"),
    )
    return joined.groupBy(
        F.col("l.event_type").alias("event_type")
    ).agg(F.count("*").alias("n_pairs"))


# =========================================================================
# Flagship
# =========================================================================

def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """5-way star join revenue by nation — exercises scans, broadcasts,
    shuffled join, aggregation."""
    return q09(spark, sf_dir)


@q(
    "q93_global_shuffle_order",
    """SELECT doc_id,
              CAST(row_number() OVER (
                ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
              ) AS BIGINT) AS pos
       FROM documents""",
)
def q93(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic epoch shuffle order with distributed rank: hash
    ranges are cut into contiguous buckets (bucket order = hash order),
    bucket counts prefix-sum on the tiny side, position = bucket offset
    + in-bucket row_number.  One data shuffle, no single-partition
    global sort; the oracle computes the same order with one."""
    from ..operators.sampling import global_shuffle_positions

    docs = load_table(spark, sf, "documents")
    return global_shuffle_positions(
        docs.select("doc_id"), "doc_id", buckets=64
    ).select("doc_id", "pos")


@q(
    "q96_approx_percentile",
    # like q19: the sketch value is engine-specific; checkable are the
    # exact percentiles (both engines interpolate linearly) and the
    # sketch's accuracy contract against them
    """SELECT round(quantile_cont(value, 0.5), 4) AS p50_r,
              round(quantile_cont(value, 0.9), 4) AS p90_r,
              round(quantile_cont(value, 0.99), 4) AS p99_r,
              TRUE AS within_tol
       FROM events""",
)
def q96(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate percentiles (KLL-style sketch, mergeable across
    partitions — the 100 TB path: one partial-aggregated pass, state is
    sketch-sized) checked against the exact interpolated percentiles,
    which both engines define identically.  within_tol asserts the
    sketch landed within 5% relative of exact at every probed quantile;
    the exact values hash-match the oracle."""
    ev = load_table(spark, sf, "events")
    agg = ev.agg(
        F.percentile("value", [0.5, 0.9, 0.99]).alias("__exact"),
        F.percentile_approx(
            "value", [0.5, 0.9, 0.99], accuracy=10000
        ).alias("__approx"),
    )
    ok = F.forall(
        F.zip_with(
            "__approx",
            "__exact",
            lambda a, e: F.abs(a - e) <= 0.05 * F.greatest(F.abs(e), F.lit(1e-9)),
        ),
        lambda x: x,
    )
    return agg.select(
        F.round(F.col("__exact")[0], 4).alias("p50_r"),
        F.round(F.col("__exact")[1], 4).alias("p90_r"),
        F.round(F.col("__exact")[2], 4).alias("p99_r"),
        ok.alias("within_tol"),
    )


from ..sources.layout import zorder_sql as _zsql  # noqa: E402


@q(
    "q105_zorder_code",
    f"""SELECT event_id,
               {_zsql('(event_id % 65536)', 'user_id')} AS z
        FROM events""",
)
def q105(spark: SparkSession, sf: str) -> DataFrame:
    """Morton (z-order) codes for the two-dimensional write layout:
    the engine's codegen bit-interleave must agree bit-for-bit with the
    oracle's SQL form — both are generated from the same loop
    (sources/layout.py), so the layout operator's math is value-checked
    here and the file-level locality property in tests/test_layout.py."""
    from ..sources.layout import zorder_value

    ev = load_table(spark, sf, "events")
    return ev.select(
        "event_id",
        zorder_value(
            F.pmod(F.col("event_id"), F.lit(65536)), F.col("user_id")
        ).alias("z"),
    )


@q(
    "q110_histogram",
    """WITH mm AS (SELECT min(l_extendedprice) AS mn,
                          max(l_extendedprice) AS mx
                   FROM lineitem)
       SELECT CAST(least(floor((l_extendedprice - mn)
                               / ((mx - mn) / 10.0)), 9) AS INT) AS bucket,
              round(mn + CAST(least(floor((l_extendedprice - mn)
                               / ((mx - mn) / 10.0)), 9) AS INT)
                         * ((mx - mn) / 10.0), 4) AS lo_r,
              CAST(count(*) AS BIGINT) AS n
       FROM lineitem, mm
       WHERE l_extendedprice IS NOT NULL
       GROUP BY 1, 2""",
)
def q110(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-width histogram of l_extendedprice (the ANALYZE/profiling
    shape): global (min,max) as a 1-row broadcast, bucket assignment as
    a codegen expression, ONE map-side-combined count — the shuffle
    carries nbuckets rows per partition regardless of table size."""
    from ..operators.stats import equi_width_histogram

    li = load_table(spark, sf, "lineitem")
    h = equi_width_histogram(li, "l_extendedprice", 10)
    return h.select(
        "bucket", F.round("lo", 4).alias("lo_r"), "n"
    )


@q(
    "q111_column_profile",
    """SELECT 'l_quantity' AS column,
              CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_null,
              CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
              CAST(min(l_quantity) AS VARCHAR) AS min_str,
              CAST(max(l_quantity) AS VARCHAR) AS max_str
       FROM lineitem
       UNION ALL
       SELECT 'l_returnflag',
              CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT),
              CAST(count(DISTINCT l_returnflag) AS BIGINT),
              CAST(min(l_returnflag) AS VARCHAR),
              CAST(max(l_returnflag) AS VARCHAR)
       FROM lineitem
       UNION ALL
       SELECT 'l_shipdate',
              CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT),
              CAST(count(DISTINCT l_shipdate) AS BIGINT),
              CAST(min(l_shipdate) AS VARCHAR),
              CAST(max(l_shipdate) AS VARCHAR)
       FROM lineitem""",
)
def q111(spark: SparkSession, sf: str) -> DataFrame:
    """Per-column table profile (nulls / exact NDV / min / max,
    type-erased to strings): ONE pass — Spark plans the multi-column
    count-distinct as expand + partial aggregation, so the scan is not
    repeated per column."""
    from ..operators.stats import column_profile

    li = load_table(spark, sf, "lineitem")
    return column_profile(
        li, ["l_quantity", "l_returnflag", "l_shipdate"]
    )


@q(
    "q112_dynamic_partition_pruning",
    # the weighted sum is summation-order-sensitive in double (a real
    # corpus value sat exactly on the 2dp rounding boundary), so both
    # engines accumulate in DECIMAL — exact, order-independent — and
    # round the identical result
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              CAST(round(sum(CAST(value * CASE event_type
                                    WHEN 'click' THEN 1.5
                                    WHEN 'purchase' THEN 2.0
                                  END AS DECIMAL(28, 8))), 2) AS DOUBLE)
                AS weighted_r
       FROM events WHERE event_type IN ('click', 'purchase')
       GROUP BY event_type""",
)
def q112(spark: SparkSession, sf: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out partitioned
    by event_type (hive directories, contract-pinned partitioned sink);
    joining it to a selectively-filtered weight dim makes Spark inject a
    runtime pruning subquery into the scan (PartitionFilters:
    dynamicpruningexpression — plan-audited), so only the joined types'
    directories are read.  At 100 TB this is the difference between
    scanning 2 partitions and scanning all of them."""
    import dataclasses
    import os

    from ..contracts.shape import contract
    from ..sources.io import Sink, write_df

    @contract
    @dataclasses.dataclass
    class EventsSlim:
        event_id: int
        user_id: int
        event_type: str
        value: float

    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    # reuse the partitioned copy only while the source's content
    # fingerprint (row count + max event_id — footer metadata + one
    # pruned-column agg) still matches: a regenerated sf dir must
    # trigger a rewrite, not silently serve the stale layout
    src_fp = ev.agg(
        F.count("*").alias("n"), F.max("event_id").alias("mx")
    ).first()

    def build(stage: str) -> None:
        write_df(
            ev,
            Sink(
                EventsSlim,
                os.path.join(stage, "events"),
                partition_by=("event_type",),
            ),
            SchemaPolicy.EXACT,
        )

    root, _, _ = reuse(
        "dpp", f"{sf}|dpp", {"n": src_fp["n"], "mx": src_fp["mx"]}, build
    )
    path = os.path.join(root, "events")
    part = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("click", 1.5), ("purchase", 2.0), ("view", 0.5)],
        "event_type string, w double",
    ).filter(F.col("w") >= 1.0)
    return (
        part.join(dim, "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(
                F.sum(
                    (F.col("value") * F.col("w")).cast("decimal(28,8)")
                ),
                2,
            ).cast("double").alias("weighted_r"),
        )
    )


@q(
    "q114_unpivot_measures",
    """SELECT 'l_discount' AS measure, CAST(count(*) AS BIGINT) AS n,
              CAST(round(sum(CAST(l_discount AS DECIMAL(28, 6))), 2)
                    AS DOUBLE) AS sum_r
       FROM lineitem
       UNION ALL
       SELECT 'l_extendedprice', CAST(count(*) AS BIGINT),
              CAST(round(sum(CAST(l_extendedprice AS DECIMAL(28, 6))), 2)
                    AS DOUBLE)
       FROM lineitem
       UNION ALL
       SELECT 'l_quantity', CAST(count(*) AS BIGINT),
              CAST(round(sum(CAST(l_quantity AS DECIMAL(28, 6))), 2)
                    AS DOUBLE)
       FROM lineitem""",
)
def q114(spark: SparkSession, sf: str) -> DataFrame:
    """UNPIVOT (melt): wide measure columns to (measure, value) rows in
    ONE scan — Spark plans it as a codegen Expand, so the relational
    surface covers both pivot (q69) and its inverse.  Decimal
    accumulation keeps the per-measure sums order-independent across
    engines."""
    li = load_table(spark, sf, "lineitem")
    melted = li.unpivot(
        ids=[],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="v",
    )
    return melted.groupBy("measure").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(
            F.sum(F.col("v").cast("decimal(28,6)")), 2
        ).cast("double").alias("sum_r"),
    )


@q(
    "q118_grouping_sets",
    """SELECT o_orderstatus, o_orderpriority,
              CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
              CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
              CAST(count(*) AS BIGINT) AS n,
              CAST(round(sum(CAST(o_totalprice AS DECIMAL(28, 8))), 2)
                    AS DOUBLE) AS total_r
       FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""",
)
def q118(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form under rollup q20 / cube
    q21): per-status totals, per-priority totals, and the grand total in
    ONE scan — Spark plans an Expand over the set list, so the table is
    read once, not once per set.  grouping() flags disambiguate real
    NULL group values from the set placeholders."""
    orders = load_table(spark, sf, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count("*").cast("bigint").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(28,8)")), 2
            ).cast("double").alias("total_r"),
        )
    )


@q(
    "q125_lateral_topn_per_nation",
    """SELECT n.n_name, c.c_name, round(c.c_acctbal, 2) AS acctbal_r
       FROM nation n,
            LATERAL (SELECT c_name, c_acctbal
                     FROM customer
                     WHERE c_nationkey = n.n_nationkey
                     ORDER BY c_acctbal DESC, c_name
                     LIMIT 2) c""",
)
def q125(spark: SparkSession, sf: str) -> DataFrame:
    """LATERAL correlated subquery (Spark 4 SQL): top-2 customers by
    balance per nation expressed as a per-row dependent subquery — the
    SQL-standard alternative to the window-rank form (q29).  Catalyst
    decorrelates it into a ranked join, so the declarative form costs
    the same as the hand-written window."""
    load_table(spark, sf, "nation").createOrReplaceTempView("v_nation")
    load_table(spark, sf, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        """SELECT n.n_name, c.c_name, round(c.c_acctbal, 2) AS acctbal_r
           FROM v_nation n,
                LATERAL (SELECT c_name, c_acctbal
                         FROM v_customer
                         WHERE c_nationkey = n.n_nationkey
                         ORDER BY c_acctbal DESC, c_name
                         LIMIT 2) c"""
    )


@q(
    "q128_null_safe_join",
    """WITH fact AS (SELECT nullif(event_type, 'error') AS k, value
                     FROM events),
            dim AS (SELECT DISTINCT nullif(event_type, 'error') AS k
                    FROM events)
       SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(count(f.k) AS BIGINT) AS n_nonnull
       FROM fact f JOIN dim d ON f.k IS NOT DISTINCT FROM d.k""",
)
def q128(spark: SparkSession, sf: str) -> DataFrame:
    """Null-safe equality join (<=>): NULL keys match each other instead
    of dropping — the semantics a plain equi-join silently loses.  Spark
    plans <=> as a hash join key like any other (no fallback to BNLJ),
    which the plan audit pins."""
    ev = load_table(spark, sf, "events")
    fact = ev.select(
        F.nullif(F.col("event_type"), F.lit("error")).alias("k"), "value"
    )
    dim = fact.select("k").distinct()
    joined = fact.alias("f").join(
        dim.alias("d"), F.col("f.k").eqNullSafe(F.col("d.k"))
    )
    return joined.agg(
        F.count("*").cast("bigint").alias("n"),
        F.count("f.k").cast("bigint").alias("n_nonnull"),
    )


@q(
    "q129_variant_semistructured",
    """SELECT event_type,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(json_extract_string(props, '$.k') AS INT))
                   AS BIGINT) AS sum_k,
              CAST(max(CAST(json_extract_string(props, '$.k') AS INT))
                   AS INT) AS max_k,
              CAST(sum(CASE WHEN json_extract_string(props, '$.missing')
                            IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_missing
       FROM events GROUP BY event_type""",
)
def q129(spark: SparkSession, sf: str) -> DataFrame:
    """VARIANT semi-structured ingestion (Spark 4): props parses ONCE
    into the binary variant encoding and every field access is a cheap
    typed variant_get — the open-schema alternative to q03/q37's
    from_json, which needs the schema up front.  try_variant_get
    returns NULL for absent paths instead of failing, the
    late-schema-drift behavior a 100 TB ingest actually needs."""
    ev = load_table(spark, sf, "events")
    parsed = ev.select(
        "event_type", F.parse_json("props").alias("v")
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.try_variant_get("v", "$.k", "int"))
        .cast("bigint")
        .alias("sum_k"),
        F.max(F.try_variant_get("v", "$.k", "int")).cast("int").alias("max_k"),
        F.sum(
            F.when(
                F.try_variant_get("v", "$.missing", "string").isNull(), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_missing"),
    )


@q(
    "q131_median_mode",
    """WITH m AS (
         SELECT l_returnflag,
                round(median(l_quantity), 4) AS median_qty,
                round(median(l_extendedprice), 4) AS median_price
         FROM lineitem GROUP BY l_returnflag),
       counts AS (
         SELECT l_returnflag, l_linenumber, count(*) AS c,
                row_number() OVER (PARTITION BY l_returnflag
                                   ORDER BY count(*) DESC, l_linenumber)
                  AS rn
         FROM lineitem GROUP BY l_returnflag, l_linenumber)
       SELECT m.l_returnflag, m.median_qty,
              CAST(counts.l_linenumber AS INT) AS mode_line,
              m.median_price
       FROM m JOIN counts ON m.l_returnflag = counts.l_returnflag
       WHERE counts.rn = 1""",
)
def q131(spark: SparkSession, sf: str) -> DataFrame:
    """Exact MEDIAN (Spark 4 built-in, not percentile_approx) plus a
    deterministic MODE.  Both engines ship a mode() aggregate but both
    break frequency ties ARBITRARILY, so the mode here is the explicit
    arg-max — count desc, value asc — identical on both sides
    (l_linenumber's domain is small ints, where ties are real)."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 4).alias("median_qty"),
        F.min(F.col("l_linenumber")).alias("__drop"),
        F.round(F.median("l_extendedprice"), 4).alias("median_price"),
    ).drop("__drop").join(
        li.groupBy("l_returnflag", "l_linenumber")
        .count()
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("l_returnflag").orderBy(
                    F.desc("count"), F.asc("l_linenumber")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag", F.col("l_linenumber").cast("int").alias("mode_line")
        ),
        "l_returnflag",
    ).select("l_returnflag", "median_qty", "mode_line", "median_price")


_Q174_SQL = """
WITH a AS (SELECT o_orderpriority AS p FROM {orders}
           WHERE o_custkey % 2 = 0),
     b AS (SELECT o_orderpriority AS p FROM {orders}
           WHERE o_custkey % 2 = 1),
     ea AS (SELECT p FROM a EXCEPT ALL SELECT p FROM b),
     ia AS (SELECT p FROM a INTERSECT ALL SELECT p FROM b)
SELECT 'except_all' AS op, p, CAST(count(*) AS BIGINT) AS n
FROM ea GROUP BY p
UNION ALL
SELECT 'intersect_all' AS op, p, CAST(count(*) AS BIGINT) AS n
FROM ia GROUP BY p
"""


@q("q174_multiset_set_ops", _Q174_SQL.format(orders="orders"))
def q174(spark: SparkSession, sf: str) -> DataFrame:
    """Multiset (bag) set operations — EXCEPT ALL / INTERSECT ALL —
    which q31's DISTINCT variants cannot express: per-value
    MULTIPLICITY survives, so the except side reports max(0, cnt_a -
    cnt_b) occurrences and the intersect side min(cnt_a, cnt_b).
    Catalyst rewrites both into aggregate + generate (count per key,
    then replicate) — no sort, no distinct pass, partial-combined like
    any GROUP BY — making bag reconciliation of two 100 TB extracts a
    pair of count aggregates rather than a row-by-row diff."""
    load_table(spark, sf, "orders").createOrReplaceTempView("q174_orders")
    return spark.sql(_Q174_SQL.format(orders="q174_orders"))


_Q175_SQL = """
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(*) FILTER (WHERE o.o_orderstatus = 'F') AS BIGINT)
         AS n_finished,
       round(sum(o.o_totalprice) FILTER (WHERE o.o_orderpriority
                                         LIKE '1-%'), 2) AS urgent_rev_r,
       round(avg(o.o_totalprice) FILTER (WHERE o.o_orderstatus = 'O'), 2)
         AS avg_open_r
FROM {orders} o
JOIN {customer} c ON c.c_custkey = o.o_custkey
JOIN {nation} n ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name
"""


@q(
    "q175_filtered_aggregates",
    _Q175_SQL.format(orders="orders", customer="customer", nation="nation"),
)
def q175(spark: SparkSession, sf: str) -> DataFrame:
    """SQL-standard FILTER (WHERE ...) conditional aggregation: four
    differently-predicated aggregates over ONE scan of the fact table —
    the declarative form of the CASE-WHEN pivot, and the shape every
    metrics rollup wants at 100 TB (adding a filtered metric adds a
    column, never a scan).  All four run inside one partial-combined
    HashAggregate; the two dimension joins broadcast."""
    load_table(spark, sf, "orders").createOrReplaceTempView("q175_orders")
    load_table(spark, sf, "customer").createOrReplaceTempView(
        "q175_customer"
    )
    load_table(spark, sf, "nation").createOrReplaceTempView("q175_nation")
    return spark.sql(
        _Q175_SQL.format(
            orders="q175_orders",
            customer="q175_customer",
            nation="q175_nation",
        )
    )


_Q182_SQL = """
WITH d AS (
  SELECT CAST(floor(o_totalprice
              / power(10, floor(log10(o_totalprice)))) AS INT) AS digit
  FROM {orders} WHERE o_totalprice >= 1
), c AS (
  SELECT digit, count(*) AS n FROM d GROUP BY digit
), t AS (SELECT sum(n) AS tot FROM c)
SELECT digit,
       CAST(n AS BIGINT) AS n,
       round(CAST(n AS DOUBLE) / t.tot, 6) AS observed_r,
       round(log10(1.0 + 1.0 / digit), 6) AS benford_r,
       round(abs(CAST(n AS DOUBLE) / t.tot - log10(1.0 + 1.0 / digit)),
             6) AS abs_dev_r
FROM c, t
"""


@q("q182_benford_audit", _Q182_SQL.format(orders="orders"))
def q182(spark: SparkSession, sf: str) -> DataFrame:
    """Benford first-digit audit: observed leading-digit frequencies of
    order totals against the Benford expectation log10(1 + 1/d) — the
    classic forensic screen for fabricated or truncated financial
    columns, and a useful synthetic-data tell (TPC-H prices are
    uniform-ish, so deviations here are LARGE by design; organic
    multiplicative data hugs the curve).  The digit comes from pure
    log/power arithmetic (identical IEEE semantics in any engine — no
    string casts, which differ across dialects); cost is one
    map-combined 9-group count plus a 1-row total broadcast."""
    load_table(spark, sf, "orders").createOrReplaceTempView("q182_orders")
    return spark.sql(_Q182_SQL.format(orders="q182_orders"))


_Q183_SQL = """
WITH med AS (
  SELECT event_type, median(value) AS med FROM {events}
  GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS ad
  FROM {events} e JOIN med m ON m.event_type = e.event_type
), mad AS (
  SELECT event_type, median(ad) AS mad FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(max(m.med), 4) AS median_r,
       round(max(m2.mad), 4) AS mad_r,
       CAST(sum(CASE WHEN d.ad > 3.0 * 1.4826 * m2.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d
JOIN med m ON m.event_type = d.event_type
JOIN mad m2 ON m2.event_type = d.event_type
GROUP BY d.event_type
"""


@q("q183_mad_outliers", _Q183_SQL.format(events="events"))
def q183(spark: SparkSession, sf: str) -> DataFrame:
    """Robust outlier detection via Median Absolute Deviation: the
    breakdown-resistant companion to Q169's z-score (one extreme value
    drags a mean/stddev but not a median/MAD, so contaminated columns
    don't mask their own outliers).  Both medians are EXACT
    (`median()` on each engine — q131 already pins the interpolation
    parity); the 1.4826 factor scales MAD to sigma-equivalent under
    normality, making the 3-sigma-style cut comparable to Q169's.
    Cost shape: two grouped exact medians (each a per-group sort of
    that group only) + two broadcast joins of the |types|-row stat
    tables; at 100 TB swap `median` for `approx_percentile(0.5)` and
    the shape is one scan + two tiny broadcasts."""
    load_table(spark, sf, "events").createOrReplaceTempView("q183_events")
    return spark.sql(_Q183_SQL.format(events="q183_events"))


_Q187_SQL = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1 - l_discount AS DECIMAL(5,2))), 2)
            AS DOUBLE) AS revenue
FROM {lineitem} JOIN {orders} ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000.0
GROUP BY l_returnflag
"""


@q(
    "q187_bloom_runtime_filter",
    _Q187_SQL.format(lineitem="lineitem", orders="orders"),
)
def q187(spark: SparkSession, sf: str) -> DataFrame:
    """Runtime Bloom-filter join pruning (`InjectRuntimeFilter`,
    Spark 3.3+): a selective filter on the orders side builds a Bloom
    filter (`bloom_filter_agg` subquery) that is pushed into the
    lineitem scan as `might_contain(xxhash64(l_orderkey))` — rows that
    cannot join are dropped BEFORE the shuffle, which at 100 TB is the
    difference between shuffling the whole fact table and shuffling the
    ~few-% that survive.  The demo pins the scale posture explicitly:
    broadcast is disabled (at real scale the filtered orders side is
    past the broadcast threshold, which is precisely when the Bloom
    filter earns its keep) and the application-side size gate is
    dropped to zero so the sf0.01 fixture triggers the same plan a
    100 TB table would.

    Config hygiene: the optimizer confs are scoped — the physical plan
    is forced (QueryExecution's lazy phases pin it) while they're set,
    then every conf is restored, so the returned DataFrame stays lazy
    with the Bloom-filtered plan and the session is left untouched.
    """
    from ..session import session_conf

    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 150000.0)
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # AQE reads its own threshold live at execution time (after the
        # finally block restores confs) — pin it too, or the executed
        # join can silently convert to broadcast behind the audited plan.
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
    }
    with session_conf(spark, confs):
        out = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.expr(
                    "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))"
                    " * CAST(1 - l_discount AS DECIMAL(5,2))), 2)"
                    " AS DOUBLE)"
                ).alias("revenue"),
            )
        )
        out._jdf.queryExecution().executedPlan()
    return out


# =========================================================================
# Round-5 SQL surface remainders (q194/q195/q198 moved to
# tier_core_udf / tier_core_window; q196 is in tier_streaming)
# =========================================================================


_Q197_ORACLE = """
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       CAST(count(*) AS BIGINT) AS n
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


@q("q197_listagg", _Q197_ORACLE)
def q197(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered LISTAGG (Spark 4 / SQL:2016 `WITHIN GROUP (ORDER BY …)`):
    the denormalized-list rollup every report ends with, deterministic
    because the within-group order is total.  Scale note: the result row
    is O(group size) — LISTAGG is for bounded groups (here: nations per
    region); unbounded-group concatenation belongs in collect_list +
    downstream chunking, not a string column."""
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.expr(
                "listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)"
            ).alias("nations"),
            F.count("*").cast("bigint").alias("n"),
        )
    )


@q(
    "q221_robust_group_stats",
    """WITH c AS (
         SELECT c_nationkey,
                CAST(floor(CAST(c_acctbal AS DOUBLE) * 100) AS BIGINT)
                  AS cents,
                c_custkey
         FROM customer),
       r AS (
         SELECT c_nationkey, cents,
                row_number() OVER (PARTITION BY c_nationkey
                                   ORDER BY cents, c_custkey) AS rn,
                count(*) OVER (PARTITION BY c_nationkey) AS n
         FROM c),
       b AS (
         SELECT *, CAST(floor(n / 10.0) AS BIGINT) AS g,
                max(CASE WHEN rn = CAST(floor(n / 10.0) AS BIGINT) + 1
                         THEN cents END)
                  OVER (PARTITION BY c_nationkey) AS lo,
                max(CASE WHEN rn = n - CAST(floor(n / 10.0) AS BIGINT)
                         THEN cents END)
                  OVER (PARTITION BY c_nationkey) AS hi
         FROM r)
       SELECT c_nationkey,
              CAST(max(n) AS BIGINT) AS n,
              round(CAST(sum(CASE WHEN rn > g AND rn <= n - g
                                  THEN cents END) AS DOUBLE)
                    / (max(n) - 2 * max(g)), 6) AS trimmed_mean_cents,
              round(CAST(sum(least(greatest(cents, lo), hi)) AS DOUBLE)
                    / max(n), 6) AS winsorized_mean_cents,
              max(lo) AS lo_cents, max(hi) AS hi_cents
       FROM b GROUP BY c_nationkey""",
)
def q221(spark: SparkSession, sf: str) -> DataFrame:
    """Rank-based robust group statistics: per-nation 10 %-trimmed mean
    and 10 %-winsorized mean of account balances.  RANK-based (drop /
    clamp exactly g = floor(n/10) rows per tail, ranks tie-broken by
    key) rather than quantile-based, so the statistic is exact integer
    arithmetic on floored cents — engine-identical with no quantile-
    interpolation divergence (Spark percentile vs DuckDB quantile_cont
    interpolate differently; ranks don't).  ONE sort-based window per
    group supplies rn / n / both clamp boundaries (the extra window
    aggs reuse the same exchange+sort), then one partial-combined
    groupBy finishes — two shuffles total, no join, no Python.
    Winsorization is the standard heavy-tail guard for quality-score
    aggregation at corpus scale where a single spam outlier can drag a
    domain's mean."""
    c = load_table(spark, sf, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal").cast("double") * 100)
        .cast("bigint")
        .alias("cents"),
        "c_custkey",
    )
    wp = Window.partitionBy("c_nationkey")
    r = c.select(
        "c_nationkey",
        "cents",
        F.row_number()
        .over(wp.orderBy("cents", "c_custkey"))
        .alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    g = F.floor(F.col("n") / 10.0).cast("bigint")
    b = r.select(
        "c_nationkey",
        "cents",
        "rn",
        "n",
        g.alias("g"),
        F.max(F.when(F.col("rn") == g + 1, F.col("cents")))
        .over(wp)
        .alias("lo"),
        F.max(F.when(F.col("rn") == F.col("n") - g, F.col("cents")))
        .over(wp)
        .alias("hi"),
    )
    return b.groupBy("c_nationkey").agg(
        F.max("n").cast("bigint").alias("n"),
        F.round(
            F.sum(
                F.when(
                    (F.col("rn") > F.col("g"))
                    & (F.col("rn") <= F.col("n") - F.col("g")),
                    F.col("cents"),
                )
            ).cast("double")
            / (F.max("n") - 2 * F.max("g")),
            6,
        ).alias("trimmed_mean_cents"),
        F.round(
            F.sum(
                F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi"))
            ).cast("double")
            / F.max("n"),
            6,
        ).alias("winsorized_mean_cents"),
        F.max("lo").alias("lo_cents"),
        F.max("hi").alias("hi_cents"),
    )


@q(
    "q222_pareto_skyline",
    """WITH p AS (
         SELECT DISTINCT
                CAST(floor(CAST(p_retailprice AS DOUBLE) * 100) AS BIGINT)
                  AS price_cents,
                CAST(p_size AS BIGINT) AS p_size
         FROM part)
       SELECT price_cents, p_size
       FROM p a
       WHERE NOT EXISTS (
         SELECT 1 FROM p b
         WHERE b.price_cents <= a.price_cents
           AND b.p_size >= a.p_size
           AND (b.price_cents < a.price_cents OR b.p_size > a.p_size))""",
)
def q222(spark: SparkSession, sf: str) -> DataFrame:
    """Pareto frontier (`operators/pareto.py: skyline_2d`): the
    non-dominated (minimize retail price, maximize size) part
    configurations.  The operator NEVER self-joins: a partial-combined
    groupBy collapses min-axis ties to their best max, then ONE
    ordered pass marks dominance with a strictly-preceding running max
    (rangeBetween ending at -1 on the price axis) — O(n log n) against
    the textbook O(n²) dominance anti-join, which is exactly what the
    ORACLE runs (NOT EXISTS over all pairs): the two independent
    algorithms agreeing IS the check.  The phase-2 window is
    unpartitioned by design but runs over the reduced |distinct price|
    set (grid-bounded), as the operator docstring's 100 TB note
    spells out.  Pareto sweeps (threshold-vs-recall, cost-vs-quality)
    are the standard way to pick pipeline operating points."""
    from ..operators.pareto import skyline_2d

    p = load_table(spark, sf, "part").select(
        F.floor(F.col("p_retailprice").cast("double") * 100)
        .cast("bigint")
        .alias("price_cents"),
        F.col("p_size").cast("bigint").alias("p_size"),
    )
    return skyline_2d(p, "price_cents", "p_size")


