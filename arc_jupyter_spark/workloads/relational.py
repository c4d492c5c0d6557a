"""Relational operator coverage: one named query per operator family
from SURVEY.md §2 (joins, aggregation, grouping sets, windows, set ops,
sort/limit, subqueries, CTEs, scalar functions, JSON, pivot, typing,
diff, metadata, statistics).

Every query is paired with a DuckDB oracle. Floating aggregates are
exact sums from ``arc_jupyter_spark/exact.py``, which states the
recipe and its headroom bound; tools/selfcheck.py under perturbed
partitioning checks every query that uses them bit-for-bit against
DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from arc_jupyter_spark.checkpoint import materialize, materialize_lazy

from arc_jupyter_spark.context import ArcContext
from arc_jupyter_spark.digest import internal_digest
from arc_jupyter_spark.exact import exact_sum, quantize, sql_exact_sum, sql_quantize
from arc_jupyter_spark.operators.transform import SQLTransform
from arc_jupyter_spark.workloads.base import load_views, query

# --------------------------------------------------------------------
# q01 — scan → filter → hash agg → sort (TPC-H Q1 shape). Flagship.
# Runs through the SQLTransform stage to exercise the stage layer.
# --------------------------------------------------------------------

Q01_SQL = f"""
SELECT
  l_returnflag,
  l_linestatus,
  ROUND({sql_exact_sum('l_quantity', 2)}, 2)      AS sum_qty,
  ROUND({sql_exact_sum('l_extendedprice', 2)}, 2) AS sum_base_price,
  ROUND({sql_exact_sum('l_extendedprice * (1 - l_discount)', 6)}, 2)               AS sum_disc_price,
  ROUND({sql_exact_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)}, 2) AS sum_charge,
  ROUND({sql_exact_sum('l_quantity', 2)} / COUNT(*), 4)      AS avg_qty,
  ROUND({sql_exact_sum('l_extendedprice', 2)} / COUNT(*), 4) AS avg_price,
  ROUND({sql_exact_sum('l_discount', 2)} / COUNT(*), 6)      AS avg_disc,
  COUNT(*)                                                        AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query("q01_pricing_summary", oracle=Q01_SQL)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    ctx = ArcContext(spark)
    return SQLTransform(name="q01", sql=Q01_SQL, output_view="q01_out").execute(ctx)


# --------------------------------------------------------------------
# q02 — broadcast join (fact ⋈ small dims). DataFrame API + explicit
# broadcast; at 100 TB part/supplier stay broadcast-able dims.
# --------------------------------------------------------------------

Q02_ORACLE = f"""
SELECT p.p_brand,
       ROUND({sql_exact_sum('l.l_extendedprice * (1 - l.l_discount)', 6)}, 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_size <= 15
GROUP BY p.p_brand
ORDER BY p.p_brand
"""


@query("q02_broadcast_join", oracle=Q02_ORACLE)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem", "part")
    li = spark.table("lineitem")
    part = spark.table("part").where(F.col("p_size") <= 15)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(exact_sum(li.l_extendedprice * (1 - li.l_discount), 6), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------
# q03 — 3-way join + group + deterministic top-k (TakeOrdered).
# --------------------------------------------------------------------

Q03_ORACLE = f"""
SELECT o.o_orderkey,
       ROUND({sql_exact_sum('l.l_extendedprice * (1 - l.l_discount)', 6)}, 2) AS revenue,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderkey
LIMIT 10
"""


@query("q03_topk_join", oracle=Q03_ORACLE)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "customer", "orders", "lineitem")
    c = spark.table("customer").where(F.col("c_mktsegment") == "BUILDING")
    o = spark.table("orders")
    l = spark.table("lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(F.round(exact_sum(l.l_extendedprice * (1 - l.l_discount), 6), 2).alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------
# q04 — left-semi join (EXISTS).
# --------------------------------------------------------------------

Q04_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("q04_semi_join", oracle=Q04_ORACLE)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "orders", "lineitem")
    o = spark.table("orders")
    l = spark.table("lineitem").where(F.col("l_quantity") > 45)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------
# q05 — left-anti join (NOT EXISTS).
# --------------------------------------------------------------------

Q05_ORACLE = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@query("q05_anti_join", oracle=Q05_ORACLE)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "customer", "orders")
    c = spark.table("customer")
    o = spark.table("orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------
# q06 — parameterized filter + global agg (${param} injection path).
# --------------------------------------------------------------------

Q06_SQL = f"""
SELECT ROUND({sql_exact_sum('l_extendedprice * l_discount', 6)}, 2) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '${{start_date}} 00:00:00'
  AND l_shipdate <  TIMESTAMP '${{end_date}} 00:00:00'
  AND l_discount BETWEEN ${{discount=0.05}} - 0.01 AND ${{discount=0.05}} + 0.01
  AND l_quantity < ${{max_qty=24}}
"""

Q06_ORACLE = f"""
SELECT ROUND({sql_exact_sum('l_extendedprice * l_discount', 6)}, 2) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 - 0.01 AND 0.05 + 0.01
  AND l_quantity < 24
"""


@query("q06_param_filter", oracle=Q06_ORACLE)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    ctx = ArcContext(spark, env={"start_date": "1996-01-01", "end_date": "1997-01-01"})
    return SQLTransform(name="q06", sql=Q06_SQL, output_view="q06_out").execute(ctx)


# --------------------------------------------------------------------
# q07 — left outer join + null-aware aggregates.
# --------------------------------------------------------------------

Q07_ORACLE = f"""
SELECT o.o_orderstatus,
       COUNT(*) AS n_rows,
       COUNT(l.l_orderkey) AS n_lineitems,
       ROUND({sql_exact_sum('COALESCE(l.l_quantity, 0)', 6)}, 2) AS total_qty
FROM orders o LEFT JOIN lineitem l
  ON o.o_orderkey = l.l_orderkey AND l.l_quantity > 49
GROUP BY o.o_orderstatus
ORDER BY o.o_orderstatus
"""


@query("q07_outer_join", oracle=Q07_ORACLE)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "orders", "lineitem")
    o = spark.table("orders")
    l = spark.table("lineitem")
    joined = o.join(l, (o.o_orderkey == l.l_orderkey) & (l.l_quantity > 49), "left")
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("l_orderkey").alias("n_lineitems"),
            F.round(exact_sum(F.coalesce(l.l_quantity, F.lit(0)), 6), 2).alias("total_qty"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------
# q08 — full outer join of two aggregates.
# --------------------------------------------------------------------

Q08_ORACLE = """
SELECT COALESCE(c.nk, s.nk) AS nationkey,
       COALESCE(c.n_cust, 0) AS n_cust,
       COALESCE(s.n_supp, 0) AS n_supp
FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
FULL OUTER JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
  ON c.nk = s.nk
ORDER BY nationkey
"""


@query("q08_full_outer", oracle=Q08_ORACLE)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "customer", "supplier")
    c = spark.table("customer").groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    s = spark.table("supplier").groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    return (
        c.join(s, "nk", "full_outer")
        .select(
            F.col("nk").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


# --------------------------------------------------------------------
# q09 — window: per-group top-N via row_number.
# --------------------------------------------------------------------

Q09_ORACLE = """
SELECT o_custkey, o_orderkey, rn FROM (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 2
ORDER BY o_custkey, rn
"""


@query("q09_window_topn", oracle=Q09_ORACLE)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        spark.table("orders")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "rn")
        .orderBy("o_custkey", "rn")
    )


# --------------------------------------------------------------------
# q10 — window: running sum with a ROWS frame.
# --------------------------------------------------------------------

Q10_ORACLE = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       ROUND(SUM(l_quantity) OVER (
         PARTITION BY l_suppkey
         ORDER BY l_shipdate, l_orderkey, l_linenumber
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
FROM lineitem
WHERE l_suppkey <= 5
ORDER BY l_suppkey, l_orderkey, l_linenumber
"""


@query("q10_window_running", oracle=Q10_ORACLE)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spark.table("lineitem")
        .where(F.col("l_suppkey") <= 5)
        .select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.round(F.sum("l_quantity").over(w), 2).alias("running_qty"),
        )
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    )


# --------------------------------------------------------------------
# q11 — ROLLUP + GROUPING() — multi-level aggregates in one pass.
# --------------------------------------------------------------------

Q11_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
       CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
       ROUND({sql_exact_sum('l_quantity', 2)}, 2) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


@query("q11_rollup", oracle=Q11_SQL)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    return spark.sql(Q11_SQL)


# --------------------------------------------------------------------
# q12 — CUBE.
# --------------------------------------------------------------------

Q12_SQL = f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
       ROUND({sql_exact_sum('l_extendedprice', 2)}, 2) AS sum_price
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


@query("q12_cube", oracle=Q12_SQL)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    return spark.sql(Q12_SQL)


# --------------------------------------------------------------------
# q13 — set operations: INTERSECT / EXCEPT / UNION ALL, tagged.
# --------------------------------------------------------------------

Q13_SQL = """
SELECT 'both' AS side, nk FROM (
  SELECT c_nationkey AS nk FROM customer INTERSECT SELECT s_nationkey FROM supplier
)
UNION ALL
SELECT 'cust_only' AS side, nk FROM (
  SELECT c_nationkey AS nk FROM customer EXCEPT SELECT s_nationkey FROM supplier
)
ORDER BY side, nk
"""


@query("q13_setops", oracle=Q13_SQL)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "customer", "supplier")
    return spark.sql(Q13_SQL)


# --------------------------------------------------------------------
# q14 — DISTINCT aggregates.
# --------------------------------------------------------------------

Q14_SQL = f"""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       ROUND((CAST(SUM(DISTINCT {sql_quantize('l_quantity', 2)}) AS DOUBLE) / 100), 2) AS sum_distinct_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("q14_distinct_agg", oracle=Q14_SQL)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    return spark.sql(Q14_SQL)


# --------------------------------------------------------------------
# q15 — string scalar functions.
# --------------------------------------------------------------------

Q15_SQL = f"""
SELECT c_mktsegment,
       COUNT(*) AS n,
       {sql_quantize('CAST(SUM(LENGTH(c_name)) AS DOUBLE) * 10000 / COUNT(*)', 0)} AS avg_name_len_e4,
       MIN(UPPER(SUBSTR(c_name, 1, 8))) AS min_prefix,
       CAST(SUM(CASE WHEN c_name LIKE '%1%' THEN 1 ELSE 0 END) AS BIGINT) AS n_with_one,
       MAX(CONCAT(c_mktsegment, '#', LOWER(SUBSTR(c_name, 1, 4)))) AS max_tag
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@query("q15_string_funcs", oracle=Q15_SQL)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "customer")
    return spark.sql(Q15_SQL)


# --------------------------------------------------------------------
# q16 — datetime scalar functions.
# --------------------------------------------------------------------

Q16_SQL = f"""
SELECT CAST(YEAR(o_orderdate) AS INT) AS yr,
       CAST(MONTH(o_orderdate) AS INT) AS mo,
       COUNT(*) AS n_orders,
       ROUND({sql_exact_sum('o_totalprice', 2)}, 2) AS total
FROM orders
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("q16_datetime_funcs", oracle=Q16_SQL)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "orders")
    return spark.sql(Q16_SQL)


# --------------------------------------------------------------------
# q17 — math scalar functions.
# --------------------------------------------------------------------

Q17_SQL = f"""
SELECT l_linestatus,
       CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_floor_qty,
       CAST(SUM(CAST(CEIL(l_extendedprice / 1000) AS BIGINT)) AS BIGINT) AS sum_ceil_kprice,
       ROUND({sql_exact_sum('POWER(l_discount, 2)', 8)}, 4) AS sum_disc_sq,
       CAST(SUM(l_orderkey % 7) AS BIGINT) AS sum_mod,
       ROUND({sql_exact_sum('ABS(l_extendedprice - 1000.0)', 2)}, 2) AS sum_absdev,
       ROUND({sql_exact_sum('SQRT(l_quantity)', 8)}, 4) AS sum_sqrt_qty
FROM lineitem
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


@query("q17_math_funcs", oracle=Q17_SQL)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    return spark.sql(Q17_SQL)


# --------------------------------------------------------------------
# q18 — CASE WHEN bucketing.
# --------------------------------------------------------------------

Q18_SQL = f"""
SELECT CASE WHEN l_quantity < 10 THEN 'low'
            WHEN l_quantity < 30 THEN 'mid'
            ELSE 'high' END AS bucket,
       COUNT(*) AS n,
       ROUND({sql_exact_sum('l_extendedprice', 2)} / COUNT(*), 4) AS avg_price
FROM lineitem
GROUP BY 1
ORDER BY 1
"""


@query("q18_case_buckets", oracle=Q18_SQL)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    return spark.sql(Q18_SQL)


# --------------------------------------------------------------------
# q19 — uncorrelated scalar subquery.
# --------------------------------------------------------------------

Q19_SQL = f"""
SELECT c_mktsegment, COUNT(*) AS n_above_avg
FROM customer
WHERE c_acctbal > (SELECT {sql_exact_sum('c_acctbal', 2)} / COUNT(*) FROM customer)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@query("q19_scalar_subquery", oracle=Q19_SQL)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "customer")
    return spark.sql(Q19_SQL)


# --------------------------------------------------------------------
# q20 — IN subquery.
# --------------------------------------------------------------------

Q20_SQL = """
SELECT o_orderpriority, COUNT(*) AS n
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("q20_in_subquery", oracle=Q20_SQL)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "orders", "customer")
    return spark.sql(Q20_SQL)


# --------------------------------------------------------------------
# q21 — correlated EXISTS.
# --------------------------------------------------------------------

Q21_SQL = """
SELECT COUNT(*) AS n_suppliers
FROM supplier s
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49.5
)
"""


@query("q21_correlated_exists", oracle=Q21_SQL)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "supplier", "lineitem")
    return spark.sql(Q21_SQL)


# --------------------------------------------------------------------
# q22 — CTE + join of aggregates.
# --------------------------------------------------------------------

Q22_SQL = f"""
WITH supplier_revenue AS (
  SELECT l_suppkey,
         {sql_exact_sum('l_extendedprice * (1 - l_discount)', 6)} AS rev
  FROM lineitem GROUP BY l_suppkey
)
SELECT COUNT(*) AS n_supp,
       ROUND(MAX(rev), 2) AS max_rev,
       ROUND(MIN(rev), 2) AS min_rev,
       ROUND({sql_exact_sum('rev', 6)} / COUNT(*), 2) AS avg_rev
FROM supplier_revenue
"""


@query("q22_cte", oracle=Q22_SQL)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    return spark.sql(Q22_SQL)


# --------------------------------------------------------------------
# q23 — pivot (conditional aggregation on the oracle side).
# --------------------------------------------------------------------

Q23_ORACLE = f"""
SELECT l_returnflag,
       ROUND({sql_exact_sum("CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END", 6)}, 2) AS O,
       ROUND({sql_exact_sum("CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END", 6)}, 2) AS F
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("q23_pivot", oracle=Q23_ORACLE)
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    pivoted = (
        spark.table("lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(exact_sum(F.col("l_quantity"), 6), 2))
        .orderBy("l_returnflag")
    )
    return pivoted.select(
        "l_returnflag",
        F.coalesce(F.col("O"), F.lit(0.0)).alias("O"),
        F.coalesce(F.col("F"), F.lit(0.0)).alias("F"),
    )


# --------------------------------------------------------------------
# q24 — lateral view / explode (word frequencies over documents).
# --------------------------------------------------------------------

Q24_ORACLE = """
SELECT word, COUNT(*) AS n FROM (
  SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS word
  FROM documents
) t
GROUP BY word HAVING COUNT(*) >= 50
ORDER BY word
"""


@query("q24_explode_words", oracle=Q24_ORACLE)
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    words = spark.table("documents").select(
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
        ).alias("word")
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 50)
        .orderBy("word")
    )


# --------------------------------------------------------------------
# q25 — JSON scalar functions over events.props.
# --------------------------------------------------------------------

Q25_ORACLE = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k,
       ROUND(CAST(SUM(CAST(props->>'$.k' AS INTEGER)) AS DOUBLE)
             / COUNT(CAST(props->>'$.k' AS INTEGER)), 4) AS avg_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query("q25_json_funcs", oracle=Q25_ORACLE)
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        spark.table("events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k).cast("bigint").alias("sum_k"),
            F.round(F.sum(k).cast("double") / F.count(k), 4).alias("avg_k"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------
# q26 — window lag/lead over event time.
# --------------------------------------------------------------------

Q26_ORACLE = f"""
SELECT user_id,
       COUNT(*) AS n_gaps,
       ROUND({sql_exact_sum('delta', 6)} / COUNT(delta), 4) AS avg_delta
FROM (
  SELECT user_id,
         value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
  FROM events
) t
WHERE delta IS NOT NULL AND user_id <= 20
GROUP BY user_id
ORDER BY user_id
"""


@query("q26_window_lag", oracle=Q26_ORACLE)
def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    deltas = (
        spark.table("events")
        .withColumn("delta", F.col("value") - F.lag("value").over(w))
        .where(F.col("delta").isNotNull() & (F.col("user_id") <= 20))
    )
    return (
        deltas.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(
                exact_sum(F.col("delta"), 6) / F.count("delta"), 4
            ).alias("avg_delta"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------
# q27 — event-time tumbling window (F.window ↔ time_bucket).
# --------------------------------------------------------------------

Q27_ORACLE = f"""
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n,
       ROUND({sql_exact_sum('value', 6)}, 2) AS sum_value
FROM events
GROUP BY 1, 2
HAVING COUNT(*) >= 3
ORDER BY 1, 2
"""


@query("q27_time_window", oracle=Q27_ORACLE)
def q27(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "events")
    return (
        spark.table("events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(exact_sum(F.col("value"), 6), 2).alias("sum_value"),
        )
        .where(F.col("n") >= 3)
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


# --------------------------------------------------------------------
# q28 — as-of join: for each error event, the most recent strictly
# earlier click by the same user. Spark has no ASOF JOIN — composed
# from a union + running last_value window (one shuffle on user_id),
# which is exactly the scale-safe pattern (no range explosion).
# DuckDB oracle uses its native ASOF JOIN.
# --------------------------------------------------------------------

# COALESCE to -1 on both sides: a nullable BIGINT column with NULLs
# becomes float64 in the driver's pandas fetch (numpy int64 has no NA),
# reopening the representation-hash channel the BIGINT casts close
Q28_ORACLE = """
SELECT e.event_id, COALESCE(c.click_us, -1) AS matched_click_us
FROM (SELECT event_id, user_id, epoch_us(ts) AS err_us FROM events WHERE event_type = 'error') e
ASOF LEFT JOIN (SELECT user_id, epoch_us(ts) AS click_us FROM events WHERE event_type = 'click') c
  ON e.user_id = c.user_id AND e.err_us > c.click_us
ORDER BY e.event_id
"""


@query("q28_asof_join", oracle=Q28_ORACLE)
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators.joins import asof_join

    load_views(spark, sf_dir, "events")
    ev = spark.table("events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "us"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "us", F.col("us").alias("click_us")
    )
    out = asof_join(
        errors, clicks, on="us", by="user_id",
        right_value_cols=["click_us"], strict=True,
    )
    return (
        out.select(
            "event_id",
            F.coalesce(F.col("asof_click_us"), F.lit(-1)).alias("matched_click_us"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------
# q29 — range self-join: event pairs of the same user within 10 min.
# Scale-safe plan: instead of joining on user_id alone (k events per
# user -> k^2 candidate pairs before the interval filter), bucket ts
# into 10-minute bins and join on (user_id, bin). Any pair within 10
# minutes spans at most adjacent bins, so the left side explodes into
# its own bin and the next one; the equi-join keys bound per-bucket
# pair work, and the exact interval predicate filters after. Each
# qualifying pair matches exactly once (bin_b is unique per row and
# the two exploded left keys differ). DuckDB oracle states the naive
# formulation of the same semantics.
# --------------------------------------------------------------------

Q29_ORACLE = """
SELECT a.user_id, COUNT(*) AS n_pairs
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id <> b.event_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL 10 MINUTE
GROUP BY a.user_id
HAVING COUNT(*) >= 1
ORDER BY a.user_id
"""

_BIN_US = 600_000_000  # 10 minutes in microseconds


@query("q29_range_join", oracle=Q29_ORACLE)
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "events")
    ev = spark.table("events").select("user_id", "event_id", "ts")
    bin_of = F.expr(f"unix_micros(ts) div {_BIN_US}")
    right = ev.select(
        "user_id",
        F.col("event_id").alias("eid_b"),
        F.col("ts").alias("ts_b"),
        bin_of.alias("bin"),
    )
    left = ev.select(
        "user_id",
        F.col("event_id").alias("eid_a"),
        F.col("ts").alias("ts_a"),
        F.explode(F.array(bin_of, bin_of + 1)).alias("bin"),
    )
    pairs = left.join(right, ["user_id", "bin"]).where(
        (F.col("eid_a") != F.col("eid_b"))
        & (F.col("ts_b") > F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 10 MINUTE"))
    )
    return (
        pairs.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .where(F.col("n_pairs") >= 1)
        .orderBy("user_id")
    )


# --------------------------------------------------------------------
# q30 — statistics (the StatisticsExtract family, exact aggregates).
# --------------------------------------------------------------------

Q30_SQL = f"""
SELECT COUNT(*) AS n,
       ROUND(MIN(l_quantity), 2) AS min_qty,
       ROUND(MAX(l_quantity), 2) AS max_qty,
       ROUND({sql_exact_sum('l_quantity', 2)} / COUNT(*), 4) AS avg_qty,
       ROUND(SQRT(((CAST(SUM({sql_quantize('l_quantity', 2)} * {sql_quantize('l_quantity', 2)}) AS DOUBLE) / 10000)
                   - {sql_exact_sum('l_quantity', 2)}
                     * {sql_exact_sum('l_quantity', 2)} / COUNT(*))
                  / (COUNT(*) - 1)), 4) AS std_qty,
       ROUND(MIN(l_extendedprice), 2) AS min_price,
       ROUND(MAX(l_extendedprice), 2) AS max_price,
       ROUND({sql_exact_sum('l_extendedprice', 2)} / COUNT(*), 4) AS avg_price
FROM lineitem
"""


@query("q30_statistics", oracle=Q30_SQL)
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    return spark.sql(Q30_SQL)


# --------------------------------------------------------------------
# q31 — GROUPING SETS + GROUPING() (explicit multi-level aggregation;
# at scale this is one shuffle with grouping-id expansion, not N scans).
# --------------------------------------------------------------------

Q31_SQL = f"""
SELECT
  CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS flag,
  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS status,
  COUNT(*) AS n,
  ROUND({sql_exact_sum('l_quantity', 2)}, 2) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY flag, status
"""


@query("q31_grouping_sets", oracle=Q31_SQL)
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    return spark.sql(Q31_SQL)


# --------------------------------------------------------------------
# q32 — INTERSECT ALL / EXCEPT ALL (multiplicity-preserving set ops).
# --------------------------------------------------------------------

Q32_SQL = """
SELECT 'both' AS side, n_key, COUNT(*) AS n FROM (
  SELECT c_nationkey AS n_key FROM customer
  INTERSECT ALL
  SELECT s_nationkey AS n_key FROM supplier
) GROUP BY n_key
UNION ALL
SELECT 'cust_only' AS side, n_key, COUNT(*) AS n FROM (
  SELECT c_nationkey AS n_key FROM customer
  EXCEPT ALL
  SELECT s_nationkey AS n_key FROM supplier
) GROUP BY n_key
ORDER BY side, n_key
"""


@query("q32_setops_all", oracle=Q32_SQL)
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "customer", "supplier")
    return spark.sql(Q32_SQL)


# --------------------------------------------------------------------
# q33 — exact interpolated percentiles (Spark `percentile` ==
# DuckDB `quantile_cont`; at 100 TB switch to percentile_approx and
# accept sketch error — exact percentile is a full sort per group).
# --------------------------------------------------------------------

Q33_SPARK = """
SELECT l_returnflag,
       ROUND(percentile(l_extendedprice, 0.5), 4)  AS p50,
       ROUND(percentile(l_extendedprice, 0.9), 4)  AS p90,
       ROUND(percentile(l_extendedprice, 0.99), 4) AS p99
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""

Q33_ORACLE = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4)  AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.9), 4)  AS p90,
       ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query("q33_percentiles", oracle=Q33_ORACLE)
def q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    return spark.sql(Q33_SPARK)


# --------------------------------------------------------------------
# q34 — higher-order array functions (transform/filter/aggregate over
# per-group collected arrays; stays JVM-side, no UDF).
# --------------------------------------------------------------------

Q34_SPARK = """
SELECT l_orderkey,
       ROUND(
         aggregate(
           transform(
             filter(array_sort(collect_list(l_quantity)), x -> x > 10),
             x -> x * 2),
           CAST(0.0 AS DOUBLE), (acc, x) -> acc + x),
         2) AS doubled_big_qty_sum
FROM lineitem
GROUP BY l_orderkey
HAVING SIZE(collect_list(l_quantity)) >= 4
ORDER BY l_orderkey
"""

Q34_ORACLE = """
SELECT l_orderkey,
       ROUND(
         list_aggregate(
           list_transform(
             list_filter(list_sort(list(l_quantity)), x -> x > 10),
             x -> x * 2),
           'sum'),
         2) AS doubled_big_qty_sum
FROM lineitem
GROUP BY l_orderkey
HAVING len(list(l_quantity)) >= 4
ORDER BY l_orderkey
"""


@query("q34_array_hof", oracle=Q34_ORACLE)
def q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    df = spark.sql(Q34_SPARK)
    # DuckDB list_aggregate('sum') of an empty list yields NULL;
    # Spark's aggregate(..., 0.0, +) yields 0.0 — normalize to NULL.
    return df.withColumn(
        "doubled_big_qty_sum",
        F.when(F.col("doubled_big_qty_sum") == 0.0, None).otherwise(
            F.col("doubled_big_qty_sum")
        ),
    )


# --------------------------------------------------------------------
# q35 — regex scalar functions.
# --------------------------------------------------------------------

Q35_SPARK = """
SELECT regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
       COUNT(*) AS n,
       ROUND(CAST(SUM(LENGTH(regexp_replace(p_name, '[aeiou]', ''))) AS DOUBLE) / COUNT(*), 4) AS avg_consonant_len
FROM part
GROUP BY last_word
ORDER BY n DESC, last_word
LIMIT 20
"""

# DuckDB regexp_replace is first-match-only without the 'g' flag;
# Spark always replaces globally.
Q35_ORACLE = Q35_SPARK.replace("'[aeiou]', ''", "'[aeiou]', '', 'g'")


@query("q35_regex_funcs", oracle=Q35_ORACLE)
def q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "part")
    return spark.sql(Q35_SPARK)


# --------------------------------------------------------------------
# q36 — union by name (schema-aligned union of differently-ordered
# projections; Spark unionByName == DuckDB UNION ALL BY NAME).
# --------------------------------------------------------------------

Q36_ORACLE = f"""
SELECT kind, key, ROUND({sql_exact_sum('bal', 6)}, 2) AS total FROM (
  SELECT 'cust' AS kind, c_nationkey AS key, c_acctbal AS bal FROM customer
  UNION ALL BY NAME
  SELECT s_acctbal AS bal, s_nationkey AS key, 'supp' AS kind FROM supplier
) GROUP BY kind, key
ORDER BY kind, key
"""


@query("q36_union_by_name", oracle=Q36_ORACLE)
def q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "customer", "supplier")
    cust = spark.table("customer").select(
        F.lit("cust").alias("kind"),
        F.col("c_nationkey").alias("key"),
        F.col("c_acctbal").alias("bal"),
    )
    supp = spark.table("supplier").select(
        F.col("s_acctbal").alias("bal"),
        F.col("s_nationkey").alias("key"),
        F.lit("supp").alias("kind"),
    )
    return (
        cust.unionByName(supp)
        .groupBy("kind", "key")
        .agg(F.round(exact_sum(F.col("bal"), 6), 2).alias("total"))
        .orderBy("kind", "key")
    )


# --------------------------------------------------------------------
# q37 — posexplode / lateral view with position (generator with
# ordinality; DuckDB zips parallel unnests).
# --------------------------------------------------------------------

Q37_SPARK = """
SELECT event_type, pos, COUNT(*) AS n
FROM (
  SELECT event_type, posexplode(split(event_type, '_')) AS (pos, word)
  FROM events
)
GROUP BY event_type, pos
ORDER BY event_type, pos
"""

Q37_ORACLE = """
SELECT event_type, pos, COUNT(*) AS n
FROM (
  SELECT event_type,
         unnest(range(len(str_split(event_type, '_')))) AS pos,
         unnest(str_split(event_type, '_')) AS word
  FROM events
)
GROUP BY event_type, pos
ORDER BY event_type, pos
"""


@query("q37_posexplode", oracle=Q37_ORACLE)
def q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "events")
    return spark.sql(Q37_SPARK)


# --------------------------------------------------------------------
# q38 — null-handling scalars (coalesce/nullif + conditional defaults).
# --------------------------------------------------------------------

Q38_SQL = f"""
SELECT
  COUNT(*) AS n,
  CAST(SUM(CASE WHEN NULLIF(l_returnflag, 'N') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_n,
  ROUND({sql_exact_sum('COALESCE(NULLIF(l_discount, 0.0), 0.05)', 2)}, 2) AS disc_with_default
FROM lineitem
"""


@query("q38_null_funcs", oracle=Q38_SQL)
def q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    return spark.sql(Q38_SQL)


# --------------------------------------------------------------------
# q39 — FILTER-clause conditional aggregation (one scan, many
# conditional sums — the scale-friendly alternative to self-joins).
# --------------------------------------------------------------------

Q39_SQL = f"""
SELECT l_returnflag,
       COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
       COUNT(*) FILTER (WHERE l_quantity <= 25) AS n_small,
       ROUND((CAST(SUM({sql_quantize('l_extendedprice', 2)}) FILTER (WHERE l_discount > 0.05) AS DOUBLE) / 100), 2) AS disc_rev
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("q39_filter_agg", oracle=Q39_SQL)
def q39(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    return spark.sql(Q39_SQL)


# --------------------------------------------------------------------
# q40 — sorted array_agg per group (order-stable list aggregation).
# --------------------------------------------------------------------

Q40_SPARK = """
SELECT o_orderpriority,
       array_sort(collect_set(o_orderstatus)) AS statuses,
       COUNT(*) AS n
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

Q40_ORACLE = """
SELECT o_orderpriority,
       list_sort(list_distinct(list(o_orderstatus))) AS statuses,
       COUNT(*) AS n
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query("q40_array_agg", oracle=Q40_ORACLE)
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "orders")
    return spark.sql(Q40_SPARK)


# --------------------------------------------------------------------
# q41 — RANGE window frame over a numeric ORDER BY (value-based frames
# vs row-based; Catalyst evaluates with a sliding range bound).
# --------------------------------------------------------------------

Q41_SQL = f"""
SELECT o_orderkey, o_custkey,
       ROUND(CAST(SUM({sql_quantize('o_totalprice', 2)}) OVER (
         PARTITION BY o_custkey ORDER BY o_totalprice
         RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100, 2) AS near_total,
       DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk,
       NTILE(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice) AS quartile
FROM orders
ORDER BY o_custkey, o_orderkey
LIMIT 500
"""


@query("q41_window_range_frame", oracle=Q41_SQL)
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "orders")
    return spark.sql(Q41_SQL)


# --------------------------------------------------------------------
# q42 — salted two-phase aggregation (the skew-mitigation pattern:
# pre-aggregate on (key, salt), then final-aggregate on key — same
# result as a direct GROUP BY, bounded per-task state at 100 TB).
# --------------------------------------------------------------------

Q42_ORACLE = f"""
SELECT l_returnflag, COUNT(*) AS n, ROUND({sql_exact_sum('l_quantity', 2)}, 2) AS sum_qty
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query("q42_salted_agg", oracle=Q42_ORACLE)
def q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    li = spark.table("lineitem")
    salted = li.withColumn("_salt", F.pmod(internal_digest("l_orderkey"), F.lit(16)))
    partial = salted.groupBy("l_returnflag", "_salt").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(quantize(F.col("l_quantity"), 2)).alias("_q"),
    )
    return (
        partial.groupBy("l_returnflag")
        .agg(
            F.sum("_n").alias("n"),
            F.round(F.sum("_q").cast("double") / 100, 2).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------
# q43 — session windows (gap-based sessionization). Spark's
# session_window start == the classic gaps-and-islands session start,
# so DuckDB can oracle-check it without a session primitive.
# --------------------------------------------------------------------

Q43_SPARK = f"""
SELECT user_id,
       session_window.start AS session_start,
       COUNT(*) AS n_events,
       ROUND({sql_exact_sum('value', 6)}, 2) AS session_value
FROM events
GROUP BY user_id, session_window(ts, '30 minutes')
ORDER BY user_id, session_start
"""

Q43_ORACLE = f"""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sessions AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       CAST(MIN(ts) AS TIMESTAMP) AS session_start,
       COUNT(*) AS n_events,
       ROUND({sql_exact_sum('value', 6)}, 2) AS session_value
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


@query("q43_session_window", oracle=Q43_ORACLE)
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "events")
    return spark.sql(Q43_SPARK)


# --------------------------------------------------------------------
# q44 — correlated LATERAL subquery with ORDER BY + LIMIT (per-group
# top-k expressed as a lateral join). Catalyst decorrelates this into
# WindowGroupLimit (partial map-side top-k per group BEFORE the
# shuffle, final after) + a broadcast join with the outer side — the
# plan you'd hand-write at 100 TB; no nested-loop execution.
# Reference surface: SQLTransform carries arbitrary Spark SQL incl.
# lateral subqueries (ArcInterpreter.scala:246-254 dispatch).
# --------------------------------------------------------------------

Q44_SQL = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal
  FROM customer
  WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name
  LIMIT 2
) t
ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
"""


@query("q44_lateral_topk", oracle=Q44_SQL)
def q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "nation", "customer")
    return spark.sql(Q44_SQL)


# --------------------------------------------------------------------
# q45 — unpivot/melt (wide → long). Uses the DataFrame unpivot API
# (Spark 3.4+); the physical op is a generate-style Expand over the
# already-aggregated (tiny) frame, so the wide aggregation still gets
# full partial-agg + single-shuffle treatment.
# --------------------------------------------------------------------

Q45_ORACLE = f"""
WITH a AS (
  SELECT l_returnflag,
         ROUND({sql_exact_sum('l_quantity', 6)}, 2) AS sum_qty,
         ROUND({sql_exact_sum('l_extendedprice', 6)}, 2) AS sum_price,
         ROUND({sql_exact_sum('l_discount', 6)}, 2) AS sum_disc
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM a
UNION ALL
SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM a
UNION ALL
SELECT l_returnflag, 'sum_disc' AS measure, sum_disc AS value FROM a
ORDER BY l_returnflag, measure
"""


@query("q45_unpivot", oracle=Q45_ORACLE)
def q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    agg = spark.table("lineitem").groupBy("l_returnflag").agg(
        F.round(exact_sum(F.col("l_quantity"), 6), 2).alias("sum_qty"),
        F.round(exact_sum(F.col("l_extendedprice"), 6), 2).alias("sum_price"),
        F.round(exact_sum(F.col("l_discount"), 6), 2).alias("sum_disc"),
    )
    return agg.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"], "measure", "value"
    ).orderBy("l_returnflag", "measure")


# --------------------------------------------------------------------
# q46 — map construction + lookup (map_from_entries, cardinality,
# element_at). The map is built per group AFTER aggregation, so the
# heavy path stays a plain two-phase hash aggregate; DuckDB oracle
# states the same result as conditional aggregation.
# --------------------------------------------------------------------

Q46_SPARK = """
WITH counts AS (
  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
  FROM orders GROUP BY 1, 2
),
m AS (
  SELECT o_orderpriority,
         map_from_entries(array_sort(collect_list(struct(o_orderstatus, n)))) AS status_map
  FROM counts GROUP BY o_orderpriority
)
SELECT o_orderpriority,
       CAST(cardinality(status_map) AS BIGINT)   AS n_statuses,
       coalesce(element_at(status_map, 'O'), 0)  AS n_open,
       coalesce(element_at(status_map, 'F'), 0)  AS n_filled,
       coalesce(element_at(status_map, 'P'), 0)  AS n_pending
FROM m ORDER BY o_orderpriority
"""

Q46_ORACLE = """
SELECT o_orderpriority,
       COUNT(DISTINCT o_orderstatus)                  AS n_statuses,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O')    AS n_open,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F')    AS n_filled,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P')    AS n_pending
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query("q46_map_funcs", oracle=Q46_ORACLE)
def q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "orders")
    return spark.sql(Q46_SPARK)


# --------------------------------------------------------------------
# q47 — sketch aggregation (HyperLogLog++ approx_count_distinct, the
# 100 TB path for distinct counts: fixed-size register state, partial
# merge, no distinct shuffle). HLL estimates aren't bit-portable to
# DuckDB's sketch, so the oracle checks the *contract* instead: exact
# counts plus booleans asserting the sketch is sparse-regime exact at
# low cardinality and within 5% at high — HLL is deterministic on
# fixed data, so the hash check is stable.
# --------------------------------------------------------------------

Q47_SPARK = """
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey)  AS exact_supp,
       approx_count_distinct(l_suppkey, 0.02) = COUNT(DISTINCT l_suppkey)
                                  AS supp_sparse_exact,
       COUNT(DISTINCT l_orderkey) AS exact_ord,
       ABS(approx_count_distinct(l_orderkey, 0.02) - COUNT(DISTINCT l_orderkey))
         <= 0.05 * COUNT(DISTINCT l_orderkey)
                                  AS ord_within_5pct
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""

Q47_ORACLE = """
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey)  AS exact_supp,
       TRUE                       AS supp_sparse_exact,
       COUNT(DISTINCT l_orderkey) AS exact_ord,
       TRUE                       AS ord_within_5pct
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query("q47_approx_distinct", oracle=Q47_ORACLE)
def q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    return spark.sql(Q47_SPARK)


# --------------------------------------------------------------------
# q51 — CDC-style latest-record compaction: one max_by aggregation
# keyed on user_id keeps the newest event per key (ties broken by
# event_id so replays are idempotent). The upsert/compaction primitive
# every incremental pipeline runs; partial aggregation collapses
# same-key rows map-side, so the shuffle carries one row per key per
# partition, not the event stream.
# --------------------------------------------------------------------

Q51_ORACLE = """
WITH r AS (
  SELECT user_id, ts, event_type, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_events
  FROM events
)
SELECT user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
       event_type AS last_type,
       event_id AS last_event_id,
       n_events
FROM r
WHERE rn = 1 AND n_events >= 10
ORDER BY user_id
"""


@query("q51_latest_event", oracle=Q51_ORACLE)
def q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "events")
    order_key = F.struct("ts", "event_id")
    return (
        spark.table("events")
        .groupBy("user_id")
        .agg(
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            F.max_by("event_type", order_key).alias("last_type"),
            F.max_by("event_id", order_key).alias("last_event_id"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .where(F.col("n_events") >= 10)
        .orderBy("user_id")
    )


# --------------------------------------------------------------------
# q52 — sketch percentiles at scale: approx_percentile (one pass,
# mergeable KLL-style sketch — the 100 TB path) checked against the
# exact interpolated percentile via a tolerance contract (the q47
# pattern: booleans computed Spark-side, oracle emits literal TRUE;
# exact percentiles ride along as scaled integers).
# --------------------------------------------------------------------

Q52_SPARK = f"""
SELECT l_returnflag,
       {sql_quantize('percentile(l_extendedprice, 0.5)', 2)} AS p50_e2,
       {sql_quantize('percentile(l_extendedprice, 0.95)', 2)} AS p95_e2,
       ABS(approx_percentile(l_extendedprice, 0.5, 10000)
           - percentile(l_extendedprice, 0.5))
         <= 0.02 * percentile(l_extendedprice, 0.5)  AS p50_within_2pct,
       ABS(approx_percentile(l_extendedprice, 0.95, 10000)
           - percentile(l_extendedprice, 0.95))
         <= 0.02 * percentile(l_extendedprice, 0.95) AS p95_within_2pct
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""

Q52_ORACLE = f"""
SELECT l_returnflag,
       {sql_quantize('quantile_cont(l_extendedprice, 0.5)', 2)} AS p50_e2,
       {sql_quantize('quantile_cont(l_extendedprice, 0.95)', 2)} AS p95_e2,
       TRUE AS p50_within_2pct,
       TRUE AS p95_within_2pct
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query("q52_approx_percentile", oracle=Q52_ORACLE)
def q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    return spark.sql(Q52_SPARK)


# --------------------------------------------------------------------
# q53 — sequential funnel (view → click-after-view →
# purchase-after-click): each stage is "first qualifying event after
# the previous stage's timestamp", computed as chained min-aggregations
# with a join back per stage. The per-stage tables shrink monotonically
# (users still in the funnel), so each join's right side is small and
# broadcastable; event rows are scanned once per stage with the stage
# predicate pushed into the scan filter.
# --------------------------------------------------------------------

Q53_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS v_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS c_ts
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.v_ts
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS p_ts
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_view_click,
       (SELECT COUNT(*) FROM p) AS n_full_funnel
"""


@query("q53_funnel", oracle=Q53_ORACLE)
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "events")
    ev = spark.table("events").select("user_id", "event_type", "ts")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.join(F.broadcast(v), "user_id")
        .where((F.col("event_type") == "click") & (F.col("ts") > F.col("v_ts")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.join(F.broadcast(c), "user_id")
        .where(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("c_ts"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    # one lazy plan: three 1-row scalar aggregates cross-joined (no
    # driver-side counts; Spark runs the stages in one job)
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_full_funnel")))
    )


# --------------------------------------------------------------------
# q54 — volume shipping (TPC-H Q7 shape): revenue between two trading
# nations by year and direction. Six-table join; Catalyst reorders it
# so the fact tables meet on l_orderkey (one co-partitioned shuffle
# join) while the four dimension legs broadcast — the canonical
# star-with-a-bridge plan at 100 TB.
# --------------------------------------------------------------------

_Q54_NATIONS = ("NATION_3", "NATION_7")

Q54_ORACLE = f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
       ROUND({sql_exact_sum('l.l_extendedprice * (1 - l.l_discount)', 6)}, 2) AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
WHERE (n1.n_name = '{_Q54_NATIONS[0]}' AND n2.n_name = '{_Q54_NATIONS[1]}')
   OR (n1.n_name = '{_Q54_NATIONS[1]}' AND n2.n_name = '{_Q54_NATIONS[0]}')
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


@query("q54_volume_shipping", oracle=Q54_ORACLE)
def q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    a, b = _Q54_NATIONS
    nations = spark.table("nation").where(F.col("n_name").isin(a, b))
    supp = (
        spark.table("supplier")
        .join(
            F.broadcast(nations.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    cust = (
        spark.table("customer")
        .join(
            F.broadcast(nations.select("n_nationkey", F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "cust_nation")
    )
    orders = spark.table("orders").select("o_orderkey", "o_custkey")
    li = spark.table("lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    joined = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .where(
            ((F.col("supp_nation") == a) & (F.col("cust_nation") == b))
            | ((F.col("supp_nation") == b) & (F.col("cust_nation") == a))
        )
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            F.round(
                exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------
# q55 — skew-resilient salted join: events (fact; hot users in real
# traffic) joined to the customer dim on a content-derived salt so a
# hot key spreads over 8 tasks instead of capping the join at one
# core. Results are exactly the plain join's — which is what the
# oracle checks.
# --------------------------------------------------------------------

Q55_ORACLE = f"""
SELECT c.c_mktsegment AS segment,
       COUNT(*) AS n_events,
       ROUND({sql_exact_sum('e.value', 6)}, 2) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1 ORDER BY 1
"""


@query("q55_salted_join", oracle=Q55_ORACLE)
def q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators.joins import salted_join

    load_views(spark, sf_dir, "events", "customer")
    fact = spark.table("events").select("user_id", "value")
    dim = spark.table("customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(fact, dim, on="user_id", salts=8)
    return (
        joined.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(exact_sum(F.col("value"), 6), 2).alias("sum_value"),
        )
        .orderBy("segment")
    )


# --------------------------------------------------------------------
# q59 — DISTRIBUTE BY / SORT BY (SURVEY §2.B SQLTransform row): the
# write-layout clustering clause. The inner query hash-partitions on
# l_suppkey and sorts within partitions; the outer aggregation then
# REUSES that partitioning — Catalyst plans partial+final hash
# aggregation with no additional exchange (plan-asserted), which is
# exactly why you cluster before grouped writes at 100 TB.
# --------------------------------------------------------------------

Q59_SPARK = f"""
SELECT l_suppkey,
       COUNT(*) AS n_lines,
       SUM({sql_quantize('l_extendedprice', 2)}) AS price_e2
FROM (
  SELECT l_suppkey, l_extendedprice
  FROM lineitem
  DISTRIBUTE BY l_suppkey SORT BY l_suppkey, l_extendedprice
)
GROUP BY l_suppkey
ORDER BY l_suppkey
"""

Q59_ORACLE = f"""
SELECT l_suppkey,
       COUNT(*) AS n_lines,
       CAST(SUM({sql_quantize('l_extendedprice', 2)}) AS BIGINT) AS price_e2
FROM lineitem
GROUP BY l_suppkey
ORDER BY l_suppkey
"""


@query("q59_distribute_by", oracle=Q59_ORACLE)
def q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    return spark.sql(Q59_SPARK)


# --------------------------------------------------------------------
# q61 — retention cohorts: users grouped by first-seen week, activity
# counted per (cohort, weeks-since). Two aggregations over events plus
# a broadcast of the tiny per-user cohort table — the canonical
# product-analytics shape. Week arithmetic is integer (epoch-day div
# 7), so the matrix is engine-exact.
# --------------------------------------------------------------------

Q61_ORACLE = """
WITH firsts AS (
  SELECT user_id,
         CAST(FLOOR(epoch_us(MIN(ts)) / 86400000000) AS BIGINT) // 7 AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT e.user_id,
         f.cohort_week,
         (CAST(FLOOR(epoch_us(e.ts) / 86400000000) AS BIGINT) // 7) - f.cohort_week
           AS weeks_since
  FROM events e JOIN firsts f USING (user_id)
)
SELECT cohort_week, weeks_since,
       COUNT(DISTINCT user_id) AS active_users,
       COUNT(*) AS n_events
FROM activity
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("q61_retention_cohorts", oracle=Q61_ORACLE)
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "events")
    # integer floor-div: both operands non-negative epoch weeks
    ev = spark.table("events").select(
        "user_id",
        F.expr(
            "CAST(FLOOR(unix_micros(ts) / 86400000000) AS BIGINT) div 7"
        ).alias("_week"),
    )
    firsts = ev.groupBy("user_id").agg(F.min("_week").alias("cohort_week"))
    activity = ev.join(F.broadcast(firsts), "user_id").select(
        "user_id",
        "cohort_week",
        (F.col("_week") - F.col("cohort_week")).alias("weeks_since"),
    )
    return (
        activity.groupBy("cohort_week", "weeks_since")
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("cohort_week", "weeks_since")
    )


# --------------------------------------------------------------------
# q63 — null-safe equality (`<=>` / IS NOT DISTINCT FROM): the join
# semantics corner where plain `=` silently drops null keys. Null
# keys are injected deterministically; the query counts pairs under
# both operators so the oracle pins the difference exactly.
# --------------------------------------------------------------------

Q63_ORACLE = """
WITH keyed AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_custkey % 50 END AS k
  FROM orders
),
pairs_safe AS (
  SELECT COUNT(*) AS n FROM keyed a JOIN keyed b
  ON a.k IS NOT DISTINCT FROM b.k AND a.o_orderkey < b.o_orderkey
  WHERE a.o_orderkey % 100 = 0
),
pairs_plain AS (
  SELECT COUNT(*) AS n FROM keyed a JOIN keyed b
  ON a.k = b.k AND a.o_orderkey < b.o_orderkey
  WHERE a.o_orderkey % 100 = 0
)
SELECT (SELECT n FROM pairs_safe) AS n_null_safe,
       (SELECT n FROM pairs_plain) AS n_plain,
       (SELECT n FROM pairs_safe) - (SELECT n FROM pairs_plain) AS n_null_matches
"""


@query("q63_null_safe_join", oracle=Q63_ORACLE)
def q63(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "orders")
    keyed = spark.table("orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, None)
        .otherwise(F.col("o_custkey") % 50)
        .alias("k"),
    )
    a = keyed.where(F.col("o_orderkey") % 100 == 0).alias("a")
    b = keyed.alias("b")
    safe = a.join(
        b,
        F.col("a.k").eqNullSafe(F.col("b.k"))
        & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
    ).agg(F.count(F.lit(1)).alias("n_null_safe"))
    plain = a.join(
        b,
        (F.col("a.k") == F.col("b.k"))
        & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
    ).agg(F.count(F.lit(1)).alias("n_plain"))
    return safe.crossJoin(plain).select(
        "n_null_safe",
        "n_plain",
        (F.col("n_null_safe") - F.col("n_plain")).alias("n_null_matches"),
    )


# --------------------------------------------------------------------
# q70 — recursive CTE (Spark 4.x WITH RECURSIVE): order-chain lengths.
# An edge links an order to the customer's next order when it lands
# within 7 days; chains are walked recursively from their head (an
# order that is no edge's target) and the histogram of maximal chain
# lengths is returned. The recursion advances strictly forward in
# order-date, so it terminates; each iteration is a broadcast-able
# join of the frontier (shrinking) against the edge table.
# --------------------------------------------------------------------

Q70_ORACLE = """
WITH RECURSIVE nxt AS (
  SELECT o_orderkey, o_orderdate,
         LEAD(o_orderkey) OVER w AS next_key,
         LEAD(o_orderdate) OVER w AS next_date
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
edges AS (
  SELECT o_orderkey AS src, next_key AS dst FROM nxt
  WHERE next_key IS NOT NULL AND next_date <= o_orderdate + INTERVAL 7 DAY
),
starts AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderkey NOT IN (SELECT dst FROM edges)
),
chain(start_key, cur_key, len) AS (
  SELECT o_orderkey, o_orderkey, 1 FROM starts
  UNION ALL
  SELECT c.start_key, e.dst, c.len + 1
  FROM chain c JOIN edges e ON c.cur_key = e.src
)
SELECT len AS chain_len, COUNT(*) AS n_chains
FROM (SELECT start_key, MAX(len) AS len FROM chain GROUP BY start_key)
GROUP BY len ORDER BY len
"""


@query("q70_recursive_chains", oracle=Q70_ORACLE)
def q70(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "orders")
    # cteRecursionRowLimit is a runaway-recursion safety valve, not a
    # result limit; the chain walk accumulates O(|orders|) rows total
    # (every order appears in at most one chain suffix), so the 1M
    # default rejects the query above ~sf0.5 even though the
    # recursion terminates. Size it to the data like a deployment
    # would (sticky on the session — it only raises a guard).
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(200_000_000))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = spark.table("orders").select(
        "o_orderkey",
        "o_orderdate",
        F.lead("o_orderkey").over(w).alias("next_key"),
        F.lead("o_orderdate").over(w).alias("next_date"),
    )
    # localCheckpoint the edge/start tables: the recursion re-evaluates
    # its non-recursive relations EVERY iteration, so without the
    # materialization each loop step re-runs the lead() window over
    # the full orders scan (measured: 1.7x slower at sf0.1)
    edges = nxt.where(
        F.col("next_key").isNotNull()
        & (F.col("next_date") <= F.col("o_orderdate") + F.expr("INTERVAL 7 DAY"))
    ).select(
        F.col("o_orderkey").alias("src"), F.col("next_key").alias("dst")
    ).transform(materialize_lazy)
    edges.createOrReplaceTempView("q70_edges")
    starts = spark.table("orders").join(
        edges.select(F.col("dst").alias("o_orderkey")), "o_orderkey", "left_anti"
    ).select("o_orderkey").transform(materialize_lazy)
    starts.createOrReplaceTempView("q70_starts")
    return spark.sql(
        """
        WITH RECURSIVE chain(start_key, cur_key, len) AS (
          SELECT o_orderkey, o_orderkey, 1 FROM q70_starts
          UNION ALL
          SELECT c.start_key, e.dst, c.len + 1
          FROM chain c JOIN q70_edges e ON c.cur_key = e.src
        )
        SELECT len AS chain_len, COUNT(*) AS n_chains
        FROM (SELECT start_key, MAX(len) AS len FROM chain GROUP BY start_key)
        GROUP BY len ORDER BY len
        """
    )


# --------------------------------------------------------------------
# q71 — cumulative DISTINCT users per (event_type, day). Windowed
# COUNT(DISTINCT) does not exist as a Spark window function and a
# collect_set-over-window holds every user id in per-row state; the
# scale-safe decomposition is first-seen day per (event_type, user) +
# a running SUM over the per-day new-user counts — set state never
# materializes. The oracle uses DuckDB's native windowed DISTINCT
# aggregate, so the two formulations check each other.
# --------------------------------------------------------------------

Q71_ORACLE = """
WITH dd AS (
  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id FROM events
),
c AS (
  SELECT event_type, day,
         COUNT(DISTINCT user_id) OVER
           (PARTITION BY event_type ORDER BY day) AS cum_users
  FROM dd
)
SELECT DISTINCT event_type, day, cum_users FROM c ORDER BY event_type, day
"""


@query("q71_window_distinct", oracle=Q71_ORACLE)
def q71(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "events")
    dd = (
        spark.table("events")
        .select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            "user_id",
        )
        .distinct()
    )
    firsts = dd.groupBy("event_type", "user_id").agg(
        F.min("day").alias("first_day")
    )
    new_users = firsts.groupBy(
        "event_type", F.col("first_day").alias("day")
    ).agg(F.count(F.lit(1)).alias("new_users"))
    days = dd.select("event_type", "day").distinct()
    w = Window.partitionBy("event_type").orderBy("day")
    return (
        days.join(new_users, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.sum(F.coalesce(F.col("new_users"), F.lit(0)))
            .over(w)
            .alias("cum_users"),
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------------------------
# q72 — SCD2 (slowly-changing-dimension type 2) interval build: each
# run of equal event_type per user compacts to one validity interval
# [valid_from, valid_to); the latest version stays open (NULL
# valid_to). Two windows over the same (user_id, time) partitioning —
# one shuffle, change-point detection + interval close both ride it.
# --------------------------------------------------------------------

Q72_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
changes AS (
  SELECT user_id, event_type, ts AS valid_from, event_id FROM seq
  WHERE prev_type IS NULL OR prev_type <> event_type
),
v AS (
  SELECT user_id, event_type, valid_from,
         LEAD(valid_from) OVER
           (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to
  FROM changes
)
SELECT user_id, COUNT(*) AS n_versions,
       CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       CAST(SUM(epoch_ms(valid_to) - epoch_ms(valid_from)) AS BIGINT)
         AS total_ms
FROM v GROUP BY user_id ORDER BY user_id LIMIT 25
"""


@query("q72_scd2_intervals", oracle=Q72_ORACLE)
def q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = spark.table("events").select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    changes = seq.where(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    ).select("user_id", "event_type", F.col("ts").alias("valid_from"), "event_id")
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    v = changes.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
    )
    return (
        v.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_versions"),
            F.sum(F.when(F.col("valid_to").isNull(), 1).otherwise(0)).alias("n_open"),
            F.sum(
                F.unix_millis("valid_to") - F.unix_millis("valid_from")
            ).alias("total_ms"),
        )
        .orderBy("user_id")
        .limit(25)
    )


# --------------------------------------------------------------------
# q73 — calendar gap-fill + forward fill: per-user day spine
# (sequence(), generated map-side — no calendar table shuffle), left
# join of per-day last observations, LAST_VALUE IGNORE NULLS to carry
# the previous reading across gaps. The daily compaction is a
# max_by on an encoded (epoch-ms, event_id) BIGINT so the "last"
# pick is partial-aggregable and engine-exact.
# --------------------------------------------------------------------

Q73_ORACLE = """
WITH e AS (
  SELECT user_id, CAST(ts AS DATE) AS day, value,
         epoch_ms(ts) * 1000000 + event_id AS ord
  FROM events WHERE user_id % 100 = 0
),
daily AS (
  SELECT user_id, day, arg_max(value, ord) AS day_value
  FROM e GROUP BY user_id, day
),
span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id),
spine AS (
  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM span
),
j AS (
  SELECT s.user_id, s.day, d.day_value FROM spine s
  LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
)
SELECT user_id, day,
       last_value(day_value IGNORE NULLS) OVER
         (PARTITION BY user_id ORDER BY day) AS filled,
       CASE WHEN day_value IS NULL THEN 1 ELSE 0 END AS was_gap
FROM j ORDER BY user_id, day
"""


@query("q73_gap_fill", oracle=Q73_ORACLE)
def q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "events")
    e = (
        spark.table("events")
        .where(F.col("user_id") % 100 == 0)
        .select(
            "user_id",
            F.col("ts").cast("date").alias("day"),
            "value",
            (F.unix_millis("ts") * 1000000 + F.col("event_id")).alias("ord"),
        )
    )
    daily = e.groupBy("user_id", "day").agg(
        F.expr("max_by(value, ord)").alias("day_value")
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = span.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day"),
    )
    j = spine.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "user_id",
        "day",
        F.last("day_value", ignorenulls=True).over(w).alias("filled"),
        F.when(F.col("day_value").isNull(), 1).otherwise(0).alias("was_gap"),
    ).orderBy("user_id", "day")


# --------------------------------------------------------------------
# q74 — Z-order layout keys: Morton-interleave two 8-bit dimensions
# of orders and show the per-bucket envelope. Every bucket (a
# contiguous Z-curve segment = one written file under
# repartition_zordered) covers a 64x64 tile of the 256x256 key space
# — BOTH dimensions stay narrow, which is what zone-map pruning on
# either column needs. A plain (x, y) sort would leave max_y - min_y
# at 255 for every file.
# --------------------------------------------------------------------


def _q74_oracle() -> str:
    from arc_jupyter_spark.operators.layout import zorder_sql

    z = zorder_sql(["xd", "yd"], bits=8)
    return f"""
WITH d AS (
  SELECT o_orderkey, o_custkey % 256 AS xd, o_orderkey % 256 AS yd FROM orders
),
zz AS (SELECT o_orderkey, xd, yd, {z} AS zval FROM d)
SELECT zval // 4096 AS bucket, COUNT(*) AS n,
       MIN(xd) AS min_x, MAX(xd) AS max_x,
       MIN(yd) AS min_y, MAX(yd) AS max_y
FROM zz GROUP BY 1 ORDER BY 1
"""


@query("q74_zorder_layout", oracle=_q74_oracle())
def q74(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators.layout import zorder_key

    load_views(spark, sf_dir, "orders")
    d = spark.table("orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 256).alias("xd"),
        (F.col("o_orderkey") % 256).alias("yd"),
    )
    zz = d.withColumn("zval", zorder_key([F.col("xd"), F.col("yd")], bits=8))
    return (
        zz.groupBy((F.col("zval") / 4096).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("xd").alias("min_x"),
            F.max("xd").alias("max_x"),
            F.min("yd").alias("min_y"),
            F.max("yd").alias("max_y"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------
# q75 — incremental aggregate maintenance: a nightly delta folds into
# yesterday's aggregate by UNION + re-aggregate of PARTIAL STATES
# (counts and scaled-long sums are algebraic, so merging two
# aggregates is exact and touches only aggregate-sized tables — never
# the base data again). The query proves merged == full recompute per
# group; at 100 TB this is the difference between re-reading the
# corpus and re-reading two KB-scale state tables.
# --------------------------------------------------------------------

Q75_ORACLE = f"""
WITH base AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 0),
delta AS (SELECT * FROM orders WHERE o_orderkey % 10 = 0),
agg AS (
  SELECT o_orderpriority, COUNT(*) AS n,
         SUM({sql_quantize('o_totalprice', 2)}) AS cents
  FROM base GROUP BY o_orderpriority
),
dagg AS (
  SELECT o_orderpriority, COUNT(*) AS n,
         SUM({sql_quantize('o_totalprice', 2)}) AS cents
  FROM delta GROUP BY o_orderpriority
),
merged AS (
  SELECT o_orderpriority, SUM(n) AS n, SUM(cents) AS cents
  FROM (SELECT * FROM agg UNION ALL SELECT * FROM dagg)
  GROUP BY o_orderpriority
),
full_agg AS (
  SELECT o_orderpriority, COUNT(*) AS n,
         SUM({sql_quantize('o_totalprice', 2)}) AS cents
  FROM orders GROUP BY o_orderpriority
)
SELECT m.o_orderpriority, CAST(m.n AS BIGINT) AS n_merged,
       CAST(m.cents AS DOUBLE) / 100 AS total_merged,
       (m.n = f.n AND m.cents = f.cents) AS consistent
FROM merged m JOIN full_agg f USING (o_orderpriority)
ORDER BY m.o_orderpriority
"""


@query("q75_incremental_agg", oracle=Q75_ORACLE)
def q75(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "orders")
    orders = spark.table("orders")
    cents = F.sum(quantize(F.col("o_totalprice"), 2)).alias("cents")

    def agg_of(df):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"), cents
        )

    base = agg_of(orders.where(F.col("o_orderkey") % 10 != 0))
    delta = agg_of(orders.where(F.col("o_orderkey") % 10 == 0))
    merged = (
        base.unionAll(delta)
        .groupBy("o_orderpriority")
        .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
    )
    full = agg_of(orders)
    return (
        merged.alias("m")
        .join(full.alias("f"), "o_orderpriority")
        .select(
            "o_orderpriority",
            F.col("m.n").alias("n_merged"),
            (F.col("m.cents").cast("double") / 100).alias("total_merged"),
            (
                (F.col("m.n") == F.col("f.n"))
                & (F.col("m.cents") == F.col("f.cents"))
            ).alias("consistent"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------
# q76 — parquet AGGREGATE pushdown (DataSource V2): COUNT/MIN/MAX
# answered from parquet footer statistics — zero row groups
# decompressed. At 100 TB this is the difference between a metadata
# read and a full scan for the most common profiling queries. The
# plan is asserted in-query (PushedAggregation on the BatchScan);
# the oracle recomputes the same aggregates by scanning.
# --------------------------------------------------------------------

Q76_ORACLE = """
SELECT COUNT(*) AS n_rows,
       CAST(MIN(l_shipdate) AS TIMESTAMP) AS min_ship,
       CAST(MAX(l_shipdate) AS TIMESTAMP) AS max_ship,
       MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key,
       TRUE AS agg_pushed
FROM lineitem
"""


@query("q76_agg_pushdown", oracle=Q76_ORACLE)
def q76(spark: SparkSession, sf_dir: str) -> DataFrame:
    old_push = spark.conf.get("spark.sql.parquet.aggregatePushdown", "false")
    old_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        agg = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_shipdate").cast("timestamp").alias("min_ship"),
            F.max("l_shipdate").cast("timestamp").alias("max_ship"),
            F.min("l_orderkey").alias("min_key"),
            F.max("l_orderkey").alias("max_key"),
        )
        rows = agg.collect()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        pushed = "PushedAggregation" in plan
        out = [rows[0] + (pushed,)]
        schema = agg.schema.add("agg_pushed", "boolean", False)
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", old_push)
        spark.conf.set("spark.sql.sources.useV1SourceList", old_v1)
    return spark.createDataFrame(out, schema)


# --------------------------------------------------------------------
# q77 — dynamic partition pruning: the fact table is laid out
# partitioned by month (the write a 100 TB pipeline does once); a
# selective dim filter prunes fact PARTITIONS at runtime through the
# broadcast exchange — unread months are never listed, let alone
# scanned. Plan asserted in-query (dynamicpruningexpression inside
# the scan's PartitionFilters); oracle joins the same two inputs.
# --------------------------------------------------------------------

Q77_ORACLE = f"""
WITH fact AS (
  SELECT o_orderkey, o_totalprice, MONTH(o_orderdate) AS mo FROM orders
),
dim AS (
  SELECT * FROM (VALUES (1, 'm1'), (2, 'm2'), (3, 'm3'), (4, 'm4'),
                        (5, 'm5'), (6, 'm6'), (7, 'm7'), (8, 'm8'),
                        (9, 'm9'), (10, 'm10'), (11, 'm11'), (12, 'm12'))
         AS t(mo, name)
  WHERE name IN ('m1', 'm2')
)
SELECT d.name, COUNT(*) AS n,
       CAST(SUM({sql_quantize('f.o_totalprice', 2)}) AS BIGINT) AS cents,
       TRUE AS dpp_used
FROM fact f JOIN dim d USING (mo)
GROUP BY d.name ORDER BY d.name
"""


@query("q77_dynamic_partition_pruning", oracle=Q77_ORACLE)
def q77(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    load_views(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="q77_part_")
    try:
        (
            spark.table("orders")
            .withColumn("mo", F.month("o_orderdate"))
            .write.partitionBy("mo")
            .mode("overwrite")
            .parquet(base)
        )
        fact = spark.read.parquet(base)
        dim = spark.createDataFrame(
            [(m, f"m{m}") for m in range(1, 13)], ["mo", "name"]
        ).where(F.col("name").isin("m1", "m2"))
        agg = (
            fact.join(dim, "mo")
            .groupBy("name")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(quantize(F.col("o_totalprice"), 2)).alias("cents"),
            )
            .orderBy("name")
        )
        rows = agg.collect()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        dpp = "dynamicpruningexpression" in plan
        out = [tuple(r) + (dpp,) for r in rows]
        schema = agg.schema.add("dpp_used", "boolean", False)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(out, schema)


# --------------------------------------------------------------------
# q78 — batch MERGE / SCD1 upsert (operators/joins.py merge_upsert):
# a change set of updates (op U), deletes (D) and inserts (I) applied
# to a base table in one full-outer join. Change set is deterministic
# slices of orders: base = keys % 5 <> 4; updates bump price on
# % 10 = 0, deletes remove % 10 = 5, inserts add the % 5 = 4 keys.
# Output aggregates the merged table per status (scaled-long sums).
# --------------------------------------------------------------------

Q78_SQL = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 5 <> 4
),
changes AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 100.0 AS o_totalprice, 'U' AS op
  FROM orders WHERE o_orderkey % 5 <> 4 AND o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'D' AS op
  FROM orders WHERE o_orderkey % 5 <> 4 AND o_orderkey % 10 = 5
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'I' AS op
  FROM orders WHERE o_orderkey % 5 = 4
),
merged AS (
  SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
         CASE WHEN c.op IS NOT NULL THEN c.o_custkey ELSE b.o_custkey END AS o_custkey,
         CASE WHEN c.op IS NOT NULL THEN c.o_orderstatus ELSE b.o_orderstatus END AS o_orderstatus,
         CASE WHEN c.op IS NOT NULL THEN c.o_totalprice ELSE b.o_totalprice END AS o_totalprice,
         c.op AS op
  FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey
  WHERE c.op IS NULL OR c.op <> 'D'
)
SELECT o_orderstatus,
       COUNT(*) AS n,
       ROUND({sql_exact_sum('o_totalprice', 2)}, 2) AS total_price
FROM merged
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@query("q78_merge_upsert", oracle=Q78_SQL)
def q78(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators.joins import merge_upsert

    load_views(spark, sf_dir, "orders")
    orders = spark.table("orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    base = orders.where(F.col("o_orderkey") % 5 != 4)
    updates = base.where(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(100.0)
    ).withColumn("op", F.lit("U"))
    deletes = base.where(F.col("o_orderkey") % 10 == 5).withColumn("op", F.lit("D"))
    inserts = orders.where(F.col("o_orderkey") % 5 == 4).withColumn("op", F.lit("I"))
    changes = updates.unionByName(deletes).unionByName(inserts)
    merged = merge_upsert(base, changes, key_cols=["o_orderkey"], op_col="op")
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(exact_sum(F.col("o_totalprice"), 2), 2).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------
# q79 — time-interval RANGE window frame: per-user trailing-hour
# running totals (RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT
# ROW over an event-time ORDER BY). Distinct from q41's numeric RANGE
# frame; the sliding-aggregate shape behind rate limiting and rolling
# feature windows. Window sums use scaled longs (exact, order-free;
# RANGE peers are all included so ties cannot flip the frame).
# --------------------------------------------------------------------

Q79_SQL = f"""
SELECT user_id, ts,
       COUNT(*) OVER w AS n_trailing_hour,
       CAST(SUM({sql_quantize('value', 6)}) OVER w AS BIGINT)
         AS tot_e6
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
ORDER BY user_id, ts
"""


@query("q79_interval_range_frame", oracle=Q79_SQL)
def q79(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "events")
    return spark.sql(Q79_SQL)


# --------------------------------------------------------------------
# q88 — UNPIVOT (wide → long reshaping, the inverse of q23's pivot):
# melt the three integer join keys into (key_kind, key_value) rows and
# aggregate per (returnflag, kind). ``stack`` compiles to a map-side
# Generate exactly like explode — rows triple but nothing shuffles
# until the 6-group partial aggregate, so the exchange carries a
# constant-bounded row set at any corpus size. Integer keys keep every
# SUM exact (the oracle CASTs DuckDB's HUGEINT back to BIGINT).
# --------------------------------------------------------------------

Q88_ORACLE = """
SELECT l_returnflag, key_kind,
       COUNT(*) AS n,
       CAST(SUM(key_value) AS BIGINT) AS key_sum
FROM (
  UNPIVOT (SELECT l_returnflag,
                  l_orderkey AS orderkey,
                  l_partkey AS partkey,
                  l_suppkey AS suppkey
           FROM lineitem)
  ON orderkey, partkey, suppkey INTO NAME key_kind VALUE key_value
)
GROUP BY l_returnflag, key_kind
ORDER BY l_returnflag, key_kind
"""


@query("q88_unpivot", oracle=Q88_ORACLE)
def q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    long = spark.table("lineitem").selectExpr(
        "l_returnflag",
        "stack(3, 'orderkey', l_orderkey, 'partkey', l_partkey, "
        "'suppkey', l_suppkey) AS (key_kind, key_value)",
    )
    return (
        long.groupBy("l_returnflag", "key_kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("key_value").cast("bigint").alias("key_sum"),
        )
        .orderBy("l_returnflag", "key_kind")
    )


# --------------------------------------------------------------------
# q89 — SCD2 validity intervals (warehouse slowly-changing-dimension
# build): per user, each event opens a validity interval [ts, next_ts)
# closed by that user's NEXT event (LEAD over (ts, event_id) — the
# event_id tiebreak makes equal-timestamp ordering deterministic in
# both engines); the last interval stays open. Profile per opening
# event_type: interval counts, open count, total closed duration in
# exact integer MICROSECONDS (unix_micros/epoch_us — second-level
# truncation could disagree across engines, microsecond arithmetic
# cannot). One shuffle (the user window); the aggregate is
# partial-agg'd counters.
# --------------------------------------------------------------------

Q89_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type, ts,
         LEAD(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS valid_to
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_open,
       CAST(SUM(CASE WHEN valid_to IS NOT NULL
                     THEN epoch_us(valid_to) - epoch_us(ts)
                     ELSE 0 END) AS BIGINT) AS closed_us
FROM seq
GROUP BY event_type
ORDER BY event_type
"""


@query("q89_scd2_intervals", oracle=Q89_ORACLE)
def q89(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = spark.table("events").withColumn(
        "valid_to", F.lead("ts").over(w)
    )
    closed = F.when(
        F.col("valid_to").isNotNull(),
        F.unix_micros("valid_to") - F.unix_micros("ts"),
    ).otherwise(F.lit(0).cast("bigint"))
    return (
        seq.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(
                F.col("valid_to").isNull().cast("bigint")
            ).alias("n_open"),
            F.sum(closed).alias("closed_us"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------
# q90 — single-pass moment profile: mean, variance, and third central
# moment per return flag from POWER SUMS (n, Σx, Σx², Σx³, Σx⁴) —
# the one-scan alternative to the naive two-pass (mean first, then
# deviations) that a 100 TB table cannot afford. Every sum is a
# map-side-combinable aggregate over exact integers: prices become
# whole dollars, quantized at 10^0 (exact.py), powers and sums run in DECIMAL(38,0) on Spark / HUGEINT
# in DuckDB (Σx⁴ reaches ~1e26 at sf1 — BIGINT wraps silently at
# 9.2e18, which would diverge between engines). Derived central
# moments come out as truncating integer divisions over positive
# operands (floor == trunc, so Spark `div` and DuckDB `//` agree);
# Σx⁴ itself is emitted as an exact digit string because it exceeds
# BIGINT and both engines print decimal integers identically.
# --------------------------------------------------------------------

Q90_ORACLE = f"""
WITH d AS (
  SELECT l_returnflag,
         CAST({sql_quantize('l_extendedprice', 0)} AS HUGEINT) AS x
  FROM lineitem
),
s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(x) AS s1,
         SUM(x * x) AS s2,
         SUM(x * x * x) AS s3,
         SUM(x * x * x * x) AS s4
  FROM d GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       CAST(s1 AS BIGINT) AS sum_usd,
       CAST(s1 // n AS BIGINT) AS mean_usd,
       CAST(s2 // n - (s1 // n) * (s1 // n) AS BIGINT) AS m2_usd2,
       CAST(s3 // n - 3 * (s1 // n) * (s2 // n)
            + 2 * (s1 // n) * (s1 // n) * (s1 // n) AS BIGINT) AS m3_usd3,
       CAST(s4 AS VARCHAR) AS s4_str
FROM s ORDER BY l_returnflag
"""


@query("q90_moment_profile", oracle=Q90_ORACLE)
def q90(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    d = spark.table("lineitem").select(
        "l_returnflag",
        quantize(F.col("l_extendedprice"), 0).cast("decimal(38,0)").alias("x"),
    )
    s = d.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.expr("x * x")).alias("s2"),
        F.sum(F.expr("x * x * x")).alias("s3"),
        F.sum(F.expr("x * x * x * x")).alias("s4"),
    )
    return s.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n_rows"),
        F.col("s1").cast("bigint").alias("sum_usd"),
        F.expr("s1 div n").cast("bigint").alias("mean_usd"),
        F.expr("s2 div n - (s1 div n) * (s1 div n)")
        .cast("bigint").alias("m2_usd2"),
        F.expr("s3 div n - 3 * (s1 div n) * (s2 div n) "
               "+ 2 * (s1 div n) * (s1 div n) * (s1 div n)")
        .cast("bigint").alias("m3_usd3"),
        F.col("s4").cast("string").alias("s4_str"),
    ).orderBy("l_returnflag")
