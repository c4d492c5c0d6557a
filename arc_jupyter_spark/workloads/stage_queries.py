"""Driver-checked queries that route through pipeline STAGES whose
correctness was previously pytest-only (VERDICT r1: TypingTransform,
DiffTransform, MetadataFilterTransform had no CORRECTNESS row). Each
builds deterministic inputs from the fixture tables, runs the real
stage, and aggregates the result into an oracle-checkable frame.

Float outputs use the scaled-long recipe of ``arc_jupyter_spark/exact.py``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from arc_jupyter_spark.context import ArcContext
from arc_jupyter_spark.exact import exact_sum, quantize, sql_exact_sum, sql_quantize
from arc_jupyter_spark.operators import similarity
from arc_jupyter_spark.operators.metadata import MetadataFilterTransform, MetadataTransform
from arc_jupyter_spark.operators.transform import DiffTransform
from arc_jupyter_spark.operators.typing import TypingTransform
from arc_jupyter_spark.workloads.base import load_views, query

# --------------------------------------------------------------------
# q48 — TypingTransform end to end: dirty string columns → typed
# columns + per-field _errors capture (reference TypingTransform
# semantics: a failed parse nulls the value and appends
# {field, message}; nullableValues ('') yield NULL without an error).
# Dirt is injected deterministically by o_orderkey so the DuckDB
# oracle can state the same TRY_CAST outcomes.
# --------------------------------------------------------------------

_Q48_RAW = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 7 = 0 THEN 'not-a-number'
            ELSE CAST(o_totalprice AS STRING) END AS price,
       CASE WHEN o_orderkey % 11 = 0 THEN ''
            ELSE CAST(CAST(o_orderdate AS DATE) AS STRING) END AS odate,
       CASE WHEN o_orderkey % 5 = 0 THEN 'yes'
            WHEN o_orderkey % 5 = 1 THEN 'NO'
            ELSE 'maybe' END AS flag
FROM orders
"""

Q48_ORACLE = f"""
WITH raw AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN 'not-a-number'
              ELSE CAST(o_totalprice AS VARCHAR) END AS price,
         CASE WHEN o_orderkey % 11 = 0 THEN ''
              ELSE CAST(CAST(o_orderdate AS DATE) AS VARCHAR) END AS odate,
         CASE WHEN o_orderkey % 5 = 0 THEN 'yes'
              WHEN o_orderkey % 5 = 1 THEN 'NO'
              ELSE 'maybe' END AS flag
  FROM orders
),
typed AS (
  SELECT TRY_CAST(price AS DOUBLE) AS p,
         CASE WHEN odate = '' THEN NULL ELSE TRY_CAST(odate AS DATE) END AS d,
         CASE WHEN lower(flag) IN ('true','t','yes','y','1') THEN TRUE
              WHEN lower(flag) IN ('false','f','no','n','0') THEN FALSE
              ELSE NULL END AS fl
  FROM raw
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN p IS NULL OR fl IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_error_rows,
       CAST(SUM(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_price_errors,
       CAST(SUM(CASE WHEN fl IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_errors,
       ROUND({sql_exact_sum('p', 2)}, 2) AS sum_price,
       CAST(SUM(CASE WHEN d IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_dates,
       CAST(SUM(CASE WHEN fl THEN 1 ELSE 0 END) AS BIGINT) AS n_true_flags
FROM typed
"""


@query("q48_typing_transform", oracle=Q48_ORACLE)
def q48(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "orders")
    ctx = ArcContext(spark)
    spark.sql(_Q48_RAW).createOrReplaceTempView("q48_raw")
    TypingTransform(
        name="q48",
        input_view="q48_raw",
        output_view="q48_typed",
        schema=[
            {"name": "o_orderkey", "type": "long"},
            {"name": "price", "type": "double"},
            {"name": "odate", "type": "date"},
            {"name": "flag", "type": "boolean"},
        ],
    ).execute(ctx)
    typed = spark.table("q48_typed")
    has_err = lambda fld: F.exists("_errors", lambda e: e["field"] == fld)  # noqa: E731
    return typed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.size("_errors") > 0, 1).otherwise(0)).alias("n_error_rows"),
        F.sum(F.when(has_err("price"), 1).otherwise(0)).alias("n_price_errors"),
        F.sum(F.when(has_err("flag"), 1).otherwise(0)).alias("n_flag_errors"),
        F.round(exact_sum(F.col("price"), 2), 2).alias("sum_price"),
        F.sum(F.when(F.col("odate").isNull(), 1).otherwise(0)).alias("n_null_dates"),
        F.sum(F.when(F.col("flag"), 1).otherwise(0)).alias("n_true_flags"),
    )


# --------------------------------------------------------------------
# q49 — DiffTransform end to end: multiset diff (intersectAll /
# exceptAll) of two overlapping customer projections, counted per
# segment. DuckDB INTERSECT ALL / EXCEPT ALL state the same multiset
# semantics.
# --------------------------------------------------------------------

Q49_ORACLE = """
WITH l AS (SELECT c_mktsegment, c_nationkey FROM customer WHERE c_acctbal > 5000),
     r AS (SELECT c_mktsegment, c_nationkey FROM customer WHERE c_acctbal BETWEEN 2500 AND 7500)
SELECT side, c_mktsegment, n FROM (
  SELECT 'both' AS side, c_mktsegment, COUNT(*) AS n
  FROM (SELECT * FROM l INTERSECT ALL SELECT * FROM r) GROUP BY c_mktsegment
  UNION ALL
  SELECT 'left_only' AS side, c_mktsegment, COUNT(*) AS n
  FROM (SELECT * FROM l EXCEPT ALL SELECT * FROM r) GROUP BY c_mktsegment
  UNION ALL
  SELECT 'right_only' AS side, c_mktsegment, COUNT(*) AS n
  FROM (SELECT * FROM r EXCEPT ALL SELECT * FROM l) GROUP BY c_mktsegment
)
ORDER BY side, c_mktsegment
"""


@query("q49_diff_transform", oracle=Q49_ORACLE)
def q49(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "customer")
    ctx = ArcContext(spark)
    cust = spark.table("customer")
    ctx.register(
        cust.where(F.col("c_acctbal") > 5000).select("c_mktsegment", "c_nationkey"),
        "q49_left",
    )
    ctx.register(
        cust.where(F.col("c_acctbal").between(2500, 7500)).select(
            "c_mktsegment", "c_nationkey"
        ),
        "q49_right",
    )
    DiffTransform(
        name="q49",
        input_left_view="q49_left",
        input_right_view="q49_right",
        output_intersection_view="q49_both",
        output_left_view="q49_left_only",
        output_right_view="q49_right_only",
    ).execute(ctx)
    parts = []
    for side, view in (
        ("both", "q49_both"),
        ("left_only", "q49_left_only"),
        ("right_only", "q49_right_only"),
    ):
        parts.append(
            spark.table(view)
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(side).alias("side"), "c_mktsegment", "n")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("side", "c_mktsegment")


# --------------------------------------------------------------------
# q50 — MetadataTransform + MetadataFilterTransform end to end: attach
# metadata to lineitem columns, prune by a SQL predicate over the
# metadata-as-table, aggregate the surviving projection. The surviving
# column list is emitted as a value so the oracle pins the pruning
# decision itself, and column pruning reaches the scan (the plan only
# reads the surviving columns).
# --------------------------------------------------------------------

Q50_ORACLE = f"""
SELECT 'l_orderkey,l_quantity,l_returnflag' AS kept_columns,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT l_returnflag) AS n_flags,
       ROUND({sql_exact_sum('l_quantity', 2)}, 2) AS sum_qty
FROM lineitem
"""


@query("q50_metadata_filter", oracle=Q50_ORACLE)
def q50(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    ctx = ArcContext(spark)
    ctx.register(
        spark.table("lineitem").select(
            "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_returnflag"
        ),
        "q50_in",
    )
    MetadataTransform(
        name="q50meta",
        input_view="q50_in",
        output_view="q50_tagged",
        schema={
            "l_partkey": {"pii": True},
            "l_extendedprice": {"pii": True},
            "l_orderkey": {"pii": False},
            "l_quantity": {"pii": False},
            "l_returnflag": {"pii": False},
        },
    ).execute(ctx)
    MetadataFilterTransform(
        name="q50filter",
        input_view="q50_tagged",
        output_view="q50_pruned",
        sql="SELECT name FROM metadata WHERE pii IS NOT TRUE",
    ).execute(ctx)
    pruned = spark.table("q50_pruned")
    return pruned.agg(
        F.lit(",".join(sorted(pruned.columns))).alias("kept_columns"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_returnflag").alias("n_flags"),
        F.round(exact_sum(F.col("l_quantity"), 2), 2).alias("sum_qty"),
    )


# --------------------------------------------------------------------
# s03 — batch ANN: top-k per query vector for a broadcastable query
# set (cosine_topk_batch: broadcast queries, map-side scoring, one
# shuffle on query_id for the per-query window top-k). DuckDB oracle
# is the equivalent cross join + window.
# --------------------------------------------------------------------

S03_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, e.vec_id, list_cosine_similarity(e.v, q.qv) AS c
  FROM e, q
),
ranked AS (
  SELECT query_id, vec_id, c,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rn
  FROM scored
)
SELECT query_id, vec_id,
       {sql_quantize('c', 6)} AS cosine_e6
FROM ranked WHERE rn <= 5
ORDER BY query_id, vec_id
"""


@query("s03_batch_topk", oracle=S03_ORACLE)
def s03(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    qset = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    top = similarity.cosine_topk_batch(
        emb, qset, k=5,
        id_col="vec_id", vec_col="embedding",
        query_id_col="query_id", query_vec_col="embedding",
    )
    # quantized at e6 (exact.py), not ROUND
    return top.select(
        "query_id",
        "vec_id",
        quantize(F.col("cosine"), 6).alias("cosine_e6"),
    ).orderBy("query_id", "vec_id")


# --------------------------------------------------------------------
# q56 — the kernel surface end to end, driver-checked: a verbatim
# Arc-style HOCON cell (ParquetExtract -> SQLTransform -> SQLValidate,
# unquoted keys, comments, triple-quoted SQL) through
# Interpreter.execute; the query returns the pipeline's output view.
# Reference cell language: ArcInterpreter.scala:404 (ConfigFactory
# parse), stage dispatch 423-457.
# --------------------------------------------------------------------

Q56_ORACLE = f"""
SELECT l_returnflag,
       COUNT(*) AS n,
       CAST(SUM({sql_quantize('l_extendedprice * (1 - l_discount)', 2)})
            AS BIGINT) AS revenue_e2
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("q56_arc_pipeline", oracle=Q56_ORACLE)
def q56(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.interpreter import Interpreter

    interp = Interpreter(spark=spark)
    cell = f"""%arc
{{
  type = ParquetExtract
  name = extract lineitem          // reference-style bare HOCON
  inputURI = "{sf_dir}/lineitem.parquet"
  outputView = q56_lineitem
}}
{{
  type = SQLTransform
  name = revenue by returnflag
  sql = \"\"\"
    SELECT l_returnflag,
           COUNT(*) AS n,
           SUM({sql_quantize('l_extendedprice * (1 - l_discount)', 2)}) AS revenue_e2
    FROM q56_lineitem
    GROUP BY l_returnflag
  \"\"\"
  outputView = q56_out
}}
{{
  type = SQLValidate
  name = output nonempty
  sql = \"\"\"
    SELECT COUNT(*) > 0 AS valid, TO_JSON(MAP('rows', COUNT(*))) AS message
    FROM q56_out
  \"\"\"
}}
"""
    interp.execute(cell)
    return spark.table("q56_out").orderBy("l_returnflag")


# --------------------------------------------------------------------
# q57 — bucketed co-located join, driver-checked: both fact tables are
# written bucketed on the join key (the ParquetLoad bucketBy path),
# re-read, and joined WITHOUT any exchange feeding the join — the
# pre-shuffle layout a 100 TB pipeline pays for once and reuses every
# run. Broadcast is disabled during the join so the co-located
# sort-merge path is what actually executes; results are identical
# either way, which is what the oracle checks.
# --------------------------------------------------------------------

Q57_ORACLE = f"""
SELECT o.o_orderpriority,
       COUNT(*) AS n_lines,
       CAST(SUM({sql_quantize('l.l_extendedprice * (1 - l.l_discount)', 2)})
            AS BIGINT) AS revenue_e2
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1 ORDER BY 1
"""


@query("q57_bucketed_join", oracle=Q57_ORACLE)
def q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    load_views(spark, sf_dir, "lineitem", "orders")
    base = tempfile.mkdtemp(prefix="q57_buckets_")
    for view, table, key in (
        ("lineitem", "q57_li", "l_orderkey"),
        ("orders", "q57_ord", "o_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        (
            spark.table(view)
            .write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", f"{base}/{table}")
            .saveAsTable(table)
        )
    li, ord_ = spark.table("q57_li"), spark.table("q57_ord")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = li.join(ord_, li.l_orderkey == ord_.o_orderkey)
        out = (
            joined.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum(
                    quantize(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
                ).alias("revenue_e2"),
            )
            .orderBy("o_orderpriority")
        )
        # materialize under the no-broadcast setting so the co-located
        # SMJ is the executed plan; tiny result, driver-safe
        rows = out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning(l_orderkey" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    return spark.createDataFrame(rows, out.schema)


# --------------------------------------------------------------------
# q58 — the Arc UDF surface driver-checked: get_json_*_array over
# JSON built from orders rows (SQL scalar functions — JVM-side
# from_json(get_json_object(...)), no Python in the plan; the arc
# UDF contract per SURVEY §2.C). struct_keys and to_xml are exercised
# structurally via counts. Oracle uses DuckDB's JSON extension on the
# identical reconstructed document.
# --------------------------------------------------------------------

Q58_ORACLE = """
WITH j AS (
  SELECT o_orderkey,
         '{"ints": [' || (o_orderkey % 10) || ', ' || (o_orderkey % 7) || '],' ||
         ' "price": [' || CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR) || ']}' AS js
  FROM orders
),
x AS (
  SELECT o_orderkey,
         CAST(js -> '$.ints[0]' AS BIGINT) AS i0,
         CAST(js -> '$.ints[1]' AS BIGINT) AS i1,
         CAST(js -> '$.price[0]' AS BIGINT) AS p0
  FROM j
)
SELECT CAST(SUM(i0) AS BIGINT) AS sum_i0, CAST(SUM(i1) AS BIGINT) AS sum_i1,
       CAST(SUM(p0) AS BIGINT) AS sum_price_floor, COUNT(*) AS n
FROM x
"""


@query("q58_arc_udfs", oracle=Q58_ORACLE)
def q58(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.functions.udfs import register_udfs

    load_views(spark, sf_dir, "orders")
    register_udfs(spark)
    spark.sql(
        """
        SELECT o_orderkey,
               CONCAT('{"ints": [', o_orderkey % 10, ', ', o_orderkey % 7,
                      '], "price": [', CAST(FLOOR(o_totalprice) AS BIGINT), ']}')
                 AS js
        FROM orders
        """
    ).createOrReplaceTempView("q58_json")
    return spark.sql(
        """
        SELECT SUM(ga[0]) AS sum_i0,
               SUM(ga[1]) AS sum_i1,
               SUM(pa[0]) AS sum_price_floor,
               COUNT(*) AS n
        FROM (
          SELECT get_json_long_array(js, '$.ints') AS ga,
                 get_json_long_array(js, '$.price') AS pa
          FROM q58_json
        )
        """
    )


# --------------------------------------------------------------------
# q60 — DelimitedExtract driver-checked: orders lands as CSV (integer
# and string columns only — CSV text round-trips them exactly), the
# extract stage reads it back with an EXPLICIT schema (the at-scale
# contract: inference scans twice), and the aggregate must equal the
# parquet source's.
# --------------------------------------------------------------------

Q60_ORACLE = """
SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("q60_delimited_extract", oracle=Q60_ORACLE)
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from arc_jupyter_spark.plans.pipeline import parse_pipeline, run_pipeline

    load_views(spark, sf_dir, "orders")
    csv_dir = tempfile.mkdtemp(prefix="q60_csv_")
    (
        spark.table("orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .write.mode("overwrite")
        .option("header", "true")
        .csv(csv_dir)
    )
    ctx = ArcContext(spark)
    run_pipeline(
        parse_pipeline(
            [
                {
                    "type": "DelimitedExtract",
                    "name": "q60 extract",
                    "inputURI": csv_dir,
                    "outputView": "q60_csv",
                    "header": True,
                    "schema": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING",
                }
            ]
        ),
        ctx,
    )
    return (
        spark.table("q60_csv")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
            F.sum("o_custkey").alias("cust_sum"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------
# q62 — heterogeneous-format union: the same logical table lands in
# parquet, CSV, and JSON (historical pipelines accumulate formats);
# three extract stages read them back with explicit schemas and the
# union must aggregate identically to the single-source query.
# unionByName tolerates column-order drift between the formats.
# --------------------------------------------------------------------

Q62_ORACLE = """
SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("q62_multi_format_union", oracle=Q62_ORACLE)
def q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from arc_jupyter_spark.plans.pipeline import parse_pipeline, run_pipeline

    load_views(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="q62_formats_")
    slim = spark.table("orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    third = F.col("o_orderkey") % 3
    slim.where(third == 0).write.mode("overwrite").parquet(f"{base}/p")
    slim.where(third == 1).select(  # column-order drift on purpose
        "o_orderstatus", "o_orderkey", "o_custkey"
    ).write.mode("overwrite").option("header", "true").csv(f"{base}/c")
    slim.where(third == 2).write.mode("overwrite").json(f"{base}/j")
    ctx = ArcContext(spark)
    ddl = "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING"
    csv_ddl = "o_orderstatus STRING, o_orderkey BIGINT, o_custkey BIGINT"
    run_pipeline(
        parse_pipeline(
            [
                {"type": "ParquetExtract", "name": "q62p",
                 "inputURI": f"{base}/p", "outputView": "q62_p"},
                {"type": "DelimitedExtract", "name": "q62c",
                 "inputURI": f"{base}/c", "outputView": "q62_c",
                 "header": True, "schema": csv_ddl},
                {"type": "JSONExtract", "name": "q62j",
                 "inputURI": f"{base}/j", "outputView": "q62_j",
                 "schema": ddl},
            ]
        ),
        ctx,
    )
    unioned = (
        spark.table("q62_p")
        .unionByName(spark.table("q62_c"))
        .unionByName(spark.table("q62_j"))
    )
    return (
        unioned.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------
# q64 — PipelineExecute + EqualityValidate driver-checked: a
# sub-pipeline JSON (written to a temp URI, exactly how the reference
# includes child pipelines) extracts nation and registers a view; the
# outer pipeline includes it, rebuilds the same projection
# independently, EqualityValidate asserts multiset equality, and the
# query returns the validated aggregate.
# --------------------------------------------------------------------

Q64_ORACLE = """
SELECT n_regionkey, COUNT(*) AS n_nations, CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
"""


@query("q64_pipeline_execute", oracle=Q64_ORACLE)
def q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import tempfile

    from arc_jupyter_spark.plans.pipeline import parse_pipeline, run_pipeline

    load_views(spark, sf_dir, "nation")
    sub = [
        {
            "type": "ParquetExtract",
            "name": "q64 sub extract",
            "inputURI": f"{sf_dir}/nation.parquet",
            "outputView": "q64_sub_nation",
        },
        {
            "type": "SQLTransform",
            "name": "q64 sub project",
            "sql": "SELECT n_nationkey, n_regionkey FROM q64_sub_nation",
            "outputView": "q64_included",
        },
    ]
    with tempfile.NamedTemporaryFile(
        "w", suffix=".json", delete=False
    ) as fh:
        json.dump(sub, fh)
        sub_uri = fh.name
    ctx = ArcContext(spark)
    run_pipeline(
        parse_pipeline(
            [
                {"type": "PipelineExecute", "name": "q64 include",
                 "uri": sub_uri},
                {"type": "SQLTransform", "name": "q64 rebuild",
                 "sql": "SELECT n_nationkey, n_regionkey FROM nation",
                 "outputView": "q64_rebuilt"},
                {"type": "EqualityValidate", "name": "q64 equal",
                 "leftView": "q64_included", "rightView": "q64_rebuilt"},
            ]
        ),
        ctx,
    )
    return (
        spark.table("q64_included")
        .groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum("n_nationkey").alias("key_sum"),
        )
        .orderBy("n_regionkey")
    )


# --------------------------------------------------------------------
# q65 — HTTPTransform driver-checked with an injected transport (no
# network in the gate): the Arrow-batched external-scoring path runs
# for real — mapInPandas, one call per pandas batch — while the
# injected endpoint computes a deterministic arithmetic response the
# oracle restates in SQL.
# --------------------------------------------------------------------

Q65_ORACLE = """
SELECT COUNT(*) AS n,
       CAST(SUM(CAST(2 * n_nationkey + 1 AS BIGINT)) AS BIGINT) AS resp_sum
FROM nation
"""


@query("q65_http_transform", oracle=Q65_ORACLE)
def q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators.transform import HTTPTransform

    load_views(spark, sf_dir, "nation")
    ctx = ArcContext(spark)
    ctx.register(
        spark.table("nation").select(
            F.col("n_nationkey").cast("string").alias("value")
        ),
        "q65_in",
    )

    def fake_endpoint(payloads):
        # deterministic stand-in for the scoring service: y = 2x + 1
        return [str(2 * int(p) + 1) for p in payloads]

    HTTPTransform(
        name="q65",
        input_view="q65_in",
        output_view="q65_out",
        uri="http://scoring.invalid/v1",
        input_field="value",
        batch_size=64,
        post_fn=fake_endpoint,
    ).execute(ctx)
    return spark.table("q65_out").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("response").cast("bigint")).alias("resp_sum"),
    )


# --------------------------------------------------------------------
# q66 — JDBC round trip driver-checked (embedded Derby, no external
# DB): DDL + DML through JDBCExecute, read back through JDBCExtract
# with predicate partitioning left to defaults, aggregate
# hash-checked against the same rows stated in SQL.
# --------------------------------------------------------------------

Q66_ORACLE = """
WITH src AS (
  SELECT n_nationkey, n_regionkey FROM nation WHERE n_nationkey < 10
)
SELECT n_regionkey, COUNT(*) AS n, CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
FROM src GROUP BY n_regionkey ORDER BY n_regionkey
"""


@query("q66_jdbc_roundtrip", oracle=Q66_ORACLE)
def q66(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from arc_jupyter_spark.plans.pipeline import parse_pipeline, run_pipeline

    load_views(spark, sf_dir, "nation")
    ctx = ArcContext(spark)
    rows = (
        spark.table("nation")
        .where(F.col("n_nationkey") < 10)
        .select("n_nationkey", "n_regionkey")
        .collect()
    )  # 10 rows — the INSERT payload, stated verbatim in DML
    values = ", ".join(f"({r[0]}, {r[1]})" for r in rows)
    dbdir = tempfile.mkdtemp(prefix="q66_derby_")
    url = f"jdbc:derby:{dbdir}/db;create=true"
    run_pipeline(
        parse_pipeline(
            [
                {"type": "JDBCExecute", "name": "q66 ddl", "jdbcUrl": url,
                 "sql": "CREATE TABLE nk (n_nationkey INT, n_regionkey INT)"},
                {"type": "JDBCExecute", "name": "q66 dml", "jdbcUrl": url,
                 "sql": f"INSERT INTO nk VALUES {values}"},
                {"type": "JDBCExtract", "name": "q66 read", "jdbcUrl": url,
                 "tableName": "nk", "outputView": "q66_jdbc"},
            ]
        ),
        ctx,
    )
    return (
        spark.table("q66_jdbc")
        .groupBy(F.col("N_REGIONKEY").cast("bigint").alias("n_regionkey"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("N_NATIONKEY").cast("bigint")).alias("key_sum"),
        )
        .orderBy("n_regionkey")
    )


# --------------------------------------------------------------------
# q67 — SimilarityJoinTransform driver-checked: the MinHashLSH fuzzy
# join (tokenize → n-gram → HashingTF → approxSimilarityJoin, fixed
# seed) runs left=customer-names vs right=identical copy. Identical
# strings hash to identical signatures, so every row MUST match
# itself in every band — a guaranteed-recall contract the oracle
# states as a count plus TRUE.
# --------------------------------------------------------------------

Q67_ORACLE = """
SELECT (SELECT COUNT(*) FROM customer WHERE c_custkey < 200) AS n_left,
       TRUE AS all_self_matched
"""


@query("q67_similarity_join", oracle=Q67_ORACLE)
def q67(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators.transform import SimilarityJoinTransform

    load_views(spark, sf_dir, "customer")
    ctx = ArcContext(spark)
    base = (
        spark.table("customer")
        .where(F.col("c_custkey") < 200)
        .select("c_custkey", "c_name")
    )
    ctx.register(base, "q67_left")
    ctx.register(
        base.select(
            F.col("c_custkey").alias("r_custkey"),
            F.col("c_name").alias("r_name"),
        ),
        "q67_right",
    )
    SimilarityJoinTransform(
        name="q67",
        left_view="q67_left",
        right_view="q67_right",
        left_fields=("c_name",),
        right_fields=("r_name",),
        output_view="q67_pairs",
        threshold=0.5,
        seed=42,
    ).execute(ctx)
    pairs = spark.table("q67_pairs")
    self_matches = pairs.where(
        F.col("c_custkey") == F.col("r_custkey")
    ).select("c_custkey").distinct()
    return base.agg(F.count(F.lit(1)).alias("n_left")).crossJoin(
        self_matches.agg(
            (F.count(F.lit(1)) == base.count()).alias("all_self_matched")
        )
    )


# --------------------------------------------------------------------
# q68 — the get_uri I/O UDF surface driver-checked: fixture files are
# fetched through the registered get_uri UDF (the one place where
# imperative I/O legitimately rides a Python UDF) and their exact
# byte counts compared against DuckDB's read_blob. get_uri_filename
# _array's glob listing is folded in as a per-row count.
# --------------------------------------------------------------------


def _q68_oracle() -> str:
    files = "', '".join(
        f"/root/testdata/sf0.01/{t}.parquet" for t in ("nation", "region", "supplier")
    )
    return f"""
SELECT filename, octet_length(content) AS n_bytes
FROM read_blob(['{files}'])
ORDER BY filename
"""


@query("q68_get_uri", oracle=_q68_oracle())
def q68(spark: SparkSession, sf_dir: str) -> DataFrame:
    # oracle strings are static, so both sides pin the same sf0.01
    # files regardless of sf_dir — the comparison stays consistent at
    # any gate scale
    from arc_jupyter_spark.functions.udfs import register_udfs

    register_udfs(spark)
    uris = spark.createDataFrame(
        [(f"/root/testdata/sf0.01/{t}.parquet",) for t in ("nation", "region", "supplier")],
        "filename string",
    )
    uris.createOrReplaceTempView("q68_uris")
    return spark.sql(
        """
        SELECT filename, CAST(length(get_uri(filename)) AS BIGINT) AS n_bytes
        FROM q68_uris ORDER BY filename
        """
    )


# --------------------------------------------------------------------
# q69 — MLTransform driver-checked with a deterministic saved model:
# a PipelineModel of one SQLTransformer (pure arithmetic scoring) is
# saved to a URI and loaded/scored by the stage exactly as a trained
# model would be — the load-and-score path is the stage's surface;
# the arithmetic keeps the gate engine-exact.
# --------------------------------------------------------------------

Q69_ORACLE = """
SELECT n_regionkey,
       CAST(SUM(CAST(2 * n_nationkey + 7 AS BIGINT)) AS BIGINT) AS score_sum,
       COUNT(*) AS n
FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
"""


@query("q69_ml_transform", oracle=Q69_ORACLE)
def q69(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.ml import Pipeline
    from pyspark.ml.feature import SQLTransformer

    from arc_jupyter_spark.operators.transform import MLTransform

    load_views(spark, sf_dir, "nation")
    scorer = SQLTransformer(
        statement="SELECT *, 2 * n_nationkey + 7 AS score FROM __THIS__"
    )
    model = Pipeline(stages=[scorer]).fit(spark.table("nation").limit(1))
    model_uri = tempfile.mkdtemp(prefix="q69_model_") + "/m"
    model.write().overwrite().save(model_uri)
    ctx = ArcContext(spark)
    ctx.register(spark.table("nation"), "q69_in")
    MLTransform(
        name="q69",
        input_view="q69_in",
        output_view="q69_scored",
        model_uri=model_uri,
    ).execute(ctx)
    return (
        spark.table("q69_scored")
        .groupBy("n_regionkey")
        .agg(
            F.sum(F.col("score").cast("bigint")).alias("score_sum"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("n_regionkey")
    )
