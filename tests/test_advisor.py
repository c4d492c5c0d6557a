"""Plan advisor: the 100 TB checklist as a library/notebook feature."""

import pytest
from pyspark.sql import functions as F

from arc_jupyter_spark.context import ArcContext
from arc_jupyter_spark.interpreter import Interpreter
from arc_jupyter_spark.plans.advisor import (
    ALLOWED_BNL, ALLOWED_ROW_PYTHON, analyze, analyze_plan, killers, plan_shape,
)


def codes(df):
    return {f.code for f in analyze(df)}


def test_clean_plan_reports_clean(spark):
    df = spark.range(100).groupBy((F.col("id") % 5).alias("k")).count()
    assert codes(df) == {"clean"}


def test_cartesian_flagged_as_error(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a, b = spark.range(10), spark.range(10)
        got = analyze(a.crossJoin(b))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert any(f.code == "cartesian-product" and f.severity == "error" for f in got)


def test_nested_loop_join_flagged_as_warn(spark):
    a, b = spark.range(10), spark.range(10)
    got = analyze(a.crossJoin(b))
    assert any(
        f.code in ("nested-loop-join", "cartesian-product") for f in got
    )


def test_row_python_udf_flagged(spark):
    from pyspark.sql.functions import udf

    slow = udf(lambda x: x + 1, "bigint")
    df = spark.range(10).select(slow("id").alias("y"))
    assert "row-python-udf" in codes(df)


def test_unbounded_collect_flagged(spark):
    df = spark.range(100).groupBy((F.col("id") % 3).alias("k")).agg(
        F.collect_list("id").alias("xs")
    )
    assert "unbounded-collect" in codes(df)


def test_plan_magic_renders_findings(spark):
    ctx = ArcContext(spark)
    interp = Interpreter(ctx=ctx, html=False)
    spark.range(50).createOrReplaceTempView("adv_view")
    res = interp.execute("%plan\nadv_view")
    assert "clean" in res.text and "== Physical Plan ==" not in res.text
    assert isinstance(res.data, list) and res.data[0]["code"] == "clean"


def test_global_window_flagged_partitioned_not(spark):
    from pyspark.sql import Window

    df = spark.range(100).withColumn("k", F.col("id") % 5)
    w_global = Window.orderBy("id")
    flagged = df.withColumn("rn", F.row_number().over(w_global))
    assert "global-window" in codes(flagged)
    w_part = Window.partitionBy("k").orderBy("id")
    ok = df.withColumn("rn", F.row_number().over(w_part))
    assert "global-window" not in codes(ok)


# --- the one plan reader, over synthetic plan strings (no Spark) ------


def scan(table, data="[]", pushed="[]"):
    return (
        f"FileScan parquet [k#1L,v#2] Batched: true, DataFilters: {data}, "
        "Format: Parquet, Location: InMemoryFileIndex(1 paths)"
        f"[file:/data/{table}.parquet], PartitionFilters: [], "
        f"PushedFilters: {pushed}, ReadSchema: struct<k:bigint,v:string>"
    )


PUSHED = scan("a", data="[isnotnull(k#1L)]", pushed="[IsNotNull(k)]")
NOT_PUSHED = scan("a", data="[isnotnull(k#1L)]")
EXCHANGE = "Exchange hashpartitioning(k#1L, 8), ENSURE_REQUIREMENTS, [plan_id=3]"
BNLJ = "BroadcastNestedLoopJoin BuildRight, Cross"


def plan(*lines):
    return "\n".join(f"+- {line}" for line in lines)


def test_repeated_scan_line_counts_once():
    shape = plan_shape(plan(PUSHED, PUSHED, scan("b")))
    assert (shape["scans"], shape["scans_pushed"]) == (2, 1)


def test_broadcast_and_reused_exchanges_are_not_shuffles():
    shape = plan_shape(plan(
        EXCHANGE,
        "ReusedExchange [k#9L], " + EXCHANGE,
        "BroadcastExchange HashedRelationBroadcastMode(List(k#1L)), [plan_id=4]",
        "Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=5]",
    ))
    assert shape["exchanges"] == 2


@pytest.mark.parametrize("node,allowed,killer", [
    (BNLJ, "g01_pagerank", "BroadcastNestedLoopJoin (not allowlisted)"),
    ("BatchEvalPython [get_uri(filename#1)#7]", "q68_get_uri",
     "BatchEvalPython row-Python UDF"),
], ids=["nested-loop", "row-python"])
def test_nested_loop_and_row_python_are_killers_unless_allowlisted(
    node, allowed, killer
):
    shape = plan_shape(plan(node, scan("a")))
    assert allowed in {**ALLOWED_BNL, **ALLOWED_ROW_PYTHON}
    assert killers(allowed, shape, None) == []
    assert killers("q01_pricing_summary", shape, None) == [killer]


def test_pushdown_lost_vs_baseline_is_a_killer():
    base = plan_shape(plan(PUSHED))
    assert killers("q01_pricing_summary", plan_shape(plan(PUSHED)), base) == []
    assert killers("q01_pricing_summary", plan_shape(plan(NOT_PUSHED)), base) == [
        "pushdown lost: 1 pushed scan(s) at sf0.001 → 0 here",
        "1 non-pushed scan(s) appeared (none at sf0.001)",
    ]


def codes_from_shape(shape):
    """The finding codes ``analyze_plan`` must give, worst first."""
    hits = [
        ("cartesian-product", shape["cartesian"]),
        ("nested-loop-join", shape["bnlj"]),
        ("row-python-udf", shape["batch_eval_python"]),
        ("arrow-python", shape["arrow_python"]),
        ("many-shuffles", shape["exchanges"] > 4),
        ("no-pushdown", shape["scans_no_pushdown"]),
        ("global-window", shape["global_window"]),
        ("sort-aggregate", shape["sort_aggregate"]),
        ("unbounded-collect", shape["collect"]),
    ]
    return [code for code, hit in hits if hit] or ["clean"]


@pytest.mark.parametrize("text,expected", [
    (plan(PUSHED), ["clean"]),
    (plan(EXCHANGE, EXCHANGE, PUSHED), ["clean"]),
    (plan("CartesianProduct", BNLJ, "BatchEvalPython [f(k#1L)#7]",
          "MapInPandas f(k#1L)#8", *[EXCHANGE] * 5, NOT_PUSHED,
          "Window [rank(k#1L) windowspecdefinition(k#1L ASC) AS r#3]",
          "Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=6]",
          "SortAggregate(key=[k#1L], functions=[collect_set(v#2, 0, 0)])"),
     ["cartesian-product", "nested-loop-join", "row-python-udf",
      "arrow-python", "many-shuffles", "no-pushdown", "global-window",
      "sort-aggregate", "unbounded-collect"]),
    (plan("ArrowEvalPython [g(k#1L)#9]",
          "Window [row_number() windowspecdefinition(k#1L ASC) AS rn#3]",
          "Sort [k#1L ASC], false, 0",
          EXCHANGE,
          "HashAggregate(keys=[k#1L], functions=[collect_list(v#2, 0, 0)])",
          scan("b")),
     ["arrow-python", "unbounded-collect"]),
], ids=["clean", "two-shuffles", "every-code", "partitioned-window"])
def test_analyze_plan_codes_follow_the_shape(text, expected):
    assert codes_from_shape(plan_shape(text)) == expected
    assert [f.code for f in analyze_plan(text)] == expected
