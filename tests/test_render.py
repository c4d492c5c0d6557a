"""Render rules (reference: Common.scala:240-334; SURVEY.md §1.3)."""

import datetime
from decimal import Decimal

from pyspark.sql import functions as F

from arc_jupyter_spark.render import (
    dedupe_columns,
    flatten_schema,
    render_html,
    take_formatted,
)


def one_row(spark, sql):
    return spark.sql(sql)


def cell(spark, sql):
    _, body = take_formatted(one_row(spark, sql))
    return body[0][0]


def test_double_format_strips_trailing_zeros(spark):
    assert cell(spark, "SELECT CAST(1234.5 AS DOUBLE) AS v") == "1234.5"
    assert cell(spark, "SELECT CAST(2.0 AS DOUBLE) AS v") == "2"
    # no scientific notation
    assert cell(spark, "SELECT CAST(0.0000001 AS DOUBLE) AS v") == "0.0000001"


def test_decimal_format_uses_scale(spark):
    assert cell(spark, "SELECT CAST(1234.5 AS DECIMAL(10,2)) AS v") == "1234.50"


def test_binary_hex_format(spark):
    assert cell(spark, "SELECT CAST('AB' AS BINARY) AS v") == "[41 42]"


def test_timestamp_z_suffix(spark):
    got = cell(spark, "SELECT TIMESTAMP '2020-01-02 03:04:05' AS v")
    assert got == "2020-01-02 03:04:05Z"


def test_date_format(spark):
    assert cell(spark, "SELECT DATE '2020-01-02' AS v") == "2020-01-02"


def test_null_renders_as_text(spark):
    assert cell(spark, "SELECT CAST(NULL AS INT) AS v") == "null"


def test_array_renders_with_brackets(spark):
    got = cell(spark, "SELECT array(1, 2, 3) AS v")
    assert got.startswith("[") and got.endswith("]")


def test_truncate_with_ellipsis(spark):
    df = spark.sql("SELECT repeat('x', 100) AS v")
    _, body = take_formatted(df, truncate=10)
    assert body[0][0] == "xxxxxxx..."
    # minimum truncate width is 4
    _, body = take_formatted(df, truncate=1)
    assert body[0][0] == "x..."


def test_dedupe_columns():
    assert dedupe_columns(["a", "b", "a", "a"]) == ["a", "b", "a1", "a2"]


def test_row_cap(spark):
    df = spark.range(100)
    _, body = take_formatted(df, num_rows=5)
    assert len(body) == 5
    _, body = take_formatted(df, num_rows=50, max_num_rows=3)
    assert len(body) == 3


def test_html_escapes_and_css(spark):
    df = spark.sql("SELECT '<b>&' AS v")
    html = render_html(*take_formatted(df), monospace=True, left_align=True, label="lbl")
    assert "&lt;b&gt;&amp;" in html
    assert "monospace" in html and "text-align:left" in html
    assert "<caption>lbl</caption>" in html


def test_flatten_schema_nested_and_escaped(spark):
    df = spark.sql(
        "SELECT named_struct('inner', 1, 'odd name', 2) AS s, 3 AS `top col`"
    )
    cols = flatten_schema(df.schema)
    assert cols == ["s.inner", "s.`odd name`", "`top col`"]


def test_duplicate_named_columns_render(spark):
    """join + select * yields duplicate column names; display must
    rename first (reference Common.scala:246), not throw
    AMBIGUOUS_REFERENCE."""
    a = spark.sql("SELECT 1 AS id, 'x' AS v")
    b = spark.sql("SELECT 1 AS id, 'y' AS v")
    joined = a.join(b, a["id"] == b["id"])
    header, body = take_formatted(joined, num_rows=5)
    assert header == ["id", "v", "id1", "v1"]
    assert body == [["1", "x", "1", "y"]]
