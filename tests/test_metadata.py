"""Metadata model: metadata-as-DataFrame, attach, filter
(reference: Common.scala:46-70; MetadataTransform/-Filter [D])."""

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from arc_jupyter_spark.operators.metadata import (
    apply_metadata,
    metadata_dataframe,
    schema_to_arc_metadata,
)
from arc_jupyter_spark.plans.pipeline import parse_pipeline, run_pipeline


def test_metadata_dataframe_shape(spark):
    df = spark.createDataFrame([(1, "x")], ["a", "b"])
    meta = metadata_dataframe(spark, df)
    cols = set(meta.columns)
    assert {"name", "nullable", "type"} <= cols
    assert {r["name"] for r in meta.collect()} == {"a", "b"}


def test_apply_metadata_roundtrip(spark):
    df = spark.createDataFrame([(1, "x")], ["a", "b"])
    df2 = apply_metadata(df, {"a": {"pii": True, "unit": "count"}})
    field = dict(zip(df2.schema.names, df2.schema.fields))["a"]
    assert field.metadata["pii"] is True
    assert field.metadata["unit"] == "count"


def test_metadata_survives_into_metadata_dataframe(spark):
    df = apply_metadata(
        spark.createDataFrame([(1, "x")], ["a", "b"]), {"a": {"pii": True}}
    )
    meta = metadata_dataframe(spark, df)
    by_name = {r["name"]: r.asDict() for r in meta.collect()}
    assert by_name["a"].get("pii") is True


def test_metadata_filter_transform_prunes_columns(ctx):
    df = apply_metadata(
        ctx.spark.createDataFrame([(1, "x", 2.0)], ["a", "b", "c"]),
        {"a": {"keep": True}, "c": {"keep": True}},
    )
    ctx.register(df, "meta_src")
    stages = parse_pipeline(
        [{"type": "MetadataFilterTransform", "name": "mf",
          "inputView": "meta_src", "outputView": "meta_kept",
          "sql": "SELECT * FROM metadata WHERE keep = true"}]
    )
    run_pipeline(stages, ctx)
    assert sorted(ctx.table("meta_kept").columns) == ["a", "c"]


def test_schema_to_arc_metadata(spark):
    df = apply_metadata(
        spark.createDataFrame([(1, "x")], ["a", "b"]), {"a": {"unit": "n"}}
    )
    doc = schema_to_arc_metadata(df)
    by_name = {d["name"]: d for d in doc}
    assert by_name["a"]["type"] in ("long", "integer")
    assert by_name["a"]["metadata"] == {"unit": "n"}
    # document must be JSON-serializable (what %printmetadata emits)
    json.dumps(doc)


def test_printmetadata_roundtrips_into_typing(spark):
    """The %printmetadata document is a valid TypingTransform schema:
    export a typed frame's schema, re-apply it to raw strings, get the
    same types back (Arc's schema round-trip contract)."""
    from arc_jupyter_spark.context import ArcContext
    from arc_jupyter_spark.operators.metadata import schema_to_arc_metadata
    from arc_jupyter_spark.operators.typing import TypingTransform

    typed = spark.sql(
        "SELECT 1 AS i, CAST(2.5 AS DOUBLE) AS d, "
        "DATE '2020-01-02' AS dt, 'x' AS s, TRUE AS b"
    )
    doc = schema_to_arc_metadata(typed)
    for entry in doc:
        if entry["type"] == "date":
            entry["formatters"] = ["yyyy-MM-dd"]

    raw = spark.createDataFrame(
        [("1", "2.5", "2020-01-02", "x", "true")], ["i", "d", "dt", "s", "b"]
    )
    ctx = ArcContext(spark)
    ctx.register(raw, "rt_raw")
    TypingTransform(
        name="rt", input_view="rt_raw", output_view="rt_typed", schema=doc
    ).execute(ctx)
    out = ctx.table("rt_typed")
    got = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert got["i"] == "int" and got["d"] == "double"
    assert got["dt"] == "date" and got["b"] == "boolean"
    row = out.first()
    assert row["_errors"] == [] and row["i"] == 1 and row["b"] is True


def test_metadata_survives_sqltransform_and_rename(ctx):
    """SURVEY §7 'genuinely hard' item 1: per-field metadata must ride
    through SQLTransform projections — including aliased columns
    (Spark's Alias carries child metadata unless overridden)."""
    from arc_jupyter_spark.plans.pipeline import parse_pipeline, run_pipeline

    spark = ctx.spark
    df = spark.createDataFrame([(1, "a")], ["id", "name"]).withMetadata(
        "id", {"primaryKey": True, "nullable": False}
    )
    df.createOrReplaceTempView("meta_src")
    run_pipeline(
        parse_pipeline(
            [
                {
                    "type": "SQLTransform",
                    "name": "t",
                    "sql": "SELECT id AS id2, UPPER(name) AS name FROM meta_src",
                    "outputView": "meta_out",
                }
            ]
        ),
        ctx,
    )
    md = spark.table("meta_out").schema["id2"].metadata
    assert md["primaryKey"] is True and md["nullable"] is False


# metadata_dataframe builds its frame from an Arrow table on the driver;
# the schema and rows below are the frame's contract. Metadata keys come
# in the order Spark keeps them, so the key columns are compared by name.
BASE_FIELDS = [
    T.StructField("name", T.StringType(), False),
    T.StructField("nullable", T.BooleanType(), False),
    T.StructField("type", T.StringType(), False),
]
BASE_ROWS = [("a", False, "int"), ("b", False, "string"), ("c", True, "double")]


def _meta(spark, per_column, key_fields):
    """Check the frame's schema; return its key columns by row."""
    df = spark.sql("SELECT 1 AS a, 'x' AS b, CAST(NULL AS DOUBLE) AS c")
    meta = metadata_dataframe(spark, apply_metadata(df, per_column))
    assert meta.schema.fields[:3] == BASE_FIELDS
    assert sorted(meta.schema.fields[3:], key=lambda f: f.name) == sorted(
        key_fields, key=lambda f: f.name)
    rows = meta.collect()
    assert [tuple(r)[:3] for r in rows] == BASE_ROWS
    return [{k: v for k, v in r.asDict().items() if k not in ("name", "nullable", "type")}
            for r in rows]


def test_metadata_dataframe_without_field_metadata(spark):
    assert _meta(spark, {}, []) == [{}, {}, {}]


def test_metadata_dataframe_bool_long_double_keys(spark):
    keys = _meta(spark, {
        "a": {"pii": True, "rank": 3, "weight": 0.5},
        "b": {"pii": False, "rank": 7, "weight": 2.5},
        "c": {"pii": True, "rank": -1, "weight": 1.25},
    }, [
        T.StructField("pii", T.BooleanType(), True),
        T.StructField("rank", T.LongType(), True),
        T.StructField("weight", T.DoubleType(), True),
    ])
    assert keys == [
        {"pii": True, "rank": 3, "weight": 0.5},
        {"pii": False, "rank": 7, "weight": 2.5},
        {"pii": True, "rank": -1, "weight": 1.25},
    ]


def test_metadata_dataframe_widens_ints_in_a_double_key(spark):
    """A whole number among doubles becomes a double; a Python row list
    with this schema was rejected (DoubleType cannot accept an int)."""
    keys = _meta(spark, {"a": {"weight": 0.5}, "b": {"weight": 2}},
                 [T.StructField("weight", T.DoubleType(), True)])
    assert keys == [{"weight": 0.5}, {"weight": 2.0}, {"weight": None}]
    assert isinstance(keys[1]["weight"], float)


def test_metadata_dataframe_mixed_values_fall_back_to_json(spark):
    keys = _meta(spark, {
        "a": {"tag": "plain"},
        "b": {"tag": 5},
        "c": {"tag": {"k": [1, 2]}},
    }, [T.StructField("tag", T.StringType(), True)])
    assert keys == [{"tag": "plain"}, {"tag": "5"}, {"tag": '{"k": [1, 2]}'}]


def test_metadata_dataframe_absent_keys_are_null(spark):
    keys = _meta(spark, {"a": {"unit": "cm"}, "c": {"scale": 2}}, [
        T.StructField("unit", T.StringType(), True),
        T.StructField("scale", T.LongType(), True),
    ])
    assert keys == [
        {"unit": "cm", "scale": None},
        {"unit": None, "scale": None},
        {"unit": None, "scale": 2},
    ]
