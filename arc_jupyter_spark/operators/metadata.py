"""Metadata model: per-field metadata as a first-class, queryable thing.

Arc's signature feature (reference: Common.scala:46-70 builds the
metadata-as-DataFrame; ArcInterpreter.scala:484-499 surfaces %metadata /
%printmetadata). Spark's ``StructField.metadata`` carries the JSON
object natively; transforms drop it, so MetadataTransform re-applies it.

Instead of the reference's schema-JSON → spark.read.json → explode hack,
the DataFrame is built directly from schema fields on the driver — the
schema is tiny; no reason to involve the cluster.
"""

from __future__ import annotations

import json
from dataclasses import field
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from arc_jupyter_spark.context import PLACEHOLDER_VIEW, ArcContext
from arc_jupyter_spark.plans.pipeline import PipelineStage, register_stage


def metadata_dataframe(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Schema+metadata of *df* as rows [name, nullable, type, metadata.*].

    Metadata keys become top-level columns (the reference flattens
    ``metadata.*`` the same way via explode on the schema JSON).
    """
    keys: list[str] = []
    for f in df.schema.fields:
        for k in (f.metadata or {}):
            if k not in keys:
                keys.append(k)

    def key_type(k: str) -> T.DataType:
        vals = [f.metadata[k] for f in df.schema.fields
                if f.metadata and k in f.metadata]
        if all(isinstance(v, bool) for v in vals):
            return T.BooleanType()
        if all(isinstance(v, int) and not isinstance(v, bool) for v in vals):
            return T.LongType()
        if all(isinstance(v, (int, float)) and not isinstance(v, bool) for v in vals):
            return T.DoubleType()
        return T.StringType()

    key_types = {k: key_type(k) for k in keys}

    def cell(md: dict[str, Any], k: str) -> Any:
        if k not in md:
            return None
        v = md[k]
        if isinstance(key_types[k], T.StringType) and not isinstance(v, str):
            return json.dumps(v)
        return v

    fields = df.schema.fields
    columns = [
        [f.name for f in fields],
        [f.nullable for f in fields],
        [f.dataType.simpleString() for f in fields],
    ] + [[cell(f.metadata or {}, k) for f in fields] for k in keys]
    schema = T.StructType([
        T.StructField("name", T.StringType(), False),
        T.StructField("nullable", T.BooleanType(), False),
        T.StructField("type", T.StringType(), False),
    ] + [T.StructField(k, key_types[k], True) for k in keys])
    # An Arrow table becomes a LocalRelation: taking from it runs on the
    # driver and fires no Spark job (a Python row list is parallelized).
    # createDataFrame casts each inferred Arrow column to *schema*.
    table = pa.Table.from_arrays([pa.array(c) for c in columns], names=schema.names)
    return spark.createDataFrame(table, schema)


def schema_to_arc_metadata(df: DataFrame) -> list[dict[str, Any]]:
    """Serialize a DataFrame schema to an Arc metadata-schema document
    (the %printmetadata payload; reference ArcInterpreter.scala:495-499)."""
    out = []
    for i, f in enumerate(df.schema.fields):
        entry: dict[str, Any] = {
            "id": str(i),
            "name": f.name,
            "type": _arc_type_name(f.dataType),
            "nullable": f.nullable,
            "metadata": dict(f.metadata or {}),
        }
        if isinstance(f.dataType, T.DecimalType):
            entry["precision"] = f.dataType.precision
            entry["scale"] = f.dataType.scale
        out.append(entry)
    return out


def _arc_type_name(dt: T.DataType) -> str:
    mapping = {
        T.BooleanType: "boolean",
        T.DateType: "date",
        T.DoubleType: "double",
        T.FloatType: "double",
        T.IntegerType: "integer",
        T.LongType: "long",
        T.StringType: "string",
        T.TimestampType: "timestamp",
        T.BinaryType: "binary",
    }
    for cls, name in mapping.items():
        if isinstance(dt, cls):
            return name
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.ArrayType):
        return "array"
    if isinstance(dt, T.StructType):
        return "struct"
    return dt.simpleString()


def apply_metadata(df: DataFrame, per_column: dict[str, dict[str, Any]]) -> DataFrame:
    """Attach/overwrite per-column metadata (MetadataTransform core).

    Spark drops field metadata through many expressions; this re-applies
    it via ``withMetadata`` (a no-shuffle projection-only change).
    """
    for col, md in per_column.items():
        if col in df.columns:
            df = df.withMetadata(col, md)
    return df


@register_stage
class MetadataTransform(PipelineStage):
    """Attach a metadata schema onto a view (reference: SURVEY.md §2.B)."""

    stage_type = "MetadataTransform"

    input_view: str = ""
    output_view: str = ""
    schema: list[dict[str, Any]] | dict[str, dict[str, Any]] = field(default_factory=dict)

    def execute(self, ctx: ArcContext) -> DataFrame:
        df = ctx.table(self.input_view)
        if isinstance(self.schema, list):  # Arc metadata-schema document
            per_col = {e["name"]: e.get("metadata", {}) for e in self.schema}
        else:
            per_col = self.schema
        df = apply_metadata(df, per_col)
        return ctx.register(df, self.output_view, persist=self.persist)


@register_stage
class MetadataFilterTransform(PipelineStage):
    """Column pruning by a SQL predicate over the metadata-as-table
    (reference: %metadatafilter, Common.scala:394-403).

    The predicate runs on the tiny metadata DataFrame; surviving column
    names drive a plain ``select`` — so the real data plan is pure
    column pruning, which Catalyst pushes into the scan.
    """

    stage_type = "MetadataFilterTransform"

    input_view: str = ""
    output_view: str = PLACEHOLDER_VIEW
    sql: str = ""

    def execute(self, ctx: ArcContext) -> DataFrame:
        df = ctx.table(self.input_view)
        with ctx.metadata_view(metadata_dataframe(ctx.spark, df)):
            stmt = self.substitute(self.sql, ctx)
            keep = [r["name"] for r in ctx.spark.sql(stmt).select("name").collect()]
        out = df.select(*[c for c in df.columns if c in set(keep)])
        return ctx.register(out, self.output_view, persist=self.persist)
