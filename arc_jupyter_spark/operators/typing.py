"""TypingTransform: apply a metadata schema to a string-typed view with
per-row error capture.

Reference semantics (SURVEY.md §2.B TypingTransform): each column is
parsed per its spec (type, formatters, nullableValues,
nullReplacementValue, trim); a failed parse does NOT fail the job —
it appends ``{field, message}`` to an ``_errors`` array column for that
row and yields NULL for the value.

Spark has no built-in for this (PERMISSIVE ``_corrupt_record`` is
per-record, not per-field), so it is hand-built — but as ONE Catalyst
projection: every typed column and its error struct are computed in the
same ``select`` using ``try_cast``-style expressions (conditionals over
the raw value), so each raw column is evaluated once, entirely
JVM-side, whole-stage-codegen'd. No UDFs, no shuffle — at 100 TB this
is a map-only stage that pipelines into the scan.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, functions as F

from arc_jupyter_spark.context import ArcContext
from arc_jupyter_spark.plans.pipeline import PipelineStage, register_stage

DEFAULT_TRUE_VALUES = ("true", "t", "yes", "y", "1")
DEFAULT_FALSE_VALUES = ("false", "f", "no", "n", "0")


@dataclass
class ColumnSpec:
    """One column of an Arc metadata schema."""

    name: str
    type: str                       # boolean date decimal double integer long string time timestamp binary
    nullable: bool = True
    formatters: tuple[str, ...] = ()           # datetime patterns, tried in order
    nullable_values: tuple[str, ...] = ("",)   # raw strings meaning NULL
    null_replacement_value: str | None = None
    trim: bool = True
    precision: int = 38
    scale: int = 6
    true_values: tuple[str, ...] = DEFAULT_TRUE_VALUES
    false_values: tuple[str, ...] = DEFAULT_FALSE_VALUES
    time_zone_id: str = "UTC"
    metadata: dict[str, Any] = field(default_factory=dict)

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "ColumnSpec":
        return cls(
            name=d["name"],
            type=d["type"],
            nullable=d.get("nullable", True),
            formatters=tuple(d.get("formatters", ())),
            nullable_values=tuple(d.get("nullableValues", d.get("nullable_values", ("",)))),
            null_replacement_value=d.get("nullReplacementValue", d.get("null_replacement_value")),
            trim=d.get("trim", True),
            precision=d.get("precision", 38),
            scale=d.get("scale", 6),
            true_values=tuple(d.get("trueValues", d.get("true_values", DEFAULT_TRUE_VALUES))),
            false_values=tuple(d.get("falseValues", d.get("false_values", DEFAULT_FALSE_VALUES))),
            time_zone_id=d.get("timezoneId", d.get("time_zone_id", "UTC")),
            metadata=d.get("metadata", {}),
        )

    # -- expression builders ------------------------------------------

    def _target_type(self) -> str:
        return {
            "boolean": "boolean",
            "date": "date",
            "decimal": f"decimal({self.precision},{self.scale})",
            "double": "double",
            "integer": "int",
            "long": "bigint",
            "string": "string",
            "time": "string",
            "timestamp": "timestamp",
            "binary": "binary",
        }[self.type]

    def _parse(self, raw: Column) -> Column:
        """Typed value from the cleaned raw string; NULL on failure."""
        t = self.type
        if t == "string" or t == "time":
            return raw
        if t == "boolean":
            lowered = F.lower(raw)
            return (
                F.when(lowered.isin(*self.true_values), F.lit(True))
                .when(lowered.isin(*self.false_values), F.lit(False))
                .otherwise(F.lit(None).cast("boolean"))
            )
        if t in ("integer", "long", "double", "decimal"):
            return raw.try_cast(self._target_type())
        if t == "timestamp":
            if self.formatters:
                return F.coalesce(*[F.try_to_timestamp(raw, F.lit(f)) for f in self.formatters])
            return F.try_to_timestamp(raw)
        if t == "date":
            if self.formatters:
                return F.coalesce(
                    *[F.try_to_timestamp(raw, F.lit(f)).cast("date") for f in self.formatters]
                )
            return F.try_to_timestamp(raw).cast("date")
        if t == "binary":
            # base64 payload (Arc default encoding)
            return F.unbase64(raw)
        raise ValueError(f"unsupported typing target '{t}' for column '{self.name}'")

    def expressions(self, src: Column) -> tuple[Column, Column]:
        """(typed_value, error_struct_or_null) — one pass over *src*."""
        raw = F.trim(src) if self.trim else src
        is_null_in = src.isNull() | raw.isin(*self.nullable_values)
        if self.null_replacement_value is not None:
            raw = F.when(is_null_in, F.lit(self.null_replacement_value)).otherwise(raw)
            is_null_in = F.lit(False)
        parsed = self._parse(raw)

        value = F.when(is_null_in, F.lit(None).cast(self._target_type())).otherwise(parsed)

        fmt_hint = f" with formatters {list(self.formatters)}" if self.formatters else ""
        parse_msg = F.concat(
            F.lit(f"Unable to convert '"),
            F.coalesce(src.cast("string"), F.lit("null")),
            F.lit(f"' to {self.type}{fmt_hint}"),
        )
        null_msg = F.lit(f"{self.name} is null for non-nullable column")

        error = (
            F.when(
                is_null_in & F.lit(not self.nullable),
                F.struct(F.lit(self.name).alias("field"), null_msg.alias("message")),
            )
            .when(
                ~is_null_in & parsed.isNull(),
                F.struct(F.lit(self.name).alias("field"), parse_msg.alias("message")),
            )
            .otherwise(F.lit(None).cast("struct<field:string,message:string>"))
        )
        return value.alias(self.name), error


def parse_schema(schema: list[dict[str, Any]] | list[ColumnSpec]) -> list[ColumnSpec]:
    return [s if isinstance(s, ColumnSpec) else ColumnSpec.from_dict(s) for s in schema]


def apply_typing(df: DataFrame, specs: list[ColumnSpec]) -> DataFrame:
    """Typed projection + ``_errors`` array, in a single select."""
    values: list[Column] = []
    errors: list[Column] = []
    for spec in specs:
        value, error = spec.expressions(F.col(spec.name))
        values.append(value)
        errors.append(error)
    err_array = F.filter(F.array(*errors), lambda e: e.isNotNull()).alias("_errors")
    out = df.select(*values, err_array)
    # carry per-field metadata from the schema onto the typed columns
    for spec in specs:
        if spec.metadata:
            out = out.withMetadata(spec.name, spec.metadata)
    return out


@register_stage
class TypingTransform(PipelineStage):
    """Apply an Arc metadata schema to a string-typed view.

    ``fail_mode='permissive'`` (default) keeps error rows with their
    ``_errors`` populated; ``'failfast'`` raises if any row has errors.
    """

    stage_type = "TypingTransform"

    input_view: str = ""
    output_view: str = ""
    schema: list[dict[str, Any]] = field(default_factory=list)
    fail_mode: str = "permissive"

    def execute(self, ctx: ArcContext) -> DataFrame:
        df = ctx.table(self.input_view)
        specs = parse_schema(self.schema)
        out = apply_typing(df, specs)
        if self.fail_mode == "failfast":
            bad = out.where(F.size("_errors") > 0).limit(1).collect()
            if bad:
                raise ValueError(f"TypingTransform failfast: first error row: {bad[0]['_errors']}")
        return ctx.register(self.repartition(out), self.output_view, persist=self.persist)
