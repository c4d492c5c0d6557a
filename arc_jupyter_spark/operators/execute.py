"""Execute / Validate stages: control flow and data assertions.

Reference inventory: SURVEY.md §2.A/§2.B — SQLValidate asserts a
``[valid: boolean, message: string]`` single row; EqualityValidate
asserts two views row-equal; LogExecute/ConfigExecute run SQL for a
JSON side effect; PipelineExecute includes a sub-pipeline.
"""

from __future__ import annotations

import json
import logging
from dataclasses import field
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from arc_jupyter_spark.context import ArcContext
from arc_jupyter_spark.plans.pipeline import PipelineStage, parse_pipeline, register_stage, run_pipeline

logger = logging.getLogger("arc_jupyter_spark")


class ValidationError(Exception):
    """A validate stage's assertion failed."""

    def __init__(self, message: str, detail: Any = None) -> None:
        super().__init__(message)
        self.detail = detail


@register_stage
class SQLValidate(PipelineStage):
    """Run SQL that must return exactly one row ``[valid, message]``;
    raise when not valid (reference: ArcInterpreter.scala:255-258,
    Common.scala:434-447). ``value`` is the message, parsed when it is
    JSON."""

    stage_type = "SQLValidate"
    stage_kind = "validate"

    sql: str = ""

    def execute(self, ctx: ArcContext) -> None:
        stmt = self.substitute(self.sql, ctx)
        # two rows are enough to tell one row from more: a query that
        # returns many by mistake ships none of the rest to the driver
        rows = ctx.spark.sql(stmt).limit(2).collect()
        if len(rows) != 1 or len(rows[0]) < 2:
            got = {0: "0 rows", 1: "1 row with fewer than 2 columns"}.get(
                len(rows), "more than 1 row")
            raise ValidationError(
                f"{self.stage_type} '{self.name}' must return exactly 1 row with "
                f"[valid: boolean, message] — got {got}"
            )
        valid, message = bool(rows[0][0]), rows[0][1]
        try:
            self.value = json.loads(message) if isinstance(message, str) else message
        except (TypeError, ValueError):
            self.value = message
        if not valid:
            raise ValidationError(f"{self.stage_type} '{self.name}' failed: {message}", self.value)
        logger.info("%s %s passed: %s", self.stage_type, self.name, message)


@register_stage
class MetadataValidate(SQLValidate):
    """SQLValidate over the metadata-as-table of a view, registered as
    ``metadata`` (reference: Common.scala:404-423)."""

    stage_type = "MetadataValidate"

    input_view: str = ""

    def execute(self, ctx: ArcContext) -> None:
        from arc_jupyter_spark.operators.metadata import metadata_dataframe

        with ctx.metadata_view(metadata_dataframe(ctx.spark, ctx.table(self.input_view))):
            super().execute(ctx)


@register_stage
class EqualityValidate(PipelineStage):
    """Assert two views are schema- and row-equal (multiset semantics)."""

    stage_type = "EqualityValidate"
    stage_kind = "validate"

    left_view: str = ""
    right_view: str = ""

    def execute(self, ctx: ArcContext) -> None:
        left = ctx.table(self.left_view)
        right = ctx.table(self.right_view)
        lcols = [(f.name, f.dataType.simpleString()) for f in left.schema.fields]
        rcols = [(f.name, f.dataType.simpleString()) for f in right.schema.fields]
        if lcols != rcols:
            raise ValidationError(
                f"EqualityValidate '{self.name}': schema mismatch {lcols} != {rcols}"
            )
        # two anti-diffs; each is one shuffle — acceptable for a validation
        left_only = left.exceptAll(right).count()
        right_only = right.exceptAll(left).count()
        if left_only or right_only:
            raise ValidationError(
                f"EqualityValidate '{self.name}': {left_only} row(s) only in "
                f"{self.left_view}, {right_only} only in {self.right_view}"
            )


@register_stage
class LogExecute(PipelineStage):
    """Run SQL returning one JSON ``message``; keep it as ``value`` and
    write it to the structured log (reference: Common.scala:368-380)."""

    stage_type = "LogExecute"
    stage_kind = "execute"

    sql: str = ""

    def execute(self, ctx: ArcContext) -> None:
        row = ctx.spark.sql(self.substitute(self.sql, ctx)).first()
        self.value = row[0] if row else None
        logger.info(self.value)


@register_stage
class ConfigExecute(PipelineStage):
    """Run SQL returning one JSON string; merge parsed keys into the
    session env, and keep the object as ``value`` (reference:
    Common.scala:381-393, CHANGELOG.md:81)."""

    stage_type = "ConfigExecute"
    stage_kind = "execute"

    sql: str = ""

    def execute(self, ctx: ArcContext) -> None:
        row = ctx.spark.sql(self.substitute(self.sql, ctx)).first()
        if row is None or row[0] is None:
            raise ValidationError(f"ConfigExecute '{self.name}' returned no JSON")
        self.value = json.loads(row[0])
        if not isinstance(self.value, dict):
            raise ValidationError(f"ConfigExecute '{self.name}' must return a JSON object")
        ctx.env.update({k: str(v) for k, v in self.value.items()})


@register_stage
class StatisticsExecute(PipelineStage):
    """Log summary statistics of a view (reference: CHANGELOG.md:77)."""

    stage_type = "StatisticsExecute"
    stage_kind = "execute"

    input_view: str = ""

    def execute(self, ctx: ArcContext) -> DataFrame:
        stats = ctx.table(self.input_view).summary()
        rows = stats.collect()
        ctx.user_data["last_statistics"] = rows
        # the collected rows as a LocalRelation: rendering the result
        # runs no second aggregation and pins no storage
        table = pa.Table.from_pylist([r.asDict() for r in rows],
                                     schema=to_arrow_schema(stats.schema))
        return ctx.spark.createDataFrame(table, stats.schema)


@register_stage
class PipelineExecute(PipelineStage):
    """Include a sub-pipeline from a JSON config file (reference:
    SURVEY.md §2.B PipelineExecute)."""

    stage_type = "PipelineExecute"
    stage_kind = "execute"

    uri: str = ""
    environment: str | None = None

    def execute(self, ctx: ArcContext) -> DataFrame | None:
        with open(self.substitute(self.uri, ctx), encoding="utf-8") as fh:
            stages = parse_pipeline(fh.read())
        return run_pipeline(stages, ctx, environment=self.environment)


@register_stage
class JDBCExecute(PipelineStage):
    """Run DDL/DML on an external database over JDBC
    (reference: SURVEY.md §2.B JDBCExecute).

    Statement execution goes through the JVM's DriverManager via the
    py4j gateway — no extra Python JDBC bridge needed; the driver jar
    must be on the Spark classpath (same requirement as the reference).
    """

    stage_type = "JDBCExecute"
    stage_kind = "execute"

    jdbc_url: str = ""
    sql: str = ""

    def execute(self, ctx: ArcContext) -> None:
        url = self.substitute(self.jdbc_url, ctx)
        stmt_text = self.substitute(self.sql, ctx)
        jvm = ctx.spark.sparkContext._jvm
        conn = jvm.java.sql.DriverManager.getConnection(url)
        try:
            stmt = conn.createStatement()
            try:
                stmt.execute(stmt_text)
            finally:
                stmt.close()
        finally:
            conn.close()


@register_stage
class HTTPExecute(PipelineStage):
    """Call a webhook with a JSON payload (fire-and-assert-2xx)."""

    stage_type = "HTTPExecute"
    stage_kind = "execute"

    uri: str = ""
    payload: dict[str, Any] = field(default_factory=dict)

    def execute(self, ctx: ArcContext) -> None:
        import urllib.request

        req = urllib.request.Request(
            self.substitute(self.uri, ctx),
            data=json.dumps(self.payload).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as resp:  # noqa: S310
            if not 200 <= resp.status < 300:
                raise ValidationError(f"HTTPExecute '{self.name}': status {resp.status}")
