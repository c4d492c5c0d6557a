"""Load stages (sinks): ``df.write`` / ``df.writeStream``.

Reference inventory: SURVEY.md §2.B Load. At scale the knobs that
matter are ``partitionBy`` (directory layout → partition pruning for
readers), ``numPartitions`` (output file count — avoid millions of tiny
files), and save mode.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, DataFrameWriter

from arc_jupyter_spark.context import ArcContext
from arc_jupyter_spark.plans.pipeline import FormatStage, PipelineStage, register_stage


class _Load(FormatStage):
    """The one writer of every format-backed load: ``inputView`` to
    ``format_name`` with the merged options, at the stage's path when
    it has one. A streaming view goes to the format's streaming sink. A
    concrete stage gives its format, its package hint, its
    ``default_options`` and its default ``saveMode``.
    """

    stage_kind = "load"

    input_view: str = ""
    save_mode: str = "append"

    def path(self, ctx: ArcContext) -> str | None:
        return None

    def execute(self, ctx: ArcContext) -> DataFrame:
        df = ctx.table(self.input_view)
        uri = self.path(ctx)
        opts = self.resolved_options(ctx)
        with self.connector():
            if df.isStreaming:
                self._write_stream(ctx, df, uri, opts)
            else:
                self._write(df, uri, opts)
        return df

    def _writer(self, df: DataFrame, opts: dict[str, Any]) -> DataFrameWriter:
        if self.num_partitions:
            df = df.repartition(self.num_partitions)
        writer = df.write.format(self.format_name).mode(self.save_mode).options(**opts)
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        return writer

    def _write(self, df: DataFrame, uri: str | None, opts: dict[str, Any]) -> None:
        self._writer(df, opts).save(uri)

    def _write_stream(
        self, ctx: ArcContext, df: DataFrame, uri: str | None, opts: dict[str, Any]
    ) -> None:
        """Streaming sink (reference: file Loads accept streaming
        input): exactly-once append via the checkpointed file-sink
        commit log. The checkpoint lives beside the output unless
        overridden via the ``checkpointLocation`` option; the query is
        tracked with the same managed-stop contract as
        ConsoleLoad/MemoryLoad and drains with an availableNow trigger
        (bounded source snapshot; an unbounded deployment swaps the
        trigger and simply doesn't awaitTermination).
        """
        checkpoint = opts.pop(
            "checkpointLocation", uri and uri.rstrip("/") + "/_checkpoints"
        )
        writer = (
            df.writeStream.format(self.format_name)
            .outputMode("append")
            .queryName(f"load:{self.name}")
        )
        if checkpoint:
            writer = writer.option("checkpointLocation", checkpoint)
        writer = writer.options(**opts)
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        query = writer.trigger(availableNow=True).start(uri)
        ctx.track_stream(query)
        query.awaitTermination()


class _UriLoad(_Load):
    """A sink addressed by ``outputURI``, overwritten by default."""

    output_uri: str = ""
    save_mode: str = "overwrite"

    def path(self, ctx: ArcContext) -> str | None:
        return self.substitute(self.output_uri, ctx) or None


class _FileLoad(_UriLoad):
    """A file format, which can also write a bucketed catalog table
    (``bucketBy``, ``numBuckets``, ``tableName``)."""

    bucket_by: tuple[str, ...] = ()
    num_buckets: int = 0
    table_name: str = ""

    def _write(self, df: DataFrame, uri: str | None, opts: dict[str, Any]) -> None:
        if not self.bucket_by:
            return super()._write(df, uri, opts)
        # bucketed layout: co-locates downstream equi-joins/aggs on the
        # bucket key (no exchange at read time). Bucket metadata lives
        # in the catalog, so this goes through saveAsTable.
        if not self.table_name:
            raise ValueError(
                f"{self.stage_type} '{self.name}': bucketBy requires tableName"
            )
        writer = self._writer(df, opts)
        writer = writer.bucketBy(self.num_buckets or 8, *self.bucket_by).sortBy(*self.bucket_by)
        if uri:
            writer = writer.option("path", uri)
        writer.saveAsTable(self.table_name)

    def _write_stream(
        self, ctx: ArcContext, df: DataFrame, uri: str | None, opts: dict[str, Any]
    ) -> None:
        if self.bucket_by:
            raise ValueError(
                f"{self.stage_type} '{self.name}': bucketBy is a batch-only "
                "layout (catalog metadata); streaming sinks append files"
            )
        super()._write_stream(ctx, df, uri, opts)


@register_stage
class ParquetLoad(_FileLoad):
    stage_type = "ParquetLoad"
    format_name = "parquet"


@register_stage
class ORCLoad(_FileLoad):
    stage_type = "ORCLoad"
    format_name = "orc"


@register_stage
class AvroLoad(_FileLoad):
    stage_type = "AvroLoad"
    format_name = "avro"
    package = "org.apache.spark:spark-avro"


@register_stage
class JSONLoad(_FileLoad):
    stage_type = "JSONLoad"
    format_name = "json"


@register_stage
class TextLoad(_FileLoad):
    stage_type = "TextLoad"
    format_name = "text"


@register_stage
class XMLLoad(_FileLoad):
    """Gated on an xml-capable datasource being present."""

    stage_type = "XMLLoad"
    format_name = "xml"
    package = "com.databricks:spark-xml"


@register_stage
class DelimitedLoad(_FileLoad):
    stage_type = "DelimitedLoad"
    format_name = "csv"

    header: bool = True
    delimiter: str = ","

    def default_options(self) -> dict[str, Any]:
        return {"header": str(self.header).lower(), "sep": self.delimiter}


@register_stage
class JDBCLoad(_Load):
    """Append a view to a database table (``tableName``) over JDBC."""

    stage_type = "JDBCLoad"
    format_name = "jdbc"

    jdbc_url: str = ""
    table_name: str = ""

    def default_options(self) -> dict[str, Any]:
        return {"url": self.jdbc_url, "dbtable": self.table_name}


@register_stage
class ConsoleLoad(PipelineStage):
    """Streaming sink to the console (reference: SURVEY.md §2.B)."""

    stage_type = "ConsoleLoad"
    stage_kind = "load"

    input_view: str = ""
    output_mode: str = "append"

    def execute(self, ctx: ArcContext) -> DataFrame:
        df = ctx.table(self.input_view)
        if not df.isStreaming:
            raise ValueError("ConsoleLoad requires a streaming input view")
        query = df.writeStream.format("console").outputMode(self.output_mode).start()
        ctx.track_stream(query)
        return df


@register_stage
class MemoryLoad(PipelineStage):
    """Streaming sink into an in-memory table (the preview mechanism;
    reference: Common.scala:177-181)."""

    stage_type = "MemoryLoad"
    stage_kind = "load"

    input_view: str = ""
    query_name: str = "preview"
    output_mode: str = "append"

    def execute(self, ctx: ArcContext) -> DataFrame:
        df = ctx.table(self.input_view)
        # restarting the same-named sink: stop the old query first
        # (Spark rejects a second active query with the same name, and
        # the old memory sink would pin its rows on the driver)
        for active in ctx.spark.streams.active:
            if active.name == self.query_name:
                active.stop()
        query = (
            df.writeStream.format("memory")
            .queryName(self.query_name)
            .outputMode(self.output_mode)
            .start()
        )
        ctx.track_stream(query)
        return df
