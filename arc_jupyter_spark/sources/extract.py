"""Extract stage implementations.

Design notes for scale: every file extract goes through
``spark.read``/``spark.readStream`` so Catalyst controls split
planning, predicate pushdown, and vectorized decoding; schemas are
passed explicitly whenever known (inference is a full extra scan at
100 TB). ``numPartitions``/``partitionBy`` apply after the scan only
when asked for — an unconditional repartition would add a shuffle.
"""

from __future__ import annotations

from typing import Any, ClassVar

from pyspark.sql import DataFrame, functions as F

from arc_jupyter_spark.context import ArcContext
from arc_jupyter_spark.plans.pipeline import FormatStage, PipelineStage, register_stage


class _Extract(FormatStage):
    """The one reader of every format-backed extract: ``format_name``
    with the merged options, at the stage's path when it has one, into
    ``outputView``. A concrete stage gives its format, its package hint
    and its ``default_options``. A stage with no ``streaming`` key reads
    in batch, also in a streaming session (JDBC: the static side of a
    stream-static join).
    """

    stage_kind = "extract"
    #: no key here: the source gives its own schema (``_FileExtract``
    #: declares ``schema`` as a key)
    schema: ClassVar[Any] = None

    output_view: str = ""

    def streams(self, ctx: ArcContext) -> bool:
        return False

    def path(self, ctx: ArcContext) -> str | None:
        return None

    def load(self, ctx: ArcContext) -> DataFrame:
        path = self.path(ctx)
        reader = ctx.spark.readStream if self.streams(ctx) else ctx.spark.read
        reader = reader.format(self.format_name).options(**self.resolved_options(ctx))
        if self.schema is not None:
            reader = reader.schema(self.schema)
        with self.connector():
            return reader.load(path)

    def execute(self, ctx: ArcContext) -> DataFrame:
        df = self.repartition(self.load(ctx))
        return ctx.register(df, self.output_view, persist=self.persist)


class _StreamExtract(_Extract):
    """A source Spark also reads as a stream: ``streaming`` (or a
    streaming session) reads it with ``readStream``."""

    streaming: bool = False

    def streams(self, ctx: ArcContext) -> bool:
        return self.streaming or ctx.conf.streaming


class _UriExtract(_StreamExtract):
    """A source addressed by ``inputURI``: a path, or a connector's
    resource name (optional for a connector that takes options)."""

    input_uri: str = ""

    def path(self, ctx: ArcContext) -> str | None:
        return self.substitute(self.input_uri, ctx) or None


class _FileExtract(_UriExtract):
    """A file format: ``inputURI`` (glob ok) is required, ``schema``
    (StructType or DDL string) skips inference, and ``streaming``
    needs it. ``addFilename``/``addIndex`` add Arc's ``_filename`` and
    per-file ``_index`` columns.
    """

    schema: Any = None
    add_filename: bool = False
    add_index: bool = False

    def path(self, ctx: ArcContext) -> str:
        uri = super().path(ctx)
        if not uri:
            raise ValueError(f"{self.stage_type} '{self.name}': inputURI is required")
        return uri

    def execute(self, ctx: ArcContext) -> DataFrame:
        df = self.load(ctx)
        if self.add_filename or self.add_index:
            df = df.withColumn("_filename", F.input_file_name())
        if self.add_index:
            # per-file row index (Arc's _index). Needs a window over the
            # file — a shuffle on _filename. Only ask for it when row
            # order within a file is semantically meaningful.
            from pyspark.sql import Window

            w = Window.partitionBy("_filename").orderBy(
                F.monotonically_increasing_id()
            )
            df = df.withColumn("_index", F.row_number().over(w))
            if not self.add_filename:
                df = df.drop("_filename")
        df = self.repartition(df)
        return ctx.register(df, self.output_view, persist=self.persist)


@register_stage
class ParquetExtract(_FileExtract):
    """Parquet scan — the workhorse. Vectorized reader + pushdown come
    free; pass explicit schema to skip footer merging on huge dirs."""

    stage_type = "ParquetExtract"
    format_name = "parquet"


@register_stage
class ORCExtract(_FileExtract):
    stage_type = "ORCExtract"
    format_name = "orc"


@register_stage
class AvroExtract(_FileExtract):
    stage_type = "AvroExtract"
    format_name = "avro"
    package = "org.apache.spark:spark-avro"


@register_stage
class DelimitedExtract(_FileExtract):
    """CSV/TSV. Arc params: header, delimiter, quote, inferSchema
    (SURVEY.md §2.B). Prefer explicit schema at scale — inference scans
    the data twice."""

    stage_type = "DelimitedExtract"
    format_name = "csv"

    header: bool = True
    delimiter: str = ","

    def default_options(self) -> dict[str, Any]:
        return {"header": str(self.header).lower(), "sep": self.delimiter}


@register_stage
class JSONExtract(_FileExtract):
    """JSON lines (or multiLine objects)."""

    stage_type = "JSONExtract"
    format_name = "json"

    multi_line: bool = False

    def default_options(self) -> dict[str, Any]:
        return {"multiLine": str(self.multi_line).lower()}


@register_stage
class TextExtract(_FileExtract):
    """Text lines; ``whole_text`` reads one row per file."""

    stage_type = "TextExtract"
    format_name = "text"

    whole_text: bool = False

    def default_options(self) -> dict[str, Any]:
        return {"wholetext": str(self.whole_text).lower()}


@register_stage
class BytesExtract(_FileExtract):
    """Whole files as binary rows — the multimodal on-ramp.

    ``binaryFile`` yields [path, modificationTime, length, content];
    projected to Arc's [value: binary, _filename] shape.
    """

    stage_type = "BytesExtract"
    format_name = "binaryFile"

    def execute(self, ctx: ArcContext) -> DataFrame:
        df = self.load(ctx).select(
            F.col("content").alias("value"),
            F.col("path").alias("_filename"),
            F.col("length").alias("_length"),
        )
        return ctx.register(self.repartition(df), self.output_view, persist=self.persist)


@register_stage
class ImageExtract(_FileExtract):
    """Spark's built-in image source (struct column)."""

    stage_type = "ImageExtract"
    format_name = "image"


@register_stage
class XMLExtract(_FileExtract):
    """XML via Spark 4's native ``xml`` source, or spark-xml before it.
    Gated: raises the package hint if the format is unavailable."""

    stage_type = "XMLExtract"
    format_name = "xml"
    package = "com.databricks:spark-xml"

    row_tag: str = "row"

    def default_options(self) -> dict[str, Any]:
        return {"rowTag": self.row_tag}


@register_stage
class RateExtract(PipelineStage):
    """Synthetic stream source (streaming-only), for preview tests."""

    stage_type = "RateExtract"
    stage_kind = "extract"

    output_view: str = ""
    rows_per_second: int = 10
    num_source_partitions: int = 1

    def execute(self, ctx: ArcContext) -> DataFrame:
        df = (
            ctx.spark.readStream.format("rate")
            .option("rowsPerSecond", self.rows_per_second)
            .option("numPartitions", self.num_source_partitions)
            .load()
        )
        return ctx.register(df, self.output_view)


@register_stage
class HTTPExtract(PipelineStage):
    """HTTP GET body → single-row DataFrame [body: string].

    Driver-side fetch (one request), then parallelize — matches the
    reference's single-document semantics. Network access may be
    unavailable in the build sandbox; failures surface as exceptions.
    """

    stage_type = "HTTPExtract"
    stage_kind = "extract"

    uri: str = ""
    output_view: str = ""

    def execute(self, ctx: ArcContext) -> DataFrame:
        import urllib.request

        uri = self.substitute(self.uri, ctx)
        with urllib.request.urlopen(uri) as resp:  # noqa: S310
            body = resp.read().decode("utf-8", errors="replace")
        df = ctx.spark.createDataFrame([(uri, body)], "uri string, body string")
        return ctx.register(df, self.output_view, persist=self.persist)


@register_stage
class JDBCExtract(_Extract):
    """JDBC table/query scan with optional partitioned reads.

    At scale: always set partitionColumn/lowerBound/upperBound/
    numPartitions or the whole table funnels through one task.
    """

    stage_type = "JDBCExtract"
    format_name = "jdbc"

    jdbc_url: str = ""
    table_name: str = ""
    partition_column: str | None = None
    lower_bound: int | None = None
    upper_bound: int | None = None

    def default_options(self) -> dict[str, Any]:
        opts = {"url": self.jdbc_url, "dbtable": self.table_name}
        if self.partition_column is not None:
            opts.update(
                partitionColumn=self.partition_column,
                lowerBound=str(self.lower_bound),
                upperBound=str(self.upper_bound),
                numPartitions=str(self.num_partitions or 8),
            )
        return opts

    def repartition(self, df: DataFrame) -> DataFrame:
        # numPartitions is the read's parallelism, not a shuffle after it
        return df


@register_stage
class MetadataExtract(PipelineStage):
    """Schema-of-a-view as a dataset (reference kernel's own copy:
    Common.scala:46-70). Delegates to the metadata model."""

    stage_type = "MetadataExtract"
    stage_kind = "extract"

    input_view: str = ""
    output_view: str = ""

    def execute(self, ctx: ArcContext) -> DataFrame:
        from arc_jupyter_spark.operators.metadata import metadata_dataframe

        df = metadata_dataframe(ctx.spark, ctx.table(self.input_view))
        return ctx.register(df, self.output_view, persist=self.persist)


@register_stage
class StatisticsExtract(PipelineStage):
    """Column statistics of a view (replaces the old %summary;
    reference: CHANGELOG.md:77). ``df.summary()`` computes count /
    mean / stddev / min / approx-percentiles / max in one distributed
    pass (approx percentiles — no full sort)."""

    stage_type = "StatisticsExtract"
    stage_kind = "extract"

    input_view: str = ""
    output_view: str = ""
    statistics: tuple[str, ...] = ()

    def execute(self, ctx: ArcContext) -> DataFrame:
        df = ctx.table(self.input_view)
        out = df.summary(*self.statistics) if self.statistics else df.summary()
        return ctx.register(out, self.output_view, persist=self.persist)
