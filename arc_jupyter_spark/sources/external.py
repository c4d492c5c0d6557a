"""External-system stages (reference: SURVEY.md §2.B plugin jars —
DeltaLakeExtract/Load, KafkaExtract/Load, KafkaCommitExecute, and the
Cassandra / Elasticsearch / MongoDB / SAS connectors).

These are thin ``format(...)`` mappings — exactly how the reference's
out-of-core plugins work (the same ServiceLoader mechanism,
ArcInterpreter.scala:309-336): the stage vocabulary is always
parseable, and execution requires the connector jar on the Spark
classpath. Each stage gives only its format, its package and its
default options; the one reader (``_Extract.load``) and the one
writer (``_Load.execute``) raise the package hint when the jar is
absent.
"""

from __future__ import annotations

from typing import Any, ClassVar

from arc_jupyter_spark.context import ArcContext
from arc_jupyter_spark.operators.load import _Load, _UriLoad
from arc_jupyter_spark.plans.pipeline import PipelineStage, register_stage
from arc_jupyter_spark.sources.extract import _StreamExtract, _UriExtract

_DELTA = "io.delta:delta-spark"
_KAFKA = "org.apache.spark:spark-sql-kafka-0-10"
_CASSANDRA = "com.datastax.spark:spark-cassandra-connector"
_ELASTICSEARCH = "org.elasticsearch:elasticsearch-spark-30"
_MONGODB = "org.mongodb.spark:mongo-spark-connector"


@register_stage
class DeltaLakeExtract(_UriExtract):
    """Read a Delta table (time travel via ``versionAsOf``/``timestampAsOf``)."""

    stage_type = "DeltaLakeExtract"
    format_name = "delta"
    package = _DELTA


@register_stage
class DeltaLakeLoad(_UriLoad):
    """Write a view as a Delta table (ACID upsert target at scale)."""

    stage_type = "DeltaLakeLoad"
    format_name = "delta"
    package = _DELTA


@register_stage
class KafkaExtract(_StreamExtract):
    """Read a Kafka topic (batch or streaming); value stays binary."""

    stage_type = "KafkaExtract"
    format_name = "kafka"
    package = _KAFKA

    bootstrap_servers: str = ""
    topic: str = ""
    starting_offsets: str = "earliest"

    def default_options(self) -> dict[str, Any]:
        return {
            "kafka.bootstrap.servers": self.bootstrap_servers,
            "subscribe": self.topic,
            "startingOffsets": self.starting_offsets,
        }


@register_stage
class KafkaLoad(_Load):
    """Write ``[key,] value`` rows to a Kafka topic."""

    stage_type = "KafkaLoad"
    format_name = "kafka"
    package = _KAFKA
    #: not a key: Kafka's batch sink only appends
    save_mode: ClassVar[str] = "append"

    bootstrap_servers: str = ""
    topic: str = ""

    def default_options(self) -> dict[str, Any]:
        return {"kafka.bootstrap.servers": self.bootstrap_servers, "topic": self.topic}


@register_stage
class KafkaCommitExecute(PipelineStage):
    """Commit consumer-group offsets after downstream success
    (reference: SURVEY.md §2.B — exactly-once-ish chaining).

    Spark's Kafka source manages offsets in its own checkpoints; this
    stage exists for pipelines that coordinate with non-Spark consumers
    via group offsets. Requires a Kafka client — absent here, execution
    raises with guidance.
    """

    stage_type = "KafkaCommitExecute"
    stage_kind = "execute"

    bootstrap_servers: str = ""
    group_id: str = ""
    input_view: str = ""

    def execute(self, ctx: ArcContext) -> None:
        raise RuntimeError(
            "KafkaCommitExecute needs a Kafka client (kafka-python or the "
            "JVM consumer); prefer Spark-checkpoint offset management "
            "(KafkaExtract streaming + checkpointLocation) where possible"
        )


@register_stage
class CassandraExtract(_UriExtract):
    """Read a Cassandra table (options: keyspace, table)."""

    stage_type = "CassandraExtract"
    format_name = "org.apache.spark.sql.cassandra"
    package = _CASSANDRA


@register_stage
class CassandraLoad(_Load):
    """Write a view to a Cassandra table (options: keyspace, table)."""

    stage_type = "CassandraLoad"
    format_name = "org.apache.spark.sql.cassandra"
    package = _CASSANDRA


@register_stage
class ElasticsearchExtract(_UriExtract):
    """Read an Elasticsearch index (inputURI = index/type resource)."""

    stage_type = "ElasticsearchExtract"
    format_name = "org.elasticsearch.spark.sql"
    package = _ELASTICSEARCH


@register_stage
class ElasticsearchLoad(_Load):
    """Write a view to an Elasticsearch index."""

    stage_type = "ElasticsearchLoad"
    format_name = "org.elasticsearch.spark.sql"
    package = _ELASTICSEARCH


@register_stage
class MongoDBExtract(_UriExtract):
    """Read a MongoDB collection (options: connection.uri, database,
    collection)."""

    stage_type = "MongoDBExtract"
    format_name = "mongodb"
    package = _MONGODB


@register_stage
class MongoDBLoad(_Load):
    """Write a view to a MongoDB collection."""

    stage_type = "MongoDBLoad"
    format_name = "mongodb"
    package = _MONGODB


@register_stage
class SASExtract(_UriExtract):
    """Read a sas7bdat dataset (inputURI = path)."""

    stage_type = "SASExtract"
    format_name = "com.github.saurfang.sas.spark"
    package = "saurfang:spark-sas7bdat"
