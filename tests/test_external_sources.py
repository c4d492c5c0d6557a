"""Connector-stage registry coverage (reference SURVEY.md §2.B plugin
jars: Cassandra/Elasticsearch/MongoDB/SAS + Delta/Kafka). The stage
vocabulary must always parse; execution without the connector package
must raise an actionable hint naming the package."""

import dataclasses

import pytest

from arc_jupyter_spark.plans.pipeline import STAGE_REGISTRY, _camel, parse_pipeline, run_pipeline

CONNECTOR_STAGES = [
    "CassandraExtract", "CassandraLoad",
    "ElasticsearchExtract", "ElasticsearchLoad",
    "MongoDBExtract", "MongoDBLoad",
    "SASExtract",
    "DeltaLakeExtract", "DeltaLakeLoad",
    "KafkaExtract", "KafkaLoad", "KafkaCommitExecute",
]


def test_connector_stages_registered():
    missing = [s for s in CONNECTOR_STAGES if s not in STAGE_REGISTRY]
    assert not missing, f"unregistered connector stages: {missing}"


def test_connector_stage_parses_from_hocon():
    stages = parse_pipeline(
        """
        {
          type = CassandraExtract
          name = read users
          outputView = cass_users
          options { keyspace = app, table = users }
        }
        """
    )
    assert stages[0].stage_type == "CassandraExtract"
    assert stages[0].options == {"keyspace": "app", "table": "users"}


def _has_source(spark, fmt):
    lookup = spark._jvm.org.apache.spark.sql.execution.datasources.DataSource
    try:
        lookup.lookupDataSource(fmt, spark._jsparkSession.sessionState().conf())
        return True
    except Exception:
        return False


# every stage whose format names a package, read or write; the four
# connector extracts check a short form of the hint
_SHORT_HINTS = {
    "CassandraExtract": "spark-cassandra-connector",
    "ElasticsearchExtract": "elasticsearch-spark",
    "MongoDBExtract": "mongo-spark-connector",
    "SASExtract": "spark-sas7bdat",
}


@pytest.mark.parametrize("stage_type,package_hint", sorted(
    (t, _SHORT_HINTS.get(t, c.package))
    for t, c in STAGE_REGISTRY.items() if getattr(c, "package", "")
))
def test_missing_connector_raises_package_hint(ctx, tmp_path, stage_type, package_hint):
    cls = STAGE_REGISTRY[stage_type]
    if _has_source(ctx.spark, cls.format_name):
        pytest.skip(f"{cls.format_name} is on the classpath")
    if cls.stage_kind == "load":
        ctx.register(ctx.spark.range(3), "hint_src")
        config = {"inputView": "hint_src", "outputURI": str(tmp_path / "out")}
    else:
        config = {"outputView": f"probe_{stage_type.lower()}", "inputURI": "/tmp/nonexistent"}
    declared = {_camel(f.name) for f in dataclasses.fields(cls)}
    stages = parse_pipeline([{
        "type": stage_type, "name": "probe",
        **{k: v for k, v in config.items() if k in declared},
    }])
    with pytest.raises(RuntimeError, match="not on the Spark classpath") as exc_info:
        run_pipeline(stages, ctx)
    assert package_hint in str(exc_info.value)


def test_format_stages_read_and_write_through_one_method():
    from arc_jupyter_spark.operators.load import _Load
    from arc_jupyter_spark.sources.extract import _Extract

    extracts = [c for c in STAGE_REGISTRY.values() if issubclass(c, _Extract)]
    loads = [c for c in STAGE_REGISTRY.values() if issubclass(c, _Load)]
    assert len(extracts) == 16 and len(loads) == 13
    assert all(c.load is _Extract.load for c in extracts)
    assert all(c.execute is _Load.execute for c in loads)
