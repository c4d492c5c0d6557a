"""Pipeline parsing, stage registry, and end-to-end runs
(reference: ArcInterpreter.scala:398-457 cell → stages → run)."""

import dataclasses
import inspect
import json

import pytest

from arc_jupyter_spark.operators.execute import ValidationError
from arc_jupyter_spark.plans.pipeline import (
    STAGE_REGISTRY,
    PipelineStage,
    _camel,
    _snake,
    parse_pipeline,
    run_pipeline,
    stage_from_config,
)

from tests.conftest import SF_DIR


def test_snake_case_handles_acronyms():
    assert _snake("inputURI") == "input_uri"
    assert _snake("outputView") == "output_view"
    assert _snake("sqlParams") == "sql_params"
    assert _snake("numPartitions") == "num_partitions"
    assert _snake("persist") == "persist"


def test_unknown_stage_lists_known_types():
    with pytest.raises(ValueError, match="ParquetExtract"):
        stage_from_config({"type": "NopeStage", "name": "x"})


def test_parse_pipeline_accepts_json_text_dict_and_list():
    cfg = {"type": "SQLTransform", "name": "t", "sql": "SELECT 1 AS one"}
    assert len(parse_pipeline(json.dumps({"stages": [cfg]}))) == 1
    assert len(parse_pipeline({"stages": [cfg, cfg]})) == 2
    assert len(parse_pipeline([cfg])) == 1


def test_extract_sql_validate_end_to_end(ctx):
    stages = parse_pipeline(
        {
            "stages": [
                {
                    "type": "ParquetExtract",
                    "name": "e",
                    "inputURI": f"{SF_DIR}/region.parquet",
                    "outputView": "pipe_region",
                },
                {
                    "type": "SQLTransform",
                    "name": "t",
                    "sql": "SELECT count(*) AS n FROM pipe_region",
                    "outputView": "pipe_cnt",
                },
                {
                    "type": "SQLValidate",
                    "name": "v",
                    "sql": "SELECT n = 5 AS valid, 'ok' AS message FROM pipe_cnt",
                },
            ]
        }
    )
    run_pipeline(stages, ctx)
    assert ctx.table("pipe_cnt").first()["n"] == 5


def test_failing_sqlvalidate_raises(ctx):
    stages = parse_pipeline(
        [{"type": "SQLValidate", "name": "v",
          "sql": "SELECT false AS valid, 'boom' AS message"}]
    )
    with pytest.raises(ValidationError, match="boom"):
        run_pipeline(stages, ctx)


def test_missing_input_uri_is_a_clear_error(ctx):
    stages = parse_pipeline([{"type": "ParquetExtract", "name": "e"}])
    with pytest.raises(ValueError, match="inputURI is required"):
        run_pipeline(stages, ctx)


def test_environments_filtering(ctx):
    stages = parse_pipeline(
        [
            {"type": "SQLTransform", "name": "always",
             "sql": "SELECT 1 AS v", "outputView": "env_always"},
            {"type": "SQLTransform", "name": "prod_only",
             "environments": ["production"],
             "sql": "SELECT 2 AS v", "outputView": "env_prod"},
        ]
    )
    run_pipeline(stages, ctx, environment="test")
    assert "env_always" in ctx.view_names()
    assert "env_prod" not in ctx.view_names()


def test_param_substitution_in_sql(ctx):
    ctx.env["threshold"] = "3"
    stages = parse_pipeline(
        [{"type": "SQLTransform", "name": "t",
          "sql": "SELECT ${threshold} AS v, ${missing=9} AS d",
          "outputView": "param_out"}]
    )
    run_pipeline(stages, ctx)
    row = ctx.table("param_out").first()
    assert (row["v"], row["d"]) == (3, 9)


# -- declared stage keys -----------------------------------------------


def test_every_stage_declares_its_keys_once_as_fields():
    assert len(STAGE_REGISTRY) == 55
    assert not any(p.kind is p.VAR_KEYWORD
                   for p in inspect.signature(PipelineStage).parameters.values())
    for stage_type, cls in sorted(STAGE_REGISTRY.items()):
        # every constructor on the way up is the generated dataclass one
        for klass in cls.__mro__:
            init = vars(klass).get("__init__") if issubclass(klass, PipelineStage) else None
            assert init is None or init.__code__.co_filename == "<string>", klass
        declared = {f.name for f in dataclasses.fields(cls) if f.init}
        assert {"name", "description", "id", "environments"} <= declared
        assert not {"type", "stage_type", "value"} & declared, stage_type
        for name in declared:
            assert _snake(_camel(name)) == name, (stage_type, name)
        for key in ("bogusKey", "stageType", "value"):
            with pytest.raises(ValueError, match=f"{stage_type}: invalid attribute '{key}'"):
                stage_from_config({"type": stage_type, "name": "n", key: 1})


def test_bare_string_environments_is_one_environment(ctx):
    stages = parse_pipeline("""
    {
      type = SQLTransform
      environments = production
      sql = "SELECT 1 AS v"
      outputView = env_bare
    }
    """)
    assert stages[0].environments == ("production",)
    for environment in ("prod", "duct", "", None):
        run_pipeline(stages, ctx, environment=environment)
        assert "env_bare" not in ctx.view_names()
    run_pipeline(stages, ctx, environment="production")
    assert "env_bare" in ctx.view_names()


def test_misspelt_key_names_the_nearest_declared_key():
    with pytest.raises(ValueError, match="'outptView', perhaps you meant outputView"):
        parse_pipeline("{type: SQLTransform, outptView: x, sql: \"SELECT 1\"}")


def test_arc_description_and_id_are_accepted_and_inert():
    stage = stage_from_config({"type": "SQLTransform", "id": "0001",
                               "description": "the first stage", "sql": "SELECT 1"})
    assert (stage.id, stage.description, stage.name) == ("0001", "the first stage", "SQLTransform")


def test_hocon_sql_params_substitute_into_the_sql(ctx):
    stages = parse_pipeline("""
    {
      type = SQLTransform
      sql = "SELECT ${a} AS x"
      sqlParams { a = 1 }
      outputView = sql_params_out
    }
    """)
    run_pipeline(stages, ctx)
    assert ctx.table("sql_params_out").first()["x"] == 1
    # Arc's generic ``params`` is read as sqlParams
    stages = parse_pipeline([{"type": "SQLTransform", "sql": "SELECT ${a} AS x",
                              "params": {"a": 2}, "outputView": "params_out"}])
    run_pipeline(stages, ctx)
    assert ctx.table("params_out").first()["x"] == 2
