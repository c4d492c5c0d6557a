"""Stage abstraction + registry + pipeline runner.

The reference discovers PipelineStagePlugin implementations via
ServiceLoader (reference: ArcInterpreter.scala:309-336), parses a HOCON
config into an ordered stage list (ArcInterpreter.scala:404, 423), and
executes them sequentially (ArcInterpreter.scala:441), with lifecycle
hooks after each stage (OutputTable.scala:65-85). Here: a plain class
registry, JSON configs, and a sequential runner with optional
after-stage callbacks.
"""

from __future__ import annotations

import abc
import json
import re
from typing import Any, Callable

from pyspark.sql import DataFrame

from arc_jupyter_spark.context import ArcContext
from arc_jupyter_spark.plans.sqlparams import inject_parameters

STAGE_REGISTRY: dict[str, type["PipelineStage"]] = {}


def register_stage(cls: type["PipelineStage"]) -> type["PipelineStage"]:
    """Class decorator: register under the Arc stage type name."""
    STAGE_REGISTRY[cls.stage_type] = cls
    return cls


class PipelineStage(abc.ABC):
    """One pipeline stage.

    Common parameters shared by every Arc stage: ``name``,
    ``environments``, ``inputView``/``outputView`` where applicable,
    ``persist``, ``numPartitions``, ``partitionBy``, ``params``.
    """

    stage_type: str = "AbstractStage"
    #: 'extract' | 'transform' | 'load' | 'execute' | 'validate'
    stage_kind: str = "transform"
    #: what the stage yields that is not a DataFrame (a validation
    #: message, a logged value, a config object); set by ``execute``
    value: Any = None

    def __init__(
        self,
        name: str | None = None,
        environments: tuple[str, ...] = (),
        persist: bool = False,
        num_partitions: int | None = None,
        partition_by: tuple[str, ...] = (),
        params: dict[str, str] | None = None,
        **extra: Any,
    ) -> None:
        self.name = name or self.stage_type
        self.environments = tuple(environments)
        self.persist = persist
        self.num_partitions = num_partitions
        self.partition_by = tuple(partition_by)
        self.params = dict(params or {})
        self.extra = extra

    # -- helpers shared across stages ---------------------------------

    def repartition(self, df: DataFrame) -> DataFrame:
        """Apply numPartitions/partitionBy (Arc common params).

        ``partitionBy`` without an explicit count lets Spark/AQE pick;
        both together give hash partitioning on the named columns — at
        scale this is how a pipeline pre-co-locates a downstream join.
        """
        if self.partition_by:
            cols = list(self.partition_by)
            if self.num_partitions:
                return df.repartition(self.num_partitions, *cols)
            return df.repartition(*cols)
        if self.num_partitions:
            return df.repartition(self.num_partitions)
        return df

    def substitute(self, text: str, ctx: ArcContext) -> str:
        return inject_parameters(text, ctx.merged_params(self.params))

    @abc.abstractmethod
    def execute(self, ctx: ArcContext) -> DataFrame | None:
        """Run the stage; return its result DataFrame (or None)."""


def _snake(key: str) -> str:
    """camelCase → snake_case, treating acronym runs as one word
    (``inputURI`` → ``input_uri``, ``outputView`` → ``output_view``)."""
    s = re.sub(r"(.)([A-Z][a-z]+)", r"\1_\2", key)
    return re.sub(r"([a-z0-9])([A-Z])", r"\1_\2", s).lower()


def stage_from_config(config: dict[str, Any]) -> PipelineStage:
    """Instantiate a registered stage from an Arc-style config dict.

    ``{"type": "SQLTransform", "name": ..., "sql": ..., ...}`` —
    camelCase keys are normalized to the snake_case constructor args.
    """
    config = dict(config)
    stage_type = config.pop("type")
    try:
        cls = STAGE_REGISTRY[stage_type]
    except KeyError:
        raise ValueError(
            f"unknown stage type '{stage_type}'; known: {sorted(STAGE_REGISTRY)}"
        ) from None
    kwargs = {_snake(k): v for k, v in config.items()}
    return cls(**kwargs)


def parse_pipeline(
    config: str | dict[str, Any] | list[dict[str, Any]],
    env: dict[str, str] | None = None,
) -> list[PipelineStage]:
    """Parse a pipeline config (HOCON or JSON text, dict with
    'stages', or list).

    The reference cell language is HOCON (``ArcInterpreter.scala:404``
    parses cells with ConfigFactory), so Arc notebook cells with
    unquoted keys, comments, optional commas, triple-quoted SQL and
    ``${ENV}`` substitution all parse here. Strict JSON is a subset;
    it is tried first as the fast path. ``env`` resolves config-level
    ``${NAME}`` substitutions AT PARSE TIME (so adjacency
    concatenation like ``${BASE}"/file.csv"`` joins correctly —
    textual pre-substitution would weld the quotes into the value);
    ``${param}`` inside quoted SQL strings is deliberately untouched
    here and resolves at stage runtime.

    After parsing, ``${param}`` / ``${param=default}`` placeholders
    INSIDE string values (quoted strings — which HOCON substitution
    deliberately leaves verbatim, e.g. ``outputView = "${JOB}_out"``)
    are resolved against the same ``env``; unresolved names are left
    intact for the stage-runtime substitution pass (SQL text).
    """
    if isinstance(config, str):
        try:
            config = json.loads(config)
        except json.JSONDecodeError:
            from arc_jupyter_spark.plans.hocon import parse_hocon

            config = parse_hocon(config, env=env)
    if env:
        config = _inject_tree(config, env)
    if isinstance(config, dict):
        config = config.get("stages", [config])
    return [stage_from_config(c) for c in config]


def _inject_tree(node: Any, params: dict[str, str]) -> Any:
    """Recursively resolve ``${param}`` placeholders in string values."""
    if isinstance(node, str):
        return inject_parameters(node, params)
    if isinstance(node, dict):
        return {k: _inject_tree(v, params) for k, v in node.items()}
    if isinstance(node, list):
        return [_inject_tree(v, params) for v in node]
    return node


def run_pipeline(
    stages: list[PipelineStage],
    ctx: ArcContext,
    environment: str | None = None,
    before_stage: Callable[[PipelineStage], None] | None = None,
    after_stage: Callable[[PipelineStage, DataFrame | None], None] | None = None,
) -> DataFrame | None:
    """Execute stages sequentially; return the last stage's DataFrame.

    Stages declaring ``environments`` run only when *environment*
    matches (Arc semantics: an empty list means 'always'). The
    before/after hooks are the lifecycle-plugin attachment points
    (reference: OutputTable.scala:65-85).
    """
    result: DataFrame | None = None
    for stage in stages:
        if stage.environments and environment not in stage.environments:
            continue
        if before_stage is not None:
            before_stage(stage)
        out = stage.execute(ctx)
        if out is not None:
            result = out
        if after_stage is not None:
            after_stage(stage, out)
    return result
