"""Stage abstraction + registry + pipeline runner.

The reference discovers PipelineStagePlugin implementations via
ServiceLoader (reference: ArcInterpreter.scala:309-336), parses a HOCON
config into an ordered stage list (ArcInterpreter.scala:404, 423), and
executes them sequentially (ArcInterpreter.scala:441), with lifecycle
hooks after each stage (OutputTable.scala:65-85). Here: a plain class
registry of dataclass stages (each declares its config keys as fields,
and a config naming any other key is rejected), HOCON or JSON configs,
and a sequential runner with optional before/after-stage callbacks.
"""

from __future__ import annotations

import abc
import contextlib
import difflib
import json
import re
from dataclasses import dataclass, field, fields
from typing import Any, Callable, ClassVar, Iterator

from pyspark.sql import DataFrame

from arc_jupyter_spark.context import ArcContext
from arc_jupyter_spark.plans.sqlparams import inject_parameters

STAGE_REGISTRY: dict[str, type["PipelineStage"]] = {}


def register_stage(cls: type["PipelineStage"]) -> type["PipelineStage"]:
    """Class decorator: register under the Arc stage type name."""
    STAGE_REGISTRY[cls.stage_type] = cls
    return cls


@dataclass(kw_only=True, eq=False)
class PipelineStage(abc.ABC):
    """One pipeline stage.

    A stage's config keys are its dataclass fields: ``outputView`` is
    the field ``output_view``, and ``stage_from_config`` rejects a key
    no field declares. Every subclass becomes a keyword-only dataclass
    when it is defined, so declaring a key is declaring a field::

        @register_stage
        class UpperTransform(PipelineStage):
            stage_type = "UpperTransform"
            input_view: str = ""
            output_view: str = ""
            column: str = "value"

    Class constants (``stage_type``, ``stage_kind``, a format's
    ``format_name`` and ``package``) are ``ClassVar``s, not keys. The
    fields here are Arc's common keys; ``description`` and ``id`` are
    accepted on every stage and read by nothing. A list key (a field
    defaulting to a tuple) takes a list or one bare string.
    """

    stage_type: ClassVar[str] = "AbstractStage"
    #: 'extract' | 'transform' | 'load' | 'execute' | 'validate'
    stage_kind: ClassVar[str] = "transform"

    name: str | None = None
    description: str | None = None
    id: str | None = None
    environments: tuple[str, ...] = ()
    persist: bool = False
    num_partitions: int | None = None
    partition_by: tuple[str, ...] = ()
    #: values for the ``${key}`` placeholders in this stage's text
    #: (Arc's ``sqlParams``; its generic ``params`` is read as this)
    sql_params: dict[str, Any] = field(default_factory=dict)
    #: what the stage yields that is not a DataFrame (a validation
    #: message, a logged value, a config object); set by ``execute``
    value: Any = field(default=None, init=False)

    def __init_subclass__(cls, **kwargs: Any) -> None:
        super().__init_subclass__(**kwargs)
        dataclass(kw_only=True, eq=False)(cls)

    def __post_init__(self) -> None:
        self.name = self.name or self.stage_type
        # a list key (default ``()``) stores a tuple; a bare string
        # (HOCON ``environments = production``) is one item, never a
        # string that ``in`` would search for substrings
        for f in fields(self):
            value = getattr(self, f.name)
            if isinstance(f.default, tuple) and not isinstance(value, tuple):
                setattr(self, f.name, (value,) if isinstance(value, str) else tuple(value))

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
        return inject_parameters(text, ctx.merged_params(self.sql_params))

    @abc.abstractmethod
    def execute(self, ctx: ArcContext) -> DataFrame | None:
        """Run the stage; return its result DataFrame (or None)."""


class FormatStage(PipelineStage):
    """A stage backed by one Spark data source: ``format_name`` with
    ``options`` over the concrete stage's ``default_options``.

    String option values get ``${key}`` substitution. Wrap the read or
    write in :meth:`connector`: a source that is not on the classpath
    then raises with the stage's ``package`` hint.
    """

    format_name: ClassVar[str] = ""
    #: the package that provides ``format_name``; "" for a built-in
    package: ClassVar[str] = ""

    options: dict[str, Any] = field(default_factory=dict)

    def default_options(self) -> dict[str, Any]:
        return {}

    def resolved_options(self, ctx: ArcContext) -> dict[str, Any]:
        return {
            k: self.substitute(v, ctx) if isinstance(v, str) else v
            for k, v in {**self.default_options(), **self.options}.items()
        }

    @contextlib.contextmanager
    def connector(self) -> Iterator[None]:
        try:
            yield
        except Exception as exc:
            text = str(exc)
            if self.package and (
                "Failed to find data source" in text or "DATA_SOURCE_NOT_FOUND" in text
            ):
                raise RuntimeError(
                    f"the '{self.format_name}' connector is not on the Spark "
                    f"classpath; add the {self.package} package (e.g. "
                    "spark.jars.packages)"
                ) from exc
            raise


_ACRONYMS = {"uri": "URI", "url": "URL"}


def _snake(key: str) -> str:
    """camelCase → snake_case, treating acronym runs as one word
    (``inputURI`` → ``input_uri``, ``outputView`` → ``output_view``)."""
    s = re.sub(r"(.)([A-Z][a-z]+)", r"\1_\2", key)
    return re.sub(r"([a-z0-9])([A-Z])", r"\1_\2", s).lower()


def _camel(name: str) -> str:
    """The Arc spelling of a field's key (``input_uri`` → ``inputURI``)."""
    head, *rest = name.split("_")
    return head + "".join(_ACRONYMS.get(w, w.capitalize()) for w in rest)


def stage_from_config(config: dict[str, Any]) -> PipelineStage:
    """Instantiate a registered stage from an Arc-style config dict.

    ``{"type": "SQLTransform", "name": ..., "sql": ..., ...}`` —
    camelCase keys are normalized to the snake_case fields. A key the
    stage does not declare raises, naming the nearest declared keys
    (Arc's ``Invalid attribute``).
    """
    config = dict(config)
    stage_type = config.pop("type")
    try:
        cls = STAGE_REGISTRY[stage_type]
    except KeyError:
        raise ValueError(
            f"unknown stage type '{stage_type}'; known: {sorted(STAGE_REGISTRY)}"
        ) from None
    if "params" in config:
        config["sqlParams"] = {**config.pop("params"), **config.get("sqlParams", {})}
    keys = {_camel(f.name): f.name for f in fields(cls) if f.init}
    declared = set(keys.values())
    invalid = {k: difflib.get_close_matches(k, keys, n=3)
               for k in config if _snake(k) not in declared}
    if invalid:
        raise ValueError(f"{stage_type}: " + "; ".join(
            f"invalid attribute '{k}', perhaps you meant "
            + (" or ".join(close) or f"one of {', '.join(sorted(keys))}")
            for k, close in invalid.items()
        ))
    return cls(**{_snake(k): v for k, v in config.items()})


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
