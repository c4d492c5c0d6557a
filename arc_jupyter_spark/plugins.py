"""Plugin registry: the Python re-expression of Arc's ServiceLoader
discovery (reference: ArcInterpreter.scala:309-336).

Four extension points, mirroring the reference's traits:

- **pipeline stages** — already covered by
  :func:`arc_jupyter_spark.plans.pipeline.register_stage`.
- **UDF plugins** — callables ``f(spark) -> None`` that register UDFs.
- **dynamic configuration plugins** — callables ``f(ctx) -> dict`` whose
  result merges into the session env (``%configplugin``).
- **lifecycle plugins** — before/after hooks around each stage
  (``%lifecycleplugin``; reference: OutputTable.scala:65-85).

Third-party packages can also expose stages/plugins through the
``arc_jupyter_spark.plugins`` entry-point group; :func:`load_entry_points`
imports them on demand (the Python analog of ServiceLoader discovery).
"""

from __future__ import annotations

from typing import Any, Callable, Protocol

from arc_jupyter_spark.context import ArcContext

UDF_PLUGINS: dict[str, Callable[..., None]] = {}
CONFIG_PLUGINS: dict[str, Callable[[ArcContext], dict[str, Any]]] = {}
LIFECYCLE_PLUGINS: dict[str, "LifecyclePlugin"] = {}


class LifecyclePlugin(Protocol):
    def before(self, stage, ctx: ArcContext) -> None: ...

    def after(self, stage, result, ctx: ArcContext) -> None: ...


def register_udf_plugin(name: str):
    def deco(fn):
        UDF_PLUGINS[name] = fn
        return fn

    return deco


def register_config_plugin(name: str):
    def deco(fn):
        CONFIG_PLUGINS[name] = fn
        return fn

    return deco


def register_lifecycle_plugin(name: str, plugin: LifecyclePlugin) -> None:
    LIFECYCLE_PLUGINS[name] = plugin


def run_config_plugin(name: str, ctx: ArcContext) -> dict[str, Any]:
    try:
        plugin = CONFIG_PLUGINS[name]
    except KeyError:
        raise ValueError(
            f"unknown config plugin '{name}'; known: {sorted(CONFIG_PLUGINS)}"
        ) from None
    resolved = plugin(ctx)
    ctx.env.update({k: str(v) for k, v in resolved.items()})
    return resolved


class RenderStagesPlugin:
    """Built-in lifecycle plugin: render every stage's result as it
    completes (the reference's intermediate-stage display,
    OutputTable.scala:65-85 / CHANGELOG.md:142).

    Collected renders are available on ``.outputs`` as
    ``(stage_name, text_table)`` pairs; a kernel frontend can stream
    them to the cell as display updates.
    """

    def __init__(self, num_rows: int = 5, truncate: int = 50) -> None:
        self.num_rows = num_rows
        self.truncate = truncate
        self.outputs: list[tuple[str, str]] = []

    def before(self, stage, ctx: ArcContext) -> None:
        pass

    def after(self, stage, result, ctx: ArcContext) -> None:
        if result is None or getattr(result, "isStreaming", False):
            return
        from arc_jupyter_spark.render import render_text, take_formatted

        header, body = take_formatted(result, num_rows=self.num_rows,
                                      truncate=self.truncate)
        self.outputs.append((stage.name, render_text(header, body)))


def load_entry_points(group: str = "arc_jupyter_spark.plugins") -> list[str]:
    """Import plugin modules advertised via package entry points."""
    from importlib.metadata import entry_points

    loaded = []
    for ep in entry_points(group=group):
        ep.load()
        loaded.append(ep.name)
    return loaded
