"""The cell language: ``%magic`` commands over the stage engine.

Re-expression of the reference kernel's dispatch surface (reference:
ArcInterpreter.scala:242-296 dispatch table; 298-306 common options;
663-677 quote-aware arg parser; 400-402 secret scan; 246-258 stage
magics compiled to stage configs, with placeholder outputView
injection; 600 placeholder cleanup). The interpreter is
frontend-agnostic: it returns a :class:`CellResult`
(DataFrame + rendered text/HTML) and never talks to Jupyter directly —
a kernel shell is a thin wrapper over :meth:`Interpreter.execute`.
"""

from __future__ import annotations

import functools
import json
import os
import re
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any, Callable

from pyspark.sql import DataFrame

from arc_jupyter_spark import __version__, render
from arc_jupyter_spark.context import ArcContext, STORAGE_LEVELS
from arc_jupyter_spark.operators.metadata import (
    metadata_dataframe,
    schema_to_arc_metadata,
)
from arc_jupyter_spark.plans.pipeline import parse_pipeline, run_pipeline
from arc_jupyter_spark.plans.sqlparams import inject_parameters
from arc_jupyter_spark.render import render_html, render_text
from arc_jupyter_spark.streaming.preview import preview_stream

# Plain-text secrets are rejected from cell bodies
# (reference: ArcInterpreter.scala:74, 400-402).
SECRET_PATTERN = re.compile(
    r'"(token|signature|accessKey|secret|secretAccessKey)"\s*:\s*"'
)

# Magics that compile to one registered stage, with the SQL body as its
# ``sql`` (reference: ArcInterpreter.scala:246-258).
STAGE_MAGICS = {
    "sql": "SQLTransform",
    "sqlvalidate": "SQLValidate",
    "log": "LogExecute",
    "configexecute": "ConfigExecute",
    "metadatafilter": "MetadataFilterTransform",
    "metadatavalidate": "MetadataValidate",
}


@dataclass
class CellResult:
    """What a cell produced: a DataFrame and/or rendered output."""

    df: DataFrame | None = None
    text: str | None = None
    html: str | None = None
    data: Any = None


def parse_args(line: str) -> dict[str, str]:
    """Quote-aware ``key=value`` splitter
    (reference: ArcInterpreter.scala:663-677)."""
    out: dict[str, str] = {}
    for match in re.finditer(r'(\w+)=("([^"]*)"|\S+)', line):
        key, raw, quoted = match.group(1), match.group(2), match.group(3)
        out[key] = quoted if quoted is not None else raw
    return out


def _bool(value: str | None, default: bool = False) -> bool:
    if value is None:
        return default
    return value.strip().lower() in ("true", "1", "yes")


def _int(value: str | None, default: int) -> int:
    try:
        return int(value) if value is not None else default
    except ValueError:
        return default


def stage_config(magic: str, args: dict[str, str], body: str) -> dict[str, Any]:
    """The stage config a stage magic compiles to, with the types HOCON
    would give: ``persist`` a bool, ``environments`` (``a,b``) a list,
    ``sqlParams`` (``k=v,...``) an object."""
    config: dict[str, Any] = {"type": STAGE_MAGICS[magic], "sql": body}
    config.update({k: args[k] for k in ("name", "inputView", "outputView") if k in args})
    if "persist" in args:
        config["persist"] = _bool(args["persist"])
    if args.get("environments"):
        config["environments"] = [e.strip() for e in args["environments"].split(",") if e.strip()]
    if args.get("sqlParams"):
        pairs = (p.split("=", 1) for p in args["sqlParams"].split(",") if "=" in p)
        config["sqlParams"] = {k.strip(): v.strip() for k, v in pairs}
    return config


def _default_session_factory(master: str, old_session=None):
    """Stop *old_session* and build a fresh one on *master* — the
    reference's `%conf master` behavior (ArcInterpreter.scala:
    520-526). Only invoked when ``restart_on_master_change`` is set
    (the kernel frontend); tests inject a fake factory instead.

    The interpreter passes its OWN ``ctx.spark`` as *old_session*;
    stopping ``SparkSession.getActiveSession()`` instead would be
    wrong in multi-session embedders (the thread-local active session
    may be a different — or already cleared — session, so the restart
    would silently return the old JVM session via getOrCreate or stop
    an unrelated one)."""
    from arc_jupyter_spark.session import build_session

    if old_session is not None:
        old_session.stop()
    return build_session(master=master)


class Interpreter:
    """Executes cells against an :class:`ArcContext`.

    ``input_fn`` supplies ``%secret`` values (a Jupyter kernel wires
    this to the stdin password protocol; tests inject a dict lookup).
    """

    def __init__(
        self,
        ctx: ArcContext | None = None,
        spark=None,
        input_fn: Callable[[str], str] | None = None,
        html: bool = True,
        restart_on_master_change: bool = False,
        session_factory: Callable[[str, Any], Any] | None = None,
    ) -> None:
        if ctx is None:
            if spark is None:
                from arc_jupyter_spark.session import build_session

                spark = build_session()
            ctx = ArcContext(spark=spark)
        self.ctx = ctx
        self.input_fn = input_fn
        self.html = html
        # reference parity (ArcInterpreter.scala:520-526): the KERNEL
        # restarts Spark when %conf master changes; a library session
        # keeps its JVM unless the embedder opts in
        self.restart_on_master_change = restart_on_master_change
        self.session_factory = session_factory or _default_session_factory
        from arc_jupyter_spark.observability import attach_log_buffer

        self.log_buffer = attach_log_buffer()
        self.lifecycle: list[str] = []

    # -- dispatch ------------------------------------------------------

    def execute(self, cell: str) -> CellResult:
        cell = cell.strip()
        if not cell:
            return CellResult(text="")
        if SECRET_PATTERN.search(cell):
            raise ValueError(
                "cell contains a plain-text secret; use %secret / %env instead"
            )
        first, _, rest = cell.partition("\n")
        first = first.strip()
        if first.startswith("%"):
            parts = first.split(None, 1)
            magic = parts[0][1:].lower()
            args = parse_args(parts[1] if len(parts) > 1 else "")
        else:
            # bare cells are full Arc pipeline configs
            # (reference: ArcInterpreter.scala:244, 295)
            magic, args, rest = "arc", {}, cell
        if magic in STAGE_MAGICS:
            stages = parse_pipeline([stage_config(magic, args, rest)])
            run = functools.partial(self._run, stages, args)
        else:
            handler = getattr(self, f"magic_{magic}", None)
            if handler is None:
                raise ValueError(f"unknown magic '%{magic}'")
            run = functools.partial(handler, args, rest)
        streaming = magic == "sql" and _bool(args.get("streaming"), self.ctx.conf.streaming)
        with self.ctx.cell(keep_placeholder=streaming):
            return run()

    # -- rendering helper ---------------------------------------------

    def _render(self, df: DataFrame, args: dict[str, str], label: str | None = None) -> CellResult:
        conf = self.ctx.conf
        num_rows = _int(args.get("numRows"), conf.num_rows)
        truncate = _int(args.get("truncate"), conf.truncate)
        if df.isStreaming:
            df = preview_stream(
                df,
                num_rows=num_rows,
                duration_s=_int(args.get("streamingDuration"), conf.streaming_duration),
                frequency_ms=conf.streaming_frequency_ms,
            )
        # one Spark action per cell: both formats render from this take
        header, body = render.take_formatted(
            df, num_rows=num_rows, max_num_rows=conf.max_num_rows, truncate=truncate
        )
        text = render_text(header, body)
        if _bool(args.get("showLog"), conf.show_log):
            last = self.log_buffer.last_message()
            if last:
                text = f"{text}\n{last}"
        html = (
            render_html(
                header,
                body,
                monospace=_bool(args.get("monospace"), conf.monospace),
                left_align=_bool(args.get("leftAlign"), conf.left_align),
                label=label if _bool(args.get("datasetLabels"), conf.dataset_labels) else None,
            )
            if self.html
            else None
        )
        return CellResult(df=df, text=text, html=html)

    # -- metadata magics ----------------------------------------------

    def magic_metadata(self, args: dict[str, str], body: str) -> CellResult:
        df = metadata_dataframe(self.ctx.spark, self.ctx.table(body.strip()))
        view = args.get("outputView")
        if view:
            self.ctx.register(df, view, persist=_bool(args.get("persist")))
        return self._render(df, args, label=view)

    def magic_printmetadata(self, args: dict[str, str], body: str) -> CellResult:
        doc = schema_to_arc_metadata(self.ctx.table(body.strip()))
        return CellResult(text=json.dumps(doc, indent=2), data=doc)

    def magic_schema(self, args: dict[str, str], body: str) -> CellResult:
        schema = self.ctx.table(body.strip()).schema
        return CellResult(text=json.dumps(schema.jsonValue(), indent=2),
                          data=schema.jsonValue())

    def magic_printschema(self, args: dict[str, str], body: str) -> CellResult:
        return CellResult(text=self.ctx.table(body.strip()).schema.treeString())

    def magic_plan(self, args: dict[str, str], body: str) -> CellResult:
        """Physical plan + scale-advisor findings for a view (an
        engine-native addition: the 100 TB checklist this repo's plan
        gates enforce, surfaced to the notebook before a job ships)."""
        from arc_jupyter_spark.plans.advisor import analyze_plan, plan_string, report

        view = body.strip()
        if not view:
            raise ValueError("%plan expects a view name on the next line")
        plan = plan_string(self.ctx.table(view))
        findings = analyze_plan(plan)
        return CellResult(text=report(findings, plan), data=[f.__dict__ for f in findings])

    # -- session magics ------------------------------------------------

    def magic_env(self, args: dict[str, str], body: str) -> CellResult:
        """Set substitution variables from K=V lines
        (reference: ArcInterpreter.scala:500-505, 650-660)."""
        text = (body or "").strip()
        for line in text.splitlines():
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            if "=" not in line:
                raise ValueError(f"%env expects KEY=VALUE lines, got: {line!r}")
            key, value = line.split("=", 1)
            self.ctx.env[key.strip()] = value.strip()
        for key, value in args.items():
            self.ctx.env[key] = value
        shown = "\n".join(f"{k}={v}" for k, v in sorted(self.ctx.env.items()))
        return CellResult(text=shown, data=dict(self.ctx.env))

    def magic_secret(self, args: dict[str, str], body: str) -> CellResult:
        """Prompt-and-store masked secrets
        (reference: ArcInterpreter.scala:506-518)."""
        if self.input_fn is None:
            import getpass

            input_fn = lambda key: getpass.getpass(f"{key}: ")  # noqa: E731
        else:
            input_fn = self.input_fn
        names = [w for w in (body or "").split() if w]
        for key in names:
            self.ctx.secrets[key] = input_fn(key)
        masked = "\n".join(f"{k}=******" for k in names)
        return CellResult(text=masked)

    def magic_conf(self, args: dict[str, str], body: str) -> CellResult:
        """Session conf (reference: ArcInterpreter.scala:519-559).

        ``master`` changes restart Spark when the embedder opted in
        (``restart_on_master_change`` — the kernel frontend does,
        matching the reference's stop-and-rebuild at
        ArcInterpreter.scala:520-526); a library session keeps its JVM
        and only records the value.
        """
        conf = self.ctx.conf
        old_master = getattr(conf, "master", None)
        mapping: dict[str, Callable[[str], None]] = {
            "master": lambda v: setattr(conf, "master", v),
            "numRows": lambda v: setattr(conf, "num_rows", int(v)),
            "maxNumRows": lambda v: setattr(conf, "max_num_rows", int(v)),
            "truncate": lambda v: setattr(conf, "truncate", int(v)),
            "streaming": lambda v: setattr(conf, "streaming", _bool(v)),
            "streamingDuration": lambda v: setattr(conf, "streaming_duration", int(v)),
            "monospace": lambda v: setattr(conf, "monospace", _bool(v)),
            "leftAlign": lambda v: setattr(conf, "left_align", _bool(v)),
            "datasetLabels": lambda v: setattr(conf, "dataset_labels", _bool(v)),
            "showLog": lambda v: setattr(conf, "show_log", _bool(v)),
            "extendedErrors": lambda v: setattr(conf, "extended_errors", _bool(v)),
            "storageLevel": lambda v: setattr(conf, "storage_level", v.upper()),
            "environment": lambda v: setattr(self.ctx, "environment", v or None),
        }
        for key, value in args.items():
            if key not in mapping:
                raise ValueError(f"unknown %conf key '{key}'; known: {sorted(mapping)}")
            if key == "storageLevel" and value.upper() not in STORAGE_LEVELS:
                raise ValueError(
                    f"unknown storageLevel '{value}'; known: {sorted(STORAGE_LEVELS)}"
                )
            mapping[key](value)
        if (
            self.restart_on_master_change
            and "master" in args
            and args["master"] != old_master
        ):
            self._restart_session(args["master"])
        shown = "\n".join(
            f"{k}={getattr(conf, a)}"
            for k, a in (
                ("master", "master"), ("numRows", "num_rows"),
                ("truncate", "truncate"), ("streaming", "streaming"),
                ("streamingDuration", "streaming_duration"),
                ("monospace", "monospace"), ("leftAlign", "left_align"),
                ("datasetLabels", "dataset_labels"), ("showLog", "show_log"),
                ("storageLevel", "storage_level"),
            )
        )
        return CellResult(text=shown)

    def _restart_session(self, master: str) -> None:
        """Stop and rebuild Spark against the new master, carrying the
        display conf, env, and secrets into the fresh context
        (reference: ArcInterpreter.scala:520-526 — `%conf master`
        tears down the session so the next cell executes on the new
        cluster). Registered temp views do NOT survive: they belong to
        the old session, exactly as in the reference. Neither does
        ``user_data`` (lastView, streaming queries): it describes state of
        the torn-down session. Tracked streaming queries are stopped
        FIRST — with an injected factory that keeps the JVM alive,
        they would otherwise keep running untracked after the swap.

        The factory receives ``(master, old_session)`` so it can stop
        exactly this interpreter's session.
        """
        old = self.ctx
        old.stop_streams()
        spark = self.session_factory(master, old.spark)
        self.ctx = ArcContext(
            spark=spark,
            env=old.env,
            secrets=old.secrets,
            conf=old.conf,
            immutable_views=old.immutable_views,
            environment=old.environment,
        )

    def magic_list(self, args: dict[str, str], body: str) -> CellResult:
        """Directory listing as a DataFrame
        [path, name, modificationTime, size, bytes] sorted by name
        (reference: ArcInterpreter.scala:50-56, 570-591)."""
        uri = inject_parameters(body.strip(), self.ctx.merged_params())
        path = uri[len("file://"):] if uri.startswith("file://") else uri
        rows = []
        with os.scandir(path) as entries:
            for entry in entries:
                stat = entry.stat()
                rows.append((
                    os.path.abspath(entry.path),
                    entry.name,
                    datetime.fromtimestamp(stat.st_mtime, tz=timezone.utc),
                    _human_bytes(stat.st_size),
                    stat.st_size,
                ))
        df = self.ctx.spark.createDataFrame(
            rows,
            "path string, name string, modificationTime timestamp, "
            "size string, bytes long",
        ).orderBy("name")
        view = args.get("outputView")
        if view:
            self.ctx.register(df, view, persist=_bool(args.get("persist")))
        return self._render(df, args, label=view)

    def magic_version(self, args: dict[str, str], body: str) -> CellResult:
        info = {
            "arc_jupyter_spark": __version__,
            "spark": self.ctx.spark.version,
        }
        return CellResult(text="\n".join(f"{k}: {v}" for k, v in info.items()),
                          data=info)

    def magic_help(self, args: dict[str, str], body: str) -> CellResult:
        return CellResult(text=HELP_TEXT)

    # -- plugins -------------------------------------------------------

    def magic_configplugin(self, args: dict[str, str], body: str) -> CellResult:
        """Run a registered DynamicConfigurationPlugin; merge its result
        into the session env (reference: ArcInterpreter.scala:459-473)."""
        from arc_jupyter_spark.plugins import run_config_plugin

        resolved = run_config_plugin(body.strip(), self.ctx)
        return CellResult(text=json.dumps(resolved), data=resolved)

    def magic_lifecycleplugin(self, args: dict[str, str], body: str) -> CellResult:
        """Activate a registered lifecycle plugin for subsequent cells
        (reference: ArcInterpreter.scala:426-434)."""
        from arc_jupyter_spark.plugins import LIFECYCLE_PLUGINS

        name = body.strip()
        if name not in LIFECYCLE_PLUGINS:
            raise ValueError(
                f"unknown lifecycle plugin '{name}'; known: {sorted(LIFECYCLE_PLUGINS)}"
            )
        if name not in self.lifecycle:
            self.lifecycle.append(name)
        return CellResult(text=f"lifecycle plugins: {self.lifecycle}")

    # -- pipelines -----------------------------------------------------

    def magic_arc(self, args: dict[str, str], body: str) -> CellResult:
        """Full pipeline config: parse stages, run sequentially
        (reference: ArcInterpreter.scala:398-457). Config is HOCON —
        the reference's actual cell language (unquoted keys, comments,
        optional commas, triple-quoted SQL, ``${ENV}`` substitution);
        strict JSON is accepted as a subset. Config-level ``${NAME}``
        resolves at HOCON parse time (process env overlaid with %env
        vars and secrets) so adjacency concatenation like
        ``${BASE}"/file.csv"`` joins correctly — textual
        pre-substitution would weld the quotes into the value;
        ``${param}`` inside SQL strings resolves at stage runtime."""
        env = dict(os.environ)
        env.update(self.ctx.merged_params())
        return self._run(parse_pipeline(body, env=env), args)

    def _run(self, stages: list, args: dict[str, str]) -> CellResult:
        """Run *stages* with the active lifecycle plugins; render the
        result DataFrame, else show the last stage's ``value``."""
        from arc_jupyter_spark.plugins import LIFECYCLE_PLUGINS

        plugins = [LIFECYCLE_PLUGINS[n] for n in self.lifecycle]

        def before_stage(stage):
            for plugin in plugins:
                plugin.before(stage, self.ctx)

        def after_stage(stage, result):
            for plugin in plugins:
                plugin.after(stage, result, self.ctx)

        df = run_pipeline(
            stages,
            self.ctx,
            environment=self.ctx.environment,
            before_stage=before_stage if plugins else None,
            after_stage=after_stage if plugins else None,
        )
        if df is not None:
            return self._render(df, args, label=getattr(stages[-1], "output_view", None))
        value = stages[-1].value if stages else None
        if value is None:
            return CellResult(text="")
        return CellResult(text=value if isinstance(value, str) else json.dumps(value), data=value)


def format_error(exc: BaseException, extended: bool = False) -> str:
    """Render an exception for cell output.

    ``extended`` concatenates the full cause chain (reference:
    ``extendedErrors``, ArcInterpreter.scala:603-637) — essential for
    Spark errors whose root cause hides several ``__cause__`` hops down.
    """
    if not extended:
        return f"{type(exc).__name__}: {exc}"
    parts = []
    seen: set[int] = set()
    cur: BaseException | None = exc
    while cur is not None and id(cur) not in seen:
        seen.add(id(cur))
        parts.append(f"{type(cur).__name__}: {cur}")
        cur = cur.__cause__ or cur.__context__
    return "\ncaused by: ".join(parts)


def _human_bytes(n: int) -> str:
    size = float(n)
    for unit in ("B", "KB", "MB", "GB", "TB", "PB"):
        if size < 1024 or unit == "PB":
            return f"{size:.1f} {unit}" if unit != "B" else f"{int(size)} B"
        size /= 1024
    return f"{n} B"


#: completion environments injected into snippet templates
#: (reference default: ArcInterpreter confCompletionEnvironments)
COMPLETION_ENVIRONMENTS = "production,test"


def completions(ctx: ArcContext) -> list[dict[str, str]]:
    """Completion snippets mirroring the reference's completer set
    (Common.scala:366-569; OutputTable.scala:98-146): per-magic
    templates with name/environments attributes, dynamic %conf / %env
    snippets reflecting current session state (secrets masked), and —
    per registered table — a ``%sql <table>`` completer whose snippet
    is a flattened-column SELECT plus %metadata / %printmetadata /
    %schema / %printschema shortcuts.

    Each item carries text / type / snippet / language /
    documentation / sortBy, matching the reference's
    ``_jupyter_types_experimental`` payload fields.
    """
    from arc_jupyter_spark.render import flatten_schema

    envs = COMPLETION_ENVIRONMENTS

    def completer(text, type_, snippet, language, documentation=""):
        return {
            "text": text,
            "type": type_,
            "snippet": snippet,
            "language": language,
            "documentation": documentation,
            "sortBy": f"{type_}:{text}",
        }

    doc = "https://arc.tripl.ai"
    items = [
        completer(
            "%sql", "transform",
            f'%sql name="sql" outputView=outputView environments={envs}\n'
            "SELECT\n  *\nFROM inputView",
            "sql", f"{doc}/transform/#sqltransform"),
        completer(
            "%sqlvalidate", "validate",
            f'%sqlvalidate name="sqlvalidate" environments={envs}\n'
            "SELECT\n  TRUE AS valid\n  ,TO_JSON(NAMED_STRUCT('message', 'ok')) AS message",
            "sql", f"{doc}/validate/#sqlvalidate"),
        completer(
            "%log", "execute",
            f'%log name="log" environments={envs}\n'
            "SELECT\n  TO_JSON(\n    NAMED_STRUCT(\n      'key', 'value'\n    )\n  ) AS message",
            "sql", f"{doc}/execute/#logexecute"),
        completer(
            "%configexecute", "execute",
            f'%configexecute name="configexecute" environments={envs}\n'
            "SELECT\n  TO_JSON(\n    NAMED_STRUCT(\n      'key', 'value'\n    )\n  ) AS parameters",
            "sql", f"{doc}/execute/#configexecute"),
        completer(
            "%metadatafilter", "transform",
            f'%metadatafilter name="metadatafiltertransform" inputView=inputView '
            f"outputView=outputView environments={envs}\n"
            "SELECT\n  *\nFROM metadata",
            "sql", f"{doc}/transform/#metadatafiltertransform"),
        completer(
            "%metadatavalidate", "validate",
            f'%metadatavalidate name="metadatavalidate" inputView=inputView '
            f"environments={envs}\n"
            "SELECT\n  SUM(test) = 0\n  ,TO_JSON(NAMED_STRUCT('columns', COUNT(*), "
            "'test', SUM(test)))\nFROM (\n  SELECT\n    CASE WHEN TRUE THEN 1 ELSE 0 END "
            "AS test\n  FROM metadata\n) valid",
            "sql", f"{doc}/validate/#metadatavalidate"),
        completer("%metadata", "execute", "%metadata\nview", "shell"),
        completer("%printmetadata", "execute", "%printmetadata\nview", "shell"),
        completer("%schema", "execute", "%schema\nview", "shell"),
        completer("%printschema", "execute", "%printschema\nview", "shell"),
        completer("%plan", "execute", "%plan\nview", "shell"),
        completer("%list", "execute", "%list\nfile:///path", "shell"),
        completer("%secret", "arc", "%secret\nMY_SECRET", "shell"),
        completer("%version", "arc", "%version", "shell"),
        completer("%help", "arc", "%help", "shell"),
    ]

    # dynamic %conf / %env reflect the live session (reference
    # Common.scala:517-539; secrets masked to their length)
    conf = ctx.conf
    items.append(completer(
        "%conf", "arc",
        "%conf\n"
        f"datasetLabels={conf.dataset_labels}\n"
        f"extendedErrors={conf.extended_errors}\n"
        f"leftAlign={conf.left_align}\n"
        f"showLog={conf.show_log}\n"
        f"monospace={conf.monospace}\n"
        f"numRows={conf.num_rows}\n"
        f"streaming={conf.streaming}\n"
        f"streamingDuration={conf.streaming_duration}\n"
        f"truncate={conf.truncate}",
        "shell"))
    env_lines = sorted(
        [f"{k}={v}" for k, v in ctx.env.items()]
        + [f"{k}={'*' * len(str(v))}" for k, v in ctx.secrets.items()]
    )
    items.append(completer("%env", "arc", "%env\n" + "\n".join(env_lines), "shell"))

    for table in ctx.view_names():
        try:
            cols = flatten_schema(ctx.table(table).schema)
        except Exception:
            continue
        fields = "\n  ,".join(cols)
        items.append(completer(
            f"%sql {table}", "transform",
            f'%sql name="{table}" outputView=outputView environments={envs}\n'
            f"SELECT\n  {fields}\nFROM {table}",
            "sql", f"{doc}/transform/#sqltransform"))
        for magic in ("%metadata", "%printmetadata", "%schema", "%printschema"):
            items.append(completer(
                f"{magic} {table}", "execute", f"{magic}\n{table}", "shell"))
    return items


HELP_TEXT = """\
Magics:
  %sql [outputView=]           run SQL, register result
  %sqlvalidate                 assert [valid, message] result
  %metadata [outputView=]      schema+metadata as a DataFrame
  %metadatafilter inputView= [outputView=]   keep columns whose metadata matches SQL
  %metadatavalidate inputView= assert over the metadata table
  %configexecute               merge JSON result into session env
  %log                         log a JSON message from SQL
  %schema / %printschema       schema as JSON / tree
  %printmetadata               Arc metadata-schema document
  %plan <view>                 physical plan + scale-advisor findings
  %list <uri>                  directory listing as a DataFrame
  %env KEY=VALUE               session substitution variables
  %secret KEY                  prompt-and-store masked secret
  %conf key=value              session configuration
  %configplugin <name>         run a dynamic-configuration plugin into env
  %lifecycleplugin <name>      hook a lifecycle plugin around later stages
  %version / %help             info
  %arc / (bare cell)           HOCON pipeline of stages
Stage magics (%sql %sqlvalidate %log %configexecute %metadatafilter
  %metadatavalidate) also take: name= persist=
  environments=a,b (run only when %conf environment= is one of them)
  sqlParams=k=v,... (values for ${k} in the SQL)
Cell options: numRows= truncate= streaming= streamingDuration=
  monospace= leftAlign= datasetLabels= showLog=
"""
