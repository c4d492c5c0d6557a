"""Type-aware result rendering (reference: Common.scala:240-334).

The reference formats INSIDE Spark (one projection producing display
strings) so only ``numRows`` formatted strings ever reach the driver —
the same shape is kept here: a single ``select`` of string columns,
then ``take``. :func:`take_formatted` is the only function here that
runs Spark; :func:`render_text` and :func:`render_html` are pure
formatters over its ``(header, body)`` result, so one take per cell
feeds both formats. Rules (reference: Common.scala:249-285;
SURVEY.md §1.3):

- binary → hex bytes ``[0A FF]``
- double → ``format_number(col, 10)``, commas stripped, trailing
  zeros stripped, never scientific notation
- decimal(p,s) → ``format_number(col, s)``, commas stripped
- timestamp → string + literal ``Z`` suffix (session TZ is UTC)
- date → ``yyyy-MM-dd``
- everything else → cast to string; null → ``"null"``
- duplicate column names → de-duplicated with an index suffix
- cell values truncated with ellipsis at ``max(truncate, 4)`` chars
- XML-escaped into an HTML table; optional monospace / left-align css
"""

from __future__ import annotations

import html as _html

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

MIN_TRUNCATE = 4


def dedupe_columns(columns: list[str]) -> list[str]:
    """Duplicate-safe rename: second and later occurrences get an index
    suffix (reference: Common.scala:246)."""
    seen: dict[str, int] = {}
    out = []
    for c in columns:
        n = seen.get(c, 0)
        seen[c] = n + 1
        out.append(c if n == 0 else f"{c}{n}")
    return out


def _format_column(col, dt: T.DataType):
    if isinstance(dt, T.BinaryType):
        # contiguous hex -> space-separated byte pairs in brackets
        paired = F.regexp_replace(F.hex(col), "(..)", "$1 ")
        return F.concat(F.lit("["), F.rtrim(paired), F.lit("]"))
    if isinstance(dt, T.DoubleType) or isinstance(dt, T.FloatType):
        s = F.regexp_replace(F.format_number(col.cast("double"), 10), ",", "")
        s = F.regexp_replace(s, r"(\.\d*?)0+$", "$1")
        return F.regexp_replace(s, r"\.$", "")
    if isinstance(dt, T.DecimalType):
        return F.regexp_replace(F.format_number(col, dt.scale), ",", "")
    if isinstance(dt, T.TimestampType):
        return F.concat(col.cast("string"), F.lit("Z"))
    if isinstance(dt, T.DateType):
        return F.date_format(col, "yyyy-MM-dd")
    return col.cast("string")


def display_frame(df: DataFrame) -> DataFrame:
    """Project *df* to display strings (one JVM-side projection).

    Rename FIRST (``toDF``), then format: resolving duplicate-named
    columns by name (``df[name]``) raises AMBIGUOUS_REFERENCE for
    join + select * results — the reference renames before formatting
    too (Common.scala:246)."""
    names = dedupe_columns(df.columns)
    renamed = df.toDF(*names)
    cols = []
    for (field, name) in zip(renamed.schema.fields, names):
        formatted = _format_column(renamed[name], field.dataType)
        cols.append(F.coalesce(formatted, F.lit("null")).alias(name))
    return renamed.select(*cols)


def _truncate(value: str, truncate: int) -> str:
    if truncate <= 0:
        return value
    limit = max(truncate, MIN_TRUNCATE)
    if len(value) > limit:
        return value[: limit - 3] + "..."
    return value


def take_formatted(
    df: DataFrame,
    num_rows: int = 20,
    max_num_rows: int = 2**31 - 1,
    truncate: int = 50,
) -> tuple[list[str], list[list[str]]]:
    """Formatted header + rows capped at ``min(num_rows, max_num_rows)``
    (the reference's display guardrail, ArcInterpreter.scala:79)."""
    shown = display_frame(df)
    rows = shown.take(min(num_rows, max_num_rows))
    header = shown.columns
    body = [[_truncate(v, truncate) for v in row] for row in rows]
    return header, body


def render_html(
    header: list[str],
    body: list[list[str]],
    monospace: bool = False,
    left_align: bool = False,
    label: str | None = None,
) -> str:
    """HTML table of a :func:`take_formatted` result, with the
    reference's css flags (Common.scala:287-334; datasetLabels
    CHANGELOG.md:198)."""
    css = []
    if monospace:
        css.append("font-family:monospace;")
    if left_align:
        css.append("text-align:left;")
    style = f' style="{"".join(css)}"' if css else ""
    parts = [f"<table{style}>"]
    if label:
        parts.append(f"<caption>{_html.escape(label)}</caption>")
    parts.append(
        "<tr>" + "".join(f"<th>{_html.escape(h)}</th>" for h in header) + "</tr>"
    )
    for row in body:
        parts.append(
            "<tr>" + "".join(f"<td>{_html.escape(v)}</td>" for v in row) + "</tr>"
        )
    parts.append("</table>")
    return "".join(parts)


def render_text(header: list[str], body: list[list[str]]) -> str:
    """Plain-text table of a :func:`take_formatted` result (for
    non-HTML frontends)."""
    widths = [len(h) for h in header]
    for row in body:
        for i, v in enumerate(row):
            widths[i] = max(widths[i], len(v))
    sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    out = [sep, "|" + "|".join(f" {h:<{w}} " for h, w in zip(header, widths)) + "|", sep]
    for row in body:
        out.append("|" + "|".join(f" {v:<{w}} " for v, w in zip(row, widths)) + "|")
    out.append(sep)
    return "\n".join(out)


def flatten_schema(schema: T.StructType, prefix: str = "") -> list[str]:
    """Flattened column paths, back-tick-escaping names that are not
    ``[A-Za-z0-9_]`` (reference: Common.scala:342-352)."""
    out: list[str] = []
    for field in schema.fields:
        name = field.name
        if not all(c.isalnum() or c == "_" for c in name):
            name = f"`{name}`"
        path = f"{prefix}.{name}" if prefix else name
        if isinstance(field.dataType, T.StructType):
            out.extend(flatten_schema(field.dataType, path))
        else:
            out.append(path)
    return out
