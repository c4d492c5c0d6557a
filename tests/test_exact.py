"""One module owns the scaled-long quantizer (``arc_jupyter_spark/exact.py``):
no ``FLOOR(… + 0.5)`` round-half-up written elsewhere in the package,
and the Spark, Spark SQL and DuckDB forms give equal results."""

import random
import re
from pathlib import Path

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from arc_jupyter_spark import exact

PACKAGE = Path(exact.__file__).parent
FLOOR = re.compile(r"\bfloor\(", re.IGNORECASE)
HALF_UP = re.compile(r"\+\s*(?:F\.lit\(\s*0\.5\s*\)|0\.5)\s*$")
#: data-derived multipliers (the int8 ``levels / absmax`` scale and its
#: DuckDB twin, ``127 / am``): a different algorithm from the decimal
#: scale, kept with its operator
DATA_DERIVED = {
    ("operators/similarity.py", "x_i * levels / max|x| + 0.5"),
    ("operators/similarity.py", "x * F.lit(float(levels)) / absmax + F.lit(0.5)"),
    ("operators/similarity.py", "float(x) * levels / absmax + 0.5"),
    ("workloads/llmops.py", "x * 127 / am + 0.5"),
}


def _floor_argument(src: str, start: int) -> str:
    """The text inside the parentheses that open at ``src[start]``."""
    depth = 0
    for end in range(start, len(src)):
        depth += {"(": 1, ")": -1}.get(src[end], 0)
        if depth == 0:
            return src[start + 1:end]
    return src[start + 1:]


def test_quantizers_are_defined_only_in_exact_module():
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == Path(exact.__file__):
            continue
        rel = path.relative_to(PACKAGE).as_posix()
        src = path.read_text()
        for m in FLOOR.finditer(src):
            arg = " ".join(_floor_argument(src, m.end() - 1).split())
            if HALF_UP.search(arg) and (rel, arg) not in DATA_DERIVED:
                n = src.count("\n", 0, m.start()) + 1
                hits.append(f"arc_jupyter_spark/{rel}:{n}: floor({arg})")
    assert not hits, (
        "round-half-up quantizer outside arc_jupyter_spark/exact.py (call "
        "quantize, exact_sum, sql_quantize, sql_exact_sum or host_quantize):\n"
        + "\n".join(hits)
    )


DIGITS = (0, 2, 6, 8)


def _values() -> list:
    """About 480 doubles every digit count can quantize: NULLs, signed
    zeros, exact half-ties ``(2k+1) / 2^(d+1)`` at each scale, decimal
    near-ties, and random values across magnitudes, both signs."""
    rnd = random.Random(15)
    near_ties = [0.005, 0.015, 0.045, 0.125, 1.005, 1.115, 2.675, 10.005,
                 5e-7, 5e-8, 5e-9, 0.004]
    out = [None, None, 0.0, -0.0]
    out += [(2 * k + 1) / 2 ** (d + 1) for d in DIGITS for k in range(-10, 10)]
    out += near_ties + [-x for x in near_ties]
    out += [round(rnd.uniform(-1e6, 1e6), 2) for _ in range(115)]
    out += [rnd.uniform(-1.0, 1.0) for _ in range(115)]
    out += [rnd.choice((-1, 1)) * 10 ** rnd.uniform(-9, 5) for _ in range(115)]
    out += [float(rnd.randint(-10 ** 6, 10 ** 6)) for _ in range(30)]
    return out


def _near_bound(digits: int) -> list[float]:
    """Values whose quantized form is within 0.1% of 2^63."""
    top = 2 ** 63 / 10 ** digits
    return [s * f * top for s in (1, -1) for f in (0.5, 0.9, 0.999)]


def _three_ways(spark, rows, spark_cols, sql_select, group_by=""):
    """``rows`` of ``(i, g, x)`` through the Spark column forms, Spark SQL
    and DuckDB, each as ``{key: tuple}``."""
    view = "exact_parity_rows"
    base = spark.createDataFrame(rows, "i int, g int, x double")
    base.createOrReplaceTempView(view)
    if group_by:
        sdf = base.groupBy("g").agg(*spark_cols)
    else:
        sdf = base.select("i", *spark_cols)
    key = "g" if group_by else "i"
    sql = f"SELECT {key}, {sql_select} FROM {view} {group_by}"
    con = duckdb.connect()
    con.register(view, pd.DataFrame(rows, columns=["i", "g", "x"]).astype({"x": "float64"}))
    return tuple(
        {r[0]: tuple(r[1:]) for r in got}
        for got in (sdf.collect(), spark.sql(sql).collect(), con.execute(sql).fetchall())
    )


def test_spark_sql_and_duckdb_forms_agree(spark):
    common = _values()
    assert len(common) == 483
    for d in DIGITS:
        values = common + _near_bound(d)
        rows = [(i, i // 7 if i < len(common) else 1000 + i, x)
                for i, x in enumerate(values)]
        spark_form, spark_sql, duck = _three_ways(
            spark, rows, [exact.quantize(F.col("x"), d)], exact.sql_quantize("x", d)
        )
        assert len(spark_form) == len(values)
        bad = [(values[i], spark_form[i], spark_sql[i], duck[i])
               for i in spark_form if not spark_form[i] == spark_sql[i] == duck[i]]
        assert not bad, f"quantize at {d} digits: {len(bad)} differ: {bad[:5]}"

        spark_form, spark_sql, duck = _three_ways(
            spark, rows, [exact.exact_sum(F.col("x"), d)],
            exact.sql_exact_sum("x", d), group_by="GROUP BY g",
        )
        assert len(spark_form) == len(set(g for _, g, _ in rows))
        bad = [(g, spark_form[g], spark_sql[g], duck[g])
               for g in spark_form if not spark_form[g] == spark_sql[g] == duck[g]]
        assert not bad, f"exact_sum at {d} digits: {len(bad)} differ: {bad[:5]}"


def test_a_mismatched_scale_gives_a_different_sum(spark):
    """A query summing at 6 digits and an oracle at 2 disagree on
    (0.004, 0.004): 0.008 rounds to 0.01, while each 0.004 quantizes
    to 0 cents."""
    rows = [(0, 0, 0.004), (1, 0, 0.004)]
    for d, want in ((6, 0.01), (2, 0.0)):
        got = _three_ways(
            spark, rows, [F.round(exact.exact_sum(F.col("x"), d), 2)],
            f"ROUND({exact.sql_exact_sum('x', d)}, 2)", group_by="GROUP BY g",
        )
        assert [g[0] for g in got] == [(want,)] * 3, d


def test_host_quantize_equals_spark_form(spark):
    values = [x for x in _values() if x is not None]
    for d in DIGITS:
        got = [r[0] for r in spark.createDataFrame([(x,) for x in values], "x double")
               .select(exact.quantize(F.col("x"), d)).collect()]
        assert exact.host_quantize(values, d).tolist() == got, d
        assert int(exact.host_quantize(values[10], d)) == got[10]
