"""MIGRATION.md examples are CI: every fenced cell in the guide runs
verbatim through Interpreter.execute against the fixture data."""

import re

import pytest
from pyspark.sql import functions as F

from arc_jupyter_spark.context import ArcContext
from arc_jupyter_spark.interpreter import Interpreter

from tests.conftest import REPO, SF_DIR


def _blocks():
    text = (REPO / "MIGRATION.md").read_text()
    return re.findall(r"```(?:\n|.)*?```", text)


@pytest.fixture()
def interp(spark):
    ctx = ArcContext(spark)
    return Interpreter(ctx=ctx, html=False)


def _strip(block: str) -> str:
    return block.strip("`").lstrip("\n")


def test_guide_has_the_expected_examples():
    blocks = _blocks()
    # python usage + 5 cells
    assert len(blocks) >= 6


def test_example_1_sql_cell_with_params(interp, spark):
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").createOrReplaceTempView(
        "lineitem"
    )
    cell = _strip(_blocks()[1])
    assert cell.startswith("%sql")
    res = interp.execute(cell)
    assert res.df is not None and res.df.count() > 0
    assert interp.ctx.table("ship_summary").columns == ["l_returnflag", "n"]


def test_example_2_bare_hocon_pipeline(interp):
    interp.execute(f"%env TESTDATA_DIR={SF_DIR}")
    cell = _strip(_blocks()[2])
    assert cell.startswith("{")
    interp.execute(cell)
    out = interp.ctx.table("revenue_by_flag")
    assert out.count() > 0 and "revenue" in out.columns


def test_example_3_typing_with_errors(interp, spark):
    spark.createDataFrame(
        [("1", "9.5", "2024-01-02"), ("x", "bad", "nope")],
        ["id", "price", "day"],
    ).createOrReplaceTempView("raw_csv")
    cell = _strip(_blocks()[3])
    interp.execute(cell)
    typed = interp.ctx.table("typed")
    rows = {r["id"]: r for r in typed.collect()}
    assert rows[1]["_errors"] == []
    bad = [r for r in typed.collect() if r["id"] is None][0]
    assert {e["field"] for e in bad["_errors"]} == {"id", "price", "day"}


def test_example_4_sqlvalidate_gate(interp, spark):
    spark.createDataFrame([(1,)], ["x"]).createOrReplaceTempView("typed")
    cell = _strip(_blocks()[4])
    assert cell.startswith("%sqlvalidate")
    res = interp.execute(cell)
    assert res is not None


def test_example_5_streaming_toggle(interp):
    cell = _strip(_blocks()[5])
    assert cell.startswith("%conf")
    interp.execute(cell)
    assert interp.ctx.conf.streaming is True
    interp.execute("%conf streaming=false")
    assert interp.ctx.conf.streaming is False


def test_example_5b_master_change_library_mode(interp):
    """The master-restart block (MIGRATION §5b): a library-mode
    interpreter records the master without restarting (the kernel
    restart path is tested in test_interpreter.py)."""
    cell = _strip(_blocks()[6])
    assert cell.startswith("%conf master=")
    old_ctx = interp.ctx
    interp.execute(cell)
    assert interp.ctx is old_ctx
    assert interp.ctx.conf.master == "spark://cluster:7077"


def test_example_6_plan_advisor(interp, spark):
    spark.range(10).createOrReplaceTempView("revenue_by_flag")
    cell = _strip(_blocks()[7])
    assert cell.startswith("%plan")
    res = interp.execute(cell)
    assert "clean" in res.text or "no-pushdown" in res.text
