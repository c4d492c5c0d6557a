"""The benchmark's own tests: ``python3 -m pytest perfbench -q``.

The end-to-end tests run ``perfbench/run.py`` at sf0.001 in a subprocess,
as the benchmark is run, so each starts its own Spark (about 30-60 s).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import ops  # noqa: E402
from tracing import Span, check_nesting, self_seconds  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run_bench(workload: str, seed: int, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "0", "--trace", str(trace), "--sf", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_emits_every_metric(workload, trace):
    proc = run_bench(workload, seed=1 + trace, trace=trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    host = json.loads(lines[-2])["host"]
    assert {"nproc", "loadavg_1m_start", "loadavg_1m_end", "spark", "java", "cpu_ref_s"} <= set(host)
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    # a traced run's nesting check and every oracle check feed `correct`
    assert result["correct"], proc.stderr[-3000:]
    assert result["failed"] == 0 and result["attempted"] >= 1
    expected = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in expected}
    if trace and workload == "notebook":
        # the HTML render path formats each rendered table twice today
        assert result["metrics"]["render.calls_per_cell"]["value"] == 2


def test_fails_without_the_program(tmp_path):
    """In a directory with only the benchmark, it exits non-zero and
    prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    proc = run_bench("query_mix", seed=1, trace=0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_seed_changes_order_and_literals_not_checks():
    env1, deck1 = ops.notebook_deck(1)
    env2, deck2 = ops.notebook_deck(2)
    cells1 = [op for group in deck1 for op in group]
    cells2 = [op for group in deck2 for op in group]
    assert env1.key != env2.key
    assert [op.key for op in cells1] != [op.key for op in cells2]
    shape = lambda cells: [(op.expect_error, op.oracle is not None, op.view) for op in cells]  # noqa: E731
    assert shape(cells1) == shape(cells2)
    assert len(cells1) == 20 and sum(op.expect_error for op in cells1) == 1
    import random

    order1 = ops.round_order(deck1, random.Random(1))
    order2 = ops.round_order(deck1, random.Random(2))
    assert order1 != order2 and sorted(o.key for o in order1) == sorted(o.key for o in order2)
    # the persisted view is written before every cell that reads it
    keys = [op.key for op in order1]
    writer = next(i for i, k in enumerate(keys) if "outputView=nb_recent" in k)
    assert all(i > writer for i, k in enumerate(keys) if "nb_recent" in k and i != writer)


def _span(name, start, end, parent=None, op=0):
    sp = Span(name, op, parent, start, start * 1000)
    sp.end, sp.wall_end_ms = end, end * 1000
    return sp


def test_self_time_and_nesting():
    spans = [
        _span("interpreter.execute", 0.0, 10.0),
        _span("render.text", 1.0, 4.0, parent=0),
        _span("render.take_formatted", 1.5, 3.5, parent=1),
        _span("render.html", 5.0, 9.0, parent=0),
    ]
    assert self_seconds(spans) == pytest.approx([3.0, 1.0, 2.0, 4.0])
    assert check_nesting(spans) == []
    spans.append(_span("plans.run", 9.5, 11.0, parent=0))
    assert check_nesting(spans) == ["plans.run"]


def test_canonical_rows_ignore_order_and_negative_zero():
    a = ops.rows_digest([(1, -0.0, "x"), (2, 1.5, None)], ["k", "v", "s"])
    b = ops.rows_digest([(None, 2, 1.5), ("x", 1, 0.0)], ["s", "k", "v"])
    assert a == b
    assert ops.compare([(1, 1.0)], ["k", "v"], [(1, 1.0000000000000002)], ["k", "v"])
