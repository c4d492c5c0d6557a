"""Spill-path identity: results must not change when operators spill.

Spill is Spark's own contract; what this repo must prove is that its
queries give the oracle's answer when the sorters, window buffers and
sort-merge-join buffers do spill. ``tools/selfcheck.py`` runs in a
child process launched with forced spill thresholds of 64 elements.
The launcher arguments are needed because
``spark.shuffle.spill.numElementsForceSpillThreshold`` is a core conf,
read once when the JVM starts; the shared test session cannot take it.

Each of the five queries below disk-spills at sf0.001 under these
confs and reads 0.0 MiB without them, so the ``disk_spill_mb > 0``
assertion fails if the thresholds stop taking effect.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_DIR

REPO = Path(__file__).resolve().parent.parent

SPILL_QUERIES = (
    "p10_refinedweb_pipeline",
    "q09_window_topn",
    "q79_interval_range_frame",
    "q78_merge_upsert",
    "d13_snapshot_diff",
)

FORCED_SPILL_ARGS = (
    "--master local[2] --conf spark.sql.shuffle.partitions=3"
    " --conf spark.shuffle.spill.numElementsForceSpillThreshold=64"
    " --conf spark.sql.windowExec.buffer.spill.threshold=64"
    " --conf spark.sql.sortMergeJoinExec.buffer.spill.threshold=64"
    " pyspark-shell"
)

# the child normally takes well under a minute; a hung one must not
# use up the whole suite's time budget
TIMEOUT_S = 600


def _tail(text: str, n: int) -> str:
    """The last *n* lines of *text*, console progress bars left out."""
    lines = [ln for ln in text.splitlines()
             if ln.strip() and not ln.lstrip().startswith("[Stage")]
    return "\n".join(lines[-n:])


def test_spill_path_matches_the_oracle(tmp_path):
    emit = tmp_path / "spill.json"
    # the environment, SPARK_LOCAL_DIRS included, passes through, so
    # the spill files land where the rest of the suite's scratch goes
    env = dict(os.environ, PYSPARK_SUBMIT_ARGS=FORCED_SPILL_ARGS)
    run = subprocess.run(
        [sys.executable, str(REPO / "tools" / "selfcheck.py"),
         "--emit", str(emit), SF_DIR, *SPILL_QUERIES],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=TIMEOUT_S,
    )
    log = f"selfcheck stdout (tail):\n{_tail(run.stdout, 40)}"
    assert emit.exists(), f"{log}\nstderr (tail):\n{_tail(run.stderr, 20)}"
    report = json.loads(emit.read_text())
    assert sorted(report) == sorted(SPILL_QUERIES), log
    mismatched = [q for q, r in report.items() if r["hash_match"] is not True]
    assert mismatched == [], f"differs from the oracle while spilling\n{log}"
    dry = {q: r["disk_spill_mb"] for q, r in report.items()
           if not r["disk_spill_mb"] > 0}
    assert dry == {}, f"no disk spill under the forced thresholds: {dry}\n{log}"
    assert run.returncode == 0, log
