"""Generated-class cache: a warm round of the query mix compiles nothing.

``build_session`` sizes ``spark.sql.codegen.cache.maxEntries`` to a
session's working set. The seven query-mix queries compile more than
Spark's default of 100 distinct classes, and a round that re-runs them
in the same order misses an LRU cache of 100 on most of them. The conf
is static, read once when the JVM starts, so the shared test session
cannot take it: this gate runs the queries twice in a child process
that starts its own JVM through ``build_session()``, and reads the
compile count of each pass from ``metrics.SegmentMeter``.

The first-pass floor proves the working set really exceeds the default,
so a second pass of 0 compiles shows the cache size, not a small mix.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# the benchmark's query_mix queries, named here so that a change to the
# benchmark's mix cannot move the first-pass floor this gate was sized on
QUERY_MIX = (
    "q01_pricing_summary", "q03_topk_join", "q09_window_topn", "q29_range_join",
    "d01_exact_dedup", "t01_quality_score", "s01_cosine_topk",
)

SPARK_DEFAULT_ENTRIES = 100

TIMEOUT_S = 600


def _two_passes(sf_dir: str) -> list[dict]:
    """Run the query mix twice in this process's own session; the
    codegen reading of each pass."""
    from arc_jupyter_spark.metrics import SegmentMeter
    from arc_jupyter_spark.session import build_session
    from arc_jupyter_spark.workloads import queries

    spark = build_session(master="local[2]", app_name="codegen-cache-gate")
    try:
        qs = queries()
        meter = SegmentMeter(spark)
        passes = []
        for _ in range(2):
            for name in QUERY_MIX:
                qs[name](spark, sf_dir).collect()
            seg = meter.segment()
            passes.append({k: seg[k] for k in ("codegen_compiles", "codegen_ms")})
        return passes
    finally:
        spark.stop()


def test_a_warm_round_compiles_no_class(tmp_path):
    from tests.conftest import SF_DIR

    env = {k: v for k, v in os.environ.items()
           if not k.startswith("conf_spark_") and k != "PYSPARK_SUBMIT_ARGS"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="2g")
    run = subprocess.run(
        [sys.executable, __file__, SF_DIR], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=TIMEOUT_S,
    )
    lines = run.stdout.strip().splitlines()
    assert run.returncode == 0 and lines, run.stderr[-3000:]
    first, second = json.loads(lines[-1])
    assert first["codegen_compiles"] > SPARK_DEFAULT_ENTRIES, (first, second)
    assert first["codegen_ms"] > 0, (first, second)
    assert second["codegen_compiles"] == 0, (first, second)


if __name__ == "__main__":
    sys.path.insert(0, str(REPO))
    print(json.dumps(_two_passes(sys.argv[1])))
