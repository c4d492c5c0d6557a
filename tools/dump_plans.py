"""Dump .explain('formatted') for headline queries into plans/<round>/.

Usage: python tools/dump_plans.py <round> <suffix> [query ...]
  round:  the dump directory label, e.g. 'r10'
  suffix: 'before' or 'after'
Each plan goes to plans/<round>/<query>_<suffix>.txt.
With no query list, dumps every bench.py HEADLINE query.
Plan-only (no jobs run), so it is cheap and safe to run alongside
other Spark work.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    rnd = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from arc_jupyter_spark.session import build_session
    from arc_jupyter_spark.workloads import queries
    from bench import HEADLINE

    spark = build_session(master="local[4]", app_name=f"plans-{rnd}-{suffix}")
    qs = queries()
    if not names:
        names = HEADLINE

    outdir = os.path.join(REPO, "plans", rnd)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue().strip()
        except Exception as exc:  # noqa: BLE001
            text = f"ERROR building plan: {exc}"
        with open(f"{outdir}/{name}_{suffix}.txt", "w", encoding="utf-8") as fh:
            fh.write(text + "\n")
        print(f"wrote {name}_{suffix}.txt")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
