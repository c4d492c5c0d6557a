"""Spill/memory posture probe (VERDICT r6 item 5).

Plans (PLANS.json) and skew (SKEW.json) are covered; the remaining
100×-scale unknown is MEMORY: does any operator's working set outrun
the executor heap and spill? This runs queries under the status-store
metrics (arc_jupyter_spark/metrics.py) and records, per query, the
aggregated shuffle-spill (memory + disk) and the max single-stage
``peakExecutionMemory`` — the hash/sort/unroll high-water mark that
predicts whether a 100× scale-up fits task memory.

Two modes feeding one artifact (SPILL.json, sections keyed by sf):

- sf0.1 (gate scale): the FULL headline set with
  ``--assert-no-disk-spill`` — any disk spill at 17 MB of input is an
  operator bug, exit 1.
- sf1 (.scaledata): the N heaviest queries by BENCH_DETAIL warm time;
  spills here are recorded, not asserted — the point is to DOCUMENT
  where memory pressure first appears and confirm it is the sort/agg
  path (which degrades gracefully) rather than a hash build (which
  OOMs).

Merge the table into SCALING.md's spill section by hand.

Usage:
  python tools/spill_probe.py --sf-dir /root/testdata/sf0.1 --all \
      --assert-no-disk-spill
  python tools/spill_probe.py --sf-dir /root/repo/.scaledata/sf1 --top 10
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def pick_heaviest(n: int) -> list[str]:
    with open(os.path.join(REPO, "BENCH_DETAIL.json")) as fh:
        detail = json.load(fh)
    warm = detail.get("queries", {})
    return sorted(warm, key=warm.get, reverse=True)[:n]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--top", type=int, default=0,
                    help="run the N heaviest queries per BENCH_DETAIL")
    ap.add_argument("--all", action="store_true",
                    help="run the full bench.py headline set")
    ap.add_argument("--assert-no-disk-spill", action="store_true")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    import bench

    from arc_jupyter_spark.metrics import SegmentMeter
    from arc_jupyter_spark.session import build_session
    from arc_jupyter_spark.workloads import queries

    if args.queries:
        names = args.queries
    elif args.all:
        names = list(bench.HEADLINE)
    elif args.top:
        names = pick_heaviest(args.top)
    else:
        ap.error("give --all, --top N, or explicit query names")

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_session(master=f"local[{cpus}]", app_name="spill-probe")
    qs = queries()
    meter = SegmentMeter(spark)
    section: dict[str, dict] = {}
    spillers = []
    for name in names:
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            qs[name](spark, args.sf_dir).collect()
        except Exception as exc:  # noqa: BLE001
            section[name] = {"err": str(exc)[:200]}
            meter.segment()  # resync the stage snapshot
            continue
        wall = round(time.time() - t0, 3)
        seg = meter.segment()
        rec = {
            "wall_s": wall,
            "shuffle_read_mb": seg["shuffle_read_mb"],
            "mem_spill_mb": seg["mem_spill_mb"],
            "disk_spill_mb": seg["disk_spill_mb"],
            "peak_execution_memory_mb": seg["peak_execution_memory_mb"],
            "n_stages": seg["n_stages"],
        }
        section[name] = rec
        if rec["disk_spill_mb"] > 0 or rec["mem_spill_mb"] > 0:
            spillers.append(name)
        print(json.dumps({name: rec}))

    sf_key = os.path.basename(args.sf_dir.rstrip("/"))
    out_path = os.path.join(REPO, "SPILL.json")
    out: dict = {}
    if os.path.exists(out_path):
        with open(out_path) as fh:
            out = json.load(fh)
    out[sf_key] = section
    out.setdefault("_env", {})[sf_key] = {
        "loadavg": os.getloadavg(),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "n_queries": len(section),
        "spillers": spillers,
    }
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"wrote SPILL.json[{sf_key}]: {len(section)} queries, "
          f"spillers={spillers or 'none'}")

    if args.assert_no_disk_spill:
        bad = [n for n, r in section.items()
               if r.get("disk_spill_mb", 0) > 0]
        if bad:
            print(f"DISK SPILL at {sf_key}: {bad}", file=sys.stderr)
            return 1
        print(f"assert ok: zero disk spill across {len(section)} "
              f"queries at {sf_key}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
