"""Write PLANS.json: the plan shape of every batch query, one line each.

Usage: python tools/dump_plans.py [--sf DIR] [--execute] [query ...]

For each query (default: every registered batch query) the record
holds the ``advisor.plan_shape`` of its physical plan at ``--sf``,
the warn-and-above ``%plan`` advisor codes, and the scale killers
against the same query's static plan at sf0.001
(``advisor.killers``: cartesian products, non-allowlisted nested-loop
joins or row-Python UDFs, pushdown or partial aggregation lost).

Join-strategy flips vs sf0.001 (more sort-merge/shuffled-hash joins)
are recorded, not forbidden: above the broadcast threshold they are
exactly what Spark should do. A query whose plan cannot be built is
recorded with its error. With ``--execute`` each query first runs to
completion (noop write), so the FINAL adaptive plan is read instead
of the static estimate.

One query per line, so the before/after of a change is
``git diff PLANS.json``. Exits 1 on any killer or error.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASELINE_SF = "/root/testdata/sf0.001"


def join_mix(shape: dict) -> str:
    return f"{shape['bhj']}BHJ/{shape['smj']}SMJ/{shape['shj']}SHJ"


def main() -> int:
    from arc_jupyter_spark.plans.advisor import (
        analyze_plan, killers, plan_shape, plan_string,
    )
    from arc_jupyter_spark.session import build_session
    from arc_jupyter_spark.workloads import queries

    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--execute", action="store_true",
                    help="run each query so the FINAL adaptive plan is read")
    ap.add_argument("query", nargs="*")
    args = ap.parse_args()

    qs = queries()
    names = args.query or sorted(n for n in qs if not n.startswith("st"))
    unknown = sorted(set(names) - set(qs))
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = build_session(app_name="dump-plans")
    records, n_killed, n_flips, n_errors = {}, 0, 0, 0
    for name in names:
        try:
            base = plan_shape(plan_string(qs[name](spark, BASELINE_SF)))
            df = qs[name](spark, args.sf)
            if args.execute:
                df.write.format("noop").mode("overwrite").save()
            plan = plan_string(df)
        except Exception as exc:  # noqa: BLE001 - keep sweeping
            records[name] = {"error": str(exc)[:200]}
            n_errors += 1
            continue
        finally:
            spark.catalog.clearCache()
        shape = plan_shape(plan)
        ks = killers(name, shape, base)
        flip = None
        if shape["smj"] + shape["shj"] > base["smj"] + base["shj"]:
            flip = f"{join_mix(base)} → {join_mix(shape)}"
        records[name] = {
            "shape": shape,
            "advisor": [f"{f.severity}:{f.code}" for f in analyze_plan(plan)
                        if f.severity != "info"],
            "killers": ks,
            "join_flip": flip,
        }
        n_killed += bool(ks)
        n_flips += flip is not None

    head = {"sf": args.sf, "baseline_sf": BASELINE_SF, "execute": args.execute}
    lines = [f" {json.dumps(k)}: {json.dumps(v)}," for k, v in head.items()]
    lines.append(' "queries": {')
    lines.append(",\n".join(
        f"  {json.dumps(n)}: {json.dumps(r, ensure_ascii=False)}"
        for n, r in records.items()
    ))
    out = os.path.join(REPO, "PLANS.json")
    with open(out, "w", encoding="utf-8") as fh:
        fh.write("{\n" + "\n".join(lines) + "\n }\n}\n")
    print(f"wrote {out}: {n_killed} killers, {n_flips} join flips, "
          f"{n_errors} errors over {len(records)} queries")
    return 1 if (n_killed or n_errors) else 0


if __name__ == "__main__":
    raise SystemExit(main())
