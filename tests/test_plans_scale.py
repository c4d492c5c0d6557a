"""Plan gates AT SCALE (VERDICT r5 item 1).

tests/test_plans.py binds at sf0.001, where AQE broadcasts nearly
everything — its "no SortMergeJoin" style assertions are toy-scale
facts. This suite re-derives every headline query's plan against the
generated sf1 point (tools/gen_scaled.py → .scaledata/sf1) and
asserts only the SCALE-ROBUST killer class:

- no CartesianProduct;
- BroadcastNestedLoopJoin only at allowlisted tiny-side sites;
- no BatchEvalPython (row-Python UDF);
- filter pushdown present at sf0.001 must still be present at sf1
  (pushability is expression-static — losing it means the plan
  changed shape in a way that dropped a pushable predicate).

Join-strategy flips (broadcast → sort-merge) are EXPECTED above the
broadcast threshold and are not asserted here; tools/dump_plans.py
records them in PLANS.json.

Skip-gated on the generated data being present (it is not committed;
`python tools/gen_scaled.py` rebuilds it in ~2 min). Static plans
only — no query execution — so the sweep costs seconds per query,
not the sf1 runtimes.
"""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF1_DIR

BASE_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF1_DIR),
    reason="sf1 data not generated (python tools/gen_scaled.py)",
)


def test_headline_plans_have_no_scale_killers_at_sf1(spark):
    """One sweep, all headline queries: zero scale-killer hits."""
    from bench import HEADLINE

    from arc_jupyter_spark.plans.advisor import killers, plan_shape, plan_string
    from arc_jupyter_spark.workloads import queries

    qs = queries()
    offenders = []
    for name in HEADLINE:
        if name.startswith("st"):  # streaming queries execute on build
            continue
        base = plan_shape(plan_string(qs[name](spark, BASE_DIR)))
        shape = plan_shape(plan_string(qs[name](spark, SF1_DIR)))
        ks = killers(name, shape, base)
        if ks:
            offenders.append((name, ks))
        spark.catalog.clearCache()
    assert not offenders, f"scale-killer plans at sf1: {offenders}"
