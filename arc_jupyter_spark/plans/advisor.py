"""Physical-plan advisor: the 100 TB checklist as a library feature.

The one reader of Catalyst's physical-plan string. ``plan_shape``
turns the formatted plan into a flat dict of counts and flags; every
consumer reads that dict instead of the text:

- ``analyze_plan`` maps it to structured findings (``%plan <view>``),
  so notebook users get the same review a 1000-executor deployment
  would demand — before they ship the job;
- ``killers`` compares it against the same query's small-scale shape
  (``tools/dump_plans.py``, ``tests/test_plans_scale.py``);
- the blanket plan gate in ``tests/test_plans.py`` reads it for every
  batch query.

Checks are string-level over the formatted physical plan: stable
across Spark versions in practice, zero execution cost (the plan is
compiled, not run).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

#: BroadcastNestedLoopJoin sites whose broadcast side is provably tiny
#: at any scale, with the reason each is safe.
ALLOWED_BNL = {
    "q53_funnel": "crossJoin of 1-row scalar aggregates "
                  "(the one-lazy-plan contract pattern)",
    "s06_semantic_dedup": "crossJoin of 1-row scalar aggregates",
    "q63_null_safe_join": "crossJoin of 1-row scalar aggregates",
    "q67_similarity_join": "crossJoin of two 1-row aggregates",
    "s03_batch_topk": "the handful of query vectors broadcast against "
                      "the corpus by design (every corpus row scores "
                      "every query)",
    "d10_bloom_prefilter": "crossJoin of four 1-row aggregates",
    "t23_bigram_lift": "crossJoin of the 1-row total-tokens aggregate",
    "t30_hll_shards": "crossJoin of two 1-row sketch-estimate aggregates",
    "t34_hist_quantile": "crossJoin of the 1-row histogram total",
    "s10_hybrid_rrf": "crossJoin of the 1-row BM25 corpus stats",
    "s12_mmr_rerank": "50-row pool self-crossJoin for the sim matrix",
    "t43_kmv_overlap": "sketch (S*K rows) x source list (S rows) "
                       "pair-tagging, a non-equi join by construction; "
                       "both sides are bottom-k sketches, never "
                       "corpus-sized — bounded S^2*K",
    "t44_coverage_curve": "crossJoin of the 1-row corpus total",
    "g01_pagerank": "crossJoin of the 1-row node-count aggregate (folds "
                    "n into the rank constants without a driver count "
                    "job)",
    "s16_range_search": "corpus x broadcast 3-row query set — scoring "
                        "every corpus row against every query IS the "
                        "range scan (the s03 batch-topk rationale)",
}

#: Row-at-a-time Python UDF sites that are not hot paths, with the
#: reason each is safe.
ALLOWED_ROW_PYTHON = {
    "q68_get_uri": "the get_uri I/O UDF over a fixed 3-row list of "
                   "fixture files — imperative I/O by contract, the "
                   "one place it legitimately rides a Python UDF",
}


@dataclass
class Finding:
    severity: str  # "error" | "warn" | "info"
    code: str
    message: str

    def __str__(self) -> str:  # pragma: no cover - display convenience
        return f"[{self.severity}] {self.code}: {self.message}"


def plan_string(df: DataFrame) -> str:
    """*df*'s formatted physical plan (compiled, not run)."""
    return df._jdf.queryExecution().executedPlan().toString()


def plan_shape(plan: str) -> dict:
    """Scale-posture fingerprint of one formatted/executed plan string."""
    # count real shuffles only: broadcast exchanges move no shuffle
    # data ("Exchange " is a substring of "BroadcastExchange", so a
    # plain substring count would misreport healthy broadcast plans)
    n_exchange = (
        plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning")
        + plan.count("Exchange SinglePartition")
    )
    scans_no_pushdown = 0
    scans_pushed = 0
    n_scans = 0
    seen: set[str] = set()
    for seg in plan.split("Scan parquet")[1:]:
        # one plan node per line: the remainder of the scan's own line
        # carries the COMPLETE spec (Location, DataFilters,
        # PushedFilters, ReadSchema), so two scans of the same relation
        # that differ only past a fixed prefix stay distinct
        head = seg.split("\n", 1)[0]
        # count DISTINCT scan specs: a persisted relation's plan text
        # embeds the same FileScan once per AQE initial/final copy and
        # once per consumer branch — raw occurrence counts then drift
        # with plan-text layout across scales, not with actual I/O
        if head in seen:
            continue
        seen.add(head)
        n_scans += 1
        if "PushedFilters: [" in head and "PushedFilters: []" not in head:
            scans_pushed += 1
        # a scan that carries post-scan DataFilters but pushed nothing
        # into the reader is losing the format-level skip; a
        # filter-free full scan (dedup/text sweeps) is NOT counted
        if (
            "DataFilters: [" in head
            and "DataFilters: []" not in head
            and "PushedFilters: []" in head
            and "PartitionFilters: []" in head
        ):
            scans_no_pushdown += 1
    return {
        "cartesian": "CartesianProduct" in plan,
        "bnlj": "BroadcastNestedLoopJoin" in plan,
        "batch_eval_python": plan.count("BatchEvalPython"),
        "scans_pushed": scans_pushed,
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "exchanges": n_exchange - plan.count("ReusedExchange"),
        "partial_agg": ("partial_" in plan),
        "scans": n_scans,
        "scans_no_pushdown": scans_no_pushdown,
        "arrow_python": plan.count("ArrowEvalPython") + plan.count("MapInPandas"),
        "sort_aggregate": "SortAggregate" in plan,
        "collect": "collect_list" in plan or "collect_set" in plan,
        "global_window": _has_global_window(plan),
    }


def _has_global_window(plan: str) -> bool:
    """A WindowExec whose child distribution is AllTuples (an
    ``Exchange SinglePartition`` below it) funnels every row through
    ONE task — the source of Spark's "WindowExec: No Partition
    Defined" runtime warning."""
    for seg in plan.split("Window ")[1:]:
        nxt = seg.find("Exchange")
        if nxt != -1 and seg[nxt:].startswith("Exchange SinglePartition"):
            return True
    return False


def killers(name: str, shape: dict, base: dict | None) -> list[str]:
    """The scale-killer class: violations that must be ZERO at any sf.
    *base* is the same query's shape at sf0.001 (None: no baseline)."""
    out = []
    if shape["cartesian"]:
        out.append("CartesianProduct")
    if shape["bnlj"] and name not in ALLOWED_BNL:
        out.append("BroadcastNestedLoopJoin (not allowlisted)")
    if shape["batch_eval_python"] and name not in ALLOWED_ROW_PYTHON:
        out.append("BatchEvalPython row-Python UDF")
    # Pushability is expression-static (decided at planning from the
    # predicate shape, never from file stats), so a scan evaluating
    # data filters without pushdown is fine when the predicate is
    # inherently non-pushable (regexp/size/split over the column —
    # parquet can't skip on those; ReadSchema still prunes), and the
    # raw non-pushed count is shape-dependent (a broadcast→SMJ flip
    # can duplicate a scan). The regression that matters: the query
    # pushed filters at sf0.001 but pushes NONE at scale, or a
    # previously-clean query gained non-pushed scans.
    if base is not None:
        if base["scans_pushed"] > 0 and shape["scans_pushed"] == 0:
            out.append(
                f"pushdown lost: {base['scans_pushed']} pushed scan(s) at "
                "sf0.001 → 0 here"
            )
        if base["scans_no_pushdown"] == 0 and shape["scans_no_pushdown"] > 0:
            out.append(
                f"{shape['scans_no_pushdown']} non-pushed scan(s) appeared "
                "(none at sf0.001)"
            )
        if base["partial_agg"] and not shape["partial_agg"]:
            out.append("partial aggregation lost vs sf0.001")
    return out


def analyze(df: DataFrame) -> list[Finding]:
    """Return scale findings for *df*'s physical plan (worst first)."""
    return analyze_plan(plan_string(df))


def analyze_plan(plan: str) -> list[Finding]:
    """Scale findings for a formatted physical plan (worst first)."""
    shape = plan_shape(plan)
    out: list[Finding] = []

    if shape["cartesian"]:
        out.append(
            Finding(
                "error",
                "cartesian-product",
                "plan contains a cartesian product — O(n*m) pairs; add an "
                "equi-join key (bucket/band/block) or broadcast an "
                "explicitly tiny side",
            )
        )
    if shape["bnlj"]:
        out.append(
            Finding(
                "warn",
                "nested-loop-join",
                "BroadcastNestedLoopJoin in plan — fine only when the "
                "broadcast side is provably tiny (scalar aggregates, "
                "query vectors); otherwise restructure to an equi-join",
            )
        )
    if shape["batch_eval_python"]:
        out.append(
            Finding(
                "error",
                "row-python-udf",
                "row-at-a-time Python UDF in the plan — 10-100x slower "
                "than built-ins; use pyspark.sql.functions or an "
                "Arrow-batched pandas UDF",
            )
        )
    if shape["arrow_python"]:
        out.append(
            Finding(
                "info",
                "arrow-python",
                "Arrow-batched Python stage present — acceptable for "
                "logic Spark can't express; keep it off the hot path",
            )
        )
    if shape["exchanges"] > 4:
        out.append(
            Finding(
                "warn",
                "many-shuffles",
                f"{shape['exchanges']} exchanges in one plan — check for "
                "a reusable partitioning (bucketing, repartition once, "
                "DISTRIBUTE BY) or a lost co-partitioning",
            )
        )
    if shape["scans_no_pushdown"]:
        out.append(
            Finding(
                "info",
                "no-pushdown",
                "a parquet scan evaluates data filters without pushing "
                "any into the reader — verify the predicate is pushable "
                "(no casts/UDFs over the scan column)",
            )
        )
    # Acceptable only over provably bounded inputs (top-k limits,
    # histogram bins, key-domain count tables — the allowlisted s10/
    # t34/q85 shapes); a data-sized input needs a partitionBy.
    if shape["global_window"]:
        out.append(
            Finding(
                "info",
                "global-window",
                "unpartitioned window (single-task sort of its whole "
                "input) — fine over bounded inputs (top-k, bins, key "
                "domains); add a partitionBy for data-sized inputs",
            )
        )
    if shape["sort_aggregate"]:
        out.append(
            Finding(
                "info",
                "sort-aggregate",
                "SortAggregate chosen (usually a non-hashable aggregate "
                "like string min/max on complex types) — hash-aggregable "
                "encodings (digests, longs) keep aggregation map-side",
            )
        )
    if shape["collect"]:
        out.append(
            Finding(
                "warn",
                "unbounded-collect",
                "collect_list/collect_set in the plan — per-group state "
                "is unbounded; cap inputs first (window rank <= k) or "
                "aggregate to scalars",
            )
        )
    if not out:
        out.append(Finding("info", "clean", "no scale anti-patterns detected"))
    return out


def report(findings: list[Finding], plan: str) -> str:
    """Human-readable advisor report + the formatted plan (the single
    rendering ``%plan`` uses), from findings already computed."""
    lines = [str(f) for f in findings]
    return "\n".join(lines) + "\n\n" + plan
