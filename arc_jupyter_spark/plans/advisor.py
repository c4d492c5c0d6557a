"""Physical-plan advisor: the 100 TB checklist as a library feature.

Scans a DataFrame's executed plan for the scale anti-patterns this
repo's own plan gates enforce (tests/test_plans.py) and returns
structured findings, so notebook users get the same review a 1000-
executor deployment would demand — before they ship the job. Exposed
to cells as ``%plan <view>``.

Checks are string-level over the formatted physical plan: stable
across Spark versions in practice, zero execution cost (the plan is
compiled, not run).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame


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


def analyze(df: DataFrame) -> list[Finding]:
    """Return scale findings for *df*'s physical plan (worst first)."""
    return analyze_plan(plan_string(df))


def analyze_plan(plan: str) -> list[Finding]:
    """Scale findings for a formatted physical plan (worst first)."""
    out: list[Finding] = []

    if "CartesianProduct" in plan:
        out.append(
            Finding(
                "error",
                "cartesian-product",
                "plan contains a cartesian product — O(n*m) pairs; add an "
                "equi-join key (bucket/band/block) or broadcast an "
                "explicitly tiny side",
            )
        )
    if "BroadcastNestedLoopJoin" in plan:
        out.append(
            Finding(
                "warn",
                "nested-loop-join",
                "BroadcastNestedLoopJoin in plan — fine only when the "
                "broadcast side is provably tiny (scalar aggregates, "
                "query vectors); otherwise restructure to an equi-join",
            )
        )
    if "BatchEvalPython" in plan:
        out.append(
            Finding(
                "error",
                "row-python-udf",
                "row-at-a-time Python UDF in the plan — 10-100x slower "
                "than built-ins; use pyspark.sql.functions or an "
                "Arrow-batched pandas UDF",
            )
        )
    if "ArrowEvalPython" in plan or "MapInPandas" in plan:
        out.append(
            Finding(
                "info",
                "arrow-python",
                "Arrow-batched Python stage present — acceptable for "
                "logic Spark can't express; keep it off the hot path",
            )
        )
    # count real shuffles only: broadcast exchanges move no shuffle
    # data ("Exchange " is a substring of "BroadcastExchange", so a
    # plain substring count would misreport healthy broadcast plans)
    n_exchange = (
        plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning")
        + plan.count("Exchange SinglePartition")
    )
    reused = plan.count("ReusedExchange")
    if n_exchange - reused > 4:
        out.append(
            Finding(
                "warn",
                "many-shuffles",
                f"{n_exchange - reused} exchanges in one plan — check for "
                "a reusable partitioning (bucketing, repartition once, "
                "DISTRIBUTE BY) or a lost co-partitioning",
            )
        )
    # precise pushdown check: a scan that carries post-scan DataFilters
    # but pushed nothing into the reader is losing the format-level
    # skip; a filter-free full scan (dedup/text sweeps) is NOT flagged
    for seg in plan.split("Scan parquet")[1:]:
        head = seg[:500]
        if (
            "DataFilters: [" in head
            and "DataFilters: []" not in head
            and "PushedFilters: []" in head
            and "PartitionFilters: []" in head
        ):
            out.append(
                Finding(
                    "info",
                    "no-pushdown",
                    "a parquet scan evaluates data filters without pushing "
                    "any into the reader — verify the predicate is pushable "
                    "(no casts/UDFs over the scan column)",
                )
            )
            break
    # global (unpartitioned) window: WindowExec with AllTuples child
    # distribution funnels every row through ONE task — the source of
    # Spark's "WindowExec: No Partition Defined" runtime warning.
    # Acceptable only over provably bounded inputs (top-k limits,
    # histogram bins, key-domain count tables — the allowlisted s10/
    # t34/q85 shapes); a data-sized input needs a partitionBy.
    for seg in plan.split("Window ")[1:]:
        nxt = seg.find("Exchange")
        if nxt != -1 and seg[nxt:].startswith("Exchange SinglePartition"):
            out.append(
                Finding(
                    "info",
                    "global-window",
                    "unpartitioned window (single-task sort of its whole "
                    "input) — fine over bounded inputs (top-k, bins, key "
                    "domains); add a partitionBy for data-sized inputs",
                )
            )
            break
    if "SortAggregate" in plan:
        out.append(
            Finding(
                "info",
                "sort-aggregate",
                "SortAggregate chosen (usually a non-hashable aggregate "
                "like string min/max on complex types) — hash-aggregable "
                "encodings (digests, longs) keep aggregation map-side",
            )
        )
    if "collect_list" in plan or "collect_set" in plan:
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
