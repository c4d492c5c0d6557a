"""Consistency gates on the driver contract surface: the things the
grading driver assumes about `__spark_entry__` and `bench.py` that no
single query test would catch drifting."""

from __future__ import annotations

import json


def test_every_query_has_an_oracle():
    import __spark_entry__ as e

    qs, osql = e.queries(), e.oracle_sql()
    missing = sorted(set(qs) - set(osql))
    assert not missing, f"queries without oracle SQL: {missing}"
    stale = sorted(set(osql) - set(qs))
    assert not stale, f"oracles for unknown queries: {stale}"


def test_headline_is_a_subset_of_queries():
    import __spark_entry__ as e
    from bench import HEADLINE, SHARED_18

    qs = set(e.queries())
    assert set(HEADLINE) <= qs, sorted(set(HEADLINE) - qs)
    assert set(SHARED_18) <= set(HEADLINE)
    assert len(HEADLINE) == len(set(HEADLINE)), "duplicate headline entry"


def test_bench_summary_line_fits_driver_capture():
    """Round 3 was lost to a 2.5 KB final line the driver truncated;
    the compact summary bench.py prints (worst case: every total and
    SHARED_18 timing at 4-digit seconds) must stay under the 1.4 KB
    guard bench.py also asserts at runtime."""
    from bench import SHARED_18, compact_summary

    worst = 9999.999
    detail = {
        "value": worst,
        "value_first_pass": worst,
        "value_first_pass_quiet": worst,
        "sf": 0.001,
    }
    timings = {q: worst for q in SHARED_18}
    line = json.dumps(compact_summary(detail, timings, dict(timings)))
    assert len(line) < 1400, len(line)


def test_oracles_only_reference_registered_views():
    """Every oracle must run against the driver's pre-registered view
    set — a stray table name would error only at driver time."""
    import re

    import __spark_entry__ as e

    views = {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    # FROM/JOIN targets that are plain identifiers (CTE names are fine:
    # they are defined in the same statement and collected first; the
    # optional (...) after the name covers WITH RECURSIVE r(a, b) AS)
    pat = re.compile(r"\b(?:FROM|JOIN)\s+([a-z_][a-z0-9_]*)\b(?!\s*\.)", re.I)
    cte_pat = re.compile(
        r"\b([a-z_][a-z0-9_]*)\s*(?:\([^()]*\))?\s+AS\s*"
        r"(?:(?:NOT\s+)?MATERIALIZED\s*)?\(",
        re.I,
    )
    extract_pat = re.compile(
        r"EXTRACT\s*\(\s*\w+\s+FROM\s+[^)]*\)", re.I
    )
    bad = {}
    for name, sql in e.oracle_sql().items():
        sql = extract_pat.sub(" ", sql)  # EXTRACT(year FROM col)
        ctes = {m.lower() for m in cte_pat.findall(sql)}
        refs = {m.lower() for m in pat.findall(sql)}
        unknown = refs - views - ctes - {"unnest", "generate_series", "read_blob"}
        if unknown:
            bad[name] = sorted(unknown)
    assert not bad, f"oracles referencing unregistered tables: {bad}"


def test_no_oracle_returns_hugeint():
    """DuckDB types SUM(<integer>) as HUGEINT, which the driver's pandas
    fetch turns into float64 while Spark's side stays int64: equal values,
    different hashes. Every oracle must cast such a column to BIGINT
    itself. Binding (no execution) over the fixture views is enough to
    read the result types."""
    import duckdb

    import __spark_entry__ as e
    from arc_jupyter_spark.workloads.base import TABLES
    from conftest import SF_DIR

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    bad = []
    for name, sql in sorted(e.oracle_sql().items()):
        rel = con.sql(sql)
        bad += [
            f"{name}.{col}" for col, typ in zip(rel.columns, rel.types)
            if str(typ) == "HUGEINT"
        ]
    assert not bad, (
        "oracle columns typed HUGEINT (write CAST(... AS BIGINT) at the "
        f"column's expression): {bad}"
    )
