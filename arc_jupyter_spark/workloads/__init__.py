"""Driver-facing workload registry.

Each named query is a ``(spark, sf_dir) -> DataFrame`` callable paired
(when SQL-expressible) with an ANSI-SQL oracle string DuckDB runs on
the same parquet tables. Column names and rounding are mirrored on both
sides so the driver's order-insensitive value hash matches.

An oracle must not return DuckDB's HUGEINT: DuckDB types
``SUM(<integer>)`` as HUGEINT, which the driver's pandas fetch turns
into float64 while Spark's side stays int64, so the value hashes
differ on equal values. Each oracle casts such a column to BIGINT at
its own expression (``CAST(SUM(x) AS BIGINT) AS x_sum``);
``tests/test_driver_contract.py::test_no_oracle_returns_hugeint``
binds every oracle and fails on any HUGEINT result column.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from arc_jupyter_spark.workloads import (  # noqa: F401
    curation,
    llmops,
    relational,
    stage_queries,
    streaming_queries,
)
from arc_jupyter_spark.workloads.base import ORACLES, QUERIES


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
