"""Shared Spark fixtures. One session per test run (startup ~30 s);
suites must not assume catalog isolation — use unique view names."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

#: the checkout these tests belong to
REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.001"
SF1_DIR = str(REPO / ".scaledata" / "sf1")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    # The sf1 plan-gate sweep (tests/test_plans_scale.py) plans every
    # headline query against the generated 10x point; queries whose
    # CONSTRUCTION runs jobs (bloom builds, k-row centroid collects)
    # OOM a small heap at that scale. The big heap is only requested
    # when that sweep will actually run (sf1 data generated) or on
    # explicit override — hosts with less RAM keep the 4g default.
    driver_mem = os.environ.get("ARC_TEST_DRIVER_MEMORY") or (
        "12g" if os.path.isdir(SF1_DIR) else "4g"
    )
    s = (
        SparkSession.builder.master("local[8]")
        .appName("arc-jupyter-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture()
def ctx(spark):
    from arc_jupyter_spark.context import ArcContext

    return ArcContext(spark)
