"""Integrity of the replica-shifted sf1 scale point (tools/gen_scaled.py).

The 3-point scaling story (`git show cfcdf0a:SCALING.md`) rests on
sf1 preserving the sf0.1 workload SHAPE — join fan-outs, group
cardinality ratios, distinct-shingle disjointness. These tests pin that, and are skipped
when the generated data is absent (it is .gitignored; regenerate with
`python tools/gen_scaled.py`)."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF1_DIR as SF1

SF01 = "/root/testdata/sf0.1"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF1), reason="sf1 not generated (tools/gen_scaled.py)"
)


def test_row_counts_are_10x(spark):
    for t in ("customer", "orders", "lineitem", "events", "documents",
              "embeddings"):
        small = spark.read.parquet(f"{SF01}/{t}.parquet").count()
        large = spark.read.parquet(f"{SF1}/{t}.parquet").count()
        assert large == 10 * small, t


def test_join_fanout_preserved(spark):
    """orders⋈lineitem matches exactly 10x the sf0.1 pair count —
    keys shifted consistently, no cross-replica matches."""
    def pairs(d):
        o = spark.read.parquet(f"{d}/orders.parquet")
        li = spark.read.parquet(f"{d}/lineitem.parquet")
        return o.join(li, o.o_orderkey == li.l_orderkey).count()

    assert pairs(SF1) == 10 * pairs(SF01)


def test_dimension_tables_fixed(spark):
    for t in ("region", "nation"):
        small = spark.read.parquet(f"{SF01}/{t}.parquet").count()
        large = spark.read.parquet(f"{SF1}/{t}.parquet").count()
        assert large == small, t


def test_document_replicas_shingle_disjoint(spark):
    """The caesar rotation keeps replica text spaces disjoint: the
    distinct-text count is 10x (no cross-replica collisions), so the
    near-dup RATE stays constant instead of exploding 100x."""
    from pyspark.sql import functions as F

    small = (
        spark.read.parquet(f"{SF01}/documents.parquet")
        .select("text").distinct().count()
    )
    large = (
        spark.read.parquet(f"{SF1}/documents.parquet")
        .select("text").distinct().count()
    )
    assert large == 10 * small

