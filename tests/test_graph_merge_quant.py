"""Unit tests for the round-2 additions: PageRank, MERGE upsert,
priority sampling, int8 quantization, leakage-safe split."""

from __future__ import annotations

from pyspark.sql import functions as F

from arc_jupyter_spark.operators.graph import pagerank
from arc_jupyter_spark.operators.joins import merge_upsert
from arc_jupyter_spark.operators.sampling import priority_sample
from arc_jupyter_spark.operators.similarity import (
    int_dot,
    quantize_int8,
    quantized_topk,
)


def test_pagerank_star_graph(spark):
    # star: 1..4 all point at 0 and 0 points back — node 0 must rank
    # highest; total rank is conserved up to integer-division dust.
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 5)] + [(0, i) for i in range(1, 5)],
        ["src", "dst"],
    )
    ranks = {r["node"]: r["rank_e9"] for r in pagerank(edges, iterations=5).collect()}
    assert len(ranks) == 5
    assert ranks[0] == max(ranks.values())
    leaves = [ranks[i] for i in range(1, 5)]
    assert len(set(leaves)) == 1  # symmetry
    assert sum(ranks.values()) <= 10**9


def test_pagerank_deterministic_across_partitionings(spark):
    rows = [(i, (i * 7) % 23) for i in range(100)]
    e1 = spark.createDataFrame(rows, ["src", "dst"]).repartition(1)
    e2 = spark.createDataFrame(rows, ["src", "dst"]).repartition(13)
    r1 = sorted((r["node"], r["rank_e9"]) for r in pagerank(e1, iterations=3).collect())
    r2 = sorted((r["node"], r["rank_e9"]) for r in pagerank(e2, iterations=3).collect())
    assert r1 == r2


def test_merge_upsert_semantics(spark):
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "s", "v"]
    )
    changes = spark.createDataFrame(
        [(2, "b2", 25.0, "U"), (3, "c", 30.0, "D"), (9, "z", 90.0, "I")],
        ["k", "s", "v", "op"],
    )
    out = {r["k"]: (r["s"], r["v"]) for r in
           merge_upsert(base, changes, ["k"]).collect()}
    assert out == {1: ("a", 10.0), 2: ("b2", 25.0), 9: ("z", 90.0)}


def test_merge_upsert_composite_key(spark):
    base = spark.createDataFrame([(1, 1, "x"), (1, 2, "y")], ["a", "b", "v"])
    changes = spark.createDataFrame([(1, 2, "y2", "U")], ["a", "b", "v", "op"])
    out = sorted(
        (r["a"], r["b"], r["v"])
        for r in merge_upsert(base, changes, ["a", "b"]).collect()
    )
    assert out == [(1, 1, "x"), (1, 2, "y2")]


def test_priority_sample_weighted_and_deterministic(spark):
    rows = [(i, 10 if i % 10 else 10000) for i in range(1000)]
    df = spark.createDataFrame(rows, ["id", "w"])
    got = priority_sample(df, "id", "w", k=100).collect()
    assert len(got) == 100
    heavy = sum(1 for r in got if r["w"] == 10000)
    # 10% of rows are 1000x heavier — they must dominate the sample
    assert heavy > 50
    again = priority_sample(df, "id", "w", k=100).collect()
    assert sorted(r["id"] for r in got) == sorted(r["id"] for r in again)


def test_priority_sample_zero_weight_excluded(spark):
    df = spark.createDataFrame([(1, 0), (2, 5), (3, 5)], ["id", "w"])
    got = sorted(r["id"] for r in priority_sample(df, "id", "w", k=2).collect())
    assert got == [2, 3]


def test_quantize_int8_bounds_and_zero_vector(spark):
    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])], ["id", "v"]
    )
    out = {r["id"]: r["q"] for r in
           df.select("id", quantize_int8(F.col("v")).alias("q")).collect()}
    assert out[1] == [64, -127, 32]  # floor(±x*127/1.0 + .5)
    assert out[2] == [0, 0, 0]
    assert all(-127 <= x <= 127 for x in out[1])


def test_int_dot_exact(spark):
    df = spark.createDataFrame([(1,)], ["id"])
    got = df.select(
        int_dot(
            F.array(F.lit(3), F.lit(-2), F.lit(7)),
            F.array(F.lit(10), F.lit(5), F.lit(1)),
        ).alias("d")
    ).first()["d"]
    assert got == 3 * 10 - 2 * 5 + 7


def test_quantized_topk_matches_exact_on_separable_data(spark):
    # query equals corpus vector 0; quantized scoring must still rank
    # the identical vector first
    vecs = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]),
            (2, [0.9, 0.1, 0.0]), (3, [-1.0, 0.0, 0.0])]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    got = quantized_topk(df, [1.0, 0.0, 0.0], k=2).collect()
    assert got[0]["vec_id"] == 0
    assert got[1]["vec_id"] == 2


def test_p05_split_covers_all_docs_and_no_leakage(spark):
    from tests.conftest import SF_DIR

    from arc_jupyter_spark.workloads import queries

    rows = queries()["p05_split_leakage_safe"](spark, SF_DIR).collect()
    total = sum(r["n_docs"] for r in rows)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert total == docs
    assert {r["split"] for r in rows} <= {"train", "val", "test"}


def test_label_propagation_two_cliques(spark):
    from arc_jupyter_spark.operators.graph import label_propagation

    # two disjoint triangles; synchronous LPA with min-label tie-break
    # converges each to its minimum node id within 2 rounds
    tri = lambda base: [
        (base + a, base + b)
        for a in range(3)
        for b in range(3)
        if a != b
    ]
    edges = spark.createDataFrame(tri(0) + tri(10), ["src", "dst"])
    out = {r["node"]: r["label"]
           for r in label_propagation(edges, iterations=2).collect()}
    assert out == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10}


def test_label_propagation_mode_beats_min(spark):
    from arc_jupyter_spark.operators.graph import label_propagation

    # node 9's neighbours after round 1 carry labels {5: x2, 0: x1} —
    # the MOST FREQUENT label must win even though 0 < 5
    # star around 9: leaves 5,6 form a clique with 5 (so 5,6 keep low
    # label 5), leaf 0 is isolated-ish
    edges_u = [(5, 6), (9, 5), (9, 6), (9, 0)]
    edges = spark.createDataFrame(
        edges_u + [(b, a) for a, b in edges_u], ["src", "dst"]
    )
    one = {r["node"]: r["label"]
           for r in label_propagation(edges, iterations=1).collect()}
    # round 1: 9 sees labels {5, 6, 0} all once -> tie -> min 0;
    # 5 sees {6, 9} -> 6; 6 sees {5, 9} -> 5; 0 sees {9} -> 9
    assert one[9] == 0 and one[5] == 6 and one[6] == 5 and one[0] == 9
    two = {r["node"]: r["label"]
           for r in label_propagation(edges, iterations=2).collect()}
    # round 2: 9 sees labels of 5,6,0 = {6, 5, 9} -> tie -> 5
    assert two[9] == 5


def test_label_propagation_deterministic_across_partitionings(spark):
    from arc_jupyter_spark.operators.graph import label_propagation

    rows = [(i, (i * 7) % 23) for i in range(100)]
    rows = rows + [(b, a) for a, b in rows]
    e1 = spark.createDataFrame(rows, ["src", "dst"]).repartition(1)
    e2 = spark.createDataFrame(rows, ["src", "dst"]).repartition(13)
    r1 = sorted((r["node"], r["label"])
                for r in label_propagation(e1, iterations=2).collect())
    r2 = sorted((r["node"], r["label"])
                for r in label_propagation(e2, iterations=2).collect())
    assert r1 == r2


def test_lloyd_step_quantized_hand_values(spark):
    from arc_jupyter_spark.operators.similarity import lloyd_step_quantized

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.9, 0.1]),
        (3, [0.1, 0.9]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    anchors = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    out = {
        (r["cluster_id"], r["dim"]): (r["sum_q"], r["n_c"], r["inertia_q"])
        for r in lloyd_step_quantized(df, anchors).collect()
    }
    # e6 quantization: [0.9, 0.1] -> [900000, 100000]; squared distance
    # to anchor0 [1000000, 0] = 1e10 + 1e10 = 2e10 (same for cluster 1)
    assert out == {
        (0, 0): (1_900_000, 2, 20_000_000_000),
        (0, 1): (100_000, 2, 20_000_000_000),
        (1, 0): (100_000, 2, 20_000_000_000),
        (1, 1): (1_900_000, 2, 20_000_000_000),
    }


def test_lloyd_step_quantized_noncontiguous_anchor_ids(spark):
    from arc_jupyter_spark.operators.similarity import lloyd_step_quantized

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    # anchor ids 7 and 42 exercise the id->position map path
    out = {
        (r["cluster_id"], r["dim"]): r["sum_q"]
        for r in lloyd_step_quantized(
            df, [(7, [1.0, 0.0]), (42, [0.0, 1.0])]
        ).collect()
    }
    assert out == {
        (7, 0): 1_000_000, (7, 1): 0, (42, 0): 0, (42, 1): 1_000_000,
    }


def test_bfs_levels_path_graph(spark):
    from arc_jupyter_spark.operators.graph import bfs_levels

    path = [(i, i + 1) for i in range(5)]
    edges = spark.createDataFrame(
        path + [(b, a) for a, b in path], ["src", "dst"]
    )
    src = spark.createDataFrame([(0,)], ["node"])
    out = {r["node"]: r["dist"]
           for r in bfs_levels(edges, src, max_depth=3).collect()}
    # nodes 4 and 5 are beyond the 3-hop cap
    assert out == {0: 0, 1: 1, 2: 2, 3: 3}


def test_bfs_levels_min_distance_on_diamond(spark):
    from arc_jupyter_spark.operators.graph import bfs_levels

    und = [(0, 1), (0, 2), (1, 3), (2, 3)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"]
    )
    src = spark.createDataFrame([(0,)], ["node"])
    rows = bfs_levels(edges, src, max_depth=3).collect()
    out = {r["node"]: r["dist"] for r in rows}
    assert len(rows) == 4  # node 3 labelled exactly once, via two parents
    assert out == {0: 0, 1: 1, 2: 1, 3: 2}


def test_bfs_levels_early_stop(spark):
    from arc_jupyter_spark.operators.graph import bfs_levels

    und = [(0, 1), (0, 2)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"]
    )
    src = spark.createDataFrame([(0,)], ["node"])
    # graph exhausts at depth 1; depth-50 request must not loop 50x
    out = {r["node"]: r["dist"]
           for r in bfs_levels(edges, src, max_depth=50).collect()}
    assert out == {0: 0, 1: 1, 2: 1}


def test_lloyd_train_hand_trajectory(spark):
    from arc_jupyter_spark.operators.similarity import lloyd_train_quantized

    # 1-D corpus, digits=1 so q values are exact tenths. Seeds at 0.0
    # and 1.0; points cluster around them.
    rows = [(i, [v]) for i, v in enumerate([0.0, 1.0, 0.1, 0.2, 0.9, 0.8])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    anchors = [(0, [0.0]), (1, [1.0])]
    out = {
        (r["cluster_id"], r["dim"]): (r["c_e6"], r["n_c"])
        for r in lloyd_train_quantized(df, anchors, iters=2, digits=1).collect()
    }
    # q = [0, 10, 1, 2, 9, 8]. Round 1 vs c0=[0],[10]: dot with 0 is 0
    # for every row, dot with 10 is 10*q — argmax picks cluster 1 when
    # q > 0 (dot > 0), ties (q=0) -> smallest id 0. So cluster 0 = {0},
    # cluster 1 = {1,2,3,4,5}: c1 = [0] and [(10+1+2+9+8) DIV 5 = 6].
    # Round 2 vs [0],[6]: q=0 ties -> 0; q>0 -> 6q > 0 -> cluster 1.
    # Same split: c_e6 0 -> 0 (n=1), 1 -> 6 (n=5).
    assert out == {(0, 0): (0, 1), (1, 0): (6, 5)}


def test_lloyd_train_empty_cluster_carries_centroid(spark):
    from arc_jupyter_spark.operators.similarity import lloyd_train_quantized

    # Both points have positive q; anchor 7 at -1.0 never wins, so its
    # cluster is empty every round — the loop must not KeyError and the
    # final output simply has no rows for it.
    df = spark.createDataFrame(
        [(0, [1.0]), (1, [0.5])], ["vec_id", "embedding"]
    )
    anchors = [(3, [1.0]), (7, [-1.0])]
    out = {
        r["cluster_id"]: (r["c_e6"], r["n_c"])
        for r in lloyd_train_quantized(df, anchors, iters=3, digits=1).collect()
    }
    # q = [10, 5]; both pick anchor 3 every round; centroid (10+5) DIV 2 = 7
    assert out == {3: (7, 2)}


def test_trunc_div_matches_spark_div(spark):
    from arc_jupyter_spark.operators.similarity import _trunc_div

    cases = [(-7, 2), (7, 2), (-9, 4), (9, 4), (-8, 2), (0, 3)]
    got = spark.createDataFrame(cases, ["a", "b"]).selectExpr(
        "a", "b", "a DIV b AS d"
    ).collect()
    for r in got:
        assert _trunc_div(r["a"], r["b"]) == r["d"], (r["a"], r["b"])


def test_label_propagation_string_node_ids(spark):
    """The argmax key must stay total for NON-numeric ids: min_by over
    struct(-n, label) negates the count, not the label, so string ids
    keep the (count DESC, label ASC) semantics instead of casting to
    null (ADVICE r5: the earlier -label key assumed numeric ids)."""
    from arc_jupyter_spark.operators.graph import label_propagation

    tri = lambda p: [
        (f"{p}{a}", f"{p}{b}") for a in range(3) for b in range(3) if a != b
    ]
    edges = spark.createDataFrame(tri("a") + tri("x"), ["src", "dst"])
    out = {r["node"]: r["label"]
           for r in label_propagation(edges, iterations=2).collect()}
    assert out == {"a0": "a0", "a1": "a0", "a2": "a0",
                   "x0": "x0", "x1": "x0", "x2": "x0"}
