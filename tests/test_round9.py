"""Round-9 additions (VERDICT r8 items + ADVICE fixes):

- kcore round-exhaustion detection: the peel must FAIL LOUDLY when
  max_rounds is exhausted before the fixpoint instead of returning a
  degree-filtered subgraph that is not the k-core (ADVICE r8);
- collision-proof graph node namespaces: supplier/part nodes live in
  the negated id space, so customer/order ids can never merge with
  them at any scale factor (ADVICE r8);
- the deep-peel "onion" gadget used by the g07 skew fixture: layered
  construction with an analytically known k-core (hub + clique), so
  the adversarial performance fixture is also correctness-checked;
- foreachBatch replay idempotence: a mid-stream crash forces Spark to
  REPLAY a batch id from the checkpoint; the batch-id-named delta
  overwrite must make the replayed run's sink equal the clean run's
  (VERDICT r8 item 3 — exercised, not just claimed).
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"
SF2_DIR = "/root/testdata/sf0.01"


def _path_edges(n):
    """Path 0-1-...-(n-1), both orientations (the g04 convention)."""
    out = []
    for a in range(n - 1):
        out.append((a, a + 1))
        out.append((a + 1, a))
    return out


def test_kcore_raises_on_round_exhaustion(spark):
    """A 12-node path at k=2 peels one node from each end per round
    (~5 rounds to empty). With max_rounds=2 the survivor set is still
    shrinking when the budget runs out — the old code silently
    returned a degree-filtered subgraph that is NOT the 2-core (a
    path has no 2-core at all); it must raise instead."""
    from arc_jupyter_spark.operators.graph import kcore

    df = spark.createDataFrame(_path_edges(12), ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore(df, k=2, max_rounds=2).collect()
    # the full-budget run converges: a path has an empty 2-core
    assert kcore(df, k=2).count() == 0


def test_kcore_budget_exhaustion_at_fixpoint_is_not_an_error(spark):
    """If the peel COMPLETES on exactly the last allowed round (the
    fixpoint probe would only fire one round later), the extra
    stability check must accept the result rather than raise."""
    from arc_jupyter_spark.operators.graph import kcore

    # triangle + one pendant: round 1 peels the pendant, rounds 2+
    # are stable. max_rounds=1 exhausts the loop right after the only
    # real peel — survivors are already the 2-core.
    edges = _path_edges(2)  # pendant 0-1
    for a, b in ((1, 2), (2, 3), (3, 1)):
        edges += [(a, b), (b, a)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = sorted(tuple(r) for r in kcore(df, k=2, max_rounds=1).collect())
    assert got == [(1, 2), (2, 2), (3, 2)]


def test_onion_gadget_core_is_analytic(spark):
    """The deep-peel onion fixture (tools/gen_skewed.py onion_edges)
    must peel to EXACTLY its designed k-core — clique + hub with the
    predicted within-core degrees — and agree with a brute-force
    reference peel, so the adversarial g07 performance fixture is
    also correctness-checked."""
    from pyspark.sql import functions as F

    from arc_jupyter_spark.operators.graph import kcore
    from tools.gen_skewed import onion_edges

    depth, m, k, clique, hub_links = 4, 8, 4, 8, 4
    pairs = onion_edges(spark, depth, m, k, clique, hub_links)
    edges = pairs.unionAll(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    got = sorted(tuple(r) for r in kcore(edges, k=k).collect())

    # brute-force reference peel over the collected edge list
    adj: dict[int, set[int]] = {}
    for a, b in pairs.collect():
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    while True:
        weak = {u for u in alive if len(adj[u] & alive) < k}
        if not weak:
            break
        alive -= weak
    expect = sorted((u, len(adj[u] & alive)) for u in alive)
    assert got == expect

    core_base = depth * m
    hub = core_base + clique
    want_nodes = {core_base + c for c in range(clique)} | {hub}
    assert {n for n, _ in got} == want_nodes
    degrees = dict(got)
    assert degrees[hub] == hub_links
    for c in range(clique):
        assert degrees[core_base + c] == (clique - 1) + (1 if c < hub_links else 0)


def test_onion_peel_depth_is_the_designed_worst_case(spark):
    """Each layer must survive exactly until its lower support peels:
    a budget of depth-1 rounds exhausts mid-peel (raises), depth+2
    converges — the fixture really does cost one round per layer."""
    from pyspark.sql import functions as F

    from arc_jupyter_spark.operators.graph import kcore
    from tools.gen_skewed import onion_edges

    depth, m, k = 5, 8, 4
    pairs = onion_edges(spark, depth, m, k, clique=8, hub_core_links=4)
    edges = pairs.unionAll(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore(edges, k=k, max_rounds=depth - 1).collect()
    assert kcore(edges, k=k, max_rounds=depth + 2).count() == 9


def test_foreachbatch_replay_is_idempotent(spark, tmp_path):
    """Kill a foreachBatch query AFTER it wrote a batch's output but
    BEFORE the checkpoint committed that batch, restart from the same
    checkpoint, and observe Spark REPLAY the batch id with the same
    data. The st09/st16 exactly-once claim rests on batch-id-named
    delta overwrites being replay-idempotent — this exercises the
    replay instead of asserting the naming convention (VERDICT r8
    item 3)."""
    import glob
    import shutil

    from pyspark.sql import functions as F
    from pyspark.errors import StreamingQueryException

    src = tmp_path / "src"
    out = tmp_path / "out"
    ck = tmp_path / "ck"
    src.mkdir()
    out.mkdir()

    def land(lo, hi, name):
        tmp = tmp_path / f"_stage_{name}"
        spark.range(lo, hi).withColumn(
            "v", F.col("id") * 7
        ).coalesce(1).write.parquet(str(tmp))
        part = glob.glob(str(tmp / "part-*.parquet"))[0]
        shutil.copy(part, str(src / f"{name}.parquet"))

    for i in range(4):
        land(i * 25, (i + 1) * 25, f"f{i}")
    schema = spark.read.parquet(str(src)).schema

    seen: list[int] = []
    crashed = {"done": False}

    def sink(bdf, bid):
        # the st09/st16 recipe: delta named by batch id, OVERWRITE
        # mode — a replayed id rewrites the same delta, not a second
        # copy
        bdf.write.mode("overwrite").parquet(f"{out}/batch={bid}")
        seen.append(bid)
        if bid == 2 and not crashed["done"]:
            crashed["done"] = True
            # output exists, checkpoint commit for batch 2 does NOT:
            # the exact window a replay covers
            raise RuntimeError("injected crash between write and commit")

    def run():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with pytest.raises(StreamingQueryException):
        run()
    run()  # restart from the same checkpoint

    # a batch id was actually REPLAYED (same id observed twice), and
    # no batch was skipped
    assert seen.count(2) == 2, seen
    assert sorted(set(seen)) == [0, 1, 2, 3], seen

    # the replayed run's sink equals the single-run result exactly:
    # every source row exactly once, values intact
    got = spark.read.option("basePath", str(out)).parquet(f"{out}/batch=*")
    assert got.count() == 100
    assert got.select("id").distinct().count() == 100
    bad = got.where(F.col("v") != F.col("id") * 7).count()
    assert bad == 0


def test_graph_node_namespaces_never_collide(spark):
    """g01/g03/g06/g07 encode supplier nodes as -l_suppkey and g05
    encodes parts as -l_partkey: the two node domains of each graph
    must be disjoint BY SIGN at any scale factor (the old additive
    offset broke at true TPC-H SF >= 7 where o_custkey > 1e6)."""
    from pyspark.sql import functions as F

    from arc_jupyter_spark.workloads.llmops import _G07_EDGES

    for t in ("orders", "lineitem"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").createOrReplaceTempView(t)
    pairs = spark.sql(_G07_EDGES)
    mm = pairs.agg(
        F.min("src").alias("min_src"), F.max("dst").alias("max_dst")
    ).first()
    assert mm["min_src"] >= 0 and mm["max_dst"] < 0


def test_t45_known_tiny_corpus(spark):
    """Hand-checkable diversity values: 'a a b' → 2 types, 3 tokens,
    1 hapax, rep2=2: ttr=666666, gt=333333, simpson=((2*1000)//2)*1000//3."""
    from arc_jupyter_spark.workloads.llmops import t45

    import tempfile

    d = tempfile.mkdtemp(prefix="t45_")
    spark.createDataFrame(
        [(1, "a a b", "s1"), (2, "x y", "s2")],
        ["doc_id", "text", "source"],
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {r["source"]: tuple(r) for r in t45(spark, d).collect()}
    assert got["s1"] == ("s1", 2, 3, 666666, 333333, 333333)
    # all-hapax source: ttr = gt = 1e6, simpson 0
    assert got["s2"] == ("s2", 2, 2, 1000000, 1000000, 0)


def test_d23_exact_duplicates_land_in_decile_zero(spark):
    """A byte-identical pair has est = exact = 1e6 → err decile 0;
    the histogram must put it there with matching sums."""
    from arc_jupyter_spark.workloads.llmops import d23

    import tempfile

    d = tempfile.mkdtemp(prefix="d23_")
    txt = "alpha beta gamma delta epsilon zeta eta theta"
    spark.createDataFrame(
        [(1, txt, "s"), (2, txt, "s"), (3, "totally different words here", "s")],
        ["doc_id", "text", "source"],
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = {r["err_decile"]: r for r in d23(spark, d).collect()}
    assert 0 in rows
    z = rows[0]
    assert z["n_pairs"] >= 1
    # the identical pair contributes est=exact=1e6
    assert z["sum_est_e6"] >= 1_000_000 and z["sum_exact_e6"] >= 1_000_000


def test_st17_stream_equals_batch_asof(spark):
    """The streamed per-batch as-of enrichment must equal the batch
    asof_join rollup computed directly (stream/batch identity)."""
    from pyspark.sql import functions as F

    from arc_jupyter_spark.operators.joins import asof_join
    from arc_jupyter_spark.workloads.base import read_events
    from arc_jupyter_spark.workloads.streaming_queries import st17

    got = {tuple(r) for r in st17(spark, SF_DIR).collect()}

    ev = read_events(spark, SF_DIR).select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "us"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "us", F.col("us").alias("click_us")
    )
    out = asof_join(errors, clicks, on="us", by="user_id",
                    right_value_cols=["click_us"], strict=True)
    want = {
        tuple(r)
        for r in out.groupBy(
            (F.col("user_id") % 8).cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_errors"),
            F.sum(F.when(F.col("asof_click_us").isNotNull(), 1).otherwise(0))
            .cast("bigint").alias("n_matched"),
            F.sum(F.coalesce("asof_click_us", F.lit(0)))
            .cast("bigint").alias("sum_click_us"),
            F.sum("event_id").alias("id_sum"),
        )
        .collect()
    }
    assert got == want and got


def test_g08_coreness_matches_bruteforce(spark):
    """Nested-peel coreness levels must agree with a driver-side
    reference decomposition on random graphs (levels = how many of
    the k thresholds the node's coreness passes), including the
    nesting shortcut (each peel runs on the previous core's induced
    subgraph)."""
    import random

    from pyspark.sql import functions as F

    from arc_jupyter_spark.checkpoint import materialize, materialize_lazy
    from arc_jupyter_spark.operators.graph import kcore

    rng = random.Random(9)
    n, ks = 60, (2, 3, 4)
    edges = set()
    for _ in range(400):
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.add((a, b))
            edges.add((b, a))
    adj: dict[int, set[int]] = {u: set() for u in range(n)}
    for a, b in edges:
        adj[a].add(b)

    def ref_core(k):
        alive = {u for u in adj if adj[u]}
        while True:
            weak = {u for u in alive if len(adj[u] & alive) < k}
            if not weak:
                return alive
            alive -= weak

    want = {}
    for u in ref_core(ks[0]):
        want[u] = sum(1 for k in ks if u in ref_core(k))

    e = spark.createDataFrame(list(edges), ["src", "dst"]).transform(materialize)
    cores = []
    for k in ks:
        m = kcore(e, k=k).select("node").transform(materialize_lazy)
        cores.append(m)
        e = (
            e.join(m.select(F.col("node").alias("src")), "src", "left_semi")
            .join(m.select(F.col("node").alias("dst")), "dst", "left_semi")
        )
    lv = (
        cores[0]
        .join(cores[1].withColumn("_f1", F.lit(1)), "node", "left")
        .join(cores[2].withColumn("_f2", F.lit(1)), "node", "left")
        .select(
            "node",
            (F.lit(1) + F.coalesce("_f1", F.lit(0))
             + F.coalesce("_f2", F.lit(0))).alias("level"),
        )
    )
    got = {r["node"]: r["level"] for r in lv.collect()}
    assert got == want and got


def test_t46_known_tiny_corpus(spark):
    """Hand-checkable Zipf profile: 'a'×5 'b'×3 'c'×1 in one source →
    3 types / 9 tokens all inside the head-10, zipf_c10 falls back to
    rank-1 when the vocabulary has <10 types."""
    import tempfile

    from arc_jupyter_spark.workloads.llmops import t46

    d = tempfile.mkdtemp(prefix="t46_")
    spark.createDataFrame(
        [(1, "a a a a a b b b c", "s1")],
        ["doc_id", "text", "source"],
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = tuple(t46(spark, d).collect()[0])
    # head10 = 9*1e6//9, mid/tail 0, top1=5, zipf fallback 10*5*1000//5
    assert got == ("s1", 3, 9, 1000000, 0, 0, 5, 10000)


def test_d24_cluster_sizes_and_singletons(spark):
    """Exact-dup clusters of size 3 and 2 plus 2 singletons: the
    histogram must report each size once with keep-one removability,
    and the singleton row counts docs outside every component."""
    import tempfile

    from arc_jupyter_spark.workloads.llmops import d24

    d = tempfile.mkdtemp(prefix="d24_")
    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t2 = "one two three four five six seven eight nine ten eleven"
    s1 = "solo document completely unlike anything else whatsoever here"
    s2 = "another lonely text sharing nothing with its whole corpus"
    spark.createDataFrame(
        [(1, t1, "s"), (2, t1, "s"), (3, t1, "s"),
         (4, t2, "s"), (5, t2, "s"), (6, s1, "s"), (7, s2, "s")],
        ["doc_id", "text", "source"],
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = {r["cluster_size"]: r for r in d24(spark, d).collect()}
    assert rows[3]["n_clusters"] == 1 and rows[3]["n_removable"] == 2
    assert rows[3]["min_anchor"] == 1
    assert rows[2]["n_clusters"] == 1 and rows[2]["n_removable"] == 1
    assert rows[2]["min_anchor"] == 4
    assert rows[1]["n_clusters"] == 2 and rows[1]["n_removable"] == 0
    assert rows[1]["min_anchor"] == 6


def test_g09_known_common_neighbors(spark):
    """Three customers, three suppliers, hand-counted co-occurrence:
    (10,20) and (20,30) share 2 customers, (10,30) shares 1."""
    import tempfile

    from arc_jupyter_spark.workloads.llmops import g09

    d = tempfile.mkdtemp(prefix="g09_")
    spark.createDataFrame(
        [(1, 101), (2, 102), (3, 103)], ["o_orderkey", "o_custkey"]
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    li = [(1, 10), (1, 20), (2, 10), (2, 20), (2, 30), (3, 20), (3, 30)]
    spark.createDataFrame(
        li, ["l_orderkey", "l_suppkey"]
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    got = [tuple(r) for r in g09(spark, d).collect()]
    assert got == [(10, 20, 2), (20, 30, 2), (10, 30, 1)]


def test_g09_cap_bounds_fanout(spark):
    """A customer touching 12 suppliers contributes pairs only among
    its capped top-8 (by lineitem count desc, suppkey asc): suppliers
    9..12 (one lineitem each, highest keys) must appear in no pair."""
    import tempfile

    from arc_jupyter_spark.workloads.llmops import g09

    d = tempfile.mkdtemp(prefix="g09cap_")
    spark.createDataFrame(
        [(1, 101)], ["o_orderkey", "o_custkey"]
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    li = []
    for s in range(1, 13):
        # suppliers 1..8 get two lineitems, 9..12 get one -> cap keeps 1..8
        li.append((1, s))
        if s <= 8:
            li.append((1, s))
    spark.createDataFrame(
        li, ["l_orderkey", "l_suppkey"]
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    got = [tuple(r) for r in g09(spark, d).collect()]
    touched = {x for r in got for x in r[:2]}
    assert touched == set(range(1, 9))
    # 8 choose 2 = 28 pairs, top-20 retained
    assert len(got) == 20


def test_s17_matches_driver_side_reference(spark):
    """The cell-bucketed kNN join must equal a driver-side replay of
    the same quantized arithmetic (absmax int8 → anchor argmax →
    in-cell top-3) on a random fixture."""
    import math
    import random
    import tempfile

    from arc_jupyter_spark.workloads.llmops import s17, _S17_ANCHORS, _S17_K

    rng = random.Random(17)
    dim, n = 6, 60
    vecs = {i: [rng.uniform(-1, 1) for _ in range(dim)] for i in range(n)}

    def q8(v):
        am = max(max(abs(x) for x in v), 1e-300)
        return [int(math.floor(x * 127 / am + 0.5)) for x in v]

    qv = {i: q8(v) for i, v in vecs.items()}

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    cell = {
        i: max(range(_S17_ANCHORS),
               key=lambda a: (dot(qv[i], qv[a]), -a))
        for i in qv
    }
    want = []
    for q in [i for i in sorted(vecs) if i % 97 == 0]:
        cand = [(dot(qv[q], qv[c]), c) for c in vecs
                if c != q and cell[c] == cell[q]]
        cand.sort(key=lambda t: (-t[0], t[1]))
        for rnk, (s, c) in enumerate(cand[:_S17_K], 1):
            want.append((q, c, s, rnk))

    d = tempfile.mkdtemp(prefix="s17_")
    spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    got = [tuple(r) for r in s17(spark, d).collect()]
    assert got == want and got


def test_q90_known_moments(spark):
    """Hand-checked power-sum moments on [100, 200, 300]: mean 200,
    m2 6666 (truncating), m3 400, Σx⁴ as an exact digit string."""
    import tempfile

    from arc_jupyter_spark.workloads.relational import q90

    d = tempfile.mkdtemp(prefix="q90_")
    spark.createDataFrame(
        [("A", 100.0), ("A", 200.0), ("A", 300.0)],
        ["l_returnflag", "l_extendedprice"],
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    got = tuple(q90(spark, d).collect()[0])
    assert got == ("A", 3, 600, 200, 6666, 400, "9800000000")


def test_m13_tiles_match_python_reference(spark):
    """Per-quadrant sums must equal a driver-side replay of the
    synthesizer's pixel formula with the same odd-row/column split."""
    import tempfile

    from arc_jupyter_spark.workloads.llmops import m13

    d = tempfile.mkdtemp(prefix="m13_")
    ids = [0, 3, 7, 11, 18]
    spark.createDataFrame(
        [(i, "x", "s") for i in ids], ["doc_id", "text", "source"]
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    def ref(i):
        w, h = 4 + i % 5, 3 + i % 4
        sums = [0, 0, 0, 0]
        for k in range(w * h * 3):
            pix = k // 3
            x, y = pix % w, pix // w
            q = (0 if y < h // 2 else 2) + (0 if x < w // 2 else 1)
            sums[q] += (i * 7 + 13 * k) % 256
        return (i, w, h, *sums)

    got = [tuple(r) for r in m13(spark, d).collect()]
    assert got == [ref(i) for i in ids]


def test_t47_novelty_extremes(spark):
    """A probe doc byte-identical to the reference has novelty 0; a
    probe doc sharing no 5-gram has novelty 1e6."""
    import tempfile

    from arc_jupyter_spark.workloads.llmops import t47

    d = tempfile.mkdtemp(prefix="t47_")
    ref_text = "alpha beta gamma delta epsilon zeta eta"
    new_text = "one two three four five six seven eight"
    spark.createDataFrame(
        [(3, ref_text, "old"), (1, ref_text, "copy"), (2, new_text, "fresh")],
        ["doc_id", "text", "source"],
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {r["source"]: r for r in t47(spark, d).collect()}
    assert set(got) == {"copy", "fresh"}
    assert got["copy"]["novelty_e6"] == 0
    assert got["fresh"]["novelty_e6"] == 1000000
    assert got["fresh"]["n_grams"] == 4  # 8 tokens -> 4 five-grams


def test_d25_exact_dups_are_true_in_every_config(spark):
    """A byte-identical pair shares every band under every banding, and
    its exact Jaccard is 1e6 — so each config reports it a candidate
    AND a true positive; the disjoint singleton pairs with nobody."""
    import tempfile

    from arc_jupyter_spark.workloads.llmops import d25

    d = tempfile.mkdtemp(prefix="d25_")
    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    spark.createDataFrame(
        [(1, t1, "s"), (2, t1, "s"),
         (3, "nothing here resembles the duplicated text at all", "s")],
        ["doc_id", "text", "source"],
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = {int(r["bands"]): r for r in d25(spark, d).collect()}
    assert set(rows) == {2, 4, 8}
    for nb, r in rows.items():
        assert r["rows_per_band"] * nb == 16
        assert r["n_candidates"] >= 1 and r["n_true"] >= 1
        assert r["precision_e6"] == 1000000  # only the dup pair collides


def test_st18_merge_equals_direct_batch(spark):
    """The batch-delta merge must equal a direct single-pass power-sum
    computation over the same events (commutative-monoid state)."""
    from pyspark.sql import functions as F

    from arc_jupyter_spark.workloads.base import read_events
    from arc_jupyter_spark.workloads.streaming_queries import st18

    sf = "/root/testdata/sf0.001"
    got = {r["event_type"]: tuple(r) for r in st18(spark, sf).collect()}
    x = F.floor(F.col("value") + F.lit(0.5)).cast("bigint")
    direct = (
        read_events(spark, sf)
        .select("event_type", x.alias("x"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("s1"),
            F.sum(F.expr("x * x")).alias("s2"),
            F.sum(F.expr("x * x * x")).alias("s3"),
            F.sum(F.expr("x * x * x * x")).alias("s4"),
        )
        .select(
            "event_type",
            F.col("n").cast("bigint"),
            F.col("s1").cast("bigint"),
            F.expr("s1 div n").cast("bigint"),
            F.expr("s2 div n - (s1 div n) * (s1 div n)").cast("bigint"),
            F.expr("s3 div n - 3 * (s1 div n) * (s2 div n) "
                   "+ 2 * (s1 div n) * (s1 div n) * (s1 div n)")
            .cast("bigint"),
            F.col("s4").cast("bigint"),
        )
    )
    want = {r["event_type"]: tuple(r) for r in direct.collect()}
    assert got == want and got
