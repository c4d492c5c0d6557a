"""Property-based invariants for the iterative operators (g04 BFS, t37
smoothed bigram LM, s14 Lloyd training): each Spark result is checked
against an independent pure-Python simulation of the documented
integer semantics (bounded example counts — each example runs Spark
jobs)."""

from __future__ import annotations

import math
from collections import Counter

from hypothesis import HealthCheck, given, settings, strategies as st

SETTINGS = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=20,
    ),
    src=st.integers(0, 9),
    depth=st.integers(1, 4),
)
@SETTINGS
def test_bfs_levels_matches_python_bfs(spark, edges, src, depth):
    """bfs_levels == a textbook Python BFS over the same directed
    edge set (min hop distance, capped depth)."""
    from arc_jupyter_spark.operators.graph import bfs_levels

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    want = {src: 0}
    frontier = [src]
    for d in range(1, depth + 1):
        nxt = sorted(
            {m for n in frontier for m in adj.get(n, ())} - want.keys()
        )
        if not nxt:
            break
        for m in nxt:
            want[m] = d
        frontier = nxt

    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    s = spark.createDataFrame([(src,)], "node bigint")
    got = {
        r["node"]: r["dist"]
        for r in bfs_levels(e, s, max_depth=depth).collect()
    }
    assert got == want, (edges, src, depth)


_WORDS = st.sampled_from(["a", "b", "c", "d"])


@given(
    train=st.lists(st.lists(_WORDS, min_size=0, max_size=6), min_size=1, max_size=4),
    score=st.lists(st.lists(_WORDS, min_size=2, max_size=6), min_size=1, max_size=4),
)
@SETTINGS
def test_smoothed_bigram_matches_python_lm(spark, train, score):
    """sum_chg/n_bigrams/n_unseen == a pure-Python add-V bigram LM with
    the integer charge formula (na + V) div (nab + 1)."""
    from arc_jupyter_spark.operators.text import smoothed_bigram_score

    uni = Counter(w for doc in train for w in doc)
    big = Counter(
        (doc[i], doc[i + 1]) for doc in train for i in range(len(doc) - 1)
    )
    v = len(uni)
    want = {}
    for i, doc in enumerate(score):
        chg = n_unseen = 0
        for j in range(len(doc) - 1):
            pair = (doc[j], doc[j + 1])
            chg += (uni.get(pair[0], 0) + v) // (big.get(pair, 0) + 1)
            n_unseen += pair not in big
        want[i] = (chg, len(doc) - 1, n_unseen)

    tr = spark.createDataFrame(
        [(i, " ".join(doc)) for i, doc in enumerate(train)],
        "doc_id bigint, text string",
    )
    sc = spark.createDataFrame(
        [(i, " ".join(doc)) for i, doc in enumerate(score)],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["sum_chg"], r["n_bigrams"], r["n_unseen"])
        for r in smoothed_bigram_score(tr, sc, "doc_id", "text").collect()
    }
    assert got == want, (train, score)


def _trunc(a: int, b: int) -> int:
    q = abs(a) // b
    return q if a >= 0 else -q


@given(
    pts=st.lists(
        st.tuples(
            st.floats(-1, 1, allow_nan=False, width=32),
            st.floats(-1, 1, allow_nan=False, width=32),
        ),
        min_size=2,
        max_size=12,
    ),
    iters=st.integers(1, 3),
)
@SETTINGS
def test_lloyd_train_matches_python_trajectory(spark, pts, iters):
    """The full quantized Lloyd trajectory == a pure-Python simulation
    with the same e6 quantization, integer-dot argmax (ties -> smallest
    cluster id), truncating-div update, and empty-cluster carry."""
    from arc_jupyter_spark.operators.similarity import lloyd_train_quantized

    scale = 1_000_000
    q6 = [
        [int(math.floor(float(x) * scale + 0.5)) for x in p] for p in pts
    ]
    anchors = [(0, list(pts[0])), (1, list(pts[1]))]
    cents = {
        aid: [int(math.floor(float(x) * scale + 0.5)) for x in vec]
        for aid, vec in anchors
    }

    def assign():
        out = []
        for q in q6:
            best = max(
                sorted(cents),
                key=lambda aid: (
                    sum(a * b for a, b in zip(q, cents[aid])),
                    -aid,
                ),
            )
            out.append(best)
        return out

    for _ in range(iters - 1):
        asg = assign()
        new = {}
        for aid, vec in cents.items():
            members = [q6[i] for i, a in enumerate(asg) if a == aid]
            if members:
                new[aid] = [
                    _trunc(sum(m[d] for m in members), len(members))
                    for d in range(len(vec))
                ]
            else:
                new[aid] = list(vec)
        cents = new
    asg = assign()
    want = {}
    for aid in cents:
        members = [q6[i] for i, a in enumerate(asg) if a == aid]
        for d in range(2):
            if members:
                want[(aid, d)] = (
                    _trunc(sum(m[d] for m in members), len(members)),
                    len(members),
                )

    df = spark.createDataFrame(
        [(i, [float(a), float(b)]) for i, (a, b) in enumerate(pts)],
        "vec_id bigint, embedding array<double>",
    )
    got = {
        (r["cluster_id"], r["dim"]): (r["c_e6"], r["n_c"])
        for r in lloyd_train_quantized(df, anchors, iters=iters).collect()
    }
    assert got == want, (pts, iters)
