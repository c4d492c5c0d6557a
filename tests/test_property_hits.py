"""Property-based invariants for the HITS graph operator: integer
HITS against an independent pure-Python reference loop on RANDOM
directed graphs (bounded example count — each example runs Spark
jobs), plus the normalized-ranking equivalence on the same graphs."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

SETTINGS = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# small node domain → dense collisions: multi-edges (exercising the
# DISTINCT), self-loops, hubs and sinks all appear within a handful
# of examples
edge = st.tuples(st.integers(0, 7), st.integers(0, 7))
edge_lists = st.lists(edge, min_size=1, max_size=25)


def _py_hits(edges, iterations):
    edges = sorted(set(edges))  # the operator dedups edges first
    hubs = {u: 1 for u, _ in edges}
    auth = {}
    for _ in range(iterations):
        auth = {}
        for u, v in edges:
            if u in hubs:
                auth[v] = auth.get(v, 0) + hubs[u]
        hubs = {}
        for u, v in edges:
            if v in auth:
                hubs[u] = hubs.get(u, 0) + auth[v]
    return auth, hubs


@SETTINGS
@given(edge_lists, st.integers(1, 3))
def test_hits_matches_reference_on_random_graphs(spark, edges, iters):
    from arc_jupyter_spark.operators.graph import hits

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: (r.authority, r.hub)
        for r in hits(df, iterations=iters).collect()
    }
    auth, hubs = _py_hits(edges, iters)
    assert set(got) == set(auth) | set(hubs)
    for node, (a, h) in got.items():
        assert a == auth.get(node, 0), (node, edges)
        assert h == hubs.get(node, 0), (node, edges)


@SETTINGS
@given(edge_lists)
def test_hits_integer_ranking_equals_normalized_float(spark, edges):
    """The unnormalized-integer-equals-normalized-ranking claim, on
    random graphs. Ties are resolved identically on both sides by
    sorting (score, node) pairs, so the comparison is well-defined
    even when distinct nodes share a score."""
    from arc_jupyter_spark.operators.graph import hits

    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        ((r.authority, r.node) for r in hits(df, iterations=2).collect()
         if r.authority > 0),
        reverse=True,
    )
    dedup = sorted(set(edges))
    h = {u: 1.0 for u, _ in dedup}
    a = {}
    for _ in range(2):
        a = {}
        for u, v in dedup:
            if u in h:
                a[v] = a.get(v, 0.0) + h[u]
        s = sum(a.values())
        a = {k: v / s for k, v in a.items()}
        h = {}
        for u, v in dedup:
            if v in a:
                h[u] = h.get(u, 0.0) + a[v]
        s = sum(h.values())
        h = {k: v / s for k, v in h.items()}
    # compare RANK ORDER of nodes; float scores themselves differ by
    # the dropped normalization scalars. Group by score to compare
    # tie-sets, not element order within a tie.
    int_order = [n for _, n in got]
    float_order = [n for _, n in
                   sorted(((v, k) for k, v in a.items()), reverse=True)]
    # same node sets
    assert set(int_order) == set(float_order)
    # equal-score groups must partition identically: walk both lists
    # grouped by their score keys
    def groups(pairs):
        out, cur, last = [], [], None
        for s_, n in pairs:
            if last is not None and s_ != last:
                out.append(frozenset(cur))
                cur = []
            cur.append(n)
            last = s_
        if cur:
            out.append(frozenset(cur))
        return out

    gi = groups(got)
    gf = groups(sorted(((round(v, 9), k) for k, v in a.items()),
                       reverse=True))
    assert gi == gf, (edges, gi, gf)
