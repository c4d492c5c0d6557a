"""Property-based invariants for the containment and importance
operators (d17 containment pairs, t38 DSIR importance): each Spark result is checked
against an independent pure-Python simulation of the documented
semantics (bounded example counts — each example runs Spark jobs)."""

from __future__ import annotations

import hashlib
from collections import Counter

from hypothesis import HealthCheck, given, settings, strategies as st

SETTINGS = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]

doc_text = st.lists(
    st.sampled_from(_WORDS), min_size=1, max_size=12
).map(" ".join)


def _shingles(text: str, n: int) -> set[str]:
    toks = [t for t in text.lower().split() if t]
    if len(toks) >= n:
        return {
            " ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)
        }
    return {" ".join(toks)}


@given(texts=st.lists(doc_text, min_size=2, max_size=6), n=st.integers(2, 3))
@SETTINGS
def test_containment_matches_python_sets(spark, texts, n):
    from arc_jupyter_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(list(enumerate(texts)), ["id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(
            df, "id", "text", shingle_len=n, threshold=0.0
        ).collect()
    }
    sh = {i: _shingles(t, n) for i, t in enumerate(texts)}
    want = {}
    for a in sh:
        for b in sh:
            if a < b and sh[a] & sh[b]:
                want[(a, b)] = len(sh[a] & sh[b]) / min(
                    len(sh[a]), len(sh[b])
                )
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def _bucket(w1: str, w2: str, buckets: int) -> int:
    h = hashlib.md5(f"{w1}|{w2}".encode()).hexdigest()
    return int(h[:7], 16) % buckets


@given(
    target=st.lists(doc_text, min_size=1, max_size=4),
    raw=st.lists(doc_text, min_size=1, max_size=4),
    buckets=st.sampled_from([64, 4096]),
)
@SETTINGS
def test_dsir_matches_python_counts(spark, target, raw, buckets):
    """dsir_importance == the hand-rolled hashed-bigram ratio sums
    (portable md5 bucketing, add-one smoothing, truncating DIV)."""
    from arc_jupyter_spark.operators.text import dsir_importance

    tdf = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(target)], ["doc_id", "text"]
    )
    rdf = spark.createDataFrame(
        list(enumerate(raw)), ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["sum_ratio_e6"], r["n_bigrams"])
        for r in dsir_importance(
            tdf, rdf, "doc_id", "text", buckets=buckets
        ).collect()
    }

    def occs(texts):
        out = []
        for i, t in enumerate(texts):
            toks = [x for x in t.lower().split() if x]
            out.extend(
                (i, _bucket(a, b, buckets))
                for a, b in zip(toks, toks[1:])
            )
        return out

    nt = Counter(b for _, b in occs(target))
    raw_occ = occs(raw)
    nr = Counter(b for _, b in raw_occ)
    want: dict[int, list[int]] = {}
    for i, b in raw_occ:
        want.setdefault(i, [0, 0])
        want[i][0] += ((nt.get(b, 0) + 1) * 1_000_000) // (nr[b] + 1)
        want[i][1] += 1
    assert got == {i: (s, n) for i, (s, n) in want.items()}
