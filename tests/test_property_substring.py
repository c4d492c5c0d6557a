"""Property-based invariants for the exact-substring dedup family
(d18 maximal cross-document matches, d19 keep-first scrub, d20 self
repeats, cross-corpus matches): each operator's Spark seed-and-chain
diagonal run-merge is checked against an independent pure-Python
scan — for every document pair and every alignment offset, scan the
token-equality runs directly and keep the maximal runs >= min_len.
This is the naive O(n*m) form of what a suffix array computes;
agreement on random corpora is the "suffix-array semantics" claim of
operators/dedup.py:maximal_match_pairs (bounded example count — each
example runs Spark jobs)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

SETTINGS = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# 3-word vocabulary: dense collisions, so runs, splits, repeats and
# multi-occurrence grams all appear within a handful of examples
_WORDS = ["aa", "bb", "cc"]

doc_text = st.lists(
    st.sampled_from(_WORDS), min_size=2, max_size=20
).map(" ".join)


def _brute_maximal_pair(ta, tb, min_len):
    """All maximal equal-token runs between two token lists (1-based
    start positions), by direct per-alignment scan."""
    out = set()
    la, lb = len(ta), len(tb)
    for d in range(-(lb - 1), la):  # 0-based alignment i - j = d
        i = max(0, d)
        run = 0
        start = 0
        while i < la and i - d < lb:
            if ta[i] == tb[i - d]:
                if run == 0:
                    start = i
                run += 1
            else:
                if run >= min_len:
                    out.add((start + 1, start - d + 1, run))
                run = 0
            i += 1
        if run >= min_len:
            out.add((start + 1, start - d + 1, run))
    return out


@given(
    texts=st.lists(doc_text, min_size=2, max_size=5),
    seed_len=st.integers(2, 3),
    extra=st.integers(0, 2),
)
@SETTINGS
def test_maximal_matches_equal_pure_python_suffix_scan(
    spark, texts, seed_len, extra
):
    from arc_jupyter_spark.operators.dedup import maximal_match_pairs

    min_len = seed_len + extra
    df = spark.createDataFrame(list(enumerate(texts)), ["id", "text"])
    got = {
        (r["id_a"], r["id_b"], r["start_a"], r["start_b"], r["match_len"])
        for r in maximal_match_pairs(
            df, "id", "text",
            seed_len=seed_len, min_len=min_len, max_doc_freq=None,
        ).collect()
    }
    toks = [t.lower().split() for t in texts]
    want = set()
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            for sa, sb, ln in _brute_maximal_pair(toks[a], toks[b], min_len):
                want.add((a, b, sa, sb, ln))
    assert got == want


@given(
    texts=st.lists(doc_text, min_size=2, max_size=5),
    seed_len=st.integers(2, 3),
    extra=st.integers(0, 2),
)
@SETTINGS
def test_scrub_equals_pure_python_coverage(spark, texts, seed_len, extra):
    """d19 invariant: a token survives iff no maximal run >= min_len
    against ANY lower-id document covers it (keep-first semantics,
    one pass over the original corpus)."""
    from arc_jupyter_spark.operators.dedup import scrub_maximal_matches

    min_len = seed_len + extra
    df = spark.createDataFrame(list(enumerate(texts)), ["id", "text"])
    got = {
        r["id"]: r["clean_text"]
        for r in scrub_maximal_matches(
            df, "id", "text",
            seed_len=seed_len, min_len=min_len, max_doc_freq=None,
        ).collect()
    }
    toks = [t.lower().split() for t in texts]
    for k in range(len(texts)):
        covered = set()
        for j in range(k):
            for _, sb, ln in _brute_maximal_pair(toks[j], toks[k], min_len):
                covered.update(range(sb, sb + ln))  # 1-based positions
        want = " ".join(
            tok for i, tok in enumerate(toks[k], start=1) if i not in covered
        )
        assert got[k] == want


def _brute_self_repeats(toks, min_len):
    """Maximal within-doc equal runs (1-based later-occurrence start,
    length), by direct per-offset scan."""
    out = []
    n = len(toks)
    for d in range(1, n):
        run = 0
        start = 0
        for i in range(0, n - d):
            if toks[i] == toks[i + d]:
                if run == 0:
                    start = i
                run += 1
            else:
                if run >= min_len:
                    out.append((start + 1 + d, run))
                run = 0
        if run >= min_len:
            out.append((start + 1 + d, run))
    return out


@given(
    texts=st.lists(doc_text, min_size=1, max_size=4),
    seed_len=st.integers(2, 3),
    extra=st.integers(0, 2),
)
@SETTINGS
def test_self_repeats_equal_pure_python_scan(spark, texts, seed_len, extra):
    from arc_jupyter_spark.operators.dedup import self_repeat_stats

    min_len = seed_len + extra
    df = spark.createDataFrame(list(enumerate(texts)), ["id", "text"])
    got = {
        r["id"]: (r["n_rep_matches"], r["max_len"], r["rep_tokens"])
        for r in self_repeat_stats(
            df, "id", "text",
            seed_len=seed_len, min_len=min_len, max_gram_occ=None,
        ).collect()
    }
    want = {}
    for k, t in enumerate(texts):
        runs = _brute_self_repeats(t.lower().split(), min_len)
        if runs:
            covered = set()
            for s, ln in runs:
                covered.update(range(s, s + ln))
            want[k] = (len(runs), max(ln for _, ln in runs), len(covered))
    assert got == want


@given(
    probe=st.lists(doc_text, min_size=1, max_size=3),
    corpus=st.lists(doc_text, min_size=1, max_size=3),
    seed_len=st.integers(2, 3),
)
@SETTINGS
def test_cross_match_equals_pure_python_suffix_scan(
    spark, probe, corpus, seed_len
):
    from arc_jupyter_spark.operators.dedup import cross_match_pairs

    min_len = seed_len + 1
    pa = spark.createDataFrame(list(enumerate(probe)), ["id", "text"])
    ca = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(corpus)], ["id", "text"]
    )
    got = {
        (r["id_probe"], r["id_corpus"], r["start_probe"],
         r["start_corpus"], r["match_len"])
        for r in cross_match_pairs(
            pa, ca, "id", "text",
            seed_len=seed_len, min_len=min_len, max_doc_freq=None,
        ).collect()
    }
    want = set()
    for i, pt in enumerate(probe):
        for j, ct in enumerate(corpus):
            for sp, sc, ln in _brute_maximal_pair(
                pt.lower().split(), ct.lower().split(), min_len
            ):
                want.add((i, 100 + j, sp, sc, ln))
    assert got == want
