"""Text-analysis operators: token counting, quality, language ID,
fingerprinting."""

import re
from pathlib import Path

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from arc_jupyter_spark.operators import text
from arc_jupyter_spark.workloads import _duck_sql


def one(spark, s, expr):
    return spark.createDataFrame([(s,)], ["t"]).select(expr.alias("v")).first()["v"]


def test_token_count(spark):
    assert one(spark, "Hello, world! 42", text.token_count(F.col("t"))) == 5


def test_word_count_empty_safe(spark):
    assert one(spark, "", text.word_count(F.col("t"))) == 0
    assert one(spark, "a b  c", text.word_count(F.col("t"))) == 3


def test_punct_ratio(spark):
    assert abs(one(spark, "ab!!", text.punct_ratio(F.col("t"))) - 0.5) < 1e-9


def test_quality_score_bounded(spark):
    for s in ["", "x", "the quick brown fox " * 50, "!!!???***"]:
        v = one(spark, s, text.quality_score(F.col("t")))
        assert 0.0 <= v <= 1.0


def test_quality_prefers_prose_over_noise(spark):
    prose = "the quick brown fox jumps over the lazy dog " * 20
    noise = "@#$% ^&*! ~~~ ((( )))"
    assert one(spark, prose, text.quality_score(F.col("t"))) > one(
        spark, noise, text.quality_score(F.col("t"))
    )


def test_detect_language(spark):
    en = "the cat and the dog are in the house with a mouse"
    es = "el perro y el gato están en la casa con un ratón"
    und = "zzzz qqqq xxxx"
    assert one(spark, en, text.detect_language(F.col("t"))) == "en"
    assert one(spark, es, text.detect_language(F.col("t"))) == "es"
    assert one(spark, und, text.detect_language(F.col("t"))) == "und"


def test_fingerprint_normalizes_whitespace_and_case(spark):
    a = one(spark, "Hello   World", text.fingerprint(F.col("t")))
    b = one(spark, "  hello world ", text.fingerprint(F.col("t")))
    c = one(spark, "hello worlds", text.fingerprint(F.col("t")))
    assert a == b and a != c


def test_redact_terms_word_boundary(spark):
    out = one(
        spark,
        "spark tables and spark data, sparkly",
        text.redact_terms(F.col("t"), ("spark", "data")),
    )
    # whole words replaced; "tables"/"sparkly" untouched
    assert out == "[X] tables and [X] [X], sparkly"


def test_redaction_count(spark):
    assert one(
        spark, "data spark data", text.redaction_count(F.col("t"), ("data",))
    ) == 2
    assert one(spark, "database", text.redaction_count(F.col("t"), ("data",))) == 0


def test_dup_word_fraction(spark):
    assert one(spark, "a a b", text.dup_word_fraction(F.col("t"))) == (1 - 2 / 3)
    assert one(spark, "a b c", text.dup_word_fraction(F.col("t"))) == 0.0
    assert one(spark, "", text.dup_word_fraction(F.col("t"))) == 0.0


def test_top_bigram_fraction(spark):
    # bigrams of "a b a b a": [a b, b a, a b, b a] -> mode 2/4
    assert one(spark, "a b a b a", text.top_bigram_fraction(F.col("t"))) == 0.5
    # all-distinct bigrams -> 1/(n-1)
    assert one(spark, "a b c d", text.top_bigram_fraction(F.col("t"))) == 1 / 3
    # fewer than 2 tokens: single joined shingle -> fraction 1.0
    assert one(spark, "solo", text.top_bigram_fraction(F.col("t"))) == 1.0


def test_token_rarity_integer_exact(spark):
    df = spark.createDataFrame(
        [(1, "the the the zebra"), (2, "the the the the")],
        ["id", "text"],
    )
    # corpus: the x7, zebra x1 -> total 8; surprisal: the -> 8 div 7 = 1,
    # zebra -> 8 div 1 = 8
    from arc_jupyter_spark.operators.text import token_rarity
    out = {r["id"]: (r["sum_rarity"], r["n_tokens"])
           for r in token_rarity(df, "id", "text").collect()}
    assert out[1] == (3 * 1 + 8, 4)
    assert out[2] == (4 * 1, 4)


def test_token_rarity_shuffle_join_matches_broadcast(spark):
    from arc_jupyter_spark.operators.text import token_rarity
    df = spark.createDataFrame(
        [(i, f"alpha beta gamma tok{i}") for i in range(20)], ["id", "text"]
    )
    a = sorted(map(tuple, token_rarity(df, "id", "text", broadcast_model=True).collect()))
    b = sorted(map(tuple, token_rarity(df, "id", "text", broadcast_model=False).collect()))
    assert a == b


def test_inverted_index_caps_and_counts(spark):
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "a c"), (3, "a"), (4, "a d"), (5, "a e"),
         (6, "a f"), (7, "a g")],
        ["doc_id", "text"],
    )
    rows = {
        r["tok"]: r
        for r in text.inverted_index(df, "doc_id", "text", top_postings=5).collect()
    }
    # 'a' appears in all 7 docs (once per doc despite repeat in doc 1)
    assert rows["a"]["df"] == 7
    # posting list capped at 5 smallest ids, sorted
    assert rows["a"]["postings"] == [1, 2, 3, 4, 5]
    assert rows["c"]["df"] == 1 and rows["c"]["postings"] == [2]


def test_bigram_lift_exact(spark):
    # corpus: "x y" twice, vocabulary x,y,z; total tokens = 6
    df = spark.createDataFrame(
        [(1, "x y z"), (2, "x y"), (3, "z")], ["doc_id", "text"]
    )
    out = {
        (r["w1"], r["w2"]): r
        for r in text.bigram_lift(df, "doc_id", "text", min_count=2).collect()
    }
    r = out[("x", "y")]
    # n_ab=2, total=6, n_x=2, n_y=2 -> 2*6*1e6 // 4 = 3_000_000
    assert r["n_ab"] == 2 and r["lift_ppm"] == 3_000_000


def test_bigram_lift_skips_short_docs(spark):
    df = spark.createDataFrame([(1, "solo"), (2, "")], ["doc_id", "text"])
    assert text.bigram_lift(df, "doc_id", "text", min_count=1).count() == 0


def test_bigram_surprisal_exact(spark):
    # corpus: doc1 "x y x z", doc2 "x y". bigrams: d1: (x,y),(y,x),(x,z); d2: (x,y)
    # unigram counts: x=3, y=2, z=1; bigram counts: (x,y)=2, (y,x)=1, (x,z)=1
    # d1 charges: x//(x,y)=3//2=1, y//(y,x)=2//1=2, x//(x,z)=3//1=3 -> 6 over 3
    # d2 charges: 3//2=1 -> 1 over 1
    df = spark.createDataFrame([(1, "x y x z"), (2, "x y")], ["doc_id", "text"])
    rows = {
        r["doc_id"]: r
        for r in text.bigram_surprisal(df, "doc_id", "text").collect()
    }
    assert rows[1]["sum_surprisal"] == 6 and rows[1]["n_bigrams"] == 3
    assert rows[2]["sum_surprisal"] == 1 and rows[2]["n_bigrams"] == 1


def test_pii_scan_and_scrub(spark):
    s = "mail a.b@test.org or call 555-1234 from 192.168.0.1 ok"
    row = (
        spark.createDataFrame([(s,)], ["t"])
        .select(
            text.pii_count(F.col("t"), "email").alias("e"),
            text.pii_count(F.col("t"), "phone").alias("p"),
            text.pii_count(F.col("t"), "ipv4").alias("i"),
            text.pii_scrub(F.col("t")).alias("c"),
        )
        .first()
    )
    assert (row["e"], row["p"], row["i"]) == (1, 1, 1)
    assert row["c"] == "mail [PII] or call [PII] from [PII] ok"


def test_pii_scrub_clean_text_unchanged(spark):
    s = "no secrets here just words"
    row = spark.createDataFrame([(s,)], ["t"]).select(
        text.pii_scrub(F.col("t")).alias("c")
    ).first()
    assert row["c"] == s


def test_pii_scrub_case_insensitive(spark):
    s = "Contact John.Doe@Example.COM today"
    row = spark.createDataFrame([(s,)], ["t"]).select(
        text.pii_scrub(F.col("t")).alias("c"),
        text.pii_count(F.col("t"), "email").alias("n"),
    ).first()
    assert row["n"] == 1 and row["c"] == "Contact [PII] today"


def test_domain_block_filter_suffix_semantics(spark):
    from arc_jupyter_spark.operators.text import domain_block_filter

    rows = [
        (1, "https://spam-mill.com/x"),
        (2, "https://a.spam-mill.com/x"),
        (3, "https://notspam-mill.com/x"),     # not a label-boundary match
        (4, "https://ok.example.org/x"),
        (5, "http://SPAM-MILL.com/y"),          # case-insensitive host
    ]
    df = spark.createDataFrame(rows, ["id", "url"])
    kept = sorted(r["id"] for r in
                  domain_block_filter(df, "url", ["spam-mill.com"]).collect())
    assert kept == [3, 4]
    blocked = sorted(r["id"] for r in
                     domain_block_filter(df, "url", ["spam-mill.com"], keep=True).collect())
    assert blocked == [1, 2, 5]


def test_overlapping_chunks_coverage_and_overlap(spark):
    from arc_jupyter_spark.operators import text as text_ops

    # 40 tokens, window 32, stride 16 -> 1 + ceil(8/16) = 2 chunks
    words = [f"w{i}" for i in range(40)]
    df = spark.createDataFrame([(1, " ".join(words), "s0")],
                               ["doc_id", "text", "source"])
    rows = (
        text_ops.overlapping_chunks(
            df, "doc_id", "text", window=32, stride=16, keep_cols=("source",)
        )
        .orderBy("chunk_idx")
        .collect()
    )
    assert [r["chunk_idx"] for r in rows] == [0, 1]
    assert rows[0]["chunk_tokens"] == 32          # tokens 0..31
    assert rows[1]["chunk_tokens"] == 24          # tokens 16..39 (tail)
    assert rows[0]["source"] == "s0"
    assert rows[0]["chunk_digest"] != rows[1]["chunk_digest"]


def test_overlapping_chunks_short_doc_single_chunk(spark):
    from arc_jupyter_spark.operators import text as text_ops

    df = spark.createDataFrame([(7, "a b c")], ["doc_id", "text"])
    rows = text_ops.overlapping_chunks(df, "doc_id", "text").collect()
    assert len(rows) == 1
    assert rows[0]["chunk_idx"] == 0 and rows[0]["chunk_tokens"] == 3


def test_overlapping_chunks_exact_window_boundary(spark):
    from arc_jupyter_spark.operators import text as text_ops

    # n == window -> exactly 1 chunk; n == window + 1 -> 2 chunks
    for n, expect in [(32, 1), (33, 2)]:
        df = spark.createDataFrame(
            [(1, " ".join(f"w{i}" for i in range(n)))], ["doc_id", "text"]
        )
        assert (
            text_ops.overlapping_chunks(df, "doc_id", "text").count() == expect
        ), n


def test_ascii_words_filters_and_lowers(spark):
    df = spark.createDataFrame(
        [("The cat3 ran über a b zz",)], ["text"]
    )
    out = df.select(text.ascii_words(F.col("text")).alias("w")).collect()[0]["w"]
    # 'the' (lowered), 'ran', 'zz' pass; 'cat3' (digit), 'über'
    # (non-ASCII), 'a'/'b' (len 1) don't
    assert out == ["the", "ran", "zz"]


def test_char_pairs_adjacent(spark):
    df = spark.createDataFrame([("abcd",), ("xy",)], ["word"])
    rows = df.select(text.char_pairs(F.col("word")).alias("p")).collect()
    assert rows[0]["p"] == ["ab", "bc", "cd"]
    assert rows[1]["p"] == ["xy"]


def test_bpe_pair_counts_sum_invariant(spark):
    # total pair occurrences == sum over words of (len(word) - 1)
    words = ["hello", "help", "hell", "ox", "ox"]
    df = spark.createDataFrame([(" ".join(words),)], ["text"])
    pairs = (
        df.select(F.explode(text.ascii_words(F.col("text"))).alias("w"))
        .select(F.explode(text.char_pairs(F.col("w"))).alias("p"))
    )
    assert pairs.count() == sum(len(w) - 1 for w in words)
    top = (
        pairs.groupBy("p").count().orderBy(F.desc("count"), "p").first()
    )
    # 'el' and 'he' both appear 3x (hello, help, hell); the pair-asc
    # tiebreak picks 'el'
    assert top["p"] == "el" and top["count"] == 3


def test_smoothed_bigram_score_hand_values(spark):
    from arc_jupyter_spark.operators.text import smoothed_bigram_score

    train = spark.createDataFrame([(0, "a b a b")], ["doc_id", "text"])
    score = spark.createDataFrame(
        [(1, "a b c"), (3, "c c")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: (r["sum_chg"], r["n_bigrams"], r["n_unseen"])
        for r in smoothed_bigram_score(train, score, "doc_id", "text").collect()
    }
    # training counts: nab(a,b)=2, nab(b,a)=1; na(a)=na(b)=2; V=2
    # doc 1: (a,b) -> (2+2) div (2+1) = 1; (b,c) unseen -> (2+2) div 1 = 4
    # doc 3: (c,c) unseen, OOV w1 -> (0+2) div 1 = 2
    assert out == {1: (5, 2, 1), 3: (2, 1, 1)}


def test_smoothed_bigram_score_short_docs_excluded(spark):
    from arc_jupyter_spark.operators.text import smoothed_bigram_score

    train = spark.createDataFrame([(0, "a b")], ["doc_id", "text"])
    score = spark.createDataFrame([(1, "solo"), (2, "")], ["doc_id", "text"])
    assert smoothed_bigram_score(train, score, "doc_id", "text").count() == 0


def test_dsir_importance_favors_targetlike(spark):
    """Docs sharing the target's bigrams must outrank docs that don't:
    the target-frequency numerator raises their per-occurrence ratio."""
    from arc_jupyter_spark.operators.text import dsir_importance

    target = spark.createDataFrame(
        [(100, "the cat sat on the mat"), (101, "the cat ran")],
        ["doc_id", "text"],
    )
    raw = spark.createDataFrame(
        [(1, "the cat sat quietly"), (2, "zq xv qqq zzz www vvv")],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in dsir_importance(target, raw, "doc_id", "text").collect()
    }
    mean_1 = rows[1]["sum_ratio_e6"] / rows[1]["n_bigrams"]
    mean_2 = rows[2]["sum_ratio_e6"] / rows[2]["n_bigrams"]
    assert mean_1 > mean_2
    assert rows[1]["n_bigrams"] == 3 and rows[2]["n_bigrams"] == 5


def test_dsir_importance_exact_charges(spark):
    """Hand-computed charges on a bucket-collision-free example:
    charge = ((n_target(b)+1)*1e6) DIV (n_raw(b)+1)."""
    from arc_jupyter_spark.operators.text import dsir_importance

    target = spark.createDataFrame(
        [(100, "a b a b")], ["doc_id", "text"]
    )  # target bigrams: (a,b)x2, (b,a)x1
    raw = spark.createDataFrame(
        [(1, "a b c")], ["doc_id", "text"]
    )  # raw bigrams: (a,b), (b,c) — each raw bucket count 1
    [r] = dsir_importance(target, raw, "doc_id", "text").collect()
    # (a,b): ((2+1)*1e6) DIV (1+1) = 1_500_000
    # (b,c): ((0+1)*1e6) DIV (1+1) =   500_000
    assert r["n_bigrams"] == 2
    assert r["sum_ratio_e6"] == 1_500_000 + 500_000


def test_dsir_importance_empty_raw(spark):
    from pyspark.sql import types as T

    from arc_jupyter_spark.operators.text import dsir_importance

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    target = spark.createDataFrame([(1, "a b")], schema=schema)
    empty = spark.createDataFrame([], schema=schema)
    out = dsir_importance(target, empty, "doc_id", "text")
    assert out.count() == 0
    assert out.columns == ["doc_id", "sum_ratio_e6", "n_bigrams"]


def test_vocab_growth_matches_python(spark):
    """vocab_growth == a pure-Python recompute: md5 shards, min-shard
    word attribution, cumulative = total distinct so far."""
    import hashlib

    from arc_jupyter_spark.operators.text import vocab_growth

    rows = [(i, f"w{i % 3} common tok{i}") for i in range(12)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [
        (r["shard"], r["n_tokens"], r["vocab_new"], r["vocab_cum"])
        for r in vocab_growth(df, "doc_id", "text", shards=3).collect()
    ]

    def shard_of(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:7], 16) % 3 + 1

    occ = []
    for i, t in rows:
        occ.extend((shard_of(i), w) for w in t.lower().split())
    toks = {}
    first = {}
    for s, w in occ:
        toks[s] = toks.get(s, 0) + 1
        first[w] = min(first.get(w, s), s)
    new = {}
    for w, s in first.items():
        new[s] = new.get(s, 0) + 1
    cum, want = 0, []
    for s in sorted(toks):
        cum += new.get(s, 0)
        want.append((s, toks[s], new.get(s, 0), cum))
    assert got == want
    assert got[-1][3] == len(first)


def test_calibration_report_hand_example(spark):
    """Two bins' worth of hand-placed scores and labels."""
    from pyspark.sql import functions as F

    from arc_jupyter_spark.operators.text import calibration_report

    rows = [  # (score, label): two low-bin rows, two top-bin rows
        (0.10, 0), (0.15, 1), (0.95, 1), (1.00, 1),
    ]
    df = spark.createDataFrame(rows, ["s", "y"])
    got = {
        r["bin"]: (r["n"], r["n_pos"], r["pos_rate_e6"],
                   r["mean_conf_e6"], r["gap_e6"])
        for r in calibration_report(
            df, score=F.col("s"), label=F.col("y") == 1, bins=4
        ).collect()
    }
    # bin 0 = [0, .25): n=2, pos=1, rate 500000, conf (12.5e6)/100=125000
    assert got[0] == (2, 1, 500_000, 125_000, 375_000)
    # score 1.0 caps into bin 3: n=2, pos=2, conf mean of .95 and 1.0
    assert got[3] == (2, 2, 1_000_000, 975_000, 25_000)


def test_calibration_report_bins_must_divide(spark):
    import pytest as _pytest

    from arc_jupyter_spark.operators.text import calibration_report

    df = spark.createDataFrame([(0.5, 1)], ["s", "y"])
    with _pytest.raises(ValueError, match="divide"):
        calibration_report(df, F.col("s"), F.col("y") == 1, bins=3)


def test_calibration_report_clamps_out_of_range_scores(spark):
    """A score below 0 clamps into bin 0 (symmetric with the 1.0 top-bin
    cap); a NaN score surfaces as one NULL-bin row, never a real bin."""
    from pyspark.sql import functions as F

    from arc_jupyter_spark.operators.text import calibration_report

    rows = [(-0.25, 0), (0.10, 1), (float("nan"), 1)]
    df = spark.createDataFrame(rows, ["s", "y"])
    got = {
        r["bin"]: (r["n"], r["n_pos"])
        for r in calibration_report(
            df, score=F.col("s"), label=F.col("y") == 1, bins=4
        ).collect()
    }
    assert got[0] == (2, 1)  # the -0.25 row clamped in with the 0.10 row
    assert got[None] == (1, 1)  # the NaN row, isolated
    assert set(got) == {0, None}


# -- one tokenizer per engine -------------------------------------------

PACKAGE = Path(text.__file__).parents[1]
# filter(split(lower(x), '\s+'), ...) built by hand, in Python or SQL
SPARK_TOKENIZER = re.compile(
    r"\bsplit\(\s*(?:F\.)?lower\((?:[^()]|\([^()]*\))*\),\s*r?[\"']\\{1,2}s\+"
)
DUCK_TOKENIZER = re.compile(r"regexp_split_to_array\(\s*lower\(")


def _hand_built(pattern: re.Pattern, owner: Path) -> list[str]:
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == owner:
            continue
        src = path.read_text()
        for m in pattern.finditer(src):
            n = src.count("\n", 0, m.start()) + 1
            line = src.splitlines()[n - 1].strip()
            hits.append(f"{path.relative_to(PACKAGE.parent)}:{n}: {line}")
    return hits


def test_spark_tokenizer_is_built_only_in_text_module():
    hits = _hand_built(SPARK_TOKENIZER, Path(text.__file__))
    assert not hits, (
        "hand-built \\s+ tokenizer outside operators/text.py "
        "(call text.tokens):\n" + "\n".join(hits)
    )


def test_duck_tokenizer_is_built_only_in_duck_sql():
    hits = _hand_built(DUCK_TOKENIZER, Path(_duck_sql.__file__))
    assert not hits, (
        "hand-built DuckDB tokenizer outside workloads/_duck_sql.py "
        "(call duck_tokens):\n" + "\n".join(hits)
    )


# Spark's lower applies Java's special casing ('İ' -> 'i̇', a word-final
# 'Σ' -> 'ς'); DuckDB lowercases each code point on its own.
CASING_DIFFERS = ["İstanbul", "ΣΑΣ ΟΔΟΣ"]
# ASCII whitespace, the separators Java's \s and RE2's \s leave out,
# and Unicode spaces (neither engine splits on those)
WHITESPACE_LIKE = (
    "\t\n\x0b\x0c\r \x1c\x1d\x1e\x1f\x85\xa0\u1680\u2000\u2002"
    "\u2007\u200a\u2028\u2029\u202f\u205f\u3000"
)


def test_spark_tokens_equal_duckdb_twin(spark):
    values = [f"a{c}b" for c in WHITESPACE_LIKE] + CASING_DIFFERS + [
        "naïve café", "Straße", "日本語 テキスト", "ÉCOLE Ünïcödé",
        "emoji 🙂 🚀", "Mixed  CASE\tWords", " lead trail ", "   ", "", None,
    ]
    rows = list(enumerate(values))
    got = dict(
        spark.createDataFrame(rows, "i int, s string")
        .select("i", text.tokens(F.col("s")))
        .collect()
    )
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(values)),
                                    "s": pd.Series(values, dtype=object)}))
    want = dict(con.execute(
        f"SELECT i, {_duck_sql.duck_tokens('s')} FROM t"
    ).fetchall())
    assert len(got) == len(want) == len(values) == 34
    bad = [
        (values[i], got[i], want[i])
        for i in want
        if values[i] not in CASING_DIFFERS and got[i] != want[i]
    ]
    assert not bad, f"{len(bad)} of {len(values)} differ: {bad}"


def test_token_count_and_punct_ratio_equal_duckdb_twins(spark):
    values = [f"a{c}b" for c in WHITESPACE_LIKE] + [
        "ab\x0bc!", "Hello, world! 42", "ab!!", "naïve café!",
        "x_y-z 3.14", "emoji 🙂 🚀", "   ", "",
    ]
    rows = list(enumerate(values))
    got = {
        r[0]: (r[1], r[2])
        for r in spark.createDataFrame(rows, "i int, s string")
        .select("i", text.token_count(F.col("s")), text.punct_ratio(F.col("s")))
        .collect()
    }
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(values)), "s": values}))
    want = {r[0]: (r[1], r[2]) for r in con.execute(
        f"SELECT i, len(regexp_extract_all(s, '{_duck_sql.DUCK_TOKEN_PATTERN}')),"
        " CASE WHEN length(s) > 0 THEN CAST(length(regexp_replace("
        f"s, '{_duck_sql.DUCK_ALNUM_SPACE}', '', 'g')) AS DOUBLE) / length(s)"
        " ELSE 0.0 END FROM t"
    ).fetchall()}
    # Java's \s holds U+000B, so these read 'a' 'b' and 'ab' 'c' '!'
    assert got[values.index("a\x0bb")] == (2, 0.0)
    assert got[values.index("ab\x0bc!")] == (3, 0.2)
    bad = [(values[i], got[i], want[i]) for i in want if got[i] != want[i]]
    assert not bad, f"{len(bad)} of {len(values)} differ: {bad}"
