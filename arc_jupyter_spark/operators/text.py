"""Text analysis operators: language ID, quality scoring, token
counting, document fingerprinting.

All pure column expressions (split/regexp/higher-order functions) —
map-side, codegen'd, no UDFs, no shuffle. Heuristics are deliberately
simple and deterministic so they are oracle-checkable in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from arc_jupyter_spark.digest import md5_hex, md5_prefix_hash
from arc_jupyter_spark.exact import quantize

# Tiny per-language stopword lists for the n-gram/stopword language
# heuristic (public-knowledge function words).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "mit"),
    "es": ("el", "la", "los", "de", "que", "y", "es", "un"),
    "fr": ("le", "la", "les", "de", "et", "est", "un", "une"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不"),
}

# BPE-ish tokenization: letter runs, digit runs, or single other
# non-space symbols — the same regex works in Java (Spark) and RE2-ish
# engines (DuckDB).
TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def tokens(text: Column) -> Column:
    """Lowercased whitespace tokens (empty-safe): the package's one Spark
    word tokenizer. Its DuckDB twin is ``workloads._duck_sql.duck_tokens``;
    ``tests/test_text.py`` fails on a hand-built copy of either."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    """BPE-ish token count via regexp extraction (JVM-side)."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), 0))


def word_count(text: Column) -> Column:
    return F.size(tokens(text))


def punct_ratio(text: Column) -> Column:
    """Non-alphanumeric, non-space chars / total chars."""
    n = F.length(text)
    punct = F.length(F.regexp_replace(text, "[A-Za-z0-9\\s]", ""))
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


def mean_word_length(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return F.when(F.size(toks) > 0, total.cast("double") / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] document-quality heuristic.

    Rewards length (log-scaled, saturating at ~1000 words), moderate
    mean word length, and low punctuation density — the standard cheap
    pre-filter shape for web-scale corpus cleaning.
    """
    wc = word_count(text).cast("double")
    length_term = F.least(F.log1p(wc) / F.log(F.lit(1001.0)), F.lit(1.0))
    mwl = mean_word_length(text)
    word_len_term = F.lit(1.0) - F.least(F.abs(mwl - 5.0) / 5.0, F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(text) * 4.0, F.lit(1.0))
    return (0.5 * length_term + 0.25 * word_len_term + 0.25 * punct_term)


def language_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword-hit ratios."""
    toks = tokens(text)

    def score(stops: tuple[str, ...]) -> Column:
        hits = F.size(F.filter(toks, lambda t: t.isin(*stops)))
        return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))

    return {lang: score(stops) for lang, stops in LANG_STOPWORDS.items()}


def detect_language(text: Column) -> Column:
    """Argmax over language stopword scores ('und' when all zero)."""
    scores = language_scores(text)
    pairs = F.array(
        *[
            F.struct(score.alias("score"), F.lit(lang).alias("lang"))
            for lang, score in scores.items()
        ]
    )
    best = F.array_max(pairs)  # struct compare: score first, lang tiebreak
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def term_pattern(terms: tuple[str, ...]) -> str:
    """Word-boundary alternation regex for a term list.

    ``\\b`` word boundaries behave identically in Java regex (Spark)
    and RE2 (DuckDB) for ASCII terms, so the same pattern string works
    in both engines (DuckDB needs the ``'g'`` flag on replace).
    """
    return r"\b(" + "|".join(terms) + r")\b"


def redact_terms(text: Column, terms: tuple[str, ...], token: str = "[X]") -> Column:
    """Scrub sensitive terms (PII shapes, blocklist vocabulary) from text.

    Pure ``regexp_replace`` — map-side, codegen'd. The same operator
    covers email/phone/ID patterns on real corpora; term lists are the
    deterministic fixture-friendly case.
    """
    return F.regexp_replace(text, term_pattern(terms), token)


def redaction_count(text: Column, terms: tuple[str, ...]) -> Column:
    """How many matches ``redact_terms`` would scrub."""
    return F.size(F.regexp_extract_all(text, F.lit(term_pattern(terms)), 0))


def dup_word_fraction(text: Column) -> Column:
    """Gopher-style repetition signal: 1 − distinct/total words."""
    toks = tokens(text)
    return F.when(
        F.size(toks) > 0,
        F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / F.size(toks),
    ).otherwise(F.lit(0.0))


def top_bigram_fraction(text: Column) -> Column:
    """Fraction of word bigrams equal to the most frequent bigram.

    Per-row mode count = longest equal run in the SORTED bigram array,
    computed with one ``aggregate`` pass over ``array_sort`` — O(d log d)
    per document instead of the naive O(d²) distinct×filter scan (HOF
    lambdas evaluate interpreted, so the quadratic form was ~40× slower
    at 55-word documents). Entirely map-side. High values mark
    boilerplate/template text (the Gopher repetition filters).
    """
    from arc_jupyter_spark.operators.dedup import word_shingles

    sh = F.array_sort(word_shingles(text, 2))

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    mode_cnt = F.aggregate(
        sh,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        step,
        lambda acc: acc["best"],
    )
    return F.when(
        F.size(sh) > 0, mode_cnt.cast("double") / F.size(sh)
    ).otherwise(F.lit(0.0))


def fingerprint(text: Column) -> Column:
    """Exact-content fingerprint: md5 of whitespace-normalized lowercased text."""
    normalized = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    return md5_hex(normalized.cast("binary"))


def winnow_fingerprint(text: Column, shingle_len: int = 5) -> Column:
    """Winnowing-style robust fingerprint: min md5 over word shingles.

    Survives local edits better than the exact digest; the standard
    cheap near-dup blocking key.
    """
    from arc_jupyter_spark.operators.dedup import word_shingles

    return F.array_min(
        F.transform(word_shingles(text, shingle_len), lambda s: md5_hex(s.cast("binary")))
    )


def overlapping_chunks(
    df,
    id_col: str,
    text_col: str,
    window: int = 32,
    stride: int = 16,
    keep_cols: tuple[str, ...] = (),
):
    """Sliding-window chunking for RAG / training-sequence prep:
    ``window``-token chunks every ``stride`` tokens (overlap =
    ``window - stride``), as
    ``(id, *keep_cols, chunk_idx, chunk_digest, chunk_tokens)``.

    A document with n tokens yields ``1 + ceil(max(n - window, 0) /
    stride)`` chunks — every token is covered, the tail chunk may be
    short, and consecutive chunks share ``window - stride`` tokens of
    context (the standard retrieval-index chunking recipe). Chunk
    identity is a 60-bit md5-derived digest of the joined tokens, so
    downstream dedup/indexing never carries chunk text.

    Scale shape: pure map-side projection (sequence + slice + explode
    inside codegen, no UDF, no shuffle); output size rides with input
    tokens × (window/stride). ``keep_cols`` pass through so callers
    don't re-join the corpus to recover grouping columns.
    """
    toks = tokens(F.col(text_col))
    n_chunks = (
        F.lit(1)
        + F.ceil(
            F.greatest(F.size("_toks") - F.lit(window), F.lit(0)) / F.lit(stride)
        )
    ).cast("int")
    chunk_arr = F.slice(F.col("_toks"), F.col("_idx") * stride + 1, window)
    kept = [F.col(c) for c in keep_cols]
    return (
        df.select(F.col(id_col), *kept, toks.alias("_toks"))
        .where(F.size("_toks") > 0)
        .select(
            F.col(id_col),
            *kept,
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("_idx"),
            "_toks",
        )
        .select(
            F.col(id_col),
            *kept,
            F.col("_idx").cast("bigint").alias("chunk_idx"),
            md5_prefix_hash(F.concat_ws(" ", chunk_arr), 15).alias("chunk_digest"),
            F.size(chunk_arr).cast("bigint").alias("chunk_tokens"),
        )
    )


def token_rarity(df, id_col: str, text_col: str, broadcast_model: bool = True):
    """Per-document rare-token density — a corpus-statistics quality
    signal (integer-exact stand-in for n-gram LM perplexity).

    Two passes over the corpus, both distributed:

    1. MODEL: token → occurrence count (one groupBy with map-side
       partial aggregation; the result is vocabulary-sized, orders of
       magnitude smaller than the corpus).
    2. SCORE: each token occurrence is charged the integer surprisal
       ``total_tokens div count(token)`` (large for rare tokens, 1-ish
       for stopwords), summed per document.

    Returns ``(id, sum_rarity, n_tokens)``; callers rank on
    ``sum_rarity / n_tokens``. All intermediate values are BIGINTs, so
    scores are bit-identical across engines and partitionings.

    ``broadcast_model=True`` broadcasts the vocabulary to the
    occurrence join (right for vocabularies up to ~100M-token corpora);
    at larger vocab, pass False for a shuffle hash join on the token —
    occurrences and model co-partition, text never shuffles (tokens
    do, but each is a short string).

    The one driver-side value is the scalar ``total_tokens`` (a
    single-row aggregate, same pattern as centroid collection).
    """
    occ = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_tok")
    )
    model = occ.groupBy("_tok").agg(F.count(F.lit(1)).alias("_n"))
    total = occ.count()
    scored_model = model.select(
        "_tok", F.expr(f"CAST({total} AS BIGINT) div _n").alias("_rarity")
    )
    if broadcast_model:
        scored_model = F.broadcast(scored_model)
    return (
        occ.join(scored_model, "_tok")
        .groupBy(id_col)
        .agg(
            F.sum("_rarity").alias("sum_rarity"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


def inverted_index(
    df,
    id_col: str,
    text_col: str,
    top_postings: int = 5,
):
    """Token -> (document frequency, capped posting list) — the index
    build every retrieval / decontamination pipeline starts from.

    Scale shape — ONE shuffle, bounded memory per token:
    per-document distinct tokens are computed map-side
    (``array_distinct`` before the explode, so a 1000x-repeated word
    costs one row, not 1000), then a single window partitioned by
    token yields both the document frequency (``count over``) and a
    rank that caps the posting list BEFORE any list is materialized —
    a stopword appearing in 10^9 documents contributes ``count`` and
    ``top_postings`` rows downstream, never a 10^9-element
    ``collect_list``. Postings are the ``top_postings`` smallest doc
    ids (deterministic), assembled from at most ``top_postings`` rows
    per token.
    """
    from pyspark.sql import Window

    occ = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    )
    w = Window.partitionBy("tok")
    ranked = occ.select(
        "tok",
        "_id",
        F.count(F.lit(1)).over(w).alias("df"),
        F.row_number().over(w.orderBy("_id")).alias("_rn"),
    ).where(F.col("_rn") <= top_postings)
    return ranked.groupBy("tok", "df").agg(
        F.array_sort(F.collect_list("_id")).alias("postings")
    )


def bigram_lift(
    df,
    id_col: str,
    text_col: str,
    min_count: int = 2,
    broadcast_model: bool = True,
):
    """Corpus-level bigram association strength (integer-exact lift):
    collocation mining for tokenizer/vocab construction.

    ``lift_ppm = n_ab * total_tokens * 10^6 div (n_a * n_b)`` — the
    observed/expected co-occurrence ratio in parts-per-million, all
    BIGINT so the score is bit-identical across engines and
    partitionings. Overflow headroom: ``n_ab * total * 10^6 < 2^63``
    holds while the corpus is under ~3e6 tokens with hot bigrams; for
    larger corpora drop the ppm scale (the ranking is scale-invariant).

    Scale shape: bigram counts and unigram counts are two map-side
    partial aggregations; the unigram model (vocabulary-sized) is
    broadcast twice into the bigram table — the corpus itself shuffles
    only as (w1, w2) short-string pairs.
    """
    toks = tokens(F.col(text_col))
    grams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    big = (
        df.where(F.size(toks) >= 2)
        .select(F.explode(grams).alias("g"))
        .select("g.w1", "g.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_count)
    )
    occ = df.select(F.explode(toks).alias("_tok"))
    uni = occ.groupBy("_tok").agg(F.count(F.lit(1)).alias("_n"))
    # total tokens = SUM over the unigram model — a lazy 1-row
    # aggregate broadcast into the plan, NOT an eager occ.count()
    # (which would run a full corpus-tokenize job at construction
    # time and then re-tokenize again at execution)
    tot = uni.agg(F.sum("_n").alias("_total"))
    if broadcast_model:
        uni = F.broadcast(uni)
    return (
        big.join(uni.select(F.col("_tok").alias("w1"), F.col("_n").alias("n_a")), "w1")
        .join(uni.select(F.col("_tok").alias("w2"), F.col("_n").alias("n_b")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_ab",
            F.expr("n_ab * _total * 1000000 div (n_a * n_b)").alias("lift_ppm"),
        )
    )


def _bigram_occurrences(df, id_col: str, text_col: str):
    """Exploded bigram occurrences ``(id, w1, w2)`` — the shared
    extraction both LM scorers run (zip of the token stream with its
    own 1-shift; docs under 2 tokens contribute nothing)."""
    toks = tokens(F.col(text_col))
    grams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return (
        df.where(F.size(toks) >= 2)
        .select(F.col(id_col), F.explode(grams).alias("g"))
        .select(id_col, "g.w1", "g.w2")
    )


def bigram_surprisal(
    df,
    id_col: str,
    text_col: str,
    broadcast_model: bool = True,
):
    """Per-document bigram-LM surprisal (integer-exact perplexity
    stand-in, the bigram refinement of :func:`token_rarity`):
    each bigram occurrence is charged ``count(w1) div count(w1,w2)``
    — the integer inverse of the conditional frequency P(w2|w1)-ish
    ratio: common continuations cost ~1, surprising ones cost the
    rarity of the transition. Returns
    ``(id, sum_surprisal, n_bigrams)``; callers rank on the ratio.

    Scale shape: unigram and bigram models are two partial-aggregated
    counts (vocabulary- and bigram-vocabulary-sized); both broadcast
    into the corpus bigram stream, which shuffles only for the final
    per-document sum. All BIGINTs — engine- and partition-exact.
    """
    occ = _bigram_occurrences(df, id_col, text_col)
    big_model = occ.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_nab"))
    uni_model = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("_na"))
    )
    if broadcast_model:
        big_model = F.broadcast(big_model)
        uni_model = F.broadcast(uni_model)
    return (
        occ.join(big_model, ["w1", "w2"])
        .join(uni_model, "w1")
        .groupBy(id_col)
        .agg(
            F.sum(F.expr("_na div _nab")).alias("sum_surprisal"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
    )



def smoothed_bigram_score(
    train_df,
    score_df,
    id_col: str,
    text_col: str,
    broadcast_model: bool = True,
):
    """Held-out bigram-LM scoring with add-V smoothing — the
    perplexity-filter shape CCNet/Gopher-style curation actually runs
    (train the LM on a reference slice, score candidate documents,
    drop the tail), where :func:`bigram_surprisal` scores in-corpus
    only and silently SKIPS transitions it has never seen.

    Integer-exact smoothing: each scored bigram occurrence is charged
    ``(count_train(w1) + V) div (count_train(w1, w2) + 1)`` — the
    integer inverse of the add-one-smoothed conditional
    ``(nab + 1) / (na + V)``, finite for out-of-vocabulary words and
    unseen transitions alike (an OOV ``w1`` charges exactly ``V``).
    Returns ``(id, sum_chg, n_bigrams, n_unseen)`` where ``n_unseen``
    counts transitions absent from the training bigram table (an
    OOV ``w1`` is necessarily unseen, but so is a novel pair of
    in-vocabulary words); callers rank on the mean charge and can
    gate on the unseen-transition rate separately.

    Scale shape: the two LM tables are partial-aggregated counts
    (vocab- and bigram-vocab-sized) broadcast into the scored bigram
    stream (LEFT joins — unseen transitions must survive, not drop);
    the vocabulary size folds in as a literal, so the corpus shuffles
    once, for the per-document sum. All BIGINTs — engine- and
    partition-exact.
    """
    big_model = (
        _bigram_occurrences(train_df, id_col, text_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("_nab"))
    )
    uni_model = (
        train_df.select(F.explode(tokens(F.col(text_col))).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("_na"))
    )
    vocab_size = uni_model.count()  # one scalar, the pagerank-n pattern
    if broadcast_model:
        big_model = F.broadcast(big_model)
        uni_model = F.broadcast(uni_model)
    charge = F.expr(
        f"(COALESCE(_na, 0) + {vocab_size}) DIV (COALESCE(_nab, 0) + 1)"
    )
    return (
        _bigram_occurrences(score_df, id_col, text_col)
        .join(big_model, ["w1", "w2"], "left")
        .join(uni_model, "w1", "left")
        .groupBy(id_col)
        .agg(
            F.sum(charge).alias("sum_chg"),
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                F.when(F.col("_nab").isNull(), 1).otherwise(0)
            ).alias("n_unseen"),
        )
    )


def dsir_importance(
    target_df,
    raw_df,
    id_col: str,
    text_col: str,
    buckets: int = 4096,
):
    """DSIR-style importance weights for data selection (Xie et al.,
    "Data Selection for Language Models via Importance Resampling",
    public) — score each RAW document by how target-like its hashed
    bigram distribution is, so a pretraining mixture can resample raw
    data toward a target domain. Returns
    ``(id, sum_ratio_e6, n_bigrams)``; callers rank on the mean.

    Integer-exact surrogate: DSIR's per-feature log-ratio
    ``log p_target(b)/p_raw(b)`` is replaced by the scaled integer
    ratio ``((n_target(b) + 1) * 1e6) DIV (n_raw(b) + 1)`` summed per
    document (add-one smoothed, monotone in the same direction;
    documented deviation — sums of ratios rank slightly differently
    than sums of logs, but every value is a BIGINT and therefore
    partition- and engine-exact). Features are bigrams hashed into
    ``buckets`` buckets with
    :func:`~arc_jupyter_spark.digest.md5_prefix_hash`, which oracles
    reproduce.

    Scale shape: the two bucket-count tables are partial-aggregated
    to at most ``buckets`` rows each and broadcast into the raw
    bigram stream; the corpus shuffles once, for the per-document
    sum. n_raw(b) >= 1 for every scored occurrence by construction
    (the occurrence itself is counted), so the divisor never
    degenerates.
    """
    def bucketed(df):
        occ = _bigram_occurrences(df, id_col, text_col)
        return occ.select(
            id_col,
            (
                md5_prefix_hash(F.concat_ws("|", F.col("w1"), F.col("w2")))
                % F.lit(buckets)
            ).alias("_b"),
        )

    n_target = (
        bucketed(target_df).groupBy("_b").agg(F.count(F.lit(1)).alias("_nt"))
    )
    # NOTE (r9 optimization pass): the raw-side bigram stream is
    # evaluated twice (n_raw aggregate + scoring join). Pinning it with
    # a lazy localCheckpoint was A/B'd and REJECTED: both consumers are
    # fully map-pipelined with partial aggregation (the exploded stream
    # never hits an exchange), so materializing every (id, bucket)
    # occurrence row costs more than re-running the projection
    # (t38 2.36→2.54 s, p09 2.75→3.04 s interleaved) — the guide §5
    # recompute-vs-storage trade, opposite outcome to the jaccard core
    # where the pinned row is pre-explode and the recompute is heavier.
    n_raw = (
        bucketed(raw_df).groupBy("_b").agg(F.count(F.lit(1)).alias("_nr"))
    )
    charge = F.expr("((COALESCE(_nt, 0) + 1) * 1000000) DIV (_nr + 1)")
    return (
        bucketed(raw_df)
        .join(F.broadcast(n_target), "_b", "left")
        .join(F.broadcast(n_raw), "_b", "inner")
        .groupBy(id_col)
        .agg(
            F.sum(charge).alias("sum_ratio_e6"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
    )


def vocab_growth(
    df,
    id_col: str,
    text_col: str,
    shards: int = 8,
):
    """Heaps-law vocabulary growth curve → one row per shard
    ``(shard, n_tokens, vocab_new, vocab_cum)``: how many NEW distinct
    words each successive corpus shard contributes if ingested in
    shard order — the tokenizer-budget / corpus-diversity diagnostic
    (vocabulary that keeps growing linearly signals unbounded token
    sprawl; flattening means coverage).

    Determinism: shards are a portable md5 hash of the doc id (1-based
    so the curve reads naturally); a word's contributing shard is the
    MINIMUM shard that contains it — an aggregate, not an ingest-order
    scan, so the curve is a pure function of the corpus. The
    cumulative sum runs over the ``shards``-row profile (bounded
    domain — the unpartitioned window is deliberate and cannot grow
    with data).

    Scale shape: one shuffle of (word) for the min-shard vocabulary
    aggregate (partial-agg'd map-side), one count per shard for
    token totals; everything else operates on ``shards`` rows.
    """
    from pyspark.sql import Window

    shard = (
        md5_prefix_hash(F.col(id_col).cast("string")) % F.lit(shards) + 1
    ).alias("shard")
    occ = df.select(shard, F.explode(tokens(F.col(text_col))).alias("w"))
    tokens_by = occ.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_tokens")
    )
    first = occ.groupBy("w").agg(F.min("shard").alias("shard"))
    new_by = first.groupBy("shard").agg(
        F.count(F.lit(1)).alias("vocab_new")
    )
    # unpartitioned running sum over <= `shards` rows (bounded domain;
    # the "WindowExec: No Partition Defined" warning is expected here)
    w = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, 0)
    return (
        tokens_by.join(new_by, "shard", "left")
        .select(
            "shard",
            "n_tokens",
            F.coalesce(F.col("vocab_new"), F.lit(0)).alias("vocab_new"),
        )
        .withColumn("vocab_cum", F.sum("vocab_new").over(w))
        .orderBy("shard")
    )


def calibration_report(
    df,
    score: Column,
    label: Column,
    bins: int = 8,
):
    """Reliability table for a [0,1] classifier score against a 0/1
    label → one row per score bin
    ``(bin, n, n_pos, pos_rate_e6, mean_conf_e6, gap_e6)`` — the
    table a pipeline reads to SET its quality-filter threshold (and
    the per-bin |accuracy - confidence| gaps whose weighted sum is
    the expected calibration error).

    Integer-exact: the score is quantized ONCE per row at e8
    (``exact.py``); binning, rates, and gaps are then pure BIGINT
    arithmetic (truncating DIV), so bin membership cannot flip on
    summation order or libm differences. ``bins`` must divide 1e8.

    Scale shape: one map-side projection + one partial-aggregated
    ``groupBy(bin)`` — a ``bins``-row result; nothing else shuffles.
    """
    if 100_000_000 % bins:
        raise ValueError("calibration_report: bins must divide 1e8")
    width = 100_000_000 // bins
    q = quantize(score, 8)
    # NaN scores must surface, not fold: Spark's non-ANSI double→bigint
    # cast maps NaN to 0, which would silently place NaN rows in bin 0.
    # Map them to NULL so they aggregate into one visible NULL-bin row.
    q = F.when(~F.isnan(score.cast("double")), q)
    binned = df.select(
        q.alias("_q"), label.cast("bigint").alias("_y")
    ).select(
        # integer bin: _q DIV width, clamped into [0, bins-1] — score
        # exactly 1.0 caps into the top bin (bin count stays `bins`,
        # not bins+1) and a score < 0 clamps into bin 0 instead of
        # producing a negative bin row. NaN scores carry a NULL _q and
        # surface as one NULL-bin row rather than silently folding
        # into a real bin; the isNotNull guard is required because
        # Spark's least/greatest SKIP nulls (least(NULL, 3) = 3).
        F.when(
            F.col("_q").isNotNull(),
            F.greatest(
                F.lit(0).cast("bigint"),
                F.least(
                    F.expr(f"_q DIV {width}"),
                    F.lit(bins - 1).cast("bigint"),
                ),
            ),
        ).alias("bin"),
        "_q",
        "_y",
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_y").alias("n_pos"),
        F.sum("_q").alias("_sq"),
    )
    pos_rate = F.expr("(n_pos * 1000000) DIV n")
    conf = F.expr("(_sq DIV n) DIV 100")
    return agg.select(
        "bin",
        "n",
        "n_pos",
        pos_rate.alias("pos_rate_e6"),
        conf.alias("mean_conf_e6"),
        F.abs(pos_rate - conf).alias("gap_e6"),
    ).orderBy("bin")


# PII shapes that behave identically in Java regex (Spark) and RE2
# (DuckDB) — ASCII classes only, no backreferences or lookarounds.
PII_PATTERNS: dict[str, str] = {
    # (?i) — PII is case-blind ("John.Doe@Example.COM" is as real as
    # its lowercase form); the inline flag works in both Java and RE2
    "email": r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
    "phone": r"\b[0-9]{3}-[0-9]{4}\b",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def pii_count(text: Column, kind: str) -> Column:
    """How many matches of one PII shape the text contains."""
    return F.size(F.regexp_extract_all(text, F.lit(PII_PATTERNS[kind]), 0))


def pii_scrub(text: Column, token: str = "[PII]") -> Column:
    """Replace every known PII shape with ``token`` — map-side
    ``regexp_replace`` chain, codegen'd, no UDF. Order matters only
    for overlapping shapes (emails before ipv4 keeps domain digits
    from half-matching); the chain applies all patterns."""
    out = text
    for kind in ("email", "phone", "ipv4"):
        out = F.regexp_replace(out, PII_PATTERNS[kind], token)
    return out


def url_host(url: Column) -> Column:
    """Extract the lowercase host from a URL column (pure regexp —
    engine-portable, no parse_url UDF path)."""
    return F.lower(F.regexp_extract(url, r"^[a-z]+://([^/:?#]+)", 1))


def domain_block_filter(
    df: DataFrame,
    url_col: str,
    blocked_domains: list[str],
    keep: bool = False,
) -> DataFrame:
    """Filter rows whose URL host is on (or under) a blocked domain.

    The crawl-curation gate every web pipeline runs first: drop pages
    from a blocklist of registrable domains, where a block on
    ``example.com`` also covers ``sub.example.com`` (suffix match on
    a label boundary). ``keep=True`` inverts it into an allowlist.

    Scale shape: the blocklist is a literal predicate compiled into
    the scan filter — a map-side projection + filter, no join, no
    shuffle; real-world blocklists (thousands of entries) should
    instead broadcast-join on the registrable-domain suffix, but the
    literal form keeps small lists inside whole-stage codegen. The
    host extraction and suffix checks are plain string ops, identical
    in any engine.
    """
    host = url_host(F.col(url_col))
    hit = F.lit(False)
    for d in blocked_domains:
        dl = d.lower()
        hit = hit | (host == dl) | host.endswith("." + dl)
    # filter directly on the expression — no temp column to collide
    # with user schemas, and the predicate stays one codegen'd stage
    return df.where(hit if keep else ~hit)


# -------------------------------------------------------------------
# HTML cleaning (crawl extraction): strip markup, decode entities,
# and measure link density — the trafilatura/jusText-style gate that
# precedes every text-quality filter on raw crawl data. Pure
# regexp_replace chains: map-side, codegen'd, engine-portable.
# -------------------------------------------------------------------

_HTML_ENTITY_MAP = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # LAST: earlier decodes must not re-expose &amp;
)


def html_text(html: Column) -> Column:
    """Visible text of an HTML fragment.

    1. drop <script>/<style> blocks wholesale ((?s) dotall, non-greedy)
    2. drop comments, then every remaining tag — a "tag" must start
       with a letter, ``/`` or ``!`` followed by a letter: real pages
       contain raw ``<`` in text nodes (``price < 100 and qty > 5``),
       and a bare ``<[^>]*>`` would swallow the visible text between
       them
    3. decode the common entities (&amp; decoded last so
       ``&amp;lt;`` becomes ``&lt;`` the literal, not ``<``)
    4. collapse whitespace runs, trim
    """
    out = F.regexp_replace(html, r"(?is)<(script|style)\b.*?</\1>", " ")
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(out, r"(?s)<[!/]?[A-Za-z][^>]*>", " ")
    for ent, rep in _HTML_ENTITY_MAP:
        out = F.regexp_replace(out, ent, rep)
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


def anchor_char_count(html: Column) -> Column:
    """Total visible characters inside <a> elements (link density
    numerator — boilerplate/nav-heavy pages score high)."""
    anchors = F.regexp_extract_all(
        html, F.lit(r"(?is)<a\b[^>]*>(.*?)</a>"), 1
    )
    return F.aggregate(
        F.transform(anchors, lambda a: F.length(html_text(a))),
        F.lit(0),
        lambda acc, x: acc + x,
    )


# -------------------------------------------------------------------
# Code-vs-prose detection: integer-weighted syntax signals. A corpus
# router needs this to send code to a code pipeline (different dedup
# granularity, different quality rules). Integer score => engine-exact.
# -------------------------------------------------------------------

_CODE_KEYWORD_RE = (
    r"\b(def|return|import|class|function|var|const|let|void|int|"
    r"public|static|if|else|for|while|struct|fn|impl|lambda)\b"
)
#: single-char class ONLY: multi-char alternatives (`->`, `//`) would
#: make match counts depend on the regex engine's alternation
#: semantics (leftmost-first vs leftmost-longest); a char class scans
#: one char at a time and counts identically everywhere.
_CODE_SYMBOL_RE = r"[{}();=\[\]#]"


def code_score(text: Column) -> Column:
    """Integer code-likelihood score: 3*keywords + 1*code symbols.

    Counts come from ``regexp_extract_all`` (JVM-side); the weights
    are integers so the score is bit-exact in any engine.
    """
    kw = F.size(F.regexp_extract_all(text, F.lit(_CODE_KEYWORD_RE), 0))
    sym = F.size(F.regexp_extract_all(text, F.lit(_CODE_SYMBOL_RE), 0))
    return (kw * 3 + sym).cast("bigint")


def is_code(text: Column, per_kchar: int = 60) -> Column:
    """True when the code score per 1000 chars clears *per_kchar*.

    The threshold comparison is integer cross-multiplication
    (score*1000 >= per_kchar*len) — no float division anywhere.
    """
    n = F.length(text)
    return (n > 0) & (code_score(text) * 1000 >= F.lit(per_kchar) * n)


def ascii_words(text: Column, min_len: int = 2) -> Column:
    """Lowercased ASCII-alpha words of at least *min_len* chars.

    The corpus-prep normalization in front of byte-pair statistics:
    restricting to ``^[a-z]+$`` keeps substring indexing semantics
    identical across engines (no multi-byte grapheme ambiguity) and is
    what BPE training corpora do anyway (separate symbol inventory for
    punctuation/digits).
    """
    return F.filter(
        tokens(text),
        lambda w: w.rlike("^[a-z]+$") & (F.length(w) >= min_len),
    )


def char_pairs(word: Column) -> Column:
    """All adjacent character pairs of a word (BPE merge candidates).

    ``transform(sequence(1, len-1), i -> substr(w, i, 2))`` — one
    codegen'd array build per word, no UDF. Callers must filter words
    to length >= 2 first (``sequence(1, 0)`` would descend).
    """
    return F.transform(
        F.sequence(F.lit(1), F.length(word) - 1),
        lambda i: word.substr(i, F.lit(2)),
    )
