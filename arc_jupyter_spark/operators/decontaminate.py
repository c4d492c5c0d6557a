"""Benchmark decontamination: n-gram overlap between a training corpus
and an evaluation set.

Every serious LLM training pipeline removes (or at least flags)
training documents that share long word n-grams with evaluation
benchmarks, so test answers are not memorized from the training set.
The reference engine has no such stage (its surface stops at generic
SQL); this is one of the training-data operators this repo adds as
first-class, per the build brief.

Shape, designed for the 100 TB case:

1. The EVAL side is small (benchmarks are thousands of documents →
   millions of distinct shingles). It reduces to a DISTINCT digest set
   and is explicitly ``broadcast()`` — the corpus never shuffles for
   the join.
2. The CORPUS side maps scan → shingle → per-doc-distinct digest →
   explode. All map-side, codegen'd (``word_shingles`` is a
   higher-order-function expression, no Python UDF).
3. The broadcast-hash inner join keeps only matching (doc, digest)
   rows — typically a vanishing fraction of the corpus — and the
   per-doc overlap count aggregates THOSE rows only, with map-side
   partial aggregation on ``doc_id``. Nothing proportional to corpus
   text volume ever reaches a shuffle.

Digests are plan-internal (``digest.internal_digest``); the oracles
join raw shingle strings. A collision flags one extra shared shingle,
a conservative error for a contamination screen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from arc_jupyter_spark.operators.dedup import word_shingle_digests


def shingle_digests(text: Column, n: int = 7) -> Column:
    """Per-document array of DISTINCT 64-bit digests of word n-grams.

    ``array_distinct`` runs map-side so a document repeating one
    shingle many times contributes it once — overlap counts below are
    set-semantics, matching COUNT(DISTINCT ...) oracles. With
    :func:`word_shingle_digests` the broadcast eval set and the
    exploded corpus rows carry 8 bytes per shingle, not a string.
    """
    return F.array_distinct(word_shingle_digests(text, n))


def eval_digest_set(eval_df: DataFrame, text_col: str = "text", n: int = 7) -> DataFrame:
    """The distinct shingle-digest set of the evaluation corpus.

    One column ``digest``; small enough to broadcast (the caller's
    contract — benchmark suites, not corpora, belong on this side).
    """
    return (
        eval_df.select(
            F.explode(shingle_digests(F.col(text_col), n)).alias("digest")
        ).distinct()
    )


def contamination_scores(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 7,
) -> DataFrame:
    """Per-corpus-document count of distinct n-grams shared with the
    eval set: ``(id_col, n_shared)``, only documents with ≥1 hit.

    The eval digest set is broadcast; the corpus side is map-side up
    to the post-join ``groupBy(id_col)``, which aggregates only
    matched rows (partial agg map-side). Documents with zero overlap
    never leave their input partition.
    """
    ev = F.broadcast(eval_digest_set(eval_df, text_col, n))
    corpus_digests = corpus.select(
        F.col(id_col),
        F.explode(shingle_digests(F.col(text_col), n)).alias("digest"),
    )
    return (
        corpus_digests.join(ev, "digest")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 7,
    min_shared: int = 1,
) -> DataFrame:
    """Drop corpus documents sharing ``min_shared``+ distinct n-grams
    with the eval set (the actual removal operator).

    Left-anti join against the contaminated id set — the corpus
    streams through; the contaminated side is the (small) score table.
    """
    bad = contamination_scores(corpus, eval_df, text_col, id_col, n).where(
        F.col("n_shared") >= min_shared
    )
    return corpus.join(F.broadcast(bad.select(id_col)), id_col, "left_anti")
