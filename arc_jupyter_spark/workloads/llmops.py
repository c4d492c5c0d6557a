"""Training-data pipeline workloads: dedup, similarity search, text
analysis — each oracle-checked against DuckDB where expressible.

Every digest comes from ``arc_jupyter_spark.digest``: md5 forms where
an oracle recomputes the value, ``xxhash64`` only for plan-internal
keys. Tokenization is ``text.tokens`` (``\\s+`` splitting), mirrored in
every oracle by ``_duck_sql.duck_tokens``.
Oracle SQL for the hash-heavy queries (minhash, simhash) is generated
programmatically so both engines compute bit-identical strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from arc_jupyter_spark.checkpoint import materialize, materialize_lazy
from arc_jupyter_spark.digest import (
    band_digests, duck_band_digests, duck_md5_prefix_hash, md5_hex, md5_prefix_hash,
)
from arc_jupyter_spark.exact import exact_sum, quantize, sql_exact_sum, sql_quantize
from arc_jupyter_spark.operators import (
    decontaminate,
    dedup,
    graph,
    sampling,
    similarity,
    text,
)
from arc_jupyter_spark.workloads.base import load_views, query

# shared DuckDB fragments live in _duck_sql (streaming oracles use the
# same tokenizer); local aliases keep the many f-string sites short
from arc_jupyter_spark.workloads._duck_sql import (
    DUCK_ALNUM_SPACE as _DUCK_ALNUM_SPACE,
    DUCK_TOKEN_PATTERN as _DUCK_TOKEN_PATTERN,
    DUCK_TOKS as _DUCK_TOKS,
    DUCK_WHITESPACE as _DUCK_WS,
    duck_cdc_dist_cte as _duck_cdc_dist,
    duck_count_min_ctes as _duck_count_min,
    duck_shingles as _duck_shingles,
    duck_tokens as _duck_tokens,
)


# --------------------------------------------------------------------
# d01 — exact dedup (digest-keyed keep-first).
# --------------------------------------------------------------------

D01_ORACLE = """
SELECT source, COUNT(*) AS n_kept FROM (
  SELECT source, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
GROUP BY source ORDER BY source
"""


@query("d01_exact_dedup", oracle=D01_ORACLE)
def d01(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    kept = dedup.exact_dedup_by_digest(spark.table("documents"), "text", "doc_id")
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept")).orderBy("source")


# --------------------------------------------------------------------
# d02 — MinHash + LSH banding candidate pairs (md5 minhash, 16 hashes,
# 4 bands). The Spark side computes signatures map-side with
# higher-order functions; only (id, band) pairs shuffle.
# --------------------------------------------------------------------

# canonical minhash parameters + the banded-CTE builder live in
# _duck_sql (shared with streaming_queries' st16 oracle — the
# DUCK_TOKS precedent); these names stay as the module-local aliases
# every batch query/operator call in this file uses.
from arc_jupyter_spark.workloads._duck_sql import (
    MINHASH_BANDS as _BANDS,
    MINHASH_NUM_HASHES as _NUM_HASHES,
    MINHASH_ROWS_PER_BAND as _ROWS_PER_BAND,
    MINHASH_SHINGLE_LEN as _SHINGLE_LEN,
    duck_banded_cte as _banded_cte,
    duck_minhash_signatures as _duck_minhash_signatures,
)


def _d02_oracle() -> str:
    return f"""{_banded_cte()},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b USING (band)
  WHERE a.doc_id < b.doc_id
)"""


@query(
    "d02_minhash_lsh",
    oracle=f"WITH {_d02_oracle()}\n"
           "SELECT id_a, id_b FROM cand ORDER BY id_a, id_b",
)
def d02(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    return dedup.minhash_candidates(
        spark.table("documents"),
        id_col="doc_id",
        text_col="text",
        shingle_len=_SHINGLE_LEN,
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
    ).orderBy("id_a", "id_b")


# --------------------------------------------------------------------
# d03 — exact n-gram Jaccard pairs (blocked by source).
# --------------------------------------------------------------------

# The oracle mirrors jaccard_pairs' stop-shingle cap: shingles with
# per-block document frequency > 50 are excluded from the intersection
# evidence (and df=1 shingles can never intersect), while document
# sizes still count every distinct shingle — the same conservative
# formula the Spark operator computes.
_D03_MAX_DF = 50

D03_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, source,
         list_distinct({_duck_shingles(3).replace('toks', _DUCK_TOKS)}) AS s
  FROM documents
),
ex AS (SELECT doc_id, source, unnest(s) AS sg FROM sh),
dfreq AS (
  SELECT source, sg, COUNT(*) AS df FROM ex GROUP BY source, sg
),
ex2 AS (
  SELECT e.doc_id, e.source, e.sg
  FROM ex e JOIN dfreq d USING (source, sg)
  WHERE d.df BETWEEN 2 AND {_D03_MAX_DF}
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ninter
  FROM ex2 a JOIN ex2 b ON a.source = b.source AND a.sg = b.sg
                        AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(s) AS n FROM sh)
SELECT i.id_a, i.id_b,
       {sql_quantize('CAST(i.ninter AS DOUBLE) / (sa.n + sb.n - i.ninter)', 6)} AS jaccard_e6
FROM inter i
JOIN sizes sa ON i.id_a = sa.doc_id
JOIN sizes sb ON i.id_b = sb.doc_id
WHERE CAST(i.ninter AS DOUBLE) / (sa.n + sb.n - i.ninter) >= 0.12
ORDER BY id_a, id_b
"""


@query("d03_ngram_jaccard", oracle=D03_ORACLE)
def d03(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(
        spark.table("documents"),
        id_col="doc_id",
        text_col="text",
        shingle_len=3,
        threshold=0.12,
        block_col="source",
        max_doc_freq=_D03_MAX_DF,
    )
    # hashed output is the ratio quantized at e6 (exact.py)
    return pairs.select(
        "id_a",
        "id_b",
        quantize(F.col("jaccard"), 6).alias("jaccard_e6"),
    ).orderBy("id_a", "id_b")


# --------------------------------------------------------------------
# d04 — SimHash fingerprints (64-bit, md5-derived, engine-portable).
# --------------------------------------------------------------------


def _d04_oracle() -> str:
    bit_cases = []
    for b in range(64):
        pos = b // 4 + 1
        mask = 1 << (3 - b % 4)
        bit_cases.append(
            f"CASE WHEN SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1) "
            f"& {mask}) > 0 THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END"
        )
    bits = " || ".join(bit_cases)
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS t FROM documents
),
hashed AS (SELECT doc_id, md5(t) AS h FROM tok)
SELECT doc_id, {bits} AS simhash
FROM hashed GROUP BY doc_id ORDER BY doc_id
"""


@query("d04_simhash", oracle=_d04_oracle())
def d04(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    bits = dedup.simhash64(F.col("text"), num_bits=64)
    return (
        spark.table("documents")
        .select(
            "doc_id",
            F.array_join(F.transform(bits, lambda b: b.cast("string")), "").alias("simhash"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------
# d05 — embedding near-dup pairs (label-blocked cosine).
# --------------------------------------------------------------------

D05_ORACLE = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {sql_quantize('list_cosine_similarity(a.v, b.v)', 6)} AS cosine_e6
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.40
ORDER BY id_a, id_b
"""


@query("d05_embedding_dup", oracle=D05_ORACLE)
def d05(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_dup_pairs(
        spark.table("embeddings"),
        id_col="vec_id",
        vec_col="embedding",
        threshold=0.40,
        block_col="label",
    )
    # hashed doubles must be exact by construction: quantize at e6
    return pairs.select(
        F.col("id_a"),
        F.col("id_b"),
        quantize(F.col("cosine"), 6).alias("cosine_e6"),
    ).orderBy("id_a", "id_b")


# --------------------------------------------------------------------
# d06 — connected-components dedup: minhash candidates → min-label
# components → keep one doc per component. The full 100 TB near-dedup
# pipeline end to end. Oracle: recursive CTE transitive closure over
# the same candidate pairs.
# --------------------------------------------------------------------

D06_ORACLE = f"""
WITH RECURSIVE {_d02_oracle()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM cand
),
reach(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
labels AS (
  SELECT node, MIN(label) AS label FROM reach GROUP BY node
)
SELECT d.source, COUNT(*) AS n_kept
FROM documents d LEFT JOIN labels l ON d.doc_id = l.node
WHERE l.label IS NULL OR d.doc_id = l.label
GROUP BY d.source
ORDER BY d.source
"""


@query("d06_cc_dedup", oracle=D06_ORACLE)
def d06(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    cands = dedup.minhash_candidates(
        docs, id_col="doc_id", text_col="text",
        shingle_len=_SHINGLE_LEN, num_hashes=_NUM_HASHES, bands=_BANDS,
    )
    labels = dedup.connected_components(cands)
    kept = dedup.keep_one_per_component(docs, labels, "doc_id")
    return (
        kept.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("source")
    )


# --------------------------------------------------------------------
# d07 — incremental near-dedup: drop new-crawl documents that share a
# MinHash band with the already-ingested corpus. Existing corpus =
# doc_id % 3 == 0; the new crawl is everything else. Only (id, band)
# pairs shuffle; the existing side reduces to a distinct band set.
# --------------------------------------------------------------------

D07_ORACLE = f"""
WITH {_banded_cte()},
hit AS (
  SELECT DISTINCT n.doc_id
  FROM banded n JOIN banded e USING (band)
  WHERE n.doc_id % 3 <> 0 AND e.doc_id % 3 = 0
)
SELECT d.doc_id, d.source FROM documents d
WHERE d.doc_id % 3 <> 0
  AND d.doc_id NOT IN (SELECT doc_id FROM hit)
ORDER BY d.doc_id
"""


@query("d07_incremental_dedup", oracle=D07_ORACLE)
def d07(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    existing = docs.where(F.col("doc_id") % 3 == 0)
    new = docs.where(F.col("doc_id") % 3 != 0)
    kept = dedup.incremental_near_dedup(
        new, existing, id_col="doc_id", text_col="text",
        shingle_len=_SHINGLE_LEN, num_hashes=_NUM_HASHES, bands=_BANDS,
    )
    return kept.select("doc_id", "source").orderBy("doc_id")


# --------------------------------------------------------------------
# s01 — brute-force cosine top-k (exact ANN baseline).
# --------------------------------------------------------------------

S01_ORACLE = f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       {sql_quantize('list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv)', 6)} AS cosine_e6
FROM embeddings, q
ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv) DESC, vec_id
LIMIT 10
"""


@query("s01_cosine_topk", oracle=S01_ORACLE)
def s01(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    top = similarity.cosine_topk(emb, qvec, id_col="vec_id", vec_col="embedding", k=10)
    return top.select(
        "vec_id",
        quantize(F.col("cosine"), 6).alias("cosine_e6"),
    )


# --------------------------------------------------------------------
# s02 — IVF approximate top-k (k-means cells + n_probe pruning).
# The k-means iteration isn't SQL-expressible, so the oracle checks
# the CONTRACT instead (the q47 tolerance pattern): the IVF result has
# exactly k rows, every returned id appears in the exact brute-force
# top-50, and recall@10 against the exact top-10 is >= 0.7. All three
# are computed Spark-side on fixed data (deterministic), so the oracle
# is a literal row and the value hash is stable.
# --------------------------------------------------------------------

S02_ORACLE = """
SELECT CAST(10 AS BIGINT) AS n_results,
       TRUE AS all_in_exact_top50,
       TRUE AS recall_at_10_ok
"""


@query("s02_ivf_topk", oracle=S02_ORACLE)
def s02(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    centroids = similarity.kmeans_centroids(emb, k=8, vec_col="embedding", max_iter=3)
    with_cells = similarity.assign_ivf_cells(
        emb, centroids, vec_col="embedding",
        centroid_id_col="centroid_id", centroid_vec_col="centroid",
    )
    ivf = similarity.ivf_topk(
        with_cells, centroids, qvec, k=10, n_probe=3,
        id_col="vec_id", vec_col="embedding",
    ).select("vec_id")
    exact50 = similarity.cosine_topk(
        emb, qvec, id_col="vec_id", vec_col="embedding", k=50
    ).select(F.col("vec_id").alias("exact_id"), F.lit(True).alias("in50"))
    exact10 = exact50.limit(10).select(
        F.col("exact_id").alias("exact10_id"), F.lit(True).alias("in10")
    )
    joined = (
        ivf.join(F.broadcast(exact50), ivf.vec_id == exact50.exact_id, "left")
        .join(F.broadcast(exact10), ivf.vec_id == exact10.exact10_id, "left")
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_results"),
        (F.count("in50") == F.count(F.lit(1))).alias("all_in_exact_top50"),
        (F.count("in10") >= 7).alias("recall_at_10_ok"),
    )


# --------------------------------------------------------------------
# s04 — random-hyperplane LSH top-k (the bucketed ANN scale path
# complementing IVF): signatures are one codegen'd map-side projection;
# the probe set is a literal IN filter, so only ~n_probes/2^planes of
# the corpus is ever exact-scored. Tolerance-contract oracle (the
# recall booleans are computed Spark-side against the exact answer;
# deterministic on the fixed fixture + fixed plane seed).
# --------------------------------------------------------------------

S04_ORACLE = """
SELECT CAST(10 AS BIGINT) AS n_results,
       TRUE AS all_in_exact_top50,
       TRUE AS recall_at_10_ok
"""


@query("s04_lsh_topk", oracle=S04_ORACLE)
def s04(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    dim = len(qvec)
    planes = similarity.hyperplane_planes(dim, n_planes=6, seed=7)
    with_sig = emb.withColumn(
        "sig", similarity.hyperplane_signature(F.col("embedding"), planes)
    )
    # distance-2 multi-probe: at the smallest fixture the query's own
    # bucket neighbourhood is sparse and distance-1 probing missed the
    # 10-of-top-50 contract (8/10) — the extra C(6,2) probes restore
    # full containment at every scale (measured: in50 10/10 at both
    # sf0.001 and sf0.01, recall@10 6 and 8 vs the >=4 floor)
    lsh = similarity.lsh_topk(
        with_sig, planes, qvec, k=10, multi_probe=2,
        id_col="vec_id", vec_col="embedding",
    ).select("vec_id")
    exact50 = similarity.cosine_topk(
        emb, qvec, id_col="vec_id", vec_col="embedding", k=50
    ).select(F.col("vec_id").alias("exact_id"), F.lit(True).alias("in50"))
    exact10 = exact50.limit(10).select(
        F.col("exact_id").alias("exact10_id"), F.lit(True).alias("in10")
    )
    joined = (
        lsh.join(F.broadcast(exact50), lsh.vec_id == exact50.exact_id, "left")
        .join(F.broadcast(exact10), lsh.vec_id == exact10.exact10_id, "left")
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_results"),
        (F.count("in50") == F.count(F.lit(1))).alias("all_in_exact_top50"),
        (F.count("in10") >= 4).alias("recall_at_10_ok"),
    )


# --------------------------------------------------------------------
# s05 — product-quantization ANN (PQ codes + ADC pool + exact rerank).
# The index column is ONE packed long per vector (16 subspaces × 4
# bits): stage 1 scans only codes (column pruning drops the raw
# embedding), stage 2 reranks the 100-candidate pool exactly via a
# broadcast semi-join. Codebook training is a bounded-sample
# driver-side k-means (the standard PQ recipe) — not SQL-expressible,
# so the oracle checks the contract (the proven s02/s04 pattern):
# exactly k results, recall@10 vs the exact answer ≥ 0.7, computed
# Spark-side on fixed data (deterministic).
# --------------------------------------------------------------------

S05_ORACLE = """
SELECT CAST(10 AS BIGINT) AS n_results,
       TRUE AS recall_at_10_ok
"""


@query("s05_pq_topk", oracle=S05_ORACLE)
def s05(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    books = similarity.pq_train(emb, vec_col="embedding", id_col="vec_id")
    enc = similarity.pq_encode(emb, books)
    pq = similarity.pq_search(
        enc, books, qvec, k=10, pool=100, id_col="vec_id", vec_col="embedding"
    ).select("vec_id")
    exact10 = similarity.cosine_topk(
        emb, qvec, id_col="vec_id", vec_col="embedding", k=10
    ).select(F.col("vec_id").alias("exact_id"), F.lit(True).alias("in10"))
    joined = pq.join(F.broadcast(exact10), pq.vec_id == exact10.exact_id, "left")
    return joined.agg(
        F.count(F.lit(1)).alias("n_results"),
        (F.count("in10") >= 7).alias("recall_at_10_ok"),
    )


# --------------------------------------------------------------------
# t01 — quality scoring per language.
# --------------------------------------------------------------------

#: ``text.quality_score`` over the word count ``wc``, mean word length
#: ``mwl`` and punctuation ratio ``pr`` (t01 and t40 oracles)
_DUCK_QUALITY = (
    "0.5 * LEAST(ln(1 + wc) / ln(1001.0), 1.0)"
    " + 0.25 * (1.0 - LEAST(abs(mwl - 5.0) / 5.0, 1.0))"
    " + 0.25 * (1.0 - LEAST(pr * 4.0, 1.0))"
)

T01_ORACLE = f"""
WITH t AS (
  SELECT lang, {_DUCK_TOKS} AS toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '{_DUCK_ALNUM_SPACE}', '', 'g')) AS n_punct
  FROM documents
),
m AS (
  SELECT lang,
         CAST(len(toks) AS DOUBLE) AS wc,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS mwl,
         CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS pr
  FROM t
)
SELECT lang, COUNT(*) AS n,
       ROUND({sql_exact_sum(_DUCK_QUALITY, 8)} / COUNT(*), 6) AS avg_quality,
       ROUND(CAST(SUM(CAST(wc AS BIGINT)) AS DOUBLE) / COUNT(*), 4) AS avg_words
FROM m GROUP BY lang ORDER BY lang
"""


@query("t01_quality_score", oracle=T01_ORACLE)
def t01(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                exact_sum(text.quality_score(F.col("text")), 8)
                / F.count(F.lit(1)),
                6,
            ).alias("avg_quality"),
            F.round(
                F.sum(text.word_count(F.col("text")).cast("bigint")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_words"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------
# t02 — language-ID heuristic (stopword argmax) confusion matrix.
# --------------------------------------------------------------------


def _t02_oracle() -> str:
    score_exprs = []
    for lang, stops in text.LANG_STOPWORDS.items():
        lst = ", ".join(f"'{s}'" for s in stops)
        score_exprs.append(
            f"CASE WHEN len(toks) > 0 THEN "
            f"CAST(len(list_filter(toks, x -> list_contains([{lst}], x))) AS DOUBLE) / len(toks) "
            f"ELSE 0.0 END AS s_{lang}"
        )
    scores = ", ".join(score_exprs)
    # tie-break mirrors Spark's array_max over struct(score, lang):
    # highest score wins; ties go to the lexicographically largest lang.
    langs_desc = sorted(text.LANG_STOPWORDS, reverse=True)
    case = "CASE "
    for lang in langs_desc:
        others = [o for o in langs_desc if o != lang]
        conds = " AND ".join(f"s_{lang} >= s_{o}" for o in others)
        case += f"WHEN s_{lang} > 0 AND {conds} THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
WITH t AS (SELECT lang, {_DUCK_TOKS} AS toks FROM documents),
s AS (SELECT lang, {scores} FROM t)
SELECT lang, {case} AS predicted, COUNT(*) AS n
FROM s GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("t02_lang_id", oracle=_t02_oracle())
def t02(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    return (
        spark.table("documents")
        .select("lang", text.detect_language(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


# --------------------------------------------------------------------
# t03 — BPE-ish token counting per source.
# --------------------------------------------------------------------

T03_ORACLE = f"""
SELECT source,
       CAST(SUM(len(regexp_extract_all(text, '{_DUCK_TOKEN_PATTERN}'))) AS BIGINT) AS total_tokens,
       CAST(MAX(len(regexp_extract_all(text, '{_DUCK_TOKEN_PATTERN}'))) AS BIGINT) AS max_tokens,
       ROUND(CAST(SUM(len(regexp_extract_all(text, '{_DUCK_TOKEN_PATTERN}'))) AS DOUBLE) / COUNT(*), 4) AS avg_tokens
FROM documents GROUP BY source ORDER BY source
"""


@query("t03_token_count", oracle=T03_ORACLE)
def t03(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    tc = text.token_count(F.col("text"))
    return (
        spark.table("documents")
        .groupBy("source")
        .agg(
            F.sum(tc).cast("bigint").alias("total_tokens"),
            F.max(tc).cast("bigint").alias("max_tokens"),
            F.round(F.sum(tc.cast("bigint")).cast("double") / F.count(F.lit(1)), 4).alias(
                "avg_tokens"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# t04 — document fingerprints (exact digest + winnowed min-shingle).
# --------------------------------------------------------------------

T04_ORACLE = f"""
WITH f AS (
  SELECT doc_id, source,
         md5(regexp_replace(trim(lower(text)), '{_DUCK_WS}', ' ', 'g')) AS fp
  FROM documents
),
t AS (SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents),
w AS (
  SELECT doc_id, list_min(list_transform({_duck_shingles(5)}, s -> md5(s))) AS winnow
  FROM t
)
SELECT f.source, COUNT(*) AS n_docs,
       COUNT(DISTINCT f.fp) AS n_unique,
       COUNT(DISTINCT w.winnow) AS n_winnow
FROM f JOIN w USING (doc_id)
GROUP BY f.source ORDER BY f.source
"""


@query("t04_fingerprint", oracle=T04_ORACLE)
def t04(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents").select(
        "doc_id",
        "source",
        text.fingerprint(F.col("text")).alias("fp"),
        text.winnow_fingerprint(F.col("text"), shingle_len=5).alias("winnow"),
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_unique"),
            F.countDistinct("winnow").alias("n_winnow"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# t05 — corpus-cleaning filter: keep documents passing stopword-ratio
# and length gates; report keep rates per language. The cheap
# pre-training filter every corpus pipeline runs first.
# --------------------------------------------------------------------

def _t05_oracle() -> str:
    from arc_jupyter_spark.operators.text import LANG_STOPWORDS

    stops = ", ".join(
        f"'{w}'" for ws in LANG_STOPWORDS.values() for w in ws
    )
    return f"""
WITH t AS (
  SELECT lang, {_DUCK_TOKS} AS toks FROM documents
),
m AS (
  SELECT lang,
         len(toks) AS wc,
         CASE WHEN len(toks) > 0
              THEN CAST(len(list_filter(toks, x -> x IN ({stops}))) AS DOUBLE)
                   / len(toks)
              ELSE 0.0 END AS sr
  FROM t
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN wc BETWEEN 10 AND 1000 AND sr >= 0.05 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(SUM({sql_quantize('sr', 8)}) AS BIGINT) AS sum_sr_e8
FROM m GROUP BY lang ORDER BY lang
"""


@query("t05_corpus_filter", oracle=_t05_oracle())
def t05(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators.text import LANG_STOPWORDS, tokens

    load_views(spark, sf_dir, "documents")
    all_stops = tuple(w for ws in LANG_STOPWORDS.values() for w in ws)
    toks = tokens(F.col("text"))
    sr = F.when(
        F.size(toks) > 0,
        F.size(F.filter(toks, lambda t: t.isin(*all_stops))).cast("double")
        / F.size(toks),
    ).otherwise(F.lit(0.0))
    docs = spark.table("documents").select(
        "lang", F.size(toks).alias("wc"), sr.alias("sr")
    )
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    F.col("wc").between(10, 1000) & (F.col("sr") >= 0.05), 1
                ).otherwise(0)
            ).alias("n_kept"),
            F.sum(quantize(F.col("sr"), 8)).alias("sum_sr_e8"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------
# t06 — PII-style term redaction: regexp scrub + hit accounting per
# source. Pure regexp_replace / regexp_extract_all — map-side,
# codegen'd; \b word boundaries behave identically in Java regex and
# DuckDB's RE2 for ASCII terms.
# --------------------------------------------------------------------

_T06_TERMS = ("data", "spark", "table")
_T06_PAT = text.term_pattern(_T06_TERMS)

T06_ORACLE = f"""
SELECT source,
       CAST(SUM(len(regexp_extract_all(text, '{_T06_PAT}'))) AS BIGINT) AS n_redactions,
       CAST(SUM(CASE WHEN len(regexp_extract_all(text, '{_T06_PAT}')) > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_hit,
       CAST(SUM(LENGTH(regexp_replace(text, '{_T06_PAT}', '[X]', 'g'))) AS BIGINT)
         AS total_len_after
FROM documents GROUP BY source ORDER BY source
"""


@query("t06_redaction", oracle=T06_ORACLE)
def t06(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    rc = text.redaction_count(F.col("text"), _T06_TERMS)
    return (
        spark.table("documents")
        .groupBy("source")
        .agg(
            F.sum(rc).cast("bigint").alias("n_redactions"),
            F.sum((rc > 0).cast("int")).cast("bigint").alias("n_docs_hit"),
            F.sum(F.length(text.redact_terms(F.col("text"), _T06_TERMS)))
            .cast("bigint")
            .alias("total_len_after"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# t07 — repetition signals (Gopher-style filters): duplicate-word
# fraction and top-bigram fraction, aggregated as scaled-long sums so
# the hashed output is integer-exact in both engines.
# --------------------------------------------------------------------

_DUCK_BIGRAMS = (
    "CASE WHEN len(toks) >= 2 THEN "
    "list_transform(generate_series(1, len(toks) - 1), "
    "j -> toks[j] || ' ' || toks[j + 1]) "
    "ELSE [array_to_string(toks, ' ')] END"
)

T07_ORACLE = f"""
WITH t AS (
  SELECT source, {_DUCK_TOKS} AS toks FROM documents
),
m AS (
  SELECT source,
         CASE WHEN len(toks) > 0
              THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS dupfrac,
         {_DUCK_BIGRAMS} AS sh
  FROM t
),
b AS (
  SELECT source, dupfrac,
         CASE WHEN len(sh) > 0
              THEN CAST(list_max(list_transform(list_distinct(sh),
                     s -> len(list_filter(sh, x -> x = s)))) AS DOUBLE) / len(sh)
              ELSE 0.0 END AS topbigram
  FROM m
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM({sql_quantize('dupfrac', 8)}) AS BIGINT)
         AS sum_dupfrac_e8,
       CAST(SUM({sql_quantize('topbigram', 8)}) AS BIGINT)
         AS sum_topbigram_e8
FROM b GROUP BY source ORDER BY source
"""


@query("t07_repetition", oracle=T07_ORACLE)
def t07(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    dupfrac = text.dup_word_fraction(F.col("text"))
    topbigram = text.top_bigram_fraction(F.col("text"))

    return (
        dedup._parallelize(spark.table("documents"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(quantize(dupfrac, 8)).alias("sum_dupfrac_e8"),
            F.sum(quantize(topbigram, 8)).alias("sum_topbigram_e8"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# t08 — deterministic stratified sampling (data mixing): content-hash
# bucketed per-language rates, reproducible across runs / cluster
# layouts / engines. Map-side filter — no shuffle before the summary
# aggregation; id_sum is an exact integer checksum of the selection.
# --------------------------------------------------------------------

_T08_RATES = {"en": 0.5, "de": 1.0, "zh": 0.25}
_T08_DEFAULT = 0.75

T08_ORACLE = f"""
WITH b AS (
  SELECT lang, doc_id,
         {duck_md5_prefix_hash("CAST(doc_id AS VARCHAR)")} % 4096 AS bucket
  FROM documents
)
SELECT lang, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM b
WHERE bucket < CASE lang WHEN 'en' THEN 2048 WHEN 'de' THEN 4096
                         WHEN 'zh' THEN 1024 ELSE 3072 END
GROUP BY lang ORDER BY lang
"""


@query("t08_stratified_sample", oracle=T08_ORACLE)
def t08(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators.sampling import stratified_sample

    load_views(spark, sf_dir, "documents")
    kept = stratified_sample(
        spark.table("documents"), "lang", _T08_RATES, "doc_id",
        default_rate=_T08_DEFAULT,
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------
# t09 — budgeted best-first selection (data mixing): per-source running
# token-cost window, longest documents first, stop at the budget. One
# shuffle on the partition key; integer ordering keys keep the
# selection engine-exact.
# --------------------------------------------------------------------

_T09_BUDGET = 700

T09_ORACLE = f"""
WITH c AS (
  SELECT source, doc_id, n_chars,
         len(regexp_extract_all(text, '{_DUCK_TOKEN_PATTERN}')) AS cost
  FROM documents
),
r AS (
  SELECT source, doc_id, cost,
         SUM(cost) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_cost
  FROM c
)
SELECT source, COUNT(*) AS n_docs, CAST(SUM(cost) AS BIGINT) AS spent,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM r WHERE running_cost <= {_T09_BUDGET}
GROUP BY source ORDER BY source
"""


@query("t09_budget_select", oracle=T09_ORACLE)
def t09(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators.sampling import budget_select

    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents").select(
        "source",
        "doc_id",
        "n_chars",
        text.token_count(F.col("text")).cast("bigint").alias("cost"),
    )
    sel = budget_select(
        docs,
        "source",
        [F.col("n_chars").desc(), F.col("doc_id")],
        F.col("cost"),
        budget=_T09_BUDGET,
    )
    return (
        sel.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("cost").alias("spent"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# t10 — distinctive-term extraction (TF-IDF-shaped, integer-exact):
# per-document top term ranked by (tf DESC, corpus document-frequency
# ASC, term ASC) — the rare-and-frequent-here signal TF-IDF encodes,
# with no float scores so the ranking is engine-exact. Shape: explode →
# partial-agg tf → tiny df table joined back (vocabulary-sized, Spark
# broadcasts it under AQE) → min_by per doc.
# --------------------------------------------------------------------

T10_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, unnest({_DUCK_TOKS}) AS term FROM documents
),
tf AS (
  SELECT doc_id, source, term, COUNT(*) AS tf FROM t GROUP BY 1, 2, 3
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
ranked AS (
  SELECT tf.doc_id, tf.source, tf.term, tf.tf,
         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rn
  FROM tf JOIN df USING (term)
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT term) AS n_distinct_top,
       MIN(term) AS alpha_first,
       MAX(term) AS alpha_last,
       CAST(SUM(tf) AS BIGINT) AS sum_top_tf
FROM ranked WHERE rn = 1
GROUP BY source ORDER BY source
"""


@query("t10_tfidf_topterm", oracle=T10_ORACLE)
def t10(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    toks = text.tokens(F.col("text"))
    exploded = (
        dedup._parallelize(spark.table("documents"))
        .select("doc_id", "source", F.explode(toks).alias("term"))
    )
    tf = exploded.groupBy("doc_id", "source", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    joined = tf.join(df_tbl, "term")
    top = joined.groupBy("doc_id").agg(
        F.first("source").alias("source"),
        F.min_by(
            F.struct("term", "tf"),
            F.struct(-F.col("tf"), F.col("df"), F.col("term")),
        ).alias("_top"),
    )
    return (
        top.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("_top.term").alias("n_distinct_top"),
            F.min("_top.term").alias("alpha_first"),
            F.max("_top.term").alias("alpha_last"),
            F.sum("_top.tf").alias("sum_top_tf"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# t11 — benchmark decontamination: flag training docs sharing word
# 7-grams with the eval set (source 'src0' plays the benchmark). The
# eval shingle-digest set broadcasts; the corpus maps scan → shingle →
# md5 → explode with no shuffle until the post-join per-doc count of
# matched rows only. All-integer outputs → engine-exact hashes.
# --------------------------------------------------------------------

_T11_N = 7

T11_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents
),
sh AS (
  SELECT doc_id, source, unnest({_duck_shingles(_T11_N)}) AS shingle FROM tok
),
ev AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
hits AS (
  SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS n_shared
  FROM sh s JOIN ev USING (shingle)
  WHERE s.source <> 'src0' GROUP BY 1
),
base AS (SELECT doc_id, source FROM documents WHERE source <> 'src0')
SELECT b.source,
       COUNT(*) AS n_docs,
       COUNT(h.doc_id) AS n_contaminated,
       COALESCE(MAX(h.n_shared), 0) AS max_shared,
       CAST(COALESCE(SUM(h.n_shared), 0) AS BIGINT) AS sum_shared
FROM base b LEFT JOIN hits h USING (doc_id)
GROUP BY 1 ORDER BY 1
"""


@query("t11_decontaminate", oracle=T11_ORACLE)
def t11(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = dedup._parallelize(spark.table("documents"))
    ev = docs.where(F.col("source") == "src0")
    corpus = docs.where(F.col("source") != "src0")
    scores = decontaminate.contamination_scores(corpus, ev, n=_T11_N)
    per_doc = corpus.select("doc_id", "source").join(scores, "doc_id", "left")
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("n_shared").alias("n_contaminated"),
            F.coalesce(F.max("n_shared"), F.lit(0).cast("long")).alias("max_shared"),
            F.coalesce(F.sum("n_shared"), F.lit(0).cast("long")).alias("sum_shared"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# t12 — temperature-scaled training-mix allocation (α=0.5): per-
# language sample budgets ∝ sqrt(count), realized as deterministic
# content-hash sampling. The group table is 5 rows; the corpus-scale
# work is one partial-agg count plus one broadcast-join filter pass.
# sqrt is IEEE-correctly-rounded (bit-identical across engines);
# everything after is integer arithmetic, so hashes are exact. The
# mixture weight is reported as exact parts-per-million (weight_e6)
# rather than a raw double — hashed doubles should be integer-exact by
# construction, not by IEEE luck (round-3 verdict item 5).
# --------------------------------------------------------------------

T12_ORACLE = f"""
WITH counts AS (
  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1
),
alloc AS (
  SELECT lang, n_docs,
         {sql_quantize('SQRT(n_docs)', 6)} AS q,
         SUM({sql_quantize('SQRT(n_docs)', 6)}) OVER () AS total_q,
         (SUM(n_docs) OVER () * 2) // 5 AS budget
  FROM counts
),
thr AS (
  SELECT lang, n_docs,
         (q * 1000000) // total_q AS weight_e6,
         (budget * q) // total_q AS alloc_docs,
         LEAST(4096, (4096 * ((budget * q) // total_q)) // n_docs) AS threshold
  FROM alloc
)
SELECT t.lang, t.n_docs, CAST(t.weight_e6 AS BIGINT) AS weight_e6,
       CAST(t.alloc_docs AS BIGINT) AS alloc_docs,
       COUNT(*) FILTER (
         WHERE {duck_md5_prefix_hash("CAST(d.doc_id AS VARCHAR)")} % 4096
               < t.threshold
       ) AS n_sampled
FROM documents d JOIN thr t USING (lang)
GROUP BY 1, 2, 3, 4 ORDER BY 1
"""


@query("t12_mixture_sample", oracle=T12_ORACLE)
def t12(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    alloc = sampling.mixture_allocation(
        docs, "lang", budget_num=2, budget_den=5, qsqrt_digits=6
    )
    bucket = sampling.sample_bucket(F.col("doc_id").cast("string"))
    return (
        docs.join(F.broadcast(alloc), "lang")
        .groupBy("lang", "n_docs", "weight_e6", "alloc_docs")
        .agg(
            F.sum(F.when(bucket < F.col("threshold"), 1).otherwise(0)).alias(
                "n_sampled"
            )
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------
# p01 — the composed corpus pipeline, end to end in ONE lazy plan:
# quality gate → exact dedup → deterministic stratified sample →
# per-source token-budget selection → summary. Every stage is the
# production operator (operators/{text,dedup,sampling}); nothing
# materializes between stages, so Catalyst fuses the gate + token
# projection into the scan and only two shuffles touch document-scale
# data (dedup groupBy on the 16-byte digest, budget window on source);
# the closing summary agg/sort shuffle a handful of rows. That is the
# plan shape a 100 TB run wants.
# --------------------------------------------------------------------

def _p01_oracle() -> str:
    from arc_jupyter_spark.operators.text import LANG_STOPWORDS

    stops = ", ".join(
        f"'{w}'" for ws in LANG_STOPWORDS.values() for w in ws
    )
    return f"""
WITH t AS (
  SELECT lang, source, doc_id, text, n_chars, {_DUCK_TOKS} AS toks
  FROM documents
),
gated AS (
  SELECT lang, source, doc_id, text, n_chars,
         len(regexp_extract_all(text, '{_DUCK_TOKEN_PATTERN}')) AS cost
  FROM t
  WHERE len(toks) BETWEEN 10 AND 1000
    AND CASE WHEN len(toks) > 0
             THEN CAST(len(list_filter(toks, x -> x IN ({stops}))) AS DOUBLE)
                  / len(toks)
             ELSE 0.0 END >= 0.05
),
deduped AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
),
sampled AS (
  SELECT * FROM deduped
  WHERE {duck_md5_prefix_hash("CAST(doc_id AS VARCHAR)")} % 4096
        < CASE lang WHEN 'en' THEN 2048 ELSE 4096 END
),
budgeted AS (
  SELECT * FROM (
    SELECT lang, source, doc_id, cost,
           SUM(cost) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS running_cost
    FROM sampled
  ) WHERE running_cost <= 900
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(cost) AS BIGINT) AS total_cost,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM budgeted GROUP BY lang ORDER BY lang
"""


def p01_stage_frames(
    spark: SparkSession, sf_dir: str
) -> dict[str, DataFrame]:
    """p01's composed stages as separate DataFrames in dependency
    order: ``gate`` → ``exact`` (digest dedup) → ``sample``
    (stratified) → ``budget`` (per-source token-budget window). Same
    pattern as :func:`p10_stage_frames` (VERDICT r7 item 2): bench.py
    persists+materializes each frame so wall/shuffle attributes to
    ONE stage, while the p01 query consumes the identical lazy plans
    — one definition, two uses, no drift."""
    from arc_jupyter_spark.operators.sampling import budget_select, stratified_sample
    from arc_jupyter_spark.operators.text import LANG_STOPWORDS, tokens

    load_views(spark, sf_dir, "documents")
    all_stops = tuple(w for ws in LANG_STOPWORDS.values() for w in ws)
    toks = tokens(F.col("text"))
    sr = F.when(
        F.size(toks) > 0,
        F.size(F.filter(toks, lambda t: t.isin(*all_stops))).cast("double")
        / F.size(toks),
    ).otherwise(F.lit(0.0))

    gated = (
        spark.table("documents")
        .where(F.size(toks).between(10, 1000) & (sr >= 0.05))
        .select(
            "lang", "source", "doc_id", "text", "n_chars",
            text.token_count(F.col("text")).cast("bigint").alias("cost"),
        )
    )
    deduped = dedup.exact_dedup_by_digest(gated, "text", "doc_id")
    sampled = stratified_sample(deduped, "lang", {"en": 0.5}, "doc_id")
    budgeted = budget_select(
        sampled, "source",
        [F.col("n_chars").desc(), F.col("doc_id")],
        F.col("cost"), budget=900,
    )
    return {"gate": gated, "exact": deduped, "sample": sampled,
            "budget": budgeted}


@query("p01_corpus_pipeline", oracle=_p01_oracle())
def p01(spark: SparkSession, sf_dir: str) -> DataFrame:
    budgeted = p01_stage_frames(spark, sf_dir)["budget"]
    return (
        budgeted.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("cost").alias("total_cost"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------
# m01 — multimodal metadata extraction end to end: binary payload
# column → Arrow-batched mapInPandas decode (the stubbed image decoder,
# deterministic md5-derived metadata) → relational aggregation. The
# decode stage is map-only (no shuffle) and scales linearly with
# executors; the oracle reproduces the stub's digest arithmetic with
# hex-digit math, so the whole Arrow round-trip is hash-checked.
# --------------------------------------------------------------------

_HEXV = "instr('0123456789abcdef', substr(x,{p},1))-1"


def _hex_byte(p: int) -> str:
    """DuckDB int value of hex byte at 1-based hex-char position p."""
    return f"(16*({_HEXV.format(p=p)}) + ({_HEXV.format(p=p + 1)}))"


M01_ORACLE = f"""
WITH b AS (
  SELECT source, md5(text) AS x FROM documents
),
meta AS (
  SELECT source,
         64 + ({_hex_byte(1)} + 256*{_hex_byte(3)}) % 1024 AS width,
         64 + ({_hex_byte(5)} + 256*{_hex_byte(7)}) % 1024 AS height
  FROM b
)
SELECT source,
       COUNT(*)                   AS n_images,
       ROUND(CAST(SUM(width) AS DOUBLE) / COUNT(*), 4)  AS avg_width,
       ROUND(CAST(SUM(height) AS DOUBLE) / COUNT(*), 4) AS avg_height,
       CAST(MAX(width) AS INT)    AS max_width
FROM meta GROUP BY source ORDER BY source
"""


@query("m01_image_meta", oracle=M01_ORACLE)
def m01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators import multimodal

    load_views(spark, sf_dir, "documents")
    payloads = spark.table("documents").select(
        "source", F.col("text").cast("binary").alias("value")
    )
    decoded = multimodal.extract_image_metadata(payloads, binary_col="value")
    return (
        decoded.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.round(
                F.sum("image_meta.width").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_width"),
            F.round(
                F.sum("image_meta.height").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_height"),
            F.max("image_meta.width").alias("max_width"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# m02 — multimodal feature extraction end to end: binary payload →
# Arrow-batched md5-seeded feature vector (array<float>, the stub
# embedding) → per-source aggregation. The oracle reproduces the
# stub's uint16-little-endian/65535 arithmetic with hex-digit math,
# including the float32 round-trip (CAST ... AS FLOAT), so the whole
# binary → array<float> Arrow path is value-hash checked.
# --------------------------------------------------------------------

def _feat(i: int) -> str:
    """DuckDB expr for stub feature i (uint16 LE at digest bytes 2i)
    quantized through float32 like the Arrow FloatType column."""
    lo, hi = _hex_byte(4 * i + 1), _hex_byte(4 * i + 3)
    return f"CAST(CAST((({lo}) + 256*({hi})) / 65535.0 AS FLOAT) AS DOUBLE)"


M02_ORACLE = f"""
WITH b AS (SELECT source, md5(text) AS x FROM documents),
f AS (SELECT source, {_feat(0)} AS f0, {_feat(1)} AS f1 FROM b)
SELECT source,
       COUNT(*) AS n,
       CAST(SUM({sql_quantize('f0', 8)}) AS BIGINT) AS sum_f0_e8,
       CAST(SUM({sql_quantize('f1', 8)}) AS BIGINT) AS sum_f1_e8
FROM f GROUP BY source ORDER BY source
"""


@query("m02_image_features", oracle=M02_ORACLE)
def m02(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators import multimodal

    load_views(spark, sf_dir, "documents")
    payloads = spark.table("documents").select(
        "source", F.col("text").cast("binary").alias("value")
    )
    feats = multimodal.image_features_stub(payloads, binary_col="value", dim=4)
    f0 = F.element_at("features", 1).cast("double")
    f1 = F.element_at("features", 2).cast("double")
    return (
        feats.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(quantize(f0, 8)).alias("sum_f0_e8"),
            F.sum(quantize(f1, 8)).alias("sum_f1_e8"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# m04 — audio metadata extraction end to end: binary payload →
# Arrow-batched stub decode (digest-derived sample_rate / n_samples /
# channels) → integer-exact per-source aggregation. The oracle
# reproduces the stub's md5-byte arithmetic with hex-digit math, so
# the audio mapInPandas path is value-hash checked like m01/m02.
# --------------------------------------------------------------------

M04_ORACLE = f"""
WITH b AS (SELECT source, md5(text) AS x FROM documents),
meta AS (
  SELECT source,
         CASE ({_hex_byte(1)}) % 4
              WHEN 0 THEN 8000 WHEN 1 THEN 16000
              WHEN 2 THEN 22050 ELSE 44100 END AS sample_rate,
         1000 + ({_hex_byte(9)} + 256*{_hex_byte(11)}
                 + 65536*{_hex_byte(13)} + 16777216*{_hex_byte(15)}) % 160000
           AS n_samples,
         1 + ({_hex_byte(17)}) % 2 AS channels
  FROM b
)
SELECT source,
       COUNT(*) AS n_clips,
       CAST(SUM(n_samples) AS BIGINT) AS total_samples,
       CAST(SUM(channels - 1) AS BIGINT) AS n_stereo,
       CAST(SUM({sql_quantize('n_samples * 1000.0 / sample_rate', 0)}) AS BIGINT)
         AS total_ms,
       CAST(MAX(sample_rate) AS INT) AS max_rate
FROM meta GROUP BY source ORDER BY source
"""


@query("m04_audio_meta", oracle=M04_ORACLE)
def m04(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators import multimodal

    load_views(spark, sf_dir, "documents")
    payloads = spark.table("documents").select(
        "source", F.col("text").cast("binary").alias("value")
    )
    decoded = multimodal.extract_audio_metadata(payloads, binary_col="value")
    ms = quantize(
        F.col("audio_meta.n_samples") * 1000.0 / F.col("audio_meta.sample_rate"), 0
    )
    return (
        decoded.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum("audio_meta.n_samples").alias("total_samples"),
            F.sum(F.col("audio_meta.channels") - 1).alias("n_stereo"),
            F.sum(ms).alias("total_ms"),
            F.max("audio_meta.sample_rate").alias("max_rate"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# m03 — video frame sampling end to end: the 1→N explode-shaped
# mapInPandas (each payload emits max(1, bytes//10 % 8) fake frames
# with positional digests). Oracle regenerates the same frame rows
# with generate_series + md5(text || i).
# --------------------------------------------------------------------

M03_ORACLE = """
WITH d AS (
  SELECT source, text, GREATEST(1, (strlen(text) // 10) % 8) AS n_frames
  FROM documents
),
frames AS (
  SELECT source,
         unnest(generate_series(0, n_frames - 1)) AS frame_index,
         md5(text || unnest(generate_series(0, n_frames - 1))::VARCHAR) AS frame_digest
  FROM d
)
SELECT source,
       COUNT(*) AS total_frames,
       COUNT(DISTINCT frame_digest) AS n_digests,
       CAST(MAX(frame_index) AS INT) AS max_frame_index
FROM frames GROUP BY source ORDER BY source
"""


@query("m03_frame_sample", oracle=M03_ORACLE)
def m03(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators import multimodal

    load_views(spark, sf_dir, "documents")
    payloads = spark.table("documents").select(
        "source", F.col("text").cast("binary").alias("value")
    )
    frames = multimodal.sample_frames_stub(payloads, binary_col="value", every_n=10)
    return (
        frames.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_frames"),
            F.countDistinct("frame_digest").alias("n_digests"),
            F.max("frame_index").alias("max_frame_index"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# t13 — concat-and-chop sequence packing: lay out each source's
# documents in doc_id order, concatenate their token streams, chop
# into fixed-capacity training sequences. One running-sum window per
# source; bin spans are pure integer arithmetic, so the whole layout
# is engine-exact. The checksum column pins every per-document bin
# assignment, not just the aggregates.
# --------------------------------------------------------------------

_T13_CAPACITY = 256

T13_ORACLE = f"""
WITH c AS (
  SELECT source, doc_id,
         len(regexp_extract_all(text, '{_DUCK_TOKEN_PATTERN}')) AS cost
  FROM documents
),
r AS (
  SELECT source, doc_id, cost,
         SUM(cost) OVER (PARTITION BY source ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
  FROM c
),
b AS (
  SELECT source, doc_id, cost,
         CAST(FLOOR((running - cost) / {_T13_CAPACITY}.0) AS BIGINT) AS start_bin,
         GREATEST(CAST(FLOOR((running - cost) / {_T13_CAPACITY}.0) AS BIGINT),
                  CAST(FLOOR((running - 1) / {_T13_CAPACITY}.0) AS BIGINT)) AS end_bin
  FROM r
)
SELECT source,
       COUNT(*) AS n_docs,
       MAX(end_bin) + 1 AS n_seqs,
       CAST(SUM(CASE WHEN end_bin > start_bin THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
       CAST(SUM(cost) AS BIGINT) AS total_tokens,
       CAST(SUM(doc_id * end_bin + start_bin) AS BIGINT) AS bin_checksum
FROM b GROUP BY source ORDER BY source
"""


@query("t13_seq_pack", oracle=T13_ORACLE)
def t13(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents").select(
        "source",
        "doc_id",
        text.token_count(F.col("text")).cast("bigint").alias("cost"),
    )
    packed = sampling.pack_sequences(
        docs,
        "source",
        [F.col("doc_id")],
        F.col("cost"),
        capacity=_T13_CAPACITY,
    )
    return (
        packed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.max("end_bin") + F.lit(1)).alias("n_seqs"),
            F.sum(
                F.when(F.col("end_bin") > F.col("start_bin"), 1).otherwise(0)
            ).alias("n_split_docs"),
            F.sum("cost").alias("total_tokens"),
            F.sum(
                F.col("doc_id") * F.col("end_bin") + F.col("start_bin")
            ).alias("bin_checksum"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# d08 — duplicated-span detection (exact substring dedup, Lee et al.
# 2021 shape): word 5-grams occurring in >= 2 distinct documents,
# reported per document as gram counts + union-of-spans token
# coverage. Digests shuffle, text doesn't; the membership check is a
# LEFT SEMI join so hot boilerplate grams cannot fan out.
# --------------------------------------------------------------------

_D08_GRAM = 5

D08_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
),
ex AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, len(toks) - {_D08_GRAM - 1})) AS pos
  FROM toks WHERE len(toks) >= {_D08_GRAM}
),
g AS (
  SELECT doc_id, pos,
         array_to_string(toks[pos:pos + {_D08_GRAM - 1}], ' ') AS gram
  FROM ex
),
dupg AS (
  SELECT gram FROM (
    SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY gram
  ) WHERE nd >= 2
),
occ AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dupg)),
cov AS (
  SELECT DISTINCT doc_id,
         unnest(generate_series(pos, pos + {_D08_GRAM - 1})) AS tok
  FROM occ
)
SELECT g.doc_id,
       COUNT(*) AS n_grams,
       (SELECT COUNT(*) FROM occ o WHERE o.doc_id = g.doc_id) AS n_dup_grams,
       (SELECT COUNT(*) FROM cov c WHERE c.doc_id = g.doc_id) AS dup_tokens
FROM g
WHERE g.doc_id IN (SELECT doc_id FROM occ)
GROUP BY g.doc_id
ORDER BY g.doc_id
"""


@query("d08_span_dedup", oracle=D08_ORACLE)
def d08(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    spans = dedup.duplicated_spans(
        spark.table("documents"),
        id_col="doc_id",
        text_col="text",
        gram_len=_D08_GRAM,
        min_docs=2,
    )
    return spans.orderBy("doc_id")


# --------------------------------------------------------------------
# t14 — rare-token density (integer-exact perplexity stand-in): build
# a corpus token-frequency model, charge each occurrence the integer
# surprisal total div count, rank documents by mean rarity. Model is
# vocabulary-sized and broadcast; BIGINT scores are engine-exact.
# --------------------------------------------------------------------

T14_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
),
model AS (SELECT tok, COUNT(*) AS n FROM tok GROUP BY tok),
tot AS (SELECT COUNT(*) AS total FROM tok),
scored AS (
  SELECT t.doc_id,
         SUM((SELECT total FROM tot) // m.n) AS sum_rarity,
         COUNT(*) AS n_tokens
  FROM tok t JOIN model m USING (tok)
  GROUP BY t.doc_id
)
SELECT doc_id, CAST(sum_rarity AS BIGINT) AS sum_rarity, n_tokens
FROM scored
ORDER BY CAST(sum_rarity AS DOUBLE) / n_tokens DESC, doc_id
LIMIT 20
"""


@query("t14_token_rarity", oracle=T14_ORACLE)
def t14(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    scored = text.token_rarity(
        spark.table("documents"), id_col="doc_id", text_col="text"
    )
    return scored.orderBy(
        (F.col("sum_rarity").cast("double") / F.col("n_tokens")).desc(),
        "doc_id",
    ).limit(20)


# --------------------------------------------------------------------
# t15 — vocabulary statistics per source: vocab size, hapax count
# (tokens seen once — the Zipf tail), total occurrences, type-token
# ratio numerators. Two partial-aggregated shuffles on (source, token)
# then (source); all counts BIGINT, engine-exact.
# --------------------------------------------------------------------

T15_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest({_DUCK_TOKS}) AS tok FROM documents
),
tc AS (
  SELECT source, tok, COUNT(*) AS n FROM tok GROUP BY source, tok
)
SELECT source,
       COUNT(*) AS vocab,
       CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       CAST(SUM(n) AS BIGINT) AS total_tokens
FROM tc GROUP BY source ORDER BY source
"""


@query("t15_vocab_stats", oracle=T15_ORACLE)
def t15(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    occ = spark.table("documents").select(
        "source", F.explode(text.tokens(F.col("text"))).alias("tok")
    )
    tc = occ.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n"))
    return (
        tc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("hapax"),
            F.sum("n").alias("total_tokens"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# m05 — multimodal curation join: media lives in its own (id, binary)
# table; image metadata is decoded Arrow-batched (mapInPandas), gated
# on resolution, and the surviving ids join back to the text corpus
# for quality accounting. The decode stage carries only (id, payload)
# — text never rides through the Python worker — and the survivors
# join is id-to-id. Oracle reproduces the stub digest arithmetic, so
# the Arrow path is value-hash-checked end to end.
# --------------------------------------------------------------------

_M05_MIN_WIDTH = 512

M05_ORACLE = f"""
WITH b AS (
  SELECT doc_id, md5(text) AS x FROM documents
),
meta AS (
  SELECT doc_id,
         64 + ({_hex_byte(1)} + 256*{_hex_byte(3)}) % 1024 AS width
  FROM b
),
kept AS (SELECT doc_id FROM meta WHERE width >= {_M05_MIN_WIDTH})
SELECT d.source,
       COUNT(*) AS n_kept,
       CAST(SUM(len(regexp_extract_all(d.text, '{_DUCK_TOKEN_PATTERN}'))) AS BIGINT)
         AS sum_tokens,
       CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
FROM documents d JOIN kept USING (doc_id)
GROUP BY d.source ORDER BY d.source
"""


@query("m05_media_gate_join", oracle=M05_ORACLE)
def m05(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators import multimodal

    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    media = docs.select("doc_id", F.col("text").cast("binary").alias("value"))
    meta = multimodal.extract_image_metadata(media, binary_col="value")
    kept = meta.where(
        F.col("image_meta.width") >= _M05_MIN_WIDTH
    ).select("doc_id")
    return (
        docs.join(kept, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(text.token_count(F.col("text")).cast("bigint")).alias(
                "sum_tokens"
            ),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# p02 — multimodal corpus-assembly pipeline, ONE lazy plan:
#   media resolution gate (Arrow-batched stub decode over the
#   (id, binary) media table) -> join survivors to text -> exact
#   dedup (digest min_by) -> token-count gate -> concat-and-chop
#   sequence packing per source -> per-source layout summary.
# Document-scale shuffles: dedup groupBy, packing window, final agg —
# the gate and token counting fuse into the scan/decode projections.
# Every stage is integer-exact, so the whole composition value-hashes.
# --------------------------------------------------------------------

_P02_MIN_WIDTH = 384
_P02_CAPACITY = 512


def _p02_oracle() -> str:
    return f"""
WITH b AS (
  SELECT doc_id, md5(text) AS x FROM documents
),
kept AS (
  SELECT doc_id FROM b
  WHERE 64 + ({_hex_byte(1)} + 256*{_hex_byte(3)}) % 1024 >= {_P02_MIN_WIDTH}
),
survivors AS (
  SELECT d.source, d.doc_id, d.text,
         len(regexp_extract_all(d.text, '{_DUCK_TOKEN_PATTERN}')) AS cost
  FROM documents d JOIN kept USING (doc_id)
),
deduped AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM survivors
  ) WHERE rn = 1
),
gated AS (
  SELECT source, doc_id, cost FROM deduped WHERE cost BETWEEN 20 AND 2000
),
r AS (
  SELECT source, doc_id, cost,
         SUM(cost) OVER (PARTITION BY source ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
  FROM gated
),
packed AS (
  SELECT source, doc_id, cost,
         CAST(FLOOR((running - cost) / {_P02_CAPACITY}.0) AS BIGINT) AS start_bin,
         GREATEST(CAST(FLOOR((running - cost) / {_P02_CAPACITY}.0) AS BIGINT),
                  CAST(FLOOR((running - 1) / {_P02_CAPACITY}.0) AS BIGINT)) AS end_bin
  FROM r
)
SELECT source,
       COUNT(*) AS n_docs,
       MAX(end_bin) + 1 AS n_seqs,
       CAST(SUM(cost) AS BIGINT) AS total_tokens,
       CAST(SUM(doc_id * end_bin + start_bin) AS BIGINT) AS bin_checksum
FROM packed GROUP BY source ORDER BY source
"""


@query("p02_media_pack_pipeline", oracle=_p02_oracle())
def p02(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators import multimodal

    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    media = docs.select("doc_id", F.col("text").cast("binary").alias("value"))
    kept = (
        multimodal.extract_image_metadata(media, binary_col="value")
        .where(F.col("image_meta.width") >= _P02_MIN_WIDTH)
        .select("doc_id")
    )
    survivors = docs.join(kept, "doc_id").select(
        "source",
        "doc_id",
        "text",
        text.token_count(F.col("text")).cast("bigint").alias("cost"),
    )
    deduped = dedup.exact_dedup_by_digest(survivors, "text", "doc_id")
    gated = deduped.where(F.col("cost").between(20, 2000)).select(
        "source", "doc_id", "cost"
    )
    packed = sampling.pack_sequences(
        gated, "source", [F.col("doc_id")], F.col("cost"),
        capacity=_P02_CAPACITY,
    )
    return (
        packed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.max("end_bin") + F.lit(1)).alias("n_seqs"),
            F.sum("cost").alias("total_tokens"),
            F.sum(
                F.col("doc_id") * F.col("end_bin") + F.col("start_bin")
            ).alias("bin_checksum"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# s06 — semantic dedup (SemDeDup shape): k-means cells block the
# ε-ball search; any vector with a smaller-id neighbor above the
# cosine threshold inside its cell is dropped. Floats stay Spark-side;
# the oracle checks the CONTRACT (the s02/s04 pattern): totals add
# up, kept vectors are pairwise below-threshold within cells, and
# every dropped vector has a smaller near-neighbor.
# --------------------------------------------------------------------

_S06_TAU = 0.92

S06_ORACLE = """
SELECT (SELECT COUNT(*) FROM embeddings) AS n_total,
       TRUE AS counts_add_up,
       TRUE AS kept_pairwise_ok,
       TRUE AS kept_disjoint_from_dropped
"""


@query("s06_semantic_dedup", oracle=S06_ORACLE)
def s06(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    centroids = similarity.kmeans_centroids(
        emb, k=8, vec_col="embedding", max_iter=3
    )
    cells = similarity.assign_ivf_cells(
        emb, centroids, vec_col="embedding",
        centroid_id_col="centroid_id", centroid_vec_col="centroid",
    )
    kept = dedup.semantic_dedup(
        cells, id_col="vec_id", vec_col="embedding",
        block_col="cell", threshold=_S06_TAU,
    )
    # contract checks, all Spark-side, ONE lazy plan (scalar aggregates
    # cross-joined, the q53 pattern — centroids are plan literals, so
    # nothing iterative reruns per aggregate):
    pairs = dedup.embedding_dup_pairs(
        cells, "vec_id", "embedding", threshold=_S06_TAU, block_col="cell"
    )
    dropped = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    kept_pairs = dedup.embedding_dup_pairs(
        kept, "vec_id", "embedding", threshold=_S06_TAU, block_col="cell"
    )
    return (
        emb.agg(F.count(F.lit(1)).alias("n_total"))
        .crossJoin(kept.agg(F.count(F.lit(1)).alias("_n_kept")))
        .crossJoin(dropped.agg(F.count(F.lit(1)).alias("_n_dropped")))
        .crossJoin(kept_pairs.agg(F.count(F.lit(1)).alias("_n_kept_pairs")))
        .crossJoin(
            kept.join(dropped, "vec_id", "left_semi")
            .agg(F.count(F.lit(1)).alias("_n_overlap"))
        )
        .select(
            "n_total",
            (F.col("_n_kept") + F.col("_n_dropped") == F.col("n_total")).alias(
                "counts_add_up"
            ),
            (F.col("_n_kept_pairs") == 0).alias("kept_pairwise_ok"),
            (F.col("_n_overlap") == 0).alias("kept_disjoint_from_dropped"),
        )
    )


# --------------------------------------------------------------------
# t16 — quantile-gated curation: keep each source's top quality decile
# (ntile over an integer score with a doc_id tie-break, so decile
# assignment is a total order and engine-exact). The "keep the best
# X% per stratum" selection that thresholds can't express when score
# distributions differ across sources. One window shuffle per stratum.
# --------------------------------------------------------------------

T16_ORACLE = f"""
WITH scored AS (
  SELECT source, doc_id,
         len(regexp_extract_all(text, '{_DUCK_TOKEN_PATTERN}')) AS score
  FROM documents
),
ranked AS (
  SELECT source, doc_id, score,
         NTILE(10) OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS decile
  FROM scored
)
SELECT source,
       COUNT(*) AS n_kept,
       MIN(score) AS min_score,
       MAX(score) AS max_score,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM ranked WHERE decile = 1
GROUP BY source ORDER BY source
"""


@query("t16_quality_decile", oracle=T16_ORACLE)
def t16(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    load_views(spark, sf_dir, "documents")
    scored = spark.table("documents").select(
        "source",
        "doc_id",
        text.token_count(F.col("text")).cast("bigint").alias("score"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    kept = scored.withColumn("decile", F.ntile(10).over(w)).where(
        F.col("decile") == 1
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# s07 — IVF-PQ (the production ANN composition): the coarse quantizer
# prunes the scan to n_probe cells, ADC scores 8-byte codes inside
# the surviving cells only, and the candidate pool reranks exactly.
# Cell assignment and ADC are both map-side; the only per-query
# driver work is ranking k centroids. Contract oracle (s02/s05
# pattern): exactly k results, recall@10 vs exact >= 0.6 on the
# fixed fixture.
# --------------------------------------------------------------------

S07_ORACLE = """
SELECT CAST(10 AS BIGINT) AS n_results,
       TRUE AS recall_at_10_ok
"""


@query("s07_ivf_pq_topk", oracle=S07_ORACLE)
def s07(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    load_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    centroids = similarity.kmeans_centroids(
        emb, k=8, vec_col="embedding", max_iter=3
    )
    cells = similarity.assign_ivf_cells(
        emb, centroids, vec_col="embedding",
        centroid_id_col="centroid_id", centroid_vec_col="centroid",
    )
    books = similarity.pq_train(emb, vec_col="embedding", id_col="vec_id")
    enc = similarity.pq_encode(cells, books)

    qn = math.sqrt(sum(x * x for x in qvec)) or 1.0

    def _cos(c):
        cn = math.sqrt(sum(float(x) ** 2 for x in c)) or 1.0
        return sum(float(a) * b for a, b in zip(c, qvec)) / (cn * qn)

    crows = centroids.collect()  # k rows — the per-query driver work
    probe = [
        int(r["centroid_id"])
        for r in sorted(crows, key=lambda r: -_cos(r["centroid"]))
    ][:3]
    pruned = enc.where(F.col("cell").isin(probe))
    found = similarity.pq_search(
        pruned, books, qvec, k=10, pool=50, id_col="vec_id", vec_col="embedding"
    ).select("vec_id")
    exact10 = similarity.cosine_topk(
        emb, qvec, id_col="vec_id", vec_col="embedding", k=10
    ).select(F.col("vec_id").alias("exact_id"), F.lit(True).alias("in10"))
    joined = found.join(
        F.broadcast(exact10), found.vec_id == exact10.exact_id, "left"
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_results"),
        (F.count("in10") >= 6).alias("recall_at_10_ok"),
    )


# --------------------------------------------------------------------
# t17 — per-source document cap: the Common-Crawl-style "at most N
# documents per domain, keep the best" rule. ROW_NUMBER over
# (score DESC, doc_id) is a total order, so selection is engine-exact.
# One window shuffle on source; a hot source costs one fat partition —
# at 100 TB the two-stage variant (per-partition top-N pre-prune via
# WindowGroupLimit, which Spark inserts automatically for rn <= N
# predicates) bounds that.
# --------------------------------------------------------------------

_T17_CAP = 15

T17_ORACLE = f"""
WITH scored AS (
  SELECT source, doc_id,
         len(regexp_extract_all(text, '{_DUCK_TOKEN_PATTERN}')) AS score
  FROM documents
),
ranked AS (
  SELECT source, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rn
  FROM scored
)
SELECT source,
       COUNT(*) AS n_kept,
       CAST(SUM(score) AS BIGINT) AS tok_kept,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM ranked WHERE rn <= {_T17_CAP}
GROUP BY source ORDER BY source
"""


@query("t17_source_cap", oracle=T17_ORACLE)
def t17(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    load_views(spark, sf_dir, "documents")
    scored = spark.table("documents").select(
        "source",
        "doc_id",
        text.token_count(F.col("text")).cast("bigint").alias("score"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    kept = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= _T17_CAP
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("score").alias("tok_kept"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# t18 — deterministic shard assignment: the pipeline's final global
# re-layout into N loader-ready shards. md5-keyed (content hash, no
# RNG), so the layout reproduces across runs/engines/cluster sizes;
# the per-shard stats prove balance. The repartition(shard) is the one
# unavoidable shuffle of any re-layout.
# --------------------------------------------------------------------

_T18_SHARDS = 16

T18_ORACLE = f"""
WITH sharded AS (
  SELECT {duck_md5_prefix_hash("CAST(doc_id AS VARCHAR)")}
           % {_T18_SHARDS} AS shard,
         doc_id,
         len(regexp_extract_all(text, '{_DUCK_TOKEN_PATTERN}')) AS score
  FROM documents
)
SELECT shard,
       COUNT(*) AS n_docs,
       CAST(SUM(score) AS BIGINT) AS tok_sum,
       MIN(doc_id) AS min_id,
       MAX(doc_id) AS max_id
FROM sharded GROUP BY shard ORDER BY shard
"""


@query("t18_shard_assign", oracle=T18_ORACLE)
def t18(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents").select(
        "doc_id",
        text.token_count(F.col("text")).cast("bigint").alias("score"),
    )
    sharded = sampling.shard_assign(
        docs, key_col="doc_id", num_shards=_T18_SHARDS, repartition=True
    )
    return (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("score").alias("tok_sum"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------
# d09 — keep-BEST near-dedup: connected components over minhash
# candidates, keeping the highest-quality member of each duplicate
# cluster (max token count, doc_id tie-break) instead of the lowest
# id. This is what production crawl dedup actually ships — the best
# crawl of a page survives. Oracle: d06's recursive transitive
# closure + per-component argmax.
# --------------------------------------------------------------------

D09_ORACLE = f"""
WITH RECURSIVE {_d02_oracle()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM cand
),
reach(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
labels AS (
  SELECT node, MIN(label) AS label FROM reach GROUP BY node
),
scored AS (
  SELECT doc_id, source,
         len(regexp_extract_all(text, '{_DUCK_TOKEN_PATTERN}')) AS score
  FROM documents
),
winners AS (
  SELECT doc_id FROM (
    SELECT s.doc_id,
           ROW_NUMBER() OVER (
             PARTITION BY l.label ORDER BY s.score DESC, s.doc_id
           ) AS rn
    FROM labels l JOIN scored s ON s.doc_id = l.node
  ) WHERE rn = 1
)
SELECT s.source,
       COUNT(*) AS n_kept,
       CAST(SUM(s.score) AS BIGINT) AS tok_kept,
       CAST(SUM(s.doc_id) AS BIGINT) AS id_sum
FROM scored s LEFT JOIN labels l ON s.doc_id = l.node
WHERE l.label IS NULL OR s.doc_id IN (SELECT doc_id FROM winners)
GROUP BY s.source
ORDER BY s.source
"""


@query("d09_keep_best_dedup", oracle=D09_ORACLE)
def d09(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    cands = dedup.minhash_candidates(
        docs, id_col="doc_id", text_col="text",
        shingle_len=_SHINGLE_LEN, num_hashes=_NUM_HASHES, bands=_BANDS,
    )
    labels = dedup.connected_components(cands)
    kept = dedup.keep_best_per_component(
        docs, labels, "doc_id",
        score_col=text.token_count(F.col("text")).cast("bigint"),
        keep_score="score",
    )
    return (
        kept.select("source", "doc_id", "score")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("score").alias("tok_kept"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# d10 — Bloom-filter dedup prefilter: the constant-space membership
# screen a 100 TB incremental ingest runs BEFORE any join. The filter
# builds over the existing corpus's text digests (bit_or partial agg →
# num_bits/32 words total), ships as a plan literal, and the probe is
# a map-only projection. md5-derived bits make the filter — including
# its exact false-positive set — reproducible in DuckDB, so the oracle
# checks real numbers, not just bounds. No false negative is possible
# by construction; the query proves it anyway.
# --------------------------------------------------------------------

_D10_BITS = 16384
_D10_K = 3

D10_ORACLE = f"""
WITH corpus AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 = 0
),
pos AS (
  SELECT ({duck_md5_prefix_hash("j || '|' || h")} % {_D10_BITS}) AS p
  FROM corpus, UNNEST([0, 1, 2]) AS t(j)
),
bitmap AS (
  SELECT p // 32 AS word, bit_or(1::BIGINT << (p % 32)) AS bits
  FROM pos GROUP BY 1
),
new_docs AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 <> 0
),
probe AS (
  SELECT doc_id, h,
         ({duck_md5_prefix_hash("j || '|' || h")} % {_D10_BITS}) AS p
  FROM new_docs, UNNEST([0, 1, 2]) AS t(j)
),
hits AS (
  SELECT doc_id, h, COUNT(*) AS k_set
  FROM probe JOIN bitmap ON p // 32 = word
  WHERE ((bits >> (p % 32)) & 1) = 1
  GROUP BY doc_id, h
),
flagged AS (SELECT doc_id, h FROM hits WHERE k_set = {_D10_K}),
true_dup AS (
  SELECT n.doc_id FROM new_docs n JOIN corpus c ON n.h = c.h
)
SELECT (SELECT COUNT(*) FROM new_docs) AS n_new,
       (SELECT COUNT(*) FROM flagged) AS n_flagged,
       (SELECT COUNT(*) FROM true_dup) AS n_true_dup,
       (SELECT COUNT(*) FROM flagged f JOIN true_dup t ON f.doc_id = t.doc_id)
         = (SELECT COUNT(*) FROM true_dup) AS no_false_negatives
"""


@query("d10_bloom_prefilter", oracle=D10_ORACLE)
def d10(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    corpus = docs.where(F.col("doc_id") % 3 == 0).select(
        md5_hex(F.col("text")).alias("h")
    ).distinct()
    new_docs = docs.where(F.col("doc_id") % 3 != 0).select(
        "doc_id", md5_hex(F.col("text")).alias("h")
    )
    bitmap = dedup.bloom_build(
        corpus, F.col("h"), num_hashes=_D10_K, num_bits=_D10_BITS
    )
    words = dedup.bloom_dense_words(bitmap, _D10_BITS)
    flagged = new_docs.where(
        dedup.bloom_might_contain(
            F.col("h"), words, num_hashes=_D10_K, num_bits=_D10_BITS
        )
    )
    true_dup = new_docs.join(F.broadcast(corpus), "h", "semi")
    missed = true_dup.join(flagged.select("doc_id"), "doc_id", "anti")
    return (
        new_docs.agg(F.count(F.lit(1)).alias("n_new"))
        .crossJoin(flagged.agg(F.count(F.lit(1)).alias("n_flagged")))
        .crossJoin(true_dup.agg(F.count(F.lit(1)).alias("n_true_dup")))
        .crossJoin(
            missed.agg((F.count(F.lit(1)) == 0).alias("no_false_negatives"))
        )
    )


# --------------------------------------------------------------------
# t21 — cross-source near-dup overlap matrix: which sources copy from
# which (mirror detection / licensing forensics). Reuses the minhash
# candidate pairs; each pair maps to an unordered source pair. The
# per-pair source lookup joins the SMALL candidate table against the
# corpus id→source projection — ids and 8-byte digests shuffle, text
# never does.
# --------------------------------------------------------------------

T21_ORACLE = f"""
WITH {_d02_oracle()},
m AS (
  SELECT LEAST(da.source, db.source) AS source_a,
         GREATEST(da.source, db.source) AS source_b
  FROM cand
  JOIN documents da ON cand.id_a = da.doc_id
  JOIN documents db ON cand.id_b = db.doc_id
)
SELECT source_a, source_b, COUNT(*) AS n_pairs
FROM m GROUP BY source_a, source_b
ORDER BY source_a, source_b
"""


@query("t21_source_overlap", oracle=T21_ORACLE)
def t21(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    cands = dedup.minhash_candidates(
        docs, id_col="doc_id", text_col="text",
        shingle_len=_SHINGLE_LEN, num_hashes=_NUM_HASHES, bands=_BANDS,
    )
    src = docs.select("doc_id", "source")
    m = (
        cands.join(
            src.withColumnRenamed("doc_id", "id_a").withColumnRenamed("source", "_sa"),
            "id_a",
        )
        .join(
            src.withColumnRenamed("doc_id", "id_b").withColumnRenamed("source", "_sb"),
            "id_b",
        )
        .select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
    )
    return (
        m.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------
# t19 — duplicated-span REMOVAL (the scrub half of Lee et al. 2021;
# d08 is the detection half): tokens covered by any cross-document
# duplicated 5-gram are cut, and the per-source checksum of the
# CLEANED TEXT itself (md5-derived hash sum) proves both engines
# rebuilt identical strings — not just identical counts.
# --------------------------------------------------------------------

T19_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents
),
ex AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, len(toks) - {_D08_GRAM - 1})) AS pos
  FROM toks WHERE len(toks) >= {_D08_GRAM}
),
g AS (
  SELECT doc_id, pos,
         array_to_string(toks[pos:pos + {_D08_GRAM - 1}], ' ') AS gram
  FROM ex
),
dupg AS (
  SELECT gram FROM (
    SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY gram
  ) WHERE nd >= 2
),
starts AS (
  SELECT doc_id, list(pos ORDER BY pos) AS ss
  FROM g WHERE gram IN (SELECT gram FROM dupg)
  GROUP BY doc_id
),
cleaned AS (
  SELECT t.doc_id, t.source,
         -- array_to_string([]) is NULL in DuckDB; a fully-scrubbed
         -- doc must hash as the empty string, like Spark's concat_ws
         coalesce(array_to_string(
           list_filter(t.toks, (x, i) ->
             len(list_filter(coalesce(s.ss, []), p ->
               p <= i AND i < p + {_D08_GRAM})) = 0), ' '), '') AS ctext
  FROM toks t LEFT JOIN starts s ON t.doc_id = s.doc_id
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(list_filter(regexp_split_to_array(ctext, ' '), x -> x <> '')))
            AS BIGINT) AS kept_tokens,
       CAST(SUM({duck_md5_prefix_hash("ctext")}) AS BIGINT) AS text_checksum
FROM cleaned GROUP BY source ORDER BY source
"""


@query("t19_span_scrub", oracle=T19_ORACLE)
def t19(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    scrubbed = dedup.scrub_duplicated_spans(
        spark.table("documents"), "doc_id", "text", gram_len=_D08_GRAM,
        min_docs=2, out_col="ctext",
    )
    kept = F.size(
        F.filter(F.split(F.col("ctext"), " "), lambda t: t != "")
    ).cast("bigint")
    return (
        scrubbed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept).alias("kept_tokens"),
            F.sum(md5_prefix_hash(F.col("ctext"))).alias("text_checksum"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# m06 — cross-video duplicate-frame detection: frame sampling (the
# 1→N Arrow mapInPandas) composed with digest dedup. Mirrored videos
# share every frame digest; partial mirrors share some. Only 32-char
# digests + ids shuffle — frames (at scale, real JPEG bytes) never
# leave the map stage. Oracle regenerates the stub frames and the
# same >= 2-distinct-video digest rule.
# --------------------------------------------------------------------

M06_ORACLE = """
WITH vids AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT -(doc_id + 1), 'mirror', text
  FROM documents WHERE doc_id % 7 = 0
),
d AS (
  SELECT doc_id, source, text,
         GREATEST(1, (strlen(text) // 10) % 8) AS n_frames
  FROM vids
),
frames AS (
  SELECT doc_id, source,
         md5(text || unnest(generate_series(0, n_frames - 1))::VARCHAR)
           AS frame_digest
  FROM d
),
dup AS (
  SELECT frame_digest FROM (
    SELECT frame_digest, COUNT(DISTINCT doc_id) AS nd
    FROM frames GROUP BY frame_digest
  ) WHERE nd >= 2
)
SELECT f.source,
       COUNT(*) AS n_dup_frames,
       COUNT(DISTINCT f.doc_id) AS n_videos_with_dup
FROM frames f JOIN dup USING (frame_digest)
GROUP BY f.source ORDER BY f.source
"""


@query("m06_frame_dedup", oracle=M06_ORACLE)
def m06(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators import multimodal

    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    # simulate a partial mirror: every 7th video re-uploaded verbatim
    vids = docs.select("doc_id", "source", "text").unionAll(
        docs.where(F.col("doc_id") % 7 == 0).select(
            (-(F.col("doc_id") + F.lit(1))).alias("doc_id"),
            F.lit("mirror").alias("source"),
            "text",
        )
    )
    payloads = vids.select(
        "doc_id", "source", F.col("text").cast("binary").alias("value")
    )
    frames = multimodal.sample_frames_stub(
        payloads, binary_col="value", every_n=10
    ).select("doc_id", "source", "frame_digest")
    dup = (
        frames.select("frame_digest", "doc_id")
        .distinct()
        .groupBy("frame_digest")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .where(F.col("_nd") >= 2)
        .select("frame_digest")
    )
    return (
        frames.join(dup, "frame_digest", "left_semi")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_dup_frames"),
            F.countDistinct("doc_id").alias("n_videos_with_dup"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# t22 — inverted-index build (token -> df + capped posting list), the
# starting artifact of retrieval / decontamination pipelines. One
# window shuffle; posting lists are capped BEFORE materialization so a
# stopword in 10^9 documents never builds a 10^9-element list.
# --------------------------------------------------------------------

T22_ORACLE = f"""
WITH occ AS (
  SELECT doc_id, unnest(list_distinct({_DUCK_TOKS})) AS tok FROM documents
),
r AS (
  SELECT tok, doc_id,
         COUNT(*) OVER (PARTITION BY tok) AS df,
         ROW_NUMBER() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
  FROM occ
)
SELECT tok, df, list_sort(list(doc_id)) AS postings
FROM r WHERE rn <= 5 GROUP BY tok, df ORDER BY tok
"""


@query("t22_inverted_index", oracle=T22_ORACLE)
def t22(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    idx = text.inverted_index(
        spark.table("documents"), "doc_id", "text", top_postings=5
    )
    return idx.orderBy("tok")


# --------------------------------------------------------------------
# t23 — bigram collocation lift (integer-exact observed/expected in
# ppm): the corpus statistic tokenizer/vocab builders rank merge
# candidates by. Bigram + unigram models are two partial-aggregated
# counts; the vocabulary-sized unigram model broadcasts into the
# bigram table.
# --------------------------------------------------------------------

T23_ORACLE = f"""
WITH toks AS (SELECT {_DUCK_TOKS} AS toks FROM documents),
ex AS (
  SELECT toks, unnest(generate_series(1, len(toks)-1)) AS i
  FROM toks WHERE len(toks) >= 2
),
big AS (
  SELECT toks[i] AS w1, toks[i+1] AS w2, COUNT(*) AS n_ab
  FROM ex GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
uni AS (SELECT unnest(toks) AS tok FROM toks),
u AS (SELECT tok, COUNT(*) AS n FROM uni GROUP BY tok),
tot AS (SELECT COUNT(*) AS total FROM uni)
SELECT w1, w2, n_ab,
       CAST(n_ab * (SELECT total FROM tot) * 1000000 // (a.n * b.n) AS BIGINT)
         AS lift_ppm
FROM big JOIN u a ON w1 = a.tok JOIN u b ON w2 = b.tok
ORDER BY lift_ppm DESC, w1, w2 LIMIT 15
"""


@query("t23_bigram_lift", oracle=T23_ORACLE)
def t23(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    lifted = text.bigram_lift(
        spark.table("documents"), "doc_id", "text", min_count=2
    )
    return lifted.orderBy(F.desc("lift_ppm"), "w1", "w2").limit(15)


# --------------------------------------------------------------------
# d11 — passage-level exact dedup (non-overlapping 20-token chunks,
# global keep-first): the C4/RefinedWeb dedup granularity between
# whole-document hashing (d01) and span detection (d08). Only 8-byte
# digests + one BIGINT order key shuffle.
# --------------------------------------------------------------------

_D11_LEN = 20

D11_ORACLE = f"""
WITH toks AS (SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents),
ch AS (
  SELECT doc_id, source, toks,
         unnest(generate_series(0, CAST(ceil(len(toks)/{_D11_LEN}.0) AS INT)-1))
           AS idx
  FROM toks WHERE len(toks) > 0
),
p AS (
  SELECT doc_id, source, idx,
         array_to_string(toks[idx*{_D11_LEN}+1:idx*{_D11_LEN}+{_D11_LEN}], ' ')
           AS passage
  FROM ch
),
o AS (
  SELECT doc_id, source, idx,
         {duck_md5_prefix_hash("passage", 15)} AS dg,
         len(list_filter(regexp_split_to_array(passage, ' '), x -> x <> ''))
           AS ctoks
  FROM p
),
w AS (SELECT dg, MIN(doc_id * 1048576 + idx) AS win FROM o GROUP BY dg)
SELECT source, COUNT(*) AS n_passages,
       CAST(SUM(CASE WHEN doc_id*1048576+idx = win THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN doc_id*1048576+idx = win THEN ctoks ELSE 0 END) AS BIGINT)
         AS kept_tokens
FROM o JOIN w USING (dg) GROUP BY source ORDER BY source
"""


@query("d11_passage_dedup", oracle=D11_ORACLE)
def d11(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    stats = dedup.passage_dedup(docs, "doc_id", "text", passage_len=_D11_LEN)
    return (
        stats.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.sum("n_passages").alias("n_passages"),
            F.sum("n_kept").alias("n_kept"),
            F.sum("kept_tokens").alias("kept_tokens"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# m07 — scene-change detection over sampled video frames: per-frame
# luma proxy (md5-derived, deterministic stub for a real decoder's
# mean luminance) diffed against the previous frame per video; a jump
# > 64 opens a new scene. The frame window repartitions by video id —
# frames of one video meet on one executor, frame BYTES never shuffle
# (only digests + ints do).
# --------------------------------------------------------------------

M07_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source, text,
         GREATEST(1, (strlen(text) // 10) % 8) AS n_frames
  FROM documents
),
frames AS (
  SELECT doc_id, source,
         unnest(generate_series(0, n_frames - 1)) AS frame_index,
         md5(text || unnest(generate_series(0, n_frames - 1))::VARCHAR)
           AS frame_digest
  FROM d
),
luma AS (
  SELECT doc_id, source, frame_index,
         {duck_md5_prefix_hash("frame_digest")} % 256 AS luma
  FROM frames
),
sc AS (
  SELECT doc_id, source, luma,
         LAG(luma) OVER (PARTITION BY doc_id ORDER BY frame_index) AS prev
  FROM luma
)
SELECT source, COUNT(DISTINCT doc_id) AS n_videos, COUNT(*) AS n_frames,
       CAST(SUM(CASE WHEN prev IS NULL OR abs(luma - prev) > 64 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_scenes
FROM sc GROUP BY source ORDER BY source
"""


@query("m07_scene_change", oracle=M07_ORACLE)
def m07(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from arc_jupyter_spark.operators import multimodal

    load_views(spark, sf_dir, "documents")
    payloads = spark.table("documents").select(
        "doc_id", "source", F.col("text").cast("binary").alias("value")
    )
    frames = multimodal.sample_frames_stub(
        payloads, binary_col="value", every_n=10
    ).select("doc_id", "source", "frame_index", "frame_digest")
    luma = frames.withColumn(
        "luma", md5_prefix_hash(F.col("frame_digest")) % 256
    )
    w = Window.partitionBy("doc_id").orderBy("frame_index")
    prev = F.lag("luma").over(w)
    is_cut = F.when(
        prev.isNull() | (F.abs(F.col("luma") - prev) > 64), 1
    ).otherwise(0)
    return (
        luma.withColumn("_cut", is_cut)
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_videos"),
            F.count(F.lit(1)).alias("n_frames"),
            F.sum("_cut").alias("n_scenes"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# t24 — fuzzy entity matching (edit distance <= 2 between distinct
# part names) under LOSSLESS length-band blocking: bands of
# width 3 joined to self and successor cover every |len diff| <= 2
# pair; no prefix heuristic (which would drop "cold anvil" ~
# "old anvil"). The oracle brute-forces all pairs — at oracle scale
# that is fine, and it proves the banded plan loses nothing.
# --------------------------------------------------------------------

T24_ORACLE = """
WITH names AS (SELECT DISTINCT p_name FROM part)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name) AS dist
FROM names a JOIN names b ON a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 2
ORDER BY name_a, name_b
"""


@query("t24_fuzzy_match", oracle=T24_ORACLE)
def t24(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "part")
    pairs = dedup.fuzzy_pairs(
        spark.table("part"), "p_name", max_dist=2, band_width=3
    )
    return pairs.orderBy("name_a", "name_b")


# --------------------------------------------------------------------
# t25 — count-min sketch build + probe, engine-exact: token
# frequencies compressed into a (4 x 1024) mergeable table, every
# vocabulary token probed back, overcount = estimate - exact (>= 0
# always; the sketch bound, checked bit-for-bit because the hash
# family is portable md5 arithmetic).
# --------------------------------------------------------------------

_T25_DEPTH, _T25_WIDTH = 4, 1024

T25_ORACLE = f"""
WITH occ AS (SELECT unnest({_DUCK_TOKS}) AS tok FROM documents),
tc AS (SELECT tok, COUNT(*) AS exact_n FROM occ GROUP BY tok),
{_duck_count_min("tok", _T25_DEPTH, _T25_WIDTH)}
SELECT tok, exact_n, CAST(estimate AS BIGINT) AS estimate,
       CAST(estimate - exact_n AS BIGINT) AS overcount
FROM est ORDER BY exact_n DESC, tok LIMIT 20
"""


@query("t25_count_min", oracle=T25_ORACLE)
def t25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators import sketch

    load_views(spark, sf_dir, "documents")
    occ = spark.table("documents").select(
        F.explode(text.tokens(F.col("text"))).alias("tok")
    )
    cms = sketch.count_min_build(
        occ, "tok", depth=_T25_DEPTH, width=_T25_WIDTH
    )
    exact = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_n"))
    est = sketch.count_min_estimate(
        cms, exact.select("tok"), "tok", depth=_T25_DEPTH, width=_T25_WIDTH
    )
    return (
        exact.join(est, "tok")
        .select(
            "tok",
            "exact_n",
            F.col("estimate").cast("bigint").alias("estimate"),
            (F.col("estimate") - F.col("exact_n")).cast("bigint").alias("overcount"),
        )
        .orderBy(F.desc("exact_n"), "tok")
        .limit(20)
    )


# --------------------------------------------------------------------
# t26 — bigram-LM surprisal ranking (the bigram refinement of t14's
# unigram rarity): transition-level "perplexity" with integer-exact
# charges; both LM tables broadcast, the corpus shuffles once.
# --------------------------------------------------------------------

T26_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
ex AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks)-1)) AS i
  FROM toks WHERE len(toks) >= 2
),
occ AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2 FROM ex),
bm AS (SELECT w1, w2, COUNT(*) AS nab FROM occ GROUP BY w1, w2),
um AS (
  SELECT w1, COUNT(*) AS na
  FROM (SELECT unnest(toks) AS w1 FROM toks) GROUP BY w1
),
scored AS (
  SELECT o.doc_id, SUM(u.na // b.nab) AS sum_surprisal, COUNT(*) AS n_bigrams
  FROM occ o JOIN bm b ON o.w1 = b.w1 AND o.w2 = b.w2
  JOIN um u ON o.w1 = u.w1
  GROUP BY o.doc_id
)
SELECT doc_id, CAST(sum_surprisal AS BIGINT) AS sum_surprisal, n_bigrams
FROM scored
ORDER BY CAST(sum_surprisal AS DOUBLE) / n_bigrams DESC, doc_id
LIMIT 20
"""


@query("t26_bigram_surprisal", oracle=T26_ORACLE)
def t26(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    scored = text.bigram_surprisal(
        dedup._parallelize(spark.table("documents")), "doc_id", "text"
    )
    return scored.orderBy(
        (F.col("sum_surprisal").cast("double") / F.col("n_bigrams")).desc(),
        "doc_id",
    ).limit(20)


# --------------------------------------------------------------------
# d12 — MinHash Jaccard ESTIMATION vs exact (the estimation half of
# the MinHash contract; d02 only generates candidates): for every LSH
# candidate pair, the signature-agreement count (x/16) next to the
# exact shingle-set Jaccard ingredients — sketch accuracy measured
# bit-for-bit, both engines computing the identical md5 hash family.
# --------------------------------------------------------------------


def _d12_oracle() -> str:
    n_match = " + ".join(
        f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)"
        for i in range(_NUM_HASHES)
    )
    return f"""WITH {_d02_oracle()},
shs AS (
  SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh
),
shd AS (
  SELECT doc_id, {duck_md5_prefix_hash("s")} AS sd FROM shs
),
sizes AS (SELECT doc_id, COUNT(DISTINCT sd) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS ni
  FROM cand c
  JOIN shd a ON a.doc_id = c.id_a
  JOIN shd b ON b.doc_id = c.id_b AND a.sd = b.sd
  GROUP BY c.id_a, c.id_b
)
SELECT c.id_a, c.id_b, {n_match} AS n_match,
       COALESCE(i.ni, 0) AS n_inter,
       za.n AS size_a, zb.n AS size_b
FROM cand c
JOIN sigs sa ON sa.doc_id = c.id_a
JOIN sigs sb ON sb.doc_id = c.id_b
LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
JOIN sizes za ON za.doc_id = c.id_a
JOIN sizes zb ON zb.doc_id = c.id_b
ORDER BY c.id_a, c.id_b"""


@query("d12_minhash_estimate", oracle=_d12_oracle())
def d12(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    sigs = dedup.minhash_signature_table(
        docs, "doc_id", "text", shingle_len=_SHINGLE_LEN, num_hashes=_NUM_HASHES
    )
    # reuse the signature table for banding — one shingling pass, not two
    cands = dedup.minhash_candidates(
        docs,
        id_col="doc_id",
        text_col="text",
        shingle_len=_SHINGLE_LEN,
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        sigs=sigs,
    )
    sa = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"_s{i}").alias(f"_a{i}") for i in range(_NUM_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"_s{i}").alias(f"_b{i}") for i in range(_NUM_HASHES)],
    )
    n_match = sum(
        F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0)
        for i in range(_NUM_HASHES)
    )
    # exact shingle-set sizes and intersections, digests only on the wire
    shd = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(dedup.word_shingles(F.col("text"), _SHINGLE_LEN))
        ).alias("_s"),
    ).select("doc_id", md5_prefix_hash(F.col("_s")).alias("_sd"))
    sizes = shd.groupBy("doc_id").agg(F.countDistinct("_sd").alias("n"))
    inter = (
        cands.join(
            shd.select(F.col("doc_id").alias("id_a"), F.col("_sd").alias("_sa")),
            "id_a",
        )
        .join(
            shd.select(F.col("doc_id").alias("_idb"), F.col("_sd").alias("_sb")),
            (F.col("id_b") == F.col("_idb")) & (F.col("_sa") == F.col("_sb")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .join(inter, ["id_a", "id_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("size_a")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("size_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            n_match.alias("n_match"),
            F.coalesce(F.col("ni"), F.lit(0)).alias("n_inter"),
            "size_a",
            "size_b",
        )
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------
# t27 — PII scan + scrub: deterministic emails/phones/IPs are
# injected into a slice of the corpus (the fixtures carry none), the
# scanner counts each shape, the scrubber replaces them, and the
# scrubbed-text checksum proves both engines rebuilt identical
# strings. Pure regexp projections — map-side, no UDF; the Java and
# RE2 pattern subset is deliberately shared.
# --------------------------------------------------------------------

T27_ORACLE = rf"""
WITH injected AS (
  SELECT doc_id, source,
         text ||
         CASE WHEN doc_id % 5 = 0
              THEN ' contact user' || doc_id || '@example.com now' ELSE '' END ||
         CASE WHEN doc_id % 7 = 0
              THEN ' call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END ||
         CASE WHEN doc_id % 11 = 0
              THEN ' from 10.0.' || (doc_id % 256)::VARCHAR || '.1' ELSE '' END
           AS text
  FROM documents
),
scanned AS (
  SELECT doc_id, source,
         len(regexp_extract_all(text, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{{2,}}')) AS n_email,
         len(regexp_extract_all(text, '\b[0-9]{{3}}-[0-9]{{4}}\b')) AS n_phone,
         len(regexp_extract_all(text, '\b[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}\b')) AS n_ipv4,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{{2,}}', '[PII]', 'g'),
             '\b[0-9]{{3}}-[0-9]{{4}}\b', '[PII]', 'g'),
           '\b[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}\b', '[PII]', 'g') AS clean
  FROM injected
)
SELECT source,
       CAST(SUM(n_email) AS BIGINT) AS n_email,
       CAST(SUM(n_phone) AS BIGINT) AS n_phone,
       CAST(SUM(n_ipv4) AS BIGINT) AS n_ipv4,
       CAST(SUM(CASE WHEN n_email + n_phone + n_ipv4 > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_with_pii,
       CAST(SUM({duck_md5_prefix_hash("clean")}) AS BIGINT) AS clean_checksum
FROM scanned GROUP BY source ORDER BY source
"""


@query("t27_pii_scrub", oracle=T27_ORACLE)
def t27(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    injected = spark.table("documents").select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com now")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" call 555-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".1")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    scanned = injected.select(
        "source",
        text.pii_count(F.col("text"), "email").alias("n_email"),
        text.pii_count(F.col("text"), "phone").alias("n_phone"),
        text.pii_count(F.col("text"), "ipv4").alias("n_ipv4"),
        text.pii_scrub(F.col("text")).alias("clean"),
    )
    return (
        scanned.groupBy("source")
        .agg(
            F.sum("n_email").cast("bigint").alias("n_email"),
            F.sum("n_phone").cast("bigint").alias("n_phone"),
            F.sum("n_ipv4").cast("bigint").alias("n_ipv4"),
            F.sum(
                F.when(
                    F.col("n_email") + F.col("n_phone") + F.col("n_ipv4") > 0, 1
                ).otherwise(0)
            ).cast("bigint").alias("n_docs_with_pii"),
            F.sum(md5_prefix_hash(F.col("clean"))).alias("clean_checksum"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# p04 — privacy pipeline composed as ONE lazy plan: inject the t27
# PII fixtures -> scrub -> exact dedup on the SCRUBBED digest (two
# docs that differed only in PII collapse after scrubbing — dedup
# must run post-scrub, the ordering bugs real pipelines hit) ->
# length gate -> deterministic md5 shard layout. Per-shard stats +
# scrubbed-text checksum; one document-scale shuffle (the dedup
# min), everything before it map-side.
# --------------------------------------------------------------------

_P04_SHARDS = 8
_P04_MIN_TOKENS = 20

P04_ORACLE = rf"""
WITH injected AS (
  SELECT doc_id, source,
         text ||
         CASE WHEN doc_id % 5 = 0
              THEN ' contact user' || doc_id || '@example.com now' ELSE '' END ||
         CASE WHEN doc_id % 7 = 0
              THEN ' call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
           AS text
  FROM documents
),
scrubbed AS (
  SELECT doc_id, source,
         regexp_replace(
           regexp_replace(text, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{{2,}}', '[PII]', 'g'),
           '\b[0-9]{{3}}-[0-9]{{4}}\b', '[PII]', 'g') AS clean
  FROM injected
),
keep AS (
  SELECT doc_id, source, clean,
         ROW_NUMBER() OVER (PARTITION BY md5(clean) ORDER BY doc_id) AS rn
  FROM scrubbed
),
gated AS (
  SELECT doc_id, source, clean,
         len({_duck_tokens("clean")}) AS n_toks
  FROM keep WHERE rn = 1
),
final AS (
  SELECT {duck_md5_prefix_hash("CAST(doc_id AS VARCHAR)")}
           % {_P04_SHARDS} AS shard,
         doc_id, n_toks, clean
  FROM gated WHERE n_toks >= {_P04_MIN_TOKENS}
)
SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS tok_sum,
       CAST(SUM({duck_md5_prefix_hash("clean")}) AS BIGINT) AS clean_checksum
FROM final GROUP BY shard ORDER BY shard
"""


def p04_stage_frames(
    spark: SparkSession, sf_dir: str
) -> dict[str, DataFrame]:
    """p04's composed stages in dependency order: ``scrub`` (PII
    inject + regex scrub, map-only) → ``exact`` (dedup on the
    SCRUBBED digest) → ``shard`` (token gate + md5 shard layout).
    Shared by the p04 query and bench.py's per-pipeline breakdown
    (VERDICT r7 item 2)."""
    load_views(spark, sf_dir, "documents")
    injected = spark.table("documents").select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    scrubbed = injected.select(
        "doc_id",
        "source",
        F.regexp_replace(
            F.regexp_replace(
                F.col("text"), text.PII_PATTERNS["email"], "[PII]"
            ),
            text.PII_PATTERNS["phone"],
            "[PII]",
        ).alias("clean"),
    )
    kept = dedup.exact_dedup_by_digest(
        scrubbed.withColumnRenamed("clean", "text"), "text", "doc_id"
    ).withColumnRenamed("text", "clean")
    gated = kept.select(
        "doc_id",
        "clean",
        F.size(text.tokens(F.col("clean"))).cast("bigint").alias("n_toks"),
    ).where(F.col("n_toks") >= _P04_MIN_TOKENS)
    final = gated.select(
        (md5_prefix_hash(F.col("doc_id").cast("string")) % _P04_SHARDS).alias(
            "shard"
        ),
        "n_toks",
        "clean",
    )
    return {"scrub": scrubbed, "exact": kept, "shard": final}


@query("p04_privacy_pipeline", oracle=P04_ORACLE)
def p04(spark: SparkSession, sf_dir: str) -> DataFrame:
    final = p04_stage_frames(spark, sf_dir)["shard"]
    return (
        final.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("tok_sum"),
            F.sum(md5_prefix_hash(F.col("clean"))).alias("clean_checksum"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------
# t28 — dataset card: the release-summary table every corpus ships
# with (counts, token totals, length quantiles, language mix, exact
# dup rate) computed in ONE pass + one tiny distinct-digest agg.
# Quantiles are exact integers (percentile_disc-style pick via
# sort-free min/max + grouped counts are avoided — the per-language
# row keeps it aggregation-shaped).
# --------------------------------------------------------------------

T28_ORACLE = f"""
WITH d AS (
  SELECT lang,
         len({_DUCK_TOKS}) AS n_toks,
         md5(text) AS dg
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       MIN(n_toks) AS min_tokens,
       MAX(n_toks) AS max_tokens,
       COUNT(DISTINCT dg) AS n_unique,
       COUNT(*) - COUNT(DISTINCT dg) AS n_exact_dups
FROM d GROUP BY lang ORDER BY lang
"""


@query("t28_dataset_card", oracle=T28_ORACLE)
def t28(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    d = spark.table("documents").select(
        "lang",
        F.size(text.tokens(F.col("text"))).cast("bigint").alias("n_toks"),
        md5_hex(F.col("text").cast("binary")).alias("dg"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            F.min("n_toks").alias("min_tokens"),
            F.max("n_toks").alias("max_tokens"),
            F.countDistinct("dg").alias("n_unique"),
            (F.count(F.lit(1)) - F.countDistinct("dg")).alias("n_exact_dups"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------
# d13 — crawl snapshot diff: the incremental-ingest primitive. A
# second snapshot is derived deterministically (every 4th doc edited,
# every 9th dropped, mirrored adds), then one full-outer join on the
# id with digest compare classifies added / deleted / changed /
# unchanged. Only (id, 16-byte digest) pairs shuffle — snapshot TEXT
# never does; at 100 TB both sides are digest manifests.
# --------------------------------------------------------------------

D13_ORACLE = """
WITH a AS (SELECT doc_id, md5(text) AS dg FROM documents),
b_src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN text || ' edited' ELSE text END AS text
  FROM documents WHERE doc_id % 9 <> 0
),
b AS (
  SELECT doc_id, md5(text) AS dg FROM b_src
  UNION ALL
  SELECT doc_id + 5000000, md5(text || ' new') AS dg
  FROM documents WHERE doc_id % 13 = 0
),
j AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         CASE WHEN a.doc_id IS NULL THEN 'added'
              WHEN b.doc_id IS NULL THEN 'deleted'
              WHEN a.dg <> b.dg THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
)
SELECT status, COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM j GROUP BY status ORDER BY status
"""


@query("d13_snapshot_diff", oracle=D13_ORACLE)
def d13(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    a = docs.select("doc_id", md5_hex(F.col("text").cast("binary")).alias("dg"))
    b_src = docs.where(F.col("doc_id") % 9 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0, F.concat(F.col("text"), F.lit(" edited"))
        ).otherwise(F.col("text")).alias("text"),
    )
    b = b_src.select(
        "doc_id", md5_hex(F.col("text").cast("binary")).alias("dg")
    ).unionAll(
        docs.where(F.col("doc_id") % 13 == 0).select(
            (F.col("doc_id") + 5000000).alias("doc_id"),
            md5_hex(F.concat(F.col("text"), F.lit(" new")).cast("binary")).alias("dg"),
        )
    )
    j = a.alias("a").join(
        b.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    ).select(
        F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "deleted")
        .when(F.col("a.dg") != F.col("b.dg"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return (
        j.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("status")
    )


# --------------------------------------------------------------------
# g01 — link-graph PageRank over the customer↔supplier trade graph
# (integer fixed-point, 3 iterations; operators/graph.py). The crawl
# curation primitive: rank pages by link structure before text gates.
# Oracle: the same three iterations unrolled as CTEs — every step is
# BIGINT arithmetic, so the match is bit-exact by construction.
# --------------------------------------------------------------------

G01_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT o_custkey AS c, -(l_suppkey + 1) AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
e AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION
  SELECT s AS src, c AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e),
nn AS (SELECT COUNT(*) AS n FROM nodes),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
r0 AS (SELECT node, 1000000000 // n AS r FROM nodes, nn),
s1 AS (SELECT e.dst AS node, SUM(r0.r // deg.deg) AS s
       FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
       GROUP BY e.dst),
r1 AS (SELECT nodes.node, (150000000 // n) + (85 * COALESCE(s1.s, 0)) // 100 AS r
       FROM nodes CROSS JOIN nn LEFT JOIN s1 ON nodes.node = s1.node),
s2 AS (SELECT e.dst AS node, SUM(r1.r // deg.deg) AS s
       FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
       GROUP BY e.dst),
r2 AS (SELECT nodes.node, (150000000 // n) + (85 * COALESCE(s2.s, 0)) // 100 AS r
       FROM nodes CROSS JOIN nn LEFT JOIN s2 ON nodes.node = s2.node),
s3 AS (SELECT e.dst AS node, SUM(r2.r // deg.deg) AS s
       FROM e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src
       GROUP BY e.dst),
r3 AS (SELECT nodes.node, (150000000 // n) + (85 * COALESCE(s3.s, 0)) // 100 AS r
       FROM nodes CROSS JOIN nn LEFT JOIN s3 ON nodes.node = s3.node)
SELECT node, CAST(r AS BIGINT) AS rank_e9
FROM r3 ORDER BY r DESC, node LIMIT 20
"""


@query("g01_pagerank", oracle=G01_ORACLE)
def g01(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "orders", "lineitem")
    pairs = spark.sql(
        """SELECT DISTINCT o_custkey AS c, -(l_suppkey + 1) AS s
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey"""
    ).transform(materialize_lazy)  # both union directions read ONE
    # materialization of the join+DISTINCT (measured 3.3s -> 2.1s at
    # sf0.1: the edge build, not the rank loop, was the g01 floor)
    edges = pairs.selectExpr("c AS src", "s AS dst").unionAll(
        pairs.selectExpr("s AS src", "c AS dst")
    )
    # both orientations of a DISTINCT bipartite pair set are
    # disjoint, so the union is distinct by construction — skip
    # the operator's edge-dedup shuffle
    ranks = graph.pagerank(edges, iterations=3, assume_distinct=True)
    return (
        ranks.orderBy(F.desc("rank_e9"), "node")
        .limit(20)
        .select("node", "rank_e9")
    )


# --------------------------------------------------------------------
# p05 — leakage-safe train/val/test split: near-dup clusters (minhash
# → connected components) are assigned to a split AS A UNIT, so no
# near-duplicate pair straddles train and eval — the split every
# pretraining pipeline should use instead of per-document hashing.
# Split is content-hash keyed off the cluster representative
# (md5-derived, engine-portable); 80/10/10 via bucket thresholds.
# --------------------------------------------------------------------

_P05_TRAIN = 3277   # floor(0.8 * 4096)
_P05_VAL = 3687     # floor(0.9 * 4096)

P05_ORACLE = f"""
WITH RECURSIVE {_d02_oracle()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM cand
),
reach(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
labels AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node),
rep AS (
  SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS rep
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.node
),
bucketed AS (
  SELECT doc_id, rep,
         {duck_md5_prefix_hash("CAST(rep AS VARCHAR)")} % 4096 AS b
  FROM rep
)
SELECT CASE WHEN b < {_P05_TRAIN} THEN 'train'
            WHEN b < {_P05_VAL} THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT rep) AS n_clusters
FROM bucketed GROUP BY 1 ORDER BY split
"""


@query("p05_split_leakage_safe", oracle=P05_ORACLE)
def p05(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    cands = dedup.minhash_candidates(
        docs, id_col="doc_id", text_col="text",
        shingle_len=_SHINGLE_LEN, num_hashes=_NUM_HASHES, bands=_BANDS,
    )
    labels = dedup.connected_components(cands)
    rep = (
        docs.join(labels, docs.doc_id == labels.node, "left")
        .select("doc_id", F.coalesce("label", "doc_id").alias("rep"))
    )
    b = sampling.sample_bucket(F.col("rep"))
    split = (
        F.when(b < _P05_TRAIN, "train")
        .when(b < _P05_VAL, "val")
        .otherwise("test")
    )
    return (
        rep.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("rep").alias("n_clusters"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------
# t29 — deterministic weighted sampling (priority sampling): keep the
# 50 documents with smallest hash/weight priority; weight = n_chars,
# so selection probability grows with document length, yet the sample
# is exactly reproducible (integer priorities, no RNG, no libm).
# --------------------------------------------------------------------

T29_ORACLE = f"""
WITH p AS (
  SELECT doc_id, n_chars,
         CASE WHEN n_chars > 0 THEN
           (1000000 * ({duck_md5_prefix_hash("CAST(doc_id AS VARCHAR)")})) // n_chars
         ELSE 9223372036854775807 END AS priority
  FROM documents
)
SELECT doc_id, n_chars, priority FROM p ORDER BY priority, doc_id LIMIT 50
"""


@query("t29_weighted_sample", oracle=T29_ORACLE)
def t29(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    picked = sampling.priority_sample(
        spark.table("documents"), key_col="doc_id", weight_col="n_chars", k=50
    )
    return picked.select("doc_id", "n_chars", "priority")


# --------------------------------------------------------------------
# s08 — int8-quantized top-k retrieval: corpus and query vectors are
# absmax-quantized to int8 (4x scan I/O reduction — what an actual
# 100 TB embedding store serves), scored with an exact integer dot
# product. Integer scores → engine-exact ranking; the oracle applies
# the identical quantization formula (IEEE mult/div + FLOOR, no libm).
# --------------------------------------------------------------------

S08_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
m AS (
  SELECT vec_id, v,
         GREATEST(list_max(list_transform(v, x -> abs(x))), 1e-300) AS am
  FROM e
),
qv AS (SELECT v, am FROM m WHERE vec_id = 0),
qq AS (
  SELECT list_transform(v, x -> FLOOR(x * 127 / am + 0.5)) AS q FROM qv
),
cq AS (
  SELECT vec_id, list_transform(v, x -> FLOOR(x * 127 / am + 0.5)) AS c FROM m
)
SELECT vec_id,
       CAST(list_dot_product(c, q) AS BIGINT) AS qdot
FROM cq, qq
ORDER BY qdot DESC, vec_id
LIMIT 10
"""


@query("s08_quantized_topk", oracle=S08_ORACLE)
def s08(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    return similarity.quantized_topk(
        emb, qvec, k=10, id_col="vec_id", vec_col="embedding"
    )


# --------------------------------------------------------------------
# t30 — sharded HLL distinct count with algebraic merge: sketches
# shuffle, raw keys don't (the scale path for COUNT DISTINCT). HLL
# registers are per-key maxima, so for a fixed input set the estimate
# is deterministic and shard-merge == whole-corpus sketch; the oracle
# checks the exact count plus both contracts (the q47/s02 tolerance-
# contract pattern — sketch internals aren't SQL-portable, the
# invariants are).
# --------------------------------------------------------------------

T30_ORACLE = """
SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS merge_within_2pct,
       TRUE AS within_5pct
FROM events
"""


@query("t30_hll_shards", oracle=T30_ORACLE)
def t30(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators.sketch import hll_shard_estimate

    load_views(spark, sf_dir, "events")
    est = hll_shard_estimate(spark.table("events"), "user_id", num_shards=8)
    # both contracts are tolerances: DataSketches HLL's HIP
    # accumulator makes estimates shift a hair with partition layout,
    # so equality would be driver-vs-local flaky (round-1 lesson)
    return est.select(
        "n_exact",
        (
            F.abs(F.col("n_merged_estimate") - F.col("n_full_estimate"))
            <= F.col("n_exact") * 0.02
        ).alias("merge_within_2pct"),
        (
            (F.col("n_merged_estimate") >= F.col("n_exact") * 0.95)
            & (F.col("n_merged_estimate") <= F.col("n_exact") * 1.05)
        ).alias("within_5pct"),
    )


# --------------------------------------------------------------------
# t31 — domain blocklist gate: synthesize a deterministic URL per
# document (host derives from source + doc_id), drop documents whose
# host is on or under a blocked registrable domain (suffix match at a
# label boundary — blocking example.com also blocks sub.example.com).
# Pure string predicates, map-side, engine-exact.
# --------------------------------------------------------------------

_T31_BLOCKED = ("spam-mill.com", "content-farm.net")

_T31_URL = (
    "'https://' || CASE WHEN doc_id % 7 = 0 THEN 'a' || CAST(doc_id % 3 AS VARCHAR) || '.spam-mill.com' "
    "WHEN doc_id % 7 = 1 THEN 'spam-mill.com' "
    "WHEN doc_id % 7 = 2 THEN 'content-farm.net' "
    "WHEN doc_id % 7 = 3 THEN 'notspam-mill.com' "
    "ELSE source || '.example.org' END || '/doc/' || CAST(doc_id AS VARCHAR)"
)

T31_ORACLE = f"""
WITH u AS (
  SELECT doc_id, source, {_T31_URL} AS url FROM documents
),
h AS (
  SELECT doc_id, source, url,
         lower(regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1)) AS host
  FROM u
),
kept AS (
  SELECT * FROM h
  WHERE NOT (host = 'spam-mill.com' OR host LIKE '%.spam-mill.com'
             OR host = 'content-farm.net' OR host LIKE '%.content-farm.net')
)
SELECT source, COUNT(*) AS n_kept, MIN(doc_id) AS min_id,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM kept GROUP BY source ORDER BY source
"""


@query("t31_domain_blocklist", oracle=T31_ORACLE)
def t31(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    # Spark and DuckDB share the URL-synthesis SQL fragment verbatim
    # (both dialects parse it identically)
    spark_url = _T31_URL.replace("VARCHAR", "STRING")
    docs = spark.table("documents").selectExpr(
        "doc_id", "source", f"{spark_url} AS url"
    )
    kept = text.domain_block_filter(docs, "url", list(_T31_BLOCKED))
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("doc_id").alias("min_id"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# d15 — corpus duplication profile: after near-dup clustering, report
# the cluster-size distribution ("how duplicated is my corpus") — the
# forensics a curation team reads before choosing a dedup policy.
# Singletons (no near-dup evidence) are size-1 clusters; the oracle
# reuses d06's recursive-CTE transitive closure.
# --------------------------------------------------------------------

D15_ORACLE = f"""
WITH RECURSIVE {{cand}},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM cand
),
reach(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
labels AS (
  SELECT node, MIN(label) AS label FROM reach GROUP BY node
),
sizes AS (SELECT label, COUNT(*) AS cluster_size FROM labels GROUP BY label)
SELECT cluster_size, COUNT(*) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
UNION ALL
SELECT 1, (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM labels),
       (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM labels)
ORDER BY cluster_size
"""


@query("d15_dup_profile", oracle=D15_ORACLE.format(cand=_d02_oracle()))
def d15(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    cands = dedup.minhash_candidates(
        docs, id_col="doc_id", text_col="text",
        shingle_len=_SHINGLE_LEN, num_hashes=_NUM_HASHES, bands=_BANDS,
    )
    labels = dedup.connected_components(cands)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    dist = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )
    n_total = docs.count()
    n_labeled = labels.count()
    singletons = spark.createDataFrame(
        [(1, n_total - n_labeled, n_total - n_labeled)],
        "cluster_size bigint, n_clusters bigint, n_docs bigint",
    )
    return dist.unionByName(singletons).orderBy("cluster_size")


# --------------------------------------------------------------------
# s11 — cluster-balanced corpus sampling (SemDeDup / DSIR-style
# diversity flattening): assign every embedding to its nearest anchor
# by int8-quantized dot product (map-only argmax over 8 broadcast
# integer-literal anchors — no IEEE ordering hazard, unlike a float
# cosine argmax), then cap each cluster at an equal 1/16 share of the
# corpus via deterministic hash-bucket quotas. Dominant semantic
# regions are downsampled; small ones survive whole. Everything after
# the embedding scan is integer arithmetic, so the oracle mirrors it
# construction-for-construction.
# --------------------------------------------------------------------

_S11_K = 8  # anchors = embeddings of vec_id 0..7 (fixed, SQL-expressible)
_S11_DEN = 16  # per-cluster share = n_total DIV 16

# the quantize → 8-anchor integer argmax chain, shared with st12's
# streaming-assignment oracle
S11_ASG_CTES = f"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
m AS (
  SELECT vec_id, v,
         GREATEST(list_max(list_transform(v, x -> abs(x))), 1e-300) AS am
  FROM e
),
cq AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(FLOOR(x * 127 / am + 0.5) AS BIGINT)) AS q
  FROM m
),
anch AS (SELECT vec_id AS anchor_id, q AS aq FROM cq WHERE vec_id < {_S11_K}),
scored AS (
  SELECT c.vec_id, a.anchor_id,
         list_sum(list_transform(generate_series(1, len(c.q)),
                                 i -> c.q[i] * a.aq[i])) AS qdot
  FROM cq c, anch a
),
asg AS (
  SELECT vec_id, anchor_id AS cluster_id
  FROM (SELECT vec_id, anchor_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY qdot DESC, anchor_id) AS rn
        FROM scored)
  WHERE rn = 1
)"""

S11_ORACLE = f"""
WITH {S11_ASG_CTES},
thr AS (
  SELECT cluster_id, COUNT(*) AS n_c,
         LEAST(4096, (4096 * (SUM(COUNT(*)) OVER () // {_S11_DEN}))
                     // COUNT(*)) AS t
  FROM asg GROUP BY cluster_id
),
kept AS (
  SELECT a.vec_id, a.cluster_id
  FROM asg a JOIN thr USING (cluster_id)
  WHERE {duck_md5_prefix_hash("CAST(a.vec_id AS VARCHAR)")} % 4096
        < thr.t
)
SELECT t.cluster_id,
       CAST(t.n_c AS BIGINT) AS n_total,
       CAST(COUNT(k.vec_id) AS BIGINT) AS n_kept,
       CAST(COALESCE(SUM(k.vec_id), 0) AS BIGINT) AS id_sum
FROM thr t LEFT JOIN kept k USING (cluster_id)
GROUP BY t.cluster_id, t.n_c
ORDER BY t.cluster_id
"""


@query("s11_cluster_sample", oracle=S11_ORACLE)
def s11(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    anchor_rows = emb.where(F.col("vec_id") < _S11_K).select(
        "vec_id", "embedding"
    ).collect()  # 8 rows — anchor literals, the allowed k-row read
    anchors = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in anchor_rows
    )
    # The quantize+8-fold argmax is the expensive map here. Two
    # measured hazards: (1) the fixture is one file/one split, pinning
    # the interpreted HOF work to one core (_parallelize round-robins
    # it — a no-op on a real many-file corpus); (2) the downstream
    # broadcast join's isnotnull(cluster_id) pushdown INLINES the whole
    # argmax into the scan filter, re-evaluating it per consumer —
    # localCheckpoint on the 16 B/row (vec_id, cluster_id) projection
    # runs the map exactly once (the q70/d06 materialization pattern;
    # measured 6.4s -> ~0.4s at sf0.1).
    asg = similarity.assign_quantized_cells(
        dedup._parallelize(emb), anchors, vec_col="embedding"
    ).select("vec_id", "cluster_id").transform(materialize_lazy)
    # one per-cluster count feeds both the sampler's quota math and the
    # reported n_total — 2 corpus scans total, not 3
    counts = asg.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("__cb_n_c")
    )
    kept = sampling.cluster_balanced_sample(
        asg, "cluster_id", "vec_id", budget_den=_S11_DEN, counts=counts
    )
    totals = counts.select("cluster_id", F.col("__cb_n_c").alias("n_total"))
    kept_agg = kept.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_kept"), F.sum("vec_id").alias("id_sum")
    )
    return (
        totals.join(kept_agg, "cluster_id", "left")
        .select(
            "cluster_id",
            "n_total",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("id_sum", F.lit(0)).cast("bigint").alias("id_sum"),
        )
        .orderBy("cluster_id")
    )


# --------------------------------------------------------------------
# t36 — byte-pair (first BPE merge iteration) statistics: global
# adjacent-character-pair counts over lowercased ASCII words, top-20
# merge candidates. The tokenizer-training primitive: iterate this
# (merge top pair, re-pair, repeat) and you have BPE vocab induction.
# Scale shape is ideal — the pair vocabulary is bounded (<= 26^2), so
# the partial aggregate caps the shuffle at 676 rows PER PARTITION no
# matter the corpus size, and the explode fan-out is pipelined
# map-side (never materialized).
# --------------------------------------------------------------------

T36_ORACLE = f"""
WITH w AS (
  SELECT unnest(list_filter({_DUCK_TOKS},
                x -> regexp_matches(x, '^[a-z]+$') AND length(x) >= 2)) AS word
  FROM documents
),
p AS (
  SELECT unnest(list_transform(generate_series(1, length(word) - 1),
                               i -> substring(word, i, 2))) AS pair
  FROM w
)
SELECT pair, COUNT(*) AS n
FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20
"""


@query("t36_bpe_pairs", oracle=T36_ORACLE)
def t36(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    pairs = (
        spark.table("documents")
        .select(F.explode(text.ascii_words(F.col("text"))).alias("word"))
        .select(F.explode(text.char_pairs(F.col("word"))).alias("pair"))
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(20)
    )


# --------------------------------------------------------------------
# s12 — MMR diversity re-rank (the retrieval head that complements s10
# hybrid search): exact cosine top-50 pool, then greedy Maximal
# Marginal Relevance selection of 10 results with λ = 1/2
# (score = rel − max-sim-to-selected, all e6-quantized integers, so
# the argmax chain is engine-exact). The oracle replays the greedy
# loop as a DuckDB recursive CTE carrying the selected-id list; the
# Spark side computes pool + pairwise sims in-engine and runs the
# (inherently sequential) selection driver-side over the
# constant-bounded pool² integer matrix.
# --------------------------------------------------------------------

_S12_POOL = 50
_S12_K = 10

S12_ORACLE = f"""
WITH RECURSIVE
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
pool AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         {sql_quantize('list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv)', 6)} AS rel_e6
  FROM embeddings, q WHERE vec_id <> 0
  ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv) DESC, vec_id
  LIMIT {_S12_POOL}
),
sims AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         {sql_quantize('list_cosine_similarity(a.v, b.v)', 6)} AS s_e6
  FROM pool a, pool b WHERE a.vec_id <> b.vec_id
),
sel(step, ids, pick, score_e6) AS (
  SELECT 1, [f.vec_id], f.vec_id, f.rel_e6
  FROM (SELECT vec_id, rel_e6 FROM pool
        ORDER BY rel_e6 DESC, vec_id LIMIT 1) f
  UNION ALL
  SELECT sel.step + 1, list_append(sel.ids, c.vec_id), c.vec_id, c.mmr
  FROM sel, LATERAL (
    SELECT p.vec_id, p.rel_e6 - MAX(s.s_e6) AS mmr
    FROM pool p JOIN sims s
      ON s.ia = p.vec_id AND list_contains(sel.ids, s.ib)
    WHERE NOT list_contains(sel.ids, p.vec_id)
    GROUP BY p.vec_id, p.rel_e6
    ORDER BY mmr DESC, p.vec_id
    LIMIT 1
  ) c
  WHERE sel.step < {_S12_K}
)
SELECT CAST(step AS BIGINT) AS rank, pick AS vec_id,
       CAST(score_e6 AS BIGINT) AS score_e6
FROM sel ORDER BY rank
"""


@query("s12_mmr_rerank", oracle=S12_ORACLE)
def s12(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    return similarity.mmr_topk(
        emb.where(F.col("vec_id") != 0),
        qvec,
        k=_S12_K,
        pool=_S12_POOL,
        id_col="vec_id",
        vec_col="embedding",
    ).orderBy("rank")


# --------------------------------------------------------------------
# g03 — label-propagation community detection over the same
# customer↔supplier trade graph as g01 (operators/graph.py): 2
# synchronous rounds, most-frequent-neighbour label, ties to the
# smallest label — a pure integer function of the edge set, so the
# oracle unrolls the identical rounds as CTEs and matches bit-exactly.
# The crawl-curation use: community = content farm / mirror network;
# cap or downweight by community before text gates run.
# --------------------------------------------------------------------

_TRADE_PAIRS_CTE = """pairs AS (
  SELECT DISTINCT o_custkey AS c, -(l_suppkey + 1) AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)"""

_G03_GRAPH_CTES = _TRADE_PAIRS_CTE + """,
e AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION
  SELECT s AS src, c AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e),
l0 AS (SELECT node, node AS label FROM nodes)"""


def _g03_round(i: int) -> str:
    """One unrolled LPA round: neighbour-label counts → windowed
    argmax (count DESC, label ASC) → coalesce for isolated nodes."""
    return f"""c{i} AS (
  SELECT e.dst AS node, l.label, COUNT(*) AS n
  FROM e JOIN l{i - 1} l ON e.src = l.node GROUP BY e.dst, l.label
),
l{i} AS (
  SELECT n0.node, COALESCE(b.label, n0.node) AS label
  FROM nodes n0 LEFT JOIN (
    SELECT node, label FROM (
      SELECT node, label,
             ROW_NUMBER() OVER (PARTITION BY node
                                ORDER BY n DESC, label) AS rn
      FROM c{i}) WHERE rn = 1) b USING (node)
)"""


_G03_ITER = 2

G03_ORACLE = f"""
WITH {_G03_GRAPH_CTES},
{",".join(_g03_round(i) for i in range(1, _G03_ITER + 1))}
SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(node) AS BIGINT) AS min_node,
       CAST(MAX(node) AS BIGINT) AS max_node
FROM l{_G03_ITER} GROUP BY label
ORDER BY n_members DESC, community LIMIT 20
"""


@query("g03_label_propagation", oracle=G03_ORACLE)
def g03(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "orders", "lineitem")
    pairs = spark.sql(
        """SELECT DISTINCT o_custkey AS c, -(l_suppkey + 1) AS s
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey"""
    ).transform(materialize_lazy)  # one materialization for both
    # union directions (the g01 edge-build lesson)
    edges = pairs.selectExpr("c AS src", "s AS dst").unionAll(
        pairs.selectExpr("s AS src", "c AS dst")
    )
    labels = graph.label_propagation(
        edges, iterations=_G03_ITER, assume_distinct=True
    )  # disjoint orientations of a DISTINCT pair set: no re-dedup
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .orderBy(F.desc("n_members"), "community")
        .limit(20)
    )


# --------------------------------------------------------------------
# s13 — one distributed Lloyd (k-means) iteration over the corpus
# embeddings (operators/similarity.py): int8-argmax assignment to the
# same 8 anchors s11/st12 use, then the per-(cluster, dim) component
# sums that define the NEW centroids plus the per-cluster quantized
# inertia a convergence loop would watch. The corpus is scanned once;
# the only shuffle carries <= k*dim integer rows per task (map-side
# partial combine over the bounded explode). Iterate this step and
# you have oracle-checkable distributed k-means (kmeans_centroids is
# the float/driver-loop variant used by IVF).
# --------------------------------------------------------------------

_S13_DIGITS = 6

S13_ORACLE = f"""
WITH {{asg}},
q6 AS (
  SELECT vec_id,
         list_transform(v, x -> {sql_quantize('x', _S13_DIGITS)}) AS q
  FROM e
),
aq AS (SELECT vec_id AS cluster_id, q AS a FROM q6 WHERE vec_id < {_S11_K}),
ex0 AS (
  SELECT s.cluster_id, c.q, z.a,
         unnest(generate_series(1, len(c.q))) AS i
  FROM asg s JOIN q6 c USING (vec_id)
  JOIN aq z ON z.cluster_id = s.cluster_id
),
ex AS (
  SELECT cluster_id, i - 1 AS dim, q[i] AS qv,
         (q[i] - a[i]) * (q[i] - a[i]) AS d2
  FROM ex0
),
pd AS (
  SELECT cluster_id, dim,
         CAST(SUM(qv) AS BIGINT) AS sum_q,
         CAST(COUNT(*) AS BIGINT) AS n_c,
         CAST(SUM(d2) AS BIGINT) AS sum_d2
  FROM ex GROUP BY cluster_id, dim
)
SELECT cluster_id, CAST(dim AS BIGINT) AS dim, sum_q, n_c,
       CAST(SUM(sum_d2) OVER (PARTITION BY cluster_id) AS BIGINT) AS inertia_q
FROM pd ORDER BY cluster_id, dim
""".format(asg=S11_ASG_CTES)


@query("s13_kmeans_step", oracle=S13_ORACLE)
def s13(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    anchor_rows = emb.where(F.col("vec_id") < _S11_K).select(
        "vec_id", "embedding"
    ).collect()  # 8 rows — anchor literals, the allowed k-row read
    anchors = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in anchor_rows
    )
    step = similarity.lloyd_step_quantized(
        dedup._parallelize(emb), anchors, vec_col="embedding",
        digits=_S13_DIGITS,
    )
    return step.orderBy("cluster_id", "dim")


# --------------------------------------------------------------------
# g04 — frontier BFS hop distances from the lowest customer node over
# the g01/g03 trade graph (operators/graph.py bfs_levels): per round
# one edge join + distinct + LEFT ANTI against the visited set (min-
# distance semantics), capped at 3 hops. Oracle unrolls the identical
# rounds; every value is an integer so parity is by construction.
# Distinct from q70's relational chain-follow: the visited-set
# subtraction is linear in reachable EDGES, not path count.
# --------------------------------------------------------------------

_G04_DEPTH = 3


def _g04_round(i: int) -> str:
    return f"""n{i} AS (
  SELECT DISTINCT e.dst AS node FROM e JOIN f{i - 1} ON e.src = f{i - 1}.node
),
f{i} AS (SELECT node FROM n{i} WHERE node NOT IN (SELECT node FROM v{i - 1})),
v{i} AS (SELECT * FROM v{i - 1} UNION ALL SELECT node, {i} AS dist FROM f{i})"""


G04_ORACLE = f"""
WITH {_TRADE_PAIRS_CTE},
e AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION
  SELECT s AS src, c AS dst FROM pairs
),
f0 AS (SELECT MIN(c) AS node FROM pairs),
v0 AS (SELECT node, 0 AS dist FROM f0),
{",".join(_g04_round(i) for i in range(1, _G04_DEPTH + 1))}
SELECT CAST(dist AS BIGINT) AS dist, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(node) AS BIGINT) AS min_node,
       CAST(MAX(node) AS BIGINT) AS max_node,
       CAST(SUM(node) AS BIGINT) AS id_sum
FROM v{_G04_DEPTH} GROUP BY dist ORDER BY dist
"""


@query("g04_bfs_frontier", oracle=G04_ORACLE)
def g04(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "orders", "lineitem")
    pairs = spark.sql(
        """SELECT DISTINCT o_custkey AS c, -(l_suppkey + 1) AS s
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey"""
    ).transform(materialize_lazy)  # the orders x lineitem DISTINCT is the
    # expensive part and feeds THREE consumers (both edge directions
    # + the source min) — one materialization, not three evaluations
    edges = pairs.selectExpr("c AS src", "s AS dst").unionAll(
        pairs.selectExpr("s AS src", "c AS dst")
    )
    sources = pairs.agg(F.min("c").alias("node"))
    dists = graph.bfs_levels(
        edges, sources, max_depth=_G04_DEPTH, assume_distinct=True
    )  # disjoint orientations of a DISTINCT pair set: no re-dedup
    return (
        dists.groupBy("dist")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
            F.sum("node").alias("id_sum"),
        )
        .orderBy("dist")
    )


# --------------------------------------------------------------------
# t37 — held-out perplexity filter (operators/text.py
# smoothed_bigram_score): train an add-V-smoothed bigram LM on the
# even-doc_id half of the corpus, score the odd half — unseen
# transitions and OOV words get finite integer charges instead of
# being dropped (t26 scores in-corpus with an inner join). The
# CCNet/Gopher curation shape: rank scored docs by mean charge, read
# the unseen-transition rate alongside.
# --------------------------------------------------------------------

T37_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
tr AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
trex AS (
  SELECT toks, unnest(generate_series(1, len(toks)-1)) AS i
  FROM tr WHERE len(toks) >= 2
),
bm AS (
  SELECT toks[i] AS w1, toks[i+1] AS w2, COUNT(*) AS nab
  FROM trex GROUP BY 1, 2
),
um AS (
  SELECT w1, COUNT(*) AS na
  FROM (SELECT unnest(toks) AS w1 FROM tr) GROUP BY w1
),
vv AS (SELECT COUNT(*) AS v FROM um),
scex AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks)-1)) AS i
  FROM toks WHERE doc_id % 2 = 1 AND len(toks) >= 2
),
socc AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2 FROM scex),
scored AS (
  SELECT s.doc_id,
         SUM((COALESCE(u.na, 0) + vv.v) // (COALESCE(b.nab, 0) + 1)) AS sum_chg,
         COUNT(*) AS n_bigrams,
         SUM(CASE WHEN b.nab IS NULL THEN 1 ELSE 0 END) AS n_unseen
  FROM socc s
  LEFT JOIN bm b ON s.w1 = b.w1 AND s.w2 = b.w2
  LEFT JOIN um u ON s.w1 = u.w1
  CROSS JOIN vv
  GROUP BY s.doc_id
)
SELECT doc_id, CAST(sum_chg AS BIGINT) AS sum_chg,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(n_unseen AS BIGINT) AS n_unseen
FROM scored
ORDER BY CAST(sum_chg AS DOUBLE) / n_bigrams DESC, doc_id LIMIT 20
"""


@query("t37_perplexity_filter", oracle=T37_ORACLE)
def t37(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = dedup._parallelize(spark.table("documents"))
    scored = text.smoothed_bigram_score(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
        "doc_id",
        "text",
    )
    return scored.orderBy(
        (F.col("sum_chg").cast("double") / F.col("n_bigrams")).desc(),
        "doc_id",
    ).limit(20)


# --------------------------------------------------------------------
# s14 — full k-means TRAINING loop (operators/similarity.py
# lloyd_train_quantized): 3 Lloyd rounds in e6 fixed point, seeded on
# the first 8 embeddings. Each round is a map-only integer-dot argmax
# assignment (centroid literals in-plan, ties -> smallest cluster)
# plus one (cluster, dim) integer aggregate; intermediate centroids
# refresh driver-side as sum DIV count (truncation toward zero — the
# semantics Spark's DIV and DuckDB's // share), the FINAL round's
# centroid division happens in-engine so the result stays
# distributed. Oracle unrolls the identical three rounds; every value
# is constructed in integers, so the whole trajectory — not just one
# step (s13) — is bit-reproducible.
# --------------------------------------------------------------------

_S14_ITERS = 3
_S14_DIGITS = 6


def _s14_round(i: int, final: bool = False) -> str:
    score = f"""d{i} AS (
  SELECT x.vec_id, a.cluster_id, SUM(x.qv * a.c) AS dot
  FROM qx x JOIN c{i - 1} a ON x.dim = a.dim
  GROUP BY 1, 2
),
a{i} AS (
  SELECT vec_id, cluster_id
  FROM (SELECT vec_id, cluster_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dot DESC, cluster_id) AS rn
        FROM d{i})
  WHERE rn = 1
)"""
    if final:
        return score
    return score + f""",
u{i} AS (
  SELECT s.cluster_id, x.dim, SUM(x.qv) AS sq, COUNT(*) AS n
  FROM a{i} s JOIN qx x USING (vec_id) GROUP BY 1, 2
),
c{i} AS (
  SELECT p.cluster_id, p.dim, COALESCE(u.sq // u.n, p.c) AS c
  FROM c{i - 1} p LEFT JOIN u{i} u
    ON u.cluster_id = p.cluster_id AND u.dim = p.dim
)"""


# c{i}'s carry-forward joins from c{i-1} (not c0): an empty cluster
# must keep its PREVIOUS round's centroid, mirroring the Spark loop.
S14_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q6 AS (
  SELECT vec_id,
         list_transform(v, x -> {sql_quantize('x', _S14_DIGITS)}) AS q
  FROM e
),
qx AS (
  SELECT vec_id, i - 1 AS dim, q[i] AS qv
  FROM (SELECT vec_id, q, unnest(generate_series(1, len(q))) AS i FROM q6)
),
c0 AS (
  SELECT vec_id AS cluster_id, i - 1 AS dim, q[i] AS c
  FROM (SELECT vec_id, q, unnest(generate_series(1, len(q))) AS i
        FROM q6 WHERE vec_id < {_S11_K})
),
{",".join(_s14_round(i) for i in range(1, _S14_ITERS))},
{_s14_round(_S14_ITERS, final=True)}
SELECT s.cluster_id, CAST(x.dim AS BIGINT) AS dim,
       CAST(SUM(x.qv) // COUNT(*) AS BIGINT) AS c_e6,
       CAST(COUNT(*) AS BIGINT) AS n_c
FROM a{_S14_ITERS} s JOIN qx x USING (vec_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("s14_kmeans_train", oracle=S14_ORACLE)
def s14(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "embeddings")
    emb = dedup._parallelize(spark.table("embeddings"))
    anchor_rows = (
        spark.table("embeddings")
        .where(F.col("vec_id") < _S11_K)
        .select("vec_id", "embedding")
        .collect()
    )  # 8 seed rows — the allowed k-row model read
    return similarity.lloyd_train_quantized(
        emb,
        [(int(r["vec_id"]), list(r["embedding"])) for r in anchor_rows],
        iters=_S14_ITERS,
        digits=_S14_DIGITS,
    )


# --------------------------------------------------------------------
# g05 — connected components on the DISTRIBUTED min-label path
# (operators/dedup.py connected_components with driver_threshold=0):
# d06 exercises the capped driver union-find fast path; this query
# driver-gates the fallback a 100 TB candidate graph actually takes —
# per round every node takes the min of its own and its neighbors'
# labels (one equi-join + partial-agg'd min per round, checkpointed
# lineage, fixpoint when no label changes). Edge set: order—part
# incidence over high-quantity lineitem rows (8.5k shallow
# components at sf0.1, the near-dup-cluster shape). Oracle computes
# exact components via recursive-CTE reachability closure and the
# same component-size rollup — fixpoint semantics, so the round count
# never appears in the contract.
# --------------------------------------------------------------------

G05_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT l_orderkey AS a, -(l_partkey + 1) AS b
  FROM lineitem WHERE l_quantity >= 50
),
e AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
n AS (SELECT DISTINCT src AS v FROM e),
rec AS (
  WITH RECURSIVE r AS (
    SELECT v, v AS lab FROM n
    UNION
    SELECT e.src AS v, r.lab FROM e JOIN r ON e.dst = r.v
  )
  SELECT v, MIN(lab) AS label FROM r GROUP BY v
),
comps AS (SELECT label, COUNT(*) AS comp_size FROM rec GROUP BY label)
SELECT CAST(comp_size AS BIGINT) AS comp_size,
       CAST(COUNT(*) AS BIGINT) AS n_comps,
       CAST(SUM(label) AS BIGINT) AS label_sum
FROM comps GROUP BY comp_size ORDER BY comp_size
"""


@query("g05_distributed_cc", oracle=G05_ORACLE)
def g05(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "lineitem")
    pairs = spark.sql(
        """SELECT DISTINCT l_orderkey AS id_a, -(l_partkey + 1) AS id_b
           FROM lineitem WHERE l_quantity >= 50"""
    )
    labels = dedup.connected_components(pairs, driver_threshold=0)
    comps = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("comp_size")
    )
    return (
        comps.groupBy("comp_size")
        .agg(
            F.count(F.lit(1)).alias("n_comps"),
            F.sum("label").alias("label_sum"),
        )
        .orderBy("comp_size")
    )


# --------------------------------------------------------------------
# p08 — semantic curation pipeline: the modern pretraining data-mix
# recipe in ONE lazy composition — quality gate (n_chars floor) ->
# lead-fingerprint keep-best dedup (md5 of the first 8 tokens, keep
# the longest doc, C4-style lead-paragraph dedup; the fixture has 24
# such dups at sf0.01) -> semantic cluster balancing on the embedded
# subset (s11's int8 anchor argmax + integer per-cluster quota,
# budget_den=8) -> deterministic md5 shard assignment (t18 recipe).
# Every stage is mirrored in one oracle CTE chain; all hashed values
# are integers.
# --------------------------------------------------------------------

_P08_DEN = 8
_P08_SHARDS = 8


P08_ORACLE = f"""
WITH {S11_ASG_CTES},
g AS (SELECT doc_id, n_chars, text FROM documents WHERE n_chars >= 150),
fp AS (
  SELECT doc_id, n_chars,
         md5(array_to_string(list_slice({_DUCK_TOKS}, 1, 8), ' ')) AS lead_fp
  FROM g
),
best AS (
  SELECT doc_id, n_chars
  FROM (SELECT doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lead_fp
                                  ORDER BY n_chars DESC, doc_id ASC) AS rn
        FROM fp)
  WHERE rn = 1
),
sub AS (
  SELECT b.doc_id, b.n_chars, a.cluster_id
  FROM best b JOIN asg a ON a.vec_id = b.doc_id
),
cnt AS (SELECT cluster_id, COUNT(*) AS n_c FROM sub GROUP BY cluster_id),
thr AS (
  SELECT cluster_id,
         LEAST(4096, (4096 * (SUM(n_c) OVER () // {_P08_DEN})) // n_c) AS t
  FROM cnt
),
kept AS (
  SELECT s.doc_id, s.n_chars, s.cluster_id
  FROM sub s JOIN thr USING (cluster_id)
  WHERE {duck_md5_prefix_hash("CAST(s.doc_id AS VARCHAR)")}
        % 4096 < thr.t
)
SELECT cluster_id,
       CAST({duck_md5_prefix_hash("CAST(doc_id AS VARCHAR)")}
            % {_P08_SHARDS} AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM kept GROUP BY 1, 2 ORDER BY 1, 2
"""


def p08_stage_frames(
    spark: SparkSession, sf_dir: str
) -> dict[str, DataFrame]:
    """p08's composed stages in dependency order: ``gate`` (n_chars
    floor, scan-level) → ``best`` (lead-fingerprint keep-best dedup)
    → ``assign`` (embedding join + int8 anchor argmax) → ``balance``
    (integer per-cluster quota) → ``shard``. Shared by the p08 query
    and bench.py's per-pipeline breakdown (VERDICT r7 item 2)."""
    load_views(spark, sf_dir, "documents", "embeddings")
    docs = dedup._parallelize(spark.table("documents"))
    # 1. quality gate — a scan-level predicate (pushes to parquet)
    gated = docs.where(F.col("n_chars") >= 150)
    # 2. lead-fingerprint keep-best: digest of the first 8 tokens;
    # struct-max keeps the longest doc, ties -> smallest doc_id —
    # one partial-agg'd shuffle of (16B digest, 2 longs) per doc
    toks = text.tokens(F.col("text"))
    fp = gated.select(
        "doc_id",
        "n_chars",
        md5_hex(F.concat_ws(" ", F.slice(toks, 1, 8))).alias("lead_fp"),
    )
    best = (
        fp.groupBy("lead_fp")
        .agg(
            F.max(
                F.struct(
                    F.col("n_chars").alias("nc"),
                    (-F.col("doc_id")).alias("neg_id"),
                )
            ).alias("b")
        )
        .select(
            (-F.col("b.neg_id")).alias("doc_id"),
            F.col("b.nc").alias("n_chars"),
        )
    )
    # 3. semantic balance on the embedded subset — the s11 shape:
    # anchors are the first k embeddings, assignment is a map-only
    # int8 argmax, the quota is integer arithmetic on subset counts
    emb = spark.table("embeddings")
    anchor_rows = emb.where(F.col("vec_id") < _S11_K).select(
        "vec_id", "embedding"
    ).collect()  # 8 rows — the allowed k-row model read
    anchors = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in anchor_rows
    )
    joined = best.join(emb, best.doc_id == emb.vec_id).select(
        "doc_id", "n_chars", "embedding"
    )
    asg = (
        similarity.assign_quantized_cells(joined, anchors)
        .select("doc_id", "n_chars", "cluster_id")
        .transform(materialize_lazy)  # 24B/row; the s11 inlining hazard
    )
    kept = sampling.cluster_balanced_sample(
        asg, "cluster_id", "doc_id", budget_den=_P08_DEN
    )
    # 4. shard assignment + the per-(cluster, shard) mix report
    sharded = sampling.shard_assign(
        kept, "doc_id", _P08_SHARDS, shard_col="shard_id"
    )
    return {"gate": gated, "best": best, "assign": asg,
            "balance": kept, "shard": sharded}


@query("p08_semantic_curation", oracle=P08_ORACLE)
def p08(spark: SparkSession, sf_dir: str) -> DataFrame:
    sharded = p08_stage_frames(spark, sf_dir)["shard"]
    return (
        sharded.groupBy("cluster_id", F.col("shard_id").cast("bigint").alias("shard_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars_sum"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("cluster_id", "shard_id")
    )


# --------------------------------------------------------------------
# s15 — hard-negative mining for contrastive embedding training: for
# each anchor, the top-3 most similar corpus vectors that live in a
# DIFFERENT cluster (similar-but-not-same — the negatives that teach
# the model the most). Scores are the same int8-quantized exact
# BIGINT dots as s11's assignment (no IEEE ordering hazard anywhere);
# exclusion uses the s11 cluster assignment itself, so the whole
# query is one quantize + 8 literal folds + a per-anchor top-3.
# Oracle reuses the shared S11 assignment CTEs verbatim.
# --------------------------------------------------------------------

_S15_TOPK = 3

S15_ORACLE = f"""
WITH {S11_ASG_CTES},
neg AS (
  SELECT s.anchor_id, s.vec_id, s.qdot
  FROM scored s JOIN asg a USING (vec_id)
  WHERE a.cluster_id <> s.anchor_id
),
ranked AS (
  SELECT anchor_id, vec_id, qdot,
         ROW_NUMBER() OVER (PARTITION BY anchor_id
                            ORDER BY qdot DESC, vec_id ASC) AS rnk
  FROM neg
)
SELECT CAST(anchor_id AS BIGINT) AS anchor_id, CAST(rnk AS BIGINT) AS rnk,
       vec_id, CAST(qdot AS BIGINT) AS qdot
FROM ranked WHERE rnk <= {_S15_TOPK}
ORDER BY anchor_id, rnk
"""


@query("s15_hard_negatives", oracle=S15_ORACLE)
def s15(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    load_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    anchor_rows = emb.where(F.col("vec_id") < _S11_K).select(
        "vec_id", "embedding"
    ).collect()  # 8 rows — the allowed k-row model read
    anchors = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in anchor_rows
    )
    # cluster assignment AND the per-anchor score array off ONE int8
    # quantization: assign_quantized_cells leaves no per-anchor dots,
    # so fold them here the same way (quantize-once projection; the
    # explode fans 8 integer rows per vector, partial-agg'd nowhere —
    # the window's exchange is the only shuffle)
    asg = (
        similarity.assign_quantized_cells(
            dedup._parallelize(emb), anchors, vec_col="embedding"
        )
        .withColumn("__q", similarity.quantize_int8(F.col("embedding")))
        .select("vec_id", "cluster_id", "__q")
        .transform(materialize_lazy)  # materialize the quantization + argmax
        # ONCE: downstream the explode fans 8 rows per vector and the
        # post-explode filter references cluster_id — without the
        # checkpoint Catalyst inlines the 8-fold argmax (and the
        # 4-pass HOF quantization under it) into every exploded row
        # (measured 6.6s -> 2.2s at sf0.1; the s11 hazard, again)
    )
    qcol = F.col("__q")
    scores = F.array(*[
        F.struct(
            F.lit(aid).cast("bigint").alias("anchor_id"),
            similarity.int_dot(
                qcol,
                F.array(*[
                    F.lit(v)
                    for v in similarity.quantize_vec_py(avec)
                ]),
            ).alias("qdot"),
        )
        for aid, avec in anchors
    ])
    exploded = (
        asg.select("vec_id", "cluster_id", F.explode(scores).alias("s"))
        .select("vec_id", "cluster_id", "s.anchor_id", "s.qdot")
        .where(F.col("cluster_id") != F.col("anchor_id"))
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("qdot"), F.asc("vec_id")
    )
    return (
        exploded.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _S15_TOPK)
        .select(
            "anchor_id",
            F.col("rnk").cast("bigint").alias("rnk"),
            "vec_id",
            "qdot",
        )
        .orderBy("anchor_id", "rnk")
    )


# --------------------------------------------------------------------
# d17 — shared-substring containment pairs (sub-document duplication).
# Jaccard (d03) misses a short document pasted inside a long one (the
# union is dominated by the long side); containment
# |A∩B| / min(|A|,|B|) over LONG (8-word) shingles is the distributed
# stand-in for suffix-array exact-substring dedup (RefinedWeb-style):
# shared fixed-length windows shard, suffix arrays don't. Same
# posting-list core as d03 (df-pruned, stop-shingle capped, digest
# joins) — see operators/dedup.py:_pair_intersections.
# --------------------------------------------------------------------

_D17_W = 8
_D17_MAX_DF = 50

D17_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
),
sh AS (
  SELECT doc_id, list_distinct({_duck_shingles(_D17_W)}) AS s FROM t
),
ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
dfreq AS (SELECT sg, COUNT(*) AS df FROM ex GROUP BY sg),
ex2 AS (
  SELECT e.doc_id, e.sg
  FROM ex e JOIN dfreq d USING (sg)
  WHERE d.df BETWEEN 2 AND {_D17_MAX_DF}
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ninter
  FROM ex2 a JOIN ex2 b ON a.sg = b.sg AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(s) AS n FROM sh)
SELECT i.id_a, i.id_b,
       {sql_quantize('CAST(i.ninter AS DOUBLE) / LEAST(sa.n, sb.n)', 6)} AS containment_e6
FROM inter i
JOIN sizes sa ON i.id_a = sa.doc_id
JOIN sizes sb ON i.id_b = sb.doc_id
WHERE CAST(i.ninter AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.5
ORDER BY id_a, id_b
"""


@query("d17_containment_pairs", oracle=D17_ORACLE)
def d17(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    pairs = dedup.containment_pairs(
        spark.table("documents"),
        id_col="doc_id",
        text_col="text",
        shingle_len=_D17_W,
        threshold=0.5,
        max_doc_freq=_D17_MAX_DF,
    )
    return pairs.select(
        "id_a",
        "id_b",
        quantize(F.col("containment"), 6).alias("containment_e6"),
    ).orderBy("id_a", "id_b")


# --------------------------------------------------------------------
# d18 — true substring dedup (suffix-array semantics): the MAXIMAL
# cross-document token matches >= 12 tokens, via seed-and-chain
# diagonal run-merge (operators/dedup.py:maximal_match_pairs). d17's
# fixed-window containment is the ratio stand-in; this returns the
# actual maximal repeats RefinedWeb-style exact-substring dedup
# removes. Seeds are df-pruned (2..cap distinct docs) exactly as the
# oracle mirrors, so capped runs split identically in both engines.
# --------------------------------------------------------------------

_D18_SEED = 5
_D18_MIN_LEN = 12
_D18_MAX_DF = 50

D18_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
),
ex AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, len(toks) - {_D18_SEED - 1})) AS pos
  FROM t WHERE len(toks) >= {_D18_SEED}
),
g AS (
  SELECT doc_id, pos,
         array_to_string(toks[pos:pos + {_D18_SEED - 1}], ' ') AS gram
  FROM ex
),
dfq AS (
  SELECT gram FROM (
    SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY gram
  ) WHERE nd BETWEEN 2 AND {_D18_MAX_DF}
),
occ AS (SELECT doc_id, pos, gram FROM g WHERE gram IN (SELECT gram FROM dfq)),
seeds AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a,
         a.pos - b.pos AS diag
  FROM occ a JOIN occ b ON a.gram = b.gram AND a.doc_id < b.doc_id
),
isl AS (
  SELECT id_a, id_b, diag, pos_a,
         pos_a - ROW_NUMBER() OVER (
           PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS grp
  FROM seeds
),
runs AS (
  SELECT id_a, id_b, COUNT(*) + {_D18_SEED - 1} AS match_len
  FROM isl GROUP BY id_a, id_b, diag, grp
)
SELECT id_a, id_b,
       COUNT(*) AS n_matches,
       MAX(match_len) AS max_len,
       CAST(SUM(match_len) AS BIGINT) AS sum_len
FROM runs WHERE match_len >= {_D18_MIN_LEN}
GROUP BY id_a, id_b
ORDER BY id_a, id_b
"""


@query("d18_substring_dedup", oracle=D18_ORACLE)
def d18(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    runs = dedup.maximal_match_pairs(
        spark.table("documents"),
        id_col="doc_id",
        text_col="text",
        seed_len=_D18_SEED,
        min_len=_D18_MIN_LEN,
        max_doc_freq=_D18_MAX_DF,
    )
    return (
        runs.groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.max("match_len").alias("max_len"),
            F.sum("match_len").alias("sum_len"),
        )
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------
# d19 — keep-first substring scrub (the removal half of d18, the full
# RefinedWeb exact-substring dedup step): every maximal cross-doc
# match keeps its lower-id copy; covered tokens are removed from the
# higher-id side only. One pass: matches computed on the original
# corpus, removals applied at once. Output is per-doc token counts +
# an md5 digest of the cleaned text (strings never shuffle twice).
# --------------------------------------------------------------------

D19_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
),
ex AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, len(toks) - {_D18_SEED - 1})) AS pos
  FROM t WHERE len(toks) >= {_D18_SEED}
),
g AS (
  SELECT doc_id, pos,
         array_to_string(toks[pos:pos + {_D18_SEED - 1}], ' ') AS gram
  FROM ex
),
dfq AS (
  SELECT gram FROM (
    SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY gram
  ) WHERE nd BETWEEN 2 AND {_D18_MAX_DF}
),
occ AS (SELECT doc_id, pos, gram FROM g WHERE gram IN (SELECT gram FROM dfq)),
seeds AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a,
         a.pos - b.pos AS diag
  FROM occ a JOIN occ b ON a.gram = b.gram AND a.doc_id < b.doc_id
),
isl AS (
  SELECT id_a, id_b, diag, pos_a,
         pos_a - ROW_NUMBER() OVER (
           PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS grp
  FROM seeds
),
runs AS (
  SELECT id_b, MIN(pos_a) - diag AS start_b,
         COUNT(*) + {_D18_SEED - 1} AS len
  FROM isl GROUP BY id_a, id_b, diag, grp
),
cov AS (
  SELECT DISTINCT id_b AS doc_id,
         unnest(generate_series(start_b, start_b + len - 1)) AS pos
  FROM runs WHERE len >= {_D18_MIN_LEN}
),
tp AS (
  SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos, toks
  FROM t WHERE len(toks) >= 1
),
kept AS (
  SELECT tp.doc_id, tp.pos, tp.toks[tp.pos] AS tok
  FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.pos = cov.pos
  WHERE cov.doc_id IS NULL
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS clean
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(len(t.toks) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
       md5(COALESCE(a.clean, '')) AS clean_digest
FROM t LEFT JOIN agg a USING (doc_id)
ORDER BY t.doc_id
"""


@query("d19_substring_scrub", oracle=D19_ORACLE)
def d19(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    out = dedup.scrub_maximal_matches(
        spark.table("documents"),
        id_col="doc_id",
        text_col="text",
        seed_len=_D18_SEED,
        min_len=_D18_MIN_LEN,
        max_doc_freq=_D18_MAX_DF,
    )
    toks = text.tokens(F.col("text"))
    ktoks = F.filter(
        F.split(F.col("clean_text"), r"\s+"), lambda t: t != ""
    )
    return out.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        (F.size(toks) - F.size(ktoks)).cast("bigint").alias("n_removed"),
        md5_hex(F.col("clean_text").cast("binary")).alias("clean_digest"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------
# d20 — intra-document maximal self-repeats: the exact form of the
# repetition signal t07 approximates with ratio heuristics. Same
# diagonal run-merge as d18 restricted to one document (p < q pairs);
# rep_tokens is the interval-union coverage of each repeat's LATER
# occurrence — what a keep-first intra-doc scrub would remove.
# Per-(doc, gram) occurrence cap mirrors d18's df cap (a degenerate
# doc repeating one gram m times would otherwise seed m^2/2 pairs).
# --------------------------------------------------------------------

_D20_SEED = 4
_D20_MIN_LEN = 8
_D20_MAX_OCC = 50

# The synthetic corpus has no natural >= 8-token intra-doc repeats
# (probed at sf0.01: zero), so the QUERY manufactures a controlled
# one per document — each doc's own first 8 tokens appended at the
# end, built identically in both engines — giving a full-corpus
# result with document-dependent positions/lengths. The operator
# itself is general; the unit/property tests cover organic shapes.

D20_ORACLE = f"""
WITH raw AS (
  SELECT doc_id, {_DUCK_TOKS} AS rt FROM documents
),
t AS (
  SELECT doc_id, list_concat(rt, rt[1:8]) AS toks FROM raw
),
ex AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, len(toks) - {_D20_SEED - 1})) AS pos
  FROM t WHERE len(toks) >= {_D20_SEED}
),
g AS (
  SELECT doc_id, pos,
         array_to_string(toks[pos:pos + {_D20_SEED - 1}], ' ') AS gram
  FROM ex
),
occk AS (
  SELECT doc_id, gram FROM g
  GROUP BY doc_id, gram
  HAVING COUNT(*) BETWEEN 2 AND {_D20_MAX_OCC}
),
occ AS (
  SELECT g.doc_id, g.pos, g.gram FROM g JOIN occk USING (doc_id, gram)
),
seeds AS (
  SELECT a.doc_id, a.pos AS pos_a, b.pos - a.pos AS diag
  FROM occ a JOIN occ b
    ON a.doc_id = b.doc_id AND a.gram = b.gram AND b.pos > a.pos
),
isl AS (
  SELECT doc_id, diag, pos_a,
         pos_a - ROW_NUMBER() OVER (
           PARTITION BY doc_id, diag ORDER BY pos_a) AS grp
  FROM seeds
),
runs AS (
  SELECT doc_id,
         MIN(pos_a) + diag AS start_q,
         MIN(pos_a) + diag + COUNT(*) + {_D20_SEED - 1} AS end_q,
         COUNT(*) + {_D20_SEED - 1} AS match_len
  FROM isl GROUP BY doc_id, diag, grp
),
fr AS (SELECT * FROM runs WHERE match_len >= {_D20_MIN_LEN}),
sweep AS (
  SELECT doc_id, start_q, end_q, match_len,
         MAX(end_q) OVER (
           PARTITION BY doc_id ORDER BY start_q, end_q
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM fr
)
SELECT doc_id,
       COUNT(*) AS n_rep_matches,
       MAX(match_len) AS max_len,
       CAST(SUM(GREATEST(0, end_q - GREATEST(COALESCE(prev_end, 0), start_q)))
            AS BIGINT) AS rep_tokens
FROM sweep GROUP BY doc_id
ORDER BY doc_id
"""


@query("d20_self_repeats", oracle=D20_ORACLE)
def d20(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    toks = text.tokens(F.col("text"))
    chorus = spark.table("documents").select(
        "doc_id",
        F.concat_ws(
            " ", F.col("text"), F.concat_ws(" ", F.slice(toks, 1, 8))
        ).alias("text"),
    )
    return dedup.self_repeat_stats(
        chorus,
        id_col="doc_id",
        text_col="text",
        seed_len=_D20_SEED,
        min_len=_D20_MIN_LEN,
        max_gram_occ=_D20_MAX_OCC,
    ).orderBy("doc_id")


# --------------------------------------------------------------------
# p10 — composed RefinedWeb-style curation pipeline (Penedo et al.
# 2023 MacroData Refinement, public): quality gate -> exact dedup ->
# fuzzy (jaccard) dedup -> exact-substring removal accounting, one
# lazy composition, reported per source. Each stage is one of the
# repo's first-class operators (text.tokens gate, d01 digest dedup,
# d03 capped posting-list jaccard, d18/d19 maximal-match coverage);
# the oracle replays the whole chain as a single CTE pipeline.
# Fuzzy drop rule: a doc is dropped if ANY smaller-id doc pairs with
# it at jaccard >= 0.8 (independent of whether that doc itself
# survived) — deterministic, one pass, no chained re-evaluation.
# --------------------------------------------------------------------

_P10_MIN_TOKS = 20
_P10_DIVERSITY = 0.3
_P10_JACC = 0.8
_P10_MAX_DF = 50

P10_ORACLE = f"""
WITH raw AS (
  SELECT source, doc_id, text, {_DUCK_TOKS} AS toks FROM documents
),
q AS (
  SELECT * FROM raw
  WHERE len(toks) >= {_P10_MIN_TOKS}
    AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
        >= {_P10_DIVERSITY}
),
ex AS (
  SELECT source, doc_id, text, toks FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM q
  ) WHERE rn = 1
),
sh AS (SELECT doc_id, list_distinct({_duck_shingles(3)}) AS s FROM ex),
shx AS (SELECT doc_id, unnest(s) AS sg FROM sh),
dfreq AS (SELECT sg, COUNT(*) AS df FROM shx GROUP BY sg),
shx2 AS (
  SELECT e.doc_id, e.sg FROM shx e JOIN dfreq d USING (sg)
  WHERE d.df BETWEEN 2 AND {_P10_MAX_DF}
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ninter
  FROM shx2 a JOIN shx2 b ON a.sg = b.sg AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(s) AS n FROM sh),
dropped AS (
  SELECT DISTINCT i.id_b AS doc_id
  FROM inter i
  JOIN sizes sa ON i.id_a = sa.doc_id
  JOIN sizes sb ON i.id_b = sb.doc_id
  WHERE CAST(i.ninter AS DOUBLE) / (sa.n + sb.n - i.ninter) >= {_P10_JACC}
),
fz AS (
  SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
),
gx AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, len(toks) - {_D18_SEED - 1})) AS pos
  FROM fz WHERE len(toks) >= {_D18_SEED}
),
g AS (
  SELECT doc_id, pos,
         array_to_string(toks[pos:pos + {_D18_SEED - 1}], ' ') AS gram
  FROM gx
),
dfq AS (
  SELECT gram FROM (
    SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY gram
  ) WHERE nd BETWEEN 2 AND {_D18_MAX_DF}
),
occ AS (SELECT doc_id, pos, gram FROM g WHERE gram IN (SELECT gram FROM dfq)),
seeds AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a,
         a.pos - b.pos AS diag
  FROM occ a JOIN occ b ON a.gram = b.gram AND a.doc_id < b.doc_id
),
isl AS (
  SELECT id_a, id_b, diag, pos_a,
         pos_a - ROW_NUMBER() OVER (
           PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS grp
  FROM seeds
),
runs AS (
  SELECT id_b, MIN(pos_a) - diag AS s,
         MIN(pos_a) - diag + COUNT(*) + {_D18_SEED - 1} AS e,
         COUNT(*) + {_D18_SEED - 1} AS match_len
  FROM isl GROUP BY id_a, id_b, diag, grp
),
fr AS (SELECT id_b AS doc_id, s, e FROM runs WHERE match_len >= {_D18_MIN_LEN}),
sweep AS (
  SELECT doc_id, s, e,
         MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS prev_e
  FROM fr
),
removed AS (
  SELECT doc_id,
         SUM(GREATEST(0, e - GREATEST(COALESCE(prev_e, 0), s))) AS rm
  FROM sweep GROUP BY doc_id
),
rawc AS (SELECT source, COUNT(*) AS n_raw FROM documents GROUP BY source),
qc AS (SELECT source, COUNT(*) AS n_gated FROM q GROUP BY source),
exc AS (SELECT source, COUNT(*) AS n_exact FROM ex GROUP BY source),
fzs AS (
  SELECT f.source, COUNT(*) AS n_fuzzy,
         CAST(SUM(len(f.toks) - COALESCE(r.rm, 0)) AS BIGINT) AS kept_tokens,
         CAST(SUM(COALESCE(r.rm, 0)) AS BIGINT) AS removed_tokens
  FROM fz f LEFT JOIN removed r USING (doc_id) GROUP BY f.source
)
SELECT rawc.source, rawc.n_raw,
       COALESCE(qc.n_gated, 0) AS n_gated,
       COALESCE(exc.n_exact, 0) AS n_exact,
       COALESCE(fzs.n_fuzzy, 0) AS n_fuzzy,
       COALESCE(fzs.kept_tokens, 0) AS kept_tokens,
       COALESCE(fzs.removed_tokens, 0) AS removed_tokens
FROM rawc
LEFT JOIN qc USING (source)
LEFT JOIN exc USING (source)
LEFT JOIN fzs USING (source)
ORDER BY source
"""


def p10_stage_frames(
    spark: SparkSession, sf_dir: str
) -> dict[str, DataFrame]:
    """The four composed stages of p10 as separate DataFrames, in
    dependency order: ``gate`` → ``exact`` → ``fuzzy`` (jaccard
    anti-join survivors) → ``counts`` (substring-removal accounting).

    Exists so bench.py can persist+materialize each frame and
    attribute wall/shuffle to ONE stage (VERDICT r6 item 3) while the
    p10 query itself consumes exactly the same lazy plans — one
    definition, two uses, no drift.
    """
    from arc_jupyter_spark.operators.text import tokens

    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    toks = tokens(F.col("text"))
    # gated and exact each feed MULTIPLE branches of the one final
    # plan (qc reads gated; exc, the jaccard pair evidence, the fuzzy
    # anti-join and the substring accounting all read exact) — without
    # pinning, the static plan re-ran the tokenize+gate(+digest-dedup)
    # chain per branch: 12 documents scans / 41 exchanges, zero
    # ReusedExchange (e0f20d3:plans/r09/p10_refinedweb_pipeline_before.txt).
    # Lazy localCheckpoints pin one RDD each inside the single action,
    # so every branch shares a single evaluation (guide §5: cut
    # lineage/recompute for a reused intermediate).
    gated = docs.where(
        (F.size(toks) >= _P10_MIN_TOKS)
        & (
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
            >= _P10_DIVERSITY
        )
    ).select("source", "doc_id", "text").transform(materialize_lazy)
    exact = dedup.exact_dedup_by_digest(
        gated, "text", "doc_id"
    ).transform(materialize_lazy)
    pairs = dedup.jaccard_pairs(
        exact,
        id_col="doc_id",
        text_col="text",
        shingle_len=3,
        threshold=_P10_JACC,
        max_doc_freq=_P10_MAX_DF,
    )
    # fuzzy feeds THREE consumers (the gram explode inside the
    # substring accounting, its n_tokens projection, and the fzs
    # rollup in the final query) — unpinned, each re-ran the whole
    # jaccard candidate machinery + anti-join (9 LeftAnti subtrees in
    # the previous after-plan). Same §5 pin as gated/exact.
    fuzzy = exact.join(
        pairs.select(F.col("id_b").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    ).transform(materialize_lazy)
    counts = dedup.substring_removal_counts(
        fuzzy,
        id_col="doc_id",
        text_col="text",
        seed_len=_D18_SEED,
        min_len=_D18_MIN_LEN,
        max_doc_freq=_D18_MAX_DF,
    )
    return {"gate": gated, "exact": exact, "fuzzy": fuzzy,
            "counts": counts}


@query("p10_refinedweb_pipeline", oracle=P10_ORACLE)
def p10(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = p10_stage_frames(spark, sf_dir)
    docs = spark.table("documents")
    gated, exact = frames["gate"], frames["exact"]
    fuzzy, counts = frames["fuzzy"], frames["counts"]
    fzs = (
        fuzzy.select("source", "doc_id")
        .join(counts, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_fuzzy"),
            F.sum(F.col("n_tokens") - F.col("removed_tokens")).alias(
                "kept_tokens"
            ),
            F.sum("removed_tokens").alias("removed_tokens"),
        )
    )
    rawc = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_raw"))
    qc = gated.groupBy("source").agg(F.count(F.lit(1)).alias("n_gated"))
    exc = exact.groupBy("source").agg(F.count(F.lit(1)).alias("n_exact"))
    zero = F.lit(0).cast("bigint")
    return (
        rawc.join(qc, "source", "left")
        .join(exc, "source", "left")
        .join(fzs, "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce("n_gated", zero).alias("n_gated"),
            F.coalesce("n_exact", zero).alias("n_exact"),
            F.coalesce("n_fuzzy", zero).alias("n_fuzzy"),
            F.coalesce("kept_tokens", zero).alias("kept_tokens"),
            F.coalesce("removed_tokens", zero).alias("removed_tokens"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# t41 — substring-level eval contamination audit. t11 checks fixed
# 13-gram membership; this reports the MAXIMAL verbatim leaks between
# a held-out eval slice (doc_id % 20 == 0, the deterministic
# benchmark stand-in) and the training corpus (the rest), via the
# cross-table diagonal run-merge (operators/dedup.py:
# cross_match_pairs). Per eval doc: how many maximal leaked spans,
# the longest, and how many distinct corpus docs carry one.
# --------------------------------------------------------------------

_T41_SEED = 5
_T41_MIN_LEN = 10
_T41_MAX_DF = 50

T41_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
),
ex AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, len(toks) - {_T41_SEED - 1})) AS pos
  FROM t WHERE len(toks) >= {_T41_SEED}
),
g AS (
  SELECT doc_id, pos,
         array_to_string(toks[pos:pos + {_T41_SEED - 1}], ' ') AS gram
  FROM ex
),
gp AS (SELECT * FROM g WHERE doc_id % 20 = 0),
gc0 AS (SELECT * FROM g WHERE doc_id % 20 <> 0),
dfq AS (
  SELECT gram FROM (
    SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM gc0 GROUP BY gram
  ) WHERE nd <= {_T41_MAX_DF}
),
gc AS (SELECT * FROM gc0 WHERE gram IN (SELECT gram FROM dfq)),
seeds AS (
  SELECT a.doc_id AS id_probe, b.doc_id AS id_corpus, a.pos AS pos_p,
         a.pos - b.pos AS diag
  FROM gp a JOIN gc b ON a.gram = b.gram
),
isl AS (
  SELECT id_probe, id_corpus, diag, pos_p,
         pos_p - ROW_NUMBER() OVER (
           PARTITION BY id_probe, id_corpus, diag ORDER BY pos_p) AS grp
  FROM seeds
),
runs AS (
  SELECT id_probe, id_corpus, COUNT(*) + {_T41_SEED - 1} AS match_len
  FROM isl GROUP BY id_probe, id_corpus, diag, grp
),
fr AS (SELECT * FROM runs WHERE match_len >= {_T41_MIN_LEN})
SELECT id_probe,
       COUNT(*) AS n_leaked_spans,
       MAX(match_len) AS max_len,
       COUNT(DISTINCT id_corpus) AS n_corpus_docs
FROM fr GROUP BY id_probe
ORDER BY id_probe
"""


@query("t41_substring_contamination", oracle=T41_ORACLE)
def t41(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    probe = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    runs = dedup.cross_match_pairs(
        probe,
        corpus,
        id_col="doc_id",
        text_col="text",
        seed_len=_T41_SEED,
        min_len=_T41_MIN_LEN,
        max_doc_freq=_T41_MAX_DF,
    )
    return (
        runs.groupBy(F.col("id_probe"))
        .agg(
            F.count(F.lit(1)).alias("n_leaked_spans"),
            F.max("match_len").alias("max_len"),
            F.countDistinct("id_corpus").alias("n_corpus_docs"),
        )
        .orderBy("id_probe")
    )


# --------------------------------------------------------------------
# m09 — REAL pixel round trip: per doc a standards-compliant RGB PNG
# is synthesized (deterministic bytes from doc_id), decoded back by
# the pure-stdlib pixel decoder (zlib inflate + all five RFC 2083
# filters), and the exact byte sum is reported. The oracle never
# decodes anything — it recomputes the pixel arithmetic
# algebraically — so a single flipped bit anywhere in the
# encode → Arrow → inflate → unfilter path breaks the hash. Closes
# the loop the m01-m04 digest stubs could not: real codec bytes, not
# digest arithmetic, across the Arrow batch boundary.
# --------------------------------------------------------------------

M09_ORACLE = """
WITH d AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
),
px AS (
  SELECT doc_id, w, h,
         unnest(generate_series(0, w * h * 3 - 1)) AS k
  FROM d
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(SUM((doc_id * 7 + 13 * k) % 256) AS BIGINT) AS pixel_sum
FROM px GROUP BY doc_id, w, h
ORDER BY doc_id
"""


@query("m09_png_pixel_roundtrip", oracle=M09_ORACLE)
def m09(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators import multimodal

    load_views(spark, sf_dir, "documents")
    ids = spark.table("documents").select("doc_id")
    pngs = multimodal.synthesize_png(ids, id_col="doc_id")
    stats = multimodal.image_pixel_stats(pngs, binary_col="value")
    return stats.select(
        "doc_id",
        F.col("pixel_stats.width").alias("width"),
        F.col("pixel_stats.height").alias("height"),
        F.col("pixel_stats.pixel_sum").alias("pixel_sum"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------
# t38 — DSIR importance weights (Xie et al., public): rank the
# non-English slice of the corpus by how English-target-like its
# hashed-bigram distribution is — the importance-resampling signal a
# pretraining mixture uses to upweight target-domain-like raw data.
# Integer surrogate ratio ((n_target+1)*1e6) DIV (n_raw+1) summed per
# doc; buckets via the portable md5 hash (md5_prefix_hash % 4096), which
# the oracle reproduces exactly.
# --------------------------------------------------------------------

_T38_BUCKETS = 4096
_DUCK_PIPE_BIGRAMS = (
    "list_transform(generate_series(1, len(toks) - 1), "
    "j -> toks[j] || '|' || toks[j + 1])"
)

_T38_CTES = f"""tgt AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents WHERE lang = 'en'
),
raw AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents WHERE lang <> 'en'
),
bt AS (
  SELECT {duck_md5_prefix_hash("bg")} % {_T38_BUCKETS} AS b
  FROM (SELECT unnest({_DUCK_PIPE_BIGRAMS}) AS bg FROM tgt WHERE len(toks) >= 2)
),
nt AS (SELECT b, COUNT(*) AS _nt FROM bt GROUP BY b),
bro AS (
  SELECT doc_id,
         {duck_md5_prefix_hash("bg")} % {_T38_BUCKETS} AS b
  FROM (SELECT doc_id, unnest({_DUCK_PIPE_BIGRAMS}) AS bg
        FROM raw WHERE len(toks) >= 2)
),
nr AS (SELECT b, COUNT(*) AS _nr FROM bro GROUP BY b),
scored AS (
  SELECT o.doc_id,
         CAST(SUM((COALESCE(t._nt, 0) + 1) * 1000000 // (r._nr + 1))
              AS BIGINT) AS sum_ratio_e6,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams
  FROM bro o
  LEFT JOIN nt t USING (b)
  JOIN nr r USING (b)
  GROUP BY o.doc_id
)
"""

T38_ORACLE = f"""
WITH {_T38_CTES}
SELECT doc_id, sum_ratio_e6, n_bigrams
FROM scored
ORDER BY CAST(sum_ratio_e6 AS DOUBLE) / n_bigrams DESC, doc_id
LIMIT 20
"""


@query("t38_dsir_importance", oracle=T38_ORACLE)
def t38(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = dedup._parallelize(spark.table("documents"))
    scored = text.dsir_importance(
        docs.where(F.col("lang") == "en"),
        docs.where(F.col("lang") != "en"),
        "doc_id",
        "text",
        buckets=_T38_BUCKETS,
    )
    return scored.orderBy(
        (F.col("sum_ratio_e6").cast("double") / F.col("n_bigrams")).desc(),
        "doc_id",
    ).limit(20)


# --------------------------------------------------------------------
# p09 — DSIR importance RESAMPLING (the second half of Xie et al.:
# t38 computes the weights; this pipeline actually selects). Each
# non-English doc's acceptance percentage is its mean importance
# ratio scaled to [0, 100] (mean_e6 DIV 10_000, capped), and a
# deterministic md5 hash of the doc id plays the uniform draw — so
# target-like docs are kept proportionally more often, reproducibly
# (no RNG; the standard hash-as-uniform trick every sampler in this
# repo uses). Output: per-lang selection profile. Everything integer.
# --------------------------------------------------------------------

P09_ORACLE = f"""
WITH {_T38_CTES},
sel AS (
  SELECT d.doc_id, d.lang,
         LEAST(s.sum_ratio_e6 // s.n_bigrams // 10000, 100) AS acc,
         {duck_md5_prefix_hash("CAST(d.doc_id AS VARCHAR)")}
           % 100 AS draw,
         s.n_bigrams
  FROM documents d JOIN scored s USING (doc_id)
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN draw < acc THEN 1 ELSE 0 END) AS BIGINT)
         AS n_selected,
       CAST(SUM(CASE WHEN draw < acc THEN n_bigrams ELSE 0 END)
            AS BIGINT) AS selected_bigrams
FROM sel
GROUP BY lang
ORDER BY lang
"""


@query("p09_dsir_resample", oracle=P09_ORACLE)
def p09(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = dedup._parallelize(spark.table("documents"))
    scored = text.dsir_importance(
        docs.where(F.col("lang") == "en"),
        docs.where(F.col("lang") != "en"),
        "doc_id",
        "text",
        buckets=_T38_BUCKETS,
    )
    sel = (
        spark.table("documents")
        .join(scored, "doc_id")
        .select(
            "lang",
            "n_bigrams",
            F.least(
                F.expr("sum_ratio_e6 DIV n_bigrams DIV 10000"), F.lit(100)
            ).alias("acc"),
            (md5_prefix_hash(F.col("doc_id").cast("string")) % 100).alias(
                "draw"
            ),
        )
    )
    keep = F.col("draw") < F.col("acc")
    return (
        sel.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(keep.cast("bigint")).alias("n_selected"),
            F.sum(
                F.when(keep, F.col("n_bigrams")).otherwise(0)
            ).alias("selected_bigrams"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------
# t39 — Heaps-law vocabulary growth curve (operators/text.py
# vocab_growth): new-vs-cumulative distinct words per md5 doc shard —
# the tokenizer-budget diagnostic. A word's contributing shard is the
# MIN shard containing it (an aggregate — ingest-order-free); the
# cumulative sum runs over the 8-row profile (bounded-domain window,
# deliberately unpartitioned).
# --------------------------------------------------------------------

_T39_SHARDS = 8

T39_ORACLE = f"""
WITH occ AS (
  SELECT {duck_md5_prefix_hash("CAST(doc_id AS VARCHAR)")}
           % {_T39_SHARDS} + 1 AS shard,
         unnest({_DUCK_TOKS}) AS w
  FROM documents
),
tokens_by AS (
  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM occ GROUP BY shard
),
first AS (SELECT w, MIN(shard) AS shard FROM occ GROUP BY w),
new_by AS (
  SELECT shard, CAST(COUNT(*) AS BIGINT) AS vocab_new FROM first GROUP BY shard
)
SELECT t.shard, t.n_tokens,
       CAST(COALESCE(n.vocab_new, 0) AS BIGINT) AS vocab_new,
       CAST(SUM(COALESCE(n.vocab_new, 0))
            OVER (ORDER BY t.shard
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS vocab_cum
FROM tokens_by t LEFT JOIN new_by n USING (shard)
ORDER BY t.shard
"""


@query("t39_vocab_growth", oracle=T39_ORACLE)
def t39(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = dedup._parallelize(spark.table("documents"))
    return text.vocab_growth(docs, "doc_id", "text", shards=_T39_SHARDS)


# --------------------------------------------------------------------
# t40 — quality-filter calibration (operators/text.py
# calibration_report): the reliability table of the t01 quality score
# against an "is English" label — the table a pipeline reads to SET
# its filter threshold, with per-bin |accuracy - confidence| gaps
# (their weighted sum is the expected calibration error). Score
# quantized once at e8 (exact.py), as t01 does; everything after
# is BIGINT arithmetic, so bin membership is engine-exact.
# --------------------------------------------------------------------

_T40_BINS = 8

T40_ORACLE = f"""
WITH t AS (
  SELECT lang, {_DUCK_TOKS} AS toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '{_DUCK_ALNUM_SPACE}', '', 'g')) AS n_punct
  FROM documents
),
m AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         CAST(len(toks) AS DOUBLE) AS wc,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS mwl,
         CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS pr
  FROM t
),
qz AS (
  SELECT y,
         {sql_quantize(_DUCK_QUALITY, 8)} AS q
  FROM m
),
agg AS (
  SELECT LEAST(q // {100_000_000 // _T40_BINS}, {_T40_BINS - 1}) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         CAST(SUM(q) AS BIGINT) AS sq
  FROM qz GROUP BY 1
)
SELECT bin, n, n_pos,
       (n_pos * 1000000) // n AS pos_rate_e6,
       (sq // n) // 100 AS mean_conf_e6,
       ABS((n_pos * 1000000) // n - (sq // n) // 100) AS gap_e6
FROM agg ORDER BY bin
"""


@query("t40_quality_calibration", oracle=T40_ORACLE)
def t40(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = dedup._parallelize(spark.table("documents"))
    return text.calibration_report(
        docs,
        score=text.quality_score(F.col("text")),
        label=(F.col("lang") == "en"),
        bins=_T40_BINS,
    )


# --------------------------------------------------------------------
# d21 — content-defined chunking (CDC) dedup profile: the rsync/LBFS
# rolling-window cut rule (operators/dedup.py: cdc_chunks) makes
# chunk boundaries shift-invariant, so repeated passages dedup by
# chunk digest across documents with NO pair join — the storage-level
# dedup primitive for a boilerplate-heavy 100 TB corpus. Per source:
# chunk count, distinct digests, exact char totals, and the integer
# dedup percentage. Map-only chunking; the only shuffle carries
# (source, digest, len) — never text.
# --------------------------------------------------------------------

from arc_jupyter_spark.workloads._duck_sql import (
    CDC_MASK as _D21_MASK,
    CDC_WINDOW as _D21_W,
)

D21_ORACLE = f"""
WITH {_duck_cdc_dist(_D21_W, _D21_MASK)}
SELECT source,
       CAST(SUM(n_occ) AS BIGINT) AS n_chunks,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(n_occ * ln) AS BIGINT) AS total_chars,
       CAST(SUM(ln) AS BIGINT) AS uniq_chars,
       CAST(CASE WHEN SUM(n_occ * ln) > 0
                 THEN (SUM(n_occ * ln) - SUM(ln)) * 10000
                      // SUM(n_occ * ln)
                 ELSE 0 END AS BIGINT) AS dedup_pct_e4
FROM dist GROUP BY source ORDER BY source
"""


@query("d21_cdc_chunks", oracle=D21_ORACLE)
def d21(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents").select(
        "source", "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    ch = dedup.cdc_chunks(docs, id_col="doc_id", text_col="text",
                          window=_D21_W, mask=_D21_MASK)
    dist = (
        ch.select("source", md5_hex("chunk").alias("dg"),
                  F.length("chunk").cast("bigint").alias("ln"))
        .groupBy("source", "dg")
        .agg(F.count(F.lit(1)).alias("n_occ"), F.max("ln").alias("ln"))
    )
    return (
        dist.groupBy("source")
        .agg(
            F.sum("n_occ").alias("n_chunks"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(F.col("n_occ") * F.col("ln")).alias("total_chars"),
            F.sum("ln").alias("uniq_chars"),
        )
        .select(
            "source", "n_chunks", "n_distinct", "total_chars", "uniq_chars",
            F.expr(
                "CAST(CASE WHEN total_chars > 0 THEN "
                "(total_chars - uniq_chars) * 10000 DIV total_chars "
                "ELSE 0 END AS BIGINT)"
            ).alias("dedup_pct_e4"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# g06 — integer HITS (operators/graph.py: hits): hub/authority over
# the directed customer→supplier purchase graph. Unnormalized integer
# scores (each update is linear in the other score vector, so the
# RANKING matches normalized HITS — see the operator docstring);
# 2 iterations unrolled exactly by the oracle. Top-20 authorities =
# the suppliers best-connected to well-connected buyers.
# --------------------------------------------------------------------

G06_ORACLE = """
WITH e AS (
  SELECT DISTINCT o_custkey AS c, -(l_suppkey + 1) AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
a1 AS (SELECT s, COUNT(*) AS a FROM e GROUP BY s),
h1 AS (SELECT c, SUM(a) AS h FROM e JOIN a1 USING (s) GROUP BY c),
a2 AS (SELECT s, SUM(h) AS a FROM e JOIN h1 USING (c) GROUP BY s)
SELECT s AS node, CAST(a AS BIGINT) AS authority
FROM a2 ORDER BY authority DESC, node LIMIT 20
"""


@query("g06_hits", oracle=G06_ORACLE)
def g06(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "orders", "lineitem")
    edges = spark.sql(
        """SELECT DISTINCT o_custkey AS src, -(l_suppkey + 1) AS dst
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey"""
    )
    # authority_only: g06 ranks authorities, so the operator skips the
    # final hub update + full-outer stitch (2 joins + 1 shuffle fewer;
    # every returned authority is >= 1, so the > 0 filter keeps the
    # declared result identical — re-verified against the oracle)
    scores = graph.hits(edges, iterations=2, assume_distinct=True,
                        authority_only=True)
    return (
        scores.where(F.col("authority") > 0)
        .select("node", "authority")
        .orderBy(F.desc("authority"), "node")
        .limit(20)
    )


# --------------------------------------------------------------------
# t42 — epoch drift monitor: total-variation distance between two
# corpus epochs' token-length histograms, per source — the "did my
# ingest distribution move?" check a continuously-trained model's
# data pipeline runs every batch. TV = Σ|pA−pB|/2 stays EXACT by
# clearing denominators: Σ|cA·NB − cB·NA| * 1e6 DIV (2·NA·NB) is pure
# BIGINT (no logs, unlike PSI/KL — transcendental libm calls are not
# bit-portable across engines). Headroom: NA·NB must stay below
# ~9e18/1e6 per source (~6.7e7 docs/source/epoch at e6 scale; drop to
# e3 beyond that). Two partial-agg shuffles, both on (source, bucket).
# --------------------------------------------------------------------

T42_ORACLE = f"""
WITH d AS (
  SELECT source, doc_id, len({_DUCK_TOKS}) AS wc FROM documents
),
bk AS (
  SELECT source, LEAST(9, wc // 20) AS bucket,
         CASE WHEN (doc_id // 20) % 2 = 0 THEN 1 ELSE 0 END AS is_a
  FROM d
),
c AS (
  SELECT source, bucket, SUM(is_a) AS ca, SUM(1 - is_a) AS cb
  FROM bk GROUP BY source, bucket
),
t AS (SELECT source, SUM(ca) AS na, SUM(cb) AS nb FROM c GROUP BY source),
j AS (
  SELECT c.source, ABS(c.ca * t.nb - c.cb * t.na) AS dev, t.na, t.nb
  FROM c JOIN t USING (source) WHERE t.na > 0 AND t.nb > 0
)
SELECT source,
       CAST(MAX(na) AS BIGINT) AS n_a,
       CAST(MAX(nb) AS BIGINT) AS n_b,
       CAST(SUM(dev) * 1000000 // (2 * MAX(na) * MAX(nb)) AS BIGINT)
         AS tv_e6
FROM j GROUP BY source ORDER BY source
"""


@query("t42_epoch_drift", oracle=T42_ORACLE)
def t42(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    wc = F.size(text.tokens(F.col("text")))
    per = docs.select(
        "source",
        F.least(F.lit(9), F.floor(wc / F.lit(20))).cast("int")
        .alias("bucket"),
        # epoch split on doc_id DIV 20, NOT parity: the fixture
        # assigns doc_ids round-robin over the 20 sources, so
        # doc_id % 2 is perfectly confounded with source
        F.when(F.expr("(doc_id DIV 20) % 2") == 0, 1)
        .otherwise(0).alias("is_a"),
    )
    counts = per.groupBy("source", "bucket").agg(
        F.sum("is_a").alias("ca"), F.sum(1 - F.col("is_a")).alias("cb")
    )
    totals = counts.groupBy("source").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    return (
        counts.join(totals, "source")
        .where((F.col("na") > 0) & (F.col("nb") > 0))
        .groupBy("source")
        .agg(
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
            F.sum(F.abs(F.col("ca") * F.col("nb")
                        - F.col("cb") * F.col("na"))).alias("sum_dev"),
        )
        .select(
            "source",
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            F.expr("CAST(sum_dev * 1000000 DIV (2 * na * nb) AS BIGINT)")
            .alias("tv_e6"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# t43 — KMV-sketch cross-source overlap: per source keep the K
# smallest portable 5-gram shingle hashes (bottom-k sketch,
# WindowGroupLimit
# pushes the top-k below the shuffle — the t17 pattern), then for
# every source pair estimate Jaccard from the merged bottom-k:
# J ≈ |{h ∈ bottom_k(A∪B)} present in both sketches| / k_eff. The
# S²·K pair space is tiny (sketches, never documents); the only
# full-corpus pass is the hash projection. Deterministic integers
# end-to-end — the estimator itself is oracle-checkable, not just
# its inputs. Exact-overlap cousin: t21_source_overlap.
# --------------------------------------------------------------------

_T43_K = 128

T43_ORACLE = f"""
WITH t AS (
  SELECT source, {_DUCK_TOKS} AS toks FROM documents
),
hv AS (
  SELECT DISTINCT source,
         {duck_md5_prefix_hash("s")} AS h
  FROM (SELECT source, unnest({_duck_shingles(5)}) AS s FROM t)
),
sk AS (
  SELECT source, h FROM (
    SELECT source, h,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM hv
  ) WHERE rn <= {_T43_K}
),
srcs AS (SELECT DISTINCT source FROM sk),
tag AS (
  SELECT LEAST(a.source, b.source) AS src_a,
         GREATEST(a.source, b.source) AS src_b,
         a.source AS origin, a.h
  FROM sk a JOIN srcs b ON a.source <> b.source
),
m AS (
  SELECT src_a, src_b, h,
         CASE WHEN COUNT(DISTINCT origin) = 2 THEN 1 ELSE 0 END AS in_both
  FROM tag GROUP BY src_a, src_b, h
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn
  FROM m
)
SELECT src_a, src_b,
       CAST(COUNT(*) AS BIGINT) AS k_eff,
       CAST(SUM(in_both) AS BIGINT) AS n_common,
       CAST(SUM(in_both) * 1000000 // COUNT(*) AS BIGINT) AS jacc_est_e6
FROM r WHERE rn <= {_T43_K}
GROUP BY src_a, src_b ORDER BY src_a, src_b
"""


@query("t43_kmv_overlap", oracle=T43_ORACLE)
def t43(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    hv = docs.select(
        "source",
        F.explode(dedup.word_shingles(F.col("text"), 5)).alias("sg"),
    ).select(
        "source", md5_prefix_hash(F.col("sg")).alias("h")
    )
    # bottom-K DISTINCT hashes per source WITHOUT a corpus-wide
    # distinct first: dense_rank counts distinct h values, and its
    # rank filter is pushed below the one source-keyed shuffle as a
    # WindowGroupLimit (each map task forwards only rows among its
    # local K smallest values) — the old distinct() shuffled the FULL
    # distinct shingle-hash set across (source, h) before the window
    # got to prune anything. The tiny post-filter distinct (≤ K rows
    # per source) dedups the surviving occurrences.
    w = Window.partitionBy("source").orderBy("h")
    sk = (
        hv.withColumn("rn", F.dense_rank().over(w))
        .where(F.col("rn") <= _T43_K)
        .drop("rn")
        .distinct()
    )
    srcs = sk.select("source").distinct()
    tag = (
        sk.alias("a")
        .join(srcs.alias("b"),
              F.col("a.source") != F.col("b.source"))
        .select(
            F.least("a.source", "b.source").alias("src_a"),
            F.greatest("a.source", "b.source").alias("src_b"),
            F.col("a.source").alias("origin"),
            "h",
        )
    )
    merged = tag.groupBy("src_a", "src_b", "h").agg(
        F.when(F.countDistinct("origin") == 2, 1).otherwise(0)
        .alias("in_both")
    )
    w2 = Window.partitionBy("src_a", "src_b").orderBy("h")
    return (
        merged.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= _T43_K)
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("k_eff"),
            F.sum("in_both").alias("n_common"),
        )
        .select(
            "src_a", "src_b", "k_eff", "n_common",
            F.expr("CAST(n_common * 1000000 DIV k_eff AS BIGINT)")
            .alias("jacc_est_e6"),
        )
        .orderBy("src_a", "src_b")
    )


# --------------------------------------------------------------------
# m10 — REAL PCM round trip (the audio twin of m09): a standards-
# compliant 16-bit mono WAV is synthesized per doc (deterministic
# samples from doc_id), fully decoded back by the stdlib PCM decoder,
# and the classic frame-energy voice-activity detector runs over the
# DECODED samples — exact integer Σs² per 64-sample frame. The oracle
# recomputes the sample arithmetic algebraically without decoding, so
# one flipped bit anywhere in encode → Arrow → wave-parse breaks the
# hash. Map-only (mapInPandas both directions).
# --------------------------------------------------------------------

M10_ORACLE = """
WITH d AS (
  SELECT doc_id, 192 + (doc_id % 4) * 64 AS n FROM documents
),
s AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS k FROM d),
v AS (
  SELECT doc_id, n, k // 64 AS frame,
         ((doc_id * 31 + 7 * k * k) % 4096) - 2048 AS smp
  FROM s
),
fe AS (
  SELECT doc_id, n, frame, SUM(smp * smp) AS e
  FROM v GROUP BY doc_id, n, frame
)
SELECT doc_id,
       CAST(MAX(n) AS BIGINT) AS n_samples,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(SUM(CASE WHEN e >= 89000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_voiced,
       CAST(SUM(e) AS BIGINT) AS energy_sum
FROM fe GROUP BY doc_id ORDER BY doc_id
"""


@query("m10_wav_energy_vad", oracle=M10_ORACLE)
def m10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators import multimodal

    load_views(spark, sf_dir, "documents")
    ids = spark.table("documents").select("doc_id")
    wavs = multimodal.synthesize_wav(ids, id_col="doc_id")
    # 89e6 ≈ the synthetic corpus's median frame energy — splits
    # voiced/unvoiced near-evenly so the flag actually discriminates
    stats = multimodal.audio_energy_stats(
        wavs, binary_col="value", threshold=89_000_000
    )
    return stats.select(
        "doc_id",
        F.col("audio_stats.n_samples").alias("n_samples"),
        F.col("audio_stats.n_frames").alias("n_frames"),
        F.col("audio_stats.n_voiced").alias("n_voiced"),
        F.col("audio_stats.energy_sum").alias("energy_sum"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------
# m11 — PNG RESIZE round trip (m09 closed decode; this closes the
# transform): each synthetic PNG is decoded, nearest-neighbor-resized
# to 3x2 by the pure-stdlib kernel (sy = y*h DIV new_h, sx = x*w DIV
# new_w, edge-clamped), re-encoded, and RE-decoded; the reported
# pixel sum is of the resized bytes. The oracle replays the exact
# sampling arithmetic algebraically — a one-pixel kernel difference
# (PIL's bicubic default, a different rounding) breaks the hash.
# --------------------------------------------------------------------

_M11_W, _M11_H = 3, 2

M11_ORACLE = f"""
WITH d AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
),
grid AS (
  SELECT doc_id, w, h, y, x, c,
         LEAST(h - 1, (y * h) // {_M11_H}) AS sy,
         LEAST(w - 1, (x * w) // {_M11_W}) AS sx
  FROM d,
       unnest(generate_series(0, {_M11_H - 1})) AS ty(y),
       unnest(generate_series(0, {_M11_W - 1})) AS tx(x),
       unnest(generate_series(0, 2)) AS tc(c)
)
SELECT doc_id,
       CAST({_M11_W} AS INT) AS width,
       CAST({_M11_H} AS INT) AS height,
       CAST(SUM((doc_id * 7 + 13 * ((sy * w + sx) * 3 + c)) % 256)
            AS BIGINT) AS pixel_sum
FROM grid GROUP BY doc_id ORDER BY doc_id
"""


@query("m11_png_resize_roundtrip", oracle=M11_ORACLE)
def m11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators import multimodal

    load_views(spark, sf_dir, "documents")
    ids = spark.table("documents").select("doc_id")
    pngs = multimodal.synthesize_png(ids, id_col="doc_id")
    stats = multimodal.png_resize_roundtrip_stats(
        pngs, binary_col="value", width=_M11_W, height=_M11_H
    )
    return stats.select(
        "doc_id",
        F.col("resized_stats.width").alias("width"),
        F.col("resized_stats.height").alias("height"),
        F.col("resized_stats.pixel_sum").alias("pixel_sum"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------
# p11 — CDC scrub pipeline: the end-to-end chunk-level dedup d21
# profiles — corpus-wide KEEP-FIRST on chunk digests (first
# occurrence by (doc_id, chunk_idx) survives, every repeat is
# dropped), documents REASSEMBLED from their kept chunks, per-source
# savings + an order-free checksum of every rebuilt document.
#
# Scale shape: the keep-first decision shuffles DIGESTS only (groupBy
# dg with a map-side partial MIN over (doc_id, chunk_idx)); chunk
# text moves through exactly one join on dg and one per-doc
# reassembly shuffle. No window over text, no pair join.
# --------------------------------------------------------------------

P11_ORACLE = f"""
WITH {_duck_cdc_dist(_D21_W, _D21_MASK)},
rk AS (
  SELECT source, doc_id, chunk_idx, chunk,
         ROW_NUMBER() OVER (
           PARTITION BY md5(chunk) ORDER BY doc_id, chunk_idx) AS rn
  FROM ch
),
rebuilt AS (
  SELECT source, doc_id,
         string_agg(CASE WHEN rn = 1 THEN chunk ELSE '' END, ''
                    ORDER BY chunk_idx) AS clean
  FROM rk GROUP BY source, doc_id
),
lens AS (
  SELECT source, doc_id, SUM(length(chunk)) AS orig_chars
  FROM ch GROUP BY source, doc_id
)
SELECT l.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(l.orig_chars) AS BIGINT) AS orig_chars,
       CAST(SUM(length(r.clean)) AS BIGINT) AS kept_chars,
       CAST(SUM(l.orig_chars) - SUM(length(r.clean)) AS BIGINT)
         AS removed_chars,
       CAST(SUM({duck_md5_prefix_hash("r.clean")}) AS BIGINT)
         AS clean_checksum
FROM lens l JOIN rebuilt r ON l.source = r.source AND l.doc_id = r.doc_id
GROUP BY l.source ORDER BY l.source
"""


def p11_stage_frames(
    spark: SparkSession, sf_dir: str
) -> dict[str, DataFrame]:
    """p11's composed stages in dependency order: ``chunk`` (map-only
    CDC chunker + digest) → ``keep_first`` (digest-only groupBy MIN)
    → ``rebuild`` (semi-join survivors + per-doc reassembly joined
    with original lengths). Shared by the p11 query and bench.py's
    per-pipeline breakdown (VERDICT r7 item 2)."""
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents").select(
        "source", "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    ch = dedup.cdc_chunks(docs, id_col="doc_id", text_col="text",
                          window=_D21_W, mask=_D21_MASK)
    # the chunked frame feeds THREE branches of the final plan (the
    # keep-first digest aggregate, the semi-join probe side, and the
    # orig-length rollup); unpinned, the CDC chunker re-ran once per
    # branch — 3 full documents scans + 3 chunking passes in the
    # before plan. A lazy localCheckpoint shares one evaluation
    # (guide §5; the p10/p12/d23 multi-branch pattern).
    dg = ch.withColumn("dg", md5_hex("chunk")).transform(materialize_lazy)
    # keep-first decision on DIGESTS only: map-side partial MIN of the
    # (doc_id, chunk_idx) struct per digest — never text
    firsts = dg.select("dg", "doc_id", "chunk_idx").groupBy("dg").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("_f")
    ).select(
        "dg",
        F.col("_f.doc_id").alias("doc_id"),
        F.col("_f.chunk_idx").alias("chunk_idx"),
    )
    kept = dg.join(firsts, ["dg", "doc_id", "chunk_idx"], "left_semi")
    rebuilt = kept.groupBy("source", "doc_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("chunk_idx", "chunk"))
                ),
                lambda x: x["chunk"],
            ),
        ).alias("clean")
    )
    # lens reads from dg (not ch) so a persisted ``chunk`` frame is
    # reused here too — one chunking pass feeds both branches
    lens = dg.groupBy("source", "doc_id").agg(
        F.sum(F.length("chunk")).alias("orig_chars")
    )
    per_doc = lens.join(rebuilt, ["source", "doc_id"], "left").select(
        "source",
        "orig_chars",
        F.coalesce("clean", F.lit("")).alias("clean"),
    )
    return {"chunk": dg, "keep_first": firsts, "rebuild": per_doc}


@query("p11_cdc_scrub_pipeline", oracle=P11_ORACLE)
def p11(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = p11_stage_frames(spark, sf_dir)["rebuild"]
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("orig_chars").alias("orig_chars"),
            F.sum(F.length("clean")).cast("bigint").alias("kept_chars"),
            (F.sum("orig_chars") - F.sum(F.length("clean")))
            .cast("bigint").alias("removed_chars"),
            F.sum(md5_prefix_hash(F.col("clean")))
            .alias("clean_checksum"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# g07 — k-core decomposition (operators/graph.py kcore): iterative
# peel of the customer↔supplier bipartite graph until every surviving
# node keeps degree >= K within the survivors. The web-graph curation
# primitive C4/CC-style pipelines use as the "well-embedded page"
# gate (link farms and orphan pages fall out of the core). The k-core
# is the UNIQUE maximal subgraph with min-degree >= K, so the oracle
# does not need round-by-round arithmetic parity — it unrolls the
# same peel as chained CTEs with enough rounds to pass the fixpoint
# (sf0.01 converges in 2 peels; 6 rounds of margin, and extra rounds
# past the fixpoint are provably no-ops).
# --------------------------------------------------------------------

_G07_K = 32
# supplier nodes live in the NEGATED namespace (-(l_suppkey+1)): customer
# keys are positive at every scale factor, so the two node domains
# can never collide — unlike an additive offset (1000000 + suppkey),
# which customer ids overrun at true TPC-H SF >= 7. Same convention
# as g01/g03/g06 (and g05's -(l_partkey+1)); the +1 keeps key 0 out of the shared origin.
_G07_EDGES = """SELECT DISTINCT o_custkey AS src, -(l_suppkey + 1) AS dst
   FROM orders JOIN lineitem ON o_orderkey = l_orderkey"""


def _g07_oracle(k: int = _G07_K, rounds: int = 6) -> str:
    ctes = [
        f"p AS MATERIALIZED ({_G07_EDGES})",
        "e0 AS MATERIALIZED (SELECT src, dst FROM p "
        "UNION ALL SELECT dst, src FROM p)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"k{r} AS MATERIALIZED (SELECT src FROM "
            f"(SELECT src, COUNT(*) AS d "
            f"FROM e{r - 1} GROUP BY src) WHERE d >= {k})"
        )
        ctes.append(
            f"e{r} AS MATERIALIZED (SELECT e.src, e.dst FROM e{r - 1} e "
            f"JOIN k{r} a ON e.src = a.src "
            f"JOIN k{r} b ON e.dst = b.src)"
        )
    return f"""
WITH {', '.join(ctes)},
core AS (
  SELECT src AS node, COUNT(*) AS degree
  FROM e{rounds} GROUP BY src HAVING COUNT(*) >= {k}
)
SELECT CAST(degree // 16 AS BIGINT) AS degree_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(node) AS BIGINT) AS min_node,
       CAST(MAX(node) AS BIGINT) AS max_node,
       CAST(SUM(node) AS BIGINT) AS id_sum,
       CAST(SUM(degree) AS BIGINT) AS degree_sum
FROM core GROUP BY 1 ORDER BY 1
"""


@query("g07_kcore", oracle=_g07_oracle())
def g07(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "orders", "lineitem")
    pairs = spark.sql(_G07_EDGES)
    edges = pairs.unionAll(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    core = graph.kcore(edges, k=_G07_K, assume_distinct=True)
    return (
        core.groupBy(
            F.expr("degree div 16").cast("bigint").alias("degree_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
            F.sum("node").alias("id_sum"),
            F.sum("degree").alias("degree_sum"),
        )
        .orderBy("degree_bucket")
    )


# --------------------------------------------------------------------
# d22 — edit-distance-verified near-dup (operators/dedup.py
# edit_verified_pairs): the classic two-phase verify — shingle-Jaccard
# candidates (d03's posting-list machinery, threshold dropped to 0.02
# so FALSE candidates reach the verifier too), then EXACT Levenshtein
# confirms or rejects each pair. Jaccard over shingle sets is blind
# to word order and multiplicity; edit distance is the sequence-aware
# ground truth but O(n*m) per pair, so it only ever runs on the
# candidate list. The output keeps rejected candidates with kept=0 —
# the gate's discrimination is the thing under test (at sf0.01 one
# genuine near-dup passes at rel ~1.9%, the word-soup coincidences
# fail at >50%).
# --------------------------------------------------------------------

_D22_CAND_TAU = 0.02
_D22_KEEP_REL_E6 = 300_000

D22_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, source,
         list_distinct({_duck_shingles(3).replace('toks', _DUCK_TOKS)}) AS s
  FROM documents
),
ex AS (SELECT doc_id, source, unnest(s) AS sg FROM sh),
dfreq AS (
  SELECT source, sg, COUNT(*) AS df FROM ex GROUP BY source, sg
),
ex2 AS (
  SELECT e.doc_id, e.source, e.sg
  FROM ex e JOIN dfreq d USING (source, sg)
  WHERE d.df BETWEEN 2 AND {_D03_MAX_DF}
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ninter
  FROM ex2 a JOIN ex2 b ON a.source = b.source AND a.sg = b.sg
                        AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(s) AS n FROM sh),
cand AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes sa ON i.id_a = sa.doc_id
  JOIN sizes sb ON i.id_b = sb.doc_id
  WHERE CAST(i.ninter AS DOUBLE) / (sa.n + sb.n - i.ninter)
        >= {_D22_CAND_TAU}
),
ver AS (
  SELECT c.id_a, c.id_b,
         CAST(levenshtein(COALESCE(a.text, ''), COALESCE(b.text, ''))
              AS BIGINT) AS dist,
         GREATEST(length(COALESCE(a.text, '')),
                  length(COALESCE(b.text, '')), 1) AS mx
  FROM cand c
  JOIN documents a ON c.id_a = a.doc_id
  JOIN documents b ON c.id_b = b.doc_id
)
SELECT id_a, id_b, dist,
       CAST(dist * 1000000 // mx AS BIGINT) AS rel_e6,
       CAST(CASE WHEN dist * 1000000 // mx <= {_D22_KEEP_REL_E6}
                 THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM ver
ORDER BY rel_e6, id_a, id_b LIMIT 20
"""


@query("d22_edit_verified_dedup", oracle=D22_ORACLE)
def d22(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    pairs = dedup.edit_verified_pairs(
        spark.table("documents"),
        id_col="doc_id",
        text_col="text",
        shingle_len=3,
        candidate_threshold=_D22_CAND_TAU,
        block_col="source",
        max_doc_freq=_D03_MAX_DF,
        max_rel_e6=1_000_000,
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            "dist",
            "rel_e6",
            (F.col("rel_e6") <= _D22_KEEP_REL_E6)
            .cast("bigint").alias("kept"),
        )
        .orderBy("rel_e6", "id_a", "id_b")
        .limit(20)
    )


# --------------------------------------------------------------------
# t44 — vocabulary coverage curve: what fraction of the corpus' total
# token mass do the top-k most frequent word types cover, for k in
# powers of two? The tokenizer-design statistic behind every vocab-
# size decision (BPE vocab truncation, stopword lists, OOV budgets):
# Zipfian corpora saturate fast, and the curve's knee says where.
# Scale shape: ONE map-side-combined word-count shuffle (vocabulary-
# sized output, not corpus-sized), a distributed TakeOrdered for the
# top-K frontier (never a global sort of the vocabulary), and the
# running sum windows over AT MOST K=512 rows on one partition —
# bounded work regardless of corpus size. The corpus total attaches
# as a broadcast 1-row aggregate. All integers: coverage_e6 =
# cum * 1e6 DIV total is exact in both engines.
# --------------------------------------------------------------------

_T44_KS = (1, 2, 4, 8, 16, 32, 64, 128, 256, 512)

T44_ORACLE = f"""
WITH tok AS (
  SELECT unnest({_DUCK_TOKS}) AS w FROM documents
),
c AS (SELECT w, COUNT(*) AS n FROM tok GROUP BY w),
t AS (SELECT SUM(n) AS tot FROM c),
r AS (
  SELECT w, n,
         ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rk,
         SUM(n) OVER (ORDER BY n DESC, w
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM c
)
SELECT CAST(rk AS BIGINT) AS top_k,
       CAST(cum AS BIGINT) AS cum_tokens,
       CAST(cum * 1000000 // t.tot AS BIGINT) AS coverage_e6
FROM r, t
WHERE rk IN {_T44_KS}
ORDER BY top_k
"""


@query("t44_coverage_curve", oracle=T44_ORACLE)
def t44(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    counts = (
        docs.select(F.explode(text.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("tot"))
    # distributed TakeOrdered: per-partition top-K, K-row merge — the
    # vocabulary never globally sorts
    top = counts.orderBy(F.desc("n"), "w").limit(max(_T44_KS))
    w = Window.orderBy(F.desc("n"), "w").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = top.select(
        F.row_number().over(w).alias("top_k"),
        F.sum("n").over(w).alias("cum_tokens"),
    )
    return (
        ranked.where(F.col("top_k").isin(list(_T44_KS)))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("top_k").cast("bigint").alias("top_k"),
            F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
            F.expr("cum_tokens * 1000000 div tot").cast("bigint")
            .alias("coverage_e6"),
        )
        .orderBy("top_k")
    )


# --------------------------------------------------------------------
# s16 — radius (range) similarity search (operators/similarity.py
# range_neighbors): every corpus vector with cosine >= tau of each
# query — the complement of top-k (s01): dedup radius sweeps and
# contamination checks ask "everything this close", not "the k
# closest". Exact by construction; the threshold cut happens on the
# e6-QUANTIZED score so both engines make identical keep decisions
# even where raw doubles might round differently. Map-only over the
# corpus with the query set broadcast — the genuinely right 100 TB
# plan for small query sets (the only corpus-sized stage is the
# scan); LSH bucketing (s04) is the path for query sets too big to
# broadcast.
# --------------------------------------------------------------------

_S16_TAU_E6 = 250_000

S16_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id IN (0, 1, 2)
),
s AS (
  SELECT q.query_id, e.vec_id,
         {sql_quantize('list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv)', 6)} AS cosine_e6
  FROM embeddings e, q
)
SELECT query_id, vec_id, cosine_e6
FROM s WHERE cosine_e6 >= {_S16_TAU_E6}
QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cosine_e6 DESC, vec_id) <= 100
ORDER BY query_id, cosine_e6 DESC, vec_id
"""


@query("s16_range_search", oracle=S16_ORACLE)
def s16(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    neigh = similarity.range_neighbors(
        emb,
        emb.where(F.col("vec_id").isin(0, 1, 2))
        .select(F.col("vec_id").alias("query_id"), "embedding"),
        tau_e6=_S16_TAU_E6,
        per_query_cap=100,
    )
    return neigh.orderBy("query_id", F.desc("cosine_e6"), "vec_id")


# --------------------------------------------------------------------
# m12 — audio RESAMPLE round trip (operators/multimodal.py
# audio_resample_stats; closes the transform loop for audio the way
# m11 does for images): each synthetic WAV (m10's sample-exact synth)
# is decoded, decimated 2:1 by exact integer block means, re-encoded
# at 4 kHz, RE-decoded, and the position-weighted checksum + energy
# are computed from the re-decoded bytes. The oracle replays the
# whole chain algebraically from the synth formula: r_j =
# floor((s_2j + s_2j+1) / 2) with s_k = ((id*31 + 7k^2) % 4096) -
# 2048 — FLOOR of an exact float halving mirrors Python's floor
# division for the +/-2048 sample range (Spark-side `div` truncation
# never enters: the arithmetic lives in the Arrow batch).
# --------------------------------------------------------------------

M12_ORACLE = """
WITH d AS (
  SELECT doc_id, 192 + (doc_id % 4) * 64 AS n FROM documents
),
j AS (
  SELECT doc_id, n, unnest(generate_series(0, n // 2 - 1)) AS jj FROM d
),
r AS (
  SELECT doc_id, n, jj,
         CAST(FLOOR(((((doc_id * 31 + 7 * (2*jj) * (2*jj)) % 4096) - 2048)
                   + (((doc_id * 31 + 7 * (2*jj+1) * (2*jj+1)) % 4096) - 2048))
                    / 2.0) AS BIGINT) AS smp
  FROM j
)
SELECT doc_id,
       CAST(4000 AS INT) AS rate_out,
       CAST(MAX(n) // 2 AS BIGINT) AS n_out,
       CAST(SUM((jj + 1) * smp) AS BIGINT) AS checksum,
       CAST(SUM(smp * smp) AS BIGINT) AS energy_out
FROM r GROUP BY doc_id ORDER BY doc_id
"""


@query("m12_audio_resample", oracle=M12_ORACLE)
def m12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators import multimodal

    load_views(spark, sf_dir, "documents")
    ids = spark.table("documents").select("doc_id")
    wavs = multimodal.synthesize_wav(ids, id_col="doc_id")
    stats = multimodal.audio_resample_stats(
        wavs, binary_col="value", factor=2
    )
    return stats.select(
        "doc_id",
        F.col("resample_stats.rate_out").alias("rate_out"),
        F.col("resample_stats.n_out").alias("n_out"),
        F.col("resample_stats.checksum").alias("checksum"),
        F.col("resample_stats.energy_out").alias("energy_out"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------
# p12 — incremental crawl-refresh pipeline: the daily-ingest
# composition d13 → d07 → t17. Stage 1 (diff) replays d13's snapshot
# derivation and keeps only the NEW WORK — added + changed docs with
# their new text (at 100 TB the unchanged mass never leaves the
# manifest compare). Stage 2 (dedup) drops new docs sharing a MinHash
# band with the UNCHANGED corpus (d07's incremental primitive — only
# (id, band) pairs shuffle). Stage 3 (cap) applies the per-source
# ingest quota (t17's window shape). The final frame is the
# per-source ingest report. Stage frames are exposed for bench.py's
# per-stage wall/shuffle attribution (VERDICT r7 item 2 pattern).
# --------------------------------------------------------------------

_P12_CAP = 40

P12_ORACLE = f"""
WITH unchanged AS (
  SELECT doc_id, text, source FROM documents
  WHERE doc_id % 9 <> 0 AND doc_id % 4 <> 0
),
changed AS (
  SELECT doc_id, text || ' edited' AS text, source FROM documents
  WHERE doc_id % 9 <> 0 AND doc_id % 4 = 0
),
added AS (
  SELECT doc_id + 5000000 AS doc_id, text || ' new' AS text, source
  FROM documents WHERE doc_id % 13 = 0
),
docset AS (
  SELECT doc_id, text, source, 0 AS is_new FROM unchanged
  UNION ALL SELECT doc_id, text, source, 1 FROM changed
  UNION ALL SELECT doc_id, text, source, 1 FROM added
),
{_banded_cte('docset')},
hit AS (
  SELECT DISTINCT n.doc_id
  FROM banded n JOIN banded e USING (band)
  JOIN docset dn ON n.doc_id = dn.doc_id
  JOIN docset de ON e.doc_id = de.doc_id
  WHERE dn.is_new = 1 AND de.is_new = 0
),
survivors AS (
  SELECT d.doc_id, d.text, d.source FROM docset d
  WHERE d.is_new = 1 AND d.doc_id NOT IN (SELECT doc_id FROM hit)
),
capped AS (
  SELECT doc_id, text, source FROM survivors
  QUALIFY ROW_NUMBER() OVER (PARTITION BY source
                             ORDER BY length(text) DESC, doc_id)
          <= {_P12_CAP}
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_ingested,
       CAST(SUM(len({_DUCK_TOKS})) AS BIGINT) AS total_tokens,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM capped GROUP BY source ORDER BY source
"""


def p12_stage_frames(
    spark: SparkSession, sf_dir: str
) -> dict[str, DataFrame]:
    """p12's composed stages in dependency order: ``diff`` (the new
    work set from the snapshot compare) → ``dedup`` (incremental
    MinHash screen vs the unchanged corpus) → ``cap`` (per-source
    ingest quota). bench.py persists each frame so wall/shuffle
    attributes to one stage; the p12 query consumes the same lazy
    plans."""
    from pyspark.sql import Window

    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    unchanged = docs.where(
        (F.col("doc_id") % 9 != 0) & (F.col("doc_id") % 4 != 0)
    ).select("doc_id", "text", "source")
    changed = docs.where(
        (F.col("doc_id") % 9 != 0) & (F.col("doc_id") % 4 == 0)
    ).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" edited")).alias("text"),
        "source",
    )
    added = docs.where(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 5000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" new")).alias("text"),
        "source",
    )
    # the new-crawl work set feeds the band projection, the survivor
    # anti-join AND the final token aggregation — pin it so the
    # snapshot-compare scan+concat runs once, not per branch
    work = changed.unionAll(added).transform(materialize_lazy)
    survivors = dedup.incremental_near_dedup(
        work, unchanged, id_col="doc_id", text_col="text",
        shingle_len=_SHINGLE_LEN, num_hashes=_NUM_HASHES, bands=_BANDS,
    )
    w = Window.partitionBy("source").orderBy(
        F.length("text").desc(), F.col("doc_id")
    )
    capped = (
        survivors.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= _P12_CAP)
        .drop("_rn")
    )
    return {"diff": work, "dedup": survivors, "cap": capped}


@query("p12_crawl_refresh_pipeline", oracle=P12_ORACLE)
def p12(spark: SparkSession, sf_dir: str) -> DataFrame:
    capped = p12_stage_frames(spark, sf_dir)["cap"]
    return (
        capped.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_ingested"),
            F.sum(F.size(text.tokens(F.col("text"))))
            .cast("bigint").alias("total_tokens"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# t45 — lexical diversity profile per source: type-token ratio, the
# Good-Turing unseen-mass estimate (hapax fraction of tokens — the
# probability the NEXT token is a new type, the vocabulary-growth
# dial behind BPE sizing and dataset-mixing decisions), and the
# Simpson repeat probability (chance two random tokens are the same
# type — boilerplate corpora spike it). Scale shape: one map-side-
# combined (source, word) count shuffle whose output is vocabulary-
# sized, then a vocabulary-sized rollup per source — never a
# corpus-sized exchange. All integer-quantized: the Simpson ratio
# clears its denominator in two staged truncating divisions (the
# single-division form overflows BIGINT at ~3e6 tokens/source since
# rep2 * 1e6 reaches tokens^2 * 1e6); both engines run the identical
# division sequence over positive operands, so truncation agrees.
# --------------------------------------------------------------------

T45_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest({_DUCK_TOKS}) AS w FROM documents
),
c AS (SELECT source, w, COUNT(*) AS n FROM tok GROUP BY source, w),
s AS (
  SELECT source,
         COUNT(*) AS n_types,
         SUM(n) AS n_tokens,
         SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS n_hapax,
         SUM(n * (n - 1)) AS rep2
  FROM c GROUP BY source
)
SELECT source,
       CAST(n_types AS BIGINT) AS n_types,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_types * 1000000 // n_tokens AS BIGINT) AS ttr_e6,
       CAST(n_hapax * 1000000 // n_tokens AS BIGINT) AS gt_unseen_e6,
       CAST((rep2 * 1000 // GREATEST(n_tokens - 1, 1)) * 1000 // n_tokens
            AS BIGINT) AS simpson_e6
FROM s ORDER BY source
"""


@query("t45_lexical_diversity", oracle=T45_ORACLE)
def t45(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    counts = (
        docs.select("source", F.explode(text.tokens(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = counts.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("n").alias("n_tokens"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("n_hapax"),
        F.sum(F.col("n") * (F.col("n") - 1)).alias("rep2"),
    )
    return (
        stats.select(
            "source",
            F.col("n_types").cast("bigint").alias("n_types"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.expr("n_types * 1000000 div n_tokens")
            .cast("bigint").alias("ttr_e6"),
            F.expr("n_hapax * 1000000 div n_tokens")
            .cast("bigint").alias("gt_unseen_e6"),
            F.expr("(rep2 * 1000 div greatest(n_tokens - 1, 1)) "
                   "* 1000 div n_tokens")
            .cast("bigint").alias("simpson_e6"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# d23 — MinHash/LSH calibration: for every LSH candidate pair, the
# sketch-estimated Jaccard (matching signature components / 16)
# against the EXACT shingle Jaccard, rolled up as an error histogram.
# The QA gate a dedup pipeline runs before trusting its banding
# thresholds on a new corpus: if the estimate's error mass drifts
# out of the low deciles, the hash family or shingle length is wrong
# for this text distribution. Scale shape: candidates come from the
# capped band buckets (never all-pairs; the >cap buckets are
# boilerplate handled upstream by exact dedup), signatures join back
# to pairs by id (16 BIGINTs per doc), and the exact side is the
# posting-list intersect bounded by the candidate list. Output is at
# most 11 decile rows. est_e6 is exact integer arithmetic
# (1e6/16 = 62500); exact_e6 is the d03 integer quantization.
# --------------------------------------------------------------------

_D23_CAP = 64

_D23_MATCHES = " + ".join(
    f"(sa.s{i} = sb.s{i})::BIGINT" for i in range(_NUM_HASHES)
)

D23_ORACLE = f"""
WITH {_banded_cte()},
bsz AS (SELECT band, COUNT(*) AS bn FROM banded GROUP BY band),
bb AS (SELECT b.doc_id, b.band FROM banded b JOIN bsz USING (band)
       WHERE bn <= {_D23_CAP}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bb a JOIN bb b USING (band) WHERE a.doc_id < b.doc_id
),
m AS (
  SELECT c.id_a, c.id_b, ({_D23_MATCHES}) AS matches
  FROM cand c JOIN sigs sa ON c.id_a = sa.doc_id
              JOIN sigs sb ON c.id_b = sb.doc_id
),
shd AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
ex AS (
  SELECT c.id_a, c.id_b,
         len(list_filter(a.s, x -> list_contains(b.s, x))) AS inter,
         len(a.s) AS na, len(b.s) AS nb
  FROM cand c JOIN shd a ON c.id_a = a.doc_id
              JOIN shd b ON c.id_b = b.doc_id
),
j AS (
  SELECT m.matches * 62500 AS est_e6,
         ex.inter * 1000000 // (ex.na + ex.nb - ex.inter) AS exact_e6
  FROM m JOIN ex ON m.id_a = ex.id_a AND m.id_b = ex.id_b
)
SELECT CAST(abs(est_e6 - exact_e6) // 100000 AS BIGINT) AS err_decile,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(est_e6) AS BIGINT) AS sum_est_e6,
       CAST(SUM(exact_e6) AS BIGINT) AS sum_exact_e6
FROM j GROUP BY 1 ORDER BY 1
"""


@query("d23_lsh_calibration", oracle=D23_ORACLE)
def d23(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    sigs = dedup.minhash_signature_table(
        docs, "doc_id", "text", _SHINGLE_LEN, _NUM_HASHES
    ).transform(materialize_lazy)
    # cands feeds THREE branches (the estimate join, the intersection
    # count, and the exact-jaccard assembly) — pin it so the banded
    # self-join + distinct runs once, not per branch
    cands = dedup.minhash_candidates(
        docs, "doc_id", "text", _SHINGLE_LEN, _NUM_HASHES, _BANDS,
        max_bucket_size=_D23_CAP, sigs=sigs,
    ).transform(materialize_lazy)
    sa = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"_s{i}").alias(f"_a{i}") for i in range(_NUM_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"_s{i}").alias(f"_b{i}") for i in range(_NUM_HASHES)],
    )
    matches = None
    for i in range(_NUM_HASHES):
        term = F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    est = (
        cands.join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a", "id_b",
            (matches.cast("bigint") * F.lit(62500)).alias("est_e6"),
        )
    )
    # the distinct-shingle explode feeds three branches (both sides
    # of the intersection join + the size aggregate) — pin it so the
    # shingle+md5 projection runs once, not per branch
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(dedup.word_shingles(F.col("text"), _SHINGLE_LEN))
        ).alias("_sg"),
    ).transform(materialize_lazy)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_ns"))
    inter = (
        cands.join(sh.select(F.col("doc_id").alias("id_a"), "_sg"), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), "_sg"), ["id_b", "_sg"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    ex = (
        cands.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("id_a"),
                           F.col("_ns").alias("_na")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"),
                           F.col("_ns").alias("_nb")), "id_b")
        .select(
            "id_a", "id_b",
            F.expr("coalesce(_inter, 0) * 1000000 "
                   "div (_na + _nb - coalesce(_inter, 0))")
            .cast("bigint").alias("exact_e6"),
        )
    )
    return (
        est.join(ex, ["id_a", "id_b"])
        .groupBy(
            F.expr("abs(est_e6 - exact_e6) div 100000")
            .cast("bigint").alias("err_decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("est_e6").alias("sum_est_e6"),
            F.sum("exact_e6").alias("sum_exact_e6"),
        )
        .orderBy("err_decile")
    )


# --------------------------------------------------------------------
# g08 — coreness levels (bounded core decomposition): which of the
# k ∈ {8, 16, 32} cores does each node of the 8-core belong to? The
# graded version of g07's single gate — link-graph curation tiers
# pages by embeddedness depth (spam rings fall out early, canonical
# hubs survive the deepest core). Scale shape exploits k-core
# NESTING (core32 ⊆ core16 ⊆ core8): each successive peel runs on
# the PREVIOUS core's induced edge frame, so the expensive first
# peel is also the last time the full graph is touched; the level
# attach is two id-keyed left joins over core8-sized frames. The
# oracle unrolls all three peels as chained MATERIALIZED CTEs over
# the shared edge base (extra rounds past each fixpoint are no-ops,
# the g07 argument).
# --------------------------------------------------------------------

_G08_KS = (8, 16, 32)


def _g08_peel(k: int, rounds: int, sfx: str, base: str) -> list[str]:
    ctes = []
    prev = base
    for r in range(1, rounds + 1):
        ctes.append(
            f"k{r}{sfx} AS MATERIALIZED (SELECT src FROM "
            f"(SELECT src, COUNT(*) AS d "
            f"FROM {prev} GROUP BY src) WHERE d >= {k})"
        )
        ctes.append(
            f"e{r}{sfx} AS MATERIALIZED (SELECT e.src, e.dst FROM {prev} e "
            f"JOIN k{r}{sfx} a ON e.src = a.src "
            f"JOIN k{r}{sfx} b ON e.dst = b.src)"
        )
        prev = f"e{r}{sfx}"
    ctes.append(
        f"core{sfx} AS MATERIALIZED (SELECT src AS node FROM {prev} "
        f"GROUP BY src HAVING COUNT(*) >= {k})"
    )
    return ctes


def _g08_oracle(rounds: int = 6) -> str:
    ctes = [
        f"p AS MATERIALIZED ({_G07_EDGES})",
        "e0 AS MATERIALIZED (SELECT src, dst FROM p "
        "UNION ALL SELECT dst, src FROM p)",
    ]
    # nesting: each peel starts from the PREVIOUS core's edge frame,
    # mirroring the Spark chain
    base = "e0"
    for k, sfx in zip(_G08_KS, ("a", "b", "c")):
        ctes += _g08_peel(k, rounds, sfx, base)
        ctes.append(
            f"g{sfx} AS MATERIALIZED (SELECT e.src, e.dst FROM {base} e "
            f"JOIN core{sfx} x ON e.src = x.node "
            f"JOIN core{sfx} y ON e.dst = y.node)"
        )
        base = f"g{sfx}"
    return f"""
WITH {', '.join(ctes)},
lv AS (
  SELECT a.node,
         1 + CASE WHEN b.node IS NOT NULL THEN 1 ELSE 0 END
           + CASE WHEN c.node IS NOT NULL THEN 1 ELSE 0 END AS level
  FROM corea a
  LEFT JOIN coreb b ON a.node = b.node
  LEFT JOIN corec c ON a.node = c.node
)
SELECT CAST(level AS BIGINT) AS level,
       CASE WHEN node >= 0 THEN 'cust' ELSE 'supp' END AS side,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(node) AS BIGINT) AS id_sum,
       CAST(MIN(node) AS BIGINT) AS min_node
FROM lv GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("g08_coreness_levels", oracle=_g08_oracle())
def g08(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "orders", "lineitem")
    pairs = spark.sql(_G07_EDGES)
    e = pairs.unionAll(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    cores = []
    dg = None
    for k in _G08_KS:
        # return_edges hands back the FIXPOINT edge frame — already
        # the survivors' induced subgraph, materialized inside the
        # peel — AND its pinned degree table: the deeper peel's
        # round-1 degrees ARE this level's fixpoint degrees (same
        # edge frame), so passing them skips one full degree
        # aggregation per level. assume_distinct: level 1's input is
        # the disjoint-orientations union of a DISTINCT pair set;
        # deeper levels get the already-deduped fixpoint frame.
        core_k, e, dg = graph.kcore(
            e, k=k, assume_distinct=True, return_edges=True, degrees=dg
        )
        cores.append(core_k.select("node").transform(materialize_lazy))
    lv = (
        cores[0]
        .join(cores[1].withColumn("_f16", F.lit(1)), "node", "left")
        .join(cores[2].withColumn("_f32", F.lit(1)), "node", "left")
        .select(
            "node",
            (F.lit(1) + F.coalesce("_f16", F.lit(0))
             + F.coalesce("_f32", F.lit(0))).cast("bigint").alias("level"),
        )
    )
    return (
        lv.groupBy(
            "level",
            F.when(F.col("node") >= 0, "cust").otherwise("supp").alias("side"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("node").alias("id_sum"),
            F.min("node").alias("min_node"),
        )
        .orderBy("level", "side")
    )


# --------------------------------------------------------------------
# t46 — Zipf profile per source: head/mid/tail token-mass shares and
# the rank-10 Zipf-constancy ratio (r·f(r) ≈ const under a Zipf law,
# so 10·f(10)/f(1) ≈ 1 for natural text and collapses toward 0 for
# template/boilerplate corpora — a log-free, integer-exact stand-in
# for the log-log slope fit). The corpus-mix dial this feeds: a
# source whose head-10 types carry >30% of token mass is boilerplate
# and gets downweighted before training. Scale shape: one map-side-
# combined (source, word) count shuffle (vocabulary-sized output),
# totals from a vocabulary-sized rollup, and the head stats from a
# rank-window that Spark rewrites to WindowGroupLimit — the rnk<=100
# filter is applied inside the sort per partition, map-side, so the
# full vocabulary is never window-buffered. All shares are integer-
# quantized e6 (identical truncating division in both engines).
# --------------------------------------------------------------------

T46_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest({_DUCK_TOKS}) AS w FROM documents
),
c AS (SELECT source, w, COUNT(*) AS n FROM tok GROUP BY source, w),
tot AS (
  SELECT source, COUNT(*) AS n_types, SUM(n) AS n_tokens
  FROM c GROUP BY source
),
r AS (
  SELECT source, n,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, w) AS rnk
  FROM c
),
hd AS (
  SELECT source,
         SUM(CASE WHEN rnk <= 10 THEN n ELSE 0 END) AS top10,
         SUM(CASE WHEN rnk BETWEEN 11 AND 100 THEN n ELSE 0 END) AS mid,
         MAX(CASE WHEN rnk = 1 THEN n END) AS top1_n,
         MAX(CASE WHEN rnk = 10 THEN n END) AS rank10_n
  FROM r WHERE rnk <= 100 GROUP BY source
)
SELECT t.source,
       CAST(t.n_types AS BIGINT) AS n_types,
       CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST(h.top10 * 1000000 // t.n_tokens AS BIGINT) AS head10_e6,
       CAST(h.mid * 1000000 // t.n_tokens AS BIGINT) AS mid100_e6,
       CAST((t.n_tokens - h.top10 - h.mid) * 1000000 // t.n_tokens
            AS BIGINT) AS tail_e6,
       CAST(h.top1_n AS BIGINT) AS top1_n,
       CAST(10 * COALESCE(h.rank10_n, h.top1_n) * 1000 // h.top1_n
            AS BIGINT) AS zipf_c10_e3
FROM tot t JOIN hd h ON t.source = h.source
ORDER BY t.source
"""


@query("t46_zipf_profile", oracle=T46_ORACLE)
def t46(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    counts = (
        docs.select("source", F.explode(text.tokens(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(materialize_lazy)
    )
    totals = counts.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("n").alias("n_tokens"),
    )
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), F.col("w"))
    heads = (
        counts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 100)
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("rnk") <= 10, F.col("n")).otherwise(0))
            .alias("top10"),
            F.sum(F.when(F.col("rnk").between(11, 100), F.col("n"))
                  .otherwise(0)).alias("mid"),
            F.max(F.when(F.col("rnk") == 1, F.col("n"))).alias("top1_n"),
            F.max(F.when(F.col("rnk") == 10, F.col("n"))).alias("rank10_n"),
        )
    )
    return (
        totals.join(heads, "source")
        .select(
            "source",
            F.col("n_types").cast("bigint").alias("n_types"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.expr("top10 * 1000000 div n_tokens")
            .cast("bigint").alias("head10_e6"),
            F.expr("mid * 1000000 div n_tokens")
            .cast("bigint").alias("mid100_e6"),
            F.expr("(n_tokens - top10 - mid) * 1000000 div n_tokens")
            .cast("bigint").alias("tail_e6"),
            F.col("top1_n").cast("bigint").alias("top1_n"),
            F.expr("10 * coalesce(rank10_n, top1_n) * 1000 div top1_n")
            .cast("bigint").alias("zipf_c10_e3"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# d24 — dup-cluster profile: the size histogram of the near-dup
# components the d06 pipeline deletes from. THE report a curation
# run publishes before committing a dedup pass: how many clusters at
# each size, how many documents a keep-one policy removes, and the
# singleton mass that dedup never touches. Scale shape: candidate
# pairs from capped LSH bands (never all-pairs), components via the
# d06 union-find/pointer-jumping operator over the pair list (orders
# of magnitude smaller than the corpus), then two component-sized
# rollups; the singleton row is one anti-join of the corpus against
# the labeled set (ids only — text never shuffles). Oracle: the d06
# recursive-CTE transitive closure, rolled up the same way.
# --------------------------------------------------------------------

D24_ORACLE = f"""
WITH RECURSIVE {_d02_oracle()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM cand
),
reach(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
labels AS (
  SELECT node, MIN(label) AS label FROM reach GROUP BY node
),
sizes AS (
  SELECT label, COUNT(*) AS sz FROM labels GROUP BY label
),
hist AS (
  SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
         SUM(sz - 1) AS n_removable, MIN(label) AS min_anchor
  FROM sizes GROUP BY sz
),
single AS (
  SELECT 1 AS cluster_size, COUNT(*) AS n_clusters,
         0 AS n_removable, MIN(d.doc_id) AS min_anchor
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.node
  WHERE l.node IS NULL
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(n_clusters AS BIGINT) AS n_clusters,
       CAST(n_removable AS BIGINT) AS n_removable,
       CAST(min_anchor AS BIGINT) AS min_anchor
FROM (SELECT * FROM hist UNION ALL SELECT * FROM single)
ORDER BY cluster_size
"""


@query("d24_dup_cluster_profile", oracle=D24_ORACLE)
def d24(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    cands = dedup.minhash_candidates(
        docs, id_col="doc_id", text_col="text",
        shingle_len=_SHINGLE_LEN, num_hashes=_NUM_HASHES, bands=_BANDS,
    )
    labels = dedup.connected_components(cands).transform(materialize_lazy)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("sz"))
    hist = sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum(F.col("sz") - 1).alias("n_removable"),
        F.min("label").alias("min_anchor"),
    )
    single = (
        docs.join(labels, docs.doc_id == labels.node, "left_anti")
        .agg(
            F.lit(1).alias("cluster_size"),
            F.count(F.lit(1)).alias("n_clusters"),
            F.lit(0).alias("n_removable"),
            F.min("doc_id").alias("min_anchor"),
        )
    )
    return (
        hist.unionByName(single)
        .select(
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.col("n_clusters").cast("bigint").alias("n_clusters"),
            F.col("n_removable").cast("bigint").alias("n_removable"),
            F.col("min_anchor").cast("bigint").alias("min_anchor"),
        )
        .orderBy("cluster_size")
    )


# --------------------------------------------------------------------
# g09 — common-neighbor link prediction over the customer→supplier
# co-occurrence graph: the top supplier pairs sharing the most
# customers. The co-citation/you-may-also-like primitive — on a web
# link graph the same query proposes merge candidates for mirrored
# hosts. Scale shape: the quadratic hazard in a common-neighbor join
# is the per-key fan-out (one customer touching S suppliers emits
# S² pairs), so the fan-out is capped FIRST — each customer keeps
# its top-8 suppliers by lineitem count (deterministic tie-break),
# a rank filter Spark executes as WindowGroupLimit (map-side top-k,
# never a full buffer). The pair join is then ≤ 8×8 per customer by
# construction — skew-proof regardless of the degree distribution —
# and the final top-20 is a TakeOrdered, not a global sort.
# --------------------------------------------------------------------

_G09_CAP = 8

G09_ORACLE = f"""
WITH el AS (
  SELECT o_custkey AS c, l_suppkey AS s, COUNT(*) AS nl
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
capped AS (
  SELECT c, s FROM (
    SELECT c, s, ROW_NUMBER() OVER (PARTITION BY c ORDER BY nl DESC, s) AS rn
    FROM el
  ) WHERE rn <= {_G09_CAP}
)
SELECT a.s AS supp_a, b.s AS supp_b,
       CAST(COUNT(*) AS BIGINT) AS n_common
FROM capped a JOIN capped b ON a.c = b.c AND a.s < b.s
GROUP BY 1, 2
ORDER BY n_common DESC, supp_a, supp_b
LIMIT 20
"""


@query("g09_common_neighbors", oracle=G09_ORACLE)
def g09(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    load_views(spark, sf_dir, "orders", "lineitem")
    # checkpoint the expensive join+agg (it feeds BOTH sides of the
    # pair self-join); the cap itself stays lazy so it executes as
    # WindowGroupLimit (map-side partial top-8 before the exchange)
    el = spark.sql(
        "SELECT o_custkey AS c, l_suppkey AS s, COUNT(*) AS nl "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
        "GROUP BY 1, 2"
    ).transform(materialize_lazy)
    w = Window.partitionBy("c").orderBy(F.col("nl").desc(), F.col("s"))
    capped = (
        el.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _G09_CAP)
        .select("c", "s")
    )
    a = capped.select(F.col("c"), F.col("s").alias("supp_a"))
    b = capped.select(F.col("c"), F.col("s").alias("supp_b"))
    return (
        a.join(b, "c")
        .where(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .orderBy(F.col("n_common").desc(), "supp_a", "supp_b")
        .limit(20)
    )


# --------------------------------------------------------------------
# s17 — ANN kNN join: every query document gets its top-3 neighbors,
# scored ONLY within its IVF cell — the all-to-all companion of
# s02's single-query IVF probe and the scale path for "pair every
# new document with its nearest training example" (semantic dedup
# assignment, retrieval-augmented labeling). Engine-exact by
# construction: vectors are absmax-int8 quantized (the s08 recipe —
# FLOOR is exact, dots are BIGINT folds), cells come from
# assign_quantized_cells (pure map-side integer argmax, ties to the
# smallest anchor id), so there is no IEEE ordering hazard anywhere
# and the DuckDB oracle replays the identical arithmetic. Scale
# shape: both sides carry a cell id from a zero-exchange map, the
# join shuffles on (cell, salt) — queries only meet their own cell's
# corpus (never all-pairs), and the salt spreads each cell's
# compute-dense scoring across 16 reducers instead of one (8 cell
# keys alone would put a whole cell on a single task — a compute
# skew AQE's byte-based splitter never sees). The per-query top-3 is
# a WindowGroupLimit (map-side top-k). At 100 TB the cell count
# rises with the corpus so per-cell membership stays bounded; the
# anchor table stays a driver-side literal fold (k anchors × 64
# dims of ints).
# --------------------------------------------------------------------

_S17_ANCHORS = 8
_S17_STRIDE = 97
_S17_K = 3
_S17_SALT = 16

S17_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
m AS (
  SELECT vec_id, v,
         GREATEST(list_max(list_transform(v, x -> abs(x))), 1e-300) AS am
  FROM e
),
qq AS (
  SELECT vec_id, list_transform(v, x -> FLOOR(x * 127 / am + 0.5)) AS qv
  FROM m
),
anc AS (SELECT vec_id AS aid, qv AS aqv FROM qq WHERE vec_id < {_S17_ANCHORS}),
asg AS (
  SELECT vec_id, aid,
         CAST(list_dot_product(qv, aqv) AS BIGINT) AS ad
  FROM qq, anc
),
cells AS (
  SELECT vec_id, aid AS cell FROM (
    SELECT vec_id, aid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ad DESC, aid) AS rn
    FROM asg
  ) WHERE rn = 1
),
cc AS (SELECT c.vec_id, c.cell, q.qv FROM cells c JOIN qq q USING (vec_id)),
qs AS (SELECT * FROM cc WHERE vec_id % {_S17_STRIDE} = 0),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(list_dot_product(q.qv, c.qv) AS BIGINT) AS qdot
  FROM qs q JOIN cc c ON q.cell = c.cell AND q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, qdot, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY qdot DESC, neighbor_id) AS rnk
  FROM pairs
) WHERE rnk <= {_S17_K}
ORDER BY query_id, rnk
"""


@query("s17_knn_join", oracle=S17_ORACLE)
def s17(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    load_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    anchors = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.where(F.col("vec_id") < _S17_ANCHORS)
        .select("vec_id", "embedding").collect()
    ]
    corpus = (
        similarity.assign_quantized_cells(
            emb.select("vec_id", "embedding"), anchors,
            vec_col="embedding", cell_col="cell",
        )
        .withColumn("qv", similarity.quantize_int8(F.col("embedding")))
        .select("vec_id", "cell", "qv")
        .transform(materialize_lazy)
    )
    queries_side = corpus.where(F.col("vec_id") % _S17_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), "cell", F.col("qv").alias("q_qv")
    )
    # SALT the cell join: with only k=8 distinct cell keys, a plain
    # equi-join puts each cell's entire scoring work on ONE reducer —
    # a compute skew AQE cannot split (its skew-join triggers on
    # partition BYTES, and 64-dim int rows are byte-light but
    # compute-dense; measured 18.6s max / 4.3s median task at the
    # 60k-vector probe point before salting). The corpus side salts
    # free (vec_id % S); the query side (1/97 of the corpus)
    # replicates S×, turning the join key into (cell, salt) with
    # k·S = 128 evenly-loaded partitions. Result set is identical —
    # every (query, candidate) pair still meets exactly once.
    salts = F.array(*[F.lit(i) for i in range(_S17_SALT)])
    corpus_s = corpus.withColumn(
        "_salt", (F.col("vec_id") % _S17_SALT).cast("int")
    )
    queries_e = queries_side.withColumn("_salt", F.explode(salts))
    pairs = (
        queries_e.join(corpus_s, ["cell", "_salt"])
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            similarity.int_dot(F.col("q_qv"), F.col("qv")).alias("qdot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _S17_K)
        .select("query_id", "neighbor_id", "qdot",
                F.col("rnk").cast("bigint").alias("rnk"))
        .orderBy("query_id", "rnk")
    )


# --------------------------------------------------------------------
# m13 — per-tile image statistics over REAL decoded pixels: each
# synthesized PNG (m09's standards-compliant fixture bytes) is
# decoded by the pure-stdlib pixel decoder and split into a 2×2
# quadrant grid, each quadrant reporting its exact byte sum — the
# patchify primitive of vision preprocessing (ViT patch embedding,
# saliency cropping) with m09's exactness contract: the oracle
# recomputes every quadrant ALGEBRAICALLY from the synthesizer's
# pixel formula (never decoding anything), so a wrong stride, a
# swapped x/y, or an off-by-one in the odd-row/column split anywhere
# across the encode → Arrow → inflate → unfilter → tile-index path
# breaks the hash. Scale shape: one Arrow-batched map per stage,
# nothing but (doc_id, 6 ints) ever shuffles.
# --------------------------------------------------------------------

M13_ORACLE = """
WITH d AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
),
px AS (
  SELECT doc_id, w, h,
         unnest(generate_series(0, w * h * 3 - 1)) AS k
  FROM d
),
v AS (
  SELECT doc_id, w, h,
         (doc_id * 7 + 13 * k) % 256 AS b,
         (k // 3) % w AS x, (k // 3) // w AS y
  FROM px
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(SUM(CASE WHEN y < h // 2 AND x < w // 2 THEN b ELSE 0 END)
            AS BIGINT) AS q00_sum,
       CAST(SUM(CASE WHEN y < h // 2 AND x >= w // 2 THEN b ELSE 0 END)
            AS BIGINT) AS q01_sum,
       CAST(SUM(CASE WHEN y >= h // 2 AND x < w // 2 THEN b ELSE 0 END)
            AS BIGINT) AS q10_sum,
       CAST(SUM(CASE WHEN y >= h // 2 AND x >= w // 2 THEN b ELSE 0 END)
            AS BIGINT) AS q11_sum
FROM v GROUP BY doc_id, w, h
ORDER BY doc_id
"""


@query("m13_image_tile_stats", oracle=M13_ORACLE)
def m13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators import multimodal

    load_views(spark, sf_dir, "documents")
    ids = spark.table("documents").select("doc_id")
    pngs = multimodal.synthesize_png(ids, id_col="doc_id")
    tiles = multimodal.image_tile_stats(pngs, binary_col="value")
    return tiles.select(
        "doc_id",
        F.col("tile_stats.width").alias("width"),
        F.col("tile_stats.height").alias("height"),
        F.col("tile_stats.q00_sum").alias("q00_sum"),
        F.col("tile_stats.q01_sum").alias("q01_sum"),
        F.col("tile_stats.q10_sum").alias("q10_sum"),
        F.col("tile_stats.q11_sum").alias("q11_sum"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------
# t47 — n-gram novelty vs the previous crawl: per source, what
# fraction of the new snapshot's 5-gram occurrences was never seen
# in the reference corpus (doc_id % 3 == 0 — the d07 convention for
# "already ingested"). The information-gain dial of a crawl-refresh
# budget: a source whose novelty collapses toward 0 is re-serving
# yesterday's text and gets its quota cut before tokens are wasted.
# Scale shape: grams travel as 64-bit xxhash64 digests (8 bytes
# instead of ~40-char strings through the membership shuffle), the
# reference side reduces to a DISTINCT digest set before the join,
# and membership is one digest-keyed left join feeding a counting
# rollup — output is source-sized. At 100 TB put a Bloom filter of
# the reference digests in front of the join (the d10 prefilter) so
# only probable-hits shuffle; the digest join here IS that join's
# exact fallback path.
# --------------------------------------------------------------------

_T47_N = 5

T47_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents
),
g AS (
  SELECT doc_id, source,
         {duck_md5_prefix_hash("gram", 15)} AS gd
  FROM (
    SELECT doc_id, source,
           unnest({_duck_shingles(_T47_N)}) AS gram
    FROM t
  )
),
ref AS (SELECT DISTINCT gd FROM g WHERE doc_id % 3 = 0),
probe AS (SELECT * FROM g WHERE doc_id % 3 <> 0)
SELECT p.source,
       CAST(COUNT(DISTINCT p.doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN r.gd IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN r.gd IS NULL THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS novelty_e6
FROM probe p LEFT JOIN ref r ON p.gd = r.gd
GROUP BY p.source ORDER BY p.source
"""


@query("t47_ngram_novelty", oracle=T47_ORACLE)
def t47(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    # plan-internal gram keys (word_shingle_digests); the oracle
    # digests with its own md5 on both sides of its join
    grams = docs.select(
        "doc_id",
        "source",
        F.explode(
            dedup.word_shingle_digests(F.col("text"), _T47_N)
        ).alias("gd"),
    )
    ref = (
        grams.where(F.col("doc_id") % 3 == 0)
        .select("gd").distinct()
        .withColumn("_hit", F.lit(1))
    )
    probe = grams.where(F.col("doc_id") % 3 != 0)
    return (
        probe.join(ref, "gd", "left")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
            .alias("n_novel"),
        )
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.col("n_novel").cast("bigint").alias("n_novel"),
            F.expr("n_novel * 1000000 div n_grams")
            .cast("bigint").alias("novelty_e6"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# d25 — LSH band tuning: the SAME 16-hash signatures banded three
# ways (2×8, 4×4, 8×2), each config scored by how many candidate
# pairs it emits and how many are true near-dups (exact shingle
# Jaccard ≥ 0.5) — the S-curve trade a dedup pipeline tunes before a
# 100 TB run (more bands = higher recall at lower precision; the
# collision probability is 1-(1-J^rows)^bands). Scale shape: the
# signature table computes ONCE (16 BIGINTs/doc) and every config
# re-bands those columns map-side; candidates come from capped band
# buckets (never all-pairs); the exact-Jaccard verifier runs once
# over the DISTINCT union of all configs' pairs (a pair candidate
# under two configs verifies once) and joins back per config.
# Output: 3 rows.
# --------------------------------------------------------------------

_D25_CONFIGS = ((2, 8), (4, 4), (8, 2))
_D25_CAP = 64
_D25_TAU_E6 = 500000


def _d25_oracle() -> str:
    cfg_ctes, tag_selects = [], []
    for nb, rpb in _D25_CONFIGS:
        band_exprs = duck_band_digests(nb, rpb)
        band_list = ", ".join(f"band{b}" for b in range(nb))
        cfg_ctes.append(
            f"bd{nb} AS (SELECT doc_id, unnest([{band_list}]) AS band "
            f"FROM (SELECT doc_id, {band_exprs} FROM sigs)),\n"
            f"bsz{nb} AS (SELECT band, COUNT(*) AS bn FROM bd{nb} "
            f"GROUP BY band),\n"
            f"bb{nb} AS (SELECT d.doc_id, d.band FROM bd{nb} d "
            f"JOIN bsz{nb} USING (band) WHERE bn <= {_D25_CAP}),\n"
            f"cand{nb} AS (SELECT DISTINCT a.doc_id AS id_a, "
            f"b.doc_id AS id_b FROM bb{nb} a JOIN bb{nb} b USING (band) "
            f"WHERE a.doc_id < b.doc_id)"
        )
        tag_selects.append(
            f"SELECT {nb} AS bands, {rpb} AS rows_per_band, id_a, id_b "
            f"FROM cand{nb}"
        )
    tags = " UNION ALL ".join(tag_selects)
    return f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
),
sh AS (
  SELECT doc_id, {_duck_shingles(_SHINGLE_LEN)} AS shingles FROM toks
),
sigs AS (SELECT doc_id, {_duck_minhash_signatures()} FROM sh),
{', '.join(cfg_ctes)},
tagged AS ({tags}),
allp AS (SELECT DISTINCT id_a, id_b FROM tagged),
shd AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
exj AS (
  SELECT p.id_a, p.id_b,
         len(list_filter(a.s, x -> list_contains(b.s, x))) * 1000000
           // (len(a.s) + len(b.s)
               - len(list_filter(a.s, x -> list_contains(b.s, x))))
           AS exact_e6
  FROM allp p JOIN shd a ON p.id_a = a.doc_id
              JOIN shd b ON p.id_b = b.doc_id
)
SELECT CAST(t.bands AS BIGINT) AS bands,
       CAST(t.rows_per_band AS BIGINT) AS rows_per_band,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN e.exact_e6 >= {_D25_TAU_E6} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN e.exact_e6 >= {_D25_TAU_E6} THEN 1 ELSE 0 END)
            * 1000000 // COUNT(*) AS BIGINT) AS precision_e6
FROM tagged t JOIN exj e ON t.id_a = e.id_a AND t.id_b = e.id_b
GROUP BY 1, 2 ORDER BY bands
"""


@query("d25_band_tuning", oracle=_d25_oracle())
def d25(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, "documents")
    docs = spark.table("documents")
    sigs = dedup.minhash_signature_table(
        docs, "doc_id", "text", _SHINGLE_LEN, _NUM_HASHES
    ).transform(materialize_lazy)
    # All three configs band the SAME signature columns map-side, so
    # tag each config's (doc_id, band) rows and run ONE
    # (config, band)-keyed bucket-size cap + self-join over the union
    # instead of three separate cap shuffles and self-joins (the band
    # keys are minhash_band_table's: ``digest.band_digests``). The
    # config tag in the join key keeps buckets from
    # different bandings apart; per-config results are bit-identical
    # to three independent minhash_candidates calls.
    banded = None
    for nb, rpb in _D25_CONFIGS:
        one = sigs.select(
            F.lit(nb).alias("bands"),
            F.lit(rpb).alias("rows_per_band"),
            F.col("doc_id"),
            F.explode(F.array(*band_digests(nb, rpb))).alias("_band"),
        )
        banded = one if banded is None else banded.unionAll(one)
    bucket_sizes = banded.groupBy("bands", "_band").agg(
        F.count(F.lit(1)).alias("_bn")
    )
    capped = (
        banded.join(bucket_sizes, ["bands", "_band"])
        .where(F.col("_bn") <= _D25_CAP)
        .drop("_bn")
    )
    a = capped.alias("a")
    b = capped.alias("b")
    tagged = (
        a.join(b, on=["bands", "_band"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            "bands",
            F.col("a.rows_per_band").alias("rows_per_band"),
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .distinct()
    ).transform(materialize_lazy)
    allp = tagged.select("id_a", "id_b").distinct()
    # the distinct-shingle explode feeds three branches (both sides
    # of the intersection join + the size aggregate) — pin it so the
    # shingle+md5 projection runs once, not per branch
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(dedup.word_shingles(F.col("text"), _SHINGLE_LEN))
        ).alias("_sg"),
    ).transform(materialize_lazy)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_ns"))
    inter = (
        allp.join(sh.select(F.col("doc_id").alias("id_a"), "_sg"), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), "_sg"), ["id_b", "_sg"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    exj = (
        allp.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("id_a"),
                           F.col("_ns").alias("_na")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"),
                           F.col("_ns").alias("_nb")), "id_b")
        .select(
            "id_a", "id_b",
            F.expr("coalesce(_inter, 0) * 1000000 "
                   "div (_na + _nb - coalesce(_inter, 0))")
            .cast("bigint").alias("exact_e6"),
        )
    )
    return (
        tagged.join(exj, ["id_a", "id_b"])
        .groupBy("bands", "rows_per_band")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum(F.when(F.col("exact_e6") >= _D25_TAU_E6, 1).otherwise(0))
            .alias("n_true"),
        )
        .select(
            F.col("bands").cast("bigint").alias("bands"),
            F.col("rows_per_band").cast("bigint").alias("rows_per_band"),
            F.col("n_candidates").cast("bigint").alias("n_candidates"),
            F.col("n_true").cast("bigint").alias("n_true"),
            F.expr("n_true * 1000000 div n_candidates")
            .cast("bigint").alias("precision_e6"),
        )
        .orderBy("bands")
    )
