"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k as the exact baseline; LSH / IVF-style
bucketed variants as the scale path. All vector math stays JVM-side
via higher-order functions (``zip_with`` + ``aggregate``) — no Python
in the hot loop; Catalyst codegens the fold.

Scale notes: brute-force is a map + TakeOrdered (no shuffle of the
corpus); IVF probes prune the corpus to ~n/k per query via a
broadcast-joined centroid assignment.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from arc_jupyter_spark.checkpoint import materialize, materialize_lazy
from arc_jupyter_spark.exact import host_quantize, quantize
from arc_jupyter_spark.operators.litarray import double_array, long_array
from arc_jupyter_spark.operators.text import tokens


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine against one query vector.

    The literal query vector is folded into the plan (broadcast by
    value); scoring is a narrow map; ``orderBy().limit(k)`` compiles to
    TakeOrderedAndProject — each partition keeps k rows, the driver
    merges. Ties broken by id for determinism.
    """
    q = double_array(query_vec)
    scored = df.select(
        F.col(id_col),
        cosine_similarity(F.col(vec_col).cast("array<double>"), q).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def cosine_topk_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Top-k per query for a (small, broadcastable) query set.

    Broadcast the queries, score corpus×queries map-side, then one
    shuffle on query_id for the per-query window top-k.
    """
    # rename the query vector so corpus vec_col can share the same name
    q = queries.select(
        F.col(query_id_col), F.col(query_vec_col).cast("array<double>").alias("_qvec")
    )
    sim = cosine_similarity(F.col(vec_col).cast("array<double>"), F.col("_qvec"))
    scored = corpus.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col), F.col(id_col), sim.alias("cosine")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") <= k)
        .drop("_rank")
    )


# -- lexical scoring (BM25) for hybrid retrieval ----------------------

def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: Sequence[str],
    k1: float = 1.25,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 score of every document against a fixed term set, as
    ``(id, score, score_e9)`` — the lexical half of hybrid retrieval.

    ``score = Σ_t ln(1 + (N - df_t + 0.5)/(df_t + 0.5)) ·
    tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))`` with whitespace
    tokens; ``score_e9`` is the score quantized at e9 (``exact.py``)
    for order-stable downstream ranking. Defaults pick
    binary-exact constants (k1 = 1.25, b = 0.75, k1+1 = 2.25) so the
    arithmetic reproduces bit-identically on any IEEE engine.

    Scale shape: per-document term frequencies and length are one
    map-side projection; the corpus statistics (N, Σdl, df per term)
    are ONE 1-row partial aggregate broadcast back as a literal-sized
    crossJoin — scoring then stays map-side. Nothing corpus-sized
    shuffles; the term list rides in the plan.
    """
    if not terms:
        raise ValueError("bm25_scores: terms must be non-empty")
    feat = df.select(
        F.col(id_col),
        tokens(F.col(text_col)).alias("_toks"),
    ).select(
        F.col(id_col),
        F.size("_toks").cast("bigint").alias("_dl"),
        *[
            F.size(F.filter(F.col("_toks"), _eq_factory(t)))
            .cast("bigint")
            .alias(f"_tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = feat.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_dl").alias("_sdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("bigint")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    scored = feat.crossJoin(F.broadcast(stats))
    avgdl = F.col("_sdl") / F.col("_n")
    norm = F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("_dl") / avgdl)
    score = None
    for i in range(len(terms)):
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n") - F.col(f"_df{i}") + F.lit(0.5))
            / (F.col(f"_df{i}") + F.lit(0.5))
        )
        term = idf * (
            (F.col(f"_tf{i}") * F.lit(k1 + 1.0))
            / (F.col(f"_tf{i}") + F.lit(k1) * norm)
        )
        score = term if score is None else score + term
    return scored.select(
        F.col(id_col),
        score.alias("score"),
        quantize(score, 9).alias("score_e9"),
    )


def _eq_factory(term: str):
    """HOF-lambda factory (a closure default arg would be read as the
    optional index parameter)."""
    def eq(tok: Column) -> Column:
        return tok == F.lit(term)

    return eq


# -- IVF-style approximate search ------------------------------------

def assign_ivf_cells(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
) -> DataFrame:
    """Assign each vector to its nearest centroid (IVF cell).

    Pure map-side argmax — the corpus NEVER shuffles (plan-asserted in
    tests/test_plans.py: zero Exchange nodes). The centroid table is
    tiny (k rows), so it is collected and folded into the plan as
    literals; centroids are L2-normalized driver-side so the per-row
    score is a plain dot product (the row's own norm is a positive
    per-row constant and cannot change the argmax). One codegen'd
    struct-array max per row; ties go to the smallest centroid id.
    """
    import math

    rows = centroids.select(centroid_id_col, centroid_vec_col).collect()
    vec = F.col(vec_col).cast("array<double>")
    entries = []
    for r in rows:
        cid = int(r[centroid_id_col])
        cv = [float(x) for x in r[centroid_vec_col]]
        norm = math.sqrt(sum(x * x for x in cv)) or 1.0
        unit = double_array([x / norm for x in cv])
        entries.append(
            F.struct(
                dot(vec, unit).alias("sim"),
                F.lit(-cid).cast("long").alias("neg_id"),
            )
        )
    best = F.array_max(F.array(*entries))
    return df.withColumn("cell", (-best["neg_id"]).cast("long"))


def kmeans_centroids(
    df: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    max_iter: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Lloyd's k-means via DataFrame aggregates (returns centroid table).

    Iterations are driver-coordinated but all data work is distributed:
    assign (map + broadcast argmax) → recompute means (one groupBy per
    iteration, aggregating element-wise sums with ``zip_with``).
    """
    dim = len(df.select(vec_col).first()[0])
    # deterministic init: first k rows by id-ish ordering of a digest
    init = (
        df.select(F.col(vec_col).cast("array<double>").alias("centroid"))
        .limit(k)
        .withColumn("centroid_id", F.monotonically_increasing_id())
    )
    centroids = [(int(r["centroid_id"]), list(r["centroid"])) for r in init.collect()]
    for _ in range(max_iter):
        cdf = df.sparkSession.createDataFrame(
            centroids, "centroid_id long, centroid array<double>"
        )
        assigned = assign_ivf_cells(
            df.select(F.col(vec_col)), cdf, vec_col=vec_col,
            centroid_id_col="centroid_id", centroid_vec_col="centroid",
        )
        # per-dimension sums: dim plain SUM aggregates — hash-aggregable
        # with map-side partial combine, so no per-cell vector list ever
        # materializes (collect_list of vectors would buffer a whole
        # cell's embeddings in one aggregation state at scale)
        v = F.col(vec_col).cast("array<double>")
        sums = (
            assigned.groupBy("cell")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.element_at(v, i + 1)).alias(f"_s{i}")
                    for i in range(dim)
                ],
            )
            .select(
                F.col("cell").alias("centroid_id"),
                F.array(
                    *[F.col(f"_s{i}") / F.col("n") for i in range(dim)]
                ).alias("centroid"),
            )
        )
        centroids = [(int(r["centroid_id"]), list(r["centroid"])) for r in sums.collect()]
    return df.sparkSession.createDataFrame(centroids, "centroid_id long, centroid array<double>")


def ivf_topk(
    corpus_with_cells: DataFrame,
    centroids: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only the ``n_probe`` nearest cells.

    Prunes the corpus to ~n·(n_probe/k_cells) before exact scoring —
    the IVF scale path. Requires ``corpus_with_cells`` to carry a
    ``cell`` column from ``assign_ivf_cells``.
    """
    q = double_array(query_vec)
    probe_cells = [
        r["centroid_id"]
        for r in centroids.select(
            "centroid_id",
            cosine_similarity(F.col("centroid"), q).alias("csim"),
        )
        .orderBy(F.col("csim").desc())
        .limit(n_probe)
        .collect()
    ]
    pruned = corpus_with_cells.where(F.col("cell").isin(probe_cells))
    scored = pruned.select(
        F.col(id_col),
        cosine_similarity(F.col(vec_col).cast("array<double>"), q).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


# -- random-hyperplane LSH (SimHash for dense vectors) ----------------

def hyperplane_planes(
    dim: int, n_planes: int = 8, seed: int = 7
) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (driver-side, tiny).

    Seeded so corpus and query signatures agree across runs and
    engines; the planes are folded into the plan as literals (a few KB
    even at 1024-dim), so signature computation is pure map-side.
    """
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def hyperplane_signature(
    vec: Column, planes: Sequence[Sequence[float]]
) -> Column:
    """LSH bucket id: bit i = sign of the projection onto plane i.

    One codegen'd projection per row — no shuffle, no UDF. Cosine-near
    vectors disagree on each bit with probability theta/pi, so they
    collide in the same bucket with high probability; bucket count is
    2^n_planes, tuned so the expected bucket size stays near
    corpus/2^n_planes at the target scale.
    """
    v = vec.cast("array<double>")
    sig: Column = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = double_array(plane)
        sig = sig + F.when(dot(v, p) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return sig


def lsh_topk(
    corpus_with_sig: DataFrame,
    planes: Sequence[Sequence[float]],
    query_vec: Sequence[float],
    k: int = 10,
    multi_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sig_col: str = "sig",
) -> DataFrame:
    """Approximate top-k: exact-score only the query's LSH bucket(s).

    ``multi_probe=1`` also probes every bucket at Hamming distance 1
    from the query signature (n_planes extra buckets); ``multi_probe=2``
    adds the distance-2 buckets (C(n_planes,2) more) — the standard
    multi-probe trick that buys recall without more tables. The probe
    list is a literal IN filter, so partition/file pruning applies when
    the corpus is written bucketed by ``sig``; only ~(n_probes ·
    corpus / 2^n_planes) rows are ever scored.
    """
    qsig = 0
    for i, plane in enumerate(planes):
        proj = sum(float(a) * float(b) for a, b in zip(query_vec, plane))
        if proj >= 0:
            qsig |= 1 << i
    probes = [qsig]
    if multi_probe >= 1:
        probes += [qsig ^ (1 << i) for i in range(len(planes))]
    if multi_probe >= 2:
        # all Hamming-distance-2 buckets: C(n_planes, 2) extra probes —
        # the standard recall/probe-count trade (still a literal IN
        # filter, still prunable)
        n = len(planes)
        probes += [
            qsig ^ (1 << i) ^ (1 << j)
            for i in range(n)
            for j in range(i + 1, n)
        ]

    q = double_array(query_vec)
    pruned = corpus_with_sig.where(F.col(sig_col).isin(probes))
    scored = pruned.select(
        F.col(id_col),
        cosine_similarity(F.col(vec_col).cast("array<double>"), q).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


# -- product quantization (PQ / ADC) ----------------------------------

def pq_train(
    df: DataFrame,
    m: int = 16,
    k: int = 16,
    vec_col: str = "embedding",
    sample_n: int = 2000,
    max_iter: int = 6,
    id_col: str | None = None,
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks on a corpus sample (driver-side).

    Returns ``m`` codebooks of ``k`` centroids over ``dim/m``-wide
    subvectors. Training on a bounded sample is the standard PQ recipe
    (codebooks for billion-vector indexes train on ~100k samples), so
    the driver-side numpy Lloyd's here is the scale-correct design —
    corpus-sized work happens only in ``pq_encode`` (Arrow-batched
    map) and ``pq_topk`` (codegen'd table lookups). Vectors are
    L2-normalized before training so squared-L2 ADC ranking matches
    cosine ranking (‖u−v‖² = 2−2·cos for unit vectors).

    Deterministic: the sample is the first ``sample_n`` rows by
    ``id_col`` order (or input order when None); init is the first
    ``k`` sample points per subspace.
    """
    import numpy as np

    cols = [F.col(vec_col).cast("array<double>").alias("_v")]
    if id_col:
        cols.append(F.col(id_col))
    base = df.select(*cols)
    if id_col:
        base = base.orderBy(id_col)
    rows = base.limit(sample_n).collect()
    x = np.array([r["_v"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    x = x / norms
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    books: list[list[list[float]]] = []
    for j in range(m):
        sub = x[:, j * d : (j + 1) * d]
        cent = sub[:k].copy()
        for _ in range(max_iter):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cent[c] = sub[mask].mean(axis=0)
        books.append([[float(v) for v in c] for c in cent])
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Append a packed-long PQ code column (4 bits/subspace at k=16).

    This is the 100 TB story: the searchable index column is 8
    bytes/vector instead of dim×4 — a billion vectors' codes fit in
    ~8 GB of scan, and ADC search never touches the raw embedding
    column (column pruning drops it at the reader). Encoding is an
    Arrow-batched ``mapInPandas``: per batch one numpy broadcast
    computes all m argmins vectorized (a pure-Catalyst encode needs
    m×k interpreted HOF folds per row — measured ~50× slower).
    Map-side only; batch-size independent, hence deterministic.
    """
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    k = len(codebooks[0])
    d = len(codebooks[0][0])
    bits = max(1, (k - 1).bit_length())
    if m * bits > 64:
        raise ValueError(f"code too wide for one long: m={m} bits={bits}")
    books = [np.array(b, dtype=np.float64) for b in codebooks]
    fields = df.schema.fieldNames()
    # StructType.add mutates in place — build the output schema on a
    # copy so the input DataFrame's schema object stays untouched
    from pyspark.sql.types import StructType

    out_schema = StructType(list(df.schema.fields)).add(code_col, "long")

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            n = np.linalg.norm(x, axis=1, keepdims=True)
            n[n == 0] = 1.0
            x = x / n
            # pack in uint64 (the top subspace may use bit 63), then
            # view as int64 for Spark's LongType; decode uses
            # shiftrightunsigned so the sign bit is just a bit
            packed = np.zeros(len(pdf), dtype=np.uint64)
            for j in range(m):
                sub = x[:, j * d : (j + 1) * d]
                d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                packed |= d2.argmin(axis=1).astype(np.uint64) << np.uint64(bits * j)
            out = pdf[fields].copy()
            out[code_col] = packed.view(np.int64)
            yield out

    return df.mapInPandas(encode, out_schema)


def pq_topk(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Approximate top-k by asymmetric distance (ADC) over PQ codes.

    The query's m×k distance table is computed driver-side (tiny) and
    folded into the plan as literal arrays; each row's score is m
    ``element_at`` lookups + adds on the packed code — no vector
    math, no shuffle, whole-stage codegen; ``orderBy().limit(k)`` is
    TakeOrderedAndProject. Returns ``(id_col, adc)``; smaller adc ≈
    nearer (2 − 2·cosine between unit vectors).
    """
    import math

    m = len(codebooks)
    kk = len(codebooks[0])
    d = len(codebooks[0][0])
    bits = max(1, (kk - 1).bit_length())
    mask = (1 << bits) - 1
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec)) or 1.0
    q = [float(x) / qn for x in query_vec]
    score: Column = F.lit(0.0).cast("double")
    for j, book in enumerate(codebooks):
        sub = q[j * d : (j + 1) * d]
        table = [sum((a - b) * (a - b) for a, b in zip(sub, cent)) for cent in book]
        tcol = double_array(table)
        idx = F.shiftrightunsigned(F.col(code_col), bits * j).bitwiseAND(F.lit(mask))
        score = score + F.element_at(tcol, (idx + 1).cast("int"))
    scored = encoded.select(F.col(id_col), score.alias("adc"))
    return scored.orderBy(F.col("adc").asc(), F.col(id_col).asc()).limit(k)


def pq_search(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: Sequence[float],
    k: int = 10,
    pool: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Two-stage PQ search: ADC candidate pool → exact cosine rerank.

    Production ANN shape (IVFPQ-with-refinement): stage 1 scans ONLY
    the 8-byte code column for a pool of ``pool`` candidates; stage 2
    fetches just those rows' vectors (broadcast semi-join on id) and
    reranks exactly. Raw vectors for all non-candidates are never
    read, scored, or shuffled. Measured on the fixture: pool=100
    lifts recall@10 from 4-6 (raw ADC order) to 9-10.
    """
    cands = pq_topk(
        encoded, codebooks, query_vec, k=pool, id_col=id_col, code_col=code_col
    ).select(id_col)
    pruned = encoded.join(F.broadcast(cands), id_col, "left_semi")
    q = double_array(query_vec)
    scored = pruned.select(
        F.col(id_col),
        cosine_similarity(F.col(vec_col).cast("array<double>"), q).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def quantize_int8(vec: Column, levels: int = 127) -> Column:
    """Symmetric per-vector int8 scalar quantization of a float vector.

    ``q_i = FLOOR(x_i * levels / max|x| + 0.5)`` — the standard
    absmax int8 recipe (what a 100 TB embedding store actually ships:
    4x smaller than float32, integer SIMD dot products downstream).
    Engine-exact: the two float ops (multiply, divide) are IEEE
    correctly-rounded in every engine, ``FLOOR`` is exact, and the
    output is integers — so an oracle running the same formula matches
    bit-for-bit, no libm dependence. All-zero vectors quantize to all
    zeros (the absmax is clamped away from 0).
    """
    v = F.transform(vec, lambda x: x.cast("double"))
    absmax = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-300)
    )
    return F.transform(
        v, lambda x: F.floor(x * F.lit(float(levels)) / absmax + F.lit(0.5)).cast("int")
    )


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product (BIGINT fold — order-free)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def quantized_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 127,
) -> DataFrame:
    """Top-k by int8-quantized dot product → ``[id, qdot]``.

    The memory-bound ANN configuration: corpus vectors live quantized
    (4x less scan I/O), scoring is an integer fold the JVM vectorizes,
    and the query is quantized once driver-side with the same absmax
    recipe. Plan shape matches ``cosine_topk``: map + per-partition
    top-k heaps (TakeOrderedAndProject), zero shuffle of the corpus.
    Integer scores make the ranking engine-exact — ties broken on id.
    """
    import math

    absmax = max(max(abs(float(x)) for x in query_vec), 1e-300)
    # rounded half up, mirroring quantize_int8 exactly
    q = [int(math.floor(float(x) * levels / absmax + 0.5)) for x in query_vec]
    qlit = long_array(q)
    scored = df.select(
        F.col(id_col),
        int_dot(quantize_int8(F.col(vec_col), levels), qlit).alias("qdot"),
    )
    return scored.orderBy(F.desc("qdot"), F.col(id_col)).limit(k)


def quantize_vec_py(vec: Sequence[float], levels: int = 127) -> list[int]:
    """Driver-side twin of :func:`quantize_int8` (same absmax recipe,
    same op order, rounded half up) so literal
    anchor/query vectors match the engine-side quantization bit-exactly
    — and so a SQL oracle running the same formula reproduces them."""
    import math

    absmax = max(max(abs(float(x)) for x in vec), 1e-300)
    return [int(math.floor(float(x) * levels / absmax + 0.5)) for x in vec]


def assign_quantized_cells(
    df: DataFrame,
    anchors: Sequence[tuple[int, Sequence[float]]],
    vec_col: str = "embedding",
    cell_col: str = "cluster_id",
    levels: int = 127,
) -> DataFrame:
    """Assign each vector to the anchor with the highest int8-quantized
    dot product — pure map-side argmax, the corpus never shuffles.

    The semantic-clustering front half of cluster-balanced corpus
    sampling (the SemDeDup / DSIR-style diversity primitive): anchors
    are a small fixed set of (id, vector) pairs quantized driver-side
    with :func:`quantize_vec_py` and folded into the plan as integer
    literals; each row is quantized in-engine with the identical absmax
    recipe, so every score is an exact BIGINT and the argmax is
    engine-reproducible (no IEEE ordering hazard anywhere — unlike a
    float cosine argmax, two near-tied anchors cannot flip between
    engines). Ties go to the smallest anchor id.

    Scale: one struct-array max per row over ``len(anchors)`` integer
    folds; at 100 TB this is a scan-speed map with zero exchange, and
    the int8 corpus representation is the same 4x-smaller layout
    :func:`quantized_topk` scans. The row is quantized ONCE into an
    intermediate projection the anchor folds all reference —
    ``CollapseProject`` keeps multi-referenced non-cheap expressions
    out of line, so the 4-pass quantization does not get inlined (and
    re-evaluated) once per anchor.
    """
    if not anchors:
        raise ValueError("assign_quantized_cells: anchors must be non-empty")
    qcol = "__aqc_q"
    with_q = df.withColumn(qcol, quantize_int8(F.col(vec_col), levels))
    entries = []
    for aid, avec in anchors:
        alit = long_array(quantize_vec_py(avec, levels))
        entries.append(
            F.struct(
                int_dot(F.col(qcol), alit).alias("sim"),
                F.lit(-int(aid)).cast("long").alias("neg_id"),
            )
        )
    best = F.array_max(F.array(*entries))
    return with_q.withColumn(cell_col, (-best["neg_id"]).cast("long")).drop(qcol)


def mmr_rerank_greedy(
    rel: dict[int, int],
    sims: dict[int, dict[int, int]],
    k: int,
    lam_num: int = 1,
    lam_den: int = 2,
) -> list[tuple[int, int, int]]:
    """Exact-integer MMR greedy selection → ``[(rank, id, score)]``.

    ``score = lam_num*rel - (lam_den-lam_num)*max_sim_to_selected``
    (for the first pick the max term is 0). All inputs are quantized
    integers, so the selection is bit-reproducible on any engine; ties
    go to the smallest id. O(k * pool) with the running-max trick
    (each new selection only adds one column of the sim matrix)."""
    best_sim: dict[int, int] = {}
    out: list[tuple[int, int, int]] = []
    sel: list[int] = []
    while len(out) < k and len(sel) < len(rel):
        best = None
        for cid, rv in rel.items():
            if cid in sel:
                continue
            if sel:
                score = lam_num * rv - (lam_den - lam_num) * best_sim[cid]
            else:
                score = lam_num * rv
            if best is None or (score, -cid) > (best[2], -best[0]):
                best = (cid, rv, score)
        if best is None:
            break
        cid = best[0]
        sel.append(cid)
        out.append((len(sel), cid, best[2]))
        # fold the new selection into every candidate's running max
        for other, s in sims.get(cid, {}).items():
            cur = best_sim.get(other)
            # sims is symmetric; sims[cid][other] == sims[other][cid]
            if cur is None or s > cur:
                best_sim[other] = s
    return out


def mmr_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    pool: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lam_num: int = 1,
    lam_den: int = 2,
    digits: int = 6,
) -> DataFrame:
    """Maximal-Marginal-Relevance diversity re-rank →
    ``[rank, id_col, score_e6]``.

    The retrieval head that complements hybrid search: take the exact
    cosine top-``pool``, then greedily pick ``k`` results trading
    relevance against redundancy (``λ = lam_num/lam_den``, default
    1/2). Relevance and pairwise sims are quantized to e6 integers
    IN-ENGINE (the s01/s08 recipe), so the greedy argmax is
    engine-exact.

    Scale posture: the pool cut is the distributed ``cosine_topk``
    map (TakeOrderedAndProject over the corpus — the only part that
    sees corpus-sized data); the pool^2 sim matrix is an engine-side
    broadcast self-join of the CONSTANT-sized pool, and the collect is
    bounded by pool + pool^2 rows (2.5k at the default — the d06
    capped-collect contract, independent of corpus size). The greedy
    selection is inherently sequential in k and runs driver-side on
    exact integers — the same head/tail split a production vector
    store uses (rerank touches the head only).
    """
    top = cosine_topk(df, query_vec, id_col=id_col, vec_col=vec_col, k=pool)
    rel_df = top.select(
        id_col,
        quantize(F.col("cosine"), digits).alias("rel_q"),
    )
    pool_vec = df.join(F.broadcast(rel_df), id_col).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    a = pool_vec.select(F.col(id_col).alias("ia"), F.col("_v").alias("_va"))
    b = pool_vec.select(F.col(id_col).alias("ib"), F.col("_v").alias("_vb"))
    sims_df = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("ia") != F.col("ib"))
        .select(
            "ia",
            "ib",
            quantize(cosine_similarity(F.col("_va"), F.col("_vb")), digits).alias("s_q"),
        )
    )
    rel = {r[id_col]: r["rel_q"] for r in rel_df.collect()}  # pool rows
    sims: dict[int, dict[int, int]] = {}
    for r in sims_df.collect():  # pool^2 rows — constant-bounded
        sims.setdefault(r["ia"], {})[r["ib"]] = r["s_q"]
    picked = mmr_rerank_greedy(rel, sims, k, lam_num, lam_den)
    return df.sparkSession.createDataFrame(
        picked, f"rank BIGINT, {id_col} BIGINT, score_e6 BIGINT"
    )


def lloyd_step_quantized(
    df: DataFrame,
    anchors: Sequence[tuple[int, Sequence[float]]],
    vec_col: str = "embedding",
    digits: int = 6,
    levels: int = 127,
) -> DataFrame:
    """One distributed Lloyd (k-means) iteration, integer-exact →
    per ``(cluster_id, dim)`` row: ``[cluster_id, dim, sum_q, n_c,
    inertia_q]``.

    The two halves of the classic k-means step, both engine-exact:

    * **Assign** — :func:`assign_quantized_cells`'s int8 argmax over
      the broadcast anchor literals (map-only, no IEEE ordering
      hazard).
    * **Update + inertia** — raw components are fixed-point quantized
      at ``10^digits`` (``exact.py``), then one explode to
      ``(cluster_id, dim)`` granularity aggregates the per-dimension
      component sums (``sum_q``; the new centroid is ``sum_q / n_c``
      downstream) and the squared
      quantized distance to the OWN anchor, rolled up to the
      per-cluster ``inertia_q`` (e12 units) that a driver loop would
      watch for convergence.

    Scale shape: the corpus is scanned ONCE — assignment and
    quantization are map-side; the explode fans each row into ``dim``
    tiny integer rows that the hash aggregate's map-side partial
    combine collapses to at most ``k * dim`` rows per task before the
    only shuffle. The per-cluster inertia rollup runs on the k*dim-row
    aggregate (broadcast-joined back). Overflow headroom: each squared
    term is <= (2*10^digits)^2, so with e6 quantization a single cluster
    can absorb ~2M unit-norm vectors per dimension before the BIGINT
    bound — drop ``digits`` to 3 (and re-derive the oracle) past
    that, or shard clusters.

    Iterating this step k times IS distributed k-means
    (:func:`kmeans_centroids` is the float/driver-loop variant; this
    one is oracle-checkable bit-for-bit).
    """
    if not anchors:
        raise ValueError("lloyd_step_quantized: anchors must be non-empty")
    asg = assign_quantized_cells(df, anchors, vec_col=vec_col, levels=levels)
    q6 = F.transform(
        F.col(vec_col).cast("array<double>"), lambda x: quantize(x, digits)
    )
    # anchors as a literal array-of-arrays indexed by cluster_id —
    # quantized driver-side by the numpy twin, so the in-plan literals
    # match what the engine would compute
    ordered = sorted((int(aid), avec) for aid, avec in anchors)
    a6 = F.array(*[
        F.array(*[F.lit(v) for v in host_quantize(avec, digits).tolist()])
        for _aid, avec in ordered
    ])
    id_to_pos = {aid: i for i, (aid, _v) in enumerate(ordered)}
    pos = F.col("cluster_id").cast("int") if list(id_to_pos) == list(range(len(ordered))) else (
        F.element_at(
            F.create_map(*[
                x for aid, i in id_to_pos.items() for x in (F.lit(aid), F.lit(i))
            ]),
            F.col("cluster_id"),
        )
    )
    arow = F.element_at(a6, pos + F.lit(1))
    d2 = F.zip_with(q6, arow, lambda x, y: (x - y) * (x - y))
    ex = asg.select(
        "cluster_id",
        F.posexplode(F.arrays_zip(q6.alias("q"), d2.alias("d2"))),
    ).select(
        "cluster_id",
        F.col("pos").cast("bigint").alias("dim"),
        F.col("col.q").alias("q"),
        F.col("col.d2").alias("d2"),
    )
    per_dim = ex.groupBy("cluster_id", "dim").agg(
        F.sum("q").alias("sum_q"),
        F.count(F.lit(1)).alias("n_c"),
        F.sum("d2").alias("sum_d2"),
    )
    # per_dim has TWO consumers (the output join and the inertia
    # rollup); without materialization Spark re-evaluates the whole
    # quantize+argmax+explode subtree per consumer AND the join's
    # pushed-down isnotnull(cluster_id) inlines the argmax into the
    # scan filter (the measured s11 hazard). localCheckpoint'ing the
    # <= k*dim-row aggregate keeps the corpus scan single-pass.
    per_dim = per_dim.transform(materialize_lazy)
    inert = per_dim.groupBy("cluster_id").agg(
        F.sum("sum_d2").alias("inertia_q")
    )
    return (
        per_dim.join(F.broadcast(inert), "cluster_id")
        .select("cluster_id", "dim", "sum_q", "n_c", "inertia_q")
    )


def _trunc_div(a: int, b: int) -> int:
    """Integer division truncating toward zero — the semantics BOTH
    Spark SQL's ``DIV`` (Java) and DuckDB's ``//`` implement, unlike
    Python's floor-division ``//`` which rounds toward -inf for
    negative numerators."""
    q = abs(a) // b
    return q if a >= 0 else -q


def lloyd_train_quantized(
    df: DataFrame,
    anchors: Sequence[tuple[int, Sequence[float]]],
    iters: int = 3,
    vec_col: str = "embedding",
    digits: int = 6,
) -> DataFrame:
    """Full distributed k-means TRAINING loop (Lloyd to ``iters``
    assignment rounds), integer-exact end to end → the final
    per-dimension centroid table ``[cluster_id, dim, c_e6, n_c]``.

    :func:`lloyd_step_quantized` is ONE iteration; this is the loop a
    training job actually runs. Everything stays in e6 fixed point so
    the whole trajectory — not just one step — is engine-reproducible:

    * **Assign** (each round): map-only argmax of the exact BIGINT dot
      between the e6-quantized row and the e6 centroid *literals*
      folded into the plan (ties → smallest cluster id). No IEEE
      ordering hazard, no join, no shuffle for the corpus.
    * **Update** (rounds 1..iters-1): one ``(cluster_id, dim)``
      integer aggregate (map-side partial combine collapses each task
      to ≤ k*dim rows before the only exchange), collected driver-side
      (k*dim rows — the g01/s13 k-row read pattern) and refreshed as
      ``c = sum_q DIV n_c`` with truncation toward zero
      (:func:`_trunc_div`) so an SQL oracle's ``//`` replays it
      bit-for-bit. Empty clusters keep their previous centroid (the
      standard Lloyd convention).
    * **Final round**: the same aggregate is RETURNED as a lazy plan
      with the division done in-engine (``sum_q DIV n_c``), so the
      result is distributed, plan-gateable, and never materialized on
      the driver.

    Scale shape: the corpus is scanned once per round (``iters`` scans
    total — persist the quantized projection at real scale); per-round
    driver traffic is k*dim longs. Overflow headroom: per-cluster
    ``sum_q`` is bounded by ``n_c * max|x| * 10^digits`` — with
    unit-ish embeddings at e6, ~1.5e12 rows per cluster before the
    BIGINT bound; shard clusters or drop ``digits`` past that.
    """
    if not anchors:
        raise ValueError("lloyd_train_quantized: anchors must be non-empty")
    if iters < 1:
        raise ValueError("lloyd_train_quantized: iters must be >= 1")
    ordered = sorted((int(aid), avec) for aid, avec in anchors)
    # quantize the seed anchors driver-side with the numpy twin of the
    # engine form
    cents: dict[int, list[int]] = {
        aid: host_quantize(avec, digits).tolist()
        for aid, avec in ordered
    }
    q6 = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: quantize(x, digits),
    )
    qcol = "__ltq_q"
    # quantize ONCE (CollapseProject keeps the multi-referenced
    # transform out of the anchor folds — the measured s11 inlining
    # hazard) and materialize the projection lazily: every round
    # re-reads it, so without this each of the `iters` jobs re-scans
    # the corpus and re-runs the 4-pass HOF quantization. A lazy
    # localCheckpoint (first round's job materializes it) is used
    # instead of persist() because checkpoint blocks are released by
    # the ContextCleaner when the frame is garbage collected, while
    # CacheManager entries from persist() pin storage for the whole
    # session with no handle for the caller to release.
    with_q = df.withColumn(qcol, q6).transform(materialize_lazy)

    def _assigned() -> DataFrame:
        entries = []
        for aid in sorted(cents):
            clit = long_array(cents[aid])
            entries.append(
                F.struct(
                    int_dot(F.col(qcol), clit).alias("sim"),
                    F.lit(-aid).cast("long").alias("neg_id"),
                )
            )
        best = F.array_max(F.array(*entries))
        return with_q.withColumn(
            "cluster_id", (-best["neg_id"]).cast("long")
        )

    def _per_dim(asg: DataFrame) -> DataFrame:
        return (
            asg.select("cluster_id", F.posexplode(F.col(qcol)))
            .select(
                "cluster_id",
                F.col("pos").cast("bigint").alias("dim"),
                F.col("col").alias("qv"),
            )
            .groupBy("cluster_id", "dim")
            .agg(F.sum("qv").alias("sum_q"), F.count(F.lit(1)).alias("n_c"))
        )

    for _round in range(iters - 1):
        rows = _per_dim(_assigned()).collect()  # k*dim longs, the
        # per-iteration model read every Lloyd trainer does
        by_cd = {
            (int(r["cluster_id"]), int(r["dim"])): (
                int(r["sum_q"]), int(r["n_c"])
            )
            for r in rows
        }
        cents = {
            aid: (
                [_trunc_div(*by_cd[(aid, d)]) for d in range(len(vec))]
                if (aid, 0) in by_cd
                else list(vec)  # empty cluster keeps its centroid
            )
            for aid, vec in cents.items()
        }
    return (
        _per_dim(_assigned())
        .withColumn("c_e6", F.expr("sum_q DIV n_c"))
        .select("cluster_id", "dim", "c_e6", "n_c")
        .orderBy("cluster_id", "dim")
    )


def range_neighbors(
    corpus: DataFrame,
    queries: DataFrame,
    tau_e6: int,
    per_query_cap: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Radius (range) similarity search: EVERY corpus vector whose
    cosine similarity to a query is at least ``tau_e6 / 1e6``, as
    ``(query_id, vec_id, cosine_e6)``, capped at ``per_query_cap``
    best matches per query.

    The complement of top-k retrieval: dedup radius sweeps and
    contamination checks ask "everything this close", not "the k
    closest". The threshold compares the QUANTIZED score (at e6,
    ``exact.py``: the integer both sides of an oracle compute
    identically) so no pair can land on opposite sides of the cut via
    sub-quantum float noise.

    Scale shape: queries broadcast (small set by contract); scoring
    is a narrow map over the corpus — zero shuffle until the
    per-query cap's window, which partitions by query_id over rows
    that already passed the threshold (the only corpus-sized stage is
    the scan itself). For query sets too big to broadcast, use LSH
    bucketing (``lsh_buckets``) to turn the cross product into a
    bucket equi-join first.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).cast("array<double>").alias("_qvec"),
    )
    sim = cosine_similarity(F.col(vec_col).cast("array<double>"), F.col("_qvec"))
    scored = corpus.crossJoin(F.broadcast(q)).select(
        F.col("query_id"),
        F.col(id_col),
        quantize(sim, 6).alias("cosine_e6"),
    )
    # pushdown fence: without it Catalyst pushes the threshold filter
    # through this projection into the join condition AND keeps the
    # projection's own copy — the interpreted-HOF cosine (aggregate/
    # zip_with lambdas run outside codegen with no CSE) is then
    # evaluated twice for every pair that passes, which the round-9
    # hot-cluster skew fixture (~50% of the corpus inside the radius)
    # measured as a 15-50% tax. spark_partition_id() is
    # nondeterministic to the optimizer, so the filter stays ABOVE the
    # projection and each pair's score is computed exactly once; the
    # predicate itself is free (always true) and pruning/limit
    # behavior above (WindowGroupLimit) is unaffected.
    scored = scored.where(F.spark_partition_id() >= 0).where(
        F.col("cosine_e6") >= tau_e6
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_e6").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") <= per_query_cap)
        .drop("_rank")
    )
