"""Deduplication operators for large-scale training-data pipelines.

Exact dedup, MinHash+LSH near-dedup, SimHash, and n-gram Jaccard —
all expressed as DataFrame programs over built-in functions (no Python
UDFs in the hot path).

Scale design:
- Exact dedup: one shuffle on a fixed-width digest (not the full text).
- MinHash: signatures are computed per-row map-side with higher-order
  functions (``transform``/``array_min``) — no explode, no shuffle;
  only the tiny (id, band-hash) pairs shuffle for bucketing. Banding
  turns the O(n²) pair space into per-bucket joins.
- Digests come from ``arc_jupyter_spark.digest``, which states the
  rule: md5 forms where an oracle sees the value, ``xxhash64`` for
  plan-internal keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from arc_jupyter_spark.checkpoint import materialize, materialize_lazy
from arc_jupyter_spark.digest import band_digests, internal_digest, md5_hex, md5_prefix_hash
from arc_jupyter_spark.operators.litarray import long_array
from arc_jupyter_spark.operators.text import tokens


# -- exact ------------------------------------------------------------

def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Keep one row per distinct ``key_cols`` (lowest ``order_col``).

    One shuffle (window on the key). For 100 TB, hash the key columns
    into a digest first so the shuffle carries 16 bytes per row instead
    of the full document text — see ``exact_dedup_by_digest``.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_dedup_by_digest(df: DataFrame, text_col: str, order_col: str) -> DataFrame:
    """Exact text dedup keyed on a fixed-width digest — the scale path.

    ``groupBy(digest).agg(min_by(row, order))`` beats the
    window/row_number shape at scale: the aggregation is partial
    (map-side combine collapses same-digest rows before the shuffle)
    and needs no per-partition sort.

    The digest is ``internal_digest`` of the full text, dropped before
    return; it streams whole documents ~an order of magnitude faster
    per byte than md5.
    """
    keyed = df.withColumn("_digest", internal_digest(F.col(text_col)))
    packed = keyed.groupBy("_digest").agg(
        F.min_by(F.struct(*df.columns), F.col(order_col)).alias("_row")
    )
    return packed.select("_row.*")


def _parallelize(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the scan has fewer partitions than
    the cluster has slots.

    Shingling/hashing cost lives in the projection right after the
    scan; a small input (one file, one row group) otherwise pins that
    whole stage to one task. The repartition shuffles only the raw
    rows (cheap) and lets every core hash. On a real many-file corpus
    the scan already has enough splits and this is a no-op.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# Gram tables are persisted because two branches (doc frequency +
# membership/seed join) consume them within ONE operator's plan. A
# long-lived session calling these operators repeatedly would
# otherwise accumulate pinned blocks until session end. Correctness
# never depends on a persist (unpersist only forces recompute), so we
# keep at most the MOST RECENT gram table pinned and release prior
# ones on the next call; release_gram_cache() drops that one too.
_GRAM_CACHE: list[DataFrame] = []


def _persist_grams(grams: DataFrame) -> DataFrame:
    """Persist a gram table MEMORY_AND_DISK, releasing any gram table
    pinned by a previous operator call in this session."""
    from pyspark.storagelevel import StorageLevel

    release_gram_cache()
    g = grams.persist(StorageLevel.MEMORY_AND_DISK)
    _GRAM_CACHE.append(g)
    return g


def release_gram_cache() -> None:
    """Unpersist any gram table pinned by the substring-dedup family
    (duplicated_spans / scrub / maximal_match_pairs / self_repeat_stats
    / cross_match_pairs). Safe anytime: a consumer still holding the
    lazy result just recomputes the projection."""
    while _GRAM_CACHE:
        _GRAM_CACHE.pop().unpersist()


# -- shingling --------------------------------------------------------

def word_shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles of lowercased whitespace-tokenized text.

    Pure higher-order-function expression (map-side, codegen'd).

    The token array is bound as a LAMBDA VARIABLE (the one-element
    ``transform(array(tokens), toks -> ...)`` wrap) so it is evaluated
    ONCE per row: HOF lambdas run interpreted without common
    subexpression elimination, so referencing the raw
    ``filter(split(lower(text)))`` expression from every per-shingle
    ``element_at`` re-runs the O(doc) tokenization per element —
    O(tokens^2 x n) per document. Measured on the sf0.1 corpus
    (250k 5-gram digests under a Generate): 22.8 s inlined vs 0.77 s
    via the lambda binding — 30x. element_at per fixed offset beats
    slice() (no per-shingle array allocation; constants matter ~2x
    in interpreted HOFs).
    """
    def per_doc(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda j: F.concat_ws(
                    " ", *[F.element_at(toks, j + i) for i in range(n)]
                ),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))

    return F.flatten(F.transform(F.array(tokens(text)), per_doc))


def word_shingle_digests(text: Column, n: int = 3) -> Column:
    """Per-position 64-bit shingle digests of lowercased whitespace-
    tokenized text — :func:`word_shingles` fused with the digest step.

    The digest is ``internal_digest`` over the shingle's n tokens
    directly (seed-chained multi-arg form): no per-shingle ``concat_ws``
    string, one cheap hash per shingle inside the interpreted HOF (guide
    §4.2). Every oracle joins raw shingle strings. Documents shorter
    than ``n`` tokens contribute one whole-document digest (hash of the
    joined string, unequal to any n-token digest but by collision).
    """
    def per_doc(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda j: internal_digest(
                    *[F.element_at(toks, j + i) for i in range(n)]
                ),
            ),
        ).otherwise(F.array(internal_digest(F.concat_ws(" ", toks))))

    return F.flatten(F.transform(F.array(tokens(text)), per_doc))


# -- MinHash ----------------------------------------------------------

_MERSENNE31 = 2_147_483_647  # 2^31 - 1, prime


def _lcg(seed: int):
    """Tiny deterministic LCG (MINSTD) for hash-family coefficients."""
    state = seed
    while True:
        state = (state * 48271) % _MERSENNE31
        yield state


def minhash_coefficients(num_hashes: int) -> list[tuple[int, int]]:
    """Fixed (a_i, b_i) pairs for the 2-universal family
    ``h_i(x) = (a_i·x + b_i) mod (2^31-1)``.

    Deterministic so the DuckDB oracle can embed the same constants.
    ``a_i`` is kept in [1, 2^30): with 28-bit x, ``a·x + b < 2^61`` —
    no BIGINT overflow in any engine.
    """
    gen = _lcg(42)
    out = []
    for _ in range(num_hashes):
        a = (next(gen) % (1 << 30)) | 1
        b = next(gen)
        out.append((a, b))
    return out


def minhash_signature_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_len: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """Per-document MinHash signature as columns ``_s0.._sN``.

    Shape matters for performance: explode distinct shingles to rows,
    compute all N seed-hashes in ONE flat projection (whole-stage
    codegen'd — no nested higher-order functions, which Catalyst
    evaluates interpreted and re-inlines per reference), then
    ``groupBy(id).min(...)``. The min aggregation is partial (map-side
    combine), so the shuffle carries only num_hashes values per
    document regardless of document size — the 100 TB-safe shape.
    """
    shingles = _parallelize(df).select(
        F.col(id_col),
        F.explode(F.array_distinct(word_shingles(F.col(text_col), shingle_len))).alias("_s"),
    )
    coeffs = minhash_coefficients(num_hashes)
    based = shingles.select(id_col, md5_prefix_hash(F.col("_s")).alias("_x"))
    hashed = based.select(
        id_col,
        *[
            ((F.lit(a) * F.col("_x") + F.lit(b)) % F.lit(_MERSENNE31)).alias(f"_h{i}")
            for i, (a, b) in enumerate(coeffs)
        ],
    )
    return hashed.groupBy(id_col).agg(
        *[F.min(f"_h{i}").alias(f"_s{i}") for i in range(num_hashes)]
    )


def minhash_band_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_len: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Per-document LSH band digests: ``(id_col, _band)`` rows.

    The shared banding primitive behind candidate generation and
    incremental near-dedup: one :func:`band_digests` BIGINT per band, 8
    bytes on the shuffle (a collision adds one spurious candidate pair,
    which downstream exact verification tolerates by design).

    Pass a precomputed ``sigs`` (from :func:`minhash_signature_table`)
    to avoid re-shingling when a pipeline needs both the signatures
    and the bands — the estimation/candidate composition in d12.
    """
    rows_per_band = num_hashes // bands
    if sigs is None:
        sigs = minhash_signature_table(df, id_col, text_col, shingle_len, num_hashes)
    keys = band_digests(bands, rows_per_band)
    return sigs.select(F.col(id_col), F.explode(F.array(*keys)).alias("_band"))


def incremental_near_dedup(
    new: DataFrame,
    existing: DataFrame,
    id_col: str,
    text_col: str,
    shingle_len: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Drop new documents that near-duplicate the EXISTING corpus
    (share ≥1 MinHash band) — the incremental-crawl dedup pass.

    Production pipelines dedup each new crawl against everything
    already ingested; recomputing pairwise candidates over old+new
    (d02's job) would redo corpus-scale work per increment. Here the
    existing side reduces to its distinct band-digest set — in steady
    state that set is precomputed once and stored (8-byte-ish keys) —
    and the anti-join shuffles only (id, band) pairs, co-partitioned
    on the band digest. Both sides are band tables, never documents:
    the 100 TB increment never shuffles text.
    """
    new_bands = minhash_band_table(
        new, id_col, text_col, shingle_len, num_hashes, bands
    )
    existing_bands = (
        minhash_band_table(existing, id_col, text_col, shingle_len, num_hashes, bands)
        .select("_band")
        .distinct()
    )
    hit_ids = new_bands.join(existing_bands, "_band").select(id_col).distinct()
    return new.join(hit_ids, id_col, "left_anti")


def minhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_len: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b) sharing ≥1 LSH band.

    Only (id, band-digest) pairs shuffle; the self-join happens per
    band bucket. Giant buckets (boilerplate/empty documents) are the
    skew risk at scale: a bucket of f docs emits f² pairs. AQE
    skew-join spreads moderate cases; ``max_bucket_size`` drops
    pathological buckets entirely (standard practice at corpus scale —
    a bucket shared by thousands of documents is boilerplate, not
    near-duplication, and is better handled by exact dedup upstream).
    """
    banded = minhash_band_table(
        df, id_col, text_col, shingle_len, num_hashes, bands, sigs=sigs
    ).transform(materialize_lazy)
    # ^ (id, band) feeds the bucket-size aggregate AND both sides of
    # the pair self-join — unpinned, the whole shingle+minhash
    # signature pipeline re-ran per consumer (2 documents scans even
    # with the self-join's ReusedExchange). The pin stores 2×8-byte
    # rows per (doc, band) and every consumer reads that.
    if max_bucket_size is not None:
        # one extra count-aggregate on the tiny (id, band) table; the
        # filter removes the quadratic blowup before the self-join
        bucket_sizes = banded.groupBy("_band").agg(F.count(F.lit(1)).alias("_bn"))
        banded = (
            banded.join(bucket_sizes, "_band")
            .where(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, on="_band")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def _pair_intersections(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_len: int,
    block_col: str | None,
    max_doc_freq: int | None,
) -> DataFrame:
    """Shared pair-evidence core for :func:`jaccard_pairs` and
    :func:`containment_pairs` → ``(id_a, id_b, _inter, _na, _nb)``:
    the distinct-shingle intersection size and both documents'
    distinct-shingle counts, for every pair sharing >= 1 surviving
    shingle. All scale/skew notes below describe THIS core; the public
    wrappers only differ in the final ratio.

    Scale shape: explode distinct shingles, equi-join on the shingle
    value (plus ``block_col``) so intersection sizes come from a
    counting aggregation — no document arrays ride through the
    shuffle, and pairs sharing zero shingles never materialize. Each
    doc's shingle count rides WITH the exploded rows (a long per row)
    instead of a separate sizes branch: re-deriving sizes would
    re-evaluate the shingling pipeline two more times and add two
    joins (profiled 10× slower).

    Join-input pruning: a shingle appearing in exactly ONE document
    can never contribute to an intersection, so rows with per-block
    document frequency 1 are dropped before the self-join — results
    are bit-identical, join input typically shrinks several-fold.

    Skew cap: ``max_doc_freq`` drops stop-shingles (per-block document
    frequency above the cap) from the *intersection evidence* — a hot
    boilerplate shingle can otherwise create a quadratic join key at
    corpus scale. Document sizes still count all shingles, so the
    capped jaccard is a conservative underestimate of the exact value
    (shared boilerplate stops counting as similarity evidence).

    Two physical shapes, picked by whether the cap bounds memory:

    - ``max_doc_freq`` set (the corpus-scale configuration): classic
      posting-list pair generation. The per-key document frequency is
      partial-aggregated FIRST and keys outside ``2 <= df <= cap``
      are removed with a LEFT SEMI join *before* any list is
      collected, so a corpus-scale stop shingle never materializes a
      posting list at all — the collect_list group receives at most
      ``max_doc_freq`` rows by construction, not post-hoc filtering.
      The semi-join and the collect groupBy share the same key, so
      Catalyst reuses the hash partitioning (one logical shuffle of
      the exploded stream). Candidate pairs are generated map-side
      from each bounded list with ordered-pair HOFs (≤ C(cap,2) per
      shingle). The shingling scalar work (md5 per shingle) runs
      exactly once, nothing sorts, and only the tiny pair stream
      shuffles again for the intersection count.
      Profiled 2.3× faster than the semi-join shape below and 5×
      less load-sensitive than the count-window shape that preceded
      both (round-3 driver bench: the window sort degraded
      superlinearly under memory pressure, with GC-locker retries).
    - ``max_doc_freq`` None: posting lists would be unbounded, so the
      frequency prune is a partial-aggregated ``groupBy`` count plus
      a LEFT SEMI join back on the same key, followed by the digest
      self-join; every shuffled payload is still digests + longs.
    """
    block = [block_col] if block_col else []
    # shingles become 8-byte digests BEFORE the explode/shuffle: the
    # self-join keys on a bigint, never on shingle text (a 2^-64-scale
    # collision overcounts one intersection element — the standard
    # trade everywhere this module shuffles digests). The distinct
    # runs over the digests (longs) rather than shingle strings —
    # cheaper comparisons, identical set modulo the same collision
    # class — and word_shingle_digests never builds the shingle
    # string at all (one xxhash64 per shingle; guide §4.2).
    sh = _parallelize(df).select(
        F.col(id_col),
        *[F.col(c) for c in block],
        F.array_distinct(
            word_shingle_digests(F.col(text_col), shingle_len)
        ).alias("_sh"),
    ).transform(materialize_lazy)
    # ^ the digest-array table feeds BOTH the df-count branch and the
    # pair-generation branch; the two exchanges carry different
    # payloads, so Catalyst cannot ReusedExchange them and — unpinned —
    # the tokenize+shingle+md5 projection ran once per branch (visible
    # as two Scan parquet + two Generate subtrees in d03's before
    # plan). Pinning the PRE-explode row (one array per doc) costs the
    # least storage and leaves only the cheap re-explode duplicated.
    ex = sh.select(
        F.col(id_col),
        *[F.col(c) for c in block],
        F.explode("_sh").alias("_s"),
        F.size("_sh").alias("_n"),
    )
    keys = [*block, "_s"]
    if max_doc_freq is not None:
        # df prune BEFORE collection: a count aggregate is map-side
        # partial-agg'd (bounded per-task memory regardless of how hot
        # a stop shingle is), and only keys with 2 <= df <= cap reach
        # the collect_list — so the posting-list group is bounded at
        # max_doc_freq rows by construction, never O(pre-cap df)
        keep = (
            ex.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("_df"))
            .where((F.col("_df") >= 2) & (F.col("_df") <= max_doc_freq))
            .select(*keys)
        )
        g = (
            ex.join(keep, on=keys, how="left_semi")
            .groupBy(*keys)
            .agg(
                F.collect_list(
                    F.struct(F.col(id_col).alias("i"), F.col("_n").alias("n"))
                ).alias("lst")
            )
        )
        pairs_arr = F.flatten(
            F.transform(
                F.col("lst"),
                lambda x: F.filter(
                    F.transform(
                        F.col("lst"),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                    lambda p: p["a"]["i"] < p["b"]["i"],
                ),
            )
        )
        paired = g.select(F.explode(pairs_arr).alias("p")).groupBy(
            F.col("p.a.i").alias("id_a"), F.col("p.b.i").alias("id_b")
        )
    else:
        cap = F.col("_df") >= 2
        keep = (
            ex.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(cap)
            .select(*keys)
        )
        ex = ex.join(keep, on=keys, how="left_semi")
        a = ex.alias("a")
        b = ex.alias("b")
        cond = F.col("a._s") == F.col("b._s")
        for c in block:
            cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
        paired = (
            a.join(b, cond)
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.struct(
                    F.struct(F.col("a._n").alias("n")).alias("a"),
                    F.struct(F.col("b._n").alias("n")).alias("b"),
                ).alias("p"),
            )
            .groupBy("id_a", "id_b")
        )
    return paired.agg(
        F.count(F.lit(1)).alias("_inter"),
        # _n is constant per doc — first() is deterministic
        F.first(F.col("p.a.n")).alias("_na"),
        F.first(F.col("p.b.n")).alias("_nb"),
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_len: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs →
    ``(id_a, id_b, jaccard)`` with ``jaccard >= threshold``.

    ``jaccard = |A ∩ B| / |A ∪ B|`` over distinct word shingles; the
    symmetric whole-document near-dup metric. See
    :func:`_pair_intersections` for the shuffle/skew design (posting
    lists, df pruning, the ``max_doc_freq`` stop-shingle cap).
    """
    counts = _pair_intersections(
        df, id_col, text_col, shingle_len, block_col, max_doc_freq
    )
    return counts.select(
        "id_a",
        "id_b",
        (
            F.col("_inter")
            / (F.col("_na") + F.col("_nb") - F.col("_inter"))
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_len: int = 8,
    threshold: float = 0.6,
    block_col: str | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Asymmetric containment for candidate pairs →
    ``(id_a, id_b, containment)`` with ``containment >= threshold``.

    ``containment = |A ∩ B| / min(|A|, |B|)`` over distinct word
    shingles — the SUB-document duplication signal Jaccard misses: a
    short document pasted verbatim inside a long one scores ~1.0 here
    but near 0 on Jaccard (the union is dominated by the long side).
    With a long shingle length (default 8 words) a high containment
    is shared-substring evidence, the distributed stand-in for the
    suffix-array exact-substring dedup of RefinedWeb-style pipelines
    (broadcast suffix arrays don't shard; shared fixed-length windows
    do). Same posting-list core as :func:`jaccard_pairs` — see
    :func:`_pair_intersections`.
    """
    counts = _pair_intersections(
        df, id_col, text_col, shingle_len, block_col, max_doc_freq
    )
    return counts.select(
        "id_a",
        "id_b",
        (F.col("_inter") / F.least(F.col("_na"), F.col("_nb"))).alias(
            "containment"
        ),
    ).where(F.col("containment") >= threshold)


def _union_find_labels(edge_rows: list[tuple]) -> list[tuple]:
    """Driver-side union-find → [(node, min-node-in-component)]."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the component's min id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(node, find(node)) for node in parent]


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components over candidate pairs → ``[node, label]``
    with label = min node id in the component.

    Fast path: the candidate edge list after LSH banding is orders of
    magnitude smaller than the corpus (it only contains near-dup
    evidence), so when it fits comfortably on the driver
    (≤ ``driver_threshold`` edges, counted with a capped scan) an
    exact union-find labels it in one pass — the standard shape for
    dedup pipelines even at 100 TB corpus scale. Larger graphs fall
    back to distributed min-label propagation with POINTER JUMPING:
    each round every node takes the minimum of its own and its
    neighbors' labels, then shortcuts ``label := label(label)`` (one
    self-join) — the classic Shiloach-Vishkin acceleration, so rounds
    needed drop from graph diameter to ~log(diameter); fixpoint when
    no label changes. ``checkpoint.materialize`` truncates the
    growing lineage each round so plan size stays constant — at
    cluster scale flip ``spark.arc.checkpoint.mode=reliable``
    (HDFS/S3-backed ``checkpoint``) for fault
    tolerance.
    """
    base = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    if driver_threshold > 0:
        # single capped collect: one execution of the candidate
        # pipeline decides the path AND supplies the edges
        head = base.limit(driver_threshold + 1).collect()
        if len(head) <= driver_threshold:
            labels = _union_find_labels([(r["src"], r["dst"]) for r in head])
            return pairs.sparkSession.createDataFrame(
                labels, schema=base.select(F.col("src").alias("node"),
                                           F.col("src").alias("label")).schema,
            )
    edges = base
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().transform(materialize_lazy)

    def _jump(prop: DataFrame) -> DataFrame:
        # pointer jump: label := label(label) — every label IS a node
        # id present in the table, so the self-join forwards v straight
        # to whatever its current label has already learned (coalesce
        # only guards the join's own null column, not a semantic case)
        hop = prop.select(
            F.col("node").alias("_jn"), F.col("label").alias("_jl")
        )
        return prop.join(hop, prop.label == F.col("_jn"), "left").select(
            "node",
            F.coalesce(F.col("_jl"), F.col("label")).alias("label"),
        )

    def _first_step() -> DataFrame:
        # iteration 1: label(v) == v, so the neighbor-min join would
        # only rename dst → label — least(src, min(dst)) per src is
        # ONE map-combined aggregate (both orientations are present,
        # so every node appears as src; no separate node table needed)
        prop = edges.groupBy("src").agg(
            F.least(F.col("src"), F.min("dst")).alias("label")
        ).select(F.col("src").alias("node"), "label")
        return _jump(prop)

    def _step(lbl: DataFrame) -> DataFrame:
        neighbor_min = (
            edges.join(lbl, edges.dst == lbl.node)
            .groupBy("src")
            .agg(F.min("label").alias("_nlabel"))
        )
        prop = lbl.join(
            neighbor_min, lbl.node == F.col("src"), "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("_nlabel"), F.col("label"))
            ).alias("label"),
        )
        return _jump(prop)

    # ONE step per materialization: composing several steps lazily
    # between checkpoints looks like a free job-count win, but each
    # propagate+jump adds 3 self-referencing joins and Catalyst's
    # size-in-bytes stats MULTIPLY through the join tree — at 4
    # composed steps the BigInteger estimates overflowed the driver
    # heap (measured). The checkpoint is lazy, so the fixpoint probe
    # doubles as the materializing action — one job per round, not two.
    #
    # Fixpoint probe: per-node labels are MONOTONE NON-INCREASING
    # (every update is a min/least), so the label vector changed iff
    # its exact sum changed — an aggregate over the pinned frame
    # replaces the old new⋈old join + limit probe (one shuffle fewer
    # per round). DECIMAL(38,0) keeps the sum exact for any BIGINT id
    # set (no wrap-equality false positive).
    def _checksum(lbl: DataFrame):
        return lbl.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
        ).collect()[0]["s"]

    if max_iter <= 0:
        return (
            edges.select(F.col("src").alias("node")).distinct()
            .withColumn("label", F.col("node"))
        )
    labels = None
    prev_sum = None
    for i in range(max_iter):
        if labels is None:
            new_labels = _first_step().transform(materialize_lazy)
            # one aggregate yields BOTH checksums: sum(node) over the
            # round-1 table IS the init vector's sum (labels started
            # as node ids over the same node set), so no separate
            # init-labels table or init-checksum job is needed
            row = new_labels.agg(
                F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
                F.sum(F.col("node").cast("decimal(38,0)")).alias("s0"),
            ).collect()[0]
            new_sum, prev_sum = row["s"], row["s0"]
        else:
            new_labels = _step(labels).transform(materialize_lazy)
            new_sum = _checksum(new_labels)  # materializes the checkpoint
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


def keep_one_per_component(
    df: DataFrame,
    labels: DataFrame,
    id_col: str,
) -> DataFrame:
    """Drop all but the min-id row of each near-dup component.

    Rows absent from *labels* (no duplicate candidates) are kept. The
    labels table is tiny relative to the corpus (only nodes that
    appeared in candidate pairs) — broadcast it.
    """
    keyed = df.join(
        F.broadcast(labels).withColumnRenamed("node", id_col), id_col, "left"
    )
    return keyed.where(
        F.col("label").isNull() | (F.col(id_col) == F.col("label"))
    ).drop("label")


def keep_best_per_component(
    df: DataFrame,
    labels: DataFrame,
    id_col: str,
    score_col: Column,
    keep_score: str | None = None,
) -> DataFrame:
    """Drop all but the best-scoring row of each near-dup component.

    Production pipelines keep the *highest-quality* member of a
    duplicate cluster, not the lowest id — e.g. the longest or
    best-scored crawl of a page. Winner = max ``score_col``; ties
    break to the lowest ``id_col`` so selection is a total order
    (engine-exact, oracle-checkable).

    Scale shape: ``labels`` only contains nodes that appeared in
    candidate pairs (tiny vs the corpus) — broadcast it; rows without
    a label pass through untouched. The winner per component is an
    aggregation over the *labeled subset only* (``max_by`` with
    partial aggregation), then a second broadcast semi-join keeps
    winners — the full corpus never shuffles.

    ``keep_score``: when set, the computed score survives in the
    output under that name, so callers that aggregate the score
    afterwards don't evaluate ``score_col`` a second time — for a
    regex-backed score (token counts) that halves the per-row
    expression cost of the corpus scan.
    """
    keyed = df.withColumn("_score", score_col).join(
        F.broadcast(labels).withColumnRenamed("node", id_col), id_col, "left"
    )
    # winner id per component: max (score, -id) — labeled rows only
    winners = (
        keyed.where(F.col("label").isNotNull())
        .groupBy("label")
        .agg(
            F.max_by(
                F.col(id_col),
                F.struct(F.col("_score"), (-F.col(id_col)).alias("_tie")),
            ).alias("_winner")
        )
        .select(F.col("_winner").alias(id_col), F.lit(True).alias("_is_winner"))
    )
    # one corpus scan: flag winners via a second broadcast join, keep
    # unlabeled rows and flagged winners
    out = keyed.join(F.broadcast(winners), id_col, "left").where(
        F.col("label").isNull() | F.col("_is_winner").isNotNull()
    )
    if keep_score is not None:
        out = out.withColumnRenamed("_score", keep_score)
        return out.drop("label", "_is_winner")
    return out.drop("label", "_score", "_is_winner")


# -- Bloom-filter membership prefilter --------------------------------

def bloom_positions(key: Column, num_hashes: int, num_bits: int) -> Column:
    """Array of ``num_hashes`` bit positions for *key* in ``[0, num_bits)``.

    md5-derived with a per-hash salt prefix, so the filter is
    engine-portable: DuckDB reproduces the identical bit pattern with
    ``digest.duck_md5_prefix_hash("j || '|' || key") % num_bits`` —
    which makes even the false-positive SET exact and oracle-checkable,
    not just bounded.
    """
    return F.array(
        *[
            md5_prefix_hash(F.concat(F.lit(f"{j}|"), key)) % F.lit(num_bits)
            for j in range(num_hashes)
        ]
    )


def bloom_build(
    df: DataFrame,
    key: Column,
    num_hashes: int = 3,
    num_bits: int = 16384,
) -> DataFrame:
    """Distributed Bloom-filter build → bitmap rows ``(word, bits)``.

    The pre-dedup membership structure for "does this new item
    possibly exist in the corpus" at 100 TB: each row contributes its
    k bit positions map-side; ``bit_or`` partially aggregates per
    32-bit word (commutative — bit order never matters), and the
    result is ``num_bits/32`` rows TOTAL regardless of corpus size.
    Words are 32-bit (stored in longs) so shifts stay in-range and
    positive on every engine. Spark's own ``bloom_filter_agg`` is not
    SQL-registered (and its murmur bits aren't portable); this one is
    pure relational algebra.

    Size for the target: FP rate ≈ (1 - e^(-kn/m))^k — at n items,
    m = 16 n bits with k = 3 gives ≈ 0.6%. A saturated filter still
    never false-negatives; it only flags more candidates for the
    exact downstream check.
    """
    pos = df.select(
        F.explode(bloom_positions(key, num_hashes, num_bits)).alias("_p")
    )
    return (
        pos.select(
            (F.col("_p") / F.lit(32)).cast("int").alias("word"),
            _pow2(F.col("_p") % 32).alias("_m"),
        )
        .groupBy("word")
        .agg(F.bit_or("_m").alias("bits"))
    )


#: shiftleft() takes only literal shift amounts — index a 32-entry
#: power-of-two array with the (column-valued) bit offset instead.
def _pow2(bit: Column) -> Column:
    table = long_array([1 << i for i in range(32)])
    return F.element_at(table, bit.cast("int") + F.lit(1))


def bloom_dense_words(bitmap: DataFrame, num_bits: int) -> list[int]:
    """Collect the bitmap to a dense driver-side word list (zeros for
    absent words). ``num_bits/32`` longs — a filter constant, like a
    broadcast centroid table; at 100 TB this is kilobytes."""
    words = [0] * ((num_bits + 31) // 32)
    for r in bitmap.collect():
        words[r["word"]] = r["bits"]
    return words


def bloom_might_contain(
    key: Column,
    words: list[int],
    num_hashes: int = 3,
    num_bits: int = 16384,
) -> Column:
    """Map-side membership test against a dense word list.

    All k positions must be set. The word array ships as a literal
    (broadcast with the plan); the probe is a flat projection — no
    join, no shuffle, whole-stage codegen'd.
    """
    arr = long_array(words)  # one py4j call for the 512-word filter
    pos = bloom_positions(key, num_hashes, num_bits)
    return F.forall(
        pos,
        lambda p: (
            F.element_at(arr, (p / F.lit(32)).cast("int") + F.lit(1))
            .bitwiseAND(_pow2(p % 32))
            != F.lit(0)
        ),
    )


# -- SimHash ----------------------------------------------------------

def simhash64(text: Column, num_bits: int = 64) -> Column:
    """SimHash fingerprint from word-level md5 hashes.

    For each bit position, sum ±1 contributions across tokens (bit set
    → +1, clear → -1); the fingerprint bit is 1 when the sum is
    positive. Bit b of a token is taken from its md5 hex nibble —
    portable, no murmur dependency. Map-side only (higher-order
    functions); returns an array of ``num_bits`` 0/1 bytes (portable
    across engines; pack to a bigint downstream if needed).
    """
    hashes = F.transform(tokens(text), lambda t: md5_hex(t.cast("binary")))
    # Interpreted HOF lambdas do no common-subexpression elimination,
    # so everything per-token must be bound as a lambda variable and
    # string work must happen once, not once per bit: tokenize+md5 is
    # a single transform; each hash folds to (num_bits/32) 32-bit
    # chunk ints in one more transform (2 convs per token, not 64
    # substring+convs); the bit sums are ONE aggregate pass whose
    # per-token work is pure shift/mask/add over the bound chunk
    # array. Bit values are identical to the per-nibble math: within
    # a chunk, hex char i's nibble bit (3 - b%4) is chunk bit
    # (31 - b). Measured at sf0.1 (d04): 12.5 s -> ~2 s.
    nchunks = (num_bits + 31) // 32
    chunks = F.transform(
        hashes,
        lambda h: F.array(
            *[
                F.conv(F.substring(h, 1 + 8 * c, 8), 16, 10).cast("bigint")
                for c in range(nchunks)
            ]
        ),
    )
    def per_doc(chs: Column) -> Column:
        def bit_sum(b: int) -> Column:
            return F.aggregate(
                chs,
                F.lit(0),
                lambda acc, ch: acc
                + F.when(
                    F.shiftright(
                        F.element_at(ch, 1 + b // 32), 31 - b % 32
                    ).bitwiseAND(1)
                    > 0,
                    1,
                ).otherwise(-1),
            )

        return F.array(
            *[F.when(bit_sum(b) > 0, 1).otherwise(0) for b in range(num_bits)]
        )

    return F.flatten(F.transform(F.array(chunks), per_doc))


# -- embedding near-dup ----------------------------------------------

def embedding_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    block_col: str | None = None,
) -> DataFrame:
    """Pairs with cosine similarity ≥ threshold.

    With ``block_col`` (e.g. a cluster/LSH bucket id) the join is
    per-block; without it this is a full cross-join — only for small n.
    Cosine is computed JVM-side with ``zip_with``/``aggregate``.
    """
    from arc_jupyter_spark.operators.similarity import cosine_similarity

    base = df.select(
        F.col(id_col), F.col(vec_col),
        *( [F.col(block_col)] if block_col else [] ),
    )
    a = base.alias("a")
    b = base.alias("b")
    on = F.col(f"a.{block_col}") == F.col(f"b.{block_col}") if block_col else F.lit(True)
    sim = cosine_similarity(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
    return (
        a.join(b, on)
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            sim.alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


# -- exact substring-span dedup --------------------------------------

def positional_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """Word n-grams with their token position: ``(id, _pos, _digest)``.

    The positional variant of :func:`word_shingles`, for span-level
    duplicate detection. Grams are digested immediately so only
    8-byte keys (plus two ints) ever shuffle — never gram text.
    Documents shorter than ``n`` tokens contribute no grams.
    """
    toks = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .where(F.size("_toks") >= n)
    )
    # seed-chained multi-arg digest over the gram's n tokens: no gram
    # string (guide §4.2: this projection hashes every token position of
    # the corpus). Oracles join raw gram strings; a 2^-64 collision
    # merges two grams' doc sets.
    digest = internal_digest(
        *[F.element_at(F.col("_toks"), F.col("_pos") + i) for i in range(n)]
    )
    return toks.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.lit(1), F.size("_toks") - (n - 1))
        ).alias("_pos"),
        "_toks",
    ).select(F.col(id_col), "_pos", digest.alias("_digest"))


def _doc_freq_prune(
    grams: DataFrame, id_col: str, lo: int | None = None, hi: int | None = None
) -> DataFrame:
    """The gram occurrences whose digest is seen in ``lo..hi`` DISTINCT
    documents (either bound may be None): a partial-agg'd distinct
    (digest, id) count, LEFT SEMI joined back on the digest, so a hot
    gram never fans out."""
    nd = F.col("_nd")
    cond = nd >= lo if lo is not None else None
    if hi is not None:
        cond = nd <= hi if cond is None else cond & (nd <= hi)
    keep = (
        grams.select("_digest", id_col)
        .distinct()
        .groupBy("_digest")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .where(cond)
        .select("_digest")
    )
    return grams.join(keep, "_digest", "left_semi")


def _diagonal_runs(
    seeds: DataFrame,
    keys: list[str],
    pos: str,
    start: str,
    seed_len: int,
    min_len: int,
) -> DataFrame:
    """Seed-and-chain run-merge: ``seeds`` holds one row per seed hit,
    ``(*keys, pos, _diag)``; returns one row per maximal island
    ``(*keys, _diag, _grp, start, match_len)`` with ``match_len >=
    min_len``. A window PARTITIONED by ``(*keys, _diag)`` — no global
    sort. ``(*keys, _diag, pos)`` is unique by construction (one gram
    per position, one row per occurrence pair), so row_number is
    deterministic and ``pos - row_number`` is constant per island."""
    w = Window.partitionBy(*keys, "_diag").orderBy(pos)
    isl = seeds.withColumn("_grp", F.col(pos) - F.row_number().over(w))
    return (
        isl.groupBy(*keys, "_diag", "_grp")
        .agg(
            F.min(pos).alias(start),
            (F.count(F.lit(1)) + F.lit(seed_len - 1)).alias("match_len"),
        )
        .where(F.col("match_len") >= min_len)
    )


def _interval_union_new(id_col: str, start_col: str, end_col: str) -> Column:
    """Per interval, the tokens it adds to the union of half-open
    [start, end) intervals of its id — the classic running-max-end
    sweep over a window PARTITIONED by id (each partition is one
    document's intervals; nothing global sorts). Summed per id it is
    the union's length, exact under duplicates: an interval identical
    to a predecessor contributes 0."""
    uw = Window.partitionBy(id_col).orderBy(start_col, end_col)
    prev_end = F.max(end_col).over(
        uw.rowsBetween(Window.unboundedPreceding, -1)
    )
    return F.greatest(
        F.lit(0).cast("bigint"),
        F.col(end_col)
        - F.greatest(F.coalesce(prev_end, F.lit(0)), F.col(start_col)),
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_len: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-span statistics (exact substring dedup).

    Finds word ``gram_len``-grams that occur in >= ``min_docs`` distinct
    documents — the train-set memorization signal of Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better"): long
    verbatim repeats across documents are boilerplate or mirrored text
    and inflate memorization. Returns one row per document that
    contains any duplicated gram:
    ``(id, n_grams, n_dup_grams, dup_tokens)`` where ``dup_tokens`` is
    the size of the UNION of token intervals covered by duplicated
    grams (overlapping spans counted once).

    Scale shape (suffix arrays don't distribute; this does):
    - gram table: map-side projection to (id, pos, digest) — 16-byte
      digests shuffle, text never does;
    - document frequency: distinct (digest, id) then count — both
      partially aggregated map-side;
    - membership: LEFT SEMI join of grams against the duplicated-digest
      set — no row multiplication, a hot boilerplate gram cannot fan
      out (each occurrence matches at most once);
    - coverage: classic interval-union-by-sorting — duplicated grams
      sorted by position per document; each contributes
      ``min(gram_len, pos - prev_pos)`` new tokens. One window shuffle
      of the dup occurrences, no row multiplication.

    The (id, pos, digest) gram table is persisted (MEMORY_AND_DISK)
    because BOTH branches — document frequency and membership —
    consume it; without it Spark re-runs the shingle+digest projection
    twice (measured ~30% of wall at sf0.1). At 24 bytes/row it is ~5%
    of corpus text size. The session keeps at most ONE gram table
    pinned across the whole substring-dedup family (the next operator
    call releases the previous one); call :func:`release_gram_cache`
    to drop it eagerly.
    """
    grams = _persist_grams(
        positional_shingles(_parallelize(df), id_col, text_col, gram_len)
    )
    # n_grams needs no aggregation: it is size(tokens) - n + 1,
    # computed map-side straight from the document
    per_doc = df.select(
        F.col(id_col),
        (F.size(tokens(F.col(text_col))) - (gram_len - 1))
        .cast("bigint")
        .alias("n_grams"),
    ).where(F.col("n_grams") > 0)
    dup_occ = _doc_freq_prune(grams, id_col, lo=min_docs)
    # one shuffle: the coverage window and the dup-gram count share the
    # same per-document partitioning and fuse into one aggregation
    w = Window.partitionBy(id_col).orderBy("_pos")
    prev = F.lag("_pos").over(w)
    contrib = F.when(prev.isNull(), F.lit(gram_len)).otherwise(
        F.least(F.lit(gram_len), F.col("_pos") - prev)
    )
    dup_stats = (
        dup_occ.withColumn("_new_tokens", contrib)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_dup_grams"),
            F.sum("_new_tokens").alias("dup_tokens"),
        )
    )
    return per_doc.join(dup_stats, id_col).select(
        id_col, "n_grams", "n_dup_grams", "dup_tokens"
    )


def scrub_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_len: int = 5,
    min_docs: int = 2,
    out_col: str = "clean_text",
) -> DataFrame:
    """REMOVE duplicated spans from documents (the second half of Lee
    et al. 2021 — :func:`duplicated_spans` detects, this scrubs).

    A token is scrubbed iff it is covered by any word ``gram_len``-gram
    occurring in ≥ ``min_docs`` distinct documents; the cleaned text is
    the remaining tokens (lowercased, single-spaced) in order. Output =
    input plus ``out_col``; docs with no duplicated grams pass through
    verbatim (modulo tokenization normalization).

    Scale shape: the dup-occurrence table (id, pos) aggregates to ONE
    sorted start-array per affected document (partial ``collect_list``;
    only positions shuffle), joins back to the corpus (only affected
    docs carry an array), and the scrub itself is a map-side HOF filter
    — O(tokens × dup-starts) per doc. For pathological docs where
    dup-starts is huge, the start array is equivalently a merged
    interval list (sorted); swapping the inner ``exists`` for a binary
    search over merged intervals bounds the scan — at fixture scale the
    direct form is already exact and fast.

    The gram table is persisted for the same two consumers as in
    :func:`duplicated_spans`.
    """
    grams = _persist_grams(
        positional_shingles(_parallelize(df), id_col, text_col, gram_len)
    )
    starts = (
        _doc_freq_prune(grams, id_col, lo=min_docs)
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("_pos")).alias("_starts"))
    )
    ss = F.coalesce(F.col("_starts"), F.array().cast("array<int>"))

    def keep(x: Column, i: Column) -> Column:
        j = i + F.lit(1)  # starts are 1-based token positions
        return ~F.exists(ss, lambda s: (s <= j) & (j < s + F.lit(gram_len)))

    cleaned = F.concat_ws(" ", F.filter(tokens(F.col(text_col)), keep))
    return (
        df.join(starts, id_col, "left")
        .withColumn(out_col, cleaned)
        .drop("_starts")
    )


def maximal_match_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seed_len: int = 5,
    min_len: int = 10,
    max_doc_freq: int | None = 50,
) -> DataFrame:
    """Maximal cross-document token matches — suffix-array semantics,
    distributed as a sorted-ngram run-merge (seed-and-chain).

    Returns one row per MAXIMAL shared token run of length >=
    ``min_len`` between an ordered document pair:
    ``(id_a, id_b, start_a, start_b, match_len)``, positions 1-based.
    "Maximal" = the run cannot be extended on either side (the MEM of
    suffix-array literature): a common substring of token length
    M >= ``seed_len`` appears as exactly M - seed_len + 1 consecutive
    seed hits on one ``(id_a, id_b, start_a - start_b)`` diagonal, so
    per-diagonal gaps-and-islands reconstructs every maximal match
    exactly — the seed-and-chain of MUMmer/Vmatch, reshaped for a
    shuffle engine (a suffix array itself doesn't shard; diagonal
    runs do).

    Completes the substring-dedup family: d08/:func:`duplicated_spans`
    reports fixed-gram COVERAGE, d17/:func:`containment_pairs` reports
    shared-window RATIOS; this returns the actual maximal repeats that
    RefinedWeb-style exact-substring dedup removes (Penedo et al. 2023
    §3.3; Lee et al. 2021).

    Scale shape:
    - seeds: map-side ``(id, pos, digest8)`` projection — 8-byte
      digests shuffle, text never does; the gram table is persisted
      once for its two consumers (doc-frequency + seed join), same
      trade as :func:`duplicated_spans`;
    - doc-frequency prune: only digests seen in ``2..max_doc_freq``
      DISTINCT docs survive (partial-agg'd count + LEFT SEMI back on
      the same key). df=1 seeds cannot cross documents (free exact
      prune); the upper cap stops a boilerplate seed from creating a
      quadratic join key at corpus scale — the same skew bound as
      d03/d17, mirrored by the oracle, so capped runs split
      deterministically rather than silently diverging;
    - seed pairs: digest equi-join with ``id_a < id_b`` — rows are
      (two ids, two ints) wide, never text;
    - run-merge: gaps-and-islands per ``(id_a, id_b, diagonal)`` — a
      PARTITIONED window (pair x diagonal keys, no global sort; each
      partition is at most one document's positions), then one
      partial-agg'd groupBy per island.

    ``min_len`` must be >= ``seed_len``: matches shorter than the seed
    produce no seed hit and are invisible by construction.

    Collision sensitivity: seed chaining trusts the 60-bit gram
    digests of :func:`positional_shingles` more strongly than the set
    operators do — a digest collision INSIDE a run doesn't just
    overcount one set element (the d03/d17 failure mode), it can
    bridge two separate runs on the same diagonal into one false
    "maximal" match, silently diverging from suffix-array semantics.
    Acceptable at 2^-60 per-pair scale; verify with the property test
    against the pure-Python suffix scan if the digest width changes.
    """
    if min_len < seed_len:
        raise ValueError(
            f"min_len ({min_len}) must be >= seed_len ({seed_len}): "
            "matches shorter than the seed produce no seed hits"
        )
    grams = _persist_grams(
        positional_shingles(_parallelize(df), id_col, text_col, seed_len)
    )
    occ = _doc_freq_prune(grams, id_col, lo=2, hi=max_doc_freq)
    a = occ.alias("a")
    b = occ.alias("b")
    seeds = (
        a.join(b, F.col("a._digest") == F.col("b._digest"))
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a._pos").alias("pos_a"),
            (F.col("a._pos") - F.col("b._pos")).alias("_diag"),
        )
    )
    return _diagonal_runs(
        seeds, ["id_a", "id_b"], "pos_a", "start_a", seed_len, min_len
    ).select(
        "id_a",
        "id_b",
        "start_a",
        (F.col("start_a") - F.col("_diag")).alias("start_b"),
        "match_len",
    )


def self_repeat_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seed_len: int = 5,
    min_len: int = 10,
    max_gram_occ: int | None = 50,
) -> DataFrame:
    """Maximal WITHIN-document repeats (intra-doc substring dedup).

    The self-match variant of :func:`maximal_match_pairs`: for each
    document, every maximal pair of equal token runs of length >=
    ``min_len`` at positions ``p < q`` inside the SAME text — the
    exact form of the repetition signal Gopher/CCNet-style filters
    approximate with ratio heuristics (degenerate generation loops,
    templated boilerplate, chorus-like structure). Returns one row
    per document with at least one repeat:
    ``(id, n_rep_matches, max_len, rep_tokens)`` where ``rep_tokens``
    is the union coverage of the LATER occurrence of every repeat
    (the tokens a keep-first intra-doc scrub would remove).

    Same diagonal run-merge as d18, restricted to ``id_a == id_b``:
    a repeat of length M at offset d = q - p appears as M -
    seed_len + 1 consecutive self-seed hits on the (id, d) diagonal.
    Overlapping periodic repeats ("a a a a …") chain into the long
    diagonal-1 run, which is the correct maximal semantics.

    Scale shape: seed table is the same digest-only projection as
    d18 (8-byte digests shuffle, text never); per-(doc, digest)
    occurrence counts are partial-agg'd and digests with occurrence
    count outside ``2..max_gram_occ`` are LEFT-SEMI pruned BEFORE the
    self-join — a degenerate document repeating one gram m times
    would otherwise create m^2/2 seed pairs (the cap is the intra-doc
    analogue of d18's doc-frequency cap, mirrored by the oracle).
    Variable-length interval union uses the classic running-max-end
    sweep over a window PARTITIONED by document.
    """
    if min_len < seed_len:
        raise ValueError(
            f"min_len ({min_len}) must be >= seed_len ({seed_len}): "
            "repeats shorter than the seed produce no seed hits"
        )
    grams = _persist_grams(
        positional_shingles(_parallelize(df), id_col, text_col, seed_len)
    )
    occ_cond = F.col("_occ") >= 2
    if max_gram_occ is not None:
        occ_cond = occ_cond & (F.col("_occ") <= max_gram_occ)
    keep = (
        grams.groupBy(id_col, "_digest")
        .agg(F.count(F.lit(1)).alias("_occ"))
        .where(occ_cond)
        .select(id_col, "_digest")
    )
    occ = grams.join(keep, [id_col, "_digest"], "left_semi")
    a = occ.alias("a")
    b = occ.alias("b")
    seeds = (
        a.join(
            b,
            (F.col(f"a.{id_col}") == F.col(f"b.{id_col}"))
            & (F.col("a._digest") == F.col("b._digest"))
            & (F.col("b._pos") > F.col("a._pos")),
        )
        .select(
            F.col(f"a.{id_col}").alias(id_col),
            F.col("a._pos").alias("pos_a"),
            (F.col("b._pos") - F.col("a._pos")).alias("_diag"),
        )
    )
    runs = _diagonal_runs(
        seeds, [id_col], "pos_a", "start_a", seed_len, min_len
    ).select(
        F.col(id_col),
        (F.col("start_a") + F.col("_diag")).alias("_start_q"),
        (F.col("start_a") + F.col("_diag") + F.col("match_len")).alias(
            "_end_q"
        ),
        "match_len",
    )
    # variable-length interval union: a token of the later occurrence
    # counts once even when repeats overlap
    return (
        runs.withColumn("_new", _interval_union_new(id_col, "_start_q", "_end_q"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_rep_matches"),
            F.max("match_len").alias("max_len"),
            F.sum("_new").alias("rep_tokens"),
        )
    )


def cross_match_pairs(
    df_probe: DataFrame,
    df_corpus: DataFrame,
    id_col: str,
    text_col: str,
    seed_len: int = 5,
    min_len: int = 10,
    max_doc_freq: int | None = 50,
) -> DataFrame:
    """Maximal token matches ACROSS two corpora — substring-level
    contamination detection (probe = eval/benchmark set, corpus =
    training data). Returns one row per maximal shared run >=
    ``min_len``: ``(id_probe, id_corpus, start_probe, start_corpus,
    match_len)``, positions 1-based.

    The cross-table variant of :func:`maximal_match_pairs`: instead
    of ordered pairs within one table, seeds pair every probe-side
    gram occurrence with every corpus-side occurrence of the same
    digest; diagonal run-merge reconstructs the maximal matches. This
    is the substring-exact strengthening of fixed-n-gram
    decontamination (Lee et al. 2021; GPT-3 appendix C): a 13-gram
    check misses a 12-token verbatim leak, a maximal-match check
    reports exactly what leaked and where.

    Scale shape: both gram tables are map-side digest projections
    (8-byte digests shuffle, never text). The doc-frequency cap
    applies to the CORPUS side only (a boilerplate gram in thousands
    of training docs would blow up the probe join; eval sets are
    small, so the probe side needs no cap), partial-agg'd and
    LEFT-SEMI pruned before the join — mirrored by the oracle. The
    probe-side gram table is typically tiny; at scale Catalyst
    broadcasts it into the corpus stream.
    """
    if min_len < seed_len:
        raise ValueError(
            f"min_len ({min_len}) must be >= seed_len ({seed_len})"
        )
    probe = positional_shingles(
        _parallelize(df_probe), id_col, text_col, seed_len
    )
    corpus = positional_shingles(
        _parallelize(df_corpus), id_col, text_col, seed_len
    )
    if max_doc_freq is not None:
        corpus = _doc_freq_prune(_persist_grams(corpus), id_col, hi=max_doc_freq)
    a = probe.alias("a")
    b = corpus.alias("b")
    seeds = (
        a.join(b, F.col("a._digest") == F.col("b._digest"))
        .select(
            F.col(f"a.{id_col}").alias("id_probe"),
            F.col(f"b.{id_col}").alias("id_corpus"),
            F.col("a._pos").alias("pos_p"),
            (F.col("a._pos") - F.col("b._pos")).alias("_diag"),
        )
    )
    return _diagonal_runs(
        seeds, ["id_probe", "id_corpus"], "pos_p", "start_probe",
        seed_len, min_len,
    ).select(
        "id_probe",
        "id_corpus",
        "start_probe",
        (F.col("start_probe") - F.col("_diag")).alias("start_corpus"),
        "match_len",
    )


def substring_removal_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seed_len: int = 5,
    min_len: int = 10,
    max_doc_freq: int | None = 50,
) -> DataFrame:
    """Keep-first substring-removal ACCOUNTING — d19's metrics without
    rebuilding any text: one row per document,
    ``(id, n_tokens, removed_tokens)``, where ``removed_tokens`` is
    the union coverage of the higher-id side of every maximal
    cross-document match (what :func:`scrub_maximal_matches` would
    cut). For pipeline reporting this skips the string reassembly —
    only digests, positions and counts ever shuffle."""
    runs = maximal_match_pairs(
        df, id_col, text_col,
        seed_len=seed_len, min_len=min_len, max_doc_freq=max_doc_freq,
    )
    iv = runs.select(
        F.col("id_b").alias(id_col),
        F.col("start_b").alias("_s"),
        (F.col("start_b") + F.col("match_len")).alias("_e"),
    )
    removed = (
        iv.withColumn("_new", _interval_union_new(id_col, "_s", "_e"))
        .groupBy(id_col)
        .agg(F.sum("_new").alias("removed_tokens"))
    )
    per_doc = df.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).cast("bigint").alias("n_tokens"),
    )
    return per_doc.join(removed, id_col, "left").withColumn(
        "removed_tokens",
        F.coalesce(F.col("removed_tokens"), F.lit(0).cast("bigint")),
    )


def scrub_maximal_matches(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seed_len: int = 5,
    min_len: int = 10,
    max_doc_freq: int | None = 50,
    out_col: str = "clean_text",
) -> DataFrame:
    """Keep-first exact-substring scrub (the removal half of d18 —
    :func:`maximal_match_pairs` detects, this scrubs).

    RefinedWeb-style substring dedup keeps ONE copy of every long
    repeat: for each maximal cross-document match of >= ``min_len``
    tokens, the LOWER-id document keeps its text and the covered
    tokens are removed from the higher-id side. Contrast with
    :func:`scrub_duplicated_spans`, which removes duplicated grams
    from EVERY occurrence — that is decontamination; this is
    dedup (the corpus still contains each repeat exactly once).

    One-pass policy (as in suffix-array implementations): matches are
    computed on the ORIGINAL corpus, then all removals apply at once —
    scrubbing b against a does not re-expose b's text to c.

    Output = input plus ``out_col`` (kept tokens, lowercased,
    single-spaced; documents with no match pass through modulo
    tokenization normalization).

    Scale shape: on top of d18's digest-only shuffles, the removal
    side aggregates matches to ONE sorted (start, len) interval array
    per affected document (partial ``collect_list`` of two ints per
    match), LEFT-joins back to the corpus, and the scrub itself is a
    map-side HOF filter — O(tokens x intervals) per doc, same bound
    as :func:`scrub_duplicated_spans`.
    """
    runs = maximal_match_pairs(
        df, id_col, text_col,
        seed_len=seed_len, min_len=min_len, max_doc_freq=max_doc_freq,
    )
    ivs = (
        runs.groupBy(F.col("id_b").alias(id_col))
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("start_b").alias("s"),
                        F.col("match_len").alias("l"),
                    )
                )
            ).alias("_ivs")
        )
    )
    iv = F.coalesce(
        F.col("_ivs"), F.array().cast("array<struct<s:int,l:bigint>>")
    )

    def keep(x: Column, i: Column) -> Column:
        j = i + F.lit(1)  # 1-based token positions, like the matches
        return ~F.exists(
            iv, lambda r: (r["s"] <= j) & (j < r["s"] + r["l"])
        )

    cleaned = F.concat_ws(" ", F.filter(tokens(F.col(text_col)), keep))
    return (
        df.join(ivs, id_col, "left")
        .withColumn(out_col, cleaned)
        .drop("_ivs")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-space dedup (SemDeDup shape): drop every vector that
    has a smaller-id neighbor with cosine >= ``threshold`` inside its
    block (cluster / LSH bucket).

    The kept set is exactly the id-minimal elements of the ε-ball
    graph: deterministic (no random tie-breaks), order-independent,
    and computable in two steps — the blocked pair join
    (:func:`embedding_dup_pairs`; pairs never leave their block) and
    one anti-join of the corpus against the distinct dropped-id set.
    At 100 TB the block assignment (k-means cells, map-side argmax)
    bounds each join bucket; the anti-join shuffles ids, not vectors.
    """
    pairs = embedding_dup_pairs(
        df, id_col, vec_col, threshold=threshold, block_col=block_col
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dropped, id_col, "left_anti")


def passage_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    passage_len: int = 20,
) -> DataFrame:
    """Passage-level exact dedup: chop each document into
    non-overlapping ``passage_len``-token chunks, keep the globally
    FIRST occurrence of each distinct chunk (order = (id, chunk idx)),
    and report per-document retention:
    ``(id, n_passages, n_kept, kept_tokens)``.

    The chunk-granular cousin of document :func:`exact_dedup_by_digest`
    and span :func:`duplicated_spans` — the unit C4/RefinedWeb-style
    pipelines dedup at when whole-document hashing is too coarse and
    suffix-array spans too expensive.

    Scale shape: chunking is one map-side projection
    (sequence + slice inside codegen, no Python); the keep-first
    winner per digest is a single partial-aggregated struct ``min``
    over ``(id, idx)`` — 8-byte digests + one small struct shuffle,
    text never does. Membership (did THIS occurrence win?) rejoins
    winners on the digest: no row multiplication (one winner per
    digest), and AQE may broadcast the winner table when small.
    """
    toks = tokens(F.col(text_col))
    n_chunks = F.ceil(F.size("_toks") / F.lit(passage_len)).cast("int")
    chunk_arr = F.slice(
        F.col("_toks"), F.col("_idx") * passage_len + 1, passage_len
    )
    # digest of the token-array slice directly: no chunk string, no
    # re-split to count tokens (a slice of the filtered token array has
    # no empties, so its size IS the chunk's token count). The oracle
    # groups by its own md5 of the passage string.
    occ = (
        df.select(F.col(id_col), toks.alias("_toks"))
        .where(F.size("_toks") > 0)
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("_idx"),
            "_toks",
        )
        .select(
            F.col(id_col),
            F.col("_idx"),
            internal_digest(chunk_arr).alias("_digest"),
            F.size(chunk_arr).cast("bigint").alias("_chunk_toks"),
        )
    )
    # keep-first: the smallest (id, idx) struct per digest — struct
    # min partial-aggregates map-side and orders lexicographically,
    # so it is exact for ANY id type/magnitude (an arithmetic
    # id*2^20+idx encoding would silently wrap for 64-bit hash ids)
    order_key = F.struct(F.col(id_col), F.col("_idx")).alias("_ord")
    winners = (
        occ.select("_digest", order_key)
        .groupBy("_digest")
        .agg(F.min("_ord").alias("_win"))
    )
    kept_flag = (
        F.struct(F.col(id_col), F.col("_idx")) == F.col("_win")
    ).cast("int")
    return (
        occ.join(winners, "_digest")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum(kept_flag).cast("bigint").alias("n_kept"),
            F.sum(F.col("_chunk_toks") * kept_flag).alias("kept_tokens"),
        )
    )


def boilerplate_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    passage_len: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Within-group boilerplate passage removal (CCNet-style): chop
    each document into non-overlapping ``passage_len``-token chunks
    and drop EVERY occurrence of a chunk that appears in >=
    ``min_docs`` distinct documents of the same ``group_col``
    (domain/source) — headers, footers, cookie banners. Returns
    per-document retention stats
    ``(id, group, n_chunks, n_removed, kept_tokens)``.

    Differs from :func:`passage_dedup` in both scope and policy:
    frequency is counted *within the group* (a chunk common on one
    domain is boilerplate there even if globally rare), and ALL
    occurrences are removed — keep-first would preserve one copy of a
    footer, which is exactly what crawl curation does not want.

    Scale shape: chunking is a map-side projection; only
    ``(group, digest, id)`` triples shuffle for the distinct-doc
    count (partial-aggregated), chunk text never does. The qualifying
    boilerplate set is tiny by construction (high-frequency chunks
    only) — it broadcasts back onto the occurrence stream, so the
    flagging join never shuffles the corpus.
    """
    toks = tokens(F.col(text_col))
    n_chunks = F.ceil(F.size("_toks") / F.lit(passage_len)).cast("int")
    chunk_arr = F.slice(
        F.col("_toks"), F.col("_idx") * passage_len + 1, passage_len
    )
    occ = (
        df.select(F.col(id_col), F.col(group_col), toks.alias("_toks"))
        .where(F.size("_toks") > 0)
        .select(
            F.col(id_col),
            F.col(group_col),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("_idx"),
            "_toks",
        )
        .select(
            F.col(id_col),
            F.col(group_col),
            # array-hash digest, same scheme as passage_dedup
            internal_digest(chunk_arr).alias("_digest"),
            F.size(chunk_arr).cast("bigint").alias("_chunk_toks"),
        )
    )
    boiler = (
        occ.groupBy(group_col, "_digest")
        .agg(F.countDistinct(id_col).alias("_ddf"))
        .where(F.col("_ddf") >= min_docs)
        .select(group_col, "_digest", F.lit(True).alias("_boiler"))
    )
    rm = F.col("_boiler").isNotNull().cast("int")
    return (
        occ.join(F.broadcast(boiler), [group_col, "_digest"], "left")
        .groupBy(id_col, group_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(rm).cast("bigint").alias("n_removed"),
            F.sum(F.col("_chunk_toks") * (1 - rm)).alias("kept_tokens"),
        )
    )


def fuzzy_pairs(
    df: DataFrame,
    col: str,
    max_dist: int = 2,
    band_width: int = 3,
) -> DataFrame:
    """Entity-resolution fuzzy matching: distinct values of ``col``
    whose Levenshtein distance is <= ``max_dist``, as
    ``(name_a, name_b, dist)`` with ``name_a < name_b``.

    Blocking is LOSSLESS: two strings within edit distance k differ in
    length by at most k, so banding on ``length div band_width`` (with
    ``band_width > max_dist`` and joining each band to itself and its
    successor) covers every qualifying pair exactly once — no
    first-letter/prefix heuristic that would silently drop
    cross-prefix matches ("cold anvil" ~ "old anvil"). Within-band
    work is quadratic in the band's distinct-value count; for corpora
    where one length dominates, compose with a caller-side block
    column (the ``embedding_dup_pairs`` pattern) on top.

    The JVM levenshtein evaluates only inside a band; the distinct
    value table (vocabulary-sized, not corpus-sized) is all that
    shuffles.
    """
    if band_width <= max_dist:
        raise ValueError("band_width must exceed max_dist for lossless banding")
    names = (
        df.select(F.col(col).alias("_name"))
        .where(F.col("_name").isNotNull())
        .distinct()
        .select("_name", (F.length("_name").cast("long") / band_width).cast("long").alias("_band"))
    )
    a = names.select(F.col("_name").alias("name_a"), F.col("_band").alias("_ba"))
    b = names.select(F.col("_name").alias("name_b"), F.col("_band").alias("_bb"))
    same = a.join(b, F.col("_ba") == F.col("_bb"))
    nxt = a.join(b, F.col("_ba") + 1 == F.col("_bb"))
    cand = same.unionAll(nxt).where(
        (F.col("name_a") != F.col("name_b"))
        & (F.abs(F.length("name_a") - F.length("name_b")) <= max_dist)
    )
    # the successor-band join emits only the (lower-band, higher-band)
    # orientation and the same-band join emits both; canonicalize with
    # least/greatest BEFORE any lexicographic filter (filtering the
    # raw orientation first would drop cross-band pairs whose longer
    # name sorts smaller), then dedupe the doubled same-band pairs:
    oriented = cand.select(
        F.least("name_a", "name_b").alias("name_a"),
        F.greatest("name_a", "name_b").alias("name_b"),
    ).distinct()
    return oriented.select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").alias("dist"),
    ).where(F.col("dist") <= max_dist)


def edit_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_len: int = 3,
    candidate_threshold: float = 0.12,
    block_col: str | None = None,
    max_doc_freq: int | None = None,
    max_rel_e6: int = 300_000,
) -> DataFrame:
    """Edit-distance-verified near-dup pairs →
    ``(id_a, id_b, dist, rel_e6)`` where ``dist`` is the EXACT
    Levenshtein distance between the two documents and
    ``rel_e6 = floor(dist * 1e6 / max(len_a, len_b))`` is at most
    ``max_rel_e6``.

    The classic two-phase near-dup verify: a cheap set-similarity
    candidate pass (shingle Jaccard via :func:`jaccard_pairs` — same
    posting-list/df-cap scale shape as d03) proposes pairs, and exact
    edit distance CONFIRMS them. Jaccard over shingle sets is blind to
    ordering and multiplicity (two shuffles of the same words score
    1.0); Levenshtein is the sequence-aware ground truth, but is
    O(len_a x len_b) per pair — far too hot to run all-pairs. The
    candidate gate bounds how many pairs ever reach it.

    Scale shape: the quadratic-cost verify runs only on the candidate
    pair list (df-capped posting lists bound that list's size); the
    text payload joins back onto candidates through TWO hash joins
    keyed by doc id, so full documents shuffle once per side, never
    pairwise. The Levenshtein itself is JVM codegen
    (``F.levenshtein``), no Python in the loop. ``rel_e6`` is the
    engine-portable integer quantization: lengths and distance are
    exact BIGINTs, so ``dist * 1e6 DIV max_len`` is bit-identical in
    any engine with truncating integer division.
    """
    cand = jaccard_pairs(
        df, id_col, text_col, shingle_len,
        candidate_threshold, block_col, max_doc_freq,
    ).select("id_a", "id_b")
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.coalesce(F.col(text_col), F.lit("")).alias("_ta"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.coalesce(F.col(text_col), F.lit("")).alias("_tb"),
    )
    dist = F.levenshtein("_ta", "_tb").cast("bigint")
    max_len = F.greatest(
        F.length("_ta").cast("bigint"),
        F.length("_tb").cast("bigint"),
        F.lit(1).cast("bigint"),
    )
    return (
        cand.join(a, "id_a").join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            dist.alias("dist"),
            (dist * 1_000_000).alias("_num"),
            max_len.alias("_den"),
        )
        .withColumn("rel_e6", F.expr("_num div _den").cast("bigint"))
        .where(F.col("rel_e6") <= max_rel_e6)
        .select("id_a", "id_b", "dist", "rel_e6")
    )


# -- content-defined chunking ------------------------------------------

def cdc_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    mask: int = 64,
) -> DataFrame:
    """Content-defined chunking (CDC): split each document at
    positions where a rolling window hash of the last ``window``
    characters hits ``h % mask == 0`` — the rsync/LBFS recipe that
    makes chunk boundaries SHIFT-INVARIANT, so an insertion early in a
    document changes only the chunks it touches, not every
    fixed-width chunk after it. This is the storage-level dedup
    primitive for a 100 TB corpus with heavy boilerplate: dedup by
    chunk digest removes repeated passages across documents without
    any pair join.

    The window hash is a plain positional polynomial
    ``h(i) = Σ_{j=0..window-1} code(char[i-j]) * 31^j`` — evaluated
    independently per position (no running state), so it is a map-only
    higher-order function on the JVM and an oracle reproduces it with
    the same integer arithmetic. A cut falls AFTER 1-based position
    ``i`` for ``i ∈ [window, len-1]`` (never at the end, so no empty
    tail chunk). Documents shorter than ``window + 1`` chars form one
    whole-document chunk.

    Returns one row per chunk: all input columns (minus the text) plus
    ``chunk_idx`` (0-based) and ``chunk``. Map-only — no shuffle; the
    downstream digest groupBy is the only exchange, and it carries
    digests, not text.

    Interpreted-HOF CSE note: both the char-code array and the bounds
    array are bound as lambda variables (the one-element
    ``transform(array(x), v -> …)`` wrap) — referencing them as
    enclosing computed expressions would re-evaluate them per
    position/chunk (see ``word_shingles``).
    """
    n = F.length(text_col)
    # bigint codes: the polynomial's 31^j weights reach 31^7 ≈ 2.75e10,
    # so an int32 code × int32 weight would overflow under ANSI mode
    codes = F.transform(
        F.split(F.col(text_col), ""), lambda c: F.ascii(c).cast("bigint")
    )

    def _cut_filter(cs):
        def hit(i):
            h = F.lit(0)
            for j in range(window):
                h = h + F.element_at(cs, (i - j).cast("int")) * (31 ** j)
            return h % mask == 0
        # sequence(a, b) picks a DESCENDING step when a > b, so the
        # short-doc case must short-circuit to an empty cut list
        return F.filter(F.sequence(F.lit(window), n - 1), hit)

    cuts = F.when(
        n >= window + 1,
        F.element_at(F.transform(F.array(codes), _cut_filter), 1),
    ).otherwise(F.array().cast("array<int>"))

    bounds = F.concat(
        F.array(F.lit(0)), cuts, F.array(n.cast("int"))
    )

    def _chunks(bs):
        return F.transform(
            F.sequence(F.lit(1), F.size(bs) - 1),
            lambda k: F.substring(
                F.col(text_col),
                F.element_at(bs, k.cast("int")) + 1,
                F.element_at(bs, (k + 1).cast("int"))
                - F.element_at(bs, k.cast("int")),
            ),
        )

    chunk_arr = F.element_at(F.transform(F.array(bounds), _chunks), 1)
    keep = [c for c in df.columns if c != text_col]
    return (
        df.select(*keep, F.posexplode(chunk_arr).alias("chunk_idx", "chunk"))
    )
