"""Mergeable sketch operators built as plain DataFrames.

Count-min here; Bloom filters live in ``dedup`` (bloom_build /
bloom_might_contain), HLL distinct counts ride Spark's built-in
``approx_count_distinct``. The hash family is ``digest.md5_prefix_hash``
at 15 digits (oracle twin: ``_duck_sql.duck_count_min_ctes``), so sketch
contents are bit-identical across engines and partitionings — a sketch
is just a tiny (depth x width) table, and merging two sketches is a
union + groupBy-sum.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from arc_jupyter_spark.digest import internal_digest, md5_prefix_hash


def _bucket(key: Column, d: Column, width: int) -> Column:
    """Hash row ``d``'s bucket for ``key``: md5 over the seed-prefixed
    key, first 15 hex chars as BIGINT, mod width — one md5 per
    (key, row), portable across engines."""
    seeded = F.concat(d.cast("string"), F.lit("|"), key)
    return md5_prefix_hash(seeded, 15) % width


def _fan_out_depth(depth: int) -> Column:
    return F.explode(F.array(*[F.lit(d) for d in range(depth)])).alias("d")


def count_min_build(
    df: DataFrame,
    key_col: str,
    weight_col: str | None = None,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Build a count-min sketch of ``key_col`` frequencies as a
    ``(d, bucket, cnt)`` DataFrame (at most depth x width rows).

    Scale shape: frequencies aggregate FIRST (one partial-aggregated
    groupBy producing a vocabulary-sized table), and only that small
    table fans out x depth — the corpus is never multiplied. The
    sketch itself is tiny and mergeable: union two sketches and
    groupBy-sum to combine streams/partitions/days.
    """
    w = F.col(weight_col) if weight_col else F.lit(1)
    freq = (
        df.select(F.col(key_col).alias("_key"), w.alias("_w"))
        .groupBy("_key")
        .agg(F.sum("_w").alias("_n"))
    )
    rows = freq.select("_key", "_n", _fan_out_depth(depth)).select(
        "d",
        _bucket(F.col("_key"), F.col("d"), width).alias("bucket"),
        "_n",
    )
    return rows.groupBy("d", "bucket").agg(F.sum("_n").alias("cnt"))


def count_min_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Estimate each probe key's frequency from a count-min sketch:
    min over the depth rows of the bucket counts. The sketch
    (depth x width rows) broadcasts; probes shuffle only for the
    final per-key min. Missing buckets count 0.

    The classic guarantee holds: ``estimate >= true`` always, and the
    overcount is bounded by colliding mass — engine-exact here
    because the hash family is portable md5 arithmetic, not
    implementation-defined murmur.
    """
    hashed = probes.select(F.col(key_col), _fan_out_depth(depth)).select(
        key_col,
        "d",
        _bucket(F.col(key_col), F.col("d"), width).alias("bucket"),
    )
    joined = hashed.join(F.broadcast(sketch), ["d", "bucket"], "left")
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("estimate")
    )


def hll_shard_estimate(
    df: DataFrame,
    key_col: str,
    num_shards: int = 8,
    lg_k: int = 12,
) -> DataFrame:
    """Sharded HLL distinct-count with algebraic merge → one row
    ``[n_exact, n_merged_estimate, n_full_estimate]``.

    The 100 TB COUNT(DISTINCT) primitive: each shard (in production,
    each partition/file/day) aggregates its keys into a fixed-size
    HLL sketch (Spark's DataSketches-backed ``hll_sketch_agg``);
    sketches — not keys — shuffle to a union, so the network cost is
    ``num_shards × 2^lg_k`` bytes instead of the key set. The HLL
    registers are per-key maxima (order-free), but Spark's
    DataSketches implementation also carries an insert-order-dependent
    HIP accumulator that a merge discards — so two sketch paths over
    the same key set can differ by a fraction of a percent depending
    on partition layout (measured: 996 vs 988 on 997 keys). Contracts
    over this operator must therefore be tolerance-based, never
    equality-based.

    ``n_exact`` is computed alongside for the oracle; at real scale
    you would drop it (it is the expensive thing HLL replaces).
    """
    sharded = df.withColumn(
        "_shard", F.pmod(internal_digest(F.col(key_col)), F.lit(num_shards))
    )
    shard_sketches = sharded.groupBy("_shard").agg(
        F.hll_sketch_agg(F.col(key_col), F.lit(lg_k)).alias("_sk")
    )
    merged = shard_sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("_sk"))).alias("n_merged_estimate")
    )
    full = df.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col(key_col), F.lit(lg_k))
        ).alias("n_full_estimate"),
        F.countDistinct(F.col(key_col)).alias("n_exact"),
    )
    return full.crossJoin(merged).select(
        "n_exact", "n_merged_estimate", "n_full_estimate"
    )


def hist_build(
    df: DataFrame,
    value: Column,
    lo: int,
    hi: int,
    nbins: int = 1000,
    shard: Column | None = None,
) -> DataFrame:
    """Fixed-bin integer histogram → ``[shard?, bin, n]``.

    The distributed-quantile primitive: each shard keeps ``nbins``
    BIGINT counters (fixed memory regardless of data volume) and
    histograms MERGE ALGEBRAICALLY (union + groupBy-sum), unlike
    rank-based quantile sketches (GK/KLL) whose merge result depends
    on partition order. Binning is pure integer arithmetic —
    ``((v - lo) * nbins) DIV (hi - lo + 1)`` clamped to the edge bins
    — so the histogram is bit-identical in any engine at any
    partitioning. ``value`` must already be integer-typed (e.g. cents,
    ``exact.quantize(x, 2)``).

    Scale shape: one map-side projection + one partial-agg'd groupBy
    on (shard, bin) — the shuffle carries at most shards × nbins rows.
    """
    span = hi - lo + 1
    clamped = F.greatest(F.lit(lo), F.least(F.lit(hi), value.cast("bigint")))
    # integer DIV via expr on a named projection (keeps it codegen'd)
    proj = df.select(
        *( [shard.alias("shard")] if shard is not None else [] ),
        clamped.alias("_v"),
    ).withColumn("bin", F.expr(f"((_v - {lo}) * {nbins}) DIV {span}"))
    keys = (["shard"] if shard is not None else []) + ["bin"]
    return proj.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))


def hist_merge(hists: DataFrame) -> DataFrame:
    """Merge per-shard histograms → ``[bin, n]`` (drop the shard key,
    sum counters — associative/commutative, order-free)."""
    return hists.groupBy("bin").agg(F.sum("n").alias("n"))


def hist_quantile_bins(
    hist: DataFrame,
    quantiles: list[tuple[str, int, int]],
    lo: int,
    hi: int,
    nbins: int = 1000,
) -> DataFrame:
    """Quantile lookup on a merged histogram →
    ``[q_label, bin, bin_lo, cum_n, n_total]`` for each (label,
    q_num, q_den) requested.

    The target rank is ``ceil(n * q)`` in exact integers
    (``(n*q_num + q_den - 1) DIV q_den``); the answer is the first bin
    whose cumulative count reaches it, reported with its lower edge —
    error bounded by one bin width by construction. The histogram is
    tiny (≤ nbins rows), so the window runs in one task.
    """
    if not quantiles:
        raise ValueError("hist_quantile_bins: quantiles must be non-empty")
    span = hi - lo + 1
    # unpartitioned running sum over the HISTOGRAM (<= nbins rows, a
    # fixed constant), never over data rows — the "WindowExec: No
    # Partition Defined" warning is expected and bounded
    cum = hist.withColumn(
        "cum_n",
        F.sum("n").over(
            Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    total = hist.agg(F.sum("n").alias("t"))
    out = None
    for label, q_num, q_den in quantiles:
        ranked = (
            cum.crossJoin(F.broadcast(total))
            .where(
                F.col("cum_n")
                >= F.expr(f"(t * {q_num} + {q_den} - 1) DIV {q_den}")
            )
            .orderBy("bin")
            .limit(1)
            .select(
                F.lit(label).alias("q_label"),
                F.col("bin"),
                # lower edge = smallest v with bin(v) == bin, i.e.
                # ceil(bin*span/nbins) — floor is wrong when nbins
                # does not divide span
                F.expr(
                    f"{lo} + (bin * {span} + {nbins} - 1) DIV {nbins}"
                ).alias("bin_lo"),
                F.col("cum_n").cast("bigint").alias("cum_n"),
                F.col("t").cast("bigint").alias("n_total"),
            )
        )
        out = ranked if out is None else out.unionAll(ranked)
    return out


def exact_grouped_median_x2(
    df: DataFrame,
    group_col: str,
    value: Column,
    tiebreak: list[Column],
    lo: int,
    hi: int,
    nbins: int = 1000,
    out_col: str = "median_x2",
) -> DataFrame:
    """EXACT grouped median (doubled to stay integer) via histogram
    narrowing → ``[group_col, n, median_x2]``.

    The scalable exact-median plan: a full-sort window ranks every row
    (100 TB per group through one sort), but the median only needs the
    rows of ONE bin. Pass 1 histograms each group (integer binning,
    one small shuffle); the target rank's bin and its preceding-bin
    row offset fall out of a window over the tiny histogram. Pass 2
    ranks ONLY the rows inside target bins (a broadcast semi-join cuts
    ~n/nbins of the data through the sort). Values outside [lo, hi]
    just land in the edge bins — ranking inside a bin uses the true
    value, so clamping never changes the result.

    ``median_x2`` is the middle value doubled (odd n) or the sum of
    the two middle values (even n) — exact integers end-to-end, same
    contract as an explicit ROW_NUMBER selection, so a SQL oracle can
    mirror it with a plain window.
    """
    span = hi - lo + 1
    rows = df.select(
        F.col(group_col).alias("_g"),
        value.cast("bigint").alias("_v"),
        *[c.alias(f"_t{i}") for i, c in enumerate(tiebreak)],
    ).withColumn(
        "_bin",
        F.expr(
            f"((GREATEST({lo}, LEAST({hi}, _v)) - {lo}) * {nbins}) DIV {span}"
        ),
    )
    h = rows.groupBy("_g", "_bin").agg(F.count(F.lit(1)).alias("_c"))
    wcum = Window.partitionBy("_g").orderBy("_bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("_g")
    hh = (
        h.withColumn("_cum", F.sum("_c").over(wcum))
        .withColumn("_n", F.sum("_c").over(wall))
        .withColumn("_k1", F.expr("(_n + 1) DIV 2"))
        .withColumn("_k2", F.expr("(_n + 2) DIV 2"))
    )
    targets = hh.where(
        (F.col("_cum") >= F.col("_k1")) & (F.col("_cum") - F.col("_c") < F.col("_k2"))
    ).select("_g", "_bin", (F.col("_cum") - F.col("_c")).alias("_off"), "_n", "_k1", "_k2")
    cand = rows.join(F.broadcast(targets), ["_g", "_bin"])
    wrank = Window.partitionBy("_g", "_bin").orderBy(
        "_v", *[f"_t{i}" for i in range(len(tiebreak))]
    )
    ranked = cand.withColumn("_rk", F.row_number().over(wrank) + F.col("_off"))
    picked = ranked.where((F.col("_rk") == F.col("_k1")) | (F.col("_rk") == F.col("_k2")))
    return (
        picked.groupBy("_g")
        .agg(
            F.max("_n").alias("n"),
            (
                F.sum("_v")
                * F.when(F.max("_n") % 2 == 1, F.lit(2)).otherwise(F.lit(1))
            ).alias(out_col),
        )
        .withColumnRenamed("_g", group_col)
    )
