"""Deterministic sampling / data-mixing operators for training-data
pipelines.

Web-scale corpus assembly needs *reproducible* sampling: the same
document must land in the same split on every run, on any cluster
layout, so sampling keys off a content hash, never ``rand()``. Both
operators here are pure column expressions / window functions —
map-side (sampling) or one shuffle on the stratum key (budgeting) —
and mirror 1:1 into ANSI SQL for oracle checks.

Scale notes: ``stratified_sample`` is a narrow filter (predicate
pushdown applies when the key is a stored column); ``budget_select``
shuffles once on the partition column and streams each partition
through a running-sum window — no driver-side state, no collect.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from arc_jupyter_spark.digest import md5_prefix_hash
from arc_jupyter_spark.exact import quantize

#: Number of hash buckets sampling rates are quantized to. 4096 keeps
#: rate resolution at ~0.02% while staying far inside the 28-bit hash
#: range (uniformity of ``md5_prefix_hash % 4096`` is exact: 2^28 is a
#: multiple of 4096).
SAMPLE_BUCKETS = 4096


def sample_bucket(key: Column, buckets: int = SAMPLE_BUCKETS) -> Column:
    """Uniform deterministic bucket in ``[0, buckets)`` from a key column.

    md5-derived (``md5_prefix_hash``), so it is portable across engines —
    DuckDB mirror: ``digest.duck_md5_prefix_hash(k) % buckets``.
    """
    return md5_prefix_hash(key.cast("string")) % F.lit(buckets)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: Mapping[str, float],
    key_col: str,
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic per-stratum downsampling (e.g. re-balance languages).

    Keeps a row iff ``sample_bucket(key) < rate(stratum) * BUCKETS``.
    Content-hash keyed: reproducible across runs, cluster layouts and
    engines; no shuffle, no RNG state (the round-1 advisor flagged
    driver-seeded ``rand()`` for exactly the repeated-state hazard this
    avoids).
    """
    bucket = sample_bucket(F.col(key_col))
    threshold: Column = F.lit(int(default_rate * SAMPLE_BUCKETS))
    for stratum, rate in rates.items():
        threshold = (
            F.when(F.col(strata_col) == stratum, F.lit(int(rate * SAMPLE_BUCKETS)))
            .otherwise(threshold)
        )
    return df.where(bucket < threshold)


def mixture_allocation(
    df: DataFrame,
    group_col: str,
    budget_num: int = 2,
    budget_den: int = 5,
    qsqrt_digits: int = 6,
) -> DataFrame:
    """Temperature-scaled (α=0.5) sampling allocation per group.

    The training-mix primitive: groups (languages, domains) get sample
    budgets proportional to ``count^α`` rather than raw count, so
    low-resource groups are upweighted (α=0.5 is the classic
    multilingual smoothing exponent). The overall budget is
    ``budget_num/budget_den`` of the corpus row count. Returns one row
    per group: ``(group_col, n_docs, weight, weight_e6, alloc_docs,
    threshold)`` where ``threshold/4096`` is the deterministic
    hash-sampling rate that realizes the allocation via
    ``sample_bucket``. ``weight_e6`` is the weight in exact parts-per-
    million (pure integer arithmetic — safe to value-hash across
    engines; headroom: ``_q * 10^6`` stays under 2^63 up to ~3e12 rows
    per group at the default ``qsqrt_digits``); ``weight`` is the
    convenience double of the same ratio.

    Engine-exact by construction: ``sqrt`` is correctly rounded in
    IEEE-754 (bit-identical across engines, unlike ``pow``), it is
    quantized to a long immediately, and every downstream step is
    integer arithmetic (BIGINT multiply + integer division) except the
    final ``weight`` double, which divides two identical longs. The
    group table is tiny (one row per language/domain), so the
    normalizing SUM is a window over an unpartitioned frame — exact
    long addition, order-free; the corpus-scale work is just the one
    partial-agg ``groupBy(group_col)`` count.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy()
    counts = (
        counts.withColumn(
            "_q",
            quantize(F.sqrt(F.col("n_docs")), qsqrt_digits),
        )
        .withColumn("_total_q", F.sum("_q").over(w))
        .withColumn(
            "_budget",
            F.expr(f"(SUM(n_docs) OVER () * {budget_num}) DIV {budget_den}"),
        )
        .withColumn("alloc_docs", F.expr("(_budget * _q) DIV _total_q"))
    )
    threshold = F.least(
        F.lit(SAMPLE_BUCKETS).cast("bigint"),
        F.expr(f"({SAMPLE_BUCKETS} * alloc_docs) DIV n_docs"),
    )
    return counts.select(
        group_col,
        "n_docs",
        (F.col("_q").cast("double") / F.col("_total_q")).alias("weight"),
        F.expr("(_q * 1000000) DIV _total_q").alias("weight_e6"),
        "alloc_docs",
        threshold.alias("threshold"),
    )


def priority_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    priority_scale: int = 10**6,
    priority_col: str = "priority",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (priority
    sampling, Duffield-Lund-Thorup): keep the ``k`` rows with the
    smallest ``u / w`` where ``u`` is a content hash and ``w`` the row
    weight — heavier rows are proportionally likelier to be kept, and
    the choice is reproducible across runs, engines and layouts.

    The priority is pure integer arithmetic
    (``(u * scale) DIV w`` with ``u = md5_prefix_hash(key)``), so the
    selection is engine-exact — no ``pow``/``ln`` transform whose libm
    rounding could flip a boundary row between Spark and an oracle.
    ``u`` is 28 bits and ``scale`` 10^6, so the multiply peaks at
    ~2.7e14 — far inside BIGINT.

    Scale shape: the priority is a map-side projection; ``k`` smallest
    is ``ORDER BY ... LIMIT k`` which Spark executes as
    TakeOrderedAndProject (per-partition top-k heaps, then a k-row
    merge on the driver — no global sort, no full shuffle). Weights of
    zero or less are kept out of the sample deterministically by
    mapping them to the maximum priority.
    """
    u = md5_prefix_hash(F.col(key_col).cast("string"))
    w = F.col(weight_col).cast("bigint")
    # collision-proof temp names (a user column named _u/_w must not
    # be clobbered and dropped)
    uc, wc = "__ps_u", "__ps_w"
    prio = F.when(
        F.col(wc) > 0, F.expr(f"({priority_scale} * {uc}) DIV {wc}")
    ).otherwise(F.lit((2**63) - 1))
    return (
        df.withColumn(uc, u)
        .withColumn(wc, w)
        .withColumn(priority_col, prio.cast("bigint"))
        .drop(uc, wc)
        .orderBy(priority_col, key_col)
        .limit(k)
    )


def budget_select(
    df: DataFrame,
    partition_col: str,
    order_cols: Sequence[Column],
    cost_col: Column,
    budget: int,
    running_col: str = "running_cost",
) -> DataFrame:
    """Select rows per partition, best-first, until a cost budget fills.

    The data-mixing primitive: "take the highest-quality documents from
    each source until its token budget is spent". One shuffle on
    ``partition_col``; the running sum is an explicit ROWS-frame window
    (RANGE, the default, merges peer rows and is not engine-portable).
    ``order_cols`` must be a total order (tie-break on a unique id) or
    the selection is nondeterministic.
    """
    w = (
        Window.partitionBy(partition_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn(running_col, F.sum(cost_col).over(w))
        .where(F.col(running_col) <= budget)
    )


def pack_sequences(
    df: DataFrame,
    partition_col: str,
    order_cols: Sequence[Column],
    cost_col: Column,
    capacity: int,
    start_col: str = "start_bin",
    end_col: str = "end_bin",
) -> DataFrame:
    """Concat-and-chop sequence packing: per-partition bin spans.

    The pretraining batch-assembly primitive: within each partition
    (source/shard), documents are laid out in ``order_cols`` order,
    their token streams concatenated, and the stream chopped into
    fixed-``capacity`` training sequences. Each document occupies the
    half-open token interval ``[running - cost, running)`` and so lands
    in bins ``floor((running - cost) / capacity)`` through
    ``floor((running - 1) / capacity)`` — computed from ONE running-sum
    window, no iteration, no driver state. A document longer than
    ``capacity`` simply spans several bins (it is split, exactly like
    the GPT-style pack-and-chop loader).

    Scale: one shuffle on ``partition_col``; each partition streams
    through the window operator in sort order. Partitions are
    independent, so 100 TB packs as wide as the partition count.
    ``order_cols`` must be a total order (tie-break on a unique id) or
    bin assignment is nondeterministic. Zero-cost documents get
    ``end_bin = start_bin`` (they sit at a boundary, occupying no
    tokens).
    """
    w = (
        Window.partitionBy(partition_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum(cost_col).over(w)
    start = F.floor((running - cost_col) / F.lit(capacity))
    end = F.floor((running - F.lit(1)) / F.lit(capacity))
    return df.withColumn(start_col, start).withColumn(
        end_col, F.greatest(F.col(start_col), end)
    )


def shard_assign(
    df: DataFrame,
    key_col: str,
    num_shards: int,
    shard_col: str = "shard",
    repartition: bool = False,
) -> DataFrame:
    """Deterministic content-keyed shard assignment for training output.

    The final step of a data pipeline writes N roughly-equal shards
    that downstream loaders read independently. The shard id is
    md5-derived from ``key_col`` (``md5_prefix_hash % num_shards``), so:

    - layout is reproducible across runs, engines, and cluster sizes
      (no ``rand()``, no partition-index dependence — the round-1
      advisor's repeated-RNG hazard can't occur);
    - uniformity is that of md5 on distinct keys — shard sizes
      concentrate tightly around n/num_shards;
    - DuckDB mirror for oracles:
      ``digest.duck_md5_prefix_hash(k) % num_shards``.

    With ``repartition=True`` the frame is hash-repartitioned on the
    shard id so each output file task writes exactly one shard
    (``df.write.partitionBy(shard_col)`` then creates one file per
    shard per task — repartitioning first keeps it to one file per
    shard). At 100 TB, shard count scales with target file size, and
    the single shuffle here is the unavoidable one that any global
    re-layout costs.
    """
    out = df.withColumn(
        shard_col, sample_bucket(F.col(key_col), num_shards).cast("int")
    )
    if repartition:
        out = out.repartition(num_shards, F.col(shard_col))
    return out


def epoch_mixture(
    df: DataFrame,
    source_col: str,
    id_col: str,
    budgets: dict[str, int],
    max_epochs: int = 4,
    epoch_col: str = "epoch",
) -> DataFrame:
    """Epoch-aware mixture sampling: meet a per-source row budget by
    REPEATING small sources (up to ``max_epochs`` passes) and
    truncating large ones — the standard LLM data-recipe step where
    high-quality small sources are upsampled (seen multiple epochs)
    while a huge crawl source contributes a fraction of one epoch.

    Emits ``min(budget, n_source * max_epochs)`` rows per source:
    whole epochs first (``epoch`` = 0..k-1), then the remainder of the
    final partial epoch chosen deterministically by content hash
    (``md5_prefix_hash(id)`` ascending, id tiebreak) so the same rows are
    picked on any engine/layout.

    Scale shape: per-source counts are one tiny aggregate (broadcast
    back); epoch replication is a map-side ``explode(sequence(...))``
    — row count multiplies but nothing shuffles; the partial-epoch
    cut is ONE window shuffle on (source), the same shape as
    `budget_select`. At 100 TB budgets are token counts, not row
    counts — pass the same dict and swap the window's running metric
    (the structure is unchanged).
    """
    counts = (
        df.groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("__em_n_src"))
    )
    budget_expr = F.create_map(
        *[F.lit(x) for kv in budgets.items() for x in kv]
    )[F.col(source_col)]
    with_n = (
        df.join(F.broadcast(counts), source_col)
        .withColumn(
            "__em_budget", F.coalesce(budget_expr, F.lit(0)).cast("bigint")
        )
        # epochs needed to cover the budget, capped
        .withColumn(
            "__em_epochs",
            F.least(
                F.expr(
                    "CAST((__em_budget + __em_n_src - 1) DIV __em_n_src AS INT)"
                ),
                F.lit(max_epochs),
            ),
        )
        .where(F.col("__em_epochs") > 0)
    )
    # rank BEFORE replicating: the hash order is identical in every
    # epoch (only the final partial epoch consults it), so one window
    # shuffle on (source) over 1x the rows suffices — exploding first
    # would push max_epochs x the data through the exchange for the
    # same ranks
    rank_w = Window.partitionBy(source_col).orderBy(
        md5_prefix_hash(F.col(id_col).cast("string")), F.col(id_col)
    )
    ranked = with_n.withColumn("__em_rk", F.row_number().over(rank_w))
    replicated = ranked.withColumn(
        epoch_col, F.explode(F.expr("sequence(0, __em_epochs - 1)"))
    )
    # rows in complete epochs always survive; the LAST epoch is cut to
    # the remainder by the precomputed hash rank
    kept = (
        replicated.where(
            (F.col(epoch_col) < F.col("__em_epochs") - 1)
            | (
                F.col("__em_rk")
                <= F.col("__em_budget")
                - (F.col("__em_epochs") - 1) * F.col("__em_n_src")
            )
        )
        .drop("__em_rk", "__em_n_src", "__em_budget", "__em_epochs")
    )
    return kept


def cluster_balanced_sample(
    df: DataFrame,
    cluster_col: str,
    key_col: str,
    budget_den: int = 16,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Deterministic per-cluster quota sampling: cap every cluster at an
    equal share ``n_total DIV budget_den`` of the corpus, keeping rows
    whose content-hash bucket clears the cluster's integer threshold.

    The balance half of cluster-balanced corpus selection (SemDeDup /
    DSIR-style): dominant clusters (boilerplate-heavy semantic regions)
    are downsampled to the share while small clusters survive whole, so
    the kept corpus is diversity-flattened. All arithmetic is integer
    (``LEAST(B, (B * share) DIV n_c)`` over ``SAMPLE_BUCKETS``), so the
    selection reproduces bit-exactly on any engine/layout — and because
    the keep test is ``sample_bucket(key) < threshold``, growing the
    budget only ever ADDS rows (nested samples, the property epoch
    resampling relies on).

    Returns the input rows that clear their cluster's threshold, plus a
    ``__cb_n_c`` per-cluster total column (callers aggregating per
    cluster need it; drop otherwise).

    Scale shape: one tiny aggregate (``n_clusters`` rows) + an
    unpartitioned window over THAT aggregate (never the corpus) for the
    grand total, broadcast-joined back; the keep test is a map-side
    filter. The corpus itself never shuffles. Callers that already
    aggregated per-cluster counts pass them via *counts*
    (``[cluster_col, __cb_n_c]``) to save the extra corpus scan.
    """
    if counts is None:
        counts = df.groupBy(cluster_col).agg(
            F.count(F.lit(1)).alias("__cb_n_c")
        )
    thresholds = counts.select(
        F.col(cluster_col),
        F.col("__cb_n_c"),
        F.least(
            F.lit(SAMPLE_BUCKETS).cast("bigint"),
            F.expr(
                f"CAST(({SAMPLE_BUCKETS} * (sum(__cb_n_c) OVER () DIV {budget_den}))"
                " DIV __cb_n_c AS BIGINT)"
            ),
        ).alias("__cb_thr"),
    )
    kept = df.join(F.broadcast(thresholds), cluster_col).where(
        sample_bucket(F.col(key_col)) < F.col("__cb_thr")
    )
    return kept.drop("__cb_thr")
