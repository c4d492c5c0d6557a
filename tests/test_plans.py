"""Physical-plan quality gates (the 100 TB checklist).

These assert the plans Catalyst actually produces — filter pushdown
reaching the parquet scan, column pruning, broadcast joins for small
dims, partial (map-side) aggregation — so a regression in plan shape
fails CI even while results stay correct.
"""

import pytest

from arc_jupyter_spark.plans.advisor import ALLOWED_BNL, plan_shape, plan_string
from arc_jupyter_spark.workloads import queries

from tests.conftest import SF_DIR


def plan_of(spark, name):
    return plan_string(queries()[name](spark, SF_DIR))


def test_q01_pushdown_and_pruning(spark):
    plan = plan_of(spark, "q01_pricing_summary")
    # the shipdate predicate must reach the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read unused lineitem columns
    assert "l_partkey" not in plan.split("ReadSchema")[1][:400]


def test_q01_partial_aggregation(spark):
    plan = plan_of(spark, "q01_pricing_summary")
    # map-side combine: partial_sum before the exchange, final after
    assert "partial_sum" in plan or "partial_avg" in plan
    assert plan.count("HashAggregate") >= 2


def test_q02_broadcasts_small_dim(spark):
    plan = plan_of(spark, "q02_broadcast_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q04_semi_join_stays_semi(spark):
    plan = plan_of(spark, "q04_semi_join")
    assert "LeftSemi" in plan


def test_d02_no_cartesian(spark):
    plan = plan_of(spark, "d02_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_d03_no_cartesian_and_counts_shuffle_light(spark):
    plan = plan_of(spark, "d03_ngram_jaccard")
    assert "CartesianProduct" not in plan
    # capped posting-list shape: hot shingles are pruned BEFORE the
    # collect (partial-agg'd df count + LEFT SEMI join — the posting
    # group is bounded at max_doc_freq rows by construction), NOT a
    # post-collection size filter (O(pre-cap df) group memory), NOT a
    # count window over the exploded stream (sorts every
    # (block, shingle) partition in memory; degraded superlinearly
    # under memory pressure in the round-3 driver bench)
    assert "Window" not in plan
    assert "LeftSemi" in plan and "<= 50" in plan
    assert "size(lst" not in plan


def test_s01_no_shuffle_before_topk(spark):
    plan = plan_of(spark, "s01_cosine_topk")
    # brute-force top-k must be TakeOrdered (per-partition k + merge),
    # not a global sort
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


def test_whole_stage_codegen_active(spark):
    # codegen annotations only appear in the AQE final plan, after run
    df = queries()["q01_pricing_summary"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen'd operators carry the "*(stage_id)" prefix in plan trees
    assert "isFinalPlan=true" in plan
    assert "*(" in plan


def test_ivf_assignment_is_map_only(spark):
    """IVF cell assignment must be a pure map (broadcast-by-literal
    argmax): zero Exchange nodes — the corpus never shuffles."""
    from arc_jupyter_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = similarity.kmeans_centroids(emb, k=4, vec_col="embedding", max_iter=1)
    assigned = similarity.assign_ivf_cells(emb, centroids)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_q29_range_join_is_bucketed(spark):
    """q29 must equi-join on (user_id, 10-min bin), not user_id alone —
    the bin key bounds per-bucket pair work at scale."""
    plan = plan_of(spark, "q29_range_join")
    import re

    joins = re.findall(r"(?:BroadcastHash|SortMerge|ShuffledHash)Join \[([^\]]*)\]", plan)
    assert joins, f"no equi-join in plan:\n{plan}"
    assert all("user_id" in k and "bin" in k for k in joins), (
        f"join keys missing bin: {joins}"
    )


def test_q50_metadata_pruning_reaches_scan(spark):
    """MetadataFilterTransform prunes via a plain select, so Catalyst
    must push the column pruning into the parquet scan: the ReadSchema
    only carries the surviving (non-pii) columns."""
    plan = plan_of(spark, "q50_metadata_filter")
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, f"no scan in plan:\n{plan}"
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",") if c}
        assert "l_extendedprice" not in cols and "l_partkey" not in cols, (
            f"pii column not pruned from scan: {cols}"
        )


def test_t08_sample_is_map_side_filter(spark):
    # the stratified sample must be a pure filter: no Exchange between
    # the scan and the partial aggregation
    plan = plan_of(spark, "t08_stratified_sample")
    scan_to_agg = plan.split("Exchange")[-1]
    assert "Scan parquet" in scan_to_agg  # first exchange comes after scan+filter+partial agg
    assert "partial" in plan.split("Exchange")[-1] or plan.count("Exchange") <= 2


def test_s04_lsh_prune_is_map_side(spark):
    # LSH probe filter + scoring happen before any exchange; top-k is
    # TakeOrderedAndProject (no full sort, no shuffle of the corpus)
    plan = plan_of(spark, "s04_lsh_topk")
    assert "TakeOrderedAndProject" in plan


def test_p01_two_document_scale_shuffles(spark):
    # gate+digest fuse into the scan projection; only the dedup groupBy
    # and the budget window shuffle document-scale rows; the closing
    # summary agg + sort shuffle a handful of rows (4 exchanges total)
    plan = plan_of(spark, "p01_corpus_pipeline")
    assert plan.count("Exchange") <= 4
    assert "CartesianProduct" not in plan


def test_q51_compaction_partial_aggregates(spark):
    plan = plan_of(spark, "q51_latest_event")
    assert "partial" in plan.lower()
    assert "CartesianProduct" not in plan


def test_t11_eval_side_broadcast_corpus_map_side(spark):
    """Decontamination: the eval digest set broadcasts; the corpus
    reaches the join without an Exchange (map-side shingle+explode)."""
    plan = plan_of(spark, "t11_decontaminate")
    assert "BroadcastHashJoin" in plan
    # the corpus must never co-partition by digest for the join — a
    # SortMergeJoin here would shuffle corpus-scale exploded shingles
    # (the eval side's tiny distinct may hash-shuffle; that's fine)
    assert "SortMergeJoin" not in plan


def test_t12_alloc_table_broadcast(spark):
    """Mixture sampling: the 5-row allocation table broadcasts back
    onto the corpus; corpus-side work is one partial-agg count."""
    plan = plan_of(spark, "t12_mixture_sample")
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_s05_adc_scan_prunes_embedding(spark, tmp_path):
    """PQ ADC search over a stored code table must not read the raw
    embedding column at all (the 8-byte-per-vector scan story)."""
    from pyspark.sql import functions as F
    from arc_jupyter_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = S.pq_train(emb, vec_col="embedding", id_col="vec_id")
    path = str(tmp_path / "pq_codes")
    S.pq_encode(emb, books).write.parquet(path)
    stored = spark.read.parquet(path)
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    plan = (
        S.pq_topk(stored, books, qvec, k=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "pq_code" in read_schema and "embedding" not in read_schema
    assert "TakeOrderedAndProject" in plan


def test_st04_join_state_has_watermarks(spark):
    """Stream-stream join must carry watermarks on both sides (state
    eviction at scale) — assert on the analyzed streaming plan."""
    from arc_jupyter_spark.workloads.streaming_queries import ST04_ORACLE  # noqa: F401
    from arc_jupyter_spark.workloads.base import read_events_stream
    from pyspark.sql import functions as F

    def side(et, p):
        return (
            read_events_stream(spark, SF_DIR)
            .where(F.col("event_type") == et)
            .select(F.col("user_id").alias(f"{p}_user"),
                    F.col("ts").alias(f"{p}_ts"))
            .withWatermark(f"{p}_ts", "1 hour")
        )

    joined = side("click", "c").join(
        side("purchase", "p"),
        F.expr("c_user = p_user AND p_ts >= c_ts "
               "AND p_ts <= c_ts + INTERVAL 10 MINUTES"),
    )
    analyzed = joined._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("EventTimeWatermark") == 2


def test_d08_membership_is_semi_join_no_cartesian(spark):
    """Span-dedup membership must be a semi join on the gram digest —
    a hot boilerplate gram must not multiply rows — and no join in the
    plan may be a cartesian product."""
    plan = plan_of(spark, "d08_span_dedup")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_t13_pack_single_partition_shuffle(spark):
    """Sequence packing is one window pass: exactly one exchange
    hash-partitioned on the source column before the running-sum
    window (plus the final ordering exchange)."""
    plan = plan_of(spark, "t13_seq_pack")
    assert "Window" in plan
    # the window's partitioning shuffle keys on source
    assert "hashpartitioning(source" in plan


def test_t14_model_join_is_broadcast(spark):
    """The vocabulary model must broadcast to the occurrence join —
    scoring must not shuffle the token-occurrence table for the join."""
    plan = plan_of(spark, "t14_token_rarity")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_p02_pipeline_shape(spark):
    """Composed multimodal pipeline: survivors join broadcasts (no
    corpus-vs-corpus SortMergeJoin), one Arrow decode stage, one
    packing window, <= 4 exchanges, no cartesian."""
    plan = plan_of(spark, "p02_media_pack_pipeline")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("MapInPandas") == 1
    assert plan.count("Exchange") <= 4


def test_no_cartesian_in_any_batch_query(spark):
    """Blanket 100 TB gate: no batch query's plan may contain a
    cartesian product or an unintended nested-loop join. Every allowed
    BroadcastNestedLoopJoin broadcasts a provably tiny side; the sites
    and their reasons are ``advisor.ALLOWED_BNL``."""
    offenders = []
    for name, fn in sorted(queries().items()):
        if name.startswith("st"):  # streaming queries execute on build
            continue
        shape = plan_shape(plan_string(fn(spark, SF_DIR)))
        if shape["cartesian"]:
            offenders.append((name, "CartesianProduct"))
        if shape["bnlj"] and name not in ALLOWED_BNL:
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert not offenders, f"scale-unsafe joins: {offenders}"


def test_q59_aggregation_reuses_distribute_by_partitioning(spark):
    """The GROUP BY must reuse the DISTRIBUTE BY hash partitioning:
    exactly one hashpartitioning exchange on l_suppkey (plus the final
    ORDER BY range exchange), not two."""
    plan = plan_of(spark, "q59_distribute_by")
    assert plan.count("Exchange hashpartitioning(l_suppkey") == 1
    assert "rangepartitioning" in plan


def test_t17_cap_uses_window_group_limit(spark):
    """The rn <= N filter must trigger Spark's WindowGroupLimit
    (map-side per-partition top-N before the window shuffle), so a
    hot source ships at most N rows per map partition, not all."""
    plan = plan_of(spark, "t17_source_cap")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_t18_shard_repartition_in_plan(spark):
    """The shard re-layout is exactly one hash exchange on the shard
    id — the unavoidable shuffle of a global re-layout, and no more."""
    plan = plan_of(spark, "t18_shard_assign")
    assert "Exchange hashpartitioning(shard" in plan


def test_d09_keep_best_joins_are_broadcast(spark):
    """Labels and winners are tiny vs the corpus: both joins must be
    broadcast — the corpus never sort-merge-joins against itself."""
    plan = plan_of(spark, "d09_keep_best_dedup")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_d10_probe_is_map_side(spark):
    """The Bloom probe must be a flat filter on the new-docs scan —
    no join for membership (the bitmap ships as a plan literal)."""
    plan = plan_of(spark, "d10_bloom_prefilter")
    assert "CartesianProduct" not in plan
    # probe-side membership contributes no SortMergeJoin; the only
    # joins are the tiny count-aggregate combination and exact-check
    assert "SortMergeJoin" not in plan


def test_t19_scrub_no_corpus_self_join(spark):
    """Span scrub: corpus joins only the per-doc start arrays (same
    key, one shuffle family); no corpus-vs-corpus pair blowup."""
    plan = plan_of(spark, "t19_span_scrub")
    assert "CartesianProduct" not in plan


def test_t22_posting_cap_single_shuffle(spark):
    """Inverted index: ONE exchange (the token window); the posting
    collect_list runs on at most top_postings rows per token, after
    the rank cap, and the (tok, df) groupBy reuses the window's
    partitioning-by-token (no second exchange)."""
    plan = plan_of(spark, "t22_inverted_index")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "WindowGroupLimit" in plan or "RunningWindowFunction" in plan or "Window" in plan


def test_t23_unigram_model_broadcasts(spark):
    plan = plan_of(spark, "t23_bigram_lift")
    # the vocabulary-sized unigram model broadcasts into the bigram
    # table twice (w1, w2) — the corpus-sized side never re-shuffles
    assert plan.count("BroadcastHashJoin") >= 2


def test_d11_winner_min_partial_aggregates(spark):
    plan = plan_of(spark, "d11_passage_dedup")
    assert "partial_min" in plan or "partial" in plan
    assert "CartesianProduct" not in plan
    # text never shuffles: no passage strings on the exchange — the
    # order key and digest are the only wide-ish columns
    assert "collect_list" not in plan


def test_m07_frames_arrow_then_one_window(spark):
    plan = plan_of(spark, "m07_scene_change")
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan


def test_q71_no_set_state_in_windows(spark):
    """Cumulative distinct must decompose to first-seen + running sum —
    a collect_set window would hold every user id in per-row state."""
    plan = plan_of(spark, "q71_window_distinct")
    assert "collect_set" not in plan
    assert "collect_list" not in plan


def test_q72_two_windows_share_one_shuffle(spark):
    """SCD2: both windows partition by user_id — the second must reuse
    the first's exchange (one hashpartitioning by user only)."""
    plan = plan_of(spark, "q72_scd2_intervals")
    assert "CartesianProduct" not in plan
    # lag + lead windows, one user_id exchange feeding both
    assert plan.count("Exchange hashpartitioning(user_id") <= 2


def test_q73_spine_is_generated_not_joined(spark):
    """Gap fill: the day spine comes from sequence()+explode map-side
    — no calendar-table scan, no cartesian."""
    plan = plan_of(spark, "q73_gap_fill")
    assert "Generate explode" in plan or "Generate" in plan
    assert "CartesianProduct" not in plan


def test_t24_banded_join_not_cartesian(spark):
    plan = plan_of(spark, "t24_fuzzy_match")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # levenshtein must evaluate AFTER the band equi-join, not as a
    # join condition of a nested loop
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_t25_sketch_probe_broadcasts(spark):
    """Count-min probe: the (depth x width) sketch must broadcast —
    never a corpus-sized shuffle on the probe side."""
    plan = plan_of(spark, "t25_count_min")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q74_zorder_key_is_codegen_arithmetic(spark):
    """The Morton key must be plain shifts/adds inside codegen — no
    Python evaluation anywhere in the plan."""
    plan = plan_of(spark, "q74_zorder_layout")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_t26_lm_models_broadcast(spark):
    plan = plan_of(spark, "t26_bigram_surprisal")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_d12_single_shingling_pass(spark):
    """Signature reuse: the sig table must be computed once — two
    independent shingling pipelines would double the corpus scans for
    the minhash half (exact-jaccard shingles are separate by design)."""
    plan = plan_of(spark, "d12_minhash_estimate")
    assert "CartesianProduct" not in plan


def test_q75_merge_touches_aggregates_only(spark):
    """Incremental maintenance: the merge union must sit on top of
    aggregated (priority-sized) tables — partial aggregation below,
    no join against base rows."""
    plan = plan_of(spark, "q75_incremental_agg")
    assert "partial_sum" in plan or "partial_count" in plan or "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_t27_pii_is_map_side_regex(spark):
    """PII scan/scrub: one scan, regex projections, partial agg — no
    join, no Python."""
    plan = plan_of(spark, "t27_pii_scrub")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_p04_single_document_scale_shuffle(spark):
    """Privacy pipeline: inject + scrub + gate are map-side; the only
    document-scale exchange is the dedup min (plus the final
    shard-sized agg)."""
    plan = plan_of(spark, "p04_privacy_pipeline")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial" in plan  # map-side combine on the dedup/agg


def test_d13_diff_shuffles_digests_only(spark):
    """Snapshot diff: the full-outer join keys on (id) with 32-char
    digests as payload — no text column may reach the join."""
    plan = plan_of(spark, "d13_snapshot_diff")
    assert "CartesianProduct" not in plan
    assert "FullOuter" in plan or "full_outer" in plan.lower()


def test_t28_card_is_one_aggregation_pass(spark):
    plan = plan_of(spark, "t28_dataset_card")
    assert "partial" in plan
    assert "Join" not in plan


def test_t29_priority_sample_is_takeordered(spark):
    plan = plan_of(spark, "t29_weighted_sample")
    # k-smallest must be per-partition heaps + driver merge, not a
    # global sort: TakeOrderedAndProject, no Sort+Exchange pair
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_s08_quantized_topk_no_corpus_shuffle(spark):
    plan = plan_of(spark, "s08_quantized_topk")
    assert "TakeOrderedAndProject" in plan
    # scoring is a map over the scan — no exchange of the corpus
    assert "Exchange" not in plan.split("TakeOrderedAndProject")[1]


def test_g01_pagerank_partial_aggregates_no_cartesian(spark):
    plan = plan_of(spark, "g01_pagerank")
    assert "CartesianProduct" not in plan
    # contribution sums must map-side combine (BIGINT partial_sum)
    assert "partial_sum" in plan


def test_q78_merge_single_join_no_cartesian(spark):
    plan = plan_of(spark, "q78_merge_upsert")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # one full-outer join of base x changes — not a cascade
    assert plan.count("FullOuter") == 1


def test_p05_split_no_cartesian(spark):
    plan = plan_of(spark, "p05_split_leakage_safe")
    assert "CartesianProduct" not in plan


def test_d14_prunes_text_and_partial_aggregates(spark):
    """URL dedup synthesizes urls from (doc_id, source): the document
    text must never be read, and the digest groupBy must partial-agg
    (the shuffle carries digests, not documents)."""
    plan = plan_of(spark, "d14_url_dedup")
    assert "text" not in plan.split("ReadSchema")[-1][:300]
    assert "partial_min" in plan or "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_m08_band_join_no_python(spark):
    """pHash banding is pure JVM: no Python eval anywhere, candidate
    pairing is an equi-join on (band, val)."""
    plan = plan_of(spark, "m08_phash_near_dup")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_t34_hist_partial_aggregation(spark):
    """Histogram build must map-side combine: the exchange carries at
    most shards x nbins counter rows. Asserted on the operator frame
    directly — the t34 query pins the merged histogram with a lazy
    localCheckpoint (it feeds both the merge-contract check and the
    quantile pick), which truncates its executed plan at
    ``Scan ExistingRDD`` and hides the upstream aggregate."""
    from pyspark.sql import functions as F

    from arc_jupyter_spark.operators import sketch
    from arc_jupyter_spark.workloads.curation import (
        _T34_BINS,
        _T34_HI,
        _T34_LO,
    )

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    cents = F.expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)")
    sharded = sketch.hist_build(
        li, cents, _T34_LO, _T34_HI, _T34_BINS,
        shard=F.col("l_orderkey") % 8,
    )
    merged = sketch.hist_merge(sharded)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan or "Partial" in plan
    assert "BatchEvalPython" not in plan_of(spark, "t34_hist_quantile")


def test_triangle_closure_plan_is_equi_join_only(spark):
    """The REAL triangle pipeline (graph._wedge_closure) must plan the
    degree, wedge, and closure joins as equi-joins — no cartesian
    product, no nested-loop fallback anywhere in the closure plan."""
    from pyspark.sql import functions as F

    from arc_jupyter_spark.operators import graph

    edges = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.col("l_orderkey").alias("src"), F.col("l_suppkey").alias("dst")
    )
    _, _, closure = graph._wedge_closure(edges, "src", "dst")
    plan = closure._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the degree joins ran inside the eager localCheckpoint (oriented
    # appears as ExistingRDD here); the closure plan itself carries the
    # wedge self-join + the closing equi-join
    assert plan.count("Join") >= 2


def test_d16_boilerplate_set_broadcasts(spark):
    """The within-source boilerplate set is tiny (high-frequency
    chunks only) — flagging the occurrence stream must be a broadcast
    join, never a corpus-sized SortMergeJoin."""
    plan = plan_of(spark, "d16_boilerplate_chunks")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_t35_chunking_is_map_side(spark):
    """Sliding-window chunking must stay a map-side projection: no
    window, no join — the only shuffles are the per-source rollup
    (incl. the distinct-digest expand)."""
    plan = plan_of(spark, "t35_rag_chunks")
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") <= 3


def test_s10_both_arms_take_ordered(spark):
    """Hybrid RRF: both retrieval arms must end in TakeOrdered top-50
    (per-partition k + driver merge), never a global sort of the
    corpus; the rank windows run on the bounded 50-row frames."""
    plan = plan_of(spark, "s10_hybrid_rrf")
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in plan


def test_s11_cluster_sample_shape(spark):
    """Cluster-balanced sampling: the corpus-side joins must be
    broadcast (thresholds are n_clusters rows), the only SinglePartition
    exchange is the window over the 8-row count aggregate, and every
    downstream consumer reads the localCheckpoint'd 16 B/row
    (vec_id, cluster_id) projection — the quantize+argmax map runs
    exactly once (a pushed-down isnotnull(cluster_id) join predicate
    would otherwise inline and re-evaluate it in the scan filter)."""
    plan = plan_of(spark, "s11_cluster_sample")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") == 2
    # the one SinglePartition exchange carries the n_clusters-row count
    # aggregate into the grand-total window — never the corpus
    assert plan.count("Exchange SinglePartition") == 1
    # all consumers read the materialized assignment, not the parquet
    # scan — the heavy map cannot appear (or be re-evaluated) here
    assert "FileScan" not in plan
    assert plan.count("Scan ExistingRDD") == 3
    assert "array_max" not in plan


def test_t36_bpe_pairs_shape(spark):
    """Pair counting must partial-aggregate map-side (the pair
    vocabulary is bounded at 26^2, so the shuffle is capped per
    partition) and take the top-20 with TakeOrderedAndProject — one
    exchange total, no global sort."""
    plan = plan_of(spark, "t36_bpe_pairs")
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan
    # column pruning: only the text column is read
    assert "FileScan parquet [text#" in plan


def test_q88_unpivot_shape(spark):
    """stack() must be a map-side Generate with partial aggregation
    before the exchange, and the scan pruned to the four used columns."""
    plan = plan_of(spark, "q88_unpivot")
    assert "Generate" in plan
    assert "partial_count" in plan
    assert plan.count("Exchange") <= 2
    assert "l_quantity" not in plan  # pruning: unused columns stay out


def test_s13_kmeans_step_shape(spark):
    """One Lloyd iteration must scan the corpus exactly ONCE: the
    k*dim-row per-dimension aggregate is materialized before its two
    consumers (output join + inertia rollup), so neither the parquet
    scan nor the quantize+argmax map appears in the final plan (the
    measured s11 re-evaluation hazard), the inertia join is broadcast,
    and the explode's integer rows partial-aggregate map-side."""
    plan = plan_of(spark, "s13_kmeans_step")
    assert "FileScan" not in plan
    assert "array_max" not in plan  # the argmax ran inside the checkpoint
    assert plan.count("Scan ExistingRDD") == 2
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan


def test_g03_label_propagation_shape(spark):
    """LPA rounds: equi-joins only (no cartesian / nested-loop), the
    neighbour-label counts partial-aggregate before their exchange,
    the per-node argmax is a SORT-FREE min_by hash aggregate over the
    total (-n, label) struct key (replaced the row_number window —
    its per-node sort cost a full extra sort stage per round; -n
    rather than -label so string node ids stay valid), and the
    community report is TakeOrdered."""
    plan = plan_of(spark, "g03_label_propagation")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan
    assert "min_by" in plan and "Window" not in plan
    assert "TakeOrderedAndProject" in plan


def test_g04_bfs_frontier_shape(spark):
    """BFS rounds run inside per-round checkpoints; the final plan
    must only union the materialized frontier levels (no FileScan, no
    join re-running earlier rounds) and partial-aggregate the level
    stats before the one hash exchange."""
    plan = plan_of(spark, "g04_bfs_frontier")
    assert "FileScan" not in plan
    assert "Join" not in plan  # all expansion happened in the checkpoints
    assert "Union" in plan
    assert "partial_count" in plan and "partial_sum" in plan


def test_t37_perplexity_filter_shape(spark):
    """Held-out LM scoring: both LM tables broadcast as LEFT outer
    joins (unseen transitions must survive), the smoothed charge
    partial-aggregates map-side, the ranking is TakeOrdered, and the
    held-out split predicate reaches the parquet scan."""
    plan = plan_of(spark, "t37_perplexity_filter")
    assert plan.count("BroadcastHashJoin") == 2
    assert plan.count("LeftOuter") == 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan
    assert "TakeOrderedAndProject" in plan


def test_s14_kmeans_train_shape(spark):
    """The returned (final-round) plan: map-only argmax assignment —
    centroids are in-plan literals, so no join anywhere — one hash
    aggregate with map-side partial combine, division in-engine."""
    plan = plan_of(spark, "s14_kmeans_train")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan and "partial_count" in plan
    # the quantized projection is checkpointed across rounds — the
    # final plan reads the materialized RDD, not parquet
    assert "ExistingRDD" in plan
    assert "FileScan" not in plan
    assert plan.count("Exchange") <= 3  # the aggregate exchange +
    # the output range sort


def test_g05_distributed_cc_shape(spark):
    """The distributed-CC result plan: the min-label fixpoint ran
    inside per-round checkpoints, so the final plan is just the two
    rollup aggregates over the checkpointed labels — no FileScan, no
    join, partial aggregation before each exchange."""
    plan = plan_of(spark, "g05_distributed_cc")
    assert "FileScan" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan and "partial_sum" in plan


def test_p08_semantic_curation_shape(spark):
    """Pipeline composition gates: gate+dedup+argmax ran inside the
    checkpoint (the s11 inlining hazard), so the final plan must not
    re-scan parquet; the quota thresholds broadcast-join onto the
    checkpointed 24B/row assignment, the mix report partial-aggregates,
    and no stage introduces a cartesian product."""
    plan = plan_of(spark, "p08_semantic_curation")
    assert "CartesianProduct" not in plan
    assert "FileScan" not in plan  # corpus work happened pre-checkpoint
    assert "BroadcastHashJoin" in plan  # quota thresholds
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan and "partial_count" in plan


def test_s15_hard_negatives_shape(spark):
    """Quantization + argmax ran once inside the checkpoint; the final
    plan explodes the checkpointed 8-struct score array, filters
    same-cluster rows, and ranks per anchor — no FileScan, no join,
    one window."""
    plan = plan_of(spark, "s15_hard_negatives")
    assert "FileScan" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan
    assert plan.count("Window") >= 1


def test_d17_no_cartesian_semi_prune(spark):
    plan = plan_of(spark, "d17_containment_pairs")
    assert "CartesianProduct" not in plan
    # same pre-collection df prune as d03 (partial-agg count + LEFT
    # SEMI before the posting-list collect); no count window
    assert "Window" not in plan
    assert "LeftSemi" in plan and "<= 50" in plan
    assert "size(lst" not in plan


def test_t38_models_broadcast_corpus_shuffles_once(spark):
    plan = plan_of(spark, "t38_dsir_importance")
    # the two bucket-count model tables must broadcast into the raw
    # bigram stream; the only hash exchanges are the model aggregates
    # and the final per-doc sum — never a corpus-sized join shuffle
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q89_single_window_exchange(spark):
    plan = plan_of(spark, "q89_scd2_intervals")
    # one hash exchange for the user window; the profile aggregate is
    # partial-agg'd counters (no second data-sized shuffle)
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "partial" in plan.lower()


def test_p09_models_broadcast(spark):
    plan = plan_of(spark, "p09_dsir_resample")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_d18_semi_prune_partitioned_window_no_cartesian(spark):
    plan = plan_of(spark, "d18_substring_dedup")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # df prune is a partial-agg'd count + LEFT SEMI before the seed
    # self-join, same core as d08/d17
    assert "LeftSemi" in plan and "<= 50" in plan
    # the run-merge window is PARTITIONED on (pair, diagonal) — never
    # a global sort
    assert "Window" in plan
    assert "windowspecdefinition(id_a" in plan


def test_d19_scrub_is_map_side_after_interval_join(spark):
    plan = plan_of(spark, "d19_substring_scrub")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # d18's df prune is still in the pipeline
    assert "LeftSemi" in plan and "<= 50" in plan
    # match intervals aggregate partially (collect_list of 2-int
    # structs, map-side) before joining back to the corpus
    assert "partial_collect_list" in plan


def test_d20_occ_prune_partitioned_windows_no_cartesian(spark):
    plan = plan_of(spark, "d20_self_repeats")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    # per-(doc, gram) occurrence cap prunes before the self-join
    assert "LeftSemi" in plan and "<= 50" in plan
    # both windows are PARTITIONED (pair-diagonal islands, per-doc
    # interval-union sweep) — never a global sort
    assert "windowspecdefinition(id" in plan or "windowspecdefinition(doc_id" in plan


def test_p10_composed_pipeline_no_scale_killers(spark):
    plan = plan_of(spark, "p10_refinedweb_pipeline")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    # both df caps (jaccard posting lists, d18 seeds) prune via
    # partial-agg count + LEFT SEMI before any pair join
    assert plan.count("LeftSemi") >= 2 and "<= 50" in plan
    # fuzzy drop set applies as LEFT ANTI (no row multiplication).
    # The fuzzy frame is lazily checkpointed (its three consumers share
    # one evaluation), which truncates the FINAL plan at
    # Scan ExistingRDD — so assert the anti-join on the live pre-pin
    # expression instead (the t34/g07 checkpoint-gate pattern).
    from pyspark.sql import functions as F

    from arc_jupyter_spark.operators import dedup as _dd

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")], ["doc_id", "text"]
    )
    exact = _dd.exact_dedup_by_digest(docs, "text", "doc_id")
    pairs = _dd.jaccard_pairs(
        exact, id_col="doc_id", text_col="text", shingle_len=3,
        threshold=0.8, max_doc_freq=50,
    )
    fuzzy_plan = (
        exact.join(
            pairs.select(F.col("id_b").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftAnti" in fuzzy_plan
    assert "CartesianProduct" not in fuzzy_plan


def test_t41_probe_broadcasts_corpus_df_capped(spark):
    plan = plan_of(spark, "t41_substring_contamination")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # corpus-side boilerplate cap prunes before the cross join
    assert "LeftSemi" in plan and "<= 50" in plan
    # the tiny probe gram table broadcasts into the corpus stream
    assert "BroadcastHashJoin" in plan


def test_m09_decode_chain_is_map_only(spark):
    plan = plan_of(spark, "m09_png_pixel_roundtrip")
    # encode and decode are Arrow-batched (never row-Python), fused
    # map-side: the only exchange is the final presentation sort
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    assert plan.count("Exchange") <= 2


def test_d21_chunking_is_jvm_map_only(spark):
    plan = plan_of(spark, "d21_cdc_chunks")
    # the CDC cut rule must stay a JVM higher-order function: no
    # Python evaluation anywhere, no pair join, exactly the digest
    # aggregation exchanges
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Join" not in plan          # dedup profile needs no join
    assert "CartesianProduct" not in plan
    # column pruning: the scan feeds only source/doc_id/text
    assert "lang" not in plan.split("ReadSchema")[1][:300]


def test_g06_joins_are_equi_and_aggs_partial(spark):
    plan = plan_of(spark, "g06_hits")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # BIGINT score sums must partial-aggregate map-side
    assert "partial_sum" in plan
    # top-20 must be TakeOrdered (per-partition k + merge), never a
    # global sort of all authorities
    assert "TakeOrderedAndProject" in plan


def test_t43_bottom_k_pushes_below_shuffle(spark):
    plan = plan_of(spark, "t43_kmv_overlap")
    # the per-source bottom-k must use the rank-limit pushdown (the
    # t17 pattern): each map task forwards at most K rows per source
    # instead of shipping every shingle hash to the window
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_t42_two_partial_agg_levels(spark):
    plan = plan_of(spark, "t42_epoch_drift")
    assert "partial_sum" in plan or "partial_count" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_p11_keep_first_is_digest_shuffle_no_window(spark):
    plan = plan_of(spark, "p11_cdc_scrub_pipeline")
    # keep-first must be a partial-agg MIN on digests, never a window
    # over the chunk text stream, and the whole pipeline stays JVM
    assert "Window" not in plan
    assert "partial_min" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


# -- round-8 additions ------------------------------------------------


def test_g07_kcore_plan_joins(spark):
    # the returned frame's lineage is truncated by the per-round
    # materialize, so the semi-join shape must be asserted on a live
    # ROUND expression rather than the final plan
    from pyspark.sql import functions as F

    from arc_jupyter_spark.operators.graph import kcore  # noqa: F401

    plan = plan_of(spark, "g07_kcore")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    e = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    keep = e.groupBy("src").agg(F.count(F.lit(1)).alias("degree")).where(
        "degree >= 1"
    ).select("src")
    round_plan = (
        e.join(keep, "src", "left_semi")
        .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert round_plan.count("LeftSemi") == 2
    assert "CartesianProduct" not in round_plan


def test_d22_verify_runs_jvm_side(spark):
    plan = plan_of(spark, "d22_edit_verified_dedup")
    assert "CartesianProduct" not in plan
    # the Levenshtein verify must be a JVM expression over joined
    # candidates, never a Python UDF stage
    assert "levenshtein" in plan
    assert "BatchEvalPython" not in plan


def test_t44_topk_never_global_sorts_vocab(spark):
    plan = plan_of(spark, "t44_coverage_curve")
    # the top-512 frontier must be TakeOrdered (per-partition k +
    # merge); the only full Sort allowed is inside the <=512-row
    # window segment
    assert "TakeOrderedAndProject" in plan
    # word counting must combine map-side before its exchange
    assert "partial_count" in plan


def test_s16_range_search_broadcasts_queries(spark):
    plan = plan_of(spark, "s16_range_search")
    # the query set attaches via broadcast; the corpus never shuffles
    # before the threshold filter
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_m12_resample_is_arrow_map_only(spark):
    plan = plan_of(spark, "m12_audio_resample")
    # decode -> resample -> encode -> decode all inside Arrow batches:
    # exactly two MapInPandas stages (synth, resample), no shuffle
    # between them, no row-Python
    assert plan.count("MapInPandas") == 2
    assert "BatchEvalPython" not in plan
    # the property under test: NOTHING shuffles between the synth and
    # resample stages — assert the ordering directly (no Exchange node
    # between the two MapInPandas occurrences) rather than a global
    # exchange count, which is brittle against AQE/plan-text changes
    first = plan.index("MapInPandas")
    second = plan.index("MapInPandas", first + 1)
    assert "Exchange" not in plan[first:second]
    # column pruning: the synth stage reads ONLY doc_id from parquet
    # (presence check — exact ReadSchema rendering is version-brittle)
    assert "doc_id" in plan
    assert "text" not in plan.split("ReadSchema", 1)[-1].split("\n")[0]


def test_p12_no_cartesian_and_band_screen_is_semi_shaped(spark):
    plan = plan_of(spark, "p12_crawl_refresh_pipeline")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_t45_partial_agg_and_no_python(spark):
    plan = plan_of(spark, "t45_lexical_diversity")
    # both aggregates map-side combine; token explosion stays JVM-side
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # the scan reads only source + text
    assert "doc_id" not in plan.split("ReadSchema", 1)[-1].split("\n")[0]


def test_d23_no_cartesian_candidates_are_band_bounded(spark):
    plan = plan_of(spark, "d23_lsh_calibration")
    # candidate generation must be the band equi-self-join, never a
    # pair cross product; est/exact joins key on ids
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_g08_nested_peels_no_cartesian(spark):
    plan = plan_of(spark, "g08_coreness_levels")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # the visible lineage (the peel rounds are checkpoint-truncated —
    # their semi-join shape is gated by test_g07_kcore_plan_joins) is
    # the level attach: id-keyed LEFT equi-joins only
    import re

    joins = re.findall(
        r"(?:BroadcastHash|SortMerge|ShuffledHash)Join \[([^\]]*)\].*?(Left\w+|Inner)",
        plan,
    )
    assert joins and all("node" in k for k, _ in joins), joins


def test_t46_head_stats_are_window_group_limited(spark):
    plan = plan_of(spark, "t46_zipf_profile")
    # the rnk<=100 head filter must push into the window sort
    # (map-side top-k per source), never a full-vocabulary buffer
    assert "WindowGroupLimit" in plan
    # word counting combines map-side before its exchange
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan


def test_g09_fanout_cap_is_window_group_limited(spark):
    plan = plan_of(spark, "g09_common_neighbors")
    # the per-customer top-8 cap executes as WindowGroupLimit (the
    # quadratic-pair guard), and the final top-20 is TakeOrdered
    assert "WindowGroupLimit" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_s17_knn_join_is_cell_bucketed(spark):
    plan = plan_of(spark, "s17_knn_join")
    # queries meet the corpus ONLY through the cell-keyed equi-join —
    # never a cross product — and the per-query top-3 is group-limited
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_q90_moments_are_one_aggregation_pass(spark):
    plan = plan_of(spark, "q90_moment_profile")
    # power sums must partial-aggregate map-side (the single-scan
    # point of the query); no Python anywhere
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BatchEvalPython" not in plan


def test_d24_profile_never_python(spark):
    plan = plan_of(spark, "d24_dup_cluster_profile")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_m13_tiles_are_arrow_map_only(spark):
    plan = plan_of(spark, "m13_image_tile_stats")
    # synthesize -> tile stats, both Arrow-batched, nothing shuffles
    # between them (the m12 positional assertion)
    assert plan.count("MapInPandas") == 2
    assert "BatchEvalPython" not in plan
    first = plan.index("MapInPandas")
    second = plan.index("MapInPandas", first + 1)
    assert "Exchange" not in plan[first:second]


def test_t47_membership_join_partial_aggregates(spark):
    plan = plan_of(spark, "t47_ngram_novelty")
    # the per-source rollup must combine map-side; grams travel as
    # digests through an equi-join, never a cross product or Python
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_d25_band_tuning_never_all_pairs(spark):
    plan = plan_of(spark, "d25_band_tuning")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
