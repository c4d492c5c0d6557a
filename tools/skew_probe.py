"""Measure skew resilience: wall time, per-task straggler ratio AND
per-task shuffle-read-bytes ratio under the zipfian fixture
(tools/gen_skewed.py).

For each skew-relevant query the probe runs the query on the uniform
data and on the skewed variant, and reads per-stage task quantiles
from the in-process status store (arc_jupyter_spark/metrics.py). Two
skew signals per run:

- duration straggler: worst max/median task duration over stages
  whose MAX is >= 500 ms (qualifying by max, not median — a skewed
  reducer stage has a tiny median and one huge task, which a
  median-based guard filters out, hiding exactly the signal this
  probe exists for; sub-500 ms maxima are scheduling noise). Load
  sensitive on this noisy-neighbor host — record loadavg.
- bytes ratio: worst max/median task SHUFFLE READ BYTES over stages
  whose max read is >= 1 MiB. Deterministic (data placement, not
  timing) — the trustworthy partition-skew evidence when the host is
  noisy. An unmitigated 40%-hot join key shows up here as one
  reducer reading ~13x its peers regardless of CPU weather.

The bar (VERDICT r5): no single-task straggler > 4x median, and
skewed wall <= ~2x uniform wall for the mitigated operators —
applied to the BYTES ratio and quiet-window durations.

What each target exercises:
- q42_identical_input_control — q42 reads LINEITEM, which the skew
  fixture copies byte-identically, so uniform-vs-skew deltas on this
  entry measure the HOST NOISE FLOOR, not skew. Keep it first: it
  calibrates how much wall-time spread to discount elsewhere.
- q55_salted_join — content-salted fact-dim join vs a 40%-hot user.
  Measured at sf1 scale with ``autoBroadcastJoinThreshold=-1`` AND
  AQE skew-join mitigation OFF: in local mode the 150k-row dim always
  broadcasts and a broadcast join is skew-immune by construction, so
  forcing the shuffle join simulates exactly the 100 TB case the salt
  exists for (dim too big to broadcast, one reducer owns the hot key);
- q55_unsalted    — the SAME join WITHOUT salting under the same
  forced-shuffle confs (A/B evidence that the salt is load-bearing:
  its skewed-run bytes ratio should blow out where the salted one
  stays flat);
- d03_ngram_jaccard / d17_containment_pairs / d18_substring_dedup —
  the max_doc_freq stop-shingle/seed cap vs a shingle present in
  ~50% of all docs (sf0.1 documents — the multi-second family);
- t17_source_cap  — WindowGroupLimit vs one source holding ~60% of
  docs.

Prints one JSON line per query and writes SKEW.json (loadavg
embedded); merge the table into SCALING.md's skew section by hand.

Usage: python tools/skew_probe.py
(fixtures: tools/gen_skewed.py writes .scaledata/skew01 from sf0.1,
 and --src .scaledata/sf1 --out .scaledata/skew1 --minimal)
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, "/root/repo")


def _worst_skew(meter, stages: list) -> dict:
    """Worst max/median task duration AND worst max/median shuffle
    read bytes across the run's stages.

    Durations qualify by MAX >= 500 ms (a skewed reducer stage has a
    tiny median and one huge task — a median guard hides it); bytes
    qualify by max read >= 1 MiB and are timing-independent, so they
    stay meaningful on a loaded host.
    """
    dur = {"ratio": 0.0, "stage": None, "median_ms": 0, "max_ms": 0}
    byt = {"ratio": 0.0, "stage": None, "median_mb": 0.0, "max_mb": 0.0}
    for st in stages:
        q = meter.task_quantiles(st)
        if q is None:
            continue
        sid = st.stageId()
        _, median, mx = q["duration_ms"]  # metrics.QUANTILES: min, median, max
        if mx >= 500:
            ratio = mx / max(median, 1.0)
            if ratio > dur["ratio"]:
                dur = {
                    "ratio": round(ratio, 2), "stage": sid,
                    "median_ms": int(median), "max_ms": int(mx),
                }
        _, bmed, bmax = q["shuffle_read_bytes"]
        if bmax >= 1 << 20:
            # floor the denominator at 64 KiB: a ~0-byte median
            # (most reducers empty at toy scale) makes max/median
            # meaningless — g03's skewed graph printed a 1.3e6x
            # "ratio" that was really "1.2 MiB vs empty peers".
            # With the floor, the reported worst case reads as
            # "max partition is N x a 64 KiB floor" — still a
            # skew signal, no longer a nonsense magnitude.
            bratio = bmax / max(bmed, 64.0 * 1024)
            if bratio > byt["ratio"]:
                byt = {
                    "ratio": round(bratio, 2), "stage": sid,
                    "median_mb": round(bmed / 2**20, 2),
                    "max_mb": round(bmax / 2**20, 2),
                }
    return {"straggler": dur, "bytes_skew": byt}


def g07_kcore_peel(spark, sf_dir: str):
    """g07's kcore + rollup over the synthetic edge fixture dirs
    (tools/gen_skewed.py --peel): the skew side is the deep-peel
    onion (one round of real peeling per layer, a ~6000x-median-
    degree hub surviving every round as a hot semi-join/agg key);
    the uniform side is the byte-matched shallow ring (every degree
    exactly k, zero peel). max_rounds=40 covers the designed 24-layer
    depth with margin."""
    from pyspark.sql import functions as F

    from arc_jupyter_spark.operators.graph import kcore

    pairs = spark.read.parquet(f"{sf_dir}/edges.parquet")
    edges = pairs.unionAll(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    core = kcore(edges, k=32, max_rounds=40)
    return (
        core.groupBy(F.expr("degree div 16").cast("bigint").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_nodes"),
             F.sum("degree").alias("degree_sum"))
        .orderBy("bucket")
    )


def q55_unsalted(spark, sf_dir: str):
    """q55's join WITHOUT the salt — the A/B control."""
    from pyspark.sql import functions as F

    from arc_jupyter_spark.workloads.base import load_views
    from arc_jupyter_spark.workloads.base import exact_sum

    load_views(spark, sf_dir, "events", "customer")
    fact = spark.table("events").select("user_id", "value")
    dim = spark.table("customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        fact.join(dim, "user_id")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(exact_sum(F.col("value")), 2).alias("sum_value"),
        )
        .orderBy("segment")
    )


def main() -> int:
    from arc_jupyter_spark.metrics import SegmentMeter
    from arc_jupyter_spark.session import build_session
    from arc_jupyter_spark.workloads import queries

    ap = argparse.ArgumentParser()
    ap.add_argument("--best-of", type=int, default=2)
    ap.add_argument("targets", nargs="*",
                    help="optional target-name filter (default: all); "
                         "partial SKEW.json is merged over the existing file")
    args = ap.parse_args()

    spark = build_session(app_name="skew-probe")
    meter = SegmentMeter(spark)
    qs = queries()

    SF01, SKEW01 = "/root/testdata/sf0.1", "/root/repo/.scaledata/skew01"
    SF1, SKEW1 = "/root/repo/.scaledata/sf1", "/root/repo/.scaledata/skew1"
    SKEWG1 = "/root/repo/.scaledata/skewg1"   # gen_skewed.py --graph
    SKEWCDC = "/root/repo/.scaledata/skewcdc"  # gen_skewed.py --cdc
    SFEMB = "/root/repo/.scaledata/sfemb"      # gen_scaled --tables embeddings --replicas 300
    SKEWEMB = "/root/repo/.scaledata/skewemb"  # gen_skewed.py --emb
    G07UNI = "/root/repo/.scaledata/g07uni"    # gen_skewed.py --peel (ring control)
    G07PEEL = "/root/repo/.scaledata/g07peel"  # gen_skewed.py --peel (onion)
    # (name, fn, uniform_dir, skew_dir, conf_mode) where conf_mode is
    #   None            — engine defaults (the operator's own caps are
    #                     the mitigation under test)
    #   "force_shuffle" — broadcast off + AQE skew-join off + AQE
    #                     coalescing off: the raw per-key layout a
    #                     1000-executor shuffle join sees (q55 A/B)
    #   "no_broadcast"  — broadcast off, AQE skew-join/coalescing ON:
    #                     simulates rank/degree tables too big to
    #                     broadcast while keeping the runtime
    #                     mitigation that IS the answer at that scale
    #                     (the graph family's named mitigation)
    targets = [
        # q42's input (lineitem) is byte-identical in both dirs: this
        # entry measures the host noise floor, not skew (see module
        # docstring)
        ("q42_identical_input_control", qs["q42_salted_agg"], SF1, SKEW1, None),
        ("q55_salted_join", qs["q55_salted_join"], SF1, SKEW1, "force_shuffle"),
        ("q55_unsalted", q55_unsalted, SF1, SKEW1, "force_shuffle"),
        ("d03_ngram_jaccard", qs["d03_ngram_jaccard"], SF01, SKEW01, None),
        ("d17_containment_pairs", qs["d17_containment_pairs"], SF01, SKEW01, None),
        ("d18_substring_dedup", qs["d18_substring_dedup"], SF01, SKEW01, None),
        ("t17_source_cap", qs["t17_source_cap"], SF01, SKEW01, None),
        # round-7 additions (VERDICT r6 item 2): the round-6 substring
        # family + composed pipeline under the hot-shingle/hot-source
        # fixture — their max_doc_freq caps are the mitigation —
        ("d19_substring_scrub", qs["d19_substring_scrub"], SF01, SKEW01, None),
        ("d20_self_repeats", qs["d20_self_repeats"], SF01, SKEW01, None),
        ("t41_substring_contamination", qs["t41_substring_contamination"],
         SF01, SKEW01, None),
        ("p10_refinedweb_pipeline", qs["p10_refinedweb_pipeline"],
         SF01, SKEW01, None),
        # — and the graph family vs a hot-community zipfian graph
        # (hot node degree ~260x median; distinct-edge count within
        # 10% of uniform so walls stay comparable). Broadcast
        # disabled: at 100 TB the rank/degree frames don't broadcast;
        # AQE skew-join stays ON because it is the mitigation being
        # claimed.
        ("g01_pagerank", qs["g01_pagerank"], SF1, SKEWG1, "no_broadcast"),
        ("g03_label_propagation", qs["g03_label_propagation"],
         SF1, SKEWG1, "no_broadcast"),
        ("g05_distributed_cc", qs["g05_distributed_cc"],
         SF1, SKEWG1, "no_broadcast"),
        # round-8 additions (VERDICT r7 item 3): the CDC family vs the
        # identical-corpus fixture (gen_skewed.py --cdc — 60% of docs
        # byte-identical, so ~30 chunk digests own 60% of ALL chunk
        # occurrences). Mitigations under test: d21/p11's map-side
        # partial agg on the digest (the hot posting list combines
        # per-mapper before the shuffle) and p11's composite-key
        # semi-join (dg, doc_id, chunk_idx — the hot dg spreads);
        # st15's streaming dropDuplicates keys its state on
        # (source, dg) with no partial combine, so it is the entry to
        # watch. Both sides run at sf1 (uniform = .scaledata/sf1,
        # skew = gen_skewed --cdc --src .scaledata/sf1): the sf0.1
        # documents table is a single parquet file, so every map
        # stage there is one task and the probe would measure
        # single-core wall, not key skew.
        ("d21_cdc_chunks", qs["d21_cdc_chunks"], SF1, SKEWCDC, None),
        ("p11_cdc_scrub_pipeline", qs["p11_cdc_scrub_pipeline"],
         SF1, SKEWCDC, None),
        ("st15_stream_cdc_ingest", qs["st15_stream_cdc_ingest"],
         SF1, SKEWCDC, None),
        # round-9 additions (VERDICT r8 item 1): the round-8 query
        # surface under adversarial distributions —
        # s16/s13 vs the hot-cluster embeddings fixture (gen_skewed
        # --emb over a 300-replica embeddings point: ~50% of vectors
        # in one dense cluster around query/anchor 0). s16's
        # mitigation is the rank-limit (WindowGroupLimit) pushdown on
        # the per-query cap; s13's is map-side partial agg on the hot
        # cluster_id.
        ("s16_range_search", qs["s16_range_search"],
         SFEMB, SKEWEMB, None),
        ("s13_kmeans_step", qs["s13_kmeans_step"],
         SFEMB, SKEWEMB, None),
        # t44 vs the hot-sentence corpus (skew01 appends one fixed
        # sentence to ~50% of docs → a handful of corpus-hot word
        # keys); the word-count map-side combine is the mitigation.
        ("t44_coverage_curve", qs["t44_coverage_curve"],
         SF01, SKEW01, None),
        # g07's kcore vs the deep-peel onion (gen_skewed --peel):
        # worst-case round count (one layer per round) + a ~6000x-
        # median-degree hub alive in every round's degree agg and
        # semi-join. Byte-matched shallow ring as the uniform side.
        # Broadcast off (at 100 TB the survivor frontier starts far
        # above the threshold); AQE skew-join ON = the mitigation.
        ("g07_kcore_peel", g07_kcore_peel, G07UNI, G07PEEL,
         "no_broadcast"),
        # round-9 batch-2 additions: the new query surface under the
        # existing adversarial fixtures —
        # g09 vs the hot-community graph: the hot customer's supplier
        # fan-out is EXACTLY what the top-8 WindowGroupLimit cap
        # bounds (8×8 pairs per customer no matter the degree), and
        # the hot supplier makes the pair-count agg key hot (map-side
        # partial combine is that mitigation). Broadcast off: at
        # 100 TB the per-(cust,supp) count frame doesn't broadcast.
        ("g09_common_neighbors", qs["g09_common_neighbors"],
         SF1, SKEWG1, "no_broadcast"),
        # s17 vs the hot-cluster embeddings: ~50% of the corpus lands
        # in ONE IVF cell, so the cell-keyed join has a maximally hot
        # key on BOTH sides. AQE skew-join (ON by default here) is
        # the named mitigation — it splits the hot cell's partition;
        # the residual cost (queries in the hot cell score half the
        # corpus) is the documented IVF contract (cell count must
        # scale with the corpus). Probed at the 30-replica 60k-vector
        # point, NOT the 600k s16/s13 fixture: s17's fixed-8-cell
        # bench shape is quadratic-over-cells by design (1% of corpus
        # as queries × 1/8 of corpus per cell), so at 600k the
        # in-cell interpreted-HOF scoring alone is a ~35 min wall —
        # the fixture would measure that contract violation, not key
        # skew (measured this round before downsizing).
        ("s17_knn_join", qs["s17_knn_join"],
         "/root/repo/.scaledata/sfemb30",
         "/root/repo/.scaledata/skewemb30", None),
        # t46 vs the hot-sentence corpus (same fixture as t44): a few
        # corpus-hot words dominate every source's head — map-side
        # combine on (source, word) + WindowGroupLimit on the rank
        # filter are the mitigations.
        ("t46_zipf_profile", qs["t46_zipf_profile"], SF01, SKEW01, None),
        # batch-3 targets with a skew surface: t47's membership join
        # under the hot-sentence corpus (hot 5-grams concentrate on a
        # few digest keys — the digest-keyed join's map-side combine
        # and the DISTINCT reference reduction are the mitigations);
        # d25's banding under the same fixture (the per-config bucket
        # cap is the mitigation, as for d02/d03). m13/st18 have no
        # skew surface: map-only Arrow stages / 5-group algebraic
        # merges.
        ("t47_ngram_novelty", qs["t47_ngram_novelty"], SF01, SKEW01, None),
        ("d25_band_tuning", qs["d25_band_tuning"], SF01, SKEW01, None),
    ]

    def run_one(fn, sf_dir):
        import gc

        best_wall, best_skew = None, None
        for _ in range(args.best_of):
            # the scale_probe lesson: dead DataFrames' localCheckpoint
            # blocks survive clearCache() and accumulate across a
            # sweep; the resulting GC/eviction pressure inflated one
            # in-sweep d19 run 5x (11.8s vs 8.0s isolated, round 7)
            gc.collect()
            spark.catalog.clearCache()
            meter.new_stages()
            t0 = time.time()
            fn(spark, sf_dir).collect()
            wall = time.time() - t0
            skew = _worst_skew(meter, meter.new_stages())
            if best_wall is None or wall < best_wall:
                best_wall, best_skew = wall, skew
        return {"wall_s": round(best_wall, 3), **best_skew}

    if args.targets:
        targets = [t for t in targets if t[0] in args.targets]

    import os

    def check_provenance(uni_dir: str, skew_dir: str) -> None:
        """A skewed fixture must have been generated FROM the uniform
        dir it is probed against (gen_skewed stamps _meta.json) — a
        stale fixture built from another scale factor silently
        reintroduces the size-confounded comparison the byte-parity
        fixture designs exist to eliminate."""
        meta_path = os.path.join(skew_dir, "_meta.json")
        if not os.path.exists(meta_path):
            raise SystemExit(
                f"{skew_dir} has no _meta.json: regenerate it with "
                "tools/gen_skewed.py (provenance stamp required)"
            )
        with open(meta_path) as fh:
            meta = json.load(fh)
        if meta.get("src") != os.path.abspath(uni_dir):
            raise SystemExit(
                f"{skew_dir} was generated from {meta.get('src')!r}, "
                f"not the uniform side {os.path.abspath(uni_dir)!r} — "
                "stale fixture; regenerate with tools/gen_skewed.py"
            )

    report = {}
    for name, fn, uni_dir, skew_dir, conf_mode in targets:
        check_provenance(uni_dir, skew_dir)
        confs: dict[str, str] = {}
        if conf_mode in ("force_shuffle", "no_broadcast"):
            confs["spark.sql.autoBroadcastJoinThreshold"] = "-1"
            confs["spark.sql.adaptive.autoBroadcastJoinThreshold"] = "-1"
        if conf_mode == "force_shuffle":
            confs["spark.sql.adaptive.skewJoin.enabled"] = "false"
            # AQE coalescing merges toy-scale reducers toward the
            # advisory size, BLENDING the hot key's partition with its
            # neighbours and masking the bytes ratio (measured: 3.3x
            # with coalescing vs the true per-key concentration). At
            # 100 TB every partition already exceeds the advisory size
            # so the hot one never blends — disable to see the real
            # per-key layout.
            confs["spark.sql.adaptive.coalescePartitions.enabled"] = "false"
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            entry = {
                "uniform": run_one(fn, uni_dir),
                "skew": run_one(fn, skew_dir),
                "conf_mode": conf_mode,
            }
        finally:
            for k in confs:
                spark.conf.unset(k)
        entry["skew_factor"] = round(
            entry["skew"]["wall_s"] / max(entry["uniform"]["wall_s"], 1e-3), 2
        )
        report[name] = entry
        print(json.dumps({name: entry}))

    out = {}
    if args.targets and os.path.exists("/root/repo/SKEW.json"):
        with open("/root/repo/SKEW.json") as fh:  # partial run: merge
            out = json.load(fh)
    out.update(report)
    out["_env"] = {
        "loadavg": os.getloadavg(),
        "best_of": args.best_of,
    }
    with open("/root/repo/SKEW.json", "w") as fh:
        json.dump(out, fh, indent=1)
    print("wrote SKEW.json")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
