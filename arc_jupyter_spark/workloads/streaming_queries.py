"""Structured Streaming workloads (SURVEY.md §2.D).

st01 runs a REAL streaming query — ``readStream`` over the events
parquet, event-time tumbling window aggregation, memory sink,
``availableNow`` trigger — and returns the drained sink as a batch
DataFrame. Because the source directory is static, the result is
deterministic and oracle-checkable: DuckDB's ``time_bucket`` over the
same rows produces identical windows (both align hourly buckets to the
epoch).

At scale the same plan runs unbounded: swap ``availableNow`` for a
continuous trigger and the memory sink for a real one; the watermark
bounds state. The micro-batch engine shuffles on (window, key) exactly
like the batch plan.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

from arc_jupyter_spark.checkpoint import materialize, materialize_lazy
from arc_jupyter_spark.digest import md5_hex
from arc_jupyter_spark.exact import exact_sum, quantize, sql_exact_sum, sql_quantize

from arc_jupyter_spark.workloads._duck_sql import duck_count_min_ctes
from arc_jupyter_spark.workloads.base import (
    query,
    read_events_stream,
    read_parquet,
    read_table_stream,
)


@contextmanager
def _stream_partitions(spark: SparkSession, target: int = 8):
    """Right-size state-store parallelism for the bounded preview.

    Every stateful operator materializes one state-store instance per
    shuffle partition per micro-batch; at the fixture's data volume
    that fixed cost dominates (measured: 1.7 s at 32 partitions vs
    0.8 s at 8 for the identical sf0.1 window agg). Results are
    partition-count independent (scaled-long sums). A production
    unbounded job sizes ``spark.sql.shuffle.partitions`` to its key
    cardinality instead — this override is scoped to the preview and
    restored on exit.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(target))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)

ST01_ORACLE = f"""
SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS window_start,
       event_type,
       COUNT(*) AS n,
       ROUND({sql_exact_sum('value', 6)}, 2) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("st01_stream_window", oracle=ST01_ORACLE)
def st01(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(exact_sum(F.col("value"), 6), 2).alias("sum_value"),
        )
    )
    name = f"st01_{uuid.uuid4().hex[:10]}"
    with _stream_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = (
        spark.table(name)
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )
    spark.catalog.dropTempView(name)
    return out


# --------------------------------------------------------------------
# st02 — custom stateful operator (applyInPandasWithState): per-user
# running count+sum carried in the state store. One availableNow batch
# over the static fixture → emitted totals equal the batch group-by.
# --------------------------------------------------------------------

ST02_ORACLE = f"""
SELECT user_id, COUNT(*) AS n_events,
       ROUND({sql_exact_sum('value', 6)}, 2) AS sum_value
FROM events GROUP BY user_id ORDER BY user_id
"""


@query("st02_stateful_counts", oracle=ST02_ORACLE)
def st02(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.streaming.stateful import running_counts

    stream = read_events_stream(spark, sf_dir).select("user_id", "value")
    counts = running_counts(stream, key_col="user_id", value_col="value")
    name = f"st02_{uuid.uuid4().hex[:10]}"
    with _stream_partitions(spark):
        q = (
            counts.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # one batch → one emission per user; latest emission per user is
    # the final state either way (guards multi-batch file splits)
    latest = (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("sum_value").alias("sum_value"),
        )
    )
    out = latest.select(
        "user_id", "n_events", F.round("sum_value", 2).alias("sum_value")
    ).orderBy("user_id")
    spark.catalog.dropTempView(name)
    return out


# --------------------------------------------------------------------
# st03 — sliding event-time window (1 h window, 30 min slide) with a
# watermark: each event contributes to exactly two overlapping
# windows. The oracle materializes both containing window starts per
# event with unnest — sliding windows are not expressible as a single
# time_bucket, but the 2-window expansion is exact because window
# starts align to the 30-minute grid in both engines.
# --------------------------------------------------------------------

ST03_ORACLE = f"""
WITH w AS (
  SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
           AS window_start,
         event_type, value
  FROM events
)
SELECT CAST(window_start AS TIMESTAMP) AS window_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM({sql_quantize('value', 6)}) AS BIGINT) AS sum_value_e6
FROM w
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("st03_sliding_window", oracle=ST03_ORACLE)
def st03(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(quantize(F.col("value"), 6)).alias("sum_value_e6"),
        )
    )
    name = f"st03_{uuid.uuid4().hex[:10]}"
    with _stream_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = (
        spark.table(name)
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value_e6",
        )
        .orderBy("window_start", "event_type")
    )
    spark.catalog.dropTempView(name)
    return out


# --------------------------------------------------------------------
# st04 — stream-stream interval join: clicks joined to the same user's
# purchases within the following 10 minutes. Both sides carry
# watermarks and the join condition bounds event-time distance, so the
# state store can evict rows once the watermark passes — the unbounded
# form runs with bounded state (the whole point of interval joins over
# raw stream joins). With availableNow over the static fixture every
# match lands in one micro-batch, so the batch SQL join is an exact
# oracle. Join rows stream to the sink append-mode; the summary
# aggregation happens batch-side on the drained sink (integer-exact).
# --------------------------------------------------------------------

ST04_ORACLE = f"""
SELECT CAST(time_bucket(INTERVAL 1 HOUR, a.ts) AS TIMESTAMP) AS click_hour,
       COUNT(*) AS n_pairs,
       CAST(SUM({sql_quantize('b.value', 2)}) AS BIGINT) AS sum_purchase_e2,
       MIN((epoch_us(b.ts) // 1000000) - (epoch_us(a.ts) // 1000000)) AS min_delay_s,
       MAX((epoch_us(b.ts) // 1000000) - (epoch_us(a.ts) // 1000000)) AS max_delay_s
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
GROUP BY 1 ORDER BY 1
"""


@query("st04_stream_join", oracle=ST04_ORACLE)
def st04(spark: SparkSession, sf_dir: str) -> DataFrame:
    def side(event_type: str, prefix: str) -> DataFrame:
        return (
            read_events_stream(spark, sf_dir)
            .where(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
                F.col("value").alias(f"{prefix}_value"),
            )
            .withWatermark(f"{prefix}_ts", "1 hour")
        )

    clicks = side("click", "c")
    purchases = side("purchase", "p")
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts "
            "AND p_ts <= c_ts + INTERVAL 10 MINUTES"
        ),
    ).select("c_ts", "p_ts", "p_value")
    name = f"st04_{uuid.uuid4().hex[:10]}"
    with _stream_partitions(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = (
        spark.table(name)
        .groupBy(
            F.date_trunc("hour", F.col("c_ts")).alias("click_hour")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(quantize(F.col("p_value"), 2)).alias("sum_purchase_e2"),
            F.min(
                (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")).cast("bigint")
            ).alias("min_delay_s"),
            F.max(
                (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")).cast("bigint")
            ).alias("max_delay_s"),
        )
        .orderBy("click_hour")
    )
    spark.catalog.dropTempView(name)
    return out


# --------------------------------------------------------------------
# st05 — streaming ingest dedup: first arrival per (user_id,
# event_type) via dropDuplicatesWithinWatermark. Which *row* wins
# depends on arrival order, so the query emits only the KEY SET —
# deterministic regardless of scheduling — and the oracle is a batch
# SELECT DISTINCT. The final distinct also guards key re-emission
# across micro-batch file splits (state evicted once the watermark
# passes a key).
# --------------------------------------------------------------------

ST05_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
ORDER BY user_id, event_type
"""


@query("st05_stream_dedup", oracle=ST05_ORACLE)
def st05(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.streaming.stateful import dedup_within_watermark

    stream = read_events_stream(spark, sf_dir)
    deduped = dedup_within_watermark(
        stream, ["user_id", "event_type"], "ts", "1 hour"
    ).select("user_id", "event_type")
    name = f"st05_{uuid.uuid4().hex[:10]}"
    with _stream_partitions(spark):
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = spark.table(name).distinct().orderBy("user_id", "event_type")
    spark.catalog.dropTempView(name)
    return out


# --------------------------------------------------------------------
# st06 — streaming session windows: per-user sessions merged in the
# state store as events arrive (session_window + watermark). Sessions
# merge while consecutive windows overlap, i.e. a gap >= 30 min (the
# window is end-exclusive) starts a new session — the oracle's
# gaps-and-islands CASE uses >= to match. Unbounded, the watermark
# finalizes and evicts closed sessions; over the static fixture the
# complete-mode drain equals the batch sessionization.
# --------------------------------------------------------------------

ST06_ORACLE = f"""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sessions AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       CAST(MIN(ts) AS TIMESTAMP) AS session_start,
       COUNT(*) AS n_events,
       CAST(SUM({sql_quantize('value', 6)}) AS BIGINT)
         AS session_value_e6
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


@query("st06_stream_sessions", oracle=ST06_ORACLE)
def st06(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(quantize(F.col("value"), 6)).alias("session_value_e6"),
        )
    )
    name = f"st06_{uuid.uuid4().hex[:10]}"
    with _stream_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = (
        spark.table(name)
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "session_value_e6",
        )
        .orderBy("user_id", "session_start")
    )
    spark.catalog.dropTempView(name)
    return out


# --------------------------------------------------------------------
# st07 — streaming file-sink loop, driver-checked: events stream
# through the ParquetLoad stage (checkpointed exactly-once append
# sink), the written files are read back batch-side, and the
# aggregate must equal the batch source's — the land-then-serve loop
# every streaming ingest pipeline runs.
# --------------------------------------------------------------------

ST07_ORACLE = f"""
SELECT event_type, COUNT(*) AS n,
       CAST(SUM({sql_quantize('value', 6)}) AS BIGINT) AS sum_value_e6
FROM events GROUP BY event_type ORDER BY event_type
"""


@query("st07_stream_sink", oracle=ST07_ORACLE)
def st07(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from arc_jupyter_spark.context import ArcContext
    from arc_jupyter_spark.plans.pipeline import parse_pipeline, run_pipeline

    ctx = ArcContext(spark)
    stream = read_events_stream(spark, sf_dir).select("event_type", "value")
    ctx.register(stream, "st07_stream")
    out = tempfile.mkdtemp(prefix="st07_sink_")
    with _stream_partitions(spark):
        run_pipeline(
            parse_pipeline(
                [
                    {
                        "type": "ParquetLoad",
                        "name": "st07 sink",
                        "inputView": "st07_stream",
                        "outputURI": out,
                    }
                ]
            ),
            ctx,
        )
    landed = spark.read.parquet(out)
    return (
        landed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(quantize(F.col("value"), 6)).alias("sum_value_e6"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------
# p03 — streaming ingest composition: events stream through
# watermark-bounded dedup (first arrival per (user, type)) INTO the
# checkpointed parquet sink, and the landed table is served
# batch-side. The dedup emission is arrival-order dependent per row,
# but the landed KEY SET is deterministic — the aggregate counts
# keys, which is what the oracle states.
# --------------------------------------------------------------------

P03_ORACLE = """
WITH k AS (SELECT DISTINCT user_id, event_type FROM events)
SELECT event_type, COUNT(*) AS n_users
FROM k GROUP BY event_type ORDER BY event_type
"""


@query("p03_ingest_pipeline", oracle=P03_ORACLE)
def p03(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from arc_jupyter_spark.context import ArcContext
    from arc_jupyter_spark.plans.pipeline import parse_pipeline, run_pipeline
    from arc_jupyter_spark.streaming.stateful import dedup_within_watermark

    ctx = ArcContext(spark)
    stream = read_events_stream(spark, sf_dir)
    deduped = dedup_within_watermark(
        stream, ["user_id", "event_type"], "ts", "1 hour"
    ).select("user_id", "event_type")
    ctx.register(deduped, "p03_deduped")
    out = tempfile.mkdtemp(prefix="p03_ingest_")
    with _stream_partitions(spark):
        run_pipeline(
            parse_pipeline(
                [
                    {
                        "type": "ParquetLoad",
                        "name": "p03 land",
                        "inputView": "p03_deduped",
                        "outputURI": out,
                    }
                ]
            ),
            ctx,
        )
    landed = spark.read.parquet(out).distinct()  # key set: dedup may
    # legitimately re-emit a key across micro-batch boundaries
    return (
        landed.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------
# st08 — stream-static enrichment join: the canonical streaming
# dimension join. The static side (customer segments) is read as a
# batch frame and BROADCAST into every micro-batch — no state store,
# no watermark needed for the join itself (stream-static joins are
# stateless); the downstream windowed aggregate carries the only
# state. At scale the dimension refreshes by re-reading the table per
# micro-batch (Spark re-plans static sides each batch), and the
# broadcast keeps the event stream shuffle-free until the window agg.
# --------------------------------------------------------------------

ST08_ORACLE = """
SELECT CAST(time_bucket(INTERVAL 1 HOUR, e.ts) AS TIMESTAMP) AS window_start,
       c.c_mktsegment AS segment,
       COUNT(*) AS n_events,
       COUNT(DISTINCT e.user_id) AS n_users
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("st08_stream_enrich", oracle=ST08_ORACLE)
def st08(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.workloads.base import load_views

    load_views(spark, sf_dir, "customer")
    dim = spark.table("customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    stream = read_events_stream(spark, sf_dir)
    joined = stream.join(F.broadcast(dim), "user_id")
    agg = (
        joined.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # COUNT(DISTINCT) is unsupported in streaming aggs;
            # approx_count_distinct is the streaming idiom but is not
            # oracle-exact — collect the distinct-user set per group
            # instead (bounded: users per segment-hour), sized exactly.
            F.size(F.collect_set("user_id")).alias("n_users"),
        )
    )
    name = f"st08_{uuid.uuid4().hex[:10]}"
    with _stream_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = (
        spark.table(name)
        .select(
            F.col("w.start").alias("window_start"),
            "segment",
            "n_events",
            F.col("n_users").cast("bigint").alias("n_users"),
        )
        .orderBy("window_start", "segment")
    )
    spark.catalog.dropTempView(name)
    return out


# --------------------------------------------------------------------
# st09 — foreachBatch keyed upsert: the streaming CDC-compaction sink.
# Each micro-batch reduces to its latest record per user (max_by on
# (ts, event_id) — a total order) and lands as one delta file; the
# serving read compacts deltas with the same max_by. This is the
# exactly-once upsert pattern for stores without transactional merge:
# batch-id-named output + idempotent reduce means replayed batches
# overwrite to the same result. State stays in the store, not the
# stream (contrast st02, where state lives in the state store).
# --------------------------------------------------------------------

ST09_ORACLE = """
WITH r AS (
  SELECT user_id, ts, event_type, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_total
  FROM events
)
SELECT user_id,
       event_type AS last_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
       event_id AS last_event_id,
       n_total
FROM r WHERE rn = 1 ORDER BY user_id
"""


@query("st09_stream_upsert", oracle=ST09_ORACLE)
def st09(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    out_dir = tempfile.mkdtemp(prefix="st09_state_")
    stream = read_events_stream(spark, sf_dir)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        # per-batch reduce: latest record per user + batch row count;
        # max(struct) orders on (ts, event_id) — a total order, so the
        # reduce is replay-idempotent; deterministic file per batch id
        (
            batch_df.groupBy("user_id")
            .agg(
                F.max(
                    F.struct(F.col("ts"), F.col("event_id"), F.col("event_type"))
                ).alias("last"),
                F.count(F.lit(1)).alias("n_total"),
            )
            .select("user_id", "last.*", "n_total")
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch={batch_id}")
        )

    with _stream_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(upsert)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{out_dir}/_chk")
            .start()
        )
        q.awaitTermination()

    # serving-side compaction: the same (ts, event_id)-ordered reduce
    # over the delta files
    deltas = spark.read.option("basePath", out_dir).parquet(f"{out_dir}/batch=*")
    out = (
        deltas.groupBy("user_id")
        .agg(
            F.max(
                F.struct(F.col("ts"), F.col("event_id"), F.col("event_type"))
            ).alias("last"),
            F.sum("n_total").alias("n_total"),
        )
        .select(
            "user_id",
            F.col("last.event_type").alias("last_type"),
            F.date_format("last.ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            F.col("last.event_id").alias("last_event_id"),
            "n_total",
        )
        .orderBy("user_id")
    ).transform(materialize)
    shutil.rmtree(out_dir, ignore_errors=True)
    return out


# --------------------------------------------------------------------
# st10 — streaming sketch maintenance: each micro-batch builds a
# count-min sketch of its user_id traffic and lands it as one tiny
# (d, bucket, cnt) delta; serving merges deltas by groupBy-sum. The
# sketch is ALGEBRAIC, so merged-over-batches == built-over-all
# bit-for-bit regardless of how the stream was chopped — which is
# exactly what the oracle checks (DuckDB builds the sketch over the
# full table with the same md5 hash family). The streamed corpus is
# never re-read at serve time; only KB-scale sketches are.
# --------------------------------------------------------------------

_ST10_DEPTH, _ST10_WIDTH = 4, 256

ST10_ORACLE = f"""
WITH keys AS (SELECT user_id::VARCHAR AS k FROM events),
tc AS (SELECT k, COUNT(*) AS exact_n FROM keys GROUP BY k),
{duck_count_min_ctes("k", _ST10_DEPTH, _ST10_WIDTH)}
SELECT CAST(k AS BIGINT) AS user_id, exact_n,
       CAST(estimate AS BIGINT) AS estimate,
       CAST(estimate - exact_n AS BIGINT) AS overcount
FROM est ORDER BY exact_n DESC, user_id LIMIT 20
"""


@query("st10_stream_sketch", oracle=ST10_ORACLE)
def st10(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from arc_jupyter_spark.operators import sketch

    out_dir = tempfile.mkdtemp(prefix="st10_sketch_")
    stream = read_events_stream(spark, sf_dir)

    def land_sketch(batch_df: DataFrame, batch_id: int) -> None:
        keyed = batch_df.select(F.col("user_id").cast("string").alias("k"))
        (
            sketch.count_min_build(
                keyed, "k", depth=_ST10_DEPTH, width=_ST10_WIDTH
            )
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch={batch_id}")
        )

    with _stream_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(land_sketch)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{out_dir}/_chk")
            .start()
        )
        q.awaitTermination()

    merged = (
        spark.read.option("basePath", out_dir)
        .parquet(f"{out_dir}/batch=*")
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    from arc_jupyter_spark.workloads.base import read_events

    exact = (
        read_events(spark, sf_dir)
        .select(F.col("user_id").cast("string").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    est = sketch.count_min_estimate(
        merged, exact.select("k"), "k", depth=_ST10_DEPTH, width=_ST10_WIDTH
    )
    out = (
        exact.join(est, "k")
        .select(
            F.col("k").cast("bigint").alias("user_id"),
            "exact_n",
            F.col("estimate").cast("bigint").alias("estimate"),
            (F.col("estimate") - F.col("exact_n")).cast("bigint").alias("overcount"),
        )
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(20)
    ).transform(materialize)
    shutil.rmtree(out_dir, ignore_errors=True)
    return out


# --------------------------------------------------------------------
# st11 — watermark late-data drop, driver-checked: three controlled
# micro-batches (distinct mtimes + maxFilesPerTrigger=1). Batch 1
# carries the watermark past the first window's end; batch 2 advances
# it only (the window's state is evicted at that batch's commit);
# batch 3 replays a stale event — it MUST be dropped — plus a fresh
# one. The update-mode sink is folded per window to max-n AND the
# number of sink update rows, which is fully deterministic (pinned,
# both polarities, in
# tests/test_streaming.py::test_watermark_drops_late_rows), so the
# oracle is the literal expected table: the 10:00 window updates once
# (batch 1, n=3) and the 11:00 window three times (n=1,2,3).
# n_updates is what makes the oracle sensitive to a drop failure: an
# undropped 10:20 replay re-creates the evicted 10:00 window with
# n=1 — max(n) stays 3 either way, but the window gains a second sink
# update row (n_updates 1 → 2), failing the hash.
# --------------------------------------------------------------------

ST11_ORACLE = """
SELECT CAST('2024-01-01 10:00:00' AS TIMESTAMP) AS window_start,
       CAST(3 AS BIGINT) AS n_final, CAST(1 AS BIGINT) AS n_updates
UNION ALL
SELECT CAST('2024-01-01 11:00:00' AS TIMESTAMP), CAST(3 AS BIGINT),
       CAST(3 AS BIGINT)
ORDER BY window_start
"""


@query("st11_stream_late_data", oracle=ST11_ORACLE)
def st11(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile
    import time as _time

    src = tempfile.mkdtemp(prefix="st11_src_")
    base = "2024-01-01 "

    def mk(rows: list[str], name: str, age: float) -> None:
        df = spark.createDataFrame(
            [(base + r,) for r in rows], "ts_s string"
        ).select(F.col("ts_s").cast("timestamp").alias("ts"))
        df.coalesce(1).write.parquet(f"{src}/{name}")
        for f in os.listdir(f"{src}/{name}"):
            if f.endswith(".parquet"):
                dst = f"{src}/{name}.parquet"
                os.rename(f"{src}/{name}/{f}", dst)
                now = _time.time()
                os.utime(dst, (now - age, now - age))

    mk(["10:05:00", "10:15:00", "10:45:00", "11:30:00"], "b1", 3000)
    mk(["11:40:00"], "b2", 2000)                 # advance-only
    mk(["10:20:00", "11:50:00"], "b3", 1000)     # stale replay + fresh
    stream = (
        spark.readStream.schema("ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*.parquet")
    )
    agg = (
        stream.withWatermark("ts", "20 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"st11_{uuid.uuid4().hex[:10]}"
    with _stream_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = (
        spark.table(name)
        .groupBy(F.col("w.start").alias("window_start"))
        .agg(
            F.max("n").alias("n_final"),
            F.count(F.lit(1)).alias("n_updates"),
        )
        .orderBy("window_start")
    )
    # materialize before dropping the sink view and the temp source
    # (repeated bench runs must not accumulate temp parquet dirs)
    rows = out.collect()
    spark.catalog.dropTempView(name)
    shutil.rmtree(src, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


# --------------------------------------------------------------------
# st12 — streaming semantic routing: the s11 int8-quantized anchor
# argmax applied to an embedding STREAM (the online half of
# cluster-balanced ingestion: route each arriving vector to its
# semantic cell, keep running per-cell stats). The assignment is a
# stateless map, so it composes with any streaming sink/agg; here a
# complete-mode count+id-checksum per cell over the availableNow-
# drained fixture, which must equal the batch assignment — the oracle
# reuses s11's quantize→argmax CTE chain verbatim.
# --------------------------------------------------------------------

def _st12_oracle() -> str:
    from arc_jupyter_spark.workloads.llmops import S11_ASG_CTES

    return f"""
WITH {S11_ASG_CTES}
SELECT cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(vec_id) AS BIGINT) AS id_sum
FROM asg GROUP BY cluster_id ORDER BY cluster_id
"""


@query("st12_stream_cluster_assign", oracle=_st12_oracle())
def st12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators import similarity

    # anchors come from the batch side (the already-ingested corpus);
    # the stream only ever sees the folded-in integer literals
    batch = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    anchor_rows = batch.where(F.col("vec_id") < 8).select(
        "vec_id", "embedding"
    ).collect()
    anchors = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in anchor_rows
    )
    schema = batch.schema
    stream = read_table_stream(spark, sf_dir, "embeddings", schema)
    assigned = similarity.assign_quantized_cells(
        stream, anchors, vec_col="embedding"
    )
    agg = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vec_id").cast("bigint").alias("id_sum"),
    )
    name = f"st12_{uuid.uuid4().hex[:10]}"
    with _stream_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = (
        spark.table(name)
        .select("cluster_id", "n", "id_sum")
        .orderBy("cluster_id")
    )
    # materialize before dropping the backing sink view
    rows = out.collect()
    spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, out.schema)


# --------------------------------------------------------------------
# st13 — EXACTLY-ONCE emission contract of streaming dedup. st05
# already runs dropDuplicatesWithinWatermark with a realistic 1-hour
# delay — but must re-distinct the drained sink, because once the
# watermark evicts a key's state a late duplicate re-emits it. st13
# pins the complementary contract: with a delay longer than the
# event-time span NOTHING evicts, so the raw append output carries
# each (user_id, event_type) key EXACTLY once regardless of how the
# file source batches — the per-type COUNT(*) over raw sink rows
# (no distinct guard!) only matches COUNT(DISTINCT user_id) if no key
# was emitted twice, so the oracle check IS the exactly-once
# assertion. Eviction/late-drop behaviour itself is st11's subject.
# --------------------------------------------------------------------

ST13_ORACLE = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query("st13_stream_dedup", oracle=ST13_ORACLE)
def st13(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("event_type", "user_id")
    )
    name = f"st13_{uuid.uuid4().hex[:10]}"
    with _stream_partitions(spark):
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------
# st14 — streaming contamination guard (round-6 theme in the stream
# path): the training corpus arrives as a file stream; each
# micro-batch explodes word 5-gram digests map-side and LEFT
# SEMI-joins a STATIC eval-slice digest set (stream-static joins are
# stateless — the eval set behaves as a broadcast filter), then a
# stateful complete-mode aggregation keeps per-(source, doc) leak
# counts. The drained sink aggregates to per-source totals that a
# batch CTE reproduces exactly — the guard a training-data ingest
# keeps running so a benchmark leak is caught at arrival time, not
# at audit time.
# --------------------------------------------------------------------

from arc_jupyter_spark.workloads._duck_sql import DUCK_TOKS as _ST14_TOKS
from arc_jupyter_spark.workloads._duck_sql import duck_shingles as _st14_sh

ST14_ORACLE = f"""
WITH t AS (
  SELECT source, doc_id, {_ST14_TOKS} AS toks FROM documents
),
g AS (
  SELECT source, doc_id, unnest({_st14_sh(5)}) AS gram FROM t
),
ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
hits AS (
  SELECT source, doc_id, COUNT(*) AS n
  FROM g
  WHERE doc_id % 20 <> 0 AND gram IN (SELECT gram FROM ev)
  GROUP BY source, doc_id
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS n_leaked_grams
FROM hits GROUP BY source ORDER BY source
"""


@query("st14_stream_contamination", oracle=ST14_ORACLE)
def st14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators.dedup import word_shingle_digests

    def digests(col):
        # plan-internal gram keys on both sides of the semi-join; the
        # oracle joins raw gram strings
        return word_shingle_digests(col, 5)

    batch = read_parquet(spark, f"{sf_dir}/documents.parquet")
    eval_digests = (
        batch.where(F.col("doc_id") % 20 == 0)
        .select(F.explode(digests(F.col("text"))).alias("_d"))
        .distinct()
    )
    stream = read_table_stream(spark, sf_dir, "documents", batch.schema)
    hits = (
        stream.where(F.col("doc_id") % 20 != 0)
        .select(
            "source", "doc_id", F.explode(digests(F.col("text"))).alias("_d")
        )
        .join(eval_digests, "_d", "left_semi")
        .groupBy("source", "doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"st14_{uuid.uuid4().hex[:10]}"
    with _stream_partitions(spark):
        q = (
            hits.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("n_leaked_grams"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# st15 — streaming CDC ingest dedup (the d21 chunker in the stream
# path): documents arrive as a file stream; each micro-batch is
# content-defined-chunked MAP-SIDE (the cdc_chunks HOF is stateless,
# so it runs unchanged inside a streaming plan), then a STATEFUL
# dropDuplicates on (source, chunk digest) emits each distinct chunk
# exactly once into the append sink — ingest-time storage dedup: by
# the time data lands, repeated boilerplate chunks are already gone.
# No watermark (nothing evicts in the bounded preview, the st13
# exactly-once contract), so the raw sink COUNT per source only
# matches the batch COUNT(DISTINCT digest) if no chunk was emitted
# twice — the oracle check IS the exactly-once assertion. At scale:
# add a watermark keyed on arrival time to bound state, or swap the
# stateful dedup for a foreachBatch anti-join upsert against the
# chunk store (the st09 recipe).
# --------------------------------------------------------------------

from arc_jupyter_spark.workloads._duck_sql import (
    CDC_MASK as _ST15_MASK,
    CDC_WINDOW as _ST15_W,
    duck_cdc_dist_cte as _st15_cdc,
)

ST15_ORACLE = f"""
WITH {_st15_cdc(_ST15_W, _ST15_MASK)}
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_unique_chunks,
       CAST(SUM(ln) AS BIGINT) AS uniq_chars
FROM dist GROUP BY source ORDER BY source
"""


@query("st15_stream_cdc_ingest", oracle=ST15_ORACLE)
def st15(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arc_jupyter_spark.operators.dedup import cdc_chunks

    batch = read_parquet(spark, f"{sf_dir}/documents.parquet")
    stream = read_table_stream(spark, sf_dir, "documents", batch.schema)
    docs = stream.select(
        "source", "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    chunks = cdc_chunks(docs, id_col="doc_id", text_col="text",
                        window=_ST15_W, mask=_ST15_MASK).select(
        "source",
        md5_hex("chunk").alias("dg"),
        F.length("chunk").cast("bigint").alias("ln"),
    )
    unique = chunks.dropDuplicates(["source", "dg"])
    name = f"st15_{uuid.uuid4().hex[:10]}"
    with _stream_partitions(spark):
        q = (
            unique.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_unique_chunks"),
            F.sum("ln").alias("uniq_chars"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# st16 — streaming incremental crawl-refresh screen (the stream
# version of d07/p12's dedup stage): new-crawl documents arrive as a
# file stream and each micro-batch is screened against the STATIC
# already-ingested corpus with the batch incremental_near_dedup
# operator inside foreachBatch — the st09 recipe for logic that a
# declarative streaming plan can't express (hit-doc detection derives
# a frame FROM the stream, which a stream-stream anti-join would need
# watermark state for; per-batch it is one plain anti-join). Each
# batch's survivors land as a batch-id-named delta (replay-idempotent
# overwrite = exactly-once); the serving read unions deltas. The
# existing-corpus band set is computed ONCE outside the loop and only
# (id, band) pairs ever join — text never shuffles. Oracle: d07's
# band screen restricted to the same new/existing split, aggregated
# per source.
# --------------------------------------------------------------------

from arc_jupyter_spark.workloads._duck_sql import (
    MINHASH_BANDS as _ST16_BANDS,
    MINHASH_NUM_HASHES as _ST16_HASHES,
    MINHASH_SHINGLE_LEN as _ST16_SHINGLE,
    duck_banded_cte as _st16_banded,
)

ST16_ORACLE = f"""
WITH {_st16_banded()},
hit AS (
  SELECT DISTINCT n.doc_id
  FROM banded n JOIN banded e USING (band)
  WHERE n.doc_id % 3 <> 0 AND e.doc_id % 3 = 0
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_ingested,
       CAST(SUM(d.doc_id) AS BIGINT) AS id_sum
FROM documents d
WHERE d.doc_id % 3 <> 0
  AND d.doc_id NOT IN (SELECT doc_id FROM hit)
GROUP BY d.source ORDER BY d.source
"""


@query("st16_stream_refresh_screen", oracle=ST16_ORACLE)
def st16(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from arc_jupyter_spark.operators.dedup import incremental_near_dedup

    batch = read_parquet(spark, f"{sf_dir}/documents.parquet")
    existing = batch.where(F.col("doc_id") % 3 == 0).select(
        "doc_id", "text"
    )
    stream = read_table_stream(spark, sf_dir, "documents", batch.schema)
    new = stream.where(F.col("doc_id") % 3 != 0).select(
        "doc_id", "source", F.coalesce("text", F.lit("")).alias("text")
    )
    out_dir = tempfile.mkdtemp(prefix="st16_state_")

    def screen(batch_df: DataFrame, batch_id: int) -> None:
        kept = incremental_near_dedup(
            batch_df, existing, id_col="doc_id", text_col="text",
            shingle_len=_ST16_SHINGLE,
            num_hashes=_ST16_HASHES, bands=_ST16_BANDS,
        )
        (
            kept.select("doc_id", "source")
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch={batch_id}")
        )

    try:
        with _stream_partitions(spark):
            q = (
                new.writeStream.foreachBatch(screen)
                .trigger(availableNow=True)
                .option("checkpointLocation", f"{out_dir}/_chk")
                .start()
            )
            q.awaitTermination()
        deltas = spark.read.option("basePath", out_dir).parquet(
            f"{out_dir}/batch=*"
        )
        result = (
            deltas.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_ingested"),
                F.sum("doc_id").alias("id_sum"),
            )
            .orderBy("source")
        )
        rows = result.collect()
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return spark.createDataFrame(rows, result.schema)


# --------------------------------------------------------------------
# st17 — streaming as-of enrichment (the stream version of q28): error
# events arrive as a file stream and each micro-batch is enriched with
# the most recent strictly-earlier click of the same user from the
# STATIC click history, via the batch asof_join operator inside
# foreachBatch — the st09/st16 recipe for logic a declarative stream
# can't express (a stream-batch as-of would need the full history as
# watermarked state; per-batch it is one union + running-last window).
# Each batch's enriched rows land as a batch-id-named delta
# (replay-idempotent overwrite = exactly-once, the shape
# tests/test_round9.py exercises with an injected crash); the serving
# read unions deltas. Per-row matches are independent of the batch
# split, so the result equals the batch q28 semantics and DuckDB's
# native ASOF JOIN oracle-checks it. Scale shape: the click history is
# materialized ONCE outside the loop; each batch shuffles it on
# user_id alongside the batch's errors (at 100 TB the history side
# would be bucketed on user_id so only the small batch side moves).
# --------------------------------------------------------------------

ST17_ORACLE = """
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS err_us
  FROM events WHERE event_type = 'error'
),
c AS (
  SELECT user_id, epoch_us(ts) AS click_us
  FROM events WHERE event_type = 'click'
),
m AS (
  SELECT e.user_id, e.event_id, c.click_us
  FROM e ASOF LEFT JOIN c
    ON e.user_id = c.user_id AND e.err_us > c.click_us
)
SELECT CAST(user_id % 8 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_errors,
       CAST(SUM(CASE WHEN click_us IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_matched,
       CAST(SUM(COALESCE(click_us, 0)) AS BIGINT) AS sum_click_us,
       CAST(SUM(event_id) AS BIGINT) AS id_sum
FROM m GROUP BY 1 ORDER BY 1
"""


@query("st17_stream_asof_enrich", oracle=ST17_ORACLE)
def st17(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from arc_jupyter_spark.operators.joins import asof_join
    from arc_jupyter_spark.workloads.base import read_events

    # static dimension: the full click history, pinned once — every
    # micro-batch joins against the SAME snapshot (recomputing it per
    # batch would re-scan the parquet per trigger)
    clicks = (
        read_events(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            F.unix_micros("ts").alias("click_us"),
        )
        .transform(materialize_lazy)
    )
    stream = read_events_stream(spark, sf_dir)
    errors = stream.where(F.col("event_type") == "error").select(
        "event_id", "user_id", F.unix_micros("ts").alias("us")
    )
    out_dir = tempfile.mkdtemp(prefix="st17_state_")

    def enrich(batch_df: DataFrame, batch_id: int) -> None:
        out = asof_join(
            batch_df, clicks, on="us", by="user_id",
            right_value_cols=["click_us"], strict=True,
        )
        (
            out.select("event_id", "user_id", "asof_click_us")
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch={batch_id}")
        )

    try:
        with _stream_partitions(spark):
            q = (
                errors.writeStream.foreachBatch(enrich)
                .trigger(availableNow=True)
                .option("checkpointLocation", f"{out_dir}/_chk")
                .start()
            )
            q.awaitTermination()
        deltas = spark.read.option("basePath", out_dir).parquet(
            f"{out_dir}/batch=*"
        )
        result = (
            deltas.groupBy(
                (F.col("user_id") % 8).cast("bigint").alias("bucket")
            )
            .agg(
                F.count(F.lit(1)).alias("n_errors"),
                F.sum(
                    F.when(F.col("asof_click_us").isNotNull(), 1).otherwise(0)
                ).cast("bigint").alias("n_matched"),
                F.sum(F.coalesce("asof_click_us", F.lit(0)))
                .cast("bigint").alias("sum_click_us"),
                F.sum("event_id").alias("id_sum"),
            )
            .orderBy("bucket")
        )
        rows = result.collect()
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return spark.createDataFrame(rows, result.schema)


# --------------------------------------------------------------------
# st18 — streaming moment profile via ALGEBRAIC MERGE: each
# micro-batch lands only its per-type power sums (n, Σx..Σx⁴ — a
# handful of BIGINTs), and the final moments come from summing the
# batch deltas — the mergeable-aggregate pattern that lets a
# streaming ingest maintain exact distribution statistics without
# ever re-scanning history (q90's single-pass argument, lifted to
# the stream). Power sums are commutative-monoid state, so
# batch-merge == whole-corpus by algebra, and the oracle computes
# straight over the full events table. x = value quantized to whole
# units: x ≤ ~561 keeps Σx⁴ under ~1e18 at every probe scale (the
# q90 DECIMAL(38,0) recipe is the documented upgrade when a true
# 100 TB stream overflows BIGINT). All derived-moment divisions run
# over positive operands (value ≥ 0), so Spark `div` (trunc) and
# DuckDB `//` (floor) agree.
# --------------------------------------------------------------------

ST18_ORACLE = f"""
WITH d AS (
  SELECT event_type,
         {sql_quantize('value', 0)} AS x
  FROM events
),
s AS (
  SELECT event_type,
         COUNT(*) AS n, SUM(x) AS s1, SUM(x * x) AS s2,
         SUM(x * x * x) AS s3, SUM(x * x * x * x) AS s4
  FROM d GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_rows,
       CAST(s1 AS BIGINT) AS sum_x,
       CAST(s1 // n AS BIGINT) AS mean_x,
       CAST(s2 // n - (s1 // n) * (s1 // n) AS BIGINT) AS m2_x2,
       CAST(s3 // n - 3 * (s1 // n) * (s2 // n)
            + 2 * (s1 // n) * (s1 // n) * (s1 // n) AS BIGINT) AS m3_x3,
       CAST(s4 AS BIGINT) AS s4_x4
FROM s ORDER BY event_type
"""


@query("st18_stream_moment_merge", oracle=ST18_ORACLE)
def st18(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    out_dir = tempfile.mkdtemp(prefix="st18_moments_")
    stream = read_events_stream(spark, sf_dir)

    def land_sums(batch_df: DataFrame, batch_id: int) -> None:
        x = quantize(F.col("value"), 0)
        (
            batch_df.select("event_type", x.alias("x"))
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("x").alias("s1"),
                F.sum(F.expr("x * x")).alias("s2"),
                F.sum(F.expr("x * x * x")).alias("s3"),
                F.sum(F.expr("x * x * x * x")).alias("s4"),
            )
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch={batch_id}")
        )

    try:
        with _stream_partitions(spark):
            q = (
                stream.writeStream.foreachBatch(land_sums)
                .trigger(availableNow=True)
                .option("checkpointLocation", f"{out_dir}/_chk")
                .start()
            )
            q.awaitTermination()
        merged = (
            spark.read.option("basePath", out_dir)
            .parquet(f"{out_dir}/batch=*")
            .groupBy("event_type")
            .agg(
                F.sum("n").alias("n"),
                F.sum("s1").alias("s1"),
                F.sum("s2").alias("s2"),
                F.sum("s3").alias("s3"),
                F.sum("s4").alias("s4"),
            )
        )
        result = merged.select(
            "event_type",
            F.col("n").cast("bigint").alias("n_rows"),
            F.col("s1").cast("bigint").alias("sum_x"),
            F.expr("s1 div n").cast("bigint").alias("mean_x"),
            F.expr("s2 div n - (s1 div n) * (s1 div n)")
            .cast("bigint").alias("m2_x2"),
            F.expr("s3 div n - 3 * (s1 div n) * (s2 div n) "
                   "+ 2 * (s1 div n) * (s1 div n) * (s1 div n)")
            .cast("bigint").alias("m3_x3"),
            F.col("s4").cast("bigint").alias("s4_x4"),
        ).orderBy("event_type")
        rows = result.collect()
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return spark.createDataFrame(rows, result.schema)
