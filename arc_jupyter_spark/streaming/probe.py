"""Streaming micro-benchmark: rate-source throughput and batch latency.

The st-suite is correctness-only (availableNow-drained, deterministic
results); nothing there would notice a 5x streaming-throughput
regression. This probe runs a REAL unbounded micro-batch query — rate
source → event-time window + watermark → stateful aggregate → memory
sink — for a few seconds and reports the engine's own progress
metrics (StreamingQueryProgress): processed rows/s and trigger
(end-to-end micro-batch) latency. bench.py records it in
BENCH_DETAIL.json so regressions become visible round over round.

The workload shape is the canonical production one (watermarked
windowed aggregation, update mode); the rate source generates rows
JVM-side so the number measures the engine, not a parquet scan.
"""

from __future__ import annotations

import statistics
import time
import uuid

from pyspark.sql import SparkSession, functions as F

from arc_jupyter_spark.digest import md5_hex


def rate_throughput_probe(
    spark: SparkSession,
    rows_per_second: int = 500_000,
    seconds: float = 10.0,
    partitions: int = 4,
) -> dict:
    """Run the probe; return {"rows_per_sec", "batch_latency_ms",
    "n_batches"} (medians over post-warmup batches; zeros if the run
    was too short to produce them — callers treat that as 'no data',
    not an error)."""
    name = f"bench_stream_{uuid.uuid4().hex[:8]}"
    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .option("numPartitions", partitions)
        .load()
    )
    agg = (
        src.withWatermark("timestamp", "2 seconds")
        .groupBy(
            F.window("timestamp", "1 second").alias("w"),
            (F.col("value") % 16).alias("k"),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + seconds
        while time.time() < deadline:
            time.sleep(0.25)
        progress = list(q.recentProgress)
    finally:
        q.stop()
        spark.catalog.dropTempView(name)

    # first two batches pay stream-initialization + state-store open;
    # steady state is what a long-running job delivers
    stats = [
        (
            p["processedRowsPerSecond"],
            p["durationMs"].get("triggerExecution", 0),
        )
        for p in progress[2:]
        if p.get("numInputRows", 0) > 0
    ]
    if not stats:
        return {"rows_per_sec": 0.0, "batch_latency_ms": 0.0, "n_batches": 0}
    return {
        "rows_per_sec": round(statistics.median(s[0] for s in stats), 1),
        "batch_latency_ms": round(
            statistics.median(s[1] for s in stats), 1
        ),
        "n_batches": len(stats),
    }


def multibatch_cdc_ingest_probe(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 6,
    max_files_per_trigger: int = 2,
) -> dict:
    """Drive the st15 CDC-ingest shape through MULTIPLE micro-batches
    and verify cross-batch exactly-once dedup (VERDICT r7 item 4).

    The round-7 directory-stream bug (0 rows via pathGlobFilter) was
    invisible at single-batch fixture scale, and the st-suite's
    bounded previews drain single-file tables in ONE batch — so the
    stateful ``dropDuplicates`` path had never been observed carrying
    state ACROSS batch boundaries. This probe writes the documents
    fixture as an ``n_files``-part directory, streams it with
    ``maxFilesPerTrigger`` (honored by ``Trigger.AvailableNow``) so
    the drain takes ≥ ``n_files / max_files_per_trigger`` batches,
    and asserts the append sink saw each distinct (source, digest)
    chunk EXACTLY once across all batches — a digest emitted in batch
    1 and re-arriving in batch 3 must be suppressed by dedup state,
    not re-emitted.

    Returns {"n_batches", "sink_rows", "distinct_expected",
    "duplicates_in_sink", "exactly_once", "wall_s"}; bench.py records
    it in BENCH_DETAIL's streaming section.
    """
    import shutil
    import tempfile

    from arc_jupyter_spark.operators.dedup import cdc_chunks
    from arc_jupyter_spark.workloads._duck_sql import CDC_MASK, CDC_WINDOW
    from arc_jupyter_spark.workloads.base import read_parquet

    t0 = time.time()
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "source", "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    tmp = tempfile.mkdtemp(prefix="mb_cdc_docs_")
    name = f"mb_cdc_{uuid.uuid4().hex[:8]}"
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        docs.repartition(n_files).write.mode("overwrite").parquet(tmp)
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(tmp)
        )
        chunks = cdc_chunks(
            stream, id_col="doc_id", text_col="text",
            window=CDC_WINDOW, mask=CDC_MASK,
        ).select("source", md5_hex("chunk").alias("dg"))
        unique = chunks.dropDuplicates(["source", "dg"])
        q = (
            unique.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_batches = sum(
            1 for p in q.recentProgress if p.get("numInputRows", 0) > 0
        )
        sink = spark.table(name)
        sink_rows = sink.count()
        dup_in_sink = (
            sink.groupBy("source", "dg")
            .count()
            .where(F.col("count") > 1)
            .count()
        )
        expected = (
            cdc_chunks(docs, id_col="doc_id", text_col="text",
                       window=CDC_WINDOW, mask=CDC_MASK)
            .select("source", md5_hex("chunk").alias("dg"))
            .distinct()
            .count()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        try:
            spark.catalog.dropTempView(name)
        except Exception:  # noqa: BLE001 - probe cleanup only
            pass
        shutil.rmtree(tmp, ignore_errors=True)
    return {
        "n_batches": n_batches,
        "sink_rows": sink_rows,
        "distinct_expected": expected,
        "duplicates_in_sink": dup_in_sink,
        "exactly_once": sink_rows == expected and dup_in_sink == 0,
        "wall_s": round(time.time() - t0, 3),
    }
