"""Streaming: rate source + bounded memory-sink preview loop
(reference semantics: Common.scala:171-222)."""

import pytest

from arc_jupyter_spark.plans.pipeline import parse_pipeline, run_pipeline
from arc_jupyter_spark.streaming.preview import preview_stream


def test_preview_rejects_batch_df(spark):
    with pytest.raises(ValueError, match="streaming"):
        preview_stream(spark.range(3))


def test_rate_extract_preview_bounded(ctx):
    stages = parse_pipeline(
        [{"type": "RateExtract", "name": "r",
          "rowsPerSecond": 50, "outputView": "rate_stream"}]
    )
    run_pipeline(stages, ctx)
    df = ctx.table("rate_stream")
    assert df.isStreaming
    out = preview_stream(df, num_rows=10, duration_s=15.0, frequency_ms=200)
    # loop must stop on the row-count condition well before duration
    assert out.count() > 10
    assert set(out.columns) == {"timestamp", "value"}


def test_interpreter_streaming_cell_bounded_preview(ctx):
    """A streaming pipeline cell renders through the bounded preview:
    the result the user sees is a batch snapshot of the memory sink."""
    from arc_jupyter_spark.interpreter import Interpreter

    interp = Interpreter(ctx=ctx)
    res = interp.execute(
        '%arc numRows=5 streamingDuration=10\n'
        '[{"type": "RateExtract", "name": "r", "rowsPerSecond": 50,'
        ' "outputView": "rate_cell_stream"}]'
    )
    assert res.df is not None and not res.df.isStreaming
    assert res.df.count() > 5  # stopped by row-count, drained sink returned
    assert "value" in res.text.splitlines()[1]


def test_streaming_session_flag_flips_extract(ctx, tmp_path):
    """%conf streaming=true makes file extracts use readStream
    (reference: ArcInterpreter.scala:300, 357)."""
    from arc_jupyter_spark.interpreter import Interpreter

    src = ctx.spark.range(20).selectExpr("id", "id * 2 AS dbl")
    path = str(tmp_path / "stream_src")
    src.write.parquet(path)
    schema = ctx.spark.read.parquet(path).schema

    interp = Interpreter(ctx=ctx)
    interp.execute("%conf streaming=true")
    stages = parse_pipeline(
        [{"type": "ParquetExtract", "name": "e", "inputURI": path,
          "outputView": "stream_view", "schema": schema}]
    )
    df = stages[0].load(ctx)
    assert df.isStreaming
    interp.execute("%conf streaming=false")
    assert not stages[0].load(ctx).isStreaming


def test_preview_drops_memory_sink_view(ctx):
    """preview_stream must not leave the uuid-named memory-sink table
    registered (it pins rows on the driver for the session)."""
    before = set(ctx.view_names())
    df = ctx.spark.readStream.format("rate").option("rowsPerSecond", 50).load()
    out = preview_stream(df, num_rows=5, duration_s=10.0, frequency_ms=200)
    assert out.count() >= 0  # materialized local copy still queryable
    leaked = {v for v in set(ctx.view_names()) - before if v.startswith("preview_")}
    assert not leaked, f"memory sink views leaked: {leaked}"


def test_memory_load_restart_and_stop_streams(ctx):
    """Re-running a MemoryLoad cell with the same query name must stop
    the previous query (not fail or leak); ctx.stop_streams() tears
    down everything tracked."""
    from arc_jupyter_spark.plans.pipeline import parse_pipeline, run_pipeline

    stages = parse_pipeline([
        {"type": "RateExtract", "name": "r", "rowsPerSecond": 10,
         "outputView": "rate_restart_v"},
        {"type": "MemoryLoad", "name": "m", "inputView": "rate_restart_v",
         "queryName": "restart_sink"},
    ])
    run_pipeline(stages, ctx)
    first = [q for q in ctx.spark.streams.active if q.name == "restart_sink"]
    assert len(first) == 1
    run_pipeline(stages, ctx)  # re-run: must stop the old query
    active = [q for q in ctx.spark.streams.active if q.name == "restart_sink"]
    assert len(active) == 1
    assert active[0].id != first[0].id or not first[0].isActive
    assert ctx.stop_streams() >= 1
    assert not [q for q in ctx.spark.streams.active if q.name == "restart_sink"]


def test_stream_stream_interval_join(spark):
    """st04's shape: two watermarked streams, event-time interval join,
    availableNow; matches equal the batch join exactly."""
    from arc_jupyter_spark.workloads.streaming_queries import st04

    out = st04(spark, "/root/testdata/sf0.001").collect()
    assert len(out) >= 1
    total = sum(r["n_pairs"] for r in out)
    # batch equivalent on the same fixture
    from arc_jupyter_spark.workloads.base import load_views
    load_views(spark, "/root/testdata/sf0.001", "events")
    batch = spark.sql("""
        SELECT COUNT(*) AS n FROM events a JOIN events b
        ON a.user_id = b.user_id AND a.event_type = 'click'
        AND b.event_type = 'purchase'
        AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTES
    """).collect()[0]["n"]
    assert total == batch
    # delays must sit inside the interval bound
    assert all(0 <= r["min_delay_s"] <= r["max_delay_s"] <= 600 for r in out)


def test_stream_dedup_matches_batch_distinct(spark):
    from arc_jupyter_spark.workloads.streaming_queries import st05
    from arc_jupyter_spark.workloads.base import load_views

    got = {(r["user_id"], r["event_type"])
           for r in st05(spark, "/root/testdata/sf0.001").collect()}
    load_views(spark, "/root/testdata/sf0.001", "events")
    want = {(r["user_id"], r["event_type"]) for r in
            spark.sql("SELECT DISTINCT user_id, event_type FROM events").collect()}
    assert got == want


def test_stream_sessions_match_batch_sessionization(spark):
    from arc_jupyter_spark.workloads.streaming_queries import st06
    from arc_jupyter_spark.workloads.base import load_views

    got = st06(spark, "/root/testdata/sf0.001").collect()
    load_views(spark, "/root/testdata/sf0.001", "events")
    batch = spark.sql("""
        WITH marked AS (
          SELECT user_id, ts, value,
                 CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                           >= INTERVAL 30 MINUTES
                      OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                      THEN 1 ELSE 0 END AS is_new
          FROM events
        ), s AS (
          SELECT user_id, ts, value,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
          FROM marked
        )
        SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
        FROM s GROUP BY user_id, sid ORDER BY user_id, session_start
    """).collect()
    assert [(r["user_id"], r["session_start"], r["n_events"]) for r in got] == \
           [(r["user_id"], r["session_start"], r["n_events"]) for r in batch]


def test_windowed_agg_spans_multiple_microbatches(spark, tmp_path):
    """True multi-batch streaming: the source is split into 4 files and
    maxFilesPerTrigger=1 forces 4 micro-batches, so window state MUST
    carry across batches (a single-batch availableNow run would hide a
    broken state store). The multi-batch result must equal the batch
    aggregation bit-for-bit."""
    from pyspark.sql import functions as F

    from arc_jupyter_spark.workloads.base import read_events

    src = str(tmp_path / "events_split")
    events = read_events(spark, "/root/testdata/sf0.001")
    events.repartition(4).write.parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint")
            ).alias("v_e6"),
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("mb_windows")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    q.awaitTermination()
    n_batches = len(q.recentProgress)
    got = {
        (r["w"]["start"], r["event_type"]): (r["n"], r["v_e6"])
        for r in spark.table("mb_windows").collect()
    }
    spark.catalog.dropTempView("mb_windows")
    expected = {
        (r["w"]["start"], r["event_type"]): (r["n"], r["v_e6"])
        for r in (
            events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint")
                ).alias("v_e6"),
            )
            .collect()
        )
    }
    assert n_batches >= 4, f"expected >=4 micro-batches, got {n_batches}"
    assert got == expected


def test_stream_dedup_state_spans_microbatches(spark, tmp_path):
    """dropDuplicatesWithinWatermark across REAL micro-batch boundaries:
    duplicates land in different files (batches), so dedup state must
    survive batch transitions. Result must equal batch-side distinct."""
    from pyspark.sql import functions as F

    from arc_jupyter_spark.workloads.base import read_events

    src = str(tmp_path / "dup_split")
    events = read_events(spark, "/root/testdata/sf0.001").select(
        "event_id", "ts", "user_id"
    )
    # write the SAME rows twice into separate files -> cross-batch dups
    events.coalesce(1).write.mode("overwrite").parquet(src)
    events.coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    deduped = stream.withWatermark("ts", "10 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("mb_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "chk2"))
        .start()
    )
    q.awaitTermination()
    n_batches = len(q.recentProgress)
    got = spark.table("mb_dedup").count()
    spark.catalog.dropTempView("mb_dedup")
    assert n_batches >= 2
    assert got == events.count()


def test_running_extremes_tws_gated(spark, tmp_path):
    """transformWithStateInPandas operator — runs only where the
    runner's google.protobuf dependency exists (not this container);
    the construction path (plan build) must work everywhere."""
    import pytest

    from arc_jupyter_spark.streaming.stateful import (
        running_extremes_tws,
        tws_available,
    )
    from arc_jupyter_spark.workloads.base import read_events_stream

    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR

    stream = read_events_stream(spark, SF_DIR).select("user_id", "value")
    agg = running_extremes_tws(stream, key_col="user_id", value_col="value")
    assert agg.schema.fieldNames() == ["user_id", "n_events", "max_value_e6"]
    if not tws_available():
        pytest.skip("google.protobuf missing: transformWithState runner cannot start")
    q = (
        agg.writeStream.format("memory")
        .queryName("tws_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["user_id"]: r["n_events"] for r in spark.table("tws_test").collect()}
    want = {
        r["user_id"]: r["n"]
        for r in stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_file_stream_restart_from_checkpoint_exactly_once(spark, tmp_path):
    """Stop a checkpointed file-stream query, land more files, restart
    with the same checkpoint: already-processed files must NOT be
    reprocessed and new files must not be missed — the exactly-once
    resume contract a 100 TB land-then-serve pipeline leans on."""
    import pyspark.sql.functions as F

    import glob
    import shutil

    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ck = tmp_path / "ck"
    src.mkdir()

    def land(df, name):
        # land a single flat parquet FILE (file streams don't recurse
        # into the directory a DataFrame write creates)
        tmp = tmp_path / f"_stage_{name}"
        df.coalesce(1).write.parquet(str(tmp))
        part = glob.glob(str(tmp / "part-*.parquet"))[0]
        shutil.copy(part, str(src / f"{name}.parquet"))

    land(spark.range(0, 100).withColumn("batch", F.lit("a")), "a")
    schema = spark.read.parquet(str(src)).schema

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(str(src))
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(str(sink)).count() == 100

    land(spark.range(100, 150).withColumn("batch", F.lit("b")), "b")
    run_once()
    out = spark.read.parquet(str(sink))
    # 150 distinct ids and 150 rows: file a was not replayed, file b
    # was not missed
    assert out.count() == 150
    assert out.select("id").distinct().count() == 150


def test_watermark_drops_late_rows(spark, tmp_path):
    """Watermark semantics, decisively: three micro-batches in
    controlled order (distinct mtimes + maxFilesPerTrigger=1).
    Batch 1 sets the watermark past the 10:00 window's end; batch 2
    only advances it (state for the 10:00 window is evicted at that
    batch's commit); batch 3 replays a 10:20 event — it MUST be
    dropped (Spark counts it in numRowsDroppedByWatermark). With a
    loose watermark the same input is accepted — proving the drop
    comes from the watermark, not an unread file.

    Nuance this test pins down: in update mode a late row is only
    dropped once the watermark has EVICTED its window's state; while
    state is live a late-but-present window still updates. Hence the
    separate advance-only batch 2."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    def run(delay: str, tag: str) -> tuple[dict, int]:
        src = tmp_path / f"late_{tag}"
        src.mkdir()
        base = "2024-01-01 "

        def mk(rows, name, age):
            df = spark.createDataFrame(
                [(base + r,) for r in rows], "ts_s string"
            ).select(F.col("ts_s").cast("timestamp").alias("ts"))
            df.coalesce(1).write.parquet(str(src / name))
            for f in os.listdir(src / name):
                if f.endswith(".parquet"):
                    dst = src / f"{name}.parquet"
                    os.rename(src / name / f, dst)
                    now = _time.time()
                    os.utime(dst, (now - age, now - age))

        mk(["10:05:00", "10:15:00", "10:45:00", "11:30:00"], "b1", 3000)
        mk(["11:40:00"], "b2", 2000)                # advance-only
        mk(["10:20:00", "11:50:00"], "b3", 1000)    # stale replay + fresh
        stream = (
            spark.readStream.schema("ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*.parquet")
        )
        agg = (
            stream.withWatermark("ts", delay)
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        name = f"late_{tag}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / f"chk_{tag}"))
            .start()
        )
        q.awaitTermination()
        dropped = sum(
            op["numRowsDroppedByWatermark"]
            for p in q.recentProgress
            for op in p["stateOperators"]
        )
        out = {}
        for r in spark.table(name).collect():
            k = r["w"]["start"].strftime("%H:%M")
            out[k] = max(out.get(k, 0), r["n"])
        spark.catalog.dropTempView(name)
        return out, dropped

    # tight: watermark reaches 11:10 after batch 1 (> 11:00 window
    # end), state evicted after batch 2 -> the 10:20 replay is dropped
    tight, n_dropped = run("20 minutes", "tight")
    assert tight["10:00"] == 3, f"late row not dropped: {tight}"
    assert tight["11:00"] == 3
    assert n_dropped == 1
    # loose: watermark stays hours behind -> same replay is accepted
    loose, n_dropped_loose = run("6 hours", "loose")
    assert loose["10:00"] == 4, f"row wrongly dropped: {loose}"
    assert loose["11:00"] == 3
    assert n_dropped_loose == 0


def test_st12_stream_assignment_equals_batch(spark):
    """The streaming anchor argmax must reproduce the batch assignment
    exactly (stateless map ⇒ micro-batching cannot change it)."""
    from pyspark.sql import functions as F

    from arc_jupyter_spark.operators import similarity
    from arc_jupyter_spark.workloads.base import QUERIES

    sf = "/root/testdata/sf0.001"
    out = {r["cluster_id"]: (r["n"], r["id_sum"])
           for r in QUERIES["st12_stream_cluster_assign"](spark, sf).collect()}
    batch = spark.read.parquet(f"{sf}/embeddings.parquet")
    anchors = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in batch.where(F.col("vec_id") < 8).collect()
    )
    want = {
        r["cluster_id"]: (r["n"], r["id_sum"])
        for r in similarity.assign_quantized_cells(batch, anchors)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("vec_id").alias("id_sum"))
        .collect()
    }
    assert out == want


def test_st13_stream_dedup_matches_batch_distinct(spark):
    """Streaming dropDuplicatesWithinWatermark with an over-span delay
    must emit exactly the batch-distinct key set."""
    from pyspark.sql import functions as F

    from arc_jupyter_spark.workloads import queries
    from arc_jupyter_spark.workloads.base import read_events
    from tests.conftest import SF_DIR

    got = {
        (r["event_type"], r["n_users"])
        for r in queries()["st13_stream_dedup"](spark, SF_DIR).collect()
    }
    want = {
        (r["event_type"], r["n"])
        for r in read_events(spark, SF_DIR)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want


def test_rate_throughput_probe_shape(spark):
    """The bench streaming probe returns engine-progress medians with
    the contract keys; a short run may legitimately yield n_batches=0
    (callers treat that as 'no data')."""
    from arc_jupyter_spark.streaming.probe import rate_throughput_probe

    out = rate_throughput_probe(spark, rows_per_second=50_000, seconds=6.0)
    assert set(out) == {"rows_per_sec", "batch_latency_ms", "n_batches"}
    if out["n_batches"]:
        assert out["rows_per_sec"] > 0
        assert out["batch_latency_ms"] > 0


def test_event_stream_read_pins_utc(spark):
    """The events stream reader pins the session time zone to UTC, as
    the batch reader does: on a non-UTC session st01's hourly windows
    still match its oracle's (DuckDB reads naive timestamps as UTC)."""
    import duckdb

    from arc_jupyter_spark.workloads import oracle_sql, queries
    from tests.conftest import SF_DIR

    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, "Asia/Kolkata")
    try:
        n = queries()["st01_stream_window"](spark, SF_DIR).count()
    finally:
        spark.conf.set(key, prev)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_DIR}/events.parquet')"
    )
    assert n == len(con.sql(oracle_sql()["st01_stream_window"]).fetchall())
