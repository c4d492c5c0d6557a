"""Log buffer, progress reporter, stage metrics, plugin registry, new
stages."""

import logging
import re
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from arc_jupyter_spark.interpreter import Interpreter
from arc_jupyter_spark.observability import LogBuffer, Progress, ProgressReporter
from arc_jupyter_spark.plans.pipeline import parse_pipeline, run_pipeline
from arc_jupyter_spark.plugins import (
    LIFECYCLE_PLUGINS,
    register_config_plugin,
    register_lifecycle_plugin,
)


def test_log_buffer_captures_structured_lines():
    buf = LogBuffer(capacity=2)
    logger = logging.getLogger("obs-test")
    logger.addHandler(buf)
    logger.setLevel(logging.INFO)
    logger.info("one")
    logger.info("two")
    logger.info("three")
    assert len(buf.records) == 2  # bounded
    assert '"message": "three"' in buf.last_message()
    logger.removeHandler(buf)


def test_progress_snapshot_idle(spark):
    p = ProgressReporter(spark, on_update=lambda s: None).snapshot()
    assert p.num_tasks == 0 and p.fraction == 0.0
    assert Progress(num_tasks=10, completed=5, active=2).bar(10).startswith("[#####>>")


def test_progress_reporter_during_job(spark):
    seen = []
    with ProgressReporter(spark, on_update=seen.append, interval_ms=50):
        spark.range(0, 5_000_000, 1, 16).selectExpr("sum(id)").collect()
    assert seen  # at least the final snapshot
    assert seen[-1].failed is False


def _shuffled_counts(spark):
    return spark.range(0, 200_000, 1, 4).groupBy((F.col("id") % 10_000).alias("k")).count()


def test_segment_meter_reads_the_status_store_with_ui_off(spark):
    from arc_jupyter_spark.metrics import SegmentMeter

    assert spark.sparkContext.uiWebUrl is None  # no UI server to ask
    meter = SegmentMeter(spark)
    _shuffled_counts(spark).collect()
    seg = meter.segment()
    assert seg["n_stages"] >= 1
    assert seg["shuffle_write_mb"] > 0 and seg["shuffle_write_records"] > 0
    assert meter.segment()["n_stages"] == 0


def test_segment_meter_skips_a_reused_shuffle_stage(spark):
    from arc_jupyter_spark.metrics import SegmentMeter

    sc = spark.sparkContext
    df = _shuffled_counts(spark)
    meter = SegmentMeter(spark)
    df.collect()
    first = meter.segment()
    group = f"reread-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "re-read reusing its shuffle output")
    try:
        df.collect()
    finally:
        sc._jsc.clearJobGroup()
    again = meter.segment()
    tracker = sc.statusTracker()
    referenced = {sid for job in tracker.getJobIdsForGroup(group)
                  for sid in tracker.getJobInfo(job).stageIds}
    # the re-read's jobs name the map stage, which is SKIPPED, not run
    assert len(referenced) > again["n_stages"] >= 1
    assert again["n_stages"] < first["n_stages"]
    assert again["shuffle_write_records"] == 0 and first["shuffle_write_records"] > 0


def test_segment_meter_counts_work_after_a_failed_stage(spark):
    from arc_jupyter_spark.metrics import SegmentMeter

    sc = spark.sparkContext
    meter = SegmentMeter(spark)
    failing = _shuffled_counts(spark).select(
        F.when(F.col("k") >= 0, F.raise_error(F.lit("boom"))).alias("x"))
    group = f"failing-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "a job whose result stage fails")
    try:
        with pytest.raises(Exception, match="boom"):
            failing.collect()
    finally:
        sc._jsc.clearJobGroup()
    seg = meter.segment()
    # the map stage completed; the failed result stage does not count
    assert seg["n_stages"] == 1 and seg["shuffle_write_records"] > 0
    _shuffled_counts(spark).collect()
    seg = meter.segment()
    assert seg["n_stages"] >= 1 and seg["shuffle_write_records"] > 0
    assert meter.segment()["n_stages"] == 0
    # the failed attempt holds nothing open: the last read walked
    # (_seen) only attempts that finished after the failed job
    tracker = sc.statusTracker()
    failed_job = {sid for job in tracker.getJobIdsForGroup(group)
                  for sid in tracker.getJobInfo(job).stageIds}
    assert failed_job and not failed_job & {sid for sid, _ in meter._seen}


_UI_REST = re.compile(r"""api/v1|spark\.ui\.enabled["']?\s*[:,=]\s*["']?true""", re.IGNORECASE)


def test_peak_execution_memory_is_the_largest_task_peak(spark):
    from arc_jupyter_spark.metrics import MB, SegmentMeter

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    coalesce = spark.conf.get(key)
    spark.conf.set(key, "false")  # keep the 8 reduce tasks
    try:
        meter, probe = SegmentMeter(spark), SegmentMeter(spark)
        spark.range(0, 200_000, 1, 8).groupBy((F.col("id") % 10_000).alias("k")).count().collect()
    finally:
        spark.conf.set(key, coalesce)
    reading = meter.segment()["peak_execution_memory_mb"]
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = probe.new_stages()
    assert [s.numTasks() for s in stages] == [8, 8]
    tasks = [store.taskList(s.stageId(), s.attemptId(), 100) for s in stages]
    task_peaks = [seq.apply(i).taskMetrics().get().peakExecutionMemory()
                  for seq in tasks for i in range(seq.size())]
    assert reading == round(max(task_peaks) / MB, 2) > 0
    # a stage's own figure adds up the peaks of its 8 tasks
    assert reading < round(max(s.peakExecutionMemory() for s in stages) / MB, 2)


def test_segment_meter_counts_codegen_compiles(spark):
    from arc_jupyter_spark.metrics import SegmentMeter

    # a literal new to this JVM makes the generated code new
    fresh = uuid.uuid4().int % 1_000_000_007
    df = spark.range(0, 1000, 1, 2).selectExpr(f"sum(id * {fresh} + id % 97) AS s")
    meter = SegmentMeter(spark)
    df.collect()
    first = meter.segment()
    assert first["codegen_compiles"] >= 1 and first["codegen_ms"] > 0
    df.collect()  # the same plan: every class comes from the cache
    assert meter.segment()["codegen_compiles"] == 0


def test_session_defaults_size_the_class_cache():
    from arc_jupyter_spark.session import _env_overrides, default_configs

    key = "spark.sql.codegen.cache.maxEntries"
    assert default_configs()[key] == "1000"
    # a user override layers on top through the same key
    spark_conf, _ = _env_overrides({"conf_spark_sql_codegen_cache_maxEntries": "50"})
    assert spark_conf == {key: "50"}


def test_one_in_process_metrics_core():
    """Stage metrics come from the status store only: no package or
    tool module calls the UI REST API or turns the UI server on."""
    root = Path(__file__).resolve().parent.parent
    files = [root / "bench.py", *(root / "arc_jupyter_spark").rglob("*.py"),
             *(root / "tools").glob("*.py")]
    offenders = [str(f.relative_to(root)) for f in files
                 if _UI_REST.search(f.read_text(encoding="utf-8"))]
    assert offenders == []


def test_config_plugin_merges_env(ctx):
    @register_config_plugin("test-env-plugin")
    def plugin(ctx):
        return {"FROM_PLUGIN": "yes"}

    interp = Interpreter(ctx=ctx)
    interp.execute("%configplugin\ntest-env-plugin")
    assert ctx.env["FROM_PLUGIN"] == "yes"
    res = interp.execute("%sql\nSELECT '${FROM_PLUGIN}' AS v")
    assert res.df.first()["v"] == "yes"


def test_lifecycle_plugin_hooks(ctx):
    calls = []

    class Recorder:
        def before(self, stage, ctx):
            calls.append(("before", stage.stage_type))

        def after(self, stage, result, ctx):
            calls.append(("after", stage.stage_type))

    register_lifecycle_plugin("recorder", Recorder())
    interp = Interpreter(ctx=ctx)
    interp.execute("%lifecycleplugin\nrecorder")
    interp.execute(
        '[{"type": "SQLTransform", "name": "t", "sql": "SELECT 1 AS a",'
        ' "outputView": "lc_out"}]'
    )
    assert ("before", "SQLTransform") in calls
    assert ("after", "SQLTransform") in calls
    LIFECYCLE_PLUGINS.pop("recorder", None)


def test_show_log_appends_message(ctx):
    interp = Interpreter(ctx=ctx)
    interp.execute(
        "%log\nSELECT to_json(named_struct('message','captured')) AS message"
    )
    res = interp.execute("%sql showLog=true\nSELECT 1 AS a")
    assert "captured" in res.text


def test_tf_serving_transform_with_injected_predictor(ctx):
    from arc_jupyter_spark.operators.transform import TensorFlowServingTransform

    src = ctx.spark.createDataFrame([(1.0,), (2.0,)], ["value"])
    ctx.register(src, "tf_in")
    stage = TensorFlowServingTransform(
        name="tf", input_view="tf_in", output_view="tf_out",
        predict_fn=lambda instances: [v * 10 for v in instances],
    )
    stage.execute(ctx)
    got = {r["value"]: r["prediction"] for r in ctx.table("tf_out").collect()}
    assert got == {1.0: "10.0", 2.0: "20.0"}


def test_jdbc_execute_registered():
    from arc_jupyter_spark.plans.pipeline import STAGE_REGISTRY

    assert "JDBCExecute" in STAGE_REGISTRY
    assert "TensorFlowServingTransform" in STAGE_REGISTRY


def test_kernel_module_importable_without_ipykernel():
    from arc_jupyter_spark import kernel

    spec = kernel.kernelspec()
    assert spec["argv"][1:3] == ["-m", "arc_jupyter_spark.kernel"]


def test_render_stages_plugin_collects_intermediate_output(ctx):
    from arc_jupyter_spark.plugins import RenderStagesPlugin, register_lifecycle_plugin
    from arc_jupyter_spark.interpreter import Interpreter

    plugin = RenderStagesPlugin(num_rows=3)
    register_lifecycle_plugin("render-stages", plugin)
    interp = Interpreter(ctx=ctx)
    interp.execute("%lifecycleplugin\nrender-stages")
    interp.execute(
        '[{"type": "SQLTransform", "name": "first", "sql": "SELECT 1 AS a",'
        ' "outputView": "rs_a"},'
        '{"type": "SQLTransform", "name": "second",'
        ' "sql": "SELECT a + 1 AS b FROM rs_a", "outputView": "rs_b"}]'
    )
    names = [n for n, _ in plugin.outputs]
    assert names == ["first", "second"]
    assert "| b" in plugin.outputs[1][1] or "b " in plugin.outputs[1][1]
    LIFECYCLE_PLUGINS.pop("render-stages", None)
