"""Per-stage Spark metrics, read in-process from the JVM status store
(shared by bench.py and tools/).

``SparkContext.statusStore()`` is the store the listener bus fills for
the web UI. It exists whether or not the UI server runs, so these reads
work with ``spark.ui.enabled=false`` — the default for
``build_session``, the driver's session and the test session. Every
read first drains the listener bus, so a stage whose last task has
just finished is already COMPLETE in the store.

Pattern for measuring one segment of work (bench.py's per-query and
per-pipeline-stage records, selfcheck's per-query ``disk_spill_mb``):
build a ``SegmentMeter``, do the work, call ``segment()`` for the
totals of the stages that completed in between.

``segment()`` also reports the driver's codegen work in the segment:
the classes Janino compiled (cache misses of the generated-class cache)
and the time it took, read from ``CodegenMetrics`` and
``CodeGenerator.compileTime``. Both are JVM-wide counters, so work of
another session in the same JVM counts too.
"""

from __future__ import annotations

MB = 2**20


class SegmentMeter:
    """Stage totals for successive segments of work in one session."""

    def __init__(self, spark) -> None:
        sc, jvm = spark.sparkContext, spark._jvm
        self._status = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._wrapper = jvm.java.lang.Class.forName(
            "org.apache.spark.status.StageDataWrapper")
        # taskSummary at quantile 1.0: the largest value of any task
        self._max_quantile = sc._gateway.new_array(jvm.double, 1)
        self._max_quantile[0] = 1.0
        # stage attempts finish in completion-time order: a read walks
        # back only to the newest finish time of the previous read;
        # _seen holds the attempts already walked at or after it. The
        # start, 2**31 ms (January 1970), is the smallest int py4j hands
        # over as a java.lang.Long, which the index's compare needs.
        self._since, self._seen = 2**31, set()
        self.new_stages()
        self._compiles = (jvm.org.apache.spark.metrics.source.CodegenMetrics
                          .METRIC_COMPILATION_TIME())
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._codegen_mark = self._codegen_totals()

    def _codegen_totals(self) -> tuple[int, int]:
        """Classes compiled and compile nanoseconds since the JVM started."""
        return self._compiles.getCount(), self._codegen.compileTime()

    def _finished_since(self):
        """Iterator over the stage attempts (``StageDataWrapper``) that
        finished at or after ``_since`` ms, newest first."""
        self._bus.waitUntilEmpty()
        view = self._status.store().view(self._wrapper)
        return (view.index("completionTime").reverse()
                .last(self._since).closeableIterator())

    def new_stages(self) -> list:
        """JVM ``StageData`` of the stage attempts that completed since
        the last call (or init). SKIPPED and FAILED attempts never
        count; a retried or resubmitted attempt counts when it
        completes, whatever its stage id.
        """
        new, walked, newest = [], set(), None
        it = self._finished_since()
        try:
            while it.hasNext():
                st = it.next().info()
                key = (st.stageId(), st.attemptId())
                if newest is None:
                    newest = st.completionTime().get().getTime()
                walked.add(key)
                if key not in self._seen and st.status().toString() == "COMPLETE":
                    new.append(st)
        finally:
            it.close()
        if newest is not None:
            self._since, self._seen = newest, walked
        return new

    def segment(self) -> dict:
        """Totals for stages completed since the last call (or init).

        MiB-denominated sums plus the largest peak execution memory of
        any single task (the high-water mark of one task's unroll and
        execution memory — the number that predicts whether a 100×
        scale-up fits executor memory or spills). The stage's own
        ``peakExecutionMemory`` is the sum of its task peaks, so it
        grows with the task count. ``codegen_compiles`` and
        ``codegen_ms`` are the generated classes compiled since the last
        call and the compile time, whatever stage or plan compiled them.
        """
        stages = self.new_stages()
        compiles, compile_ns = self._codegen_totals()
        (last_compiles, last_ns), self._codegen_mark = self._codegen_mark, (compiles, compile_ns)

        def mb(field: str) -> float:
            return round(sum(getattr(s, field)() for s in stages) / MB, 2)

        return {
            "n_stages": len(stages),
            "input_mb": mb("inputBytes"),
            "shuffle_read_mb": mb("shuffleReadBytes"),
            "shuffle_write_mb": mb("shuffleWriteBytes"),
            # partial-aggregate hash maps degrade under memory pressure
            # by EARLY FLUSH (emitting partial rows before full
            # combine), not by disk spill — visible as a shuffle-record
            # increase at an unchanged result; the stage-metrics tests
            # read it to tell a map stage that ran from a skipped one
            "shuffle_write_records": sum(s.shuffleWriteRecords() for s in stages),
            "mem_spill_mb": mb("memoryBytesSpilled"),
            "disk_spill_mb": mb("diskBytesSpilled"),
            "peak_execution_memory_mb": round(
                max((self._task_peak(s) for s in stages), default=0) / MB, 2),
            "codegen_compiles": compiles - last_compiles,
            "codegen_ms": round((compile_ns - last_ns) / 1e6, 2),
        }

    def _task_peak(self, stage) -> float:
        """Largest ``peakExecutionMemory`` of a successful task of
        *stage* (a ``StageData``), in bytes."""
        found = self._status.taskSummary(stage.stageId(), stage.attemptId(),
                                         self._max_quantile)
        return 0.0 if found.isEmpty() else found.get().peakExecutionMemory().apply(0)
