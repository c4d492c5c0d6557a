"""Spans and Spark counters for the benchmark's traced run.

The tracer wraps public entry points of each layer at the names their
callers bind (for example ``arc_jupyter_spark.interpreter.render_html``,
which is the name ``Interpreter._render`` looks up) and records one span
per call: name, start, end, parent and the op it belongs to. The harness
opens the op-level spans itself (the query callable, ``collect``, an
``Interpreter.execute`` call). Spans stay in memory; ``run.per_layer``
reduces them once the run ends.

Spark-side counts (jobs, stages, tasks, task time, shuffle and spill bytes,
pinned RDDs, JVM GC time) come from the in-process status store and JVM
management beans, so they work with ``spark.ui.enabled=false``. They are
read between ops, outside every timed span.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import Counter
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

MB = 1024 * 1024

#: the layers the per-layer metrics are reported for
LAYERS = ("interpreter", "render", "plans", "context", "workloads",
          "operators", "checkpoint")


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float  # perf_counter seconds
    wall_start_ms: float  # epoch ms, to line up with Spark job times
    end: float = 0.0
    wall_end_ms: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    op: int = -1
    py4j_calls: Counter = field(default_factory=Counter)
    _stack: list[int] = field(default_factory=list)
    _patches: list[tuple[Any, str, Any]] = field(default_factory=list)

    @property
    def active(self) -> bool:
        return bool(self._patches)

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span]:
        sp = Span(name, self.op, self._stack[-1] if self._stack else None,
                  time.perf_counter(), time.time() * 1000)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.wall_end_ms = time.time() * 1000
            self._stack.pop()

    def inside(self, layer: str) -> bool:
        return any(self.spans[i].layer == layer for i in self._stack)

    def root_layer(self) -> str | None:
        """Layer of the op-level span now open, if any."""
        return self.spans[self._stack[0]].layer if self._stack else None

    def sql_span_name(self) -> str:
        """``SparkSession.sql`` belongs to the layer that called it."""
        for layer in ("plans", "workloads"):
            if self.inside(layer):
                return f"{layer}.sql"
        return "interpreter.sql"

    # -- patching ------------------------------------------------------

    def _wrap(self, fn: Callable, name: str | Callable[[], str]) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name() if callable(name) else name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner: Any, attr: str, name: str | Callable[[], str]) -> None:
        """Replace ``owner.attr`` (a module function or a plain method of
        a class or its bases) with a span-recording wrapper."""
        own = vars(owner).get(attr)
        self._patches.append((owner, attr, own))
        setattr(owner, attr, self._wrap(getattr(owner, attr), name))

    def count_py4j(self, client_cls: type) -> None:
        """Count gateway commands sent, by the layer of the op-level span."""
        original = client_cls.send_command
        tracer = self

        @functools.wraps(original)
        def send_command(client, *args, **kwargs):
            layer = tracer.root_layer()
            if layer is not None:
                tracer.py4j_calls[layer] += 1
            return original(client, *args, **kwargs)

        self._patches.append((client_cls, "send_command", vars(client_cls).get("send_command")))
        client_cls.send_command = send_command

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            if original is None:  # inherited: drop the override
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)

    @contextlib.contextmanager
    def installed(self, spark) -> Iterator["Tracer"]:
        """Wrap every traced entry point; restore them all on exit."""
        from arc_jupyter_spark import interpreter, render
        from arc_jupyter_spark.context import ArcContext

        df_cls = type(spark.range(0))
        try:
            self.patch(type(spark), "sql", self.sql_span_name)
            self.patch(interpreter, "render_text", "render.text")
            self.patch(interpreter, "render_html", "render.html")
            self.patch(render, "take_formatted", "render.take_formatted")
            self.patch(interpreter, "parse_pipeline", "plans.parse")
            self.patch(interpreter, "run_pipeline", "plans.run")
            self.patch(ArcContext, "register", "context.register")
            self.patch(ArcContext, "drop_view", "context.drop_view")
            for method in ("localCheckpoint", "checkpoint", "persist"):
                self.patch(df_cls, method, f"checkpoint.{method}")
            self.count_py4j(type(spark.sparkContext._gateway._gateway_client))
            yield self
        finally:
            self.unpatch()


class SparkCounters:
    """Reads jobs, stages and JVM state that appeared since the last read."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.jvm = spark._jvm
        self._no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        self.last_job = self._newest(self.store.jobsList(None), "jobId")
        self.last_stage = self._newest(self._stage_list(), "stageId")

    def _stage_list(self):
        return self.store.stageList(None, False, False, self._no_quantiles,
                                    self.jvm.java.util.ArrayList())

    @staticmethod
    def _newest(seq, key: str) -> int:
        return getattr(seq.apply(0), key)() if seq.size() else -1

    def gc_ms(self) -> int:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)

    def pinned(self) -> tuple[int, float]:
        """(persisted RDD count, MB they hold in memory and on disk)."""
        rdds = self.store.rddList(True)
        size = sum(rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed()
                   for i in range(rdds.size()))
        return self.sc._jsc.getPersistentRDDs().size(), size / MB

    def since_last(self) -> tuple[list[tuple[int, float]], dict[str, float]]:
        """New jobs as ``(job_id, submitted_epoch_ms)`` and the summed
        metrics of the stages that completed since the previous call."""
        self.bus.waitUntilEmpty()
        jobs = []
        seq = self.store.jobsList(None)
        for i in range(seq.size()):
            job = seq.apply(i)
            if job.jobId() <= self.last_job:
                break
            sub = job.submissionTime()
            jobs.append((job.jobId(), sub.get().getTime() if sub.isDefined() else 0.0))
        if jobs:
            self.last_job = jobs[0][0]
        totals = Counter()
        seq = self._stage_list()
        newest = self.last_stage
        for i in range(seq.size()):
            st = seq.apply(i)
            if st.stageId() <= self.last_stage:
                break
            newest = max(newest, st.stageId())
            if st.status().toString() != "COMPLETE":
                continue
            totals["stages"] += 1
            totals["tasks"] += st.numCompleteTasks()
            totals["task_run_s"] += st.executorRunTime() / 1000.0
            totals["task_cpu_s"] += st.executorCpuTime() / 1e9
            totals["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            totals["spill_mb"] += st.diskBytesSpilled() / MB
        self.last_stage = newest
        return jobs, dict(totals)


def self_seconds(spans: list[Span]) -> list[float]:
    """Each span's duration minus the time its direct children cover
    (children of one span run one after another, never overlapping)."""
    own = [sp.seconds for sp in spans]
    for sp in spans:
        if sp.parent is not None:
            own[sp.parent] -= sp.seconds
    return own


def innermost_span(spans: list[Span], wall_ms: float) -> Span | None:
    """The deepest span whose wall interval holds *wall_ms*."""
    best = None
    for sp in spans:
        if sp.wall_start_ms <= wall_ms <= sp.wall_end_ms:
            if best is None or sp.wall_start_ms >= best.wall_start_ms:
                best = sp
    return best


def check_nesting(spans: list[Span]) -> list[str]:
    """Spans that do not lie inside their parent or belong to another op."""
    bad = []
    for sp in spans:
        if sp.parent is None:
            continue
        parent = spans[sp.parent]
        if not (parent.start <= sp.start <= sp.end <= parent.end) or parent.op != sp.op:
            bad.append(sp.name)
    return bad
