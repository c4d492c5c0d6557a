"""Benchmark of the notebook kernel's two walls: a cell becoming a rendered
table, and a registered query becoming rows.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload {notebook,query_mix} --seed N \
        --seconds S --trace {0,1}

Each run is one fresh process with its own Spark local, checkpoint and
warehouse directories under ``perfbench/_work/``, removed at exit. The
fixture tables are generated once into ``perfbench/_work/data``. One client
runs ops in a closed loop, whole rounds at a time, until ``--seconds`` have
passed and the workload's minimum number of rounds has run. The last stdout line
is the result object; the line before it gives the host context.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` traces every
other op of each round and reports the per-layer metrics (see
``perfbench/README.md``).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import logging  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from collections import Counter, defaultdict  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import ops as wl  # noqa: E402
from tracing import (  # noqa: E402
    LAYERS, SparkCounters, Tracer, check_nesting, innermost_span, self_seconds,
)

#: Spark cores, fixed so the host's or the caller's settings cannot move it
CORES = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "3g"
#: timed rounds per run, at least; a round runs every op of the workload
#: once (20 notebook cells, 7 queries), so each run times the same ops
MIN_ROUNDS = {"notebook": 2, "query_mix": 3}


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the host so far, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def host_cpu_ref(n: int = 2_000_000) -> float:
    """Best-of-3 wall of a fixed single-core integer loop (no Spark)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        s = 0
        for i in range(n):
            s += i * i
        best = min(best, time.perf_counter() - t0)
    return best


def isolate(run_dir: str) -> dict[str, str]:
    """Point every scratch location of Spark and Python into *run_dir* and
    pin the knobs ``build_session`` reads from the environment."""
    dirs = {k: os.path.join(run_dir, k) for k in ("local", "checkpoint", "warehouse", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    for key in list(os.environ):
        if key.startswith("conf_spark_") or key in (
                "PYSPARK_SUBMIT_ARGS", "CONF_MASTER", "SPARK_GRAFT_CHECKPOINT_MODE"):
            del os.environ[key]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_GRAFT_CHECKPOINT_DIR": dirs["checkpoint"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
    })
    import tempfile

    tempfile.tempdir = dirs["tmp"]
    return dirs


def remove_stale_runs() -> None:
    """Remove run directories whose process is gone (a killed run)."""
    for name in os.listdir(WORK) if os.path.isdir(WORK) else []:
        if not name.startswith("run-"):
            continue
        try:
            os.kill(int(name[4:]), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
        except (ValueError, PermissionError):
            pass


def start_spark(dirs: dict[str, str]):
    from arc_jupyter_spark.session import build_session

    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['tmp']}"
    return build_session(
        master=f"local[{CORES}]",
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": dirs["local"],
            "spark.sql.warehouse.dir": dirs["warehouse"],
            "spark.driver.extraJavaOptions": java_opts,
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


@dataclass
class Result:
    """One timed op: latency, outcome, and (traced ops) its counters."""

    op: wl.Op
    seconds: float
    ok: bool
    traced: bool = False
    record: dict = field(default_factory=dict)


class Workload:
    """Set-up, one op, and the checks shared by both workloads."""

    def __init__(self, spark, sf_dir: str, seed: int, tracer: Tracer | None) -> None:
        self.spark, self.sf_dir, self.tracer = spark, sf_dir, tracer
        self.rng = random.Random(seed)
        self.reference: dict[str, str] = {}
        self.problems: list[str] = []
        self.oracle_s = 0.0  # benchmark's own checks inside the set-up window

    def span(self, name: str):
        """An op-level span while the tracer is installed, else nothing."""
        if self.tracer is not None and self.tracer.active:
            return self.tracer.span(name)
        return contextlib.nullcontext()


class QueryMix(Workload):
    def __init__(self, *a) -> None:
        super().__init__(*a)
        from arc_jupyter_spark.workloads import queries

        self.fns = queries()
        self.ops = wl.query_ops()

    def round(self) -> list[wl.Op]:
        order = list(self.ops)
        self.rng.shuffle(order)
        return order

    def setup(self) -> None:
        """Warm every query at the target scale; check it against its
        DuckDB oracle once; keep its digest as the reference."""
        con = None
        for op in self.round():
            df = self.fns[op.key](self.spark, self.sf_dir)
            rows = [tuple(r) for r in df.collect()]
            t0 = time.perf_counter()
            self.reference[op.key] = wl.rows_digest(rows, df.columns)
            if op.oracle is not None:
                con = con or wl.duckdb_connection(self.sf_dir)
                try:
                    duck, cols = wl.duckdb_rows(con, op.oracle)
                    diff = wl.compare(rows, df.columns, duck, cols)
                except Exception as exc:  # noqa: BLE001 - reported, not fatal
                    diff = f"duckdb error: {exc}"
                if diff:
                    self.problems.append(f"{op.key} fails its oracle: {diff}")
            self.oracle_s += time.perf_counter() - t0
        if con is not None:
            con.close()

    def run(self, op: wl.Op) -> tuple[float, bool]:
        t0 = time.perf_counter()
        with self.span("workloads.build"):
            df = self.fns[op.key](self.spark, self.sf_dir)
        with self.span("operators.collect"):
            rows = df.collect()
        seconds = time.perf_counter() - t0
        ok = wl.rows_digest([tuple(r) for r in rows], df.columns) == self.reference[op.key]
        if not ok:
            self.problems.append(f"{op.key}: result differs from the verified set-up result")
        return seconds, ok


class Notebook(Workload):
    def __init__(self, spark, sf_dir, seed, tracer) -> None:
        super().__init__(spark, sf_dir, seed, tracer)
        from arc_jupyter_spark.interpreter import Interpreter
        from arc_jupyter_spark.workloads.base import load_views

        load_views(spark, sf_dir)
        self.interp = Interpreter(spark=spark, html=True)
        self.env, self.groups = wl.notebook_deck(seed)

    def round(self) -> list[wl.Op]:
        return wl.round_order(self.groups, self.rng)

    def execute(self, op: wl.Op):
        """(result, None) or (None, the exception) for one cell."""
        try:
            return self.interp.execute(op.key), None
        except Exception as exc:  # noqa: BLE001 - a cell's error is its output
            return None, exc

    @staticmethod
    def expected(op: wl.Op, exc: Exception | None) -> bool:
        return op.expect_error == (exc is not None) and (
            exc is None or type(exc).__name__ == "AnalysisException")

    def setup(self) -> None:
        """Run every cell once (the ``%env`` cell first); check each
        ``%sql`` cell's rows against DuckDB; keep each rendered output as
        the reference."""
        con = None
        for op in [self.env] + self.round():
            res, exc = self.execute(op)
            t0 = time.perf_counter()
            if not self.expected(op, exc):
                self.problems.append(f"set-up cell failed: {op.key!r}: {exc!r}")
            elif res is not None:
                self.reference[op.key] = wl.cell_digest(op, res.text, res.html)
                if op.oracle is not None:
                    con = con or wl.duckdb_connection(self.sf_dir)
                    rows = [tuple(r) for r in res.df.collect()]
                    try:
                        duck, cols = wl.duckdb_rows(con, op.oracle)
                        diff = wl.compare(rows, res.df.columns, duck, cols)
                    except Exception as exc:  # noqa: BLE001 - reported, not fatal
                        diff = f"duckdb error: {exc}"
                    if diff:
                        self.problems.append(f"cell disagrees with DuckDB: {op.key!r}: {diff}")
                    if op.view:
                        con.execute(f"CREATE OR REPLACE VIEW {op.view} AS {op.oracle}")
            self.oracle_s += time.perf_counter() - t0
        if con is not None:
            con.close()

    def run(self, op: wl.Op) -> tuple[float, bool]:
        t0 = time.perf_counter()
        with self.span("interpreter.execute"):
            res, exc = self.execute(op)
        seconds = time.perf_counter() - t0
        ok = self.expected(op, exc) and (
            res is None or wl.cell_digest(op, res.text, res.html) == self.reference.get(op.key))
        if not ok:
            self.problems.append(f"cell failed or changed output: {op.key!r}: {exc!r}")
        return seconds, ok


WORKLOADS = {"notebook": Notebook, "query_mix": QueryMix}


def timed_rounds(work: Workload, seconds: float, min_rounds: int,
                 counters: SparkCounters | None) -> tuple[list[Result], int]:
    """Closed loop, whole rounds, until *seconds* have passed and at
    least *min_rounds* ran. Returns every timed op and the round count.
    With *counters* (a traced run) every other op of a round is traced,
    and the others in the next round, so traced and untraced ops share
    the same stretch of the run."""
    results: list[Result] = []
    position: dict[str, int] = {}
    rounds = 0
    t_begin = time.perf_counter()
    while rounds < min_rounds or time.perf_counter() - t_begin < seconds:
        for op in work.round():
            index = position.setdefault(op.key, len(position))
            if counters is None or (index + rounds) % 2 == 0:
                results.append(Result(op, *work.run(op)))
                continue
            counters.since_last()  # drop what untraced ops left behind
            gc0 = counters.gc_ms()
            work.tracer.op += 1
            first_span = len(work.tracer.spans)
            with work.tracer.installed(work.spark):
                res = Result(op, *work.run(op), traced=True)
            res.record = op_record(work, counters, first_span, gc0)
            results.append(res)
        rounds += 1
    return results, rounds


def op_record(work: Workload, counters: SparkCounters, first_span: int, gc0: int) -> dict:
    """Counters of the traced op that just ended, read outside its spans."""
    spans = work.tracer.spans
    jobs, totals = counters.since_last()
    in_span = Counter()
    for _job, submitted in jobs:
        inner = innermost_span(spans[first_span:], submitted)
        names = set()
        while inner is not None:  # the job counts for the span and its ancestors
            names.add(inner.name)
            inner = spans[inner.parent] if inner.parent is not None else None
        in_span.update(names)
        in_span["render.*"] += any(n.startswith("render.") for n in names)
    pinned_rdds, pinned_mb = counters.pinned()
    return {
        "jobs": len(jobs), "jobs_in": in_span, "totals": totals,
        "gc_ms": counters.gc_ms() - gc0, "pinned_rdds": pinned_rdds,
        "pinned_mb": pinned_mb, "views": len(work.spark.catalog.listTables()),
    }


def throughput(results: list[Result], traced: bool) -> float:
    """Completed ops per second: the share of ops that succeeded over the
    mean, across ops, of each op's median latency over the rounds. Time
    the benchmark spends between ops (checks, counter reads) is left out."""
    done = [r for r in results if r.traced == traced]
    latencies = defaultdict(list)
    for r in done:
        latencies[r.op.key].append(r.seconds)
    typical = statistics.fmean(statistics.median(v) for v in latencies.values())
    return sum(r.ok for r in done) / len(done) / typical


def end_to_end(results: list[Result], setup_s: float) -> dict[str, tuple[float, str]]:
    lat_ms = [r.seconds * 1000 if r.ok else float("inf")
              for r in results]
    return {
        "ops_per_s": (throughput(results, False), "ops/s"),
        "p50_ms": (statistics.median(lat_ms), "ms"),
        "setup_s": (setup_s, "s"),
    }


def per_layer(results: list[Result], tracer: Tracer, build_s: float,
              warmup_s: float) -> dict[str, tuple[float, str]]:
    traced = [r for r in results if r.traced]
    spans = tracer.spans
    own = self_seconds(spans)
    n = len(traced)
    n_cells = sum(1 for sp in spans if sp.name == "interpreter.execute")
    n_rendered = sum(1 for sp in spans if sp.name == "render.text")
    n_queries = sum(1 for sp in spans if sp.name == "workloads.build")
    n_pipes = sum(1 for sp in spans if sp.name == "plans.run")

    def total(name: str, values=None) -> float:
        vals = own if values == "self" else [sp.seconds for sp in spans]
        return sum(v for sp, v in zip(spans, vals) if sp.name == name)

    def per(x: float, d: int) -> float:
        return x / d if d else 0.0

    def jobs_in(name: str) -> int:
        return sum(r.record["jobs_in"][name] for r in traced)

    def summed(key: str) -> float:
        return sum(r.record["totals"].get(key, 0.0) for r in traced)

    wall = sum(r.seconds for r in traced)
    out = {
        "session.build_s": (build_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "interpreter.self_ms_per_cell": (per(1000 * total("interpreter.execute", "self"), n_cells), "ms"),
        "interpreter.sql_ms_per_cell": (per(1000 * total("interpreter.sql"), n_cells), "ms"),
        "render.calls_per_cell": (per(sum(1 for sp in spans if sp.name == "render.take_formatted"), n_rendered), "count"),
        "render.ms_per_cell": (per(1000 * (total("render.text") + total("render.html")), n_rendered), "ms"),
        "render.jobs_per_cell": (per(jobs_in("render.*"), n_rendered), "count"),
        "plans.parse_ms_per_pipeline": (per(1000 * total("plans.parse"), n_pipes), "ms"),
        "plans.run_ms_per_pipeline": (per(1000 * total("plans.run"), n_pipes), "ms"),
        "plans.jobs_per_pipeline": (per(jobs_in("plans.run"), n_pipes), "count"),
        "context.views_max": (max(r.record["views"] for r in traced), "count"),
        "context.log_handlers_end": (len(logging.getLogger("arc_jupyter_spark").handlers), "count"),
        "workloads.build_s_per_query": (per(total("workloads.build"), n_queries), "s"),
        "workloads.build_jobs_per_query": (per(jobs_in("workloads.build"), n_queries), "count"),
        "workloads.py4j_calls_per_query": (per(tracer.py4j_calls["workloads"], n_queries), "count"),
        "operators.exec_s_per_op": (per(total("operators.collect"), n), "s"),
        "operators.task_run_s_per_op": (per(summed("task_run_s"), n), "s"),
        "operators.task_cpu_s_per_op": (per(summed("task_cpu_s"), n), "s"),
        "operators.shuffle_write_mb_per_op": (per(summed("shuffle_write_mb"), n), "MB"),
        "operators.spill_mb_per_op": (per(summed("spill_mb"), n), "MB"),
        "operators.jobs_per_op": (per(sum(r.record["jobs"] for r in traced), n), "count"),
        "operators.stages_per_op": (per(summed("stages"), n), "count"),
        "operators.tasks_per_op": (per(summed("tasks"), n), "count"),
        "operators.idle_share": (1 - per(summed("task_run_s"), wall * CORES), "ratio"),
        "checkpoint.calls_per_op": (per(sum(1 for sp in spans if sp.layer == "checkpoint"), n), "count"),
        "checkpoint.pinned_rdds_after_op": (per(sum(r.record["pinned_rdds"] for r in traced), n), "count"),
        "checkpoint.pinned_mb_end": (traced[-1].record["pinned_mb"], "MB"),
        "jvm.gc_ms_per_op": (per(sum(r.record["gc_ms"] for r in traced), n), "ms"),
        "trace.overhead_share": (1 - throughput(results, True) / throughput(results, False), "ratio"),
    }
    for layer in LAYERS:
        layer_self = sum(v for sp, v in zip(spans, own) if sp.layer == layer)
        out[f"self_ms_per_op.{layer}"] = (per(1000 * layer_self, n), "ms")
    return out


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", choices=sorted(datagen.SIZES),
                   help="override the workload's scale factor (tests use 0.001)")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "arc_jupyter_spark")):
        print(f"perfbench: no arc_jupyter_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops its JVM and removes its directories
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    remove_stale_runs()
    load_start = os.getloadavg()[0]
    steal_start = cpu_times()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = isolate(run_dir)
    spark = None
    try:
        t0 = time.perf_counter()
        sf_dir = datagen.ensure(os.path.join(WORK, "data"), args.sf or wl.SCALE[args.workload])
        excluded = time.perf_counter() - t0  # fixture generation is not set-up

        t0 = time.perf_counter()
        spark = start_spark(dirs)
        build_s = time.perf_counter() - t0
        tracer = Tracer() if args.trace else None
        t0 = time.perf_counter()
        work = WORKLOADS[args.workload](spark, sf_dir, args.seed, tracer)
        work.setup()
        warmup_s = time.perf_counter() - t0 - work.oracle_s
        setup_s = time.perf_counter() - T_START - excluded - work.oracle_s
        counters = SparkCounters(spark) if args.trace else None

        results, rounds = timed_rounds(
            work, args.seconds, 2 if args.trace else MIN_ROUNDS[args.workload], counters)
        if args.trace:
            metrics = per_layer(results, tracer, build_s, warmup_s)
            work.problems += [f"span outside its parent: {n}" for n in check_nesting(tracer.spans)]
        else:
            metrics = end_to_end(results, setup_s)
        steal_end = cpu_times()
        host = {
            "nproc": os.cpu_count(), "spark_cores": CORES,
            "loadavg_1m_start": load_start, "loadavg_1m_end": os.getloadavg()[0],
            # share of CPU time the hypervisor gave to other guests
            "steal_share": (steal_end[0] - steal_start[0]) / max(1, steal_end[1] - steal_start[1]),
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "sf": args.sf or wl.SCALE[args.workload], "rounds": rounds,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    host["cpu_ref_s"] = host_cpu_ref()  # with the JVM gone

    for problem in work.problems:
        print(f"perfbench: {problem}", file=sys.stderr)
    attempted = len(results)
    failed = sum(not r.ok for r in results)
    print(json.dumps({"host": host}))
    print(json.dumps({
        "correct": not work.problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
