"""Log capture + progress reporting (reference: SURVEY.md §2.E).

- :class:`LogBuffer` mirrors the in-memory log4j appender
  (InMemoryLoggerAppender.scala:6-24): a bounded buffer of structured
  log lines the frontend can append to cell output (``showLog``).
- :class:`ProgressReporter` mirrors ProgressSparkListener.scala:
  task-level progress, rate-limited updates (500 ms,
  ProgressSparkListener.scala:21). PySpark has no listener API without
  py4j callbacks (a server the sandbox may not allow), so progress is
  POLLED from ``SparkContext.statusTracker`` on a daemon thread — same
  data (numTasks / numCompletedTasks per active stage), no JVM
  callback channel needed.
"""

from __future__ import annotations

import json
import logging
import threading
import time
from collections import deque
from dataclasses import dataclass
from typing import Callable


class LogBuffer(logging.Handler):
    """Bounded in-memory structured log buffer."""

    def __init__(self, capacity: int = 1000) -> None:
        super().__init__()
        self.records: deque[str] = deque(maxlen=capacity)

    def emit(self, record: logging.LogRecord) -> None:
        try:
            payload = {
                "ts": self.format_time(record),
                "level": record.levelname,
                "logger": record.name,
                "message": record.getMessage(),
            }
            self.records.append(json.dumps(payload))
        except Exception:  # noqa: BLE001 - never raise from logging
            self.handleError(record)

    @staticmethod
    def format_time(record: logging.LogRecord) -> str:
        return time.strftime(
            "%Y-%m-%dT%H:%M:%SZ", time.gmtime(record.created)
        )

    def last_message(self) -> str | None:
        return self.records[-1] if self.records else None

    def clear(self) -> None:
        self.records.clear()


def attach_log_buffer(logger_name: str = "arc_jupyter_spark") -> LogBuffer:
    """The logger's :class:`LogBuffer`, attached on first use and shared
    by every later caller (one handler however many interpreters)."""
    logger = logging.getLogger(logger_name)
    logger.setLevel(logging.INFO)
    for handler in logger.handlers:
        if isinstance(handler, LogBuffer):
            return handler
    buffer = LogBuffer()
    logger.addHandler(buffer)
    return buffer


@dataclass
class Progress:
    """Snapshot of task progress across active+completed stages."""

    num_tasks: int
    completed: int
    active: int
    failed: bool = False

    @property
    def fraction(self) -> float:
        return self.completed / self.num_tasks if self.num_tasks else 0.0

    def bar(self, width: int = 40) -> str:
        done = int(self.fraction * width)
        running = min(self.active * 1, width - done)
        return (
            "[" + "#" * done + ">" * running
            + " " * (width - done - running)
            + f"] {self.completed}/{self.num_tasks}"
        )


class ProgressReporter:
    """Polls the status tracker while a cell runs.

    Use as a context manager around an action; ``on_update`` receives
    rate-limited :class:`Progress` snapshots (default every 500 ms,
    matching the reference's update throttle).
    """

    def __init__(
        self,
        spark,
        on_update: Callable[[Progress], None],
        interval_ms: int = 500,
    ) -> None:
        self.spark = spark
        self.on_update = on_update
        self.interval_ms = interval_ms
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def snapshot(self) -> Progress:
        tracker = self.spark.sparkContext.statusTracker()
        num_tasks = completed = active = 0
        for stage_id in tracker.getActiveStageIds():
            info = tracker.getStageInfo(stage_id)
            if info is None:
                continue
            num_tasks += info.numTasks
            completed += info.numCompletedTasks
            active += info.numActiveTasks
        return Progress(num_tasks=num_tasks, completed=completed, active=active)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_ms / 1000.0):
            try:
                self.on_update(self.snapshot())
            except Exception:  # noqa: BLE001 - reporter must never break the job
                return

    def __enter__(self) -> "ProgressReporter":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=2.0)
        final = self.snapshot()
        final.failed = exc_type is not None
        try:
            self.on_update(final)
        except Exception:  # noqa: BLE001
            pass
