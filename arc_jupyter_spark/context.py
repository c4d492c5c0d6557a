"""Session context: the engine's state beside the Spark catalog.

The reference keeps, per kernel session (reference:
ArcInterpreter.scala:93-104, 298-306, 500-518): substitution env vars,
masked secrets, display/session conf, and a user-data map that survives
across cells. Views live in the Spark catalog itself — the catalog IS
the symbol table (ArcInterpreter.scala:476-487).
"""

from __future__ import annotations

import contextlib
from dataclasses import dataclass, field
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

# The 9 storage levels the reference exposes via CONF_STORAGE_LEVEL
# (reference: ArcInterpreter.scala:339-350); default MEMORY_AND_DISK_SER.
# PySpark has no *_SER variants (python objects are always serialized),
# so the _SER names alias the plain levels.
STORAGE_LEVELS: dict[str, StorageLevel] = {
    "DISK_ONLY": StorageLevel.DISK_ONLY,
    "DISK_ONLY_2": StorageLevel.DISK_ONLY_2,
    "MEMORY_AND_DISK": StorageLevel.MEMORY_AND_DISK,
    "MEMORY_AND_DISK_2": StorageLevel.MEMORY_AND_DISK_2,
    "MEMORY_AND_DISK_SER": StorageLevel.MEMORY_AND_DISK,
    "MEMORY_AND_DISK_SER_2": StorageLevel.MEMORY_AND_DISK_2,
    "MEMORY_ONLY": StorageLevel.MEMORY_ONLY,
    "MEMORY_ONLY_2": StorageLevel.MEMORY_ONLY_2,
    "NONE": StorageLevel.NONE,
}

DEFAULT_STORAGE_LEVEL = "MEMORY_AND_DISK_SER"

# Placeholder view name injected when a result-producing stage has no
# outputView (reference: ArcInterpreter.scala:59, 246-254); dropped when
# the cell succeeds (ArcInterpreter.scala:600).
PLACEHOLDER_VIEW = "__arc_placeholder__"


@dataclass
class DisplayConf:
    """Per-session display/session settings (reference:
    ArcInterpreter.scala:77-93, 519-559)."""

    master: str = "local[*]"
    num_rows: int = 20
    max_num_rows: int = 2**31 - 1
    truncate: int = 50
    streaming: bool = False
    streaming_duration: int = 10          # seconds (ArcInterpreter.scala:81)
    streaming_frequency_ms: int = 1000    # poll period (ArcInterpreter.scala:82)
    monospace: bool = False
    left_align: bool = False
    dataset_labels: bool = False
    show_log: bool = False
    extended_errors: bool = False
    storage_level: str = DEFAULT_STORAGE_LEVEL


@dataclass
class ArcContext:
    """Everything a pipeline stage needs to execute."""

    spark: SparkSession
    env: dict[str, str] = field(default_factory=dict)       # ${var} substitutions
    secrets: dict[str, str] = field(default_factory=dict)   # masked on echo
    conf: DisplayConf = field(default_factory=DisplayConf)
    user_data: dict[str, Any] = field(default_factory=dict)
    immutable_views: bool = False
    #: Arc deployment environment; stages with a non-empty
    #: ``environments`` list run only when this matches
    environment: str | None = None
    #: views the open cell wrote: name -> the DataFrame it replaced, or
    #: None; None outside a cell
    _written: dict[str, DataFrame | None] | None = field(default=None, init=False, repr=False)

    # -- view registry (thin veneer over the Spark catalog) ------------

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def register(
        self,
        df: DataFrame,
        name: str,
        persist: bool = False,
        storage_level: str | None = None,
    ) -> DataFrame:
        """Publish a DataFrame as a named view; optionally pin it.

        Streaming DataFrames cannot be persisted — persist is ignored
        for them (matches Spark semantics the reference inherits).
        Inside :meth:`cell`, the first write of each name records the
        view it replaces.
        """
        if self.immutable_views and name in self.view_names():
            raise ValueError(f"view '{name}' already exists and views are immutable")
        if persist and not df.isStreaming:
            level = STORAGE_LEVELS[(storage_level or self.conf.storage_level).upper()]
            df = df.persist(level)
        if self._written is not None and name not in self._written:
            self._written[name] = self._temp_view(name)
        df.createOrReplaceTempView(name)
        self.user_data["lastView"] = name
        return df

    def drop_view(self, name: str) -> None:
        self.spark.catalog.dropTempView(name)

    def view_names(self) -> list[str]:
        return [t.name for t in self.spark.catalog.listTables()]

    def _temp_view(self, name: str) -> DataFrame | None:
        """The temp view registered as *name* now, or None. The
        DataFrame is analyzed here, so it keeps this plan after *name*
        is replaced."""
        if self.spark._jsparkSession.sessionState().catalog().getTempView(name).isEmpty():
            return None
        return self.spark.table(name)

    def _put_back(self, name: str, old: DataFrame | None) -> None:
        if old is None:
            self.drop_view(name)
        else:
            old.createOrReplaceTempView(name)

    @contextlib.contextmanager
    def cell(self, keep_placeholder: bool = False) -> Iterator[None]:
        """The boundary of one notebook cell, which owns its catalog
        writes. If the cell fails, every view it wrote goes back to
        what it was before the cell. If it succeeds, the placeholder
        view goes (unless *keep_placeholder*: a streaming ``%sql``
        keeps it), and a persisted view the cell replaced with a
        different plan is unpersisted; an equal plan keeps its cache.
        """
        outer, self._written = self._written, {}
        try:
            yield
        except BaseException:
            for name, old in reversed(self._written.items()):
                self._put_back(name, old)
            raise
        else:
            for name, old in self._written.items():
                if name == PLACEHOLDER_VIEW and not keep_placeholder:
                    self.drop_view(name)
                elif (old is not None and old.storageLevel != StorageLevel.NONE
                      and not old.sameSemantics(self.table(name))):
                    old.unpersist()
        finally:
            self._written = outer

    @contextlib.contextmanager
    def metadata_view(self, meta: DataFrame) -> Iterator[None]:
        """Register *meta* (a ``metadata_dataframe``) as the
        ``metadata`` view that metadata SQL reads; on exit put back
        the view that had the name before, if any."""
        old = self._temp_view("metadata")
        meta.createOrReplaceTempView("metadata")
        try:
            yield
        finally:
            self._put_back("metadata", old)

    # -- streaming query lifecycle ------------------------------------

    def track_stream(self, query) -> None:
        """Track a StreamingQuery handle, stopping any previously
        tracked query with the same name first (repeated notebook
        cells would otherwise leak running queries and, for memory
        sinks, driver-held rows)."""
        queries = self.user_data.setdefault("streaming_queries", [])
        for old in list(queries):
            if old.name is not None and old.name == query.name and old.id != query.id:
                try:
                    old.stop()
                except Exception:  # noqa: BLE001 - best-effort teardown
                    pass
                queries.remove(old)
        queries.append(query)

    def stop_streams(self) -> int:
        """Stop every tracked StreamingQuery; return how many stopped."""
        queries = self.user_data.pop("streaming_queries", [])
        n = 0
        for q in queries:
            try:
                if q.isActive:
                    q.stop()
                    n += 1
            except Exception:  # noqa: BLE001 - best-effort teardown
                pass
        return n

    # -- substitution variables ---------------------------------------

    def merged_params(self, extra: dict[str, str] | None = None) -> dict[str, str]:
        out: dict[str, str] = {}
        out.update(self.env)
        out.update(self.secrets)
        if extra:
            out.update(extra)
        return out
