"""Workload registry plumbing + shared table loading."""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a workload query (and optionally its DuckDB oracle)."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

#: session confs that steer parquet schema inference: part of every
#: schema-cache and view-registry key
_INFER_CONFS = (
    _NANOS_AS_LONG,
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
)

#: absolute path -> (read key, inferred schema); one entry per path, a
#: changed key replaces it
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _file_identity(path: str) -> tuple:
    """(inode, size, mtime_ns) of a file, or that of every leaf file under
    a directory. A rewrite or an added part file changes it; raises
    ``OSError`` if ``path`` is missing."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (st.st_ino, st.st_size, st.st_mtime_ns)
    leaves = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(root, name)
            st = os.stat(full)
            leaves.append((full, st.st_ino, st.st_size, st.st_mtime_ns))
    return tuple(leaves)


def _infer_confs(spark: SparkSession) -> tuple:
    return tuple(spark.conf.get(k) for k in _INFER_CONFS)


def _read_key(path: str, confs: tuple):
    """What a parquet read of ``path`` infers from: the absolute path, its
    file identity and the inference confs. ``None`` for a path the local
    filesystem does not have (missing, or remote ``scheme://``), which is
    never cached."""
    try:
        return os.path.abspath(path), _file_identity(path), confs
    except OSError:
        return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the footer-inference job on a
    repeat read: a local path's inferred schema is cached under
    :func:`_read_key` and handed back through ``spark.read.schema``
    (same relation, same plan). Remote and missing paths read plainly."""
    key = _read_key(path, _infer_confs(spark))
    if key is None:
        return spark.read.parquet(path)
    hit = _SCHEMAS.get(key[0])
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key[0]] = (key, df.schema)
    return df


def _pin_event_confs(spark: SparkSession) -> None:
    spark.conf.set(_NANOS_AS_LONG, "true")
    # the ntz→ltz cast of both event readers and epoch arithmetic
    # (unix_micros) are the one session-timezone-sensitive spot in the
    # workloads; DuckDB treats naive timestamps as UTC, so pin the
    # session to match on whatever session the driver brings
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events fixture with ``ts`` normalized to TimestampType.

    The fixture generator has shipped ``ts`` as parquet TIMESTAMP(NANOS)
    (which Spark's vectorized reader only accepts as raw int64 via
    ``nanosAsLong``) and as TIMESTAMP(MICROS) (read natively as
    TIMESTAMP_NTZ). Both normalize to a microsecond TimestampType column
    with identical values — a pure projection, pushdown-safe.
    """
    _pin_event_confs(spark)
    return _normalize_ts(read_parquet(spark, f"{sf_dir}/events.parquet"))


def _normalize_ts(df: DataFrame) -> DataFrame:
    """``ts`` of an events read (batch or stream) as a microsecond
    TimestampType column."""
    ts_type = df.schema["ts"].dataType.typeName()
    if ts_type == "long":  # int64 nanos under nanosAsLong
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type != "timestamp":  # timestamp_ntz → session-tz timestamp
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_table_stream(
    spark: SparkSession, sf_dir: str, table: str, schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream read of ONE fixture table, robust to both layouts.

    The file-stream source requires a DIRECTORY path. The driver's
    testdata ships each table as a single file
    ``<sf_dir>/<table>.parquet``, which must be selected out of
    ``sf_dir`` with a pathGlobFilter; the generated ``.scaledata``
    fixtures ship tables as Spark-written DIRECTORIES of part files,
    where that same filter silently matches nothing (pathGlobFilter
    applies to leaf FILE names — ``part-*.parquet`` — so the stream
    read 0 rows; caught by the round-7 sf10 probe). Branch on the
    actual layout.

    ``max_files_per_trigger`` bounds each micro-batch to that many
    files (``Trigger.AvailableNow`` honors it, splitting a drain into
    multiple batches) — on a directory-shaped table this is how a
    bounded fixture exercises CROSS-batch stateful semantics instead
    of collapsing to one batch (VERDICT r7 item 4)."""
    path = f"{sf_dir}/{table}.parquet"
    if schema is None:
        schema = read_parquet(spark, path).schema
    rs = spark.readStream.schema(schema)
    if max_files_per_trigger:
        rs = rs.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isdir(path):
        return rs.parquet(path)
    return rs.option("pathGlobFilter", f"{table}.parquet").parquet(sf_dir)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream read of the events fixture, ``ts`` normalized to
    TimestampType (same nanos/micros tolerance as :func:`read_events`)."""
    _pin_event_confs(spark)
    schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    return _normalize_ts(read_table_stream(spark, sf_dir, "events", schema))


def load_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register the parquet fixtures as temp views, once per session.

    The session keeps a registry ``name -> (read key, catalog relation)``
    (on the ``SparkSession`` object, like ``_arc_udfs_registered``). A view
    is re-read and re-registered only when its :func:`_read_key` changed
    (file rewritten, part file added, inference conf flipped) or its
    catalog entry is no longer the relation registered here (replaced or
    dropped by the user). The conf pins apply on every call, hit or not."""
    names = names or TABLES
    # every fixture is read under nanosAsLong (no other fixture has a
    # TIMESTAMP(NANOS) column to change), so no view's key depends on
    # whether an events read came first; UTC is pinned only with events
    if "events" in names:
        _pin_event_confs(spark)
    else:
        spark.conf.set(_NANOS_AS_LONG, "true")
    confs = _infer_confs(spark)
    registry = getattr(spark, "_arc_views", None)
    if registry is None:
        registry = spark._arc_views = {}
    catalog = spark._jsparkSession.sessionState().catalog()
    for name in names:
        path = f"{sf_dir}/{name}.parquet"
        key = _read_key(path, confs)
        held = registry.get(name)
        if key is not None and held is not None and held[0] == key \
                and catalog.getTempView(name).equals(held[1]):
            continue
        df = read_events(spark, sf_dir) if name == "events" else read_parquet(spark, path)
        df.createOrReplaceTempView(name)
        registry[name] = (key, catalog.getTempView(name))
