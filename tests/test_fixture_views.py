"""Fixture views are registered once per session (``workloads.base``).

``load_views`` keeps a per-session registry and ``read_parquet`` a schema
cache keyed by file identity and the inference confs. A repeat build of a
registered query must fire no schema-inference job, and every change that
can alter what a view reads (a rewritten file, a new part file, a user's
replacement view, a flipped inference conf, a new session) must be picked
up.
"""

from __future__ import annotations

import re
import shutil
import uuid

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from arc_jupyter_spark.workloads import base
from arc_jupyter_spark.workloads.base import TABLES, load_views, read_parquet
from tests.conftest import SF_DIR

#: Spark jobs a repeat build (after a warm call) may fire. These only go
#: down: s01's one job is its query-vector ``first()``.
BUILD_JOB_CEILINGS = {
    "q01_pricing_summary": 0,
    "q03_topk_join": 0,
    "q09_window_topn": 0,
    "q29_range_join": 0,
    "d01_exact_dedup": 0,
    "t01_quality_score": 0,
    "s01_cosine_topk": 1,
}

NANOS = "spark.sql.legacy.parquet.nanosAsLong"
NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _count_jobs(spark, fn) -> int:
    """Spark jobs *fn* fires, read from the status tracker."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _entries_under(root) -> list[str]:
    return [p for p in base._SCHEMAS if p.startswith(str(root))]


def _name() -> str:
    return f"fv_{uuid.uuid4().hex[:8]}"


@pytest.fixture()
def arc_session(spark):
    """``build_session()`` over the shared test session; the runtime confs
    it sets are undone afterwards."""
    from arc_jupyter_spark.session import build_session

    before = spark.conf.getAll
    session = build_session()
    yield session
    # build_session copies every non-static option (core keys too) into
    # the session's SQLConf, so undo it there
    conf = session._jsparkSession.sessionState().conf()
    for key, value in session.conf.getAll.items():
        if key not in before:
            conf.unsetConf(key)
        elif before[key] != value:
            conf.setConfString(key, before[key])


def test_repeat_build_fires_no_inference_job(arc_session):
    from arc_jupyter_spark.workloads import queries

    qs = queries()
    fired = {}
    for name in BUILD_JOB_CEILINGS:
        qs[name](arc_session, SF_DIR)  # warm: registers the views
        fired[name] = _count_jobs(arc_session, lambda: qs[name](arc_session, SF_DIR))
    over = {n: j for n, j in fired.items() if j > BUILD_JOB_CEILINGS[n]}
    assert not over, f"build jobs over their ceilings {BUILD_JOB_CEILINGS}: {fired}"


def test_cached_schema_read_matches_inferred_read(spark):
    def shape(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return df.schema, re.sub(r"#\d+L?", "#", plan)

    old = spark.conf.get(NANOS)
    spark.conf.set(NANOS, "true")  # as read_events reads events
    try:
        for table in TABLES:
            path = f"{SF_DIR}/{table}.parquet"
            read_parquet(spark, path)
            cached = []
            assert _count_jobs(spark, lambda: cached.append(read_parquet(spark, path))) == 0
            assert shape(cached[0]) == shape(spark.read.parquet(path)), table
    finally:
        spark.conf.set(NANOS, old)


def test_rewritten_file_is_reread(spark, tmp_path):
    name = _name()
    path = tmp_path / f"{name}.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    load_views(spark, str(tmp_path), name)
    relation = spark._arc_views[name][1]
    assert _count_jobs(spark, lambda: load_views(spark, str(tmp_path), name)) == 0
    assert spark._arc_views[name][1] is relation

    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    load_views(spark, str(tmp_path), name)
    assert spark.table(name).columns == ["a", "b"]
    assert sorted(spark.table(name).collect()) == [(1, "x"), (2, "y"), (3, "z")]
    assert _entries_under(tmp_path) == [str(path)]


def test_directory_table_picks_up_new_part_file(spark, tmp_path):
    name = _name()
    table = tmp_path / f"{name}.parquet"
    table.mkdir()
    pq.write_table(pa.table({"k": [1, 2, 3]}), table / "part-00000.parquet")
    load_views(spark, str(tmp_path), name)
    assert spark.table(name).count() == 3

    pq.write_table(pa.table({"k": [4, 5]}), table / "part-00001.parquet")
    load_views(spark, str(tmp_path), name)
    assert spark.table(name).count() == 5
    assert _entries_under(tmp_path) == [str(table)]


def test_user_replaced_or_dropped_view_is_registered_again(spark, tmp_path):
    name = _name()
    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / f"{name}.parquet")
    load_views(spark, str(tmp_path), name)

    spark.range(7).createOrReplaceTempView(name)
    load_views(spark, str(tmp_path), name)
    assert spark.table(name).columns == ["a"]
    assert spark.table(name).count() == 3

    spark.catalog.dropTempView(name)
    load_views(spark, str(tmp_path), name)
    assert spark.table(name).count() == 3


def test_inference_conf_flip_reinfers_events(spark, tmp_path):
    shutil.copy(f"{SF_DIR}/events.parquet", tmp_path / "events.parquet")
    path = str(tmp_path / "events.parquet")
    old = {k: spark.conf.get(k) for k in (NANOS, NTZ)}
    try:
        load_views(spark, str(tmp_path), "events")
        assert _count_jobs(spark, lambda: read_parquet(spark, path)) == 0

        spark.conf.set(NANOS, "false")
        assert _count_jobs(spark, lambda: read_parquet(spark, path)) > 0
        assert _entries_under(tmp_path) == [path]
        # load_views pins nanosAsLong again, under which the view was read
        assert _count_jobs(spark, lambda: load_views(spark, str(tmp_path), "events")) == 0
        assert spark.conf.get(NANOS) == "true"

        spark.conf.set(NTZ, "false")
        assert read_parquet(spark, path).schema["ts"].dataType.typeName() == "timestamp"
        spark.conf.set(NTZ, "true")
        assert read_parquet(spark, path).schema["ts"].dataType.typeName() == "timestamp_ntz"
        assert _entries_under(tmp_path) == [path]
    finally:
        for key, value in old.items():
            spark.conf.set(key, value)


def test_new_session_starts_with_empty_registry(spark, tmp_path):
    name = _name()
    pq.write_table(pa.table({"a": [1, 2]}), tmp_path / f"{name}.parquet")
    load_views(spark, str(tmp_path), name)

    other = spark.newSession()
    assert getattr(other, "_arc_views", None) is None
    load_views(other, str(tmp_path), name)
    assert other.table(name).count() == 2
    assert other._arc_views[name][1] is not spark._arc_views[name][1]
    # the schema cache is process-wide: still one entry for the path, even
    # when the two sessions' inference confs differ
    assert _entries_under(tmp_path) == [str(tmp_path / f"{name}.parquet")]


def test_plain_session_q29_survives_a_timezone_change(spark):
    """The driver's session is plain: ``load_views`` must re-pin the events
    confs even when it reuses the registered view."""
    from arc_jupyter_spark.workloads import oracle_sql, queries

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_DIR}/events.parquet')")
    expected = sorted(con.execute(oracle_sql()["q29_range_join"]).fetchall())
    q29 = queries()["q29_range_join"]
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        q29(spark, SF_DIR)  # registers events; the calls below reuse it
        first = sorted(tuple(r) for r in q29(spark, SF_DIR).collect())
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        second = sorted(tuple(r) for r in q29(spark, SF_DIR).collect())
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert first == second == expected
