"""Cell-language tests: magic dispatch, options, env/secret/conf,
placeholder view lifecycle (reference semantics per SURVEY.md §2.A)."""

import logging
import uuid

import pytest

from arc_jupyter_spark.context import PLACEHOLDER_VIEW
from arc_jupyter_spark.interpreter import Interpreter, completions, parse_args
from arc_jupyter_spark.operators.execute import ValidationError

from tests.conftest import SF_DIR


@pytest.fixture()
def interp(ctx):
    return Interpreter(ctx=ctx, input_fn=lambda key: f"value-of-{key}")


def test_parse_args_quote_aware():
    got = parse_args('outputView=out name="My Stage" numRows=5')
    assert got == {"outputView": "out", "name": "My Stage", "numRows": "5"}


def test_sql_registers_output_view(interp):
    res = interp.execute('%sql outputView=two\nSELECT 1 AS a UNION ALL SELECT 2')
    assert res.df.count() == 2
    assert interp.ctx.table("two").count() == 2
    assert "<table" in res.html


def test_sql_placeholder_view_dropped(interp):
    interp.execute("%sql\nSELECT 1 AS a")
    assert PLACEHOLDER_VIEW not in interp.ctx.view_names()


def test_sql_env_substitution(interp):
    interp.execute("%env\nN=3")
    res = interp.execute("%sql outputView=n3\nSELECT ${N} AS n")
    assert res.df.first()["n"] == 3


def test_sql_param_default(interp):
    res = interp.execute("%sql\nSELECT ${MISSING=7} AS n")
    assert res.df.first()["n"] == 7


def test_sqlvalidate_pass_and_fail(interp):
    ok = interp.execute(
        "%sqlvalidate\nSELECT TRUE AS valid, "
        "to_json(named_struct('message','fine')) AS message"
    )
    assert ok.data == {"message": "fine"}
    with pytest.raises(ValidationError):
        interp.execute(
            "%sqlvalidate\nSELECT FALSE AS valid, "
            "to_json(named_struct('message','bad')) AS message"
        )


def test_configexecute_merges_env(interp):
    interp.execute(
        "%configexecute\nSELECT to_json(named_struct('REGION','EUROPE')) AS parameters"
    )
    assert interp.ctx.env["REGION"] == "EUROPE"


def test_secret_masked_and_stored(interp):
    res = interp.execute("%secret\nAPI_KEY")
    assert interp.ctx.secrets["API_KEY"] == "value-of-API_KEY"
    assert "value-of" not in res.text
    assert "******" in res.text


def test_plaintext_secret_rejected(interp):
    with pytest.raises(ValueError, match="secret"):
        interp.execute('%sql\nSELECT \'{"secret": "hunter2"}\' AS j')


def test_conf_updates_session(interp):
    interp.execute("%conf numRows=7 truncate=99 monospace=true")
    assert interp.ctx.conf.num_rows == 7
    assert interp.ctx.conf.truncate == 99
    assert interp.ctx.conf.monospace is True
    with pytest.raises(ValueError, match="unknown %conf key"):
        interp.execute("%conf nosuch=1")


def test_schema_and_printschema(interp):
    interp.execute(f'%sql outputView=r\nSELECT * FROM parquet.`{SF_DIR}/region.parquet`')
    schema = interp.execute("%schema\nr")
    assert schema.data["type"] == "struct"
    tree = interp.execute("%printschema\nr")
    assert "r_name" in tree.text


def test_metadata_magic(interp):
    interp.execute(f'%sql outputView=rm\nSELECT * FROM parquet.`{SF_DIR}/region.parquet`')
    res = interp.execute("%metadata outputView=rm_meta\nrm")
    names = {r["name"] for r in res.df.collect()}
    assert {"r_regionkey", "r_name"} <= names
    assert "rm_meta" in interp.ctx.view_names()


def test_printmetadata(interp):
    interp.execute('%sql outputView=pm\nSELECT 1 AS a, CAST(1.5 AS DOUBLE) AS b')
    res = interp.execute("%printmetadata\npm")
    types = {e["name"]: e["type"] for e in res.data}
    assert types == {"a": "integer", "b": "double"}


def test_list_magic(interp, tmp_path):
    (tmp_path / "a.txt").write_text("x")
    (tmp_path / "b.txt").write_text("yy")
    res = interp.execute(f"%list outputView=files\n{tmp_path}")
    rows = res.df.collect()
    assert [r["name"] for r in rows] == ["a.txt", "b.txt"]
    assert rows[1]["bytes"] == 2
    assert "files" in interp.ctx.view_names()


def test_arc_pipeline_cell(interp):
    res = interp.execute(
        '[{"type": "ParquetExtract", "name": "e",'
        f' "inputURI": "{SF_DIR}/nation.parquet", "outputView": "arc_nation"}},'
        '{"type": "SQLTransform", "name": "t",'
        ' "sql": "SELECT COUNT(*) AS n FROM arc_nation", "outputView": "arc_out"}]'
    )
    assert res.df.first()["n"] == 25


def test_unknown_magic(interp):
    with pytest.raises(ValueError, match="unknown magic"):
        interp.execute("%nosuch\nx")


def test_version_and_help(interp):
    assert "spark" in interp.execute("%version").data
    assert "%sql" in interp.execute("%help").text


def test_completions_include_tables(interp):
    """Per-table completers mirror the reference (OutputTable.scala:
    98-146): '%sql <t>' carries a flattened-column SELECT snippet plus
    %metadata/%schema shortcuts; every item has the reference's
    completion payload fields."""
    interp.execute("%sql outputView=comp_t\nSELECT 1 AS a, named_struct('x', 2) AS s")
    items = completions(interp.ctx)
    by_text = {i["text"]: i for i in items}
    assert "%sql" in by_text
    assert "%sql comp_t" in by_text
    snippet = by_text["%sql comp_t"]["snippet"]
    # flattened (leaf) columns, one per line, comma-leading continuation
    assert "SELECT\n  a\n  ,s.x\nFROM comp_t" in snippet
    assert by_text["%sql comp_t"]["language"] == "sql"
    for magic in ("%metadata", "%printmetadata", "%schema", "%printschema"):
        assert f"{magic} comp_t" in by_text
    for item in items:
        assert {"text", "type", "snippet", "language", "documentation", "sortBy"} <= set(item)


def test_completions_dynamic_conf_and_env(interp):
    interp.execute("%env\nMY_KEY=abc")
    interp.ctx.secrets["TOKEN"] = "s3cr3t"
    by_text = {i["text"]: i["snippet"] for i in completions(interp.ctx)}
    assert "numRows=20" in by_text["%conf"]
    assert "MY_KEY=abc" in by_text["%env"]
    assert "TOKEN=******" in by_text["%env"]  # masked to length
    assert "s3cr3t" not in by_text["%env"]


def test_format_error_chain():
    from arc_jupyter_spark.interpreter import format_error

    try:
        try:
            raise KeyError("root cause")
        except KeyError as inner:
            raise ValueError("outer failure") from inner
    except ValueError as exc:
        short = format_error(exc)
        full = format_error(exc, extended=True)
    assert short == "ValueError: outer failure"
    assert "caused by: KeyError: 'root cause'" in full


def test_conf_master_restarts_kernel_session(spark):
    """Kernel-frontend parity (reference ArcInterpreter.scala:520-526):
    with restart_on_master_change the %conf master cell tears down the
    session and rebuilds on the new master, carrying conf/env/secrets
    but NOT temp views. A fake factory keeps the shared test JVM
    alive; the kernel wires Interpreter(restart_on_master_change=True)
    to the real stop-and-rebuild factory."""
    from arc_jupyter_spark.context import ArcContext
    from arc_jupyter_spark.interpreter import Interpreter

    calls = []

    def fake_factory(master, old_session):
        assert old_session is spark
        calls.append(master)
        return spark

    interp = Interpreter(
        ctx=ArcContext(spark=spark),
        restart_on_master_change=True,
        session_factory=fake_factory,
    )
    interp.execute("%env K=V")
    interp.ctx.secrets["tok"] = "s3cr3t-x"
    interp.execute("%conf numRows=9")
    old_ctx = interp.ctx
    interp.execute("%conf master=local[2]")
    assert calls == ["local[2]"]
    assert interp.ctx is not old_ctx
    assert interp.ctx.conf.master == "local[2]"
    # carried state
    assert interp.ctx.env["K"] == "V"
    assert interp.ctx.secrets["tok"] == "s3cr3t-x"
    assert interp.ctx.conf.num_rows == 9
    # same master again: no second restart
    interp.execute("%conf master=local[2]")
    assert calls == ["local[2]"]


def test_conf_master_library_mode_no_restart(interp):
    """Library sessions only record the master (documented deviation)."""
    old_ctx = interp.ctx
    interp.execute("%conf master=local[3]")
    assert interp.ctx is old_ctx
    assert interp.ctx.conf.master == "local[3]"


def test_conf_master_restart_stops_streams_and_old_session(spark):
    """ADVICE r5: the restart must (1) stop the interpreter's OWN
    session via the factory's old_session argument — not whatever
    getActiveSession() holds — and (2) stop tracked streaming queries
    BEFORE the context swap, so a JVM-preserving factory cannot leave
    them running untracked."""
    from arc_jupyter_spark.context import ArcContext
    from arc_jupyter_spark.interpreter import Interpreter

    seen = {}

    def fake_factory(master, old_session):
        seen["master"] = master
        seen["old"] = old_session
        return spark

    class FakeQuery:
        name, id, isActive = "q", "1", True

        def stop(self):
            self.isActive = False
            seen["stream_stopped"] = True

    ctx = ArcContext(spark=spark)
    q = FakeQuery()
    ctx.track_stream(q)
    interp = Interpreter(
        ctx=ctx, restart_on_master_change=True, session_factory=fake_factory
    )
    interp.execute("%conf master=local[7]")
    assert seen["master"] == "local[7]"
    assert seen["old"] is spark  # the ctx's session, passed explicitly
    assert seen.get("stream_stopped") is True
    assert not q.isActive
    # user_data (lastView, stream registry) does not survive a restart
    assert "streaming_queries" not in interp.ctx.user_data


# -- one Spark action per rendered cell --------------------------------


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


@pytest.fixture()
def takes(monkeypatch):
    """Tables each call to ``render.take_formatted`` was asked for."""
    from arc_jupyter_spark import render

    calls = []
    real = render.take_formatted

    def counting(df, *args, **kwargs):
        calls.append(df)
        return real(df, *args, **kwargs)

    monkeypatch.setattr(render, "take_formatted", counting)
    return calls


HOCON_CELL = '''{
  type = SQLTransform
  name = base
  sql = """SELECT id, id % 2 AS parity FROM one_take_src"""
  outputView = one_take_base
}
{
  type = SQLTransform
  name = per parity
  sql = """SELECT parity, COUNT(*) AS n FROM one_take_base GROUP BY parity ORDER BY parity"""
  outputView = one_take_out
}
{
  type = SQLValidate
  name = not empty
  sql = """SELECT COUNT(*) > 0 AS valid, CAST(COUNT(*) AS STRING) AS message FROM one_take_out"""
}'''


@pytest.mark.parametrize("cell", [
    "%sql\nSELECT id % 3 AS k, COUNT(*) AS n FROM one_take_src GROUP BY id % 3 ORDER BY k",
    HOCON_CELL,
    "%metadata\none_take_src",
], ids=["sql", "hocon", "metadata"])
def test_rendered_cell_takes_once(interp, takes, cell):
    interp.ctx.register(interp.ctx.spark.range(10), "one_take_src")
    res = interp.execute(cell)
    assert len(takes) == 1
    assert res.text.startswith("+-") and res.html.startswith("<table")


def test_html_cell_fires_the_jobs_of_a_text_cell(ctx):
    cell = "%sql\nSELECT id % 7 AS k, COUNT(*) AS n FROM range(1000) GROUP BY id % 7 ORDER BY k"
    text_only = Interpreter(ctx=ctx, html=False)
    with_html = Interpreter(ctx=ctx, html=True)
    text_only.execute(cell)  # warm-up
    jobs = [_count_jobs(ctx.spark, lambda i=i: i.execute(cell)) for i in (text_only, with_html)]
    assert jobs[0] > 0 and jobs[1] == jobs[0]


def test_metadata_cell_fires_no_job(interp):
    df = interp.ctx.spark.range(3).withMetadata("id", {"pii": True, "rank": 2})
    interp.ctx.register(df, "no_job_src")
    results = []
    jobs = _count_jobs(interp.ctx.spark,
                       lambda: results.append(interp.execute("%metadata\nno_job_src")))
    assert jobs == 0
    assert "<td>id</td><td>false</td><td>bigint</td><td>true</td><td>2</td>" in results[0].html


def test_metadatavalidate_over_the_metadata_table(interp):
    df = interp.ctx.spark.range(3).withMetadata("id", {"pii": True})
    interp.ctx.register(df, "mv_src")
    ok = interp.execute(
        "%metadatavalidate inputView=mv_src\n"
        "SELECT SUM(CAST(pii AS INT)) = 1, 'one pii column' FROM metadata")
    assert ok.text == "one pii column"
    with pytest.raises(ValidationError):
        interp.execute(
            "%metadatavalidate inputView=mv_src\nSELECT COUNT(*) = 0, 'no columns' FROM metadata")
    assert "metadata" not in interp.ctx.view_names()


def test_failed_sql_cell_leaves_catalog_unchanged(interp):
    spark = interp.ctx.spark
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    before = sorted(interp.ctx.view_names())
    try:
        with pytest.raises(Exception, match="NumberFormatException|CAST_INVALID_INPUT"):
            interp.execute("%sql\nSELECT CAST(concat('x', id) AS INT) AS v FROM range(3)")
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert sorted(interp.ctx.view_names()) == before


def test_metadatafilter_cell_leaves_catalog_unchanged(interp):
    spark = interp.ctx.spark
    interp.ctx.register(
        spark.range(3).selectExpr("id", "id * 2 AS twice").withMetadata("id", {"keep": True}),
        "mf_src")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        interp.ctx.register(
            spark.sql("SELECT CAST(concat('x', id) AS INT) AS v FROM range(3)")
            .withMetadata("v", {"keep": True}),
            "mf_bad_src")
        interp.ctx.drop_view(PLACEHOLDER_VIEW)
        before = sorted(interp.ctx.view_names())
        cell = "%metadatafilter inputView={}\nSELECT * FROM metadata WHERE keep = true"
        res = interp.execute(cell.format("mf_src"))
        assert res.df.columns == ["id"]
        assert sorted(interp.ctx.view_names()) == before
        with pytest.raises(Exception, match="NumberFormatException|CAST_INVALID_INPUT"):
            interp.execute(cell.format("mf_bad_src"))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert sorted(interp.ctx.view_names()) == before


def test_interpreters_share_one_log_handler(ctx):
    from arc_jupyter_spark.observability import LogBuffer

    interps = [Interpreter(ctx=ctx) for _ in range(4)]
    logger = logging.getLogger("arc_jupyter_spark")
    buffers = [h for h in logger.handlers if isinstance(h, LogBuffer)]
    assert len(buffers) == 1
    assert all(i.log_buffer is buffers[0] for i in interps)
    interps[-1].execute("%log\nSELECT 'one-handler-check' AS message")
    res = interps[0].execute("%sql showLog=true\nSELECT 1 AS a")
    assert '"message": "one-handler-check"' in res.text.splitlines()[-1]


def test_plan_reports_from_one_plan_string(interp, monkeypatch):
    from arc_jupyter_spark.plans import advisor

    interp.ctx.register(
        interp.ctx.spark.range(10).selectExpr("id % 3 AS k").groupBy("k").count(), "plan_src")
    plans = []
    real = advisor.plan_string
    monkeypatch.setattr(advisor, "plan_string", lambda df: plans.append(real(df)) or plans[-1])
    res = interp.execute("%plan\nplan_src")
    assert len(plans) == 1
    findings = [advisor.Finding(**d) for d in res.data]
    assert findings == advisor.analyze_plan(plans[0])
    assert res.text == "\n".join(str(f) for f in findings) + "\n\n" + plans[0]


# -- stage magics and the cell boundary --------------------------------

STAGE_MAGIC_CELLS = [
    ("SQLTransform", "%sql\nSELECT 1 AS a"),
    ("SQLValidate", "%sqlvalidate\nSELECT TRUE, 'ok'"),
    ("LogExecute", "%log\nSELECT 'spy' AS message"),
    ("ConfigExecute", "%configexecute\nSELECT to_json(named_struct('SPY', '1'))"),
    ("MetadataFilterTransform", "%metadatafilter inputView=spy_src\nSELECT * FROM metadata"),
    ("MetadataValidate", "%metadatavalidate inputView=spy_src\nSELECT COUNT(*) = 1, 'ok' FROM metadata"),
]


def test_each_stage_magic_runs_its_registered_stage(interp, monkeypatch):
    from arc_jupyter_spark.plans.pipeline import STAGE_REGISTRY

    ran = []
    for stage_type, _ in STAGE_MAGIC_CELLS:
        cls = STAGE_REGISTRY[stage_type]

        def execute(self, ctx, cls=cls):
            ran.append(self.stage_type)
            return cls.execute(self, ctx)

        monkeypatch.setitem(STAGE_REGISTRY, stage_type, type(cls.__name__, (cls,), {"execute": execute}))
    interp.ctx.register(interp.ctx.spark.range(3), "spy_src")
    for _, cell in STAGE_MAGIC_CELLS:
        interp.execute(cell)
    assert ran == [stage_type for stage_type, _ in STAGE_MAGIC_CELLS]


def test_stage_magic_args_become_typed_stage_config():
    from arc_jupyter_spark.interpreter import stage_config

    args = parse_args('name="s" outputView=v inputView=i persist=true sqlParams=a=1,b=x numRows=5')
    assert stage_config("sql", args, "SELECT ${a}") == {
        "type": "SQLTransform", "sql": "SELECT ${a}", "name": "s", "inputView": "i",
        "outputView": "v", "persist": True, "sqlParams": {"a": "1", "b": "x"},
    }


def test_sqlvalidate_keeps_the_stage_row_rule(interp):
    with pytest.raises(ValidationError, match="exactly 1 row"):
        interp.execute("%sqlvalidate\nSELECT TRUE, 'ok' FROM range(2)")


def test_failed_pipeline_cell_leaves_catalog_unchanged(interp):
    before = sorted(interp.ctx.view_names())
    with pytest.raises(Exception, match="UNRESOLVED_COLUMN"):
        interp.execute(
            '{ type = SQLTransform, sql = "SELECT 1 AS a", outputView = fail_stage_one }\n'
            '{ type = SQLTransform, sql = "SELECT no_col FROM fail_stage_one", '
            "outputView = fail_stage_two }")
    assert sorted(interp.ctx.view_names()) == before


def test_failed_sql_cell_gives_a_replaced_view_its_old_plan(interp):
    spark = interp.ctx.spark
    interp.execute("%sql outputView=fail_y\nSELECT id AS a FROM range(2)")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with pytest.raises(Exception, match="NumberFormatException|CAST_INVALID_INPUT"):
            interp.execute(
                "%sql outputView=fail_y\nSELECT CAST(concat('x', id) AS INT) AS v FROM range(3)")
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert interp.ctx.table("fail_y").columns == ["a"]
    assert sorted(r.a for r in interp.ctx.table("fail_y").collect()) == [0, 1]


def test_metadata_magics_put_back_a_user_metadata_view(interp):
    spark = interp.ctx.spark
    spark.range(1).toDF("mine").createOrReplaceTempView("metadata")
    interp.ctx.register(spark.range(3), "mv_user_src")
    try:
        assert interp.execute(
            "%metadatavalidate inputView=mv_user_src\nSELECT COUNT(*) = 1, 'one' FROM metadata"
        ).text == "one"
        assert spark.table("metadata").columns == ["mine"]
        with pytest.raises(ValidationError):
            interp.execute(
                "%metadatavalidate inputView=mv_user_src\nSELECT FALSE, 'no' FROM metadata")
        assert spark.table("metadata").columns == ["mine"]
        res = interp.execute("%metadatafilter inputView=mv_user_src\nSELECT * FROM metadata")
        assert res.df.columns == ["id"]
        assert spark.table("metadata").columns == ["mine"]
    finally:
        spark.catalog.dropTempView("metadata")


def test_replaced_persisted_view_releases_its_cache(interp):
    sc = interp.ctx.spark.sparkContext._jsc.sc()

    def cached_rdds():
        infos = sc.getRDDStorageInfo()
        return {info.id() for info in infos}

    before = cached_rdds()
    for n in (1, 2, 3):
        interp.execute(f"%sql outputView=rel_p persist=true\nSELECT id * {n} AS v FROM range(10)")
    kept = cached_rdds() - before
    assert len(kept) == 1
    # the same plan again keeps the cache it already has
    interp.execute("%sql outputView=rel_p persist=true\nSELECT id * 3 AS v FROM range(10)")
    assert cached_rdds() - before == kept
    assert interp.ctx.table("rel_p").storageLevel.useMemory
    interp.ctx.table("rel_p").unpersist()


def test_sqlvalidate_collects_at_most_two_rows(interp, monkeypatch):
    frame_cls = type(interp.ctx.spark.range(1))
    limits = []
    real = frame_cls.collect

    def spy(df):
        limits.append(df._jdf.queryExecution().optimizedPlan().maxRows())
        return real(df)

    monkeypatch.setattr(frame_cls, "collect", spy)
    with pytest.raises(ValidationError, match="exactly 1 row .* got 0 rows"):
        interp.execute("%sqlvalidate\nSELECT TRUE, 'ok' FROM range(10) WHERE id < 0")
    with pytest.raises(ValidationError, match="exactly 1 row .* got more than 1 row"):
        interp.execute("%sqlvalidate\nSELECT TRUE, 'ok' FROM range(2000000)")
    assert len(limits) == 2
    assert all(m.isDefined() and m.get() == 2 for m in limits)


def test_statistics_execute_aggregates_once(interp):
    spark = interp.ctx.spark
    interp.ctx.register(spark.range(1000).selectExpr("id", "id % 7 AS k"), "stats_src")
    cell = "{ type = StatisticsExecute, name = st, inputView = stats_src }"
    res = []
    assert _count_jobs(spark, lambda: res.append(interp.execute(cell))) <= 2
    # the text of the summary DataFrame itself, as a cell rendered it
    # when the stage returned that DataFrame
    assert res[0].text == interp._render(spark.table("stats_src").summary(), {}).text
    assert interp.ctx.user_data["last_statistics"] == spark.table("stats_src").summary().collect()


def test_stage_magic_environments_reach_the_stage(interp):
    interp.execute("%conf environment=test")
    interp.execute("%sql environments=production outputView=env_prod_only\nSELECT 1 AS a")
    assert "env_prod_only" not in interp.ctx.view_names()
    interp.execute("%sql environments=production,test outputView=env_both\nSELECT 1 AS a")
    assert interp.ctx.table("env_both").count() == 1


def test_help_names_every_magic():
    from arc_jupyter_spark.interpreter import HELP_TEXT, STAGE_MAGICS

    magics = [m[len("magic_"):] for m in dir(Interpreter) if m.startswith("magic_")]
    missing = [m for m in magics + list(STAGE_MAGICS) if f"%{m} " not in HELP_TEXT]
    assert not missing, missing


def test_help_lists_the_view_keys_each_stage_magic_declares():
    import dataclasses

    from arc_jupyter_spark.interpreter import HELP_TEXT, STAGE_MAGICS
    from arc_jupyter_spark.plans.pipeline import STAGE_REGISTRY, _camel

    lines = HELP_TEXT.splitlines()
    for magic, stage_type in STAGE_MAGICS.items():
        line = next(ln for ln in lines if ln.startswith(f"  %{magic} "))
        declared = {_camel(f.name) for f in dataclasses.fields(STAGE_REGISTRY[stage_type])}
        for key in ("inputView", "outputView"):
            assert (f"{key}=" in line) == (key in declared), (magic, key)
        # the keys every stage magic is said to take
        assert {"name", "persist", "environments", "sqlParams"} <= declared

