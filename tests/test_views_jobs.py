"""CREATE VIEW / CREATE JOB SQL command surface on EngineSession."""

import pytest

from mindsdb_spark.engine import EngineSession


@pytest.fixture(scope="module")
def sess(spark, sf_dir):
    s = EngineSession(spark)
    s.register_parquet_source("tpch", sf_dir)
    return s


def test_create_and_query_view(sess):
    sess.sql("CREATE VIEW big_orders AS SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 200000")
    n = sess.sql("SELECT count(*) AS n FROM big_orders").collect()[0]["n"]
    direct = sess.sql(
        "SELECT count(*) AS n FROM orders WHERE o_totalprice > 200000"
    ).collect()[0]["n"]
    assert n == direct > 0


def test_view_joins_with_tables(sess):
    sess.sql("CREATE OR REPLACE VIEW cust_nation AS SELECT c_custkey, n_name FROM customer JOIN nation ON c_nationkey = n_nationkey")
    rows = sess.sql(
        "SELECT n_name, count(*) AS n FROM cust_nation GROUP BY n_name ORDER BY n_name"
    ).collect()
    assert len(rows) > 0


def test_drop_view(sess):
    sess.sql("CREATE VIEW tmp_v AS SELECT 1 AS x")
    sess.sql("DROP VIEW tmp_v")
    with pytest.raises(Exception):
        sess.sql("SELECT * FROM tmp_v").collect()


def test_create_job_runs_on_schedule(sess):
    sess.spark.sql("CREATE OR REPLACE TEMP VIEW job_probe AS SELECT 1 AS x")
    sess.sql("CREATE JOB refresh_probe AS (SELECT count(*) FROM customer) EVERY 2 minutes")
    assert "refresh_probe" in {j.name for j in sess.jobs.jobs.values()} or "refresh_probe" in sess.jobs.jobs
    # due immediately at t0, then not until t0 + 120
    ran = sess.jobs.run_pending(now=1_000_000.0)
    assert ran == ["refresh_probe"]
    assert sess.jobs.run_pending(now=1_000_060.0) == []
    assert sess.jobs.run_pending(now=1_000_121.0) == ["refresh_probe"]
    sess.sql("DROP JOB refresh_probe")
    assert sess.jobs.run_pending(now=1_000_500.0) == []


def test_show_session_objects(sess):
    from mindsdb_spark.operators.agent import AgentSpec, mock_complete

    sess.sql("CREATE OR REPLACE VIEW show_probe_v AS SELECT 1 AS x")
    sess.sql("CREATE JOB show_probe_j AS (SELECT 1) EVERY 1 hour")
    sess.register_agent(AgentSpec(name="show_probe_a", complete=mock_complete))

    views = {r[0] for r in sess.sql("SHOW VIEWS").collect()}
    jobs = {r[0] for r in sess.sql("SHOW JOBS").collect()}
    agents = {r[0] for r in sess.sql("SHOW AGENTS").collect()}
    assert "show_probe_v" in views
    assert "show_probe_j" in jobs
    assert "show_probe_a" in agents

    # and via information_schema selects, like the reference's SHOW rewrite
    n = sess.sql(
        "SELECT count(*) AS n FROM information_schema.jobs WHERE name = 'show_probe_j'"
    ).collect()[0]["n"]
    assert n == 1
    sess.sql("DROP JOB show_probe_j")
    sess.sql("DROP VIEW show_probe_v")


def test_create_trigger_sql(spark, sf_dir, tmp_path):
    """CREATE TRIGGER name ON table COLUMN c AS (sql): fires when the
    watched column's max advances (triggers_controller.py:13-88)."""
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark)
    src_dir = str(tmp_path / "trig_src")
    spark.createDataFrame([(1, "a")], "id int, v string").write.parquet(src_dir)
    sess.register_writable_source("trg", str(tmp_path))
    spark.read.parquet(src_dir).createOrReplaceTempView("watched")

    sess.sql("CREATE TRIGGER bump ON watched COLUMN id AS "
             "(SELECT COUNT(*) AS c FROM watched)")
    assert "bump" in [r[0] for r in sess.sql("SHOW TRIGGERS").collect()]
    assert sess.check_triggers() == []  # first poll only records the baseline
    assert sess.check_triggers() == []  # unchanged

    spark.createDataFrame([(2, "b")], "id int, v string").write.mode("append").parquet(src_dir)
    spark.read.parquet(src_dir).createOrReplaceTempView("watched")
    assert sess.check_triggers() == ["bump"]
    assert sess.check_triggers() == []  # consumed

    sess.sql("DROP TRIGGER bump")
    assert "bump" not in [r[0] for r in sess.sql("SHOW TRIGGERS").collect()]


def test_job_start_end_if_condition(spark, sf_dir, tmp_path):
    from datetime import datetime

    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir)
    sess.register_writable_source("whj", str(tmp_path / "whj"))
    sess.sql("CREATE TABLE whj.gate AS SELECT 1 AS go WHERE 1 = 0")  # empty gate

    sess.sql(
        "CREATE JOB windowed AS (SELECT count(*) FROM tpch_region) "
        "START '2030-01-01' EVERY 1 hour"
    )
    t_2029 = datetime.fromisoformat("2029-12-31").timestamp()
    t_2030 = datetime.fromisoformat("2030-01-02").timestamp()
    assert "windowed" not in sess.jobs.run_pending(t_2029)  # before START
    assert "windowed" in sess.jobs.run_pending(t_2030)

    sess.sql(
        "CREATE JOB gated AS (SELECT count(*) FROM tpch_region) "
        "EVERY 1 hour IF (SELECT go FROM whj_gate)"
    )
    ran = sess.jobs.run_pending(t_2030 + 10)
    assert "gated" in ran  # it ran, but the gate made it a no-op
    job = sess.jobs.jobs["gated"]
    assert job.history[-1][2] == "skipped"
    sess.sql("INSERT INTO whj.gate VALUES (1)")
    sess.jobs.run_pending(t_2030 + 7200)
    assert job.history[-1][2] != "skipped"


def test_log_jobs_history(spark, sf_dir):
    # the `log` system database (interfaces/database/log.py): per-run job
    # records with error text, queryable as log.jobs_history
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["nation"])
    sess.sql("CREATE JOB lh_ok AS (SELECT count(*) FROM tpch_nation) EVERY 1 hour")
    sess.sql("CREATE JOB lh_bad AS (SELECT * FROM no_such_table_xyz) EVERY 1 hour")
    sess.jobs.run_pending(1e9)
    rows = {r["name"]: r for r in sess.sql(
        "SELECT name, error, query FROM log.jobs_history").collect()}
    assert rows["lh_ok"]["error"] is None
    assert "tpch_nation" in rows["lh_ok"]["query"]
    assert rows["lh_bad"]["error"] is not None
    # llm_log is schema-complete (empty: the mock transport has no
    # token accounting)
    ll = sess.sql("SELECT * FROM log.llm_log")
    assert ll.count() == 0 and "total_tokens" in ll.columns
    sess.sql("DROP JOB lh_ok"); sess.sql("DROP JOB lh_bad")


def test_materialized_view_lifecycle(spark, sf_dir):
    """CREATE MATERIALIZED VIEW persists the result (parquet, atomic-swap
    refresh); the view serves the SNAPSHOT until refreshed; REFRESH EVERY
    wires a scheduler job."""
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["nation"])
    sess.sql("CREATE DATABASE mv_ws")  # project workspace for a mutable base
    sess.sql("CREATE TABLE mv_ws.base AS SELECT n_nationkey, n_name FROM tpch_nation")
    sess.sql("CREATE MATERIALIZED VIEW mv_top AS "
             "(SELECT count(*) AS n FROM mv_ws_base)")
    assert sess.sql("SELECT n FROM mv_top").collect()[0]["n"] == 25
    # base changes; the matview serves the snapshot until refreshed
    sess.sql("INSERT INTO mv_ws.base VALUES (99, 'NATION_NEW')")
    assert sess.sql("SELECT n FROM mv_top").collect()[0]["n"] == 25
    sess.sql("REFRESH MATERIALIZED VIEW mv_top")
    assert sess.sql("SELECT n FROM mv_top").collect()[0]["n"] == 26
    # scheduled refresh: the job re-materializes on tick
    sess.sql("CREATE MATERIALIZED VIEW mv_auto AS "
             "(SELECT count(*) AS n FROM mv_ws_base) REFRESH EVERY 1 hour")
    sess.sql("INSERT INTO mv_ws.base VALUES (100, 'NATION_NEWER')")
    assert sess.sql("SELECT n FROM mv_auto").collect()[0]["n"] == 26
    sess.jobs.run_pending(1e12)
    assert sess.sql("SELECT n FROM mv_auto").collect()[0]["n"] == 27
    sess.sql("DROP MATERIALIZED VIEW mv_top")
    sess.sql("DROP MATERIALIZED VIEW mv_auto")
    assert "__matview_mv_auto" not in sess.jobs.jobs
    sess.sql("DROP DATABASE mv_ws")


@pytest.mark.parametrize("own", [True, False], ids=["engine_dir", "caller_dir"])
def test_workspace_and_matview_dirs_removed_with_their_session(spark, sf_dir, tmp_path, own):
    """A project workspace and the materialized-view store the engine made
    are removed when their session is collected (and at interpreter exit),
    not on DROP DATABASE, which ALTER DATABASE goes through; a workspace
    directory the caller passed is left alone."""
    import gc
    import os

    sess = EngineSession(spark)
    sess.register_parquet_source("tdir", sf_dir, tables=["nation"])
    params = "" if own else f', PARAMETERS = {{"directory": "{tmp_path}"}}'
    sess.sql(f"CREATE DATABASE td_ws{params}")
    sess.sql("CREATE TABLE td_ws.base AS SELECT n_nationkey FROM tdir_nation")
    sess.sql('ALTER DATABASE td_ws PARAMETERS = {"tables": ["base"]}')
    ws = sess._db_params["td_ws"][1]["directory"]
    assert (ws == str(tmp_path)) is not own
    sess.sql("CREATE MATERIALIZED VIEW td_mv AS (SELECT count(*) AS n FROM td_ws_base)")
    assert sess.sql("SELECT n FROM td_mv").collect()[0]["n"] == 25
    mv = sess._matview_src.root
    sess.sql("DROP MATERIALIZED VIEW td_mv")
    sess.sql("DROP DATABASE td_ws")
    assert os.path.isdir(ws) and os.path.isdir(mv)
    del sess
    gc.collect()
    assert os.path.isdir(ws) is not own
    assert not os.path.isdir(mv)


def test_one_time_conditional_job(spark, sf_dir, tmp_path):
    # reference test_jobs.py:141-186: `CREATE JOB name (sql) IF (query)`
    # with no EVERY is a ONE-TIME job; the IF gate decides whether the
    # single run does anything, and the job disappears after running
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark, state_dir=str(tmp_path))
    sess.register_parquet_source("tpch", sf_dir, tables=["nation"])
    sess.sql("CREATE JOB once_no (SELECT 1) IF (SELECT * FROM tpch_nation WHERE n_nationkey = -1)")
    assert "once_no" in sess.jobs.jobs
    ran = sess.jobs.run_pending(now=10.0)
    assert "once_no" in ran  # it ran (and was gated to a no-op)
    assert "once_no" not in sess.jobs.jobs  # one-time: dropped after the run
    # satisfied condition: the body executes
    sess.sql("CREATE JOB once_yes (CREATE VIEW once_probe AS SELECT n_name FROM tpch_nation) "
             "IF (SELECT * FROM tpch_nation WHERE n_nationkey = 0)")
    assert "once_probe" not in sess._views  # body has NOT run yet
    sess.jobs.run_pending(now=20.0)
    assert "once_yes" not in sess.jobs.jobs
    assert sess.sql("SELECT * FROM once_probe").count() == 25  # body ran once


def test_multi_statement_job_and_ctas_if_not_exists(spark, sf_dir, tmp_path):
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark, state_dir=str(tmp_path))
    sess.register_parquet_source("tpch", sf_dir, tables=["nation"])
    sess.register_writable_source("whj", str(tmp_path / "whj"))
    # reference job bodies are statement lists: `(sql; sql)`
    sess.sql("CREATE JOB multi (CREATE TABLE whj.j1 AS SELECT n_name FROM tpch_nation; "
             "CREATE TABLE whj.j2 AS SELECT n_nationkey FROM tpch_nation) EVERY 1 hour")
    sess.jobs.run_pending(now=5.0)
    assert sess.sql("SELECT count(*) AS n FROM whj_j1").collect()[0]["n"] == 25
    assert sess.sql("SELECT count(*) AS n FROM whj_j2").collect()[0]["n"] == 25
    sess.sql("DROP JOB multi")
    # CTAS IF NOT EXISTS: second create is a no-op, data survives
    sess.sql("CREATE TABLE IF NOT EXISTS whj.j1 AS SELECT 1 AS x")
    assert sess.sql("SELECT count(*) AS n FROM whj_j1").collect()[0]["n"] == 25


def test_create_view_if_not_exists_and_default_every(spark, sf_dir):
    # create/view.mdx + create/jobs.mdx documented forms
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["region"])
    sess.sql("CREATE VIEW IF NOT EXISTS mindsdb.vix AS (SELECT r_name FROM tpch_region)")
    sess.sql("CREATE VIEW IF NOT EXISTS mindsdb.vix AS (SELECT 1 AS z)")
    assert sess.sql("SELECT * FROM vix").columns == ["r_name"]  # untouched
    sess.sql("CREATE JOB jix AS (SELECT 1 AS x) EVERY hour")  # number defaults to 1
    assert sess.jobs.jobs["jix"].every_seconds == 3600
    sess.sql("DROP JOB jix"); sess.sql("DROP VIEW vix")
