"""LAST-keyword state, resumable batched insert, table-change trigger, jobs."""

import pytest
from pyspark.sql import functions as F

from mindsdb_spark.catalog import load_table
from mindsdb_spark.streaming.incremental import TableChangeTrigger, batched_insert
from mindsdb_spark.streaming.jobs import JobScheduler


def test_batched_insert_resume(spark, sf_dir, tmp_path):
    o = load_table(spark, sf_dir, "orders").select("o_orderkey").limit(95)
    total = o.count()
    written: list[int] = []

    def boom_writer(batch, i):
        if i == 3:
            raise RuntimeError("simulated sink failure")
        written.append(batch.count())

    with pytest.raises(RuntimeError):
        batched_insert(o, boom_writer, "o_orderkey", str(tmp_path), batch_size=20)
    done_before = sum(written)

    def ok_writer(batch, i):
        written.append(batch.count())

    batched_insert(o, ok_writer, "o_orderkey", str(tmp_path), batch_size=20)
    # resume continues after the last committed cursor: no row lost or doubled
    assert sum(written) == total
    assert done_before < total


def test_table_change_trigger(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    state = {"n": 0}
    grown = {"df": e}
    trig = TableChangeTrigger(lambda: grown["df"], "event_id", lambda old, new: state.update(n=state["n"] + 1))
    assert trig.check() is False  # first check only snapshots
    assert trig.check() is False  # unchanged
    grown["df"] = e.union(e.limit(1).withColumn("event_id", F.col("event_id") + 10_000_000))
    assert trig.check() is True
    assert state["n"] == 1
    assert trig.check() is False  # change consumed


def test_trigger_fires_on_first_rows_of_empty_table(spark, sf_dir):
    # a watched table that STARTS empty must fire when its first rows land —
    # the None->value transition is a change, not initialization
    e = load_table(spark, sf_dir, "events")
    empty = e.filter(F.lit(False))
    grown = {"df": empty}
    fired = []
    trig = TableChangeTrigger(lambda: grown["df"], "event_id", lambda old, new: fired.append((old, new)))
    assert trig.check() is False  # initialization snapshot (max = None)
    grown["df"] = e.limit(5)
    assert trig.check() is True
    assert fired and fired[0][0] is None


def test_job_scheduler():
    sched = JobScheduler()
    runs = []
    sched.create_job("j1", lambda: runs.append("j1"), every_seconds=10)
    sched.create_job("j2", lambda: 1 / 0, every_seconds=10)  # failing job
    assert set(sched.run_pending(now=0.0)) == {"j1", "j2"}
    assert sched.run_pending(now=5.0) == []          # not due yet
    assert set(sched.run_pending(now=10.0)) == {"j1", "j2"}
    assert runs == ["j1", "j1"]
    assert sched.jobs["j2"].history[-1][0] == "error"  # error recorded, not fatal
    sched.create_job("late", lambda: runs.append("late"), every_seconds=1, start_at=100.0, end_at=200.0)
    assert "late" not in sched.run_pending(now=50.0)
    assert "late" in sched.run_pending(now=150.0)
    assert "late" not in sched.run_pending(now=250.0)


def test_last_keyword_sql_door(spark, sf_dir, tmp_path):
    # `WHERE col > LAST` parsed from SQL text (reference last_query.py):
    # init run pins the watermark and yields nothing; growth yields only
    # new rows; watermark advances so a re-run yields nothing again
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark, state_dir=str(tmp_path))
    sess.register_parquet_source("tpch", sf_dir)
    sess.sql("CREATE OR REPLACE VIEW lw AS SELECT event_id FROM tpch_events WHERE event_id < 100")
    q = "SELECT event_id FROM lw WHERE event_id > LAST ORDER BY event_id"
    assert sess.sql(q).count() == 0
    sess.sql("CREATE OR REPLACE VIEW lw AS SELECT event_id FROM tpch_events WHERE event_id < 150")
    got = [r[0] for r in sess.sql(q).collect()]
    assert got == list(range(100, 150))
    assert sess.sql(q).count() == 0  # watermark advanced
    # qualified column form
    q2 = "SELECT e.event_id FROM lw e WHERE e.event_id > LAST"
    assert sess.sql(q2).count() == 0  # separate key: its own init
    sess.sql("CREATE OR REPLACE VIEW lw AS SELECT event_id FROM tpch_events WHERE event_id < 160")
    assert sess.sql(q2).count() == 10


def test_last_keyword_semantics(spark, sf_dir, tmp_path):
    # timestamp watermark: stored as text, compared back as a timestamp;
    # first run initializes the watermark and returns nothing (reference
    # last_query.py behavior)
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark, state_dir=str(tmp_path))
    sess.register_parquet_source("tpch", sf_dir)
    sess.sql("CREATE OR REPLACE VIEW lt AS SELECT event_id, ts FROM tpch_events")
    qt = "SELECT event_id FROM lt WHERE ts > LAST"
    assert sess.sql(qt).count() == 0  # init
    assert sess.sql(qt).count() == 0  # nothing new
    sess.sql(
        "CREATE OR REPLACE VIEW lt AS SELECT event_id, ts FROM tpch_events UNION ALL "
        "SELECT event_id, ts + INTERVAL 100 DAYS FROM (SELECT * FROM tpch_events LIMIT 10)"
    )
    assert sess.sql(qt).count() == 10
    assert sess.sql(qt).count() == 0  # watermark advanced


def test_last_coalesce_init_value(spark, sf_dir, tmp_path):
    # `WHERE col > COALESCE(LAST, init)` — reference test_base_queires.py:
    # 736-788: the FIRST call filters against the init literal (rows come
    # back immediately), the watermark still pins, later calls are
    # incremental
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark, state_dir=str(tmp_path))
    sess.register_parquet_source("tpch", sf_dir)
    sess.sql("CREATE OR REPLACE VIEW lc AS SELECT event_id FROM tpch_events WHERE event_id < 100")
    q = "SELECT event_id FROM lc WHERE event_id > COALESCE(LAST, 95) ORDER BY event_id"
    got = [r[0] for r in sess.sql(q).collect()]
    assert got == [96, 97, 98, 99]  # init-bounded rows on the first call
    assert sess.sql(q).count() == 0  # watermark pinned at 99
    sess.sql("CREATE OR REPLACE VIEW lc AS SELECT event_id FROM tpch_events WHERE event_id < 120")
    got = [r[0] for r in sess.sql(q).collect()]
    assert got == list(range(100, 120))  # only growth, init no longer used
    assert sess.sql(q).count() == 0
