"""MySQL-dialect rewrite layer: per-function semantics from the reference's
compat table (mysql_to_duckdb_functions.py), retargeted at Spark SQL."""

import pytest

from mindsdb_spark.dialect.mysql_functions import mysql_format_to_java
from mindsdb_spark.engine import EngineSession


@pytest.fixture(scope="module")
def engine(spark):
    return EngineSession(spark)


def one(engine, expr):
    return engine.sql(f"SELECT {expr} AS v").collect()[0].v


@pytest.mark.parametrize(
    "expr,expected",
    [
        ("CHAR(77, 121)", "My"),
        ("FORMAT(1234567.891, 2)", "1,234,567.89"),
        ("LENGTH('héllo')", 6),  # MySQL LENGTH = bytes
        ("LENGTH('hello')", 5),
        ("REGEXP_SUBSTR('abc123def', '[0-9]+')", "123"),
        ("DAYNAME(timestamp '2024-01-05 10:00:00')", "Friday"),
        ("MONTHNAME(timestamp '2024-01-05 10:00:00')", "January"),
        ("DATE_FORMAT(timestamp '2024-01-05 14:07:09', '%Y-%m-%d %H:%i')", "2024-01-05 14:07"),
        ("DATE_FORMAT(timestamp '2024-01-05 14:07:09', '%W %M %e')", "Friday January 5"),
        ("LOCATE('b', 'abc')", 2),  # native passthrough
        ("INSTR('abc', 'c')", 3),
        ("SUBSTRING_INDEX('a.b.c', '.', 2)", "a.b"),
        ("DATEDIFF(date '2024-01-10', date '2024-01-05')", 5),  # MySQL arg order
        ("TRUNCATE(2.987, 2)", 2.98),
        ("TRUNCATE(-2.987, 2)", -2.98),  # toward zero, not floor
        ("DATABASE()", "mindsdb"),
        ("VERSION()", "8.0.17-mindsdb-spark"),
        ("JSON_EXTRACT('{\"k\": 42}', '$.k')", "42"),
        ("HASH('x')", "9dd4e461268c8034f5c8564e155c67a6"),
        ("SHA2('abc', 256)", "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad"),
        ("@@version_comment", "mindsdb-spark"),
        ("CAST(ADDTIME(timestamp '2024-01-01 10:00:00', '1:30:00') AS STRING)", "2024-01-01 11:30:00"),
        ("CAST(ADDTIME(timestamp '2024-01-01 10:00:00', '2 01:00:00') AS STRING)", "2024-01-03 11:00:00"),
        ("CAST(DATE_ADD(timestamp '2024-01-01 00:00:00', INTERVAL 3 DAY) AS STRING)", "2024-01-04 00:00:00"),
        ("CAST(DATE_SUB(timestamp '2024-01-05 00:00:00', INTERVAL 2 HOUR) AS STRING)", "2024-01-04 22:00:00"),
        ("GET_FORMAT(DATE, 'USA')", "%m.%d.%Y"),
        ("DAYOFWEEK(date '2024-01-07')", 1),  # Sunday=1, native match
        ("DAYOFYEAR(date '2024-02-01')", 32),
    ],
)
def test_mysql_function(engine, expr, expected):
    assert one(engine, expr) == expected


def test_strings_not_rewritten(engine):
    # function names inside string literals must be untouched
    assert one(engine, "'DATABASE() LENGTH(x)'") == "DATABASE() LENGTH(x)"


def test_nested_rewrite(engine):
    assert one(engine, "LENGTH(DATABASE())") == 7  # octet_length('mindsdb')


def test_llm_stub_deterministic(engine):
    a = one(engine, "LLM('hello')")
    b = one(engine, "LLM('hello')")
    assert a == b and a.startswith("llm:")


def test_to_markdown_stub(engine):
    assert one(engine, "TO_MARKDOWN('doc.pdf')").startswith("# doc.pdf")


def test_format_remap():
    assert mysql_format_to_java("%Y-%m-%d") == "yyyy-MM-dd"
    assert mysql_format_to_java("%H:%i:%s") == "HH:mm:ss"
    assert mysql_format_to_java("at %h%p") == "'a''t' hha"


def test_byom_function_registration(engine):
    engine.register_function("triple", lambda x: x * 3, [int], int)
    assert one(engine, "triple(14)") == 42
    with pytest.raises(ValueError):
        engine.register_function("toomany", lambda a, b, c, d, e: 1, [int] * 5, int)
    with pytest.raises(TypeError):
        engine.register_function("badtype", lambda x: x, [dict], int)


def test_engine_sql_over_source(engine, sf_dir):
    engine.register_parquet_source("tpch", sf_dir)
    df = engine.sql(
        "SELECT o_orderkey, DAYNAME(o_orderdate) AS dn FROM tpch_orders ORDER BY o_orderkey LIMIT 3"
    )
    rows = df.collect()
    assert len(rows) == 3 and all(r.dn for r in rows)


def test_set_use_explain(spark, sf_dir):
    """MySQL session commands: SET @@var round-trips through @@reads, USE
    switches the default database, EXPLAIN returns the formatted plan."""
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["nation"])

    sess.sql("SET @@my_limit = 7")
    assert sess.sql("SELECT @@my_limit AS v").collect()[0][0] == 7
    sess.sql("SET @@greeting = 'hello'")
    assert sess.sql("SELECT @@greeting AS g").collect()[0][0] == "hello"
    sess.sql("SET NAMES utf8mb4").collect()  # accepted silently

    sess.sql("USE tpch")
    assert sess.sql("SELECT DATABASE() AS db").collect()[0][0] == "tpch"

    plan = sess.sql("EXPLAIN SELECT n_name FROM tpch_nation WHERE n_nationkey > 3").collect()[0][0]
    assert "Physical Plan" in plan and "PushedFilters" in plan


def test_create_drop_database_lifecycle(spark, sf_dir, tmp_path):
    # CREATE DATABASE ... WITH ENGINE (reference command_executor.py
    # CreateDatabase): attach parquet / duckdb / writable sources by SQL,
    # SHOW DATABASES reflects, DROP DATABASE detaches
    sess = EngineSession(spark)
    sess.sql("CREATE DATABASE lake WITH ENGINE = 'parquet', "
             f'PARAMETERS = {{"directory": "{sf_dir}"}}')
    assert sess.sql("SELECT count(*) AS n FROM lake_nation").collect()[0]["n"] == 25
    sess.sql("CREATE DATABASE ducky WITH ENGINE = 'duckdb', "
             f'PARAMETERS = {{"directory": "{sf_dir}", "tables": ["region"]}}')
    assert sess.sql("SELECT count(*) AS n FROM ducky.region").collect()[0]["n"] == 5
    assert sess.last_execution == ("pushdown", "ducky")
    sess.sql("CREATE DATABASE scratch WITH ENGINE = 'parquet_writable', "
             f'PARAMETERS = {{"directory": "{tmp_path / "scratch"}"}}')
    sess.sql("CREATE TABLE scratch.t1 AS SELECT 1 AS x")
    assert sess.sql("SELECT x FROM scratch_t1").collect()[0]["x"] == 1
    dbs = {r[0] for r in sess.sql("SHOW DATABASES").collect()}
    assert {"lake", "ducky", "scratch"} <= dbs
    sess.sql("DROP DATABASE ducky")
    dbs = {r[0] for r in sess.sql("SHOW DATABASES").collect()}
    assert "ducky" not in dbs and "lake" in dbs
    # project (no engine) is a writable workspace
    sess.sql("CREATE DATABASE myproj")
    sess.sql("CREATE TABLE myproj.notes AS SELECT 'hi' AS note")
    assert sess.sql("SELECT note FROM myproj_notes").collect()[0][0] == "hi"


def test_create_ml_engine_sql(spark, sf_dir):
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir)
    sess.sql("CREATE ML_ENGINE my_regressor FROM spark_ml_linreg")
    engines = {r[0] for r in sess.sql("SHOW ML_ENGINES").collect()}
    assert "my_regressor" in engines
    sess.sql(
        "CREATE MODEL bal (SELECT c_acctbal AS pred_bal, c_custkey, c_nationkey "
        "FROM tpch_customer) PREDICT pred_bal USING engine = 'my_regressor'"
    )
    got = sess.sql(
        "SELECT t.c_custkey, m.pred_bal FROM tpch_customer t JOIN bal m "
        "ORDER BY t.c_custkey LIMIT 5"
    ).collect()
    assert len(got) == 5 and all(r["pred_bal"] is not None for r in got)
    sess.sql("DROP ML_ENGINE my_regressor")
    assert "my_regressor" not in {r[0] for r in sess.sql("SHOW ML_ENGINES").collect()}
    with pytest.raises(ValueError, match="unknown handler"):
        sess.sql("CREATE ML_ENGINE bad FROM nonexistent_handler")


def test_information_schema_breadth(spark, sf_dir):
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir)
    sess.sql("SELECT 1 AS warmup").collect()
    hs = {r[0] for r in sess.sql("SELECT name FROM information_schema.handlers").collect()}
    assert {"parquet", "duckdb", "jdbc"} <= hs
    qlog = sess.sql("SELECT query FROM information_schema.queries").collect()
    assert any("warmup" in r[0] for r in qlog)
    cs = {r[0] for r in sess.sql(
        "SELECT character_set_name FROM information_schema.character_sets").collect()}
    assert "utf8mb4" in cs
    st = sess.sql("SELECT DISTINCT table_schema FROM information_schema.statistics").collect()
    assert {r[0] for r in st} == {"tpch"}
    mle = {r[0] for r in sess.sql("SELECT name FROM information_schema.ml_engines").collect()}
    assert {"spark_ml_linreg", "spark_ml_kmeans"} <= mle


def test_information_schema_round3_views(spark, sf_dir):
    """Round-3 breadth: EVENTS / ROUTINES / PLUGINS / ENGINES / COLLATIONS /
    KEY_COLUMN_USAGE / REFERENTIAL_CONSTRAINTS / META_* (reference:
    system_tables.py:315-782)."""
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir)

    sess.sql("CREATE JOB isv_job AS (SELECT 1) EVERY 1 hour")
    ev = sess.sql(
        "SELECT event_name, status FROM information_schema.events"
    ).collect()
    assert any(r["event_name"] == "isv_job" for r in ev)
    assert all(r["status"] == "ENABLED" for r in ev)
    sess.sql("DROP JOB isv_job")

    rn = {r[0] for r in sess.sql(
        "SELECT routine_name FROM information_schema.routines").collect()}
    assert {"llm", "to_markdown", "hash"} <= rn

    pl = {r[0] for r in sess.sql(
        "SELECT plugin_name FROM information_schema.plugins").collect()}
    assert {"parquet", "duckdb", "spark_ml_linreg"} <= pl

    eng = sess.sql("SELECT engine, support FROM information_schema.engines").collect()
    assert eng[0]["engine"] == "InnoDB"

    co = {r[0] for r in sess.sql(
        "SELECT collation_name FROM information_schema.collations").collect()}
    assert "utf8mb4_general_ci" in co

    # constraint stubs: empty rows but complete schemas (clients introspect
    # the column set even when no keys exist)
    kcu = sess.sql("SELECT * FROM information_schema.key_column_usage")
    assert kcu.count() == 0 and "referenced_column_name" in kcu.columns
    rc = sess.sql("SELECT * FROM information_schema.referential_constraints")
    assert rc.count() == 0 and "delete_rule" in rc.columns

    mt = sess.sql(
        "SELECT table_schema, table_name, row_count "
        "FROM information_schema.meta_tables WHERE table_schema = 'tpch'"
    ).collect()
    assert {r["table_name"] for r in mt} >= {"lineitem", "orders"}

    mc = sess.sql(
        "SELECT column_name, is_nullable FROM information_schema.meta_columns "
        "WHERE table_name = 'lineitem'"
    ).collect()
    assert any(r["column_name"] == "l_orderkey" for r in mc)
    assert all(r["is_nullable"] in ("YES", "NO") for r in mc)

    # column stats come from parquet FOOTER metadata (no scan jobs):
    # null_frac + min/max per registered column
    mcs = sess.sql(
        "SELECT column_name, null_frac, min_value, max_value "
        "FROM information_schema.meta_column_statistics "
        "WHERE table_name = 'orders'"
    ).collect()
    by_col = {r["column_name"]: r for r in mcs}
    assert "o_orderkey" in by_col
    assert by_col["o_orderkey"]["null_frac"] == 0.0
    assert int(by_col["o_orderkey"]["min_value"]) == 0
    assert int(by_col["o_orderkey"]["max_value"]) > 0
    mtc = sess.sql("SELECT * FROM information_schema.meta_table_constraints")
    assert mtc.count() == 0 and "constraint_type" in mtc.columns

    hi = sess.sql(
        "SELECT handler_info, table_schema FROM information_schema.meta_handler_info"
    ).collect()
    assert any(r["table_schema"] == "tpch" for r in hi)

    # SCHEMATA: the MySQL-canonical database list (SchemataTable,
    # system_tables.py:48-76)
    sch = sess.sql(
        "SELECT catalog_name, schema_name FROM information_schema.schemata"
    ).collect()
    names = {r["schema_name"] for r in sch}
    assert {"tpch", "information_schema"} <= names
    assert all(r["catalog_name"] == "def" for r in sch)

    # CHATBOTS: schema-complete empty stub (chatbot runtimes are out of
    # scope, the catalog surface is not)
    cb = sess.sql("SELECT * FROM information_schema.chatbots")
    assert cb.count() == 0 and "webhook_token" in cb.columns

    mkcu = sess.sql("SELECT * FROM information_schema.meta_key_column_usage")
    assert mkcu.count() == 0 and "referenced_column_name" in mkcu.columns


def test_mysql_client_show_commands(spark, sf_dir):
    # the introspection statements every MySQL client fires on connect
    # (command_executor.py:283-570)
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir)
    vs = {r["Variable_name"]: r["Value"] for r in sess.sql("SHOW VARIABLES").collect()}
    assert vs["version_comment"] == "mindsdb-spark" and "autocommit" in vs
    like = sess.sql("SHOW VARIABLES LIKE 'version%'").collect()
    assert {r["Variable_name"] for r in like} >= {"version", "version_comment"}
    assert sess.sql("SHOW STATUS").count() == 0
    assert sess.sql("SHOW ENGINES").collect()[0]["Engine"] == "Spark"
    cs = {r["Charset"] for r in sess.sql("SHOW CHARACTER SET").collect()}
    assert "utf8mb4" in cs
    assert sess.sql("SHOW COLLATION").count() == 2
    # SHOW PLUGINS answers information_schema.PLUGINS; SHOW SEARCH_PATH is
    # the postgres handshake constant (command_executor.py:307-314,403-409)
    assert sess.sql("SHOW PLUGINS").count() > 0
    assert sess.sql("SHOW SEARCH_PATH").collect()[0][0] == '"$user", public'
    row = sess.sql("SHOW CREATE TABLE tpch_nation").collect()[0]
    assert row["Table"] == "tpch_nation"
    assert "`n_name` string" in row["Create Table"]
    cols = [r["Field"] for r in sess.sql("SHOW COLUMNS FROM region").collect()]
    assert cols == ["r_regionkey", "r_name"]
    assert sess.sql("SHOW FULL COLUMNS IN nation FROM tpch").count() == 3
    # every spelling answers MySQL's 6-column shape and honours the db
    mysql_shape = ["Field", "Type", "Null", "Key", "Default", "Extra"]
    for stmt in ("SHOW COLUMNS IN region", "SHOW COLUMNS FROM region FROM tpch",
                 "SHOW FIELDS IN tpch.region", "DESCRIBE region", "EXPLAIN region"):
        df = sess.sql(stmt)
        assert df.columns == mysql_shape, stmt
        assert [r["Field"] for r in df.collect()] == cols, stmt
    assert sess.sql("SHOW COLUMNS FROM region FROM no_such_db").count() == 0
    st = sess.sql("SHOW TABLE STATUS FROM tpch").collect()
    assert {r["Name"] for r in st} >= {"region", "nation"} and st[0]["Engine"] == "InnoDB"
    assert sess.sql("SHOW INDEX FROM tpch_region").count() == 0


def test_show_processlist(spark, sf_dir):
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir)
    sess.sql("SELECT count(*) AS n FROM tpch_region").collect()
    rows = sess.sql("SHOW PROCESSLIST").collect()
    assert any("tpch_region" in (r["Info"] or "") for r in rows)
    assert rows[0]["Command"] == "Query"


def test_show_processlist_reports_failed_statement(spark, sf_dir):
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir)
    sess.sql("SELECT count(*) AS n FROM tpch_region").collect()
    with pytest.raises(Exception):
        sess.sql("SELECT * FROM no_such_table")
    states = {r["Info"]: r["State"] for r in sess.sql("SHOW PROCESSLIST").collect()}
    assert states["SELECT * FROM no_such_table"] == "failed"
    assert states["SELECT count(*) AS n FROM tpch_region"] == "complete"
    # the listing statement is itself still running while it answers
    assert states["SHOW PROCESSLIST"] == "running"


def test_show_tables_builds_only_its_system_view(spark, sf_dir):
    # a fresh Spark session: temp views are per session, so only the views
    # this EngineSession built are visible
    sess = EngineSession(spark.newSession())
    sess.register_parquet_source("tpch", sf_dir)

    def system_views():
        return {
            t.name for t in sess.spark.catalog.listTables()
            if t.name.startswith(("information_schema_", "mindsdb_", "log_"))
        }

    assert system_views() == set()
    tables = [r[0] for r in sess.sql("SHOW TABLES FROM tpch").collect()]
    assert "region" in tables
    assert system_views() == {"information_schema_tables"}
    # the rest of the system surface still answers, each building its own
    sess.sql("CREATE MODEL sv_m (SELECT c_acctbal AS y, c_custkey FROM tpch_customer) "
             "PREDICT y USING engine = 'spark_ml_linreg'")
    assert [r["name"] for r in sess.sql("SELECT * FROM mindsdb.models").collect()] == ["sv_m"]
    joined = sess.sql(
        "SELECT t.table_name, count(*) AS n FROM information_schema.tables t "
        "JOIN information_schema.columns c ON t.table_schema = c.table_schema "
        "AND t.table_name = c.table_name WHERE t.table_name = 'region' "
        "GROUP BY t.table_name"
    ).collect()
    assert [(r["table_name"], r["n"]) for r in joined] == [("region", 2)]
    assert any("mindsdb.models" in (r["Info"] or "")
               for r in sess.sql("SHOW PROCESSLIST").collect())
    assert {r["Name"] for r in sess.sql("SHOW TABLE STATUS FROM tpch").collect()} >= {"region"}
    assert "information_schema_meta_column_statistics" not in system_views()
    # a view over a system table no statement has named yet builds it first
    assert "information_schema_ml_engines" not in system_views()
    sess.sql("CREATE VIEW sv_engines AS SELECT name FROM information_schema.ml_engines")
    assert sess.sql("SELECT * FROM sv_engines").count() > 0


def test_show_create_columns_index_status(spark, sf_dir):
    """The rest of the MySQL-client introspection set: SHOW CREATE TABLE
    (real DDL, beyond the reference's `create table t ()` stub —
    command_executor.py:1634-1645), SHOW COLUMNS/FIELDS, SHOW INDEX,
    SHOW TABLE STATUS."""
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir)

    row = sess.sql("SHOW CREATE TABLE nation").collect()[0]
    assert row["Table"] == "nation"
    assert "CREATE TABLE `nation`" in row["Create Table"]
    assert "`n_nationkey`" in row["Create Table"]

    cols = sess.sql("SHOW COLUMNS FROM orders").collect()
    fields = [r["Field"] for r in cols]
    assert fields[0] == "o_orderkey" and "o_totalprice" in fields
    assert all(r["Type"] for r in cols)
    assert [r["Field"] for r in sess.sql("SHOW FIELDS FROM orders").collect()] == fields

    idx = sess.sql("SHOW INDEX FROM orders")
    assert idx.count() == 0 and "Key_name" in idx.columns

    st = sess.sql("SHOW TABLE STATUS LIKE 'ord%'").collect()
    assert [r["Name"] for r in st] == ["orders"] and st[0]["Engine"] == "InnoDB"
    all_st = sess.sql("SHOW TABLE STATUS").collect()
    assert len(all_st) >= 8


def test_project_virtual_tables(spark, sf_dir):
    # `SELECT * FROM mindsdb.models|jobs|agents|mdb_triggers|chatbots|skills`
    # — project-filtered information_schema routing
    # (project_datanode.py:144-152)
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir)
    sess.sql("CREATE JOB pvt_job AS (SELECT 1) EVERY 1 hour")
    jobs = sess.sql("SELECT name FROM mindsdb.jobs").collect()
    assert any(r["name"] == "pvt_job" for r in jobs)
    sess.sql("DROP JOB pvt_job")
    sess.sql("CREATE AGENT pvt_ag USING model = 'm1'")
    ags = sess.sql("SELECT name, model FROM mindsdb.agents").collect()
    assert any(r["name"] == "pvt_ag" for r in ags)
    sess.sql("DROP AGENT pvt_ag")
    assert sess.sql("SELECT * FROM mindsdb.models").columns[0] == "name"
    assert sess.sql("SELECT * FROM mindsdb.chatbots").count() == 0
    sk = sess.sql("SELECT * FROM mindsdb.skills")
    assert sk.count() == 0 and sk.columns == ["name", "project", "type", "params"]
    assert sess.sql("SELECT * FROM mindsdb.mdb_triggers").count() == 0


def test_describe_object_kinds(spark, sf_dir):
    # DESCRIBE works for every object kind (command_executor.py:882-906)
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["nation"])
    sess.sql("CREATE AGENT d_ag USING model = 'm9', retrieval_k = 4")
    row = sess.sql("DESCRIBE AGENT d_ag").collect()[0]
    assert row["model"] == "m9" and row["retrieval_k"] == 4
    sess.sql("CREATE JOB d_job AS (SELECT 1) EVERY 2 hour")
    row = sess.sql("DESCRIBE JOB d_job").collect()[0]
    assert row["every_seconds"] == 7200.0
    sess.sql("CREATE VIEW d_v AS SELECT n_name FROM tpch_nation")
    row = sess.sql("DESCRIBE VIEW d_v").collect()[0]
    assert "n_name" in row["definition"]
    row = sess.sql("DESCRIBE ML_ENGINE spark_ml_linreg").collect()[0]
    assert row["name"] == "spark_ml_linreg"
    sess.sql("CREATE DATABASE d_db WITH ENGINE = 'parquet', "
             f'PARAMETERS = {{"directory": "{sf_dir}", "tables": ["nation"]}}')
    row = sess.sql("DESCRIBE DATABASE d_db").collect()[0]
    assert row["engine"] == "parquet" and "nation" in row["parameters"]
    with pytest.raises(KeyError):
        sess.sql("DESCRIBE AGENT nope")
    sess.sql("DROP AGENT d_ag"); sess.sql("DROP JOB d_job")
    sess.sql("DROP VIEW d_v"); sess.sql("DROP DATABASE d_db")


def test_hash_comments_stripped(spark, sf_dir):
    # MySQL '#' end-of-line comments are accepted and stripped; '#' inside
    # string literals and backtick identifiers survives
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["nation"])
    rows = sess.sql(
        "SELECT n_name # trailing comment\n"
        "FROM tpch_nation # another\n"
        "WHERE n_nationkey = 3"
    ).collect()
    assert len(rows) == 1
    v = sess.sql("SELECT '#not a comment' AS v").collect()[0][0]
    assert v == "#not a comment"


def test_variables_fill_using_params(spark, sf_dir, monkeypatch):
    # SET @name + from_env("MDB_X") fill into USING params
    # (variables_controller.py:76-90; docs/mindsdb_sql/functions/variables.mdx)
    monkeypatch.setenv("MDB_TEST_MODEL", "env-model")
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["nation"])
    sess.sql("SET @my_model = 'var-model'")
    sess.sql("CREATE AGENT var_ag USING model = @my_model")
    assert sess._agents["var_ag"].model_name == "var-model"
    sess.sql('CREATE AGENT env_ag USING model = from_env("MDB_TEST_MODEL")')
    assert sess._agents["env_ag"].model_name == "env-model"
    sess.sql('SET @via_env = from_env("MDB_TEST_MODEL")')
    assert sess.sql("SELECT @@via_env AS v").collect()[0][0] == "env-model"
    # quoted '@name' stays a literal; undefined vars and non-MDB env refuse
    sess.sql("CREATE AGENT lit_ag USING model = '@my_model'")
    assert sess._agents["lit_ag"].model_name == "@my_model"
    with pytest.raises(ValueError, match="not defined"):
        sess.sql("CREATE AGENT bad USING model = @nope")
    with pytest.raises(ValueError, match="MDB_"):
        sess.sql('CREATE AGENT bad2 USING model = from_env("HOME")')
    for ag in ("var_ag", "env_ag", "lit_ag"):
        sess.sql(f"DROP AGENT {ag}")


def test_analyze_and_key_toggles(spark, sf_dir):
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["nation"])
    row = sess.sql("ANALYZE TABLE tpch_nation").collect()[0]
    assert row["Op"] == "analyze" and row["Msg_text"] == "OK"
    assert sess.sql("ALTER TABLE tpch_nation DISABLE KEYS").collect()[0][0] == "ok"
    assert sess.sql("ALTER TABLE tpch_nation ENABLE KEYS").collect()[0][0] == "ok"


def test_explain_analyze_and_show_create_variants(spark, sf_dir):
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["nation", "customer"])
    plan = sess.sql(
        "EXPLAIN ANALYZE SELECT n_regionkey, count(*) FROM tpch_nation GROUP BY n_regionkey"
    ).collect()[0][0]
    assert "HashAggregate" in plan or "Aggregate" in plan
    sess.sql("CREATE VIEW scv AS SELECT n_name FROM tpch_nation")
    row = sess.sql("SHOW CREATE VIEW scv").collect()[0]
    assert row["View"] == "scv" and "n_name" in row["Create View"]
    sess.sql("CREATE MODEL scm (SELECT c_acctbal AS y, c_custkey FROM tpch_customer) "
             "PREDICT y USING engine = 'spark_ml_linreg'")
    row = sess.sql("SHOW CREATE MODEL scm").collect()[0]
    assert row["Model"] == "scm"
    assert "PREDICT y" in row["Create Model"] and "spark_ml_linreg" in row["Create Model"]
    sess.sql("DROP VIEW scv"); sess.sql("DROP MODEL scm")


def test_pipeline_operators_as_sql_table_functions(spark, sf_dir):
    # every training-data operator is reachable from the SQL door:
    # SELECT * FROM <op>(<table>[, key = value]) [ORDER BY ...] [LIMIT n]
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["documents", "embeddings"])
    out = sess.sql("SELECT * FROM exact_dedup(tpch_documents) ORDER BY doc_id LIMIT 5")
    assert out.columns == ["doc_id", "dup_count"] and out.count() == 5
    q = sess.sql("SELECT * FROM text_quality(tpch_documents) ORDER BY doc_id")
    assert "quality_score" in q.columns
    v = sess.sql(
        "SELECT * FROM vocab_coverage(tpch_documents, vocab_size = 10) ORDER BY doc_id LIMIT 3"
    ).collect()
    assert len(v) == 3 and all(r["in_vocab"] <= r["n_tokens"] for r in v)
    sd = sess.sql(
        "SELECT * FROM semantic_dedup(tpch_embeddings, threshold = 0.35) ORDER BY vec_id"
    )
    assert sd.columns == ["vec_id", "cell", "is_dup"]
    sp = sess.sql("SELECT * FROM split_assign(tpch_documents) ORDER BY doc_id LIMIT 4")
    assert "split" in sp.columns
    with pytest.raises(ValueError, match="Python API"):
        sess.sql("SELECT * FROM connected_components(tpch_documents)")
    # unknown function names fall through to Spark (and fail there)
    with pytest.raises(Exception):
        sess.sql("SELECT * FROM not_an_op(tpch_documents)").collect()


def test_lsh_pairs_door_rejects_bands_not_dividing_lanes(spark, sf_dir):
    # band settings arrive from outside through the door: a band count that
    # does not divide the lanes is an error, not a silently different index
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["documents"])
    with pytest.raises(ValueError, match="multiple of bands"):
        sess.sql("SELECT * FROM lsh_pairs(tpch_documents, n_hashes = 16, bands = 32)")


def test_new_pipeline_table_functions_sql_door(spark, sf_dir):
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["documents", "embeddings"])
    b = sess.sql(
        "SELECT * FROM boilerplate_scrub(tpch_documents, k = 4) ORDER BY doc_id LIMIT 3"
    )
    assert set(b.columns) == {"doc_id", "n_segments", "n_removed", "clean_text"}
    d = sess.sql("SELECT * FROM dup_span_frac(tpch_documents) ORDER BY doc_id LIMIT 3")
    assert "dup_span_frac" in d.columns and d.count() == 3
    n = sess.sql(
        "SELECT * FROM nb_quality(tpch_documents, target_col = 'source', "
        "target_value = 'src0') ORDER BY doc_id LIMIT 3"
    ).collect()
    assert len(n) == 3 and all(r["pred_target"] in (True, False) for r in n)
    p = sess.sql(
        "SELECT * FROM random_project(tpch_embeddings, out_dim = 4, in_dim = 64) "
        "ORDER BY vec_id, lane LIMIT 8"
    ).collect()
    assert len(p) == 8 and {r["lane"] for r in p} == {0, 1, 2, 3}


def test_show_variables_and_warnings(spark, sf_dir):
    sess = EngineSession(spark)
    rows = sess.sql("SHOW VARIABLES").collect()
    names = {r["Variable_name"] for r in rows}
    assert "database" in names  # same dict @@database reads
    like = sess.sql("SHOW SESSION VARIABLES LIKE 'data%'").collect()
    assert {r["Variable_name"] for r in like} <= names and len(like) >= 1
    w = sess.sql("SHOW WARNINGS")
    assert w.columns == ["Level", "Code", "Message"] and w.count() == 0


def test_show_projects_chatbots_skills_predictors(spark, sf_dir):
    sess = EngineSession(spark)
    assert [r["project"] for r in sess.sql("SHOW PROJECTS").collect()] == ["mindsdb"]
    sess.sql("CREATE PROJECT analytics")
    assert [r["project"] for r in sess.sql("SHOW PROJECTS").collect()] == [
        "analytics",
        "mindsdb",
    ]
    sess.sql("DROP PROJECT analytics")
    assert [r["project"] for r in sess.sql("SHOW PROJECTS").collect()] == ["mindsdb"]
    assert sess.sql("SHOW CHATBOTS").columns == ["Chatbots"]
    assert sess.sql("SHOW SKILLS").columns == ["Skills"]
    assert sess.sql("SHOW PREDICTORS").columns == ["Models"]  # alias of MODELS


def test_round3_late_table_functions_sql_door(spark, sf_dir):
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["documents"])
    bg = sess.sql("SELECT * FROM bigram_nll(tpch_documents) ORDER BY doc_id LIMIT 3")
    assert bg.columns == ["doc_id", "n_bigrams", "nll"] and bg.count() == 3
    bpe = sess.sql("SELECT * FROM bpe_train_merges(tpch_documents, k = 3) ORDER BY rank")
    assert bpe.columns == ["rank", "lhs", "rhs", "merged", "cnt"] and bpe.count() == 3
    pb = sess.sql("SELECT * FROM perplexity_buckets(tpch_documents) ORDER BY doc_id LIMIT 5")
    assert "ppl_bucket" in pb.columns
    tm = sess.sql(
        "SELECT * FROM temperature_mixture(tpch_documents, alpha = 0.5, budget = 1000) "
        "ORDER BY source"
    ).collect()
    # per-source round-half-up drifts at most 0.5 each from the budget
    assert abs(sum(r["alloc_tokens"] for r in tm) - 1000) <= len(tm) / 2
    dw = sess.sql(
        "SELECT * FROM dsir_weights(tpch_documents, target_value = 'src0') "
        "ORDER BY doc_id LIMIT 3"
    )
    assert "weight" in dw.columns


def test_clear_cache_reclaims_operator_persists(spark, sf_dir):
    # operators persist() shared subtrees; a long-running session reclaims
    # them with Spark's native CLEAR CACHE, which the SQL door passes through.
    # KB stores are localCheckpoints that cannot be recomputed, so they
    # survive it (whatever earlier tests left stored is not counted)
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["documents"])
    sess.sql("CREATE KNOWLEDGE_BASE cc_kb USING dim = 8")
    sess.sql("INSERT INTO cc_kb SELECT doc_id, text FROM tpch_documents WHERE doc_id < 20")
    sc = spark.sparkContext._jsc.sc()

    def stored():
        return {info.id() for info in sc.getRDDStorageInfo()}

    before = stored()
    sess.sql("SELECT * FROM unigram_nll(tpch_documents) ORDER BY doc_id LIMIT 3").collect()
    persisted = stored() - before
    assert persisted
    sess.sql("CLEAR CACHE")
    assert not stored() & persisted
    hits = sess.sql("SELECT doc_id FROM cc_kb WHERE content = 'spark join' LIMIT 3").collect()
    assert len(hits) == 3
    sess.sql("DROP KNOWLEDGE_BASE cc_kb")


def test_qualify_rewrite_forms(spark, sf_dir):
    # QUALIFY (native in the reference's DuckDB executor) rewrites to the
    # subquery form; ORDER/LIMIT after it apply post-filter
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir)
    top = sess.sql(
        "SELECT o_custkey, o_orderkey FROM tpch_orders "
        "QUALIFY row_number() OVER (PARTITION BY o_custkey "
        "ORDER BY o_totalprice DESC, o_orderkey) = 1 ORDER BY o_custkey LIMIT 3"
    ).collect()
    assert len(top) == 3
    assert [r["o_custkey"] for r in top] == sorted({r["o_custkey"] for r in top})
    # the helper flag column never leaks
    df = sess.sql(
        "SELECT o_custkey FROM tpch_orders "
        "QUALIFY rank() OVER (ORDER BY o_custkey) <= 2"
    )
    assert df.columns == ["o_custkey"]
    with pytest.raises(ValueError, match="DISTINCT"):
        sess.sql("SELECT DISTINCT o_custkey FROM tpch_orders "
                 "QUALIFY row_number() OVER (ORDER BY o_custkey) = 1")
    # the word inside a string literal does not trigger the rewrite
    v = sess.sql("SELECT 'qualify me' AS s").collect()[0]["s"]
    assert v == "qualify me"


def test_star_exclude_rewrite(spark, sf_dir):
    # DuckDB `* EXCLUDE (cols)` → Spark `* EXCEPT (cols)`
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["region"])
    df = sess.sql("SELECT * EXCLUDE (r_name) FROM tpch_region ORDER BY r_regionkey")
    assert df.columns == ["r_regionkey"] and df.count() == 5
    # the set operation EXCEPT is untouched
    n = sess.sql("SELECT r_regionkey FROM tpch_region EXCEPT "
                 "SELECT r_regionkey FROM tpch_region WHERE r_regionkey > 2").count()
    assert n == 3


def test_explain_composes_with_table_functions(spark, sf_dir):
    # EXPLAIN routes through sess.sql, so it sees the table-function door too
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["documents"])
    plan = sess.sql("EXPLAIN SELECT * FROM token_stats(tpch_documents)").collect()[0][0]
    assert "Physical Plan" in plan


def test_qualify_with_star_except_projection(spark, sf_dir):
    # round-3 advice: `SELECT * EXCEPT (cols) ... QUALIFY` was misread as a
    # set operation; and a bare column named `qualify` must not engage the
    # rewrite at all
    s = EngineSession(spark)
    s.register_parquet_source("tpch", sf_dir)
    rows = s.sql(
        "SELECT * EXCEPT (n_name) FROM tpch_nation "
        "QUALIFY row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) = 1"
    ).collect()
    assert len(rows) == 5
    assert "n_name" not in rows[0].asDict()
    # identifier named qualify (projection position) passes through untouched
    from mindsdb_spark.dialect.rewriter import rewrite_qualify

    passthrough = "SELECT qualify FROM t"
    assert rewrite_qualify(passthrough) == passthrough


def test_star_exclude_inside_string_literal_untouched(spark, sf_dir):
    s = EngineSession(spark)
    s.register_parquet_source("tpch", sf_dir)
    rows = s.sql(
        "SELECT '* EXCLUDE (x)' AS lit, n_nationkey FROM tpch_nation LIMIT 1"
    ).collect()
    assert rows[0]["lit"] == "* EXCLUDE (x)"


def test_recursive_cte_through_engine_door(spark, sf_dir):
    # the reference's delegated SELECT surface (QueryStep -> DuckDB,
    # utilities/sql.py:208-352) includes recursive CTEs; Spark 4 executes
    # WITH RECURSIVE natively and the engine door passes it through with
    # source-name resolution intact (probe p73 oracle-checks the values)
    from mindsdb_spark.engine import EngineSession

    s = EngineSession(spark)
    s.register_parquet_source("tpch", sf_dir, tables=["region", "nation"])
    rows = s.sql(
        "WITH RECURSIVE walk(rk, step) AS ("
        "  SELECT CAST(r_regionkey AS INT), 1 FROM tpch_region WHERE r_name = 'ASIA'"
        "  UNION ALL SELECT rk + 4, step + 1 FROM walk WHERE step < 3"
        ") SELECT w.step, n.n_name FROM walk w "
        "JOIN tpch_nation n ON n.n_nationkey = w.rk ORDER BY w.step"
    ).collect()
    assert [r["step"] for r in rows] == [1, 2, 3]
    assert rows[0]["n_name"] == "NATION_2"


def test_round10_table_functions_sql_door(spark, sf_dir):
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["documents", "embeddings"])
    mj = sess.sql(
        "SELECT * FROM mojibake_score(tpch_documents) ORDER BY doc_id LIMIT 5"
    )
    assert mj.columns == [
        "doc_id", "n_moj2", "n_moj3", "n_c1", "n_replacement",
        "damage_per_kchar", "is_suspect",
    ]
    rows = mj.collect()
    # the fixture corpus is healthy text — zero false positives
    assert len(rows) == 5 and not any(r["is_suspect"] for r in rows)
    # knn_classify door: FROM-position table is the batch to classify,
    # labeled seed set arrives as a table-name literal
    sess.sql(
        "CREATE VIEW knn_seed AS SELECT * FROM tpch_embeddings WHERE vec_id >= 20"
    )
    sess.sql(
        "CREATE VIEW knn_batch AS SELECT * FROM tpch_embeddings WHERE vec_id < 20"
    )
    kn = sess.sql(
        "SELECT * FROM knn_classify(knn_batch, labeled_table = 'knn_seed', k = 3) "
        "ORDER BY vec_id"
    )
    assert kn.columns == ["vec_id", "predicted_label", "vote_strength"]
    out = kn.collect()
    assert len(out) == 20 and all(r["predicted_label"] is not None for r in out)
    with pytest.raises(ValueError, match="labeled_table"):
        sess.sql("SELECT * FROM knn_classify(knn_batch)")
    sess.sql("DROP VIEW knn_seed"); sess.sql("DROP VIEW knn_batch")
