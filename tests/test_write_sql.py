"""SQL write verbs (CTAS / INSERT / UPDATE / DELETE) through EngineSession."""

import pytest

from mindsdb_spark.engine import EngineSession


@pytest.fixture()
def wsess(spark, sf_dir, tmp_path):
    s = EngineSession(spark)
    s.register_parquet_source("tpch", sf_dir)
    s.register_writable_source("wh", str(tmp_path / "wh"))
    return s


def test_ctas_insert_update_delete_roundtrip(wsess):
    wsess.sql(
        "CREATE TABLE wh.top_orders AS "
        "SELECT o_orderkey, o_custkey, o_totalprice FROM tpch_orders "
        "ORDER BY o_totalprice DESC LIMIT 10"
    )
    assert wsess.sql("SELECT count(*) AS n FROM wh_top_orders").collect()[0]["n"] == 10

    wsess.sql("INSERT INTO wh.top_orders VALUES (999999, 1, 123.45), (999998, 2, 67.89)")
    assert wsess.sql("SELECT count(*) AS n FROM wh_top_orders").collect()[0]["n"] == 12

    n = wsess.sql(
        "UPDATE wh.top_orders SET o_totalprice = o_totalprice + 1 WHERE o_orderkey = 999999"
    ).collect()[0]["updated"]
    assert n == 1
    got = wsess.sql(
        "SELECT o_totalprice FROM wh_top_orders WHERE o_orderkey = 999999"
    ).collect()[0][0]
    assert abs(got - 124.45) < 1e-9

    n = wsess.sql("DELETE FROM wh.top_orders WHERE o_orderkey >= 999998").collect()[0]["deleted"]
    assert n == 2
    assert wsess.sql("SELECT count(*) AS n FROM wh_top_orders").collect()[0]["n"] == 10


def test_insert_from_select(wsess):
    wsess.sql(
        "CREATE OR REPLACE TABLE wh.eu_customers AS "
        "SELECT c_custkey, c_name FROM tpch_customer WHERE c_nationkey = 7"
    )
    before = wsess.sql("SELECT count(*) AS n FROM wh_eu_customers").collect()[0]["n"]
    wsess.sql(
        "INSERT INTO wh.eu_customers "
        "SELECT c_custkey, c_name FROM tpch_customer WHERE c_nationkey = 8"
    )
    after = wsess.sql("SELECT count(*) AS n FROM wh_eu_customers").collect()[0]["n"]
    extra = wsess.sql(
        "SELECT count(*) AS n FROM tpch_customer WHERE c_nationkey = 8"
    ).collect()[0]["n"]
    assert after == before + extra and extra > 0


def test_delete_null_predicate_keeps_rows(wsess):
    # SQL deletes only condition=TRUE rows: a NULL-evaluating predicate must
    # NOT delete the row (three-valued logic trap in survivors = ~cond)
    wsess.sql("CREATE OR REPLACE TABLE wh.nullable AS SELECT * FROM VALUES "
              "(1, 10), (2, NULL), (3, 30) AS t(id, v)")
    n = wsess.sql("DELETE FROM wh.nullable WHERE v > 15").collect()[0]["deleted"]
    assert n == 1  # only (3, 30); (2, NULL) survives
    left = sorted(r["id"] for r in wsess.sql("SELECT id FROM wh_nullable").collect())
    assert left == [1, 2]


def test_insert_column_count_mismatch_raises(wsess):
    wsess.sql("CREATE OR REPLACE TABLE wh.wide AS SELECT * FROM VALUES "
              "(1, 'a', 1.5) AS t(id, name, score)")
    with pytest.raises(ValueError, match="column"):
        wsess.sql("INSERT INTO wh.wide SELECT 2, 'b'")
    # table unchanged — no narrower-schema file appended
    assert wsess.sql("SELECT count(*) AS n FROM wh_wide").collect()[0]["n"] == 1


def test_insert_with_column_list(wsess):
    wsess.sql("CREATE OR REPLACE TABLE wh.wide2 AS SELECT * FROM VALUES "
              "(1, 'a', 1.5) AS t(id, name, score)")
    wsess.sql("INSERT INTO wh.wide2 (id, score) VALUES (2, 2.5)")
    rows = {r["id"]: (r["name"], r["score"]) for r in
            wsess.sql("SELECT * FROM wh_wide2").collect()}
    assert rows[2] == (None, 2.5)
    with pytest.raises(ValueError, match="column list"):
        wsess.sql("INSERT INTO wh.wide2 (id, name, score) VALUES (3, 'c')")


def test_delete_without_writable_source_falls_through(wsess):
    # DELETE against a non-writable table is not hijacked; Spark rejects it
    with pytest.raises(Exception):
        wsess.sql("DELETE FROM tpch_orders WHERE o_orderkey = 1").collect()


def test_drop_table_lifecycle(wsess):
    wsess.sql("CREATE TABLE wh.tmp_t AS SELECT 1 AS a")
    assert wsess.sql("SELECT count(*) AS n FROM wh_tmp_t").collect()[0]["n"] == 1
    wsess.sql("DROP TABLE wh.tmp_t")
    with pytest.raises(Exception):
        wsess.sql("SELECT * FROM wh_tmp_t").collect()
    # idempotent under IF EXISTS, error without
    wsess.sql("DROP TABLE IF EXISTS wh.tmp_t")
    with pytest.raises(KeyError):
        wsess.sql("DROP TABLE wh.tmp_t")


def test_create_empty_table_then_insert(wsess):
    wsess.sql(
        "CREATE TABLE wh.ledger (id BIGINT, name VARCHAR(40) NOT NULL, "
        "amount DECIMAL(10,2), created DATETIME, ok BOOLEAN, PRIMARY KEY (id))"
    )
    empty = wsess.sql("SELECT * FROM wh_ledger")
    assert empty.count() == 0
    types = dict(empty.dtypes)
    assert types == {
        "id": "bigint", "name": "string", "amount": "decimal(10,2)",
        "created": "timestamp", "ok": "boolean",
    }
    wsess.sql("INSERT INTO wh.ledger VALUES (1, 'a', 9.50, timestamp '2024-01-01 00:00:00', true)")
    assert wsess.sql("SELECT count(*) AS n FROM wh_ledger").collect()[0]["n"] == 1
    wsess.sql("TRUNCATE TABLE wh.ledger")
    t = wsess.sql("SELECT * FROM wh_ledger")
    assert t.count() == 0 and dict(t.dtypes)["amount"] == "decimal(10,2)"


def test_create_table_maps_mysql_blob_year_vector_types(wsess):
    # BLOB families are binary, so bytes round-trip (as string, 0xFF was lost)
    wsess.sql(
        "CREATE TABLE wh.typed (a INT, b LONGBLOB, c YEAR, d MEDIUMBLOB, "
        "e DECIMAL(12,2), f DECIMAL, g INTEGER, h REAL, i DOUBLE PRECISION, "
        "j ENUM('x','y'), k TINYTEXT)"
    )
    assert dict(wsess.sql("SELECT * FROM wh_typed").dtypes) == {
        "a": "int", "b": "binary", "c": "int", "d": "binary",
        "e": "decimal(12,2)", "f": "decimal(10,0)", "g": "int", "h": "float",
        "i": "double", "j": "string", "k": "string",
    }
    wsess.sql(
        "INSERT INTO wh.typed VALUES "
        "(1, X'00FF', 2024, X'7F80', 1.25, 3, 4, 0.5, 0.25, 'y', 't')"
    )
    row = wsess.sql("SELECT b, c, d FROM wh_typed").collect()[0]
    assert (bytes(row["b"]), row["c"], bytes(row["d"])) == (b"\x00\xff", 2024, b"\x7f\x80")
    wsess.sql("ALTER TABLE wh.typed ADD COLUMN v VECTOR")
    assert dict(wsess.sql("SELECT * FROM wh_typed").dtypes)["v"] == "array<float>"


def test_create_table_column_defaults_and_comments(wsess):
    # quoted literals in column attributes reach the door's CREATE TABLE, and
    # an " AS " inside a literal does not make the statement a CTAS
    wsess.sql(
        "CREATE TABLE wh.attrs (a INT NOT NULL DEFAULT 0 COMMENT 'key, not AS (a) name', "
        "k VARCHAR(8) DEFAULT 'x' COMMENT 'c', s SET('a','b') DEFAULT \"a\")"
    )
    assert wsess.sql("SELECT * FROM wh_attrs").dtypes == [
        ("a", "int"), ("k", "string"), ("s", "string")
    ]
    wsess.sql("INSERT INTO wh.attrs VALUES (1, 'it''s', 'b')")
    assert [tuple(r) for r in wsess.sql("SELECT * FROM wh_attrs").collect()] == [
        (1, "it's", "b")
    ]


def test_alter_table_add_drop_rename(wsess):
    wsess.sql("CREATE TABLE wh.alt AS SELECT r_regionkey, r_name FROM tpch_region")
    wsess.sql("ALTER TABLE wh.alt ADD COLUMN score DOUBLE")
    df = wsess.sql("SELECT * FROM wh_alt")
    assert dict(df.dtypes)["score"] == "double"
    assert df.filter("score IS NOT NULL").count() == 0
    wsess.sql("ALTER TABLE wh.alt RENAME COLUMN score TO rating")
    assert "rating" in wsess.sql("SELECT * FROM wh_alt").columns
    wsess.sql("ALTER TABLE wh.alt DROP COLUMN rating")
    assert wsess.sql("SELECT * FROM wh_alt").columns == ["r_regionkey", "r_name"]
    with pytest.raises(KeyError):
        wsess.sql("ALTER TABLE wh.alt DROP COLUMN nope")


def test_transaction_noops(wsess):
    for stmt in ("BEGIN", "START TRANSACTION", "COMMIT", "ROLLBACK"):
        assert wsess.sql(stmt).collect()[0]["status"] == "ok"


def test_optimize_table_compacts_files(wsess, tmp_path):
    import glob
    import os

    wsess.sql("CREATE TABLE wh.frag AS SELECT r_regionkey AS k FROM tpch_region")
    for i in range(5):  # each INSERT appends its own file(s)
        wsess.sql(f"INSERT INTO wh.frag VALUES ({100 + i})")
    root = str(tmp_path / "wh" / "frag")
    before = len(glob.glob(os.path.join(root, "*.parquet")))
    assert before >= 6
    row = wsess.sql("OPTIMIZE TABLE wh.frag INTO 1 FILE").collect()[0]
    assert (row["optimized"], row["n_files"]) == ("frag", 1)
    assert len(glob.glob(os.path.join(root, "*.parquet"))) == 1
    assert wsess.sql("SELECT count(*) AS n FROM wh_frag").collect()[0]["n"] == 10
    # metadata-derived default (tiny table -> 1 file)
    assert wsess.sql("OPTIMIZE TABLE wh.frag").collect()[0]["n_files"] == 1


def test_optimize_order_by_clusters_for_data_skipping(wsess, tmp_path):
    # sort-clustered rewrite: per-file min/max on the cluster key become
    # disjoint ranges, so a key-filtered scan can skip all but one file —
    # provable from the parquet footers alone
    import glob
    import os

    import pyarrow.parquet as pq

    wsess.sql(
        "CREATE TABLE wh.ev AS SELECT event_id, user_id, value FROM tpch_events"
    )
    row = wsess.sql("OPTIMIZE TABLE wh.ev INTO 8 FILES ORDER BY user_id").collect()[0]
    assert (row["optimized"], row["n_files"]) == ("ev", 8)
    files = sorted(glob.glob(os.path.join(str(tmp_path / "wh" / "ev"), "*.parquet")))
    assert len(files) == 8
    ranges = []
    for f in files:
        md = pq.read_metadata(f)
        stats = [md.row_group(i).column(1).statistics for i in range(md.num_row_groups)]
        assert all(s.has_min_max for s in stats)
        ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    # clustered: a point lookup on user_id touches exactly the files whose
    # [min,max] covers it — with range partitioning that's 1 (2 on a split
    # boundary) of 8
    probe = 77
    touched = sum(1 for lo, hi in ranges if lo <= probe <= hi)
    assert touched <= 2
    # ranges are totally ordered across files (repartitionByRange contract)
    assert ranges == sorted(ranges)
    # contents survived intact
    n = wsess.sql("SELECT count(*) AS n FROM wh_ev").collect()[0]["n"]
    assert n == wsess.sql("SELECT count(*) AS n FROM tpch_events").collect()[0]["n"]


def test_merge_into_upsert(wsess):
    wsess.sql(
        "CREATE TABLE wh.inv AS SELECT 1 AS id, 10.0 AS v, 'a' AS tag "
        "UNION ALL SELECT 2, 20.0, 'b'"
    )
    row = wsess.sql(
        "MERGE INTO wh.inv AS t USING "
        "(SELECT 2 AS id, 99.0 AS v, 'bb' AS tag UNION ALL SELECT 3, 30.0, 'c') AS s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v, tag = s.tag "
        "WHEN NOT MATCHED THEN INSERT *"
    ).collect()[0]
    assert (row["merged"], row["n_rows"]) == ("inv", 3)
    got = {r.id: (r.v, r.tag) for r in wsess.sql("SELECT * FROM wh_inv").collect()}
    assert got == {1: (10.0, "a"), 2: (99.0, "bb"), 3: (30.0, "c")}


def test_merge_update_only(wsess):
    wsess.sql("CREATE TABLE wh.up AS SELECT 1 AS id, 5.0 AS v UNION ALL SELECT 2, 6.0")
    wsess.sql(
        "MERGE INTO wh.up AS t USING (SELECT 1 AS id, 50.0 AS v) AS s "
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v"
    )
    got = {r.id: r.v for r in wsess.sql("SELECT * FROM wh_up").collect()}
    assert got == {1: 50.0, 2: 6.0}


def test_update_from_select(wsess):
    # reference test_executor.py:728-763: UPDATE ... SET col = df.col
    # FROM (select) AS df WHERE t.k = df.k — lowered onto the MERGE plan
    wsess.sql("CREATE TABLE wh.ws_upd AS SELECT n_nationkey AS k, n_name AS name, "
              "CAST(0 AS BIGINT) AS rank FROM tpch_nation")
    wsess.sql(
        "UPDATE wh.ws_upd SET rank = df.rk "
        "FROM (SELECT n_nationkey AS k2, n_nationkey * 10 AS rk "
        "      FROM tpch_nation WHERE n_nationkey < 5) AS df "
        "WHERE ws_upd.k = df.k2"
    )
    rows = {r["k"]: r["rank"] for r in wsess.sql("SELECT k, rank FROM wh_ws_upd").collect()}
    for k in range(5):
        assert rows[k] == k * 10  # matched rows updated from the select
    assert all(v == 0 for k, v in rows.items() if k >= 5)  # others untouched


def test_delete_with_subselect(wsess):
    # reference: DELETE subselects are planner-resolved and inlined as
    # value lists (planner/steps.py:273-278, query_planner.py:768-779)
    wsess.sql("CREATE TABLE wh.del_sub AS SELECT n_nationkey AS k, n_regionkey AS r "
              "FROM tpch_nation")
    n = wsess.sql(
        "DELETE FROM wh.del_sub WHERE k IN "
        "(SELECT n_nationkey FROM tpch_nation WHERE n_regionkey = 0)"
    ).collect()[0]["deleted"]
    assert n == 5  # five nations per region in the fixture
    assert wsess.sql("SELECT count(*) AS n FROM wh_del_sub").collect()[0]["n"] == 20
    # scalar subselect form
    n = wsess.sql(
        "DELETE FROM wh.del_sub WHERE k = (SELECT max(n_nationkey) FROM tpch_nation)"
    ).collect()[0]["deleted"]
    assert n == 1

def test_delete_subselect_never_materializes_on_driver(wsess, monkeypatch):
    # round-3 verdict item 2: `DELETE ... WHERE k IN (SELECT <big>)` must
    # plan as a left-semi/anti join, NOT a driver-collected literal list.
    # A 150k-row subselect executes with DataFrame.collect forbidden.
    wsess.sql("CREATE TABLE wh.del_big AS SELECT l_orderkey AS k, l_partkey AS p "
              "FROM tpch_lineitem")
    total = wsess.sql("SELECT count(*) AS n FROM wh_del_big").collect()[0]["n"]
    from pyspark.sql import DataFrame

    def _no_collect(self):
        raise AssertionError("driver-side collect during subselect DML")

    monkeypatch.setattr(DataFrame, "collect", _no_collect)
    res = wsess.sql(
        "DELETE FROM wh.del_big WHERE k IN (SELECT o_orderkey FROM tpch_orders "
        "WHERE o_orderstatus = 'F')"
    )
    monkeypatch.undo()
    n = res.collect()[0]["deleted"]
    left = wsess.sql("SELECT count(*) AS n FROM wh_del_big").collect()[0]["n"]
    expect = wsess.spark.sql(
        "SELECT count(*) AS n FROM tpch_lineitem l JOIN tpch_orders o "
        "ON l.l_orderkey = o.o_orderkey WHERE o.o_orderstatus = 'F'"
    ).collect()[0]["n"]
    assert n == expect and left == total - expect and n > 1000


def test_delete_not_in_subselect_null_semantics(wsess):
    # `x NOT IN (sub)` is never TRUE when sub contains a NULL — the
    # temp-view subquery inherits Spark's standard 3VL, which literal
    # inlining had to emulate
    wsess.sql("CREATE OR REPLACE TABLE wh.ni AS SELECT * FROM VALUES "
              "(1), (2), (3) AS t(k)")
    wsess.sql("CREATE OR REPLACE TABLE wh.probe AS SELECT * FROM VALUES "
              "(1), (NULL) AS t(v)")
    n = wsess.sql(
        "DELETE FROM wh.ni WHERE k NOT IN (SELECT v FROM wh_probe)"
    ).collect()[0]["deleted"]
    assert n == 0  # NULL in the probe set → NOT IN never TRUE
    wsess.sql("DELETE FROM wh.probe WHERE v IS NULL")
    n = wsess.sql(
        "DELETE FROM wh.ni WHERE k NOT IN (SELECT v FROM wh_probe)"
    ).collect()[0]["deleted"]
    assert n == 2  # 2 and 3 go; 1 matches the probe


def test_update_with_subselect_condition(wsess):
    wsess.sql("CREATE OR REPLACE TABLE wh.upd_sub AS SELECT n_nationkey AS k, "
              "0 AS flag FROM tpch_nation")
    n = wsess.sql(
        "UPDATE wh.upd_sub SET flag = 1 WHERE k IN "
        "(SELECT n_nationkey FROM tpch_nation WHERE n_regionkey = 2)"
    ).collect()[0]["updated"]
    assert n == 5
    got = wsess.sql("SELECT sum(flag) AS s FROM wh_upd_sub").collect()[0]["s"]
    assert got == 5


def test_delete_string_literal_containing_select_untouched(wsess):
    # a literal that LOOKS like a subselect must not be executed/rewritten
    wsess.sql("CREATE OR REPLACE TABLE wh.lit AS SELECT * FROM VALUES "
              "(1, '(select secret)'), (2, 'plain') AS t(id, note)")
    n = wsess.sql(
        "DELETE FROM wh.lit WHERE note = '(select secret)' AND id IN "
        "(SELECT 1)"
    ).collect()[0]["deleted"]
    assert n == 1
    left = wsess.sql("SELECT note FROM wh_lit").collect()
    assert [r["note"] for r in left] == ["plain"]


def test_write_verbs_never_reach_paths_outside_the_source(wsess, tmp_path):
    # a backticked name carrying a path must not become a table of the
    # writable source: every verb leaves the outside directory untouched
    outside = tmp_path / "outside"
    outside.mkdir()
    (outside / "keep.txt").write_text("keep")
    name = f"`wh.{outside}`"
    for stmt in (
        f"DROP TABLE {name}",
        f"DROP TABLE IF EXISTS {name}",
        f"CREATE TABLE {name} (a int)",
        f"CREATE OR REPLACE TABLE {name} AS SELECT 1 AS a",
        f"TRUNCATE TABLE {name}",
        f"INSERT INTO {name} VALUES (1)",
        f"DELETE FROM {name} WHERE a = 1",
        "DROP TABLE ..",
        "TRUNCATE TABLE wh_..",
    ):
        try:
            wsess.sql(stmt).collect()
        except Exception:
            pass
        assert (outside / "keep.txt").read_text() == "keep", stmt
        assert sorted(p.name for p in outside.iterdir()) == ["keep.txt"], stmt
    assert (tmp_path / "wh").is_dir()


def test_system_commands_reject_quoted_names(wsess):
    # a backticked name cannot smuggle a quote into the SQL the SHOW /
    # USE commands build from it
    for stmt in ("SHOW TABLES FROM `x' OR '1'='1`",
                 "SHOW TABLE STATUS FROM `x' OR '1'='1`",
                 "SHOW COLUMNS FROM `x' OR '1'='1`"):
        try:
            rows = wsess.sql(stmt).collect()
        except Exception:
            continue
        assert rows == [], stmt
    try:
        wsess.sql("USE `x' OR '1'='1`")
    except Exception:
        pass
    assert "'" not in str(wsess.session_vars.get("database"))
