"""Rows the driver holds become Arrow ``LocalRelation`` frames (``local_frame``).

A Python list handed to Spark's frame constructor becomes a pickled Python
RDD, so every read of it runs a job and starts a Python worker. These tests
pin the three halves of the switch: no module builds a frame any other way,
the answers the door and the KB search give need no job, and ``local_frame``
gives the same schema and rows as Spark's list path.
"""

import ast
import datetime
import decimal
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from mindsdb_spark.engine import _SHOW_DATA, _SYSTEM_VIEWS, EngineSession
from mindsdb_spark.session import local_frame

PACKAGE = Path(__file__).resolve().parent.parent / "mindsdb_spark"


# -- guard: one constructor ------------------------------------------------------
def _constructor_uses() -> list[str]:
    """Every `createDataFrame` reference under the package outside the body of
    `session.local_frame`."""
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed = set()
        if path.name == "session.py" and path.parent == PACKAGE:
            for node in tree.body:
                if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                    allowed = {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            name = node.attr if isinstance(node, ast.Attribute) else getattr(node, "id", None)
            if name == "createDataFrame" and id(node) not in allowed:
                found.append(f"{path.relative_to(PACKAGE.parent)}:{node.lineno}")
    return found


def test_frames_are_built_only_by_local_frame():
    found = _constructor_uses()
    assert not found, "frame built outside session.local_frame:\n" + "\n".join(found)


# -- job counts ------------------------------------------------------------------
def _jobs(spark, fn, tag: str) -> int:
    """Spark jobs started while ``fn`` runs, counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(tag))


@pytest.fixture(scope="module")
def jsess(spark, sf_dir):
    s = EngineSession(spark)
    s.register_parquet_source("tpch", sf_dir)
    return s


@pytest.mark.parametrize(
    "stmt, n_rows",
    [("SHOW TABLES", 0), ("SHOW TABLES FROM tpch", None), ("SHOW VARIABLES", None),
     ("BEGIN", 1)],
)
def test_door_answers_run_no_job(spark, jsess, stmt, n_rows):
    rows = []
    assert _jobs(spark, lambda: rows.extend(jsess.sql(stmt).collect()), f"door-{stmt}") == 0
    assert len(rows) == n_rows if n_rows is not None else len(rows) > 1
    # SHOW answers keep MySQL's order without an ORDER BY job
    assert rows == sorted(rows)


@pytest.mark.parametrize("embedder", ["hash", "md5", "hash_tfidf"])
def test_kb_query_embedding_runs_no_job_and_matches_list_path(spark, jsess, embedder):
    kb_name = f"lf_{embedder}"
    jsess.sql(f"CREATE KNOWLEDGE_BASE {kb_name} USING dim = 16, embedder = '{embedder}'")
    jsess.sql(
        f"INSERT INTO {kb_name} SELECT doc_id, text FROM tpch_documents WHERE doc_id < 30"
    )
    kb = jsess._kbs[kb_name]
    text = "spark joins, fast — naïve query"
    got = []
    assert _jobs(spark, lambda: got.extend(jsess._kb_embed_query(kb, text)),
                 f"embed-{embedder}") == 0
    # bit-identical to the embedding of the same text as a Python-RDD frame
    old = jsess._kb_embed_fn(kb)(
        spark.createDataFrame([(text,)], "chunk_text string"), dim=kb["dim"]
    ).head()["embedding"]
    assert got == [float(x) for x in old]


def test_kb_search_after_one_insert_runs_one_job(spark, jsess):
    jsess.sql("CREATE KNOWLEDGE_BASE lf_search USING dim = 32, embedder = 'hash', "
              "chunk_size = 400, chunk_overlap = 0")
    jsess.sql("INSERT INTO lf_search SELECT doc_id, text FROM tpch_documents WHERE doc_id < 60")
    q = "SELECT doc_id, distance FROM lf_search WHERE content = 'spark join' LIMIT 5"
    rows = []
    assert _jobs(spark, lambda: rows.extend(jsess.sql(q).collect()), "kb-search") == 1
    assert len(rows) == 5
    assert [r["distance"] for r in rows] == sorted(r["distance"] for r in rows)


# -- parity with Spark's list path -----------------------------------------------
def _door_ddls() -> list[str]:
    """Every DDL schema string the door builds frames in: the SHOW constants,
    the system views, and the literal schemas of `_row` and `local_frame`
    calls in engine.py."""
    ddls = {schema for answer in _SHOW_DATA.values() if isinstance(answer, tuple)
            for schema in [answer[1]]}
    ddls |= {schema for _build, schema in _SYSTEM_VIEWS.values() if schema}
    tree = ast.parse((PACKAGE / "engine.py").read_text())
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call) or not isinstance(node.func, (ast.Name, ast.Attribute)):
            continue
        fname = node.func.id if isinstance(node.func, ast.Name) else node.func.attr
        pos = {"_row": 0, "local_frame": 2}.get(fname)
        if pos is not None and len(node.args) > pos:
            arg = node.args[pos]
            if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
                ddls.add(arg.value)
    return sorted(ddls)


_SAMPLES = {
    T.StringType: "naïve, 'quoted'",
    T.IntegerType: -7,
    T.LongType: 2**40 + 3,
    T.ShortType: 12,
    T.ByteType: -3,
    T.DoubleType: 0.1,
    T.FloatType: 0.1,
    T.BooleanType: True,
    T.TimestampType: datetime.datetime(2024, 2, 29, 23, 59, 58, 123456),
    T.DateType: datetime.date(2024, 2, 29),
    T.BinaryType: bytearray(b"\x00\xff"),
}


def _sample(dt):
    if isinstance(dt, T.ArrayType):
        return [_sample(dt.elementType), None if dt.containsNull else _sample(dt.elementType)]
    if isinstance(dt, T.DecimalType):
        return decimal.Decimal("1.25")
    return _SAMPLES[type(dt)]


def _assert_parity(spark, rows, schema):
    new = local_frame(spark, rows, schema)
    old = spark.createDataFrame(rows, schema)
    assert new.schema == old.schema  # names, types and nullability
    assert new.collect() == old.collect()
    assert "LocalRelation" in new._jdf.queryExecution().analyzed().toString()
    return new


def test_door_ddls_are_found():
    ddls = _door_ddls()
    assert "Variable_name string, Value string" in ddls
    assert "chunk_id string, doc_id long, chunk_text string, embedding array<float>" in ddls
    assert len(ddls) >= 30


@pytest.mark.parametrize("ddl", _door_ddls())
def test_local_frame_matches_list_path_for_door_schemas(spark, ddl):
    struct = spark._parse_ddl(ddl)
    full = tuple(_sample(f.dataType) for f in struct)
    nulls = (None,) * len(struct)
    _assert_parity(spark, [full, nulls], ddl)
    assert _assert_parity(spark, [], ddl).count() == 0


def test_local_frame_matches_list_path_for_typed_columns(spark):
    ddl = "v array<float>, ts timestamp, ok boolean, n int"
    rows = [
        ([0.1, 1.5, -2.25], datetime.datetime(2023, 12, 31, 23, 59, 59, 999999), True, 1),
        ([], datetime.datetime(1970, 1, 1), False, -(2**31)),
        (None, None, None, None),
    ]
    _assert_parity(spark, rows, ddl)
    struct = T.StructType([
        T.StructField("v", T.ArrayType(T.FloatType(), False), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("n", T.IntegerType(), False),
    ])
    _assert_parity(spark, rows[:2], struct)
    _assert_parity(spark, [], struct)


def test_local_frame_matches_list_path_for_row_inputs(spark):
    rows = [Row(k="a", n=1, x=0.5), Row(k="b", n=None, x=-1.0)]
    _assert_parity(spark, rows, "k string, n long, x double")
    _assert_parity(spark, rows, None)
    # rows collected from a frame, rebuilt under that frame's schema
    src = spark.range(3).selectExpr("id", "cast(id AS string) AS s", "id * 0.5 AS h")
    _assert_parity(spark, src.collect(), src.schema)


def test_local_frame_matches_list_path_for_name_list_schema(spark):
    # the one-shot predict input: one tuple of literal values, column names only
    row = {"o_custkey": 7, "o_orderkey": 2**35, "price": 12.5, "tag": "x", "ok": False}
    _assert_parity(spark, [tuple(row.values())], list(row))
    _assert_parity(spark, [(1, "a"), (2, None)], ("n", "s"))
