"""``sql_door``: one analyst in a closed loop sending every statement class
of the SQL door through ``POST /api/sql/query``.

Per-statement fixed cost (HTTP server, engine routing, dialect rewrite,
Catalyst) dominates; execution over the star schema is light."""

from __future__ import annotations

import os
import random

from common import WORK, duckdb_connect, post_sql, same_rows

SCALE = 0.2  # x sf0.1 row counts: 30k orders, ~120k lineitem, 1k documents
FILES = 2
N_CUST, N_ORD, N_DOC = int(15000 * SCALE), int(150000 * SCALE), int(5000 * SCALE)
KB_DOCS = N_DOC // 2  # documents in the knowledge base
TABLES = ["nation", "customer", "orders", "lineitem", "documents"]
VOCAB = ["spark", "join", "data", "query", "stream", "window", "vector", "hash",
         "merge", "order", "table", "filter", "group", "batch", "scan", "sort"]
DUCK_TABLES = ["nation", "customer"]  # the native (pushdown) source

CLASSES = ["show", "point", "filter_group", "join3", "window", "mysql_fn",
           "pushdown", "model_join", "kb_search"]


def _day(rng) -> str:
    import datetime

    d = datetime.date(1995, 1, 1) + datetime.timedelta(days=rng.randrange(0, 2100))
    return d.isoformat()


def statements(rng: random.Random) -> list[tuple[str, str, str | None]]:
    """One round: (class, door SQL, DuckDB oracle SQL or None)."""
    k = rng.randrange(N_ORD - 50)
    d = _day(rng)
    c = rng.randrange(N_CUST - 40)
    seg = rng.choice(["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"])
    nk = rng.randrange(20)
    words = " ".join(rng.sample(VOCAB, 3))
    point = (f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority "
             f"FROM tpch_orders WHERE o_orderkey = {k}")
    fg = ("SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS total "
          "FROM tpch_orders WHERE o_orderdate >= TIMESTAMP '{d}' "
          "AND o_orderdate < TIMESTAMP '{d}' + INTERVAL 90 DAY "
          "GROUP BY o_orderpriority")
    j3 = ("SELECT n.n_name, COUNT(*) AS n_lines, SUM(l.l_quantity) AS qty "
          "FROM tpch_customer c JOIN tpch_orders o ON c.c_custkey = o.o_custkey "
          "JOIN tpch_lineitem l ON l.l_orderkey = o.o_orderkey "
          "JOIN tpch_nation n ON n.n_nationkey = c.c_nationkey "
          "WHERE c.c_mktsegment = '{seg}' AND o.o_orderdate >= TIMESTAMP '{d}' "
          "AND o.o_orderdate < TIMESTAMP '{d}' + INTERVAL 30 DAY GROUP BY n.n_name")
    win = ("SELECT o_custkey, o_orderkey, o_totalprice, "
           "RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk, "
           "SUM(o_totalprice) OVER (PARTITION BY o_custkey) AS cust_total "
           "FROM tpch_orders WHERE o_custkey BETWEEN {c} AND {c2}")
    push = ("SELECT n_regionkey, COUNT(*) AS n_cust, MIN(c_acctbal) AS lo "
            "FROM duck_customer JOIN duck_nation ON c_nationkey = n_nationkey "
            "WHERE n_nationkey >= {nk} GROUP BY n_regionkey")
    return [
        ("show", "SHOW TABLES FROM tpch", None),
        ("point", point, point.replace("tpch_", "")),
        ("filter_group", fg.format(d=d), fg.format(d=d).replace("tpch_", "")),
        ("join3", j3.format(seg=seg, d=d), j3.format(seg=seg, d=d).replace("tpch_", "")),
        ("window", win.format(c=c, c2=c + 30), win.format(c=c, c2=c + 30).replace("tpch_", "")),
        ("mysql_fn",
         "SELECT o_orderkey, DATE_FORMAT(o_orderdate, '%Y-%m') AS ym, "
         "IFNULL(o_orderpriority, 'none') AS prio FROM tpch_orders "
         f"WHERE o_orderkey BETWEEN {k} AND {k + 49}",
         "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS ym, "
         "coalesce(o_orderpriority, 'none') AS prio FROM orders "
         f"WHERE o_orderkey BETWEEN {k} AND {k + 49}"),
        ("pushdown", push.format(nk=nk),
         push.format(nk=nk).replace("duck_", "")),
        ("model_join",
         "SELECT t.o_orderkey, m.price FROM tpch_orders t JOIN price_model m "
         f"WHERE t.o_orderkey BETWEEN {k} AND {k + 19}", None),
        ("kb_search",
         f"SELECT doc_id, distance FROM kb WHERE content = '{words}' LIMIT 5", None),
    ]


class SqlDoor:
    name = "sql_door"
    oracle_s = 0.0  # answers are checked after the window
    warmup_rounds = 2  # see README: round walls level off by the second round

    def __init__(self, seed: int):
        self.seed = seed
        self.data = os.path.join(WORK, f"data-{os.getpid()}")
        self.rng = random.Random(seed)
        self.checks: list[tuple[str, str, str | None, dict]] = []

    # -- outside setup_s ------------------------------------------------------
    def prepare(self, spark) -> None:
        from mindsdb_spark.fixtures import generate_sf

        generate_sf(spark, self.data, scale=SCALE, seed=self.seed, files=FILES,
                    tables=set(TABLES))

    # -- counted in setup_s ---------------------------------------------------
    def setup(self, spark, tracer) -> None:
        from mindsdb_spark.engine import EngineSession
        from mindsdb_spark.server import SQLServer
        from mindsdb_spark.sources.duckdb_source import DuckDBSource

        sess = EngineSession(spark)
        sess.register_parquet_source("tpch", self.data, tables=TABLES)
        sess.register_native_source(
            "duck", DuckDBSource.from_parquet_dir(spark, self.data, tables=DUCK_TABLES))
        sess.sql("CREATE MODEL price_model (SELECT o_custkey, o_orderkey, o_totalprice AS price "
                 "FROM tpch_orders WHERE o_orderkey < 5000) PREDICT price "
                 "USING engine = 'spark_ml_linreg'").collect()
        sess.sql("CREATE KNOWLEDGE_BASE kb USING dim = 32, embedder = 'hash', "
                 "chunk_size = 400, chunk_overlap = 0").collect()
        sess.sql(f"INSERT INTO kb SELECT doc_id, text FROM tpch_documents "
                 f"WHERE doc_id < {KB_DOCS}").collect()
        tracer.instrument_session(sess)
        self.sess = sess
        self.kb_rows = self.store_rows()
        self.server = SQLServer(sess).start()
        self.url = f"http://{self.server.host}:{self.server.port}/api/sql/query"

    def round(self, run_op) -> None:
        for cls, q, oracle in statements(self.rng):
            out = run_op(cls, lambda q=q: post_sql(self.url, q))
            if out is not None:
                self.checks.append((cls, q, oracle, out))

    def store_rows(self) -> int:
        return self.sess._kbs["kb"]["store"].count()

    def throughput(self, timed, walls, window_s) -> float:
        """Statements per second of a median timed round."""
        from common import median

        return len(CLASSES) / median(walls)

    def close(self) -> None:
        if getattr(self, "server", None) is not None:
            self.server.stop()

    # -- output checks (after the timed window) --------------------------------
    def verify(self) -> list[str]:
        con = duckdb_connect(self.data, TABLES)
        bad = []
        if self.store_rows() != self.kb_rows:
            bad.append("kb: store row count changed after set-up")
        for cls, q, oracle, out in self.checks:
            cols, rows = out["column_names"], out["data"]
            if oracle is not None:
                exp = con.sql(oracle).fetchall()
                ok = same_rows(rows, exp)
            elif cls == "show":  # the registered table list
                ok = sorted(r[0] for r in rows) == sorted(TABLES)
            elif cls == "model_join":  # one prediction per input row
                ok = (cols == ["o_orderkey", "price"] and len(rows) == 20
                      and all(isinstance(r[1], float) for r in rows))
            else:  # kb_search: LIMIT rows, nearest first
                dist = [r[1] for r in rows]
                ok = len(rows) == 5 and dist == sorted(dist)
            if not ok:
                bad.append(f"{cls}: {q[:120]}")
        return bad
