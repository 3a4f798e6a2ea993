"""Native-SQL source exemplar: an embedded DuckDB database.

The reference federates ~200 handlers; when a query touches exactly one
SQL-capable integration it sends the WHOLE query to that engine instead of
fetching tables and executing locally (reference:
mindsdb/api/executor/planner/query_planner.py:787-807 —
check_single_integration — wired in from_query at 885-897; per-table
fetches otherwise go through FetchDataframeStep).

This class is the Spark-side shape of such an integration, playable by any
engine that can run SQL and speak Arrow:

* ``read(table)``  — the federated path: one table as a Spark DataFrame.
  Here the whole table crosses as one Arrow batch; a JDBC-backed source
  returns ``spark.read.jdbc(..., partitionColumn=...)`` lazily instead, so
  Catalyst still sees a scan it can push filters into. The interface is
  the contract, not the transfer.
* ``query(sql)``   — the pushdown path: the source engine executes the
  full statement and the *result* (usually post-aggregation, so small)
  crosses back as one Arrow table. This is exactly the reference's
  single-integration fast path; correctness never depends on it — the
  engine falls back to the federated plan if the source errors.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from mindsdb_spark.catalog import TPCH_TABLES
from mindsdb_spark.session import local_frame


class DuckDBSource:
    dialect = "duckdb"

    def __init__(self, spark: SparkSession, database: str = ":memory:"):
        import duckdb

        self.spark = spark
        self.con = duckdb.connect(database)
        self.pushdowns = 0  # observability: how many whole queries we served

    @classmethod
    def from_parquet_dir(
        cls, spark: SparkSession, directory: str, tables=TPCH_TABLES
    ) -> "DuckDBSource":
        """An in-memory DuckDB exposing the fixture parquet as its tables —
        the test stand-in for a remote SQL database."""
        src = cls(spark)
        for t in tables:
            path = os.path.join(directory, f"{t}.parquet")
            if os.path.isdir(path):  # multi-file table (split layout)
                src.con.execute(
                    f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{path}/*.parquet')"
                )
            elif os.path.exists(path):
                src.con.execute(
                    f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )
        return src

    def tables(self) -> list[str]:
        rows = self.con.execute(
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_schema = 'main' ORDER BY 1"
        ).fetchall()
        return [r[0] for r in rows]

    def read(self, table: str) -> DataFrame:
        return local_frame(self.spark, self.con.execute(f"SELECT * FROM {table}").arrow())

    def query(self, sql: str) -> DataFrame:
        out = local_frame(self.spark, self.con.execute(sql).arrow())
        self.pushdowns += 1  # counts served queries, not attempts
        return out
