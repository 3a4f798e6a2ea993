"""Writable parquet-backed source — the exemplar integration.

The reference's write path renders INSERT / CREATE TABLE / UPDATE / DELETE
against the remote integration (reference:
mindsdb/api/executor/sql_query/steps/insert_step.py:13-124,
update_step.py:16-127, delete_step.py:18-48; DDL generation
integration_datanode.py:162-244). Here the same verbs operate on a managed
parquet directory with Spark writers:

* insert      → df.write.mode("append")
* CTAS        → df.write.mode("overwrite"/"errorifexists")  (SaveToTable
                is_replace semantics, planner/steps.py:228-261)
* delete      → read → anti-filter → atomic directory swap
* update      → read → conditional column replace → atomic swap

Parquet files are immutable, so UPDATE/DELETE are copy-on-write table
rewrites — the same mechanics a lakehouse table format performs per-file;
swapping at directory granularity keeps the exemplar simple. A JDBC-backed
source implements the same interface with pushed-down statements.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ParquetSource:
    """A named collection of writable parquet tables under one directory."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, table: str) -> str:
        # a table is one directory directly under the root, never a path
        if os.path.basename(table) != table or table.strip(".") == "":
            raise ValueError(f"invalid table name {table!r}")
        return os.path.join(self.root, table.lower())

    def tables(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root) if os.path.isdir(os.path.join(self.root, d))
        )

    def exists(self, table: str) -> bool:
        return os.path.isdir(self._path(table))

    def read(self, table: str) -> DataFrame:
        if not self.exists(table):
            raise KeyError(f"table {table!r} does not exist")
        return self.spark.read.parquet(self._path(table))

    # -- sinks ---------------------------------------------------------------
    def create_table(
        self,
        table: str,
        df: DataFrame,
        replace: bool = False,
        partition_by: list[str] | None = None,
    ) -> None:
        """CREATE TABLE [OR REPLACE] … AS SELECT.

        ``partition_by`` writes hive-style partition directories so later
        filters on the partition columns prune at file-listing time
        (PartitionFilters in the scan) — the layout decision that matters
        most at 100 TB."""
        mode = "overwrite" if replace else "errorifexists"
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self._path(table))

    def insert(self, table: str, df: DataFrame) -> None:
        """INSERT INTO … (append)."""
        df.write.mode("append").parquet(self._path(table))

    def suggest_file_count(self, table: str, target_bytes: int = 128 * 1024 * 1024) -> int:
        """Files needed to hit ~target_bytes per file (from directory
        metadata only — no data scan)."""
        total = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _dirs, files in os.walk(self._path(table))
            for f in files
            if f.endswith(".parquet")
        )
        return max(1, -(-total // target_bytes))

    def overwrite(self, table: str, df: DataFrame) -> int:
        """Replace a table's contents with ``df`` (copy-on-write + atomic
        swap — safe when ``df`` reads from the table itself, unlike a
        direct overwrite of the path being scanned)."""
        return self._rewrite(table, df)

    def drop_table(self, table: str, if_exists: bool = False) -> None:
        """DROP TABLE [IF EXISTS] (reference: command_executor.py DropTables
        branch — drops against the integration; here the parquet dir)."""
        if not self.exists(table):
            if if_exists:
                return
            raise KeyError(f"table {table!r} does not exist")
        shutil.rmtree(self._path(table))

    def delete(self, table: str, condition) -> int:
        """DELETE FROM table WHERE condition; returns rows deleted.

        Copy-on-write: survivors are rewritten to a fresh directory which
        atomically replaces the old one.
        """
        from pyspark.sql import Observation

        # deleted-row count rides the write pass as an observed metric on
        # the pre-filter rows — no separate count() scan (round-3 scale nit).
        # The condition is materialized as a projected column first: Spark
        # allows IN/scalar subqueries in projections but not inside a
        # CollectMetrics expression, and the engine's DML-subselect path
        # hands us conditions carrying temp-view subqueries.
        hit = F.coalesce(condition, F.lit(False))
        obs = Observation()
        df = self.read(table).withColumn("__hit__", hit)
        df = df.observe(obs, F.sum(F.col("__hit__").cast("long")).alias("n"))
        # SQL deletes only condition=TRUE rows; a bare ~condition would also
        # drop NULL-predicate rows under three-valued logic
        survivors = df.filter(~F.col("__hit__")).drop("__hit__")
        self._rewrite(table, survivors)
        return int(obs.get["n"] or 0)

    def update(self, table: str, set_map: dict, condition) -> int:
        """UPDATE table SET col=expr WHERE condition; returns rows updated.

        The updated-row count is an observed metric on the single rewrite
        pass — no pre-count scan."""
        from pyspark.sql import Observation

        # condition projected to a column first — see delete() (subquery
        # conditions are legal in projections, not in CollectMetrics)
        obs = Observation()
        df = self.read(table).withColumn(
            "__hit__", F.coalesce(condition, F.lit(False))
        )
        df = df.observe(obs, F.sum(F.col("__hit__").cast("long")).alias("n"))
        for colname, expr in set_map.items():
            df = df.withColumn(
                colname, F.when(F.col("__hit__"), expr).otherwise(F.col(colname))
            )
        self._rewrite(table, df.drop("__hit__"))
        return int(obs.get["n"] or 0)

    def _rewrite(self, table: str, df: DataFrame) -> int:
        from pyspark.sql import Observation

        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        tmp = self._path(table) + f".tmp-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(tmp)
        old = self._path(table)
        back = old + ".old"
        os.rename(old, back)
        os.rename(tmp, old)
        shutil.rmtree(back)
        return int(obs.get["n"] or 0)
