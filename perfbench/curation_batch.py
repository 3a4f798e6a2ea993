"""``curation_batch``: a curation engineer running the dedup and quality
pipelines of the registry over one document corpus, each forced with the
``noop`` sink. The HTTP server and the SQL door are bypassed; operator and
shuffle execution dominate.

The first warm-up round checks every answer against the registry's DuckDB
oracle. Every later run of a pipeline counts the rows the noop sink receives
(an ``Observation`` on the written DataFrame, no extra job) and checks the
count against that oracle's."""

from __future__ import annotations

import os
import time

from common import WORK, duckdb_connect

SCALE = 0.2  # x sf0.1 row counts: 1,000 documents
DOCS = int(5000 * SCALE)
FILES = 2
PIPELINES = ["d32_curation_pipeline", "d44_curation_v2", "d06_jaccard_topk",
             "d24_dedup_clusters", "d05_minhash_sig"]


class CurationBatch:
    name = "curation_batch"
    warmup_rounds = 3  # the first checks every answer against the oracle

    def __init__(self, seed: int):
        self.seed = seed
        self.data = os.path.join(WORK, f"data-{os.getpid()}")
        self.bad: list[str] = []
        self.oracle_s = 0.0
        self.rounds = 0
        self.rows: dict[str, int] = {}  # oracle row count per pipeline

    def prepare(self, spark) -> None:
        from mindsdb_spark.fixtures import generate_sf

        generate_sf(spark, self.data, scale=SCALE, seed=self.seed, files=FILES,
                    tables={"documents"})

    def setup(self, spark, tracer) -> None:
        import __spark_entry__ as entry

        self.spark, self.tracer = spark, tracer
        qs, osql = entry.queries(), entry.oracle_sql()
        self.fns = {k: qs[k] for k in PIPELINES}
        self.oracle = {k: osql[k] for k in PIPELINES}

    def _oracle(self, sql: str, sf_dir: str):
        """``compare.duckdb_oracle`` over the tables the corpus directory
        has (the stock one opens a view on every star-schema table). Its run
        time is input preparation, not set-up: it is taken out of
        ``setup_s``."""
        t = time.monotonic()
        con = duckdb_connect(sf_dir, ["documents"])
        try:
            exp = con.sql(sql).df()
            self._oracle_rows = len(exp)
            return exp
        finally:
            con.close()
            self.oracle_s += time.monotonic() - t

    def _check(self, key, df) -> None:
        from mindsdb_spark import compare

        orig, compare.duckdb_oracle = compare.duckdb_oracle, self._oracle
        try:
            ok, why = compare.compare(df, self.oracle[key], self.data)
        finally:
            compare.duckdb_oracle = orig
        if ok:
            self.rows[key] = self._oracle_rows
        else:
            self.bad.append(f"{key}: {why}")

    def round(self, run_op) -> None:
        first = self.rounds == 0
        self.rounds += 1
        for key in PIPELINES:
            run_op(key, lambda key=key: self._run(key, check=first))

    def _run(self, key: str, check: bool) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        with self.tracer.span("queries.build"):
            df = self.fns[key](self.spark, self.data)
        if check:
            self._check(key, df)
            return
        with self.tracer.span("trace.replan") as sp:
            if sp is not None:
                # the write plans its own QueryExecution, whose phases cannot
                # be read from Python: plan the returned DataFrame once more,
                # outside exec.run, to read the same query's Catalyst phases
                df._jdf.queryExecution().executedPlan()
                self.tracer.record_phases(sp, df)
        obs = Observation(f"rows_{key}_{self.rounds}")
        with self.tracer.span("exec.run"):
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                "noop").mode("overwrite").save()
        n = obs.get["n"]
        if n != self.rows.get(key):
            self.bad.append(f"{key} round {self.rounds}: {n} rows, "
                            f"oracle {self.rows.get(key)}")

    def throughput(self, timed, walls, window_s) -> float:
        """Documents processed per second: docs x pipelines / median round."""
        from common import median

        return DOCS * len(PIPELINES) / median(walls)

    def close(self) -> None:
        pass

    def verify(self) -> list[str]:
        return self.bad
