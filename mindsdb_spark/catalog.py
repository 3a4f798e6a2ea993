"""Federated source catalog.

The reference resolves three-part names ``datasource.schema.table`` against a
registry of integrations and projects, lower-casing unquoted identifiers
(reference: mindsdb/api/executor/planner/query_planner.py:270-299,64-78).

Here every registered source contributes lazily-read DataFrames to a session
catalog; queries see them both as bare names (``lineitem``) and as federated
names (``tpch.lineitem``). A source is anything that yields a DataFrame per
table — parquet directories now; a JDBC source follows the same shape
(``spark.read.jdbc`` with partitionColumn for parallel scans).

Scale note: registration is metadata-only (no IO). Reads stay lazy so
Catalyst pushes filters/column pruning into the parquet scan; nothing is
materialized at catalog time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Tables the driver materializes per scale factor (TESTDATA.md).
TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Columns written by the data generator as parquet TIMESTAMP(NANOS), which
# Spark's vectorized reader rejects (PARQUET_TYPE_ILLEGAL). We read them as
# raw int64 nanos (legacy nanosAsLong conf) and convert to microsecond
# timestamps in-plan; sub-microsecond digits are dropped by both engines at
# the comparison edge (strftime %f is µs), so semantics agree with DuckDB.
_NANOS_TS_COLS = {"events": ("ts",)}


# (abspath, table) -> (content signature, pinned DataFrame). Signature is
# re-checked on every hit so an in-place rewrite of a pinned table drops the
# stale in-memory copy instead of serving deleted part-files.
_TABLE_CACHE: dict[tuple[str, str], tuple[tuple, DataFrame]] = {}

# Lazy-plan construction cache: (abspath, table) -> (signature, DataFrame).
# `spark.read.parquet` pays a JVM footer/schema read + Py4J round trips per
# call (~0.1-0.5 s across a multi-table query); the returned DataFrame is
# immutable, so re-handing the same lazy plan is free and semantically
# identical. Keyed on a content signature — sorted part-file names, sizes
# and ns-resolution mtimes, not just the directory mtime — so DML sinks
# that rewrite files (INSERT/UPDATE/DELETE in sources/parquet_source.py)
# invalidate the entry even when the rewrite lands within the directory
# mtime's granularity.
_PLAN_CACHE: dict[tuple[str, str], tuple[tuple, DataFrame]] = {}


def _content_signature(path: str) -> tuple:
    """Cheap content identity for a parquet file or directory-of-parts:
    (name, size, mtime_ns) per member file. One listdir + one stat per
    part — metadata-only, no data IO."""
    try:
        st = os.stat(path)
    except OSError:
        return ("missing",)
    if not os.path.isdir(path):
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    sig = []
    try:
        for f in sorted(os.listdir(path)):
            if f.startswith("."):
                continue
            try:
                fs = os.stat(os.path.join(path, f))
                sig.append((f, fs.st_size, fs.st_mtime_ns))
            except OSError:
                sig.append((f, -1, -1))
    except OSError:
        return ("unreadable",)
    return tuple(sig)


def _safe_unpersist(df: DataFrame) -> None:
    """Unpersist a pinned copy, tolerating a stopped SparkContext — the
    module-level caches outlive sessions, and eviction's only REQUIRED
    effect is dropping the dict entry; the JVM-side blocks died with the
    old context anyway."""
    try:
        df.unpersist()
    except Exception:
        pass


def invalidate_table(sf_dir: str, name: str) -> None:
    """Drop both cache entries for one (dir, table) — call after any write
    into a fixture directory (bench split/sf-gen rewrites)."""
    key = (os.path.abspath(sf_dir), name)
    pinned = _TABLE_CACHE.pop(key, None)
    if pinned is not None:
        _safe_unpersist(pinned[1])
    _PLAN_CACHE.pop(key, None)


def cache_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Pin one fixture table in executor memory, pre-repartitioned to session
    parallelism; subsequent ``load_table`` calls for the same (dir, table)
    return the in-memory copy. The bench warmup pins the hot document /
    embedding tables — the Spark analog of the DuckDB baseline's warmed OS
    page cache; operator code is unchanged (same lazy-DataFrame contract)."""
    key = (os.path.abspath(sf_dir), name)
    sig = _content_signature(os.path.join(sf_dir, f"{name}.parquet"))
    hit = _TABLE_CACHE.get(key)
    if hit is None or hit[0] != sig or hit[1].sparkSession is not spark:
        if hit is not None:
            _safe_unpersist(hit[1])
            _PLAN_CACHE.pop(key, None)
        df = parallelize_input(load_table(spark, sf_dir, name)).persist()
        df.count()
        _TABLE_CACHE[key] = (sig, df)
    return _TABLE_CACHE[key][1]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazily read one fixture table from a scale-factor directory."""
    key = (os.path.abspath(sf_dir), name)
    path = os.path.join(sf_dir, f"{name}.parquet")
    sig = _content_signature(path)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        # a cached frame from a PREVIOUS (stopped) session is dead — evict
        # rather than hand out a DataFrame whose context is gone
        if cached[0] == sig and cached[1].sparkSession is spark:
            return cached[1]
        _safe_unpersist(cached[1])
        _TABLE_CACHE.pop(key, None)
    plan = _PLAN_CACHE.get(key)
    if plan is not None and plan[0] == sig and plan[1].sparkSession is spark:
        return plan[1]
    nanos_cols = _NANOS_TS_COLS.get(name, ())
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos_cols:
        dt = dict(df.dtypes).get(c)
        if dt == "bigint":
            # integer `div`, not `/`: double division rounds the low digit
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        elif dt == "timestamp_ntz":
            # fixtures written as timestamp[us] (no tz): with the session
            # pinned to UTC this cast is instant-preserving and matches the
            # DuckDB oracle's naive-UTC reading
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    _PLAN_CACHE[key] = (sig, df)
    return df


def parallelize_input(df: DataFrame) -> DataFrame:
    """Repartition a DataFrame up to the session's parallelism when its scan
    can't reach it — the "repartition before amplification" pattern.

    Parquet scans split at row-group granularity; a single-row-group file
    (the driver fixtures) pins the whole first stage — including any
    explode/hash-heavy map work above it — to one core. Operators that
    amplify work per input row (shingling, tokenization, chunking) call this
    before the amplifying expression: the shuffle moves only the small raw
    rows, and every expensive derived row is computed in parallel. At 100 TB
    scans carry thousands of row groups, the condition is false, and this is
    a no-op — plain scans/aggregations never pay the shuffle.
    """
    if df.isStreaming:
        # micro-batch partitioning is the source's concern (maxFilesPerTrigger
        # etc.), and .rdd is illegal on a streaming plan — pass through so
        # map-stage operators compose onto streams unchanged
        return df
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < max(sc.defaultParallelism // 2, 2):
        return df.repartition(sc.defaultParallelism)
    return df


class SourceCatalog:
    """Session-level registry mapping ``source.table`` → DataFrame factory.

    Mirrors the reference's datasource registry
    (mindsdb/api/executor/datahub/datanodes/integration_datanode.py:78-311)
    but resolution produces a lazy DataFrame instead of a fetched pandas
    frame, so federated queries compile into ONE Catalyst plan.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._sources: dict[str, dict[str, str]] = {}

    def register_parquet_source(self, source: str, directory: str, tables=TPCH_TABLES) -> None:
        tbls = {}
        for t in tables:
            path = os.path.join(directory, f"{t}.parquet")
            if os.path.exists(path):
                tbls[t.lower()] = path
        self._sources[source.lower()] = tbls

    def table_paths(self):
        """Yield (source, table, parquet_path) for every registered table —
        metadata-only consumers (information_schema META_* stats) read the
        parquet footers directly, no scan jobs."""
        for src, tbls in self._sources.items():
            for t, p in tbls.items():
                yield src, t, p

    def table(self, name: str) -> DataFrame:
        """Resolve ``table``, ``source.table`` or ``source_table``
        (case-insensitive) — the same three spellings ``has_table`` accepts."""
        parts = name.lower().split(".")
        if len(parts) == 1:
            for src, tbls in self._sources.items():
                t = parts[0]
                if t not in tbls and t.startswith(f"{src}_"):
                    t = t[len(src) + 1 :]
                if t in tbls:
                    return load_table(self.spark, os.path.dirname(tbls[t]), t)
            raise KeyError(f"unknown table {name!r}")
        source, table = parts[-2], parts[-1]
        if source not in self._sources or table not in self._sources[source]:
            raise KeyError(f"unknown table {name!r}")
        return load_table(self.spark, os.path.dirname(self._sources[source][table]), table)

    def has_table(self, name: str) -> bool:
        """True if ``table``, ``source.table`` or ``source_table`` resolves."""
        n = name.lower()
        parts = n.split(".")
        if len(parts) == 2:
            return parts[1] in self._sources.get(parts[0], {})
        for src, tbls in self._sources.items():
            if n in tbls or (n.startswith(f"{src}_") and n[len(src) + 1 :] in tbls):
                return True
        return False

    def register_views(self, source: str | None = None) -> None:
        """Expose registered tables as temp views (bare + ``source_table``)."""
        for src, tbls in self._sources.items():
            if source is not None and src != source.lower():
                continue
            for t, path in tbls.items():
                df = load_table(self.spark, os.path.dirname(path), t)
                df.createOrReplaceTempView(t)
                df.createOrReplaceTempView(f"{src}_{t}")

    def drop_source(self, source: str) -> list[str]:
        """Unregister a source; returns its table names for view cleanup."""
        return list(self._sources.pop(source.lower(), {}))

    def tables(self) -> list[tuple[str, str]]:
        return [(src, t) for src, tbls in self._sources.items() for t in tbls]
