"""SparkSession factory.

The reference engine executes everything single-node inside DuckDB bounded at
80% of RAM (reference: mindsdb/api/executor/utilities/sql.py:88-89). Here the
execution engine is Spark; the session defaults below are chosen for the
100 TB / many-executor posture while remaining correct on local[N]:

* AQE on — runtime coalescing of shuffle partitions, skew-join splitting and
  broadcast-join demotion are the scale levers Catalyst controls at runtime.
* shuffle.partitions sized to the local core count; on a real cluster this is
  overridden (AQE coalesces downward from a high initial number).
* Arrow enabled — every pandas interchange (frame construction/toPandas/pandas
  UDF) is Arrow-batched, never row-at-a-time pickling.
* Session timezone pinned to UTC so date/time functions agree with the
  DuckDB oracle, which treats parquet timestamps as naive UTC.

Rows the driver already holds (command answers, status rows, system views,
a knowledge-base query, label frames of driver-side graph passes) become
frames through ``local_frame``, never through a pickled Python RDD. A
Python list handed to Spark's frame constructor is parallelized as an RDD,
so every read of the frame runs a job and starts a Python worker (a 3-row
frame's collect: ~300 ms and one job). As an Arrow table the same rows are
a ``LocalRelation``: Catalyst folds a projection or filter over it on the
driver (``ConvertToLocalRelation``) and prunes an empty one from joins and
unions (``PropagateEmptyRelation``), so the read runs no job (~20 ms).

A registry pipeline is built on the driver by DataFrame and Column calls,
each one or more py4j round trips to the JVM. With PySpark's defaults one
``curation_batch`` round of the benchmark (five pipelines built and run
into the noop sink, ``local[1]``, C1-only JVM) sent ~9,000 py4j commands,
1,568 of them class lookups, and its traced ``queries.build_ms`` was
1.47 s against 2.26 s of ``exec.run_ms``. Two kinds of PySpark bookkeeping
made most of those commands, and the engine needs neither:

* Origin capture. PySpark wraps every ``functions.*`` call and ``Column``
  method so that an error can name the Python line that built the failing
  expression: ~8 round trips per call (active-session lookup, a conf read,
  a class lookup of ``PySparkCurrentOrigin``, ``set``/``clear``) plus a
  Python stack walk and a failing ``import IPython``. ``get_spark`` turns it
  off with PySpark's own static conf
  ``spark.python.sql.dataFrameDebugging.enabled=false``; an analysis error
  still names its cause (an unresolved column is still named), only the
  Python call site is gone from the message.
* Bare-name class lookups. PySpark reads ``jvm.functions``,
  ``jvm.PythonUtils`` and ``jvm.PythonSQLUtils`` per string column name,
  Column operator, ``_to_seq`` and lambda. py4j resolves a bare name by
  trying it and each star import with ``Class.forName``, and every miss
  scans the driver's 287 class-path jars: 165-307 µs of JVM CPU for
  ``PythonUtils``, 572-804 µs for ``PythonSQLUtils``, against ~22 µs for a
  full name. ``pin_jvm_classes`` resolves those names once per gateway and
  keeps the ``JavaClass`` objects on the ``JVMView``, so later reads never
  reach py4j.

With both, the same round sends ~3,600 commands with 5 class lookups (all
by full name), its ``queries.build_ms`` is 0.80 s, and the benchmark's
``curation_batch`` ``cpu_ms_per_op`` fell from 923 to 747 ms (median of 10
alternating pairs, ``BENCH_py4j_build_ab.jsonl``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _parse_mem(mem: str) -> int:
    import re

    # fractional values ("1.5g") are legal JVM memory strings; the old
    # digits-only regex matched the "1" with no unit and returned 1 byte,
    # silently clamping the SHJ threshold to its floor. A unitless value
    # is bytes (JVM convention), but anything under 1 MB can't be a real
    # heap — treat it as malformed and fall back to the 8g default.
    m = re.match(r"\s*(\d+(?:\.\d+)?)\s*([kmgt]?)", str(mem).lower())
    units = {"": 1, "k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
    if not m:
        return 8 * 1024**3
    val = int(float(m.group(1)) * units[m.group(2)])
    return val if val >= 1024**2 else 8 * 1024**3


def shj_threshold_bytes(cpus: int, heap: int | None = None) -> int:
    """Memory-aware AQE shuffled-hash-join threshold.

    A flat 128 MB is NOT memory-safe on its own: with 32 concurrent tasks
    each building a hash relation, the builds can exceed the unified
    execution region (measured: sf100 d24 under an 8 GB heap dies with
    "Can't acquire 67108864 bytes to build hash relation"): the gate
    compares COMPRESSED shuffle map-output bytes while the in-memory
    relation is ~2-4x larger, so the bound must scale with each task's
    fair share of the execution region. Threshold = a quarter of
    heap × 0.6 / cores (the 2-4x expansion plus probe/sort buffers),
    clamped to [16 MB, 128 MB]: an 8 GB / 32-core session gets ~38 MB —
    small builds still convert, big ones stay sort-merge — while a
    32 GB session keeps the full 128 MB that the round-7 AND round-8
    A/Bs measured fastest (a 76 MB bound already costs Q5 one
    conversion: 18.4 vs 11.9 s same-window). Unbounded-SKEW builds are a
    separate hazard no average-based bound fixes — those joins pin
    sort-merge at the operator level (see incremental_dedup)."""
    if heap is None:
        heap = _parse_mem(os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    per_task = int(heap * 0.6) // max(1, int(cpus))
    return max(16 * 1024**2, min(128 * 1024**2, per_task // 4))


def get_spark(
    app_name: str = "mindsdb-spark",
    cpus: str | int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``extra_confs`` lets bench/study scripts add STATIC confs (e.g.
    ``spark.memory.offHeap.*``) that must be set before the JVM launches —
    they apply only when this call actually creates the session."""
    cpus = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's default 64 MB advisory size would coalesce every local-scale
        # shuffle to ONE partition, serializing joins/aggregations that follow.
        # 2 MB keeps local shuffles parallel; a real cluster overrides via env
        # (at 100 TB shuffles dwarf 64 MB and coalescing behaves as intended).
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "2m"),
        )
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # API-table sources (sources/api_source.py) push FilterConditions
        # through the Python Data Source V2 reader.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # InferFiltersFromGenerate clones the generator's child expression
        # into a `size(x) > 0 AND isnotnull(x)` pre-filter. When the
        # exploded array is COMPUTED (tokenize/hash/fold chains — our text
        # operators), that duplicates the heaviest expression in the plan
        # 2x, and higher-order-function lambdas get no codegen CSE —
        # measured 12x on the hash-embed probe (0.5 s -> 6 s). The rule's
        # benefit (skipping empty-array rows before Generate) is semantics
        # Generate enforces anyway; excluding it changes no results.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # let AQE swap a sort-merge join for a shuffled HASH join when the
        # build side's per-partition map output is small (decided from
        # actual shuffle stats; the bound is sized to this session's
        # heap/cores — see shj_threshold_bytes). Skipping the SMJ's two
        # sorts: sf100 Q5 60.4 s -> 39.9 s, the Spark analog of DuckDB's
        # pipelined hash join; default 0 disables it
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get(
                "SPARK_GRAFT_SHJ_THRESHOLD", str(shj_threshold_bytes(int(cpus)))
            ),
        )
        # marks the session as engine-built so apply_runtime_tuning knows it
        # may re-assert engine defaults (a host session's confs are its own)
        .config("spark.mindsdb_spark.owned", "true")
        .config("spark.ui.enabled", "false")
        # no stage progress bars on stderr — the driver parses bench.py's
        # captured tail for the summary JSON line (round-7 verdict nit)
        .config("spark.ui.showConsoleProgress", "false")
        # no Python call-site capture around every Column/functions call:
        # ~8 py4j round trips each (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    pin_jvm_classes(spark)
    return spark


# (full name, bare name PySpark also reads it by); origin capture, which a
# host session may keep on, reads the last two on every call
_JVM_CLASSES = (
    ("org.apache.spark.sql.functions", "functions"),
    ("org.apache.spark.api.python.PythonUtils", "PythonUtils"),
    ("org.apache.spark.sql.api.python.PythonSQLUtils", "PythonSQLUtils"),
    ("org.apache.spark.sql.classic.SparkSession", None),
    ("org.apache.spark.sql.catalyst.trees.PySparkCurrentOrigin", None),
)


def pin_jvm_classes(spark: SparkSession) -> None:
    """Resolve the JVM classes PySpark looks up on every Column and
    functions call once per gateway, by full name, and keep each
    ``JavaClass`` on the gateway's ``JVMView``: an instance attribute is
    found before ``JVMView.__getattr__``, which would send a reflection
    command (for a bare name, a class-path scan per miss). Idempotent."""
    jvm = spark._jvm
    pinned = vars(jvm)
    for fqn, bare in _JVM_CLASSES:
        cls = pinned[fqn] = getattr(jvm, fqn)  # a pinned one is found first
        if bare:
            pinned[bare] = cls


_INFER_GEN_RULE = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"


def apply_runtime_tuning(spark: SparkSession) -> None:
    """Runtime-settable confs for a SparkSession we did NOT build (the
    driver hands its own session to ``__spark_entry__`` callables). Safe to
    call repeatedly. ``excludedRules`` is a per-SparkSession conf (a
    ``newSession()`` sharing the applicationId gets its own copy), so the
    check must read the target session's conf, not a process-level memo —
    and we append rather than overwrite so a host driver's own exclusions
    survive. Origin capture stays as the host set it, but the JVM classes
    PySpark looks up per call are pinned (``pin_jvm_classes``)."""
    pin_jvm_classes(spark)
    # see get_spark: InferFiltersFromGenerate duplicates computed-array
    # generator children into a pre-filter; with HOF-heavy text exprs that
    # is a measured 12x regression and zero semantic effect.
    current = spark.conf.get("spark.sql.optimizer.excludedRules", None) or ""
    rules = [r for r in (s.strip() for s in current.split(",")) if r]
    if _INFER_GEN_RULE not in rules:
        rules.append(_INFER_GEN_RULE)
        spark.conf.set("spark.sql.optimizer.excludedRules", ",".join(rules))
    # AQE SMJ→shuffled-hash-join conversion (see get_spark). Contract: the
    # SPARK_GRAFT_SHJ_THRESHOLD env var, when set, is applied verbatim to
    # any session (including '0', Spark's documented disable). Without the
    # env var, only sessions BUILT by get_spark are (re-)asserted to the
    # memory-aware engine default (shj_threshold_bytes) — a host session's
    # conf, including an explicit '0', is never reinterpreted.
    shj = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
    env = os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD")
    if env is not None:
        spark.conf.set(shj, env)
    elif spark.conf.get("spark.mindsdb_spark.owned", "false") == "true":
        if spark.conf.get(shj, "0") in ("0", "0b"):
            heap = _parse_mem(spark.conf.get("spark.driver.memory", "8g"))
            cores = spark.sparkContext.defaultParallelism
            spark.conf.set(shj, str(shj_threshold_bytes(cores, heap)))


def tune_file_partitioning(spark: SparkSession, data_dir: str, cpus: int | None = None) -> int:
    """Size ``spark.sql.files.maxPartitionBytes`` / ``openCostInBytes``
    from the directory's actual parquet bytes so a many-small-file layout
    schedules ~2x-cores scan tasks instead of one task per tiny file (open
    cost amortizes packing) or a single packed task (the 128 MB default
    swallows a whole small table). At cluster scale against 100 TB the
    defaults are already right — this matters only when table bytes are
    within an order of magnitude of cores x minimum split, i.e. local/test
    layouts; returns the chosen maxPartitionBytes."""
    ncpu = int(cpus or DEFAULT_CPUS)
    total = 0
    for root, _dirs, files in os.walk(data_dir):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    target = max(4 * 1024 * 1024, min(128 * 1024 * 1024, total // max(1, 2 * ncpu)))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(target))
    spark.conf.set("spark.sql.files.openCostInBytes", str(max(256 * 1024, target // 4)))
    # below ~64 MB of input, per-task/per-stage overhead dominates shuffles:
    # size the shuffle partition count to the data (~4 MB each, floor 4)
    # instead of the core count, and turn AQE off — AQE exists to re-plan
    # big shuffles at runtime, and at toy scale its per-stage
    # materialization barrier is pure latency (measured on the 13-query
    # split32 set: p8+AQE 5.3 s → p4+no-AQE 4.4 s on 20 MB input). Larger
    # inputs keep cpus partitions and AQE on (shuffle volume can far exceed
    # input for amplifying operators; AQE coalesces/skew-splits as designed
    # at the 100 TB posture this engine targets).
    if total < 64 * 1024 * 1024:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(4, min(ncpu, total // (4 * 1024 * 1024)))),
        )
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    else:
        spark.conf.set("spark.sql.shuffle.partitions", str(ncpu))
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        # let AQE convert a sort-merge join to a SHUFFLED HASH join when the
        # build side's per-partition map output is provably small (measured
        # from actual shuffle stats, so it's memory-safe at 128 MB/task):
        # skipping the two 600M-row sorts took the sf100 Q5 thin-map plan
        # from 60.4 s to 39.9 s (A/B in BENCH_sf100_relational.json:
        # q5_shj_study; static preferSortMergeJoin=false was worse at
        # 49.1 s — per-join runtime choice beats a blanket preference).
        # Default 0 disables the rule; DuckDB's advantage on these shapes
        # is exactly its pipelined hash join, so this is the Spark analog.
        # Memory-aware bound (shj_threshold_bytes): a skewless build under
        # it fits the task's worst-case execution share on THIS session.
        spark.conf.set(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(shj_threshold_bytes(
                ncpu, _parse_mem(spark.conf.get("spark.driver.memory", "8g"))
            )),
        )
    return target


def local_frame(spark: SparkSession, rows, schema=None) -> DataFrame:
    """Frame over rows the driver holds, as a ``LocalRelation``.

    ``schema`` is a DDL string, a ``StructType`` or a list of column names
    (types then inferred from the rows, as Spark infers them). A list or
    tuple of rows (tuples, ``Row``s or dicts) is converted to one Arrow
    table on the driver; pandas, Arrow and RDD inputs go to Spark as they
    are. This is the package's one call of Spark's frame constructor."""
    if isinstance(rows, (list, tuple)):
        from pyspark.sql.conversion import LocalDataToArrowConversion
        from pyspark.sql.pandas.types import to_arrow_schema

        rows = list(rows)
        if isinstance(schema, str):
            schema = spark._parse_ddl(schema)
        elif rows and (schema is None or isinstance(schema, (list, tuple))):
            inferred = spark._inferSchemaFromList(rows, names=schema)
            names = schema or inferred.names
            schema = StructType(
                [StructField(n, f.dataType, f.nullable) for n, f in zip(names, inferred)]
            )
        if isinstance(schema, StructType):
            rows = (
                LocalDataToArrowConversion.convert(rows, schema, False)
                if rows
                else to_arrow_schema(schema).empty_table()
            )
    return spark.createDataFrame(rows, schema)
