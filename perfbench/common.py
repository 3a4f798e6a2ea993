"""Shared pieces of the benchmark: pinned environment, Spark start-up,
statistics, the HTTP client and the DuckDB answer checker."""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")  # generated inputs, Spark scratch, temp files
OUT = os.path.join(HERE, "_out")  # per-run detail and span files


def pin_environment() -> None:
    """Everything a run writes stays under the checkout. PYTHONPATH carries
    the repo so Python workers (pandas UDFs of the model join) can import
    ``mindsdb_spark``; it must be set before the JVM starts, because Spark
    hands its own environment to the workers it forks."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    import sys
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(cpus: int, driver_mem: str, jvm_opts: str, trace: bool):
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    from mindsdb_spark import get_spark

    tmp = os.path.join(WORK, "tmp")
    log4j = os.path.join(HERE, "log4j2.properties")
    confs = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dlog4j2.configurationFile=file:{log4j} {jvm_opts}"
        ),
    }
    if trace:
        # the traced run attributes jobs and stages from the status store
        # after the timed window; keep every one of them
        confs.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    spark = get_spark(app_name="perfbench", cpus=cpus, extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stops Spark, then its JVM, and waits for the JVM to end. The JVM
    exits when its standard input closes; it would otherwise outlive this
    process until the gateway's pipe closed at exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# -- statistics ---------------------------------------------------------------
def median(xs):
    return statistics.median(xs) if xs else 0.0


def _beta_cdf(x: float, a: float, b: float, steps: int = 400) -> float:
    """Regularized incomplete beta I_x(a, b) by midpoint integration of the
    beta density; a, b >= 1 here, so the density is bounded."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    h = x / steps
    return h * sum(
        math.exp(ln_norm + (a - 1) * math.log(t) + (b - 1) * math.log1p(-t))
        for t in ((i + 0.5) * h for i in range(steps))
    )


def quantile(xs, p: float) -> float:
    """Harrell-Davis estimate of the p-quantile: a beta-weighted mean of all
    order statistics. A timed window holds a few dozen operations drawn from
    a fixed mix of classes, and the plain sample quantile then jumps between
    the two classes that straddle it; the weighted estimate does not."""
    xs = sorted(xs)
    n = len(xs)
    if n < 2:
        return xs[0] if xs else 0.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [_beta_cdf(i / n, a, b) for i in range(n + 1)]
    w = [hi - lo for lo, hi in zip(cdf, cdf[1:])]
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def halves(ops):
    """Geometric mean of the per-class median latencies in the first and in
    the second half of the timed rounds (the middle round of an odd count
    is in neither). Whole rounds hold the same class mix, so a drift between
    the two shows the window was not steady."""
    rounds = sorted({o["round"] for o in ops})
    h = len(rounds) // 2
    out = []
    for part in (rounds[:h], rounds[len(rounds) - h:]):
        by_cls: dict[str, list[float]] = {}
        for o in ops:
            if o["round"] in part:
                by_cls.setdefault(o["cls"], []).append(o["ms"])
        out.append(geomean([median(v) for v in by_cls.values()]))
    return out


def load1() -> float:
    return os.getloadavg()[0]


_TICK = os.sysconf("SC_CLK_TCK")


def proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU ticks) for every process in /proc; the ticks
    are user + system time of the process and of its reaped children."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2:].split()
        out[int(d)] = (int(f[1]), int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]))
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process and every process under it (the Spark
    JVM, the Python workers). Time the hypervisor gave to other guests
    (steal) is not in it."""
    table = proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _t) in table.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += table.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, []))
    return total / _TICK


# -- HTTP door ----------------------------------------------------------------
def post_sql(url: str, query: str, timeout: float = 120.0) -> dict:
    req = urllib.request.Request(
        url,
        data=json.dumps({"query": query}).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=timeout) as r:
        return json.loads(r.read())


# -- answer checks ------------------------------------------------------------
def duckdb_connect(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "item"):  # numpy scalar
        return _cell(v.item())
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return float(v)
    return str(v)


def _sort_key(row):
    return tuple(
        (0, round(c, 6)) if isinstance(c, float) else (1, "") if c is None else (2, c)
        for c in row
    )


def same_rows(got, exp) -> bool:
    """Row-set equality across engines: numbers compare as floats with a
    relative tolerance (summation order differs), timestamps as ISO text."""
    g = sorted((tuple(_cell(v) for v in r) for r in got), key=_sort_key)
    e = sorted((tuple(_cell(v) for v in r) for r in exp), key=_sort_key)
    if len(g) != len(e):
        return False
    for a, b in zip(g, e):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True
