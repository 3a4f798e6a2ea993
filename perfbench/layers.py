"""Per-layer metrics of a traced run, computed from its spans and the Spark
jobs attributed to them. Every run reports every name; a layer a workload
does not pass through reads 0 (see README.md)."""

from __future__ import annotations

from common import median
from curation_batch import PIPELINES
from sql_door import CLASSES as DOOR_CLASSES

PHASES = ["parsing", "analysis", "optimization", "planning"]
EXEC = [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("task_cpu_ms", "ms"), ("gc_ms", "ms"), ("shuffle_read_bytes", "B"),
        ("shuffle_write_bytes", "B"), ("spill_bytes", "B")]


def names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in report order."""
    out = [("server.self_ms", "ms")]
    out += [(f"engine.sql_ms.{r}", "ms") for r in ("command", "pushdown", "spark")]
    out += [(f"engine.route.{r}", "count") for r in ("command", "pushdown", "spark")]
    out += [("engine.sql_jobs", "count"), ("engine.pushdown_ratio", "ratio"),
            ("dialect.rewrite_ms", "ms")]
    out += [(f"catalyst.{p}_ms", "ms") for p in PHASES]
    out += [("queries.build_ms", "ms"), ("queries.build_jobs", "count")]
    for p in PIPELINES:
        out += [(f"queries.build_ms.{p}", "ms"), (f"queries.build_jobs.{p}", "count")]
    out += [("exec.run_ms", "ms")] + [(f"exec.{k}", u) for k, u in EXEC]
    out += [("kb.search_ms", "ms"), ("kb.search_jobs", "count"), ("kb.store_rows", "count")]
    out += [(f"door.{c}_ms", "ms") for c in DOOR_CLASSES]
    out += [(f"batch.{p}_ms", "ms") for p in PIPELINES]
    out += [("throughput_per_s", "1/s"), ("latency_p50_ms", "ms"), ("latency_p90_ms", "ms"),
            ("latency_gm_ms", "ms")]
    return out


def _exec_totals(jobs) -> dict:
    return {
        "jobs": len(jobs),
        "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "task_cpu_ms": sum(j["cpu_ms"] for j in jobs),
        "gc_ms": sum(j["gc_ms"] for j in jobs),
        "shuffle_read_bytes": sum(j["shuffle_read"] for j in jobs),
        "shuffle_write_bytes": sum(j["shuffle_write"] for j in jobs),
        "spill_bytes": sum(j["spill"] for j in jobs),
    }


def per_layer(wl, tracer, loop, warm_ops: int, wall: dict) -> dict:
    """name -> (value, unit) for every name in ``names()``."""
    m = {n: 0.0 for n, _u in names()}
    timed = loop.ops[warm_ops:]
    first = timed[0]["round"]
    n_rounds = timed[-1]["round"] - first + 1
    spans = tracer.spans
    by_round: dict[str, list[float]] = {}

    def add_round(key, i, v):
        rounds = by_round.setdefault(key, [])
        while len(rounds) <= i:
            rounds.append(0.0)
        rounds[i] += v

    route_ms: dict[str, list[float]] = {"command": [], "pushdown": [], "spark": []}
    rewrite, self_ms, sql_jobs = [], [], []
    phases: dict[str, list[float]] = {p: [] for p in PHASES}
    build: dict[str, list[float]] = {}
    build_jobs: dict[str, list[int]] = {}
    kb_ms, kb_jobs = [], []
    pushed = eligible = 0
    for o in timed:
        i = o["round"] - first  # timed round index
        op = spans[o["span"]]
        kids = tracer.children(op)
        exec_jobs = tracer.jobs_within(op)
        for key, v in _exec_totals(exec_jobs).items():
            add_round(f"exec.{key}", i, v)
        sql = [s for s in kids if s.name == "engine.sql"]
        collect = [s for s in kids if s.name == "spark.collect"]
        for s in sql:
            inner = tracer.children(s)
            hit = {c.name for c in inner if c.attrs.get("hit")}
            route = ("command" if "engine.command" in hit
                     else "pushdown" if "engine.pushdown" in hit else "spark")
            route_ms[route].append(s.ms)
            sql_jobs.append(len(tracer.jobs_within(s)))
            if route == "spark":
                rewrite.append(sum(c.ms for c in inner if c.name == "dialect.rewrite"))
                for c in collect:
                    for p in PHASES:
                        if p in c.attrs:
                            phases[p].append(c.attrs[p])
            if o["cls"] == "pushdown":
                eligible += 1
                pushed += route == "pushdown"
            if o["cls"] == "kb_search":
                kb_ms.append(s.ms)
                kb_jobs.append(len(tracer.jobs_within(op)))
        if sql:
            self_ms.append(op.ms - sum(s.ms for s in sql) - sum(c.ms for c in collect))
            add_round("exec.run_ms", i, sum(c.ms for c in collect))
        for s in kids:
            if s.name == "queries.build":
                build.setdefault(o["cls"], []).append(s.ms)
                build_jobs.setdefault(o["cls"], []).append(len(tracer.jobs_within(s)))
                add_round("queries.build_ms", i, s.ms)
                add_round("queries.build_jobs", i, len(tracer.jobs_within(s)))
            elif s.name == "exec.run":
                add_round("exec.run_ms", i, s.ms)
            elif s.name == "trace.replan":
                for p in PHASES:
                    if p in s.attrs:
                        phases[p].append(s.attrs[p])

    for key, rounds in by_round.items():
        m[key] = median(rounds)
    for r, v in route_ms.items():
        m[f"engine.sql_ms.{r}"] = median(v)
        m[f"engine.route.{r}"] = len(v) / n_rounds  # statements per round
    m["engine.sql_jobs"] = sum(sql_jobs) / len(sql_jobs) if sql_jobs else 0.0
    m["engine.pushdown_ratio"] = pushed / eligible if eligible else 0.0
    m["dialect.rewrite_ms"] = median(rewrite)
    m["server.self_ms"] = median(self_ms)
    for p in PHASES:
        m[f"catalyst.{p}_ms"] = median(phases[p])
    for p in build:
        m[f"queries.build_ms.{p}"] = median(build[p])
        m[f"queries.build_jobs.{p}"] = median(build_jobs[p])
    m["kb.search_ms"] = median(kb_ms)
    m["kb.search_jobs"] = median(kb_jobs)
    by_cls: dict[str, list[float]] = {}
    for o in timed:
        by_cls.setdefault(o["cls"], []).append(o["ms"])
    for cls, v in by_cls.items():
        key = f"door.{cls}_ms" if f"door.{cls}_ms" in m else f"batch.{cls}_ms"
        m[key] = median(v)
    m["kb.store_rows"] = float(getattr(wl, "store_rows", lambda: 0)())
    for k, (v, _u) in wall.items():  # the traced run's own wall-clock figures
        m[k] = v
    units = dict(names())
    return {k: (float(m[k]), units[k]) for k in units}


def breakdown(tracer, timed) -> dict:
    """Per statement class or pipeline: medians of the operation, of its
    child spans by name, and of the Spark jobs it launched."""
    out: dict[str, dict[str, list[float]]] = {}
    for o in timed:
        op = tracer.spans[o["span"]]
        row = out.setdefault(o["cls"], {"op": [], "jobs": []})
        row["op"].append(op.ms)
        row["jobs"].append(len(tracer.jobs_within(op)))
        for s in tracer.children(op):
            row.setdefault(s.name, []).append(s.ms)
    return {c: {k: median(v) for k, v in row.items()} for c, row in out.items()}
