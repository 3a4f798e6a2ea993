"""Spans around calls into the engine's public layers, recorded from the
benchmark's side only (the program is not modified).

A span is (id, name, start, end, parent, op id, attrs). Spans live in memory
and are written once at exit. The client is a closed loop with one
operation in flight, so the server's handler thread takes the op id and the
parent span from the tracer rather than from thread-local state. Spark jobs
are attributed after the run: a job belongs to the innermost span whose
window holds its first stage's submission time."""

from __future__ import annotations

import contextlib
import json
import threading
import time


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "op", "attrs")

    def __init__(self, sid, name, parent, op):
        self.id, self.name, self.parent, self.op = sid, name, parent, op
        self.start, self.end, self.attrs = time.time(), None, {}

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Records nothing unless ``enabled``: the untraced run pays one
    attribute check per call."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._op_span: Span | None = None

    # -- span recording ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self._op_span
        sp = Span(len(self.spans), name, parent.id if parent else None,
                  op if op is not None else (parent.op if parent else None))
        self.spans.append(sp)
        stack.append(sp)
        if op is not None:
            self._op_span = sp
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if op is not None:
                self._op_span = None

    def _wrap(self, name, fn, after=None):
        def wrapped(*a, **kw):
            with self.span(name) as sp:
                out = fn(*a, **kw)
                if after is not None and sp is not None:
                    after(sp, out)
                return out

        return wrapped

    def instrument_session(self, sess) -> None:
        """Per-instance wrappers on one EngineSession: the door entry
        (engine.sql), its route tests (command, whole-query pushdown), the
        dialect rewrite, and the collect of every DataFrame it returns."""
        if not self.enabled:
            return
        sess._try_command = self._wrap(
            "engine.command", sess._try_command,
            lambda sp, out: sp.attrs.__setitem__("hit", out is not None))
        sess._try_whole_query_pushdown = self._wrap(
            "engine.pushdown", sess._try_whole_query_pushdown,
            lambda sp, out: sp.attrs.__setitem__("hit", out is not None))
        sess.rewrite = self._wrap("dialect.rewrite", sess.rewrite)
        sess.sql = self._wrap("engine.sql", sess.sql, self._wrap_collect)

    def _wrap_collect(self, sql_span, df) -> None:
        if df is None or not hasattr(df, "collect") or "collect" in vars(df):
            return  # not a DataFrame, or one already wrapped
        orig = df.collect

        def collect():
            with self.span("spark.collect") as sp:
                rows = orig()
            self.record_phases(sp, df)
            return rows

        df.collect = collect

    @staticmethod
    def record_phases(sp, df) -> None:
        """Catalyst phase durations of the DataFrame's own QueryExecution."""
        if sp is None:
            return
        try:
            ph = df._jdf.queryExecution().tracker().phases()
            for p in ("parsing", "analysis", "optimization", "planning"):
                o = ph.get(p)
                if o.isDefined():
                    sp.attrs[p] = float(o.get().durationMs())
        except Exception:  # a local relation may have no tracker phases
            pass

    # -- post-run attribution ------------------------------------------------------
    def spark_jobs(self) -> list[dict]:
        """Every job the status store retained, with its stages' metrics."""
        sc = self.spark.sparkContext
        tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
        jobs = []
        for jid in sorted(tracker.getJobIdsForGroup(None)):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            job = {"id": jid, "t": None, "stages": 0, "tasks": 0, "cpu_ms": 0.0,
                   "gc_ms": 0.0, "run_ms": 0.0, "shuffle_read": 0, "shuffle_write": 0,
                   "spill": 0}
            for sid in info.stageIds:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:
                    continue
                if not sd.submissionTime().isDefined():  # skipped stage
                    continue
                t = sd.submissionTime().get().getTime() / 1000.0
                job["t"] = t if job["t"] is None else min(job["t"], t)
                job["stages"] += 1
                job["tasks"] += sd.numTasks()
                job["cpu_ms"] += sd.executorCpuTime() / 1e6
                job["gc_ms"] += sd.jvmGcTime()
                job["run_ms"] += sd.executorRunTime()
                job["shuffle_read"] += sd.shuffleReadBytes()
                job["shuffle_write"] += sd.shuffleWriteBytes()
                job["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            if job["t"] is not None:
                jobs.append(job)
        return jobs

    def attribute_jobs(self) -> dict[int, list[dict]]:
        """span id -> jobs submitted inside it (innermost span wins, and the
        enclosing spans see them too through ``jobs_within``)."""
        self.jobs = self.spark_jobs()
        by_span: dict[int, list[dict]] = {}
        closed = [s for s in self.spans if s.end is not None]
        for job in self.jobs:
            best = None
            for s in closed:
                if s.start - 0.002 <= job["t"] <= s.end + 0.002:
                    if best is None or s.end - s.start <= best.end - best.start:
                        best = s
            if best is not None:
                by_span.setdefault(best.id, []).append(job)
        self.by_span = by_span
        self._kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s.parent is not None:
                self._kids.setdefault(s.parent, []).append(s.id)
        return by_span

    def jobs_within(self, sp: Span) -> list[dict]:
        """Jobs attributed to ``sp`` or any of its descendants."""
        out, todo = [], [sp.id]
        while todo:
            i = todo.pop()
            out.extend(self.by_span.get(i, []))
            todo.extend(self._kids.get(i, []))
        return out

    def children(self, sp: Span) -> list[Span]:
        return [self.spans[i] for i in self._kids.get(sp.id, [])]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "start": round(s.start, 6),
                    "end": round(s.end, 6) if s.end else None, "parent": s.parent,
                    "op": s.op, "attrs": s.attrs,
                    "jobs": [j["id"] for j in getattr(self, "by_span", {}).get(s.id, [])],
                }) + "\n")
