#!/usr/bin/env python3
"""The engine's benchmark: one workload per run, one closed-loop client.

    python3 perfbench/run.py --workload sql_door --seed 1 --seconds 10 --trace 0

A run prepares its seeded inputs (outside ``setup_s``), sets up the engine
and warms it up to its plateau (inside ``setup_s``), then runs whole rounds
until ``--seconds`` have passed, checks the answers (see README.md), and
prints one JSON line. ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` runs the
same loop with spans around every layer and reports the per-layer metrics.
Details (per-round walls, per-class medians, load) go to
``perfbench/_out/<workload>_s<seed>_t<trace>.json``; see README.md."""

from __future__ import annotations

import time

T0 = time.monotonic()  # setup_s counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (OUT, geomean, halves, load1, median,  # noqa: E402
                    pin_environment, proc_table, quantile, start_spark, stop_spark,
                    tree_cpu_s)

WORKLOADS = ("sql_door", "curation_batch")


def _workload(name: str, seed: int):
    if name == "sql_door":
        from sql_door import SqlDoor

        return SqlDoor(seed)
    from curation_batch import CurationBatch

    return CurationBatch(seed)


class Loop:
    """Runs operations, times them, and counts in-band failures: the server
    answers SQL errors with HTTP 200 and ``{"type": "error"}``."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.ops: list[dict] = []
        self.errors: list[str] = []
        self.seq = 0
        self.round = 0  # round the next operations belong to

    def run_op(self, cls: str, fn):
        self.seq += 1
        t0 = time.perf_counter()
        err = None
        with self.tracer.span(f"op.{cls}", op=f"{self.seq}") as sp:
            try:
                out = fn()
                if isinstance(out, dict) and out.get("type") == "error":
                    err = str(out.get("error_message"))[:300]
            except Exception as e:  # noqa: BLE001 - counted, reported
                out, err = None, f"{type(e).__name__}: {str(e)[:300]}"
        ms = (time.perf_counter() - t0) * 1000.0
        self.ops.append({"cls": cls, "ms": ms, "ok": err is None, "round": self.round,
                         "span": sp.id if sp is not None else None})
        if err is not None:
            self.errors.append(f"{cls}: {err}")
            return None
        return out


def _latency_metrics(ops, window_ms: float) -> dict:
    # a failed operation misses every latency bound: it counts as the
    # whole window
    lat = [o["ms"] if o["ok"] else window_ms for o in ops]
    by_cls: dict[str, list[float]] = {}
    for o, ms in zip(ops, lat):
        by_cls.setdefault(o["cls"], []).append(ms)
    return {
        "latency_p50_ms": quantile(lat, 0.5),
        "latency_p90_ms": quantile(lat, 0.9),
        "latency_gm_ms": geomean([median(v) for v in by_cls.values()]),
        "class_ms": {k: median(v) for k, v in by_cls.items()},
        "class_n": {k: len(v) for k, v in by_cls.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=1, help="Spark local[N]")
    ap.add_argument("--driver-memory", default="2g")
    ap.add_argument("--jvm-opts", default="", help="extra driver JVM options")
    args = ap.parse_args(argv)

    # a SIGTERM still runs the clean-up below: Spark stops, inputs go
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    pin_environment()
    from spans import Tracer

    wl = _workload(args.workload, args.seed)
    load_start = load1()
    spark = start_spark(args.cpus, args.driver_memory, args.jvm_opts, bool(args.trace))
    tracer = Tracer(spark, bool(args.trace))
    spark_s = time.monotonic() - T0

    try:
        t = time.monotonic()
        wl.prepare(spark)
        prepare_s = time.monotonic() - t

        t = time.monotonic()
        wl.setup(spark, tracer)
        engine_s = time.monotonic() - t
        loop = Loop(tracer)
        warm_walls, warm_cpu = [], []
        for _ in range(wl.warmup_rounds):
            loop.round += 1
            c, t = tree_cpu_s(), time.perf_counter()
            wl.round(loop.run_op)
            warm_walls.append(time.perf_counter() - t)
            warm_cpu.append(tree_cpu_s() - c)
        warm_ops = len(loop.ops)
        setup_s = time.monotonic() - T0 - prepare_s - wl.oracle_s

        # timed window: whole rounds until --seconds have passed
        t_start = time.perf_counter()
        walls, cpus = [], []
        while not walls or time.perf_counter() - t_start < args.seconds:
            loop.round += 1
            c, t = tree_cpu_s(), time.perf_counter()
            wl.round(loop.run_op)
            walls.append(time.perf_counter() - t)
            cpus.append(tree_cpu_s() - c)
        window_s = time.perf_counter() - t_start
        timed = loop.ops[warm_ops:]
        load_end = load1()

        t = time.monotonic()
        bad = wl.verify()
        verify_s = time.monotonic() - t

        lat = _latency_metrics(timed, window_s * 1000.0)
        failed = sum(1 for o in timed if not o["ok"])
        per_round = [sum(1 for o in timed if o["round"] == r)
                     for r in sorted({o["round"] for o in timed})]
        e2e = {
            "setup_s": (setup_s, "s"),
            "cpu_ms_per_op": (median([1000.0 * c / n for c, n in zip(cpus, per_round)]), "ms"),
        }
        # wall-clock figures: reported by the traced run as per-layer
        # metrics and kept in every detail file (see README: host noise)
        wall = {
            "throughput_per_s": (wl.throughput(timed, walls, window_s), "1/s"),
            "latency_p50_ms": (lat["latency_p50_ms"], "ms"),
            "latency_p90_ms": (lat["latency_p90_ms"], "ms"),
            "latency_gm_ms": (lat["latency_gm_ms"], "ms"),
        }
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cpus": args.cpus, "driver_memory": args.driver_memory, "jvm_opts": args.jvm_opts,
            "seconds": args.seconds, "window_s": window_s,
            "spark_start_s": spark_s, "engine_setup_s": engine_s,
            "prepare_s": prepare_s, "oracle_s": wl.oracle_s,
            "verify_s": verify_s,
            "load1_start": load_start, "load1_end": load_end,
            "warmup_round_s": warm_walls, "timed_round_s": walls,
            "warmup_round_cpu_s": warm_cpu, "timed_round_cpu_s": cpus,
            "timed_halves_gm_ms": halves(timed),
            "ops_timed": len(timed), "ops_warmup": warm_ops,
            "timed_op_ms": [[o["cls"], round(o["ms"], 3)] for o in timed],
            "class_median_ms": lat["class_ms"], "class_n": lat["class_n"],
            "failed_checks": bad, "errors": loop.errors[:20],
            "end_to_end": {k: v for k, (v, _u) in e2e.items()},
            "wall": {k: v for k, (v, _u) in wall.items()},
        }
        if args.trace:
            from layers import breakdown, per_layer

            tracer.attribute_jobs()
            metrics = per_layer(wl, tracer, loop, warm_ops, wall)
            detail["per_layer"] = {k: v for k, (v, _u) in metrics.items()}
            detail["class_breakdown_ms"] = breakdown(tracer, timed)
            tracer.dump(os.path.join(OUT, f"{args.workload}_s{args.seed}_spans.jsonl"))
            untraced = os.path.join(OUT, f"{args.workload}_s{args.seed}_t0.json")
            if os.path.exists(untraced):
                with open(untraced) as f:
                    base = json.load(f)
                detail["trace_overhead_pct"] = {
                    k: 100.0 * (detail[part][k] / base[part][k] - 1.0)
                    for part in ("end_to_end", "wall") for k in base[part] if base[part][k]
                }
        else:
            metrics = e2e
        detail["run_s"] = time.monotonic() - T0
        with open(os.path.join(OUT, f"{args.workload}_s{args.seed}_t{args.trace}.json"), "w") as f:
            json.dump(detail, f, indent=1)

    finally:
        wl.close()
        stop_spark(spark)
        shutil.rmtree(wl.data, ignore_errors=True)
    result = {
        "correct": not bad and not loop.errors and all(
            isinstance(v, (int, float)) and math.isfinite(v) for v, _u in metrics.values()),
        "attempted": len(timed),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


_CHILD = "PERFBENCH_MEASURING_CHILD"
_PR_SET_CHILD_SUBREAPER = 36
_ADDR_NO_RANDOMIZE = 0x0040000


def _reap(grace_s: float = 10.0) -> None:
    """Stops every remaining descendant and waits until each has ended:
    SIGTERM first, SIGKILL after ``grace_s``. A killed process's own
    children are re-parented here, so the loop runs until none is left."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no child left, running or unreaped
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        me = os.getpid()
        for pid in [p for p, (ppid, _t) in proc_table().items() if ppid == me]:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def supervise(argv: list[str]) -> int:
    """Runs the measuring process as a child and, once it has ended, stops
    and waits for every process it left behind. The Spark JVM outlives its
    Python driver until it notices the closed gateway, and the Python workers
    the JVM forks for UDFs put themselves in a process group of their own, so
    a process-group kill would miss them. As the child subreaper, this
    process inherits every orphaned descendant and can wait for each."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")
    # the same memory layout and string hashes in every run: address-space
    # and hash randomization change dict layouts and cache aliasing, and so
    # a run's speed as a whole
    env = dict(os.environ, PYTHONHASHSEED="0", **{_CHILD: "1"})
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv], env=env,
                             preexec_fn=lambda: libc.personality(_ADDR_NO_RANDOMIZE))

    def forward(signum, _frame):
        child.send_signal(signal.SIGTERM)

    signal.signal(signal.SIGTERM, forward)
    signal.signal(signal.SIGINT, forward)
    code = child.wait()
    _reap()
    return code if code >= 0 else 128 - code


if __name__ == "__main__":
    sys.exit(main() if os.environ.get(_CHILD) else supervise(sys.argv[1:]))
