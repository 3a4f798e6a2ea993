#!/usr/bin/env python3
"""Run one workload on several seeds and print, per metric, the median and
the quartile spread (IQR / median) that BENCHMARK.json bounds are judged by.

    python3 perfbench/spread.py --workload sql_door --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from common import proc_table  # noqa: E402


def left_running() -> list[str]:
    """Processes other than this one and its ancestors whose command line
    names Spark or the benchmark: a run must leave none behind."""
    table = proc_table()
    mine, pid = set(), os.getpid()
    while pid > 1:
        mine.add(pid)
        pid = table.get(pid, (0, 0))[0]
    out = []
    for d in table.keys() - mine:
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if "pyspark" in cmd or "perfbench" in cmd or "spark-submit" in cmd:
            out.append(f"{d} {cmd[:100]}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="a-b or comma list")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    if "-" in args.seeds:
        a, b = args.seeds.split("-")
        seeds = list(range(int(a), int(b) + 1))
    else:
        seeds = [int(s) for s in args.seeds.split(",")]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in seeds:
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", args.trace]
        t = time.monotonic()
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
        wall = time.monotonic() - t
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(seed, json.dumps({k: round(v["value"], 4) for k, v in res["metrics"].items()}),
              "correct" if res["correct"] else "INCORRECT", res["attempted"], res["failed"],
              f"wall {wall:.1f} s", flush=True)
        for p in left_running():
            print("  LEFT RUNNING:", p, flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    # plateau evidence: round walls by position, median over the seeds
    details = []
    for seed in seeds:
        path = os.path.join(HERE, "_out", f"{args.workload}_s{seed}_t{args.trace}.json")
        with open(path) as f:
            details.append(json.load(f))
    for key in ("warmup_round_s", "timed_round_s"):
        cols = [[d[key][i] for d in details if len(d[key]) > i]
                for i in range(max(len(d[key]) for d in details))]
        print(f"{key:16s}", " ".join(f"{statistics.median(c):6.2f}" for c in cols))
    print("load1 start/end  ", " ".join(
        f"{d['load1_start']:.1f}/{d['load1_end']:.1f}" for d in details))
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for k, v in values.items():
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4) if len(v) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else 0.0
        b = bounds.get(k)
        # setup_s is bounded on its median only, not on its spread
        flag = "" if b is None or k == "setup_s" else ("ok" if spread < b / 3 else "WIDE")
        print(f"{k:32s} median {med:12.4f}  spread {spread:6.3f}  bound {b}  {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
