"""Dump plans for registry queries to plans/<round>/.

Usage: python scripts/dump_plans.py --round r11 --suffix before q1 q2 ...
Writes, for each query:

* plans/<round>/<query>_<suffix>.txt — `.explain("formatted")`, the
  plan-shape evidence backing every OPTIMIZATION_<round>.md claim;
* plans/<round>/<query>_<suffix>.opt.txt — the optimized logical plan with
  expression ids (`#123L`), lambda-variable numbers (`x_57`, a global
  counter in PySpark) and plan ids normalised, so two dumps of the same
  plan are byte-identical and `diff` between two checkouts shows only
  real plan changes.

Any `__spark_entry__.queries()` key works (probes, pipeline, streaming, ...).
"""

from __future__ import annotations

import argparse
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_NORMALISE = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"\b([a-z])_\d+\b"), r"\1_N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
]


def normalised(plan: str) -> str:
    """`plan` with run-specific numbering replaced by fixed tokens."""
    for pat, rep in _NORMALISE:
        plan = pat.sub(rep, plan)
    return plan


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--round", default="r11")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    import __spark_entry__
    from mindsdb_spark import get_spark
    from mindsdb_spark.session import tune_file_partitioning

    registry = __spark_entry__.queries()
    spark = get_spark(app_name="dump-plans")
    tune_file_partitioning(spark, args.sf)
    out_dir = os.path.join(REPO, "plans", args.round)
    os.makedirs(out_dir, exist_ok=True)
    for name in args.queries:
        qe = registry[name](spark, args.sf)._jdf.queryExecution()
        formatted = qe.explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        for ext, txt in (("txt", formatted), ("opt.txt", normalised(qe.optimizedPlan().toString()))):
            path = os.path.join(out_dir, f"{name}_{args.suffix}.{ext}")
            with open(path, "w") as f:
                f.write(txt)
            print(f"wrote {path} ({len(txt)} bytes)")


if __name__ == "__main__":
    main()
