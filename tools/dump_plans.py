#!/usr/bin/env python
"""Dump ``.explain("formatted")`` for named queries to plans/<dir>/.

Usage:
    python tools/dump_plans.py SUFFIX QUERY [QUERY ...] [--dir plans/r12]

Writes plans/r12/<query>_<SUFFIX>.txt for each query (the judge-facing
before/after plan evidence).  Explain only analyzes/optimizes — it does
not execute the plan — but query *construction* materializes the
session-shared relations it reads (``plans.memo.shared``, an eager
``localCheckpoint`` on first use), which is fine: plan dumping is
untimed.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = [a for a in sys.argv[1:]]
    out_dir = os.path.join(REPO, "plans", "r12")
    if "--dir" in args:
        i = args.index("--dir")
        out_dir = os.path.join(REPO, args[i + 1])
        del args[i : i + 2]
    suffix, names = args[0], args[1:]
    os.makedirs(out_dir, exist_ok=True)

    from eventstreamd_spark.session import get_spark
    from eventstreamd_spark import queries_registry as reg

    spark = get_spark("dump-plans", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = reg.QUERIES[name](spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")


if __name__ == "__main__":
    main()
