#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --seeds 1-10 [--workload NAME ...] [--out FILE]

Runs ``perfbench/run.py --trace 0`` once per seed and workload, one run
at a time, and prints for each (workload, metric) the median and the
distance between the first and third quartiles as a share of the
median (``statistics.quantiles(values, n=4)``), next to the metric's
bound from BENCHMARK.json ("-" for a metric that is reported but not
gated).  ``--out`` keeps every run's result and detail lines.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=seeds, required=True)
    ap.add_argument("--workload", action="append",
                    default=None, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--out")
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]

    runs: dict[str, list[dict]] = {w: [] for w in workloads}
    for w in workloads:
        for seed in args.seeds:
            cmd = bench["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0",
            ]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}", file=sys.stderr)
                continue
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            runs[w].append({**result, "detail": json.loads(lines[-2])})
            print(f"{w} seed {seed}: correct={result['correct']} failed={result['failed']}"
                  f"/{result['attempted']}", file=sys.stderr)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in workloads:
        print(f"{w} ({len(runs[w])} runs)")
        if not runs[w]:
            continue
        for name, first in runs[w][0]["detail"]["end_to_end"].items():
            values = [r["detail"]["end_to_end"][name]["value"] for r in runs[w]]
            if len(values) < 2:
                continue
            q1, med, q3 = statistics.quantiles(values, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            print(f"  {name:24s} median {med:12.4f} {first['unit']:5s} "
                  f"spread {spread:6.3f}  bound {bounds.get(name, '-')}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
