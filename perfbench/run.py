#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Each run makes its inputs from the seed,
starts one worker process for the workload (``perfbench.daemon_live`` or
``perfbench.batch``) in its own process group with a pinned environment,
stops every process of that group when the worker is done, checks the
program's outputs, and prints as its last stdout line one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` -- the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  The line before it is a detail object: every end-to-end
metric the run measured (gated or not) with its unit and sample count,
and the workload's own evidence.

The environment every worker gets:

- ``local[nproc]`` Spark (``SPARK_GRAFT_CPUS``, nproc from the CPU
  affinity mask) and a fixed driver heap;
- the repository on ``PYTHONPATH``, so Spark's Python workers import
  the package;
- a benchmark-owned ``SPARK_CONF_DIR``; with ``--trace 1`` it turns on
  an uncompressed Spark event log, which the ledger reduces;
- scratch, spill and temp directories inside ``.bench_build/perfbench``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.procs import stop_group  # noqa: E402
from perfbench.stats import median  # noqa: E402

WORKERS = {
    "daemon_live": "perfbench.daemon_live",
    "dedup_session": "perfbench.batch",
}
# The end-to-end metric the tracing overhead is expressed on.
HEADLINE = {"daemon_live": "latency_p50_s", "dedup_session": "suite_s"}
PROGRAM_FILES = [
    "eventstreamd_spark/__init__.py",
    "tools/check_correctness.py",
    "tools/bench_daemon.py",
]
# Per-layer metrics of layers a workload never calls: reported as 0.
NOT_EXERCISED = {
    "daemon_live": ("queries_registry.", "plans.", "operators.multimodal."),
    "dedup_session": ("streaming.", "sources.", "baseline.", "generator."),
}
# End-to-end metrics that every run measures and prints, with unit and
# sample count, in the detail line, but that BENCHMARK.json does not
# gate: their run-to-run spread exceeded the largest allowed bound on the
# host the benchmark was defined on (perfbench/README.md, "Steadiness").
REPORTED = {
    "latency_p50_s": "s",
    "latency_p99_s": "s",
    "sustained_events_per_s": "1/s",
    "burst_events_per_s": "1/s",
    "replay_s": "s",
    "first_pass_s": "s",
    "suite_s": "s",
}
DRIVER_MEMORY = "2g"
WORKER_TIMEOUT_S = 165


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def spark_conf(conf_dir: str, run_dir: str, trace: bool) -> None:
    os.makedirs(conf_dir, exist_ok=True)
    lines = ["spark.ui.showConsoleProgress false"]
    if trace:
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{run_dir}/eventlog",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
        os.makedirs(os.path.join(run_dir, "eventlog"))
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")


def environment(run_dir: str, cores: int, trace: bool) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    spark_conf(os.path.join(run_dir, "conf"), run_dir, trace)
    env = {
        k: v for k, v in os.environ.items()
        if not k.startswith(("SPARK_GRAFT_", "PYSPARK_"))
        and k not in ("SPARK_CONF_DIR", "SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS")
    }
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "SPARK_CONF_DIR": os.path.join(run_dir, "conf"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return env


def remove_fixtures() -> None:
    """Blob fixtures made from this benchmark's generated tables (the
    fixture tag starts with the data directory's name)."""
    pattern = os.path.join(ROOT, ".scratch", "media_fixture", "*", "perfbench-data-*")
    for path in glob.glob(pattern):
        shutil.rmtree(path, ignore_errors=True)


def overhead(build: str, workload: str, trace: bool, result: dict) -> None:
    """Record the untraced headline metric; on a traced run, report
    traced minus the median of the recorded untraced runs of the same
    workload in this checkout.  With none recorded, the tracer's own
    measured time is the figure, and the detail says so."""
    path = os.path.join(build, f"untraced-{workload}.json")
    key = HEADLINE[workload]
    value = result["metrics"][key]
    try:
        with open(path) as f:
            history = json.load(f)
    except (OSError, ValueError):
        history = []
    if not trace:
        with open(path, "w") as f:
            json.dump((history + [value])[-20:], f)
        return
    if history:
        result["layers"]["trace.overhead_s"] = value - median(history)
        basis = f"traced {key} minus median of {len(history)} untraced runs"
    else:
        result["layers"]["trace.overhead_s"] = result["layers"]["trace.tracer_s"]
        basis = "no untraced run recorded here: tracer self time only"
    result["detail"]["trace_overhead_basis"] = basis


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        return fail(f"program files missing under {ROOT}: {missing}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]

    build = os.path.join(ROOT, ".bench_build", "perfbench")
    # the last run of each workload and mode stays on disk for inspection
    # (inputs, spans, event log, spool) until the next one replaces it
    run_dir = os.path.join(build, f"run-{args.workload}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    remove_fixtures()
    cores = len(os.sched_getaffinity(0))
    spec = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "cores": cores,
        "root": ROOT,
        "run_dir": run_dir,
    }
    spec_path = os.path.join(run_dir, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)

    t0 = time.monotonic()
    proc = subprocess.Popen(
        [sys.executable, "-m", WORKERS[args.workload], spec_path],
        cwd=ROOT,
        env=environment(run_dir, cores, bool(args.trace)),
        stdin=subprocess.DEVNULL,
        stdout=sys.stderr.fileno(),
        start_new_session=True,
    )
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        stop_group(proc.pid, proc)
        for path in glob.glob(os.path.join(run_dir, "*.pgid")):
            with open(path) as f:
                stop_group(int(f.read()))
        remove_fixtures()
    if code != 0:
        return fail(f"worker {'timed out' if code is None else f'exited {code}'}")
    with open(os.path.join(run_dir, "result.json")) as f:
        result = json.load(f)
    overhead(build, args.workload, bool(args.trace), result)

    values = result["layers"] if args.trace else result["metrics"]
    for m in wanted:
        if args.trace and m["name"].startswith(NOT_EXERCISED[args.workload]):
            values.setdefault(m["name"], 0.0)
    absent = [m["name"] for m in wanted if m["name"] not in values]
    if absent:
        return fail(f"worker reported no {absent}")
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]} | REPORTED
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "wall_s": time.monotonic() - t0,
        "end_to_end": {
            name: {"value": value, "unit": units[name], "samples": result["samples"][name]}
            for name, value in result["metrics"].items()
        },
        **result["detail"],
    }
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
