#!/usr/bin/env python
"""Whole-suite ledger: where the registered queries spend their time.

Usage:
    python tools/suite_ledger.py SF_DIR [QUERY ...]

Runs the registry's queries (all of them in registry order, leaving out
``registry_digest`` as ``bench.py`` does, or only the named ones) in one
fresh ``get_spark`` session on ``local[$SPARK_GRAFT_CPUS]``: a first
pass, then one steady pass.  Each registry call (plan construction,
with whatever eager jobs it fires) and its ``noop`` write runs under a
job group of its own.  Spark's event log, written uncompressed and not
rolling to a temporary directory, is reduced with ``perfbench.ledger``
after the session stops.

Prints ONE JSON object:

    {"sf_dir", "cores",
     "queries": {name: {"first": ROW, "steady": ROW}},
     "passes": {"first": TOTAL, "steady": TOTAL},
     "failures": {"first": {name: error}, "steady": {...}},
     "ungrouped_jobs": <jobs outside every ledger group>,
     "fixtures_built": [<.scratch/media_fixture/.../KIND.parquet>, ...]}

ROW is build_s, action_s (wall seconds), build_jobs, action_jobs,
stages, single_task_stages and task_s (executor run time).  A stage is
counted for the first job that lists it, so a shuffle reused by a later
query is not counted twice.  TOTAL holds the sums of its pass's rows,
plus wall_s, jobs, build_share (build_s / wall_s), single_task_share
and utilization (task_s / (wall_s * cores)).  ``fixtures_built`` lists
the blob fixtures (``operators.multimodal``) that did not exist before
the run: a first pass that built one includes its one-time build.
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.ledger import operator_rows, read  # noqa: E402

PASSES = ("first", "steady")
STEPS = ("build", "action")
ROW = ("build_s", "action_s", "build_jobs", "action_jobs", "stages",
       "single_task_stages", "task_s")


def media_fixtures() -> set[str]:
    """The blob fixture directories on disk, relative to the repo."""
    from eventstreamd_spark.operators.multimodal import MEDIA_FIXTURE_ROOT

    pattern = os.path.join(MEDIA_FIXTURE_ROOT, "*", "*", "*.parquet")
    return {os.path.relpath(p, REPO) for p in glob.glob(pattern)}


def group(pass_name: str, name: str, step: str) -> str:
    return f"ledger/{pass_name}/{name}/{step}"


def run(sf_dir: str, names: list[str], log_dir: str) -> tuple[dict, dict, int]:
    """Both passes in one session; per (pass, query) the wall seconds of
    each step, per pass the failures, and the session's core count."""
    from eventstreamd_spark import queries_registry as reg
    from eventstreamd_spark.session import get_spark

    conf_dir = os.path.join(log_dir, "conf")
    os.makedirs(conf_dir)
    os.makedirs(os.path.join(log_dir, "eventlog"))
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write(
            "spark.eventLog.enabled true\n"
            f"spark.eventLog.dir file://{log_dir}/eventlog\n"
            "spark.eventLog.compress false\n"
            "spark.eventLog.rolling.enabled false\n"
            "spark.ui.showConsoleProgress false\n"
        )
    os.environ["SPARK_CONF_DIR"] = conf_dir
    spark = get_spark("suite-ledger")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    walls: dict[tuple[str, str], dict[str, float]] = {}
    failures: dict[str, dict[str, str]] = {p: {} for p in PASSES}
    for pass_name in PASSES:
        for name in names:
            wall = walls[pass_name, name] = {}
            try:
                sc.setJobGroup(group(pass_name, name, "build"), name)
                t0 = time.perf_counter()
                df = reg.QUERIES[name](spark, sf_dir)
                wall["build_s"] = time.perf_counter() - t0
                sc.setJobGroup(group(pass_name, name, "action"), name)
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                wall["action_s"] = time.perf_counter() - t0
            except Exception as exc:  # a broken query must not sink the run
                del walls[pass_name, name]
                failures[pass_name][name] = f"{type(exc).__name__}: {exc}"[:200]
    cores = sc.defaultParallelism
    spark.stop()
    return walls, failures, cores


def reduce_log(log_dir: str, walls: dict, cores: int) -> tuple[dict, dict, int]:
    """The rows and pass totals of ``walls`` from the event log, and the
    number of logged jobs outside every ledger group."""
    log = read(os.path.join(log_dir, "eventlog"))
    steps = {group(p, n, s): (p, n, s) for p, n in walls for s in STEPS}
    jobs: dict[tuple[str, str], list] = {}
    counts: dict[tuple[str, str, str], int] = {}
    claimed: set[int] = set()
    ungrouped = 0
    for job in sorted(log.jobs.values(), key=lambda j: j.id):
        step = steps.get(job.group)
        if step is None:
            ungrouped += not job.group.startswith("ledger/")
            continue
        p, n, s = step
        counts[p, n, s] = counts.get((p, n, s), 0) + 1
        fresh = [sid for sid in job.stage_ids if sid not in claimed]
        claimed.update(fresh)
        jobs.setdefault((p, n), []).append(dataclasses.replace(job, stage_ids=fresh))
    queries: dict[str, dict] = {}
    for (p, n), wall in walls.items():
        ops = operator_rows(log, jobs.get((p, n), ()), 0.0, cores)
        queries.setdefault(n, {})[p] = {
            "build_s": round(wall["build_s"], 4),
            "action_s": round(wall["action_s"], 4),
            "build_jobs": counts.get((p, n, "build"), 0),
            "action_jobs": counts.get((p, n, "action"), 0),
            "stages": ops["operators.stages"],
            "single_task_stages": ops["operators.single_task_stages"],
            "task_s": round(ops["operators.task_s"], 4),
        }
    passes = {}
    for p in PASSES:
        rows = [q[p] for q in queries.values() if p in q]
        t = {k: round(sum(r[k] for r in rows), 4) for k in ROW}
        t["queries"] = len(rows)
        t["wall_s"] = round(t["build_s"] + t["action_s"], 4)
        t["jobs"] = t["build_jobs"] + t["action_jobs"]
        t["build_share"] = round(t["build_s"] / t["wall_s"], 4) if t["wall_s"] else 0.0
        t["single_task_share"] = (
            round(t["single_task_stages"] / t["stages"], 4) if t["stages"] else 0.0
        )
        t["utilization"] = (
            round(t["task_s"] / (t["wall_s"] * cores), 4) if t["wall_s"] else 0.0
        )
        passes[p] = t
    return queries, passes, ungrouped


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1].startswith("-"):
        raise SystemExit(__doc__)
    sf_dir, names = sys.argv[1], sys.argv[2:]
    from eventstreamd_spark import queries_registry as reg

    unknown = [n for n in names if n not in reg.QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    names = names or [n for n in reg.QUERIES if n != "registry_digest"]
    # the JVM writes banners straight to fd 1: keep the real stdout for
    # the one JSON object and point fd 1 at stderr (as bench.py does)
    real_stdout = os.dup(1)
    sys.stdout.flush()
    os.dup2(2, 1)
    log_dir = tempfile.mkdtemp(prefix="suite-ledger-")
    fixtures = media_fixtures()
    try:
        walls, failures, cores = run(sf_dir, names, log_dir)
        queries, passes, ungrouped = reduce_log(log_dir, walls, cores)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    out = {
        "sf_dir": sf_dir,
        "cores": cores,
        "queries": queries,
        "passes": passes,
        "failures": failures,
        "ungrouped_jobs": ungrouped,
        "fixtures_built": sorted(media_fixtures() - fixtures),
    }
    os.write(real_stdout, (json.dumps(out) + "\n").encode())
    os.close(real_stdout)


if __name__ == "__main__":
    main()
