"""Reduce a Spark event log to the benchmark's per-layer rows.

The log is Spark's own JSON-lines record of a run (``spark.eventLog.*``,
uncompressed).  Only these events are read:

- ``SparkListenerApplicationStart``: when the session came up;
- ``SparkListenerJobStart``/``JobEnd``: job spans, their stage ids and
  local properties (``spark.jobGroup.id`` as set by the benchmark around
  each call into the program, ``streaming.sql.batchId`` for
  micro-batch jobs);
- ``SparkListenerStageCompleted``: stages that ran (a stage a job lists
  but never submits was skipped and is not counted);
- ``SparkListenerTaskEnd``: executor run time, GC time, shuffle and
  spill bytes per task;
- ``QueryProgressEvent``: one per micro-batch, with Structured
  Streaming's own phase durations.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import datetime

from perfbench.stats import percentile

PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


@dataclass
class Job:
    id: int
    group: str
    batch_id: int | None
    start_ms: int
    end_ms: int
    stage_ids: list[int]


@dataclass
class Stage:
    tasks: int = 0
    task_ms: int = 0
    gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0


@dataclass
class EventLog:
    app_start_ms: int = 0
    jobs: dict[int, Job] = field(default_factory=dict)
    # (stage id, attempt) of every stage that ran, with its task totals
    stages: dict[tuple[int, int], Stage] = field(default_factory=dict)
    progress: list[dict] = field(default_factory=list)


def log_files(path: str) -> list[str]:
    """The event-log file ``path``, or the files in directory ``path``
    (one per application, as ``spark.eventLog.dir`` holds them)."""
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(path, n) for n in os.listdir(path)
        if os.path.isfile(os.path.join(path, n))
    )


def read(path: str) -> EventLog:
    log = EventLog()
    ends: dict[int, int] = {}
    ran: set[tuple[int, int]] = set()
    for name in log_files(path):
        with open(name, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerTaskEnd":
                    key = (e["Stage ID"], e["Stage Attempt ID"])
                    m = e.get("Task Metrics") or {}
                    st = log.stages.setdefault(key, Stage())
                    st.tasks += 1
                    st.task_ms += m.get("Executor Run Time", 0)
                    st.gc_ms += m.get("JVM GC Time", 0)
                    rd = m.get("Shuffle Read Metrics", {})
                    st.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    st.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    ran.add((info["Stage ID"], info["Stage Attempt ID"]))
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    batch = props.get("streaming.sql.batchId")
                    log.jobs[e["Job ID"]] = Job(
                        id=e["Job ID"],
                        group=props.get("spark.jobGroup.id") or "",
                        batch_id=int(batch) if batch is not None else None,
                        start_ms=e["Submission Time"],
                        end_ms=e["Submission Time"],
                        stage_ids=list(e["Stage IDs"]),
                    )
                elif kind == "SparkListenerJobEnd":
                    ends[e["Job ID"]] = e["Completion Time"]
                elif kind == PROGRESS:
                    log.progress.append(e["progress"])
                elif kind == "SparkListenerApplicationStart":
                    log.app_start_ms = e["Timestamp"]
    for jid, end in ends.items():
        if jid in log.jobs:
            log.jobs[jid].end_ms = end
    log.stages = {k: v for k, v in log.stages.items() if k in ran}
    return log


def union_s(intervals) -> float:
    """Seconds covered by the union of (start, end) second intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def stages_of(log: EventLog, jobs) -> list[Stage]:
    """Stages that ran for ``jobs``.  A stage id listed by several jobs
    (a shuffle reused by a later job) ran once and is counted once."""
    ids = {sid for j in jobs for sid in j.stage_ids}
    return [st for (sid, _), st in log.stages.items() if sid in ids]


def operator_rows(log: EventLog, jobs, wall_s: float, cores: int) -> dict[str, float]:
    """The ``operators.*`` rows over ``jobs``, which ran in ``wall_s``
    seconds of wall time on ``cores`` cores."""
    jobs = list(jobs)
    stages = stages_of(log, jobs)
    task_s = sum(s.task_ms for s in stages) / 1000.0
    return {
        "operators.jobs": len(jobs),
        "operators.stages": len(stages),
        "operators.tasks": sum(s.tasks for s in stages),
        "operators.single_task_stages": sum(1 for s in stages if s.tasks == 1),
        "operators.task_s": task_s,
        "operators.utilization": task_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "operators.shuffle_read_bytes": sum(s.shuffle_read for s in stages),
        "operators.shuffle_write_bytes": sum(s.shuffle_write for s in stages),
        "operators.spill_bytes": sum(s.spill for s in stages),
        "operators.gc_s": sum(s.gc_ms for s in stages) / 1000.0,
    }


def p50(values) -> float:
    values = list(values)
    return percentile(values, 50).value if values else 0.0


def micro_batches(
    log: EventLog, since_ms: float = 0.0, until_ms: float = float("inf")
) -> list[dict]:
    """Progress of the micro-batches that read input, started at or
    after ``since_ms`` and before ``until_ms``, each with ``end_ms``
    (trigger start + its execution time) and ``files`` (the [start, end)
    spool-file offsets)."""
    out = []
    for p in log.progress:
        src = p["sources"][0] if p.get("sources") else {}
        if not src.get("numInputRows"):
            continue
        start_ms = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() * 1000
        if not since_ms <= start_ms < until_ms:
            continue
        d = p["durationMs"]
        start_n = json.loads(src["startOffset"])["n"] if src.get("startOffset") else 0
        end_n = json.loads(src["endOffset"])["n"]
        out.append({
            "batch_id": p["batchId"],
            "start_ms": start_ms,
            "end_ms": start_ms + d.get("triggerExecution", 0),
            "files": (start_n, end_n),
            "rows": src["numInputRows"],
            "d": d,
        })
    return out


def stream_rows(log: EventLog, batches: list[dict]) -> dict[str, float]:
    """The micro-batch rows: Structured Streaming's phase durations
    (p50 over ``batches`` unless named p99) and the jobs and tasks each
    batch ran."""
    d = [b["d"] for b in batches]
    trigger = [x.get("triggerExecution", 0) / 1000.0 for x in d]
    by_batch: dict[int, list[Job]] = {}
    for j in log.jobs.values():
        if j.batch_id is not None:
            by_batch.setdefault(j.batch_id, []).append(j)
    ids = [b["batch_id"] for b in batches]
    return {
        "streaming.pipeline.batch_s_p50": p50(trigger),
        "streaming.pipeline.batch_s_p99": percentile(trigger, 99).value if trigger else 0.0,
        "streaming.pipeline.batches": len(batches),
        "streaming.pipeline.planning_s": p50(x.get("queryPlanning", 0) / 1000.0 for x in d),
        "streaming.pipeline.checkpoint_s": p50(
            (x.get("walCommit", 0) + x.get("commitOffsets", 0)) / 1000.0 for x in d
        ),
        "sources.jsonlines.offset_s": p50(
            (x.get("latestOffset", 0) + x.get("getBatch", 0)) / 1000.0 for x in d
        ),
        "streaming.http_frontend.push_batch_s": p50(x.get("addBatch", 0) / 1000.0 for x in d),
        "streaming.http_frontend.jobs_per_batch": p50(len(by_batch.get(i, ())) for i in ids),
        "streaming.http_frontend.tasks_per_batch": p50(
            sum(s.tasks for s in stages_of(log, by_batch.get(i, ()))) for i in ids
        ),
    }
