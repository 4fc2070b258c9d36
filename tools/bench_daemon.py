#!/usr/bin/env python
"""Daemon hot-path throughput: vectorized Spark dataflow vs the
reference's execution model.

The reference delivers events with an interpreted per-(event, listener)
Python loop — parse line, probe dict, compare, re-serialize
(SURVEY.md §3 EP1, /root/reference/evtstrd/dispatcher.py:93-95 +
listener.py:56-68).  `python_loop_baseline` below reimplements that
model from the spec (it is NOT reference code); the Spark path runs the
same workload through validate_envelope -> pipeline.listener_frames
(deliveries + sse_frame), the plan the daemon's push_batch collects.

Prints one JSON line: events/s for both engines and the ratio.
Usage: python tools/bench_daemon.py [n_events] [n_listeners]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SUBSYSTEMS = ["orders", "users", "billing", "metrics", "audit"]


def make_lines(n: int) -> list[str]:
    return [
        json.dumps(
            {
                "action": "notify",
                "subsystem": SUBSYSTEMS[i % len(SUBSYSTEMS)],
                "event": "add",
                "data": {"k": i % 100, "name": f"n{i % 7}"},
                "id": str(i),
            }
        )
        for i in range(n)
    ]


def make_listeners(n: int):
    from eventstreamd_spark.operators.routing import Listener

    return [
        Listener(
            name=f"l{i}",
            subsystem=SUBSYSTEMS[i % len(SUBSYSTEMS)],
            filters=(f"k>={(i * 7) % 60}", "name='n3'") if i % 2 else (f"k<{50 + i}",),
        )
        for i in range(n)
    ]


def python_loop_baseline(lines: list[str], listeners) -> int:
    """The reference's cost model: per-line json.loads, per-listener
    interpreted predicate eval, per-delivery json.dumps + frame."""
    import operator

    OPS = {"=": operator.eq, ">": operator.gt, ">=": operator.ge,
           "<": operator.lt, "<=": operator.le}
    by_subsystem: dict[str, list] = {}
    for li in listeners:
        parsed = []
        for f in li.filters:
            spec = __import__(
                "eventstreamd_spark.operators.filters", fromlist=["parse_filter"]
            ).parse_filter(f)
            parsed.append(spec)
        by_subsystem.setdefault(li.subsystem, []).append((li, parsed))

    def match(spec, data) -> bool:
        node = data
        for seg in spec.field.split("."):
            if not isinstance(node, dict) or seg not in node:
                return False
            node = node[seg]
        if spec.kind == "int":
            if not isinstance(node, int) or isinstance(node, bool):
                return False
        elif not isinstance(node, str):
            return False
        return OPS[spec.op](node, spec.value)

    delivered = 0
    for line in lines:
        try:
            msg = json.loads(line)
        except ValueError:
            continue
        if msg.get("action") != "notify":
            continue
        subsystem, data = msg.get("subsystem"), msg.get("data")
        for li, specs in by_subsystem.get(subsystem, []):
            if all(match(s, data) for s in specs):
                payload = json.dumps(data)
                _frame = (
                    f"event: {msg.get('event')}\r\ndata: {payload}\r\n"
                    f"id: {msg.get('id')}\r\n\r\n"
                )
                delivered += 1
    return delivered


def spark_path(spark, spool_dir: str, listeners) -> tuple[int, float]:
    """Full pipeline from the spool: ``jsonlines.read_spool`` (the bulk
    text scan Last-Event-ID replay also runs; the live daemon tails the
    spool through the streaming DataSource, which yields the same
    ``(file, pos, value)`` rows) -> validate, carrying the ``(file,
    pos)`` key -> fan out -> render frames, through the same
    ``listener_frames`` plan the daemon's sink runs per micro-batch.
    Timed from cold source so both engines pay their own parse."""
    from eventstreamd_spark.operators.envelope import validate_envelope
    from eventstreamd_spark.sources import jsonlines
    from eventstreamd_spark.streaming.pipeline import listener_frames

    raw = jsonlines.read_spool(spark, spool_dir)
    frames = listener_frames(
        validate_envelope(raw, passthrough=("file", "pos")), listeners
    )
    best = float("inf")
    n = 0
    for _ in range(3):  # best-of-3: exclude codegen/JIT warm-up
        t0 = time.perf_counter()
        n = frames.count()
        best = min(best, time.perf_counter() - t0)
    return n, best


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    n_listeners = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    import tempfile

    from eventstreamd_spark.session import get_spark
    from eventstreamd_spark.sources.jsonlines import write_spool_file

    spark = get_spark("bench-daemon")
    spark.sparkContext.setLogLevel("ERROR")
    lines = make_lines(n_events)
    listeners = make_listeners(n_listeners)

    # spool layout mirrors the socket front-end: many flush-sized files,
    # which is also what gives the Spark reader its parallelism
    spool = tempfile.mkdtemp(prefix="bench_spool_")
    chunk = max(1000, n_events // 64)
    for seq, i in enumerate(range(0, len(lines), chunk)):
        write_spool_file(spool, lines[i : i + chunk], seq)

    python_loop_baseline(lines[:1000], listeners)  # warm imports
    t_py = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        delivered_py = python_loop_baseline(lines, listeners)
        t_py = min(t_py, time.perf_counter() - t0)

    delivered_spark, t_spark = spark_path(spark, spool, listeners)

    assert delivered_py == delivered_spark, (delivered_py, delivered_spark)
    print(
        json.dumps(
            {
                "n_events": n_events,
                "n_listeners": n_listeners,
                "deliveries": delivered_spark,
                "python_loop_events_per_s": round(n_events / t_py),
                "spark_events_per_s": round(n_events / t_spark),
                "speedup": round(t_py / t_spark, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
