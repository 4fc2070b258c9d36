"""Live daemon workload: the real daemon in its own process, driven
through its Unix socket and read back through its SSE port.

Run by ``perfbench/run.py`` as ``python -m perfbench.daemon_live SPEC``.
This process is the traffic generator: one asyncio thread, at most
nproc connections -- one producer on the Unix socket and nproc-1 SSE
subscribers, each with its own (subsystem, filters) subscription.

Schedule after set-up (set-up ends when every subscriber has a frame of
the priming traffic):

1. open loop: the plan's fixed rates back to back, each event timed from
   when it was due; after the first (reference) step, the last
   subscriber drops twice at seeded times and reconnects with
   ``Last-Event-ID``, so spool replay runs beside live ingest;
2. burst: a backlog written at full speed once both replays are done.

Every subscriber's expected ids come from the benchmark's own filter
model; a frame that never arrives is lost, one that should not have
arrived is misrouted, and both count as failed.  Duplicates are
counted and allowed (delivery is at-least-once).

A traced run adds, after the measured window, an overflow probe: a
fresh subscriber and a burst of four times the daemon's per-connection
queue bound, all for it.  The frames it never gets are the daemon's
silent queue-overflow drop, reported as ``frames_dropped``; how many
depends on where micro-batch boundaries fall, so they are not part of
the run's failed count.
"""

from __future__ import annotations

import asyncio
import json
import os
import re
import socket
import subprocess
import sys
import time
from dataclasses import dataclass, field
from urllib.parse import urlencode

from perfbench import gen, ledger
from perfbench.filtermodel import subscription
from perfbench.procs import PeakRss, stop_group
from perfbench.stats import median, percentile

TRIGGER_SECONDS = 1
PRIMING_RATE = 20.0
CONNECT_TIMEOUT_S = 90.0
DRAIN_TIMEOUT_S = 25.0
# No frame for this long after the last send: the missing ones are lost.
# Well above a micro-batch on a busy host, so a slow batch is not a loss.
QUIET_S = 8.0
# Longest wait for a reconnect's gap before the next planned drop.
GAP_WAIT_S = 8.0
# A step sustains its rate when none of its frames is lost and its p99
# latency stays under this limit: far above the latency of a daemon
# that keeps up (a few micro-batches), so only a backlog that keeps
# growing through the step fails it.
LATENCY_LIMIT_S = 10.0
_DATE_LITERAL = re.compile(r"[=<>]\d{4}-?\d{2}-?\d{2}$")


@dataclass
class Sub:
    subsystem: str
    filters: tuple[str, ...]
    # (id, monotonic receive time, connection number) per frame
    frames: list[tuple[str, float, int]] = field(default_factory=list)
    bad: list[str] = field(default_factory=list)
    connection: int = 0
    first_frame: asyncio.Event = field(default_factory=asyncio.Event)


def _line(i: str, subsystem: str, data: dict) -> bytes:
    return (json.dumps({
        "action": "notify", "subsystem": subsystem, "event": "add",
        "data": data, "id": i,
    }) + "\n").encode()


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Generator:
    def __init__(self, spec: dict) -> None:
        self.spec = spec
        self.plan = gen.daemon_plan(spec["seed"], spec["cores"] - 1, spec["seconds"])
        self.port = _free_port()
        self.run_dir = spec["run_dir"]
        # relative to the repository root (the daemon's cwd): keeps the
        # socket path short of the 108-byte Unix limit
        self.sock = os.path.relpath(os.path.join(self.run_dir, "d.sock"), spec["root"])
        self.work = os.path.join(self.run_dir, "daemon-work")
        self.subs = [Sub(s, f) for s, f in self.plan.subscriptions]
        self.payload: dict[str, tuple[str, dict]] = {}
        self.due: dict[str, float] = {}       # measured id -> due time
        self.sent: dict[str, float] = {}      # any id -> write time
        self.late: list[float] = []
        self.reconnects: list[dict] = []
        self.peak_rss = 0.0
        self.overflow: dict | None = None
        self.daemon: subprocess.Popen | None = None
        last = subscription(*self.plan.subscriptions[-1])
        self.expected_last = {
            str(i) for i, (sub, data) in enumerate(self.plan.events) if last(sub, data)
        } | {
            f"p{j}" for j, (sub, data) in enumerate(self.plan.priming) if last(sub, data)
        }

    # -- connections -----------------------------------------------------

    async def _open_sse(self, sub: Sub, last_id: str | None):
        deadline = time.monotonic() + CONNECT_TIMEOUT_S
        while True:
            try:
                r, w = await asyncio.open_connection("127.0.0.1", self.port)
                break
            except OSError:
                if time.monotonic() > deadline or self.daemon.poll() is not None:
                    raise RuntimeError("daemon HTTP port never came up")
                await asyncio.sleep(0.2)
        query = urlencode([("subsystem", sub.subsystem)] + [("filter", f) for f in sub.filters])
        head = f"GET /events?{query} HTTP/1.1\r\nHost: bench\r\n"
        if last_id is not None:
            head += f"Last-Event-ID: {last_id}\r\n"
        w.write((head + "\r\n").encode())
        await w.drain()
        status = await r.readline()
        if b" 200 " not in status:
            raise RuntimeError(f"subscribe failed: {status!r}")
        while (await r.readline()) not in (b"\r\n", b""):
            pass
        return r, w

    async def _read_frames(self, sub: Sub, r: asyncio.StreamReader, conn: int) -> None:
        """Parse chunked SSE frames until the connection ends."""
        try:
            while True:
                size = await r.readline()
                if not size:
                    return
                n = int(size.strip(), 16)
                if n == 0:
                    return
                body = (await r.readexactly(n + 2))[:-2].decode()
                now = time.monotonic()
                fields = dict(
                    line.split(": ", 1) for line in body.split("\r\n") if ": " in line
                )
                if fields.get("event") == "ping":
                    continue
                fid = fields.get("id", "")
                sub.frames.append((fid, now, conn))
                want = self.payload.get(fid)  # an unknown id counts as misrouted
                if want is not None and (
                    json.loads(fields.get("data", "null")) != want[1]
                    or fields.get("event") != "add"
                ):
                    sub.bad.append(fid)
                sub.first_frame.set()
        except (asyncio.IncompleteReadError, ConnectionError):
            return

    async def _subscribe(self, sub: Sub) -> tuple[asyncio.Task, asyncio.StreamWriter]:
        r, w = await self._open_sse(sub, None)
        return asyncio.create_task(self._read_frames(sub, r, 0)), w

    # -- producer --------------------------------------------------------

    async def _producer(self):
        deadline = time.monotonic() + CONNECT_TIMEOUT_S
        while True:
            try:
                return await asyncio.open_unix_connection(self.sock)
            except OSError:
                if time.monotonic() > deadline or self.daemon.poll() is not None:
                    raise RuntimeError("daemon socket never came up")
                await asyncio.sleep(0.2)

    async def _prime(self, w: asyncio.StreamWriter) -> float:
        """Send priming events until every subscriber has a frame;
        returns the first send time."""
        first = None
        for j, (subsystem, data) in enumerate(self.plan.priming):
            i = f"p{j}"
            self.payload[i] = (subsystem, data)
            now = time.monotonic()
            first = first or now
            self.sent[i] = now
            w.write(_line(i, subsystem, data))
            await w.drain()
            if all(s.first_frame.is_set() for s in self.subs):
                return first
            await asyncio.sleep(1.0 / PRIMING_RATE)
        raise RuntimeError("subscribers got no frame from the priming traffic")

    async def _open_loop(self, w: asyncio.StreamWriter, t0: float) -> int:
        """Send the open-loop steps on schedule; returns the next id."""
        i = 0
        start = t0
        for rate, seconds in self.plan.rates:
            n = int(rate * seconds)
            k = 0
            while k < n:
                now = time.monotonic()
                while k < n and start + k / rate <= now:
                    eid = str(i)
                    due = start + k / rate
                    subsystem, data = self.plan.events[i]
                    self.payload[eid] = (subsystem, data)
                    self.due[eid] = due
                    self.sent[eid] = now
                    self.late.append(now - due)
                    w.write(_line(eid, subsystem, data))
                    i += 1
                    k += 1
                await w.drain()
                if k < n:
                    await asyncio.sleep(max(0.0, start + k / rate - time.monotonic()))
            start += seconds
        return i

    async def _burst(self, w: asyncio.StreamWriter, i: int) -> float:
        """Write the burst at full speed; returns its first write time."""
        burst_t = time.monotonic()
        for j in range(self.plan.burst):
            eid = str(i + j)
            subsystem, data = self.plan.events[i + j]
            self.payload[eid] = (subsystem, data)
            self.sent[eid] = burst_t
            w.write(_line(eid, subsystem, data))
            if j % 1000 == 999:
                await w.drain()
        await w.drain()
        return burst_t

    # -- reconnecting subscriber -----------------------------------------

    def _gap(self, sub: Sub, rc: dict) -> set[str]:
        """Ids the subscriber should get on reconnect ``rc``: expected
        for it, sent before the reconnect, not received before it."""
        before = {e for e, _, c in sub.frames if c < rc["connection"]}
        return {
            e for e in self.expected_last
            if e in self.sent and self.sent[e] < rc["reconnect"] and e not in before
        }

    async def _gap_done(self, sub: Sub, rc: dict) -> None:
        """Wait until reconnect ``rc``'s gap has arrived, at most
        ``GAP_WAIT_S`` after the reconnect."""
        while time.monotonic() < rc["reconnect"] + GAP_WAIT_S:
            got = {e for e, _, c in sub.frames if c == rc["connection"]}
            if self._gap(sub, rc) <= got:
                return
            await asyncio.sleep(0.05)

    async def _reconnects(self, sub: Sub, task: asyncio.Task, w, t0: float):
        """Drop and reconnect the subscriber at the plan's times; a drop
        waits for the previous reconnect's gap to arrive, and so does the
        burst for the last one's, so every replay is timed to completion
        beside open-loop ingest only."""
        tasks = [task]
        for offset, gap in self.plan.reconnects:
            await asyncio.sleep(max(0.0, t0 + offset - time.monotonic()))
            if self.reconnects:
                await self._gap_done(sub, self.reconnects[-1])
            w.close()
            await tasks[-1]
            last_id = sub.frames[-1][0] if sub.frames else None
            await asyncio.sleep(gap)
            sub.connection += 1
            spool_lines = self._spool_lines() if self.spec["trace"] else 0
            t = time.monotonic()
            r, w = await self._open_sse(sub, last_id)
            tasks.append(asyncio.create_task(self._read_frames(sub, r, sub.connection)))
            self.reconnects.append({
                "last_id": last_id, "reconnect": t,
                "connection": sub.connection, "spool_lines": spool_lines,
            })
        return tasks, w

    def _spool_files(self) -> list[str]:
        spool = os.path.join(self.work, "spool")
        return sorted(n for n in os.listdir(spool) if n.endswith(".jsonl") and not n.startswith("."))

    def _spool_lines(self) -> int:
        spool = os.path.join(self.work, "spool")
        total = 0
        for name in self._spool_files():
            with open(os.path.join(spool, name), "rb") as f:
                total += sum(1 for _ in f)
        return total

    async def _overflow_probe(self, w: asyncio.StreamWriter) -> dict:
        """Subscribe a fresh listener, write the plan's overflow events
        (all for it) at full speed and count the frames it never gets."""
        sub = Sub(*gen.OVERFLOW_SUBSCRIPTION)
        r, sw = await self._open_sse(sub, None)
        reader = asyncio.create_task(self._read_frames(sub, r, 0))
        ids = set()
        for j, (subsystem, data) in enumerate(self.plan.overflow):
            eid = f"o{j}"
            ids.add(eid)
            self.payload[eid] = (subsystem, data)
            w.write(_line(eid, subsystem, data))
            if j % 1000 == 999:
                await w.drain()
        await w.drain()
        await self._drain([ids], time.monotonic(), [sub])
        sw.close()
        await reader
        seen = {f[0] for f in sub.frames}
        return {
            "subscription": [sub.subsystem, list(sub.filters)],
            "expected_frames": len(ids),
            "dropped_frames": len(ids - seen),
            "bad_content_frames": len(sub.bad),
        }

    async def _sample_rss(self, rss: PeakRss, stop: asyncio.Event) -> None:
        """Sample on the event loop: the generator stays one thread."""
        while not stop.is_set():
            rss.sample()
            try:
                await asyncio.wait_for(stop.wait(), 0.5)
            except asyncio.TimeoutError:
                pass

    # -- the run ---------------------------------------------------------

    def _start_daemon(self) -> float:
        ini = os.path.join(self.run_dir, "daemon.ini")
        with open(ini, "w") as f:
            f.write(
                "[General]\n"
                f"SocketFile = {self.sock}\n"
                f"HTTPPort = {self.port}\n"
                "[Spark]\n"
                f"WorkDir = {self.work}\n"
                f"TriggerSeconds = {TRIGGER_SECONDS}\n"
            )
        launched = time.monotonic()
        self.daemon = subprocess.Popen(
            [sys.executable, "-m", "eventstreamd_spark.streaming.daemon", "-c", ini],
            cwd=self.spec["root"],
            stdin=subprocess.DEVNULL,
            stdout=sys.stderr.fileno(),
            start_new_session=True,
        )
        # run.py stops this group too, should this process die first
        with open(os.path.join(self.run_dir, "daemon.pgid"), "w") as f:
            f.write(str(self.daemon.pid))
        return launched

    async def run(self) -> dict:
        wall_offset = time.time() - time.monotonic()
        launched = self._start_daemon()
        rss = PeakRss([os.getpid(), self.daemon.pid])
        stop_rss = asyncio.Event()
        rss_task = asyncio.create_task(self._sample_rss(rss, stop_rss))
        try:
            readers = [await self._subscribe(s) for s in self.subs]
            _, pw = await self._producer()
            primed = await self._prime(pw)
            ready = time.monotonic()
            # measure from an empty pipeline: the priming backlog drains first
            await self._drain(self._expected(), ready)
            t0 = time.monotonic() + 0.5
            last = self.subs[-1]
            reconnect_task = asyncio.create_task(
                self._reconnects(last, readers[-1][0], readers[-1][1], t0)
            )
            await asyncio.sleep(t0 - time.monotonic())
            next_id = await self._open_loop(pw, t0)
            tasks, last_w = await reconnect_task
            await self._gap_done(last, self.reconnects[-1])
            burst_t = await self._burst(pw, next_id)
            expected = self._expected()
            end = await self._drain(expected, time.monotonic())
            self.spool_files = len(self._spool_files())
            for _, w in readers[:-1]:
                w.close()
            last_w.close()
            await asyncio.gather(*[t for t, _ in readers[:-1]], *tasks)
            stop_rss.set()
            await rss_task
            rss.sample()
            self.peak_rss = rss.peak_mb
            if self.spec["trace"]:
                self.overflow = await self._overflow_probe(pw)
            pw.close()
        finally:
            stop_rss.set()
            await rss_task
            stop_group(self.daemon.pid, self.daemon)
        return self._report(expected, launched, primed, ready, t0, burst_t, end, wall_offset)

    def _expected(self) -> list[set[str]]:
        models = [subscription(s.subsystem, s.filters) for s in self.subs]
        return [
            {i for i, (subsystem, data) in self.payload.items() if m(subsystem, data)}
            for m in models
        ]

    async def _drain(self, expected, since: float, subs: list[Sub] | None = None) -> float:
        """Wait until every expected frame has arrived, or no frame has
        arrived for ``QUIET_S`` (the rest are lost), or ``DRAIN_TIMEOUT_S``
        passed; returns when the last expected frame arrived.
        ``expected`` holds one id set per subscriber of ``subs`` (by
        default the measured subscribers)."""
        subs = self.subs if subs is None else subs
        deadline = since + DRAIN_TIMEOUT_S
        while time.monotonic() < deadline:
            if all(exp <= {f[0] for f in s.frames} for s, exp in zip(subs, expected)):
                break
            newest = max((s.frames[-1][1] for s in subs if s.frames), default=since)
            if time.monotonic() - max(newest, since) > QUIET_S:
                break
            await asyncio.sleep(0.1)
        return max(
            (t for s, exp in zip(subs, expected) for i, t, _ in s.frames if i in exp),
            default=time.monotonic(),
        )

    def _report(self, expected, launched, primed, ready, t0, burst_t, end, wall_offset) -> dict:
        plan = self.plan
        lost = misrouted = duplicates = 0
        first_seen: list[dict[str, float]] = []
        for s, exp in zip(self.subs, expected):
            seen: dict[str, float] = {}
            for i, t, _ in s.frames:
                if i in seen:
                    duplicates += 1
                else:
                    seen[i] = t
            first_seen.append(seen)
            lost += len(exp - seen.keys())
            misrouted += len(seen.keys() - exp)
        bad = sum(len(s.bad) for s in self.subs)
        attempted = sum(len(e) for e in expected)

        # open-loop steps: event ids of each step, in order
        steps, i = [], 0
        for rate, seconds in plan.rates:
            n = int(rate * seconds)
            steps.append([str(k) for k in range(i, i + n)])
            i += n
        stable = list(range(len(self.subs) - 1))  # the last one reconnects

        def step_latencies(ids) -> list[float]:
            return [
                first_seen[k][e] - self.due[e]
                for e in ids for k in stable if e in first_seen[k]
            ]

        sustained = 0.0
        step_rows = []
        for (rate, _), ids in zip(plan.rates, steps):
            lat = step_latencies(ids)
            third = len(ids) // 3
            early = step_latencies(ids[:third])
            late = step_latencies(ids[-third:])
            step_lost = sum(
                1 for k, exp in enumerate(expected) for e in ids
                if e in exp and e not in first_seen[k]
            )
            p99_step = percentile(lat, 99).value if lat else float("inf")
            ok = step_lost == 0 and p99_step <= LATENCY_LIMIT_S
            achieved = (len(ids) - 1) / (self.sent[ids[-1]] - self.sent[ids[0]])
            if ok:
                sustained = achieved
            step_rows.append({
                "rate": rate, "achieved": achieved, "ok": ok, "lost": step_lost,
                "latency_p50": median(lat) if lat else None, "latency_p99": p99_step,
                "growth_s": median(late) - median(early) if early and late else None,
            })
        # the reference step's first quarter brings the pipeline up to its
        # rate and is left out of the latency sample
        ref_ids = steps[plan.ref_step]
        ref = step_latencies(ref_ids[len(ref_ids) // 4:])
        p50, p99 = percentile(ref, 50), percentile(ref, 99)

        burst_ids = [str(k) for k in range(i, i + plan.burst)]
        burst_last = max(
            (first_seen[k][e] for e in burst_ids for k in range(len(self.subs))
             if e in first_seen[k]),
            default=end,
        )
        last = self.subs[-1]
        replays = []
        for rc in self.reconnects:
            gap = self._gap(last, rc)
            got = [t for e, t, c in last.frames if c == rc["connection"] and e in gap]
            rc["gap_frames"] = len(gap)
            rc["replay_s"] = (max(got) - rc["reconnect"]) if got else None
            if rc["replay_s"] is not None:
                replays.append(rc["replay_s"])
        first_frames = max(min(t for _, t, _ in s.frames) for s in self.subs)
        metrics = {
            "setup_s": first_frames - launched,
            "peak_rss_mb": self.peak_rss,
            "latency_p50_s": p50.value,
            "latency_p99_s": p99.value,
            "sustained_events_per_s": sustained,
            "burst_events_per_s": plan.burst / (burst_last - burst_t),
            "replay_s": median(replays) if replays else 0.0,
            "first_pass_s": first_frames - primed,
            "suite_s": end - t0,
        }
        samples = {
            "setup_s": 1, "peak_rss_mb": 1, "latency_p50_s": p50.n, "latency_p99_s": p99.n,
            "sustained_events_per_s": len(plan.rates), "burst_events_per_s": plan.burst,
            "replay_s": len(replays), "first_pass_s": 1, "suite_s": 1,
        }
        detail = {
            "subscriptions": [[s.subsystem, list(s.filters)] for s in self.subs],
            "expected_frames": attempted,
            "lost_frames": lost,
            "misrouted_frames": misrouted,
            "bad_content_frames": bad,
            "duplicate_frames": duplicates,
            "latency_p99": vars(p99),
            "steps": step_rows,
            "reconnects": [
                {k: v for k, v in rc.items() if k in ("last_id", "gap_frames", "replay_s", "spool_lines")}
                for rc in self.reconnects
            ],
            "timeline_s": {
                "launch_to_ready": ready - launched,
                "open_loop": burst_t - t0,
                "burst_to_end": end - burst_t,
            },
            "generator_late_p50_s": percentile(self.late, 50).value,
            "generator_late_p99_s": percentile(self.late, 99).value,
            "generator_late_max_s": max(self.late),
        }
        self._timeline = {
            "wall_offset": wall_offset, "launched": launched, "ready": ready, "t0": t0,
            "end": end, "first_seen": first_seen, "steps": steps, "stable": stable,
        }
        return {
            "correct": misrouted == 0 and bad == 0,
            "attempted": attempted,
            "failed": lost + misrouted + bad,
            "metrics": metrics,
            "samples": samples,
            "detail": detail,
        }

    # -- traced run: per-layer rows --------------------------------------

    def layers(self, result: dict) -> dict:
        tl = self._timeline
        off = tl["wall_offset"]
        log = ledger.read(os.path.join(self.run_dir, "eventlog"))
        # the measured window: the overflow probe comes after ``end``
        t0_ms = (tl["t0"] + off) * 1000
        end_ms = (tl["end"] + off) * 1000
        batches = ledger.micro_batches(
            log, since_ms=t0_ms - TRIGGER_SECONDS * 1000, until_ms=end_ms
        )
        rows = ledger.stream_rows(log, batches)

        # spool files: which ids each holds, and when it was published
        spool = os.path.join(self.work, "spool")
        names = self._spool_files()[: self.spool_files]
        file_of: dict[str, int] = {}
        lag = []
        for idx, name in enumerate(names):
            path = os.path.join(spool, name)
            mtime = os.stat(path).st_mtime - off
            with open(path, "rb") as f:
                for raw in f:
                    eid = json.loads(raw)["id"]
                    file_of[eid] = idx
                    if eid in self.due:
                        lag.append(mtime - self.due[eid])
        # the sink's end: addBatch is the last phase before commitOffsets
        batch_end = {}
        for b in batches:
            for idx in range(*b["files"]):
                batch_end[idx] = (b["end_ms"] - b["d"].get("commitOffsets", 0)) / 1000 - off
        sse = [
            tl["first_seen"][k][e] - batch_end[file_of[e]]
            for e in self.due for k in tl["stable"]
            if e in tl["first_seen"][k] and file_of.get(e) in batch_end
        ]
        window = [j for j in log.jobs.values() if t0_ms <= j.start_ms <= end_ms]
        rows.update(ledger.operator_rows(log, window, tl["end"] - tl["t0"], self.spec["cores"]))
        replay_s, replay_jobs = [], []
        for rc in self.reconnects:
            lo = (rc["reconnect"] + off) * 1000
            hi = lo + 1000 * (rc["replay_s"] or 0) + 1
            jobs = [j for j in log.jobs.values() if j.batch_id is None and lo <= j.start_ms <= hi]
            replay_jobs.append(len(jobs))
            replay_s.append(ledger.union_s((j.start_ms / 1000, j.end_ms / 1000) for j in jobs))
        rows.update({
            "session.spark_start_s": log.app_start_ms / 1000 - off - tl["launched"],
            "session.warm_scan_s": result["metrics"]["setup_s"]
            - (log.app_start_ms / 1000 - off - tl["launched"]),
            "operators.action_s": sum(b["d"].get("addBatch", 0) for b in batches) / 1000,
            "streaming.socket_spool.spool_lag_s": ledger.p50(lag),
            "streaming.socket_spool.files": len(names),
            "streaming.http_frontend.sse_write_s": ledger.p50(sse),
            "streaming.http_frontend.frames_dropped": result["detail"]["lost_frames"]
            + self.overflow["dropped_frames"],
            "streaming.pipeline.replay_s": ledger.p50(replay_s),
            "streaming.pipeline.replay_jobs": ledger.p50(replay_jobs),
            "streaming.pipeline.replay_spool_lines": ledger.p50(
                rc["spool_lines"] for rc in self.reconnects
            ),
            "generator.late_p99_s": result["detail"]["generator_late_p99_s"],
            "trace.tracer_s": 0.0,
        })
        return rows

    def baseline(self) -> float:
        """The reference's per-(event, listener) cost model over this
        run's measured events and subscriptions, in events/s."""
        from types import SimpleNamespace

        from tools.bench_daemon import python_loop_baseline

        lines = [
            _line(str(i), s, d).decode() for i, (s, d) in enumerate(self.plan.events)
        ]
        # the model compares every literal with the raw JSON value, which
        # for a date literal raises; it gets the subscriptions' other filters
        listeners = [
            SimpleNamespace(
                subsystem=s.subsystem,
                filters=tuple(f for f in s.filters if _DATE_LITERAL.search(f) is None),
            )
            for s in self.subs
        ]
        t = time.perf_counter()
        python_loop_baseline(lines, listeners)
        return len(lines) / (time.perf_counter() - t)


def main() -> int:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    g = Generator(spec)
    out = asyncio.run(g.run())
    out["detail"]["reference_loop_events_per_s"] = g.baseline()
    if g.overflow is not None:
        out["detail"]["overflow_probe"] = g.overflow
    if spec["trace"]:
        out["layers"] = g.layers(out)
        out["layers"]["baseline.reference_loop_events_per_s"] = out["detail"]["reference_loop_events_per_s"]
    with open(os.path.join(spec["run_dir"], "result.json"), "w") as f:
        json.dump(out, f, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
