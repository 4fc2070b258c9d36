"""End-to-end daemon test: Unix-socket producer -> spool -> Spark
streaming pipeline -> SSE listener over real HTTP, plus /stats and the
auth gate — the reference's EP1/EP2/EP3 in one scenario."""

from __future__ import annotations

import asyncio
import datetime
import json
import re
import time

import pytest
from pyspark.sql import functions as F

from eventstreamd_spark.streaming.daemon import run_daemon
from eventstreamd_spark.streaming.http_frontend import AuthError

PORT = 18901


def _msg(subsystem: str, k: int, id: str) -> str:
    return json.dumps(
        {
            "action": "notify",
            "subsystem": subsystem,
            "event": "add",
            "data": {"k": k},
            "id": id,
        }
    )


async def _read_headers(reader: asyncio.StreamReader) -> str:
    head = b""
    while b"\r\n\r\n" not in head:
        head += await asyncio.wait_for(reader.read(256), 10)
    return head.decode()


async def _read_until(reader: asyncio.StreamReader, needle: str, timeout: float = 90) -> str:
    buf = ""
    deadline = asyncio.get_event_loop().time() + timeout
    while needle not in buf:
        left = deadline - asyncio.get_event_loop().time()
        if left <= 0:
            raise AssertionError(f"timed out waiting for {needle!r}; got {buf!r}")
        chunk = await asyncio.wait_for(reader.read(4096), left)
        if not chunk:
            raise AssertionError(f"EOF before {needle!r}; got {buf!r}")
        buf += chunk.decode()
    return buf


def test_daemon_end_to_end(spark, tmp_path) -> None:
    """Full contract: auth gate, filtered subscription, socket ingest,
    SSE delivery through push_batch, and /stats."""
    sock = str(tmp_path / "evtd.sock")

    async def auth(path: str, headers: dict[str, str]) -> tuple[datetime.datetime | None, None]:
        if headers.get("x-token") == "deny":
            raise AuthError("403 Forbidden")
        return None, None

    async def scenario() -> None:
        stop = asyncio.Event()
        daemon = asyncio.create_task(
            run_daemon(
                lambda: spark,
                sock,
                str(tmp_path / "work"),
                port=PORT,
                trigger_seconds=1,
                auth=auth,
                stop_event=stop,
            )
        )
        for _ in range(100):  # wait for the socket server to come up
            if daemon.done():
                daemon.result()
            try:
                r, w = await asyncio.open_unix_connection(sock)
                break
            except (FileNotFoundError, ConnectionRefusedError):
                await asyncio.sleep(0.1)
        else:
            raise AssertionError("socket server never came up")

        # O12: denied client is rejected before any routing
        dr, dw = await asyncio.open_connection("127.0.0.1", PORT)
        dw.write(
            b"GET /events?subsystem=orders HTTP/1.1\r\nx-token: deny\r\n\r\n"
        )
        await dw.drain()
        assert "403 Forbidden" in await _read_headers(dr)
        dw.close()

        # EP2: subscribe with a filter (registered before events flow)
        lr, lw = await asyncio.open_connection("127.0.0.1", PORT)
        lw.write(
            f"GET /events?subsystem=orders&filter=k>=50 HTTP/1.1\r\n\r\n".encode()
        )
        await lw.drain()
        head = await _read_headers(lr)
        assert "200 OK" in head and "text/event-stream" in head
        assert "Keep-Alive: timeout=5, max=100" in head

        # EP1: produce over the unix socket — k=60 matches, k=10 filtered,
        # other-subsystem and garbage lines dropped
        w.write(
            (
                _msg("orders", 60, "e1") + "\n"
                + _msg("orders", 10, "e2") + "\n"
                + _msg("other", 99, "e3") + "\n"
                + "garbage\n"
            ).encode()
        )
        await w.drain()

        got = await _read_until(lr, "id: e1")
        assert '"k":60' in got.replace(" ", "")
        assert "id: e2" not in got and "id: e3" not in got

        # EP3: /stats sees the live listener
        sr, sw = await asyncio.open_connection("127.0.0.1", PORT)
        sw.write(b"GET /stats HTTP/1.1\r\n\r\n")
        await sw.drain()
        body = await _read_until(sr, "}")
        stats = json.loads(body.split("\r\n\r\n", 1)[1])
        assert stats["total-connections"] >= 1
        assert any(
            c["subsystem"] == "orders" and c["filters"] == ["k>=50"]
            for c in stats["connections"]
        )
        sw.close()
        lw.close()
        w.close()
        stop.set()
        await asyncio.wait_for(daemon, 60)

    asyncio.run(scenario())


def test_expiry_logout(spark, tmp_path) -> None:
    """O9: an auth-supplied expire time emits a logout event and closes."""
    sock = str(tmp_path / "evtd.sock")

    async def auth(path, headers):
        return (
            datetime.datetime.now() + datetime.timedelta(seconds=2),
            None,
        )

    async def scenario() -> None:
        stop = asyncio.Event()
        daemon = asyncio.create_task(
            run_daemon(
                lambda: spark,
                sock,
                str(tmp_path / "work"),
                port=PORT + 1,
                trigger_seconds=1,
                auth=auth,
                stop_event=stop,
            )
        )
        for _ in range(100):
            if daemon.done():
                daemon.result()
            try:
                lr, lw = await asyncio.open_connection("127.0.0.1", PORT + 1)
                break
            except ConnectionRefusedError:
                await asyncio.sleep(0.1)
        lw.write(b"GET /events?subsystem=s HTTP/1.1\r\n\r\n")
        await lw.drain()
        got = await _read_until(lr, "event: logout", timeout=30)
        assert '"reason": "expire"' in got
        lw.close()
        stop.set()
        await asyncio.wait_for(daemon, 60)

    asyncio.run(scenario())


def test_stale_socket_removed_live_socket_refused(tmp_path) -> None:
    """Reference socket_server.py:44-53: a dead socket file is cleaned
    up and bind proceeds; a live one raises ServerAlreadyRunningError.
    Also checks the configured mode lands on the socket file."""
    import os
    import stat

    from eventstreamd_spark.streaming.socket_spool import (
        ServerAlreadyRunningError,
        run_socket_server,
    )

    sock = str(tmp_path / "evt.sock")
    spool = str(tmp_path / "spool")

    async def scenario() -> None:
        # stale file (not a live server) -> removed, bind succeeds
        open(sock, "w").close()
        s1 = await run_socket_server(sock, spool, socket_mode=0o640)
        assert stat.S_IMODE(os.stat(sock).st_mode) == 0o640
        # live server on the path -> second instance refuses to start
        try:
            await run_socket_server(sock, spool)
            raise AssertionError("expected ServerAlreadyRunningError")
        except ServerAlreadyRunningError:
            pass
        s1.close()
        await s1.wait_closed()

    asyncio.run(scenario())


def test_stats_referer_field() -> None:
    """/stats mirrors the reference's NotRequired referer (stats.py:23)."""
    from eventstreamd_spark.streaming.http_frontend import (
        Connection,
        ListenerRegistry,
    )

    reg = ListenerRegistry()
    reg.add(Connection("orders", (), asyncio.Queue(), referer="http://ui/"))
    reg.add(Connection("orders", (), asyncio.Queue()))
    conns = reg.stats_json()["connections"]
    assert conns[0]["referer"] == "http://ui/"
    assert "referer" not in conns[1]  # absent, not null, when unset


def test_daemon_does_not_load_the_batch_operators() -> None:
    # the daemon's Python driver imports pipeline.py, whose batch
    # kernels import the operator modules function-locally; a fresh
    # interpreter that imports the daemon must load none of them
    import os
    import subprocess
    import sys

    heavy = (
        "eventstreamd_spark.operators.perceptual",
        "eventstreamd_spark.operators.dedup",
        "eventstreamd_spark.queries_registry",
    )
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys, eventstreamd_spark.streaming.daemon; "
         "print(*sys.modules)"],
        capture_output=True, text=True, check=True, timeout=120,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    loaded = set(out.stdout.split())
    assert "eventstreamd_spark.streaming.pipeline" in loaded
    assert loaded.isdisjoint(heavy), sorted(loaded & set(heavy))


def test_config_parsing(tmp_path) -> None:
    """INI config: same keys/fallbacks as the reference (config.py:31-54)."""
    from eventstreamd_spark.streaming.config import Config, read_config

    ini = tmp_path / "evt.conf"
    ini.write_text(
        "[General]\n"
        "SocketFile = /tmp/custom.sock\n"
        "SocketMode = 0644\n"
        "HTTPPort = 9999\n"
        "SSLCertificateFile = /tmp/cert.pem\n"
        "SSLKeyFile = /tmp/key.pem\n"
        "[Spark]\n"
        "WorkDir = /tmp/wd\n"
        "TriggerSeconds = 5\n"
    )
    cfg = read_config(str(ini))
    assert cfg.socket_file == "/tmp/custom.sock"
    assert cfg.socket_mode == 0o644
    assert cfg.http_port == 9999
    assert cfg.with_ssl
    assert cfg.work_dir == "/tmp/wd" and cfg.trigger_seconds == 5
    # defaults when keys absent
    ini2 = tmp_path / "empty.conf"
    ini2.write_text("[General]\n")
    cfg2 = read_config(str(ini2))
    assert cfg2.socket_file == Config().socket_file
    assert cfg2.http_port == 8888 and not cfg2.with_ssl


def test_last_event_id_replay(spark, tmp_path) -> None:
    """Reconnect with Last-Event-ID replays the missed gap from the
    spool, with the subscription's filters applied — the SSE feature
    the reference emits ids for but never implements."""
    sock = str(tmp_path / "evtd.sock")

    async def scenario() -> None:
        stop = asyncio.Event()
        daemon = asyncio.create_task(
            run_daemon(
                lambda: spark,
                sock,
                str(tmp_path / "work"),
                port=PORT + 2,
                trigger_seconds=1,
                stop_event=stop,
            )
        )
        for _ in range(100):
            if daemon.done():
                daemon.result()
            try:
                r, w = await asyncio.open_unix_connection(sock)
                break
            except (FileNotFoundError, ConnectionRefusedError):
                await asyncio.sleep(0.1)
        else:
            raise AssertionError("socket server never came up")

        # first subscription sees e1 live
        lr, lw = await asyncio.open_connection("127.0.0.1", PORT + 2)
        lw.write(b"GET /events?subsystem=orders&filter=k>=50 HTTP/1.1\r\n\r\n")
        await lw.drain()
        await _read_headers(lr)
        w.write((_msg("orders", 60, "e1") + "\n").encode())
        await w.drain()
        await _read_until(lr, "id: e1")
        lw.close()  # client drops; events keep flowing

        w.write(
            (
                _msg("orders", 70, "e2") + "\n"   # missed, matches filter
                + _msg("orders", 10, "e3") + "\n"  # missed, filtered out
                + _msg("other", 80, "e4") + "\n"   # missed, other subsystem
            ).encode()
        )
        await w.drain()
        await asyncio.sleep(2)  # let the spool land

        # reconnect with Last-Event-ID: e1 -> replay must deliver e2
        # only (filter + subsystem applied), never e1/e3/e4
        rr, rw = await asyncio.open_connection("127.0.0.1", PORT + 2)
        rw.write(
            b"GET /events?subsystem=orders&filter=k>=50 HTTP/1.1\r\n"
            b"Last-Event-ID: e1\r\n\r\n"
        )
        await rw.drain()
        await _read_headers(rr)
        got = await _read_until(rr, "id: e2")
        assert "id: e1" not in got and "id: e3" not in got and "id: e4" not in got
        assert '"k":70' in got.replace(" ", "")
        rw.close()
        w.close()
        stop.set()
        await asyncio.wait_for(daemon, 60)

    asyncio.run(scenario())


_INT_ID = json.dumps(
    {"action": "notify", "subsystem": "orders", "event": "add", "data": {"k": 99}, "id": 5}
)
# three spool files: a non-JSON line; a valid string id "5" before an
# int-typed id 5; id "r" valid in two files, then once more with a
# non-object payload (invalid, so not the marker); interior "\r"
# whitespace inside a valid line (id "c1"); an empty line
REPLAY_SPOOL = [
    [
        _msg("orders", 60, "a1"),
        "not json",
        _msg("orders", 65, "5"),
        _msg("orders", 70, "r"),
        _msg("orders", 80, "c1").replace(', "subsystem"', ',\r"subsystem"'),
    ],
    [
        _msg("orders", 10, "b1"),
        _msg("other", 90, "r"),
        _INT_ID,
        _msg("orders", 95, "b2"),
        _msg("orders", 75, "r").replace('{"k": 75}', "[75]"),
        "",
    ],
    [_msg("orders", 55, "c2"), _msg("orders", 51, "d1")],
]


def _model_replay(
    files: list[list[str]], subsystem: str, min_k: int | None, last_id: str
) -> list[str]:
    """Plain-Python replay: validated envelopes in spool order, the gap
    after the last valid ``last_id`` (all of it if none), matched by
    subsystem and an optional ``k>=min_k`` filter, rendered as frames."""
    valid = []
    for line in (line for lines in files for line in lines):
        try:
            m = json.loads(line)
        except ValueError:
            continue
        if (
            isinstance(m, dict)
            and m.get("action") == "notify"
            and all(isinstance(m.get(f), str) for f in ("subsystem", "event", "id"))
            and isinstance(m.get("data"), dict)
        ):
            valid.append(m)
    marks = [i for i, m in enumerate(valid) if m["id"] == last_id]
    gap = valid[marks[-1] + 1 :] if marks else valid
    return [
        f"event: {m['event']}\r\ndata: {json.dumps(m['data'], separators=(',', ':'))}"
        f"\r\nid: {m['id']}\r\n\r\n"
        for m in gap
        if m["subsystem"] == subsystem and (min_k is None or m["data"]["k"] >= min_k)
    ]


def test_replay_fn_matches_python_model(spark, tmp_path) -> None:
    """``make_replay_fn`` returns exactly the plain-Python model's frames:
    the marker is the last VALID occurrence of the id, an unknown id (or
    one only an invalid envelope carries) replays everything, and an
    empty spool replays nothing."""
    from eventstreamd_spark.sources.jsonlines import write_spool_file
    from eventstreamd_spark.streaming.pipeline import make_replay_fn

    spool = tmp_path / "spool"
    spool.mkdir()
    assert make_replay_fn(spark, str(spool))("orders", (), "a1") == (None, [])
    for seq, lines in enumerate(REPLAY_SPOOL):
        write_spool_file(str(spool), lines, seq)
    replay = make_replay_fn(spark, str(spool))
    for subsystem, min_k, last_id in [
        ("orders", 50, "a1"),  # first id
        ("orders", 50, "c1"),  # mid id, the "\r" line
        ("orders", 50, "r"),  # repeated id: after file 1's valid "r"
        ("orders", 50, "5"),  # string "5", not the later int id 5
        ("orders", None, "b1"),
        ("orders", 50, "nope"),  # unknown: full replay
        ("other", None, "a1"),
    ]:
        filters = () if min_k is None else (f"k>={min_k}",)
        expected = _model_replay(REPLAY_SPOOL, subsystem, min_k, last_id)
        assert expected, (subsystem, last_id)
        _, frames = replay(subsystem, filters, last_id)
        assert frames == expected, (subsystem, last_id)


def test_replay_fn_scans_the_spool_as_text(spark, tmp_path, monkeypatch) -> None:
    """The replay plan reads the spool files through Spark's text scan,
    not lines collected on the driver (``LocalTableScan`` /
    ``ExistingRDD``)."""
    from eventstreamd_spark.sources.jsonlines import write_spool_file
    from eventstreamd_spark.streaming import pipeline

    plans = []

    def capture(*args, **kwargs):
        df = real(*args, **kwargs)
        plans.append(df._jdf.queryExecution().sparkPlan())
        return df

    real = pipeline.listener_frames
    monkeypatch.setattr(pipeline, "listener_frames", capture)
    spool = str(tmp_path / "spool")
    for seq, lines in enumerate(REPLAY_SPOOL):
        write_spool_file(spool, lines, seq)
    assert pipeline.make_replay_fn(spark, spool)("orders", (), "r")[1]
    (plan,) = plans
    leaves = plan.collectLeaves()
    leaves = [leaves.apply(i) for i in range(leaves.size())]
    assert [leaf.getClass().getSimpleName() for leaf in leaves] == [
        "FileSourceScanExec"
    ]
    assert leaves[0].simpleString(100).startswith("FileScan text")


@pytest.mark.parametrize("n_files", [2, 40])
def test_replay_is_one_spark_job(spark, tmp_path, n_files) -> None:
    """A replay, its marker included, is ONE Spark job, with fewer spool
    files than cores and with more; its cursor is the last replayed
    key, or the marker's when nothing after it matches."""
    from eventstreamd_spark.sources.jsonlines import write_spool_file
    from eventstreamd_spark.streaming.pipeline import make_replay_fn

    spool = str(tmp_path / "spool")
    files = [
        [_msg("orders", (7 * f + 31 * j) % 100, f"f{f}-{j}") for j in range(5)]
        for f in range(n_files)
    ]
    for seq, lines in enumerate(files):
        write_spool_file(spool, lines, seq)
    replay = make_replay_fn(spark, spool)
    sc = spark.sparkContext
    group = f"replay-one-job-{n_files}"
    sc.setJobGroup(group, "replay")
    try:
        cursor, frames = replay("orders", ("k>=50",), "f0-2")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1

    assert frames == _model_replay(files, "orders", 50, "f0-2")
    matched = [
        (f"{f:012d}.jsonl", j)
        for f, lines in enumerate(files)
        for j, line in enumerate(lines)
        if (f, j) > (0, 2) and json.loads(line)["data"]["k"] >= 50
    ]
    assert cursor == matched[-1]
    last = f"{n_files - 1:012d}.jsonl", 4
    assert replay("orders", ("k>=50",), f"f{n_files - 1}-4") == (last, [])


def test_reconnect_splice_sends_each_event_once(spark) -> None:
    """A micro-batch that lands while a Last-Event-ID replay runs
    overlaps its gap; the client still gets every event once, in order.

    The spool: e1 e2 e3 | e4 | e5 | e6 (one file each after the first).
    The client reconnects after e2; the replay (a stub that blocks)
    scanned the first two files: frames e3 e4, cursor e4's key.  While
    it blocks, the live stream's batch over files 1-2 (e4 e5) reaches
    the registered connection's queue, then a batch with e6."""
    from eventstreamd_spark.functions.sse import sse_frame
    from eventstreamd_spark.streaming.http_frontend import (
        ListenerRegistry,
        run_http_server,
    )

    def file(n: int) -> str:
        return f"{n:012d}.jsonl"

    spool = [
        ("e1", file(0), 0), ("e2", file(0), 1), ("e3", file(0), 2),
        ("e4", file(1), 0), ("e5", file(2), 0), ("e6", file(3), 0),
    ]
    rows = [
        ("orders", "add", json.dumps({"k": k}), eid, f, pos)
        for k, (eid, f, pos) in enumerate(spool)
    ]
    envelopes = spark.createDataFrame(
        rows + [("other", "add", "{}", "x1", file(2), 1)],
        "subsystem string, event_type string, data string, id string,"
        " file string, pos int",
    )
    frame = sse_frame(F.col("event_type"), F.col("data"), F.col("id"))
    rendered = {
        r["id"]: r["frame"]
        for r in envelopes.select("id", frame.alias("frame")).collect()
    }

    async def scenario() -> list[str]:
        entered, release = asyncio.Event(), asyncio.Event()

        async def replay(subsystem, filters, last_id):
            assert (subsystem, filters, last_id) == ("orders", (), "e2")
            entered.set()
            await release.wait()
            return (file(1), 0), [rendered["e3"], rendered["e4"]]

        registry = ListenerRegistry(replay_fn=replay)
        server = await run_http_server("127.0.0.1", PORT + 5, registry)
        try:
            r, w = await _subscribe(PORT + 5, "Last-Event-ID: e2\r\n")
            await asyncio.wait_for(entered.wait(), 30)
            registry.push_batch(envelopes.filter(F.col("file").isin(file(1), file(2))), 0)
            (conn,) = registry.connections.values()
            assert conn.queue.qsize() == 2  # e4 (also replayed) and e5
            release.set()
            registry.push_batch(envelopes.filter(F.col("file") == file(3)), 1)
            got = _sse_ids(await _read_until(r, "id: e6", timeout=30))
            w.close()
            return got
        finally:
            server.close()
            await server.wait_closed()

    assert asyncio.run(scenario()) == ["e3", "e4", "e5", "e6"]


def test_auth_plugin_contract(spark, tmp_path) -> None:
    """A file-loaded plugin speaking the reference's check_auth contract
    (plugins/README.md): unauthorized => 401 + WWW-Authenticate header;
    ok => stream proceeds; plugin sees route name + subsystem kwarg."""
    plugin = tmp_path / "auth_plugin.py"
    plugin.write_text(
        "seen = []\n"
        "async def check_auth(route, headers, **kwargs):\n"
        "    seen.append((route, kwargs.get('subsystem')))\n"
        "    if headers.get('x-token') != 'good':\n"
        "        return {'status': 'unauthorized', 'authenticate': 'Bearer realm=\"evt\"'}\n"
        "    return {'status': 'ok'}\n"
    )
    from eventstreamd_spark.streaming.plugins import load_auth_plugin

    auth = load_auth_plugin(str(plugin))
    assert auth is not None
    assert load_auth_plugin(str(tmp_path / "missing.py")) is None  # allow-all

    sock = str(tmp_path / "evtd.sock")

    async def scenario() -> None:
        stop = asyncio.Event()
        daemon = asyncio.create_task(
            run_daemon(
                lambda: spark, sock, str(tmp_path / "work"),
                port=PORT + 3, trigger_seconds=1, auth=auth, stop_event=stop,
            )
        )
        for _ in range(100):
            if daemon.done():
                daemon.result()
            try:
                r, w = await asyncio.open_unix_connection(sock)
                break
            except (FileNotFoundError, ConnectionRefusedError):
                await asyncio.sleep(0.1)
        else:
            raise AssertionError("socket server never came up")

        dr, dw = await asyncio.open_connection("127.0.0.1", PORT + 3)
        dw.write(b"GET /events?subsystem=orders HTTP/1.1\r\n\r\n")
        await dw.drain()
        head = await _read_headers(dr)
        assert "401 Unauthorized" in head
        assert 'WWW-Authenticate: Bearer realm="evt"' in head
        dw.close()

        lr, lw = await asyncio.open_connection("127.0.0.1", PORT + 3)
        lw.write(
            b"GET /events?subsystem=orders HTTP/1.1\r\nx-token: good\r\n\r\n"
        )
        await lw.drain()
        head = await _read_headers(lr)
        assert "200 OK" in head and "text/event-stream" in head
        w.write((_msg("orders", 99, "p1") + "\n").encode())
        await w.drain()
        await _read_until(lr, "id: p1")
        lw.close()
        w.close()
        stop.set()
        await asyncio.wait_for(daemon, 60)

    asyncio.run(scenario())


# The daemon benchmark's subscriptions: every filter kind the grammar
# has — int, quoted string, ISO date, compact date, nested path, a
# conjunction and the empty filter list.
SUBSCRIPTIONS = [
    ("orders", ("k>=30",)),
    ("users", ()),
    ("billing", ("meta.level<=2", "day>=2024-01-08")),
    ("orders", ("name='n3'",)),
    ("users", ("k<50",)),
    ("billing", ("name>='n2'",)),
    ("orders", ("day<20240115",)),
]


def _envelopes(spark, n: int):
    """A static micro-batch of validated envelopes with their spool keys
    (ten lines a file), spread over partitions (an RDD, not a local
    relation the planner could fold)."""
    subsystems = ["orders", "users", "billing"]
    rows = [
        (
            subsystems[i % 3],
            "add",
            json.dumps(
                {
                    "k": (i * 37) % 100,
                    "name": f"n{i % 7}",
                    "day": f"2024-01-{1 + i % 28:02d}"
                    if i % 2
                    else f"202401{1 + i % 28:02d}",
                    "meta": {"level": i % 5},
                }
            ),
            str(i),
            f"{i // 10:012d}.jsonl",
            i % 10,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3),
        "subsystem string, event_type string, data string, id string,"
        " file string, pos int",
    )


def _drain(queue: asyncio.Queue) -> list[str]:
    out = []
    while not queue.empty():
        out.append(queue.get_nowait())
    return out


def test_push_batch_is_one_job_per_micro_batch(spark) -> None:
    """push_batch routes a micro-batch for every live subscription in ONE
    Spark job (one collect of listener_frames), and hands each
    connection exactly the frames its own per-subscription filter
    gives, in batch order and keyed by spool position — including two
    connections sharing a group."""
    from eventstreamd_spark.functions.sse import sse_frame
    from eventstreamd_spark.operators.filters import filter_events, parse_filter
    from eventstreamd_spark.streaming.http_frontend import (
        Connection,
        ListenerRegistry,
    )

    batch = _envelopes(spark, 400)
    registry = ListenerRegistry()
    conns = [Connection(s, f, asyncio.Queue()) for s, f in SUBSCRIPTIONS]
    conns.append(Connection(*SUBSCRIPTIONS[2], asyncio.Queue()))  # shared group
    for conn in conns:
        registry.add(conn)

    sc = spark.sparkContext
    sc.setJobGroup("push-batch-one-job", "push_batch")
    try:
        registry.push_batch(batch, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("push-batch-one-job")) == 1

    frame = sse_frame(F.col("event_type"), F.col("data"), F.col("id"))
    for conn in conns:
        expected = [
            ((r["file"], r["pos"]), r["frame"])
            for r in filter_events(
                batch.filter(F.col("subsystem") == conn.subsystem),
                [parse_filter(f) for f in conn.filters],
                payload_col="data",
            )
            .select("file", "pos", frame.alias("frame"))
            .collect()
        ]
        assert expected, conn  # every subscription matches something
        assert _drain(conn.queue) == expected, conn
        assert conn.dropped == 0


def test_slow_consumer_drops_are_counted(spark, caplog) -> None:
    """A full queue drops the rest of the batch and counts it, with one
    warning per connection (not a silent loss)."""
    from eventstreamd_spark.streaming.http_frontend import (
        Connection,
        ListenerRegistry,
    )

    batch = spark.createDataFrame(
        [("orders", "add", json.dumps({"k": k}), f"e{k}", "000000000000.jsonl", k)
         for k in range(5)],
        "subsystem string, event_type string, data string, id string,"
        " file string, pos int",
    )
    registry = ListenerRegistry()
    slow = Connection("orders", (), asyncio.Queue(maxsize=2))
    registry.add(slow)
    with caplog.at_level("WARNING"):
        registry.push_batch(batch, 0)
        assert slow.dropped == 3
        registry.push_batch(batch, 1)  # still full: all 5 dropped
    assert slow.dropped == 3 + 5
    assert sum("queue full" in r.getMessage() for r in caplog.records) == 1
    kept = [f.split("id: ")[1].split("\r\n")[0] for _, f in _drain(slow.queue)]
    assert kept == ["e0", "e1"]  # the first frames, in batch order


def _spool_lines(spool: str, ids: list[str]) -> None:
    """One SpoolWriter lifetime: start (resuming the on-disk sequence),
    spool ``ids``, flush."""
    from eventstreamd_spark.streaming.socket_spool import SpoolWriter

    async def write() -> None:
        writer = SpoolWriter(spool)
        for i in ids:
            await writer.add(_msg("orders", 1, i))
        await writer.flush()

    asyncio.run(write())


def _run_stream(spark, spool: str, ckpt: str) -> list[str]:
    """Drain the envelope stream from its checkpoint; the delivered ids."""
    from eventstreamd_spark.streaming import pipeline

    seen: list[str] = []
    q = pipeline.start_envelope_pipeline(
        spark, spool, lambda df, _: seen.extend(r["id"] for r in df.collect()), ckpt
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return seen


def test_spool_restart_keeps_files_and_stream_resumes(spark, tmp_path) -> None:
    """A restarted SpoolWriter continues the on-disk sequence: it never
    replaces a spooled file, and a stream restarted from its checkpoint
    delivers the post-restart events."""
    import os

    spool = str(tmp_path / "spool")
    ckpt = str(tmp_path / "ckpt")

    _spool_lines(spool, ["a1", "a2"])
    before = open(os.path.join(spool, "000000000000.jsonl")).read()
    assert _run_stream(spark, spool, ckpt) == ["a1", "a2"]

    _spool_lines(spool, ["b1"])  # the restart
    assert sorted(os.listdir(spool)) == ["000000000000.jsonl", "000000000001.jsonl"]
    assert open(os.path.join(spool, "000000000000.jsonl")).read() == before
    assert _run_stream(spark, spool, ckpt) == ["b1"]


def test_spool_sequence_survives_removing_every_file(spark, tmp_path) -> None:
    """Once every consumed spool file is removed, a restarted daemon's
    writer continues after the stream's offset, not at 0: an event sent
    after the restart lands in ``000000000002.jsonl`` and reaches a
    subscriber."""
    import os

    from eventstreamd_spark.sources.jsonlines import write_spool_file

    work = tmp_path / "work"
    spool = str(work / "spool")
    write_spool_file(spool, [_msg("orders", 1, "a1")], 0)
    write_spool_file(spool, [_msg("orders", 2, "a2")], 1)
    assert _run_stream(spark, spool, str(work / "checkpoint")) == ["a1", "a2"]
    for name in os.listdir(spool):
        os.remove(os.path.join(spool, name))

    sock = str(tmp_path / "evtd.sock")

    async def scenario() -> None:
        stop = asyncio.Event()
        daemon = asyncio.create_task(
            run_daemon(
                lambda: spark, sock, str(work),
                port=PORT + 6, trigger_seconds=1, stop_event=stop,
            )
        )
        try:
            for _ in range(100):
                if daemon.done():
                    daemon.result()
                try:
                    r, w = await asyncio.open_unix_connection(sock)
                    break
                except (FileNotFoundError, ConnectionRefusedError):
                    await asyncio.sleep(0.1)
            else:
                raise AssertionError("socket server never came up")
            lr, lw = await _subscribe(PORT + 6)
            w.write((_msg("orders", 3, "b1") + "\n").encode())
            await w.drain()
            assert _sse_ids(await _read_until(lr, "id: b1", timeout=60)) == ["b1"]
            lw.close()
            w.close()
        finally:
            stop.set()
            await asyncio.wait_for(daemon, 60)

    asyncio.run(scenario())
    assert os.listdir(spool) == ["000000000002.jsonl"]
    assert '"b1"' in open(os.path.join(spool, "000000000002.jsonl")).read()


def test_stray_jsonl_file_is_not_spooled(spark, tmp_path) -> None:
    """Writer resume and the stream source share one spool-name rule: a
    stray ``x.jsonl`` in the spool directory is never delivered and does
    not shift the source's file-count offset across a restart."""
    import os

    spool = str(tmp_path / "spool")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(spool)
    with open(os.path.join(spool, "x.jsonl"), "w") as f:
        f.write(_msg("orders", 1, "stray") + "\n")

    _spool_lines(spool, ["a1", "a2"])
    assert _run_stream(spark, spool, ckpt) == ["a1", "a2"]
    _spool_lines(spool, ["b1"])
    assert _run_stream(spark, spool, ckpt) == ["b1"]


def _sse_ids(buf: str) -> list[str]:
    return re.findall(r"^id: (\S+)\r$", buf, flags=re.M)


async def _subscribe(port: int, extra: str = "") -> tuple:
    r, w = await asyncio.open_connection("127.0.0.1", port)
    w.write(f"GET /events?subsystem=orders HTTP/1.1\r\n{extra}\r\n".encode())
    await w.drain()
    head = await _read_headers(r)
    assert "200 OK" in head and "text/event-stream" in head
    return r, w


def test_front_ends_serve_before_spark(spark, tmp_path) -> None:
    """The socket, subscriptions, /stats and a Last-Event-ID reconnect
    are all served while the session factory is still blocked; once it
    returns, batch 0 delivers every event sent during start-up, and the
    reconnect gets its gap from the spool."""
    import os
    import threading

    sock = str(tmp_path / "evtd.sock")
    spool = tmp_path / "work" / "spool"
    release = threading.Event()
    entered = threading.Event()

    def factory():
        entered.set()
        assert release.wait(120), "factory never released"
        return spark

    async def scenario() -> None:
        stop = asyncio.Event()
        daemon = asyncio.create_task(
            run_daemon(
                factory, sock, str(tmp_path / "work"),
                port=PORT + 4, trigger_seconds=1, stop_event=stop,
            )
        )
        try:
            for _ in range(100):
                if daemon.done():
                    daemon.result()
                try:
                    r, w = await asyncio.open_unix_connection(sock)
                    break
                except (FileNotFoundError, ConnectionRefusedError):
                    await asyncio.sleep(0.1)
            else:
                raise AssertionError("socket server never came up")
            lr, lw = await _subscribe(PORT + 4)

            sent = [f"s{i}" for i in range(4)]
            w.write("".join(_msg("orders", i, e) + "\n" for i, e in enumerate(sent)).encode())
            await w.drain()
            for _ in range(100):  # the spool holds all four
                text = "".join(p.read_text() for p in spool.glob("*.jsonl"))
                if all(f'"{e}"' in text for e in sent):
                    break
                await asyncio.sleep(0.1)
            else:
                raise AssertionError("events never reached the spool")

            sr, sw = await asyncio.open_connection("127.0.0.1", PORT + 4)
            sw.write(b"GET /stats HTTP/1.1\r\n\r\n")
            await sw.drain()
            body = await _read_until(sr, "}", timeout=10)
            stats = json.loads(body.split("\r\n\r\n", 1)[1])
            assert [c["subsystem"] for c in stats["connections"]] == ["orders"]
            sw.close()

            rr, rw = await _subscribe(PORT + 4, "Last-Event-ID: s1\r\n")
            assert entered.is_set() and not release.is_set()
            assert not daemon.done()
            assert not os.path.exists(tmp_path / "work" / "checkpoint")

            release.set()
            got = _sse_ids(await _read_until(lr, "id: s3"))
            assert got == sent
            # the gap (replayed first), then batch 0's live frames
            gap = _sse_ids(await _read_until(rr, "id: s3"))
            assert gap[:2] == ["s2", "s3"]
            lw.close()
            rw.close()
            w.close()
        finally:
            release.set()
            stop.set()
            await asyncio.wait_for(daemon, 60)

    asyncio.run(scenario())


def _cmdline(pid: int) -> list[str]:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().decode("latin-1").split("\0")
    except OSError:
        return []


def _start_time(pid: int) -> int | None:
    """The start time of ``pid`` (clock ticks after boot), or None once
    it has exited (a zombie has exited too)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("latin-1")
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    return None if fields[0] == "Z" else int(fields[19])


def test_daemon_process_tree(tmp_path) -> None:
    """The daemon as its own process: its JVM runs the serial collector,
    no ``pyspark.daemon`` fork server ever runs in its tree, no
    ``readlink`` child is spawned once frames flow (checkpoint writes go
    through the FileSystem manager), and SIGTERM leaves no process of
    the tree behind."""
    import os
    import shutil
    import signal
    import socket as socketlib
    import subprocess
    import sys
    import threading

    from eventstreamd_spark.session import _JAVA_ENV_OPTIONS
    from perfbench.procs import tree

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shim = tmp_path / "bin"
    shim.mkdir()
    log = tmp_path / "readlink.log"
    log.touch()
    (shim / "readlink").write_text(
        f'#!/bin/sh\necho "$*" >> {log}\nexec {shutil.which("readlink")} "$@"\n'
    )
    (shim / "readlink").chmod(0o755)
    with socketlib.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    sock = str(tmp_path / "d.sock")
    ini = tmp_path / "daemon.ini"
    ini.write_text(
        f"[General]\nSocketFile = {sock}\nHTTPPort = {port}\n"
        f"[Spark]\nWorkDir = {tmp_path / 'work'}\nTriggerSeconds = 1\n"
    )
    env = {k: v for k, v in os.environ.items() if k not in _JAVA_ENV_OPTIONS}
    env["PATH"] = f"{shim}:{os.environ['PATH']}"
    with open(tmp_path / "daemon.err", "wb") as err:
        proc = subprocess.Popen(
            [sys.executable, "-m", "eventstreamd_spark.streaming.daemon", "-c", str(ini)],
            cwd=repo, env=env, stdin=subprocess.DEVNULL, stdout=err, stderr=err,
            start_new_session=True,
        )
    # (pid, start time) -> command line of every process seen in the tree
    seen: dict[tuple[int, int], list[str]] = {}
    # the same for every JVM, once it runs java (spark-class execs it)
    jvms: dict[tuple[int, int], list[str]] = {}
    done = threading.Event()

    def sample() -> None:
        while not done.is_set():
            for pid in tree([proc.pid]):
                key = (pid, _start_time(pid))
                if key[1] is None or not (cmd := _cmdline(pid)):
                    continue
                seen.setdefault(key, cmd)
                if os.path.basename(cmd[0]) == "java":
                    jvms[key] = cmd
            done.wait(0.05)

    sampler = threading.Thread(target=sample)
    sampler.start()

    async def scenario() -> tuple[int, int]:
        for _ in range(600):
            assert proc.poll() is None, (tmp_path / "daemon.err").read_text()[-3000:]
            try:
                r, w = await asyncio.open_unix_connection(sock)
                break
            except (FileNotFoundError, ConnectionRefusedError):
                await asyncio.sleep(0.1)
        else:
            raise AssertionError("socket server never came up")
        lr, lw = await _subscribe(port)
        buf = ""
        for i in range(400):  # produce until the first frame arrives
            w.write((_msg("orders", i, f"w{i}") + "\n").encode())
            await w.drain()
            try:
                buf += (await asyncio.wait_for(lr.read(4096), 0.5)).decode()
            except asyncio.TimeoutError:
                pass
            if "id: w" in buf:
                break
        else:
            raise AssertionError("no frame arrived")
        at_first_frame = len(log.read_text().splitlines())
        for i in range(3):  # each frame waited for: three more micro-batches
            w.write((_msg("orders", i, f"m{i}") + "\n").encode())
            await w.drain()
            await _read_until(lr, f"id: m{i}", timeout=60)
        lw.close()
        w.close()
        return at_first_frame, len(log.read_text().splitlines())

    try:
        before, after = asyncio.run(scenario())
    finally:
        done.set()
        sampler.join()
        proc.send_signal(signal.SIGTERM)
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            raise
        for _ in range(600):
            left = [key for key in seen if _start_time(key[0]) == key[1]]
            if not left:
                break
            time.sleep(0.1)
        for pid, _ in left:
            os.kill(pid, signal.SIGKILL)
        left = [seen[key] for key in left]
    assert not [c for c in seen.values() if "pyspark.daemon" in c], sorted(
        " ".join(c) for c in seen.values()
    )
    drivers = [  # the driver JVM, not spark-submit's launcher
        c for c in jvms.values() if "org.apache.spark.launcher.Main" not in c
    ]
    assert drivers and all("-XX:+UseSerialGC" in c for c in drivers), drivers
    assert after == before, log.read_text()
    assert not left, left
