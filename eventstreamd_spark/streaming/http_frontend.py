"""HTTP/SSE listener front-end (O7-O10, O12): the reference's
consumer-facing surface, fed by the Spark streaming pipeline.

Faithful endpoints (/root/reference/evtstrd/http_server.py):

- ``GET /events?subsystem=S&filter=F...`` -> SSE stream: parses filters
  with the SAME parser the Spark pipeline compiles (parse errors =>
  HTTP 400, missing subsystem => 400), registers an in-memory listener
  queue, streams frames with chunked transfer encoding, sends ``event:
  ping`` heartbeats every ping_interval (O8, default 20 s,
  config.py:11), and an optional expiry logout (O9).
- ``GET /stats`` -> JSON: start time, total connections, per-connection
  (subsystem, filters, connection-time) — stats.py:28-50's shape.

Frames arrive via ``push_batch`` — the ``foreachBatch`` sink callback
of streaming/pipeline.py.  Each micro-batch is ONE Spark job: the live
connections are grouped by (subsystem, filters) and
``pipeline.listener_frames`` (``routing.deliveries`` + ``sse_frame``)
matches and renders the batch for every group at once; the driver then
hands each connection its group's frames, each with its spool
``(file, pos)`` key.  A connection whose bounded queue is full drops
frames and counts them (``Connection.dropped``).  A Last-Event-ID
reconnect is replayed from the spool up to a cursor in that key order,
and its queue skips every frame at or below the cursor: the splice
between replay and live frames sends no event twice.
Connection lifecycle (disconnect detect, write-error teardown, O10)
lives here, outside Spark's dataflow, which is exactly where the
reference keeps it too (listener.py:86-95).

stdlib asyncio only (the container has no aiohttp); HTTP/1.1 parsing is
minimal but honest: request line + headers, GET only.
"""

from __future__ import annotations

import asyncio
import datetime
import json
import logging
from collections.abc import Awaitable, Callable
from dataclasses import dataclass, field
from urllib.parse import parse_qs, urlsplit

from eventstreamd_spark.operators.filters import parse_filter
from eventstreamd_spark.operators.routing import Listener
from eventstreamd_spark.sources.jsonlines import SpoolKey
from eventstreamd_spark.streaming.config import PING_INTERVAL
from eventstreamd_spark.streaming.pipeline import listener_frames

logger = logging.getLogger(__name__)

CRLF = "\r\n"

# O12 auth gate contract (reference auth.py:11-36, plugins/README.md:12-36):
# an async callable (path, headers) -> (expire | None, payload); raising
# AuthError with a status ends the request.  Absent hook => allow-all.
AuthHook = Callable[
    [str, dict[str, str]],
    Awaitable[tuple[datetime.datetime | None, object]],
]


class AuthError(Exception):
    def __init__(
        self,
        status: str,
        body: str = "",
        headers: list[tuple[str, str]] | None = None,
    ) -> None:
        super().__init__(status)
        self.status = status
        self.body = body or status + "\n"
        self.headers = headers or []


@dataclass
class Connection:
    subsystem: str
    filters: tuple[str, ...]
    queue: asyncio.Queue
    connected_at: datetime.datetime = field(
        default_factory=datetime.datetime.now
    )
    remote_host: str | None = None
    # Referer request header, surfaced in /stats when present
    # (reference stats.py:23,41-42)
    referer: str | None = None
    # frames lost to a full queue (slow consumer); logged on the first
    dropped: int = 0
    # Last-Event-ID replay sent every matching event up to this key;
    # queued frames at or below it are skipped
    cursor: SpoolKey | None = None


class ListenerRegistry:
    """The dispatcher's routing table (dict[subsystem, list[listener]])
    — here holding live connection queues instead of closures."""

    def __init__(
        self,
        loop: asyncio.AbstractEventLoop | None = None,
        replay_fn: Callable[
            [str, tuple[str, ...], str],
            Awaitable[tuple[SpoolKey | None, list[str]]],
        ]
        | None = None,
    ) -> None:
        self.connections: dict[int, Connection] = {}
        self.total_connections = 0
        self.start_time = datetime.datetime.now()
        self._next_id = 0
        # push_batch runs on Spark's streaming thread; asyncio.Queue is
        # not thread-safe, so deliveries hop through the event loop.
        self.loop = loop
        # Last-Event-ID reconnect replay, a coroutine function returning
        # (cursor, frames) (daemon.run_daemon wraps pipeline.make_replay_fn);
        # None => header ignored, matching the reference's behavior
        self.replay_fn = replay_fn

    def add(self, conn: Connection) -> int:
        cid = self._next_id
        self._next_id += 1
        self.connections[cid] = conn
        self.total_connections += 1
        return cid

    def remove(self, cid: int) -> None:
        self.connections.pop(cid, None)

    def push_batch(self, batch_df, epoch_id: int) -> None:
        """foreachBatch sink over *validated envelopes*.

        Subscriptions are dynamic (reference EP2), so the listener set
        is read per micro-batch: the live connections are grouped by
        (subsystem, filters), each group becomes one ``Listener`` named
        by its index, and ONE collect of ``listener_frames`` matches
        and renders the batch for every group — the same ``deliveries``
        fan-out Last-Event-ID replay runs.  Python only hands finished
        frames, as ``((file, pos), frame)``, to queues.  New subscribers
        start receiving at the next micro-batch, no query restart.
        """
        groups: dict[tuple[str, tuple[str, ...]], list[Connection]] = {}
        for conn in list(self.connections.values()):
            groups.setdefault((conn.subsystem, conn.filters), []).append(conn)
        if not groups:
            return
        listeners = [Listener(str(i), *key) for i, key in enumerate(groups)]
        frames: list[list[tuple[SpoolKey, str]]] = [[] for _ in listeners]
        for row in listener_frames(batch_df, listeners).collect():
            frames[int(row["listener"])].append(((row["file"], row["pos"]), row["frame"]))
        for members, group_frames in zip(groups.values(), frames):
            if group_frames:
                for conn in members:
                    self._deliver(conn, group_frames)

    def _deliver(self, conn: Connection, frames: list[tuple[SpoolKey, str]]) -> None:
        """Queue ``frames`` on one connection, in order, in one hop
        through the event loop.  Bounded backpressure (vs the
        reference's unbounded buffer, http.py:114-118): once the queue
        is full the rest of the batch is dropped and counted."""

        def put() -> None:
            for i, item in enumerate(frames):
                try:
                    conn.queue.put_nowait(item)
                except asyncio.QueueFull:
                    if not conn.dropped:
                        logger.warning(
                            "slow consumer %s %s: queue full, dropping frames",
                            conn.subsystem, list(conn.filters),
                        )
                    conn.dropped += len(frames) - i
                    return

        if self.loop is not None:
            self.loop.call_soon_threadsafe(put)
        else:
            put()

    def stats_json(self) -> dict:
        def one(c: Connection) -> dict:
            d = {
                "subsystem": c.subsystem,
                "filters": list(c.filters),
                "connection-time": c.connected_at.isoformat(),
                "remote-host": c.remote_host,
            }
            if c.referer:  # NotRequired field, reference stats.py:41-42
                d["referer"] = c.referer
            return d

        return {
            "start-time": self.start_time.isoformat(),
            "total-connections": self.total_connections,
            "connections": [one(c) for c in self.connections.values()],
        }


def _chunk(data: str) -> bytes:
    b = data.encode()
    return format(len(b), "x").encode() + b"\r\n" + b + b"\r\n"


async def _write_response(
    w: asyncio.StreamWriter,
    status: str,
    body: str,
    ctype: str = "text/plain",
    extra_headers: list[tuple[str, str]] | None = None,
) -> None:
    payload = body.encode()
    extras = "".join(f"{k}: {v}{CRLF}" for k, v in (extra_headers or []))
    head = (
        f"HTTP/1.1 {status}{CRLF}Content-Type: {ctype}{CRLF}"
        f"Content-Length: {len(payload)}{CRLF}{extras}Connection: close{CRLF}{CRLF}"
    )
    w.write(head.encode() + payload)
    await w.drain()


async def handle_http(
    reader: asyncio.StreamReader,
    writer: asyncio.StreamWriter,
    registry: ListenerRegistry,
    ping_interval: float = PING_INTERVAL,
    auth: AuthHook | None = None,
) -> None:
    try:
        request_line = (await reader.readline()).decode()
        parts = request_line.split()
        if len(parts) != 3 or parts[0] not in ("GET", "HEAD", "POST", "PUT"):
            await _write_response(writer, "400 Bad Request", "bad request\n")
            return
        method, target, _ = parts
        headers: dict[str, str] = {}
        while True:
            line = await reader.readline()
            if line in (b"\r\n", b"\n", b""):
                break
            k, sep, val = line.decode("latin-1").partition(":")
            if sep:  # header names lower-cased, reference http.py:78-84
                headers[k.strip().lower()] = val.strip()
        url = urlsplit(target)

        # O12: pluggable auth gate, called per route like the reference
        # (http_server.py:125,158).  The events route passes subsystem
        # as a kwarg (plugins/README.md:22-27); plain two-arg hooks
        # keep working — extra kwargs go only to **kwargs-accepting
        # hooks (signature-inspected, not TypeError-probed, so a
        # TypeError raised inside a hook is never misread).
        import inspect

        async def run_auth(**kwargs) -> datetime.datetime | None:
            if auth is None:
                return None
            try:
                params = inspect.signature(auth).parameters.values()
                var_kw = any(p.kind == p.VAR_KEYWORD for p in params)
            except (TypeError, ValueError):
                var_kw = False
            if kwargs and var_kw:
                expire, _payload = await auth(url.path, headers, **kwargs)
            else:
                expire, _payload = await auth(url.path, headers)
            return expire

        expire: datetime.datetime | None = None
        if url.path == "/stats":
            try:
                await run_auth()
            except AuthError as exc:
                await _write_response(
                    writer, exc.status, exc.body, extra_headers=exc.headers
                )
                return
            await _write_response(
                writer, "200 OK", json.dumps(registry.stats_json()), "application/json"
            )
            return
        if url.path != "/events":
            await _write_response(writer, "404 Not Found", "not found\n")
            return
        if method != "GET":
            await _write_response(writer, "405 Method Not Allowed", "GET only\n")
            return
        qs = parse_qs(url.query)
        subsystems = qs.get("subsystem")
        if not subsystems:
            await _write_response(writer, "400 Bad Request", "subsystem required\n")
            return
        filters = tuple(qs.get("filter", []))
        try:
            for f in filters:
                parse_filter(f)  # same grammar the Spark side compiles
        except ValueError as exc:
            await _write_response(writer, "400 Bad Request", f"{exc}\n")
            return
        try:
            expire = await run_auth(subsystem=subsystems[0])
        except AuthError as exc:
            await _write_response(
                writer, exc.status, exc.body, extra_headers=exc.headers
            )
            return

        conn = Connection(
            subsystem=subsystems[0],
            filters=filters,
            queue=asyncio.Queue(maxsize=10_000),
            remote_host=writer.get_extra_info("peername") and str(
                writer.get_extra_info("peername")
            ),
            referer=headers.get("referer"),
        )
        cid = registry.add(conn)
        # SSE handshake headers, reference http_server.py:126-139:
        # keep-alive advertisement + CORS echo of the Origin header
        extra = (
            f"Connection: keep-alive{CRLF}Keep-Alive: timeout=5, max=100{CRLF}"
        )
        if "origin" in headers:
            extra += (
                f"Access-Control-Allow-Origin: {headers['origin']}{CRLF}"
                f"Access-Control-Allow-Credentials: true{CRLF}"
            )
        head = (
            f"HTTP/1.1 200 OK{CRLF}Content-Type: text/event-stream{CRLF}"
            f"Transfer-Encoding: chunked{CRLF}Cache-Control: no-cache{CRLF}"
            f"{extra}{CRLF}"
        )
        writer.write(head.encode())
        await writer.drain()
        try:
            # Last-Event-ID replay: close the reconnect gap from the
            # durable spool BEFORE live frames.  The connection is
            # registered first, so every event the replay's scan misses
            # reaches its queue; the queue skips each frame at or below
            # the replay's cursor, so an event in both is sent once.
            # ``replay_fn`` is a coroutine, so its Spark job (and, during
            # daemon start-up, its wait for the pipeline) leaves the
            # event loop serving.
            last_id = headers.get("last-event-id")
            if last_id and registry.replay_fn is not None:
                conn.cursor, frames = await registry.replay_fn(
                    conn.subsystem, filters, last_id
                )
                for frame in frames:
                    writer.write(_chunk(frame))
                await writer.drain()
            while True:
                # O9: session expiry — wake at whichever comes first, the
                # ping deadline or the auth-supplied logout time (exact,
                # vs the reference's 60 s recheck loop, util.py:24-33)
                timeout = ping_interval
                if expire is not None:
                    left = (
                        expire - datetime.datetime.now(tz=expire.tzinfo)
                    ).total_seconds()
                    if left <= 0:
                        logout = (
                            "event: logout" + CRLF
                            + 'data: {"reason": "expire"}' + CRLF + CRLF
                        )  # reference events.py:53-55
                        writer.write(_chunk(logout))
                        await writer.drain()
                        break
                    timeout = min(timeout, left)
                try:
                    key, frame = await asyncio.wait_for(
                        conn.queue.get(), timeout=timeout
                    )
                except asyncio.TimeoutError:
                    if expire is not None and (
                        expire - datetime.datetime.now(tz=expire.tzinfo)
                    ).total_seconds() <= 0:
                        continue  # expiry branch above emits the logout
                    frame = "event: ping" + CRLF + "data: " + CRLF + CRLF  # O8
                else:
                    if conn.cursor is not None and key <= conn.cursor:
                        continue  # the replay sent it
                writer.write(_chunk(frame))
                await writer.drain()  # real backpressure (reference never drains)
        except (ConnectionResetError, BrokenPipeError):
            pass  # O10: disconnect detection
        finally:
            registry.remove(cid)
    finally:
        try:
            writer.close()
        except Exception:
            pass


async def run_http_server(
    host: str,
    port: int,
    registry: ListenerRegistry,
    ping_interval: float = PING_INTERVAL,
    auth: AuthHook | None = None,
    cert_file: str | None = None,
    key_file: str | None = None,
) -> asyncio.AbstractServer:
    """Start the SSE front-end; cert+key enable TLS (reference
    http_server.py:49-56 wraps the socket the same way)."""
    ssl_ctx = None
    if cert_file and key_file:
        import ssl

        ssl_ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
        ssl_ctx.load_cert_chain(cert_file, key_file)

    async def handler(r, w):
        await handle_http(r, w, registry, ping_interval, auth)

    return await asyncio.start_server(handler, host, port, ssl=ssl_ctx)
