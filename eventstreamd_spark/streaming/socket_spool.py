"""Unix-socket ingest front-end (O1): the reference's producer-facing
surface, feeding the Spark streaming source.

Faithful to /root/reference/evtstrd/socket_server.py:82-92: producers
connect to a Unix domain socket and write newline-delimited JSON;
invalid lines are skipped with a warning; EOF ends the connection.

Instead of routing in-process, lines are spooled to immutable files
(``durable.atomic_write``) that the ``jsonlines`` DataSource tails —
the durable hand-off that lets Spark replay offsets (upgrade over the
reference's at-most-once).  Envelope validation stays in Spark
(operators/envelope) so the daemon front-end has zero query logic.

stdlib-asyncio only; no Spark imports here — this process runs beside
the driver, like the reference's single daemon process but with the
compute split out.
"""

from __future__ import annotations

import asyncio
import fnmatch
import json
import logging
import os

from eventstreamd_spark.durable import atomic_write

logger = logging.getLogger(__name__)

# a glob, so Spark's file scan applies the same rule (pathGlobFilter)
SPOOL_GLOB = "[0-9]" * 12 + ".jsonl"


def spool_files(spool_dir: str) -> list[str]:
    """The spool's published files in sequence order: ``<12-digit
    seq>.jsonl`` (``SPOOL_GLOB``).  The writer resumes after the last one
    and the stream source's offset is the next unread seq, so any other
    file in the directory is neither read nor moves either."""
    try:
        names = os.listdir(spool_dir)
    except FileNotFoundError:
        return []
    return sorted(n for n in names if fnmatch.fnmatchcase(n, SPOOL_GLOB))


def spool_seq(name: str) -> int:
    """The sequence number of a spool file name."""
    return int(name[:12])


def write_spool_file(spool_dir: str, messages: list[dict | str], seq: int) -> str:
    """Publish one spool file atomically, so the stream reader never
    sees a partial file; returns its path."""
    final = os.path.join(spool_dir, f"{seq:012d}.jsonl")
    atomic_write(
        final,
        "".join((m if isinstance(m, str) else json.dumps(m)) + "\n" for m in messages),
    )
    return final


class SpoolWriter:
    """Batches incoming lines into spool files, flushed on a short timer
    or size threshold (amortizes file-per-line overhead; the flush
    interval bounds added latency).

    The sequence never goes back: the writer starts at ``first_seq`` (the
    stream's offset, ``jsonlines.checkpoint_seq``) or after the last file
    on disk, whichever is larger.  So a restarted writer never replaces
    a spooled file, and its files sort after every file the stream has
    consumed, even once all of those are removed (the source's offset is
    the sequence number of the next unread file).
    """

    def __init__(
        self,
        spool_dir: str,
        first_seq: int = 0,
        flush_lines: int = 1000,
        flush_seconds: float = 0.5,
    ):
        self.spool_dir = spool_dir
        self.flush_lines = flush_lines
        self.flush_seconds = flush_seconds
        self._buf: list[str] = []
        self._lock = asyncio.Lock()
        os.makedirs(spool_dir, exist_ok=True)
        files = spool_files(spool_dir)
        self._seq = max(first_seq, spool_seq(files[-1]) + 1 if files else 0)

    async def add(self, line: str) -> None:
        async with self._lock:
            self._buf.append(line)
            if len(self._buf) >= self.flush_lines:
                await self._flush_locked()

    async def _flush_locked(self) -> None:
        if not self._buf:
            return
        # the publish fsyncs: run it off the event loop, which also
        # serves the SSE connections; the held lock keeps _buf still
        await asyncio.to_thread(write_spool_file, self.spool_dir, self._buf, self._seq)
        self._seq += 1
        self._buf.clear()

    async def flush(self) -> None:
        async with self._lock:
            await self._flush_locked()

    async def flush_loop(self) -> None:
        while True:
            await asyncio.sleep(self.flush_seconds)
            await self.flush()


async def handle_producer(
    reader: asyncio.StreamReader, writer: asyncio.StreamWriter, spool: SpoolWriter
) -> None:
    """One producer connection (reference SocketHandler.handle)."""
    while True:
        raw = await reader.readline()
        if not raw:
            break  # EOF = disconnect (util.py:17-19)
        line = raw.decode("utf-8", errors="replace").strip()
        if not line:
            continue
        try:
            json.loads(line)  # reference warns + skips invalid JSON lines
        except ValueError:
            logger.warning("skipping invalid JSON line")
            continue
        await spool.add(line)
    writer.close()


class ServerAlreadyRunningError(Exception):
    """Another daemon owns the socket (reference socket_server.py:52)."""


async def _remove_stale_socket(socket_path: str) -> None:
    """Reference socket_server.py:44-53: a leftover socket file from a
    crashed daemon is removed iff nothing answers on it; a live peer
    means another instance is running."""
    if not os.path.exists(socket_path):
        return
    try:
        _, w = await asyncio.open_unix_connection(socket_path)
    except (ConnectionRefusedError, FileNotFoundError):
        os.remove(socket_path)
        logger.warning("removed stale socket file %s", socket_path)
    else:
        w.close()
        raise ServerAlreadyRunningError()


async def run_socket_server(
    socket_path: str,
    spool_dir: str,
    socket_mode: int = 0o600,
    socket_owner: str | None = None,
    socket_group: str | None = None,
    first_seq: int = 0,
) -> asyncio.AbstractServer:
    """Start the Unix-socket ingest server; caller owns the loop.
    ``first_seq`` is the lowest spool sequence number it may publish
    (``SpoolWriter``).

    Mode/owner/group mirror the reference's socket permission handling
    (socket_server.py:59-70, config SocketMode/SocketOwner/SocketGroup);
    owner/group are names resolved via pwd/grp, skipped when unset.
    """
    await _remove_stale_socket(socket_path)
    spool = SpoolWriter(spool_dir, first_seq)
    asyncio.create_task(spool.flush_loop())

    async def handler(r, w):
        await handle_producer(r, w, spool)

    server = await asyncio.start_unix_server(handler, path=socket_path)
    os.chmod(socket_path, socket_mode)
    uid = gid = -1
    if socket_owner:
        from pwd import getpwnam

        uid = getpwnam(socket_owner).pw_uid
    if socket_group:
        from grp import getgrnam

        gid = getgrnam(socket_group).gr_gid
    if uid != -1 or gid != -1:
        os.chown(socket_path, uid, gid)
    return server
