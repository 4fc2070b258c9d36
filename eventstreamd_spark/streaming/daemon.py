"""The full daemon: every reference entry point in one process, with
Spark as the execution engine.

Reference lifecycle (/root/reference/evtstrd/server.py:14-29, main.py:10-20):
one asyncio loop hosting the Unix-socket ingest server and the HTTP/SSE
listener server, wired through an in-process dispatcher.  Here the same
two front-ends run on one asyncio loop, but the dataflow between them is
a Structured Streaming query:

    unix socket -> spool files -> jsonlines source -> validate_envelope
      -> foreachBatch(registry.push_batch) -> per-connection SSE queues

``push_batch`` is the one fan-out path: one Spark job per micro-batch
routes every event to every live subscription (``routing.deliveries``),
and the rendered frames cross to the driver once, into the queues.

EP1 (ingest) = socket_spool.run_socket_server; EP2 (subscribe) and
EP3 (/stats) = http_frontend.run_http_server; the Spark query replaces
the dispatcher's per-event Python loop with vectorized micro-batches.

Delivery semantics (the reference is at-most-once): a listener that
connects mid-stream starts at the next micro-batch, mirroring the
reference's "whoever is subscribed now" routing (dispatcher.py:93-95) —
unless it reconnects with ``Last-Event-ID``, in which case the missed
gap is replayed from the durable spool first (pipeline.make_replay_fn;
the reference emits ids but never reads the header).  Every frame
carries its spool ``(file, pos)`` key, and the reconnected queue skips
each frame at or below the replay's cursor, so no event is sent twice
across a reconnect.  Checkpointed source offsets give at-least-once
into the registry across a daemon restart: the micro-batch that was
running re-runs.  The spool sequence never goes back, not even once
every spool file is removed: the ingest writer starts at the stream's
offset (``jsonlines.checkpoint_seq``) or after the last file on disk.

Start-up order: the Unix socket and the HTTP server open first, before
any Spark work, so producers and subscribers are served within a
fraction of a second of launch.  The session (JVM launch) and the
pipeline start (source registration, plan, first offsets) then run in a
worker thread.  Events sent meanwhile are spooled and reach every
subscriber connected before batch 0 from batch 0 on; a
``Last-Event-ID`` reconnect during start-up waits for the pipeline and
is then replayed.

Processes: the Python driver and its JVM, plus one-shot Python
children of the JVM.  The daemon runs no Python UDF, so every Python
process the JVM starts is either a data-source planner call
(``lookup_data_sources``, ``create_data_source``,
``plan_data_source_read``) or the stream source runner that serves the
jsonlines reader.  The session is built with
``get_spark(streaming_daemon=True)``.  It sets
``spark.python.use.daemon=false``: each planner is one process that
exits after its call, and no ``pyspark.daemon`` fork server stays
resident.  The JVM, the largest process of the tree, runs the serial
collector (``-XX:+UseSerialGC``): a micro-batch's rows die before the
next trigger and the live set stays near 80 MB, so a single-threaded
collector keeps up, and the JVM's peak resident set is about 400 MB
below G1's.
"""

from __future__ import annotations

import asyncio
import functools
import logging
import os
from collections.abc import Callable

from pyspark.sql import SparkSession

from eventstreamd_spark.sources import jsonlines
from eventstreamd_spark.streaming import pipeline
from eventstreamd_spark.streaming.http_frontend import (
    AuthHook,
    ListenerRegistry,
    run_http_server,
)
from eventstreamd_spark.streaming.socket_spool import run_socket_server

logger = logging.getLogger(__name__)


async def run_daemon(
    session_factory: Callable[[], SparkSession],
    socket_path: str,
    work_dir: str,
    host: str = "127.0.0.1",
    port: int = 8888,
    trigger_seconds: int | None = None,
    auth: AuthHook | None = None,
    stop_event: asyncio.Event | None = None,
    ping_interval: float | None = None,
    cert_file: str | None = None,
    key_file: str | None = None,
    socket_mode: int = 0o600,
    socket_owner: str | None = None,
    socket_group: str | None = None,
) -> None:
    """Run ingest + Spark pipeline + SSE front-end until ``stop_event``.

    ``work_dir`` holds the spool and the streaming checkpoint (the two
    pieces of durable state; on a cluster both live on shared storage).
    The front-ends open first; ``session_factory()`` and the pipeline
    start then run in a worker thread, so the event loop serves while
    the JVM comes up.
    """
    from eventstreamd_spark.streaming.config import PING_INTERVAL

    spool_dir = os.path.join(work_dir, "spool")
    checkpoint = os.path.join(work_dir, "checkpoint")
    os.makedirs(spool_dir, exist_ok=True)

    loop = asyncio.get_running_loop()
    # resolved with pipeline.make_replay_fn's replay once the pipeline runs
    replay_ready: asyncio.Future = loop.create_future()

    async def replay(
        subsystem: str, filters: tuple[str, ...], last_id: str
    ) -> tuple[jsonlines.SpoolKey | None, list[str]]:
        # shielded: a cancelled waiter must not cancel the shared future
        replay_fn = await asyncio.shield(replay_ready)
        return await asyncio.to_thread(replay_fn, subsystem, filters, last_id)

    registry = ListenerRegistry(loop=loop, replay_fn=replay)

    def start_spark():
        spark = session_factory()
        query = pipeline.start_envelope_pipeline(
            spark,
            spool_dir,
            registry.push_batch,
            checkpoint,
            trigger_seconds=trigger_seconds or 1,
        )
        return pipeline.make_replay_fn(spark, spool_dir), query

    socket_server = await run_socket_server(
        socket_path,
        spool_dir,
        socket_mode=socket_mode,
        socket_owner=socket_owner,
        socket_group=socket_group,
        first_seq=jsonlines.checkpoint_seq(checkpoint),
    )
    http_server = await run_http_server(
        host,
        port,
        registry,
        ping_interval=ping_interval or PING_INTERVAL,
        auth=auth,
        cert_file=cert_file,
        key_file=key_file,
    )
    logger.info("daemon serving: socket=%s http=%s:%s", socket_path, host, port)
    query = None
    try:
        replay_fn, query = await asyncio.to_thread(start_spark)
        replay_ready.set_result(replay_fn)
        logger.info("pipeline up: %s", query.id)
        await (stop_event or asyncio.Event()).wait()
    finally:
        replay_ready.cancel()  # no-op once set; else ends waiting replays
        if query is not None:
            query.stop()
        socket_server.close()
        http_server.close()
        await socket_server.wait_closed()
        await http_server.wait_closed()


def main() -> None:  # pragma: no cover - thin CLI shim
    import argparse

    from eventstreamd_spark.session import get_spark
    from eventstreamd_spark.streaming.config import (
        read_config,
        read_default_config,
    )

    ap = argparse.ArgumentParser(description="eventstreamd-on-Spark daemon")
    ap.add_argument("-c", "--config", help="INI config (reference format)")
    ap.add_argument("--socket", help="unix socket path (overrides config)")
    ap.add_argument("--work-dir", help="spool + checkpoint dir")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, help="HTTP port (overrides config)")
    ap.add_argument(
        "-d", "--debug", action="store_true", help="enable debug mode"
    )  # reference cmdargs.py:16
    args = ap.parse_args()
    cfg = read_config(args.config) if args.config else read_default_config()
    cfg.debug = args.debug
    # reference main.py:10-14: debug gates log level + asyncio logger
    logging.basicConfig(
        level=logging.DEBUG if cfg.debug else logging.INFO
    )
    logging.getLogger("asyncio").disabled = not cfg.debug
    from eventstreamd_spark.streaming.plugins import load_auth_plugin

    asyncio.run(
        run_daemon(
            functools.partial(
                get_spark, "eventstreamd-spark-daemon", streaming_daemon=True
            ),
            args.socket or cfg.socket_file,
            args.work_dir or cfg.work_dir,
            args.host,
            args.port or cfg.http_port,
            trigger_seconds=cfg.trigger_seconds,
            auth=load_auth_plugin(cfg.auth_plugin_file),
            ping_interval=cfg.ping_interval,
            cert_file=cfg.cert_file or None,
            key_file=cfg.key_file or None,
            socket_mode=cfg.socket_mode,
            socket_owner=cfg.socket_owner or None,
            socket_group=cfg.socket_group or None,
        )
    )


if __name__ == "__main__":
    main()
