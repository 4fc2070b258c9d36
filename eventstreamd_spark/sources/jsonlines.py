"""JSON-lines spool readers (streaming DataSource + one bulk text read) —
the Spark-native stand-in for the reference's Unix-socket ingest (O1).

Reference behavior (/root/reference/evtstrd/socket_server.py:82-92 +
util.py:11-21): newline-delimited JSON, one message per line, invalid
lines skipped with a warning, EOF ends the stream.

Transport mapping: producers append lines to immutable spool files in a
directory (streaming/socket_spool.py provides the actual Unix-socket
front-end that does this); Spark tails the directory.  This is the
standard durable-ingest pattern — the socket itself can't be a Spark
source because a socket read is not replayable, and Structured
Streaming's exactly-once story depends on replayable offsets.  Files
give us offsets (the file's sequence number) for free, which is
*stronger* delivery than the reference's at-most-once.

Both readers yield the same rows, ``SCHEMA``'s ``(file, pos, value)``:
``(file, pos)`` is the spool's order key (``file`` the spool file's
name, zero-padded so it sorts in write order; ``pos`` the line's index
in it, counted before empty lines are dropped).  The key rides every
event from source to socket, so live delivery and Last-Event-ID replay
speak of one position in one log.

One reader per access pattern:
- ``simpleStreamReader`` (the daemon's live source): offset = the
  sequence number of the next unread spool file (a file is immutable
  once it appears; the spool writer guarantees this by staging +
  rename, and never goes back in the sequence), so removing a
  consumed file shifts nothing.  The simple API reads on the driver — fine for the
  daemon-replacement use case (a socket's throughput).
- ``read_spool`` (every bulk read, e.g. Last-Event-ID replay): one
  JVM text scan, with the stream reader's line rules.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from eventstreamd_spark.streaming.socket_spool import (  # noqa: F401
    SPOOL_GLOB,
    spool_files,
    spool_seq,
    write_spool_file,
)

SCHEMA = StructType(
    [
        StructField("file", StringType(), False),
        StructField("pos", IntegerType(), False),
        StructField("value", StringType(), False),
    ]
)
# a row's place in the spool, ``(file, pos)``; tuples order it
SpoolKey = tuple[str, int]


def _read_lines(path: str) -> Iterator[tuple[str, int, str]]:
    name = os.path.basename(path)
    with open(path, "rb") as f:
        for pos, raw in enumerate(f):
            line = raw.decode("utf-8", errors="replace").rstrip("\n")
            if line:
                yield (name, pos, line)


class JsonLinesStreamReader(SimpleDataSourceStreamReader):
    """Offset = {"n": <12-digit sequence number of the next unread
    spool file>}.  ``read`` takes the files with seq >= n and
    ``readBetweenOffsets`` those with start <= seq < end.  The writer
    starts at 0 and never goes back (``checkpoint_seq``), so while no
    file is removed n equals the count of consumed files; once a
    consumed file is removed, a count would skip unread ones, and the
    sequence does not.

    ``maxFilesPerBatch`` (option, default unlimited) caps how many new
    spool files one micro-batch admits — real backpressure, the
    ``maxOffsetsPerTrigger`` idiom.  The reference has none: a slow
    consumer buffers unboundedly in daemon memory
    (/root/reference/evtstrd/http.py:114-118, writes never drain()'d).
    Bounded admission keeps micro-batch memory flat no matter how far
    the spool runs ahead; unconsumed files simply wait, durable on
    disk, for the next trigger.
    """

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonlines source requires a 'path' option")
        # option keys may arrive lower-cased (CaseInsensitiveStringMap)
        self.max_files = int(
            options.get("maxFilesPerBatch")
            or options.get("maxfilesperbatch")
            or 0
        )

    def initialOffset(self):
        return {"n": 0}

    def read(self, start: dict):
        n0 = start.get("n", 0)
        new = [name for name in spool_files(self.path) if spool_seq(name) >= n0]
        if self.max_files > 0:
            new = new[: self.max_files]
        end = {"n": spool_seq(new[-1]) + 1 if new else n0}
        # materialized up-front (the file set must be frozen at offset
        # time), returned as an iterator — the simple-reader runner
        # drains it with next() while caching rows for offset replay
        rows = [
            row
            for name in new
            for row in _read_lines(os.path.join(self.path, name))
        ]
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        for name in spool_files(self.path):
            if start.get("n", 0) <= spool_seq(name) < end.get("n", 0):
                yield from _read_lines(os.path.join(self.path, name))


class JsonLinesDataSource(DataSource):
    """spark.readStream.format("jsonlines").option("path", dir)"""

    @classmethod
    def name(cls) -> str:
        return "jsonlines"

    def schema(self):
        return SCHEMA

    def simpleStreamReader(self, schema):
        return JsonLinesStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(JsonLinesDataSource)


def read_spool(spark, spool_dir: str) -> DataFrame:
    """The whole spool as ``SCHEMA`` rows: one native text scan (JVM, no
    Python in the row loop) of the files ``spool_files`` lists, picked
    by the same ``SPOOL_GLOB``.  The spool directory must exist.

    Rows and keys equal the stream reader's: ``_read_lines``' rules exactly:
    split on ``"\\n"`` only, empty lines dropped.  ``wholetext`` is
    passed to ``text()`` itself: its ``wholetext=False`` default
    overrides an ``.option("wholetext", ...)``, and the per-line Hadoop
    reader would also split at ``"\\r"``, which a spooled JSON line may
    hold as whitespace.  The directory, not a list of its files, is the
    scan's one root path: past 32 root paths Spark lists them in a
    separate parallel job.
    """
    files = spark.read.text(spool_dir, wholetext=True, pathGlobFilter=SPOOL_GLOB)
    lines = files.select(
        F.col("_metadata.file_name").alias("file"),
        F.posexplode(F.split("value", "\n")).alias("pos", "value"),
    )
    return lines.filter(F.col("value") != "")


def checkpoint_seq(checkpoint_dir: str) -> int:
    """The spool sequence number the stream's newest offset-log entry
    reaches (``offsets/<N>``: a version line, the batch metadata, then
    this source's ``{"n": k}``); 0 before the first batch.  A spool
    writer that starts below it would publish files the source skips."""
    offsets = os.path.join(checkpoint_dir, "offsets")
    try:
        batches = [int(n) for n in os.listdir(offsets) if n.isdigit()]
    except FileNotFoundError:
        return 0
    if not batches:
        return 0
    with open(os.path.join(offsets, str(max(batches)))) as f:
        return json.loads(f.read().splitlines()[2])["n"]
