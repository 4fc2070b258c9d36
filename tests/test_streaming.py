"""Streaming layer: custom source, listener pipeline, watermark dedup,
event-time windows."""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F

from eventstreamd_spark.sources import jsonlines
from eventstreamd_spark.streaming import pipeline


def msg(subsystem: str, k: int, id: str) -> dict:
    return {
        "action": "notify",
        "subsystem": subsystem,
        "event": "add",
        "data": {"k": k},
        "id": id,
    }


def test_read_spool_lines_match_stream_reader(spark, tmp_path) -> None:
    """``read_spool`` yields exactly the stream reader's rows, in one
    schema: ``(file, pos, value)``, split on "\\n" only (an interior
    "\\r" stays), ``pos`` counted before empty lines are dropped; a stray
    ``x.jsonl`` is not read and an empty spool has no rows."""
    import os

    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    with open(os.path.join(spool, "x.jsonl"), "w") as f:
        f.write(json.dumps(msg("b", 3, "stray")) + "\n")
    assert jsonlines.read_spool(spark, spool).count() == 0
    cr_line = json.dumps(msg("a", 1, "x")).replace(', "subsystem"', ',\r"subsystem"')
    jsonlines.write_spool_file(spool, [cr_line, "not json", "", "tail\r"], 0)
    jsonlines.write_spool_file(spool, [msg("b", 2, "y")], 1)

    spooled = jsonlines.read_spool(spark, spool)
    assert spooled.schema == jsonlines.SCHEMA
    rows = sorted(tuple(r) for r in spooled.collect())
    reader = jsonlines.JsonLinesStreamReader({"path": spool})
    streamed, end = reader.read({"n": 0})
    assert end == {"n": 2}
    assert rows == list(streamed) == list(reader.readBetweenOffsets({"n": 0}, end))
    assert rows == [
        ("000000000000.jsonl", 0, cr_line),
        ("000000000000.jsonl", 1, "not json"),
        ("000000000000.jsonl", 3, "tail\r"),
        ("000000000001.jsonl", 0, json.dumps(msg("b", 2, "y"))),
    ]


def test_stream_reader_offset_is_the_spool_sequence(tmp_path) -> None:
    """The stream reader's offset is the sequence number of the next
    unread spool file, not a count of consumed files: after a consumed
    file is deleted, a reader restarted from the committed offset still
    delivers the next file (a count offset would skip it)."""
    import os

    spool = str(tmp_path / "spool")
    jsonlines.write_spool_file(spool, [msg("a", 0, "e0")], 0)
    jsonlines.write_spool_file(spool, [msg("a", 1, "e1")], 1)
    rows, committed = jsonlines.JsonLinesStreamReader({"path": spool}).read({"n": 0})
    assert [json.loads(v)["id"] for (_, _, v) in rows] == ["e0", "e1"]
    assert committed == {"n": 2}

    os.remove(os.path.join(spool, jsonlines.spool_files(spool)[0]))
    jsonlines.write_spool_file(spool, [msg("a", 2, "e2")], 2)
    restarted = jsonlines.JsonLinesStreamReader({"path": spool})
    rows, end = restarted.read(committed)
    assert [json.loads(v)["id"] for (_, _, v) in rows] == ["e2"]
    assert end == {"n": 3}
    replayed = restarted.readBetweenOffsets(committed, end)
    assert [json.loads(v)["id"] for (_, _, v) in replayed] == ["e2"]
    assert list(restarted.read(end)[0]) == []


def test_streaming_source_and_listener_pipeline(spark, tmp_path) -> None:
    """The daemon's stream: jsonlines source -> validate_envelope ->
    foreachBatch(ListenerRegistry.push_batch) -> per-connection frames."""
    import asyncio
    import re

    from eventstreamd_spark.streaming.http_frontend import (
        Connection,
        ListenerRegistry,
    )

    spool = str(tmp_path / "spool")
    jsonlines.write_spool_file(
        spool,
        [msg("orders", 60, "e1"), msg("orders", 10, "e2"), msg("other", 99, "e3"),
         "garbage line", {"action": "ignore"}],
        0,
    )
    registry = ListenerRegistry(loop=None)
    big_orders = Connection("orders", ("k>=50",), asyncio.Queue())
    all_other = Connection("other", (), asyncio.Queue())
    registry.add(big_orders)
    registry.add(all_other)

    q = pipeline.start_envelope_pipeline(
        spark, spool, registry.push_batch, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def frames(conn: Connection) -> list[str]:
        return [conn.queue.get_nowait()[1] for _ in range(conn.queue.qsize())]

    def ids(fs: list[str]) -> list[str]:
        return [re.search(r"id: (\S+)\r\n", f).group(1) for f in fs]

    big = frames(big_orders)
    assert ids(big) == ["e1"]
    assert ids(frames(all_other)) == ["e3"]
    frame = big[0]
    assert frame.startswith("event: add\r\ndata: ")
    assert "id: e1\r\n" in frame
    assert json.loads(frame.split("data: ")[1].split("\r\n")[0]) == {"k": 60}


def test_streaming_incremental_offsets(spark, tmp_path) -> None:
    spool = str(tmp_path / "spool")
    jsonlines.write_spool_file(spool, [msg("s", 1, "a")], 0)
    seen: list = []

    def sink(batch_df, epoch_id):
        seen.extend(r["id"] for r in batch_df.collect())

    env = pipeline.validate_envelope(pipeline.read_event_stream(spark, spool))
    q = (
        env.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        while "a" not in seen and time.time() < deadline:
            time.sleep(0.5)
        jsonlines.write_spool_file(spool, [msg("s", 2, "b")], 1)
        while "b" not in seen and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    assert seen == ["a", "b"]  # incremental, no reprocessing of file 0


def test_dedup_by_id(spark, tmp_path) -> None:
    spool = str(tmp_path / "spool")
    jsonlines.write_spool_file(
        spool, [msg("s", 1, "dup"), msg("s", 2, "dup"), msg("s", 3, "uniq")], 0
    )
    got: list = []

    def sink(batch_df, epoch_id):
        got.extend(batch_df.collect())

    env = pipeline.validate_envelope(pipeline.read_event_stream(spark, spool))
    deduped = pipeline.dedup_by_id(env)
    q = (
        deduped.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert sorted(r["id"] for r in got) == ["dup", "uniq"]


def test_streaming_tumbling_and_session_windows(spark, sf_dir, tmp_path) -> None:
    import os
    import shutil

    src = str(tmp_path / "events_stream")
    os.makedirs(src)
    shutil.copy(f"{sf_dir}/events.parquet", src + "/events.parquet")
    from eventstreamd_spark.session import load_table

    batch = load_table(spark, sf_dir, "events")
    # stream with the RAW (possibly nanos-as-long) schema, then apply the
    # same ts rebuild load_table does for batch
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = spark.readStream.schema(raw_schema).format("parquet").load(src)
    raw_ts = dict((f.name, f.dataType.simpleString()) for f in raw_schema)["ts"]
    if raw_ts == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif raw_ts == "timestamp_ntz":
        # micros stored without UTC adjustment surface as NTZ; watermarks
        # require TimestampType (session tz is UTC, instant unchanged)
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = pipeline.streaming_tumbling_counts(stream)
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("tumbling_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT sum(n_events) AS n FROM tumbling_out").collect()[0]["n"]
    # append mode only emits windows below the final watermark; the last
    # 10 minutes of events stay in state, so got < total but most arrive
    total = batch.count()
    assert got is not None and 0.9 * total <= got <= total

    sess = pipeline.streaming_session_windows(stream)
    q2 = (
        sess.writeStream.outputMode("append")
        .format("memory")
        .queryName("session_out")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    n_sessions = spark.sql("SELECT count(*) AS n FROM session_out").collect()[0]["n"]
    assert n_sessions > 0


def test_streaming_observed_metrics(spark, tmp_path) -> None:
    """O11 streaming twin: observe() metrics reach the listener per
    micro-batch with no extra pass over the data."""
    from eventstreamd_spark.operators.stats import MetricsCollector, with_observed_metrics

    spool = str(tmp_path / "spool")
    jsonlines.write_spool_file(
        spool, [msg("a", 1, "x"), msg("a", 2, "y"), msg("b", 3, "z")], 0
    )
    collector = MetricsCollector().attach(spark)
    try:
        env = with_observed_metrics(
            pipeline.validate_envelope(pipeline.read_event_stream(spark, spool))
        )
        q = (
            env.writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        import time

        deadline = time.time() + 30  # listener events are delivered async
        while collector.totals["n_events"] < 3 and time.time() < deadline:
            time.sleep(0.5)
        assert collector.totals["n_events"] == 3
        assert collector.totals["batches"] >= 1
    finally:
        collector.detach(spark)


def test_stateful_sessionizer_and_expiry(spark, tmp_path) -> None:
    """applyInPandasWithState: sessions close on gap timeout; expiry
    tracker emits logout rows when a TTL lapses unrefreshed."""
    import os
    import time

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from eventstreamd_spark.streaming.stateful import (
        expiry_tracker,
        streaming_sessionizer,
    )

    src = str(tmp_path / "events")
    os.makedirs(src)
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
        ]
    )
    import datetime

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    spark.createDataFrame(
        [(1, t0), (1, t0 + datetime.timedelta(seconds=10)), (2, t0)], schema
    ).coalesce(1).write.parquet(src + "/batch0")

    stream = spark.readStream.schema(schema).parquet(src + "/*")
    q = (
        streaming_sessionizer(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_out")
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 90
        rows = []
        while time.time() < deadline:
            rows = spark.sql(
                "SELECT * FROM sessions_out ORDER BY user_id"
            ).collect()
            if len(rows) >= 2:
                break
            time.sleep(1)
        assert [r["user_id"] for r in rows] == [1, 2]
        assert rows[0]["n_events"] == 2 and rows[1]["n_events"] == 1
        assert rows[0]["first_ts"] == t0
        assert rows[0]["last_ts"] == t0 + datetime.timedelta(seconds=10)
    finally:
        q.stop()

    sess_src = str(tmp_path / "sessions")
    os.makedirs(sess_src)
    sschema = StructType(
        [StructField("id", StringType()), StructField("ttl_ms", LongType())]
    )
    spark.createDataFrame([("s1", 1500)], sschema).coalesce(1).write.parquet(
        sess_src + "/b0"
    )
    q2 = (
        expiry_tracker(spark.readStream.schema(sschema).parquet(sess_src + "/*"))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("expiry_out")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 90
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM expiry_out").collect()
            if rows:
                break
            time.sleep(1)
        assert [(r["id"], r["reason"]) for r in rows] == [("s1", "expire")]
    finally:
        q2.stop()


def test_stream_stream_interval_join(spark, tmp_path) -> None:
    """Watermarked stream-stream interval join: matches within the
    window, drops outside it, bounded state on both sides."""
    import datetime
    import os

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from eventstreamd_spark.streaming.pipeline import stream_interval_join

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    sch_l = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("page", StringType()),
        ]
    )
    sch_r = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("item", StringType()),
        ]
    )
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    os.makedirs(ldir), os.makedirs(rdir)
    spark.createDataFrame(
        [(1, t0, "search"), (2, t0, "search")], sch_l
    ).coalesce(1).write.parquet(ldir + "/b0")
    spark.createDataFrame(
        [
            (1, t0 + datetime.timedelta(minutes=5), "widget"),   # in window
            (2, t0 + datetime.timedelta(minutes=30), "gadget"),  # too late
        ],
        sch_r,
    ).coalesce(1).write.parquet(rdir + "/b0")

    joined = stream_interval_join(
        spark.readStream.schema(sch_l).parquet(ldir + "/*"),
        spark.readStream.schema(sch_r).parquet(rdir + "/*"),
        key="user_id",
    ).select("l.user_id", "page", "item")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM ssj_out").collect()
    assert [(r["user_id"], r["page"], r["item"]) for r in rows] == [
        (1, "search", "widget")
    ]


def test_bounded_admission_max_files_per_batch(spark, tmp_path) -> None:
    """maxFilesPerBatch=1: four backlogged spool files must arrive over
    >= four micro-batches, never more than one file's rows per batch
    (backpressure the reference lacks — SURVEY §4, unbounded buffer)."""
    spool = str(tmp_path / "spool")
    for seq in range(4):
        jsonlines.write_spool_file(
            spool, [msg("s", i, f"f{seq}-{i}") for i in range(3)], seq
        )
    batches: list[int] = []
    seen: list[str] = []

    def sink(batch_df, epoch_id):
        rows = [r["id"] for r in batch_df.collect()]
        if rows:
            batches.append(len(rows))
            seen.extend(rows)

    env = pipeline.validate_envelope(
        pipeline.read_event_stream(spark, spool, max_files_per_batch=1)
    )
    q = (
        env.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 90
        while len(seen) < 12 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    assert sorted(seen) == sorted(f"f{s}-{i}" for s in range(4) for i in range(3))
    assert max(batches) <= 3  # one file (3 rows) per micro-batch
    assert len(batches) >= 4


def test_subsystem_running_counts_survive_restart(spark, tmp_path) -> None:
    """The /stats running counter (reference stats.py:28-50) as a plain
    streaming aggregation in update mode: a query restarted on the same
    checkpoint carries the per-subsystem counts over."""
    from eventstreamd_spark.operators.routing import subsystem_counts

    spool = str(tmp_path / "spool")

    def run() -> dict:
        got: list = []
        env = pipeline.validate_envelope(pipeline.read_event_stream(spark, spool))
        q = (
            subsystem_counts(env, "subsystem")
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, eid: got.extend(
                (r["subsystem"], r["n_events"]) for r in df.collect()
            ))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return dict(got)

    jsonlines.write_spool_file(
        spool, [msg("a", 1, "x1"), msg("b", 2, "y1"), msg("a", 3, "x2")], 0
    )
    assert run() == {"a": 2, "b": 1}
    jsonlines.write_spool_file(spool, [msg("a", 4, "x3")], 1)
    assert run() == {"a": 3}  # update mode: only the changed key


def test_stream_static_broadcast_enrich(spark, sf_dir, tmp_path) -> None:
    """Stream-static join: unbounded events enriched with a static
    customer dimension; broadcast, stateless, no watermark required."""
    import os
    import shutil

    from eventstreamd_spark.session import load_table
    from eventstreamd_spark.streaming.pipeline import stream_static_enrich

    src = str(tmp_path / "events_stream")
    os.makedirs(src)
    shutil.copy(f"{sf_dir}/events.parquet", src + "/events.parquet")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = spark.readStream.schema(raw_schema).format("parquet").load(src)

    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = stream_static_enrich(
        stream.select("event_id", "user_id", "event_type"),
        customer,
        "user_id",
        "c_custkey",
    )
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName("enriched_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(
        "SELECT COUNT(*) AS n, COUNT(c_mktsegment) AS matched FROM enriched_out"
    ).collect()[0]

    events = load_table(spark, sf_dir, "events")
    total = events.count()
    expect_matched = events.join(
        customer, events.user_id == customer.c_custkey, "left_semi"
    ).count()
    assert out["n"] == total  # left outer: every stream row survives
    assert out["matched"] == expect_matched


def test_exactly_once_sink_replay_safe(spark, sf_dir, tmp_path) -> None:
    """Replaying an epoch (at-least-once foreachBatch) must not
    duplicate rows: batch-id-keyed overwrite makes the sink idempotent."""
    import os
    import shutil

    from eventstreamd_spark.streaming.pipeline import (
        idempotent_parquet_writer,
        start_exactly_once_sink,
    )

    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    shutil.copy(f"{sf_dir}/events.parquet", src + "/events.parquet")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .load(src)
        .select("event_id", "user_id", "event_type")
    )
    out = str(tmp_path / "sink_out")
    q = start_exactly_once_sink(stream, out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    got = spark.read.parquet(out)
    assert got.count() == total
    batch_ids = [r["batch_id"] for r in got.select("batch_id").distinct().collect()]

    # simulate a crash-replay of the SAME epoch: rerun the writer with an
    # already-committed batch id — contents must be unchanged, not doubled
    replay_df = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    idempotent_parquet_writer(out)(replay_df, batch_ids[0])
    assert spark.read.parquet(out).count() == total


def test_schema_evolution_merge_read(spark, sf_dir, tmp_path) -> None:
    """Schema evolution: old files lack a column added later; a
    mergeSchema read unions the schemas, null-filling history — the
    at-scale answer to 'the producer added a field'."""
    import os

    from eventstreamd_spark.session import load_table

    base = str(tmp_path / "evolving")
    os.makedirs(base)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    events.limit(100).write.parquet(base + "/v1")
    events.limit(50).withColumn(
        "schema_ver", F.lit(2)
    ).write.parquet(base + "/v2")

    merged = spark.read.option("mergeSchema", "true").parquet(
        base + "/v1", base + "/v2"
    )
    assert "schema_ver" in merged.columns
    assert merged.count() == 150
    assert merged.filter(F.col("schema_ver").isNull()).count() == 100


def test_stream_incremental_dedup_anti_join(spark, sf_dir, tmp_path) -> None:
    """Streaming incremental dedup: a stream of new docs anti-joined
    against the static corpus hash index — exact dupes dropped per
    micro-batch, fresh docs pass, stateless."""
    import os

    from eventstreamd_spark.session import load_table
    from eventstreamd_spark.streaming.pipeline import stream_incremental_dedup

    corpus = load_table(spark, sf_dir, "documents")
    # batch = half exact copies of the corpus, half fresh docs
    batch = (
        corpus.filter("doc_id % 2 = 0")
        .selectExpr("doc_id + 100000 AS doc_id", "text")
        .unionByName(
            corpus.filter("doc_id % 2 = 1").selectExpr(
                "doc_id + 200000 AS doc_id", "concat(text, ' fresh') AS text"
            )
        )
    )
    src = str(tmp_path / "doc_stream")
    os.makedirs(src)
    batch.coalesce(1).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .format("parquet")
        .load(src)
    )
    admitted = stream_incremental_dedup(stream, corpus)
    q = (
        admitted.writeStream.outputMode("append")
        .format("memory")
        .queryName("admitted_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM admitted_out").collect()}
    fresh = {
        r["doc_id"] + 200000
        for r in corpus.filter("doc_id % 2 = 1").select("doc_id").collect()
    }
    assert out == fresh  # every copy dropped, every fresh doc admitted


def test_stream_quality_gate_matches_batch_verdicts(spark, sf_dir, tmp_path) -> None:
    """The streaming admission gate must agree doc-for-doc with the
    batch classifier (same formula, same plan shape)."""
    import os

    from eventstreamd_spark.operators.textops import classifier_quality_scores
    from eventstreamd_spark.session import load_table
    from eventstreamd_spark.streaming.pipeline import stream_quality_gate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "qg_stream")
    os.makedirs(src)
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .format("parquet")
        .load(src)
    )
    q = (
        stream_quality_gate(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("qg_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: r["logit"]
        for r in spark.sql("SELECT doc_id, logit FROM qg_out").collect()
    }
    batch = {
        r["doc_id"]: r["logit"]
        for r in classifier_quality_scores(docs).filter("keep").collect()
    }
    assert got == batch


def test_stream_drift_monitor_flags_shifted_batch(spark, sf_dir, tmp_path) -> None:
    """Identical batch => tvd 0; value-shifted batch => tvd > 0, per
    event type, per micro-batch."""
    import os

    from eventstreamd_spark.session import load_table
    from eventstreamd_spark.streaming.pipeline import start_drift_monitor

    ref = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    reports: dict[str, list] = {}
    shifted = ref.withColumn("value", F.col("value") + 50.0)
    for name, batch in (("same", ref), ("shifted", shifted)):
        src = str(tmp_path / f"drift_{name}")
        os.makedirs(src)
        batch.coalesce(1).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema("event_id long, event_type string, value double")
            .format("parquet")
            .load(src)
        )
        rows: list = []
        q = start_drift_monitor(
            stream, ref,
            sink=lambda df, epoch, acc=rows: acc.extend(df.collect()),
            checkpoint_dir=str(tmp_path / f"ckpt_{name}"),
        )
        q.awaitTermination(120)
        reports[name] = rows
    assert reports["same"] and all(r["tvd"] == 0.0 for r in reports["same"])
    assert reports["shifted"] and all(r["tvd"] > 0.5 for r in reports["shifted"])


def test_drift_report_surfaces_novel_event_types(spark, sf_dir) -> None:
    """An event type present in the batch but ABSENT from the reference
    is the strongest drift signal: it must appear in the report with
    tvd = 1.0 and n_ref = 0, never be silently dropped."""
    from eventstreamd_spark.session import load_table
    from eventstreamd_spark.streaming.pipeline import drift_vs_reference

    ref = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    novel = spark.createDataFrame(
        [(10_000_001, "brand_new_type", 3.5), (10_000_002, "brand_new_type", 7.0)],
        "event_id long, event_type string, value double",
    )
    report = {
        r["event_type"]: r
        for r in drift_vs_reference(ref.unionByName(novel), ref).collect()
    }
    assert "brand_new_type" in report
    row = report["brand_new_type"]
    assert row["n_ref"] == 0
    assert row["n_batch"] == 2
    assert row["tvd"] == 1.0
    # known types still report unchanged (identical distribution => 0)
    known = [r for t, r in report.items() if t != "brand_new_type"]
    assert known and all(r["tvd"] == 0.0 for r in known)


def test_streaming_sliding_windows_exact_vs_batch(spark, sf_dir, tmp_path) -> None:
    """Sliding windows under a real watermark: every window the
    streaming query EMITS (append mode => finalized by the watermark)
    must match the batch computation of the same bucket exactly —
    count parity per (window_start, event_type), not a coverage
    heuristic."""
    import os
    import shutil

    src = str(tmp_path / "events_sliding")
    os.makedirs(src)
    shutil.copy(f"{sf_dir}/events.parquet", src + "/events.parquet")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = spark.readStream.schema(raw_schema).format("parquet").load(src)
    raw_ts = {f.name: f.dataType.simpleString() for f in raw_schema}["ts"]
    if raw_ts == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif raw_ts == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))

    q = (
        pipeline.streaming_sliding_counts(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sliding_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM sliding_out").collect()
    }
    assert got, "watermark emitted no finalized windows"

    from eventstreamd_spark.session import load_table

    batch = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    want = {
        (r["window"]["start"], r["event_type"]): r["n"]
        for r in batch.groupBy(
            F.window("ts", "10 minutes", "5 minutes"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # every emitted (finalized) window agrees exactly with batch
    for key, n in got.items():
        assert want.get(key) == n, key
    # and the stream emitted the overwhelming majority of windows (only
    # those past the final watermark stay in state)
    assert len(got) >= 0.9 * len(want)


def test_stream_hll_distinct_monitor_matches_batch(spark, sf_dir, tmp_path) -> None:
    """Registers merged across micro-batches must equal the one-shot
    batch registers over the union, and replaying a batch must not
    change the state (idempotent merge)."""
    import os

    from eventstreamd_spark.operators import sketches as sk
    from eventstreamd_spark.session import load_table
    from eventstreamd_spark.streaming.pipeline import start_hll_distinct_monitor

    events = load_table(spark, sf_dir, "events").select("event_id")
    src = str(tmp_path / "hll_src")
    os.makedirs(src)
    # two files => with maxFilesPerTrigger=1, two micro-batches
    a = events.filter("event_id % 2 = 0")
    b = events.filter("event_id % 2 = 1")
    a.coalesce(1).write.mode("append").parquet(src)
    b.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("event_id long")
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )
    states: list = []
    q = start_hll_distinct_monitor(
        stream,
        sink=lambda regs, est, epoch, acc=states: acc.append((epoch, regs, est)),
        checkpoint_dir=str(tmp_path / "hll_ckpt"),
    )
    q.awaitTermination(120)
    assert len(states) >= 2  # actually saw multiple micro-batches

    batch_regs = {
        r["bucket"]: r["m_rho"]
        for r in sk.hll_registers(events, F.col("event_id").cast("string")).collect()
    }
    final_regs = states[-1][1]
    assert final_regs == batch_regs
    assert states[-1][2] == sk.hll_estimate_from_registers(batch_regs)
    # idempotent replay: re-merging the last batch's registers is a no-op
    assert sk.hll_merge_registers(final_regs, final_regs) == final_regs


def test_stream_hll_monitor_survives_restart(spark, sf_dir, tmp_path) -> None:
    """Registers reload from the checkpoint dir: a restarted query
    continues the running count instead of resetting to the new slice."""
    import os

    from eventstreamd_spark.operators import sketches as sk
    from eventstreamd_spark.session import load_table
    from eventstreamd_spark.streaming.pipeline import start_hll_distinct_monitor

    events = load_table(spark, sf_dir, "events").select("event_id")
    a = events.filter("event_id % 2 = 0")
    b = events.filter("event_id % 2 = 1")
    src = str(tmp_path / "hll_rs_src")
    ckpt = str(tmp_path / "hll_rs_ckpt")
    os.makedirs(src)

    def run_once():
        stream = (
            spark.readStream.schema("event_id long")
            .format("parquet")
            .load(src)
        )
        acc: list = []
        q = start_hll_distinct_monitor(
            stream,
            sink=lambda regs, est, ep, acc=acc: acc.append((regs, est)),
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(120)
        return acc

    a.coalesce(1).write.mode("append").parquet(src)
    first = run_once()
    assert first
    b.coalesce(1).write.mode("append").parquet(src)
    second = run_once()  # restart: only the new file is a fresh batch
    assert second
    batch_regs = {
        r["bucket"]: r["m_rho"]
        for r in sk.hll_registers(events, F.col("event_id").cast("string")).collect()
    }
    assert second[-1][0] == batch_regs  # full-union state after restart


def test_stream_cms_monitor_state_and_replay_guard(spark, sf_dir, tmp_path) -> None:
    """Merged cells across micro-batches equal one-shot batch cells;
    the epoch guard makes additive state replay-safe; restart resumes."""
    import os

    from eventstreamd_spark.operators import sketches as sk
    from eventstreamd_spark.session import load_table
    from eventstreamd_spark.streaming.pipeline import start_cms_topk_monitor

    events = load_table(spark, sf_dir, "events").select("user_id")
    src = str(tmp_path / "cms_src")
    ckpt = str(tmp_path / "cms_ckpt")
    os.makedirs(src)

    def run_once():
        stream = (
            spark.readStream.schema("user_id long")
            .format("parquet")
            .load(src)
        )
        acc: list = []
        q = start_cms_topk_monitor(
            stream,
            sink=lambda cells, ep, acc=acc: acc.append((ep, cells)),
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(120)
        return acc

    a = events.filter("user_id % 2 = 0")
    b = events.filter("user_id % 2 = 1")
    a.coalesce(1).write.mode("append").parquet(src)
    first = run_once()
    assert first
    b.coalesce(1).write.mode("append").parquet(src)
    second = run_once()
    assert second

    batch_cells = {
        (r["i"], r["col"]): r["cell_count"]
        for r in sk.cms_cells(events, F.col("user_id").cast("string")).collect()
    }
    final = second[-1][1]
    assert final == batch_cells

    # a point estimate from the merged state matches the batch query's
    top_user = (
        events.groupBy("user_id").count().orderBy(F.desc("count")).first()
    )
    est = sk.cms_estimate_from_cells(final, str(top_user["user_id"]))
    assert est >= top_user["count"]


def test_stream_payload_schema_monitor(spark, tmp_path) -> None:
    """Schema-drift alerts: batch 1 establishes the key set; batch 2
    introduces a brand-new key AND a new type for a known key — both
    must surface as novelties, and the counters must accumulate."""
    import os

    from eventstreamd_spark.streaming.pipeline import (
        start_payload_schema_monitor,
    )

    src = str(tmp_path / "psm_src")
    os.makedirs(src)
    b1 = spark.createDataFrame(
        [(i, '{"k": %d, "s": "a"}' % i) for i in range(4)],
        "event_id long, props string",
    )
    b2 = spark.createDataFrame(
        [(9, '{"k": "oops", "fresh": true}')],
        "event_id long, props string",
    )
    seen: list = []

    def run_once() -> None:
        q = start_payload_schema_monitor(
            (
                spark.readStream.schema("event_id long, props string")
                .format("parquet")
                .load(src)
            ),
            sink=lambda nk, nt, st, ep, acc=seen: acc.append(
                (ep, nk, nt, st)
            ),
            checkpoint_dir=str(tmp_path / "psm_ckpt"),
        )
        q.awaitTermination(120)

    # two separate availableNow runs => deterministic batch order
    # (a single run with maxFilesPerTrigger depends on file mtimes)
    b1.coalesce(1).write.mode("append").parquet(src)
    run_once()
    b2.coalesce(1).write.mode("append").parquet(src)
    run_once()
    assert len(seen) == 2
    first, second = sorted(seen)
    assert first[1] == ["k", "s"] and first[2] == []
    assert second[1] == ["fresh"]
    assert ("k", "string") in second[2]
    final = second[3]
    assert final[("k", "int")] == 4 and final[("k", "string")] == 1
    assert final[("fresh", "bool")] == 1


def test_stream_rolling_wau_monitor_matches_batch(spark, sf_dir, tmp_path) -> None:
    """Day-keyed registers merged across micro-batches must equal the
    batch day_hll_registers over the union, and the monitor's trailing
    estimates must EXACTLY equal the batch twin's wau_est column —
    same registers, same fixed-order arithmetic, zero tolerance."""
    import os

    from eventstreamd_spark.operators import sketches as sk
    from eventstreamd_spark.session import load_table
    from eventstreamd_spark.streaming.pipeline import start_rolling_wau_monitor

    events = load_table(spark, sf_dir, "events").select("ts", "user_id")
    src = str(tmp_path / "wau_src")
    os.makedirs(src)
    events.filter("user_id % 2 = 0").coalesce(1).write.mode("append").parquet(src)
    events.filter("user_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )
    states: list = []
    q = start_rolling_wau_monitor(
        stream,
        sink=lambda regs, ests, ep, acc=states: acc.append((ep, regs, ests)),
        checkpoint_dir=str(tmp_path / "wau_ckpt"),
    )
    q.awaitTermination(120)
    assert len(states) >= 2

    batch_regs: dict[str, dict[int, int]] = {}
    for r in sk.day_hll_registers(events).collect():
        batch_regs.setdefault(r["d"].isoformat(), {})[r["bucket"]] = r["m_rho"]
    final_regs = states[-1][1]
    assert final_regs == batch_regs

    batch_est = {
        r["day"].date().isoformat(): r["wau_est"]
        for r in sk.rolling_wau_hll(events).collect()
    }
    ests = states[-1][2]
    # the batch spine is gap-free; the monitor only has days with data —
    # every monitored day must match the batch estimate bit-for-bit
    for d, est in ests.items():
        assert est == batch_est[d], (d, est, batch_est[d])
    # idempotent replay: re-merging any day's registers is a no-op
    for d, regs in final_regs.items():
        assert sk.hll_merge_registers(regs, regs) == regs


def test_monitor_sink_failure_redelivers_the_epoch(
    spark, monitor, tmp_path
) -> None:
    """A sink that raises fails the batch before its state persists: the
    restarted monitor hands the same epoch to the sink again, and the
    state holds batch A folded exactly once."""
    from pyspark.errors import StreamingQueryException

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    monitor.write_source(spark, src)

    def down(*args) -> None:
        raise RuntimeError("sink down")

    with pytest.raises(StreamingQueryException, match="sink down"):
        monitor.run(spark, src, ckpt, down)
    calls: list = []
    monitor.run(spark, src, ckpt, lambda *args: calls.append(args))
    assert [c[-1] for c in calls] == [0]
    a = spark.read.schema(monitor.SCHEMA).parquet(src)
    assert calls[0][monitor.state_arg] == monitor.one_shot(a)


def test_monitor_replayed_epoch_is_fenced(spark, monitor, tmp_path) -> None:
    """With the last batch's commit deleted, Spark replays that epoch on
    restart: the monitor must skip it (no sink call, state file
    byte-identical) and the engine rewrites the commit."""
    import os

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    monitor.write_source(spark, src)
    monitor.run(spark, src, ckpt, lambda *args: None)
    state = os.path.join(ckpt, monitor.state_file)
    with open(state, "rb") as f:
        before = f.read()
    last = pipeline.last_committed_batch(ckpt)
    assert last == 0
    commit = os.path.join(ckpt, "commits", str(last))
    os.remove(commit)
    os.remove(os.path.join(ckpt, "commits", f".{last}.crc"))

    calls: list = []
    monitor.run(spark, src, ckpt, lambda *args: calls.append(args))
    assert calls == []
    with open(state, "rb") as f:
        assert f.read() == before
    assert os.path.exists(commit)


def test_monitor_refuses_state_without_epoch(spark, tmp_path) -> None:
    """A register dict without ``last_epoch`` (the old HLL state file)
    raises naming the file instead of restarting from empty state."""
    import re

    from eventstreamd_spark.streaming.pipeline import start_hll_distinct_monitor

    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    src.mkdir()
    ckpt.mkdir()
    state = ckpt / "hll_registers.json"
    state.write_text(json.dumps({"3": 2, "17": 5}))
    with pytest.raises(ValueError, match=re.escape(str(state))):
        start_hll_distinct_monitor(
            spark.readStream.schema("event_id long").parquet(str(src)),
            sink=lambda regs, est, epoch: None,
            checkpoint_dir=str(ckpt),
        )


def _event_time_sessions(spark, tmp_path, batches: list) -> tuple[list, list]:
    """Feed ``batches`` of (user_id, ts) rows, one micro-batch each, to the
    event-time sessionizer (gap 2 s, watermark 4 s) and to batch
    ``sessionize`` over the same rows; returns user 1's sessions from
    each as (user_id, n_events, first_ts, last_ts), ordered by start."""
    import os

    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from eventstreamd_spark.operators.windows import sessionize
    from eventstreamd_spark.streaming.stateful import (
        streaming_sessionizer_event_time,
    )

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
        ]
    )
    src = str(tmp_path / "events_et")
    os.makedirs(src)
    spark.createDataFrame(batches[0], schema).coalesce(1).write.parquet(
        src + "/b0"
    )
    q = (
        streaming_sessionizer_event_time(
            spark.readStream.schema(schema).parquet(src + "/*"),
            gap_s=2,
            watermark="4 seconds",
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_et_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_et"))
        .start()
    )
    try:
        q.processAllAvailable()
        for i, b in enumerate(batches[1:], start=1):
            spark.createDataFrame(b, schema).coalesce(1).write.parquet(
                src + f"/b{i}"
            )
            q.processAllAvailable()
        got = [
            (r["user_id"], r["n_events"], r["first_ts"], r["last_ts"])
            for r in spark.sql(
                "SELECT * FROM sessions_et_out WHERE user_id = 1 "
                "ORDER BY first_ts"
            ).collect()
        ]
    finally:
        q.stop()

    # batch twin on the SAME rows (event_id only orders ties; synthesize)
    rows = [r for b in batches for r in b if r[0] == 1]
    batch_df = spark.createDataFrame(rows, schema).withColumn(
        "event_id", F.monotonically_increasing_id()
    )
    want = [
        (r["user_id"], r["n_events"], r["session_start"], r["session_end"])
        for r in sessionize(batch_df, gap_s=2)
        .orderBy("session_start")
        .collect()
    ]
    return got, want


# 503us sub-ms jitter on every row: the close threshold and the interval
# merge must agree at MICROSECOND granularity, which an ms-aligned
# fixture cannot check
_ET_T0 = datetime.datetime(2026, 1, 1, 12, 0, 0, 503)


def _s(k: float) -> datetime.datetime:
    return _ET_T0 + datetime.timedelta(seconds=k)


def test_event_time_sessionizer_matches_batch_on_late_data(
    spark, tmp_path
) -> None:
    """The event-time sessionizer must assign a LATE row (within the
    watermark) to the session its TIMESTAMP belongs to, producing
    exactly the batch ``sessionize`` answer — where the processing-time
    sessionizer would either have mis-assigned it to a live session
    window or dropped it after its gap timer fired."""
    # u1 session 1 = {t0, t0+1, t0+0.5 LATE}, session 2 = {t0+10};
    # u99 rows only drive the watermark (max ts - 4s)
    got, want = _event_time_sessions(
        spark,
        tmp_path,
        [
            [(1, _s(0)), (1, _s(1)), (99, _s(3))],
            [(1, _s(0.5)), (99, _s(8))],
            [(1, _s(10)), (99, _s(30))],
            [(99, _s(60))],
        ],
    )
    assert got == want
    assert got[0][1] == 3  # the late 0.5s row landed in session 1


def test_event_time_sessionizer_closes_on_microseconds(spark, tmp_path) -> None:
    """A session whose gap deadline (last row + 2 s) lies 503us past a
    whole-ms watermark is still open: the watermark has not passed it.
    Closing it by comparing milliseconds would split it from the next
    batch's row at t0+3 s, which batch ``sessionize`` merges into it."""
    # batch 2 runs under watermark t0+3 s (whole ms; max ts t0+7 s - 4 s)
    # and calls user 1 with its own row at t0+6 s
    got, want = _event_time_sessions(
        spark,
        tmp_path,
        [
            [(1, _s(1)), (99, _s(1))],
            [(99, _s(7))],
            [(1, _s(6))],
            [(1, _s(3))],
            [(99, _s(60))],
        ],
    )
    assert got == want
    assert [n for _, n, _, _ in got] == [2, 1]


def test_stream_schema_drift_monitor_matches_batch_twin(
    spark, sf_dir, tmp_path
) -> None:
    """The registered ``schema_drift_state_merge`` batch twin must
    reproduce EXACTLY what the live monitor computes when the odd-
    event_id batch lands on persisted even-event_id state: the same
    merged (key, type) counters, the same novel-key alerts, the same
    novel-type alerts — so the driver's exact oracle on the twin pins
    the monitor's fold arithmetic (the cms_state_merge adjudication)."""
    import os

    from eventstreamd_spark.operators import envelope as env
    from eventstreamd_spark.session import load_table
    from eventstreamd_spark.streaming.pipeline import (
        start_payload_schema_monitor,
    )

    events = load_table(spark, sf_dir, "events")
    aug = events.select(
        "event_id", env._augmented_payload().alias("props")
    )
    src = str(tmp_path / "sdm_src")
    os.makedirs(src)
    seen: list = []

    def run_once() -> None:
        q = start_payload_schema_monitor(
            (
                spark.readStream.schema("event_id long, props string")
                .format("parquet")
                .load(src)
            ),
            sink=lambda nk, nt, st, ep, acc=seen: acc.append(
                (ep, nk, nt, st)
            ),
            checkpoint_dir=str(tmp_path / "sdm_ckpt"),
        )
        q.awaitTermination(120)

    # epoch 0 = the twin's "persisted state" half, epoch 1 = "incoming
    # batch" — two availableNow runs for deterministic batch order
    aug.filter("event_id % 2 = 0").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()
    aug.filter("event_id % 2 = 1").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()
    assert len(seen) == 2
    _, novel_keys, novel_types, merged = sorted(seen)[-1]

    twin = env.schema_drift_state_merge(events).collect()
    assert merged  # non-degenerate fixture
    assert (
        sorted({r["key"] for r in twin if r["is_novel_key"]}) == novel_keys
    )
    assert (
        sorted((r["key"], r["ty"]) for r in twin if r["is_novel_type"])
        == novel_types
    )
    assert {(r["key"], r["ty"]): r["n_merged"] for r in twin} == merged


def test_stream_drift_kernel_matches_batch_twin(spark, sf_dir) -> None:
    """``drift_vs_reference`` (the drift monitor's kernel: batch-side
    LEFT join + closed-form reference-only mass) must produce
    BIT-IDENTICAL TVD to the registered ``event_value_drift``
    (single-scan window formulation) on the same even/odd event_id
    split — the driver's exact oracle on the batch query then
    transitively pins the streaming monitor's arithmetic, closing the
    last monitor-kernel fork risk (novel-type semantics are covered by
    test_drift_report_surfaces_novel_event_types)."""
    from eventstreamd_spark.operators import statistics as st
    from eventstreamd_spark.session import load_table
    from eventstreamd_spark.streaming.pipeline import drift_vs_reference

    events = load_table(spark, sf_dir, "events")
    got = {
        r["event_type"]: (r["n_ref"], r["n_batch"], r["tvd"])
        for r in drift_vs_reference(
            events.filter("event_id % 2 = 1"),
            events.filter("event_id % 2 = 0"),
        ).collect()
    }
    want = {
        r["event_type"]: (r["n_ref"], r["n_cand"], r["tvd"])
        for r in st.event_value_drift(events).collect()
        if r["n_cand"] > 0  # kernel reports types present in the batch
    }
    assert got and got == want  # same types, same counts, same IEEE tvd


def test_stream_quantile_monitor_matches_batch_twin(
    spark, sf_dir, tmp_path
) -> None:
    """The quantile monitor's accumulated registers must equal the
    batch register table over the union of its micro-batches, and its
    driver-side nearest-rank walk must reproduce the registered
    ``quantile_sketch`` twin EXACTLY (same ceil(frac*n) product, same
    envelope, same single lb/100 division) — the additive-state
    replay-fence monitor pinned to the oracle the same way as
    cms_state_merge / schema_drift_state_merge."""
    import os

    from eventstreamd_spark.operators import sketches as sk
    from eventstreamd_spark.session import load_table
    from eventstreamd_spark.streaming.pipeline import start_quantile_monitor

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
    )
    src = str(tmp_path / "qmon_src")
    os.makedirs(src)
    li.filter("l_orderkey % 2 = 0").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    li.filter("l_orderkey % 2 = 1").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    states: list = []
    q = start_quantile_monitor(
        (
            spark.readStream.schema(
                "l_orderkey long, l_extendedprice double"
            )
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(src)
        ),
        sink=lambda regs, qs, ep, acc=states: acc.append((ep, regs, qs)),
        checkpoint_dir=str(tmp_path / "qmon_ckpt"),
    )
    q.awaitTermination(120)
    assert len(states) >= 2

    batch_regs = {
        r["bucket"]: (r["lb"], r["ub"], r["c"])
        for r in sk.logbucket_registers(li).collect()
    }
    assert states[-1][1] == batch_regs

    twin = {r["frac"]: r for r in sk.logbucket_quantiles(li).collect()}
    got = states[-1][2]
    assert set(got) == set(twin)
    for f, g in got.items():
        t = twin[f]
        assert (
            g["rank"],
            g["bucket"],
            g["lb_cents"],
            g["ub_cents"],
            g["est_price"],
        ) == (
            t["rank"],
            t["bucket"],
            t["lb_cents"],
            t["ub_cents"],
            t["est_price"],
        ), f


def test_stream_quantile_monitor_survives_restart(
    spark, sf_dir, tmp_path
) -> None:
    """Kill-and-resume for the quantile monitor (round-8, VERDICT ask
    #7 — the assertion the CMS monitor already has): state re-folds
    across a simulated restart, the already-applied epoch is NOT
    re-added (additive state + replay fence: a double-fold would show
    as 2A+B != A+B), and the resumed quantile walk still equals the
    one-shot batch twin on the union."""
    import os

    from eventstreamd_spark.operators import sketches as sk
    from eventstreamd_spark.session import load_table
    from eventstreamd_spark.streaming.pipeline import start_quantile_monitor

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
    )
    src = str(tmp_path / "qrs_src")
    ckpt = str(tmp_path / "qrs_ckpt")
    os.makedirs(src)

    def run_once():
        acc: list = []
        q = start_quantile_monitor(
            (
                spark.readStream.schema(
                    "l_orderkey long, l_extendedprice double"
                )
                .format("parquet")
                .load(src)
            ),
            sink=lambda regs, qs, ep, acc=acc: acc.append((ep, regs, qs)),
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(120)
        return acc

    a = li.filter("l_orderkey % 2 = 0")
    b = li.filter("l_orderkey % 2 = 1")
    a.coalesce(1).write.mode("append").parquet(src)
    first = run_once()
    assert first
    a_regs = {
        r["bucket"]: (r["lb"], r["ub"], r["c"])
        for r in sk.logbucket_registers(a).collect()
    }
    assert first[-1][1] == a_regs

    b.coalesce(1).write.mode("append").parquet(src)
    second = run_once()  # restart: only the new file is a fresh batch
    assert second
    union_regs = {
        r["bucket"]: (r["lb"], r["ub"], r["c"])
        for r in sk.logbucket_registers(li).collect()
    }
    assert second[-1][1] == union_regs  # A folded once, B folded once

    twin = {r["frac"]: r for r in sk.logbucket_quantiles(li).collect()}
    got = second[-1][2]
    assert set(got) == set(twin)
    for f, g in got.items():
        assert (g["rank"], g["bucket"], g["est_price"]) == (
            twin[f]["rank"],
            twin[f]["bucket"],
            twin[f]["est_price"],
        ), f


def _scene_media_subset(spark, sf_dir, n_docs: int):
    from eventstreamd_spark.operators.perceptual import documents_as_scene_media
    from eventstreamd_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < n_docs
    )
    return documents_as_scene_media(docs).select("doc_id", "blob")


_EMPTY_SIG = "doc_id bigint, a_hi bigint, a_lo bigint, d_hi bigint, d_lo bigint"


def _index_layout(idx: str) -> tuple[dict, set[str]]:
    """An admission index's ``_MANIFEST`` and its ``batch_id=``
    directories on disk."""
    import os

    with open(os.path.join(idx, "_MANIFEST")) as f:
        manifest = json.load(f)
    return manifest, {e for e in os.listdir(idx) if e.startswith("batch_id=")}


def test_media_admission_index_read_is_partition_pruned(
    spark, sf_dir, tmp_path
) -> None:
    """Round-10 (VERDICT ask #3): the per-trigger index probe must
    PRUNE at planning time to the micro-batch's (band, bp) buckets —
    all three read filters sit on partition columns of the
    band-partitioned layout, so a 100 TB kept-corpus index is never
    scanned whole per trigger.  Asserted on the executed plan
    (PartitionFilters carries band/bp/batch_id — planning-time, not a
    post-scan filter) and on the rows (the rectangle read equals the
    stacked seed restricted to the rectangle)."""
    from eventstreamd_spark.operators.perceptual import perceptual_hashes
    from eventstreamd_spark.streaming.pipeline import (
        _pruned_index_read,
        seed_media_index,
    )

    media = _scene_media_subset(spark, sf_dir, 48)
    seed_sig = perceptual_hashes(media)
    index_dir = str(tmp_path / "pruned_index")
    seed_media_index(seed_sig, index_dir)

    pruned = _pruned_index_read(
        spark, index_dir, 0, [("a0", 7), ("d3", 200)]
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "band" in pf and "bp" in pf and "batch_id" in pf
    # pair-exact pruning: (a0, 200) and (d3, 7) must NOT come back
    # (the rectangle superset would include them)
    from eventstreamd_spark.operators.perceptual import band_stack

    want = {
        (r["doc_id"], r["band"], r["bhash"])
        for r in band_stack(seed_sig).collect()
        if (r["band"], r["bhash"] >> 8) in {("a0", 7), ("d3", 200)}
    }
    got = {
        (r["doc_id"], r["band"], r["bhash"]) for r in pruned.collect()
    }
    assert got == want
    # the large-key-set fallback (rectangle) stays a correct superset
    many = [(b, p) for b in ("a0", "d3") for p in range(200)]
    rect = _pruned_index_read(spark, index_dir, 0, many)
    assert {
        (r["doc_id"], r["band"], r["bhash"]) for r in rect.collect()
    } >= want


def test_media_index_compaction_preserves_decisions(
    spark, sf_dir, tmp_path
) -> None:
    """Round-10: folding the accreted batch_id deltas into the seed
    partition (the streaming small-files maintenance pass) must leave
    the index CONTENT identical and the next batch's verdicts
    unchanged — the reader contract `batch_id < N` selects the same
    kept corpus before and after."""
    import os

    from eventstreamd_spark.operators.perceptual import perceptual_hashes
    from eventstreamd_spark.streaming.pipeline import (
        compact_media_index,
        media_admission_writer,
        seed_media_index,
    )

    media = _scene_media_subset(spark, sf_dir, 32).localCheckpoint()
    idx, out = str(tmp_path / "cidx"), str(tmp_path / "cout")
    seed_media_index(
        perceptual_hashes(media.filter("doc_id < 8")), idx
    )
    w = media_admission_writer(idx, out)
    w(media.filter("doc_id >= 8 AND doc_id < 16"), 0)
    w(media.filter("doc_id >= 16 AND doc_id < 24"), 1)

    def index_content():
        return {
            tuple(r)
            for r in spark.read.schema(
                "doc_id bigint, a_hi bigint, a_lo bigint, d_hi bigint, "
                "d_lo bigint, bhash bigint, band string, bp int, batch_id int"
            )
            .parquet(idx)
            .select("doc_id", "band", "bhash")
            .collect()
        }

    before = index_content()
    n_delta_dirs = len(
        [d for d in os.listdir(idx) if d.startswith("batch_id=") and d != "batch_id=-1"]
    )
    assert n_delta_dirs == 2  # two trigger deltas accreted
    n = compact_media_index(spark, idx)
    assert n == len({d for d, _, _ in before})  # one signature per doc
    assert index_content() == before  # content identical, dirs folded
    m, dirs = _index_layout(idx)
    assert set(os.listdir(idx)) <= {"_MANIFEST", "_SUCCESS", *dirs}
    assert dirs == {f"batch_id={m['seed']}"} and m["from"] == 2
    # the NEXT batch still rejects a twin of a pre-compaction canonical
    w(media.filter("doc_id >= 24"), 2)
    rows = {
        r["doc_id"]: (r["cluster_id"], r["keep"], r["reason"])
        for r in spark.read.parquet(out).filter("batch_id = 2").collect()
    }
    assert rows[26] == (24, False, "near_dup_batch")
    assert rows[24] == (24, True, "kept")


def test_media_index_eviction_rolls_the_dedup_window(
    spark, sf_dir, tmp_path
) -> None:
    """Round-10: evicting index epochs older than a cutoff turns the
    admission into a ROLLING near-dup window — a twin of an evicted
    canonical is re-admitted as a fresh canonical, while twins of
    retained canonicals keep rejecting."""
    from eventstreamd_spark.operators.perceptual import perceptual_hashes
    from eventstreamd_spark.streaming.pipeline import (
        evict_media_index,
        media_admission_writer,
        seed_media_index,
    )

    media = _scene_media_subset(spark, sf_dir, 24).localCheckpoint()
    idx, out = str(tmp_path / "eidx"), str(tmp_path / "eout")
    seed_media_index(spark.createDataFrame([], _EMPTY_SIG), idx)
    w = media_admission_writer(idx, out)
    # batch 0 admits cohort-0/1 canonicals (0, 4); batch 1 admits
    # cohort-2 canonical (8)
    w(media.filter("doc_id IN (0, 4)"), 0)
    w(media.filter("doc_id = 8"), 1)
    # retention cutoff: keep epoch >= 1 — canonicals 0 and 4 age out
    n = evict_media_index(spark, idx, 1)
    assert n == 1  # only doc 8's signature survives
    # batch 2: twins of the EVICTED canonicals admit as new
    # canonicals; the twin of the RETAINED canonical still rejects
    w(media.filter("doc_id IN (1, 5, 9)"), 2)
    rows = {
        r["doc_id"]: (r["cluster_id"], r["keep"], r["reason"])
        for r in spark.read.parquet(out).filter("batch_id = 2").collect()
    }
    assert rows[1] == (1, True, "kept")  # canonical 0 evicted
    assert rows[5] == (5, True, "kept")  # canonical 4 evicted
    assert rows[9] == (8, False, "near_dup_index")  # 8 retained


def test_media_admission_matches_batch_clusters(spark, sf_dir, tmp_path) -> None:
    """Two micro-batches of media admitted incrementally against a
    growing banded perceptual index must reproduce the one-shot batch
    ``media_near_dup_clusters`` keep decision row-for-row — including a
    cohort that STRADDLES the batch boundary (canonical in batch 1,
    perturbed twin arriving in batch 2, rejected against the index)."""
    import os

    from eventstreamd_spark.operators.perceptual import media_near_dup_clusters
    from eventstreamd_spark.plans import memo
    from eventstreamd_spark.streaming.pipeline import (
        seed_media_index,
        start_media_admission,
    )

    media = _scene_media_subset(spark, sf_dir, 64).localCheckpoint()
    src = str(tmp_path / "media_src")
    index_dir = str(tmp_path / "media_index")
    out_dir = str(tmp_path / "media_out")
    ckpt = str(tmp_path / "media_ckpt")
    os.makedirs(src)
    seed_media_index(spark.createDataFrame([], _EMPTY_SIG), index_dir)

    def run_once():
        stream = (
            spark.readStream.schema("doc_id long, blob binary")
            .format("parquet")
            .load(src)
        )
        q = start_media_admission(stream, index_dir, out_dir, ckpt)
        q.awaitTermination(180)

    # mid-cohort split: cohort 10 = docs 40..43 -> canonical 40 and its
    # JPEG twin 41 land in batch 1; the perturbed twin 42 and the
    # negative control 43 arrive in batch 2
    # the streaming rule (plans/memo.py): no micro-batch adds a session
    # memo entry
    n_memo = len(memo._MEMO)
    media.filter("doc_id < 42").coalesce(1).write.mode("append").parquet(src)
    run_once()
    media.filter("doc_id >= 42").coalesce(1).write.mode("append").parquet(src)
    run_once()
    assert len(memo._MEMO) == n_memo

    got = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in media_near_dup_clusters(media).collect()
    }
    assert got == want
    # the straddling twin was decided against the INDEX, not in-batch
    reasons = {
        r["doc_id"]: r["reason"] for r in spark.read.parquet(out_dir).collect()
    }
    assert reasons[42] == "near_dup_index"
    assert reasons[41] == "near_dup_batch"
    # the index holds exactly the kept canonicals' signatures
    idx_docs = {
        r["doc_id"]
        for r in spark.read.parquet(index_dir).select("doc_id").collect()
    }
    assert idx_docs == {d for d, (_, keep) in want.items() if keep}


def test_media_admission_restart_and_replay_idempotence(
    spark, sf_dir, tmp_path
) -> None:
    """Checkpoint restart resumes with the grown index (no rescoring of
    admitted batches), an empty restart is a no-op, and a replayed
    foreachBatch epoch overwrites its own output deterministically
    (at-least-once invocation + idempotent write = exactly-once)."""
    import os

    from eventstreamd_spark.streaming.pipeline import (
        media_admission_writer,
        seed_media_index,
        start_media_admission,
    )

    media = _scene_media_subset(spark, sf_dir, 32).localCheckpoint()
    src = str(tmp_path / "ra_src")
    index_dir = str(tmp_path / "ra_index")
    out_dir = str(tmp_path / "ra_out")
    ckpt = str(tmp_path / "ra_ckpt")
    os.makedirs(src)
    seed_media_index(spark.createDataFrame([], _EMPTY_SIG), index_dir)

    def run_once():
        stream = (
            spark.readStream.schema("doc_id long, blob binary")
            .format("parquet")
            .load(src)
        )
        q = start_media_admission(stream, index_dir, out_dir, ckpt)
        q.awaitTermination(180)

    media.filter("doc_id < 16").coalesce(1).write.mode("append").parquet(src)
    run_once()
    first = {
        (r["doc_id"], r["cluster_id"], r["keep"], r["reason"])
        for r in spark.read.parquet(out_dir).collect()
    }
    run_once()  # restart with no new data: nothing changes
    assert {
        (r["doc_id"], r["cluster_id"], r["keep"], r["reason"])
        for r in spark.read.parquet(out_dir).collect()
    } == first

    media.filter("doc_id >= 16").coalesce(1).write.mode("append").parquet(src)
    run_once()  # restart consumes only the new file, vs the grown index
    after = {
        (r["doc_id"], r["cluster_id"], r["keep"], r["reason"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert first < after
    # replay epoch 1 by hand: same input, same batch_id -> the index
    # filter (batch_id < 1) re-reads the same pre-epoch state and the
    # overwrite lands on the same directories, so output is unchanged
    media_admission_writer(index_dir, out_dir)(
        media.filter("doc_id >= 16"), 1
    )
    assert {
        (r["doc_id"], r["cluster_id"], r["keep"], r["reason"])
        for r in spark.read.parquet(out_dir).collect()
    } == after


def test_media_admission_audio_signature_kernel(spark, sf_dir, tmp_path) -> None:
    """The admission kernel is modality-blind past the signature: a
    WAV stream admitted with ``audio_fingerprints`` as the signature
    kernel rejects the RESAMPLED twin arriving a batch later against
    the index entry of its canonical (the pair byte-digest dedup
    misses), keeps fresh scenes, and clusters in-batch twins."""
    import os

    from eventstreamd_spark.operators.audio import (
        audio_fingerprints,
        documents_as_scene_audio,
    )
    from eventstreamd_spark.session import load_table
    from eventstreamd_spark.streaming.pipeline import (
        seed_media_index,
        start_media_admission,
    )

    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 32")
    media = documents_as_scene_audio(docs).select("doc_id", "blob").localCheckpoint()
    src = str(tmp_path / "wav_src")
    index_dir = str(tmp_path / "wav_index")
    out_dir = str(tmp_path / "wav_out")
    ckpt = str(tmp_path / "wav_ckpt")
    os.makedirs(src)
    seed_media_index(spark.createDataFrame([], _EMPTY_SIG), index_dir)

    def run_once():
        stream = (
            spark.readStream.schema("doc_id long, blob binary")
            .format("parquet")
            .load(src)
        )
        q = start_media_admission(
            stream, index_dir, out_dir, ckpt, sig_fn=audio_fingerprints
        )
        q.awaitTermination(180)

    # mid-cohort split: cohort 4 = docs 16..19 -> canonical 16 lands in
    # batch 1; its resampled twin 17 arrives in batch 2
    media.filter("doc_id < 17").coalesce(1).write.mode("append").parquet(src)
    run_once()
    media.filter("doc_id >= 17").coalesce(1).write.mode("append").parquet(src)
    run_once()

    rows = {
        r["doc_id"]: (r["cluster_id"], r["keep"], r["reason"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert set(rows) == set(range(32))
    # cohort 4 straddles the boundary: the resampled twin 17 AND the
    # perturbed twin 18 arrive in batch 2 and reject against canonical
    # 16's INDEX entry instead of in-batch
    assert rows[17] == (16, False, "near_dup_index")
    assert rows[18] == (16, False, "near_dup_index")
    for k in range(8):
        c = 4 * k
        assert rows[c] == (c, True, "kept")  # canonical
        assert rows[c + 3] == (c + 3, True, "kept")  # fresh-scene negative
        if c + 1 != 17:  # in-batch twins of the canonical
            assert rows[c + 1] == (c, False, "near_dup_batch"), c
        if c + 2 != 18:
            assert rows[c + 2] == (c, False, "near_dup_batch"), c


def test_compaction_commits_guard_leaves_uncommitted_epoch(
    spark, sf_dir, tmp_path
) -> None:
    """Round-11 (ADVICE): the admission writer can run epoch N and die
    before the engine records ``commits/N``.  Compaction must NOT fold
    that delta into ``batch_id=-1`` — the fold would smuggle it past
    the replayed epoch's ``batch_id < N`` read and the replay's docs
    would match their OWN signatures (kept -> near_dup_index).  With
    the checkpoint given, only committed epochs fold and the replay
    reproduces its original verdicts bit-for-bit."""
    import os

    from eventstreamd_spark.streaming.pipeline import (
        compact_media_index,
        media_admission_writer,
        seed_media_index,
    )

    media = _scene_media_subset(spark, sf_dir, 16).localCheckpoint()
    idx, out = str(tmp_path / "gidx"), str(tmp_path / "gout")
    ckpt = str(tmp_path / "gckpt")
    seed_media_index(spark.createDataFrame([], _EMPTY_SIG), idx)
    w = media_admission_writer(idx, out)
    w(media.filter("doc_id < 8"), 0)
    w(media.filter("doc_id >= 8"), 1)
    # engine committed epoch 0; died before committing epoch 1
    os.makedirs(os.path.join(ckpt, "commits"))
    with open(os.path.join(ckpt, "commits", "0"), "w") as f:
        f.write("v1\n{}")

    first_run = {
        (r["doc_id"], r["cluster_id"], r["keep"], r["reason"])
        for r in spark.read.parquet(out).filter("batch_id = 1").collect()
    }
    compact_media_index(spark, idx, checkpoint=ckpt)
    # epoch 1's delta survived as-is; epoch 0 folded into the seed
    m, dirs = _index_layout(idx)
    assert dirs == {f"batch_id={m['seed']}", "batch_id=1"} and m["from"] == 1
    # the engine replays epoch 1: verdicts must be bit-identical
    w(media.filter("doc_id >= 8"), 1)
    replay = {
        (r["doc_id"], r["cluster_id"], r["keep"], r["reason"])
        for r in spark.read.parquet(out).filter("batch_id = 1").collect()
    }
    assert replay == first_run
    # sanity: the corruption this guard prevents — every kept doc of
    # epoch 1 must still be kept (the broken fold flipped them all)
    assert any(keep for (_, _, keep, _) in replay)


def test_maintain_media_index_lifecycle_trigger(
    spark, sf_dir, tmp_path
) -> None:
    """Round-11 (VERDICT ask #5): maintenance fires FROM the stream
    lifecycle — media_admission_cycle drains an availableNow run, then
    applies the epoch-count policy with the stream quiesced.  The
    trigger must fire exactly at the threshold, fold only committed
    epochs, keep every verdict bit-identical to an unmaintained
    control pipeline, and leave the checkpoint replayable."""
    import os

    from eventstreamd_spark.streaming.pipeline import (
        media_admission_cycle,
        seed_media_index,
        start_media_admission,
    )

    media = _scene_media_subset(spark, sf_dir, 48).localCheckpoint()
    src = str(tmp_path / "m_src")
    idx, out = str(tmp_path / "m_idx"), str(tmp_path / "m_out")
    ckpt = str(tmp_path / "m_ckpt")
    # unmaintained control pipeline
    csrc = str(tmp_path / "c_src")
    cidx, cout = str(tmp_path / "c_idx"), str(tmp_path / "c_out")
    cckpt = str(tmp_path / "c_ckpt")
    os.makedirs(src)
    os.makedirs(csrc)
    seed_media_index(spark.createDataFrame([], _EMPTY_SIG), idx)
    seed_media_index(spark.createDataFrame([], _EMPTY_SIG), cidx)

    def cycle(n_lo: int, n_hi: int) -> dict:
        media.filter(f"doc_id >= {n_lo} AND doc_id < {n_hi}").coalesce(
            1
        ).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("doc_id long, blob binary")
            .format("parquet")
            .load(src)
        )
        return media_admission_cycle(
            stream, idx, out, ckpt, max_delta_epochs=2
        )

    def control(n_lo: int, n_hi: int) -> None:
        media.filter(f"doc_id >= {n_lo} AND doc_id < {n_hi}").coalesce(
            1
        ).write.mode("append").parquet(csrc)
        stream = (
            spark.readStream.schema("doc_id long, blob binary")
            .format("parquet")
            .load(csrc)
        )
        q = start_media_admission(stream, cidx, cout, cckpt)
        q.awaitTermination(180)

    r1 = cycle(0, 16)
    control(0, 16)
    assert not r1["fired"] and r1["delta_epochs_after"] == 1
    r2 = cycle(16, 32)
    control(16, 32)
    assert r2["fired"] and r2["compacted"]  # threshold 2 reached
    assert r2["delta_epochs_after"] == 0  # both epochs committed, folded
    m, dirs = _index_layout(idx)
    assert dirs == {f"batch_id={m['seed']}"} and m["from"] == 2
    # post-maintenance cycle: verdicts bit-identical to the control
    r3 = cycle(32, 48)
    control(32, 48)
    got = {
        (r["doc_id"], r["cluster_id"], r["keep"], r["reason"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["doc_id"], r["cluster_id"], r["keep"], r["reason"])
        for r in spark.read.parquet(cout).collect()
    }
    assert got == want
    assert not r3["compacted"]  # only one fresh delta since the fold


def test_maintain_media_index_retention_policy(spark, sf_dir, tmp_path) -> None:
    """Retention on a clock: epochs older than last_committed -
    retention_epochs + 1 are evicted by the lifecycle pass, giving the
    rolling near-dup window without a hand-picked cutoff."""
    import os

    from eventstreamd_spark.streaming.pipeline import (
        maintain_media_index,
        media_admission_writer,
        seed_media_index,
    )

    media = _scene_media_subset(spark, sf_dir, 24).localCheckpoint()
    idx, out = str(tmp_path / "ridx"), str(tmp_path / "rout")
    ckpt = str(tmp_path / "rckpt")
    seed_media_index(spark.createDataFrame([], _EMPTY_SIG), idx)
    w = media_admission_writer(idx, out)
    os.makedirs(os.path.join(ckpt, "commits"))
    for b, lo in enumerate((0, 8, 16)):
        w(media.filter(f"doc_id >= {lo} AND doc_id < {lo + 8}"), b)
        with open(os.path.join(ckpt, "commits", str(b)), "w") as f:
            f.write("v1\n{}")
    # keep the last two epochs -> epoch 0 ages out (cutoff = 2-2+1 = 1)
    report = maintain_media_index(
        spark, idx, ckpt, max_delta_epochs=99, retention_epochs=2
    )
    assert report["fired"] and report["evicted_epochs"] == 1
    assert not report["compacted"]
    # the (empty) seed ages out with the window too — evict's contract
    # drops batch_id=-1 once the cutoff passes -1
    m, dirs = _index_layout(idx)
    assert dirs == {"batch_id=1", "batch_id=2"} and m == {"seed": None, "from": 1}
    # a twin of an evicted canonical re-admits (rolling window)
    kept0 = [
        r["doc_id"]
        for r in spark.read.parquet(out)
        .filter("batch_id = 0 AND keep")
        .collect()
    ]
    twin = min(kept0) + 1  # cohort layout: +1 is the in-batch twin
    w(media.filter(f"doc_id = {twin}"), 3)
    row = (
        spark.read.parquet(out)
        .filter("batch_id = 3")
        .collect()[0]
    )
    assert row["keep"]  # its canonical's epoch was evicted


def test_retention_then_compaction_after_seed_eviction(
    spark, sf_dir, tmp_path
) -> None:
    """Round-12 (ADVICE): the documented 'evict, then fold'
    composition must survive SEED eviction.  Retention drops
    ``batch_id=-1`` once the cutoff passes -1; a later compaction —
    including the automatic one ``maintain_media_index`` fires when
    deltas reach ``max_delta_epochs`` — must fold the surviving
    deltas into a rebuilt seed instead of raising PATH_NOT_FOUND on
    the missing seed path, and the rebuilt seed must keep serving
    admission verdicts."""
    import os

    from eventstreamd_spark.streaming.pipeline import (
        maintain_media_index,
        media_admission_writer,
        seed_media_index,
    )

    media = _scene_media_subset(spark, sf_dir, 32).localCheckpoint()
    idx, out = str(tmp_path / "sidx"), str(tmp_path / "sout")
    ckpt = str(tmp_path / "sckpt")
    seed_media_index(spark.createDataFrame([], _EMPTY_SIG), idx)
    w = media_admission_writer(idx, out)
    os.makedirs(os.path.join(ckpt, "commits"))

    def commit(b: int) -> None:
        with open(os.path.join(ckpt, "commits", str(b)), "w") as f:
            f.write("v1\n{}")

    for b, lo in enumerate((0, 8, 16)):
        w(media.filter(f"doc_id >= {lo} AND doc_id < {lo + 8}"), b)
        commit(b)
    # retention: epoch 0 ages out (cutoff 1) and the seed goes with it
    r1 = maintain_media_index(
        spark, idx, ckpt, max_delta_epochs=99, retention_epochs=2
    )
    assert r1["fired"] and r1["evicted_epochs"] == 1 and r1["seed_evicted"]
    assert not r1["compacted"]
    m, dirs = _index_layout(idx)
    assert m["seed"] is None and dirs == {"batch_id=1", "batch_id=2"}
    # epoch 3 arrives, tripping the compaction threshold (3 deltas)
    w(media.filter("doc_id >= 24 AND doc_id < 32"), 3)
    commit(3)
    r2 = maintain_media_index(spark, idx, ckpt, max_delta_epochs=3)
    assert r2["compacted"] and not r2["seed_evicted"]
    m, dirs = _index_layout(idx)
    assert dirs == {f"batch_id={m['seed']}"}  # folded without the old seed
    # the rebuilt seed still serves admission: an exact resend of an
    # epoch-1 kept canonical rejects against the index
    canon = min(
        r["doc_id"]
        for r in spark.read.parquet(out)
        .filter("batch_id = 1 AND keep")
        .collect()
    )
    w(media.filter(f"doc_id = {canon}"), 4)
    row = spark.read.parquet(out).filter("batch_id = 4").collect()[0]
    assert not row["keep"] and row["reason"] == "near_dup_index"


def test_admission_index_without_manifest_fails_loudly(spark, tmp_path) -> None:
    """An index directory with no ``_MANIFEST``, or one of another
    shape, is not read by listing its directories: the read and the
    maintenance pass raise ``ValueError`` naming the file."""
    import os
    import re

    from eventstreamd_spark.streaming.pipeline import (
        _pruned_index_read,
        maintain_media_index,
        seed_media_index,
    )

    idx = str(tmp_path / "no_manifest")
    seed_media_index(spark.createDataFrame([], _EMPTY_SIG), idx)
    path = os.path.join(idx, "_MANIFEST")
    os.remove(path)
    with pytest.raises(ValueError, match=re.escape(path)):
        _pruned_index_read(spark, idx, 0, [("a0", 0)])
    with pytest.raises(ValueError, match=re.escape(path)):
        maintain_media_index(spark, idx, str(tmp_path / "ckpt"))
    assert os.listdir(idx) == ["batch_id=-1"]  # nothing swept
    with open(path, "w") as f:
        json.dump({"n": 0}, f)
    with pytest.raises(ValueError, match=re.escape(path)):
        _pruned_index_read(spark, idx, 0, [("a0", 0)])


class _Killed(Exception):
    """A process kill, injected at one step of index maintenance."""


def test_admission_index_maintenance_survives_a_kill_at_every_step(
    spark, sf_dir, tmp_path, monkeypatch
) -> None:
    """Kill ``maintain_media_index`` (retention, then compaction) at each
    step of eviction (manifest publish, sweep) and of compaction
    (generation write, manifest publish, sweep); a killed write or
    sweep leaves a partial directory.  After each kill the index still
    reads and holds the pre- or the post-maintenance corpus, the next
    epoch's decisions equal the pre- or the post-maintenance ones, and
    a rerun completes and leaves on disk exactly the manifest's live
    set: the seed generation plus the deltas from ``from`` on."""
    import os
    import shutil
    import types

    from eventstreamd_spark.operators.perceptual import perceptual_hashes

    media = _scene_media_subset(spark, sf_dir, 40).localCheckpoint()
    base, ckpt = str(tmp_path / "base"), str(tmp_path / "ckpt")
    pipeline.seed_media_index(perceptual_hashes(media.filter("doc_id < 8")), base)
    w = pipeline.media_admission_writer(base, str(tmp_path / "base_out"))
    os.makedirs(os.path.join(ckpt, "commits"))
    for b, lo in enumerate((8, 16, 24)):
        w(media.filter(f"doc_id >= {lo} AND doc_id < {lo + 8}"), b)
        with open(os.path.join(ckpt, "commits", str(b)), "w") as f:
            f.write("v1\n{}")
    # epoch 3: twins of a seed doc (1), of epoch-0, -1 and -2 canonicals
    # (9, 17, 25), and fresh docs — retention evicts the first two kinds
    nxt = media.filter("doc_id IN (1, 9, 17, 25) OR doc_id >= 32").localCheckpoint()
    keys = sorted(
        (r["band"], r["bp"])
        for r in spark.read.schema(pipeline._index_schema())
        .parquet(base)
        .select("band", "bp")
        .distinct()
        .collect()
    )

    def maintain(idx: str) -> dict:
        # retention keeps epochs >= 1 (seed and epoch 0 go), then the
        # two surviving deltas fold into a new seed generation
        return pipeline.maintain_media_index(
            spark, idx, ckpt, max_delta_epochs=2, retention_epochs=2
        )

    def corpus(idx: str) -> set[tuple]:
        read = pipeline._pruned_index_read(spark, idx, 3, keys)
        return {(r["doc_id"], r["band"], r["bhash"]) for r in read.collect()}

    def decisions(idx: str, name: str) -> set[tuple]:
        out = str(tmp_path / f"{name}_out")
        pipeline.media_admission_writer(idx, out)(nxt, 3)
        return {
            (r["doc_id"], r["cluster_id"], r["keep"], r["reason"])
            for r in spark.read.parquet(out).collect()
        }

    def copy(name: str) -> str:
        idx = str(tmp_path / name)
        shutil.copytree(base, idx)
        return idx

    pre_idx, post_idx = copy("pre"), copy("post")
    report = maintain(post_idx)
    assert report["evicted_epochs"] == 1 and report["seed_evicted"]
    assert report["compacted"]
    corpora = [corpus(pre_idx), corpus(post_idx)]
    verdicts = [decisions(pre_idx, "pre"), decisions(post_idx, "post")]
    assert corpora[0] != corpora[1] and verdicts[0] != verdicts[1]

    real = {
        "_publish_manifest": pipeline._publish_manifest,
        "_write_epoch": pipeline._write_epoch,
        "rmtree": shutil.rmtree,
    }

    def drop_one_leaf(path: str) -> None:
        leaf = min(e for e in os.listdir(path) if e.startswith("band="))
        shutil.rmtree(os.path.join(path, leaf))

    def kill(step: str, nth: int) -> None:
        """Raise at the ``nth`` call of ``step``.  A killed write leaves
        its generation without one (band) leaf, a killed ``rmtree``
        removes one leaf of its directory; a publish is atomic."""
        calls = 0

        def killed(*args, **kwargs):
            nonlocal calls
            calls += 1
            if calls < nth:
                return real[step](*args, **kwargs)
            if step == "_write_epoch":
                real[step](*args, **kwargs)
                drop_one_leaf(f"{args[1]}/batch_id={args[2]}")
            elif step == "rmtree":
                drop_one_leaf(args[0])
            raise _Killed(step)

        if step == "rmtree":
            monkeypatch.setattr(pipeline, "shutil", types.SimpleNamespace(rmtree=killed))
        else:
            monkeypatch.setattr(pipeline, step, killed)

    steps = [
        ("_publish_manifest", 1),  # eviction's publish
        ("rmtree", 1),  # eviction's sweep, first directory (the seed)
        ("_write_epoch", 1),  # compaction's generation write
        ("_publish_manifest", 2),  # compaction's publish
        ("rmtree", 3),  # compaction's sweep, first folded delta
    ]
    for i, (step, nth) in enumerate(steps):
        idx = copy(f"kill{i}")
        kill(step, nth)
        with pytest.raises(_Killed):
            maintain(idx)
        monkeypatch.undo()
        assert corpus(idx) in corpora, (step, nth)
        assert decisions(idx, f"kill{i}") in verdicts, (step, nth)
        maintain(idx)
        m, dirs = _index_layout(idx)
        live = {int(d.split("=", 1)[1]) for d in dirs}
        assert m["seed"] in live, (step, nth)
        assert all(b == m["seed"] or b >= m["from"] for b in live), (step, nth)


def test_text_admission_stream_matches_batch(spark, sf_dir, tmp_path) -> None:
    """Round-11: the TEXT admission face — two micro-batches of
    (doc_id, text) admitted incrementally against a growing banded
    SimHash index reproduce the one-shot batch
    ``text_admission_decisions`` verdicts row-for-row, including a
    plant that STRADDLES the boundary (its source admitted in batch 1,
    the near-twin arriving in batch 2, rejected against the index)."""
    import os

    from eventstreamd_spark.operators import dedup as dd
    from eventstreamd_spark.plans import memo
    from eventstreamd_spark.session import load_table
    from eventstreamd_spark.streaming.pipeline import (
        seed_text_index,
        start_text_admission,
    )

    docs = dd.with_planted_near_dups(
        load_table(spark, sf_dir, "documents").filter("doc_id < 40")
    ).localCheckpoint()
    in_corpus = (F.col("doc_id") < dd.PLANT_OFFSET) & (F.col("doc_id") % 2 == 0)
    corpus = docs.filter(in_corpus)
    batch = docs.filter(~in_corpus).localCheckpoint()

    # batch face: the registered query's decisions
    want = {
        (r["doc_id"], r["cluster_id"], r["keep"], r["reason"])
        for r in dd.text_admission_decisions(docs, in_corpus).collect()
    }

    # stream face: corpus keeps seed the index; the batch arrives in
    # two doc_id-split micro-batches (plants straddle: their odd
    # sources land in batch 1, the +100000 plants in batch 2)
    from eventstreamd_spark.operators.perceptual import _sig_clusters

    corpus_sig = dd.simhash_signatures(corpus).localCheckpoint()
    kept = (
        _sig_clusters(
            corpus.select("doc_id"), corpus_sig, dd.HAMMING_MAX, 16,
            dd.TEXT_SIG_KINDS,
        )
        .filter("keep")
        .select("doc_id")
    )
    src = str(tmp_path / "t_src")
    idx, out = str(tmp_path / "t_idx"), str(tmp_path / "t_out")
    ckpt = str(tmp_path / "t_ckpt")
    os.makedirs(src)
    seed_text_index(corpus_sig.join(kept, "doc_id"), idx)

    def run_once():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .format("parquet")
            .load(src)
        )
        q = start_text_admission(stream, idx, out, ckpt)
        q.awaitTermination(180)

    # the streaming rule (plans/memo.py): no micro-batch adds a session
    # memo entry
    n_memo = len(memo._MEMO)
    batch.filter(f"doc_id < {dd.PLANT_OFFSET}").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()
    batch.filter(f"doc_id >= {dd.PLANT_OFFSET}").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()
    assert len(memo._MEMO) == n_memo

    got = {
        (r["doc_id"], r["cluster_id"], r["keep"], r["reason"])
        for r in spark.read.parquet(out).drop("batch_id").collect()
    }
    # the straddling plants decide against the INDEX in the stream but
    # in-batch in the one-shot run — cluster/keep verdicts must agree;
    # reasons may differ ONLY near_dup_batch -> near_dup_index
    want_ck = {(d, c, k) for d, c, k, _ in want}
    got_ck = {(d, c, k) for d, c, k, _ in got}
    assert got_ck == want_ck
    # at least one straddler was decided against the index
    stream_reasons = {d: r for d, _, _, r in got}
    batch_reasons = {d: r for d, _, _, r in want}
    flips = {
        d
        for d in stream_reasons
        if stream_reasons[d] != batch_reasons[d]
    }
    assert all(
        batch_reasons[d] == "near_dup_batch"
        and stream_reasons[d] == "near_dup_index"
        for d in flips
    )
    assert flips, "a plant should straddle the micro-batch boundary"


def test_text_admission_cycle_maintenance(spark, sf_dir, tmp_path) -> None:
    """The lifecycle wrapper works for the TEXT signature family too:
    epoch-count compaction folds committed text-index deltas into the
    seed (kinds threading through compact_media_index), verdicts for a
    post-maintenance batch unchanged vs an unmaintained control."""
    import os

    from eventstreamd_spark.operators import dedup as dd
    from eventstreamd_spark.session import load_table
    from eventstreamd_spark.streaming.pipeline import (
        seed_text_index,
        start_text_admission,
        text_admission_cycle,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        "doc_id < 48"
    ).select("doc_id", "text").localCheckpoint()
    src, csrc = str(tmp_path / "src"), str(tmp_path / "csrc")
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    cidx, cout = str(tmp_path / "cidx"), str(tmp_path / "cout")
    ckpt, cckpt = str(tmp_path / "ckpt"), str(tmp_path / "cckpt")
    os.makedirs(src)
    os.makedirs(csrc)
    empty = spark.createDataFrame([], "doc_id bigint, s_hi bigint, s_lo bigint")
    seed_text_index(empty, idx)
    seed_text_index(empty, cidx)

    def cycle(lo, hi):
        docs.filter(f"doc_id >= {lo} AND doc_id < {hi}").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .format("parquet")
            .load(src)
        )
        return text_admission_cycle(stream, idx, out, ckpt, max_delta_epochs=2)

    def control(lo, hi):
        docs.filter(f"doc_id >= {lo} AND doc_id < {hi}").coalesce(1).write.mode(
            "append"
        ).parquet(csrc)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .format("parquet")
            .load(csrc)
        )
        q = start_text_admission(stream, cidx, cout, cckpt)
        q.awaitTermination(180)

    r1 = cycle(0, 16)
    control(0, 16)
    assert not r1["compacted"]
    r2 = cycle(16, 32)
    control(16, 32)
    assert r2["compacted"] and r2["delta_epochs_after"] == 0
    m, dirs = _index_layout(idx)
    assert dirs == {f"batch_id={m['seed']}"} and m["from"] == 2
    cycle(32, 48)
    control(32, 48)
    got = {
        (r["doc_id"], r["cluster_id"], r["keep"], r["reason"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["doc_id"], r["cluster_id"], r["keep"], r["reason"])
        for r in spark.read.parquet(cout).collect()
    }
    assert got == want


def test_wide_admission_index_matches_standard(spark, sf_dir, tmp_path) -> None:
    """Round-11: the WIDE (32-bit pair-band) admission index layout —
    the layout a 10^9-doc kept corpus runs — produces verdicts
    identical to the 16-bit layout on the planted media corpus (every
    planted twin sits within the wide tier's guaranteed-recall bound),
    and its per-band bucket keys actually span the 32-bit space."""
    import os

    from eventstreamd_spark.streaming.pipeline import (
        _stack_for_index,
        media_admission_writer,
        seed_media_index,
    )
    from eventstreamd_spark.operators.perceptual import perceptual_hashes

    media = _scene_media_subset(spark, sf_dir, 32).localCheckpoint()
    outs = {}
    for wide in (False, True):
        idx = str(tmp_path / f"idx_{wide}")
        out = str(tmp_path / f"out_{wide}")
        seed_media_index(
            perceptual_hashes(media.filter("doc_id < 8")), idx, wide=wide
        )
        w = media_admission_writer(idx, out, wide=wide)
        w(media.filter("doc_id >= 8 AND doc_id < 20"), 0)
        w(media.filter("doc_id >= 20"), 1)
        outs[wide] = {
            (r["doc_id"], r["cluster_id"], r["keep"], r["reason"])
            for r in spark.read.parquet(out).collect()
        }
    assert outs[True] == outs[False]
    # layout sanity: 28 pair bands, 32-bit keys
    sig = perceptual_hashes(media.filter("doc_id < 4"))
    stacked = _stack_for_index(sig, wide=True)
    rows = stacked.collect()
    assert len({r["band"] for r in rows}) == 28
    assert all(0 <= r["bhash"] < 1 << 32 for r in rows)
    assert all(0 <= r["bp"] < 256 for r in rows)
    assert any(r["bhash"] >= 1 << 16 for r in rows)


def test_text_admission_stream_matches_batch_wide(
    spark, sf_dir, tmp_path
) -> None:
    """Round-12: the TEXT admission stream with the WIDE (32-bit
    pair-band) index layout reproduces the batch wide face
    (``text_admission_decisions(wide=True)``) — the remaining cell of
    the {media,text} x {narrow,wide} x {batch,stream} parity matrix.
    Same cluster/keep agreement contract as the narrow test (a
    straddling plant may flip near_dup_batch -> near_dup_index)."""
    import os

    from eventstreamd_spark.operators import dedup as dd
    from eventstreamd_spark.operators.perceptual import _sig_clusters
    from eventstreamd_spark.session import load_table
    from eventstreamd_spark.streaming.pipeline import (
        seed_text_index,
        start_text_admission,
    )

    docs = dd.with_planted_near_dups(
        load_table(spark, sf_dir, "documents").filter("doc_id < 40")
    ).localCheckpoint()
    in_corpus = (F.col("doc_id") < dd.PLANT_OFFSET) & (F.col("doc_id") % 2 == 0)
    corpus = docs.filter(in_corpus)
    batch = docs.filter(~in_corpus).localCheckpoint()

    want = {
        (r["doc_id"], r["cluster_id"], r["keep"])
        for r in dd.text_admission_decisions(
            docs, in_corpus, wide=True
        ).collect()
    }

    corpus_sig = dd.simhash_signatures(corpus).localCheckpoint()
    kept = (
        _sig_clusters(
            corpus.select("doc_id"), corpus_sig, dd.HAMMING_MAX, 16,
            dd.TEXT_SIG_KINDS, wide=True,
        )
        .filter("keep")
        .select("doc_id")
    )
    src = str(tmp_path / "tw_src")
    idx, out = str(tmp_path / "tw_idx"), str(tmp_path / "tw_out")
    ckpt = str(tmp_path / "tw_ckpt")
    os.makedirs(src)
    seed_text_index(corpus_sig.join(kept, "doc_id"), idx, wide=True)

    def run_once():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .format("parquet")
            .load(src)
        )
        q = start_text_admission(stream, idx, out, ckpt, wide=True)
        q.awaitTermination(180)

    batch.filter(f"doc_id < {dd.PLANT_OFFSET}").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()
    batch.filter(f"doc_id >= {dd.PLANT_OFFSET}").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()

    got = {
        (r["doc_id"], r["cluster_id"], r["keep"])
        for r in spark.read.parquet(out).drop("batch_id", "reason").collect()
    }
    assert got == want
    # layout sanity: the text wide index uses the 6 pair bands
    from eventstreamd_spark.streaming.pipeline import _stack_for_index

    rows = _stack_for_index(
        corpus_sig.limit(4), dd.TEXT_SIG_KINDS, wide=True
    ).collect()
    assert len({r["band"] for r in rows}) == 6
    assert all(0 <= r["bhash"] < 1 << 32 for r in rows)
