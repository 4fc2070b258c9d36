"""The reference daemon's hot path as a Structured Streaming program.

EP1/EP2 (SURVEY.md §3) become:

    jsonlines source -> validate_envelope -> foreachBatch sink
      (ListenerRegistry.push_batch: listener_frames = deliveries +
      sse_frame over the live subscriptions, one job per micro-batch)

The SAME operator functions as batch mode — ``validate_envelope``,
``compile_filters``, ``sse_frame`` are DataFrame->DataFrame/Column
combinators, so the streaming skin is just ``readStream`` + a sink.
That is the §7 design stance: batch-first core, streaming-identical
expressions.

Delivery semantics (documented difference from the reference): the
reference is at-most-once (no listener => drop, mid-write disconnect =>
drop, the reference's dispatcher.py:93-95, listener.py:66-68).
Here every row carries the spool's ``(file, pos)`` order key from
source to socket (``jsonlines.SCHEMA``), and a connection resumes
strictly after a cursor in that order: a Last-Event-ID reconnect is
replayed from the spool up to a cursor, and its live queue skips every
frame at or below it, so no event is sent twice across a reconnect
(the id the reference emits but never reads — events.py:30-31).
Into the sink, Spark's checkpoint gives at-least-once, and a
micro-batch reaches it twice only across a daemon restart (the
uncommitted one runs again); ``dedup_by_id``
(``dropDuplicatesWithinWatermark`` on the envelope ``id``) makes a sink
effectively-once.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from eventstreamd_spark.durable import atomic_write
from eventstreamd_spark.functions.sse import sse_frame
from eventstreamd_spark.operators.envelope import validate_envelope
from eventstreamd_spark.operators.routing import Listener, deliveries
from eventstreamd_spark.sources import jsonlines


def read_event_stream(
    spark: SparkSession, spool_dir: str, max_files_per_batch: int = 0
) -> DataFrame:
    """Unbounded raw-line DataFrame from the spool directory.

    ``max_files_per_batch`` > 0 bounds per-trigger admission
    (backpressure; see sources/jsonlines.py) — the knob the reference's
    unbounded write buffer lacks."""
    jsonlines.register(spark)
    reader = spark.readStream.format("jsonlines").option("path", spool_dir)
    if max_files_per_batch:
        reader = reader.option("maxFilesPerBatch", str(max_files_per_batch))
    return reader.load()


def listener_frames(env: DataFrame, listeners: list[Listener]) -> DataFrame:
    """Validated envelopes with their spool key -> one SSE frame per
    (event, matched listener).

    Output: (listener, file, pos, frame).  The one subscription
    matcher of the daemon: the live sink (``ListenerRegistry.push_batch``)
    and Last-Event-ID replay both route through ``deliveries`` here.
    All narrow — one stage per micro-batch, no shuffle.
    """
    fanned = deliveries(env, listeners, subsystem_col="subsystem", payload_col="data")
    frame = sse_frame(F.col("event_type"), F.col("data"), F.col("id"))
    return fanned.select("listener", "file", "pos", frame.alias("frame"))


def make_replay_fn(spark: SparkSession, spool_dir: str):
    """Last-Event-ID reconnect replay — the SSE feature the reference
    advertises but never implements (ids are emitted, events.py:30-31,
    yet no handler reads the Last-Event-ID header; reconnecting clients
    silently lose the gap).  The spool makes it possible here: ingest
    is a durable ordered log, so "everything after id X" is a batch
    query over it.

    Returns ``replay(subsystem, filters, last_id) -> (cursor, frames)``:
    ``frames`` are the events strictly after the LAST validated
    occurrence of ``last_id`` (the marker), in spool order, matching the
    subscription — routed through the live sink's ``listener_frames``
    with one listener, so replayed and live delivery semantics are
    identical by construction.  Unknown id => full-spool replay, the SSE
    contract for an expired id.

    One Spark job: the listener's matches ``unionByName`` the validated
    rows holding ``last_id`` (no frame), collected together; the driver
    cuts at the last marker and sorts the gap by ``(file, pos)`` (it
    lands there anyway, so no global sort runs).  ``cursor`` is the
    larger of the marker's key and the last replayed key (None when
    there is neither): every event the subscription matches up to it
    has been sent or precedes ``last_id``, so the connection's live
    frames resume strictly after it.
    """

    def replay(
        subsystem: str, filters: tuple[str, ...], last_id: str
    ) -> tuple[jsonlines.SpoolKey | None, list[str]]:
        env = validate_envelope(
            jsonlines.read_spool(spark, spool_dir), passthrough=("file", "pos")
        )
        matched = listener_frames(env, [Listener("0", subsystem, filters)])
        markers = env.filter(F.col("id") == last_id).select("file", "pos")
        rows = matched.unionByName(markers, allowMissingColumns=True).collect()
        keyed = [((r["file"], r["pos"]), r["frame"]) for r in rows]
        marker = max((key for key, frame in keyed if frame is None), default=None)
        gap = sorted(
            (key, frame)
            for key, frame in keyed
            if frame is not None and (marker is None or key > marker)
        )
        return (gap[-1][0] if gap else marker), [frame for _, frame in gap]

    return replay


def dedup_by_id(env: DataFrame, ts_col: str = "ingest_ts", horizon: str = "10 minutes") -> DataFrame:
    """Effectively-once: drop redelivered envelope ids within the
    watermark horizon (state is bounded by the watermark — at 100 TB/day
    this is the only sane exactly-once-ish dedup)."""
    with_ts = env.withColumn(ts_col, F.current_timestamp())
    return with_ts.withWatermark(ts_col, horizon).dropDuplicatesWithinWatermark(["id"])


def start_envelope_pipeline(
    spark: SparkSession,
    spool_dir: str,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Daemon mode: stream validated envelopes, each with its spool
    ``(file, pos)`` key, into a sink callback that handles *dynamic*
    subscriptions (ListenerRegistry.push_batch routes each micro-batch
    through ``listener_frames`` over the subscriptions live at that
    moment)."""
    env = validate_envelope(
        read_event_stream(spark, spool_dir), passthrough=("file", "pos")
    )
    writer = (
        env.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def streaming_tumbling_counts(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time tumbling window with watermarked late-data handling —
    the streaming twin of operators/windows.tumbling_counts (F.window
    variant; watermark bounds state)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("bucket"),
            "event_type",
            "n_events",
        )
    )


def streaming_sliding_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time SLIDING windows under a real watermark — the
    streaming twin of operators/windows.sliding_counts.  F.window with
    a slide assigns each event to width/slide overlapping windows
    (state per open window, expired by the watermark); append mode
    emits a window exactly once, when the watermark passes its end —
    so every emitted row is final and exactly comparable to the batch
    computation of the same bucket."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def streaming_session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "60 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Native session windows (gap-based), watermark-bounded state —
    streaming twin of operators/windows.sessionize."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "10 minutes",
    watermark: str = "20 minutes",
) -> DataFrame:
    """Stream-stream inner interval join: right rows within ``within``
    AFTER the left row, same key.

    Both sides carry watermarks and the join condition bounds the time
    difference in both directions — that pair of constraints is what
    lets Spark expire buffered state (unbounded joins would hold every
    row forever; at 100 TB/day the state bound IS the operator).
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {within}")
        )
    )
    return l.join(r, cond, "inner")


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str,
    how: str = "left_outer",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the unbounded
    side joins against a bounded dimension snapshot.

    This is stateless on the stream side — no watermark needed, nothing
    buffered between batches — and the static side is explicitly
    broadcast, so every executor holds the dimension once and each
    micro-batch is a map-only broadcast hash join (zero shuffle on the
    stream).  The canonical 100 TB/day pattern: enriching an event
    firehose with user/account attributes without touching the stream's
    partitioning.  The static side is re-resolved per batch for file
    sources, so a refreshed dimension snapshot is picked up on the next
    trigger.
    """
    return stream.join(
        F.broadcast(dim), F.col(stream_key) == F.col(dim_key), how
    )


def idempotent_parquet_writer(path: str):
    """foreachBatch writer with replay-safe (effectively-once) output.

    Spark's checkpoint gives at-least-once foreachBatch invocation: after
    a crash the same epoch can run again.  Writing each micro-batch to a
    batch-id-keyed directory with mode=overwrite makes the replay land on
    the same files instead of appending duplicates — checkpoint
    (at-least-once) + idempotent write = exactly-once table contents.
    This is the delivery upgrade over the reference's at-most-once fan
    -out (dispatcher.py:93-95 drops events with no live listener).

    Readers see the result as a normal partitioned dataset
    (``spark.read.parquet(path)`` with a ``batch_id`` partition column).
    """

    def write_batch(batch_df, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")

    return write_batch


def start_exactly_once_sink(df: DataFrame, path: str, checkpoint: str):
    """Wire a streaming DataFrame to the idempotent parquet sink."""
    return (
        df.writeStream.foreachBatch(idempotent_parquet_writer(path))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_incremental_dedup(
    stream_docs: DataFrame, corpus: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Streaming incremental-ingest dedup: admit an unbounded stream of
    new documents against a bounded kept-corpus snapshot — the
    streaming twin of operators/dedup.py::incremental_dedup_decisions'
    exact tier.

    Plan: hash the stream side per micro-batch (narrow), LEFT ANTI join
    against the broadcast corpus content-hash index — stateless on the
    stream (no watermark, nothing buffered), zero shuffle per batch.
    The static side re-resolves per trigger for file sources, so a
    corpus refreshed by a nightly batch dedup is picked up on the next
    micro-batch.  At 100 TB the corpus index exceeds one broadcast;
    the same plan then runs as a shuffled stream-static join on the
    fixed-width sha256 key, or the index is bucketed to keep it
    co-located — either way the stream stays append-only.
    """
    index = F.broadcast(
        corpus.select(F.sha2(F.col(text_col), 256).alias("h")).distinct()
    )
    hashed = stream_docs.withColumn("h", F.sha2(F.col(text_col), 256))
    return hashed.join(index, "h", "left_anti").drop("h")


def stream_quality_gate(stream_docs: DataFrame) -> DataFrame:
    """Streaming curation admission: score each micro-batch with the
    frozen linear quality classifier (operators/textops.py::
    classifier_quality_scores — identical formula, so batch and stream
    verdicts agree doc-for-doc) and keep only logit >= 0.

    Stateless and NARROW per batch — the classifier is one projection
    (the text column rides through the same pass; a join back to the
    stream would be a watermark-requiring stream-stream join), so the
    gate adds zero state, zero shuffle, and zero watermark to any
    ingest pipeline it composes with (admission runs at socket speed;
    the same column expressions whole-stage-compile in both batch and
    micro-batch plans).
    """
    from eventstreamd_spark.operators.textops import _clf_logit_frame

    scored = _clf_logit_frame(stream_docs, extra_cols=("text",))
    return scored.filter(F.col("logit") >= 0).select(
        "doc_id", "text", "logit"
    )


def drift_vs_reference(batch: DataFrame, reference: DataFrame) -> DataFrame:
    """Per-batch data-drift report: each event type's unit-value
    histogram in ``batch`` against the STATIC ``reference`` corpus via
    total-variation distance — the batch kernel behind
    start_drift_monitor (same log-free TVD as
    operators/statistics.py::event_value_drift: integer numerators,
    one IEEE division).

    Reference-only bins never materialize as rows: their |p - 0| mass
    has the closed form (n_ref - joint c_ref) / n_ref, so a LEFT join
    from the batch side suffices (this is also what keeps the
    streaming wrapper legal — stream-static FULL OUTER is unsupported).
    """
    ref_bins = (
        reference.select(
            "event_type",
            F.floor(F.col("value")).cast("bigint").alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("c_ref"))
    )
    ref_tot = ref_bins.groupBy("event_type").agg(
        F.sum("c_ref").alias("n_ref")
    )
    batch_bins = (
        batch.select(
            "event_type",
            F.floor(F.col("value")).cast("bigint").alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("c_batch"))
    )
    # LEFT join on the totals too: an event type present in the batch
    # with ZERO reference rows is the strongest possible drift signal
    # and must surface as tvd = 1.0, not silently vanish (an inner
    # join here dropped novel types entirely).
    joined = (
        batch_bins.join(F.broadcast(ref_bins), ["event_type", "bin"], "left")
        .na.fill({"c_ref": 0})
        .join(F.broadcast(ref_tot), "event_type", "left")
        .na.fill({"n_ref": 0})
    )
    agg = joined.groupBy("event_type", "n_ref").agg(
        F.sum("c_batch").alias("n_batch"),
        F.sum("c_ref").alias("ref_joint"),
        F.collect_list(F.struct("c_ref", "c_batch")).alias("__bins"),
    )
    # the cross-multiplied numerator needs n_batch, which exists only
    # after the sum: fold the collected per-bin counts (bounded by the
    # unit-bin cardinality per type — tiny) instead of a second pass
    num_joint = F.aggregate(
        F.col("__bins"),
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.abs(
            s["c_ref"] * F.col("n_batch") - s["c_batch"] * F.col("n_ref")
        ),
    )
    num = num_joint + (F.col("n_ref") - F.col("ref_joint")) * F.col("n_batch")
    return agg.select(
        "event_type",
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_batch").cast("bigint").alias("n_batch"),
        F.when(
            (F.col("n_ref") > 0) & (F.col("n_batch") > 0),
            num.cast("double")
            / (2.0 * F.col("n_ref").cast("double") * F.col("n_batch").cast("double")),
        )
        .when(
            # novel event type: all batch mass sits on bins the
            # reference gives probability 0 — TVD is exactly 1
            (F.col("n_ref") == 0) & (F.col("n_batch") > 0),
            F.lit(1.0),
        )
        .alias("tvd"),
    )


def start_drift_monitor(
    stream_events: DataFrame,
    reference: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming drift admission: per micro-batch, run the BATCH drift
    kernel inside foreachBatch (two chained aggregations are a batch
    plan there — no streaming-stateful watermark entanglement) and
    hand the per-type report to ``sink(report_df, epoch_id)`` — e.g. a
    threshold gate that quarantines a drifting source before it
    trains.  Stateless across triggers; the reference aggregates per
    trigger (broadcastable; cache it for hot paths).
    """

    def _per_batch(batch: DataFrame, epoch: int) -> None:
        sink(drift_vs_reference(batch, reference), epoch)

    return (
        stream_events.writeStream.outputMode("append")
        .foreachBatch(_per_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _from_json(x):
    return tuple(x) if isinstance(x, list) else x


def fold_monitor(
    stream: DataFrame,
    checkpoint_dir: str,
    name: str,
    fold: Callable[[dict, DataFrame], dict],
    emit: Callable[[dict, dict, int], None],
) -> StreamingQuery:
    """Run a monitor as one epoch-fenced state fold per micro-batch.

    The state is a dict whose keys and values are JSON scalars or
    tuples of them, persisted beside the streaming checkpoint at
    ``<checkpoint_dir>/<name>`` as ``{"last_epoch", "state"}`` with the
    state as ``[[k, v], ...]`` (lists read back as tuples).  Each
    micro-batch:

    1. an epoch ``<= last_epoch`` is skipped: Spark replays the last
       uncommitted epoch on restart, and it is already in the state;
    2. ``merged = fold(state, batch)`` builds a NEW dict (``state`` is
       never mutated);
    3. ``emit(state, merged, epoch)`` hands the result to the sink;
    4. only then are state and epoch published together by one
       ``atomic_write``, and the in-memory fence advances.

    So the sink is at-least-once (a sink failure fails the batch before
    anything persists, and the replay re-emits it) and the state is
    exactly-once (an epoch folds in at most once, whatever the merge)
    — the transactional-sink use of foreachBatch's replayed epoch id.
    A state file in any other shape raises ``ValueError`` naming it,
    rather than restarting the monitor from empty state.
    """
    path = os.path.join(checkpoint_dir, name)
    last_epoch, state = -1, {}
    if os.path.exists(path):
        with open(path) as f:
            saved = json.load(f)
        if not isinstance(saved, dict) or set(saved) != {"last_epoch", "state"}:
            raise ValueError(
                f"{path}: not a monitor state file (want last_epoch and state)"
            )
        last_epoch = saved["last_epoch"]
        state = {_from_json(k): _from_json(v) for k, v in saved["state"]}

    def _per_batch(batch: DataFrame, epoch: int) -> None:
        nonlocal last_epoch, state
        if epoch <= last_epoch:
            return
        merged = fold(state, batch)
        emit(state, merged, epoch)
        atomic_write(
            path,
            json.dumps(
                {"last_epoch": epoch, "state": [[k, v] for k, v in merged.items()]}
            ),
        )
        last_epoch, state = epoch, merged

    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(_per_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _add(state: dict, batch: dict) -> dict:
    merged = dict(state)
    for k, n in batch.items():
        merged[k] = merged.get(k, 0) + n
    return merged


def start_hll_distinct_monitor(
    stream_events: DataFrame,
    sink: Callable[[dict, float, int], None],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming running-distinct monitor with O(m) state: per micro-
    batch, build the batch's HLL register table (a tiny groupBy — the
    only distributed work), merge it into the accumulated registers by
    element-wise max, and hand ``sink(registers, estimate, epoch)`` the
    running state.

    This is the streaming face of operators/sketches.py: cardinality
    state that NEVER grows with the stream (64 integers, vs a
    dropDuplicates watermark state that holds every key in the
    horizon).  State persists and is fenced by ``fold_monitor``, so a
    restart continues the running count instead of resetting to the
    post-restart slice.
    """
    from eventstreamd_spark.operators import sketches as sk

    def fold(state: dict, batch: DataFrame) -> dict:
        regs = sk.hll_registers(batch, F.col("event_id").cast("string")).collect()
        return sk.hll_merge_registers(state, {r["bucket"]: r["m_rho"] for r in regs})

    def emit(prev: dict, regs: dict, epoch: int) -> None:
        sink(dict(regs), sk.hll_estimate_from_registers(regs), epoch)

    return fold_monitor(stream_events, checkpoint_dir, "hll_registers.json", fold, emit)


def start_cms_topk_monitor(
    stream_events: DataFrame,
    sink: Callable[[dict, int], None],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming heavy-hitter monitor with O(d·w) state: per micro-
    batch, build the batch's count-min cells (one tiny groupBy) and
    ADD them into the accumulated sketch; ``sink(cells, epoch)``
    receives the running state (estimate any key via
    ``sketches.cms_estimate_from_cells``).  Cell-sum merge is NOT
    idempotent; ``fold_monitor``'s epoch fence is what keeps a
    replayed epoch from double-counting.
    """
    from eventstreamd_spark.operators import sketches as sk

    def fold(state: dict, batch: DataFrame) -> dict:
        cells = sk.cms_cells(batch, F.col("user_id").cast("string")).collect()
        return _add(state, {(r["i"], r["col"]): r["cell_count"] for r in cells})

    def emit(prev: dict, cells: dict, epoch: int) -> None:
        sink(dict(cells), epoch)

    return fold_monitor(stream_events, checkpoint_dir, "cms_cells.json", fold, emit)


def start_quantile_monitor(
    stream_lineitem: DataFrame,
    sink: Callable[[dict, dict, int], None],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming percentile monitor with KB state: per micro-batch,
    build the batch's log-bucket register table (the only distributed
    work — ``sketches.logbucket_registers``) and ADD it into the
    persisted per-bucket counts; ``sink(registers, quantiles, epoch)``
    receives the running state plus nearest-rank envelope quantiles
    computed with the SAME ``ceil(frac*n)`` + key-ordered cumulative
    walk as the registered batch twin (``sketches.logbucket_quantiles``
    — parity asserted exactly in tests/test_streaming.py, so the
    driver's oracle on the twin transitively pins this monitor).

    Count merge is additive, so it relies on ``fold_monitor``'s epoch
    fence.  State is at most 64 x 2^(QSK_M+1) buckets — independent
    of stream volume — and stays mergeable, so the same state serves
    any later group rollup or cross-shard union.
    """
    import math

    from eventstreamd_spark.operators import sketches as sk

    def fold(state: dict, batch: DataFrame) -> dict:
        merged = dict(state)
        for r in sk.logbucket_registers(batch).collect():
            lb, ub, c = merged.get(r["bucket"], (r["lb"], r["ub"], 0))
            merged[r["bucket"]] = (lb, ub, c + r["c"])
        return merged

    def emit(prev: dict, counts: dict, epoch: int) -> None:
        n = sum(c for _, _, c in counts.values())
        quantiles: dict = {}
        for frac in sk.QSK_FRACS:
            rk = math.ceil(frac * n)  # same IEEE product as the twin
            cum = 0
            for b in sorted(counts):
                lb, ub, c = counts[b]
                cum += c
                if cum >= rk:
                    quantiles[frac] = {
                        "rank": rk,
                        "bucket": b,
                        "lb_cents": lb,
                        "ub_cents": ub,
                        "est_price": lb / 100.0,
                    }
                    break
        sink(dict(counts), quantiles, epoch)

    return fold_monitor(
        stream_lineitem, checkpoint_dir, "quantile_registers.json", fold, emit
    )


def start_payload_schema_monitor(
    stream_events: DataFrame,
    sink: Callable[[list, list, dict, int], None],
    checkpoint_dir: str,
    payload_col: str = "props",
) -> StreamingQuery:
    """Streaming schema-drift monitor over a dynamic JSON payload
    column: per micro-batch, aggregate (key, inferred-type) counts
    with the SAME regex ladder as the batch profiler
    (operators/envelope.py::payload_schema_profile), ADD them into
    persisted per-(key, type) counters, and call
    ``sink(novel_keys, novel_types, counters, epoch)`` — novel_keys
    lists payload keys never seen before this batch, novel_types
    lists (key, type) pairs where a KNOWN key shows a NEW value type
    (the "producer changed their schema" page before someone's filter
    silently stops matching, SURVEY.md §1.2).

    State is O(|schema|) — keys x types, independent of stream length.
    ``fold_monitor`` calls the sink before it persists, so a failed
    page is raised again on replay, and folds each epoch's counts once.
    """
    from eventstreamd_spark.operators.envelope import _value_type

    def fold(state: dict, batch: DataFrame) -> dict:
        kv = batch.select(
            F.explode(
                F.from_json(F.col(payload_col), "map<string,string>")
            ).alias("key", "val")
        )
        counts = (
            kv.select("key", _value_type(F.col("val")).alias("ty"))
            .groupBy("key", "ty")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        return _add(state, {(r["key"], r["ty"]): r["n"] for r in counts})

    def emit(prev: dict, merged: dict, epoch: int) -> None:
        known_keys = {k for k, _ in prev}
        novel_keys = sorted({k for k, _ in merged} - known_keys)
        novel_types = sorted(
            kt for kt in merged if kt[0] in known_keys and kt not in prev
        )
        sink(novel_keys, novel_types, dict(merged), epoch)

    return fold_monitor(
        stream_events, checkpoint_dir, "payload_schema.json", fold, emit
    )


def start_rolling_wau_monitor(
    stream_events: DataFrame,
    sink: Callable[[dict, dict, int], None],
    checkpoint_dir: str,
    window_days: int = 7,
) -> StreamingQuery:
    """Streaming trailing-window distinct-actives monitor: per micro-
    batch, build the batch's PER-DAY HLL register table (the tiny
    (day, bucket) groupBy from sketches.day_hll_registers — the only
    distributed work) and max-merge it into day-keyed accumulated
    registers; hand ``sink(day_registers, wau_estimates, epoch)`` the
    running state plus, per day seen so far, the trailing-
    ``window_days`` merged estimate.

    State is |days| x m integers, held flat as (day, bucket) -> rho —
    it grows with CALENDAR TIME, never with stream volume — and every
    per-day register set stays mergeable, so the same state serves
    daily/weekly/monthly windows (re-merge, never re-scan).  The
    estimates use the identical fixed-order arithmetic as the batch
    twin (sketches.rolling_wau_hll) — parity is asserted exactly, not
    approximately, in tests/test_streaming.py.
    """
    import datetime

    from eventstreamd_spark.operators import sketches as sk

    def fold(state: dict, batch: DataFrame) -> dict:
        regs = sk.day_hll_registers(batch).collect()
        return sk.hll_merge_registers(
            state, {(r["d"].isoformat(), r["bucket"]): r["m_rho"] for r in regs}
        )

    def emit(prev: dict, state: dict, epoch: int) -> None:
        days: dict[str, dict[int, int]] = {}
        for (d, bucket), rho in state.items():
            days.setdefault(d, {})[bucket] = rho
        order = sorted(days)
        ests: dict[str, float] = {}
        for d in order:
            end = datetime.date.fromisoformat(d)
            start = end - datetime.timedelta(days=window_days - 1)
            merged: dict[int, int] = {}
            for o in order:
                if start <= datetime.date.fromisoformat(o) <= end:
                    merged = sk.hll_merge_registers(merged, days[o])
            ests[d] = sk.hll_estimate_from_registers(merged)
        sink(days, ests, epoch)

    return fold_monitor(stream_events, checkpoint_dir, "wau_registers.json", fold, emit)


# ---------------------------------------------------------------------------
# Incremental perceptual media admission (round-9, VERDICT ask #7)
# ---------------------------------------------------------------------------


# Band-partitioned admission-index layout (round-10, VERDICT ask #3 —
# the persisted-IVF idiom of similarity.py applied to the perceptual
# index): the kept corpus's signatures are stored BAND-STACKED and
# partitionBy(band, bp), bp = bhash >> 8 (256 bucket-prefix dirs per
# band, 2048 leaf dirs max).  A micro-batch of B docs touches at most
# 8B (band, bucket) pairs, so each trigger's probe read prunes to the
# batch's (band, bp) rectangle instead of scanning the whole index —
# at a 100 TB corpus the per-trigger scan was the one full-index cost
# left in the admission path (SCALE.md §19).  Raising BP_BITS narrows
# the rectangle further at the cost of more (smaller) files; 8 is the
# local-scale sweet spot.
BP_BITS = 8

def _index_kinds(kinds):
    from eventstreamd_spark.operators.perceptual import _KINDS

    return _KINDS if kinds is None else kinds


def _index_schema(kinds=None) -> str:
    """The explicit read schema for a ``kinds`` signature family
    (halves vary; band/bp/batch_id are directory-derived).  Explicit
    because a cold-start seed has ZERO data files (a partitionBy write
    of an empty frame emits only _SUCCESS), and schema inference over
    an empty directory throws."""
    from eventstreamd_spark.operators.perceptual import _halves_of

    halves = ", ".join(f"{h} bigint" for h in _halves_of(_index_kinds(kinds)))
    return f"doc_id bigint, {halves}, bhash bigint, band string, bp int, batch_id int"


def _stack_for_index(sig: DataFrame, kinds=None, wide: bool = False) -> DataFrame:
    """Band-stack a signature relation and attach the bucket-prefix
    partition column.  ``wide`` stacks 32-bit PAIR bands instead of
    16-bit single bands — the index layout for kept corpora past
    ~10^7 docs, where single-band buckets' n^2/2^16 random collisions
    would dominate every per-trigger probe (SCALE.md §21); the bp
    prefix always takes the TOP BP_BITS of the bucket key so the
    directory fan-out stays 2^BP_BITS per band either way."""
    from eventstreamd_spark.operators.perceptual import band_stack

    width = 32 if wide else 16
    return band_stack(sig, _index_kinds(kinds), wide).withColumn(
        "bp", F.shiftright(F.col("bhash"), width - BP_BITS).cast("int")
    )


def _write_epoch(
    sig: DataFrame, index_dir: str, batch_id: int, kinds=None, wide: bool = False
) -> None:
    """Write a signature relation as the index partition
    ``batch_id=<batch_id>`` (band-stacked, partitionBy(band, bp)).
    mode=overwrite, so rewriting an epoch is idempotent."""
    from eventstreamd_spark.operators.perceptual import _halves_of

    halves = _halves_of(_index_kinds(kinds))
    _stack_for_index(sig.select("doc_id", *halves), kinds, wide).write.partitionBy(
        "band", "bp"
    ).mode("overwrite").parquet(f"{index_dir}/batch_id={batch_id}")


# The admission index's manifest, published by ``atomic_write``:
# {"seed": <batch_id of the seed generation> | null, "from": <lowest
# live delta epoch>}.  Readers trust it, not the directory listing (the
# metadata-log idea of Structured Streaming's file sink).  The name
# must start with "_": Spark's file listing skips such files, and a
# plain MANIFEST would be read as a data file.
_MANIFEST = "_MANIFEST"


def _read_manifest(index_dir: str) -> dict:
    """The index's manifest.  A missing file, or one of another shape,
    raises ``ValueError`` naming it: no reader falls back to listing."""
    path = os.path.join(index_dir, _MANIFEST)
    try:
        with open(path) as f:
            manifest = json.load(f)
    except FileNotFoundError:
        manifest = None
    if not isinstance(manifest, dict) or set(manifest) != {"seed", "from"}:
        raise ValueError(f"{path}: no admission-index manifest (seed and from)")
    return manifest


def _publish_manifest(index_dir: str, seed: int | None, lo: int) -> None:
    atomic_write(
        os.path.join(index_dir, _MANIFEST), json.dumps({"seed": seed, "from": lo})
    )


def _live(manifest: dict, batch_id, upto: int | None = None):
    """The one rule for which index epochs are live: the seed
    generation, plus every delta from ``manifest["from"]`` up to (not
    including) ``upto``.  ``batch_id`` is an int, or the partition
    column, where the rule prunes the read at planning time."""
    live = batch_id >= manifest["from"]
    if upto is not None:
        live = live & (batch_id < upto)
    seed = manifest["seed"]
    return live if seed is None else (batch_id == seed) | live


def _sweep(index_dir: str) -> tuple[dict, list[int]]:
    """Delete every ``batch_id=`` directory the manifest excludes: what
    a maintenance step left behind, whether it finished or was killed.
    Returns the manifest and the live delta epochs."""
    manifest = _read_manifest(index_dir)
    names = [e for e in os.listdir(index_dir) if e.startswith("batch_id=")]
    epochs = sorted(int(e.split("=", 1)[1]) for e in names)
    for b in epochs:
        if not _live(manifest, b):
            shutil.rmtree(f"{index_dir}/batch_id={b}")
    return manifest, [b for b in epochs if _live(manifest, b) and b != manifest["seed"]]


# below this many probe keys, prune PAIR-EXACT (an OR of (band, bp)
# conjunctions) instead of the rectangle superset — a small trigger's
# predicate stays tiny and reads strictly fewer directories
_EXACT_PRUNE_MAX_KEYS = 256


def _pruned_index_read(
    spark, index_dir: str, batch_id: int, keys: list, kinds=None
) -> DataFrame:
    """The per-trigger index read: the manifest's live epochs below
    ``batch_id`` only, directory-pruned to the probe's (band, bp)
    buckets.  Small key sets prune
    PAIR-EXACT (OR of conjunctions); larger ones fall back to the
    band-isin x bp-isin rectangle (a superset — correctness comes from
    the exact (band, bhash) equi-join downstream).  All predicates sit
    on partition columns, so they prune at planning time (the
    PartitionFilters assertion in tests/test_streaming.py)."""
    if len(keys) <= _EXACT_PRUNE_MAX_KEYS:
        cond = F.lit(False)
        for band, bp in keys:
            cond = cond | (
                (F.col("band") == F.lit(band)) & (F.col("bp") == F.lit(bp))
            )
    else:
        cond = F.col("band").isin(
            sorted({b for b, _ in keys})
        ) & F.col("bp").isin(sorted({p for _, p in keys}))
    manifest = _read_manifest(index_dir)
    return (
        spark.read.schema(_index_schema(kinds))
        .parquet(index_dir)
        .filter(_live(manifest, F.col("batch_id"), batch_id))
        .filter(cond)
        .drop("bp", "batch_id")
    )


def seed_media_index(
    sig: DataFrame, index_dir: str, kinds=None, wide: bool = False
) -> None:
    """Write the kept corpus's perceptual signatures as the admission
    index seed (``batch_id=-1`` partition) in the band-partitioned
    layout.  ``sig`` is a (doc_id, a_hi, a_lo, d_hi, d_lo) relation —
    typically ``perceptual_hashes(media)`` filtered to the ``keep``
    rows of the batch ``media_near_dup_clusters`` decision.  An EMPTY
    seed (cold start: admit everything, the corpus grows from the
    stream) writes no data files; the per-batch read supplies
    ``_index_schema`` explicitly so it never hits inference.  Then
    the manifest is published: seed ``-1``, live deltas from epoch 0."""
    _write_epoch(sig, index_dir, -1, kinds, wide)
    _publish_manifest(index_dir, -1, 0)


def media_admission_writer(
    index_dir: str,
    out_dir: str,
    hamming_max: int | None = None,
    sig_fn: Callable[[DataFrame], DataFrame] | None = None,
    max_bucket: int | None = None,
    kinds=None,
    wide: bool = False,
):
    """foreachBatch kernel for incremental perceptual media admission:
    each micro-batch of (doc_id, blob) is hashed ONCE in the Arrow
    kernel, rejected against the kept corpus's banded perceptual index,
    near-dup-clustered WITHIN the batch, and the surviving canonicals
    are appended to the index — the perceptual twin of
    ``stream_incremental_dedup``, with the candidate tier of
    ``operators/perceptual.py`` instead of an exact content hash.

    Per-batch plan (all O(|batch|), never O(|index|^2)):
      1. ``perceptual_hashes`` on the batch blobs (one decode per blob,
         localCheckpoint'ed so the index join, the self-pair tier and
         the index append never re-run the kernel through lineage);
      2. ``banded_matches_against`` the CURRENT index — the
         manifest's seed plus its live deltas of strictly earlier
         batches (``_live`` below N: under foreachBatch replay the
         same epoch re-reads the same index state, so the decision is
         deterministic); the read is
         partition-PRUNED to the micro-batch's (band, bp) buckets
         (band-partitioned layout, BP_BITS above) and the batch side
         is broadcast, so the per-trigger cost tracks the batch, not
         the corpus;
      3. survivors run the batch cluster tier (banded self-pairs ->
         large-star/small-star components, min-doc_id canonical) —
         the same composition as ``media_near_dup_clusters``;
      4. decisions land in ``out_dir/batch_id=N``, kept-canonical
         signatures in ``index_dir/batch_id=N`` — both mode=overwrite,
         so checkpoint (at-least-once) + idempotent writes =
         exactly-once admission AND exactly-once index growth.

    Decision schema: (doc_id, cluster_id, keep, reason) with reason in
    {'kept', 'near_dup_batch', 'near_dup_index'}; for index rejections
    ``cluster_id`` is the minimal matching kept canonical, so a stream
    fed in canonical-first order reproduces the batch
    ``media_near_dup_clusters`` keep decision row-for-row (pytest:
    tests/test_streaming.py::test_media_admission_*)."""
    from eventstreamd_spark.operators.perceptual import (
        HAMMING_MAX,
        admission_decisions_from_sig,
        perceptual_hashes,
    )

    hmax = HAMMING_MAX if hamming_max is None else hamming_max
    # any kernel producing a (doc_id, <halves>) signature relation
    # plugs in: images default to perceptual_hashes, WAV streams pass
    # audio.audio_fingerprints, video passes video_fingerprints, and
    # the TEXT face passes dedup.simhash_signatures with
    # kinds=TEXT_SIG_KINDS — candidate banding, verify, clustering and
    # index growth are modality-blind past the signature (each kernel
    # projects the columns it needs from the micro-batch itself)
    hashes = perceptual_hashes if sig_fn is None else sig_fn

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sig = hashes(batch_df).localCheckpoint()
        # prune the index read to the micro-batch's (band, bp)
        # rectangle: <= 2048 keys by construction (8 bands x 2^BP_BITS
        # prefixes), so the collect is a KB-bounded control-plane read
        probe_keys = sorted(
            (r["band"], r["bp"])
            for r in _stack_for_index(sig, kinds, wide)
            .select("band", "bp")
            .distinct()
            .collect()
        )
        index_stacked = _pruned_index_read(
            spark, index_dir, batch_id, probe_keys, kinds
        )
        # the decision itself is the SHARED batch operator core
        # (operators/perceptual.py::admission_decisions_from_sig), so
        # stream and batch verdicts agree by construction; checkpoint
        # it because both writes below consume it.  The pruned read
        # carries band/bhash, so the kernel takes it as stacked.
        # broadcast_probe: the probe IS a micro-batch here (the
        # setting the batch face leaves off); max_bucket guards the
        # unbounded index side
        decisions = admission_decisions_from_sig(
            sig,
            index_stacked,
            hmax,
            max_bucket=max_bucket,
            broadcast_probe=True,
            kinds=_index_kinds(kinds),
            wide=wide,
        ).localCheckpoint()
        decisions.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )
        _write_epoch(
            sig.join(decisions.filter(F.col("keep")).select("doc_id"), "doc_id"),
            index_dir,
            batch_id,
            kinds,
            wide,
        )

    return write_batch


def last_committed_batch(checkpoint: str) -> int:
    """Largest batch_id with a commit record in a Structured Streaming
    checkpoint (``checkpoint/commits/<N>`` files, written by the
    engine AFTER the foreachBatch writer returns), or -1 when none
    committed yet."""
    commits = os.path.join(checkpoint, "commits")
    if not os.path.isdir(commits):
        return -1
    ids = [int(e) for e in os.listdir(commits) if e.isdigit()]
    return max(ids, default=-1)


def compact_media_index(
    spark, index_dir: str, checkpoint: str | None = None, kinds=None,
    wide: bool = False,
) -> int:
    """Maintenance pass for the band-partitioned admission index: fold
    the seed and the COMMITTED live ``batch_id`` deltas into a new seed
    generation (still partitionBy(band, bp)).

    Why it exists at 100 TB: each trigger appends its kept canonicals
    as a new batch_id directory, so a long-running stream accretes one
    small file per (batch, band, bp) leaf — the classic streaming
    small-files problem; every trigger's pruned read then lists and
    opens thousands of tiny footers instead of a few compact ones.

    Crash safety comes from the manifest (``_MANIFEST``), the only
    record of which epochs are live.  Seed generations sit at negative
    batch ids: the pass writes the fold as ``batch_id=<seed - 1>``
    (``-1`` when retention dropped the seed), publishes
    ``{"seed": <seed - 1>, "from": <last folded epoch + 1>}``, and only
    then sweeps the directories the new manifest excludes.  A kill at
    any step leaves the old manifest or the new one, and both name
    complete data; the next pass sweeps what was left.  The writer's
    read stays exact: the seed is live for every future batch N, and
    the held deltas keep their epochs.

    Replay determinism is why ``checkpoint`` matters: the admission
    writer may have WRITTEN its index delta for epoch N and died
    before the engine recorded ``commits/N`` — on restart the engine
    replays epoch N, whose decisions must read the epochs below N
    exactly as the first attempt did.  Folding that uncommitted delta
    into the seed would smuggle it into the replay's read and the
    replayed docs would match their OWN signatures (flipping kept ->
    near_dup_index).  With ``checkpoint`` given, only epochs <= the
    last committed batch_id fold; later deltas stay live as-is.
    Without it every delta folds, and the caller must guarantee the
    final epoch committed (e.g. the stream finished an availableNow
    run) — the stream-lifecycle trigger (``maintain_media_index``)
    always passes the checkpoint.  Run with the stream stopped either
    way.

    Returns the number of signature rows folded into the seed."""
    from eventstreamd_spark.operators.perceptual import _halves_of

    manifest, deltas = _sweep(index_dir)
    last = last_committed_batch(checkpoint) if checkpoint else max(deltas, default=-1)
    if manifest["seed"] is None and not any(b <= last for b in deltas):
        return 0  # nothing committed and no seed: nothing to do
    sig = (
        spark.read.schema(_index_schema(kinds))
        .parquet(index_dir)
        .filter(_live(manifest, F.col("batch_id"), last + 1))
        .select("doc_id", *_halves_of(_index_kinds(kinds)))
        .distinct()  # a doc's band rows fold back to one signature
        .localCheckpoint()  # the write and the post-sweep count share it
    )
    seed = -1 if manifest["seed"] is None else manifest["seed"] - 1
    _write_epoch(sig, index_dir, seed, kinds, wide)
    _publish_manifest(index_dir, seed, max(manifest["from"], last + 1))
    _sweep(index_dir)
    return sig.count()


def evict_media_index(
    spark, index_dir: str, min_batch_id: int, kinds=None
) -> int:
    """Retention pass for the admission index: drop every delta whose
    epoch is OLDER than ``min_batch_id`` (the seed included once
    ``min_batch_id > -1``).  Returns the number of signature rows
    retained.

    This is the rolling-window near-dup policy a bounded-retention
    ingest wants at 100 TB: "reject twins of anything admitted in the
    last N epochs" — an unbounded kept-corpus index otherwise grows
    forever and makes every admission decision against all of
    history.  After eviction a twin of an EVICTED canonical admits
    and becomes a new canonical (pytest pins exactly that), which is
    the intended semantics, not a leak.  Run with the stream stopped,
    like ``compact_media_index``; the two compose (evict, then fold
    the survivors into a new seed).

    The pass publishes the manifest first (``{"seed": <seed, or null
    once the cutoff passes -1>, "from": max(from, min_batch_id)}``)
    and then sweeps, so a kill never leaves an epoch half in the
    index: the old manifest still names it whole, or the new one
    excludes it.

    Replay note: unlike compaction, eviction never RENUMBERS an epoch,
    so an uncommitted final epoch can't leak into the writer's read
    of the epochs below N — a replayed epoch N recomputes against the
    post-eviction window and overwrites both its output and its index
    delta, which is the rolling-window semantics the caller asked
    for."""
    manifest = _read_manifest(index_dir)
    _publish_manifest(
        index_dir,
        manifest["seed"] if min_batch_id <= -1 else None,
        max(manifest["from"], min_batch_id),
    )
    manifest, _ = _sweep(index_dir)
    return (
        spark.read.schema(_index_schema(kinds))
        .parquet(index_dir)
        .filter(_live(manifest, F.col("batch_id")))
        .select("doc_id")
        .distinct()
        .count()
    )


def maintain_media_index(
    spark,
    index_dir: str,
    checkpoint: str,
    max_delta_epochs: int = 8,
    retention_epochs: int | None = None,
    kinds=None,
    wide: bool = False,
) -> dict:
    """Policy-driven maintenance for the admission index — the
    automated replacement for by-hand ``compact_media_index`` /
    ``evict_media_index`` invocation (round-11, VERDICT ask #5).

    Call it while the stream is quiesced (between ``availableNow``
    runs — ``media_admission_cycle`` wires exactly that).  It first
    sweeps what the manifest excludes, so a pass killed at any step
    is finished here.  Then two independent policies:

    - **retention** (``retention_epochs``): evict index epochs older
      than ``last_committed - retention_epochs + 1`` — the rolling
      near-dup window, now on a clock instead of a hand-picked cutoff.
      Runs BEFORE compaction so evicted epochs aren't folded into the
      seed first.  When retention fires (a stale live delta exists),
      the manifest's seed ages out with it — ``evict_media_index``'s
      contract drops it once the cutoff passes -1 — and the report
      records that as ``seed_evicted``.  The policy is triggered by
      stale deltas only: a window whose cutoff has passed -1 but whose
      deltas are all in-window leaves the seed standing until the next
      stale delta (deliberate — eviction on cutoff alone would delete
      a just-compacted seed holding in-window signatures).  A later
      compaction rebuilds the seed from the surviving deltas.
    - **compaction** (``max_delta_epochs``): when the number of live
      delta epochs reaches the threshold, fold the committed ones into
      a new seed generation.  The commits log gates the fold (see
      ``compact_media_index``), so an uncommitted final epoch is left
      for the engine to replay — restart-safe by construction.

    Returns a report dict: ``fired`` (bool), ``evicted_epochs``
    (live deltas dropped), ``seed_evicted`` (bool — the seed aged out
    with the window), ``compacted`` (bool),
    ``delta_epochs_before/after``."""
    manifest, before = _sweep(index_dir)
    committed = last_committed_batch(checkpoint)
    report = {
        "fired": False,
        "evicted_epochs": 0,
        "seed_evicted": False,
        "compacted": False,
        "delta_epochs_before": len(before),
    }
    if retention_epochs is not None and committed >= 0:
        cutoff = committed - retention_epochs + 1
        stale = [b for b in before if b < cutoff]
        if stale:
            evict_media_index(spark, index_dir, cutoff, kinds)
            seed_evicted = cutoff > -1 and manifest["seed"] is not None
            report.update(
                fired=True, evicted_epochs=len(stale), seed_evicted=seed_evicted
            )
    manifest, deltas = _sweep(index_dir)
    # fire compaction only when there is something foldable: a seed to
    # rebuild or at least one COMMITTED delta — otherwise
    # compact_media_index would no-op and reporting compacted=True
    # would claim a fold that never happened, re-firing on every call
    foldable = manifest["seed"] is not None or any(b <= committed for b in deltas)
    if len(deltas) >= max_delta_epochs and foldable:
        compact_media_index(spark, index_dir, checkpoint, kinds, wide)
        report.update(fired=True, compacted=True)
    report["delta_epochs_after"] = len(_sweep(index_dir)[1])
    return report


def media_admission_cycle(
    stream_media: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint: str,
    hamming_max: int | None = None,
    sig_fn: Callable[[DataFrame], DataFrame] | None = None,
    max_bucket: int | None = None,
    max_delta_epochs: int = 8,
    retention_epochs: int | None = None,
    kinds=None,
    wide: bool = False,
) -> dict:
    """One ingest cycle with lifecycle-scheduled index maintenance:
    run the admission stream to exhaustion (``availableNow``), then —
    with the stream provably quiesced and the commits log final —
    apply the maintenance policy.  A long-running ingest loops this;
    each iteration drains whatever arrived and pays the maintenance
    bill only when the policy trips, so the small-files tax stays
    bounded without any operator hand-running maintenance."""
    q = start_media_admission(
        stream_media,
        index_dir,
        out_dir,
        checkpoint,
        hamming_max,
        sig_fn,
        max_bucket,
        kinds,
        wide,
    )
    q.awaitTermination()
    return maintain_media_index(
        stream_media.sparkSession,
        index_dir,
        checkpoint,
        max_delta_epochs=max_delta_epochs,
        retention_epochs=retention_epochs,
        kinds=kinds,
        wide=wide,
    )


def start_media_admission(
    stream_media: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint: str,
    hamming_max: int | None = None,
    sig_fn: Callable[[DataFrame], DataFrame] | None = None,
    max_bucket: int | None = None,
    kinds=None,
    wide: bool = False,
) -> StreamingQuery:
    """Wire a streaming (doc_id, blob) DataFrame to the incremental
    perceptual admission kernel (``media_admission_writer``).  The
    index seed must exist first (``seed_media_index`` — possibly
    empty for a cold start).  ``sig_fn`` swaps the signature kernel
    (default: image perceptual hashes; pass
    ``audio.audio_fingerprints`` for a WAV stream).  Contract: the
    kernel receives the RAW micro-batch DataFrame — every source
    column, not a pre-projected (doc_id, blob) pair — and must
    project the columns it needs itself (all in-repo kernels do;
    this is what lets the TEXT face reuse the same writer with a
    (doc_id, text) stream).  ``max_bucket``
    opts the index side into the hot-bucket guard (a production
    ingest should set it — a thumbnail flood otherwise makes every
    trigger pay the flooded bucket)."""
    return (
        stream_media.writeStream.foreachBatch(
            media_admission_writer(
                index_dir, out_dir, hamming_max, sig_fn, max_bucket, kinds,
                wide,
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def seed_text_index(
    sig: DataFrame, index_dir: str, wide: bool = False
) -> None:
    """Seed the TEXT admission index: a (doc_id, s_hi, s_lo) SimHash
    relation (``dedup.simhash_signatures`` filtered to kept
    canonicals) in the band-partitioned layout (``wide``: the 32-bit
    pair-band layout)."""
    from eventstreamd_spark.operators.dedup import TEXT_SIG_KINDS

    seed_media_index(sig, index_dir, TEXT_SIG_KINDS, wide)


def start_text_admission(
    stream_docs: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint: str,
    hamming_max: int | None = None,
    max_bucket: int | None = None,
    wide: bool = False,
) -> StreamingQuery:
    """Incremental TEXT near-dup admission at ingest (round 11): the
    media admission machinery with the 64-bit shingle SimHash as the
    signature family — each micro-batch of (doc_id, text) is hashed
    once, rejected against the kept corpus's banded index (partition-
    pruned read, broadcast probe), near-dup-clustered within the
    batch, and surviving canonicals append to the index.  Exactly-once
    by batch_id idempotence; maintenance via ``maintain_media_index``
    with ``kinds=dedup.TEXT_SIG_KINDS`` (or ``text_admission_cycle``).
    The decision kernel is byte-identical to the registered batch
    query ``text_admission_decisions``."""
    from eventstreamd_spark.operators.dedup import (
        HAMMING_MAX as TEXT_HMAX,
        TEXT_SIG_KINDS,
        simhash_signatures,
    )

    return start_media_admission(
        stream_docs,
        index_dir,
        out_dir,
        checkpoint,
        TEXT_HMAX if hamming_max is None else hamming_max,
        simhash_signatures,
        max_bucket,
        TEXT_SIG_KINDS,
        wide,
    )


def text_admission_cycle(
    stream_docs: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint: str,
    hamming_max: int | None = None,
    max_bucket: int | None = None,
    max_delta_epochs: int = 8,
    retention_epochs: int | None = None,
    wide: bool = False,
) -> dict:
    """One text-ingest cycle with lifecycle maintenance — the text
    face of ``media_admission_cycle``."""
    from eventstreamd_spark.operators.dedup import (
        HAMMING_MAX as TEXT_HMAX,
        TEXT_SIG_KINDS,
        simhash_signatures,
    )

    return media_admission_cycle(
        stream_docs,
        index_dir,
        out_dir,
        checkpoint,
        TEXT_HMAX if hamming_max is None else hamming_max,
        simhash_signatures,
        max_bucket,
        max_delta_epochs,
        retention_epochs,
        TEXT_SIG_KINDS,
        wide,
    )
