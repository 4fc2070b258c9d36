"""Custom stateful streaming operators (applyInPandasWithState).

Operators the built-in windowed aggregations can't express:

- ``streaming_sessionizer``: per-user session accumulation with an
  explicit gap timeout — emits one row per CLOSED session.  Unlike
  ``F.session_window`` (which emits aggregates per window under append
  mode), this keeps arbitrary per-session state (first/last event ids,
  counts) and closes sessions on a processing-time timeout, which is
  the general shape of the reference's timer-driven per-connection
  state (O9 logout timers, /root/reference/evtstrd/listener.py:80-84,
  dispatcher.py:76-86 — a timer racing the data stream).

- ``expiry_tracker``: keyed time-to-live state — the O9 session-expiry
  semantics as a dataflow operator: each key carries an expire-at
  timestamp; when the timeout fires with no refreshing event, a logout
  row is emitted (reference events.py:53-55 ``{"reason": "expire"}``).

- ``streaming_sessionizer_event_time``: the same gap sessions on an
  event-time timeout, so a late row (within the watermark) lands in
  the session its timestamp belongs to — batch ``sessionize``'s answer.

State is bounded: one struct per live key, dropped on timeout — the
only kind of per-key state that survives 100 TB/day (anything that
grows with events-per-key would not).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_SCHEMA = (
    "user_id bigint, n_events bigint, first_ts timestamp, last_ts timestamp"
)
_SESSION_STATE = "n_events bigint, first_ts timestamp, last_ts timestamp"


def _sessionize_group(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.hasTimedOut:
        n, first_ts, last_ts = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "first_ts": [first_ts],
                "last_ts": [last_ts],
            }
        )
        return
    n, first_ts, last_ts = (state.get if state.exists else (0, None, None))
    for pdf in pdfs:
        if not len(pdf):
            continue
        n += len(pdf)
        lo, hi = pdf["ts"].min(), pdf["ts"].max()
        first_ts = lo if first_ts is None or lo < first_ts else first_ts
        last_ts = hi if last_ts is None or hi > last_ts else last_ts
    state.update((n, first_ts, last_ts))
    # close the session after 2 s of processing-time silence (test
    # scale; production would use the reference's 30 min gap)
    state.setTimeoutDuration(2000)
    yield pd.DataFrame(
        {"user_id": [], "n_events": [], "first_ts": [], "last_ts": []}
    )


def streaming_sessionizer(events: DataFrame) -> DataFrame:
    """events (user_id, ts, ...) -> one row per closed session.

    groupBy(user_id) shuffles each user's events to one task; state is
    a single (count, first, last) struct per live user, removed when
    the gap timer fires — bounded by live users, not by event volume.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


EXPIRY_SCHEMA = "id string, reason string"
_EXPIRY_STATE = "expire_ms bigint"


def _expire_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (sid,) = key
    if state.hasTimedOut:
        state.remove()
        yield pd.DataFrame({"id": [sid], "reason": ["expire"]})
        return
    ttl_ms = 0
    for pdf in pdfs:
        if len(pdf):
            ttl_ms = int(pdf["ttl_ms"].iloc[-1])
    state.update((ttl_ms,))
    state.setTimeoutDuration(max(ttl_ms, 1))
    yield pd.DataFrame({"id": [], "reason": []})


def expiry_tracker(sessions: DataFrame) -> DataFrame:
    """sessions (id, ttl_ms) -> logout rows when the TTL lapses without
    a refreshing event — O9 as a keyed-state dataflow operator."""
    return sessions.groupBy("id").applyInPandasWithState(
        _expire_group,
        outputStructType=EXPIRY_SCHEMA,
        stateStructType=_EXPIRY_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


_EVENT_TIME_STATE = "open array<struct<n:bigint,lo:bigint,hi:bigint>>"


def streaming_sessionizer_event_time(
    events: DataFrame, gap_s: int = 2, watermark: str = "4 seconds"
) -> DataFrame:
    """events (user_id, ts) -> one row per closed session, sessions split
    on EVENT-time inactivity > ``gap_s`` (``windows.sessionize``).

    State per user is the list of open intervals (n, lo, hi) in epoch
    microseconds.  Every call folds its rows in as 1-point intervals
    and re-merges the list (intervals within the gap coalesce), which
    absorbs out-of-order and late rows.  An interval closes only once
    the watermark strictly passes hi + gap: no row that could extend it
    can still arrive, so the emitted sessions equal the batch answer.
    The event-time timeout is re-armed at min(open hi) + gap — the
    reference's ``Timer.reset()`` (util.py:24-33) in event time.  State
    holds only rows the watermark has not yet closed.
    """
    gap_us = gap_s * 1_000_000

    def fold(key, pdfs, state: GroupState) -> Iterator[pd.DataFrame]:
        ivs = [tuple(iv) for iv in state.get[0]] if state.exists else []
        for pdf in pdfs:
            us = pdf["ts"].values.astype("datetime64[us]").astype("int64")
            ivs.extend((1, int(u), int(u)) for u in us)
        merged: list[tuple[int, int, int]] = []
        for n, lo, hi in sorted(ivs, key=lambda iv: (iv[1], iv[2])):
            if merged and lo - merged[-1][2] <= gap_us:
                pn, plo, phi = merged[-1]
                merged[-1] = (pn + n, plo, max(phi, hi))
            else:
                merged.append((n, lo, hi))
        # close in microseconds, the merge's unit: comparing the deadline's
        # ms with the watermark's would close a session up to 999us early
        wm_us = state.getCurrentWatermarkMs() * 1000
        closed = [iv for iv in merged if iv[2] + gap_us < wm_us]
        still = [iv for iv in merged if iv[2] + gap_us >= wm_us]
        if still:
            state.update((still,))
            # first whole ms whose watermark strictly clears min(hi) + gap
            min_hi = min(hi for _, _, hi in still)
            state.setTimeoutTimestamp((min_hi + gap_us) // 1000 + 1)
        else:
            state.remove()
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(closed),
                    "n_events": [n for n, _, _ in closed],
                    "first_ts": pd.to_datetime([lo for _, lo, _ in closed], unit="us"),
                    "last_ts": pd.to_datetime([hi for _, _, hi in closed], unit="us"),
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_EVENT_TIME_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
