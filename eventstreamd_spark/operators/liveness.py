"""Connection-liveness operators: batch twins of the reference's
per-connection timer loops (O8 ping, O9 expiry logout).

Reference semantics:
- ping loop (/root/reference/evtstrd/listener.py:72-78): while the
  connection is open, write a PingEvent every ``ping_interval`` seconds.
- logout timer (/root/reference/evtstrd/listener.py:80-84): a timer
  racing the data stream; when it lapses without a refreshing event, a
  LogoutEvent ``{"reason": "expire"}`` is written (events.py:53-55).

The streaming implementations live in ``streaming/http_frontend.py``
(real asyncio ping loop) and ``streaming/stateful.py::expiry_tracker``
(applyInPandasWithState TTL state).  These batch twins restate the same
semantics as pure DataFrame plans so the driver's DuckDB oracle can
verify them row-for-row:

- ``ping_spine``: one row per ping the server would have written per
  connection — the connection is modeled as each user's [first, last]
  event span, pings generated with ``sequence()`` + ``explode()``.
- ``expiry_logouts``: one logout verdict per TTL lapse — an event's
  timer fires iff no successor arrives within the TTL (lead() window),
  and the final event per key always fires.

Scale shape: ping_spine is one keyed agg (map-side combinable) followed
by a shuffle-free generate/explode; expiry_logouts is one window over
(user_id, ts) — a single sort-shuffle partitioned by user. No joins, no
driver round-trips; both are linear in events at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

PING_INTERVAL_S = 6 * 3600  # batch-twin cadence; the daemon default is 20 s
EXPIRY_TTL_S = 3600


def ping_spine(events: DataFrame, interval_s: int = PING_INTERVAL_S) -> DataFrame:
    """One row per ping frame per connection (user span).

    Output: user_id, ping_idx (0-based), ping_ts, event ('ping' literal,
    mirroring the PingEvent frame type).
    """
    spans = events.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    pings = spans.select(
        "user_id",
        F.posexplode(
            F.sequence(
                F.col("first_ts"),
                F.col("last_ts"),
                F.expr(f"interval {interval_s} seconds"),
            )
        ).alias("ping_idx", "ping_ts"),
    )
    return pings.select(
        "user_id",
        F.col("ping_idx").cast("bigint").alias("ping_idx"),
        "ping_ts",
        F.lit("ping").alias("event"),
    )


def sql_ping_spine(interval_s: int = PING_INTERVAL_S) -> str:
    """DuckDB oracle: generate_series over each user's event span."""
    return f"""
SELECT user_id,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ping_ts) - 1
            AS BIGINT) AS ping_idx,
       ping_ts,
       'ping' AS event
FROM (
  SELECT user_id,
         unnest(generate_series(first_ts, last_ts,
                                INTERVAL {interval_s} SECOND)) AS ping_ts
  FROM (
    SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
    FROM events GROUP BY user_id
  )
)
"""


def expiry_logouts(events: DataFrame, ttl_s: int = EXPIRY_TTL_S) -> DataFrame:
    """One logout verdict per TTL lapse per user.

    An event's expiry timer fires iff the next event for the same user
    arrives more than ``ttl_s`` later (or never) — exactly the
    refresh-or-expire contract of ``stateful.py::expiry_tracker``.
    Output: user_id, logout_ts (= event ts + ttl), reason ('expire').
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    ttl = F.expr(f"interval {ttl_s} seconds")
    return (
        events.select("user_id", "ts")
        .withColumn("next_ts", F.lead("ts").over(w))
        .where(F.col("next_ts").isNull() | (F.col("next_ts") > F.col("ts") + ttl))
        .select(
            "user_id",
            (F.col("ts") + ttl).alias("logout_ts"),
            F.lit("expire").alias("reason"),
        )
    )


def sql_expiry_logouts(ttl_s: int = EXPIRY_TTL_S) -> str:
    return f"""
SELECT user_id,
       ts + INTERVAL {ttl_s} SECOND AS logout_ts,
       'expire' AS reason
FROM (
  SELECT user_id, ts,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS next_ts
  FROM events
)
WHERE next_ts IS NULL OR next_ts > ts + INTERVAL {ttl_s} SECOND
"""
