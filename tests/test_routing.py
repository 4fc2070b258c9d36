"""Routing / fan-out (O3) + stats (O11)."""

from __future__ import annotations

import json
from functools import reduce

import duckdb
from pyspark.sql import DataFrame, functions as F

from eventstreamd_spark.operators.routing import (
    Listener,
    deliveries,
    listener_view,
    oracle_deliveries_sql,
    subsystem_counts,
)
from eventstreamd_spark.operators.stats import subsystem_stats
from eventstreamd_spark.session import load_table

LISTENERS = [
    Listener("big-purchases", "purchase", ("k>=50",)),
    Listener("all-errors", "error"),
    Listener("mid-signups", "signup", ("k>=25", "k<=75")),
]


# Probe inputs beyond the sf events table: more listeners than one
# 63-listener mask chunk, hyphenated and dotted fields, ISO and compact
# dates (in filters and in payloads), an empty filter list, wrongly
# typed values and payloads that are not JSON.
_PROBE_FILTERS = [
    (),
    ("k>=30",),
    ("user-id<4",),
    ("meta.level<=2", "day>=2024-01-08"),
    ("meta.tag='t1'",),
    ("day<20240115",),
    ("k<50", "user-id>=2"),
    ("day=2024-01-09",),
    ("meta.deep.x>1",),
]
PROBE_LISTENERS = [
    Listener(f"p{i}", ("a", "b", "c")[i % 3], _PROBE_FILTERS[i % len(_PROBE_FILTERS)])
    for i in range(72)
]


def _probe_events(spark):
    def props(i: int) -> str:
        if i % 11 == 0:
            return "{not json"
        day = f"2024-01-{1 + i % 28:02d}" if i % 2 else f"202401{1 + i % 28:02d}"
        return json.dumps(
            {
                "k": str(i % 100) if i % 13 == 0 else i % 100,
                "user-id": i % 9,
                "day": day,
                "meta": {"level": i % 5, "tag": f"t{i % 4}", "deep": {"x": i % 3}},
            }
        )

    return spark.createDataFrame(
        [(("a", "b", "c", "z")[i % 4], props(i), i) for i in range(600)],
        "event_type string, props string, event_id long",
    )


def _ids_by_listener(df) -> dict[str, list[int]]:
    out: dict[str, list[int]] = {}
    for r in df.select("listener", "event_id").collect():
        out.setdefault(r["listener"], []).append(r["event_id"])
    return {name: sorted(ids) for name, ids in out.items()}


def test_fanout_matches_per_listener_views(spark, sf_dir) -> None:
    """deliveries == the union of per-listener views, event id for
    event id, on the sf events table and on the probe inputs."""
    cases = [
        (load_table(spark, sf_dir, "events"), LISTENERS),
        (_probe_events(spark), PROBE_LISTENERS),
    ]
    for events, listeners in cases:
        views = reduce(
            DataFrame.unionByName,
            [
                listener_view(events, li).select(
                    F.lit(li.name).alias("listener"), "event_id"
                )
                for li in listeners
            ],
        )
        expected = _ids_by_listener(views)
        assert expected  # the inputs route something
        assert _ids_by_listener(deliveries(events, listeners)) == expected


def test_fanout_against_duckdb(spark, sf_dir) -> None:
    events = load_table(spark, sf_dir, "events")
    got = deliveries(events, LISTENERS).groupBy("listener").count()
    got_map = {r["listener"]: r["count"] for r in got.collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    sql = oracle_deliveries_sql(LISTENERS, select="event_id")
    oracle = con.execute(
        f"SELECT listener, count(*) FROM ({sql}) GROUP BY listener"
    ).fetchall()
    assert got_map == {name: n for name, n in oracle}


def test_no_listener_events_dropped(spark) -> None:
    # at-most-once: events whose subsystem has no listener never appear
    df = spark.createDataFrame(
        [("a", '{"k": 1}'), ("zzz", '{"k": 1}')], "event_type string, props string"
    )
    out = deliveries(df, [Listener("l1", "a")])
    assert [r["event_type"] for r in out.collect()] == ["a"]


def test_subsystem_counts_and_stats(spark, sf_dir) -> None:
    events = load_table(spark, sf_dir, "events")
    counts = {r["subsystem"]: r["n_events"] for r in subsystem_counts(events).collect()}
    assert sum(counts.values()) == events.count()
    stats = subsystem_stats(events)
    row = stats.filter(F.col("subsystem") == list(counts)[0]).collect()[0]
    assert row["n_events"] == counts[row["subsystem"]]
    assert row["first_ts"] <= row["max_ts"]
