"""Envelope validation (O2) — reference socket_server.py:82-112 semantics."""

from __future__ import annotations

import json

from eventstreamd_spark.operators.envelope import (
    events_to_raw_lines,
    validate_envelope,
)
from eventstreamd_spark.session import load_table

GOOD = {"action": "notify", "subsystem": "s1", "event": "add", "data": {"k": 1}, "id": "a"}


def _lines(spark, *objs):
    rows = [(o if isinstance(o, str) else json.dumps(o),) for o in objs]
    return spark.createDataFrame(rows, "value string")


def test_good_line_passes(spark) -> None:
    out = validate_envelope(_lines(spark, GOOD)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["subsystem"], r["event_type"], r["id"]) == ("s1", "add", "a")
    assert json.loads(r["data"]) == {"k": 1}


def test_non_notify_action_dropped(spark) -> None:
    bad = dict(GOOD, action="subscribe")
    assert validate_envelope(_lines(spark, bad)).count() == 0


def test_missing_or_mistyped_fields_dropped(spark) -> None:
    cases = [
        {k: v for k, v in GOOD.items() if k != "subsystem"},  # missing
        dict(GOOD, subsystem=3),          # wrong type
        dict(GOOD, data="not-an-object"),  # data must be a JSON object
        dict(GOOD, data=[1, 2]),           # array is not an object
        dict(GOOD, id=17),                 # id must be a string
        {k: v for k, v in GOOD.items() if k != "action"},
    ]
    assert validate_envelope(_lines(spark, *cases)).count() == 0


def test_invalid_json_line_skipped(spark) -> None:
    out = validate_envelope(_lines(spark, "{oops", GOOD)).collect()
    assert len(out) == 1


def test_roundtrip_from_events_table(spark, sf_dir) -> None:
    events = load_table(spark, sf_dir, "events")
    n = events.count()
    raw = events_to_raw_lines(events, corrupt_every=7)
    ok = validate_envelope(raw)
    # every 7th event_id (0, 7, 14, ...) was corrupted
    expected = events.filter("event_id % 7 != 0").count()
    assert ok.count() == expected < n


def test_payload_schema_profile_types_and_twin(spark) -> None:
    """Mixed-type payloads: the regex type ladder, null accounting and
    the lax scalar-to-string coercion must agree with the DuckDB twin
    on the exact same rows."""
    import duckdb
    import pandas as pd
    from pyspark.sql import Row
    from eventstreamd_spark.operators import envelope as envelope_op

    rows = [
        Row(event_id=1, user_id=1, event_type="click",
            props='{"k": 5, "s": "abc", "b": true, "a": [1,2], "o": {"x": 1}, "f": 2.5}'),
        Row(event_id=2, user_id=2, event_type="click",
            props='{"k": 7, "s": "def", "b": false, "f": -0.25}'),
        Row(event_id=3, user_id=14, event_type="view",
            props='{"k": 9}'),
    ]
    df = spark.createDataFrame(rows)
    got = {
        tuple(r)
        for r in envelope_op.payload_schema_profile(df).collect()
    }
    con = duckdb.connect()
    con.register(
        "events", pd.DataFrame([r.asDict() for r in rows])
    )
    want = {
        tuple(r)
        for r in con.sql(
            envelope_op.sql_payload_schema_profile("events")
        ).fetchall()
    }
    assert got == want
    by_key = {t[0]: t for t in got}
    # (key, n_present, n_null, n_distinct, dominant_type, n_types)
    assert by_key["k"][4] == "int"
    assert by_key["s"][4] == "string"
    assert by_key["b"][4] == "bool"
    assert by_key["a"][4] == "array"
    assert by_key["o"][4] == "object"
    assert by_key["f"][4] == "float"
    # user 14: augmented (14 % 7 == 0) -> "opt": null present once
    assert by_key["opt"][1] == 1 and by_key["opt"][2] == 1
    assert by_key["opt"][4] == "null"


def _filter_conditions(df) -> list[str]:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [
        ln.split("Filter ", 1)[1]
        for ln in plan.splitlines()
        if ln.lstrip(" :+-").startswith("Filter ")
    ]


def test_envelope_filter_is_one_cached_barrier(spark) -> None:
    """validate_envelope filters through plans.barriers.filter_once: a
    rebuilt envelope is the same plan (a seeded barrier, so the daemon's
    replay, which rebuilds it per reconnect, hits the codegen cache),
    and neither it nor the routing fan-out above it re-derives its
    predicate from variant probes inside FilterExec."""
    from eventstreamd_spark.operators.routing import Listener, deliveries

    raw = _lines(spark, GOOD, "{oops")
    env = validate_envelope(raw)
    assert env.semanticHash() == validate_envelope(raw).semanticHash()
    fan = deliveries(env, [Listener("l", "s1", ("k>=1",))], payload_col="data")
    for df in (env, fan):
        conds = _filter_conditions(df)
        assert conds
        for cond in conds:
            assert not any(p in cond for p in ("parseJson", "parse_json", "variant_get")), cond
