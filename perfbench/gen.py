"""Seeded inputs for every workload.

The program under test receives only what this module writes:

- ``write_tables`` lays down the ten parquet tables the batch registry
  reads (same names, column types and value shapes as the repository's
  fixture tables at sf0.01), one file and one row group per table;
- ``daemon_plan`` builds the live-daemon traffic: the subscriber
  subscriptions, the payload of every event and the reconnect times.

Same seed, same bytes: every random draw goes through one
``numpy.random.Generator`` seeded from the argument.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.01 fixture scale.
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DAY_US = 86_400_000_000


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return rng.integers(lo, hi + 1, n) * DAY_US


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, pa.int64()).cast(pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng) -> dict[str, pa.Table]:
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
    })
    parts = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(parts, dtype=np.int64),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(PART_ADJ, parts), rng.choice(PART_NOUN, parts))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, parts)],
        "p_type": rng.choice(PART_TYPES, parts),
        "p_size": rng.integers(1, 51, parts).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(parts) % 1000) * 0.1, 2),
    })
    orders = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], orders),
        "o_totalprice": _money(rng, orders, 1000.0, 500000.0),
        "o_orderdate": _ts(_days(rng, orders, "1995-01-01", "2001-08-01")),
        "o_orderpriority": rng.choice(PRIORITIES, orders),
    })
    items = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, orders, items),
        "l_partkey": rng.integers(0, parts, items),
        "l_suppkey": rng.integers(0, n["supplier"], items),
        "l_linenumber": rng.integers(1, 8, items).astype(np.int32),
        "l_quantity": rng.integers(1, 51, items).astype(np.float64),
        "l_extendedprice": _money(rng, items, 900.0, 105000.0),
        "l_discount": np.round(rng.integers(0, 11, items) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, items) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], items),
        "l_linestatus": rng.choice(["F", "O"], items),
        "l_shipdate": _ts(_days(rng, items, "1995-01-02", "2001-11-04")),
    })
    ev = n["events"]
    start = np.datetime64("2024-01-01", "us").astype("int64")
    t["events"] = pa.table({
        "event_id": np.arange(ev, dtype=np.int64),
        "ts": _ts(np.sort(start + rng.integers(0, 30 * DAY_US, ev))),
        "user_id": rng.integers(0, 150, ev),
        "event_type": rng.choice(EVENT_TYPES, ev),
        "value": np.round(rng.exponential(50.0, ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ev)],
    })
    t["documents"] = _documents(rng, n["documents"])
    vec = rng.standard_normal((n["embeddings"], 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n["embeddings"], dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n["embeddings"]).astype(np.int32),
    })
    return t


def _documents(rng, n: int) -> pa.Table:
    """Random word salad over the fixture vocabulary; one doc in twenty
    is an earlier original plus a trailing ``dup`` token (the
    near-duplicate plants the dedup faces look for).  The plant count is
    fixed and no plant copies a plant, so the near-dup graph has the
    same shape, one edge per plant, for every seed."""
    plants = set(rng.choice(np.arange(1, n), n // 20, replace=False).tolist())
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if i in plants and originals:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        else:
            originals.append(i)
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    langs = rng.choice(LANGS, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the batch tables under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in _tables(np.random.default_rng(seed)).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# -- live-daemon traffic -----------------------------------------------------

SUBSYSTEMS = ["orders", "users", "billing"]
# Candidate subscriptions, one per subscriber, in connection order.  Each
# (subsystem, filters) pair is distinct and every filter kind of the
# grammar (int, quoted string, ISO date, nested path, conjunction) is
# used; the first nproc-1 are connected.
SUBSCRIPTIONS: list[tuple[str, tuple[str, ...]]] = [
    ("orders", ("k>=30",)),
    ("users", ()),
    ("billing", ("meta.level<=2", "day>=2024-01-08")),
    ("orders", ("name='n3'",)),
    ("users", ("k<50",)),
    ("billing", ("name>='n2'",)),
    ("orders", ("day<20240115",)),
]


@dataclass(frozen=True)
class DaemonPlan:
    """Traffic for one ``daemon_live`` run.

    ``rates`` are the open-loop steps (events/s, seconds each), sent back
    to back; the reference rate is ``rates[ref_step]``.  ``burst`` events
    follow at full speed once the reconnects are done.  ``events`` holds (subsystem, data) for the ids
    "0".."n-1" in send order: the steps' events, then the burst's.
    ``priming`` holds the events sent before measurement starts (ids
    "p0", "p1", ...) until every subscriber has its first frame.
    ``reconnects`` are (offset in s from the first open-loop send,
    seconds disconnected) for the last subscriber.  ``overflow`` holds
    the events of the traced run's queue-overflow probe (ids "o0",
    "o1", ...), all for ``OVERFLOW_SUBSCRIPTION``.
    """

    subscriptions: list[tuple[str, tuple[str, ...]]]
    rates: list[tuple[int, float]]
    ref_step: int
    burst: int
    reconnects: list[tuple[float, float]]
    events: list[tuple[str, dict]]
    priming: list[tuple[str, dict]]
    overflow: list[tuple[str, dict]]


def _payloads(rng, n: int, mix: np.ndarray) -> list[tuple[str, dict]]:
    subs = rng.choice(len(SUBSYSTEMS), n, p=mix)
    k = rng.integers(0, 100, n)
    name = rng.integers(0, 7, n)
    day = rng.integers(1, 29, n)
    level = rng.integers(0, 5, n)
    return [
        (SUBSYSTEMS[s], {
            "k": int(a),
            "name": f"n{b}",
            "day": f"2024-01-{c:02d}",
            "meta": {"level": int(d)},
        })
        for s, a, b, c, d in zip(subs, k, name, day, level)
    ]


# Frames per connection the daemon queues before it drops frames
# silently (http_frontend's per-connection asyncio.Queue bound).  The
# measured burst holds this many events, so no subscriber (each gets
# near a third of them) is handed more frames than its queue holds, and
# every expected frame of a measured run arrives.  The overflow probe
# of the traced run holds four times as many, all for one subscriber,
# so the silent drop shows there, as ``frames_dropped``.
DAEMON_QUEUE_BOUND = 10_000
OVERFLOW_SUBSCRIPTION: tuple[str, tuple[str, ...]] = ("users", ())


def daemon_plan(seed: int, subscribers: int, seconds: float) -> DaemonPlan:
    if not 2 <= subscribers <= len(SUBSCRIPTIONS):
        raise ValueError(f"need 2..{len(SUBSCRIPTIONS)} subscribers, got {subscribers}")
    rng = np.random.default_rng(seed)
    # seeded subsystem mix, each share near a third, so every seed loads
    # every subscriber alike
    mix = rng.dirichlet([40.0] * len(SUBSYSTEMS))
    # the reference step (500/s, below the rate at which micro-batches
    # run back to back here) comes first and is the longest, for its
    # latency tail; the drops come after it, so spool replay runs beside
    # the 250/s and the 2000-4000/s ingest
    rates = [(500, 0.6 * seconds), (250, 0.1 * seconds),
             (2000, 0.15 * seconds), (4000, 0.15 * seconds)]
    reconnects = [
        (float(rng.uniform(0.61, 0.65)) * seconds, float(rng.uniform(0.4, 0.8))),
        (float(rng.uniform(0.8, 0.9)) * seconds, float(rng.uniform(0.4, 0.8))),
    ]
    burst = DAEMON_QUEUE_BOUND
    n = int(sum(r * d for r, d in rates)) + burst
    return DaemonPlan(
        subscriptions=SUBSCRIPTIONS[:subscribers],
        rates=rates,
        ref_step=0,
        burst=burst,
        reconnects=reconnects,
        events=_payloads(rng, n, mix),
        priming=_payloads(rng, 2000, mix),
        overflow=_payloads(
            rng, 4 * DAEMON_QUEUE_BOUND,
            np.array([s == OVERFLOW_SUBSCRIPTION[0] for s in SUBSYSTEMS], dtype=float),
        ),
    )
