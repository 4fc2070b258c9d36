"""Keyed routing / fan-out (operator O3) — subsystem -> listeners.

Reference: /root/reference/evtstrd/dispatcher.py:20,88-99 — a
``dict[str, list[Listener]]`` routing table; ``notify`` delivers each
event to every listener subscribed to its subsystem whose filter
conjunction matches (listener.py:56-68).

Spark-first mapping: a listener is a *declarative view* — subsystem
equality + compiled filter conjunction.  Fan-out to N listeners is NOT
N scans: ``deliveries`` evaluates all listeners in one pass by building
an array of (listener, matched) structs and exploding the matches — a
single narrow stage, no shuffle, no join.  At 100 TB with many
listeners this is the same O(events x listeners-per-subsystem) work the
reference does, but columnar, codegen'd, and partition-parallel; the
subsystem equality predicates are simple string comparisons that
Catalyst can push into the scan (or use for partition pruning when the
source is partitioned by subsystem — the scale-out analog of the
reference's routing-table index).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache, reduce

from pyspark.sql import DataFrame, functions as F

from eventstreamd_spark.operators.filters import (
    compile_on_extracted,
    extract_key,
    typed_extract,
    FilterSpec,
    oracle_filters_sql,
    parse_filter,
)
from eventstreamd_spark.plans.barriers import filter_once


@dataclass(frozen=True)
class Listener:
    """One subscription: GET /events?subsystem=S&filter=F&filter=G."""

    name: str
    subsystem: str
    filters: tuple[str, ...] = ()

    def specs(self) -> list[FilterSpec]:
        return [parse_filter(f) for f in self.filters]


def listener_view(
    df: DataFrame,
    listener: Listener,
    subsystem_col: str = "event_type",
    payload_col: str = "props",
) -> DataFrame:
    """The reference's per-listener delivery stream as a filtered view.

    Split on purpose: the cheap subsystem equality goes through a plain
    filter (pushable into the scan / usable for partition pruning — the
    scale analog of the reference's routing-table index), while the
    payload predicates go through filter_events' parse-once barrier.
    """
    from eventstreamd_spark.operators.filters import filter_events

    sub = df.filter(F.col(subsystem_col) == F.lit(listener.subsystem))
    return filter_events(sub, listener.specs(), payload_col)


def deliveries(
    df: DataFrame,
    listeners: list[Listener],
    subsystem_col: str = "event_type",
    payload_col: str = "props",
) -> DataFrame:
    """Single-pass fan-out: one output row per (event, matched listener).

    Equivalent to the reference's dispatch loop (dispatcher.py:93-95 +
    listener.py:62) but evaluated columnar in one scan.
    """
    extracts, masks, any_match, matched, helpers = _fanout_columns(
        tuple(listeners), subsystem_col
    )
    extracted = df.withColumn("__v", F.try_parse_json(F.col(payload_col))).select(
        "*", *extracts
    )
    # filter_once (plans/barriers.py): a plain .filter on the masks is
    # pushed below BOTH projections by alias substitution, re-deriving
    # every listener's predicate from raw variant probes inside
    # FilterExec (no subexpression elimination there) — exactly the
    # per-(event, listener) re-parse this operator exists to avoid.
    masked = filter_once(extracted.select("*", *masks), any_match)
    return masked.withColumn("listener", F.explode(matched)).drop(*helpers)


@lru_cache(maxsize=64)
def _fanout_columns(listeners: tuple[Listener, ...], subsystem_col: str):
    """The fan-out's column expressions for one listener set: the
    distinct typed extracts, the per-chunk match masks, their
    any-match test, the matched-names array and the helper columns
    to drop.

    Cached because every Column constructor is a py4j round trip
    (about 1 ms each on a 4-vCPU host), and the daemon's sink plans
    the same subscriptions every micro-batch.  The columns are
    unresolved expressions, valid in any plan.
    """
    # shared-work compilation: parse the payload once, extract each
    # DISTINCT (field, kind) the listener population probes once, then
    # every listener predicate is a plain columnar comparison — total
    # per-row cost is O(distinct fields) + O(listeners) cheap compares,
    # vs the reference's O(listeners x filters) dict probes (EP1.5)
    specs_by_key: dict[str, object] = {}
    for li in listeners:
        for spec in li.specs():
            specs_by_key.setdefault(extract_key(spec), spec)
    extracts = [
        typed_extract(spec, F.col("__v")).alias(key)
        for key, spec in specs_by_key.items()
    ]

    def pred(li: Listener) -> F.Column:
        subsystem_ok = F.col(subsystem_col) == F.lit(li.subsystem)
        conj = F.lit(True)
        for spec in li.specs():
            conj = conj & compile_on_extracted(spec, F.col(extract_key(spec)))
        return subsystem_ok & conj

    # matched-listener BITMASKS (63 listeners per mask column, chunked):
    # the hot per-row work is then pure codegen'd boolean+integer
    # arithmetic; array construction happens only for rows that matched
    # someone.  (An array-of-structs + HOF-filter formulation measured
    # ~4x slower — per-row struct allocation for every listener.)
    chunks = [listeners[i : i + 63] for i in range(0, len(listeners), 63)]
    mask_names = [f"__mask{c}" for c in range(len(chunks))]
    masks = []
    for name, chunk in zip(mask_names, chunks):
        mask = F.lit(0).cast("bigint")
        for i, li in enumerate(chunk):
            mask = mask + F.when(pred(li), F.lit(1 << i).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
        masks.append(mask.alias(name))
    any_match = reduce(lambda a, b: a | b, [F.col(m) > 0 for m in mask_names])

    def chunk_names(mask_name: str, chunk: tuple[Listener, ...]) -> F.Column:
        pows = F.array(*[F.lit(1 << i).cast("bigint") for i in range(len(chunk))])
        names = F.array(*[F.lit(li.name) for li in chunk])
        m = F.col(mask_name)
        return F.filter(
            F.zip_with(
                pows, names, lambda p, nm: F.when(m.bitwiseAND(p) > 0, nm)
            ),
            lambda x: x.isNotNull(),
        )

    matched = F.concat(*[chunk_names(m, chunk) for m, chunk in zip(mask_names, chunks)])
    helpers = ["__v", *specs_by_key, *mask_names]
    return extracts, masks, any_match, matched, helpers


def oracle_deliveries_sql(
    listeners: list[Listener],
    table: str = "events",
    subsystem_col: str = "event_type",
    payload_col: str = "props",
    select: str = "*",
) -> str:
    """DuckDB twin of ``deliveries`` (UNION ALL of per-listener views)."""
    parts = []
    for li in listeners:
        pred = oracle_filters_sql([parse_filter(f) for f in li.filters], payload_col)
        parts.append(
            f"SELECT {select}, '{li.name}' AS listener FROM {table} "
            f"WHERE {subsystem_col} = '{li.subsystem}' AND {pred}"
        )
    return " UNION ALL ".join(parts)


def subsystem_counts(df: DataFrame, subsystem_col: str = "event_type") -> DataFrame:
    """Routing-table shape: events per subsystem (one shuffle, map-side
    partial aggregation)."""
    return df.groupBy(F.col(subsystem_col).alias("subsystem")).agg(
        F.count("*").alias("n_events")
    )
