"""Event-envelope validation / projection (operator O2).

Reference: /root/reference/evtstrd/socket_server.py:82-112 —

- only ``action == "notify"`` messages proceed (``:88-92``);
- the envelope must have ``subsystem: str``, ``event: str``,
  ``data: dict`` (a JSON *object*), ``id: str``; any missing or
  wrongly-typed field drops the event (``:103-112``);
- unparseable JSON lines are skipped with a warning (util.py:11-21).

Spark-first: a single declarative filter+project over the raw-line
DataFrame.  Type gates use the same variant machinery as the filter DSL,
so "wrongly typed" means the JSON node type, not a lenient cast.  Works
identically under ``spark.read`` and ``spark.readStream`` (narrow ops
only — no shuffle; at 100 TB this is a pure map stage that fuses into
the scan).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from eventstreamd_spark.plans.barriers import filter_once

ENVELOPE_COLS = ["subsystem", "event_type", "data", "id"]


def _node_type(v: Column, path: str) -> Column:
    return F.schema_of_variant(F.try_variant_get(v, path, "variant"))


def validate_envelope(
    raw: DataFrame,
    line_col: str = "value",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Raw JSON-lines DataFrame -> validated envelope DataFrame.

    Output columns: subsystem STRING, event_type STRING, data STRING
    (canonical JSON of the payload object), id STRING.  Rows failing any
    reference check are dropped silently, mirroring the daemon's
    log-and-continue behavior.

    ``passthrough`` names input columns to carry into the output
    unchanged (e.g. a spool position for replay ordering).
    """
    # Parse once into a real column; the gate and every projection
    # probe the parsed variant.  (Building them from a fresh
    # try_parse_json expression would re-parse the line per predicate —
    # JSON parsing is the dominant cost of this operator.)  No shuffle:
    # a caller with a narrow input spreads it first (``fan_out``).
    parsed = raw.withColumn("__v", F.try_parse_json(F.col(line_col)))
    v = F.col("__v")
    action_ok = (
        (_node_type(v, "$.action") == "STRING")
        & (F.try_variant_get(v, "$.action", "string") == "notify")
    )
    typed_ok = (
        (_node_type(v, "$.subsystem") == "STRING")
        & (_node_type(v, "$.event") == "STRING")
        & _node_type(v, "$.data").startswith("OBJECT")
        & (_node_type(v, "$.id") == "STRING")
    )
    # filter_once (plans/barriers.py): a plain .filter would be pushed
    # below the parse by alias substitution, and FilterExec does no
    # subexpression elimination, so every line would re-parse once per
    # probe (measured 4.2 s vs ~1.3 s at sf0.1).
    return filter_once(parsed, action_ok & typed_ok).select(
        F.try_variant_get(v, "$.subsystem", "string").alias("subsystem"),
        F.try_variant_get(v, "$.event", "string").alias("event_type"),
        F.to_json(F.try_variant_get(v, "$.data", "variant")).alias("data"),
        F.try_variant_get(v, "$.id", "string").alias("id"),
        *passthrough,
    )


def events_to_raw_lines(events: DataFrame, corrupt_every: int | None = None) -> DataFrame:
    """Adapter: the driver's ``events`` table -> reference wire format
    (one JSON line per event), for exercising O1/O2 in batch mode.

    ``corrupt_every=n`` deterministically mangles every n-th line (by
    event_id) so the validator's drop path is exercised end-to-end.
    """
    line = F.to_json(
        F.struct(
            F.lit("notify").alias("action"),
            F.col("event_type").alias("subsystem"),
            F.lit("add").alias("event"),
            F.struct(
                F.col("user_id"), F.col("value"), F.col("props")
            ).alias("data"),
            F.col("event_id").cast("string").alias("id"),
        )
    )
    if corrupt_every:
        line = F.when(
            F.col("event_id") % corrupt_every == 0, F.lit("{not valid json")
        ).otherwise(line)
    return events.select(F.col("event_id"), line.alias("value"))


# ---------------------------------------------------------------------------
# Payload schema profiling — the observability counterpart of the
# reference's schemaless data model (SURVEY.md §1.2: `data` is opaque
# until a filter probes it at delivery time, evtstrd/filters.py:32-37).
# At corpus scale you need to know what keys/types producers are
# actually sending BEFORE someone's filter silently stops matching; this
# is the schema-drift audit for a dynamic JSON payload column.
# ---------------------------------------------------------------------------


def _augmented_payload() -> Column:
    """Deterministically enrich the fixture's single-key props into a
    mixed-schema payload (string + int keys on most rows, an explicit
    null key on every 7th user, original narrow payload on every 10th)
    so the profiler demonstrably handles presence variance, nulls, and
    heterogeneous types.  Pure string surgery with identical semantics
    in the SQL twin."""
    sep = F.when(F.col("props") == "{}", F.lit("")).otherwise(F.lit(", "))
    extra = F.concat(
        sep,
        F.lit('"et": "'),
        F.col("event_type"),
        F.lit('", "uid": '),
        F.col("user_id").cast("string"),
        F.when(F.col("user_id") % 7 == 0, F.lit(', "opt": null')).otherwise(
            F.lit("")
        ),
        F.lit("}"),
    )
    aug = F.concat(
        F.regexp_replace(F.col("props"), "\\}$", ""), extra
    )
    return F.when(F.col("user_id") % 10 == 0, F.col("props")).otherwise(aug)


_TYPE_CLASS = [
    ("int", "^-?[0-9]+$"),
    ("float", "^-?[0-9]*\\.[0-9]+$"),
]


def _value_type(val: Column) -> Column:
    t = F.when(val.isNull(), F.lit("null"))
    for name, pat in _TYPE_CLASS:
        t = t.when(val.rlike(pat), F.lit(name))
    return (
        t.when(val.isin("true", "false"), F.lit("bool"))
        .when(val.startswith("["), F.lit("array"))
        .when(val.startswith("{"), F.lit("object"))
        .otherwise(F.lit("string"))
    )


def payload_schema_profile(events: DataFrame) -> DataFrame:
    """Per-key profile of a dynamic JSON payload column: presence
    count, null count, distinct-value count, dominant inferred type
    (count-majority, name-ascending tiebreak) and the number of
    distinct types observed — i.e. "what schema are producers actually
    sending".

    Plan: parse once (``from_json`` to map<string,string> — the lax
    scalar-to-string coercion is exactly DuckDB's
    ``json_extract_string``, verified in tests), explode to (key, val)
    pairs, two hash aggregates (per-key stats; per-(key, type) counts
    reduced by one tiny window).  Narrow until the d-key-sized
    aggregates; type inference is a codegen'd regex ladder over the
    extracted strings, identical in the twin.
    """
    from pyspark.sql import Window

    # inner explode: a malformed payload parses to a NULL map and an
    # empty object to an empty map — both contribute zero (key, val)
    # rows, exactly matching the twin's json_valid(p) gate + key unnest
    kv = events.select(
        F.explode(
            F.from_json(_augmented_payload(), "map<string,string>")
        ).alias("key", "val")
    )
    stats = kv.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.when(F.col("val").isNull(), 1).otherwise(0)).alias("n_null"),
        F.count_distinct(F.col("val")).alias("n_distinct"),
    )
    kt = (
        kv.select("key", _value_type(F.col("val")).alias("ty"))
        .groupBy("key", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("key").orderBy(F.col("cnt").desc(), F.col("ty"))
    dom = (
        kt.withColumn("rk", F.row_number().over(w))
        .withColumn(
            "n_types",
            F.count(F.lit(1)).over(Window.partitionBy("key")),
        )
        .filter(F.col("rk") == 1)
        .select("key", F.col("ty").alias("dominant_type"), "n_types")
    )
    return stats.join(dom, "key").select(
        "key", "n_present", "n_null", "n_distinct", "dominant_type", "n_types"
    )


def sql_payload_schema_profile(table: str = "events") -> str:
    """DuckDB twin: json_keys + json_extract_string replay the same
    (key, val) pairs; the regex ladder and window are identical."""
    aug = (
        "CASE WHEN user_id % 10 = 0 THEN props ELSE "
        "regexp_replace(props, '\\}$', '') "
        "|| (CASE WHEN props = '{}' THEN '' ELSE ', ' END) "
        "|| '\"et\": \"' || event_type "
        "|| '\", \"uid\": ' || CAST(user_id AS VARCHAR) || "
        "(CASE WHEN user_id % 7 = 0 THEN ', \"opt\": null' ELSE '' END) "
        "|| '}' END"
    )
    ty = (
        "CASE WHEN val IS NULL THEN 'null' "
        "WHEN regexp_matches(val, '^-?[0-9]+$') THEN 'int' "
        "WHEN regexp_matches(val, '^-?[0-9]*\\.[0-9]+$') THEN 'float' "
        "WHEN val IN ('true', 'false') THEN 'bool' "
        "WHEN val LIKE '[%' THEN 'array' "
        "WHEN val LIKE '{%' THEN 'object' "
        "ELSE 'string' END"
    )
    return f"""
WITH p AS (SELECT {aug} AS p FROM {table} WHERE json_valid({aug})),
kv AS (
  SELECT key, json_extract_string(p, '$.' || key) AS val FROM (
    SELECT p, unnest(json_keys(p)) AS key FROM p
  )
),
stats AS (
  SELECT key, count(*) AS n_present,
         CAST(sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null,
         count(DISTINCT val) AS n_distinct
  FROM kv GROUP BY key
),
kt AS (
  SELECT key, {ty} AS ty, count(*) AS cnt FROM kv GROUP BY 1, 2
),
dom AS (
  SELECT key, ty AS dominant_type, n_types FROM (
    SELECT key, ty, cnt,
           row_number() OVER (PARTITION BY key
                              ORDER BY cnt DESC, ty) AS rk,
           count(*) OVER (PARTITION BY key) AS n_types
    FROM kt
  ) WHERE rk = 1
)
SELECT s.key AS key, s.n_present AS n_present, s.n_null AS n_null,
       s.n_distinct AS n_distinct, d.dominant_type AS dominant_type,
       d.n_types AS n_types
FROM stats s JOIN dom d ON d.key = s.key
"""


def schema_drift_state_merge(events: DataFrame, epoch_mod: int = 2) -> DataFrame:
    """Batch twin of the streaming schema-drift monitor's ONE fold step
    (streaming/pipeline.start_payload_schema_monitor): split the corpus
    into a hash-defined "persisted state" epoch (event_id % epoch_mod
    == 0) and an "incoming batch" epoch, then reproduce exactly what
    the monitor computes when the batch arrives — merged per-(key,
    type) counters, novel-key flags (key absent from state under EVERY
    type) and novel-type flags (known key, unseen type), both read off
    the state before and after the fold.  Registering this pins the
    fold arithmetic the monitor runs through ``pipeline.fold_monitor``
    (sink before persist, each epoch folded once) under the driver's
    exact oracle, the same adjudication as cms_state_merge; the live
    two-epoch stream is parity-tested against this twin in
    tests/test_streaming.py.

    Plan: one parse/explode pass, one (key, type) aggregate carrying
    both epochs as conditional sums (map-side combine, |schema| rows),
    one KB-sized window over key for the key-known flag.
    """
    from pyspark.sql import Window

    is_state = (F.col("event_id") % epoch_mod == 0).cast("int")
    kv = events.select(
        is_state.alias("is_state"),
        F.explode(
            F.from_json(_augmented_payload(), "map<string,string>")
        ).alias("key", "val"),
    )
    kt = kv.select(
        "is_state", "key", _value_type(F.col("val")).alias("ty")
    )
    counts = kt.groupBy("key", "ty").agg(
        F.sum("is_state").cast("bigint").alias("n_state"),
        F.sum(F.lit(1) - F.col("is_state")).cast("bigint").alias("n_batch"),
    )
    key_known = F.max((F.col("n_state") > 0).cast("int")).over(
        Window.partitionBy("key")
    )
    return counts.select(
        "key",
        "ty",
        "n_state",
        "n_batch",
        (F.col("n_state") + F.col("n_batch")).alias("n_merged"),
        (key_known == 0).alias("is_novel_key"),
        ((key_known == 1) & (F.col("n_state") == 0)).alias("is_novel_type"),
    )


def sql_schema_drift_state_merge(
    table: str = "events", epoch_mod: int = 2
) -> str:
    """DuckDB twin: identical augmentation, type ladder, epoch split,
    and novelty algebra."""
    aug = (
        "CASE WHEN user_id % 10 = 0 THEN props ELSE "
        "regexp_replace(props, '\\}$', '') "
        "|| (CASE WHEN props = '{}' THEN '' ELSE ', ' END) "
        "|| '\"et\": \"' || event_type "
        "|| '\", \"uid\": ' || CAST(user_id AS VARCHAR) || "
        "(CASE WHEN user_id % 7 = 0 THEN ', \"opt\": null' ELSE '' END) "
        "|| '}' END"
    )
    ty = (
        "CASE WHEN val IS NULL THEN 'null' "
        "WHEN regexp_matches(val, '^-?[0-9]+$') THEN 'int' "
        "WHEN regexp_matches(val, '^-?[0-9]*\\.[0-9]+$') THEN 'float' "
        "WHEN val IN ('true', 'false') THEN 'bool' "
        "WHEN val LIKE '[%' THEN 'array' "
        "WHEN val LIKE '{%' THEN 'object' "
        "ELSE 'string' END"
    )
    return f"""
WITH p AS (
  SELECT CASE WHEN event_id % {epoch_mod} = 0 THEN 1 ELSE 0 END AS is_state,
         {aug} AS p
  FROM {table} WHERE json_valid({aug})
),
kv AS (
  SELECT is_state, key, json_extract_string(p, '$.' || key) AS val FROM (
    SELECT is_state, p, unnest(json_keys(p)) AS key FROM p
  )
),
kt AS (SELECT is_state, key, {ty} AS ty FROM kv),
counts AS (
  SELECT key, ty,
         CAST(sum(is_state) AS BIGINT) AS n_state,
         CAST(sum(1 - is_state) AS BIGINT) AS n_batch
  FROM kt GROUP BY 1, 2
)
SELECT key, ty, n_state, n_batch,
       n_state + n_batch AS n_merged,
       (max(CASE WHEN n_state > 0 THEN 1 ELSE 0 END)
          OVER (PARTITION BY key) = 0) AS is_novel_key,
       ((max(CASE WHEN n_state > 0 THEN 1 ELSE 0 END)
          OVER (PARTITION BY key) = 1) AND n_state = 0) AS is_novel_type
FROM counts
"""
