"""Deterministic distributed sketches: KMV, HyperLogLog, count-min, Bloom.

At 100 TB, exact ``COUNT(DISTINCT)``, exact heavy-hitter tables, and
exact semi-joins against a billion-key build side are all shuffle-bound.
The standard answers are *mergeable sketches* — tiny commutative
summaries built with map-side partial aggregation and merged
associatively, so the shuffle moves kilobytes instead of the data:

- **KMV / bottom-k (theta sketch)**: keep the k smallest 60-bit hashes
  of the key; the k-th smallest estimates cardinality as
  ``(k-1) * 2^60 / kth``.  Partial sketches are per-task bottom-k sets;
  merge = union + re-take bottom-k.
- **HyperLogLog**: ``m`` registers, each the max leading-zero rank of
  the hashes routed to it.  Merge = element-wise max — a ``groupBy
  (bucket).max(rho)`` with map-side combine moves at most ``m`` rows
  per task, ever.
- **Count-min**: a ``d x w`` grid of counters; merge = cell-wise sum.
  Point estimate = min over the d row cells — always an OVERestimate,
  never under.
- **Bloom filter**: the runtime-filter / dynamic-partition-pruning
  primitive — build bits from the selective dim side, probe the fact
  side before the real join; zero false negatives by construction.

Everything here is *deterministic*: the hash is the repo-wide 60-bit
md5 idiom (digest.py), register/bucket arithmetic is integer-exact,
and the few float steps are single fixed-order IEEE expressions — so
every query has an EXACT DuckDB value-hash oracle, unlike
``approx_count_distinct``-style opaque sketches whose internals can't
be twinned (those are covered separately by ``approx_distinct_parts``).

Spark notes: the native equivalents are ``approx_count_distinct``
(HLL++), ``count_min_sketch``, and AQE runtime bloom filters
(``spark.sql.optimizer.runtime.bloomFilter.enabled``); this module
re-expresses them as plain DataFrame plans so the mechanics are
visible, checkable, and portable.

Reference parity note: the reference daemon (evtstrd) has no sketch
surface; this module is part of the training-data-pipeline tier the
engine adds on top (stats aggregation kin of `evtstrd/stats.py`).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, functions as F

from eventstreamd_spark.plans.memo import shared

# --- shared 60-bit hash idiom (see digest.py) -------------------------------

_B60 = 1152921504606846976  # 2^60; hashes are uniform in [0, 2^60)


from eventstreamd_spark.functions.text import h60 as _h60  # noqa: E402
from eventstreamd_spark.functions.text import sql_h60 as _sql_h60  # noqa: E402


# ---------------------------------------------------------------------------
# KMV (bottom-k) distinct sketch
# ---------------------------------------------------------------------------

KMV_K = 128


def kmv_distinct_events(events: DataFrame, k: int = KMV_K) -> DataFrame:
    """Bottom-k cardinality sketch over ``event_id``, checked against
    the exact count.

    The scalable shape: an Arrow ``mapInPandas`` kernel reduces each
    input batch to its bottom-k DISTINCT hashes (<= k rows out per
    batch, an 8-byte column — this is the map-side partial sketch), so
    the only shuffle-like step is the final bottom-k over the tiny
    survivor union (k x n_batches rows).  No corpus-wide distinct, no
    global sort: ``orderBy().limit(k)`` plans as TakeOrderedAndProject.

    The exact distinct count computed alongside is the *evaluation
    harness* (it lets the oracle assert the estimator's error bound);
    a production run at 100 TB would emit only the sketch row.
    """
    import pandas as pd

    hashes = events.select(_h60(F.col("event_id").cast("string")).alias("h"))

    def partial_bottom_k(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({"h": pdf["h"].drop_duplicates().nsmallest(k)})

    survivors = hashes.mapInPandas(partial_bottom_k, "h bigint")
    bottom = survivors.distinct().orderBy("h").limit(k)
    sketch = bottom.agg(
        F.count("*").cast("bigint").alias("k_kept"),
        F.max("h").alias("kth_hash"),
    )
    exact = hashes.agg(F.count_distinct("h").cast("bigint").alias("n_exact"))
    # standard KMV: with fewer than k distinct keys the sketch HOLDS
    # the whole key set — report it exactly; the (k-1)/theta estimator
    # only applies once the sketch saturates (unsaturated, it would
    # read ~k regardless of the true count)
    est = F.when(
        F.col("k_kept") < k, F.col("k_kept").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(float(_B60)) / F.col("kth_hash").cast("double")
    )
    out = sketch.crossJoin(F.broadcast(exact)).select(
        F.lit(k).cast("int").alias("k"),
        "k_kept",
        "kth_hash",
        est.alias("kmv_estimate"),
        "n_exact",
        (
            F.abs(est - F.col("n_exact").cast("double"))
            <= F.lit(0.45) * F.col("n_exact").cast("double")
        ).alias("within_bound"),
    )
    return out


def sql_kmv_distinct_events(table: str = "events", k: int = KMV_K) -> str:
    h = _sql_h60("CAST(event_id AS VARCHAR)")
    est = (
        f"(CASE WHEN k_kept < {k} THEN CAST(k_kept AS DOUBLE)"
        f" ELSE (CAST({k - 1} AS DOUBLE) * CAST({_B60} AS DOUBLE))"
        " / CAST(kth_hash AS DOUBLE) END)"
    )
    return f"""
WITH hashes AS (SELECT DISTINCT {h} AS h FROM {table}),
bottom AS (SELECT h FROM hashes ORDER BY h LIMIT {k}),
sketch AS (
  SELECT CAST(count(*) AS BIGINT) AS k_kept, max(h) AS kth_hash FROM bottom
),
exact AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM hashes)
SELECT CAST({k} AS INT) AS k, k_kept, kth_hash,
       {est} AS kmv_estimate, n_exact,
       (abs({est} - CAST(n_exact AS DOUBLE))
          <= CAST(0.45 AS DOUBLE) * CAST(n_exact AS DOUBLE)) AS within_bound
FROM sketch, exact
"""


# ---------------------------------------------------------------------------
# HyperLogLog with integer-exact registers
# ---------------------------------------------------------------------------

HLL_P = 6  # 2^6 = 64 registers; sigma ~ 1.04/sqrt(64) = 13%
_HLL_M = 1 << HLL_P
_REM_BITS = 60 - HLL_P  # 54-bit remainder per hash
_ALPHA_64 = 0.709  # Flajolet et al. 2007 constant for m = 64

# Linear-counting correction table for the small-range regime
# (E_raw <= 2.5m with empty registers): lc[V] = m * ln(m / V) for
# V = 1..m empty registers.  ln is transcendental with no cross-engine
# rounding contract, but its argument set here is FINITE — so the
# values are computed ONCE in Python and embedded as shortest-roundtrip
# double literals in BOTH the Spark plan and the DuckDB twin.  No
# runtime transcendental, bit-identical branches.
import math as _math

_LC_TABLE = [float(_HLL_M) * _math.log(_HLL_M / v) for v in range(1, _HLL_M + 1)]
_LC_THRESHOLD = 2.5 * _HLL_M


def _hll_est_columns(s_total: Column, n_zero: Column) -> Column:
    """Corrected HLL estimate column (Spark side)."""
    raw = (
        F.lit(_ALPHA_64)
        * F.lit(float(_HLL_M * _HLL_M))
        * F.lit(float(1 << (_REM_BITS + 1)))
        / s_total.cast("double")
    )
    lc = F.element_at(F.array(*[F.lit(v) for v in _LC_TABLE]), n_zero)
    return F.when(
        (raw <= F.lit(_LC_THRESHOLD)) & (n_zero > 0), lc
    ).otherwise(raw)


def _sql_hll_est(s_total: str, n_zero: str) -> str:
    """Corrected HLL estimate expression (DuckDB twin) — same literal
    table, same branch condition."""
    raw = (
        f"((CAST({_ALPHA_64} AS DOUBLE) * CAST({_HLL_M * _HLL_M} AS DOUBLE)"
        f" * CAST({1 << (_REM_BITS + 1)} AS DOUBLE)) / CAST({s_total} AS DOUBLE))"
    )
    # string->double parse is correctly rounded in both engines; a bare
    # decimal literal would be DECIMAL in DuckDB and its DECIMAL->DOUBLE
    # cast is the 1-ULP pitfall statistics.py documents
    lits = ", ".join(f"'{v!r}'::DOUBLE" for v in _LC_TABLE)
    return (
        f"(CASE WHEN {raw} <= '{_LC_THRESHOLD!r}'::DOUBLE"
        f" AND {n_zero} > 0"
        f" THEN list_extract([{lits}], {n_zero})"
        f" ELSE {raw} END)"
    )


def hll_registers(df: DataFrame, key: Column) -> DataFrame:
    """(bucket, m_rho) register table for the keys in ``df`` — the
    mergeable HLL state (merge = element-wise max).  Map-side combine
    caps the shuffle at m rows per task."""
    h = _h60(key)
    buck = F.expr(f"shiftright(h, {_REM_BITS})").alias("bucket")
    rem = F.expr(f"h % CAST({1 << _REM_BITS} AS BIGINT)")
    rho = F.when(rem == 0, F.lit(_REM_BITS + 1)).otherwise(
        F.lit(_REM_BITS + 1) - F.length(F.bin(rem))
    )
    return (
        df.select(h.alias("h"))
        .select(buck, rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("m_rho"))
    )


def hll_estimate_from_registers(regs: dict[int, int]) -> float:
    """Driver-side estimate from a merged register dict — the same
    fixed-order arithmetic and linear-counting branch as the
    distributed plan (the _LC_TABLE literals ARE this math.log)."""
    s = sum(1 << (_REM_BITS + 1 - r) for r in regs.values())
    n_zero = _HLL_M - len(regs)
    s += n_zero * (1 << (_REM_BITS + 1))
    raw = (
        _ALPHA_64 * float(_HLL_M * _HLL_M) * float(1 << (_REM_BITS + 1)) / float(s)
    )
    if raw <= _LC_THRESHOLD and n_zero > 0:
        return _LC_TABLE[n_zero - 1]
    return raw


def hll_merge_registers(a: dict[int, int], b: dict[int, int]) -> dict[int, int]:
    """Element-wise max merge of two register dicts."""
    out = dict(a)
    for k, v in b.items():
        out[k] = max(out.get(k, 0), v)
    return out


def hll_distinct_events(events: DataFrame) -> DataFrame:
    """HyperLogLog cardinality over ``event_id``: 64 integer registers,
    estimate from an integer-exact register sum.

    Register build is the canonical HLL plan: bucket = top-p bits of
    the hash, rho = leading-zero rank of the 54-bit remainder,
    ``groupBy(bucket).max(rho)`` — map-side combine caps the shuffle at
    m rows per task regardless of input size, and registers merge
    across corpora by element-wise max (property-tested).

    The indicator sum ``Z = sum(2^-M_j)`` is scaled by ``2^55`` so it
    accumulates as an exact BIGINT (order-independent, engine-exact);
    the estimate is then ONE fixed-order double expression, with the
    standard small-range linear-counting branch taken from _LC_TABLE —
    precomputed literals on both engines, so the transcendental never
    runs at query time (see the table's comment).
    """
    regs = hll_registers(events, F.col("event_id").cast("string"))
    # S = sum over all m registers of 2^(55 - M_j), empty registers
    # contribute 2^55 each; exact BIGINT (max 64 * 2^55 = 2^61).
    scaled = regs.agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({_REM_BITS + 1} - m_rho AS INT))")
        ).alias("s_present"),
        F.count("*").cast("int").alias("n_present"),
    )
    exact = events.agg(
        F.count_distinct(F.col("event_id")).cast("bigint").alias("n_exact")
    )
    s_total = (
        F.col("s_present")
        + (F.lit(_HLL_M) - F.col("n_present")).cast("bigint")
        * F.lit(1 << (_REM_BITS + 1))
    )
    n_zero = (F.lit(_HLL_M) - F.col("n_present")).cast("int")
    est = _hll_est_columns(s_total, n_zero)
    return scaled.crossJoin(F.broadcast(exact)).select(
        F.lit(_HLL_M).cast("int").alias("m"),
        s_total.alias("register_sum_scaled"),
        (F.lit(_HLL_M) - F.col("n_present")).cast("int").alias("n_zero_registers"),
        est.alias("hll_estimate"),
        "n_exact",
        (
            F.abs(est - F.col("n_exact").cast("double"))
            <= F.lit(0.5) * F.col("n_exact").cast("double")
        ).alias("within_bound"),
    )


def sql_hll_distinct_events(table: str = "events") -> str:
    h = _sql_h60("CAST(event_id AS VARCHAR)")
    rb, m = _REM_BITS, _HLL_M
    est = _sql_hll_est("s_total", f"({m} - n_present)")
    return f"""
WITH hashes AS (SELECT {h} AS h FROM {table}),
parts AS (
  SELECT (h >> {rb}) AS bucket, h % CAST({1 << rb} AS BIGINT) AS rem
  FROM hashes
),
regs AS (
  SELECT bucket,
         max(CASE WHEN rem = 0 THEN {rb + 1}
                  ELSE {rb + 1} - length(bin(rem)) END) AS m_rho
  FROM parts GROUP BY bucket
),
scaled AS (
  SELECT sum((1::BIGINT << CAST({rb + 1} - m_rho AS INT)))::BIGINT AS s_present,
         CAST(count(*) AS INT) AS n_present
  FROM regs
),
exact AS (
  SELECT CAST(count(DISTINCT event_id) AS BIGINT) AS n_exact FROM {table}
),
tot AS (
  SELECT s_present + CAST({m} - n_present AS BIGINT) * {1 << (rb + 1)}
           AS s_total,
         n_present
  FROM scaled
)
SELECT CAST({m} AS INT) AS m, s_total AS register_sum_scaled,
       CAST({m} - n_present AS INT) AS n_zero_registers,
       {est} AS hll_estimate, n_exact,
       (abs({est} - CAST(n_exact AS DOUBLE))
          <= CAST(0.5 AS DOUBLE) * CAST(n_exact AS DOUBLE)) AS within_bound
FROM tot, exact
"""


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_TOP = 20


def _cms_cell_array(key: Column, depth: int, width: int) -> Column:
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                (_h60(F.concat(F.lit(f"{i}:"), key)) % width).alias("col"),
            )
            for i in range(depth)
        ]
    )


def cms_cells(
    df: DataFrame, key: Column, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> DataFrame:
    """(i, col, cell_count) sketch table for the keys in ``df`` — the
    mergeable count-min state (merge = cell-wise sum).  The explode
    collapses under map-side combine to at most depth x width partial
    rows per task."""
    return (
        df.select(F.explode(_cms_cell_array(key, depth, width)).alias("c"))
        .groupBy(F.col("c.i").alias("i"), F.col("c.col").alias("col"))
        .agg(F.count("*").cast("bigint").alias("cell_count"))
    )


def cms_estimate_from_cells(
    cells: dict[tuple[int, int], int],
    key: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> int:
    """Driver-side point estimate from a merged cell dict — min over
    the key's d cells, same md5 coordinates as the distributed plan."""
    import hashlib

    est = None
    for i in range(depth):
        h = int(hashlib.md5(f"{i}:{key}".encode()).hexdigest()[:15], 16)
        v = cells.get((i, h % width), 0)
        est = v if est is None else min(est, v)
    return est or 0


def cms_heavy_hitters(
    events: DataFrame,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    top: int = CMS_TOP,
) -> DataFrame:
    """Count-min sketch point estimates for the top heavy-hitter users,
    next to their exact counts.

    Build: every event fans out to ``depth`` (row, col) cells — the
    explode happens inside the same stage as the hash aggregate, so
    map-side combine collapses it to at most ``depth x width`` partial
    rows per task before the (tiny) shuffle.  The sketch is cell-wise
    mergeable across corpora by construction.

    Probe: the exact top-N candidates (TakeOrderedAndProject, no global
    sort) join the broadcast d x w sketch on their own cell
    coordinates; the estimate is the min over the d cells and is
    provably >= the true count (``overcount >= 0`` for every row — the
    oracle asserts it).
    """
    cells = _cms_cell_array(F.col("user_id").cast("string"), depth, width)
    sketch = cms_cells(
        events, F.col("user_id").cast("string"), depth, width
    )
    candidates = (
        events.groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), F.col("user_id").asc())
        .limit(top)
    )
    probe = candidates.select(
        "user_id", "n_exact", F.explode(cells).alias("c")
    ).select("user_id", "n_exact", F.col("c.i").alias("i"), F.col("c.col").alias("col"))
    est = (
        probe.join(F.broadcast(sketch), ["i", "col"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("cell_count").alias("cms_estimate"))
    )
    return est.select(
        "user_id",
        "n_exact",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("n_exact")).alias("overcount"),
        (F.col("cms_estimate") >= F.col("n_exact")).alias("never_undercounts"),
    ).orderBy(F.col("n_exact").desc(), F.col("user_id").asc())


def sql_cms_heavy_hitters(
    table: str = "events",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    top: int = CMS_TOP,
) -> str:
    def col_expr(i: int) -> str:
        keyed = "('" + str(i) + ":' || CAST(user_id AS VARCHAR))"
        return f"({_sql_h60(keyed)} % {width})"

    rows = " UNION ALL ".join(
        f"SELECT user_id, {i} AS i, {col_expr(i)} AS col FROM {table}"
        for i in range(depth)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT user_id, n_exact, {i} AS i, {col_expr(i)} AS col FROM candidates"
        for i in range(depth)
    )
    return f"""
WITH fanout AS ({rows}),
sketch AS (
  SELECT i, col, CAST(count(*) AS BIGINT) AS cell_count
  FROM fanout GROUP BY i, col
),
candidates AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact
  FROM {table} GROUP BY user_id
  ORDER BY n_exact DESC, user_id ASC LIMIT {top}
),
probe AS ({probe_rows}),
est AS (
  SELECT p.user_id, p.n_exact, min(s.cell_count) AS cms_estimate
  FROM probe p JOIN sketch s USING (i, col)
  GROUP BY p.user_id, p.n_exact
)
SELECT user_id, n_exact, cms_estimate,
       (cms_estimate - n_exact) AS overcount,
       (cms_estimate >= n_exact) AS never_undercounts
FROM est
ORDER BY n_exact DESC, user_id ASC
"""


def cms_state_merge(
    events: DataFrame, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> DataFrame:
    """Batch twin of the streaming CMS monitor's MERGE step
    (streaming/pipeline.py::start_cms_topk_monitor): split the corpus
    into two "epochs" by event_id parity, sketch each epoch
    independently, fold the two cell tables additively — exactly the
    per-epoch ``merged[k] = merged.get(k, 0) + v`` fold the monitor
    runs behind ``pipeline.fold_monitor``'s epoch fence — and emit the
    merged state NEXT TO the one-shot sketch of the union.
    ``merge_exact`` pins the property the whole monitor rests on: a
    cell-wise sum of per-epoch count-min states equals the sketch of
    the concatenated stream, cell for cell, so replay-fenced epoch
    folds can never drift from a from-scratch rebuild.

    Plan: three sketch aggregates over two pushdown-partitioned scans
    (each at most d x w partial rows per task after map-side combine)
    joined on the d x w cell spine — state-table-in, state-table-out,
    never a per-event shuffle.
    """
    key = F.col("user_id").cast("string")
    even = events.filter(F.col("event_id") % 2 == 0)
    odd = events.filter(F.col("event_id") % 2 != 0)
    merged = (
        cms_cells(even, key, depth, width)
        .unionByName(cms_cells(odd, key, depth, width))
        .groupBy("i", "col")
        .agg(F.sum("cell_count").cast("bigint").alias("merged_count"))
    )
    full = cms_cells(events, key, depth, width).select(
        "i", "col", F.col("cell_count").alias("full_count")
    )
    return merged.join(full, ["i", "col"], "full_outer").select(
        "i",
        "col",
        F.coalesce(F.col("merged_count"), F.lit(0)).alias("merged_count"),
        F.coalesce(F.col("full_count"), F.lit(0)).alias("full_count"),
        (
            F.coalesce(F.col("merged_count"), F.lit(0))
            == F.coalesce(F.col("full_count"), F.lit(0))
        ).alias("merge_exact"),
    )


def sql_cms_state_merge(
    table: str = "events", depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> str:
    """DuckDB twin of cms_state_merge (same fan-out coordinates, same
    parity epochs, same additive fold)."""

    def col_expr(i: int) -> str:
        keyed = "('" + str(i) + ":' || CAST(user_id AS VARCHAR))"
        return f"({_sql_h60(keyed)} % {width})"

    def fanout(pred: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {i} AS i, {col_expr(i)} AS col "
            f"FROM {table} WHERE {pred}"
            for i in range(depth)
        )

    return f"""
WITH even_cells AS (
  SELECT i, col, CAST(count(*) AS BIGINT) AS cell_count
  FROM ({fanout("event_id % 2 = 0")}) GROUP BY i, col
),
odd_cells AS (
  SELECT i, col, CAST(count(*) AS BIGINT) AS cell_count
  FROM ({fanout("event_id % 2 <> 0")}) GROUP BY i, col
),
merged AS (
  SELECT i, col, CAST(sum(cell_count) AS BIGINT) AS merged_count
  FROM (SELECT * FROM even_cells UNION ALL SELECT * FROM odd_cells)
  GROUP BY i, col
),
full_sketch AS (
  SELECT i, col, CAST(count(*) AS BIGINT) AS full_count
  FROM ({fanout("TRUE")}) GROUP BY i, col
)
SELECT COALESCE(m.i, f.i) AS i,
       COALESCE(m.col, f.col) AS col,
       COALESCE(m.merged_count, 0) AS merged_count,
       COALESCE(f.full_count, 0) AS full_count,
       COALESCE(m.merged_count, 0) = COALESCE(f.full_count, 0)
         AS merge_exact
FROM merged m FULL OUTER JOIN full_sketch f
  ON m.i = f.i AND m.col = f.col
"""


# ---------------------------------------------------------------------------
# Bloom-filter join pruning
# ---------------------------------------------------------------------------

BLOOM_BITS = 1 << 16
BLOOM_K = 3
BLOOM_SEGMENT = "BUILDING"


def bloom_join_prune(
    customer: DataFrame,
    orders: DataFrame,
    segment: str = BLOOM_SEGMENT,
    m_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_K,
) -> DataFrame:
    """Bloom-filter pre-join pruning report: build bits from the
    selective customer-segment keys, probe every order, compare the
    bloom verdict with the true semi-join.

    This is the hand-rolled shape of Spark's AQE runtime bloom filter
    / dynamic partition pruning: the build side is tiny after its
    filter, the bit table (<= 2^16 distinct positions) broadcasts, and
    the probe is a narrow scan of the fact table — the real join then
    touches only ``n_pass_bloom`` rows instead of ``n_orders``.  The
    summary asserts the two structural guarantees: zero false
    negatives (every true match passes) and pass-set ⊇ true-set.
    """

    def positions(key: Column) -> Column:
        return F.array(
            *[
                (_h60(F.concat(F.lit(f"{j}:"), key.cast("string"))) % m_bits).alias(
                    f"p{j}"
                )
                for j in range(n_hashes)
            ]
        )

    seg = customer.filter(F.col("c_mktsegment") == segment).select("c_custkey")
    bits = (
        seg.select(F.explode(positions(F.col("c_custkey"))).alias("bitpos"))
        .distinct()
    )
    probe = orders.select(
        "o_orderkey",
        "o_custkey",
        F.explode(positions(F.col("o_custkey"))).alias("bitpos"),
    )
    hit = (
        probe.join(F.broadcast(bits).withColumn("hit", F.lit(1)), "bitpos", "left")
        .groupBy("o_orderkey", "o_custkey")
        .agg((F.count("hit") == n_hashes).alias("pass_bloom"))
    )
    # dedup the truth side (mirrors the twin's SELECT DISTINCT): a
    # duplicated build-side key would otherwise fan out probe rows in
    # the left join and inflate every count
    truth = seg.select("c_custkey").distinct().select(
        F.col("c_custkey").alias("t_custkey"), F.lit(True).alias("is_true")
    )
    flagged = hit.join(
        F.broadcast(truth), hit.o_custkey == truth.t_custkey, "left"
    ).select("pass_bloom", F.coalesce("is_true", F.lit(False)).alias("is_true"))
    return flagged.agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.col("pass_bloom").cast("int")).cast("bigint").alias("n_pass_bloom"),
        F.sum(F.col("is_true").cast("int")).cast("bigint").alias("n_true_match"),
        F.sum((F.col("pass_bloom") & ~F.col("is_true")).cast("int"))
        .cast("bigint")
        .alias("n_false_positive"),
        (F.sum((F.col("is_true") & ~F.col("pass_bloom")).cast("int")) == 0).alias(
            "no_false_negatives"
        ),
    ).select(
        "n_orders",
        "n_pass_bloom",
        "n_true_match",
        "n_false_positive",
        "no_false_negatives",
        (
            F.col("n_false_positive").cast("double")
            / F.col("n_orders").cast("double")
        ).alias("fp_rate"),
    )


def sql_bloom_join_prune(
    customer: str = "customer",
    orders: str = "orders",
    segment: str = BLOOM_SEGMENT,
    m_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_K,
) -> str:
    def pos(j: int, key: str) -> str:
        keyed = "('" + str(j) + ":' || CAST(" + key + " AS VARCHAR))"
        return f"({_sql_h60(keyed)} % {m_bits})"

    bit_rows = " UNION ALL ".join(
        f"SELECT {pos(j, 'c_custkey')} AS bitpos FROM seg" for j in range(n_hashes)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT o_orderkey, o_custkey, {pos(j, 'o_custkey')} AS bitpos"
        f" FROM {orders}"
        for j in range(n_hashes)
    )
    return f"""
WITH seg AS (
  SELECT c_custkey FROM {customer} WHERE c_mktsegment = '{segment}'
),
bits AS (SELECT DISTINCT bitpos FROM ({bit_rows})),
probe AS ({probe_rows}),
hit AS (
  SELECT p.o_orderkey, p.o_custkey,
         (count(b.bitpos) = {n_hashes}) AS pass_bloom
  FROM probe p LEFT JOIN bits b USING (bitpos)
  GROUP BY p.o_orderkey, p.o_custkey
),
flagged AS (
  SELECT h.pass_bloom,
         coalesce(s.c_custkey IS NOT NULL, FALSE) AS is_true
  FROM hit h LEFT JOIN (SELECT DISTINCT c_custkey FROM seg) s
    ON h.o_custkey = s.c_custkey
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CASE WHEN pass_bloom THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pass_bloom,
         CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT)
           AS n_true_match,
         CAST(sum(CASE WHEN pass_bloom AND NOT is_true THEN 1 ELSE 0 END)
              AS BIGINT) AS n_false_positive,
         (sum(CASE WHEN is_true AND NOT pass_bloom THEN 1 ELSE 0 END) = 0)
           AS no_false_negatives
  FROM flagged
)
SELECT n_orders, n_pass_bloom, n_true_match, n_false_positive,
       no_false_negatives,
       (CAST(n_false_positive AS DOUBLE) / CAST(n_orders AS DOUBLE))
         AS fp_rate
FROM agg
"""


# ---------------------------------------------------------------------------
# KMV set-operation estimates — join-size planning from two tiny sketches
# ---------------------------------------------------------------------------

KMV_JOIN_K = 256
KMV_JOIN_CUTOFF = "1998-01-01"


def kmv_join_size(
    orders: DataFrame, cutoff: str = KMV_JOIN_CUTOFF, k: int = KMV_JOIN_K
) -> DataFrame:
    """Theta-sketch-style join-size estimation: how many customer keys
    do the pre-``cutoff`` and post-``cutoff`` order populations share?

    The planner question behind every big join: |A ∩ B| decides
    broadcast vs shuffle vs skew handling, and at 100 TB you answer it
    from two k-row sketches, not a join.  Bottom-k over the UNION's
    hash space is a uniform sample of A ∪ B; among the k-1 hashes below
    the threshold θ (the k-th smallest), the fraction marked present in
    both sides estimates Jaccard, and |A ∩ B| ≈ c · 2^60 / θ follows.

    One distinct-by-hash aggregate carrying two presence flags (max of
    booleans — mergeable), one TakeOrdered bottom-k, fixed-order IEEE
    estimates; the exact intersection is computed alongside as the
    evaluation harness for the oracle's bound assertion.
    """
    cut = F.lit(cutoff).cast("timestamp")
    flagged = orders.select(
        _h60(F.col("o_custkey").cast("string")).alias("h"),
        (F.col("o_orderdate") < cut).cast("int").alias("in_a"),
        (F.col("o_orderdate") >= cut).cast("int").alias("in_b"),
    )
    # both the sketch leg and the exact-harness leg read the distinct
    # presence table; localCheckpoint materializes it once so the
    # corpus-wide distinct aggregate doesn't run twice (Catalyst does
    # not share the subtree across plan legs — same idiom as the BPE
    # vocab and the dedup edge list)
    presence = flagged.groupBy("h").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    ).localCheckpoint()
    bottom = presence.orderBy("h").limit(k)
    theta = bottom.agg(F.max("h").alias("theta"))
    below = bottom.crossJoin(F.broadcast(theta)).filter(F.col("h") < F.col("theta"))
    sk_agg = below.agg(
        F.count("*").cast("bigint").alias("n_below"),
        F.sum((F.col("in_a") * F.col("in_b")).cast("int"))
        .cast("bigint")
        .alias("n_both"),
        F.max("theta").alias("theta"),
    )
    exact = presence.agg(
        F.sum((F.col("in_a") * F.col("in_b")).cast("int"))
        .cast("bigint")
        .alias("n_intersect_exact"),
        F.count("*").cast("bigint").alias("n_union_exact"),
    )
    union_est = (
        F.col("n_below").cast("double")
        * F.lit(float(_B60))
        / F.col("theta").cast("double")
    )
    inter_est = (
        F.col("n_both").cast("double")
        * F.lit(float(_B60))
        / F.col("theta").cast("double")
    )
    return sk_agg.crossJoin(F.broadcast(exact)).select(
        F.lit(k).cast("int").alias("k"),
        "theta",
        "n_below",
        "n_both",
        union_est.alias("union_estimate"),
        inter_est.alias("intersect_estimate"),
        "n_union_exact",
        "n_intersect_exact",
        (
            F.abs(inter_est - F.col("n_intersect_exact").cast("double"))
            <= F.lit(0.5) * F.col("n_union_exact").cast("double")
        ).alias("within_bound"),
    )


def sql_kmv_join_size(
    orders: str = "orders", cutoff: str = KMV_JOIN_CUTOFF, k: int = KMV_JOIN_K
) -> str:
    h = _sql_h60("CAST(o_custkey AS VARCHAR)")
    u_est = (
        "(CAST(n_below AS DOUBLE)"
        f" * CAST({_B60} AS DOUBLE) / CAST(theta AS DOUBLE))"
    )
    i_est = (
        "(CAST(n_both AS DOUBLE)"
        f" * CAST({_B60} AS DOUBLE) / CAST(theta AS DOUBLE))"
    )
    return f"""
WITH presence AS (
  SELECT {h} AS h,
         max(CASE WHEN o_orderdate < TIMESTAMP '{cutoff}' THEN 1 ELSE 0 END)
           AS in_a,
         max(CASE WHEN o_orderdate >= TIMESTAMP '{cutoff}' THEN 1 ELSE 0 END)
           AS in_b
  FROM {orders} GROUP BY h
),
bottom AS (SELECT * FROM presence ORDER BY h LIMIT {k}),
theta AS (SELECT max(h) AS theta FROM bottom),
sk AS (
  SELECT CAST(count(*) AS BIGINT) AS n_below,
         CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
         max(t.theta) AS theta
  FROM bottom b CROSS JOIN theta t WHERE b.h < t.theta
),
exact AS (
  SELECT CAST(sum(in_a * in_b) AS BIGINT) AS n_intersect_exact,
         CAST(count(*) AS BIGINT) AS n_union_exact
  FROM presence
)
SELECT CAST({k} AS INT) AS k, theta, n_below, n_both,
       {u_est} AS union_estimate,
       {i_est} AS intersect_estimate,
       n_union_exact, n_intersect_exact,
       (abs({i_est} - CAST(n_intersect_exact AS DOUBLE))
          <= CAST(0.5 AS DOUBLE) * CAST(n_union_exact AS DOUBLE))
         AS within_bound
FROM sk, exact
"""


# ---------------------------------------------------------------------------
# Grouped HLL rollup — distinct-per-cell at warehouse scale
# ---------------------------------------------------------------------------


def hll_distinct_by_type(events: DataFrame) -> DataFrame:
    """Distinct users per event type via per-group HLL registers — the
    COUNT(DISTINCT) GROUP BY replacement whose state is m integers per
    GROUP, not a hash set per group.

    One aggregate on (event_type, bucket) with map-side combine (at
    most |types| x m partial rows per task), one m-row-per-type rollup
    to the integer register sum, one fixed-order IEEE estimate per
    type.  Group-level sketches stay mergeable, so a daily rollup and
    a monthly rollup are the SAME registers max-merged — compute once,
    re-aggregate forever (the cube-of-sketches pattern).

    Exact per-type distincts ride along as the evaluation harness.
    """
    h = _h60(F.col("user_id").cast("string"))
    rem = F.expr(f"h % CAST({1 << _REM_BITS} AS BIGINT)")
    rho = F.when(rem == 0, F.lit(_REM_BITS + 1)).otherwise(
        F.lit(_REM_BITS + 1) - F.length(F.bin(rem))
    )
    regs = (
        events.select("event_type", h.alias("h"))
        .select(
            "event_type",
            F.expr(f"shiftright(h, {_REM_BITS})").alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("m_rho"))
    )
    scaled = regs.groupBy("event_type").agg(
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST({_REM_BITS + 1} - m_rho AS INT))"
            )
        ).alias("s_present"),
        F.count("*").cast("int").alias("n_present"),
    )
    exact = events.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("n_exact")
    )
    s_total = (
        F.col("s_present")
        + (F.lit(_HLL_M) - F.col("n_present")).cast("bigint")
        * F.lit(1 << (_REM_BITS + 1))
    )
    est = _hll_est_columns(
        s_total, (F.lit(_HLL_M) - F.col("n_present")).cast("int")
    )
    return scaled.join(exact, "event_type").select(
        "event_type",
        s_total.alias("register_sum_scaled"),
        est.alias("hll_estimate"),
        "n_exact",
        (
            F.abs(est - F.col("n_exact").cast("double"))
            <= F.lit(0.5) * F.col("n_exact").cast("double")
        ).alias("within_bound"),
    )


def sql_hll_distinct_by_type(table: str = "events") -> str:
    h = _sql_h60("CAST(user_id AS VARCHAR)")
    rb, m = _REM_BITS, _HLL_M
    est = _sql_hll_est("t.s_total", f"({m} - t.n_present)")
    return f"""
WITH hashes AS (SELECT event_type, {h} AS h FROM {table}),
parts AS (
  SELECT event_type, (h >> {rb}) AS bucket,
         h % CAST({1 << rb} AS BIGINT) AS rem
  FROM hashes
),
regs AS (
  SELECT event_type, bucket,
         max(CASE WHEN rem = 0 THEN {rb + 1}
                  ELSE {rb + 1} - length(bin(rem)) END) AS m_rho
  FROM parts GROUP BY event_type, bucket
),
scaled AS (
  SELECT event_type,
         sum((1::BIGINT << CAST({rb + 1} - m_rho AS INT)))::BIGINT
           AS s_present,
         CAST(count(*) AS INT) AS n_present
  FROM regs GROUP BY event_type
),
exact AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM {table} GROUP BY event_type
),
tot AS (
  SELECT event_type,
         s_present + CAST({m} - n_present AS BIGINT) * {1 << (rb + 1)}
           AS s_total,
         n_present
  FROM scaled
)
SELECT t.event_type, t.s_total AS register_sum_scaled,
       {est} AS hll_estimate, e.n_exact,
       (abs({est} - CAST(e.n_exact AS DOUBLE))
          <= CAST(0.5 AS DOUBLE) * CAST(e.n_exact AS DOUBLE))
         AS within_bound
FROM tot t JOIN exact e USING (event_type)
"""


# ---------------------------------------------------------------------------
# Sliding-window distinct via mergeable HLL registers (the 100 TB path
# for rolling_active_users, built and evaluated rather than footnoted)
# ---------------------------------------------------------------------------


def day_hll_registers(events: DataFrame) -> DataFrame:
    """(d, bucket, m_rho) per-day HLL register table over user_id — the
    shared mergeable state consumed by both the batch window merge
    (rolling_wau_hll) and the streaming monitor
    (streaming/pipeline.start_rolling_wau_monitor, which holds them
    flat as (day, bucket) -> rho in ``fold_monitor``'s epoch-fenced
    state); one definition so the two faces cannot fork."""
    day = F.to_date(F.col("ts"))
    h = _h60(F.col("user_id").cast("string"))
    rem = F.expr(f"h % CAST({1 << _REM_BITS} AS BIGINT)")
    rho = F.when(rem == 0, F.lit(_REM_BITS + 1)).otherwise(
        F.lit(_REM_BITS + 1) - F.length(F.bin(rem))
    )
    return (
        events.select(day.alias("d"), h.alias("h"))
        .select(
            "d",
            F.expr(f"shiftright(h, {_REM_BITS})").alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("d", "bucket")
        .agg(F.max("rho").alias("m_rho"))
    )


def rolling_wau_hll(events: DataFrame, window_days: int = 7) -> DataFrame:
    """Trailing-``window_days`` distinct active users per spine day from
    PER-DAY HLL registers max-merged over the window — the sketch
    answer to "COUNT(DISTINCT) OVER RANGE", which no engine's window
    functions express and whose exact form needs a second corpus-scale
    distinct (statistics.rolling_active_users).

    Why this is the 100 TB shape: the one corpus pass aggregates to
    (day, bucket) registers — map-side combine caps every task's
    shuffle contribution at |days| x m rows, STRICTLY SMALLER than the
    exact tier's (day, user) dedup state — and every downstream step
    (spine fan-out, window max-merge, estimate) runs over a
    |days| x m = KB-sized table.  Registers are mergeable, so daily /
    weekly / monthly windows all re-merge the SAME per-day state:
    compute once, re-window forever.

    The exact trailing distinct rides along as the evaluation column
    (same pattern as hll_distinct_by_type), with the standard
    1.04/sqrt(m) ~ 13% error budget asserted at 4 sigma.
    """
    day = F.to_date(F.col("ts"))
    day_regs = day_hll_registers(events)
    spine = events.agg(
        F.min(day).alias("lo"), F.max(day).alias("hi")
    ).select(F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day"))
    win_regs = (
        day_regs.join(
            F.broadcast(spine),
            (F.col("day") >= F.col("d"))
            & (F.col("day") <= F.date_add(F.col("d"), window_days - 1)),
        )
        .groupBy("day", "bucket")
        .agg(F.max("m_rho").alias("m_rho"))
    )
    scaled = win_regs.groupBy("day").agg(
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST({_REM_BITS + 1} - m_rho AS INT))"
            )
        ).alias("s_present"),
        F.count(F.lit(1)).cast("int").alias("n_present"),
    )
    s_total = (
        F.col("s_present")
        + (F.lit(_HLL_M) - F.col("n_present")).cast("bigint")
        * F.lit(1 << (_REM_BITS + 1))
    )
    est = _hll_est_columns(
        s_total, (F.lit(_HLL_M) - F.col("n_present")).cast("int")
    )
    pairs = events.select(day.alias("d"), "user_id").distinct()
    exact = (
        pairs.join(
            F.broadcast(spine),
            (F.col("day") >= F.col("d"))
            & (F.col("day") <= F.date_add(F.col("d"), window_days - 1)),
        )
        .groupBy("day")
        .agg(F.count_distinct(F.col("user_id")).cast("bigint").alias("wau_exact"))
    )
    return (
        scaled.join(exact, "day")
        .select(
            F.col("day").cast("timestamp").alias("day"),
            s_total.alias("register_sum_scaled"),
            est.alias("wau_est"),
            "wau_exact",
            (
                F.abs(est - F.col("wau_exact").cast("double"))
                <= F.lit(0.52) * F.col("wau_exact").cast("double")
            ).alias("within_bound"),
        )
    )


def sql_rolling_wau_hll(table: str = "events", window_days: int = 7) -> str:
    h = _sql_h60("CAST(user_id AS VARCHAR)")
    rb, m = _REM_BITS, _HLL_M
    est = _sql_hll_est("t.s_total", f"({m} - t.n_present)")
    return f"""
WITH hashes AS (
  SELECT CAST(ts AS DATE) AS d, {h} AS h FROM {table}
),
day_regs AS (
  SELECT d, (h >> {rb}) AS bucket,
         max(CASE WHEN h % CAST({1 << rb} AS BIGINT) = 0 THEN {rb + 1}
                  ELSE {rb + 1} - length(bin(h % CAST({1 << rb} AS BIGINT)))
             END) AS m_rho
  FROM hashes GROUP BY 1, 2
),
bounds AS (
  SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi FROM {table}
),
spine AS (
  SELECT CAST(unnest(generate_series(lo::TIMESTAMP, hi::TIMESTAMP,
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
win_regs AS (
  SELECT s.day, r.bucket, max(r.m_rho) AS m_rho
  FROM day_regs r JOIN spine s
    ON s.day >= r.d AND s.day <= r.d + INTERVAL {window_days - 1} DAY
  GROUP BY 1, 2
),
scaled AS (
  SELECT day,
         sum((1::BIGINT << CAST({rb + 1} - m_rho AS INT)))::BIGINT
           AS s_present,
         CAST(count(*) AS INT) AS n_present
  FROM win_regs GROUP BY 1
),
tot AS (
  SELECT day,
         s_present + CAST({m} - n_present AS BIGINT) * {1 << (rb + 1)}
           AS s_total,
         n_present
  FROM scaled
),
pairs AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM {table}
),
exact AS (
  SELECT s.day, CAST(count(DISTINCT p.user_id) AS BIGINT) AS wau_exact
  FROM pairs p JOIN spine s
    ON s.day >= p.d AND s.day <= p.d + INTERVAL {window_days - 1} DAY
  GROUP BY 1
)
SELECT CAST(t.day AS TIMESTAMP) AS day, t.s_total AS register_sum_scaled,
       {est} AS wau_est, e.wau_exact,
       (abs({est} - CAST(e.wau_exact AS DOUBLE))
          <= CAST(0.52 AS DOUBLE) * CAST(e.wau_exact AS DOUBLE))
         AS within_bound
FROM tot t JOIN exact e ON t.day = e.day
"""


# ---------------------------------------------------------------------------
# Production (sketch-only) twins — the registered 100 TB artifact
# ---------------------------------------------------------------------------
#
# The `hll_*` family above carries the exact COUNT(DISTINCT) alongside the
# registers as an in-query evaluation column.  That is the right shape for
# oracle EVIDENCE and exactly the wrong shape for production: at 100 TB the
# exact leg is the dominant cost, and the whole point of the sketch is to
# never run it.  These twins register the SAME deterministic register
# arithmetic (integer max-merge, fixed-order IEEE estimate — so the DuckDB
# oracle stays value-exact) with the exact leg removed from the plan
# entirely; the 4-sigma accuracy bound moves to pytest
# (tests/test_sketches.py), where the eval-column siblings keep asserting it.


def _hll_rollup(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """registers -> (groups..., register_sum_scaled BIGINT, n_present INT):
    the exact-integer rollup shared by every sketch-only twin."""
    gb = regs.groupBy(*group_cols) if group_cols else regs.groupBy()
    return gb.agg(
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST({_REM_BITS + 1} - m_rho AS INT))"
            )
        ).alias("s_present"),
        F.count(F.lit(1)).cast("int").alias("n_present"),
    )


def _hll_finish(scaled: DataFrame, group_cols: list[str], est_alias: str) -> DataFrame:
    s_total = (
        F.col("s_present")
        + (F.lit(_HLL_M) - F.col("n_present")).cast("bigint")
        * F.lit(1 << (_REM_BITS + 1))
    )
    est = _hll_est_columns(
        s_total, (F.lit(_HLL_M) - F.col("n_present")).cast("int")
    )
    return scaled.select(
        *group_cols,
        s_total.alias("register_sum_scaled"),
        est.alias(est_alias),
    )


def hll_distinct_events_prod(events: DataFrame) -> DataFrame:
    """Sketch-only twin of hll_distinct_events: one register aggregate
    (m rows/task after map-side combine), one integer rollup, one
    fixed-order IEEE estimate — and NO exact leg anywhere in the plan.
    Accuracy vs exact is pinned in tests/test_sketches.py via the eval
    sibling; determinism makes the DuckDB oracle value-exact."""
    regs = hll_registers(events, F.col("event_id").cast("string"))
    return _hll_finish(_hll_rollup(regs, []), [], "hll_estimate")


def sql_hll_distinct_events_prod(table: str = "events") -> str:
    h = _sql_h60("CAST(event_id AS VARCHAR)")
    rb, m = _REM_BITS, _HLL_M
    est = _sql_hll_est("s_total", f"({m} - n_present)")
    return f"""
WITH parts AS (
  SELECT ({h} >> {rb}) AS bucket,
         {h} % CAST({1 << rb} AS BIGINT) AS rem
  FROM {table}
),
regs AS (
  SELECT bucket,
         max(CASE WHEN rem = 0 THEN {rb + 1}
                  ELSE {rb + 1} - length(bin(rem)) END) AS m_rho
  FROM parts GROUP BY bucket
),
scaled AS (
  SELECT sum((1::BIGINT << CAST({rb + 1} - m_rho AS INT)))::BIGINT AS s_present,
         CAST(count(*) AS INT) AS n_present
  FROM regs
),
tot AS (
  SELECT s_present + CAST({m} - n_present AS BIGINT) * {1 << (rb + 1)}
           AS s_total,
         n_present
  FROM scaled
)
SELECT s_total AS register_sum_scaled, {est} AS hll_estimate FROM tot
"""


def hll_distinct_by_type_prod(events: DataFrame) -> DataFrame:
    """Sketch-only twin of hll_distinct_by_type: grouped registers,
    |types| x m shuffle rows per task, no per-group exact distinct."""
    h = _h60(F.col("user_id").cast("string"))
    rem = F.expr(f"h % CAST({1 << _REM_BITS} AS BIGINT)")
    rho = F.when(rem == 0, F.lit(_REM_BITS + 1)).otherwise(
        F.lit(_REM_BITS + 1) - F.length(F.bin(rem))
    )
    regs = (
        events.select("event_type", h.alias("h"))
        .select(
            "event_type",
            F.expr(f"shiftright(h, {_REM_BITS})").alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("m_rho"))
    )
    return _hll_finish(
        _hll_rollup(regs, ["event_type"]), ["event_type"], "hll_estimate"
    )


def sql_hll_distinct_by_type_prod(table: str = "events") -> str:
    h = _sql_h60("CAST(user_id AS VARCHAR)")
    rb, m = _REM_BITS, _HLL_M
    est = _sql_hll_est("t.s_total", f"({m} - t.n_present)")
    return f"""
WITH parts AS (
  SELECT event_type, ({h} >> {rb}) AS bucket,
         {h} % CAST({1 << rb} AS BIGINT) AS rem
  FROM {table}
),
regs AS (
  SELECT event_type, bucket,
         max(CASE WHEN rem = 0 THEN {rb + 1}
                  ELSE {rb + 1} - length(bin(rem)) END) AS m_rho
  FROM parts GROUP BY event_type, bucket
),
scaled AS (
  SELECT event_type,
         sum((1::BIGINT << CAST({rb + 1} - m_rho AS INT)))::BIGINT
           AS s_present,
         CAST(count(*) AS INT) AS n_present
  FROM regs GROUP BY event_type
),
tot AS (
  SELECT event_type,
         s_present + CAST({m} - n_present AS BIGINT) * {1 << (rb + 1)}
           AS s_total,
         n_present
  FROM scaled
)
SELECT t.event_type, t.s_total AS register_sum_scaled, {est} AS hll_estimate
FROM tot t
"""


def rolling_wau_hll_prod(events: DataFrame, window_days: int = 7) -> DataFrame:
    """Sketch-only twin of rolling_wau_hll: per-day registers max-merged
    over the trailing window — the ONLY corpus pass is the (day, bucket)
    register build; the spine fan-out, window merge, and estimate all
    run over the |days| x m KB-sized register table.  The exact
    trailing distinct never appears in this plan."""
    day = F.to_date(F.col("ts"))
    day_regs = day_hll_registers(events)
    spine = events.agg(
        F.min(day).alias("lo"), F.max(day).alias("hi")
    ).select(F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day"))
    win_regs = (
        day_regs.join(
            F.broadcast(spine),
            (F.col("day") >= F.col("d"))
            & (F.col("day") <= F.date_add(F.col("d"), window_days - 1)),
        )
        .groupBy("day", "bucket")
        .agg(F.max("m_rho").alias("m_rho"))
    )
    out = _hll_finish(_hll_rollup(win_regs, ["day"]), ["day"], "wau_est")
    return out.select(
        F.col("day").cast("timestamp").alias("day"),
        "register_sum_scaled",
        "wau_est",
    )


def sql_rolling_wau_hll_prod(table: str = "events", window_days: int = 7) -> str:
    h = _sql_h60("CAST(user_id AS VARCHAR)")
    rb, m = _REM_BITS, _HLL_M
    est = _sql_hll_est("t.s_total", f"({m} - t.n_present)")
    return f"""
WITH hashes AS (
  SELECT CAST(ts AS DATE) AS d, {h} AS h FROM {table}
),
day_regs AS (
  SELECT d, (h >> {rb}) AS bucket,
         max(CASE WHEN h % CAST({1 << rb} AS BIGINT) = 0 THEN {rb + 1}
                  ELSE {rb + 1} - length(bin(h % CAST({1 << rb} AS BIGINT)))
             END) AS m_rho
  FROM hashes GROUP BY 1, 2
),
bounds AS (
  SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi FROM {table}
),
spine AS (
  SELECT CAST(unnest(generate_series(lo::TIMESTAMP, hi::TIMESTAMP,
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
win_regs AS (
  SELECT s.day, r.bucket, max(r.m_rho) AS m_rho
  FROM day_regs r JOIN spine s
    ON s.day >= r.d AND s.day <= r.d + INTERVAL {window_days - 1} DAY
  GROUP BY 1, 2
),
scaled AS (
  SELECT day,
         sum((1::BIGINT << CAST({rb + 1} - m_rho AS INT)))::BIGINT
           AS s_present,
         CAST(count(*) AS INT) AS n_present
  FROM win_regs GROUP BY 1
),
tot AS (
  SELECT day,
         s_present + CAST({m} - n_present AS BIGINT) * {1 << (rb + 1)}
           AS s_total,
         n_present
  FROM scaled
)
SELECT CAST(t.day AS TIMESTAMP) AS day, t.s_total AS register_sum_scaled,
       {est} AS wau_est
FROM tot t
"""


def kmv_distinct_events_prod(events: DataFrame, k: int = KMV_K) -> DataFrame:
    """Sketch-only twin of kmv_distinct_events: the mapInPandas bottom-k
    partials and the TakeOrdered survivor merge, with the corpus-wide
    exact distinct REMOVED from the plan (it was the eval harness; the
    bound stays asserted via the sibling in pytest)."""
    import pandas as pd

    hashes = events.select(_h60(F.col("event_id").cast("string")).alias("h"))

    def partial_bottom_k(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({"h": pdf["h"].drop_duplicates().nsmallest(k)})

    survivors = hashes.mapInPandas(partial_bottom_k, "h bigint")
    bottom = survivors.distinct().orderBy("h").limit(k)
    sketch = bottom.agg(
        F.count("*").cast("bigint").alias("k_kept"),
        F.max("h").alias("kth_hash"),
    )
    est = F.when(
        F.col("k_kept") < k, F.col("k_kept").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(float(_B60)) / F.col("kth_hash").cast("double")
    )
    return sketch.select(
        F.lit(k).cast("int").alias("k"),
        "k_kept",
        "kth_hash",
        est.alias("kmv_estimate"),
    )


def sql_kmv_distinct_events_prod(table: str = "events", k: int = KMV_K) -> str:
    h = _sql_h60("CAST(event_id AS VARCHAR)")
    est = (
        f"(CASE WHEN k_kept < {k} THEN CAST(k_kept AS DOUBLE)"
        f" ELSE (CAST({k - 1} AS DOUBLE) * CAST({_B60} AS DOUBLE))"
        " / CAST(kth_hash AS DOUBLE) END)"
    )
    return f"""
WITH hashes AS (SELECT DISTINCT {h} AS h FROM {table}),
bottom AS (SELECT h FROM hashes ORDER BY h LIMIT {k}),
sketch AS (
  SELECT CAST(count(*) AS BIGINT) AS k_kept, max(h) AS kth_hash FROM bottom
)
SELECT CAST({k} AS INT) AS k, k_kept, kth_hash, {est} AS kmv_estimate
FROM sketch
"""


def kmv_join_size_prod(
    orders: DataFrame, cutoff: str = KMV_JOIN_CUTOFF, k: int = KMV_JOIN_K
) -> DataFrame:
    """Sketch-only twin of kmv_join_size: the planner answers |A ∩ B| /
    |A ∪ B| from the two k-row sketches alone — the corpus-wide exact
    intersection (the eval leg) never runs.  Theta is a window max over
    the k-row bottom, so the bottom has exactly ONE consumer and the
    corpus-wide presence aggregate runs once (a broadcast-theta leg
    would re-scan orders per consumer; round-8 ADVICE fix)."""
    from pyspark.sql.window import Window

    cut = F.lit(cutoff).cast("timestamp")
    flagged = orders.select(
        _h60(F.col("o_custkey").cast("string")).alias("h"),
        (F.col("o_orderdate") < cut).cast("int").alias("in_a"),
        (F.col("o_orderdate") >= cut).cast("int").alias("in_b"),
    )
    presence = flagged.groupBy("h").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    bottom = presence.orderBy("h").limit(k)
    # max over the whole (single, k-row) window — k is sketch-sized, so
    # the one-partition window is a constant-cost driver-free step
    below = bottom.withColumn(
        "theta", F.max("h").over(Window.partitionBy(F.lit(1)))
    ).filter(F.col("h") < F.col("theta"))
    sk_agg = below.agg(
        F.count("*").cast("bigint").alias("n_below"),
        F.sum((F.col("in_a") * F.col("in_b")).cast("int"))
        .cast("bigint")
        .alias("n_both"),
        F.max("theta").alias("theta"),
    )
    union_est = (
        F.col("n_below").cast("double")
        * F.lit(float(_B60))
        / F.col("theta").cast("double")
    )
    inter_est = (
        F.col("n_both").cast("double")
        * F.lit(float(_B60))
        / F.col("theta").cast("double")
    )
    return sk_agg.select(
        F.lit(k).cast("int").alias("k"),
        "theta",
        "n_below",
        "n_both",
        union_est.alias("union_estimate"),
        inter_est.alias("intersect_estimate"),
    )


def sql_kmv_join_size_prod(
    orders: str = "orders", cutoff: str = KMV_JOIN_CUTOFF, k: int = KMV_JOIN_K
) -> str:
    h = _sql_h60("CAST(o_custkey AS VARCHAR)")
    u_est = (
        "(CAST(n_below AS DOUBLE)"
        f" * CAST({_B60} AS DOUBLE) / CAST(theta AS DOUBLE))"
    )
    i_est = (
        "(CAST(n_both AS DOUBLE)"
        f" * CAST({_B60} AS DOUBLE) / CAST(theta AS DOUBLE))"
    )
    return f"""
WITH presence AS (
  SELECT {h} AS h,
         max(CASE WHEN o_orderdate < TIMESTAMP '{cutoff}' THEN 1 ELSE 0 END)
           AS in_a,
         max(CASE WHEN o_orderdate >= TIMESTAMP '{cutoff}' THEN 1 ELSE 0 END)
           AS in_b
  FROM {orders} GROUP BY h
),
bottom AS (SELECT * FROM presence ORDER BY h LIMIT {k}),
theta AS (SELECT max(h) AS theta FROM bottom),
sk AS (
  SELECT CAST(count(*) AS BIGINT) AS n_below,
         CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
         max(t.theta) AS theta
  FROM bottom b CROSS JOIN theta t WHERE b.h < t.theta
)
SELECT CAST({k} AS INT) AS k, theta, n_below, n_both,
       {u_est} AS union_estimate, {i_est} AS intersect_estimate
FROM sk
"""


# ---------------------------------------------------------------------------
# Log-bucket quantile sketch (the missing member of the mergeable family)
# ---------------------------------------------------------------------------

QSK_M = 5  # mantissa bits per octave: bucket relative width <= 2^-M (3.1%)
QSK_FRACS = (0.5, 0.9, 0.95, 0.99)


def logbucket_registers(
    lineitem: DataFrame,
    group_col: str | None = None,
    value: Column | None = None,
    weight: Column | None = None,
) -> DataFrame:
    """Mergeable quantile-sketch registers over ``l_extendedprice``
    (cents-scaled): DDSketch's idea (Masson et al., VLDB 2019 —
    guaranteed RELATIVE error from log-spaced buckets) built log-free,
    so it stays bit-deterministic across engines.  A positive value's
    bucket is its (bit-length, top-``QSK_M``-mantissa-bits) pair packed
    into one integer key — pure integer shifts, no libm — with values
    below ``2^QSK_M`` stored exactly.  Bucket key order equals value
    order, bucket width/lower-bound <= 2^-QSK_M, and the register
    table is (key, count) with ADDITIVE merge: at most
    64 x 2^(QSK_M+1) rows ever cross a shuffle, map-side combined, so
    a 100 TB percentile costs one scan + a KB exchange (the exact
    nearest-rank tier, ``exact_quantile_values``, re-reads its cut
    buckets from the corpus; this never touches the corpus again).

    Merge = ``GROUP BY key SUM(c)`` — associative, commutative; the
    even/odd-half merge is pinned equal to the full build in
    tests/test_sketches.py.
    """
    gcols = [group_col] if group_col else []
    v = (
        value
        if value is not None
        else F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")
    )
    wcols = [weight.cast("long").alias("__w")] if weight is not None else []
    small_cap = 1 << QSK_M
    base = lineitem.select(*gcols, v.alias("__v"), *wcols)
    e = F.length(F.bin(F.col("__v"))).cast("long")
    sh = F.when(F.col("__v") < small_cap, F.lit(0).cast("long")).otherwise(
        e - 1 - QSK_M
    )
    wpass = ["__w"] if weight is not None else []
    b = base.select(
        *gcols,
        "__v",
        *wpass,
        e.alias("__e"),
        (F.col("__v") < small_cap).alias("__small"),
        sh.alias("__sh"),
    ).select(
        *gcols,
        "__v",
        *wpass,
        "__e",
        "__small",
        "__sh",
        F.expr("shiftright(__v, cast(__sh as int))").alias("__sub"),
    )
    key = F.when(F.col("__small"), F.col("__v")).otherwise(
        F.col("__e") * (1 << (QSK_M + 1)) + F.col("__sub")
    )
    lb = F.when(F.col("__small"), F.col("__v")).otherwise(
        F.expr("shiftleft(__sub, cast(__sh as int))")
    )
    ub = F.when(F.col("__small"), F.col("__v")).otherwise(
        F.expr("shiftleft(__sub + 1, cast(__sh as int))") - 1
    )
    c = (
        F.sum("__w").cast("bigint")
        if weight is not None
        else F.count(F.lit(1))
    )
    return b.groupBy(
        *gcols, key.alias("bucket"), lb.alias("lb"), ub.alias("ub")
    ).agg(c.alias("c"))


def logbucket_quantiles(
    lineitem: DataFrame,
    fracs: tuple = QSK_FRACS,
    weight: Column | None = None,
) -> DataFrame:
    """Quantile lookup over the log-bucket registers: nearest-rank
    placement via one cumulative window over the KB bucket table (key
    order == value order), reporting each bucket's exact [lb, ub]
    envelope — the true nearest-rank value is INSIDE it by
    construction (pinned against exact_quantile_values in pytest).

    Plan: one corpus scan to the register table; everything after is
    O(buckets) — the tiny-window exemption."""
    from pyspark.sql import Window as W

    # the register table feeds THREE consumers (cumulative walk, total,
    # final envelope join) whose column pruning makes each subtree
    # distinct — without materialization Spark re-scans and re-
    # aggregates the corpus per consumer (6 scans measured, zero
    # ReusedExchange).  The registers are KB (the memo contract's
    # intended case): materialize once, one corpus scan total.
    regs = shared(logbucket_registers, lineitem, weight=weight)
    wcum = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    cum = regs.select("bucket", "c").withColumn(
        "cum", F.sum("c").over(wcum)
    )
    tot = regs.agg(F.sum("c").cast("bigint").alias("n"))
    fr = lineitem.sparkSession.createDataFrame(
        [(float(f),) for f in fracs], "frac double"
    )
    ranks = fr.crossJoin(F.broadcast(tot)).select(
        "frac",
        F.ceil(F.col("frac") * F.col("n")).cast("bigint").alias("rk"),
    )
    pick = (
        cum.crossJoin(F.broadcast(ranks))
        .filter(F.col("cum") >= F.col("rk"))
        .groupBy("frac", "rk")
        .agg(F.min("bucket").alias("bucket"))
    )
    return pick.join(regs, "bucket").select(
        "frac",
        F.col("rk").alias("rank"),
        "bucket",
        F.col("lb").alias("lb_cents"),
        F.col("ub").alias("ub_cents"),
        (F.col("lb").cast("double") / 100.0).alias("est_price"),
    )


def sql_logbucket_quantiles(
    table: str = "lineitem", fracs: tuple = QSK_FRACS
) -> str:
    """DuckDB twin: identical cents scaling, bit-length/shift bucket
    arithmetic, cumulative placement, and single lb/100 division."""
    m = QSK_M
    cap = 1 << m
    fl = ", ".join(f"({float(f)})" for f in fracs)
    return f"""
WITH base AS (
  SELECT CAST(round(l_extendedprice * 100.0, 0) AS BIGINT) AS v FROM {table}
),
b AS (
  SELECT v, CAST(length(bin(v)) AS BIGINT) AS e, v < {cap} AS small,
         CASE WHEN v < {cap}
              THEN CAST(0 AS BIGINT)
              ELSE CAST(length(bin(v)) AS BIGINT) - 1 - {m} END AS sh
  FROM base
),
b2 AS (SELECT v, e, small, sh, v >> sh AS sub FROM b),
regs AS (
  SELECT CASE WHEN small THEN v ELSE e * {1 << (m + 1)} + sub END AS bucket,
         CASE WHEN small THEN v ELSE sub << sh END AS lb,
         CASE WHEN small THEN v ELSE ((sub + 1) << sh) - 1 END AS ub,
         count(*) AS c
  FROM b2 GROUP BY 1, 2, 3
),
cum AS (
  SELECT bucket, c, sum(c) OVER (ORDER BY bucket) AS cum FROM regs
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM regs),
fr AS (SELECT CAST(x AS DOUBLE) AS frac FROM (VALUES {fl}) t(x)),
ranks AS (
  SELECT frac, CAST(ceil(frac * n) AS BIGINT) AS rk FROM fr, tot
),
pick AS (
  SELECT frac, rk, min(bucket) AS bucket
  FROM cum, ranks WHERE cum >= rk GROUP BY frac, rk
)
SELECT p.frac AS frac, p.rk AS rank, p.bucket AS bucket,
       r.lb AS lb_cents, r.ub AS ub_cents,
       CAST(r.lb AS DOUBLE) / 100.0 AS est_price
FROM pick p JOIN regs r ON r.bucket = p.bucket
"""


def logbucket_quantiles_by_group(
    lineitem: DataFrame,
    group_col: str = "l_returnflag",
    fracs: tuple = QSK_FRACS,
    value: Column | None = None,
) -> DataFrame:
    """Per-group quantile envelopes from the grouped register table —
    the production shape of a 100 TB percentile dashboard (p99 per
    service / per event type): ONE corpus scan builds
    |groups| x buckets registers (map-side combined), then per-group
    cumulative placement over the KB table.  Nothing downstream of the
    registers ever touches the corpus, and register merge stays
    additive per (group, bucket), so the same state serves any group
    rollup (the grouped-HLL argument applied to quantiles)."""
    from pyspark.sql import Window as W

    # same three-consumer shape as logbucket_quantiles: share the KB
    # register table so the corpus is scanned once, not per consumer
    regs = shared(logbucket_registers, lineitem, group_col=group_col, value=value)
    wcum = (
        W.partitionBy(group_col)
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = regs.select(group_col, "bucket", "c").withColumn(
        "cum", F.sum("c").over(wcum)
    )
    tot = regs.groupBy(group_col).agg(F.sum("c").cast("bigint").alias("n"))
    fr = lineitem.sparkSession.createDataFrame(
        [(float(f),) for f in fracs], "frac double"
    )
    ranks = tot.crossJoin(F.broadcast(fr)).select(
        group_col,
        "frac",
        F.ceil(F.col("frac") * F.col("n")).cast("bigint").alias("rk"),
    )
    pick = (
        cum.join(F.broadcast(ranks), group_col)
        .filter(F.col("cum") >= F.col("rk"))
        .groupBy(group_col, "frac", "rk")
        .agg(F.min("bucket").alias("bucket"))
    )
    return pick.join(regs, [group_col, "bucket"]).select(
        group_col,
        "frac",
        F.col("rk").alias("rank"),
        "bucket",
        F.col("lb").alias("lb_cents"),
        F.col("ub").alias("ub_cents"),
        (F.col("lb").cast("double") / 100.0).alias("est_price"),
    )


def sql_logbucket_quantiles_by_group(
    table: str = "lineitem",
    group_col: str = "l_returnflag",
    fracs: tuple = QSK_FRACS,
    value_expr: str = "l_extendedprice",
) -> str:
    """DuckDB twin: identical grouped registers and per-group
    cumulative placement."""
    m = QSK_M
    cap = 1 << m
    fl = ", ".join(f"({float(f)})" for f in fracs)
    return f"""
WITH base AS (
  SELECT {group_col} AS g,
         CAST(round({value_expr} * 100.0, 0) AS BIGINT) AS v
  FROM {table}
),
b AS (
  SELECT g, v, CAST(length(bin(v)) AS BIGINT) AS e, v < {cap} AS small,
         CASE WHEN v < {cap}
              THEN CAST(0 AS BIGINT)
              ELSE CAST(length(bin(v)) AS BIGINT) - 1 - {m} END AS sh
  FROM base
),
b2 AS (SELECT g, v, e, small, sh, v >> sh AS sub FROM b),
regs AS (
  SELECT g,
         CASE WHEN small THEN v ELSE e * {1 << (m + 1)} + sub END AS bucket,
         CASE WHEN small THEN v ELSE sub << sh END AS lb,
         CASE WHEN small THEN v ELSE ((sub + 1) << sh) - 1 END AS ub,
         count(*) AS c
  FROM b2 GROUP BY 1, 2, 3, 4
),
cum AS (
  SELECT g, bucket, c,
         sum(c) OVER (PARTITION BY g ORDER BY bucket) AS cum
  FROM regs
),
tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM regs GROUP BY g),
fr AS (SELECT CAST(x AS DOUBLE) AS frac FROM (VALUES {fl}) t(x)),
ranks AS (
  SELECT g, frac, CAST(ceil(frac * n) AS BIGINT) AS rk FROM tot, fr
),
pick AS (
  SELECT c.g, r.frac, r.rk, min(c.bucket) AS bucket
  FROM cum c JOIN ranks r ON r.g = c.g
  WHERE c.cum >= r.rk GROUP BY 1, 2, 3
)
SELECT p.g AS {group_col}, p.frac AS frac, p.rk AS rank, p.bucket AS bucket,
       r.lb AS lb_cents, r.ub AS ub_cents,
       CAST(r.lb AS DOUBLE) / 100.0 AS est_price
FROM pick p JOIN regs r ON r.g = p.g AND r.bucket = p.bucket
"""


QCAT_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def column_quantiles_catalog(
    lineitem: DataFrame,
    cols: tuple = QCAT_COLS,
    fracs: tuple = QSK_FRACS,
) -> DataFrame:
    """ANALYZE-style per-column quantile catalog: p50/p90/p95/p99
    envelopes for every numeric column from ONE corpus scan — the
    equi-depth-histogram statistics a cost-based optimizer wants,
    produced by melting the columns into (column, value) rows and
    reusing the grouped log-bucket machinery (group = column name).

    All columns quantize x100 to two-dp integers (the repo's scaled-int
    idiom); zero is handled exactly by the small-value path (bin(0) =
    '0' in both engines, and the small branch never consults the
    bit-length).  Shuffle cap: n_cols x 4096 register rows/task after
    map-side combine — the column_stats_catalog_hll argument applied
    to quantiles.
    """
    from eventstreamd_spark.session import fan_out

    # fan_out before the 4x explode: a narrow local scan would otherwise
    # run the melt+bucket fold on too few partitions (the
    # column_stats_catalog_hll idiom)
    melted = fan_out(lineitem).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.round(F.col(c) * 100.0, 0)
                        .cast("long")
                        .alias("v"),
                    )
                    for c in cols
                ]
            )
        ).alias("kv")
    ).select(F.col("kv.column").alias("column"), F.col("kv.v").alias("v"))
    out = logbucket_quantiles_by_group(
        melted, group_col="column", fracs=fracs, value=F.col("v")
    )
    return out.select(
        "column",
        "frac",
        "rank",
        "bucket",
        F.col("lb_cents").alias("lb_scaled"),
        F.col("ub_cents").alias("ub_scaled"),
        F.col("est_price").alias("est_value"),
    )


def sql_column_quantiles_catalog(
    table: str = "lineitem",
    cols: tuple = QCAT_COLS,
    fracs: tuple = QSK_FRACS,
) -> str:
    """DuckDB twin: UNION ALL melt + the identical grouped bucket
    arithmetic."""
    m = QSK_M
    cap = 1 << m
    fl = ", ".join(f"({float(f)})" for f in fracs)
    melt = " UNION ALL ".join(
        f"SELECT '{c}' AS g, CAST(round({c} * 100.0, 0) AS BIGINT) AS v "
        f"FROM {table}"
        for c in cols
    )
    return f"""
WITH base AS ({melt}),
b AS (
  SELECT g, v, CAST(length(bin(v)) AS BIGINT) AS e, v < {cap} AS small,
         CASE WHEN v < {cap}
              THEN CAST(0 AS BIGINT)
              ELSE CAST(length(bin(v)) AS BIGINT) - 1 - {m} END AS sh
  FROM base
),
b2 AS (SELECT g, v, e, small, sh, v >> sh AS sub FROM b),
regs AS (
  SELECT g,
         CASE WHEN small THEN v ELSE e * {1 << (m + 1)} + sub END AS bucket,
         CASE WHEN small THEN v ELSE sub << sh END AS lb,
         CASE WHEN small THEN v ELSE ((sub + 1) << sh) - 1 END AS ub,
         count(*) AS c
  FROM b2 GROUP BY 1, 2, 3, 4
),
cum AS (
  SELECT g, bucket, c,
         sum(c) OVER (PARTITION BY g ORDER BY bucket) AS cum
  FROM regs
),
tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM regs GROUP BY g),
fr AS (SELECT CAST(x AS DOUBLE) AS frac FROM (VALUES {fl}) t(x)),
ranks AS (
  SELECT g, frac, CAST(ceil(frac * n) AS BIGINT) AS rk FROM tot, fr
),
pick AS (
  SELECT c.g, r.frac, r.rk, min(c.bucket) AS bucket
  FROM cum c JOIN ranks r ON r.g = c.g
  WHERE c.cum >= r.rk GROUP BY 1, 2, 3
)
SELECT p.g AS "column", p.frac AS frac, p.rk AS rank, p.bucket AS bucket,
       r.lb AS lb_scaled, r.ub AS ub_scaled,
       CAST(r.lb AS DOUBLE) / 100.0 AS est_value
FROM pick p JOIN regs r ON r.g = p.g AND r.bucket = p.bucket
"""


def sql_logbucket_quantiles_weighted(
    table: str = "lineitem", fracs: tuple = QSK_FRACS
) -> str:
    """DuckDB twin of the quantity-WEIGHTED price quantiles: identical
    bucket arithmetic with register counts replaced by integer weight
    sums (rank = ceil(frac * total_weight))."""
    m = QSK_M
    cap = 1 << m
    fl = ", ".join(f"({float(f)})" for f in fracs)
    return f"""
WITH base AS (
  SELECT CAST(round(l_extendedprice * 100.0, 0) AS BIGINT) AS v,
         CAST(l_quantity AS BIGINT) AS w
  FROM {table}
),
b AS (
  SELECT v, w, CAST(length(bin(v)) AS BIGINT) AS e, v < {cap} AS small,
         CASE WHEN v < {cap}
              THEN CAST(0 AS BIGINT)
              ELSE CAST(length(bin(v)) AS BIGINT) - 1 - {m} END AS sh
  FROM base
),
b2 AS (SELECT v, w, e, small, sh, v >> sh AS sub FROM b),
regs AS (
  SELECT CASE WHEN small THEN v ELSE e * {1 << (m + 1)} + sub END AS bucket,
         CASE WHEN small THEN v ELSE sub << sh END AS lb,
         CASE WHEN small THEN v ELSE ((sub + 1) << sh) - 1 END AS ub,
         CAST(sum(w) AS BIGINT) AS c
  FROM b2 GROUP BY 1, 2, 3
),
cum AS (
  SELECT bucket, c, sum(c) OVER (ORDER BY bucket) AS cum FROM regs
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM regs),
fr AS (SELECT CAST(x AS DOUBLE) AS frac FROM (VALUES {fl}) t(x)),
ranks AS (
  SELECT frac, CAST(ceil(frac * n) AS BIGINT) AS rk FROM fr, tot
),
pick AS (
  SELECT frac, rk, min(bucket) AS bucket
  FROM cum, ranks WHERE cum >= rk GROUP BY frac, rk
)
SELECT p.frac AS frac, p.rk AS rank, p.bucket AS bucket,
       r.lb AS lb_cents, r.ub AS ub_cents,
       CAST(r.lb AS DOUBLE) / 100.0 AS est_price
FROM pick p JOIN regs r ON r.bucket = p.bucket
"""
