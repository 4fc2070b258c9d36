"""Second-moment statistical aggregates, engine-portable.

The reference has no aggregation over event data at all (SURVEY.md §2
absence list); this module adds the variance/stddev/correlation family
a real analytics engine needs — implemented the *portable* way.

Spark's built-in ``stddev``/``var_samp``/``corr`` accumulate doubles in
partition order, so two runs with different partitionings (or Spark vs
DuckDB) disagree in the last ULPs and a value-hash oracle comparison
fails.  Instead we aggregate exact decimal POWER SUMS (sum x, sum x²,
sum xy — associative, commutative, order-independent) and apply the
closed-form moment formulas in DOUBLE at the very end.  Both engines
then execute the identical IEEE expression on bit-identical inputs.

At 100 TB this is also the cheaper plan: power sums keep map-side
partial aggregation fully associative (one decimal add per row per
moment), and the double math runs once per group, not per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from eventstreamd_spark.plans.memo import shared

D4 = "decimal(28,4)"
D8 = "decimal(38,8)"


def _d2d(expr: str) -> str:
    """DuckDB exact DECIMAL/HUGEINT -> DOUBLE: the VARCHAR round-trip
    is correctly rounded (the direct cast can be 1 ULP off above 2^53,
    dividing separately-rounded int128 value and 10^scale doubles),
    matching Spark's BigDecimal.doubleValue().  The module's one
    cross-engine canonicalization idiom — keep every SQL twin on it.
    """
    return f"CAST(CAST({expr} AS VARCHAR) AS DOUBLE)"



def _power_sums(x: F.Column, y: F.Column) -> list[F.Column]:
    """Exact power sums for two 2-dp metric columns."""
    xd = x.cast(D4)
    yd = y.cast(D4)
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum((xd * xd).cast(D8)).cast("double").alias("sxx"),
        F.sum((yd * yd).cast(D8)).cast("double").alias("syy"),
        F.sum((xd * yd).cast(D8)).cast("double").alias("sxy"),
    ]


def price_quantity_moments(lineitem: DataFrame) -> DataFrame:
    """Per-returnflag variance, stddev, and quantity/price correlation.

    One shuffle on a 3-value key; six decimal partial aggregates
    collapse map-side, then the moment formulas run on six numbers per
    group.  Formula structure is mirrored exactly in the SQL oracle so
    the double bits agree.
    """
    g = lineitem.groupBy("l_returnflag").agg(
        *_power_sums(F.col("l_quantity"), F.col("l_extendedprice"))
    )
    n = F.col("n").cast("double")
    var_q = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - F.lit(1.0))
    var_p = (F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - F.lit(1.0))
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - F.lit(1.0))
    return g.select(
        "l_returnflag",
        F.col("n"),
        var_q.alias("var_qty"),
        F.sqrt(var_q).alias("stddev_qty"),
        var_p.alias("var_price"),
        F.sqrt(var_p).alias("stddev_price"),
        (cov / (F.sqrt(var_q) * F.sqrt(var_p))).alias("corr_qty_price"),
    )


def sql_price_quantity_moments(lineitem: str = "lineitem") -> str:
    d2d = _d2d  # exact decimal->double canonicalization (module helper)

    sums = (
        "SELECT l_returnflag, CAST(COUNT(1) AS BIGINT) AS n, "
        + d2d("SUM(CAST(l_quantity AS DECIMAL(28,4)))")
        + " AS sx, "
        + d2d("SUM(CAST(l_extendedprice AS DECIMAL(28,4)))")
        + " AS sy, "
        + d2d(
            "SUM(CAST(CAST(l_quantity AS DECIMAL(28,4)) "
            "* CAST(l_quantity AS DECIMAL(28,4)) AS DECIMAL(38,8)))"
        )
        + " AS sxx, "
        + d2d(
            "SUM(CAST(CAST(l_extendedprice AS DECIMAL(28,4)) "
            "* CAST(l_extendedprice AS DECIMAL(28,4)) AS DECIMAL(38,8)))"
        )
        + " AS syy, "
        + d2d(
            "SUM(CAST(CAST(l_quantity AS DECIMAL(28,4)) "
            "* CAST(l_extendedprice AS DECIMAL(28,4)) AS DECIMAL(38,8)))"
        )
        + " AS sxy "
        f"FROM {lineitem} GROUP BY l_returnflag"
    )
    var_q = "((sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))"
    var_p = "((syy - sy * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))"
    cov = "((sxy - sx * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))"
    return (
        "SELECT l_returnflag, n, "
        f"{var_q} AS var_qty, sqrt({var_q}) AS stddev_qty, "
        f"{var_p} AS var_price, sqrt({var_p}) AS stddev_price, "
        f"({cov} / (sqrt({var_q}) * sqrt({var_p}))) AS corr_qty_price "
        f"FROM ({sums})"
    )


def embedding_dim_stats(embeddings: DataFrame) -> DataFrame:
    """Per-dimension range audit of an embedding column: lateral
    explode (posexplode) -> group by dimension index.

    Uses only order-independent exact aggregates (min/max/count) —
    float32 values carry full mantissas, so decimal-rounded sums would
    not be portable, but float->double widening is exact and min/max
    compare identically everywhere.

    Scale: the explode multiplies rows by the dimension count BUT
    map-side partial aggregation collapses each task back to n_dims
    rows before the (tiny, n_dims-key) shuffle — the wide intermediate
    never hits the wire.
    """
    exploded = embeddings.select(
        F.posexplode("embedding").alias("dim", "val")
    ).select("dim", F.col("val").cast("double").alias("val"))
    return exploded.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
        (F.max("val") - F.min("val")).alias("val_range"),
    )


def sql_embedding_dim_stats(embeddings: str = "embeddings") -> str:
    return (
        "SELECT dim, CAST(COUNT(1) AS BIGINT) AS n, "
        "MIN(val) AS min_val, MAX(val) AS max_val, "
        "(MAX(val) - MIN(val)) AS val_range FROM ("
        "SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim, "
        "CAST(UNNEST(embedding) AS DOUBLE) AS val "
        f"FROM {embeddings}"
        ") GROUP BY dim"
    )


def daily_event_spine(
    spark,
    events: DataFrame,
    event_type: str = "purchase",
    start: str = "2024-01-01",
    end: str = "2024-02-14",
) -> DataFrame:
    """Gap-filled daily counts: a generated date spine LEFT JOINed to
    per-day aggregates, zeros where no events occurred.

    The spine is `sequence()` + explode — generated on the driver-side
    literal bounds, a few hundred rows, broadcast free.  The aggregate
    side shuffles once on day.  This is the canonical reporting shape
    the raw groupBy can't produce (it silently drops empty days).
    """
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(start).cast("date"),
                F.lit(end).cast("date"),
            )
        ).alias("day")
    )
    per_day = (
        events.filter(F.col("event_type") == event_type)
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,4)")).cast("double").alias("total_value"),
        )
    )
    # day goes out as TIMESTAMP: Spark DATE arrives in pandas as
    # python-date objects while DuckDB DATE arrives as datetime64 —
    # the hash compare then disagrees on identical values.  Timestamps
    # canonicalize identically on both engines (repo convention).
    return spine.join(per_day, "day", "left").select(
        F.col("day").cast("timestamp").alias("day"),
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        F.coalesce(F.col("total_value"), F.lit(0.0)).alias("total_value"),
    )


def sql_daily_event_spine(
    event_type: str = "purchase",
    start: str = "2024-01-01",
    end: str = "2024-02-14",
    events: str = "events",
) -> str:
    return (
        "SELECT CAST(day AS TIMESTAMP) AS day, "
        "COALESCE(n_events, CAST(0 AS BIGINT)) AS n_events, "
        "COALESCE(total_value, 0.0) AS total_value FROM ("
        f"SELECT CAST(UNNEST(generate_series(DATE '{start}', DATE '{end}', "
        "INTERVAL 1 DAY)) AS DATE) AS day) spine "
        "LEFT JOIN ("
        "SELECT CAST(ts AS DATE) AS day, CAST(COUNT(1) AS BIGINT) AS n_events, "
        "CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS total_value "
        f"FROM {events} WHERE event_type = '{event_type}' GROUP BY CAST(ts AS DATE)"
        ") agg USING (day)"
    )


# ---------------------------------------------------------------------------
# Distribution drift — total-variation distance between corpus slices
# ---------------------------------------------------------------------------


def event_value_drift(events: DataFrame) -> DataFrame:
    """Per-event-type distribution drift between two deterministic
    slices of the stream (even vs odd event_id stands in for
    yesterday-vs-today), as TOTAL VARIATION DISTANCE over unit value
    bins — the data-drift monitor a training pipeline runs before
    admitting a new batch.

    TVD is chosen over PSI/KL deliberately: those need log(), whose
    libm rounding differs across engines, while TVD is pure rational
    arithmetic.  Same trick as the power-sum moments above: accumulate
    the INTEGER numerator sum(|c_ref*M - c_cand*N|) (order-free,
    exact), divide once at the end — both engines evaluate one
    identical IEEE division per group.

    Plan: ONE fact scan to the (type, bin) counts (map-side partials);
    the per-type totals come from a window over the bin table itself —
    |types x bins| rows, KB not TB — so the fact table is never
    scanned or aggregated twice (a totals-as-separate-aggregate
    formulation would re-run the whole bin aggregation just to sum
    it).  The final per-type aggregate reuses the window's
    event_type partitioning: no further exchange.
    """
    from pyspark.sql import Window as W

    binned = events.select(
        "event_type",
        F.floor(F.col("value")).cast("bigint").alias("bin"),
        (F.col("event_id") % 2 == 0).alias("is_ref"),
    )
    bins = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("c_ref"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("c_cand"),
    )
    wt = W.partitionBy("event_type")
    num = (
        bins.withColumn("n_ref", F.sum("c_ref").over(wt))
        .withColumn("n_cand", F.sum("c_cand").over(wt))
        .groupBy("event_type", "n_ref", "n_cand")
        .agg(
            F.count("*").alias("n_bins"),
            F.sum(
                F.abs(
                    F.col("c_ref") * F.col("n_cand")
                    - F.col("c_cand") * F.col("n_ref")
                )
            ).alias("__num"),
        )
    )
    return num.select(
        "event_type",
        F.col("n_bins").cast("bigint").alias("n_bins"),
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cand").cast("bigint").alias("n_cand"),
        (
            F.col("__num").cast("double")
            / (2.0 * F.col("n_ref").cast("double") * F.col("n_cand").cast("double"))
        ).alias("tvd"),
    )


def sql_event_value_drift(table: str = "events") -> str:
    """DuckDB twin — identical integer numerator, one final division."""
    return f"""
WITH binned AS (
  SELECT event_type, CAST(floor(value) AS BIGINT) AS bin,
         event_id % 2 = 0 AS is_ref
  FROM {table}
), bins AS (
  SELECT event_type, bin,
         sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS c_ref,
         sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS c_cand
  FROM binned GROUP BY event_type, bin
), totals AS (
  SELECT event_type, sum(c_ref) AS n_ref, sum(c_cand) AS n_cand
  FROM bins GROUP BY event_type
)
SELECT b.event_type,
       CAST(count(*) AS BIGINT) AS n_bins,
       CAST(t.n_ref AS BIGINT) AS n_ref,
       CAST(t.n_cand AS BIGINT) AS n_cand,
       CAST(sum(abs(b.c_ref * t.n_cand - b.c_cand * t.n_ref)) AS DOUBLE)
         / (2.0 * CAST(t.n_ref AS DOUBLE) * CAST(t.n_cand AS DOUBLE)) AS tvd
FROM bins b JOIN totals t USING (event_type)
GROUP BY b.event_type, t.n_ref, t.n_cand
"""


# ---------------------------------------------------------------------------
# Winsorized statistics — exact nearest-rank cuts without a global sort
# ---------------------------------------------------------------------------


def winsorized_price_stats(lineitem: DataFrame, p_bp: int = 100) -> DataFrame:
    """Outlier-robust price statistics: clip l_extendedprice at the
    exact nearest-rank ``p_bp``-basis-point quantiles (100 bp = 1%
    each tail), then aggregate decimal-exact — the robust
    preprocessing step before any scale-sensitive downstream model.

    The interesting part is finding an EXACT order statistic at 100 TB
    without sorting 100 TB: the classic histogram-refinement two-pass —
    1. one shuffle to unit-bucket counts (floor(v)); the cumulative
       count window runs over the BUCKET table (distinct integer
       prices — KB, the documented tiny-window exemption), locating
       which bucket contains each target rank and the residual
       in-bucket rank;
    2. one narrow pass re-reads ONLY the two cut buckets (broadcast
       the 2-row bucket spec; per-bucket row_number over a bucket-
       sized partition) to extract the exact cut values;
    3. one final narrow pass clips against the broadcast cuts and
       aggregates with the decimal-exact sum/avg helpers.
    Nearest-rank (no interpolation) keeps the cuts actual data values,
    so both engines agree bit-for-bit; rank arithmetic is the same
    IEEE expression on both sides.
    """
    from pyspark.sql import Window as W

    from eventstreamd_spark.functions.exact import davg, dsum

    base = lineitem.select(F.col("l_extendedprice").alias("v"))
    bcol = F.floor(F.col("v")).cast("long")
    buckets = base.groupBy(bcol.alias("b")).agg(F.count("*").alias("c"))
    wcum = W.orderBy("b").rowsBetween(W.unboundedPreceding, 0)
    cum = buckets.withColumn("cum", F.sum("c").over(wcum))
    tot = buckets.agg(F.sum("c").cast("bigint").alias("n"))
    cj = cum.crossJoin(F.broadcast(tot))
    lo_rank = F.ceil(F.lit(p_bp) / 10000.0 * F.col("n")).cast("bigint")
    hi_rank = F.col("n") - lo_rank + 1

    def cut_bucket(rank: F.Column, which: str) -> DataFrame:
        return (
            cj.filter(F.col("cum") >= rank)
            .orderBy("b")
            .limit(1)
            .select(
                F.lit(which).alias("which"),
                "b",
                (rank - (F.col("cum") - F.col("c"))).alias("tr"),
            )
        )

    cut_spec = cut_bucket(lo_rank, "lo").unionAll(cut_bucket(hi_rank, "hi"))
    win = W.partitionBy("which").orderBy("v")
    cuts = (
        base.join(F.broadcast(cut_spec), bcol == F.col("b"))
        .withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == F.col("tr"))
        .groupBy()
        .agg(
            F.max(F.when(F.col("which") == "lo", F.col("v"))).alias("lo_cut"),
            F.max(F.when(F.col("which") == "hi", F.col("v"))).alias("hi_cut"),
        )
    )
    cl = F.greatest(F.col("lo_cut"), F.least(F.col("hi_cut"), F.col("v")))
    return (
        base.crossJoin(F.broadcast(cuts))
        .groupBy("lo_cut", "hi_cut")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum((F.col("v") < F.col("lo_cut")).cast("int"))
            .cast("bigint")
            .alias("n_clipped_low"),
            F.sum((F.col("v") > F.col("hi_cut")).cast("int"))
            .cast("bigint")
            .alias("n_clipped_high"),
            dsum(cl, "sum_winsorized"),
            davg(cl, "avg_winsorized"),
        )
        .select(
            "n_rows", "lo_cut", "hi_cut", "n_clipped_low",
            "n_clipped_high", "sum_winsorized", "avg_winsorized",
        )
    )


def sql_winsorized_price_stats(
    lineitem: str = "lineitem", p_bp: int = 100
) -> str:
    """DuckDB twin — the spec-level single-sort formulation (the oracle
    may sort; the engine may not)."""
    from eventstreamd_spark.functions.exact import sql_davg, sql_dsum

    clip = "greatest(lo_cut, least(hi_cut, v))"
    return f"""
WITH base AS (SELECT l_extendedprice AS v FROM {lineitem}),
tot AS (SELECT count(*) AS n FROM base),
ranked AS (SELECT v, row_number() OVER (ORDER BY v) AS r FROM base),
cuts AS (
  SELECT
    (SELECT v FROM ranked, tot
      WHERE r = CAST(ceil({p_bp} / 10000.0 * n) AS BIGINT)) AS lo_cut,
    (SELECT v FROM ranked, tot
      WHERE r = n - CAST(ceil({p_bp} / 10000.0 * n) AS BIGINT) + 1) AS hi_cut
)
SELECT CAST(count(*) AS BIGINT) AS n_rows, lo_cut, hi_cut,
       CAST(sum(CASE WHEN v < lo_cut THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_low,
       CAST(sum(CASE WHEN v > hi_cut THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_high,
       {sql_dsum(clip, "sum_winsorized")},
       {sql_davg(clip, "avg_winsorized")}
FROM base, cuts
GROUP BY lo_cut, hi_cut
"""


# ---------------------------------------------------------------------------
# Corpus profiling (ANALYZE-style data-quality report)
# ---------------------------------------------------------------------------


def profile_documents(docs: DataFrame) -> DataFrame:
    """One-row data-quality profile of the documents table: row/null
    counts, per-column distinct cardinalities, length extremes and the
    exact total — the ANALYZE pass a pipeline runs on every new drop
    before admitting it (and the stats a cost-based planner wants).

    Plan: one scan, one aggregate; the distinct counts use Spark's
    count(DISTINCT) expansion (map-side partial per distinct column).
    At 100 TB you would swap the exact distincts for HLL
    (approx_count_distinct, see approx_distinct_parts) — kept exact
    here so the oracle can verify the surface bit-for-bit.
    """
    return docs.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.col("text").isNull().cast("int")).cast("bigint").alias("n_null_text"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


def sql_profile_documents(table: str = "documents") -> str:
    return f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_text,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM {table}
"""


# ---------------------------------------------------------------------------
# Gap-fill with linear interpolation (time-series repair)
# ---------------------------------------------------------------------------


def interpolated_daily_series(
    spark,
    events: DataFrame,
    event_type: str = "purchase",
    start: str = "2024-01-01",
    end: str = "2024-02-14",
) -> DataFrame:
    """Daily value series with missing days LINEARLY INTERPOLATED
    between their nearest observed neighbors (boundary gaps take the
    nearest observation) — the repair step between gap detection
    (daily_event_spine's zeros) and any model that assumes a regular
    series.

    Mechanics: spine LEFT JOIN daily totals (NULL marks a gap), then
    last_value/first_value IGNORE NULLS windows fetch the bracketing
    observations and the fill is prev + (next - prev) * day_fraction —
    one fixed-order IEEE expression over decimal-exact inputs, so both
    engines produce identical doubles.  The ordered windows run over
    the SPINE (bounded by the calendar, KB — the documented tiny-window
    exemption); the fact table only feeds the one per-day aggregate.
    """
    spine = spark.range(1).select(
        F.explode(
            F.sequence(F.lit(start).cast("date"), F.lit(end).cast("date"))
        ).alias("day")
    )
    per_day = (
        events.filter(F.col("event_type") == event_type)
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(28,4)"))
            .cast("double")
            .alias("observed_value")
        )
    )
    from pyspark.sql import Window as W

    joined = spine.join(per_day, "day", "left")
    before = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    after = W.orderBy("day").rowsBetween(0, W.unboundedFollowing)
    prev_val = F.last("observed_value", ignorenulls=True).over(before)
    next_val = F.first("observed_value", ignorenulls=True).over(after)
    prev_day = F.last(
        F.when(F.col("observed_value").isNotNull(), F.col("day")), True
    ).over(before)
    next_day = F.first(
        F.when(F.col("observed_value").isNotNull(), F.col("day")), True
    ).over(after)
    frac = F.datediff(F.col("day"), prev_day).cast("double") / F.datediff(
        next_day, prev_day
    ).cast("double")
    filled = (
        F.when(F.col("observed_value").isNotNull(), F.col("observed_value"))
        .when(prev_val.isNull(), next_val)
        .when(next_val.isNull(), prev_val)
        .otherwise(prev_val + (next_val - prev_val) * frac)
    )
    return joined.select(
        F.col("day").cast("timestamp").alias("day"),
        F.col("observed_value").isNotNull().alias("observed"),
        filled.alias("value_filled"),
    )


def sql_interpolated_daily_series(
    table: str = "events",
    event_type: str = "purchase",
    start: str = "2024-01-01",
    end: str = "2024-02-14",
) -> str:
    """DuckDB twin — same IGNORE NULLS windows and fill expression."""
    return f"""
WITH spine AS (
  SELECT unnest(generate_series(DATE '{start}', DATE '{end}',
                INTERVAL 1 DAY))::DATE AS day
), per_day AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(CAST(sum(CAST(value AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE)
           AS observed_value
  FROM {table} WHERE event_type = '{event_type}'
  GROUP BY CAST(ts AS DATE)
), j AS (
  SELECT s.day, p.observed_value FROM spine s
  LEFT JOIN per_day p ON p.day = s.day
), w AS (
  SELECT day, observed_value,
    last_value(observed_value IGNORE NULLS) OVER
      (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS prev_val,
    first_value(observed_value IGNORE NULLS) OVER
      (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      AS next_val,
    last_value(CASE WHEN observed_value IS NOT NULL THEN day END
      IGNORE NULLS) OVER
      (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS prev_day,
    first_value(CASE WHEN observed_value IS NOT NULL THEN day END
      IGNORE NULLS) OVER
      (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      AS next_day
  FROM j
)
SELECT CAST(day AS TIMESTAMP) AS day,
       observed_value IS NOT NULL AS observed,
       CASE
         WHEN observed_value IS NOT NULL THEN observed_value
         WHEN prev_val IS NULL THEN next_val
         WHEN next_val IS NULL THEN prev_val
         ELSE prev_val + (next_val - prev_val) *
           (CAST(datediff('day', prev_day, day) AS DOUBLE)
            / CAST(datediff('day', prev_day, next_day) AS DOUBLE))
       END AS value_filled
FROM w
"""


# ---------------------------------------------------------------------------
# Exact multi-quantile extraction — one histogram-refinement pass
# ---------------------------------------------------------------------------

DECILES = tuple(i / 10.0 for i in range(1, 10))


def exact_quantile_values(
    df: DataFrame, col: str, fracs: tuple = DECILES
) -> DataFrame:
    """EXACT nearest-rank quantile values for every fraction in
    ``fracs`` from ONE histogram-refinement pass — the multi-cut
    generalization of winsorized_price_stats' machinery (all cut
    buckets are located from the same bucket table, and one narrow
    re-read of only those buckets extracts every value).

    approx_percentile trades error for speed; a 100 TB sort is the
    exact-but-impossible alternative.  This is exact AND sorted-
    nothing: bucket counts (one shuffle), a cumulative window over the
    bucket table (KB), a tiny range join to place each target rank in
    its bucket, then per-fraction windows over single-bucket row sets.

    Output: (frac, rank, value) — `value` is an actual data value
    (nearest-rank, no interpolation), so both engines agree bit-for-bit.
    """
    from pyspark.sql import Window as W

    base = df.select(F.col(col).alias("v"))
    bcol = F.floor(F.col("v")).cast("long")
    buckets = base.groupBy(bcol.alias("b")).agg(F.count("*").alias("c"))
    wcum = W.orderBy("b").rowsBetween(W.unboundedPreceding, 0)
    cum = buckets.withColumn("cum", F.sum("c").over(wcum))
    tot = buckets.agg(F.sum("c").cast("bigint").alias("n"))
    fr = df.sparkSession.createDataFrame(
        [(float(f),) for f in fracs], "frac double"
    )
    ranks = fr.crossJoin(F.broadcast(tot)).select(
        "frac", F.ceil(F.col("frac") * F.col("n")).cast("bigint").alias("rk")
    )
    placed = (
        cum.crossJoin(F.broadcast(ranks))
        .filter(F.col("cum") >= F.col("rk"))
        .groupBy("frac", "rk")
        .agg(F.min("b").alias("b"))
    )
    spec = placed.join(cum, "b").select(
        "frac", "rk", "b", (F.col("rk") - (F.col("cum") - F.col("c"))).alias("tr")
    )
    win = W.partitionBy("frac").orderBy("v")
    return (
        base.join(F.broadcast(spec), bcol == F.col("b"))
        .withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == F.col("tr"))
        .select("frac", F.col("rk").alias("rank"), F.col("v").alias("value"))
    )


def sql_exact_quantile_values(
    table: str, col: str, fracs: tuple = DECILES
) -> str:
    """DuckDB twin — the spec-level single-sort statement."""
    fl = ", ".join(f"({float(f)})" for f in fracs)
    return f"""
WITH base AS (SELECT {col} AS v FROM {table}),
tot AS (SELECT count(*) AS n FROM base),
ranked AS (SELECT v, row_number() OVER (ORDER BY v) AS r FROM base),
fr(frac) AS (VALUES {fl}),
ranks AS (SELECT frac, CAST(ceil(frac * n) AS BIGINT) AS rk FROM fr, tot)
SELECT ranks.frac, ranks.rk AS rank, ranked.v AS value
FROM ranks JOIN ranked ON ranked.r = ranks.rk
"""


# ---------------------------------------------------------------------------
# Source concentration audit (Lorenz / cumulative-share curve)
# ---------------------------------------------------------------------------


def source_concentration(docs: DataFrame) -> DataFrame:
    """Corpus concentration by source: sources ranked by document
    mass with cumulative counts and shares — the Lorenz-curve audit
    that answers "how many sources until 90% of the corpus?" before a
    per-domain cap or mix decision is made.

    One aggregation to per-source counts; the ranked cumulative window
    runs over the SOURCE table (|sources| rows — the tiny-window
    exemption).  Shares are single divisions of exact integers.
    """
    from pyspark.sql import Window as W

    per_source = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    tot = per_source.agg(F.sum("n_docs").alias("n_total"))
    w = W.orderBy(F.desc("n_docs"), "source").rowsBetween(
        W.unboundedPreceding, 0
    )
    return (
        per_source.crossJoin(F.broadcast(tot))
        .withColumn("source_rank", F.row_number().over(
            W.orderBy(F.desc("n_docs"), "source")
        ))
        .withColumn("cum_docs", F.sum("n_docs").over(w))
        .select(
            F.col("source_rank").cast("bigint").alias("source_rank"),
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("cum_docs").cast("bigint").alias("cum_docs"),
            (
                F.col("cum_docs").cast("double")
                / F.col("n_total").cast("double")
            ).alias("cum_share"),
        )
    )


def sql_source_concentration(table: str = "documents") -> str:
    return f"""
WITH per_source AS (
  SELECT source, count(*) AS n_docs FROM {table} GROUP BY source
), tot AS (SELECT sum(n_docs) AS n_total FROM per_source)
SELECT CAST(row_number() OVER w AS BIGINT) AS source_rank,
       source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(sum(n_docs) OVER (ORDER BY n_docs DESC, source
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_docs,
       CAST(sum(n_docs) OVER (ORDER BY n_docs DESC, source
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         / CAST(n_total AS DOUBLE) AS cum_share
FROM per_source, tot
WINDOW w AS (ORDER BY n_docs DESC, source)
"""


# ---------------------------------------------------------------------------
# Robust outlier detection (median / MAD)
# ---------------------------------------------------------------------------

MAD_K = 1.4826  # consistency constant: MAD * K estimates sigma under normality
MAD_CUT = 3.0


def robust_outlier_stats(events: DataFrame) -> DataFrame:
    """Per-type robust outlier report: median, MAD (median absolute
    deviation), and the count of values beyond median ± 3 * 1.4826 *
    MAD — the outlier screen that, unlike mean/stddev, is not itself
    dragged by the outliers it is looking for.

    Both medians are the rank-threshold rule (an actual stored value,
    no interpolation); deviations are exact double subtractions of
    those values; the cut compares one fixed-order IEEE expression —
    every step engine-exact.  Plan: two windowed passes partitioned by
    event_type (value rank, then deviation rank) + one aggregate; at
    100 TB swap the exact medians for the histogram-refinement pass
    (exact_quantile_values) per group.
    """
    from pyspark.sql import Window as W

    wv = W.partitionBy("event_type").orderBy("value", "event_id")
    cnt = W.partitionBy("event_type")
    med = (
        events.select("event_type", "event_id", "value")
        .withColumn("rn", F.row_number().over(wv))
        .withColumn("nn", F.count("*").over(cnt))
        .groupBy("event_type")
        .agg(
            F.min(F.when(2 * F.col("rn") >= F.col("nn"), F.col("value"))).alias(
                "median_value"
            ),
            F.count("*").alias("n_events"),
        )
    )
    dev = events.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        "value",
        "median_value",
        "n_events",
        F.abs(F.col("value") - F.col("median_value")).alias("adev"),
    )
    wd = W.partitionBy("event_type").orderBy("adev", "event_id")
    mad = (
        dev.withColumn("rn", F.row_number().over(wd))
        .withColumn("nn", F.count("*").over(W.partitionBy("event_type")))
        .groupBy("event_type", "median_value", "n_events")
        .agg(
            F.min(F.when(2 * F.col("rn") >= F.col("nn"), F.col("adev"))).alias(
                "mad"
            )
        )
    )
    flagged = dev.select("event_type", "event_id", "adev").join(
        F.broadcast(mad), "event_type"
    )
    cut = F.lit(MAD_CUT) * F.lit(MAD_K) * F.col("mad")
    return (
        flagged.groupBy("event_type", "median_value", "mad", "n_events")
        .agg(
            F.sum((F.col("adev") > cut).cast("int"))
            .cast("bigint")
            .alias("n_outliers")
        )
        .select(
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
            "median_value",
            "mad",
            "n_outliers",
        )
    )


def sql_robust_outlier_stats(table: str = "events") -> str:
    """DuckDB twin — same rank-rule medians and fixed-order cut."""
    return f"""
WITH r AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
           ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS nn
  FROM {table}
), med AS (
  SELECT event_type,
         min(CASE WHEN 2 * rn >= nn THEN value END) AS median_value,
         count(*) AS n_events
  FROM r GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.event_id, abs(e.value - m.median_value) AS adev,
         m.median_value, m.n_events
  FROM {table} e JOIN med m USING (event_type)
), rd AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
              ORDER BY adev, event_id) AS rn,
            count(*) OVER (PARTITION BY event_type) AS nn
  FROM dev
), mad AS (
  SELECT event_type, median_value, n_events,
         min(CASE WHEN 2 * rn >= nn THEN adev END) AS mad
  FROM rd GROUP BY event_type, median_value, n_events
)
SELECT d.event_type, CAST(d.n_events AS BIGINT) AS n_events,
       d.median_value, m.mad,
       CAST(sum(CASE WHEN d.adev > CAST({MAD_CUT} AS DOUBLE) * CAST({MAD_K} AS DOUBLE) * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (event_type, median_value, n_events)
GROUP BY d.event_type, d.n_events, d.median_value, m.mad
"""


# ---------------------------------------------------------------------------
# Percentile-rank features — the corpus CDF without a corpus sort
# ---------------------------------------------------------------------------


def percentile_rank_features(docs: DataFrame) -> DataFrame:
    """Per-document corpus percentile of ``n_chars`` (the feature-
    engineering normalization step: model features want "where does
    this doc sit in the corpus", not raw magnitudes).

    ``percent_rank() OVER (ORDER BY ...)`` is a single-task global sort
    — the canonical scale-killer.  The scalable identity: the strict-
    below count per VALUE is a prefix sum over the value-frequency
    table, so one narrow aggregate (value -> count), one cumulative
    window over that tiny table (the documented KB-window exemption),
    and one broadcast join back assign every row its exact percentile.
    Integer counts all the way; the final pct is one IEEE division,
    identical to ANSI percent_rank = below / (N - 1).
    """
    from pyspark.sql import Window as W

    freq = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    wcum = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    cdf = freq.withColumn(
        "below", F.coalesce(F.sum("c").over(wcum), F.lit(0)).cast("bigint")
    )
    tot = docs.agg(F.count("*").cast("bigint").alias("n"))
    return (
        docs.select("doc_id", "n_chars")
        .join(F.broadcast(cdf), F.col("n_chars") == F.col("v"))
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "n_chars",
            "below",
            # ANSI percent_rank is 0.0 for a single row; the unguarded
            # division would be 0/0 = NaN and diverge from the oracle
            F.when(F.col("n") > 1,
                F.col("below").cast("double")
                / (F.col("n") - F.lit(1)).cast("double")
            ).otherwise(F.lit(0.0)).alias("pct_rank"),
        )
    )


def sql_percentile_rank_features(table: str = "documents") -> str:
    """Oracle states the spec directly: ANSI percent_rank (the oracle
    may sort; the engine may not)."""
    return f"""
SELECT doc_id, n_chars,
       CAST(count(*) OVER (ORDER BY n_chars
                           RANGE BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) -
            count(*) OVER (PARTITION BY n_chars) AS BIGINT) AS below,
       percent_rank() OVER (ORDER BY n_chars) AS pct_rank
FROM {table}
"""


# ---------------------------------------------------------------------------
# Contingency / chi-square profile — categorical association, exactly
# ---------------------------------------------------------------------------


def contingency_profile(lineitem: DataFrame) -> DataFrame:
    """Cross-tab of (l_returnflag, l_linestatus) with per-cell
    chi-square contributions — the categorical-association profile a
    feature-selection or drift pipeline runs over label columns.

    All structure is integer-exact: observed counts, row/column
    totals, and the deviation o·N − r·c carried as DECIMAL(38,0) so it
    cannot overflow or round at any scale (at N = 10¹², o·N ≈ 10²⁴ —
    past BIGINT, fine in 38 digits; its SQUARE would not fit, so the
    square happens after one correctly-rounded conversion to double).
    Decimal→double goes THROUGH the VARCHAR round-trip (direct cast is
    the 1-ULP DuckDB pitfall); BIGINT→DOUBLE casts are correctly
    rounded on both engines, so expected and contribution are short
    fixed-order IEEE expressions — deterministic cross-engine.  The
    global χ² statistic is a sum of floats — order-dependent — so it
    is left to the caller over the (tiny, exact) per-cell rows rather
    than baked into the query.

    One scan, one small aggregate; totals join back by broadcast.
    """
    cells = lineitem.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").cast("bigint").alias("o")
    )
    row_tot = cells.groupBy("l_returnflag").agg(
        F.sum("o").cast("bigint").alias("r")
    )
    col_tot = cells.groupBy("l_linestatus").agg(
        F.sum("o").cast("bigint").alias("c")
    )
    n_tot = cells.agg(F.sum("o").cast("bigint").alias("n"))
    j = (
        cells.join(F.broadcast(row_tot), "l_returnflag")
        .join(F.broadcast(col_tot), "l_linestatus")
        .crossJoin(F.broadcast(n_tot))
    )
    d19 = "decimal(19,0)"
    dev_dec = F.col("o").cast(d19) * F.col("n").cast(d19) - F.col("r").cast(
        d19
    ) * F.col("c").cast(d19)
    dev_d = dev_dec.cast("string").cast("double")
    n_d, r_d, c_d = (F.col(x).cast("double") for x in ("n", "r", "c"))
    expected = r_d * c_d / n_d
    contrib = dev_d * dev_d / (n_d * r_d * c_d)
    return j.select(
        "l_returnflag",
        "l_linestatus",
        "o",
        "r",
        "c",
        "n",
        expected.alias("expected"),
        contrib.alias("chi2_contribution"),
    )


def sql_contingency_profile(table: str = "lineitem") -> str:
    d2d = _d2d

    # mirror the Spark formulation op-for-op: exact DECIMAL deviation
    # -> one correctly-rounded double, then plain double arithmetic in
    # the same association (BIGINT->DOUBLE is correctly rounded on
    # both engines; two formulations that only agree below 2^53 would
    # diverge at warehouse scale)
    dev_d = d2d(
        "(CAST(o AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))"
        " - CAST(r AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))"
    )
    return f"""
WITH cells AS (
  SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS o
  FROM {table} GROUP BY l_returnflag, l_linestatus
),
row_tot AS (
  SELECT l_returnflag, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1
),
col_tot AS (
  SELECT l_linestatus, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1
),
n_tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
SELECT ce.l_returnflag, ce.l_linestatus, ce.o, rt.r, ct.c, nt.n,
       (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
         AS expected,
       ({dev_d} * {dev_d}
          / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE)))
         AS chi2_contribution
FROM cells ce
JOIN row_tot rt USING (l_returnflag)
JOIN col_tot ct USING (l_linestatus)
CROSS JOIN n_tot nt
"""


# ---------------------------------------------------------------------------
# Event-rate anomaly detection — z-scores from exact integer moments
# ---------------------------------------------------------------------------

RATE_BUCKET_US = 60_000_000  # per-minute rate buckets
RATE_Z_CUTOFF = 3.0


def event_rate_anomalies(events: DataFrame) -> DataFrame:
    """Per-type per-minute event-rate z-scores; emit the buckets where
    |z| > 3 — the ops-monitoring query behind every "traffic spike"
    alert, kept engine-exact.

    Counts per (type, minute) are integers, so the per-type moment
    sums (n, Σc, Σc²) are exact BIGINTs with map-side combine — the
    same power-sum idiom as price_quantity_moments, without even the
    decimal cast.  mean/std/z are then short fixed-order IEEE
    expressions over exact integers (sqrt is IEEE-correctly-rounded on
    both engines), mirrored verbatim in the twin.  Stats run over
    OBSERVED minutes only (an empty-minute spine join would be the
    honest extension for sparse streams; the fixture has ~1 event per
    observed minute-type).

    Two aggregates (bucket counts, then per-type moments — |types| × 3
    numbers) and a broadcast join back: nothing scales with the raw
    event count except the first narrow aggregate.
    """
    b = events.groupBy(
        "event_type",
        F.expr(f"unix_micros(ts) div {RATE_BUCKET_US}").alias("minute_bucket"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    s = b.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    n_d = F.col("n").cast("double")
    s1_d = F.col("s1").cast("double")
    s2_d = F.col("s2").cast("double")
    mean = s1_d / n_d
    var = (s2_d - s1_d * s1_d / n_d) / (n_d - F.lit(1.0))
    std = F.sqrt(var)
    # a type whose every bucket has the same count has std = 0: no
    # rate variation, nothing to flag — and an unguarded division is
    # an ANSI-mode ArithmeticException on Spark vs +inf on DuckDB
    # (caught by the planted-spike test before it could diverge)
    z = F.when(std > 0.0, (F.col("c").cast("double") - mean) / std)
    return (
        b.join(F.broadcast(s), "event_type")
        .select(
            "event_type",
            "minute_bucket",
            "c",
            mean.alias("mean_rate"),
            std.alias("std_rate"),
            z.alias("z_score"),
        )
        .filter(F.abs(F.col("z_score")) > RATE_Z_CUTOFF)
    )


def sql_event_rate_anomalies(table: str = "events") -> str:
    mean = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    var = (
        "((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
        " / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))"
    )
    z = (
        f"(CASE WHEN sqrt({var}) > 0.0"
        f" THEN ((CAST(c AS DOUBLE) - {mean}) / sqrt({var})) END)"
    )
    return f"""
WITH b AS (
  SELECT event_type, epoch_us(ts) // {RATE_BUCKET_US} AS minute_bucket,
         CAST(count(*) AS BIGINT) AS c
  FROM {table} GROUP BY 1, 2
),
s AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s1,
         CAST(sum(c * c) AS BIGINT) AS s2
  FROM b GROUP BY 1
)
SELECT b.event_type, b.minute_bucket, b.c,
       {mean} AS mean_rate, sqrt({var}) AS std_rate, {z} AS z_score
FROM b JOIN s USING (event_type)
WHERE abs({z}) > {RATE_Z_CUTOFF}
"""


# ---------------------------------------------------------------------------
# Event-sequence transition matrix (first-order Markov over event types)
# ---------------------------------------------------------------------------


def event_transitions(events: DataFrame) -> DataFrame:
    """Per-user event-type transition matrix: for every (from, to)
    pair of consecutive events in a user's timeline, the transition
    count and the row-normalized probability — the first-order Markov
    model behind session simulation, anomaly scoring ("this user's
    path is improbable") and next-event prediction baselines.

    One lag window keyed (user_id | ts, event_id) — the per-user sort
    is distributed by user — then one hash aggregate on the (tiny)
    type-pair key; probabilities divide two exact BIGINT counts in
    double (identical in both engines).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wf = Window.partitionBy("from_type")
    return counts.withColumn("n_from", F.sum("n").over(wf)).withColumn(
        "prob", F.col("n") / F.col("n_from")
    )


def sql_event_transitions(table: str = "events") -> str:
    return f"""
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM {table}
),
counts AS (
  SELECT from_type, to_type, count(*) AS n
  FROM pairs WHERE from_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       sum(n) OVER (PARTITION BY from_type) AS n_from,
       CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type) AS prob
FROM counts
"""


# ---------------------------------------------------------------------------
# A/B experiment report (two-proportion z, deterministic doubles)
# ---------------------------------------------------------------------------


def ab_test_report(events: DataFrame) -> DataFrame:
    """Experimentation primitive: split users into A/B by user_id
    parity (A = even, B = odd — swap in a salted hash of the id for a
    production assignment; parity keeps the oracle trivially exact),
    measure per-user conversion — here >= 1 ``purchase`` event with
    ``value >= 150.0`` (a big-ticket-purchase conversion predicate;
    adjust the threshold to taste) — and emit the two-proportion
    pooled z statistic.

    Determinism: conversions and denominators are exact integer
    aggregates; every double after that is ONE fixed expression tree
    of IEEE ops (div, mul, sub, sqrt — all correctly rounded in both
    engines), so even the z-score matches bit-for-bit.  Scale: one
    user-keyed aggregate, then a 2-row reduction.
    """
    per_user = events.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= 150.0),
                1,
            ).otherwise(0)
        ).alias("conv")
    )
    per_var = (
        per_user.withColumn("variant", (F.col("user_id") % 2).cast("int"))
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("conv").cast("bigint").alias("n_conv"),
        )
    )
    a = per_var.filter(F.col("variant") == 0).select(
        F.col("n_users").alias("n_a"), F.col("n_conv").alias("c_a")
    )
    b = per_var.filter(F.col("variant") == 1).select(
        F.col("n_users").alias("n_b"), F.col("n_conv").alias("c_b")
    )
    j = a.crossJoin(F.broadcast(b))
    p_a = F.col("c_a") / F.col("n_a")
    p_b = F.col("c_b") / F.col("n_b")
    pool = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(
        pool * (F.lit(1.0) - pool)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return j.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        p_a.alias("p_a"),
        p_b.alias("p_b"),
        # degenerate experiments (0% or 100% pooled conversion) have
        # no defined z; NULL on both sides instead of a div-by-zero
        F.when(se != 0.0, (p_a - p_b) / se).alias("z_score"),
    )


def sql_ab_test_report(table: str = "events") -> str:
    return f"""
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value >= 150.0
                  THEN 1 ELSE 0 END) AS conv
  FROM {table} GROUP BY user_id
),
per_var AS (
  SELECT CAST(user_id % 2 AS INT) AS variant,
         count(*) AS n_users, CAST(sum(conv) AS BIGINT) AS n_conv
  FROM per_user GROUP BY 1
),
a AS (SELECT n_users AS n_a, n_conv AS c_a FROM per_var WHERE variant = 0),
b AS (SELECT n_users AS n_b, n_conv AS c_b FROM per_var WHERE variant = 1)
SELECT n_a, c_a, n_b, c_b,
       CAST(c_a AS DOUBLE) / n_a AS p_a,
       CAST(c_b AS DOUBLE) / n_b AS p_b,
       CASE WHEN sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                * (1.0 / n_a + 1.0 / n_b)) = 0.0 THEN NULL
       ELSE (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
         / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                * (1.0 / n_a + 1.0 / n_b)) END AS z_score
FROM a CROSS JOIN b
"""


# ---------------------------------------------------------------------------
# ANALYZE-style column statistics catalog
# ---------------------------------------------------------------------------

_CATALOG_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate",
]


def _catalog_exact_rel(lineitem: DataFrame) -> DataFrame:
    """The ONE-ROW exact statistics aggregate the catalog family
    shares (round 13, the signature-relation idiom applied to the
    stats tier): per column the non-null count and the exact NDV, plus
    the row count — one Expand-rewritten scan, read through ``shared``
    (1 row; plans/memo.py) so the session pays the multi-column COUNT
    DISTINCT scan once instead of once per catalog face
    (``column_stats_catalog`` unpivots it; ``column_stats_catalog_hll``
    reads its ndv_exact eval column and null/non-null counts from
    it)."""
    aggs = []
    for c in _CATALOG_COLS:
        aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"__nd_{c}"))
    aggs.append(F.count(F.lit(1)).alias("__n"))
    return lineitem.agg(*aggs)


def column_stats_catalog(lineitem: DataFrame) -> DataFrame:
    """ANALYZE TABLE in one scan: for every column, the non-null
    count, null count and exact NDV — the statistics a cost-based
    optimizer feeds on (join ordering, broadcast thresholds, skew
    detection all start here).

    One aggregate computes all 3 x n_cols metrics (Spark rewrites the
    multi-column COUNT DISTINCT via a single Expand — one scan, n_cols
    x row expansion collapsed map-side); the result unpivots to one
    row per column via ``stack``.  At 100 TB you'd swap exact NDV for
    the HLL tier (sketches.py) column-by-column; exact is kept here so
    the oracle can assert equality.  The aggregate itself is the
    session-shared ``_catalog_exact_rel`` (one Expand scan serves this
    face and ``column_stats_catalog_hll``'s eval column).
    """
    one = shared(_catalog_exact_rel, lineitem)
    stack_args = ", ".join(
        f"'{c}', __nn_{c}, __n - __nn_{c}, __nd_{c}" for c in _CATALOG_COLS
    )
    return one.selectExpr(
        f"stack({len(_CATALOG_COLS)}, {stack_args}) AS "
        "(column_name, n_nonnull, n_null, ndv)"
    )


def sql_column_stats_catalog(table: str = "lineitem") -> str:
    parts = [
        f"SELECT '{c}' AS column_name, count({c}) AS n_nonnull, "
        f"count(*) - count({c}) AS n_null, "
        f"count(DISTINCT {c}) AS ndv FROM {table}"
        for c in _CATALOG_COLS
    ]
    return " UNION ALL ".join(parts)


def _parity_value_counts(events: DataFrame) -> DataFrame:
    """Shared split for the two-sample tests: per (event_type, value),
    counts from the even- (k1) and odd- (k2) event_id halves.  NULL
    values are not samples and are dropped explicitly — the engines
    disagree on NULL placement in ORDER BY, so letting them through
    would silently break the hash-exact oracle."""
    labeled = events.filter(F.col("value").isNotNull()).select(
        "event_type",
        "value",
        F.when(F.col("event_id") % 2 == 0, 1).otherwise(2).alias("grp"),
    )
    return labeled.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("k1"),
        F.sum(F.when(F.col("grp") == 2, 1).otherwise(0)).alias("k2"),
    )


def _sql_parity_value_counts(table: str) -> str:
    """DuckDB twin of _parity_value_counts (same NULL drop)."""
    return (
        "SELECT event_type, value, "
        "sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS k1, "
        "sum(CASE WHEN event_id % 2 = 0 THEN 0 ELSE 1 END) AS k2 "
        f"FROM {table} WHERE value IS NOT NULL "
        "GROUP BY event_type, value"
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift test (continuous complement of
# the TVD drift monitor: TVD needs bins; KS compares the full
# empirical CDFs and is binning-free)
# ---------------------------------------------------------------------------


def ks_drift_test(events: DataFrame) -> DataFrame:
    """Per event_type, the exact two-sample KS statistic between the
    even- and odd-event_id halves of the value distribution:
    D = max_v |F1(v) - F2(v)|, computed as an INTEGER numerator
    max |c1*n2 - c2*n1| over the merged support (ties handled by
    evaluating AFTER all rows of each distinct value), divided once in
    double — deterministic on both engines.  D_num is bounded by
    n1*n2, so the BIGINT output holds to ~3e9 rows per half per type;
    past that both engines fail LOUDLY (ANSI cast / out-of-range), a
    signal to widen the output column, never a silent wrap.

    Plan: one (event_type, value) aggregate, one event_type-keyed
    window over the distinct-value rows (partition width = distinct
    values per type, not rows), one final max.  Products are DECIMAL
    so c*n stays exact at any corpus size.
    """
    from pyspark.sql import Window

    per_val = _parity_value_counts(events)
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wa = Window.partitionBy("event_type")
    cum = per_val.select(
        "event_type",
        F.sum("k1").over(w).alias("c1"),
        F.sum("k2").over(w).alias("c2"),
        F.sum("k1").over(wa).alias("n1"),
        F.sum("k2").over(wa).alias("n2"),
    )
    dec = "decimal(38,0)"
    diff = F.abs(
        F.col("c1").cast(dec) * F.col("n2").cast(dec)
        - F.col("c2").cast(dec) * F.col("n1").cast(dec)
    )
    return (
        cum.groupBy("event_type")
        .agg(
            F.first("n1").alias("n1"),
            F.first("n2").alias("n2"),
            F.max(diff).cast("long").alias("d_num"),
        )
        .select(
            "event_type",
            "n1",
            "n2",
            "d_num",
            # a type whose events all landed in one parity half has no
            # two-sample statistic: NULL, never Infinity/NaN (engines
            # disagree on inf/NaN ordering — the value_trend_regression
            # degenerate-denominator pattern)
            F.when(
                (F.col("n1") > 0) & (F.col("n2") > 0),
                F.col("d_num")
                / (F.col("n1").cast("double") * F.col("n2").cast("double")),
            ).alias("d_stat"),
        )
    )


def sql_ks_drift_test(table: str = "events") -> str:
    return f"""
WITH per_val AS ({_sql_parity_value_counts(table)}),
cum AS (
  SELECT event_type,
         sum(k1) OVER (PARTITION BY event_type ORDER BY value
                       ROWS UNBOUNDED PRECEDING) AS c1,
         sum(k2) OVER (PARTITION BY event_type ORDER BY value
                       ROWS UNBOUNDED PRECEDING) AS c2,
         sum(k1) OVER (PARTITION BY event_type) AS n1,
         sum(k2) OVER (PARTITION BY event_type) AS n2
  FROM per_val
)
SELECT event_type,
       CAST(any_value(n1) AS BIGINT) AS n1,
       CAST(any_value(n2) AS BIGINT) AS n2,
       CAST(max(abs(CAST(c1 AS HUGEINT) * CAST(n2 AS HUGEINT)
                    - CAST(c2 AS HUGEINT) * CAST(n1 AS HUGEINT)))
            AS BIGINT) AS d_num,
       CASE WHEN any_value(n1) > 0 AND any_value(n2) > 0 THEN
         CAST(max(abs(CAST(c1 AS HUGEINT) * CAST(n2 AS HUGEINT)
                      - CAST(c2 AS HUGEINT) * CAST(n1 AS HUGEINT)))
              AS BIGINT)
           / (CAST(any_value(n1) AS DOUBLE) * CAST(any_value(n2) AS DOUBLE))
       END AS d_stat
FROM cum GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Least-squares trend per event type (exact-moment linear regression)
# ---------------------------------------------------------------------------


def value_trend_regression(events: DataFrame) -> DataFrame:
    """Per event_type OLS of value on time: slope (value units per
    second) and intercept from the closed-form moment solution,
    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) — every moment an exact
    DECIMAL sum (x = integer epoch seconds; y carries <= 4 dp, the
    module's DECIMAL(28,4) value idiom), so both engines divide the
    SAME two doubles.  Degenerate types (all events in one second)
    emit NULL slope/intercept instead of a division error.

    Plan: ONE map-side-combining aggregate per event_type — the
    canonical one-pass regression; no window, no second scan.
    """
    # integer discipline end-to-end: x = epoch seconds (BIGINT),
    # y scaled to 1e-4 units via round() (half-away in both engines);
    # all moments are then exact integer sums, and BOTH engines apply
    # the identical two-step double conversion (exact-int -> double,
    # then the same division chain), so slope/intercept match
    # bit-for-bit
    x = F.expr("unix_micros(ts) div 1000000")
    y = F.round(F.col("value") * F.lit(10000.0), 0).cast("long")
    dec = "decimal(38,0)"
    agg = events.select(
        "event_type", x.alias("x"), y.alias("y")
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy_i"),
        F.sum((F.col("x").cast(dec) * F.col("x").cast(dec))).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y").cast(dec)).alias("sxy_i"),
    )
    n_dec = F.col("n").cast(dec)
    num = (
        n_dec * F.col("sxy_i") - F.col("sx") * F.col("sy_i")
    ).cast("double")
    den = (n_dec * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = (num / F.lit(10000.0)) / den
    xbar = F.col("sx").cast("double") / F.col("n").cast("double")
    ybar = (
        F.col("sy_i").cast("double") / F.lit(10000.0)
    ) / F.col("n").cast("double")
    return agg.select(
        "event_type",
        "n",
        F.when(den != 0.0, slope).alias("slope_per_sec"),
        F.when(den != 0.0, ybar - slope * xbar).alias("intercept"),
    )


def sql_value_trend_regression(table: str = "events") -> str:
    d2d = _d2d

    num = (
        "CAST(n AS HUGEINT) * sxy_i - sx * sy_i"
    )
    den = "CAST(n AS HUGEINT) * sxx - sx * sx"
    return f"""
WITH m AS (
  SELECT event_type,
         count(*) AS n,
         sum(CAST(epoch_us(ts) // 1000000 AS HUGEINT)) AS sx,
         sum(CAST(round(value * 10000.0, 0) AS HUGEINT)) AS sy_i,
         sum(CAST(epoch_us(ts) // 1000000 AS HUGEINT)
             * CAST(epoch_us(ts) // 1000000 AS HUGEINT)) AS sxx,
         sum(CAST(epoch_us(ts) // 1000000 AS HUGEINT)
             * CAST(round(value * 10000.0, 0) AS HUGEINT)) AS sxy_i
  FROM {table} GROUP BY event_type
)
SELECT event_type, n,
       CASE WHEN {d2d(den)} = 0.0 THEN NULL
            ELSE ({d2d(num)} / 10000.0) / {d2d(den)} END AS slope_per_sec,
       CASE WHEN {d2d(den)} = 0.0 THEN NULL
            ELSE ({d2d("sy_i")} / 10000.0) / CAST(n AS DOUBLE)
                 - (({d2d(num)} / 10000.0) / {d2d(den)})
                   * ({d2d("sx")} / CAST(n AS DOUBLE)) END AS intercept
FROM m
"""


# ---------------------------------------------------------------------------
# Mann-Whitney U / AUC effect size (rank-based sibling of ks_drift_test
# and the parametric ab_test_report z)
# ---------------------------------------------------------------------------


def mannwhitney_auc(events: DataFrame) -> DataFrame:
    """Per event_type, the exact Mann-Whitney U between the even- and
    odd-event_id halves, reported as doubled integers (midranks for
    ties are half-integers, so 2R and 2U are exact BIGINTs) plus the
    AUC normalization U / (n1*n2) = P(X1 > X2) + 0.5*P(X1 = X2) —
    the common-language effect size a metrics review actually reads.

    Rank sums come from one ordered window over the DISTINCT-value
    rows (tied blocks contribute k1 * (2*before + block + 1) to 2R1 —
    the midrank formula cleared of halves), so no per-row global sort
    ever happens.  One double division at the end; everything before
    it is integer-exact on both engines.  ``u1_x2`` is bounded by
    ~2*n1*n2 + n1^2, so the BIGINT output column holds to ~2e9 rows
    per half per type; past that both engines fail LOUDLY on the cast
    (ANSI mode / HUGEINT out-of-range — never a silent wrap), the
    signal to widen the output to DECIMAL(38,0).  A type whose events
    all landed in one parity half has no two-sample statistic: auc is
    NULL (same degenerate-denominator rule as ks_drift_test).
    """
    from pyspark.sql import Window

    per_val = _parity_value_counts(events)
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wa = Window.partitionBy("event_type")
    dec = "decimal(38,0)"
    cum = per_val.select(
        "event_type",
        "k1",
        "k2",
        (F.sum("k1").over(w) - F.col("k1")).alias("b1"),
        (F.sum("k2").over(w) - F.col("k2")).alias("b2"),
        F.sum("k1").over(wa).alias("n1"),
        F.sum("k2").over(wa).alias("n2"),
    )
    contrib = F.col("k1").cast(dec) * (
        F.lit(2).cast(dec)
        * (F.col("b1").cast(dec) + F.col("b2").cast(dec))
        + F.col("k1").cast(dec)
        + F.col("k2").cast(dec)
        + F.lit(1).cast(dec)
    )
    agg = cum.groupBy("event_type").agg(
        F.first("n1").alias("n1"),
        F.first("n2").alias("n2"),
        F.sum(contrib).alias("r1_x2"),
    )
    u1_x2 = (
        F.col("r1_x2")
        - F.col("n1").cast(dec) * (F.col("n1").cast(dec) + F.lit(1).cast(dec))
    )
    return agg.select(
        "event_type",
        "n1",
        "n2",
        u1_x2.cast("long").alias("u1_x2"),
        F.when(
            (F.col("n1") > 0) & (F.col("n2") > 0),
            u1_x2.cast("double")
            / (
                F.lit(2.0)
                * F.col("n1").cast("double")
                * F.col("n2").cast("double")
            ),
        ).alias("auc"),
    )


def sql_mannwhitney_auc(table: str = "events") -> str:
    return f"""
WITH per_val AS ({_sql_parity_value_counts(table)}),
cum AS (
  SELECT event_type, k1, k2,
         sum(k1) OVER (PARTITION BY event_type ORDER BY value
                       ROWS UNBOUNDED PRECEDING) - k1 AS b1,
         sum(k2) OVER (PARTITION BY event_type ORDER BY value
                       ROWS UNBOUNDED PRECEDING) - k2 AS b2,
         sum(k1) OVER (PARTITION BY event_type) AS n1,
         sum(k2) OVER (PARTITION BY event_type) AS n2
  FROM per_val
),
agg AS (
  SELECT event_type,
         any_value(n1) AS n1, any_value(n2) AS n2,
         sum(CAST(k1 AS HUGEINT)
             * (2 * (CAST(b1 AS HUGEINT) + CAST(b2 AS HUGEINT))
                + CAST(k1 AS HUGEINT) + CAST(k2 AS HUGEINT) + 1))
           AS r1_x2
  FROM cum GROUP BY event_type
)
SELECT event_type,
       CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       CAST(r1_x2 - CAST(n1 AS HUGEINT) * (CAST(n1 AS HUGEINT) + 1)
            AS BIGINT) AS u1_x2,
       CASE WHEN n1 > 0 AND n2 > 0 THEN
         CAST(r1_x2 - CAST(n1 AS HUGEINT) * (CAST(n1 AS HUGEINT) + 1)
              AS BIGINT)
           / (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
       END AS auc
FROM agg
"""


# ---------------------------------------------------------------------------
# CUSUM level-shift detection (drawup form: S_i = cum_i - min cum_<=i,
# the window-expressible equivalent of the reset-at-zero recurrence)
# ---------------------------------------------------------------------------

CUSUM_SCALE = 10_000  # value quantization: 1e-4 units, exact BIGINTs


def cusum_shift_detection(
    events: DataFrame, threshold: float = 500.0
) -> DataFrame:
    """Per event_type, one-sided CUSUM against the type's own mean:
    with d_i = y_i - mean(y) (both in exact 1e-4 integer units),
    S_i = cum_i - min(cum_j, j <= i) is the classic upward-shift
    statistic (identical to the max(0, S+d) recurrence), and the type
    is flagged when max S_i clears ``threshold``.  Emits the maximum
    excursion, where it peaked, and the first crossing event.

    Everything is integer until the final unscaling: values quantize
    by round(v * 1e4) (half-away both engines), the mean subtraction
    is cleared of division by working on n*cum (compare n-scaled
    excursions against n*threshold), so no rational ever rounds.
    One ordered window per type over (ts, event_id); no global sort.
    """
    from pyspark.sql import Window

    dec = "decimal(38,0)"
    yi = F.round(F.col("value") * F.lit(float(CUSUM_SCALE)), 0).cast("long")
    base = events.select(
        "event_type", "ts", "event_id", yi.alias("yi")
    )
    wa = Window.partitionBy("event_type")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # n-scaled deviations: n*d_i = n*y_i - sum(y)  (exact integers)
    scaled = base.select(
        "event_type",
        "ts",
        "event_id",
        (
            F.count(F.lit(1)).over(wa).cast(dec) * F.col("yi").cast(dec)
            - F.sum(F.col("yi").cast(dec)).over(wa)
        ).alias("nd"),
        F.count(F.lit(1)).over(wa).alias("n"),
    )
    cum = (
        scaled.select(
            "event_type",
            "ts",
            "event_id",
            "n",
            F.sum("nd").over(w).alias("c"),
        )
        # least(0, running min): the empty prefix contributes cum_0=0
        # to the min, making this EXACTLY the max(0, S+d) recurrence —
        # without it a series whose centered cumsum stays positive
        # early (shift at the very first events) under-reports S
        .withColumn(
            "s",
            F.col("c")
            - F.least(F.lit(0).cast("decimal(38,0)"), F.min("c").over(w)),
        )
        .select("event_type", "event_id", "n", "s")
    )
    # n-scaled threshold: flag when s >= n * threshold * SCALE
    h = F.col("n").cast(dec) * F.lit(
        round(threshold * CUSUM_SCALE)
    ).cast(dec)
    return (
        cum.groupBy("event_type")
        .agg(
            F.first("n").alias("n"),
            F.max("s").alias("max_s"),
            F.min(
                F.when(F.col("s") >= h, F.col("event_id"))
            ).alias("first_crossing_event"),
        )
        .select(
            "event_type",
            "n",
            # unscale: max excursion back in value units (one division)
            (
                F.col("max_s").cast("double")
                / (
                    F.col("n").cast("double")
                    * F.lit(float(CUSUM_SCALE))
                )
            ).alias("max_excursion"),
            (F.col("max_s") >= h).alias("shift_detected"),
            "first_crossing_event",
        )
    )


def sql_cusum_shift_detection(
    table: str = "events", threshold: float = 500.0
) -> str:
    h_scaled = round(threshold * CUSUM_SCALE)
    return f"""
WITH base AS (
  SELECT event_type, ts, event_id,
         CAST(round(value * {CUSUM_SCALE}.0, 0) AS HUGEINT) AS yi
  FROM {table}
),
scaled AS (
  SELECT event_type, ts, event_id,
         count(*) OVER (PARTITION BY event_type) * yi
           - sum(yi) OVER (PARTITION BY event_type) AS nd,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM base
),
cum AS (
  SELECT event_type, ts, event_id, n,
         sum(nd) OVER (PARTITION BY event_type ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS c
  FROM scaled
),
s AS (
  SELECT event_type, event_id, n,
         c - least(CAST(0 AS HUGEINT),
                   min(c) OVER (PARTITION BY event_type ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING)) AS s
  FROM cum
)
SELECT event_type,
       CAST(any_value(n) AS BIGINT) AS n,
       CAST(CAST(max(s) AS VARCHAR) AS DOUBLE)
         / (CAST(any_value(n) AS DOUBLE) * {CUSUM_SCALE}.0)
         AS max_excursion,
       max(s) >= any_value(n) * CAST({h_scaled} AS HUGEINT)
         AS shift_detected,
       CAST(min(CASE WHEN s >= n * CAST({h_scaled} AS HUGEINT)
                     THEN event_id END) AS BIGINT)
         AS first_crossing_event
FROM s GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# k-anonymity report (privacy profiling before a training-data release)
# ---------------------------------------------------------------------------

K_ANON_THRESHOLDS = (2, 5, 10, 25)


def k_anonymity_report(customer: DataFrame) -> DataFrame:
    """Re-identification risk profile of a release: group the table by
    its quasi-identifiers (nation, market segment, account-balance
    thousand-band — the attribute combination an adversary can link
    from outside data) and, for each k threshold, count the
    equivalence classes smaller than k and the rows inside them (the
    k-anonymity failure set of Sweeney 2002).  A release is k-anonymous
    iff n_rows_at_risk = 0 at that k.

    Scale: ONE shuffle on the QI key with map-side combine; the class
    size table is |distinct QI| rows, and the per-threshold report is a
    4-conditional-sum aggregate over it collapsed to one row, then
    unrolled with a literal-array explode — nothing after the first
    aggregate touches the corpus.  Arithmetic: the band is
    floor(balance/1000.0), one IEEE divide + floor (bit-identical both
    engines, negative balances land in band -1); everything else is
    BIGINT counting.
    """
    band = F.floor(F.col("c_acctbal") / F.lit(1000.0))
    classes = (
        customer.groupBy(
            F.col("c_nationkey").alias("qi_nation"),
            F.col("c_mktsegment").alias("qi_segment"),
            band.alias("qi_band"),
        )
        .agg(F.count(F.lit(1)).alias("class_size"))
    )
    aggs = [F.sum("class_size").cast("bigint").alias("total_rows")]
    for k in K_ANON_THRESHOLDS:
        aggs.append(
            F.sum(F.when(F.col("class_size") < k, F.lit(1)).otherwise(F.lit(0)))
            .cast("bigint")
            .alias(f"c{k}")
        )
        aggs.append(
            F.sum(
                F.when(F.col("class_size") < k, F.col("class_size")).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias(f"r{k}")
        )
    one = classes.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(k).cast("bigint").alias("k"),
                F.col(f"c{k}").alias("n_classes_below"),
                F.col(f"r{k}").alias("n_rows_at_risk"),
            )
            for k in K_ANON_THRESHOLDS
        ]
    )
    return (
        one.select("total_rows", F.explode(rows).alias("t"))
        .select(
            F.col("t.k").alias("k"),
            F.col("t.n_classes_below").alias("n_classes_below"),
            F.col("t.n_rows_at_risk").alias("n_rows_at_risk"),
            (
                F.col("t.n_rows_at_risk").cast("double")
                / F.col("total_rows").cast("double")
            ).alias("risk_frac"),
        )
    )


def sql_k_anonymity_report(table: str = "customer") -> str:
    """DuckDB twin — same QI banding, thresholds unrolled as UNION ALL."""
    arms = "\nUNION ALL\n".join(
        f"""SELECT CAST({k} AS BIGINT) AS k,
       CAST(sum(CASE WHEN class_size < {k} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_classes_below,
       CAST(sum(CASE WHEN class_size < {k} THEN class_size ELSE 0 END)
            AS BIGINT) AS n_rows_at_risk,
       CAST(sum(CASE WHEN class_size < {k} THEN class_size ELSE 0 END)
            AS DOUBLE) / CAST((SELECT t FROM tot) AS DOUBLE) AS risk_frac
FROM classes"""
        for k in K_ANON_THRESHOLDS
    )
    return f"""
WITH classes AS (
  SELECT c_nationkey AS qi_nation, c_mktsegment AS qi_segment,
         floor(c_acctbal / 1000.0) AS qi_band,
         count(*) AS class_size
  FROM {table} GROUP BY 1, 2, 3
),
tot AS (SELECT sum(class_size) AS t FROM classes)
{arms}
"""


# ---------------------------------------------------------------------------
# Classifier calibration report (reliability deciles, exact Brier/ECE)
# ---------------------------------------------------------------------------


def calibration_report(events: DataFrame) -> DataFrame:
    """Reliability diagram + exact Brier score for a deterministic
    scorer: predicted conversion probability p = min(value, 200)/200
    (a rational score — swap in a model column without touching the
    plan), outcome y = the event being a purchase or signup.  Per
    score decile: n, mean predicted p, observed rate, calibration gap,
    exact per-bucket Brier, and the global expected calibration error
    (ECE = sum_b |gap_b| * n_b / N).

    Exactness: p is one IEEE divide; it is then quantized to integer
    millionths with half-away rounding (identical both engines), and
    ALL aggregation runs on those integers — sum p, sum p^2, sum p*y
    in DECIMAL(38,0) — so Brier = (sum p^2 - 2e6 sum p y + 1e12 n_pos)
    / 1e12 n is exact-integer up to the final divide.  ECE folds the
    10-row bucket table with an unpartitioned window (KB-sized frame,
    the documented spine-table idiom) — and stays order-free because
    |gap_b| * n_b scales to the exact integer |sp_b - 1e6 n_pos_b|:
    the window sums DECIMALs, never doubles, so row order inside the
    single window partition cannot move a bit.
    """
    from pyspark.sql import Window

    p = F.least(F.col("value"), F.lit(200.0)) / F.lit(200.0)
    pu = F.round(p * F.lit(1000000.0), 0).cast("bigint")
    y = F.col("event_type").isin("purchase", "signup").cast("bigint")
    bucket = F.least(F.lit(9), F.floor(p * F.lit(10.0))).cast("bigint")
    base = events.select(
        bucket.alias("score_decile"), pu.alias("pu"), y.alias("y")
    )
    g = base.groupBy("score_decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pu").cast("decimal(38,0)").alias("sp"),
        F.sum((F.col("pu") * F.col("pu")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sp2"),
        F.sum(F.col("pu") * F.col("y")).cast("decimal(38,0)").alias("spy"),
        F.sum("y").cast("bigint").alias("n_pos"),
    )
    nd = F.col("n").cast("double")
    mean_pred = F.col("sp").cast("double") / (nd * F.lit(1000000.0))
    obs_rate = F.col("n_pos").cast("double") / nd
    brier = (
        F.col("sp2").cast("double")
        - F.lit(2000000.0) * F.col("spy").cast("double")
        + F.lit(1.0e12) * F.col("n_pos").cast("double")
    ) / (F.lit(1.0e12) * nd)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    per = g.select(
        "score_decile",
        "n",
        "n_pos",
        mean_pred.alias("mean_pred"),
        obs_rate.alias("obs_rate"),
        (mean_pred - obs_rate).alias("gap"),
        brier.alias("brier"),
        F.abs(
            F.col("sp")
            - (F.lit(1000000).cast("decimal(38,0)") * F.col("n_pos")).cast(
                "decimal(38,0)"
            )
        )
        .cast("decimal(38,0)")
        .alias("_w"),
        F.col("n").alias("_n"),
    )
    ece = (
        F.sum("_w").over(wall).cast("double")
        / (F.lit(1000000.0) * F.sum("_n").over(wall).cast("double"))
    )
    return per.withColumn("ece", ece).drop("_w", "_n")


def sql_calibration_report(table: str = "events") -> str:
    return f"""
WITH base AS (
  SELECT CAST(least(9, floor(least(value, 200.0) / 200.0 * 10.0))
              AS BIGINT) AS score_decile,
         CAST(round(least(value, 200.0) / 200.0 * 1000000.0, 0)
              AS BIGINT) AS pu,
         CASE WHEN event_type IN ('purchase', 'signup')
              THEN 1 ELSE 0 END AS y
  FROM {table}
),
g AS (
  SELECT score_decile,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(pu AS HUGEINT)) AS sp,
         sum(CAST(pu AS HUGEINT) * pu) AS sp2,
         sum(CAST(pu AS HUGEINT) * y) AS spy,
         CAST(sum(y) AS BIGINT) AS n_pos
  FROM base GROUP BY 1
)
SELECT score_decile, n, n_pos,
       CAST(CAST(sp AS VARCHAR) AS DOUBLE)
         / (CAST(n AS DOUBLE) * 1000000.0) AS mean_pred,
       CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS obs_rate,
       CAST(CAST(sp AS VARCHAR) AS DOUBLE)
         / (CAST(n AS DOUBLE) * 1000000.0)
         - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS gap,
       (CAST(CAST(sp2 AS VARCHAR) AS DOUBLE)
          - 2000000.0 * CAST(CAST(spy AS VARCHAR) AS DOUBLE)
          + 1.0e12 * CAST(n_pos AS DOUBLE))
         / (1.0e12 * CAST(n AS DOUBLE)) AS brier,
       CAST(CAST(sum(abs(sp - CAST(1000000 AS HUGEINT) * n_pos)) OVER ()
                 AS VARCHAR) AS DOUBLE)
         / (1000000.0 * CAST(sum(n) OVER () AS DOUBLE)) AS ece
FROM g
"""


# ---------------------------------------------------------------------------
# Autocorrelation profile (lag-k ACF per series, exact power sums)
# ---------------------------------------------------------------------------

ACF_LAGS = (1, 2, 3)


def acf_profile(events: DataFrame) -> DataFrame:
    """Lag-k autocorrelation of ``value`` per event_type series
    (ordered by ts, event_id) for lags 1..3 — the seasonality /
    burstiness fingerprint a feed monitor keeps per source: ACF near
    zero says the stream is memoryless, a spike at lag k says values
    repeat on a k-event cycle.

    Pearson correlation over the (x_t, x_{t-k}) pairs, computed the
    module's portable way: values quantized to exact cents, all five
    power sums accumulated in DECIMAL(38,0), the correlation formula
    run once per (type, lag) in double with the SQL twin mirroring the
    expression shape exactly.

    Scale: ONE per-type time-sort window produces all three lags
    (Spark evaluates the lag family in a single window pass), an
    explode stacks them (3x pair rows, narrow), and the aggregate
    collapses map-side onto the tiny (type, lag) key.  The per-type
    sort is the same distributed-window shape as sessionization /
    event_transitions; at 100 TB the input arrives time-bucketed so
    the sort is per (type, day-bucket) merge, not a corpus sort.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    cents = F.round(F.col("value") * F.lit(100.0), 0).cast("bigint")
    lagged = events.select(
        "event_type",
        cents.alias("x"),
        *[F.lag(cents, k).over(w).alias(f"x_lag{k}") for k in ACF_LAGS],
    )
    stacked = lagged.select(
        "event_type",
        "x",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("bigint").alias("lag"),
                        F.col(f"x_lag{k}").alias("prev"),
                    )
                    for k in ACF_LAGS
                ]
            )
        ).alias("t"),
    ).select(
        "event_type", F.col("t.lag").alias("lag"), "x", F.col("t.prev").alias("prev")
    ).filter(F.col("prev").isNotNull())
    D = "decimal(38,0)"
    g = stacked.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.col("x").cast(D)).cast("double").alias("sx"),
        F.sum(F.col("prev").cast(D)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(D)).cast("double").alias("sxx"),
        F.sum((F.col("prev") * F.col("prev")).cast(D)).cast("double").alias("syy"),
        F.sum((F.col("x") * F.col("prev")).cast(D)).cast("double").alias("sxy"),
    )
    n = F.col("n_pairs").cast("double")
    num = F.col("sxy") - F.col("sx") * F.col("sy") / n
    den = F.sqrt(F.col("sxx") - F.col("sx") * F.col("sx") / n) * F.sqrt(
        F.col("syy") - F.col("sy") * F.col("sy") / n
    )
    return g.select(
        "event_type", "lag", "n_pairs", (num / den).alias("acf")
    ).orderBy("event_type", "lag")


def sql_acf_profile(table: str = "events") -> str:
    lag_cols = ",\n         ".join(
        f"lag(x, {k}) OVER (PARTITION BY event_type ORDER BY ts, event_id)"
        f" AS x_lag{k}"
        for k in ACF_LAGS
    )
    arms = "\nUNION ALL\n".join(
        f"SELECT event_type, CAST({k} AS BIGINT) AS lag, x, x_lag{k} AS prev "
        f"FROM lagged WHERE x_lag{k} IS NOT NULL"
        for k in ACF_LAGS
    )
    d2d = _d2d
    sx, sy = d2d("sum(CAST(x AS HUGEINT))"), d2d("sum(CAST(prev AS HUGEINT))")
    sxx = d2d("sum(CAST(x AS HUGEINT) * x)")
    syy = d2d("sum(CAST(prev AS HUGEINT) * prev)")
    sxy = d2d("sum(CAST(x AS HUGEINT) * prev)")
    return f"""
WITH base AS (
  SELECT event_type, ts, event_id,
         CAST(round(value * 100.0, 0) AS BIGINT) AS x
  FROM {table}
),
lagged AS (
  SELECT event_type,
         x,
         {lag_cols}
  FROM base
),
stacked AS (
{arms}
),
g AS (
  SELECT event_type, lag,
         CAST(count(*) AS BIGINT) AS n_pairs,
         {sx} AS sx, {sy} AS sy, {sxx} AS sxx, {syy} AS syy, {sxy} AS sxy
  FROM stacked GROUP BY 1, 2
)
SELECT event_type, lag, n_pairs,
       (sxy - sx * sy / CAST(n_pairs AS DOUBLE))
         / (sqrt(sxx - sx * sx / CAST(n_pairs AS DOUBLE))
            * sqrt(syy - sy * sy / CAST(n_pairs AS DOUBLE))) AS acf
FROM g
ORDER BY event_type, lag
"""


# ---------------------------------------------------------------------------
# EWMA user score (dyadic decay => exact integer arithmetic)
# ---------------------------------------------------------------------------

EWMA_DEPTH = 16  # window depth; alpha = 1/2 (dyadic, exact)


def ewma_user_score(events: DataFrame) -> DataFrame:
    """Per-user recency-decayed activity score: the exponentially
    weighted moving average of the user's event values at their LAST
    event, with decay 1/2 per step over the trailing 16 events — the
    classic engagement feature (recent behavior dominates, ancient
    history fades) exported per user into a feature store.

    The decay being DYADIC makes the whole thing exact integer math:
    weight of the j-th most recent event is 2^(15-j), so
    score = sum_j(cents_j * 2^(15-j)) / sum_j(2^(15-j)) is a ratio of
    two exact BIGINTs (numerator < 2^16 * max_cents — no overflow),
    divided once in double at the end.  The truncation at depth 16
    discards weights below 2^-16 — invisible at double precision and
    what makes the window (vs infinite recursion) form exact.

    Scale: ONE descending time window per user computes the row_number
    and all 15 leads in a single pass; the filter keeps one row per
    user, so the output is |users| rows and nothing shuffles after the
    window sort (distributed by user_id).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    cents = F.round(F.col("value") * F.lit(100.0), 0).cast("bigint")
    leads = [cents] + [
        F.lead(cents, j).over(w) for j in range(1, EWMA_DEPTH)
    ]
    num = None
    den = None
    for j, c in enumerate(leads):
        wt = 1 << (EWMA_DEPTH - 1 - j)
        term = F.when(c.isNotNull(), c * F.lit(wt)).otherwise(F.lit(0))
        dterm = F.when(c.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
        num = term if num is None else num + term
        den = dterm if den is None else den + dterm
    ranked = events.select(
        "user_id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n_events"),
        num.cast("bigint").alias("ewma_num"),
        den.cast("bigint").alias("ewma_den"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        "ewma_num",
        "ewma_den",
        (
            F.col("ewma_num").cast("double")
            / (F.col("ewma_den").cast("double") * F.lit(100.0))
        ).alias("ewma_value"),
    )


def sql_ewma_user_score(table: str = "events") -> str:
    num_terms, den_terms, lead_cols = [], [], []
    for j in range(EWMA_DEPTH):
        wt = 1 << (EWMA_DEPTH - 1 - j)
        col = (
            "x"
            if j == 0
            else f"lead(x, {j}) OVER (PARTITION BY user_id "
            "ORDER BY ts DESC, event_id DESC)"
        )
        name = f"c{j}"
        lead_cols.append(f"{col} AS {name}")
        num_terms.append(f"CASE WHEN {name} IS NOT NULL THEN {name} * {wt} ELSE 0 END")
        den_terms.append(f"CASE WHEN {name} IS NOT NULL THEN {wt} ELSE 0 END")
    leads = ",\n         ".join(lead_cols)
    num = " + ".join(num_terms)
    den = " + ".join(den_terms)
    return f"""
WITH base AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * 100.0, 0) AS BIGINT) AS x
  FROM {table}
),
led AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_events,
         {leads}
  FROM base
)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       CAST({num} AS BIGINT) AS ewma_num,
       CAST({den} AS BIGINT) AS ewma_den,
       CAST({num} AS DOUBLE) / (CAST({den} AS DOUBLE) * 100.0) AS ewma_value
FROM led WHERE rn = 1
"""

# ---------------------------------------------------------------------------
# Multiplier-bootstrap confidence intervals (deterministic, hash-seeded)
# ---------------------------------------------------------------------------

BOOT_B = 64  # replicates; two 60-bit hashes yield 32 base-3 weights each
_BOOT_TRITS = 32  # 3**32 = 1.85e15 < 2**60, so each trit is near-uniform
BOOT_CI_SCALE = 1.224744871391589  # sqrt(3/2): Rao-Wu rescale for Var(w)=2/3


def bootstrap_ci(events: DataFrame) -> DataFrame:
    """95% confidence interval for the mean event value per event_type
    via a deterministic multiplier bootstrap — the resampling scheme
    that actually runs at stream scale (Chamandy et al. 2012, "Estimating
    uncertainty for massive data streams": per-record replicate weights,
    never a gather-and-resample).

    Replicate weights: record i gets w_{i,b} in {0,1,2} (mean 1,
    variance 2/3) carved out of TWO md5-based 60-bit hashes — trit b of
    h60(event_id || ':bsS') — so the weight stream is replayable on any
    engine and costs 2 hashes per row for all 64 replicates, not 64.
    Because Var(w) = 2/3 rather than the Poisson(1) bootstrap's 1, the
    percentile deviations are rescaled by sqrt(3/2) (Rao & Wu 1988
    rescaling; sqrt is IEEE-exact so the constant is written out).

    CI: nearest-rank 2.5%/97.5% percentiles of the 64 replicate means
    (values quantized to integer cents, replicate sums in DECIMAL, one
    double divide per replicate), deviations rescaled around the exact
    full-sample mean.  Replicates with zero total weight (possible only
    for near-empty groups) are excluded identically on both engines and
    the ranks recomputed from the surviving count.

    100 TB shape: ONE corpus scan total.  All 64 replicates fold in a
    single aggregate pass as 128 unrolled accumulator columns
    (sum w_b, sum w_b*x) alongside the full-sample (n, sum x) — the
    corpus is never row-multiplied and never re-scanned for the exact
    mean (an order-controlled A/B at sf0.1 measured the unrolled and
    explode aggregates within noise of each other, 1.56s vs 1.36s, so
    the unrolled form wins on scans, not on agg micro-cost).  The
    shuffle carries |event_type| partial rows; the aggregated frame is
    localCheckpoint'ed (5-ish rows) so the replicate-unpivot leg and
    the mean leg cannot re-execute the scan; the 64-row-per-group
    replicate table is then ranked in a tiny window.  This is the
    canonical bootstrap-on-MapReduce plan with the fan-out pushed into
    the accumulator, not the row stream.
    """
    from pyspark.sql import Window

    from eventstreamd_spark.functions.text import h60

    base = events.select(
        "event_type",
        F.round(F.col("value") * F.lit(100.0), 0).cast("bigint").alias("x"),
        h60(F.concat(F.col("event_id").cast("string"), F.lit(":bs0"))).alias("h0"),
        h60(F.concat(F.col("event_id").cast("string"), F.lit(":bs1"))).alias("h1"),
    )
    # BIGINT accumulators keep all 128 sums in codegen'd primitive
    # registers (a DECIMAL accumulator was measured 30% slower end to
    # end: 6.4M BigDecimal adds).  Bound: |sum w*x| <= 2*n*max|x|, loud
    # under ANSI past ~9.2e18 (n ~ 5e13 rows at 1e3-valued events);
    # the documented fallback past that cliff is DECIMAL(38,0)
    # accumulators at the measured cost.
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_full"),
        F.sum("x").cast("decimal(38,0)").alias("sx_full"),
    ]
    for b in range(BOOT_B):
        s, dv = b // _BOOT_TRITS, 3 ** (b % _BOOT_TRITS)
        w = F.expr(f"h{s} div {dv} % 3")
        aggs.append(F.sum(w).cast("bigint").alias(f"sw{b}"))
        aggs.append(
            F.sum(w * F.col("x")).cast("decimal(38,0)").alias(f"swx{b}")
        )
    # tiny frame (|event_type| rows), but its subtree is the corpus
    # scan: checkpoint so the unpivot leg and the mean leg share one
    # execution (the two-leg audit rule, plans/audit.py)
    wide = base.groupBy("event_type").agg(*aggs).localCheckpoint()
    rep = wide.select(
        "event_type",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.col(f"sw{b}").alias("sw"),
                        F.col(f"swx{b}").alias("swx"),
                    )
                    for b in range(BOOT_B)
                ]
            )
        ).alias("r"),
    ).select("event_type", F.col("r.b").alias("b"), F.col("r.sw").alias("sw"), F.col("r.swx").alias("swx"))
    mean_b = F.col("swx").cast("double") / (F.lit(100.0) * F.col("sw").cast("double"))
    wr = Window.partitionBy("event_type").orderBy("mean_b", "b")
    wc = Window.partitionBy("event_type")
    ranked = (
        rep.filter(F.col("sw") > 0)
        .withColumn("mean_b", mean_b)
        .withColumn("rn", F.row_number().over(wr))
        .withColumn("cnt", F.count(F.lit(1)).over(wc))
    )
    lo_rank = F.greatest(F.lit(1).cast("bigint"), F.ceil(F.lit(0.025) * F.col("cnt")))
    hi_rank = F.ceil(F.lit(0.975) * F.col("cnt"))
    agg = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == lo_rank, F.col("mean_b"))).alias("q_lo"),
        F.max(F.when(F.col("rn") == hi_rank, F.col("mean_b"))).alias("q_hi"),
        F.max("cnt").cast("bigint").alias("n_replicates"),
    )
    full = wide.select(
        "event_type",
        F.col("n_full").alias("n"),
        F.col("sx_full").alias("sx"),
    )
    mean = F.col("sx").cast("double") / (F.lit(100.0) * F.col("n").cast("double"))
    c = F.lit(BOOT_CI_SCALE)
    return (
        full.join(agg, "event_type", "left")
        .select(
            "event_type",
            "n",
            mean.alias("mean_value"),
            (mean + c * (F.col("q_lo") - mean)).alias("ci_lo"),
            (mean + c * (F.col("q_hi") - mean)).alias("ci_hi"),
            F.coalesce(F.col("n_replicates"), F.lit(0).cast("bigint")).alias(
                "n_replicates"
            ),
        )
    )


def sql_bootstrap_ci(table: str = "events") -> str:
    from eventstreamd_spark.functions.text import sql_h60

    h0 = sql_h60(f"(CAST(event_id AS VARCHAR) || ':bs0')")
    h1 = sql_h60(f"(CAST(event_id AS VARCHAR) || ':bs1')")
    wide_aggs = ",\n         ".join(
        ["CAST(count(*) AS BIGINT) AS n_full",
         "sum(CAST(x AS HUGEINT)) AS sx_full"]
        + [
            f"CAST(sum((h{b // _BOOT_TRITS} // {3 ** (b % _BOOT_TRITS)}) % 3) AS BIGINT)"
            f" AS sw{b},\n         "
            f"sum(CAST((h{b // _BOOT_TRITS} // {3 ** (b % _BOOT_TRITS)}) % 3"
            f" AS HUGEINT) * x) AS swx{b}"
            for b in range(BOOT_B)
        ]
    )
    unpivot = ", ".join(
        f"struct_pack(b := {b}, sw := sw{b}, swx := swx{b})"
        for b in range(BOOT_B)
    )
    return f"""
WITH base AS (
  SELECT event_type,
         CAST(round(value * 100.0, 0) AS BIGINT) AS x,
         {h0} AS h0, {h1} AS h1
  FROM {table}
),
wide AS (
  SELECT event_type, {wide_aggs}
  FROM base GROUP BY 1
),
rep AS (
  SELECT event_type, u.b AS b, u.sw AS sw, u.swx AS swx
  FROM (SELECT event_type, unnest([{unpivot}]) AS u FROM wide)
),
ranked AS (
  SELECT event_type,
         CAST(CAST(swx AS VARCHAR) AS DOUBLE)
           / (100.0 * CAST(sw AS DOUBLE)) AS mean_b,
         b,
         row_number() OVER (PARTITION BY event_type
           ORDER BY CAST(CAST(swx AS VARCHAR) AS DOUBLE)
             / (100.0 * CAST(sw AS DOUBLE)), b) AS rn,
         count(*) OVER (PARTITION BY event_type) AS cnt
  FROM rep WHERE sw > 0
),
agg AS (
  SELECT event_type,
         max(CASE WHEN rn = greatest(1, CAST(ceil(0.025 * cnt) AS BIGINT))
                  THEN mean_b END) AS q_lo,
         max(CASE WHEN rn = CAST(ceil(0.975 * cnt) AS BIGINT)
                  THEN mean_b END) AS q_hi,
         CAST(max(cnt) AS BIGINT) AS n_replicates
  FROM ranked GROUP BY 1
),
fullagg AS (
  SELECT event_type, n_full AS n, sx_full AS sx FROM wide
)
SELECT f.event_type, f.n,
       CAST(CAST(f.sx AS VARCHAR) AS DOUBLE)
         / (100.0 * CAST(f.n AS DOUBLE)) AS mean_value,
       CAST(CAST(f.sx AS VARCHAR) AS DOUBLE) / (100.0 * CAST(f.n AS DOUBLE))
         + {BOOT_CI_SCALE} * (a.q_lo
             - CAST(CAST(f.sx AS VARCHAR) AS DOUBLE)
               / (100.0 * CAST(f.n AS DOUBLE))) AS ci_lo,
       CAST(CAST(f.sx AS VARCHAR) AS DOUBLE) / (100.0 * CAST(f.n AS DOUBLE))
         + {BOOT_CI_SCALE} * (a.q_hi
             - CAST(CAST(f.sx AS VARCHAR) AS DOUBLE)
               / (100.0 * CAST(f.n AS DOUBLE))) AS ci_hi,
       coalesce(a.n_replicates, 0) AS n_replicates
FROM fullagg f LEFT JOIN agg a ON f.event_type = a.event_type
"""


# ---------------------------------------------------------------------------
# Rolling distinct active users (DAU + trailing-window WAU)
# ---------------------------------------------------------------------------

WAU_WINDOW_DAYS = 7


def rolling_active_users(
    events: DataFrame, window_days: int = WAU_WINDOW_DAYS
) -> DataFrame:
    """Daily active users plus trailing-N-day distinct actives per
    calendar day (the DAU/WAU pair) over a gap-free generated date
    spine — distinct-over-a-sliding-window, which no plain window
    function expresses (COUNT(DISTINCT) OVER RANGE is unsupported in
    both engines).

    Exact tier: dedup to (day, user) pairs — the one corpus-sized
    shuffle — then fan each pair to the <=N spine days it covers via a
    range join against the broadcast day spine (spine is |days| rows,
    always tiny) and re-count distinct.  Intermediate volume is
    bounded by N x |day-user pairs|, and the second distinct collapses
    map-side because the fan-out preserves (day, user) clustering.

    100 TB swap (documented, not built here): keep per-day HLL
    register vectors (sketches.grouped_hll) and OR-merge N registers
    per spine day — O(|days| x m) state, no second distinct, at the
    standard HLL error.  The exact tier stays as the oracle.
    """
    day = F.to_date(F.col("ts"))
    pairs = events.select(day.alias("d"), "user_id").distinct()
    spine = (
        events.agg(F.min(day).alias("lo"), F.max(day).alias("hi"))
        .select(F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day"))
    )
    dau = pairs.groupBy(F.col("d").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("dau")
    )
    wau = (
        pairs.join(
            F.broadcast(spine),
            (F.col("day") >= F.col("d"))
            & (F.col("day") <= F.date_add(F.col("d"), window_days - 1)),
        )
        .groupBy("day")
        .agg(F.count_distinct(F.col("user_id")).cast("bigint").alias("wau"))
    )
    return (
        spine.join(dau, "day", "left")
        .join(wau, "day", "left")
        .select(
            F.col("day").cast("timestamp").alias("day"),
            F.coalesce(F.col("dau"), F.lit(0).cast("bigint")).alias("dau"),
            F.coalesce(F.col("wau"), F.lit(0).cast("bigint")).alias("wau"),
        )
    )


def sql_rolling_active_users(
    table: str = "events", window_days: int = WAU_WINDOW_DAYS
) -> str:
    return f"""
WITH pairs AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM {table}
),
bounds AS (
  SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi FROM {table}
),
spine AS (
  SELECT CAST(unnest(generate_series(lo::TIMESTAMP, hi::TIMESTAMP,
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
dau AS (
  SELECT d AS day, CAST(count(*) AS BIGINT) AS dau FROM pairs GROUP BY 1
),
wau AS (
  SELECT s.day, CAST(count(DISTINCT p.user_id) AS BIGINT) AS wau
  FROM pairs p JOIN spine s
    ON s.day >= p.d AND s.day <= p.d + INTERVAL {window_days - 1} DAY
  GROUP BY 1
)
SELECT CAST(s.day AS TIMESTAMP) AS day,
       coalesce(d.dau, 0) AS dau, coalesce(w.wau, 0) AS wau
FROM spine s LEFT JOIN dau d ON s.day = d.day LEFT JOIN wau w ON s.day = w.day
"""


# ---------------------------------------------------------------------------
# Burstiness (Fano factor of daily counts) per event type
# ---------------------------------------------------------------------------


def fano_burstiness(events: DataFrame) -> DataFrame:
    """Overdispersion profile: the Fano factor (variance-to-mean ratio
    of DAILY event counts, zero-days included via the generated spine)
    per event type — Fano ~ 1 is Poisson-like arrivals; >> 1 flags
    bursty/clumped traffic (bot storms, batch backfills) that rate
    monitors tuned to Poisson noise will misjudge.

    Exactness: daily counts are integers; population variance comes
    from integer power sums over the |days|-row count table
    (n*Sum c^2 - S^2), so Fano = (n*Sc2 - S*S) / (n*S) is one exact-
    integer expression and one final IEEE divide.  Zero-days enter the
    sums as exact zeros via a broadcast spine x type frame, not a
    corpus scan.  A type with zero total events yields NULL (0/0
    guarded — the ADVICE r5 two-sample rule).

    Plan: one (type, day) count aggregate (map-side combinable), then
    everything runs over the |types| x |days| KB-sized table.
    """
    day = F.to_date(F.col("ts"))
    counts = events.groupBy(
        "event_type", day.alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    spine = events.agg(
        F.min(day).alias("lo"), F.max(day).alias("hi")
    ).select(F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("d"))
    types = events.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(spine))
    filled = grid.join(counts, ["event_type", "d"], "left").select(
        "event_type", F.coalesce(F.col("c"), F.lit(0).cast("bigint")).alias("c")
    )
    g = filled.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sc2"),
    )
    fano = F.when(F.col("s") == 0, F.lit(None).cast("double")).otherwise(
        (
            F.col("n_days") * F.col("sc2") - F.col("s") * F.col("s")
        ).cast("double")
        / (F.col("n_days") * F.col("s")).cast("double")
    )
    return g.select(
        "event_type",
        "n_days",
        (F.col("s").cast("double") / F.col("n_days").cast("double")).alias(
            "mean_daily"
        ),
        fano.alias("fano"),
        (fano > F.lit(1.5)).alias("is_bursty"),
    )


def sql_fano_burstiness(table: str = "events") -> str:
    return f"""
WITH counts AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS c
  FROM {table} GROUP BY 1, 2
),
bounds AS (
  SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi FROM {table}
),
spine AS (
  SELECT CAST(unnest(generate_series(lo::TIMESTAMP, hi::TIMESTAMP,
                                     INTERVAL 1 DAY)) AS DATE) AS d
  FROM bounds
),
grid AS (
  SELECT t.event_type, s.d
  FROM (SELECT DISTINCT event_type FROM {table}) t CROSS JOIN spine s
),
filled AS (
  SELECT g.event_type, coalesce(c.c, 0) AS c
  FROM grid g LEFT JOIN counts c ON g.event_type = c.event_type AND g.d = c.d
),
agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(c * c) AS BIGINT) AS sc2
  FROM filled GROUP BY 1
)
SELECT event_type, n_days,
       CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_daily,
       CASE WHEN s = 0 THEN NULL
            ELSE CAST(n_days * sc2 - s * s AS DOUBLE)
                 / CAST(n_days * s AS DOUBLE) END AS fano,
       CASE WHEN s = 0 THEN NULL
            ELSE CAST(n_days * sc2 - s * s AS DOUBLE)
                 / CAST(n_days * s AS DOUBLE) > 1.5 END AS is_bursty
FROM agg
"""


# ---------------------------------------------------------------------------
# Behavioral diversity per user (Gini-Simpson index, exact rational)
# ---------------------------------------------------------------------------


def user_diversity(events: DataFrame) -> DataFrame:
    """Per-user behavioral diversity: the Gini-Simpson index
    1 - sum_t (c_t/n)^2 over the user's event-type distribution — the
    diversity measure that stays EXACT (one rational per user:
    1 - sum c^2 / n^2), unlike Shannon entropy whose ln() has no
    cross-engine rounding contract.  0 = monomaniac (one event type),
    -> 1 = uniform over many types; segmentation and bot screens key
    on exactly this (scripted accounts pin near 0).

    Plan: one (user, type) count aggregate (map-side combinable), one
    |users x types|-row fold to per-user sums — both shuffles keyed on
    ids, integer arithmetic throughout, one final IEEE divide.
    """
    counts = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    per_user = counts.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sc2"),
    )
    n2 = (F.col("n_events") * F.col("n_events")).cast("double")
    return per_user.select(
        "user_id",
        "n_events",
        "n_types",
        (F.lit(1.0) - F.col("sc2").cast("double") / n2).alias("diversity"),
    )


def sql_user_diversity(table: str = "events") -> str:
    return f"""
WITH counts AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
  FROM {table} GROUP BY 1, 2
),
per_user AS (
  SELECT user_id,
         CAST(sum(c) AS BIGINT) AS n_events,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(c * c) AS BIGINT) AS sc2
  FROM counts GROUP BY 1
)
SELECT user_id, n_events, n_types,
       1.0 - CAST(sc2 AS DOUBLE)
           / CAST(n_events * n_events AS DOUBLE) AS diversity
FROM per_user
"""


# ---------------------------------------------------------------------------
# ANALYZE catalog, sketch tier: HLL NDV per column (the 100 TB swap
# column_stats_catalog's docstring prescribes, built and evaluated)
# ---------------------------------------------------------------------------

_CATALOG_KINDS = {
    "l_orderkey": "int", "l_partkey": "int", "l_suppkey": "int",
    "l_linenumber": "int", "l_quantity": "double",
    "l_extendedprice": "double", "l_discount": "double", "l_tax": "double",
    "l_returnflag": "str", "l_linestatus": "str", "l_shipdate": "date",
}


def _catalog_cells_rel(lineitem: DataFrame) -> DataFrame:
    """The SHARED register-cell relation of the HLL catalog tier
    (round 13): (column_name, bucket, m_rho, cnt) with null values
    riding bucket -1 — one narrow explode+md5 scan whose map-side
    combine caps every task's shuffle at n_cols x (m+1) rows, read
    through ``shared`` (n_cols x (m+1) rows; plans/memo.py) so
    ``column_stats_catalog_hll`` and
    ``column_stats_catalog_hll_prod`` pay the unpivot+hash scan once
    per session instead of once per face (and the eval face no longer
    runs a SECOND scan for its null/non-null counts — they fall out of
    the same cells)."""
    from eventstreamd_spark.digest import _canon
    from eventstreamd_spark.functions.text import h60
    from eventstreamd_spark.operators.sketches import _REM_BITS
    from eventstreamd_spark.session import fan_out

    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.when(F.col(c).isNull(), F.lit(None).cast("string"))
                .otherwise(_canon(F.col(c), k))
                .alias("val"),
            )
            for c, k in _CATALOG_KINDS.items()
        ]
    )
    # fan_out BEFORE the n_cols-x md5 unpivot: small test parquet
    # arrives as 1-2 splits and would serialize 11 hashes/row on two
    # cores (measured 106s at the 10x probe vs seconds when spread);
    # a no-op at real scale where the input has thousands of splits.
    rows = fan_out(lineitem).select(F.explode(structs).alias("s")).select("s.*")
    # ONE pass: null rows ride the SAME cell aggregate as bucket -1
    # (rho 0), so the null/non-null counts fall out of the register
    # shuffle instead of a second scan+explode+aggregate+join (the
    # two-aggregate formulation scanned and unpivoted lineitem twice —
    # measured ~35% of the tier's sf1 cost).  h60(NULL) is NULL, so the
    # null gate is the bound hash column itself.
    h = h60(F.col("val"))
    hs = rows.select("column_name", h.alias("h"))
    rem = F.expr(f"h % CAST({1 << _REM_BITS} AS BIGINT)")
    rho = F.when(F.col("h").isNull(), F.lit(0)).otherwise(
        F.when(rem == 0, F.lit(_REM_BITS + 1)).otherwise(
            F.lit(_REM_BITS + 1) - F.length(F.bin(rem))
        )
    )
    bucket = F.when(F.col("h").isNull(), F.lit(-1).cast("bigint")).otherwise(
        F.expr(f"shiftright(h, {_REM_BITS})")
    )
    return (
        hs.select("column_name", bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("column_name", "bucket")
        .agg(
            F.max("rho").alias("m_rho"),
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
        )
    )


def column_stats_catalog_hll(lineitem: DataFrame) -> DataFrame:
    """ANALYZE TABLE, sketch tier: per-column non-null/null counts plus
    HLL-estimated NDV — the shape a CBO statistics job actually runs at
    100 TB, where the exact tier's multi-COUNT-DISTINCT Expand keeps a
    hash set per column and this keeps 64 integers per column.

    One scan: columns unpivot to (column_name, canonical-string) rows
    via a NARROW n_cols-x explode (values canonicalized by the digest
    module's engine-portable forms — the same strings both engines
    md5), then ONE register aggregate whose map-side combine caps every
    task's shuffle at n_cols x m rows.  The exact NDV (the Expand tier)
    rides along as the eval column with the standard 1.04/sqrt(m)
    error budget asserted at ~4 sigma, exactly the
    hll_distinct_by_type / rolling_wau_hll pattern.

    Round 13: both heavy passes are the session-shared relations —
    registers AND null/non-null counts project from
    ``_catalog_cells_rel`` (shared with the prod twin), ndv_exact from
    ``_catalog_exact_rel`` (shared with the exact face) — so this face
    runs ZERO corpus scans of its own once either sibling ran, and the
    register arithmetic below is unchanged (same cells, same sums,
    value-identical output).
    """
    from eventstreamd_spark.operators.sketches import (
        _HLL_M,
        _REM_BITS,
        _hll_est_columns,
    )

    cells = shared(_catalog_cells_rel, lineitem)
    live = F.col("bucket") >= 0
    per_col = cells.groupBy("column_name").agg(
        F.sum(F.when(live, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_nonnull"),
        F.coalesce(F.sum(F.when(~live, F.col("cnt"))), F.lit(0))
        .cast("bigint")
        .alias("n_null"),
        F.sum(
            F.when(
                live,
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST({_REM_BITS + 1} - m_rho AS INT))"
                ),
            ).otherwise(0)
        ).alias("s_present"),
        F.sum(live.cast("int")).cast("int").alias("n_present"),
    )
    s_total = (
        F.col("s_present")
        + (F.lit(_HLL_M) - F.col("n_present")).cast("bigint")
        * F.lit(1 << (_REM_BITS + 1))
    )
    est = _hll_est_columns(
        s_total, (F.lit(_HLL_M) - F.col("n_present")).cast("int")
    )
    one = shared(_catalog_exact_rel, lineitem)
    exact = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(f"__nd_{c}").cast("bigint").alias("ndv_exact"),
                    )
                    for c in _CATALOG_KINDS
                ]
            )
        ).alias("s")
    ).select("s.*")
    return per_col.join(exact, "column_name").select(
        "column_name",
        "n_nonnull",
        "n_null",
        "ndv_exact",
        est.alias("ndv_hll"),
        (
            F.abs(est - F.col("ndv_exact").cast("double"))
            <= F.lit(0.52) * F.col("ndv_exact").cast("double")
        ).alias("within_bound"),
    )


def sql_column_stats_catalog_hll(table: str = "lineitem") -> str:
    from eventstreamd_spark.digest import _sql_canon
    from eventstreamd_spark.functions.text import sql_h60
    from eventstreamd_spark.operators.sketches import (
        _HLL_M,
        _REM_BITS,
        _sql_hll_est,
    )

    arms = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, "
        f"CASE WHEN {c} IS NULL THEN NULL ELSE {_sql_canon(c, k)} END AS val "
        f"FROM {table}"
        for c, k in _CATALOG_KINDS.items()
    )
    exact_arms = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, "
        f"CAST(count(DISTINCT {c}) AS BIGINT) AS ndv_exact FROM {table}"
        for c in _CATALOG_KINDS
    )
    h = sql_h60("val")
    rb, m = _REM_BITS, _HLL_M
    est = _sql_hll_est("t.s_total", f"({m} - t.n_present)")
    return f"""
WITH rows_u AS ({arms}),
counts AS (
  SELECT column_name,
         CAST(count(val) AS BIGINT) AS n_nonnull,
         CAST(count(*) - count(val) AS BIGINT) AS n_null
  FROM rows_u GROUP BY 1
),
hashes AS (
  SELECT column_name, {h} AS h FROM rows_u WHERE val IS NOT NULL
),
regs AS (
  SELECT column_name, (h >> {rb}) AS bucket,
         max(CASE WHEN h % CAST({1 << rb} AS BIGINT) = 0 THEN {rb + 1}
                  ELSE {rb + 1} - length(bin(h % CAST({1 << rb} AS BIGINT)))
             END) AS m_rho
  FROM hashes GROUP BY 1, 2
),
scaled AS (
  SELECT column_name,
         sum((1::BIGINT << CAST({rb + 1} - m_rho AS INT)))::BIGINT
           AS s_present,
         CAST(count(*) AS INT) AS n_present
  FROM regs GROUP BY 1
),
tot AS (
  SELECT column_name,
         s_present + CAST({m} - n_present AS BIGINT) * {1 << (rb + 1)}
           AS s_total,
         n_present
  FROM scaled
),
exact AS ({exact_arms})
SELECT c.column_name, c.n_nonnull, c.n_null, e.ndv_exact,
       {est} AS ndv_hll,
       (abs({est} - CAST(e.ndv_exact AS DOUBLE))
          <= CAST(0.52 AS DOUBLE) * CAST(e.ndv_exact AS DOUBLE))
         AS within_bound
FROM counts c
JOIN tot t ON c.column_name = t.column_name
JOIN exact e ON c.column_name = e.column_name
"""


def column_stats_catalog_hll_prod(lineitem: DataFrame) -> DataFrame:
    """Production (sketch-only) twin of column_stats_catalog_hll: the
    CBO statistics job as it would actually ship at 100 TB — per-column
    null/non-null counts plus HLL NDV from n_cols x m integer
    registers, with NO exact COUNT(DISTINCT) anywhere in the plan (the
    eval-column sibling keeps the 4-sigma bound assertion; pytest pins
    this twin's registers equal to the sibling's).

    Same single narrow unpivot scan, same fan_out guard, same
    deterministic register arithmetic — so the DuckDB oracle is still
    value-exact — minus the Expand-tier exact leg that the sketch
    exists to avoid.  Round 13: the cells ARE the session-shared
    ``_catalog_cells_rel`` (one scan serves this face and the eval
    sibling); the register arithmetic below is unchanged."""
    from eventstreamd_spark.operators.sketches import (
        _HLL_M,
        _REM_BITS,
        _hll_est_columns,
    )

    cells = shared(_catalog_cells_rel, lineitem)
    live = F.col("bucket") >= 0
    agg = cells.groupBy("column_name").agg(
        F.sum(F.when(live, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_nonnull"),
        F.coalesce(
            F.sum(F.when(~live, F.col("cnt"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_null"),
        F.sum(
            F.when(
                live,
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST({_REM_BITS + 1} - m_rho AS INT))"
                ),
            ).otherwise(0)
        ).alias("s_present"),
        F.sum(live.cast("int")).cast("int").alias("n_present"),
    )
    s_total = (
        F.col("s_present")
        + (F.lit(_HLL_M) - F.col("n_present")).cast("bigint")
        * F.lit(1 << (_REM_BITS + 1))
    )
    est = _hll_est_columns(
        s_total, (F.lit(_HLL_M) - F.col("n_present")).cast("int")
    )
    return agg.select(
        "column_name",
        "n_nonnull",
        "n_null",
        s_total.alias("register_sum_scaled"),
        est.alias("ndv_hll"),
    )


def sql_column_stats_catalog_hll_prod(table: str = "lineitem") -> str:
    from eventstreamd_spark.digest import _sql_canon
    from eventstreamd_spark.functions.text import sql_h60
    from eventstreamd_spark.operators.sketches import (
        _HLL_M,
        _REM_BITS,
        _sql_hll_est,
    )

    arms = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, "
        f"CASE WHEN {c} IS NULL THEN NULL ELSE {_sql_canon(c, k)} END AS val "
        f"FROM {table}"
        for c, k in _CATALOG_KINDS.items()
    )
    h = sql_h60("val")
    rb, m = _REM_BITS, _HLL_M
    est = _sql_hll_est("t.s_total", f"({m} - t.n_present)")
    return f"""
WITH rows_u AS ({arms}),
counts AS (
  SELECT column_name,
         CAST(count(val) AS BIGINT) AS n_nonnull,
         CAST(count(*) - count(val) AS BIGINT) AS n_null
  FROM rows_u GROUP BY 1
),
hashes AS (
  SELECT column_name, {h} AS h FROM rows_u WHERE val IS NOT NULL
),
regs AS (
  SELECT column_name, (h >> {rb}) AS bucket,
         max(CASE WHEN h % CAST({1 << rb} AS BIGINT) = 0 THEN {rb + 1}
                  ELSE {rb + 1} - length(bin(h % CAST({1 << rb} AS BIGINT)))
             END) AS m_rho
  FROM hashes GROUP BY 1, 2
),
scaled AS (
  SELECT column_name,
         sum((1::BIGINT << CAST({rb + 1} - m_rho AS INT)))::BIGINT
           AS s_present,
         CAST(count(*) AS INT) AS n_present
  FROM regs GROUP BY 1
),
tot AS (
  SELECT column_name,
         s_present + CAST({m} - n_present AS BIGINT) * {1 << (rb + 1)}
           AS s_total,
         n_present
  FROM scaled
)
SELECT c.column_name, c.n_nonnull, c.n_null,
       t.s_total AS register_sum_scaled, {est} AS ndv_hll
FROM counts c
JOIN tot t ON c.column_name = t.column_name
"""
