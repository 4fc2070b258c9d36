"""Stats aggregation (operator O11) — the reference's /stats endpoint,
generalized to data-level aggregation.

Reference: /root/reference/evtstrd/stats.py:28-50 aggregates only
*operational* metadata (start time, total connections, per-connection
projection).  We reproduce that shape for a listener registry, and add
the data-level stats a Spark engine can answer over the event stream
itself (counts, distinct users, time bounds per subsystem) — a single
shuffle with map-side combine; ``approx_count_distinct`` is the
100 TB-friendly variant of the exact distinct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def subsystem_stats(df: DataFrame, subsystem_col: str = "event_type") -> DataFrame:
    """Per-subsystem operational aggregate over the event stream."""
    return df.groupBy(F.col(subsystem_col).alias("subsystem")).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("max_ts"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )


def server_stats(df: DataFrame) -> DataFrame:
    """Whole-stream totals (the "start-time"/"total-connections" analog)."""
    return df.agg(
        F.count("*").alias("total_events"),
        F.countDistinct(F.col("event_type")).alias("n_subsystems"),
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
    )


def with_observed_metrics(df: DataFrame, name: str = "evt_metrics") -> DataFrame:
    """Attach zero-cost observed metrics to a (batch or streaming) plan.

    ``df.observe`` computes the aggregates inline during normal
    execution — no extra pass, no extra shuffle — and surfaces them per
    micro-batch through StreamingQueryListener / QueryExecutionListener.
    This is the Spark-native home for the reference's monotone counters
    (dispatcher.py:56): operational metrics ride the query instead of
    being kept in daemon state.
    """
    return df.observe(
        name,
        F.count(F.lit(1)).alias("n_events"),
        F.approx_count_distinct("subsystem").alias("n_subsystems"),
    )


class MetricsCollector:
    """StreamingQueryListener that accumulates observed metrics per
    micro-batch — the /stats counter feed for the streaming daemon."""

    def __init__(self, metric_name: str = "evt_metrics") -> None:
        self.metric_name = metric_name
        self.totals: dict[str, int] = {"n_events": 0, "batches": 0}

    def attach(self, spark: SparkSession) -> "MetricsCollector":
        from pyspark.sql.streaming import StreamingQueryListener

        collector = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                row = event.progress.observedMetrics.get(collector.metric_name)
                if row is not None:
                    collector.totals["n_events"] += row["n_events"]
                    collector.totals["batches"] += 1

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)
        return self

    def detach(self, spark: SparkSession) -> None:
        spark.streams.removeListener(self._listener)


def quality_observation(df: DataFrame, cols: list[str]):
    """One-pass batch data-quality counters: total rows + per-column
    null counts computed WHILE the main job runs (pyspark Observation —
    same mechanism as with_observed_metrics, batch-flavored API).

    At 100 TB a separate `df.filter(isnull).count()` audit is a second
    full scan; an Observation rides the action the pipeline was already
    doing for free.  Returns (observed_df, observation) — run any
    action on observed_df, then read ``observation.get``.
    """
    from pyspark.sql import Observation

    obs = Observation("quality")
    metrics = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.isnull(c).cast("long")).alias(f"n_null_{c}") for c in cols
    ]
    return df.observe(obs, *metrics), obs


def weighted_median_quantity(lineitem: DataFrame) -> DataFrame:
    """Custom UDAF surface: weighted median of l_quantity (weight =
    round(l_extendedprice), BIGINT) per return flag, as an Arrow-batched
    ``pandas_udf`` GROUPED_AGG aggregate.

    This is the one UDF flavor the rest of the repo doesn't use (scalar
    Columns and mapInPandas cover everything else); the aggregate here
    is deliberately NOT SQL-impossible — its DuckDB twin states the same
    thing with a RANGE-framed cumulative window — so the custom-agg
    plumbing itself is what gets oracle-checked.  Integer weights and a
    2*cum >= tot threshold keep every comparison exact: no float
    accumulation order can flip the verdict in either engine.

    Scale: GROUPED_AGG has NO partial aggregation — the whole group
    crosses the shuffle (fine for bounded groups like the 3 return
    flags x bounded quantities; wrong for per-key TB groups).  At scale
    prefer the windowed-SQL formulation, which partial-sorts
    distributedly; this operator exists to prove the API surface.
    """
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: the module's deferred annotations keep
    # type-hint inference from seeing the GROUPED_AGG signature
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def _wmedian(v, w):
        df = (
            pd.DataFrame({"v": v.astype(float), "w": w.astype("int64")})
            .sort_values("v", kind="mergesort")
            .reset_index(drop=True)
        )
        cum = df["w"].cumsum()
        tot = int(df["w"].sum())
        hit = df.loc[2 * cum >= tot, "v"]
        return float(hit.iloc[0])

    return (
        lineitem.select(
            "l_returnflag",
            F.col("l_quantity").alias("v"),
            F.round("l_extendedprice").cast("long").alias("w"),
        )
        .groupBy("l_returnflag")
        .agg(_wmedian("v", "w").alias("weighted_median_qty"))
    )


def sql_weighted_median_quantity(lineitem: str = "lineitem") -> str:
    return (
        "WITH w AS ("
        "  SELECT l_returnflag, l_quantity AS v, "
        f"    CAST(round(l_extendedprice) AS BIGINT) AS wt FROM {lineitem}"
        "), c AS ("
        "  SELECT l_returnflag, v, "
        "    sum(wt) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum, "
        "    sum(wt) OVER (PARTITION BY l_returnflag) AS tot "
        "  FROM w) "
        "SELECT l_returnflag, min(v) AS weighted_median_qty "
        "FROM c WHERE 2 * cum >= tot GROUP BY l_returnflag"
    )
