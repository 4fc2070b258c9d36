"""SparkSession factory + testdata loaders.

Local mode is a correctness harness only; every config below is chosen to
also make sense on a large cluster (AQE on, sane shuffle parallelism,
UTC timestamps for engine-portable semantics, Arrow for the few
pandas-exchange paths).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The driver's parquet writer emits INT64 TIMESTAMP(NANOS), which Spark's
# parquet reader refuses outright (PARQUET_TYPE_ILLEGAL) — nanosecond
# timestamps only round-trip via the legacy nanos-as-long escape hatch.
# We read those columns as epoch-nanos longs and rebuild TimestampType at
# microsecond precision (truncation, same as DuckDB's nanos->us read).
_TIMESTAMP_COLS: dict[str, list[str]] = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


# Initial shuffle width as a multiple of spark.sql.shuffle.partitions
# (SCALE.md §17): start wide, let AQE coalesce.
INITIAL_SHUFFLE_MULT = 8

# The largest default driver heap, whatever the host.
MAX_DRIVER_MB = 48 * 1024


def driver_memory(physical_bytes: int, cgroup_max: str | None) -> str:
    """Default ``spark.driver.memory``: half of the memory this process
    can use, the lower of ``physical_bytes`` and a cgroup v2
    ``memory.max`` value (``"max"`` or ``None``: no limit), at most
    ``MAX_DRIVER_MB``.  The JVM may grow toward its heap limit before a
    full collection, so a heap above the host's memory ends in the OOM
    killer, not in GC."""
    usable = physical_bytes
    if cgroup_max and cgroup_max.strip() != "max":
        usable = min(usable, int(cgroup_max))
    return f"{min(usable // 2 // 2**20, MAX_DRIVER_MB)}m"


def _host_memory() -> tuple[int, str | None]:
    """Physical memory in bytes and this process's cgroup v2
    ``memory.max`` (``None`` without a v2 memory controller)."""
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/proc/self/cgroup") as f:
            path = next(ln[3:].strip() for ln in f if ln.startswith("0::"))
        with open(f"/sys/fs/cgroup{path.rstrip('/')}/memory.max") as f:
            return physical, f.read()
    except (OSError, StopIteration):
        return physical, None


# The environment variables the JVM launcher reads options from, the
# deployment's driver JVM options, and a collector selection among them
# (-XX:+UseSerialGC, -XX:+UseG1GC, ...).
_JAVA_ENV_OPTIONS = ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS")
_CONF_JAVA_OPTIONS = ("spark.driver.defaultJavaOptions", "spark.driver.extraJavaOptions")
_COLLECTOR = re.compile(r"-XX:\+Use\w+GC\b")


def _spark_defaults(env: dict[str, str]) -> dict[str, str]:
    """The deployment's ``spark-defaults.conf`` (in ``SPARK_CONF_DIR``,
    else ``SPARK_HOME/conf``, where ``spark-submit`` looks), ``{}``
    without one.  One property a line: ``key value``, ``key=value`` or
    ``key: value``; ``#`` and ``!`` start a comment line."""
    from pyspark.find_spark_home import _find_spark_home

    conf_dir = env.get("SPARK_CONF_DIR") or os.path.join(
        env.get("SPARK_HOME") or _find_spark_home(), "conf"
    )
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf"), encoding="utf-8") as f:
            lines = f.read().splitlines()
    except FileNotFoundError:
        return {}
    props: dict[str, str] = {}
    for line in map(str.strip, lines):
        if line and line[0] not in "#!":
            key, value = re.match(r"([^\s=:]*)\s*[=:]?\s*(.*)", line).groups()
            props[key] = value
    return props


def _daemon_collector(env: dict[str, str], defaults: dict[str, str] | None = None) -> list[str]:
    """The streaming daemon's collector option: the serial collector,
    or nothing when ``env`` or the deployment's driver JVM options in
    ``defaults`` (``_spark_defaults``) already select a collector (the
    JVM refuses to start with two: "Multiple garbage collectors
    selected")."""
    named = [env.get(k, "") for k in _JAVA_ENV_OPTIONS]
    named += [(defaults or {}).get(k, "") for k in _CONF_JAVA_OPTIONS]
    if any(_COLLECTOR.search(options) for options in named):
        return []
    return ["-XX:+UseSerialGC"]


def get_spark(
    app_name: str = "eventstreamd-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    *,
    streaming_daemon: bool = False,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster the ``master`` and memory settings come from
    spark-submit; everything set here is cluster-appropriate:

    - AQE enabled: runtime coalescing of shuffle partitions, skew-join
      splitting, and dynamic join-strategy switching — the knobs that keep
      plans healthy when the optimizer's size estimates are off by 100x.
    - shuffle.partitions sized to cores locally; at 100 TB this should be
      (executors * cores * 2..3) or simply left to AQE's coalescing with a
      high initial value.
    - session timezone pinned to UTC so timestamp semantics are portable
      (and match the DuckDB correctness oracle).
    - streaming checkpoints written through Hadoop's ``FileSystem`` API.
      The default ``FileContext`` manager resolves symlinks on every
      rename, which on a host without Hadoop's native library spawns a
      ``readlink`` child of the driver JVM for each offset and commit
      log entry.

    ``streaming_daemon=True`` builds the streaming daemon's session,
    which runs no Python UDF and holds little live data:

    - ``spark.python.use.daemon=false``: each Python process the JVM
      starts is one process that exits after its call, instead of a
      ``pyspark.daemon`` fork server per kind that lives as long as the
      JVM.  Without the fork server every Python task starts a fresh
      interpreter, which only a session without Python UDFs can afford.
    - ``-XX:+UseSerialGC`` in ``spark.driver.extraJavaOptions``: a
      micro-batch's rows are garbage by the next trigger, and the live
      set stays near 80 MB.  G1 grew a 462 MB heap for it and the JVM
      peaked at 965 MB; on Serial the heap stays at its initial size
      (RAM/64) and the JVM peaked at 566 MB (SCALE.md §24).  When
      ``JAVA_TOOL_OPTIONS``, ``JDK_JAVA_OPTIONS`` or ``_JAVA_OPTIONS``
      or the deployment's ``spark.driver.defaultJavaOptions`` or
      ``spark.driver.extraJavaOptions`` already selects a collector,
      none is added (``_daemon_collector``).

    The session's driver JVM options are added to the deployment's
    ``spark.driver.extraJavaOptions`` from ``spark-defaults.conf``
    (``_spark_defaults``), not put in its place: a builder setting
    reaches ``spark-submit`` as ``--conf``, which overrides the file.

    The batch session keeps G1: its tasks run on every core, and each
    of Serial's pauses stops them all while one thread collects.  On
    the dedup suite Serial saved 460-840 MB but slowed the steady pass
    in three of four seeds (SCALE.md §24).
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or cpus
    defaults = _spark_defaults(os.environ)
    java_options = [
        defaults.get("spark.driver.extraJavaOptions", ""),
        "-Dderby.system.home=/tmp/eventstreamd_spark_derby",
    ]
    if streaming_daemon:
        java_options += _daemon_collector(os.environ, defaults)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Start every shuffle WIDE and let AQE coalesce down (the
        # docstring's 100 TB guidance, now applied locally too): with a
        # hard 32-partition ceiling the sf10 probe's inverted-index
        # join ground through oversized sort/agg partitions —
        # dedup_ngram_jaccard measured 71.1 s at sf10 under 32
        # partitions vs 58.1 s under a 256 initial width (fresh-JVM
        # controls, SCALE.md §17), pulling its measured decade
        # exponent from 1.14 back to 1.05 ~ the claimed ~N.  Small
        # queries are unaffected: AQE coalesces them back to a handful
        # of partitions at runtime.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(INITIAL_SHUFFLE_MULT * shuffle),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.use.daemon", str(not streaming_daemon).lower())
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory(*_host_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # keep catalog state out of the repo: managed tables (bucketing)
        # and the derby metastore live under /tmp locally; on a cluster
        # these come from the real warehouse/metastore config
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/eventstreamd_spark_warehouse"
            ),
        )
        .config("spark.driver.extraJavaOptions", " ".join(filter(None, java_options)))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one of the driver-generated parquet tables.

    Parquet scan => columnar, predicate pushdown and column pruning reach
    the reader for free when callers stay declarative.
    """
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    # Self-contained under a foreign SparkSession (driver harness, notebook):
    # the fixture parquet stores INT64 TIMESTAMP(NANOS), which Spark's reader
    # rejects unless the legacy nanos-as-long escape hatch is on.  The conf is
    # runtime-settable, so set it here rather than relying on get_spark()
    # having built the session.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Pin UTC for the same reason: timestamp semantics (ntz->ltz casts,
    # date_trunc, window()) must match the DuckDB oracle regardless of the
    # host session's timezone.  Both confs are runtime-settable.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    dtypes = dict(df.dtypes)
    for c in _TIMESTAMP_COLS.get(name, []):
        # Only rebuild when the file actually stored TIMESTAMP(NANOS) and
        # the legacy conf surfaced it as a long (physical type varies per
        # table/scale-factor in the driver data).  `div` stays in 64-bit
        # integer arithmetic (a double division would lose precision above
        # 2^53 ns). Cheap narrow projection — no shuffle, stays in codegen.
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dtypes.get(c) == "timestamp_ntz":
            # Some scale factors store plain micros, which surface as
            # TIMESTAMP_NTZ; normalize to TimestampType so downstream
            # operators (unix_micros, window()) see one type everywhere.
            # Session tz is UTC, so the instant is unchanged.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a narrow input up to cluster parallelism before a
    CPU-heavy per-row stage (shingling, hashing, Arrow-batched kernels).

    Small parquet files arrive as 1-2 splits, which serializes an
    expensive projection on one core no matter how wide the cluster is —
    Spark sizes scan partitions by bytes, not by downstream cost.  The
    shuffle moves only the (small) input rows, so it pays for itself as
    soon as the per-row work dominates.  Guarded: when the input already
    has enough partitions (the 100 TB case — thousands of file splits),
    this is a no-op, adding no shuffle at scale.
    """
    if df.isStreaming:  # a streaming plan has no RDD; leave it as-is
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    current = df.rdd.getNumPartitions()
    return df.repartition(target) if current < target else df


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every fixture table as a temp view, opening the full
    Spark SQL surface (joins, subqueries, CTEs, window functions,
    grouping sets — everything Catalyst parses) over the same data the
    DataFrame operators use.

    This is the engine's ad-hoc front door: the reference's only query
    front-end is the filter mini-language (http_server.py:145-153);
    here any ANSI SQL string becomes a distributed plan.  Temp views
    are lazy — registering all ten costs nothing until queried.
    """
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def sql(spark: SparkSession, query: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """One-call SQL entry point: ensure views exist, run the query."""
    register_views(spark, sf_dir)
    return spark.sql(query)
