"""SparkSession builder + table loading for the engine.

Scale notes (100 TB): the conf below sizes a local session to its host but
the knobs are the ones that matter on a 1000-executor cluster — AQE on (runtime
coalesce + skew-join splitting), broadcast threshold high enough that dim
tables (region/nation/config) always broadcast, shuffle partitions sized to
cores locally and to ~2-3× total cores (or AQE-advisory target) on a cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
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
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# ceiling on the default driver heap: what the lead-prep match stream
# needs at sf0.1 (see get_spark), and no more on a large host
MAX_DRIVER_MEM_MB = 24 * 1024


def default_driver_mem(mem_total_kb: int | None) -> str:
    """Driver heap for a host with ``mem_total_kb`` of RAM: half of it,
    capped at 24g (24g when the host's memory is unknown)."""
    if mem_total_kb is None:
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{min(mem_total_kb // 2048, MAX_DRIVER_MEM_MB)}m"


def _usable_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # not Linux
        return os.cpu_count() or 1


def _mem_total_kb() -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def get_spark(app_name: str = "etl-stack-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    - AQE enabled: runtime partition coalescing, skew-join splitting,
      dynamic broadcast-join conversion — our answer to skewed geo buckets
      and lopsided group-bys at scale.
    - Arrow enabled: every pandas UDF crosses JVM<->Python in columnar
      batches, not pickled rows.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or _usable_cpus())
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(
        _mem_total_kb()
    )
    # make this package importable on Python workers regardless of the
    # driver's cwd — mapInPandas/pandas_udf closures deserialize by module
    # reference (on a real cluster, ship a wheel / addPyFile instead)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # 2× cores: halves per-partition sort size in window-heavy stages
        # (measured 2.2× on the 33M-row lead-prep rank); AQE coalesces the
        # small ones back down, so short queries pay nothing
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # default: half the host's RAM, at most 24g — the shared lead-prep
        # match stream persists ~2 GB at sf0.1 and must not fight execution
        # memory for it (an 8g heap evicted it under concurrent stages,
        # spiking a2a3 from 1.8s to 13s when the cache fell to disk)
        .config("spark.driver.memory", driver_mem)
        # verification flows collect full results (33M rows for the radius
        # join at sf0.1) — default 1g cap aborts the collect, not the query
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # the events table stores TIMESTAMP(NANOS) which Spark has no native
        # type for; read as long and convert in load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    # createDataFrame/parallelize slice local data into defaultParallelism
    # partitions (= cores), so EVERY tiny literal frame scans as `cores`
    # tasks. Fixed at context creation, so it's an env lever, not a conf
    # call: the test session caps it (hand-sized inputs, thousands of
    # actions); production leaves it unset (= cores, correct for real data)
    dp = os.environ.get("SPARK_GRAFT_DEFAULT_PARALLELISM")
    if dp:
        builder = builder.config("spark.default.parallelism", dp)
    return builder.getOrCreate()


def ensure_session_confs(spark: SparkSession) -> None:
    """Make an arbitrary (possibly externally-built) session able to run the
    engine deterministically. Both confs are runtime-settable:

    - ``nanosAsLong``: events.parquet stores TIMESTAMP(NANOS), which Spark
      has no native type for — without this a vanilla session dies with
      PARQUET_TYPE_ILLEGAL before any query logic runs.
    - UTC session timezone: collected TIMESTAMP values render in session-
      local wall time; the engine declares UTC semantics so result hashes
      are stable regardless of the host timezone.

    ``get_spark`` sets both at build time; this covers sessions we did not
    build (e.g. a verification harness passing its own SparkSession).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table. Plain parquet scan → full pushdown/pruning."""
    ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_events_ts(df)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to TIMESTAMP (UTC semantics),
    whatever physical encoding the parquet writer chose.

    Three encodings occur in the wild:

    - TIMESTAMP(NANOS) — Spark has no nanos type; with the ``nanosAsLong``
      conf it reads as epoch-nanos BIGINT. ``div`` keeps the division
      integral (a double round-trip would lose sub-ms precision).
    - timestamp[us/ms] without isAdjustedToUTC — reads as TIMESTAMP_NTZ.
      The engine declares UTC wall-clock semantics and the session timezone
      is pinned to UTC, so the cast re-tags the same wall time as an
      instant with zero value shift.
    - timestamp[us/ms] with isAdjustedToUTC — already TIMESTAMP; no-op.

    The type gate (rather than a fixed conversion) is what keeps the loader
    alive when the testdata writer changes encoding between rounds.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every test table and register them as temp views.

    Registration lets every operator also be reached through ``spark.sql``;
    Catalyst sees identical plans either way.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            # load_table handles the events nanos→timestamp conversion and
            # session-conf hardening; raw reads here would register an
            # int64 `ts` view under get_spark and fail outright elsewhere
            df = load_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
