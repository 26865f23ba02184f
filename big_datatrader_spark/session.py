"""SparkSession construction and runtime-conf hygiene.

The reference holds one implicit "session" (a Tk app with pandas/Dask/cuDF
state, main.py:27-65). Here: one SparkSession, lazy DataFrames end to end.

Two entry paths:
- ``get_spark()``     build our own local session (tests, bench).
- ``ensure_confs()``  normalize runtime confs on a session we did NOT
                      build (the driver passes its own into
                      ``__spark_entry__.entry``) — only confs that are
                      safe to set after JVM start.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

# Confs that can be applied to an already-running session.
RUNTIME_CONFS: dict[str, str] = {
    # Determinism for the DuckDB hash oracle (SURVEY.md §7.4).
    "spark.sql.session.timeZone": "UTC",
    # Let AQE coalesce shuffle partitions / handle skew at runtime.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas interchange (applyInPandas / mapInPandas /
    # pandas_udf) — batch transfer, never row-at-a-time pickling.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The driver testdata stores TIMESTAMP(NANOS) parquet, which Spark
    # rejects outright; read as int64 ns and convert at the source layer
    # (sources/parquet_source.py) — same ns->us truncation DuckDB applies.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet (other testdata
    # generations) would otherwise infer TIMESTAMP_NTZ, which watermarks
    # reject and which diverges from DuckDB's naive-timestamp reading
    # under the UTC session zone. Read as TIMESTAMP (instant) instead.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Spark's legacy INT96 timestamp encoding writes NO column min/max
    # statistics (deprecated in parquet-format), which silently disables
    # row-group pruning on every time predicate over our own sinks —
    # at 100 TB that is the difference between reading a window and
    # scanning the corpus (proven by test_format_ops's range-layout
    # test). Write standard TIMESTAMP_MICROS instead.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def _cpus(spark: SparkSession | None = None) -> int:
    """The session width: ``$SPARK_GRAFT_CPUS`` when set, else the
    session's ``defaultParallelism`` (``spark``, or the active session),
    else — before any session exists — the cores this process may run
    on. A fixed default would be wrong on every cluster and box it was
    not tuned on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    spark = spark or SparkSession.getActiveSession()
    if spark is not None:
        return spark.sparkContext.defaultParallelism
    return len(os.sched_getaffinity(0))


def scan_floor(df: DataFrame, key: str) -> DataFrame:
    """Restore parallelism above a scan that cannot feed the cores by
    repartitioning immediately after the read.

    A parquet file splits only down to its row groups, and the driver
    testdata writes each table as ONE row group, so the first aggregate
    or per-row chain above the scan ran on a single core at any session
    width. When the scan has at most half the session's cores worth of
    splits, hash-repartition the raw rows by ``key``; where an aggregate
    on ``key`` follows, it reuses that partitioning, so the exchange
    count is unchanged. Inert on layouts with enough row groups.
    Measured (interleaved min-of-3, OPTIMIZATION_r15.md): co-purchase
    edge build sf0.1 1.88 -> 1.36s; text_token_stats sf1 2.64 -> 0.79s."""
    try:
        n_splits = df.rdd.getNumPartitions()
    except Exception:
        return df
    if 2 * n_splits <= _cpus(df.sparkSession):
        return df.repartition(F.col(key))
    return df


def ensure_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs idempotently (cheap; call per query)."""
    # Size the shuffle fan-out to the machine instead of Spark's default
    # 200 (AQE coalesces down, but the driver-provided session would
    # otherwise schedule 200 tasks per exchange on a 32-core box).
    confs = {**RUNTIME_CONFS,
             "spark.sql.shuffle.partitions": str(_cpus(spark))}
    for k, v in confs.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            # Some confs may be fixed by the hosting driver; never fail a
            # query over a conf.
            pass
    return spark


def get_spark(app_name: str = "big-datatrader-spark") -> SparkSession:
    """Local session sized for this container; multi-executor semantics
    come from partitioning, which is what we actually design for.

    Startup is retried once: two local JVMs launching at the same
    moment occasionally collide on gateway/port setup and the first
    attempt dies with a transient launcher error — observed repeatedly
    on this box, and a one-retry turns a lost bench/correctness round
    into a 3-second delay."""
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    try:
        spark = builder.getOrCreate()
    except Exception:
        import time
        time.sleep(3)
        spark = builder.getOrCreate()
    return ensure_confs(spark)
