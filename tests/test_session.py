"""session.scan_floor: the scan-starvation floor fires on a scan with
too few splits to feed the cores and leaves a wide scan alone."""

from big_datatrader_spark.session import _cpus, scan_floor


def _has_hash_exchange(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange hashpartitioning(k" in plan


def test_scan_floor_repartitions_a_single_row_group(spark, tmp_path):
    path = str(tmp_path / "one")
    spark.range(1000).selectExpr("id % 7 AS k", "id AS v") \
        .coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    floored = scan_floor(df, "k")
    assert floored is not df
    assert _has_hash_exchange(floored)
    assert sorted(map(tuple, floored.collect())) \
        == sorted(map(tuple, df.collect()))


def test_scan_floor_leaves_a_wide_scan_unchanged(spark, tmp_path):
    path = str(tmp_path / "wide")
    spark.range(0, 1000, numPartitions=_cpus()) \
        .selectExpr("id % 7 AS k", "id AS v").write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() >= _cpus()
    assert scan_floor(df, "k") is df
    assert not _has_hash_exchange(df)


def test_session_width_defaults_to_the_session(spark, tmp_path,
                                               monkeypatch):
    """With SPARK_GRAFT_CPUS unset the width is the session's own
    defaultParallelism, not a fixed guess: a scan with that many
    splits already feeds every core, so scan_floor leaves it alone."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    width = spark.sparkContext.defaultParallelism
    assert _cpus(spark) == width
    path = str(tmp_path / "session_wide")
    spark.range(0, 1000, numPartitions=width) \
        .selectExpr("id % 7 AS k", "id AS v").write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() >= width
    assert scan_floor(df, "k") is df
