"""Salted join: result-identical to the plain join, salt spreads keys."""

from pyspark.sql import functions as F

from big_datatrader_spark.operators.join_strategies import salted_join
from big_datatrader_spark.sources.parquet_source import table


def test_salted_join_matches_plain_join(spark, sf0001):
    ev = table(spark, sf0001, "events").select("event_id", "user_id",
                                               "value")
    dim = (table(spark, sf0001, "events")
           .groupBy("user_id").agg(F.avg("value").alias("user_avg")))
    plain = ev.join(dim, "user_id").select("event_id", "user_avg")
    salted = salted_join(ev, dim, "user_id", salt_buckets=8) \
        .select("event_id", "user_avg")
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, salted.collect()))
    assert a == b


def test_salted_left_join_keeps_unmatched(spark):
    fact = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "zz")], "k long, v string")
    dim = spark.createDataFrame([(1, "x"), (2, "y")], "k long, d string")
    out = salted_join(fact, dim, "k", salt_buckets=4, how="left")
    rows = {r.k: r.d for r in out.collect()}
    assert rows == {1: "x", 2: "y", 3: None}


def test_runtime_bloom_filter_prunes_fact_side(spark, sf001):
    """Spark's runtime Bloom-filter join pruning (SPARK-32268): on a
    real cluster a selective dim-side predicate injects
    bloom_filter_agg/might_contain onto the fact scan, pruning shuffle
    input at runtime. The 10 GB application-side default correctly
    leaves it OFF at toy scale, so the test lowers the thresholds to
    force injection and asserts (a) the filter appears in the
    optimized plan and (b) results are identical with and without."""
    from pyspark.sql import functions as F
    from big_datatrader_spark.sources.parquet_source import table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}

    def build():
        li = table(spark, sf001, "lineitem")
        orders = table(spark, sf001, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT")
        return (li.join(orders, li.l_orderkey == orders.o_orderkey)
                .groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("l_quantity").alias("q")))

    baseline = build().collect()
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = build()
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert df.collect() == baseline
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_aqe_skew_join_fires_only_on_direct_shuffle_children(spark):
    """OptimizeSkewedJoin matches SMJ(Sort(Shuffle), Sort(Shuffle)):
    with a checkpointed dimension (both join children raw shuffles) it
    splits the hot key's partition at tuned thresholds, but when the
    dimension is aggregated inline the rule never fires, which is why
    salting stays (tools/ab_specs/skew_rescue.py times the variants).
    Read from the executed plan's skew=true marker."""
    from conftest import load_ab_spec

    sk = load_ab_spec("skew_rescue")
    keys = ["spark.sql.autoBroadcastJoinThreshold"] + [
        "spark.sql.adaptive." + k for k in (
            "skewJoin.enabled", "skewJoin.skewedPartitionThresholdInBytes",
            "skewJoin.skewedPartitionFactor",
            "advisoryPartitionSizeInBytes")]
    saved = {k: spark.conf.get(k) for k in keys}
    ev = sk.hot_events(spark, rows=200_000).localCheckpoint(eager=True)
    dim = sk.spend_of(ev).localCheckpoint(eager=True)
    try:
        sk.set_skew_confs(spark, "true", "64KB", "2.0", "256KB")
        fired, rows = {}, {}
        for shape, d in (("direct", dim), ("derived", sk.spend_of(ev))):
            df = sk.rollup(ev, d)
            rows[shape] = sorted(map(tuple, df.collect()))
            plan = df._jdf.queryExecution().executedPlan().toString()
            fired[shape] = "skew=true" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert fired == {"direct": True, "derived": False}
    assert rows["direct"] == rows["derived"]
