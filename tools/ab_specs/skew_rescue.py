"""A/B spec (tools/measure_ab.py): the hot-key join (VERDICT r8 ask
#6) — when does AQE's built-in skew-join rescue suffice, and when is
manual salting still needed?

A 10M-row fact table where user 0 owns 50% of the rows is joined to a
1000-row spend dimension and rolled up by event type:

- plain             unsalted sort-merge join, AQE skew-join OFF
- aqe_default       skewJoin.enabled with STOCK thresholds (256 MB
                    absolute floor AND 5x the median — both must hold)
- aqe_tuned         thresholds lowered (1 MB / 2x) so the rescue fires
                    at this size
- aqe_tuned_derived the tuned confs over an INLINE-aggregated dimension
                    (the everyday enrichment shape), which
                    OptimizeSkewedJoin never matches at any threshold —
                    tests/test_join_strategies.py pins that
- salted            operators.join_strategies.salted_join, skew-join off

Every variant sets all four skew confs plus
autoBroadcastJoinThreshold=-1 (the 1000-row dimension would broadcast
otherwise; the measurement models the case where both sides are
corpus-scale), so variant order cannot leak confs. The events and the
dimension are localCheckpointed once per session so the direct join
children are raw shuffles. All variants return the same rollup (run
with --check). The input is synthetic, so --sf only names the run.
"""

from functools import cache

from pyspark.sql import functions as F

from big_datatrader_spark.operators.join_strategies import salted_join

_ROWS = 10_000_000
_USERS = 1_000
_SALT_N = 16
_STOCK = ("256MB", "5.0", "64MB")
_TUNED = ("1MB", "2.0", "4MB")


def hot_events(spark, rows=_ROWS, users=_USERS):
    """Synthetic events; even ids all go to user 0. The payload column
    keeps shuffled rows realistically sized (a pure-key row
    lz4-compresses so well the stats undercount skew)."""
    return spark.range(rows).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 2 == 0, 0)
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(users)))
        .alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in
                      ("view", "click", "purchase", "signup", "error")]),
            (F.pmod(F.xxhash64("id", F.lit(7)), F.lit(5)) + 1)
            .cast("int")).alias("event_type"),
        F.xxhash64("id", F.lit(13)).alias("payload"))


def spend_of(ev):
    return (ev.filter(F.col("event_type") == "purchase")
            .groupBy("user_id")
            .agg(F.sum(F.pmod("payload", F.lit(10000)))
                 .alias("spend_cents")))


def rollup(ev, dim, salt_buckets=0):
    fact = ev.select("user_id", "event_type", "payload")
    joined = (salted_join(fact, dim, "user_id", salt_buckets=salt_buckets)
              if salt_buckets else fact.join(dim, "user_id"))
    return (joined.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("spend_cents").alias("s")))


def set_skew_confs(spark, enabled, threshold, factor, advisory):
    pre = "spark.sql.adaptive."
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(pre + "skewJoin.enabled", enabled)
    spark.conf.set(pre + "skewJoin.skewedPartitionThresholdInBytes",
                   threshold)
    spark.conf.set(pre + "skewJoin.skewedPartitionFactor", factor)
    spark.conf.set(pre + "advisoryPartitionSizeInBytes", advisory)


@cache
def _inputs(spark):
    ev = hot_events(spark).localCheckpoint(eager=True)
    return ev, spend_of(ev).localCheckpoint(eager=True)


def _variant(enabled, confs, derived=False, salt_buckets=0):
    def fn(spark, sf_dir):
        ev, dim = _inputs(spark)
        set_skew_confs(spark, enabled, *confs)
        return rollup(ev, spend_of(ev) if derived else dim, salt_buckets)
    return fn


VARIANTS = [
    ("plain", _variant("false", _STOCK)),
    ("aqe_default", _variant("true", _STOCK)),
    ("aqe_tuned", _variant("true", _TUNED)),
    ("aqe_tuned_derived", _variant("true", _TUNED, derived=True)),
    ("salted", _variant("false", _STOCK, salt_buckets=_SALT_N)),
]
