"""A/B spec (tools/measure_ab.py): what a multi-branch consumer pays
over a shared expensive relation with no cache, a lazy persist and an
eager persist — run_scoped's ``cache(df)`` vs ``cache(df, eager=True)``
(the experiment behind round 10's eager default for broadcast-consumed
caches, including its negative result).

The base relation routes every row through a row-at-a-time Python UDF
(expensive on purpose; product code never does this). The plan joins
one keyed aggregate of the base to N_BRANCHES broadcast aggregates of
itself, each on a DIFFERENT grouping key (no common subtree for
ReuseExchange) and each consumed in the output (so the optimizer
cannot drop the 1-row join sides). All variants return the same
one-row aggregate (run with --check). The input is synthetic, so
--sf only names the run.

tests/test_cache_lifecycle.py counts the lineage runs with an
accumulator UDF over the same plan: no-persist runs the base once per
consumer (N_BRANCHES + 1), lazy and eager persists once. Eager's gain
over lazy is determinism — one build under its own AQE context — not
fewer runs (measured r10: link_prediction_holdout_eval sf1 34.2s ->
15.0s while its sf0.1 cost rose ~2s).
"""

from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from big_datatrader_spark.queries import lazy_cache, run_scoped

N_ROWS = 400_000
N_BRANCHES = 3


def race_plan(spark, cache, udf, n_rows=N_ROWS, n_parts=32):
    """sum over the keyed consumer of sv + every branch's max."""
    base = cache(spark.range(n_rows, numPartitions=n_parts)
                 .select(udf(F.col("id")).alias("v"),
                         (F.col("id") % 97).alias("k")))
    out = base.groupBy("k").agg(F.sum("v").alias("sv"))
    total = F.col("sv")
    for b in range(N_BRANCHES):
        agg = (base.groupBy((F.col("k") % (b + 2)).alias(f"g{b}"))
               .agg(F.sum("v").alias(f"s{b}"))
               .groupBy().agg(F.max(f"s{b}").alias(f"m{b}")))
        out = out.join(F.broadcast(agg))
        total = total + F.col(f"m{b}")
    return out.select(F.sum(total).alias("t"))


@F.udf(LongType())
def _odd(x):
    return x * 2 + 1


VARIANTS = [
    ("no_persist", lambda s, d: run_scoped(
        s, d, lambda s, d, c: race_plan(s, lazy_cache, _odd))),
    ("lazy_persist", lambda s, d: run_scoped(
        s, d, lambda s, d, c: race_plan(s, c, _odd))),
    ("eager_persist", lambda s, d: run_scoped(
        s, d, lambda s, d, c: race_plan(
            s, lambda df: c(df, eager=True), _odd))),
]
