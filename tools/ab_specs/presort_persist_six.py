"""A/B spec (tools/measure_ab.py): the r15 persist-before-sort
conversions (VERDICT r14 ask #5). The OLD plan of a converted query is
exactly its builder under the identity cache (plan_fn + lazy_cache —
the pre-conversion lazy tree, the sort resamples the uncached kernel
chain); the NEW plan is the registered spark_fn (run_scoped: pre-sort
relation persisted, result checkpointed, caches released).

Each variant runs all converted queries and returns every result row
as (query, JSON row), so --check proves old and new return identical
rows. The per-query split of the recorded sf1 run is
plans/r15/ab_presort_sf1.json.
"""

from functools import reduce

from pyspark.sql import functions as F

from big_datatrader_spark.queries import lazy_cache, load_registry

# The measured run covered all six r14-flagged queries; the two fold
# members (macd_histogram, time_decay_ewma) measured worse/wash and
# were REVERTED, so only the four landed conversions remain (the
# reverted two have no plan_fn to build the old form from).
_SIX = ["multimodal_feature_extract", "multimodal_frame_sample",
        "multimodal_ppm_decode", "multimodal_wav_decode"]


def _all(build):
    def fn(spark, sf_dir):
        reg = load_registry()
        parts = [build(reg[n], spark, sf_dir).select(
                     F.lit(n).alias("query"),
                     F.to_json(F.struct("*")).alias("row"))
                 for n in _SIX]
        return reduce(lambda a, b: a.unionByName(b), parts)
    return fn


VARIANTS = [
    ("old", _all(lambda q, s, d: q.plan_fn(s, d, lazy_cache))),
    ("new", _all(lambda q, s, d: q.spark_fn(s, d))),
]
