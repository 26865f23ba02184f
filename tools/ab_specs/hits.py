"""A/B spec (tools/measure_ab.py): hits_hub_authority's edge cache and
iteration-loop confs. ``current`` is the registered query; every other
variant builds the same edge list and runs the package's own iteration
(training_ops._hits_top50) with one lever changed, so all variants
return identical rows (run with --check). The exception is ``lazy``:
it also moves the width, since _hits_iter_width reads an unfilled
cache's pre-cache size estimate.

Edge materialization (VERDICT r10 ask #2; the shipped plan persists
the edges SERIALIZED and eagerly, under the session confs):
- deser_eager: eager, default deserialized storage level (the pre-r10
  form the serialized level replaced)
- lazy: serialized, no eager count — the first half-step materializes
  the build under the loop's AQE-off confs
- packed: eager serialized cache of one BIGINT column
  (src << 32 | dst), unpacked once per half-step join
Each runs the shipped loop confs, with the width _hits_iter_width
derives from that variant's own cache (for ``lazy``, from the
optimizer's estimate: nothing has materialized it yet).

Loop confs (VERDICT r14 ask #2; the shipped loop runs AQE off at the
_hits_iter_width shuffle width):
- aqe_on: no conf override
- aqe_off_wide: AQE off at the session's full core count
"""

from pyspark import StorageLevel
from pyspark.sql import functions as F

from big_datatrader_spark.functions import graph as GR
from big_datatrader_spark.queries import run_scoped
from big_datatrader_spark.queries.training_ops import (
    _HITS_SCHEMA, _hits_iter_width, _hits_top50, hits_hub_authority)
from big_datatrader_spark.session import _cpus
from big_datatrader_spark.sources.parquet_source import table


def _aqe_off(width):
    return {"spark.sql.shuffle.partitions": str(width),
            "spark.sql.adaptive.enabled": "false"}


def _hits(spark, sf_dir, *, level=StorageLevel.MEMORY_AND_DISK,
          eager=True, packed=False, overrides=None):
    def build(spark, sf_dir, cache):
        li = table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                     "l_partkey")
        edges = GR.copurchase_pairs(li, "src", "dst")
        if packed:
            edges = edges.select((F.col("src").cast("bigint")
                                  * F.lit(1 << 32) + F.col("dst"))
                                 .alias("e"))
        held = edges.persist(level)
        try:
            if eager:
                held.count()
            if packed:
                edges = held.select(
                    F.shiftright("e", 32).alias("src"),
                    F.col("e").bitwiseAND(F.lit((1 << 32) - 1))
                    .alias("dst"))
            else:
                edges = held
            rows = _hits_top50(spark, edges, cache,
                               _aqe_off(_hits_iter_width(held))
                               if overrides is None else overrides)
        finally:
            held.unpersist()
        return spark.createDataFrame(rows, _HITS_SCHEMA)
    return run_scoped(spark, sf_dir, build)


VARIANTS = [
    ("current", hits_hub_authority),
    ("deser_eager", lambda s, d: _hits(
        s, d, level=StorageLevel.MEMORY_AND_DISK_DESER)),
    ("lazy", lambda s, d: _hits(s, d, eager=False)),
    ("packed", lambda s, d: _hits(s, d, packed=True)),
    ("aqe_on", lambda s, d: _hits(s, d, overrides={})),
    ("aqe_off_wide", lambda s, d: _hits(s, d,
                                        overrides=_aqe_off(_cpus()))),
]
