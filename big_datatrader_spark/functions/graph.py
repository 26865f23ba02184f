"""Shared co-purchase graph construction (pagerank / HITS / SSSP /
triangles / LCC / modularity all derive their edge list from "parts
appearing on the same order").

One-scan build: groupBy(l_orderkey) -> collect_set(l_partkey) ->
within-order pair explode -> distinct. The classic self-join build
reads lineitem TWICE and shuffles both copies; at the 100 TB design
point that is a second full corpus scan. This shape does one scan and
one map-side-combinable shuffle (collect_set has partial aggregation),
then the same k^2-per-order fan-out the join produced as a narrow
explode — measured 2x faster cold at sf0.1 (2.9s -> 1.6s) with an
identical 2.39M-edge result set. A hot order with k parts costs k^2
either way; the per-order set is bounded by order line count, so the
collected array is never corpus-scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..session import scan_floor

_PAIRS = ("flatten(transform(ps, x -> "
          "transform(ps, y -> struct(x AS a, y AS b))))")


def copurchase_pairs(li: DataFrame, a_name: str, b_name: str,
                     *, ordered: bool = False,
                     attrs: DataFrame | None = None) -> DataFrame:
    """Distinct co-purchase part pairs from a lineitem projection
    (l_orderkey, l_partkey). ``ordered=True`` keeps only a < b
    (undirected edge set); otherwise both directions (a != b).
    The a<b / a!=b filters compare VALUES, so the nondeterministic
    collect_set order never reaches the result.

    ``attrs`` (optional): an order-grain DataFrame with exactly
    ``l_orderkey`` plus ONE attribute column. It is joined AFTER the
    per-order aggregation — against one row per order, not one per
    lineitem — and the result carries the per-edge MIN of that
    attribute instead of plain ``distinct()``. This keeps the dated
    edge build (temporal reachability) on the same single lineitem
    scan as the rest of the graph family."""
    # the per-order collect_set's partial aggregate (an
    # ObjectHashAggregate) runs on every core only above the floor;
    # raising its sort-fallback threshold instead measured worse
    parts = (scan_floor(li, "l_orderkey").groupBy("l_orderkey")
             .agg(F.collect_set("l_partkey").alias("ps")))
    cond: Column = (F.col(a_name) < F.col(b_name) if ordered
                    else F.col(a_name) != F.col(b_name))
    if attrs is not None:
        (attr,) = [c for c in attrs.columns if c != "l_orderkey"]
        pairs = (parts.join(attrs, "l_orderkey")
                 .select(F.explode(F.expr(_PAIRS)).alias("p"), attr)
                 .select(F.col("p.a").alias(a_name),
                         F.col("p.b").alias(b_name), attr))
        return (pairs.filter(cond).groupBy(a_name, b_name)
                .agg(F.min(attr).alias(attr)))
    pairs = (parts.select(F.explode(F.expr(_PAIRS)).alias("p"))
             .select(F.col("p.a").alias(a_name),
                     F.col("p.b").alias(b_name)))
    return pairs.filter(cond).distinct()
