"""functions/graph: the transpose invariant every superstep relies on,
and superstep itself against a plain-join reference."""

from collections import defaultdict

from pyspark.sql import functions as F

from big_datatrader_spark.functions import graph as GR
from big_datatrader_spark.sources.parquet_source import table


def _transpose_gap(rel, *attrs):
    flipped = rel.select(F.col("dst").alias("src"),
                         F.col("src").alias("dst"), *attrs)
    return rel.exceptAll(flipped).count(), flipped.exceptAll(rel).count()


def test_copurchase_relations_are_their_own_transpose(spark, sf0001):
    li = table(spark, sf0001, "lineitem").select("l_orderkey",
                                                 "l_partkey")
    odays = table(spark, sf0001, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        (F.unix_micros("o_orderdate") / 86400000000).cast("bigint")
        .alias("d"))
    directed = GR.copurchase_pairs(li, "src", "dst")
    dated = GR.copurchase_pairs(li, "src", "dst", attrs=odays)
    assert directed.count() > 0
    assert _transpose_gap(directed) == (0, 0)
    assert _transpose_gap(dated, "d") == (0, 0)


# 5 connected nodes plus node 6, which has no edge at all
_UNDIRECTED = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
_EDGES = _UNDIRECTED + [(b, a) for a, b in _UNDIRECTED]
_VAL = {1: 10, 2: 20, 3: 30, 4: 40, 5: 50, 6: 60}
_LBL = {1: 7, 2: 7, 3: 8, 4: 8, 5: 7, 6: 9}


def _frames(spark, nodes):
    edges = spark.createDataFrame(_EDGES, "src long, dst long") \
        .repartition(3)
    state = spark.createDataFrame(
        [(n, _VAL[n], _LBL[n]) for n in nodes],
        "node long, v long, lbl long").repartition(2)
    return state, edges


def _reference(nodes, value):
    """Plain nested-loop join of state to edges on src, grouped by dst."""
    out = defaultdict(list)
    for n in nodes:
        for src, dst in _EDGES:
            if src == n:
                out[dst].append(value(n))
    return out


def test_superstep_sum_and_min_match_plain_join(spark):
    for nodes in ([1, 2, 3, 4, 5, 6], [1, 4, 6]):
        state, edges = _frames(spark, nodes)
        got = {r["node"]: (r["s"], r["m"]) for r in GR.superstep(
            state, edges, F.sum("v").alias("s"),
            F.min("v").alias("m")).collect()}
        ref = _reference(nodes, _VAL.get)
        assert got == {n: (sum(v), min(v)) for n, v in ref.items()}
        assert 6 not in got


def test_superstep_by_counts_per_group(spark):
    nodes = [1, 2, 3, 4, 5, 6]
    state, edges = _frames(spark, nodes)
    got = {(r["node"], r["lbl"]): r["nv"] for r in GR.superstep(
        state, edges, F.count(F.lit(1)).alias("nv"),
        by=("lbl",)).collect()}
    ref = defaultdict(int)
    for dst, lbls in _reference(nodes, _LBL.get).items():
        for lbl in lbls:
            ref[(dst, lbl)] += 1
    assert got == dict(ref)
