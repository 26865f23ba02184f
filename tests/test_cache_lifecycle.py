"""Cache-lifecycle gate (VERDICT r6 ask #4, tightened by r9 ask #3):
no registered query may leave cached relations behind.

Motivation: the bench/driver/oracle harnesses run many queries in ONE
JVM. A query that persists per-iteration state (HITS before the r7
rotation) or its edge/stat relations (the r9 findings:
personalized_pagerank, label_propagation_communities, the graph
family) leaks cache across the whole session; local LRU eviction hides
it at sf0.1, but on a memory-tight 100 TB cluster it becomes eviction
churn and recompute.

Two assertions per query, after its consumer action completes:

1. **CacheManager is empty** — every ``df.persist()`` was released.
   This is the precise persist-without-release detector: DataFrame
   persists register in the session's CacheManager and stay there
   until ``unpersist()``; localCheckpoint RDDs do NOT register, so
   the check cannot be satisfied by accident.
2. **Live cached-RDD delta is bounded** — the only RDD a query may
   leave live is its own eagerly-materialized result checkpoint
   (bounded rows by query design; released by the ContextCleaner once
   the consumer drops the frame — verified empirically: 15 back-to-
   back runs of a scoped query hold live checkpoint RDDs at 4-6, not
   15, so a long-lived driver session reaches a small steady state
   rather than accumulating one per query). Iterative checkpoint-CHAIN queries
   (k-core/CC) keep per-round lineage
   truncations live, bounded by their round constants — each gets
   an explicit bound instead of the default.

Streaming queries are excluded (their state lives in the state store,
audited by tests/test_streaming_plans.py).
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest

import big_datatrader_spark
from big_datatrader_spark.queries import load_registry, run_scoped

REG = load_registry()

# every batch query that calls .persist()/localCheckpoint anywhere in
# its chain (the r10 scoped-cache sweep), plus the full bench suite
# (the session the original leak complaint was filed on)
_PERSISTING = [
    "corpus_dedup_pipeline",          # qual + surv funnel stages
    "corpus_quality_filter",
    "triangle_count_copurchase",      # oriented edge list
    "local_clustering_coefficient",   # degree + oriented edge list
    "pagerank_copurchase",            # edge+deg list, node list
    "personalized_pagerank",          # edge+deg list, seed set
    "label_propagation_communities",  # edge list
    "gnn_feature_propagation",        # edge list + round features
    "mad_robust_outliers",            # value-domain count, 5 branches
    "quantile_normalization",         # value-domain count, 3 branches
    "bpe_learn_merges",               # initial vocabulary (released)
    "hits_hub_authority",             # held half-steps (released)
    "join_cardinality_profile",       # key-grain stats (released r9)
    "max_concurrent_sessions",        # iv + run (released r9)
    "link_prediction_common_neighbors",  # edge list
    "link_prediction_holdout_eval",   # dated edges + train split
    "kmeans_lloyd_refinement",        # exploded (row, dim) relation
    "golden_record_survivorship",     # fingerprinted attr relation
    "edit1_pair_blowup_audit",        # name-multiplicity relation
    "temporal_reachability_copurchase",  # dated edges + held hops
    "sssp_copurchase",                # edges + held frontiers
    "k_core_membership",              # peel checkpoint chain
    "dedup_clusters",                 # CC label checkpoint chain
]
_BENCH = sorted(n for n, q in REG.items() if q.bench
                and not n.startswith("streaming_"))

# allowed live-RDD delta: default 2 (result checkpoint + one batch
# artifact); checkpoint-chain queries keep per-round truncations live,
# bounded by their round constants (edges + rounds for k-core; edges +
# converged label rounds for CC at this sf)
_ALLOWED = {
    "k_core_membership": 14,
    "dedup_clusters": 30,
}
# the scoped-cache queries release EVERYTHING except their own eager
# result checkpoint — exactly one live RDD (the graph loops hold their
# state through run_scoped's cache and checkpoint nothing per round)
_SCOPED = {
    "sssp_copurchase", "temporal_reachability_copurchase",
    "hits_hub_authority",
    "corpus_dedup_pipeline", "triangle_count_copurchase",
    "local_clustering_coefficient", "pagerank_copurchase",
    "personalized_pagerank", "label_propagation_communities",
    "gnn_feature_propagation", "mad_robust_outliers",
    "quantile_normalization", "link_prediction_common_neighbors",
    "link_prediction_holdout_eval", "kmeans_lloyd_refinement",
    "golden_record_survivorship", "edit1_pair_blowup_audit",
}


def _live_cached_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _cache_manager_empty(spark) -> bool:
    return bool(
        spark._jsparkSession.sharedState().cacheManager().isEmpty())


@pytest.mark.parametrize("name", sorted(set(_PERSISTING) | set(_BENCH)))
def test_query_exits_with_bounded_caches(spark, sf0001, name):
    spark.catalog.clearCache()
    # Delta, not absolute: clearCache does NOT drop localCheckpoint
    # RDDs (chain rounds run by other tests in this session), and the
    # ContextCleaner GCs them nondeterministically — an absolute
    # count is order-dependent across the suite.
    base = _live_cached_rdds(spark)
    df = REG[name].spark_fn(spark, sf0001)
    df.write.format("noop").mode("overwrite").save()  # consumer action
    assert _cache_manager_empty(spark), (
        f"{name} left df.persist() relations registered in the "
        "CacheManager after its action — every persist needs a "
        "release on the materialized-result path (run_scoped or "
        "try/finally; VERDICT r9 ask #3)")
    live = _live_cached_rdds(spark) - base
    budget = _ALLOWED.get(name, 1 if name in _SCOPED else 2)
    assert live <= budget, (
        f"{name} left {live} cached RDDs live after its action "
        f"(allowed {budget}) — only the query's own bounded result "
        "checkpoint (and declared chain rounds) may remain")
    spark.catalog.clearCache()


def test_hits_restores_session_confs(spark, sf0001):
    """hits scopes AQE-off + narrow shuffle width to its iteration
    jobs via try/finally; the session the caller handed in must come
    back untouched (the driver runs 49 more queries on it)."""
    keys = ["spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled"]
    before = {k: spark.conf.get(k) for k in keys}
    REG["hits_hub_authority"].spark_fn(spark, sf0001)
    assert {k: spark.conf.get(k) for k in keys} == before
    spark.catalog.clearCache()


@pytest.mark.parametrize("mode", ["no_persist", "lazy", "eager"])
def test_run_scoped_cache_lineage_runs(spark, mode):
    """run_scoped's cache() over a relation four consumers read (one
    keyed aggregate + three broadcast branches, tools/ab_specs/
    cache_race.py): an accumulator UDF counts the base rows actually
    computed. Without a persist every consumer re-runs the lineage;
    lazy and eager persists both run it exactly once."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from big_datatrader_spark.queries import lazy_cache
    from conftest import load_ab_spec

    race = load_ab_spec("cache_race")
    n_rows = 2000
    acc = spark.sparkContext.accumulator(0)

    @F.udf(LongType())
    def counted(x):
        acc.add(1)
        return x * 2 + 1

    def build(s, _sf, cache):
        wrap = {"no_persist": lazy_cache, "lazy": cache,
                "eager": lambda df: cache(df, eager=True)}[mode]
        return race.race_plan(s, wrap, counted, n_rows=n_rows, n_parts=4)

    run_scoped(spark, None, build).collect()
    runs = race.N_BRANCHES + 1 if mode == "no_persist" else 1
    assert acc.value == n_rows * runs
    assert _cache_manager_empty(spark)


def test_run_scoped_deletes_staged_dirs(spark):
    """A cache.stage dir lives until the result has materialized, then
    run_scoped deletes it — after a normal return and after a build
    that raises."""
    staged = []

    def build(s, _sf, cache):
        path = os.path.join(cache.stage("bdt_stage_t_"), "rows")
        staged.append(path)
        s.range(10).write.parquet(path)
        return s.read.parquet(path)

    def broken(s, _sf, cache):
        build(s, _sf, cache)
        raise RuntimeError("build failed")

    out = run_scoped(spark, None, build)
    assert not os.path.exists(os.path.dirname(staged[0]))
    assert out.count() == 10  # the checkpoint outlives its staging
    with pytest.raises(RuntimeError, match="build failed"):
        run_scoped(spark, None, broken)
    assert len(staged) == 2
    assert not os.path.exists(os.path.dirname(staged[1]))


# --- guard: materializing queries register scoped --------------------------

def _unscoped_idioms(tree):
    """(line, idiom) for every mkdtemp call and plan_fn= keyword."""
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        if getattr(fn, "attr", getattr(fn, "id", None)) == "mkdtemp":
            yield node.lineno, "mkdtemp"
        if any(k.arg == "plan_fn" for k in node.keywords):
            yield node.lineno, "plan_fn="


def test_materializing_queries_are_not_re_pasted():
    """A query stages sinks through cache.stage and registers its
    builder with @query(scoped=True): no query module but the registry
    calls tempfile.mkdtemp, and no module passes plan_fn=."""
    pkg = Path(big_datatrader_spark.__file__).parent
    bad = []
    for p in sorted(pkg.rglob("*.py")):
        rel = p.relative_to(pkg)
        for line, idiom in _unscoped_idioms(ast.parse(p.read_text())):
            if idiom == "mkdtemp" and (rel.parent.name != "queries"
                                       or rel.name == "__init__.py"):
                continue
            bad.append(f"{rel}:{line}: {idiom}")
    assert not bad, "\n".join(bad)


def test_unscoped_guard_sees_the_idioms_it_forbids():
    src = ("import tempfile\n"
           "from tempfile import mkdtemp\n"
           "root = tempfile.mkdtemp(prefix='x')\n"
           "other = mkdtemp()\n"
           "@query('q', None, plan_fn=lambda s, d, c: b(s, d, c))\n"
           "def q(spark, sf_dir):\n"
           "    pass\n")
    assert sorted(_unscoped_idioms(ast.parse(src))) == [
        (3, "mkdtemp"), (4, "mkdtemp"), (5, "plan_fn=")]
