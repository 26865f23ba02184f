"""Round-10 operator tests: the edit-1 blow-up audit must PREDICT the
expansion exactly, and the scoped-cache builders must agree with their
registered (materialized) forms.
"""

from __future__ import annotations

from big_datatrader_spark.queries import lazy_cache, load_registry

REG = load_registry()


def test_blowup_audit_predicts_the_expansion_exactly(spark, sf0001):
    """The whole point of edit1_pair_blowup_audit: its name-grain
    prediction must equal the ACTUAL cardinality of the expansion it
    guards — diff_pairs_predicted + same_pairs_predicted ==
    |edit1_deletion_neighborhood_pairs|, with the dist split matching
    branch by branch. If the audit ever under-predicts, a pathological
    corpus would sail past the pre-flight check and commit the
    quadratic shuffle it exists to prevent."""
    prof = REG["edit1_pair_blowup_audit"].spark_fn(
        spark, sf0001).collect()[0]
    pairs = REG["edit1_deletion_neighborhood_pairs"].spark_fn(
        spark, sf0001)
    by_dist = {r["dist"]: r["n"] for r in
               pairs.groupBy("dist").count()
               .withColumnRenamed("count", "n").collect()}
    assert prof["diff_pairs_predicted"] == by_dist.get(1, 0)
    assert prof["same_pairs_predicted"] == by_dist.get(0, 0)
    # sanity on the profile's own internals
    assert prof["n_ids"] >= prof["n_names"] >= 1
    assert prof["top_name_pair_rows"] <= prof["diff_pairs_predicted"]
    spark.catalog.clearCache()


def test_scoped_builders_match_registered_results(spark, sf0001):
    """Every scoped query's builder (Query.plan_fn, the lazy plan the
    plan tests audit) must produce the SAME rows under the identity
    handle as its registered spark_fn (run_scoped: eager caches,
    staged sinks, checkpoint, release) — the two forms may never
    drift apart, or the plan tests would audit a different query than
    __spark_entry__.py runs."""
    names = ["personalized_pagerank", "label_propagation_communities",
             "link_prediction_holdout_eval", "golden_record_survivorship",
             "edit1_pair_blowup_audit", "mad_robust_outliers",
             "orc_roundtrip_revenue", "scan_pruning_preflight",
             "kmeans_lloyd_refinement"]
    for name in names:
        q = REG[name]
        assert q.plan_fn is not None, name
        got = sorted(map(tuple, q.spark_fn(spark, sf0001).collect()))
        via_builder = sorted(map(tuple, q.plan_fn(spark, sf0001,
                                                  lazy_cache).collect()))
        assert got == via_builder, name
        spark.catalog.clearCache()
