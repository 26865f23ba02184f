"""Physical-plan properties: the 100 TB design rules as assertions.

A query that is correct but mis-planned (unpruned scan, shuffled dim
join, global sort under a limit) passes value checks at sf0.01 and
falls over at scale — these tests pin the plans we actually want.
"""

from contextlib import contextmanager

from pyspark.sql import functions as F

from big_datatrader_spark.plans.explain import (
    num_exchanges, scan_read_columns, physical_plan, uses_broadcast_join,
    uses_top_k)
from big_datatrader_spark.queries import (
    load_registry, persisting_cache, plan_of)
from big_datatrader_spark.sources.parquet_source import table

REG = load_registry()


import pytest


@pytest.fixture(autouse=True)
def _clean_cache(spark):
    """persisting_cache builds plans with REAL persists (never
    materialized); drop the registrations BEFORE each test — so
    whatever cache state other suites in this session left behind
    cannot swap InMemoryTableScans into this test's plans and move its
    exchange counts (VERDICT r14 what's-wrong #3: the lph budget
    drifted 12..14 with ambient cache state) — and AFTER it, so this
    module leaves none behind either (the round-8 cross-test
    interference)."""
    spark.catalog.clearCache()
    yield
    spark.catalog.clearCache()


def test_q1_scan_prunes_columns_and_pushes_filter(spark, sf001):
    df = REG["q1_pricing_summary"].spark_fn(spark, sf001)
    scans = scan_read_columns(df)
    assert len(scans) == 1
    # 7 referenced columns out of 11 — the scan must not read the rest
    assert set(scans[0]) == {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate"}
    assert "PushedFilters: [IsNotNull(l_shipdate)" in physical_plan(df) \
        or "LessThanOrEqual(l_shipdate" in physical_plan(df)


def test_q3_uses_broadcast_joins(spark, sf001):
    df = REG["q3_top_unshipped_orders"].spark_fn(spark, sf001)
    assert uses_broadcast_join(df)
    assert uses_top_k(df)  # ordered limit -> distributed top-k


def test_q5_snowflake_broadcasts_all_dims(spark, sf001):
    df = REG["q5_supplier_volume_by_nation"].spark_fn(spark, sf001)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 4


def test_topk_is_take_ordered(spark, sf001):
    df = REG["topk_earliest_buys"].spark_fn(spark, sf001)
    assert uses_top_k(df)


def test_q6_all_predicates_pushed(spark, sf001):
    df = REG["q6_forecast_revenue"].spark_fn(spark, sf001)
    plan = physical_plan(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    for frag in ["l_shipdate", "l_discount", "LessThan(l_quantity,24"]:
        assert frag in pushed, frag


def test_date_filter_pushed_to_parquet(spark, sf001):
    ev = table(spark, sf001, "events")
    df = ev.filter(F.col("value") > 50).select("event_id", "value")
    plan = physical_plan(df)
    assert "PushedFilters" in plan and "GreaterThan(value,50" in plan
    # projection pruned into the scan
    assert scan_read_columns(df) == [["event_id", "value"]]


def test_asof_join_single_shuffle(spark, sf001):
    """The as-of join must plan as a union+window, not a range cross
    join (its exchange count is declared on the query)."""
    df = REG["asof_join_purchase_to_click"].spark_fn(spark, sf001)
    assert "CartesianProduct" not in physical_plan(df)


def test_q2_decorrelated_no_cartesian(spark, sf001):
    """The correlated min subquery must plan as a window over one
    shuffle of the supply relation, with both dims broadcast."""
    df = REG["q2_min_cost_supplier"].spark_fn(spark, sf001)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert uses_top_k(df)


def test_q8_broadcasts_every_dimension(spark, sf001):
    """8-way snowflake: lineitem must be the only non-broadcast side
    except the lineitem-orders fact join."""
    df = REG["q8_market_share"].spark_fn(spark, sf001)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    # fact scan reads only the 5 referenced lineitem columns
    scans = scan_read_columns(df)
    li_scan = [s for s in scans
               if "l_extendedprice" in s or "l_discount" in s]
    assert li_scan and set(li_scan[0]) <= {
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount"}


def test_q21_single_fact_shuffle_key(spark, sf001):
    """EXISTS/NOT-EXISTS decorrelation: per-order flags + join back
    both hash on l_orderkey, so the exchange is reused (no second
    full shuffle of lineitem on a different key)."""
    df = REG["q21_waiting_suppliers"].spark_fn(spark, sf001)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert uses_top_k(df)


def test_simhash_blocking_no_cross_product(spark, sf001):
    """Pigeonhole segment blocking must plan as an equi hash join —
    an all-pairs CartesianProduct/BNL join is the 100 TB scale-killer
    the blocking exists to avoid."""
    df = REG["dedup_simhash"].spark_fn(spark, sf001)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_partitioned_layout_prunes_partitions(spark, sf001, tmp_path):
    """100 TB rule: time/category-partitioned parquet layouts must show
    partition pruning — a filter on the partition column becomes a
    PartitionFilters entry, not a post-scan filter over all files."""
    out = str(tmp_path / "events_by_type")
    (table(spark, sf001, "events")
     .write.partitionBy("event_type").mode("overwrite").parquet(out))
    df = (spark.read.parquet(out)
          .filter(F.col("event_type") == "purchase")
          .select("event_id", "value"))
    plan = physical_plan(df)
    assert "PartitionFilters" in plan and "purchase" in plan
    n = df.count()
    assert 0 < n < table(spark, sf001, "events").count()


# each of these joins a <=5-row broadcast relation (scalar
# thresholds / query vectors / corpus counts) with a non-equi or
# empty condition — per-row work is O(broadcast side) = O(1).
# Module-level so test_allowlist_annotations_hold_at_runtime can
# verify every annotation from executed-plan metrics (VERDICT r11
# ask #6) — the sweep below and the runtime check share ONE list.
_BNLJ_OK = {
    "ann_bruteforce_topk",       # 5 broadcast query vectors
    "corpus_dedup_pipeline",     # 1-row audit summary cross join
    "embedding_gram_matrix",     # 1-row corpus count
    "lang_mixture_rebalance",    # per-lang threshold broadcast
    "pagerank_copurchase",       # 1-row dangling-mass scalar
    "q11_important_parts",       # 1-row avg threshold
    "q22_inactive_customers",    # 1-row avg balance
    "tf_idf_top_terms",          # 1-row doc count
    "temperature_mixture_sample",  # 1-row sum-of-weights scalar
    "ntile_deciles",               # 1-row total-count scalar
    "user_spend_rank_distribution",  # 1-row total-count scalar
    "doc_perplexity_bigram",       # 1-row vocabulary-size scalar
    "doc_perplexity_trigram_backoff",  # 1-row T/V scalar
    "negative_sampling",           # 1-row corpus-count scalar
    "bm25_more_like_this",         # 1-row (N, S, qdoc) stats scalar
    "interval_overlap_join",       # 24-row hot-hours broadcast
    "market_basket_lift",          # 1-row order-count scalar
    "naive_bayes_lang_score",      # 1-row N/V scalars + 5-row langs
    "hybrid_rrf_retrieval",        # 1-row qdoc/corpus-stat scalars
    "dsir_importance_weights",     # 1-row T/S total scalars
    "mutual_information_features",  # 1-row N total per feature
    "cooccurrence_pmi",            # 1-row doc-count scalar
    "nb_calibration_curve",        # NB chain's 1-row/5-row scalars
    "exact_global_quantiles",      # 1-row n + 3-row pct spec
    "psi_feature_drift",           # 1-row bin-totals scalar
    "ks_two_sample_test",          # 1-row sample-size scalars
    "benford_first_digit_audit",   # 1-row digit-total scalar
    "chi2_independence_test",      # 1-row grand-total scalar
    "roc_auc_exact",               # 1-row U-statistic x totals
    "ann_dim_truncation_recall",   # 5 broadcast query vectors
    "pq_vs_exact_eval",            # 5 broadcast query vectors
                                   # (exact-truth side)
    "ivf_vs_exact_eval",           # 5 broadcast query vectors
                                   # (brute-force truth side)
    "percentile_interpolated_per_type",  # 3-row percentile spec
    "isotonic_calibration",        # 20-bin spine self-lattice
    "woe_information_value",       # 1-row class-totals scalar
    "equidepth_histogram",         # 1-row total-count scalar
    "cuped_adjusted_lift",         # 1-row theta scalar
    "kaplan_meier_survival",       # 1-row horizon + total scalars
    "token_drift_movers",          # 1-row slice-totals scalar
    "hard_negative_mining",        # BM25 chain's 1-row scalars
    "conformal_interval_coverage",  # 1-row k/q_hat scalars
    "kruskal_wallis_h",            # 1-row tie-term scalar
    "cramers_v_effect",            # 1-row chi2/grand-total scalars
    "kmv_distinct_sketch",         # 1-row exact-distinct scalar
    "rec_ndcg_popularity",         # 1-row n_users scalar
    "rfm_segmentation",            # 1-row max-date + total scalars
    "brier_logloss_calibration",   # 1-row train-count scalar
    "wasserstein_distance_drift",  # 1-row sample-total scalars
    "js_divergence_lang_tokens",   # 1-row token-total scalars
    "poisson_bootstrap_ci",        # 1-row point-estimate/CI scalars
    "modularity_brand_partition",  # 1-row edge-total scalar
    "quantile_normalization",      # 1-row grand-total scalar
    "kneser_ney_bigram_ppl",       # 1-row bigram-type-total scalar
    "sparse_tfidf_cosine_pairs",   # 1-row corpus-count scalar
    "decision_split_information_gain",  # 1-row bin-totals scalar
    "blocking_quality_metrics",    # four 1-row metric scalars
    "blocking_quality_metrics_sampled",  # same four scalars
    "bloom_exact_membership",      # four 1-row count scalars
    "join_cardinality_profile",    # three 1-row profile scalars
    "max_concurrent_sessions",     # 1-row peak/first/count scalars
    "t_closeness_audit",           # 5-row segment domain + 1-row N
    "edit1_pair_blowup_audit",     # two 1-row profile scalars
    "ngram_pair_blowup_audit",     # two 1-row profile scalars
    "scan_pruning_preflight",      # two 1-row audit scalars
    "zorder_morton_preflight",     # 1-row audit scalars
    "zorder_incremental_recluster",  # 1-row audit scalars
}
# these two route event-scale ranking through the two-phase
# global_rank; their ONLY partition-less window is the per-bucket
# offsets relation (#buckets rows by construction) — tiny forever
_SP_WINDOW_OK = {"global_shuffle_rank", "user_spend_rank_distribution",
                "ntile_deciles", "exact_global_quantiles",
                "spearman_value_k_corr", "sorted_neighborhood_pairs",
                "ks_two_sample_test", "roc_auc_exact",
                "isotonic_calibration", "equidepth_histogram",
                "kaplan_meier_survival", "zipf_law_fit",
                "conformal_interval_coverage", "mann_whitney_u",
                "kruskal_wallis_h",
                # k-row bounded model/sketch relations
                "kmv_distinct_sketch", "rec_ndcg_popularity",
                "rfm_segmentation", "wasserstein_distance_drift",
                "poisson_bootstrap_ci", "quantile_normalization",
                # languages-sized distinct (rows = #langs)
                "curriculum_interleave",
                # quantity-bin-sized cumulative (rows = #bins <=50)
                "decision_split_information_gain",
                # rank window over a TakeOrdered top-50 relation
                "rank_biased_overlap_parts",
                # arm-count-sized distinct (rows = #event types)
                "ips_policy_value",
                # day-grain carry relation (rows = calendar days)
                "max_concurrent_sessions"}


# Queries whose audited plan is a result scan with no source under it:
# each returns driver state, so there is no lazy plan to audit, and an
# uncached audit run would re-run its loop. Every other batch query must
# show the sweep a plan that reads a source; an entry whose plan does
# read one is stale.
_OPAQUE = {
    "hits_hub_authority",       # half-step maxima collected per round
    "sssp_copurchase",          # frontier emptiness tested per hop
    "bpe_learn_merges",         # merges learned on the driver
    "mmr_diverse_rerank",       # greedy selection on the driver
    "dedup_clusters",           # CC label rounds behind checkpoints
    "k_core_membership",        # peel rounds behind checkpoints
    "graph_family_scoped_audit",  # members run inside a SharedScope
    "text_family_scoped_audit",   # members run inside a SharedScope
    "bucketed_copartitioned_join",  # broadcast-off conf must hold
                                    # through the action
}


def _reads_source(plan: str) -> bool:
    """A file scan, a batch (DSv2 / Python data source) scan, or a
    relation inside a recursive CTE's loop, in a formatted plan."""
    import re
    return bool(re.search(r"\bScan (parquet|orc|json|csv|text)\b"
                          r"|\bBatchScan\b|\bLogicalRelation\b", plan))


@contextmanager
def _active(session):
    """Make ``session`` the JVM's active session for the body. A Python
    data source registers against the active session, so a fresh session
    that is not active cannot register a format the shared session
    already registered (DATA_SOURCE_ALREADY_EXISTS)."""
    jss = session.sparkContext._jvm.org.apache.spark.sql.SparkSession
    prev = jss.getActiveSession()
    jss.setActiveSession(session._jsparkSession)
    try:
        yield session
    finally:
        if prev.isDefined():
            jss.setActiveSession(prev.get())
        else:
            jss.clearActiveSession()


@pytest.mark.parametrize("name", sorted(
    n for n in REG if not n.startswith("streaming_") and n not in _OPAQUE))
def test_exchange_budget(spark, sf001, monkeypatch, name):
    """A batch query's shuffle count equals its ``@query(exchanges=N)``.

    One count for every query: the plan it runs (plan_of under
    persisting_cache, so multi-consumer subtrees collapse to
    InMemoryRelation as run_scoped executes them), at sf0.01, on a fresh
    session (no conf another test set), from a clean cache (the autouse
    fixture), at a fixed width so scan_floor fires the same way on any
    box. Serial, never pooled: persisting_cache registers real persists
    on the shared CacheManager, and a peer's persist would swap
    InMemoryTableScans into this plan."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    q = REG[name]
    with _active(spark.newSession()) as fresh:
        n = num_exchanges(plan_of(q, fresh, sf001, cache=persisting_cache))
    assert n == q.exchanges, (name, n, q.exchanges)


def test_every_query_declares_its_exchanges():
    """Every registered query declares ``exchanges=`` unless its audited
    plan is driver state (_OPAQUE), and no _OPAQUE query declares one."""
    undeclared = sorted(n for n, q in REG.items()
                        if q.exchanges is None and n not in _OPAQUE)
    assert not undeclared, f"no exchanges= on {undeclared}"
    declared = sorted(n for n in _OPAQUE if REG[n].exchanges is not None)
    assert not declared, f"_OPAQUE queries declare exchanges=: {declared}"


@pytest.mark.parametrize("name", [
    "weighted_sample_es", "bm25_more_like_this", "market_basket_lift",
    "token_drift_movers", "clickstream_paths_topk", "k_core_membership"])
def test_ordered_limit_plans_as_top_k(spark, sf001, name):
    """An ordered limit plans as a distributed top-k
    (TakeOrderedAndProject), never a global sort."""
    assert uses_top_k(REG[name].spark_fn(spark, sf001))


def test_no_scale_killers_in_any_registered_plan(spark, sf001):
    """Repo-wide 100 TB audit: EVERY registered batch query must plan
    without (a) CartesianProduct, (b) a single-partition exchange of
    real data, (c) row-at-a-time Python UDFs (BatchEvalPython).
    BroadcastNestedLoopJoin is allowed ONLY for the known
    broadcast-scalar / tiny-broadcast-side cross joins, listed
    explicitly so any new BNLJ fails loudly here. A plan that reads
    no source is flagged unless it is in _OPAQUE, so a materializing
    query cannot hide its plan behind its result checkpoint."""
    bnlj_ok, sp_window_ok = _BNLJ_OK, _SP_WINDOW_OK
    from big_datatrader_spark.plans.explain import (
        single_partition_sort_or_window)
    from conftest import pool_unsafe, run_query_pool
    offenders = {}

    def audit(item):
        name, q = item
        df = plan_of(q, spark, sf001)
        plan = physical_plan(df)
        flags = []
        if "CartesianProduct" in plan:
            flags.append("cartesian")
        sp = single_partition_sort_or_window(df)
        if sp and name not in sp_window_ok:
            flags.append(f"single-partition-window:{sp}")
        if "BatchEvalPython" in plan:
            flags.append("row-at-a-time-udf")
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_ok:
            flags.append("unexpected-bnlj")
        if _reads_source(plan) == (name in _OPAQUE):
            flags.append("stale _OPAQUE entry" if name in _OPAQUE
                         else "opaque-plan (no source scan)")
        if flags:
            offenders[name] = flags

    items = [(n, q) for n, q in sorted(REG.items())
             if not n.startswith("streaming_")]
    # pooled (guide §2.6, VERDICT r14 ask #1): most entries only PLAN
    # (fast but latency-bound over 339 queries); the _OPAQUE queries
    # execute their sf0.01 jobs concurrently. Session-
    # global mutators (conftest.SERIAL_QUERIES) audit serially after
    # the pool drains.
    errors = run_query_pool(
        [it for it in items if not pool_unsafe(it[0])], audit)
    assert not errors, errors
    for it in items:
        if pool_unsafe(it[0]):
            audit(it)
    assert not offenders, offenders


# Runtime bounds for the allowlists (VERDICT r11 ask #6). Defaults
# are TIGHT; an entry needing more must appear here WITH the
# construction that bounds it — so a wrong future annotation fails
# the check below instead of riding the list. Calibrated from
# executed-plan metrics at sf0.001/0.01/0.1 (see the r12 SCALING.md
# note): every relation below saturates toward its value-domain /
# lattice bound as sf grows, the signature of bounded-by-construction
# (a data-proportional relation grows ~10x per sf step instead).
_BNLJ_RUNTIME_MAX = {
    "interval_overlap_join": 32,   # 24-row hot-hours domain
    "isotonic_calibration": 210,   # 20-bin spine self-lattice:
                                   # bins*(bins+1)/2 = 210 exactly
}
_BNLJ_RUNTIME_DEFAULT = 8          # 1-row scalars / 5-row vector sets
# Closed in round 13 (VERDICT r12 ask #4): the three checkpoint-opaque
# entries (join_cardinality_profile, max_concurrent_sessions,
# scan_pruning_preflight) are scoped builders, so the harvest executes
# their real plans like every other entry. Kept as an (empty) set so a
# future opaque query must appear here explicitly with its
# justification.
_BNLJ_RUNTIME_OPAQUE: set[str] = set()
_SP_RUNTIME_MAX = {
    "conformal_interval_coverage": 10_001,  # residual-domain CDF:
                                            # |cents| in 0..10000
                                            # (329/2679/9255 at
                                            # sf0.001/0.01/0.1 —
                                            # saturating, not linear)
    "rfm_segmentation": 1024,   # melted coarse value-bucket offsets:
                                # r_days//100 + f//4 + m_cents//1e6
                                # occupied buckets (142/412/574 —
                                # saturating toward the spend domain)
    "global_shuffle_rank": 256,  # value-bucket offsets (223 constant
                                 # across sf0.001/0.01)
    "spearman_value_k_corr": 128,  # value-domain ranks (49/71/95)
}
_SP_RUNTIME_DEFAULT = 64           # buckets<=32, bins<=50, days<=31


def test_allowlist_annotations_hold_at_runtime(spark, sf001):
    """Make the bnlj_ok / sp_window_ok allowlists STRUCTURAL (VERDICT
    r11 ask #6): every entry above is a hand-written claim ("1-row
    scalar", "#buckets rows") the static sweep never verified — a
    wrong future annotation would ride the list forever. This
    executes each allowlisted query at sf0.01 and asserts the claim
    from the executed plan's OWN SQLMetrics:

    - every BroadcastNestedLoopJoin build-side broadcast stays within
      its entry's row bound (per-probe-row work is O(build side), so
      the bound IS the "tiny broadcast" claim); an entry whose
      executed plan has NO BNLJ is flagged stale unless its spark_fn
      is checkpoint-opaque;
    - every SinglePartition shuffle funnels no more rows through its
      one task than the entry's bound.

    sf0.01 is the discriminating scale: every data-proportional
    relation (customer=1.5k, documents=5k, events=10k, lineitem=60k)
    already exceeds the defaults, so "small because the sf is small"
    cannot pass."""
    from big_datatrader_spark.plans.explain import (
        executed_scale_killer_bounds)
    from conftest import pool_unsafe, run_query_pool

    offenders = {}

    def audit(name):
        df = plan_of(REG[name], spark, sf001, cache=persisting_cache)
        bounds = executed_scale_killer_bounds(df)
        flags = []
        if name in _BNLJ_OK and name not in _BNLJ_RUNTIME_OPAQUE:
            cap = _BNLJ_RUNTIME_MAX.get(name, _BNLJ_RUNTIME_DEFAULT)
            too_big = [r for r in bounds["bnlj_build_rows"] if r > cap]
            if too_big:
                flags.append(f"bnlj_build_rows>{cap}: {too_big}")
            if not bounds["bnlj_build_rows"]:
                # stale allowlisting is also a finding: the entry
                # claims a BNLJ that no longer executes
                flags.append("no BNLJ in executed plan (stale entry)")
        if name in _SP_WINDOW_OK:
            cap = _SP_RUNTIME_MAX.get(name, _SP_RUNTIME_DEFAULT)
            too_big = [r for r in bounds["single_partition_rows"]
                       if r > cap]
            if too_big:
                flags.append(f"single_partition_rows>{cap}: {too_big}")
        if flags:
            offenders[name] = flags

    # pooled sf0.01 executions (guide §2.6, VERDICT r14 ask #1); the
    # per-entry clearCache moved to ONE post-pool clear — a mid-pool
    # clear would drop peers' in-flight persists (recompute, no
    # wrong answers, but the serial form's isolation is preserved
    # more cheaply by clearing once after the pool drains).
    names = sorted(_BNLJ_OK | _SP_WINDOW_OK)
    errors = run_query_pool(
        [n for n in names if not pool_unsafe(n)], audit)
    assert not errors, errors
    spark.catalog.clearCache()
    for n in names:
        if pool_unsafe(n):
            audit(n)
            spark.catalog.clearCache()
    assert not offenders, offenders


def test_single_partition_detector_sees_past_parenthesized_details(spark):
    """Regression (round-4 advice): an unaliased aggregate attribute
    like count(1)#12L in an Exchange's Input detail line contains '('
    and used to abort the header->Arguments regex bridge, hiding the
    SinglePartition exchange — a false negative in the scale-killer
    gate."""
    from pyspark.sql import Window, functions as F
    from big_datatrader_spark.plans.explain import (
        single_partition_sort_or_window)
    df = (spark.range(100).groupBy((F.col("id") % 10).alias("g"))
          .agg(F.count(F.lit(1)))   # unaliased -> count(1)#N in Input
          .withColumn("rn", F.row_number().over(Window.orderBy("g"))))
    assert single_partition_sort_or_window(df)
    ok = spark.range(100).withColumn(
        "rn", F.row_number().over(
            Window.partitionBy(F.col("id") % 10).orderBy("id")))
    assert single_partition_sort_or_window(ok) == []


def test_dated_copurchase_edge_build_is_one_lineitem_scan(spark, sf001):
    """The r8 replan (VERDICT r7 ask #3): the DATED co-purchase edge
    list must come from ONE lineitem scan (collect_set + explode with
    the order day joined at ORDER grain), not the join-era double
    scan. Two pruned scans total: lineitem (orderkey, partkey) and
    orders (orderkey, orderdate)."""
    from big_datatrader_spark.functions import graph as GR

    li = table(spark, sf001, "lineitem").select("l_orderkey",
                                                "l_partkey")
    odays = table(spark, sf001, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        (F.unix_micros("o_orderdate") / 86400000000).cast("bigint")
        .alias("d"))
    tedges = GR.copurchase_pairs(li, "x", "y", attrs=odays)
    scans = scan_read_columns(tedges)
    li_scans = [s for s in scans if "l_partkey" in s]
    o_scans = [s for s in scans if s not in li_scans]
    assert len(li_scans) == 1, scans
    assert set(li_scans[0]) == {"l_orderkey", "l_partkey"}
    assert len(o_scans) == 1, scans
    assert tedges.columns == ["x", "y", "d"]


def test_universe_sample_predicate_is_scan_local(spark, sf001):
    """The orders side of universe_sample_join must decide membership
    WITHOUT a join against customer: the plan carries exactly three
    pruned scans and the sampled-orders relation filters on its own
    hashed o_custkey (no fourth scan, no customer join on that path)."""
    df = REG["universe_sample_join"].spark_fn(spark, sf001)
    scans = scan_read_columns(df)
    assert sorted(map(sorted, scans)) == sorted(map(sorted, [
        ["c_custkey", "c_mktsegment"],
        ["o_orderkey", "o_custkey"],
        ["l_orderkey", "l_extendedprice", "l_discount"],
    ])), scans


def test_bucketed_join_query_is_exchange_free_at_the_join(spark, sf001):
    """bucketed_copartitioned_join's whole point: both catalog reads
    carry the bucket layout, so the SortMergeJoin has NO Exchange
    below it — the only exchanges in the rollup are the per-priority
    aggregation and the output sort (budget 2). Drives the EXACT
    setup the registered query uses (sources/bucketed.
    bucketed_pair_tables, ADVICE r10 #4 — two drifting copies could
    audit a different layout than the driver query runs) plus its
    exposed rollup builder (zorder_pruned_rollup convention)."""
    from big_datatrader_spark.queries.format_ops import _bucketed_rollup
    from big_datatrader_spark.sources.bucketed import bucketed_pair_tables

    od = table(spark, sf001, "orders").select(
        "o_orderkey", "o_orderpriority")
    li = table(spark, sf001, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice")
    with bucketed_pair_tables(spark, od, li, ["o_orderkey"],
                              n_buckets=8) as (t_od, t_li):
        df = _bucketed_rollup(spark, t_od, t_li)
        plan = physical_plan(df)
        assert "SortMergeJoin" in plan
        assert num_exchanges(df) <= 2, num_exchanges(df)
        # nothing between the join and its scans may exchange; guard
        # the slice (ADVICE r10 #3: find() returning -1 would silently
        # widen the asserted region to nearly the whole plan)
        ji = plan.find("SortMergeJoin")
        si = plan.find("Scan", ji)
        assert si != -1, "no Scan below the SortMergeJoin in:\n" + plan
        assert "Exchange" not in plan[ji:si]
