"""Driver evidence ON the SharedScope path (VERDICT r11 ask #3).

Until round 12, the scoped plans executed only under tests
(tests/test_scope.py, sf0.001) and the A/B measurement spec
(tools/ab_specs/shared_scope.py) — bench.py and the driver run queries
standalone by design, so no CORRECTNESS row ever exercised a leased
plan. ``graph_family_scoped_audit`` closes that gap: it is a
REGISTERED, fully-oracled query whose body opens a SharedScope, runs
six graph-family members through their leases (all three lease keys:
directed, ordered, dated), and returns a deterministic per-member
summary the DuckDB oracle recomputes from each member's own oracle
SQL. A green driver row for this query is the statement "the scoped
execution path produces exactly the standalone values" — verified by
the driver, not just by the repo's own tests.

The audit is self-checking beyond values:
- it asserts the scope memo holds EXACTLY the three expected lease
  keys after the family runs (so a silently-fall-through lease — the
  bug class where a consumer misses the scope and rebuilds — fails
  the query, not just a perf measurement);
- it asserts the no-leftover invariant AT SCOPE EXIT (VERDICT r11
  ask #3's "extended to scope exit"): the memo is empty and, when the
  session's CacheManager was empty on entry, it is empty again after.

Reference parity: the reference GUI (main.py:329-420) runs its
backtest family against one shared in-memory DataFrame per session;
this is that session shape restated for Spark with provable cleanup.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import functions as F

from . import (REGISTRY, SharedScope, copurchase_edges_dated_key,
               copurchase_edges_key, doc_tokens_key, query)

# Member spec: (name, key expr, val expr) in Spark SQL spelling; the
# DuckDB spelling derives mechanically via _duck_expr. The one
# dialect split is the 60-bit md5 prefix hash string keys go through:
# Spark spells it conv(substring(md5 ..), 16, 10), DuckDB
# ('0x' || substr(md5 ..))::BIGINT.
_H60_SPARK = ("cast(conv(substring(md5({c}), 1, 15), 16, 10) "
              "as bigint) % 1073741824")
_H60_DUCK = ("CAST(('0x' || substr(md5({c}), 1, 15)) AS BIGINT) "
             "% 1073741824")


def _duck_expr(spark_expr: str) -> str:
    """The DuckDB spelling of a summary expression: identical except
    for the 60-bit md5 prefix hash. Derived mechanically so the two
    spellings cannot drift apart."""
    return spark_expr.replace(
        _H60_SPARK.format(c="tok"), _H60_DUCK.format(c="tok")).replace(
        _H60_SPARK.format(c="norm"), _H60_DUCK.format(c="norm")).replace(
        _H60_SPARK.format(c="term"), _H60_DUCK.format(c="term"))


# the graph members the scope serves, with their result summary spec
# (name, key column, summed value expression). All members have
# hash-exact standalone oracles; the summary is a plain aggregate of
# each member's full result, so a single changed value anywhere in
# any member's scoped output flips the driver hash.
_GFA_MEMBERS = (
    # directed lease (sssp's BFS expands BOTH directions, so it
    # shares the directed cache with hits/pagerank)
    ("hits_hub_authority", "part_key", "authority_e6 + hub_e6"),
    ("pagerank_copurchase", "part_key", "pr_mu"),
    ("sssp_copurchase", "part_key", "hop_dist"),
    # ordered lease (a < b, derived from the directed cache inside
    # the scope); contrib6 is fp by design, so the summary pins the
    # exact integers it derives from instead
    ("modularity_brand_partition", "m_c", "d_c"),
    # dated lease (NEW r12, VERDICT r11 ask #4) — consumed TWICE, so
    # the driver row also evidences dated-lease reuse
    ("temporal_reachability_copurchase", "part_key", "arrival_day"),
    ("link_prediction_holdout_eval", "part_u",
     "n_preds + n_hits + n_new_partners"),
)


def _family_oracle(members) -> str:
    """Each member's registered oracle, wrapped in the same summary
    aggregate the Spark side computes — built from REGISTRY at import
    time so the audited SQL can never drift from the members' own
    gate SQL. Summary expressions use the Spark spelling; _duck_expr
    maps them to DuckDB (the identity for plain column arithmetic)."""
    parts = []
    for name, key, val in members:
        # NOTE: load_registry() imports this module LAST, after every
        # member module has registered — importing scoped_ops directly
        # before the member modules would KeyError here by design.
        if name not in REGISTRY:
            raise KeyError(
                f"{name} not registered yet — scoped_ops must be "
                f"imported after the member modules (load_registry "
                f"imports it last)")
        inner = REGISTRY[name].oracle
        # explicit raise, not assert: under `python -O` an assert is
        # stripped and a None oracle would interpolate 'None' into the
        # audited SQL (ADVICE r12 #5; same class as ADVICE r11 #2)
        if inner is None:
            raise ValueError(f"{name} has no oracle — the scoped "
                             f"audit summary must be built from the "
                             f"member's own gate SQL")
        parts.append(f"""
    SELECT '{name}' AS member,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum({_duck_expr(key)}) AS BIGINT) AS key_sum,
           CAST(sum({_duck_expr(val)}) AS BIGINT) AS val_sum
    FROM ({inner})""")
    return "\nUNION ALL".join(parts) + "\nORDER BY member"


def _cache_manager_empty(spark) -> bool:
    return bool(
        spark._jsparkSession.sharedState().cacheManager().isEmpty())


@query(
    "graph_family_scoped_audit",
    oracle=_family_oracle(_GFA_MEMBERS),
    doc="the SharedScope execution path under the driver gate: opens "
        "a scope, runs six graph-family members through their leases "
        "(hits + pagerank + SSSP on the directed co-purchase edge "
        "cache, modularity on the ordered derivation, temporal "
        "reachability + link-prediction holdout BOTH on the new "
        "dated lease), and "
        "returns one summary row per member — row count, key sum, "
        "value sum, all exact BIGINTs aggregated over the member's "
        "full result. The DuckDB oracle wraps each member's own "
        "registered oracle in the identical aggregate, so hash "
        "equality means the SCOPED plans produce exactly the "
        "standalone values. The body additionally asserts the scope "
        "memo holds exactly the three lease keys (a fall-through "
        "rebuild fails loudly) and that scope exit releases "
        "everything (no-leftover at the scope boundary, VERDICT r11 "
        "ask #3). At 100 TB this is the shared-session contract: one "
        "edge build amortized across the family, ownership released "
        "the moment the last consumer finishes",
)
def graph_family_scoped_audit(spark, sf_dir):
    return _scoped_family_audit(
        spark, sf_dir, _GFA_MEMBERS,
        {copurchase_edges_key(sf_dir),
         f"copurchase_edges_ordered:{sf_dir}",
         copurchase_edges_dated_key(sf_dir)})


def _scoped_family_audit(spark, sf_dir, members, expected_keys):
    """Run ``members`` inside one SharedScope and return their summary
    rows (member, n_rows, key_sum, val_sum). Fails when the scope memo
    is not exactly ``expected_keys`` after the family ran, or when
    scope exit leaves anything cached."""
    pre_empty = _cache_manager_empty(spark)
    summaries = []
    with SharedScope() as scope:
        for name, key, val in members:
            res = REGISTRY[name].spark_fn(spark, sf_dir)
            summaries.append(
                res.agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                        F.sum(F.expr(key)).cast("long")
                        .alias("key_sum"),
                        F.sum(F.expr(val)).cast("long")
                        .alias("val_sum"))
                .select(F.lit(name).alias("member"), "n_rows",
                        "key_sum", "val_sum"))
        if set(scope._cached) != expected_keys:
            raise RuntimeError(
                "scope memo mismatch — a member fell through its "
                f"lease or leased an unexpected key: have "
                f"{sorted(scope._cached)}, want {sorted(expected_keys)}")
        out = (reduce(lambda a, b: a.unionByName(b), summaries)
               .orderBy("member").localCheckpoint(eager=True))
    # no-leftover at SCOPE exit: the memo must be empty, and a
    # session whose CacheManager was clean on entry must be clean
    # again (localCheckpoint results are RDD-level state, invisible
    # to the CacheManager — only leaked persists would show here)
    if scope._cached:
        raise RuntimeError(f"scope exit leaked {sorted(scope._cached)}")
    if pre_empty and not _cache_manager_empty(spark):
        raise RuntimeError("scope exit left relations in the "
                           "CacheManager")
    return out


# ---------------------------------------------------------------------------
# The same driver-evidence discipline on the doc_tokens lease
# (VERDICT r12 ask #3): the text family re-tokenizes documents.text
# per query unscoped; under a scope all seven members share ONE
# tokenized (doc_id, n_chars, t) relation. This audit runs them
# through that lease and oracles the scoped values.
#
# Unlike the graph family, some members key on strings (tok/norm/
# term), so the summary hashes them through the shared 60-bit md5
# (_H60_SPARK) and reduces mod 2^30 so BIGINT sums cannot overflow
# (DuckDB sums in HUGEINT, Spark wraps — bounded terms keep both
# exact). Float columns enter the summary as their round-scaled exact
# integers (the published 6dp/4dp roundings x 1e6/1e4), so a single
# changed value anywhere in any member's scoped output flips the
# driver hash.

_TFA_MEMBERS = (
    ("text_token_stats", "doc_id",
     "n_chars + n_tokens + n_distinct_tokens"
     " + coalesce(cast(round(avg_token_len * 1000000) as bigint), 0)"
     " + coalesce(cast(round(stopword_ratio * 1000000) as bigint), 0)"),
    ("token_frequencies", _H60_SPARK.format(c="tok"),
     "n_occurrences + n_docs"),
    ("stem_token_frequencies", _H60_SPARK.format(c="norm"),
     "n_occurrences + n_surface_forms"),
    ("tf_idf_top_terms", "doc_id",
     "rank + coalesce(cast(round(tf_idf * 1000000) as bigint), 0)"
     " + " + _H60_SPARK.format(c="term")),
    ("doc_perplexity_bigram", "doc_id",
     "n_bigrams + coalesce(cast(round(avg_nll * 10000) as bigint), 0)"),
    ("kneser_ney_bigram_ppl", "doc_id",
     "n_bigrams + coalesce(cast(round(avg_nll * 10000) as bigint), 0)"),
    ("doc_perplexity_trigram_backoff", "doc_id",
     "n_trigrams + n_tri_hits + n_bi_backoffs + n_uni_backoffs"
     " + coalesce(cast(round(avg_nll * 10000) as bigint), 0)"),
)


@query(
    "text_family_scoped_audit",
    oracle=_family_oracle(_TFA_MEMBERS),
    doc="driver evidence ON the doc_tokens SharedScope lease "
        "(VERDICT r12 ask #3): opens a scope, runs all seven "
        "text-family members (token stats, corpus/stem frequencies, "
        "tf-idf, bigram/Kneser-Ney/trigram-backoff perplexity) "
        "through the shared tokenized-documents relation — ONE "
        "tokenize pass per scope instead of seven — and returns one "
        "summary row per member (row count, key sum, value sum; "
        "string keys enter via the shared 60-bit md5 mod 2^30, float "
        "scores as their round-scaled exact integers). The DuckDB "
        "oracle wraps each member's own registered oracle in the "
        "identical aggregate, so hash equality means the SCOPED "
        "plans produce exactly the standalone values. The body "
        "asserts the scope memo holds exactly the doc_tokens lease "
        "key (a member falling through to a private re-tokenize "
        "fails the query) and that scope exit releases everything. "
        "Measured: the lease takes the seven-member suite 28.0 -> "
        "23.9s at sf1 (tools/measure_ab.py tools/ab_specs/"
        "shared_scope.py); "
        "at 100 TB one tokenize+scan of the corpus amortizes across "
        "every downstream text job in the session",
)
def text_family_scoped_audit(spark, sf_dir):
    return _scoped_family_audit(spark, sf_dir, _TFA_MEMBERS,
                                {doc_tokens_key(sf_dir)})
