"""Similarity-search queries over the embeddings table: brute-force
cosine top-k (exact baseline, full oracle) and the LSH-bucketed variant
(approximate scale path — rows-only check; recall is property-tested in
tests/test_llm_ops.py against the brute-force result).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions import similarity as SIM
from ..operators.exact import ratio_round6
from ..sources.parquet_source import table
from . import query

QUERY_IDS = [0, 1, 2, 3, 4]
K = 5
DIM = 64
PLANES = 4
TABLES = 8

_COS = ("list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])"
        " / (sqrt(list_dot_product(q.embedding::DOUBLE[],"
        " q.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product(c.embedding::DOUBLE[],"
        " c.embedding::DOUBLE[])))")


@query(
    "ann_bruteforce_topk",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND({_COS}, 6) AS cosine_sim
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id IN ({", ".join(map(str, QUERY_IDS))})),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, cosine_sim, rank
    FROM ranked WHERE rank <= {K}
    """,
    doc="exact cosine top-k: broadcast query set x partitioned corpus, "
        "dot products via zip_with/aggregate (JVM-side); ranking on "
        "rounded similarity for cross-engine determinism",
    bench=True,
    exchanges=1,
)
def ann_bruteforce_topk(spark, sf_dir):
    return SIM.brute_force_topk(
        table(spark, sf_dir, "embeddings"),
        query_ids=QUERY_IDS, k=K)


@query(
    "ann_lsh_topk",
    oracle=None,
    doc=f"approximate top-k via multi-table random-hyperplane LSH "
        f"({TABLES} tables x {PLANES} planes, md5-derived "
        "deterministic weights); a vector is a candidate if it "
        "collides with the query in ANY table, deduped before "
        "scoring — the corpus-scale path. Recall vs brute force is "
        "property-tested (>=15/25 at sf0.001).",
    exchanges=2,
)
def ann_lsh_topk(spark, sf_dir):
    return SIM.lsh_topk(
        table(spark, sf_dir, "embeddings"),
        dim=DIM, query_ids=QUERY_IDS, k=K, planes=PLANES,
        tables=TABLES)


@query(
    "ann_ivf_topk",
    oracle=None,
    doc="approximate top-k via IVF: coarse centroids from a "
        "deterministic distributed Lloyd k-means fit (3 iterations, "
        "broadcast centroids, one corpus pass each), corpus "
        "partitioned by inverted list, queries probe their 2 nearest "
        "lists — the partition-pruning ANN path at corpus scale. "
        "Recall vs brute force is property-tested (>=15/25).",
    exchanges=1,
)
def ann_ivf_topk(spark, sf_dir):
    return SIM.ivf_topk(
        table(spark, sf_dir, "embeddings"),
        query_ids=QUERY_IDS, k=K, n_lists=8, n_probe=2, fit_iters=3)


_IVF_LISTS = 8        # inverted lists (centroids = lowest vec_ids)
_IVF_PROBES = (1, 2, 4, 8)


@query(
    "ivf_vs_exact_eval",
    oracle=f"""
    WITH iv AS MATERIALIZED ({SIM.QUANT_IV_SQL}),
    cv AS (SELECT vec_id AS cid, i, q AS cq FROM iv
           WHERE vec_id < {_IVF_LISTS}),
    dist AS MATERIALIZED (
      SELECT iv.vec_id, cv.cid,
             CAST(sum((iv.q - cv.cq) * (iv.q - cv.cq)) AS BIGINT) AS d
      FROM iv JOIN cv USING (i) GROUP BY 1, 2),
    asgn AS MATERIALIZED (
      SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                            ORDER BY d, cid) AS rn
        FROM dist) t WHERE rn = 1),
    qrank AS (
      SELECT vec_id AS query_id, cid,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY d, cid) AS prank
      FROM dist
      WHERE vec_id IN ({", ".join(map(str, QUERY_IDS))})),
    probes AS (
      SELECT p.n_probe, q.query_id, q.cid
      FROM (VALUES {", ".join(f"({p})" for p in _IVF_PROBES)})
           p(n_probe)
      JOIN qrank q ON q.prank <= p.n_probe),
    cand AS (
      SELECT pr.n_probe, pr.query_id, a.vec_id AS neighbor_id
      FROM probes pr JOIN asgn a ON a.cluster = pr.cid
      WHERE a.vec_id <> pr.query_id),
    scored AS (
      SELECT x.n_probe, x.query_id, x.neighbor_id,
             ROUND({_COS}, 6) AS cosine_sim
      FROM cand x
      JOIN embeddings q ON q.vec_id = x.query_id
      JOIN embeddings c ON c.vec_id = x.neighbor_id),
    ivftop AS (
      SELECT n_probe, query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY n_probe, query_id
                  ORDER BY cosine_sim DESC, neighbor_id) AS rk
        FROM scored) t WHERE rk <= {K}),
    tscored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND({_COS}, 6) AS cosine_sim
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id IN ({", ".join(map(str, QUERY_IDS))})),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine_sim DESC, neighbor_id) AS rk
        FROM tscored) t WHERE rk <= {K}),
    hits AS (
      SELECT i.n_probe, i.query_id,
             CAST(count(*) AS BIGINT) AS n_hit
      FROM ivftop i JOIN truth t
        ON i.query_id = t.query_id AND i.neighbor_id = t.neighbor_id
      GROUP BY 1, 2),
    keys AS (SELECT DISTINCT n_probe, query_id FROM probes)
    SELECT CAST(k.n_probe AS BIGINT) AS n_probe,
           k.query_id AS query_id,
           COALESCE(h.n_hit, 0) AS n_hit,
           CAST((2 * COALESCE(h.n_hit, 0) * 1000000 + {K})
                // (2 * {K}) AS DOUBLE) / 1000000.0 AS recall6
    FROM keys k LEFT JOIN hits h
      ON k.n_probe = h.n_probe AND k.query_id = h.query_id
    ORDER BY n_probe, query_id
    """,
    doc=f"the IVF recall-vs-probe-depth audit (VERDICT r7 ask #2), "
        "hash-exact end to end: the coarse quantizer is the "
        f"deterministic seed codebook (lowest {_IVF_LISTS} vec_ids), "
        "assignment is EXACT integer L2^2 on 1e-6-quantized "
        "components (argmin ties to the lowest list id — no float "
        "ever enters a keep decision), and for each n_probe in "
        f"{_IVF_PROBES} the query's n_probe nearest lists are scanned "
        f"and top-{K} taken by rounded cosine. Recall@{K} against the "
        "brute-force truth comes out as exact integers per "
        "(n_probe, query). n_probe = "
        f"{_IVF_LISTS} probes every list, so those rows are forced to "
        "recall 1.0 — a built-in self-check that the inverted-list "
        "machinery degrades to exact search. This pins the IVF "
        "mechanism `ann_ivf_topk` exercises (whose Lloyd-fitted "
        "variant stays rows-only: its trained centroids are fp model "
        "state) with a full oracle: same list-partitioned probe "
        "shape, the recall curve is THE number you read before "
        "choosing n_probe at corpus scale. Scale: assignment is one "
        "corpus pass against a broadcast KB codebook; candidates "
        "shuffle only within probed lists (n_probe/n_lists of the "
        "data); truth side is |Q| x corpus with Q broadcast — and at "
        "100 TB you run this audit on a sampled block, same shape",
    exchanges=9,
)
def ivf_vs_exact_eval(spark, sf_dir):
    from .vector_ops import _quantized

    emb = table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", SIM.as_double(F.col("embedding")).alias("v"),
        _quantized(F.col("embedding")).alias("qv"))
    cents = [list(r.qv) for r in
             base.filter(F.col("vec_id") < _IVF_LISTS)
             .select("vec_id", "qv").orderBy("vec_id").collect()]
    dists = F.array(*[
        F.aggregate(
            F.zip_with(F.col("qv"),
                       F.array(*[F.lit(int(c)).cast("bigint")
                                 for c in cent]),
                       lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"), lambda acc, x: acc + x)
        for cent in cents])
    side = base.withColumn("dists", dists)
    # corpus side: argmin list id via array_position of the min —
    # first occurrence, ties to the lowest cid, zero shuffle
    corpus = side.select(
        F.col("vec_id").alias("neighbor_id"), "v",
        (F.array_position(F.col("dists"), F.array_min("dists")) - 1)
        .cast("bigint").alias("cluster"))
    # query side: full centroid ranking -> probe plan per n_probe
    qrank = (side.filter(F.col("vec_id").isin(QUERY_IDS))
             .select(F.col("vec_id").alias("query_id"),
                     F.col("v").alias("qv2"),
                     F.posexplode("dists").alias("cid", "d"))
             .withColumn("prank", F.row_number().over(
                 Window.partitionBy("query_id").orderBy("d", "cid"))))
    probes = (qrank.withColumn(
        "n_probe",
        F.explode(F.array(*[F.lit(p).cast("bigint")
                            for p in _IVF_PROBES])))
        .filter(F.col("prank") <= F.col("n_probe"))
        .select("n_probe", "query_id", "qv2",
                F.col("cid").cast("bigint").alias("cluster")))
    cand = (F.broadcast(probes).join(corpus, "cluster")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("cosine_sim",
                        F.round(SIM.cosine("qv2", "v"), 6)))
    w = Window.partitionBy("n_probe", "query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id"))
    ivftop = (cand.withColumn("rk", F.row_number().over(w))
              .filter(F.col("rk") <= K)
              .select("n_probe", "query_id", "neighbor_id"))
    truth = (SIM.brute_force_topk(emb, query_ids=QUERY_IDS, k=K)
             .select("query_id", "neighbor_id"))
    hits = (ivftop.join(truth, ["query_id", "neighbor_id"])
            .groupBy("n_probe", "query_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit")))
    keys = probes.select("n_probe", "query_id").distinct()
    return (keys.join(hits, ["n_probe", "query_id"], "left")
            .select("n_probe", "query_id",
                    F.coalesce(F.col("n_hit"), F.lit(0))
                    .cast("bigint").alias("n_hit"))
            .withColumn("recall6",
                        ratio_round6(F.col("n_hit"), F.lit(K)))
            .orderBy("n_probe", "query_id"))


@query(
    "embedding_norms",
    oracle="""
    SELECT vec_id, label,
           ROUND(sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[])), 6) AS l2,
           ROUND(list_sum(embedding::DOUBLE[]), 6) AS comp_sum
    FROM embeddings
    """,
    doc="vector-column arithmetic via higher-order functions (norms, "
        "component sums) — the building blocks of similarity ops",
    exchanges=0,
)
def embedding_norms(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    v = SIM.as_double(F.col("embedding"))
    return emb.select(
        "vec_id", "label",
        F.round(SIM.norm(v), 6).alias("l2"),
        F.round(F.aggregate(v, F.lit(0.0), lambda a, x: a + x), 6)
         .alias("comp_sum"),
    )


@query(
    "embedding_gram_matrix",
    oracle="""
    WITH el AS (
      SELECT vec_id, unnest(embedding) AS x,
             unnest(generate_series(1, len(embedding))) AS pos
      FROM embeddings
    ), g AS (
      SELECT a.pos - 1 AS i, b.pos - 1 AS j,
             CAST(sum(CAST(ROUND(CAST(a.x AS DOUBLE)
                  * CAST(b.x AS DOUBLE) * 100000000) AS BIGINT))
                  AS BIGINT) AS sum_scaled
      FROM el a JOIN el b ON a.vec_id = b.vec_id AND a.pos <= b.pos
      GROUP BY 1, 2
    )
    SELECT CAST(g.i AS BIGINT) AS i, CAST(g.j AS BIGINT) AS j,
           g.sum_scaled,
           ROUND(g.sum_scaled / (n.cnt * 100000000.0), 6) AS mean_prod
    FROM g, (SELECT count(*) AS cnt FROM embeddings) n
    ORDER BY i, j
    """,
    doc="distributed Gram / second-moment matrix of the embedding "
        "column (the aggregation inside covariance-PCA / whitening "
        "fits): per-partition integer partial sums via mapInPandas, "
        "one d^2-sized shuffle — the corpus itself never moves. "
        "Per-product micro-rounding makes the matrix bit-exact and "
        "order-independent (hash oracle on 64x65/2 cells)",
    exchanges=3,
)
def embedding_gram_matrix(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    gram = SIM.gram_matrix_micro(emb, vec_col="embedding", dim=DIM)
    cnt = emb.agg(F.count(F.lit(1)).alias("cnt"))
    return (
        gram.join(F.broadcast(cnt))
        .select("i", "j", "sum_scaled",
                F.round(F.col("sum_scaled")
                        / (F.col("cnt") * 100000000.0), 6)
                .alias("mean_prod"))
        .orderBy("i", "j")
    )


# ---------------------------------------------------------------------------
# Sign-quantized (binary) similarity: 1 bit per dimension, Hamming
# distance via XOR+popcount — the cheapest vector index there is
# (Charikar 2002 SimHash over the identity projection; the "binary
# quantization" rerank filter vector stores ship today). Unlike the
# LSH/IVF/PQ paths, the binary distance itself is DETERMINISTIC
# integer algebra, so this approximate index gets a FULL oracle, not
# a rows-only check.

_HAM_WORD = 63  # dims packed per BIGINT word (63 keeps 1<<pos positive)


@query(
    "ann_hamming_sign_topk",
    oracle=f"""
    WITH iv AS ({SIM.QUANT_IV_SQL}),
    sig AS (
      SELECT vec_id, (i - 1) // {_HAM_WORD} AS w,
             CAST(sum(CASE WHEN q >= 0
                      THEN CAST(1 AS BIGINT) << ((i - 1) % {_HAM_WORD})
                      ELSE 0 END) AS BIGINT) AS bits
      FROM iv GROUP BY 1, 2),
    d AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(sum(bit_count(xor(q.bits, c.bits))) AS BIGINT)
                 AS hamming
      FROM sig q JOIN sig c ON q.w = c.w AND q.vec_id <> c.vec_id
      WHERE q.vec_id IN ({", ".join(map(str, QUERY_IDS))})
      GROUP BY 1, 2),
    ranked AS (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY hamming, neighbor_id) AS BIGINT) AS rank
      FROM d)
    SELECT query_id, neighbor_id, hamming, rank
    FROM ranked WHERE rank <= {K}
    """,
    doc=f"binary (sign-bit) ANN: each {DIM}-dim embedding quantizes "
        f"to one bit per dimension packed {_HAM_WORD}/BIGINT word "
        "(shared 1e-6 quantization decides the q>=0 sign on both "
        "engines), and neighbors rank by Hamming distance = "
        "popcount(XOR) summed over words, ties to the lower id. The "
        "64x storage/bandwidth compression every binary-quantized "
        "vector store sells; XOR+popcount is whole-stage-codegen "
        "integer work, no floats anywhere, so unlike LSH/IVF/PQ this "
        "approximate index is pinned by a FULL hash oracle. Scale: "
        f"signatures are {DIM}/{_HAM_WORD} BIGINTs per vector — the "
        "query-side join broadcasts signatures, not embeddings, and "
        "the corpus-side scan reads 2 words/row; the exact-cosine "
        "rerank of the Hamming shortlist is ann_bruteforce_topk on "
        "k' candidates",
    exchanges=5,
)
def ann_hamming_sign_topk(spark, sf_dir):
    iv = SIM.quantized_components(table(spark, sf_dir, "embeddings"))
    sig = (iv.groupBy(
        "vec_id", F.expr(f"(i - 1) DIV {_HAM_WORD}").alias("w"))
        .agg(F.sum(
            F.when(F.col("q") >= 0,
                   F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                          f"CAST((i - 1) % {_HAM_WORD} AS INT))"))
            .otherwise(F.lit(0))).cast("long").alias("bits")))
    qsig = (sig.filter(F.col("vec_id").isin(QUERY_IDS))
            .select(F.col("vec_id").alias("query_id"), "w",
                    F.col("bits").alias("qbits")))
    d = (sig.join(F.broadcast(qsig), "w")
         .filter(F.col("vec_id") != F.col("query_id"))
         .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
         .agg(F.sum(F.bit_count(
             F.col("bits").bitwiseXOR(F.col("qbits"))))
             .cast("long").alias("hamming")))
    wq = Window.partitionBy("query_id").orderBy("hamming",
                                                "neighbor_id")
    return (d.withColumn("rank",
                         F.row_number().over(wq).cast("long"))
            .filter(F.col("rank") <= K)
            .select("query_id", "neighbor_id", "hamming", "rank")
            .orderBy("query_id", "rank"))
