"""Vector-compression and semantic-dedup operators, round-3 batch 3:
the embedding-side stages of a 100 TB training-data pipeline that the
similarity family (functions/similarity.py) doesn't yet cover —

- SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
  cluster the corpus with a coarse quantizer, then drop any vector
  whose cosine to an earlier same-cluster vector exceeds a threshold.
  Clustering is what makes it tractable: the quadratic pair scan runs
  WITHIN clusters only, never corpus x corpus.
- Product quantization (Jégou et al. 2011, "Product Quantization for
  Nearest Neighbor Search"): split each vector into M subspaces,
  encode each subspace as the id of its nearest codeword -> a 100 TB
  corpus of 64-dim float vectors (256 B/row) becomes M=8 small ints
  (8 B/row) that fit in memory for scanning.
- ADC top-k over those codes: per query, a (M x K) distance lookup
  table is broadcast and the corpus is scanned as codes only — the
  asymmetric-distance-computation search that IVF-PQ engines (FAISS)
  run, expressed as one broadcast join + one groupBy.

Everything is integer-exact: components are quantized to 1e-6 units,
so squared distances / dot products are BIGINTs and every argmin /
ranking is bit-identical across engines and partitionings (the
queries/corpus_ops k-means convention). The cosine-threshold test is
cross-multiplied — dot^2 * DEN >= NUM * |a|^2 * |b|^2 — in DECIMAL(38)
(Spark) / HUGEINT (DuckDB), so no division and no fp noise anywhere.

These go beyond the reference surface (the reference has no vector
columns at all — SURVEY.md §1.3); they are north-star LLM-pipeline
operators like functions/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions import similarity as SIM
from ..functions.similarity import QUANT_SCALE
from ..operators.exact import ratio_round6
from ..sources.parquet_source import table
from . import query

_SCALE = QUANT_SCALE  # 1e-6 units -> exact BIGINT arithmetic

# --- SemDeDup parameters ---------------------------------------------------
_SD_K = 8            # coarse clusters (centroids = lowest vec_ids)
# cosine threshold tau = 0.35; tau^2 = 49/400 as an exact rational so
# the comparison is pure integer cross-multiplication
_SD_NUM, _SD_DEN = 49, 400

# --- Product-quantization parameters ---------------------------------------
_PQ_M = 8            # subspaces (64-dim -> 8 x 8)
_PQ_SUB = 8          # dims per subspace
_PQ_K = 16           # codewords per subspace (codebook = lowest vec_ids)
_PQ_NQ = 5           # ADC query vectors (lowest vec_ids)
_PQ_TOPK = 10


def _quantized(emb):
    """embedding array<float> -> array<bigint> of 1e-6-unit components."""
    return F.transform(
        emb, lambda x: F.round(x.cast("double") * _SCALE).cast("bigint"))


def _int_dot(a, b):
    """Exact BIGINT dot product of two quantized vectors (integer adds
    commute, so the fold order can never matter)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def _cluster_of(qv, cents: list[list[int]]):
    """Nearest-centroid id as a PURE PROJECTION: exact integer L2^2 to
    each collected centroid (driver-side model state, the
    functions/similarity.fit_centroids precedent), argmin via
    array_position of the min — first occurrence, so ties break to the
    lowest centroid id exactly like the row_number formulation, with
    NO explode, NO join, NO shuffle of the corpus."""
    dists = F.array(*[
        F.aggregate(
            F.zip_with(qv, F.array(*[F.lit(int(v)).cast("bigint")
                                     for v in c]),
                       lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"), lambda acc, x: acc + x)
        for c in cents])
    return (F.array_position(dists, F.array_min(dists)) - 1
            ).cast("bigint")


# SemDeDup oracle CTE chain (shared shape with embedding_kmeans_assign's
# oracle; HUGEINT keeps dot^2 exact where BIGINT would overflow).
_SD_ORACLE = f"""
    WITH iv AS MATERIALIZED (
      SELECT vec_id, i,
             CAST(ROUND(CAST(e AS DOUBLE) * {_SCALE}) AS BIGINT) AS q
      FROM (SELECT vec_id, unnest(embedding) AS e,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM embeddings)),
    n2 AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS n2
           FROM iv GROUP BY 1),
    cv AS (SELECT vec_id AS cid, i, q AS cq FROM iv
           WHERE vec_id < {_SD_K}),
    dist AS (SELECT iv.vec_id, cv.cid,
                    CAST(sum((iv.q - cv.cq) * (iv.q - cv.cq)) AS BIGINT)
                        AS dist
             FROM iv JOIN cv USING (i) GROUP BY 1, 2),
    asgn AS MATERIALIZED (SELECT vec_id, cid AS cluster FROM (
               SELECT vec_id, cid,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cid) AS rn
               FROM dist) t WHERE rn = 1),
    pd AS MATERIALIZED (SELECT a.vec_id AS ida, b.vec_id AS idb,
                  CAST(sum(ia.q * ib.q) AS BIGINT) AS dot
           FROM asgn a
           JOIN asgn b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           JOIN iv ia ON ia.vec_id = a.vec_id
           JOIN iv ib ON ib.vec_id = b.vec_id AND ib.i = ia.i
           GROUP BY 1, 2),
    dropped AS (SELECT DISTINCT pd.idb AS vec_id
                FROM pd
                JOIN n2 na ON na.vec_id = pd.ida
                JOIN n2 nb ON nb.vec_id = pd.idb
                WHERE pd.dot > 0
                  AND CAST(pd.dot AS HUGEINT) * pd.dot * {_SD_DEN}
                      >= CAST(na.n2 AS HUGEINT) * nb.n2 * {_SD_NUM})
"""


@query(
    "semdedup_embeddings",
    oracle=_SD_ORACLE + """
    SELECT a.vec_id, a.cluster, (d.vec_id IS NULL) AS kept
    FROM asgn a LEFT JOIN dropped d USING (vec_id)
    ORDER BY a.vec_id
    """,
    doc="SemDeDup-style semantic dedup (arXiv:2303.09540): assign every "
        f"embedding to its nearest of {_SD_K} deterministic centroids "
        "(exact integer L2^2), then WITHIN each cluster drop any vector "
        "whose cosine to a lower-id cluster-mate is >= 0.35 — the "
        "threshold test is dot^2*400 >= 49*|a|^2*|b|^2 cross-multiplied "
        "in DECIMAL(38)/HUGEINT, so kept/dropped can never flip on fp "
        "noise. The cluster is the scale lever: the pairwise scan is "
        "per-cluster (SemDeDup's whole point), so the join key is the "
        "cluster id and no corpus x corpus pair is ever materialized",
    # the assignment is a pure projection — only the pair join,
    # the dedup of drops, and the presentation sort may shuffle
    exchanges=3,
)
def semdedup_embeddings(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    qarr = emb.select("vec_id", _quantized(F.col("embedding")).alias("qv"))
    # centroid model state: _SD_K quantized vectors, collected once
    # (KB-sized; how a trained coarse quantizer ships to executors)
    cents = [list(r.qv) for r in
             qarr.filter(F.col("vec_id") < _SD_K).orderBy("vec_id")
             .collect()]
    # ONE narrow projection carries id, cluster, vector, and norm —
    # the corpus is scanned once and only the per-cluster pair join
    # shuffles anything
    side = qarr.select(
        "vec_id", _cluster_of(F.col("qv"), cents).alias("cluster"),
        "qv", _int_dot(F.col("qv"), F.col("qv")).alias("n2"))
    asgn = side.select("vec_id", "cluster")
    a = side.select(F.col("vec_id").alias("ida"), "cluster",
                    F.col("qv").alias("va"), F.col("n2").alias("na"))
    b = side.select(F.col("vec_id").alias("idb"),
                    F.col("cluster").alias("cluster_b"),
                    F.col("qv").alias("vb"), F.col("n2").alias("nb"))
    dot = _int_dot(F.col("va"), F.col("vb"))
    dec = "decimal(38,0)"
    dropped = (
        a.join(b, (F.col("cluster") == F.col("cluster_b"))
               & (F.col("ida") < F.col("idb")))
        .withColumn("dot", dot)
        .filter((F.col("dot") > 0)
                & (F.col("dot").cast(dec) * F.col("dot") * _SD_DEN
                   >= F.col("na").cast(dec) * F.col("nb") * _SD_NUM))
        .select(F.col("idb").alias("vec_id")).distinct()
    )
    return (
        asgn.join(dropped.withColumn("__d", F.lit(1)), "vec_id", "left")
        .select("vec_id", "cluster", F.col("__d").isNull().alias("kept"))
        .orderBy("vec_id")
    )


# PQ shared CTE chain: exploded ints -> (subspace, sub-index) -> codebook
# -> exact per-(vector, subspace, codeword) distances -> argmin codes.
_PQ_CTES = f"""
    WITH iv AS (
      SELECT vec_id, i,
             CAST(ROUND(CAST(e AS DOUBLE) * {_SCALE}) AS BIGINT) AS q
      FROM (SELECT vec_id, unnest(embedding) AS e,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM embeddings)),
    sub AS (SELECT vec_id, CAST((i - 1) // {_PQ_SUB} AS BIGINT) AS m,
                   (i - 1) % {_PQ_SUB} AS si, q
            FROM iv),
    cb AS (SELECT vec_id AS code, m, si, q AS cq FROM sub
           WHERE vec_id < {_PQ_K}),
    d AS (SELECT s.vec_id, s.m, cb.code,
                 CAST(sum((s.q - cb.cq) * (s.q - cb.cq)) AS BIGINT)
                     AS dist
          FROM sub s JOIN cb ON s.m = cb.m AND s.si = cb.si
          GROUP BY 1, 2, 3),
    codes AS (SELECT vec_id, m, code, dist FROM (
                SELECT vec_id, m, code, dist,
                       row_number() OVER (PARTITION BY vec_id, m
                                          ORDER BY dist, code) AS rn
                FROM d) t WHERE rn = 1)
"""


def _pq_sub(iv):
    """(vec_id, i, q) -> (vec_id, m, si, q) subspace-indexed rows."""
    return iv.select(
        "vec_id",
        F.expr(f"CAST((i - 1) DIV {_PQ_SUB} AS BIGINT)").alias("m"),
        ((F.col("i") - 1) % _PQ_SUB).alias("si"), "q")


def _pq_codes_df(spark, sf_dir):
    """Exact PQ assignment: (vec_id, m, code, dist) — the corpus row
    encoded as _PQ_M codeword ids + its per-subspace squared error."""
    emb = table(spark, sf_dir, "embeddings")
    iv = emb.select(
        "vec_id", F.posexplode(_quantized(F.col("embedding")))
        .alias("p", "q")
    ).select("vec_id", (F.col("p") + 1).alias("i"), "q")
    sub = _pq_sub(iv)
    cb = (sub.filter(F.col("vec_id") < _PQ_K)
          .select(F.col("vec_id").alias("code"), "m", "si",
                  F.col("q").alias("cq")))
    d = (sub.join(F.broadcast(cb), ["m", "si"])
         .groupBy("vec_id", "m", "code")
         .agg(F.sum((F.col("q") - F.col("cq"))
                    * (F.col("q") - F.col("cq"))).alias("dist")))
    w = Window.partitionBy("vec_id", "m").orderBy("dist", "code")
    return (d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "m", "code", "dist"))


@query(
    "embedding_pq_codes",
    oracle=_PQ_CTES + """
    SELECT vec_id, m, code, dist AS sq_err_scaled
    FROM codes ORDER BY vec_id, m
    """,
    doc=f"product-quantization encode (Jégou et al. 2011): each 64-dim "
        f"embedding split into {_PQ_M} x {_PQ_SUB}-dim subspaces, each "
        f"encoded as its nearest of {_PQ_K} deterministic codewords "
        "(lowest vec_ids) by exact integer L2^2, ties to the lowest "
        "code. Output includes the exact scaled squared error per "
        "subspace. The codebook is K*dim cells — broadcast; the corpus "
        "aggregates map-side and shuffles only (vec, m, code, dist) "
        "rows. This is the compression step that turns a 256 B/row "
        "vector corpus into 8 B/row codes an ADC scan can read at "
        "memory speed",
    exchanges=3,
)
def embedding_pq_codes(spark, sf_dir):
    return (_pq_codes_df(spark, sf_dir)
            .select("vec_id", "m", "code",
                    F.col("dist").alias("sq_err_scaled"))
            .orderBy("vec_id", "m"))


@query(
    "ann_pq_adc_topk",
    oracle=_PQ_CTES + f""",
    lut AS (SELECT qs.vec_id AS query_id, cb.m, cb.code,
                   CAST(sum((qs.q - cb.cq) * (qs.q - cb.cq)) AS BIGINT)
                       AS ld
            FROM sub qs JOIN cb ON qs.m = cb.m AND qs.si = cb.si
            WHERE qs.vec_id < {_PQ_NQ}
            GROUP BY 1, 2, 3),
    adc AS (SELECT l.query_id, c.vec_id AS neighbor_id,
                   CAST(sum(l.ld) AS BIGINT) AS adc_dist_scaled
            FROM codes c
            JOIN lut l ON c.m = l.m AND c.code = l.code
            WHERE c.vec_id >= {_PQ_NQ}
            GROUP BY 1, 2)
    SELECT query_id, neighbor_id, adc_dist_scaled,
           CAST(rn AS BIGINT) AS rank
    FROM (SELECT query_id, neighbor_id, adc_dist_scaled,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY adc_dist_scaled, neighbor_id)
                     AS rn
          FROM adc) t
    WHERE rn <= {_PQ_TOPK}
    ORDER BY query_id, rank
    """,
    doc=f"ADC (asymmetric distance computation) top-{_PQ_TOPK} over PQ "
        f"codes: each of the {_PQ_NQ} query vectors precomputes an "
        f"exact ({_PQ_M} x {_PQ_K}) integer distance table to every "
        "codeword; the corpus is then scanned as CODES ONLY — one "
        "broadcast join on (m, code) + one groupBy(query, neighbor) "
        "sum, never touching the float vectors. Distances are exact "
        "BIGINTs, ranking ties break on neighbor id, so the result is "
        "deterministic and oracle-checkable even though PQ itself is a "
        "lossy approximation of true L2. At 100 TB this is the FAISS "
        "IVFADC scan shape: LUT ~ KB-sized broadcast, corpus I/O cut "
        "32x by the encoding",
    exchanges=6,
)
def ann_pq_adc_topk(spark, sf_dir):
    codes = _pq_codes_df(spark, sf_dir).select("vec_id", "m", "code")
    emb = table(spark, sf_dir, "embeddings")
    qiv = (emb.filter(F.col("vec_id") < _PQ_NQ)
           .select("vec_id", F.posexplode(_quantized(F.col("embedding")))
                   .alias("p", "q"))
           .select("vec_id", (F.col("p") + 1).alias("i"), "q"))
    qsub = _pq_sub(qiv).withColumnRenamed("vec_id", "query_id")
    cb_src = (emb.filter(F.col("vec_id") < _PQ_K)
              .select("vec_id", F.posexplode(
                  _quantized(F.col("embedding"))).alias("p", "q"))
              .select("vec_id", (F.col("p") + 1).alias("i"), "q"))
    cb = (_pq_sub(cb_src)
          .select(F.col("vec_id").alias("code"), "m", "si",
                  F.col("q").alias("cq")))
    lut = (qsub.join(cb, ["m", "si"])
           .groupBy("query_id", "m", "code")
           .agg(F.sum((F.col("q") - F.col("cq"))
                      * (F.col("q") - F.col("cq"))).alias("ld")))
    adc = (codes.filter(F.col("vec_id") >= _PQ_NQ)
           .join(F.broadcast(lut), ["m", "code"])
           .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
           .agg(F.sum("ld").alias("adc_dist_scaled")))
    w = Window.partitionBy("query_id").orderBy(
        "adc_dist_scaled", "neighbor_id")
    return (adc.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= _PQ_TOPK)
            .select("query_id", "neighbor_id", "adc_dist_scaled", "rank")
            .orderBy("query_id", "rank"))


@query(
    "pq_vs_exact_eval",
    oracle=_PQ_CTES + f""",
    lut AS (SELECT qs.vec_id AS query_id, cb.m, cb.code,
                   CAST(sum((qs.q - cb.cq) * (qs.q - cb.cq)) AS BIGINT)
                       AS ld
            FROM sub qs JOIN cb ON qs.m = cb.m AND qs.si = cb.si
            WHERE qs.vec_id < {_PQ_NQ}
            GROUP BY 1, 2, 3),
    adc AS (SELECT l.query_id, c.vec_id AS neighbor_id,
                   CAST(sum(l.ld) AS BIGINT) AS adc_dist_scaled
            FROM codes c
            JOIN lut l ON c.m = l.m AND c.code = l.code
            WHERE c.vec_id >= {_PQ_NQ}
            GROUP BY 1, 2),
    atop AS (SELECT query_id, neighbor_id FROM (
               SELECT query_id, neighbor_id,
                      row_number() OVER (PARTITION BY query_id
                      ORDER BY adc_dist_scaled, neighbor_id) AS rn
               FROM adc) t WHERE rn <= {_PQ_TOPK}),
    exd AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT)
                       AS dist
            FROM iv a JOIN iv b ON a.i = b.i
                  AND b.vec_id >= {_PQ_NQ}
            WHERE a.vec_id < {_PQ_NQ}
            GROUP BY 1, 2),
    ttop AS (SELECT query_id, neighbor_id FROM (
               SELECT query_id, neighbor_id,
                      row_number() OVER (PARTITION BY query_id
                      ORDER BY dist, neighbor_id) AS rn
               FROM exd) t WHERE rn <= {_PQ_TOPK}),
    hits AS (SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hit
             FROM atop a JOIN ttop t
               ON a.query_id = t.query_id
              AND a.neighbor_id = t.neighbor_id
             GROUP BY 1)
    SELECT k.vec_id AS query_id, COALESCE(h.n_hit, 0) AS n_hit,
           CAST((2 * COALESCE(h.n_hit, 0) * 1000000 + {_PQ_TOPK})
                // (2 * {_PQ_TOPK}) AS DOUBLE) / 1000000.0 AS recall6
    FROM (SELECT vec_id FROM embeddings WHERE vec_id < {_PQ_NQ}) k
    LEFT JOIN hits h ON k.vec_id = h.query_id
    ORDER BY query_id
    """,
    doc=f"the PQ/ADC recall audit (VERDICT r7 ask #2), hash-exact end "
        f"to end: the ADC top-{_PQ_TOPK} (exact-BIGINT approximate "
        "distances over PQ codes — the `ann_pq_adc_topk` relation) "
        f"scored against the TRUE top-{_PQ_TOPK} by exact integer "
        "L2^2 on the full 1e-6-quantized vectors, per query. This is "
        "FAISS's recall@k benchmark number expressed as one join of "
        "two deterministic top-k relations — both sides integer-exact, "
        "so the recall values are pinned by the oracle hash rather "
        "than a property-test bound. Scale: the ADC side scans codes "
        "only (8 B/row) against a KB LUT broadcast; the truth side is "
        f"|Q|={_PQ_NQ} queries broadcast against the corpus — at "
        "100 TB you run the audit on a sampled corpus block, the "
        "shape is unchanged",
    exchanges=11,
)
def pq_vs_exact_eval(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    atop = (ann_pq_adc_topk(spark, sf_dir)
            .select("query_id", "neighbor_id"))
    qarr = emb.select(
        "vec_id", _quantized(F.col("embedding")).alias("qv"))
    qs = (qarr.filter(F.col("vec_id") < _PQ_NQ)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("qv").alias("qq")))
    corp = (qarr.filter(F.col("vec_id") >= _PQ_NQ)
            .select(F.col("vec_id").alias("neighbor_id"), "qv"))
    dist = F.aggregate(
        F.zip_with(F.col("qq"), F.col("qv"),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    exd = (F.broadcast(qs).join(corp)
           .select("query_id", "neighbor_id", dist.alias("dist")))
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    ttop = (exd.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _PQ_TOPK)
            .select("query_id", "neighbor_id"))
    hits = (atop.join(ttop, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit")))
    keys = qs.select(F.col("query_id"))
    return (keys.join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce(F.col("n_hit"), F.lit(0))
                    .cast("bigint").alias("n_hit"))
            .withColumn("recall6",
                        ratio_round6(F.col("n_hit"),
                                     F.lit(_PQ_TOPK)))
            .orderBy("query_id"))


# --- Trained PQ codebook (per-subspace Lloyd, round 4) ----------------------
# The seed codebook above is the classic "first K vectors" initializer;
# these two queries run the actual Jégou et al. §III training step —
# independent Lloyd k-means in each subspace — in exact integer
# arithmetic (functions/pq.py), so the whole fit UNROLLS into a SQL
# oracle: every assignment is an exact-BIGINT argmin (ties to the
# lowest code) and every centroid update is the pure-integer
# round-half-away-from-zero formula, identical on both engines.

_PQ_ITERS = 2        # Lloyd iterations (unrolled in the oracle)

_PQ_IV_SUB = f"""
    WITH iv AS (
      SELECT vec_id, i,
             CAST(ROUND(CAST(e AS DOUBLE) * {_SCALE}) AS BIGINT) AS q
      FROM (SELECT vec_id, unnest(embedding) AS e,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM embeddings)),
    sub AS (SELECT vec_id, CAST((i - 1) // {_PQ_SUB} AS BIGINT) AS m,
                   (i - 1) % {_PQ_SUB} AS si, q
            FROM iv),
    cb0 AS (SELECT vec_id AS code, m, si, q AS cq FROM sub
            WHERE vec_id < {_PQ_K})"""


def _pq_lloyd_ctes(n_iter: int = _PQ_ITERS) -> str:
    """iv/sub/cb0 + ``n_iter`` unrolled Lloyd iterations + the final
    assignment ``tcodes`` against the trained codebook ``cb{n_iter}``."""
    parts = [_PQ_IV_SUB]
    for t in range(n_iter):
        parts.append(f""",
    d{t} AS (SELECT s.vec_id, s.m, c.code,
                    CAST(sum((s.q - c.cq) * (s.q - c.cq)) AS BIGINT)
                        AS dist
             FROM sub s JOIN cb{t} c ON s.m = c.m AND s.si = c.si
             GROUP BY 1, 2, 3),
    a{t} AS (SELECT vec_id, m, code FROM (
               SELECT vec_id, m, code,
                      row_number() OVER (PARTITION BY vec_id, m
                                         ORDER BY dist, code) AS rn
               FROM d{t}) t WHERE rn = 1),
    st{t} AS (SELECT a.m, a.code, s.si,
                     CAST(sum(s.q) AS BIGINT) AS sm,
                     CAST(count(*) AS BIGINT) AS cn
              FROM a{t} a
              JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m
              GROUP BY 1, 2, 3),
    cb{t + 1} AS (SELECT c.m, c.code, c.si,
                   COALESCE(
                     CASE WHEN st.sm >= 0
                          THEN (2 * st.sm + st.cn) // (2 * st.cn)
                          ELSE -((2 * (-st.sm) + st.cn) // (2 * st.cn))
                     END, c.cq) AS cq
                  FROM cb{t} c LEFT JOIN st{t} st
                    ON st.m = c.m AND st.code = c.code
                   AND st.si = c.si)""")
    parts.append(f""",
    dfin AS (SELECT s.vec_id, s.m, c.code,
                    CAST(sum((s.q - c.cq) * (s.q - c.cq)) AS BIGINT)
                        AS dist
             FROM sub s JOIN cb{n_iter} c ON s.m = c.m AND s.si = c.si
             GROUP BY 1, 2, 3),
    tcodes AS (SELECT vec_id, m, code, dist FROM (
                 SELECT vec_id, m, code, dist,
                        row_number() OVER (PARTITION BY vec_id, m
                                           ORDER BY dist, code) AS rn
                 FROM dfin) t WHERE rn = 1)""")
    return "".join(parts)


def _emb_quantized(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    return emb.select("vec_id",
                      _quantized(F.col("embedding")).alias("qv"))


def _trained_codebooks(spark, sf_dir):
    from ..functions.pq import fit_pq_codebooks
    return fit_pq_codebooks(_emb_quantized(spark, sf_dir), m=_PQ_M,
                            sub=_PQ_SUB, k=_PQ_K, n_iter=_PQ_ITERS)


@query(
    "embedding_pq_trained_codes",
    oracle=_pq_lloyd_ctes() + """
    SELECT vec_id, m, code, dist AS sq_err_scaled
    FROM tcodes ORDER BY vec_id, m
    """,
    doc=f"PQ encode against a TRAINED codebook: {_PQ_ITERS} Lloyd "
        f"iterations of per-subspace k-means (functions/pq.py) on exact "
        "1e-6-unit integers, then the final nearest-codeword "
        "assignment. The fit is the MLlib iteration shape — the corpus "
        "never shuffles (assignment is an Arrow-batched projection "
        "against the broadcast M*K*sub codebook); each iteration moves "
        "only the (m, code, si) -> (sum, count) fan-in, a constant "
        f"{_PQ_M * _PQ_K * _PQ_SUB} cells at ANY corpus size. Exact "
        "integer rounding makes the trained codebook bit-identical to "
        "the oracle's unrolled-CTE replay of the same iterations",
    exchanges=1,
)
def embedding_pq_trained_codes(spark, sf_dir):
    from ..functions.pq import pq_assign_udf
    cbs = _trained_codebooks(spark, sf_dir)
    assign = pq_assign_udf(cbs)
    return (_emb_quantized(spark, sf_dir)
            .select("vec_id",
                    F.posexplode(assign(F.col("qv"))).alias("m", "st"))
            .select("vec_id", F.col("m").cast("bigint").alias("m"),
                    F.col("st.code").alias("code"),
                    F.col("st.dist").alias("sq_err_scaled"))
            .orderBy("vec_id", "m"))


@query(
    "ann_pq_adc_trained_topk",
    oracle=_pq_lloyd_ctes() + f""",
    lut AS (SELECT qs.vec_id AS query_id, c.m, c.code,
                   CAST(sum((qs.q - c.cq) * (qs.q - c.cq)) AS BIGINT)
                       AS ld
            FROM sub qs JOIN cb{_PQ_ITERS} c
              ON qs.m = c.m AND qs.si = c.si
            WHERE qs.vec_id < {_PQ_NQ}
            GROUP BY 1, 2, 3),
    adc AS (SELECT l.query_id, co.vec_id AS neighbor_id,
                   CAST(sum(l.ld) AS BIGINT) AS adc_dist_scaled
            FROM tcodes co
            JOIN lut l ON co.m = l.m AND co.code = l.code
            WHERE co.vec_id >= {_PQ_NQ}
            GROUP BY 1, 2)
    SELECT query_id, neighbor_id, adc_dist_scaled,
           CAST(rn AS BIGINT) AS rank
    FROM (SELECT query_id, neighbor_id, adc_dist_scaled,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY adc_dist_scaled, neighbor_id)
                     AS rn
          FROM adc) t
    WHERE rn <= {_PQ_TOPK}
    ORDER BY query_id, rank
    """,
    doc=f"ADC top-{_PQ_TOPK} over the TRAINED codebook: the per-query "
        f"({_PQ_M} x {_PQ_K}) distance lookup tables are computed "
        "driver-side from the fitted codebook (exact Python ints — KB "
        "model state, the centroid-collect precedent) and broadcast; "
        "the corpus is scanned as trained codes only. Training tightens "
        "the quantization cells around the data, so ADC distances track "
        "true L2 better than the seed codebook's (recall gate in "
        "tests/test_vector_ops.py)",
    exchanges=3,
)
def ann_pq_adc_trained_topk(spark, sf_dir):
    from pyspark.sql.types import LongType, StructField, StructType
    from ..functions.pq import pq_assign_udf
    cbs = _trained_codebooks(spark, sf_dir)
    emb_q = _emb_quantized(spark, sf_dir)
    # Per-query LUTs from the collected query vectors (NQ rows, KB).
    qrows = (emb_q.filter(F.col("vec_id") < _PQ_NQ)
             .select("vec_id", "qv").orderBy("vec_id").collect())
    lut_rows = []
    for r in qrows:
        qv = [int(v) for v in r.qv]
        for m in range(_PQ_M):
            s = qv[m * _PQ_SUB:(m + 1) * _PQ_SUB]
            for code in range(_PQ_K):
                cq = cbs[m][code]
                ld = sum((a - b) * (a - b) for a, b in zip(s, cq))
                lut_rows.append((int(r.vec_id), m, code, ld))
    lut = spark.createDataFrame(
        lut_rows,
        StructType([StructField(n, LongType(), False)
                    for n in ("query_id", "m", "code", "ld")]))
    assign = pq_assign_udf(cbs)
    codes = (emb_q.filter(F.col("vec_id") >= _PQ_NQ)
             .select("vec_id",
                     F.posexplode(assign(F.col("qv"))).alias("m", "st"))
             .select("vec_id", F.col("m").cast("bigint").alias("m"),
                     F.col("st.code").alias("code")))
    adc = (codes.join(F.broadcast(lut), ["m", "code"])
           .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
           .agg(F.sum("ld").alias("adc_dist_scaled")))
    w = Window.partitionBy("query_id").orderBy(
        "adc_dist_scaled", "neighbor_id")
    return (adc.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= _PQ_TOPK)
            .select("query_id", "neighbor_id", "adc_dist_scaled", "rank")
            .orderBy("query_id", "rank"))


# --- Johnson-Lindenstrauss random projection (sign sketch) ------------------

_JL_K = 16  # target dimensionality; scale factor 1/sqrt(K) = 1/4


@query(
    "jl_random_projection",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x ->
                 CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                 AS qv
      FROM embeddings),
    e AS (SELECT vec_id, unnest(qv) AS x,
                 unnest(generate_series(1, len(qv))) AS j
          FROM q),
    s AS (SELECT k, j,
                 CASE WHEN CAST(('0x' || substr(md5(
                          'jl:' || k || ':' || j), 1, 15)) AS BIGINT)
                          % 2 = 0
                      THEN 1 ELSE -1 END AS sgn
          FROM (SELECT unnest(generate_series(0, {_JL_K - 1})) AS k),
               (SELECT unnest(generate_series(1, 64)) AS j)),
    p AS (SELECT e.vec_id, s.k,
                 CAST(sum(s.sgn * e.x) AS BIGINT) AS comp_scaled
          FROM e JOIN s ON s.j = e.j GROUP BY 1, 2)
    SELECT vec_id, CAST(k AS BIGINT) AS k, comp_scaled,
           ROUND(CAST(comp_scaled AS DOUBLE) / 4000000.0, 9) AS comp
    FROM p ORDER BY vec_id, k
    """,
    doc=f"Johnson-Lindenstrauss dimensionality reduction 64 -> "
        f"{_JL_K}: project every embedding through a deterministic "
        "+/-1 sign matrix (sign = parity of the shared 60-bit md5 of "
        "'jl:k:j'), scaled by 1/sqrt(K). The sketch ANN pipelines use "
        "to cut distance-computation cost before exact reranking; "
        "with Rademacher signs the projection preserves pairwise "
        "distances within (1 +/- eps) w.h.p. Exactness: components "
        "are sums of signed 1e-6-unit BIGINTs (order-free), the only "
        "double is one final division by 4e6. The 16x64 sign matrix "
        "is generated IN-ENGINE on both sides (no shipped literals) "
        "and broadcast; per-vector work is a narrow explode-join-agg "
        "that shares the vec_id exchange",
    exchanges=2,
)
def jl_random_projection(spark, sf_dir):
    from ..functions.dedup import h60
    emb = _emb_quantized(spark, sf_dir)
    e = emb.select("vec_id", F.posexplode("qv").alias("p0", "x"))
    e = e.select("vec_id", (F.col("p0") + 1).alias("j"), "x")
    # one flat range instead of a k x j cross join: same 1024 rows,
    # no nested-loop node anywhere in the plan
    s = (spark.range(_JL_K * 64)
         .select((F.col("id") % _JL_K).alias("k"),
                 (F.expr(f"id DIV {_JL_K}") + 1).alias("j"))
         .select("k", "j",
                 F.when(h60(F.concat(F.lit("jl:"), F.col("k"),
                                     F.lit(":"), F.col("j"))) % 2
                        == 0, 1).otherwise(-1).alias("sgn")))
    p = (e.join(F.broadcast(s), "j")
         .groupBy("vec_id", "k")
         .agg(F.sum(F.col("sgn") * F.col("x")).alias("comp_scaled")))
    return (p.select("vec_id", F.col("k").cast("bigint").alias("k"),
                     "comp_scaled",
                     # round to 9, not 6: y/4e6 has a FINITE 8-decimal
                     # expansion, so 9-digit rounding can never hit a
                     # tie (6-digit rounding does, and the engines'
                     # tie-handling on doubles differs)
                     F.round(F.col("comp_scaled").cast("double")
                             / 4000000.0, 9).alias("comp"))
            .orderBy("vec_id", "k"))


# ---------------------------------------------------------------------------
# Matryoshka-style dimension-truncation recall audit

_TR_D = 16           # truncated prefix dims
_TR_NQ = 5           # query vectors (lowest vec_ids)
_TR_K = 10


@query(
    "ann_dim_truncation_recall",
    oracle=f"""
    WITH iv AS (
      SELECT vec_id, CAST(i AS BIGINT) AS i,
             CAST(ROUND(CAST(e AS DOUBLE) * {_SCALE}) AS BIGINT) AS q
      FROM (SELECT vec_id, unnest(embedding) AS e,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM embeddings)),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(sum(CAST(q.q AS HUGEINT) * c.q) AS HUGEINT) AS full_d,
             CAST(sum(CASE WHEN q.i <= {_TR_D}
                           THEN CAST(q.q AS HUGEINT) * c.q
                           ELSE 0 END) AS HUGEINT) AS trunc_d
      FROM iv q JOIN iv c ON q.i = c.i AND q.vec_id <> c.vec_id
      WHERE q.vec_id < {_TR_NQ}
      GROUP BY 1, 2),
    rk AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY full_d DESC, neighbor_id) AS rf,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY trunc_d DESC, neighbor_id) AS rt
      FROM dots)
    SELECT query_id,
           CAST(sum(CASE WHEN rf <= {_TR_K} AND rt <= {_TR_K}
                    THEN 1 ELSE 0 END) AS BIGINT) AS overlap,
           CAST((2 * CAST(sum(CASE WHEN rf <= {_TR_K} AND rt <= {_TR_K}
                              THEN 1 ELSE 0 END) AS HUGEINT)
                 * 1000000 + {_TR_K})
                // (2 * CAST({_TR_K} AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS recall6
    FROM rk GROUP BY query_id ORDER BY query_id
    """,
    doc=f"Matryoshka-style dimension-truncation audit: recall@{_TR_K} "
        f"of top-k retrieval using only the first {_TR_D} of 64 "
        "embedding dims against full-dimension ground truth, per "
        "query — the measurement behind 'can we store/shuffle 4x "
        "fewer bytes per vector'. Both rankings come from ONE pass "
        "over the corpus (the truncated dot is a conditional sum "
        "inside the same product fold, so the corpus is scanned and "
        "joined once, not twice) on exact 1e-6-unit integer dot "
        "products — ranks are integer-ordered with id tiebreak, zero "
        "float anywhere. The two row_number windows share the "
        "query_id exchange. At 100 TB the query side is a broadcast "
        "and the corpus is scanned once; the recall relation is "
        f"{_TR_NQ} rows",
    exchanges=2,
)
def ann_dim_truncation_recall(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    qv = emb.select("vec_id", _quantized(F.col("embedding")).alias("v"))
    q = (qv.filter(F.col("vec_id") < _TR_NQ)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("v").alias("qv")))
    pairs = (qv.crossJoin(F.broadcast(q))
             .filter(F.col("vec_id") != F.col("query_id")))
    prods = F.zip_with("qv", "v", lambda x, y: x * y)
    full_d = F.aggregate(prods, F.lit(0).cast("decimal(38,0)"),
                         lambda acc, x: acc + x)
    trunc_d = F.aggregate(F.slice(prods, 1, _TR_D),
                          F.lit(0).cast("decimal(38,0)"),
                          lambda acc, x: acc + x)
    dots = pairs.select("query_id",
                        F.col("vec_id").alias("neighbor_id"),
                        full_d.alias("full_d"), trunc_d.alias("trunc_d"))
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("full_d"), "neighbor_id")
    wt = Window.partitionBy("query_id").orderBy(
        F.desc("trunc_d"), "neighbor_id")
    rk = dots.select(
        "query_id",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wt).alias("rt"))
    hit = ((F.col("rf") <= _TR_K) & (F.col("rt") <= _TR_K)) \
        .cast("bigint")
    return (rk.groupBy("query_id")
            .agg(F.sum(hit).alias("overlap"))
            .select("query_id", "overlap",
                    ratio_round6(F.col("overlap"), F.lit(_TR_K))
                    .alias("recall6"))
            .orderBy("query_id"))


# ---------------------------------------------------------------------------
# Prototype k-NN classifier evaluation: the label-quality audit a
# training-data pipeline runs on its embedding table. A FIXED, bounded
# prototype memory (the _KNN_P lowest vec_ids, standing in for a
# curated labeled set) classifies every other vector by majority vote
# of its _KNN_K nearest prototypes; per-label accuracy exposes which
# classes the embedding space actually separates. Scale shape: the
# prototype set is O(1) driver-sized and BROADCAST, the corpus streams
# once through a nested-loop join whose per-row work is O(_KNN_P) —
# never corpus x corpus.

_KNN_P = 64   # prototype memory size (lowest vec_ids)
_KNN_K = 5


@query(
    "knn_prototype_accuracy",
    oracle=f"""
    WITH iv AS MATERIALIZED (
      SELECT vec_id, i,
             CAST(ROUND(CAST(e AS DOUBLE) * {_SCALE}) AS BIGINT) AS q
      FROM (SELECT vec_id, unnest(embedding) AS e,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM embeddings)),
    pv AS (SELECT vec_id AS p_id, i, q AS pq FROM iv
           WHERE vec_id < {_KNN_P}),
    pn AS (SELECT p_id, CAST(sum(pq * pq) AS BIGINT) AS n2p
           FROM pv GROUP BY 1),
    lab AS (SELECT vec_id, label FROM embeddings),
    dots AS (
      SELECT iv.vec_id, pv.p_id, CAST(sum(iv.q * pv.pq) AS BIGINT)
                 AS dot
      FROM iv JOIN pv USING (i)
      WHERE iv.vec_id >= {_KNN_P} GROUP BY 1, 2),
    ranked AS (
      SELECT d.vec_id, d.p_id,
             row_number() OVER (PARTITION BY d.vec_id
               ORDER BY CAST(d.dot AS DOUBLE)
                        / sqrt(CAST(pn.n2p AS DOUBLE)) DESC,
                        d.p_id) AS rn
      FROM dots d JOIN pn USING (p_id)),
    votes AS (
      SELECT r.vec_id, l.label, pl.label AS p_label,
             CAST(count(*) AS BIGINT) AS nv
      FROM ranked r
      JOIN lab l ON l.vec_id = r.vec_id
      JOIN lab pl ON pl.vec_id = r.p_id
      WHERE r.rn <= {_KNN_K} GROUP BY 1, 2, 3),
    winner AS (
      SELECT vec_id, label, p_label FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY nv DESC, p_label) AS wr
        FROM votes) t WHERE wr = 1),
    acc AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN p_label = label THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_correct
      FROM winner GROUP BY 1)
    SELECT label, n, n_correct,
           CAST((2 * CAST(n_correct AS HUGEINT) * 1000000 + n)
                // (2 * CAST(n AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS accuracy6
    FROM acc ORDER BY label
    """,
    doc=f"per-label accuracy of a {_KNN_K}-NN majority-vote classifier "
        f"over a fixed {_KNN_P}-prototype memory (lowest vec_ids): the "
        "embedding-quality audit of a training pipeline. Components "
        "quantize to 1e-6-unit BIGINTs, so prototype dots are EXACT "
        "integers on both engines; the ranking key dot/sqrt(|p|^2) is "
        "the same IEEE doubles from the same integers (query norm is "
        "a per-row constant, so this IS cosine order), ties to the "
        "prototype id, votes tie (count desc, label asc). The Spark "
        "side is an Arrow-batched mapInPandas int64 matmul against "
        "the 64-row prototype matrix carried as driver state (the "
        "gram_matrix_micro kernel precedent — an interpreted "
        "higher-order-function fold measured 7x slower at sf1): one "
        "corpus scan, per-row O(P) work, the only shuffle is the "
        "final label rollup",
    bench=True,
    # label rollup + sort
    exchanges=2,
)
def knn_prototype_accuracy(spark, sf_dir):
    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings")

    def quant(M):
        X = M * float(_SCALE)
        return (np.floor(np.abs(X) + 0.5) * np.sign(X)).astype("int64")

    prows = (emb.filter(F.col("vec_id") < _KNN_P)
             .select("vec_id", "label", "embedding")
             .orderBy("vec_id").collect())
    P = quant(np.vstack([r["embedding"] for r in prows])
              .astype(np.float64))
    p_ids = np.array([r["vec_id"] for r in prows], dtype="int64")
    p_labels = np.array([r["label"] for r in prows], dtype="int64")
    # DIVIDE by the norm (never multiply by a reciprocal): x/s is the
    # exact IEEE operation the oracle's dot/sqrt(n2p) performs, while
    # x*(1/s) can differ by an ulp and flip a near-tie ranking
    pnorm = np.sqrt((P * P).sum(axis=1).astype(np.float64))

    def classify(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = quant(np.vstack(pdf["embedding"].to_numpy())
                      .astype(np.float64))
            key = (Q @ P.T).astype(np.float64) / pnorm[None, :]
            # top-k by (key desc, p_id asc): lexsort is stable and
            # sorts by the LAST key first
            order = np.lexsort(
                (np.broadcast_to(p_ids, key.shape), -key), axis=1)
            top = p_labels[order[:, :_KNN_K]]
            preds = np.empty(len(Q), dtype="int64")
            for r in range(len(Q)):
                lbs, cnt = np.unique(top[r], return_counts=True)
                preds[r] = int(lbs[cnt == cnt.max()].min())
            yield pd.DataFrame({"label": pdf["label"].to_numpy(),
                                "pred": preds})

    scored = (emb.filter(F.col("vec_id") >= _KNN_P)
              .select("label", "embedding")
              .mapInPandas(classify, schema="label int, pred long"))
    return (scored.groupBy("label")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum((F.col("pred") == F.col("label").cast("long"))
                       .cast("bigint")).cast("long").alias("n_correct"))
            .select("label", "n", "n_correct",
                    ratio_round6(F.col("n_correct"), F.col("n"))
                    .alias("accuracy6"))
            .orderBy("label"))


# ---------------------------------------------------------------------------
# Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
# the diversity-aware final stage of a retrieval pipeline. Candidate
# generation is the distributed part (exact top-_MMR_CAND by cosine to
# the query vector, the ann_bruteforce shape); the greedy selection
# then runs over that k-capped candidate set as driver state (the PQ
# codebook precedent: production rerankers do exactly this, because
# MMR is inherently sequential and its input is bounded by
# construction). All scoring is INTEGER once cosines are rounded to
# 1e-6 units in-engine: with lambda = 7/10,
#   mmr_units = 7 * rel6 - 3 * max(sim6 to selected)   (1e-7 units)
# so the Python selection does no float arithmetic at all and the
# DuckDB oracle (the same 5 greedy steps unrolled as CTEs) is
# hash-exact by construction.

_MMR_Q = 0        # query vector id
_MMR_CAND = 12    # candidate pool (exact top-N by relevance)
_MMR_K = 5        # results to select

_MMR_COS = ("list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
            " / (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
            " * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))")


def _mmr_oracle() -> str:
    steps = []
    for i in range(2, _MMR_K + 1):
        steps.append(f"""
    sc{i} AS (
      SELECT c.vec_id, c.rel6,
             CAST(7 * c.rel6 - 3 * max(s.sim6) AS BIGINT) AS mmr_units
      FROM cand c
      JOIN sims s ON s.ida = c.vec_id
      JOIN sel{i - 1} ON s.idb = sel{i - 1}.vec_id
      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
      GROUP BY c.vec_id, c.rel6),
    s{i} AS (SELECT vec_id, rel6, mmr_units, CAST({i} AS BIGINT) AS rank
             FROM sc{i} ORDER BY mmr_units DESC, vec_id LIMIT 1),
    sel{i} AS (SELECT vec_id FROM sel{i - 1}
               UNION ALL SELECT vec_id FROM s{i})""")
    unioned = "\n      UNION ALL ".join(
        f"SELECT * FROM s{i}" for i in range(1, _MMR_K + 1))
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings
               WHERE vec_id = {_MMR_Q}),
    rel AS (
      SELECT c.vec_id, c.embedding,
             CAST(ROUND({_MMR_COS.format(a='q.qv', b='c.embedding')}
                        * 1000000) AS BIGINT) AS rel6
      FROM embeddings c CROSS JOIN q WHERE c.vec_id <> {_MMR_Q}),
    cand AS MATERIALIZED (
      SELECT vec_id, embedding, rel6 FROM rel
      ORDER BY rel6 DESC, vec_id LIMIT {_MMR_CAND}),
    sims AS MATERIALIZED (
      SELECT a.vec_id AS ida, b.vec_id AS idb,
             CAST(ROUND({_MMR_COS.format(a='a.embedding',
                                         b='b.embedding')}
                        * 1000000) AS BIGINT) AS sim6
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
    s1 AS (SELECT vec_id, rel6, CAST(7 * rel6 AS BIGINT) AS mmr_units,
                  CAST(1 AS BIGINT) AS rank
           FROM cand ORDER BY rel6 DESC, vec_id LIMIT 1),
    sel1 AS (SELECT vec_id FROM s1),{','.join(steps)}
    SELECT rank, vec_id, rel6, mmr_units FROM (
      {unioned}) u ORDER BY rank
    """


@query(
    "mmr_diverse_rerank",
    oracle=_mmr_oracle(),
    doc=f"MMR diversity re-ranking (lambda=0.7): exact top-{_MMR_CAND} "
        f"candidates by cosine to query vec_id={_MMR_Q} (distributed, "
        "broadcast 1-row query — the ann_bruteforce shape), then "
        f"{_MMR_K} greedy selections maximizing 0.7*relevance - "
        "0.3*max-similarity-to-selected. Cosines are rounded to 1e-6 "
        "units IN-ENGINE (F.round / DuckDB ROUND, identical "
        "half-away-from-zero), after which scores are pure BIGINT "
        "(mmr_units = 7*rel6 - 3*max(sim6), 1e-7 units) with vec_id "
        "tiebreak — the greedy argmax is bit-deterministic. The "
        "selection loop runs on the collected candidate pool "
        f"({_MMR_CAND} ids + {_MMR_CAND}x{_MMR_CAND} sims, KB driver "
        "state, the PQ-codebook precedent); at 100 TB only candidate "
        "generation touches the corpus",
)
def mmr_diverse_rerank(spark, sf_dir):
    from ..functions import similarity as SIM

    emb = table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id",
                      SIM.as_double(F.col("embedding")).alias("v"))
    q = (base.filter(F.col("vec_id") == _MMR_Q)
         .select(F.col("v").alias("qv")))
    rel6 = F.round(SIM.cosine("qv", "v") * 1000000).cast("bigint")
    cand = (base.filter(F.col("vec_id") != _MMR_Q)
            .crossJoin(F.broadcast(q))
            .select("vec_id", "v", rel6.alias("rel6"))
            .orderBy(F.desc("rel6"), "vec_id").limit(_MMR_CAND)
            # materialize the 12-row pool once: without this the
            # full-corpus cosine scan re-runs for the collect AND each
            # side of the pairwise self-join (3x the dominant cost)
            .localCheckpoint(eager=True))
    rows = cand.select("vec_id", "rel6").collect()
    rel = {r["vec_id"]: r["rel6"] for r in rows}
    a = cand.select(F.col("vec_id").alias("ida"), F.col("v").alias("va"))
    b = cand.select(F.col("vec_id").alias("idb"), F.col("v").alias("vb"))
    sim6 = F.round(SIM.cosine("va", "vb") * 1000000).cast("bigint")
    sim_rows = (a.join(F.broadcast(b), F.col("ida") != F.col("idb"))
                .select("ida", "idb", sim6.alias("sim6")).collect())
    sims = {(r["ida"], r["idb"]): r["sim6"] for r in sim_rows}
    # greedy integer MMR over the bounded pool (no float arithmetic)
    selected: list[int] = []
    out = []
    for rank in range(1, _MMR_K + 1):
        best = None
        for cid, r6 in rel.items():
            if cid in selected:
                continue
            units = (7 * r6 if not selected else
                     7 * r6 - 3 * max(sims[(cid, s)] for s in selected))
            key = (-units, cid)
            if best is None or key < best[0]:
                best = (key, cid, r6, units)
        selected.append(best[1])
        out.append((rank, best[1], best[2], best[3]))
    return spark.createDataFrame(
        out, "rank long, vec_id long, rel6 long, mmr_units long")


# ---------------------------------------------------------------------------
# Margin-based (CSLS) nearest-neighbor pair mining — the criterion
# behind large-scale bitext / aligned-pair extraction (Artetxe &
# Schwenk 2019, "Margin-based Parallel Corpus Mining with Multilingual
# Sentence Embeddings"; Conneau et al. 2018 CSLS): a raw nearest
# neighbor is kept only if it beats BOTH endpoints' local similarity
# neighborhoods, which suppresses hub vectors that are everyone's
# nearest neighbor. score(x,y) = 2*sim(x,y) - r_x - r_y with
# r_* = mean of the top-K sims — multiplied through by K here so
# every quantity stays an exact BIGINT (margin_k = 2K*dot - sum of
# x's top-K dots - sum of y's top-K dots).

_CSLS_NQ = 8   # query batch: the 8 lowest even vec_ids (X side)
_CSLS_K = 4    # neighborhood size K


@query(
    "csls_margin_pair_mining",
    oracle=f"""
    WITH iv AS MATERIALIZED ({{QIV}}),
    qx AS (SELECT vec_id AS x FROM (
             SELECT DISTINCT vec_id FROM iv WHERE vec_id % 2 = 0)
           ORDER BY x LIMIT {_CSLS_NQ}),
    dots AS MATERIALIZED (
      SELECT q.x, y.vec_id AS y,
             CAST(sum(xq.q * y.q) AS BIGINT) AS dot
      FROM iv y
      JOIN iv xq ON xq.i = y.i
      JOIN qx q ON q.x = xq.vec_id
      WHERE y.vec_id % 2 = 1
      GROUP BY 1, 2),
    rx AS (SELECT x, CAST(sum(dot) AS BIGINT) AS ktop_x FROM (
             SELECT x, dot, row_number() OVER (
               PARTITION BY x ORDER BY dot DESC, y) AS rn FROM dots)
           WHERE rn <= {_CSLS_K} GROUP BY 1),
    ry AS (SELECT y, CAST(sum(dot) AS BIGINT) AS ktop_y FROM (
             SELECT y, dot, row_number() OVER (
               PARTITION BY y ORDER BY dot DESC, x) AS rn FROM dots)
           WHERE rn <= {_CSLS_K} GROUP BY 1),
    m AS (SELECT d.x, d.y, d.dot, rx.ktop_x, ry.ktop_y,
                 CAST(2 * {_CSLS_K} * d.dot - rx.ktop_x - ry.ktop_y
                      AS BIGINT) AS margin_k
          FROM dots d JOIN rx USING (x) JOIN ry USING (y))
    SELECT x AS x_id, y AS y_id, dot, ktop_x, ktop_y, margin_k
    FROM (SELECT m.*, row_number() OVER (
            PARTITION BY x ORDER BY margin_k DESC, y) AS rn FROM m)
    WHERE rn = 1 ORDER BY x_id
    """.replace("{QIV}", SIM.QUANT_IV_SQL),
    doc=f"margin-based (CSLS) pair mining: the corpus splits into an "
        "X side (even vec_ids) and a Y side (odd vec_ids); for the "
        f"{_CSLS_NQ} lowest-id X vectors, every Y candidate is scored "
        f"by the K={_CSLS_K} margin criterion — 2K*dot minus the sum "
        "of x's top-K dots minus the sum of y's top-K dots over the "
        "query batch — and the best-margin candidate per query is "
        "returned with its full score decomposition, all exact "
        "BIGINTs on 1e-6-quantized components (ties broken on "
        "candidate id). The margin demotes hub vectors that are "
        "near-neighbors of EVERYTHING (their candidates carry a high "
        "ktop_y penalty), the failure mode raw-kNN bitext mining "
        "suffers at corpus scale. Plan shape: one broadcast of the "
        "query batch's components, one (x, y) aggregate at "
        "batch x corpus grain, two bounded top-K windows (x-grain "
        "partitions of |Y| rows, y-grain partitions of "
        f"{_CSLS_NQ} rows), one margin rank — never Y x Y. At "
        "100 TB the batch side is always the broadcast and the "
        "neighborhood sums stay at candidate grain; the scale path "
        "for full-corpus mining is the same score over LSH/IVF "
        "bucket candidates (ann_lsh_topk / ann_ivf_topk), with this "
        "exact form as the per-bucket scorer",
    # one batch-broadcast component join + one (x, y) aggregate +
    # two top-K windows (each re-keys once) + the neighborhood-sum
    # joins + the margin rank — every one at batch- or
    # candidate-grain, never Y x Y
    exchanges=11,
)
def csls_margin_pair_mining(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").select("vec_id",
                                                    "embedding")
    iv = SIM.quantized_components(emb)
    qx = (iv.filter(F.col("vec_id") % 2 == 0)
          .select(F.col("vec_id").alias("x")).distinct()
          .orderBy("x").limit(_CSLS_NQ))
    qxc = (iv.join(F.broadcast(qx), iv["vec_id"] == F.col("x"))
           .select("x", "i", F.col("q").alias("xq")))
    yiv = (iv.filter(F.col("vec_id") % 2 == 1)
           .select(F.col("vec_id").alias("y"), "i", "q"))
    dots = (yiv.join(F.broadcast(qxc), "i")
            .groupBy("x", "y")
            .agg(F.sum(F.col("xq") * F.col("q")).cast("bigint")
                 .alias("dot")))
    wx = Window.partitionBy("x").orderBy(F.desc("dot"), "y")
    wy = Window.partitionBy("y").orderBy(F.desc("dot"), "x")
    d2 = (dots.withColumn("rnx", F.row_number().over(wx))
          .withColumn("rny", F.row_number().over(wy)))
    ktop_x = (d2.filter(F.col("rnx") <= _CSLS_K).groupBy("x")
              .agg(F.sum("dot").cast("bigint").alias("ktop_x")))
    ktop_y = (d2.filter(F.col("rny") <= _CSLS_K).groupBy("y")
              .agg(F.sum("dot").cast("bigint").alias("ktop_y")))
    m = (dots.join(F.broadcast(ktop_x), "x").join(ktop_y, "y")
         .select("x", "y", "dot", "ktop_x", "ktop_y",
                 (2 * _CSLS_K * F.col("dot") - F.col("ktop_x")
                  - F.col("ktop_y")).cast("bigint").alias("margin_k")))
    wm = Window.partitionBy("x").orderBy(F.desc("margin_k"), "y")
    return (m.withColumn("rn", F.row_number().over(wm))
            .filter(F.col("rn") == 1)
            .select(F.col("x").alias("x_id"), F.col("y").alias("y_id"),
                    "dot", "ktop_x", "ktop_y", "margin_k")
            .orderBy("x_id"))
