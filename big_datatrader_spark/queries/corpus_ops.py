"""Corpus-pipeline operators, round-3 batch 2: the cleaning /
sampling / packing stages a 100 TB training-data pipeline runs after
signals are computed — a Gopher-style rule filter, cross-document
repetition, chunk-level exact dedup (the Lee-et-al "deduplicating
training data" shape), context-length sequence packing, stratified and
mixture-rebalanced sampling — plus two graph/vector ops (degree-
oriented triangle counting, exact k-means assignment).

Everything is JVM-side DataFrame expressions; every query carries an
exact DuckDB oracle. All fractions divide exact BIGINT sums, so the
rounded doubles are bit-identical across engines (conventions of
queries/__init__ and queries/training_ops).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions import dedup as DD
from ..functions import text as TX
from ..functions.dedup import h60
from ..functions import graph as GR
from ..functions import similarity as SIM
from ..operators.exact import ratio_round6
from ..sources.parquet_source import table
from . import lazy_cache, leased_copurchase_edges, query, run_scoped
from .llm_dedup import (BANDS, NUM_HASHES, _SHINGLES, _band_struct_sql,
                        _minhash_sig_sql)
from .training_ops import _TOKS, _grams_sql, _gram_rows, _h60_sql

_R = 6


# ---------------------------------------------------------------------------
# Gopher/C4-style rule filter: one explode+groupBy feeds every rule

_QF_MIN_TOK, _QF_MAX_TOK = 20, 95
_QF_MIN_WLEN, _QF_MAX_WLEN = 4.0, 5.0
_QF_TOP_FRAC = 0.15


@query(
    "corpus_quality_filter",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    per AS (SELECT doc_id, tok, count(*) AS n FROM tk GROUP BY 1, 2),
    st AS (SELECT doc_id,
                  CAST(sum(n) AS BIGINT) AS n_tokens,
                  CAST(max(n) AS BIGINT) AS top_cnt,
                  CAST(sum(n * len(tok)) AS BIGINT) AS n_tok_chars
           FROM per GROUP BY 1)
    SELECT doc_id, n_tokens,
           ROUND(CAST(n_tok_chars AS DOUBLE) / n_tokens, {_R})
               AS mean_word_len,
           ROUND(CAST(top_cnt AS DOUBLE) / n_tokens, {_R})
               AS top_token_frac,
           CASE WHEN n_tokens < {_QF_MIN_TOK} THEN 'too_short'
                WHEN n_tokens > {_QF_MAX_TOK} THEN 'too_long'
                WHEN CAST(n_tok_chars AS DOUBLE) / n_tokens
                     < {_QF_MIN_WLEN}
                     OR CAST(n_tok_chars AS DOUBLE) / n_tokens
                        > {_QF_MAX_WLEN} THEN 'word_len'
                WHEN CAST(top_cnt AS DOUBLE) / n_tokens
                     >= {_QF_TOP_FRAC} THEN 'repetitive'
                ELSE 'ok' END AS reason,
           (n_tokens >= {_QF_MIN_TOK} AND n_tokens <= {_QF_MAX_TOK}
            AND CAST(n_tok_chars AS DOUBLE) / n_tokens
                >= {_QF_MIN_WLEN}
            AND CAST(n_tok_chars AS DOUBLE) / n_tokens
                <= {_QF_MAX_WLEN}
            AND CAST(top_cnt AS DOUBLE) / n_tokens < {_QF_TOP_FRAC})
               AS kept
    FROM st ORDER BY doc_id
    """,
    doc="Gopher/C4-style corpus rule filter: token-count bounds, mean "
        "word length band, top-token dominance — each doc gets kept + "
        "the FIRST failing rule as an audit reason. One explode + "
        "per-(doc,token) groupBy feeds all rules (no second pass over "
        "text); the per-doc reduction is map-side combinable, so at "
        "100 TB the only shuffle is doc-sized aggregates, never raw "
        "text",
    exchanges=3,
)
def corpus_quality_filter(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    per = (
        docs.select("doc_id", F.explode(TX.tokens(F.col("text")))
                    .alias("tok"))
        .groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("n"))
    )
    st = per.groupBy("doc_id").agg(
        F.sum("n").alias("n_tokens"),
        F.max("n").alias("top_cnt"),
        F.sum(F.col("n") * F.length("tok")).alias("n_tok_chars"))
    wlen = F.col("n_tok_chars").cast("double") / F.col("n_tokens")
    top = F.col("top_cnt").cast("double") / F.col("n_tokens")
    reason = (
        F.when(F.col("n_tokens") < _QF_MIN_TOK, "too_short")
        .when(F.col("n_tokens") > _QF_MAX_TOK, "too_long")
        .when((wlen < _QF_MIN_WLEN) | (wlen > _QF_MAX_WLEN),
              "word_len")
        .when(top >= _QF_TOP_FRAC, "repetitive")
        .otherwise("ok"))
    return (
        st.select(
            "doc_id", "n_tokens",
            F.round(wlen, _R).alias("mean_word_len"),
            F.round(top, _R).alias("top_token_frac"),
            reason.alias("reason"),
            ((F.col("n_tokens") >= _QF_MIN_TOK)
             & (F.col("n_tokens") <= _QF_MAX_TOK)
             & (wlen >= _QF_MIN_WLEN) & (wlen <= _QF_MAX_WLEN)
             & (top < _QF_TOP_FRAC)).alias("kept"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Cross-document repetition: fraction of a doc's distinct 5-grams that
# occur in >= 2 documents (corpus-wide boilerplate signal)

_XD_N = 5


@query(
    "cross_doc_repetition",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    g AS (SELECT DISTINCT doc_id, unnest({_grams_sql(_XD_N)}) AS gram
          FROM toks),
    df AS (SELECT gram, count(*) AS n_docs FROM g GROUP BY 1)
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared,
           ROUND(CAST(sum(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), {_R}) AS shared_frac
    FROM g JOIN df USING (gram)
    GROUP BY 1 ORDER BY 1
    """,
    doc=f"cross-document repetition: share of each doc's distinct "
        f"{_XD_N}-grams that appear in >=2 documents — the corpus-wide "
        "boilerplate signal that intra-doc repetition "
        "(quality_repetition_signals) cannot see. Gram building is the "
        "codegen posexplode+lead pipeline; the document-frequency "
        "table shuffles only (gram-hash, count) pairs and the df join "
        "is gram-partitioned on both sides — one exchange feeds both "
        "the count and the join at 100 TB",
    exchanges=4,
)
def cross_doc_repetition(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    g = _gram_rows(docs, _XD_N).distinct()
    df_t = g.groupBy("gram").agg(F.count(F.lit(1)).alias("n_docs"))
    shared = F.when(F.col("n_docs") >= 2, 1).otherwise(0)
    return (
        g.join(df_t, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"),
             F.sum(shared).alias("n_shared"))
        .select("doc_id", "n_grams", "n_shared",
                F.round(F.col("n_shared").cast("double")
                        / F.col("n_grams"), _R).alias("shared_frac"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Chunk-level exact dedup (Lee et al., "Deduplicating Training Data
# Makes Language Models Better"): non-overlapping 8-token chunks,
# corpus-wide keep-first

_CH_N = 8


@query(
    "chunk_dedup_substrings",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    ch AS (SELECT doc_id, t,
                  unnest(generate_series(1, len(t) // {_CH_N})) AS i
           FROM toks),
    g AS (SELECT doc_id, i,
                 array_to_string(
                     t[(i - 1) * {_CH_N} + 1 : i * {_CH_N}], ' ')
                     AS gram
          FROM ch),
    r AS (SELECT doc_id, i,
                 row_number() OVER (PARTITION BY gram
                                    ORDER BY doc_id, i) AS rn
          FROM g)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           ROUND(CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), {_R}) AS kept_frac
    FROM r GROUP BY 1 ORDER BY 1
    """,
    doc=f"substring-level exact dedup: split each doc into "
        f"non-overlapping {_CH_N}-token chunks, keep only the first "
        "corpus-wide occurrence (ordered by doc_id, position) of each "
        "chunk — the exact-substring dedup of Lee et al. 2022 at chunk "
        "granularity. Keep-first is min(struct(doc_id,pos)) per chunk "
        "hash — partially aggregatable (map-side combine), so the "
        "shuffle carries one row per DISTINCT chunk, not per "
        "occurrence; no window sort over skewed boilerplate groups",
    exchanges=4,
)
def chunk_dedup_substrings(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    base = docs.select(
        "doc_id", F.posexplode(toks).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    w_all = Window.partitionBy("doc_id")
    gram = F.concat_ws(
        " ", F.col("tok"),
        *[F.lead("tok", j).over(w) for j in range(1, _CH_N)])
    g = (
        base.withColumn("n_tok", F.count(F.lit(1)).over(w_all))
        .withColumn("gram", gram)
        .filter((F.col("pos") % _CH_N == 0)
                & (F.col("pos") + _CH_N <= F.col("n_tok")))
        .select("doc_id", (F.col("pos") / _CH_N + 1).cast("bigint")
                .alias("i"), "gram")
    )
    first = g.groupBy("gram").agg(
        F.min(F.struct("doc_id", "i")).alias("first"))
    kept = F.when((F.col("doc_id") == F.col("first.doc_id"))
                  & (F.col("i") == F.col("first.i")), 1).otherwise(0)
    return (
        g.join(first, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_chunks"),
             F.sum(kept).alias("n_kept"))
        .select("doc_id", "n_chunks", "n_kept",
                F.round(F.col("n_kept").cast("double")
                        / F.col("n_chunks"), _R).alias("kept_frac"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Sequence packing: contiguous context-length bins by cumulative token
# count (per source, ordered by doc_id)

_PACK_BUDGET = 256


@query(
    "sequence_packing_bins",
    oracle=f"""
    WITH n AS (
      SELECT source, doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tok
      FROM documents),
    b AS (SELECT source, n_tok,
                 COALESCE(sum(n_tok) OVER (
                     PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) // {_PACK_BUDGET} AS bin
          FROM n),
    f AS (SELECT source, bin, CAST(sum(n_tok) AS BIGINT) AS fill
          FROM b GROUP BY 1, 2)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(fill) AS BIGINT) AS total_tokens,
           CAST(max(fill) AS BIGINT) AS max_bin_tokens,
           ROUND(CAST(sum(fill) AS DOUBLE) / count(*), {_R})
               AS avg_bin_tokens
    FROM f GROUP BY 1 ORDER BY 1
    """,
    doc=f"sequence packing: assign docs (per source, ordered by "
        f"doc_id) to {_PACK_BUDGET}-token context bins by "
        "floor(preceding-cumulative-tokens / budget) — contiguous "
        "deterministic packing where a doc crossing a boundary opens "
        "the next bin. One window cumsum + one groupBy, both "
        "partitioned by source: at 100 TB each source packs "
        "independently (no global order), matching how shard-local "
        "packing actually runs",
    exchanges=2,
)
def sequence_packing_bins(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    n = docs.select(
        "source", "doc_id",
        F.size(TX.tokens(F.col("text"))).cast("bigint").alias("n_tok"))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    b = n.select(
        "source", "n_tok",
        F.floor(F.coalesce(F.sum("n_tok").over(w), F.lit(0))
                / _PACK_BUDGET).alias("bin"))
    f = b.groupBy("source", "bin").agg(F.sum("n_tok").alias("fill"))
    return (
        f.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_bins"),
             F.sum("fill").alias("total_tokens"),
             F.max("fill").alias("max_bin_tokens"))
        .select("source", "n_bins", "total_tokens", "max_bin_tokens",
                F.round(F.col("total_tokens").cast("double")
                        / F.col("n_bins"), _R).alias("avg_bin_tokens"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Stratified sampling: per-event-type rates, hash-gated

_STRAT_PPM = {"click": 25, "error": 100, "purchase": 200,
              "signup": 10, "view": 50}  # per-mille


def _strat_case_sql() -> str:
    arms = " ".join(f"WHEN '{k}' THEN {v}"
                    for k, v in sorted(_STRAT_PPM.items()))
    return f"CASE event_type {arms} ELSE 0 END"


@query(
    "stratified_sample_events",
    oracle=f"""
    WITH s AS (
      SELECT event_type, event_id,
             ({_h60_sql("'strat:' || CAST(event_id AS VARCHAR)")}
              % 1000 < {_strat_case_sql()}) AS take
      FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN take THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled,
           CAST(sum(CASE WHEN take THEN event_id ELSE 0 END)
                AS BIGINT) AS sampled_id_checksum
    FROM s GROUP BY 1 ORDER BY 1
    """,
    doc="stratified sampling with per-stratum rates (per-mille gates "
        "on the 60-bit md5 of the row id): each event_type keeps its "
        "own reproducible rate — unlike sampleBy/rand this survives "
        "re-runs, repartitioning, and appends, and the id checksum "
        "proves the SAME rows are chosen on any engine. Single scan, "
        "map-side combinable aggregate — no shuffle of sampled rows",
    exchanges=2,
)
def stratified_sample_events(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    rate = F.lit(0)
    for k, v in sorted(_STRAT_PPM.items()):
        rate = F.when(F.col("event_type") == k, v).otherwise(rate)
    take = (h60(F.concat(F.lit("strat:"),
                         F.col("event_id").cast("string"))) % 1000
            < rate)
    return (
        ev.select("event_type", "event_id", take.alias("take"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_total"),
             F.sum(F.when(F.col("take"), 1).otherwise(0))
             .alias("n_sampled"),
             F.sum(F.when(F.col("take"), F.col("event_id"))
                   .otherwise(0)).alias("sampled_id_checksum"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Mixture rebalancing: downsample every language to the rarest
# language's count via exact integer acceptance thresholds

@query(
    "lang_mixture_rebalance",
    oracle=f"""
    WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_before
               FROM documents GROUP BY 1),
    m AS (SELECT min(n_before) AS min_n FROM c),
    thr AS (SELECT lang, n_before,
                   (m.min_n * 1000000) // n_before AS accept_ppm
            FROM c CROSS JOIN m),
    s AS (SELECT d.lang,
                 ({_h60_sql("'mix:' || CAST(d.doc_id AS VARCHAR)")}
                  % 1000000 < t.accept_ppm) AS take
          FROM documents d JOIN thr t ON d.lang = t.lang)
    SELECT t.lang, t.n_before, t.accept_ppm,
           CAST(sum(CASE WHEN s.take THEN 1 ELSE 0 END) AS BIGINT)
               AS n_after
    FROM s JOIN thr t ON s.lang = t.lang
    GROUP BY 1, 2, 3 ORDER BY 1
    """,
    doc="mixture rebalancing: compute per-language acceptance "
        "thresholds (rarest-language count / language count, exact "
        "integer ppm) from the data, then hash-gate rows against them "
        "— the two-pass shape of domain-mixture control (DoReMi-style "
        "targets plug in as the thr table). The counts table is "
        "languages-sized: it broadcasts, so the corpus is scanned "
        "once and never shuffled",
    exchanges=5,
)
def lang_mixture_rebalance(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_before"))
    m = c.agg(F.min("n_before").alias("min_n"))
    thr = (c.join(F.broadcast(m))
           .select("lang", "n_before",
                   F.floor(F.col("min_n") * 1000000
                           / F.col("n_before")).alias("accept_ppm")))
    take = (h60(F.concat(F.lit("mix:"),
                         F.col("doc_id").cast("string"))) % 1000000
            < F.col("accept_ppm"))
    return (
        docs.join(F.broadcast(thr), "lang")
        .select("lang", "n_before", "accept_ppm", take.alias("take"))
        .groupBy("lang", "n_before", "accept_ppm")
        .agg(F.sum(F.when(F.col("take"), 1).otherwise(0))
             .alias("n_after"))
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Triangle counting over the part co-purchase graph (degree-oriented)

@query(
    "triangle_count_copurchase",
    oracle="""
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey),
    deg AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS deg
            FROM (SELECT x AS node FROM pairs
                  UNION ALL SELECT y FROM pairs)
            GROUP BY 1),
    o AS MATERIALIZED (SELECT CASE WHEN dx.deg < dy.deg
                           OR (dx.deg = dy.deg AND x < y)
                      THEN x ELSE y END AS u,
                 CASE WHEN dx.deg < dy.deg
                           OR (dx.deg = dy.deg AND x < y)
                      THEN y ELSE x END AS v
          FROM pairs
          JOIN deg dx ON x = dx.node JOIN deg dy ON y = dy.node),
    ov AS MATERIALIZED (SELECT o.u, o.v, d.deg AS dv
           FROM o JOIN deg d ON o.v = d.node),
    tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM ov e1 JOIN ov e2
              ON e1.u = e2.u AND (e1.dv < e2.dv
                 OR (e1.dv = e2.dv AND e1.v < e2.v))
            JOIN o e3 ON e3.u = e1.v AND e3.v = e2.v),
    corners AS (SELECT a AS part_key FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri)
    SELECT part_key, CAST(count(*) AS BIGINT) AS n_triangles
    FROM corners GROUP BY 1
    ORDER BY n_triangles DESC, part_key LIMIT 20
    """,
    doc="per-node triangle counts over the part co-purchase graph "
        "(top 20): the standard degree-oriented algorithm — orient "
        "every edge from the (degree, id)-smaller endpoint, enumerate "
        "wedges only at oriented sources, close against the oriented "
        "edge set. Orientation bounds per-node wedge fan-out by "
        "O(sqrt(|E|)) instead of max-degree^2, which is exactly what "
        "keeps hub nodes from exploding the join at 100 TB; both "
        "wedge join and closure are equi-joins (no cross product). "
        "The oriented-edge cache is released after the top-20 result "
        "materializes (run_scoped, VERDICT r9 ask #3)",
    scoped=True,
    exchanges=43,
)
def _tri_plan(spark, sf_dir, cache=lazy_cache):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                 "l_partkey")
    # deliberately NOT leased from a SharedScope: this plan consumes
    # the ordered edge set four times (two degree branches + both
    # wedge-join sides), and the unscoped form already shares the
    # build across consumers at shuffle-file grain (ReusedExchange) —
    # swapping that for InMemoryRelation scans measured SLOWER both
    # times it was tried (16.4->22.1s, then 15.5->24.9s at sf0.1 with
    # the ordered set persisted; tools/ab_specs/shared_scope.py), the
    # same honest-loss class as the r9 MinHash collapse
    pairs = GR.copurchase_pairs(li, "x", "y", ordered=True)
    deg = (pairs.select(F.col("x").alias("node"))
           .unionAll(pairs.select(F.col("y").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    # Orientation key is lexicographic (deg, node), not an arithmetic
    # deg*1e9+node packing: packing stops being injective once partkey
    # reaches 1e9 (true at the 100 TB design point) and collisions
    # would silently undercount triangles.
    dx = deg.select(F.col("node").alias("x"),
                    F.col("deg").alias("degx"))
    dy = deg.select(F.col("node").alias("y"),
                    F.col("deg").alias("degy"))
    lt = ((F.col("degx") < F.col("degy"))
          | ((F.col("degx") == F.col("degy"))
             & (F.col("x") < F.col("y"))))
    # reused by the wedge pair AND the closure probe
    o = cache(pairs.join(dx, "x").join(dy, "y")
              .select(F.when(lt, F.col("x")).otherwise(F.col("y"))
                      .alias("u"),
                      F.when(lt, F.col("y")).otherwise(F.col("x"))
                      .alias("v")))
    ov = (o.join(deg.withColumnRenamed("node", "v"), "v")
          .select("u", "v", F.col("deg").alias("dv")))
    e1 = ov.select(F.col("u"), F.col("v").alias("b"),
                   F.col("dv").alias("db"))
    e2 = ov.select(F.col("u"), F.col("v").alias("c"),
                   F.col("dv").alias("dc"))
    closure = o.select(F.col("u").alias("b"), F.col("v").alias("c"))
    tri = (e1.join(e2, "u")
           .filter((F.col("db") < F.col("dc"))
                   | ((F.col("db") == F.col("dc"))
                      & (F.col("b") < F.col("c"))))
           .join(closure, ["b", "c"])
           .select(F.col("u").alias("a"), "b", "c"))
    corners = (tri.select(F.col("a").alias("part_key"))
               .unionAll(tri.select(F.col("b")))
               .unionAll(tri.select(F.col("c"))))
    return (
        corners.groupBy("part_key")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), F.asc("part_key")).limit(20)
    )


# ---------------------------------------------------------------------------
# Exact k-means assignment over embeddings (integer-scaled distances)

_KM_K = 8
_KM_SCALE = SIM.QUANT_SCALE  # 1e-6 units -> exact BIGINT L2^2


@query(
    "embedding_kmeans_assign",
    oracle=f"""
    WITH iv AS ({SIM.QUANT_IV_SQL}),
    cv AS (SELECT vec_id AS cid, i, q AS cq FROM iv
           WHERE vec_id < {_KM_K}),
    d AS (SELECT iv.vec_id, cv.cid,
                 CAST(sum((iv.q - cv.cq) * (iv.q - cv.cq)) AS BIGINT)
                     AS dist
          FROM iv JOIN cv USING (i) GROUP BY 1, 2),
    asgn AS (SELECT vec_id, cid, dist,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY dist, cid) AS rn
             FROM d)
    SELECT cid AS cluster,
           CAST(count(*) AS BIGINT) AS n_vectors,
           ROUND(CAST(sum(dist) AS DOUBLE) / count(*)
                 / {_KM_SCALE * _KM_SCALE}.0, {_R}) AS avg_sq_dist
    FROM asgn WHERE rn = 1
    GROUP BY 1 ORDER BY 1
    """,
    doc=f"exact k-means assignment: every embedding to its nearest of "
        f"{_KM_K} deterministic centroids (the lowest vec_ids) by "
        "squared L2 — components quantized to 1e-6 units so distances "
        "are exact BIGINTs and the argmin can NEVER flip on fp "
        "summation order (ties break by centroid id). The centroid "
        "table is k*dim rows — broadcast; the corpus explodes to "
        "(row, dim) pairs, aggregates locally, and shuffles only "
        "(vec, centroid, dist) triples. The semantic-clustering "
        "primitive behind cluster-balanced sampling; the Lloyd "
        "UPDATE step of this shape fits IVF (functions/similarity)",
    exchanges=4,
)
def embedding_kmeans_assign(spark, sf_dir):
    iv = SIM.quantized_components(table(spark, sf_dir, "embeddings"))
    cv = (iv.filter(F.col("vec_id") < _KM_K)
          .select(F.col("vec_id").alias("cid"), "i",
                  F.col("q").alias("cq")))
    d = (iv.join(F.broadcast(cv), "i")
         .groupBy("vec_id", "cid")
         .agg(F.sum((F.col("q") - F.col("cq"))
                    * (F.col("q") - F.col("cq"))).alias("dist")))
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy(F.col("cid").alias("cluster"))
        .agg(F.count(F.lit(1)).alias("n_vectors"),
             F.round(F.sum("dist").cast("double") / F.count(F.lit(1))
                     / (_KM_SCALE * _KM_SCALE), _R)
             .alias("avg_sq_dist"))
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# End-to-end corpus dedup pipeline: quality filter -> exact dedup ->
# MinHash+LSH near-dedup -> one-row corpus summary

_PIPE_QUAL = f"""
    tk AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    per AS (SELECT doc_id, tok, count(*) AS n FROM tk GROUP BY 1, 2),
    st AS (SELECT doc_id,
                  CAST(sum(n) AS BIGINT) AS n_tokens,
                  CAST(max(n) AS BIGINT) AS top_cnt,
                  CAST(sum(n * len(tok)) AS BIGINT) AS n_tok_chars
           FROM per GROUP BY 1),
    qual AS (SELECT d.doc_id, d.text, st.n_tokens
             FROM documents d JOIN st USING (doc_id)
             WHERE st.n_tokens BETWEEN {_QF_MIN_TOK} AND {_QF_MAX_TOK}
               AND CAST(st.n_tok_chars AS DOUBLE) / st.n_tokens
                   BETWEEN {_QF_MIN_WLEN} AND {_QF_MAX_WLEN}
               AND CAST(st.top_cnt AS DOUBLE) / st.n_tokens
                   < {_QF_TOP_FRAC})"""


@query(
    "corpus_dedup_pipeline",
    oracle=f"""
    WITH {_PIPE_QUAL},
    ex AS (SELECT min(doc_id) AS doc_id FROM qual
           GROUP BY md5(lower(trim(text)))),
    surv AS (SELECT q.doc_id, q.text, q.n_tokens
             FROM qual q JOIN ex USING (doc_id)),
    toks AS (SELECT doc_id, {_TOKS} AS t FROM surv),
    shing AS (SELECT doc_id, {_SHINGLES} AS sh FROM toks),
    hashes AS (SELECT doc_id,
                      list_transform(
                          sh, s -> {_h60_sql('s')} % {DD._MIX_P}) AS hs
               FROM shing),
    sigs AS (SELECT doc_id, {_minhash_sig_sql()} AS sig FROM hashes),
    bandrows AS (
      SELECT doc_id, sig, unnest({_band_struct_sql()},
                                 recursive := true)
      FROM sigs),
    dup AS (
      SELECT DISTINCT b.doc_id AS doc_b
      FROM bandrows a JOIN bandrows b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
      WHERE CAST(len(list_filter(range(1, {NUM_HASHES + 1}),
            i -> a.sig[i] = b.sig[i])) AS DOUBLE)
            / {NUM_HASHES}.0 >= 0.5),
    final AS (SELECT s.doc_id, s.n_tokens
              FROM surv s LEFT JOIN dup ON s.doc_id = dup.doc_b
              WHERE dup.doc_b IS NULL)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_input,
           (SELECT CAST(count(*) AS BIGINT) FROM qual) AS n_quality,
           (SELECT CAST(count(*) AS BIGINT) FROM surv) AS n_exact,
           CAST(count(*) AS BIGINT) AS n_final,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens_final
    FROM final
    """,
    doc="the complete cleaning pipeline as ONE lazy plan: "
        "Gopher-style quality rules -> exact dedup (min doc_id per "
        "content fingerprint) -> MinHash+LSH near-dedup (drop the "
        "higher id of every >=0.5-estimated-Jaccard pair) -> corpus "
        "summary. Every stage shuffles ids/fingerprints, never text "
        "bodies; near-dedup only runs on quality+exact survivors "
        "(each stage shrinks the next stage's input — the ordering a "
        "production pipeline uses for exactly this reason); the "
        "one-row funnel summary is the ingest-audit record a 100 TB "
        "run logs per shard. (The summary's keyless joins surface as "
        "broadcast nested-loop in the plan — each side is a 1-row "
        "aggregate by construction, the one place that shape is "
        "fine). Survivor-set caches are released after the 1-row "
        "funnel summary materializes (run_scoped, VERDICT r9 ask #3)",
    scoped=True,
    exchanges=14,
)
def _cdp_plan(spark, sf_dir, cache=lazy_cache):
    docs = table(spark, sf_dir, "documents")
    per = (
        docs.select("doc_id", F.explode(TX.tokens(F.col("text")))
                    .alias("tok"))
        .groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("n"))
    )
    st = per.groupBy("doc_id").agg(
        F.sum("n").alias("n_tokens"),
        F.max("n").alias("top_cnt"),
        F.sum(F.col("n") * F.length("tok")).alias("n_tok_chars"))
    wlen = F.col("n_tok_chars").cast("double") / F.col("n_tokens")
    top = F.col("top_cnt").cast("double") / F.col("n_tokens")
    qual = (docs.join(
        st.filter((F.col("n_tokens") >= _QF_MIN_TOK)
                  & (F.col("n_tokens") <= _QF_MAX_TOK)
                  & (wlen >= _QF_MIN_WLEN) & (wlen <= _QF_MAX_WLEN)
                  & (top < _QF_TOP_FRAC))
        .select("doc_id", "n_tokens"), "doc_id")
        .select("doc_id", "text", "n_tokens"))
    # qual and surv feed 2-3 downstream branches each (dedup stages +
    # the funnel counts): cache them EAGERLY so tokenization and the
    # exact-dedup join run once, deterministically, before the
    # funnel-count broadcasts consume them — at 100 TB these survivor
    # sets are what a pipeline checkpoints between stages anyway
    # (tools/ab_specs/cache_race.py quantifies the cache variants)
    qual = cache(qual, eager=True)
    ex = (qual.groupBy(F.md5(F.lower(F.trim(F.col("text")))))
          .agg(F.min("doc_id").alias("doc_id"))
          .select("doc_id"))
    surv = cache(qual.join(ex, "doc_id"), eager=True)
    dup = (DD.minhash_lsh_pairs(surv, num_hashes=NUM_HASHES,
                                bands=BANDS, threshold=0.5)
           .select(F.col("doc_b").alias("doc_id")).distinct())
    final = surv.join(dup, "doc_id", "left_anti")
    return (
        final.agg(F.count(F.lit(1)).alias("n_final"),
                  F.sum("n_tokens").alias("total_tokens_final"))
        .join(F.broadcast(
            docs.agg(F.count(F.lit(1)).alias("n_input"))))
        .join(F.broadcast(
            qual.agg(F.count(F.lit(1)).alias("n_quality"))))
        .join(F.broadcast(
            surv.agg(F.count(F.lit(1)).alias("n_exact"))))
        .select("n_input", "n_quality", "n_exact", "n_final",
                "total_tokens_final")
    )


# ---------------------------------------------------------------------------
# Per-group deterministic reservoir: a balanced k-per-group subset

_RES_K = 5


@query(
    "per_group_reservoir",
    oracle=f"""
    WITH r AS (
      SELECT lang, doc_id,
             row_number() OVER (
                 PARTITION BY lang
                 ORDER BY {_h60_sql("'res:' || CAST(doc_id AS VARCHAR)")},
                          doc_id) AS rank
      FROM documents)
    SELECT lang, doc_id, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= {_RES_K}
    ORDER BY lang, rank
    """,
    doc=f"deterministic per-group reservoir: the {_RES_K} docs per "
        "language with the smallest md5-derived priority — a "
        "reproducible balanced subset (eval slices, per-domain "
        "inspection samples) that is stable under repartitioning and "
        "appends-at-the-end, unlike rand()-based reservoirs. The "
        "window needs only (lang, doc_id, hash) — ids and hashes "
        "shuffle, text bodies never do; a TopK-per-key aggregate "
        "replaces the full sort when k is small",
    exchanges=2,
)
def per_group_reservoir(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    pri = h60(F.concat(F.lit("res:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(pri.asc(), F.col("doc_id"))
    return (
        docs.select("lang", "doc_id",
                    F.row_number().over(w).cast("bigint").alias("rank"))
        .filter(F.col("rank") <= _RES_K)
        .orderBy("lang", "rank")
    )


# ---------------------------------------------------------------------------
# Salted two-stage aggregation (hot-key skew pattern), exact result

_SALT_N = 16


@query(
    "salted_hot_key_agg",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           ROUND(CAST(sum(CAST(ROUND(value * 100) AS BIGINT))
                      AS DOUBLE) / 100.0, 6) AS sum_value
    FROM events GROUP BY 1 ORDER BY 1
    """,
    doc=f"skew-safe aggregation: stage 1 groups by (key, salt) with a "
        f"deterministic {_SALT_N}-way salt so a hot key's rows spread "
        "across all partitions, stage 2 merges the partials per key — "
        "bit-identical to the plain groupBy (the oracle) because the "
        "per-row values are integer cents, so partial-sum order can't "
        "change the total. This is THE pattern for power-law keys at "
        "100 TB when map-side combine alone can't absorb the skew "
        "(e.g. high-cardinality payloads under the hot key)",
    exchanges=3,
)
def salted_hot_key_agg(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    salt = F.pmod(F.col("event_id"), F.lit(_SALT_N))
    partial = (
        ev.select("event_type", salt.alias("salt"),
                  cents.alias("cents"))
        .groupBy("event_type", "salt")
        .agg(F.count(F.lit(1)).alias("pn"), F.sum("cents").alias("pc"))
    )
    return (
        partial.groupBy("event_type")
        .agg(F.sum("pn").alias("n_events"),
             F.round(F.sum("pc").cast("double") / 100.0, _R)
             .alias("sum_value"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Overlapping token-window chunking (RAG / pretraining context windows)

_CH_SIZE, _CH_STRIDE = 32, 24


@query(
    "doc_chunking",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    nz AS (SELECT doc_id, toks, len(toks) AS n FROM tk WHERE len(toks) > 0),
    ch AS (SELECT doc_id, n,
                  unnest(generate_series(0, n - 1, {_CH_STRIDE}))
                      AS start
           FROM nz),
    sl AS (SELECT c.doc_id, c.start,
                  nz.toks[c.start + 1 : c.start + {_CH_SIZE}] AS ctoks
           FROM ch c JOIN nz ON nz.doc_id = c.doc_id)
    SELECT doc_id,
           CAST(start // {_CH_STRIDE} AS BIGINT) AS chunk_id,
           CAST(len(ctoks) AS BIGINT) AS n_chunk_tokens,
           array_to_string(ctoks, ' ') AS chunk_text
    FROM sl ORDER BY doc_id, chunk_id
    """,
    doc=f"overlapping token-window chunking: each document split into "
        f"{_CH_SIZE}-token windows every {_CH_STRIDE} tokens "
        f"({_CH_SIZE - _CH_STRIDE}-token overlap so no boundary context "
        "is lost) — the chunking stage in front of embedding / RAG "
        "indexing and fixed-context pretraining. One tokenize + one "
        "sequence-explode + slice, all JVM array functions; chunk rows "
        "inherit the parent's partitioning so at 100 TB this is a "
        "narrow map stage with NO shuffle (the ORDER BY here is only "
        "the oracle's canonical presentation)",
    exchanges=1,
)
def doc_chunking(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    tk = docs.select("doc_id", TX.tokens(F.col("text")).alias("toks"))
    nz = tk.filter(F.size("toks") > 0).withColumn("n", F.size("toks"))
    ch = nz.select(
        "doc_id", "toks",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1,
                             F.lit(_CH_STRIDE))).alias("start"))
    ctoks = F.slice(F.col("toks"), F.col("start") + 1, _CH_SIZE)
    return (
        ch.select(
            "doc_id",
            (F.col("start") / _CH_STRIDE).cast("bigint").alias("chunk_id"),
            F.size(ctoks).cast("bigint").alias("n_chunk_tokens"),
            F.concat_ws(" ", ctoks).alias("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    )


# ---------------------------------------------------------------------------
# Temperature-scaled mixture sampling (the LLM data-mixing rate rule)

_TM_ALPHA_SQL = "0.5"   # temperature alpha: weight ~ n^alpha
_TM_TOTAL = 500


@query(
    "temperature_mixture_sample",
    oracle=f"""
    WITH sz AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
                FROM events GROUP BY 1),
    wt AS (SELECT event_type, n, pow(CAST(n AS DOUBLE), {_TM_ALPHA_SQL})
               AS w FROM sz),
    quota AS (SELECT event_type, n,
                     CAST(ROUND({_TM_TOTAL} * w
                                / (SELECT sum(w) FROM wt)) AS BIGINT)
                         AS n_quota
              FROM wt),
    rk AS (SELECT event_type, event_id,
                  row_number() OVER (
                      PARTITION BY event_type
                      ORDER BY {_h60_sql("CAST(event_id AS VARCHAR)")},
                               event_id) AS rk
           FROM events)
    SELECT r.event_type, r.event_id, CAST(r.rk AS BIGINT) AS rk,
           q.n_quota
    FROM rk r JOIN quota q USING (event_type)
    WHERE r.rk <= q.n_quota
    ORDER BY r.event_type, r.rk
    """,
    doc="temperature-scaled mixture sampling (the multilingual/"
        "multi-source LLM data-mixing rule, e.g. mC4/PaLM): stratum s "
        "gets quota ~ n_s^alpha with alpha=0.5, so small strata are "
        "UP-weighted relative to proportional sampling and huge strata "
        "can't drown them. Quotas derive from counts with the identical "
        "double expression on both engines; the within-stratum sample "
        "is the deterministic hash-rank prefix (md5-order, so it is a "
        "uniform sample independent of storage order, reproducible "
        "anywhere, and incrementally stable as new data appends). At "
        "100 TB: one count aggregate, one window partitioned by "
        "stratum — no global sort, no collect",
    exchanges=5,
)
def temperature_mixture_sample(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    sz = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    wt = sz.withColumn("w", F.pow(F.col("n").cast("double"), 0.5))
    tot = wt.agg(F.sum("w").alias("sw"))
    quota = (wt.crossJoin(F.broadcast(tot))
             .select("event_type",
                     F.round(_TM_TOTAL * F.col("w") / F.col("sw"))
                     .cast("bigint").alias("n_quota")))
    wr = Window.partitionBy("event_type").orderBy(
        h60(F.col("event_id").cast("string")), "event_id")
    rk = ev.select("event_type", "event_id",
                   F.row_number().over(wr).cast("bigint").alias("rk"))
    return (
        rk.join(F.broadcast(quota), "event_type")
        .filter(F.col("rk") <= F.col("n_quota"))
        .select("event_type", "event_id", "rk", "n_quota")
        .orderBy("event_type", "rk")
    )


# ---------------------------------------------------------------------------
# Deterministic negative sampling (contrastive-training prep)

_NEG_K = 3


@query(
    "negative_sampling",
    oracle=f"""
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    anchors AS (SELECT doc_id FROM documents),
    cand AS (
      SELECT a.doc_id, j,
             {_h60_sql("CAST(a.doc_id AS VARCHAR) || ':' || "
                       "CAST(j AS VARCHAR)")} % n.n_docs AS pick
      FROM anchors a
      CROSS JOIN (SELECT unnest(generate_series(0, {_NEG_K - 1})) AS j)
      CROSS JOIN n)
    SELECT c.doc_id, CAST(c.j AS BIGINT) AS neg_slot,
           CAST(CASE WHEN c.pick = c.doc_id
                THEN (c.pick + 1) % n.n_docs
                ELSE c.pick END AS BIGINT) AS negative_id
    FROM cand c CROSS JOIN n
    ORDER BY c.doc_id, neg_slot
    """,
    doc=f"deterministic negative sampling: every anchor document draws "
        f"{_NEG_K} pseudo-random negatives via md5-hash positions mod "
        "corpus size (self-draws wrap to the next id) — the "
        "contrastive-training pair generator, reproducible on any "
        "engine/partitioning with NO stored RNG state. The corpus "
        "size is the only broadcast; candidates are a narrow "
        "projection fan-out, no shuffle beyond the presentation sort. "
        "Docs-table ids are dense 0..n-1 here; a sparse-id corpus "
        "would first build a position index (global_shuffle_rank)",
    exchanges=2,
)
def negative_sampling(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    slots = F.explode(F.sequence(F.lit(0), F.lit(_NEG_K - 1))).alias("j")
    cand = (docs.select("doc_id").select("doc_id", slots)
            .crossJoin(F.broadcast(n)))
    pick = h60(F.concat_ws(":", F.col("doc_id"), F.col("j"))) % F.col(
        "n_docs")
    neg = F.when(pick == F.col("doc_id"),
                 (pick + 1) % F.col("n_docs")).otherwise(pick)
    return (cand.select("doc_id", F.col("j").cast("bigint")
                        .alias("neg_slot"),
                        neg.cast("bigint").alias("negative_id"))
            .orderBy("doc_id", "neg_slot"))


# ---------------------------------------------------------------------------
# Round 4: weighted sampling without replacement (Efraimidis-Spirakis)

_ES_K = 20
_ES_DEN = (1 << 60) + 1  # h60 in [0, 2^60) -> u = (h+1)/_ES_DEN in (0,1)


@query(
    "weighted_sample_es",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
             ROUND(ln((CAST({_h60_sql("'es:' || CAST(doc_id AS VARCHAR)")}
                       AS DOUBLE) + 1) / {_ES_DEN}.0)
                   / n_chars, 9) AS es_key
      FROM documents WHERE n_chars > 0)
    SELECT doc_id, weight, es_key
    FROM keyed ORDER BY es_key DESC, doc_id LIMIT {_ES_K}
    """,
    doc=f"weighted sampling WITHOUT replacement (Efraimidis-Spirakis "
        f"2006): top {_ES_K} docs by ln(u)/w where u derives from the "
        "60-bit md5 of the doc id and w = n_chars — equivalent to "
        "ranking by u^(1/w), so inclusion probability is proportional "
        "to weight, yet fully deterministic and reproducible across "
        "engines, partitionings, and reruns. One projection + "
        "TakeOrderedAndProject: at 100 TB every partition offers its "
        "local top-k and only k rows travel — the same reservoir the "
        "per-partition A-ExpJ variant maintains, with no RNG state",
    # pure projection + top-k
    exchanges=0,
)
def weighted_sample_es(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").filter(
        F.col("n_chars") > 0)
    u = ((h60(F.concat(F.lit("es:"),
                       F.col("doc_id").cast("string")))
          .cast("double") + 1) / float(_ES_DEN))
    keyed = docs.select(
        "doc_id", F.col("n_chars").cast("bigint").alias("weight"),
        F.round(F.log(u) / F.col("n_chars"), 9).alias("es_key"))
    return (keyed.orderBy(F.desc("es_key"), "doc_id").limit(_ES_K)
            .select("doc_id", "weight", "es_key"))


# --- Item-item collaborative filtering (co-purchase Jaccard top-k) ----------

_CF_TOPK = 5


@query(
    "item_item_similarity",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem),
    n AS (SELECT p, CAST(count(*) AS BIGINT) AS n FROM op GROUP BY 1),
    pair AS (SELECT a.p AS x, b.p AS y,
                    CAST(count(*) AS BIGINT) AS inter
             FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p
             GROUP BY 1, 2),
    j AS (SELECT x, y, inter,
                 CAST(nx.n + ny.n - inter AS BIGINT) AS uni
          FROM pair JOIN n nx ON nx.p = x JOIN n ny ON ny.p = y),
    r AS (SELECT x, y, inter, uni,
                 row_number() OVER (
                     PARTITION BY x
                     ORDER BY CAST(inter AS DOUBLE) / uni DESC, y)
                     AS rk
          FROM j)
    SELECT x AS part_key, y AS neighbor_key, inter AS n_common,
           uni AS n_union,
           ROUND(CAST(inter AS DOUBLE) / uni, 6) AS jaccard,
           CAST(rk AS BIGINT) AS rank
    FROM r WHERE rk <= {_CF_TOPK} ORDER BY part_key, rank
    """,
    doc=f"item-item collaborative filtering: for every part, the top "
        f"{_CF_TOPK} most-similar parts by Jaccard over the sets of "
        "orders that contain them. Co-occurrence counts come from the "
        "basket-bounded self-join on l_orderkey (an order has O(1) "
        "lines, so the join fans out quadratically in BASKET size, "
        "never corpus size — the inverted-index shape; a hot-basket "
        "df-cutoff slots in like dedup_ngram_jaccard_capped if "
        "baskets were unbounded). Jaccard = inter/(nx+ny-inter) on "
        "exact BIGINTs; ranking compares the identical IEEE double in "
        "both engines with an id tie-break, and the per-item top-k "
        "window is partitioned by item — no global sort anywhere",
    exchanges=9,
)
def item_item_similarity(spark, sf_dir):
    op = (table(spark, sf_dir, "lineitem")
          .select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("p"))
          .distinct())
    n = op.groupBy("p").agg(F.count(F.lit(1)).alias("n"))
    a = op.select(F.col("o"), F.col("p").alias("x"))
    b = op.select(F.col("o").alias("o2"), F.col("p").alias("y"))
    pair = (a.join(b, (a.o == b.o2) & (F.col("x") != F.col("y")))
            .groupBy("x", "y").agg(F.count(F.lit(1)).alias("inter")))
    j = (pair
         .join(n.select(F.col("p").alias("x"),
                        F.col("n").alias("nx")), "x")
         .join(n.select(F.col("p").alias("y"),
                        F.col("n").alias("ny")), "y")
         .select("x", "y", "inter",
                 (F.col("nx") + F.col("ny") - F.col("inter"))
                 .alias("uni")))
    sim = F.col("inter").cast("double") / F.col("uni")
    w = Window.partitionBy("x").orderBy(F.desc(sim), "y")
    return (j.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _CF_TOPK)
            .select(F.col("x").alias("part_key"),
                    F.col("y").alias("neighbor_key"),
                    F.col("inter").alias("n_common"),
                    F.col("uni").alias("n_union"),
                    F.round(sim, 6).alias("jaccard"),
                    F.col("rk").cast("bigint").alias("rank"))
            .orderBy("part_key", "rank"))


# --- Single-source hop distance (BFS over the co-purchase graph) ------------

_BFS_SRC = 1       # part keys are 1..N in every TPC-H generation
_BFS_MAX_HOPS = 6


@query(
    "sssp_copurchase",
    oracle=f"""
    WITH RECURSIVE op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS MATERIALIZED (SELECT a.p AS x, b.p AS y
          FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p),
    walk(node, dist) AS (
      SELECT CAST({_BFS_SRC} AS BIGINT), 0
      UNION
      SELECT e.y, w.dist + 1
      FROM walk w JOIN e ON e.x = w.node
      WHERE w.dist < {_BFS_MAX_HOPS})
    SELECT node AS part_key, CAST(min(dist) AS BIGINT) AS hop_dist
    FROM walk GROUP BY node ORDER BY part_key
    """,
    doc=f"single-source shortest path (unit weights = BFS hop "
        f"distance, <= {_BFS_MAX_HOPS} hops) from part {_BFS_SRC} "
        "over the co-purchase graph — the iterative-graph-algorithm "
        "slot next to pagerank and connected components. Spark runs "
        "frontier-based BFS: each round expands ONLY the newly "
        "settled frontier against the edge list (one functions/"
        "graph.superstep taking min(hop_dist + 1) per reached node) "
        "and anti-joins out already-settled nodes — per-round cost "
        "is O(frontier out-degree), the Pregel pattern, and a "
        "settled node is never re-expanded. Cache lifecycle "
        "(run_scoped, the graph hold rule): the edge list is one "
        "eager cache; each frontier is held because the loop tests "
        "it for emptiness and the next round reads it, each distance "
        "union because the next round reads it twice; all are "
        "released when the result materializes. The oracle is a "
        "DuckDB recursive CTE whose UNION-dedup bounds tuples by "
        "nodes x hops. Both sides compute the identical min-hop map",
)
def sssp_copurchase(spark, sf_dir):
    return run_scoped(spark, sf_dir, _sssp_build)


def _sssp_build(spark, sf_dir, cache):
    li = (table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey"))
    edges = leased_copurchase_edges(cache, sf_dir, li, "src", "dst")
    dist = spark.createDataFrame([(_BFS_SRC, 0)],
                                 "node long, hop_dist long")
    frontier = dist
    for _ in range(_BFS_MAX_HOPS):
        nxt = cache(GR.superstep(frontier, edges,
                                 F.min(F.col("hop_dist") + 1)
                                 .alias("hop_dist"))
                    .join(dist, "node", "left_anti"))
        if nxt.isEmpty():
            break
        dist = cache(dist.unionByName(nxt))
        frontier = nxt
    return (dist.select(F.col("node").alias("part_key"), "hop_dist")
            .orderBy("part_key"))


@query(
    "sorted_neighborhood_pairs",
    oracle="""
    WITH docs AS (
      SELECT doc_id, n_chars,
             regexp_replace(text, '[^\\x00-\\x7F]', '', 'g') AS t
      FROM documents),
    ranked AS (
      SELECT doc_id, n_chars, t,
             CAST(row_number() OVER (
               ORDER BY substr(t, 1, 12), n_chars, doc_id)
               AS BIGINT) AS r
      FROM docs),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(b.r - a.r AS BIGINT) AS rank_gap,
             CAST(abs(b.n_chars - a.n_chars) AS BIGINT) AS chars_diff,
             CAST(levenshtein(substr(a.t, 1, 40), substr(b.t, 1, 40))
                  AS BIGINT) AS lev40
      FROM ranked a JOIN ranked b ON b.r - a.r BETWEEN 1 AND 3)
    SELECT doc_a, doc_b, rank_gap, chars_diff, lev40
    FROM pairs WHERE lev40 <= 20
    ORDER BY doc_a, doc_b
    """,
    doc="sorted-neighborhood method (SNM) for entity-resolution "
        "blocking — the classic alternative to LSH banding: sort the "
        "corpus by a blocking key (12-char text prefix, then length, "
        "then id) and compare each record only with its w=3 "
        "successors in that order, verifying candidates with a "
        "bounded edit distance (levenshtein on 40-char prefixes, "
        "identical DP on both engines over ascii-stripped text). The "
        "sort is the two-phase global_rank (bucket = 2-char prefix), "
        "never a single-task ORDER BY, and the neighbor join is an "
        "EQUALITY join on rank+offset (offsets exploded from a 3-"
        "element literal array), so the plan is shuffle-hash-"
        "joinable at any scale: O(w*n) candidate pairs by "
        "construction instead of the all-pairs quadratic",
    exchanges=7,
)
def sorted_neighborhood_pairs(spark, sf_dir):
    from ..functions.multimodal import ascii_text
    from ..operators.ranking import global_rank

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", ascii_text(F.col("text")).alias("t"))
    ranked = global_rank(
        docs, F.substring(F.col("t"), 1, 2),
        [F.substring(F.col("t"), 1, 12), F.col("n_chars"),
         F.col("doc_id")], rank_col="r")
    # each record meets its w=3 successors via an EQUALITY key:
    # left emits (r_a + off) for off in 1..3, right keys on its own r
    left = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_chars").alias("nc_a"),
        F.col("t").alias("t_a"),
        F.col("r").alias("r_a"),
        F.explode(F.array(*[F.col("r") + i for i in (1, 2, 3)]))
        .alias("rj"))
    right = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_chars").alias("nc_b"),
        F.col("t").alias("t_b"),
        F.col("r").alias("rj"))
    pairs = left.join(right, "rj").select(
        "doc_a", "doc_b",
        (F.col("rj") - F.col("r_a")).cast("bigint").alias("rank_gap"),
        F.abs(F.col("nc_b") - F.col("nc_a")).cast("bigint")
        .alias("chars_diff"),
        F.levenshtein(F.substring("t_a", 1, 40),
                      F.substring("t_b", 1, 40))
        .cast("bigint").alias("lev40"))
    return (pairs.filter(F.col("lev40") <= 20)
            .orderBy("doc_a", "doc_b"))


# ---------------------------------------------------------------------------
# Deletion-neighborhood blocking (the SymSpell/FastSS trick): two
# strings are within edit distance 1 only if they share a key in
# {s} ∪ {s minus one char}. Content-derived keys — no attribute block
# (fuzzy_part_pairs), no global sort (sorted_neighborhood_pairs) —
# the third blocking strategy of the ER family.


def _edit1_verified_name_pairs(names):
    """Verified edit-distance-1 name pairs (na < nb) at DISTINCT-NAME
    grain via deletion-neighborhood (SymSpell/FastSS) blocking —
    shared by the pair expansion and its blow-up audit so the audit
    profiles exactly the candidate set the expansion would join."""
    dels = F.expr(
        "transform(sequence(1, length(nm)), i -> "
        "concat(substring(nm, 1, i - 1), substring(nm, i + 1)))")
    keys = names.select(
        "nm", F.explode(F.array_distinct(
            F.concat(F.array(F.col("nm")), dels))).alias("k"))
    a = keys.select(F.col("nm").alias("na"), "k")
    b = keys.select(F.col("nm").alias("nb"), "k")
    # na < nb excludes equal names, so a surviving pair has dist
    # exactly 1 (deletion keys guarantee dist <= 1 candidates only
    # over-generate, never under)
    return (a.join(b, "k")
            .filter(F.col("na") < F.col("nb"))
            .select("na", "nb").distinct()
            .filter(F.levenshtein("na", "nb") <= 1))


@query(
    "edit1_deletion_neighborhood_pairs",
    bench=True,
    # the id-pair OUTPUT grows with duplication^2 by definition of
    # the operator (the candidate/verify stages are duplication-proof
    # at distinct-name grain; the expansion join is output-sized) —
    # declared exact-semantics so scale_path_total reports the gate
    # number without it while the headline keeps it (VERDICT r9
    # ask #4); edit1_pair_blowup_audit is the pre-flight twin
    tags=("exact_semantics",),
    oracle="""
    WITH keys AS (
      SELECT c_custkey AS id, c_name AS nm, c_name AS k FROM customer
      UNION
      SELECT c_custkey, c_name,
             concat(substr(c_name, 1, i - 1), substr(c_name, i + 1))
      FROM customer,
           unnest(generate_series(1, length(c_name))) AS t(i)),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             a.nm AS na, b.nm AS nb
      FROM keys a JOIN keys b ON a.k = b.k AND a.id < b.id)
    SELECT id_a, id_b,
           CAST(levenshtein(na, nb) AS BIGINT) AS dist
    FROM cand WHERE levenshtein(na, nb) <= 1
    ORDER BY id_a, id_b
    """,
    doc="edit-distance-1 pairs via deletion-neighborhood blocking "
        "(SymSpell / FastSS): every record emits len+1 keys — the "
        "string itself plus each single-character deletion — and two "
        "records can be within edit distance 1 ONLY if they share a "
        "key (equal / substitution / insert-delete all collide on a "
        "deletion), so candidate generation is a plain equality join "
        "on content-derived keys: no attribute block to choose "
        "(fuzzy_part_pairs), no global sort (sorted_neighborhood_"
        "pairs), no all-pairs product ever. Shared keys over-generate "
        "(two deletions at different positions can meet, e.g. "
        "transpositions at distance 2), so candidates are verified "
        "with one levenshtein call — identical DP on both engines — "
        "run per CANDIDATE, not per pair of records. Over customer "
        "names, whose serial structure makes one-digit variants "
        "genuine edit-1 neighbors. At 100 TB: keys are (len+1)x "
        "records shuffled once; per-key collision groups are bounded "
        "by how many records actually share a deletion — the "
        "blocking guarantee, same discipline as the MinHash bands",
    scoped=True,
    # r14: tightened 4 -> 3 — pre-sort union persisted (the sort
    # samples the cache, not a recomputed verify chain)
    exchanges=3,
)
def _e1_plan(spark, sf_dir, cache=lazy_cache):
    # Replan (round 9, measured): the original id-grain candidate
    # join ran 5.7s at sf0.1 but 497s at sf1 — 87x for 10x data —
    # because corpus duplication deepens every deletion-key bucket
    # (10 copies of each name -> 100x the join output and 100x the
    # levenshtein calls, on candidates that mostly REJECT). Candidate
    # generation + verification now run at DISTINCT-NAME grain
    # (invariant under duplication: sf1's 1.5M customers still carry
    # 150k distinct names), and only VERIFIED name pairs expand to id
    # pairs — work that is output-sized and therefore irreducible
    # (the id-pair result itself grows with duplication^2; that part
    # is the semantics, not the plan). Same result set: at any sf the
    # union below emits exactly the old filter's rows — names differ
    # => dist 1 via the verified-name-pair expansion; names equal
    # => dist 0 via the exact-name self-join branch.
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("nm"))
    npairs = _edit1_verified_name_pairs(cust.select("nm").distinct())
    ia = cust.select(F.col("nm").alias("na"), F.col("id").alias("ia"))
    ib = cust.select(F.col("nm").alias("nb"), F.col("id").alias("ib"))
    diff = (npairs.join(ia, "na").join(ib, "nb")
            .select(F.least("ia", "ib").alias("id_a"),
                    F.greatest("ia", "ib").alias("id_b"),
                    F.lit(1).cast("long").alias("dist")))
    same = (cust.select("nm", F.col("id").alias("ia"))
            .join(cust.select("nm", F.col("id").alias("ib")), "nm")
            .filter(F.col("ia") < F.col("ib"))
            .select(F.col("ia").alias("id_a"),
                    F.col("ib").alias("id_b"),
                    F.lit(0).cast("long").alias("dist")))
    # r14 replan (guide §2.4): the output sort's rangepartitioning
    # runs a SEPARATE range-bounds sampling job over its child before
    # the shuffle writes — with an uncached child that re-ran the
    # whole post-exchange narrow chain (the 262k-candidate
    # levenshtein verify + both expansion joins at sf0.1) a second
    # time. Measured: union alone 5.0s, union+sort 10.0s at sf0.1.
    # Persisting the pre-sort relation makes the sampling pass
    # materialize it once and the sort shuffle read it back; rows
    # identical, one exchange count unchanged.
    return cache(diff.unionByName(same)).orderBy("id_a", "id_b")


# Blow-up audit (VERDICT r9 ask #7): the expansion join above is
# output-sized BY SEMANTICS — a pathological corpus (one name shared
# by 1M ids) makes the id-pair result 10^12 rows before any plan can
# help. This profile predicts that cardinality EXACTLY from name-grain
# statistics (the join_cardinality_profile precedent: sum over
# verified name pairs of mult(na)*mult(nb), plus sum of C(m,2) for the
# same-name branch) without ever running the expansion join — the
# pre-flight check a pipeline runs before committing the shuffle.

@query(
    "edit1_pair_blowup_audit",
    oracle="""
    WITH mult AS (
      SELECT c_name AS nm, CAST(count(*) AS BIGINT) AS m
      FROM customer GROUP BY 1),
    keys AS (
      SELECT nm, nm AS k FROM mult
      UNION
      SELECT nm, concat(substr(nm, 1, i - 1), substr(nm, i + 1))
      FROM mult,
           unnest(generate_series(1, length(nm))) AS t(i)),
    cand AS (
      SELECT DISTINCT a.nm AS na, b.nm AS nb
      FROM keys a JOIN keys b ON a.k = b.k AND a.nm < b.nm),
    v AS (SELECT na, nb FROM cand WHERE levenshtein(na, nb) <= 1),
    x AS (SELECT ma.m * mb.m AS contrib
          FROM v JOIN mult ma ON ma.nm = v.na
          JOIN mult mb ON mb.nm = v.nb)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM mult) AS n_names,
           (SELECT CAST(sum(m) AS BIGINT) FROM mult) AS n_ids,
           (SELECT CAST(max(m) AS BIGINT) FROM mult)
               AS max_name_mult,
           CAST(count(*) AS BIGINT) AS n_verified_name_pairs,
           CAST(COALESCE(sum(contrib), 0) AS BIGINT)
               AS diff_pairs_predicted,
           CAST(COALESCE(max(contrib), 0) AS BIGINT)
               AS top_name_pair_rows,
           (SELECT CAST(COALESCE(sum(m * (m - 1) // 2), 0) AS BIGINT)
            FROM mult) AS same_pairs_predicted
    FROM x
    """,
    doc="edit-1 expansion blow-up audit: predicts the EXACT id-pair "
        "cardinality of edit1_deletion_neighborhood_pairs from "
        "name-grain statistics alone — per-name multiplicity m, the "
        "shared verified name-pair generator (same helper, so the "
        "audit profiles exactly the candidate set the expansion "
        "would join), sum/max of mult(na)*mult(nb) for the dist-1 "
        "branch and sum C(m,2) for the same-name branch — without "
        "running the expansion join. A pathological corpus (one "
        "name x 1M ids -> 10^12 pairs) shows up here as "
        "same_pairs_predicted/top_name_pair_rows before the shuffle "
        "is committed, the join_cardinality_profile discipline "
        "applied to the ER family. All name-grain: the heaviest "
        "relation is (len+1) deletion keys per DISTINCT name, "
        "invariant under corpus duplication",
    scoped=True,
    # name-grain agg, key join, deletion-key self-join
    exchanges=4,
)
def _e1audit_plan(spark, sf_dir, cache=lazy_cache):
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("nm"))
    # name-grain multiplicity feeds three consumers (the summary agg
    # and both sides of the contribution join) — lazy cache: it is
    # name-domain-sized and lazy-persisted broadcast consumers
    # measure 1.0 lineage runs (tests/test_cache_lifecycle.py)
    mult = cache(cust.groupBy("nm")
                 .agg(F.count(F.lit(1)).cast("long").alias("m")))
    npairs = _edit1_verified_name_pairs(mult.select("nm"))
    x = (npairs
         .join(mult.select(F.col("nm").alias("na"),
                           F.col("m").alias("ma")), "na")
         .join(mult.select(F.col("nm").alias("nb"),
                           F.col("m").alias("mb")), "nb")
         .select((F.col("ma") * F.col("mb")).alias("contrib")))
    summary = mult.agg(
        F.count(F.lit(1)).cast("long").alias("n_names"),
        F.sum("m").cast("long").alias("n_ids"),
        F.max("m").cast("long").alias("max_name_mult"),
        F.sum(F.expr("m * (m - 1) DIV 2")).cast("long")
        .alias("same_pairs_predicted"))
    prof = x.agg(
        F.count(F.lit(1)).cast("long").alias("n_verified_name_pairs"),
        F.coalesce(F.sum("contrib"), F.lit(0)).cast("long")
        .alias("diff_pairs_predicted"),
        F.coalesce(F.max("contrib"), F.lit(0)).cast("long")
        .alias("top_name_pair_rows"))
    return (prof.join(F.broadcast(summary))
            .select("n_names", "n_ids", "max_name_mult",
                    "n_verified_name_pairs", "diff_pairs_predicted",
                    "top_name_pair_rows", "same_pairs_predicted"))


# ---------------------------------------------------------------------------
# CCNet-style boilerplate removal at chunk granularity

_BP_CHUNK, _BP_DF = 8, 4


@query(
    "boilerplate_chunk_removal",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    nz AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
    ch AS (SELECT doc_id,
                  unnest(generate_series(0, n - 1, {_BP_CHUNK})) AS s,
                  t, n
           FROM nz),
    chunks AS (
      SELECT doc_id, CAST(s // {_BP_CHUNK} AS BIGINT) AS cid,
             array_to_string(t[s + 1 : s + {_BP_CHUNK}], ' ') AS chunk,
             CAST(least({_BP_CHUNK}, n - s) AS BIGINT) AS ctoks
      FROM ch),
    df AS (SELECT chunk,
                  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
           FROM chunks GROUP BY 1),
    flagged AS (
      SELECT c.doc_id, c.cid, c.chunk, c.ctoks,
             df.n_docs >= {_BP_DF} AS boiler
      FROM chunks c JOIN df USING (chunk))
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CAST(boiler AS BIGINT)) AS BIGINT) AS n_boiler,
           CAST(coalesce(sum(ctoks) FILTER (WHERE NOT boiler), 0)
                AS BIGINT) AS kept_tokens,
           md5(coalesce(string_agg(chunk, ' ' ORDER BY cid)
                        FILTER (WHERE NOT boiler), '')) AS kept_md5
    FROM flagged GROUP BY doc_id ORDER BY doc_id
    """,
    doc=f"CCNet-style boilerplate removal: documents are cut into "
        f"non-overlapping {_BP_CHUNK}-token chunks; any chunk whose "
        f"exact text recurs in >= {_BP_DF} distinct documents "
        "(headers, licence blocks, nav text) is dropped, and the doc "
        "reassembles from the surviving chunks in order (kept_md5 "
        "fingerprints the reassembly so the oracle checks the full "
        "edit, not just counts). Chunking is the shuffle-free "
        "posexplode + lead-window build (concat_ws skips the NULL "
        "leads past the doc end, so ragged tail chunks need no "
        "special case); the chunk-frequency relation groups by the "
        "same chunk text the rejoin hashes on. At 100 TB the df "
        "relation is |distinct chunks| and the per-doc reassembly "
        "state is bounded by doc length — nothing global. "
        "ref main.py has no corpus ops; this extends the LLM-pipeline "
        "family (CCNet: Wenzek et al., arXiv:1911.00359)",
    exchanges=4,
)
def boilerplate_chunk_removal(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.posexplode(TX.tokens(F.col("text")))
        .alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    w_all = Window.partitionBy("doc_id")
    chunk = F.concat_ws(
        " ", F.col("tok"),
        *[F.lead("tok", i).over(w) for i in range(1, _BP_CHUNK)])
    chunks = (base
              .withColumn("n", F.count(F.lit(1)).over(w_all))
              .withColumn("chunk", chunk)
              .filter(F.col("pos") % _BP_CHUNK == 0)
              .select("doc_id",
                      (F.col("pos") / _BP_CHUNK).cast("bigint")
                      .alias("cid"),
                      "chunk",
                      F.least(F.lit(_BP_CHUNK),
                              F.col("n") - F.col("pos"))
                      .cast("bigint").alias("ctoks")))
    df = (chunks.groupBy("chunk")
          .agg(F.countDistinct("doc_id").alias("n_docs")))
    flagged = chunks.join(df, "chunk").withColumn(
        "boiler", F.col("n_docs") >= _BP_DF)
    kept = F.when(~F.col("boiler"),
                  F.struct(F.col("cid"), F.col("chunk")))
    return (flagged.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.sum(F.col("boiler").cast("bigint")).alias("n_boiler"),
                 F.coalesce(
                     F.sum(F.when(~F.col("boiler"), F.col("ctoks"))),
                     F.lit(0)).cast("bigint").alias("kept_tokens"),
                 F.md5(F.concat_ws(" ", F.expr(
                     "transform(array_sort(collect_list("
                     "CASE WHEN NOT boiler THEN "
                     "struct(cid, chunk) END)), x -> x.chunk)")))
                 .alias("kept_md5"))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# Per-domain cap (source balancing before training)

_CAP_K = 8


@query(
    "domain_cap_sample",
    oracle=f"""
    WITH rk AS (
      SELECT source, doc_id, n_chars,
             row_number() OVER (
                 PARTITION BY source
                 ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)),
                          doc_id) AS rk
      FROM documents)
    SELECT source,
           CAST(count(*) AS BIGINT) AS total_docs,
           CAST(sum(CASE WHEN rk <= {_CAP_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS kept_docs,
           CAST(sum(CASE WHEN rk <= {_CAP_K} THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM rk GROUP BY source ORDER BY source
    """,
    doc=f"per-domain document cap (C4/RefinedWeb-style source "
        f"balancing): every source keeps at most {_CAP_K} documents, "
        "chosen by deterministic md5 rank so the sample is uniform, "
        "reproducible, independent of storage order, and STABLE under "
        "appends (a new doc only displaces the current max-rank "
        "survivor). One window partitioned by source — the same "
        "exchange the summary aggregate reuses; no global ordering "
        "anywhere. At 100 TB hot domains are exactly the point: the "
        "cap bounds any single domain's contribution to the corpus "
        "no matter how skewed the crawl",
    exchanges=2,
)
def domain_cap_sample(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("cap:"),
                       F.col("doc_id").cast("string"))), "doc_id")
    rk = docs.select("source", "n_chars",
                     F.row_number().over(w).alias("rk"))
    keep = (F.col("rk") <= _CAP_K).cast("bigint")
    return (rk.groupBy("source")
            .agg(F.count(F.lit(1)).alias("total_docs"),
                 F.sum(keep).alias("kept_docs"),
                 F.sum(F.col("n_chars") * keep).alias("kept_chars"))
            .orderBy("source"))


# ---------------------------------------------------------------------------
# Asymmetric n-gram containment (sub-document duplication)

_CT_N, _CT_MAXDF, _CT_THR = 5, 50, 0.5


@query(
    "ngram_containment_pairs",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    g AS (SELECT DISTINCT doc_id, unnest({_grams_sql(_CT_N)}) AS gram
          FROM toks),
    capped AS (
      SELECT doc_id, gram FROM (
        SELECT doc_id, gram,
               count(*) OVER (PARTITION BY gram) AS df_g
        FROM g) WHERE df_g <= {_CT_MAXDF}),
    counts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_g
               FROM capped GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS inter
      FROM capped a JOIN capped b
        ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, inter, ca.n_g AS n_a, cb.n_g AS n_b,
           CAST((2 * CAST(inter AS HUGEINT) * 1000000 + ca.n_g)
                // (2 * CAST(ca.n_g AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS cont_a,
           CAST((2 * CAST(inter AS HUGEINT) * 1000000 + cb.n_g)
                // (2 * CAST(cb.n_g AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS cont_b
    FROM pairs
    JOIN counts ca ON doc_a = ca.doc_id
    JOIN counts cb ON doc_b = cb.doc_id
    WHERE 2 * CAST(inter AS HUGEINT) >= least(ca.n_g, cb.n_g)
    ORDER BY doc_a, doc_b
    """,
    doc=f"asymmetric {_CT_N}-gram CONTAINMENT C(A,B) = |A n B| / |A| "
        "(and /|B|) over distinct word-gram sets — catches "
        "sub-document duplication (a doc wholly embedded in a longer "
        "one) that symmetric Jaccard scores low because the union is "
        "dominated by the longer doc. Same inverted-index discipline "
        f"as the Jaccard path: grams seen in > {_CT_MAXDF} docs are "
        "dropped BEFORE the self-join (the df window shares the "
        "join's gram exchange), so pair cost is sum df(g)^2 over "
        "surviving grams, never |docs|^2. The keep predicate "
        "2*inter >= min(n_a, n_b) is evaluated in exact integers; "
        "the reported ratios are single integer divisions rounded "
        "half-away in DECIMAL(38)/HUGEINT",
    exchanges=12,
)
def ngram_containment_pairs(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    from .training_ops import _gram_rows
    g = _gram_rows(docs, _CT_N).select(
        "doc_id", F.col("gram")).distinct()
    dfw = Window.partitionBy("gram")
    capped = (g.withColumn("df_g", F.count(F.lit(1)).over(dfw))
              .filter(F.col("df_g") <= _CT_MAXDF).drop("df_g"))
    counts = capped.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_g"))
    a, b = capped.alias("a"), capped.alias("b")
    pairs = (a.join(b, (F.col("a.gram") == F.col("b.gram"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("inter")))
    ca = counts.select(F.col("doc_id").alias("doc_a"),
                       F.col("n_g").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"),
                       F.col("n_g").alias("n_b"))
    return (pairs.join(F.broadcast(ca), "doc_a")
            .join(F.broadcast(cb), "doc_b")
            .filter(2 * F.col("inter")
                    >= F.least(F.col("n_a"), F.col("n_b")))
            .select("doc_a", "doc_b", "inter", "n_a", "n_b",
                    ratio_round6(F.col("inter"), F.col("n_a"))
                    .alias("cont_a"),
                    ratio_round6(F.col("inter"), F.col("n_b"))
                    .alias("cont_b"))
            .orderBy("doc_a", "doc_b"))


# ---------------------------------------------------------------------------
# k-core decomposition (fixed-round peel) over the co-purchase graph

_KC_K, _KC_ROUNDS = 3, 6


def _kcore_ctes(k: int, rounds: int) -> str:
    """e0 (the distinct co-purchase edge set) + ``rounds`` unrolled
    peel iterations: drop nodes with degree < k, keep edges whose
    endpoints both survive."""
    parts = ["""
    e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey)"""]
    for t in range(rounds):
        parts.append(f""",
    d{t} AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS deg
             FROM (SELECT u AS node FROM e{t}
                   UNION ALL SELECT v FROM e{t})
             GROUP BY 1),
    keep{t} AS MATERIALIZED (SELECT node FROM d{t} WHERE deg >= {k}),
    e{t + 1} AS MATERIALIZED (SELECT e.u, e.v FROM e{t} e
                 JOIN keep{t} ku ON e.u = ku.node
                 JOIN keep{t} kv ON e.v = kv.node)""")
    return "".join(parts)


@query(
    "k_core_membership",
    oracle=f"""
    WITH {_kcore_ctes(_KC_K, _KC_ROUNDS)}
    SELECT node AS part_key, deg AS core_degree
    FROM (SELECT node, CAST(count(*) AS BIGINT) AS deg
          FROM (SELECT u AS node FROM e{_KC_ROUNDS}
                UNION ALL SELECT v FROM e{_KC_ROUNDS})
          GROUP BY 1)
    WHERE deg >= {_KC_K}
    ORDER BY core_degree DESC, part_key LIMIT 50
    """,
    doc=f"{_KC_K}-core of the part co-purchase graph via "
        f"{_KC_ROUNDS} unrolled peel rounds (drop degree<{_KC_K} "
        "nodes, prune their edges, repeat) — the density backbone "
        "used for community seeds and graph cleanup before "
        "embedding. Fixed-round semantics keep the operator "
        "replayable as pure SQL on both engines; extra rounds after "
        "convergence are no-ops, and convergence ON the data is "
        "asserted by an independent python peel in "
        "tests/test_corpus_ops.py. The edge list is the graph "
        "family's one-scan ordered build (queries."
        "leased_copurchase_edges). Every round is degree-agg + two "
        "semi-joins on node id — the same bounded equi-join "
        "discipline as the triangle/PageRank family; at 100 TB each "
        "round's edge relation only shrinks, and the peel would run "
        "as the usual iterate-with-localCheckpoint loop "
        "(functions/dedup.connected_components) with a convergence "
        "test instead of a fixed count",
)
def k_core_membership(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                 "l_partkey")
    edges = leased_copurchase_edges(lazy_cache, sf_dir, li, "u", "v",
                                    ordered=True)
    # each round references the edge relation three times (two degree
    # legs + the prune join): without a lineage break the logical plan
    # grows 3^rounds and the optimizer, not the data, becomes the
    # bottleneck — same fix as functions/dedup.connected_components
    edges = edges.localCheckpoint(eager=False)
    for _ in range(_KC_ROUNDS):
        deg = (edges.select(F.col("u").alias("node"))
               .unionAll(edges.select(F.col("v").alias("node")))
               .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
        keep = deg.filter(F.col("deg") >= _KC_K).select("node")
        edges = (edges
                 .join(keep.withColumnRenamed("node", "u"), "u")
                 .join(keep.withColumnRenamed("node", "v"), "v")
                 .select("u", "v")
                 .localCheckpoint(eager=False))
    final_deg = (edges.select(F.col("u").alias("part_key"))
                 .unionAll(edges.select(F.col("v").alias("part_key")))
                 .groupBy("part_key")
                 .agg(F.count(F.lit(1)).alias("core_degree")))
    return (final_deg.filter(F.col("core_degree") >= _KC_K)
            .orderBy(F.desc("core_degree"), "part_key").limit(50))


# ---------------------------------------------------------------------------
# Temporal (time-respecting) reachability — the temporal-network
# sibling of the SSSP above: a part v is temporally reachable from the
# source iff there is a path whose co-purchase edge DATES never
# decrease (you cannot ride an edge that happened before you arrived).
# Earliest-arrival semantics: arrival(v) = min over such paths of the
# last edge's date. Dated edges = min o_orderdate per co-purchase
# pair; the hop loop is the same node-sized iteration as SSSP, with
# (date >= arrival) as an extra join predicate.

_TR_HOPS = 3


def _temporal_reach_oracle() -> str:
    steps = []
    for i in range(1, _TR_HOPS + 1):
        steps.append(f"""
    nxt{i} AS (
      SELECT e.y AS node, CAST(min(e.d) AS BIGINT) AS arr
      FROM arr{i - 1} a JOIN tedges e
        ON e.x = a.node AND e.d >= a.arr
      GROUP BY 1),
    arr{i} AS MATERIALIZED (
      SELECT node, CAST(min(arr) AS BIGINT) AS arr FROM (
        SELECT node, arr FROM arr{i - 1}
        UNION ALL SELECT node, arr FROM nxt{i}) u
      GROUP BY 1)""")
    return f"""
    WITH dated AS (
      SELECT l.l_partkey AS p, o.o_orderkey AS okey,
             CAST(epoch_us(o.o_orderdate) // 86400000000 AS BIGINT)
                 AS d
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
    tedges AS MATERIALIZED (
      SELECT a.p AS x, b.p AS y, CAST(min(a.d) AS BIGINT) AS d
      FROM dated a JOIN dated b
        ON a.okey = b.okey AND a.p <> b.p
      GROUP BY 1, 2),
    arr0 AS (SELECT CAST({_BFS_SRC} AS BIGINT) AS node,
                    CAST(0 AS BIGINT) AS arr),{','.join(steps)}
    SELECT node AS part_key, arr AS arrival_day
    FROM arr{_TR_HOPS} WHERE node <> {_BFS_SRC}
    ORDER BY part_key
    """


@query(
    "temporal_reachability_copurchase",
    oracle=_temporal_reach_oracle(),
    doc=f"time-respecting reachability over the DATED co-purchase "
        f"graph ({_TR_HOPS} hops from part {_BFS_SRC}): an edge is "
        "usable only on or after your arrival day, so influence can "
        "only flow forward in time — the temporal-network semantics "
        "static SSSP ignores (Holme & Saramäki 2012). Edge date = "
        "earliest order day the pair co-appeared (days since epoch, "
        "exact BIGINT); earliest-arrival is a min-fold, so the "
        "iteration is bit-deterministic and the oracle unrolls the "
        "same hops. Scale shape identical to sssp_copurchase: the "
        "dated edge list is one eager cache, each hop is one "
        "functions/graph.superstep (the d >= arrival predicate "
        "inside its min) + a node-sized min union, each union but "
        "the last is held because the next hop reads it twice, and "
        "run_scoped releases every cache when the result "
        "materializes; arrival state never exceeds one row per node",
    scoped=True,
    # dated edge build + per hop: the superstep's join and group
    # by dst, the union's min per node
    exchanges=9,
)
def _temporal_reach_plan(spark, sf_dir, cache=lazy_cache):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                 "l_partkey")
    odays = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        (F.unix_micros("o_orderdate") / 86400000000).cast("bigint")
        .alias("d"))
    # one-scan dated edge build: the shared collect_set+explode shape
    # with the order day attached at ORDER grain after the
    # aggregation, so lineitem is scanned once and the orders join
    # touches one row per order, not per lineitem
    tedges = leased_copurchase_edges(cache, sf_dir, li, "src", "dst",
                                     attrs=odays)
    arr = spark.createDataFrame([(_BFS_SRC, 0)], "node long, arr long")
    for hop in range(_TR_HOPS):
        # an edge is usable only on or after the arrival day: the
        # predicate lives in the aggregate, and a node reached only by
        # edges that happened too early gets a null and drops out
        usable = F.when(F.col("d") >= F.col("arr"), F.col("d"))
        nxt = (GR.superstep(arr, tedges, F.min(usable).alias("arr"))
               .filter(F.col("arr").isNotNull()))
        arr = (arr.unionByName(nxt)
               .groupBy("node").agg(F.min("arr").alias("arr")))
        # the next hop reads arr twice (its superstep and its union)
        arr = cache(arr) if hop < _TR_HOPS - 1 else arr
    return (arr.filter(F.col("node") != _BFS_SRC)
            .select(F.col("node").alias("part_key"),
                    F.col("arr").alias("arrival_day"))
            .orderBy("part_key"))


# ---------------------------------------------------------------------------
# Lloyd's k-means, multiple refinement iterations (not just the
# assignment step embedding_kmeans_assign pins): init from the
# lowest vec_ids, then ITERS rounds of exact-integer assign ->
# truncated-mean centroid update (sum DIV count, toward-zero on both
# engines), then a final assignment whose per-
# cluster sizes, objective, and first centroid component the driver
# hash pins. The canonical distributed-ML loop: per round one
# broadcast join (centroids are k*dim rows) + two node-sized
# aggregations, never an all-pairs anything.

_KML_ITERS = 2  # centroid refinement rounds after init


def _kml_oracle() -> str:
    prelude = f"""
    WITH iv AS MATERIALIZED ({SIM.QUANT_IV_SQL}),
    c0 AS (SELECT vec_id AS cid, i, q AS cq FROM iv
           WHERE vec_id < {_KM_K})"""
    steps = []
    for t in range(1, _KML_ITERS + 1):
        steps.append(f"""
    d{t} AS (SELECT iv.vec_id, c.cid,
                    CAST(sum((iv.q - c.cq) * (iv.q - c.cq))
                         AS BIGINT) AS dist
             FROM iv JOIN c{t - 1} c USING (i) GROUP BY 1, 2),
    a{t} AS (SELECT vec_id, cid FROM (
               SELECT vec_id, cid, row_number() OVER (
                 PARTITION BY vec_id ORDER BY dist, cid) AS rn
               FROM d{t}) WHERE rn = 1),
    c{t} AS MATERIALIZED (
      SELECT a.cid, iv.i,
             CAST(sum(iv.q) // count(*) AS BIGINT) AS cq
      FROM a{t} a JOIN iv ON iv.vec_id = a.vec_id
      GROUP BY 1, 2)""")
    t = _KML_ITERS
    return (prelude + "," + ",".join(steps) + f""",
    df AS (SELECT iv.vec_id, c.cid,
                  CAST(sum((iv.q - c.cq) * (iv.q - c.cq))
                       AS BIGINT) AS dist
           FROM iv JOIN c{t} c USING (i) GROUP BY 1, 2),
    af AS (SELECT vec_id, cid, dist FROM (
             SELECT vec_id, cid, dist, row_number() OVER (
               PARTITION BY vec_id ORDER BY dist, cid) AS rn
             FROM df) WHERE rn = 1)
    SELECT af.cid AS cluster,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(af.dist // {_KM_SCALE}) AS BIGINT)
               AS sum_sq_dist_u,
           CAST(min(cf.cq) AS BIGINT) AS centroid_dim1_q
    FROM af JOIN (SELECT cid, cq FROM c{t} WHERE i = 1) cf
      ON cf.cid = af.cid
    GROUP BY 1 ORDER BY 1
    """)


@query(
    "kmeans_lloyd_refinement",
    oracle=_kml_oracle(),
    doc=f"Lloyd's k-means with {_KML_ITERS} refinement iterations "
        f"(k={_KM_K}, init = lowest vec_ids): components quantized to "
        "1e-6-unit BIGINTs, assignment by exact integer squared L2 "
        "(ties to the lower centroid id), centroid update as the "
        "per-dimension truncated mean sum(q) DIV count (toward-zero "
        "on BOTH engines: DuckDB // and Spark DIV truncate, -7//2 = "
        "-3 — not true floor division; quantized sums CAN go "
        "negative, so don't 'fix' one side to floor) — every iterate "
        "is bit-identical on any engine or partition layout, which "
        "plain fp k-means never is. Output pins the final per-"
        "cluster size, the floor-scaled objective, and the first "
        "centroid component. At scale: centroids are k*dim rows of "
        "DRIVER state collected per round and re-broadcast as a "
        "literal relation (the MLlib k-means / pq-codebook design), "
        "so plan depth stays constant across iterations instead of "
        "nesting the previous round's subtree (the lazy form "
        "measured 16 planned exchanges at 2 rounds and doubles per "
        "round — the exponential-plan failure HITS hit); each round "
        "is one narrow join on the exploded (row, dim) relation plus "
        "a groupBy(vec) argmin and a groupBy(cid, dim) mean — "
        "shuffles carry (vec, cid, dist) triples, never vectors; the "
        f"exploded input is persisted once and reused by all "
        f"{_KML_ITERS + 1} assignment joins, then released once the "
        "per-cluster result materializes (run_scoped)",
    scoped=True,
    # centroids ride as driver state between rounds, so the
    # plan is ONE assignment — constant depth per iteration
    exchanges=4,
)
def _kml_plan(spark, sf_dir, cache=lazy_cache):
    iv = cache(SIM.quantized_components(table(spark, sf_dir, "embeddings")))
    # Centroids live on the driver between rounds (k*dim rows, KBs —
    # the MLlib k-means design and this repo's codebook precedent,
    # functions/pq.py): each round's plan references a LITERAL
    # centroid relation instead of nesting the previous round's
    # subtree, so plan depth stays constant across iterations
    # instead of doubling per round.
    cent = [(r.cid, r.i, r.cq) for r in
            iv.filter(F.col("vec_id") < _KM_K)
            .select(F.col("vec_id").alias("cid"), "i",
                    F.col("q").alias("cq")).collect()]

    def cdf(rows):
        return spark.createDataFrame(rows, "cid long, i long, cq long")

    def assign(cent_rows):
        d = (iv.join(F.broadcast(cdf(cent_rows)), "i")
             .groupBy("vec_id", "cid")
             .agg(F.sum((F.col("q") - F.col("cq"))
                        * (F.col("q") - F.col("cq"))).alias("dist")))
        w = Window.partitionBy("vec_id").orderBy("dist", "cid")
        return (d.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("vec_id", "cid", "dist"))

    for _ in range(_KML_ITERS):
        a = assign(cent)
        cent = [(r.cid, r.i, r.cq) for r in
                a.join(iv, "vec_id")
                .groupBy("cid", "i")
                .agg(F.expr("sum(q) DIV count(1)").cast("bigint")
                     .alias("cq")).collect()]
    af = assign(cent)
    cf = (cdf(cent).filter(F.col("i") == 1)
          .select("cid", F.col("cq").alias("centroid_dim1_q")))
    return (af.groupBy("cid")
            .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"),
                 F.sum(F.expr(f"dist DIV {_KM_SCALE}")).cast("long")
                 .alias("sum_sq_dist_u"))
            .join(F.broadcast(cf), "cid")
            .select(F.col("cid").alias("cluster"), "n_vectors",
                    "sum_sq_dist_u", "centroid_dim1_q")
            .orderBy("cluster"))


# ---------------------------------------------------------------------------
# URL canonicalization + per-domain dedup-rate profiling (VERDICT r12
# ask #6: the Common-Crawl curation op the corpus family lacked). The
# documents table carries no URL column, so a deterministic raw URL is
# synthesized per doc from doc_id ALONE — identically on both engines,
# so the oracle gate checks the CANONICALIZATION, not the synthesis:
# page identity pid = doc_id // 16 fixes host/path/query values, and
# the per-doc variant v (0..15, modulo a per-page variant count so
# dedup rates differ across domains) scrambles exactly the
# presentation dimensions canonicalization must undo — scheme case,
# www. prefix, host case, explicit default port :443, query-param
# order, utm_* tracking params, #fragment.

_URL_RAW_SQL = """
p AS (
  SELECT doc_id, doc_id // 16 AS pid,
         (doc_id % 16) % (1 + ((doc_id // 16) % 16)) AS v
  FROM documents),
parts AS (
  SELECT doc_id, pid, v,
         CASE WHEN v % 2 = 1 THEN 'HTTPS' ELSE 'https' END AS scheme,
         (CASE WHEN (v // 2) % 2 = 1 THEN 'www.' ELSE '' END
          || 'sub' || (pid % 3) || '.site' || (pid % 50) || '.com')
             AS host0,
         CASE WHEN (v // 8) % 2 = 1 THEN ':443' ELSE '' END AS port,
         '/a/' || pid AS path,
         'p=' || (pid % 10) AS p1, 'q=' || (pid % 7) AS p2,
         'utm_c=' || v AS utm,
         CASE WHEN (v // 4) % 2 = 1 THEN '#s' || v ELSE '' END AS frag
  FROM p),
raw AS (
  SELECT doc_id,
         scheme || '://'
         || (CASE WHEN (v // 4) % 2 = 1 THEN upper(host0)
                  ELSE host0 END)
         || port || path || '?'
         || (CASE WHEN (v // 2) % 2 = 1
             THEN utm || '&' || (CASE WHEN v % 2 = 1
                                 THEN p2 || '&' || p1
                                 ELSE p1 || '&' || p2 END)
             ELSE (CASE WHEN v % 2 = 1 THEN p2 || '&' || p1
                        ELSE p1 || '&' || p2 END) || '&' || utm END)
         || frag AS url_raw
  FROM parts)"""

# canonicalization parses url_raw ONLY (never the synthesis columns):
# lowercase scheme+host, strip www., strip the https default port,
# drop the fragment, drop utm_* params, sort the remaining params.
# Every derivation references its input exactly ONCE (regexp_replace
# for the www strip, regexp_extract for the path split, nullif for
# the empty-query case): Catalyst's CollapseProject inlines derived
# columns into every reference, so a multiply-referencing chain
# duplicates the whole upstream expression tree per reference —
# the first cut of this query spent 35s in codegen on 500 rows.
_URL_CANON_SQL = """
c2 AS (
  SELECT doc_id, url_raw,
         split_part(split_part(url_raw, '://', 2), '#', 1) AS nofrag
  FROM raw),
c3 AS (
  SELECT doc_id, url_raw,
         regexp_replace(
             regexp_replace(lower(split_part(nofrag, '/', 1)),
                            ':443$', ''),
             '^www\\.(.+\\..+)$', '\\1') AS host_c,
         regexp_extract(nofrag, '^[^/]*(/.*)$', 1) AS pathq
  FROM c2),
c4 AS (
  SELECT doc_id, url_raw, host_c,
         split_part(pathq, '?', 1) AS path_c,
         array_to_string(list_sort(list_filter(
             string_split(split_part(pathq, '?', 2), '&'),
             x -> NOT starts_with(x, 'utm_'))), '&') AS qs_c
  FROM c3),
canon AS (
  SELECT doc_id, url_raw,
         'https://' || host_c || path_c
         || coalesce('?' || nullif(qs_c, ''), '') AS url_canon,
         regexp_extract(host_c,
                        '([^.:]+\\.[^.:]+)(:[0-9]+)?$', 1)
             AS registered_domain
  FROM c4)"""


def _url_canon_df(spark, sf_dir):
    """(doc_id, url_raw, url_canon, registered_domain): the Spark
    side of the synthesis + canonicalization above, every step a
    JVM-side string expression (split_part/lower/substr for parsing;
    filter+array_sort+concat_ws for the query-param normalization)."""
    d = (table(spark, sf_dir, "documents").select("doc_id")
         .withColumn("pid", F.expr("doc_id div 16"))
         .withColumn("v", F.expr(
             "(doc_id % 16) % (1 + ((doc_id div 16) % 16))"))
         .withColumn("host0", F.expr(
             "concat(CASE WHEN (v div 2) % 2 = 1 THEN 'www.' "
             "ELSE '' END, 'sub', pid % 3, '.site', pid % 50, "
             "'.com')"))
         .withColumn("qs0", F.expr(
             "CASE WHEN v % 2 = 1 "
             "THEN concat('q=', pid % 7, '&p=', pid % 10) "
             "ELSE concat('p=', pid % 10, '&q=', pid % 7) END")))
    d = d.withColumn("url_raw", F.expr(
        "concat(CASE WHEN v % 2 = 1 THEN 'HTTPS' ELSE 'https' END, "
        "'://', "
        "CASE WHEN (v div 4) % 2 = 1 THEN upper(host0) "
        "ELSE host0 END, "
        "CASE WHEN (v div 8) % 2 = 1 THEN ':443' ELSE '' END, "
        "'/a/', pid, '?', "
        "CASE WHEN (v div 2) % 2 = 1 "
        "THEN concat('utm_c=', v, '&', qs0) "
        "ELSE concat(qs0, '&utm_c=', v) END, "
        "CASE WHEN (v div 4) % 2 = 1 THEN concat('#s', v) "
        "ELSE '' END)"))
    return canonicalize_urls(d).select(
        "doc_id", "url_raw", "url_canon", "registered_domain")


def canonicalize_urls(d):
    """Add url_canon + registered_domain derived from a url_raw
    column. Single-reference derivations, mirroring _URL_CANON_SQL:
    every intermediate is consumed exactly once so CollapseProject
    cannot duplicate the upstream expression tree (the first cut of
    this chain multiply-referenced its intermediates and spent 35s in
    codegen on 500 rows). Exposed for the idempotence property test
    (canon of a canonical URL is itself).

    PRECONDITION (ADVICE r13 #1): the authority must be followed by a
    '/' — i.e. the URL has a path. On a host-only URL such as
    ``https://x.y?a=1`` the parser keeps the query string embedded in
    host_c (lowercased wholesale, utm_* kept, params unsorted) and
    registered_domain captures the tail including the query. Both
    engines agree on that degenerate output (pinned by the host-only
    row in tests/test_round13_ops.py's cross-engine differential
    test), but callers feeding arbitrary external URLs should ensure
    a path (append '/' before '?' when absent) first."""
    # port handling is honest to the doc: ONLY the https default
    # :443 is stripped (an explicit :8080 survives into the canon);
    # the www. prefix is stripped only when at least two host labels
    # remain (a bare www.com is a registered domain, not a prefix) —
    # no lookaheads, so the same pattern runs under Java regex and
    # DuckDB's RE2 (backreference spelled $1 vs \\1)
    return (d.withColumn("nofrag", F.expr(
                "split_part(split_part(url_raw, '://', 2), '#', 1)"))
            .withColumn("host_c", F.expr(
                "regexp_replace(regexp_replace(lower(split_part("
                "nofrag, '/', 1)), ':443$', ''), "
                "'^www\\\\.(.+\\\\..+)$', '$1')"))
            .withColumn("pathq", F.expr(
                "regexp_extract(nofrag, '^[^/]*(/.*)$', 1)"))
            .withColumn("qs_c", F.expr(
                "concat_ws('&', array_sort(filter("
                "split(split_part(pathq, '?', 2), '&'), "
                "x -> NOT startswith(x, 'utm_'))))"))
            .withColumn("url_canon", F.expr(
                "concat('https://', host_c, split_part(pathq, '?', 1), "
                "coalesce(concat('?', nullif(qs_c, '')), ''))"))
            .withColumn("registered_domain", F.expr(
                "regexp_extract(host_c, "
                "'([^.:]+\\\\.[^.:]+)(:[0-9]+)?$', 1)")))


@query(
    "url_canonicalization",
    oracle=f"""
    WITH {_URL_RAW_SQL},
    {_URL_CANON_SQL}
    SELECT doc_id, url_raw, url_canon, registered_domain
    FROM canon ORDER BY doc_id
    """,
    doc="URL canonicalization at row grain (the Common-Crawl curation "
        "primitive): parse the raw URL string and normalize scheme "
        "case, strip www., strip the https default port :443, drop "
        "the #fragment, drop utm_* tracking params, SORT the "
        "remaining query params, and extract the registered domain "
        "(last two host labels) — all JVM-side string expressions "
        "(split_part/substring/lower; filter+array_sort+concat_ws "
        "for the param normalization), one narrow projection, no "
        "shuffle before the output sort. The raw URL is synthesized "
        "deterministically from doc_id on BOTH engines (documents "
        "has no URL column), so hash equality checks the "
        "canonicalization itself. At 100 TB this runs as a "
        "map-only stage ahead of the per-domain dedup profile",
    exchanges=1,
)
def url_canonicalization(spark, sf_dir):
    return _url_canon_df(spark, sf_dir).orderBy("doc_id")


@query(
    "domain_dedup_rate_profile",
    oracle=f"""
    WITH {_URL_RAW_SQL},
    {_URL_CANON_SQL}
    SELECT registered_domain,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT url_raw) AS BIGINT) AS n_distinct_raw,
           CAST(count(DISTINCT url_canon) AS BIGINT)
               AS n_distinct_canon,
           CAST((2 * CAST(count(DISTINCT url_raw)
                          - count(DISTINCT url_canon) AS HUGEINT)
                 * 1000000 + count(DISTINCT url_raw))
                // (2 * CAST(count(DISTINCT url_raw) AS HUGEINT))
                AS DOUBLE) / 1000000.0 AS dedup_rate6
    FROM canon GROUP BY 1 ORDER BY 1
    """,
    doc="per-domain dedup-rate profile over canonicalized URLs: "
        "group at registered-domain grain and report how many "
        "distinct raw URLs collapse after canonicalization — "
        "dedup_rate6 = (n_distinct_raw - n_distinct_canon) / "
        "n_distinct_raw as the exact round-half-up 6dp integer "
        "ratio (the exact.ratio_round6 convention). The curation "
        "dashboard number that decides which domains get crawled "
        "less: one groupBy at domain grain (map-side combinable "
        "distincts via partial aggregation), output rows = #domains "
        "— a broadcast-sized profile at any corpus size",
    exchanges=4,
)
def domain_dedup_rate_profile(spark, sf_dir):
    c = _url_canon_df(spark, sf_dir)
    # two-level aggregation instead of two countDistincts over raw
    # rows: a double-distinct plans as an Expand (x3 the input) whose
    # distinct keys all funnel through the grouping key — a hot
    # domain would own the whole expanded partition at 100 TB. Level
    # 1 reduces to (domain, url_raw) grain (url_canon is functionally
    # dependent on url_raw, so max() is exact), map-side combinable
    # and spread across raw URLs; level 2 aggregates the reduced
    # relation, where the single remaining distinct is domain-sized.
    per_raw = (c.groupBy("registered_domain", "url_raw")
               .agg(F.count(F.lit(1)).alias("n_dup"),
                    F.max("url_canon").alias("url_canon")))
    agg = (per_raw.groupBy("registered_domain")
           .agg(F.sum("n_dup").cast("long").alias("n_urls"),
                F.count(F.lit(1)).cast("long").alias("n_distinct_raw"),
                F.countDistinct("url_canon").cast("long")
                .alias("n_distinct_canon")))
    return (agg.select(
        "registered_domain", "n_urls", "n_distinct_raw",
        "n_distinct_canon",
        ratio_round6(
            F.col("n_distinct_raw") - F.col("n_distinct_canon"),
            F.col("n_distinct_raw")).alias("dedup_rate6"))
        .orderBy("registered_domain"))


# ---------------------------------------------------------------------------
# Suffix-window exact substring dedup at DOCUMENT-PAIR grain (VERDICT
# r12 ask #6, extending chunk_dedup_substrings): chunk dedup sees
# non-overlapping chunks and per-doc keep rates; this op slides a
# window over EVERY token position (the suffix-array view of Lee et
# al. 2022), joins matching windows across documents, and recovers
# for each document pair (a) how many window positions they share and
# (b) their LONGEST shared exact substring — a run of L consecutive
# matching windows at a constant position offset is a shared
# substring of L + W - 1 tokens (the island trick: group matches by
# (pair, delta), island id = pos - row_number ordered by pos).

_SWP_W = 8     # window length (tokens)
_SWP_CAP = 16  # document-frequency cap: windows in > CAP docs are
               # boilerplate — excluded from pairing, the df-capped
               # twin discipline of dedup_ngram_jaccard
_SWP_K = 3     # report pairs sharing >= K window positions


@query(
    "suffix_window_pair_dedup",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    g0 AS (SELECT doc_id,
                  unnest(generate_series(1, len(t) - {_SWP_W - 1}))
                      AS pos, t
           FROM toks WHERE len(t) >= {_SWP_W}),
    g AS (SELECT doc_id, pos,
                 array_to_string(t[pos : pos + {_SWP_W - 1}], ' ')
                     AS gram
          FROM g0),
    df AS (SELECT gram, count(DISTINCT doc_id) AS df
           FROM g GROUP BY 1),
    gk AS (SELECT g.* FROM g JOIN df USING (gram)
           WHERE df.df BETWEEN 2 AND {_SWP_CAP}),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pa, b.pos - a.pos AS delta
      FROM gk a JOIN gk b
        ON a.gram = b.gram AND a.doc_id < b.doc_id),
    isl AS (
      SELECT doc_a, doc_b, delta, pa,
             pa - row_number() OVER (PARTITION BY doc_a, doc_b, delta
                                     ORDER BY pa) AS island
      FROM m),
    runs AS (
      SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS run_len
      FROM isl GROUP BY doc_a, doc_b, delta, island),
    best AS (SELECT doc_a, doc_b, max(run_len) AS max_run
             FROM runs GROUP BY 1, 2),
    pairs AS (
      SELECT doc_a, doc_b,
             CAST(count(DISTINCT pa) AS BIGINT) AS n_shared_windows
      FROM m GROUP BY 1, 2)
    SELECT p.doc_a, p.doc_b, p.n_shared_windows,
           CAST(b.max_run + {_SWP_W - 1} AS BIGINT)
               AS max_shared_tokens
    FROM pairs p JOIN best b USING (doc_a, doc_b)
    WHERE p.n_shared_windows >= {_SWP_K}
    ORDER BY p.doc_a, p.doc_b
    """,
    doc=f"suffix-window exact substring dedup at document-pair "
        f"grain: {_SWP_W}-token windows at EVERY position (codegen "
        "posexplode+lead, the _gram_rows pipeline plus positions), "
        f"document-frequency-capped (2..{_SWP_CAP} docs — boilerplate "
        "windows are excluded from pairing, and candidate rows are "
        "bounded by CAP * sum(df), the dedup_ngram_jaccard df-cap "
        "discipline) and self-joined on the window text; per pair, "
        "n_shared_windows counts matching positions and the island "
        "trick (group matches by (pair, delta = pos_b - pos_a), "
        "island = pos - row_number) recovers the LONGEST shared "
        f"exact substring as max_run + {_SWP_W - 1} tokens — the "
        "number the Lee-et-al suffix-array pass reports, computed "
        "relationally. The window-build exchange (doc_id) and the "
        "pair aggregates (doc_a, doc_b[, delta]) are the only "
        "shuffles; nothing is all-pairs. Pairs sharing >= "
        f"{_SWP_K} windows are reported",
    scoped=True,
    exchanges=8,
)
def _swp_plan(spark, sf_dir, cache=lazy_cache):
    return _swp_core(table(spark, sf_dir, "documents"), cache)


def _swp_core(docs, cache=lazy_cache, *, win=_SWP_W, cap=_SWP_CAP,
              k=_SWP_K):
    """The pair-dedup core over any (doc_id, text) relation, with the
    window/cap/threshold parameterized so the golden-reference test
    can drive it densely on tiny random corpora (the registered query
    binds the module constants)."""
    toks = TX.tokens(F.col("text"))
    base = docs.select("doc_id",
                       F.posexplode(toks).alias("pos0", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos0")
    w_all = Window.partitionBy("doc_id")
    gram = F.concat_ws(
        " ", F.col("tok"),
        *[F.lead("tok", j).over(w) for j in range(1, win)])
    g = (base.withColumn("n_tok", F.count(F.lit(1)).over(w_all))
         .withColumn("gram", gram)
         .filter(F.col("pos0") + win <= F.col("n_tok"))
         .select("doc_id", (F.col("pos0") + 1).cast("long")
                 .alias("pos"), "gram"))
    dfr = g.groupBy("gram").agg(
        F.countDistinct("doc_id").alias("df"))
    # gk feeds both sides of the pair join: one build, one cache
    gk = cache(g.join(dfr.filter((F.col("df") >= 2)
                                 & (F.col("df") <= cap)),
                      "gram")
               .select("doc_id", "pos", "gram"))
    a = gk.select(F.col("doc_id").alias("doc_a"),
                  F.col("pos").alias("pa"), "gram")
    b = gk.select(F.col("doc_id").alias("doc_b"),
                  F.col("pos").alias("pb"), "gram")
    # m feeds the island decomposition AND the per-pair counts
    m = cache(a.join(b, "gram")
              .filter(F.col("doc_a") < F.col("doc_b"))
              .select("doc_a", "doc_b", "pa",
                      (F.col("pb") - F.col("pa")).alias("delta")))
    iw = Window.partitionBy("doc_a", "doc_b", "delta").orderBy("pa")
    isl = m.withColumn("island",
                       F.col("pa") - F.row_number().over(iw))
    runs = (isl.groupBy("doc_a", "doc_b", "delta", "island")
            .agg(F.count(F.lit(1)).alias("run_len")))
    best = (runs.groupBy("doc_a", "doc_b")
            .agg(F.max("run_len").alias("max_run")))
    pairs = (m.groupBy("doc_a", "doc_b")
             .agg(F.countDistinct("pa").cast("long")
                  .alias("n_shared_windows")))
    return (pairs.join(best, ["doc_a", "doc_b"])
            .filter(F.col("n_shared_windows") >= k)
            .select("doc_a", "doc_b", "n_shared_windows",
                    (F.col("max_run") + win - 1).cast("long")
                    .alias("max_shared_tokens"))
            .orderBy("doc_a", "doc_b"))
