"""Sparse-retrieval and tokenizer-training operators (round 4):

- Okapi BM25 "more-like-this" retrieval: the standard sparse ranking
  function (Robertson & Zaragoza 2009) every retrieval/dedup pipeline
  leans on before dense rerankers. The arithmetic is arranged so both
  engines evaluate the IDENTICAL IEEE-double expression on identical
  integer statistics, and per-document scores are summed by an ordered
  left fold (Spark ``F.aggregate`` over a sorted array == DuckDB
  ``list_reduce`` over ``list(... ORDER BY ...)``), making the result
  hash-exact despite floating point.
- BPE merge learning (Sennrich et al. 2016): the iterative
  count-pairs -> pick-argmax -> apply-merge loop that trains a
  tokenizer vocabulary, run distributed: pair counting is a
  weighted groupBy over the (tiny) word-shape vocabulary, the chosen
  merge is KB driver state per round (the k-means/codebook precedent),
  and merge application is an Arrow-batched kernel. Greedy
  left-to-right merge application is sequential WITHIN a word — a
  genuinely iterative algorithm with no SQL twin, so the driver check
  is rows-only and tests/test_retrieval_ops.py pins every learned
  merge against an independent pure-Python BPE reference.

These go beyond the reference surface (no text retrieval at all —
SURVEY.md §1.3); they are LLM-pipeline operators like functions/text.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window, functions as F

from ..functions import text as TX
from ..operators.exact import ratio_round6
from ..session import scan_floor
from ..sources.parquet_source import table
from . import query

# DuckDB twin of functions/text.tokens (the tf_idf convention)
_TOKS = ("CASE WHEN trim(text) = '' THEN [] ELSE "
         "list_transform(regexp_split_to_array(trim(text), '\\s+'), "
         "t -> lower(t)) END")

# BM25 constants k1 = 1.2 = 6/5, b = 0.75 = 3/4. Cross-multiplying the
# per-term denominator tf + k1*(1 - b + b*dl*N/S) by 10*S makes every
# ratio argument an exact BIGINT:
#   score_t = idf * (22*tf*S) / (10*tf*S + 3*S + 9*dl*N)
# with idf = ln((N - df + 0.5) / (df + 0.5) + 1)   [Lucene variant]
_BM25_TOPK = 10


# shared oracle CTE chain: token stream -> tf/dl/df stats -> per-term
# BM25 scores -> ordered-fold per-doc totals (used by the plain ranking
# and by the RRF hybrid below)
_BM25_CTES = f"""
    tk AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
           FROM tk GROUP BY 1, 2),
    dl AS (SELECT d.doc_id,
                  CAST(coalesce(sum(tf.tf), 0) AS BIGINT) AS dl
           FROM documents d LEFT JOIN tf ON tf.doc_id = d.doc_id
           GROUP BY 1),
    df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
           FROM tf GROUP BY 1),
    sc AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST((SELECT sum(dl) FROM dl) AS BIGINT) AS s,
                  CAST((SELECT min(doc_id) FROM documents) AS BIGINT)
                      AS qdoc
           FROM documents),
    qt AS (SELECT DISTINCT tok FROM tk, sc WHERE tk.doc_id = sc.qdoc),
    per AS (
      SELECT tf.doc_id, tf.tok,
             ROUND(ln((sc.n - df.df + 0.5) / (df.df + 0.5) + 1)
                   * CAST(22 * tf.tf * sc.s AS DOUBLE)
                   / CAST(10 * tf.tf * sc.s + 3 * sc.s
                          + 9 * dl.dl * sc.n AS DOUBLE), 9) AS s
      FROM tf
      JOIN qt ON qt.tok = tf.tok
      JOIN df ON df.tok = tf.tok
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN sc
      WHERE tf.doc_id <> sc.qdoc),
    total AS (
      SELECT doc_id,
             ROUND(list_reduce(list(s ORDER BY tok),
                               (a, b) -> a + b), 6) AS bm25,
             CAST(count(*) AS BIGINT) AS n_terms
      FROM per GROUP BY doc_id)"""


def _bm25_parts(spark, sf_dir):
    """Shared BM25 pipeline pieces: (tk token stream, sc 1-row stats,
    total per-doc scores) — used by both the plain more-like-this
    ranking and the RRF hybrid fusion below.

    r15 (guide §2/§2.5): the tokenize+explode feeding the tf
    exchange ran in the SCAN stage — one task on the one-row-group
    driver parquet at any sf. scan_floor repartitions by
    doc_id when the layout starves the cores: the tf stage measured
    1.98 -> 0.47s at sf1 (interleaved min-of-3, disjoint spreads);
    inert on multi-row-group inputs."""
    docs = scan_floor(table(spark, sf_dir, "documents"), "doc_id")
    tk = docs.select("doc_id",
                     F.explode(TX.tokens(F.col("text"))).alias("tok"))
    tf = tk.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("tf"))
    dl = (docs.join(tf.groupBy("doc_id")
                    .agg(F.sum("tf").alias("dl")), "doc_id", "left")
          .select("doc_id", F.coalesce("dl", F.lit(0)).alias("dl")))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    sc = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("qdoc")).crossJoin(
        dl.agg(F.sum("dl").alias("s")))
    qt = (tk.join(F.broadcast(sc.select("qdoc")),
                  tk.doc_id == F.col("qdoc"))
          .select("tok").distinct())
    per = (tf.join(F.broadcast(qt), "tok")
           .join(F.broadcast(df), "tok")
           .join(dl, "doc_id")
           .crossJoin(F.broadcast(sc))
           .filter(F.col("doc_id") != F.col("qdoc"))
           .select(
               "doc_id", "tok",
               F.round(
                   F.log((F.col("n") - F.col("df") + 0.5)
                         / (F.col("df") + 0.5) + 1)
                   * (22 * F.col("tf") * F.col("s")).cast("double")
                   / (10 * F.col("tf") * F.col("s") + 3 * F.col("s")
                      + 9 * F.col("dl") * F.col("n")).cast("double"),
                   9).alias("s_term")))
    total = (per.groupBy("doc_id").agg(
        F.round(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct(F.col("tok"), F.col("s_term")))),
                    lambda x: x["s_term"]),
                F.lit(0.0), lambda acc, x: acc + x), 6).alias("bm25"),
        F.count(F.lit(1)).alias("n_terms")))
    return tk, tf, sc, total


@query(
    "bm25_more_like_this",
    oracle=f"""
    WITH {_BM25_CTES}
    SELECT doc_id, bm25, n_terms, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc_id)
                        AS rn
          FROM total) t
    WHERE rn <= {_BM25_TOPK}
    ORDER BY rank
    """,
    doc=f"Okapi BM25 more-like-this: rank every document against the "
        f"query terms of the lowest-id document, top {_BM25_TOPK}. "
        "k1=1.2, b=0.75, Lucene idf. Exactness: the per-term score is "
        "one identical double expression over exact BIGINT stats (the "
        "denominator cross-multiplied by 10*S so no intermediate "
        "rational), rounded to 9; per-doc totals fold the terms in "
        "sorted order on BOTH engines, so the hash matches despite fp. "
        "Scale shape: df and the 3 scalars are tiny broadcasts, tf is "
        "one map-side-combined groupBy, the query-term join prunes the "
        "corpus to matching postings BEFORE any shuffle — the classic "
        "impact-ordered posting scan, and the final top-k is "
        "TakeOrderedAndProject, never a global sort",
    exchanges=16,
)
def bm25_more_like_this(spark, sf_dir):
    _, _, _, total = _bm25_parts(spark, sf_dir)
    # top-k FIRST (TakeOrderedAndProject — no global sort), then the
    # rank window runs over a <= _BM25_TOPK-row relation: tiny forever
    top = total.orderBy(F.desc("bm25"), "doc_id").limit(_BM25_TOPK)
    w = Window.orderBy(F.desc("bm25"), "doc_id")
    return (top.withColumn("rank", F.row_number().over(w)
                           .cast("bigint"))
            .select("doc_id", "bm25", "n_terms", "rank")
            .orderBy("rank"))


# --- BPE merge learning -----------------------------------------------------

_BPE_ROUNDS = 8
# The merge LOOP operates on the vocabulary aggregate, not the corpus.
# When that aggregate fits driver memory, run the loop driver-side —
# the codebook precedent (functions/pq.py), and how production BPE
# trainers actually work (the corpus-scale pass is the word count;
# HuggingFace/SentencePiece train the merges single-node from it).
# 65536 (word, count, chars) rows is MBs of driver state. Above the
# threshold — a 100 TB corpus has a much larger raw-token vocabulary —
# the distributed loop below runs instead; both paths produce
# IDENTICAL merges (tie-break (count desc, pair asc) on both; pinned
# by tests/test_retrieval_ops.py equivalence + reference tests).
_BPE_DRIVER_VOCAB_MAX = 1 << 16


def _bpe_merge_word(sym: list, left: str, right: str) -> list:
    """One greedy left-to-right merge pass over a symbol sequence —
    the same kernel _apply_merges_udf runs per merge, shared so the
    driver-side and Arrow-batched paths cannot drift."""
    out, i, n = [], 0, len(sym)
    while i < n:
        if i + 1 < n and sym[i] == left and sym[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return out


def _bpe_driver_loop(vocab: list, rounds: int) -> list:
    """BPE merge learning over a driver-resident vocabulary:
    ``vocab`` is [(wcount, [sym, ...]), ...]. Same argmax tie-break as
    the distributed loop: count desc, then (left, right) ascending —
    Python str comparison is code-point order, matching Spark's
    UTF8String byte order. Returns [(rank, l, r, merged, count)]."""
    seqs = [(int(c), list(s)) for c, s in vocab]
    merges = []
    for rnd in range(1, rounds + 1):
        counts: dict = {}
        for c, sym in seqs:
            for a, b in zip(sym, sym[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + c
        if not counts:
            break
        (l, r), cnt = min(counts.items(),
                          key=lambda kv: (-kv[1], kv[0]))
        merges.append((rnd, l, r, l + r, cnt))
        seqs = [(c, _bpe_merge_word(sym, l, r)) for c, sym in seqs]
    return merges


def _apply_merges_udf(merges: list[tuple[str, str]]):
    """Arrow-batched greedy left-to-right application of the learned
    merge list IN RANK ORDER (one pass per merge, the standard BPE
    apply) — the only sequential-within-word step of BPE, and the
    reason the algorithm has no SQL twin. Taking the whole list in one
    kernel matters: chaining one pandas_udf per merge would ship the
    vocabulary across the JVM<->Python Arrow boundary once per learned
    merge (O(rounds^2) crossings over the training loop); this kernel
    keeps the per-round cost at ONE crossing and loops in memory."""

    @F.pandas_udf("array<string>")
    def merge(seqs: pd.Series) -> pd.Series:
        def one(sym):
            sym = list(sym)
            for left, right in merges:
                sym = _bpe_merge_word(sym, left, right)
            return sym
        return seqs.map(one)

    return merge


@query(
    "bpe_learn_merges",
    bench=True,
    oracle=None,  # iterative: greedy within-word merges have no SQL
                  # twin; exact pytest oracle vs a pure-Python BPE
                  # reference in tests/test_retrieval_ops.py
    doc=f"BPE tokenizer training (Sennrich et al. 2016): {_BPE_ROUNDS} "
        "merge rounds over the corpus word-frequency table. The "
        "corpus-scale pass — tokenize, explode, word count — is "
        "always distributed and runs exactly once. The merge loop "
        "operates on the VOCABULARY aggregate: when that fits driver "
        "memory (<= 2^16 rows — MBs; this is how production BPE "
        "trainers work: the corpus pass is distributed, the merge "
        "loop is single-node over the word-count table) it runs "
        "driver-side with zero per-round jobs; above the threshold "
        "the distributed loop runs — per round, adjacent pairs built "
        "JVM-side (slice + arrays_zip, no UDF), weighted by word "
        "frequency, reduced by one map-side-combined groupBy, the "
        "winning pair (count desc, pair asc) collected as KB driver "
        "state, and merge application one Arrow-batched kernel over "
        "the vocabulary. Both paths produce identical merges (shared "
        "_bpe_merge_word kernel, same tie-break; equivalence pinned "
        "in tests/test_retrieval_ops.py). Returns the learned merge "
        "table (rank, left, right, merged, weighted pair count)",
)
def bpe_learn_merges(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    words = (docs.select(F.explode(TX.tokens(F.col("text")))
                         .alias("word"))
             .groupBy("word").agg(F.count(F.lit(1)).alias("wcount")))
    # Persist the INITIAL vocabulary: without it, every round's pair
    # count re-runs tokenize + explode + word groupBy — a full corpus
    # scan per merge round, which is the 100 TB killer. The corpus is
    # touched exactly once; everything after is vocabulary-sized.
    seqs0 = seqs = words.select(
        "wcount",
        F.expr("filter(split(word, ''), x -> x <> '')").alias("seq")
    ).persist()
    merges = []
    try:
        n_vocab = seqs0.count()
        if n_vocab <= _BPE_DRIVER_VOCAB_MAX:
            merges = _bpe_driver_loop(
                [(row.wcount, row.seq) for row in seqs0.collect()],
                _BPE_ROUNDS)
        else:
            for rnd in range(1, _BPE_ROUNDS + 1):
                pairs = (seqs.select(
                    "wcount",
                    F.explode(F.arrays_zip(
                        F.expr("slice(seq, 1, size(seq) - 1)"),
                        F.expr("slice(seq, 2, size(seq) - 1)")))
                    .alias("p"))
                    .select("wcount", F.col("p.0").alias("l"),
                            F.col("p.1").alias("r"))
                    .groupBy("l", "r")
                    .agg(F.sum("wcount").alias("cnt")))
                top = (pairs.orderBy(F.desc("cnt"), "l", "r").limit(1)
                       .collect())
                if not top:
                    break
                l, r, cnt = top[0].l, top[0].r, int(top[0].cnt)
                merges.append((rnd, l, r, l + r, cnt))
                seqs = seqs0.select(
                    "wcount",
                    _apply_merges_udf([(m[1], m[2]) for m in merges])(
                        F.col("seq")).alias("seq"))
    finally:
        seqs0.unpersist()
    return spark.createDataFrame(
        merges, "merge_rank long, left string, right string, "
                "merged string, pair_count long")


_BPE_PAIR_TOPK = 100


@query(
    "bpe_pair_counts_round1",
    oracle=f"""
    WITH words AS (
      SELECT w AS word, count(*) AS wcount
      FROM (SELECT unnest(t) AS w
            FROM (SELECT {_TOKS} AS t FROM documents))
      GROUP BY w),
    chars AS (
      SELECT wcount,
             list_filter(regexp_split_to_array(word, ''),
                         c -> c <> '') AS seq
      FROM words),
    pairs AS (
      SELECT seq[i] AS lhs, seq[i + 1] AS rhs, wcount
      FROM (SELECT wcount, seq,
                   unnest(generate_series(1, len(seq) - 1)) AS i
            FROM chars)),
    agg AS (
      SELECT lhs, rhs, CAST(sum(wcount) AS BIGINT) AS pair_count
      FROM pairs GROUP BY lhs, rhs)
    SELECT CAST(row_number() OVER
                (ORDER BY pair_count DESC, lhs, rhs) AS BIGINT)
               AS pair_rank,
           lhs, rhs, pair_count
    FROM agg
    ORDER BY pair_rank
    LIMIT {_BPE_PAIR_TOPK}
    """,
    doc="BPE round-1 weighted adjacent-pair counts (the first "
        "iteration of bpe_learn_merges above, lifted out so the pair-"
        "count kernel itself is hash-exact driver-evidenced; the full "
        "trainer is rows-only because the merge loop has no SQL twin). "
        "Same shape as the trainer's per-round step: word frequencies "
        "from ONE corpus scan (explode -> map-side-combined groupBy), "
        "character sequences + adjacent pairs built JVM-side (slice + "
        "arrays_zip, no UDF), pairs weighted by word frequency and "
        "reduced by one groupBy over the vocabulary-sized relation. "
        f"Deterministic top-{_BPE_PAIR_TOPK} by (count desc, pair asc) "
        "is TakeOrderedAndProject, then row_number runs over the "
        f"<= {_BPE_PAIR_TOPK}-row result — never a global sort. "
        "Integer counts only, so the hash is exact on any engine or "
        "partition layout. At 100 TB: the corpus is touched once; "
        "everything after the word groupBy is vocabulary-sized",
    exchanges=2,
)
def bpe_pair_counts_round1(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    words = (docs.select(F.explode(TX.tokens(F.col("text")))
                         .alias("word"))
             .groupBy("word").agg(F.count(F.lit(1)).alias("wcount")))
    seqs = words.select(
        "wcount",
        F.expr("filter(split(word, ''), x -> x <> '')").alias("seq"))
    pairs = (seqs.select(
        "wcount",
        F.explode(F.arrays_zip(
            F.expr("slice(seq, 1, size(seq) - 1)"),
            F.expr("slice(seq, 2, size(seq) - 1)"))).alias("p"))
        .select("wcount", F.col("p.0").alias("lhs"),
                F.col("p.1").alias("rhs"))
        .groupBy("lhs", "rhs").agg(F.sum("wcount").alias("pair_count")))
    top = (pairs.orderBy(F.desc("pair_count"), "lhs", "rhs")
           .limit(_BPE_PAIR_TOPK))
    w = Window.orderBy(F.desc("pair_count"), "lhs", "rhs")
    return (top.withColumn("pair_rank",
                           F.row_number().over(w).cast("bigint"))
            .select("pair_rank", "lhs", "rhs", "pair_count")
            .orderBy("pair_rank"))


# --- Python UDTF (SURVEY §2.10 surface) -------------------------------------


@query(
    "udtf_sentence_spans",
    oracle="""
    WITH fl AS (
      SELECT doc_id,
             list_filter(list_transform(
                 regexp_split_to_array(text, '\\.'),
                 s -> trim(s, ' ' || chr(9) || chr(10) || chr(13)
                              || chr(12) || chr(11))),
                 s -> s <> '') AS sents
      FROM documents),
    ex AS (
      SELECT doc_id, unnest(sents) AS s,
             unnest(generate_series(1, len(sents))) AS sent_idx
      FROM fl)
    SELECT doc_id, CAST(sent_idx AS BIGINT) AS sent_idx,
           CAST(length(s) AS BIGINT) AS sent_len
    FROM ex ORDER BY doc_id, sent_idx
    """,
    doc="Python UDTF via LATERAL join (Spark 4, Arrow-batched — the "
        "plan shows ArrowEvalPythonUDTF, not row-pickling "
        "BatchEvalPython): one table function call per document emits "
        "its non-empty trimmed sentence spans (index, length). The "
        "UDTF surface is the escape hatch for per-row fan-out logic a "
        "lateral generator expresses more naturally than explode; "
        "this one is deliberately also SQL-expressible so the oracle "
        "pins the semantics exactly. Narrow op: no shuffle, fan-out "
        "stays inside the Arrow batch",
    exchanges=1,
)
def udtf_sentence_spans(spark, sf_dir):
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx: bigint, sent_len: bigint",
          useArrow=True)
    class SplitSentences:
        def eval(self, text: str):
            if text is None:
                return
            i = 0
            for raw in text.split("."):
                # explicit charset: Python strip() would also strip
                # unicode whitespace the oracle's trim() does not
                s = raw.strip(" \t\n\r\f\v")
                if s:
                    i += 1
                    yield (i, len(s))

    spark.udtf.register("split_sentences", SplitSentences)
    docs = table(spark, sf_dir, "documents")
    docs.select("doc_id", "text").createOrReplaceTempView(
        "documents_udtf_v")
    return spark.sql("""
      SELECT d.doc_id, s.sent_idx, s.sent_len
      FROM documents_udtf_v d, LATERAL split_sentences(d.text) s
      ORDER BY doc_id, sent_idx
    """)


# --- pandas UDAF (GROUPED_AGG) — completes the §2.10 U-surface -------------


@query(
    "udaf_median_cents",
    oracle="""
    WITH c AS (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events),
    r AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cents) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM c)
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_events,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN cents END)
               AS BIGINT) AS median_cents
    FROM r GROUP BY event_type ORDER BY event_type
    """,
    doc="user-defined aggregate via a GROUPED_AGG pandas_udf (the "
        "ArrowAggregatePython plan node — Arrow-batched, never "
        "row-pickled): lower median of integer cents per event type. "
        "The median is an order statistic of exact integers, so the "
        "UDAF result is deterministic and the oracle recomputes it "
        "relationally (row_number at (n+1) DIV 2). This completes the "
        "§2.10 U-surface: scalar pandas UDF, grouped-map "
        "applyInPandas, stateful applyInPandasWithState, Arrow UDTF, "
        "and now a grouped-agg UDAF. Note the scale contract of ANY "
        "holistic UDAF: each group's values gather to one worker — "
        "fine for bounded groups (per-type, per-symbol), wrong for "
        "unbounded ones (use approx sketches there)",
    exchanges=2,
)
def udaf_median_cents(spark, sf_dir):
    import numpy as np

    @F.pandas_udf("bigint")
    def lower_median(v: pd.Series) -> int:
        a = np.sort(v.to_numpy())
        return int(a[(len(a) - 1) // 2])

    # Spark forbids mixing a GROUPED_AGG pandas UDF with non-pandas
    # aggregates in one agg, so the count is a pandas UDAF too
    @F.pandas_udf("bigint")
    def n_vals(v: pd.Series) -> int:
        return len(v)

    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"))
    return (ev.groupBy("event_type")
            .agg(n_vals(F.col("cents")).alias("n_events"),
                 lower_median(F.col("cents")).alias("median_cents"))
            .orderBy("event_type"))


# --- Hybrid retrieval: reciprocal-rank fusion (Cormack et al. 2009) --------

_RRF_K = 60        # the canonical RRF dampening constant
_RRF_POOL = 50     # per-ranker candidate pool
_RRF_OUT = 10


@query(
    "hybrid_rrf_retrieval",
    bench=True,
    oracle=f"""
    WITH {{bm25_ctes}},
    atop AS (SELECT doc_id, bm25 FROM total
             ORDER BY bm25 DESC, doc_id LIMIT {_RRF_POOL}),
    ar AS (SELECT doc_id,
                  row_number() OVER (ORDER BY bm25 DESC, doc_id)
                      AS ra
           FROM atop),
    dtok AS (SELECT DISTINCT doc_id, tok FROM tk),
    qset AS (SELECT dtok.tok FROM dtok, sc
             WHERE dtok.doc_id = sc.qdoc),
    nq AS (SELECT CAST(count(*) AS BIGINT) AS nq FROM qset),
    dn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nd
           FROM dtok GROUP BY 1),
    inter AS (SELECT d.doc_id, CAST(count(*) AS BIGINT) AS i
              FROM dtok d JOIN qset q ON d.tok = q.tok, sc
              WHERE d.doc_id <> sc.qdoc GROUP BY 1),
    jtop AS (SELECT i.doc_id, i.i,
                    CAST(dn.nd + nq.nq - i.i AS BIGINT) AS u
             FROM inter i JOIN dn ON dn.doc_id = i.doc_id
             CROSS JOIN nq
             ORDER BY CAST(i.i AS DOUBLE) / (dn.nd + nq.nq - i.i)
                 DESC, i.doc_id
             LIMIT {_RRF_POOL}),
    jr AS (SELECT doc_id,
                  row_number() OVER (
                      ORDER BY CAST(i AS DOUBLE) / u DESC, doc_id)
                      AS rj
           FROM jtop),
    fused AS (SELECT coalesce(ar.doc_id, jr.doc_id) AS doc_id,
                     coalesce(1.0 / ({_RRF_K} + ar.ra), 0.0)
                     + coalesce(1.0 / ({_RRF_K} + jr.rj), 0.0) AS rrf,
                     coalesce(ar.ra, 0) AS ra, coalesce(jr.rj, 0) AS rj
              FROM ar FULL OUTER JOIN jr ON ar.doc_id = jr.doc_id)
    SELECT doc_id, ROUND(rrf, 9) AS rrf_score,
           CAST(ra AS BIGINT) AS bm25_rank,
           CAST(rj AS BIGINT) AS jaccard_rank
    FROM fused ORDER BY rrf DESC, doc_id LIMIT {_RRF_OUT}
    """.format(bm25_ctes=_BM25_CTES),
    doc=f"hybrid retrieval via reciprocal-rank fusion (Cormack et al. "
        f"2009, k={_RRF_K}): fuse a BM25 ranking with a token-set "
        f"Jaccard ranking against the same query document — the "
        "sparse+sparse stand-in for the BM25+dense fusion every "
        "production RAG stack runs. Each ranker contributes its "
        f"top-{_RRF_POOL} pool via TakeOrderedAndProject (rank "
        "windows run over <= pool-size relations, never the corpus); "
        "RRF = sum of 1/(k+rank) over the rankers, a fixed two-term "
        "double expression on integer ranks, so fusion scores are "
        "engine-exact; absent-from-pool ranks surface as 0, not "
        "NULL, keeping the column integer-typed in both engines",
    # two full ranker chains. 33 > the pre-r15 26: scan_floor's
    # conditional doc_id repartition fires on the one-row-group test
    # layout and the static count charges it once per docs-subtree
    # embedding across the two ranker chains (ReusedExchange at
    # runtime — ONE extra real shuffle). The extra exchange is the
    # trade that moves the tokenize+explode off the single scan task:
    # tf stage 1.98 -> 0.47s at sf1 (OPTIMIZATION_r15.md); on
    # multi-row-group layouts the floor is inert and the plan returns
    # to the old 26.
    exchanges=33,
)
def hybrid_rrf_retrieval(spark, sf_dir):
    tk, tf, sc, total = _bm25_parts(spark, sf_dir)
    atop = total.orderBy(F.desc("bm25"), "doc_id").limit(_RRF_POOL)
    ar = atop.select(
        "doc_id",
        F.row_number().over(Window.orderBy(F.desc("bm25"), "doc_id"))
        .alias("ra"))
    # tf is already one row per (doc_id, tok): reusing it as the
    # distinct-token relation drops the second explode+distinct
    # of the token stream (and lets AQE reuse its exchange)
    dtok = tf.select("doc_id", "tok")
    qset = (dtok.join(F.broadcast(sc.select("qdoc")),
                      dtok.doc_id == F.col("qdoc"))
            .select("tok"))
    nq = qset.agg(F.count(F.lit(1)).alias("nq"))
    dn = dtok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nd"))
    inter = (dtok.join(F.broadcast(qset.select("tok")), "tok")
             .crossJoin(F.broadcast(sc.select("qdoc")))
             .filter(F.col("doc_id") != F.col("qdoc"))
             .groupBy("doc_id").agg(F.count(F.lit(1)).alias("i")))
    jsim = F.col("i").cast("double") / (F.col("nd") + F.col("nq")
                                        - F.col("i"))
    jtop = (inter.join(dn, "doc_id").crossJoin(F.broadcast(nq))
            .select("doc_id", "i",
                    (F.col("nd") + F.col("nq") - F.col("i"))
                    .alias("u"))
            .orderBy(F.desc(jsim), "doc_id").limit(_RRF_POOL))
    jr = jtop.select(
        "doc_id",
        F.row_number().over(
            Window.orderBy(F.desc(F.col("i").cast("double")
                                  / F.col("u")), "doc_id"))
        .alias("rj"))
    fused = (ar.join(jr, "doc_id", "full_outer")
             .select(
                 "doc_id",
                 (F.coalesce(1.0 / (_RRF_K + F.col("ra")), F.lit(0.0))
                  + F.coalesce(1.0 / (_RRF_K + F.col("rj")),
                               F.lit(0.0))).alias("rrf"),
                 F.coalesce("ra", F.lit(0)).alias("ra"),
                 F.coalesce("rj", F.lit(0)).alias("rj")))
    return (fused.orderBy(F.desc("rrf"), "doc_id").limit(_RRF_OUT)
            .select("doc_id", F.round("rrf", 9).alias("rrf_score"),
                    F.col("ra").cast("bigint").alias("bm25_rank"),
                    F.col("rj").cast("bigint").alias("jaccard_rank")))


# --- Positional inverted index + exact phrase search -----------------------

_PH_W1, _PH_W2 = "data", "stream"   # the query phrase "data stream"


@query(
    "phrase_search_positional",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, tok, CAST(i - 1 AS BIGINT) AS p
      FROM (SELECT doc_id, unnest({_TOKS}) AS tok,
                   unnest(generate_series(1, len({_TOKS}))) AS i
            FROM documents)),
    hits AS (
      SELECT a.doc_id, a.p AS start_pos
      FROM pos a JOIN pos b
        ON b.doc_id = a.doc_id AND b.p = a.p + 1
      WHERE a.tok = '{_PH_W1}' AND b.tok = '{_PH_W2}')
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(start_pos) AS BIGINT) AS first_pos
    FROM hits GROUP BY doc_id ORDER BY doc_id
    """,
    doc=f"exact phrase search ('{_PH_W1} {_PH_W2}') over a POSITIONAL "
        "inverted index: posting lists carry token positions, and the "
        "phrase matches by joining the two terms' postings on "
        "doc_id + adjacent position — the standard IR phrase-query "
        "plan (Lucene's exact PhraseQuery), generalizing to n-term "
        "phrases as an (n-1)-way position-offset join. The term "
        "filters prune the posting relation BEFORE the join (pushed "
        "to the tokenize stage), so the join touches only the two "
        "terms' postings — at 100 TB that is df(w1)+df(w2) rows, "
        "not the corpus; both sides share the doc_id partitioning",
    exchanges=2,
)
def phrase_search_positional(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        F.posexplode(TX.tokens(F.col("text"))).alias("p", "tok"))
    a = (pos.filter(F.col("tok") == _PH_W1)
         .select("doc_id", F.col("p").alias("pa")))
    b = (pos.filter(F.col("tok") == _PH_W2)
         .select(F.col("doc_id").alias("doc_b"),
                 F.col("p").alias("pb")))
    hits = a.join(b, (F.col("doc_id") == F.col("doc_b"))
                  & (F.col("pb") == F.col("pa") + 1))
    return (hits.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_occurrences"),
                 F.min("pa").cast("bigint").alias("first_pos"))
            .orderBy("doc_id"))


# --- Hard-negative mining for retrieval training ---------------------------

from .llm_dedup import _SHINGLES as _SH3  # noqa: E402

_HN_TOPK = 10


@query(
    "hard_negative_mining",
    oracle=f"""
    WITH {_BM25_CTES},
    tok2 AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    shing AS (SELECT doc_id, {_SH3} AS sh FROM tok2),
    srows AS (SELECT doc_id, unnest(sh) AS s FROM shing),
    qsh AS (SELECT srows.s AS s FROM srows, sc
            WHERE srows.doc_id = sc.qdoc),
    ssz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
            FROM srows GROUP BY 1),
    inter AS (
      SELECT r.doc_id, CAST(count(*) AS BIGINT) AS i
      FROM srows r JOIN qsh q ON r.s = q.s
      GROUP BY 1),
    jac AS (
      SELECT z.doc_id,
             coalesce(i.i, 0) AS i, z.n_sh,
             (SELECT n_sh FROM ssz, sc WHERE ssz.doc_id = sc.qdoc)
                 AS qn
      FROM ssz z LEFT JOIN inter i ON i.doc_id = z.doc_id),
    cand AS (
      SELECT t.doc_id, t.bm25,
             CAST((2 * CAST(j.i AS HUGEINT) * 1000000
                   + (j.qn + j.n_sh - j.i))
                  // (2 * CAST(j.qn + j.n_sh - j.i AS HUGEINT))
                  AS DOUBLE) / 1000000.0 AS jaccard_to_q
      FROM total t JOIN jac j ON j.doc_id = t.doc_id
      WHERE 2 * j.i < j.qn + j.n_sh - j.i)
    SELECT doc_id, bm25, jaccard_to_q, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc_id)
                        AS rn FROM cand) t
    WHERE rn <= {_HN_TOPK} ORDER BY rank
    """,
    doc=f"hard-negative mining for retrieval/embedding training "
        "(DPR/contrastive fine-tuning): candidates score HIGH on "
        "BM25 against the query document but are NOT near-duplicates "
        "of it — lexically-close-yet-different examples, the "
        "negatives that actually teach a ranker. Reuses the shared "
        "BM25 pipeline (_bm25_parts: pruned posting join, sorted "
        "fold, exact stats) and the distinct-shingle Jaccard "
        "machinery; the dup exclusion 2i < union is exact-integer "
        "(Jaccard >= 1/2 cross-multiplied, same predicate as "
        "lsh_vs_exact_eval), and only the qdoc's shingle set joins "
        f"the corpus — df(q-shingles) rows, never all-pairs. Top "
        f"{_HN_TOPK} negatives via TakeOrderedAndProject. The mined "
        "(query, negative) pairs feed straight into "
        "negative_sampling's contrastive builder",
    exchanges=32,
)
def hard_negative_mining(spark, sf_dir):
    from ..functions import dedup as DD
    docs = table(spark, sf_dir, "documents")
    _, _, sc, total = _bm25_parts(spark, sf_dir)
    sh = DD._doc_shingles(docs, "text", "doc_id", 3)
    qsh = (sh.join(F.broadcast(sc.select("qdoc")),
                   sh.doc_id == F.col("qdoc"))
           .select("s").distinct())
    ssz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    qn = (ssz.join(F.broadcast(sc.select("qdoc")),
                   ssz.doc_id == F.col("qdoc"))
          .select(F.col("n_sh").alias("qn")))
    inter = (sh.join(F.broadcast(qsh), "s")
             .groupBy("doc_id").agg(F.count(F.lit(1)).alias("i")))
    jac = (ssz.join(inter, "doc_id", "left")
           .withColumn("i", F.coalesce("i", F.lit(0)))
           .crossJoin(F.broadcast(qn)))
    union = F.col("qn") + F.col("n_sh") - F.col("i")
    cand = (total.join(jac, "doc_id")
            .filter(2 * F.col("i") < union)
            .select("doc_id", "bm25",
                    ratio_round6(F.col("i"), union)
                    .alias("jaccard_to_q")))
    top = cand.orderBy(F.desc("bm25"), "doc_id").limit(_HN_TOPK)
    w = Window.orderBy(F.desc("bm25"), "doc_id")
    return (top.withColumn("rank", F.row_number().over(w)
                           .cast("bigint"))
            .select("doc_id", "bm25", "jaccard_to_q", "rank")
            .orderBy("rank"))
