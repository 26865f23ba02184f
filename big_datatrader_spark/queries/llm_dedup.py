"""Dedup queries over the documents/embeddings tables: the dedup ladder
(exact -> n-gram Jaccard -> MinHash+LSH -> SimHash -> embedding cosine).

Every hash in the ladder is md5-derived (functions/dedup.h60), so the
DuckDB oracles reproduce the Spark results bit-for-bit:
  spark : CAST(conv(substr(md5(x),1,15),16,10) AS BIGINT)
  duckdb: CAST('0x' || substr(md5(x),1,15) AS BIGINT)
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions import dedup as DD
from ..functions import similarity as SIM
from ..operators.exact import ratio_round6
from ..sources.parquet_source import table
from . import lazy_cache, query

# ---- DuckDB oracle snippets (tokens / shingles / h60) --------------------

_TOKS = ("CASE WHEN trim(text) = '' THEN [] ELSE "
         "list_transform(regexp_split_to_array(trim(text), '\\s+'), "
         "t -> lower(t)) END")

# distinct word trigram shingles; short docs -> single full-text
# shingle; empty docs -> none
_SHINGLES = ("CASE WHEN len(t) = 0 THEN []::VARCHAR[] "
             "WHEN len(t) >= 3 THEN list_distinct(list_transform("
             "range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')))"
             " ELSE [array_to_string(t, ' ')] END")


def _h60(x: str) -> str:
    return f"CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"


NUM_HASHES, BANDS = 12, 4
ROWS_PER_BAND = NUM_HASHES // BANDS


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(lower(trim(text))) AS fp,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
    doc="exact dedup: hash-groupBy on content fingerprint; keeps min id "
        "per group (one shuffle of 16-byte keys, never of bodies)",
    exchanges=1,
)
def dedup_exact(spark, sf_dir):
    return DD.exact_dedup(table(spark, sf_dir, "documents"))


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM toks),
    counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE)
                 / (ca.n_sh + cb.n_sh - n_common), 6) AS jaccard
    FROM pairs
    JOIN counts ca ON doc_a = ca.doc_id
    JOIN counts cb ON doc_b = cb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common)
          >= 0.8
    """,
    doc="exact n-gram (word-trigram) Jaccard near-dup pairs via "
        "inverted-index shingle join — no all-pairs product. Round 9: "
        "the shingle join now runs over one representative per "
        "distinct text (ngram_jaccard_pairs_collapsed), so EXACT "
        "corpus duplication no longer multiplies the posting-list "
        "work — measured 22.8s -> 3.5s at sf1, where every doc has "
        "10 verbatim copies; the id-pair output itself grows with "
        "duplication^2 and that term is semantics. Still tagged "
        "exact_semantics: df growth across DISTINCT near-duplicate "
        "texts keeps the exact-truth join super-linear BY "
        "CONSTRUCTION in the general corpus; the scale path is the "
        "registered df-capped twin, and bench.py reports a "
        "scale_path_total that excludes this member",
    bench=True,
    tags=("exact_semantics",),
    exchanges=15,
)
def dedup_ngram_jaccard(spark, sf_dir):
    return DD.ngram_jaccard_pairs_collapsed(
        table(spark, sf_dir, "documents"), n=3, threshold=0.8)


@query(
    "ngram_pair_blowup_audit",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text, {_TOKS} AS t FROM documents),
    tokful AS (SELECT doc_id, text FROM base WHERE len(t) > 0),
    fpn AS (SELECT doc_id, md5(text) AS fp FROM tokful),
    gr AS (SELECT fp, min(doc_id) AS doc_id FROM fpn GROUP BY fp),
    reps AS (SELECT b.doc_id, b.t
             FROM base b JOIN gr USING (doc_id)),
    sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s
           FROM (SELECT doc_id, t FROM reps)),
    dfs AS (SELECT s, CAST(count(*) AS BIGINT) AS df_s
            FROM sh GROUP BY 1)
    SELECT CAST((SELECT count(*) FROM gr) AS BIGINT) AS n_texts,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(df_s) AS BIGINT) AS n_postings,
           CAST(max(df_s) AS BIGINT) AS max_df,
           CAST(sum(df_s * (df_s - 1) // 2) AS BIGINT)
             AS join_rows_predicted,
           CAST(max(df_s * (df_s - 1) // 2) AS BIGINT)
             AS top_shingle_rows
    FROM dfs
    """,
    doc="pre-flight cardinality profile for dedup_ngram_jaccard's "
        "exact inverted-index join (VERDICT r10 ask #5 — the "
        "edit1_pair_blowup_audit discipline applied to the ngram "
        "family): join_rows_predicted = sum over shingles of "
        "C(df_s, 2) is EXACTLY the row count the posting-list "
        "self-join materializes before the pair groupBy, computed "
        "from one pass over the postings — so a pipeline can detect "
        "a boilerplate-driven df(s)^2 blow-up (and pick the max_df "
        "cap or the LSH path) BEFORE committing the shuffle. Shares "
        "the generator with the scorer structurally: reps come from "
        "functions/dedup.rep_relations and shingles from "
        "_capped_shingles — the exact relations "
        "ngram_jaccard_pairs_collapsed joins — so the audit cannot "
        "profile a different candidate set (prediction == actual "
        "pinned by tests/test_round11_ops.py). All stats are at "
        "distinct-text / shingle grain: the heaviest relation is the "
        "(rep, shingle) posting list itself, invariant under corpus "
        "duplication — the same pass the join would do anyway, "
        "minus the join",
    exchanges=6,
)
def ngram_pair_blowup_audit(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    fpn, gr, reps = DD.rep_relations(docs)
    summary = gr.agg(F.count(F.lit(1)).cast("long").alias("n_texts"))
    sh = DD._capped_shingles(reps.select("doc_id", "text"),
                             text_col="text", id_col="doc_id",
                             n=3, max_df=None)
    dfs = sh.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("df_s"))
    pair_rows = F.expr("df_s * (df_s - 1) DIV 2")
    prof = dfs.agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.sum("df_s").cast("long").alias("n_postings"),
        F.max("df_s").cast("long").alias("max_df"),
        F.sum(pair_rows).cast("long").alias("join_rows_predicted"),
        F.max(pair_rows).cast("long").alias("top_shingle_rows"))
    return (prof.join(F.broadcast(summary))
            .select("n_texts", "n_shingles", "n_postings", "max_df",
                    "join_rows_predicted", "top_shingle_rows"))


def _minhash_sig_sql() -> str:
    # mirrors functions/dedup.minhash_signatures: one h60 per shingle
    # (reduced mod p), then per-family affine mixing — BIGINT arithmetic
    # is bit-identical across engines
    p = DD._MIX_P
    mins = [
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {p}))"
        for a, b in DD.mix_consts(NUM_HASHES)]
    return "[" + ", ".join(mins) + "]"


def _band_struct_sql() -> str:
    bands = []
    for bi in range(BANDS):
        parts = " || ',' || ".join(
            f"CAST(sig[{bi * ROWS_PER_BAND + ri + 1}] AS VARCHAR)"
            for ri in range(ROWS_PER_BAND))
        bands.append(f"{{'band': {bi}, 'bucket': md5({parts})}}")
    return "[" + ", ".join(bands) + "]"


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    shing AS (SELECT doc_id, {_SHINGLES} AS sh FROM toks),
    hashes AS (SELECT doc_id,
                      list_transform(sh, s -> {_h60('s')} % {DD._MIX_P})
                        AS hs
               FROM shing),
    sigs AS (SELECT doc_id, {_minhash_sig_sql()} AS sig FROM hashes),
    bandrows AS (
      SELECT doc_id, sig, unnest({_band_struct_sql()},
                                 recursive := true)
      FROM sigs),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM bandrows a JOIN bandrows b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           ROUND(CAST(len(list_filter(range(1, {NUM_HASHES + 1}),
                 i -> sig_a[i] = sig_b[i])) AS DOUBLE)
                 / {NUM_HASHES}.0, 6) AS est_jaccard
    FROM cand
    WHERE CAST(len(list_filter(range(1, {NUM_HASHES + 1}),
          i -> sig_a[i] = sig_b[i])) AS DOUBLE) / {NUM_HASHES}.0 >= 0.5
    """,
    doc=f"MinHash({NUM_HASHES})+LSH({BANDS} bands) near-dup candidates "
        "with estimated Jaccard — the all-pairs-free dedup path at "
        "corpus scale. Deliberately NOT the collapsed build: the "
        "duplication collapse was measured against this id-grain plan "
        "at sf1's 10x-verbatim corpus and LOST (1.14s vs 2.57s — the "
        "12-value signatures make bucket-depth growth cheaper than "
        "the expansion joins at these duplication factors; "
        "minhash_lsh_pairs_collapsed carries the numbers and stays "
        "the documented form for extreme-duplication corpora)",
    bench=True,
    exchanges=2,
)
def dedup_minhash_lsh(spark, sf_dir):
    return DD.minhash_lsh_pairs(
        table(spark, sf_dir, "documents"),
        num_hashes=NUM_HASHES, bands=BANDS, threshold=0.5)


def _simhash_sql(bits: int = 16) -> str:
    terms = []
    for b in range(bits):
        terms.append(
            f"CASE WHEN 2 * len(list_filter(th, h -> (h >> {b}) & 1 = 1))"
            f" - len(th) > 0 THEN CAST({1 << b} AS BIGINT)"
            f" ELSE 0 END")
    return " + ".join(terms)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    hashes AS (SELECT doc_id,
                      list_transform(t, x -> {_h60('x')}) AS th
               FROM toks),
    sh AS (SELECT doc_id, {_simhash_sql(32)} AS sh FROM hashes)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 2
    """,
    doc="32-bit SimHash near-dup pairs (hamming <= 2); majority vote "
        "per bit over token hashes",
    exchanges=1,
)
def dedup_simhash(spark, sf_dir):
    return DD.simhash_pairs(
        table(spark, sf_dir, "documents"), bits=32, max_hamming=2)


_JACCARD_PAIRS_SQL = f"""
    toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM toks),
    counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    jpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    near AS (
      SELECT doc_a, doc_b FROM jpairs
      JOIN counts ca ON doc_a = ca.doc_id
      JOIN counts cb ON doc_b = cb.doc_id
      WHERE CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common)
            >= 0.8)
"""


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_PAIRS_SQL},
    edges AS MATERIALIZED (
      SELECT doc_a AS u, doc_b AS v FROM near
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM near),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
    SELECT u AS doc_id, LEAST(u, min(v)) AS cluster_id
    FROM reach GROUP BY u
    """,
    doc="near-dup clustering: connected components over Jaccard>=0.8 "
        "pairs via iterative min-label propagation (join+groupBy per "
        "round); oracle uses a recursive-CTE transitive closure. The "
        "pair relation uses the duplication-collapsed build (round "
        "9), so exact copies enter the edge list through the "
        "fingerprint expansion, not through a 100x posting-list join",
)
def dedup_clusters(spark, sf_dir):
    pairs = DD.ngram_jaccard_pairs_collapsed(
        table(spark, sf_dir, "documents"), n=3, threshold=0.8)
    return DD.connected_components(pairs)


@query(
    "dedup_exact_kept",
    oracle="""
    WITH groups AS (
      SELECT md5(lower(trim(text))) AS fp, min(doc_id) AS keep_doc_id
      FROM documents GROUP BY 1)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN groups g
      ON md5(lower(trim(d.text))) = g.fp AND d.doc_id = g.keep_doc_id
    """,
    doc="exact dedup APPLIED: the cleaned corpus (one representative "
        "row per content fingerprint, min doc_id wins)",
    exchanges=1,
)
def dedup_exact_kept(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    groups = DD.exact_dedup(docs).select("fp", "keep_doc_id")
    from ..functions.text import fingerprint
    return (
        docs.withColumn("fp", fingerprint(F.col("text")))
        .join(groups, on="fp")
        .filter(F.col("doc_id") == F.col("keep_doc_id"))
        .select("doc_id", "lang", "source")
    )


@query(
    "golden_record_survivorship",
    oracle="""
    WITH d AS (
      SELECT md5(array_to_string(list_sort(list_distinct(
                 string_split(lower(trim(text)), ' '))), ' ')) AS fp,
             doc_id, lang, source, n_chars
      FROM documents),
    grp AS (
      SELECT fp, CAST(min(doc_id) AS BIGINT) AS golden_doc_id,
             CAST(count(*) AS BIGINT) AS n_members,
             CAST(max(n_chars) AS BIGINT) AS max_chars
      FROM d GROUP BY 1 HAVING count(*) >= 2),
    lc AS (SELECT fp, lang, count(*) AS c FROM d GROUP BY 1, 2),
    lsv AS (SELECT fp, lang AS lang_sv FROM (
        SELECT fp, lang, row_number() OVER (PARTITION BY fp
               ORDER BY c DESC, lang) AS rn FROM lc) t WHERE rn = 1),
    sc AS (SELECT fp, source, count(*) AS c FROM d GROUP BY 1, 2),
    ssv AS (SELECT fp, source AS source_sv FROM (
        SELECT fp, source, row_number() OVER (PARTITION BY fp
               ORDER BY c DESC, source) AS rn FROM sc) t WHERE rn = 1)
    SELECT g.golden_doc_id, g.n_members, l.lang_sv, s.source_sv,
           g.max_chars
    FROM grp g JOIN lsv l ON l.fp = g.fp JOIN ssv s ON s.fp = g.fp
    ORDER BY golden_doc_id
    """,
    doc="golden-record survivorship — the step AFTER dedup that MDM "
        "pipelines actually ship: per duplicate cluster (md5 of the "
        "SORTED DISTINCT TOKEN SET — the order-insensitive canonical "
        "form, so reshuffled copies of the same vocabulary cluster "
        "together where the verbatim fingerprint would miss them; "
        ">=2 members), elect the golden id (min doc_id, the "
        "dedup_exact keep rule) and merge the conflicting attributes "
        "by explicit survivorship rules — modal lang and source "
        "(count desc, value asc tie-break, so the merge is "
        "bit-deterministic), max n_chars (most-complete wins). "
        "dedup_exact_kept DROPS the losers' attributes; this keeps "
        "the best of each. All key-grain aggregates and fingerprint-"
        "keyed joins: the shuffle carries 16-byte fingerprints and "
        "attribute values, never document bodies — at 100 TB "
        "survivorship costs the same as the dedup groupBy it extends",
    scoped=True,
    exchanges=6,
)
def _grs_plan(spark, sf_dir, cache=lazy_cache):
    tokset_fp = F.md5(F.array_join(F.array_sort(F.array_distinct(
        F.split(F.lower(F.trim(F.col("text"))), " "))), " "))
    # the grp / modal(lang) / modal(source) branches aggregate on
    # DIFFERENT keys, so ReuseExchange cannot dedupe them — without
    # the cache each branch re-reads documents and re-derives the
    # token-set md5 over every text (3 corpus scans; the review
    # finding the join_cardinality_profile pattern fixed in r8).
    # Result is cluster-grain (small); run_scoped materializes it and
    # releases the cache (the exchange-budget test audits this
    # pre-checkpoint builder, the REAL plan — ADVICE r9 #1).
    d = cache(table(spark, sf_dir, "documents")
              .select(tokset_fp.alias("fp"),
                      "doc_id", "lang", "source", "n_chars"))
    grp = (d.groupBy("fp")
           .agg(F.min("doc_id").cast("long")
                .alias("golden_doc_id"),
                F.count(F.lit(1)).cast("long").alias("n_members"),
                F.max("n_chars").cast("long").alias("max_chars"))
           .filter(F.col("n_members") >= 2))

    def modal(col, alias):
        cnt = (d.groupBy("fp", col)
               .agg(F.count(F.lit(1)).alias("c")))
        w = Window.partitionBy("fp").orderBy(F.desc("c"), col)
        return (cnt.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("fp", F.col(col).alias(alias)))

    return (grp.join(modal("lang", "lang_sv"), "fp")
            .join(modal("source", "source_sv"), "fp")
            .select("golden_doc_id", "n_members", "lang_sv",
                    "source_sv", "max_chars")
            .orderBy("golden_doc_id"))


@query(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
           ROUND(list_dot_product(a.embedding::DOUBLE[],
                                  b.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                          a.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]))), 6)
               AS cosine_sim
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
          / (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                   a.embedding::DOUBLE[]))
             * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                     b.embedding::DOUBLE[]))) >= 0.4
    """,
    doc="embedding-cosine near-dup pairs, blocked on label so the join "
        "is per-block rather than all-pairs",
    exchanges=0,
)
def dedup_embedding_cosine(spark, sf_dir):
    return SIM.embedding_near_dup_pairs(
        table(spark, sf_dir, "embeddings"),
        block_col="label", threshold=0.4)


@query(
    "lsh_vs_exact_eval",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    shing AS MATERIALIZED (
      SELECT doc_id, {_SHINGLES} AS sh FROM toks),
    srows AS MATERIALIZED (
      SELECT doc_id, unnest(sh) AS s FROM shing),
    counts AS MATERIALIZED (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
               FROM srows GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS i
      FROM srows a JOIN srows b
        ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    exact AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN counts ca ON doc_a = ca.doc_id
      JOIN counts cb ON doc_b = cb.doc_id
      WHERE 3 * i >= ca.n_sh + cb.n_sh),
    hashes AS (SELECT doc_id,
                      list_transform(sh, s -> {_h60('s')} % {DD._MIX_P})
                          AS hs
               FROM shing WHERE len(sh) > 0),
    sigs AS (SELECT doc_id, {_minhash_sig_sql()} AS sig FROM hashes),
    bandrows AS MATERIALIZED (
      SELECT doc_id, sig, unnest({_band_struct_sql()}, recursive := true)
      FROM sigs),
    lsh AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bandrows a JOIN bandrows b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
      WHERE 2 * len(list_filter(range(1, {NUM_HASHES + 1}),
                    i -> a.sig[i] = b.sig[i])) >= {NUM_HASHES}),
    u AS (
      SELECT coalesce(e.doc_a, l.doc_a) AS doc_a,
             CAST(e.doc_a IS NOT NULL AS BIGINT) AS in_exact,
             CAST(l.doc_a IS NOT NULL AS BIGINT) AS in_lsh
      FROM exact e
      FULL OUTER JOIN lsh l
        ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b)
    SELECT CAST(sum(in_exact) AS BIGINT) AS n_exact,
           CAST(sum(in_lsh) AS BIGINT) AS n_lsh,
           CAST(sum(in_exact * in_lsh) AS BIGINT) AS tp,
           CAST(sum(in_lsh * (1 - in_exact)) AS BIGINT) AS fp,
           CAST(sum(in_exact * (1 - in_lsh)) AS BIGINT) AS fn,
           CAST((2 * CAST(sum(in_exact * in_lsh) AS HUGEINT) * 1000000
                 + sum(in_lsh))
                // (2 * CAST(sum(in_lsh) AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS precision6,
           CAST((2 * CAST(sum(in_exact * in_lsh) AS HUGEINT) * 1000000
                 + sum(in_exact))
                // (2 * CAST(sum(in_exact) AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS recall6
    FROM u
    """,
    doc=f"sketch-quality evaluation harness: the MinHash({NUM_HASHES})"
        f"+LSH({BANDS} bands) candidate pairs (est_jaccard >= 0.5) "
        "scored against ground-truth EXACT distinct-shingle Jaccard "
        ">= 0.5 over the identical shingle universe — the "
        "precision/recall audit you run before trusting a sketch "
        "config at corpus scale. Both pair sets build with the "
        "repo's existing machinery (inverted-index join for truth, "
        "banded equality join for LSH — neither is ever all-pairs); "
        "the exact-side threshold is the INTEGER predicate "
        "3*inter >= n_a + n_b (Jaccard >= 1/2 cross-multiplied) and "
        "the LSH side 2*matches >= num_hashes, so no float enters "
        "either keep decision. The confusion counts come from one "
        "full-outer join of two pair relations keyed (doc_a, doc_b) "
        "and the P/R ratios are exact integer divisions rounded "
        "half-away. At 100 TB you run this on a SAMPLED block of the "
        "corpus (the truth side is quadratic in df) — the harness "
        "shape is unchanged",
    exchanges=11,
)
def lsh_vs_exact_eval(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    sh = DD._doc_shingles(docs, "text", "doc_id", 3)
    counts = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, (F.col("a.s") == F.col("b.s"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("i")))
    ca = counts.select(F.col("doc_id").alias("doc_a"),
                       F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"),
                       F.col("n_sh").alias("n_b"))
    exact = (inter.join(F.broadcast(ca), "doc_a")
             .join(F.broadcast(cb), "doc_b")
             .filter(3 * F.col("i") >= F.col("n_a") + F.col("n_b"))
             .select("doc_a", "doc_b",
                     F.lit(1).cast("bigint").alias("in_exact")))
    lsh = (DD.minhash_lsh_pairs(docs, num_hashes=NUM_HASHES,
                                bands=BANDS, threshold=0.5)
           .select("doc_a", "doc_b",
                   F.lit(1).cast("bigint").alias("in_lsh")))
    u = (exact.join(lsh, ["doc_a", "doc_b"], "full_outer")
         .select(F.coalesce(F.col("in_exact"), F.lit(0))
                 .alias("in_exact"),
                 F.coalesce(F.col("in_lsh"), F.lit(0)).alias("in_lsh")))
    tp = F.sum(F.col("in_exact") * F.col("in_lsh"))
    nl = F.sum("in_lsh")
    ne = F.sum("in_exact")
    agg = u.agg(ne.alias("n_exact"), nl.alias("n_lsh"),
                tp.alias("tp"),
                F.sum(F.col("in_lsh") * (1 - F.col("in_exact")))
                .alias("fp"),
                F.sum(F.col("in_exact") * (1 - F.col("in_lsh")))
                .alias("fn"))
    return agg.select(
        "n_exact", "n_lsh", "tp", "fp", "fn",
        ratio_round6(F.col("tp"), F.col("n_lsh"))
        .alias("precision6"),
        ratio_round6(F.col("tp"), F.col("n_exact"))
        .alias("recall6"))


# ---------------------------------------------------------------------------
# Blocking-quality metrics: measure the LSH blocker itself. Every
# blocked dedup trades recall for candidate count; production pipelines
# track that trade as pairs-completeness (share of true near-dup pairs
# the blocker surfaces) and reduction-ratio (share of the quadratic
# pair space the blocker avoids). Ground truth = exact n-gram Jaccard
# >= 0.8 (the dedup_ngram_jaccard relation); candidates = ALL MinHash
# band collisions (threshold 0 — the blocker's raw output, before any
# verification).

@query(
    "blocking_quality_metrics",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM toks),
    counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    jpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    truth AS (
      SELECT doc_a, doc_b FROM jpairs
      JOIN counts ca ON doc_a = ca.doc_id
      JOIN counts cb ON doc_b = cb.doc_id
      WHERE CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common)
            >= 0.8),
    shing AS (SELECT doc_id, {_SHINGLES} AS sh FROM toks),
    hashes AS (SELECT doc_id,
                      list_transform(sh, s -> {_h60('s')} % {DD._MIX_P})
                        AS hs
               FROM shing WHERE len(sh) > 0),
    sigs AS (SELECT doc_id, {_minhash_sig_sql()} AS sig FROM hashes),
    bandrows AS (
      SELECT doc_id, unnest({_band_struct_sql()}, recursive := true)
      FROM sigs),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bandrows a JOIN bandrows b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id),
    m AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM counts) AS n_docs,
             (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
             (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
             (SELECT CAST(count(*) AS BIGINT) FROM truth t
              WHERE EXISTS (SELECT 1 FROM cand c
                            WHERE c.doc_a = t.doc_a
                              AND c.doc_b = t.doc_b)) AS n_caught)
    SELECT n_docs, n_true, n_cand, n_caught,
           CAST((2 * CAST(n_caught AS HUGEINT) * 1000000 + n_true)
                // (2 * CAST(n_true AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS pairs_completeness6,
           CAST((2 * CAST((n_docs * (n_docs - 1)) // 2 - n_cand AS HUGEINT)
                    * 1000000 + (n_docs * (n_docs - 1)) // 2)
                // (2 * CAST((n_docs * (n_docs - 1)) // 2 AS HUGEINT))
                AS DOUBLE) / 1000000.0 AS reduction_ratio6
    FROM m
    """,
    doc="blocking-quality audit of the MinHash-LSH blocker: "
        "pairs-completeness (true Jaccard>=0.8 pairs the raw band "
        "collisions surface) and reduction-ratio (share of the "
        "quadratic pair space never considered), over docs with >= 1 "
        "shingle. Both engines derive truth AND candidates from the "
        "same md5-based hash family, so the one-row metric relation "
        "is hash-exact. This is the measurement a 100 TB dedup run "
        "makes BEFORE committing to a blocker: completeness bounds "
        "recall, reduction bounds cost. Scale caveat (measured in "
        "SCALING.md): the truth side's VERBATIM-duplication blow-up "
        "was removed in round 9 (collapsed build — 67s -> 8.0s at "
        "sf1); what remains super-linear BY CONSTRUCTION is exact "
        "truth under heavy NEAR-duplication (df growth across "
        "distinct texts), so at corpus scale this audit still runs "
        "on a deterministic hash SAMPLE of docs (unbiased for "
        "pairs-completeness) or with the df-capped truth variant; "
        "the blocker being measured stays linear either way",
    tags=("exact_semantics",),
    # 44 > the original 23: the truth side's duplication collapse
    # (round 9) adds fingerprint groupBy/expansion stages to the
    # PLANNED tree — but the duplication^2 posting-list cost they
    # remove measured 67s -> 8.0s at sf1 (SCALING.md); the extra
    # exchanges are fp/id-narrow
    exchanges=44,
)
def blocking_quality_metrics(spark, sf_dir):
    return _blocking_metrics(table(spark, sf_dir, "documents"))


def _blocking_metrics(docs):
    """PC/RR metric assembly over any document relation (full corpus
    or a deterministic sample): exact truth, raw band collisions, and
    the one-row integer metric relation. The truth side uses the
    duplication-collapsed jaccard build (round 9): the pair SET is
    provably identical (tests/test_properties_r9.py), so n_true /
    n_caught — and therefore the metric row and its oracle — are
    unchanged, while the truth stage's duplication^2 posting-list
    cost collapses to distinct-text grain."""
    truth = (DD.ngram_jaccard_pairs_collapsed(docs, n=3,
                                              threshold=0.8)
             .select("doc_a", "doc_b"))
    cand = (DD.minhash_lsh_pairs(docs, num_hashes=NUM_HASHES,
                                 bands=BANDS, threshold=0.0)
            .select("doc_a", "doc_b"))
    # docs with >= 1 shingle == docs with non-empty trimmed text (the
    # _SHINGLES convention: only len(t) = 0 yields no shingles)
    n_docs = (docs.filter(F.trim(F.col("text")) != "")
              .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
    n_true = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_cand"))
    n_caught = (truth.join(cand, ["doc_a", "doc_b"], "left_semi")
                .agg(F.count(F.lit(1)).cast("long").alias("n_caught")))
    m = (n_docs.crossJoin(F.broadcast(n_true))
         .crossJoin(F.broadcast(n_cand))
         .crossJoin(F.broadcast(n_caught)))
    # exact integer halving (n*(n-1) is always even): the / operator
    # would detour through DOUBLE and lose low bits past 2^53
    all_pairs = F.expr("(n_docs * (n_docs - 1)) DIV 2")
    return m.select(
        "n_docs", "n_true", "n_cand", "n_caught",
        ratio_round6(F.col("n_caught"), F.col("n_true"))
        .alias("pairs_completeness6"),
        ratio_round6(all_pairs - F.col("n_cand"), all_pairs)
        .alias("reduction_ratio6"))


# deterministic 50% doc sample: 60-bit md5 of the doc id, mod 4 < 2 —
# both engines compute the identical predicate, so the sample (and
# therefore the metric relation) is hash-exact
_SAMPLE_PRED_SQL = f"({_h60('CAST(doc_id AS VARCHAR)')} % 4) < 2"


@query(
    "blocking_quality_metrics_sampled",
    oracle=f"""
    WITH sdocs AS (SELECT doc_id, text FROM documents
                   WHERE {_SAMPLE_PRED_SQL}),
    toks AS (SELECT doc_id, {_TOKS} AS t FROM sdocs),
    sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM toks),
    counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    jpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    truth AS (
      SELECT doc_a, doc_b FROM jpairs
      JOIN counts ca ON doc_a = ca.doc_id
      JOIN counts cb ON doc_b = cb.doc_id
      WHERE CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common)
            >= 0.8),
    shing AS (SELECT doc_id, {_SHINGLES} AS sh FROM toks),
    hashes AS (SELECT doc_id,
                      list_transform(sh, s -> {_h60('s')} % {DD._MIX_P})
                        AS hs
               FROM shing WHERE len(sh) > 0),
    sigs AS (SELECT doc_id, {_minhash_sig_sql()} AS sig FROM hashes),
    bandrows AS (
      SELECT doc_id, unnest({_band_struct_sql()}, recursive := true)
      FROM sigs),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bandrows a JOIN bandrows b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id),
    m AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM counts) AS n_docs,
             (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
             (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
             (SELECT CAST(count(*) AS BIGINT) FROM truth t
              WHERE EXISTS (SELECT 1 FROM cand c
                            WHERE c.doc_a = t.doc_a
                              AND c.doc_b = t.doc_b)) AS n_caught)
    SELECT n_docs, n_true, n_cand, n_caught,
           CAST((2 * CAST(n_caught AS HUGEINT) * 1000000 + n_true)
                // (2 * CAST(n_true AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS pairs_completeness6,
           CAST((2 * CAST((n_docs * (n_docs - 1)) // 2 - n_cand AS HUGEINT)
                    * 1000000 + (n_docs * (n_docs - 1)) // 2)
                // (2 * CAST((n_docs * (n_docs - 1)) // 2 AS HUGEINT))
                AS DOUBLE) / 1000000.0 AS reduction_ratio6
    FROM m
    """,
    doc="the scale-safe member of the blocking-audit family (VERDICT "
        "r7 ask #5): identical PC/RR metrics computed over a "
        "deterministic md5(doc_id) 50% document sample, implementing "
        "the sampling playbook blocking_quality_metrics's own "
        "docstring prescribes. Doc-sampling at rate p keeps each true "
        "pair with probability p^2, and the LSH blocker is per-doc "
        "deterministic, so caught-given-sampled is unchanged — the "
        "sampled PC is a consistent ratio estimator of corpus PC "
        "while the super-linear exact-truth stage runs on p^2 of the "
        "pair space (p=0.5 here; at 100 TB you dial p so the sample "
        "fits one executor wave). Hash-exact: the sample predicate is "
        "the shared 60-bit md5 both engines compute bit-identically, "
        "so this is a full-oracle query, not a bound check",
    exchanges=44,
)
def blocking_quality_metrics_sampled(spark, sf_dir):
    docs = (table(spark, sf_dir, "documents")
            .filter((DD.h60(F.col("doc_id").cast("string")) % 4) < 2))
    return _blocking_metrics(docs)
