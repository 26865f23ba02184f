"""Text-analysis queries over the documents table (north-star LLM-data
operators): token stats, quality scoring, language ID, fingerprinting.

Shared tokenization convention (functions/text.py): tokens =
lowercased ``\\s+`` split of trim(text); empty text -> empty array. The
DuckDB oracles reproduce the convention with list lambdas.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions import text as TX
from ..operators.exact import ratio_round6
from ..session import scan_floor
from ..sources.parquet_source import table
from . import leased_doc_tokens, query

_R = 6

# oracle snippet: the tokens expression (DuckDB dialect)
_TOKS = ("CASE WHEN trim(text) = '' THEN [] ELSE "
         "list_transform(regexp_split_to_array(trim(text), '\\s+'), "
         "t -> lower(t)) END")


def _sw_list(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in TX.STOPWORDS[lang]) + "]"


def _tok_rows(spark, sf_dir):
    """(doc_id, tok) exploded token rows — from the doc_tokens lease
    when a SharedScope is open (tokenize once per scope), else the
    direct inline tokenization (the unscoped plan stays bit-identical
    to the pre-lease form; see leased_doc_tokens on why the inline
    build must not route through a (doc_id, t) projection)."""
    rel = leased_doc_tokens(spark, sf_dir)
    if rel is not None:
        return rel.select("doc_id", F.explode("t").alias("tok"))
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok"))


def _token_stat_cols(toks):
    """text_token_stats derivations, shared verbatim between the
    inline (unscoped) and leased (scoped) token sources so the two
    paths cannot drift."""
    return [
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long")
         .alias("n_distinct_tokens"),
        F.round(TX.avg_token_len(toks), _R).alias("avg_token_len"),
        F.round(F.try_divide(
            TX.stopword_hits(toks, "en").cast("double"),
            F.size(toks).cast("double")), _R).alias("stopword_ratio"),
    ]


@query(
    "text_token_stats",
    oracle=f"""
    WITH toks AS (SELECT doc_id, length(text) AS n_chars, {_TOKS} AS t
                  FROM documents)
    SELECT doc_id, n_chars,
           len(t) AS n_tokens,
           len(list_distinct(t)) AS n_distinct_tokens,
           ROUND(CAST(list_sum(list_transform(t, x -> length(x)))
                 AS DOUBLE) / len(t), 6) AS avg_token_len,
           ROUND(CAST(len(list_filter(t,
                 x -> list_contains({_sw_list('en')}, x))) AS DOUBLE)
                 / len(t), 6) AS stopword_ratio
    FROM toks
    """,
    doc="token counting + lexical stats, all JVM-side array functions",
    bench=True,
    exchanges=1,
)
def text_token_stats(spark, sf_dir):
    rel = leased_doc_tokens(spark, sf_dir)
    if rel is not None:
        return rel.select("doc_id", "n_chars",
                          *_token_stat_cols(F.col("t")))
    # r15 (guide §2/§2.5, VERDICT r14 ask #7): the whole query is one
    # narrow tokenize+array-op pass, and the driver parquet's
    # one-row-group layout ran it on a single core at every sf (the
    # suite's worst 10x scaler: 7.2x wall at sf1). scan_floor
    # hash-repartitions the raw rows by doc_id when the scan cannot
    # feed the cores — measured sf1 2.64 -> 0.79s (3.3x), sf0.1
    # 0.78 -> 0.65s; inert on multi-row-group layouts.
    docs = scan_floor(table(spark, sf_dir, "documents"), "doc_id")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        *_token_stat_cols(TX.tokens(F.col("text"))),
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH toks AS (SELECT doc_id, text, {_TOKS} AS t FROM documents),
    scored AS (
      SELECT doc_id,
             0.5 * LEAST(length(text) / 500.0, 1.0)
             + 0.5 * LEAST(COALESCE(
                   CAST(len(list_filter(t,
                       x -> list_contains({_sw_list('en')}, x)))
                   AS DOUBLE) / len(t), 0.0) * 5.0, 1.0) AS q
      FROM toks)
    SELECT doc_id, ROUND(q, 6) AS quality, q > 0.5 AS is_quality
    FROM scored
    """,
    doc="deterministic quality heuristic (length + stopword density) — "
        "the cheap pre-filter stage of an LLM data pipeline",
    exchanges=0,
)
def text_quality_score(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    q = TX.quality_score(F.col("text"))
    return docs.select(
        "doc_id",
        F.round(q, _R).alias("quality"),
        (q > 0.5).alias("is_quality"),
    )


@query(
    "lang_id",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
    hits AS (
      SELECT doc_id, lang,
             {", ".join(
                 f"len(list_filter(t, x -> list_contains("
                 f"{_sw_list(lang)}, x))) AS hits_{lang}"
                 for lang in TX.LANGS)}
      FROM toks)
    SELECT doc_id, lang,
           CASE WHEN GREATEST(hits_en, hits_es, hits_fr, hits_de,
                              hits_zh) = 0 THEN 'und'
                {" ".join(
                    f"WHEN hits_{lang} = GREATEST(hits_en, hits_es, "
                    f"hits_fr, hits_de, hits_zh) THEN '{lang}'"
                    for lang in TX.LANGS)}
           END AS pred_lang,
           {", ".join(f"CAST(hits_{lang} AS BIGINT) AS hits_{lang}"
                      for lang in TX.LANGS)}
    FROM hits
    """,
    doc="stopword-inventory language ID heuristic (n-gram-free variant); "
        "ties break in fixed language order",
    exchanges=0,
)
def lang_id(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    scores = TX.lang_scores(toks)
    return docs.select(
        "doc_id", "lang",
        TX.predicted_lang(toks).alias("pred_lang"),
        *[scores[lang].cast("long").alias(f"hits_{lang}")
          for lang in TX.LANGS],
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id, md5(lower(trim(text))) AS fp,
           octet_length(CAST(text AS BLOB)) AS n_bytes
    FROM documents
    """,
    doc="content fingerprint (md5 of canonicalized text) — the exact-"
        "dedup key — plus byte length",
    exchanges=0,
)
def doc_fingerprint(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.fingerprint(F.col("text")).alias("fp"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )


@query(
    "token_frequencies",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    flat AS (SELECT doc_id, unnest(t) AS tok FROM toks)
    SELECT tok, count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS n_docs
    FROM flat GROUP BY tok
    ORDER BY n_occurrences DESC, tok
    LIMIT 50
    """,
    doc="corpus token frequencies (explode -> groupBy -> deterministic "
        "top-50): the word-count shape, plus document frequency",
    exchanges=2,
)
def token_frequencies(spark, sf_dir):
    flat = _tok_rows(spark, sf_dir)
    return (
        flat.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_occurrences"),
             F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.desc("n_occurrences"), "tok")
        .limit(50)
    )


@query(
    "token_count_bpe_ish",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_ish_tokens,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+'))
           END AS ws_tokens
    FROM documents
    """,
    doc="pre-tokenizer-style token count (letter/digit runs + single "
        "punctuation) next to the whitespace count",
    exchanges=0,
)
def token_count_bpe_ish(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.bpe_ish_token_count(F.col("text")).cast("long")
          .alias("bpe_ish_tokens"),
        TX.token_count(F.col("text")).cast("long").alias("ws_tokens"),
    )


# ---------------------------------------------------------------------------
# Token normalization (stemming-lite) + collapsed frequencies

@query(
    "stem_token_frequencies",
    oracle=f"""
    WITH tk AS (SELECT unnest({_TOKS}) AS tok FROM documents),
    nm AS (SELECT tok,
                  CASE WHEN length(regexp_replace(tok,
                           '(ing|ed|es|s)$', '')) >= 3
                       THEN regexp_replace(tok, '(ing|ed|es|s)$', '')
                       ELSE tok END AS norm
           FROM tk)
    SELECT norm,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT tok) AS BIGINT) AS n_surface_forms
    FROM nm GROUP BY norm
    ORDER BY n_occurrences DESC, norm LIMIT 100
    """,
    doc="suffix-stripping token normalization (stemming-lite: ing/ed/"
        "es/s dropped unless the stem would fall under 3 chars) with "
        "collapsed frequencies — the normalize-before-dedup/index "
        "stage; n_surface_forms shows how many raw variants fold into "
        "each stem. One explode + one groupBy, top-100 under a "
        "deterministic order; the normalization is a scalar regexp in "
        "codegen, identical in Spark and DuckDB (RE2-compatible "
        "pattern, no engine-specific syntax)",
    exchanges=2,
)
def stem_token_frequencies(spark, sf_dir):
    stem = F.regexp_replace(F.col("tok"), r"(ing|ed|es|s)$", "")
    norm = F.when(F.length(stem) >= 3, stem).otherwise(F.col("tok"))
    return (
        _tok_rows(spark, sf_dir)
        .select("tok", norm.alias("norm"))
        .groupBy("norm")
        .agg(F.count(F.lit(1)).alias("n_occurrences"),
             F.countDistinct("tok").alias("n_surface_forms"))
        .orderBy(F.desc("n_occurrences"), "norm")
        .limit(100)
    )


# --- Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03) ------

_WIN_K = 5         # char k-gram length
_WIN_W = 4         # winnowing window (guarantee threshold t = w+k-1)
_POS_BITS = 1 << 20  # pack = h40 * 2^20 + (2^20-1-pos); h40 < 2^40


@query(
    "winnowing_fingerprints",
    bench=True,
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS c
      FROM documents),
    g0 AS (
      SELECT doc_id, c,
             unnest(generate_series(1, length(c) - {_WIN_K - 1})) AS p
      FROM t WHERE length(c) >= {_WIN_K}),
    pk AS (
      SELECT doc_id, p,
             CAST(('0x' || substr(md5(substr(c, p, {_WIN_K})), 1, 10))
                 AS BIGINT) * {_POS_BITS}
                 + ({_POS_BITS - 1} - p) AS pack
      FROM g0),
    sel AS (
      SELECT doc_id, p,
             min(pack) OVER (PARTITION BY doc_id ORDER BY p
                             ROWS BETWEEN {_WIN_W - 1} PRECEDING
                             AND CURRENT ROW) AS s
      FROM pk),
    fp AS (SELECT DISTINCT doc_id, s FROM sel WHERE p >= {_WIN_W})
    SELECT doc_id,
           CAST(s // {_POS_BITS} AS BIGINT) AS fp_hash,
           CAST({_POS_BITS - 1} - s % {_POS_BITS} AS BIGINT) AS fp_pos
    FROM fp
    """,
    doc=f"MOSS winnowing (Schleimer et al. 2003): canonicalize "
        f"(lowercase, alphanumerics only), hash every char {_WIN_K}-"
        f"gram to 40 bits, slide a {_WIN_W}-hash window and keep each "
        "window's MINIMUM hash with rightmost tie-break — the "
        "guarantee-threshold fingerprinting scheme plagiarism/overlap "
        "detectors are built on, giving ~2/(w+1) density with every "
        f"match of length >= {_WIN_W + _WIN_K - 1} guaranteed caught. "
        "The min-with-rightmost-tie-break is ONE window min over "
        "packed h*2^20 + (2^20-1-pos) BIGINTs (no UDF, no sort "
        "beyond the shared per-doc window exchange); dedup of "
        "per-window selections is a distinct on the packed value. "
        "Fingerprints, not text, are what a cross-corpus overlap "
        "join ships at 100 TB",
    # the per-doc (doc_id) window, which the distinct rides; no
    # output sort
    exchanges=1,
)
def winnowing_fingerprints(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    c = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "")
    base = (docs.select("doc_id", c.alias("c"))
            .filter(F.length("c") >= _WIN_K))
    # Move the window's doc_id exchange BELOW the k-gram expansion:
    # without this the scan stage computes regex + explode + one md5
    # per character position BEFORE the shuffle — i.e. on however few
    # tasks the file layout gives the scan (ONE task here: the r8
    # bench regression and the 19.1s sf1 pacing item were this query
    # hashing 1.2M/12M k-grams on one core). Repartitioning the
    # (doc_id, canonical-text) rows first keeps the plan at the same
    # single exchange (hashpartitioning(doc_id) satisfies the window),
    # ships bytes-of-text instead of 3 BIGINTs per k-gram, and runs
    # the expansion on every core. Explicit partition count: an
    # AQE-coalescable exchange would merge ~10 MB of text back to one
    # partition and re-serialize the hashing. Measured at sf0.1:
    # 2.3s -> 0.5s, identical result set.
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    base = base.repartition(n, "doc_id")
    g = base.select(
        "doc_id", "c",
        F.explode(F.sequence(
            F.lit(1), F.length("c") - (_WIN_K - 1))).alias("p"))
    h40 = F.conv(F.substring(
        F.md5(F.expr(f"substring(c, p, {_WIN_K})")), 1, 10),
        16, 10).cast("long")
    pk = g.select(
        "doc_id", "p",
        (h40 * _POS_BITS + (F.lit(_POS_BITS - 1) - F.col("p")))
        .alias("pack"))
    from pyspark.sql import Window
    w = (Window.partitionBy("doc_id").orderBy("p")
         .rowsBetween(-(_WIN_W - 1), 0))
    sel = (pk.select("doc_id", "p",
                     F.min("pack").over(w).alias("s"))
           .filter(F.col("p") >= _WIN_W)
           .select("doc_id", "s").distinct())
    # No output ORDER BY: the distinct rides the window's doc_id
    # exchange (hashpartitioning(doc_id) satisfies the (doc_id, s)
    # clustering), so a final global sort would be the plan's ONLY
    # second exchange — a corpus-sized range shuffle bought purely for
    # presentation (no LIMIT; the correctness compare sorts rows
    # canonically on both engines). Measured -22% at sf0.1.
    return sel.select(
        "doc_id",
        # integer DIV: double division loses bits at 2^60
        F.expr(f"s DIV {_POS_BITS}").alias("fp_hash"),
        (F.lit(_POS_BITS - 1) - F.col("s") % _POS_BITS)
        .cast("bigint").alias("fp_pos"))


# --- Multinomial Naive Bayes language classifier (train + score) -----------

_NB_SCALE = 1000000000  # log-prob term -> integer nano-nats


# shared oracle CTE chain through the per-(doc, lang) scores tot —
# used by the classifier and the calibration curve below
_NB_CTES = f"""tk AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
           FROM tk GROUP BY 1, 2),
    lt AS (SELECT d.lang, tk.tok, CAST(count(*) AS BIGINT) AS c
           FROM tk JOIN documents d USING (doc_id) GROUP BY 1, 2),
    sl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS s
           FROM lt GROUP BY 1),
    vocab AS (SELECT DISTINCT tok FROM tk),
    vn AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
    pri AS (SELECT lang, CAST(count(*) AS BIGINT) AS nl
            FROM documents GROUP BY 1),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    grid AS (SELECT v.tok, p.lang, coalesce(lt.c, 0) AS c
             FROM vocab v CROSS JOIN pri p
             LEFT JOIN lt ON lt.tok = v.tok AND lt.lang = p.lang),
    term AS (SELECT g.tok, g.lang,
                    CAST(ROUND(ln(CAST(g.c + 1 AS DOUBLE)
                                  / (sl.s + vn.v))
                               * {_NB_SCALE}) AS BIGINT) AS lw
             FROM grid g JOIN sl USING (lang) CROSS JOIN vn),
    priw AS (SELECT lang,
                    CAST(ROUND(ln(CAST(nl AS DOUBLE) / nn.n)
                               * {_NB_SCALE}) AS BIGINT) AS pw
             FROM pri CROSS JOIN nn),
    sc AS (SELECT tf.doc_id, t.lang,
                  CAST(sum(tf.tf * t.lw) AS BIGINT) AS tsum
           FROM tf JOIN term t USING (tok) GROUP BY 1, 2),
    tot AS (SELECT sc.doc_id, sc.lang, sc.tsum + priw.pw AS sscore
            FROM sc JOIN priw USING (lang))"""


@query(
    "naive_bayes_lang_score",
    oracle=f"""
    WITH {_NB_CTES},
    best AS (SELECT doc_id, lang AS pred_lang, sscore,
                    row_number() OVER (PARTITION BY doc_id
                                       ORDER BY sscore DESC, lang)
                        AS rn
             FROM tot)
    SELECT b.doc_id, d.lang AS actual_lang, b.pred_lang,
           ROUND(b.sscore / {_NB_SCALE}.0, 6) AS log_score,
           (b.pred_lang = d.lang) AS is_correct
    FROM best b JOIN documents d ON d.doc_id = b.doc_id
    WHERE rn = 1 ORDER BY b.doc_id
    """,
    doc="multinomial Naive Bayes language classifier, trained AND "
        "scored distributed: per-(lang, token) occurrence counts with "
        "Laplace smoothing give log P(tok|lang), doc log-likelihoods "
        "are token-frequency-weighted sums plus the log prior, argmax "
        "per doc predicts the language. Exactness: every smoothed "
        "log-prob is ONE identical double ln((c+1)/(S_l+V)) rounded "
        "to integer nano-nats, so per-doc scores are exact BIGINT "
        "sums — order-insensitive across partitionings — and the "
        "argmax compares integers with a lang tie-break. Scale "
        "shape: training is two map-side-combined groupBys over the "
        "token stream; the model (vocab x 5 langs) is a hash-join "
        "side, priors/vocab-size are 1-5 row broadcasts; scoring "
        "is one equi-join + groupBy per doc — no collect, the model "
        "never leaves the cluster",
    # 16 > the original 14: deriving lt/vocab from tf adds two
    # token-scale exchanges but removes the second CORPUS-scale
    # explode+shuffle — measured 19% faster at sf0.1, and the
    # scan count (the 100 TB cost) drops from 2 to 1
    exchanges=16,
)
def naive_bayes_lang_score(spark, sf_dir):
    docs, tot = _nb_scores(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.desc("sscore"), "lang")
    best = (tot.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1))
    return (best.join(docs.select("doc_id",
                                  F.col("lang").alias("actual_lang")),
                      "doc_id")
            .select("doc_id", "actual_lang",
                    F.col("lang").alias("pred_lang"),
                    F.round(F.col("sscore") / float(_NB_SCALE), 6)
                    .alias("log_score"),
                    (F.col("lang") == F.col("actual_lang"))
                    .alias("is_correct"))
            .orderBy("doc_id"))


def _nb_scores(spark, sf_dir):
    """Shared NB pipeline: returns (docs, tot) where tot holds the
    exact integer nano-nat score of every (doc, lang) pair."""
    docs = table(spark, sf_dir, "documents")
    tk = docs.select("doc_id",
                     F.explode(TX.tokens(F.col("text"))).alias("tok"))
    tf = tk.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("tf"))
    # derive the per-(lang, token) counts and the vocabulary from tf
    # instead of re-exploding the token stream: one corpus explode
    # feeds the whole model (sum of per-doc tfs == occurrence count)
    lt = (tf.join(docs.select("doc_id", "lang"), "doc_id")
          .groupBy("lang", "tok").agg(F.sum("tf").alias("c")))
    sl = lt.groupBy("lang").agg(F.sum("c").alias("s"))
    vocab = tf.select("tok").distinct()
    vn = vocab.agg(F.count(F.lit(1)).alias("v"))
    pri = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("nl"))
    nn = docs.agg(F.count(F.lit(1)).alias("n"))
    grid = (vocab.crossJoin(F.broadcast(pri.select("lang")))
            .join(lt, ["tok", "lang"], "left")
            .select("tok", "lang",
                    F.coalesce("c", F.lit(0).cast("bigint"))
                    .alias("c")))
    term = (grid.join(F.broadcast(sl), "lang")
            .crossJoin(F.broadcast(vn))
            .select("tok", "lang",
                    F.round(F.log((F.col("c") + 1).cast("double")
                                  / (F.col("s") + F.col("v")))
                            * _NB_SCALE).cast("bigint").alias("lw")))
    priw = (pri.crossJoin(F.broadcast(nn))
            .select("lang",
                    F.round(F.log(F.col("nl").cast("double")
                                  / F.col("n"))
                            * _NB_SCALE).cast("bigint").alias("pw")))
    sc = (tf.join(term, "tok")
          .groupBy("doc_id", "lang")
          .agg(F.sum(F.col("tf") * F.col("lw")).alias("tsum")))
    tot = (sc.join(F.broadcast(priw), "lang")
           .select("doc_id", "lang",
                   (F.col("tsum") + F.col("pw")).alias("sscore")))
    return docs, tot


# --- Character-entropy quality signal --------------------------------------

_ENT_SCALE = 1000000000


@query(
    "char_entropy_quality",
    oracle=f"""
    WITH ch AS (
      SELECT doc_id, unnest(regexp_split_to_array(text, '')) AS c
      FROM documents WHERE length(text) > 0),
    cnt AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS k
            FROM ch GROUP BY 1, 2),
    agg AS (
      SELECT doc_id,
             CAST(sum(k) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS distinct_chars,
             CAST(sum(k * CAST(ROUND(ln(CAST(k AS DOUBLE))
                                     * {_ENT_SCALE}) AS BIGINT))
                 AS BIGINT) AS ssum
      FROM cnt GROUP BY 1)
    SELECT doc_id, n AS n_chars_counted, distinct_chars,
           ROUND(ln(CAST(n AS DOUBLE))
                 - (CAST(ssum AS DOUBLE) / {_ENT_SCALE}.0) / n, 6)
               AS entropy_nats,
           (ln(CAST(n AS DOUBLE))
            - (CAST(ssum AS DOUBLE) / {_ENT_SCALE}.0) / n) < 3.0
               AS low_entropy
    FROM agg ORDER BY doc_id
    """,
    doc="per-document Shannon character entropy — the compressibility "
        "quality signal (low entropy = repetitive/template/boilerplate "
        "text) every corpus-cleaning pass computes. Exactness: "
        "H = ln(n) - (1/n)*sum(k_c*ln(k_c)); each ln(k) is rounded to "
        "integer nano-nats so the inner sum is an exact BIGINT, and "
        "the outer expression is one identical double computation per "
        "doc. Plan: explode chars -> one map-side-combined groupBy "
        "pair, no joins, no windows — a pure streaming aggregate at "
        "any corpus size",
    exchanges=3,
)
def char_entropy_quality(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").filter(
        F.length("text") > 0)
    ch = docs.select("doc_id",
                     F.explode(F.split("text", "")).alias("c"))
    cnt = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("k"))
    lw = F.round(F.log(F.col("k").cast("double"))
                 * _ENT_SCALE).cast("bigint")
    agg = cnt.groupBy("doc_id").agg(
        F.sum("k").alias("n"),
        F.count(F.lit(1)).alias("distinct_chars"),
        F.sum(F.col("k") * lw).alias("ssum"))
    h = (F.log(F.col("n").cast("double"))
         - (F.col("ssum").cast("double") / float(_ENT_SCALE))
         / F.col("n"))
    return (agg.select("doc_id",
                       F.col("n").alias("n_chars_counted"),
                       "distinct_chars",
                       F.round(h, 6).alias("entropy_nats"),
                       (h < 3.0).alias("low_entropy"))
            .orderBy("doc_id"))


# --- Token co-occurrence PMI ------------------------------------------------

_PMI_MIN_DOCS = 5
_PMI_TOPK = 100


@query(
    "cooccurrence_pmi",
    oracle=f"""
    WITH dtok AS (
      SELECT DISTINCT doc_id, unnest({_TOKS}) AS tok FROM documents),
    nd AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM dtok
           GROUP BY 1),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents),
    pair AS (
      SELECT a.tok AS ta, b.tok AS tb,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM dtok a JOIN dtok b
        ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2 HAVING count(*) >= {_PMI_MIN_DOCS}),
    sc AS (
      SELECT p.ta, p.tb, p.n_ab,
             ROUND(ln(CAST(p.n_ab * nn.total AS DOUBLE)
                      / (na.n * nb.n)), 6) AS pmi
      FROM pair p JOIN nd na ON na.tok = p.ta
      JOIN nd nb ON nb.tok = p.tb CROSS JOIN nn)
    SELECT ta, tb, n_ab, pmi
    FROM sc ORDER BY pmi DESC, ta, tb LIMIT {_PMI_TOPK}
    """,
    doc=f"pointwise mutual information over token co-occurrence "
        f"(doc-level, support >= {_PMI_MIN_DOCS} docs, top "
        f"{_PMI_TOPK}): the collocation statistic behind phrase "
        "mining and word-association features. PMI = ln(n_ab*N / "
        "(n_a*n_b)) is ONE double of exact BIGINT document counts — "
        "no summation, so no order sensitivity. The pair generation "
        "is the basket-bounded self-join on doc_id (quadratic in "
        "tokens-per-doc, never corpus size); marginals are a "
        "broadcastable token-count table and the top-k is "
        "TakeOrderedAndProject",
    exchanges=8,
)
def cooccurrence_pmi(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    dtok = (docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .distinct())
    nd = dtok.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    nn = docs.agg(F.count(F.lit(1)).alias("total"))
    a = dtok.select("doc_id", F.col("tok").alias("ta"))
    b = dtok.select(F.col("doc_id").alias("d2"),
                    F.col("tok").alias("tb"))
    pair = (a.join(b, (a.doc_id == b.d2) & (F.col("ta") < F.col("tb")))
            .groupBy("ta", "tb").agg(F.count(F.lit(1)).alias("n_ab"))
            .filter(F.col("n_ab") >= _PMI_MIN_DOCS))
    sc = (pair
          .join(nd.select(F.col("tok").alias("ta"),
                          F.col("n").alias("na")), "ta")
          .join(nd.select(F.col("tok").alias("tb"),
                          F.col("n").alias("nb")), "tb")
          .crossJoin(F.broadcast(nn))
          .select("ta", "tb", "n_ab",
                  F.round(F.log((F.col("n_ab") * F.col("total"))
                                .cast("double")
                                / (F.col("na") * F.col("nb"))), 6)
                  .alias("pmi")))
    return (sc.orderBy(F.desc("pmi"), "ta", "tb").limit(_PMI_TOPK)
            .select("ta", "tb", "n_ab", "pmi"))


# --- Repeated n-gram span masking (Lee et al. 2022 fine-grained dedup) -----

_MASK_N = 3


@query(
    "repeated_ngram_span_mask",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    g AS (
      SELECT doc_id,
             unnest(generate_series(1, len(t) - {_MASK_N - 1})) AS pos,
             t
      FROM toks WHERE len(t) >= {_MASK_N}),
    gr AS (
      SELECT doc_id, pos,
             {" || ' ' || ".join(
                 f"t[pos+{i}]" if i else "t[pos]"
                 for i in range(_MASK_N))} AS gram
      FROM g),
    r AS (
      SELECT doc_id, pos, gram,
             CAST(row_number() OVER (PARTITION BY doc_id, gram
                                     ORDER BY pos) AS BIGINT)
                 AS occurrence
      FROM gr)
    SELECT doc_id, CAST(pos AS BIGINT) AS start_tok,
           CAST(pos + {_MASK_N - 1} AS BIGINT) AS end_tok,
           gram, occurrence
    FROM r WHERE occurrence >= 2
    ORDER BY doc_id, start_tok, gram
    """,
    doc=f"fine-grained dedup masking (Lee et al. 2022): token spans "
        f"covering the 2nd+ occurrence of any {_MASK_N}-gram WITHIN a "
        "document — the spans a training pipeline masks from the loss "
        "instead of dropping the whole doc. Grams with positions come "
        "from posexplode + lead (whole-stage codegen, the _gram_rows "
        "layout); occurrence numbering is a window over (doc, gram) "
        "riding the same per-doc exchange. Output is the exact mask "
        "list, reproducible cross-engine because it is pure integer "
        "position algebra",
    exchanges=2,
)
def repeated_ngram_span_mask(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    base = docs.select(
        "doc_id", F.posexplode(toks).alias("pos0", "tok"))
    wo = Window.partitionBy("doc_id").orderBy("pos0")
    wa = Window.partitionBy("doc_id")
    gram = F.concat_ws(
        " ", F.col("tok"),
        *[F.lead("tok", i).over(wo) for i in range(1, _MASK_N)])
    gr = (base.withColumn("n_tok", F.count(F.lit(1)).over(wa))
          .withColumn("gram", gram)
          .filter(F.col("pos0") + _MASK_N <= F.col("n_tok"))
          .select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram"))
    wg = Window.partitionBy("doc_id", "gram").orderBy("pos")
    r = gr.withColumn("occurrence",
                      F.row_number().over(wg).cast("bigint"))
    return (r.filter(F.col("occurrence") >= 2)
            .select("doc_id",
                    F.col("pos").cast("bigint").alias("start_tok"),
                    (F.col("pos") + (_MASK_N - 1)).cast("bigint")
                    .alias("end_tok"),
                    "gram", "occurrence")
            .orderBy("doc_id", "start_tok", "gram"))


# --- NB calibration curve (confidence-vs-accuracy model eval) --------------

_CAL_STEP_SCALED = 250000000  # 0.25-nat margin buckets


@query(
    "nb_calibration_curve",
    oracle=f"""
    WITH {_NB_CTES},
    r2 AS (SELECT doc_id, lang, sscore,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY sscore DESC, lang)
                      AS rn
           FROM tot),
    m AS (SELECT doc_id,
                 CAST(max(CASE WHEN rn = 1 THEN sscore END)
                     AS BIGINT) AS s1,
                 max(CASE WHEN rn = 1 THEN lang END) AS pred,
                 CAST(max(CASE WHEN rn = 2 THEN sscore END)
                     AS BIGINT) AS s2
          FROM r2 WHERE rn <= 2 GROUP BY doc_id),
    j AS (SELECT m.doc_id,
                 LEAST((m.s1 - m.s2)
                       // CAST({_CAL_STEP_SCALED} AS BIGINT), 9)
                     AS margin_bucket,
                 m.s1 - m.s2 AS margin,
                 (m.pred = d.lang) AS ok
          FROM m JOIN documents d ON d.doc_id = m.doc_id)
    SELECT CAST(margin_bucket AS BIGINT) AS margin_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
           ROUND(CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS accuracy,
           ROUND((CAST(sum(margin) AS DOUBLE) / {_NB_SCALE}.0)
                 / count(*), 6) AS avg_margin_nats
    FROM j GROUP BY 1 ORDER BY 1
    """,
    doc=f"model-eval calibration curve for the NB classifier: bucket "
        "documents by prediction-margin (0.25-nat steps "
        "of top1-top2 score gap, the integer confidence proxy) and "
        "report accuracy per bucket — the reliability diagram every "
        "quality-classifier deployment checks before trusting scores "
        "as thresholds. Margins are exact BIGINT differences, so "
        "bucketing is pure integer arithmetic; accuracy and mean "
        "margin are single divisions of exact counts. Reuses the "
        "shared NB score pipeline (one model build, no second "
        "corpus pass beyond the top-2 window)",
    exchanges=17,
)
def nb_calibration_curve(spark, sf_dir):
    docs, tot = _nb_scores(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.desc("sscore"), "lang")
    r2 = (tot.withColumn("rn", F.row_number().over(w))
          .filter(F.col("rn") <= 2))
    m = r2.groupBy("doc_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("sscore")))
        .alias("s1"),
        F.max(F.when(F.col("rn") == 1, F.col("lang"))).alias("pred"),
        F.max(F.when(F.col("rn") == 2, F.col("sscore")))
        .alias("s2"))
    j = (m.join(docs.select("doc_id", "lang"), "doc_id")
         .select(
             F.least(F.expr(
                 f"(s1 - s2) DIV {_CAL_STEP_SCALED}L"),
                 F.lit(9).cast("bigint")).alias("margin_bucket"),
             (F.col("s1") - F.col("s2")).alias("margin"),
             (F.col("pred") == F.col("lang")).alias("ok")))
    return (j.groupBy("margin_bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(F.col("ok"), 1).otherwise(0))
                 .cast("bigint").alias("n_correct"),
                 F.round(
                     F.sum(F.when(F.col("ok"), 1).otherwise(0))
                     .cast("double") / F.count(F.lit(1)), 6)
                 .alias("accuracy"),
                 F.round((F.sum("margin").cast("double") / _NB_SCALE)
                         / F.count(F.lit(1)), 6)
                 .alias("avg_margin_nats"))
            .orderBy("margin_bucket"))


# --- T5-style span corruption masks (Raffel et al. 2020) --------------------

_SC_RATE = 10   # a span STARTS where md5(doc_id:pos) % _SC_RATE == 0
_SC_LEN = 3     # tokens masked per span (overlaps union)


@query(
    "span_corruption_mask",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents),
    m AS (
      SELECT doc_id, len(t) AS n_tokens,
             list_filter(generate_series(1, len(t)),
                 p -> ('0x' || substr(md5(doc_id || ':' || p), 1, 4))
                          ::BIGINT % {_SC_RATE} = 0) AS starts,
             generate_series(1, len(t)) AS pos
      FROM toks WHERE len(t) >= 1),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(len(starts) AS BIGINT) AS n_spans,
             CAST(len(list_filter(pos, i -> len(list_filter(starts,
                 s -> s <= i AND s + {_SC_LEN - 1} >= i)) > 0))
                 AS BIGINT) AS n_masked
      FROM m)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, n_spans,
           n_masked,
           CAST((2 * CAST(n_masked AS HUGEINT) * 1000000 + n_tokens)
                // (2 * CAST(n_tokens AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS corrupt_ratio
    FROM c ORDER BY doc_id
    """,
    doc="T5-style span-corruption mask selection (Raffel et al. 2020 "
        "denoising objective): deterministic hash-gated span starts "
        f"(md5(doc_id:pos) % {_SC_RATE} == 0), span length {_SC_LEN}, "
        "overlapping spans union; reports per-doc span count, masked-"
        "token count and corruption ratio (exact half-away e6 ratio). "
        "The gate is content-independent and reproducible on any "
        "engine/partitioning — the property a distributed pretraining "
        "pipeline needs so workers mask identically without "
        "coordination. Scale: pure per-doc narrow compute inside "
        "whole-stage codegen (higher-order array functions, no UDF, "
        "no shuffle except the output sort)",
    exchanges=1,
)
def span_corruption_mask(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    d = (docs.select("doc_id", toks.alias("t"))
         .withColumn("n_tokens", F.size("t"))
         .filter(F.col("n_tokens") >= 1))

    def gate(p):
        h = F.md5(F.concat_ws(":", F.col("doc_id"), p))
        return F.conv(F.substring(h, 1, 4), 16, 10).cast("bigint") \
            % _SC_RATE == 0

    d = d.withColumn("pos", F.sequence(F.lit(1), F.col("n_tokens")))
    d = d.withColumn("starts", F.filter("pos", gate))
    masked = F.size(F.filter(
        "pos", lambda i: F.exists(
            "starts", lambda s: (s <= i) & (s + (_SC_LEN - 1) >= i))))
    return (d.select("doc_id",
                     F.col("n_tokens").cast("bigint")
                     .alias("n_tokens"),
                     F.size("starts").cast("bigint").alias("n_spans"),
                     masked.cast("bigint").alias("n_masked"))
            .withColumn("corrupt_ratio",
                        ratio_round6(F.col("n_masked"), F.col("n_tokens")))
            .orderBy("doc_id"))


# --- N-gram novelty vs earlier docs (contamination direction) ---------------

_NOV_N = 5  # token n-gram width


@query(
    "ngram_novelty_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
                 generate_series(1, len(t) - {_NOV_N - 1}),
                 j -> substr(md5(array_to_string(
                         list_slice(t, j, j + {_NOV_N - 1}), ' ')),
                         1, 16)))) AS fp
      FROM toks WHERE len(t) >= {_NOV_N}),
    firsts AS (
      SELECT fp, min(doc_id) AS first_doc FROM sh GROUP BY fp),
    per_doc AS (
      SELECT s.doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN f.first_doc = s.doc_id
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
      FROM sh s JOIN firsts f ON s.fp = f.fp
      GROUP BY s.doc_id)
    SELECT doc_id, n_shingles, n_novel,
           CAST((2 * CAST(n_novel AS HUGEINT) * 1000000 + n_shingles)
                // (2 * CAST(n_shingles AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS novelty_ratio
    FROM per_doc ORDER BY doc_id
    """,
    doc=f"Per-document {_NOV_N}-gram novelty vs every EARLIER doc "
        "(doc_id order): the share of a doc's distinct token "
        f"{_NOV_N}-gram shingles whose first corpus occurrence is the "
        "doc itself — the directional form of contamination_check "
        "that curation uses to decide whether late-arriving data adds "
        "anything (novelty ~0 = the doc is stitched from seen text). "
        "Scale: shingles are fingerprinted to 16-hex md5 prefixes "
        "BEFORE any shuffle (the dedup-family fingerprint-only-"
        "shuffle rule), per-doc distinct happens array-side in the "
        "narrow stage, and the plan is one groupBy(fp) + one "
        "fp-equi-join + one per-doc agg — all map-side-combinable, "
        "nothing all-pairs",
    exchanges=3,
)
def ngram_novelty_score(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    d = (docs.select("doc_id", toks.alias("t"))
         .filter(F.size("t") >= _NOV_N))
    fps = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.size("t") - (_NOV_N - 1)),
        lambda j: F.substring(
            F.md5(F.concat_ws(
                " ", F.slice("t", j, _NOV_N))), 1, 16)))
    sh = d.select("doc_id", F.explode(fps).alias("fp"))
    firsts = sh.groupBy("fp").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (sh.join(firsts, "fp")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_shingles"),
                    F.sum(F.when(F.col("first_doc") == F.col("doc_id"),
                                 1).otherwise(0)).cast("bigint")
                    .alias("n_novel")))
    return (per_doc.select("doc_id", "n_shingles", "n_novel")
            .withColumn("novelty_ratio",
                        ratio_round6(F.col("n_novel"),
                                     F.col("n_shingles")))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# Tokenizer fertility: the tokens-per-word / chars-per-token profile a
# pretraining pipeline tracks per (lang, source) slice to budget
# sequence lengths and spot slices the tokenizer fragments badly
# (high fertility = many sub-word pieces per whitespace word). Pure
# counting: one scan, one (lang, source) groupBy; ratios are exact
# integer fractions rounded half-away in DECIMAL(38)/HUGEINT.

@query(
    "tokenizer_fertility",
    oracle=r"""
    WITH d AS (
      SELECT lang, source,
             CAST(len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe,
             CAST(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+'))
                  END AS BIGINT) AS ws,
             CAST(length(text) AS BIGINT) AS nch
      FROM documents),
    g AS (
      SELECT lang, source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
             CAST(sum(ws) AS BIGINT) AS ws_tokens,
             CAST(sum(nch) AS BIGINT) AS n_chars
      FROM d GROUP BY 1, 2)
    SELECT lang, source, n_docs, bpe_tokens, ws_tokens,
           CAST((2 * CAST(bpe_tokens AS HUGEINT) * 1000000 + ws_tokens)
                // (2 * CAST(ws_tokens AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS fertility6,
           CAST((2 * CAST(n_chars AS HUGEINT) * 1000000 + bpe_tokens)
                // (2 * CAST(bpe_tokens AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS chars_per_token6
    FROM g ORDER BY lang, source
    """,
    doc="tokenizer fertility per (lang, source): BPE-ish tokens per "
        "whitespace word and chars per BPE-ish token — the sequence-"
        "length budgeting metric of a pretraining pipeline (fertility "
        "far above ~1.3 flags slices the pre-tokenizer fragments). "
        "Counts reuse the token_count_bpe_ish regex convention; both "
        "ratios are exact integer fractions rounded half-away-from-"
        "zero (the exact.ratio_round6 convention), so the result is "
        "hash-exact under any partitioning. One scan, one tiny "
        "groupBy — trivially 100 TB-safe",
    exchanges=2,
)
def tokenizer_fertility(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    g = (docs.select(
            "lang", "source",
            TX.bpe_ish_token_count(F.col("text")).cast("long")
              .alias("bpe"),
            TX.token_count(F.col("text")).cast("long").alias("ws"),
            F.length("text").cast("long").alias("nch"))
         .groupBy("lang", "source")
         .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
              F.sum("bpe").cast("long").alias("bpe_tokens"),
              F.sum("ws").cast("long").alias("ws_tokens"),
              F.sum("nch").cast("long").alias("n_chars")))
    return (g.select(
                "lang", "source", "n_docs", "bpe_tokens", "ws_tokens",
                ratio_round6(F.col("bpe_tokens"),
                             F.col("ws_tokens")).alias("fertility6"),
                ratio_round6(F.col("n_chars"),
                             F.col("bpe_tokens"))
                .alias("chars_per_token6"))
            .orderBy("lang", "source"))
