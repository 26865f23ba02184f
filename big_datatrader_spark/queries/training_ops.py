"""Training-data pipeline operators beyond the dedup/ANN family:
corpus quality signals (Gopher-style repetition), benchmark
contamination detection, TF-IDF, deterministic dataset splits, PII
redaction, plus trading/analytics ops the reference's users would
expect next to them (drawdown, volatility/Sharpe, histograms,
fuzzy joins, table profiling).

All hot paths are JVM-side DataFrame expressions; every query carries
an exact DuckDB oracle. Determinism conventions as in queries/__init__:
identical aliases and rounding on both sides, deterministic ORDER BY,
integer-scaled sums wherever a double aggregate could be
summation-order-sensitive (variance uses exact BIGINT sums, so even
stddev is bit-identical across engines).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions import text as TX
from ..functions.dedup import h60
from ..functions import graph as GR
from ..operators.exact import idiv, ratio_round6, signed_ratio_round6
from ..session import _cpus
from ..sources.parquet_source import table
from . import (lazy_cache, leased_copurchase_edges, leased_doc_tokens,
               query, run_scoped)

_R = 6

# DuckDB twins of the shared tokenization / 60-bit md5 hash
_TOKS = ("CASE WHEN trim(text) = '' THEN [] ELSE "
         "list_transform(regexp_split_to_array(trim(text), '\\s+'), "
         "t -> lower(t)) END")


def _h60_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def _gram_rows_from_base(base, n: int):
    """The n-gram window core over (doc_id, pos, tok) rows — shared
    verbatim between the inline and leased token sources so the two
    paths cannot drift."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    w_all = Window.partitionBy("doc_id")
    gram = F.concat_ws(
        " ", F.col("tok"),
        *[F.lead("tok", i).over(w) for i in range(1, n)])
    return (
        base.withColumn("n_tok", F.count(F.lit(1)).over(w_all))
        .withColumn("gram", gram)
        .filter(F.col("pos") + n <= F.col("n_tok"))
        .select("doc_id", "gram")
    )


def _gram_rows(docs, n: int):
    """(doc_id, gram) rows: all order-preserving word n-grams (with
    repeats); docs shorter than n tokens yield no rows.

    posexplode + lead-window instead of a per-row transform/slice
    lambda: higher-order-function bodies run interpreted and dominated
    these queries' wall-clock (same finding as functions/dedup.py's
    shingle builder); lead/concat_ws stays inside whole-stage codegen,
    and the doc_id window shares its exchange with every downstream
    per-doc aggregate."""
    toks = TX.tokens(F.col("text"))
    base = docs.select("doc_id", F.posexplode(toks).alias("pos", "tok"))
    return _gram_rows_from_base(base, n)


def _leased_gram_rows(spark, sf_dir, n: int, pred=None):
    """_gram_rows sourced from the doc_tokens SharedScope lease when a
    scope is open (tokenize once per scope; VERDICT r12 ask #3), else
    the direct inline build — unscoped plans stay bit-identical to the
    pre-lease form. ``pred`` filters documents by doc_id-level columns
    (train/test splits) and applies identically to both sources."""
    rel = leased_doc_tokens(spark, sf_dir)
    if rel is None:
        docs = table(spark, sf_dir, "documents")
        if pred is not None:
            docs = docs.filter(pred)
        return _gram_rows(docs, n)
    if pred is not None:
        rel = rel.filter(pred)
    base = rel.select("doc_id", F.posexplode("t").alias("pos", "tok"))
    return _gram_rows_from_base(base, n)


def _leased_tok_rows(spark, sf_dir, pred=None):
    """(doc_id, tok) exploded token rows, leased when a scope is open
    (the vocabulary-build counterpart of _leased_gram_rows)."""
    rel = leased_doc_tokens(spark, sf_dir)
    if rel is None:
        docs = table(spark, sf_dir, "documents")
        if pred is not None:
            docs = docs.filter(pred)
        return docs.select(
            "doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok"))
    if pred is not None:
        rel = rel.filter(pred)
    return rel.select("doc_id", F.explode("t").alias("tok"))


def _grams_sql(n: int) -> str:
    joined = " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]"
                                for j in range(n))
    return (f"CASE WHEN len(t) >= {n} THEN "
            f"list_transform(generate_series(1, len(t) - {n - 1}), "
            f"i -> {joined}) ELSE [] END")


# ---------------------------------------------------------------------------
# Corpus quality: repetition signals (the Gopher-style "fraction of
# duplicate n-grams / dominance of the top token" filters)

@query(
    "quality_repetition_signals",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    tk AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    per AS (SELECT doc_id, tok, count(*) AS n FROM tk GROUP BY 1, 2),
    top AS (SELECT doc_id, max(n) AS top_cnt,
                   CAST(sum(n) AS BIGINT) AS n_tok
            FROM per GROUP BY 1),
    tri AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                   CASE WHEN len(t) >= 3 THEN len(t) - 2 ELSE 0 END
                       AS tri_total,
                   CASE WHEN len(t) >= 3 THEN
                        len(list_distinct({_grams_sql(3)}))
                        ELSE 0 END AS tri_distinct
            FROM toks)
    SELECT tri.doc_id, tri.n_tokens,
           ROUND(CAST(top.top_cnt AS DOUBLE) / top.n_tok, 6)
               AS top_token_frac,
           ROUND(1 - CAST(tri.tri_distinct AS DOUBLE)
                 / NULLIF(tri.tri_total, 0), 6) AS dup_trigram_frac
    FROM tri LEFT JOIN top USING (doc_id)
    ORDER BY doc_id
    """,
    doc="per-document repetition quality signals (top-token dominance, "
        "duplicate-trigram fraction) — the filter inputs of a "
        "Gopher/C4-style corpus cleaning pass; explode+groupBy stays "
        "whole-stage-codegen, the trigram set is a per-row array op",
    exchanges=4,
)
def quality_repetition_signals(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    per = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("n"))
    )
    top = per.groupBy("doc_id").agg(
        F.max("n").alias("top_cnt"), F.sum("n").alias("n_tok"))
    tri = _gram_rows(docs, 3).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("tri_total"),
        F.countDistinct("gram").alias("tri_distinct"))
    return (
        docs.select("doc_id",
                    F.size(toks).cast("long").alias("n_tokens"))
        .join(top, "doc_id", "left")
        .join(tri, "doc_id", "left")
        .select(
            "doc_id", "n_tokens",
            F.round(F.try_divide("top_cnt", "n_tok"), _R)
            .alias("top_token_frac"),
            F.round(1 - F.try_divide("tri_distinct", "tri_total"),
                    _R).alias("dup_trigram_frac"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Benchmark contamination: shared distinct 5-grams between a held-out
# set and the training corpus

@query(
    "contamination_check",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_distinct({_grams_sql(5)})) AS gram
          FROM toks),
    bench AS (SELECT DISTINCT {_h60_sql('gram')} AS gh
              FROM g WHERE doc_id % 20 = 0),
    tr AS (SELECT doc_id, {_h60_sql('gram')} AS gh
           FROM g WHERE doc_id % 20 <> 0)
    SELECT tr.doc_id,
           CAST(count(DISTINCT tr.gh) AS BIGINT) AS n_shared_ngrams
    FROM tr JOIN bench USING (gh)
    GROUP BY tr.doc_id ORDER BY tr.doc_id
    """,
    doc="train/benchmark contamination detection: documents with "
        "doc_id%20==0 act as the held-out benchmark; a training doc is "
        "flagged with the count of distinct 5-gram hashes it shares "
        "with ANY benchmark doc. The benchmark n-gram set is tiny and "
        "broadcast, so the corpus side never shuffles — at 100 TB this "
        "is a map-side semi-join at scan speed (grams joined on the "
        "60-bit md5, not the string)",
    exchanges=4,
)
def contamination_check(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    g = _gram_rows(docs, 5).distinct()
    bench = (g.filter(F.col("doc_id") % 20 == 0)
             .select(h60(F.col("gram")).alias("gh")).distinct())
    train = (g.filter(F.col("doc_id") % 20 != 0)
             .select("doc_id", h60(F.col("gram")).alias("gh")))
    return (
        train.join(F.broadcast(bench), "gh")
        .groupBy("doc_id")
        .agg(F.countDistinct("gh").alias("n_shared_ngrams"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document

@query(
    "tf_idf_top_terms",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    tk AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    per AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
    docfreq AS (SELECT tok, count(DISTINCT doc_id) AS df
                FROM tk GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT per.doc_id, per.tok AS term,
             ROUND(per.tf * ln(CAST(n.n_docs AS DOUBLE) / docfreq.df),
                   6) AS tf_idf
      FROM per JOIN docfreq USING (tok) CROSS JOIN n),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY tf_idf DESC, term) AS rank
      FROM scored)
    SELECT doc_id, term, tf_idf, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank
    """,
    doc="per-document top-3 terms by tf-idf: one explode+groupBy for "
        "term frequencies, document frequencies over the (tiny) vocab "
        "broadcast back, deterministic (score desc, term asc) ranking",
    exchanges=6,
)
def tf_idf_top_terms(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    tk = _leased_tok_rows(spark, sf_dir)
    per = tk.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tk.groupBy("tok").agg(
        F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        per.join(F.broadcast(docfreq), "tok")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id", F.col("tok").alias("term"),
            F.round(F.col("tf") * F.log(
                F.col("n_docs").cast("double") / F.col("df")), 6)
            .alias("tf_idf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf_idf"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf_idf",
                F.col("rank").cast("long").alias("rank"))
        .orderBy("doc_id", "rank")
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split assignment

@query(
    "dataset_split_assign",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             CASE WHEN {_h60_sql("'doc:' || CAST(doc_id AS VARCHAR)")}
                       % 100 < 80 THEN 'train'
                  WHEN {_h60_sql("'doc:' || CAST(doc_id AS VARCHAR)")}
                       % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM s GROUP BY split ORDER BY split
    """,
    doc="deterministic hash-based train/val/test split (80/10/10 on "
        "the 60-bit md5 of the doc id): stable under re-runs, "
        "re-partitioning, and corpus growth — the property a training "
        "pipeline needs from a split; no shuffle beyond the count",
    exchanges=2,
)
def dataset_split_assign(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    bucket = h60(F.concat(F.lit("doc:"),
                          F.col("doc_id").cast("string"))) % 100
    split = (F.when(bucket < 80, "train")
             .when(bucket < 90, "val").otherwise("test"))
    return (
        docs.select("doc_id", split.alias("split"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("doc_id").alias("min_doc"),
             F.max("doc_id").alias("max_doc"))
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# PII redaction (regex scrubbing at scan speed)

_EMAIL_RE = r"[a-z0-9.]+@[a-z0-9.]+\.[a-z]{2,}"
_PHONE_RE = r"\+1-[0-9]{3}-[0-9]{4}"

@query(
    "pii_redaction",
    oracle=f"""
    WITH raw AS (
      SELECT c_custkey,
             'reach ' || lower(replace(c_name, '#', '.'))
             || '@example.com or call +1-555-'
             || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
             || ' about segment ' || c_mktsegment AS txt
      FROM customer)
    SELECT c_custkey,
           regexp_replace(regexp_replace(txt, '{_EMAIL_RE}', '[EMAIL]',
                                         'g'),
                          '{_PHONE_RE}', '[PHONE]', 'g') AS redacted,
           CAST(len(regexp_extract_all(txt, '{_EMAIL_RE}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(txt, '{_PHONE_RE}')) AS BIGINT)
               AS n_phones
    FROM raw ORDER BY c_custkey
    """,
    doc="PII scrubbing: emails/phone patterns redacted with "
        "regexp_replace and counted — pure JVM regex at scan speed "
        "(the text is deterministically synthesized from customer rows "
        "because the testdata carries no real PII; patterns kept to "
        "the Java-and-RE2-common subset)",
    exchanges=1,
)
def pii_redaction(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    txt = F.concat(
        F.lit("reach "),
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("."))),
        F.lit("@example.com or call +1-555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit(" about segment "), F.col("c_mktsegment"))
    raw = cust.select("c_custkey", txt.alias("txt"))
    return (
        raw.select(
            "c_custkey",
            F.regexp_replace(
                F.regexp_replace("txt", _EMAIL_RE, "[EMAIL]"),
                _PHONE_RE, "[PHONE]").alias("redacted"),
            F.regexp_count("txt", F.lit(_EMAIL_RE)).cast("long")
            .alias("n_emails"),
            F.regexp_count("txt", F.lit(_PHONE_RE)).cast("long")
            .alias("n_phones"))
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Max drawdown per symbol (running peak -> worst trough)

@query(
    "max_drawdown",
    oracle="""
    WITH dd AS (
      SELECT user_id, value,
             max(value) OVER (PARTITION BY user_id ORDER BY ts)
                 AS run_max
      FROM events)
    SELECT user_id,
           ROUND(min(CASE WHEN run_max = 0 THEN NULL
                          ELSE (value - run_max) / run_max END), 6)
               AS max_drawdown,
           ROUND(max(run_max), 6) AS peak
    FROM dd GROUP BY user_id ORDER BY user_id
    """,
    doc="per-symbol maximum drawdown: running peak via a RANGE-framed "
        "window max (ts ties are peers in BOTH engines' default "
        "frame, so the prefix is identical), worst trough via min — "
        "one exchange, one sort, order-insensitive final aggregate",
    exchanges=2,
)
def max_drawdown(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    dd = ev.select(
        "user_id", "value",
        F.max("value").over(w).alias("run_max"))
    return (
        dd.groupBy("user_id")
        .agg(
            F.round(F.min(F.try_divide(
                F.col("value") - F.col("run_max"),
                F.nullif("run_max", F.lit(0.0)))), _R)
            .alias("max_drawdown"),
            F.round(F.max("run_max"), _R).alias("peak"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Volatility + Sharpe from log returns — exact integer-scaled moments

@query(
    "volatility_sharpe",
    oracle="""
    WITH ord AS (
      SELECT user_id, ts, event_id, value,
             lag(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev
      FROM events),
    r AS (
      SELECT user_id,
             CAST(ROUND(ln(value / prev) * 1000000) AS BIGINT) AS r_mu
      FROM ord WHERE prev > 0 AND value > 0),
    m AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_returns,
             CAST(sum(r_mu) AS BIGINT) AS s,
             CAST(sum(r_mu * r_mu) AS BIGINT) AS ssq
      FROM r GROUP BY user_id)
    SELECT user_id, n_returns,
           ROUND(CAST(s AS DOUBLE) / n_returns / 1000000, 6)
               AS mean_ret,
           ROUND(sqrt((CAST(ssq AS DOUBLE)
                       - CAST(s AS DOUBLE) * s / n_returns)
                      / (n_returns - 1)) / 1000000, 6) AS volatility
    FROM m WHERE n_returns >= 2 ORDER BY user_id
    """,
    doc="per-symbol log-return mean and volatility with EXACT "
        "cross-engine determinism: returns are scaled to 1e-6 units "
        "and summed as BIGINT (sum and sum-of-squares), so the "
        "variance is computed from identical integers on both engines "
        "— stddev without summation-order sensitivity (the "
        "integer-scaled-moments pattern; plain stddev_samp would be "
        "last-ulp racy under parallel aggregation)",
    exchanges=2,
)
def volatility_sharpe(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordv = ev.select(
        "user_id", "value", F.lag("value").over(w).alias("prev"))
    r = (ordv.filter((F.col("prev") > 0) & (F.col("value") > 0))
         .select("user_id",
                 F.round(F.log(F.col("value") / F.col("prev"))
                         * 1000000).cast("bigint").alias("r_mu")))
    m = r.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_returns"),
        F.sum("r_mu").alias("s"),
        F.sum(F.col("r_mu") * F.col("r_mu")).alias("ssq"))
    n, s, ssq = (F.col("n_returns"), F.col("s").cast("double"),
                 F.col("ssq").cast("double"))
    return (
        m.filter(n >= 2)
        .select(
            "user_id", "n_returns",
            F.round(s / n / 1000000, _R).alias("mean_ret"),
            F.round(F.sqrt((ssq - s * F.col("s") / n) / (n - 1))
                    / 1000000, _R).alias("volatility"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Fixed-bound value histogram

@query(
    "value_histogram",
    oracle="""
    WITH b AS (
      SELECT CAST(least(greatest(floor(value / 10), 0), 9) AS BIGINT)
                 AS bucket,
             value
      FROM events)
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_events,
           ROUND(min(value), 6) AS lo, ROUND(max(value), 6) AS hi
    FROM b GROUP BY bucket ORDER BY bucket
    """,
    doc="fixed-bound histogram (10 buckets over [0,100), outliers "
        "clamped): a single map-side-combinable groupBy — the "
        "distributed histogram shape",
    exchanges=2,
)
def value_histogram(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    bucket = F.least(F.greatest(F.floor(F.col("value") / 10),
                                F.lit(0)), F.lit(9)).cast("long")
    return (
        ev.select(bucket.alias("bucket"), "value")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.min("value"), _R).alias("lo"),
             F.round(F.max("value"), _R).alias("hi"))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Fuzzy (edit-distance) self-join, blocked to avoid all-pairs

@query(
    "fuzzy_part_pairs",
    oracle="""
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           a.p_brand,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    ORDER BY id_a, id_b
    """,
    doc="edit-distance fuzzy join over part names, blocked on "
        "(brand, size) so the quadratic levenshtein only runs inside "
        "small equi-join blocks — never an all-pairs cross product "
        "(same blocking discipline as the dedup family)",
    exchanges=1,
)
def fuzzy_part_pairs(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    a = p.select(F.col("p_partkey").alias("id_a"),
                 F.col("p_name").alias("name_a"),
                 "p_brand", "p_size")
    b = p.select(F.col("p_partkey").alias("id_b"),
                 F.col("p_name").alias("name_b"),
                 F.col("p_brand").alias("brand_b"),
                 F.col("p_size").alias("size_b"))
    return (
        a.join(b, (F.col("p_brand") == F.col("brand_b"))
               & (F.col("p_size") == F.col("size_b"))
               & (F.col("id_a") < F.col("id_b")))
        .withColumn("dist",
                    F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("dist") <= 4)
        .select("id_a", "id_b", "p_brand", "dist")
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Table profiling (per-column stats in one scan)

_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus",
                 "o_orderpriority"]

@query(
    "table_profile",
    oracle=" UNION ALL ".join(
        f"""SELECT '{c}' AS col_name,
            CAST(count(*) AS BIGINT) AS n_rows,
            CAST(count(*) - count({c}) AS BIGINT) AS n_null,
            CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
            CAST(min({c}) AS VARCHAR) AS min_val,
            CAST(max({c}) AS VARCHAR) AS max_val
            FROM orders""" for c in _PROFILE_COLS
    ) + " ORDER BY col_name",
    doc="one-scan data profiling of the orders table: per-column "
        "row/null/distinct counts and min/max (stringified; columns "
        "chosen so string casts are engine-identical) — the "
        "data-quality summary every ingest pipeline runs first; a "
        "single aggregate computes all columns, then unpivots",
    exchanges=2,
)
def table_profile(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__dist"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__null, {c}__dist, {c}__min, {c}__max"
        for c in _PROFILE_COLS)
    return (
        one.selectExpr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(col_name, n_rows, n_null, n_distinct, min_val, max_val)")
        .orderBy("col_name")
    )


# ---------------------------------------------------------------------------
# EWMA indicator — sequential recursion, recursive-CTE oracle

@query(
    "ewma_indicator",
    oracle="""
    WITH RECURSIVE ord AS MATERIALIZED (
      SELECT user_id, ts, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    ew AS (
      SELECT user_id, rn, ts, event_id, value, value AS s
      FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.rn, o.ts, o.event_id, o.value,
             0.8 * ew.s + 0.2 * o.value
      FROM ord o JOIN ew
        ON o.user_id = ew.user_id AND o.rn = ew.rn + 1)
    SELECT user_id, ts, event_id, ROUND(s, 6) AS ewma
    FROM ew ORDER BY user_id, rn
    """,
    doc="exponential moving average (alpha=0.2) per symbol: an "
        "inherently sequential recursion Spark windows cannot express "
        "-> batched mapInPandas fold over hash-partitioned sorted "
        "series (operators/indicators.py:with_ewma), oracled against "
        "a DuckDB RECURSIVE CTE computing the identical float "
        "recursion 0.8*s + 0.2*x",
    exchanges=2,
)
def ewma_indicator(spark, sf_dir):
    from ..operators.indicators import with_ewma
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value")
    out = with_ewma(ev, "value", ["user_id"], ["ts", "event_id"],
                    out_col="__ewma", alpha=0.2)
    return (
        out.select("user_id", "ts", "event_id",
                   F.round("__ewma", _R).alias("ewma"))
        .orderBy("user_id", "ts", "event_id")
    )


# ---------------------------------------------------------------------------
# Funnel analysis: ordered view -> click -> purchase progression

@query(
    "funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY 1),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
    SELECT * FROM (
      SELECT 1 AS stage, 'view' AS event_type,
             CAST((SELECT count(*) FROM v) AS BIGINT) AS n_users
      UNION ALL SELECT 2, 'click',
             CAST((SELECT count(*) FROM c) AS BIGINT)
      UNION ALL SELECT 3, 'purchase',
             CAST((SELECT count(*) FROM p) AS BIGINT))
    ORDER BY stage
    """,
    doc="ordered funnel: users who viewed, then clicked strictly "
        "after their first view, then purchased strictly after that "
        "first qualifying click — each stage is a groupBy-min plus a "
        "join against the (shrinking) prior stage",
    exchanges=8,
)
def funnel_conversion(spark, sf_dir):
    ev = table(spark, sf_dir, "events")

    def first_after(event_type, prior, prior_ts):
        e = ev.filter(F.col("event_type") == event_type)
        if prior is None:
            return e.groupBy("user_id").agg(F.min("ts").alias("t"))
        return (
            e.join(prior, "user_id")
            .filter(F.col("ts") > F.col(prior_ts))
            .groupBy("user_id").agg(F.min("ts").alias("t"))
        )

    v = first_after("view", None, None).withColumnRenamed("t", "t_view")
    c = (first_after("click", v, "t_view")
         .withColumnRenamed("t", "t_click"))
    p = first_after("purchase", c, "t_click")
    stages = [("view", v), ("click", c), ("purchase", p)]
    counts = None
    for i, (name, df_stage) in enumerate(stages, start=1):
        row = df_stage.agg(
            F.lit(i).cast("int").alias("stage"),
            F.lit(name).alias("event_type"),
            F.count(F.lit(1)).alias("n_users"))
        counts = row if counts is None else counts.unionAll(row)
    return counts.orderBy("stage")


# ---------------------------------------------------------------------------
# Weekly retention cohorts

@query(
    "weekly_retention_cohorts",
    oracle="""
    WITH firstw AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY 1),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             date_trunc('week', e.ts) AS w
      FROM events e JOIN firstw f ON e.user_id = f.user_id)
    SELECT cohort_week,
           CAST(date_diff('day', cohort_week, w) / 7 AS BIGINT)
               AS week_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM activity
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="weekly retention cohorts: users bucketed by ISO week of "
        "first activity, counted in each subsequent active week "
        "(both engines' date_trunc('week') starts Monday; the offset "
        "is an exact day-difference divided by 7)",
    exchanges=4,
)
def weekly_retention_cohorts(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    firstw = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    activity = (
        ev.join(firstw, "user_id")
        .select("user_id", "cohort_week",
                F.date_trunc("week", F.col("ts")).alias("w"))
        .distinct()
    )
    return (
        activity.groupBy(
            "cohort_week",
            (F.datediff("w", "cohort_week") / 7).cast("long")
            .alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# Z-score anomalies — exact integer moments, per-symbol partition stats

@query(
    "zscore_anomalies",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, value,
             CAST(ROUND(value * 1000000) AS BIGINT) AS v_mu
      FROM events),
    m AS (
      SELECT user_id, event_id, value,
             CAST(count(*) OVER w AS BIGINT) AS n,
             CAST(sum(v_mu) OVER w AS BIGINT) AS sm,
             CAST(sum(v_mu * v_mu) OVER w AS BIGINT) AS ssq
      FROM s WINDOW w AS (PARTITION BY user_id))
    SELECT user_id, event_id, ROUND(value, 6) AS value,
           ROUND((value - CAST(sm AS DOUBLE) / n / 1000000)
                 / (sqrt((CAST(ssq AS DOUBLE)
                          - CAST(sm AS DOUBLE) * sm / n) / (n - 1))
                    / 1000000), 4) AS z
    FROM m
    WHERE n >= 2 AND abs(
          (value - CAST(sm AS DOUBLE) / n / 1000000)
          / (sqrt((CAST(ssq AS DOUBLE) - CAST(sm AS DOUBLE) * sm / n)
                  / (n - 1)) / 1000000)) > 3
    ORDER BY user_id, event_id
    """,
    doc="per-symbol z-score outliers (|z| > 3) with the "
        "integer-scaled-moments pattern over an unordered partition "
        "window: mean/stddev come from exact BIGINT sums, so the "
        "flagged set is bit-identical across engines and partition "
        "layouts — no second scan, no join-back",
    exchanges=2,
)
def zscore_anomalies(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    v_mu = F.round(F.col("value") * 1000000).cast("bigint")
    m = ev.select(
        "user_id", "event_id", "value",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(v_mu).over(w).alias("sm"),
        F.sum(v_mu * v_mu).over(w).alias("ssq"))
    n, sm, ssq = (F.col("n"), F.col("sm").cast("double"),
                  F.col("ssq").cast("double"))
    mean = sm / n / 1000000
    std = F.sqrt((ssq - sm * F.col("sm") / n) / (n - 1)) / 1000000
    z = F.try_divide(F.col("value") - mean, std)
    return (
        m.filter((n >= 2) & (F.abs(z) > 3))
        .select("user_id", "event_id",
                F.round("value", _R).alias("value"),
                F.round(z, 4).alias("z"))
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# OHLC candle bars — deterministic open/close via lexicographic
# struct min/max (ties on ts broken by event_id, never engine whim)

@query(
    "ohlc_bars",
    oracle="""
    SELECT user_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bar_day,
           ROUND((min(struct_pack(t := ts, e := event_id,
                                  v := value))).v, 6) AS open,
           ROUND((max(struct_pack(t := ts, e := event_id,
                                  v := value))).v, 6) AS close,
           ROUND(max(value), 6) AS high,
           ROUND(min(value), 6) AS low,
           CAST(count(*) AS BIGINT) AS n_ticks
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="daily OHLC candles per symbol in ONE map-side-combinable "
        "groupBy: open/close are min/max over (ts, event_id, value) "
        "structs — lexicographic, so ts ties resolve identically on "
        "every engine and partition layout (min_by/max_by leave ties "
        "undefined); no window, no sort, no second scan",
    exchanges=2,
)
def ohlc_bars(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    tagged = F.struct(F.col("ts").alias("t"),
                      F.col("event_id").alias("e"),
                      F.col("value").alias("v"))
    return (
        ev.groupBy(
            "user_id",
            F.date_trunc("day", F.col("ts")).alias("bar_day"))
        .agg(F.round(F.min(tagged)["v"], _R).alias("open"),
             F.round(F.max(tagged)["v"], _R).alias("close"),
             F.round(F.max("value"), _R).alias("high"),
             F.round(F.min("value"), _R).alias("low"),
             F.count(F.lit(1)).alias("n_ticks"))
        .orderBy("user_id", "bar_day")
    )


# ---------------------------------------------------------------------------
# Time-series resample: hourly grid + forward fill (gap filling)

@query(
    "resample_forward_fill",
    oracle="""
    WITH per_hour AS (
      SELECT user_id, date_trunc('hour', ts) AS hour,
             (max(struct_pack(t := ts, e := event_id, v := value))).v
                 AS close
      FROM events GROUP BY 1, 2),
    bounds AS (
      SELECT user_id, min(date_trunc('hour', ts)) AS h0,
             max(date_trunc('hour', ts)) AS h1
      FROM events GROUP BY 1),
    grid AS (
      SELECT user_id,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      FROM bounds),
    j AS (
      SELECT g.user_id, g.hour, p.close FROM grid g
      LEFT JOIN per_hour p
        ON g.user_id = p.user_id AND g.hour = p.hour)
    SELECT user_id, hour,
           ROUND(last_value(close IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY hour
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
               AS close,
           CAST(close IS NULL AS BOOLEAN) AS is_gap
    FROM j ORDER BY user_id, hour
    """,
    doc="hourly resample with forward fill: per-symbol dense hour grid "
        "(sequence+explode — generated, never collected), left join of "
        "the last tick per hour (struct-max, deterministic under ts "
        "ties), gaps filled with last(ignorenulls) over a rows frame. "
        "Grid generation and fill both partition by symbol — the "
        "gap-filling shape stays one exchange at any scale",
    exchanges=3,
)
def resample_forward_fill(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    tagged = F.struct(F.col("ts").alias("t"),
                      F.col("event_id").alias("e"),
                      F.col("value").alias("v"))
    per_hour = (ev.groupBy("user_id", hour.alias("hour"))
                .agg(F.max(tagged)["v"].alias("close")))
    bounds = ev.groupBy("user_id").agg(
        F.min(hour).alias("h0"), F.max(hour).alias("h1"))
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR")))
        .alias("hour"))
    j = grid.join(per_hour, ["user_id", "hour"], "left")
    w = (Window.partitionBy("user_id").orderBy("hour")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        j.select(
            "user_id", "hour",
            F.round(F.last("close", ignorenulls=True).over(w), _R)
            .alias("close"),
            F.col("close").isNull().alias("is_gap"))
        .orderBy("user_id", "hour")
    )


# ---------------------------------------------------------------------------
# Lag-1 autocorrelation — exact integer moments (deterministic corr)

@query(
    "autocorr_lag1",
    oracle="""
    WITH ord AS (
      SELECT user_id,
             CAST(ROUND(value * 1000000) AS BIGINT) AS y,
             lag(CAST(ROUND(value * 1000000) AS BIGINT)) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS x
      FROM events),
    m AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM ord WHERE x IS NOT NULL GROUP BY user_id)
    SELECT user_id, n AS n_pairs,
           ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(CAST(n AS DOUBLE) * sxx
                         - CAST(sx AS DOUBLE) * sx)
                    * sqrt(CAST(n AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy)), 6) AS autocorr
    FROM m WHERE n >= 2 ORDER BY user_id
    """,
    doc="per-symbol lag-1 autocorrelation with the integer-scaled-"
        "moments pattern: all six moments are exact BIGINT sums of "
        "1e-6-unit values, the Pearson formula then runs on identical "
        "integers in an identical expression on both engines — "
        "correlation without any summation-order sensitivity",
    exchanges=2,
)
def autocorr_lag1(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    y = F.round(F.col("value") * 1000000).cast("bigint")
    ordv = ev.select("user_id", y.alias("y"),
                     F.lag(y).over(w).alias("x"))
    m = (ordv.filter(F.col("x").isNotNull())
         .groupBy("user_id")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("x").alias("sx"), F.sum("y").alias("sy"),
              F.sum(F.col("x") * F.col("x")).alias("sxx"),
              F.sum(F.col("y") * F.col("y")).alias("syy"),
              F.sum(F.col("x") * F.col("y")).alias("sxy")))
    n = F.col("n")
    nd, sx, sy, sxx, syy, sxy = (n.cast("double"),
                                 F.col("sx").cast("double"),
                                 F.col("sy").cast("double"),
                                 F.col("sxx"), F.col("syy"),
                                 F.col("sxy"))
    num = nd * sxy - sx * F.col("sy")
    den = (F.sqrt(nd * sxx - sx * F.col("sx"))
           * F.sqrt(nd * syy - sy * F.col("sy")))
    return (
        m.filter(n >= 2)
        .select("user_id", n.alias("n_pairs"),
                F.round(F.try_divide(num, den), _R).alias("autocorr"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# PageRank over the co-purchase graph — iterative joins, exact integer
# arithmetic (bit-identical across engines and partitionings)

_PR_ITERS = 3

def _pagerank_oracle() -> str:
    prelude = """
    WITH edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
    outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
               FROM edges GROUP BY 1),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    pr0 AS (
      SELECT node, CAST(ROUND(1e9 / nn.n) AS BIGINT) AS pr_mu
      FROM nodes CROSS JOIN nn)"""
    steps = []
    for i in range(1, _PR_ITERS + 1):
        steps.append(f"""
    c{i} AS (
      SELECT e.dst AS node,
             CAST(sum(p.pr_mu // o.deg) AS BIGINT) AS s
      FROM pr{i - 1} p
      JOIN edges e ON p.node = e.src
      JOIN outdeg o ON p.node = o.src
      GROUP BY 1),
    pr{i} AS (
      SELECT n.node,
             CAST(ROUND(0.15 * 1e9 / nn.n) AS BIGINT)
             + (85 * COALESCE(c.s, 0)) // 100 AS pr_mu
      FROM nodes n CROSS JOIN nn LEFT JOIN c{i} c ON n.node = c.node)""")
    return (prelude + "," + ",".join(steps) + f"""
    SELECT node AS part_key, pr_mu
    FROM pr{_PR_ITERS}
    ORDER BY pr_mu DESC, part_key LIMIT 100
    """)


def _pr_push(pr, outdeg, edges):
    """One PageRank push shared by the global and personalized loops:
    every scored node sends pr_mu DIV out-degree along its out-edges,
    summed per receiving node -> (node, s). The degree attaches to
    the node-sized scores BEFORE the edge join (AQE broadcasts the
    small side), so no edge-scale edges ⋈ outdeg relation exists."""
    return GR.superstep(
        pr.join(outdeg, pr["node"] == outdeg["src"])
        .select("node", F.expr("pr_mu DIV deg").alias("c")),
        edges, F.sum("c").alias("s"))


@query(
    "pagerank_copurchase",
    oracle=_pagerank_oracle(),
    doc=f"PageRank ({_PR_ITERS} iterations, d=0.85) over the part "
        "co-purchase graph (parts sharing an order): the iterative-"
        "algorithm shape — per iteration one join edges+scores, one "
        "groupBy-sum, one left join back to nodes. All arithmetic is "
        "integer (1e-9-unit scores, floor-div contributions), so "
        "scores are bit-identical on any engine or partition layout; "
        "the oracle unrolls the same iterations as chained CTEs. At "
        "scale: scores are node-sized (tiny vs edges), edges partition "
        "by src and the per-iteration shuffle is the groupBy(dst) — "
        "the standard distributed PageRank cost model. Cache "
        "lifecycle: the edge list is persisted eagerly ONCE with a "
        "node-sized out-degree beside it, each iteration is one "
        "functions/graph.superstep, the top-100 result is "
        "materialized, and every cache is released before returning "
        "(run_scoped)",
    scoped=True,
    # edge build, node-sized outdeg, 3 supersteps (r16: 16 -> 13,
    # the edge-scale edges ⋈ outdeg cache and its distinct gone)
    exchanges=13,
)
def _pagerank_plan(spark, sf_dir, cache=lazy_cache):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                 "l_partkey")
    # the personalized_pagerank shape (see _pr_push); the node set is
    # outdeg's keys, since every node has an out-edge
    edges = leased_copurchase_edges(cache, sf_dir, li, "src", "dst")
    outdeg = cache(edges.groupBy("src")
                   .agg(F.count(F.lit(1)).alias("deg")))
    nodes = outdeg.select(F.col("src").alias("node"))
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))

    pr = (nodes.join(F.broadcast(nn))
          .select("node", F.round(F.lit(1e9) / F.col("n"))
                  .cast("bigint").alias("pr_mu")))
    for _ in range(_PR_ITERS):
        contrib = _pr_push(pr, outdeg, edges)
        pr = (
            nodes.join(F.broadcast(nn))
            .join(contrib, "node", "left")
            .select(
                "node",
                (F.round(F.lit(0.15) * 1e9 / F.col("n")).cast("bigint")
                 + F.expr("(85 * COALESCE(s, 0)) DIV 100"))
                .alias("pr_mu")))
    return (
        pr.select(F.col("node").alias("part_key"), "pr_mu")
        .orderBy(F.desc("pr_mu"), "part_key").limit(100)
    )


# ---------------------------------------------------------------------------
# Personalized PageRank: random walk with restart to a SEED SET —
# the "related to these products" scorer behind item-to-item
# recommendations and seed-expansion labeling, distinct from global
# pagerank_copurchase (whose restart mass spreads over every node).

_PPR_ITERS = 3
_PPR_SEEDS = 3  # restart set: the lowest-keyed nodes (deterministic)


def _ppr_oracle() -> str:
    prelude = f"""
    WITH edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
    outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
               FROM edges GROUP BY 1),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    seeds AS (SELECT node FROM nodes ORDER BY node
              LIMIT {_PPR_SEEDS}),
    pr0 AS (
      SELECT node, CAST(ROUND(1e9 / {_PPR_SEEDS}) AS BIGINT) AS pr_mu
      FROM seeds)"""
    steps = []
    for i in range(1, _PPR_ITERS + 1):
        steps.append(f"""
    c{i} AS (
      SELECT e.dst AS node,
             CAST(sum(p.pr_mu // o.deg) AS BIGINT) AS s
      FROM pr{i - 1} p
      JOIN edges e ON p.node = e.src
      JOIN outdeg o ON p.node = o.src
      GROUP BY 1),
    pr{i} AS (
      SELECT c.node,
             CASE WHEN c.node IN (SELECT node FROM seeds)
                  THEN CAST(ROUND(0.15 * 1e9 / {_PPR_SEEDS})
                            AS BIGINT) ELSE 0 END
             + (85 * c.s) // 100 AS pr_mu
      FROM c{i} c)""")
    return (prelude + "," + ",".join(steps) + f"""
    SELECT node AS part_key, pr_mu
    FROM pr{_PPR_ITERS}
    ORDER BY pr_mu DESC, part_key LIMIT 100
    """)


@query(
    "personalized_pagerank",
    bench=True,
    oracle=_ppr_oracle(),
    doc=f"personalized PageRank ({_PPR_ITERS} iterations, d=0.85, "
        f"restart mass split over the {_PPR_SEEDS} lowest-keyed "
        "nodes): random walk WITH RESTART — teleportation returns to "
        "the seed set, not the whole graph, so scores measure "
        "proximity to the seeds (the item-to-item recommendation / "
        "seed-expansion scorer; Page et al. 1999 §6 'personalized' "
        "variant). Differences from pagerank_copurchase that matter "
        "at scale: the score vector starts |S|-sized and only grows "
        "to the seeds' K-hop ball, so early-iteration joins touch a "
        "FRACTION of the edge list (frontier-sized, like sssp), and "
        "nodes never visited are never materialized — the oracle's "
        "pr relations carry only reached nodes, and the engine "
        "inherits that sparsity for free by keeping pr as the join "
        "result instead of left-joining the full node list. Same "
        "exact-integer algebra as pagerank (1e-9-unit mass, floor-div "
        "contributions, truncated 85% damping), so every engine and "
        "partition layout agrees bit-for-bit. Cache lifecycle: the "
        "edge list is persisted eagerly ONCE (deterministic build "
        "under its own plan — tools/ab_specs/cache_race.py "
        "quantifies the cache variants) beside a node-sized "
        "out-degree, the seed set derives from that cache instead of "
        "re-running the edge build for its broadcast job, each "
        "iteration is one functions/graph.superstep whose node-sized "
        "scores are not held (the graph hold rule: read once), and "
        "run_scoped releases every cache when the top-100 result has "
        "materialized",
    scoped=True,
    # r14: tightened 10 -> 7 — the query-private ewd=edges⋈outdeg
    # materialization is gone (deg attaches to the frontier)
    exchanges=7,
)
def _ppr_plan(spark, sf_dir, cache=lazy_cache):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                 "l_partkey")
    edges = leased_copurchase_edges(cache, sf_dir, li, "src", "dst")
    outdeg = cache(edges.groupBy("src")
                   .agg(F.count(F.lit(1)).alias("deg")))
    # seed set from the CACHED relation: deriving it from raw edges
    # would re-run the one-scan build once more for the seed broadcast
    seeds = cache(edges.select(F.col("src").alias("node")).distinct()
                  .orderBy("node").limit(_PPR_SEEDS)
                  .select("node"))
    restart = F.lit(round(0.15 * 1e9 / _PPR_SEEDS)).cast("bigint")
    pr = seeds.select(
        "node",
        F.lit(round(1e9 / _PPR_SEEDS)).cast("bigint").alias("pr_mu"))
    for _ in range(_PPR_ITERS):
        contrib = _pr_push(pr, outdeg, edges)
        is_seed = F.col("seed_node").isNotNull()
        pr = (
            contrib.join(
                F.broadcast(seeds.select(F.col("node")
                                         .alias("seed_node"))),
                contrib["node"] == F.col("seed_node"), "left")
            .select("node",
                    (F.when(is_seed, restart).otherwise(F.lit(0))
                     + F.expr("(85 * s) DIV 100")).alias("pr_mu")))
    return (pr.select(F.col("node").alias("part_key"), "pr_mu")
            .orderBy(F.desc("pr_mu"), "part_key").limit(100))


# ---------------------------------------------------------------------------
# Synchronous label propagation (Raghavan et al. 2007) over the
# co-purchase graph: the cheap community-detection pass that needs no
# modularity optimization — every node adopts the most frequent label
# among its neighbors each round, ties to the SMALLEST label so the
# sync update is fully deterministic (classic async LPA is not).

_LP_ITERS = 3


def _lpa_oracle() -> str:
    prelude = """
    WITH edges AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
    l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges)"""
    steps = []
    for i in range(1, _LP_ITERS + 1):
        steps.append(f"""
    v{i} AS (
      SELECT e.src AS node, l.lbl, CAST(count(*) AS BIGINT) AS nv
      FROM edges e JOIN l{i - 1} l ON l.node = e.dst
      GROUP BY 1, 2),
    l{i} AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT node, lbl, row_number() OVER (PARTITION BY node
                   ORDER BY nv DESC, lbl) AS rn
        FROM v{i}) t WHERE rn = 1)""")
    return (prelude + "," + ",".join(steps) + f"""
    SELECT node AS part_key, lbl AS community
    FROM l{_LP_ITERS} ORDER BY part_key
    """)


@query(
    "label_propagation_communities",
    oracle=_lpa_oracle(),
    doc=f"synchronous label propagation ({_LP_ITERS} rounds) over the "
        "part co-purchase graph: labels init to node ids; each round "
        "every node adopts its neighbors' modal label with "
        "(count desc, label asc) tie-break, so the sync schedule is "
        "bit-deterministic where textbook async LPA is run-order-"
        "dependent. Per round: one edges-to-labels join, one "
        "(node, label) count, one per-node argmax window — all "
        "hash-partitioned on node, labels stay node-sized while only "
        "edges are big, exactly the PageRank cost model; edge list "
        "persisted once (functions/graph.py one-scan build), released "
        "after the result materializes (run_scoped, VERDICT r9 ask "
        "#3), and the oracle unrolls the same rounds as chained CTEs",
    scoped=True,
    # 3 rounds x vote+argmax over the held edge list
    exchanges=10,
)
def _lpa_plan(spark, sf_dir, cache=lazy_cache):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                 "l_partkey")
    edges = leased_copurchase_edges(cache, sf_dir, li, "src", "dst")
    lbl = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl"))
    w = Window.partitionBy("node").orderBy(F.desc("nv"), "lbl")
    for _ in range(_LP_ITERS):
        # a label sent along out-edges is the neighbours' vote
        votes = GR.superstep(lbl, edges,
                             F.count(F.lit(1)).cast("long").alias("nv"),
                             by=("lbl",))
        lbl = (votes.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1).select("node", "lbl"))
    return (lbl.select(F.col("node").alias("part_key"),
                       F.col("lbl").alias("community"))
            .orderBy("part_key"))


# ---------------------------------------------------------------------------
# Sparse TF-IDF cosine pairs through an inverted index: the document-
# similarity shape that scales where dense all-pairs cannot. Weights
# are quantized to 1e-3 units so dot products and norms are exact
# BIGINTs; the cosine threshold is a pure HUGEINT/DECIMAL(38) cross-
# multiplication (dot^2 * 100 >= 9 * |a|^2 * |b|^2 for tau = 0.3).

_STC_TAU2_NUM, _STC_TAU2_DEN = 9, 100  # tau = 0.3, tau^2 = 9/100
_STC_W = 1000  # 1e-3-unit tf-idf weights -> exact BIGINT dots


@query(
    "sparse_tfidf_cosine_pairs",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    tk AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    per AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
            FROM tk GROUP BY 1, 2),
    docfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
                FROM per GROUP BY 1),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    post AS MATERIALIZED (
      SELECT per.doc_id, per.tok,
             CAST(ROUND(per.tf * ln(CAST(nn.n_docs AS DOUBLE) / df.df)
                        * {_STC_W}) AS BIGINT) AS w
      FROM per JOIN docfreq df USING (tok) CROSS JOIN nn
      WHERE df.df >= 2 AND df.df * 10 <= nn.n_docs),
    n2 AS MATERIALIZED (
      SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2
      FROM post GROUP BY 1),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared,
             CAST(sum(a.w * b.w) AS BIGINT) AS dot
      FROM post a JOIN post b
        ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_shared,
           ROUND(CAST(dot AS DOUBLE)
                 / (sqrt(CAST(na.n2 AS DOUBLE))
                    * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cos6
    FROM dots
    JOIN n2 na ON na.doc_id = dots.doc_a
    JOIN n2 nb ON nb.doc_id = dots.doc_b
    WHERE dot > 0
      AND CAST(dot AS HUGEINT) * dot * {_STC_TAU2_DEN}
          >= {_STC_TAU2_NUM} * CAST(na.n2 AS HUGEINT) * nb.n2
    ORDER BY doc_a, doc_b
    """,
    doc="document-pair cosine similarity over SPARSE tf-idf vectors "
        "via an inverted-index self-join — the similarity shape that "
        "survives 100 TB where dense all-pairs (embedding_gram_matrix "
        "style) cannot: candidate pairs exist only where a term is "
        "SHARED, and the df band (2 <= df <= N/10) bounds every "
        "posting list, killing both hapax noise and the stopword "
        "quadratic blow-up — the standard df-cut of sparse all-pairs "
        "similarity search (Bayardo et al. 2007). Weights are "
        "1e-3-unit BIGINTs, so dots/norms are exact integers; the "
        "tau=0.3 gate is a DECIMAL(38)/HUGEINT cross-multiplication "
        "(no division, no fp), and only the REPORTED cosine touches "
        "floats (identical double ops both engines, rounded to 6)",
    # postings, norms, pair agg
    exchanges=20,
)
def sparse_tfidf_cosine_pairs(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok"))
    per = tk.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("tf"))
    docfreq = per.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    nn = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    post = (per.join(docfreq, "tok").crossJoin(F.broadcast(nn))
            .filter((F.col("df") >= 2)
                    & (F.col("df") * 10 <= F.col("n_docs")))
            .select("doc_id", "tok",
                    F.round(F.col("tf")
                            * F.log(F.col("n_docs").cast("double")
                                    / F.col("df")) * _STC_W)
                    .cast("bigint").alias("w")))
    n2 = post.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).cast("long").alias("n2"))
    a = post.select(F.col("doc_id").alias("doc_a"), "tok",
                    F.col("w").alias("wa"))
    b = post.select(F.col("doc_id").alias("doc_b"), "tok",
                    F.col("w").alias("wb"))
    dots = (a.join(b, "tok")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared"),
                 F.sum(F.col("wa") * F.col("wb")).cast("long")
                 .alias("dot")))
    na = n2.select(F.col("doc_id").alias("doc_a"),
                   F.col("n2").alias("n2a"))
    nb = n2.select(F.col("doc_id").alias("doc_b"),
                   F.col("n2").alias("n2b"))
    d38 = F.col("dot").cast("decimal(38,0)")
    gate = (d38 * F.col("dot") * _STC_TAU2_DEN
            >= F.lit(_STC_TAU2_NUM)
            * F.col("n2a").cast("decimal(38,0)") * F.col("n2b"))
    return (dots.join(na, "doc_a").join(nb, "doc_b")
            .filter((F.col("dot") > 0) & gate)
            .select("doc_a", "doc_b", "n_shared",
                    F.round(F.col("dot").cast("double")
                            / (F.sqrt(F.col("n2a").cast("double"))
                               * F.sqrt(F.col("n2b").cast("double"))),
                            6).alias("cos6"))
            .orderBy("doc_a", "doc_b"))


# ---------------------------------------------------------------------------
# Distributed decision-tree split finder: the binned-statistics scan
# every tree learner (Spark MLlib, XGBoost hist mode) runs — ONE pass
# over the facts builds per-bin (count, positives), then candidate
# thresholds are evaluated over that bounded bin relation. Information
# gain is scored in exact integer units: total-weighted entropy
# WH(n, pos) = -(pos*lnu(pos/n) + neg*lnu(neg/n)) with lnu = the
# ln of an exact integer fraction rounded to 1e-6 nats (BIGINT), so
# gain_units = WH_parent - WH_left - WH_right is bit-deterministic.

def _wh_sql(pos: str, n: str) -> str:
    """Total-weighted binary entropy in 1e-6 nat-row BIGINT units."""
    term = ("CASE WHEN {p} = 0 THEN 0 ELSE {p} * CAST(ROUND("
            "ln(CAST({p} AS DOUBLE) / {n}) * 1000000) AS BIGINT) END")
    return ("-(" + term.format(p=pos, n=n) + " + "
            + term.format(p=f"({n} - {pos})", n=n) + ")")


@query(
    "decision_split_information_gain",
    oracle=f"""
    WITH per AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos
      FROM lineitem GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
                   CAST(sum(pos) AS BIGINT) AS post
            FROM per),
    cum AS (
      SELECT q AS threshold,
             CAST(sum(n) OVER (ORDER BY q) AS BIGINT) AS n_left,
             CAST(sum(pos) OVER (ORDER BY q) AS BIGINT) AS pos_left
      FROM per),
    scored AS (
      SELECT threshold, n_left, pos_left,
             nt - n_left AS n_right, post - pos_left AS pos_right,
             CAST({_wh_sql('post', 'nt')}
                  - {_wh_sql('pos_left', 'n_left')}
                  - {_wh_sql('(post - pos_left)', '(nt - n_left)')}
                  AS BIGINT) AS gain_units
      FROM cum CROSS JOIN tot
      WHERE n_left > 0 AND nt - n_left > 0)
    SELECT threshold, n_left, pos_left, n_right, pos_right, gain_units
    FROM scored ORDER BY gain_units DESC, threshold LIMIT 10
    """,
    doc="decision-tree split finder over l_quantity for the binary "
        "target l_returnflag='R' (the binned-statistics pattern of "
        "MLlib/XGBoost-hist): one corpus scan aggregates per-bin "
        "(count, positives); thresholds are then scored on that "
        "~50-row bin relation via a cumulative window — the window is "
        "partition-less but BOUNDED by the bin count by construction, "
        "never corpus-sized. Information gain is the exact BIGINT "
        "total-weighted entropy difference (each ln term is an exact "
        "integer fraction's log rounded to 1e-6 nats), so the split "
        "ranking is bit-identical across engines and partitionings. "
        "At 100 TB: the scan is embarrassingly parallel with map-side "
        "combine into <=50 bins; everything after costs nothing",
    exchanges=4,
)
def decision_split_information_gain(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("q"),
        (F.col("l_returnflag") == "R").cast("bigint").alias("y"))
    per = li.groupBy("q").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"))
    tot = per.agg(F.sum("n").cast("long").alias("nt"),
                  F.sum("pos").cast("long").alias("post"))
    wc = Window.orderBy("q").rowsBetween(Window.unboundedPreceding,
                                         Window.currentRow)
    cum = per.select(
        F.col("q").alias("threshold"),
        F.sum("n").over(wc).cast("long").alias("n_left"),
        F.sum("pos").over(wc).cast("long").alias("pos_left"))

    def wh(pos, n):
        def term(p):
            lnu = F.round(F.log(p.cast("double") / n) * 1000000) \
                .cast("bigint")
            return F.when(p == 0, F.lit(0).cast("bigint")) \
                .otherwise(p * lnu)
        return -(term(pos) + term(n - pos))

    nl, pl = F.col("n_left"), F.col("pos_left")
    nt, pt = F.col("nt"), F.col("post")
    scored = (cum.crossJoin(F.broadcast(tot))
              .filter((nl > 0) & (nt - nl > 0))
              .select("threshold", "n_left", "pos_left",
                      (nt - nl).alias("n_right"),
                      (pt - pl).alias("pos_right"),
                      (wh(pt, nt) - wh(pl, nl)
                       - wh(pt - pl, nt - nl)).cast("bigint")
                      .alias("gain_units")))
    return (scored.orderBy(F.desc("gain_units"), "threshold")
            .limit(10))


# ---------------------------------------------------------------------------
# Deterministic uniform sample (hash-gated, reproducible anywhere)

@query(
    "deterministic_sample",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE {_h60_sql("'sample:' || CAST(doc_id AS VARCHAR)")}
          % 1000 < 20
    ORDER BY doc_id
    """,
    doc="2% uniform sample gated on the 60-bit md5 of the row id: "
        "reproducible on any engine, stable under repartitioning and "
        "appends (unlike TABLESAMPLE/rand-based sampling) — the "
        "sampling primitive a training pipeline can audit",
    exchanges=1,
)
def deterministic_sample(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    gate = h60(F.concat(F.lit("sample:"),
                        F.col("doc_id").cast("string"))) % 1000
    return (docs.filter(gate < 20)
            .select("doc_id", "lang", "source", "n_chars")
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# Decile assignment (ntile) with a total order

@query(
    "ntile_deciles",
    oracle="""
    WITH t AS (
      SELECT value,
             ntile(10) OVER (ORDER BY value, event_id) AS decile
      FROM events)
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n,
           ROUND(min(value), 6) AS lo,
           ROUND(max(value), 6) AS hi
    FROM t GROUP BY decile ORDER BY decile
    """,
    doc="equal-count decile binning with a TOTAL order (value, "
        "event_id) but WITHOUT the partition-less ntile window it "
        "textbook-compiles to: the two-phase distributed global rank "
        "(operators/ranking.py, bucket = floor(value/50) as an "
        "order-prefix coarsening) gives every row its exact position, "
        "and ntile's first-(n%k)-tiles-get-the-extra-row rule is a "
        "closed form of (rank, n). The oracle runs the REAL ntile "
        "window — matching it exactly proves the decomposition. At "
        "100 TB: one bucket exchange + two tiny broadcasts; no "
        "single-task sort of event-scale data",
    exchanges=6,
)
def ntile_deciles(spark, sf_dir):
    from ..operators.ranking import global_rank, ntile_from_rank
    ev = table(spark, sf_dir, "events")
    ranked = global_rank(
        ev.select("value", "event_id"), F.floor(F.col("value") / 50),
        ["value", "event_id"], "r")
    n_tot = ev.agg(F.count(F.lit(1)).alias("n"))
    t = (ranked.crossJoin(F.broadcast(n_tot))
         .select("value",
                 ntile_from_rank(F.col("r"), F.col("n"), 10)
                 .alias("decile")))
    return (
        t.groupBy(F.col("decile").cast("long").alias("decile"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.min("value"), _R).alias("lo"),
             F.round(F.max("value"), _R).alias("hi"))
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Pure-SQL interface: the same engine surface through spark.sql

@query(
    "sql_revenue_by_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(ROUND(o_totalprice * 100) AS BIGINT))
               AS BIGINT) / 100.0 AS revenue
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="the SQL-string interface: registered temp view + spark.sql "
        "text (identical ANSI SQL runs on DuckDB as the oracle) — "
        "evidence the engine's surface is usable from pure SQL, not "
        "just the DataFrame API; integer-cents exact revenue",
    exchanges=2,
)
def sql_revenue_by_priority(spark, sf_dir):
    table(spark, sf_dir, "orders").createOrReplaceTempView(
        "bdt_orders_v")
    return spark.sql("""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                   AS BIGINT) / CAST(100.0 AS DOUBLE) AS revenue
        FROM bdt_orders_v
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """)


# ---------------------------------------------------------------------------
# Global deterministic shuffle: reproducible pseudo-random ordering for
# training-shard emission, via the two-phase distributed global rank
# (operators/ranking.py) — never a one-task global sort

@query(
    "global_shuffle_rank",
    oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (
               ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR)),
                        doc_id) AS BIGINT) AS shuffle_pos
    FROM documents ORDER BY doc_id
    """,
    doc="deterministic global shuffle order for training data: "
        "position = global rank under ORDER BY md5(seed || id). "
        "Computed as bucket-local row_number + broadcast bucket "
        "offsets (bucket = first hex byte of the hash, a prefix of "
        "the order), so no single-partition window exists in the plan",
    exchanges=4,
)
def global_shuffle_rank(spark, sf_dir):
    from ..operators.ranking import global_rank
    docs = table(spark, sf_dir, "documents").select("doc_id")
    h = F.md5(F.concat(F.lit("seed42:"), F.col("doc_id").cast("string")))
    ranked = global_rank(
        docs.withColumn("__h", h),
        bucket=F.substring("__h", 1, 2),
        order_cols=[F.col("__h"), F.col("doc_id")],
        rank_col="shuffle_pos")
    return ranked.select("doc_id", "shuffle_pos").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Bigram language model: conditional next-word probabilities — the
# count side of KenLM-style n-gram estimation, over the corpus at scale

@query(
    "bigram_conditional_prob",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    bi AS (SELECT unnest({_grams_sql(2)}) AS gram FROM toks),
    sp AS (SELECT string_split(gram, ' ')[1] AS w1,
                  string_split(gram, ' ')[2] AS w2
           FROM bi),
    cnt AS (SELECT w1, w2, count(*) AS c2 FROM sp GROUP BY 1, 2),
    tot AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM cnt
            GROUP BY 1)
    SELECT cnt.w1, cnt.w2,
           CAST(cnt.c2 AS BIGINT) AS pair_count,
           tot.c1 AS w1_count,
           ROUND(CAST(cnt.c2 AS DOUBLE) / tot.c1, 6) AS cond_prob
    FROM cnt JOIN tot USING (w1)
    ORDER BY pair_count DESC, cnt.w1, cnt.w2
    LIMIT 200
    """,
    doc="bigram LM estimation: P(w2|w1) = c(w1 w2) / c(w1 ·) over the "
        "corpus — counts via the codegen gram builder, the denominator "
        "via a partial re-aggregation of the bigram counts themselves "
        "(never a second corpus scan); top-200 under a deterministic "
        "order",
    exchanges=3,
)
def bigram_conditional_prob(spark, sf_dir):
    # zip-gram builder (functions/dedup._zip_grams): grams materialize
    # in the scan's own partitions — no doc_id exchange exists in this
    # plan at all (the _gram_rows window would add one that nothing
    # downstream reuses: the aggregates here key on words, not docs)
    from ..functions.dedup import _zip_grams
    docs = table(spark, sf_dir, "documents")
    grams = _zip_grams(docs, "text", "doc_id", 2, short_doc_rule=False)
    sp = grams.withColumnRenamed("s", "gram").select(
        F.split("gram", " ")[0].alias("w1"),
        F.split("gram", " ")[1].alias("w2"))
    cnt = sp.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    tot = cnt.groupBy("w1").agg(F.sum("c2").cast("long").alias("c1"))
    return (
        cnt.join(tot, on="w1")
        .select("w1", "w2", F.col("c2").cast("long").alias("pair_count"),
                F.col("c1").alias("w1_count"),
                F.round(F.col("c2").cast("double") / F.col("c1"), _R)
                .alias("cond_prob"))
        .orderBy(F.desc("pair_count"), "w1", "w2")
        .limit(200)
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters: the mergeable frequency sketch a
# 100 TB pipeline uses when exact token counts don't fit (the sketch is
# W*D cells regardless of cardinality; per-partition sketches merge by
# cell-wise addition, which groupBy(r, bucket) IS). Hash rows are
# md5-derived, so the whole sketch is deterministic — unlike HLL, this
# approximate structure carries an exact cross-engine oracle.

_CMS_D, _CMS_W = 4, 256


@query(
    "cms_heavy_hitters",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    tk AS (SELECT unnest(t) AS tok FROM toks),
    rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
    rb AS (SELECT tok, r,
                  {_h60_sql("'cms' || CAST(r AS VARCHAR) || ':' || tok")}
                      % {_CMS_W} AS bucket
           FROM tk, rs),
    sketch AS (SELECT r, bucket, count(*) AS c FROM rb GROUP BY 1, 2),
    cand AS (SELECT tok, CAST(count(*) AS BIGINT) AS true_count
             FROM tk GROUP BY 1
             ORDER BY true_count DESC, tok LIMIT 50),
    cb AS (SELECT cand.tok, cand.true_count, rs.r,
                  {_h60_sql("'cms' || CAST(rs.r AS VARCHAR) "
                            "|| ':' || cand.tok")} % {_CMS_W} AS bucket
           FROM cand, rs)
    SELECT cb.tok, cb.true_count,
           CAST(min(s.c) AS BIGINT) AS cms_estimate
    FROM cb JOIN sketch s ON s.r = cb.r AND s.bucket = cb.bucket
    GROUP BY 1, 2 ORDER BY true_count DESC, tok
    """,
    doc="count-min sketch (d=4, w=256, md5 hash rows) over corpus "
        "tokens, read back for the top-50 true heavy hitters: "
        "estimate = min over rows of the hashed cell. Deterministic "
        "by construction, so the sketch itself is oracle-checked "
        "bit-for-bit; the estimate >= truth guarantee is also "
        "property-tested",
    exchanges=4,
)
def cms_heavy_hitters(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    tk = docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
    rs = F.explode(F.array(*[F.lit(r) for r in range(_CMS_D)])).alias("r")
    cell = h60(F.concat(F.lit("cms"), F.col("r").cast("string"),
                        F.lit(":"), F.col("tok"))) % _CMS_W
    sketch = (tk.select("tok", rs)
              .select("r", cell.alias("bucket"))
              .groupBy("r", "bucket").agg(F.count(F.lit(1)).alias("c")))
    cand = (tk.groupBy("tok").agg(F.count(F.lit(1)).alias("true_count"))
            .orderBy(F.desc("true_count"), "tok").limit(50))
    cb = cand.select("tok", "true_count", rs).select(
        "tok", "true_count", "r", cell.alias("bucket"))
    return (
        cb.join(sketch, on=["r", "bucket"])
        .groupBy("tok", "true_count")
        .agg(F.min("c").cast("long").alias("cms_estimate"))
        .orderBy(F.desc("true_count"), "tok")
    )


# ---------------------------------------------------------------------------
# Bloom filter, exactly: completes the mergeable-sketch trio (HLL =
# distinct, CMS = frequency, Bloom = membership). Positions are
# md5-derived, so the filter CONTENT is deterministic and the
# false-positive set — normally the textbook's probabilistic
# hand-wave — is a concrete, oracle-checked relation.

_BF_BPK, _BF_K = 10, 3  # ~10 bits per key, 3 hash rows: the filter is
                        # sized FROM the member count (m = 10n+1), so
                        # the load factor — and therefore the FPR this
                        # query measures — is scale-invariant


@query(
    "bloom_exact_membership",
    oracle=f"""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    members AS (SELECT user_id FROM users WHERE user_id % 3 = 0),
    msz AS (SELECT CAST({_BF_BPK} * count(*) + 1 AS BIGINT) AS m
            FROM members),
    rs AS (SELECT unnest([{', '.join(map(str, range(_BF_K)))}]) AS r),
    setpos AS (
      SELECT DISTINCT
             {_h60_sql("'bf' || CAST(rs.r AS VARCHAR) || ':' "
                       "|| CAST(members.user_id AS VARCHAR)")}
                 % msz.m AS pos
      FROM members, rs, msz),
    cand AS (
      SELECT users.user_id, rs.r,
             {_h60_sql("'bf' || CAST(rs.r AS VARCHAR) || ':' "
                       "|| CAST(users.user_id AS VARCHAR)")}
                 % msz.m AS pos
      FROM users, rs, msz),
    passed AS (
      SELECT c.user_id FROM cand c
      WHERE EXISTS (SELECT 1 FROM setpos s WHERE s.pos = c.pos)
      GROUP BY 1 HAVING count(*) = {_BF_K}),
    m AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM members) AS n_keys,
             (SELECT CAST(count(*) AS BIGINT) FROM setpos)
                 AS n_set_bits,
             (SELECT CAST(count(*) AS BIGINT) FROM users)
                 - (SELECT CAST(count(*) AS BIGINT) FROM members)
                 AS n_nonmembers,
             (SELECT CAST(count(*) AS BIGINT) FROM passed)
                 AS n_passed)
    SELECT n_keys, n_set_bits, n_nonmembers,
           n_passed - n_keys AS n_false_positives,
           CAST((2 * (n_passed - n_keys) * 1000000 + n_nonmembers)
                // (2 * n_nonmembers) AS DOUBLE) / 1000000.0
               AS fpr6
    FROM m
    """,
    doc=f"Bloom membership filter sized at {_BF_BPK} bits/key "
        f"(m = {_BF_BPK}n+1, k={_BF_K} md5 hash rows) built over the "
        "user_id%3==0 member set and probed with every distinct user: "
        "a candidate passes iff all k of its positions are set. "
        "Everything is exact integers — the set-bit positions, the "
        "guaranteed-zero false-negative property (n_passed always "
        ">= n_keys, asserted by the oracle hash itself), and the "
        "measured false-positive count the textbook only bounds in "
        "expectation. Sizing from the key count keeps the load factor "
        "— and the FPR under audit — scale-invariant (~26% load, "
        "~1.5% FPR at every SF). Mergeable: the filter is a distinct "
        "position set (equivalently bit_or of words), so per-partition "
        "partials union losslessly — the runtime-filter pattern "
        "runtime_filter_semi_join applies at join time, here with its "
        "FPR audited. Scale: the filter is n-keys-sized bits and "
        "broadcast; candidates probe map-side; at 100 TB the only "
        "tuning is bits per key, and this query is the measurement",
    exchanges=17,
)
def bloom_exact_membership(spark, sf_dir):

    ev = table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    members = users.filter(F.col("user_id") % 3 == 0)
    msz = members.agg((F.lit(_BF_BPK) * F.count(F.lit(1)) + 1)
                      .cast("long").alias("m"))
    rs = F.explode(F.array(*[F.lit(r) for r in range(_BF_K)])).alias("r")
    pos = h60(F.concat(F.lit("bf"), F.col("r").cast("string"),
                       F.lit(":"), F.col("user_id").cast("string"))
              ) % F.col("m")
    setpos = (members.crossJoin(F.broadcast(msz))
              .select(rs, "user_id", "m")
              .select(pos.alias("pos")).distinct())
    cand = (users.crossJoin(F.broadcast(msz))
            .select(rs, "user_id", "m")
            .select("user_id", pos.alias("pos")))
    passed = (cand.join(F.broadcast(setpos), "pos")
              .groupBy("user_id").agg(F.count(F.lit(1)).alias("nh"))
              .filter(F.col("nh") == _BF_K))
    n_keys = members.agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    n_bits = setpos.agg(F.count(F.lit(1)).cast("long")
                        .alias("n_set_bits"))
    n_users = users.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    n_passed = passed.agg(F.count(F.lit(1)).cast("long")
                          .alias("n_passed"))
    m = (n_keys.crossJoin(F.broadcast(n_bits))
         .crossJoin(F.broadcast(n_users))
         .crossJoin(F.broadcast(n_passed)))
    return m.select(
        "n_keys", "n_set_bits",
        (F.col("n_users") - F.col("n_keys")).alias("n_nonmembers"),
        (F.col("n_passed") - F.col("n_keys"))
        .alias("n_false_positives"),
        ratio_round6(F.col("n_passed") - F.col("n_keys"),
                     F.col("n_users") - F.col("n_keys"))
        .alias("fpr6"))


# ---------------------------------------------------------------------------
# Closed-form OLS trend per user: distributed linear regression as
# pure aggregates (the normal-equations path — no UDF, one shuffle)

_OLS_EPOCH = 1704067200  # 2024-01-01, centers t so products stay narrow


@query(
    "linreg_trend_per_user",
    oracle=f"""
    WITH pts AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) - {_OLS_EPOCH} AS t,
             CAST(ROUND(value * 100) AS BIGINT) AS vc
      FROM events),
    s AS (SELECT user_id,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(t) AS BIGINT) AS sx,
                 CAST(sum(vc) AS BIGINT) AS sy,
                 CAST(sum(t * t) AS BIGINT) AS sxx,
                 CAST(sum(t * vc) AS BIGINT) AS sxy
          FROM pts GROUP BY 1)
    SELECT user_id, n AS n_events,
           ROUND(CAST(sy AS DOUBLE) / n / 100.0, 6) AS mean_value,
           ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 * 864.0
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx),
                 6) AS slope_per_day
    FROM s ORDER BY user_id
    """,
    doc="per-key closed-form OLS (value ~ time): slope from the normal "
        "equations n*Sxy - Sx*Sy over n*Sxx - Sx^2, where every S is an "
        "exact BIGINT sum of integer-quantized inputs (epoch-second t "
        "centered on 2024-01-01, value in cents) — the distributed-ML "
        "primitive for trend fitting: each partition contributes "
        "5 partial sums, one shuffle of 5-number rows per key. The "
        "final combination follows the autocorr_lag1 convention: the "
        "IDENTICAL IEEE-double expression over identical integers on "
        "both engines, so the rounded slope is bit-identical. No UDF "
        "anywhere; at 100 TB this is a map-side-combined aggregate, "
        "the same plan as a count",
    exchanges=2,
)
def linreg_trend_per_user(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        (F.unix_timestamp("ts") - _OLS_EPOCH).alias("t"),
        F.round(F.col("value") * 100).cast("bigint").alias("vc"))
    s = pts.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("sx"),
        F.sum("vc").alias("sy"),
        F.sum(F.col("t") * F.col("t")).alias("sxx"),
        F.sum(F.col("t") * F.col("vc")).alias("sxy"))
    nd, sxd = F.col("n").cast("double"), F.col("sx").cast("double")
    num = (nd * F.col("sxy") - sxd * F.col("sy")) * 864.0
    den = nd * F.col("sxx") - sxd * F.col("sx")
    return s.select(
        "user_id", F.col("n").alias("n_events"),
        F.round(F.col("sy").cast("double") / F.col("n") / 100.0, _R)
        .alias("mean_value"),
        F.round(num / den, _R).alias("slope_per_day"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Unpivot (wide -> long): the relational melt


@query(
    "unpivot_event_metrics",
    oracle="""
    WITH wide AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
      FROM events GROUP BY 1)
    SELECT event_type, 'n_events' AS metric, n_events AS metric_value
    FROM wide
    UNION ALL
    SELECT event_type, 'n_users', n_users FROM wide
    UNION ALL
    SELECT event_type, 'sum_cents', sum_cents FROM wide
    ORDER BY event_type, metric
    """,
    doc="wide -> long unpivot (melt) of a per-type metrics table via "
        "DataFrame.unpivot — the inverse of the pivot operator "
        "(event_type_pivot). Unpivot is a narrow projection (each row "
        "fans out to k metric rows with NO shuffle); the only exchange "
        "here belongs to the upstream aggregate",
    exchanges=3,
)
def unpivot_event_metrics(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    wide = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .alias("sum_cents"))
    return (
        wide.unpivot(
            ids=["event_type"],
            values=["n_events", "n_users", "sum_cents"],
            variableColumnName="metric",
            valueColumnName="metric_value")
        .orderBy("event_type", "metric")
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering key: multi-dimensional data-skipping layout

_Z_BITS = 10  # covers user_id < 1024 and hour-index < 1024


def _morton(u, h):
    """Interleave the low _Z_BITS of u (even positions) and h (odd):
    pure integer arithmetic so Spark and DuckDB agree bit for bit."""
    z = F.lit(0).cast("bigint")
    for i in range(_Z_BITS):
        z = (z
             + F.shiftright(u, i).bitwiseAND(F.lit(1)) * (1 << (2 * i))
             + F.shiftright(h, i).bitwiseAND(F.lit(1))
             * (1 << (2 * i + 1)))
    return z


def _morton_sql(u: str, h: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(({u} >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"(({h} >> {i}) & 1) * {1 << (2 * i + 1)}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@query(
    "zorder_locality",
    oracle=f"""
    WITH pts AS (
      SELECT user_id,
             CAST((CAST(floor(epoch(ts)) AS BIGINT) - {_OLS_EPOCH}) // 3600
                  AS BIGINT) AS hr
      FROM events),
    z AS (SELECT user_id, hr,
                 {_morton_sql('user_id', 'hr')} AS zcode
          FROM pts)
    SELECT CAST(zcode // 4096 AS BIGINT) AS z_bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(max(user_id) - min(user_id) AS BIGINT) AS user_span,
           CAST(max(hr) - min(hr) AS BIGINT) AS hour_span
    FROM z GROUP BY 1 ORDER BY 1
    """,
    doc="Morton (Z-order) clustering key over (user_id, hour): "
        f"interleaves the low {_Z_BITS} bits of each dimension with "
        "pure integer arithmetic (bit-identical across engines). "
        "Bucketing rows by zcode-prefix yields file-sized cells that "
        "are NARROW IN BOTH dimensions at once (the per-bucket "
        "user_span/hour_span in the output), which is what makes "
        "min/max stats skip files for filters on EITHER column — the "
        "multi-dimensional data-skipping layout (Delta OPTIMIZE "
        "ZORDER) expressed as a plain deterministic sort key; "
        "sources/sinks-side writers get it via a repartitionByRange "
        "on zcode. Layout effectiveness is asserted in "
        "tests/test_training_ops.py by comparing per-file min/max "
        "spans against a naive layout",
    exchanges=2,
)
def zorder_locality(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        F.floor((F.unix_timestamp("ts") - _OLS_EPOCH) / 3600)
        .cast("bigint").alias("hr"))
    z = pts.select(
        "user_id", "hr", _morton(F.col("user_id"), F.col("hr"))
        .alias("zcode"))
    return (
        z.groupBy(F.expr("CAST(zcode DIV 4096 AS BIGINT)")
                  .alias("z_bucket"))
        .agg(F.count(F.lit(1)).alias("n_rows"),
             (F.max("user_id") - F.min("user_id")).alias("user_span"),
             (F.max("hr") - F.min("hr")).alias("hour_span"))
        .orderBy("z_bucket")
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit across the star schema

@query(
    "fk_integrity_checks",
    oracle="""
    SELECT * FROM (
      SELECT 'lineitem.l_orderkey -> orders' AS fk,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_orphans
      FROM lineitem l LEFT JOIN orders o
        ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'orders.o_custkey -> customer',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      UNION ALL
      SELECT 'customer.c_nationkey -> nation',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM customer c LEFT JOIN nation n
        ON c.c_nationkey = n.n_nationkey
      UNION ALL
      SELECT 'supplier.s_nationkey -> nation',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM supplier s LEFT JOIN nation n
        ON s.s_nationkey = n.n_nationkey) t
    ORDER BY fk
    """,
    doc="referential-integrity audit over the star schema: every "
        "declared FK edge reports row count + orphan count in one "
        "result — the data-quality gate a pipeline runs before "
        "publishing a snapshot. Each edge is a left join against a "
        "broadcast-able key set reduced to an aggregate, so at 100 TB "
        "the fact tables stream through map-side joins; nothing wide "
        "ever shuffles",
    exchanges=8,
)
def fk_integrity_checks(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer")
    su = table(spark, sf_dir, "supplier")
    na = table(spark, sf_dir, "nation")

    def edge(name, child, ck, parent, pk):
        return (
            child.select(F.col(ck))
            .join(F.broadcast(parent.select(F.col(pk)).distinct()),
                  child[ck] == parent[pk], "left")
            .agg(F.lit(name).alias("fk"),
                 F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.when(F.col(pk).isNull(), 1).otherwise(0))
                 .alias("n_orphans")))

    return (
        edge("lineitem.l_orderkey -> orders", li, "l_orderkey",
             od, "o_orderkey")
        .unionAll(edge("orders.o_custkey -> customer", od, "o_custkey",
                       cu, "c_custkey"))
        .unionAll(edge("customer.c_nationkey -> nation", cu,
                       "c_nationkey", na, "n_nationkey"))
        .unionAll(edge("supplier.s_nationkey -> nation", su,
                       "s_nationkey", na, "n_nationkey"))
        .orderBy("fk")
    )


# ---------------------------------------------------------------------------
# Snapshot diff: reconcile two table versions (added/removed/changed)

_SNAP_CUT = "2024-01-20"


@query(
    "snapshot_diff",
    oracle=f"""
    WITH v1 AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
      FROM events WHERE ts < TIMESTAMP '{_SNAP_CUT}'
      GROUP BY 1),
    v2 AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
      FROM events GROUP BY 1)
    SELECT COALESCE(v1.user_id, v2.user_id) AS user_id,
           CASE WHEN v1.user_id IS NULL THEN 'added'
                WHEN v2.user_id IS NULL THEN 'removed'
                WHEN v1.n_events <> v2.n_events
                     OR v1.sum_cents <> v2.sum_cents THEN 'changed'
                ELSE 'unchanged' END AS change,
           v1.n_events AS n_events_v1, v2.n_events AS n_events_v2,
           v1.sum_cents AS sum_cents_v1, v2.sum_cents AS sum_cents_v2
    FROM v1 FULL OUTER JOIN v2 ON v1.user_id = v2.user_id
    WHERE v1.user_id IS NULL OR v2.user_id IS NULL
       OR v1.n_events <> v2.n_events OR v1.sum_cents <> v2.sum_cents
    ORDER BY user_id
    """,
    doc="snapshot reconciliation: two versions of a keyed aggregate "
        "(here: per-user stats before a cutoff vs now) full-outer "
        "joined into an added/removed/changed diff — the audit a "
        "pipeline publishes alongside every refresh so consumers see "
        "exactly which keys moved. Runs on the aggregated key space, "
        "so the diff costs key-cardinality rows regardless of fact "
        "volume; with both versions bucketed on the key the join "
        "needs no exchange at all (sources/bucketed.py)",
    exchanges=3,
)
def snapshot_diff(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    cents = F.sum(F.round(F.col("value") * 100).cast("bigint"))

    def snap(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            cents.alias("sum_cents"))

    v1 = snap(ev.filter(F.col("ts") < F.lit(_SNAP_CUT).cast("timestamp")))
    v2 = snap(ev)
    v1 = v1.select(F.col("user_id").alias("u1"),
                   F.col("n_events").alias("n_events_v1"),
                   F.col("sum_cents").alias("sum_cents_v1"))
    v2 = v2.select(F.col("user_id").alias("u2"),
                   F.col("n_events").alias("n_events_v2"),
                   F.col("sum_cents").alias("sum_cents_v2"))
    j = v1.join(v2, F.col("u1") == F.col("u2"), "full_outer")
    change = (
        F.when(F.col("u1").isNull(), "added")
        .when(F.col("u2").isNull(), "removed")
        .when((F.col("n_events_v1") != F.col("n_events_v2"))
              | (F.col("sum_cents_v1") != F.col("sum_cents_v2")),
              "changed")
        .otherwise("unchanged"))
    return (
        j.select(F.coalesce("u1", "u2").alias("user_id"),
                 change.alias("change"),
                 "n_events_v1", "n_events_v2",
                 "sum_cents_v1", "sum_cents_v2")
        .filter(F.col("change") != "unchanged")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Mergeable HLL sketches: re-aggregatable distinct counts (pre-agg cube)

@query(
    "hll_partial_merge",
    oracle=None,  # DataSketches binary sketches have no DuckDB twin;
                  # merge==direct equivalence is asserted in
                  # tests/test_training_ops.py
    doc="re-aggregatable distinct counts via Apache DataSketches HLL: "
        "per-(day, event_type) user sketches built with hll_sketch_agg "
        "are UNIONED upward with hll_union_agg to per-event_type "
        "estimates — the pre-aggregation pattern that makes 100 TB "
        "dashboards cheap: daily partials are tiny (KB) and mergeable, "
        "so rollups to any coarser grain never rescan events. "
        "tests/test_training_ops.py asserts the merged estimate equals "
        "the direct whole-table sketch estimate exactly (same "
        "deterministic sketch algorithm) and sits within 5% of the "
        "exact distinct count",
    exchanges=3,
)
def hll_partial_merge(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"),
                   "event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sk")))
    return (
        daily.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk"))
             .alias("est_users"),
             F.count(F.lit(1)).alias("n_partials"))
        .orderBy("event_type")
    )


# Hash-exact HLL companion: hll_partial_merge stays rows-only because
# DataSketches binaries have no DuckDB twin, so this query pins the
# SAME mechanism — register sketches, partial merge by max, harmonic
# estimate — with everything derived from the shared 60-bit md5 both
# engines compute bit-identically (the ivf/pq_vs_exact_eval pattern:
# every approximate op gets a hash-exact companion).

_HLL_P = 8                       # 2^8 = 256 registers
_HLL_M = 1 << _HLL_P
_HLL_WBITS = 60 - _HLL_P         # 52-bit register payload
# alpha_m * m^2 * 2^(WBITS+1), precomputed ONCE here and embedded as
# the same literal in both engines (the _RBO_W convention): the
# estimate is then a single double division of two exact integers
_HLL_A = round(0.7213 / (1 + 1.079 / _HLL_M) * _HLL_M * _HLL_M
               * (1 << (_HLL_WBITS + 1)))


@query(
    "hll_exact_register_sketch",
    oracle=f"""
    WITH ev AS (
      SELECT event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h
      FROM events),
    reg AS (
      SELECT event_type, h % {_HLL_M} AS j,
             CASE WHEN h // {_HLL_M} = 0 THEN {_HLL_WBITS + 1}
                  ELSE {_HLL_WBITS + 1} - length(bin(h // {_HLL_M}))
             END AS rho
      FROM ev),
    merged AS (
      SELECT event_type, j, CAST(max(rho) AS BIGINT) AS r
      FROM reg GROUP BY 1, 2),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS nonzero_regs,
             CAST(sum(CAST(1 AS BIGINT) << ({_HLL_WBITS + 1} - r))
                  + ({_HLL_M} - count(*))
                    * (CAST(1 AS BIGINT) << {_HLL_WBITS + 1})
                  AS BIGINT) AS s_scaled
      FROM merged GROUP BY 1),
    ex AS (SELECT event_type,
                  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
           FROM events GROUP BY 1)
    SELECT s.event_type, ex.n_exact, s.nonzero_regs, s.s_scaled,
           CASE WHEN s.nonzero_regs < {_HLL_M}
                 AND CAST({_HLL_A} AS DOUBLE)
                     / CAST(s.s_scaled AS DOUBLE) <= {2.5 * _HLL_M}
                THEN ROUND({_HLL_M} * ln({_HLL_M}.0
                           / ({_HLL_M} - s.nonzero_regs)), 2)
                ELSE ROUND(CAST({_HLL_A} AS DOUBLE)
                           / CAST(s.s_scaled AS DOUBLE), 2)
           END AS hll_est2
    FROM s JOIN ex USING (event_type)
    ORDER BY event_type
    """,
    doc=f"HyperLogLog with fully deterministic cross-engine registers "
        f"(p={_HLL_P}, m={_HLL_M}): the shared 60-bit md5 of user_id "
        f"splits into register index (low {_HLL_P} bits) and a "
        f"{_HLL_WBITS}-bit payload whose leading-zero rank rho comes "
        "from length(bin(w)) — exact integer arithmetic, no floats. "
        "The Spark side builds per-(day, event_type) PARTIAL register "
        "vectors and max-merges them upward (the mergeability that "
        "makes 100 TB pre-agg cubes cheap); the oracle computes "
        "registers directly, so the hash match IS the proof that "
        "partial-merge == direct (max associativity), value-exact. "
        "The raw-HLL estimate alpha*m^2/sum(2^-M_j) is carried as an "
        "exact BIGINT S = sum(2^(53-M_j)) plus one double division by "
        "the embedded alpha literal; the standard small-range "
        "(linear-counting) branch m*ln(m/V) fires on exact-integer "
        "conditions, with ln at 2dp rounding per the doc_perplexity "
        "1e-4 precedent. n_exact sits beside the estimate so the "
        "record shows the sketch error directly (within ~5% here)",
    exchanges=6,
)
def hll_exact_register_sketch(spark, sf_dir):
    from ..functions.dedup import h60

    ev = table(spark, sf_dir, "events")
    hashed = ev.select(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day"),
        h60(F.col("user_id").cast("string")).alias("h"))
    w = F.expr(f"h DIV {_HLL_M}")
    reg = hashed.select(
        "event_type", "day", (F.col("h") % _HLL_M).alias("j"),
        F.when(w == 0, F.lit(_HLL_WBITS + 1))
        .otherwise(F.lit(_HLL_WBITS + 1) - F.length(F.bin(w)))
        .cast("long").alias("rho"))
    partials = (reg.groupBy("event_type", "day", "j")
                .agg(F.max("rho").alias("r")))
    merged = (partials.groupBy("event_type", "j")
              .agg(F.max("r").cast("long").alias("r")))
    s = (merged.groupBy("event_type")
         .agg(F.count(F.lit(1)).cast("long").alias("nonzero_regs"),
              (F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                            f"CAST({_HLL_WBITS + 1} - r AS INT))"))
               + (F.lit(_HLL_M) - F.count(F.lit(1)))
               * F.lit(1 << (_HLL_WBITS + 1)))
              .cast("long").alias("s_scaled")))
    ex = (ev.groupBy("event_type")
          .agg(F.countDistinct("user_id").cast("long")
               .alias("n_exact")))
    raw = F.lit(float(_HLL_A)) / F.col("s_scaled").cast("double")
    zeros = F.lit(_HLL_M) - F.col("nonzero_regs")
    # HLL's standard small-range (linear counting) branch: condition
    # on exact ints + one raw-double compare, identical both engines;
    # ln at 2dp rounding follows the doc_perplexity 1e-4 precedent
    est = F.when(
        (F.col("nonzero_regs") < _HLL_M) & (raw <= 2.5 * _HLL_M),
        F.round(F.lit(_HLL_M)
                * F.log(F.lit(float(_HLL_M)) / zeros.cast("double")),
                2)).otherwise(F.round(raw, 2))
    return (s.join(ex, "event_type")
            .select("event_type", "n_exact", "nonzero_regs", "s_scaled",
                    est.alias("hll_est2"))
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Bigram-LM perplexity filter (the CCNet-style LM quality score)

_PPL_SCALE = 10000  # ln terms rounded to 1e-4 units before summing


@query(
    "doc_perplexity_bigram",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    bi AS (SELECT doc_id, unnest({_grams_sql(2)}) AS gram FROM toks),
    sp AS (SELECT doc_id, string_split(gram, ' ')[1] AS w1,
                  string_split(gram, ' ')[2] AS w2
           FROM bi),
    cnt AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
            FROM sp GROUP BY 1, 2),
    tot AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM cnt GROUP BY 1),
    voc AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
            FROM (SELECT unnest(t) AS tok FROM toks)),
    terms AS (
      SELECT sp.doc_id,
             CAST(ROUND(ln(CAST(cnt.c2 + 1 AS DOUBLE) / (tot.c1 + voc.v))
                        * {_PPL_SCALE}) AS BIGINT) AS nll
      FROM sp
      JOIN cnt USING (w1, w2) JOIN tot USING (w1) CROSS JOIN voc)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           ROUND(-CAST(sum(nll) AS DOUBLE) / count(*) / {_PPL_SCALE},
                 4) AS avg_nll
    FROM terms GROUP BY 1 ORDER BY doc_id
    """,
    doc="LM-perplexity quality scoring (the CCNet filter): every doc's "
        "average negative log-likelihood under the corpus bigram model "
        "with Laplace smoothing, P(w2|w1) = (c(w1w2)+1)/(c(w1)+V). "
        "High avg_nll = the doc's word transitions are improbable "
        "under the corpus — gibberish/boilerplate to cut. Each ln term "
        "is rounded to 1e-4 units and summed as BIGINT (the "
        "math_null_surface convention), so the per-doc score is exact "
        "under ANY partitioning/summation order. Model tables are "
        "vocabulary-sized: the doc-bigram stream joins them and "
        "reduces per doc — at 100 TB the corpus scans once, and the "
        "same count tables serve bigram_conditional_prob",
    exchanges=9,
)
def doc_perplexity_bigram(spark, sf_dir):
    sp = _leased_gram_rows(spark, sf_dir, 2).select(
        "doc_id",
        F.split("gram", " ")[0].alias("w1"),
        F.split("gram", " ")[1].alias("w2"))
    cnt = sp.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c2"))
    tot = cnt.groupBy("w1").agg(F.sum("c2").cast("long").alias("c1"))
    voc = (_leased_tok_rows(spark, sf_dir).select("tok")
           .agg(F.countDistinct("tok").alias("v")))
    nll = F.round(
        F.log((F.col("c2") + 1).cast("double") / (F.col("c1") + F.col("v")))
        * _PPL_SCALE).cast("bigint")
    terms = (sp.join(cnt, ["w1", "w2"]).join(tot, "w1")
             .crossJoin(F.broadcast(voc))
             .select("doc_id", nll.alias("nll")))
    return (
        terms.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.round(-F.sum("nll").cast("double") / F.count(F.lit(1))
                     / _PPL_SCALE, 4).alias("avg_nll"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram perplexity (the standard smoothed-LM
# quality score; Kneser & Ney 1995, Chen & Goodman 1999). Discount
# D = 3/4 is kept rational so every probability is an EXACT integer
# fraction:
#   P_KN(w2|w1) = (c(w1 w2) - D)/c(w1) + D * N1+(w1 .)/c(w1) * Pcont(w2)
#   Pcont(w2)   = N1+(. w2) / N1+(. .)
# With D = 3/4 and T = N1+(. .) total distinct bigram types:
#   P = ((4*c2 - 3) * T + 3 * n1f * nctx) / (4 * c1 * T)
# where n1f = N1+(w1 .), nctx = N1+(. w2). Scored bigrams come from the
# training corpus itself, so c2 >= 1 and the discounted term never goes
# negative: no max() needed, and ln() is always defined.

@query(
    "kneser_ney_bigram_ppl",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    bi AS (SELECT doc_id, unnest({_grams_sql(2)}) AS gram FROM toks),
    sp AS (SELECT doc_id, string_split(gram, ' ')[1] AS w1,
                  string_split(gram, ' ')[2] AS w2
           FROM bi),
    cnt AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
            FROM sp GROUP BY 1, 2),
    tot AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
                   CAST(count(*) AS BIGINT) AS n1f
            FROM cnt GROUP BY 1),
    ctx AS (SELECT w2, CAST(count(*) AS BIGINT) AS nctx
            FROM cnt GROUP BY 1),
    tt AS (SELECT CAST(count(*) AS BIGINT) AS t_types FROM cnt),
    terms AS (
      SELECT sp.doc_id,
             CAST(ROUND(ln(
                 CAST((4 * cnt.c2 - 3) * tt.t_types
                      + 3 * tot.n1f * ctx.nctx AS DOUBLE)
                 / CAST(4 * tot.c1 * tt.t_types AS DOUBLE))
                 * {_PPL_SCALE}) AS BIGINT) AS nll
      FROM sp
      JOIN cnt USING (w1, w2) JOIN tot USING (w1) JOIN ctx USING (w2)
      CROSS JOIN tt)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           ROUND(-CAST(sum(nll) AS DOUBLE) / count(*) / {_PPL_SCALE},
                 4) AS avg_nll
    FROM terms GROUP BY 1 ORDER BY doc_id
    """,
    doc="interpolated Kneser-Ney bigram perplexity, the smoothing that "
        "actual n-gram LM quality filters use (absolute discount "
        "D=3/4 plus a continuation-probability backoff that scores a "
        "word by how many distinct contexts it follows, not raw "
        "frequency). Every P_KN is the exact integer fraction "
        "((4*c2-3)*T + 3*n1f*nctx) / (4*c1*T): numerator and "
        "denominator are BIGINTs well under 2^53, so both engines "
        "divide the same doubles and ln() is bit-identical; each ln "
        "term rounds to 1e-4 units and sums as BIGINT (the "
        "doc_perplexity_bigram convention) so per-doc scores are "
        "exact under any partitioning. Model tables (cnt/tot/ctx) are "
        "vocabulary-sized; T is a 1-row broadcast scalar — at 100 TB "
        "the corpus streams once through the model join exactly like "
        "doc_perplexity_bigram, and the heavy (w1,w2) count shuffle "
        "is shared with it when both run",
    # gram + 3 model tables + agg
    exchanges=13,
)
def kneser_ney_bigram_ppl(spark, sf_dir):
    sp = _leased_gram_rows(spark, sf_dir, 2).select(
        "doc_id",
        F.split("gram", " ")[0].alias("w1"),
        F.split("gram", " ")[1].alias("w2"))
    cnt = sp.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c2"))
    tot = cnt.groupBy("w1").agg(
        F.sum("c2").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1f"))
    ctx = cnt.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("nctx"))
    tt = cnt.agg(F.count(F.lit(1)).cast("long").alias("t_types"))
    num = ((4 * F.col("c2") - 3) * F.col("t_types")
           + 3 * F.col("n1f") * F.col("nctx")).cast("double")
    den = (4 * F.col("c1") * F.col("t_types")).cast("double")
    nll = F.round(F.log(num / den) * _PPL_SCALE).cast("bigint")
    terms = (sp.join(cnt, ["w1", "w2"]).join(tot, "w1").join(ctx, "w2")
             .crossJoin(F.broadcast(tt))
             .select("doc_id", nll.alias("nll")))
    return (
        terms.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.round(-F.sum("nll").cast("double") / F.count(F.lit(1))
                     / _PPL_SCALE, 4).alias("avg_nll"))
        .orderBy("doc_id")
    )


# --- Incremental view maintenance (delta-apply == full recompute) ----------

_IVM_CUT = "2024-01-20"


@query(
    "incremental_agg_maintenance",
    oracle="""
    SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events GROUP BY 1, 2 ORDER BY user_id, day
    """,
    doc="incremental view maintenance: a per-(user, day) aggregate "
        "materialized over the pre-cutoff facts is refreshed by "
        "aggregating ONLY the post-cutoff delta and merging partials "
        "(full-outer join on the view key, null partials as additive "
        "zeros). The oracle recomputes the view from ALL facts, so "
        "the driver's hash equality IS the IVM correctness proof: "
        "delta-apply == full recompute, which only holds because the "
        "merged measures (count, integer-cent sum) are commutative "
        "monoids. At 100 TB the delta agg touches a day of data while "
        "the view join costs key-cardinality rows; with both sides "
        "bucketed on the key (sources/bucketed.py) the merge needs "
        "no exchange at all",
    # base agg, delta agg, merge
    exchanges=3,
)
def incremental_agg_maintenance(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        "ts")
    cut = F.lit(_IVM_CUT).cast("timestamp")

    def agg(df):
        return df.groupBy("user_id", "day").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"))

    base = agg(ev.filter(F.col("ts") < cut))     # the materialized view
    delta = agg(ev.filter(F.col("ts") >= cut))   # today's delta only
    merged = (base.withColumnsRenamed(
                  {"n_events": "n0", "sum_cents": "s0"})
              .join(delta.withColumnsRenamed(
                  {"n_events": "n1", "sum_cents": "s1"}),
                  ["user_id", "day"], "full_outer")
              .select(
                  "user_id", "day",
                  (F.coalesce("n0", F.lit(0).cast("bigint"))
                   + F.coalesce("n1", F.lit(0).cast("bigint")))
                  .alias("n_events"),
                  (F.coalesce("s0", F.lit(0).cast("bigint"))
                   + F.coalesce("s1", F.lit(0).cast("bigint")))
                  .alias("sum_cents")))
    return merged.orderBy("user_id", "day")


# --- DSIR importance weights (Xie et al. 2023) ------------------------------

_DSIR_B = 256          # hashed feature buckets
_DSIR_SCALE = 1000000000


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
    bg AS (SELECT doc_id, unnest({_grams_sql(2)}) AS gram FROM toks),
    feat AS (SELECT doc_id, {_h60_sql('gram')} % {_DSIR_B} AS b
             FROM bg),
    cs AS (SELECT b, CAST(count(*) AS BIGINT) AS cs
           FROM feat GROUP BY 1),
    ct AS (SELECT b, CAST(count(*) AS BIGINT) AS ct
           FROM feat JOIN documents USING (doc_id)
           WHERE lang = 'en' GROUP BY 1),
    tot AS (SELECT CAST((SELECT sum(cs) FROM cs) AS BIGINT) AS s,
                   CAST((SELECT coalesce(sum(ct), 0) FROM ct)
                       AS BIGINT) AS t),
    lw AS (SELECT cs.b,
                  CAST(ROUND((ln(CAST(coalesce(ct.ct, 0) + 1
                                      AS DOUBLE)
                                 / (tot.t + {_DSIR_B}))
                              - ln(CAST(cs.cs + 1 AS DOUBLE)
                                   / (tot.s + {_DSIR_B})))
                             * {_DSIR_SCALE}) AS BIGINT) AS lw
           FROM cs LEFT JOIN ct ON ct.b = cs.b CROSS JOIN tot),
    sc AS (SELECT feat.doc_id, CAST(sum(lw.lw) AS BIGINT) AS w,
                  CAST(count(*) AS BIGINT) AS n_features
           FROM feat JOIN lw ON lw.b = feat.b GROUP BY 1)
    SELECT d.doc_id, d.lang, sc.n_features,
           ROUND(sc.w / {_DSIR_SCALE}.0, 6) AS dsir_logw
    FROM sc JOIN documents d ON d.doc_id = sc.doc_id
    ORDER BY d.doc_id
    """,
    doc=f"DSIR data selection (Xie et al. 2023): importance weight of "
        "every document for a target domain (lang='en') as the "
        f"log-ratio of hashed-bigram likelihoods — {_DSIR_B} feature "
        "buckets via the shared 60-bit md5, Laplace-smoothed unigram "
        "models of target vs source bucket distributions, per-doc "
        "weight = sum of per-occurrence log-ratios. The modern "
        "importance-resampling front-end of pretraining pipelines. "
        "Exactness: each bucket's log-ratio is ONE identical double "
        "rounded to integer nano-nats, so doc weights are exact "
        "BIGINT sums; the bucket model is O(B) rows — a broadcast "
        "join side — and the two corpus passes are map-side-combined "
        "groupBys. Nothing here grows with corpus size except the "
        "two streaming scans",
    exchanges=12,
)
def dsir_importance_weights(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    bg = _gram_rows(docs, 2)
    feat = bg.select("doc_id", (h60(F.col("gram")) % _DSIR_B)
                     .alias("b"))
    cs = feat.groupBy("b").agg(F.count(F.lit(1)).alias("cs"))
    ct = (feat.join(docs.select("doc_id", "lang"), "doc_id")
          .filter(F.col("lang") == "en")
          .groupBy("b").agg(F.count(F.lit(1)).alias("ct")))
    tot = (cs.agg(F.sum("cs").alias("s")).crossJoin(
        ct.agg(F.coalesce(F.sum("ct"), F.lit(0).cast("bigint"))
               .alias("t"))))
    lw = (cs.join(ct, "b", "left")
          .crossJoin(F.broadcast(tot))
          .select(
              "b",
              F.round(
                  (F.log((F.coalesce("ct", F.lit(0).cast("bigint"))
                          + 1).cast("double")
                         / (F.col("t") + _DSIR_B))
                   - F.log((F.col("cs") + 1).cast("double")
                           / (F.col("s") + _DSIR_B)))
                  * _DSIR_SCALE).cast("bigint").alias("lw")))
    sc = (feat.join(F.broadcast(lw), "b")
          .groupBy("doc_id")
          .agg(F.sum("lw").alias("w"),
               F.count(F.lit(1)).alias("n_features")))
    return (sc.join(docs.select("doc_id", "lang"), "doc_id")
            .select("doc_id", "lang", "n_features",
                    F.round(F.col("w") / float(_DSIR_SCALE), 6)
                    .alias("dsir_logw"))
            .orderBy("doc_id"))


# --- Holt's linear-trend smoothing (double EWMA) ---------------------------


@query(
    "holt_linear_smoothing",
    oracle="""
    WITH RECURSIVE ord AS MATERIALIZED (
      SELECT user_id, ts, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    hw AS (
      SELECT user_id, rn, ts, event_id, value,
             value AS hl, CAST(0.0 AS DOUBLE) AS hb
      FROM ord WHERE rn = 1
      UNION ALL
      SELECT q.user_id, q.rn, q.ts, q.event_id, q.value,
             q.lnew, 0.1 * (q.lnew - q.hl) + 0.9 * q.hb
      FROM (SELECT o.user_id, o.rn, o.ts, o.event_id, o.value,
                   hw.hl, hw.hb,
                   0.2 * o.value + 0.8 * (hw.hl + hw.hb) AS lnew
            FROM ord o JOIN hw
              ON o.user_id = hw.user_id AND o.rn = hw.rn + 1) q)
    SELECT user_id, ts, event_id,
           ROUND(hl, 6) AS level, ROUND(hb, 6) AS trend,
           ROUND(hl + hb, 6) AS forecast_1
    FROM hw ORDER BY user_id, rn
    """,
    doc="Holt's linear-trend (double exponential) smoothing per "
        "series, alpha=0.2 beta=0.1: a TWO-state sequential recursion "
        "(level + trend) no window function expresses -> the "
        "partition-aligned mapInPandas fold (operators/indicators."
        "with_holt, the ewma layout: one exchange, one sort, one "
        "Arrow transfer per partition), oracled against a DuckDB "
        "recursive CTE evaluating the IDENTICAL float expressions — "
        "the sequences match bit-for-bit, so even the one-step "
        "forecast level+trend hashes equal. The forecasting twin of "
        "ewma_indicator",
    # series fold + output sort
    exchanges=2,
)
def holt_linear_smoothing(spark, sf_dir):
    from ..operators.indicators import with_holt
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value")
    out = with_holt(ev, "value", ["user_id"], ["ts", "event_id"],
                    level_col="__l", trend_col="__b",
                    alpha=0.2, beta=0.1)
    return (out.select(
                "user_id", "ts", "event_id",
                F.round("__l", 6).alias("level"),
                F.round("__b", 6).alias("trend"),
                F.round(F.col("__l") + F.col("__b"), 6)
                .alias("forecast_1"))
            .orderBy("user_id", "ts", "event_id"))


# --- Trigram LM with stupid backoff, train/held-out split ------------------

_SB_ALPHA_SQL = "0.4"   # stupid-backoff discount per level


@query(
    "doc_perplexity_trigram_backoff",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    train AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
    test AS (SELECT * FROM toks WHERE doc_id % 2 = 1),
    tri AS (SELECT string_split(g, ' ')[1] AS w1,
                   string_split(g, ' ')[2] AS w2,
                   string_split(g, ' ')[3] AS w3,
                   CAST(count(*) AS BIGINT) AS c3
            FROM (SELECT unnest({_grams_sql(3)}) AS g FROM train)
            GROUP BY 1, 2, 3),
    bi AS (SELECT string_split(g, ' ')[1] AS wa,
                  string_split(g, ' ')[2] AS wb,
                  CAST(count(*) AS BIGINT) AS c2
           FROM (SELECT unnest({_grams_sql(2)}) AS g FROM train)
           GROUP BY 1, 2),
    uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1
            FROM (SELECT unnest(t) AS tok FROM train) GROUP BY 1),
    scal AS (SELECT CAST(sum(c1) AS BIGINT) AS tt,
                    CAST(count(*) AS BIGINT) AS v FROM uni),
    sp AS (SELECT doc_id,
                  string_split(g, ' ')[1] AS w1,
                  string_split(g, ' ')[2] AS w2,
                  string_split(g, ' ')[3] AS w3
           FROM (SELECT doc_id, unnest({_grams_sql(3)}) AS g
                 FROM test)),
    terms AS (
      SELECT sp.doc_id,
             CASE WHEN tri.c3 IS NOT NULL THEN 0
                  WHEN b23.c2 IS NOT NULL THEN 1 ELSE 2 END AS lvl,
             CAST(ROUND(CASE
                 WHEN tri.c3 IS NOT NULL THEN
                   ln(CAST(tri.c3 AS DOUBLE) / b12.c2)
                 WHEN b23.c2 IS NOT NULL THEN
                   ln({_SB_ALPHA_SQL} * CAST(b23.c2 AS DOUBLE) / u2.c1)
                 ELSE
                   ln({_SB_ALPHA_SQL} * {_SB_ALPHA_SQL}
                      * CAST(coalesce(u3.c1, 0) + 1 AS DOUBLE)
                      / (scal.tt + scal.v))
                 END * {_PPL_SCALE}) AS BIGINT) AS nll
      FROM sp
      LEFT JOIN tri ON tri.w1 = sp.w1 AND tri.w2 = sp.w2
                   AND tri.w3 = sp.w3
      LEFT JOIN bi b12 ON b12.wa = sp.w1 AND b12.wb = sp.w2
      LEFT JOIN bi b23 ON b23.wa = sp.w2 AND b23.wb = sp.w3
      LEFT JOIN uni u2 ON u2.tok = sp.w2
      LEFT JOIN uni u3 ON u3.tok = sp.w3
      CROSS JOIN scal)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tri_hits,
           CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bi_backoffs,
           CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_uni_backoffs,
           ROUND(-CAST(sum(nll) AS DOUBLE) / count(*) / {_PPL_SCALE},
                 4) AS avg_nll
    FROM terms GROUP BY doc_id ORDER BY doc_id
    """,
    doc="trigram language model with STUPID BACKOFF (Brants et al. "
        "2007 — the web-scale LM scoring rule: no normalization, "
        "score s(w3|w1w2) = c3/c2 backing off through alpha*c2/c1 to "
        "alpha^2*smoothed-unigram) trained on the even-doc_id half "
        "and scoring the held-out odd half, so backoff genuinely "
        "fires (a same-corpus trigram model never backs off). "
        "Per-term ln is rounded to 1e-4-unit BIGINTs before the "
        "per-doc sum (partitioning-order-proof, the "
        "doc_perplexity_bigram convention), and the backoff LEVEL "
        "per term is decided by exact count-existence, never a "
        "float compare; the level tallies are emitted so the oracle "
        "checks the backoff cascade itself. All model tables are "
        "token-scale aggregates of the train half; the T/V scalar "
        "is a 1-row broadcast. At 100 TB: corpus scans once for the "
        "model, once for scoring — the same shape KenLM jobs run",
    exchanges=12,
)
def doc_perplexity_trigram_backoff(spark, sf_dir):
    is_train = F.col("doc_id") % 2 == 0
    is_test = F.col("doc_id") % 2 == 1
    tri = (_leased_gram_rows(spark, sf_dir, 3, pred=is_train)
           .select(F.split("gram", " ")[0].alias("w1"),
                   F.split("gram", " ")[1].alias("w2"),
                   F.split("gram", " ")[2].alias("w3"))
           .groupBy("w1", "w2", "w3")
           .agg(F.count(F.lit(1)).alias("c3")))
    bi = (_leased_gram_rows(spark, sf_dir, 2, pred=is_train)
          .select(F.split("gram", " ")[0].alias("wa"),
                  F.split("gram", " ")[1].alias("wb"))
          .groupBy("wa", "wb").agg(F.count(F.lit(1)).alias("c2")))
    uni = (_leased_tok_rows(spark, sf_dir, pred=is_train)
           .select("tok")
           .groupBy("tok").agg(F.count(F.lit(1)).alias("c1")))
    scal = uni.agg(F.sum("c1").alias("tt"),
                   F.count(F.lit(1)).alias("v"))
    sp = (_leased_gram_rows(spark, sf_dir, 3, pred=is_test)
          .select("doc_id",
                  F.split("gram", " ")[0].alias("w1"),
                  F.split("gram", " ")[1].alias("w2"),
                  F.split("gram", " ")[2].alias("w3")))
    b12 = bi.select(F.col("wa").alias("w1"), F.col("wb").alias("w2"),
                    F.col("c2").alias("c2_12"))
    b23 = bi.select(F.col("wa").alias("w2"), F.col("wb").alias("w3"),
                    F.col("c2").alias("c2_23"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c1").alias("c1_2"))
    u3 = uni.select(F.col("tok").alias("w3"), F.col("c1").alias("c1_3"))
    alpha = 0.4
    j = (sp.join(tri, ["w1", "w2", "w3"], "left")
         .join(b12, ["w1", "w2"], "left")
         .join(b23, ["w2", "w3"], "left")
         .join(u2, ["w2"], "left")
         .join(u3, ["w3"], "left")
         .crossJoin(F.broadcast(scal)))
    lvl = (F.when(F.col("c3").isNotNull(), F.lit(0))
           .when(F.col("c2_23").isNotNull(), F.lit(1))
           .otherwise(F.lit(2)))
    lnp = (F.when(F.col("c3").isNotNull(),
                  F.log(F.col("c3").cast("double") / F.col("c2_12")))
           .when(F.col("c2_23").isNotNull(),
                 F.log(F.lit(alpha) * F.col("c2_23").cast("double")
                       / F.col("c1_2")))
           .otherwise(
               F.log(F.lit(alpha) * F.lit(alpha)
                     * (F.coalesce(F.col("c1_3"), F.lit(0)) + 1)
                     .cast("double")
                     / (F.col("tt") + F.col("v")))))
    terms = j.select("doc_id", lvl.alias("lvl"),
                     F.round(lnp * _PPL_SCALE).cast("bigint")
                     .alias("nll"))
    return (terms.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_trigrams"),
                 F.sum((F.col("lvl") == 0).cast("bigint"))
                 .alias("n_tri_hits"),
                 F.sum((F.col("lvl") == 1).cast("bigint"))
                 .alias("n_bi_backoffs"),
                 F.sum((F.col("lvl") == 2).cast("bigint"))
                 .alias("n_uni_backoffs"),
                 F.round(-F.sum("nll").cast("double")
                         / F.count(F.lit(1)) / _PPL_SCALE, 4)
                 .alias("avg_nll"))
            .orderBy("doc_id"))


# --- Out-of-fold target encoding (leakage-safe categorical feature) --------

_TE_FOLDS = 5


@query(
    "target_encoding_oof",
    oracle=f"""
    WITH base AS (
      SELECT event_id, event_type,
             CAST(event_id % {_TE_FOLDS} AS BIGINT) AS fold,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events),
    per_fold AS (
      SELECT event_type, fold, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s
      FROM base GROUP BY 1, 2),
    cat_tot AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS n_all,
             CAST(sum(s) AS BIGINT) AS s_all
      FROM per_fold GROUP BY 1),
    oof AS (
      SELECT p.event_type, p.fold,
             t.n_all - p.n AS n_oof, t.s_all - p.s AS s_oof
      FROM per_fold p JOIN cat_tot t USING (event_type))
    SELECT b.event_id, b.event_type, b.fold,
           CAST(CASE WHEN o.s_oof >= 0
                THEN (2 * CAST(o.s_oof AS HUGEINT) * 10000 + o.n_oof)
                     // (2 * CAST(o.n_oof AS HUGEINT))
                ELSE -((2 * CAST(-o.s_oof AS HUGEINT) * 10000
                        + o.n_oof)
                       // (2 * CAST(o.n_oof AS HUGEINT))) END
                AS DOUBLE) / 10000.0 AS te_value
    FROM base b JOIN oof o
      ON o.event_type = b.event_type AND o.fold = b.fold
    ORDER BY b.event_id
    """,
    doc=f"LEAKAGE-SAFE target encoding: each row's categorical "
        "feature (event_type) is replaced by the mean target (value) "
        "computed over the OTHER {_TE_FOLDS - 1} folds — the "
        "out-of-fold trick that stops the encoder from memorizing "
        "the row's own label. Fold assignment is the deterministic "
        "event_id mod; per-(category, fold) sums aggregate once and "
        "the leave-one-fold-out sums derive by SUBTRACTION from the "
        "category totals (no {_TE_FOLDS}x recompute). The encode "
        "join is category x fold — a broadcast at any corpus size — "
        "and the mean is one signed exact integer division rounded "
        "half-away to 1e-4 cents. The full-scan -> tiny-model -> "
        "broadcast-back shape is exactly how this runs at 100 TB",
    exchanges=4,
)
def target_encoding_oof(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "event_type",
        (F.col("event_id") % _TE_FOLDS).cast("bigint").alias("fold"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"))
    per_fold = (base.groupBy("event_type", "fold")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("cents").alias("s")))
    cat_tot = (per_fold.groupBy("event_type")
               .agg(F.sum("n").alias("n_all"),
                    F.sum("s").alias("s_all")))
    oof = (per_fold.join(cat_tot, "event_type")
           .select("event_type", "fold",
                   (F.col("n_all") - F.col("n")).alias("n_oof"),
                   (F.col("s_all") - F.col("s")).alias("s_oof")))
    s, n = F.col("s_oof").cast("decimal(38,0)"), \
        F.col("n_oof").cast("decimal(38,0)")
    mag = idiv(2 * F.abs(s) * 10000 + n, 2 * n)
    te = (F.when(F.col("s_oof") >= 0, mag).otherwise(-mag)
          .cast("double") / 10000.0)
    return (base.join(F.broadcast(oof), ["event_type", "fold"])
            .select("event_id", "event_type", "fold",
                    te.alias("te_value"))
            .orderBy("event_id"))


# --- Lag-feature matrix (forecasting feature engineering) ------------------


@query(
    "lag_feature_matrix",
    oracle="""
    WITH bars AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS y
      FROM events GROUP BY 1, 2),
    feat AS (
      SELECT user_id, day, y,
             lag(y, 1) OVER w AS lag1,
             lag(y, 7) OVER w AS lag7,
             CAST(sum(y) OVER (PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS sum7,
             CAST(count(*) OVER (PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cnt7,
             CAST(dayofweek(day) + 1 AS BIGINT) AS dow
      FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY day))
    SELECT user_id, day, y, lag1, lag7,
           CAST((2 * CAST(sum7 AS HUGEINT) * 100 + cnt7)
                // (2 * CAST(cnt7 AS HUGEINT)) AS DOUBLE) / 100.0
               AS roll7_mean,
           dow,
           CAST(y > lag1 AS BIGINT) AS up_vs_prev
    FROM feat WHERE lag7 IS NOT NULL
    ORDER BY user_id, day
    """,
    doc="supervised lag-feature matrix for per-user demand "
        "forecasting: daily target y with lag-1 / lag-7 values, a "
        "7-day rolling mean (exact integer half-away rounding to "
        "cents), day-of-week, and the binary momentum flag — the "
        "table a GBM/linear forecaster trains on directly. Rows "
        "without a full 7-day history are dropped (the standard "
        "warm-up trim), evaluated by the SAME null predicate on both "
        "engines. Every lag and the rolling frame share ONE "
        "(user, day) window exchange; daily bars collapse the raw "
        "scan ~events-per-day-fold before any window state exists. "
        "dow is Sunday=1 (DuckDB's Sunday=0 is shifted +1 to Spark's convention)",
    # bars agg hashes (user, day); the lag window re-keys to user
    # alone, + the output sort
    exchanges=3,
)
def lag_feature_matrix(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    bars = (ev.groupBy("user_id",
                       F.date_trunc("day", F.col("ts")).alias("day"))
            .agg(F.sum(F.round(F.col("value") * 100).cast("bigint"))
                 .alias("y")))
    w = Window.partitionBy("user_id").orderBy("day")
    w7 = w.rowsBetween(-6, 0)
    feat = bars.select(
        "user_id", "day", "y",
        F.lag("y", 1).over(w).alias("lag1"),
        F.lag("y", 7).over(w).alias("lag7"),
        F.sum("y").over(w7).alias("sum7"),
        F.count(F.lit(1)).over(w7).alias("cnt7"),
        F.dayofweek("day").cast("bigint").alias("dow"))
    s, c = F.col("sum7").cast("decimal(38,0)"), \
        F.col("cnt7").cast("decimal(38,0)")
    roll = idiv(2 * s * 100 + c, 2 * c).cast("double") / 100.0
    return (feat.filter(F.col("lag7").isNotNull())
            .select("user_id", "day", "y", "lag1", "lag7",
                    roll.alias("roll7_mean"), "dow",
                    (F.col("y") > F.col("lag1")).cast("bigint")
                    .alias("up_vs_prev"))
            .orderBy("user_id", "day"))


# --- Feature hashing (the hashing trick) -----------------------------------

_FH_BUCKETS = 64


@query(
    "feature_hashing_vectors",
    oracle=f"""
    WITH tk AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
    SELECT doc_id,
           CAST({_h60_sql('tok')} % {_FH_BUCKETS} AS BIGINT)
               AS bucket,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CASE WHEN ({_h60_sql("'sgn:' || tok")}) % 2 = 0
                    THEN 1 ELSE -1 END) AS BIGINT) AS signed_sum
    FROM tk GROUP BY 1, 2 ORDER BY doc_id, bucket
    """,
    doc=f"the hashing trick (Weinberger et al. 2009): every token "
        f"maps to one of {_FH_BUCKETS} feature buckets via the shared "
        "md5-derived h60, with the independent second hash supplying "
        "the +-1 sign that makes collisions cancel in expectation — "
        "fixed-width sparse vectors with NO vocabulary table, the "
        "standard way to featurize unbounded token spaces for linear "
        "models at corpus scale. One explode + one groupBy on "
        "(doc, bucket): rows stay partitioned with their doc, counts "
        "partial-aggregate map-side, and there is no join anywhere — "
        "the whole point of hashing over dictionary encoding",
    exchanges=2,
)
def feature_hashing_vectors(spark, sf_dir):
    from ..functions.dedup import h60
    docs = table(spark, sf_dir, "documents")
    tk = docs.select("doc_id",
                     F.explode(TX.tokens(F.col("text"))).alias("tok"))
    bucket = (h60(F.col("tok")) % _FH_BUCKETS).cast("bigint")
    sign = F.when(h60(F.concat(F.lit("sgn:"), F.col("tok"))) % 2 == 0,
                  F.lit(1)).otherwise(F.lit(-1))
    return (tk.select("doc_id", bucket.alias("bucket"),
                      sign.alias("s"))
            .groupBy("doc_id", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("s").alias("signed_sum"))
            .orderBy("doc_id", "bucket"))


# --- Zipf's law fit over the token frequency spectrum ----------------------


@query(
    "zipf_law_fit",
    oracle=f"""
    WITH tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS f
                FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
                GROUP BY 1),
    rk AS (SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS r
           FROM tf),
    pts AS (SELECT CAST(ROUND(ln(CAST(r AS DOUBLE)) * 10000)
                        AS BIGINT) AS x,
                   CAST(ROUND(ln(CAST(f AS DOUBLE)) * 10000)
                        AS BIGINT) AS y
            FROM rk),
    mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
                   CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                   CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
            FROM pts)
    SELECT n AS vocab,
           ROUND(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE),
                 6) AS zipf_slope,
           ROUND((CAST(sy AS DOUBLE)
                  - CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                    / CAST(n * sxx - CAST(sx AS HUGEINT) * sx
                           AS DOUBLE) * sx) / n / 10000.0, 6)
               AS intercept_ln,
           ROUND(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 * CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / (CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                    * CAST(n * syy - CAST(sy AS HUGEINT) * sy
                           AS DOUBLE)), 6) AS r2
    FROM mom
    """,
    doc="Zipf's-law fit of the corpus token frequency spectrum: OLS "
        "of ln(freq) on ln(rank) — slope ~ -1 for natural language, "
        "so large deviations flag synthetic/degenerate corpora (a "
        "data-quality screen at ingest). Ranks come from one "
        "frequency-ordered row_number over the VOCABULARY relation "
        "(token-scale, not corpus-scale — at 100 TB this window runs "
        "over millions of rows, not trillions; swap in the two-phase "
        "bucket rank verbatim if vocab outgrows one task). Each ln "
        "is rounded to 1e-4 units so the five regression moments are "
        "EXACT integer sums (HUGEINT/DECIMAL38 cross-products); "
        "slope, intercept and R^2 are the only IEEE divisions, "
        "written identically on both engines and rounded 6",
    exchanges=2,
)
def zipf_law_fit(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    tf = (docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
          .groupBy("tok").agg(F.count(F.lit(1)).alias("f")))
    w = Window.orderBy(F.desc("f"), "tok")
    rk = tf.select("f", F.row_number().over(w).alias("r"))
    pts = rk.select(
        F.round(F.log(F.col("r").cast("double")) * 10000)
        .cast("bigint").alias("x"),
        F.round(F.log(F.col("f").cast("double")) * 10000)
        .cast("bigint").alias("y"))
    mom = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
        .alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .alias("syy"))
    n = F.col("n")
    covn = (n * F.col("sxy")
            - F.col("sx").cast("decimal(38,0)") * F.col("sy"))
    varn = (n * F.col("sxx")
            - F.col("sx").cast("decimal(38,0)") * F.col("sx"))
    varyn = (n * F.col("syy")
             - F.col("sy").cast("decimal(38,0)") * F.col("sy"))
    slope = covn.cast("double") / varn.cast("double")
    return mom.select(
        n.alias("vocab"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy").cast("double") - slope * F.col("sx"))
                / n / 10000.0, 6).alias("intercept_ln"),
        F.round(covn.cast("double") * covn.cast("double")
                / (varn.cast("double") * varyn.cast("double")), 6)
        .alias("r2"))


# --- Token drift movers between corpus halves ------------------------------

_TD_TOPK = 15


@query(
    "token_drift_movers",
    oracle=f"""
    WITH df AS (
      SELECT tok,
             CAST(count(DISTINCT CASE WHEN doc_id % 2 = 0
                        THEN doc_id END) AS BIGINT) AS df_a,
             CAST(count(DISTINCT CASE WHEN doc_id % 2 = 1
                        THEN doc_id END) AS BIGINT) AS df_b
      FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
      GROUP BY 1),
    tot AS (
      SELECT CAST(count(DISTINCT CASE WHEN doc_id % 2 = 0
                        THEN doc_id END) AS BIGINT) AS n_a,
             CAST(count(DISTINCT CASE WHEN doc_id % 2 = 1
                        THEN doc_id END) AS BIGINT) AS n_b
      FROM documents)
    SELECT tok, df_a, df_b,
           ROUND(ln((CAST(df_a + 1 AS DOUBLE) / (n_a + 2))
                    / (CAST(df_b + 1 AS DOUBLE) / (n_b + 2))), 6)
               AS log_ratio
    FROM df, tot
    ORDER BY abs(ROUND(ln((CAST(df_a + 1 AS DOUBLE) / (n_a + 2))
                          / (CAST(df_b + 1 AS DOUBLE) / (n_b + 2))),
                       6)) DESC, tok
    LIMIT {_TD_TOPK}
    """,
    doc=f"token drift screen between two corpus slices (doc_id "
        "parity as the deterministic stand-in for crawl snapshots): "
        "per-token document frequency in each slice, smoothed "
        "log-odds ratio ln(((df_a+1)/(n_a+2)) / ((df_b+1)/(n_b+2))), "
        f"top {_TD_TOPK} movers by |ratio| — the vocabulary-drift "
        "alarm run between ingest batches before a model refresh. "
        "ONE explode + one (tok)-grouped conditional-distinct "
        "aggregate builds both slices' counts (the corpus is never "
        "scanned twice); the slice totals are a 1-row broadcast and "
        "the top-k is TakeOrderedAndProject on the rounded ratio "
        "with token tiebreak — deterministic on both engines",
    exchanges=4,
)
def token_drift_movers(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    tk = docs.select("doc_id",
                     F.explode(TX.tokens(F.col("text"))).alias("tok"))
    df = (tk.groupBy("tok")
          .agg(F.countDistinct(
                   F.when(F.col("doc_id") % 2 == 0, F.col("doc_id")))
               .alias("df_a"),
               F.countDistinct(
                   F.when(F.col("doc_id") % 2 == 1, F.col("doc_id")))
               .alias("df_b")))
    tot = docs.agg(
        F.countDistinct(F.when(F.col("doc_id") % 2 == 0,
                               F.col("doc_id"))).alias("n_a"),
        F.countDistinct(F.when(F.col("doc_id") % 2 == 1,
                               F.col("doc_id"))).alias("n_b"))
    j = df.crossJoin(F.broadcast(tot))
    ratio = F.round(F.log(
        ((F.col("df_a") + 1).cast("double") / (F.col("n_a") + 2))
        / ((F.col("df_b") + 1).cast("double") / (F.col("n_b") + 2))),
        6)
    return (j.select("tok", "df_a", "df_b", ratio.alias("log_ratio"))
            .orderBy(F.abs(F.col("log_ratio")).desc(), "tok")
            .limit(_TD_TOPK))


# ---------------------------------------------------------------------------
# HITS hubs & authorities — iterative joins, integer L-inf normalization

_HITS_ITERS = 2
# Shuffle-width FLOOR for the iteration jobs: score relations are
# node-sized (<= #parts), so tasks should hold thousands of rows, not
# hundreds. r15 (VERDICT r14 ask #2, guide §2 "derive from input
# size"): the width was a scale-frozen constant tuned at sf0.1; it
# now derives from the materialized edge cache's real size (plan
# stats — no extra job) at ~16 MB of cached edge bytes per task,
# clamped to [floor, $SPARK_GRAFT_CPUS]. Measured (interleaved A/B/A
# min-of-3, plans/r15/ab_hits_*.json): sf0.1 the rule keeps 8 (4.34s;
# AQE-on measured +32%, wide +11% — the r7 pin stays right at bench
# scale) while at sf1 the 24M-edge cache widens the half-step reduce
# to ~24 tasks (10.84s -> 10.4s class; AQE-on 10.22s but loses 32%
# at sf0.1, so the loop keeps AQE off and scales by width instead).
_HITS_ITER_PARTITIONS = 8
_HITS_BYTES_PER_TASK = 16 << 20
_HITS_SCHEMA = "part_key long, authority_e6 long, hub_e6 long"


def _hits_iter_width(edges) -> int:
    """Iteration shuffle width from the edge cache's materialized
    size: cached-plan stats are exact after the eager count, so this
    costs no job. Clamped below by the sf0.1-calibrated floor and
    above by the session's core budget.

    Precondition: ``edges`` must already be materialized (the edge
    lease counts it). On a cache no action has filled yet,
    the plan stats are the optimizer's pre-cache size estimate, not
    the cached bytes."""
    try:
        size = int(edges._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:  # stats unavailable -> keep the floor
        size = 0
    return max(_HITS_ITER_PARTITIONS,
               min(_cpus(edges.sparkSession),
                   size // _HITS_BYTES_PER_TASK))


def _hits_top50(spark, edges, cache, overrides: dict) -> list:
    """The HITS iteration over a materialized (src, dst) edge relation:
    seed every source node at 1e6, run _HITS_ITERS authority/hub
    half-steps (each one functions/graph.superstep) with ``overrides``
    applied to the session confs, and collect the top-50 rows. Each
    half-step's raw scores are held through ``cache`` — the loop
    collects their max and the next half-step reads them again — so up to
    2 * _HITS_ITERS node-sized score relations stay live until the
    caller's run_scoped releases them. The confs are restored before
    returning; the override covers the top-50 collect."""
    nodes = edges.select(F.col("src").alias("node")).distinct()
    h = nodes.select("node", F.lit(1000000).cast("bigint").alias("h"))

    def linf_norm(raw, col_in, col_out):
        # held: without it the 4 half-steps recompute the edge join
        # 2^4 times (measured 30.7s -> 8s at sf0.01)
        raw = cache(raw)
        m = int(raw.agg(F.max(col_in).alias("m")).collect()[0]["m"])
        x = F.col(col_in).cast("decimal(38,0)")
        return raw.select(
            "node",
            ((x * 1000000 - (x * 1000000) % F.lit(m))
             / F.lit(m)).cast("bigint").alias(col_out))

    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        for _ in range(_HITS_ITERS):
            # hub = authorities of the out-neighbours: in the
            # symmetric graph, the same forward superstep
            a = linf_norm(GR.superstep(h, edges, F.sum("h").alias("a_raw")),
                          "a_raw", "a")
            h = linf_norm(GR.superstep(a, edges, F.sum("a").alias("h_raw")),
                          "h_raw", "h")
        # the top-50 is KB: collected, TakeOrderedAndProject runs here
        return (a.join(h, "node")
                .select(F.col("node").alias("part_key"),
                        F.col("a").alias("authority_e6"),
                        F.col("h").alias("hub_e6"))
                .orderBy(F.desc("authority_e6"), F.desc("hub_e6"),
                         "part_key")
                .limit(50).collect())
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _hits_oracle() -> str:
    # edges is probed by every half-step: MATERIALIZED, or DuckDB
    # re-runs the lineitem self-join per reference (measured 11s -> 2s
    # at sf0.1 with identical results)
    prelude = """
    WITH edges AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes)"""
    # BIGINT accumulators throughout (VERDICT r12 ask #5): scores are
    # <= 1e6 by the L-inf normalization, so sum(h) <= in_degree * 1e6
    # and the rescale numerator a_raw * 1e6 <= in_degree * 1e12 —
    # BIGINT-safe while in-degree <= 9.2e6, the same bound the Spark
    # side documents. DuckDB checks BIGINT overflow and ERRORS (never
    # wraps), so a corpus that somehow exceeds the bound fails the
    # gate loudly instead of hashing wrong. The previous HUGEINT
    # typing doubled every aggregate state and spilled 68 GB at sf1.
    steps = []
    for i in range(1, _HITS_ITERS + 1):
        steps.append(f"""
    ar{i} AS (
      SELECT e.dst AS node, CAST(sum(p.h) AS BIGINT) AS a_raw
      FROM h{i - 1} p JOIN edges e ON p.node = e.src
      GROUP BY 1),
    am{i} AS (SELECT CAST(max(a_raw) AS BIGINT) AS m FROM ar{i}),
    a{i} AS (
      SELECT ar.node,
             CAST((ar.a_raw * 1000000) // am.m AS BIGINT) AS a
      FROM ar{i} ar, am{i} am),
    hr{i} AS (
      SELECT e.src AS node, CAST(sum(a.a) AS BIGINT) AS h_raw
      FROM a{i} a JOIN edges e ON a.node = e.dst
      GROUP BY 1),
    hm{i} AS (SELECT CAST(max(h_raw) AS BIGINT) AS m FROM hr{i}),
    h{i} AS (
      SELECT hr.node,
             CAST((hr.h_raw * 1000000) // hm.m AS BIGINT) AS h
      FROM hr{i} hr, hm{i} hm)""")
    return (prelude + "," + ",".join(steps) + f"""
    SELECT a.node AS part_key, a.a AS authority_e6, h.h AS hub_e6
    FROM a{_HITS_ITERS} a JOIN h{_HITS_ITERS} h ON a.node = h.node
    ORDER BY a.a DESC, h.h DESC, a.node LIMIT 50
    """)


@query(
    "hits_hub_authority",
    bench=True,
    oracle=_hits_oracle(),
    doc=f"HITS (Kleinberg) hubs & authorities, {_HITS_ITERS} "
        "iterations over the part co-purchase graph: per half-step "
        "one edges-x-scores join and one groupBy-sum, exactly the "
        "pagerank_copurchase cost model. The usual L2 normalization "
        "is replaced by integer L-infinity normalization — scores "
        "rescale to 1e6 * s / max(s) by floor division each "
        "half-step — so every score stays an exact bounded integer "
        "(<= deg * 1e6 before rescale) on any engine, partition "
        "layout, or data scale; the 1-row max per half-step is "
        "collected driver state (the codebook precedent — building "
        "it lazily as a broadcast cross join instead duplicates the "
        "upstream plan per half-step, an exponentially-sized analyzed "
        "tree that ran an 8g heap out of memory). Each half-step is one "
        "functions/graph.superstep (the hub half-step runs forward "
        "too: the co-purchase relation is its own transpose). Cache "
        "lifecycle (run_scoped, the graph hold rule): the edge list "
        "is one eager serialized cache, and each half-step's "
        "node-sized raw scores are held because the loop collects "
        "their max and the next half-step reads them again — up to "
        "2*iters score relations stay live until the query returns. "
        "Sums are bigint (score <= 1e6 so overflow needs in-degree "
        "> 9.2e12 — more edges on one node than a 100 TB corpus "
        "holds); only the node-sized x1e6 rescale is decimal. The "
        "iteration jobs run with AQE off at a shuffle width DERIVED "
        "from the edge cache's materialized size (_hits_iter_width, "
        "~16 MB/task, floor 8, cap $SPARK_GRAFT_CPUS — r15, VERDICT "
        "r14 ask #2): at sf0.1 the rule keeps the r7-measured 8 "
        "(7.7s -> 3.1s then; AQE-on re-measured +32% in r15), at sf1 "
        "the 24M-edge cache widens the half-step reduce to ~2/3 of "
        "the cores (interleaved A/B: 10.84 -> ~10.4s; AQE-on loses "
        "at sf0.1, so the loop scales by width instead). The "
        "skew-prone edge BUILD still "
        "materializes under the session's AQE confs. The top-50 is "
        "TakeOrderedAndProject inside the final driver collect (the "
        "bpe_learn_merges precedent), still under the loop confs; "
        "run_scoped releases the score caches AND the edge list "
        "before returning",
)
def hits_hub_authority(spark, sf_dir):
    return run_scoped(spark, sf_dir, _hits_build)


def _hits_build(spark, sf_dir, cache):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                 "l_partkey")
    # the lease's eager serialized cache (4.45s -> 3.61s at sf0.1 over
    # deserialized, tools/ab_specs/hits.py) builds the skew-prone edge
    # list under the session confs, before the AQE-off override
    edges = leased_copurchase_edges(cache, sf_dir, li, "src", "dst")
    rows = _hits_top50(spark, edges, cache, {
        "spark.sql.shuffle.partitions": str(_hits_iter_width(edges)),
        "spark.sql.adaptive.enabled": "false"})
    return spark.createDataFrame(rows, _HITS_SCHEMA)


# ---------------------------------------------------------------------------
# Wasserstein-1 (earth mover) distance — exact cross-multiplied CDFs

@query(
    "wasserstein_distance_drift",
    oracle="""
    WITH base AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents,
             CAST(event_type = 'purchase' AS BIGINT) AS y
      FROM events WHERE event_type IN ('click', 'purchase')),
    counts AS (
      SELECT cents, CAST(sum(y) AS BIGINT) AS c1,
             CAST(sum(1 - y) AS BIGINT) AS c0
      FROM base GROUP BY cents),
    cum AS (
      SELECT cents, c1, c0,
             CAST(sum(c1) OVER w AS BIGINT) AS cum1,
             CAST(sum(c0) OVER w AS BIGINT) AS cum0,
             lead(cents) OVER (ORDER BY cents) AS next_v
      FROM counts
      WINDOW w AS (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)),
    tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                   CAST(sum(c0) AS BIGINT) AS n0 FROM counts),
    num AS (
      SELECT CAST(sum(abs(CAST(cum1 AS HUGEINT) * tot.n0
                          - CAST(cum0 AS HUGEINT) * tot.n1)
                      * coalesce(next_v - cents, 0)) AS HUGEINT) AS s
      FROM cum, tot)
    SELECT tot.n1 AS n_purchase, tot.n0 AS n_click,
           CAST((2 * num.s * 1000000
                 + CAST(tot.n1 AS HUGEINT) * tot.n0)
                // (2 * CAST(tot.n1 AS HUGEINT) * tot.n0) AS DOUBLE)
               / 1000000.0 AS w1_cents6
    FROM num, tot
    """,
    doc="Wasserstein-1 (earth mover) distance between the purchase "
        "and click value distributions — the drift metric that, "
        "unlike KS, weighs HOW FAR mass moved: integral of "
        "|CDF1 - CDF2| over the value axis. Entirely exact integer "
        "arithmetic: CDFs are cross-multiplied (cum1*n0 - cum0*n1), "
        "segment widths are next-distinct-value gaps, and the single "
        "division is the final half-away-rounded normalization by "
        "n1*n0. Spark runs the cumulative sums and the "
        "next-value lookup as the two-phase bucketed pattern (within-"
        "bucket window + broadcast #buckets offsets; the lead "
        "crosses bucket edges via the next bucket's min) — no "
        "single-task sort of the value domain, unlike the textbook "
        "ORDER BY formulation",
    exchanges=10,
)
def wasserstein_distance_drift(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    base = (ev.filter(F.col("event_type").isin("click", "purchase"))
            .select(F.round(F.col("value") * 100).cast("bigint")
                    .alias("cents"),
                    (F.col("event_type") == "purchase").cast("bigint")
                    .alias("y")))
    counts = (base.groupBy("cents")
              .agg(F.sum("y").alias("c1"),
                   F.sum(1 - F.col("y")).alias("c0"))
              .withColumn("bkt", idiv(F.col("cents"), F.lit(2500))))
    # two-phase INCLUSIVE prefix sums for both series + in-bucket lead
    w_in = (Window.partitionBy("bkt").orderBy("cents")
            .rowsBetween(Window.unboundedPreceding, 0))
    w_lead = Window.partitionBy("bkt").orderBy("cents")
    local = counts.select(
        "cents", "bkt", "c1", "c0",
        F.sum("c1").over(w_in).alias("l1"),
        F.sum("c0").over(w_in).alias("l0"),
        F.lead("cents").over(w_lead).alias("lead_in"))
    btot = counts.groupBy("bkt").agg(
        F.sum("c1").alias("b1"), F.sum("c0").alias("b0"),
        F.min("cents").alias("bmin"))
    w_off = (Window.orderBy("bkt")
             .rowsBetween(Window.unboundedPreceding, -1))
    w_nxt = Window.orderBy("bkt")
    offs = btot.select(
        "bkt",
        F.coalesce(F.sum("b1").over(w_off), F.lit(0)).alias("o1"),
        F.coalesce(F.sum("b0").over(w_off), F.lit(0)).alias("o0"),
        F.lead("bmin").over(w_nxt).alias("next_bmin"))
    cum = (local.join(F.broadcast(offs), "bkt")
           .select("cents", "c1", "c0",
                   (F.col("l1") + F.col("o1")).alias("cum1"),
                   (F.col("l0") + F.col("o0")).alias("cum0"),
                   F.coalesce(F.col("lead_in"), F.col("next_bmin"))
                   .alias("next_v")))
    tot = counts.agg(F.sum("c1").alias("n1"), F.sum("c0").alias("n0"))
    term = (F.abs(F.col("cum1").cast("decimal(38,0)") * F.col("n0")
                  - F.col("cum0").cast("decimal(38,0)") * F.col("n1"))
            * F.coalesce(F.col("next_v") - F.col("cents"), F.lit(0)))
    num = (cum.crossJoin(F.broadcast(tot))
           .agg(F.sum(term).cast("decimal(38,0)").alias("s")))
    j = num.crossJoin(F.broadcast(tot))
    return j.select(
        F.col("n1").alias("n_purchase"), F.col("n0").alias("n_click"),
        ratio_round6(F.col("s"),
                     F.col("n1").cast("decimal(38,0)") * F.col("n0"))
        .alias("w1_cents6"))


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence — corpus token-distribution drift

@query(
    "js_divergence_lang_tokens",
    oracle="""
    WITH toks AS (
      SELECT CAST(lang = 'en' AS BIGINT) AS grp,
             unnest(CASE WHEN trim(text) = '' THEN [] ELSE
                    list_transform(
                        regexp_split_to_array(trim(text), '\\s+'),
                        t -> lower(t)) END) AS tok
      FROM documents),
    counts AS (
      SELECT tok, CAST(sum(grp) AS BIGINT) AS c_a,
             CAST(sum(1 - grp) AS BIGINT) AS c_b
      FROM toks GROUP BY tok),
    tot AS (SELECT CAST(sum(c_a) AS BIGINT) AS ta,
                   CAST(sum(c_b) AS BIGINT) AS tb,
                   CAST(count(*) AS BIGINT) AS vocab
            FROM counts),
    terms AS (
      SELECT CAST(ROUND((
               CASE WHEN c_a > 0 THEN
                 (CAST(c_a AS DOUBLE) / CAST(tot.ta AS DOUBLE))
                 * ln(2.0 * (CAST(c_a AS DOUBLE)
                             / CAST(tot.ta AS DOUBLE))
                      / (CAST(c_a AS DOUBLE) / CAST(tot.ta AS DOUBLE)
                         + CAST(c_b AS DOUBLE)
                           / CAST(tot.tb AS DOUBLE)))
               ELSE 0.0 END
               + CASE WHEN c_b > 0 THEN
                 (CAST(c_b AS DOUBLE) / CAST(tot.tb AS DOUBLE))
                 * ln(2.0 * (CAST(c_b AS DOUBLE)
                             / CAST(tot.tb AS DOUBLE))
                      / (CAST(c_a AS DOUBLE) / CAST(tot.ta AS DOUBLE)
                         + CAST(c_b AS DOUBLE)
                           / CAST(tot.tb AS DOUBLE)))
               ELSE 0.0 END) * 1000000000) AS BIGINT) AS t_n9
      FROM counts, tot),
    s AS (SELECT CAST(sum(t_n9) AS HUGEINT) AS sn9 FROM terms)
    SELECT tot.ta AS n_tokens_en, tot.tb AS n_tokens_rest, tot.vocab,
           CAST((2 * s.sn9 * 1000000 + 2000000000)
                // (2 * CAST(2000000000 AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS jsd6
    FROM s, tot
    """,
    doc="Jensen-Shannon divergence between the English and "
        "non-English token distributions (natural-log JSD/2 in "
        "[0, ln 2]) — the bounded, symmetric corpus-drift metric "
        "used for training-mixture monitoring. The vocabulary-sized "
        "float sum is made order-independent by rounding each "
        "per-token contribution to an exact 1e-9-unit integer "
        "(per-token terms are >= 0 by the log-sum inequality, "
        "absent-side terms are exactly 0), then summing INTEGERS — "
        "the same scaled-moments determinism as volatility_sharpe, "
        "but applied to a domain too large for the sorted-list fold. "
        "One corpus explode, one token groupBy with conditional "
        "sums (no self-join, no full outer), 1-row total broadcasts",
    exchanges=6,
)
def js_divergence_lang_tokens(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("lang") == "en").cast("bigint").alias("grp"),
        F.explode(TX.tokens(F.col("text"))).alias("tok"))
    counts = (toks.groupBy("tok")
              .agg(F.sum("grp").alias("c_a"),
                   F.sum(1 - F.col("grp")).alias("c_b")))
    tot = counts.agg(F.sum("c_a").alias("ta"),
                     F.sum("c_b").alias("tb"),
                     F.count(F.lit(1)).alias("vocab"))
    j = counts.crossJoin(F.broadcast(tot))
    pa = F.col("c_a").cast("double") / F.col("ta").cast("double")
    pb = F.col("c_b").cast("double") / F.col("tb").cast("double")
    term = (F.when(F.col("c_a") > 0,
                   pa * F.log(F.lit(2.0) * pa / (pa + pb)))
            .otherwise(F.lit(0.0))
            + F.when(F.col("c_b") > 0,
                     pb * F.log(F.lit(2.0) * pb / (pa + pb)))
            .otherwise(F.lit(0.0)))
    terms = j.select(F.round(term * 1000000000).cast("bigint")
                     .alias("t_n9"))
    s = terms.agg(F.sum("t_n9").cast("decimal(38,0)").alias("sn9"))
    out = s.crossJoin(F.broadcast(tot))
    return out.select(
        F.col("ta").alias("n_tokens_en"),
        F.col("tb").alias("n_tokens_rest"), "vocab",
        ratio_round6(F.col("sn9"), F.lit(2000000000)).alias("jsd6"))


# ---------------------------------------------------------------------------
# Poisson bootstrap CI — deterministic hash-weighted resampling

_BOOT_B = 40
# cumulative Poisson(1) pmf mapped onto the h60 domain: floor(F(k)*2^60)
# for k = 0..5 (P[w > 5] ~ 6e-5 truncates to w = 6). Same literals on
# both engines -> the resample weights are pure functions of the data.
_POIS_T = (424136118829305344, 848272237658610688,
           1060340297073263360, 1131029650211480960,
           1148701988496035328, 1152236456152946176)


def _boot_w_sql(h: str) -> str:
    cases = " ".join(
        f"WHEN {h} < {t} THEN {k}" for k, t in enumerate(_POIS_T))
    return f"CASE {cases} ELSE 6 END"


@query(
    "poisson_bootstrap_ci",
    oracle=f"""
    WITH base AS (
      SELECT event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events),
    rep AS (
      SELECT r.b, base.cents,
             {_boot_w_sql(
                 "CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)"
                 " || ':' || CAST(r.b AS VARCHAR)), 1, 15) AS BIGINT)"
             )} AS w
      FROM base, (SELECT unnest(generate_series(0, {_BOOT_B - 1}))
                  AS b) r),
    means AS (
      SELECT b,
             CAST((2 * CAST(sum(w * cents) AS HUGEINT) * 1000000
                   + sum(w)) // (2 * CAST(sum(w) AS HUGEINT))
                  AS BIGINT) AS m_e6
      FROM rep GROUP BY b),
    ranked AS (
      SELECT m_e6, row_number() OVER (ORDER BY m_e6, b) AS rn
      FROM means),
    pt AS (
      SELECT CAST((2 * CAST(sum(cents) AS HUGEINT) * 1000000
                   + count(*)) // (2 * CAST(count(*) AS HUGEINT))
                  AS BIGINT) AS m_e6,
             CAST(count(*) AS BIGINT) AS n
      FROM base)
    SELECT pt.n AS n_rows, CAST({_BOOT_B} AS BIGINT) AS n_replicates,
           CAST(pt.m_e6 AS DOUBLE) / 1000000.0 AS mean6,
           CAST((SELECT m_e6 FROM ranked WHERE rn = 2) AS DOUBLE)
               / 1000000.0 AS ci_lo6,
           CAST((SELECT m_e6 FROM ranked WHERE rn = {_BOOT_B - 1})
                AS DOUBLE) / 1000000.0 AS ci_hi6
    FROM pt
    """,
    doc=f"percentile-bootstrap confidence interval for the mean "
        f"value, via the POISSON bootstrap (Chamandy et al.'s "
        f"single-pass formulation): each of B={_BOOT_B} replicates "
        "weighs every row by a Poisson(1) draw, here derived "
        "DETERMINISTICALLY from md5(event_id:b) against precomputed "
        "cumulative-pmf thresholds on the h60 domain — so the "
        "'random' resample is a pure function of the data and both "
        "engines materialize the identical replicate. The CI is the "
        f"(2nd, {_BOOT_B - 1}th) order statistic of the B exact "
        "integer replicate means (~2.5/97.5th percentiles). Scale: "
        "the B-fold expansion happens in the map stage as an array "
        "explode and collapses immediately into map-side-combinable "
        "partial sums — the shuffle carries B*partitions rows, "
        "never B*data; this is THE bootstrap that works on data too "
        "large to resample by index",
    exchanges=3,
)
def poisson_bootstrap_ci(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"))

    def w_of(h):
        expr = F.lit(6)
        for k, t in reversed(list(enumerate(_POIS_T))):
            expr = F.when(h < t, F.lit(k)).otherwise(expr)
        return expr

    reps = base.select(
        "cents",
        F.posexplode(F.array(*[
            w_of(h60(F.concat(F.col("event_id").cast("string"),
                              F.lit(f":{b}"))))
            for b in range(_BOOT_B)])).alias("b", "w"))
    s = F.sum(F.col("w") * F.col("cents")).cast("decimal(38,0)")
    c = F.sum("w").cast("decimal(38,0)")
    means = (reps.groupBy("b")
             .agg(idiv(2 * s * 1000000 + c, 2 * c).alias("m_e6")))
    # B-row relation: the global order-statistic window is bounded
    wr = Window.orderBy("m_e6", "b")
    ranked = means.select("m_e6", F.row_number().over(wr).alias("rn"))
    lo = (ranked.filter(F.col("rn") == 2)
          .select(F.col("m_e6").alias("lo")))
    hi = (ranked.filter(F.col("rn") == _BOOT_B - 1)
          .select(F.col("m_e6").alias("hi")))
    sp = F.sum("cents").cast("decimal(38,0)")
    cp = F.count(F.lit(1)).cast("decimal(38,0)")
    pt = base.agg(
        idiv(2 * sp * 1000000 + cp, 2 * cp).alias("m_e6"),
        F.count(F.lit(1)).alias("n"))
    out = (pt.crossJoin(F.broadcast(lo)).crossJoin(F.broadcast(hi)))
    return out.select(
        F.col("n").alias("n_rows"),
        F.lit(_BOOT_B).cast("bigint").alias("n_replicates"),
        (F.col("m_e6").cast("double") / 1000000.0).alias("mean6"),
        (F.col("lo").cast("double") / 1000000.0).alias("ci_lo6"),
        (F.col("hi").cast("double") / 1000000.0).alias("ci_hi6"))


# ---------------------------------------------------------------------------
# windowFunnel — max ordered-chain depth inside a sliding time window

@query(
    "window_funnel_depth",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS tus, event_type, event_id
      FROM events),
    lv AS (
      SELECT user_id, tus, event_type, event_id,
             max(CASE WHEN event_type = 'view' THEN tus END)
                 OVER (PARTITION BY user_id ORDER BY tus, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS last_view
      FROM e),
    cv AS (
      SELECT user_id, tus, event_type, last_view,
             max(CASE WHEN event_type = 'click'
                      THEN last_view END)
                 OVER (PARTITION BY user_id ORDER BY tus, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS best_anchor
      FROM lv),
    flags AS (
      SELECT user_id,
             CAST(max(CASE WHEN event_type = 'view'
                      THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             CAST(max(CASE WHEN event_type = 'click'
                      AND last_view >= tus - 3600000000
                      THEN 1 ELSE 0 END) AS BIGINT) AS d2,
             CAST(max(CASE WHEN event_type = 'purchase'
                      AND best_anchor >= tus - 3600000000
                      THEN 1 ELSE 0 END) AS BIGINT) AS d3,
             CAST(count(*) AS BIGINT) AS n_events
      FROM cv GROUP BY user_id)
    SELECT user_id, n_events,
           CAST(d1 + d1 * d2 + d1 * d2 * d3 AS BIGINT)
               AS funnel_depth
    FROM flags ORDER BY user_id
    """,
    doc="windowFunnel (ClickHouse-style sequence analytics): per "
        "user, the deepest view -> click -> purchase chain whose "
        "whole span fits in a 1-hour window anchored at the chain's "
        "first event. The naive formulation is a per-user 3-way "
        "self-join; this one is PURE WINDOW ALGEBRA via a greedy "
        "invariant: a depth-3 chain ending at purchase p exists iff "
        "some earlier click carried a view later than p - W — so "
        "'latest view before each event' (window max over views) "
        "and 'best such anchor over preceding clicks' (window max "
        "over clicks) reduce chain existence to two row comparisons. "
        "Timestamps are exact epoch-microsecond integers on both "
        "engines. One exchange: everything shares the per-user "
        "(ts, event_id) ordering; no self-join at any scale",
    exchanges=2,
)
def window_funnel_depth(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    e = ev.select("user_id", F.unix_micros("ts").alias("tus"),
                  "event_type", "event_id")
    w = (Window.partitionBy("user_id").orderBy("tus", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    lv = e.select(
        "user_id", "tus", "event_type", "event_id",
        F.max(F.when(F.col("event_type") == "view", F.col("tus")))
        .over(w).alias("last_view"))
    # (tus, event_id) — a ROWS frame over tus alone is nondeterministic
    # when a user has two events at the same timestamp (ADVICE r4).
    w2 = (Window.partitionBy("user_id").orderBy("tus", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1))
    cv = lv.select(
        "user_id", "tus", "event_type", "last_view",
        F.max(F.when(F.col("event_type") == "click",
                     F.col("last_view"))).over(w2)
        .alias("best_anchor"))
    win_us = F.lit(3600000000)
    flags = cv.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint").alias("d1"),
        F.max(F.when((F.col("event_type") == "click")
                     & (F.col("last_view") >= F.col("tus") - win_us),
                     1).otherwise(0)).cast("bigint").alias("d2"),
        F.max(F.when((F.col("event_type") == "purchase")
                     & (F.col("best_anchor")
                        >= F.col("tus") - win_us),
                     1).otherwise(0)).cast("bigint").alias("d3"),
        F.count(F.lit(1)).alias("n_events"))
    return (flags.select(
                "user_id", "n_events",
                (F.col("d1") + F.col("d1") * F.col("d2")
                 + F.col("d1") * F.col("d2") * F.col("d3"))
                .cast("bigint").alias("funnel_depth"))
            .orderBy("user_id"))


# ---------------------------------------------------------------------------
# Graph modularity — partition quality in exact integer arithmetic

@query(
    "modularity_brand_partition",
    oracle="""
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey),
    lab AS MATERIALIZED (
      SELECT p.x, p.y, px.p_brand AS bx, py.p_brand AS by_
      FROM pairs p
      JOIN part px ON p.x = px.p_partkey
      JOIN part py ON p.y = py.p_partkey),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM lab),
    within AS (
      SELECT bx AS brand, CAST(count(*) AS BIGINT) AS m_c
      FROM lab WHERE bx = by_ GROUP BY 1),
    deg AS MATERIALIZED (
      SELECT brand, CAST(count(*) AS BIGINT) AS d_c
      FROM (SELECT bx AS brand FROM lab
            UNION ALL SELECT by_ FROM lab)
      GROUP BY 1),
    comm AS (
      SELECT deg.brand, coalesce(w.m_c, 0) AS m_c, deg.d_c,
             4 * CAST(m.m AS HUGEINT) * coalesce(w.m_c, 0)
             - CAST(deg.d_c AS HUGEINT) * deg.d_c AS num,
             4 * CAST(m.m AS HUGEINT) * m.m AS den
      FROM deg LEFT JOIN within w USING (brand), m)
    SELECT brand, m_c, d_c,
           CAST(CASE WHEN num >= 0
                THEN (2 * num * 1000000 + den) // (2 * den)
                ELSE -((2 * (-num) * 1000000 + den) // (2 * den))
                END AS DOUBLE) / 1000000.0 AS contrib6
    FROM comm ORDER BY brand
    """,
    doc="Newman modularity of the brand partition over the part "
        "co-purchase graph, reported per community: contribution_c = "
        "(4*m*m_c - d_c^2) / (4*m^2), where m = |E|, m_c = "
        "within-community edges, d_c = total degree of community c — "
        "Q is their sum, and keeping the numerator cross-multiplied "
        "makes every contribution an exact signed integer ratio "
        "(half-away rounded once at the edge). Cost model: one "
        "order self-join builds the edge list, brands arrive via two "
        "broadcast dimension joins, then everything is "
        "community-sized aggregates and a 1-row m scalar",
    # 12 since the one-scan edge build (functions/graph.py): the
    # unpersisted build subtree repeats under the m/within/deg
    # branches and its groupBy exchange is counted per occurrence
    # in the STATIC plan; at runtime AQE collapses the identical
    # subtrees via ReusedExchange (verified: 7 reused at sf0.001),
    # so the executed shuffle work is one build + branch aggs —
    # strictly less IO than the join-era double lineitem scan
    exchanges=12,
)
def modularity_brand_partition(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                 "l_partkey")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pairs = leased_copurchase_edges(lazy_cache, sf_dir, li, "x", "y",
                                    ordered=True)
    px = F.broadcast(part.select(F.col("p_partkey").alias("x"),
                                 F.col("p_brand").alias("bx")))
    py = F.broadcast(part.select(F.col("p_partkey").alias("y"),
                                 F.col("p_brand").alias("by_")))
    lab = pairs.join(px, "x").join(py, "y")
    m = lab.agg(F.count(F.lit(1)).alias("m"))
    within = (lab.filter(F.col("bx") == F.col("by_"))
              .groupBy(F.col("bx").alias("brand"))
              .agg(F.count(F.lit(1)).alias("m_c")))
    deg = (lab.select(F.col("bx").alias("brand"))
           .unionAll(lab.select(F.col("by_").alias("brand")))
           .groupBy("brand").agg(F.count(F.lit(1)).alias("d_c")))
    comm = (deg.join(within, "brand", "left")
            .select("brand",
                    F.coalesce(F.col("m_c"), F.lit(0)).alias("m_c"),
                    "d_c")
            .crossJoin(F.broadcast(m)))
    md = F.col("m").cast("decimal(38,0)")
    num = (4 * md * F.col("m_c")
           - F.col("d_c").cast("decimal(38,0)") * F.col("d_c"))
    den = 4 * md * F.col("m")
    return (comm.select("brand", "m_c", "d_c",
                        signed_ratio_round6(num, den).alias("contrib6"))
            .orderBy("brand"))


# ---------------------------------------------------------------------------
# Local clustering coefficient — per-node triangle closure ratio

@query(
    "local_clustering_coefficient",
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
    corners AS (SELECT a AS node FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri),
    tcnt AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri
             FROM corners GROUP BY 1)
    SELECT d.node AS part_key, d.deg,
           coalesce(t.n_tri, 0) AS n_tri,
           CAST((2 * CAST(2 * coalesce(t.n_tri, 0) AS HUGEINT)
                 * 1000000 + CAST(d.deg AS HUGEINT) * (d.deg - 1))
                // (2 * CAST(d.deg AS HUGEINT) * (d.deg - 1))
                AS DOUBLE) / 1000000.0 AS lcc6
    FROM deg d LEFT JOIN tcnt t USING (node)
    WHERE d.deg >= 2
    ORDER BY lcc6 DESC, d.deg DESC, d.node LIMIT 50
    """,
    doc="local clustering coefficient per node: 2*triangles / "
        "(deg*(deg-1)) over the part co-purchase graph — how close "
        "each node's neighborhood is to a clique (the local "
        "small-world diagnostic; triangle_count_copurchase reports "
        "raw counts, this closes the ratio). Reuses the degree-"
        "oriented triangle enumeration (wedge fan-out bounded by "
        "O(sqrt|E|), equi-joins only), then one corner explode, one "
        "count, and an exact half-away integer ratio. Top-50 is "
        "TakeOrderedAndProject. Degree and oriented-edge caches are "
        "released after the result materializes (run_scoped, VERDICT "
        "r9 ask #3)",
    scoped=True,
    # degree-oriented triangle pipeline: every exchange is a
    # node-/edge-scale equi-join key, same family as
    # triangle_count_copurchase (tightened 34 -> 24 by the r10
    # scoped-cache audit, 24 -> 22 on the one cold-plan count)
    exchanges=22,
)
def _lcc_plan(spark, sf_dir, cache=lazy_cache):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                 "l_partkey")
    pairs = leased_copurchase_edges(lazy_cache, sf_dir, li, "x", "y",
                                    ordered=True)
    deg = cache(pairs.select(F.col("x").alias("node"))
                .unionAll(pairs.select(F.col("y").alias("node")))
                .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    dx = deg.select(F.col("node").alias("x"),
                    F.col("deg").alias("degx"))
    dy = deg.select(F.col("node").alias("y"),
                    F.col("deg").alias("degy"))
    # Orientation key is lexicographic (deg, node) — NOT an arithmetic
    # packing like deg*1e9 + node, which stops being injective once
    # partkey >= 1e9 at the 100 TB design point (ADVICE r4) and can
    # silently undercount triangles via key collisions.
    lt = ((F.col("degx") < F.col("degy"))
          | ((F.col("degx") == F.col("degy"))
             & (F.col("x") < F.col("y"))))
    keyed = pairs.join(dx, "x").join(dy, "y")
    o = cache(keyed.select(
        F.when(lt, F.col("x")).otherwise(F.col("y")).alias("u"),
        F.when(lt, F.col("y")).otherwise(F.col("x")).alias("v")))
    ov = (o.join(deg.select(F.col("node").alias("v"),
                            F.col("deg").alias("degv")), "v")
          .select("u", "v", F.col("degv").alias("dv")))
    e1 = ov.select(F.col("u").alias("wu"), F.col("v").alias("b"),
                   F.col("dv").alias("d1"))
    e2 = ov.select(F.col("u").alias("wu"), F.col("v").alias("c"),
                   F.col("dv").alias("d2"))
    wedges = (e1.join(e2, "wu")
              .filter((F.col("d1") < F.col("d2"))
                      | ((F.col("d1") == F.col("d2"))
                         & (F.col("b") < F.col("c")))))
    tri = wedges.join(
        o.select(F.col("u").alias("b"), F.col("v").alias("c")),
        ["b", "c"])
    corners = (tri.select(F.col("wu").alias("node"))
               .unionAll(tri.select(F.col("b").alias("node")))
               .unionAll(tri.select(F.col("c").alias("node"))))
    tcnt = corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_tri"))
    j = (deg.filter(F.col("deg") >= 2)
         .join(tcnt, "node", "left")
         .select("node", "deg",
                 F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_tri")))
    return (j.select(F.col("node").alias("part_key"), "deg", "n_tri",
                     ratio_round6(2 * F.col("n_tri"),
                                  F.col("deg").cast("decimal(38,0)")
                                  * (F.col("deg") - 1)).alias("lcc6"))
            .orderBy(F.desc("lcc6"), F.desc("deg"), "part_key")
            .limit(50))


# ---------------------------------------------------------------------------
# Rank-biased overlap (Webber et al. 2010) between two part rankings:
# THE metric for "did changing the scorer reorder what matters", used
# to compare retrieval/popularity rankings without a relevance oracle.
# RBO@D = (1-p) * sum_{d=1..D} p^(d-1) * |top_d(X) ∩ top_d(Y)| / d.
# Exactness: the per-depth weights (1-p)p^(d-1)/d are pre-rounded to
# integer 1e-12 units IN PYTHON and embedded as identical literals in
# both engines, and sum_d overlap_d * w_d re-associates per PART as
# suffixW[max(rx, ry)] — so the whole metric is one BIGINT sum, exact
# under any partitioning, no cross-engine libm pow() anywhere.

_RBO_P = 0.9
_RBO_D = 50
_RBO_W = [round((1 - _RBO_P) * _RBO_P ** (d - 1) / d * 10**12)
          for d in range(1, _RBO_D + 1)]
# suffix sums: suffixW[k] = sum of w_d for d in k..D (1-indexed)
_RBO_SUFFIX = [sum(_RBO_W[k:]) for k in range(_RBO_D)]


def _rbo_rank_sql(measure: str) -> str:
    return f"""(
      SELECT l_partkey,
             row_number() OVER (ORDER BY {measure} DESC, l_partkey)
                 AS r
      FROM (SELECT l_partkey,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                       AS qty,
                   CAST(sum(CAST(ROUND(l_extendedprice
                        * (1 - l_discount) * 100) AS BIGINT))
                       AS BIGINT) AS rev
            FROM lineitem GROUP BY 1) t
      ORDER BY {measure} DESC, l_partkey LIMIT {_RBO_D})"""


@query(
    "rank_biased_overlap_parts",
    oracle=f"""
    WITH rx AS ({_rbo_rank_sql('qty')}),
    ry AS ({_rbo_rank_sql('rev')}),
    shared AS (
      SELECT greatest(rx.r, ry.r) AS m
      FROM rx JOIN ry USING (l_partkey)),
    sfx AS (SELECT [{', '.join(str(w) for w in _RBO_SUFFIX)}] AS s)
    SELECT CAST({_RBO_D} AS BIGINT) AS depth,
           CAST(count(*) AS BIGINT) AS n_shared,
           CAST(coalesce(sum(sfx.s[m]), 0) AS BIGINT) AS rbo_units,
           CAST(coalesce(sum(sfx.s[m]), 0) AS DOUBLE) / 1e12 AS rbo12
    FROM shared CROSS JOIN sfx
    """,
    doc=f"rank-biased overlap (p={_RBO_P}, depth {_RBO_D}) between the "
        "quantity-ranked and revenue-ranked part top lists — the "
        "ranking-drift metric an eval pipeline tracks across scorer "
        "changes. Per-depth RBO weights are pre-rounded 1e-12-unit "
        "BIGINT literals identical in both engines (no runtime pow), "
        "and the depth sum re-associates per part as a suffix-weight "
        "lookup at max(rank_x, rank_y), so the metric is a single "
        "exact integer sum. Each top-50 comes from "
        "TakeOrderedAndProject (distributed top-k, never a global "
        "sort); everything after runs on 50-row relations",
    # two TakeOrdered feeds
    exchanges=2,
)
def rank_biased_overlap_parts(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).cast("long")
        .alias("qty"),
        F.sum(F.round(F.col("l_extendedprice")
                      * (1 - F.col("l_discount")) * 100).cast("bigint"))
        .cast("long").alias("rev"))

    def top(measure):
        t = per.orderBy(F.desc(measure), "l_partkey").limit(_RBO_D)
        w = Window.orderBy(F.desc(measure), "l_partkey")
        return t.select("l_partkey", F.row_number().over(w).alias("r"))

    rx = top("qty").withColumnRenamed("r", "rx")
    ry = top("rev").withColumnRenamed("r", "ry")
    sfx = F.array(*[F.lit(w).cast("bigint") for w in _RBO_SUFFIX])
    both = (rx.join(ry, "l_partkey")
            .select(F.greatest("rx", "ry").alias("m")))
    return both.agg(
        F.lit(_RBO_D).cast("bigint").alias("depth"),
        F.count(F.lit(1)).cast("long").alias("n_shared"),
        F.coalesce(F.sum(F.element_at(sfx, F.col("m"))), F.lit(0))
         .cast("long").alias("rbo_units"),
        (F.coalesce(F.sum(F.element_at(sfx, F.col("m"))), F.lit(0))
         .cast("double") / 1e12).alias("rbo12"))


# ---------------------------------------------------------------------------
# Recursive CTE executed BY SPARK (SQL:1999 recursion landed in Spark
# 4.x): the date-spine gap-fill every reporting pipeline needs — a
# contiguous calendar between the first and last event, left-joined to
# daily activity so silent gaps become visible rows instead of missing
# ones. Other recursive oracles in this repo (SSSP, interest schedule,
# dedup closure) pair a Spark ITERATIVE implementation with a DuckDB
# recursive CTE; this one runs WITH RECURSIVE on both engines.

@query(
    "recursive_cte_date_spine",
    oracle="""
    WITH RECURSIVE spine(d) AS (
      SELECT CAST(min(ts) AS DATE) FROM events
      UNION ALL
      SELECT d + INTERVAL 1 DAY FROM spine
      WHERE d < (SELECT CAST(max(ts) AS DATE) FROM events)
    ),
    daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1)
    SELECT CAST(spine.d AS TIMESTAMP) AS day,
           CAST(coalesce(daily.n, 0) AS BIGINT) AS n_events,
           coalesce(daily.n, 0) = 0 AS is_gap
    FROM spine LEFT JOIN daily ON daily.d = spine.d
    ORDER BY day
    """,
    doc="date-spine gap-fill via WITH RECURSIVE executed by Spark's "
        "own SQL engine (UnionLoop — recursion support new in Spark "
        "4.x), matched against DuckDB's recursive CTE: a contiguous "
        "calendar between the corpus's first and last event day, "
        "left-joined to per-day counts so zero-activity days surface "
        "as is_gap rows. The spine is calendar-sized (days, not "
        "rows), so recursion depth and state are bounded regardless "
        "of corpus scale; the only corpus-sized work is the one "
        "groupBy(day)",
    exchanges=2,
)
def recursive_cte_date_spine(spark, sf_dir):
    # the spine recurses once per calendar day; lift the default
    # ~100-step recursion ceiling on a CLONED session (own SQLConf —
    # the streaming_click_purchase_join precedent) so a multi-year
    # dataset cannot trip it while the base session stays untouched
    work = spark.newSession()
    work.conf.set("spark.sql.cteRecursionLevelLimit", "1000000")
    table(work, sf_dir, "events").createOrReplaceTempView(
        "events_rcds")
    return work.sql("""
      WITH RECURSIVE spine(d) AS (
        SELECT CAST(min(ts) AS DATE) FROM events_rcds
        UNION ALL
        SELECT d + INTERVAL 1 DAY FROM spine
        WHERE d < (SELECT CAST(max(ts) AS DATE) FROM events_rcds)
      ),
      daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
        FROM events_rcds GROUP BY 1)
      SELECT CAST(spine.d AS TIMESTAMP) AS day,
             CAST(coalesce(daily.n, 0) AS BIGINT) AS n_events,
             coalesce(daily.n, 0) = 0 AS is_gap
      FROM spine LEFT JOIN daily ON daily.d = spine.d
      ORDER BY day
    """)


# ---------------------------------------------------------------------------
# Ridge regression by distributed normal equations: the closed-form
# linear-model fit a feature pipeline runs at any scale — ONE corpus
# pass accumulates the (d+1)x(d+1) Gram matrix and X^T y as EXACT
# BIGINT sums of integer features (map-side combinable, d^2-sized
# state), then the 3x3 system solves by Cramer's rule in doubles.
# Cross-engine exactness: the Cramer expressions are built ONCE as
# strings and fed verbatim to BOTH engines (F.expr and the oracle
# text), so the floating-point expression trees are identical —
# identical doubles in, identical doubles out.

_RIDGE_LAM = 1000  # L2 penalty (applied to all coefficients)

# symmetric 3x3 Cramer over double-cast Gram entries d11..d33 / rhs
# b1..b3 (a21=a12 etc, so only the upper triangle appears)
_CR_DET = ("(d11*(d22*d33 - d23*d23) - d12*(d12*d33 - d23*d13)"
           " + d13*(d12*d23 - d22*d13))")
_CR_N0 = ("(b1*(d22*d33 - d23*d23) - d12*(b2*d33 - d23*b3)"
          " + d13*(b2*d23 - d22*b3))")
_CR_N1 = ("(d11*(b2*d33 - d23*b3) - b1*(d12*d33 - d23*d13)"
          " + d13*(d12*b3 - b2*d13))")
_CR_N2 = ("(d11*(d22*b3 - b2*d23) - d12*(d12*b3 - b2*d13)"
          " + b1*(d12*d23 - d22*d13))")


@query(
    "ridge_normal_equations",
    oracle=f"""
    WITH feats AS (
      SELECT CAST(l_quantity AS BIGINT) AS x1,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS x2,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem),
    gram AS (
      SELECT CAST(count(*) + {_RIDGE_LAM} AS BIGINT) AS a11,
             CAST(sum(x1) AS BIGINT) AS a12,
             CAST(sum(x2) AS BIGINT) AS a13,
             CAST(sum(x1 * x1) + {_RIDGE_LAM} AS BIGINT) AS a22,
             CAST(sum(x1 * x2) AS BIGINT) AS a23,
             CAST(sum(x2 * x2) + {_RIDGE_LAM} AS BIGINT) AS a33,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x1 * y) AS BIGINT) AS sx1y,
             CAST(sum(x2 * y) AS BIGINT) AS sx2y,
             CAST(count(*) AS BIGINT) AS n
      FROM feats),
    d AS (
      SELECT n,
             CAST(a11 AS DOUBLE) AS d11, CAST(a12 AS DOUBLE) AS d12,
             CAST(a13 AS DOUBLE) AS d13, CAST(a22 AS DOUBLE) AS d22,
             CAST(a23 AS DOUBLE) AS d23, CAST(a33 AS DOUBLE) AS d33,
             CAST(sy AS DOUBLE) AS b1, CAST(sx1y AS DOUBLE) AS b2,
             CAST(sx2y AS DOUBLE) AS b3
      FROM gram)
    SELECT n,
           ROUND({_CR_N0} / {_CR_DET}, 6) AS beta0,
           ROUND({_CR_N1} / {_CR_DET}, 6) AS beta1,
           ROUND({_CR_N2} / {_CR_DET}, 6) AS beta2
    FROM d
    """,
    doc=f"closed-form ridge regression (lambda={_RIDGE_LAM}) of "
        "lineitem price cents on (quantity, discount-percent) by "
        "distributed normal equations: one pass accumulates the Gram "
        "matrix and X^T y as exact BIGINT sums of integer features "
        "(map-side combinable — the gram_matrix_micro cost model: the "
        "data never moves, only d^2 partials do), then Cramer's rule "
        "solves the 3x3 system in doubles whose expression trees are "
        "the SAME string fed to F.expr and the oracle, so both "
        "engines perform bit-identical float arithmetic on "
        "bit-identical inputs. At 100 TB this is how a linear probe "
        "or calibration layer fits without an iterative solver",
    exchanges=1,
)
def ridge_normal_equations(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    feats = li.select(
        F.col("l_quantity").cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        .alias("y"))
    lam = F.lit(_RIDGE_LAM).cast("bigint")
    gram = feats.agg(
        (F.count(F.lit(1)) + lam).cast("long").alias("a11"),
        F.sum("x1").cast("long").alias("a12"),
        F.sum("x2").cast("long").alias("a13"),
        (F.sum(F.col("x1") * F.col("x1")) + lam).cast("long")
        .alias("a22"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("a23"),
        (F.sum(F.col("x2") * F.col("x2")) + lam).cast("long")
        .alias("a33"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("sx2y"),
        F.count(F.lit(1)).cast("long").alias("n"))
    d = gram.select(
        "n",
        F.col("a11").cast("double").alias("d11"),
        F.col("a12").cast("double").alias("d12"),
        F.col("a13").cast("double").alias("d13"),
        F.col("a22").cast("double").alias("d22"),
        F.col("a23").cast("double").alias("d23"),
        F.col("a33").cast("double").alias("d33"),
        F.col("sy").cast("double").alias("b1"),
        F.col("sx1y").cast("double").alias("b2"),
        F.col("sx2y").cast("double").alias("b3"))
    return d.select(
        "n",
        F.round(F.expr(f"{_CR_N0} / {_CR_DET}"), 6).alias("beta0"),
        F.round(F.expr(f"{_CR_N1} / {_CR_DET}"), 6).alias("beta1"),
        F.round(F.expr(f"{_CR_N2} / {_CR_DET}"), 6).alias("beta2"))


# ---------------------------------------------------------------------------
# Off-policy evaluation by inverse propensity scoring (Li et al. 2011,
# "Unbiased Offline Evaluation of Contextual-bandit-based..."): score a
# NEW deterministic policy against logged interactions without running
# it, reweighting matching rows by 1/propensity. Logged arms are the 5
# event types (modelled as a uniform logging policy, p = 1/5); the
# target policy picks an arm per user by md5 hash, so both engines
# derive identical decisions with no model artifact to ship.

@query(
    "ips_policy_value",
    oracle=f"""
    WITH arms AS (
      SELECT event_type,
             row_number() OVER (ORDER BY event_type) - 1 AS arm_idx,
             count(*) OVER () AS n_arms
      FROM (SELECT DISTINCT event_type FROM events)),
    logged AS (
      SELECT e.user_id, e.event_type,
             CAST(ROUND(e.value * 100) AS BIGINT) AS r_cents,
             a.arm_idx, a.n_arms
      FROM events e JOIN arms a USING (event_type)),
    scored AS (
      SELECT r_cents, n_arms,
             arm_idx = {_h60_sql("'pol:' || CAST(user_id AS VARCHAR)")}
                       % n_arms AS match
      FROM logged),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(max(n_arms) AS BIGINT) AS n_arms,
             CAST(sum(CASE WHEN match THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_matched,
             CAST(sum(CASE WHEN match THEN r_cents ELSE 0 END)
                  AS BIGINT) AS matched_cents,
             CAST(sum(r_cents) AS BIGINT) AS total_cents
      FROM scored)
    SELECT n, n_matched,
           CAST((2 * CAST(n_arms * matched_cents AS HUGEINT) * 1000000
                 + n) // (2 * CAST(n AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS v_target_cents6,
           CAST((2 * CAST(total_cents AS HUGEINT) * 1000000 + n)
                // (2 * CAST(n AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS v_logged_cents6
    FROM agg
    """,
    doc="off-policy evaluation via inverse propensity scoring: the "
        "value of a hash-deterministic target policy (arm per user = "
        "md5 % n_arms over the name-ranked arm list) estimated from "
        "logged events under a uniform logging policy — matching rows "
        "reweighted by n_arms — next to the logged policy's raw "
        "average for comparison. Everything is exact integers (cent "
        "rewards, match counts, HUGEINT/DECIMAL ratio rounding), so "
        "the one-row estimate is hash-exact. One scan, one broadcast "
        "of the 5-row arm table, one global agg: the OPE shape that "
        "scores a policy change against 100 TB of logs without "
        "deploying it",
    exchanges=3,
)
def ips_policy_value(spark, sf_dir):
    from ..functions.dedup import h60

    ev = table(spark, sf_dir, "events")
    arms_w = Window.orderBy("event_type")
    arms = (ev.select("event_type").distinct()
            .select("event_type",
                    (F.row_number().over(arms_w) - 1).alias("arm_idx"),
                    F.count(F.lit(1)).over(
                        Window.partitionBy()).alias("n_arms")))
    pol = h60(F.concat(F.lit("pol:"),
                       F.col("user_id").cast("string"))) % F.col("n_arms")
    scored = (ev.join(F.broadcast(arms), "event_type")
              .select(F.round(F.col("value") * 100).cast("bigint")
                      .alias("r_cents"),
                      "n_arms",
                      (F.col("arm_idx") == pol).alias("match")))
    agg = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("n_arms").cast("long").alias("n_arms"),
        F.sum(F.col("match").cast("bigint")).cast("long")
        .alias("n_matched"),
        F.sum(F.when(F.col("match"), F.col("r_cents")).otherwise(0))
        .cast("long").alias("matched_cents"),
        F.sum("r_cents").cast("long").alias("total_cents"))
    return agg.select(
        "n", "n_matched",
        ratio_round6(F.col("n_arms") * F.col("matched_cents"),
                     F.col("n")).alias("v_target_cents6"),
        ratio_round6(F.col("total_cents"), F.col("n"))
        .alias("v_logged_cents6"))


# ---------------------------------------------------------------------------
# Leakage-safe churn-label generation: the forward-looking label build
# every behavioral model needs — an interaction is a churn point iff
# the user has NO further event within the horizon. The horizon
# comparison runs on exact epoch microseconds, and the lookahead is
# ONE lead() over the same (user, time) sort every other per-user
# window shares.

_CHURN_HORIZON_US = 14 * 86400 * 1_000_000  # 14 days


@query(
    "churn_label_generation",
    oracle=f"""
    WITH nxt AS (
      SELECT user_id, event_id,
             epoch_us(ts) AS u,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nu
      FROM events)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN nu IS NULL
                         OR nu > u + {_CHURN_HORIZON_US}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_churn_points,
           CAST(max(CASE WHEN nu IS NULL
                         OR nu > u + {_CHURN_HORIZON_US}
                    THEN event_id END) AS BIGINT)
               AS last_churn_event_id
    FROM nxt GROUP BY user_id ORDER BY user_id
    """,
    doc="forward-looking churn labels without leakage: an event is a "
        "churn point iff the same user has no further event within 14 "
        "days, computed as ONE lead() over the per-user time sort "
        "(ties broken by event_id on both engines) with the horizon "
        "compared in exact epoch microseconds. Rolled up per user "
        "(label counts + the id of the latest churn point) so the "
        "driver hash covers every label decision. At 100 TB this is "
        "one user-hash exchange and one sort — the label-build shape "
        "that feeds survival/churn models",
    exchanges=2,
)
def churn_label_generation(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    u = F.unix_micros("ts")
    nxt = ev.select(
        "user_id", "event_id", u.alias("u"),
        F.lead(u).over(w).alias("nu"))
    churn = (F.col("nu").isNull()
             | (F.col("nu") > F.col("u") + _CHURN_HORIZON_US))
    return (nxt.groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.sum(churn.cast("bigint")).cast("long")
                 .alias("n_churn_points"),
                 F.max(F.when(churn, F.col("event_id"))).cast("bigint")
                 .alias("last_churn_event_id"))
            .orderBy("user_id"))


# ---------------------------------------------------------------------------
# Link prediction over the co-purchase graph: score NON-edges by
# shared-neighbor structure (common-neighbor count + Resource
# Allocation index, Zhou et al. 2009). Distinct from
# item_item_similarity, which ranks pairs that already co-occur:
# here the candidates are 2-hop pairs with the direct edge REMOVED —
# the "which products will be bought together next" shape that feeds
# recommender candidate generation. Scoped to a deterministic query
# set (the highest-degree parts): the all-pairs wedge join is
# Theta(sum deg^2) — measured 31s at sf0.1 (265M wedges) before the
# scoping, 5s after — and a recommender batch scores FOCUS items,
# not the cross product.

_LNK_RA_SCALE = 1_000_000_000_000  # 1/deg in 1e-12 floor-div units
_LNK_QUERIES = 100  # query nodes: highest degree, ties to lower id
_LNK_TOPK = 100


@query(
    "link_prediction_common_neighbors",
    oracle=f"""
    WITH edges AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
            FROM edges GROUP BY 1),
    q AS (SELECT src AS u FROM deg
          ORDER BY deg DESC, src LIMIT {_LNK_QUERIES}),
    cand AS (
      SELECT e1.dst AS u, e2.dst AS v,
             CAST(count(*) AS BIGINT) AS n_common,
             CAST(sum({_LNK_RA_SCALE} // d.deg) AS BIGINT) AS ra_score
      FROM edges e1
      JOIN q ON q.u = e1.dst
      JOIN edges e2 ON e1.src = e2.src AND e1.dst <> e2.dst
      JOIN deg d ON d.src = e1.src
      GROUP BY 1, 2),
    pred AS (
      SELECT c.* FROM cand c
      ANTI JOIN edges e ON e.src = c.u AND e.dst = c.v)
    SELECT u AS part_u, v AS part_v, n_common, ra_score
    FROM pred ORDER BY ra_score DESC, part_u, part_v
    LIMIT {_LNK_TOPK}
    """,
    doc=f"link prediction on the part co-purchase graph: for the "
        f"{_LNK_QUERIES} highest-degree query parts, score every "
        "2-hop partner that is NOT already an edge by common-"
        "neighbor count and the Resource Allocation index "
        f"sum(1/deg(w)) — RA in exact {_LNK_RA_SCALE:.0e}-unit "
        "floor-div BIGINTs (1e12 DIV deg on both engines), so the "
        f"top-{_LNK_TOPK} ranking can never flip on fp summation. "
        "Candidate generation is the wedge join through a shared "
        "midpoint, bounded by the query set: cost sum over query "
        "wedges, NOT the Theta(sum deg^2) all-pairs blow-up (265M "
        "wedges and 31s at sf0.1 when unscoped; 5s scoped, 1.6x for "
        "10x data at sf1) — the same query-set discipline as the ANN "
        "evals, matching how a recommender scores focus items in "
        "batches. Existing edges "
        "leave via an anti-join keyed on the (u, v) pair the "
        "aggregation just partitioned by (the edge list is corpus-"
        "scale, NOT broadcast material); everything shuffles on node "
        "or node-pair keys only. The edge cache is built eagerly "
        "once (deterministic build under its own plan) and released "
        "after the result materializes (run_scoped, VERDICT r9 "
        "ask #3)",
    scoped=True,
    # +1 exchange vs the unscoped form: the query-set top-k
    # (TakeOrdered over deg) feeding the broadcast — the trade
    # that cut the wedge join from 265M rows to query-bounded.
    # +1 more in r14: the anti-join pre-filter embeds q a second
    # time (DeduplicateRelations re-aliases the copy, so its deg
    # exchange is counted separately here — at runtime it is a
    # ReusedExchange over the identical child), the trade that
    # dropped the anti-join's right side from the full edge list
    # to the query nodes' out-neighborhoods
    exchanges=6,
)
def _lnk_plan(spark, sf_dir, cache=lazy_cache):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                 "l_partkey")
    edges = leased_copurchase_edges(cache, sf_dir, li, "src", "dst")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # q stays UNcached here (unlike _lph_plan's five-consumer q): its
    # two consumers share the deg subtree inline, so caching would
    # only break exchange dedup in the audited plan for no runtime win
    q = (deg.orderBy(F.desc("deg"), "src").limit(_LNK_QUERIES)
         .select(F.col("src").alias("u")))
    e1 = (edges.join(deg, "src")
          .select(F.col("src").alias("w"), F.col("dst").alias("u"),
                  "deg")
          .join(F.broadcast(q), "u"))
    e2 = edges.select(F.col("src").alias("w"), F.col("dst").alias("v"))
    cand = (e1.join(e2, "w")
            .filter(F.col("u") != F.col("v"))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).cast("long").alias("n_common"),
                 F.sum(F.expr(f"{_LNK_RA_SCALE} DIV deg"))
                 .cast("long").alias("ra_score")))
    # r14 replan (guide §2.3/§3.2, the _lph_plan pre-filter): cand.u
    # is always a query node, so the anti join needs only edges whose
    # src ∈ q — broadcast-filter the edge list down to the query
    # nodes' out-neighborhoods instead of shuffling it whole.
    pred = cand.join(
        edges.join(F.broadcast(q.select(F.col("u").alias("src"))),
                   "src")
        .select(F.col("src").alias("u"), F.col("dst").alias("v")),
        ["u", "v"], "left_anti")
    return (pred.orderBy(F.desc("ra_score"), "u", "v")
            .limit(_LNK_TOPK)
            .select(F.col("u").alias("part_u"),
                    F.col("v").alias("part_v"),
                    "n_common", "ra_score"))


# Held-out evaluation companion (VERDICT r8 ask #8): the scorer above
# pins the ALGEBRA (RA/common-neighbor arithmetic); this query pins
# the operator's QUALITY the way ivf/pq_vs_exact_eval pinned ANN —
# split the dated edge set at a cutoff, predict from the train graph
# only, and score hits against the genuinely-new edges as exact
# integers under a full oracle.

_LPH_CUTOFF_DAY = 11323  # 2001-01-01 in days-since-epoch: the last ~7
                         # months of orders are held out as test edges
_LPH_QUERIES = 50        # query nodes: highest TRAIN degree, ties low
_LPH_TOPK = 20           # predictions scored per query node


@query(
    "link_prediction_holdout_eval",
    bench=True,
    oracle=f"""
    WITH dedges AS MATERIALIZED (
      SELECT a.l_partkey AS src, b.l_partkey AS dst,
             CAST(min(epoch_us(o_orderdate) // 86400000000) AS BIGINT)
                 AS d
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      JOIN orders ON o_orderkey = a.l_orderkey
      GROUP BY 1, 2),
    train AS MATERIALIZED (
      SELECT src, dst FROM dedges WHERE d < {_LPH_CUTOFF_DAY}),
    testn AS MATERIALIZED (
      SELECT src, dst FROM dedges WHERE d >= {_LPH_CUTOFF_DAY}),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
            FROM train GROUP BY 1),
    q AS (SELECT src AS u FROM deg
          ORDER BY deg DESC, src LIMIT {_LPH_QUERIES}),
    cand AS (
      SELECT e1.dst AS u, e2.dst AS v,
             CAST(count(*) AS BIGINT) AS n_common,
             CAST(sum({_LNK_RA_SCALE} // d.deg) AS BIGINT) AS ra_score
      FROM train e1
      JOIN q ON q.u = e1.dst
      JOIN train e2 ON e1.src = e2.src AND e1.dst <> e2.dst
      JOIN deg d ON d.src = e1.src
      GROUP BY 1, 2),
    pred AS (
      SELECT c.* FROM cand c
      ANTI JOIN train e ON e.src = c.u AND e.dst = c.v),
    topk AS (SELECT u, v FROM (
        SELECT u, v, row_number() OVER (
          PARTITION BY u ORDER BY ra_score DESC, v) AS rn FROM pred)
      WHERE rn <= {_LPH_TOPK}),
    hits AS (
      SELECT t.u, CAST(count(te.src) AS BIGINT) AS n_hits,
             CAST(count(*) AS BIGINT) AS n_preds
      FROM topk t LEFT JOIN testn te ON te.src = t.u AND te.dst = t.v
      GROUP BY 1),
    np AS (SELECT src AS u, CAST(count(*) AS BIGINT) AS n_new
           FROM testn GROUP BY 1)
    SELECT q.u AS part_u,
           CAST(COALESCE(h.n_preds, 0) AS BIGINT) AS n_preds,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(np.n_new, 0) AS BIGINT) AS n_new_partners
    FROM q LEFT JOIN hits h ON h.u = q.u LEFT JOIN np ON np.u = q.u
    ORDER BY part_u
    """,
    doc=f"held-out link-prediction evaluation: the dated co-purchase "
        "edge list (same ONE-scan collect_set build as the graph "
        "family, edge date = earliest co-order day) is split at day "
        f"{_LPH_CUTOFF_DAY} (2001-01-01) into a train graph and the "
        "genuinely-NEW test edges (pairs whose first co-purchase falls "
        f"in the holdout window). For the {_LPH_QUERIES} highest-"
        f"train-degree query parts, the top-{_LPH_TOPK} RA-ranked "
        "non-edges predicted from the TRAIN graph alone are scored "
        "against the test set — hits@k, prediction and new-partner "
        "counts per query node, all exact BIGINTs (RA in the shared "
        "1e12 floor-div units, ties broken on candidate id). This "
        "pins the operator's predictive QUALITY, not just its "
        "algebra: a scoring or split regression changes a hit count "
        "and flips the driver hash. Scale: identical wedge-join "
        "discipline as the scorer (cost bounded by the query set, "
        "never all-pairs). The dated edge list is ONE eager cache, "
        "built exactly once BEFORE any consumer is planned — a "
        "deterministic build under its own AQE context instead of "
        "interleaved with the wedge/scoring stages and their memory "
        "pressure (r10, VERDICT r9 ask #2: 34.2s -> 15.0s at sf1 "
        "while sf0.1 ROSE ~2s, the eager build's fixed price — "
        "opposite signs, so the win is plan-shaped, not host drift). "
        "The train and test splits are lazy filter views over that "
        "cache (r15: a second eager train persist re-materialized "
        "~91% of it; dropping it took sf1 14.69 -> 12.25s, "
        "tools/measure_ab.py tools/ab_specs/lph_build_variants.py). "
        "The edge cache and the 50-row query-set cache are released "
        "after the result materializes (run_scoped)",
    scoped=True,
    # r14: +2 static counts for the query-set pre-filters — the
    # anti-join / test-probe sides embed the cached q twice more,
    # and DeduplicateRelations re-aliases each copy so its deg
    # exchange counts separately here; at runtime q is ONE cached
    # 50-row relation and the embeddings are cache reads. The
    # trade removed the full-train SortMergeJoin LeftAnti.
    exchanges=13,
)
def _lph_plan(spark, sf_dir, cache=lazy_cache):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                 "l_partkey")
    odays = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        (F.unix_micros("o_orderdate") / 86400000000).cast("bigint")
        .alias("d"))
    # dated edge build: the SharedScope lease when one is open
    # (temporal_reachability_copurchase reads the identical relation),
    # else the query's own eager cache
    dedges = leased_copurchase_edges(cache, sf_dir, li, "src", "dst",
                                     attrs=odays)
    # r15 replan (guide §5 "caching is only worth it when recomputing
    # is more expensive than the memory pressure"; VERDICT r14 ask
    # #3 redirected by the r15 sf1 profile): the eager TRAIN persist
    # re-materialized ~91% of the dedges cache — the r15 stage
    # profile puts the two eager builds at ~8-10s of the 12.3s sf1
    # total while the wedge join adds ~1s. train is now a filter
    # VIEW over the cached dedges: each consumer re-applies a
    # vectorized filter to cached columnar batches (sub-second per
    # scan) instead of the query paying a second edge-scale
    # materialization up front. Interleaved A/B (plans/r15/
    # ab_lph_*.json): sf1 14.69 -> 12.25s / 14.74 -> 13.07s
    # (two sessions), sf0.1 10.78 -> 10.40s; results hash-identical
    # (checked at both scales). The a<b half-explode + mirror-union
    # build was also measured (0.906x alone) but does NOT stack with
    # this (union-shaped cache: 2x scan tasks for every consumer) —
    # rejected in favor of the bigger, simpler win.
    train = (dedges.filter(F.col("d") < _LPH_CUTOFF_DAY)
             .select("src", "dst"))
    testn = (dedges.filter(F.col("d") >= _LPH_CUTOFF_DAY)
             .select("src", "dst"))
    deg = train.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # q feeds five consumers below (e1's gate, the three query-keyed
    # pre-filters, the final left joins) — lazy-persist so each one
    # scans 50 cached rows instead of re-running the deg TakeOrdered
    q = cache(deg.orderBy(F.desc("deg"), "src").limit(_LPH_QUERIES)
              .select(F.col("src").alias("u")))
    e1 = (train.join(deg, "src")
          .select(F.col("src").alias("w"), F.col("dst").alias("u"),
                  "deg")
          .join(F.broadcast(q), "u"))
    e2 = train.select(F.col("src").alias("w"), F.col("dst").alias("v"))
    cand = (e1.join(e2, "w")
            .filter(F.col("u") != F.col("v"))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).cast("long").alias("n_common"),
                 F.sum(F.expr(f"{_LNK_RA_SCALE} DIV deg"))
                 .cast("long").alias("ra_score")))
    # r14 replan (guide §2.3 "shuffle fewer bytes" / §3.2 semi-join
    # pre-filter): cand.u is ALWAYS a query node (e1 inner-joins the
    # broadcast q on u), so the anti join, the hit probe and the
    # new-partner counts can only ever match train/test rows whose
    # src is one of the 50 query nodes. Filter those relations to the
    # broadcast query set BEFORE any exchange: the anti join's build
    # side drops from edge-scale (2M rows at sf0.1 — past the
    # broadcast threshold, so it sort-merge-shuffled BOTH sides) to
    # the query nodes' out-neighborhoods, and testn aggregates only
    # rows that can survive their final query-keyed joins. Results
    # identical by construction; oracle unchanged.
    qsrc = F.broadcast(q.select(F.col("u").alias("src")))
    train_q = train.join(qsrc, "src")
    testn_q = testn.join(qsrc, "src")
    pred = cand.join(
        train_q.select(F.col("src").alias("u"),
                       F.col("dst").alias("v")),
        ["u", "v"], "left_anti")
    wq = Window.partitionBy("u").orderBy(F.desc("ra_score"), "v")
    topk = (pred.withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") <= _LPH_TOPK).select("u", "v"))
    hits = (topk.join(
        testn_q.select(F.col("src").alias("u"),
                       F.col("dst").alias("v"),
                       F.lit(1).alias("hit")), ["u", "v"], "left")
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("n_preds"),
             F.sum(F.coalesce(F.col("hit"), F.lit(0)).cast("bigint"))
             .cast("long").alias("n_hits")))
    np_ = (testn_q.groupBy(F.col("src").alias("u"))
           .agg(F.count(F.lit(1)).cast("long").alias("n_new")))
    return (q.join(hits, "u", "left").join(np_, "u", "left")
            .select(F.col("u").alias("part_u"),
                    F.coalesce("n_preds", F.lit(0)).cast("long")
                    .alias("n_preds"),
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                    .alias("n_hits"),
                    F.coalesce("n_new", F.lit(0)).cast("long")
                    .alias("n_new_partners"))
            .orderBy("part_u"))


# ---------------------------------------------------------------------------
# GNN-style feature propagation: K rounds of self-inclusive mean
# aggregation of a node attribute over the co-purchase graph — the
# message-passing primitive behind GraphSAGE-mean / LightGCN feature
# smoothing, and the standard way to precompute graph features for a
# downstream trainer without running a GNN online.

_GNN_ROUNDS = 2


def _gnn_oracle() -> str:
    prelude = """
    WITH edges AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
    f0 AS MATERIALIZED (
      SELECT src AS node,
             CAST(ROUND(p_retailprice * 100) AS BIGINT) AS h
      FROM (SELECT DISTINCT src FROM edges) n
      JOIN part ON p_partkey = n.src)"""
    steps = []
    for i in range(1, _GNN_ROUNDS + 1):
        steps.append(f"""
    f{i} AS MATERIALIZED (
      SELECT c.node,
             CAST((c.h + sum(fn.h)) // (1 + count(*)) AS BIGINT) AS h
      FROM edges e
      JOIN f{i - 1} c ON c.node = e.src
      JOIN f{i - 1} fn ON fn.node = e.dst
      GROUP BY c.node, c.h)""")
    cols = ", ".join(f"f{i}.h AS feat{i}"
                     for i in range(_GNN_ROUNDS + 1))
    joins = " ".join(f"JOIN f{i} ON f{i}.node = f0.node"
                     for i in range(1, _GNN_ROUNDS + 1))
    return (prelude + "," + ",".join(steps) + f"""
    SELECT f0.node AS part_key, {cols}
    FROM f0 {joins} ORDER BY part_key
    """)


@query(
    "gnn_feature_propagation",
    oracle=_gnn_oracle(),
    doc=f"{_GNN_ROUNDS}-round GraphSAGE-mean feature propagation over "
        "the part co-purchase graph: feat0 is the part's retail price "
        "in exact cents, each round replaces every node's value with "
        "the truncated mean of itself and its neighbors — (h + sum "
        "neighbor h) DIV (1 + deg), all BIGINT, so the smoothed "
        "features are bit-identical on any engine or partition "
        "layout. Per round: one edges-to-features join + one "
        "groupBy(node) — the PageRank cost model (features stay "
        "node-sized, only edges are big, everything hash-partitions "
        "on node); the edge list is persisted once (functions/"
        "graph.py one-scan build) and reused by every round. The "
        "output carries every round's value per node so the driver "
        "hash pins each propagation step, not just the last. All "
        "caches (edge list + per-round feature frames) are released "
        "after the result materializes (run_scoped, VERDICT r9 "
        "ask #3)",
    scoped=True,
    # r16: 10 -> 8 — each round joins the edge list once (one
    # superstep) and its own h back on the node-sized side
    exchanges=8,
)
def _gnn_plan(spark, sf_dir, cache=lazy_cache):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                 "l_partkey")
    part = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("bigint")
        .alias("h"))
    edges = leased_copurchase_edges(cache, sf_dir, li, "src", "dst")
    nodes = edges.select(F.col("src").alias("node")).distinct()
    # each feature frame is read by the next round (its superstep
    # and its own-value join) and by the output join, so it is held
    feats = [cache(nodes.join(part, nodes["node"] == part["p_partkey"])
                   .select("node", "h"))]
    for r in range(_GNN_ROUNDS):
        cur = feats[-1]
        nxt = (
            GR.superstep(cur, edges, F.sum("h").alias("s"),
                         F.count(F.lit(1)).alias("c"))
            .join(cur, "node")
            .select("node",
                    F.expr("(h + s) DIV (1 + c)").cast("bigint")
                    .alias("h")))
        feats.append(cache(nxt) if r < _GNN_ROUNDS - 1 else nxt)
    out = feats[0].select("node", F.col("h").alias("feat0"))
    for i in range(1, _GNN_ROUNDS + 1):
        out = out.join(
            feats[i].select("node", F.col("h").alias(f"feat{i}")),
            "node")
    return (out.select(F.col("node").alias("part_key"),
                       *[f"feat{i}" for i in range(_GNN_ROUNDS + 1)])
            .orderBy("part_key"))


# ---------------------------------------------------------------------------
# Incremental view maintenance for a JOIN (the companion to
# incremental_agg_maintenance, which maintains an aggregate): the
# delta of A |><| B under inserts dA, dB is dA |><| B_new  U
# A_old |><| dB — two delta-keyed joins, never the A_old |><| B_old
# term that dominates a recompute. The oracle recomputes the view
# from ALL facts, so the driver's hash equality IS the proof that
# the join-delta algebra and the recompute agree.

_JIVM_CUT = "1997-06-01"


@query(
    "incremental_join_maintenance",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                AS BIGINT) AS revenue_cp
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY 1 ORDER BY 1
    """,
    doc="incremental JOIN maintenance: the per-priority revenue view "
        "over orders |><| lineitem is materialized from the pre-"
        f"cutoff ({_JIVM_CUT}) facts, then refreshed with the two-"
        "term join delta dA |><| B_new U A_old |><| dB (new orders "
        "against ALL lines + old orders against new lines — the "
        "asymmetric form that never recomputes old |><| old), "
        "aggregated and merged into the view as additive partials "
        "(full-outer on the view key, nulls as zeros). The oracle is "
        "the naive full join, so hash equality proves the delta "
        "algebra. At 100 TB each delta term joins a day-sized side "
        "against one bucketed probe of the big side (co-located if "
        "both are bucketed on the key, sources/bucketed.py) while "
        "the view merge costs key-cardinality rows — the shape that "
        "keeps a 100 TB materialized join fresh without a nightly "
        "recompute; revenue in exact cent-percent BIGINTs",
    exchanges=3,
)
def incremental_join_maintenance(spark, sf_dir):
    cut = F.lit(_JIVM_CUT).cast("timestamp")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate",
        (F.round(F.col("l_extendedprice") * 100).cast("bigint")
         * (100 - F.round(F.col("l_discount") * 100).cast("bigint")))
        .alias("rev_cp"))
    a_old = orders.filter(F.col("o_orderdate") < cut)
    d_a = orders.filter(F.col("o_orderdate") >= cut)
    b_old = li.filter(F.col("l_shipdate") < cut)
    d_b = li.filter(F.col("l_shipdate") >= cut)

    def agg(joined):
        return joined.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum("rev_cp").cast("long").alias("revenue_cp"))

    # the materialized view (in production: read back, not recomputed)
    v_old = agg(a_old.join(b_old,
                           a_old["o_orderkey"] == b_old["l_orderkey"]))
    # two-term join delta: dA against ALL of B, old A against dB
    d_rows = (
        d_a.join(li, d_a["o_orderkey"] == li["l_orderkey"])
        .select("o_orderpriority", "rev_cp")
        .unionAll(
            a_old.join(d_b, a_old["o_orderkey"] == d_b["l_orderkey"])
            .select("o_orderpriority", "rev_cp")))
    d_agg = agg(d_rows)
    return (v_old.withColumnsRenamed(
                {"n_lines": "n0", "revenue_cp": "r0"})
            .join(d_agg.withColumnsRenamed(
                {"n_lines": "n1", "revenue_cp": "r1"}),
                "o_orderpriority", "full_outer")
            .select(
                "o_orderpriority",
                (F.coalesce("n0", F.lit(0).cast("bigint"))
                 + F.coalesce("n1", F.lit(0).cast("bigint")))
                .alias("n_lines"),
                (F.coalesce("r0", F.lit(0).cast("bigint"))
                 + F.coalesce("r1", F.lit(0).cast("bigint")))
                .alias("revenue_cp"))
            .orderBy("o_orderpriority"))


# ---------------------------------------------------------------------------
# Exact stratified split: per-stratum deterministic rank -> EXACT
# 80/10/10 proportions within every stratum, where the hash split
# (dataset_split_assign) only hits them in expectation. The property
# an eval set needs when strata are small (a 200-doc language gets
# exactly 20 val docs, not 14-or-27).


@query(
    "stratified_split_exact",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY {_h60_sql('CAST(doc_id AS VARCHAR)')}, doc_id)
               AS BIGINT) AS r,
             CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
      FROM documents)
    SELECT lang,
           CASE WHEN r * 10 <= 8 * n THEN 'train'
                WHEN r * 10 <= 9 * n THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS sum_doc_ids
    FROM ranked GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="exact stratified train/val/test split: documents ranked "
        "within each language by their 60-bit md5 (a deterministic "
        "shuffle), then the first 80% of ranks -> train, next 10% -> "
        "val, rest -> test via integer cross-multiplication "
        "(r*10 <= 8*n), so every stratum's proportions are exact "
        "where dataset_split_assign's hash split is only exact in "
        "expectation. Membership is pinned by the per-(lang, split) "
        "doc-id sum. The rank window partitions by stratum — no "
        "global sort; a skewed stratum is one sorted partition, the "
        "standard per-stratum cost, and the hash-ordered rank means "
        "the split is stable under any physical row order",
    exchanges=2,
)
def stratified_split_exact(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        h60(F.col("doc_id").cast("string")), "doc_id")
    ranked = docs.select(
        "doc_id", "lang",
        F.row_number().over(w).cast("bigint").alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("lang"))
        .cast("bigint").alias("n"))
    split = (F.when(F.col("r") * 10 <= 8 * F.col("n"), "train")
             .when(F.col("r") * 10 <= 9 * F.col("n"), "val")
             .otherwise("test"))
    return (ranked.groupBy("lang", split.alias("split"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("doc_id").cast("long").alias("sum_doc_ids"))
            .orderBy("lang", "split"))
