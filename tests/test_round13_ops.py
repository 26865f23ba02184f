"""Round-13 operator tests.

- the doc_tokens SharedScope lease (VERDICT r12 ask #3): scoped and
  unscoped values identical for all seven text-family members, ONE
  tokenized relation per scope, release at exit; unscoped the lease
  helper returns None so consumers keep their inline tokenization
  (the mechanism that keeps unscoped plans bit-identical — routing
  the unscoped path through a (doc_id, t) projection would trip
  Spark's InferFiltersFromGenerate into a plan that re-evaluates the
  regex split per row).
- unscoped plan bit-identity, pinned durably: the refactored
  unscoped spark_fns must produce the same optimized plan (modulo
  expression ids) as inline twins built directly in this test from
  the pre-lease expressions.
- text_family_scoped_audit: the registered scoped-path query's
  summary must equal the standalone members' summaries computed with
  no scope open.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from big_datatrader_spark.queries import (SharedScope, doc_tokens_key,
                                          leased_doc_tokens,
                                          load_registry)
from big_datatrader_spark.session import scan_floor

REG = load_registry()

# AFTER load_registry: scoped_ops composes member oracles at import
# time and raises if imported before the member modules register
from big_datatrader_spark.queries.scoped_ops import _TFA_MEMBERS  # noqa: E402

TEXT_FAMILY = ["text_token_stats", "token_frequencies",
               "stem_token_frequencies", "tf_idf_top_terms",
               "doc_perplexity_bigram", "kneser_ney_bigram_ppl",
               "doc_perplexity_trigram_backoff"]


def _norm_plan(df) -> str:
    s = df._jdf.queryExecution().optimizedPlan().toString()
    s = re.sub(r"#\d+", "#", s)           # expression ids
    return re.sub(r"_\d+#", "_#", s)      # session-global lambda ids


def test_leased_doc_tokens_is_none_without_scope(spark):
    assert leased_doc_tokens(spark, "/nonexistent") is None


def test_doc_tokens_lease_values_identical_and_built_once(spark,
                                                          sf0001):
    unscoped = {n: sorted(map(tuple,
                              REG[n].spark_fn(spark, sf0001).collect()))
                for n in TEXT_FAMILY}
    spark.catalog.clearCache()
    with SharedScope() as scope:
        scoped = {n: sorted(map(tuple,
                                REG[n].spark_fn(spark, sf0001)
                                .collect()))
                  for n in TEXT_FAMILY}
        # exactly ONE shared relation serves the whole family
        assert sorted(scope._cached) == [doc_tokens_key(sf0001)]
    assert scoped == unscoped
    assert scope._cached == {}
    spark.catalog.clearCache()


def test_unscoped_plans_bit_identical_to_inline_twins(spark, sf0001):
    """The refactor contract: with no scope open, the leased
    consumers' optimized plans equal the pre-lease inline forms,
    rebuilt here verbatim from documents.text."""
    from big_datatrader_spark.functions import text as TX
    from big_datatrader_spark.sources.parquet_source import table

    docs = table(spark, sf0001, "documents")

    # token_frequencies' source rows (the _tok_rows shape)
    inline = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok"))
    got = (REG["token_frequencies"].spark_fn(spark, sf0001))
    twin = (inline.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("n_occurrences"),
                 F.countDistinct("doc_id").alias("n_docs"))
            .orderBy(F.desc("n_occurrences"), "tok").limit(50))
    assert _norm_plan(got) == _norm_plan(twin)

    # text_token_stats: inline tokens expression repeated per column
    # (r15: the registered form routes the scan through
    # scan_floor — the twin does the same, so this pin keeps
    # asserting lease-vs-inline identity, not the scan floor)
    toks = TX.tokens(F.col("text"))
    twin2 = scan_floor(docs, "doc_id").select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long")
         .alias("n_distinct_tokens"),
        F.round(TX.avg_token_len(toks), 6).alias("avg_token_len"),
        F.round(F.try_divide(
            TX.stopword_hits(toks, "en").cast("double"),
            F.size(toks).cast("double")), 6).alias("stopword_ratio"))
    got2 = REG["text_token_stats"].spark_fn(spark, sf0001)
    assert _norm_plan(got2) == _norm_plan(twin2)


def test_scoped_text_audit_matches_standalone_summaries(spark, sf0001):
    """text_family_scoped_audit's rows must equal the member
    summaries computed standalone (no scope open), using the same
    summary expressions."""
    audit = sorted(map(tuple, REG["text_family_scoped_audit"]
                       .spark_fn(spark, sf0001).collect()))
    standalone = []
    for name, key, val in _TFA_MEMBERS:
        res = REG[name].spark_fn(spark, sf0001)
        row = (res.agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                       F.sum(F.expr(key)).cast("long").alias("key_sum"),
                       F.sum(F.expr(val)).cast("long").alias("val_sum"))
               .collect()[0])
        standalone.append((name, row.n_rows, row.key_sum, row.val_sum))
    assert audit == sorted(standalone)
    spark.catalog.clearCache()


def test_url_canonicalization_is_idempotent(spark, sf0001):
    """canon(canon(url)) == canon(url): feeding every canonical URL
    back through the parser as url_raw must be a fixpoint — the
    property that makes incremental re-crawls safe (already-canonical
    URLs never churn)."""
    from big_datatrader_spark.queries.corpus_ops import (
        _url_canon_df, canonicalize_urls)

    c = _url_canon_df(spark, sf0001).select(
        "doc_id", F.col("url_canon").alias("url_raw"),
        F.col("url_canon").alias("expected"),
        F.col("registered_domain").alias("dom_expected"))
    again = canonicalize_urls(c)
    bad = again.filter(
        (F.col("url_canon") != F.col("expected"))
        | (F.col("registered_domain") != F.col("dom_expected")))
    assert bad.count() == 0, bad.limit(5).collect()


def test_suffix_window_pairs_are_sound(spark, sf0001):
    """Every reported pair's max_shared_tokens must not exceed the
    true longest common token substring (brute force over the two
    docs), and must be >= the window length by construction. The
    df-cap can only SHORTEN a reported run (windows shared by > CAP
    docs are excluded), never lengthen it."""
    from big_datatrader_spark.queries.corpus_ops import (_SWP_K,
                                                         _SWP_W)
    from big_datatrader_spark.sources.parquet_source import table

    REG13 = REG  # registry loaded at module import
    rows = (REG13["suffix_window_pair_dedup"]
            .spark_fn(spark, sf0001).collect())
    assert rows, "expected shared-substring pairs in the corpus"
    wanted = {r.doc_a for r in rows} | {r.doc_b for r in rows}
    toks = {r.doc_id: r.text.strip().lower().split()
            for r in table(spark, sf0001, "documents")
            .filter(F.col("doc_id").isin(list(wanted)))
            .select("doc_id", "text").collect()}

    def lcs_tokens(a, b):
        # O(len(a)*len(b)) DP on token sequences — fine at sf0.001
        best, prev = 0, [0] * (len(b) + 1)
        for i in range(1, len(a) + 1):
            cur = [0] * (len(b) + 1)
            for j in range(1, len(b) + 1):
                if a[i - 1] == b[j - 1]:
                    cur[j] = prev[j - 1] + 1
                    best = max(best, cur[j])
            prev = cur
        return best

    exact_hits = 0
    for r in rows:
        true_lcs = lcs_tokens(toks[r.doc_a], toks[r.doc_b])
        assert r.max_shared_tokens >= _SWP_W
        assert r.n_shared_windows >= _SWP_K
        assert r.max_shared_tokens <= true_lcs, (
            f"pair ({r.doc_a},{r.doc_b}) claims "
            f"{r.max_shared_tokens} shared tokens but true LCS is "
            f"{true_lcs}")
        if r.max_shared_tokens == true_lcs:
            exact_hits += 1
    # the cap rarely bites at this scale: most pairs' reported run
    # IS the true longest common substring
    assert exact_hits >= len(rows) // 2, (exact_hits, len(rows))


def test_url_canonicalizer_cross_engine_on_tricky_urls(spark):
    """Differential test beyond the synthesized corpus: handcrafted
    well-formed https URLs (empty query, utm-only query, non-default
    port kept, :443 stripped, www-only host kept, repeated params,
    case-sensitive utm prefix, second '?' swallowed) must
    canonicalize IDENTICALLY in Spark and DuckDB — the two dialect
    spellings of the same operator cannot be allowed to drift on
    inputs the corpus never produces."""
    import duckdb

    from big_datatrader_spark.queries.corpus_ops import (
        _URL_CANON_SQL, canonicalize_urls)

    urls = [
        "https://www.Example.COM:443/a/1?b=2&a=1&utm_x=9#frag",
        "https://a.b.c/p",
        "https://x.y/p?",
        "https://x.y/p?utm_a=1",
        "https://x.y:8080/p?a=1",
        "https://www.com/p",
        "https://www.x.y:443/p#f",
        "https://x.y/p?b=1&a=2&a=1",
        "https://x.y/p?UTM_a=1&b=2",
        "https://x.y/p?a=1?b=2",
        # host-only URL (no path): OUTSIDE the canonicalizer's
        # documented precondition (ADVICE r13 #1) — the query string
        # stays embedded in the host. Pinned so the degenerate
        # semantics at least cannot DRIFT between the engines.
        "https://x.y?a=1",
    ]
    rows = [(i, u) for i, u in enumerate(urls)]
    got = {r.doc_id: (r.url_canon, r.registered_domain)
           for r in canonicalize_urls(
               spark.createDataFrame(rows, "doc_id long, url_raw "
                                     "string")).collect()}
    values = ", ".join(f"({i}, '{u}')" for i, u in rows)
    q = (f"WITH raw(doc_id, url_raw) AS (VALUES {values}),"
         f"{_URL_CANON_SQL.lstrip()} "
         "SELECT doc_id, url_canon, registered_domain FROM canon")
    want = {d: (c, dom) for d, c, dom in
            duckdb.connect().execute(q).fetchall()}
    assert got == want
    # spot-pin the semantics themselves, not just engine agreement
    assert got[0] == ("https://example.com/a/1?a=1&b=2", "example.com")
    assert got[4] == ("https://x.y:8080/p?a=1", "x.y")
    assert got[5] == ("https://www.com/p", "www.com")
    assert got[6] == ("https://x.y/p", "x.y")
    # the documented host-only degenerate form: lowercased wholesale,
    # query kept in host, utm_* NOT stripped, params NOT sorted
    assert got[10] == ("https://x.y?a=1", "x.y?a=1")


def _swp_reference(texts, win, cap, k):
    """Independent pure-Python restatement of the suffix-window
    pair-dedup spec: windows at every position, df-cap on distinct
    docs per window, per-pair distinct matched a-positions, and the
    longest constant-delta run of consecutive positions."""
    from collections import defaultdict

    grams = defaultdict(list)
    for d, t in texts.items():
        for i in range(len(t) - win + 1):
            grams[" ".join(t[i:i + win])].append((d, i + 1))
    matches = defaultdict(set)
    for occ in grams.values():
        docs = {d for d, _ in occ}
        if not (2 <= len(docs) <= cap):
            continue
        for da, pa in occ:
            for db, pb in occ:
                if da < db:
                    matches[(da, db)].add((pa, pb - pa))
    out = {}
    for pair, s in matches.items():
        n_shared = len({pa for pa, _ in s})
        if n_shared < k:
            continue
        by_delta = defaultdict(list)
        for pa, delta in s:
            by_delta[delta].append(pa)
        best = 0
        for pas in by_delta.values():
            pas.sort()
            run = longest = 1
            for x, y in zip(pas, pas[1:]):
                run = run + 1 if y == x + 1 else 1
                longest = max(longest, run)
            best = max(best, longest)
        out[pair] = (n_shared, best + win - 1)
    return out


def test_suffix_window_core_matches_pure_python_reference(spark):
    """Golden-reference differential test on dense random corpora
    (2-symbol alphabet, window 3, cap 4, threshold 2 — parameters
    chosen so matches, cap exclusions, and multi-delta runs all occur
    naturally): the Spark island pipeline must equal an independent
    pure-Python restatement of the spec, pair for pair."""
    import random

    from big_datatrader_spark.queries.corpus_ops import _swp_core

    rng = random.Random(1307)
    for trial in range(4):
        texts = {d: [rng.choice("ab") for _ in range(rng.randint(0, 22))]
                 for d in range(rng.randint(3, 7))}
        # plant one long shared run so max_shared_tokens > window
        if len(texts) >= 2:
            planted = [rng.choice("ab") for _ in range(6)]
            texts[0] = planted + texts[0]
            texts[1] = texts[1] + planted
        rows = [(d, " ".join(t)) for d, t in texts.items()]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {(r.doc_a, r.doc_b): (r.n_shared_windows,
                                    r.max_shared_tokens)
               for r in _swp_core(docs, win=3, cap=4, k=2).collect()}
        want = _swp_reference(texts, win=3, cap=4, k=2)
        assert got == want, (trial, got, want)
