"""Text-analysis column builders for the documents table (north-star
LLM-data operators; SURVEY.md §7.2 step 5).

Everything here is built from JVM-side ``pyspark.sql.functions`` —
string ops, higher-order array functions — so the hot path stays inside
whole-stage codegen; there are no Python UDFs in this module. At 100 TB
that is the difference between a scan-speed pipeline and a
serialize-to-Python bottleneck.

Tokenization convention (shared with every oracle): tokens are the
``\\s+`` split of ``trim(text)``, lowercased; empty text -> empty array.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Tiny per-language stopword inventories for the n-gram/stopword
# language-ID heuristic. Order matters: ties resolve in LANGS order.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in"],
    "es": ["el", "la", "de", "y", "en", "los"],
    "fr": ["le", "la", "de", "et", "les", "des"],
    "de": ["der", "die", "das", "und", "ein", "zu"],
    "zh": ["的", "是", "在", "了", "我", "有"],
}
LANGS = list(STOPWORDS)


def tokens(text: Column) -> Column:
    """Lowercased whitespace tokens; empty/blank text -> empty array.

    Lowercases the whole string BEFORE splitting (equivalent — case
    mapping never produces whitespace) so no per-token lambda is needed:
    higher-order-function bodies run interpreted and measurably drag
    tokenization-heavy pipelines.
    """
    t = F.trim(F.lower(text))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+"))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Pre-tokenizer-style count: letter runs, digit runs, and single
    punctuation marks each count as one token (BPE upper bound)."""
    return F.size(F.regexp_extract_all(
        text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


def stopword_hits(toks: Column, lang: str) -> Column:
    """Number of tokens that are stopwords of ``lang``."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))


def lang_scores(toks: Column) -> dict[str, Column]:
    return {lang: stopword_hits(toks, lang) for lang in LANGS}


def predicted_lang(toks: Column) -> Column:
    """argmax of stopword hits, ties to the earlier lang in LANGS;
    'und' when no stopword of any language occurs."""
    scores = lang_scores(toks)
    best = F.greatest(*[scores[l] for l in LANGS])
    expr = F.lit("und")
    # build the CASE back-to-front so earlier langs win ties
    for lang in reversed(LANGS):
        expr = F.when((scores[lang] == best) & (best > 0),
                      F.lit(lang)).otherwise(expr)
    return expr


def avg_token_len(toks: Column) -> Column:
    total = F.aggregate(toks, F.lit(0).cast("long"),
                        lambda acc, t: acc + F.length(t))
    return F.try_divide(total.cast("double"), F.size(toks).cast("double"))


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic: length component +
    stopword-density component (a proxy for 'natural language', the
    standard cheap pre-filter in LLM data pipelines)."""
    toks = tokens(text)
    n_chars = F.length(text).cast("double")
    stop_ratio = F.try_divide(
        stopword_hits(toks, "en").cast("double"),
        F.size(toks).cast("double"))
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    stop_score = F.least(F.coalesce(stop_ratio, F.lit(0.0)) * 5.0,
                         F.lit(1.0))
    return len_score * 0.5 + stop_score * 0.5


def fingerprint(text: Column) -> Column:
    """Canonical-text content fingerprint (md5 of lower+trim) — the
    exact-dedup key."""
    return F.md5(F.lower(F.trim(text)))
