"""Distribution-strategy operators: the join patterns that decide
whether a plan survives 100 TB.

Three first-class scale patterns, each expressed so the *result* is
bit-identical to the naive formulation (which is exactly what the
DuckDB oracle states):

- ``runtime_filter_semi_join`` — sideways information passing: build a
  compact bucket bitmap from the filtered dimension and semi-join the
  fact side against it BEFORE the real join, so the fact shuffle only
  carries rows that can possibly match. This is the hand-rolled form of
  Spark's InjectRuntimeFilter / bloom pre-filtering (the bloom SQL
  functions are not public in this build), with a deliberately exact
  final join so the pre-filter can only remove non-matching rows.
- ``skew_salted_join`` — salt-replicated join for power-law keys: the
  small side is replicated across ``_SALT_N`` salt values, the fact
  side picks a deterministic salt per row, and the join key becomes
  (key, salt) so one hot key's rows spread over ``_SALT_N`` reducers.
  Complements ``salted_hot_key_agg`` (corpus_ops.py), which salts an
  aggregation; this salts the JOIN itself.
- ``curriculum_interleave`` — deterministic curriculum ordering for
  training-data pipelines: rank documents per language by a quality
  proxy, then interleave languages round-robin via a closed-form slot
  number — no global sort, no single-partition window over the corpus.

Reference tie-in: the reference engine repartitions per query and has
no join strategies at all (SURVEY.md §2.11, main.py:366-486); these
are the engine-capability generalizations a Spark deployment needs.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.dedup import h60
from ..sources.parquet_source import table
from . import query
from .training_ops import _h60_sql

_RF_BUCKETS = 4096   # runtime-filter bitmap width
_SALT_N = 8          # join-salt fan-out


# ---------------------------------------------------------------------------
# Runtime-filter (sideways information passing) semi-join

@query(
    "runtime_filter_semi_join",
    oracle="""
    SELECT p_partkey,
           CAST(count(*) AS BIGINT) AS n_lines,
           ROUND(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
           ROUND(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2)
               AS revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#13' AND p_size <= 10
    GROUP BY p_partkey ORDER BY p_partkey
    """,
    doc="runtime-filter pre-join: the filtered dim is reduced to a "
        f"{_RF_BUCKETS}-bucket hash bitmap (a {_RF_BUCKETS}-row distinct, "
        "KBs regardless of dim size), broadcast, and semi-joined against "
        "the fact side before the real join — so at 100 TB the fact "
        "shuffle carries only rows whose key hashes into an occupied "
        "bucket. False positives survive the pre-filter but die in the "
        "exact join, so the result equals the plain join (the oracle). "
        "Same mechanism as Catalyst's InjectRuntimeFilter, usable when "
        "the dim is too big to broadcast whole but its key bitmap is not",
    # bucket distinct, group agg, sort
    exchanges=3,
)
def runtime_filter_semi_join(spark, sf_dir):
    dim = (
        table(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#13") & (F.col("p_size") <= 10))
        .select("p_partkey")
    )
    # Compact runtime filter: the set of occupied hash buckets. Bounded
    # at _RF_BUCKETS rows however large the dim is.
    buckets = dim.select(
        F.pmod(F.xxhash64("p_partkey"), F.lit(_RF_BUCKETS)).alias("rf_b")
    ).distinct()
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    pre = li.join(
        F.broadcast(buckets),
        F.pmod(F.xxhash64("l_partkey"), F.lit(_RF_BUCKETS)) == F.col("rf_b"),
        "leftsemi")
    return (
        pre.join(F.broadcast(dim), pre.l_partkey == dim.p_partkey)
        .groupBy("p_partkey")
        .agg(F.count(F.lit(1)).alias("n_lines"),
             F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
             F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# Salt-replicated skew join

@query(
    "skew_salted_join",
    oracle="""
    WITH spend AS (
      SELECT user_id,
             sum(CAST(ROUND(value * 100) AS BIGINT)) AS spend_cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1)
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           ROUND(CAST(sum(s.spend_cents) AS DOUBLE) / 100.0, 6)
               AS sum_user_spend
    FROM events e JOIN spend s ON e.user_id = s.user_id
    GROUP BY 1 ORDER BY 1
    """,
    doc=f"salt-replicated join: the per-user spend dim is replicated "
        f"across {_SALT_N} salt values and the fact side picks "
        "pmod(xxhash64(event_id), salt_n), so the join key (user_id, "
        "salt) spreads one hot user's rows over all reducers instead "
        "of funnelling them into a single task — the replicate-small/"
        "split-big half of AQE's skew-join, written explicitly for "
        "when skew is known up front. Per-row values are integer "
        "cents, so partial order can't move the total and the result "
        "is bit-identical to the plain join (the oracle)",
    exchanges=3,
)
def skew_salted_join(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    spend = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint"))
             .alias("spend_cents"))
    )
    # Replicate the small side once per salt value.
    spend_rep = spend.select(
        "user_id", "spend_cents",
        F.explode(F.sequence(F.lit(0), F.lit(_SALT_N - 1))).alias("salt"))
    fact = ev.select(
        "user_id", "event_type",
        F.pmod(F.xxhash64("event_id"), F.lit(_SALT_N)).alias("salt"))
    return (
        fact.join(spend_rep, ["user_id", "salt"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("spend_cents").cast("double") / 100.0, 6)
             .alias("sum_user_spend"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Curriculum interleave (training-data ordering)

_CURR_TOP = 300


@query(
    "curriculum_interleave",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang, n_chars,
             CAST(row_number() OVER (
               PARTITION BY lang ORDER BY n_chars DESC, doc_id)
               AS BIGINT) AS lang_rank
      FROM documents),
    langs AS (
      SELECT lang,
             CAST(row_number() OVER (ORDER BY lang) AS BIGINT) AS lang_idx,
             CAST(count(*) OVER () AS BIGINT) AS n_langs
      FROM (SELECT DISTINCT lang FROM documents))
    SELECT (r.lang_rank - 1) * l.n_langs + l.lang_idx - 1 AS slot,
           r.doc_id, r.lang, r.lang_rank, r.n_chars
    FROM ranked r JOIN langs l ON r.lang = l.lang
    ORDER BY slot LIMIT {_CURR_TOP}
    """,
    doc="deterministic curriculum ordering: documents ranked per "
        "language by a quality proxy (longer first), languages "
        "interleaved round-robin via the closed-form slot "
        "(rank-1)*n_langs + lang_idx — no global sort and no "
        "single-partition window over the corpus; the only global "
        "window runs on the languages-sized distinct (rows = #langs), "
        "and the top-k is TakeOrderedAndProject. Slots are unique "
        "(rank, lang_idx) codes; a language that runs out of documents "
        "leaves gaps, which downstream consumers treat as skipped "
        "turns — the standard data-mixing curriculum shape",
    # per-lang rank window + the langs-sized distinct/window/
    # broadcast chain (rows = #langs) + TakeOrdered; all key- or
    # langs-sized
    exchanges=3,
)
def curriculum_interleave(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    ranked = docs.withColumn(
        "lang_rank",
        F.row_number().over(
            Window.partitionBy("lang")
            .orderBy(F.desc("n_chars"), "doc_id")).cast("bigint"))
    # languages-sized (bounded) global window: rows = #distinct langs
    langs = (
        docs.select("lang").distinct()
        .select(
            "lang",
            F.row_number().over(Window.orderBy("lang"))
            .cast("bigint").alias("lang_idx"),
            F.count(F.lit(1)).over(
                Window.partitionBy()).cast("bigint").alias("n_langs"))
    )
    return (
        ranked.join(F.broadcast(langs), "lang")
        .select(
            ((F.col("lang_rank") - 1) * F.col("n_langs")
             + F.col("lang_idx") - 1).alias("slot"),
            "doc_id", "lang", "lang_rank", "n_chars")
        .orderBy("slot")
        .limit(_CURR_TOP)
    )


# ---------------------------------------------------------------------------
# Universe sampling: sample the JOIN KEY's hash universe, not rows.
# Sampling each table independently at p keeps only ~p^2 of join
# output and biases every per-entity statistic; hashing the shared
# key keeps the sample CLOSED under joins — a sampled customer
# arrives with its complete order and lineitem history. BlinkDB
# (Agarwal et al., EuroSys 2013) and Quickr (Kandula et al., SIGMOD
# 2016) call this universe/distinct sampling; it is the only sampling
# strategy that survives multi-table pipelines.

_UNI_MOD = 100   # hash buckets
_UNI_PCT = 10    # keep buckets [0, 10) -> 10% of the key universe


def _uni_sql(key: str) -> str:
    return (f"{_h60_sql(f'CAST({key} AS VARCHAR)')}"
            f" % {_UNI_MOD} < {_UNI_PCT}")


@query(
    "universe_sample_join",
    oracle=f"""
    WITH c AS (SELECT c_custkey, c_mktsegment FROM customer
               WHERE {_uni_sql('c_custkey')}),
    o AS (SELECT o_orderkey, o_custkey FROM orders
          WHERE {_uni_sql('o_custkey')}),
    l AS (SELECT l_orderkey,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
                     AS rev_cp
          FROM lineitem)
    SELECT c_mktsegment,
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(rev_cp) AS BIGINT) AS revenue_cp,
           CAST(sum(rev_cp) * {_UNI_MOD // _UNI_PCT} AS BIGINT)
               AS est_total_revenue_cp
    FROM c JOIN o ON o_custkey = c_custkey
    JOIN l ON l_orderkey = o_orderkey
    GROUP BY 1 ORDER BY 1
    """,
    doc=f"universe sampling closed under joins: keep the "
        f"{_UNI_PCT}% of CUSTOMERS whose 60-bit md5 key-hash lands in "
        f"the low buckets, then take their COMPLETE order/lineitem "
        "history. The same hash predicate applies independently to "
        "customer.c_custkey and orders.o_custkey — a scan-local "
        "filter on each table, NO join needed to decide membership — "
        "so at 100 TB every fact scan drops to ~10% before the first "
        "exchange, and per-customer statistics on the sample are "
        "unbiased (independent row sampling at 10% would keep ~1% of "
        "customer-order pairs and break every per-entity metric). "
        "Lineitem carries no custkey, so it joins the sampled orders; "
        "revenue in exact cent-percent BIGINT units with the 10x "
        "universe scale-up as a second exact column",
    exchanges=3,
)
def universe_sample_join(spark, sf_dir):
    keep = lambda c: (h60(c.cast("string")) % _UNI_MOD) < _UNI_PCT
    cust = (table(spark, sf_dir, "customer")
            .select("c_custkey", "c_mktsegment")
            .filter(keep(F.col("c_custkey"))))
    ords = (table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey")
            .filter(keep(F.col("o_custkey"))))
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.round(F.col("l_extendedprice") * 100).cast("bigint")
         * (100 - F.round(F.col("l_discount") * 100).cast("bigint")))
        .alias("rev_cp"))
    joined = (cust.join(ords, cust["c_custkey"] == ords["o_custkey"])
              .join(li, F.col("l_orderkey") == F.col("o_orderkey")))
    return (joined.groupBy("c_mktsegment")
            .agg(F.countDistinct("c_custkey").cast("long")
                 .alias("n_customers"),
                 F.countDistinct("o_orderkey").cast("long")
                 .alias("n_orders"),
                 F.count(F.lit(1)).cast("long").alias("n_lines"),
                 F.sum("rev_cp").cast("long").alias("revenue_cp"),
                 (F.sum("rev_cp") * (_UNI_MOD // _UNI_PCT))
                 .cast("long").alias("est_total_revenue_cp"))
            .orderBy("c_mktsegment"))
