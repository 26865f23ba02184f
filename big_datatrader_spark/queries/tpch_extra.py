"""The remaining TPC-H query shapes (Q2, Q8, Q9, Q11, Q12, Q20, Q21),
adapted to the driver's star schema.

The testdata has no ``partsupp`` table and lineitem lacks
commit/receipt dates and shipmode, so these are *shape* ports: each
keeps the defining relational structure of its TPC-H counterpart
(correlated min subquery, nested aggregation, EXISTS/NOT EXISTS
self-join, scalar-subquery HAVING, two-class conditional aggregation,
8-way snowflake with share-of-total) re-targeted at the columns that
exist. Where TPC-H reads ``partsupp`` we derive an equivalent
"supply" relation ``(l_partkey, l_suppkey) -> min unit price / total
qty`` from lineitem — same cardinality structure, same join pattern.

Scale stance (SURVEY.md §7.4): correlated subqueries are decorrelated
by hand into window-min / broadcast-scalar / groupBy-flag joins so the
physical plan is one pass over the fact table plus broadcast dims —
no O(n^2) re-scan per outer row. The DuckDB oracles state the same
query relationally.

Reference tie-in: the reference has no joins at all (SURVEY.md §2.3);
this module is the engine-capability layer generalizing its
whole-table scalar aggregates (main.py:380-385) to the full snowflake.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..operators.exact import idiv, ratio_round6
from ..sources.parquet_source import table
from . import query

_R = 6


def _supply(spark, sf_dir):
    """partsupp surrogate: one row per (part, supplier) that actually
    traded, with min unit price and total quantity."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_partkey", "l_suppkey",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("uc"),
            "l_quantity")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("uc").alias("unit_cost"),
             F.sum("l_quantity").alias("qty"))
    )


_SUPPLY_SQL = """
    supply AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost,
             sum(l_quantity) AS qty
      FROM lineitem GROUP BY 1, 2)
"""


# ---------------------------------------------------------------------------
# Q2: min-cost supplier per part in a region (correlated min subquery)

@query(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH {_SUPPLY_SQL},
    eu AS (
      SELECT s_suppkey, s_acctbal, s_name, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'),
    j AS (
      SELECT s_acctbal, s_name, n_name, p_partkey, p_type, unit_cost,
             min(unit_cost) OVER (PARTITION BY p_partkey) AS mc
      FROM supply
      JOIN eu ON l_suppkey = s_suppkey
      JOIN part ON l_partkey = p_partkey
      WHERE p_size <= 15 AND p_type = 'ECONOMY')
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
           ROUND(unit_cost, {_R}) AS min_cost
    FROM j WHERE unit_cost = mc
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    doc="TPC-H Q2 shape: cheapest regional supplier per part; the "
        "correlated min subquery is decorrelated into a window min so "
        "the plan is one shuffle on p_partkey, dims broadcast",
    exchanges=2,
)
def q2_min_cost_supplier(spark, sf_dir):
    eu = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(table(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(table(spark, sf_dir, "region")
                          .filter(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    parts = table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "ECONOMY")
    ).select("p_partkey", "p_type")
    j = (
        _supply(spark, sf_dir)
        .join(F.broadcast(eu), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
    )
    mc = F.min("unit_cost").over(Window.partitionBy("p_partkey"))
    return (
        j.withColumn("mc", mc)
        .filter(F.col("unit_cost") == F.col("mc"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type",
                F.round("unit_cost", _R).alias("min_cost"))
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q8: national market share within a region, by year

@query(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           ROUND(sum(CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM (
      SELECT EXTRACT(year FROM o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      JOIN part     ON l_partkey = p_partkey
      WHERE r_name = 'AMERICA' AND p_type = 'STANDARD') v
    GROUP BY o_year ORDER BY o_year
    """,
    doc="TPC-H Q8 shape: 8-way snowflake join, share-of-total by year; "
        "every dimension broadcast, single shuffle for the final group",
    exchanges=2,
)
def q8_market_share(spark, sf_dir):
    cust_region = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(table(spark, sf_dir, "nation")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(table(spark, sf_dir, "region")
                          .filter(F.col("r_name") == "AMERICA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp_nation = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(table(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    parts = table(spark, sf_dir, "part").filter(
        F.col("p_type") == "STANDARD").select("p_partkey")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.year("o_orderdate").alias("o_year"))
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .alias("volume"))
    v = (
        li.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp_nation),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust_region),
              F.col("o_custkey") == F.col("c_custkey"))
    )
    target = F.when(F.col("nation") == "NATION_1",
                    F.col("volume")).otherwise(F.lit(0.0))
    return (
        v.groupBy("o_year")
        .agg(F.round(F.sum(target) / F.sum("volume"), 6)
             .alias("mkt_share"))
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# Q9: product-line profit by supplier nation and year

@query(
    "q9_profit_by_nation_year",
    oracle="""
    SELECT n_name AS nation,
           EXTRACT(year FROM o_orderdate) AS o_year,
           sum(CAST(ROUND((l_extendedprice * (1 - l_discount)
                 - 0.5 * p_retailprice * l_quantity) * 100) AS BIGINT))
               / 100.0 AS sum_profit
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN part     ON l_partkey = p_partkey
    WHERE p_name LIKE '%gear%'
    GROUP BY 1, 2
    ORDER BY nation, o_year DESC
    """,
    doc="TPC-H Q9 shape: profit per nation-year; partsupp supply cost "
        "replaced by 0.5*p_retailprice*l_quantity (no partsupp table)",
    bench=True,
    exchanges=2,
)
def q9_profit_by_nation_year(spark, sf_dir):
    supp_nation = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(table(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    parts = table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%gear%")
    ).select("p_partkey", "p_retailprice")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year"))
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.5 * F.col("p_retailprice") * F.col("l_quantity"))
    return (
        li.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp_nation),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", "o_year")
        # exact-sum trick: per-row round to integer cents, sum as
        # BIGINT (order-independent), then scale back — fp summation
        # order can otherwise flip the cent-rounding of the total
        .agg((F.sum(F.round(profit * 100).cast("bigint")) / 100.0)
             .alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


# ---------------------------------------------------------------------------
# Q11: above-average part values for a region (scalar-subquery HAVING)

@query(
    "q11_important_parts",
    oracle="""
    WITH val AS (
      SELECT l_partkey,
             sum(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                 AS BIGINT)) AS cents
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY 1)
    SELECT l_partkey, cents / 100.0 AS part_value
    FROM val
    WHERE cents > (SELECT avg(cents) FROM val)
    ORDER BY part_value DESC, l_partkey
    """,
    doc="TPC-H Q11 shape: parts whose regional trade value exceeds the "
        "average (scalar subquery in HAVING -> broadcast 1-row join); "
        "threshold is relative so the query is scale-free",
    exchanges=4,
)
def q11_important_parts(spark, sf_dir):
    asia_supp = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(table(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(table(spark, sf_dir, "region")
                          .filter(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    val = (
        table(spark, sf_dir, "lineitem")
        .join(F.broadcast(asia_supp),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        # exact integer-cents sum: order-independent, so the threshold
        # comparison below cannot flip on fp summation order
        .agg(F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    * 100).cast("bigint")).alias("cents"))
    )
    threshold = val.agg(F.avg("cents").alias("thr"))
    return (
        val.join(F.broadcast(threshold))
        .filter(F.col("cents") > F.col("thr"))
        .select("l_partkey",
                (F.col("cents") / 100.0).alias("part_value"))
        .orderBy(F.desc("part_value"), "l_partkey")
    )


# ---------------------------------------------------------------------------
# Q12: two-class conditional aggregation (shipmode -> returnflag)

@query(
    "q12_priority_lines",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="TPC-H Q12 shape: join + two-class conditional counts "
        "(l_shipmode does not exist; grouped by l_returnflag)",
    exchanges=2,
)
def q12_priority_lines(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00")
         .cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00")
           .cast("timestamp"))
    ).select("l_orderkey", "l_returnflag")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
             F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"))
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Q20: suppliers with excess supply of selected parts (nested agg + semi)

@query(
    "q20_excess_suppliers",
    oracle=f"""
    WITH {_SUPPLY_SQL},
    avg_part AS (
      SELECT l_partkey, avg(qty) AS avg_qty FROM supply GROUP BY 1),
    excess AS (
      SELECT DISTINCT s.l_suppkey
      FROM supply s
      JOIN avg_part a ON s.l_partkey = a.l_partkey
      JOIN part ON p_partkey = s.l_partkey
      WHERE s.qty > 1.5 * a.avg_qty AND p_name LIKE 'small%')
    SELECT s_suppkey, s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (SELECT l_suppkey FROM excess)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q20 shape: nested aggregation (per-supplier qty vs 1.5x "
        "the part's average) feeding a left-semi join on supplier",
    exchanges=6,
)
def q20_excess_suppliers(spark, sf_dir):
    supply = _supply(spark, sf_dir)
    avg_part = supply.groupBy("l_partkey").agg(
        F.avg("qty").alias("avg_qty"))
    parts = table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")).select("p_partkey")
    excess = (
        supply.join(avg_part, on="l_partkey")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.col("qty") > 1.5 * F.col("avg_qty"))
        .select("l_suppkey").distinct()
    )
    return (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(table(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(excess, F.col("s_suppkey") == F.col("l_suppkey"),
              "left_semi")
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q21: the sole late supplier on multi-supplier finished orders

@query(
    "q21_waiting_suppliers",
    oracle="""
    WITH l AS (
      SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'),
    per_order AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS n_sups,
             count(DISTINCT CASE
               WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
               THEN l_suppkey END) AS n_late
      FROM l GROUP BY 1)
    SELECT s_name, count(*) AS numwait
    FROM l
    JOIN per_order USING (l_orderkey)
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND n_sups >= 2 AND n_late = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    doc="TPC-H Q21 shape: EXISTS/NOT-EXISTS self-joins decorrelated "
        "into one per-order distinct-count pass (lateness adapted to "
        "l_shipdate > o_orderdate + 60 days; no l_receiptdate)",
    exchanges=4,
)
def q21_waiting_suppliers(spark, sf_dir):
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate")
    lines = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn(
            "is_late",
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    )
    per_order = lines.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_sups"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey")))
        .alias("n_late"))
    supplier = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name")
    return (
        lines.filter(F.col("is_late"))
        .join(per_order, on="l_orderkey")
        .filter((F.col("n_sups") >= 2) & (F.col("n_late") == 1))
        .join(F.broadcast(supplier),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


# --- Recommender evaluation: leave-latest-out hit-rate ---------------------

_REC_K = 20


@query(
    "rec_hitrate_popularity",
    oracle=f"""
    WITH held AS (
      SELECT o.o_custkey AS cust, o.o_orderkey AS okey
      FROM orders o
      JOIN (SELECT o_custkey,
                   max(o_orderdate) AS md
            FROM orders GROUP BY 1) lx
        ON lx.o_custkey = o.o_custkey AND o.o_orderdate = lx.md
      QUALIFY row_number() OVER (PARTITION BY o.o_custkey
                                 ORDER BY o.o_orderkey DESC) = 1),
    target AS (
      SELECT h.cust, CAST(min(l.l_partkey) AS BIGINT) AS part
      FROM held h JOIN lineitem l ON l.l_orderkey = h.okey
      GROUP BY 1),
    train AS (
      SELECT DISTINCT l.l_orderkey, l.l_partkey
      FROM lineitem l
      WHERE l.l_orderkey NOT IN (SELECT okey FROM held)),
    pop AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_orders
      FROM train GROUP BY 1
      ORDER BY n_orders DESC, l_partkey LIMIT {_REC_K}),
    hits AS (
      SELECT t.cust,
             CAST(t.part IN (SELECT l_partkey FROM pop) AS BIGINT)
                 AS hit
      FROM target t)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(hit) AS BIGINT) AS hits,
           CAST((2 * CAST(sum(hit) AS HUGEINT) * 1000000 + count(*))
                // (2 * CAST(count(*) AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS hitrate6
    FROM hits
    """,
    doc=f"leave-latest-out recommender evaluation: each customer's "
        "most recent order is held out (latest o_orderdate, orderkey "
        "tiebreak; its min partkey is the eval target), a "
        f"popularity-top-{_REC_K} recommender trains on everything "
        "else, and hit-rate@k counts customers whose held-out part "
        "appears in the list — the baseline every CF model "
        "(item_item_similarity) must beat, and the eval harness "
        "shape (split -> train -> score) all of them share. The "
        f"holdout is an anti-join, the model is a {_REC_K}-row "
        "broadcast (TakeOrderedAndProject, never a global sort of "
        "parts), and the hit flag is a broadcast semi-join — no "
        "step grows with corpus size except the scans",
    exchanges=6,
)
def rec_hitrate_popularity(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                 "l_partkey")
    wlast = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey"))
    held = (orders.select("o_custkey", "o_orderkey", "o_orderdate",
                          F.row_number().over(wlast).alias("rn"))
            .filter(F.col("rn") == 1)
            .select(F.col("o_custkey").alias("cust"),
                    F.col("o_orderkey").alias("okey")))
    target = (held.join(li, held["okey"] == li["l_orderkey"])
              .groupBy("cust")
              .agg(F.min("l_partkey").alias("part")))
    train = (li.join(F.broadcast(held.select("okey")),
                     li["l_orderkey"] == F.col("okey"), "left_anti")
             .select("l_orderkey", "l_partkey").distinct())
    pop = (train.groupBy("l_partkey")
           .agg(F.count(F.lit(1)).alias("n_orders"))
           .orderBy(F.desc("n_orders"), "l_partkey").limit(_REC_K)
           .select(F.col("l_partkey").alias("part"),
                   F.lit(1).alias("in_pop")))
    hits = (target.join(F.broadcast(pop), "part", "left")
            .select(F.coalesce(F.col("in_pop"), F.lit(0))
                    .cast("bigint").alias("hit")))
    return hits.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("hit").alias("hits"),
        ratio_round6(F.sum("hit"), F.count(F.lit(1)))
        .alias("hitrate6"))


@query(
    "rec_ndcg_popularity",
    oracle=f"""
    WITH held AS (
      SELECT o.o_custkey AS cust, o.o_orderkey AS okey
      FROM orders o
      JOIN (SELECT o_custkey,
                   max(o_orderdate) AS md
            FROM orders GROUP BY 1) lx
        ON lx.o_custkey = o.o_custkey AND o.o_orderdate = lx.md
      QUALIFY row_number() OVER (PARTITION BY o.o_custkey
                                 ORDER BY o.o_orderkey DESC) = 1),
    target AS (
      SELECT h.cust, CAST(min(l.l_partkey) AS BIGINT) AS part
      FROM held h JOIN lineitem l ON l.l_orderkey = h.okey
      GROUP BY 1),
    train AS (
      SELECT DISTINCT l.l_orderkey, l.l_partkey
      FROM lineitem l
      WHERE l.l_orderkey NOT IN (SELECT okey FROM held)),
    pop AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_orders
      FROM train GROUP BY 1
      ORDER BY n_orders DESC, l_partkey LIMIT {_REC_K}),
    pos AS (
      SELECT l_partkey,
             CAST(row_number() OVER (ORDER BY n_orders DESC,
                                     l_partkey) AS BIGINT) AS p
      FROM pop),
    hitpos AS (
      SELECT pos.p, CAST(count(*) AS BIGINT) AS c
      FROM target t JOIN pos ON t.part = pos.l_partkey
      GROUP BY pos.p),
    nusers AS (SELECT CAST(count(*) AS BIGINT) AS n FROM target),
    dcg AS (
      SELECT coalesce(list_reduce(
               list(CAST(c AS DOUBLE) * (ln(2.0)
                    / ln(CAST(p + 1 AS DOUBLE))) ORDER BY p),
               (a, b) -> a + b), 0.0) AS s,
             CAST(coalesce(sum(c), 0) AS BIGINT) AS hits
      FROM hitpos)
    SELECT nusers.n AS n_users, dcg.hits,
           ROUND(dcg.s / CAST(nusers.n AS DOUBLE), 6) AS ndcg6
    FROM dcg, nusers
    """,
    doc=f"NDCG@{_REC_K} of the leave-latest-out popularity "
        "recommender (same split/train/model as "
        "rec_hitrate_popularity): each user has ONE relevant item, so "
        "ideal DCG = 1 and per-user NDCG = 1/log2(p+1) at the hit "
        "position — position-aware credit where hit-rate is flat. "
        "Per-position hit counts are exact integers; the <=k-term "
        "float sum folds a position-SORTED list on both engines "
        "(ln(2)/ln(p+1) literal-for-literal), so no summation-order "
        "drift. The model stays a k-row broadcast; position "
        "assignment is a window over those k rows only",
    exchanges=10,
)
def rec_ndcg_popularity(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                 "l_partkey")
    wlast = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey"))
    held = (orders.select("o_custkey", "o_orderkey", "o_orderdate",
                          F.row_number().over(wlast).alias("rn"))
            .filter(F.col("rn") == 1)
            .select(F.col("o_custkey").alias("cust"),
                    F.col("o_orderkey").alias("okey")))
    target = (held.join(li, held["okey"] == li["l_orderkey"])
              .groupBy("cust")
              .agg(F.min("l_partkey").alias("part")))
    train = (li.join(F.broadcast(held.select("okey")),
                     li["l_orderkey"] == F.col("okey"), "left_anti")
             .select("l_orderkey", "l_partkey").distinct())
    pop = (train.groupBy("l_partkey")
           .agg(F.count(F.lit(1)).alias("n_orders"))
           .orderBy(F.desc("n_orders"), "l_partkey").limit(_REC_K))
    # the model is _REC_K rows post-limit; this window is bounded
    wpos = Window.orderBy(F.desc("n_orders"), "l_partkey")
    pos = pop.select("l_partkey",
                     F.row_number().over(wpos).cast("bigint")
                     .alias("p"))
    hitpos = (target.join(F.broadcast(pos),
                          target["part"] == pos["l_partkey"])
              .groupBy("p").agg(F.count(F.lit(1)).alias("c")))
    nusers = target.agg(F.count(F.lit(1)).alias("n"))
    term = F.struct(
        F.col("p").alias("p"),
        (F.col("c").cast("double")
         * (F.log(F.lit(2.0)) / F.log((F.col("p") + 1)
                                      .cast("double")))).alias("v"))
    dcg = hitpos.agg(
        F.coalesce(
            F.aggregate(F.array_sort(F.collect_list(term)),
                        F.lit(0.0), lambda a, s: a + s["v"]),
            F.lit(0.0)).alias("s"),
        F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("hits"))
    out = dcg.crossJoin(F.broadcast(nusers))
    return out.select(
        F.col("n").alias("n_users"), "hits",
        F.round(F.col("s") / F.col("n").cast("double"), 6)
        .alias("ndcg6"))


@query(
    "rfm_segmentation",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(date_diff('day', max(o_orderdate),
                  (SELECT max(o_orderdate) FROM orders)) AS BIGINT)
                 AS r_days,
             CAST(count(*) AS BIGINT) AS f_orders,
             CAST(sum(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS m_cents
      FROM orders GROUP BY o_custkey),
    q AS (
      SELECT o_custkey, m_cents,
             CAST(ntile(5) OVER (ORDER BY r_days, o_custkey)
                  AS BIGINT) AS r_q,
             CAST(ntile(5) OVER (ORDER BY f_orders, o_custkey)
                  AS BIGINT) AS f_q,
             CAST(ntile(5) OVER (ORDER BY m_cents, o_custkey)
                  AS BIGINT) AS m_q
      FROM cust)
    SELECT r_q, f_q, m_q,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST((2 * CAST(sum(m_cents) AS HUGEINT) * 10000
                 + count(*)) // (2 * CAST(count(*) AS HUGEINT))
                AS BIGINT) AS avg_monetary_e6
    FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
    doc="RFM customer segmentation: per customer, Recency (days "
        "since last order vs the corpus max date), Frequency (order "
        "count) and Monetary (lifetime spend in exact cents), each "
        "cut into quintiles, then segments counted. The quintiles "
        "are SQL-standard ntile(5) reproduced WITHOUT a single-task "
        "global sort: three two-phase global_rank chains (coarse "
        "value-bucket prefix ranking + broadcast #buckets offsets, "
        "operators/ranking.py) feed the closed-form ntile_from_rank "
        "— bit-for-bit ntile at any customer cardinality. The max "
        "order date is a 1-row broadcast scalar",
    # melted single-rank-chain form; the chained-global_rank
    # version measured 34 (11 orders scans)
    exchanges=13,
)
def rfm_segmentation(spark, sf_dir):
    from ..operators.ranking import global_rank, ntile_from_rank
    orders = table(spark, sf_dir, "orders")
    gmax = orders.agg(F.max("o_orderdate").alias("gmax"))
    per_cust = (orders.groupBy("o_custkey")
                .agg(F.max("o_orderdate").alias("last_o"),
                     F.count(F.lit(1)).alias("f_orders"),
                     F.sum(F.round(F.col("o_totalprice") * 100)
                           .cast("bigint")).alias("m_cents")))
    cust = (per_cust.crossJoin(F.broadcast(gmax))
            .select("o_custkey",
                    F.datediff(F.col("gmax"), F.col("last_o"))
                    .cast("bigint").alias("r_days"),
                    "f_orders", "m_cents"))
    n = cust.agg(F.count(F.lit(1)).alias("n_total"))

    # ONE rank chain over the melted (metric, value) relation instead
    # of three chained/parallel global_rank calls: chaining nests each
    # chain's offset branch inside the next (2^k plan blowup, 11
    # orders scans measured); melting ranks all three metrics in a
    # single two-phase pass and un-melts with rank - block*n_total
    # (each metric block holds exactly n_total rows). Metric ids keep
    # the block order aligned with the bucket prefix.
    melted = cust.select(
        "o_custkey", "m_cents",
        F.explode(F.array(
            F.struct(F.lit(0).alias("mid"),
                     F.col("r_days").alias("v")),
            F.struct(F.lit(1).alias("mid"),
                     F.col("f_orders").alias("v")),
            F.struct(F.lit(2).alias("mid"),
                     F.col("m_cents").alias("v")))).alias("mv"))
    widths = {0: 100, 1: 4, 2: 1000000}
    vb = F.when(F.col("mv.mid") == 0,
                idiv(F.col("mv.v"), F.lit(widths[0]))) \
         .when(F.col("mv.mid") == 1,
               idiv(F.col("mv.v"), F.lit(widths[1]))) \
         .otherwise(idiv(F.col("mv.v"), F.lit(widths[2])))
    bucket = F.struct(F.col("mv.mid").alias("b0"), vb.alias("b1"))
    ranked = global_rank(
        melted.select("o_custkey", "m_cents", "mv"),
        bucket, [F.col("mv.mid"), F.col("mv.v"), "o_custkey"],
        rank_col="__r")
    local = (ranked.crossJoin(F.broadcast(n))
             .select("o_custkey", "m_cents", F.col("mv.mid")
                     .alias("mid"),
                     ntile_from_rank(
                         F.col("__r") - F.col("mv.mid")
                         * F.col("n_total"), F.col("n_total"), 5)
                     .alias("tile")))
    q = (local.groupBy("o_custkey")
         .agg(F.first("m_cents").alias("m_cents"),
              F.max(F.when(F.col("mid") == 0, F.col("tile")))
              .alias("r_q"),
              F.max(F.when(F.col("mid") == 1, F.col("tile")))
              .alias("f_q"),
              F.max(F.when(F.col("mid") == 2, F.col("tile")))
              .alias("m_q")))
    s = F.col("sum_m").cast("decimal(38,0)")
    c = F.col("n_customers").cast("decimal(38,0)")
    return (q.groupBy("r_q", "f_q", "m_q")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum("m_cents").alias("sum_m"))
            .select("r_q", "f_q", "m_q", "n_customers",
                    idiv(2 * s * 10000 + c, 2 * c)
                    .alias("avg_monetary_e6"))
            .orderBy("r_q", "f_q", "m_q"))
