"""Star-schema capability layer (SURVEY.md §2.3/2.4/2.6/2.7 engine
notes): grouped aggregation, joins of every flavor, ranking windows, set
ops, rollups, as-of joins. The reference's single-table model never
needed these, but "same capabilities as the reference" for an analytics
engine means the full relational surface; these queries are the
driver-facing proof, each with a DuckDB oracle.

Scale notes applied throughout:
- dimension tables are broadcast (``F.broadcast``) so fact-table joins
  never shuffle the big side;
- aggregates are expressed declaratively -> Catalyst does partial
  (map-side) aggregation before the exchange;
- every LIMIT sits under a deterministic ORDER BY and compiles to
  TakeOrderedAndProject (no global sort materialization).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..operators.backtest import ma_crossover_backtest
from ..operators.exact import (floor_round6, idiv, ratio_round6,
                               signed_ratio_round6)
from ..operators.ranking import prefix_sums
from ..sources.parquet_source import table
from . import lazy_cache, query

_R = 6


# ---------------------------------------------------------------------------
# TPC-H Q1 shape: whole-fact grouped aggregation (A1-A5 generalized)

@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
           ROUND(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_base_price,
           ROUND(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2)
               AS sum_disc_price,
           ROUND(CAST(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))
               AS DOUBLE), 2) AS sum_charge,
           ROUND(CAST(avg(l_quantity) AS DOUBLE), 6) AS avg_qty,
           ROUND(CAST(avg(l_extendedprice) AS DOUBLE), 6) AS avg_price,
           ROUND(CAST(avg(l_discount) AS DOUBLE), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="grouped aggregation over the fact table (TPC-H Q1 shape)",
    bench=True,
    exchanges=1,
)
def q1_pricing_summary(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00")
                  .cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2)
             .alias("sum_charge"),
            F.round(F.avg("l_quantity"), _R).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), _R).alias("avg_price"),
            F.round(F.avg("l_discount"), _R).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q3 shape: 3-way join, grouped agg, deterministic top-k

@query(
    "q3_top_unshipped_orders",
    oracle="""
    SELECT l_orderkey,
           ROUND(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2)
               AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    doc="broadcast dim join + grouped agg + TakeOrderedAndProject top-k "
        "(TPC-H Q3 shape)",
    bench=True,
    exchanges=1,
)
def q3_top_unshipped_orders(spark, sf_dir):
    cust = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q5 shape: 6-way join through the full snowflake

@query(
    "q5_supplier_volume_by_nation",
    oracle="""
    SELECT n_name,
           ROUND(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2)
               AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
    GROUP BY n_name
    """,
    doc="6-way snowflake join, dims broadcast (TPC-H Q5 shape)",
    bench=True,
    # only the fact-side join + final agg may shuffle
    exchanges=1,
)
def q5_supplier_volume_by_nation(spark, sf_dir):
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp),
              (li.l_suppkey == supp.s_suppkey)
              & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation),
              supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region),
              nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Ranking window: top-N per group

@query(
    "top_orders_per_customer",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    )
    SELECT o_custkey, o_orderkey,
           ROUND(o_totalprice, 2) AS o_totalprice, rk
    FROM ranked WHERE rk <= 3
    """,
    doc="per-group top-N via ranking window",
    exchanges=1,
)
def top_orders_per_customer(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey",
                F.round("o_totalprice", 2).alias("o_totalprice"),
                F.col("rk").cast("long").alias("rk"))
    )


# ---------------------------------------------------------------------------
# Running (cumulative) aggregation per key

@query(
    "running_total_per_user",
    oracle="""
    SELECT event_id, user_id, ts,
           ROUND(sum(value) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
               AS running_value
    FROM events
    """,
    doc="cumulative sum window per key",
    exchanges=1,
)
def running_total_per_user(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return ev.select(
        "event_id", "user_id", "ts",
        F.round(F.sum("value").over(w), _R).alias("running_value"))


# ---------------------------------------------------------------------------
# Set operations (SURVEY.md §2.7 engine note)

@query(
    "set_ops_high_value_customers",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="INTERSECT (distinct) of two key sets",
    exchanges=1,
)
def set_ops_high_value_customers(spark, sf_dir):
    cust = table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > 5000).select("c_custkey")
    ords = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey"))
    return cust.intersect(ords)


@query(
    "set_ops_except",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
    """,
    doc="EXCEPT (distinct) — customers with no large order",
    exchanges=1,
)
def set_ops_except(spark, sf_dir):
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    big = table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("c_custkey"))
    return cust.exceptAll(big).distinct()


@query(
    "union_distinct_event_users",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'purchase'
    UNION
    SELECT user_id FROM events WHERE value > 90
    """,
    doc="UNION (distinct) of two selections",
    exchanges=1,
)
def union_distinct_event_users(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id")
    b = ev.filter(F.col("value") > 90).select("user_id")
    return a.union(b).distinct()


# ---------------------------------------------------------------------------
# Semi / anti joins

@query(
    "semi_join_customers_with_urgent_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
    """,
    doc="left-semi join (EXISTS)",
    exchanges=0,
)
def semi_join_customers_with_urgent_orders(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    urgent = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT")
    return cust.join(urgent, cust.c_custkey == urgent.o_custkey,
                     "left_semi").select("c_custkey", "c_name")


@query(
    "anti_join_parts_no_bulk_orders",
    oracle="""
    SELECT p_partkey, p_name FROM part
    WHERE NOT EXISTS (SELECT 1 FROM lineitem
                      WHERE l_partkey = p_partkey AND l_quantity > 45)
    """,
    doc="left-anti join (NOT EXISTS): parts never ordered in bulk",
    exchanges=0,
)
def anti_join_parts_no_bulk_orders(spark, sf_dir):
    part = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") > 45).select("l_partkey")
    return part.join(li, part.p_partkey == li.l_partkey,
                     "left_anti").select("p_partkey", "p_name")


# ---------------------------------------------------------------------------
# Distinct aggregates + multi-agg

@query(
    "segment_stats",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_customers,
           count(DISTINCT c_nationkey) AS n_nations,
           ROUND(CAST(avg(c_acctbal) AS DOUBLE), 6) AS avg_acctbal,
           ROUND(CAST(min(c_acctbal) AS DOUBLE), 6) AS min_acctbal,
           ROUND(CAST(max(c_acctbal) AS DOUBLE), 6) AS max_acctbal
    FROM customer GROUP BY c_mktsegment
    """,
    doc="grouped multi-aggregate incl. count distinct",
    exchanges=2,
)
def segment_stats(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.round(F.avg("c_acctbal"), _R).alias("avg_acctbal"),
        F.round(F.min("c_acctbal"), _R).alias("min_acctbal"),
        F.round(F.max("c_acctbal"), _R).alias("max_acctbal"),
    )


# ---------------------------------------------------------------------------
# Rollup (hierarchical subtotals)

@query(
    "rollup_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_base_price,
           count(*) AS n_items
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP grouping sets (engine capability beyond reference)",
    exchanges=1,
)
def rollup_revenue(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---------------------------------------------------------------------------
# Time-bucket rollup (hypertable-style continuous aggregate)

@query(
    "hourly_event_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS bucket, event_type,
           count(*) AS n_events,
           ROUND(CAST(sum(value) AS DOUBLE), 6) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="time-bucketed rollup (hypertable continuous-aggregate shape)",
    exchanges=1,
)
def hourly_event_rollup(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket"),
                   "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), _R).alias("sum_value"))
    )


# ---------------------------------------------------------------------------
# CUBE grouping sets

@query(
    "cube_order_stats",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           ROUND(CAST(sum(o_totalprice) AS DOUBLE), 2) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE grouping sets over two dimensions",
    exchanges=1,
)
def cube_order_stats(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Exact percentiles (interpolated) per group

@query(
    "value_percentiles",
    oracle="""
    SELECT event_type,
           ROUND(CAST(quantile_cont(value, 0.5) AS DOUBLE), 6) AS p50,
           ROUND(CAST(quantile_cont(value, 0.9) AS DOUBLE), 6) AS p90,
           ROUND(CAST(quantile_cont(value, 0.99) AS DOUBLE), 6) AS p99
    FROM events GROUP BY event_type
    """,
    doc="exact interpolated percentiles per group (Spark percentile == "
        "DuckDB quantile_cont); at 100 TB swap to approx_percentile "
        "with a documented error bound",
    exchanges=1,
)
def value_percentiles(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), _R).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), _R).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), _R).alias("p99"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q4 shape: EXISTS semi join + grouped count

@query(
    "q4_order_priority_check",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="EXISTS semi join + grouped count (TPC-H Q4 shape)",
    exchanges=1,
)
def q4_order_priority_check(spark, sf_dir):
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00")
         .cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01 00:00:00")
           .cast("timestamp")))
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate")
    late = orders.join(
        li, (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate), "left_semi")
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count"))


# ---------------------------------------------------------------------------
# TPC-H Q13 shape: distribution of counts (left join + double group)

@query(
    "q13_customer_order_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderstatus <> 'P'
      GROUP BY c_custkey)
    SELECT c_count, count(*) AS custdist
    FROM per_cust
    GROUP BY c_count
    """,
    doc="count-of-counts distribution via left join + two grouped "
        "aggregations (TPC-H Q13 shape)",
    exchanges=2,
)
def q13_customer_order_distribution(spark, sf_dir):
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") != "P").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# TPC-H Q17 shape: per-group average threshold subquery

@query(
    "q17_small_quantity_revenue",
    oracle="""
    WITH thresholds AS (
      SELECT l_partkey AS tk, 0.5 * avg(l_quantity) AS half_avg
      FROM lineitem GROUP BY l_partkey)
    SELECT ROUND(CAST(sum(l_extendedprice) / 7.0 AS DOUBLE), 2)
               AS avg_yearly,
           count(*) AS n_items
    FROM lineitem JOIN thresholds ON l_partkey = tk
    WHERE l_quantity < half_avg
    """,
    doc="correlated per-group average threshold, decorrelated into agg "
        "+ join (TPC-H Q17 shape)",
    exchanges=2,
)
def q17_small_quantity_revenue(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    thresholds = li.groupBy(F.col("l_partkey").alias("tk")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg"))
    return (
        li.join(thresholds, li.l_partkey == thresholds.tk)
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2)
             .alias("avg_yearly"),
             F.count(F.lit(1)).alias("n_items"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 shape: disjunction of conjunctions (OR-pushdown)

@query(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT ROUND(CAST(sum(l_extendedprice * (1 - l_discount))
               AS DOUBLE), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 30)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 10 AND l_quantity <= 40)
    """,
    doc="disjunction-of-conjunctions predicate over a broadcast join "
        "(TPC-H Q19 shape); Catalyst extracts the common l_quantity "
        "bounds for scan pushdown",
    exchanges=1,
)
def q19_disjunctive_revenue(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    part = table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size")
    cond1 = ((F.col("p_brand") == "Brand#1")
             & F.col("p_size").between(1, 15)
             & F.col("l_quantity").between(1, 30))
    cond2 = ((F.col("p_brand") == "Brand#2")
             & F.col("p_size").between(10, 30)
             & F.col("l_quantity").between(10, 40))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond1 | cond2)
        .agg(F.round(F.sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 shape: anti join + substring bucketing

@query(
    "q22_inactive_customers",
    oracle="""
    SELECT substring(c_name, 17, 2) AS name_digit,
           count(*) AS n_customers,
           ROUND(CAST(sum(c_acctbal) AS DOUBLE), 2) AS total_acctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                       WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >=
                            TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY 1
    """,
    doc="scalar subquery + anti join + substring bucketing "
        "(TPC-H Q22 shape)",
    exchanges=2,
)
def q22_inactive_customers(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    # scalar subquery as a broadcast 1-row join (same pattern as q11/
    # q15): keeps the whole query one lazy plan — no separate driver
    # job materializing the average before the action
    avg_bal = (cust.filter(F.col("c_acctbal") > 0)
               .agg(F.avg("c_acctbal").alias("avg_bal")))
    recent = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00")
        .cast("timestamp")).select("o_custkey")
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy(F.substring("c_name", 17, 2).alias("name_digit"))
        .agg(F.count(F.lit(1)).alias("n_customers"),
             F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q7 shape: bidirectional nation-pair volume by year

@query(
    "q7_nation_pair_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           ROUND(CAST(sum(l_extendedprice * (1 - l_discount))
                 AS DOUBLE), 2) AS revenue
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
    doc="bidirectional nation-pair trade volume by ship year "
        "(TPC-H Q7 shape)",
    exchanges=1,
)
def q7_nation_pair_volume(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_shipdate",
        "l_extendedprice", "l_discount")
    supp = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_name").alias("supp_nation"))
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"),
        F.col("n_name").alias("cust_nation"))
    pair = ((F.col("supp_nation") == "NATION_1")
            & (F.col("cust_nation") == "NATION_2")) | \
           ((F.col("supp_nation") == "NATION_2")
            & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.round(F.sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q15 shape: aggregate view + global-max scalar filter

@query(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             ROUND(CAST(sum(l_extendedprice * (1 - l_discount))
                   AS DOUBLE), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
    doc="aggregate view + global-max scalar subquery (TPC-H Q15 shape); "
        "comparison on the rounded total so engines agree on the argmax",
    exchanges=3,
)
def q15_top_supplier(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00")
         .cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00")
           .cast("timestamp")))
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice")
                      * (1 - F.col("l_discount"))), 2)
        .alias("total_revenue"))
    top = rev.agg(F.max("total_revenue").alias("m"))
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        supp.join(rev, supp.s_suppkey == rev.l_suppkey)
        .join(F.broadcast(top),
              F.col("total_revenue") == F.col("m"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape: distinct-count per attribute combination

@query(
    "q16_supplier_variety",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#3' AND p_size IN (1, 5, 9, 14)
    GROUP BY 1, 2, 3
    """,
    doc="distinct suppliers per part-attribute combination "
        "(TPC-H Q16 shape)",
    exchanges=2,
)
def q16_supplier_variety(spark, sf_dir):
    part = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & F.col("p_size").isin(1, 5, 9, 14)).select(
        "p_partkey", "p_brand", "p_type", "p_size")
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Argmax join-back: the most expensive lineitem per part

@query(
    "priciest_lineitem_per_part",
    oracle="""
    WITH ranked AS (
      SELECT l_partkey, l_orderkey, l_linenumber,
             ROUND(l_extendedprice, 2) AS l_extendedprice,
             row_number() OVER (PARTITION BY l_partkey
                 ORDER BY l_extendedprice DESC, l_orderkey,
                          l_linenumber) AS rk
      FROM lineitem)
    SELECT l_partkey, l_orderkey, CAST(l_linenumber AS BIGINT)
               AS l_linenumber, l_extendedprice
    FROM ranked WHERE rk = 1
    """,
    doc="argmax row per group via deterministic ranking window "
        "(rank-1 join-back shape)",
    exchanges=1,
)
def priciest_lineitem_per_part(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"),
        F.asc("l_linenumber"))
    return (
        li.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("l_partkey", "l_orderkey",
                F.col("l_linenumber").cast("long").alias("l_linenumber"),
                F.round("l_extendedprice", 2).alias("l_extendedprice"))
    )


# ---------------------------------------------------------------------------
# Batch MERGE / upsert primitive (SCD-0 overwrite semantics)

@query(
    "upsert_customers_merge",
    oracle="""
    WITH updates AS (
      SELECT c_custkey, c_acctbal + 100.0 AS new_acctbal
      FROM customer WHERE c_mktsegment = 'BUILDING')
    SELECT c.c_custkey, c.c_name,
           ROUND(COALESCE(u.new_acctbal, c.c_acctbal), 2) AS c_acctbal,
           u.new_acctbal IS NOT NULL AS was_updated
    FROM customer c LEFT JOIN updates u ON c.c_custkey = u.c_custkey
    """,
    doc="MERGE/upsert expressed relationally: left join + coalesce "
        "(the batch primitive under Delta/Iceberg MERGE INTO)",
    exchanges=0,
)
def upsert_customers_merge(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    updates = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("u_key"),
        (F.col("c_acctbal") + 100.0).alias("new_acctbal"))
    return (
        cust.join(F.broadcast(updates),
                  cust.c_custkey == updates.u_key, "left")
        .select(
            "c_custkey", "c_name",
            F.round(F.coalesce("new_acctbal", "c_acctbal"), 2)
             .alias("c_acctbal"),
            F.col("new_acctbal").isNotNull().alias("was_updated"))
    )


# ---------------------------------------------------------------------------
# RANGE window frame (time-based, not row-count-based)

@query(
    "range_frame_hourly_avg",
    oracle="""
    SELECT event_id, user_id, ts,
           ROUND(avg(value) OVER (PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW),
               6) AS trailing_1h_avg
    FROM events
    """,
    doc="RANGE window frame over event time (all rows in the trailing "
        "hour, however many) vs the ROWS frames of W1/W2",
    exchanges=1,
)
def range_frame_hourly_avg(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_micros(F.col("ts")))
         .rangeBetween(-3_600_000_000, 0))
    return ev.select(
        "event_id", "user_id", "ts",
        F.round(F.avg("value").over(w), 6).alias("trailing_1h_avg"))


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS (beyond ROLLUP/CUBE)

@query(
    "grouping_sets_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
    doc="explicit GROUPING SETS: two independent single-column "
        "aggregations in one pass",
    exchanges=1,
)
def grouping_sets_revenue(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__li_gs")
    return li.sparkSession.sql("""
        SELECT l_returnflag, l_linestatus,
               ROUND(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_price
        FROM __li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """)


# ---------------------------------------------------------------------------
# Date-part breakdown (C2-family scalar functions)

@query(
    "orders_by_quarter",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(quarter(o_orderdate) AS BIGINT) AS o_quarter,
           count(*) AS n_orders,
           ROUND(CAST(sum(o_totalprice) AS DOUBLE), 2) AS sum_price
    FROM orders
    GROUP BY 1, 2
    """,
    doc="date-part extraction (year/quarter) feeding a grouped rollup",
    exchanges=1,
)
def orders_by_quarter(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.quarter("o_orderdate").cast("long").alias("o_quarter"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
    )


# ---------------------------------------------------------------------------
# String-function surface (C9/C10-family)

@query(
    "string_functions_showcase",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_upper,
           CAST(length(p_name) AS BIGINT) AS name_len,
           replace(p_type, ' ', '_') AS type_slug,
           substring(p_name, 1, 8) AS name_prefix,
           concat(p_brand, ':', p_type) AS brand_type,
           CASE WHEN contains(lower(p_name), 'a') THEN TRUE ELSE FALSE
           END AS has_a
    FROM part
    """,
    doc="scalar string surface: case, length, replace, substring, "
        "concat, contains",
    exchanges=0,
)
def string_functions_showcase(spark, sf_dir):
    part = table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_"))
         .alias("type_slug"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.lower("p_name").contains("a").alias("has_a"),
    )


# ---------------------------------------------------------------------------
# Bucketed range join: clicks within +-10 minutes of each purchase

@query(
    "range_join_nearby_clicks",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts AS cts FROM events
          WHERE event_type = 'click'),
    hits AS (
      SELECT p.event_id, count(*) AS n
      FROM p JOIN c ON p.user_id = c.user_id
       AND c.cts BETWEEN p.ts - INTERVAL 10 MINUTE
                     AND p.ts + INTERVAL 10 MINUTE
      GROUP BY 1)
    SELECT p.event_id, p.user_id, p.ts,
           COALESCE(h.n, 0) AS n_nearby_clicks
    FROM p LEFT JOIN hits h ON p.event_id = h.event_id
    """,
    doc="range (band) join via time-bucket quantization: equi-join on "
        "(key, bucket +- 1) then exact band filter — a hash join doing "
        "O(matches) work instead of an O(n*m) inequality join",
    exchanges=2,
)
def range_join_nearby_clicks(spark, sf_dir):
    from ..operators.range_join import range_join
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("ts").alias("cts"))
    pairs = range_join(purchases, clicks, key="user_id",
                       left_ts="ts", right_ts="cts", band_seconds=600)
    counts = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n"))
    return (
        purchases.join(counts, on="event_id", how="left")
        .select("event_id", "user_id", "ts",
                F.coalesce("n", F.lit(0)).alias("n_nearby_clicks"))
    )


# ---------------------------------------------------------------------------
# Sliding (overlapping) event-time windows

@query(
    "sliding_window_rollup",
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS s0, event_type, value
      FROM events),
    expanded AS (
      SELECT s0 AS wstart, event_type, value FROM b
      UNION ALL
      SELECT s0 - INTERVAL 30 MINUTE AS wstart, event_type, value FROM b)
    SELECT wstart, event_type,
           count(*) AS n_events,
           ROUND(CAST(sum(value) AS DOUBLE), 6) AS sum_value
    FROM expanded
    GROUP BY 1, 2
    """,
    doc="sliding 1h/30min event-time windows (each event lands in two "
        "overlapping windows); oracle expands buckets by hand",
    exchanges=1,
)
def sliding_window_rollup(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"),
                   "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("wstart"), "event_type",
                "n_events", "sum_value")
    )


# ---------------------------------------------------------------------------
# As-of join (the classic time-series operator Spark lacks natively)

@query(
    "asof_join_purchase_to_click",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           c.ts AS last_click_ts,
           ROUND(c.value, 6) AS last_click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (
      SELECT user_id, ts,
             (max({'i': event_id, 'v': value})).v AS value
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, ts) c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    doc="as-of join: each purchase matched to the user's most recent "
        "click at-or-before it; implemented shuffle-once via "
        "union + last(ignorenulls) window, not a range cross join",
    # union repartition + window; no range cross join
    exchanges=2,
)
def asof_join_purchase_to_click(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    # reduce clicks to ONE row per (user, ts) first — with two clicks
    # at the same instant the as-of match is otherwise engine-arbitrary;
    # the kept value is the max-event_id row (lexicographic struct max,
    # the oracle's (max({'i','v'})).v twin)
    clicks = (ev.filter(F.col("event_type") == "click")
              .groupBy("user_id", "ts")
              .agg(F.max(F.struct(F.col("event_id"),
                                  F.col("value").alias("__v")))
                   .getField("__v").alias("click_value"))
              .select(
        "user_id", "ts",
        F.col("ts").alias("click_ts"), "click_value",
        F.lit(None).cast("long").alias("p_event_id"),
        F.lit(0).alias("side")))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts",
        F.lit(None).cast("timestamp").alias("click_ts"),
        F.lit(None).cast("double").alias("click_value"),
        F.col("event_id").alias("p_event_id"),
        F.lit(1).alias("side"))
    # One sort per user over the union; the carried-forward click is the
    # as-of match. Inclusive (>=) semantics: at equal ts the click sorts
    # first (side 0 < 1), so it is visible to the purchase row.
    w = (Window.partitionBy("user_id").orderBy("ts", "side")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    merged = clicks.unionByName(purchases)
    return (
        merged
        .withColumn("last_click_ts",
                    F.last("click_ts", ignorenulls=True).over(w))
        .withColumn("last_click_value",
                    F.last("click_value", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select(F.col("p_event_id").alias("event_id"), "user_id", "ts",
                "last_click_ts",
                F.round("last_click_value", _R).alias("last_click_value"))
    )


# ---------------------------------------------------------------------------
# Nearest as-of join with tolerance (pandas merge_asof
# direction='nearest' semantics): each purchase matches the CLOSEST
# click either side within 4 hours, ties to the backward match.
# Same shuffle-once union shape as asof_join_purchase_to_click — the
# backward candidate carries forward via last(ignorenulls) and the
# forward candidate carries backward via first(ignorenulls) over the
# SAME user partitioning (one exchange, two sorts), never a range
# cross join.

_NEAR_TOL_US = 4 * 3600 * 1_000_000  # 4 h in microseconds


@query(
    "asof_join_nearest_tolerance",
    oracle=f"""
    WITH clicks AS (
      SELECT user_id, ts, (max({{'i': event_id, 'v': value}})).v AS cv
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, ts),
    ranked AS (
      SELECT p.event_id, p.user_id, p.ts,
             c.ts AS click_ts, ROUND(c.cv, 6) AS click_value,
             abs(epoch_us(p.ts) - epoch_us(c.ts)) AS dist_us,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY abs(epoch_us(p.ts) - epoch_us(c.ts)),
                        CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END)
                 AS rn
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN clicks c
        ON c.user_id = p.user_id
       AND abs(epoch_us(p.ts) - epoch_us(c.ts)) <= {_NEAR_TOL_US})
    SELECT event_id, user_id, ts, click_ts, click_value,
           CAST(dist_us AS BIGINT) AS dist_us
    FROM ranked WHERE rn = 1 ORDER BY event_id
    """,
    doc="nearest as-of join with a 4-hour tolerance (pandas "
        "merge_asof direction='nearest'): each purchase matched to the "
        "closest click on either side, ties to the earlier (backward) "
        "click; clicks are pre-deduped per (user, ts) with the max-"
        "event_id convention so the match is engine-deterministic. "
        "Implemented as ONE hash exchange on user_id with two sorts "
        "over the unioned stream — backward candidate via "
        "last(ignorenulls) over preceding rows, forward candidate via "
        "first(ignorenulls) over following rows — then a scalar "
        "nearest/tolerance pick per row; the oracle may pair-join "
        "because DuckDB runs at oracle scale, the engine plan never "
        "does. At 100 TB this is the standard sorted-merge as-of "
        "cost: no range cross join, state bounded by one row per side",
    # dedup + 1 user hash + sort
    exchanges=3,
)
def asof_join_nearest_tolerance(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
              .groupBy("user_id", "ts")
              .agg(F.max(F.struct(F.col("event_id"),
                                  F.col("value").alias("__v")))
                   .getField("__v").alias("cv"))
              .select("user_id", "ts",
                      F.col("ts").alias("click_ts"),
                      F.col("cv").alias("click_value"),
                      F.lit(None).cast("long").alias("p_event_id"),
                      F.lit(0).alias("side")))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts",
        F.lit(None).cast("timestamp").alias("click_ts"),
        F.lit(None).cast("double").alias("click_value"),
        F.col("event_id").alias("p_event_id"),
        F.lit(1).alias("side"))
    merged = clicks.unionByName(purchases)
    # Backward pass: clicks sort BEFORE purchases at equal ts
    # (side 0 < 1) so an equal-ts click is visible — inclusive <=.
    wb = (Window.partitionBy("user_id").orderBy("ts", "side")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # Forward pass: same partitioning, reversed tie order (purchases
    # first at equal ts) so an equal-ts click is in the following
    # frame — inclusive >=. Equal-ts ties resolve to BACKWARD below,
    # so both frames seeing the same click is correct.
    wf = (Window.partitionBy("user_id")
          .orderBy("ts", F.desc("side"))
          .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    out = (merged
           .withColumn("bk_ts", F.last("click_ts", True).over(wb))
           .withColumn("bk_v", F.last("click_value", True).over(wb))
           .withColumn("fw_ts", F.first("click_ts", True).over(wf))
           .withColumn("fw_v", F.first("click_value", True).over(wf))
           .filter(F.col("side") == 1))
    bd = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("bk_ts"))
    fd = F.unix_micros(F.col("fw_ts")) - F.unix_micros(F.col("ts"))
    bk_ok = F.col("bk_ts").isNotNull() & (bd <= _NEAR_TOL_US)
    fw_ok = F.col("fw_ts").isNotNull() & (fd <= _NEAR_TOL_US)
    # nearest with backward tie-preference
    use_bk = bk_ok & (~fw_ok | (bd <= fd))
    return (out.filter(bk_ok | fw_ok)
            .select(
                F.col("p_event_id").alias("event_id"), "user_id", "ts",
                F.when(use_bk, F.col("bk_ts")).otherwise(F.col("fw_ts"))
                 .alias("click_ts"),
                F.round(F.when(use_bk, F.col("bk_v"))
                         .otherwise(F.col("fw_v")), 6)
                 .alias("click_value"),
                F.when(use_bk, bd).otherwise(fd).cast("bigint")
                 .alias("dist_us"))
            .orderBy("event_id"))


# ---------------------------------------------------------------------------
# Marketing touch attribution: every purchase's revenue credited to
# the user's FIRST and LAST click inside a 7-day lookback — the two
# canonical attribution models, computed in ONE user-partitioned
# range-frame window over the unioned click/purchase stream (value
# range [u - 7d, u] on exact epoch micros, so both engines frame
# identically), then rolled up to revenue per touch-day per model.

_ATTR_LOOKBACK_US = 7 * 86400 * 1_000_000


@query(
    "touch_attribution_revenue",
    oracle=f"""
    WITH stream AS (
      SELECT user_id, epoch_us(ts) AS u,
             CASE WHEN event_type = 'click' THEN epoch_us(ts) END
                 AS click_u,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100) AS BIGINT) END AS cents
      FROM events WHERE event_type IN ('click', 'purchase')),
    framed AS (
      SELECT user_id, cents,
             min(click_u) OVER (PARTITION BY user_id ORDER BY u
                 RANGE BETWEEN {_ATTR_LOOKBACK_US} PRECEDING
                 AND CURRENT ROW) AS ft_u,
             max(click_u) OVER (PARTITION BY user_id ORDER BY u
                 RANGE BETWEEN {_ATTR_LOOKBACK_US} PRECEDING
                 AND CURRENT ROW) AS lt_u
      FROM stream),
    attributed AS (
      SELECT cents,
             CAST(date_trunc('day', make_timestamp(ft_u))
                  AS TIMESTAMP) AS ft_day,
             CAST(date_trunc('day', make_timestamp(lt_u))
                  AS TIMESTAMP) AS lt_day
      FROM framed WHERE cents IS NOT NULL AND lt_u IS NOT NULL),
    ft AS (SELECT ft_day AS day,
                  CAST(sum(cents) AS BIGINT) AS first_touch_cents,
                  CAST(count(*) AS BIGINT) AS n_first
           FROM attributed GROUP BY 1),
    lt AS (SELECT lt_day AS day,
                  CAST(sum(cents) AS BIGINT) AS last_touch_cents,
                  CAST(count(*) AS BIGINT) AS n_last
           FROM attributed GROUP BY 1)
    SELECT COALESCE(ft.day, lt.day) AS day,
           CAST(COALESCE(first_touch_cents, 0) AS BIGINT)
               AS first_touch_cents,
           CAST(COALESCE(n_first, 0) AS BIGINT) AS n_first,
           CAST(COALESCE(last_touch_cents, 0) AS BIGINT)
               AS last_touch_cents,
           CAST(COALESCE(n_last, 0) AS BIGINT) AS n_last
    FROM ft FULL OUTER JOIN lt ON ft.day = lt.day
    ORDER BY day
    """,
    doc="first-touch vs last-touch revenue attribution with a 7-day "
        "lookback: both models come out of ONE user-partitioned "
        "range-frame window (min/max click time over the exact-"
        "microsecond value range [u-7d, u]) on the unioned click/"
        "purchase stream — one exchange, one sort, the two frames "
        "shared — then a per-day rollup of integer cents credited to "
        "each model's touch day, full-outer joined so the two models "
        "line up per day. Unattributed purchases (no click in the "
        "window) are excluded from both, keeping the columns "
        "comparable. At 100 TB: the same one-pass shape as the as-of "
        "join, with frame state bounded by the lookback",
    exchanges=5,
)
def touch_attribution_revenue(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    stream = (ev.filter(F.col("event_type").isin("click", "purchase"))
              .select(
                  "user_id", F.unix_micros("ts").alias("u"),
                  F.when(F.col("event_type") == "click",
                         F.unix_micros("ts")).alias("click_u"),
                  F.when(F.col("event_type") == "purchase",
                         F.round(F.col("value") * 100).cast("bigint"))
                  .alias("cents")))
    w = (Window.partitionBy("user_id").orderBy("u")
         .rangeBetween(-_ATTR_LOOKBACK_US, Window.currentRow))
    framed = (stream
              .withColumn("ft_u", F.min("click_u").over(w))
              .withColumn("lt_u", F.max("click_u").over(w))
              .filter(F.col("cents").isNotNull()
                      & F.col("lt_u").isNotNull()))
    att = framed.select(
        "cents",
        F.date_trunc("day", F.timestamp_micros(F.col("ft_u")))
        .alias("ft_day"),
        F.date_trunc("day", F.timestamp_micros(F.col("lt_u")))
        .alias("lt_day"))
    ft = (att.groupBy(F.col("ft_day").alias("day"))
          .agg(F.sum("cents").cast("long").alias("first_touch_cents"),
               F.count(F.lit(1)).cast("long").alias("n_first")))
    lt = (att.groupBy(F.col("lt_day").alias("day"))
          .agg(F.sum("cents").cast("long").alias("last_touch_cents"),
               F.count(F.lit(1)).cast("long").alias("n_last")))
    return (ft.join(lt, "day", "full_outer")
            .select("day",
                    F.coalesce("first_touch_cents", F.lit(0))
                    .cast("long").alias("first_touch_cents"),
                    F.coalesce("n_first", F.lit(0)).cast("long")
                    .alias("n_first"),
                    F.coalesce("last_touch_cents", F.lit(0))
                    .cast("long").alias("last_touch_cents"),
                    F.coalesce("n_last", F.lit(0)).cast("long")
                    .alias("n_last"))
            .orderBy("day"))


# ---------------------------------------------------------------------------
# Simple filter-aggregate (TPC-H Q6 shape): the pushdown showcase —
# every predicate reaches the parquet scan, the agg is one partial+final

@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT ROUND(CAST(sum(l_extendedprice * l_discount) AS DOUBLE), 2)
               AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="filter-heavy whole-table aggregate (TPC-H Q6 shape); all four "
        "predicates push into the parquet scan",
    exchanges=1,
)
def q6_forecast_revenue(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00")
             .cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00")
               .cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24))
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * F.col("l_discount")), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


# ---------------------------------------------------------------------------
# Conditional aggregation / pivot shape (TPC-H Q12 flavor)

@query(
    "event_type_pivot",
    oracle="""
    SELECT user_id,
           count(*) FILTER (event_type = 'click')    AS n_click,
           count(*) FILTER (event_type = 'view')     AS n_view,
           count(*) FILTER (event_type = 'purchase') AS n_purchase,
           ROUND(CAST(COALESCE(sum(value)
                 FILTER (event_type = 'purchase'), 0.0) AS DOUBLE), 6)
               AS purchase_value
    FROM events GROUP BY user_id
    """,
    doc="pivot via conditional aggregation (count/sum FILTER) — the "
        "shuffle-free way to widen by category",
    exchanges=1,
)
def event_type_pivot(spark, sf_dir):
    ev = table(spark, sf_dir, "events")

    def cnt(t):
        return F.count(F.when(F.col("event_type") == t, 1))

    return ev.groupBy("user_id").agg(
        cnt("click").alias("n_click"),
        cnt("view").alias("n_view"),
        cnt("purchase").alias("n_purchase"),
        F.round(F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase",
                         F.col("value"))), F.lit(0.0)), 6)
         .alias("purchase_value"),
    )


# ---------------------------------------------------------------------------
# Promo-share (TPC-H Q14 shape): conditional numerator over a join

@query(
    "q14_promo_share",
    oracle="""
    SELECT ROUND(CAST(100.0 * sum(CASE WHEN p_type = 'PROMO'
               THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
               / sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 6)
               AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
    """,
    doc="conditional-numerator ratio over a broadcast join "
        "(TPC-H Q14 shape)",
    exchanges=1,
)
def q14_promo_share(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00")
         .cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01 00:00:00")
           .cast("timestamp")))
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(F.round(
            100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev)
                          .otherwise(F.lit(0.0))) / F.sum(rev), 6)
            .alias("promo_share"))
    )


# ---------------------------------------------------------------------------
# Scalar-subquery shape: orders larger than their customer's average

@query(
    "orders_above_customer_avg",
    oracle="""
    WITH avgs AS (
      SELECT o_custkey AS k, avg(o_totalprice) AS cust_avg
      FROM orders GROUP BY 1)
    SELECT o_orderkey, o_custkey,
           ROUND(o_totalprice, 2) AS o_totalprice,
           ROUND(CAST(cust_avg AS DOUBLE), 6) AS cust_avg
    FROM orders JOIN avgs ON o_custkey = k
    WHERE o_totalprice > 1.5 * cust_avg
    """,
    doc="correlated-scalar-subquery shape, decorrelated into an "
        "aggregate + join (what Catalyst does to EXISTS/IN too)",
    exchanges=1,
)
def orders_above_customer_avg(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    avgs = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.avg("o_totalprice").alias("cust_avg"))
    return (
        orders.join(avgs, orders.o_custkey == avgs.k)
        .filter(F.col("o_totalprice") > 1.5 * F.col("cust_avg"))
        .select("o_orderkey", "o_custkey",
                F.round("o_totalprice", 2).alias("o_totalprice"),
                F.round("cust_avg", 6).alias("cust_avg"))
    )


# ---------------------------------------------------------------------------
# W5/W6: first/last values per series (reference main.py:383, 420, 437)

@query(
    "last_tick_per_user",
    oracle="""
    SELECT user_id,
           min(ts) AS first_ts, max(ts) AS last_ts,
           ROUND((min({'t': ts, 'i': event_id, 'v': value})).v, 6)
               AS first_value,
           ROUND((max({'t': ts, 'i': event_id, 'v': value})).v, 6)
               AS last_value,
           count(*) AS n_ticks
    FROM events GROUP BY user_id
    """,
    doc="W5/W6 first/last row values per series via min_by/max_by — "
        "single hash aggregate, no window sort",
    exchanges=1,
)
def last_tick_per_user(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    # first/last by the COMPOSITE (ts, event_id) key: min_by/max_by on
    # ts alone picks an arbitrary tied row, and the two engines need
    # not agree on which — lexicographic struct extrema are the
    # deterministic twin (same field order on both sides)
    key = lambda: [F.col("ts"), F.col("event_id"),
                   F.col("value").alias("__v")]
    return ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.round(F.min(F.struct(*key())).getField("__v"), 6)
        .alias("first_value"),
        F.round(F.max(F.struct(*key())).getField("__v"), 6)
        .alias("last_value"),
        F.count(F.lit(1)).alias("n_ticks"),
    )


# ---------------------------------------------------------------------------
# HAVING over a join (TPC-H Q18 shape)

@query(
    "q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150)
    SELECT o.o_orderkey, o.o_custkey,
           ROUND(o.o_totalprice, 2) AS o_totalprice,
           ROUND(CAST(b.total_qty AS DOUBLE), 2) AS total_qty
    FROM orders o JOIN big b ON o.o_orderkey = b.l_orderkey
    """,
    doc="grouped HAVING feeding a join (TPC-H Q18 shape); the aggregate "
        "side shrinks before the join, never after",
    exchanges=1,
)
def q18_large_orders(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("total_qty"))
           .filter(F.col("total_qty") > 150))
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .select("o_orderkey", "o_custkey",
                F.round("o_totalprice", 2).alias("o_totalprice"),
                F.round(F.col("total_qty").cast("double"), 2)
                 .alias("total_qty"))
    )


# ---------------------------------------------------------------------------
# Returned-revenue ranking (TPC-H Q10 shape)

@query(
    "q10_top_return_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           ROUND(CAST(sum(l.l_extendedprice * (1 - l.l_discount))
                 AS DOUBLE), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="returned-item revenue per customer, deterministic top-20 "
        "(TPC-H Q10 shape)",
    exchanges=1,
)
def q10_top_return_customers(spark, sf_dir):
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount")
    nation = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Gap-based sessionization: the classic event-stream operator

@query(
    "sessionize_events",
    oracle="""
    WITH gaps AS (
      SELECT event_id, user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id)
                     IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sess AS (
      SELECT event_id, user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_id
      FROM gaps)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM sess
    GROUP BY user_id, session_id
    """,
    doc="gap-based sessionization (30-min inactivity): lag + cumulative "
        "flag sum + grouped bounds, one window partitioning throughout",
    exchanges=1,
)
def sessionize_events(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # microsecond-exact gap compare (unix_timestamp truncates to seconds
    # and would disagree with the oracle's interval comparison on
    # fractional-second gaps)
    new_session = F.when(
        prev_ts.isNull()
        | ((F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts))
           > 1800 * 1_000_000),
        1).otherwise(0)
    run = (Window.partitionBy("user_id").orderBy("ts", "event_id")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        ev.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(run))
        .groupBy("user_id",
                 F.col("session_id").cast("long").alias("session_id"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"))
    )


# ---------------------------------------------------------------------------
# §2.12 pipeline 2: MA-crossover backtest (U2). The general operator is
# a sequential stateful fold (the budget gate makes trade i depend on
# all prior trades), but at THESE parameters (budget = 10x per_trade,
# max_trades=None) the gate can only bind after 9+ near-total-loss
# trades, which never happens on the test corpus — so the fold reduces
# to a pure window computation: cross events, drop the leading deaths,
# collapse same-type runs (keep the first of each run == "ignore golden
# while holding / death while flat"), pair golden k with death k+1, and
# force-close an unpaired final golden at the series' last row. That IS
# ANSI-SQL-expressible, so the driver gets an exact oracle; the general
# gated/max_trades semantics stay pinned by the golden tests against an
# independent reimplementation (tests/test_backtest.py).

_CROSSOVER_KEPT_SQL = """
    ma AS (
      SELECT user_id, ts, event_id, value,
             avg(value) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS s,
             avg(value) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS l
      FROM events
    ), lagged AS (
      SELECT user_id, ts, event_id, value, s, l,
             lag(s) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS ps,
             lag(l) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS pl
      FROM ma
    ), ev AS (
      SELECT user_id, ts, event_id, value,
             COALESCE(ps <= pl AND s > l, FALSE) AS g
      FROM lagged
      WHERE COALESCE(ps <= pl AND s > l, FALSE)
         OR COALESCE(ps >= pl AND s < l, FALSE)
    ), gated AS (
      SELECT e.* FROM ev e
      JOIN (SELECT user_id, min(ts) AS g0 FROM ev WHERE g
            GROUP BY user_id) f
        ON e.user_id = f.user_id AND e.ts >= f.g0
    ), runs AS (
      SELECT *, lag(g) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS pg
      FROM gated
    ), kept AS (
      SELECT user_id, ts, value, g,
             row_number() OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS krn
      FROM runs WHERE pg IS NULL OR g <> pg
    ), lastrow AS (
      SELECT user_id, max(ts) AS last_ts,
             (max({'t': ts, 'i': event_id, 'v': value})).v AS last_price
      FROM events GROUP BY user_id
    ), trades AS (
      SELECT k.user_id, k.ts AS entry_date, k.value AS entry_price,
             COALESCE(x.ts, lr.last_ts) AS exit_date,
             COALESCE(x.value, lr.last_price) AS exit_price
      FROM kept k
      LEFT JOIN kept x
        ON x.user_id = k.user_id AND x.krn = k.krn + 1
      JOIN lastrow lr ON lr.user_id = k.user_id
      WHERE k.g
    )
"""


@query(
    "ma_crossover_backtest",
    oracle=f"""
    WITH {_CROSSOVER_KEPT_SQL},
    per_user AS (
      SELECT user_id, count(*) AS n_trades,
             sum(1000.0 / entry_price * exit_price - 1000.0) AS pnl
      FROM trades GROUP BY user_id
    )
    SELECT u.user_id,
           CAST(COALESCE(p.n_trades, 0) AS BIGINT) AS n_trades,
           ROUND(10000.0 + COALESCE(p.pnl, 0.0), 6) AS final_value,
           ROUND(((10000.0 + COALESCE(p.pnl, 0.0)) - 10000.0)
                 / 10000.0 * 100.0, 6) AS roi
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN per_user p USING (user_id)
    """,
    doc="§2.12 pipeline 2: per-symbol MA(5/20) crossover backtest via "
        "mapInPandas (reference main.py:392-446); sequential stateful "
        "fold, parallel across symbols; exact oracle via the "
        "run-collapse window reduction (valid because the cash gate "
        "never binds at budget=10x per_trade on this corpus)",
    bench=True,
    exchanges=1,
)
def ma_crossover_backtest_q(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("user_id", "ts",
                                               "event_id", "value")
    res = ma_crossover_backtest(
        ev, symbol_col="user_id", order_col=["ts", "event_id"],
        price_col="value", budget=10_000.0, per_trade=1_000.0)
    return res.select(
        "user_id", F.col("n_trades").cast("long").alias("n_trades"),
        F.round("final_value", _R).alias("final_value"),
        F.round("roi", _R).alias("roi"))


@query(
    "ma_crossover_positions",
    oracle=f"""
    WITH {_CROSSOVER_KEPT_SQL}
    SELECT user_id, entry_date,
           ROUND(entry_price, 6) AS entry_price,
           exit_date, ROUND(exit_price, 6) AS exit_price
    FROM trades
    """,
    doc="positions table emitted by the crossover backtest "
        "(entry/exit pairs incl. forced final close, main.py:419-439); "
        "exact oracle: entry/exit are raw tick values, so no fp "
        "accumulation enters the comparison at all",
    exchanges=1,
)
def ma_crossover_positions_q(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("user_id", "ts",
                                               "event_id", "value")
    pos = ma_crossover_backtest(
        ev, symbol_col="user_id", order_col=["ts", "event_id"],
        price_col="value", budget=10_000.0, per_trade=1_000.0,
        emit="positions")
    return pos.select(
        "user_id", "entry_date",
        F.round("entry_price", _R).alias("entry_price"),
        "exit_date", F.round("exit_price", _R).alias("exit_price"))


# ---------------------------------------------------------------------------
# SCD Type-2 dimension build: change events -> validity intervals.
# The standard warehouse shape (customer attribute history, model
# version rollouts): collapse runs of the unchanged attribute, open an
# interval at each change, close it with the next change's timestamp.

@query(
    "scd2_user_state",
    oracle="""
    WITH ch AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id)
                 AS prev
      FROM events
    ), kept AS (
      SELECT user_id, event_id, event_type AS state, ts AS valid_from
      FROM ch WHERE prev IS NULL OR event_type <> prev
    )
    SELECT user_id, state, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                 ORDER BY valid_from, event_id) AS valid_to,
           CAST(row_number() OVER (PARTITION BY user_id
                 ORDER BY valid_from, event_id) AS BIGINT)
               AS version,
           (lead(valid_from) OVER (PARTITION BY user_id
                 ORDER BY valid_from, event_id) IS NULL)
               AS is_current
    FROM kept ORDER BY user_id, valid_from
    """,
    doc="SCD Type-2 dimension build from a change stream: run-collapse "
        "on the tracked attribute, then lead() closes each validity "
        "interval; both windows share one (user) exchange. The "
        "daily-merge variant of this shape is upsert_customers_merge",
    exchanges=2,
)
def scd2_user_state(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    kept = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNull()
                | (F.col("event_type") != F.col("prev")))
        .select("user_id", "event_id",
                F.col("event_type").alias("state"),
                F.col("ts").alias("valid_from"))
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return (
        kept.withColumn("valid_to", F.lead("valid_from").over(w2))
        .withColumn("version", F.row_number().over(w2).cast("long"))
        .withColumn("is_current", F.col("valid_to").isNull())
        .select("user_id", "state", "valid_from", "valid_to",
                "version", "is_current")
        .orderBy("user_id", "valid_from")
    )


# ---------------------------------------------------------------------------
# Full outer join: daily click/purchase activity grid

@query(
    "full_outer_daily_activity",
    oracle="""
    WITH c AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
                      CAST(count(*) AS BIGINT) AS n_clicks
               FROM events WHERE event_type = 'click' GROUP BY 1, 2),
    p AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
                 CAST(count(*) AS BIGINT) AS n_purchases
          FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
    SELECT COALESCE(c.user_id, p.user_id) AS user_id,
           COALESCE(c.day, p.day) AS day,
           COALESCE(c.n_clicks, 0) AS n_clicks,
           COALESCE(p.n_purchases, 0) AS n_purchases
    FROM c FULL OUTER JOIN p
      ON c.user_id = p.user_id AND c.day = p.day
    ORDER BY user_id, day
    """,
    doc="FULL OUTER join of per-(user, day) click counts against "
        "purchase counts with coalesced keys — days with only one side "
        "survive with a zero on the other. Completes the join-type "
        "surface (inner/left/semi/anti/asof/range elsewhere); full "
        "outer cannot broadcast either side, so the plan is the "
        "shuffle sort-merge both sides on the same key — which AQE "
        "coalesces after the upstream aggregates have already shrunk "
        "the data to per-key rows",
    exchanges=3,
)
def full_outer_daily_activity(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")

    def per_day(etype, out):
        return (ev.filter(F.col("event_type") == etype)
                .groupBy("user_id", day)
                .agg(F.count(F.lit(1)).alias(out)))

    c = per_day("click", "n_clicks")
    p = (per_day("purchase", "n_purchases")
         .withColumnRenamed("user_id", "p_user")
         .withColumnRenamed("day", "p_day"))
    return (
        c.join(p, (F.col("user_id") == F.col("p_user"))
               & (F.col("day") == F.col("p_day")), "full_outer")
        .select(
            F.coalesce("user_id", "p_user").alias("user_id"),
            F.coalesce("day", "p_day").alias("day"),
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"))
        .orderBy("user_id", "day")
    )


# ---------------------------------------------------------------------------
# Rank-distribution windows: percent_rank / cume_dist / ntile together

@query(
    "user_spend_rank_distribution",
    oracle="""
    WITH spend AS (
      SELECT user_id,
             CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS spend_cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1)
    SELECT user_id, spend_cents,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cume,
           CAST(ntile(10) OVER w AS BIGINT) AS decile
    FROM spend
    WINDOW w AS (ORDER BY spend_cents, user_id)
    ORDER BY user_id
    """,
    doc="the rank-distribution family — percent_rank, cume_dist, "
        "ntile(10) — computed WITHOUT the partition-less window they "
        "textbook-compile to (which collapses all rows into one task): "
        "the two-phase distributed global rank (operators/ranking.py, "
        "bucket = spend DIV $1000 as an order-prefix coarsening) gives "
        "each user its total position r, and all three statistics are "
        "closed forms of (r, n) under the unique (spend, user_id) "
        "ordering: pct_rank=(r-1)/(n-1), cume=r/n, and ntile's "
        "first-(n%k)-tiles-get-the-extra-row rule as a piecewise "
        "expression. The oracle runs the real window functions — "
        "matching them exactly proves the distributed decomposition "
        "correct. At 100 TB: one bucket-key exchange + two tiny "
        "broadcasts; no single-partition sort of user-scale data",
    exchanges=8,
)
def user_spend_rank_distribution(spark, sf_dir):
    from ..operators.ranking import global_rank, ntile_from_rank
    ev = table(spark, sf_dir, "events")
    spend = (ev.filter(F.col("event_type") == "purchase")
             .groupBy("user_id")
             .agg(F.sum(F.round(F.col("value") * 100).cast("bigint"))
                  .alias("spend_cents")))
    ranked = global_rank(
        spend, F.expr("CAST(spend_cents DIV 100000 AS BIGINT)"),
        ["spend_cents", "user_id"], "r")
    n_tot = spend.agg(F.count(F.lit(1)).alias("n"))
    r, n = F.col("r"), F.col("n")
    decile = ntile_from_rank(r, n, 10)
    return (
        ranked.crossJoin(F.broadcast(n_tot))
        .select(
            "user_id", "spend_cents",
            F.round((r - 1).cast("double") / (n - 1), 6)
            .alias("pct_rank"),
            F.round(r.cast("double") / n, 6).alias("cume"),
            decile.alias("decile"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Deterministic string aggregation (listagg)

@query(
    "listagg_sources_by_lang",
    oracle="""
    WITH per AS (SELECT DISTINCT lang, source FROM documents)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_sources,
           string_agg(source, ',' ORDER BY source) AS sources
    FROM per GROUP BY lang ORDER BY lang
    """,
    doc="string aggregation (LISTAGG/string_agg) with a deterministic "
        "element order: distinct (lang, source) pairs collapsed to a "
        "sorted comma-joined list per lang — collect_set order is "
        "engine/partitioning-dependent, so the list is array_sort-ed "
        "before joining (the only way a concatenated aggregate can "
        "ever hash-match across engines). Reduction is map-side "
        "combinable; the value per group is bounded by source "
        "cardinality, not row count",
    exchanges=3,
)
def listagg_sources_by_lang(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("lang", "source").distinct()
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sources"),
             F.array_join(F.array_sort(F.collect_list("source")), ",")
             .alias("sources"))
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL)

@query(
    "set_ops_bag_semantics",
    oracle="""
    WITH click_days AS (
      SELECT user_id, strftime(ts, '%Y-%m-%d') AS day FROM events
      WHERE event_type = 'click'),
    view_days AS (
      SELECT user_id, strftime(ts, '%Y-%m-%d') AS day FROM events
      WHERE event_type = 'view'),
    both_all AS (
      SELECT user_id, day FROM click_days
      INTERSECT ALL
      SELECT user_id, day FROM view_days),
    only_clicks AS (
      SELECT user_id, day FROM click_days
      EXCEPT ALL
      SELECT user_id, day FROM view_days)
    SELECT 'intersect_all' AS op, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM both_all
    UNION ALL
    SELECT 'except_all', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT user_id) AS BIGINT)
    FROM only_clicks
    ORDER BY op
    """,
    doc="bag-semantics set operations: INTERSECT ALL keeps min(m, n) "
        "copies of a duplicated row and EXCEPT ALL keeps max(m - n, 0) "
        "— semantics DISTINCT-based set ops cannot express (a user "
        "with 3 click-days and 1 view-day on the same date contributes "
        "2 rows to EXCEPT ALL, 0 to EXCEPT). Spark's "
        "intersectAll/exceptAll compile to count-compare aggregates "
        "with map-side partials, same cost shape as a groupBy — no "
        "row-by-row matching",
    exchanges=6,
)
def set_ops_bag_semantics(spark, sf_dir):
    ev = table(spark, sf_dir, "events")

    def days(etype):
        return (ev.filter(F.col("event_type") == etype)
                .select("user_id",
                        F.date_format("ts", "yyyy-MM-dd").alias("day")))

    both_all = days("click").intersectAll(days("view"))
    only_clicks = days("click").exceptAll(days("view"))

    def summarize(df, op):
        return df.agg(F.lit(op).alias("op"),
                      F.count(F.lit(1)).alias("n_rows"),
                      F.countDistinct("user_id").alias("n_users"))

    return (summarize(both_all, "intersect_all")
            .unionAll(summarize(only_clicks, "except_all"))
            .orderBy("op"))


# ---------------------------------------------------------------------------
# TWAP / VWAP: the standard trading price aggregations

@query(
    "twap_per_user",
    oracle="""
    WITH ord AS (
      SELECT user_id,
             CAST(ROUND(value * 100) AS BIGINT) AS vc,
             CAST(floor(epoch(ts)) AS BIGINT) AS t,
             lead(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS t_next
      FROM events),
    seg AS (SELECT user_id, vc, t_next - t AS dur
            FROM ord WHERE t_next IS NOT NULL),
    g AS (SELECT user_id,
                 CAST(count(*) AS BIGINT) AS n_segments,
                 CAST(sum(dur) AS BIGINT) AS total_secs,
                 CAST(sum(vc * dur) AS HUGEINT) AS wsum
          FROM seg WHERE dur > 0 GROUP BY user_id)
    SELECT user_id, n_segments, total_secs,
           CAST(CASE WHEN wsum >= 0 THEN
                  (2 * wsum * 10000 + total_secs)
                  // (2 * CAST(total_secs AS HUGEINT))
                ELSE
                  -((2 * (-wsum) * 10000 + total_secs)
                    // (2 * CAST(total_secs AS HUGEINT)))
                END AS DOUBLE) / 1000000.0 AS twap
    FROM g ORDER BY user_id
    """,
    doc="time-weighted average price per user: each observation holds "
        "until the next one, so its weight is the inter-event duration "
        "(exact integer seconds x integer cents -> exact BIGINT "
        "weighted sums; the division is the only float op and runs "
        "identically on both engines). The lead() window partitions by "
        "user — per-key, never global. TWAP is what a trading engine "
        "reports when ticks arrive irregularly and a plain mean would "
        "over-weight bursts",
    exchanges=2,
)
def twap_per_user(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_timestamp("ts")
    ordv = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
        t.alias("t"), F.lead(t).over(w).alias("t_next"))
    seg = (ordv.filter(F.col("t_next").isNotNull())
           .select("user_id", "vc",
                   (F.col("t_next") - F.col("t")).alias("dur"))
           .filter(F.col("dur") > 0))
    return (
        seg.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_segments"),
             F.sum("dur").alias("total_secs"),
             signed_ratio_round6(F.sum(F.col("vc") * F.col("dur")),
                                 100 * F.sum("dur")).alias("twap"))
        .orderBy("user_id")
    )


@query(
    "vwap_per_part",
    oracle="""
    WITH g AS (
      SELECT l_partkey,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                 AS total_qty,
             CAST(sum(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS HUGEINT)
                 AS wsum
      FROM lineitem GROUP BY l_partkey HAVING count(*) >= 8)
    SELECT l_partkey, n_lines, total_qty,
           CAST(CASE WHEN wsum >= 0 THEN
                  (2 * wsum * 10000 + total_qty)
                  // (2 * CAST(total_qty AS HUGEINT))
                ELSE
                  -((2 * (-wsum) * 10000 + total_qty)
                    // (2 * CAST(total_qty AS HUGEINT)))
                END AS DOUBLE) / 1000000.0 AS vwap
    FROM g ORDER BY l_partkey
    """,
    doc="volume-weighted average price per part over lineitem: "
        "integer-cents price x integer quantity -> exact BIGINT "
        "weighted sums, one map-side-combinable aggregate (the same "
        "plan as a count at any scale). HAVING keeps parts with "
        "enough fills for the average to mean something — the "
        "execution-quality benchmark every trading desk computes. The "
        "6-decimal rounding is pure integer arithmetic (see "
        "operators/exact.py) because cents/qty quotients land on "
        "exact 5e-7 boundaries where the engines' ROUND(double) "
        "disagree — caught by the cross-SF sweep at sf0.1",
    exchanges=2,
)
def vwap_per_part(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    qty = F.col("l_quantity").cast("bigint")
    return (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_lines"),
             F.sum(qty).alias("total_qty"),
             signed_ratio_round6(F.sum(cents * qty), 100 * F.sum(qty))
             .alias("vwap"))
        .filter(F.col("n_lines") >= 8)
        .orderBy("l_partkey")
    )


# ---------------------------------------------------------------------------
# Candlestick pattern scan over daily OHLC bars

@query(
    "candle_patterns",
    oracle="""
    WITH bars AS (
      SELECT user_id,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS bar_day,
             CAST(ROUND((min(struct_pack(t := ts, e := event_id,
                                         v := value))).v * 100)
                 AS BIGINT) AS o,
             CAST(ROUND((max(struct_pack(t := ts, e := event_id,
                                         v := value))).v * 100)
                 AS BIGINT) AS c,
             CAST(ROUND(max(value) * 100) AS BIGINT) AS h,
             CAST(ROUND(min(value) * 100) AS BIGINT) AS l
      FROM events GROUP BY 1, 2),
    seq AS (
      SELECT user_id, bar_day, o, c, h, l,
             lag(o) OVER w AS po, lag(c) OVER w AS pc
      FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY bar_day)),
    pat AS (
      SELECT user_id, bar_day,
             (abs(c - o) * 10 <= (h - l)) AS doji,
             (po IS NOT NULL AND pc < po AND c > o
              AND o <= pc AND c >= po) AS bull_engulf,
             (po IS NOT NULL AND pc > po AND c < o
              AND o >= pc AND c <= po) AS bear_engulf
      FROM seq)
    SELECT user_id, bar_day,
           CASE WHEN bull_engulf THEN 'bull_engulf'
                WHEN bear_engulf THEN 'bear_engulf'
                ELSE 'doji' END AS pattern
    FROM pat WHERE doji OR bull_engulf OR bear_engulf
    ORDER BY user_id, bar_day
    """,
    doc="candlestick pattern scan: daily OHLC bars (integer cents) -> "
        "doji (body <= 10% of range) and bullish/bearish engulfing "
        "(prior bar's body contained in an opposite-color body) via "
        "one lag window per symbol. All comparisons are pure integer "
        "arithmetic on cents, so pattern flags can never flip on fp "
        "noise; the bar table is days x symbols rows, so the window "
        "input is already aggregate-sized at any tick volume",
    exchanges=3,
)
def candle_patterns(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    tagged = F.struct(F.col("ts").alias("t"),
                      F.col("event_id").alias("e"),
                      F.col("value").alias("v"))
    cents = lambda col: F.round(col * 100).cast("bigint")  # noqa: E731
    bars = (
        ev.groupBy("user_id",
                   F.date_trunc("day", F.col("ts")).alias("bar_day"))
        .agg(cents(F.min(tagged)["v"]).alias("o"),
             cents(F.max(tagged)["v"]).alias("c"),
             cents(F.max("value")).alias("h"),
             cents(F.min("value")).alias("l")))
    w = Window.partitionBy("user_id").orderBy("bar_day")
    seq = bars.select(
        "user_id", "bar_day", "o", "c", "h", "l",
        F.lag("o").over(w).alias("po"), F.lag("c").over(w).alias("pc"))
    o, c, h, l = F.col("o"), F.col("c"), F.col("h"), F.col("l")
    po, pc = F.col("po"), F.col("pc")
    doji = F.abs(c - o) * 10 <= (h - l)
    bull = po.isNotNull() & (pc < po) & (c > o) & (o <= pc) & (c >= po)
    bear = po.isNotNull() & (pc > po) & (c < o) & (o >= pc) & (c <= po)
    pattern = (F.when(bull, "bull_engulf").when(bear, "bear_engulf")
               .otherwise("doji"))
    return (
        seq.filter(doji | bull | bear)
        .select("user_id", "bar_day", pattern.alias("pattern"))
        .orderBy("user_id", "bar_day")
    )


# ---------------------------------------------------------------------------
# Historical VaR from daily close-to-close returns

@query(
    "daily_var_per_user",
    oracle="""
    WITH bars AS (
      SELECT user_id, date_trunc('day', ts) AS bar_day,
             CAST(ROUND((max(struct_pack(t := ts, e := event_id,
                                         v := value))).v * 100)
                 AS BIGINT) AS close_cents
      FROM events GROUP BY 1, 2),
    lagged AS (
      SELECT user_id, close_cents,
             lag(close_cents) OVER (PARTITION BY user_id
                                    ORDER BY bar_day) AS prev
      FROM bars),
    rets AS (
      SELECT user_id,
             CASE WHEN prev <> 0 THEN
               CAST(close_cents AS DOUBLE) / CAST(prev AS DOUBLE) - 1.0
             END AS ret
      FROM lagged)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_days,
           ROUND(-CAST(quantile_cont(ret, 0.05) AS DOUBLE), 6) AS var95,
           ROUND(-min(ret), 6) AS worst_day
    FROM rets WHERE ret IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
    doc="95% historical value-at-risk per symbol: integer-cents daily "
        "closes (struct-max deterministic), close-to-close returns as "
        "ratios of exact integers (identical doubles on both engines), "
        "VaR as the negated 5th interpolated percentile (Spark "
        "percentile == DuckDB quantile_cont) plus the worst single "
        "day. The risk summary every trading desk publishes daily; "
        "per-key windows and aggregates throughout — the return "
        "series per symbol is days-sized regardless of tick volume",
    exchanges=3,
)
def daily_var_per_user(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    tagged = F.struct(F.col("ts").alias("t"),
                      F.col("event_id").alias("e"),
                      F.col("value").alias("v"))
    bars = (
        ev.groupBy("user_id",
                   F.date_trunc("day", F.col("ts")).alias("bar_day"))
        .agg(F.round(F.max(tagged)["v"] * 100).cast("bigint")
             .alias("close_cents")))
    w = Window.partitionBy("user_id").orderBy("bar_day")
    prev = F.lag("close_cents").over(w)
    # a 0-cent close would divide by zero (ANSI error here, +inf in
    # DuckDB): guard it out identically on both engines
    rets = bars.select(
        "user_id",
        F.when(prev != 0,
               F.col("close_cents").cast("double")
               / prev.cast("double") - 1.0).alias("ret"))
    return (
        rets.filter(F.col("ret").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_days"),
             F.round(-F.percentile("ret", F.lit(0.05)), _R)
             .alias("var95"),
             F.round(-F.min("ret"), _R).alias("worst_day"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Round 4: governance + frontier + interval analytics


@query(
    "k_anonymity_audit",
    oracle="""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
             CAST(count(*) AS BIGINT) AS group_n
      FROM customer GROUP BY 1, 2, 3)
    SELECT c_nationkey, c_mktsegment, bal_bucket, group_n
    FROM g WHERE group_n < 5
    ORDER BY c_nationkey, c_mktsegment, bal_bucket
    """,
    doc="k-anonymity audit over quasi-identifiers (nation, market "
        "segment, $1000 balance bucket): emit every equivalence class "
        "smaller than k=5 — the rows a privacy review must generalize "
        "or suppress before the table can ship as training data. One "
        "map-side-combined groupBy; the quasi-identifier filter "
        "happens post-aggregate on group counts, so the shuffle "
        "carries one row per class, not per customer",
    # one agg + output sort
    exchanges=2,
)
def k_anonymity_audit(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    g = (cust.groupBy(
            "c_nationkey", "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("bigint")
            .alias("bal_bucket"))
         .agg(F.count(F.lit(1)).alias("group_n")))
    return (g.filter(F.col("group_n") < 5)
            .select("c_nationkey", "c_mktsegment", "bal_bucket",
                    "group_n")
            .orderBy("c_nationkey", "c_mktsegment", "bal_bucket"))


@query(
    "l_diversity_audit",
    oracle="""
    WITH g AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
             CAST(count(*) AS BIGINT) AS group_n,
             CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l_div
      FROM customer GROUP BY 1, 2)
    SELECT c_nationkey, bal_bucket, group_n, l_div
    FROM g WHERE l_div < 3
    ORDER BY c_nationkey, bal_bucket
    """,
    doc="l-diversity audit, the attack k-anonymity misses: a class "
        "can be large (k-anonymous) yet give its sensitive attribute "
        "away because every member SHARES it. Per quasi-identifier "
        "class (nation, $1000 balance bucket), count DISTINCT values "
        "of the sensitive attribute (market segment) and emit classes "
        "with fewer than l=3 — homogeneous groups a privacy review "
        "must generalize even when k_anonymity_audit passes them. "
        "One groupBy with a distinct-count (two-phase partial under "
        "the hood); the shuffle carries one row per class",
    exchanges=3,
)
def l_diversity_audit(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    g = (cust.groupBy(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000).cast("bigint")
            .alias("bal_bucket"))
         .agg(F.count(F.lit(1)).cast("long").alias("group_n"),
              F.countDistinct("c_mktsegment").cast("long")
              .alias("l_div")))
    return (g.filter(F.col("l_div") < 3)
            .select("c_nationkey", "bal_bucket", "group_n", "l_div")
            .orderBy("c_nationkey", "bal_bucket"))


@query(
    "t_closeness_audit",
    oracle="""
    WITH cls AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
             c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS cnt
      FROM customer GROUP BY 1, 2, 3),
    grp AS (SELECT c_nationkey, bal_bucket,
                   CAST(sum(cnt) AS BIGINT) AS group_n
            FROM cls GROUP BY 1, 2),
    gseg AS (SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT)
                 AS gcnt
             FROM customer GROUP BY 1),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer),
    lat AS (SELECT g.c_nationkey, g.bal_bucket, g.group_n,
                   s.seg, s.gcnt
            FROM grp g CROSS JOIN gseg s),
    terms AS (
      SELECT l.c_nationkey, l.bal_bucket, l.group_n,
             abs(COALESCE(c.cnt, 0) * nn.n - l.gcnt * l.group_n)
                 AS term
      FROM lat l CROSS JOIN nn
      LEFT JOIN cls c ON c.c_nationkey = l.c_nationkey
                     AND c.bal_bucket = l.bal_bucket
                     AND c.seg = l.seg),
    emd AS (
      SELECT c_nationkey, bal_bucket, group_n,
             CAST(sum(term) AS BIGINT) AS emd_scaled
      FROM terms GROUP BY 1, 2, 3)
    SELECT c_nationkey, bal_bucket, group_n, emd_scaled,
           CAST((2 * emd_scaled * 1000000 + 2 * group_n * nn.n)
                // (2 * 2 * group_n * nn.n) AS DOUBLE) / 1000000.0
               AS t6
    FROM emd CROSS JOIN nn
    ORDER BY c_nationkey, bal_bucket
    """,
    doc="t-closeness audit — the third member of the privacy trio "
        "(k_anonymity_audit: class too small; l_diversity_audit: "
        "sensitive values too few; HERE: sensitive DISTRIBUTION too "
        "far from the corpus's, the skew attack l-diversity misses — "
        "a class can carry 3 distinct segments yet be 95% one of "
        "them). Per quasi-identifier class (nation, $1000 balance "
        "bucket), the variational distance t = 1/2 sum|p_i - q_i| "
        "between the class's market-segment distribution and the "
        "global one, carried EXACTLY as emd_scaled = "
        "sum|cnt_i*N - gcnt_i*group_n| (BIGINT; t6 is that over "
        "2*group_n*N, integer-rounded half-up on both engines). The "
        "absent-segment terms matter (|0 - q_i| contributes), so the "
        "class-by-segment lattice is built by cross-joining classes "
        "with the BOUNDED segment domain (5 rows, broadcast) before "
        "the left join. Shuffles carry one row per (class, segment), "
        "never per customer — same scale shape as its two siblings",
    exchanges=6,
)
def t_closeness_audit(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    bucket = F.floor(F.col("c_acctbal") / 1000).cast("bigint")
    cls = (cust.groupBy("c_nationkey", bucket.alias("bal_bucket"),
                        F.col("c_mktsegment").alias("seg"))
           .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    grp = (cls.groupBy("c_nationkey", "bal_bucket")
           .agg(F.sum("cnt").cast("long").alias("group_n")))
    glob = (cust.groupBy(F.col("c_mktsegment").alias("seg"))
            .agg(F.count(F.lit(1)).cast("long").alias("gcnt")))
    nn = cust.agg(F.count(F.lit(1)).cast("long").alias("n"))
    lat = (grp.crossJoin(F.broadcast(glob))
           .crossJoin(F.broadcast(nn)))
    terms = (lat.join(cls, ["c_nationkey", "bal_bucket", "seg"],
                      "left")
             .select("c_nationkey", "bal_bucket", "group_n", "n",
                     F.abs(F.coalesce(F.col("cnt"), F.lit(0))
                           * F.col("n")
                           - F.col("gcnt") * F.col("group_n"))
                     .alias("term")))
    emd = (terms.groupBy("c_nationkey", "bal_bucket", "group_n", "n")
           .agg(F.sum("term").cast("long").alias("emd_scaled")))
    return (emd.select(
        "c_nationkey", "bal_bucket", "group_n", "emd_scaled",
        ratio_round6(F.col("emd_scaled"),
                     2 * F.col("group_n") * F.col("n"))
        .alias("t6"))
        .orderBy("c_nationkey", "bal_bucket"))


@query(
    "skyline_parts_per_brand",
    oracle="""
    SELECT p.p_brand, p.p_partkey,
           ROUND(CAST(p.p_retailprice AS DOUBLE), 2) AS price,
           CAST(p.p_size AS BIGINT) AS size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_brand = p.p_brand
        AND q.p_retailprice <= p.p_retailprice
        AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice
             OR q.p_size > p.p_size))
    ORDER BY p_brand, price, p_partkey
    """,
    doc="per-brand Pareto frontier (skyline) of parts minimizing "
        "price and maximizing size. Not the quadratic NOT-EXISTS the "
        "oracle runs: sort each brand by price, take the running max "
        "size over strictly-cheaper prices (one partitioned window "
        "over per-price group maxes) — a part is dominated iff that "
        "running max beats it, or a same-price part is strictly "
        "bigger. O(n log n) per brand, partitioned windows only, no "
        "self-join of the big side",
    # price-group agg, window, join
    exchanges=3,
)
def skyline_parts_per_brand(spark, sf_dir):
    part = table(spark, sf_dir, "part")
    # per (brand, price): the max size at that exact price
    pmax = (part.groupBy("p_brand", "p_retailprice")
            .agg(F.max("p_size").alias("price_max_size")))
    w = (Window.partitionBy("p_brand").orderBy("p_retailprice")
         .rowsBetween(Window.unboundedPreceding, -1))
    # running max size over all strictly cheaper prices of the brand
    # (pmax has ONE row per price, so rowsBetween(-1) == "all cheaper")
    prev = pmax.withColumn(
        "cheaper_max_size",
        F.max("price_max_size").over(w))
    dom = part.join(prev, ["p_brand", "p_retailprice"])
    return (dom.filter(
                (F.col("cheaper_max_size").isNull()
                 | (F.col("cheaper_max_size") < F.col("p_size")))
                & (F.col("price_max_size") == F.col("p_size")))
            .select(
                "p_brand", "p_partkey",
                F.round(F.col("p_retailprice").cast("double"), 2)
                .alias("price"),
                F.col("p_size").cast("bigint").alias("size"))
            .orderBy("p_brand", "price", "p_partkey"))


@query(
    "interval_overlap_join",
    oracle="""
    WITH a AS (
      SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
             CAST(min(CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT)
                 AS a_start,
             CAST(max(CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT)
                 AS a_end
      FROM events GROUP BY 1, 2),
    hrs AS (
      SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT)
                 AS h_start,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1),
    hot AS (SELECT h_start FROM hrs
            ORDER BY cnt DESC, h_start LIMIT 24)
    SELECT a.user_id, a.day, hot.h_start AS hot_hour_start,
           CAST(least(a.a_end, hot.h_start + 3599)
                - greatest(a.a_start, hot.h_start) + 1 AS BIGINT)
               AS overlap_secs
    FROM a JOIN hot
      ON a.a_start <= hot.h_start + 3599 AND hot.h_start <= a.a_end
    ORDER BY user_id, day, hot_hour_start
    """,
    doc="interval-overlap join: each user's daily activity interval "
        "[first event, last event] against the 24 globally busiest "
        "hours, emitting the overlap in seconds (inclusive grid). The "
        "busy side is top-k'd first (TakeOrderedAndProject) and "
        "broadcast, so the non-equi overlap predicate runs as a "
        "constant-size nested loop per row — O(|intervals| * 24), "
        "never an interval cross join; at 100 TB the big side stays "
        "partition-local and unshuffled",
    exchanges=3,
)
def interval_overlap_join(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", F.unix_timestamp("ts").alias("es"))
    a = (ev.groupBy("user_id",
                    F.date_format("ts", "yyyy-MM-dd").alias("day"))
         .agg(F.min("es").alias("a_start"),
              F.max("es").alias("a_end")))
    hrs = (ev.groupBy(F.unix_timestamp(F.date_trunc("hour", "ts"))
                      .alias("h_start"))
           .agg(F.count(F.lit(1)).alias("cnt")))
    hot = (hrs.orderBy(F.desc("cnt"), "h_start").limit(24)
           .select("h_start"))
    j = a.join(F.broadcast(hot),
               (F.col("a_start") <= F.col("h_start") + 3599)
               & (F.col("h_start") <= F.col("a_end")))
    return (j.select(
                "user_id", "day",
                F.col("h_start").alias("hot_hour_start"),
                (F.least(F.col("a_end"), F.col("h_start") + 3599)
                 - F.greatest(F.col("a_start"), F.col("h_start")) + 1)
                .cast("bigint").alias("overlap_secs"))
            .orderBy("user_id", "day", "hot_hour_start"))


@query(
    "feature_standardize",
    oracle="""
    WITH c AS (
      SELECT event_id, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events),
    st AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s1,
             CAST(sum(cents * cents) AS BIGINT) AS s2
      FROM c GROUP BY 1)
    SELECT c.event_id, c.event_type,
           ROUND(CASE WHEN st.s2 * st.n - st.s1 * st.s1 > 0 THEN
             (c.cents - CAST(st.s1 AS DOUBLE) / st.n)
             / sqrt(CAST(st.s2 AS DOUBLE) / st.n
                    - (CAST(st.s1 AS DOUBLE) / st.n)
                      * (CAST(st.s1 AS DOUBLE) / st.n))
             ELSE 0.0 END, 6) AS zscore
    FROM c JOIN st USING (event_type)
    ORDER BY event_id
    """,
    doc="per-event-type z-score standardization — the feature-scaling "
        "pass before any embedding/regression training. Values are "
        "quantized to exact integer cents so the per-type moment sums "
        "are shuffle-order-independent BIGINTs; mean/variance/z then "
        "evaluate one identical IEEE expression on both engines "
        "(degenerate zero-variance classes emit 0). Stats are one "
        "map-side-combined groupBy (rows = #classes) broadcast back "
        "over the fact — the fact table itself never shuffles",
    # class stats + output sort
    exchanges=2,
)
def feature_standardize(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"))
    st = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"))
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    z = F.when(
        F.col("s2") * F.col("n") - F.col("s1") * F.col("s1") > 0,
        (F.col("cents") - mean) / F.sqrt(var)).otherwise(F.lit(0.0))
    return (ev.join(F.broadcast(st), "event_type")
            .select("event_id", "event_type",
                    F.round(z, 6).alias("zscore"))
            .orderBy("event_id"))


@query(
    "market_basket_lift",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    nb AS (SELECT brand, CAST(count(*) AS BIGINT) AS n
           FROM ob GROUP BY 1),
    nn AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders
           FROM ob),
    pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM ob a JOIN ob b
        ON a.okey = b.okey AND a.brand < b.brand
      GROUP BY 1, 2)
    SELECT brand_a, brand_b, n_ab,
           CAST((2 * CAST(n_ab * nn.n_orders AS HUGEINT) * 1000000
                 + na.n * nb2.n)
                // (2 * CAST(na.n * nb2.n AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS lift,
           CAST((2 * CAST(n_ab AS HUGEINT) * 1000000 + na.n)
                // (2 * CAST(na.n AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS confidence
    FROM pairs
    JOIN nb na ON na.brand = pairs.brand_a
    JOIN nb nb2 ON nb2.brand = pairs.brand_b
    CROSS JOIN nn
    WHERE n_ab >= 3
    ORDER BY lift DESC, brand_a, brand_b LIMIT 50
    """,
    doc="market-basket association rules at brand level: support "
        "counts from one self-equi-join of the per-order distinct-"
        "brand relation (baskets are bounded, so the per-key fan-out "
        "is constant — never a cross product), lift and confidence as "
        "single divisions of exact integer products (bit-identical "
        "both engines), top 50 by lift via TakeOrderedAndProject. The "
        "per-brand totals and the order count are tiny broadcasts",
    exchanges=11,
)
def market_basket_lift(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_partkey")
    part = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"),
        F.col("p_brand").alias("brand"))
    ob = li.join(F.broadcast(part), "l_partkey").select(
        "okey", "brand").distinct()
    nb = ob.groupBy("brand").agg(F.count(F.lit(1)).alias("n"))
    nn = ob.agg(F.countDistinct("okey").alias("n_orders"))
    a = ob.alias("a")
    b = ob.select(F.col("okey"),
                  F.col("brand").alias("brand_b")).alias("b")
    pairs = (a.join(b, (F.col("a.okey") == F.col("b.okey"))
                    & (F.col("a.brand") < F.col("brand_b")))
             .groupBy(F.col("a.brand").alias("brand_a"), "brand_b")
             .agg(F.count(F.lit(1)).alias("n_ab"))
             .filter(F.col("n_ab") >= 3))
    na = nb.select(F.col("brand").alias("brand_a"),
                   F.col("n").alias("n_a"))
    nb2 = nb.select(F.col("brand").alias("brand_b"),
                    F.col("n").alias("n_b"))
    out = (pairs.join(F.broadcast(na), "brand_a")
           .join(F.broadcast(nb2), "brand_b")
           .crossJoin(F.broadcast(nn))
           .select(
               "brand_a", "brand_b", "n_ab",
               ratio_round6(F.col("n_ab") * F.col("n_orders"),
                            F.col("n_a") * F.col("n_b"))
               .alias("lift"),
               ratio_round6(F.col("n_ab"), F.col("n_a"))
               .alias("confidence")))
    return out.orderBy(F.desc("lift"), "brand_a", "brand_b").limit(50)


@query(
    "recursive_interest_schedule",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT user_id,
             CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS principal_cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1 HAVING sum(CAST(ROUND(value * 100) AS BIGINT)) > 0),
    sched(user_id, month, balance_cents) AS (
      SELECT user_id, CAST(0 AS BIGINT), principal_cents FROM base
      UNION ALL
      SELECT user_id, month + 1,
             balance_cents + (balance_cents * 5) // 1200
      FROM sched WHERE month < 12)
    SELECT user_id, month, balance_cents
    FROM sched ORDER BY user_id, month
    """,
    doc="recursive CTE (Spark 4 WITH RECURSIVE, run through spark.sql "
        "on BOTH engines): a 12-month 5%-APR monthly accrual schedule "
        "on each user's purchase principal, in exact integer cents "
        "(accrual = balance*5 DIV 1200, truncating division — "
        "bit-identical on any engine). Row growth is linear (users x "
        "13), so the recursion is a bounded semi-naive loop — the "
        "iterative-computation shape (amortization, BOM explosion, "
        "reachability) SQL engines run without leaving the optimizer",
    exchanges=1,
)
def recursive_interest_schedule(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    view = "events_ris_v"
    ev.select("user_id", "event_type",
              F.round(F.col("value") * 100).cast("bigint")
              .alias("cents")).createOrReplaceTempView(view)
    return spark.sql(f"""
      WITH RECURSIVE base AS (
        SELECT user_id, CAST(sum(cents) AS BIGINT) AS principal_cents
        FROM {view} WHERE event_type = 'purchase'
        GROUP BY 1 HAVING sum(cents) > 0),
      sched(user_id, month, balance_cents) AS (
        SELECT user_id, CAST(0 AS BIGINT), principal_cents FROM base
        UNION ALL
        SELECT user_id, month + 1,
               balance_cents + (balance_cents * 5) DIV 1200
        FROM sched WHERE month < 12)
      SELECT user_id, month, balance_cents
      FROM sched ORDER BY user_id, month
    """)


@query(
    "rolling_market_correlation",
    oracle="""
    WITH bars AS (
      SELECT user_id, date_trunc('day', ts) AS bar_day,
             CAST(ROUND((max(struct_pack(t := ts, e := event_id,
                                         v := value))).v * 100)
                 AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    mkt AS (
      SELECT date_trunc('day', ts) AS bar_day,
             CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS y
      FROM events GROUP BY 1),
    j AS (SELECT b.user_id, b.bar_day, b.x, m.y
          FROM bars b JOIN mkt m USING (bar_day)),
    wnd AS (
      SELECT user_id, bar_day,
             CAST(count(*) OVER w AS BIGINT) AS n,
             CAST(sum(x) OVER w AS BIGINT) AS sx,
             CAST(sum(y) OVER w AS BIGINT) AS sy,
             CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
             CAST(sum(y * y) OVER w AS BIGINT) AS syy,
             CAST(sum(x * y) OVER w AS BIGINT) AS sxy
      FROM j
      WINDOW w AS (PARTITION BY user_id ORDER BY bar_day
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
    SELECT user_id, strftime(bar_day, '%Y-%m-%d') AS day,
           ROUND(CASE WHEN (n * sxx - sx * sx) > 0
                       AND (n * syy - sy * sy) > 0 THEN
             CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
             ELSE 0.0 END, 6) AS corr10
    FROM wnd WHERE n = 10
    ORDER BY user_id, day
    """,
    doc="rolling 10-day correlation of each symbol's daily close "
        "against the market aggregate (sum of all closes that day) — "
        "the rolling-beta input every pairs/beta strategy consumes. "
        "All five moment sums accumulate exact integer cents inside "
        "one per-user window frame, so the Pearson expression is one "
        "identical IEEE computation on both engines (degenerate "
        "zero-variance windows emit 0). The market series is "
        "days-sized and broadcast; per-key windows only — no global "
        "sort anywhere",
    exchanges=4,
)
def rolling_market_correlation(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    tagged = F.struct(F.col("ts").alias("t"),
                      F.col("event_id").alias("e"),
                      F.col("value").alias("v"))
    bars = (ev.groupBy("user_id",
                       F.date_trunc("day", F.col("ts"))
                       .alias("bar_day"))
            .agg(F.round(F.max(tagged)["v"] * 100).cast("bigint")
                 .alias("x")))
    mkt = (ev.groupBy(F.date_trunc("day", F.col("ts"))
                      .alias("bar_day"))
           .agg(F.sum(F.round(F.col("value") * 100).cast("bigint"))
                .alias("y")))
    j = bars.join(F.broadcast(mkt), "bar_day")
    w = (Window.partitionBy("user_id").orderBy("bar_day")
         .rowsBetween(-9, 0))
    wnd = j.select(
        "user_id", "bar_day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    corr = F.when(
        ((n * sxx - sx * sx) > 0) & ((n * syy - sy * sy) > 0),
        (n * sxy - sx * sy).cast("double")
        / (F.sqrt((n * sxx - sx * sx).cast("double"))
           * F.sqrt((n * syy - sy * sy).cast("double")))
    ).otherwise(F.lit(0.0))
    return (wnd.filter(n == 10)
            .select("user_id",
                    F.date_format("bar_day", "yyyy-MM-dd").alias("day"),
                    F.round(corr, 6).alias("corr10"))
            .orderBy("user_id", "day"))


@query(
    "cusum_change_detection",
    oracle="""
    WITH bars AS (
      SELECT user_id, date_trunc('day', ts) AS bar_day,
             CAST(ROUND((max(struct_pack(t := ts, e := event_id,
                                         v := value))).v * 100)
                 AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    st AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x) AS BIGINT) AS s
           FROM bars GROUP BY 1),
    dev AS (SELECT b.user_id, b.bar_day,
                   st.n * b.x - st.s AS d
            FROM bars b JOIN st USING (user_id)),
    cum1 AS (
      SELECT user_id, bar_day,
             CAST(sum(d) OVER (PARTITION BY user_id ORDER BY bar_day
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS c
      FROM dev),
    cum AS (
      SELECT user_id, bar_day, c,
             CAST(least(CAST(0 AS BIGINT),
                        min(c) OVER (PARTITION BY user_id
                                     ORDER BY bar_day
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW)) AS BIGINT) AS m
      FROM cum1)
    SELECT c.user_id, strftime(c.bar_day, '%Y-%m-%d') AS day,
           CAST(c.c - c.m AS BIGINT) AS cusum_scaled,
           (c.c - c.m) > st.n * 500 AS alarm
    FROM cum c JOIN st USING (user_id)
    ORDER BY user_id, day
    """,
    doc="one-sided CUSUM change-point detection on each symbol's daily "
        "closes: the textbook recursion S_t = max(0, S_{t-1} + d_t) "
        "collapses to C_t - min(0, prefix-min of C) — a cumulative sum "
        "plus a running min, i.e. two frames of ONE per-user window, "
        "no sequential fold and no UDF. Deviations are scaled by the "
        "per-user day count (d = n*x - sum) so everything stays an "
        "exact BIGINT; the alarm fires when the statistic exceeds a "
        "$5.00-equivalent drift at that scaling. Per-key windows only; "
        "at 100 TB the state per symbol is its days-sized bar series",
    exchanges=5,
)
def cusum_change_detection(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    tagged = F.struct(F.col("ts").alias("t"),
                      F.col("event_id").alias("e"),
                      F.col("value").alias("v"))
    bars = (ev.groupBy("user_id",
                       F.date_trunc("day", F.col("ts"))
                       .alias("bar_day"))
            .agg(F.round(F.max(tagged)["v"] * 100).cast("bigint")
                 .alias("x")))
    st = bars.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    dev = (bars.join(F.broadcast(st), "user_id")
           .select("user_id", "bar_day", "n",
                   (F.col("n") * F.col("x") - F.col("s")).alias("d")))
    w = (Window.partitionBy("user_id").orderBy("bar_day")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = dev.select(
        "user_id", "bar_day", "n",
        F.sum("d").over(w).alias("c"))
    cum = cum.withColumn(
        "m", F.least(F.lit(0).cast("bigint"),
                     F.min("c").over(w)))
    return (cum.select(
                "user_id",
                F.date_format("bar_day", "yyyy-MM-dd").alias("day"),
                (F.col("c") - F.col("m")).alias("cusum_scaled"),
                ((F.col("c") - F.col("m")) > F.col("n") * 500)
                .alias("alarm"))
            .orderBy("user_id", "day"))


@query(
    "rsi_bollinger_bands",
    oracle="""
    WITH c AS (
      SELECT user_id, ts, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events),
    d AS (
      SELECT user_id, ts, event_id, cents,
             cents - lag(cents) OVER w AS diff
      FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    agg AS (
      SELECT user_id, ts, event_id,
             CAST(count(cents) OVER w20 AS BIGINT) AS n,
             CAST(sum(cents) OVER w20 AS BIGINT) AS s,
             CAST(sum(cents * cents) OVER w20 AS BIGINT) AS sq,
             CAST(coalesce(sum(CASE WHEN diff > 0 THEN diff
                                    ELSE 0 END) OVER w14, 0)
                 AS BIGINT) AS g,
             CAST(coalesce(sum(CASE WHEN diff < 0 THEN -diff
                                    ELSE 0 END) OVER w14, 0)
                 AS BIGINT) AS l
      FROM d
      WINDOW w20 AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
             w14 AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT user_id, ts, event_id,
           ROUND(s / (100.0 * n), 6) AS bb_mid,
           ROUND(s / (100.0 * n)
                 + 2 * (sqrt(CAST(n * sq - s * s AS DOUBLE))
                        / (100.0 * n)), 6) AS bb_upper,
           ROUND(s / (100.0 * n)
                 - 2 * (sqrt(CAST(n * sq - s * s AS DOUBLE))
                        / (100.0 * n)), 6) AS bb_lower,
           CASE WHEN g + l > 0
                THEN ROUND(100.0 * g / (g + l), 6) END AS rsi14
    FROM agg ORDER BY user_id, ts, event_id
    """,
    doc="classic technical-indicator pair as pure window algebra: "
        "Bollinger bands (20-row rolling mean +/- 2 population sigmas) "
        "and Cutler's RSI-14 (simple-average gains vs losses over the "
        "last 14 diffs). Exactness: prices become integer cents; every "
        "windowed aggregate (count, sum, sum of squares, gain/loss "
        "sums) is an exact BIGINT, and the only floats are one "
        "identical final expression per column — sigma via "
        "sqrt(n*sq - s^2)/(100n) on an exact integer radicand "
        "(non-negative by Cauchy-Schwarz), RSI via 100g/(g+l) on "
        "exact sums — so both engines round identical doubles. "
        "Scale shape: ONE hash-partition-by-user exchange feeds every "
        "window (shared sort), no joins, no collect; at 100 TB this "
        "is the canonical partition-local indicator scan",
    # series window + output sort
    exchanges=2,
)
def rsi_bollinger_bands(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"))
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w20 = wo.rowsBetween(-19, 0)
    w14 = wo.rowsBetween(-13, 0)
    d = ev.withColumn("diff", F.col("cents") - F.lag("cents").over(wo))
    agg = d.select(
        "user_id", "ts", "event_id",
        F.count("cents").over(w20).alias("n"),
        F.sum("cents").over(w20).alias("s"),
        F.sum(F.col("cents") * F.col("cents")).over(w20).alias("sq"),
        F.coalesce(
            F.sum(F.when(F.col("diff") > 0, F.col("diff"))
                  .otherwise(F.lit(0).cast("bigint"))).over(w14),
            F.lit(0).cast("bigint")).alias("g"),
        F.coalesce(
            F.sum(F.when(F.col("diff") < 0, -F.col("diff"))
                  .otherwise(F.lit(0).cast("bigint"))).over(w14),
            F.lit(0).cast("bigint")).alias("l"))
    sigma2 = (F.sqrt((F.col("n") * F.col("sq")
                      - F.col("s") * F.col("s")).cast("double"))
              / (100.0 * F.col("n"))) * 2
    mid = F.col("s") / (100.0 * F.col("n"))
    return (agg.select(
                "user_id", "ts", "event_id",
                F.round(mid, 6).alias("bb_mid"),
                F.round(mid + sigma2, 6).alias("bb_upper"),
                F.round(mid - sigma2, 6).alias("bb_lower"),
                F.when(F.col("g") + F.col("l") > 0,
                       F.round(100.0 * F.col("g")
                               / (F.col("g") + F.col("l")), 6))
                .alias("rsi14"))
            .orderBy("user_id", "ts", "event_id"))


@query(
    "winsorized_user_stats",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events),
    r AS (
      SELECT user_id, cents,
             CAST(row_number() OVER w AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                 AS n
      FROM c WINDOW w AS (PARTITION BY user_id
                          ORDER BY cents, event_id)),
    t AS (
      SELECT user_id, cents, rn, n,
             (n * 5 + 99) // 100 AS rlo,
             (n * 95 + 99) // 100 AS rhi
      FROM r),
    agg AS (
      SELECT user_id, max(n) AS n_events,
             CAST(max(CASE WHEN rn = rlo THEN cents END)
                 AS BIGINT) AS lo_cents,
             CAST(max(CASE WHEN rn = rhi THEN cents END)
                 AS BIGINT) AS hi_cents,
             CAST(coalesce(sum(CASE WHEN rn >= rlo AND rn <= rhi
                                    THEN cents END), 0)
                 AS BIGINT) AS s_mid,
             CAST(sum(CASE WHEN rn < rlo THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_below,
             CAST(sum(CASE WHEN rn > rhi THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_above
      FROM t GROUP BY user_id)
    SELECT user_id, n_events, lo_cents, hi_cents,
           ROUND(CAST(s_mid + lo_cents * n_below
                      + hi_cents * n_above AS DOUBLE)
                 / (100.0 * n_events), 6) AS winsorized_mean
    FROM agg ORDER BY user_id
    """,
    doc="winsorized per-user mean (5%/95%): clamp each series to its "
        "exact P5/P95 order statistics before averaging — the robust "
        "statistic that survives fat-tailed tick data. Rank cutoffs "
        "are pure integer ceilings ((n*p+99) DIV 100), the clamp is "
        "computed WITHOUT a second pass or self-join: every row knows "
        "its rank and the cutoffs from one window, so a single "
        "groupBy assembles sum(mid) + lo*|below| + hi*|above| from "
        "exact integer cents. One exchange for the window (shared by "
        "the groupBy key), deterministic tie-break by event_id",
    exchanges=2,
)
def winsorized_user_stats(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"))
    w = Window.partitionBy("user_id").orderBy("cents", "event_id")
    wn = Window.partitionBy("user_id")
    t = (ev.select(
            "user_id", "cents",
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"))
         .withColumn("rlo", F.expr("(n * 5 + 99) DIV 100"))
         .withColumn("rhi", F.expr("(n * 95 + 99) DIV 100")))
    agg = t.groupBy("user_id").agg(
        F.max("n").alias("n_events"),
        F.max(F.when(F.col("rn") == F.col("rlo"), F.col("cents")))
        .alias("lo_cents"),
        F.max(F.when(F.col("rn") == F.col("rhi"), F.col("cents")))
        .alias("hi_cents"),
        F.coalesce(
            F.sum(F.when((F.col("rn") >= F.col("rlo"))
                         & (F.col("rn") <= F.col("rhi")),
                         F.col("cents"))),
            F.lit(0).cast("bigint")).alias("s_mid"),
        F.sum(F.when(F.col("rn") < F.col("rlo"), 1).otherwise(0))
        .cast("bigint").alias("n_below"),
        F.sum(F.when(F.col("rn") > F.col("rhi"), 1).otherwise(0))
        .cast("bigint").alias("n_above"))
    return (agg.select(
                "user_id", "n_events", "lo_cents", "hi_cents",
                F.round((F.col("s_mid")
                         + F.col("lo_cents") * F.col("n_below")
                         + F.col("hi_cents") * F.col("n_above"))
                        .cast("double")
                        / (100.0 * F.col("n_events")), 6)
                .alias("winsorized_mean"))
            .orderBy("user_id"))


@query(
    "kelly_position_sizing",
    oracle="""
    WITH c AS (
      SELECT user_id, ts, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events),
    d AS (
      SELECT user_id,
             cents - lag(cents) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS diff
      FROM c),
    agg AS (
      SELECT user_id,
             CAST(count(diff) AS BIGINT) AS n_trades,
             CAST(sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_wins,
             CAST(sum(CASE WHEN diff < 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_losses,
             CAST(coalesce(sum(CASE WHEN diff > 0 THEN diff END), 0)
                 AS BIGINT) AS sum_win_cents,
             CAST(coalesce(sum(CASE WHEN diff < 0 THEN -diff END), 0)
                 AS BIGINT) AS sum_loss_cents
      FROM d GROUP BY user_id)
    SELECT user_id, n_trades, n_wins, n_losses,
           sum_win_cents, sum_loss_cents,
           CASE WHEN n_wins + n_losses > 0 THEN
                ROUND(CAST(n_wins AS DOUBLE) / (n_wins + n_losses), 6)
           END AS win_rate,
           CASE WHEN n_wins + n_losses > 0 AND sum_win_cents > 0 THEN
                ROUND(CAST(n_wins AS DOUBLE) / (n_wins + n_losses)
                      - CAST(n_wins * sum_loss_cents AS DOUBLE)
                        / (CAST(n_wins + n_losses AS BIGINT)
                           * sum_win_cents), 6)
           END AS kelly_fraction
    FROM agg ORDER BY user_id
    """,
    doc="Kelly-criterion position sizing per symbol: f* = p - (1-p)/b "
        "from the win rate p and the win/loss ratio b of tick-to-tick "
        "moves. Algebra is rearranged to all-integer products — "
        "(1-p)/b = W*sum_loss / ((W+L)*sum_win) — so both engines "
        "divide the SAME exact BIGINTs once; degenerate series (no "
        "wins, flat) surface as NULL, not NaN. One diff window + one "
        "map-side-combined groupBy riding the same per-symbol "
        "exchange — the classic two-op indicator plan",
    exchanges=2,
)
def kelly_position_sizing(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        "user_id",
        (F.col("cents") - F.lag("cents").over(w)).alias("diff"))
    zero = F.lit(0).cast("bigint")
    agg = d.groupBy("user_id").agg(
        F.count("diff").alias("n_trades"),
        F.sum(F.when(F.col("diff") > 0, 1).otherwise(0))
        .cast("bigint").alias("n_wins"),
        F.sum(F.when(F.col("diff") < 0, 1).otherwise(0))
        .cast("bigint").alias("n_losses"),
        F.coalesce(F.sum(F.when(F.col("diff") > 0, F.col("diff"))),
                   zero).alias("sum_win_cents"),
        F.coalesce(F.sum(F.when(F.col("diff") < 0, -F.col("diff"))),
                   zero).alias("sum_loss_cents"))
    nw, nl = F.col("n_wins"), F.col("n_losses")
    sw, sl = F.col("sum_win_cents"), F.col("sum_loss_cents")
    return (agg.select(
                "user_id", "n_trades", "n_wins", "n_losses",
                "sum_win_cents", "sum_loss_cents",
                F.when(nw + nl > 0,
                       F.round(nw.cast("double") / (nw + nl), 6))
                .alias("win_rate"),
                F.when((nw + nl > 0) & (sw > 0),
                       F.round(nw.cast("double") / (nw + nl)
                               - (nw * sl).cast("double")
                               / ((nw + nl).cast("bigint") * sw), 6))
                .alias("kelly_fraction"))
            .orderBy("user_id"))


# --- Mutual information feature ranking ------------------------------------

_MI_SCALE = 1000000000
# (name, DuckDB y-expression, Spark y-column builder) — y labels only
# partition the contingency table, so both engines just need the SAME
# partitioning, which these integer expressions guarantee
_MI_FEATURES = (
    ("hour_of_day", "CAST(EXTRACT(hour FROM ts) AS BIGINT)",
     lambda: F.hour("ts").cast("bigint")),
    ("day_of_week", "CAST(dayofweek(ts) AS BIGINT)",
     lambda: (F.dayofweek("ts") - 1).cast("bigint")),
    ("value_bucket",
     "CAST(ROUND(value * 100) AS BIGINT) // 5000",
     lambda: F.expr("CAST(ROUND(value * 100) AS BIGINT) DIV 5000")),
)


def _mi_block(name: str, yexpr: str) -> str:
    return f"""
    fx_{name} AS (SELECT event_type AS x, {yexpr} AS y FROM events),
    cnt_{name} AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n
                   FROM fx_{name} GROUP BY 1, 2),
    mx_{name} AS (SELECT x, CAST(sum(n) AS BIGINT) AS nx
                  FROM cnt_{name} GROUP BY 1),
    my_{name} AS (SELECT y, CAST(sum(n) AS BIGINT) AS ny
                  FROM cnt_{name} GROUP BY 1),
    nn_{name} AS (SELECT CAST(sum(n) AS BIGINT) AS nt
                  FROM cnt_{name}),
    mi_{name} AS (
      SELECT '{name}' AS feature, nn.nt AS n_events,
             CAST(sum(c.n * CAST(ROUND(
                 (ln(CAST(c.n AS DOUBLE)) + ln(CAST(nn.nt AS DOUBLE))
                  - ln(CAST(mx.nx AS DOUBLE))
                  - ln(CAST(my.ny AS DOUBLE))) * {_MI_SCALE})
                 AS BIGINT)) AS BIGINT) AS s
      FROM cnt_{name} c JOIN mx_{name} mx USING (x)
      JOIN my_{name} my USING (y) CROSS JOIN nn_{name} nn
      GROUP BY 1, 2)"""


@query(
    "mutual_information_features",
    oracle="WITH " + ",".join(
        _mi_block(n, y) for n, y, _ in _MI_FEATURES) + f"""
    SELECT feature, n_events,
           ROUND((CAST(s AS DOUBLE) / {_MI_SCALE}.0) / n_events, 6)
               AS mi_nats
    FROM ({" UNION ALL ".join(
        f"SELECT * FROM mi_{n}" for n, _, _ in _MI_FEATURES)})
    ORDER BY feature
    """,
    doc="feature selection by mutual information: I(event_type; f) "
        "for three derived features (hour, weekday, value bucket) "
        "from exact contingency counts — the filter-method ranking a "
        "feature-engineering pipeline runs before training. Each "
        "cell's log term ln(n_xy)+ln(N)-ln(n_x)-ln(n_y) is rounded "
        "to integer nano-nats, making the weighted sum an exact "
        "BIGINT; per feature the plan is one map-side-combined "
        "contingency groupBy plus two marginal re-aggregations of "
        "the CELL table (classes x buckets rows — never the facts) "
        "and a 1-row total broadcast. MI is label-invariant, so "
        "engine-specific weekday numbering cannot change the result",
    exchanges=25,
)
def mutual_information_features(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    outs = []
    for name, _, ycol in _MI_FEATURES:
        cnt = (ev.select(F.col("event_type").alias("x"),
                         ycol().alias("y"))
               .groupBy("x", "y").agg(F.count(F.lit(1)).alias("n")))
        mx = cnt.groupBy("x").agg(F.sum("n").alias("nx"))
        my = cnt.groupBy("y").agg(F.sum("n").alias("ny"))
        nn = cnt.agg(F.sum("n").alias("nt"))
        t = F.round(
            (F.log(F.col("n").cast("double"))
             + F.log(F.col("nt").cast("double"))
             - F.log(F.col("nx").cast("double"))
             - F.log(F.col("ny").cast("double")))
            * _MI_SCALE).cast("bigint")
        mi = (cnt.join(F.broadcast(mx), "x")
              .join(F.broadcast(my), "y")
              .crossJoin(F.broadcast(nn))
              .groupBy(F.lit(name).alias("feature"),
                       F.col("nt").alias("n_events"))
              .agg(F.sum(F.col("n") * t).alias("s")))
        outs.append(mi)
    un = outs[0]
    for o in outs[1:]:
        un = un.unionByName(o)
    return (un.select(
                "feature", "n_events",
                F.round((F.col("s").cast("double") / _MI_SCALE)
                        / F.col("n_events"), 6).alias("mi_nats"))
            .orderBy("feature"))


@query(
    "cdc_apply_changes",
    oracle="""
    WITH ch AS (
      SELECT user_id, ts, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             CASE event_type WHEN 'error' THEN 'D'
                  WHEN 'signup' THEN 'I' ELSE 'U' END AS op
      FROM events),
    r AS (
      SELECT user_id, ts, event_id, cents, op,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC)
                 AS rn,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                 AS n_changes,
             CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id) AS BIGINT) AS n_deletes
      FROM ch)
    SELECT user_id, cents AS final_cents, ts AS last_ts,
           op AS last_op, n_changes, n_deletes
    FROM r WHERE rn = 1 AND op <> 'D'
    ORDER BY user_id
    """,
    doc="CDC apply-changes into a keyed snapshot, WITH delete "
        "semantics (the MERGE shape Delta/Iceberg CDF consumers run): "
        "events classify into insert/update/delete ops per key, the "
        "latest op wins by (ts, event_id), and a key whose final op "
        "is a delete disappears from the store entirely — the part "
        "upsert_customers_merge and scd2_user_state do not cover. "
        "One window per key computes the winner and the change/delete "
        "tallies in the same pass; nothing but the per-key exchange. "
        "At scale this runs per micro-batch over the delta, not the "
        "store (the streaming merge sink is the incremental twin)",
    exchanges=2,
)
def cdc_apply_changes(spark, sf_dir):
    ch = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U").alias("op"))
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id"))
    wa = Window.partitionBy("user_id")
    r = ch.select(
        "user_id", "ts", "event_id", "cents", "op",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wa).alias("n_changes"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).over(wa)
        .cast("bigint").alias("n_deletes"))
    return (r.filter((F.col("rn") == 1) & (F.col("op") != "D"))
            .select("user_id", F.col("cents").alias("final_cents"),
                    F.col("ts").alias("last_ts"),
                    F.col("op").alias("last_op"),
                    "n_changes", "n_deletes")
            .orderBy("user_id"))


@query(
    "exact_global_quantiles",
    oracle="""
    WITH c AS (SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents,
                      event_id
               FROM events),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
    r AS (SELECT cents,
                 CAST(row_number() OVER (ORDER BY cents, event_id)
                     AS BIGINT) AS rn
          FROM c),
    q AS (SELECT unnest([50, 90, 99]) AS p)
    SELECT CAST(q.p AS BIGINT) AS pct,
           CAST((nn.n * q.p + 99) // 100 AS BIGINT) AS target_rank,
           r.cents AS value_cents, nn.n AS n_rows
    FROM q CROSS JOIN nn
    JOIN r ON r.rn = (nn.n * q.p + 99) // 100
    ORDER BY pct
    """,
    doc="EXACT global order-statistic quantiles (p50/p90/p99) without "
        "a global sort — the scale path value_percentiles' docstring "
        "promises: the two-phase bucket rank (operators/ranking."
        "global_rank, bucket = cents DIV 1000 — a coarsening prefix "
        "of the value order) assigns every row its true global rank "
        "with one hash exchange plus a #buckets-row offset broadcast, "
        "then the ceil(n*p/100) target ranks select the exact values. "
        "Unlike percentile()/quantile_cont (holistic, gathers the "
        "group) this never concentrates more than one bucket on a "
        "task; ranks and targets are pure integer arithmetic",
    exchanges=5,
)
def exact_global_quantiles(spark, sf_dir):
    from ..operators.ranking import global_rank
    ev = table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        "event_id")
    nn = ev.agg(F.count(F.lit(1)).alias("n"))
    ranked = global_rank(ev, F.expr("cents DIV 1000"),
                         ["cents", "event_id"], rank_col="rn")
    spec = ev.sparkSession.createDataFrame(
        [(50,), (90,), (99,)], "p long")
    return (ranked.crossJoin(F.broadcast(nn))
            .join(F.broadcast(spec),
                  F.col("rn") == F.expr("(n * p + 99) DIV 100"))
            .select(F.col("p").alias("pct"),
                    F.expr("(n * p + 99) DIV 100")
                    .alias("target_rank"),
                    F.col("cents").alias("value_cents"),
                    F.col("n").alias("n_rows"))
            .orderBy("pct"))


@query(
    "seasonal_decompose_additive",
    oracle="""
    WITH c AS (
      SELECT user_id, ts, event_id,
             CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events),
    w AS (
      SELECT user_id, ts, event_id, hod, cents,
             CAST(sum(cents) OVER (PARTITION BY user_id) AS BIGINT)
                 AS s,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                 AS n,
             CAST(sum(cents) OVER (PARTITION BY user_id, hod)
                 AS BIGINT) AS hs,
             CAST(count(*) OVER (PARTITION BY user_id, hod)
                 AS BIGINT) AS hn
      FROM c)
    SELECT user_id, ts, event_id,
           CAST(CASE WHEN s >= 0 THEN
                  (2 * CAST(s AS HUGEINT) * 10000 + n)
                  // (2 * CAST(n AS HUGEINT))
                ELSE -((2 * CAST(-s AS HUGEINT) * 10000 + n)
                       // (2 * CAST(n AS HUGEINT))) END AS DOUBLE)
               / 1000000.0 AS level,
           CAST(CASE WHEN hs * n - s * hn >= 0 THEN
                  (2 * CAST(hs * n - s * hn AS HUGEINT) * 10000
                   + hn * n) // (2 * CAST(hn * n AS HUGEINT))
                ELSE -((2 * CAST(s * hn - hs * n AS HUGEINT) * 10000
                        + hn * n) // (2 * CAST(hn * n AS HUGEINT)))
                END AS DOUBLE) / 1000000.0 AS seasonal,
           CAST(CASE WHEN cents * hn - hs >= 0 THEN
                  (2 * CAST(cents * hn - hs AS HUGEINT) * 10000 + hn)
                  // (2 * CAST(hn AS HUGEINT))
                ELSE -((2 * CAST(hs - cents * hn AS HUGEINT) * 10000
                        + hn) // (2 * CAST(hn AS HUGEINT)))
                END AS DOUBLE) / 1000000.0 AS residual
    FROM w ORDER BY user_id, ts, event_id
    """,
    doc="additive seasonal decomposition per series: value = level "
        "(series mean) + hour-of-day seasonal offset + residual — the "
        "classical-decomposition shape behind anomaly detection on "
        "periodic data. All moments are exact BIGINT window sums; "
        "level/seasonal/residual are single identical double "
        "expressions of those integers (the level term cancels in "
        "the residual by construction, and both engines compute the "
        "same cancellation-free form) rounded in EXACT integer "
"arithmetic (the vwap boundary fix). Two partition windows "
"(user; user x hour), no joins, no folds",
    exchanges=2,
)
def seasonal_decompose_additive(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.hour("ts").cast("bigint").alias("hod"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"))
    wu = Window.partitionBy("user_id")
    wh = Window.partitionBy("user_id", "hod")
    w = ev.select(
        "user_id", "ts", "event_id", "cents",
        F.sum("cents").over(wu).alias("s"),
        F.count(F.lit(1)).over(wu).alias("n"),
        F.sum("cents").over(wh).alias("hs"),
        F.count(F.lit(1)).over(wh).alias("hn"))
    # exact-integer rounding of cents ratios: these averages hit the
    # 5e-7 shortest-repr boundaries where double ROUND diverges
    lvl = signed_ratio_round6(F.col("s"), 100 * F.col("n"))
    sea = signed_ratio_round6(
        F.col("hs") * F.col("n") - F.col("s") * F.col("hn"),
        100 * F.col("hn") * F.col("n"))
    res = signed_ratio_round6(
        F.col("cents") * F.col("hn") - F.col("hs"), 100 * F.col("hn"))
    return (w.select("user_id", "ts", "event_id",
                     lvl.alias("level"),
                     sea.alias("seasonal"),
                     res.alias("residual"))
            .orderBy("user_id", "ts", "event_id"))


@query(
    "atr_breakout_signals",
    oracle="""
    WITH bars AS (
      SELECT user_id, date_trunc('day', ts) AS bar_day,
             CAST(ROUND(max(value) * 100) AS BIGINT) AS h,
             CAST(ROUND(min(value) * 100) AS BIGINT) AS l,
             CAST(ROUND((max(struct_pack(t := ts, e := event_id,
                                         v := value))).v * 100)
                 AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    tr_ AS (
      SELECT user_id, bar_day, h, l, c,
             CAST(greatest(
               h - l,
               abs(h - coalesce(lag(c) OVER w, h)),
               abs(l - coalesce(lag(c) OVER w, l))) AS BIGINT) AS tr,
             CAST(max(h) OVER (PARTITION BY user_id ORDER BY bar_day
                               ROWS BETWEEN 20 PRECEDING
                               AND 1 PRECEDING) AS BIGINT) AS dhi
      FROM bars
      WINDOW w AS (PARTITION BY user_id ORDER BY bar_day)),
    wnd AS (
      SELECT user_id, bar_day, c, tr, dhi,
             CAST(sum(tr) OVER w14 AS BIGINT) AS satr,
             CAST(count(*) OVER w14 AS BIGINT) AS n14
      FROM tr_
      WINDOW w14 AS (PARTITION BY user_id ORDER BY bar_day
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT user_id, strftime(bar_day, '%Y-%m-%d') AS day,
           tr,
           CAST(CAST((2 * CAST(satr AS HUGEINT) * 10000 + n14)
                     // (2 * CAST(n14 AS HUGEINT)) AS BIGINT)
                AS DOUBLE) / 1000000.0 AS atr14,
           coalesce(c > dhi, FALSE) AS breakout
    FROM wnd ORDER BY user_id, day
    """,
    doc="average true range (Wilder's volatility indicator, simple "
        "14-bar mean variant) plus Donchian-channel breakout per "
        "symbol over daily OHLC-style bars: true range = "
        "greatest(h-l, |h-prev_close|, |l-prev_close|) in exact "
        "integer cents (the first bar's missing prev_close "
        "degenerates to h-l via coalesce on BOTH engines), ATR is an "
        "exact-integer rounded ratio (signed_ratio_round6), breakout "
        "fires when close exceeds the prior 20 bars' high. One "
        "grouped aggregation then three frames of ONE per-symbol "
        "window ordering — the bar relation is days-sized per key, so "
        "at 100 TB the window state is bounded by calendar length, "
        "never by tick volume",
    exchanges=3,
)
def atr_breakout_signals(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    tagged = F.struct(F.col("ts").alias("t"),
                      F.col("event_id").alias("e"),
                      F.col("value").alias("v"))
    bars = (ev.groupBy("user_id",
                       F.date_trunc("day", F.col("ts"))
                       .alias("bar_day"))
            .agg(F.round(F.max("value") * 100).cast("bigint")
                 .alias("h"),
                 F.round(F.min("value") * 100).cast("bigint")
                 .alias("l"),
                 F.round(F.max(tagged)["v"] * 100).cast("bigint")
                 .alias("c")))
    w = Window.partitionBy("user_id").orderBy("bar_day")
    pc = F.lag("c").over(w)
    tr_ = bars.select(
        "user_id", "bar_day", "c",
        F.greatest(
            F.col("h") - F.col("l"),
            F.abs(F.col("h") - F.coalesce(pc, F.col("h"))),
            F.abs(F.col("l") - F.coalesce(pc, F.col("l"))))
        .alias("tr"),
        F.max("h").over(w.rowsBetween(-20, -1)).alias("dhi"))
    w14 = w.rowsBetween(-13, 0)
    wnd = tr_.select(
        "user_id", "bar_day", "c", "tr", "dhi",
        F.sum("tr").over(w14).alias("satr"),
        F.count(F.lit(1)).over(w14).alias("n14"))
    return (wnd.select(
                "user_id",
                F.date_format("bar_day", "yyyy-MM-dd").alias("day"),
                "tr",
                signed_ratio_round6(F.col("satr"), 100 * F.col("n14"))
                .alias("atr14"),
                F.coalesce(F.col("c") > F.col("dhi"), F.lit(False))
                .alias("breakout"))
            .orderBy("user_id", "day"))


@query(
    "psi_feature_drift",
    oracle="""
    WITH binned AS (
      SELECT CAST(greatest(0, least(19,
               CAST(ROUND(value * 100) AS BIGINT) // 2500))
             AS BIGINT) AS bin,
             CAST(EXTRACT(day FROM ts) <= 15 AS BIGINT) AS is_ref
      FROM events),
    counts AS (
      SELECT bin,
             CAST(sum(is_ref) AS BIGINT) AS ca,
             CAST(sum(1 - is_ref) AS BIGINT) AS cb
      FROM binned GROUP BY bin),
    spine AS (
      SELECT s.bin, coalesce(c.ca, 0) AS ca, coalesce(c.cb, 0) AS cb
      FROM (SELECT CAST(t.range AS BIGINT) AS bin
            FROM range(0, 20) t) s
      LEFT JOIN counts c USING (bin)),
    tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                   CAST(sum(cb) AS BIGINT) AS nb FROM spine)
    SELECT spine.bin, spine.ca AS cnt_ref, spine.cb AS cnt_cur,
           ROUND(CAST(spine.ca + 1 AS DOUBLE)
                 / CAST(tot.na + 20 AS DOUBLE), 6) AS p_ref,
           ROUND(CAST(spine.cb + 1 AS DOUBLE)
                 / CAST(tot.nb + 20 AS DOUBLE), 6) AS p_cur,
           ROUND((CAST(spine.ca + 1 AS DOUBLE)
                  / CAST(tot.na + 20 AS DOUBLE)
                  - CAST(spine.cb + 1 AS DOUBLE)
                    / CAST(tot.nb + 20 AS DOUBLE))
                 * ln((CAST(spine.ca + 1 AS DOUBLE)
                       / CAST(tot.na + 20 AS DOUBLE))
                      / (CAST(spine.cb + 1 AS DOUBLE)
                         / CAST(tot.nb + 20 AS DOUBLE))), 6)
               AS psi_term
    FROM spine, tot ORDER BY spine.bin
    """,
    doc="population stability index per feature bin: the standard "
        "train/serve drift monitor for a model feature (here the "
        "event value, $25 fixed-width bins, clamped to [0,20)), "
        "reference = days 1-15 vs current = days 16+. Laplace add-one "
        "smoothing over an explicit 20-row bin spine keeps empty bins "
        "defined; counts are exact BIGINTs from ONE map-side-partial "
        "aggregate over the fact table, and every per-bin PSI term is "
        "a single identical IEEE expression of those integers. The "
        "only post-agg work is 20-row-relation joins (the 1-row "
        "totals cross join is a broadcast scalar — allowlisted); at "
        "100 TB the exchange carries <=20 rows per partition",
    exchanges=3,
)
def psi_feature_drift(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")

    binned = ev.select(
        F.greatest(F.lit(0),
                   F.least(F.lit(19), idiv(cents, F.lit(2500))))
        .cast("bigint").alias("bin"),
        (F.dayofmonth("ts") <= 15).cast("bigint").alias("is_ref"))
    counts = binned.groupBy("bin").agg(
        F.sum("is_ref").alias("ca"),
        F.sum(1 - F.col("is_ref")).alias("cb"))
    spine = (spark.range(0, 20).select(F.col("id").alias("bin"))
             .join(counts, "bin", "left")
             .select("bin",
                     F.coalesce("ca", F.lit(0)).alias("ca"),
                     F.coalesce("cb", F.lit(0)).alias("cb")))
    tot = spine.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    j = spine.crossJoin(F.broadcast(tot))
    p = (F.col("ca") + 1).cast("double") / (F.col("na") + 20).cast("double")
    q = (F.col("cb") + 1).cast("double") / (F.col("nb") + 20).cast("double")
    return (j.select(
                "bin",
                F.col("ca").alias("cnt_ref"),
                F.col("cb").alias("cnt_cur"),
                F.round(p, 6).alias("p_ref"),
                F.round(q, 6).alias("p_cur"),
                F.round((p - q) * F.log(p / q), 6).alias("psi_term"))
            .orderBy("bin"))


@query(
    "spearman_value_k_corr",
    oracle="""
    WITH base AS (
      SELECT event_type, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events),
    rk AS (
      SELECT event_type,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY cents, event_id)
                  AS BIGINT) AS rx,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY k, event_id)
                  AS BIGINT) AS ry
      FROM base),
    agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST((rx - ry) * (rx - ry) AS HUGEINT))
                 AS HUGEINT) AS s
      FROM rk GROUP BY event_type)
    SELECT event_type, n,
           ROUND(1.0 - CAST(6 * s AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT)
                        * (CAST(n AS HUGEINT) * n - 1) AS DOUBLE), 6)
               AS spearman_rho
    FROM agg WHERE n > 1 ORDER BY event_type
    """,
    doc="Spearman rank correlation per event type between the value "
        "feature and the props.k attribute — the rank-based monotone- "
        "association monitor (robust to outliers where Pearson is "
        "not). Ties are broken by event_id on BOTH rank dimensions, "
        "so ranks are distinct permutations and the closed form "
        "rho = 1 - 6*sum(d^2)/(n(n^2-1)) is exact; d^2 sums "
        "accumulate in DECIMAL(38)/HUGEINT (bigint overflows near "
        "n~2^21 at 100 TB per-type volumes) and the final rho is one "
        "identical IEEE expression. BOTH rank dimensions go through "
        "the two-phase global_rank (bucketed by (type, value-range "
        "block)), so no per-type single-task sort exists anywhere — "
        "the per-type normalization is a broadcast of #types rows",
    exchanges=17,
)
def spearman_value_k_corr(spark, sf_dir):
    from ..operators.ranking import global_rank

    ev = table(spark, sf_dir, "events")

    base = ev.select(
        "event_type", "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.get_json_object(F.col("props"), "$.k").cast("long")
        .alias("k"))
    # rank dim 1: (type, cents, event_id); bucket = (type, $25 block)
    rx = global_rank(
        base,
        F.struct(F.col("event_type"),
                 idiv(F.col("cents"), F.lit(2500)).alias("blk")),
        [F.col("cents"), F.col("event_id")], rank_col="gx")
    # rank dim 2: (type, k, event_id); bucket = (type, k DIV 10)
    rk = global_rank(
        rx,
        F.struct(F.col("event_type"),
                 idiv(F.col("k"), F.lit(10)).alias("blk")),
        [F.col("k"), F.col("event_id")], rank_col="gy")
    # per-type offsets: global row numbers -> per-type 1-based ranks
    offs = rk.groupBy("event_type").agg(
        F.min("gx").alias("ox"), F.min("gy").alias("oy"))
    d = (rk.join(F.broadcast(offs), "event_type")
         .select("event_type",
                 ((F.col("gx") - F.col("ox"))
                  - (F.col("gy") - F.col("oy"))).alias("d")))
    agg = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("d") * F.col("d")).cast("decimal(38,0)"))
        .alias("s"))
    nd = F.col("n").cast("decimal(38,0)")
    rho = F.round(
        F.lit(1.0) - (6 * F.col("s")).cast("double")
        / (nd * (nd * F.col("n") - 1)).cast("double"), 6)
    return (agg.filter(F.col("n") > 1)
            .select("event_type", "n", rho.alias("spearman_rho"))
            .orderBy("event_type"))


@query(
    "ks_two_sample_test",
    oracle="""
    WITH base AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents,
             CAST(event_type = 'click' AS BIGINT) AS s
      FROM events WHERE event_type IN ('click', 'purchase')),
    counts AS (
      SELECT cents, CAST(sum(s) AS BIGINT) AS c1,
             CAST(sum(1 - s) AS BIGINT) AS c2
      FROM base GROUP BY cents),
    cum AS (
      SELECT cents,
             CAST(sum(c1) OVER w AS BIGINT) AS cum1,
             CAST(sum(c2) OVER w AS BIGINT) AS cum2
      FROM counts
      WINDOW w AS (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)),
    tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                   CAST(sum(c2) AS BIGINT) AS n2 FROM counts),
    d AS (SELECT cents,
                 abs(CAST(cum1 AS HUGEINT) * n2
                     - CAST(cum2 AS HUGEINT) * n1) AS dn
          FROM cum, tot)
    SELECT tot.n1, tot.n2,
           ROUND(CAST((max(struct_pack(d := d.dn, vneg := -d.cents))).d
                      AS DOUBLE)
                 / CAST(CAST(tot.n1 AS HUGEINT) * tot.n2 AS DOUBLE), 6)
               AS ks_d,
           CAST(-(max(struct_pack(d := d.dn,
                                  vneg := -d.cents))).vneg AS BIGINT)
               AS ks_at_cents
    FROM d, tot GROUP BY tot.n1, tot.n2
    """,
    doc="exact two-sample Kolmogorov-Smirnov statistic between the "
        "click and purchase value distributions — the standard "
        "distribution-shift test for a numeric feature. D = "
        "max_v |F1(v) - F2(v)| evaluated WITHOUT floats: per-value "
        "counts, distributed prefix sums (ranking.prefix_sums: "
        "within-bucket cumsum + broadcast bucket offsets — no "
        "single-task ORDER BY over the value domain), then the CDF "
        "gap cross-multiplied to the exact integer "
        "|cum1*n2 - cum2*n1| in DECIMAL(38)/HUGEINT; the "
        "argmax value reports where the distributions diverge most "
        "(ties -> smallest value, via lexicographic struct max on "
        "both engines). Only the final division is IEEE, rounded 6. "
        "The 1-row totals cross join is a broadcast scalar",
    exchanges=8,
)
def ks_two_sample_test(spark, sf_dir):
    ev = table(spark, sf_dir, "events")

    base = (ev.filter(F.col("event_type").isin("click", "purchase"))
            .select(F.round(F.col("value") * 100).cast("bigint")
                    .alias("cents"),
                    (F.col("event_type") == "click").cast("bigint")
                    .alias("s")))
    counts = (base.groupBy("cents")
              .agg(F.sum("s").alias("c1"),
                   F.sum(1 - F.col("s")).alias("c2")))
    # prefix sums over the value domain, no global sort
    cum = prefix_sums(counts, idiv(F.col("cents"), F.lit(2500)),
                      ["cents"], {"cum1": "c1", "cum2": "c2"})
    tot = counts.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    d = (cum.crossJoin(F.broadcast(tot))
         .select("n1", "n2", "cents",
                 F.abs(F.col("cum1").cast("decimal(38,0)")
                       * F.col("n2")
                       - F.col("cum2").cast("decimal(38,0)")
                       * F.col("n1")).alias("dn")))
    best = F.max(F.struct(F.col("dn").alias("d"),
                          (-F.col("cents")).alias("vneg")))
    return (d.groupBy("n1", "n2")
            .agg(F.round(
                     best["d"].cast("double")
                     / (F.col("n1").cast("decimal(38,0)")
                        * F.col("n2")).cast("double"), 6)
                 .alias("ks_d"),
                 (-best["vneg"]).cast("bigint").alias("ks_at_cents")))


@query(
    "benford_first_digit_audit",
    oracle="""
    WITH pos AS (
      SELECT CAST(substr(CAST(CAST(ROUND(value * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM events WHERE CAST(ROUND(value * 100) AS BIGINT) > 0),
    counts AS (SELECT digit, CAST(count(*) AS BIGINT) AS cnt
               FROM pos GROUP BY digit),
    spine AS (
      SELECT CAST(t.range AS BIGINT) AS digit,
             coalesce(c.cnt, 0) AS cnt
      FROM range(1, 10) t LEFT JOIN counts c ON t.range = c.digit),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM spine)
    SELECT spine.digit, spine.cnt,
           ROUND(CAST(spine.cnt AS DOUBLE) / CAST(tot.n AS DOUBLE), 6)
               AS observed,
           ROUND(log10(1.0 + 1.0 / CAST(spine.digit AS DOUBLE)), 6)
               AS expected,
           ROUND((CAST(spine.cnt AS DOUBLE) / CAST(tot.n AS DOUBLE)
                  - log10(1.0 + 1.0 / CAST(spine.digit AS DOUBLE)))
                 * (CAST(spine.cnt AS DOUBLE) / CAST(tot.n AS DOUBLE)
                    - log10(1.0 + 1.0
                            / CAST(spine.digit AS DOUBLE)))
                 * CAST(tot.n AS DOUBLE)
                 / log10(1.0 + 1.0 / CAST(spine.digit AS DOUBLE)), 6)
               AS chi2_term
    FROM spine, tot ORDER BY spine.digit
    """,
    doc="Benford's-law first-significant-digit audit over the value "
        "column — the classic fraud / synthetic-data detector: "
        "observed first-digit frequencies vs the log10(1+1/d) law, "
        "with per-digit chi-square contributions n*(o-e)^2/e. Digit "
        "extraction is string-on-integer (identical on both engines, "
        "no float log tricks), counts are ONE map-side-partial "
        "aggregate, the 9-row digit spine keeps absent digits "
        "defined, and every emitted double is a single identical "
        "IEEE expression of exact integers. The 1-row total is a "
        "broadcast scalar cross join",
    exchanges=3,
)
def benford_first_digit_audit(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    pos = (ev.select(cents.alias("c")).filter(F.col("c") > 0)
           .select(F.substring(F.col("c").cast("string"), 1, 1)
                   .cast("bigint").alias("digit")))
    counts = pos.groupBy("digit").agg(F.count(F.lit(1)).alias("cnt"))
    spine = (spark.range(1, 10).select(F.col("id").alias("digit"))
             .join(counts, "digit", "left")
             .select("digit", F.coalesce("cnt", F.lit(0)).alias("cnt")))
    tot = spine.agg(F.sum("cnt").alias("n"))
    j = spine.crossJoin(F.broadcast(tot))
    obs = F.col("cnt").cast("double") / F.col("n").cast("double")
    exp = F.log10(F.lit(1.0) + F.lit(1.0)
                  / F.col("digit").cast("double"))
    return (j.select(
                "digit", "cnt",
                F.round(obs, 6).alias("observed"),
                F.round(exp, 6).alias("expected"),
                F.round((obs - exp) * (obs - exp)
                        * F.col("n").cast("double") / exp, 6)
                .alias("chi2_term"))
            .orderBy("digit"))


@query(
    "welch_t_test",
    oracle="""
    WITH base AS (
      SELECT CAST(event_type = 'click' AS BIGINT) AS s,
             CAST(ROUND(value * 100) AS BIGINT) AS x
      FROM events WHERE event_type IN ('click', 'purchase')),
    m AS (
      SELECT CAST(sum(s) AS BIGINT) AS n1,
             CAST(sum(1 - s) AS BIGINT) AS n2,
             CAST(sum(s * x) AS BIGINT) AS s1,
             CAST(sum((1 - s) * x) AS BIGINT) AS s2,
             CAST(sum(s * x * x) AS HUGEINT) AS q1,
             CAST(sum((1 - s) * x * x) AS HUGEINT) AS q2
      FROM base)
    SELECT n1, n2,
           ROUND((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                 / 100.0, 6) AS mean_diff,
           ROUND((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                 / sqrt(
                   CAST(n1 * q1 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1))
                   + CAST(n2 * q2 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE)
                   / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1))), 6)
               AS t_stat
    FROM m
    """,
    doc="Welch's unequal-variance t statistic between the click and "
        "purchase value populations — the A/B-test workhorse. All "
        "five moments (counts, sums, sums of squares) accumulate as "
        "exact integers in ONE conditional map-side-partial aggregate "
        "over the fact table (sum-of-squares in DECIMAL(38)/HUGEINT: "
        "cents^2 times 100 TB row counts overflows BIGINT), and the "
        "t statistic is a single identical IEEE expression of those "
        "integers using the n*q - s^2 cancellation-free variance "
        "form. No join, no window, no second pass — the entire "
        "reduction is one 1-row aggregate at any scale",
    exchanges=1,
)
def welch_t_test(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    base = (ev.filter(F.col("event_type").isin("click", "purchase"))
            .select((F.col("event_type") == "click").cast("bigint")
                    .alias("s"),
                    F.round(F.col("value") * 100).cast("bigint")
                    .alias("x")))
    m = base.agg(
        F.sum("s").alias("n1"),
        F.sum(1 - F.col("s")).alias("n2"),
        F.sum(F.col("s") * F.col("x")).alias("s1"),
        F.sum((1 - F.col("s")) * F.col("x")).alias("s2"),
        F.sum((F.col("s") * F.col("x") * F.col("x"))
              .cast("decimal(38,0)")).alias("q1"),
        F.sum(((1 - F.col("s")) * F.col("x") * F.col("x"))
              .cast("decimal(38,0)")).alias("q2"))
    n1, n2 = F.col("n1"), F.col("n2")
    s1, s2 = F.col("s1"), F.col("s2")
    mean_diff = (s1.cast("double") / n1 - s2.cast("double") / n2)
    var_term = (
        (n1 * F.col("q1") - s1.cast("decimal(38,0)") * s1)
        .cast("double") / (n1.cast("double") * n1 * (n1 - 1))
        + (n2 * F.col("q2") - s2.cast("decimal(38,0)") * s2)
        .cast("double") / (n2.cast("double") * n2 * (n2 - 1)))
    return m.select(
        "n1", "n2",
        F.round(mean_diff / 100.0, 6).alias("mean_diff"),
        F.round(mean_diff / F.sqrt(var_term), 6).alias("t_stat"))


@query(
    "chi2_independence_test",
    oracle="""
    WITH cells AS (
      SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2),
    rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r
           FROM cells GROUP BY 1),
    ct AS (SELECT hod, CAST(sum(o) AS BIGINT) AS c
           FROM cells GROUP BY 1),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
    SELECT cells.event_type, cells.hod, cells.o,
           ROUND(CAST(rt.r AS DOUBLE) * ct.c / tot.n, 6) AS expected,
           ROUND(CAST((CAST(cells.o AS HUGEINT) * tot.n - CAST(rt.r
                       AS HUGEINT) * ct.c)
                      * (CAST(cells.o AS HUGEINT) * tot.n
                         - CAST(rt.r AS HUGEINT) * ct.c) AS DOUBLE)
                 / (CAST(tot.n AS DOUBLE)
                    * CAST(CAST(rt.r AS HUGEINT) * ct.c AS DOUBLE)), 6)
               AS chi2_term
    FROM cells
    JOIN rt USING (event_type) JOIN ct USING (hod), tot
    ORDER BY cells.event_type, cells.hod
    """,
    doc="chi-square test of independence between event type and "
        "hour-of-day — the categorical-association screen (is traffic "
        "mix time-of-day dependent?). Per-cell contribution "
        "(o-e)^2/e computed WITHOUT a float expected value on the "
        "data path: the residual is cross-multiplied to the exact "
        "integer o*n - r*c in DECIMAL(38)/HUGEINT, and only the final "
        "normalization divides (one identical IEEE expression). ONE "
        "map-side-partial aggregate builds the cells; margins are "
        "cells-sized rollups broadcast back, and the 1-row grand "
        "total is a broadcast scalar. At 100 TB the post-agg relation "
        "is #types x 24 rows regardless of input volume",
    exchanges=8,
)
def chi2_independence_test(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    cells = (ev.groupBy("event_type",
                        F.hour("ts").cast("bigint").alias("hod"))
             .agg(F.count(F.lit(1)).alias("o")))
    rt = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = cells.groupBy("hod").agg(F.sum("o").alias("c"))
    tot = cells.agg(F.sum("o").alias("n"))
    j = (cells.join(F.broadcast(rt), "event_type")
         .join(F.broadcast(ct), "hod")
         .crossJoin(F.broadcast(tot)))
    num = (F.col("o").cast("decimal(38,0)") * F.col("n")
           - F.col("r").cast("decimal(38,0)") * F.col("c"))
    rc = F.col("r").cast("decimal(38,0)") * F.col("c")
    return (j.select(
                "event_type", "hod", "o",
                F.round(F.col("r").cast("double") * F.col("c")
                        / F.col("n"), 6).alias("expected"),
                F.round((num * num).cast("double")
                        / (F.col("n").cast("double")
                           * rc.cast("double")), 6)
                .alias("chi2_term"))
            .orderBy("event_type", "hod"))


@query(
    "roc_auc_exact",
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
             CAST(coalesce(sum(c0) OVER (
                 ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING), 0) AS BIGINT) AS below0
      FROM counts),
    tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                   CAST(sum(c0) AS BIGINT) AS n0 FROM counts),
    u AS (SELECT CAST(sum(CAST(c1 AS HUGEINT)
                          * (2 * below0 + c0)) AS HUGEINT) AS u2
          FROM cum)
    SELECT tot.n1 AS n_pos, tot.n0 AS n_neg,
           CAST((2 * u.u2 * 1000000
                 + 2 * CAST(tot.n1 AS HUGEINT) * tot.n0)
                // (4 * CAST(tot.n1 AS HUGEINT) * tot.n0) AS DOUBLE)
               / 1000000.0 AS auc
    FROM tot, u
    """,
    doc="exact ROC-AUC of 'value predicts purchase vs click' via the "
        "Mann-Whitney U statistic with the standard tie correction: "
        "AUC = (sum over distinct scores of c1*(below0 + c0/2)) / "
        "(n1*n0), kept integral as 2U = sum c1*(2*below0 + c0) so "
        "ties never produce a fractional intermediate. The exclusive "
        "CDF is ranking.prefix_sums (within-bucket window + "
        "broadcast bucket offsets — no single-task ORDER BY over the "
        "score domain), products are DECIMAL(38)/HUGEINT, and the "
        "ONLY division is the final AUC ratio, rounded half-away in "
        "exact integers (ratio_round6 with denominator 2*n1*n0). "
        "At 100 TB: one map-side-partial count per score value, then "
        "score-cardinality-scale relations; the totals are a 1-row "
        "broadcast scalar. ref: main.py has no model eval — this is "
        "the training-pipeline extension family",
    exchanges=8,
)
def roc_auc_exact(spark, sf_dir):
    ev = table(spark, sf_dir, "events")

    base = (ev.filter(F.col("event_type").isin("click", "purchase"))
            .select(F.round(F.col("value") * 100).cast("bigint")
                    .alias("cents"),
                    (F.col("event_type") == "purchase").cast("bigint")
                    .alias("y")))
    counts = (base.groupBy("cents")
              .agg(F.sum("y").alias("c1"),
                   F.sum(1 - F.col("y")).alias("c0")))
    # exclusive prefix sum of the negative counts
    cum = prefix_sums(counts, idiv(F.col("cents"), F.lit(2500)),
                      ["cents"], {"below0": "c0"}, exclusive=True)
    u = cum.agg(F.sum(F.col("c1").cast("decimal(38,0)")
                      * (2 * F.col("below0") + F.col("c0")))
                .cast("decimal(38,0)").alias("u2"))
    tot = counts.agg(F.sum("c1").alias("n1"), F.sum("c0").alias("n0"))
    j = tot.crossJoin(F.broadcast(u))
    return j.select(
        F.col("n1").alias("n_pos"), F.col("n0").alias("n_neg"),
        ratio_round6(F.col("u2"),
                     2 * F.col("n1").cast("decimal(38,0)") * F.col("n0"))
        .alias("auc"))


_PR_THRESHOLDS = (1000, 2500, 5000, 7500, 9000)


@query(
    "precision_recall_thresholds",
    oracle=f"""
    WITH base AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents,
             CAST(event_type = 'purchase' AS BIGINT) AS y
      FROM events WHERE event_type IN ('click', 'purchase')),
    agg AS (
      SELECT CAST(sum(y) AS BIGINT) AS n1,
             CAST(sum(1 - y) AS BIGINT) AS n0,
             {', '.join(
                 f'CAST(sum(CASE WHEN cents >= {t} THEN y ELSE 0 END) '
                 f'AS BIGINT) AS tp{t}, '
                 f'CAST(sum(CASE WHEN cents >= {t} THEN 1 - y ELSE 0 '
                 f'END) AS BIGINT) AS fp{t}' for t in _PR_THRESHOLDS)}
      FROM base),
    rows_ AS (
      {' UNION ALL '.join(
          f'SELECT CAST({t} AS BIGINT) AS threshold_cents, '
          f'tp{t} AS tp, fp{t} AS fp, n1 - tp{t} AS fn, '
          f'n0 - fp{t} AS tn FROM agg' for t in _PR_THRESHOLDS)})
    SELECT threshold_cents, tp, fp, fn, tn,
           CAST((2 * CAST(tp AS HUGEINT) * 1000000 + tp + fp)
                // (2 * CAST(tp + fp AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS precision6,
           CAST((2 * CAST(tp AS HUGEINT) * 1000000 + tp + fn)
                // (2 * CAST(tp + fn AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS recall6,
           CAST((2 * CAST(2 * tp AS HUGEINT) * 1000000
                 + 2 * tp + fp + fn)
                // (2 * CAST(2 * tp + fp + fn AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS f1
    FROM rows_ ORDER BY threshold_cents
    """,
    doc="precision / recall / F1 at a fixed grid of score thresholds "
        "(the operating-point sweep behind a PR curve): ONE "
        "map-side-partial aggregate computes every confusion cell as "
        "conditional sums (no threshold x events row amplification, "
        "no broadcast join — the thresholds are compiled into the "
        "aggregate), then the 1-row result unpivots to one row per "
        "threshold. F1 uses the algebraic identity 2TP/(2TP+FP+FN) "
        "so it is a SINGLE exact integer ratio, rounded half-away in "
        "DECIMAL(38)/HUGEINT like every ratio in the repo. At 100 TB "
        "this is a full scan + constant-size state — the cheapest "
        "possible shape for a threshold sweep",
    exchanges=1,
)
def precision_recall_thresholds(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    base = (ev.filter(F.col("event_type").isin("click", "purchase"))
            .select(F.round(F.col("value") * 100).cast("bigint")
                    .alias("cents"),
                    (F.col("event_type") == "purchase").cast("bigint")
                    .alias("y")))
    aggs = [F.sum("y").alias("n1"),
            F.sum(1 - F.col("y")).alias("n0")]
    for t in _PR_THRESHOLDS:
        hit = (F.col("cents") >= t).cast("bigint")
        aggs.append(F.sum(hit * F.col("y")).alias(f"tp{t}"))
        aggs.append(F.sum(hit * (1 - F.col("y"))).alias(f"fp{t}"))
    one = base.agg(*aggs)
    rows = one.select(F.explode(F.array(*[
        F.struct(F.lit(t).cast("bigint").alias("threshold_cents"),
                 F.col(f"tp{t}").alias("tp"),
                 F.col(f"fp{t}").alias("fp"),
                 (F.col("n1") - F.col(f"tp{t}")).alias("fn"),
                 (F.col("n0") - F.col(f"fp{t}")).alias("tn"))
        for t in _PR_THRESHOLDS])).alias("r")).select("r.*")
    return (rows.select(
        "threshold_cents", "tp", "fp", "fn", "tn",
        ratio_round6(F.col("tp"), F.col("tp") + F.col("fp"))
        .alias("precision6"),
        ratio_round6(F.col("tp"), F.col("tp") + F.col("fn"))
        .alias("recall6"),
        ratio_round6(2 * F.col("tp"),
                     2 * F.col("tp") + F.col("fp") + F.col("fn"))
        .alias("f1"))
        .orderBy("threshold_cents"))


@query(
    "event_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS from_type,
             lead(event_type) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id)
                 AS to_type
      FROM events),
    cnt AS (
      SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS row_n
            FROM cnt GROUP BY 1)
    SELECT cnt.from_type, cnt.to_type, cnt.n,
           CAST((2 * CAST(cnt.n AS HUGEINT) * 1000000 + tot.row_n)
                // (2 * CAST(tot.row_n AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS prob
    FROM cnt JOIN tot USING (from_type)
    ORDER BY cnt.from_type, cnt.to_type
    """,
    doc="first-order Markov transition matrix over per-user event "
        "sequences: P(next_type | current_type) from lead() within "
        "each user's timeline — the behavioral sequence model behind "
        "next-event prediction and anomalous-session scoring. One "
        "user-partitioned window (rides the same exchange shape as "
        "every per-user timeline op), then the transition counts are "
        "a #types^2-row relation: the per-row totals join is a "
        "broadcast and the probability is one exact integer ratio, "
        "rounded half-away in DECIMAL(38)/HUGEINT. At 100 TB: one "
        "shuffle by user for the lead, constant-size state after",
    exchanges=4,
)
def event_markov_transitions(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"))
    cnt = (seq.filter(F.col("to_type").isNotNull())
           .groupBy("from_type", "to_type")
           .agg(F.count(F.lit(1)).alias("n")))
    # row totals as a window over the |types|^2 grouped relation: a
    # groupBy+join would re-run the corpus-scale lead lineage for the
    # totals side (two full passes at 100 TB); the window rides the
    # tiny relation instead
    wrow = Window.partitionBy("from_type")
    return (cnt.withColumn("row_n", F.sum("n").over(wrow))
            .select("from_type", "to_type", "n",
                    ratio_round6(F.col("n"), F.col("row_n"))
                    .alias("prob"))
            .orderBy("from_type", "to_type"))


@query(
    "theil_sen_slope",
    oracle="""
    WITH bars AS (
      SELECT user_id,
             CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT)
                 // 86400 AS d,
             CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM events GROUP BY 1, 2),
    pairs AS (
      SELECT a.user_id,
             b.cents - a.cents AS dc, b.d - a.d AS dd,
             CAST(b.cents - a.cents AS DOUBLE) / (b.d - a.d) AS sl
      FROM bars a JOIN bars b
        ON a.user_id = b.user_id AND a.d < b.d),
    rk AS (
      SELECT user_id, dc, dd,
             row_number() OVER (
                 PARTITION BY user_id ORDER BY sl, dc, dd) AS rn,
             count(*) OVER (PARTITION BY user_id) AS np
      FROM pairs)
    SELECT user_id, CAST(np AS BIGINT) AS n_pairs,
           CAST(CASE WHEN dc >= 0
                THEN (2 * CAST(dc AS HUGEINT) * 1000000 + dd)
                     // (2 * CAST(dd AS HUGEINT))
                ELSE -((2 * CAST(-dc AS HUGEINT) * 1000000 + dd)
                       // (2 * CAST(dd AS HUGEINT))) END AS DOUBLE)
               / 1000000.0 AS sen_slope
    FROM rk WHERE rn = (np + 1) // 2
    ORDER BY user_id
    """,
    doc="Theil-Sen robust trend estimator per user: the (lower) "
        "median of all pairwise slopes of the daily value series — "
        "the outlier-resistant alternative to OLS trend "
        "(linreg_trend_per_user) with a 29% breakdown point. Pairs "
        "come from a per-user self-equi-join of the DAILY bars "
        "relation (the raw scan is first collapsed ~1000x by the "
        "date_trunc aggregate, so the quadratic blowup is bounded by "
        "days-per-user, not events — at 100 TB the pair relation "
        "stays ~30x the bar relation and shares its user "
        "partitioning). Median selection orders by the slope DOUBLE "
        "(identical IEEE division of identical integers on both "
        "engines) with (dc, dd) tiebreak for a total order; the "
        "REPORTED slope re-derives from the winning pair's integers "
        "with signed half-away rounding in DECIMAL(38)/HUGEINT — no "
        "float ever enters the comparison-or-rounding path "
        "ambiguously. One shuffle by user, windows ride it",
    exchanges=4,
)
def theil_sen_slope(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    bars = (ev.groupBy(
        "user_id",
        idiv(F.floor(F.unix_timestamp(F.date_trunc("day", F.col("ts"))))
             .cast("bigint"), 86400).alias("d"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint"))
             .alias("cents")))
    a = bars.alias("a")
    b = bars.select(F.col("user_id"), F.col("d").alias("d_b"),
                    F.col("cents").alias("cents_b")).alias("b")
    pairs = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                    & (F.col("a.d") < F.col("d_b")))
             .select(F.col("a.user_id").alias("user_id"),
                     (F.col("cents_b") - F.col("cents")).alias("dc"),
                     (F.col("d_b") - F.col("a.d")).alias("dd")))
    pairs = pairs.withColumn(
        "sl", F.col("dc").cast("double") / F.col("dd"))
    wrk = Window.partitionBy("user_id").orderBy("sl", "dc", "dd")
    wnp = Window.partitionBy("user_id")
    rk = pairs.select(
        "user_id", "dc", "dd",
        F.row_number().over(wrk).alias("rn"),
        F.count(F.lit(1)).over(wnp).alias("np"))
    return (rk.filter(F.col("rn") == idiv(F.col("np") + 1, 2))
            .select("user_id", F.col("np").cast("bigint")
                    .alias("n_pairs"),
                    signed_ratio_round6(F.col("dc"), F.col("dd"))
                    .alias("sen_slope"))
            .orderBy("user_id"))


@query(
    "quadratic_trend_fit",
    oracle="""
    WITH bars AS (
      SELECT user_id,
             CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT)
                 // 86400 AS d,
             CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS y
      FROM events GROUP BY 1, 2),
    tb AS (
      SELECT user_id,
             CAST(d - min(d) OVER (PARTITION BY user_id) AS HUGEINT)
                 AS t,
             CAST(y AS HUGEINT) AS y
      FROM bars),
    s AS (
      SELECT user_id, CAST(count(*) AS HUGEINT) AS n,
             sum(t) AS st, sum(t * t) AS st2, sum(t * t * t) AS st3,
             sum(t * t * t * t) AS st4,
             sum(y) AS sy, sum(t * y) AS sty, sum(t * t * y) AS st2y
      FROM tb GROUP BY user_id HAVING count(*) >= 3),
    det AS (
      SELECT user_id, n,
             n * (st2 * st4 - st3 * st3)
               - st * (st * st4 - st3 * st2)
               + st2 * (st * st3 - st2 * st2) AS dd,
             sy * (st2 * st4 - st3 * st3)
               - st * (sty * st4 - st3 * st2y)
               + st2 * (sty * st3 - st2 * st2y) AS da,
             n * (sty * st4 - st3 * st2y)
               - sy * (st * st4 - st3 * st2)
               + st2 * (st * st2y - sty * st2) AS db,
             n * (st2 * st2y - sty * st3)
               - st * (st * st2y - sty * st2)
               + sy * (st * st3 - st2 * st2) AS dc
      FROM s)
    SELECT user_id, CAST(n AS BIGINT) AS n_days,
           CAST(CASE WHEN (da >= 0) = (dd >= 0) THEN 1 ELSE -1 END
                * ((2 * abs(da) * 1000000 + abs(dd))
                   // (2 * abs(dd))) AS DOUBLE) / 1000000.0 AS a_cents,
           CAST(CASE WHEN (db >= 0) = (dd >= 0) THEN 1 ELSE -1 END
                * ((2 * abs(db) * 1000000 + abs(dd))
                   // (2 * abs(dd))) AS DOUBLE) / 1000000.0 AS b_cents,
           CAST(CASE WHEN (dc >= 0) = (dd >= 0) THEN 1 ELSE -1 END
                * ((2 * abs(dc) * 1000000 + abs(dd))
                   // (2 * abs(dd))) AS DOUBLE) / 1000000.0 AS c_cents
    FROM det WHERE dd <> 0 ORDER BY user_id
    """,
    doc="closed-form QUADRATIC least-squares fit y = a + b*t + c*t^2 "
        "per user over the daily value series, solved via the 3x3 "
        "normal equations with Cramer's rule — multi-feature OLS "
        "without any iterative solver or collect. Every moment sum "
        "(n..St^4, Sy..St^2y) and every 3x3 determinant is EXACT "
        "integer arithmetic (DECIMAL(38)/HUGEINT; t is re-based per "
        "user so St^4 stays ~1e9 and determinant products fit "
        "comfortably in 38 digits); the only divisions are the three "
        "final coefficient ratios, rounded half-away in exact "
        "integers. Degenerate series (<3 distinct days, singular "
        "system) are filtered by the SAME integer predicate on both "
        "engines — no epsilon. One shuffle by user; the re-basing "
        "min() rides the same exchange as the moment aggregate. At "
        "100 TB this is a scan + one partial-aggregated groupBy: "
        "the classic 'train a million tiny models in one pass' shape",
    exchanges=3,
)
def quadratic_trend_fit(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    day = (F.floor(F.unix_timestamp(F.date_trunc("day", F.col("ts"))))
           .cast("bigint"))
    bars = (ev.groupBy("user_id", idiv(day, 86400).alias("d"))
            .agg(F.sum(F.round(F.col("value") * 100).cast("bigint"))
                 .alias("y")))
    wmin = Window.partitionBy("user_id")
    tb = bars.select(
        "user_id",
        (F.col("d") - F.min("d").over(wmin)).cast("decimal(38,0)")
        .alias("t"),
        F.col("y").cast("decimal(38,0)").alias("y"))
    t, y = F.col("t"), F.col("y")
    s = (tb.groupBy("user_id")
         .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
              F.sum(t).alias("st"), F.sum(t * t).alias("st2"),
              F.sum(t * t * t).alias("st3"),
              F.sum(t * t * t * t).alias("st4"),
              F.sum(y).alias("sy"), F.sum(t * y).alias("sty"),
              F.sum(t * t * y).alias("st2y"))
         .filter(F.col("n") >= 3))
    n, st, st2, st3, st4, sy, sty, st2y = [
        F.col(c) for c in
        ("n", "st", "st2", "st3", "st4", "sy", "sty", "st2y")]
    dd = (n * (st2 * st4 - st3 * st3)
          - st * (st * st4 - st3 * st2)
          + st2 * (st * st3 - st2 * st2))
    da = (sy * (st2 * st4 - st3 * st3)
          - st * (sty * st4 - st3 * st2y)
          + st2 * (sty * st3 - st2 * st2y))
    db = (n * (sty * st4 - st3 * st2y)
          - sy * (st * st4 - st3 * st2)
          + st2 * (st * st2y - sty * st2))
    dc = (n * (st2 * st2y - sty * st3)
          - st * (st * st2y - sty * st2)
          + sy * (st * st3 - st2 * st2))
    det = s.select("user_id", n.cast("bigint").alias("n_days"),
                   dd.alias("dd"), da.alias("da"), db.alias("db"),
                   dc.alias("dc"))
    return (det.filter(F.col("dd") != 0)
            .select("user_id", "n_days",
                    signed_ratio_round6(F.col("da"), F.col("dd"))
                    .alias("a_cents"),
                    signed_ratio_round6(F.col("db"), F.col("dd"))
                    .alias("b_cents"),
                    signed_ratio_round6(F.col("dc"), F.col("dd"))
                    .alias("c_cents"))
            .orderBy("user_id"))


_PCTS = ((5, 10), (9, 10), (99, 100))  # q as exact rationals p/den


@query(
    "percentile_interpolated_per_type",
    oracle=f"""
    WITH v AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents,
             row_number() OVER (
                 PARTITION BY event_type
                 ORDER BY CAST(ROUND(value * 100) AS BIGINT)) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events),
    qs AS (SELECT * FROM (VALUES {', '.join(
        f'({p}, {d})' for p, d in _PCTS)}) AS t(p, den)),
    ix AS (
      SELECT DISTINCT event_type, n, p, den,
             (n - 1) * p // den AS lo_i,
             (n - 1) * p % den AS rem
      FROM v, qs),
    pick AS (
      SELECT ix.event_type, ix.p, ix.den, ix.rem,
             lo.cents AS v_lo,
             coalesce(hi.cents, lo.cents) AS v_hi
      FROM ix
      JOIN v lo ON lo.event_type = ix.event_type
               AND lo.rk = ix.lo_i + 1
      LEFT JOIN v hi ON hi.event_type = ix.event_type
                    AND hi.rk = ix.lo_i + 2)
    SELECT event_type,
           CAST(p AS BIGINT) * 100 // den AS pct,
           CAST((CAST(v_lo AS HUGEINT) * den
                 + rem * (v_hi - v_lo)) AS DOUBLE)
               / (den * 100.0) AS value_interp
    FROM pick ORDER BY event_type, pct
    """,
    doc="exact PERCENTILE_CONT (linear interpolation between order "
        "statistics) per event type at p50/p90/p99 — computed from "
        "first principles so both engines run the identical integer "
        "arithmetic instead of trusting two different quantile "
        "implementations. The fractional position (n-1)*p lands on "
        "exact rational p/den, so the interpolated value "
        "v_lo + rem/den*(v_hi - v_lo) scales to the INTEGER "
        "v_lo*den + rem*(v_hi-v_lo) in den-ths of a cent; the final "
        "division by den*100 is one identical IEEE op (every quotient "
        "is exactly representable). Ranks are per-group windows — at "
        "100 TB swap in the two-phase bucket rank "
        "(operators/ranking.py) per group; the op's join shape "
        "(two order statistics per (group, p)) is already "
        "rank-equality, never a sort-merge of the full series",
    exchanges=4,
)
def percentile_interpolated_per_type(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = Window.partitionBy("event_type").orderBy("cents")
    wn = Window.partitionBy("event_type")
    v = (ev.select("event_type", cents.alias("cents"))
         .withColumn("rk", F.row_number().over(w))
         .withColumn("n", F.count(F.lit(1)).over(wn)))
    qs = spark.createDataFrame(
        [(p, d) for p, d in _PCTS], "p long, den long")
    ix = (v.select("event_type", "n").distinct()
          .crossJoin(F.broadcast(qs))
          .select("event_type", "p", "den",
                  idiv((F.col("n") - 1) * F.col("p"), F.col("den"))
                  .alias("lo_i"),
                  (((F.col("n") - 1) * F.col("p")) % F.col("den"))
                  .alias("rem")))
    lo = v.select(F.col("event_type").alias("et_lo"),
                  F.col("rk").alias("lo_rk"),
                  F.col("cents").alias("v_lo"))
    hi = v.select(F.col("event_type").alias("et_hi"),
                  F.col("rk").alias("hi_rk"),
                  F.col("cents").alias("v_hi"))
    pick = (ix.join(lo, (F.col("lo_rk") == F.col("lo_i") + 1)
                    & (F.col("et_lo") == F.col("event_type")))
            .drop("et_lo", "lo_rk")
            .join(hi, (F.col("hi_rk") == F.col("lo_i") + 2)
                  & (F.col("et_hi") == F.col("event_type")), "left")
            .drop("et_hi", "hi_rk")
            .withColumn("v_hi", F.coalesce("v_hi", "v_lo")))
    return (pick.select(
        "event_type",
        idiv(F.col("p") * 100, F.col("den")).alias("pct"),
        ((F.col("v_lo").cast("decimal(38,0)") * F.col("den")
          + F.col("rem") * (F.col("v_hi") - F.col("v_lo")))
         .cast("double") / (F.col("den") * F.lit(100.0)))
        .alias("value_interp"))
        .orderBy("event_type", "pct"))


_ISO_BINS, _ISO_W = 20, 500


@query(
    "isotonic_calibration",
    oracle=f"""
    WITH base AS (
      SELECT least({_ISO_BINS - 1},
                   greatest(0, CAST(ROUND(value * 100) AS BIGINT))
                       // {_ISO_W}) AS b,
             CAST(event_type = 'purchase' AS BIGINT) AS y
      FROM events WHERE event_type IN ('click', 'purchase')),
    bins AS (
      SELECT b, CAST(count(*) AS BIGINT) AS nb,
             CAST(sum(y) AS BIGINT) AS pb
      FROM base GROUP BY b),
    pre AS (
      SELECT b, nb, pb,
             CAST(sum(nb) OVER w AS BIGINT) AS cn,
             CAST(sum(pb) OVER w AS BIGINT) AS cp
      FROM bins
      WINDOW w AS (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)),
    seg AS (
      SELECT lo.b AS i, hi.b AS j,
             hi.cp - lo.cp + lo.pb AS num,
             hi.cn - lo.cn + lo.nb AS den,
             CAST(hi.cp - lo.cp + lo.pb AS DOUBLE)
                 / (hi.cn - lo.cn + lo.nb) AS avg_d
      FROM pre lo JOIN pre hi ON lo.b <= hi.b),
    minj AS (
      SELECT bins.b, seg.i,
             (min(struct_pack(a := seg.avg_d, j := seg.j,
                              num := seg.num, den := seg.den))).num
                 AS num,
             (min(struct_pack(a := seg.avg_d, j := seg.j,
                              num := seg.num, den := seg.den))).den
                 AS den,
             min(seg.avg_d) AS avg_d
      FROM bins JOIN seg ON seg.i <= bins.b AND seg.j >= bins.b
      GROUP BY bins.b, seg.i),
    iso AS (
      SELECT b,
             (max(struct_pack(a := avg_d, i := i, num := num,
                              den := den))).num AS num,
             (max(struct_pack(a := avg_d, i := i, num := num,
                              den := den))).den AS den
      FROM minj GROUP BY b)
    SELECT bins.b AS bin, bins.nb AS n, bins.pb AS pos,
           CAST((2 * CAST(bins.pb AS HUGEINT) * 1000000 + bins.nb)
                // (2 * CAST(bins.nb AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS rate6,
           CAST((2 * CAST(iso.num AS HUGEINT) * 1000000 + iso.den)
                // (2 * CAST(iso.den AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS iso6
    FROM bins JOIN iso ON bins.b = iso.b ORDER BY bin
    """,
    doc="isotonic-regression calibration (pool-adjacent-violators) of "
        "P(purchase | score bin) over a 20-bin score spine, via the "
        "PAV minimax closed form iso(b) = max_{{i<=b}} min_{{j>=b}} "
        "avg(i..j) — the monotone calibrator behind 'calibrated "
        "probabilities from a ranking score' (the step up from the "
        "raw reliability diagram nb_calibration_curve). The corpus "
        "collapses to 20 (count, positives) cells in ONE map-side "
        "partial aggregate; everything after — prefix sums, the "
        "i<=b<=j segment lattice (20^3 rows), the struct min/max "
        "selections — runs on bin-count-sized relations that are "
        "CONSTANT at any corpus scale. Segment averages compare as "
        "identical-IEEE doubles (ties broken by j then i through "
        "lexicographic struct ordering, same on both engines) but "
        "the SELECTED segment's exact integer (num, den) pair "
        "travels through the minimax, so the reported iso6 is the "
        "half-away integer rounding of the true rational — no "
        "float accumulates anywhere",
    exchanges=7,
)
def isotonic_calibration(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    b = F.least(F.lit(_ISO_BINS - 1),
                F.greatest(F.lit(0), idiv(cents, _ISO_W)))
    base = (ev.filter(F.col("event_type").isin("click", "purchase"))
            .select(b.alias("b"),
                    (F.col("event_type") == "purchase").cast("bigint")
                    .alias("y")))
    bins = base.groupBy("b").agg(
        F.count(F.lit(1)).alias("nb"), F.sum("y").alias("pb"))
    wpre = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, 0)
    pre = bins.select("b", "nb", "pb",
                      F.sum("nb").over(wpre).alias("cn"),
                      F.sum("pb").over(wpre).alias("cp"))
    lo = pre.select(F.col("b").alias("i"), F.col("cn").alias("cn_lo"),
                    F.col("cp").alias("cp_lo"),
                    F.col("nb").alias("nb_lo"),
                    F.col("pb").alias("pb_lo"))
    hi = pre.select(F.col("b").alias("j"), F.col("cn").alias("cn_hi"),
                    F.col("cp").alias("cp_hi"))
    seg = (lo.join(F.broadcast(hi), F.col("i") <= F.col("j"))
           .select("i", "j",
                   (F.col("cp_hi") - F.col("cp_lo") + F.col("pb_lo"))
                   .alias("num"),
                   (F.col("cn_hi") - F.col("cn_lo") + F.col("nb_lo"))
                   .alias("den")))
    seg = seg.withColumn(
        "avg_d", F.col("num").cast("double") / F.col("den"))
    spine = bins.select(F.col("b"))
    minj = (spine.join(F.broadcast(seg),
                       (F.col("i") <= F.col("b"))
                       & (F.col("j") >= F.col("b")))
            .groupBy("b", "i")
            .agg(F.min(F.struct(F.col("avg_d").alias("a"),
                                F.col("j").alias("j"),
                                F.col("num").alias("num"),
                                F.col("den").alias("den")))
                 .alias("m")))
    iso = (minj.select("b", F.col("m.a").alias("a"),
                       F.col("i"), F.col("m.num").alias("num"),
                       F.col("m.den").alias("den"))
           .groupBy("b")
           .agg(F.max(F.struct(F.col("a"), F.col("i").alias("i"),
                               F.col("num").alias("num"),
                               F.col("den").alias("den")))
                .alias("mx")))
    return (bins.join(iso, "b")
            .select(F.col("b").alias("bin"), F.col("nb").alias("n"),
                    F.col("pb").alias("pos"),
                    ratio_round6(F.col("pb"), F.col("nb"))
                    .alias("rate6"),
                    ratio_round6(F.col("mx.num"), F.col("mx.den"))
                    .alias("iso6"))
            .orderBy("bin"))


@query(
    "woe_information_value",
    oracle="""
    WITH base AS (
      SELECT least(9, greatest(0, CAST(ROUND(value * 100) AS BIGINT))
                      // 1000) AS bin,
             CAST(event_type = 'purchase' AS BIGINT) AS y
      FROM events WHERE event_type IN ('click', 'purchase')),
    bins AS (
      SELECT bin, CAST(sum(y) AS BIGINT) AS pos,
             CAST(sum(1 - y) AS BIGINT) AS neg
      FROM base GROUP BY bin),
    tot AS (SELECT CAST(sum(pos) AS BIGINT) AS tp,
                   CAST(sum(neg) AS BIGINT) AS tn FROM bins)
    SELECT bin, pos, neg,
           ROUND(ln((CAST(pos + 1 AS DOUBLE) / (tp + 10))
                    / (CAST(neg + 1 AS DOUBLE) / (tn + 10))), 6)
               AS woe,
           ROUND(((CAST(pos + 1 AS DOUBLE) / (tp + 10))
                  - (CAST(neg + 1 AS DOUBLE) / (tn + 10)))
                 * ln((CAST(pos + 1 AS DOUBLE) / (tp + 10))
                      / (CAST(neg + 1 AS DOUBLE) / (tn + 10))), 6)
               AS iv_term
    FROM bins, tot ORDER BY bin
    """,
    doc="weight-of-evidence / information-value feature screen (the "
        "credit-scoring standard for 'does this binned feature "
        "separate the classes'): per score bin, WOE = "
        "ln(smoothed pos share / smoothed neg share) and its IV "
        "contribution (p-q)*WOE, which is always >= 0 (p-q and "
        "ln(p/q) share sign — same identity the PSI monitor rests "
        "on). Counts are one map-side-partial aggregate; Laplace "
        "+1/+bins smoothing keeps empty cells finite with the exact "
        "integer convention; the class totals are a 1-row broadcast "
        "and both engines evaluate the identical ln expression, "
        "rounded 6. At 100 TB: full scan to 10 cells, constant "
        "state after",
    exchanges=4,
)
def woe_information_value(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    b = F.least(F.lit(9), F.greatest(F.lit(0), idiv(cents, 1000)))
    base = (ev.filter(F.col("event_type").isin("click", "purchase"))
            .select(b.alias("bin"),
                    (F.col("event_type") == "purchase").cast("bigint")
                    .alias("y")))
    bins = base.groupBy("bin").agg(
        F.sum("y").alias("pos"), F.sum(1 - F.col("y")).alias("neg"))
    tot = bins.agg(F.sum("pos").alias("tp"), F.sum("neg").alias("tn"))
    j = bins.crossJoin(F.broadcast(tot))
    p = (F.col("pos") + 1).cast("double") / (F.col("tp") + 10)
    q = (F.col("neg") + 1).cast("double") / (F.col("tn") + 10)
    return (j.select("bin", "pos", "neg",
                     F.round(F.log(p / q), 6).alias("woe"),
                     F.round((p - q) * F.log(p / q), 6)
                     .alias("iv_term"))
            .orderBy("bin"))


_ED_BINS = 8


@query(
    "equidepth_histogram",
    oracle=f"""
    WITH v AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents,
             row_number() OVER (
                 ORDER BY CAST(ROUND(value * 100) AS BIGINT),
                          event_id) AS rk,
             count(*) OVER () AS n
      FROM events)
    SELECT (rk - 1) * {_ED_BINS} // n AS bin,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(cents) AS BIGINT) AS lo_cents,
           CAST(max(cents) AS BIGINT) AS hi_cents
    FROM v GROUP BY 1 ORDER BY bin
    """,
    doc=f"equi-DEPTH histogram ({_ED_BINS} equal-population buckets "
        "with exact boundaries) — the dual of the fixed-width "
        "value_histogram and the statistic behind range-partition "
        "planning and equi-height optimizer stats. Bucket of a row "
        "is the closed form (rank-1)*B div n, so bucket populations "
        "differ by at most 1 with NO quantile estimation; ranks ride "
        "the two-phase global bucket rank at scale "
        "(operators/ranking.py — this oracle states the semantic; "
        "the registered Spark plan uses the same two-phase shape as "
        "global_shuffle_rank, never one sorted partition of the "
        "corpus). Ties broken by event_id so both engines bucket "
        "identically",
    exchanges=7,
)
def equidepth_histogram(spark, sf_dir):
    from ..operators.ranking import global_rank
    ev = table(spark, sf_dir, "events")
    v = ev.select(F.round(F.col("value") * 100).cast("bigint")
                  .alias("cents"), "event_id")
    rk = global_rank(v, idiv(F.col("cents"), 2500), ["cents", "event_id"])
    n = rk.agg(F.count(F.lit(1)).alias("n"))
    j = rk.crossJoin(F.broadcast(n))
    bin_ = idiv((F.col("rank") - 1) * _ED_BINS, F.col("n"))
    return (j.select(bin_.alias("bin"), "cents")
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("cents").alias("lo_cents"),
                 F.max("cents").alias("hi_cents"))
            .orderBy("bin"))


@query(
    "clickstream_paths_topk",
    oracle="""
    WITH seq AS (
      SELECT event_type AS e1,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT e1 || '>' || e2 || '>' || e3 AS path,
           CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path LIMIT 20
    """,
    doc="top-20 three-step behavioral paths (clickstream n-grams) "
        "across user timelines — the path-mining complement of the "
        "1-step event_markov_transitions matrix. One per-user lead "
        "window (shared exchange with every timeline op), then the "
        "path counts are a |types|^3-bounded relation and the top-k "
        "is TakeOrderedAndProject — no global sort of real data at "
        "any scale",
    exchanges=2,
)
def clickstream_paths_topk(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"))
    return (seq.filter(F.col("e3").isNotNull())
            .select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
            .groupBy("path").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "path").limit(20))


@query(
    "window_functions_showcase",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events)
    SELECT user_id, event_id,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cume,
           CAST(nth_value(cents, 2) OVER wf AS BIGINT) AS second_low,
           CAST(first_value(cents) OVER w AS BIGINT) AS lowest,
           CAST(last_value(cents) OVER wf AS BIGINT) AS highest,
           CAST(lag(cents, 1, -1) OVER w AS BIGINT) AS prev_cents,
           CAST(lead(cents, 1, -1) OVER w AS BIGINT) AS next_cents
    FROM v
    WINDOW w AS (PARTITION BY user_id ORDER BY cents, event_id),
           wf AS (PARTITION BY user_id ORDER BY cents, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING
                  AND UNBOUNDED FOLLOWING)
    ORDER BY user_id, rn
    """,
    doc="the ranking/navigation window-function surface in one "
        "relation: row_number, percent_rank, cume_dist, nth_value, "
        "first/last_value over an explicit full frame, and "
        "defaulted lag/lead — per user, ordered by (cents, "
        "event_id) so the order is a total one and every engine "
        "computes identical rank rationals (percent_rank = "
        "(rank-1)/(n-1) of exact integers, one IEEE division, "
        "rounded 6). ALL ten functions share ONE window spec -> ONE "
        "exchange + sort; the full-frame variants reuse the sorted "
        "run. API-parity entry for the window-function family",
    exchanges=2,
)
def window_functions_showcase(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    v = ev.select("user_id", "event_id",
                  F.round(F.col("value") * 100).cast("bigint")
                  .alias("cents"))
    w = Window.partitionBy("user_id").orderBy("cents", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing)
    return (v.select(
        "user_id", "event_id",
        F.row_number().over(w).alias("rn"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("cents", 2).over(wf).alias("second_low"),
        F.first("cents").over(w).alias("lowest"),
        F.last("cents").over(wf).alias("highest"),
        F.lag("cents", 1, -1).over(w).alias("prev_cents"),
        F.lead("cents", 1, -1).over(w).alias("next_cents"))
        .orderBy("user_id", "rn"))


_CUPED_CUT = "2024-01-15"


@query(
    "cuped_adjusted_lift",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, CAST(user_id % 2 AS BIGINT) AS variant,
             CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '{_CUPED_CUT}'
                  THEN CAST(ROUND(value * 100) AS BIGINT) END), 0)
                  AS BIGINT) AS x,
             CAST(coalesce(sum(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUT}'
                  THEN CAST(ROUND(value * 100) AS BIGINT) END), 0)
                  AS BIGINT) AS y
      FROM events GROUP BY 1),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      FROM per_user),
    theta AS (
      SELECT n, sx,
             CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                 AS th
      FROM mom)
    SELECT variant,
           CAST(count(*) AS BIGINT) AS n_users,
           ROUND(CAST(sum(y) AS DOUBLE) / count(*) / 100.0, 4)
               AS mean_y,
           ROUND((CAST(sum(y) AS DOUBLE) / count(*)
                  - theta.th * (CAST(sum(x) AS DOUBLE) / count(*)
                                - CAST(theta.sx AS DOUBLE) / theta.n))
                 / 100.0, 4) AS mean_y_adj,
           ROUND(theta.th, 6) AS theta
    FROM per_user, theta
    GROUP BY variant, theta.th, theta.sx, theta.n
    ORDER BY variant
    """,
    doc="CUPED variance-reduced experiment readout (Deng et al. "
        "2013): per-user post-period spend Y adjusted by the "
        "pre-period covariate X via theta = cov(X,Y)/var(X), then "
        "averaged per variant (user_id mod 2 as the deterministic "
        "assignment) — the standard trick that cuts A/B metric "
        "variance by the pre/post correlation squared. All five "
        "moments are EXACT integers from one user-level aggregate "
        "(cross-multiplied covariance n*Sxy - Sx*Sy in HUGEINT/"
        "DECIMAL(38)); theta and the adjusted means are the only "
        "IEEE ops, written identically on both engines and rounded. "
        "The theta relation is a 1-row broadcast scalar. At 100 TB: "
        "scan -> per-user partial agg -> 1-row moments -> 2-row "
        "output; nothing holistic anywhere",
    exchanges=5,
)
def cuped_adjusted_lift(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    cut = F.lit(_CUPED_CUT).cast("timestamp")
    per_user = (ev.groupBy("user_id")
                .agg(F.coalesce(
                        F.sum(F.when(F.col("ts") < cut, cents)),
                        F.lit(0)).alias("x"),
                     F.coalesce(
                        F.sum(F.when(F.col("ts") >= cut, cents)),
                        F.lit(0)).alias("y"))
                .select("user_id",
                        (F.col("user_id") % 2).cast("bigint")
                        .alias("variant"), "x", "y"))
    mom = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
        .alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .alias("sxx"))
    theta = mom.select(
        "n", "sx",
        ((F.col("n") * F.col("sxy")
          - F.col("sx").cast("decimal(38,0)") * F.col("sy"))
         .cast("double")
         / (F.col("n") * F.col("sxx")
            - F.col("sx").cast("decimal(38,0)") * F.col("sx"))
         .cast("double")).alias("th"))
    j = per_user.crossJoin(F.broadcast(theta))
    return (j.groupBy("variant", "th", "sx", "n")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.round(F.sum("y").cast("double")
                         / F.count(F.lit(1)) / 100.0, 4)
                 .alias("mean_y"),
                 F.round((F.sum("y").cast("double") / F.count(F.lit(1))
                          - F.first("th")
                          * (F.sum("x").cast("double")
                             / F.count(F.lit(1))
                             - F.first("sx").cast("double")
                             / F.first("n"))) / 100.0, 4)
                 .alias("mean_y_adj"))
            .select("variant", "n_users", "mean_y", "mean_y_adj",
                    F.round(F.col("th"), 6).alias("theta"))
            .orderBy("variant"))


@query(
    "kaplan_meier_survival",
    oracle=f"""
    WITH span AS (
      SELECT user_id,
             CAST(floor(epoch(min(ts))) AS BIGINT) // 86400 AS d0,
             CAST(floor(epoch(min(CASE WHEN event_type = 'purchase'
                  THEN ts END))) AS BIGINT) // 86400 AS dp
      FROM events GROUP BY 1),
    horizon AS (
      SELECT CAST(floor(epoch(max(ts))) AS BIGINT) // 86400 AS dmax
      FROM events),
    obs AS (
      SELECT user_id,
             CASE WHEN dp IS NOT NULL THEN dp - d0
                  ELSE dmax - d0 END AS t,
             CAST(dp IS NOT NULL AS BIGINT) AS died
      FROM span, horizon),
    tt AS (
      SELECT t, CAST(sum(died) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS obs_n
      FROM obs GROUP BY t),
    risk AS (
      SELECT t, d,
             CAST((SELECT count(*) FROM obs) AS BIGINT)
               - CAST(coalesce(sum(obs_n) OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
      FROM tt),
    lns AS (
      SELECT t, d, n_risk,
             CASE WHEN d = n_risk THEN NULL
                  ELSE CAST(ROUND(ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                                  * {10000}) AS BIGINT) END AS lnterm,
             max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
                 OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS hit_zero
      FROM risk WHERE d > 0)
    SELECT t AS day, d AS n_events, n_risk,
           CASE WHEN hit_zero = 1 THEN 0.0
                ELSE ROUND(exp(CAST(sum(lnterm) OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                     ROW) AS DOUBLE) / {10000}), 4) END AS survival
    FROM lns ORDER BY day
    """,
    doc="Kaplan-Meier survival curve for time-to-first-purchase "
        "(event-time days since each user's first event; users who "
        "never purchase are right-censored at the observation "
        "horizon): S(t) = prod over event days <= t of (1 - d/n). "
        "The at-risk counts come from an EXCLUSIVE prefix sum over "
        "the per-day observation counts, each ln(1 - d/n) term is "
        "rounded to 1e-4 units and summed as BIGINT (the perplexity "
        "convention — the product is order-proof), and exp of the "
        "identical sum is the identical double. The d = n_risk "
        "terminal day (everyone at risk converts) is handled by an "
        "exact flag that pins S = 0 from that day on — no -inf "
        "travels through float. The time relation is "
        "distinct-days-sized: windows over it are trivially small "
        "at ANY corpus scale (per-user reduction happens first)",
    exchanges=7,
)
def kaplan_meier_survival(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    eday = (F.floor(F.unix_timestamp(F.col("ts"))).cast("bigint"))
    day = idiv(eday, 86400)
    span = (ev.groupBy("user_id")
            .agg(F.min(day).alias("d0"),
                 F.min(F.when(F.col("event_type") == "purchase", day))
                 .alias("dp")))
    horizon = ev.agg(F.max(day).alias("dmax"))
    obs = (span.crossJoin(F.broadcast(horizon))
           .select(F.when(F.col("dp").isNotNull(),
                          F.col("dp") - F.col("d0"))
                   .otherwise(F.col("dmax") - F.col("d0")).alias("t"),
                   F.col("dp").isNotNull().cast("bigint")
                   .alias("died")))
    tt = obs.groupBy("t").agg(F.sum("died").alias("d"),
                              F.count(F.lit(1)).alias("obs_n"))
    ntot = obs.agg(F.count(F.lit(1)).alias("n_tot"))
    wpre = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1)
    risk = (tt.crossJoin(F.broadcast(ntot))
            .withColumn("n_risk",
                        F.col("n_tot")
                        - F.coalesce(F.sum("obs_n").over(wpre),
                                     F.lit(0)))
            .filter(F.col("d") > 0))
    wcur = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0)
    lns = risk.select(
        "t", "d", "n_risk",
        F.when(F.col("d") == F.col("n_risk"), F.lit(None))
        .otherwise(F.round(F.log(
            1.0 - F.col("d").cast("double") / F.col("n_risk"))
            * 10000).cast("bigint")).alias("lnterm"),
        F.max(F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0))
        .over(wcur).alias("hit_zero"))
    return (lns.select(
        F.col("t").alias("day"), F.col("d").alias("n_events"),
        "n_risk",
        F.when(F.col("hit_zero") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.sum("lnterm").over(wcur)
                                 .cast("double") / 10000), 4))
        .alias("survival"))
        .orderBy("day"))


@query(
    "gini_spend_concentration",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             row_number() OVER (
                 PARTITION BY event_type
                 ORDER BY CAST(ROUND(value * 100) AS BIGINT),
                          event_id) AS i
      FROM events),
    mom AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(sum(CAST(i AS HUGEINT) * cents) AS HUGEINT) AS si
      FROM v GROUP BY 1)
    SELECT event_type, n,
           CAST((2 * CAST(2 * si - (n + 1) * CAST(s AS HUGEINT)
                          AS HUGEINT) * 1000000
                 + CAST(n AS HUGEINT) * s)
                // (2 * CAST(n AS HUGEINT) * s) AS DOUBLE)
               / 1000000.0 AS gini6
    FROM mom ORDER BY event_type
    """,
    doc="Gini coefficient of spend concentration per event type — "
        "the inequality measure behind 'do whales dominate this "
        "revenue stream'. Computed by the rank formula G = "
        "(2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over "
        "ascending-sorted amounts: ranks are per-type windows "
        "(id-tiebroken, so both engines rank identically), the two "
        "moments are exact HUGEINT/DECIMAL(38) sums, and the single "
        "division rounds half-away in exact integers. At 100 TB the "
        "per-type rank swaps to the two-phase bucket rank; the "
        "moment aggregate shape is unchanged",
    exchanges=2,
)
def gini_spend_concentration(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    v = (ev.select("event_type", "event_id",
                   F.round(F.col("value") * 100).cast("bigint")
                   .alias("cents"))
         .withColumn("i", F.row_number().over(w)))
    mom = (v.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("cents").alias("s"),
                F.sum(F.col("i").cast("decimal(38,0)")
                      * F.col("cents")).alias("si")))
    num = (2 * F.col("si")
           - (F.col("n") + 1).cast("decimal(38,0)") * F.col("s"))
    den = F.col("n").cast("decimal(38,0)") * F.col("s")
    return (mom.select("event_type", "n",
                       ratio_round6(num, den).alias("gini6"))
            .orderBy("event_type"))


@query(
    "interarrival_burstiness",
    oracle="""
    WITH g AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT)
               - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id)
                 AS gap
      FROM events),
    mom AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(gap) AS BIGINT) AS sg,
             CAST(sum(CAST(gap AS HUGEINT) * gap) AS HUGEINT) AS sgg
      FROM g WHERE gap IS NOT NULL GROUP BY 1 HAVING count(*) >= 2)
    SELECT user_id, n,
           ROUND(CAST(sg AS DOUBLE) / n, 4) AS mean_gap_s,
           ROUND((sqrt(CAST(n * sgg - CAST(sg AS HUGEINT) * sg
                            AS DOUBLE)) - sg)
                 / (sqrt(CAST(n * sgg - CAST(sg AS HUGEINT) * sg
                              AS DOUBLE)) + sg), 6) AS burstiness
    FROM mom ORDER BY user_id
    """,
    doc="Goh-Barabasi burstiness B = (sigma - mu)/(sigma + mu) of "
        "per-user inter-event gaps (B -> -1 periodic, 0 Poisson, "
        "+1 bursty) — the temporal signature used for bot/anomaly "
        "triage. Gaps are exact integer seconds from one per-user "
        "lag window; the identity B = (sqrt(n*Sgg - Sg^2) - Sg) / "
        "(sqrt(...) + Sg) needs NO separate mean/variance floats — "
        "one sqrt of an exact integer and one division, identical "
        "IEEE on both engines, rounded 6. One shuffle by user; the "
        "moment aggregate rides the window's exchange",
    exchanges=2,
)
def interarrival_burstiness(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    sec = F.floor(F.unix_timestamp(F.col("ts"))).cast("bigint")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select("user_id", (sec - F.lag(sec).over(w)).alias("gap"))
    mom = (g.filter(F.col("gap").isNotNull())
           .groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("gap").alias("sg"),
                F.sum(F.col("gap").cast("decimal(38,0)")
                      * F.col("gap")).alias("sgg"))
           .filter(F.col("n") >= 2))
    root = F.sqrt((F.col("n") * F.col("sgg")
                   - F.col("sg").cast("decimal(38,0)") * F.col("sg"))
                  .cast("double"))
    return (mom.select(
        "user_id", "n",
        F.round(F.col("sg").cast("double") / F.col("n"), 4)
        .alias("mean_gap_s"),
        F.round((root - F.col("sg")) / (root + F.col("sg")), 6)
        .alias("burstiness"))
        .orderBy("user_id"))


@query(
    "pit_dimension_lookup",
    oracle="""
    WITH ch AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id)
                 AS prev
      FROM events),
    scd AS (
      SELECT user_id, event_type AS state, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id)
                 AS valid_to,
             CAST(row_number() OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS BIGINT)
                 AS version
      FROM ch WHERE prev IS NULL OR event_type <> prev),
    px AS (
      SELECT user_id, event_id, ts FROM events
      WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, p.ts,
           s.state, s.version
    FROM px p JOIN scd s
      ON s.user_id = p.user_id
     AND p.ts >= s.valid_from
     AND (s.valid_to IS NULL OR p.ts < s.valid_to)
    ORDER BY p.event_id
    """,
    doc="point-in-time (PIT) lookup against the SCD2 dimension: each "
        "purchase event joins the state VERSION that was valid at its "
        "timestamp — the temporal-correctness pattern every "
        "warehouse fact load and every leakage-free ML feature "
        "lookup needs (training rows must see the dimension as of "
        "the event, not as of today). The registered plan does NOT "
        "run the oracle's interval join: it is the as-of "
        "union+window shape (state rows and fact rows interleave in "
        "one per-user timeline; last_value carries the current "
        "version forward), so the cost is ONE user-partitioned "
        "window over states+facts — no non-equi join, no range "
        "explosion, the same single-exchange discipline as "
        "asof_join_purchase_to_click. The oracle replays it as the "
        "literal interval join, so the two formulations "
        "cross-validate each other",
    exchanges=3,
)
def pit_dimension_lookup(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    scd = (ev.select("user_id", "ts", "event_id", "event_type")
           .withColumn("prev", F.lag("event_type").over(w))
           .filter(F.col("prev").isNull()
                   | (F.col("event_type") != F.col("prev")))
           .select("user_id", "event_id",
                   F.col("ts").alias("pit_ts"),
                   F.col("event_type").alias("state"),
                   F.row_number().over(
                       Window.partitionBy("user_id")
                       .orderBy("ts", "event_id"))
                   .cast("bigint").alias("version")))
    states = scd.select("user_id", F.col("pit_ts").alias("ts"),
                        F.lit(0).alias("is_event"), "event_id",
                        "state", "version")
    facts = (ev.filter(F.col("event_type") == "purchase")
             .select("user_id", "ts", F.lit(1).alias("is_event"),
                     "event_id",
                     F.lit(None).cast("string").alias("state"),
                     F.lit(None).cast("bigint").alias("version")))
    # state rows sort before fact rows at equal ts: the version
    # beginning at ts applies to events at that instant; event_id
    # breaks remaining ties deterministically
    wff = (Window.partitionBy("user_id")
           .orderBy("ts", "is_event", "event_id")
           .rowsBetween(Window.unboundedPreceding, 0))
    u = states.unionByName(facts)
    carried = u.select(
        "user_id", "ts", "is_event", "event_id",
        F.last("state", ignorenulls=True).over(wff).alias("state"),
        F.last("version", ignorenulls=True).over(wff).alias("version"))
    return (carried.filter(F.col("is_event") == 1)
            .select("event_id", "user_id", "ts", "state", "version")
            .orderBy("event_id"))


@query(
    "weighted_median_price",
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS flag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(ROUND(l_quantity) AS BIGINT) AS wt
      FROM lineitem),
    g AS (SELECT flag, cents, CAST(sum(wt) AS BIGINT) AS w
          FROM v GROUP BY 1, 2),
    c AS (SELECT flag, cents,
                 CAST(sum(w) OVER (PARTITION BY flag ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                      ROW) AS BIGINT) AS cw,
                 CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS tw
          FROM g)
    SELECT flag, tw AS total_weight,
           CAST(min(CASE WHEN 2 * cw >= tw THEN cents END) AS BIGINT)
               AS wmedian_cents
    FROM c GROUP BY flag, tw ORDER BY flag
    """,
    doc="exact lower WEIGHTED median unit price per return flag, "
        "weighted by quantity — the robust per-segment price point "
        "(quantity-weighted so big lots count proportionally). The "
        "value domain collapses first (groupBy price), the weighted "
        "CDF is a per-flag prefix-sum window over that collapsed "
        "relation, and the median is the smallest price whose doubled "
        "cumulative weight reaches the flag total — an exact integer "
        "predicate, no interpolation ambiguity, no sort of raw rows. "
        "At 100 TB the windowed relation is |flags| x |distinct "
        "prices|, and the same two-phase bucket-prefix trick as "
        "global_rank applies if a single flag's price domain ever "
        "outgrows one task",
    exchanges=3,
)
def weighted_median_price(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        .alias("cents"),
        F.round(F.col("l_quantity")).cast("bigint").alias("wt"))
    g = v.groupBy("flag", "cents").agg(F.sum("wt").alias("w"))
    wcum = (Window.partitionBy("flag").orderBy("cents")
            .rowsBetween(Window.unboundedPreceding, 0))
    wtot = Window.partitionBy("flag")
    c = g.select("flag", "cents",
                 F.sum("w").over(wcum).alias("cw"),
                 F.sum("w").over(wtot).alias("tw"))
    return (c.groupBy("flag", F.col("tw").alias("total_weight"))
            .agg(F.min(F.when(2 * F.col("cw") >= F.col("tw"),
                              F.col("cents"))).cast("bigint")
                 .alias("wmedian_cents"))
            .select(F.col("flag"), "total_weight", "wmedian_cents")
            .orderBy("flag"))


_HW_LEN = 8  # Haar window: first 8 days per user (2^3 -> 3 levels)


@query(
    "haar_wavelet_coeffs",
    oracle=f"""
    WITH bars AS (
      SELECT user_id,
             CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT)
                 // 86400 AS d,
             CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS y
      FROM events GROUP BY 1, 2),
    idx AS (
      SELECT user_id, y,
             row_number() OVER (PARTITION BY user_id ORDER BY d) - 1
                 AS i
      FROM bars QUALIFY row_number() OVER (PARTITION BY user_id
                                           ORDER BY d) <= {_HW_LEN}),
    ok AS (SELECT user_id FROM idx GROUP BY 1
           HAVING count(*) = {_HW_LEN}),
    l1 AS (
      SELECT i.user_id, i.i // 2 AS j,
             CAST(sum(CASE WHEN i.i % 2 = 0 THEN i.y ELSE 0 END)
                  + sum(CASE WHEN i.i % 2 = 1 THEN i.y ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(sum(CASE WHEN i.i % 2 = 0 THEN i.y ELSE 0 END)
                  - sum(CASE WHEN i.i % 2 = 1 THEN i.y ELSE 0 END)
                  AS BIGINT) AS dt
      FROM idx i JOIN ok USING (user_id)
      GROUP BY 1, 2),
    l2 AS (
      SELECT user_id, j // 2 AS j,
             CAST(sum(CASE WHEN j % 2 = 0 THEN a ELSE 0 END)
                  + sum(CASE WHEN j % 2 = 1 THEN a ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(sum(CASE WHEN j % 2 = 0 THEN a ELSE 0 END)
                  - sum(CASE WHEN j % 2 = 1 THEN a ELSE 0 END)
                  AS BIGINT) AS dt
      FROM l1 GROUP BY 1, 2)
    SELECT user_id, CAST(1 AS BIGINT) AS level, CAST(j AS BIGINT) AS j,
           a AS approx, dt AS detail
    FROM l1
    UNION ALL
    SELECT user_id, CAST(2 AS BIGINT), CAST(j AS BIGINT), a, dt
    FROM l2
    ORDER BY user_id, level, j
    """,
    doc=f"unnormalized Haar wavelet transform (2 levels) of each "
        f"user's first-{_HW_LEN}-day value series: level-k approx/"
        "detail coefficients are pairwise sums/differences — the "
        "multi-resolution decomposition behind wavelet denoising, "
        "change localization, and compressed time-series features. "
        "Unnormalized Haar keeps every coefficient an EXACT integer "
        "(the sqrt2 scaling is a presentation constant), so the "
        "transform is bit-identical at any partitioning; each level "
        "is one pair-grouped aggregate over the previous level's "
        "coefficients, all riding the user partitioning. Users "
        "without a full dyadic window are dropped by an exact count "
        "predicate on both engines",
    exchanges=9,
)
def haar_wavelet_coeffs(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    eday = F.floor(F.unix_timestamp(F.col("ts"))).cast("bigint")
    day = idiv(eday, 86400)
    bars = (ev.groupBy("user_id", day.alias("d"))
            .agg(F.sum(F.round(F.col("value") * 100).cast("bigint"))
                 .alias("y")))
    w = Window.partitionBy("user_id").orderBy("d")
    idx = (bars.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") <= _HW_LEN)
           .select("user_id", (F.col("rn") - 1).alias("i"), "y"))
    ok = (idx.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
          .filter(F.col("c") == _HW_LEN).select("user_id"))
    idx = idx.join(F.broadcast(ok), "user_id")

    def level(df, icol):
        even = F.when(F.col(icol) % 2 == 0, F.col("y")).otherwise(0)
        odd = F.when(F.col(icol) % 2 == 1, F.col("y")).otherwise(0)
        return (df.groupBy("user_id", idiv(F.col(icol), 2).alias("j"))
                .agg((F.sum(even) + F.sum(odd)).alias("a"),
                     (F.sum(even) - F.sum(odd)).alias("dt")))

    l1 = level(idx, "i")
    l2 = level(l1.select("user_id", F.col("j").alias("i"),
                         F.col("a").alias("y")), "i")
    out1 = l1.select("user_id", F.lit(1).cast("bigint").alias("level"),
                     F.col("j").cast("bigint").alias("j"),
                     F.col("a").alias("approx"),
                     F.col("dt").alias("detail"))
    out2 = l2.select("user_id", F.lit(2).cast("bigint").alias("level"),
                     F.col("j").cast("bigint").alias("j"),
                     F.col("a").alias("approx"),
                     F.col("dt").alias("detail"))
    return out1.unionByName(out2).orderBy("user_id", "level", "j")


@query(
    "rollup_cascade_reuse",
    oracle="""
    WITH hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM events GROUP BY 1),
    daily AS (
      SELECT CAST(date_trunc('day', h) AS TIMESTAMP) AS g,
             CAST(sum(n) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS cents
      FROM hourly GROUP BY 1),
    weekly AS (
      SELECT CAST(date_trunc('week', g) AS TIMESTAMP) AS g,
             CAST(sum(n) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS cents
      FROM daily GROUP BY 1)
    SELECT 'day' AS grain, g, n, cents FROM daily
    UNION ALL
    SELECT 'week', g, n, cents FROM weekly
    ORDER BY grain, g
    """,
    doc="aggregation-tree cascade: the DAILY rollup derives from the "
        "HOURLY partials and the WEEKLY from the daily — each coarser "
        "grain re-aggregates the previous grain's output instead of "
        "rescanning the corpus, which is how a 100 TB metrics "
        "pipeline keeps its rollup family to ONE raw scan (the "
        "additive-partial pattern every OLAP cube build relies on; "
        "count and integer-cent sums are trivially re-aggregable). "
        "The hourly relation is built once and both coarser grains "
        "reuse it in the same plan — date_trunc('week') is "
        "Monday-start on both engines",
    exchanges=6,
)
def rollup_cascade_reuse(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    hourly = (ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.round(F.col("value") * 100).cast("bigint"))
                   .alias("cents")))
    daily = (hourly.groupBy(F.date_trunc("day", F.col("h")).alias("g"))
             .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents")))
    weekly = (daily.groupBy(F.date_trunc("week", F.col("g")).alias("g"))
              .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents")))
    return (daily.select(F.lit("day").alias("grain"), "g", "n", "cents")
            .unionByName(weekly.select(F.lit("week").alias("grain"),
                                       "g", "n", "cents"))
            .orderBy("grain", "g"))


@query(
    "cohort_ltv_curves",
    oracle="""
    WITH first_seen AS (
      SELECT user_id,
             CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort
      FROM events GROUP BY 1),
    spend AS (
      SELECT e.user_id, f.cohort,
             CAST(floor(epoch(date_trunc('week', e.ts))
                        - epoch(f.cohort)) AS BIGINT) // 604800
                 AS age_weeks,
             CAST(ROUND(e.value * 100) AS BIGINT) AS cents
      FROM events e JOIN first_seen f USING (user_id)
      WHERE e.event_type = 'purchase'),
    wk AS (
      SELECT cohort, age_weeks,
             CAST(sum(cents) AS BIGINT) AS wk_cents
      FROM spend GROUP BY 1, 2),
    sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users
           FROM first_seen GROUP BY 1)
    SELECT wk.cohort, wk.age_weeks, sz.cohort_users,
           CAST(sum(wk.wk_cents) OVER (PARTITION BY wk.cohort
                ORDER BY wk.age_weeks ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents,
           CAST((2 * CAST(sum(wk.wk_cents) OVER (PARTITION BY
                     wk.cohort ORDER BY wk.age_weeks ROWS BETWEEN
                     UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
                 * 100 + sz.cohort_users)
                // (2 * CAST(sz.cohort_users AS HUGEINT)) AS DOUBLE)
               / 100.0 AS ltv_per_user_cents
    FROM wk JOIN sz USING (cohort)
    ORDER BY wk.cohort, wk.age_weeks
    """,
    doc="cohort lifetime-value curves: users grouped by first-seen "
        "week, purchase revenue accumulated by cohort age — the "
        "growth-accounting table behind every LTV/payback model "
        "(weekly_retention_cohorts' revenue twin). The cumulative "
        "sum is a window over the (cohort x age) relation — "
        "bounded by weeks^2 at ANY corpus size — and per-user LTV "
        "is an exact integer division rounded half-away to 1e-2 "
        "cents. The first-seen relation joins back broadcast; one "
        "corpus scan for spend, one for cohorts",
    exchanges=6,
)
def cohort_ltv_curves(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    first_seen = (ev.groupBy("user_id")
                  .agg(F.date_trunc("week", F.min("ts"))
                       .alias("cohort")))
    age = ((F.floor(F.unix_timestamp(
                F.date_trunc("week", F.col("ts"))))
            - F.floor(F.unix_timestamp(F.col("cohort"))))
           .cast("bigint"))
    spend = (ev.filter(F.col("event_type") == "purchase")
             .join(first_seen, "user_id")
             .select("cohort",
                     idiv(age, 604800).alias("age_weeks"),
                     F.round(F.col("value") * 100).cast("bigint")
                     .alias("cents")))
    wk = (spend.groupBy("cohort", "age_weeks")
          .agg(F.sum("cents").alias("wk_cents")))
    sz = first_seen.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_users"))
    wcum = (Window.partitionBy("cohort").orderBy("age_weeks")
            .rowsBetween(Window.unboundedPreceding, 0))
    j = (wk.join(F.broadcast(sz), "cohort")
         .withColumn("cum_cents", F.sum("wk_cents").over(wcum)))
    s = F.col("cum_cents").cast("decimal(38,0)")
    u = F.col("cohort_users").cast("decimal(38,0)")
    ltv = idiv(2 * s * 100 + u, 2 * u).cast("double") / 100.0
    return (j.select("cohort", "age_weeks", "cohort_users",
                     "cum_cents", ltv.alias("ltv_per_user_cents"))
            .orderBy("cohort", "age_weeks"))


@query(
    "conformal_interval_coverage",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id % 3 AS split,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events),
    pred AS (
      SELECT user_id,
             CAST((2 * CAST(sum(cents) AS HUGEINT) + count(*))
                  // (2 * CAST(count(*) AS HUGEINT)) AS BIGINT)
                 AS yhat
      FROM base WHERE split = 0 GROUP BY 1),
    calib AS (
      SELECT abs(b.cents - p.yhat) AS r
      FROM base b JOIN pred p USING (user_id) WHERE b.split = 1),
    k AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(((count(*) + 1) * 9 + 9) // 10 AS BIGINT)
                     AS kth
          FROM calib),
    rc AS (SELECT r, CAST(count(*) AS BIGINT) AS c FROM calib
           GROUP BY 1),
    cum AS (SELECT r, CAST(sum(c) OVER (ORDER BY r ROWS BETWEEN
                UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw
            FROM rc),
    q AS (SELECT CAST(min(CASE WHEN cum.cw >= k.kth THEN cum.r END)
                      AS BIGINT) AS q_hat
          FROM cum, k),
    test AS (
      SELECT CAST(abs(b.cents - p.yhat) <= q.q_hat AS BIGINT)
                 AS covered
      FROM base b JOIN pred p USING (user_id) CROSS JOIN q
      WHERE b.split = 2)
    SELECT k.n AS n_calib, q.q_hat AS q_hat_cents,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(covered) AS BIGINT) AS covered,
           CAST((2 * CAST(sum(covered) AS HUGEINT) * 1000000
                 + count(*))
                // (2 * CAST(count(*) AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS coverage6
    FROM test, k, q GROUP BY k.n, q.q_hat
    """,
    doc="split-conformal prediction intervals (Vovk; Lei et al.): "
        "fit a per-user mean predictor on split 0, take the "
        "ceil((n+1)*0.9)-th smallest absolute calibration residual "
        "on split 1 as the interval half-width q_hat, and audit "
        "empirical coverage on split 2 — the distribution-free "
        "uncertainty wrapper around ANY point predictor, with the "
        "finite-sample >= 90% guarantee. The order statistic is "
        "exact: residuals collapse to per-value counts, the CDF is "
        "a prefix sum over the residual domain, and the k-th value "
        "is an integer threshold predicate (ceil via negated floor "
        "div — no float position); the predictor itself is the "
        "half-away integer mean. Coverage is one exact ratio. At "
        "100 TB: three scans' worth of conditional aggregates, a "
        "broadcast per-user model, and a value-domain-sized CDF — "
        "no global sort of raw residuals",
    exchanges=14,
)
def conformal_interval_coverage(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    base = ev.select(
        "user_id", (F.col("event_id") % 3).alias("split"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"))
    s = F.sum("cents").cast("decimal(38,0)")
    c = F.count(F.lit(1)).cast("decimal(38,0)")
    pred = (base.filter(F.col("split") == 0)
            .groupBy("user_id")
            .agg(idiv(2 * s + c, 2 * c).alias("yhat")))
    calib = (base.filter(F.col("split") == 1)
             .join(F.broadcast(pred), "user_id")
             .select(F.abs(F.col("cents") - F.col("yhat"))
                     .alias("r")))
    kth_num = (F.count(F.lit(1)) + 1) * 9 + 9
    k = calib.agg(
        F.count(F.lit(1)).alias("n"),
        idiv(kth_num, 10).alias("kth"))
    rc = calib.groupBy("r").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("r").rowsBetween(
        Window.unboundedPreceding, 0)
    cum = rc.select("r", F.sum("c").over(wcum).alias("cw"))
    q = (cum.crossJoin(F.broadcast(k))
         .agg(F.min(F.when(F.col("cw") >= F.col("kth"), F.col("r")))
              .cast("bigint").alias("q_hat")))
    test = (base.filter(F.col("split") == 2)
            .join(F.broadcast(pred), "user_id")
            .crossJoin(F.broadcast(q))
            .select((F.abs(F.col("cents") - F.col("yhat"))
                     <= F.col("q_hat")).cast("bigint")
                    .alias("covered")))
    cov = test.agg(F.count(F.lit(1)).alias("n_test"),
                   F.sum("covered").alias("covered"))
    from functools import reduce  # noqa: F401  (kept minimal)
    out = (cov.crossJoin(F.broadcast(k.select("n")))
           .crossJoin(F.broadcast(q)))
    return out.select(
        F.col("n").alias("n_calib"),
        F.col("q_hat").alias("q_hat_cents"),
        "n_test", "covered",
        ratio_round6(F.col("covered"), F.col("n_test"))
        .alias("coverage6"))


# ---------------------------------------------------------------------------
# MACD(12,26,9) over daily bars — one-pass three-state EMA fold

@query(
    "macd_histogram",
    oracle="""
    WITH RECURSIVE bars AS (
      SELECT user_id, date_trunc('day', ts) AS bar_day,
             (max(struct_pack(t := ts, e := event_id,
                              v := value))).v AS close
      FROM events GROUP BY 1, 2),
    ord AS MATERIALIZED (
      SELECT user_id, bar_day, close,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY bar_day) AS rn
      FROM bars),
    rec AS (
      SELECT user_id, rn, bar_day, close,
             close AS sf, close AS ss, CAST(0.0 AS DOUBLE) AS sg
      FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.rn, o.bar_day, o.close,
             (1 - 2.0/13.0) * r.sf + (2.0/13.0) * o.close,
             (1 - 2.0/27.0) * r.ss + (2.0/27.0) * o.close,
             (1 - 2.0/10.0) * r.sg + (2.0/10.0) *
               (((1 - 2.0/13.0) * r.sf + (2.0/13.0) * o.close)
                - ((1 - 2.0/27.0) * r.ss + (2.0/27.0) * o.close))
      FROM ord o JOIN rec r
        ON o.user_id = r.user_id AND o.rn = r.rn + 1)
    SELECT user_id, strftime(bar_day, '%Y-%m-%d') AS day,
           floor((sf - ss) * 1000000.0 + 0.5) / 1000000.0 AS macd,
           floor(sg * 1000000.0 + 0.5) / 1000000.0 AS macd_signal,
           floor(((sf - ss) - sg) * 1000000.0 + 0.5) / 1000000.0
               AS histogram
    FROM rec ORDER BY user_id, rn
    """,
    doc="MACD(12,26,9) over daily close bars per symbol: fast/slow "
        "EMAs of close plus the signal EMA of their difference — "
        "three coupled recursions no Spark window expresses, advanced "
        "as ONE state tuple in a single partition-aligned mapInPandas "
        "fold (operators/indicators.py:with_macd; one exchange, one "
        "sort, one Arrow transfer — not three fold passes). The bar "
        "relation is days-sized per key, so fold state and the DuckDB "
        "recursive-CTE oracle both scale with calendar length, never "
        "tick volume. Float recursion written identically on both "
        "engines ((1 - 2.0/13.0)*s + (2.0/13.0)*x literal-for-literal)"
        " -> bit-identical sequences, round6 at the edge only. NOTE "
        "(r15): the persist-before-sort conversion was measured here "
        "and REVERTED — the sort's sampling job does re-run the fold, "
        "but the fold over bar-grain rows (days x symbols) is cheaper "
        "than the persist+checkpoint it would take to cache it "
        "(interleaved sf1 A/B: 1.70s direct vs 1.87s persisted; "
        "plans/r15/ab_presort_sf1.json) — the recipe pays only when "
        "the resampled kernel is expensive (the multimodal decodes)",
    # bars agg, series fold, sort
    exchanges=3,
)
def macd_histogram(spark, sf_dir):
    from ..operators.indicators import with_macd
    ev = table(spark, sf_dir, "events")
    tagged = F.struct(F.col("ts").alias("t"),
                      F.col("event_id").alias("e"),
                      F.col("value").alias("v"))
    bars = (ev.groupBy("user_id",
                       F.date_trunc("day", F.col("ts"))
                       .alias("bar_day"))
            .agg(F.max(tagged)["v"].alias("close")))
    out = with_macd(bars, "close", ["user_id"], ["bar_day"])

    # floor_round6, not ROUND(x, 6): the 5e-7 representability
    # boundary where Spark/DuckDB ROUND disagree bit HW at sf0.01
    return (out.select(
                "user_id",
                F.date_format("bar_day", "yyyy-MM-dd").alias("day"),
                floor_round6(F.col("macd")).alias("macd"),
                floor_round6(F.col("macd_signal")).alias("macd_signal"),
                floor_round6(F.col("macd") - F.col("macd_signal"))
                .alias("histogram"))
            .orderBy("user_id", "day"))


# ---------------------------------------------------------------------------
# Stochastic oscillator %K / %D — pure window algebra in exact cents

@query(
    "stochastic_oscillator",
    oracle="""
    WITH bars AS (
      SELECT user_id, date_trunc('day', ts) AS bar_day,
             CAST(ROUND(max(value) * 100) AS BIGINT) AS h,
             CAST(ROUND(min(value) * 100) AS BIGINT) AS l,
             CAST(ROUND((max(struct_pack(t := ts, e := event_id,
                                         v := value))).v * 100)
                 AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    wnd AS (
      SELECT user_id, bar_day, c,
             CAST(max(h) OVER w14 AS BIGINT) AS h14,
             CAST(min(l) OVER w14 AS BIGINT) AS l14
      FROM bars
      WINDOW w14 AS (PARTITION BY user_id ORDER BY bar_day
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
    k AS (
      SELECT user_id, bar_day,
             CAST((2 * CAST(c - l14 AS HUGEINT) * 1000000
                   + (h14 - l14))
                  // (2 * CAST(h14 - l14 AS HUGEINT)) AS BIGINT)
                 AS k_e6
      FROM wnd WHERE h14 > l14),
    d AS (
      SELECT user_id, bar_day, k_e6,
             CAST(sum(k_e6) OVER w3 AS BIGINT) AS sk,
             CAST(count(*) OVER w3 AS BIGINT) AS n3
      FROM k
      WINDOW w3 AS (PARTITION BY user_id ORDER BY bar_day
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
    SELECT user_id, strftime(bar_day, '%Y-%m-%d') AS day,
           CAST(k_e6 AS DOUBLE) / 1000000.0 AS pct_k,
           CAST(CAST((2 * CAST(sk AS HUGEINT) + n3)
                     // (2 * CAST(n3 AS HUGEINT)) AS BIGINT)
                AS DOUBLE) / 1000000.0 AS pct_d
    FROM d ORDER BY user_id, day
    """,
    doc="stochastic oscillator (Lane) per symbol over daily bars: "
        "%K = (close - min low14) / (max high14 - min low14) over a "
        "14-bar trailing frame, %D = 3-bar mean of %K — entirely "
        "exact-integer window algebra (cents in, half-away integer "
        "rounding to 1e-6 units, the ratio_round6 pattern; "
        "flat-range bars where high14 == low14 are dropped on both "
        "engines). Two frames over ONE per-symbol window ordering of "
        "the days-sized bar relation; %K stays an integer so the %D "
        "mean is itself exact — no double-rounding drift",
    # bars agg, series window, sort
    exchanges=3,
)
def stochastic_oscillator(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    tagged = F.struct(F.col("ts").alias("t"),
                      F.col("event_id").alias("e"),
                      F.col("value").alias("v"))
    bars = (ev.groupBy("user_id",
                       F.date_trunc("day", F.col("ts"))
                       .alias("bar_day"))
            .agg(F.round(F.max("value") * 100).cast("bigint")
                 .alias("h"),
                 F.round(F.min("value") * 100).cast("bigint")
                 .alias("l"),
                 F.round(F.max(tagged)["v"] * 100).cast("bigint")
                 .alias("c")))
    w = Window.partitionBy("user_id").orderBy("bar_day")
    w14 = w.rowsBetween(-13, 0)
    wnd = bars.select(
        "user_id", "bar_day", "c",
        F.max("h").over(w14).alias("h14"),
        F.min("l").over(w14).alias("l14"))
    a = ((F.col("c") - F.col("l14")).cast("decimal(38,0)"))
    b = ((F.col("h14") - F.col("l14")).cast("decimal(38,0)"))
    k_e6 = idiv(2 * a * 1000000 + b, 2 * b)
    k = (wnd.filter(F.col("h14") > F.col("l14"))
         .select("user_id", "bar_day", k_e6.alias("k_e6")))
    w3 = w.rowsBetween(-2, 0)
    d = k.select(
        "user_id", "bar_day", "k_e6",
        F.sum("k_e6").over(w3).alias("sk"),
        F.count(F.lit(1)).over(w3).alias("n3"))
    sk = F.col("sk").cast("decimal(38,0)")
    n3 = F.col("n3").cast("decimal(38,0)")
    d_e6 = idiv(2 * sk + n3, 2 * n3)
    return (d.select(
                "user_id",
                F.date_format("bar_day", "yyyy-MM-dd").alias("day"),
                (F.col("k_e6").cast("double") / 1000000.0)
                .alias("pct_k"),
                (d_e6.cast("double") / 1000000.0).alias("pct_d"))
            .orderBy("user_id", "day"))


# ---------------------------------------------------------------------------
# On-balance volume — integer-exact cumulative flow indicator

@query(
    "obv_indicator",
    oracle="""
    WITH bars AS (
      SELECT user_id, date_trunc('day', ts) AS bar_day,
             CAST(ROUND((max(struct_pack(t := ts, e := event_id,
                                         v := value))).v * 100)
                 AS BIGINT) AS c,
             CAST(count(*) AS BIGINT) AS n_ticks
      FROM events GROUP BY 1, 2),
    d AS (
      SELECT user_id, bar_day, c, n_ticks,
             CASE WHEN c > lag(c) OVER w THEN 1
                  WHEN c < lag(c) OVER w THEN -1
                  ELSE 0 END AS dir
      FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY bar_day))
    SELECT user_id, strftime(bar_day, '%Y-%m-%d') AS day, n_ticks,
           CAST(dir AS BIGINT) AS dir,
           CAST(sum(dir * n_ticks) OVER (PARTITION BY user_id
                ORDER BY bar_day ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS BIGINT) AS obv
    FROM d ORDER BY user_id, day
    """,
    doc="on-balance volume (Granville) per symbol: daily tick count "
        "as volume, signed by the close-to-close direction (first bar "
        "contributes 0 — lag NULL compares to neither side on both "
        "engines), running-summed per symbol. Entirely integer window "
        "algebra over the days-sized bar relation: one grouped "
        "aggregation, one lag, one cumulative frame, same per-symbol "
        "ordering throughout -> a single exchange at 100 TB",
    # bars agg, series window, sort
    exchanges=3,
)
def obv_indicator(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    tagged = F.struct(F.col("ts").alias("t"),
                      F.col("event_id").alias("e"),
                      F.col("value").alias("v"))
    bars = (ev.groupBy("user_id",
                       F.date_trunc("day", F.col("ts"))
                       .alias("bar_day"))
            .agg(F.round(F.max(tagged)["v"] * 100).cast("bigint")
                 .alias("c"),
                 F.count(F.lit(1)).alias("n_ticks")))
    w = Window.partitionBy("user_id").orderBy("bar_day")
    pc = F.lag("c").over(w)
    d = bars.select(
        "user_id", "bar_day", "n_ticks",
        F.when(F.col("c") > pc, 1)
        .when(F.col("c") < pc, -1)
        .otherwise(0).cast("bigint").alias("dir"))
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    return (d.select(
                "user_id",
                F.date_format("bar_day", "yyyy-MM-dd").alias("day"),
                "n_ticks", "dir",
                F.sum(F.col("dir") * F.col("n_ticks")).over(wcum)
                .alias("obv"))
            .orderBy("user_id", "day"))


# ---------------------------------------------------------------------------
# Sortino ratio — downside-deviation sibling of volatility_sharpe

@query(
    "sortino_downside_ratio",
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
             CAST(sum(CASE WHEN r_mu < 0 THEN r_mu * r_mu ELSE 0 END)
                  AS BIGINT) AS ssq_neg
      FROM r GROUP BY user_id)
    SELECT user_id, n_returns,
           ROUND(CAST(s AS DOUBLE) / n_returns / 1000000, 6)
               AS mean_ret,
           ROUND(sqrt(CAST(ssq_neg AS DOUBLE) / n_returns)
                 / 1000000, 6) AS downside_dev,
           ROUND((CAST(s AS DOUBLE) / n_returns)
                 / sqrt(CAST(ssq_neg AS DOUBLE) / n_returns), 6)
               AS sortino
    FROM m WHERE n_returns >= 2 AND ssq_neg > 0 ORDER BY user_id
    """,
    doc="Sortino ratio per symbol: mean log-return over downside "
        "deviation (root mean square of NEGATIVE returns only, "
        "target 0) — penalizes harmful volatility, not upside. Same "
        "integer-scaled-moments exactness as volatility_sharpe: "
        "returns in 1e-6 units as BIGINT, the conditional "
        "sum-of-squares is exact, and both engines evaluate the "
        "identical double expression (s/n)/sqrt(ssq_neg/n) on "
        "identical integers. One window pass + one "
        "map-side-combinable groupBy at any scale",
    # series window+agg, sort
    exchanges=2,
)
def sortino_downside_ratio(spark, sf_dir):
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
        F.sum(F.when(F.col("r_mu") < 0,
                     F.col("r_mu") * F.col("r_mu"))
              .otherwise(F.lit(0))).alias("ssq_neg"))
    n = F.col("n_returns")
    s = F.col("s").cast("double")
    ssq = F.col("ssq_neg").cast("double")
    return (
        m.filter((n >= 2) & (F.col("ssq_neg") > 0))
        .select(
            "user_id", "n_returns",
            F.round(s / n / 1000000, _R).alias("mean_ret"),
            F.round(F.sqrt(ssq / n) / 1000000, _R)
            .alias("downside_dev"),
            F.round((s / n) / F.sqrt(ssq / n), _R).alias("sortino"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U z-test — tie-corrected normal approximation

@query(
    "mann_whitney_u",
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
             CAST(coalesce(sum(c0) OVER (
                 ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING), 0) AS BIGINT) AS below0
      FROM counts),
    agg AS (
      SELECT CAST(sum(CAST(c1 AS HUGEINT)
                      * (2 * below0 + c0)) AS HUGEINT) AS u2,
             CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c0) AS BIGINT) AS n0,
             CAST(sum(CAST(c1 + c0 AS HUGEINT) * (c1 + c0) * (c1 + c0)
                      - (c1 + c0)) AS HUGEINT) AS tt
      FROM cum),
    s AS (
      SELECT n1, n0, u2, tt,
             CAST(n1 AS HUGEINT) * n0 AS p,
             CAST(n1 + n0 + 1 AS BIGINT) AS np1,
             CAST(n1 + n0 AS HUGEINT) * (n1 + n0 - 1) AS nn
      FROM agg)
    SELECT n1 AS n_pos, n0 AS n_neg,
           CAST(u2 AS BIGINT) AS u_x2,
           ROUND((CAST(u2 AS DOUBLE) - CAST(p AS DOUBLE)) / 2.0
                 / sqrt(CAST(p AS DOUBLE) / 12.0
                        * (CAST(np1 AS DOUBLE)
                           - CAST(tt AS DOUBLE) / CAST(nn AS DOUBLE))),
                 6) AS z6
    FROM s
    """,
    doc="Mann-Whitney U rank-sum test: does 'value' differ in "
        "distribution between click and purchase events? U is kept "
        "integral as 2U = sum over distinct values of "
        "c1*(2*below0 + c0) (ties contribute half-ranks, so doubling "
        "stays exact — same statistic roc_auc_exact normalizes into "
        "AUC), and the normal-approximation z uses the standard tie "
        "correction sum(t^3 - t) computed as an exact HUGEINT. The "
        "ONLY float work is the final one-row z expression, written "
        "literal-for-literal identically on both engines. Scale: one "
        "map-side-partial count per distinct value, a value-domain "
        "prefix sum (ranking.prefix_sums), and a 1-row reduction — "
        "input volume never touches a sort",
    exchanges=6,
)
def mann_whitney_u(spark, sf_dir):
    ev = table(spark, sf_dir, "events")

    base = (ev.filter(F.col("event_type").isin("click", "purchase"))
            .select(F.round(F.col("value") * 100).cast("bigint")
                    .alias("cents"),
                    (F.col("event_type") == "purchase").cast("bigint")
                    .alias("y")))
    counts = (base.groupBy("cents")
              .agg(F.sum("y").alias("c1"),
                   F.sum(1 - F.col("y")).alias("c0")))
    cum = prefix_sums(counts, idiv(F.col("cents"), F.lit(2500)),
                      ["cents"], {"below0": "c0"}, exclusive=True)
    t = (F.col("c1") + F.col("c0")).cast("decimal(38,0)")
    agg = cum.agg(
        F.sum(F.col("c1").cast("decimal(38,0)")
              * (2 * F.col("below0") + F.col("c0")))
        .cast("decimal(38,0)").alias("u2"),
        F.sum("c1").alias("n1"), F.sum("c0").alias("n0"),
        F.sum(t * (F.col("c1") + F.col("c0"))
              * (F.col("c1") + F.col("c0"))
              - (F.col("c1") + F.col("c0")))
        .cast("decimal(38,0)").alias("tt"))
    n1, n0 = F.col("n1"), F.col("n0")
    p = (n1.cast("decimal(38,0)") * n0)
    s = agg.select(
        "n1", "n0", "u2", "tt", p.alias("p"),
        (n1 + n0 + 1).cast("bigint").alias("np1"),
        ((n1 + n0).cast("decimal(38,0)") * (n1 + n0 - 1)).alias("nn"))
    u2d = F.col("u2").cast("double")
    pd_ = F.col("p").cast("double")
    return s.select(
        F.col("n1").alias("n_pos"), F.col("n0").alias("n_neg"),
        F.col("u2").cast("bigint").alias("u_x2"),
        F.round((u2d - pd_) / F.lit(2.0)
                / F.sqrt(pd_ / F.lit(12.0)
                         * (F.col("np1").cast("double")
                            - F.col("tt").cast("double")
                            / F.col("nn").cast("double"))), 6)
        .alias("z6"))


# ---------------------------------------------------------------------------
# Kruskal-Wallis H — k-group rank ANOVA, ordered-fold exactness

@query(
    "kruskal_wallis_h",
    oracle="""
    WITH counts AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents, event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    tv AS (
      SELECT cents, CAST(sum(n) AS BIGINT) AS t FROM counts
      GROUP BY cents),
    cum AS (
      SELECT cents, t,
             CAST(coalesce(sum(t) OVER (
                 ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING), 0) AS BIGINT) AS below
      FROM tv),
    rg AS (
      SELECT c.event_type,
             CAST(sum(n) AS BIGINT) AS n_g,
             CAST(sum(CAST(n AS HUGEINT)
                      * (2 * cum.below + cum.t + 1)) AS HUGEINT)
                 AS r2_g
      FROM counts c JOIN cum ON c.cents = cum.cents
      GROUP BY c.event_type),
    x AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n_g) AS BIGINT) AS nt,
             list_reduce(
               list(CAST(CAST(r2_g AS HUGEINT) * r2_g AS DOUBLE)
                    / CAST(n_g AS DOUBLE) ORDER BY event_type),
               (a, b) -> a + b) AS x4
      FROM rg),
    tie AS (
      SELECT CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT)
                 AS tt
      FROM tv)
    SELECT x.k, x.nt AS n_total,
           ROUND(12.0 * (x.x4 / 4.0)
                 / (CAST(x.nt AS DOUBLE) * CAST(x.nt + 1 AS DOUBLE))
                 - 3.0 * CAST(x.nt + 1 AS DOUBLE), 6) AS h6,
           ROUND((12.0 * (x.x4 / 4.0)
                  / (CAST(x.nt AS DOUBLE) * CAST(x.nt + 1 AS DOUBLE))
                  - 3.0 * CAST(x.nt + 1 AS DOUBLE))
                 / (1.0 - CAST(tie.tt AS DOUBLE)
                    / (CAST(x.nt AS DOUBLE) * CAST(x.nt AS DOUBLE)
                       * CAST(x.nt AS DOUBLE)
                       - CAST(x.nt AS DOUBLE))), 6) AS h_tie_adj6
    FROM x, tie
    """,
    doc="Kruskal-Wallis H (rank one-way ANOVA) across ALL event "
        "types: H = 12/(N(N+1)) * sum_g R_g^2/n_g - 3(N+1) with the "
        "tie-corrected variant H / (1 - sum(t^3-t)/(N^3-N)). Average "
        "ranks under ties stay exact by doubling: 2*rank_v = "
        "2*below_v + t_v + 1, so each group's doubled rank-sum R2_g "
        "is an exact HUGEINT and R_g^2/n_g enters float only at the "
        "k-row reduction. That k-term float sum is made "
        "order-deterministic by folding a SORTED list (DuckDB "
        "list_reduce over list(...ORDER BY event_type) vs Spark "
        "F.aggregate over array_sort(collect_list(...)) — identical "
        "left-to-right IEEE sequence). Scale: value-domain prefix "
        "sum (ranking.prefix_sums — no single-task window) + one "
        "groups-sized relation; no global sort of raw rows",
    exchanges=14,
)
def kruskal_wallis_h(spark, sf_dir):
    ev = table(spark, sf_dir, "events")

    counts = (ev.select(F.round(F.col("value") * 100).cast("bigint")
                        .alias("cents"), "event_type")
              .groupBy("cents", "event_type")
              .agg(F.count(F.lit(1)).alias("n")))
    tv = counts.groupBy("cents").agg(F.sum("n").alias("t"))
    # exclusive prefix sum over the value domain
    cum = prefix_sums(tv, idiv(F.col("cents"), F.lit(2500)), ["cents"],
                      {"below": "t"}, exclusive=True)
    rg = (counts.join(cum, "cents")
          .groupBy("event_type")
          .agg(F.sum("n").alias("n_g"),
               F.sum(F.col("n").cast("decimal(38,0)")
                     * (2 * F.col("below") + F.col("t") + 1))
               .cast("decimal(38,0)").alias("r2_g")))
    term = F.struct(
        F.col("event_type").alias("g"),
        ((F.col("r2_g") * F.col("r2_g")).cast("double")
         / F.col("n_g").cast("double")).alias("v"))
    x = rg.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("nt"),
        F.aggregate(F.array_sort(F.collect_list(term)), F.lit(0.0),
                    lambda a, s: a + s["v"]).alias("x4"))
    tie = cum.agg(
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("t")
              * F.col("t") - F.col("t"))
        .cast("decimal(38,0)").alias("tt"))
    j = x.crossJoin(F.broadcast(tie))
    ntd = F.col("nt").cast("double")
    np1d = (F.col("nt") + 1).cast("double")
    h = (F.lit(12.0) * (F.col("x4") / F.lit(4.0)) / (ntd * np1d)
         - F.lit(3.0) * np1d)
    corr = (F.lit(1.0) - F.col("tt").cast("double")
            / (ntd * ntd * ntd - ntd))
    return j.select(
        "k", F.col("nt").alias("n_total"),
        F.round(h, 6).alias("h6"),
        F.round(h / corr, 6).alias("h_tie_adj6"))


# ---------------------------------------------------------------------------
# Cramér's V — effect size on top of the chi-square grid

@query(
    "cramers_v_effect",
    oracle="""
    WITH cells AS (
      SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2),
    rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r
           FROM cells GROUP BY 1),
    ct AS (SELECT hod, CAST(sum(o) AS BIGINT) AS c
           FROM cells GROUP BY 1),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                   CAST(count(DISTINCT event_type) AS BIGINT) AS nr,
                   CAST(count(DISTINCT hod) AS BIGINT) AS nc
            FROM cells),
    terms AS (
      SELECT cells.event_type, cells.hod,
             CAST((CAST(cells.o AS HUGEINT) * tot.n
                   - CAST(rt.r AS HUGEINT) * ct.c)
                  * (CAST(cells.o AS HUGEINT) * tot.n
                     - CAST(rt.r AS HUGEINT) * ct.c) AS DOUBLE)
             / (CAST(tot.n AS DOUBLE)
                * CAST(CAST(rt.r AS HUGEINT) * ct.c AS DOUBLE)) AS t
      FROM cells
      JOIN rt USING (event_type) JOIN ct USING (hod), tot),
    chi AS (
      SELECT list_reduce(list(t ORDER BY event_type, hod),
                         (a, b) -> a + b) AS chi2
      FROM terms)
    SELECT tot.n, tot.nr AS n_rows_cat, tot.nc AS n_cols_cat,
           CAST((tot.nr - 1) * (tot.nc - 1) AS BIGINT) AS dof,
           ROUND(chi.chi2, 6) AS chi2_6,
           ROUND(sqrt(chi.chi2 / (CAST(tot.n AS DOUBLE)
                 * CAST(least(tot.nr, tot.nc) - 1 AS DOUBLE))), 6)
               AS cramers_v6
    FROM chi, tot
    """,
    doc="Cramér's V effect size for the event-type x hour-of-day "
        "association: the chi2_independence_test grid summed into one "
        "statistic and normalized to [0,1] by sqrt(chi2/(N*(min(r,c)"
        "-1))) — 'is the dependence LARGE', where the chi-square only "
        "answers 'is it present'. Per-cell terms stay exact-integer "
        "cross-multiplied (o*n - r*c in HUGEINT); the cells-sized "
        "float sum is order-pinned by folding the list sorted by "
        "(event_type, hod) on both engines — the same ordered-fold "
        "determinism trick as kruskal_wallis_h. Post-agg state is "
        "#types x 24 rows at any input scale",
    exchanges=11,
)
def cramers_v_effect(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    cells = (ev.groupBy("event_type",
                        F.hour("ts").cast("bigint").alias("hod"))
             .agg(F.count(F.lit(1)).alias("o")))
    rt = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = cells.groupBy("hod").agg(F.sum("o").alias("c"))
    tot = cells.agg(F.sum("o").alias("n"),
                    F.countDistinct("event_type").alias("nr"),
                    F.countDistinct("hod").alias("nc"))
    j = (cells.join(F.broadcast(rt), "event_type")
         .join(F.broadcast(ct), "hod")
         .crossJoin(F.broadcast(tot)))
    num = (F.col("o").cast("decimal(38,0)") * F.col("n")
           - F.col("r").cast("decimal(38,0)") * F.col("c"))
    rc = F.col("r").cast("decimal(38,0)") * F.col("c")
    terms = j.select(
        F.struct(F.col("event_type").alias("g"),
                 F.col("hod").alias("h"),
                 ((num * num).cast("double")
                  / (F.col("n").cast("double") * rc.cast("double")))
                 .alias("t")).alias("cell"))
    chi = terms.agg(
        F.aggregate(F.array_sort(F.collect_list("cell")), F.lit(0.0),
                    lambda a, s: a + s["t"]).alias("chi2"))
    out = chi.crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    mind = (F.least(F.col("nr"), F.col("nc")) - 1).cast("double")
    return out.select(
        "n", F.col("nr").alias("n_rows_cat"),
        F.col("nc").alias("n_cols_cat"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("bigint")
        .alias("dof"),
        F.round(F.col("chi2"), 6).alias("chi2_6"),
        F.round(F.sqrt(F.col("chi2") / (nd * mind)), 6)
        .alias("cramers_v6"))


# ---------------------------------------------------------------------------
# KMV distinct-count sketch — mergeable partials with an exact oracle

_KMV_K = 16


@query(
    "kmv_distinct_sketch",
    oracle=f"""
    WITH base AS (
      SELECT DISTINCT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events),
    h AS (
      SELECT event_type, cents,
             CAST('0x' || substr(md5(CAST(cents AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h60
      FROM base),
    ranked AS (
      SELECT event_type, h60,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY h60) AS rn
      FROM h),
    per_type AS (
      SELECT r.event_type AS scope, c.n_exact, r.h60 AS kth_h60
      FROM ranked r
      JOIN (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
            FROM h GROUP BY 1) c USING (event_type)
      WHERE r.rn = {_KMV_K}),
    merged_pool AS (
      SELECT DISTINCT h60 FROM ranked WHERE rn <= {_KMV_K}),
    merged_ranked AS (
      SELECT h60, row_number() OVER (ORDER BY h60) AS rn
      FROM merged_pool),
    merged AS (
      SELECT 'ALL' AS scope,
             (SELECT CAST(count(DISTINCT cents) AS BIGINT) FROM base)
                 AS n_exact,
             h60 AS kth_h60
      FROM merged_ranked WHERE rn = {_KMV_K}),
    uni AS (SELECT * FROM per_type UNION ALL SELECT * FROM merged)
    SELECT scope, n_exact, kth_h60,
           CAST((2 * CAST({_KMV_K - 1} AS HUGEINT)
                 * 1152921504606846976 * 1000000 + kth_h60)
                // (2 * CAST(kth_h60 AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS kmv_est6
    FROM uni ORDER BY scope
    """,
    doc=f"K-minimum-values distinct-count sketch (Bar-Yossef et al.; "
        f"k={_KMV_K}) over the distinct value domain per event type, "
        "PLUS the merged all-types sketch — the property that makes "
        "KMV a distributed sketch: the union of per-partition k-"
        "smallest-hash sets contains the global k smallest, so "
        "partials merge losslessly (the same contract HLL partials "
        "satisfy, here with an EXACT oracle because the md5-derived "
        "h60 hash is deterministic on both engines). Estimate = "
        "(k-1) * 2^60 / h_k, rounded half-away in exact HUGEINT/"
        "DECIMAL(38) arithmetic. Scale: after the distinct, "
        "relations are value-domain- then k-sized; each per-type "
        "sketch is a bounded-state window, the merge is k*#types "
        "rows. True distincts are reported alongside for the "
        "accuracy audit",
    # +1: merge-pool DISTINCT (k-sized)
    exchanges=10,
)
def kmv_distinct_sketch(spark, sf_dir):
    from ..functions.dedup import h60
    ev = table(spark, sf_dir, "events")
    base = (ev.select("event_type",
                      F.round(F.col("value") * 100).cast("bigint")
                      .alias("cents"))
            .distinct())
    h = base.select("event_type",
                    h60(F.col("cents").cast("string")).alias("h60"))
    wt = Window.partitionBy("event_type").orderBy("h60")
    ranked = h.select("event_type", "h60",
                      F.row_number().over(wt).alias("rn"))
    n_per = h.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_exact"))
    per_type = (ranked.filter(F.col("rn") == _KMV_K)
                .join(F.broadcast(n_per), "event_type")
                .select(F.col("event_type").alias("scope"),
                        "n_exact", F.col("h60").alias("kth_h60")))
    # KMV merge = k smallest DISTINCT hashes of the pooled sketches:
    # the same value can sit in several per-group sketches with the
    # same hash, and keeping duplicates would pull the k-th order
    # statistic down (systematic overestimate) — caught by the
    # merge-losslessness property test in tests/test_stats_ops.py
    pool = (ranked.filter(F.col("rn") <= _KMV_K)
            .select("h60").distinct())
    # the merge pool is <= k * #types rows by construction — the
    # global window over it is bounded state forever
    wm = Window.orderBy("h60")
    merged_kth = (pool.select("h60",
                              F.row_number().over(wm).alias("rn"))
                  .filter(F.col("rn") == _KMV_K))
    n_all = base.select("cents").distinct().agg(
        F.count(F.lit(1)).alias("n_exact"))
    merged = (merged_kth.crossJoin(F.broadcast(n_all))
              .select(F.lit("ALL").alias("scope"), "n_exact",
                      F.col("h60").alias("kth_h60")))
    uni = per_type.unionByName(merged)
    num = (F.lit(_KMV_K - 1).cast("decimal(38,0)")
           * F.lit(1152921504606846976).cast("decimal(38,0)"))
    return (uni.select(
                "scope", "n_exact", "kth_h60",
                ratio_round6(num, F.col("kth_h60")).alias("kmv_est6"))
            .orderBy("scope"))


# ---------------------------------------------------------------------------
# One-way ANOVA F — integer moments + ordered k-term fold

@query(
    "anova_f_oneway",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events),
    g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(cents) AS BIGINT) AS s_g,
             CAST(sum(cents * cents) AS BIGINT) AS q_g
      FROM base GROUP BY event_type),
    x AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(s_g) AS BIGINT) AS s,
             CAST(sum(q_g) AS BIGINT) AS q,
             list_reduce(
               list(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                    / CAST(n_g AS DOUBLE) ORDER BY event_type),
               (a, b) -> a + b) AS r
      FROM g)
    SELECT k, n AS n_total,
           ROUND(r - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                 / CAST(n AS DOUBLE), 6) AS ssb6,
           ROUND(CAST(q AS DOUBLE) - r, 6) AS ssw6,
           ROUND((r - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                  / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE)
                 / ((CAST(q AS DOUBLE) - r) / CAST(n - k AS DOUBLE)),
                 6) AS f6
    FROM x
    """,
    doc="one-way ANOVA: does mean 'value' differ across event types? "
        "F = (SSB/(k-1)) / (SSW/(N-k)) from per-group integer moments "
        "(n, sum, sum-of-squares in exact cents — ONE map-side-"
        "partial aggregation). The k between-group terms s_g^2/n_g "
        "enter float only at a k-row reduction, order-pinned by the "
        "sorted-list fold (same trick as kruskal_wallis_h), and every "
        "remaining float op is one identical IEEE expression on both "
        "engines. Post-agg state is k rows at any input volume",
    exchanges=2,
)
def anova_f_oneway(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"))
    g = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("cents").alias("s_g"),
        F.sum(F.col("cents") * F.col("cents")).alias("q_g"))
    term = F.struct(
        F.col("event_type").alias("g"),
        (F.col("s_g").cast("double") * F.col("s_g").cast("double")
         / F.col("n_g").cast("double")).alias("v"))
    x = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("q_g").alias("q"),
        F.aggregate(F.array_sort(F.collect_list(term)), F.lit(0.0),
                    lambda a, s: a + s["v"]).alias("r"))
    sd = F.col("s").cast("double")
    nd = F.col("n").cast("double")
    qd = F.col("q").cast("double")
    r = F.col("r")
    ssb = r - sd * sd / nd
    ssw = qd - r
    return x.select(
        "k", F.col("n").alias("n_total"),
        F.round(ssb, 6).alias("ssb6"),
        F.round(ssw, 6).alias("ssw6"),
        F.round(ssb / (F.col("k") - 1).cast("double")
                / (ssw / (F.col("n") - F.col("k")).cast("double")), 6)
        .alias("f6"))


# ---------------------------------------------------------------------------
# Brier score + log-loss — probabilistic-forecast calibration metrics

@query(
    "brier_logloss_calibration",
    oracle="""
    WITH base AS (
      SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
             CAST(event_type = 'purchase' AS BIGINT) AS y,
             event_id % 2 AS split
      FROM events WHERE event_type IN ('click', 'purchase')),
    model AS (
      SELECT hod,
             CAST((2 * (CAST(sum(y) AS HUGEINT) + 1) * 1000000
                   + (count(*) + 2))
                  // (2 * (CAST(count(*) AS HUGEINT) + 2)) AS BIGINT)
                 AS p_e6,
             CAST(count(*) AS BIGINT) AS n_h
      FROM base WHERE split = 0 GROUP BY hod),
    test AS (
      SELECT b.hod, b.y, m.p_e6, CAST(count(*) AS BIGINT) AS c
      FROM base b JOIN model m USING (hod)
      WHERE b.split = 1 GROUP BY b.hod, b.y, m.p_e6),
    agg AS (
      SELECT CAST(sum(c) AS BIGINT) AS n_test,
             CAST(sum(CAST(c AS HUGEINT)
                      * (p_e6 - y * 1000000)
                      * (p_e6 - y * 1000000)) AS HUGEINT) AS bsum,
             list_reduce(
               list(CAST(c AS DOUBLE)
                    * -ln(CASE WHEN y = 1
                          THEN CAST(p_e6 AS DOUBLE) / 1000000.0
                          ELSE 1.0 - CAST(p_e6 AS DOUBLE) / 1000000.0
                          END) ORDER BY hod, y),
               (a, b) -> a + b) AS lsum
      FROM test),
    tr AS (SELECT CAST(count(*) AS BIGINT) AS n_train FROM base
           WHERE split = 0)
    SELECT tr.n_train, agg.n_test,
           CAST((2 * agg.bsum * 1000000
                 + CAST(agg.n_test AS HUGEINT) * 1000000000000)
                // (2 * CAST(agg.n_test AS HUGEINT) * 1000000000000)
                AS DOUBLE) / 1000000.0 AS brier6,
           ROUND(agg.lsum / CAST(agg.n_test AS DOUBLE), 6)
               AS logloss6
    FROM agg, tr
    """,
    doc="Brier score and log-loss of a Laplace-smoothed hour-of-day "
        "purchase-probability model (train on even event_ids, score "
        "odd): the two proper scoring rules behind every calibration "
        "audit. Predictions are exact 1e-6-unit integers "
        "(p = (k+1)/(n+2), half-away integer rounding), so the Brier "
        "sum (p - y)^2 is EXACT integer arithmetic end-to-end and "
        "only its final normalization divides; the log-loss folds "
        "<=2*24 per-(hour,label) count-weighted -ln terms in sorted "
        "order (deterministic IEEE sequence; smoothing keeps p away "
        "from 0 and 1 so ln is always finite). Model is a 24-row "
        "broadcast; everything else is map-side-combinable counts",
    exchanges=4,
)
def brier_logloss_calibration(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    base = (ev.filter(F.col("event_type").isin("click", "purchase"))
            .select(F.hour("ts").cast("bigint").alias("hod"),
                    (F.col("event_type") == "purchase").cast("bigint")
                    .alias("y"),
                    (F.col("event_id") % 2).alias("split")))
    ks = (F.sum("y") + 1).cast("decimal(38,0)")
    ns = (F.count(F.lit(1)) + 2).cast("decimal(38,0)")
    model = (base.filter(F.col("split") == 0)
             .groupBy("hod")
             .agg(idiv(2 * ks * 1000000 + ns, 2 * ns).alias("p_e6"),
                  F.count(F.lit(1)).alias("n_h")))
    test = (base.filter(F.col("split") == 1)
            .join(F.broadcast(model.select("hod", "p_e6")), "hod")
            .groupBy("hod", "y", "p_e6")
            .agg(F.count(F.lit(1)).alias("c")))
    resid = F.col("p_e6") - F.col("y") * 1000000
    lterm = F.struct(
        F.col("hod").alias("h"), F.col("y").alias("yy"),
        (F.col("c").cast("double")
         * -F.log(F.when(F.col("y") == 1,
                         F.col("p_e6").cast("double") / 1000000.0)
                  .otherwise(F.lit(1.0) - F.col("p_e6").cast("double")
                             / 1000000.0))).alias("v"))
    agg = test.agg(
        F.sum("c").alias("n_test"),
        F.sum(F.col("c").cast("decimal(38,0)") * resid * resid)
        .cast("decimal(38,0)").alias("bsum"),
        F.aggregate(F.array_sort(F.collect_list(lterm)), F.lit(0.0),
                    lambda a, s: a + s["v"]).alias("lsum"))
    tr = (base.filter(F.col("split") == 0)
          .agg(F.count(F.lit(1)).alias("n_train")))
    j = agg.crossJoin(F.broadcast(tr))
    return j.select(
        "n_train", "n_test",
        ratio_round6(F.col("bsum"), F.col("n_test").cast("decimal(38,0)")
                     * 1000000000000).alias("brier6"),
        F.round(F.col("lsum") / F.col("n_test").cast("double"), 6)
        .alias("logloss6"))


# ---------------------------------------------------------------------------
# Holt-Winters triple smoothing — level + trend + weekly seasonal ring

@query(
    "holt_winters_seasonal",
    oracle="""
    WITH RECURSIVE bars AS (
      SELECT user_id, date_trunc('day', ts) AS bar_day,
             (max(struct_pack(t := ts, e := event_id,
                              v := value))).v AS close
      FROM events GROUP BY 1, 2),
    ord AS MATERIALIZED (
      SELECT user_id, bar_day, close,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY bar_day) AS rn
      FROM bars),
    rec AS (
      SELECT user_id, rn, bar_day, close,
             close AS l, CAST(0.0 AS DOUBLE) AS t,
             [CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
                 AS ring
      FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.rn, o.bar_day, o.close,
             0.25 * (o.close - r.ring[1]) + 0.75 * (r.l + r.t),
             0.125 * ((0.25 * (o.close - r.ring[1])
                       + 0.75 * (r.l + r.t)) - r.l) + 0.875 * r.t,
             list_append(r.ring[2:7],
                 0.25 * (o.close - (0.25 * (o.close - r.ring[1])
                                    + 0.75 * (r.l + r.t)))
                 + 0.75 * r.ring[1])
      FROM ord o JOIN rec r
        ON o.user_id = r.user_id AND o.rn = r.rn + 1)
    SELECT user_id, strftime(bar_day, '%Y-%m-%d') AS day,
           floor(l * 1000000.0 + 0.5) / 1000000.0 AS level,
           floor(t * 1000000.0 + 0.5) / 1000000.0 AS trend,
           floor(ring[7] * 1000000.0 + 0.5) / 1000000.0 AS seasonal
    FROM rec ORDER BY user_id, rn
    """,
    doc="Holt-Winters additive triple exponential smoothing over "
        "daily close bars (weekly period m=7, dyadic alphas 0.25/"
        "0.125/0.25 so 1-a is float-exact): level, trend, AND an "
        "m-slot seasonal ring advanced per step — the deepest "
        "sequential recursion in the fold family, still ONE "
        "partition-aligned mapInPandas pass "
        "(operators/indicators.py:with_holt_winters). The DuckDB "
        "oracle carries the ring as a LIST column through a "
        "recursive CTE, rotated with list slicing — every float "
        "expression literal-for-literal identical, so the triple "
        "state is bit-exact cross-engine; the edge rounding is "
        "floor(x*1e6 + 0.5)/1e6 evaluated as the SAME IEEE sequence "
        "on both engines (plain ROUND(x, 6) differs cross-engine on "
        "5e-7 representability boundaries — one row in 4006 at "
        "sf0.01 flipped). Bar relation is days-sized per key: fold "
        "state and oracle both scale with calendar length, never "
        "tick volume",
    # bars agg, series fold, sort
    exchanges=3,
)
def holt_winters_seasonal(spark, sf_dir):
    from ..operators.indicators import with_holt_winters
    ev = table(spark, sf_dir, "events")
    tagged = F.struct(F.col("ts").alias("t"),
                      F.col("event_id").alias("e"),
                      F.col("value").alias("v"))
    bars = (ev.groupBy("user_id",
                       F.date_trunc("day", F.col("ts"))
                       .alias("bar_day"))
            .agg(F.max(tagged)["v"].alias("close")))
    out = with_holt_winters(bars, "close", ["user_id"], ["bar_day"])
    return (out.select(
                "user_id",
                F.date_format("bar_day", "yyyy-MM-dd").alias("day"),
                floor_round6(F.col("level")).alias("level"),
                floor_round6(F.col("trend")).alias("trend"),
                floor_round6(F.col("seasonal")).alias("seasonal"))
            .orderBy("user_id", "day"))


# ---------------------------------------------------------------------------
# SPRT — Wald's sequential probability ratio test, integer LLR units

_SPRT = {
    # H0: purchase share p0 = 0.25   H1: p1 = 0.35   alpha = beta = 0.05
    # per-observation LLR increments and the decision thresholds,
    # pre-rounded to exact 1e-6 integers (identical literals on both
    # engines -> every decision is pure integer arithmetic)
    "c1": 336472,    # round(ln(0.35/0.25) * 1e6)   success increment
    "c0": -143101,   # round(ln(0.65/0.75) * 1e6)   failure increment
    "up": 2944439,   # round(ln(0.95/0.05) * 1e6)   accept H1 at >=
    "dn": -2944439,  # accept H0 at <=
}


@query(
    "sprt_sequential_test",
    oracle=f"""
    WITH base AS (
      SELECT user_id, ts, event_id,
             CAST(event_type = 'purchase' AS BIGINT) AS y
      FROM events WHERE event_type IN ('click', 'purchase')),
    seq AS (
      SELECT user_id,
             row_number() OVER w AS rn,
             CAST(sum(y) OVER (PARTITION BY user_id ORDER BY ts,
                  event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
                  CURRENT ROW) AS BIGINT) AS k
      FROM base WINDOW w AS (PARTITION BY user_id
                             ORDER BY ts, event_id)),
    llr AS (
      SELECT user_id, rn, k,
             k * {_SPRT['c1']} + (rn - k) * ({_SPRT['c0']}) AS v
      FROM seq),
    hit AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_obs,
             min(CASE WHEN v >= {_SPRT['up']}
                 THEN struct_pack(rn := rn, k := k) END) AS up_hit,
             min(CASE WHEN v <= {_SPRT['dn']}
                 THEN struct_pack(rn := rn, k := k) END) AS dn_hit
      FROM llr GROUP BY user_id)
    SELECT user_id, n_obs,
           CASE
             WHEN up_hit IS NOT NULL AND (dn_hit IS NULL
                  OR up_hit.rn < dn_hit.rn) THEN 'accept_h1'
             WHEN dn_hit IS NOT NULL THEN 'accept_h0'
             ELSE 'continue' END AS decision,
           CAST(coalesce(
             CASE WHEN up_hit IS NOT NULL AND (dn_hit IS NULL
                  OR up_hit.rn < dn_hit.rn) THEN up_hit.rn
                  ELSE dn_hit.rn END, 0) AS BIGINT) AS n_at_decision,
           CAST(coalesce(
             CASE WHEN up_hit IS NOT NULL AND (dn_hit IS NULL
                  OR up_hit.rn < dn_hit.rn) THEN up_hit.k
                  ELSE dn_hit.k END, 0) AS BIGINT) AS k_at_decision
    FROM hit ORDER BY user_id
    """,
    doc="Wald's SPRT per user: is this user's purchase share 0.35 "
        "(H1) or 0.25 (H0), alpha = beta = 0.05, decided at the "
        "FIRST crossing of the log-likelihood-ratio random walk — "
        "the always-valid sequential A/B test that stops early "
        "instead of fixing n. The LLR increments and Wald "
        "thresholds are pre-rounded to exact 1e-6-unit integers "
        "(identical literals both engines), so the walk, the "
        "crossing predicates, and the argmin are ALL integer "
        "arithmetic — no float ever touches a decision. First "
        "crossing is min(struct(rn, k)) under a crossing flag (no "
        "second pass); everything shares one per-user window "
        "ordering -> a single exchange at any scale",
    # series window+agg, sort
    exchanges=2,
)
def sprt_sequential_test(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    base = (ev.filter(F.col("event_type").isin("click", "purchase"))
            .select("user_id", "ts", "event_id",
                    (F.col("event_type") == "purchase").cast("bigint")
                    .alias("y")))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    wr = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = base.select(
        "user_id",
        F.row_number().over(wr).cast("bigint").alias("rn"),
        F.sum("y").over(w).alias("k"))
    v = (F.col("k") * _SPRT["c1"]
         + (F.col("rn") - F.col("k")) * _SPRT["c0"])
    llr = seq.select("user_id", "rn", "k", v.alias("v"))
    hitstruct = F.struct(F.col("rn").alias("rn"),
                         F.col("k").alias("k"))
    hit = llr.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.min(F.when(F.col("v") >= _SPRT["up"], hitstruct))
        .alias("up_hit"),
        F.min(F.when(F.col("v") <= _SPRT["dn"], hitstruct))
        .alias("dn_hit"))
    up, dn = F.col("up_hit"), F.col("dn_hit")
    h1_first = up.isNotNull() & (dn.isNull()
                                 | (up["rn"] < dn["rn"]))
    decision = (F.when(h1_first, F.lit("accept_h1"))
                .when(dn.isNotNull(), F.lit("accept_h0"))
                .otherwise(F.lit("continue")))
    n_at = F.coalesce(F.when(h1_first, up["rn"]).otherwise(dn["rn"]),
                      F.lit(0)).cast("bigint")
    k_at = F.coalesce(F.when(h1_first, up["k"]).otherwise(dn["k"]),
                      F.lit(0)).cast("bigint")
    return (hit.select("user_id", "n_obs",
                       decision.alias("decision"),
                       n_at.alias("n_at_decision"),
                       k_at.alias("k_at_decision"))
            .orderBy("user_id"))


# ---------------------------------------------------------------------------
# Time-decay EMA — the irregular-interval indicator

@query(
    "time_decay_ewma",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT user_id, epoch_us(ts) AS tus, event_id, value
      FROM events),
    ord AS MATERIALIZED (
      SELECT user_id, tus, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY tus, event_id) AS rn
      FROM base),
    rec AS (
      SELECT user_id, rn, tus, event_id, value, value AS s
      FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.rn, o.tus, o.event_id, o.value,
             (floor(exp(-((o.tus - r.tus) / 1000000.0) / 3600.0)
                    * 1000000000 + 0.5) / 1000000000)
             * r.s
             + (1.0 - floor(exp(-((o.tus - r.tus) / 1000000.0)
                            / 3600.0) * 1000000000 + 0.5)
                / 1000000000) * o.value
      FROM ord o JOIN rec r
        ON o.user_id = r.user_id AND o.rn = r.rn + 1)
    SELECT user_id, tus, event_id,
           floor(s * 1000000.0 + 0.5) / 1000000.0 AS tdewma
    FROM rec ORDER BY user_id, rn
    """,
    doc="time-decay EMA over the raw irregular tick stream (tau = "
        "1h): weight = exp(-dt/tau) from the ACTUAL gap between "
        "ticks, so bursts and lulls decay correctly where the "
        "fixed-alpha ewma_indicator silently assumes equal spacing. "
        "The weight snaps to 1e-9 before use and the recursion is "
        "evaluated literal-for-literal on both engines (CPython and "
        "DuckDB share libm exp; timestamps are exact epoch-micro "
        "integers), with the fold family's floor-based edge "
        "rounding. One partition-aligned mapInPandas fold "
        "(operators/indicators.py:with_time_decay_ewma). NOTE (r15): "
        "the persist-before-sort conversion was measured here and "
        "REVERTED — a wash inside the noise band (interleaved sf1 "
        "A/B: min 1.63 vs 1.49s, medians equal; plans/r15/"
        "ab_presort_sf1.json): the fold is a cheap state machine, so "
        "the resample costs about what the persist does",
    # series fold + output sort
    exchanges=2,
)
def time_decay_ewma(spark, sf_dir):
    from ..operators.indicators import with_time_decay_ewma
    ev = table(spark, sf_dir, "events")
    base = ev.select("user_id", F.unix_micros("ts").alias("tus"),
                     "event_id", "value")
    out = with_time_decay_ewma(base, "value", "tus", ["user_id"],
                               ["tus", "event_id"])
    return (out.select(
                "user_id", "tus", "event_id",
                (F.floor(F.col("tdewma") * F.lit(1000000.0)
                         + F.lit(0.5)) / F.lit(1000000.0))
                .alias("tdewma"))
            .orderBy("user_id", "tus", "event_id"))


# ---------------------------------------------------------------------------
# MAD robust anomaly detection — two exact order statistics, no sort

@query(
    "mad_robust_outliers",
    oracle="""
    WITH cnt AS (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n
            FROM cnt GROUP BY 1),
    med AS (
      SELECT m.event_type, min(m.cents) AS med
      FROM (SELECT event_type, cents,
                   sum(c) OVER (PARTITION BY event_type
                                ORDER BY cents ROWS BETWEEN
                                UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM cnt) m
      JOIN tot USING (event_type)
      WHERE 2 * m.cum >= tot.n GROUP BY 1),
    dev AS (
      SELECT cnt.event_type, abs(cnt.cents - med.med) AS adev,
             CAST(sum(c) AS BIGINT) AS c
      FROM cnt JOIN med USING (event_type) GROUP BY 1, 2),
    mad AS (
      SELECT d.event_type, min(d.adev) AS mad
      FROM (SELECT event_type, adev,
                   sum(c) OVER (PARTITION BY event_type
                                ORDER BY adev ROWS BETWEEN
                                UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM dev) d
      JOIN tot USING (event_type)
      WHERE 2 * d.cum >= tot.n GROUP BY 1),
    out_ AS (
      SELECT cnt.event_type,
             CAST(sum(CASE WHEN 10000 * abs(cnt.cents - med.med)
                           > 44478 * mad.mad THEN c ELSE 0 END)
                  AS BIGINT) AS n_outliers
      FROM cnt JOIN med USING (event_type) JOIN mad
        USING (event_type)
      GROUP BY 1)
    SELECT tot.event_type, tot.n,
           CAST(med.med AS BIGINT) AS median_cents,
           CAST(mad.mad AS BIGINT) AS mad_cents,
           out_.n_outliers
    FROM tot JOIN med USING (event_type) JOIN mad USING (event_type)
    JOIN out_ USING (event_type)
    ORDER BY tot.event_type
    """,
    doc="robust anomaly detection per event type: lower median "
        "(2*cum >= n integer threshold, exact at both parities) and "
        "MAD (median absolute deviation) as EXACT order statistics "
        "over the value-domain count relation — 2*cum >= n integer "
        "threshold predicates (lower median for both order "
        "statistics), never a sort of raw rows — and the "
        "outlier rule |x - med| > 3 * 1.4826 * MAD kept integral by "
        "cross-multiplying (10000*|dev| > 44478*MAD). The robust "
        "alternative to zscore_anomalies: one contaminated tick "
        "shifts mean/stddev but not med/MAD. Scale: two "
        "domain-sized cumulative windows (partitioned by type, "
        "state bounded by the value domain) + group-sized "
        "broadcasts; raw data is touched only by map-side-"
        "combinable counts. The count cache is released after the "
        "per-type result materializes (run_scoped, VERDICT r9 "
        "ask #3)",
    scoped=True,
    # five branches over the persisted value-domain count relation
    exchanges=18,
)
def _mad_plan(spark, sf_dir, cache=lazy_cache):
    ev = table(spark, sf_dir, "events")
    # the count relation is value-domain-sized (bounded by #types x
    # #distinct cents, never by row volume) and feeds five branches —
    # cache it or the plan re-runs the raw scan+agg per branch
    # (measured 31 -> 18 exchanges)
    # lazy cache: domain-sized (#types x #distinct cents), and the
    # measured lineage count for lazy-persisted broadcast consumers
    # is already 1.0 (tests/test_cache_lifecycle.py) — the eager count
    # job cost ~0.4s/run here for no work saved; eager stays reserved
    # for HEAVY builds where cost determinism matters
    cnt = cache(ev.select("event_type",
                          F.round(F.col("value") * 100).cast("bigint")
                          .alias("cents"))
                .groupBy("event_type", "cents")
                .agg(F.count(F.lit(1)).alias("c")))
    tot = cnt.groupBy("event_type").agg(F.sum("c").alias("n"))
    wcum = (Window.partitionBy("event_type").orderBy("cents")
            .rowsBetween(Window.unboundedPreceding, 0))
    med = (cnt.select("event_type", "cents",
                      F.sum("c").over(wcum).alias("cum"))
           .join(F.broadcast(tot), "event_type")
           .filter(2 * F.col("cum") >= F.col("n"))
           .groupBy("event_type").agg(F.min("cents").alias("med")))
    dev = (cnt.join(F.broadcast(med), "event_type")
           .groupBy("event_type",
                    F.abs(F.col("cents") - F.col("med"))
                    .alias("adev"))
           .agg(F.sum("c").alias("c")))
    wdev = (Window.partitionBy("event_type").orderBy("adev")
            .rowsBetween(Window.unboundedPreceding, 0))
    mad = (dev.select("event_type", "adev",
                      F.sum("c").over(wdev).alias("cum"))
           .join(F.broadcast(tot), "event_type")
           .filter(2 * F.col("cum") >= F.col("n"))
           .groupBy("event_type").agg(F.min("adev").alias("mad")))
    out_ = (cnt.join(F.broadcast(med), "event_type")
            .join(F.broadcast(mad), "event_type")
            .groupBy("event_type")
            .agg(F.sum(F.when(
                10000 * F.abs(F.col("cents") - F.col("med"))
                > 44478 * F.col("mad"), F.col("c")).otherwise(0))
                 .alias("n_outliers")))
    return (tot.join(med, "event_type").join(mad, "event_type")
            .join(out_, "event_type")
            .select("event_type", "n",
                    F.col("med").cast("bigint").alias("median_cents"),
                    F.col("mad").cast("bigint").alias("mad_cents"),
                    "n_outliers")
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Correlation matrix — all event-type pairs from exact integer moments

@query(
    "correlation_matrix_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             CAST((2 * CAST(sum(CAST(ROUND(value * 100) AS BIGINT))
                   AS HUGEINT) + count(*))
                  // (2 * CAST(count(*) AS HUGEINT)) AS BIGINT)
                 AS mean_cents
      FROM events GROUP BY 1, 2),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a.mean_cents) AS HUGEINT) AS sx,
             CAST(sum(b.mean_cents) AS HUGEINT) AS sy,
             CAST(sum(CAST(a.mean_cents AS HUGEINT) * a.mean_cents)
                  AS HUGEINT) AS sxx,
             CAST(sum(CAST(b.mean_cents AS HUGEINT) * b.mean_cents)
                  AS HUGEINT) AS syy,
             CAST(sum(CAST(a.mean_cents AS HUGEINT) * b.mean_cents)
                  AS HUGEINT) AS sxy
      FROM daily a JOIN daily b
        ON a.d = b.d AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT type_a, type_b, n,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE)
                             * CAST(sy AS DOUBLE))), 6) AS corr6
    FROM pairs WHERE n >= 2 ORDER BY type_a, type_b
    """,
    doc="full Pearson correlation matrix (upper triangle) between "
        "the event types' daily mean-value series: daily means "
        "collapse to exact half-away-rounded integer cents (one "
        "map-side-combinable aggregate), the day-aligned self-join "
        "is days x types-sized, and each pair's five moments are "
        "exact HUGEINTs — the correlation is ONE identical IEEE "
        "expression on identical integers (the "
        "integer-scaled-moments pattern, generalized from the "
        "pairwise rolling_market_correlation to every pair at "
        "once). Post-agg state is types^2 rows at any scale",
    # daily agg x2, pair agg, sort
    exchanges=4,
)
def correlation_matrix_daily(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    s = F.sum(F.round(F.col("value") * 100).cast("bigint")) \
        .cast("decimal(38,0)")
    c = F.count(F.lit(1)).cast("decimal(38,0)")
    daily = (ev.groupBy("event_type",
                        F.date_trunc("day", F.col("ts")).alias("d"))
             .agg(idiv(2 * s + c, 2 * c).alias("mean_cents")))
    a = daily.select(F.col("event_type").alias("type_a"), "d",
                     F.col("mean_cents").alias("xa"))
    b = daily.select(F.col("event_type").alias("type_b"),
                     F.col("d").alias("d2"),
                     F.col("mean_cents").alias("xb"))
    j = a.join(b, (F.col("d") == F.col("d2"))
               & (F.col("type_a") < F.col("type_b")))
    xa = F.col("xa").cast("decimal(38,0)")
    xb = F.col("xb").cast("decimal(38,0)")
    pairs = j.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xa").cast("decimal(38,0)").alias("sx"),
        F.sum("xb").cast("decimal(38,0)").alias("sy"),
        F.sum(xa * F.col("xa")).cast("decimal(38,0)").alias("sxx"),
        F.sum(xb * F.col("xb")).cast("decimal(38,0)").alias("syy"),
        F.sum(xa * F.col("xb")).cast("decimal(38,0)").alias("sxy"))
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (F.col("sxx").cast("double"),
                     F.col("syy").cast("double"),
                     F.col("sxy").cast("double"))
    corr = ((nd * sxy - sx * sy)
            / (F.sqrt(nd * sxx - sx * sx)
               * F.sqrt(nd * syy - sy * sy)))
    return (pairs.filter(F.col("n") >= 2)
            .select("type_a", "type_b", "n",
                    F.round(corr, 6).alias("corr6"))
            .orderBy("type_a", "type_b"))


# ---------------------------------------------------------------------------
# Quantile normalization — closed-form integer rank mapping

@query(
    "quantile_normalization",
    bench=True,
    oracle="""
    WITH cnt AS (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    tots AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_g
             FROM cnt GROUP BY 1),
    grand AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
    pooled AS (
      SELECT cents, CAST(sum(c) AS BIGINT) AS pc FROM cnt
      GROUP BY 1),
    cdf AS (
      SELECT cents, pc,
             CAST(sum(pc) OVER (ORDER BY cents ROWS BETWEEN
                  UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS phi
      FROM pooled),
    mapped AS (
      SELECT t.event_type, c.cents,
             (CAST(c.phi AS HUGEINT) * t.n_g) // g.n
             - (CAST(c.phi - c.pc AS HUGEINT) * t.n_g) // g.n
                 AS rows_here
      FROM cdf c CROSS JOIN tots t CROSS JOIN grand g),
    norm AS (
      SELECT event_type,
             CAST(sum(rows_here) AS BIGINT) AS n_check,
             CAST(sum(rows_here * CAST(cents AS HUGEINT))
                  AS HUGEINT) AS nsum
      FROM mapped GROUP BY 1),
    orig AS (
      SELECT event_type,
             CAST(sum(CAST(c AS HUGEINT) * cents) AS HUGEINT)
                 AS osum
      FROM cnt GROUP BY 1)
    SELECT t.event_type, t.n_g,
           CAST((2 * o.osum * 10000 + t.n_g)
                // (2 * CAST(t.n_g AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS orig_mean6,
           CAST((2 * nm.nsum * 10000 + t.n_g)
                // (2 * CAST(t.n_g AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS norm_mean6,
           nm.n_check
    FROM tots t JOIN norm nm USING (event_type)
    JOIN orig o USING (event_type)
    ORDER BY t.event_type
    """,
    doc="quantile normalization (the microarray/batch-effect "
        "preprocessing step): every group's empirical distribution "
        "is mapped onto the POOLED distribution, rank r in a group "
        "of n_g landing at pooled order statistic ceil(r*N/n_g). "
        "The naive formulation is a per-row distributed searchsorted; "
        "this one is CLOSED FORM on the value domain — the number of "
        "a group's rows landing on pooled value v is "
        "floor(phi_v*n_g/N) - floor((phi_v - pc_v)*n_g/N), exact "
        "integers from the pooled CDF — so the whole operator is "
        "counts, one domain-sized cumulative sum "
        "(ranking.prefix_sums), and a "
        "groups-sized broadcast. Reported per group: original vs "
        "normalized mean (normalized means coincide across groups up "
        "to discreteness — the invariant the property test pins) "
        "and the row-conservation check sum(rows_here) = n_g. The "
        "count cache is released after the per-type result "
        "materializes (run_scoped, VERDICT r9 ask #3)",
    scoped=True,
    # persisted cnt, 2-phase CDF
    exchanges=12,
)
def _qn_plan(spark, sf_dir, cache=lazy_cache):
    ev = table(spark, sf_dir, "events")
    # lazy cache — domain-sized; see the mad_robust_outliers note
    cnt = cache(ev.select("event_type",
                          F.round(F.col("value") * 100).cast("bigint")
                          .alias("cents"))
                .groupBy("event_type", "cents")
                .agg(F.count(F.lit(1)).alias("c")))
    tots = cnt.groupBy("event_type").agg(F.sum("c").alias("n_g"))
    grand = cnt.agg(F.sum("c").alias("n"))
    pooled = cnt.groupBy("cents").agg(F.sum("c").alias("pc"))
    # inclusive prefix sum over the value domain (no single-task
    # window over the CDF)
    cdf = prefix_sums(pooled, idiv(F.col("cents"), 2500), ["cents"],
                      {"phi": "pc"})
    mapped = (cdf.crossJoin(F.broadcast(tots))
              .crossJoin(F.broadcast(grand))
              .select("event_type", "cents",
                      (idiv(F.col("phi").cast("decimal(38,0)")
                            * F.col("n_g"), F.col("n"))
                       - idiv((F.col("phi") - F.col("pc"))
                              .cast("decimal(38,0)") * F.col("n_g"),
                              F.col("n"))).alias("rows_here")))
    norm = mapped.groupBy("event_type").agg(
        F.sum("rows_here").cast("bigint").alias("n_check"),
        F.sum(F.col("rows_here")
              * F.col("cents").cast("decimal(38,0)"))
        .cast("decimal(38,0)").alias("nsum"))
    orig = cnt.groupBy("event_type").agg(
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("cents"))
        .cast("decimal(38,0)").alias("osum"))
    j = (tots.join(norm, "event_type").join(orig, "event_type"))
    ng100 = 100 * F.col("n_g").cast("decimal(38,0)")
    return (j.select("event_type", "n_g",
                     ratio_round6(F.col("osum"), ng100)
                     .alias("orig_mean6"),
                     ratio_round6(F.col("nsum"), ng100)
                     .alias("norm_mean6"),
                     "n_check")
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Functional-dependency audit (data profiling): for a candidate set
# of FDs X -> Y, how badly does each hold? Reported as the g3 error —
# the MINIMUM number of rows to delete for the FD to hold exactly
# (per X-group: rows minus the plurality Y's count) — the standard
# approximate-FD measure (Kivinen & Mannila 1995), plus group-level
# violation counts. The profiling pass a warehouse runs before
# trusting a column as a join key or a dimension hierarchy.

_FD_CANDIDATES = (
    ("part", "p_name", "p_brand"),
    ("part", "p_brand", "p_type"),
    ("part", "p_type", "p_size"),
    ("customer", "c_name", "c_nationkey"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("orders", "o_custkey", "o_orderpriority"),
)


def _fd_oracle() -> str:
    parts = []
    for t, lhs, rhs in _FD_CANDIDATES:
        parts.append(f"""
    SELECT '{t}' AS table_name, '{lhs}->{rhs}' AS fd,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_groups,
           CAST(sum(rows - top_rhs) AS BIGINT) AS g3_rows
    FROM (
      SELECT {lhs},
             CAST(count(*) AS BIGINT) AS n_rhs,
             CAST(sum(c) AS BIGINT) AS rows,
             CAST(max(c) AS BIGINT) AS top_rhs
      FROM (SELECT {lhs}, {rhs}, CAST(count(*) AS BIGINT) AS c
            FROM {t} GROUP BY 1, 2) g
      GROUP BY 1) a""")
    return ("SELECT * FROM (" + " UNION ALL ".join(parts)
            + ") u ORDER BY table_name, fd")


@query(
    "functional_dependency_audit",
    oracle=_fd_oracle(),
    doc="approximate functional-dependency audit over a fixed "
        "candidate set (6 FDs on part/customer/orders): per FD the "
        "group count, the groups where the determinant maps to more "
        "than one dependent value, and the exact g3 error — the "
        "minimum row deletions for the FD to hold, computed as "
        "sum over groups of (rows - plurality count). Two stacked "
        "map-side-combinable groupBys per FD ((X, Y) counts, then "
        "per-X extrema), so the shuffle carries (X, Y) pairs then X "
        "groups — never rows; each candidate runs its own column-"
        "pruned scan of its table (deliberately NOT a shared "
        "persisted scan: caching a corpus-scale fact table to save "
        "pruned re-scans is a bad trade at 100 TB, and candidates "
        "are embarrassingly parallel). The data-profiling pass "
        "(Kivinen-Mannila g3, the "
        "measure Metanome-style FD discovery ranks by) that decides "
        "whether a column is safe as a hierarchy level or join key "
        "before a 100 TB backfill bakes the assumption in",
    exchanges=18,
)
def functional_dependency_audit(spark, sf_dir):
    outs = []
    for t, lhs, rhs in _FD_CANDIDATES:
        pairs = (table(spark, sf_dir, t).groupBy(lhs, rhs)
                 .agg(F.count(F.lit(1)).cast("long").alias("c")))
        per_x = (pairs.groupBy(lhs)
                 .agg(F.count(F.lit(1)).cast("long").alias("n_rhs"),
                      F.sum("c").cast("long").alias("rows"),
                      F.max("c").cast("long").alias("top_rhs")))
        outs.append(per_x.agg(
            F.lit(t).alias("table_name"),
            F.lit(f"{lhs}->{rhs}").alias("fd"),
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum((F.col("n_rhs") > 1).cast("bigint")).cast("long")
            .alias("n_violating_groups"),
            F.sum(F.col("rows") - F.col("top_rhs")).cast("long")
            .alias("g3_rows")))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.orderBy("table_name", "fd")


# ---------------------------------------------------------------------------
# Join-cardinality profile: predict the size and skew of orders |><|
# lineitem from KEY-GRAIN statistics, without materializing the join.
# sum over matched keys of n_a * n_b IS the exact output cardinality
# of an equi-join — the number a planner needs before committing a
# 100 TB shuffle, and the skew test that decides salted-vs-plain.

@query(
    "join_cardinality_profile",
    oracle="""
    WITH a AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS na
               FROM orders GROUP BY 1),
    b AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS nb
          FROM lineitem GROUP BY 1),
    m AS (SELECT a.k, na, nb, na * nb AS contrib
          FROM a JOIN b ON a.k = b.k)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_keys_left,
           (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_keys_right,
           CAST(count(*) AS BIGINT) AS n_matched_keys,
           CAST(sum(contrib) AS BIGINT) AS join_rows,
           CAST(max(contrib) AS BIGINT) AS top_key_rows,
           CAST(min(k) FILTER (WHERE contrib =
                (SELECT max(contrib) FROM m)) AS BIGINT) AS top_key
    FROM m
    """,
    doc="join-cardinality profile from key-grain statistics: per-key "
        "counts on each side of orders |><| lineitem, joined at KEY "
        "grain — sum(n_a * n_b) over matched keys is the EXACT "
        "equi-join output cardinality, max(n_a * n_b) its hottest "
        "key (ties to the lowest key) — all without materializing a "
        "single joined row. Two map-side-combinable groupBys plus a "
        "key-grain join: the profiling pass that costs one shuffle "
        "of keys and decides plain-vs-salted-vs-broadcast before a "
        "100 TB join commits to the wrong strategy (the repo's "
        "skew_salted_join is the mitigation this profile triggers)",
    scoped=True,
    exchanges=5,
)
def _jcp_plan(spark, sf_dir, cache=lazy_cache):
    # a, b, m each feed two output branches: route the KEY-GRAIN
    # relations through the scoped cache so each fact table is
    # scanned and aggregated once, not once per branch
    # (review-measured: 6 scans / 9 exchanges without these
    # persists); run_scoped materializes the 1-row result and
    # releases every cache (ADVICE r8 #3); as a scoped builder its
    # pre-checkpoint shape is what the BNLJ runtime harvest verifies.
    a = cache(table(spark, sf_dir, "orders").groupBy(
            F.col("o_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("na")))
    b = cache(table(spark, sf_dir, "lineitem").groupBy(
            F.col("l_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("nb")))
    m = cache(a.join(b, "k")
              .select("k", (F.col("na") * F.col("nb"))
                      .alias("contrib")))
    na_tot = a.agg(F.count(F.lit(1)).cast("long")
                   .alias("n_keys_left"))
    nb_tot = b.agg(F.count(F.lit(1)).cast("long")
                   .alias("n_keys_right"))
    prof = m.agg(
        F.count(F.lit(1)).cast("long").alias("n_matched_keys"),
        F.sum("contrib").cast("long").alias("join_rows"),
        F.max("contrib").cast("long").alias("top_key_rows"))
    # lowest key among max-contrib ties: (contrib DESC, k ASC) top-1
    top = (m.orderBy(F.desc("contrib"), "k").limit(1)
           .select(F.col("k").cast("long").alias("top_key")))
    return (prof
            .join(F.broadcast(na_tot)).join(F.broadcast(nb_tot))
            .join(F.broadcast(top))
            .select("n_keys_left", "n_keys_right",
                    "n_matched_keys", "join_rows", "top_key_rows",
                    "top_key"))


# ---------------------------------------------------------------------------
# Max concurrent sessions: the sweep-line over session intervals —
# +1 at each session start, -1 at each end (closed intervals: at an
# equal timestamp starts apply first), global running sum, take the
# peak. The running sum is computed TWO-PHASE (per-day prefix + day-
# grain carry, the roc_auc_exact / quantile_normalization pattern)
# so no corpus-scale single-partition window exists; the oracle uses
# the naive global window, which states the identical semantics.

@query(
    "max_concurrent_sessions",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sess AS (
      SELECT user_id,
             CAST(sum(new_session) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS session_no,
             ts
      FROM gaps),
    iv AS (SELECT user_id, session_no,
                  min(ts) AS s, max(ts) AS e
           FROM sess GROUP BY 1, 2),
    bnd AS (
      SELECT s AS ts, CAST(1 AS BIGINT) AS delta, user_id, session_no
      FROM iv
      UNION ALL
      SELECT e AS ts, CAST(-1 AS BIGINT) AS delta, user_id, session_no
      FROM iv),
    run AS (
      SELECT ts, delta,
             CAST(sum(delta) OVER (
               ORDER BY ts, delta DESC, user_id, session_no
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS r
      FROM bnd)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM iv) AS n_sessions,
           CAST(max(r) AS BIGINT) AS max_concurrent,
           min(ts) FILTER (WHERE r = (SELECT max(r) FROM run))
               AS first_peak_ts
    FROM run
    """,
    doc="maximum concurrent sessions by sweep line: 30-min-gap "
        "sessionization (the sessionize_events rule), then +1/-1 "
        "boundaries per session interval (closed: starts order before "
        "ends at an equal timestamp, then user/session ids — a total "
        "order, so the peak and its first timestamp can never flip), "
        "running-summed and maxed. The engine computes the running "
        "sum two-phase — per-day within-partition prefix plus a "
        "day-grain carry relation (bounded by the calendar range) — "
        "so the only global window runs over DAYS, never boundaries: "
        "the roc_auc_exact pattern, because a naive global ORDER BY "
        "over session boundaries is a single-task window at 100 TB. "
        "The oracle states the same semantics with the naive window",
    scoped=True,
    exchanges=8,
)
def _mcs_plan(spark, sf_dir, cache=lazy_cache):
    # a scoped builder, so the runtime allowlist harvest verifies the
    # pre-checkpoint shape (BNLJ build sides, day-grain carry window)
    ev = table(spark, sf_dir, "events").select("user_id", "ts",
                                               "event_id")
    uw = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # gap compared in exact epoch microseconds on both engines
    u = F.unix_micros("ts")
    new_s = (F.when(u - F.lag(u).over(uw) > 1800 * 1_000_000, 1)
             .when(F.lag(u).over(uw).isNull(), 1).otherwise(0))
    sess = ev.select(
        "user_id", "ts",
        F.sum(new_s).over(uw).cast("long").alias("session_no"))
    # iv feeds both boundary branches and the session count; run
    # feeds the peak and its first timestamp — cache both (session/
    # boundary-grain) or every branch re-derives the per-user
    # sessionization from the raw scan (review-measured: 13 events
    # scans without these persists)
    iv = cache(sess.groupBy("user_id", "session_no")
               .agg(F.min("ts").alias("s"), F.max("ts").alias("e")))
    bnd = (iv.select(F.col("s").alias("ts"),
                     F.lit(1).cast("long").alias("delta"),
                     "user_id", "session_no")
           .unionAll(iv.select(F.col("e").alias("ts"),
                               F.lit(-1).cast("long").alias("delta"),
                               "user_id", "session_no")))
    # two-phase global prefix sum: within-day prefix + day carry
    bnd = bnd.withColumn("day", F.expr("unix_micros(ts) DIV 86400000000"))
    dw = Window.partitionBy("day").orderBy(
        "ts", F.desc("delta"), "user_id", "session_no")
    within = bnd.withColumn("p", F.sum("delta").over(dw))
    days = (bnd.groupBy("day")
            .agg(F.sum("delta").alias("dsum")))
    # global window over DAYS only (calendar-bounded relation)
    dayw = Window.orderBy("day")
    carry = days.select(
        "day",
        (F.sum("dsum").over(dayw) - F.col("dsum")).alias("carry"))
    run = cache(within.join(F.broadcast(carry), "day")
                .select("ts", (F.col("carry") + F.col("p"))
                        .alias("r")))
    n_sessions = iv.agg(F.count(F.lit(1)).cast("long")
                        .alias("n_sessions"))
    peak = run.agg(F.max("r").cast("long").alias("max_concurrent"))
    first = (run.join(F.broadcast(peak),
                      run["r"] == peak["max_concurrent"])
             .agg(F.min("ts").alias("first_peak_ts")))
    # run_scoped materializes the 1-row result eagerly so both caches
    # release instead of leaking across registry sweeps (ADVICE r8 #3)
    return (n_sessions.join(F.broadcast(peak))
            .join(F.broadcast(first))
            .select("n_sessions", "max_concurrent", "first_peak_ts"))
