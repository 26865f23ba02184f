"""Source/sink format coverage beyond parquet+CSV: ORC and JSON-lines
round-trips, and a partition-pruned parquet layout — each as a query
whose oracle runs on the ORIGINAL table, so the driver's hash equality
IS the proof that the format round-trip lost nothing (values, nulls,
timestamps) and that the re-read plan computes the same answer.

Each staged query is a @query(scoped=True) builder: it writes its sink
under ``cache.stage(prefix)`` and returns the lazy re-read, so the plan
audits see the real re-read plan. run_scoped materializes the (small)
aggregated result with an eager localCheckpoint and then deletes the
staging — the sink never outlives the call and repeated runs of the
query are hermetic.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..sources.parquet_source import table
from . import query


@query(
    "orc_roundtrip_revenue",
    oracle="""
    SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem
    WHERE l_quantity < 25
    GROUP BY 1 ORDER BY 1
    """,
    doc="ORC sink + source round-trip, proven lossless by the oracle "
        "running on the ORIGINAL parquet: a lineitem projection is "
        "written as ORC (snappy), re-read, and aggregated to per-year "
        "integer-cent revenue — any value/timestamp corruption in "
        "either direction flips the hash. The quantity filter is "
        "applied on the RE-READ side, so ORC predicate pushdown is on "
        "the tested path (plan-asserted in tests/test_format_ops.py)",
    scoped=True,
    exchanges=2,
)
def orc_roundtrip_revenue(spark, sf_dir, cache):
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
        "l_shipdate")
    path = os.path.join(cache.stage("bdt_orc_"), "lineitem_orc")
    li.write.option("compression", "snappy").orc(path)
    return (spark.read.orc(path).filter(F.col("l_quantity") < 25)
            .groupBy(F.year("l_shipdate").cast("bigint").alias("ship_year"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_items"),
                 F.sum(F.round(F.col("l_extendedprice")
                               * (1 - F.col("l_discount")) * 100)
                       .cast("bigint")).cast("long")
                 .alias("revenue_cents"))
            .orderBy("ship_year"))


@query(
    "jsonl_roundtrip_events",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(min(epoch_us(ts)) AS BIGINT) AS first_us,
           CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
    FROM events GROUP BY 1 ORDER BY 1
    """,
    doc="JSON-lines sink + source round-trip, proven lossless by the "
        "oracle running on the ORIGINAL parquet: events are written "
        "as JSONL and re-read under an explicit schema (a production "
        "ingest never infers), then aggregated per type — counts, "
        "distinct users, integer-cent sums, and microsecond min/max "
        "timestamps, so double shortest-round-trip serialization AND "
        "sub-second timestamp fidelity are both on the hash. "
        "Timestamps travel as ISO-8601 with microseconds "
        "(timestampFormat pinned on both write and read)",
    scoped=True,
    exchanges=3,
)
def jsonl_roundtrip_events(spark, sf_dir, cache):
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value")
    path = os.path.join(cache.stage("bdt_jsonl_"), "events_jsonl")
    ev.write.option("timestampFormat", fmt).json(path)
    back = spark.read.schema(
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double").option(
        "timestampFormat", fmt).json(path)
    return (back.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.countDistinct("user_id").cast("long").alias("n_users"),
                 F.sum(F.round(F.col("value") * 100).cast("bigint"))
                 .cast("long").alias("sum_cents"),
                 F.min(F.unix_micros("ts")).cast("long")
                 .alias("first_us"),
                 F.max(F.unix_micros("ts")).cast("long")
                 .alias("last_us"))
            .orderBy("event_type"))


@query(
    "partitioned_pruned_event_scan",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY 1
    """,
    doc="hive-partitioned parquet layout + partition pruning: events "
        "re-written partitionBy(event_type), re-read with an "
        "event_type predicate that must prune to ONE directory "
        "(PartitionFilters, plan-asserted in tests/test_format_ops.py "
        "— at 100 TB pruning is the difference between scanning one "
        "partition and the whole corpus), then rolled up per day with "
        "integer-cent sums; the oracle filters the original unsplit "
        "table, so the partitioned re-write provably preserved every "
        "row and value",
    scoped=True,
    exchanges=2,
)
def partitioned_pruned_event_scan(spark, sf_dir, cache):
    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value")
    path = os.path.join(cache.stage("bdt_part_"), "events_by_type")
    ev.write.partitionBy("event_type").parquet(path)
    return pruned_purchase_rollup(spark, path)


def pruned_purchase_rollup(spark, path: str):
    """The pruned re-read, exposed unmaterialized so the plan test can
    assert PartitionFilters on the exact DataFrame the query runs."""
    back = spark.read.parquet(path)
    return (back.filter(F.col("event_type") == "purchase")
            .groupBy(F.date_trunc("day", "ts").alias("day"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_purchases"),
                 F.sum(F.round(F.col("value") * 100).cast("bigint"))
                 .cast("long").alias("sum_cents"))
            .orderBy("day"))


# Time-range pruning at the LAYOUT level (VERDICT r8 ask #7): the
# hive-partitioned query above proves directory pruning; this one
# proves the finer-grained claim SURVEY §1.4 makes for sorted data —
# a repartitionByRange+sortWithinPartitions layout (sinks.write_
# clustered, the OPTIMIZE ZORDER step as plain Spark) gives every
# file/row group a narrow ts min-max footer, so a time BETWEEN
# predicate skips row groups instead of scanning the corpus (the
# analog of Dask's sorted divisions). tests/test_format_ops.py
# quantifies it: on the range layout only ~2/16 row groups intersect
# the window (pyarrow footer stats) while an unsorted copy of the
# SAME rows intersects in every row group, and PushedFilters carries
# the ts bounds to the scan.

_RPT_LO, _RPT_HI = "2024-01-10 00:00:00", "2024-01-13 00:00:00"


@query(
    "range_pruned_time_scan",
    oracle=f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(min(epoch_us(ts)) AS BIGINT) AS first_us,
           CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
    FROM events
    WHERE ts >= TIMESTAMP '{_RPT_LO}' AND ts < TIMESTAMP '{_RPT_HI}'
    GROUP BY 1 ORDER BY 1
    """,
    doc="time-range scan over a range-clustered parquet layout: "
        "events re-written via repartitionByRange(ts)+"
        "sortWithinPartitions(ts) (sinks.write_clustered), re-read "
        f"with ts in [{_RPT_LO}, {_RPT_HI}) — a 3-of-30-day window — "
        "and rolled up per type with integer-cent sums and exact "
        "microsecond min/max (so the hash proves the pruned read "
        "returned exactly the window's rows). The oracle filters the "
        "ORIGINAL unsorted table. On the clustered layout each file's "
        "footer min/max covers a narrow ts range, so the pushed "
        "BETWEEN skips all but ~window/range of the row groups "
        "(quantified against an unsorted twin in "
        "tests/test_format_ops.py) — at 100 TB the difference between "
        "reading ~3 days and scanning a month",
    scoped=True,
    exchanges=2,
)
def range_pruned_time_scan(spark, sf_dir, cache):
    from ..sources.sinks import write_clustered

    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value")
    path = os.path.join(cache.stage("bdt_rangep_"), "events_by_time")
    write_clustered(ev, path, "ts", n_files=16)
    return range_pruned_rollup(spark, path)


def range_pruned_rollup(spark, path: str):
    """The pruned re-read, exposed unmaterialized so the plan test can
    assert PushedFilters(ts bounds) on the exact DataFrame the query
    runs (the pruned_purchase_rollup convention)."""
    back = spark.read.parquet(path)
    return (back.filter((F.col("ts") >= _RPT_LO)
                        & (F.col("ts") < _RPT_HI))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.sum(F.round(F.col("value") * 100).cast("bigint"))
                 .cast("long").alias("sum_cents"),
                 F.min(F.unix_micros("ts")).cast("long")
                 .alias("first_us"),
                 F.max(F.unix_micros("ts")).cast("long")
                 .alias("last_us"))
            .orderBy("event_type"))


# Two-dimensional layout pruning: range_pruned_time_scan proves the
# 1-D sorted-divisions claim; this extends it to the multi-dimension
# case a 100 TB lake actually faces — queries arrive on time AND on
# entity, and a layout sorted on one axis prunes nothing on the
# other. sinks.write_zordered rescales each dim to a full 8-bit
# bucket domain and sorts by the Morton interleave, so every file's
# footer min/max is narrow on BOTH raw columns at once;
# tests/test_format_ops.py quantifies the file-count matrix
# (time-pred / user-pred / both) against a time-sorted twin. The
# sibling query zorder_locality (training_ops.py) pins the Morton
# key's locality MATH cross-engine; this one drives the key through
# the physical write -> footer-stats -> pruned-read path end to end.

_ZP_LO, _ZP_HI = "2024-01-08 00:00:00", "2024-01-11 00:00:00"
_ZP_USER_MAX = 8  # user_id < 8 exists at every sf (ids are 0..15k*sf)


@query(
    "zorder_pruned_scan",
    oracle=f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(min(epoch_us(ts)) AS BIGINT) AS first_us,
           CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
    FROM events
    WHERE ts >= TIMESTAMP '{_ZP_LO}' AND ts < TIMESTAMP '{_ZP_HI}'
      AND user_id < {_ZP_USER_MAX}
    GROUP BY 1 ORDER BY 1
    """,
    doc="two-dimensional Z-order layout scan: events re-written via "
        "sinks.write_zordered((ts, user_id)) — each dim rescaled to a "
        "full 8-bit bucket domain from its exact min/max, rows sorted "
        "by the Morton bit-interleave, helper column dropped before "
        "the write — then re-read with a predicate on BOTH dims (a "
        f"3-of-30-day window AND user_id < {_ZP_USER_MAX}) and rolled "
        "up per type with integer cents, a distinct-user count, and "
        "exact microsecond min/max (the hash proves the pruned read "
        "returned exactly the box's rows). The oracle filters the "
        "ORIGINAL table. On the Z layout every file's footer min/max "
        "is narrow on ts AND user_id simultaneously, so the pushed "
        "conjunction skips files on either axis — the time-sorted "
        "layout prunes nothing for a user-only predicate "
        "(quantified as a file-count matrix in "
        "tests/test_format_ops.py). At 100 TB this is the difference "
        "between one layout serving every query axis and one rewrite "
        "per axis",
    scoped=True,
    exchanges=3,
)
def zorder_pruned_scan(spark, sf_dir, cache):
    from ..sources.sinks import write_zordered

    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value")
    path = os.path.join(cache.stage("bdt_zord_"), "events_z")
    write_zordered(ev, path, ["ts", "user_id"], n_files=16)
    return zorder_pruned_rollup(spark, path)


def zorder_pruned_rollup(spark, path: str):
    """The pruned 2-D re-read, exposed unmaterialized so the plan test
    can assert both predicates reach the scan as PushedFilters (the
    pruned_purchase_rollup convention)."""
    back = spark.read.parquet(path)
    return (back.filter((F.col("ts") >= _ZP_LO)
                        & (F.col("ts") < _ZP_HI)
                        & (F.col("user_id") < _ZP_USER_MAX))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.countDistinct("user_id").cast("long")
                 .alias("n_users"),
                 F.sum(F.round(F.col("value") * 100).cast("bigint"))
                 .cast("long").alias("sum_cents"),
                 F.min(F.unix_micros("ts")).cast("long")
                 .alias("first_us"),
                 F.max(F.unix_micros("ts")).cast("long")
                 .alias("last_us"))
            .orderBy("event_type"))


@query(
    "schema_evolution_union_scan",
    oracle="""
    WITH tagged AS (
      SELECT event_type, value,
             CASE WHEN event_id % 2 = 1 THEN value >= 50.0 END
                 AS quality_flag
      FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(quality_flag) AS BIGINT) AS n_flagged_schema,
           CAST(sum(CASE WHEN quality_flag THEN 1 ELSE 0 END)
                AS BIGINT) AS n_quality,
           CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM tagged GROUP BY 1 ORDER BY 1
    """,
    doc="schema evolution under mergeSchema: the events table is "
        "staged as TWO parquet generations — an old one without and a "
        "new one WITH a quality_flag column (deterministic split on "
        "event_id parity; flag = value >= 50) — then read back as one "
        "relation with mergeSchema=true, where old-generation rows "
        "surface the evolved column as NULL. The rollup separates "
        "count(*) from count(quality_flag), so the hash proves BOTH "
        "that no row was lost across generations AND that NULL "
        "back-fill landed exactly on the old generation. This is the "
        "schema-drift contract a 100 TB lake lives by: readers span "
        "file generations without rewrites, and the footer-merge cost "
        "is per-FILE metadata, never a data scan",
    scoped=True,
    exchanges=2,
)
def schema_evolution_union_scan(spark, sf_dir, cache):
    ev = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    path = os.path.join(cache.stage("bdt_evo_"), "events_evolved")
    (ev.filter(F.col("event_id") % 2 == 0)
     .write.parquet(path))  # old generation: no quality_flag
    (ev.filter(F.col("event_id") % 2 == 1)
     .withColumn("quality_flag", F.col("value") >= 50.0)
     .write.mode("append").parquet(path))  # evolved generation
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return (back.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.count("quality_flag").cast("long")
                 .alias("n_flagged_schema"),
                 # coalesce: a group whose rows are ALL old
                 # generation sums NULL, but the oracle emits 0
                 F.coalesce(F.sum(F.col("quality_flag").cast("bigint")),
                            F.lit(0))
                 .cast("long").alias("n_quality"),
                 F.sum(F.round(F.col("value") * 100).cast("bigint"))
                 .cast("long").alias("sum_cents"))
            .orderBy("event_type"))


@query(
    "csv_quarantine_scan",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN event_id % 13 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_quarantined,
           CAST(sum(CASE WHEN event_id % 13 <> 0
                    THEN CAST(ROUND(value * 100) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS clean_cents
    FROM events GROUP BY 1 ORDER BY 1
    """,
    doc="malformed-record quarantine on CSV ingest: the events table "
        "is serialized to CSV with a deterministic corruption (every "
        "event_id %% 13 == 0 row gets a non-numeric value field) and "
        "re-read under PERMISSIVE mode with "
        "columnNameOfCorruptRecord — Spark parses what it can, nulls "
        "the bad field, and preserves the raw line in the quarantine "
        "column instead of dropping or failing the row (badRecordsPath "
        "semantics without a side channel). The rollup counts "
        "quarantined rows and sums cents over clean ones; the oracle "
        "recomputes both from the corruption rule, so the hash proves "
        "the quarantine caught EXACTLY the corrupted subset — no "
        "silent coercion, no lost rows. At 100 TB this is the ingest "
        "contract: one malformed line must never kill a batch, and "
        "every malformed line must stay auditable",
    scoped=True,
    exchanges=2,
)
def csv_quarantine_scan(spark, sf_dir, cache):
    ev = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    line = F.concat_ws(
        ",",
        F.col("event_id").cast("string"),
        F.col("event_type"),
        F.when(F.col("event_id") % 13 == 0, F.lit("NOT_A_NUMBER"))
         # shortest-round-trip double serialization: the re-read value
         # is bit-identical to the original, so the cents sum can
         # never drift on a formatting boundary
         .otherwise(F.col("value").cast("string")))
    path = os.path.join(cache.stage("bdt_csvq_"), "events_csv")
    ev.select(line.alias("value")).write.text(path)
    back = (spark.read
            .schema("event_id long, event_type string, "
                    "value double, _corrupt string")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .csv(path))
    return (back.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.sum(F.col("_corrupt").isNotNull().cast("bigint"))
                 .cast("long").alias("n_quarantined"),
                 F.sum(F.when(F.col("_corrupt").isNull(),
                              F.round(F.col("value") * 100)
                              .cast("bigint")).otherwise(0))
                 .cast("long").alias("clean_cents"))
            .orderBy("event_type"))


@query(
    "compacted_scan_equivalence",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(min(event_id) AS BIGINT) AS first_id,
           CAST(max(event_id) AS BIGINT) AS last_id,
           CAST(min(epoch_us(ts)) AS BIGINT) AS first_us,
           CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
    doc="small-files compaction proven lossless under the driver "
        "gate: events are deliberately fragmented into 64 tiny "
        "parquet files (the streaming-sink/over-parallel-writer "
        "pathology), rewritten by sinks.compact_files into "
        "evenly-sized shards (one metadata-cheap count + one "
        "round-robin repartition — the cost of reading the data "
        "once), and the COMPACTED copy is aggregated per type with "
        "integer cents, id and microsecond extrema; the oracle runs "
        "on the ORIGINAL table, so any row lost, duplicated, or "
        "value-drifted by either rewrite flips the hash. File-count "
        "mechanics (64 fragments -> ceil(n/target) shards) are "
        "pinned by tests/test_sources_streaming.py and re-asserted "
        "here; at 100 TB this operator is the difference between a "
        "namenode melting under KB-files and uniform shard-sized "
        "scans",
    scoped=True,
    exchanges=2,
)
def compacted_scan_equivalence(spark, sf_dir, cache):
    from ..sources.sinks import compact_files

    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value")
    root = cache.stage("bdt_compact_")
    frag = os.path.join(root, "fragmented")
    comp = os.path.join(root, "compacted")
    ev.repartition(64).write.parquet(frag)
    n_rows = spark.read.parquet(frag).count()
    n_files = compact_files(spark, frag, comp,
                            target_rows_per_file=max(1, n_rows // 4))
    assert n_files < 64, n_files  # compaction must compact
    return (spark.read.parquet(comp).groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.sum(F.round(F.col("value") * 100)
                       .cast("bigint")).cast("long")
                 .alias("sum_cents"),
                 F.min("event_id").cast("long").alias("first_id"),
                 F.max("event_id").cast("long").alias("last_id"),
                 F.min(F.unix_micros("ts")).cast("long")
                 .alias("first_us"),
                 F.max(F.unix_micros("ts")).cast("long")
                 .alias("last_us"))
            .orderBy("event_type"))


@query(
    "dataset_content_fingerprint",
    oracle="""
    WITH canon AS (
      SELECT CAST(('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || '|' ||
               CAST(o_custkey AS VARCHAR) || '|' ||
               CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                    AS VARCHAR) || '|' ||
               CAST(epoch_us(o_orderdate) AS VARCHAR) || '|' ||
               o_orderpriority), 1, 15)) AS BIGINT) AS h
      FROM orders)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(h) % 4611686018427387904 AS BIGINT)
               AS content_fp,
           CAST(min(h) AS BIGINT) AS min_h,
           CAST(max(h) AS BIGINT) AS max_h
    FROM canon
    """,
    doc="order-insensitive dataset content fingerprint — Merkle-style "
        "dataset versioning without a sort: every row canonicalizes "
        "to a '|'-joined string of exactly-typed fields (integer "
        "cents, epoch-micros — the engine's cross-engine casting "
        "conventions), hashes to the shared 60-bit md5 image, and the "
        "dataset fingerprint is sum(h) mod 2^62 plus count and h "
        "extrema. Sum is commutative/associative, so the fingerprint "
        "is invariant under partitioning, file order, and row order — "
        "two 100 TB snapshots compare by exchanging four BIGINTs, no "
        "shuffle and no sort anywhere (the map-side-combinable "
        "aggregate is the whole plan); any row edit, loss, or "
        "duplication moves the sum. The drift companion to "
        "snapshot_diff (which diffs WHICH rows changed; this detects "
        "THAT something changed at minimum cost)",
    # one map-side-combinable global agg: the scan's partial rows
    # + the 1-row final — no other exchange may ever appear (the
    # whole point of the sort-free fingerprint)
    exchanges=1,
)
def dataset_content_fingerprint(spark, sf_dir):
    od = table(spark, sf_dir, "orders")
    # F.concat, NOT concat_ws: the oracle's '||' yields NULL on a NULL
    # canon field (row excluded from the hash sum on both engines);
    # concat_ws silently skips NULL fields and would fingerprint a
    # different string (the ADVICE r12 #3 class, fixed here too)
    canon = F.concat(
        F.col("o_orderkey").cast("long").cast("string"), F.lit("|"),
        F.col("o_custkey").cast("long").cast("string"), F.lit("|"),
        F.round(F.col("o_totalprice") * 100).cast("bigint")
        .cast("string"), F.lit("|"),
        F.unix_micros("o_orderdate").cast("string"), F.lit("|"),
        F.col("o_orderpriority"))
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
    return (od.select(h.alias("h"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 (F.sum(F.col("h").cast("decimal(38,0)"))
                  % F.lit(4611686018427387904).cast("decimal(38,0)"))
                 .cast("long").alias("content_fp"),
                 F.min("h").cast("long").alias("min_h"),
                 F.max("h").cast("long").alias("max_h")))


@query(
    "bucketed_copartitioned_join",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
           CAST(sum(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY 1 ORDER BY 1
    """,
    doc="bucketed co-located join under the driver gate: orders and a "
        "lineitem projection are written ONCE as external parquet "
        "tables bucketed by the join key (sources/bucketed.py — the "
        "shuffle paid at write time), read back through the catalog, "
        "and sort-merge-joined with ZERO exchanges on either side "
        "(broadcast disabled for the join so the co-located plan is "
        "the tested path at every sf; conf restored in finally, the "
        "hits precedent). The per-priority rollup on top hash-matches "
        "the oracle running the plain join on the ORIGINAL tables, so "
        "the bucketing layout is proven value-lossless, and the "
        "exchange-free join property is pinned by "
        "tests/test_bucketed.py plus the round-10 plan test. At "
        "100 TB this is the fact-to-fact join strategy when neither "
        "side broadcasts: bucket both ONCE, join forever without "
        "moving either",
)
def bucketed_copartitioned_join(spark, sf_dir):
    from ..sources.bucketed import bucketed_pair_tables

    od = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice")
    # shared setup with the plan test (ADVICE r10 #4): the layout the
    # exchange-free assertion audits IS the layout this query runs
    with bucketed_pair_tables(spark, od, li, ["o_orderkey"],
                              n_buckets=8) as (t_od, t_li):
        return (_bucketed_rollup(spark, t_od, t_li)
                .localCheckpoint(eager=True))


def _bucketed_rollup(spark, t_od: str, t_li: str):
    """The rollup over the catalog-read bucketed tables, exposed
    unmaterialized so the plan test can assert the join consumes the
    bucket layout with zero exchanges of its own (the
    zorder_pruned_rollup convention)."""
    od = spark.table(t_od)
    li = spark.table(t_li)
    return (od.join(li, "o_orderkey")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("long").alias("n_lines"),
                 F.countDistinct("o_orderkey").cast("long")
                 .alias("n_orders"),
                 F.sum(F.round(F.col("l_extendedprice") * 100)
                       .cast("bigint")).cast("long")
                 .alias("price_cents"))
            .orderBy("o_orderpriority"))


# ---------------------------------------------------------------------------
# Scan-cost pre-flight: the I/O member of the blow-up-audit trilogy
# (r10 edit1 = shuffle expansion, r11 ngram = join cardinality, this
# = files/rows a predicate will touch), VERDICT r10's pre-flight
# discipline applied to the scan layer.

_SPA_LO, _SPA_HI = "2024-01-10 00:00:00", "2024-01-19 00:00:00"
_SPA_DAYS_PER_BUCKET = 3
_SPA_US_PER_DAY = 86_400_000_000


def _spa_bucket_bounds() -> tuple[int, int]:
    """Bucket ids the window predicate touches, from the RULE alone
    (bucket = epoch_day DIV days_per_bucket) — no data read. HI is
    exclusive, so the last contributing INSTANT is HI - 1 microsecond
    (the timestamp grain), and its date is the last contributing day —
    correct whether or not the constant sits on midnight (ADVICE r11
    #3: the old HI.date()-1day form silently under-predicted by one
    bucket for any non-midnight exclusive bound)."""
    import datetime as _dt

    epoch = _dt.date(1970, 1, 1).toordinal()
    lo_day = _dt.datetime.fromisoformat(_SPA_LO).date().toordinal() - epoch
    hi_last = (_dt.datetime.fromisoformat(_SPA_HI)
               - _dt.timedelta(microseconds=1))
    hi_day = hi_last.date().toordinal() - epoch
    return (lo_day // _SPA_DAYS_PER_BUCKET,
            hi_day // _SPA_DAYS_PER_BUCKET)


@query(
    "scan_pruning_preflight",
    oracle=f"""
    WITH b AS (
      SELECT epoch_us(ts) // {_SPA_US_PER_DAY}
               // {_SPA_DAYS_PER_BUCKET} AS bucket, ts, value
      FROM events),
    tot AS (SELECT CAST(count(DISTINCT bucket) AS BIGINT)
                     AS n_buckets_total
            FROM b),
    pr AS (SELECT CAST(count(DISTINCT bucket) AS BIGINT)
                    AS n_buckets_read,
                  CAST(count(DISTINCT bucket) AS BIGINT)
                    AS n_files_read,
                  CAST(count(*) AS BIGINT) AS n_rows_partitions
           FROM b
           WHERE bucket BETWEEN {_spa_bucket_bounds()[0]}
                            AND {_spa_bucket_bounds()[1]}),
    w AS (SELECT CAST(count(*) AS BIGINT) AS n_rows_window,
                 CAST(sum(CAST(ROUND(value * 100) AS BIGINT))
                      AS BIGINT) AS cents_window
          FROM b
          WHERE ts >= TIMESTAMP '{_SPA_LO}'
            AND ts <  TIMESTAMP '{_SPA_HI}')
    SELECT * FROM tot, pr, w
    """,
    doc=f"scan-cost pre-flight over an explicit-rule partitioned "
        f"layout: events are written hive-partitioned by bucket = "
        f"epoch_day DIV {_SPA_DAYS_PER_BUCKET} (one file per bucket "
        "by construction: repartition(bucket) before the write), and "
        f"the [{_SPA_LO}, {_SPA_HI}) window's touched bucket ids are "
        "computed from the RULE alone — closed form, zero I/O — "
        "before the scan runs. The audit row then records what the "
        "partition-pruned scan ACTUALLY touched (countDistinct of "
        "input_file_name and of the partition column, plus rows under "
        "the partition filter and under the full predicate), while "
        "the DuckDB oracle derives the same numbers from the bucket "
        "rule over the ORIGINAL table — so the driver's hash equality "
        "is the statement 'partition pruning confined this predicate "
        "to exactly the predicted file set, which contained exactly "
        "the predicted rows'. The plan test additionally pins the "
        "bucket bounds into the scan's PartitionFilters. At 100 TB "
        "this is the planner's admission check: predicted files x "
        "file size is the scan's cost BEFORE any executor spins up, "
        "and a layout drift (files per bucket != 1, buckets outside "
        "the rule) breaks the hash loudly. "
        "ref main.py:329-347 re-slices its date window per query; "
        "this is that capability restated as a provable layout "
        "contract",
    scoped=True,
    exchanges=5,
)
def scan_pruning_preflight(spark, sf_dir, cache):
    ev = table(spark, sf_dir, "events").select("ts", "value").withColumn(
        "bucket", F.expr(f"(unix_micros(ts) div {_SPA_US_PER_DAY}) "
                         f"div {_SPA_DAYS_PER_BUCKET}"))
    path = os.path.join(cache.stage("bdt_spa_"), "events_by_bucket")
    ev.repartition("bucket").write.partitionBy("bucket").parquet(path)
    return scan_preflight_audit(spark, path)


def scan_preflight_audit(spark, path: str):
    """The audit over the partitioned layout, exposed unmaterialized
    so the plan test can assert the bucket bounds land in the scan's
    PartitionFilters (the range_pruned_rollup convention)."""
    blo, bhi = _spa_bucket_bounds()
    back = spark.read.parquet(path)
    pruned = back.filter((F.col("bucket") >= blo)
                         & (F.col("bucket") <= bhi))
    tot = back.agg(F.countDistinct("bucket").cast("long")
                   .alias("n_buckets_total"))
    # input_file_name() is nondeterministic, so project it to a
    # column before aggregating (Spark forbids it inside agg args)
    pr = (pruned.withColumn("fname", F.input_file_name())
          .agg(F.countDistinct("bucket").cast("long")
               .alias("n_buckets_read"),
               F.countDistinct("fname").cast("long")
               .alias("n_files_read"),
               F.count(F.lit(1)).cast("long")
               .alias("n_rows_partitions")))
    w = (pruned.filter((F.col("ts") >= _SPA_LO)
                       & (F.col("ts") < _SPA_HI))
         .agg(F.count(F.lit(1)).cast("long").alias("n_rows_window"),
              F.sum(F.round(F.col("value") * 100).cast("bigint"))
              .cast("long").alias("cents_window")))
    return (pr.join(F.broadcast(tot)).join(F.broadcast(w))
            .select("n_buckets_total", "n_buckets_read",
                    "n_files_read", "n_rows_partitions",
                    "n_rows_window", "cents_window"))


# ---------------------------------------------------------------------------
# 2-D Morton pre-flight (VERDICT r11 ask #8): scan_pruning_preflight
# proves the 1-D rule-partitioned story; this completes the layout
# family's predict-then-prove contract on the Z-ORDER side — the
# touched Z-block set of a query RECTANGLE is predicted from the rule
# alone via recursive quadrant decomposition (sinks.
# morton_blocks_for_rect, zero I/O), then partition pruning is
# hash-proven to have delivered exactly the predicted file set, which
# contained exactly the rectangle's rows.

_ZMP_BITS = 4            # 16 buckets per dimension, 256 Z cells
_ZMP_BLOCK_SHIFT = 2     # file grain: z >> 2 = 2x2-cell blocks
_ZMP_DAY0 = 19723        # 2024-01-01 in days since epoch
_ZMP_DAYS_PER_BUCKET = 2
_ZMP_USER_DIV = 4
_ZMP_LO, _ZMP_HI = "2024-01-08 00:00:00", "2024-01-11 00:00:00"
_ZMP_USER_MAX = 8        # exclusive: user_id < 8
_ZMP_US_PER_DAY = 86_400_000_000


def _zmp_rect() -> tuple[int, int, int, int]:
    """The predicate rectangle in BUCKET space, from the rule alone:
    x = day bucket (inclusive time window end = HI - 1 microsecond,
    the _spa_bucket_bounds convention), y = user bucket."""
    import datetime as _dt

    epoch = _dt.date(1970, 1, 1).toordinal()
    lo_day = (_dt.datetime.fromisoformat(_ZMP_LO).date().toordinal()
              - epoch)
    hi_last = (_dt.datetime.fromisoformat(_ZMP_HI)
               - _dt.timedelta(microseconds=1))
    hi_day = hi_last.date().toordinal() - epoch
    x0 = (lo_day - _ZMP_DAY0) // _ZMP_DAYS_PER_BUCKET
    x1 = (hi_day - _ZMP_DAY0) // _ZMP_DAYS_PER_BUCKET
    y0 = 0
    y1 = (_ZMP_USER_MAX - 1) // _ZMP_USER_DIV
    return x0, x1, y0, y1


def _zmp_predicted_blocks() -> list[int]:
    from ..sources.sinks import morton_blocks_for_rect

    x0, x1, y0, y1 = _zmp_rect()
    return morton_blocks_for_rect(x0, x1, y0, y1, bits=_ZMP_BITS,
                                  block_shift=_ZMP_BLOCK_SHIFT)


def _zmp_z_sql() -> str:
    """The Morton cell code as portable integer bit arithmetic —
    dimension 0 (day bucket) at even positions, dimension 1 (user
    bucket) at odd, exactly morton_code's i*n+d rule."""
    terms = [f"(((bx >> {i}) & 1) << {2 * i})"
             for i in range(_ZMP_BITS)]
    terms += [f"(((by >> {i}) & 1) << {2 * i + 1})"
              for i in range(_ZMP_BITS)]
    return " | ".join(terms)


def _with_zq(ev):
    """The Z-block id column from the EXPLICIT rule (shared by the
    pre-flight and the incremental recluster, so they can never audit
    different layouts): day bucket x user bucket -> Morton cell ->
    cell >> block_shift."""
    from ..sources.sinks import morton_code

    nb = (1 << _ZMP_BITS) - 1
    ev = (ev
          .withColumn("bx", F.expr(
              f"least(greatest((unix_micros(ts) div {_ZMP_US_PER_DAY} "
              f"- {_ZMP_DAY0}) div {_ZMP_DAYS_PER_BUCKET}, 0), {nb})"))
          .withColumn("by", F.expr(
              f"least(user_id div {_ZMP_USER_DIV}, {nb})")))
    return (ev.withColumn("zq", F.shiftright(
                morton_code([(F.col("bx"), _ZMP_BITS),
                             (F.col("by"), _ZMP_BITS)]),
                _ZMP_BLOCK_SHIFT))
            .drop("bx", "by"))


@query(
    "zorder_morton_preflight",
    oracle=f"""
    WITH b AS (
      SELECT least(greatest((epoch_us(ts) // {_ZMP_US_PER_DAY}
                             - {_ZMP_DAY0})
                            // {_ZMP_DAYS_PER_BUCKET}, 0),
                   {(1 << _ZMP_BITS) - 1}) AS bx,
             least(user_id // {_ZMP_USER_DIV},
                   {(1 << _ZMP_BITS) - 1}) AS by,
             ts, user_id, value
      FROM events),
    z AS (SELECT ({_zmp_z_sql()}) >> {_ZMP_BLOCK_SHIFT} AS zq,
                 ts, user_id, value
          FROM b),
    tot AS (SELECT CAST(count(DISTINCT zq) AS BIGINT)
                     AS n_blocks_total FROM z),
    pr AS (SELECT CAST(count(DISTINCT zq) AS BIGINT) AS n_blocks_read,
                  CAST(count(DISTINCT zq) AS BIGINT) AS n_files_read,
                  CAST(count(*) AS BIGINT) AS n_rows_blocks
           FROM z
           WHERE zq IN ({', '.join(map(str, _zmp_predicted_blocks()))})),
    w AS (SELECT CAST(count(*) AS BIGINT) AS n_rows_rect,
                 CAST(sum(CAST(ROUND(value * 100) AS BIGINT))
                      AS BIGINT) AS cents_rect
          FROM z
          WHERE ts >= TIMESTAMP '{_ZMP_LO}'
            AND ts <  TIMESTAMP '{_ZMP_HI}'
            AND user_id < {_ZMP_USER_MAX})
    SELECT * FROM tot, pr, w
    """,
    doc=f"2-D Morton scan pre-flight: events are laid out by EXPLICIT "
        f"rule (day bucket = (epoch_day - {_ZMP_DAY0}) DIV "
        f"{_ZMP_DAYS_PER_BUCKET}, user bucket = user_id DIV "
        f"{_ZMP_USER_DIV}, both capped to {_ZMP_BITS} bits; cell = "
        "Morton interleave; file = hive partition on cell >> "
        f"{_ZMP_BLOCK_SHIFT}, one parquet file per block by "
        f"construction), and the [{_ZMP_LO} .. {_ZMP_HI}) time x "
        f"user_id < {_ZMP_USER_MAX} query "
        "rectangle's touched BLOCK set is predicted from the rule "
        "alone by recursive quadrant decomposition (sinks."
        "morton_blocks_for_rect — closed form, zero I/O, "
        "O(perimeter) quadrants). The audit row records what the "
        "partition-pruned scan actually touched (distinct blocks, "
        "distinct files via input_file_name, rows under the block "
        "filter and under the full rectangle predicate), while the "
        "oracle recomputes every number from the rule over the "
        "ORIGINAL table with the SAME predicted-block literal set — "
        "so driver hash equality states: the quadrant decomposition "
        "predicted exactly the files pruning delivered, and those "
        "files contained exactly the rectangle's rows (an "
        "under-prediction would undercount n_rows_rect vs the "
        "oracle's raw-predicate count and break the hash). Completes "
        "the pre-flight family: shuffle (edit1), join cardinality "
        "(ngram), 1-D scan (scan_pruning_preflight), 2-D Z-order "
        "scan (this). ref main.py:329-347 re-slices its date window "
        "per query; this is the multi-axis version as a provable "
        "layout contract",
    scoped=True,
    exchanges=5,
)
def zorder_morton_preflight(spark, sf_dir, cache):
    ev = _with_zq(table(spark, sf_dir, "events")
                  .select("ts", "user_id", "value"))
    path = os.path.join(cache.stage("bdt_zmp_"), "events_by_zblock")
    ev.repartition("zq").write.partitionBy("zq").parquet(path)
    return zmp_preflight_audit(spark, path)


def zmp_preflight_audit(spark, path: str):
    """The audit over the Z-block layout, exposed unmaterialized so
    the plan test can assert the predicted block set lands in the
    scan's PartitionFilters (the scan_preflight_audit convention)."""
    blocks = _zmp_predicted_blocks()
    back = spark.read.parquet(path)
    pruned = back.filter(F.col("zq").isin(blocks))
    tot = back.agg(F.countDistinct("zq").cast("long")
                   .alias("n_blocks_total"))
    pr = (pruned.withColumn("fname", F.input_file_name())
          .agg(F.countDistinct("zq").cast("long")
               .alias("n_blocks_read"),
               F.countDistinct("fname").cast("long")
               .alias("n_files_read"),
               F.count(F.lit(1)).cast("long").alias("n_rows_blocks")))
    w = (pruned.filter((F.col("ts") >= _ZMP_LO)
                       & (F.col("ts") < _ZMP_HI)
                       & (F.col("user_id") < _ZMP_USER_MAX))
         .agg(F.count(F.lit(1)).cast("long").alias("n_rows_rect"),
              F.sum(F.round(F.col("value") * 100).cast("bigint"))
              .cast("long").alias("cents_rect")))
    return (pr.join(F.broadcast(tot)).join(F.broadcast(w))
            .select("n_blocks_total", "n_blocks_read", "n_files_read",
                    "n_rows_blocks", "n_rows_rect", "cents_rect"))


# ---------------------------------------------------------------------------
# Incremental Z-order recluster (Delta Lake's incremental OPTIMIZE
# semantics as plain Spark): a backfill arrives for an already
# Z-clustered layout; only the Z-blocks the backfill intersects are
# rewritten, every other file is left alone — and both halves of that
# sentence are PROVEN, not assumed: the touched-block set is
# predicted from the rule via the same quadrant decomposition as the
# pre-flight, and the untouched region's order-insensitive content
# fingerprint (the dataset_content_fingerprint technique) must equal
# the oracle's fingerprint of the original rows of those blocks.

_ZIR_LO, _ZIR_HI = "2024-01-12 00:00:00", "2024-01-15 00:00:00"
_ZIR_MOD = 3  # backfill = every 3rd event of the window, late-arriving
_FP_MOD = 4611686018427387904  # 2^62, the shared h60-sum modulus


def _zir_rect() -> tuple[int, int, int, int]:
    """The backfill's bucket rectangle: its 3-day window on the x
    axis, the FULL user domain on y (a backfill touches all users)."""
    import datetime as _dt

    epoch = _dt.date(1970, 1, 1).toordinal()
    lo_day = (_dt.datetime.fromisoformat(_ZIR_LO).date().toordinal()
              - epoch)
    hi_last = (_dt.datetime.fromisoformat(_ZIR_HI)
               - _dt.timedelta(microseconds=1))
    hi_day = hi_last.date().toordinal() - epoch
    return ((lo_day - _ZMP_DAY0) // _ZMP_DAYS_PER_BUCKET,
            (hi_day - _ZMP_DAY0) // _ZMP_DAYS_PER_BUCKET,
            0, (1 << _ZMP_BITS) - 1)


def _zir_predicted_blocks() -> list[int]:
    from ..sources.sinks import morton_blocks_for_rect

    x0, x1, y0, y1 = _zir_rect()
    return morton_blocks_for_rect(x0, x1, y0, y1, bits=_ZMP_BITS,
                                  block_shift=_ZMP_BLOCK_SHIFT)


_ZIR_CANON_SQL = ("CAST(event_id AS VARCHAR) || '|' || "
                  "CAST(epoch_us(ts) AS VARCHAR) || '|' || "
                  "CAST(user_id AS VARCHAR) || '|' || event_type "
                  "|| '|' || CAST(CAST(ROUND(value * 100) AS BIGINT) "
                  "AS VARCHAR)")


def _zir_canon_spark():
    # F.concat (NOT concat_ws): the oracle's '||' yields NULL when any
    # canon field is NULL, so the Spark side must propagate NULL the
    # same way — concat_ws silently skips NULL fields and the
    # untouched-region fingerprints would diverge on the first NULL
    # event_type (ADVICE r12 #3). Both sides then exclude the NULL
    # hash from the sum while still counting the row.
    return F.concat(
        F.col("event_id").cast("string"), F.lit("|"),
        F.unix_micros("ts").cast("string"), F.lit("|"),
        F.col("user_id").cast("string"), F.lit("|"),
        F.col("event_type"), F.lit("|"),
        F.round(F.col("value") * 100).cast("bigint").cast("string"))


@query(
    "zorder_incremental_recluster",
    oracle=f"""
    WITH z AS (
      SELECT ({_zmp_z_sql()}) >> {_ZMP_BLOCK_SHIFT} AS zq,
             event_id, ts, user_id, event_type, value
      FROM (SELECT least(greatest((epoch_us(ts) // {_ZMP_US_PER_DAY}
                                   - {_ZMP_DAY0})
                                  // {_ZMP_DAYS_PER_BUCKET}, 0),
                         {(1 << _ZMP_BITS) - 1}) AS bx,
                   least(user_id // {_ZMP_USER_DIV},
                         {(1 << _ZMP_BITS) - 1}) AS by,
                   event_id, ts, user_id, event_type, value
            FROM events)),
    d AS (SELECT DISTINCT zq FROM z
          WHERE ts >= TIMESTAMP '{_ZIR_LO}'
            AND ts <  TIMESTAMP '{_ZIR_HI}'
            AND event_id % {_ZIR_MOD} = 0),
    unt AS (SELECT CAST(('0x' || substr(md5({_ZIR_CANON_SQL}), 1, 15))
                        AS BIGINT) AS h
            FROM z WHERE zq NOT IN (SELECT zq FROM d)),
    fp AS (SELECT CAST(count(*) AS BIGINT) AS untouched_rows,
                  CAST(sum(h) % {_FP_MOD} AS BIGINT) AS untouched_fp
           FROM unt),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_rows_total,
                   CAST(sum(CAST(ROUND(value * 100) AS BIGINT))
                        AS BIGINT) AS cents_total,
                   CAST(count(DISTINCT zq) AS BIGINT) AS n_blocks_total
            FROM z),
    tch AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks_touched,
                   CAST(count(*) AS BIGINT) AS n_files_touched,
                   CAST(sum(CASE WHEN zq NOT IN
                     ({', '.join(map(str, _zir_predicted_blocks()))})
                     THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_outside_prediction
            FROM d)
    SELECT n_blocks_total, n_blocks_touched, n_outside_prediction,
           n_files_touched, untouched_rows, untouched_fp,
           n_rows_total, cents_total
    FROM tot, tch, fp
    """,
    doc=f"incremental Z-order recluster — Delta's incremental "
        "OPTIMIZE as plain Spark, with both maintenance claims "
        "proven. Events minus a late backfill (the [{0} .. {1}) "
        "window's every-{2}rd event) are written as the rule-"
        "partitioned Z-block layout; the backfill then merges in by "
        "rewriting ONLY the blocks it intersects (dynamic partition "
        "overwrite: read affected partitions + union + rewrite, "
        "other files untouched). The touched set is PREDICTED from "
        "the rule before any work via the same quadrant "
        "decomposition as zorder_morton_preflight (the audit row "
        "pins touched-outside-prediction = 0), and the audit "
        "hash-proves (a) the rewritten layout is value-lossless "
        "(total rows + cents vs the original table), (b) the "
        "UNTOUCHED region is byte-level original — its order-"
        "insensitive h60-sum content fingerprint, computed by "
        "READING THE FILES after the merge, equals the oracle's "
        "fingerprint of the original rows of those blocks — and "
        "(c) one file per touched block after the rewrite. At "
        "100 TB this is the economics of clustered-layout "
        "maintenance: rewrite cost proportional to the backfill's "
        "Z-footprint, never the table, with the footprint known "
        "before an executor spins up".format(_ZIR_LO, _ZIR_HI,
                                             _ZIR_MOD),
    scoped=True,
    exchanges=5,
)
def zorder_incremental_recluster(spark, sf_dir, cache):
    ev = _with_zq(table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"))
    is_delta = ((F.col("ts") >= _ZIR_LO) & (F.col("ts") < _ZIR_HI)
                & (F.col("event_id") % _ZIR_MOD == 0))
    path = os.path.join(cache.stage("bdt_zir_"), "events_zblocks")
    (ev.filter(~is_delta).repartition("zq")
     .write.partitionBy("zq").parquet(path))
    delta = ev.filter(is_delta)
    touched = sorted(r["zq"] for r in
                     delta.select("zq").distinct().collect())
    predicted = set(_zir_predicted_blocks())
    outside = [b for b in touched if b not in predicted]
    # merge = affected base partitions + backfill, rewritten via
    # dynamic partition overwrite; materialize BEFORE the write
    # (reading and overwriting the same partitions lazily would
    # race the file replacement)
    base_aff = (spark.read.parquet(path)
                .filter(F.col("zq").isin(touched))
                .select(*delta.columns))
    merged = (base_aff.unionByName(delta).repartition("zq")
              .localCheckpoint(eager=True))
    mode = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(mode, "static")
    spark.conf.set(mode, "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy("zq").parquet(path)
    finally:
        spark.conf.set(mode, saved)
    back = spark.read.parquet(path)
    unt = (back.filter(~F.col("zq").isin(touched))
           .select(F.conv(F.substring(F.md5(_zir_canon_spark()),
                                      1, 15), 16, 10)
                   .cast("long").alias("h")))
    fp = unt.agg(
        F.count(F.lit(1)).cast("long").alias("untouched_rows"),
        (F.sum(F.col("h").cast("decimal(38,0)"))
         % F.lit(_FP_MOD).cast("decimal(38,0)"))
        .cast("long").alias("untouched_fp"))
    tot = back.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows_total"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("long").alias("cents_total"),
        F.countDistinct("zq").cast("long").alias("n_blocks_total"))
    files = (back.filter(F.col("zq").isin(touched))
             .withColumn("fname", F.input_file_name())
             .agg(F.countDistinct("fname").cast("long")
                  .alias("n_files_touched")))
    return (tot.crossJoin(F.broadcast(files))
            .crossJoin(F.broadcast(fp))
            .select("n_blocks_total",
                    F.lit(len(touched)).cast("long")
                    .alias("n_blocks_touched"),
                    F.lit(len(outside)).cast("long")
                    .alias("n_outside_prediction"),
                    "n_files_touched", "untouched_rows",
                    "untouched_fp", "n_rows_total", "cents_total"))
