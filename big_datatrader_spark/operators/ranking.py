"""Distributed running sums and global ranking without a
single-partition sort.

``sum()`` or ``row_number() OVER (ORDER BY ...)`` with no PARTITION BY
collapses to ONE task in Spark — the classic accidental scale-killer.
The standard two-phase fix, implemented once in ``prefix_sums``
(``global_rank`` is its running count):

1. run the window locally inside a coarse bucket that is a PREFIX of
   the global order (so bucket order == global order between buckets),
   then
2. add per-bucket offsets (the running sum of bucket totals — a few
   hundred rows, computed once and broadcast).

Wall-clock cost at any scale: one hash exchange on the bucket key plus
a broadcast of #buckets rows. The driving use case is the training-data
global shuffle: give every document a reproducible pseudo-random
position (ORDER BY md5(seed || id)) so shards stream in shuffled order
without ever materializing a global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .exact import idiv


def prefix_sums(df: DataFrame, bucket: Column,
                order_cols: list[Column | str], sums: dict,
                *, exclusive: bool = False) -> DataFrame:
    """Append one running-sum column per ``sums`` entry (output name ->
    summed column or column name) under the total order (bucket ASC,
    *order_cols ASC): the sum over every row up to and including the
    current one, or strictly before it with ``exclusive`` (0 on the
    first row).

    The two phases, written once here: a ROWS running sum inside each
    bucket, plus per-bucket offsets — the exclusive running sum of the
    bucket totals over a #buckets-row relation, windowed once and
    broadcast-joined back. ``bucket`` carries the same prefix contract
    as in ``global_rank``; the order must be total (tie-break it) for
    the sums to be deterministic.
    """
    names = list(sums)
    local_cols = [f"__l{i}" for i in range(len(names))]
    off_cols = [f"__o{i}" for i in range(len(names))]
    b = df.withColumn("__bucket", bucket)
    w_in = (Window.partitionBy("__bucket").orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding,
                         -1 if exclusive else 0))
    local = b.select("*", *[F.sum(sums[n]).over(w_in).alias(c)
                            for n, c in zip(names, local_cols)])
    w_off = (Window.orderBy("__bucket")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (
        b.groupBy("__bucket")
        .agg(*[F.sum(sums[n]).alias(c) for n, c in zip(names, off_cols)])
        # the offsets relation is #buckets rows: the global window over
        # it is a one-task sort of a few hundred rows, then broadcast
        .select("__bucket", *[
            F.coalesce(F.sum(c).over(w_off), F.lit(0)).alias(c)
            for c in off_cols])
    )

    def running(lc: str, oc: str) -> Column:
        # an exclusive frame is empty (NULL) on a bucket's first row
        within = (F.coalesce(F.col(lc), F.lit(0)) if exclusive
                  else F.col(lc))
        return within + F.col(oc)

    return (
        local.join(F.broadcast(offsets), on="__bucket")
        .withColumns({n: running(lc, oc)
                      for n, lc, oc in zip(names, local_cols, off_cols)})
        .drop("__bucket", *local_cols, *off_cols)
    )


def global_rank(df: DataFrame, bucket: Column,
                order_cols: list[Column | str],
                rank_col: str = "rank") -> DataFrame:
    """Append ``rank_col``: the 1-based global row number under the
    total order (bucket ASC, *order_cols ASC).

    ``bucket`` MUST be a coarsening prefix of the intended order (all
    rows of bucket b sort before all rows of bucket b'>b); the caller
    owns that contract — e.g. bucket = substring(hash, 1, 2) when
    ordering by (hash, id).
    """
    # a running count over a ROWS frame is row_number()
    return prefix_sums(df, bucket, order_cols, {rank_col: F.lit(1)})


def ntile_from_rank(r: Column, n: Column, k: int) -> Column:
    """SQL-standard ntile(k) as a closed form of (global rank r, total
    count n): the first n%k tiles hold ceil(n/k) rows, the rest
    floor(n/k). With r from ``global_rank`` this reproduces the
    partition-less ``ntile() OVER (ORDER BY ...)`` bit-for-bit without
    its single-task sort."""
    # Pure integer arithmetic: the double-division formulation
    # (n / k).cast + F.ceil(r / (q + 1)) can mis-bucket once counts
    # approach 2^53 — a real magnitude for a global-rank operator.
    # a DIV b and ceil(a DIV b) = (a + b - 1) DIV b stay exact at any
    # scale (DECIMAL(38,0) intermediate, far past BIGINT).
    def dec(c: Column) -> Column:
        return c.cast("decimal(38,0)")

    q, rem = idiv(dec(n), F.lit(k)), n % k
    big = rem * (q + 1)  # rows covered by the (q+1)-sized leading tiles
    return (F.when(r <= big, idiv(dec(r + q), q + 1))
            .otherwise(rem + idiv(dec(r - big + q - 1), q))
            .cast("bigint"))
