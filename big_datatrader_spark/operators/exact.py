"""Exact-integer column arithmetic: the conventions that keep Spark
results hash-identical to their DuckDB oracles.

A reported ratio of integers is rounded to 6 decimals in EXACT integer
arithmetic (half away from zero, DECIMAL(38,0) here, HUGEINT in the
oracle) and only then returned as the exactly-representable double
e6/1e6. Why: cents-scaled averages and count ratios routinely land on
exact 5e-7 boundaries (e.g. wsum/qty = ...843750), where Spark's
BigDecimal-shortest-string ROUND and DuckDB's multiply-based ROUND
disagree on the SAME double — a 1-in-20000-rows hash flip the cross-SF
sweep caught at sf0.1. Integer rounding makes the boundary case
deterministic on both engines.

The oracle side of each helper is spelled out in the SQL of the
queries that use it (``(2 * num * 1000000 + den) // (2 * den)``).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def idiv(x: Column, y) -> Column:
    """``x DIV y`` truncated toward zero, as a BIGINT column — DuckDB's
    integer ``//`` on the same operands.

    Exact domain: on BIGINT operands Spark's ``/`` is DOUBLE division,
    so the quotient is exact only while |x| < 2^53 (2^53+3 DIV 1
    returns 2^53+4). When x can be larger, cast it to decimal(38,0)
    first, as ``ranking.ntile_from_rank`` does: DECIMAL division is
    exact up to the 38-digit limit."""
    return ((x - x % y) / y).cast("bigint")


def ratio_round6(num: Column, den: Column) -> Column:
    """ROUND(num/den, 6) for exact-integer num/den >= 0, rounding half
    away from zero in DECIMAL(38,0)."""
    a = num.cast("decimal(38,0)") * 1000000
    b = den.cast("decimal(38,0)")
    e6 = ((2 * a + b) - (2 * a + b) % (2 * b)) / (2 * b)
    return e6.cast("bigint").cast("double") / 1000000.0


def signed_ratio_round6(num: Column, den: Column) -> Column:
    """ROUND(num/den, 6) for exact-integer num (any sign) and den != 0,
    half away from zero in DECIMAL(38,0) — the signed companion of
    ratio_round6. A cents-scaled ratio w/(100*d) is
    ``signed_ratio_round6(w, 100 * d)``."""
    an = F.abs(num.cast("decimal(38,0)"))
    ad = F.abs(den.cast("decimal(38,0)"))
    mag = (((2 * an * 1000000 + ad)
            - (2 * an * 1000000 + ad) % (2 * ad)) / (2 * ad))
    sgn = F.when((num >= 0) == (den >= 0), F.lit(1)).otherwise(F.lit(-1))
    return (sgn * mag).cast("bigint").cast("double") / 1000000.0


def floor_round6(c: Column) -> Column:
    """floor(c*1e6 + 0.5)/1e6 for a DOUBLE c: the same IEEE operation
    sequence on both engines, so it stays clear of the 5e-7 boundary
    where the two ROUND(double, 6) implementations disagree. For
    doubles that are not ratios of integers (indicator recurrences)."""
    return (F.floor(c * F.lit(1000000.0) + F.lit(0.5))
            / F.lit(1000000.0))
