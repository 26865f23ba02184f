"""operators/exact.py and ranking.prefix_sums: the exact-arithmetic
conventions checked against Python references, plus a guard that keeps
each convention defined in one place."""

import ast
import pathlib
import re
from decimal import ROUND_HALF_UP, Decimal, localcontext

from hypothesis import given, settings, strategies as st
from pyspark.sql import Window, functions as F

from big_datatrader_spark.operators.exact import (
    idiv, ratio_round6, signed_ratio_round6)
from big_datatrader_spark.operators.ranking import prefix_sums

PKG = pathlib.Path(__file__).resolve().parent.parent / "big_datatrader_spark"


def _half_away6(num: int, den: int) -> float:
    """ROUND(num/den, 6), ties away from zero, in exact decimals."""
    with localcontext() as ctx:
        ctx.prec = 80
        q = (Decimal(num) / Decimal(den)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP)
    return float(q)


def _pairs(signed: bool):
    """(num, den) with den up to 1e12 and |num/den| < 9e9, so the
    rounded e6 integer stays below 2^53 (exact as a double); exact
    (k + 0.5)e-6 ties are drawn on purpose."""
    def with_num(den):
        hi = min(10**15, 9 * 10**9 * den)
        return st.tuples(st.integers(-hi if signed else 0, hi),
                         st.just(den))
    free = st.integers(1, 10**12).flatmap(with_num)
    tie = st.builds(lambda k, d: ((2 * k + 1) * d, 2_000_000 * d),
                    st.integers(0, 10**6), st.integers(1, 500_000))
    if signed:
        tie = st.builds(lambda p, sn, sd: (sn * p[0], sd * p[1]),
                        tie, st.sampled_from([1, -1]),
                        st.sampled_from([1, -1]))
        free = st.builds(lambda p, sd: (p[0], sd * p[1]),
                         free, st.sampled_from([1, -1]))
    return st.lists(st.one_of(free, tie), min_size=1, max_size=40)


def _eval(spark, rows, fn):
    df = spark.createDataFrame(rows, "num long, den long")
    return [r.v for r in df.select(
        fn(F.col("num"), F.col("den")).alias("v")).collect()]


@settings(max_examples=15, deadline=None)
@given(_pairs(signed=False))
def test_ratio_round6_is_half_up_at_6dp(spark, rows):
    got = _eval(spark, rows, ratio_round6)
    assert got == [_half_away6(n, d) for n, d in rows]


@settings(max_examples=15, deadline=None)
@given(_pairs(signed=True))
def test_signed_ratio_round6_rounds_ties_away_from_zero(spark, rows):
    got = _eval(spark, rows, signed_ratio_round6)
    assert got == [_half_away6(n, d) for n, d in rows]


def _trunc_div(x: int, y: int) -> int:
    q = abs(x) // abs(y)
    return q if (x >= 0) == (y > 0) else -q


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(st.integers(-(2**53) + 1, 2**53 - 1),
                          st.integers(1, 2**31)),
                min_size=1, max_size=40))
def test_idiv_exact_on_bigint_below_2_53(spark, rows):
    got = _eval(spark, rows, idiv)
    assert got == [_trunc_div(x, y) for x, y in rows]


def test_idiv_domain_edge_at_2_53(spark):
    """The docstring's domain claim: BIGINT `/` is DOUBLE division, so
    2^53+3 DIV 1 comes back as 2^53+4; a decimal(38,0) input is exact."""
    x = 2**53 + 3
    df = spark.createDataFrame([(x, 1)], "x long, y long")
    row = df.select(
        idiv(F.col("x"), F.col("y")).alias("as_bigint"),
        idiv(F.col("x").cast("decimal(38,0)"), F.col("y"))
        .alias("as_decimal")).first()
    assert row.as_bigint == 2**53 + 4
    assert row.as_decimal == x


def test_prefix_sums_match_one_partition_window(spark):
    # buckets 0, 1, 5 (a gap) and 9 (a singleton); ties on v are broken
    # by id, the second order column
    rows = [(0, 3, 5, -1), (2, 1, 7, 4), (2, 2, -3, 0), (7, 4, 1, 1),
            (10, 5, 2, 2), (10, 9, 4, -6), (13, 6, 8, 3),
            (51, 8, 6, 5), (55, 7, 9, 9), (55, 10, 1, 0),
            (93, 11, 3, 7)]
    df = spark.createDataFrame(rows, "v long, id long, x long, y long")
    bucket = idiv(F.col("v"), 10)
    ref_in = Window.orderBy("v", "id").rowsBetween(
        Window.unboundedPreceding, 0)
    ref_ex = Window.orderBy("v", "id").rowsBetween(
        Window.unboundedPreceding, -1)
    want = {r.id: r for r in df.select(
        "id", F.sum("x").over(ref_in).alias("sx"),
        F.sum("y").over(ref_in).alias("sy"),
        F.coalesce(F.sum("x").over(ref_ex), F.lit(0)).alias("ex"),
        F.count(F.lit(1)).over(ref_in).alias("rn")).collect()}
    inc = {r.id: r for r in prefix_sums(
        df, bucket, ["v", "id"], {"sx": "x", "sy": F.col("y")}).collect()}
    exc = {r.id: r for r in prefix_sums(
        df, bucket, [F.col("v"), F.col("id")], {"ex": "x"},
        exclusive=True).collect()}
    rank = {r.id: r for r in prefix_sums(
        df, bucket, ["v", "id"], {"rn": F.lit(1)}).collect()}
    assert set(inc) == set(exc) == set(want)
    for i, w in want.items():
        assert (inc[i].sx, inc[i].sy) == (w.sx, w.sy)
        assert exc[i].ex == w.ex
        assert rank[i].rn == w.rn
        # input columns pass through; no helper column leaks out
        assert inc[i].asDict().keys() == {"v", "id", "x", "y", "sx", "sy"}


# --- guard: each convention is defined once -------------------------------

_EXACT = PKG / "operators" / "exact.py"
# The one pasted DIV left outside exact.py: the HITS iteration sits on
# a benchmarked path, so its plan is left untouched.
_IDIV_EXEMPT = {"_hits_top50"}
_ROUND_HELPERS = re.compile(r"_(int|sgn|cents)_ratio_round6")


def _sources():
    for p in sorted(PKG.rglob("*.py")):
        if p != _EXACT:
            yield p, p.read_text()


def _with_top_function(tree):
    """(node, enclosing top-level function name or None) for every node."""
    for top in tree.body:
        name = top.name if isinstance(top, ast.FunctionDef) else None
        for node in ast.walk(top):
            yield node, name


def _is_div_idiom(node) -> bool:
    """(x - x % y) / y with the same x and y on both sides."""
    if not (isinstance(node, ast.BinOp) and isinstance(node.op, ast.Div)):
        return False
    sub = node.left
    return (isinstance(sub, ast.BinOp) and isinstance(sub.op, ast.Sub)
            and isinstance(sub.right, ast.BinOp)
            and isinstance(sub.right.op, ast.Mod)
            and ast.dump(sub.left) == ast.dump(sub.right.left)
            and ast.dump(sub.right.right) == ast.dump(node.right))


def _is_bkt_window(node) -> bool:
    return (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "orderBy"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "Window"
            and any(isinstance(a, ast.Constant) and a.value == "bkt"
                    for a in node.args))


def test_exact_conventions_are_not_re_pasted():
    bad = []
    for p, src in _sources():
        rel = p.relative_to(PKG)
        for m in _ROUND_HELPERS.finditer(src):
            line = src.count("\n", 0, m.start()) + 1
            bad.append(f"{rel}:{line}: {m.group(0)}")
        for node, top in _with_top_function(ast.parse(src)):
            where = f"{rel}:{getattr(node, 'lineno', '?')}"
            if (isinstance(node, ast.FunctionDef)
                    and node.name in ("idiv", "r6", "mean6")):
                bad.append(f"{where}: def {node.name} (use operators.exact)")
            if _is_div_idiom(node) and top not in _IDIV_EXEMPT:
                bad.append(f"{where}: (v - v % d) / d (use exact.idiv)")
            if (isinstance(node, ast.ImportFrom)
                    and (node.module or "").endswith("analytics")
                    and any(re.fullmatch(r"_\w*round6", a.name)
                            for a in node.names)):
                bad.append(f"{where}: private round6 import from analytics")
            if (_is_bkt_window(node)
                    and top != "wasserstein_distance_drift"):
                bad.append(f"{where}: Window.orderBy(\"bkt\") "
                           "(use ranking.prefix_sums)")
    assert not bad, "\n".join(bad)


def test_guard_sees_the_idioms_it_forbids():
    """The guard's matchers fire on the shapes they are meant to catch
    (so a passing guard is not a vacuous one)."""
    src = ("def f(x, y):\n"
           "    def idiv(a, b):\n"
           "        return ((a - a % b) / b).cast('bigint')\n"
           "    w = Window.orderBy('bkt')\n")
    tree = ast.parse(src)
    nodes = [n for n, _ in _with_top_function(tree)]
    assert any(_is_div_idiom(n) for n in nodes)
    assert any(_is_bkt_window(n) for n in nodes)
    assert not any(_is_div_idiom(n) for n in ast.walk(
        ast.parse("(a - a % b) / c")))
