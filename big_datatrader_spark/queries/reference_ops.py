"""Reference-surface operators (SURVEY.md §2) as named queries.

Tick-table mapping (FIXTURES.md §B): the ``events`` table stands in for
the reference's OHLCV series — ``ts`` -> time, ``value`` -> close,
``user_id`` -> symbol (the reference's single-CSV world is the
one-symbol degenerate case; per-key windows are the 100 TB-safe shape,
SURVEY.md §7.4).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves stringified hints here

from pyspark.sql import functions as F

from ..operators.backtest import evenly_spaced_backtest
from ..operators.filters import apply_json_filter, time_range
from ..operators.indicators import with_crossover_signals, with_rolling_mean
from ..operators.signals import with_stride_signals
from ..sources.parquet_source import table
from . import query

BUDGET = 10_000.0
PER_TRADE = 1_000.0

_R = 6  # shared rounding for float outputs (fp-noise insurance, §7.4)


def _ticks(spark, sf_dir):
    return table(spark, sf_dir, "events").select("user_id", "ts", "value",
                                                 "event_id")


# ---------------------------------------------------------------------------
# F1: inclusive date-range filter (reference main.py:318-320)

@query(
    "date_range_filter",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                 AND TIMESTAMP '2024-01-20 00:00:00'
    """,
    doc="F1 inclusive-both-ends time-range filter (main.py:318-320)",
    exchanges=0,
)
def date_range_filter(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return time_range(
        ev, "2024-01-10 00:00:00", "2024-01-20 00:00:00", col="ts"
    ).select("event_id", "ts", "user_id", "event_type", "value")


# ---------------------------------------------------------------------------
# F3: JSON filter-spec compiler (reference main.py:265-289)

@query(
    "json_filter",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE value > 5 AND value < 50 AND event_type = 'click'
    """,
    doc="F3 JSON {col:{gt/lt/eq:v}} predicate compiler (main.py:265-289)",
    exchanges=0,
)
def json_filter(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    spec = '{"value": {"gt": 5, "lt": 50}, "event_type": {"eq": "click"}}'
    return apply_json_filter(ev, spec).select(
        "event_id", "user_id", "event_type", "value")


# ---------------------------------------------------------------------------
# W4 + O3: stride (evenly spaced) signals (reference main.py:349-360)

@query(
    "stride_signals",
    oracle="""
    SELECT event_id, user_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
           CAST(10 AS BIGINT) AS step,
           ((row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)) - 1)
               % 10 = 0 AS buy_signal
    FROM events
    """,
    doc="W4 stride buy signals, default step 10 (main.py:349-360)",
    # one exchange for the shared window spec
    exchanges=1,
)
def stride_signals(spark, sf_dir):
    sig = with_stride_signals(_ticks(spark, sf_dir), ["user_id"], ["ts", "event_id"])
    return sig.select(
        "event_id", "user_id",
        F.col("rn").cast("long").alias("rn"),
        F.col("step").cast("long").alias("step"),
        "buy_signal")


@query(
    "stride_signals_derived_step",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             GREATEST(count(*) OVER (PARTITION BY user_id) // 7, 1) AS step
      FROM events
    )
    SELECT event_id, user_id, rn, step, (rn - 1) % step = 0 AS buy_signal
    FROM base
    """,
    doc="W4 stride with step = max(n_rows // max_trades, 1), "
        "max_trades=7 (main.py:354-357)",
    exchanges=1,
)
def stride_signals_derived_step(spark, sf_dir):
    sig = with_stride_signals(_ticks(spark, sf_dir), ["user_id"], ["ts", "event_id"],
                              max_trades=7)
    return sig.select(
        "event_id", "user_id",
        F.col("rn").cast("long").alias("rn"),
        F.col("step").cast("long").alias("step"),
        "buy_signal")


# ---------------------------------------------------------------------------
# W1/W2: rolling means (reference main.py:403-404)

@query(
    "rolling_ma",
    oracle="""
    SELECT event_id, user_id, ts,
           ROUND(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS short_ma,
           ROUND(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 6) AS long_ma
    FROM events
    """,
    doc="W1/W2 trailing rolling means 5/20, min_periods=1 "
        "(main.py:403-404)",
    # both rolling windows share (partition, order) -> ONE shuffle
    exchanges=1,
)
def rolling_ma(spark, sf_dir):
    df = _ticks(spark, sf_dir)
    df = with_rolling_mean(df, "value", 5, ["user_id"], ["ts", "event_id"], "short_ma")
    df = with_rolling_mean(df, "value", 20, ["user_id"], ["ts", "event_id"], "long_ma")
    return df.select(
        "event_id", "user_id", "ts",
        F.round("short_ma", _R).alias("short_ma"),
        F.round("long_ma", _R).alias("long_ma"))


# ---------------------------------------------------------------------------
# W3: lag crossover signals (reference main.py:409-423)

@query(
    "crossover_signals",
    oracle="""
    WITH ma AS (
      SELECT event_id, user_id, ts,
             avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS short_ma,
             avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS long_ma
      FROM events
    ), lagged AS (
      SELECT event_id, user_id, ts, short_ma, long_ma,
             lag(short_ma) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ps,
             lag(long_ma) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pl
      FROM ma
    )
    SELECT event_id, user_id, ts,
           COALESCE(ps <= pl AND short_ma > long_ma, FALSE) AS golden_cross,
           COALESCE(ps >= pl AND short_ma < long_ma, FALSE) AS death_cross
    FROM lagged
    """,
    doc="W3 golden/death cross via lag (main.py:409-423)",
    exchanges=1,
)
def crossover_signals(spark, sf_dir):
    df = _ticks(spark, sf_dir)
    df = with_rolling_mean(df, "value", 5, ["user_id"], ["ts", "event_id"], "short_ma")
    df = with_rolling_mean(df, "value", 20, ["user_id"], ["ts", "event_id"], "long_ma")
    df = with_crossover_signals(df, "short_ma", "long_ma",
                                ["user_id"], ["ts", "event_id"])
    return df.select("event_id", "user_id", "ts",
                     "golden_cross", "death_cross")


# ---------------------------------------------------------------------------
# O1/O2: ordered limit / top-k earliest buys (reference main.py:380-381)

@query(
    "topk_earliest_buys",
    oracle="""
    WITH sig AS (
      SELECT event_id, user_id, ts, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT event_id, user_id, ts, value
    FROM sig WHERE (rn - 1) % 10 = 0
    ORDER BY ts, event_id
    LIMIT 100
    """,
    doc="O2 ordered limit over buy rows -> TakeOrderedAndProject "
        "(main.py:380-381)",
    exchanges=1,
)
def topk_earliest_buys(spark, sf_dir):
    sig = with_stride_signals(_ticks(spark, sf_dir), ["user_id"], ["ts", "event_id"])
    return (
        sig.filter(F.col("buy_signal"))
        .select("event_id", "user_id", "ts", "value")
        .orderBy("ts", "event_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# §2.12 pipeline 1+3: evenly spaced buys backtest (main.py:366-390,
# 448-486 — the parallel variant computes the identical result)

_EVENLY_ORACLE_DEFAULT = """
WITH sig AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), buys AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS buy_rn,
         count(*) OVER (PARTITION BY user_id) AS n_buys
  FROM sig WHERE (rn - 1) % 10 = 0
), agg AS (
  SELECT user_id, sum(1000.0 / value) AS sum_shares,
         count(*) AS trades_executed, max(n_buys) AS n_buys
  FROM buys WHERE buy_rn <= LEAST(n_buys, 10)
  GROUP BY user_id
), finals AS (
  SELECT user_id, (max({'t': ts, 'i': event_id, 'v': value})).v
             AS final_price
  FROM events GROUP BY user_id
)
SELECT f.user_id AS user_id,
       COALESCE(a.n_buys, 0) AS n_buys,
       COALESCE(a.trades_executed, 0) AS trades_executed,
       CAST(COALESCE(a.trades_executed, 0) * 1000.0 AS DOUBLE)
           AS total_invested,
       ROUND(CAST(COALESCE(a.sum_shares, 0.0) AS DOUBLE), 6) AS sum_shares,
       ROUND(CAST(f.final_price AS DOUBLE), 6) AS final_price,
       ROUND(CAST(CASE WHEN a.trades_executed IS NULL THEN 10000.0
             ELSE 10000.0 - a.trades_executed * 1000.0
                  + a.sum_shares * f.final_price END AS DOUBLE), 6)
           AS final_value,
       ROUND(CAST((CASE WHEN a.trades_executed IS NULL THEN 10000.0
             ELSE 10000.0 - a.trades_executed * 1000.0
                  + a.sum_shares * f.final_price END - 10000.0)
             / 10000.0 * 100.0 AS DOUBLE), 6) AS roi
FROM finals f LEFT JOIN agg a USING (user_id)
"""


def _rounded_backtest(df):
    return df.select(
        "user_id",
        F.col("n_buys").cast("long").alias("n_buys"),
        F.col("trades_executed").cast("long").alias("trades_executed"),
        F.col("total_invested").cast("double").alias("total_invested"),
        F.round("sum_shares", _R).alias("sum_shares"),
        F.round("final_price", _R).alias("final_price"),
        F.round("final_value", _R).alias("final_value"),
        F.round("roi", _R).alias("roi"),
    )


@query(
    "evenly_spaced_backtest",
    oracle=_EVENLY_ORACLE_DEFAULT,
    doc="§2.12 pipeline 1/3: per-symbol evenly-spaced-buys backtest "
        "(main.py:366-390; parallel variant main.py:448-486)",
    bench=True,
    exchanges=2,
)
def evenly_spaced_backtest_q(spark, sf_dir):
    res = evenly_spaced_backtest(
        _ticks(spark, sf_dir), symbol_col="user_id", order_col=["ts", "event_id"],
        price_col="value", budget=BUDGET, per_trade=PER_TRADE)
    return _rounded_backtest(res)


_EVENLY_ORACLE_MAXTRADES = """
WITH base AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         GREATEST(count(*) OVER (PARTITION BY user_id) // 5, 1) AS step
  FROM events
), buys AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS buy_rn,
         count(*) OVER (PARTITION BY user_id) AS n_buys
  FROM base WHERE (rn - 1) % step = 0
), agg AS (
  SELECT user_id, sum(1000.0 / value) AS sum_shares,
         count(*) AS trades_executed, max(n_buys) AS n_buys
  FROM buys WHERE buy_rn <= LEAST(n_buys, 5)
  GROUP BY user_id
), finals AS (
  SELECT user_id, (max({'t': ts, 'i': event_id, 'v': value})).v
             AS final_price
  FROM events GROUP BY user_id
)
SELECT f.user_id AS user_id,
       COALESCE(a.n_buys, 0) AS n_buys,
       COALESCE(a.trades_executed, 0) AS trades_executed,
       CAST(COALESCE(a.trades_executed, 0) * 1000.0 AS DOUBLE)
           AS total_invested,
       ROUND(CAST(COALESCE(a.sum_shares, 0.0) AS DOUBLE), 6) AS sum_shares,
       ROUND(CAST(f.final_price AS DOUBLE), 6) AS final_price,
       ROUND(CAST(CASE WHEN a.trades_executed IS NULL THEN 10000.0
             ELSE 10000.0 - a.trades_executed * 1000.0
                  + a.sum_shares * f.final_price END AS DOUBLE), 6)
           AS final_value,
       ROUND(CAST((CASE WHEN a.trades_executed IS NULL THEN 10000.0
             ELSE 10000.0 - a.trades_executed * 1000.0
                  + a.sum_shares * f.final_price END - 10000.0)
             / 10000.0 * 100.0 AS DOUBLE), 6) AS roi
FROM finals f LEFT JOIN agg a USING (user_id)
"""


# ---------------------------------------------------------------------------
# S4: results-export table (reference main.py:515-534): all buy rows plus
# computed trade_amount / shares columns. The CSV sink itself is
# sources/sinks.write_csv (tested in tests/test_sources_streaming.py);
# this query is the exported relation.

@query(
    "export_buy_rows",
    oracle="""
    WITH sig AS (
      SELECT event_id, user_id, ts, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT event_id, user_id, ts, value,
           CAST(1000.0 AS DOUBLE) AS trade_amount,
           ROUND(CAST(1000.0 AS DOUBLE) / nullif(value, 0.0), 6) AS shares
    FROM sig WHERE (rn - 1) % 10 = 0
    """,
    doc="S4 export table: buy rows + trade_amount/shares computed "
        "columns (main.py:526-528)",
    exchanges=1,
)
def export_buy_rows(spark, sf_dir):
    sig = with_stride_signals(_ticks(spark, sf_dir), ["user_id"], ["ts", "event_id"])
    return (
        sig.filter(F.col("buy_signal"))
        .select("event_id", "user_id", "ts", "value",
                F.lit(1000.0).alias("trade_amount"),
                F.round(F.try_divide(F.lit(1000.0), F.col("value")), _R)
                 .alias("shares"))
    )


# ---------------------------------------------------------------------------
# U1 kept as an explicit vectorized UDF for parity demonstration
# (reference main.py:467-471 ran one dask task PER ROW; the idiomatic
# Spark path is the column expression used everywhere else, but when a
# UDF is genuinely needed this is the shape: Arrow-batched pandas_udf,
# never row-at-a-time)

@query(
    "shares_vectorized_udf",
    oracle="""
    SELECT event_id, user_id,
           ROUND(CAST(1000.0 AS DOUBLE) / nullif(value, 0.0), 6)
               AS shares
    FROM events
    WHERE event_type = 'purchase'
    """,
    doc="U1 as an Arrow-batched pandas_udf (parity demo; equals the "
        "column expression, which is the hot-path form)",
    exchanges=0,
)
def shares_vectorized_udf(spark, sf_dir):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def shares_of(price: pd.Series) -> pd.Series:
        # no rounding in the kernel: numpy rounds half-to-even while
        # SQL ROUND is half-away-from-zero, which flips exact ties
        # (1000/40.96 = 24.4140625 at sf0.1); the JVM-side F.round
        # below matches the oracle on every tie
        return 1000.0 / price.replace(0.0, float("nan"))

    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase")
    return ev.select("event_id", "user_id",
                     F.round(shares_of(F.col("value")), 6)
                     .alias("shares"))


@query(
    "evenly_spaced_backtest_maxtrades",
    oracle=_EVENLY_ORACLE_MAXTRADES,
    doc="evenly-spaced backtest with explicit max_trades=5 -> derived "
        "step (main.py:354-357, 372-373)",
    exchanges=2,
)
def evenly_spaced_backtest_maxtrades_q(spark, sf_dir):
    res = evenly_spaced_backtest(
        _ticks(spark, sf_dir), symbol_col="user_id", order_col=["ts", "event_id"],
        price_col="value", budget=BUDGET, per_trade=PER_TRADE,
        max_trades=5)
    return _rounded_backtest(res)


_PORTFOLIO_ORACLE = """
WITH sig AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), buys AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS buy_rn,
         count(*) OVER (PARTITION BY user_id) AS n_buys
  FROM sig WHERE (rn - 1) % 10 = 0
), agg AS (
  SELECT user_id, sum(1000.0 / value) AS sum_shares,
         count(*) AS trades_executed
  FROM buys WHERE buy_rn <= LEAST(n_buys, 10)
  GROUP BY user_id
), finals AS (
  SELECT user_id, (max({'t': ts, 'i': event_id, 'v': value})).v
             AS final_price
  FROM events GROUP BY user_id
), per AS (
  SELECT f.user_id,
         COALESCE(a.trades_executed, 0) AS trades_executed,
         CAST(ROUND((CASE WHEN a.trades_executed IS NULL THEN 10000.0
              ELSE 10000.0 - a.trades_executed * 1000.0
                   + a.sum_shares * f.final_price END) * 1000000)
             AS BIGINT) AS value_micro
  FROM finals f LEFT JOIN agg a USING (user_id)
)
SELECT CAST(count(*) AS BIGINT) AS n_symbols,
       CAST(sum(trades_executed) AS BIGINT) AS total_trades,
       ROUND(CAST(sum(trades_executed) * 1000.0 AS DOUBLE), 6)
           AS total_invested,
       ROUND(CAST(sum(value_micro) AS DOUBLE) / 1000000.0, 6)
           AS portfolio_value,
       ROUND((CAST(sum(value_micro) AS DOUBLE) / 1000000.0
              - count(*) * 10000.0)
             / (count(*) * 10000.0) * 100.0, 6) AS portfolio_roi
FROM per
"""


@query(
    "evenly_spaced_portfolio",
    oracle=_PORTFOLIO_ORACLE,
    doc="portfolio rollup of the §2.12 evenly-spaced backtest: every "
        "symbol's final value (cash remainder + marked-to-market "
        "shares) rounded to exact 1e-6 units per symbol and summed as "
        "BIGINT — so the portfolio total can never drift with "
        "aggregation order — plus trade counts and ROI against the "
        "combined starting budget. The roll-up the reference's GUI "
        "user computes by hand across runs, as one extra aggregate on "
        "the per-symbol plan",
    exchanges=3,
)
def evenly_spaced_portfolio(spark, sf_dir):
    res = evenly_spaced_backtest(
        _ticks(spark, sf_dir), symbol_col="user_id", order_col=["ts", "event_id"],
        price_col="value", budget=BUDGET, per_trade=PER_TRADE)
    per = res.select(
        "user_id",
        F.col("trades_executed").cast("long").alias("trades_executed"),
        F.round(F.col("final_value") * 1000000).cast("bigint")
        .alias("value_micro"))
    n = F.count(F.lit(1))
    val = F.sum("value_micro").cast("double") / 1000000.0
    return per.agg(
        n.alias("n_symbols"),
        F.sum("trades_executed").cast("long").alias("total_trades"),
        F.round(F.sum("trades_executed") * 1000.0, _R)
        .alias("total_invested"),
        F.round(val, _R).alias("portfolio_value"),
        F.round((val - n * 10000.0) / (n * 10000.0) * 100.0, _R)
        .alias("portfolio_roi"))


# ---------------------------------------------------------------------------
# Stop-loss / take-profit backtest: the exit-rule strategy family the
# reference's three strategies (evenly-spaced, MA-crossover, parallel)
# don't cover — enter on the first tick, exit on the FIRST later tick
# whose price crosses either band around the entry (stop at -3%, take
# at +5%), re-enter on the next tick, repeat. Sequential per series,
# so the engine runs it as an Arrow-batched per-user kernel over
# integer cent prices; the oracle precomputes every tick's band-exit
# and walks the resulting functional graph with a recursive CTE. Band
# checks are integer cross-multiplications (p_j * 100 <= p_i * 97 /
# >= p_i * 105), so both engines agree bit-for-bit.

_SL_PCT, _TP_PCT = 97, 105  # exit bands, percent of entry cents


@query(
    "stoploss_takeprofit_backtest",
    oracle=f"""
    WITH RECURSIVE ticks AS MATERIALIZED (
      SELECT user_id,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id)
                  AS BIGINT) AS rn,
             CAST(ROUND(value * 100) AS BIGINT) AS p
      FROM events),
    nn AS (SELECT user_id, CAST(max(rn) AS BIGINT) AS n
           FROM ticks GROUP BY 1),
    exits AS MATERIALIZED (
      SELECT i.user_id, i.rn AS i, CAST(min(j.rn) AS BIGINT) AS x
      FROM ticks i JOIN ticks j
        ON j.user_id = i.user_id AND j.rn > i.rn
       AND (j.p * 100 <= i.p * {_SL_PCT}
            OR j.p * 100 >= i.p * {_TP_PCT})
      GROUP BY 1, 2),
    walk(user_id, entry_rn) AS (
      SELECT user_id, CAST(1 AS BIGINT) FROM nn WHERE n >= 1
      UNION ALL
      SELECT w.user_id, e.x + 1
      FROM walk w
      JOIN exits e ON e.user_id = w.user_id AND e.i = w.entry_rn
      JOIN nn ON nn.user_id = w.user_id
      WHERE e.x + 1 <= nn.n),
    trades AS (
      SELECT w.user_id, w.entry_rn, te.p AS entry_p,
             e.x, tx.p AS exit_p
      FROM walk w
      JOIN ticks te ON te.user_id = w.user_id
                   AND te.rn = w.entry_rn
      LEFT JOIN exits e ON e.user_id = w.user_id
                       AND e.i = w.entry_rn
      LEFT JOIN ticks tx ON tx.user_id = w.user_id AND tx.rn = e.x)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_trades,
           CAST(sum(CASE WHEN exit_p IS NOT NULL
                         AND exit_p * 100 <= entry_p * {_SL_PCT}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_exits,
           CAST(sum(CASE WHEN exit_p IS NOT NULL
                         AND exit_p * 100 >= entry_p * {_TP_PCT}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_profit_exits,
           CAST(sum(CASE WHEN exit_p IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_open,
           CAST(sum(CASE WHEN exit_p IS NOT NULL
                    THEN exit_p - entry_p ELSE 0 END) AS BIGINT)
               AS closed_pnl_cents
    FROM trades GROUP BY user_id ORDER BY user_id
    """,
    doc="stop-loss/take-profit backtest (one share per trade, -3%/+5% "
        "bands): enter on the first tick, exit on the first band "
        "crossing, re-enter on the next tick. The per-series fold runs "
        "as an applyInPandas kernel over integer cents (linear, "
        "Arrow-batched — the ma_crossover_backtest shape); the oracle "
        "precomputes each tick's first band-exit with an inverted "
        "self-join and walks that functional graph by recursive CTE, "
        "so the sequential strategy still has a full hash-exact "
        "oracle. Band predicates are integer cross-multiplications — "
        "no float anywhere. At 100 TB each series folds locally after "
        "one user-hash exchange; state is one open position",
    exchanges=2,
)
def stoploss_takeprofit_backtest(spark, sf_dir):
    import numpy as np
    import pandas as pd

    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("p"))

    out_schema = ("user_id long, n_trades long, n_stop_exits long, "
                  "n_profit_exits long, n_open long, "
                  "closed_pnl_cents long")

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        p = pdf["p"].to_numpy(dtype="int64")
        uid = int(pdf["user_id"].iloc[0])
        i = 0
        n_trades = n_stop = n_profit = n_open = pnl = 0
        n = len(p)
        while i < n:
            entry = p[i]
            n_trades += 1
            j = i + 1
            while j < n and not (p[j] * 100 <= entry * _SL_PCT
                                 or p[j] * 100 >= entry * _TP_PCT):
                j += 1
            if j >= n:
                n_open += 1
                break
            if p[j] * 100 <= entry * _SL_PCT:
                n_stop += 1
            else:
                n_profit += 1
            pnl += int(p[j] - entry)
            i = j + 1
        return pd.DataFrame([{
            "user_id": uid, "n_trades": n_trades,
            "n_stop_exits": n_stop, "n_profit_exits": n_profit,
            "n_open": n_open, "closed_pnl_cents": pnl}])

    return (ev.groupBy("user_id").applyInPandas(fold, out_schema)
            .orderBy("user_id"))
