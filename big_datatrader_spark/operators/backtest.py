"""Backtest pipelines — the reference's three "queries" (SURVEY.md §2.12).

1. Evenly Spaced Buys (reference main.py:366-390): fully relational here —
   stride signals -> ordered limit -> share expression -> aggregate. The
   reference's per-row ``dask.delayed`` variant ("Parallel Delayed
   Trades", main.py:448-486) computes the identical result; its per-row
   task graph dissolves into the column expression ``per_trade / close``,
   so both strategies are THIS function (partition-count invariance is
   asserted in tests, porting the reference's own benchmark oracle,
   main.py:600-618).

2. Moving Average Crossover (reference main.py:392-446): a sequential
   stateful fold — trade i depends on the budget left by trades < i, so
   it is not expressible as a window function. Implemented as an exact
   pandas kernel applied per symbol via ``applyInPandas`` (Arrow-batched,
   parallel across symbols; SURVEY.md §2.10 U2). At 100 TB the
   parallelism unit is the symbol — each series fold is inherently
   sequential, which is true of the semantics, not the engine.

All functions take a generic tick table: (symbol, time-ordered rows,
price column). The reference's single-CSV world is the degenerate
single-symbol case.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F

from .signals import with_stride_signals


def _as_order_cols(order_col) -> list[str]:
    """Accept a single column name or a sequence. Pass a composite key
    (e.g. ["ts", "event_id"]) whenever the primary order can tie —
    row_number/lag/fold results over an underspecified order are
    nondeterministic the moment two rows share a timestamp, which at
    100 TB is routine (same-millisecond ticks)."""
    return [order_col] if isinstance(order_col, str) else list(order_col)


def evenly_spaced_backtest(df: DataFrame, *,
                           symbol_col: str,
                           order_col: str | Sequence[str],
                           price_col: str,
                           budget: float = 10_000.0,
                           per_trade: float = 1_000.0,
                           max_trades: int | None = None) -> DataFrame:
    """Per-symbol evenly-spaced-buys backtest, pure DataFrame ops.

    Semantics (reference main.py:349-390):
      step        = max(n_rows // max_trades, 1) if max_trades else 10
      buys        = rows at 0-based positions 0, step, 2*step, ...
      k           = min(n_buys, max_trades or budget//per_trade,
                        budget // per_trade)
      invested    = k * per_trade
      shares      = sum(per_trade / price) over the k earliest buys
      final_value = (budget - invested) + shares * last_price
      roi         = (final_value - budget) / budget * 100
    A symbol with no buy rows returns (budget, 0.0) (main.py:378-379).

    Output: symbol, n_buys, trades_executed, total_invested, sum_shares,
    final_price, final_value, roi — one row per symbol.
    """
    eff_max = int(max_trades) if max_trades is not None \
        else int(budget // per_trade)
    cap = int(budget // per_trade)
    ocols = _as_order_cols(order_col)

    sig = with_stride_signals(df, [symbol_col], ocols,
                              max_trades=max_trades)

    w_buy = Window.partitionBy(symbol_col).orderBy(*ocols)
    w_all = (Window.partitionBy(symbol_col).orderBy(*ocols)
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    buys = (
        sig.filter(F.col("buy_signal"))
        .withColumn("buy_rn", F.row_number().over(w_buy))
        .withColumn("n_buys", F.count(F.lit(1)).over(w_all))
        .withColumn("k", F.least(F.col("n_buys"),
                                 F.lit(eff_max), F.lit(cap)))
    )
    taken = buys.filter(F.col("buy_rn") <= F.col("k"))
    # try_divide: a zero price yields NULL (skipped by sum) on BOTH Spark
    # and DuckDB — ANSI Spark would throw instead. (The pandas reference
    # would produce inf here; divergence only for worthless assets.)
    per_symbol_buys = taken.groupBy(symbol_col).agg(
        F.sum(F.try_divide(F.lit(per_trade), F.col(price_col)))
         .alias("sum_shares"),
        F.count(F.lit(1)).alias("trades_executed"),
        F.max("n_buys").alias("n_buys"),
    )
    # last price of the FULL series (reference main.py:383 uses gdf, the
    # unfiltered frame) — a single hash aggregate, no extra window pass.
    # Composite order keys use a lexicographic struct max (DuckDB's
    # max_by has no struct key, so the oracle twin is
    # (max({..., 'p': price})).p — field-order comparison on both).
    if len(ocols) == 1:
        last_price = F.max_by(F.col(price_col), F.col(ocols[0]))
    else:
        last_price = F.max(F.struct(
            *[F.col(c) for c in ocols],
            F.col(price_col).alias("__p"))).getField("__p")
    finals = df.groupBy(symbol_col).agg(last_price.alias("final_price"))

    res = finals.join(per_symbol_buys, on=symbol_col, how="left")
    invested = F.col("trades_executed") * F.lit(per_trade)
    final_value = F.when(
        F.col("trades_executed").isNull(), F.lit(float(budget))
    ).otherwise(
        (F.lit(float(budget)) - invested)
        + F.col("sum_shares") * F.col("final_price")
    )
    return (
        res.withColumn("n_buys", F.coalesce("n_buys", F.lit(0)))
        .withColumn("trades_executed",
                    F.coalesce("trades_executed", F.lit(0)))
        .withColumn("total_invested",
                    F.col("trades_executed") * F.lit(per_trade))
        .withColumn("sum_shares", F.coalesce("sum_shares", F.lit(0.0)))
        .withColumn("final_value", final_value)
        .withColumn(
            "roi",
            (F.col("final_value") - F.lit(float(budget)))
            / F.lit(float(budget)) * 100.0)
        .select(symbol_col, "n_buys", "trades_executed", "total_invested",
                "sum_shares", "final_price", "final_value", "roi")
    )


def _crossover_fold(pdf: pd.DataFrame, price_col: str,
                    order_cols: list[str],
                    budget: float, per_trade: float,
                    max_trades: int | None):
    """Exact re-expression of the reference state machine
    (main.py:398-439): golden cross buys (budget-gated), death cross
    sells, forced close of an open position at the final price."""
    pdf = pdf.sort_values(order_cols).reset_index(drop=True)
    close_s = pdf[price_col].astype("float64")
    # numpy views: the fold touches every row, and pandas scalar .iloc is
    # ~50x slower than ndarray indexing — this loop is the per-group hot
    # path at scale.
    close = close_s.to_numpy()
    short_ma = close_s.rolling(window=5, min_periods=1).mean().to_numpy()
    long_ma = close_s.rolling(window=20, min_periods=1).mean().to_numpy()
    times = pdf[order_cols[0]].to_numpy()

    cash = float(budget)
    in_position = False
    entry_price = 0.0
    trades = 0
    positions: list[dict] = []

    for i in range(1, len(close)):
        if max_trades is not None and trades >= max_trades:
            break
        prev_s, prev_l = short_ma[i - 1], long_ma[i - 1]
        curr_s, curr_l = short_ma[i], long_ma[i]
        price = close[i]
        if not in_position and prev_s <= prev_l and curr_s > curr_l:
            if cash >= per_trade:
                in_position = True
                entry_price = price
                trades += 1
                positions.append({
                    "entry_date": times[i],
                    "entry_price": price,
                    "exit_date": None, "exit_price": None,
                })
                cash -= per_trade
        elif in_position and prev_s >= prev_l and curr_s < curr_l:
            in_position = False
            cash += (per_trade / entry_price) * price
            positions[-1]["exit_date"] = times[i]
            positions[-1]["exit_price"] = price

    if in_position and len(close):
        price = close[-1]
        cash += (per_trade / entry_price) * price
        positions[-1]["exit_date"] = times[-1]
        positions[-1]["exit_price"] = price

    roi = (cash - budget) / budget * 100.0 if budget else 0.0
    return cash, roi, positions


def _crossover_fold_events(pdf: pd.DataFrame, budget: float,
                           per_trade: float, max_trades: int | None,
                           sort_cols: tuple[str, ...] = ("__ts",)):
    """Fold over CROSS-EVENT rows plus each symbol's last-row sentinel
    (columns: __ts [, __t1 ...], __price, __g, __d). State changes only
    at cross events, so iterating events is exactly equivalent to the
    reference's every-row loop — including the max_trades break, which
    can only trip before an event — while shipping ~1% of the rows to
    Python. The sentinel guarantees every symbol emits a row and
    provides the forced-close price; it trades only if it is itself a
    cross row."""
    pdf = pdf.sort_values(sort_cols)
    cash = float(budget)
    in_position = False
    entry_price = 0.0
    trades = 0
    positions: list[dict] = []

    for ts, price, golden, death in zip(pdf["__ts"].to_numpy(),
                                        pdf["__price"].to_numpy(),
                                        pdf["__g"].to_numpy(),
                                        pdf["__d"].to_numpy()):
        if max_trades is not None and trades >= max_trades:
            break
        if golden and not in_position and cash >= per_trade:
            in_position = True
            entry_price = price
            trades += 1
            positions.append({"entry_date": ts, "entry_price": price,
                              "exit_date": None, "exit_price": None})
            cash -= per_trade
        elif death and in_position:
            in_position = False
            cash += (per_trade / entry_price) * price
            positions[-1]["exit_date"] = ts
            positions[-1]["exit_price"] = price

    if in_position and len(pdf):
        # the sentinel (rn == cnt) row is always present and last in ts
        # order: the forced close of the reference (main.py:432-439)
        price = float(pdf["__price"].iloc[-1])
        cash += (per_trade / entry_price) * price
        positions[-1]["exit_date"] = pdf["__ts"].iloc[-1]
        positions[-1]["exit_price"] = price

    roi = (cash - budget) / budget * 100.0 if budget else 0.0
    return cash, roi, positions


def ma_crossover_backtest(df: DataFrame, *,
                          symbol_col: str,
                          order_col: str | Sequence[str],
                          price_col: str,
                          budget: float = 10_000.0,
                          per_trade: float = 1_000.0,
                          max_trades: int | None = None,
                          emit: str = "summary",
                          mode: str = "compressed") -> DataFrame:
    """Per-symbol MA(5/20)-crossover backtest (U2).

    emit='summary'   -> (symbol, n_trades, final_value, roi)
    emit='positions' -> (symbol, entry_date, entry_price, exit_date,
                         exit_price) — exit fields null only if the group
                         was empty-guarded (forced close otherwise,
                         reference main.py:432-439).

    mode='compressed' (default): rolling means + cross detection run
    JVM-side (window functions); only cross-event rows reach the Python
    fold. State changes only at events, so results are identical to
    mode='full' (cross-validated in tests) — but the Python-side work is
    proportional to the number of CROSSES, not rows. At 100 TB this is
    the difference between a fold over ~1% of the data and Arrow-
    shipping every tick.
    mode='full': the whole series goes to an exact pandas kernel
    (rolling means computed in pandas) — the literal transcription of
    the reference semantics, kept as the cross-validation baseline.
    """
    if emit not in ("summary", "positions"):
        raise ValueError("emit must be 'summary' or 'positions'")
    if mode not in ("compressed", "full"):
        raise ValueError("mode must be 'compressed' or 'full'")

    ocols = _as_order_cols(order_col)
    sym_field = df.schema[symbol_col]
    ts_type = df.schema[ocols[0]].dataType.simpleString()

    if mode == "compressed":
        from pyspark.sql import Window
        from .indicators import with_crossover_signals, with_rolling_mean
        tie_aliases = [f"__t{i}" for i in range(1, len(ocols))]
        sort_cols = ["__ts", *tie_aliases]
        slim = df.select(F.col(symbol_col),
                         F.col(ocols[0]).alias("__ts"),
                         *[F.col(c).alias(a)
                           for c, a in zip(ocols[1:], tie_aliases)],
                         F.col(price_col).alias("__price"))
        ma = with_rolling_mean(slim, "__price", 5, [symbol_col],
                               sort_cols, "__s")
        ma = with_rolling_mean(ma, "__price", 20, [symbol_col],
                               sort_cols, "__l")
        cx = with_crossover_signals(ma, "__s", "__l", [symbol_col],
                                    sort_cols, "__g", "__d")
        # same window spec as the means/lags -> still ONE exchange, ONE
        # scan; the last row rides along as a sentinel so every symbol
        # emits a row and the forced close needs no second scan/join
        w = Window.partitionBy(symbol_col).orderBy(*sort_cols)
        w_all = (Window.partitionBy(symbol_col).orderBy(*sort_cols)
                 .rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing))
        grouped_src = (
            cx.withColumn("__rn", F.row_number().over(w))
            .withColumn("__cnt", F.count(F.lit(1)).over(w_all))
            .filter(F.col("__g") | F.col("__d")
                    | (F.col("__rn") == F.col("__cnt")))
            .select(symbol_col, "__ts", *tie_aliases, "__price",
                    "__g", "__d")
        )

        def fold(pdf):
            return _crossover_fold_events(pdf, budget, per_trade,
                                          max_trades,
                                          sort_cols=sort_cols)
    else:
        grouped_src = df.select(symbol_col, *ocols, price_col)

        def fold(pdf):
            return _crossover_fold(pdf, price_col, ocols, budget,
                                   per_trade, max_trades)

    if emit == "summary":
        out_schema = (f"`{symbol_col}` {sym_field.dataType.simpleString()}, "
                      "n_trades long, final_value double, roi double")

        def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            cash, roi, positions = fold(pdf)
            return pd.DataFrame({
                symbol_col: [key[0]], "n_trades": [len(positions)],
                "final_value": [cash], "roi": [roi],
            })
    else:
        out_schema = (f"`{symbol_col}` {sym_field.dataType.simpleString()}, "
                      f"entry_date {ts_type}, entry_price double, "
                      f"exit_date {ts_type}, exit_price double")

        def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            _, _, positions = fold(pdf)
            if not positions:
                return pd.DataFrame(columns=[
                    symbol_col, "entry_date", "entry_price",
                    "exit_date", "exit_price"])
            out = pd.DataFrame(positions)
            out.insert(0, symbol_col, key[0])
            return out

    if mode == "compressed":
        # The window stage already hash-partitioned by symbol and
        # sorted by (symbol, ts), so whole partitions can go to Python
        # as-is: mapInPandas keeps that layout (no second exchange in
        # the plan) and amortizes the per-group pandas overhead — one
        # Arrow transfer + one output frame per PARTITION instead of
        # per symbol (1500 symbols at sf0.1: measured 3.2s -> ~0.7s).
        # Hash partitioning guarantees a symbol never spans partitions.
        if emit == "summary":
            def run_parts(batches):
                frames = [b for b in batches if len(b)]
                if not frames:
                    return
                pdf = pd.concat(frames, ignore_index=True)
                syms, n_trades, finals, rois = [], [], [], []
                for sym, g in pdf.groupby(symbol_col, sort=False):
                    cash, roi, positions = fold(g)
                    syms.append(sym)
                    n_trades.append(len(positions))
                    finals.append(cash)
                    rois.append(roi)
                yield pd.DataFrame({
                    symbol_col: syms, "n_trades": n_trades,
                    "final_value": finals, "roi": rois})
        else:
            def run_parts(batches):
                frames = [b for b in batches if len(b)]
                if not frames:
                    return
                pdf = pd.concat(frames, ignore_index=True)
                outs = []
                for sym, g in pdf.groupby(symbol_col, sort=False):
                    _, _, positions = fold(g)
                    if positions:
                        o = pd.DataFrame(positions)
                        o.insert(0, symbol_col, sym)
                        outs.append(o)
                if outs:
                    yield pd.concat(outs, ignore_index=True)
        return grouped_src.mapInPandas(run_parts, schema=out_schema)

    # full mode: only the columns the kernel reads cross the shuffle
    # (column pruning does not reach inside applyInPandas).
    return grouped_src.groupBy(symbol_col).applyInPandas(
        run, schema=out_schema)

