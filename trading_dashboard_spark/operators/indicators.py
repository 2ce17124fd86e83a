"""Technical indicators — SMA / EMA / RSI / Bollinger bands.

The reference computes these client-side in pandas on each dashboard render
(dashboard/components/indicators.py:1-27). The engine computes them
server-side as window expressions so the client receives finished columns
(SURVEY.md §3.2) and the work distributes across executors.

All but EMA are pure window frames (JVM-side, whole-stage codegen). EMA is
recursive — not expressible as a Spark frame — so it ships two forms:

- ``ema``: exact pandas parity (``ewm(span, adjust=False)``,
  indicators.py:8) in the grouped-sorted mapInPandas lane. Per-key history
  is small (one row per trading day), so the batches stay tiny even when
  the table is huge: this scales with keys × history, and keys partition.
- ``ema_series_sql``: the JVM form, one ``aggregate`` fold over an ordered
  array — the fold ``macd_sql`` uses.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, WindowSpec, functions as F

from .windows import per_key_window, rolling


def sma(value: Column, w: WindowSpec, n: int, pandas_parity: bool = True) -> Column:
    """W5 — simple moving average over the last n rows.

    ``pandas_parity=True`` reproduces ``rolling(n).mean()``'s NaN-until-full
    behavior (indicators.py:3); False gives the SQL partial mean used by the
    50/200-day crossover SQL (full_stock_pipeline.py:452-457).
    """
    return rolling(value, w, n, "avg", min_periods=n if pandas_parity else None)


def bollinger(value: Column, w: WindowSpec, n: int = 20, k: float = 2.0) -> tuple[Column, Column, Column]:
    """W6 — Bollinger bands: rolling mean ± k·stddev_samp over n rows
    (indicators.py:20-27). Returns (middle, upper, lower)."""
    mid = rolling(value, w, n, "avg", min_periods=n)
    sd = rolling(value, w, n, "stddev_samp", min_periods=n)
    return mid, mid + k * sd, mid - k * sd


def rsi(value: Column, w: WindowSpec, n: int = 14) -> Column:
    """W8 — Relative Strength Index.

    pandas chain (indicators.py:11-18): diff(1) → ``delta.where(delta>0,
    0)`` gains / ``-delta.where(delta<0, 0)`` losses → n-row rolling means
    → ``100 - 100/(1+rs)``. ``where`` turns the first row's NaN diff into
    0 (``F.when``'s null-condition → otherwise branch matches exactly), so
    the gain/loss series has no NaN and pandas emits the first RSI at row
    index n-1 — the guard below therefore counts *rows* in the frame, not
    non-null deltas. loss == 0 → rs = Inf → RSI 100 (division guard,
    SURVEY.md §7.4); gain == 0 and loss == 0 (flat window) → pandas yields
    100·0/0 = NaN → we emit NULL for that degenerate case.
    """
    delta = value - F.lag(value, 1).over(w)
    gain = F.when(delta > 0, delta).otherwise(F.lit(0.0))
    loss = F.when(delta < 0, -delta).otherwise(F.lit(0.0))
    frame = w.rowsBetween(-(n - 1), 0)
    cnt = F.count(F.lit(1)).over(frame)
    avg_gain = F.avg(gain).over(frame)
    avg_loss = F.avg(loss).over(frame)
    raw = F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + avg_gain / avg_loss)
    out = (
        F.when(avg_loss == 0.0, F.when(avg_gain == 0.0, F.lit(None)).otherwise(F.lit(100.0)))
        .otherwise(raw)
    )
    return F.when(cnt >= n, out)


def ema(
    df: DataFrame,
    value_col: str,
    keys: list[str] | str,
    order: list[str] | str,
    span: int = 14,
    out_col: str | None = None,
) -> DataFrame:
    """W7 — exponential moving average, exact pandas parity.

    ``ewm(span=span, adjust=False).mean()`` (indicators.py:6-9) is the
    recurrence ``y[t] = α·x[t] + (1-α)·y[t-1]``, α = 2/(span+1) — inherently
    sequential per key, so it runs in the grouped-sorted mapInPandas lane
    (operators/grouped): one shuffle + one sort, thousands of keys per
    Arrow batch — NOT groupBy().applyInPandas, whose per-group Python
    round-trip costs ~10× on many-small-key tables.
    """
    from .grouped import grouped_sorted_map

    keys = [keys] if isinstance(keys, str) else keys
    order = [order] if isinstance(order, str) else order
    out_col = out_col or f"{value_col}_ema{span}"
    schema_parts = [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
    out_schema = ", ".join(schema_parts + [f"{out_col} double"])

    def fn(pdf):
        pdf = pdf.copy()
        pdf[out_col] = pdf.groupby(keys, sort=False)[value_col].transform(
            lambda s: s.ewm(span=span, adjust=False).mean()
        )
        return pdf

    return grouped_sorted_map(df, keys, order, fn, out_schema)


def ema_series_sql(xs: Column, span: int) -> Column:
    """The whole adjust=False EMA series of ordered array ``xs`` as one
    JVM ``aggregate`` fold — ``y[t] = α·x[t] + (1-α)·y[t-1]``, seeded
    ``y[1] = x[1]`` — the exact recurrence (pandas-parity arithmetic,
    unlike the closed-form power-sum the DuckDB oracles unroll; the two
    agree to well past the 4dp output anchors).

    A per-POSITION closed-form unroll (`aggregate` inside `transform`)
    is the wrong shape here: higher-order functions don't codegen, and
    CollapseProject inlines the macd array into every `element_at` of
    the downstream signal unroll, degrading to O(n³) interpreted
    arithmetic (measured: 48 s vs 1.2 s for the grouped-map lane at
    sf0.01). The fold form consumes each array input ONCE, so even a
    fully collapsed projection evaluates each EMA series a constant
    number of times; cost is O(n²) in cheap array copies per key
    (``concat`` re-copies the accumulator), with history n bounded
    per key and keys partitioning."""
    alpha = 2.0 / (span + 1.0)
    return F.aggregate(
        xs,
        F.array().cast("array<double>"),
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.when(F.size(acc) == 0, x).otherwise(
                    alpha * x + (1.0 - alpha) * F.element_at(acc, -1)
                )
            ),
        ),
    )


def macd_sql(
    df: DataFrame,
    value_col: str,
    keys: list[str] | str,
    order: str,
    fast: int = 12,
    slow: int = 26,
    signal_span: int = 9,
) -> DataFrame:
    """MACD(fast, slow, signal_span) — ``macd = ema(fast) - ema(slow)``,
    ``macd_signal = ema(macd, signal_span)``, ``macd_hist = macd -
    signal``, every EMA the ``adjust=False`` recurrence — inside the JVM
    end to end: ONE shuffle, no Python worker, no joins.

    One ``collect_list`` aggregate per key materializes the ordered
    value array; fast/slow/signal EMAs evaluate as three
    `ema_series_sql` folds plus `zip_with` arithmetic. Per-key cost is
    O(history²) array copies — history is calendar-bounded (daily
    bars), so this scales with KEY COUNT, each key a bounded constant.

    Returns (keys…, ``order``, macd, macd_signal, macd_hist) — one row
    per input row.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    # Force the groupBy's partition count: the shuffled rows are narrow
    # (key, date, double), so AQE's byte-based coalescing collapses the
    # aggregate to ONE partition and the interpreted EMA folds — the
    # expensive part, ~14 µs/row, invisible to byte statistics — run
    # serially (measured 0.77 s -> 0.40 s at x10 with 32 partitions).
    # An explicit-N repartition is exempt from AQE coalescing.
    n_shuffle = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    lists = df.repartition(n_shuffle, *keys).groupBy(*keys).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(order).alias("o"),
                                    F.col(value_col).alias("x")))
        ).alias("series")
    )
    xs = F.col("series.x")
    with_macd = lists.select(
        *keys,
        F.col("series.o").alias("os"),
        F.zip_with(
            ema_series_sql(xs, fast), ema_series_sql(xs, slow),
            lambda f, s: f - s,
        ).alias("ms"),
    )
    with_sig = with_macd.select(
        *keys,
        F.arrays_zip(
            "os", "ms", ema_series_sql(F.col("ms"), signal_span).alias("sig")
        ).alias("z"),
    )
    row = F.explode("z").alias("r")
    return with_sig.select(*keys, row).select(
        *keys,
        F.col("r.os").alias(order),
        F.col("r.ms").alias("macd"),
        F.col("r.sig").alias("macd_signal"),
        (F.col("r.ms") - F.col("r.sig")).alias("macd_hist"),
    )


def with_indicators(
    df: DataFrame,
    value_col: str,
    keys: list[str] | str,
    order: list[str] | str,
    sma_n: int = 14,
    rsi_n: int = 14,
    boll_n: int = 20,
    ema_span: int | None = None,
) -> DataFrame:
    """Attach SMA/RSI/Bollinger (and optionally EMA) in one pass — the
    server-side replacement for dashboard/components/indicators.py."""
    w = per_key_window(keys, order)
    v = F.col(value_col)
    mid, up, lo = bollinger(v, w, boll_n)
    out = (
        df.withColumn(f"sma_{sma_n}", sma(v, w, sma_n))
        .withColumn(f"rsi_{rsi_n}", rsi(v, w, rsi_n))
        .withColumn("boll_mid", mid)
        .withColumn("boll_upper", up)
        .withColumn("boll_lower", lo)
    )
    if ema_span:
        out = ema(out, value_col, keys, order, span=ema_span)
    return out


def holt_linear(
    df: DataFrame,
    value_col: str,
    keys: list[str] | str,
    order: list[str] | str,
    alpha: float = 0.3,
    beta: float = 0.1,
    anchor_dp: int = 8,
) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) — the recursive
    time-series operator one step past EMA (W7): two coupled
    recurrences, inherently sequential per key, run in the
    grouped-sorted mapInPandas lane:

        l_t = α·x_t + (1−α)·(l_{t-1} + b_{t-1})
        b_t = β·(l_t − l_{t-1}) + (1−β)·b_{t-1}

    with l_1 = x_1, b_1 = 0. After every step, level and trend round to
    ``anchor_dp`` decimals using the engine-wide portable rounding
    (floor(x·10ⁿ+0.5)/10ⁿ — functions/numeric.pround's exact IEEE
    recipe, replicated here with numpy): the cross-engine determinism
    anchor that lets a recursive-CTE SQL oracle replay the identical
    fixed-point trajectory (the k-means / power-iteration discipline
    applied to a per-key recurrence).

    Adds ``{value}_level``, ``{value}_trend``, ``{value}_forecast``
    (one-step-ahead = level + trend).
    """
    from .grouped import grouped_sorted_map

    keys = [keys] if isinstance(keys, str) else keys
    order = [order] if isinstance(order, str) else order
    f = float(10**anchor_dp)
    schema_parts = [
        f"{fld.name} {fld.dataType.simpleString()}" for fld in df.schema.fields
    ]
    out_schema = ", ".join(
        schema_parts
        + [
            f"{value_col}_level double",
            f"{value_col}_trend double",
            f"{value_col}_forecast double",
        ]
    )

    def fn(pdf):
        import numpy as np

        pdf = pdf.copy()

        def one(s):
            x = s.to_numpy(dtype=np.float64)
            lv = np.empty_like(x)
            tr = np.empty_like(x)
            l_prev, b_prev = x[0], 0.0
            lv[0], tr[0] = l_prev, b_prev
            for t in range(1, len(x)):
                l_t = np.floor((alpha * x[t] + (1.0 - alpha) * (l_prev + b_prev)) * f + 0.5) / f
                b_t = np.floor((beta * (l_t - l_prev) + (1.0 - beta) * b_prev) * f + 0.5) / f
                lv[t], tr[t] = l_t, b_t
                l_prev, b_prev = l_t, b_t
            return lv, tr

        levels = np.empty(len(pdf))
        trends = np.empty(len(pdf))
        pos = 0
        for _, g in pdf.groupby(keys, sort=False):
            lv, tr = one(g[value_col])
            levels[pos : pos + len(lv)] = lv
            trends[pos : pos + len(tr)] = tr
            pos += len(lv)
        pdf[f"{value_col}_level"] = levels
        pdf[f"{value_col}_trend"] = trends
        pdf[f"{value_col}_forecast"] = levels + trends
        return pdf

    return grouped_sorted_map(df, keys, order, fn, out_schema)
