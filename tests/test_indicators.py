"""Indicator parity tests — engine windows must equal the reference's pandas
implementations (dashboard/components/indicators.py:1-27) per symbol on a
seeded random walk (SURVEY.md §5 item 4)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from trading_dashboard_spark.operators.indicators import bollinger, ema, rsi, sma
from trading_dashboard_spark.operators.windows import per_key_window


@pytest.fixture(scope="module")
def walk(spark):
    rng = np.random.RandomState(7)
    rows = []
    for sym in ["A", "B"]:
        prices = 100 + np.cumsum(rng.normal(0, 2, size=60)).round(2)
        rows += [(sym, i, float(p)) for i, p in enumerate(prices)]
    # single-row partition edge case
    rows.append(("C", 0, 42.0))
    pdf = pd.DataFrame(rows, columns=["sym", "t", "close"])
    return spark.createDataFrame(pdf), pdf


def _pandas_indicators(pdf):
    """The reference's exact pandas formulas (indicators.py:1-27)."""
    out = {}
    for sym, g in pdf.groupby("sym"):
        g = g.sort_values("t")
        data = pd.DataFrame(index=g.index)
        data["sma"] = g["close"].rolling(window=14).mean()
        data["ema"] = g["close"].ewm(span=14, adjust=False).mean()
        delta = g["close"].diff(1)
        # exact reference expressions (indicators.py:14-15): `where` turns
        # the first row's NaN diff into 0, so RSI first emits at index n-1
        avg_gain = (delta.where(delta > 0, 0)).rolling(window=14).mean()
        avg_loss = (-delta.where(delta < 0, 0)).rolling(window=14).mean()
        rs = avg_gain / avg_loss
        data["rsi"] = 100 - (100 / (1 + rs))
        data["boll_mid"] = g["close"].rolling(window=20).mean()
        std = g["close"].rolling(window=20).std()
        data["boll_up"] = data["boll_mid"] + 2 * std
        data["boll_lo"] = data["boll_mid"] - 2 * std
        data["t"] = g["t"].values
        out[sym] = data
    return out


def test_indicators_match_pandas(spark, walk):
    sdf, pdf = walk
    w = per_key_window("sym", "t")
    c = F.col("close")
    mid, up, lo = bollinger(c, w, 20)
    got = (
        sdf.withColumn("sma", sma(c, w, 14))
        .withColumn("rsi", rsi(c, w, 14))
        .withColumn("boll_mid", mid)
        .withColumn("boll_up", up)
        .withColumn("boll_lo", lo)
    )
    got = ema(got, "close", "sym", "t", span=14, out_col="ema").toPandas()

    expected = _pandas_indicators(pdf)
    for sym, exp in expected.items():
        g = got[got.sym == sym].sort_values("t").reset_index(drop=True)
        e = exp.sort_values("t").reset_index(drop=True)
        for col in ["sma", "ema", "rsi", "boll_mid", "boll_up", "boll_lo"]:
            a, b = g[col].to_numpy(), e[col].to_numpy()
            mask = ~np.isnan(b)
            assert np.allclose(a[mask].astype(float), b[mask], atol=1e-9), (sym, col)
            assert np.isnan(a[~mask].astype(float)).all() or (a[~mask] == None).all()  # noqa: E711


def test_rsi_loss_zero_is_100(spark):
    # monotonically rising -> avg_loss = 0 -> RSI pegged at 100 (indicators.py:16-17)
    df = spark.createDataFrame(
        [("A", i, float(100 + i)) for i in range(20)], ["sym", "t", "close"]
    )
    w = per_key_window("sym", "t")
    out = df.withColumn("rsi", rsi(F.col("close"), w, 14)).orderBy("t").collect()
    assert all(r["rsi"] == 100.0 for r in out[14:])


def test_rsi_flat_is_null(spark):
    df = spark.createDataFrame(
        [("A", i, 50.0) for i in range(20)], ["sym", "t", "close"]
    )
    w = per_key_window("sym", "t")
    out = df.withColumn("rsi", rsi(F.col("close"), w, 14)).orderBy("t").collect()
    assert all(r["rsi"] is None for r in out)


# --- property-based: engine == pandas for ARBITRARY price series ---------
try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _series = st.lists(
        st.floats(
            min_value=0.01, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=40,
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(prices=_series)
    def test_property_indicators_match_pandas(spark, prices):
        """For any positive price series — spikes, constants, fewer rows
        than the window — SMA/EMA/RSI must equal the reference's pandas
        formulas exactly (NaN positions included)."""
        pdf = pd.DataFrame(
            {"sym": "P", "t": range(len(prices)), "close": [float(p) for p in prices]}
        )
        sdf = spark.createDataFrame(pdf)
        w = per_key_window("sym", "t")
        c = F.col("close")
        got = sdf.withColumn("sma", sma(c, w, 14)).withColumn("rsi", rsi(c, w, 14))
        got = (
            ema(got, "close", "sym", "t", span=14, out_col="ema")
            .orderBy("t")
            .toPandas()
        )

        g = pdf.sort_values("t")
        exp_sma = g["close"].rolling(window=14).mean().to_numpy()
        exp_ema = g["close"].ewm(span=14, adjust=False).mean().to_numpy()
        delta = g["close"].diff(1)
        avg_gain = (delta.where(delta > 0, 0)).rolling(window=14).mean()
        avg_loss = (-delta.where(delta < 0, 0)).rolling(window=14).mean()
        exp_rsi = (100 - 100 / (1 + avg_gain / avg_loss)).to_numpy()

        for col, exp in [("sma", exp_sma), ("ema", exp_ema), ("rsi", exp_rsi)]:
            a = got[col].to_numpy(dtype=float)
            mask = ~np.isnan(exp)
            assert np.allclose(a[mask], exp[mask], rtol=1e-9, atol=1e-9), col
            assert np.isnan(a[~mask]).all(), col

except ImportError:  # pragma: no cover - hypothesis is in the base image
    pass


def test_holt_linear_matches_reference_recurrence(spark):
    """holt_linear equals the plain-python Holt recurrence (with the same
    8dp step anchors) on a known series, including the l1=x1, b1=0
    init."""
    import math

    from trading_dashboard_spark.operators.indicators import holt_linear

    xs = [10.0, 12.0, 11.0, 15.0, 14.5, 16.25]
    df = spark.createDataFrame(
        [("k", i, x) for i, x in enumerate(xs)], "key string, t int, x double"
    )
    out = {
        r["t"]: (r["x_level"], r["x_trend"])
        for r in holt_linear(df, "x", ["key"], ["t"]).collect()
    }
    f = 1e8
    l, b = xs[0], 0.0
    assert out[0] == (l, b)
    for t in range(1, len(xs)):
        l_new = math.floor((0.3 * xs[t] + 0.7 * (l + b)) * f + 0.5) / f
        b = math.floor((0.1 * (l_new - l) + 0.9 * b) * f + 0.5) / f
        l = l_new
        assert out[t] == (l, b), t


def test_macd_three_lanes_agree(spark):
    """Three independent MACD computations agree to float noise: the
    `macd_sql` fold (the one Spark lane), the pandas chain
    ``ewm(span, adjust=False)`` for the fast, slow and signal EMAs, and a
    plain-python EMA recurrence. Keys of 1, 3, 40, 80 and 700 rows run
    from a single-row key (every EMA equals the value, so macd, signal
    and histogram are 0) through a long one."""
    from trading_dashboard_spark.operators.indicators import macd_sql

    def ema_py(xs, span):
        a = 2.0 / (span + 1)
        out = [xs[0]]
        for x in xs[1:]:
            out.append(a * x + (1 - a) * out[-1])
        return out

    rng = np.random.default_rng(11)
    rows = []
    for k, n in (("a", 1), ("b", 3), ("c", 40), ("d", 80), ("e", 700)):
        for i, v in enumerate(rng.normal(100, 15, n)):
            rows.append((k, i, float(v)))
    pdf = pd.DataFrame(rows, columns=["sym", "t", "close"])

    g = pdf.groupby("sym")["close"]
    fast = g.transform(lambda s: s.ewm(span=12, adjust=False).mean())
    slow = g.transform(lambda s: s.ewm(span=26, adjust=False).mean())
    pdf["macd"] = fast - slow
    pdf["macd_signal"] = pdf.groupby("sym")["macd"].transform(
        lambda s: s.ewm(span=9, adjust=False).mean()
    )
    pdf["macd_hist"] = pdf["macd"] - pdf["macd_signal"]
    exp = pdf.sort_values(["sym", "t"]).reset_index(drop=True)

    got = (
        macd_sql(spark.createDataFrame(pdf[["sym", "t", "close"]]),
                 "close", "sym", "t")
        .toPandas().sort_values(["sym", "t"]).reset_index(drop=True)
    )
    assert list(got.columns) == ["sym", "t", "macd", "macd_signal", "macd_hist"]
    assert got[["sym", "t"]].equals(exp[["sym", "t"]])
    for col in ("macd", "macd_signal", "macd_hist"):
        assert np.allclose(
            got[col].to_numpy(float), exp[col].to_numpy(float), atol=1e-9
        ), col
    for sym, g in exp.groupby("sym"):
        xs = g["close"].tolist()
        m = [f - s for f, s in zip(ema_py(xs, 12), ema_py(xs, 26))]
        sig = ema_py(m, 9)
        hist = [a - b for a, b in zip(m, sig)]
        mine = got[got.sym == sym]
        for col, ref in (("macd", m), ("macd_signal", sig), ("macd_hist", hist)):
            assert np.allclose(mine[col].to_numpy(float), ref, atol=1e-9), (
                sym, col,
            )
    single = got[got.sym == "a"].iloc[0]
    assert single.macd == pytest.approx(0.0)
    assert single.macd_hist == pytest.approx(0.0)


def test_macd_indicator_runs_only_the_fold(spark, sf_dir):
    """A warmed `macd_indicator` call starts no more Spark jobs than
    `macd_sql` over the same cached `_daily_close` bars: the bars are
    not checkpointed a second time."""
    from test_plan_cache import _jobs

    from trading_dashboard_spark.operators.indicators import macd_sql
    from trading_dashboard_spark.queries_windows import macd_indicator
    from trading_dashboard_spark.query_registry import _daily_close

    sc = spark.sparkContext

    def query():
        return macd_indicator(spark, sf_dir).collect()

    def fold():
        daily = _daily_close(spark, sf_dir).select("user_id", "d", "close")
        return macd_sql(daily, "close", "user_id", "d", 12, 26, 9).collect()

    query(), fold()  # warm: the bars are cached
    rows, n_query = _jobs(sc, "macd-indicator", query)
    _, n_fold = _jobs(sc, "macd-fold", fold)
    assert rows
    assert n_query <= n_fold, (n_query, n_fold)
