"""End-to-end pipeline tests — synthetic JSON landing → normalize → merge →
patterns (SURVEY.md §5 item 3), plus the news-correlation pipeline."""

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from trading_dashboard_spark.pipelines.news_pipeline import correlate_signal_with_price
from trading_dashboard_spark.pipelines.stock_pipeline import (
    derive_patterns,
    normalize_staging,
    run_stock_pipeline,
)
from trading_dashboard_spark.sources import (
    RateLimit,
    fetch_quotes_distributed,
    write_landing_json,
)


@pytest.fixture
def landing(tmp_path):
    """FIXTURES.md §1.3 raw-quote landing: one JSON list per (symbol, day),
    including a mismatched-date row to exercise the partition date filter
    (full_stock_pipeline.py:207)."""
    day = tmp_path / "landing" / "2024" / "01" / "08"
    day.mkdir(parents=True)
    rows_a = [
        {"symbol": "AAA", "date": "2024-01-08", "o": 10.0, "h": 12.0, "l": 9.0,
         "c": 11.0, "pc": 10.5, "d": 0.5, "dp": 4.7, "v": 1000},
        {"symbol": "AAA", "date": "2024-01-07", "o": 1.0, "h": 1.0, "l": 1.0,
         "c": 1.0, "pc": 1.0, "d": 0.0, "dp": 0.0, "v": 1},  # wrong date -> filtered
    ]
    rows_b = [
        {"symbol": "BBB", "date": "2024-01-08", "o": 5.0, "h": 5.6, "l": 4.0,
         "c": 5.5, "pc": None, "d": None, "dp": None, "v": None},  # null guards
    ]
    (day / "AAA_quote.json").write_text("\n".join(json.dumps(r) for r in rows_a))
    (day / "BBB_quote.json").write_text("\n".join(json.dumps(r) for r in rows_b))
    return str(tmp_path / "landing")


def test_stock_pipeline_end_to_end_and_idempotent(spark, landing, tmp_path):
    hist = str(tmp_path / "history")
    pats = str(tmp_path / "patterns")
    counts1 = run_stock_pipeline(spark, landing, hist, pats, "2024", "01", "08")
    assert counts1["staging_rows"] == 2  # mismatched date filtered out
    assert counts1["history_rows"] == 2

    history = spark.read.parquet(hist)
    row = {r["symbol"]: r for r in history.collect()}
    assert row["AAA"]["closing_price"] == 11.0
    assert row["AAA"]["previous_closing_price"] == 10.5  # feed fallback
    assert row["BBB"]["traded_volume"] == 0  # null -> 0 fill
    assert "year" in history.columns  # partition column (S16)

    # re-running the same day is a no-op (ON CONFLICT semantics)
    counts2 = run_stock_pipeline(spark, landing, hist, pats, "2024", "01", "08")
    assert counts2["history_rows"] == counts1["history_rows"]
    assert counts2["pattern_rows"] == counts1["pattern_rows"]


def test_stock_pipeline_consecutive_days_accumulate(spark, tmp_path):
    """Three consecutive trading days each add their rows to history
    (2, 4, 6), patterns equal ``derive_patterns(history)`` on their keys,
    and re-running an earlier day after a later one changes neither
    table."""
    landing = tmp_path / "landing"
    for i, day in enumerate(("08", "09", "10")):
        ddir = landing / "2024" / "01" / day
        ddir.mkdir(parents=True)
        for sym, base in (("AAA", 10.0), ("BBB", 20.0)):
            c = base + 2 * i
            row = {"symbol": sym, "date": f"2024-01-{day}", "o": c - 1, "h": c * 1.1,
                   "l": c - 1, "c": c, "pc": c - 2, "d": 2.0, "dp": 1.0, "v": 100 + i}
            (ddir / f"{sym}_quote.json").write_text(json.dumps(row))
    hist, pats = str(tmp_path / "history"), str(tmp_path / "patterns")
    keys = ["symbol", "trade_date", "pattern"]

    def tables():
        return (
            {tuple(r) for r in spark.read.parquet(hist).collect()},
            {tuple(r) for r in spark.read.parquet(pats).collect()},
        )

    counts = [
        run_stock_pipeline(spark, str(landing), hist, pats, "2024", "01", day)["history_rows"]
        for day in ("08", "09", "10")
    ]
    assert counts == [2, 4, 6]
    history = spark.read.parquet(hist)
    assert {tuple(r) for r in history.groupBy("symbol").count().collect()} == {
        ("AAA", 3), ("BBB", 3)
    }
    assert {tuple(r) for r in spark.read.parquet(pats).select(*keys).collect()} == {
        tuple(r) for r in derive_patterns(history).select(*keys).collect()
    }

    before = tables()
    again = run_stock_pipeline(spark, str(landing), hist, pats, "2024", "01", "09")
    assert again["history_rows"] == 6
    assert tables() == before


def test_stock_pipeline_rerun_with_failed_fetch_keeps_history(spark, tmp_path):
    """Re-running a day whose fetch failed for one symbol leaves that
    symbol's history row as it was: the fetch's row of nulls is dropped in
    staging instead of upserting NULL prices over a good close."""
    symbols = spark.createDataFrame([("AAA",), ("BBB",)], ["symbol"])
    landing = str(tmp_path / "landing")
    hist, pats = str(tmp_path / "history"), str(tmp_path / "patterns")
    rate = RateLimit(sleep_s=0.0, retry_sleep_s=0.0, max_retries=0)

    def fetcher_failing_for(failing):
        def fetch(symbol: str) -> dict:
            if symbol == failing:
                raise RuntimeError("simulated transport failure")
            c = 10.0 if symbol == "AAA" else 20.0
            return {"o": c, "h": c + 1, "l": c - 1, "c": c, "pc": c - 0.5,
                    "d": 0.5, "dp": 5.0, "v": 100}

        return fetch

    def run_day(failing):
        quotes = fetch_quotes_distributed(
            symbols, fetcher_failing_for(failing), rate, date="2024-01-08"
        )
        write_landing_json(quotes, landing, "2024", "01", "08")
        return run_stock_pipeline(spark, landing, hist, pats, "2024", "01", "08")

    def closes():
        return {r["symbol"]: r["closing_price"] for r in spark.read.parquet(hist).collect()}

    first = run_day(failing=None)
    assert closes() == {"AAA": 10.0, "BBB": 20.0}
    again = run_day(failing="BBB")
    assert again["staging_rows"] == 1
    assert again["history_rows"] == first["history_rows"] == 2
    assert closes() == {"AAA": 10.0, "BBB": 20.0}


def test_derive_patterns_shapes(spark):
    rows = []
    # Bullish: 3 rising closes; volatility: (h-l)/l > 5%
    closes = [10.0, 11.0, 12.0, 13.0]
    for i, c in enumerate(closes):
        rows.append(("SYM", dt.date(2024, 1, 1 + i), c, c + 1.0, c - 0.1))
    df = spark.createDataFrame(
        rows, ["symbol", "trade_date", "closing_price", "highest_price", "lowest_price"]
    )
    out = derive_patterns(df)
    cats = {r["pattern"] for r in out.collect()}
    assert "Bullish Trend" in cats and "High Volatility" in cats


def test_detect_trends_computes_each_lag_window_once(spark):
    """The trend CASE uses lag 1 four times and lag 2 twice; the plan's
    one Window node computes each of them once."""
    from trading_dashboard_spark.operators.patterns import detect_trends

    df = spark.createDataFrame(
        [("S", t, c) for t, c in enumerate([1.0, 2.0, 3.0, 2.0, 1.0])],
        "k string, t int, c double",
    )
    out = detect_trends(df, "k", "t", "c")
    assert sorted((r["time"], r["pattern"]) for r in out.collect()) == [
        (2, "Bullish Trend"), (4, "Bearish Trend")
    ]
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    windows = [line for line in plan.splitlines() if "Window [" in line]
    assert len(windows) == 1
    assert windows[0].count("windowspecdefinition") == 2


def test_volatility_confidence_rounds_like_its_oracle(spark, sf_dir, tmp_path):
    """High 288.07 over low 40.0 is a ratio of 620.1749…: Spark's
    ``round`` gives 620.18, the portable floor form of the
    `trading_patterns_top100` oracle 620.17. The loader equals its
    oracle when that day is the latest one."""
    import shutil

    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tools.check_oracle import compare
    from trading_dashboard_spark.io.readers import table_path
    from trading_dashboard_spark.queries import QUERY_REGISTRY

    d = str(tmp_path)
    shutil.copy(table_path("customer", sf_dir), table_path("customer", d))
    day_us = 86_400_000_000
    t0 = 1_704_067_200_000_000  # 2024-01-01
    ticks = [(2, t0, 10.0), (1, t0 + 4 * day_us, 40.0),
             (1, t0 + 4 * day_us + 60_000_000, 288.07),
             (1, t0 + 4 * day_us + 120_000_000, 150.0)]
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(ticks)), pa.int64()),
        "ts": pa.array([t for _u, t, _v in ticks], pa.timestamp("us")),
        "user_id": pa.array([u for u, _t, _v in ticks], pa.int64()),
        "event_type": ["click"] * len(ticks),
        "value": pa.array([v for _u, _t, v in ticks], pa.float64()),
        "props": ['{"k": 1}'] * len(ticks),
    }), table_path("events", d))

    spec = QUERY_REGISTRY["trading_patterns_top100"]
    df = spec.fn(spark, d)
    got = pd.DataFrame.from_records(df.collect(), columns=df.columns)
    con = duckdb.connect()
    for t in spec.inputs:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{table_path(t, d)}')")
    want = con.execute(spec.oracle).fetchdf()
    con.close()
    assert want["confidence_score"].tolist() == [620.17]
    problems = compare("trading_patterns_top100", got, want)
    assert not problems, problems


def test_correlate_signal_with_price_defaults(spark):
    news = spark.createDataFrame(
        [("A", dt.date(2024, 1, 2), 0.5), ("B", dt.date(2024, 1, 2), -0.5)],
        ["symbol", "news_date", "sentiment_score"],
    )
    price = spark.createDataFrame(
        [("A", dt.date(2024, 1, 2), 11.0, 10.0, 12.0, 9.0)],
        ["symbol", "trade_date", "closing_price", "previous_closing_price",
         "highest_price", "lowest_price"],
    )
    out = {r["symbol"]: r for r in correlate_signal_with_price(news, price).collect()}
    assert out["A"]["price_direction"] == "Up"
    assert abs(out["A"]["price_change"] - 10.0) < 1e-9
    # unmatched symbol gets COALESCE defaults (analyze_news_stock_patterns.py:34-44)
    assert out["B"]["price_direction"] == "Unknown"
    assert out["B"]["price_change"] == 0.0 and out["B"]["volatility_score"] == 0.0
