"""Dashboard-loader parity queries — named 1:1 counterparts of the
reference Streamlit dashboard's remaining ``data_loader`` functions
(dashboard/utils/data_loader.py:60-232), re-expressed over the engine's
testdata series (events → per-(user, day) bars; ``customer`` as the
company dimension, ``c_custkey`` standing in for market-cap rank).

Each query is a thin composition of already-proven operators — the point
of this module is nominal parity: a user porting the dashboard finds every
loader by name, each with a DuckDB oracle.
"""

from pyspark.sql import Window as W, functions as F

from .query_registry import (
    DAILY_SQL,
    LATEST_CLOSE_SQL,
    _daily_close,
    _latest_close,
    _latest_movers,
    _t,
    latest_movers_sql,
    pround,
    register,
)

_WIN = "PARTITION BY user_id ORDER BY d"


@register(
    "top_losers",
    latest_movers_sql(descending=False),
    tags=("dashboard", "J1", "J4", "W1", "O3", "P18"),
    inputs=("events", "customer"),
)
def top_losers(spark, sf_dir):
    """`load_top_losers` (data_loader.py:157-180) — the ASC twin of the
    flagship top-gainers query: window lag (W1) + latest-per-key (J4) +
    broadcast dim join (J1) + pct-change (P18) + bottom-k (O3)."""
    return _latest_movers(spark, sf_dir, descending=False)


@register(
    "high_volatility_top10",
    f"""
    WITH {DAILY_SQL},
    latest AS (SELECT max(d) AS mx FROM daily)
    SELECT d.user_id,
           strftime(d.d, '%Y-%m-%d') AS trade_date,
           round(d.close, 2) AS close,
           round(d.high - d.low, 2) AS price_range,
           round((d.high - d.low) / d.low * 100, 2) AS pct_range
    FROM daily d JOIN latest l ON d.d = l.mx
    WHERE d.low <> 0
    ORDER BY pct_range DESC, d.user_id
    LIMIT 10
    """,
    tags=("dashboard", "J6", "O3", "P18", "P8"),
    inputs=("events",),
)
def high_volatility_top10(spark, sf_dir):
    """`load_high_volatility_stocks` (data_loader.py:219-232) — latest
    trade date via uncorrelated scalar subquery (J6 as broadcast
    single-row join), intraday range percent (P18) with the zero guard
    (P8), top-10 (O3)."""
    daily = _daily_close(spark, sf_dir)
    latest = daily.agg(F.max("d").alias("mx"))
    return (
        daily.join(F.broadcast(latest), daily.d == F.col("mx"))
        .filter(F.col("low") != 0)
        .select(
            "user_id",
            F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
            pround("close", 2).alias("close"),
            pround(F.col("high") - F.col("low"), 2).alias("price_range"),
            pround((F.col("high") - F.col("low")) / F.col("low") * 100, 2).alias(
                "pct_range"
            ),
        )
        .orderBy(F.col("pct_range").desc(), "user_id")
        .limit(10)
    )


@register(
    "latest_prediction_per_symbol",
    f"""
    WITH {DAILY_SQL}, {LATEST_CLOSE_SQL}
    SELECT user_id,
           strftime(d + INTERVAL 1 DAY, '%Y-%m-%d') AS trade_date,
           round(close, 2) AS previous_closing_price,
           round(2 * close - prev_close, 2) AS predicted_closing_price
    FROM latest_close
    WHERE prev_close IS NOT NULL
    """,
    tags=("dashboard", "O4", "W1", "F9"),
    inputs=("events",),
)
def latest_prediction_per_symbol(spark, sf_dir):
    """`load_stock_predictions` (data_loader.py:60-71) — latest prediction
    row per symbol (O4 latest-1 per key, done for every key at once). The
    served prediction is the momentum extrapolation ``2*close -
    prev_close`` stamped ``trade_date + 1`` — the date-shift convention of
    the reference's predictor (analyze_news_stock_patterns.py:217); the
    full two-stage-regression serving path lives in
    ``ml_next_day_prediction`` (ml/predictor.py)."""
    latest = _latest_close(spark, sf_dir)
    return latest.filter(F.col("prev_close").isNotNull()).select(
        "user_id",
        F.date_format(F.date_add("d", 1), "yyyy-MM-dd").alias("trade_date"),
        pround("close", 2).alias("previous_closing_price"),
        pround(2 * F.col("close") - F.col("prev_close"), 2).alias(
            "predicted_closing_price"
        ),
    )


@register(
    "company_news_latest5",
    """
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS news_ts,
           event_type AS source,
           round(value, 2) AS value
    FROM events
    WHERE user_id = 1
    ORDER BY ts DESC, event_id DESC
    LIMIT 5
    """,
    tags=("dashboard", "P5", "O2", "O5"),
    inputs=("events",),
)
def company_news_latest5(spark, sf_dir):
    """`load_company_news` (data_loader.py:83-94) — per-symbol latest-5
    feed: equality filter on the key (P5, pushed to the scan), sort desc
    (O2), head-5 (O5 → TakeOrderedAndProject). The probe key is fixed the
    way the dashboard fixes its selected symbol."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("user_id") == 1)
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(5)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("news_ts"),
            F.col("event_type").alias("source"),
            pround("value", 2).alias("value"),
        )
    )


@register(
    "trading_patterns_top100",
    f"""
    WITH {DAILY_SQL},
    lagged AS (
      SELECT user_id, d, close,
             lag(close, 1) OVER ({_WIN}) AS l1,
             lag(close, 2) OVER ({_WIN}) AS l2
      FROM daily
    ),
    pats AS (
      SELECT user_id, d,
             CASE WHEN close > l1 AND l1 > l2 THEN 'Bullish Trend'
                  ELSE 'Bearish Trend' END AS pattern,
             'Trend' AS pattern_category,
             CAST(0.8 AS DOUBLE) AS confidence_score
      FROM lagged
      WHERE (close > l1 AND l1 > l2) OR (close < l1 AND l1 < l2)
      UNION ALL
      SELECT user_id, d, 'High Volatility' AS pattern,
             'Volatility' AS pattern_category,
             round((high - low) / nullif(low, 0) * 100, 2) AS confidence_score
      FROM daily
      WHERE (high - low) / nullif(low, 0) * 100 > 400
    ),
    latest AS (SELECT max(d) AS mx FROM pats)
    SELECT p.user_id AS symbol, c.c_name AS company_name, p.pattern,
           strftime(p.d, '%Y-%m-%d') AS trade_date,
           p.confidence_score, p.pattern_category
    FROM pats p
    JOIN latest l ON p.d = l.mx
    JOIN customer c ON p.user_id = c.c_custkey
    ORDER BY p.user_id ASC, p.pattern_category, p.pattern
    LIMIT 100
    """,
    tags=("dashboard", "J3", "J6", "O5", "patterns"),
    inputs=("events", "customer"),
)
def trading_patterns_top100(spark, sf_dir):
    """`load_trading_patterns` (data_loader.py:106-120) — the detected
    patterns table (union of the trend + volatility detectors,
    full_stock_pipeline.py:425-489) restricted to its latest trade date
    (J6), enriched with the broadcast company dim (J3), ordered by rank
    (``c_custkey`` is the rank surrogate) with a full tiebreak, LIMIT 100
    (O5)."""
    from .operators.patterns import detect_trends, detect_volatility

    daily = _daily_close(spark, sf_dir)
    pats = detect_trends(daily, "user_id", "d", "close").unionByName(
        detect_volatility(daily, "user_id", "d", "high", "low", threshold_pct=400.0)
    )
    latest = pats.agg(F.max("time").alias("mx"))
    cust = _t(spark, sf_dir, "customer")
    return (
        pats.join(F.broadcast(latest), pats.time == F.col("mx"))
        .join(F.broadcast(cust), pats.key == cust.c_custkey)
        .select(
            F.col("key").alias("symbol"),
            F.col("c_name").alias("company_name"),
            "pattern",
            F.date_format("time", "yyyy-MM-dd").alias("trade_date"),
            "confidence_score",
            "pattern_category",
        )
        .orderBy(F.col("symbol").asc(), "pattern_category", "pattern")
        .limit(100)
    )


@register(
    "company_list",
    """
    SELECT DISTINCT c_name AS company_name, c_custkey AS symbol_key,
           c_custkey AS market_cap_rank
    FROM customer
    ORDER BY market_cap_rank ASC
    LIMIT 200
    """,
    tags=("dashboard", "A5", "O1"),
    inputs=("customer",),
)
def company_list(spark, sf_dir):
    """`load_company_list` (data_loader.py:22-40) — the sidebar dropdown
    feed: DISTINCT over the company dimension ordered by rank (A5 + O1;
    ``c_custkey`` is the rank surrogate, as everywhere in this suite)."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.select(
            F.col("c_name").alias("company_name"),
            F.col("c_custkey").alias("symbol_key"),
            F.col("c_custkey").alias("market_cap_rank"),
        )
        .distinct()
        .orderBy(F.col("market_cap_rank").asc())
        .limit(200)
    )


@register(
    "stock_history_range",
    f"""
    WITH {DAILY_SQL}
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           round(close, 2) AS close, round(high, 2) AS high,
           round(low, 2) AS low, n_events
    FROM daily
    WHERE user_id = 7 AND d BETWEEN DATE '2024-01-05' AND DATE '2024-01-20'
    ORDER BY d DESC
    """,
    tags=("dashboard", "P5", "P6", "O2"),
    inputs=("events",),
)
def stock_history_range(spark, sf_dir):
    """`load_stock_data` (data_loader.py:42-57) — one company's bars over
    a date range: equality filter on the key (P5) + BETWEEN on the date
    (P6), newest first (O2). Both predicates sit below the aggregation's
    group keys, so they reach the scan."""
    daily = _daily_close(spark, sf_dir)
    return (
        daily.filter(
            (F.col("user_id") == 7)
            & F.col("d").between(F.lit("2024-01-05"), F.lit("2024-01-20"))
        )
        .select(
            "user_id",
            F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
            pround("close", 2).alias("close"),
            pround("high", 2).alias("high"),
            pround("low", 2).alias("low"),
            "n_events",
        )
        .orderBy(F.col("trade_date").desc())
    )


@register(
    "market_trends_latest",
    f"""
    WITH {DAILY_SQL},
    seq AS (
      SELECT user_id, d, close,
             lag(close) OVER ({_WIN}) AS prev_close
      FROM daily
    ),
    latest AS (SELECT max(d) AS mx FROM daily)
    SELECT s.user_id, round(s.close, 2) AS close,
           round(s.close - s.prev_close, 2) AS price_change,
           round((s.close - s.prev_close) / s.prev_close * 100, 2) AS percent_change
    FROM seq s JOIN latest l ON s.d = l.mx
    WHERE s.prev_close IS NOT NULL AND s.prev_close <> 0
    ORDER BY percent_change DESC, s.user_id
    LIMIT 10
    """,
    tags=("dashboard", "J6", "W1", "O3", "P18"),
    inputs=("events",),
)
def market_trends_latest(spark, sf_dir):
    """`load_market_trends` (data_loader.py:181-199) — latest-date percent
    movers: uncorrelated max-date subquery (J6 as broadcast single-row
    join) over the lagged series (W1), zero-guard (P8), top-10 (O3)."""
    daily = _daily_close(spark, sf_dir).select("user_id", "d", "close")
    w = W.partitionBy("user_id").orderBy("d")
    seq = daily.withColumn("prev_close", F.lag("close").over(w))
    latest = daily.agg(F.max("d").alias("mx"))
    return (
        seq.join(F.broadcast(latest), seq.d == F.col("mx"))
        .filter(F.col("prev_close").isNotNull() & (F.col("prev_close") != 0))
        .select(
            "user_id",
            pround("close", 2).alias("close"),
            pround(F.col("close") - F.col("prev_close"), 2).alias("price_change"),
            pround(
                (F.col("close") - F.col("prev_close")) / F.col("prev_close") * 100, 2
            ).alias("percent_change"),
        )
        .orderBy(F.col("percent_change").desc(), "user_id")
        .limit(10)
    )
