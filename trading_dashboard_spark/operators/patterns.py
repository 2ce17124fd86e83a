"""Trading-pattern detection — trends, MA crossovers, volatility.

Spark re-expression of the reference's three INSERT…SELECT pattern
detectors (full_stock_pipeline.py:425-489), generalized over any
(key, time, price) series. Output rows match the reference's
``trading_patterns`` shape: (key, time, pattern_category, pattern,
confidence_score).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import pround
from .relational import safe_div
from .windows import per_key_window, rolling


def detect_trends(
    df: DataFrame, key: str, time: str, price: str, confidence: float = 0.8
) -> DataFrame:
    """3-day monotone trend → Bullish/Bearish (full_stock_pipeline.py:434-443).

    close > lag1 > lag2 → 'Bullish Trend'; close < lag1 < lag2 →
    'Bearish Trend'; rows with fewer than 2 prior points emit nothing.
    """
    w = per_key_window(key, time)
    c = F.col(price)
    lagged = df.select(
        F.col(key).alias("key"),
        F.col(time).alias("time"),
        c.alias("price"),
        F.lag(c, 1).over(w).alias("l1"),
        F.lag(c, 2).over(w).alias("l2"),
    )
    p, l1, l2 = F.col("price"), F.col("l1"), F.col("l2")
    pattern = (
        F.when((p > l1) & (l1 > l2), F.lit("Bullish Trend"))
        .when((p < l1) & (l1 < l2), F.lit("Bearish Trend"))
    )
    return (
        lagged.select("key", "time", pattern.alias("pattern"))
        .filter(F.col("pattern").isNotNull())
        .withColumn("pattern_category", F.lit("Trend"))
        .withColumn("confidence_score", F.lit(confidence))
    )


def detect_ma_cross(
    df: DataFrame,
    key: str,
    time: str,
    price: str,
    short_n: int = 50,
    long_n: int = 200,
    confidence: float = 0.9,
) -> DataFrame:
    """Golden/Death cross via short/long moving averages
    (full_stock_pipeline.py:452-471).

    SQL partial-mean frames (no min_periods), matching the reference's
    ``ROWS BETWEEN 49/199 PRECEDING`` semantics. A cross fires only on the
    row where the relation flips vs the previous row.
    """
    df2 = df.select(
        F.col(key).alias("key"), F.col(time).alias("time"), F.col(price).alias("price")
    )
    w = per_key_window("key", "time")
    c = F.col("price")
    df2 = df2.withColumn("ma_s", rolling(c, w, short_n, "avg")).withColumn(
        "ma_l", rolling(c, w, long_n, "avg")
    )
    above = (F.col("ma_s") > F.col("ma_l")).cast("int")
    prev_above = F.lag(above, 1).over(w)
    pattern = (
        F.when((above == 1) & (prev_above == 0), F.lit("Golden Cross"))
        .when((above == 0) & (prev_above == 1), F.lit("Death Cross"))
    )
    return (
        df2.withColumn("pattern", pattern)
        .filter(F.col("pattern").isNotNull())
        .select("key", "time", "pattern")
        .withColumn("pattern_category", F.lit("Moving_Averages"))
        .withColumn("confidence_score", F.lit(confidence))
    )


def detect_volatility(
    df: DataFrame,
    key: str,
    time: str,
    high: str,
    low: str,
    threshold_pct: float = 5.0,
) -> DataFrame:
    """Intraday volatility > threshold% → 'High Volatility'
    (full_stock_pipeline.py:475-482).

    ``(high - low) / NULLIF(low, 0) * 100`` with the zero guard; the ratio
    itself is the confidence score, as in the reference (:478), rounded
    to 2 dp with the portable ``pround`` its oracles use.
    """
    vol = safe_div(F.col(high) - F.col(low), F.col(low)) * 100.0
    return (
        df.select(
            F.col(key).alias("key"),
            F.col(time).alias("time"),
            vol.alias("vol_pct"),
        )
        .filter(F.col("vol_pct") > threshold_pct)
        .select(
            "key",
            "time",
            F.lit("High Volatility").alias("pattern"),
            F.lit("Volatility").alias("pattern_category"),
            pround("vol_pct", 2).alias("confidence_score"),
        )
    )
