"""The daily stock pipeline as one Spark job graph.

Reference DAG steps 2-7 (SURVEY.md §3.1): per-symbol JSON landing → filter/
enrich → staging normalize → window-merge into year-partitioned history →
pattern detection. Each Airflow task boundary (process fork + GCS/Postgres
round-trip) collapses into a stage of a single lazy plan; Catalyst sees the
whole pipeline and prunes/pushes across what used to be process boundaries.
The reference's company enrichment (rank, name, country) is not applied:
history keeps the landed quote columns.

Write layout mirrors create_partitions.py:16-25: history partitioned by
``year(trade_date)`` so partition pruning replaces Postgres partition
routing (S16). Both tables commit through ``io.writers``: history through
``merge_upsert_partitioned`` (S14, rewrites only the landed day's year
partition) and patterns through ``append_if_absent`` (S15, appends only new
keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io.readers import read_quote_landing
from ..io.writers import append_if_absent, merge_upsert_partitioned
from ..operators.patterns import detect_ma_cross, detect_trends, detect_volatility
from ..operators.windows import per_key_window, prev_available


def normalize_staging(raw: DataFrame) -> DataFrame:
    """Staging normalization (full_stock_pipeline.py:282-336): rename to
    history schema, cast, fill defaults (d/dp/v → 0, :300-311), derive
    previous close per symbol via window shift (:327).

    A row without a close is a failed fetch (``fetch_quotes_distributed``
    keeps it as a row of nulls) and is dropped: the reference lands a
    symbol's JSON only after a successful fetch (:105-111), and letting it
    through would upsert NULL prices over a day already in history."""
    df = (
        raw.select(
            F.col("symbol"),
            F.to_date("date").alias("trade_date"),
            F.col("o").cast("double").alias("opening_price"),
            F.col("h").cast("double").alias("highest_price"),
            F.col("l").cast("double").alias("lowest_price"),
            F.col("c").cast("double").alias("closing_price"),
            F.col("pc").cast("double").alias("feed_previous_close"),
            F.col("v").cast("long").alias("traded_volume"),
        )
        .na.fill({"traded_volume": 0})
        .na.drop(subset=["symbol", "trade_date", "closing_price"])
    )
    w = per_key_window("symbol", "trade_date")
    # previous close: last available close before this row, feed value as
    # fallback, else 0 — the COALESCE chain of full_stock_pipeline.py:395-402
    prev = F.coalesce(
        prev_available(F.col("closing_price"), w),
        F.col("feed_previous_close"),
        F.lit(0.0),
    )
    return df.withColumn("previous_closing_price", prev).drop("feed_previous_close")


def derive_patterns(history: DataFrame) -> DataFrame:
    """The three pattern detectors as one union (full_stock_pipeline.py:425-489),
    deduped on the (symbol, date, pattern) conflict key (S15 semantics)."""
    trends = detect_trends(history, "symbol", "trade_date", "closing_price")
    crosses = detect_ma_cross(
        history, "symbol", "trade_date", "closing_price", short_n=50, long_n=200
    )
    vol = detect_volatility(
        history, "symbol", "trade_date", "highest_price", "lowest_price", threshold_pct=5.0
    )
    all_patterns = trends.unionByName(crosses).unionByName(vol)
    return all_patterns.dropDuplicates(["key", "time", "pattern"]).select(
        F.col("key").alias("symbol"),
        F.col("time").alias("trade_date"),
        "pattern_category",
        "pattern",
        "confidence_score",
    )


def run_stock_pipeline(
    spark: SparkSession,
    landing_dir: str,
    history_path: str,
    patterns_path: str,
    y: str,
    m: str,
    d: str,
) -> dict[str, int]:
    """One daily increment, end to end (idempotent — re-running the same
    (y, m, d) leaves both tables unchanged, like the ON CONFLICT keys).

    Returns row counts per stage for operational assertions
    (the reference's runtime row-count checks, full_stock_pipeline.py:356-362).
    """
    raw = read_quote_landing(spark, landing_dir, y, m, d)
    staging = normalize_staging(raw).withColumn("year", F.year("trade_date"))
    merge_upsert_partitioned(spark, staging, history_path, ["symbol", "trade_date"], "year")

    history = spark.read.parquet(history_path)
    append_if_absent(
        spark, derive_patterns(history), patterns_path, ["symbol", "trade_date", "pattern"]
    )

    return {
        "staging_rows": staging.count(),
        "history_rows": history.count(),
        "pattern_rows": spark.read.parquet(patterns_path).count(),
    }
