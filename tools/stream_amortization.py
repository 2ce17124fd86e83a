#!/usr/bin/env python
"""Measure the full-outer streaming audit's trigger-size amortization
(r7 verdict #4): BENCHMARKS.md asserts the 11.8× vs DuckDB at ×10 is
per-TRIGGER micro-batch machinery, not per-row cost. This runs the same
pipeline at ×10 with the input delivered in many small triggers
(maxFilesPerTrigger=1 / the registered default 4) vs a few large ones
(all ~10 files in one trigger), min-of-N each, plus the DuckDB oracle.

Usage: python tools/stream_amortization.py [--runs N]
Prints one JSON line. Requires the ×10 replica (tools/sweep_one.py --keep).
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SWEEP = os.environ.get("SWEEP_DIR", "/tmp/sweep_x10")


def run_once(spark, sf_dir: str, mfpt: int) -> float:
    from pyspark.sql import functions as F

    from trading_dashboard_spark.io.readers import load_table
    from trading_dashboard_spark.streaming.ingest import (
        run_stream_to_table, stream_events,
    )
    from trading_dashboard_spark.streaming.joins import interval_join

    path = f"{sf_dir.rstrip('/')}/events.parquet"
    t0 = time.time()
    mx = (
        load_table(spark, "events", sf_dir)
        .agg(F.least(
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
        ))
        .collect()[0][0]
    )
    clicks = (
        stream_events(spark, path, max_files_per_trigger=mfpt)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("user_id_l"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"))
    )
    purchases = (
        stream_events(spark, path, max_files_per_trigger=mfpt)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("user_id_r"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"))
    )
    joined = interval_join(
        clicks, purchases, "user_id", "click_ts", "purchase_ts", "full_outer",
        horizon="1 HOUR", watermark="2 hours",
    )
    out = run_stream_to_table(
        joined, f"amort_{mfpt}_{int(t0)}", output_mode="append"
    )
    cutoff = F.lit(mx) - F.expr("INTERVAL 190 MINUTE")
    cls = (
        F.when(F.col("click_id").isNotNull() & F.col("purchase_id").isNotNull()
               & (F.col("click_ts") < cutoff) & (F.col("purchase_ts") < cutoff),
               "matched")
        .when(F.col("purchase_id").isNull() & (F.col("click_ts") < cutoff),
              "click_only")
        .when(F.col("click_id").isNull() & (F.col("purchase_ts") < cutoff),
              "purchase_only")
    )
    res = (
        out.select(F.coalesce("user_id_l", "user_id_r").alias("user_id"),
                   cls.alias("cls"))
        .filter(F.col("cls").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.when(F.col("cls") == "matched", 1)).alias("n_matched"),
             F.count(F.when(F.col("cls") == "click_only", 1)).alias("n_click_only"),
             F.count(F.when(F.col("cls") == "purchase_only", 1)).alias("n_purchase_only"))
    )
    res.write.mode("overwrite").format("noop").save()
    return time.time() - t0


def main() -> None:
    runs = 3
    args = sys.argv[1:]
    if args[:1] == ["--runs"]:
        runs = int(args[1])

    from trading_dashboard_spark.queries import QUERY_REGISTRY
    from trading_dashboard_spark.session import get_spark

    if not os.path.exists(f"{SWEEP}/events.parquet"):
        raise SystemExit(f"build the ×10 replica first: {SWEEP} missing")
    spark = get_spark(
        "stream_amort", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    n_files = len([f for f in os.listdir(f"{SWEEP}/events.parquet")
                   if f.endswith(".parquet")])
    result: dict = {"sf": "x10", "n_files": n_files}
    for mfpt in (1, 4, max(n_files, 16)):
        best = min(run_once(spark, SWEEP, mfpt) for _ in range(runs))
        result[f"spark_mfpt_{mfpt}"] = round(best, 3)

    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT event_id, "
        f"make_timestamp(CAST(ts // 1000 AS BIGINT)) AS ts, user_id, "
        f"event_type, value, props "
        f"FROM read_parquet('{SWEEP}/events.parquet/*.parquet')"
    )
    oracle = QUERY_REGISTRY["streaming_interval_full_outer_audit"].oracle
    d = float("inf")
    for _ in range(runs):
        t0 = time.time()
        con.execute(oracle).fetchall()
        d = min(d, time.time() - t0)
    result["duck"] = round(d, 3)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
