"""Raw JSON landing sink — S6/S7 (SURVEY.md §2.1).

The reference writes one JSON file per (symbol, day) under a `YYYY/MM/DD/`
prefix on local disk, then walks the tree uploading each file to GCS
(full_stock_pipeline.py:104-111, 131-149). On Spark both steps collapse to
one distributed write directly against the object store (the `gs://` path is
just another Hadoop filesystem), so S7's upload-and-delete loop disappears.

Two layouts are provided:

- ``write_landing_json`` — the reference's exact day-prefix layout
  (`{landing}/{YYYY}/{MM}/{DD}/part-*.json`), one day per call, matching
  ``io.readers.read_quote_landing``'s scan path. This is the daily-batch
  shape: the day's fetch output is small (one row per symbol), so it is
  coalesced to a bounded number of files instead of one-file-per-task dust.
- ``write_landing_json_partitioned`` — multi-day frames in one shot via
  Hive-style `y=/m=/d=` partitioning; Catalyst partition-prunes scans over
  it automatically. Use this for backfills (S5's historical load), where a
  per-day loop would serialize thousands of tiny writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def write_landing_json(
    df: DataFrame, landing_dir: str, y: str, m: str, d: str, max_files: int = 8
) -> str:
    """Write one day's raw quotes to `{landing}/{y}/{m}/{d}/` as JSON.

    Rows whose `date` differs from the partition date are dropped before
    the write — the landing prefix *is* the partition, so letting foreign
    dates in would make the prefix lie (the reference enforces this on the
    read side instead, full_stock_pipeline.py:207; enforcing on write keeps
    both sides honest).
    """
    path = f"{landing_dir.rstrip('/')}/{y}/{m}/{d}/"
    day = df.filter(F.col("date") == f"{y}-{m}-{d}")
    day.coalesce(max_files).write.mode("overwrite").json(path)
    return path


def write_landing_json_partitioned(df: DataFrame, landing_dir: str) -> str:
    """Multi-day landing write, Hive-partitioned by (y, m, d) from `date`.

    One distributed job regardless of how many days the frame spans; each
    task writes only the partitions it holds. Downstream scans with a date
    predicate prune to the matching `y=/m=/d=` directories.
    """
    out = (
        df.withColumn("y", F.date_format(F.col("date"), "yyyy"))
        .withColumn("m", F.date_format(F.col("date"), "MM"))
        .withColumn("d", F.date_format(F.col("date"), "dd"))
    )
    out.write.mode("overwrite").partitionBy("y", "m", "d").json(landing_dir)
    return landing_dir
