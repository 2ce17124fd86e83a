"""Raw JSON landing sink — S6/S7 (SURVEY.md §2.1).

The reference writes one JSON file per (symbol, day) under a `YYYY/MM/DD/`
prefix on local disk, then walks the tree uploading each file to GCS
(full_stock_pipeline.py:104-111, 131-149). On Spark both steps collapse to
one distributed write directly against the object store (the `gs://` path is
just another Hadoop filesystem), so S7's upload-and-delete loop disappears.

One layout, the reference's day prefix: ``write_landing_json`` writes one
day per call to `{landing}/{YYYY}/{MM}/{DD}/part-*.json`, the path
``io.readers.read_quote_landing`` scans. The day's fetch output is small (one
row per symbol), so it is coalesced to a bounded number of files instead of
one-file-per-task dust. A backfill (S5's historical load) lands day by day
through the same function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: upper bound on the JSON files of one landed day
MAX_FILES = 8


def write_landing_json(df: DataFrame, landing_dir: str, y: str, m: str, d: str) -> str:
    """Write one day's raw quotes to `{landing}/{y}/{m}/{d}/` as JSON.

    Rows whose `date` differs from the partition date are dropped before
    the write — the landing prefix *is* the partition, so letting foreign
    dates in would make the prefix lie (the reference enforces this on the
    read side instead, full_stock_pipeline.py:207; enforcing on write keeps
    both sides honest).
    """
    path = f"{landing_dir.rstrip('/')}/{y}/{m}/{d}/"
    day = df.filter(F.col("date") == f"{y}-{m}-{d}")
    day.coalesce(MAX_FILES).write.mode("overwrite").json(path)
    return path

