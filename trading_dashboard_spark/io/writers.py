"""Sink layer — partitioned writes, overwrite staging, and MERGE semantics.

The reference's write modes (SURVEY.md §2.1):
- S12 full-replace staging  (DROP + to_sql replace, full_stock_pipeline.py:350-354)
- S13 truncate-and-append   (fetch_transform_news.py:143-146)
- S14 upsert / MERGE        (INSERT ... ON CONFLICT DO UPDATE, full_stock_pipeline.py:405-415)
- S15 insert-if-absent      (ON CONFLICT DO NOTHING, full_stock_pipeline.py:449,471,482)
- S16 year-range partitions (dags/create_partitions.py:14-38)

On Spark, S12/S13 are `mode("overwrite")`; S16 is `partitionBy` (Catalyst
partition pruning replaces Postgres partition routing); S14/S15 are
pure-DataFrame set algebra on the natural key. Two table-level writers
commit them to parquet: `merge_upsert_partitioned` rewrites only the
partitions an upsert touches (dynamic partition overwrite), and
`append_if_absent` appends only the absent keys, never rewriting the table.
Both treat a missing table, and only a missing table, as the first write.

Scale notes (100 TB): merge_upsert shuffles both sides once on the natural
key; with the target bucketed/partitioned on the same key the target-side
shuffle disappears.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, functions as F

# The conditions Spark raises when a parquet path holds no table yet.
_MISSING_TABLE = {"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"}


def _read_existing(spark, path: str) -> DataFrame | None:
    """The parquet table at `path`, or None when there is none yet.

    Only a missing table means first write. Any other read failure
    (permissions, corrupt footers, transient FS errors) on an EXISTING
    table propagates: treating it as a first write would replace the
    table's rows with just the new ones.
    """
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() not in _MISSING_TABLE:
            raise
        return None


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """S16 — year/date-partitioned layout; pruning becomes automatic."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_overwrite(df: DataFrame, path: str) -> None:
    """S12/S13 — full-replace staging dataset."""
    df.write.mode("overwrite").parquet(path)


def merge_upsert(target: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """S14 — ``INSERT ... ON CONFLICT (keys) DO UPDATE SET ...``.

    Semantics mirror full_stock_pipeline.py:405-415: a key present in
    `updates` replaces the target row entirely (all non-key columns
    updated); keys absent from `updates` keep their target row; new keys
    are inserted.

    Implementation: target-side left-anti join on the keys, then union of
    the surviving target rows with (deduplicated) updates. If `updates`
    carries duplicate keys, the row with the greatest tuple of non-key
    values wins deterministically (the reference would apply them in
    arbitrary order; determinism is strictly better).

    One shuffle per side on `keys`; broadcast applies automatically when
    `updates` is small (the daily-batch case: ~500 rows against years of
    history).
    """
    updates = dedup_by_key(updates, keys)
    survivors = target.join(updates.select(*keys), on=keys, how="left_anti")
    return survivors.unionByName(updates.select(*target.columns))


def merge_upsert_partitioned(
    spark,
    updates: DataFrame,
    path: str,
    keys: list[str],
    partition_col: str,
) -> None:
    """S14 at table scale: upsert into a partitioned parquet dataset,
    rewriting ONLY the partitions the updates touch (dynamic partition
    overwrite) — the bounded-rewrite pattern the module docstring
    promises. With year/date partitions this is the reference's
    staging→MERGE into the year-partitioned ``stock_price_history``
    (full_stock_pipeline.py:373-422 + create_partitions.py:14-38): a daily
    batch rewrites one partition, not years of history.

    ``partition_col`` must be functionally dependent on ``keys`` (e.g.
    ``trade_date`` with key (symbol, trade_date)) so an update can never
    move a row across partitions — otherwise the stale copy in the old
    partition would survive.

    The touched-partition slice is read with a partition-pruned scan
    (``isin`` on collected partition values — bounded by partitions per
    batch), merged, then locally checkpointed before the overwrite so the
    write never scans the files it is replacing.
    """
    vals = [r[0] for r in updates.select(partition_col).distinct().collect()]
    target = _read_existing(spark, path)
    if target is None:
        merged = dedup_by_key(updates, keys)
    else:
        affected = target.filter(F.col(partition_col).isin(vals))
        merged = merge_upsert(affected, updates, keys).select(*target.columns)
    (
        merged.localCheckpoint(eager=True)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def insert_if_absent(target: DataFrame, new_rows: DataFrame, keys: list[str]) -> DataFrame:
    """S15 — ``ON CONFLICT DO NOTHING``: keep target rows, add only new keys."""
    new_rows = dedup_by_key(new_rows, keys)
    additions = new_rows.join(target.select(*keys), on=keys, how="left_anti")
    return target.unionByName(additions.select(*target.columns))


def append_if_absent(spark, rows: DataFrame, path: str, keys: list[str]) -> None:
    """S15 at table scale: ``ON CONFLICT (keys) DO NOTHING`` into a parquet
    table by appending only the rows whose keys it lacks. Existing files
    are never rewritten, so re-running the same rows appends nothing."""
    rows = dedup_by_key(rows, keys)
    target = _read_existing(spark, path)
    if target is not None:
        rows = rows.join(target.select(*keys), on=keys, how="left_anti").select(*target.columns)
    rows.write.mode("append").parquet(path)


def dedup_by_key(df: DataFrame, keys: list[str]) -> DataFrame:
    """Deterministic one-row-per-key: greatest non-key tuple wins.

    `dropDuplicates` keeps an arbitrary row; windowed row_number makes the
    survivor reproducible, which the idempotency tests rely on.
    """
    from pyspark.sql import Window as W

    non_keys = [c for c in df.columns if c not in keys]
    if not non_keys:
        return df.dropDuplicates(keys)
    w = W.partitionBy(*keys).orderBy(*[F.col(c).desc_nulls_last() for c in non_keys])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
