"""Source layer — schema-checked scans over the engine's datasets.

Replaces the reference's S4/S8/S10/S11 sources (SURVEY.md §2.1): HTTP CSV
(fetch_tech_companies.py:16-34), partition-filtered JSON landing scans
(full_stock_pipeline.py:181-217), pandas parquet reads
(full_stock_pipeline.py:267), and all `pd.read_sql` dashboard reads
(dashboard/utils/data_loader.py) become Spark scans with explicit schemas so
Catalyst gets exact column pruning and predicate pushdown.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F, types as T

from ..schemas import RAW_QUOTE, TESTDATA_SCHEMAS
from .cache import VersionCache, file_version

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: lazy scan handles per table path, at its latest version (io/cache.py)
_SCANS = VersionCache("scans", 64)


def table_path(name: str, sf_dir: str = DEFAULT_SF_DIR) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Scan one testdata table as parquet.

    No schema is forced on the scan itself — parquet is self-describing and
    passing a differing StructType would defeat vectorized reading — but the
    result is validated against the registry so drift fails fast.

    Timestamp columns are normalized across testdata generations:
    TIMESTAMP(NANOS) drops arrive as raw int64
    (``spark.sql.legacy.parquet.nanosAsLong``) and registry columns
    declared TimestampType that arrive as long are converted with integer
    division ``ns div 1000`` → ``timestamp_micros`` — truncation toward
    zero, byte-for-byte what DuckDB's scanner does, so oracle comparisons
    stay exact (integer div matters: doubles lose precision above 2^53,
    and epoch-nanos is ~1.7e18). TIMESTAMP(MICROS, isAdjustedToUTC=false)
    drops read directly as session-tz TIMESTAMP because the session pins
    UTC and disables NTZ inference
    (``spark.sql.parquet.inferTimestampNTZ.enabled=false`` — see
    session.RUNTIME_CONFS, which ``get_spark`` sets).
    """
    path = table_path(name, sf_dir)
    return _SCANS.get_or_compute(
        spark, file_version(path), lambda: _scan(spark, name, path)
    )


def _scan(spark: SparkSession, name: str, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    expected = TESTDATA_SCHEMAS.get(name)
    if expected is not None:
        missing = set(f.name for f in expected.fields) - set(df.columns)
        if missing:
            raise ValueError(f"table {name!r} missing expected columns: {sorted(missing)}")
        actual = dict(df.dtypes)
        for field in expected.fields:
            if isinstance(field.dataType, T.TimestampType) and actual.get(field.name) == "bigint":
                df = df.withColumn(
                    field.name,
                    F.timestamp_micros(F.expr(f"`{field.name}` div 1000")),
                )
    return df


def spread(df: DataFrame, *cols: str, factor: int = 1) -> DataFrame:
    """Repartition a small-file scan up to cluster parallelism.

    A CPU-heavy operator (md5 shingling, vector math, pandas UDFs) over a
    table that arrived as one or two parquet splits runs on one core no
    matter how wide the cluster is. `spread` hash-repartitions to
    ``defaultParallelism * factor`` (keyed by `cols` when given, so a
    later groupBy/join on the same key reuses the exchange) — a no-op
    upward only: wide scans keep their natural partitioning.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * factor
    if _estimated_width(df) >= target:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)


def _estimated_width(df: DataFrame) -> int:
    """Estimated scan parallelism of ``df``, without executing anything.

    The old probe (``df.rdd.getNumPartitions()``) forced a full physical
    plan + RDD conversion per call (~90 ms driver-side on a fresh scan
    DataFrame, measured r11) — and under AQE a partition count on a
    shuffle-bearing plan can trigger upstream stage *execution*. The
    optimizer's size estimate gives the same decision for spread's
    purpose: a relation at least ``defaultParallelism × maxPartitionBytes``
    bytes scans at least ``defaultParallelism`` wide, so spread skips the
    repartition (wide inputs keep their natural partitioning — unchanged);
    anything smaller repartitions up for CPU parallelism, which is exactly
    the CPU-heavy small-scan case spread exists for. Costs ~2 ms.
    """
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        max_split = int(
            df.sparkSession._jvm.org.apache.spark.network.util.JavaUtils
            .byteStringAsBytes(
                df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes")
            )
        )
        return max(1, size // max(1, max_split))
    except Exception:
        return df.rdd.getNumPartitions()


def read_quote_landing(
    spark: SparkSession, landing_dir: str, y: str, m: str, d: str
) -> DataFrame:
    """Partition-filtered scan of the raw JSON quote landing zone.

    Reference behavior: list the `YYYY/MM/DD/` prefix, parse each JSON list,
    and drop rows whose trade_date differs from the partition date
    (full_stock_pipeline.py:181-217, filter at :207). Here the path prefix
    *is* the partition filter, and the residual date filter is a pushed-down
    predicate instead of a Python loop.
    """
    from pyspark.sql import functions as F

    path = f"{landing_dir.rstrip('/')}/{y}/{m}/{d}/"
    df = spark.read.schema(RAW_QUOTE).json(path)
    return df.filter(F.col("date") == f"{y}-{m}-{d}")


def read_companies_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV dimension source (S4 — fetch_tech_companies.py:16-34).

    Cleans the raw form the way the reference does: regex-strip ``[$,]``
    from money strings (:52-53), drop null symbols (:47), keep only
    ``^[A-Z]+$`` tickers (:56).
    """
    from pyspark.sql import functions as F

    raw = spark.read.csv(path, header=True)
    cols = {c.lower().replace(" ", "_"): c for c in raw.columns}

    def money(colname: str):
        return F.regexp_replace(F.col(colname), r"[\$,]", "").cast("double")

    return (
        raw.select(
            F.col(cols.get("rank", "rank")).cast("int").alias("rank"),
            F.col(cols.get("name", "name")).alias("name"),
            F.col(cols.get("symbol", "symbol")).alias("symbol"),
            money(cols.get("market_cap", "market_cap")).alias("market_cap"),
            money(cols.get("price_usd", "price_usd")).alias("price_usd"),
            F.col(cols.get("country", "country")).alias("country"),
        )
        .na.drop(subset=["symbol"])
        .filter(F.col("symbol").rlike("^[A-Z]+$"))
    )
