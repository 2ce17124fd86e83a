"""SparkSession factory with scale-aware defaults.

The reference delegates all execution to PostgreSQL on a single Cloud SQL
instance (SURVEY.md §3-4); here the session is the engine. Defaults are
chosen so the same code runs on ``local[N]`` for tests and on a large
cluster unchanged:

- AQE on (runtime coalescing, skew-join splitting) — the 100 TB story.
- ``spark.sql.shuffle.partitions`` sized to local cores by default;
  on a real cluster this should be ~2-3x total cores (AQE coalesces down).
- Session timezone pinned to UTC so timestamp semantics are stable and
  oracle-comparable (DuckDB timestamps are UTC-naive).
- Arrow enabled for every pandas interchange (pandas UDFs, toPandas).
- ANSI off: the engine reproduces the reference's permissive semantics
  (divide-by-zero guarded by NULLIF, not raised — see
  full_stock_pipeline.py:478,481 in the reference).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-mutable SQL confs every query expects. :func:`get_spark` sets
#: them through its builder; a session made elsewhere gets them from
#: :func:`apply_runtime_confs` (``__spark_entry__`` does this).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Testdata parquet timestamps, both generations:
    # - TIMESTAMP(NANOS) (older drops): the vectorized reader rejects it;
    #   read as raw long and convert (readers.load_table truncates
    #   ns -> us exactly like DuckDB does, keeping the oracle comparable).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # - TIMESTAMP(MICROS, isAdjustedToUTC=false) (current drops): by
    #   default Spark infers TIMESTAMP_NTZ, a distinct type that breaks
    #   unix_micros()/timestamp arithmetic written for TimestampType.
    #   Disabling the inference reads it as session-tz TIMESTAMP — with
    #   the UTC pin above, identical wall-clock values to both the old
    #   nanos path and DuckDB's naive-timestamp reading.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Set :data:`RUNTIME_CONFS` on a session that :func:`get_spark` did not
    build. A conf that cannot be set raises: running on without it would,
    for one, read testdata timestamps as ``TIMESTAMP_NTZ``."""
    for k, v in RUNTIME_CONFS.items():
        spark.conf.set(k, v)
    return spark


def get_spark(
    app_name: str = "trading_dashboard_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master=None`` (the default) runs locally on
    ``local[$SPARK_GRAFT_CPUS]`` (``local[*]`` when the variable is
    unset); pass a master URL to run anywhere else.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(8, int(cpus))
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # getOrCreate applies the builder's modifiable confs to an existing
    # session too, so RUNTIME_CONFS hold on every session returned here
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
