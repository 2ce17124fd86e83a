"""Export layer — serving-side extracts to files and JDBC targets.

The reference reserves export hooks to GCS and PostgreSQL
(scripts/export_to_gcs.py, scripts/export_to_pgsql.py — both empty
placeholders) and row-loops INSERTs wherever it does write to Postgres
(fetch_tech_companies.py:80-89, fetch_transform_news.py:190-194). The
engine's exports are Spark writers: distributed, restartable, no
row-at-a-time path.

- ``export_dataset``: path-based export (CSV/JSON/Parquet). An object
  store is just a filesystem scheme here — ``gs://`` / ``s3a://`` paths
  work unchanged wherever the matching Hadoop connector is on the
  classpath, which is how S7's upload loop becomes obsolete.
- ``export_jdbc``: ``df.write.jdbc`` facade with batch sizing and a
  bounded writer-parallelism guard, so a 1000-executor job can't open
  1000 simultaneous connections against one database. Raises a clear
  error when the JDBC driver jar is absent (none ships in this
  container) — the call site contract stays identical on a cluster
  that has one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_FORMATS = ("csv", "json", "parquet", "orc")


def export_dataset(
    df: DataFrame,
    path: str,
    fmt: str = "csv",
    mode: str = "overwrite",
    partition_cols: list[str] | None = None,
    single_file: bool = False,
    options: dict[str, str] | None = None,
) -> None:
    """Write a serving extract under ``path``.

    ``single_file=True`` coalesces to one output part (the dashboard
    "download one CSV" shape) — that serializes the write through one
    task, so reserve it for result-sized extracts, never raw tables.
    CSV exports carry headers by default (the reference's CSV interchange
    format, fetch_tech_companies.py:16-34).
    """
    if fmt not in _FORMATS:
        raise ValueError(f"fmt must be one of {_FORMATS}, got {fmt!r}")
    if single_file:
        df = df.coalesce(1)
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    opts = dict(options or {})
    if fmt == "csv":
        opts.setdefault("header", "true")
    writer.options(**opts).format(fmt).save(path)


def export_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    max_connections: int = 8,
    batch_size: int = 10_000,
    options: dict[str, str] | None = None,
) -> None:
    """S11/S12's write side: bulk-load a result into a JDBC table.

    ``max_connections`` caps writer parallelism (each task holds one
    connection — an unthrottled wide job is a denial of service against
    the target database); ``batch_size`` sets the JDBC batch INSERT size,
    replacing the reference's one-row-per-execute loops.
    """
    df = df.coalesce(max_connections)
    opts = {"batchsize": str(batch_size), **(options or {})}
    try:
        df.write.mode(mode).options(**opts).jdbc(url=url, table=table)
    except Exception as e:  # surface driver absence precisely
        msg = str(e)
        if "No suitable driver" in msg or "ClassNotFoundException" in msg:
            raise RuntimeError(
                f"no JDBC driver on the classpath for {url!r} — add the "
                f"driver jar (e.g. spark.jars=postgresql-*.jar) to enable "
                f"export_jdbc; the write path itself is standard "
                f"df.write.jdbc and needs no code change"
            ) from e
        raise
