"""Sources tier — distributed REST ingest (S1) and JSON landing sink (S6).

The fetch operator is tested with an injected deterministic fake transport
(no network); the landing sink round-trips through the partition-filtered
scan (io.readers.read_quote_landing) that mirrors the reference's read side
(full_stock_pipeline.py:181-217).
"""

import pytest

from trading_dashboard_spark.io.readers import read_quote_landing
from trading_dashboard_spark.sources import (
    RateLimit,
    fetch_quotes_distributed,
    write_landing_json,
)


def _make_fake_fetcher():
    # nested so cloudpickle ships it by value — executors cannot import the
    # test module by name
    def fake_fetcher(symbol: str) -> dict:
        if symbol == "BAD":
            raise RuntimeError("simulated transport failure")
        base = float(sum(ord(ch) for ch in symbol))
        return {
            "o": base,
            "h": base + 2.0,
            "l": base - 1.0,
            "c": base + 1.0,
            "pc": base - 0.5,
            "d": 1.5,
            "dp": 100 * 1.5 / (base - 0.5),
            "v": int(base) * 10,
        }

    return fake_fetcher


@pytest.fixture()
def symbols(spark):
    return spark.createDataFrame([("AAPL",), ("MSFT",), ("BAD",)], ["symbol"])


def test_fetch_quotes_distributed(spark, symbols):
    out = fetch_quotes_distributed(
        symbols,
        fetcher=_make_fake_fetcher(),
        rate=RateLimit(sleep_s=0.0, retry_sleep_s=0.0, max_retries=1),
        date="2024-01-08",
    )
    rows = {r["symbol"]: r for r in out.collect()}
    assert set(rows) == {"AAPL", "MSFT", "BAD"}
    # successful symbols carry the payload fields
    aapl = rows["AAPL"]
    assert aapl["c"] == float(sum(ord(ch) for ch in "AAPL")) + 1.0
    assert aapl["date"] == "2024-01-08"
    # failed symbol survives as a null row (reference: per-symbol try/except)
    bad = rows["BAD"]
    assert bad["c"] is None and bad["date"] == "2024-01-08"


def test_fetch_default_fetcher_raises(spark, symbols):
    out = fetch_quotes_distributed(symbols)
    with pytest.raises(Exception):
        out.collect()


def test_landing_write_read_roundtrip(spark, symbols, tmp_path):
    quotes = fetch_quotes_distributed(
        symbols.filter("symbol != 'BAD'"),
        fetcher=_make_fake_fetcher(),
        rate=RateLimit(retry_sleep_s=0.0),
        date="2024-01-08",
    )
    landing = str(tmp_path / "landing")
    write_landing_json(quotes, landing, "2024", "01", "08")
    back = read_quote_landing(spark, landing, "2024", "01", "08")
    assert back.count() == 2
    assert {r["symbol"] for r in back.collect()} == {"AAPL", "MSFT"}


def test_landing_write_drops_foreign_dates(spark, tmp_path):
    df = spark.createDataFrame(
        [("AAPL", "2024-01-08", 10.0), ("AAPL", "2024-01-09", 11.0)],
        ["symbol", "date", "c"],
    )
    landing = str(tmp_path / "landing")
    write_landing_json(df, landing, "2024", "01", "08")
    back = read_quote_landing(spark, landing, "2024", "01", "08")
    assert back.count() == 1


def test_export_dataset_csv_json_roundtrip(spark, tmp_path):
    """Path-based export (the engine's GCS/S3 shape): CSV with header and
    JSON round-trip through spark.read; partitioned export lays out
    partition directories; single_file yields exactly one part."""
    import os

    from trading_dashboard_spark.io.export import export_dataset

    df = spark.createDataFrame(
        [("AAPL", "2024-01-01", 10.5), ("MSFT", "2024-01-01", 20.0),
         ("AAPL", "2024-01-02", 11.0)],
        ["symbol", "d", "close"],
    )
    csv_path = str(tmp_path / "out_csv")
    export_dataset(df, csv_path, fmt="csv", single_file=True)
    parts = [f for f in os.listdir(csv_path) if f.startswith("part-")]
    assert len(parts) == 1
    back = spark.read.option("header", "true").csv(csv_path)
    assert back.count() == 3 and set(back.columns) == {"symbol", "d", "close"}

    json_path = str(tmp_path / "out_json")
    export_dataset(df, json_path, fmt="json", partition_cols=["symbol"])
    assert sorted(
        d for d in os.listdir(json_path) if d.startswith("symbol=")
    ) == ["symbol=AAPL", "symbol=MSFT"]
    back_j = spark.read.json(json_path)
    assert back_j.count() == 3

    import pytest

    with pytest.raises(ValueError, match="fmt"):
        export_dataset(df, str(tmp_path / "x"), fmt="xml")


def test_export_jdbc_missing_driver_is_clear(spark):
    """Without a driver jar, export_jdbc fails with an actionable error
    (not a raw ClassNotFoundException) and caps writer parallelism first."""
    import pytest

    from trading_dashboard_spark.io.export import export_jdbc

    df = spark.range(10).repartition(32)
    with pytest.raises((RuntimeError, Exception)) as ei:
        export_jdbc(df, "jdbc:postgresql://localhost/nope", "t", max_connections=4)
    assert "driver" in str(ei.value).lower()


def test_export_dataset_orc_roundtrip(spark, tmp_path):
    """ORC export (the third columnar interchange format Spark ships
    natively) roundtrips schema + values."""
    import os

    from trading_dashboard_spark.io.export import export_dataset

    df = spark.range(0, 100).selectExpr(
        "id", "CAST(id * 1.5 AS DOUBLE) AS v", "CAST(id % 3 AS STRING) AS g"
    )
    path = str(tmp_path / "out_orc")
    export_dataset(df, path, fmt="orc")
    back = spark.read.orc(path)
    assert back.count() == 100
    assert dict(back.dtypes) == dict(df.dtypes)
    assert back.agg({"v": "sum"}).collect()[0][0] == df.agg({"v": "sum"}).collect()[0][0]
