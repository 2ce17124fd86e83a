"""The ``plans`` cache of the dashboard loaders (query_registry.register
with ``inputs=``): exact across input versions, complete in its declared
inputs, built once under concurrency, and never shared across sessions."""

import os
import shutil
import threading
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pandas as pd
import pytest
from pyspark.errors import AnalysisException
from test_operators import _events_table, _land
from tools.check_oracle import TABLES, compare

import __spark_entry__ as contract
from trading_dashboard_spark import queries_relational
from trading_dashboard_spark.io.cache import cache_stats
from trading_dashboard_spark.io.readers import load_table, table_path
from trading_dashboard_spark.queries import QUERY_REGISTRY

CACHED = [n for n, s in QUERY_REGISTRY.items() if s.inputs]
DAY_US = 86_400_000_000


@pytest.fixture(scope="module")
def sf01(sf_dir):
    """The sf0.01 testdata drop, beside the suite's default one."""
    return os.path.join(os.path.dirname(sf_dir), "sf0.01")


def _copy_inputs(names, src, dest) -> str:
    for t in names:
        shutil.copy(table_path(t, src), table_path(t, str(dest)))
    return str(dest)


def _duck(d, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(t, d)}')"
        )
    return con


def _frame(df, rows=None) -> pd.DataFrame:
    rows = df.collect() if rows is None else rows
    return pd.DataFrame.from_records(rows, columns=df.columns)


def _assert_oracle(con, name, got: pd.DataFrame) -> pd.DataFrame:
    want = con.execute(QUERY_REGISTRY[name].oracle).fetchdf()
    assert not compare(name, got, want), (name, compare(name, got, want))
    return want


def test_cached_loaders_are_the_dashboard_loaders():
    assert sorted(CACHED) == sorted(
        n for n, s in QUERY_REGISTRY.items()
        if {"dashboard", "flagship"} & set(s.tags)
    )
    assert [n for n in CACHED if "events" not in QUERY_REGISTRY[n].inputs] == [
        "company_list"
    ]


def test_plan_cache_exact_across_events_versions(spark, sf01, tmp_path):
    """Three consecutive `events` versions, each landed by atomic rename
    next to a fixed `customer`: on every version every cached loader
    equals its DuckDB oracle; a repeat call returns the same DataFrame,
    whose collect starts at most one job; the nine `events` loaders miss
    once per version while `company_list` keeps hitting."""
    import pyarrow as pa

    d = _copy_inputs(["customer"], sf01, tmp_path)
    path = table_path("events", d)
    sc = spark.sparkContext
    con = _duck(d, ["customer"])
    seen: dict[str, set] = {n: set() for n in CACHED}
    table = _events_table(0, 400)
    for k in range(3):
        if k:  # the next ticks start a few days after the last one
            last_us = table.column("ts").cast(pa.int64())[-1].as_py()
            batch = _events_table(k, 80, table.num_rows,
                                  last_us - 1_704_067_200_000_000 + 4 * DAY_US)
            table = pa.concat_tables([table, batch])
        _land(table, path)
        con.register("events", table)
        before = cache_stats()["plans"]
        for name in CACHED:
            fn = QUERY_REGISTRY[name].fn
            df = fn(spark, d)
            rows = df.collect()
            want = _assert_oracle(con, name, _frame(df, rows))
            seen[name].add(want.to_csv(index=False))

            group = f"plans-repeat-{k}-{name}"
            sc.setJobGroup(group, "repeat call on one input version")
            try:
                again = fn(spark, d)
                again_rows = again.collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert again is df, (k, name)
            assert again_rows == rows, (k, name)
            assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1, (k, name)
        after = cache_stats()["plans"]
        assert after["misses"] - before["misses"] == (10 if k == 0 else 9), k
        assert after["hits"] - before["hits"] == (10 if k == 0 else 11), k
    # every events loader's answer moved, so a stale hit would have shown
    assert [n for n, s in seen.items() if len(s) == 1] == ["company_list"]
    con.close()


@pytest.mark.parametrize("name", CACHED)
def test_declared_inputs_are_complete(spark, sf01, tmp_path, name):
    """A loader run over a directory holding only its declared tables
    equals its oracle; reading any other table there fails."""
    spec = QUERY_REGISTRY[name]
    d = _copy_inputs(spec.inputs, sf01, tmp_path)
    con = _duck(d, spec.inputs)
    _assert_oracle(con, name, _frame(spec.fn(spark, d)))
    con.close()
    undeclared = next(t for t in TABLES if t not in spec.inputs)
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, undeclared, d)


def test_plan_cache_concurrent_cold_key_builds_once(spark, sf01, tmp_path):
    """Four threads asking for one cold key build the plan once and
    share it; their concurrent collects return the oracle's rows."""
    d = _copy_inputs(["events", "customer"], sf01, tmp_path)
    fn = QUERY_REGISTRY["top_gainers"].fn
    start = threading.Barrier(4)

    def call():
        start.wait(30)
        df = fn(spark, d)
        return df, df.collect()

    before = cache_stats()["plans"]
    with ThreadPoolExecutor(4) as pool:
        results = [f.result(timeout=300) for f in
                   [pool.submit(call) for _ in range(4)]]
    after = cache_stats()["plans"]
    assert after["misses"] - before["misses"] == 1
    assert after["hits"] - before["hits"] == 3
    df, rows = results[0]
    assert all(other is df and got == rows for other, got in results)
    con = _duck(d, ["events", "customer"])
    _assert_oracle(con, "top_gainers", _frame(df, rows))
    con.close()


def test_plan_cache_never_serves_another_sessions_dataframe(
    spark, sf01, tmp_path
):
    """A session from `newSession()`, called through the driver adapter,
    gets a DataFrame of its own on the same input versions, and so does
    the first session afterwards."""
    assert QUERY_REGISTRY["top_gainers"].fn is queries_relational.top_gainers
    d = _copy_inputs(["events", "customer"], sf01, tmp_path)
    mine = queries_relational.top_gainers(spark, d)
    other = spark.newSession()
    theirs = contract.queries()["top_gainers"](other, d)
    assert theirs is not mine and theirs.sparkSession is other
    assert theirs.collect() == mine.collect()
    again = queries_relational.top_gainers(spark, d)
    assert again is not theirs and again.sparkSession is spark
