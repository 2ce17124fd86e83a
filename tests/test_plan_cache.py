"""The ``plans`` cache of the dashboard loaders (query_registry.register
with ``inputs=``): a miss stores the loader's rows and a hit returns
them; exact across input versions, one version per loader, complete in
its declared inputs, built once under concurrency, never shared across
sessions, and never holding a loader whose run raised."""

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
from trading_dashboard_spark import queries_relational, query_registry
from trading_dashboard_spark.io.cache import cache_stats, file_version
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


def _jobs(sc, group, f):
    """``f()`` and the number of Spark jobs it started."""
    sc.setJobGroup(group, group)
    try:
        out = f()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _fields(df) -> list:
    return [(f.name, f.dataType, f.nullable) for f in df.schema.fields]


def _plans_under(d) -> list[tuple[str, tuple]]:
    """(loader, input versions) of every ``plans`` entry reading ``d``."""
    root = os.path.abspath(d)
    return [(name, tuple(zip(paths, stamps)))
            for (name, paths), stamps in query_registry._PLANS
            if os.path.dirname(paths[0]) == root]


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
    next to a fixed `customer`. On every version, for every cached
    loader: a miss call starts the jobs the unwrapped loader's collect
    starts and returns the loader's rows with its schema; from then on
    every call returns that relation, whose collect starts no job and
    equals the DuckDB oracle. The nine `events` loaders miss once per
    version and keep only their latest version, while `company_list`
    keeps hitting."""
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
            tag = f"plans-{k}-{name}"
            fn = QUERY_REGISTRY[name].fn
            # built first, so any shared daily-bars checkpoint is counted here
            plain = fn.__wrapped__(spark, d)
            plain_jobs = _jobs(sc, f"{tag}-plain", plain.collect)[1]
            misses = cache_stats()["plans"]["misses"]
            df, call_jobs = _jobs(sc, f"{tag}-call", lambda: fn(spark, d))
            if cache_stats()["plans"]["misses"] > misses:
                assert call_jobs == plain_jobs, (k, name)
            else:  # `customer` did not change: already stored
                assert (name, k, call_jobs) == ("company_list", k, 0)
            assert _fields(df) == _fields(plain), (k, name)
            for i in range(3):  # the call's relation, then two later calls
                got = df if i == 0 else fn(spark, d)
                rows, jobs = _jobs(sc, f"{tag}-{i}", got.collect)
                assert got is df and jobs == 0, (k, name, i)
                want = _assert_oracle(con, name, _frame(got, rows))
            seen[name].add(want.to_csv(index=False))
        after = cache_stats()["plans"]
        assert after["misses"] - before["misses"] == (10 if k == 0 else 9), k
        assert after["hits"] - before["hits"] == (20 if k == 0 else 21), k
        live = _plans_under(d)
        assert sorted(n for n, _v in live) == sorted(CACHED), k
        for name, versions in live:  # none for a superseded version
            inputs = QUERY_REGISTRY[name].inputs
            assert versions == tuple(file_version(table_path(t, d)) for t in inputs)
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


def _four_threads(call) -> list:
    start = threading.Barrier(4)

    def run():
        start.wait(30)
        return call()

    with ThreadPoolExecutor(4) as pool:
        return [f.result(timeout=300) for f in [pool.submit(run) for _ in range(4)]]


def test_plan_cache_concurrent_cold_key_builds_once(spark, sf01, tmp_path):
    """Four threads asking for one cold key build it once: all four get
    the one stored relation, and every collect returns the oracle's
    rows."""
    d = _copy_inputs(["events", "customer"], sf01, tmp_path)
    fn = QUERY_REGISTRY["top_gainers"].fn

    def call():
        df = fn(spark, d)
        return df, df.collect()

    before = cache_stats()["plans"]
    results = _four_threads(call)
    after = cache_stats()["plans"]
    assert after["misses"] - before["misses"] == 1
    assert after["hits"] - before["hits"] == 3
    frames = {id(df): df for df, _rows in results}
    assert len(frames) == 1
    con = _duck(d, ["events", "customer"])
    for df, rows in results:
        _assert_oracle(con, "top_gainers", _frame(df, rows))
    con.close()


def test_plan_cache_never_serves_another_sessions_dataframe(
    spark, sf01, tmp_path
):
    """A session from `newSession()`, called through the driver adapter,
    gets rows of its own on the same input versions, and so does the
    first session afterwards."""
    assert QUERY_REGISTRY["top_gainers"].fn is queries_relational.top_gainers
    d = _copy_inputs(["events", "customer"], sf01, tmp_path)
    top_gainers = queries_relational.top_gainers
    mine = [top_gainers(spark, d), top_gainers(spark, d)]  # a miss, a hit
    other = spark.newSession()
    call = contract.queries()["top_gainers"]
    theirs = [call(other, d), call(other, d)]
    for df in theirs:
        assert df.sparkSession is other and all(df is not m for m in mine)
        assert df._jdf.sparkSession().equals(other._jsparkSession)
        assert df.collect() == mine[0].collect()
    again = top_gainers(spark, d)
    assert again.sparkSession is spark and all(again is not t for t in theirs)


def test_a_loader_whose_run_raises_is_not_cached(spark, sf01, tmp_path):
    """An `events` version with one `event_id` at 2^26, where the packed
    day-scoped order key raises. `top_gainers` (which raises while its
    daily bars are checkpointed) and a loader that builds lazily and
    raises only when run both raise on every call; each call is a miss
    and leaves no entry. The next, valid version is served exactly."""
    import pyarrow as pa

    d = _copy_inputs(["customer"], sf01, tmp_path)
    path = table_path("events", d)
    top_gainers = QUERY_REGISTRY["top_gainers"].fn
    day_keys = query_registry._cached_plan(
        "day_keys_test",
        lambda spark, sf_dir: load_table(spark, "events", sf_dir).select(
            query_registry.day_scoped_order_key().alias("k")
        ),
        ("events",),
    )
    table = _events_table(0, 400)
    ids = table.column("event_id").to_pylist()
    ids[-1] = 1 << 26
    _land(table.set_column(0, "event_id", pa.array(ids, pa.int64())), path)
    for fn in (top_gainers, day_keys):
        before = cache_stats()["plans"]
        for _ in range(2):
            with pytest.raises(Exception, match="day_scoped_order_key"):
                fn(spark, d)
        after = cache_stats()["plans"]
        assert after["misses"] - before["misses"] == 2
        assert after["hits"] == before["hits"]
        assert _plans_under(d) == []

    _land(table, path)
    con = _duck(d, ["customer"])
    con.register("events", table)
    _assert_oracle(con, "top_gainers", _frame(top_gainers(spark, d)))
    con.close()
    assert day_keys(spark, d).count() == table.num_rows
    assert sorted(n for n, _v in _plans_under(d)) == ["day_keys_test", "top_gainers"]
