"""Driver-contract smoke: every registered query runs at sf0.001 and
returns a well-formed DataFrame; oracle coverage is complete for
SQL-expressible queries."""

import pytest

import __spark_entry__ as contract
from trading_dashboard_spark import queries_relational
from trading_dashboard_spark.query_registry import QUERY_REGISTRY
from trading_dashboard_spark.session import RUNTIME_CONFS, get_spark

#: Settings a session built elsewhere may carry, each of which breaks a
#: registry query: another time zone shifts the daily bars, ANSI raises
#: where the queries expect NULL, and NTZ inference types testdata
#: timestamps as TIMESTAMP_NTZ.
FOREIGN_CONFS = {
    "spark.sql.session.timeZone": "America/Los_Angeles",
    "spark.sql.ansi.enabled": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
}


def test_entry_returns_rows(spark):
    df = contract.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"user_id", "pct_change"} <= set(df.columns)


def test_adapter_sets_runtime_confs_on_a_foreign_session(spark, sf_dir):
    """A contract caller brings its own session; `entry` and the adapter's
    query functions set the runtime confs on it, while the registry keeps
    the bare function for callers whose session comes from `get_spark`."""
    assert QUERY_REGISTRY["top_gainers"].fn is queries_relational.top_gainers

    def foreign():
        other = spark.newSession()
        for k, v in FOREIGN_CONFS.items():
            other.conf.set(k, v)
        return other

    got = contract.queries()["top_gainers"](foreign(), sf_dir).collect()
    want = queries_relational.top_gainers(spark, sf_dir).collect()
    assert got and got == want
    assert contract.entry(foreign()).collect() == want


def test_get_spark_sets_runtime_confs_on_an_existing_session(spark):
    """`get_spark` sets RUNTIME_CONFS through its builder alone: on a live
    session `getOrCreate` applies the builder's modifiable confs again."""
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        for k, v in FOREIGN_CONFS.items():
            spark.conf.set(k, v)
        again = get_spark("tests", shuffle_partitions=shuffle)
        assert again is spark
        assert {k: spark.conf.get(k) for k in RUNTIME_CONFS} == RUNTIME_CONFS
    finally:
        for k, v in RUNTIME_CONFS.items():
            spark.conf.set(k, v)


def test_registry_shape():
    qs, oracles = contract.queries(), contract.oracle_sql()
    assert len(qs) >= 45
    assert set(oracles) <= set(qs)
    # rows-only queries are the documented non-SQL-expressible ones
    # (lsh_ann_top3 left this set in r4 via the plane-literal oracle;
    # ml_next_day_prediction in r5 via the Cramer normal-equations
    # oracle — only the sketch-valued profile remains by design)
    assert set(qs) - set(oracles) == {"corpus_sketch_profile"}


@pytest.mark.parametrize("name", sorted(contract.queries()))
def test_each_query_runs_smoke(spark, sf_dir, name):
    df = contract.queries()[name](spark, sf_dir)
    assert df.columns  # schema resolves
    df.limit(5).collect()  # executes


_IMPORT_PROBE = """
import json, subprocess

calls = []

def _refuse(*args, **kw):
    calls.append(repr(args[0] if args else kw.get("args")))
    raise RuntimeError("subprocess at import time")

subprocess.run = subprocess.Popen = _refuse

from trading_dashboard_spark import (
    queries_relational, queries_windows, queries_text, queries_similarity,
    queries_multimodal, queries_training, queries_streaming, queries_extra,
    queries_analytics, queries_dashboard,
)
from trading_dashboard_spark.query_registry import QUERY_REGISTRY

defined = list(QUERY_REGISTRY)
import trading_dashboard_spark.queries
print(json.dumps({"calls": calls, "defined": defined,
                  "after": list(QUERY_REGISTRY)}))
"""


def test_queries_import_spawns_nothing_and_keeps_definition_order():
    """Importing the aggregate registry runs no subprocess and leaves the
    registry in definition order. A child interpreter records every
    subprocess call; a raising recorder alone is not enough, because an
    import-time `try/except` would swallow the error."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_PROBE], cwd=repo,
        capture_output=True, text=True, check=True,
    )
    probe = json.loads(out.stdout.strip().splitlines()[-1])
    assert probe["calls"] == []
    assert probe["after"] == probe["defined"]
