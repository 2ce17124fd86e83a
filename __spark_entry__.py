"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The real registry lives in ``trading_dashboard_spark.queries`` — one entry
per operator family from SURVEY.md §2 — and this module is a thin adapter.
Callers of this contract bring a session of their own, so the adapter
sets ``session.RUNTIME_CONFS`` on it before each query; the registry
functions themselves assume a session from ``session.get_spark``, which
already has them.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from trading_dashboard_spark.session import apply_runtime_confs


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001 (SURVEY.md §7.2): the
    'top gainers' pipeline — scan → daily bars → window lag → latest-per-
    key → broadcast dim join → pct-change → top-k."""
    from trading_dashboard_spark.queries import QUERY_REGISTRY

    apply_runtime_confs(spark)
    return QUERY_REGISTRY["top_gainers"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, each setting
    the runtime confs on the caller's session before it builds the plan."""
    from trading_dashboard_spark.queries import QUERY_REGISTRY

    return {name: _with_confs(spec.fn) for name, spec in QUERY_REGISTRY.items()}


def _with_confs(fn):
    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str, **kw) -> DataFrame:
        return fn(apply_runtime_confs(spark), sf_dir, **kw)

    return run


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query (omitted for genuinely
    non-SQL-expressible operators → rows-only check)."""
    from trading_dashboard_spark.queries import QUERY_REGISTRY

    return {
        name: spec.oracle
        for name, spec in QUERY_REGISTRY.items()
        if spec.oracle is not None
    }
