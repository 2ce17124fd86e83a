"""Query registry core — registration plumbing shared by all query modules.

Each entry pairs a Spark DataFrame program (the engine path) with an ANSI /
DuckDB SQL string (the oracle path). The driver runs both at sf0.01 and
hash-compares row-count + schema + order-insensitive values
(CORRECTNESS_r{N}.json); entries without an oracle get a rows-only check.

Output discipline (hash-comparability):
- every computed column is aliased identically on both sides;
- DATE/TIMESTAMP outputs are rendered as canonical strings (``yyyy-MM-dd``
  / epoch seconds) so engine-side type representation can't skew hashes;
- every double is ``round()``-ed on both sides — both engines sum the same
  IEEE doubles, only accumulation order differs, so rounding absorbs the
  ulp-level divergence;
- top-k queries carry a unique tiebreak column in the sort.

The Spark side deliberately goes through the package operators
(`operators/`, `text/`, `similarity/`) — the registry doubles as the
integration test of the public API.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from .functions import portable_round_sql, pround  # noqa: F401
from .io.cache import VersionCache, file_version
from .io.readers import load_table, table_path
from .operators.relational import latest_per_key, pct_change_expr


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None -> rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""
    inputs: tuple[str, ...] = ()  # testdata tables a cached loader reads


QUERY_REGISTRY: dict[str, QuerySpec] = {}

#: one result's rows per (loader, input paths), at their latest version:
#: the ten dashboard loaders over one or two data directories
_PLANS = VersionCache("plans", 20)


def register(
    name: str,
    oracle: str | None,
    tags: tuple[str, ...] = (),
    inputs: tuple[str, ...] = (),
):
    """Register ``fn(spark, sf_dir) -> DataFrame`` as query ``name``.

    ``inputs`` names every testdata table the function reads through
    ``load_table`` (directly or through ``_daily_close``), and promises
    that the DataFrame it builds depends on nothing else: not on the
    time of the call, not on any other file. It also promises a bounded
    result (a LIMIT, or one row per key or bucket), because the rows are
    kept in the heap of the session's JVM, as the reference's
    ``st.cache_data`` keeps them in its process. When given, the
    registry stores (and the decorator returns) a wrapper that caches
    the result in the ``plans`` cache (io/cache.py): one entry per name
    and input paths, stamped with each input's ``file_version``, statted
    before any planning. A miss runs the loader once inside the JVM and
    stores its rows as a local relation (:func:`local_rows`), which it
    returns; a hit returns that relation. Neither's ``collect()`` starts
    a Spark job. A replaced input is a new stamp, whose rows replace the
    entry; an unstatable input is not cached, and a loader whose run
    raises leaves no entry.

    Session confs are not in the key. The cache hits only for the
    session object that built the entry, and every session the registry
    runs on has ``session.RUNTIME_CONFS`` set before each call (by
    ``get_spark``'s builder, or by the driver adapter on a session it
    did not build); the plan captures them when it is analysed.
    """

    def deco(fn):
        sql = portable_round_sql(oracle) if oracle else oracle
        run = _cached_plan(name, fn, inputs) if inputs else fn
        QUERY_REGISTRY[name] = QuerySpec(
            run, sql, tags, fn.__doc__ or "", inputs
        )
        return run

    return deco


def _cached_plan(name: str, fn, inputs: tuple[str, ...]):
    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        versions = [file_version(table_path(t, sf_dir)) for t in inputs]
        if None in versions:
            return fn(spark, sf_dir)
        paths, stamps = zip(*versions)
        return _PLANS.get_or_compute(
            spark, ((name, paths), stamps),
            lambda: local_rows(fn(spark, sf_dir)),
        )

    return run


def local_rows(df: DataFrame) -> DataFrame:
    """``df``'s rows as a local relation with ``df``'s schema. The rows
    are collected inside the JVM (the jobs of one ``df.collect()``) and
    never pass through Python; no action on the result starts a job."""
    spark = df.sparkSession
    jdf = spark._jsparkSession.createDataFrame(
        df._jdf.collectAsList(), df._jdf.schema()
    )
    return DataFrame(jdf, spark)


def _t(spark, sf_dir, name) -> DataFrame:
    return load_table(spark, name, sf_dir)


def event_order_key(ts_col: str = "ts", id_col: str = "event_id"):
    """The canonical TOTAL order over events — microsecond epoch ‖
    event_id, packed into one sortable key. Duplicate
    timestamps are legal event data (the r10 adversarial relational
    battery planted 10 same-ts events and split the engines on every
    `max_by(value, ts)` lane), so every "last/first value" aggregate
    must order by a UNIQUE key both engines share. Non-negative domains
    by construction (events ≥ epoch; ids ≥ 0), so lexicographic string
    order == numeric order.

    A packed LONG is impossible: epoch micros need ~51 bits and any
    useful id range ≥20 more — over int64's 63 — so the key is
    DECIMAL(38,0): micros · 10¹⁹ + id, exact for the full non-negative
    int64 id range (≤ ~1.8e34 + 9.2e18, 35 digits), with the same total
    order as the zero-padded string twin `EVENT_ORDER_KEY_SQL`. The key
    is only ever a max_by/min_by ordering argument, never output, so the
    oracle keeps that VARCHAR form. The decimal form won an A/B against
    the string form at sf0.1 (6.40 vs 11.81 s and 6.02 vs 7.09 s over
    the 7 close-contract headline queries, both run orders — a 16-byte
    Decimal128 compare beats a 40-char UTF8String compare in every
    hash-aggregate probe); recorded in BENCHMARKS.md."""
    # 10¹⁹ exceeds int64, so the literal must be born DECIMAL
    # (F.lit(10**19) dies in Python→Java long marshalling)
    return (
        F.unix_micros(F.col(ts_col)).cast("decimal(19,0)")
        * F.expr("CAST('10000000000000000000' AS DECIMAL(20,0))")
        + F.col(id_col).cast("decimal(19,0)")
    )


#: SQL twin of `event_order_key` (DuckDB: epoch_us; max_by has no
#: struct-key overload, so the composite key is this VARCHAR).
EVENT_ORDER_KEY_SQL = (
    "lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || "
    "lpad(CAST(event_id AS VARCHAR), 20, '0')"
)


def day_scoped_order_key(ts_col: str = "ts", id_col: str = "event_id"):
    """`event_order_key` specialised to aggregates GROUPED BY
    ``(…, to_date(ts))`` — the daily-bar close/open contract sites.

    Within one UTC day, (micros-since-UTC-midnight, event_id) orders
    exactly like (micros-since-epoch, event_id): every row of a
    ``to_date(ts)`` group shares the same floor-day, so subtracting the
    (common) day start is order-preserving. That drops the key from 51+
    bits to 37, and 37 + 26 fits a plain LONG — `pmod(µs, 86 400 000 000)
    · 2²⁶ + event_id` ≤ 5.8e18 < 2⁶³ — so the hash aggregate compares
    one int64 where the general key needs Decimal(38) arithmetic
    (measured: the 4-function daily-close aggregate 0.41 → 0.28 s at
    sf0.1). Only the ARGMAX is consumed, never the key value, so the
    oracle keeps the general VARCHAR twin unchanged. Valid iff
    0 ≤ event_id < 2²⁶ (~67M — covers every sf/replica tier through
    ×300); outside that domain the minor term could carry into the
    micros term, so the bounds raise LOUDLY (the longest_wins_key
    discipline). ONLY safe under a day-aligned groupBy — anything else
    wraps at UTC midnight; use `event_order_key` there."""
    micros_in_day = F.pmod(
        F.unix_micros(F.col(ts_col)), F.lit(86_400_000_000)
    )
    in_domain = (F.col(id_col) >= 0) & (F.col(id_col) < F.lit(1 << 26))
    packed = micros_in_day * F.lit(1 << 26) + F.col(id_col)
    return F.when(in_domain, packed).otherwise(
        F.raise_error(
            F.lit("day_scoped_order_key: event_id outside [0, 2^26) — "
                  "the packed day-local key would mis-order; use "
                  "event_order_key (decimal form) for this domain")
        ).cast("long")
    )


#: per-(user, day) bars, one eager checkpoint per ``events`` path, at
#: its latest version
_DAILY_BARS = VersionCache("daily_close", 4)


def _daily_close(spark, sf_dir) -> DataFrame:
    """Shared shape: events → per-(user, day) OHLC-ish bar.

    The engine's time-series unit, mirroring the reference's daily
    (symbol, trade_date) bars (stock_price_history): close = last
    NON-NULL value of the day, high/low/volume from the same group —
    one shuffle. Two cross-engine subtleties pinned by the r10
    adversarial relational battery: the close orders by the UNIQUE
    (ts, event_id) key (`event_order_key` — plain ts leaves duplicate
    timestamps engine-ordered), and the NULL rule is stated on both
    lanes (DuckDB's max_by skips NULL args natively; Spark's returns
    the arg at the max key even when NULL, so the engine lane nulls
    the KEY for NULL values to match — a valueless tick is not a
    price).

    The result is a per-version checkpoint: the first call on an
    ``events`` version runs the aggregate eagerly and caches it as a
    ``localCheckpoint`` (io/cache.py); later calls on the same version
    return that relation without starting a job, and a replaced
    ``events`` file is a new version, whose bars replace the old ones."""

    def bars() -> DataFrame:
        ev = _t(spark, sf_dir, "events")
        # day-aligned groupBy ⇒ the day-scoped packed-long key is exact
        # (see day_scoped_order_key — same argmax, one int64 compare)
        key = day_scoped_order_key()
        return ev.groupBy(
            F.col("user_id"), F.to_date("ts").alias("d")
        ).agg(
            F.max_by(
                "value", F.when(F.col("value").isNotNull(), key)
            ).alias("close"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.count(F.lit(1)).alias("n_events"),
        ).localCheckpoint(eager=True)

    version = file_version(table_path("events", sf_dir))
    return _DAILY_BARS.get_or_compute(spark, version, bars)


#: DuckDB CTE equivalent of `_daily_close` (shared across oracle strings).
DAILY_SQL = f"""
daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         max_by(value, {EVENT_ORDER_KEY_SQL}) AS close,
         max(value) AS high, min(value) AS low,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
)
"""


def _latest_close(spark, sf_dir) -> DataFrame:
    """Each user's latest daily bar (``user_id, d, close``) with the close
    of the bar before it as ``prev_close`` — NULL on a user's first day:
    window lag (W1) over `_daily_close`, then latest-per-key (J4)."""
    daily = _daily_close(spark, sf_dir).select("user_id", "d", "close")
    w = W.partitionBy("user_id").orderBy("d")
    seq = daily.withColumn("prev_close", F.lag("close").over(w))
    return latest_per_key(seq, ["user_id"], "d")


#: DuckDB CTE equivalent of `_latest_close`; follows `DAILY_SQL`.
LATEST_CLOSE_SQL = """
latest_close AS (
  SELECT user_id, d, close, prev_close FROM (
    SELECT user_id, d, close,
           lag(close) OVER (PARTITION BY user_id ORDER BY d) AS prev_close,
           row_number() OVER (PARTITION BY user_id ORDER BY d DESC) AS rn
    FROM daily
  ) WHERE rn = 1
)
"""


def _latest_movers(spark, sf_dir, descending: bool) -> DataFrame:
    """The ten users whose latest close moved most from the one before,
    by percent change — up when `descending`, down otherwise — joined to
    their ``customer`` name (J1 broadcast, P18 pct-change, O3 top-k)."""
    cust = _t(spark, sf_dir, "customer")
    pct = F.col("pct_change")
    return (
        _latest_close(spark, sf_dir)
        .filter(F.col("prev_close").isNotNull() & (F.col("prev_close") != 0))
        .join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        .select(
            "user_id",
            "c_name",
            F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
            pround("close", 2).alias("close"),
            pround("prev_close", 2).alias("prev_close"),
            pround(pct_change_expr(F.col("close"), F.col("prev_close")), 4).alias(
                "pct_change"
            ),
        )
        .orderBy(pct.desc() if descending else pct.asc(), "user_id")
        .limit(10)
    )


def latest_movers_sql(descending: bool) -> str:
    """DuckDB oracle of `_latest_movers`."""
    return f"""
    WITH {DAILY_SQL}, {LATEST_CLOSE_SQL}
    SELECT s.user_id, c.c_name,
           strftime(s.d, '%Y-%m-%d') AS trade_date,
           round(s.close, 2) AS close,
           round(s.prev_close, 2) AS prev_close,
           round((s.close - s.prev_close) / s.prev_close * 100, 4) AS pct_change
    FROM latest_close s JOIN customer c ON s.user_id = c.c_custkey
    WHERE s.prev_close IS NOT NULL AND s.prev_close <> 0
    ORDER BY pct_change {"DESC" if descending else "ASC"}, s.user_id
    LIMIT 10
    """
