"""``nightly_etl``: one increment per trading day, as the reference's 02:00
job runs it.

500 symbols start with a year of backfilled history (and the patterns
derived from it). Each increment fetches the day's quotes through
``sources.fetch_quotes_distributed`` with an in-process seeded fetcher,
lands them with ``write_landing_json``, merges them with
``run_stock_pipeline``, then scores and upserts the day's news and
correlates it with the day's prices.

After each increment, outside the timed region, the check requires that
history holds exactly the backfill plus every landed day, once per
``(symbol, trade_date)``, and that sampled sentiment scores equal
``text.sentiment.vader_score``.
"""

from __future__ import annotations

import os
import time

import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import functions as F
from trading_dashboard_spark.io.writers import write_overwrite, write_partitioned
from trading_dashboard_spark.pipelines.news_pipeline import (
    correlate_signal_with_price,
    score_news,
    upsert_news,
)
from trading_dashboard_spark.pipelines.stock_pipeline import derive_patterns, run_stock_pipeline
from trading_dashboard_spark.schemas import DAILY_COMPANY_NEWS
from trading_dashboard_spark.sources.landing import write_landing_json
from trading_dashboard_spark.sources.rest import fetch_quotes_distributed
from trading_dashboard_spark.text.sentiment import vader_score

from . import gen
from .ops import Op
from .stats import median

WARMUP_OPS = 1
SENTIMENT_SAMPLE = 8


def _files(root: str) -> dict[str, tuple[int, int, int]]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.join(d, n)] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


class Nightly:
    def __init__(self, seed: int, tracer, work: str):
        self.seed, self.tracer = seed, tracer
        self.landing = os.path.join(work, "landing")
        self.tables = os.path.join(work, "tables")  # history, patterns, news + their .tmp
        self.history = os.path.join(self.tables, "history")
        self.patterns = os.path.join(self.tables, "patterns")
        self.news = os.path.join(self.tables, "news")
        self.ops: list[Op] = []
        self.day = 0
        self.paused_s = 0.0
        self.wall_s = 0.0

    # ---------------------------------------------------------------- setup
    def setup_inputs(self, spark) -> None:
        self.spark = spark
        self.walk = gen.QuoteWalk(self.seed)
        backfill = self.walk.backfill()
        self.expected_rows = backfill.num_rows
        write_partitioned(spark.createDataFrame(backfill.to_pandas()), self.history, ["year"])
        write_overwrite(derive_patterns(spark.read.parquet(self.history)), self.patterns)
        write_overwrite(spark.createDataFrame([], DAILY_COMPANY_NEWS), self.news)
        self.symbols = spark.createDataFrame([(s,) for s in self.walk.syms], ["symbol"])

    def warmup(self) -> None:
        for _ in range(WARMUP_OPS):
            self._increment(timed=False)

    def measure(self, seconds: float) -> None:
        t0, paused0 = time.perf_counter(), self.paused_s
        while time.perf_counter() < t0 + seconds:
            self._increment(timed=True)
        self.wall_s = time.perf_counter() - t0 - (self.paused_s - paused0)

    # ------------------------------------------------------------ increment
    def _increment(self, timed: bool) -> None:
        p0 = time.perf_counter()
        i = self.day
        self.day += 1
        date, quotes = self.walk.day(i)
        news_rows = gen.news(self.seed, i, date, self.walk.syms)
        y, m, d = f"{date:%Y}", f"{date:%m}", f"{date:%d}"
        before = _files(self.tables)
        tid = f"d{i}"
        op = Op("increment", tid, timed, units=len(quotes))
        spark, span = self.spark, self.tracer.span
        spark.sparkContext.setJobGroup(tid, f"nightly {date}")
        self.paused_s += time.perf_counter() - p0
        t0 = time.perf_counter()
        try:
            with span("increment", tid):
                with span("sources.fetch_land"):
                    # the seeded payloads stand in for the quote API
                    raw = fetch_quotes_distributed(self.symbols, quotes.get, date=date.isoformat())
                    write_landing_json(raw, self.landing, y, m, d)
                t1 = time.perf_counter()
                with span("pipelines.stock"):
                    counts = run_stock_pipeline(spark, self.landing, self.history, self.patterns, y, m, d)
                t2 = time.perf_counter()
                with span("pipelines.news"):
                    existing = spark.read.parquet(self.news)
                    scored = score_news(spark.createDataFrame(
                        [{**r, "sentiment_score": None} for r in news_rows], DAILY_COMPANY_NEWS))
                    merged = upsert_news(existing, scored)
                    with span("io.writers.write_overwrite"):
                        write_overwrite(merged, self.news + ".tmp")
                        write_overwrite(spark.read.parquet(self.news + ".tmp"), self.news)
                t3 = time.perf_counter()
                with span("pipelines.correlate"):
                    day_news = spark.read.parquet(self.news).filter(F.col("news_date") == date)
                    day_price = spark.read.parquet(self.history).filter(F.col("trade_date") == date)
                    corr = correlate_signal_with_price(day_news, day_price).collect()
            t4 = time.perf_counter()
            op.latency_ms = (t4 - t0) * 1e3
            op.layer = {
                "sources.fetch_land_ms": (t1 - t0) * 1e3,
                "pipelines.stock_ms": (t2 - t1) * 1e3,
                "pipelines.news_ms": (t3 - t2) * 1e3,
                "pipelines.correlate_ms": (t4 - t3) * 1e3,
                "pipelines.pattern_rows": counts["pattern_rows"],
            }
        except Exception as e:  # a failed increment is counted, not fatal
            op.latency_ms = (time.perf_counter() - t0) * 1e3
            op.error = f"{type(e).__name__}: {e}"
        p1 = time.perf_counter()
        if op.error is None:
            self._check(op, date, quotes, news_rows, corr, before)
        self.ops.append(op)
        self.paused_s += time.perf_counter() - p1

    # ---------------------------------------------------------------- check
    def _check(self, op: Op, date, quotes, news_rows, corr, before) -> None:
        problems = []
        self.expected_rows += len(quotes)
        hist = ds.dataset(self.history, format="parquet", partitioning="hive").to_table(
            columns=["symbol", "trade_date", "closing_price"])
        keys = hist.group_by(["symbol", "trade_date"]).aggregate([])
        if hist.num_rows != self.expected_rows:
            problems.append(f"history has {hist.num_rows} rows, expected backfill + landed = {self.expected_rows}")
        if keys.num_rows != hist.num_rows:
            problems.append(f"{hist.num_rows - keys.num_rows} duplicate (symbol, trade_date) rows")
        today = hist.filter(pc.equal(hist["trade_date"], date)).to_pylist()
        if {r["symbol"]: r["closing_price"] for r in today} != {s: q["c"] for s, q in quotes.items()}:
            problems.append("the day's closing prices differ from the landed quotes")

        news = ds.dataset(self.news, format="parquet").to_table()
        day = news.filter(pc.equal(news["news_date"], date)).to_pylist()
        if len(day) != len(news_rows):
            problems.append(f"{len(day)} news rows for the day, expected {len(news_rows)}")
        day.sort(key=lambda r: r["headline"])
        step = max(1, len(day) // SENTIMENT_SAMPLE)
        for r in day[::step]:
            want = vader_score(f"{r['headline']} {r['summary']}")
            if abs(r["sentiment_score"] - want) > 1e-9:
                problems.append(f"sentiment {r['sentiment_score']} != vader_score {want}")
                break
        if len(corr) != len({r["symbol"] for r in news_rows}) or any(
            r["price_direction"] == "Unknown" for r in corr
        ):
            problems.append("correlation rows do not match the day's news and prices")

        after = _files(self.tables)
        created = [k for k, v in after.items() if before.get(k) != v]
        landed = sum(os.path.getsize(os.path.join(dp, n))
                     for dp, _, ns in os.walk(os.path.join(self.landing, f"{date:%Y/%m/%d}")) for n in ns)
        written = sum(after[k][2] for k in created)
        op.layer.update({
            "io.bytes_written": written,
            "io.files_written": len(created),
            "io.write_amplification": written / landed if landed else 0.0,
            "pipelines.history_rows": hist.num_rows,
        })
        op.ok = not problems
        op.error = "; ".join(problems) or None

    def check(self) -> None:
        """Nothing left to check: each increment is checked as it ends,
        before the next one changes the tables."""

    def layer_metrics(self, timed: list[Op]) -> dict[str, float]:
        def med(key: str) -> float:
            return median([o.layer[key] for o in timed if key in o.layer])

        def mean(key: str) -> float:
            vals = [o.layer[key] for o in timed if key in o.layer]
            return sum(vals) / len(vals) if vals else 0.0

        last = next((o.layer for o in reversed(self.ops) if "pipelines.history_rows" in o.layer), {})
        return {
            "sources.fetch_land_ms": med("sources.fetch_land_ms"),
            "pipelines.stock_ms": med("pipelines.stock_ms"),
            "pipelines.news_ms": med("pipelines.news_ms"),
            "pipelines.correlate_ms": med("pipelines.correlate_ms"),
            "io.bytes_written_per_op": mean("io.bytes_written"),
            "io.files_written_per_op": mean("io.files_written"),
            "io.write_amplification": mean("io.write_amplification"),
            "pipelines.history_rows": float(last.get("pipelines.history_rows", 0)),
            "pipelines.pattern_rows": float(last.get("pipelines.pattern_rows", 0)),
        }
