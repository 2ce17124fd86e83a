"""Seeded input generation.

Every input the benchmark hands to the program is made here from the
workload seed, so the same seed gives byte-identical tables. The shapes
follow the sf0.1 test tables the dashboard queries were written for:
100k ``events`` ticks from 1,500 users over 30 days and 15k ``customer``
rows; the nightly ETL gets 500 symbols with a year of daily bars, one
fresh quote per symbol per trading day and a seeded draw of news texts.
"""

from __future__ import annotations

import datetime as dt
import os
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
N_EVENTS = 100_000
N_USERS = 1_500
N_CUSTOMERS = 15_000
EVENT_DAYS = 30
MEAN_GAP_US = EVENT_DAYS * DAY_US / N_EVENTS
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)

# stream tags keep the draws of different inputs independent of each other
_EVENTS, _CUSTOMER, _ORDER, _BATCH, _QUOTES, _NEWS = range(6)


def rng(seed: int, stream: int, *sub: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, stream, *sub]))


def _ticks(g: np.random.Generator, n: int, first_id: int, after_us: int) -> pa.Table:
    # strictly increasing microsecond timestamps: no two ticks share a ts
    gaps = 1 + np.floor(g.exponential(MEAN_GAP_US, n)).astype(np.int64)
    ts = after_us + np.cumsum(gaps)
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": g.integers(0, N_USERS, n, dtype=np.int64),
            "event_type": EVENT_TYPES[g.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(g.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n)],
        },
        schema=EVENTS_SCHEMA,
    )


def events(seed: int) -> pa.Table:
    """The base ``events`` table: N_EVENTS ticks starting 2024-01-01."""
    return _ticks(rng(seed, _EVENTS), N_EVENTS, 0, BASE_US)


def next_events(seed: int, k: int, current: pa.Table, batch: int) -> pa.Table:
    """``current`` plus the k-th seeded batch of ``batch`` later ticks."""
    last_id = current.num_rows
    last_us = current.column("ts").cast(pa.int64())[-1].as_py()
    return pa.concat_tables([current, _ticks(rng(seed, _BATCH, k), batch, last_id, last_us)])


def customer(seed: int) -> pa.Table:
    g = rng(seed, _CUSTOMER)
    keys = np.arange(N_CUSTOMERS, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": g.integers(0, 25, N_CUSTOMERS, dtype=np.int32),
            "c_acctbal": np.round(g.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
            "c_mktsegment": SEGMENTS[g.integers(0, len(SEGMENTS), N_CUSTOMERS)],
        }
    )


def write_atomic(table: pa.Table, path: str) -> None:
    """Write ``table`` as one parquet file and move it into place with a
    rename, so a reader sees either the old file or the new one."""
    tmp = f"{path}.incoming"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def request_order(seed: int, names: list[str]) -> Iterator[str]:
    """Query names without end, in blocks of seeded permutations of
    ``names``: every prefix holds each query equally often, give or take one."""
    g = rng(seed, _ORDER)
    while True:
        yield from (names[i] for i in g.permutation(len(names)))


# --------------------------------------------------------------------------
# nightly ETL inputs

N_SYMBOLS = 500
BACKFILL_DAYS = 252  # one trading year: the 200-day moving average is full
FIRST_BACKFILL_DAY = dt.date(2023, 1, 2)
NEWS_PER_DAY = 120

_WORDS = (
    "market shares stock trading quarter revenue earnings guidance outlook "
    "analyst investors company product launch supply chain demand sector "
    "price target report update board deal merger chip cloud software"
).split()
_TONE = (
    "strong gain great growth beat record win improve positive surge "
    "weak loss bad decline miss fall risk concern crash lawsuit"
).split()
_NEGATIONS = ("not", "never", "no")


def symbols() -> list[str]:
    """N_SYMBOLS distinct alphabetic tickers (AAA, AAB, ...)."""
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    return [
        letters[i // 676] + letters[i // 26 % 26] + letters[i % 26]
        for i in range(N_SYMBOLS)
    ]


def trading_days(first: dt.date, n: int) -> list[dt.date]:
    days, d = [], first
    while len(days) < n:
        if d.weekday() < 5:
            days.append(d)
        d += dt.timedelta(days=1)
    return days


class QuoteWalk:
    """Seeded daily OHLCV random walk per symbol.

    ``backfill()`` gives the first BACKFILL_DAYS bars in the history
    table's schema; ``day(i)`` gives the quote payloads of the i-th trading
    day after the backfill, as a quote API would return them."""

    def __init__(self, seed: int):
        self.seed = seed
        self.syms = symbols()
        days = trading_days(FIRST_BACKFILL_DAY, BACKFILL_DAYS + 1)
        self.backfill_days = days[:BACKFILL_DAYS]
        self.first_new_day = days[BACKFILL_DAYS]
        self._close = rng(seed, _QUOTES).uniform(20.0, 400.0, N_SYMBOLS)
        self._bars: list[dict] = []
        for _ in range(BACKFILL_DAYS):
            self._bars.append(self._step(len(self._bars)))

    def _step(self, i: int) -> dict:
        g = rng(self.seed, _QUOTES, i + 1)
        n = N_SYMBOLS
        pc = self._close
        o = pc * np.exp(g.normal(0.0, 0.005, n))
        c = pc * np.exp(g.normal(0.0, 0.02, n))
        h = np.maximum(o, c) * (1.0 + np.abs(g.normal(0.0, 0.015, n)))
        lo = np.minimum(o, c) * (1.0 - np.abs(g.normal(0.0, 0.015, n)))
        self._close = np.round(c, 2)
        return {
            "o": np.round(o, 2), "h": np.round(h, 2), "l": np.round(lo, 2),
            "c": self._close, "pc": np.round(pc, 2),
            "v": g.integers(100_000, 50_000_000, n, dtype=np.int64),
        }

    def backfill(self) -> pa.Table:
        cols: dict[str, list] = {k: [] for k in (
            "symbol", "trade_date", "opening_price", "highest_price", "lowest_price",
            "closing_price", "traded_volume", "previous_closing_price", "year")}
        for day, bar in zip(self.backfill_days, self._bars):
            cols["symbol"].extend(self.syms)
            cols["trade_date"].extend([day] * N_SYMBOLS)
            cols["opening_price"].extend(bar["o"])
            cols["highest_price"].extend(bar["h"])
            cols["lowest_price"].extend(bar["l"])
            cols["closing_price"].extend(bar["c"])
            cols["traded_volume"].extend(bar["v"])
            cols["previous_closing_price"].extend(bar["pc"])
            cols["year"].extend([day.year] * N_SYMBOLS)
        return pa.table(
            {
                **cols,
                "trade_date": pa.array(cols["trade_date"], pa.date32()),
                "traded_volume": pa.array(cols["traded_volume"], pa.int64()),
                "year": pa.array(cols["year"], pa.int32()),
            }
        )

    def day(self, i: int) -> tuple[dt.date, dict[str, dict]]:
        """Trading day ``i`` (0-based, after the backfill) and its quotes."""
        while len(self._bars) <= BACKFILL_DAYS + i:
            self._bars.append(self._step(len(self._bars)))
        bar = self._bars[BACKFILL_DAYS + i]
        date = trading_days(self.first_new_day, i + 1)[-1]
        quotes = {}
        for j, s in enumerate(self.syms):
            c, pc = float(bar["c"][j]), float(bar["pc"][j])
            quotes[s] = {
                "o": float(bar["o"][j]), "h": float(bar["h"][j]), "l": float(bar["l"][j]),
                "c": c, "pc": pc, "d": round(c - pc, 2), "dp": round((c - pc) / pc * 100, 4),
                "v": int(bar["v"][j]),
            }
        return date, quotes


def news(seed: int, i: int, date: dt.date, syms: list[str]) -> list[dict]:
    """NEWS_PER_DAY seeded articles for trading day ``i``: neutral market
    words with a few sentiment-bearing and negated terms mixed in."""
    g = rng(seed, _NEWS, i)
    rows = []
    for k in range(NEWS_PER_DAY):
        def sentence(n_words: int) -> str:
            words = list(g.choice(_WORDS, n_words))
            for _ in range(int(g.integers(0, 3))):
                tone = str(g.choice(_TONE))
                if g.random() < 0.25:
                    tone = f"{g.choice(_NEGATIONS)} {tone}"
                words.insert(int(g.integers(0, len(words) + 1)), tone)
            text = " ".join(words)
            return text.capitalize() + ("!" if g.random() < 0.1 else ".")

        rows.append(
            {
                "symbol": syms[int(g.integers(0, len(syms)))],
                "news_date": date,
                "headline": f"{sentence(int(g.integers(5, 10)))} #{i}-{k}",
                "summary": sentence(int(g.integers(15, 40))),
                "source": f"src{int(g.integers(0, 5))}",
                "url": f"https://news.example/{i}/{k}",
            }
        )
    return rows
