"""Dashboard workloads: viewers issuing the registry's dashboard queries.

``dashboard_read``: CLIENTS closed-loop clients share one session over
read-only tables. ``dashboard_refresh``: one client, and every
REFRESH_EVERY requests the generator swaps in a new ``events`` file
carrying the next seeded batch of ticks (atomic rename between requests).

Every request's rows are compared, after the timed region, with the
registry's DuckDB oracle run on the table version the request saw.
"""

from __future__ import annotations

import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pandas as pd
from trading_dashboard_spark.queries import QUERY_REGISTRY

from tools.check_oracle import compare

from . import gen
from .engine import CPUS
from .ops import Op
from .stats import median

TAGS = ("dashboard", "flagship")
CLIENTS = CPUS
REFRESH_EVERY = 5
REFRESH_BATCH = 2_000
WARMUP_PASSES = 1


def dashboard_queries() -> list[str]:
    return [n for n, s in QUERY_REGISTRY.items() if set(s.tags) & set(TAGS)]


class Dashboard:
    def __init__(self, seed: int, tracer, work: str, refresh: bool):
        self.seed, self.tracer, self.refresh = seed, tracer, refresh
        self.names = dashboard_queries()
        unchecked = [n for n in self.names if not QUERY_REGISTRY[n].oracle]
        if unchecked:
            raise ValueError(f"dashboard queries without a DuckDB oracle: {unchecked}")
        self.sf_dir = os.path.join(work, "sf0.1")
        self.clients = 1 if refresh else CLIENTS
        self.ops: list[Op] = []
        self.results: dict[str, tuple[int, list[str], list]] = {}
        self.versions: list = []  # events table per version
        self.first_after_refresh: set[str] = set()
        self.paused_s = 0.0  # time spent in the generator, not the program
        self.wall_s = 0.0
        self._lock = threading.Lock()

    # ---------------------------------------------------------------- setup
    def setup_inputs(self, spark) -> None:
        self.spark = spark
        os.makedirs(self.sf_dir, exist_ok=True)
        self.customer = gen.customer(self.seed)
        gen.write_atomic(self.customer, os.path.join(self.sf_dir, "customer.parquet"))
        self._install(gen.events(self.seed))
        self.order = gen.request_order(self.seed, self.names)
        self.next = 0

    def _install(self, table) -> None:
        gen.write_atomic(table, os.path.join(self.sf_dir, "events.parquet"))
        self.versions.append(table)

    def warmup(self) -> None:
        """WARMUP_PASSES requests per dashboard query, through the same
        clients: the engine's code paths are compiled before timing."""
        self._loop(WARMUP_PASSES * len(self.names), deadline=None, timed=False)

    def measure(self, seconds: float) -> None:
        t0, paused0 = time.perf_counter(), self.paused_s
        self._loop(None, deadline=t0 + seconds, timed=True)
        self.wall_s = time.perf_counter() - t0 - (self.paused_s - paused0)

    # ------------------------------------------------------------- requests
    def _take(self, stop_at: int | None) -> tuple[int, str, int] | None:
        """Next request: its sequence number, query and table version;
        ``None`` once ``stop_at`` requests have been handed out."""
        with self._lock:
            if stop_at is not None and self.next >= stop_at:
                return None
            seq = self.next
            self.next += 1
            if self.refresh and seq and seq % REFRESH_EVERY == 0:
                t = time.perf_counter()
                k = len(self.versions) - 1
                self._install(gen.next_events(self.seed, k, self.versions[-1], REFRESH_BATCH))
                self.paused_s += time.perf_counter() - t
                self.first_after_refresh.add(f"r{seq}")
            return seq, next(self.order), len(self.versions) - 1

    def _loop(self, count: int | None, deadline: float | None, timed: bool) -> None:
        stop_at = None if count is None else self.next + count

        def client() -> None:
            while deadline is None or time.perf_counter() < deadline:
                nxt = self._take(stop_at)
                if nxt is None:
                    return
                self._request(*nxt, timed)

        with ThreadPoolExecutor(self.clients) as pool:
            for f in [pool.submit(client) for _ in range(self.clients)]:
                f.result()

    def _request(self, seq: int, name: str, version: int, timed: bool) -> None:
        tid = f"r{seq}"
        op = Op(name, tid, timed)
        self.spark.sparkContext.setJobGroup(tid, name)
        span = self.tracer.span
        t0 = time.perf_counter()
        try:
            with span("request", tid):
                with span("queries.plan"):
                    df = QUERY_REGISTRY[name].fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                with span("engine.execute"):
                    rows = df.collect()
            t2 = time.perf_counter()
            op.layer = {"queries.plan_ms": (t1 - t0) * 1e3, "engine.execute_ms": (t2 - t1) * 1e3}
            op.latency_ms = (t2 - t0) * 1e3
            self.results[tid] = (version, df.columns, rows)
        except Exception as e:  # a failed request is counted, not fatal
            op.latency_ms = (time.perf_counter() - t0) * 1e3
            op.error = f"{type(e).__name__}: {e}"
        with self._lock:
            self.ops.append(op)

    # ---------------------------------------------------------------- check
    def check(self) -> None:
        """Compare every request with the oracle on the version it saw."""
        con = duckdb.connect()
        con.register("customer", self.customer)
        oracle: dict[tuple[int, str], pd.DataFrame] = {}
        registered = None
        for op in sorted(self.ops, key=lambda o: self.results.get(o.trace_id, (0,))[0]):
            if op.error:
                continue
            version, columns, rows = self.results.pop(op.trace_id)
            key = (version, op.name)
            if key not in oracle:
                if registered != version:
                    con.register("events", self.versions[version])
                    registered = version
                oracle[key] = con.execute(QUERY_REGISTRY[op.name].oracle).fetchdf()
            got = pd.DataFrame.from_records(rows, columns=columns)
            problems = compare(op.name, got, oracle[key])
            op.ok = not problems
            op.error = "; ".join(problems) or None
            op.layer["rows"] = len(rows)
        con.close()

    def layer_metrics(self, timed: list[Op]) -> dict[str, float]:
        first = [o.latency_ms for o in timed if o.trace_id in self.first_after_refresh]
        return {
            "queries.plan_ms": median([o.layer.get("queries.plan_ms", 0.0) for o in timed]),
            "engine.execute_ms": median([o.layer.get("engine.execute_ms", 0.0) for o in timed]),
            "queries.rows_per_op": sum(o.layer.get("rows", 0) for o in timed) / max(1, len(timed)),
            "refresh.first_request_ms": median(first),
            "refresh.versions": float(len(self.versions)),
        }
