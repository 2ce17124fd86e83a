"""Tests of the benchmark's own logic; no engine is started.

    python3 -m pytest perfbench -q
"""

import itertools
import json
import math
import os

import pytest

from perfbench import gen
from perfbench.ops import Op
from perfbench.run import END_TO_END, PER_LAYER, end_to_end
from perfbench.stats import percentile
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_same_seed_same_inputs():
    assert gen.events(7).equals(gen.events(7))
    assert gen.customer(7).equals(gen.customer(7))
    assert not gen.events(7).equals(gen.events(8))
    base = gen.events(7)
    assert gen.next_events(7, 0, base, 100).equals(gen.next_events(7, 0, base, 100))
    a, b = gen.QuoteWalk(7), gen.QuoteWalk(7)
    assert a.backfill().equals(b.backfill())
    b.day(3)  # days drawn out of order still come out the same
    assert a.day(1) == b.day(1) and a.day(3) == b.day(3)
    assert gen.news(7, 2, a.day(2)[0], a.syms) == gen.news(7, 2, b.day(2)[0], b.syms)


def test_refresh_batch_appends_later_unique_ticks():
    base = gen.events(3)
    new = gen.next_events(3, 0, base, 500)
    assert new.num_rows == base.num_rows + 500
    assert new.slice(0, base.num_rows).equals(base)
    ts = new.column("ts").cast("int64").to_pylist()
    assert all(x < y for x, y in zip(ts, ts[1:]))
    assert new.column("event_id").to_pylist() == list(range(new.num_rows))


def test_request_order_is_balanced_in_every_prefix():
    names = [f"q{i}" for i in range(10)]
    order = list(itertools.islice(gen.request_order(5, names), 95))
    for k in range(1, len(order) + 1):
        counts = [order[:k].count(n) for n in names]
        assert max(counts) - min(counts) <= 1


def test_backfill_fills_the_long_moving_average():
    walk = gen.QuoteWalk(1)
    assert walk.backfill().num_rows == gen.N_SYMBOLS * gen.BACKFILL_DAYS
    assert gen.BACKFILL_DAYS >= 200
    assert walk.day(0)[0] > walk.backfill_days[-1]


def test_percentile_needs_ten_samples_beyond():
    assert percentile(list(range(1, 100)), 0.9) is None  # 99 samples: 9 beyond
    assert percentile(list(range(1, 101)), 0.9) == 90  # 100 samples: 10 beyond
    assert percentile([1.0, 2.0, 3.0], 0.5) is None
    assert percentile([1.0, 2.0, 3.0], 0.5, min_beyond=0) == 2.0
    with pytest.raises(ValueError):
        percentile([1.0], 1.0)


def test_failed_operation_misses_the_latency_limit():
    ok = [float(i) for i in range(1, 101)]
    assert percentile(ok[:-1] + [None], 0.9) == 90
    assert percentile([None] * 21 + ok[:19], 0.5, min_beyond=0) == math.inf
    # a failure replaces a fast sample, so the median can only rise
    assert percentile([None] + ok[1:21], 0.5, min_beyond=0) > percentile(ok[:21], 0.5, min_beyond=0)


def test_failed_operations_count_against_throughput_and_latency():
    ops = [Op("q", f"r{i}", True, latency_ms=10.0, ok=i % 3 == 0, units=5) for i in range(10)]
    e2e = end_to_end(ops, wall_s=2.0, setup_s=1.0)
    assert e2e["throughput_per_s"] == 4 * 5 / 2.0  # only the 4 verified ops
    assert e2e["latency_p50_ms"] == math.inf  # most failed: the median misses
    all_failed = [Op("q", f"r{i}", True, latency_ms=10.0, ok=False) for i in range(4)]
    assert end_to_end(all_failed, 2.0, 1.0)["throughput_per_s"] == 0.0


def test_self_time_subtracts_children():
    t = Tracer(True)
    with t.span("request", "r1"):
        with t.span("queries.plan"):
            pass
        with t.span("engine.execute"):
            with t.span("inner"):
                pass
    by_name = {s.name: s for s in t.spans}
    assert by_name["queries.plan"].parent == by_name["request"].span_id
    assert {s.trace_id for s in t.spans} == {"r1"}
    self_ms = t.self_ms({"r1"})
    total = (by_name["request"].end - by_name["request"].start) * 1e3
    assert sum(self_ms.values()) == pytest.approx(total)
    assert t.self_ms({"other"}) == {}
    off = Tracer(False)
    with off.span("request", "r1"):
        pass
    assert off.spans == []


def test_benchmark_json_matches_the_metrics_printed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
