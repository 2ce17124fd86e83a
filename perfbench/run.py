"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dashboard_read --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The lines before it print every metric measured, by name
and unit. Each run is one fresh process: set-up (engine start, input
generation and a fixed warm-up of the workload's own operations) is timed
from process start to the first timed operation.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import engine, procstat  # noqa: E402
from perfbench.stats import median, percentile  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

END_TO_END = {
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "setup_s": "s",
}

PER_LAYER = {
    "session.start_ms": "ms",
    "setup.inputs_ms": "ms",
    "setup.warmup_ms": "ms",
    "queries.plan_ms": "ms",
    "engine.execute_ms": "ms",
    "engine.jobs_per_op": "count",
    "engine.stages_per_op": "count",
    "engine.tasks_per_op": "count",
    "queries.rows_per_op": "count",
    "refresh.first_request_ms": "ms",
    "refresh.versions": "count",
    "sources.fetch_land_ms": "ms",
    "pipelines.stock_ms": "ms",
    "pipelines.news_ms": "ms",
    "pipelines.correlate_ms": "ms",
    "io.bytes_written_per_op": "bytes",
    "io.files_written_per_op": "count",
    "io.write_amplification": "ratio",
    "pipelines.history_rows": "count",
    "pipelines.pattern_rows": "count",
    "proc.cpu_ms_per_op": "ms",
    "proc.jit_cpu_ms_per_op": "ms",
    "proc.peak_rss_mb": "MB",
    "host.calib_ms": "ms",
    "host.steal_pct": "%",
}

#: spans recorded by the traced run; each gets a ``<span>.self_ms`` metric
SPANS = (
    "setup.session", "setup.inputs", "setup.warmup",
    "request", "queries.plan", "engine.execute",
    "increment", "sources.fetch_land", "pipelines.stock", "pipelines.news",
    "io.writers.write_overwrite", "pipelines.correlate",
)
PER_LAYER.update({f"{s}.self_ms": "ms" for s in SPANS})
PER_LAYER.update({"trace.latency_p50_ms": "ms", "trace.span_cost_us": "us"})

WORKLOADS = ("dashboard_read", "dashboard_refresh", "nightly_etl")


def make_workload(name: str, seed: int, tracer: Tracer, work: str):
    if name == "nightly_etl":
        from perfbench.nightly import Nightly

        return Nightly(seed, tracer, work)
    from perfbench.dashboard import Dashboard

    return Dashboard(seed, tracer, work, refresh=name == "dashboard_refresh")


def end_to_end(timed: list, wall_s: float, setup_s: float) -> dict[str, float | None]:
    """End-to-end metrics over the timed operations. A failed operation
    stays in the latency samples as missing every limit, and only verified
    work counts towards throughput."""
    samples = [o.latency_ms if o.ok else None for o in timed]
    verified = sum(o.units for o in timed if o.ok)
    return {
        "latency_p50_ms": percentile(samples, 0.5, min_beyond=0),
        "throughput_per_s": verified / wall_s if wall_s > 0 else 0.0,
        "setup_s": setup_s,
    }


def span_cost_us(n: int = 20_000) -> float:
    """Cost of recording one span, measured on a private tracer."""
    t = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x", "t"):
            pass
    return (time.perf_counter() - t0) / n * 1e6


def print_table(args, ops: list, timed: list, values: dict) -> None:
    """Every metric measured, by name and unit, plus per-query medians and
    the first failures."""
    failed = [o for o in ops if not o.ok]
    p90 = percentile([o.latency_ms if o.ok else None for o in timed], 0.9)
    print(f"# {args.workload} seed={args.seed}: {len(timed)} timed ops, "
          f"{len(failed)} failed of {len(ops)} (warm-up included)")
    print("  latency_p90_ms: " + (f"{p90} ms" if p90 is not None else
          f"not reported ({len(timed)} samples; needs 10 beyond the 90th percentile)"))
    for name, value in values.items():
        print(f"  {name}: {value} {END_TO_END.get(name) or PER_LAYER[name]}")
    by_name: dict[str, list[float]] = {}
    for o in timed:
        by_name.setdefault(o.name, []).append(o.latency_ms)
    for name, lat in sorted(by_name.items()):
        print(f"  op {name}: n={len(lat)} p50={median(lat):.1f} ms")
    for o in failed[:5]:
        print(f"  FAILED {o.trace_id} {o.name}: {o.error}")


def run(args) -> dict:
    started = procstat.process_start_epoch()
    calib = [procstat.calib_ms()]
    host0 = procstat.cpu_times()
    tracer = Tracer(bool(args.trace))
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        wl = make_workload(args.workload, args.seed, tracer, work)
        with tracer.span("setup.session", "setup"):
            spark, session_s = engine.start(work)
        t = time.perf_counter()
        with tracer.span("setup.inputs", "setup"):
            wl.setup_inputs(spark)
        t_inputs = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("setup.warmup", "setup"):
            wl.warmup()
        t_warmup = time.perf_counter() - t
        setup_s = time.time() - started
        cpu0, jit0 = procstat.cpu_seconds(), procstat.jit_cpu_seconds()
        wl.measure(args.seconds)
        cpu_s = procstat.cpu_seconds() - cpu0
        jit_s = procstat.jit_cpu_seconds() - jit0
        wl.check()
        for op in wl.ops:
            op.counts = engine.op_counts(spark, op.trace_id)
        rss = procstat.peak_rss_mb()
    finally:
        if spark is not None:
            engine.stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    steal = procstat.steal_pct(host0, procstat.cpu_times())
    calib.append(procstat.calib_ms())

    timed = [o for o in wl.ops if o.timed]
    n = max(1, len(timed))
    e2e = end_to_end(timed, wl.wall_s, setup_s)
    layer = dict.fromkeys(PER_LAYER, 0.0)
    layer.update(
        {
            "session.start_ms": session_s * 1e3,
            "setup.inputs_ms": t_inputs * 1e3,
            "setup.warmup_ms": t_warmup * 1e3,
            "engine.jobs_per_op": sum(o.counts.jobs for o in timed) / n,
            "engine.stages_per_op": sum(o.counts.stages for o in timed) / n,
            "engine.tasks_per_op": sum(o.counts.tasks for o in timed) / n,
            "proc.cpu_ms_per_op": cpu_s * 1e3 / n,
            "proc.jit_cpu_ms_per_op": jit_s * 1e3 / n,
            "proc.peak_rss_mb": rss,
            "host.calib_ms": sum(calib) / len(calib),
            "host.steal_pct": steal,
        }
    )
    layer.update(wl.layer_metrics(timed))
    if args.trace:
        for name, ms in tracer.self_ms({"setup"}).items():
            layer[f"{name}.self_ms"] = ms
        for name, ms in tracer.self_ms({o.trace_id for o in timed}).items():
            layer[f"{name}.self_ms"] = ms / n
        layer["trace.latency_p50_ms"] = e2e["latency_p50_ms"]
        layer["trace.span_cost_us"] = span_cost_us()
        out = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out, exist_ok=True)
        tracer.write(os.path.join(out, f"{args.workload}-seed{args.seed}.json"))

    print_table(args, wl.ops, timed, {**e2e, **layer})

    values, units = (layer, PER_LAYER) if args.trace else (e2e, END_TO_END)
    metrics = {k: {"value": _json_number(values[k]), "unit": u} for k, u in units.items()}
    return {
        "correct": all(o.ok for o in wl.ops),
        "attempted": len(timed),
        "failed": sum(1 for o in timed if not o.ok),
        "metrics": metrics,
    }


def _json_number(v: float | None) -> float | None:
    """JSON has no infinity: a median that falls on a failed op is null."""
    return v if v is not None and math.isfinite(v) else None


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
