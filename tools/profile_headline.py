#!/usr/bin/env python
"""r11 optimization harness: per-query timing decomposition + plan capture.

For each named query (default: the bench headline set) this measures, on a
warmed session at $SPARK_GRAFT_SF_DIR:

- ``build_s``   — wall time of ``fn(spark, sf_dir)`` (Python plan
  construction + any eager work the query does before returning);
- ``explain_s`` — wall time of ``.explain("formatted")`` capture (Catalyst
  analysis+optimization+physical planning, no execution);
- ``exec_s``    — min-of-N wall time of the noop sink on a fresh plan
  (the bench's own methodology);
- plan shape counts (Exchange / BatchEvalPython / ArrowEvalPython /
  SortMergeJoin / BroadcastHashJoin / WholeStageCodegen) from the formatted
  plan, and writes the plan to plans/r11/<query>_<tag>.txt when --plans.

Usage: python tools/profile_headline.py [--tag before] [--runs 3]
       [--plans] [query ...]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", action="store_true")
    ap.add_argument("--plans-dir", default="r12",
                    help="subdirectory of plans/ for --plans output")
    args = ap.parse_args()

    import bench
    from trading_dashboard_spark.io.readers import load_table
    from trading_dashboard_spark.queries import QUERY_REGISTRY
    from trading_dashboard_spark.session import get_spark

    names = args.queries or bench.BENCH_QUERIES
    spark = get_spark(
        "profile", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in ("events", "lineitem", "orders", "customer", "nation", "region",
              "documents", "embeddings"):
        load_table(spark, t, SF_DIR).count()

    def _identity(it):
        yield from it

    spark.range(64).repartition(32).mapInPandas(_identity, "id long").count()

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", args.plans_dir,
    )
    os.makedirs(plans_dir, exist_ok=True)

    print(f"{'query':34s} {'build':>7s} {'explain':>8s} {'exec':>7s}  shape")
    for name in names:
        # profile the loader, not its cached result (register(inputs=))
        spec = QUERY_REGISTRY[name]
        fn = getattr(spec.fn, "__wrapped__", spec.fn)
        t0 = time.time()
        df = fn(spark, SF_DIR)
        build_s = time.time() - t0

        t0 = time.time()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        explain_s = time.time() - t0
        plan = buf.getvalue()

        best = float("inf")
        for _ in range(args.runs):
            t0 = time.time()
            fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
            best = min(best, time.time() - t0)

        shape = " ".join(
            f"{k}={plan.count(k)}"
            for k in ("Exchange", "BatchEvalPython", "ArrowEvalPython",
                      "MapInPandas", "SortMergeJoin", "BroadcastHashJoin",
                      "ShuffledHashJoin", "CartesianProduct")
            if plan.count(k)
        )
        print(f"{name:34s} {build_s:7.3f} {explain_s:8.3f} {best:7.3f}  {shape}",
              flush=True)
        if args.plans:
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"),
                      "w") as fh:
                fh.write(plan)


if __name__ == "__main__":
    main()
