#!/usr/bin/env python
"""Measure individual sweep queries on the ×10 replicated tables.

Usage: python tools/sweep_one.py [--runs N] [--explain] [--keep] q1 q2 ...

Builds (or reuses, with --keep / $SWEEP_DIR) the same ×10 replication
bench.py's _scale_sweep uses, then times each named query min-of-N on
Spark and DuckDB. Dev harness for perf iteration — the graded artifact
remains bench.py's one-line JSON.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: oracles that OOM-kill the host at replica scale (the banding sweep's
#: per-config bucket-pair expansion reached 127 GB RSS at a mere ×10;
#: DuckDB's memory_limit does not track the list intermediates) — time
#: Spark only, record the skip
DUCK_INFEASIBLE = {
    "minhash_banding_sweep",
    # recursive transitive-closure CTE over the EXACT-quadratic Hamming
    # pair subquery: killed after 35 min at ×10 (the sf-scale oracle
    # checks the same semantics in seconds)
    "simhash_dedup_clusters",
    # the removal-closure class (scale100.DUCK_SKIP_ALWAYS): these
    # oracles embed the recursive transitive closure that OOM'd DuckDB
    # at ×10
    "post_dedup_mixture_rebalance",
    "dedup_dsir_curation_pipeline",
    "dedup_effect_on_heldout_lm",
    "soft_dedup_effective_tokens",
    "published_curation_pipeline",
    "budgeted_curation_manifest",
    "streaming_dsir_admission",
}


def build_replica(spark, tmp: str, factor: int = 10) -> None:
    import shutil

    from pyspark.sql import functions as F

    from trading_dashboard_spark.io.readers import load_table

    for t in ("events", "documents", "embeddings"):
        df = load_table(spark, t, SF_DIR)
        id_col = {"events": "event_id", "documents": "doc_id",
                  "embeddings": "vec_id"}[t]
        offset = df.agg(F.max(id_col)).first()[0] + 1
        salt = "etaoinshrd"
        copies = []
        for i in range(factor):
            c = df.withColumn(id_col, F.col(id_col) + F.lit(i * offset))
            if t == "events":
                c = c.withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {i} HOUR"))
            if t == "documents" and i:
                rot = salt[i:] + salt[:i]
                c = c.withColumn("text", F.translate("text", salt, rot))
            if t == "embeddings" and i:
                # orthogonal per-copy dim shift — see bench._scale_sweep
                sh = (i * 6) % 64
                c = c.withColumn(
                    "embedding",
                    F.expr(
                        f"concat(slice(embedding, {sh + 1}, {64 - sh}),"
                        f" slice(embedding, 1, {sh}))"
                    ),
                )
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        if t == "events":
            out = out.withColumn("ts", F.unix_micros("ts") * 1000)
        out.write.mode("overwrite").parquet(f"{tmp}/{t}.parquet")
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"):
        shutil.copy(f"{SF_DIR}/{t}.parquet", f"{tmp}/{t}.parquet")


def main() -> None:
    args = [a for a in sys.argv[1:]]
    runs = 3
    explain = keep = False
    names: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--runs":
            runs = int(args[i + 1]); i += 2
        elif a == "--explain":
            explain = True; i += 1
        elif a == "--keep":
            keep = True; i += 1
        else:
            names.append(a); i += 1

    from trading_dashboard_spark.queries import QUERY_REGISTRY
    from trading_dashboard_spark.session import get_spark

    spark = get_spark(
        "sweep_one", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )

    tmp = os.environ.get("SWEEP_DIR", "/tmp/sweep_x10")
    if not os.path.exists(f"{tmp}/documents.parquet"):
        os.makedirs(tmp, exist_ok=True)
        build_replica(spark, tmp)
        print(f"built replica at {tmp}", file=sys.stderr)

    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT event_id, "
        f"make_timestamp(CAST(ts // 1000 AS BIGINT)) AS ts, user_id, "
        f"event_type, value, props "
        f"FROM read_parquet('{tmp}/events.parquet/*.parquet')"
    )
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{tmp}/{t}.parquet/*.parquet')"
        )

    out: dict[str, dict] = {}
    for name in names:
        ent = QUERY_REGISTRY[name]
        # time the loader itself, not its result-caching wrapper
        fn = getattr(ent.fn, "__wrapped__", ent.fn)
        if explain:
            fn(spark, tmp).explain("formatted")
        best = float("inf")
        for _ in range(runs):
            t0 = time.time()
            fn(spark, tmp).write.mode("overwrite").format("noop").save()
            best = min(best, time.time() - t0)
        duck = None
        if name in DUCK_INFEASIBLE:
            print(f"{name}: duck skipped (oracle OOMs >125 GB at ×10 — "
                  "see scale100.DUCK_SKIP_ALWAYS)", file=sys.stderr)
        elif ent.oracle:
            duck = float("inf")
            for _ in range(runs):
                t0 = time.time()
                con.execute(ent.oracle).fetchall()
                duck = min(duck, time.time() - t0)
            duck = round(duck, 3)
        out[name] = {"spark": round(best, 3), "duck": duck,
                     "ratio": round(best / duck, 2) if duck else None}
        print(name, out[name], file=sys.stderr)
    print(json.dumps(out))
    if not keep and tmp == "/tmp/sweep_x10":
        pass  # reused across invocations by default


if __name__ == "__main__":
    main()
