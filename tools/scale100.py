#!/usr/bin/env python
"""×100 spot-bench of the heavy dedup/ANN/tokenizer family (r6 verdict #3).

Builds a ~100× replica of the sf0.1 documents/embeddings tables (ids
shifted per copy; document text passed through a per-copy bijective
character substitution so the corpus dup-rate stays ~constant instead of
inflating 100×), re-times the named queries at that factor, and prints
per-query ×10→×100 scaling exponents — the measured evidence that the
banded/blocked plans scale sub-quadratically (a ×10 trend alone cannot
distinguish n·log n from n²: slope 1.0 vs 2.0 only separates cleanly
over a decade of scale).

Substitution detail: 10 rotations of one alphabet give only 10 distinct
bijections, so ×100 composes rotations of TWO disjoint common-letter
alphabets (i%10 on the first, i//10 on the second) — 100 distinct
bijections. Residual artifact: words containing letters of neither
alphabet (none in this corpus) — or of only the first — can coincide
across the ≤10 copies sharing a first-alphabet rotation; a near-dup
pair needs MOST shingles to coincide, which requires whole windows of
such words, so the inflation is negligible for banding/minhash counts.

Usage: python tools/scale100.py [--factor N] [--runs N] [q ...]
Replica cached at $SCALE_DIR (default /tmp/scale_x100).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

DEFAULT_QUERIES = [
    "exact_dedup_docs",
    "minhash_near_dup_pairs",
    "cross_lingual_contamination",
    "lsh_ann_top3",
    "bpe_token_stats",
    # r7: the two heavy shapes the ×10 sweep fixed this round — prove the
    # fixes hold a further decade up
    "minhash_banding_sweep",
    "semantic_dedup_survivors",
    # r9 late registrations: keep their ×100 rows refreshing with the
    # artifact (oracle-side skip policies above handle the infeasible
    # ones; Spark sides always run)
    "dsir_importance_weights", "winnowing_fingerprint_pairs",
    "nb_source_classifier_eval", "winnowing_decontamination",
    # r10: the sampled BPE lane is the canonical tokenizer scale path
    # (bpe_token_stats stays as the documented full-corpus audit)
    "bpe_sampled_token_stats",
    # r10 registrations: the exact-substring run detector and the C4
    # line battery (minhash_parameter_sensitivity is constant-cost by
    # construction — not worth a replica row)
    "longest_verbatim_run_pairs", "c4_line_filters",
    "dsir_gumbel_resample", "streaming_dsir_admission",
    "dedup_dsir_curation_pipeline",
    # r9 continued: first-occurrence attribution + the dedup→LM effect
    # audit (the latter's oracle is in the closure skip class)
    "ngram_novelty_by_source", "dedup_effect_on_heldout_lm",
    # and the published-filter battery
    "gopher_quality_rules", "ccnet_perplexity_buckets",
    "soft_dedup_effective_tokens", "contamination_span_lengths",
    # r11: the bloom decon lane — its claim IS a scale claim (constant
    # set-bit broadcast), so the replica row is the evidence
    "bloom_ngram_decontamination",
]

SALT1 = "etaoinshrd"
SALT2 = "lucmfwypvb"


def build_replica(spark, tmp: str, factor: int) -> None:
    from pyspark.sql import functions as F

    from trading_dashboard_spark.io.readers import load_table

    for t in ("documents", "embeddings", "events"):
        df = load_table(spark, t, SF_DIR)
        id_col = {
            "documents": "doc_id", "embeddings": "vec_id",
            "events": "event_id",
        }[t]
        offset = df.agg(F.max(id_col)).first()[0] + 1
        copies = []
        for i in range(factor):
            c = df.withColumn(id_col, F.col(id_col) + F.lit(i * offset))
            if t == "events":
                # +1h per copy, same as bench.py's ×10 sweep — keeps the
                # per-hour event density ~constant instead of stacking
                # 100 copies into the same timestamps (a hot-window skew
                # pathology for session/interval-join state)
                c = c.withColumn(
                    "ts", F.col("ts") + F.expr(f"INTERVAL {i} HOUR")
                )
            if t == "documents" and i:
                r1 = SALT1[i % 10:] + SALT1[: i % 10]
                r2 = SALT2[(i // 10) % 10:] + SALT2[: (i // 10) % 10]
                c = c.withColumn(
                    "text",
                    F.translate(
                        F.translate("text", SALT1, r1), SALT2, r2
                    ),
                )
            if t == "embeddings" and i:
                # Per-copy ORTHOGONAL transform (cyclic dim shift, plus a
                # sign-flip past 64 copies): norms and within-copy pairwise
                # dots are preserved, so each copy's internal similarity
                # structure is intact, but cross-copy LSH projections
                # scramble. Verbatim replication would put every vector's
                # `factor` exact twins in the SAME buckets — bucket sizes
                # ×factor, bucket-local pair work ×factor² — a skew
                # pathology, not a scale-up (the embedding twin of the
                # document substitution above).
                sh = i % 64
                if sh:
                    c = c.withColumn(
                        "embedding",
                        F.expr(
                            f"concat(slice(embedding, {sh + 1}, {64 - sh}),"
                            f" slice(embedding, 1, {sh}))"
                        ),
                    )
                if i >= 64:
                    c = c.withColumn(
                        "embedding",
                        F.expr(
                            "transform(embedding, (x, j) -> "
                            "CASE WHEN j % 2 = 0 THEN -x ELSE x END)"
                        ),
                    )
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        # ~one file per copy keeps the write parallel and the read split
        if t == "events":
            # write through the raw-int64 ts form the reader expects
            out = out.withColumn("ts", F.unix_micros("ts") * 1000)
        out.repartition(max(32, factor)).write.mode("overwrite").parquet(
            f"{tmp}/{t}.parquet"
        )
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"):
        shutil.copy(f"{SF_DIR}/{t}.parquet", f"{tmp}/{t}.parquet")


#: oracles whose candidate-pair space is bucket-quadratic with FIXED LSH
#: parameters — infeasible in DuckDB at ×100 (the Spark side is timed;
#: the oracle skip is recorded, not silent)
DUCK_SKIP_AT_100 = {
    "lsh_ann_top3", "semantic_dedup_survivors",
    # exact-quadratic Hamming ground truth: 70 s at ×10 scales ×100 to
    # ~125B bit_count pairs (hours) — the crossover is already decided
    "simhash_hamming_pairs",
    # recursive-closure oracles: the Hamming-cluster one was killed
    # after 35 min at a mere ×10; delta's two closures read 115 s at
    # ×10 single-run — neither is informative at ×100
    "simhash_dedup_clusters", "dedup_cluster_delta",
    # per-doc recursive BPE re-encode: 182 s at ×10 (measured, bench.py
    # SWEEP_ORACLE_ONCE) — ×100 extrapolates to ~30+ min for a crossover
    # already decided a decade down
    "tokenizer_fertility_by_source",
    # same recursive-closure class as dedup_cluster_delta
    "post_dedup_mixture_rebalance",
}

#: oracles infeasible at ANY replica factor: the banding sweep's oracle
#: materializes the full per-config bucket-pair expansion and blows past
#: even DuckDB's own memory_limit (the limit does not track the list
#: intermediates — measured 127 GB RSS/host OOM-kill at a mere ×10 with
#: memory_limit=60GB set); the Hamming-cluster recursive closure over
#: the exact quadratic pair subquery was killed after 35 min at ×10 —
#: sf-scale oracle rows check the same semantics in seconds
DUCK_SKIP_ALWAYS = {
    "minhash_banding_sweep", "simhash_dedup_clusters",
    # the post-dedup refit closure OOM'd DuckDB (60 GB limit, 'failed
    # to allocate block' — list intermediates again) at a mere ×10,
    # and the dead connection then poisoned the process for the ×100
    # phase; same class as the banding sweep
    "post_dedup_mixture_rebalance",
    # r9 late, measured: the 3-wave growing-histogram unroll read 325 s
    # at ×10 and spilled until the DISK filled at ×100
    "streaming_dsir_admission",
    # embeds the post_dedup_mixture_rebalance recursive closure; its
    # ×10 oracle OOM re-confirmed (then poisoned the ×100 view DDL,
    # the recorded failure cascade) — skip at every factor
    "dedup_dsir_curation_pipeline",
    # same recursive-closure class: the dedup→LM-effect oracle embeds
    # the removal closure plus four occurrence-level scoring joins
    "dedup_effect_on_heldout_lm",
    # and the soft-dedup weighting rides the same closure for cluster
    # sizes
    "soft_dedup_effective_tokens",
    # the end-to-end published pipeline opens with the same closure,
    # as does the budgeted manifest composed on its survivors
    "published_curation_pipeline",
    "budgeted_curation_manifest",
}

#: feasible but MINUTES-slow oracles (bench.py's SWEEP_ORACLE_ONCE
#: policy): one timed run, no warm-up — the crossover they record does
#: not need min-of-2 precision
DUCK_ONCE = {
    "tokenizer_fertility_by_source", "dedup_cluster_delta",
    "simhash_hamming_pairs", "post_dedup_mixture_rebalance",
}


def time_queries(spark, registry, data_dir: str, names, runs: int,
                 with_duck: bool, duck_skip: set | None = None) -> dict:
    duck_skip = duck_skip or set()
    out: dict[str, dict] = {}
    duck_con = None
    if with_duck:
        import duckdb

        duck_con = duckdb.connect()
        # fail loud inside this process, never OOM-kill the host (the
        # banding-sweep oracle reached 125 GB RSS on a mere ×10 replica)
        duck_con.execute("SET memory_limit='60GB'")
        # views only for tables the tier actually ships — the grown
        # corpus (tools/growcorpus.py) is documents-only
        for t in ("documents", "embeddings"):
            src = f"{data_dir}/{t}.parquet"
            if not os.path.exists(src):
                continue
            glob = f"{src}/*.parquet" if os.path.isdir(src) else src
            duck_con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')"
            )
        # replica events carry raw-int64 ns timestamps (the form the
        # engine's reader normalizes); oracles expect TIMESTAMP — same
        # view bench.py's ×10 sweep builds
        esrc = f"{data_dir}/events.parquet"
        if os.path.exists(esrc):
            eglob = f"{esrc}/*.parquet" if os.path.isdir(esrc) else esrc
            duck_con.execute(
                "CREATE VIEW events AS SELECT event_id, "
                "make_timestamp(CAST(ts // 1000 AS BIGINT)) AS ts, user_id, "
                f"event_type, value, props FROM read_parquet('{eglob}')"
            )
    for name in names:
        ent = registry[name]
        # time the loader itself, not its result-caching wrapper
        fn = getattr(ent.fn, "__wrapped__", ent.fn)
        best = float("inf")
        try:
            for i in range(runs + 1):  # +1 untimed warm-up
                t0 = time.time()
                fn(spark, data_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
                if i:
                    best = min(best, time.time() - t0)
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            # a flaky infra failure (e.g. a py4j callback-socket drop
            # inside foreachBatch under a GC-heavy 48g JVM — observed
            # once at the ×10 replica) must not discard the whole run
            out[name] = {"spark": f"failed: {e}"[:200]}
            print(json.dumps({name: out[name], "tier": data_dir}),
                  file=sys.stderr, flush=True)
            continue
        rec: dict = {"spark": round(best, 3)}
        if name in duck_skip:
            rec["duck"] = "skipped:bucket-quadratic-oracle"
        elif duck_con is not None and ent.oracle:
            d = float("inf")
            try:
                if name in DUCK_ONCE:  # minutes-slow: one timed run
                    t0 = time.time()
                    duck_con.execute(ent.oracle).fetchall()
                    d = time.time() - t0
                else:
                    for i in range(2):
                        t0 = time.time()
                        duck_con.execute(ent.oracle).fetchall()
                        if i:
                            d = min(d, time.time() - t0)
                rec["duck"] = round(d, 3)
            except Exception as e:  # noqa: BLE001 — record, keep timing
                rec["duck"] = f"failed: {e}"[:160]
        out[name] = rec
        # incremental progress on stderr: a crash mid-suite must not
        # discard every already-measured row (r9 lesson — the first run
        # died on query 25/26 with only the final print)
        print(json.dumps({name: rec, "tier": data_dir}),
              file=sys.stderr, flush=True)
    if duck_con is not None:
        duck_con.close()  # a 60 GB-limit connection left open poisons
        # the next tier's allocations (observed: x100 view DDL OOM +
        # segfault after an x10 oracle OOM)
    return out


def main() -> None:
    args = sys.argv[1:]
    factor, runs = 100, 2
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--factor":
            factor = int(args[i + 1]); i += 2
        elif args[i] == "--runs":
            runs = int(args[i + 1]); i += 2
        else:
            names.append(args[i]); i += 1
    names = names or DEFAULT_QUERIES

    from trading_dashboard_spark.queries import QUERY_REGISTRY
    from trading_dashboard_spark.session import get_spark

    spark = get_spark(
        "scale100", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    tmp = os.environ.get("SCALE_DIR", "/tmp/scale_x100")
    if not os.path.exists(f"{tmp}/documents.parquet"):
        os.makedirs(tmp, exist_ok=True)
        t0 = time.time()
        build_replica(spark, tmp, factor)
        print(f"built x{factor} replica at {tmp} "
              f"in {time.time() - t0:.0f}s", file=sys.stderr)

    x10 = os.environ.get("SWEEP_DIR", "/tmp/sweep10")
    result: dict = {"factor": factor, "sf_base": SF_DIR}
    if os.path.exists(f"{x10}/documents.parquet"):
        result["x10"] = time_queries(
            spark, QUERY_REGISTRY, x10, names, runs, with_duck=True,
            duck_skip=DUCK_SKIP_ALWAYS,
        )
    result[f"x{factor}"] = time_queries(
        spark, QUERY_REGISTRY, tmp, names, runs, with_duck=True,
        duck_skip=(DUCK_SKIP_AT_100 | DUCK_SKIP_ALWAYS)
        if factor >= 100 else DUCK_SKIP_ALWAYS,
    )
    if "x10" in result:
        span = math.log10(factor / 10)
        result["spark_exponent_x10_to_x100"] = {
            n: round(
                math.log10(
                    result[f"x{factor}"][n]["spark"]
                    / result["x10"][n]["spark"]
                )
                / span,
                2,
            )
            for n in names
        }
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
