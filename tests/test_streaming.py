"""Streaming tier tests — streaming results equal batch results over
static data; watermarked dedup drops planted duplicates."""

import pytest
from pyspark.sql import functions as F

from trading_dashboard_spark.io.readers import load_table
from trading_dashboard_spark.streaming.ingest import (
    dedup_stream,
    run_stream_to_table,
    stream_events,
)
from trading_dashboard_spark.streaming.windows import hourly_counts, session_aggregate


def test_streaming_equals_batch_hourly(spark, sf_dir):
    stream = stream_events(spark, f"{sf_dir}/events.parquet")
    got = run_stream_to_table(
        hourly_counts(stream), "t_hourly", output_mode="complete"
    )
    batch = load_table(spark, "events", sf_dir)
    expected = (
        batch.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .count()
    )
    assert got.count() == expected


def test_streaming_dedup_drops_planted_duplicates(spark, sf_dir, tmp_path):
    ev = load_table(spark, "events", sf_dir).limit(100)
    dup = ev.union(ev)  # every event twice
    # write with ts as long (the landing format the stream reader expects)
    dup.withColumn("ts", F.unix_micros("ts") * 1000).write.mode("overwrite").parquet(
        str(tmp_path / "dups")
    )
    stream = stream_events(spark, str(tmp_path / "dups"))
    out = run_stream_to_table(dedup_stream(stream, ["event_id"]), "t_dedup")
    assert out.count() == 100


def test_stateful_running_totals_across_batches(spark, sf_dir, tmp_path):
    """applyInPandasWithState folds state across micro-batches: events are
    split over 8 files (maxFilesPerTrigger=4 → multiple batches); the
    collapsed final state must equal the batch aggregate, and at least one
    user must have emitted more than one update (proof the fold actually
    crossed a batch boundary)."""
    from trading_dashboard_spark.streaming.stateful import (
        latest_state,
        running_user_totals,
    )

    ev = load_table(spark, "events", sf_dir)
    (
        ev.withColumn("ts", F.unix_micros("ts") * 1000)
        .repartition(8)
        .write.mode("overwrite")
        .parquet(str(tmp_path / "ev"))
    )
    stream = stream_events(spark, str(tmp_path / "ev"))
    updates = run_stream_to_table(
        running_user_totals(stream), "t_stateful", output_mode="update"
    )
    upd = updates.toPandas()
    assert upd.groupby("user_id").size().max() > 1, "never crossed a batch boundary"

    final = latest_state(spark.createDataFrame(upd)).toPandas().set_index("user_id")
    batch = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
            F.unix_micros(F.min("ts")).alias("min_ts_us"),
            F.unix_micros(F.max("ts")).alias("max_ts_us"),
        )
        .toPandas()
        .set_index("user_id")
    )
    assert len(final) == len(batch)
    for uid in batch.index:
        assert final.loc[uid, "n_events"] == batch.loc[uid, "n_events"]
        assert abs(final.loc[uid, "total_value"] - batch.loc[uid, "total_value"]) < 1e-6
        assert final.loc[uid, "min_ts_us"] == batch.loc[uid, "min_ts_us"]
        assert final.loc[uid, "max_ts_us"] == batch.loc[uid, "max_ts_us"]


def test_session_aggregate_merges_by_gap(spark, sf_dir):
    stream = stream_events(spark, f"{sf_dir}/events.parquet")
    sessions = run_stream_to_table(
        session_aggregate(stream, gap="12 hours"), "t_sessions", output_mode="complete"
    )
    pdf = sessions.toPandas()
    # every session is at least one event and bounded sanely
    assert (pdf["n_events"] >= 1).all()
    assert (pdf["session_end"] > pdf["session_start"]).all()
    # total events conserved across sessions
    assert pdf["n_events"].sum() == load_table(spark, "events", sf_dir).count()


def test_ts_generation_sniff_all_generations(spark, tmp_path):
    """_ts_is_int64 must detect BOTH long-read generations — raw int64
    epoch-nanos fixtures AND TIMESTAMP(NANOS) parquet (pyarrow reports
    the latter as timestamp[ns], not int64) — and reject the micros
    generation."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trading_dashboard_spark.streaming.ingest import _ts_is_int64

    base = {"event_id": [1], "user_id": [2], "event_type": ["click"],
            "value": [1.0], "props": ["{}"]}
    ns_ts = pa.array([1_700_000_000_000_000_000], type=pa.int64())
    pq.write_table(
        pa.table({**base, "ts": ns_ts}), str(tmp_path / "int64.parquet")
    )
    pq.write_table(
        pa.table({**base, "ts": ns_ts.cast(pa.timestamp("ns"))}),
        str(tmp_path / "nanos.parquet"),
    )
    pq.write_table(
        pa.table({**base, "ts": pa.array([1_700_000_000_000_000],
                                         type=pa.timestamp("us"))}),
        str(tmp_path / "micros.parquet"),
    )
    assert _ts_is_int64(str(tmp_path / "int64.parquet")) is True
    assert _ts_is_int64(str(tmp_path / "nanos.parquet")) is True
    assert _ts_is_int64(str(tmp_path / "micros.parquet")) is False


def test_ts_generation_sniff_rejects_mixed_directory(tmp_path):
    """A directory mixing nanos-era and micros-era files must FAIL
    loudly at stream definition (one wrong-schema generation would read
    garbage or kill batches); uniform directories sniff fine."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from trading_dashboard_spark.streaming.ingest import _ts_is_int64

    base = {"event_id": [1], "user_id": [2], "event_type": ["click"],
            "value": [1.0], "props": ["{}"]}
    ns = pa.array([1_700_000_000_000_000_000], type=pa.int64())
    us = pa.array([1_700_000_000_000_000], type=pa.timestamp("us"))

    uniform = tmp_path / "uniform"
    uniform.mkdir()
    for i in range(3):
        pq.write_table(pa.table({**base, "ts": ns}),
                       str(uniform / f"p{i}.parquet"))
    assert _ts_is_int64(str(uniform)) is True

    mixed = tmp_path / "mixed"
    mixed.mkdir()
    pq.write_table(pa.table({**base, "ts": ns}), str(mixed / "a.parquet"))
    pq.write_table(pa.table({**base, "ts": us}), str(mixed / "b.parquet"))
    with pytest.raises(ValueError, match="mixed parquet timestamp generations"):
        _ts_is_int64(str(mixed))


def test_welford_anomalies_fold_across_batches(spark, sf_dir, tmp_path):
    """The order-sensitive Welford state folds correctly across
    micro-batches when the source delivers files in event-time order
    (repartitionByRange on ts → part files are time slices; FileStreamSource
    processes by modification time, so the test stamps mtimes in slice
    order). The streamed anomaly set must equal the batch
    expanding-window z-score oracle."""
    import glob
    import os

    from trading_dashboard_spark.streaming.stateful import streaming_anomalies
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir)
    (
        ev.withColumn("ts", F.unix_micros("ts") * 1000)
        .repartitionByRange(8, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(str(tmp_path / "ev_sorted"))
    )
    # event-time order == path order after range partitioning; make the
    # source's modification-time order agree
    base = 1_700_000_000
    for k, f in enumerate(sorted(glob.glob(str(tmp_path / "ev_sorted" / "part-*")))):
        os.utime(f, (base + 10 * k, base + 10 * k))
    stream = stream_events(spark, str(tmp_path / "ev_sorted")).select(
        "user_id", "event_id", "ts", "value"
    )
    got = (
        run_stream_to_table(
            streaming_anomalies(stream), "t_welford", output_mode="append"
        )
        .select("event_id")
        .toPandas()["event_id"]
        .tolist()
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    want = (
        ev.select(
            "user_id", "event_id", "value",
            F.avg("value").over(w).alias("mu"),
            F.stddev_samp("value").over(w).alias("sd"),
            F.count(F.lit(1)).over(w).alias("n_prior"),
        )
        .filter(
            (F.col("n_prior") >= 10)
            & (F.col("sd") > 0)
            & (F.abs((F.col("value") - F.col("mu")) / F.col("sd")) > 3)
        )
        .select("event_id")
        .toPandas()["event_id"]
        .tolist()
    )
    assert sorted(got) == sorted(want)


def test_stream_static_asof_scd2_enrichment(spark, sf_dir, tmp_path):
    """r5 groundwork: stream-static AS-OF join — each streamed event
    picks up exactly the SCD2 dimension version valid at its event
    time; events before the first version or with unknown keys survive
    with null dimension columns (left outer); result equals the batch
    join of the same condition."""
    import datetime as dt

    from trading_dashboard_spark.streaming.ingest import (
        run_stream_to_table, stream_events,
    )
    from trading_dashboard_spark.streaming.joins import stream_static_asof

    t0 = dt.datetime(2024, 1, 1)

    def us(d):
        return int(d.timestamp() * 1e6) * 1000  # ns int64 landing form

    rows = [
        # (event_id, user_id, type, value, ts)
        (1, 10, "click", 1.0, t0 + dt.timedelta(hours=1)),
        (2, 10, "click", 2.0, t0 + dt.timedelta(days=2)),
        (3, 10, "click", 3.0, t0 - dt.timedelta(hours=5)),  # pre-history
        (4, 99, "click", 4.0, t0 + dt.timedelta(hours=2)),  # unknown key
    ]
    ev = spark.createDataFrame(
        [(i, u, t, v, us(ts)) for i, u, t, v, ts in rows],
        "event_id long, user_id long, event_type string, value double, ts long",
    )
    ev.write.mode("overwrite").parquet(str(tmp_path / "ev"))

    dim = spark.createDataFrame(
        [
            (10, 1, "bronze", t0, t0 + dt.timedelta(days=1)),
            (10, 2, "gold", t0 + dt.timedelta(days=1), None),
        ],
        "user_id long, version int, tier string, "
        "valid_from timestamp, valid_to timestamp",
    )

    stream = stream_events(spark, str(tmp_path / "ev"))
    out = run_stream_to_table(
        stream_static_asof(stream, dim, "user_id", "ts"), "t_asof"
    )
    got = {r["event_id"]: (r["tier"], r["version"]) for r in out.collect()}
    assert got == {
        1: ("bronze", 1),
        2: ("gold", 2),
        3: (None, None),
        4: (None, None),
    }

    # batch equivalence on the same inputs
    from pyspark.sql import functions as F

    batch = spark.read.parquet(str(tmp_path / "ev")).withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000"))
    )
    bj = stream_static_asof(batch, dim, "user_id", "ts")
    bgot = {r["event_id"]: (r["tier"], r["version"]) for r in bj.collect()}
    assert bgot == got


def test_interval_full_outer_emits_both_unmatched_sides(spark, tmp_path):
    """r6: FULL OUTER stream-stream interval join — matched pairs emit,
    a mature unmatched LEFT row null-emits (no in-horizon right), and a
    mature unmatched RIGHT row null-emits (no preceding left) — while
    rows younger than horizon+watermark at end-of-stream stay
    undecided. Crafted data pins each class."""
    import datetime as dt

    from pyspark.sql import functions as F

    from trading_dashboard_spark.streaming.ingest import (
        run_stream_to_table, stream_events,
    )
    from trading_dashboard_spark.streaming.joins import interval_join

    t0 = dt.datetime(2024, 3, 1)

    def ns(d):
        return int(d.timestamp() * 1e6) * 1000

    rows = [
        # matched: click 1 -> purchase 2 within the hour
        (1, 10, "click", 1.0, t0),
        (2, 10, "purchase", 5.0, t0 + dt.timedelta(minutes=30)),
        # abandoned click (user 11): no purchase follows
        (3, 11, "click", 1.0, t0 + dt.timedelta(minutes=5)),
        # orphan purchase (user 12): no click precedes
        (4, 12, "purchase", 7.0, t0 + dt.timedelta(minutes=10)),
        # horizon-miss pair (user 13): purchase 2h after the click
        (5, 13, "click", 1.0, t0),
        (6, 13, "purchase", 3.0, t0 + dt.timedelta(hours=2)),
        # watermark driver far in the future on BOTH streams
        (7, 99, "click", 0.0, t0 + dt.timedelta(days=2)),
        (8, 99, "purchase", 0.0, t0 + dt.timedelta(days=2)),
    ]
    ev = spark.createDataFrame(
        [(i, u, t, v, ns(ts)) for i, u, t, v, ts in rows],
        "event_id long, user_id long, event_type string, value double, ts long",
    )
    # ONE file -> one micro-batch: with multiple files the file source
    # may deliver the day-2 watermark-driver rows in an EARLIER batch
    # than the t0 clicks, which then arrive behind the watermark and are
    # (correctly) dropped as late — a batching race, not join semantics
    ev.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "ev"))

    def side(kind, suffix):
        return (
            stream_events(spark, str(tmp_path / "ev"))
            .filter(F.col("event_type") == kind)
            .select(
                F.col("user_id").alias(f"user_id_{suffix}"),
                F.col("event_id").alias(f"{kind}_id"),
                F.col("ts").alias(f"{kind}_ts"),
            )
        )

    joined = interval_join(
        side("click", "l"), side("purchase", "r"),
        "user_id", "click_ts", "purchase_ts", "full_outer",
        horizon="1 HOUR", watermark="2 hours",
    )
    out = run_stream_to_table(joined, "t_fo", output_mode="append")
    got = {
        (r["click_id"], r["purchase_id"])
        for r in out.collect()
        if (r["user_id_l"] or r["user_id_r"]) != 99
    }
    # matched pair; abandoned click; orphan purchase; horizon-miss pair
    # decomposes into BOTH unmatched emissions
    assert got == {(1, 2), (3, None), (None, 4), (5, None), (None, 6)}


def test_streaming_admission_rejects_against_grown_index(spark, tmp_path):
    """r8 verdict #9a: the foreachBatch admission screens each trigger
    against incumbent ∪ PREVIOUSLY ADMITTED — a wave-2 near-dup of a
    wave-0 admission is rejected even though neither is incumbent (the
    case the static minhash_incremental_admission cannot catch), while
    the wave-0 original admits. Ids chosen by md5 for their
    (incumbent, wave) slots: 1=incumbent, 40=wave0, 34=wave1, 3=wave2."""
    from trading_dashboard_spark.queries_streaming import (
        streaming_minhash_admission,
    )
    from trading_dashboard_spark.queries_text import (
        minhash_incremental_admission,
    )

    uniq = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    dup = "one two three four five six seven eight nine ten eleven twelve"
    rows = [
        (1, "incumbent corpus text totally unrelated words here", "en",
         "feedA", 48),
        (40, dup, "en", "feedA", len(dup)),           # wave 0 — admits
        (34, uniq, "en", "feedB", len(uniq)),         # wave 1 — admits
        (3, dup + " thirteen", "en", "feedB", len(dup) + 9),  # wave 2
    ]
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pq.write_table(pa.Table.from_pandas(pdf), str(tmp_path / "documents.parquet"))

    got = {
        r["source"]: (r["n_batch"], r["n_flagged"], r["n_rejected"],
                      r["n_admitted"])
        for r in streaming_minhash_admission(spark, str(tmp_path)).collect()
    }
    # feedA: wave-0 dup admits (index had only the incumbent);
    # feedB: the unique wave-1 doc admits, the wave-2 near-dup of the
    # ADMITTED wave-0 doc is flagged and rejected
    assert got == {"feedA": (1, 0, 0, 1), "feedB": (2, 1, 1, 1)}

    # the static gate (incumbent-only index) admits all three — the
    # growing index is what catches the cross-wave duplicate
    static = {
        r["source"]: (r["n_rejected"], r["n_admitted"])
        for r in minhash_incremental_admission(spark, str(tmp_path)).collect()
    }
    assert static == {"feedA": (0, 1), "feedB": (0, 2)}


def test_admission_fp_jaccard_equals_string_jaccard(spark):
    """r11 opt: the admission lanes verify Jaccard over xxhash64 shingle
    FINGERPRINTS instead of the shingle strings (the dedup_cluster_delta
    convention). Pins the invariant that makes the swap sound: on
    distinct shingle arrays, |∩| and |∪| computed over fps equal the
    string-side counts (absent 64-bit collisions), including the
    empty-set NULL-guard flow, so the 6dp-rounded jaccard is
    bit-identical."""
    from pyspark.sql import functions as F

    from trading_dashboard_spark.text.dedup import shingles

    rows = [
        (1, "one two three four five six", 2, "one two three four seven"),
        (3, "alpha beta gamma", 4, "delta epsilon zeta"),   # disjoint
        (5, "", 6, ""),                                     # both empty
        (7, "same same same words here", 8, "same words here exactly"),
    ]
    df = spark.createDataFrame(rows, "ia long, ta string, ib long, tb string")
    feat = df.select(
        "ia", "ib",
        shingles(F.col("ta"), 3).alias("sa"),
        shingles(F.col("tb"), 3).alias("sb"),
    ).select(
        "ia", "ib", "sa", "sb",
        F.transform("sa", lambda s: F.xxhash64(s)).alias("fa"),
        F.transform("sb", lambda s: F.xxhash64(s)).alias("fb"),
    )

    def jac(a, b):
        inter = F.size(F.array_intersect(a, b))
        union = F.size(F.array_union(a, b))
        return F.round(inter / F.when(union != 0, union).cast("double"), 6)

    got = feat.select(
        "ia",
        jac(F.col("sa"), F.col("sb")).alias("js"),
        jac(F.col("fa"), F.col("fb")).alias("jf"),
    ).collect()
    assert len(got) == 4
    for r in got:
        assert r["js"] == r["jf"], (r["ia"], r["js"], r["jf"])


def test_streaming_dsir_admission_model_drifts_with_admissions(spark, tmp_path):
    """The growing-histogram property: a wave-0 doc in UNSEEN vocabulary
    admits (unseen tokens lean slightly target-ward while raw > target
    volume), and because it is lang='xx' its counts fold into the RAW
    histogram only — so a wave-2 doc in the SAME vocabulary is rejected
    (now pool-typical, still target-absent). The admission gate's answer
    changes between waves with no change in the arriving text: that is
    the drift the static dsir_importance_weights model cannot express.
    Ids picked by md5 slot (1,2=incumbent; 40=wave0; 34=wave1; 3=wave2);
    token buckets verified pairwise collision-free."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    G = "good clean quality prose text"            # incumbent target vocab
    Bv = "spam junk noise garbage filler"          # incumbent pool vocab
    M = "mystery moose marble melon mango mocha"   # unseen drift vocab
    rows = [
        (1, G, "en", "incT", len(G)),
        (2, Bv, "xx", "incR", len(Bv)),
        (40, M, "xx", "feedM", len(M)),        # wave 0: admits (+drift)
        (34, G, "xx", "feedG", len(G)),        # wave 1: target-like, admits
        (3, M, "xx", "feedM2", len(M)),        # wave 2: REJECTED post-drift
    ]
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pq.write_table(pa.Table.from_pandas(pdf),
                   str(tmp_path / "documents.parquet"))

    from trading_dashboard_spark.queries_streaming import (
        streaming_dsir_admission,
    )

    got = {r["source"]: r for r in
           streaming_dsir_admission(spark, str(tmp_path)).collect()}
    assert got["feedM"]["n_admitted"] == 1 and got["feedM"]["mean_lw"] > 0
    assert got["feedG"]["n_admitted"] == 1 and got["feedG"]["mean_lw"] > 0
    assert got["feedM2"]["n_admitted"] == 0 and got["feedM2"]["mean_lw"] < 0


def test_streaming_dsir_admission_empty_histogram_admits_nothing(spark, tmp_path):
    """No incumbent docs: the model histogram is empty, so n_raw = n_tgt
    = 0 and every bucket's log ratio is exactly 0.0, not NULL. Every
    weight is 0.0, nothing is admitted on any trigger (not even target
    text), and the result equals the DuckDB oracle."""
    import hashlib

    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tools.check_oracle import compare
    from trading_dashboard_spark.queries import QUERY_REGISTRY
    from trading_dashboard_spark.queries_streaming import (
        streaming_dsir_admission,
    )
    from trading_dashboard_spark.queries_training import (
        _DSIR_BUCKETS, _dsir_log_ratio,
    )

    empty = _dsir_log_ratio(spark, [(b, 0, 0) for b in range(_DSIR_BUCKETS)])
    assert sorted(r["lr"] for r in empty.collect()) == [0.0] * _DSIR_BUCKETS

    def slot(i):
        h = hashlib.md5(str(i).encode()).hexdigest()
        wave = 0 if h[2] < "6" else 1 if h[2] < "b" else 2
        return h[:2] >= "cd", wave

    ids = {}  # two non-incumbent ids per wave
    for i in range(1, 10_000):
        ok, wave = slot(i)
        if ok and len(ids.setdefault(wave, [])) < 2:
            ids[wave].append(i)
        if sum(map(len, ids.values())) == 6:
            break
    texts = ["good clean quality prose text", "spam junk noise garbage filler"]
    rows = [
        (i, texts[j], ("en", "xx")[j], f"w{wave}{('en', 'xx')[j]}", len(texts[j]))
        for wave, pair in sorted(ids.items()) for j, i in enumerate(pair)
    ]
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pq.write_table(pa.Table.from_pandas(pdf),
                   str(tmp_path / "documents.parquet"))

    got = streaming_dsir_admission(spark, str(tmp_path)).toPandas()
    assert sorted(got["source"]) == sorted(pdf["source"])
    assert (got["n_batch"] == 1).all() and (got["n_admitted"] == 0).all()
    assert got["mean_lw"].notna().all() and (got["mean_lw"] == 0.0).all()

    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.execute(QUERY_REGISTRY["streaming_dsir_admission"].oracle).fetchdf()
    con.close()
    assert not compare("streaming_dsir_admission", got, want)
