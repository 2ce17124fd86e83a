"""Structured Streaming ingest — the incremental mode of the batch pipeline.

The reference is strictly daily micro-batch (Airflow cron `0 2 * * *`,
dags/trading_dashboard.py:56) with idempotency via ON CONFLICT keys
(SURVEY.md §2.10). The streaming tier generalizes that: a file-source
stream over the landing directory, watermarked dedup replacing the
conflict-key idempotency (S14/S15), and windowed aggregation downstream.

On a cluster this runs continuously against object storage with
checkpointing; in tests, `run_stream_to_table` drives the same query to
completion synchronously over a static directory (memory sink +
processAllAvailable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..schemas import EVENTS


#: Footer-sniff budget for generation detection. A directory is one
#: GENERATION (all nanos-era or all micros-era) by contract; mixing
#: would make the stream read one generation with the wrong schema
#: (garbage timestamps or failed batches), so sniffing FAILS LOUDLY on a
#: detected mix instead of trusting file #1. Sniffing every footer of a
#: 100 TB directory at stream definition would be a driver-side listing
#: storm, so detection samples up to this many footers spread across the
#: sorted listing (always including first and last, where a generation
#: rollover lands) — bounded cost, catches any contiguous-era mix.
_SNIFF_BUDGET = 32


def _ts_is_int64(path: str) -> bool:
    """True when Spark will read the ts column as a raw long under
    ``nanosAsLong``: either TIMESTAMP(NANOS) parquet (pyarrow reports it
    as ``timestamp[ns]``) or an already-long int64 column (fixtures
    written as raw epoch-nanos). False for the TIMESTAMP(MICROS)
    generation, which reads directly as a timestamp. Bounded footer
    sample at stream-definition time — not a per-batch cost; raises on
    a mixed-generation directory (see _SNIFF_BUDGET)."""
    import glob
    import os

    import pyarrow.parquet as pq

    files = [path]
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*.parquet"))) or sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        if not files:
            return False
    if len(files) > _SNIFF_BUDGET:
        step = (len(files) - 1) / (_SNIFF_BUDGET - 1)
        files = [files[round(i * step)] for i in range(_SNIFF_BUDGET)]
    kinds = {
        str(pq.read_schema(f).field("ts").type) in ("int64", "timestamp[ns]")
        for f in files
    }
    if len(kinds) > 1:
        raise ValueError(
            f"{path}: mixed parquet timestamp generations in one stream "
            "directory (nanos-era int64/timestamp[ns] alongside micros-era) "
            "— one generation per directory; split the drops or migrate the "
            "old files"
        )
    return kinds.pop()


def _events_read_schema(ts_int64: bool) -> T.StructType:
    """EVENTS, with ts widened to raw int64 for the nanos generation."""
    if not ts_int64:
        return EVENTS
    return T.StructType(
        [
            f if f.name != "ts" else T.StructField("ts", T.LongType(), True)
            for f in EVENTS.fields
        ]
    )


def stream_events(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream over events parquet (S8's streaming analog).

    ``path`` may be a directory or a single file — the file source needs a
    directory, so a file path becomes (parent, pathGlobFilter=name).
    ``maxFilesPerTrigger`` bounds each micro-batch; callers tune it to
    trade latency for per-batch amortization (the full-outer audit's
    micro-batch machinery cost is per TRIGGER, not per row — measured in
    BENCHMARKS.md §streaming-amortization). The ts handling is
    generation-aware, matching the batch reader exactly so batch and
    streaming results are comparable: nanos-era files arrive as int64 and
    get the same ns→us truncation; micros-era files read directly as
    timestamps (the forced schema overrides NTZ inference).
    """
    import os

    ts_int64 = _ts_is_int64(path)
    reader = spark.readStream.schema(_events_read_schema(ts_int64)).option(
        "maxFilesPerTrigger", str(max_files_per_trigger)
    )
    if path.endswith(".parquet"):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    raw = reader.parquet(path)
    if ts_int64:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def dedup_stream(stream: DataFrame, keys: list[str], watermark: str = "1 hour") -> DataFrame:
    """Streaming idempotency: watermarked dedup over the natural key — the
    streaming replacement for ``ON CONFLICT DO NOTHING``
    (full_stock_pipeline.py:405-415).

    Uses ``dropDuplicatesWithinWatermark``: plain ``dropDuplicates(keys)``
    only evicts state when the event-time column is itself part of the
    dedup key, so deduping on a business key like ``event_id`` would grow
    state forever. The within-watermark variant expires each key's state
    once the watermark passes its first-seen event time, so state is
    genuinely bounded by the horizon (at-least-once becomes exactly-once
    for duplicates arriving within it).

    Boundary (measured, r10 adversarial relational battery): a row whose
    event time is EXACTLY unix epoch 0 is dropped on arrival even in the
    first micro-batch — Spark initializes the watermark to 0 and the
    operator's late filter excludes rows at the boundary. Any real event
    time is strictly positive; rows at or before epoch are outside this
    operator's contract."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def run_stream_to_table(stream_df: DataFrame, name: str, output_mode: str = "append") -> DataFrame:
    """Drive a streaming query to completion over a static source and
    return the result as a batch DataFrame (memory sink +
    processAllAvailable) — the test/oracle harness for streaming
    operators."""
    import time

    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    spark = stream_df.sparkSession
    try:
        q.processAllAvailable()
        # Watermark-gated emissions (outer-join null rows, state
        # timeouts) land in NO-DATA batches scheduled after the batch
        # that advanced the watermark; processAllAvailable only
        # guarantees the DATA is consumed, and stop() can kill a
        # pending eviction batch mid-commit (observed ~1-in-4 missing
        # null-emissions on the full-outer crafted test). Wait for the
        # sink to go quiescent: stop only after the row count holds
        # still across consecutive settle intervals, bounded at ~12 s
        # (static sources converge in one or two no-data batches).
        prev, stable = -1, 0
        for _ in range(30):
            q.processAllAvailable()
            cur = spark.table(name).count()
            stable = stable + 1 if cur == prev else 0
            if stable >= 2:
                break
            prev = cur
            time.sleep(0.4)
    finally:
        q.stop()
    return spark.table(name)
