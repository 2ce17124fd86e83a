"""Streaming-tier queries — Structured Streaming operators driven to
completion over the static testdata, so results are deterministic and
oracle-checkable (no late data → streaming == batch SQL).

SURVEY.md §2.10: the reference has no streams (daily cron batch); this tier
is the engine's incremental-ingest generalization (§7 phase 8).
"""

from pyspark.sql import functions as F

from .query_registry import _t, pround, register


def _land_waves(batch_docs, landing: str, n_waves: int = 3) -> None:
    """Land wave k of ``batch_docs`` (a DataFrame carrying an int
    ``wave`` column) at ``{landing}/w{k}`` — one parquet file per wave,
    strictly increasing mtimes so the file-source trigger order IS the
    wave order — with ONE distributed job: repartition by ``wave`` (each
    wave's rows converge to a single reduce task), write
    ``partitionBy("wave")``, rename the partition dirs. Replaces the
    r8-r9 pattern of ``n_waves`` sequential ``coalesce(1)`` writes, each
    of which collapsed its whole scan+filter into a single task
    (measured r11 at the ×10 replica: 3.05 s → 0.98 s). An absent wave
    (no rows) lands as an empty dir → no file → no trigger, which is
    decision-equivalent to the old empty-file trigger (an empty batch
    admits nothing and appends an empty decisions relation); callers
    guard the decisions[0] access for the all-empty corpus."""
    import os
    import time

    batch_docs.repartition("wave").write.mode("overwrite").partitionBy(
        "wave"
    ).parquet(f"{landing}/_raw")
    for k in range(n_waves):
        src, dst = f"{landing}/_raw/wave={k}", f"{landing}/w{k}"
        if os.path.isdir(src):
            os.rename(src, dst)
        else:
            os.makedirs(dst, exist_ok=True)
        stamp = time.time() + 10 * k
        for root, _, files in os.walk(dst):
            for fn in files:
                os.utime(os.path.join(root, fn), (stamp, stamp))


@register(
    "streaming_hourly_type_counts",
    """
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "window"),
)
def streaming_hourly_type_counts(spark, sf_dir):
    """Tumbling 1-hour event-time window over a file-source stream
    (streaming/windows.hourly_counts): watermark + window + agg, driven to
    completion through the memory sink. The oracle is plain batch SQL —
    equality *is* the streaming-correctness statement."""
    from .streaming.ingest import run_stream_to_table, stream_events
    from .streaming.windows import hourly_counts

    stream = stream_events(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    agg = hourly_counts(stream)
    out = run_stream_to_table(agg, "hourly_type_counts", output_mode="complete")
    return out.select(
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        pround("total_value", 2).alias("total_value"),
    )


@register(
    "streaming_session_windows",
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '12 hours'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    sess AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL '12 hours', '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM sess GROUP BY user_id, sid
    """,
    tags=("streaming", "session"),
)
def streaming_session_windows(spark, sf_dir):
    """Session windows (streaming/windows.session_aggregate): per-user
    activity bursts separated by >= 12h gaps via native session_window.
    The oracle is the batch islands construction (lag-gap flag + running
    sum) — equivalent for complete data, which proves the merge semantics."""
    from .streaming.ingest import run_stream_to_table, stream_events
    from .streaming.windows import session_aggregate

    stream = stream_events(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    agg = session_aggregate(stream, gap="12 hours")
    out = run_stream_to_table(agg, "session_windows", output_mode="complete")
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        F.col("n_events").cast("long").alias("n_events"),
        pround("total_value", 2).alias("total_value"),
    )


@register(
    "streaming_stateful_user_totals",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def streaming_stateful_user_totals(spark, sf_dir):
    """Custom stateful operator (streaming/stateful.running_user_totals):
    per-user running totals held in `applyInPandasWithState` group state
    across micro-batches, update-mode emissions collapsed to final state
    by the monotone event counter. The oracle is the batch groupBy — for
    complete data the operator's final state must equal the aggregate,
    which checks the state fold itself (count/sum/min/max across batch
    boundaries), not just plumbing."""
    from .streaming.ingest import run_stream_to_table, stream_events
    from .streaming.stateful import latest_state, running_user_totals

    stream = stream_events(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    updates = run_stream_to_table(
        running_user_totals(stream), "stateful_user_totals", output_mode="update"
    )
    final = latest_state(updates)
    return final.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        pround("total_value", 2).alias("total_value"),
        F.date_format(F.timestamp_micros(F.col("min_ts_us")), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        F.date_format(F.timestamp_micros(F.col("max_ts_us")), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )


@register(
    "streaming_dedup_ingest",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_unique
    FROM events
    """,
    tags=("streaming", "S15"),
)
def streaming_dedup_ingest(spark, sf_dir):
    """Watermarked dropDuplicates ingest (streaming/ingest.dedup_stream) —
    the streaming replacement for ON CONFLICT DO NOTHING idempotency. The
    source has unique event_ids, so deduped count == distinct count."""
    from .streaming.ingest import dedup_stream, run_stream_to_table, stream_events

    stream = stream_events(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    deduped = dedup_stream(stream, ["event_id"])
    out = run_stream_to_table(deduped, "dedup_ingest")
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_unique"),
    )


@register(
    "streaming_sliding_counts",
    """
    WITH w AS (
      SELECT ts, value,
             time_bucket(INTERVAL '1 hour', ts) - to_hours(i.i) AS w_start
      FROM events, LATERAL (SELECT unnest([0, 1]) AS i) i
    )
    SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(w_start + INTERVAL '2 hours', '%Y-%m-%d %H:%M:%S') AS window_end,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total_value
    FROM w GROUP BY w_start
    """,
    tags=("streaming", "window", "sliding"),
)
def streaming_sliding_counts(spark, sf_dir):
    """Sliding 2h/1h event-time windows (streaming/windows.sliding_counts):
    every event lands in two overlapping buckets. The oracle regenerates
    the window grid by joining each event to its two covering window
    starts — streaming == batch for complete data."""
    from .streaming.ingest import run_stream_to_table, stream_events
    from .streaming.windows import sliding_counts

    stream = stream_events(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    agg = sliding_counts(stream)
    out = run_stream_to_table(agg, "sliding_counts", output_mode="complete")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        F.col("n").cast("long").alias("n"),
        pround("total_value", 2).alias("total_value"),
    )


@register(
    "streaming_click_attribution",
    """
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           round(p.value, 2) AS purchase_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    tags=("streaming", "join"),
)
def streaming_click_attribution(spark, sf_dir):
    """Stream-stream interval join: purchases attributed to any click by
    the same user in the preceding hour (streaming/joins.
    interval_join, inner). Watermarks on BOTH sides + the time-range
    bound let the state store expire buffered rows — the only
    unbounded-stream-safe shape for a stream×stream join. Driven to
    completion over static data, the result equals the batch
    theta-join the oracle runs."""
    from .streaming.ingest import run_stream_to_table, stream_events
    from .streaming.joins import interval_join

    path = f"{sf_dir.rstrip('/')}/events.parquet"
    clicks = (
        stream_events(spark, path)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("user_id_l"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        stream_events(spark, path)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id_r"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    joined = interval_join(
        clicks, purchases, "user_id", "click_ts", "purchase_ts", "inner",
        horizon="1 HOUR", watermark="2 hours",
    )
    out = run_stream_to_table(joined, "click_attribution", output_mode="append")
    return out.select(
        F.col("user_id_l").alias("user_id"),
        "click_id",
        "purchase_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        pround("purchase_value", 2).alias("purchase_value"),
    )


@register(
    "streaming_nation_enrichment",
    """
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 2) AS total_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    tags=("streaming", "join", "J1"),
)
def streaming_nation_enrichment(spark, sf_dir):
    """Stream-static enrichment: the event stream joins a STATIC
    dimension (customer⋈nation, broadcast) — map-side per micro-batch,
    no join state at all (the stream-stream machinery is never engaged
    for a static side), then a streaming aggregate in complete mode.
    The incremental form of the batch star join; the oracle is that
    batch join."""
    from .io.readers import load_table
    from .streaming.ingest import run_stream_to_table, stream_events

    path = f"{sf_dir.rstrip('/')}/events.parquet"
    stream = stream_events(spark, path)
    cust = load_table(spark, "customer", sf_dir)
    nat = load_table(spark, "nation", sf_dir)
    dim = cust.join(
        F.broadcast(nat), cust.c_nationkey == nat.n_nationkey
    ).select(F.col("c_custkey").alias("user_id"), "n_name")
    enriched = stream.join(F.broadcast(dim), "user_id")
    agg = enriched.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )
    out = run_stream_to_table(agg, "nation_enrichment", output_mode="complete")
    return out.select(
        "n_name",
        F.col("n_events").cast("long").alias("n_events"),
        pround("total_value", 2).alias("total_value"),
    )


@register(
    "streaming_hourly_ohlc",
    """
    WITH keyed AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS b, value,
             printf('%020d|%012d', epoch_us(ts), event_id) AS k
      FROM events
    )
    SELECT strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket_start,
           event_type,
           round(arg_min(value, k), 2) AS open,
           round(max(value), 2) AS high,
           round(min(value), 2) AS low,
           round(arg_max(value, k), 2) AS close,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM keyed GROUP BY 1, 2
    """,
    tags=("streaming", "window", "resample"),
)
def streaming_hourly_ohlc(spark, sf_dir):
    """Streaming OHLC resampling (streaming/windows.hourly_ohlc): the
    candle builder as an INCREMENTAL operator — min_by/max_by on a
    (ts, event_id) struct ordering key give deterministic open/close
    inside a watermarked tumbling window, so state per (window, type) is
    six scalars and late data folds in until the watermark passes. The
    oracle replays the same declarative aggregation in batch SQL with a
    zero-padded epoch|id string key (DuckDB arg_min/arg_max cannot order
    by struct; the string form orders identically on the testdata's
    non-negative ts / sub-10^12 id domain); the batch twin
    hourly_ohlc_candles cross-checks the candle values themselves."""
    from .streaming.ingest import run_stream_to_table, stream_events
    from .streaming.windows import hourly_ohlc

    stream = stream_events(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    agg = hourly_ohlc(stream)
    out = run_stream_to_table(agg, "hourly_ohlc", output_mode="complete")
    return out.select(
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
        "event_type",
        pround("open", 2).alias("open"),
        pround("high", 2).alias("high"),
        pround("low", 2).alias("low"),
        pround("close", 2).alias("close"),
        F.col("n_events").cast("long").alias("n_events"),
        pround("total_value", 2).alias("total_value"),
    )


@register(
    "streaming_abandoned_clicks",
    """
    WITH mx AS (
      SELECT least(
        max(ts) FILTER (WHERE event_type = 'click'),
        max(ts) FILTER (WHERE event_type = 'purchase')) AS m
      FROM events
    )
    SELECT c.event_id AS click_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           round(c.value, 2) AS click_value
    FROM events c CROSS JOIN mx
    WHERE c.event_type = 'click'
      AND c.ts < mx.m - INTERVAL 190 MINUTE
      AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      )
    """,
    tags=("streaming", "join", "outer"),
)
def streaming_abandoned_clicks(spark, sf_dir):
    """LEFT OUTER stream-stream interval join — the abandonment signal:
    clicks with NO same-user purchase inside the following hour
    (streaming/joins.interval_join, left_outer). The subtle Structured
    Streaming semantics under test: an unmatched left row null-emits
    only after the joint watermark proves no in-horizon match can
    arrive, so end-of-stream leaves the youngest clicks undecided —
    both lanes therefore apply the same MATURITY CUTOFF (clicks older
    than horizon + watermark + margin vs the stream's max event time),
    making streaming == the batch NOT EXISTS anti-join the oracle
    runs. State is bounded by the watermark horizon on both sides —
    the unbounded-stream-safe shape."""
    from .streaming.ingest import run_stream_to_table, stream_events
    from .streaming.joins import interval_join

    path = f"{sf_dir.rstrip('/')}/events.parquet"
    # maturity horizon from the static copy (single-row bounded read):
    # the joint watermark is min over the two FILTERED streams' own max
    # event times, so the cutoff must use the same least()
    mx = (
        _t(spark, sf_dir, "events")
        .agg(
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            )
        )
        .collect()[0][0]
    )
    clicks = (
        stream_events(spark, path)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("user_id_l"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            F.col("value").alias("click_value"),
        )
    )
    purchases = (
        stream_events(spark, path)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id_r"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = interval_join(
        clicks, purchases, "user_id", "click_ts", "purchase_ts", "left_outer",
        horizon="1 HOUR", watermark="2 hours",
    )
    out = run_stream_to_table(
        joined, "abandoned_clicks", output_mode="append"
    )
    return (
        out.filter(F.col("purchase_id").isNull())
        .filter(F.col("click_ts") < F.lit(mx) - F.expr("INTERVAL 190 MINUTE"))
        .select(
            "click_id",
            F.col("user_id_l").alias("user_id"),
            F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
            pround("click_value", 2).alias("click_value"),
        )
    )


@register(
    "streaming_welford_anomalies",
    """
    WITH seq AS (
      SELECT user_id, event_id, ts, value,
             avg(value) OVER w AS mu,
             stddev_samp(value) OVER w AS sd,
             count(*) OVER w AS n_prior
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, CAST(event_id AS BIGINT) AS event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           round(value, 2) AS value,
           round((value - mu) / sd, 3) AS z
    FROM seq
    WHERE n_prior >= 10 AND sd > 0 AND abs((value - mu) / sd) > 3
    """,
    tags=("streaming", "stateful", "anomaly"),
)
def streaming_welford_anomalies(spark, sf_dir):
    """Second custom stateful operator (streaming/stateful.
    streaming_anomalies): every event z-scored against the EXPANDING
    history of its key — Welford (n, mean, M2) state folded across
    micro-batches, |z| > 3 with ≥10 points of history emitted. The
    oracle is the batch expanding-window z-score (cumulative frame to 1
    PRECEDING): the hash match checks the cross-batch state fold AND
    the event-time fold order (in-chunk sort) at once. Welford and the
    window aggregate accumulate in different float orders; the 3dp
    z-rounding absorbs the ulp divergence, the same discipline as every
    distributed sum in the registry."""
    from .streaming.ingest import run_stream_to_table, stream_events
    from .streaming.stateful import streaming_anomalies

    path = f"{sf_dir.rstrip('/')}/events.parquet"
    stream = stream_events(spark, path).select(
        "user_id", "event_id", "ts", "value"
    )
    out = run_stream_to_table(
        streaming_anomalies(stream), "welford_anomalies", output_mode="append"
    )
    return out.select(
        "user_id",
        F.col("event_id").cast("bigint").alias("event_id"),
        F.date_format(F.timestamp_micros("ts_us"), "yyyy-MM-dd HH:mm:ss").alias("ts"),
        pround("value", 2).alias("value"),
        pround("z", 3).alias("z"),
    )


@register(
    "streaming_scd2_asof_enrichment",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             max_by(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                           || lpad(CAST(event_id AS VARCHAR), 20, '0'))
               AS close
      FROM events GROUP BY 1, 2
    ),
    dim AS (
      SELECT user_id AS dim_user, close,
             CAST(d AS TIMESTAMP) AS valid_from,
             lead(CAST(d AS TIMESTAMP)) OVER (
               PARTITION BY user_id ORDER BY d) AS valid_to
      FROM daily
    ),
    joined AS (
      SELECT p.user_id, p.value, m.close
      FROM events p
      LEFT JOIN dim m
        ON p.user_id = m.dim_user
       AND p.ts >= m.valid_from
       AND (m.valid_to IS NULL OR p.ts < m.valid_to)
      WHERE p.event_type = 'purchase'
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(count(close) AS BIGINT) AS n_enriched,
           round(sum(value), 2) AS total_value,
           round(sum(close), 2) AS total_asof_close
    FROM joined GROUP BY user_id
    """,
    tags=("streaming", "join", "asof", "scd2"),
)
def streaming_scd2_asof_enrichment(spark, sf_dir):
    """STREAM-STATIC as-of join (streaming/joins.stream_static_asof —
    r5 groundwork, registered r6): the purchase stream enriches each
    event with the SCD2 dimension version valid AT ITS EVENT TIME
    (key + ``valid_from <= ts < valid_to``, NULL = open-ended). The
    static side — per-user daily-close price versions built from the
    batch reader — is re-planned per micro-batch and holds NO streaming
    state at all (stream-static joins are stateless on the stream side;
    no watermark). SCD2 intervals partition time per key, so
    cardinality is preserved and left-outer keeps pre-history /
    unknown-key events with null dimension columns. Driven to
    completion over static data the result equals the batch as-of
    join, which is what the oracle replays; per-user aggregation of the
    enrichment keeps the checked output compact."""
    from pyspark.sql import Window as W

    from .query_registry import _daily_close
    from .streaming.ingest import run_stream_to_table, stream_events
    from .streaming.joins import stream_static_asof

    daily = _daily_close(spark, sf_dir).select("user_id", "d", "close")
    w = W.partitionBy("dim_user").orderBy("valid_from")
    dim = daily.select(
        F.col("user_id").alias("dim_user"),
        "close",
        F.col("d").cast("timestamp").alias("valid_from"),
    ).withColumn("valid_to", F.lead("valid_from").over(w))

    path = f"{sf_dir.rstrip('/')}/events.parquet"
    stream = (
        stream_events(spark, path)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "value")
    )
    joined = stream_static_asof(
        stream, dim, key="user_id", ts="ts", dim_key="dim_user"
    )
    out = run_stream_to_table(joined, "scd2_asof_enrichment")
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.count("close").cast("long").alias("n_enriched"),
        pround(F.sum("value"), 2).alias("total_value"),
        pround(F.sum("close"), 2).alias("total_asof_close"),
    )


@register(
    "streaming_interval_full_outer_audit",
    """
    WITH mx AS (
      SELECT least(
        max(ts) FILTER (WHERE event_type = 'click'),
        max(ts) FILTER (WHERE event_type = 'purchase'))
        - INTERVAL 190 MINUTE AS c
      FROM events
    ),
    clicks AS (
      SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    ),
    fo AS (
      SELECT c.user_id AS ul, p.user_id AS ur,
             c.click_ts, p.purchase_ts
      FROM clicks c FULL OUTER JOIN purchases p
        ON c.user_id = p.user_id
       AND p.purchase_ts >= c.click_ts
       AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
    ),
    classified AS (
      SELECT coalesce(ul, ur) AS user_id,
             CASE
               WHEN ul IS NOT NULL AND ur IS NOT NULL
                    AND click_ts < mx.c AND purchase_ts < mx.c
                 THEN 'matched'
               WHEN ur IS NULL AND click_ts < mx.c THEN 'click_only'
               WHEN ul IS NULL AND purchase_ts < mx.c THEN 'purchase_only'
             END AS cls
      FROM fo CROSS JOIN mx
    )
    SELECT user_id,
           CAST(count(*) FILTER (WHERE cls = 'matched') AS BIGINT) AS n_matched,
           CAST(count(*) FILTER (WHERE cls = 'click_only') AS BIGINT) AS n_click_only,
           CAST(count(*) FILTER (WHERE cls = 'purchase_only') AS BIGINT) AS n_purchase_only
    FROM classified WHERE cls IS NOT NULL
    GROUP BY user_id
    """,
    tags=("streaming", "join", "outer", "full-outer"),
)
def streaming_interval_full_outer_audit(spark, sf_dir):
    """FULL OUTER stream-stream interval join (streaming/joins.
    interval_join, full_outer) — the last uncovered stream-stream join
    mode: per user, in-horizon click→purchase matches PLUS both unmatched
    classes (abandoned clicks AND purchases with no preceding click —
    the attribution-gap audit). Both sides null-emit only when the
    joint watermark proves no partner can arrive, so BOTH lanes apply
    the same per-class maturity cutoff (horizon + watermark + margin
    behind the joint max event time) and streaming equals the batch
    FULL OUTER the oracle runs. State on each side is bounded by the
    watermark horizon — the unbounded-stream-safe shape."""
    from .streaming.ingest import run_stream_to_table, stream_events
    from .streaming.joins import interval_join

    path = f"{sf_dir.rstrip('/')}/events.parquet"
    mx = (
        _t(spark, sf_dir, "events")
        .agg(
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            )
        )
        .collect()[0][0]
    )
    clicks = (
        stream_events(spark, path)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("user_id_l"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        stream_events(spark, path)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id_r"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = interval_join(
        clicks, purchases, "user_id", "click_ts", "purchase_ts", "full_outer",
        horizon="1 HOUR", watermark="2 hours",
    )
    out = run_stream_to_table(
        joined, "interval_full_outer", output_mode="append"
    )
    cutoff = F.lit(mx) - F.expr("INTERVAL 190 MINUTE")
    cls = (
        F.when(
            F.col("click_id").isNotNull() & F.col("purchase_id").isNotNull()
            & (F.col("click_ts") < cutoff) & (F.col("purchase_ts") < cutoff),
            "matched",
        )
        .when(
            F.col("purchase_id").isNull() & (F.col("click_ts") < cutoff),
            "click_only",
        )
        .when(
            F.col("click_id").isNull() & (F.col("purchase_ts") < cutoff),
            "purchase_only",
        )
    )
    classified = out.select(
        F.coalesce("user_id_l", "user_id_r").alias("user_id"),
        cls.alias("cls"),
    ).filter(F.col("cls").isNotNull())
    return classified.groupBy("user_id").agg(
        F.count(F.when(F.col("cls") == "matched", 1)).cast("long").alias("n_matched"),
        F.count(F.when(F.col("cls") == "click_only", 1)).cast("long").alias("n_click_only"),
        F.count(F.when(F.col("cls") == "purchase_only", 1)).cast("long").alias("n_purchase_only"),
    )


def _streaming_admission_oracle(waves: int = 3) -> str:
    """Replays the wave-ordered growing-index admission in pure SQL: a
    CTE chain where wave k's candidate probe joins the band index of
    (incumbent ∪ admitted waves < k) — the batch-boundary-deterministic
    unroll of the foreachBatch loop below."""
    from .queries_text import _BANDS, _JACCARD_T, _NUM_HASHES, _SHINGLES, _TOKS

    rows_per_band = _NUM_HASHES // _BANDS
    sig_cols = ",\n         ".join(
        f"list_aggregate(list_transform(sh, s -> md5('{i}:' || s)), 'min') AS mh_{i}"
        for i in range(_NUM_HASHES)
    )
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT id, incumbent, wave, {b} AS band_idx, "
        "md5(concat_ws('|', {parts})) AS band_hash FROM sig".format(
            b=b,
            parts=", ".join(
                f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(_BANDS)
    )
    ctes = [
        f"toks_t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents)",
        f"""base AS (
      SELECT doc_id AS id, source,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' AS incumbent,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
                  THEN NULL
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 3, 1) < '6' THEN 0
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 3, 1) < 'b' THEN 1
                  ELSE 2 END AS wave,
             {_SHINGLES} AS sh
      FROM toks_t
    )""",
        f"sig AS (SELECT id, incumbent, wave, sh, {sig_cols} FROM base)",
        f"banded AS (\n      {band_selects}\n    )",
    ]
    index_cond = "i.incumbent"
    for k in range(waves):
        ctes.append(
            f"""cand{k} AS (
      SELECT DISTINCT n.id AS new_id, i.id AS inc_id
      FROM banded n JOIN banded i
        ON n.band_idx = i.band_idx AND n.band_hash = i.band_hash
       AND n.wave = {k} AND ({index_cond})
    )"""
        )
        ctes.append(
            f"""verified{k} AS (
      SELECT DISTINCT c.new_id
      FROM cand{k} c
      JOIN base bn ON bn.id = c.new_id
      JOIN base bi ON bi.id = c.inc_id
      WHERE round(len(list_intersect(bn.sh, bi.sh))
                  / CAST(nullif(len(list_distinct(list_concat(bn.sh, bi.sh))),
                                0) AS DOUBLE), 6) >= {_JACCARD_T}
    )"""
        )
        ctes.append(
            f"""adm{k} AS (
      SELECT id FROM base
      WHERE wave = {k}
        AND id NOT IN (SELECT new_id FROM verified{k})
    )"""
        )
        index_cond += f" OR i.id IN (SELECT id FROM adm{k})"
    flagged_union = "\n      UNION\n      ".join(
        f"SELECT new_id FROM cand{k}" for k in range(waves)
    )
    rejected_union = "\n      UNION\n      ".join(
        f"SELECT new_id FROM verified{k}" for k in range(waves)
    )
    ctes.append(f"flagged AS (\n      {flagged_union}\n    )")
    ctes.append(f"rejected AS (\n      {rejected_union}\n    )")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT b.source,
           CAST(count(*) AS BIGINT) AS n_batch,
           CAST(sum(CASE WHEN f.new_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           CAST(sum(CASE WHEN r.new_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rejected,
           CAST(count(*) - sum(CASE WHEN r.new_id IS NOT NULL THEN 1 ELSE 0
                               END) AS BIGINT) AS n_admitted
    FROM base b
    LEFT JOIN flagged  f ON f.new_id = b.id
    LEFT JOIN rejected r ON r.new_id = b.id
    WHERE NOT b.incumbent
    GROUP BY b.source
    """


@register(
    "streaming_minhash_admission", _streaming_admission_oracle(),
    tags=("streaming", "text", "X2", "dedup", "admission"),
)
def streaming_minhash_admission(spark, sf_dir):
    """CONTINUOUS dedup admission (r8 verdict #9a): the foreachBatch
    form of `minhash_incremental_admission` against a GROWING band
    index — each arriving micro-batch is screened against incumbent ∪
    everything previously admitted, and its admitted documents' band
    rows and shingle sets join the index before the next trigger (the
    composition of the r7 admission gate with the r6 versioned-sink
    pattern; io/versioned.incremental_merge_stream is the durable-table
    analog).
    Unlike the static form, a wave-2 document near-duplicating a
    wave-0 ADMISSION is rejected here — the semantics a continuously
    ingesting corpus actually needs.

    Determinism/oracle: batch boundaries are part of the semantics, so
    the stream is driven over three md5-derived WAVES of the
    non-incumbent slice (hex char 3: <'6', <'b', rest), landed as one
    file each with strictly increasing mtimes and consumed with
    maxFilesPerTrigger=1 — trigger k IS wave k, which the SQL oracle
    replays as an unrolled CTE chain. The landing rewrite is harness
    scaffolding for the read-only sf-dir contract; production streams
    the real landing directory (S6) as-is. Within-trigger near-dups
    both admit (intra-batch dedup is near_dup_clusters' job upstream —
    the index advances per trigger, exactly like the oracle).

    Scale shape: the index is the at-rest side — batch band rows
    BROADCAST into the probe join, so nothing proportional to the
    incumbent corpus shuffles per trigger; per-trigger state growth is
    the admitted slice only, with localCheckpoint truncating lineage
    (the CC-loop idiom). The decisions relation is batch-sized."""
    import shutil
    import tempfile

    from .io.readers import spread
    from .queries_text import _BANDS, _JACCARD_T, _NUM_HASHES
    from .text.dedup import band_structs, minhash_signature, shingles

    docs = _t(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    incumbent = F.substring(h, 1, 2) < "cd"
    wv = F.substring(h, 3, 1)
    wave = F.when(wv < "6", 0).when(wv < "b", 1).otherwise(2)

    def featurize(df):
        """ONE checkpointed (id, source, fp, bands) relation per doc set.

        r11: the old two-relation form checkpointed (id, sh) and the
        exploded band rows separately — and since the band relation was
        derived from the LAZY signature, the shingle+minhash pass ran
        TWICE per checkpoint pair (once per eager action). One combined
        relation computes it once; band rows explode lazily out of the
        checkpoint wherever the probe needs them (a map-only projection
        of checkpointed bytes). Measured ×10: the incumbent
        featurization pair 3.1 s → 1.6 s, and the same factor for each
        of the three per-trigger batch featurizations."""
        base = spread(df, "doc_id").select(
            F.col("doc_id").alias("id"), "source",
            shingles("text", 3).alias("sh"),
        )
        sig = base.select(
            "id", "source", "sh", *minhash_signature("sh", _NUM_HASHES)
        )
        # r11: checkpoint shingle FINGERPRINTS (xxhash64 longs), never
        # the shingle strings — verification only needs shingle
        # IDENTITY, and Jaccard over fp arrays equals Jaccard over the
        # strings absent a 64-bit collision within a compared pair (the
        # repo-wide convention: dedup_cluster_delta, verbatim runs —
        # see those docstrings). The at-rest index materializes ~8
        # bytes per shingle instead of the ~20-byte gram string, and
        # the per-trigger verify intersects longs, not strings.
        return sig.select(
            "id", "source",
            F.transform("sh", lambda s: F.xxhash64(s)).alias("fp"),
            band_structs(_NUM_HASHES, _BANDS).alias("bands"),
        ).localCheckpoint(eager=True)

    # at-rest index state, advanced per trigger. r11: the index is a
    # LIST of eagerly checkpointed parts (incumbent + one admitted
    # slice per trigger) unioned lazily where the probe scans it — the
    # previous form re-checkpointed `incumbent ∪ all admissions` whole
    # every trigger, i.e. O(index) re-materialization per trigger where
    # the semantics only add O(batch) new state. Unioning checkpointed
    # parts is a map-side scan of already-materialized bytes (no
    # recompute, no shuffle), so per-trigger work is now bounded by the
    # batch alone — the invariant the design docstring promises.
    def fresh_state():
        return {
            "parts": [featurize(docs.filter(incumbent))],
            "decisions": [],
        }

    def index_feat():
        out = state["parts"][0]
        for p in state["parts"][1:]:
            out = out.unionByName(p)
        return out

    state = fresh_state()

    def admit_batch(batch_df, batch_id):
        b_feat = featurize(batch_df)
        idx = index_feat()
        # r12 fused verify: ONE index scan per trigger. The r11 form
        # scanned the at-rest index TWICE inside the decisions job —
        # once for the candidate band probe (inside a broadcast build)
        # and once as the verify's sh_idx side — with a pair-DISTINCT
        # exchange between them. Here the index band rows explode with
        # the SAME row's fp attached (map-side over checkpointed bytes,
        # nothing index-proportional shuffles), the batch band rows and
        # batch fps BROADCAST (both batch-bounded — the same class as
        # before), jaccard evaluates per collision row, and both
        # decision bits come out of one max-aggregate keyed new_id:
        # band-collision multiplicity is absorbed by the max (max over
        # duplicated pairs equals max over distinct pairs), so the
        # distinct exchange no longer exists. flagged ⟺ ≥1 collision
        # row survives the joins (they preserve every collision);
        # rejected ⟺ max(jac ≥ T); coalesce INSIDE the max keeps the
        # all-NULL-jaccard candidate (both fp sets empty) flagged but
        # not rejected, exactly like the r11 filter's NULL-drop.
        # Measured ×10 paired: 6.5-6.9 → 5.0-6.3 s; decisions
        # identical at sf0.01 and ×10.
        b_bands = (
            b_feat.select(
                F.col("id").alias("new_id"), F.explode("bands").alias("b")
            ).select("new_id", "b.band_idx", "b.band_hash")
        )
        sh_new = b_feat.select(F.col("id").alias("new_id"),
                               F.col("fp").alias("sh_n"))
        idx_rows = (
            idx.select("id", "fp", F.explode("bands").alias("b"))
            .select(F.col("fp").alias("sh_i"), "b.band_idx", "b.band_hash")
        )
        inter = F.size(F.array_intersect("sh_n", "sh_i"))
        union = F.size(F.array_union("sh_n", "sh_i"))
        jac = pround(inter / F.when(union != 0, union).cast("double"), 6)
        flags = (
            idx_rows
            .join(F.broadcast(b_bands), ["band_idx", "band_hash"])
            .join(F.broadcast(sh_new), "new_id")
            .groupBy("new_id")
            .agg(
                F.max(F.coalesce(jac >= _JACCARD_T, F.lit(False)))
                .alias("rej")
            )
        )
        decisions = (
            b_feat.select(F.col("id").alias("new_id"), "source")
            .join(F.broadcast(flags), "new_id", "left")
            .select(
                "new_id", "source",
                F.col("rej").isNotNull().alias("flagged"),
                F.coalesce("rej", F.lit(False)).alias("rejected"),
            )
            .localCheckpoint(eager=True)
        )
        state["decisions"].append(decisions)
        admitted = decisions.filter(~F.col("rejected")).select("new_id")
        # O(batch) state advance: the new index part is the admitted
        # SLICE of the batch featurization — a broadcast join of two
        # relations that are ALREADY checkpointed, so it stays LAZY:
        # later triggers' probe jobs re-evaluate it map-side over
        # checkpointed bytes (bounded by the batch), which costs less
        # than an eager checkpoint job per trigger ever did
        state["parts"].append(
            b_feat.join(
                F.broadcast(admitted), b_feat["id"] == admitted["new_id"]
            )
            .select("id", "source", "fp", "bands")
        )

    landing = tempfile.mkdtemp(prefix="stream_admission_")
    try:
        batch_docs = docs.filter(~incumbent).withColumn("wave", wave)
        _land_waves(batch_docs, landing)
        # one clean retry with FRESH state: a py4j callback-socket drop
        # inside foreachBatch (observed once under a GC-heavy 48 GB JVM
        # at the ×10 replica) is infra flakiness, not semantics — but a
        # half-run state dict must never be resumed, so the whole
        # stream restarts from the incumbent-only index
        for attempt in (0, 1):
            stream = (
                spark.readStream.schema(batch_docs.drop("wave").schema)
                .option("maxFilesPerTrigger", "1")
                .option("pathGlobFilter", "*.parquet")
                .parquet(f"{landing}/w*")
            )
            q = stream.writeStream.foreachBatch(admit_batch).outputMode(
                "update"
            ).start()
            try:
                q.processAllAvailable()
                q.stop()
                break
            except Exception:
                q.stop()
                if attempt:
                    raise
                state = fresh_state()
        if state["decisions"]:
            out = state["decisions"][0]
            for d in state["decisions"][1:]:
                out = out.unionByName(d)
        else:  # no non-incumbent docs at all: zero triggers fired
            out = spark.createDataFrame(
                [], "new_id long, source string, "
                    "flagged boolean, rejected boolean"
            )
        return (
            out.groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_batch"),
                F.sum(F.col("flagged").cast("int")).cast("long")
                .alias("n_flagged"),
                F.sum(F.col("rejected").cast("int")).cast("long")
                .alias("n_rejected"),
                F.sum((~F.col("rejected")).cast("int")).cast("long")
                .alias("n_admitted"),
            )
            .localCheckpoint(eager=True)  # free the landing dir below
        )
    finally:
        shutil.rmtree(landing, ignore_errors=True)


def _streaming_dsir_oracle(waves: int = 3) -> str:
    """Unrolls the growing-histogram DSIR admission: wave k is scored
    against the bucket histograms of (incumbent ∪ admitted waves < k),
    and admitted docs' bucket counts fold into the model before the
    next wave — the batch-boundary-deterministic replay of the
    foreachBatch loop below."""
    from .queries_training import _DSIR_BUCKET_SQL, _DSIR_BUCKETS
    from .queries_text import _TOKS

    B = _DSIR_BUCKETS
    ctes = [
        f"toks_t AS (SELECT doc_id, source, lang, {_TOKS} AS toks FROM documents)",
        """base AS (
      SELECT doc_id AS id, source, lang,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' AS incumbent,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
                  THEN NULL
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 3, 1) < '6' THEN 0
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 3, 1) < 'b' THEN 1
                  ELSE 2 END AS wave,
             toks
      FROM toks_t
    )""",
        f"""bw AS (
      SELECT b.id, b.incumbent, b.wave, b.lang, {_DSIR_BUCKET_SQL} AS bk,
             count(*) AS n
      FROM base b, LATERAL (SELECT unnest(toks) AS w) t
      GROUP BY b.id, b.incumbent, b.wave, b.lang, bk
    )""",
        """hist0 AS (
      SELECT bk, sum(n) AS c_raw,
             sum(CASE WHEN lang = 'en' THEN n ELSE 0 END) AS c_tgt
      FROM bw WHERE incumbent GROUP BY bk
    )""",
    ]
    for k in range(waves):
        ctes.append(
            f"""scored{k} AS (
      SELECT w.id, round(sum(w.n * (
               ln((coalesce(h.c_tgt, 0) + 1.0)
                  / ((SELECT sum(c_tgt) FROM hist{k}) + {B}.0))
             - ln((coalesce(h.c_raw, 0) + 1.0)
                  / ((SELECT sum(c_raw) FROM hist{k}) + {B}.0))
             )), 4) AS lw
      FROM bw w LEFT JOIN hist{k} h ON w.bk = h.bk
      WHERE w.wave = {k}
      GROUP BY w.id
    )"""
        )
        ctes.append(
            f"""adm{k} AS (
      SELECT b.id FROM base b LEFT JOIN scored{k} s ON s.id = b.id
      WHERE b.wave = {k} AND coalesce(s.lw, 0.0) > 0
    )"""
        )
        ctes.append(
            f"""hist{k + 1} AS (
      SELECT bk, sum(c_raw) AS c_raw, sum(c_tgt) AS c_tgt FROM (
        SELECT bk, c_raw, c_tgt FROM hist{k}
        UNION ALL
        SELECT w.bk, w.n AS c_raw,
               CASE WHEN w.lang = 'en' THEN w.n ELSE 0 END AS c_tgt
        FROM bw w JOIN adm{k} a ON a.id = w.id
      ) GROUP BY bk
    )"""
        )
    scores_union = "\n      UNION ALL\n      ".join(
        f"SELECT id, lw FROM scored{k}" for k in range(waves)
    )
    adm_union = "\n      UNION\n      ".join(
        f"SELECT id FROM adm{k}" for k in range(waves)
    )
    ctes.append(f"scores AS (\n      {scores_union}\n    )")
    ctes.append(f"admitted AS (\n      {adm_union}\n    )")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT b.source,
           CAST(count(*) AS BIGINT) AS n_batch,
           CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_admitted,
           round(avg(coalesce(s.lw, 0.0)), 4) AS mean_lw
    FROM base b
    LEFT JOIN scores s ON s.id = b.id
    LEFT JOIN admitted a ON a.id = b.id
    WHERE NOT b.incumbent
    GROUP BY b.source
    """


@register(
    "streaming_dsir_admission", _streaming_dsir_oracle(),
    tags=("streaming", "training", "curation", "dsir", "admission"),
)
def streaming_dsir_admission(spark, sf_dir):
    """CONTINUOUS target-domain admission — the DSIR counterpart of
    `streaming_minhash_admission`: each arriving micro-batch is scored
    against the AT-REST importance model (target/raw hashed-bucket
    histograms over incumbent ∪ previously admitted docs), a document
    is admitted iff its 4dp-rounded log importance weight is positive
    (more target-like than pool-like), and admitted docs' bucket
    counts fold into BOTH histograms before the next trigger — the
    model drifts with what the gate lets in, which is exactly how a
    continuously-curated ingest behaves (and why admission order is
    part of the semantics). Composes the r9 DSIR primitive with the
    r8/r9 admission harness: same md5 wave construction
    (trigger k IS wave k via one landed file per wave +
    maxFilesPerTrigger=1), same unrolled-CTE oracle discipline, same
    fresh-state retry for py4j callback flakiness.

    Scale shape: the ENTIRE model state is a 256-row histogram of exact
    integer counts — the state the band-index admission must grow per
    admitted doc is here constant-size no matter how much is admitted
    (DSIR's scale property) — so it lives on the DRIVER (r12; the
    _dsir_weights bounded-collect class) and the per-trigger log-ratio
    relation is a 256-row literal. Per trigger the batch runs one Arrow
    bucket-count pass (checkpointed), one decisions checkpoint, and one
    bounded ≤256-row delta collect folded into the driver dict — the
    old third checkpoint job (union+groupBy+checkpoint of the whole
    model) is gone. Decisions are batch-sized; nothing
    corpus-proportional shuffles per trigger.

    With no incumbent docs the histogram is empty, so ``n_raw = n_tgt
    = 0`` and every bucket's ``lr`` is ln(1/B) − ln(1/B) = exactly 0.0
    (`_dsir_log_ratio`), not NULL; the oracle's ``ln`` of an empty
    total is NULL and coalesces to the same 0.0. Every weight is then
    0.0, no document is admitted on that trigger, the histogram stays
    empty, and so no trigger admits."""
    import shutil
    import tempfile

    from .queries_training import (
        _DSIR_BUCKETS, _dsir_bucket_counts_arrow, _dsir_log_ratio,
    )

    docs = _t(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    incumbent = F.substring(h, 1, 2) < "cd"
    wv = F.substring(h, 3, 1)
    wave = F.when(wv < "6", 0).when(wv < "b", 1).otherwise(2)

    def bucket_counts(df):
        """(doc_id, source, lang, b, n) via the shared Arrow lane."""
        return _dsir_bucket_counts_arrow(df.select(
            "doc_id", "source", "lang", "text"
        ))

    def hist_collect(db):
        """The ≤B-row (bucket → exact integer counts) histogram as a
        driver dict — a bounded collect (the _dsir_weights r12 class):
        the ENTIRE model state is 256 rows of longs, so holding it as a
        distributed checkpoint bought nothing but a checkpoint job per
        trigger and a range-join + broadcast-totals subplan per scoring
        pass."""
        rows = db.groupBy(F.col("b").alias("bk")).agg(
            F.sum("n").alias("c_raw"),
            F.sum(
                F.when(F.col("lang") == "en", F.col("n")).otherwise(0)
            ).alias("c_tgt"),
        ).collect()
        return {
            int(r["bk"]): (int(r["c_raw"]), int(r["c_tgt"])) for r in rows
        }

    def fresh_state():
        return {
            "hist": hist_collect(bucket_counts(docs.filter(incumbent))),
            "decisions": [],
        }

    state = fresh_state()

    def admit_batch(batch_df, batch_id):
        db = bucket_counts(batch_df).localCheckpoint(eager=True)
        hist = state["hist"]
        # the model is DENSE by definition — all B buckets score, so a
        # token whose bucket the model has never seen still gets the
        # smoothed default ln(1/(n_tgt+B)) - ln(1/(n_raw+B)) instead of
        # silently dropping out of the join. r12: the ratio is a B-row
        # literal built from the driver-held exact-integer histogram by
        # `_dsir_log_ratio`, the builder `_dsir_weights` uses — the same
        # JVM log expression over the same longs the old
        # range-join/broadcast-totals subplan fed it (bit-identical
        # doubles; lane outputs pinned identical at sf0.01 and ×10).
        ratio = _dsir_log_ratio(
            spark,
            [(bk, *hist.get(bk, (0, 0))) for bk in range(_DSIR_BUCKETS)],
        )
        scored = (
            db.join(F.broadcast(ratio), "b")
            .groupBy("doc_id")
            .agg(pround(F.sum(F.col("n") * F.col("lr")), 4).alias("lw"))
        )
        decisions = (
            batch_df.select("doc_id", "source")
            .join(scored, "doc_id", "left")
            .select(
                "doc_id", "source",
                F.coalesce("lw", F.lit(0.0)).alias("lw"),
            )
            .withColumn("admitted", F.col("lw") > 0)
            .localCheckpoint(eager=True)
        )
        state["decisions"].append(decisions)
        # model advance: fold the admitted slice's ≤B-row delta into the
        # driver dict off one bounded collect over checkpointed batch
        # bytes — replaces the per-trigger union+groupBy+checkpoint of
        # the whole model (a third checkpoint job per trigger for a
        # 256-row relation)
        delta = hist_collect(
            db.join(
                F.broadcast(decisions.filter("admitted").select("doc_id")),
                "doc_id",
            )
        )
        for bk, (cr, ct) in delta.items():
            prev = state["hist"].get(bk, (0, 0))
            state["hist"][bk] = (prev[0] + cr, prev[1] + ct)

    landing = tempfile.mkdtemp(prefix="stream_dsir_")
    try:
        batch_docs = docs.filter(~incumbent).withColumn("wave", wave)
        _land_waves(batch_docs, landing)
        for attempt in (0, 1):
            stream = (
                spark.readStream.schema(batch_docs.drop("wave").schema)
                .option("maxFilesPerTrigger", "1")
                .option("pathGlobFilter", "*.parquet")
                .parquet(f"{landing}/w*")
            )
            q = stream.writeStream.foreachBatch(admit_batch).outputMode(
                "update"
            ).start()
            try:
                q.processAllAvailable()
                q.stop()
                break
            except Exception:
                q.stop()
                if attempt:
                    raise
                state = fresh_state()
        if state["decisions"]:
            out = state["decisions"][0]
            for d in state["decisions"][1:]:
                out = out.unionByName(d)
        else:  # no non-incumbent docs at all: zero triggers fired
            out = spark.createDataFrame(
                [], "doc_id long, source string, "
                    "lw double, admitted boolean"
            )
        return (
            out.groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_batch"),
                F.sum(F.col("admitted").cast("int")).cast("long")
                .alias("n_admitted"),
                pround(F.avg("lw"), 4).alias("mean_lw"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(landing, ignore_errors=True)
