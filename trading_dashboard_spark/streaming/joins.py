"""Stream-stream joins — watermarked interval attribution.

The one Structured Streaming operator family the engine had not yet
exercised: joining two *streams* requires watermarks on both sides plus a
time-range join condition so the state store can expire buffered rows —
without the range bound, each side would buffer forever waiting for
arbitrarily-late matches. With both bounds declared, Spark keeps only the
watermark-horizon window of each side in state: the 100 TB-stream-safe
shape.

Reference analog: attributing a purchase to the click that preceded it
(the funnel the batch as-of join answers retrospectively —
operators/windows.asof_union_tag — computed incrementally here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    how: str,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: right-stream rows join left-stream
    rows of the same key whose timestamp falls within [left_ts, left_ts
    + horizon]; ``how`` is ``"inner"``, ``"left_outer"`` or
    ``"full_outer"``.

    Both inputs must be streaming DataFrames; the key columns are
    expected pre-renamed to ``key + "_l"`` / ``key + "_r"`` (the join
    keeps both sides' columns).

    ``left_outer``: every left row emits — matched rows as they pair,
    UNMATCHED rows with null right columns once the watermark proves no
    in-horizon match can still arrive (Structured Streaming buffers the
    left row in state until ``left_ts + horizon`` falls behind the joint
    watermark, then null-emits in a no-data batch). The consequence
    callers MUST handle: left rows younger than ``horizon + watermark``
    at end-of-stream are still awaiting their verdict and are NOT
    emitted as unmatched — a completeness cutoff (filter to mature rows)
    is required for batch-equivalent results; see
    `streaming_abandoned_clicks` for the canonical binding.

    ``full_outer``: both sides null-emit — an unmatched LEFT row once
    the watermark passes ``left_ts + horizon``, an unmatched RIGHT row
    once it passes ``right_ts`` (any left partner would need ``left_ts ∈
    [right_ts − horizon, right_ts]``, all behind the watermark). State
    on both sides is watermark-bounded. The same completeness caveat now
    holds on BOTH sides: rows younger than ``horizon + watermark`` at
    end-of-stream are still awaiting their verdict, so batch-equivalent
    consumers must apply a maturity cutoff to every emission class (see
    `streaming_interval_full_outer_audit` for the canonical binding).
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (F.col(key + "_l") == F.col(key + "_r"))
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {horizon}"))
    )
    return lw.join(rw, cond, how)


def stream_static_asof(
    stream: DataFrame,
    dim: DataFrame,
    key: str,
    ts: str,
    dim_key: str | None = None,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    how: str = "left_outer",
) -> DataFrame:
    """Enrich a stream with the SCD2 dimension version in effect AS OF
    each event's time: join on key + ``valid_from <= ts < valid_to``
    (NULL ``valid_to`` = the current version, open-ended).

    This is the STREAM-STATIC as-of join (the r4 candidate the
    stream-stream interval joins above don't cover): the static side
    is re-planned per micro-batch — so a dimension table refreshed
    between batches is picked up automatically — and NO streaming state
    is kept at all (stream-static joins are stateless on the stream
    side; no watermark needed). SCD2 validity intervals partition time
    per key, so at most one dimension version matches each event:
    cardinality is preserved, and ``left_outer`` keeps events whose key
    (or time range) has no dimension row, exactly like the batch
    as-of's unmatched semantics. At 100 TB-stream scale the static side
    is a broadcast when it fits and a per-batch shuffled join
    otherwise; either way the stream is a single pass.

    ``dim_key`` names the dimension's key column when it differs from
    the stream's (same-name columns would collide in the output).
    """
    dk = dim_key or key
    if dk == key:
        dim = dim.withColumnRenamed(key, key + "_dim")
        dk = key + "_dim"
    cond = (
        (F.col(key) == F.col(dk))
        & (F.col(ts) >= F.col(valid_from))
        & (F.col(valid_to).isNull() | (F.col(ts) < F.col(valid_to)))
    )
    return stream.join(dim, cond, how)
