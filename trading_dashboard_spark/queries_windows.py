"""Window-tier queries — lag/lead/rolling/indicator/pattern/as-of operators
(SURVEY.md §2.5, §2.2 P14-P18) over the events series.

Every oracle reproduces the exact frame semantics in DuckDB SQL, including
the pandas ``min_periods`` guard (count-over-frame) and the NULLIF division
guards, so the engine's window tier is hash-checked end to end.
"""

from pyspark.sql import Window as W, functions as F

from .query_registry import DAILY_SQL, _daily_close, _t, pround, register

#: Shared window clause fragments for oracle SQL.
_WIN = "PARTITION BY user_id ORDER BY d"


@register(
    "daily_pct_change",
    f"""
    WITH {DAILY_SQL}
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           round(close, 2) AS close,
           round(lag(close) OVER ({_WIN}), 2) AS prev_close,
           round((close - lag(close) OVER ({_WIN}))
                 / nullif(lag(close) OVER ({_WIN}), 0) * 100, 4) AS pct_change
    FROM daily
    """,
    tags=("window", "W1", "W9"),
)
def daily_pct_change(spark, sf_dir):
    """W1/W9 — lag(1) previous close + grouped pct_change
    (full_stock_pipeline.py:396; analyze_news_stock_patterns.py:96)."""
    from .operators.relational import pct_change_expr

    daily = _daily_close(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("d")
    prev = F.lag("close").over(w)
    return daily.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
        pround("close", 2).alias("close"),
        pround(prev, 2).alias("prev_close"),
        pround(pct_change_expr(F.col("close"), prev), 4).alias("pct_change"),
    )


@register(
    "lead_next_value",
    f"""
    WITH {DAILY_SQL}
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           round(close, 2) AS close,
           round(lead(close) OVER ({_WIN}), 2) AS next_close
    FROM daily
    """,
    tags=("window", "W3"),
)
def lead_next_value(spark, sf_dir):
    """W3 — lead(1): next-day close, the ML training target
    (analyze_news_stock_patterns.py:110-111)."""
    daily = _daily_close(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("d")
    return daily.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
        pround("close", 2).alias("close"),
        pround(F.lead("close", 1).over(w), 2).alias("next_close"),
    )


@register(
    "three_day_trends",
    f"""
    WITH {DAILY_SQL},
    lagged AS (
      SELECT user_id, d, close,
             lag(close, 1) OVER ({_WIN}) AS l1,
             lag(close, 2) OVER ({_WIN}) AS l2
      FROM daily
    )
    SELECT user_id AS key, strftime(d, '%Y-%m-%d') AS time,
           CASE WHEN close > l1 AND l1 > l2 THEN 'Bullish Trend'
                WHEN close < l1 AND l1 < l2 THEN 'Bearish Trend' END AS pattern,
           'Trend' AS pattern_category,
           CAST(0.8 AS DOUBLE) AS confidence_score
    FROM lagged
    WHERE (close > l1 AND l1 > l2) OR (close < l1 AND l1 < l2)
    """,
    tags=("window", "W2", "P14", "patterns"),
)
def three_day_trends(spark, sf_dir):
    """W2 — chained lag(1)/lag(2) 3-day monotone trend detector
    (full_stock_pipeline.py:434-443), via operators.patterns."""
    from .operators.patterns import detect_trends

    daily = _daily_close(spark, sf_dir)
    out = detect_trends(daily, "user_id", "d", "close")
    return out.select(
        "key",
        F.date_format("time", "yyyy-MM-dd").alias("time"),
        "pattern",
        "pattern_category",
        "confidence_score",
    )


@register(
    "ma_crossover_signals",
    f"""
    WITH {DAILY_SQL},
    ma AS (
      SELECT user_id, d,
             avg(close) OVER ({_WIN} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS ma_s,
             avg(close) OVER ({_WIN} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS ma_l
      FROM daily
    ),
    flags AS (
      SELECT user_id, d,
             CASE WHEN ma_s > ma_l THEN 1 ELSE 0 END AS above,
             lag(CASE WHEN ma_s > ma_l THEN 1 ELSE 0 END) OVER ({_WIN}) AS prev_above
      FROM ma
    )
    SELECT user_id AS key, strftime(d, '%Y-%m-%d') AS time,
           CASE WHEN above = 1 AND prev_above = 0 THEN 'Golden Cross'
                WHEN above = 0 AND prev_above = 1 THEN 'Death Cross' END AS pattern,
           'Moving_Averages' AS pattern_category,
           CAST(0.9 AS DOUBLE) AS confidence_score
    FROM flags
    WHERE (above = 1 AND prev_above = 0) OR (above = 0 AND prev_above = 1)
    """,
    tags=("window", "W4", "patterns"),
)
def ma_crossover_signals(spark, sf_dir):
    """W4 — golden/death cross via 5/20-row moving averages with SQL
    partial-mean frames (full_stock_pipeline.py:452-471; the reference's
    50/200 windows shrink to 5/20 to fit the 30-day series)."""
    from .operators.patterns import detect_ma_cross

    daily = _daily_close(spark, sf_dir)
    out = detect_ma_cross(daily, "user_id", "d", "close", short_n=5, long_n=20)
    return out.select(
        "key",
        F.date_format("time", "yyyy-MM-dd").alias("time"),
        "pattern",
        "pattern_category",
        "confidence_score",
    )


@register(
    "volatility_patterns",
    f"""
    WITH {DAILY_SQL}
    SELECT user_id AS key, strftime(d, '%Y-%m-%d') AS time,
           'High Volatility' AS pattern,
           'Volatility' AS pattern_category,
           round((high - low) / nullif(low, 0) * 100, 2) AS confidence_score
    FROM daily
    WHERE (high - low) / nullif(low, 0) * 100 > 400
    """,
    tags=("window", "P18", "P16", "patterns"),
)
def volatility_patterns(spark, sf_dir):
    """Intraday volatility detector ``(high-low)/NULLIF(low,0)*100 >
    threshold`` (full_stock_pipeline.py:475-482); threshold 400% fits the
    synthetic uniform-value series."""
    from .operators.patterns import detect_volatility

    daily = _daily_close(spark, sf_dir)
    out = detect_volatility(daily, "user_id", "d", "high", "low", threshold_pct=400.0)
    return out.select(
        "key",
        F.date_format("time", "yyyy-MM-dd").alias("time"),
        "pattern",
        "pattern_category",
        "confidence_score",
    )


@register(
    "sma_dual_semantics",
    f"""
    WITH {DAILY_SQL}
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           round(avg(close) OVER ({_WIN} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW), 4)
             AS sma_partial,
           round(CASE WHEN count(close) OVER ({_WIN} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) >= 14
                 THEN avg(close) OVER ({_WIN} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) END, 4)
             AS sma_pandas
    FROM daily
    """,
    tags=("window", "W5"),
)
def sma_dual_semantics(spark, sf_dir):
    """W5 + SURVEY.md §7.4 — the SMA boundary-semantics pair: SQL partial
    mean (ROWS 13 PRECEDING) vs pandas ``rolling(14, min_periods=14)``
    NaN-until-full. The engine exposes both behind one flag."""
    from .operators.windows import per_key_window

    # r11: one shared (avg, count) frame pair materialized, then rounded
    # as attributes — the single-select form ran 9 window aggregators
    # (pround ×3 on each sma flavor, min_periods guard re-counting) for
    # the 2 distinct ones. operators.indicators.sma remains the W5
    # Column-form anchor; arithmetic here is its exact expansion.
    daily = _daily_close(spark, sf_dir)
    frame = per_key_window("user_id", "d").rowsBetween(-13, 0)
    frames = daily.select(
        "user_id", "d",
        F.avg("close").over(frame).alias("_avg"),
        F.count("close").over(frame).alias("_cnt"),
    )
    return frames.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
        pround(F.col("_avg"), 4).alias("sma_partial"),
        pround(F.when(F.col("_cnt") >= 14, F.col("_avg")), 4).alias("sma_pandas"),
    )


@register(
    "bollinger_bands",
    f"""
    WITH {DAILY_SQL},
    frames AS (
      SELECT user_id, d, close,
             avg(close)         OVER ({_WIN} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS mid,
             stddev_samp(close) OVER ({_WIN} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS sd,
             count(close)       OVER ({_WIN} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS cnt
      FROM daily
    )
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           round(close, 2) AS close,
           round(CASE WHEN cnt >= 20 THEN mid END, 4) AS boll_mid,
           round(CASE WHEN cnt >= 20 THEN mid + 2 * sd END, 4) AS boll_upper,
           round(CASE WHEN cnt >= 20 THEN mid - 2 * sd END, 4) AS boll_lower
    FROM frames
    """,
    tags=("window", "W6"),
)
def bollinger_bands(spark, sf_dir):
    """W6 — Bollinger bands: 20-row rolling mean ± 2·stddev_samp with
    pandas min_periods parity (indicators.py:20-27).

    r11: the three frame aggregates (count, avg, stddev) materialize ONCE
    in a first projection and the bands derive from the attributes. The
    single-select form fed window-aggregate EXPRESSIONS into pround,
    whose 3-reference rounding CASE (and the min_periods guard) textually
    duplicated them — WindowExec does not dedup equal window expressions,
    so the plan ran THIRTY sliding-frame aggregators per row where three
    suffice (plan audit: _we0.._we29 → _we0.._we2). Same arithmetic, same
    values — only the expression graph is shared now."""
    from .operators.windows import per_key_window

    daily = _daily_close(spark, sf_dir)
    frame = per_key_window("user_id", "d").rowsBetween(-19, 0)
    frames = daily.select(
        "user_id", "d", "close",
        F.count("close").over(frame).alias("_cnt"),
        F.avg("close").over(frame).alias("_mid"),
        F.stddev_samp("close").over(frame).alias("_sd"),
    )
    full = F.col("_cnt") >= 20
    mid = F.when(full, F.col("_mid"))
    up = F.when(full, F.col("_mid") + 2.0 * F.col("_sd"))
    lo = F.when(full, F.col("_mid") - 2.0 * F.col("_sd"))
    return frames.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
        pround("close", 2).alias("close"),
        pround(mid, 4).alias("boll_mid"),
        pround(up, 4).alias("boll_upper"),
        pround(lo, 4).alias("boll_lower"),
    )


@register(
    "rsi_indicator",
    f"""
    WITH {DAILY_SQL},
    diffs AS (
      SELECT user_id, d, close,
             close - lag(close) OVER ({_WIN}) AS delta
      FROM daily
    ),
    gl AS (
      SELECT user_id, d, delta,
             CASE WHEN delta > 0 THEN delta ELSE 0 END AS gain,
             CASE WHEN delta < 0 THEN -delta ELSE 0 END AS loss
      FROM diffs
    ),
    frames AS (
      SELECT user_id, d,
             avg(gain) OVER ({_WIN} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS ag,
             avg(loss) OVER ({_WIN} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS al,
             count(*)  OVER ({_WIN} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS cnt
      FROM gl
    )
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           round(CASE WHEN cnt >= 14 THEN
                   CASE WHEN al = 0 THEN CASE WHEN ag = 0 THEN NULL ELSE 100.0 END
                        ELSE 100.0 - 100.0 / (1.0 + ag / al) END
                 END, 4) AS rsi_14
    FROM frames
    """,
    tags=("window", "W8"),
)
def rsi_indicator(spark, sf_dir):
    """W8 — composite RSI: lag-diff → ``delta.where`` gains/losses (the
    first row's null diff becomes 0, so RSI first emits at row n-1, exact
    reference parity) → 14-row rolling means → 100-100/(1+rs), loss=0 →
    RSI 100 (indicators.py:11-18 + SURVEY.md §7.4 divide-by-zero rule)."""
    from .operators.windows import per_key_window

    # r11: the operators.indicators.rsi Column form stays the W8 anchor,
    # but feeding it straight into pround duplicated every frame
    # aggregate ×3 (pround's 3-reference rounding CASE) on top of the
    # composite's own multi-references — ~21 window aggregators per row
    # for 4 distinct ones. This materializes the same delta → gain/loss
    # → frame aggregates in two projections (identical expressions,
    # identical NULL flow — first-row NULL delta → 0 via the same
    # F.when), then rounds ATTRIBUTES; arithmetic is unchanged.
    daily = _daily_close(spark, sf_dir)
    w = per_key_window("user_id", "d")
    delta = F.col("close") - F.lag("close", 1).over(w)
    diffs = daily.select("user_id", "d", delta.alias("_delta"))
    gain = F.when(F.col("_delta") > 0, F.col("_delta")).otherwise(F.lit(0.0))
    loss = F.when(F.col("_delta") < 0, -F.col("_delta")).otherwise(F.lit(0.0))
    frame = per_key_window("user_id", "d").rowsBetween(-13, 0)
    frames = diffs.select(
        "user_id", "d",
        F.count(F.lit(1)).over(frame).alias("_cnt"),
        F.avg(gain).over(frame).alias("_ag"),
        F.avg(loss).over(frame).alias("_al"),
    )
    ag, al = F.col("_ag"), F.col("_al")
    raw = F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + ag / al)
    out = (
        F.when(al == 0.0,
               F.when(ag == 0.0, F.lit(None)).otherwise(F.lit(100.0)))
        .otherwise(raw)
    )
    return frames.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
        pround(F.when(F.col("_cnt") >= 14, out), 4).alias("rsi_14"),
    )


@register(
    "cumulative_user_totals",
    f"""
    WITH {DAILY_SQL}
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           round(sum(close) OVER ({_WIN} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_total,
           round(round(sum(close) OVER ({_WIN} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                 / row_number() OVER ({_WIN}), 4)
             AS running_avg,
           CAST(row_number() OVER ({_WIN}) AS BIGINT) AS day_number
    FROM daily
    """,
    tags=("window", "W10"),
)
def cumulative_user_totals(spark, sf_dir):
    """Running (unbounded-preceding) aggregates + row_number — the
    cumulative-frame family the greatest-n-per-group rewrite builds on.

    running_avg derives from the *rounded* running total (not a second
    windowed avg): cumulative aggregation associates differently across
    engines (segment tree vs sequential), so the avg is rebuilt from a
    value both engines agree on bit-for-bit."""
    # r11: materialize the two window primitives once, round attributes —
    # the single-select form ran ~12 cumulative-sum + 5 row_number
    # aggregators per row (pround ×3, and running_avg's nested pround of
    # pround ×9) for the 2 distinct ones. Same arithmetic: running_avg
    # still derives from the ROUNDED total attribute.
    daily = _daily_close(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("d")
    frame = w.rowsBetween(W.unboundedPreceding, 0)
    wins = daily.select(
        "user_id", "d",
        F.sum("close").over(frame).alias("_tot"),
        F.row_number().over(w).alias("_rn"),
    )
    total = pround(F.col("_tot"), 2)
    return wins.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
        total.alias("running_total"),
        pround(total / F.col("_rn"), 4).alias("running_avg"),
        F.col("_rn").cast("long").alias("day_number"),
    )


@register(
    "top3_days_per_user",
    f"""
    WITH {DAILY_SQL},
    ranked AS (
      SELECT user_id, d, close,
             row_number() OVER (PARTITION BY user_id ORDER BY close DESC, d) AS rnk
      FROM daily
    )
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           round(close, 2) AS close, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
    tags=("window", "J4", "O3"),
)
def top3_days_per_user(spark, sf_dir):
    """Top-k-per-group via ranked window — the Spark-native generalization
    of the reference's greatest-n-per-group join (data_loader.py:144-148)."""
    from .operators.relational import top_k_per_key

    daily = _daily_close(spark, sf_dir)
    ranked = (
        daily.withColumn(
            "rnk",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.col("close").desc(), F.col("d"))
            ),
        )
        .filter(F.col("rnk") <= 3)
    )
    return ranked.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
        pround("close", 2).alias("close"),
        F.col("rnk").cast("int").alias("rnk"),
    )


@register(
    "prev_available_close",
    f"""
    WITH {DAILY_SQL},
    gappy AS (SELECT * FROM daily WHERE dayofweek(d) NOT IN (0, 6))
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           round(close, 2) AS close,
           round(coalesce(
             lag(close) OVER ({_WIN}),
             (SELECT max(close) FROM gappy g2
              WHERE g2.user_id = gappy.user_id AND g2.d < gappy.d
                AND g2.d = (SELECT max(d) FROM gappy g3
                            WHERE g3.user_id = gappy.user_id AND g3.d < gappy.d))
           ), 2) AS prev_close
    FROM gappy
    """,
    tags=("window", "W10", "J5"),
)
def prev_available_close(spark, sf_dir):
    """W10/J5 — previous *available* close over a gapped calendar:
    ``COALESCE(LAG(close), <correlated as-of subquery>)``
    (full_stock_pipeline.py:395-400). The engine rewrite is a single
    ``last(value, ignorenulls)`` over unbounded-preceding — the oracle
    keeps the reference's correlated-subquery form to prove equivalence.
    Weekends are filtered out to manufacture gaps."""
    from .operators.windows import per_key_window, prev_available

    daily = _daily_close(spark, sf_dir).filter(~F.dayofweek("d").isin(1, 7))
    w = per_key_window("user_id", "d")
    prev = F.coalesce(F.lag("close").over(w), prev_available(F.col("close"), w))
    return daily.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
        pround("close", 2).alias("close"),
        pround(prev, 2).alias("prev_close"),
    )


@register(
    "asof_purchase_click",
    """
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           round(p.value, 2) AS purchase_value,
           round((SELECT c.value FROM events c
                  WHERE c.user_id = p.user_id AND c.event_type = 'click'
                    AND (c.ts < p.ts OR (c.ts = p.ts AND TRUE))
                  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1), 2) AS asof_value
    FROM events p WHERE p.event_type = 'purchase'
    """,
    tags=("window", "J5", "asof"),
)
def asof_purchase_click(spark, sf_dir):
    """As-of join: each purchase gets the latest click value at-or-before
    its timestamp, per user — the reference's correlated LIMIT-1 lookup
    (analyze_news_stock_patterns.py:184-189) as the union-tag window plan
    (operators/windows.as_of_join): one shuffle, no correlated subquery."""
    from .operators.windows import as_of_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    joined = as_of_join(
        purchases,
        clicks,
        left_on="user_id",
        right_on="user_id",
        left_time="ts",
        right_time="ts",
        value_cols=["value"],
        right_tiebreak="event_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        pround("value", 2).alias("purchase_value"),
        pround("asof_value", 2).alias("asof_value"),
    )


@register(
    "merge_upsert_digest",
    f"""
    WITH {DAILY_SQL},
    base AS (SELECT user_id, d, close FROM daily WHERE d < DATE '2024-01-20'),
    upd  AS (SELECT user_id, d, close + 1.0 AS close FROM daily WHERE d >= DATE '2024-01-15'),
    merged AS (
      SELECT * FROM upd
      UNION ALL
      SELECT b.* FROM base b
      WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.user_id = b.user_id AND u.d = b.d)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(close), 2) AS total_close,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM merged
    """,
    tags=("write", "S14"),
)
def merge_upsert_digest(spark, sf_dir):
    """S14 — MERGE/upsert semantics (`INSERT ... ON CONFLICT DO UPDATE`,
    full_stock_pipeline.py:405-415) as left-anti + union, digest-checked.
    Applying the merge twice is asserted identical in tests/ (idempotency)."""
    from .io.writers import merge_upsert

    daily = _daily_close(spark, sf_dir).select("user_id", "d", "close")
    base = daily.filter(F.col("d") < F.lit("2024-01-20").cast("date"))
    upd = daily.filter(F.col("d") >= F.lit("2024-01-15").cast("date")).withColumn(
        "close", F.col("close") + 1.0
    )
    merged = merge_upsert(base, upd, ["user_id", "d"])
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        pround(F.sum("close"), 2).alias("total_close"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "insert_if_absent_digest",
    f"""
    WITH {DAILY_SQL},
    base AS (SELECT user_id, d, close FROM daily WHERE d < DATE '2024-01-20'),
    newr AS (SELECT user_id, d, close * 2.0 AS close FROM daily WHERE d >= DATE '2024-01-15'),
    merged AS (
      SELECT * FROM base
      UNION ALL
      SELECT n.* FROM newr n
      WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.user_id = n.user_id AND b.d = n.d)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(close), 2) AS total_close
    FROM merged
    """,
    tags=("write", "S15"),
)
def insert_if_absent_digest(spark, sf_dir):
    """S15 — ``ON CONFLICT DO NOTHING`` (insert-if-absent): existing keys
    keep their rows (full_stock_pipeline.py:449,471,482)."""
    from .io.writers import insert_if_absent

    daily = _daily_close(spark, sf_dir).select("user_id", "d", "close")
    base = daily.filter(F.col("d") < F.lit("2024-01-20").cast("date"))
    new = daily.filter(F.col("d") >= F.lit("2024-01-15").cast("date")).withColumn(
        "close", F.col("close") * 2.0
    )
    merged = insert_if_absent(base, new, ["user_id", "d"])
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        pround(F.sum("close"), 2).alias("total_close"),
    )


@register(
    "range_join_opening_window",
    """
    WITH iv AS (
      SELECT user_id AS owner_id, min(ts) AS w_start,
             min(ts) + INTERVAL '12 hours' AS w_end
      FROM events GROUP BY user_id
    )
    SELECT iv.owner_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 2) AS total_value
    FROM iv JOIN events e ON e.ts BETWEEN iv.w_start AND iv.w_end
    GROUP BY iv.owner_id
    """,
    tags=("window", "range-join"),
)
def range_join_opening_window(spark, sf_dir):
    """Interval containment join (operators/temporal.bucketed_range_join):
    per-user opening windows [first event, +12h] joined to EVERY event —
    across users — that falls inside them. The oracle is the plain BETWEEN
    theta-join; the engine runs the bucketed rewrite (12h buckets → each
    interval explodes to ≤2 bucket rows, equi-join on the bucket id,
    residual BETWEEN), so the plan is a hash join on a small int key
    instead of a BroadcastNestedLoop over every (point, interval) pair."""
    from .operators.temporal import bucketed_range_join

    ev = _t(spark, sf_dir, "events")
    iv = ev.groupBy(F.col("user_id").alias("owner_id")).agg(
        F.min("ts").alias("w_start")
    ).withColumn("w_end", F.col("w_start") + F.expr("INTERVAL 12 HOURS"))
    joined = bucketed_range_join(
        ev.select("ts", "value"), iv, "ts", "w_start", "w_end", bucket_seconds=43200
    )
    return joined.groupBy("owner_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        pround(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "multi_resolution_rollup",
    """
    SELECT 'hour' AS resolution,
           strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'day', strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d %H:%M:%S'),
           event_type, CAST(count(*) AS BIGINT), round(sum(value), 2)
    FROM events GROUP BY 2, 3
    """,
    tags=("window", "rollup", "hypertable"),
)
def multi_resolution_rollup(spark, sf_dir):
    """Hypertable-style continuous aggregate, batch form
    (operators/temporal.multi_resolution_rollup): hourly AND daily grains
    of the same measures in ONE shuffle — per-row (resolution, bucket)
    fan-out feeds a single partial-aggregated exchange, versus one job per
    grain. The oracle is the UNION of per-grain time_bucket GROUP BYs."""
    from .operators.temporal import multi_resolution_rollup as rollup

    ev = _t(spark, sf_dir, "events").select("ts", "event_type", "value")
    out = rollup(
        ev,
        "ts",
        {"hour": 3600, "day": 86400},
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n"),
            pround(F.sum("value"), 2).alias("total_value"),
        ],
    )
    return out.select(
        "resolution",
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        "total_value",
    )


_A12, _A26, _A9 = 2.0 / 13.0, 2.0 / 27.0, 2.0 / 10.0  # span alphas, adjust=False


def _macd_oracle() -> str:
    """Closed-form MACD: each adjust=False EMA unrolls to a weighted power
    sum (same identity the ema_indicator oracle uses); the signal line
    applies the unroll a second time over the per-key MACD list."""
    def _ema_term(xs: str, t: str, a: float) -> str:
        return (
            f"(pow(1 - {a}, {t} - 1) * {xs}[1]"
            f" + coalesce(list_sum(list_transform(range(2, {t} + 1),"
            f" j -> {a} * pow(1 - {a}, {t} - j) * {xs}[j])), 0.0))"
        )

    macd_t = f"{_ema_term('xs', 't', _A12)} - {_ema_term('xs', 't', _A26)}"
    return f"""
    WITH {DAILY_SQL},
    ordered AS (
      SELECT user_id, d,
             row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn
      FROM daily
    ),
    lists AS (
      SELECT user_id, list(close ORDER BY d) AS xs FROM daily GROUP BY user_id
    ),
    macd_lists AS (
      SELECT user_id,
             list_transform(range(1, len(xs) + 1), t -> {macd_t}) AS ms
      FROM lists
    ),
    sel AS (
      SELECT o.user_id, o.d, m.ms[o.rn] AS macd_v,
             {_ema_term('m.ms', 'o.rn', _A9)} AS sig
      FROM ordered o JOIN macd_lists m USING (user_id)
    )
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           round(macd_v, 4) AS macd,
           round(sig, 4) AS macd_signal,
           round(macd_v - sig, 4) AS macd_hist
    FROM sel
    """


@register("macd_indicator", _macd_oracle(), tags=("window", "W7", "udf"))
def macd_indicator(spark, sf_dir):
    """MACD(12,26,9) over the daily bars (operators/indicators.macd_sql):
    one shuffle into a per-key ordered close array, then the fast, slow
    and signal adjust=False EMAs as JVM `aggregate` folds — no Python
    worker. `_daily_close` already caches the bars, so a warmed call
    runs only the fold. The SQL oracle unrolls the same recurrences in
    closed form."""
    from .operators.indicators import macd_sql

    daily = _daily_close(spark, sf_dir).select("user_id", "d", "close")
    out = macd_sql(daily, "close", "user_id", "d", 12, 26, 9)
    return out.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
        pround("macd", 4).alias("macd"),
        pround("macd_signal", 4).alias("macd_signal"),
        pround("macd_hist", 4).alias("macd_hist"),
    )


@register(
    "stochastic_oscillator",
    f"""
    WITH {DAILY_SQL},
    base AS (
      SELECT user_id, d, close,
             min(low)  OVER f AS lo14,
             max(high) OVER f AS hi14,
             count(*)  OVER f AS cnt
      FROM daily
      WINDOW f AS ({_WIN} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ),
    k AS (
      SELECT user_id, d,
             CASE WHEN cnt >= 14
                  THEN 100.0 * (close - lo14) / nullif(hi14 - lo14, 0)
             END AS pct_k
      FROM base
    )
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           round(pct_k, 4) AS pct_k,
           round(CASE WHEN count(pct_k) OVER g = 3
                      THEN avg(pct_k) OVER g END, 4) AS pct_d
    FROM k
    WINDOW g AS ({_WIN} ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "W4", "indicator"),
)
def stochastic_oscillator(spark, sf_dir):
    """Stochastic oscillator %K(14)/%D(3) over the daily bars — rolling
    min/max frames with the pandas min_periods guard (count-over-frame),
    %D as a 3-row SMA of %K guarded on three non-null %K values; flat
    14-day ranges NULL out via the NULLIF division guard. Pure JVM window
    frames, one shuffle on user_id shared by every frame."""
    from .operators.windows import per_key_window

    daily = _daily_close(spark, sf_dir)
    w = per_key_window("user_id", "d")
    f = w.rowsBetween(-13, 0)
    lo14, hi14 = F.min("low").over(f), F.max("high").over(f)
    cnt = F.count(F.lit(1)).over(f)
    pct_k = F.when(
        cnt >= 14,
        100.0 * (F.col("close") - lo14) / F.nullif(hi14 - lo14, F.lit(0.0)),
    )
    k = daily.select("user_id", "d", pct_k.alias("pct_k"))
    g = per_key_window("user_id", "d").rowsBetween(-2, 0)
    return k.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
        pround("pct_k", 4).alias("pct_k"),
        pround(
            F.when(F.count("pct_k").over(g) == 3, F.avg("pct_k").over(g)), 4
        ).alias("pct_d"),
    )


@register(
    "on_balance_volume",
    f"""
    WITH {DAILY_SQL},
    signed AS (
      SELECT user_id, d,
             CASE WHEN lag(close) OVER ({_WIN}) IS NULL THEN 0
                  WHEN close > lag(close) OVER ({_WIN}) THEN n_events
                  WHEN close < lag(close) OVER ({_WIN}) THEN -n_events
                  ELSE 0 END AS delta_v
      FROM daily
    )
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           CAST(sum(delta_v) OVER ({_WIN} ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
    FROM signed
    """,
    tags=("window", "W2", "indicator"),
)
def on_balance_volume(spark, sf_dir):
    """On-balance volume — signed daily volume (event count as volume)
    accumulated per key: lag comparison picks the sign, a running sum
    folds it. Both windows share one (user_id, d) sort; first day
    contributes 0 (no prior close)."""
    daily = _daily_close(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("d")
    prev = F.lag("close").over(w)
    delta_v = (
        F.when(prev.isNull(), F.lit(0))
        .when(F.col("close") > prev, F.col("n_events"))
        .when(F.col("close") < prev, -F.col("n_events"))
        .otherwise(F.lit(0))
    )
    signed = daily.select("user_id", "d", delta_v.alias("delta_v"))
    return signed.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
        F.sum("delta_v")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long")
        .alias("obv"),
    )


@register(
    "rolling_zscore_anomalies",
    f"""
    WITH {DAILY_SQL},
    scored AS (
      SELECT user_id, d, close,
             avg(close)         OVER f AS mu,
             stddev_samp(close) OVER f AS sigma,
             count(*)           OVER f AS cnt
      FROM daily
      WINDOW f AS ({_WIN} ROWS BETWEEN 29 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           round(close, 2) AS close,
           round((close - mu) / nullif(sigma, 0), 4) AS zscore
    FROM scored
    WHERE cnt >= 10 AND abs((close - mu) / nullif(sigma, 0)) > 2.0
    """,
    tags=("window", "W4", "anomaly"),
)
def rolling_zscore_anomalies(spark, sf_dir):
    """Rolling z-score anomaly detection: each close scored against the
    trailing 30-day mean/stddev (window excludes the current row so a
    spike can't dampen its own baseline); emit |z| > 2 with a 10-sample
    warm-up guard. The filter is an anomaly sieve — output is tiny
    relative to input, the shape monitoring pipelines want."""
    daily = _daily_close(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("d").rowsBetween(-29, -1)
    mu = F.avg("close").over(w)
    sigma = F.stddev_samp("close").over(w)
    cnt = F.count(F.lit(1)).over(w)
    z = (F.col("close") - mu) / F.nullif(sigma, F.lit(0.0))
    return (
        daily.select(
            "user_id", "d", "close",
            z.alias("z"), cnt.alias("cnt"),
        )
        .filter((F.col("cnt") >= 10) & (F.abs("z") > 2.0))
        .select(
            "user_id",
            F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
            pround("close", 2).alias("close"),
            pround("z", 4).alias("zscore"),
        )
    )


@register(
    "max_drawdown_per_user",
    f"""
    WITH {DAILY_SQL},
    dd AS (
      SELECT user_id, close,
             max(close) OVER ({_WIN} ROWS UNBOUNDED PRECEDING) AS peak
      FROM daily
    )
    SELECT user_id,
           round(max((peak - close) / nullif(peak, 0)), 6) AS max_drawdown,
           round(max(peak), 2) AS peak_value
    FROM dd GROUP BY user_id
    """,
    tags=("window", "W4", "indicator"),
)
def max_drawdown_per_user(spark, sf_dir):
    """Maximum drawdown — largest peak-to-trough decline of each user's
    close series: running-peak window + a per-key max aggregate. The
    aggregate reuses the window's hash partitioning on user_id, so the
    whole metric costs one exchange."""
    daily = _daily_close(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    peak = F.max("close").over(w)
    dd = daily.select(
        "user_id", "close", peak.alias("peak"),
    )
    return dd.groupBy("user_id").agg(
        pround(
            F.max((F.col("peak") - F.col("close")) / F.nullif(F.col("peak"), F.lit(0.0))),
            6,
        ).alias("max_drawdown"),
        pround(F.max("peak"), 2).alias("peak_value"),
    )


@register(
    "calendar_week_range_avg",
    f"""
    WITH {DAILY_SQL}
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           round(avg(close) OVER w, 4) AS avg_7d,
           CAST(count(*) OVER w AS BIGINT) AS n_in_window
    FROM daily
    WINDOW w AS ({_WIN} RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "W4", "range-frame"),
)
def calendar_week_range_avg(spark, sf_dir):
    """Calendar-time RANGE frame — trailing 7-day average by *date
    distance*, not row count: a sparse series (missing trading days)
    averages only what falls inside the week, where a rows-frame would
    silently reach back further. Spark expresses interval ranges by
    ordering on the day number (unix_date) with a numeric rangeBetween —
    semantically identical to DuckDB's RANGE INTERVAL frame."""
    daily = _daily_close(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_date(F.col("d")))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
        pround(F.avg("close").over(w), 4).alias("avg_7d"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )


@register(
    "window_value_positions",
    f"""
    WITH {DAILY_SQL}
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           round(first_value(close) OVER w, 2) AS first_close,
           round(nth_value(close, 2) OVER w, 2) AS second_close,
           round(last_value(close) OVER w, 2) AS running_close
    FROM daily
    WINDOW w AS ({_WIN} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "W3", "value-positions"),
)
def window_value_positions(spark, sf_dir):
    """first/nth/last_value positional window functions over the growing
    frame: series anchor (first close), second observation (NULL until
    the frame holds two rows — nth_value's frame-relative semantics),
    and the running close. Completes the ranking/positional family
    alongside lag/lead/ntile/percent_rank."""
    daily = _daily_close(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return daily.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
        pround(F.first("close").over(w), 2).alias("first_close"),
        pround(F.nth_value("close", 2).over(w), 2).alias("second_close"),
        pround(F.last("close").over(w), 2).alias("running_close"),
    )


@register(
    "user_market_beta",
    f"""
    WITH {DAILY_SQL},
    ret AS (
      SELECT user_id, d,
             (close - lag(close) OVER ({_WIN}))
               / nullif(lag(close) OVER ({_WIN}), 0) AS r
      FROM daily
    ),
    mkt AS (
      SELECT d, avg(r) AS mr FROM ret WHERE r IS NOT NULL GROUP BY d
    ),
    j AS (
      SELECT ret.user_id, ret.r, mkt.mr
      FROM ret JOIN mkt USING (d) WHERE ret.r IS NOT NULL
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_days,
           round(covar_pop(r, mr) / nullif(var_pop(mr), 0), 4) AS beta,
           round(corr(r, mr), 4) AS market_corr
    FROM j GROUP BY user_id
    """,
    tags=("window", "agg", "stats", "A1"),
)
def user_market_beta(spark, sf_dir):
    """CAPM beta per user — covariance of each user's daily return with
    the equal-weight market return over market variance, plus the
    correlation: the statistical aggregate family (covar_pop / var_pop /
    corr) the suite hadn't exercised. Lag returns share one exchange;
    the market series is a tiny per-day aggregate that broadcasts back
    onto the returns."""
    daily = _daily_close(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("d")
    prev = F.lag("close").over(w)
    ret = daily.select(
        "user_id", "d",
        ((F.col("close") - prev) / F.nullif(prev, F.lit(0.0))).alias("r"),
    ).filter(F.col("r").isNotNull())
    mkt = ret.groupBy("d").agg(F.avg("r").alias("mr"))
    j = ret.join(F.broadcast(mkt), "d")
    return j.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_days"),
        pround(
            F.covar_pop("r", "mr") / F.nullif(F.var_pop("mr"), F.lit(0.0)), 4
        ).alias("beta"),
        pround(F.corr("r", "mr"), 4).alias("market_corr"),
    )


@register(
    "asof_click_tolerance_30m",
    """
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           round(p.value, 2) AS purchase_value,
           round((SELECT c.value FROM events c
                  WHERE c.user_id = p.user_id AND c.event_type = 'click'
                    AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
                  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1), 2) AS asof_value
    FROM events p WHERE p.event_type = 'purchase'
    """,
    tags=("window", "J5", "asof", "tolerance"),
)
def asof_click_tolerance_30m(spark, sf_dir):
    """Tolerance-bounded as-of join (operators/windows.as_of_join,
    ``tolerance_sec``): each purchase gets the latest same-user click
    value, but only if it is at most 30 minutes stale — the pandas
    ``merge_asof(tolerance=...)`` / kdb ``wj`` form. Same one-shuffle
    union-tag plan as the unbounded as-of; staleness is a post-window
    null-out (valid because the nearest match is unique)."""
    from .operators.windows import as_of_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    joined = as_of_join(
        purchases, clicks,
        left_on="user_id", right_on="user_id",
        left_time="ts", right_time="ts",
        value_cols=["value"], right_tiebreak="event_id",
        tolerance_sec=1800.0,
    )
    return joined.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        pround("value", 2).alias("purchase_value"),
        pround("asof_value", 2).alias("asof_value"),
    )


@register(
    "click_next_purchase_forward_asof",
    """
    SELECT c.event_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           round((SELECT p.value FROM events p
                  WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
                    AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
                  ORDER BY p.ts ASC, p.event_id ASC LIMIT 1), 2)
             AS next_purchase_value
    FROM events c WHERE c.event_type = 'click'
    """,
    tags=("window", "J5", "asof", "forward"),
)
def click_next_purchase_forward_asof(spark, sf_dir):
    """Forward as-of join (``direction="forward"`` + 2h tolerance): each
    click gets the EARLIEST same-user purchase at-or-after it — the
    attribution lookup as a nearest-single-match join (the stream-stream
    interval join returns ALL matches; this returns one, deterministic
    by (ts, event_id)). Identical union-tag plan on the reversed time
    order: one shuffle, linear, no correlated subquery."""
    from .operators.windows import as_of_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    joined = as_of_join(
        clicks, purchases,
        left_on="user_id", right_on="user_id",
        left_time="ts", right_time="ts",
        value_cols=["value"], right_tiebreak="event_id",
        direction="forward", tolerance_sec=7200.0,
    )
    return joined.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        pround("asof_value", 2).alias("next_purchase_value"),
    )


@register(
    "gap_filled_daily_close",
    f"""
    WITH {DAILY_SQL},
    bounds AS (
      SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY user_id
    ),
    spine AS (
      SELECT user_id,
             CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    ),
    j AS (
      SELECT s.user_id, s.day, dl.close
      FROM spine s LEFT JOIN daily dl
        ON s.user_id = dl.user_id AND s.day = dl.d
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           round(last_value(close IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY day
                         ROWS UNBOUNDED PRECEDING), 2) AS close_filled,
           close IS NULL AS is_gap
    FROM j
    """,
    tags=("window", "temporal", "gap-fill"),
)
def gap_filled_daily_close(spark, sf_dir):
    """Calendar densification + forward fill — the time-series repair
    step between raw bars and any window math (rolling frames silently
    mis-span gapped series): per user, a full date spine from first to
    last active day (sequence + explode), left-joined to the actual
    bars, nulls forward-filled by the unbounded last(ignorenulls)
    window; is_gap marks synthesized rows. Spine generation is map-side
    (one row per user explodes to its own calendar); at test scale the
    bar side broadcasts onto the spine, at corpus scale AQE picks the
    co-partitioned (user_id, day) merge join and the fill window adds
    its user_id exchange — per-user-day data either way, never raw
    events."""
    daily = _daily_close(spark, sf_dir).select("user_id", "d", "close")
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
        .select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    j = spine.join(
        daily.withColumnRenamed("d", "day"), ["user_id", "day"], "left"
    )
    w = W.partitionBy("user_id").orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        pround(F.last("close", ignorenulls=True).over(w), 2).alias("close_filled"),
        F.col("close").isNull().alias("is_gap"),
    )


@register(
    "rolling_median_value",
    """
    SELECT user_id, event_id,
           round(value, 2) AS value,
           round(median(value) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
                 4) AS med7
    FROM events
    """,
    tags=("window", "median", "robust"),
)
def rolling_median_value(spark, sf_dir):
    """Rolling 7-row median per user — the robust-smoothing window
    (outlier-resistant where the rolling mean is not) that Spark has no
    native window function for. Exact construction: sort_array over a
    frame-bounded collect_list, middle element (odd count) or mean of
    the middle two (even count — SQL median interpolation, which covers
    the first six warm-up rows of each series). The frame holds at most
    7 values, so per-row state is O(7) — the same single
    (user_id)-exchange sort any lag/lead window pays, nothing global.
    Deterministic via the (ts, event_id) tiebreak."""
    ev = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, W.currentRow)
    )
    arr = F.sort_array(F.collect_list("value").over(w))
    n = F.size(arr)
    # n == 0 (every value in the frame NULL — collect_list skips them,
    # as DuckDB's median does) must yield NULL, not element_at(arr, 0),
    # which is an INVALID_INDEX_OF_ZERO runtime error (r10 adversarial
    # relational battery: an all-NULL-value user crashed the query)
    med = F.when(
        n == 0, F.lit(None).cast("double")
    ).when(
        n % 2 == 1, F.element_at(arr, ((n + 1) / 2).cast("int"))
    ).otherwise(
        (F.element_at(arr, (n / 2).cast("int"))
         + F.element_at(arr, (n / 2).cast("int") + 1)) / 2.0
    )
    return ev.select(
        "user_id", "event_id",
        pround("value", 2).alias("value"),
        pround(med, 4).alias("med7"),
    )


@register(
    "atr_indicator",
    f"""
    WITH {DAILY_SQL},
    tr AS (
      SELECT user_id, d,
             CASE WHEN lag(close) OVER ({_WIN}) IS NULL THEN high - low
                  ELSE greatest(high - low,
                                abs(high - lag(close) OVER ({_WIN})),
                                abs(low  - lag(close) OVER ({_WIN})))
             END AS true_range
      FROM daily
    )
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           round(true_range, 4) AS true_range,
           round(CASE WHEN count(*) OVER f >= 14
                      THEN avg(true_range) OVER f END, 4) AS atr14
    FROM tr
    WINDOW f AS ({_WIN} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "W4", "indicator"),
)
def atr_indicator(spark, sf_dir):
    """ATR(14), SMA variant — true range folds the overnight gap
    (|high-prev_close|, |low-prev_close|) into the daily range, a 14-row
    mean smooths it (the SMA form; Wilder's recursive smoothing is the
    EMA lane, already covered by ema_indicator's grouped pass). The lag
    and both frame aggregates share the single (user_id, d) sort — one
    exchange, all-JVM. Same W4 rolling-frame family as the reference's
    50/200-day MAs (dashboard/pages/2_Technical_Analysis.py rolling
    windows)."""
    daily = _daily_close(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("d")
    prev = F.lag("close").over(w)
    tr = F.when(prev.isNull(), F.col("high") - F.col("low")).otherwise(
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - prev),
            F.abs(F.col("low") - prev),
        )
    )
    base = daily.select("user_id", "d", tr.alias("true_range"))
    f = W.partitionBy("user_id").orderBy("d").rowsBetween(-13, 0)
    atr = F.when(
        F.count(F.lit(1)).over(f) >= 14, F.avg("true_range").over(f)
    )
    return base.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
        pround("true_range", 4).alias("true_range"),
        pround(atr, 4).alias("atr14"),
    )


@register(
    "williams_r_indicator",
    f"""
    WITH {DAILY_SQL}
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           round(CASE WHEN count(*) OVER f >= 14
                      THEN -100.0 * (max(high) OVER f - close)
                           / nullif(max(high) OVER f - min(low) OVER f, 0)
                 END, 4) AS williams_r
    FROM daily
    WINDOW f AS ({_WIN} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "W4", "indicator"),
)
def williams_r_indicator(spark, sf_dir):
    """Williams %R(14) — the stochastic oscillator's inverse reading
    (-100..0): where the close sits inside the trailing 14-day hi-lo
    range. Same one-exchange frame family as stochastic_oscillator;
    flat ranges NULL via the NULLIF guard, warm-up rows NULL via the
    count-over-frame min_periods guard."""
    daily = _daily_close(spark, sf_dir)
    f = W.partitionBy("user_id").orderBy("d").rowsBetween(-13, 0)
    hi14, lo14 = F.max("high").over(f), F.min("low").over(f)
    wr = F.when(
        F.count(F.lit(1)).over(f) >= 14,
        -100.0 * (hi14 - F.col("close"))
        / F.nullif(hi14 - lo14, F.lit(0.0)),
    )
    return daily.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
        pround(wr, 4).alias("williams_r"),
    )


@register(
    "cci_indicator",
    f"""
    WITH {DAILY_SQL},
    tp AS (
      SELECT user_id, d, (high + low + close) / 3.0 AS typ FROM daily
    ),
    framed AS (
      SELECT user_id, d, typ,
             avg(typ)  OVER f AS sma_tp,
             list(typ) OVER f AS tps,
             count(*)  OVER f AS cnt
      FROM tp
      WINDOW f AS ({_WIN} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           round(CASE WHEN cnt >= 20 THEN
             (typ - sma_tp) / nullif(
               0.015 * list_sum(list_transform(tps, x -> abs(x - sma_tp))) / cnt,
               0)
           END, 4) AS cci20
    FROM framed
    """,
    tags=("window", "W4", "indicator"),
)
def cci_indicator(spark, sf_dir):
    """CCI(20) — mean ABSOLUTE deviation around the frame's own mean is
    not a composable window aggregate (the deviation target is the
    current row's SMA, fixed across the frame), so the frame is
    materialized as a 20-element collect_list and reduced with a JVM
    higher-order aggregate — O(20) state per row riding the same single
    (user_id, d) sort as every other frame here, no second pass and no
    Python. Degenerate flat frames (zero deviation) NULL via NULLIF."""
    daily = _daily_close(spark, sf_dir)
    typ = ((F.col("high") + F.col("low") + F.col("close")) / 3.0).alias("typ")
    base = daily.select("user_id", "d", typ)
    f = W.partitionBy("user_id").orderBy("d").rowsBetween(-19, 0)
    sma_tp = F.avg("typ").over(f)
    tps = F.collect_list("typ").over(f)
    cnt = F.count(F.lit(1)).over(f)
    framed = base.select(
        "user_id", "d", "typ",
        sma_tp.alias("sma_tp"), tps.alias("tps"), cnt.alias("cnt"),
    )
    mad = (
        F.aggregate(
            "tps",
            F.lit(0.0),
            lambda acc, x: acc + F.abs(x - F.col("sma_tp")),
        )
        / F.col("cnt")
    )
    cci = F.when(
        F.col("cnt") >= 20,
        (F.col("typ") - F.col("sma_tp"))
        / F.nullif(0.015 * mad, F.lit(0.0)),
    )
    return framed.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
        pround(cci, 4).alias("cci20"),
    )


@register(
    "donchian_channels",
    f"""
    WITH {DAILY_SQL}
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           round(max(high) OVER f, 4) AS upper_20,
           round(min(low)  OVER f, 4) AS lower_20,
           round((max(high) OVER f + min(low) OVER f) / 2.0, 4) AS mid_20,
           CASE WHEN close >= max(high) OVER g THEN 1
                WHEN close <= min(low)  OVER g THEN -1
                ELSE 0 END AS breakout
    FROM daily
    WINDOW f AS ({_WIN} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
           g AS ({_WIN} ROWS BETWEEN 19 PRECEDING AND 1 PRECEDING)
    """,
    tags=("window", "W4", "indicator"),
)
def donchian_channels(spark, sf_dir):
    """Donchian(20) channel + breakout flag — upper/lower/mid from the
    trailing 20-day frame; the breakout signal compares today's close to
    the PRIOR 19-day extremes (frame ending at 1 PRECEDING), the
    turtle-trading entry rule, so a new high reads +1 on its own day.
    Both frames ride one (user_id, d) sort; empty prior frames (first
    day) yield NULL extremes -> breakout 0 via null-safe CASE order."""
    daily = _daily_close(spark, sf_dir)
    f = W.partitionBy("user_id").orderBy("d").rowsBetween(-19, 0)
    g = W.partitionBy("user_id").orderBy("d").rowsBetween(-19, -1)
    hi, lo = F.max("high").over(f), F.min("low").over(f)
    phi, plo = F.max("high").over(g), F.min("low").over(g)
    breakout = (
        F.when(F.col("close") >= phi, F.lit(1))
        .when(F.col("close") <= plo, F.lit(-1))
        .otherwise(F.lit(0))
    )
    return daily.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
        pround(hi, 4).alias("upper_20"),
        pround(lo, 4).alias("lower_20"),
        pround((hi + lo) / 2.0, 4).alias("mid_20"),
        breakout.cast("int").alias("breakout"),
    )


@register(
    "vwap_daily",
    """
    WITH sized AS (
      SELECT user_id, CAST(ts AS DATE) AS d, value,
             CAST(CASE WHEN json_valid(props)
                       THEN json_extract_string(props, '$.k') END
                  AS BIGINT) AS sz
      FROM events
    )
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           round(sum(value * sz) / nullif(sum(sz), 0), 4) AS vwap,
           round(avg(value), 4) AS twap,
           CAST(sum(sz) AS BIGINT) AS volume
    FROM sized GROUP BY user_id, d
    """,
    tags=("window", "indicator", "json"),
)
def vwap_daily(spark, sf_dir):
    """Daily VWAP/TWAP — volume pulled from the JSON props payload
    (get_json_object, JVM JsonPath on the scan projection), price-volume
    product aggregated per (user, day). Pure map-side arithmetic into
    the one grouped exchange; TWAP (unweighted mean of the same rows)
    rides the same aggregate. Zero-volume days NULL via NULLIF, not a
    divide-crash."""
    ev = _t(spark, sf_dir, "events")
    sz = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.select(
            "user_id", F.to_date("ts").alias("d"), "value", sz.alias("sz")
        )
        .groupBy("user_id", "d")
        .agg(
            pround(
                F.sum(F.col("value") * F.col("sz"))
                / F.nullif(F.sum("sz"), F.lit(0)),
                4,
            ).alias("vwap"),
            pround(F.avg("value"), 4).alias("twap"),
            F.sum("sz").alias("volume"),
        )
        .select(
            "user_id",
            F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
            "vwap", "twap", "volume",
        )
    )


@register(
    "sharpe_ratio_per_user",
    f"""
    WITH {DAILY_SQL},
    rets AS (
      SELECT user_id,
             close / nullif(lag(close) OVER ({_WIN}), 0) - 1.0 AS r
      FROM daily
    )
    SELECT user_id,
           CAST(count(r) AS BIGINT) AS n_days,
           round(avg(r), 6) AS mean_ret,
           round(stddev_samp(r), 6) AS vol,
           round(sqrt(252.0) * avg(r) / nullif(stddev_samp(r), 0), 4)
             AS sharpe_annualized
    FROM rets GROUP BY user_id
    """,
    tags=("window", "agg", "indicator"),
)
def sharpe_ratio_per_user(spark, sf_dir):
    """Annualized Sharpe ratio per key (zero risk-free rate) — daily
    simple returns from the lag window, then mean/sample-stddev folded
    in the same grouped aggregate. The window's (user_id) exchange IS
    the groupBy's clustering, so the whole query is one shuffle; the
    first day's NULL return drops out of count/avg/stddev natively.
    Constant series (zero vol) NULL via NULLIF instead of +-Inf."""
    daily = _daily_close(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("d")
    r = F.col("close") / F.nullif(F.lag("close").over(w), F.lit(0.0)) - 1.0
    rets = daily.select("user_id", r.alias("r"))
    return rets.groupBy("user_id").agg(
        F.count("r").alias("n_days"),
        pround(F.avg("r"), 6).alias("mean_ret"),
        pround(F.stddev_samp("r"), 6).alias("vol"),
        pround(
            F.sqrt(F.lit(252.0)) * F.avg("r")
            / F.nullif(F.stddev_samp("r"), F.lit(0.0)),
            4,
        ).alias("sharpe_annualized"),
    )


@register(
    "dow_return_seasonality",
    f"""
    WITH {DAILY_SQL},
    rets AS (
      SELECT user_id, d,
             close / nullif(lag(close) OVER ({_WIN}), 0) - 1.0 AS r
      FROM daily
    )
    SELECT CAST(isodow(d) AS INT) AS iso_dow,
           CAST(count(r) AS BIGINT) AS n_obs,
           round(avg(r), 6) AS mean_ret,
           round(stddev_samp(r), 6) AS ret_vol,
           round(100.0 * sum(CASE WHEN r > 0 THEN 1 ELSE 0 END)
                 / nullif(count(r), 0), 2) AS pct_up
    FROM rets GROUP BY 1
    """,
    tags=("window", "agg", "indicator", "F5"),
)
def dow_return_seasonality(spark, sf_dir):
    """Day-of-week return seasonality — the calendar-effect profile
    (mean/vol/up-rate of daily returns by ISO weekday) every returns
    dashboard carries. Spark's weekday() (Mon=0) + 1 aligns with
    DuckDB's isodow (Mon=1); returns reuse the per-key lag exchange,
    then collapse onto a 7-row aggregate — partial map-side combine
    makes the second shuffle carry 7 rows per partition."""
    daily = _daily_close(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("d")
    r = F.col("close") / F.nullif(F.lag("close").over(w), F.lit(0.0)) - 1.0
    rets = daily.select("user_id", "d", r.alias("r"))
    return rets.groupBy(
        (F.weekday("d") + 1).cast("int").alias("iso_dow")
    ).agg(
        F.count("r").alias("n_obs"),
        pround(F.avg("r"), 6).alias("mean_ret"),
        pround(F.stddev_samp("r"), 6).alias("ret_vol"),
        pround(
            100.0
            * F.sum(F.when(F.col("r") > 0, 1).otherwise(0))
            / F.nullif(F.count("r"), F.lit(0)),
            2,
        ).alias("pct_up"),
    )


@register(
    "drawdown_durations",
    f"""
    WITH {DAILY_SQL},
    flagged AS (
      SELECT user_id, d,
             CASE WHEN close < max(close) OVER ({_WIN} ROWS UNBOUNDED PRECEDING)
                  THEN 1 ELSE 0 END AS in_dd
      FROM daily
    ),
    grouped AS (
      SELECT user_id, d, in_dd,
             row_number() OVER ({_WIN})
               - row_number() OVER (PARTITION BY user_id, in_dd ORDER BY d)
               AS grp
      FROM flagged
    ),
    runs AS (
      SELECT user_id, grp, CAST(count(*) AS BIGINT) AS run_days
      FROM grouped WHERE in_dd = 1 GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_drawdowns,
           CAST(max(run_days) AS BIGINT) AS longest_dd_days,
           round(avg(run_days), 2) AS avg_dd_days
    FROM runs GROUP BY user_id
    """,
    tags=("window", "gaps-islands", "indicator"),
)
def drawdown_durations(spark, sf_dir):
    """Drawdown episode durations — gaps-and-islands over the
    below-running-peak flag: the difference of two row_numbers (global
    per key vs per (key, flag)) is constant exactly across each
    consecutive run, so a run collapses to one group without any
    iterative logic. Complements max_drawdown_per_user (depth) with the
    duration dimension. All three windows and the aggregate share the
    one (user_id) exchange."""
    daily = _daily_close(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("d")
    peak = F.max("close").over(w.rowsBetween(W.unboundedPreceding, 0))
    flagged = daily.select(
        "user_id", "d",
        F.when(F.col("close") < peak, 1).otherwise(0).alias("in_dd"),
    )
    wf = W.partitionBy("user_id", "in_dd").orderBy("d")
    grouped = flagged.select(
        "user_id", "d", "in_dd",
        (F.row_number().over(w) - F.row_number().over(wf)).alias("grp"),
    )
    runs = (
        grouped.filter(F.col("in_dd") == 1)
        .groupBy("user_id", "grp")
        .agg(F.count(F.lit(1)).alias("run_days"))
    )
    return runs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_drawdowns"),
        F.max("run_days").alias("longest_dd_days"),
        pround(F.avg("run_days"), 2).alias("avg_dd_days"),
    )


@register(
    "bullish_engulfing_days",
    # local OHLC CTE (daily bars + an OPEN column via min_by) — inlined
    # so the shared DAILY_SQL fragment and this module's top level stay
    # byte-stable (function-granular staleness keys on them)
    f"""
    WITH ohlc AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             min_by(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                           || lpad(CAST(event_id AS VARCHAR), 20, '0'))
               AS open,
             max_by(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                           || lpad(CAST(event_id AS VARCHAR), 20, '0'))
               AS close,
             max(value) AS high, min(value) AS low
      FROM events GROUP BY 1, 2
    ),
    paired AS (
      SELECT user_id, d, open, close,
             lag(open)  OVER ({_WIN}) AS p_open,
             lag(close) OVER ({_WIN}) AS p_close
      FROM ohlc
    )
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           round(p_open, 4) AS prev_open, round(p_close, 4) AS prev_close,
           round(open, 4) AS open, round(close, 4) AS close
    FROM paired
    WHERE p_close < p_open          -- prior candle red
      AND close > open              -- current candle green
      AND open <= p_close           -- body engulfs prior body
      AND close >= p_open
    """,
    tags=("window", "W2", "pattern"),
)
def bullish_engulfing_days(spark, sf_dir):
    """Bullish-engulfing candlestick scan — a green body that fully
    wraps the prior red body, the classic two-candle reversal pattern
    (same pattern-detection family as the reference's MA-crossover
    signals, dashboard/pages/2_Technical_Analysis.py). Open = first
    trade of the day (min_by ts) in a LOCAL OHLC aggregate; one lag
    window on the bar exchange, then a pure filter — detection is a
    predicate, not a join."""
    from .query_registry import day_scoped_order_key

    ev = _t(spark, sf_dir, "events")
    # unique (ts, event_id) order key + nulled key for NULL values: the
    # open/close are the first/last NON-NULL value on both engines (r10
    # adversarial relational battery — plain ts left duplicate
    # timestamps engine-ordered and NULL edge values engine-dependent).
    # Day-aligned groupBy ⇒ the day-scoped packed-long key is exact
    # (query_registry.day_scoped_order_key — one int64 compare).
    key = F.when(F.col("value").isNotNull(), day_scoped_order_key())
    ohlc = ev.groupBy(F.col("user_id"), F.to_date("ts").alias("d")).agg(
        F.min_by("value", key).alias("open"),
        F.max_by("value", key).alias("close"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
    )
    w = W.partitionBy("user_id").orderBy("d")
    paired = ohlc.select(
        "user_id", "d", "open", "close",
        F.lag("open").over(w).alias("p_open"),
        F.lag("close").over(w).alias("p_close"),
    )
    return paired.filter(
        (F.col("p_close") < F.col("p_open"))
        & (F.col("close") > F.col("open"))
        & (F.col("open") <= F.col("p_close"))
        & (F.col("close") >= F.col("p_open"))
    ).select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
        pround("p_open", 4).alias("prev_open"),
        pround("p_close", 4).alias("prev_close"),
        pround("open", 4).alias("open"),
        pround("close", 4).alias("close"),
    )


@register(
    "top_correlated_user_pairs",
    f"""
    WITH {DAILY_SQL},
    active AS (
      SELECT user_id FROM daily GROUP BY user_id
      ORDER BY count(*) DESC, user_id LIMIT 20
    ),
    rets AS (
      SELECT d.user_id, d.d,
             close / nullif(lag(close) OVER ({_WIN}), 0) - 1.0 AS r
      FROM daily d JOIN active USING (user_id)
    ),
    pairs AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             corr(a.r, b.r) AS c, count(*) AS n_days
      FROM rets a JOIN rets b
        ON a.d = b.d AND a.user_id < b.user_id
      WHERE a.r IS NOT NULL AND b.r IS NOT NULL
      GROUP BY 1, 2
      HAVING count(*) >= 20
    )
    SELECT user_a, user_b, CAST(n_days AS BIGINT) AS n_days,
           round(c, 4) AS ret_corr
    FROM pairs
    ORDER BY round(c, 4) DESC, user_a, user_b LIMIT 10
    """,
    tags=("window", "join", "agg", "indicator"),
)
def top_correlated_user_pairs(spark, sf_dir):
    """Most-correlated key pairs by daily returns — the portfolio
    co-movement screen. All-pairs correlation is quadratic in keys, so
    the universe is BOUNDED first (top-20 most-active keys,
    deterministic tie-break) and the bounded return series self-joins
    on date: 190 pairs regardless of corpus size — the screen a real
    desk runs (fixed watchlist), not an unbounded cross product. The
    tiny active set broadcasts to both join probes; corr() folds in the
    pair aggregate, top-10 via TakeOrderedAndProject on the rounded
    value (tie-broken by pair) so both engines rank identically."""
    daily = _daily_close(spark, sf_dir)
    active = (
        daily.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("nd"))
        .orderBy(F.col("nd").desc(), "user_id")
        .limit(20)
        .select("user_id")
    )
    w = W.partitionBy("user_id").orderBy("d")
    rets = (
        daily.join(F.broadcast(active), "user_id")
        .select(
            "user_id", "d",
            (
                F.col("close")
                / F.nullif(F.lag("close").over(w), F.lit(0.0))
                - 1.0
            ).alias("r"),
        )
        .filter(F.col("r").isNotNull())
    )
    a = rets.select(
        F.col("user_id").alias("user_a"), "d", F.col("r").alias("ra")
    )
    b = rets.select(
        F.col("user_id").alias("user_b"), "d", F.col("r").alias("rb")
    )
    pairs = (
        a.join(b, (a.d == b.d) & (a.user_a < b.user_b))
        .groupBy("user_a", "user_b")
        .agg(
            F.corr("ra", "rb").alias("c"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .filter(F.col("n_days") >= 20)
    )
    ranked = pairs.select(
        "user_a", "user_b", "n_days", pround("c", 4).alias("ret_corr")
    )
    return ranked.orderBy(
        F.col("ret_corr").desc(), "user_a", "user_b"
    ).limit(10)


@register(
    "holt_trend_smoothing",
    f"""
    WITH RECURSIVE {DAILY_SQL},
    seq AS (
      SELECT user_id, d, close,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                  AS INT) AS rn
      FROM daily
    ),
    holt AS (
      SELECT user_id, rn, d, close,
             CAST(close AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn, s.d, s.close,
             round(0.3 * s.close + 0.7 * (h.l + h.b), 8) AS l,
             round(0.1 * (round(0.3 * s.close + 0.7 * (h.l + h.b), 8) - h.l)
                   + 0.9 * h.b, 8) AS b
      FROM holt h
      JOIN seq s ON s.user_id = h.user_id AND s.rn = h.rn + 1
    )
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           round(close, 4) AS close,
           round(l, 6) AS level,
           round(b, 6) AS trend,
           round(l + b, 6) AS forecast
    FROM holt
    """,
    tags=("window", "W7", "indicator", "iterative", "recursive"),
)
def holt_trend_smoothing(spark, sf_dir):
    """Holt double-exponential smoothing (α=0.3, β=0.1) over the daily
    bars — level + trend recurrences with a one-step-ahead forecast
    (operators/indicators.holt_linear). The recursion runs in the
    grouped-sorted Arrow lane (one shuffle + one sort, the EMA/MACD
    lane), with every step's level/trend rounded to 8dp by the portable
    floor-rounding — and the ORACLE IS A RECURSIVE CTE replaying the
    exact same trajectory step-for-step (the working table advances all
    users in lockstep on rn). The first registry entry whose oracle
    exercises SQL recursion: a value-checked sequential algorithm, not
    just a window approximation."""
    from .operators.indicators import holt_linear

    daily = _daily_close(spark, sf_dir)
    out = holt_linear(daily, "close", ["user_id"], ["d"])
    return out.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
        pround("close", 4).alias("close"),
        pround("close_level", 6).alias("level"),
        pround("close_trend", 6).alias("trend"),
        pround("close_forecast", 6).alias("forecast"),
    )


@register(
    "holt_forecast_accuracy",
    f"""
    WITH RECURSIVE {DAILY_SQL},
    seq AS (
      SELECT user_id, d, close,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                  AS INT) AS rn
      FROM daily
    ),
    holt AS (
      SELECT user_id, rn, d, close,
             CAST(close AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn, s.d, s.close,
             round(0.3 * s.close + 0.7 * (h.l + h.b), 8) AS l,
             round(0.1 * (round(0.3 * s.close + 0.7 * (h.l + h.b), 8) - h.l)
                   + 0.9 * h.b, 8) AS b
      FROM holt h
      JOIN seq s ON s.user_id = h.user_id AND s.rn = h.rn + 1
    ),
    evald AS (
      SELECT user_id, rn, close,
             lag(l + b) OVER w AS fc,
             lag(close) OVER w AS naive_fc
      FROM holt
      WINDOW w AS (PARTITION BY user_id ORDER BY rn)
    )
    SELECT user_id,
           CAST(count(fc) AS BIGINT) AS n_forecasts,
           round(avg(abs(close - fc)), 4) AS mae,
           round(avg(2.0 * abs(close - fc)
                     / nullif(abs(close) + abs(fc), 0)), 6) AS smape,
           round(avg(abs(close - fc))
                 / nullif(avg(abs(close - naive_fc)), 0), 4) AS mase
    FROM evald WHERE fc IS NOT NULL
    GROUP BY user_id
    """,
    tags=("window", "W7", "forecast-eval", "recursive", "ml"),
)
def holt_forecast_accuracy(spark, sf_dir):
    """Forecast-accuracy scorecard for the Holt model — each user's
    one-step-ahead forecasts (yesterday's level+trend) scored against
    realized closes with MAE, sMAPE, and MASE (error scaled by the
    naive carry-forward forecast — MASE < 1 means the model beats
    persistence, the honest baseline most dashboards skip). The engine
    lane reruns `operators/indicators.holt_linear` (same 8dp anchors)
    and evaluates with a lag window on the SAME per-user exchange; the
    oracle extends the recursive CTE with the identical evaluation
    layer. Model + backtest, both externally value-checked."""
    from .operators.indicators import holt_linear

    daily = _daily_close(spark, sf_dir)
    out = holt_linear(daily, "close", ["user_id"], ["d"])
    w = W.partitionBy("user_id").orderBy("d")
    evald = out.select(
        "user_id",
        "close",
        F.lag("close_forecast").over(w).alias("fc"),
        F.lag("close").over(w).alias("naive_fc"),
    ).filter(F.col("fc").isNotNull())
    return evald.groupBy("user_id").agg(
        F.count("fc").alias("n_forecasts"),
        pround(F.avg(F.abs(F.col("close") - F.col("fc"))), 4).alias("mae"),
        pround(
            F.avg(
                2.0
                * F.abs(F.col("close") - F.col("fc"))
                / F.nullif(
                    F.abs(F.col("close")) + F.abs(F.col("fc")), F.lit(0)
                )
            ),
            6,
        ).alias("smape"),
        pround(
            F.avg(F.abs(F.col("close") - F.col("fc")))
            / F.nullif(
                F.avg(F.abs(F.col("close") - F.col("naive_fc"))), F.lit(0)
            ),
            4,
        ).alias("mase"),
    )
