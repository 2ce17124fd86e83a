"""Analytics shapes tier — decision-support join patterns the reference's
dashboard family implies but round 1-3 had not yet exercised (correlated
per-group averages, arg-min join-backs, global-scalar HAVING), plus
sequence/market-basket analytics over the event stream and a key-skew
diagnosis operator for the 100 TB layout work.

Every query is a (Spark DataFrame program, DuckDB oracle SQL) pair under
the driver's differential gate; see query_registry for the output
discipline (aliasing, rounding, date rendering, tiebreaks).
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from .query_registry import DAILY_SQL, _daily_close, _t, pround, register


@register(
    "small_quantity_part_revenue",
    """
    WITH avgq AS (
      SELECT l_partkey, avg(l_quantity) AS aq
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_small_lines,
           round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN avgq a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1' AND l.l_quantity < 0.2 * a.aq
    """,
    tags=("join", "agg", "correlated-subquery", "J6", "A1"),
)
def small_quantity_part_revenue(spark, sf_dir):
    """TPC-H Q17 shape: revenue of small-quantity line items, where
    "small" is correlated to the part's OWN average quantity — the
    correlated scalar subquery decorrelated into an aggregate + equi-join
    (exactly what Catalyst's DecorrelateInnerQuery would produce; written
    explicitly so the plan is the scale shape by construction). The
    per-part average aggregates lineitem down to #parts rows before the
    join, and the brand filter reduces the part side to ~4% — AQE sizes
    both and broadcasts the dim sides at realistic SF. One lineitem scan
    feeds the average build, a second the probe: at 100 TB the probe
    side's brand filter would be pushed into the scan via a runtime
    (bloom/DPP) filter from the part dim.

    Reference parity: the dashboard's per-symbol "today vs its own
    trailing average" comparisons (SURVEY.md §2 J5/J6 family) are the
    same correlated-aggregate shape."""
    li = _t(spark, sf_dir, "lineitem")
    pa = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    avgq = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("aq"))
    small = (
        li.join(pa.select("p_partkey"), li.l_partkey == pa.p_partkey)
        .join(avgq, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("aq"))
    )
    return small.agg(
        F.count(F.lit(1)).alias("n_small_lines"),
        pround(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
    )


@register(
    "cheapest_supplier_per_part",
    """
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    mn AS (
      SELECT l_partkey, min(unit_cost) AS min_cost
      FROM cost GROUP BY l_partkey
    )
    SELECT c.l_partkey AS p_partkey,
           CAST(min(c.l_suppkey) AS BIGINT) AS cheapest_suppkey,
           round(min(c.unit_cost), 4) AS min_unit_cost
    FROM cost c JOIN mn m
      ON c.l_partkey = m.l_partkey AND c.unit_cost = m.min_cost
    GROUP BY c.l_partkey
    ORDER BY p_partkey LIMIT 100
    """,
    tags=("join", "arg-min", "J4", "J5"),
)
def cheapest_supplier_per_part(spark, sf_dir):
    """TPC-H Q2 shape: the supplier achieving each part's minimum unit
    cost — a correlated MIN subquery expressed as aggregate + join-back
    on the min value. Both engines derive unit_cost from the same IEEE
    division of identical doubles and min() is exact selection (no
    accumulation), so the equality join on the double is
    deterministic; ties on the minimum collapse to min(suppkey), making
    the arg-min fully deterministic where min_by/arg_min tie-breaks are
    not. The cost relation aggregates lineitem down to (part, supp)
    pairs before any join — at 100 TB the two-level aggregate is two
    shuffles of shrinking size and the min relation joins back keyed on
    the same l_partkey clustering (reused exchange)."""
    li = _t(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    ).alias("c")
    mn = (
        cost.groupBy("l_partkey")
        .agg(F.min("unit_cost").alias("min_cost"))
        .withColumnRenamed("l_partkey", "m_partkey")
        .alias("m")
    )
    return (
        cost.join(
            mn,
            (F.col("c.l_partkey") == F.col("m.m_partkey"))
            & (F.col("c.unit_cost") == F.col("m.min_cost")),
        )
        .groupBy(F.col("c.l_partkey").alias("p_partkey"))
        .agg(
            F.min("l_suppkey").cast("bigint").alias("cheapest_suppkey"),
            pround(F.min("unit_cost"), 4).alias("min_unit_cost"),
        )
        .orderBy("p_partkey")
        .limit(100)
    )


@register(
    "important_nation_value_share",
    """
    WITH supp_val AS (
      SELECT s.s_nationkey, sum(l.l_extendedprice) AS val
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY s.s_nationkey
    ),
    tot AS (SELECT sum(val) AS t FROM supp_val)
    SELECT n.n_name AS nation,
           round(v.val, 2) AS nation_value,
           round(v.val / t.t, 6) AS share
    FROM supp_val v
    JOIN nation n ON n.n_nationkey = v.s_nationkey
    CROSS JOIN tot t
    WHERE v.val > 0.02 * t.t
    ORDER BY nation_value DESC, nation
    """,
    tags=("agg", "scalar-subquery", "J6", "A4"),
)
def important_nation_value_share(spark, sf_dir):
    """TPC-H Q11 shape: groups whose aggregate exceeds a fraction of the
    GLOBAL total — the HAVING-vs-uncorrelated-scalar-subquery pattern.
    The supplier-value relation aggregates the fact table down to ≤25
    nation rows; the global total re-aggregates THOSE 25 rows (not the
    fact table — one fact scan total) and broadcasts as a single-row
    cross join into the filter. Share-of-total is emitted alongside so
    the result doubles as a ratio-to-report readout. At 100 TB: one
    lineitem shuffle on s_suppkey-joined nationkey partials; everything
    after is KB-scale."""
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    supp_val = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .groupBy("s_nationkey")
        .agg(F.sum("l_extendedprice").alias("val"))
    )
    tot = supp_val.agg(F.sum("val").alias("t"))
    return (
        supp_val.join(F.broadcast(na), supp_val.s_nationkey == na.n_nationkey)
        .crossJoin(F.broadcast(tot))
        .filter(F.col("val") > 0.02 * F.col("t"))
        .select(
            F.col("n_name").alias("nation"),
            pround("val", 2).alias("nation_value"),
            pround(F.col("val") / F.col("t"), 6).alias("share"),
        )
        .orderBy(F.col("nation_value").desc(), "nation")
    )


@register(
    "modal_event_type_per_user",
    """
    WITH c AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY user_id, event_type
    ),
    m AS (SELECT user_id, max(n) AS mx FROM c GROUP BY user_id)
    SELECT c.user_id,
           min(c.event_type) AS modal_type,
           CAST(m.mx AS BIGINT) AS n_events
    FROM c JOIN m ON c.user_id = m.user_id AND c.n = m.mx
    GROUP BY c.user_id, m.mx
    """,
    tags=("agg", "mode", "A1", "J4"),
)
def modal_event_type_per_user(spark, sf_dir):
    """Deterministic MODE per key: each user's most frequent event type,
    ties resolved to the lexicographically smallest type. Native mode()
    aggregates tie-break arbitrarily in BOTH engines, so the engine path
    computes it as count-aggregate → per-key max join-back → min(type),
    which is reproducible everywhere. The count relation is bounded by
    (#users × #types); the join-back is on that aggregate, not the fact
    table — the greatest-n-per-group family (J4) applied to a frequency
    relation."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    ).alias("c")
    m = (
        c.groupBy("user_id")
        .agg(F.max("n").alias("mx"))
        .withColumnRenamed("user_id", "m_user_id")
        .alias("m")
    )
    return (
        c.join(
            m,
            (F.col("c.user_id") == F.col("m.m_user_id"))
            & (F.col("c.n") == F.col("m.mx")),
        )
        .groupBy(F.col("c.user_id"), F.col("mx"))
        .agg(F.min("event_type").alias("modal_type"))
        .select(
            "user_id",
            "modal_type",
            F.col("mx").cast("bigint").alias("n_events"),
        )
    )


@register(
    "value_histogram_20bins",
    """
    WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
    h AS (
      SELECT LEAST(CAST(floor((value - lo) / ((hi - lo) / 20.0)) AS INT), 19)
               AS bin,
             value, lo, hi
      FROM events, b
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n,
           round(min(lo) + bin * ((min(hi) - min(lo)) / 20.0), 4)
             AS bin_low
    FROM h GROUP BY bin
    """,
    tags=("agg", "histogram", "A4", "two-pass"),
)
def value_histogram_20bins(spark, sf_dir):
    """Equal-width 20-bin histogram with data-derived bounds — the
    two-pass profile shape (pass 1: global min/max, a single-row
    broadcast; pass 2: map-only bucket assignment + count aggregate).
    The bucket arithmetic ((v-lo)/width, floor, clamp) runs on identical
    IEEE doubles in both engines so bin assignment is exactly
    reproducible; the max value clamps into the last bin (LEAST(...,19))
    in both. At 100 TB both passes are single scans with KB-size
    exchanges — the canonical cheap data-profiling operator."""
    ev = _t(spark, sf_dir, "events")
    b = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / 20.0
    binc = F.least(
        F.floor((F.col("value") - F.col("lo")) / width).cast("int"), F.lit(19)
    )
    return (
        ev.crossJoin(F.broadcast(b))
        .select(binc.alias("bin"), "lo", "hi")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            pround(
                F.min("lo") + F.col("bin") * ((F.min("hi") - F.min("lo")) / 20.0),
                4,
            ).alias("bin_low"),
        )
    )


@register(
    "markov_event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    cnt AS (
      SELECT prev, event_type AS next, count(*) AS n
      FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type
    )
    SELECT prev, next, CAST(n AS BIGINT) AS n,
           round(n / CAST(sum(n) OVER (PARTITION BY prev) AS DOUBLE), 6)
             AS p
    FROM cnt
    """,
    tags=("window", "sequence", "W1", "markov"),
)
def markov_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: lag(1) within (user ORDER BY ts, event_id) pairs each
    event with its predecessor; transition counts row-normalize into
    probabilities via a window sum over the #types² count relation. The
    only data-scale exchange is the per-user window sort (one shuffle);
    the normalization window runs on ≤ #types² rows. The classic
    user-journey / process-mining readout, and the input to sequence
    simulation."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    cnt = seq.groupBy("prev", F.col("event_type").alias("next")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return cnt.select(
        "prev",
        "next",
        F.col("n").cast("bigint").alias("n"),
        pround(
            F.col("n") / F.sum("n").over(W.partitionBy("prev")).cast("double"),
            6,
        ).alias("p"),
    )


@register(
    "event_path_trigrams",
    """
    WITH seq AS (
      SELECT event_type,
             lag(event_type, 1) OVER w AS p1,
             lag(event_type, 2) OVER w AS p2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT p2 || '>' || p1 || '>' || event_type AS path,
           CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE p2 IS NOT NULL
    GROUP BY path ORDER BY n DESC, path LIMIT 20
    """,
    tags=("window", "sequence", "W2", "top-k"),
)
def event_path_trigrams(spark, sf_dir):
    """Top event-type paths: sliding 3-step journeys per user (lag chain
    — the three_day_trends W2 shape applied to categorical sequences),
    counted corpus-wide. Both lags share one window sort; the path
    aggregate's key space is ≤ #types³ so partial aggregation collapses
    it map-side, and TakeOrderedAndProject caps the result with a
    deterministic (n, path) tiebreak."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    ).filter(F.col("p2").isNotNull())
    path = F.concat_ws(">", "p2", "p1", "event_type").alias("path")
    return (
        seq.groupBy(path)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(20)
    )


@register(
    "event_pair_lift",
    """
    WITH baskets AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type
      FROM events
    ),
    nb AS (SELECT count(*) AS n_baskets
           FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) FROM events)),
    items AS (SELECT event_type, count(*) AS n_item FROM baskets
              GROUP BY event_type),
    pairs AS (
      SELECT a.event_type AS x, b.event_type AS y, count(*) AS n_pair
      FROM baskets a
      JOIN baskets b ON a.user_id = b.user_id AND a.d = b.d
                    AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT p.x, p.y, CAST(p.n_pair AS BIGINT) AS n_pair,
           round(p.n_pair / CAST(nb.n_baskets AS DOUBLE), 6) AS support,
           round(p.n_pair / CAST(ix.n_item AS DOUBLE), 6) AS confidence,
           round(p.n_pair * CAST(nb.n_baskets AS DOUBLE)
                 / (ix.n_item * CAST(iy.n_item AS DOUBLE)), 6) AS lift
    FROM pairs p
    JOIN items ix ON ix.event_type = p.x
    JOIN items iy ON iy.event_type = p.y
    CROSS JOIN nb
    """,
    tags=("join", "basket", "J3", "association-rules"),
)
def event_pair_lift(spark, sf_dir):
    """Market-basket association rules over (user, day) event-type
    baskets: support / confidence / lift for every co-occurring type
    pair. The basket relation is the DISTINCT (user, day, type)
    projection; the pair join is a self equi-join on the basket key with
    `x < y` — fan-out bounded by (types-per-basket)², i.e. per-basket
    quadratic with a small constant, never corpus-quadratic (the blocked
    Jaccard discipline applied to baskets). Item counts and the basket
    total are KB-scale relations that AQE broadcasts into the final
    scoring join."""
    ev = _t(spark, sf_dir, "events")
    baskets = ev.select(
        "user_id", F.to_date("ts").alias("d"), "event_type"
    ).distinct()
    nb = baskets.select("user_id", "d").distinct().agg(
        F.count(F.lit(1)).alias("n_baskets")
    )
    items = baskets.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_item"))
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.d") == F.col("b.d"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("x"), F.col("b.event_type").alias("y")
        )
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    ix = items.select(F.col("event_type").alias("x"), F.col("n_item").alias("nx"))
    iy = items.select(F.col("event_type").alias("y"), F.col("n_item").alias("ny"))
    return (
        pairs.join(F.broadcast(ix), "x")
        .join(F.broadcast(iy), "y")
        .crossJoin(F.broadcast(nb))
        .select(
            "x",
            "y",
            F.col("n_pair").cast("bigint").alias("n_pair"),
            pround(
                F.col("n_pair") / F.col("n_baskets").cast("double"), 6
            ).alias("support"),
            pround(F.col("n_pair") / F.col("nx").cast("double"), 6).alias(
                "confidence"
            ),
            pround(
                F.col("n_pair")
                * F.col("n_baskets").cast("double")
                / (F.col("nx") * F.col("ny").cast("double")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "rolling_corr_user_vs_market",
    f"""
    WITH {DAILY_SQL},
    mkt AS (SELECT d, avg(close) AS mclose FROM daily GROUP BY d)
    SELECT daily.user_id, strftime(daily.d, '%Y-%m-%d') AS trade_date,
           round(corr(close, mclose) OVER (
             PARTITION BY user_id ORDER BY daily.d
             ROWS BETWEEN 29 PRECEDING AND CURRENT ROW), 5) AS rolling_corr
    FROM daily JOIN mkt ON mkt.d = daily.d
    """,
    tags=("window", "corr", "W4", "A1"),
)
def rolling_corr_user_vs_market(spark, sf_dir):
    """30-day ROLLING correlation of each user's daily close against the
    market-average close — the moving-beta upgrade of the static
    `user_market_beta`: corr() as a frame-bounded window aggregate.
    The market relation aggregates daily down to #days rows and AQE
    broadcasts it into the join; the window runs on the per-user daily
    bars (one exchange, shared with nothing else). Rounded to 5dp: both
    engines fold the same ≤30 IEEE doubles in frame order and differ only
    in the last ulp of the accumulation. Single-point frames yield NULL
    in both engines."""
    daily = _daily_close(spark, sf_dir)
    mkt = daily.groupBy("d").agg(F.avg("close").alias("mclose"))
    w = (
        W.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(-29, W.currentRow)
    )
    return (
        daily.join(F.broadcast(mkt), "d")
        .select(
            "user_id",
            F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
            pround(F.corr("close", "mclose").over(w), 5).alias("rolling_corr"),
        )
    )


@register(
    "bloom_prefiltered_order_revenue",
    """
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    WHERE o.o_custkey IN
      (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
    GROUP BY o.o_orderpriority
    """,
    tags=("join", "semi-join", "bloom", "J7", "scale-path"),
)
def bloom_prefiltered_order_revenue(spark, sf_dir):
    """Semi-join through the BLOOM-PREFILTERED path
    (functions/bloom.bloom_semi_join): the rich-customer key set folds
    into a 2^16-bit deterministic Bloom filter whose probe expression
    runs INSIDE the orders scan stage — non-matching orders are
    discarded map-side before the join's exchange, the manual form of
    the runtime filter Spark's cost model injects only when statistics
    cooperate. The oracle is the PLAIN semi-join SQL: the driver
    hash-match is end-to-end proof the prefilter is transparent (Bloom
    false positives removed by the exact join, false negatives
    impossible). At 100 TB this is the difference between shuffling the
    full fact table and shuffling ~the matching fraction."""
    from .functions.bloom import bloom_semi_join

    o = _t(spark, sf_dir, "orders")
    rich = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    matched = bloom_semi_join(o, rich, "o_custkey", "c_custkey")
    return matched.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        pround(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@register(
    "event_key_skew_profile",
    """
    WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
    r AS (
      SELECT n,
             row_number() OVER (ORDER BY n, user_id) AS rk,
             count(*) OVER () AS k,
             sum(n) OVER () AS tot
      FROM c
    )
    SELECT CAST(max(k) AS BIGINT) AS n_keys,
           CAST(max(tot) AS BIGINT) AS n_rows,
           CAST(max(n) AS BIGINT) AS max_key_rows,
           round(max(n) / CAST(max(tot) AS DOUBLE), 6) AS top_key_share,
           round(sum((2.0 * rk - k - 1) * n)
                 / (max(k) * CAST(max(tot) AS DOUBLE)), 6) AS gini
    FROM r
    """,
    tags=("agg", "window", "skew", "scale-path"),
)
def event_key_skew_profile(spark, sf_dir):
    """Partition-key skew diagnosis — the operator you run BEFORE picking
    a 100 TB join/agg key: per-key row counts reduced to a skew profile
    (key count, max-key share, Gini concentration coefficient
    Σ(2i−k−1)·xᵢ / (k·Σx) over ascending counts). Everything global
    happens on the per-key AGGREGATE (#keys rows, orders of magnitude
    smaller than the fact table), the same bounded-global-window
    justification as `user_value_distribution_ranks`; the rank tiebreak
    (n, user_id) makes the Gini sum deterministic. Output is one row —
    feed it to the salting/AQE-skew decision (`operators/scale.py`)."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    wg = W.orderBy("n", "user_id")
    r = c.select(
        "n",
        F.row_number().over(wg).alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("k"),
        F.sum("n").over(W.partitionBy()).alias("tot"),
    )
    return r.agg(
        F.max("k").cast("bigint").alias("n_keys"),
        F.max("tot").cast("bigint").alias("n_rows"),
        F.max("n").cast("bigint").alias("max_key_rows"),
        pround(F.max("n") / F.max("tot").cast("double"), 6).alias(
            "top_key_share"
        ),
        pround(
            F.sum((2.0 * F.col("rk") - F.col("k") - 1) * F.col("n"))
            / (F.max("k") * F.max("tot").cast("double")),
            6,
        ).alias("gini"),
    )


@register(
    "max_concurrent_events_per_day",
    """
    WITH pts AS (
      SELECT CAST(ts AS DATE) AS d, ts AS t, 1 AS delta, event_id
      FROM events
      UNION ALL
      SELECT CAST(ts AS DATE) AS d, ts + INTERVAL 300 SECOND AS t,
             -1 AS delta, event_id
      FROM events
    ),
    sweep AS (
      SELECT d, sum(delta) OVER (PARTITION BY d
                                 ORDER BY t, delta, event_id) AS load
      FROM pts
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(max(load) AS BIGINT) AS max_concurrent
    FROM sweep GROUP BY d
    """,
    tags=("window", "sweep-line", "interval", "W10"),
)
def max_concurrent_events_per_day(spark, sf_dir):
    """Maximum concurrency via the SWEEP-LINE idiom: each event opens a
    5-minute activity interval; +1/−1 boundary points sorted within the
    day and running-summed give the instantaneous load, and the per-day
    max is the answer. The classic interval-analytics operator that
    does NOT need an interval self-join (contrast: bucketed_range_join)
    — two map-side projections, one union, one per-day window sort.
    Partitioning the sweep by calendar day bounds every window partition
    (~events/day) — the 100 TB form; the day boundary cut is applied
    identically in both engines (an interval crossing midnight counts
    toward its opening day only). Tie order (t, delta, event_id) closes
    an interval before opening a coincident one — deterministic and
    conservative."""
    ev = _t(spark, sf_dir, "events")
    opens = ev.select(
        F.to_date("ts").alias("d"),
        F.col("ts").alias("t"),
        F.lit(1).alias("delta"),
        "event_id",
    )
    closes = ev.select(
        F.to_date("ts").alias("d"),
        (F.col("ts") + F.expr("INTERVAL 300 SECOND")).alias("t"),
        F.lit(-1).alias("delta"),
        "event_id",
    )
    sweep = opens.unionAll(closes).select(
        "d",
        F.sum("delta")
        .over(W.partitionBy("d").orderBy("t", "delta", "event_id"))
        .alias("load"),
    )
    return sweep.groupBy(F.date_format("d", "yyyy-MM-dd").alias("day")).agg(
        F.max("load").cast("bigint").alias("max_concurrent")
    )


@register(
    "rfm_customer_segments",
    """
    WITH ref AS (SELECT max(o_orderdate) AS mx FROM orders),
    per_cust AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate), (SELECT mx FROM ref))
               AS recency_days,
             count(*) AS frequency,
             sum(o_totalprice) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey,
             ntile(4) OVER (ORDER BY recency_days, o_custkey) AS r,
             ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f,
             ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m
      FROM per_cust
    )
    SELECT CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY r, f, m
    """,
    tags=("window", "ntile", "segmentation", "A1"),
)
def rfm_customer_segments(spark, sf_dir):
    """RFM segmentation — the marketing-analytics classic: per-customer
    Recency (days since last order, vs the dataset's own horizon),
    Frequency, Monetary, each quartile-scored (1 = best), segment cell
    counts out. ADAPTIVE ranking policy (r5): the per-customer relation
    is counted (one cheap job over already-aggregated rows); at or
    below ranks.NTILE_EXACT_MAX_ROWS the three ntile windows run as the
    plain one-task sort (optimal for an aggregate-bounded relation),
    above it they chain three two-stage `ntile_buckets(exact=False)`
    passes — identical values (custkey tiebreaks make each ordering
    total), no single-partition window; the 64-cell output is then
    eagerly materialized and the rank checkpoints released. Every
    ntile ordering carries the custkey tiebreak so quartile assignment
    is a total order in both engines."""
    from .operators import ranks

    o = _t(spark, sf_dir, "orders")
    ref = o.agg(F.max("o_orderdate").alias("mx"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("o_totalprice").alias("monetary"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "o_custkey",
            F.datediff(F.to_date("mx"), F.to_date("last_order")).alias(
                "recency_days"
            ),
            "frequency",
            "monetary",
        )
    )
    exact = per_cust.count() <= ranks.NTILE_EXACT_MAX_ROWS
    s1 = ranks.ntile_buckets(
        per_cust, 4, [F.col("recency_days"), F.col("o_custkey")], "r",
        exact=exact,
    )
    s2 = ranks.ntile_buckets(
        s1, 4, [F.col("frequency").desc(), F.col("o_custkey")], "f",
        exact=exact,
    )
    s3 = ranks.ntile_buckets(
        s2, 4, [F.col("monetary").desc(), F.col("o_custkey")], "m",
        exact=exact,
    )
    cells = s3.groupBy(
        F.col("r").cast("int").alias("r"),
        F.col("f").cast("int").alias("f"),
        F.col("m").cast("int").alias("m"),
    ).agg(F.count(F.lit(1)).alias("n_customers"))
    if exact:
        return cells
    rows = cells.collect()  # ≤ 64 segment cells — bounded by design
    for s in (s1, s2, s3):
        ranks.release_rank_cache(s)
    return spark.createDataFrame(rows, cells.schema)


@register(
    "week_over_week_close_change",
    f"""
    WITH {DAILY_SQL}
    SELECT a.user_id, strftime(a.d, '%Y-%m-%d') AS trade_date,
           round(a.close, 4) AS close,
           round(b.close, 4) AS close_last_week,
           round((a.close - b.close) / nullif(b.close, 0) * 100, 4)
             AS wow_pct
    FROM daily a
    JOIN daily b ON b.user_id = a.user_id AND b.d = a.d - 7
    """,
    tags=("join", "temporal", "W9", "seasonal-lag"),
)
def week_over_week_close_change(spark, sf_dir):
    """Week-over-week change — the seasonal-lag comparison: each daily
    close against the SAME user's close exactly 7 calendar days earlier
    via a date-arithmetic self equi-join (NOT lag(7): row-offset lag is
    wrong whenever days are missing — the sparse-calendar bug the
    RANGE-frame family also guards against). The self-join keys on
    (user, date) so both sides shuffle on the same clustering — one
    exchange each over the per-user daily AGGREGATE; rows without a
    prior-week observation drop (inner join) identically in both
    engines."""
    daily = _daily_close(spark, sf_dir)
    a = daily.alias("a")
    b = daily.alias("b")
    return a.join(
        b,
        (F.col("b.user_id") == F.col("a.user_id"))
        & (F.col("b.d") == F.date_sub(F.col("a.d"), 7)),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.date_format("a.d", "yyyy-MM-dd").alias("trade_date"),
        pround("a.close", 4).alias("close"),
        pround("b.close", 4).alias("close_last_week"),
        pround(
            (F.col("a.close") - F.col("b.close"))
            / F.nullif(F.col("b.close"), F.lit(0))
            * 100,
            4,
        ).alias("wow_pct"),
    )


@register(
    "lineitem_column_profile",
    """
    WITH s AS (
      SELECT count(*) AS n,
        count(l_quantity) AS nn_qty, count(DISTINCT l_quantity) AS nd_qty,
          min(l_quantity) AS mn_qty, max(l_quantity) AS mx_qty,
        count(l_extendedprice) AS nn_px, count(DISTINCT l_extendedprice) AS nd_px,
          min(l_extendedprice) AS mn_px, max(l_extendedprice) AS mx_px,
        count(l_discount) AS nn_disc, count(DISTINCT l_discount) AS nd_disc,
          min(l_discount) AS mn_disc, max(l_discount) AS mx_disc,
        count(l_tax) AS nn_tax, count(DISTINCT l_tax) AS nd_tax,
          min(l_tax) AS mn_tax, max(l_tax) AS mx_tax,
        count(l_returnflag) AS nn_rf, count(DISTINCT l_returnflag) AS nd_rf,
        count(l_linestatus) AS nn_ls, count(DISTINCT l_linestatus) AS nd_ls
      FROM lineitem
    )
    SELECT col, CAST(n AS BIGINT) AS n_rows,
           CAST(n - n_nonnull AS BIGINT) AS n_nulls,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           round(mn, 4) AS min_val, round(mx, 4) AS max_val
    FROM (
      SELECT 'l_quantity' AS col, n, nn_qty AS n_nonnull, nd_qty AS n_distinct,
             mn_qty AS mn, mx_qty AS mx FROM s
      UNION ALL SELECT 'l_extendedprice', n, nn_px, nd_px, mn_px, mx_px FROM s
      UNION ALL SELECT 'l_discount', n, nn_disc, nd_disc, mn_disc, mx_disc FROM s
      UNION ALL SELECT 'l_tax', n, nn_tax, nd_tax, mn_tax, mx_tax FROM s
      UNION ALL SELECT 'l_returnflag', n, nn_rf, nd_rf, NULL, NULL FROM s
      UNION ALL SELECT 'l_linestatus', n, nn_ls, nd_ls, NULL, NULL FROM s
    )
    """,
    tags=("agg", "profiling", "A4", "data-quality"),
)
def lineitem_column_profile(spark, sf_dir):
    """One-pass column profiling (the Deequ/Great-Expectations readout):
    row count, null count, exact distinct count, numeric min/max for
    each profiled column, long-format output — ONE scan computing every
    statistic (Spark plans the multi-column count-distincts via a
    single Expand-based aggregate rather than per-column scans), then a
    KB-scale unpivot of the single stats row. The data-engineering
    operator you run before choosing join keys and partition layouts;
    pairs with `event_key_skew_profile` and `orders_quality_expectations`."""
    li = _t(spark, sf_dir, "lineitem")
    num_cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    str_cols = ["l_returnflag", "l_linestatus"]
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in num_cols + str_cols:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
        ]
    for c in num_cols:
        aggs += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}")]
    s = li.agg(*aggs)
    rows = []
    for c in num_cols:
        rows.append(
            s.select(
                F.lit(c).alias("col"),
                F.col("n").cast("bigint").alias("n_rows"),
                (F.col("n") - F.col(f"nn_{c}")).cast("bigint").alias("n_nulls"),
                F.col(f"nd_{c}").cast("bigint").alias("n_distinct"),
                pround(F.col(f"mn_{c}").cast("double"), 4).alias("min_val"),
                pround(F.col(f"mx_{c}").cast("double"), 4).alias("max_val"),
            )
        )
    for c in str_cols:
        rows.append(
            s.select(
                F.lit(c).alias("col"),
                F.col("n").cast("bigint").alias("n_rows"),
                (F.col("n") - F.col(f"nn_{c}")).cast("bigint").alias("n_nulls"),
                F.col(f"nd_{c}").cast("bigint").alias("n_distinct"),
                F.lit(None).cast("double").alias("min_val"),
                F.lit(None).cast("double").alias("max_val"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


@register(
    "user_behavior_entropy",
    """
    WITH c AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY user_id, event_type
    ),
    tot AS (SELECT user_id, sum(n) AS t FROM c GROUP BY user_id)
    SELECT c.user_id,
           CAST(count(*) AS INT) AS n_types,
           round(-sum((n / CAST(t AS DOUBLE)) * ln(n / CAST(t AS DOUBLE))), 6)
             AS type_entropy
    FROM c JOIN tot ON tot.user_id = c.user_id
    GROUP BY c.user_id
    """,
    tags=("agg", "entropy", "A1", "behavioral"),
)
def user_behavior_entropy(spark, sf_dir):
    """Behavioral diversity score: Shannon entropy of each user's
    event-type distribution (−Σ p ln p) — 0 for single-behavior users,
    ln(#types) for uniform ones; the feature a personalization/anomaly
    pipeline derives from any categorical activity stream (and the
    per-key twin of the corpus-level `doc_char_entropy`). Two
    aggregates sharing the user_id clustering + a KB-per-user join —
    one fact shuffle total."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    tot = c.groupBy("user_id").agg(F.sum("n").alias("t"))
    p = F.col("n") / F.col("t").cast("double")
    return (
        c.join(tot, "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_types"),
            pround(-F.sum(p * F.log(p)), 6).alias("type_entropy"),
        )
    )


@register(
    "benford_price_digits",
    """
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (
      SELECT digit, count(*) AS n, sum(count(*)) OVER () AS tot
      FROM digits GROUP BY digit
    )
    SELECT digit, CAST(n AS BIGINT) AS n,
           round(n / CAST(tot AS DOUBLE), 6) AS observed_p,
           round(log10(1.0 + 1.0 / digit), 6) AS benford_p,
           round(pow(n / CAST(tot AS DOUBLE) - log10(1.0 + 1.0 / digit), 2)
                 / log10(1.0 + 1.0 / digit), 8) AS chi2_term
    FROM obs
    """,
    tags=("agg", "data-quality", "A4", "benford"),
)
def benford_price_digits(spark, sf_dir):
    """Benford's-law audit of order totals: leading-digit distribution
    vs the log10(1+1/d) law, with per-digit χ² contribution — the
    forensic data-quality screen for fabricated or truncated monetary
    data. Map-only digit extraction (integer-floor → string head, no
    float formatting ambiguity), a 9-row aggregate, and a window total
    over those 9 rows. (The synthetic uniform-ish prices here should —
    and do — FAIL Benford conspicuously; the operator is the point.)"""
    o = _t(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    obs = (
        o.filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("tot", F.sum("n").over(W.partitionBy()))
    )
    op = F.col("n") / F.col("tot").cast("double")
    bp = F.log10(1.0 + 1.0 / F.col("digit"))
    return obs.select(
        "digit",
        F.col("n").cast("bigint").alias("n"),
        pround(op, 6).alias("observed_p"),
        pround(bp, 6).alias("benford_p"),
        pround(F.pow(op - bp, 2) / bp, 8).alias("chi2_term"),
    )


@register(
    "price_trend_slope_per_user",
    f"""
    WITH {DAILY_SQL},
    seq AS (
      SELECT user_id, close,
             CAST(datediff('day', DATE '2024-01-01', d) AS DOUBLE) AS x
      FROM daily
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_days,
           round(covar_pop(x, close) / nullif(var_pop(x), 0), 6) AS slope,
           round(avg(close) - covar_pop(x, close) / nullif(var_pop(x), 0)
                 * avg(x), 4) AS intercept,
           round(corr(x, close), 6) AS r
    FROM seq GROUP BY user_id
    """,
    tags=("agg", "stats", "ols", "A1"),
)
def price_trend_slope_per_user(spark, sf_dir):
    """Per-key OLS trend line in closed form — slope = cov(x,y)/var(x),
    intercept = ȳ − slope·x̄, plus Pearson r — fitted to every user's
    daily closes against calendar-day index in ONE aggregate pass (the
    statistical-aggregate family of `user_market_beta` applied to
    trend estimation; the reference's two-stage ML pipeline uses the
    same normal-equation algebra at feature scale). No window, no
    iteration: covar_pop/var_pop/corr are single-pass mergeable
    aggregates — the 100 TB regression you can afford on every key."""
    daily = _daily_close(spark, sf_dir)
    seq = daily.select(
        "user_id",
        "close",
        F.datediff("d", F.lit("2024-01-01").cast("date"))
        .cast("double")
        .alias("x"),
    )
    slope = F.covar_pop("x", "close") / F.nullif(F.var_pop("x"), F.lit(0))
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_days"),
        pround(slope, 6).alias("slope"),
        pround(F.avg("close") - slope * F.avg("x"), 4).alias("intercept"),
        pround(F.corr("x", "close"), 6).alias("r"),
    )


@register(
    "incremental_agg_maintenance",
    """
    WITH seg AS (
      SELECT event_type,
             CASE WHEN CAST(ts AS DATE) < DATE '2024-01-26'
                  THEN 'base' ELSE 'delta' END AS seg,
             value
      FROM events
    ),
    partials AS (
      SELECT event_type, seg, count(*) AS n, sum(value) AS s,
             min(value) AS mn, max(value) AS mx
      FROM seg GROUP BY event_type, seg
    )
    SELECT event_type,
           CAST(sum(n) AS BIGINT) AS n,
           round(sum(s), 4) AS total_value,
           round(sum(s) / sum(n), 6) AS avg_value,
           round(min(mn), 4) AS min_value,
           round(max(mx), 4) AS max_value,
           CAST(count(*) AS INT) AS n_partials_merged
    FROM partials GROUP BY event_type
    """,
    tags=("agg", "incremental", "A1", "ivm"),
)
def incremental_agg_maintenance(spark, sf_dir):
    """Incremental view maintenance, the algebraic core: a historical
    BASE partial aggregate and a late-arriving DELTA partial merge into
    the exact full aggregate WITHOUT rescanning base data — count/sum
    re-sum, min/max re-extremize, avg derives from merged sum/count
    (never averaged-of-averages). The registered query materializes
    both segments from one scan and MERGES them; the driver
    hash-checks the merge path against the oracle's identical
    two-level computation — and the algebra means the nightly 100 TB
    pipeline only ever aggregates the new partition. The mergeable-
    partials discipline every sketch in `functions/sketches.py` also
    follows, here for exact aggregates."""
    ev = _t(spark, sf_dir, "events")
    seg = ev.select(
        "event_type",
        F.when(
            F.to_date("ts") < F.lit("2024-01-26").cast("date"), "base"
        )
        .otherwise("delta")
        .alias("seg"),
        "value",
    )
    partials = seg.groupBy("event_type", "seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    return partials.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("n"),
        pround(F.sum("s"), 4).alias("total_value"),
        pround(F.sum("s") / F.sum("n"), 6).alias("avg_value"),
        pround(F.min("mn"), 4).alias("min_value"),
        pround(F.max("mx"), 4).alias("max_value"),
        F.count(F.lit(1)).cast("int").alias("n_partials_merged"),
    )


@register(
    "event_type_dow_chi2",
    """
    WITH obs AS (
      SELECT event_type, dayofweek(ts) AS dow, count(*) AS o
      FROM events GROUP BY event_type, dayofweek(ts)
    ),
    m AS (
      SELECT event_type, dow, o,
             sum(o) OVER (PARTITION BY event_type) AS rt,
             sum(o) OVER (PARTITION BY dow) AS ct,
             sum(o) OVER () AS n
      FROM obs
    )
    SELECT CAST(count(*) AS INT) AS n_cells,
           round(sum(pow(o - rt * ct / CAST(n AS DOUBLE), 2)
                     / (rt * ct / CAST(n AS DOUBLE))), 6) AS chi2,
           CAST((count(DISTINCT event_type) - 1)
                * (count(DISTINCT dow) - 1) AS INT) AS dof
    FROM m
    """,
    tags=("agg", "stats", "chi2", "A4"),
)
def event_type_dow_chi2(spark, sf_dir):
    """Chi-square independence test between event type and day-of-week —
    the categorical-association screen (is behavior day-dependent?):
    observed cell counts vs expected-from-marginals, χ² = Σ(O−E)²/E
    with degrees of freedom. The contingency table is #types × 7 rows,
    so every window/marginal computation after the one fact-table
    aggregate is KB-scale. DuckDB's dayofweek == Spark's dayofweek
    numbering (0=Sunday... both 1-7? both engines: Spark dayofweek
    1=Sunday; DuckDB dayofweek 0=Sunday — the oracle uses DuckDB
    dayofweek+1 alignment via the shared grouping only, never the raw
    number). Cells, not labels, carry the statistic."""
    ev = _t(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type", (F.dayofweek("ts")).alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    m = obs.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(W.partitionBy("event_type")).alias("rt"),
        F.sum("o").over(W.partitionBy("dow")).alias("ct"),
        F.sum("o").over(W.partitionBy()).alias("n"),
    )
    e = F.col("rt") * F.col("ct") / F.col("n").cast("double")
    return m.agg(
        F.count(F.lit(1)).cast("int").alias("n_cells"),
        pround(F.sum(F.pow(F.col("o") - e, 2) / e), 6).alias("chi2"),
        (
            (F.countDistinct("event_type") - 1)
            * (F.countDistinct("dow") - 1)
        ).cast("int").alias("dof"),
    )


@register(
    "lttb_downsampled_closes",
    f"""
    WITH {DAILY_SQL},
    seq AS (
      SELECT user_id, d, close,
             CAST(floor((row_number() OVER (PARTITION BY user_id
                                            ORDER BY d) - 1) / 10.0)
                  AS INT) AS bucket
      FROM daily
    ),
    dev AS (
      SELECT user_id, bucket, d, close,
             round(abs(close - avg(close)
                       OVER (PARTITION BY user_id, bucket)), 6) AS dev
      FROM seq
    ),
    ranked AS (
      SELECT user_id, bucket, d, close,
             row_number() OVER (PARTITION BY user_id, bucket
                                ORDER BY dev DESC, d) AS rk
      FROM dev
    )
    SELECT user_id, CAST(bucket AS INT) AS bucket,
           strftime(d, '%Y-%m-%d') AS trade_date,
           round(close, 4) AS close
    FROM ranked WHERE rk = 1
    """,
    tags=("window", "downsample", "dashboard", "O4"),
    inputs=("events",),
)
def lttb_downsampled_closes(spark, sf_dir):
    """Perceptual downsampling for chart rendering (the LTTB family,
    bucket-extremum variant): each user's close series splits into
    10-observation buckets and keeps the visually-salient point — the
    one deviating most from its bucket's mean (ties to the earliest
    date). This is what a dashboard backend ships to the browser
    instead of a million raw points. All three windows (row index,
    bucket mean, in-bucket rank) share the per-user sort; the rank
    prunes via WindowGroupLimit. Integer division pins bucket edges
    identically in both engines."""
    daily = _daily_close(spark, sf_dir)
    wu = W.partitionBy("user_id").orderBy("d")
    seq = daily.select(
        "user_id",
        "d",
        "close",
        ((F.row_number().over(wu) - 1) / 10).cast("int").alias("bucket"),
    )
    wb = W.partitionBy("user_id", "bucket")
    # Round-before-rank anchor: the bucket mean's float summation order
    # differs between engines, so an exact-in-real-arithmetic dev tie
    # (two points symmetric around the mean) could flip its ulp-level
    # ordering and select different rows. 6dp pins the rank key.
    dev = seq.withColumn(
        "dev", pround(F.abs(F.col("close") - F.avg("close").over(wb)), 6)
    )
    rk = F.row_number().over(
        W.partitionBy("user_id", "bucket").orderBy(F.col("dev").desc(), "d")
    )
    return (
        dev.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("bucket").cast("int").alias("bucket"),
            F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
            pround("close", 4).alias("close"),
        )
    )


@register(
    "floored_running_balance",
    """
    WITH deltas AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN value
                  ELSE -0.1 * value END AS delta
      FROM events
    ),
    prefix AS (
      SELECT user_id, ts, event_id,
             sum(delta) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS s
      FROM deltas
    ),
    sums AS (
      SELECT user_id, ts, event_id, s,
             min(s) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS run_min
      FROM prefix
    )
    SELECT user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           CAST(event_id AS BIGINT) AS event_id,
           round(s - least(0.0, run_min), 4) AS balance
    FROM sums
    """,
    tags=("window", "W10", "reflection", "running-balance"),
)
def floored_running_balance(spark, sf_dir):
    """Zero-floored running balance — b_t = max(0, b_{t-1} + δ_t), the
    clamped account-balance / inventory recurrence that LOOKS like it
    needs row-by-row recursion but has a closed WINDOW form by the
    reflection identity: b_t = S_t − min(0, min_{k≤t} S_k) (prefix sum
    minus its most-negative excursion — valid precisely because the
    clamp is a one-sided floor at 0). Purchases credit the balance,
    everything else debits a 10% carrying cost. Both nested windows
    share ONE per-user sort exchange — compare holt_trend_smoothing,
    where the coupling genuinely forces the sequential Arrow lane; the
    engine picks the window form whenever the algebra allows."""
    ev = _t(spark, sf_dir, "events")
    delta = F.when(
        F.col("event_type") == "purchase", F.col("value")
    ).otherwise(-0.1 * F.col("value"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    sums = (
        ev.select("user_id", "ts", "event_id", delta.alias("delta"))
        .select("user_id", "ts", "event_id", F.sum("delta").over(w).alias("s"))
        .select("user_id", "ts", "event_id", "s", F.min("s").over(w).alias("run_min"))
    )
    return sums.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.col("event_id").cast("bigint").alias("event_id"),
        pround(F.col("s") - F.least(F.lit(0.0), F.col("run_min")), 4).alias(
            "balance"
        ),
    )


@register(
    "funnel_step_waterfall",
    """
    WITH per_user AS (
      SELECT user_id,
        list_min(list(ts) FILTER (WHERE event_type = 'signup')) AS t1,
        list(ts) FILTER (WHERE event_type = 'view') AS views,
        list(ts) FILTER (WHERE event_type = 'click') AS clicks,
        list(ts) FILTER (WHERE event_type = 'purchase') AS purchases
      FROM events GROUP BY user_id
    ),
    steps AS (
      SELECT user_id, t1,
        list_min(list_filter(views, x -> x > t1)) AS t2,
        list_min(list_filter(clicks, x ->
          x > list_min(list_filter(views, y -> y > t1)))) AS t3,
        list_min(list_filter(purchases, x ->
          x > list_min(list_filter(clicks, y ->
            y > list_min(list_filter(views, z -> z > t1)))))) AS t4
      FROM per_user
    ),
    counts AS (
      SELECT count(*) AS n_total,
             count(t1) AS s1, count(t2) AS s2,
             count(t3) AS s3, count(t4) AS s4
      FROM steps
    )
    SELECT step, CAST(n_users AS BIGINT) AS n_users,
           round(n_users / CAST(prev AS DOUBLE), 6) AS conv_from_prev,
           round(n_users / CAST(s1 AS DOUBLE), 6) AS conv_from_start
    FROM (
      SELECT 1 AS ord, 'signup' AS step, s1 AS n_users, s1 AS prev, s1 FROM counts
      UNION ALL SELECT 2, 'view', s2, s1, s1 FROM counts
      UNION ALL SELECT 3, 'click', s3, s2, s1 FROM counts
      UNION ALL SELECT 4, 'purchase', s4, s3, s1 FROM counts
    )
    """,
    tags=("agg", "funnel", "sequence", "A1"),
)
def funnel_step_waterfall(spark, sf_dir):
    """Four-step ordered funnel waterfall (signup → view → click →
    purchase): each step's timestamp is the FIRST occurrence strictly
    after the previous step's, computed per user from type-filtered
    sorted timestamp arrays with JVM higher-order filter/min — ONE
    fact-table shuffle, zero self-joins (the CEP chain that would
    otherwise be 3 correlated subqueries or 4 window passes). The
    waterfall (users reached, step-over-step and from-start conversion)
    then unpivots a single counts row. Per-user state is the user's own
    event timestamps — bounded by activity, the applyInPandasWithState
    sessionizer's bound, here in batch."""
    ev = _t(spark, sf_dir, "events")
    tlist = lambda t: F.sort_array(
        F.collect_list(F.when(F.col("event_type") == t, F.col("ts")))
    )
    per_user = ev.groupBy("user_id").agg(
        tlist("signup").alias("signups"),
        tlist("view").alias("views"),
        tlist("click").alias("clicks"),
        tlist("purchase").alias("purchases"),
    )
    nxt = lambda arr, after: F.array_min(
        F.filter(arr, lambda x: x > after)
    )
    steps = (
        per_user.withColumn("t1", F.array_min("signups"))
        .withColumn("t2", nxt(F.col("views"), F.col("t1")))
        .withColumn("t3", nxt(F.col("clicks"), F.col("t2")))
        .withColumn("t4", nxt(F.col("purchases"), F.col("t3")))
    )
    counts = steps.agg(
        F.count("t1").alias("s1"),
        F.count("t2").alias("s2"),
        F.count("t3").alias("s3"),
        F.count("t4").alias("s4"),
    )
    rows = []
    for ord_, step, cur, prev in (
        (1, "signup", "s1", "s1"),
        (2, "view", "s2", "s1"),
        (3, "click", "s3", "s2"),
        (4, "purchase", "s4", "s3"),
    ):
        rows.append(
            counts.select(
                F.lit(step).alias("step"),
                F.col(cur).cast("bigint").alias("n_users"),
                pround(F.col(cur) / F.col(prev).cast("double"), 6).alias(
                    "conv_from_prev"
                ),
                pround(F.col(cur) / F.col("s1").cast("double"), 6).alias(
                    "conv_from_start"
                ),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


@register(
    "referential_integrity_audit",
    """
    SELECT fk, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_orphans AS BIGINT) AS n_orphans
    FROM (
      SELECT 'orders.o_custkey->customer' AS fk, count(*) AS n_rows,
             count(*) FILTER (WHERE c.c_custkey IS NULL) AS n_orphans
      FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
      UNION ALL
      SELECT 'lineitem.l_orderkey->orders', count(*),
             count(*) FILTER (WHERE ok.o_orderkey IS NULL)
      FROM lineitem l LEFT JOIN orders ok ON ok.o_orderkey = l.l_orderkey
      UNION ALL
      SELECT 'lineitem.l_partkey->part', count(*),
             count(*) FILTER (WHERE p.p_partkey IS NULL)
      FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier', count(*),
             count(*) FILTER (WHERE s.s_suppkey IS NULL)
      FROM lineitem l LEFT JOIN supplier s ON s.s_suppkey = l.l_suppkey
      UNION ALL
      SELECT 'supplier.s_nationkey->nation', count(*),
             count(*) FILTER (WHERE n.n_nationkey IS NULL)
      FROM supplier s LEFT JOIN nation n ON n.n_nationkey = s.s_nationkey
      UNION ALL
      SELECT 'customer.c_nationkey->nation', count(*),
             count(*) FILTER (WHERE n.n_nationkey IS NULL)
      FROM customer c LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
      UNION ALL
      SELECT 'nation.n_regionkey->region', count(*),
             count(*) FILTER (WHERE r.r_regionkey IS NULL)
      FROM nation n LEFT JOIN region r ON r.r_regionkey = n.n_regionkey
    )
    """,
    tags=("join", "data-quality", "audit", "J7"),
)
def referential_integrity_audit(spark, sf_dir):
    """Referential-integrity audit across the whole star schema: orphan
    counts for all seven FK relationships in one result — the
    data-contract check a warehouse runs after every load (the
    `orders_quality_expectations` rule gate's cross-TABLE sibling).
    Each FK is a left join against the (distinct) key side counting
    null-extended probes; dimension key sides broadcast, and AQE plans
    each branch independently. At 100 TB the fact branches share their
    scans via the unioned plan's scan reuse."""
    defs = [
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ]
    out = None
    for fk, child, ck, parent, pk in defs:
        c = _t(spark, sf_dir, child).select(F.col(ck).alias("__ck"))
        p = _t(spark, sf_dir, parent).select(F.col(pk).alias("__pk")).distinct()
        j = c.join(p, c.__ck == p.__pk, "left")
        row = j.agg(
            F.lit(fk).alias("fk"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count(F.when(F.col("__pk").isNull(), 1)).cast("bigint").alias(
                "n_orphans"
            ),
        ).select("fk", "n_rows", "n_orphans")
        out = row if out is None else out.unionAll(row)
    return out


def _logreg_oracle(iters: int = 3, lr: float = 0.5) -> str:
    """Chained-CTE gradient-descent oracle for the logistic model. The
    8dp weight anchor after each step bounds cross-engine drift: libm vs
    JVM exp() differ by ≤1 ulp per row, gradients average those over the
    corpus (abs error ~1e-13), and the anchor grid is 1e-8."""
    ctes = [
        """f AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y,
             value / 100.0 AS x1,
             hour(ts) / 24.0 AS x2
      FROM events
    )""",
        "w0 AS (SELECT CAST(0.0 AS DOUBLE) AS a, CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS c)",
    ]
    for i in range(1, iters + 1):
        p = f"1.0 / (1.0 + exp(-(w.a + w.b * f.x1 + w.c * f.x2)))"
        ctes.append(
            f"""g{i} AS (
      SELECT avg(({p}) - f.y) AS ga,
             avg((({p}) - f.y) * f.x1) AS gb,
             avg((({p}) - f.y) * f.x2) AS gc
      FROM f CROSS JOIN w{i - 1} w
    )"""
        )
        ctes.append(
            f"""w{i} AS (
      SELECT round(w.a - {lr} * g.ga, 8) AS a,
             round(w.b - {lr} * g.gb, 8) AS b,
             round(w.c - {lr} * g.gc, 8) AS c
      FROM w{i - 1} w CROSS JOIN g{i} g
    )"""
        )
    p = "1.0 / (1.0 + exp(-(w.a + w.b * f.x1 + w.c * f.x2)))"
    return f"""
    WITH {",".join(ctes)}
    SELECT round(w.a, 6) AS w_bias,
           round(w.b, 6) AS w_value,
           round(w.c, 6) AS w_hour,
           round(avg(-f.y * ln(greatest({p}, 1e-15))
                     - (1.0 - f.y) * ln(greatest(1.0 - ({p}), 1e-15))), 6)
             AS log_loss,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM f CROSS JOIN w{iters} w
    GROUP BY w.a, w.b, w.c
    """


@register(
    "logistic_purchase_model",
    _logreg_oracle(),
    tags=("ml", "iterative", "gradient-descent", "A4"),
)
def logistic_purchase_model(spark, sf_dir):
    """Logistic regression by FIXED-STEP full-batch gradient descent
    (3 iterations, lr=0.5) predicting purchase events from (value,
    hour-of-day) — the fifth value-checked member of the iterative tier
    (k-means, PageRank, PCA, Holt). Each iteration is one corpus scan
    computing the 3-component mean gradient (a single partial
    aggregate; the weight vector is a broadcast single row — the
    big-data-small-model split again), then an 8dp weight-rounding
    anchor: libm-vs-JVM exp() divergence is ≤1 ulp per row and averages
    to ~1e-13, far under the 1e-8 grid, so both engines replay the
    identical weight trajectory. Output: weights + training log-loss."""
    iters, lr = 3, 0.5
    ev = _t(spark, sf_dir, "events")
    f = ev.select(
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("y"),
        (F.col("value") / 100.0).alias("x1"),
        (F.hour("ts") / 24.0).alias("x2"),
    )
    w = spark.range(1).select(
        F.lit(0.0).alias("a"), F.lit(0.0).alias("b"), F.lit(0.0).alias("c")
    )
    for _ in range(iters):
        p = 1.0 / (1.0 + F.exp(-(F.col("a") + F.col("b") * F.col("x1") + F.col("c") * F.col("x2"))))
        g = (
            f.crossJoin(F.broadcast(w))
            .agg(
                F.avg(p - F.col("y")).alias("ga"),
                F.avg((p - F.col("y")) * F.col("x1")).alias("gb"),
                F.avg((p - F.col("y")) * F.col("x2")).alias("gc"),
            )
        )
        w = (
            w.crossJoin(F.broadcast(g))
            .select(
                pround(F.col("a") - lr * F.col("ga"), 8).alias("a"),
                pround(F.col("b") - lr * F.col("gb"), 8).alias("b"),
                pround(F.col("c") - lr * F.col("gc"), 8).alias("c"),
            )
        )
    p = 1.0 / (1.0 + F.exp(-(F.col("a") + F.col("b") * F.col("x1") + F.col("c") * F.col("x2"))))
    return (
        f.crossJoin(F.broadcast(w))
        .groupBy("a", "b", "c")
        .agg(
            pround(
                # 1e-15 floor: a saturated sigmoid (perfect separation /
                # extreme z) makes p hit exactly 0/1 in double; Spark's
                # log(0) is NULL but DuckDB's ln(0) ERRORS, so both
                # lanes clamp identically (inactive on any non-separable
                # input — p stays strictly inside (0,1))
                F.avg(
                    -F.col("y") * F.log(F.greatest(p, F.lit(1e-15)))
                    - (1.0 - F.col("y"))
                    * F.log(F.greatest(1.0 - p, F.lit(1e-15)))
                ),
                6,
            ).alias("log_loss"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            pround("a", 6).alias("w_bias"),
            pround("b", 6).alias("w_value"),
            pround("c", 6).alias("w_hour"),
            "log_loss",
            F.col("n_rows").cast("bigint").alias("n_rows"),
        )
    )


@register(
    "mad_robust_outliers",
    f"""
    WITH {DAILY_SQL},
    med AS (
      SELECT user_id, median(close) AS med FROM daily GROUP BY user_id
    ),
    mad AS (
      SELECT d.user_id, max(m.med) AS med,
             median(abs(d.close - m.med)) AS mad
      FROM daily d JOIN med m ON m.user_id = d.user_id
      GROUP BY d.user_id
    )
    SELECT d.user_id, strftime(d.d, '%Y-%m-%d') AS trade_date,
           round(d.close, 4) AS close,
           round((d.close - a.med) / nullif(1.4826 * a.mad, 0), 4)
             AS robust_z
    FROM daily d JOIN mad a ON a.user_id = d.user_id
    WHERE abs((d.close - a.med) / nullif(1.4826 * a.mad, 0)) > 3.5
    """,
    tags=("agg", "stats", "robust", "anomaly", "A1"),
)
def mad_robust_outliers(spark, sf_dir):
    """Robust outlier detection via median/MAD z-scores — the
    breakdown-resistant complement to `rolling_zscore_anomalies`
    (mean/σ are themselves dragged by the outliers they hunt; the
    median absolute deviation is not). Two exact-percentile aggregates
    per user (median, then MAD of residuals vs the joined median) share
    the user_id clustering; 1.4826·MAD rescales to σ-equivalent units
    and |z| > 3.5 flags. Spark's `percentile(0.5)` and DuckDB's
    `median` share (n−1)·q interpolation, so the gate is exact."""
    daily = _daily_close(spark, sf_dir)
    med = daily.groupBy("user_id").agg(F.percentile("close", 0.5).alias("med"))
    mad = (
        daily.join(med, "user_id")
        .groupBy("user_id")
        .agg(
            F.max("med").alias("med"),
            F.percentile(F.abs(F.col("close") - F.col("med")), 0.5).alias("mad"),
        )
    )
    z = (F.col("close") - F.col("med")) / F.nullif(
        1.4826 * F.col("mad"), F.lit(0)
    )
    return (
        daily.join(mad, "user_id")
        .withColumn("robust_z", z)
        .filter(F.abs(F.col("robust_z")) > 3.5)
        .select(
            "user_id",
            F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
            pround("close", 4).alias("close"),
            pround("robust_z", 4).alias("robust_z"),
        )
    )


@register(
    "keyset_paginated_events",
    """
    SELECT CAST(event_id AS BIGINT) AS event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           round(value, 2) AS value
    FROM events
    WHERE (ts, event_id) > (TIMESTAMP '2024-01-15 12:00:00', 5000)
    ORDER BY ts, event_id
    LIMIT 100
    """,
    tags=("sort", "pagination", "O3", "scale-path"),
)
def keyset_paginated_events(spark, sf_dir):
    """KEYSET pagination — the scalable cursor idiom: resume from the
    last-seen (ts, event_id) tuple with a sargable range predicate +
    top-100, instead of OFFSET (which forces every page to re-sort and
    discard all preceding rows — O(page·depth) and unstable under
    concurrent writes). The tuple comparison decomposes to
    ts > c OR (ts = c AND id > cursor_id); the sort is
    TakeOrderedAndProject (never a global sort), and at rest the
    engine's date-partitioned layout prunes every partition before the
    cursor date. The API-backend pattern for paging a 100 TB event
    log."""
    ev = _t(spark, sf_dir, "events")
    c_ts = F.lit("2024-01-15 12:00:00").cast("timestamp")
    cursor = (F.col("ts") > c_ts) | (
        (F.col("ts") == c_ts) & (F.col("event_id") > 5000)
    )
    return (
        ev.filter(cursor)
        .orderBy("ts", "event_id")
        .limit(100)
        .select(
            F.col("event_id").cast("bigint").alias("event_id"),
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            pround("value", 2).alias("value"),
        )
    )


@register(
    "value_mean_families_by_type",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(value), 6) AS arith_mean,
           round(exp(avg(ln(value))), 6) AS geo_mean,
           round(count(*) / sum(1.0 / value), 6) AS harm_mean,
           round(median(value), 6) AS median_value
    FROM events WHERE value > 0
    GROUP BY event_type
    """,
    tags=("agg", "stats", "A1"),
)
def value_mean_families_by_type(spark, sf_dir):
    """The four mean families per event type in one pass — arithmetic,
    geometric (exp∘avg∘ln — THE mean for multiplicative quantities like
    returns; log-space summation also never overflows where a naive
    product would), harmonic (rates), and the exact median. All are
    single partial-aggregate computations; the positive-value guard is
    pushed to the scan. Ordering sensitivity of the ln/1/x sums is
    absorbed by the 6dp grid exactly as for plain sums."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value") > 0)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        pround(F.avg("value"), 6).alias("arith_mean"),
        pround(F.exp(F.avg(F.log("value"))), 6).alias("geo_mean"),
        pround(F.count(F.lit(1)) / F.sum(1.0 / F.col("value")), 6).alias(
            "harm_mean"
        ),
        pround(F.percentile("value", 0.5), 6).alias("median_value"),
    )


def _logreg_w3_ctes(lr: float = 0.5, iters: int = 3) -> str:
    """The w0..w{iters} gradient-descent CTE chain (shared with
    `_logreg_oracle`) ending with weight relation w{iters}."""
    ctes = [
        """f AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y,
             value / 100.0 AS x1,
             hour(ts) / 24.0 AS x2
      FROM events
    )""",
        "w0 AS (SELECT CAST(0.0 AS DOUBLE) AS a, CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS c)",
    ]
    for i in range(1, iters + 1):
        p = "1.0 / (1.0 + exp(-(w.a + w.b * f.x1 + w.c * f.x2)))"
        ctes.append(
            f"""g{i} AS (
      SELECT avg(({p}) - f.y) AS ga,
             avg((({p}) - f.y) * f.x1) AS gb,
             avg((({p}) - f.y) * f.x2) AS gc
      FROM f CROSS JOIN w{i - 1} w
    )"""
        )
        ctes.append(
            f"""w{i} AS (
      SELECT round(w.a - {lr} * g.ga, 8) AS a,
             round(w.b - {lr} * g.gb, 8) AS b,
             round(w.c - {lr} * g.gc, 8) AS c
      FROM w{i - 1} w CROSS JOIN g{i} g
    )"""
        )
    return ",".join(ctes)


@register(
    "logistic_calibration_deciles",
    f"""
    WITH {_logreg_w3_ctes()},
    scored AS (
      SELECT f.y,
             round(1.0 / (1.0 + exp(-(w.a + w.b * f.x1 + w.c * f.x2))), 8)
               AS p
      FROM f CROSS JOIN w3 w
    )
    SELECT LEAST(CAST(floor(p * 10.0) AS INT), 9) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(p), 6) AS mean_predicted,
           round(avg(y), 6) AS observed_rate
    FROM scored GROUP BY bucket
    """,
    tags=("ml", "iterative", "calibration", "A1"),
)
def logistic_calibration_deciles(spark, sf_dir):
    """Calibration (reliability) table for the gradient-descent logistic
    model: replay the identical 3-step weight trajectory
    (`logistic_purchase_model`'s anchors), score every event, bucket
    predicted probability into deciles, and compare mean prediction to
    the observed purchase rate per bucket — the ML-eval readout that
    tells you whether scores are usable AS probabilities. Scores round
    to 8dp before bucketing so boundary assignment is identical in both
    engines; bucketing + both rates are one aggregate over the scored
    scan."""
    iters, lr = 3, 0.5
    ev = _t(spark, sf_dir, "events")
    f = ev.select(
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("y"),
        (F.col("value") / 100.0).alias("x1"),
        (F.hour("ts") / 24.0).alias("x2"),
    )
    w = spark.range(1).select(
        F.lit(0.0).alias("a"), F.lit(0.0).alias("b"), F.lit(0.0).alias("c")
    )
    for _ in range(iters):
        p = 1.0 / (1.0 + F.exp(-(F.col("a") + F.col("b") * F.col("x1") + F.col("c") * F.col("x2"))))
        g = f.crossJoin(F.broadcast(w)).agg(
            F.avg(p - F.col("y")).alias("ga"),
            F.avg((p - F.col("y")) * F.col("x1")).alias("gb"),
            F.avg((p - F.col("y")) * F.col("x2")).alias("gc"),
        )
        w = w.crossJoin(F.broadcast(g)).select(
            pround(F.col("a") - lr * F.col("ga"), 8).alias("a"),
            pround(F.col("b") - lr * F.col("gb"), 8).alias("b"),
            pround(F.col("c") - lr * F.col("gc"), 8).alias("c"),
        )
    p = pround(
        1.0 / (1.0 + F.exp(-(F.col("a") + F.col("b") * F.col("x1") + F.col("c") * F.col("x2")))),
        8,
    )
    scored = f.crossJoin(F.broadcast(w)).select("y", p.alias("p"))
    bucket = F.least(F.floor(F.col("p") * 10.0).cast("int"), F.lit(9))
    return scored.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        pround(F.avg("p"), 6).alias("mean_predicted"),
        pround(F.avg("y"), 6).alias("observed_rate"),
    )


@register(
    "twap_daily",
    """
    WITH seq AS (
      SELECT user_id, CAST(ts AS DATE) AS d, value,
             CAST(epoch_us(lead(ts) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                          ORDER BY ts, event_id)
                           - ts) AS DOUBLE) / 1e6 AS dt
      FROM events
    )
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           CAST(count(dt) AS BIGINT) AS n_intervals,
           round(sum(value * dt) / sum(dt), 6) AS twap
    FROM seq WHERE dt IS NOT NULL AND dt > 0
    GROUP BY user_id, d
    """,
    tags=("window", "twap", "W3", "temporal"),
)
def twap_daily(spark, sf_dir):
    """Time-weighted average price over IRREGULAR observations — each
    value weighted by how long it remained current (interval to the
    next same-day observation via lead), the correct average when
    sampling is uneven (a plain avg over-weights burst periods; the
    time-weighted complement to the volume-weighted `vwap_daily`). One
    window sort shared with nothing; zero-length intervals (same-μs
    ties) drop identically in both engines; the final aggregate groups
    on the window's own partition keys — exchange reused."""
    ev = _t(spark, sf_dir, "events")
    d = F.to_date("ts")
    w = W.partitionBy("user_id", d.alias("d")).orderBy("ts", "event_id")
    dt = (
        F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
    ).cast("double") / 1e6
    seq = ev.select(
        "user_id", d.alias("d"), "value", dt.alias("dt")
    ).filter(F.col("dt").isNotNull() & (F.col("dt") > 0))
    return seq.groupBy(
        "user_id", F.date_format("d", "yyyy-MM-dd").alias("trade_date")
    ).agg(
        F.count("dt").alias("n_intervals"),
        pround(F.sum(F.col("value") * F.col("dt")) / F.sum("dt"), 6).alias(
            "twap"
        ),
    )


@register(
    "recency_weighted_user_value",
    """
    WITH mx AS (SELECT max(ts) AS m FROM events),
    wgt AS (
      SELECT user_id, value,
             exp(-0.05 * (CAST(epoch_us(mx.m - ts) AS DOUBLE) / 86400e6))
               AS w
      FROM events CROSS JOIN mx
      WHERE event_type = 'purchase'
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(sum(value * w), 4) AS recency_weighted_value,
           round(sum(value), 4) AS raw_value
    FROM wgt GROUP BY user_id
    """,
    tags=("agg", "recency", "scoring", "A1"),
)
def recency_weighted_user_value(spark, sf_dir):
    """Exponential recency-decay scoring: each purchase discounted by
    exp(−λ·age_days) against the dataset horizon (λ=0.05 ≈ 14-day
    half-life) — the engagement/LTV signal that a plain sum cannot
    express and a window cannot either (the weight depends on global
    NOW, not on neighbors). Single-row horizon broadcast + map-only
    weighting + one aggregate; age computed in exact microseconds on
    both engines before the one transcendental."""
    ev = _t(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("m"))
    age_days = (
        F.unix_micros(F.col("m")) - F.unix_micros(F.col("ts"))
    ).cast("double") / 86400e6
    wgt = (
        ev.filter(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(mx))
        .select("user_id", "value", F.exp(-0.05 * age_days).alias("w"))
    )
    return wgt.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        pround(F.sum(F.col("value") * F.col("w")), 4).alias(
            "recency_weighted_value"
        ),
        pround(F.sum("value"), 4).alias("raw_value"),
    )


@register(
    "surplus_click_days_except_all",
    """
    WITH clicks AS (
      SELECT user_id, CAST(ts AS DATE) AS d FROM events
      WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, CAST(ts AS DATE) AS d FROM events
      WHERE event_type = 'purchase'
    ),
    surplus AS (
      SELECT user_id, d FROM clicks
      EXCEPT ALL
      SELECT user_id, d FROM purchases
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS surplus_clicks,
           CAST(count(DISTINCT d) AS BIGINT) AS n_days
    FROM surplus GROUP BY user_id
    """,
    tags=("set-op", "except-all", "multiset"),
)
def surplus_click_days_except_all(spark, sf_dir):
    """EXCEPT ALL — MULTISET difference (the §2.7 set-op family's bag
    semantics completion): per (user, day), click occurrences surviving
    after cancelling one-for-one against purchase occurrences — "clicks
    beyond your purchase count", which plain EXCEPT (set semantics)
    cannot express (it would erase days with ANY purchase). Spark's
    `exceptAll` and DuckDB's EXCEPT ALL share the count-difference
    semantics; both plan it as a counted aggregate + generate, one
    shuffle per side."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.to_date("ts").alias("d")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.to_date("ts").alias("d")
    )
    surplus = clicks.exceptAll(purchases)
    return surplus.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("surplus_clicks"),
        F.countDistinct("d").alias("n_days"),
    )


@register(
    "null_ordering_price_ranks",
    """
    WITH sample AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_totalprice END AS px
      FROM orders WHERE o_orderkey <= 500
    )
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           round(px, 2) AS px,
           CAST(row_number() OVER (ORDER BY px ASC NULLS FIRST, o_orderkey)
                AS INT) AS rn_nulls_first,
           CAST(row_number() OVER (ORDER BY px DESC NULLS LAST, o_orderkey)
                AS INT) AS rn_desc_nulls_last
    FROM sample
    """,
    tags=("sort", "null-ordering", "O1"),
)
def null_ordering_price_ranks(spark, sf_dir):
    """Explicit NULLS FIRST / NULLS LAST ordering — the cross-engine trap
    made safe: Spark's DEFAULT is nulls-first-on-ASC while DuckDB's is
    nulls-LAST, so any ORDER BY over a nullable key silently ranks
    differently unless the placement is pinned. Every ranked query in
    this registry either orders non-nullable keys or pins placement;
    this query is the discipline made visible — both polarities ranked
    over an injected-null price sample, hash-checked. Bounded input
    (≤500 keys) keeps the global windows trivially small."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    sample = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, None)
        .otherwise(F.col("o_totalprice"))
        .alias("px"),
    )
    return sample.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        pround("px", 2).alias("px"),
        F.row_number()
        .over(W.orderBy(F.col("px").asc_nulls_first(), "o_orderkey"))
        .cast("int")
        .alias("rn_nulls_first"),
        F.row_number()
        .over(W.orderBy(F.col("px").desc_nulls_last(), "o_orderkey"))
        .cast("int")
        .alias("rn_desc_nulls_last"),
    )


@register(
    "decimal_exact_revenue",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18, 2))
                         AS DECIMAL(28, 2))) AS VARCHAR) AS exact_revenue
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "decimal", "A1", "exactness"),
)
def decimal_exact_revenue(spark, sf_dir):
    """EXACT decimal aggregation — the financial-ledger lane: totals as
    DECIMAL(18,2) summed in integer arithmetic, so the result is exact
    to the cent with NO rounding grid anywhere (every double-typed sum
    in this registry needs the portable-round discipline; fixed-point
    doesn't). The output is the decimal's canonical string, pinning the
    representation across engines. At 100 TB the decimal aggregate is
    the same partial-combine shuffle as a double sum — Tungsten stores
    small-precision decimals as longs — at exactness a float lane can
    never guarantee."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(28,2)")
        .cast("string")
        .alias("exact_revenue"),
    )


@register(
    "cusum_mean_shift_alerts",
    f"""
    WITH {DAILY_SQL},
    stats AS (
      SELECT user_id, avg(close) AS mu, stddev_samp(close) AS sd
      FROM daily GROUP BY user_id
    ),
    d AS (
      SELECT daily.user_id, daily.d, close, mu, sd,
             close - mu - 0.5 * sd AS dup,
             -(close - mu) - 0.5 * sd AS ddn
      FROM daily JOIN stats ON stats.user_id = daily.user_id
      WHERE sd > 0
    ),
    pre AS (
      SELECT user_id, d, close, sd,
             sum(dup) OVER w AS sup, sum(ddn) OVER w AS sdn
      FROM d
      WINDOW w AS (PARTITION BY user_id ORDER BY d)
    ),
    ref AS (
      SELECT user_id, d, close, sd,
             sup - least(0.0, min(sup) OVER w) AS cusum_up,
             sdn - least(0.0, min(sdn) OVER w) AS cusum_dn
      FROM pre
      WINDOW w AS (PARTITION BY user_id ORDER BY d)
    )
    SELECT user_id, strftime(d, '%Y-%m-%d') AS trade_date,
           round(close, 4) AS close,
           round(cusum_up / sd, 4) AS cusum_up_sigma,
           round(cusum_dn / sd, 4) AS cusum_dn_sigma
    FROM ref
    WHERE cusum_up > 4 * sd OR cusum_dn > 4 * sd
    """,
    tags=("window", "cusum", "changepoint", "W10", "reflection"),
)
def cusum_mean_shift_alerts(spark, sf_dir):
    """CUSUM change-point detection — persistent MEAN SHIFTS, which
    outlier detectors (z-score, MAD) miss by construction: the
    one-sided cumulative sums S_t = max(0, S_{t-1} + (x_t − μ − k))
    with slack k = 0.5σ, alerting past 4σ. The clamped recurrence
    rewrites to pure windows by the SAME reflection identity as
    `floored_running_balance` (S_t = prefix − min(0, running-min)) —
    both directions, both windows, and the per-user μ/σ aggregate all
    share or broadcast against the one per-user exchange. The control-
    chart operator a monitoring pipeline runs over every metric."""
    daily = _daily_close(spark, sf_dir)
    stats = daily.groupBy("user_id").agg(
        F.avg("close").alias("mu"), F.stddev_samp("close").alias("sd")
    )
    d = (
        daily.join(stats, "user_id")
        .filter(F.col("sd") > 0)
        .select(
            "user_id",
            "d",
            "close",
            "sd",
            (F.col("close") - F.col("mu") - 0.5 * F.col("sd")).alias("dup"),
            (-(F.col("close") - F.col("mu")) - 0.5 * F.col("sd")).alias("ddn"),
        )
    )
    w = W.partitionBy("user_id").orderBy("d")
    pre = d.select(
        "user_id", "d", "close", "sd",
        F.sum("dup").over(w).alias("sup"),
        F.sum("ddn").over(w).alias("sdn"),
    )
    ref = pre.select(
        "user_id", "d", "close", "sd",
        (F.col("sup") - F.least(F.lit(0.0), F.min("sup").over(w))).alias("cusum_up"),
        (F.col("sdn") - F.least(F.lit(0.0), F.min("sdn").over(w))).alias("cusum_dn"),
    )
    return ref.filter(
        (F.col("cusum_up") > 4 * F.col("sd"))
        | (F.col("cusum_dn") > 4 * F.col("sd"))
    ).select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("trade_date"),
        pround("close", 4).alias("close"),
        pround(F.col("cusum_up") / F.col("sd"), 4).alias("cusum_up_sigma"),
        pround(F.col("cusum_dn") / F.col("sd"), 4).alias("cusum_dn_sigma"),
    )


@register(
    "coactivity_triangle_count",
    """
    WITH baskets AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type
      FROM events
    ),
    copresent AS (
      SELECT a.user_id AS u, b.user_id AS v, count(*) AS n_shared
      FROM baskets a
      JOIN baskets b ON a.d = b.d AND a.event_type = b.event_type
                    AND a.user_id < b.user_id
      GROUP BY a.user_id, b.user_id
    ),
    edges AS (SELECT u, v FROM copresent WHERE n_shared >= 25),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
           CAST(count(*) AS BIGINT) AS n_triangles
    FROM tri
    """,
    tags=("graph", "join", "triangles", "J3"),
)
def coactivity_triangle_count(spark, sf_dir):
    """Triangle counting — the graph-tier completion (components,
    PageRank, now clustering structure): users are tied when they share
    ≥25 (day, type) activity baskets, and triangles are enumerated by
    the textbook two-join on the ORIENTED edge list (u < v everywhere,
    so each triangle materializes exactly once, no division by 6).
    Edge building is the basket self-join with per-basket-bounded
    fanout (the event_pair_lift discipline); the triangle joins run on
    the thresholded edge relation — orders of magnitude smaller than
    the fact table, the standard densest-first reality of co-presence
    graphs. Output: edge + triangle counts (the graph's clustering
    summary)."""
    ev = _t(spark, sf_dir, "events")
    baskets = ev.select(
        "user_id", F.to_date("ts").alias("d"), "event_type"
    ).distinct()
    a = baskets.alias("a")
    b = baskets.alias("b")
    copresent = (
        a.join(
            b,
            (F.col("a.d") == F.col("b.d"))
            & (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    edges = copresent.filter(F.col("n_shared") >= 25).select("u", "v")
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
    )
    ne = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    nt = tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    return ne.crossJoin(F.broadcast(nt))


@register(
    "ab_test_welch_t",
    """
    WITH armed AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm, value
      FROM events WHERE event_type = 'purchase'
    ),
    s AS (
      SELECT arm, count(*) AS n, avg(value) AS mu, var_samp(value) AS v
      FROM armed GROUP BY arm
    ),
    w AS (
      SELECT a.n AS n_a, a.mu AS mu_a, a.v AS v_a,
             b.n AS n_b, b.mu AS mu_b, b.v AS v_b
      FROM s a JOIN s b ON a.arm = 'A' AND b.arm = 'B'
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(mu_a, 4) AS mean_a, round(mu_b, 4) AS mean_b,
           round(mu_a - mu_b, 4) AS diff,
           round((mu_a - mu_b) / sqrt(v_a / n_a + v_b / n_b), 4) AS t_stat,
           round(pow(v_a / n_a + v_b / n_b, 2)
                 / (pow(v_a / n_a, 2) / (n_a - 1)
                    + pow(v_b / n_b, 2) / (n_b - 1)), 2) AS welch_df
    FROM w
    """,
    tags=("stats", "ab-test", "A4"),
)
def ab_test_welch_t(spark, sf_dir):
    """Welch's two-sample t-test — the experimentation-analytics
    primitive: purchase values split into deterministic arms (user
    parity stands in for the assignment hash), compared by the
    unequal-variance t statistic with the Welch–Satterthwaite degrees
    of freedom. One fact aggregate to two rows, then scalar algebra —
    the entire test costs one scan at any data size, which is why
    experiment platforms run thousands of these per day. (The
    deterministic md5-bucket assignment the engine's splits use —
    `train_test_split_stats` — is the production arm-assignment.)"""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    armed = ev.select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("arm"),
        "value",
    )
    s = armed.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("mu"),
        F.var_samp("value").alias("v"),
    )
    a = s.filter(F.col("arm") == "A").select(
        F.col("n").alias("n_a"), F.col("mu").alias("mu_a"), F.col("v").alias("v_a")
    )
    b = s.filter(F.col("arm") == "B").select(
        F.col("n").alias("n_b"), F.col("mu").alias("mu_b"), F.col("v").alias("v_b")
    )
    w = a.crossJoin(F.broadcast(b))
    se2 = F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    return w.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        pround("mu_a", 4).alias("mean_a"),
        pround("mu_b", 4).alias("mean_b"),
        pround(F.col("mu_a") - F.col("mu_b"), 4).alias("diff"),
        pround((F.col("mu_a") - F.col("mu_b")) / F.sqrt(se2), 4).alias("t_stat"),
        pround(
            F.pow(se2, 2)
            / (
                F.pow(F.col("v_a") / F.col("n_a"), 2) / (F.col("n_a") - 1)
                + F.pow(F.col("v_b") / F.col("n_b"), 2) / (F.col("n_b") - 1)
            ),
            2,
        ).alias("welch_df"),
    )


@register(
    "ab_test_conversion_z",
    """
    WITH arms AS (
      SELECT user_id, CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT arm, count(*) AS n, sum(converted) AS x FROM arms GROUP BY arm
    ),
    w AS (
      SELECT a.n AS n_a, a.x AS x_a, b.n AS n_b, b.x AS x_b,
             (a.x + b.x) / CAST(a.n + b.n AS DOUBLE) AS p_pool
      FROM s a JOIN s b ON a.arm = 'A' AND b.arm = 'B'
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(x_a / CAST(n_a AS DOUBLE), 6) AS rate_a,
           round(x_b / CAST(n_b AS DOUBLE), 6) AS rate_b,
           round((x_a / CAST(n_a AS DOUBLE) - x_b / CAST(n_b AS DOUBLE))
                 / nullif(sqrt(p_pool * (1 - p_pool)
                               * (1.0 / n_a + 1.0 / n_b)), 0), 4) AS z_stat
    FROM w
    """,
    tags=("stats", "ab-test", "proportion", "A1"),
)
def ab_test_conversion_z(spark, sf_dir):
    """Two-proportion z-test on USER-level conversion (did the user
    purchase at all?) — the binary-outcome companion to the Welch test,
    with the pooled-variance standard error. The unit of analysis is
    the user, not the event (rate ratios computed on events are the
    classic pseudo-replication bug), so the first aggregate collapses
    events to per-user conversion flags on the user clustering, then
    two rows of scalar algebra."""
    ev = _t(spark, sf_dir, "events")
    arms = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("arm"),
        "converted",
    )
    s = arms.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("x")
    )
    a = s.filter(F.col("arm") == "A").select(
        F.col("n").alias("n_a"), F.col("x").alias("x_a")
    )
    b = s.filter(F.col("arm") == "B").select(
        F.col("n").alias("n_b"), F.col("x").alias("x_b")
    )
    w = a.crossJoin(F.broadcast(b)).withColumn(
        "p_pool",
        (F.col("x_a") + F.col("x_b"))
        / (F.col("n_a") + F.col("n_b")).cast("double"),
    )
    ra = F.col("x_a") / F.col("n_a").cast("double")
    rb = F.col("x_b") / F.col("n_b").cast("double")
    se = F.sqrt(
        F.col("p_pool")
        * (1 - F.col("p_pool"))
        * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return w.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        pround(ra, 6).alias("rate_a"),
        pround(rb, 6).alias("rate_b"),
        pround((ra - rb) / F.nullif(se, F.lit(0)), 4).alias("z_stat"),
    )


@register(
    "winsorized_value_means",
    """
    WITH fences AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(e.value), 6) AS raw_mean,
           round(avg(least(greatest(e.value, f.lo), f.hi)), 6)
             AS winsorized_mean,
           CAST(count(*) FILTER (WHERE e.value < f.lo OR e.value > f.hi)
                AS BIGINT) AS n_clipped
    FROM events e JOIN fences f ON f.event_type = e.event_type
    GROUP BY e.event_type
    """,
    tags=("stats", "robust", "winsorize", "A1"),
)
def winsorized_value_means(spark, sf_dir):
    """Winsorized means — tail-robust averaging by CLIPPING at the
    group's own p05/p95 (versus trimming, which drops; versus MAD,
    which flags): the estimator of record wherever a handful of extreme
    values would otherwise own the mean. Two passes sharing the
    event_type clustering: exact interpolated fences per group (tiny
    relation, AQE-broadcast back), then a map-side clip + aggregate."""
    ev = _t(spark, sf_dir, "events")
    fences = ev.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("lo"),
        F.percentile("value", 0.95).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        ev.join(F.broadcast(fences), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            pround(F.avg("value"), 6).alias("raw_mean"),
            pround(F.avg(clipped), 6).alias("winsorized_mean"),
            F.count(
                F.when(
                    (F.col("value") < F.col("lo"))
                    | (F.col("value") > F.col("hi")),
                    1,
                )
            ).cast("bigint").alias("n_clipped"),
        )
    )


@register(
    "market_concentration_hhi",
    """
    WITH rev AS (
      SELECT s.s_nationkey, sum(l.l_extendedprice) AS r
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY s.s_nationkey
    ),
    tot AS (SELECT sum(r) AS t FROM rev)
    SELECT CAST(count(*) AS INT) AS n_nations,
           round(sum(pow(r / t * 100, 2)), 2) AS hhi,
           round(max(r / t), 6) AS top_share,
           round(sum(pow(r / t, 2)), 6) AS simpson_index
    FROM rev CROSS JOIN tot
    """,
    tags=("stats", "concentration", "hhi", "A4"),
)
def market_concentration_hhi(spark, sf_dir):
    """Herfindahl–Hirschman market concentration of supplier revenue by
    nation — the antitrust/portfolio-concentration screen (HHI > 2500 =
    highly concentrated), with the top share and the Simpson index (the
    probability two random revenue dollars share a nation —
    `event_key_skew_profile`'s Gini cousin, squared-share form). The
    revenue relation aggregates the fact table to ≤25 rows; everything
    after is scalar."""
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    rev = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .groupBy("s_nationkey")
        .agg(F.sum("l_extendedprice").alias("r"))
    )
    tot = rev.agg(F.sum("r").alias("t"))
    share = F.col("r") / F.col("t")
    return (
        rev.crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_nations"),
            pround(F.sum(F.pow(share * 100, 2)), 2).alias("hhi"),
            pround(F.max(share), 6).alias("top_share"),
            pround(F.sum(F.pow(share, 2)), 6).alias("simpson_index"),
        )
    )


@register(
    "price_elasticity_by_brand",
    """
    WITH obs AS (
      SELECT p.p_brand,
             ln(l.l_extendedprice / l.l_quantity) AS ln_price,
             ln(l.l_quantity) AS ln_qty
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
    )
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_obs,
           round(covar_pop(ln_price, ln_qty) / nullif(var_pop(ln_price), 0), 4)
             AS elasticity,
           round(corr(ln_price, ln_qty), 4) AS r
    FROM obs GROUP BY p_brand
    """,
    tags=("stats", "ols", "econometrics", "A1"),
)
def price_elasticity_by_brand(spark, sf_dir):
    """Log-log price elasticity of demand per brand — the econometric
    OLS: d ln(qty) / d ln(unit price) in closed covariance form (the
    `price_trend_slope_per_user` estimator on log-transformed
    variables, where the slope IS the elasticity). One broadcast dim
    join + one mergeable-aggregate pass; the positivity guards are
    pushed to the scan. (Synthetic TPC-H-ish quantities are
    price-independent, so estimates hover near zero — the operator, not
    the economics, is under test.)"""
    li = _t(spark, sf_dir, "lineitem")
    pa = _t(spark, sf_dir, "part")
    obs = (
        li.filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
        .join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .select(
            "p_brand",
            F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "ln_price"
            ),
            F.log("l_quantity").alias("ln_qty"),
        )
    )
    return obs.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_obs"),
        pround(
            F.covar_pop("ln_price", "ln_qty")
            / F.nullif(F.var_pop("ln_price"), F.lit(0)),
            4,
        ).alias("elasticity"),
        pround(F.corr("ln_price", "ln_qty"), 4).alias("r"),
    )


@register(
    "kaplan_meier_signup_to_purchase",
    """
    WITH horizon AS (SELECT max(ts) AS h FROM events),
    t0 AS (
      SELECT user_id, min(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    te AS (
      SELECT t0.user_id,
             min(e.ts) AS purchase_ts
      FROM t0 JOIN events e ON e.user_id = t0.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t0.signup_ts
      GROUP BY t0.user_id
    ),
    subj AS (
      SELECT t0.user_id,
             CASE WHEN te.purchase_ts IS NOT NULL THEN 1 ELSE 0 END AS ev,
             CAST(floor(CAST(epoch_us(
               coalesce(te.purchase_ts, h.h) - t0.signup_ts
             ) AS DOUBLE) / 3600e6) AS BIGINT) AS dur_h
      FROM t0 LEFT JOIN te ON te.user_id = t0.user_id
      CROSS JOIN horizon h
    ),
    grp AS (
      SELECT dur_h, count(*) AS m, sum(ev) AS d
      FROM subj GROUP BY dur_h
    ),
    risk AS (
      SELECT dur_h, m, d,
             (SELECT count(*) FROM subj) AS n_total,
             coalesce(sum(m) OVER (ORDER BY dur_h
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS before_m
      FROM grp
    ),
    km AS (
      SELECT dur_h, d, n_total - before_m AS n_risk,
             CASE WHEN max(CASE WHEN d = n_total - before_m THEN 1 ELSE 0 END)
                       OVER (ORDER BY dur_h) = 1
                  THEN 0.0
                  ELSE exp(sum(ln(CASE WHEN d = n_total - before_m THEN 1.0
                                       ELSE 1.0 - d / CAST(n_total - before_m AS DOUBLE)
                                  END)) OVER (ORDER BY dur_h))
             END AS s
      FROM risk WHERE d > 0
    )
    SELECT CAST(dur_h AS BIGINT) AS duration_hours,
           CAST(d AS BIGINT) AS n_events,
           CAST(n_risk AS BIGINT) AS n_at_risk,
           round(s, 6) AS survival
    FROM km
    """,
    tags=("stats", "survival", "kaplan-meier", "window"),
)
def kaplan_meier_signup_to_purchase(spark, sf_dir):
    """Kaplan-Meier product-limit survival — time from first signup to
    first subsequent purchase with RIGHT-CENSORING at the data horizon
    (users who never purchased contribute at-risk time, which a naive
    'average time to purchase over converters' silently discards — the
    survivorship bias this estimator exists to kill). Per-user
    durations reduce to an hours-grouped (m, d) relation; the at-risk
    count and the product limit (as exp of a running ln-sum — the
    overflow-safe product idiom) are windows over that tiny relation.
    Everything global happens on per-duration aggregates — bounded."""
    ev = _t(spark, sf_dir, "events")
    horizon = ev.agg(F.max("ts").alias("h"))
    t0 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    te = (
        t0.join(ev.filter(F.col("event_type") == "purchase"), "user_id")
        .filter(F.col("ts") > F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    subj = (
        t0.join(te, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(F.col("purchase_ts").isNotNull(), 1).otherwise(0).alias("ev"),
            F.floor(
                (
                    F.unix_micros(F.coalesce("purchase_ts", "h"))
                    - F.unix_micros("signup_ts")
                ).cast("double")
                / 3600e6
            ).cast("bigint").alias("dur_h"),
        )
    )
    grp = subj.groupBy("dur_h").agg(
        F.count(F.lit(1)).alias("m"), F.sum("ev").alias("d")
    )
    n_total = subj.agg(F.count(F.lit(1)).alias("n_total"))
    w_prev = W.orderBy("dur_h").rowsBetween(W.unboundedPreceding, -1)
    w_run = W.orderBy("dur_h")
    risk = (
        grp.crossJoin(F.broadcast(n_total))
        .withColumn("before_m", F.coalesce(F.sum("m").over(w_prev), F.lit(0)))
        .withColumn("n_risk", F.col("n_total") - F.col("before_m"))
        .filter(F.col("d") > 0)
    )
    # ln(0) guard: when an at-risk set fully converts, survival hits
    # exactly 0 and stays there — flagged via a running max instead of
    # ever evaluating ln(0) (DuckDB raises on it eagerly)
    exhausted = F.max(
        F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0)
    ).over(w_run)
    safe_term = F.when(F.col("d") == F.col("n_risk"), 1.0).otherwise(
        1.0 - F.col("d") / F.col("n_risk").cast("double")
    )
    km = risk.withColumn(
        "s",
        F.when(exhausted == 1, 0.0).otherwise(
            F.exp(F.sum(F.log(safe_term)).over(w_run))
        ),
    )
    return km.select(
        F.col("dur_h").cast("bigint").alias("duration_hours"),
        F.col("d").cast("bigint").alias("n_events"),
        F.col("n_risk").cast("bigint").alias("n_at_risk"),
        pround("s", 6).alias("survival"),
    )


@register(
    "interarrival_burstiness_per_user",
    """
    WITH gaps AS (
      SELECT user_id,
             CAST(epoch_us(ts - lag(ts) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id))
                  AS DOUBLE) / 1e6 AS gap_s
      FROM events
    )
    SELECT user_id,
           CAST(count(gap_s) AS BIGINT) AS n_gaps,
           round(avg(gap_s), 4) AS mean_gap_s,
           round(stddev_samp(gap_s), 4) AS sd_gap_s,
           round((stddev_samp(gap_s) - avg(gap_s))
                 / nullif(stddev_samp(gap_s) + avg(gap_s), 0), 6)
             AS burstiness
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY user_id
    """,
    tags=("stats", "temporal", "burstiness", "W1"),
)
def interarrival_burstiness_per_user(spark, sf_dir):
    """Inter-arrival burstiness B = (σ−μ)/(σ+μ) of each user's event
    gaps — the temporal-pattern classifier (B→−1 periodic, 0 Poisson,
    →+1 bursty) behind rate limiting, bot detection, and session-gap
    tuning (it is the principled way to pick `sessionize`'s gap
    parameter). One lag window and one aggregate on the same user
    clustering."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).cast(
                "double"
            )
            / 1e6
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    b = (F.stddev_samp("gap_s") - F.avg("gap_s")) / F.nullif(
        F.stddev_samp("gap_s") + F.avg("gap_s"), F.lit(0)
    )
    return gaps.groupBy("user_id").agg(
        F.count("gap_s").alias("n_gaps"),
        pround(F.avg("gap_s"), 4).alias("mean_gap_s"),
        pround(F.stddev_samp("gap_s"), 4).alias("sd_gap_s"),
        pround(b, 6).alias("burstiness"),
    )


@register(
    "pareto_revenue_coverage",
    """
    WITH per_cust AS (
      SELECT o_custkey, sum(o_totalprice) AS r FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT r,
             row_number() OVER (ORDER BY r DESC, o_custkey) AS rk,
             sum(r) OVER (ORDER BY r DESC, o_custkey) AS cum_r,
             sum(r) OVER () AS tot,
             count(*) OVER () AS n
      FROM per_cust
    )
    SELECT CAST(min(rk) AS BIGINT) AS n_top_customers,
           CAST(max(n) AS BIGINT) AS n_customers,
           round(min(rk) / CAST(max(n) AS DOUBLE), 6) AS customer_share,
           round(min(cum_r / tot) FILTER (WHERE cum_r / tot >= 0.8), 6)
             AS revenue_share_reached
    FROM ranked WHERE cum_r / tot >= 0.8
    """,
    tags=("stats", "pareto", "concentration", "window"),
)
def pareto_revenue_coverage(spark, sf_dir):
    """Pareto 80/20 coverage: the smallest top-revenue customer set
    whose cumulative share reaches 80% — the account-prioritization
    readout (and the practical face of `market_concentration_hhi`).
    Descending cumulative share over the per-customer AGGREGATE
    (bounded-global-window discipline, custkey tiebreak), then the
    first crossing row."""
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("r"))
    w = W.orderBy(F.col("r").desc(), "o_custkey")
    ranked = per_cust.select(
        "r",
        F.row_number().over(w).alias("rk"),
        F.sum("r").over(w).alias("cum_r"),
        F.sum("r").over(W.partitionBy()).alias("tot"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
    )
    crossed = ranked.filter(F.col("cum_r") / F.col("tot") >= 0.8)
    return crossed.agg(
        F.min("rk").cast("bigint").alias("n_top_customers"),
        F.max("n").cast("bigint").alias("n_customers"),
        pround(F.min("rk") / F.max("n").cast("double"), 6).alias(
            "customer_share"
        ),
        pround(
            F.min(
                F.when(
                    F.col("cum_r") / F.col("tot") >= 0.8,
                    F.col("cum_r") / F.col("tot"),
                )
            ),
            6,
        ).alias("revenue_share_reached"),
    )


@register(
    "coactivity_degree_distribution",
    """
    WITH baskets AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type
      FROM events
    ),
    copresent AS (
      SELECT a.user_id AS u, b.user_id AS v
      FROM baskets a
      JOIN baskets b ON a.d = b.d AND a.event_type = b.event_type
                    AND a.user_id < b.user_id
      GROUP BY a.user_id, b.user_id
      HAVING count(*) >= 25
    ),
    deg AS (
      SELECT node, count(*) AS degree FROM (
        SELECT u AS node FROM copresent
        UNION ALL SELECT v FROM copresent
      ) GROUP BY node
    )
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
    tags=("graph", "degree", "A1"),
)
def coactivity_degree_distribution(spark, sf_dir):
    """Degree distribution of the co-activity graph (same edge law as
    `coactivity_triangle_count`) — the first diagnostic of any graph
    workload: a heavy-tailed degree histogram predicts skewed join keys
    (hub nodes) and tells you whether PageRank/components need the
    salting path. Undirected degrees from the oriented edge list via
    the two-sided union; the histogram groups the per-node aggregate."""
    ev = _t(spark, sf_dir, "events")
    baskets = ev.select(
        "user_id", F.to_date("ts").alias("d"), "event_type"
    ).distinct()
    a = baskets.alias("a")
    b = baskets.alias("b")
    copresent = (
        a.join(
            b,
            (F.col("a.d") == F.col("b.d"))
            & (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 25)
        .select("u", "v")
    )
    deg = (
        copresent.select(F.col("u").alias("node"))
        .unionAll(copresent.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy(F.col("degree").cast("bigint").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


@register(
    "value_psi_drift",
    """
    WITH med AS (SELECT median(epoch_us(ts)) AS mid FROM events),
    b AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
    binned AS (
      SELECT CASE WHEN epoch_us(ts) <= mid THEN 'ref' ELSE 'cur' END AS period,
             LEAST(CAST(floor((value - lo) / ((hi - lo) / 10.0)) AS INT), 9)
               AS bin
      FROM events, med, b
    ),
    cnt AS (
      SELECT bin,
             sum(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) AS n_ref,
             sum(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS n_cur
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT CAST(sum(n_ref) AS DOUBLE) AS t_ref,
             CAST(sum(n_cur) AS DOUBLE) AS t_cur
      FROM cnt
    ),
    p AS (
      SELECT bin,
             (n_ref + 0.5) / (t_ref + 5.0) AS p_ref,
             (n_cur + 0.5) / (t_cur + 5.0) AS p_cur
      FROM cnt CROSS JOIN tot
    )
    SELECT bin,
           round(p_ref, 6) AS p_ref,
           round(p_cur, 6) AS p_cur,
           round((p_cur - p_ref) * ln(p_cur / p_ref), 8) AS psi_term,
           round(sum((p_cur - p_ref) * ln(p_cur / p_ref)) OVER (), 6)
             AS psi_total
    FROM p
    """,
    tags=("stats", "drift", "psi", "monitoring"),
)
def value_psi_drift(spark, sf_dir):
    """Population Stability Index — the model-monitoring drift metric
    (PSI < 0.1 stable, > 0.25 retrain): the value distribution's first
    time-half (reference) vs second (current) over a shared 10-bin
    grid, Laplace-smoothed (+0.5/bin — a PSI on raw counts is undefined
    the moment a bin empties, which is exactly when you need it) so the
    metric is total and both engines agree bit-for-bit. The period
    split keys on the exact median timestamp — a deterministic,
    data-derived boundary. Per-bin terms plus the headline total."""
    ev = _t(spark, sf_dir, "events")
    med = ev.agg(F.percentile(F.unix_micros("ts"), 0.5).alias("mid"))
    b = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / 10.0
    binc = F.least(
        F.floor((F.col("value") - F.col("lo")) / width).cast("int"), F.lit(9)
    )
    binned = (
        ev.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(b))
        .select(
            F.when(F.unix_micros("ts") <= F.col("mid"), "ref").otherwise("cur").alias(
                "period"
            ),
            binc.alias("bin"),
        )
    )
    cnt = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("period") == "ref", 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("period") == "cur", 1).otherwise(0)).alias("n_cur"),
    )
    tot = cnt.agg(
        F.sum("n_ref").cast("double").alias("t_ref"),
        F.sum("n_cur").cast("double").alias("t_cur"),
    )
    p = cnt.crossJoin(F.broadcast(tot)).select(
        "bin",
        ((F.col("n_ref") + 0.5) / (F.col("t_ref") + 5.0)).alias("p_ref"),
        ((F.col("n_cur") + 0.5) / (F.col("t_cur") + 5.0)).alias("p_cur"),
    )
    term = (F.col("p_cur") - F.col("p_ref")) * F.log(
        F.col("p_cur") / F.col("p_ref")
    )
    return p.select(
        "bin",
        pround("p_ref", 6).alias("p_ref"),
        pround("p_cur", 6).alias("p_cur"),
        pround(term, 8).alias("psi_term"),
        pround(F.sum(term).over(W.partitionBy()), 6).alias("psi_total"),
    )


@register(
    "padding_waste_by_length_bucket",
    """
    WITH toks_t AS (
      SELECT doc_id,
             len(CASE WHEN len(trim(coalesce(text, ''))) = 0
                      THEN []::VARCHAR[]
                      ELSE string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+') END)
               AS n_tok
      FROM documents
    ),
    bucketed AS (
      SELECT CAST(floor(n_tok / 32.0) AS INT) AS bucket, n_tok FROM toks_t
    )
    SELECT bucket,
           CAST((bucket + 1) * 32 AS INT) AS pad_to,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS real_tokens,
           CAST(count(*) * (bucket + 1) * 32 AS BIGINT) AS padded_tokens,
           round(1.0 - sum(n_tok)
                 / CAST(count(*) * (bucket + 1) * 32 AS DOUBLE), 6)
             AS waste_ratio
    FROM bucketed GROUP BY bucket
    """,
    tags=("text", "X4", "training", "padding"),
)
def padding_waste_by_length_bucket(spark, sf_dir):
    """Padding-waste estimator — the batching-cost readout an
    inference/training scheduler derives BEFORE picking a bucketing
    policy: documents grouped into 32-token length buckets, each padded
    to its bucket ceiling, waste = padded − real tokens. Length
    bucketing is exactly what this query's own buckets implement, so
    the per-bucket waste ratios ARE the policy evaluation (compare
    `fixed_window_packing`, which eliminates padding by packing
    instead). Map-only token counts, one tiny aggregate."""
    from .text.analysis import token_count

    docs = _t(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text"))
    bucketed = docs.select(
        F.floor(n_tok / 32.0).cast("int").alias("bucket"),
        n_tok.alias("n_tok"),
    )
    pad_to = (F.col("bucket") + 1) * 32
    return bucketed.groupBy("bucket").agg(
        F.max(pad_to).cast("int").alias("pad_to"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("real_tokens"),
        (F.count(F.lit(1)) * F.max(pad_to)).cast("bigint").alias("padded_tokens"),
        pround(
            1.0
            - F.sum("n_tok")
            / (F.count(F.lit(1)) * F.max(pad_to)).cast("double"),
            6,
        ).alias("waste_ratio"),
    )


@register(
    "transition_latency_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts,
             lag(event_type) OVER w AS prev,
             lag(ts) OVER w AS prev_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT prev, event_type AS next,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(CAST(epoch_us(ts - prev_ts) AS DOUBLE) / 60e6), 4)
             AS avg_minutes,
           round(quantile_cont(CAST(epoch_us(ts - prev_ts) AS DOUBLE) / 60e6,
                               0.9), 4) AS p90_minutes
    FROM seq WHERE prev IS NOT NULL
    GROUP BY prev, event_type
    """,
    tags=("window", "sequence", "process-mining", "W1"),
)
def transition_latency_matrix(spark, sf_dir):
    """Directly-follows transition LATENCY — the process-mining
    bottleneck detector `markov_event_transitions` (frequencies) cannot
    see: mean and p90 wait per (prev → next) step type. A funnel can
    convert at a healthy rate yet stall for hours on one edge; this is
    the matrix that finds the edge. Same single window sort as the
    Markov query; the latency aggregate groups ≤ #types² cells with
    exact interpolated p90s."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "ts",
        F.lag("event_type").over(w).alias("prev"),
        F.lag("ts").over(w).alias("prev_ts"),
    ).filter(F.col("prev").isNotNull())
    mins = (
        F.unix_micros("ts") - F.unix_micros("prev_ts")
    ).cast("double") / 60e6
    return seq.groupBy("prev", F.col("event_type").alias("next")).agg(
        F.count(F.lit(1)).alias("n"),
        pround(F.avg(mins), 4).alias("avg_minutes"),
        pround(F.percentile(mins, 0.9), 4).alias("p90_minutes"),
    )


@register(
    "freshness_audit",
    """
    SELECT tbl,
           strftime(mx, '%Y-%m-%d %H:%M:%S') AS latest_ts,
           CAST(days_behind AS INT) AS days_behind
    FROM (
      WITH mxs AS (
        SELECT 'events' AS tbl, max(ts) AS mx FROM events
        UNION ALL SELECT 'orders', max(CAST(o_orderdate AS TIMESTAMP)) FROM orders
        UNION ALL SELECT 'lineitem', max(CAST(l_shipdate AS TIMESTAMP)) FROM lineitem
      ),
      g AS (SELECT max(mx) AS gmx FROM mxs)
      SELECT tbl, mx,
             date_diff('day', CAST(mx AS DATE), CAST(gmx AS DATE))
               AS days_behind
      FROM mxs CROSS JOIN g
    )
    """,
    tags=("agg", "data-quality", "freshness", "A4"),
)
def freshness_audit(spark, sf_dir):
    """Freshness audit — every temporal table's latest watermark and
    its lag behind the freshest table: the first page of any data-ops
    runbook (a pipeline that "succeeded" while one upstream stalled
    shows up here, not in row counts). Three single-row max aggregates
    + scalar comparison; at 100 TB each max reads only the newest
    partitions under the date-partitioned layout."""
    ev = _t(spark, sf_dir, "events").agg(
        F.lit("events").alias("tbl"), F.max("ts").alias("mx")
    )
    o = _t(spark, sf_dir, "orders").agg(
        F.lit("orders").alias("tbl"),
        F.max(F.col("o_orderdate").cast("timestamp")).alias("mx"),
    )
    li = _t(spark, sf_dir, "lineitem").agg(
        F.lit("lineitem").alias("tbl"),
        F.max(F.col("l_shipdate").cast("timestamp")).alias("mx"),
    )
    mxs = ev.unionAll(o).unionAll(li)
    g = mxs.agg(F.max("mx").alias("gmx"))
    return (
        mxs.crossJoin(F.broadcast(g))
        .select(
            "tbl",
            F.date_format("mx", "yyyy-MM-dd HH:mm:ss").alias("latest_ts"),
            F.datediff(F.to_date("gmx"), F.to_date("mx"))
            .cast("int")
            .alias("days_behind"),
        )
    )


@register(
    "anova_eta_squared",
    """
    WITH g AS (
      SELECT event_type, count(*) AS n, avg(value) AS mu,
             sum(value * value) AS ss
      FROM events GROUP BY event_type
    ),
    tot AS (
      SELECT sum(n) AS n_t,
             sum(n * mu) / sum(n) AS mu_t,
             sum(ss) AS ss_t
      FROM g
    )
    SELECT CAST(count(*) AS INT) AS n_groups,
           CAST(max(n_t) AS BIGINT) AS n_rows,
           round(sum(n * (mu - mu_t) * (mu - mu_t)), 4) AS ss_between,
           round(max(ss_t) - max(n_t) * max(mu_t) * max(mu_t), 4) AS ss_total,
           round(sum(n * (mu - mu_t) * (mu - mu_t))
                 / nullif(max(ss_t) - max(n_t) * max(mu_t) * max(mu_t), 0), 6)
             AS eta_squared,
           round((sum(n * (mu - mu_t) * (mu - mu_t)) / (count(*) - 1))
                 / nullif(((max(ss_t) - max(n_t) * max(mu_t) * max(mu_t))
                           - sum(n * (mu - mu_t) * (mu - mu_t)))
                          / (max(n_t) - count(*)), 0), 4) AS f_stat
    FROM g CROSS JOIN tot
    """,
    tags=("stats", "anova", "A4"),
)
def anova_eta_squared(spark, sf_dir):
    """One-way ANOVA effect size — η² (share of value variance explained
    by event type) and the F statistic, completing the categorical-
    association pair with `event_type_dow_chi2` (χ² asks "dependent?";
    ANOVA asks "how much does the factor explain of a CONTINUOUS
    outcome?"). Everything derives from per-group (n, mean, Σx²)
    sufficient statistics — one mergeable aggregate pass, then scalar
    algebra on ≤#types rows; SS_total from the Σx² identity rather than
    a second centered pass."""
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("mu"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
    )
    tot = g.agg(
        F.sum("n").alias("n_t"),
        (F.sum(F.col("n") * F.col("mu")) / F.sum("n")).alias("mu_t"),
        F.sum("ss").alias("ss_t"),
    )
    j = g.crossJoin(F.broadcast(tot))
    ssb = F.sum(
        F.col("n") * (F.col("mu") - F.col("mu_t")) * (F.col("mu") - F.col("mu_t"))
    )
    sst = F.max("ss_t") - F.max("n_t") * F.max("mu_t") * F.max("mu_t")
    k = F.count(F.lit(1))
    return j.agg(
        k.cast("int").alias("n_groups"),
        F.max("n_t").cast("bigint").alias("n_rows"),
        pround(ssb, 4).alias("ss_between"),
        pround(sst, 4).alias("ss_total"),
        pround(ssb / F.nullif(sst, F.lit(0)), 6).alias("eta_squared"),
        pround(
            (ssb / (k - 1))
            / F.nullif((sst - ssb) / (F.max("n_t") - k), F.lit(0)),
            4,
        ).alias("f_stat"),
    )


@register(
    "activity_coverage_gaps",
    """
    WITH cal AS (
      SELECT unnest(generate_series(
        (SELECT min(CAST(ts AS DATE)) FROM events),
        (SELECT max(CAST(ts AS DATE)) FROM events),
        INTERVAL 1 DAY))::DATE AS d
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    grid AS (SELECT d, event_type FROM cal CROSS JOIN types),
    present AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, event_type FROM events
    )
    SELECT g.event_type,
           CAST(count(*) AS BIGINT) AS n_days_expected,
           CAST(count(p.d) AS BIGINT) AS n_days_present,
           CAST(count(*) - count(p.d) AS BIGINT) AS n_days_missing,
           strftime(min(CASE WHEN p.d IS NULL THEN g.d END), '%Y-%m-%d')
             AS first_missing_day
    FROM grid g
    LEFT JOIN present p ON p.d = g.d AND p.event_type = g.event_type
    GROUP BY g.event_type
    """,
    tags=("temporal", "coverage", "spine", "data-quality"),
)
def activity_coverage_gaps(spark, sf_dir):
    """Calendar×dimension coverage audit: for every event type, how many
    days inside the dataset's own date span have NO activity — the
    completeness matrix that catches a silently-dead event source
    (counts stay plausible; a cell goes dark). The expected grid is a
    generated date spine (`gap_filled_daily_close`'s densification
    idiom) crossed with the KB-scale type list; presence left-joins the
    DISTINCT (day, type) projection. Everything after the one distinct
    aggregate is spine-sized."""
    ev = _t(spark, sf_dir, "events")
    span = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    cal = span.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("d")
    )
    types = ev.select("event_type").distinct()
    grid = cal.crossJoin(F.broadcast(types))
    present = ev.select(
        F.to_date("ts").alias("pd"), F.col("event_type").alias("pt")
    ).distinct()
    j = grid.join(
        present,
        (F.col("pd") == F.col("d")) & (F.col("pt") == F.col("event_type")),
        "left",
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days_expected"),
        F.count("pd").alias("n_days_present"),
        (F.count(F.lit(1)) - F.count("pd")).cast("bigint").alias(
            "n_days_missing"
        ),
        F.date_format(
            F.min(F.when(F.col("pd").isNull(), F.col("d"))), "yyyy-MM-dd"
        ).alias("first_missing_day"),
    )


@register(
    "lorenz_curve_deciles",
    """
    WITH per_cust AS (
      SELECT o_custkey, sum(o_totalprice) AS r FROM orders GROUP BY o_custkey
    ),
    tiled AS (
      SELECT r, ntile(10) OVER (ORDER BY r, o_custkey) AS decile,
             sum(r) OVER () AS tot
      FROM per_cust
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(r / tot), 6) AS revenue_share,
           round(sum(round(sum(r / tot), 6)) OVER (ORDER BY decile), 6)
             AS cumulative_share
    FROM tiled GROUP BY decile
    """,
    tags=("stats", "lorenz", "concentration", "window"),
)
def lorenz_curve_deciles(spark, sf_dir):
    """Lorenz curve at population deciles — the plottable companion to
    `event_key_skew_profile`'s Gini and `pareto_revenue_coverage`'s
    crossing point: cumulative revenue share of each ascending customer
    decile (the bowed-away-from-diagonal curve IS the inequality).
    ADAPTIVE ranking policy (r5, like `rfm_customer_segments`): plain
    ntile window at/below ranks.NTILE_EXACT_MAX_ROWS per-customer rows,
    two-stage `ntile_buckets(exact=False)` above (custkey tiebreak
    makes the order total → identical buckets); the revenue total is a
    broadcast scalar in both paths (never a global-sum window), and the
    10-row cumulative window runs over the decile aggregate."""
    from .operators import ranks

    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("r"))
    exact = per_cust.count() <= ranks.NTILE_EXACT_MAX_ROWS
    tiled = ranks.ntile_buckets(
        per_cust, 10, [F.col("r"), F.col("o_custkey")], "decile",
        exact=exact,
    ).crossJoin(F.broadcast(per_cust.agg(F.sum("r").alias("tot"))))
    dec = tiled.groupBy(F.col("decile").cast("int").alias("decile")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        pround(F.sum(F.col("r") / F.col("tot")), 6).alias("revenue_share"),
    )
    out = dec.select(
        "decile",
        "n_customers",
        "revenue_share",
        pround(
            F.sum("revenue_share").over(
                W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
            ),
            6,
        ).alias("cumulative_share"),
    )
    if exact:
        return out
    rows = out.collect()  # 10 decile rows — bounded by design
    ranks.release_rank_cache(tiled)
    return spark.createDataFrame(rows, out.schema)


@register(
    "session_bounce_profile",
    """
    WITH marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                          > CAST(1800 AS BIGINT) * 1000000
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ),
    per_sess AS (
      SELECT user_id, sid, count(*) AS n_events,
             (epoch_us(max(ts)) - epoch_us(min(ts))) / 60e6 AS dur_min
      FROM sess GROUP BY user_id, sid
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           round(avg(CASE WHEN n_events = 1 THEN 1.0 ELSE 0.0 END), 6)
             AS bounce_rate,
           round(quantile_cont(dur_min, 0.5), 4) AS p50_duration_min,
           round(quantile_cont(dur_min, 0.9), 4) AS p90_duration_min,
           round(avg(n_events), 4) AS avg_events
    FROM per_sess
    """,
    tags=("temporal", "sessionize", "bounce", "A4"),
)
def session_bounce_profile(spark, sf_dir):
    """Session engagement profile at a 30-minute gap — bounce rate
    (single-event sessions: the canonical engagement failure metric)
    plus duration percentiles, through the SAME `operators/temporal.
    sessionize` operator `event_sessionization` uses at its 2-hour gap
    (one operator, two policies — the gap is exactly what
    `interarrival_burstiness_per_user` exists to tune). One window
    exchange feeds marks, session ids, and the per-session rollup."""
    from .operators.temporal import sessionize

    ev = _t(spark, sf_dir, "events")
    sess = sessionize(ev, "user_id", "ts", gap_seconds=1800, tiebreak="event_id")
    per_sess = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 60e6
        ).alias("dur_min"),
    )
    return per_sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        pround(
            F.avg(F.when(F.col("n_events") == 1, 1.0).otherwise(0.0)), 6
        ).alias("bounce_rate"),
        pround(F.percentile("dur_min", 0.5), 4).alias("p50_duration_min"),
        pround(F.percentile("dur_min", 0.9), 4).alias("p90_duration_min"),
        pround(F.avg("n_events"), 4).alias("avg_events"),
    )


@register(
    "orderkey_gap_audit",
    """
    WITH seq AS (
      SELECT o_orderkey,
             lag(o_orderkey) OVER (ORDER BY o_orderkey) AS prev_key
      FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT CAST(prev_key + 1 AS BIGINT) AS gap_start,
           CAST(o_orderkey - 1 AS BIGINT) AS gap_end,
           CAST(o_orderkey - prev_key - 1 AS BIGINT) AS gap_len
    FROM seq
    WHERE prev_key IS NOT NULL AND o_orderkey - prev_key > 1
    ORDER BY gap_len DESC, gap_start LIMIT 20
    """,
    tags=("window", "data-quality", "gaps", "audit"),
)
def orderkey_gap_audit(spark, sf_dir):
    """Key-continuity audit: missing ranges in the order-key sequence
    (largest gaps first) — the ingestion-loss detector for
    monotonic-key feeds (a dropped batch shows up as one big gap; a
    flaky producer as many small ones; TPC-H's own sparse keyspace
    makes a rich fixture; audited here over the finished-status
    subset, whose keyspace is naturally gapped). Runs the DISTRIBUTED
    lag (operators/ranks.key_gaps): value-bucketed per-partition lag +
    bucket-summary stitch — no raw-fact single-partition window (the
    round-4 verdict's one flagged plan); the oracle keeps the plain
    global-lag formulation. Contrast `activity_coverage_gaps`
    (calendar cells) — this audits identity continuity, that audits
    time coverage."""
    from .operators.ranks import key_gaps

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    gaps = key_gaps(o.select("o_orderkey"), "o_orderkey")
    return (
        gaps.select(
            F.col("gap_start").cast("bigint").alias("gap_start"),
            F.col("gap_end").cast("bigint").alias("gap_end"),
            F.col("gap_len").cast("bigint").alias("gap_len"),
        )
        .orderBy(F.col("gap_len").desc(), "gap_start")
        .limit(20)
    )


@register(
    "weekday_variance_explained",
    f"""
    WITH {DAILY_SQL},
    obs AS (
      SELECT user_id, close, dayofweek(d) AS dow FROM daily
    ),
    g AS (
      SELECT user_id, dow, count(*) AS n, avg(close) AS mu,
             sum(close * close) AS ss
      FROM obs GROUP BY user_id, dow
    ),
    t AS (
      SELECT user_id, sum(n) AS n_t,
             sum(n * mu) / sum(n) AS mu_t, sum(ss) AS ss_t
      FROM g GROUP BY user_id
    )
    SELECT g.user_id,
           round(sum(g.n * (g.mu - t.mu_t) * (g.mu - t.mu_t))
                 / nullif(max(t.ss_t) - max(t.n_t) * max(t.mu_t) * max(t.mu_t),
                          0), 6) AS dow_eta_squared
    FROM g JOIN t ON t.user_id = g.user_id
    GROUP BY g.user_id
    """,
    tags=("stats", "anova", "seasonality", "A1"),
)
def weekday_variance_explained(spark, sf_dir):
    """Per-user weekday seasonality strength — η² of close vs
    day-of-week (`anova_eta_squared`'s grouped form): the share of each
    user's price variance a weekday-means model explains, i.e. HOW
    seasonal each series is before you bother fitting
    `dow_return_seasonality`'s profile to it. Sufficient statistics
    per (user, dow) → per-user totals → one join on the same
    clustering; grouping by a DIFFERENT dow numbering in either engine
    is harmless because only the partition matters, never the label."""
    daily = _daily_close(spark, sf_dir)
    obs = daily.select("user_id", "close", F.dayofweek("d").alias("dow"))
    g = obs.groupBy("user_id", "dow").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("close").alias("mu"),
        F.sum(F.col("close") * F.col("close")).alias("ss"),
    )
    t = g.groupBy("user_id").agg(
        F.sum("n").alias("n_t"),
        (F.sum(F.col("n") * F.col("mu")) / F.sum("n")).alias("mu_t"),
        F.sum("ss").alias("ss_t"),
    )
    j = g.join(t, "user_id")
    ssb = F.sum(
        F.col("n") * (F.col("mu") - F.col("mu_t")) * (F.col("mu") - F.col("mu_t"))
    )
    sst = F.max("ss_t") - F.max("n_t") * F.max("mu_t") * F.max("mu_t")
    return j.groupBy("user_id").agg(
        pround(ssb / F.nullif(sst, F.lit(0)), 6).alias("dow_eta_squared")
    )
