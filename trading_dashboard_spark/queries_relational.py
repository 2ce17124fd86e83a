"""Relational-tier queries — scans, projections, filters, joins,
aggregations, sorts/limits, set ops, scalar functions (SURVEY.md §2.1-2.4,
2.6-2.8)."""

from pyspark.sql import Window as W, functions as F

from .query_registry import _latest_movers, _t, latest_movers_sql, pround, register



@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(round(sum(l_quantity), 2) / count(l_quantity), 4) AS avg_qty,
           round(round(sum(l_extendedprice), 2) / count(l_extendedprice), 4) AS avg_price,
           round(round(sum(l_discount), 2) / count(l_discount), 4) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "A1", "P18"),
)
def pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: multi-agg groupBy — the canonical scan+agg operator
    (A1/A2 family; SURVEY.md §2.4). Map-side partial aggregation + single
    shuffle on the 6-value group key."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            pround(F.sum("l_quantity"), 2).alias("sum_qty"),
            pround(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            pround(F.sum(disc_price), 2).alias("sum_disc_price"),
            pround(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            pround(pround(F.sum("l_quantity"), 2) / F.count("l_quantity"), 4).alias("avg_qty"),
            pround(pround(F.sum("l_extendedprice"), 2) / F.count("l_extendedprice"), 4).alias("avg_price"),
            pround(pround(F.sum("l_discount"), 2) / F.count("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "top_gainers",
    latest_movers_sql(descending=True),
    tags=("flagship", "J1", "J4", "W1", "O3", "P18"),
    inputs=("events", "customer"),
)
def top_gainers(spark, sf_dir):
    """Flagship (SURVEY.md §7.2): the reference's "top gainers" dashboard
    query (data_loader.py:131-154) over the events series — window lag
    (W1) + latest-per-key (J4 as row_number) + broadcast dim join (J1) +
    pct-change projection (P18/P17) + top-k (O3)."""
    return _latest_movers(spark, sf_dir, descending=True)


@register(
    "market_avg_by_date",
    """
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS trade_date,
           round(round(sum(value), 2) / count(value), 4) AS avg_value,
           round(sum(value), 2) AS total_value,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1
    """,
    tags=("agg", "A2"),
)
def market_avg_by_date(spark, sf_dir):
    """A2 — market-behavior aggregate: AVG per trade_date
    (data_loader.py:208-213)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("trade_date")
    ).agg(
        pround(pround(F.sum("value"), 2) / F.count("value"), 4).alias("avg_value"),
        pround(F.sum("value"), 2).alias("total_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "latest_event_per_user",
    """
    SELECT user_id, event_id, event_type, round(value, 2) AS value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    tags=("window", "J4", "O4"),
)
def latest_event_per_user(spark, sf_dir):
    """J4/O4 — greatest-n-per-group (latest row per key), the reference's
    MAX(trade_date) join idiom (data_loader.py:144-148) as a single-window
    plan."""
    from .operators import latest_per_key

    ev = _t(spark, sf_dir, "events")
    return latest_per_key(ev, ["user_id"], "ts", tiebreak=["event_id"]).select(
        "user_id", "event_id", "event_type", pround("value", 2).alias("value")
    )


@register(
    "top_customers_by_revenue",
    """
    SELECT c.c_custkey, c.c_name,
           round(sum(o.o_totalprice), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 10
    """,
    tags=("join", "J3", "A3", "O3"),
)
def top_customers_by_revenue(spark, sf_dir):
    """J3+O3 — inner equi-join fact→dim, aggregate, top-k
    (data_loader.py:112-121,150)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            pround(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(10)
    )


@register(
    "regional_revenue",
    """
    SELECT r.r_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(count(*) AS BIGINT) AS n_lineitems
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    tags=("join", "J1", "J3", "A1", "bench"),
)
def regional_revenue(spark, sf_dir):
    """Star-join rollup: fact → orders → customer → nation → region.

    The big-fact path: lineitem⋈orders shuffles on orderkey; every
    dimension hop is broadcast (nation/region always; customer via AQE at
    small SF, explicit at scale the dim is still ≪ fact). This is the
    bench headline for join throughput."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register(
    "orders_in_range_by_priority",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total,
           round(round(sum(o_totalprice), 2) / count(o_totalprice), 4) AS avg_price
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                          AND TIMESTAMP '1997-12-31 00:00:00'
    GROUP BY o_orderpriority
    """,
    tags=("filter", "P6", "P7"),
)
def orders_in_range_by_priority(spark, sf_dir):
    """P6 — BETWEEN range filter pushed to the parquet scan
    (data_loader.py:46-50)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(
            F.col("o_orderdate").between(
                F.lit("1996-01-01").cast("timestamp"),
                F.lit("1997-12-31").cast("timestamp"),
            )
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            pround(F.sum("o_totalprice"), 2).alias("total"),
            pround(pround(F.sum("o_totalprice"), 2) / F.count("o_totalprice"), 4).alias("avg_price"),
        )
    )


@register(
    "parts_regex_filter",
    """
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(round(sum(p_retailprice), 2) / count(p_retailprice), 4) AS avg_price
    FROM part
    WHERE regexp_matches(p_type, '^(PROMO|ECONOMY)')
      AND regexp_matches(p_name, '(red|blue)')
    GROUP BY p_brand
    """,
    tags=("filter", "P9", "F4"),
)
def parts_regex_filter(spark, sf_dir):
    """P9/F4 — regex predicates (the reference's ^[A-Z]+$ symbol filter,
    fetch_tech_companies.py:56)."""
    p = _t(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_type").rlike("^(PROMO|ECONOMY)"))
        .filter(F.col("p_name").rlike("(red|blue)"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            pround(pround(F.sum("p_retailprice"), 2) / F.count("p_retailprice"), 4).alias("avg_price"),
        )
    )


@register(
    "priority_buckets",
    """
    SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'high'
                WHEN o_orderpriority = '3-MEDIUM' THEN 'medium'
                ELSE 'low' END AS priority_bucket,
           CASE WHEN o_orderstatus = 'F' THEN 'finished' ELSE 'open' END AS status_bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY 1, 2
    """,
    tags=("project", "P14"),
)
def priority_buckets(spark, sf_dir):
    """P14 — CASE WHEN conditional buckets (the Bullish/Bearish/Up/Down
    idiom, full_stock_pipeline.py:435-443)."""
    o = _t(spark, sf_dir, "orders")
    prio = (
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "medium")
        .otherwise("low")
    )
    status = F.when(F.col("o_orderstatus") == "F", "finished").otherwise("open")
    return (
        o.groupBy(prio.alias("priority_bucket"), status.alias("status_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            pround(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "customer_balance_health",
    """
    SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal = 0 THEN 'zero'
                ELSE 'positive' END AS balance_class,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(c_acctbal), 2) AS total_bal,
           round(round(sum(c_acctbal), 2) / nullif(CAST(count(*) AS DOUBLE), 0), 4) AS avg_bal,
           round(coalesce(max(c_acctbal), 0.0), 2) AS max_bal
    FROM customer GROUP BY 1
    """,
    tags=("project", "P8", "P15", "P16"),
)
def customer_balance_health(spark, sf_dir):
    """P8/P15/P16 — null/zero guards: NULLIF divide guard + COALESCE
    defaults (full_stock_pipeline.py:395-402,478,481)."""
    c = _t(spark, sf_dir, "customer")
    cls = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") == 0, "zero")
        .otherwise("positive")
    )
    n = F.count(F.lit(1))
    return c.groupBy(cls.alias("balance_class")).agg(
        n.alias("n"),
        pround(F.sum("c_acctbal"), 2).alias("total_bal"),
        pround(pround(F.sum("c_acctbal"), 2) / F.when(n.cast("double") != 0, n.cast("double")), 4).alias("avg_bal"),
        pround(F.coalesce(F.max("c_acctbal"), F.lit(0.0)), 2).alias("max_bal"),
    )


@register(
    "distinct_segments",
    "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    tags=("agg", "A5"),
)
def distinct_segments(spark, sf_dir):
    """A5 — SELECT DISTINCT (company-list query, data_loader.py:29-33)."""
    return _t(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@register(
    "global_lineitem_stats",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_quantity), 2) AS total_qty,
           round(round(sum(l_extendedprice), 2) / count(l_extendedprice), 4) AS avg_price,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           strftime(min(l_shipdate), '%Y-%m-%d') AS first_ship,
           strftime(max(l_shipdate), '%Y-%m-%d') AS last_ship
    FROM lineitem
    """,
    tags=("agg", "A4"),
)
def global_lineitem_stats(spark, sf_dir):
    """A4 — global (grand) aggregate, no grouping
    (full_stock_pipeline.py:357)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        pround(F.sum("l_quantity"), 2).alias("total_qty"),
        pround(pround(F.sum("l_extendedprice"), 2) / F.count("l_extendedprice"), 4).alias("avg_price"),
        pround(F.min("l_extendedprice"), 2).alias("min_price"),
        pround(F.max("l_extendedprice"), 2).alias("max_price"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("first_ship"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("last_ship"),
    )


@register(
    "multi_key_sorted_events",
    """
    SELECT user_id, event_id, event_type, round(value, 2) AS value
    FROM events
    ORDER BY user_id, ts, event_id
    LIMIT 100
    """,
    tags=("sort", "O1", "O5"),
)
def multi_key_sorted_events(spark, sf_dir):
    """O1/O5 — multi-key sort + head-n (analyze_news_stock_patterns.py:84;
    data_loader.py:94)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.orderBy("user_id", "ts", "event_id")
        .limit(100)
        .select("user_id", "event_id", "event_type", pround("value", 2).alias("value"))
    )


@register(
    "top_events_by_value",
    """
    SELECT event_id, user_id, event_type, round(value, 2) AS value
    FROM events ORDER BY value DESC, event_id LIMIT 10
    """,
    tags=("sort", "O3"),
)
def top_events_by_value(spark, sf_dir):
    """O3 — global top-k with deterministic tiebreak; compiles to
    TakeOrderedAndProject (no full sort)."""
    from .operators import top_k

    ev = _t(spark, sf_dir, "events")
    return top_k(ev, [F.col("value").desc(), F.col("event_id").asc()], 10).select(
        "event_id", "user_id", "event_type", pround("value", 2).alias("value")
    )


@register(
    "customers_with_orders",
    """
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
    tags=("join", "J7"),
)
def customers_with_orders(spark, sf_dir):
    """J7 — semi-join (EXISTS): the tracked-symbols ∩ mentioned-tickers
    set intersection (fetch_transform_news.py:43-81) as left_semi."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "customers_without_orders",
    """
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_nationkey
    """,
    tags=("join", "S15"),
)
def customers_without_orders(spark, sf_dir):
    """S15's engine primitive — anti-join (NOT EXISTS), the
    insert-if-absent building block."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            pround(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@register(
    "extreme_value_events_union",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total
    FROM (
      SELECT event_type, value FROM events WHERE value > 190
      UNION ALL
      SELECT event_type, value FROM events WHERE value < 10
    ) GROUP BY event_type
    """,
    tags=("setop",),
)
def extreme_value_events_union(spark, sf_dir):
    """§2.7 — UNION ALL of two filtered branches (engine-free capability;
    the reference has no set ops, SURVEY.md §2.7)."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    hi = ev.filter(F.col("value") > 190)
    lo = ev.filter(F.col("value") < 10)
    return (
        hi.unionByName(lo)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), pround(F.sum("value"), 2).alias("total"))
    )


@register(
    "finished_only_customers_except",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_customers FROM (
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
      EXCEPT
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus <> 'F'
    )
    """,
    tags=("setop",),
)
def finished_only_customers_except(spark, sf_dir):
    """§2.7 — EXCEPT (set difference): customers with only finished
    orders."""
    o = _t(spark, sf_dir, "orders")
    fin = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    other = o.filter(F.col("o_orderstatus") != "F").select("o_custkey").distinct()
    return fin.exceptAll(other).agg(F.count(F.lit(1)).alias("n_customers"))


@register(
    "event_scalar_functions",
    """
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H') AS hour_str,
           upper(event_type) AS type_upper,
           concat_ws('-', event_type, CAST(user_id AS VARCHAR)) AS type_user,
           round(value * 1.1, 2) AS value_taxed,
           CAST(CASE WHEN json_valid(props)
                     THEN json_extract_string(props, '$.k') END
                AS BIGINT) AS k_value,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
           strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day_str
    FROM events WHERE event_id < 500
    """,
    tags=("functions", "F1", "F5", "F6", "F7"),
)
def event_scalar_functions(spark, sf_dir):
    """F1/F5/F6/F7 — scalar function family: date formatting, concat,
    JSON field extraction, epoch conversion (SURVEY.md §2.8)."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") < 500).select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH").alias("hour_str"),
        F.upper("event_type").alias("type_upper"),
        F.concat_ws("-", F.col("event_type"), F.col("user_id").cast("string")).alias(
            "type_user"
        ),
        pround(F.col("value") * 1.1, 2).alias("value_taxed"),
        F.get_json_object("props", "$.k").cast("long").alias("k_value"),
        F.unix_timestamp("ts").alias("epoch_s"),
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day_str"),
    )


@register(
    "weekend_adjusted_days",
    """
    SELECT strftime(
             CASE WHEN dayofweek(d) = 6 THEN d - 1
                  WHEN dayofweek(d) = 0 THEN d - 2
                  ELSE d END, '%Y-%m-%d') AS trading_day,
           CAST(count(*) AS BIGINT) AS n_events
    FROM (SELECT CAST(ts AS DATE) AS d FROM events)
    GROUP BY 1
    """,
    tags=("functions", "F8"),
)
def weekend_adjusted_days(spark, sf_dir):
    """F8 — weekend→last-Friday calendar adjustment
    (full_stock_pipeline.py:51-57). DuckDB dayofweek: Sun=0..Sat=6;
    Spark dayofweek: Sun=1..Sat=7 — both sides encode the same mapping."""
    from .operators import weekend_adjust

    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(weekend_adjust(F.to_date("ts")).alias("td"))
        .groupBy(F.date_format("td", "yyyy-MM-dd").alias("trading_day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "promo_revenue_by_month",
    """
    SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
           round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1
    """,
    tags=("join", "agg", "J1", "A1"),
)
def promo_revenue_by_month(spark, sf_dir):
    """TPC-H Q14 shape: promotion revenue share per ship month — fact⋈dim
    with a conditional-aggregate ratio. part is the dimension side, so it
    broadcasts (no fact shuffle for the join); the groupBy on the derived
    month key is the only exchange. At 100 TB the same plan holds: dim
    broadcast + single partial-aggregated shuffle on ~84 month keys."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias("ship_month"))
        .agg(
            pround(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("promo_pct"),
            pround(F.sum(rev), 2).alias("total_revenue"),
        )
    )


@register(
    "large_quantity_orders",
    """
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    )
    SELECT c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           round(o.o_totalprice, 2) AS o_totalprice,
           round(b.total_qty, 2) AS total_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
    tags=("join", "agg", "having", "J3", "O3"),
)
def large_quantity_orders(spark, sf_dir):
    """TPC-H Q18 shape: orders whose line quantities sum past a threshold,
    with customer names, top-100 by price. The HAVING pre-filter shrinks
    the fact side to ~1% *before* the orders join (aggregate-then-join,
    not join-then-aggregate), and TakeOrderedAndProject caps the sort —
    no global ordering materializes."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            pround("o_totalprice", 2).alias("o_totalprice"),
            pround("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@register(
    "dormant_rich_customers",
    """
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(c_acctbal), 2) AS total_balance,
           round(round(sum(c_acctbal), 2) / count(c_acctbal), 4) AS avg_balance
    FROM customer c
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= DATE '2001-01-01')
    GROUP BY c_mktsegment
    """,
    tags=("join", "antijoin", "subquery", "J6", "J7", "A1"),
)
def dormant_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders, grouped by segment — uncorrelated scalar subquery (broadcast
    single-row cross join, J6) + anti-join against the *filtered* orders
    side (J7). The date filter prunes orders before the anti-join builds
    its hash table; at scale the anti side stays a fraction of the fact."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    cutoff = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("__avg_bal"))
    recent = o.filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("date"))
    return (
        c.join(F.broadcast(cutoff))
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            pround(F.sum("c_acctbal"), 2).alias("total_balance"),
            pround(pround(F.sum("c_acctbal"), 2) / F.count("c_acctbal"), 4).alias("avg_balance"),
        )
    )


@register(
    "late_shipment_priorities",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
    tags=("join", "semijoin", "J7", "A1"),
)
def late_shipment_priorities(spark, sf_dir):
    """TPC-H Q4 shape: priority mix of orders with at least one line shipped
    60+ days after ordering — EXISTS with a cross-side predicate compiles
    to a left-semi hash join carrying the extra condition; the semi join
    deduplicates matches without a distinct, then a 5-key aggregate."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAY")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "value_percentiles_by_type",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events
    GROUP BY event_type
    """,
    tags=("agg", "A1", "percentile"),
)
def value_percentiles_by_type(spark, sf_dir):
    """Exact interpolated percentiles per group — Spark's `percentile`
    aggregate and DuckDB's `quantile_cont` share the same (n-1)·q linear
    interpolation, so the values hash-match exactly. The exact form sorts
    per group; the sketch-based scale path for heavy groups is
    `corpus_sketch_profile`'s GK approx_percentile (documented tradeoff,
    SURVEY.md §2.11)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        pround(F.percentile("value", 0.5), 4).alias("p50"),
        pround(F.percentile("value", 0.9), 4).alias("p90"),
        pround(F.percentile("value", 0.99), 4).alias("p99"),
    )


@register(
    "customer_order_counts",
    """
    WITH per_cust AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    SELECT CAST(n_orders AS INT) AS n_orders,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM per_cust GROUP BY n_orders
    """,
    tags=("join", "agg", "J1", "A1"),
)
def customer_order_counts(spark, sf_dir):
    """TPC-H Q13 shape: the customer order-count distribution — LEFT
    OUTER join so zero-order customers keep a row (count of the
    null-extended side is 0), aggregated twice (per customer, then the
    histogram). The outer join shuffles both sides on custkey once; the
    second aggregate groups on ~tens of distinct counts — partial
    aggregation collapses it before the exchange."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy(F.col("n_orders").cast("int").alias("n_orders")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@register(
    "extendedprice_decile_stats",
    """
    WITH tiled AS (
      SELECT l_extendedprice,
             ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
               AS decile
      FROM lineitem
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(count(*) AS BIGINT) AS n_items,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price,
           round(sum(l_extendedprice), 2) AS decile_revenue
    FROM tiled GROUP BY decile
    """,
    tags=("window", "ntile", "scale-path"),
)
def extendedprice_decile_stats(spark, sf_dir):
    """Decile profile of line-item prices — registered through the
    DISTRIBUTED two-stage ranking path (operators/ranks.ntile_buckets
    with ``exact=False``): range repartition + Arrow local row numbers +
    partition-bounded offsets, NO single-partition window — over the
    full fact table, not a per-key aggregate. The oracle is the plain
    SQL ntile: the driver hash-match is therefore end-to-end evidence
    that the scale path computes the exact window semantics (the unit
    suite proves equality; this proves it on the external gate). Unique
    total order via the (price, orderkey, linenumber) tiebreak.

    Cache lifetime is call-scoped: the 10-row aggregate is eagerly
    materialized, then the two-stage path's checkpointed stamped
    relation is released (ranks.release_rank_cache) so repeated calls
    in a long-lived session leave no executor-storage residue."""
    from .operators.ranks import ntile_buckets, release_rank_cache

    li = _t(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    tiled = ntile_buckets(
        li, 10,
        [F.col("l_extendedprice"), F.col("l_orderkey"), F.col("l_linenumber")],
        "decile", exact=False,
    )
    out = tiled.groupBy(F.col("decile").cast("int").alias("decile")).agg(
        F.count(F.lit(1)).alias("n_items"),
        pround(F.min("l_extendedprice"), 2).alias("min_price"),
        pround(F.max("l_extendedprice"), 2).alias("max_price"),
        pround(F.sum("l_extendedprice"), 2).alias("decile_revenue"),
    ).localCheckpoint(eager=True)
    release_rank_cache(tiled)
    return out


@register(
    "nation_revenue_share_of_region",
    """
    WITH nat AS (
      SELECT r.r_name, n.n_name, sum(o.o_totalprice) AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, n.n_name
    )
    SELECT r_name, n_name,
           round(raw_rev, 2) AS revenue,
           round(round(raw_rev, 4) / round(tot, 4) * 100, 4) AS pct_of_region
    FROM (
      SELECT r_name, n_name, revenue AS raw_rev,
             sum(revenue) OVER (PARTITION BY r_name) AS tot
      FROM nat
    )
    """,
    tags=("window", "ratio-to-report"),
)
def nation_revenue_share_of_region(spark, sf_dir):
    """Ratio-to-report — the share-of-parent idiom (window aggregate
    OVER the grouped aggregate): each nation's revenue as a percentage
    of its region's total, one window over the tiny post-aggregation
    relation (no second scan/join of the fact). The rounded-sum
    discipline applies to both numerator and the windowed denominator
    so accumulation order can't skew the ratio."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    w = W.partitionBy("r_name")
    return nat.select(
        "r_name", "n_name",
        pround("revenue", 2).alias("revenue"),
        pround(
            pround("revenue", 4) / pround(F.sum("revenue").over(w), 4) * 100, 4
        ).alias("pct_of_region"),
    )


@register(
    "daily_demand_full_outer",
    """
    WITH o AS (
      SELECT strftime(o_orderdate, '%m-%d') AS md,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders WHERE o_orderdate >= DATE '1997-01-01' GROUP BY 1
    ),
    e AS (
      SELECT strftime(CAST(ts AS DATE), '%m-%d') AS md,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    )
    SELECT coalesce(o.md, e.md) AS month_day,
           coalesce(n_orders, 0) AS n_orders,
           coalesce(n_events, 0) AS n_events,
           CASE WHEN o.md IS NULL THEN 'events_only'
                WHEN e.md IS NULL THEN 'orders_only'
                ELSE 'both' END AS presence
    FROM o FULL OUTER JOIN e ON o.md = e.md
    """,
    tags=("join", "full-outer", "§2.7"),
)
def daily_demand_full_outer(spark, sf_dir):
    """FULL OUTER join of two calendars that only partly overlap —
    order volume (1997+) vs event volume by month-day. The outer-join
    surface the coverage table lacked: unmatched sides survive with
    NULLs, COALESCE rebuilds the key and zero-fills the counts, and a
    presence tag records which side(s) produced each row. Both inputs
    pre-aggregate to <=366 rows BEFORE the join, so the full-outer
    shuffle moves calendar-sized relations, never fact rows."""
    orders = _t(spark, sf_dir, "orders")
    events = _t(spark, sf_dir, "events")
    o = (
        orders.filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        .groupBy(F.date_format("o_orderdate", "MM-dd").alias("md"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    e = events.groupBy(
        F.date_format(F.to_date("ts"), "MM-dd").alias("md")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    joined = o.withColumnRenamed("md", "o_md").join(
        e.withColumnRenamed("md", "e_md"),
        F.col("o_md") == F.col("e_md"),
        "full_outer",
    )
    presence = (
        F.when(F.col("o_md").isNull(), "events_only")
        .when(F.col("e_md").isNull(), "orders_only")
        .otherwise("both")
    )
    return joined.select(
        F.coalesce("o_md", "e_md").alias("month_day"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        presence.alias("presence"),
    )


@register(
    "nation_top_customers_listagg",
    """
    WITH ranked AS (
      SELECT c_nationkey, c_name, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_name) AS rk
      FROM customer
    )
    SELECT n.n_name AS nation,
           string_agg(r.c_name, ',' ORDER BY r.rk) AS top3_customers,
           round(sum(r.c_acctbal), 2) AS top3_balance
    FROM ranked r JOIN nation n ON r.c_nationkey = n.n_nationkey
    WHERE r.rk <= 3
    GROUP BY n.n_name
    """,
    tags=("agg", "string-agg", "§2.6"),
)
def nation_top_customers_listagg(spark, sf_dir):
    """Ordered string aggregation — the LISTAGG/STRING_AGG surface: top-3
    customers per nation by balance, concatenated in rank order. Spark
    has no ordered string_agg, so the deterministic construction is
    collect_list of (rk, name) structs -> array_sort -> transform ->
    array_join, all JVM higher-order functions riding the groupBy
    exchange. Rank prunes via WindowGroupLimit before the dim join;
    the 25-row nation dim broadcasts."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    w = W.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), "c_name"
    )
    ranked = cust.select(
        "c_nationkey", "c_name", "c_acctbal",
        F.row_number().over(w).alias("rk"),
    ).filter(F.col("rk") <= 3)
    joined = ranked.join(
        F.broadcast(nation),
        ranked.c_nationkey == nation.n_nationkey,
    )
    agg = joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rk", "c_name"))
                ),
                lambda s: s["c_name"],
            ),
            ",",
        ).alias("top3_customers"),
        pround(F.sum("c_acctbal"), 2).alias("top3_balance"),
    )
    return agg


@register(
    "fulfillment_lag_quantiles",
    """
    WITH lags AS (
      SELECT o.o_orderpriority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS lag_days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(quantile_cont(lag_days, 0.5), 2) AS p50_days,
           round(quantile_cont(lag_days, 0.9), 2) AS p90_days,
           round(quantile_cont(lag_days, 0.99), 2) AS p99_days,
           CAST(max(lag_days) AS BIGINT) AS max_days
    FROM lags GROUP BY o_orderpriority
    """,
    tags=("join", "temporal", "sla", "A1"),
)
def fulfillment_lag_quantiles(spark, sf_dir):
    """Order-to-ship fulfillment lag percentiles per priority class —
    the SLA report (the latency-quantile pattern of
    `conversion_latency_quantiles` applied across TABLES: the lag spans
    the order↔lineitem join). Orders is the smaller side and broadcasts
    under AQE; exact interpolated quantiles per bounded group."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    lags = li.join(
        F.broadcast(o.select("o_orderkey", "o_orderpriority", "o_orderdate")),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
            "lag_days"
        ),
    )
    return lags.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        pround(F.percentile("lag_days", 0.5), 2).alias("p50_days"),
        pround(F.percentile("lag_days", 0.9), 2).alias("p90_days"),
        pround(F.percentile("lag_days", 0.99), 2).alias("p99_days"),
        F.max("lag_days").cast("bigint").alias("max_days"),
    )


@register(
    "price_rank_with_ties",
    """
    WITH ranked AS (
      SELECT p_brand, p_name, p_retailprice,
             rank() OVER w AS price_rank,
             dense_rank() OVER w AS price_dense_rank,
             row_number() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey)
               AS rn
      FROM part
      WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC)
    )
    SELECT p_brand, p_name,
           round(p_retailprice, 2) AS p_retailprice,
           CAST(price_rank AS INT) AS price_rank,
           CAST(price_dense_rank AS INT) AS price_dense_rank
    FROM ranked WHERE rn <= 5
    """,
    tags=("window", "rank", "ties", "O3"),
)
def price_rank_with_ties(spark, sf_dir):
    """rank() vs dense_rank() — the tie-SEMANTICS demonstration
    completing the ranking-function family (row_number, ntile,
    percent_rank, cume_dist are all exercised elsewhere): equal prices
    share a rank, rank() then skips (1,1,3...) where dense_rank()
    doesn't (1,1,2...). Both tie-honoring ranks ride the same
    (brand, price DESC) window sort; the top-5 cut uses the
    DETERMINISTIC row_number (partkey tiebreak) so the emitted row set
    is identical across engines even where ranks tie —
    WindowGroupLimit prunes on it."""
    pa = _t(spark, sf_dir, "part")
    wt = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    wn = W.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), "p_partkey"
    )
    ranked = pa.select(
        "p_brand",
        "p_name",
        "p_retailprice",
        F.rank().over(wt).alias("price_rank"),
        F.dense_rank().over(wt).alias("price_dense_rank"),
        F.row_number().over(wn).alias("rn"),
    )
    return ranked.filter(F.col("rn") <= 5).select(
        "p_brand",
        "p_name",
        pround("p_retailprice", 2).alias("p_retailprice"),
        F.col("price_rank").cast("int").alias("price_rank"),
        F.col("price_dense_rank").cast("int").alias("price_dense_rank"),
    )
