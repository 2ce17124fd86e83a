"""Unit tests for core relational operators — the edge cases the reference
guards by hand (SURVEY.md §5: nulls, zero divisors, weekend dates,
single-row partitions, empty inputs)."""

import datetime as dt
import os

from pyspark.sql import Row, functions as F

from trading_dashboard_spark.operators import (
    latest_per_key,
    safe_div,
    top_k,
    top_k_per_key,
    weekend_adjust,
)


def test_latest_per_key_basic_and_single_row(spark):
    df = spark.createDataFrame(
        [("A", 1, 10.0), ("A", 2, 20.0), ("B", 5, 50.0)],
        ["sym", "t", "v"],
    )
    out = {r["sym"]: r["v"] for r in latest_per_key(df, ["sym"], "t").collect()}
    assert out == {"A": 20.0, "B": 50.0}


def test_latest_per_key_tiebreak_deterministic(spark):
    df = spark.createDataFrame(
        [("A", 1, 1), ("A", 1, 2), ("A", 1, 3)], ["sym", "t", "id"]
    )
    rows = latest_per_key(df, ["sym"], "t", tiebreak=["id"]).collect()
    assert len(rows) == 1 and rows[0]["id"] == 3


def test_latest_per_key_empty(spark):
    df = spark.createDataFrame([], "sym string, t int, v double")
    assert latest_per_key(df, ["sym"], "t").count() == 0


def test_safe_div_zero_and_null(spark):
    df = spark.createDataFrame(
        [(10.0, 2.0), (1.0, 0.0), (None, 5.0), (3.0, None)], ["a", "b"]
    )
    out = df.select(safe_div(F.col("a"), F.col("b")).alias("q")).collect()
    assert [r["q"] for r in out] == [5.0, None, None, None]


def test_weekend_adjust_all_days(spark):
    # Sat 2024-01-06 -> Fri 05; Sun 2024-01-07 -> Fri 05; Mon unchanged
    df = spark.createDataFrame(
        [(dt.date(2024, 1, 5),), (dt.date(2024, 1, 6),), (dt.date(2024, 1, 7),), (dt.date(2024, 1, 8),)],
        "d date",
    )
    out = [r[0] for r in df.select(weekend_adjust(F.col("d"))).collect()]
    assert out == [dt.date(2024, 1, 5), dt.date(2024, 1, 5), dt.date(2024, 1, 5), dt.date(2024, 1, 8)]


def test_top_k_and_per_key(spark):
    df = spark.createDataFrame(
        [("A", i, float(i)) for i in range(5)] + [("B", i, float(-i)) for i in range(5)],
        ["g", "i", "v"],
    )
    top = top_k(df, [F.col("v").desc(), F.col("i")], 3).collect()
    assert [r["v"] for r in top] == [4.0, 3.0, 2.0]
    per = top_k_per_key(df, ["g"], [F.col("v").desc(), F.col("i")], 2)
    got = {(r["g"], r["v"]) for r in per.collect()}
    assert got == {("A", 4.0), ("A", 3.0), ("B", 0.0), ("B", -1.0)}


def test_read_companies_csv_cleans_money_and_filters_symbols(spark, tmp_path):
    """S4 dimension ingest: money strings lose ``$`` and ``,`` before the
    cast; empty, dotted and lower-case tickers are dropped."""
    from trading_dashboard_spark.io.readers import read_companies_csv

    path = tmp_path / "companies.csv"
    path.write_text(
        "Rank,Name,Symbol,Market Cap,Price USD,Country\n"
        '1,Apple,AAPL,"$3,000,000,000",$189.50,United States\n'
        '2,No Ticker,,"$1,000",$1.00,United States\n'
        '3,Berkshire,BRK.B,"$900,000,000",$410.00,United States\n'
        '4,Lower,msft,"$2,000,000,000",$400.00,United States\n'
    )
    rows = read_companies_csv(spark, str(path)).collect()
    assert [r.asDict() for r in rows] == [
        {
            "rank": 1,
            "name": "Apple",
            "symbol": "AAPL",
            "market_cap": 3.0e9,
            "price_usd": 189.5,
            "country": "United States",
        }
    ]


def test_portable_round_sql_edge_cases():
    """Single-arg round passes through, quoted 'round(' is untouched,
    non-literal digit counts raise with the offending snippet."""
    import pytest

    from trading_dashboard_spark.functions import portable_round_sql

    assert portable_round_sql("SELECT round(x, 2) FROM t") == (
        "SELECT (floor((x) * 100.0 + 0.5) / 100.0) FROM t"
    )
    # single-argument form: unchanged (DuckDB/Spark both default to 0 digits)
    assert portable_round_sql("SELECT round(x) FROM t") == "SELECT round(x) FROM t"
    # nested round inside a single-arg round is still rewritten
    assert portable_round_sql("SELECT round(round(x, 1)) FROM t") == (
        "SELECT round((floor((x) * 10.0 + 0.5) / 10.0)) FROM t"
    )
    # 'round(' inside a string literal must never be rewritten
    sql = "SELECT 'a round( b' AS s, round(y, 1) FROM t"
    assert portable_round_sql(sql) == (
        "SELECT 'a round( b' AS s, (floor((y) * 10.0 + 0.5) / 10.0) FROM t"
    )
    # quotes (with '' escapes) inside the call's arguments are handled
    sql2 = "SELECT round(CASE WHEN s = 'don''t (really)' THEN x ELSE y END, 2) FROM t"
    out2 = portable_round_sql(sql2)
    assert out2.startswith("SELECT (floor((CASE WHEN s = 'don''t (really)'")
    # identifier suffix like my_round( is not a round() call
    assert portable_round_sql("SELECT my_round(x, 2)") == "SELECT my_round(x, 2)"
    with pytest.raises(ValueError, match="digit count"):
        portable_round_sql("SELECT round(x, n) FROM t")


def test_portable_round_negative_digits(spark):
    """round(x, -n) rounds to tens/hundreds via the division form — and
    never interpolates a float power into the SQL ('0.1.0')."""
    import duckdb

    from trading_dashboard_spark.functions import portable_round_sql, pround
    from pyspark.sql import functions as F

    sql = portable_round_sql("SELECT round(x, -1) AS r FROM t")
    assert sql == "SELECT (floor((x) / 10.0 + 0.5) * 10.0) AS r FROM t"
    assert ".0.0" not in sql and "0.1.0" not in sql

    vals = [4.9, 5.0, 15.0, 123.0, 149.9, 150.0, -5.0, 0.0]
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    got = [r[0] for r in df.select(pround(F.col("x"), -1).alias("r")).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT unnest(?::DOUBLE[]) AS x", [vals])
    want = [r[0] for r in con.execute(sql).fetchall()]
    assert got == want
    assert got[:6] == [0.0, 10.0, 20.0, 120.0, 150.0, 150.0]


def test_global_ranks_two_stage_equals_exact(spark, sf_dir):
    """The distributed ranking path must return byte-identical rows to
    the exact global-window path (unique total order via tie-break), and
    its plan must contain NO single-partition exchange — the property
    that keeps the ranking family alive at unbounded key cardinality."""
    from pyspark.sql import functions as F

    from trading_dashboard_spark.io.readers import load_table
    from trading_dashboard_spark.operators.ranks import (
        distribution_ranks,
        ntile_buckets,
    )

    ev = load_table(spark, "events", sf_dir)
    totals = ev.groupBy("user_id").agg(F.sum("value").alias("total"))

    cols = [F.col("total").desc(), F.col("user_id")]
    exact = ntile_buckets(totals, 4, cols, "q", exact=True)
    dist = ntile_buckets(totals, 4, cols, "q", exact=False)
    key = lambda r: r["user_id"]
    assert sorted(map(tuple, exact.collect()), key=lambda t: t[0]) == sorted(
        map(tuple, dist.collect()), key=lambda t: t[0]
    )
    plan = dist._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    # downstream of the checkpointed (range-partitioned, locally ranked)
    # rows the plan is pure map work — the checkpoint itself is the
    # boundary-pinning step (see _with_global_rank)
    assert "ExistingRDD" in plan

    cols2 = [F.col("total"), F.col("user_id")]
    exact2 = distribution_ranks(totals, cols2, exact=True)
    dist2 = distribution_ranks(totals, cols2, exact=False)
    e = {r["user_id"]: (r["pct_rank"], r["cum_dist"]) for r in exact2.collect()}
    d = {r["user_id"]: (r["pct_rank"], r["cum_dist"]) for r in dist2.collect()}
    assert e == d
    plan2 = dist2._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan2


def test_ntile_uneven_split_matches_sql_rule(spark):
    """N=10 rows, n=4 buckets: SQL ntile gives sizes 3,3,2,2 — the
    rank-derived bucket formula must reproduce that exactly, exact and
    distributed paths alike."""
    from pyspark.sql import functions as F

    from trading_dashboard_spark.operators.ranks import ntile_buckets

    df = spark.createDataFrame([(i,) for i in range(10)], ["x"])
    for exact in (True, False):
        out = ntile_buckets(df, 4, [F.col("x")], "b", exact=exact)
        sizes = {
            r["b"]: r["n"]
            for r in out.groupBy("b").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert sizes == {1: 3, 2: 3, 3: 2, 4: 2}, (exact, sizes)


def test_table_diff_classification_with_nulls(spark):
    """added/removed/changed/unchanged per key; null->value and
    value->null both count as changed (null-safe comparison)."""
    from trading_dashboard_spark.operators.relational import table_diff

    a = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", None), (3, "z", 3.0), (4, "w", 4.0)],
        "k int, s string, v double",
    )
    b = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0), (3, None, 3.0), (5, "new", 5.0)],
        "k int, s string, v double",
    )
    out = {r["k"]: r["diff_status"] for r in table_diff(a, b, ["k"]).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "changed",
                   4: "removed", 5: "added"}


def test_cohort_retention_matrix(spark):
    """Two cohorts; day offsets counted per cohort; offsets beyond the
    horizon dropped."""
    from trading_dashboard_spark.operators.temporal import cohort_retention

    rows = [
        (1, "2024-01-01 10:00:00"), (1, "2024-01-02 09:00:00"),
        (1, "2024-01-02 23:00:00"),  # same user-day counted once
        (2, "2024-01-01 11:00:00"),
        (3, "2024-01-03 08:00:00"), (3, "2024-01-20 08:00:00"),  # > horizon
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", __import__("pyspark.sql.functions", fromlist=["F"]).to_timestamp("ts")
    )
    out = {
        (str(r["cohort_day"]), r["day_offset"]): r["n_active_users"]
        for r in cohort_retention(df, max_offset=7).collect()
    }
    assert out == {
        ("2024-01-01", 0): 2,   # users 1 and 2
        ("2024-01-01", 1): 1,   # user 1 returns next day
        ("2024-01-03", 0): 1,   # user 3's cohort; day 17 beyond horizon
    }


def test_redact_pii_families_and_counts(spark):
    from pyspark.sql import functions as F

    from trading_dashboard_spark.text.analysis import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@corp.example.org and http://x.io/p?q=1 now"),
            (2, "call +1-555-123-4567 twice: +44-20-7946-0958"),
            (3, "nothing here"),
            (4, None),
        ],
        "id long, text string",
    )
    r = redact_pii(F.col("text"))
    out = {
        row["id"]: row
        for row in df.select(
            "id", r["n_email"].alias("e"), r["n_url"].alias("u"),
            r["n_phone"].alias("p"), r["redacted"].alias("red")
        ).collect()
    }
    assert (out[1]["e"], out[1]["u"], out[1]["p"]) == (1, 1, 0)
    assert "<EMAIL>" in out[1]["red"] and "<URL>" in out[1]["red"]
    assert "@" not in out[1]["red"]
    assert out[2]["p"] == 2 and out[2]["red"].count("<PHONE>") == 2
    assert out[3]["red"] == "nothing here"
    assert out[4]["red"] == ""


def test_chunk_fingerprints_boundaries(spark):
    from trading_dashboard_spark.text.analysis import chunk_fingerprints

    toks = lambda n: " ".join(f"w{i}" for i in range(n))
    df = spark.createDataFrame(
        [(1, ""), (2, toks(3)), (3, toks(8)), (4, toks(17)), (5, None)],
        "doc_id long, text string",
    )
    out = chunk_fingerprints(df, chunk_tokens=8).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r["chunk_idx"])
    assert 1 not in per_doc and 5 not in per_doc      # empty/null -> no chunks
    assert per_doc[2] == [0]                          # short -> one chunk
    assert per_doc[3] == [0]                          # exact window -> one
    assert sorted(per_doc[4]) == [0, 1, 2]            # 17 tokens -> 3 chunks
    # identical windows fingerprint identically across docs
    fp = {(r["doc_id"], r["chunk_idx"]): r["chunk_fp"] for r in out}
    assert fp[(3, 0)] == fp[(4, 0)]


def test_portable_round_is_division_safe():
    """Regression: the rewrite must be usable as a denominator —
    `a / round(b, 4)` once expanded to `a / floor(...) / f`, silently
    dividing the whole ratio by 10^4."""
    import duckdb

    from trading_dashboard_spark.functions import portable_round_sql

    sql = portable_round_sql("SELECT 50.0 / round(25.0, 4) AS r")
    assert duckdb.sql(sql).fetchone()[0] == 2.0


def test_decile_query_releases_rank_checkpoint(spark, sf_dir):
    """The registered exact=False decile query must leave at most its
    own tiny result checkpoint behind: the two-stage path's full-size
    stamped checkpoint is released via ranks.release_rank_cache after
    the 10-row aggregate materializes (ADVICE: exact=False residue)."""
    from trading_dashboard_spark.queries import QUERY_REGISTRY

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    rows = QUERY_REGISTRY["extendedprice_decile_stats"].fn(spark, sf_dir).collect()
    assert len(rows) == 10
    after = jsc.getPersistentRDDs().size()
    assert after - before <= 1  # only the 10-row result checkpoint remains


def test_key_gaps_buckets_and_stitch(spark):
    """key_gaps finds every maximal missing range: inside one bucket,
    across adjacent buckets, and across runs of EMPTY buckets (the
    stitch lags the previous non-empty bucket's max)."""
    from pyspark.sql import functions as F

    from trading_dashboard_spark.operators.ranks import key_gaps

    keys = [1, 2, 3, 7, 8, 100, 1050, 5000]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = sorted(
        (r["gap_start"], r["gap_end"], r["gap_len"])
        for r in key_gaps(df, "k", bucket_size=50).collect()
    )
    assert got == [(4, 6, 3), (9, 99, 91), (101, 1049, 949),
                   (1051, 4999, 3949)]
    # gapless and single-key inputs produce no rows
    dense = spark.createDataFrame([(k,) for k in range(10, 20)], "k long")
    assert key_gaps(dense, "k", bucket_size=4).count() == 0
    assert key_gaps(df.limit(1), "k").count() == 0
    # negative keys: Spark's % keeps the dividend sign, so the bucket
    # spanning zero is up to 2x wide — ranges stay contiguous and
    # non-overlapping, which is all correctness needs
    negk = spark.createDataFrame(
        [(-120,), (-119,), (-60,), (-3,), (0,), (2,), (75,)], "k long")
    got_n = sorted(
        (r["gap_start"], r["gap_end"], r["gap_len"])
        for r in key_gaps(negk, "k", bucket_size=50).collect()
    )
    assert got_n == [(-118, -61, 58), (-59, -4, 56), (-2, -1, 2),
                     (1, 1, 1), (3, 74, 72)]


def test_adaptive_ntile_queries_distributed_parity(spark, monkeypatch):
    """rfm_customer_segments / lorenz_curve_deciles (r5 policy sweep):
    forcing the row threshold to 0 routes both through the two-stage
    ntile_buckets — values must equal the exact window path, and the
    distributed scoring plan must contain no single-partition
    exchange."""
    from pyspark.sql import functions as F

    from trading_dashboard_spark.operators import ranks
    from trading_dashboard_spark.queries_analytics import (
        lorenz_curve_deciles, rfm_customer_segments,
    )

    sf = "/root/testdata/sf0.001"
    exact_rfm = {tuple(r) for r in rfm_customer_segments(spark, sf).collect()}
    exact_lor = [tuple(r) for r in
                 lorenz_curve_deciles(spark, sf).orderBy("decile").collect()]

    monkeypatch.setattr(ranks, "NTILE_EXACT_MAX_ROWS", 0)
    dist_rfm = {tuple(r) for r in rfm_customer_segments(spark, sf).collect()}
    dist_lor = [tuple(r) for r in
                lorenz_curve_deciles(spark, sf).orderBy("decile").collect()]
    assert dist_rfm == exact_rfm and len(exact_rfm) > 0
    assert dist_lor == exact_lor and len(exact_lor) == 10

    # plan shape of the distributed scoring chain itself
    from trading_dashboard_spark.io.readers import load_table

    o = load_table(spark, "orders", sf)
    per_cust = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("r"))
    tiled = ranks.ntile_buckets(
        per_cust, 10, [F.col("r"), F.col("o_custkey")], "decile",
        exact=False,
    )
    plan = tiled._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    ranks.release_rank_cache(tiled)


def test_global_prefix_sum_matches_window(spark):
    """ranks.global_prefix_sum == the unpartitioned running-sum window
    on a unique total order — including negative values (the partition
    total must be sum(value), not max(cumsum)), ties broken by the key,
    and more partitions than rows (empty partitions contribute zero
    offsets)."""
    from pyspark.sql import Window as W, functions as F

    from trading_dashboard_spark.operators import ranks

    rows = [(i, v) for i, v in enumerate([5, -3, 0, 7, -10, 2, 2, 9, -1, 4])]
    df = spark.createDataFrame(rows, "k int, v long").repartition(7)

    got = ranks.global_prefix_sum(df, [F.col("v"), F.col("k")], "v", "cum")
    w = W.orderBy(F.col("v"), F.col("k")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    want = df.withColumn("cum", F.sum("v").over(w))
    assert (
        sorted(map(tuple, got.collect()))
        == sorted(map(tuple, want.collect()))
    )

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    ranks.release_rank_cache(got)

    # more partitions than rows
    tiny = spark.createDataFrame(rows[:2], "k int, v long")
    got2 = ranks.global_prefix_sum(
        tiny, [F.col("v"), F.col("k")], "v", "cum", partitions=9
    )
    assert sorted(map(tuple, got2.collect())) == [(0, 5, 2), (1, -3, -3)]
    ranks.release_rank_cache(got2)


def test_token_budget_selection_distributed_parity(spark, monkeypatch):
    """r8 verdict #2: forcing the row threshold to 0 routes
    token_budget_selection through the bucket-histogram threshold path
    — per-source admissions must equal the exact global-window path,
    and the boundary-bucket prefix-sum plan must contain no
    single-partition exchange (asserted in
    test_global_prefix_sum_matches_window; here we additionally check
    the histogram decomposition on real sf data)."""
    from trading_dashboard_spark.operators import ranks
    from trading_dashboard_spark.queries_training import (
        token_budget_selection,
    )

    sf = "/root/testdata/sf0.001"
    exact = {tuple(r) for r in token_budget_selection(spark, sf).collect()}

    monkeypatch.setattr(ranks, "NTILE_EXACT_MAX_ROWS", 0)
    dist = {tuple(r) for r in token_budget_selection(spark, sf).collect()}
    assert dist == exact and len(exact) > 0
    # the budget must actually bind at this SF for the parity to be
    # meaningful (otherwise both paths trivially admit everything)
    assert any(r[1] > r[2] for r in exact), "budget did not bind"


def test_order_key_forms_identical_total_order(spark):
    """The decimal(38,0) packed order key and the zero-padded string key
    (the Spark twin of the oracle's `EVENT_ORDER_KEY_SQL`) must induce
    the SAME total order — pinned on the adversarial shape that
    motivated the key: duplicate timestamps, id 0, and a huge id near
    int64's edge."""
    from pyspark.sql import functions as F

    from trading_dashboard_spark.query_registry import event_order_key

    rows = [
        ("2024-01-02 09:30:00.000001", 7),
        ("2024-01-02 09:30:00.000001", 0),          # same ts, id break
        ("2024-01-02 09:30:00.000001", 9_223_372_036_854_775_000),
        ("2024-01-02 09:30:00.000002", 1),
        ("1970-01-01 00:00:00.000000", 2),          # epoch edge
        ("2038-01-19 03:14:07.999999", 3),
    ]
    df = spark.createDataFrame(rows, "ts_s string, event_id long").select(
        F.to_timestamp("ts_s").alias("ts"), "event_id"
    )
    string_key = F.concat(
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 20, "0"),
    )
    orders = {
        form: [(r["ts"], r["event_id"]) for r in df.orderBy(key).collect()]
        for form, key in (("string", string_key),
                          ("decimal", event_order_key()))
    }
    assert orders["string"] == orders["decimal"]
    # and the order is (ts, event_id) lexicographic
    assert orders["string"] == sorted(orders["string"])


def test_day_scoped_order_key_matches_general_key_within_day_groups(spark):
    """`day_scoped_order_key` (r11: packed long, used ONLY under
    day-aligned groupBys) must pick the same argmax/argmin as the general
    key in every (user, day) group — pinned on duplicate timestamps,
    day-boundary micros (23:59:59.999999 / 00:00:00.000000), NULL
    values, and a pre-1970 day; and its domain guard must raise LOUDLY
    for event_id ≥ 2²⁶."""
    import pytest
    from pyspark.sql import functions as F

    from trading_dashboard_spark import query_registry as qr

    rows = [
        # one UTC day, duplicate micros broken by id
        (1, "2024-01-02 23:59:59.999999", 10, 5.0),
        (1, "2024-01-02 23:59:59.999999", 11, 6.0),
        (1, "2024-01-02 00:00:00.000000", 12, 7.0),   # day start
        # next day begins — separate group, its min-micros row
        (1, "2024-01-03 00:00:00.000000", 13, 8.0),
        # NULL values (key must be NULLed by the caller's wrapper)
        (2, "2024-01-02 11:00:00.000000", 14, None),
        (2, "2024-01-02 10:00:00.000000", 15, 9.0),
        # pre-1970: negative epoch micros, pmod still in-day
        (3, "1969-12-31 18:00:00.000000", 16, 1.5),
        (3, "1969-12-31 06:00:00.000000", 17, 2.5),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts_s string, event_id long, value double"
    ).select(
        "user_id", F.to_timestamp("ts_s").alias("ts"), "event_id", "value"
    )

    def daily(key):
        k = F.when(F.col("value").isNotNull(), key)
        return {
            (r["user_id"], str(r["d"])): (r["close"], r["open"])
            for r in df.groupBy(
                "user_id", F.to_date("ts").alias("d")
            ).agg(
                F.max_by("value", k).alias("close"),
                F.min_by("value", k).alias("open"),
            ).collect()
        }

    assert daily(qr.day_scoped_order_key()) == daily(qr.event_order_key())

    # domain guard: id at 2^26 raises instead of silently mis-ordering
    bad = spark.createDataFrame(
        [("2024-01-02 09:00:00", 1 << 26, 1.0)],
        "ts_s string, event_id long, value double",
    ).select(F.to_timestamp("ts_s").alias("ts"), "event_id", "value")
    with pytest.raises(Exception, match="day_scoped_order_key"):
        bad.select(qr.day_scoped_order_key().alias("k")).collect()


# --- version-keyed relation cache (io/cache.py) ---------------------------

def _events_table(seed: int, n: int, first_id: int = 0, start_us: int = 0,
                  values=None):
    """``n`` increasing-ts ticks for 20 users over ~3 days, as pyarrow."""
    import numpy as np
    import pyarrow as pa

    g = np.random.default_rng(seed)
    day_us = 86_400_000_000
    ts = 1_704_067_200_000_000 + start_us + np.cumsum(
        1 + g.integers(0, 3 * day_us // n, n)
    )
    drawn = np.round(g.exponential(50.0, n), 2)
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": g.integers(0, 20, n, dtype=np.int64),
        "event_type": ["click"] * n,
        "value": pa.array(drawn if values is None else values, pa.float64()),
        "props": ['{"k": 1}'] * n,
    })


def _land(table, path: str, **kw) -> None:
    """Write ``table`` next to ``path`` and rename it into place, so a
    reader sees the old file or the new one, never a partial write."""
    import pyarrow.parquet as pq

    pq.write_table(table, f"{path}.incoming", **kw)
    os.replace(f"{path}.incoming", path)


def _duckdb_bars(table) -> set:
    import duckdb

    from trading_dashboard_spark.query_registry import DAILY_SQL

    con = duckdb.connect()
    con.register("events", table)
    return set(con.execute(
        f"WITH {DAILY_SQL} SELECT user_id, strftime(d, '%Y-%m-%d'), close,"
        " high, low, n_events FROM daily"
    ).fetchall())


def _spark_bars(df) -> set:
    return {(r["user_id"], str(r["d"]), r["close"], r["high"], r["low"],
             r["n_events"]) for r in df.collect()}


def test_daily_close_checkpointed_once_per_events_version(spark, tmp_path):
    """Three consecutive `events` versions, each landed by atomic rename:
    the bars equal the DuckDB oracle on every version, a repeat call on
    the same version returns the same relation without starting a Spark
    job, and exactly one miss is paid per version."""
    import pyarrow as pa

    from trading_dashboard_spark.io.cache import cache_stats
    from trading_dashboard_spark.query_registry import _daily_close

    path = str(tmp_path / "events.parquet")
    sc = spark.sparkContext
    before = cache_stats()["daily_close"]
    table = _events_table(0, 400)
    for k in range(3):
        if k:
            last_us = table.column("ts").cast(pa.int64())[-1].as_py()
            batch = _events_table(k, 60, table.num_rows,
                                  last_us - 1_704_067_200_000_000)
            table = pa.concat_tables([table, batch])
        _land(table, path)
        bars = _daily_close(spark, str(tmp_path))
        assert _spark_bars(bars) == _duckdb_bars(table), f"version {k}"

        group = f"bars-repeat-{k}"
        sc.setJobGroup(group, "repeat call on one events version")
        try:
            again = _daily_close(spark, str(tmp_path))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert again is bars
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    after = cache_stats()["daily_close"]
    assert after["misses"] - before["misses"] == 3
    assert after["hits"] - before["hits"] == 3


def test_caches_keep_only_the_latest_version_of_a_path(spark, tmp_path):
    """Three `events` versions landed by atomic rename in one directory:
    after each, the `daily_close` and `scans` caches hold exactly one
    entry for that path, at its current stamp."""
    import pyarrow as pa

    from trading_dashboard_spark import query_registry
    from trading_dashboard_spark.io import readers
    from trading_dashboard_spark.io.cache import file_version

    path = str(tmp_path / "events.parquet")
    table = _events_table(0, 300)
    for k in range(3):
        if k:
            last_us = table.column("ts").cast(pa.int64())[-1].as_py()
            batch = _events_table(k, 60, table.num_rows,
                                  last_us - 1_704_067_200_000_000)
            table = pa.concat_tables([table, batch])
        _land(table, path)
        assert _spark_bars(query_registry._daily_close(spark, str(tmp_path))
                           ) == _duckdb_bars(table), k
        version = file_version(path)
        for cache in (query_registry._DAILY_BARS, readers._SCANS):
            held = [v for v in cache if v[0] == version[0]]
            assert held == [version], (k, held)


def test_version_key_misses_same_size_replacement_with_preserved_mtime(
    spark, tmp_path
):
    """A replacement with the old size AND the old mtime (``os.utime``,
    as ``cp -p`` does) is still a new version: the key carries the inode
    and ctime, so the bars come from the new file."""
    from trading_dashboard_spark.io.cache import cache_stats, file_version
    from trading_dashboard_spark.query_registry import _daily_close

    path = str(tmp_path / "events.parquet")
    fixed = {"compression": "NONE", "use_dictionary": False}
    v1 = _events_table(7, 300)
    v2 = _events_table(7, 300, values=[float(i % 97) for i in range(300)])
    _land(v1, path, **fixed)
    st1 = os.stat(path)
    key1 = file_version(path)
    assert _spark_bars(_daily_close(spark, str(tmp_path))) == _duckdb_bars(v1)

    import pyarrow.parquet as pq

    pq.write_table(v2, f"{path}.incoming", **fixed)
    os.utime(f"{path}.incoming", ns=(st1.st_atime_ns, st1.st_mtime_ns))
    os.replace(f"{path}.incoming", path)
    st2 = os.stat(path)
    assert (st2.st_size, st2.st_mtime_ns) == (st1.st_size, st1.st_mtime_ns)
    assert file_version(path) != key1

    misses = cache_stats()["daily_close"]["misses"]
    bars = _daily_close(spark, str(tmp_path))
    assert cache_stats()["daily_close"]["misses"] == misses + 1
    assert _spark_bars(bars) == _duckdb_bars(v2) != _duckdb_bars(v1)


def test_version_cache_concurrent_misses_compute_once(spark):
    """Four threads on one cold key pay one computation; while it runs,
    a lookup on a different key is served without waiting for it."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from trading_dashboard_spark.io.cache import VersionCache, cache_stats

    cache = VersionCache("concurrency-test", 4)
    started, release = threading.Event(), threading.Event()

    def slow():
        started.set()
        assert release.wait(30)
        return object()

    with ThreadPoolExecutor(4) as pool:
        futures = [pool.submit(cache.get_or_compute, spark, ("cold", 1), slow)
                   for _ in range(4)]
        assert started.wait(30)
        with ThreadPoolExecutor(1) as side:
            other = side.submit(
                cache.get_or_compute, spark, ("other", 1), lambda: "fast"
            )
            assert other.result(timeout=10) == "fast"  # "cold" still runs
        assert cache.get_or_compute(
            spark, ("other", 1), lambda: "recomputed"
        ) == "fast"
        assert not any(f.done() for f in futures)
        release.set()
        values = [f.result(timeout=30) for f in futures]

    assert all(v is values[0] for v in values)
    stats = cache_stats()["concurrency-test"]
    assert (stats["misses"], stats["hits"]) == (2, 4)  # 3 waiters + "other"
