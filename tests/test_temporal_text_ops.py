"""Round-2 operator tests — sessionize, MACD, repetition signals.

Each verifies semantics against an independent per-row computation
(pandas or hand-derived), not against the operator's own oracle SQL.
"""

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from trading_dashboard_spark.operators.indicators import macd_sql
from trading_dashboard_spark.operators.temporal import sessionize
from trading_dashboard_spark.text.analysis import repetition_signals


def _ts(h, m=0, s=0):
    return dt.datetime(2024, 1, 1, h, m, s)


def test_sessionize_gap_boundaries(spark):
    # gaps: 0s (tie), exactly gap (same session), gap+1s (new session)
    rows = [
        (1, 1, _ts(0)),
        (1, 2, _ts(0)),           # tie -> same session
        (1, 3, _ts(1)),           # 3600s gap == threshold -> same
        (1, 4, _ts(2, 0, 1)),     # 3601s -> new session
        (2, 5, _ts(9)),           # other key starts over
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    out = (
        sessionize(df, "user_id", "ts", 3600, tiebreak="event_id")
        .select("user_id", "event_id", "session_id")
        .collect()
    )
    got = {(r.user_id, r.event_id): r.session_id for r in out}
    assert got[(1, 1)] == got[(1, 2)] == got[(1, 3)] == 1
    assert got[(1, 4)] == 2
    assert got[(2, 5)] == 1


def test_sessionize_single_row_and_empty(spark):
    df = spark.createDataFrame([(1, 1, _ts(0))], "user_id long, event_id long, ts timestamp")
    assert sessionize(df, "user_id", "ts", 60).first().session_id == 1
    empty = df.limit(0)
    assert sessionize(empty, "user_id", "ts", 60).count() == 0


def test_macd_matches_pandas(spark):
    rng = np.random.RandomState(11)
    rows = []
    for sym in ["A", "B"]:
        prices = 100 + np.cumsum(rng.normal(0, 2, size=80))
        rows += [(sym, i, float(p)) for i, p in enumerate(prices)]
    rows.append(("C", 0, 42.0))  # single-row partition
    df = spark.createDataFrame(rows, "sym string, t long, close double")
    got = (
        macd_sql(df, "close", "sym", "t")
        .toPandas()
        .sort_values(["sym", "t"])
        .reset_index(drop=True)
    )
    closes = {(r[0], r[1]): r[2] for r in rows}
    for sym, g in got.groupby("sym"):
        g = g.sort_values("t")
        s = pd.Series([closes[(sym, t)] for t in g["t"]])
        fast = s.ewm(span=12, adjust=False).mean()
        slow = s.ewm(span=26, adjust=False).mean()
        m = fast - slow
        sig = m.ewm(span=9, adjust=False).mean()
        np.testing.assert_allclose(g["macd"], m, atol=1e-9)
        np.testing.assert_allclose(g["macd_signal"], sig, atol=1e-9)
        np.testing.assert_allclose(g["macd_hist"], m - sig, atol=1e-9)
    # single-row: all EMAs equal the value -> macd/signal/hist are 0
    c = got[got.sym == "C"].iloc[0]
    assert c.macd == pytest.approx(0.0) and c.macd_hist == pytest.approx(0.0)


def test_repetition_signals_known_values(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a"),      # 5 words, 2 distinct; top 'a' x3;
                                   # bigrams: ab,ba,ab,ba -> 2 distinct of 4
            (2, "x"),              # single word: no bigrams -> null frac
            (3, "one two three"),  # all distinct
        ],
        "doc_id long, text string",
    )
    sig = repetition_signals(F.col("text"))
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            sig["n_words"].alias("n"),
            sig["type_token_ratio"].alias("ttr"),
            sig["top_word_frac"].alias("twf"),
            sig["dup_bigram_frac"].alias("dbf"),
        ).collect()
    }
    assert out[1].n == 5
    assert out[1].ttr == pytest.approx(0.4)
    assert out[1].twf == pytest.approx(0.6)
    assert out[1].dbf == pytest.approx(0.5)
    assert out[2].n == 1 and out[2].twf == pytest.approx(1.0)
    assert out[2].dbf is None
    assert out[3].ttr == pytest.approx(1.0)
    assert out[3].dbf == pytest.approx(0.0)


def test_repetition_signals_case_fold_and_empty(spark):
    df = spark.createDataFrame([(1, "A a A"), (2, "")], "doc_id long, text string")
    sig = repetition_signals(F.col("text"))
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            sig["n_words"].alias("n"),
            sig["top_word_frac"].alias("twf"),
            sig["type_token_ratio"].alias("ttr"),
        ).collect()
    }
    assert out[1].twf == pytest.approx(1.0)  # case-folded mode count
    assert out[1].ttr == pytest.approx(1 / 3)
    assert out[2].n == 0 and out[2].ttr is None


def test_connected_components_merges_transitively(spark):
    from trading_dashboard_spark.text.clusters import connected_components, dedup_clusters

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)],
        "id_a long, id_b long",
    )
    cc = {r.id: r.component for r in connected_components(edges).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}
    clusters = {
        r.component: (r.n_members, r.n_removed, r.max_member)
        for r in dedup_clusters(edges).collect()
    }
    assert clusters == {1: (4, 3, 4), 10: (2, 1, 11), 20: (2, 1, 21)}


def test_connected_components_long_chain_and_bound(spark):
    from trading_dashboard_spark.text.clusters import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    cc = connected_components(chain, max_iter=50)
    assert cc.select("component").distinct().count() == 1
    # the convergence bound is a property of the distributed loop; the
    # r11 driver fast path solves any in-gate graph without iterating,
    # so force the loop (gate 0) to pin the raise
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(chain, max_iter=2, driver_max_edge_rows=0)


def test_connected_components_gate_zero_forces_loop_on_empty_graph(spark):
    """ADVICE r11 #3: gate=0 must force the DISTRIBUTED lane even when
    the symmetrized edge set is EMPTY (previously ``0 <= 0`` still took
    the driver fast path). Both lanes return zero label rows there —
    this pins that the loop lane handles the empty graph and that the
    override semantics hold at its only observable corner."""
    from trading_dashboard_spark.text.clusters import connected_components

    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = connected_components(empty, driver_max_edge_rows=0)
    assert out.columns == ["id", "component"]
    assert out.count() == 0
    # and the driver lane agrees on empty input under the default gate
    assert connected_components(empty).count() == 0


def test_expect_null_counts_as_violation(spark):
    from trading_dashboard_spark.operators.quality import expect

    df = spark.createDataFrame(
        [(1.0,), (None,), (-2.0,)], "x double"
    )
    out = {r.rule: r for r in expect(df, {
        "positive": F.col("x") > 0,
        "present": F.col("x").isNotNull(),
    }).collect()}
    assert out["positive"].n_violations == 2   # NULL and -2 both fail
    assert out["present"].n_violations == 1
    assert out["positive"].n_rows == 3
    empty = expect(df.limit(0), {"positive": F.col("x") > 0}).collect()
    assert empty[0].n_violations == 0 and empty[0].violation_rate is None


def test_grouped_sorted_map_batch_boundary_carry(spark):
    """Order-sensitive per-group computation must survive Arrow batch
    boundaries: with a tiny maxRecordsPerBatch, groups span batches and
    the carry logic must hand fn whole sorted groups — a boundary bug
    corrupts the leading values of carried groups."""
    import pandas as pd

    from trading_dashboard_spark.operators.grouped import grouped_sorted_map

    rows = [(k, i, float(k * 100 + i)) for k in range(5) for i in range(11)]
    df = spark.createDataFrame(rows, "k long, i long, x double")

    def fn(pdf):
        pdf = pdf.copy()
        pdf["cs"] = pdf.groupby("k", sort=False)["x"].cumsum()
        return pdf

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = (
            grouped_sorted_map(df, ["k"], ["i"], fn, "k long, i long, x double, cs double")
            .toPandas()
            .sort_values(["k", "i"])
            .reset_index(drop=True)
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    pdf = pd.DataFrame(rows, columns=["k", "i", "x"]).sort_values(["k", "i"])
    expected = pdf.groupby("k")["x"].cumsum().reset_index(drop=True)
    pd.testing.assert_series_equal(got["cs"], expected, check_names=False)
    assert len(got) == len(rows)
