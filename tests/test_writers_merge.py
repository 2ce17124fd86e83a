"""MERGE/upsert semantics tests — S14/S15 (SURVEY.md §7.4: exact ON
CONFLICT reproduction + idempotency)."""

import pytest
from pyspark.sql import functions as F

from trading_dashboard_spark.io.writers import (
    append_if_absent,
    dedup_by_key,
    insert_if_absent,
    merge_upsert,
    merge_upsert_partitioned,
)


def _digest(df):
    return {tuple(r) for r in df.collect()}


def test_merge_upsert_updates_and_inserts(spark):
    target = spark.createDataFrame(
        [("A", 1, 10.0), ("B", 1, 20.0)], ["k", "d", "v"]
    )
    updates = spark.createDataFrame(
        [("A", 1, 99.0), ("C", 1, 30.0)], ["k", "d", "v"]
    )
    out = merge_upsert(target, updates, ["k", "d"])
    assert _digest(out) == {("A", 1, 99.0), ("B", 1, 20.0), ("C", 1, 30.0)}


def test_merge_upsert_idempotent(spark):
    target = spark.createDataFrame([("A", 1, 10.0), ("B", 1, 20.0)], ["k", "d", "v"])
    updates = spark.createDataFrame([("A", 1, 99.0)], ["k", "d", "v"])
    once = merge_upsert(target, updates, ["k", "d"])
    twice = merge_upsert(once, updates, ["k", "d"])
    assert _digest(once) == _digest(twice)


def test_merge_upsert_duplicate_update_keys_deterministic(spark):
    target = spark.createDataFrame([("A", 1, 10.0)], ["k", "d", "v"])
    updates = spark.createDataFrame(
        [("A", 1, 5.0), ("A", 1, 7.0), ("A", 1, 6.0)], ["k", "d", "v"]
    )
    out = merge_upsert(target, updates, ["k", "d"]).collect()
    assert len(out) == 1 and out[0]["v"] == 7.0  # greatest non-key tuple wins


def test_insert_if_absent_keeps_existing(spark):
    target = spark.createDataFrame([("A", 1, 10.0)], ["k", "d", "v"])
    new = spark.createDataFrame([("A", 1, 99.0), ("B", 2, 5.0)], ["k", "d", "v"])
    out = insert_if_absent(target, new, ["k", "d"])
    assert _digest(out) == {("A", 1, 10.0), ("B", 2, 5.0)}  # existing row kept


def test_dedup_by_key_with_nulls(spark):
    df = spark.createDataFrame(
        [("A", None), ("A", 3.0), ("A", 1.0)], "k string, v double"
    )
    out = dedup_by_key(df, ["k"]).collect()
    assert len(out) == 1 and out[0]["v"] == 3.0  # nulls lose (desc_nulls_last)


def test_merge_empty_updates_is_noop(spark):
    target = spark.createDataFrame([("A", 1, 10.0)], ["k", "d", "v"])
    empty = spark.createDataFrame([], "k string, d bigint, v double")
    assert _digest(merge_upsert(target, empty, ["k", "d"])) == _digest(target)


def test_versioned_commit_and_time_travel(spark, tmp_path):
    from trading_dashboard_spark.io.versioned import (
        commit_snapshot,
        current_version,
        read_versioned,
        vacuum,
    )

    path = str(tmp_path / "vt")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    df2 = spark.createDataFrame([(1, "a2"), (3, "c")], ["k", "v"])
    assert current_version(path) == 0
    assert commit_snapshot(df1, path) == 1
    assert commit_snapshot(df2, path) == 2
    assert {tuple(r) for r in read_versioned(spark, path).collect()} == {(1, "a2"), (3, "c")}
    assert {tuple(r) for r in read_versioned(spark, path, version=1).collect()} == {(1, "a"), (2, "b")}
    assert vacuum(path, keep=1) == [1]
    assert current_version(path) == 2


def test_versioned_commit_race_fails_cleanly(spark, tmp_path):
    """Two committers racing for the same next version: the loser gets
    ConcurrentCommitError (never a clobbered snapshot dir or a silently
    lost update); vacuum clears the stale claim so commits resume."""
    import pytest

    from trading_dashboard_spark.io.versioned import (
        ConcurrentCommitError,
        _claim_path,
        commit_snapshot,
        current_version,
        read_versioned,
        vacuum,
    )

    path = str(tmp_path / "vt_race")
    df1 = spark.createDataFrame([(1, "a")], ["k", "v"])
    assert commit_snapshot(df1, path) == 1
    # simulate a concurrent committer that already claimed v=2
    import os

    os.close(os.open(_claim_path(path, 2), os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    with pytest.raises(ConcurrentCommitError):
        commit_snapshot(df1, path)
    # table is untouched and still readable at v=1
    assert current_version(path) == 1
    assert {tuple(r) for r in read_versioned(spark, path).collect()} == {(1, "a")}
    # vacuum clears the crashed/foreign claim; commits proceed.
    # grace_sec=0 is the no-committer-running maintenance case — the
    # default grace would (correctly) spare this seconds-old claim.
    vacuum(path, keep=10, grace_sec=0)
    assert commit_snapshot(df1, path) == 2


def test_failed_commit_snapshot_releases_its_claim(spark, tmp_path):
    """A single-table commit whose write fails leaves neither its claim
    nor a partial snapshot directory, so a retry takes the same version
    without vacuum and readers see the retry's rows."""
    import os

    from trading_dashboard_spark.io.versioned import (
        commit_snapshot,
        current_version,
        read_versioned,
    )

    path = str(tmp_path / "vt_fail")
    assert commit_snapshot(spark.createDataFrame([(1, "a")], ["k", "v"]), path) == 1
    bad = spark.range(4).select(
        F.col("id").alias("k"), F.raise_error(F.lit("simulated write failure")).alias("v")
    )
    with pytest.raises(Exception, match="simulated write failure"):
        commit_snapshot(bad, path)
    assert not os.path.exists(os.path.join(path, "v=2.claim"))
    assert not os.path.exists(os.path.join(path, "v=2"))
    assert current_version(path) == 1

    retry = spark.createDataFrame([(1, "a2"), (2, "b")], ["k", "v"])
    assert commit_snapshot(retry, path) == 2
    assert {tuple(r) for r in read_versioned(spark, path).collect()} == {(1, "a2"), (2, "b")}


def test_failed_multi_table_commit_removes_every_claimed_version(spark, tmp_path):
    """When the second table's write fails, both tables lose this
    transaction's claim and snapshot directory — the first table's
    finished write and the second's partial one — and stay at v=1."""
    import os

    from trading_dashboard_spark.io.versioned import commit_multi, current_version

    paths = [str(tmp_path / "a"), str(tmp_path / "b")]
    good = spark.createDataFrame([(1, "a")], ["k", "v"])
    assert commit_multi([(good, p, 0) for p in paths]) == {p: 1 for p in paths}
    bad = spark.range(4).select(
        F.col("id").alias("k"), F.raise_error(F.lit("simulated write failure")).alias("v")
    )
    with pytest.raises(Exception, match="simulated write failure"):
        commit_multi([(good, paths[0], 1), (bad, paths[1], 1)])
    for p in paths:
        assert current_version(p) == 1
        assert sorted(os.listdir(p)) == ["_VERSION", "v=1", "v=1.claim"]


def test_unparseable_pointer_raises_instead_of_reading_as_empty(spark, tmp_path):
    """Only a missing pointer means "no table yet": an empty `_VERSION`
    makes current_version and vacuum raise, and vacuum deletes nothing."""
    import os

    from trading_dashboard_spark.io.versioned import commit_snapshot, current_version, vacuum

    path = str(tmp_path / "vt_garbled")
    df = spark.createDataFrame([(1, "a")], ["k", "v"])
    commit_snapshot(df, path)
    commit_snapshot(df, path)
    open(os.path.join(path, "_VERSION"), "w").close()
    with pytest.raises(ValueError):
        current_version(path)
    with pytest.raises(ValueError):
        vacuum(path, grace_sec=0)
    assert sorted(os.listdir(path)) == ["_VERSION", "v=1", "v=1.claim", "v=2", "v=2.claim"]


def test_incremental_merge_stream_equals_batch_merge(spark, sf_dir, tmp_path):
    """foreachBatch merge over a multi-file stream (with planted duplicate
    keys across batches) converges to one row per key with the
    deterministic survivor — and re-running the whole stream over the same
    data is a no-op (at-least-once idempotency)."""
    from pyspark.sql import functions as F

    from trading_dashboard_spark.io.readers import load_table
    from trading_dashboard_spark.io.versioned import (
        current_version,
        incremental_merge_stream,
        read_versioned,
    )
    from trading_dashboard_spark.streaming.ingest import stream_events

    ev = load_table(spark, "events", sf_dir).limit(300)
    dup = ev.union(ev.withColumn("value", F.col("value") + 1))  # dup keys, diff values
    (
        dup.withColumn("ts", F.unix_micros("ts") * 1000)
        .repartition(6)
        .write.mode("overwrite")
        .parquet(str(tmp_path / "src"))
    )
    tbl = str(tmp_path / "tbl")

    def run_once():
        q = incremental_merge_stream(
            stream_events(spark, str(tmp_path / "src")), tbl, keys=["event_id"]
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    got = read_versioned(spark, tbl)
    assert got.count() == 300  # one survivor per key
    assert got.groupBy("event_id").count().agg(F.max("count")).first()[0] == 1
    v1 = current_version(tbl)
    assert v1 >= 2  # multiple micro-batches committed

    before = {tuple(r) for r in got.select("event_id", "value").collect()}
    run_once()  # replay everything: merge is idempotent on end state
    after = {
        tuple(r)
        for r in read_versioned(spark, tbl).select("event_id", "value").collect()
    }
    assert before == after


def test_merge_upsert_partitioned_rewrites_only_touched(spark, tmp_path):
    """Dynamic-partition-overwrite merge: updates touching one date (plus
    a brand-new date) leave every other partition's files untouched on
    disk, results equal a full-table merge, and re-running the same merge
    is a no-op (idempotency). The overwrite mode is a per-write option:
    the session's conf reads the same before and after."""
    import os

    conf = "spark.sql.sources.partitionOverwriteMode"
    session_mode = spark.conf.get(conf)
    path = str(tmp_path / "part_tbl")
    base = spark.createDataFrame(
        [("A", "2024-01-01", 1.0), ("B", "2024-01-01", 2.0),
         ("A", "2024-01-02", 3.0), ("B", "2024-01-02", 4.0),
         ("A", "2024-01-03", 5.0)],
        ["sym", "d", "v"],
    )
    merge_upsert_partitioned(spark, base, path, keys=["sym", "d"], partition_col="d")

    def files(day):
        p = os.path.join(path, f"d={day}")
        return {
            f: os.path.getmtime(os.path.join(p, f))
            for f in os.listdir(p)
            if f.endswith(".parquet")
        }

    before_d1, before_d3 = files("2024-01-01"), files("2024-01-03")

    updates = spark.createDataFrame(
        [("A", "2024-01-02", 30.0),          # update existing key
         ("C", "2024-01-02", 99.0),          # new key, existing partition
         ("A", "2024-01-04", 7.0)],          # brand-new partition
        ["sym", "d", "v"],
    )
    merge_upsert_partitioned(spark, updates, path, keys=["sym", "d"], partition_col="d")
    assert spark.conf.get(conf) == session_mode

    # untouched partitions: identical files, same mtimes
    assert files("2024-01-01") == before_d1
    assert files("2024-01-03") == before_d3

    # partition-column type inference reads d back as a date -> normalize
    got = {(r["sym"], str(r["d"])): r["v"] for r in spark.read.parquet(path).collect()}
    expected_df = merge_upsert(base, updates, ["sym", "d"])
    expected = {(r["sym"], r["d"]): r["v"] for r in expected_df.collect()}
    assert got == expected
    assert got[("A", "2024-01-02")] == 30.0 and got[("A", "2024-01-03")] == 5.0

    # idempotency: same merge again -> same table
    merge_upsert_partitioned(spark, updates, path, keys=["sym", "d"], partition_col="d")
    again = {(r["sym"], str(r["d"])): r["v"] for r in spark.read.parquet(path).collect()}
    assert again == expected


@pytest.mark.parametrize(
    "commit",
    [
        lambda spark, rows, path: merge_upsert_partitioned(
            spark, rows, path, keys=["sym", "d"], partition_col="d"
        ),
        lambda spark, rows, path: append_if_absent(spark, rows, path, keys=["sym", "d"]),
    ],
    ids=["merge_upsert_partitioned", "append_if_absent"],
)
def test_merge_upsert_partitioned_raises_on_corrupt_target(spark, tmp_path, commit):
    """A read failure on an EXISTING table must propagate, not silently
    fall back to treating the commit as a first write (which would
    dynamic-overwrite touched partitions with only the update rows, or
    append beside a table that cannot be read)."""
    path = tmp_path / "corrupt_tbl"
    (path / "d=2024-01-01").mkdir(parents=True)
    (path / "d=2024-01-01" / "part-0.parquet").write_bytes(b"not a parquet file")
    updates = spark.createDataFrame([("A", "2024-01-01", 1.0)], ["sym", "d", "v"])
    with pytest.raises(Exception):
        commit(spark, updates, str(path))
    # the corruption surfaced; nothing overwrote the existing partition
    assert (path / "d=2024-01-01" / "part-0.parquet").read_bytes() == b"not a parquet file"


def test_vacuum_grace_period_spares_inflight_claim(spark, tmp_path):
    """vacuum must not reclaim an above-pointer claim younger than the
    grace period — it may belong to an in-flight commit whose data dir
    is being written right now."""
    import os

    from trading_dashboard_spark.io.versioned import (
        commit_snapshot,
        current_version,
        vacuum,
    )

    path = str(tmp_path / "vtab")
    df = spark.createDataFrame([(1, "a")], ["k", "v"])
    commit_snapshot(df, path)
    assert current_version(path) == 1

    # simulate an in-flight committer: claim v=2, data dir half-written
    claim = os.path.join(path, "v=2.claim")
    open(claim, "w").close()
    os.makedirs(os.path.join(path, "v=2"))
    vacuum(path)  # default grace: fresh claim is spared
    assert os.path.exists(claim) and os.path.isdir(os.path.join(path, "v=2"))

    # a stale claim (older than the grace) is reclaimed with its dir
    old = 7200.0
    os.utime(claim, (os.path.getmtime(claim) - old, os.path.getmtime(claim) - old))
    vacuum(path)
    assert not os.path.exists(claim)
    assert not os.path.isdir(os.path.join(path, "v=2"))


def test_versioned_merge_concurrent_writers_10x(spark, sf_dir, tmp_path):
    """Commit atomicity under real contention at ~10x events volume: two
    writers upsert disjoint key halves through the optimistic-commit
    retry loop while a reader polls. Invariants: every reader poll sees
    a complete committed snapshot (constant row count, never a partial
    directory); no writer's batch is lost (the compare-and-swap in
    commit_merge — a merge computed against version N may only commit
    while the pointer still reads N); final values equal the sequential
    result."""
    import threading
    import time

    from pyspark.sql import functions as F

    from trading_dashboard_spark.io.readers import load_table
    from trading_dashboard_spark.io.versioned import (
        ConcurrentCommitError,
        commit_merge,
        current_version,
        read_versioned,
    )

    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id", "value")
    offset = ev.agg(F.max("event_id")).first()[0] + 1
    big = ev
    for i in range(1, 10):  # ~10x replication, ids stay unique
        big = big.unionByName(
            ev.withColumn("event_id", F.col("event_id") + F.lit(i * offset))
        )
    big = big.localCheckpoint(eager=True)
    n_rows = big.count()
    path = str(tmp_path / "contended")
    commit_merge(spark, big, path, ["event_id"])

    n_batches, errors = 3, []

    def writer(wid: int) -> None:
        try:
            for b in range(n_batches):
                upd = big.filter(F.col("event_id") % 2 == wid).withColumn(
                    "value", (F.col("event_id") * 1000 + F.lit(wid * 10 + b)).cast("double")
                )
                for _ in range(60):  # optimistic retry loop
                    try:
                        commit_merge(spark, upd, path, ["event_id"])
                        break
                    except ConcurrentCommitError:
                        time.sleep(0.1)
                else:
                    raise AssertionError(f"writer {wid} starved at batch {b}")
        except Exception as e:  # pragma: no cover - surfaced via errors
            errors.append(e)

    stop = threading.Event()

    def reader() -> None:
        try:
            while not stop.is_set():
                got = read_versioned(spark, path).count()
                assert got == n_rows, f"reader saw partial snapshot: {got}"
                time.sleep(0.05)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    rt = threading.Thread(target=reader)
    rt.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    stop.set()
    rt.join()
    assert errors == []

    # every writer's LAST batch survived: upserts on disjoint key halves
    # end at value = event_id*1000 + wid*10 + (n_batches-1)
    final = read_versioned(spark, path)
    bad = final.filter(
        F.col("value")
        != F.col("event_id") * 1000 + (F.col("event_id") % 2) * 10 + (n_batches - 1)
    ).count()
    assert bad == 0
    assert final.count() == n_rows
    # versions advanced once per successful commit: bootstrap + 2 writers
    # x n_batches (retries never consume committed versions)
    assert current_version(path) == 1 + 2 * n_batches


def test_multi_table_commit_concurrent_writers(spark, sf_dir, tmp_path):
    """Cross-table transactions under contention: two writers each run
    merge transactions spanning BOTH tables through the optimistic retry
    loop while a reader polls both. Invariants: (a) every poll of either
    table sees a complete committed snapshot; (b) the claim-all-before-
    repoint-any protocol means a transaction is never half-claimed into
    the version sequence — per table, versions advance by exactly one
    per successful transaction; (c) no transaction is lost: final state
    of BOTH tables reflects every writer's last successful batch (CAS
    prevents silently dropped updates); (d) a losing committer leaves no
    residue directories behind (rollback removes its claimed dirs)."""
    import threading
    import time

    from pyspark.sql import functions as F

    from trading_dashboard_spark.io.readers import load_table
    from trading_dashboard_spark.io.versioned import (
        ConcurrentCommitError,
        commit_merge_multi,
        current_version,
        read_versioned,
    )

    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id", "value")
    base = ev.localCheckpoint(eager=True)
    n_rows = base.count()
    pa_, pb_ = str(tmp_path / "ta"), str(tmp_path / "tb")
    commit_merge_multi(
        spark, {pa_: (base, ["event_id"]), pb_: (base, ["event_id"])}
    )

    n_batches, errors, committed = 3, [], []

    def writer(wid: int) -> None:
        try:
            for b in range(n_batches):
                stamp = float(wid * 100 + b)
                upd = base.filter(F.col("event_id") % 2 == wid).withColumn(
                    "value", F.lit(stamp)
                )
                for _ in range(80):
                    try:
                        commit_merge_multi(
                            spark,
                            {pa_: (upd, ["event_id"]), pb_: (upd, ["event_id"])},
                        )
                        committed.append((wid, b))
                        break
                    except ConcurrentCommitError:
                        time.sleep(0.1)
                else:
                    raise AssertionError(f"writer {wid} starved at batch {b}")
        except Exception as e:  # pragma: no cover - surfaced via errors
            errors.append(e)

    stop = threading.Event()

    def reader() -> None:
        try:
            while not stop.is_set():
                for p in (pa_, pb_):
                    got = read_versioned(spark, p).count()
                    assert got == n_rows, f"partial snapshot in {p}: {got}"
                time.sleep(0.05)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    rt = threading.Thread(target=reader)
    rt.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    stop.set()
    rt.join()
    assert errors == []
    assert len(committed) == 2 * n_batches
    # versions advance once per successful txn (bootstrap + 6 merges)
    assert current_version(pa_) == 1 + 2 * n_batches
    assert current_version(pb_) == 1 + 2 * n_batches
    # last committed batch per writer is fully visible in BOTH tables
    for p in (pa_, pb_):
        final = read_versioned(spark, p)
        for wid in (0, 1):
            last_b = max(b for w, b in committed if w == wid)
            stamp = float(wid * 100 + last_b)
            n_half = final.filter(F.col("event_id") % 2 == wid).count()
            n_stamped = final.filter(
                (F.col("event_id") % 2 == wid) & (F.col("value") == stamp)
            ).count()
            assert n_stamped == n_half, (p, wid)
    # no residue dirs beyond committed versions + pointer/claims
    import os
    for p in (pa_, pb_):
        dirs = [n for n in os.listdir(p)
                if n.startswith("v=") and not n.endswith(".claim")]
        assert len(dirs) == 1 + 2 * n_batches


def test_multi_table_rmw_with_concurrent_vacuum(spark, tmp_path):
    """r5 (verdict #7): serializable read-modify-write across TWO
    versioned tables while vacuum runs concurrently. Each increment
    reads version v, merges counter+1, and commits through commit_multi
    pinned to expect_version=v — the CAS turns any interleaved commit
    into a retryable ConcurrentCommitError, so NO increment can be
    lost (the lost-update anomaly plain upsert merge would allow).
    Vacuum (inside the grace period) must never break an in-flight
    transaction or the version chain."""
    import threading
    import time

    from pyspark.sql import functions as F

    from trading_dashboard_spark.io.versioned import (
        ConcurrentCommitError,
        commit_multi,
        current_version,
        read_versioned,
        vacuum,
    )
    from trading_dashboard_spark.io.writers import merge_upsert

    pa_, pb_ = str(tmp_path / "ta"), str(tmp_path / "tb")
    seed = spark.createDataFrame([("ctr", 0)], "k string, v int")
    commit_multi([(seed, pa_, 0), (seed, pb_, 0)])

    n_writers, n_incr, errors = 3, 4, []

    def writer(wid: int) -> None:
        try:
            for _ in range(n_incr):
                for _attempt in range(120):
                    try:
                        parts = []
                        for p in sorted((pa_, pb_)):
                            v0 = current_version(p)
                            cur = read_versioned(spark, p, version=v0)
                            nxt = cur.filter(F.col("k") == "ctr").withColumn(
                                "v", F.col("v") + 1
                            )
                            parts.append(
                                (merge_upsert(cur, nxt, ["k"]), p, v0)
                            )
                        commit_multi(parts)
                        break
                    except ConcurrentCommitError:
                        time.sleep(0.05)
                else:
                    raise AssertionError(f"writer {wid} starved")
        except Exception as e:  # pragma: no cover
            errors.append(e)

    stop = threading.Event()

    def vacuumer() -> None:
        while not stop.is_set():
            for p in (pa_, pb_):
                vacuum(p, keep=2, grace_sec=60.0)
            time.sleep(0.05)

    threads = [threading.Thread(target=writer, args=(w,))
               for w in range(n_writers)]
    vt = threading.Thread(target=vacuumer)
    vt.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    stop.set()
    vt.join()
    assert not errors, errors

    total = n_writers * n_incr
    for p in (pa_, pb_):
        final = read_versioned(spark, p)
        assert final.filter(F.col("k") == "ctr").first()["v"] == total
        # one version per successful transaction, none skipped or lost
        assert current_version(p) == 1 + total
        vacuum(p, keep=1, grace_sec=0.0)
        assert read_versioned(spark, p).filter(
            F.col("k") == "ctr"
        ).first()["v"] == total
