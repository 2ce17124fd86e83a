"""Versioned parquet table — snapshot-isolated merge target.

Plain ``mode("overwrite")`` on a path you are also reading is unsafe (the
scan can observe a half-deleted directory), which is exactly what an
incremental merge loop does. Delta/Iceberg solve this with a transaction
log; this is the minimal pure-parquet version of the same idea:

    path/
      v=1/ part-*.parquet
      v=2/ part-*.parquet      <- each commit writes a NEW directory
      v=2.claim                <- O_EXCL marker: version 2 is owned
      _VERSION                 <- tiny pointer file, rewritten last

Readers resolve ``_VERSION`` → scan only that directory; a commit writes
the full next snapshot to ``v=N+1/`` and repoints the file afterwards, so
a **reader** never observes a partial state (the pointer flips only after
the data is durable).

Writer concurrency is optimistic, not serialized: a committer (1) O_EXCL-
creates ``v=N+1.claim`` before touching the directory — two racing
committers can never write (or half-delete) the same snapshot dir — and
(2) re-checks the pointer still reads N before the atomic repoint,
raising :class:`ConcurrentCommitError` if another commit landed first
(the read-modify-write conflict surfaces as a clean retryable failure
instead of a silently lost update). Intended use is still a single
merge-loop writer; the claims make a configuration mistake loud, safe and
retryable rather than corrupting. A commit that fails (a write error, a
lost race) removes its own claims and partial directories before it
raises, so the next commit can take the same version; only a process that
dies mid-commit leaves a stale claim behind. Old versions remain for time
travel until `vacuum`, which also clears committed and stale claims.

There is one commit protocol, :func:`commit_multi` (claim → write →
re-check → repoint); :func:`commit_snapshot` is its one-table case, and
the merges (:func:`commit_merge`, :func:`commit_merge_multi`) compute
their snapshots and commit through it.

This is the engine's merge *target* abstraction: `commit_merge` is the
streaming/batch S14 upsert applied transactionally. On a cluster the
pointer write should go through a conditional put / rename and the claim
through an if-absent put (object stores give both).
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

from .writers import dedup_by_key, merge_upsert

_POINTER = "_VERSION"


class ConcurrentCommitError(RuntimeError):
    """Another committer claimed this version or moved the pointer first;
    re-read the table and retry the merge."""


def _pointer_path(path: str) -> str:
    return os.path.join(path, _POINTER)


def current_version(path: str) -> int:
    """0 = table does not exist yet. Only a missing pointer means that: a
    pointer that cannot be parsed raises, or `vacuum` would take every
    snapshot for garbage."""
    try:
        with open(_pointer_path(path)) as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        return 0


def read_versioned(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Read the pinned (or current) snapshot — never a directory mid-write."""
    v = current_version(path) if version is None else version
    if v <= 0:
        raise FileNotFoundError(f"no committed version at {path}")
    return spark.read.parquet(os.path.join(path, f"v={v}"))


def _claim_path(path: str, v: int) -> str:
    return os.path.join(path, f"v={v}.claim")


def _write_pointer(path: str, v: int) -> None:
    tmp = _pointer_path(path) + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(v))
    os.replace(tmp, _pointer_path(path))  # atomic on POSIX


def commit_snapshot(df: DataFrame, path: str, expect_version: int | None = None) -> int:
    """Write ``df`` as the next full snapshot and repoint: the one-table
    case of :func:`commit_multi`. Returns the new version. The data write
    completes before the pointer flips. A commit that fails removes its
    claim and partial directory, so a retry can take the same version; a
    process that dies in between leaves the table at the old version plus
    a stale claim that `vacuum` clears.

    ``expect_version`` makes the commit compare-and-swap: it fails unless
    the pointer still reads that version. :func:`commit_merge` passes the
    snapshot version its merge was computed against, closing the
    read-merge-commit window — without it, a merge based on version N
    could land as N+2 and silently drop N+1's changes (the claims of
    committed versions, kept until vacuum, enforce the version sequence in
    between; the pointer re-check before repoint is the backstop).

    Raises :class:`ConcurrentCommitError` if the version claim or any
    pointer check loses a race (see module docstring)."""
    return commit_multi([(df, path, expect_version)])[path]


def commit_merge(
    spark: SparkSession, updates: DataFrame, path: str, keys: list[str]
) -> int:
    """Transactional S14 upsert: merge ``updates`` into the current
    snapshot, commit as the next version. First commit bootstraps the
    table from the updates alone (deduplicated on the keys)."""
    return commit_merge_multi(spark, {path: (updates, keys)})[path]


def commit_multi(parts: list[tuple[DataFrame, str, int | None]]) -> dict[str, int]:
    """Commit full snapshots to SEVERAL versioned tables in one guarded
    sequence; :func:`commit_snapshot` is its one-table case.

    ``parts`` is ``[(df, path, expect_version), ...]``. Protocol:

    1. CLAIM the next version of every table (deterministic path order)
       before writing anything — any claim or expect-version failure
       releases this transaction's own claims and raises, so a losing
       committer aborts before a single byte of data lands;
    2. write every snapshot directory;
    3. re-check every pointer, then repoint all tables. A write failure
       or a lost pointer race removes the directory of every version
       this transaction claimed, then its claims (safe: we hold the
       claims), and raises.

    Guarantee (and its honest limit): per table, readers still never
    observe a partial snapshot, and no concurrent committer can
    interleave versions inside the sequence — all claims are held before
    any pointer flips. Cross-table atomicity against a CRASH mid-step-3
    is NOT provided: a committer dying between repoints leaves tables at
    different transaction results (each still internally consistent).
    Closing that window needs a shared commit log / catalog — exactly
    what Delta/Iceberg add over bare parquet; swap this module for one
    of them when the deployment has the jars.

    Returns {path: new_version}.
    """
    ordered = sorted(parts, key=lambda p: p[1])
    seen = [p for _, p, _ in ordered]
    if len(set(seen)) != len(seen):
        raise ValueError(f"duplicate table paths in one transaction: {seen}")
    claimed: dict[str, int] = {}
    try:
        for _df, path, expect in ordered:
            os.makedirs(path, exist_ok=True)
            base = current_version(path)
            if expect is not None and base != expect:
                raise ConcurrentCommitError(
                    f"{path} is at v={base}, but the commit was prepared "
                    f"against v={expect} — re-read and retry"
                )
            v = base + 1
            try:
                os.close(os.open(
                    _claim_path(path, v), os.O_CREAT | os.O_EXCL | os.O_WRONLY
                ))
            except FileExistsError:
                raise ConcurrentCommitError(
                    f"version {v} of {path} already claimed (concurrent "
                    f"committer, or a crashed commit — run vacuum to clear "
                    f"stale claims)"
                ) from None
            claimed[path] = v
        for df, path, _expect in ordered:
            df.write.mode("overwrite").parquet(os.path.join(path, f"v={claimed[path]}"))
        for path, v in claimed.items():
            if current_version(path) != v - 1:
                raise ConcurrentCommitError(
                    f"pointer of {path} moved past {v - 1} during the commit "
                    f"of v={v}; the commit was based on a stale snapshot — retry"
                )
    except BaseException:
        for path, v in claimed.items():
            shutil.rmtree(os.path.join(path, f"v={v}"), ignore_errors=True)
            try:
                os.remove(_claim_path(path, v))
            except OSError:
                pass
        raise
    for path, v in claimed.items():
        _write_pointer(path, v)
    return claimed


def commit_merge_multi(
    spark: SparkSession, updates: dict[str, tuple[DataFrame, list[str]]]
) -> dict[str, int]:
    """Transactional S14 upsert across several tables in one guarded
    sequence: ``updates`` maps table path -> (updates_df, merge keys).
    Each table's merge is computed against its current snapshot (a new
    table bootstraps from its updates, deduplicated on the keys) and the
    whole set commits through :func:`commit_multi` with per-table
    compare-and-swap — any concurrent commit on ANY involved table
    aborts the whole transaction before visibility (retryable)."""
    parts: list[tuple[DataFrame, str, int | None]] = []
    for path, (upd, keys) in updates.items():
        base = current_version(path)
        if base == 0:
            parts.append((dedup_by_key(upd, keys), path, 0))
        else:
            target = read_versioned(spark, path, version=base)
            parts.append((merge_upsert(target, upd, keys), path, base))
    return commit_multi(parts)


def vacuum(path: str, keep: int = 1, grace_sec: float = 3600.0) -> list[int]:
    """Drop all but the newest ``keep`` versions, and clear claim markers
    that are committed (claim ≤ pointer) or abandoned (claimed but never
    committed — a crashed writer). Returns removed versions.

    A claim above the pointer is only treated as crashed once it is older
    than ``grace_sec`` (claim-file mtime): an above-pointer claim younger
    than that may belong to an IN-FLIGHT commit, and reclaiming it would
    delete the active writer's data directory out from under it — the
    writer would then repoint ``_VERSION`` at a deleted directory and
    break every reader. The default one-hour grace covers any realistic
    snapshot write; pass ``grace_sec=0`` only when no committer can be
    running (e.g. single-process maintenance windows)."""
    cur = current_version(path)
    removed = []
    now = time.time()
    for name in sorted(os.listdir(path)):
        if not name.startswith("v="):
            continue
        if name.endswith(".claim"):
            # committed claims are spent; above-pointer claims past the
            # grace period are crashed commits whose data dir (if any)
            # is unreferenced
            v = int(name[2 : -len(".claim")])
            claim = os.path.join(path, name)
            if v > cur:
                try:
                    age = now - os.path.getmtime(claim)
                except OSError:
                    continue  # claim vanished: its committer just finished
                if age < grace_sec:
                    continue  # possibly in-flight — leave it alone
                shutil.rmtree(os.path.join(path, f"v={v}"), ignore_errors=True)
            os.remove(claim)
            continue
        v = int(name.split("=", 1)[1])
        if v <= cur - keep:
            shutil.rmtree(os.path.join(path, name))
            removed.append(v)
    return removed


def incremental_merge_stream(
    stream: DataFrame, path: str, keys: list[str], checkpoint: str | None = None
):
    """Streaming S14: each micro-batch merges transactionally into the
    versioned table via ``foreachBatch`` — the continuous form of the
    reference's daily staging→MERGE cycle (full_stock_pipeline.py:373-422).
    Returns the started StreamingQuery; callers drive/stop it.

    Idempotency comes from the merge keys themselves: a replayed batch
    upserts the same keys to the same values, so end state is stable under
    at-least-once delivery (same guarantee the reference got from
    ON CONFLICT).
    """

    def _merge_batch(batch_df: DataFrame, _batch_id: int) -> None:
        commit_merge(batch_df.sparkSession, batch_df, path, keys)

    writer = stream.writeStream.foreachBatch(_merge_batch).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
