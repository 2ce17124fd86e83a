"""One bounded, version-keyed cache for scan handles, shared relations
and dashboard loader results.

Keys are (``sparkContext.applicationId``, version); a version names the
bytes a value was built from:

- :func:`file_version` of a table path: absolute path, ``st_dev``,
  ``st_ino``, ``st_mtime_ns``, ``st_ctime_ns``, ``st_size``. An atomic
  replacement brings a new inode and ctime, so it misses even with the
  old size and a preserved mtime (``os.utime``, ``cp -p``) or within one
  timestamp tick. Unstatable (non-local) paths are never cached.
- :func:`relation_version` of a derived relation: analyzed-plan
  ``semanticHash`` plus the file version of each ``inputFiles()`` entry.
  The plan hash alone is no version: ``spark.read.parquet(p)`` hashes
  the same before and after ``p`` is replaced.

Three kinds of value share the mechanism:

- ``load_table`` caches lazy scan handles (a hit skips ~100 ms of
  listing and footer inference; every action still re-reads the files).
- ``_daily_close`` and the ``queries_text`` corpus relations cache eager
  ``localCheckpoint``s, so their consumers pay the job once per version.
- ``query_registry.register`` caches the result of each loader that
  declares ``inputs`` (the ``plans`` cache), keyed on the query name and
  the :func:`file_version` of each input table, like the reference's
  ``st.cache_data`` but exact instead of a 1 h TTL. A miss returns the
  planned DataFrame as built, with no extra job. The first hit on a key
  promotes it (``promote=True``): :func:`local_rows` runs the cached
  DataFrame once inside the JVM, reusing its finished shuffle and
  broadcast stages (the one job a repeat of the plan would run), and the
  entry keeps the rows as a local relation instead, whose actions start
  no job. The planned DataFrame is dropped, so its shuffle files and
  broadcasts go to Spark's ContextCleaner. ``df.cache()`` would not do:
  the CacheManager matches on plan, and a scan of a replaced file plans
  the same, so a rebuilt loader could be served old rows. Each loader
  keeps one version per input paths (the ``slot``): caching a new
  version drops the superseded one.

The session part of the key is the ``applicationId``, never
``id(session)``, which CPython recycles after GC; an entry also holds a
``weakref`` to its session and hits only for that same session object.
Eviction is LRU and drops the reference without unpersisting: a
checkpoint's lineage is cut, so unpersisting one a caller still holds
would break that caller; Spark's ContextCleaner reclaims it once
unreferenced (``clear(release)`` releases explicitly). A superseded
slot entry counts as an eviction. Concurrent misses on one key compute
once and a key is promoted once (a per-key lock); a hit never waits on
another key's computation. :func:`cache_stats` reports the counters.
"""

from __future__ import annotations

import os
import threading
import weakref
from typing import NamedTuple
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

_CACHES: weakref.WeakValueDictionary = weakref.WeakValueDictionary()


def file_version(path: str) -> tuple | None:
    """Version of a local file or directory; None if it cannot be statted."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (os.path.abspath(path), st.st_dev, st.st_ino,
            st.st_mtime_ns, st.st_ctime_ns, st.st_size)


def relation_version(df) -> tuple | None:
    """Plan hash plus the version of each input file; None if the plan
    or any input cannot be versioned."""
    try:
        plan = df._jdf.queryExecution().analyzed().semanticHash()
        uris = sorted(df.inputFiles())
    except Exception:  # noqa: BLE001 — no version means no caching
        return None
    versions = tuple(
        file_version(unquote(p.path)) if p.scheme in ("", "file") else None
        for p in map(urlparse, uris)
    )
    return None if None in versions else (plan, versions)


class _Entry(NamedTuple):
    session: weakref.ref
    value: object
    slot: object
    settled: bool  # False: a plan to be promoted to its rows on a hit


def local_rows(df: DataFrame) -> DataFrame:
    """``df``'s rows as a local relation with ``df``'s schema. The rows
    are collected inside the JVM (one job, reusing every stage ``df``
    already finished) and never pass through Python; no action on the
    result starts a job."""
    spark = df.sparkSession
    jdf = spark._jsparkSession.createDataFrame(
        df._jdf.collectAsList(), df._jdf.schema()
    )
    return DataFrame(jdf, spark)


class VersionCache:
    """Bounded LRU: (applicationId, version) → value, guarded by a
    session weakref. With ``checkpoint=True`` values are DataFrames kept
    as eager ``localCheckpoint``s; with ``promote=True`` a cached
    DataFrame is replaced by its :func:`local_rows` on its first hit."""

    def __init__(self, name: str, max_entries: int, checkpoint: bool = False,
                 promote: bool = False):
        self.max_entries = max_entries
        self.checkpoint, self.promote = checkpoint, promote
        self.hits = self.misses = self.evictions = self.promotions = 0
        self._entries: dict = {}
        self._key_locks: dict = {}
        self._lock = threading.Lock()
        _CACHES[name] = self

    def get_or_compute(self, spark, version, compute, slot=None):
        """The value cached for ``version``, or ``compute()`` cached under
        it. Without a version, ``compute()`` is returned as is: not
        cached, not checkpointed, not counted. Caching a value under a
        ``slot`` drops the entries of every other version in that slot."""
        if version is None:
            return compute()
        key = (spark.sparkContext.applicationId, version)
        with self._lock:
            entry = self._lookup(key, spark)
            if entry is not None and entry.settled:
                self.hits += 1
                return entry.value
            key_lock = self._key_locks.setdefault(key, threading.Lock())
        with key_lock:
            try:
                return self._fill(spark, key, compute, slot)
            finally:
                with self._lock:
                    entry = self._entries.get(key)
                    if entry is None or entry.settled:
                        self._key_locks.pop(key, None)

    def _fill(self, spark, key, compute, slot):
        """Under ``key``'s lock: compute a missing value, or promote an
        unsettled one."""
        with self._lock:
            entry = self._lookup(key, spark)  # filled while we waited?
            if entry is None:
                self.misses += 1
            else:
                self.hits += 1
                if entry.settled:
                    return entry.value
        if entry is not None:
            value = local_rows(entry.value)
            with self._lock:
                self.promotions += 1
                if self._entries.get(key) is entry:  # not dropped meanwhile
                    self._entries[key] = entry._replace(value=value, settled=True)
            return value
        value = compute()
        if self.checkpoint:
            value = value.localCheckpoint(eager=True)
        with self._lock:
            if slot is not None:
                for k in [k for k, e in self._entries.items() if e.slot == slot]:
                    self._drop(k)
            self._entries[key] = _Entry(weakref.ref(spark), value, slot,
                                        not self.promote)
            while len(self._entries) > self.max_entries:
                self._drop(next(iter(self._entries)))
        return value

    def _lookup(self, key, spark):
        """``key``'s entry, made the most recent; None if absent or if it
        belongs to another session (that entry is dropped)."""
        entry = self._entries.pop(key, None)
        if entry is None or entry.session() is not spark:
            return None
        self._entries[key] = entry
        return entry

    def _drop(self, key) -> None:
        del self._entries[key]
        self._key_locks.pop(key, None)
        self.evictions += 1

    def clear(self, release=None) -> None:
        """Drop every entry, first calling ``release(value)`` on each
        when given."""
        with self._lock:
            values = [e.value for e in self._entries.values()]
            self._entries.clear()
        if release is not None:
            for v in values:
                release(v)

    def __len__(self) -> int:
        return len(self._entries)

    def __iter__(self):
        return iter(list(self._entries))

    def __contains__(self, key) -> bool:
        return key in self._entries


def cache_stats() -> dict[str, dict[str, int]]:
    """Hits, misses, evictions, promotions and live entries of every
    cache, by name."""
    return {
        name: {"hits": c.hits, "misses": c.misses, "evictions": c.evictions,
               "promotions": c.promotions, "entries": len(c)}
        for name, c in list(_CACHES.items())
    }
