"""One bounded, version-keyed cache for scan handles, shared relations
and dashboard loader results, with one rule: reuse a value while its
inputs are unchanged, replace it once they change.

A version is a ``(slot, stamp)`` pair, and a cache holds one entry per
slot, at the latest stamp asked for:

- :func:`file_version` of a table path: the absolute path, stamped
  ``st_dev``, ``st_ino``, ``st_mtime_ns``, ``st_ctime_ns``, ``st_size``.
  An atomic replacement brings a new inode and ctime, so it misses even
  with the old size and a preserved mtime (``os.utime``, ``cp -p``) or
  within one timestamp tick. Unstatable (non-local) paths are never
  cached.
- :func:`relation_version` of a derived relation: analyzed-plan
  ``semanticHash`` and the ``inputFiles()`` paths, stamped with each
  file's stamp. The plan hash alone is no version:
  ``spark.read.parquet(p)`` hashes the same before and after ``p`` is
  replaced.

Three kinds of value share the mechanism:

- ``load_table`` caches lazy scan handles (a hit skips ~100 ms of
  listing and footer inference; every action still re-reads the files).
- ``_daily_close`` and the ``queries_text`` corpus relations cache the
  eager ``localCheckpoint``s their computes make, so their consumers
  pay the job once per version.
- ``query_registry.register`` caches the rows of each loader that
  declares ``inputs`` (the ``plans`` cache), slotted on the query name
  and input paths and stamped with their file stamps, like the
  reference's ``st.cache_data`` but exact instead of a 1 h TTL. A miss
  runs the loader once and stores its rows as a local relation; a hit
  returns that relation, whose actions start no job.

An entry keeps its value as computed and is never rewritten, so this
module does not care what it caches; a ``compute()`` that raises
stores nothing.

An entry holds its stamp and a ``weakref`` to its session, and hits
only when both match, so never for another session object nor one of a
stopped context (another session's entry is dropped). A lookup with
another stamp is a miss whose value replaces the entry, counted as an
eviction. Eviction (LRU over slots) drops the reference without
unpersisting: a checkpoint's lineage is cut, so unpersisting one a
caller still holds would break that caller; Spark's ContextCleaner
reclaims it once unreferenced (``clear(release)`` releases
explicitly). Concurrent misses on one slot compute once (a per-slot
lock); a hit never waits on another slot's computation.
:func:`cache_stats` reports the counters.
"""

from __future__ import annotations

import os
import threading
import weakref
from typing import NamedTuple
from urllib.parse import unquote, urlparse

_CACHES: weakref.WeakValueDictionary = weakref.WeakValueDictionary()


def file_version(path: str) -> tuple | None:
    """``(abspath, stamp)`` of a local file or directory; None if it
    cannot be statted."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return os.path.abspath(path), (st.st_dev, st.st_ino, st.st_mtime_ns,
                                   st.st_ctime_ns, st.st_size)


def relation_version(df) -> tuple | None:
    """``((plan hash, input paths), input stamps)``; None if the plan or
    any input cannot be versioned."""
    try:
        plan = df._jdf.queryExecution().analyzed().semanticHash()
        uris = sorted(df.inputFiles())
    except Exception:  # noqa: BLE001 — no version means no caching
        return None
    versions = [
        file_version(unquote(p.path)) if p.scheme in ("", "file") else None
        for p in map(urlparse, uris)
    ]
    if None in versions:
        return None
    return (plan, tuple(v[0] for v in versions)), tuple(v[1] for v in versions)


class _Entry(NamedTuple):
    stamp: object
    session: weakref.ref
    value: object


class VersionCache:
    """Bounded LRU: slot → the value of its latest stamp, guarded by a
    session weakref."""

    def __init__(self, name: str, max_entries: int):
        self.max_entries = max_entries
        self.hits = self.misses = self.evictions = 0
        self._entries: dict = {}
        self._slot_locks: dict = {}
        self._lock = threading.Lock()
        _CACHES[name] = self

    def get_or_compute(self, spark, version, compute):
        """The value cached for ``version`` (a ``(slot, stamp)`` pair),
        or ``compute()`` cached in its place. Without a version,
        ``compute()`` is returned as is: not cached, not counted. A
        ``compute()`` that raises caches nothing."""
        if version is None:
            return compute()
        slot, stamp = version
        with self._lock:
            entry = self._lookup(slot, stamp, spark)
            if entry is not None:
                self.hits += 1
                return entry.value
            slot_lock = self._slot_locks.setdefault(slot, threading.Lock())
        with slot_lock:
            try:
                with self._lock:
                    entry = self._lookup(slot, stamp, spark)  # filled while we waited?
                    if entry is not None:
                        self.hits += 1
                        return entry.value
                    self.misses += 1
                value = compute()
                with self._lock:
                    if self._entries.pop(slot, None) is not None:  # another stamp
                        self.evictions += 1
                    self._entries[slot] = _Entry(stamp, weakref.ref(spark), value)
                    while len(self._entries) > self.max_entries:
                        self._drop(next(iter(self._entries)))
                return value
            finally:
                with self._lock:
                    if self._slot_locks.get(slot) is slot_lock:
                        del self._slot_locks[slot]

    def _lookup(self, slot, stamp, spark):
        """``slot``'s entry at ``stamp``, made the most recent; None if
        absent or at another stamp, or if it belongs to another session
        (that entry is dropped)."""
        entry = self._entries.pop(slot, None)
        if entry is None or entry.session() is not spark:
            return None
        self._entries[slot] = entry
        return entry if entry.stamp == stamp else None

    def _drop(self, slot) -> None:
        del self._entries[slot]
        self._slot_locks.pop(slot, None)
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
        """The ``(slot, stamp)`` version of each entry, least recent
        first."""
        with self._lock:
            return iter([(s, e.stamp) for s, e in self._entries.items()])


def cache_stats() -> dict[str, dict[str, int]]:
    """Hits, misses, evictions and live entries of every cache, by
    name."""
    return {
        name: {"hits": c.hits, "misses": c.misses, "evictions": c.evictions,
               "entries": len(c)}
        for name, c in list(_CACHES.items())
    }
