"""One bounded, version-keyed cache for scan handles, shared relations
and dashboard loader plans.

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
- ``query_registry.register`` caches the DataFrame each loader that
  declares ``inputs`` builds (the ``plans`` cache), keyed on the query
  name and the :func:`file_version` of each input table. A hit skips
  planning, and because it is the same DataFrame object its actions
  reuse the analysed and planned query and every shuffle and broadcast
  stage an earlier action finished: only the final stage re-runs.

The session part of the key is the ``applicationId``, never
``id(session)``, which CPython recycles after GC; an entry also holds a
``weakref`` to its session and hits only for that same session object.
Eviction is LRU and drops the reference without unpersisting: a
checkpoint's lineage is cut, so unpersisting one a caller still holds
would break that caller; Spark's ContextCleaner reclaims it once
unreferenced (``clear(release)`` releases explicitly). Concurrent misses
on one key compute once (a per-key lock), and a hit never waits on
another key's computation. :func:`cache_stats` reports the counters.
"""

from __future__ import annotations

import os
import threading
import weakref
from urllib.parse import unquote, urlparse

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


class VersionCache:
    """Bounded LRU: (applicationId, version) → value, guarded by a
    session weakref. With ``checkpoint=True`` values are DataFrames kept
    as eager ``localCheckpoint``s."""

    def __init__(self, name: str, max_entries: int, checkpoint: bool = False):
        self.max_entries, self.checkpoint = max_entries, checkpoint
        self.hits = self.misses = self.evictions = 0
        self._entries: dict = {}
        self._key_locks: dict = {}
        self._lock = threading.Lock()
        _CACHES[name] = self

    def get_or_compute(self, spark, version, compute):
        """The value cached for ``version``, or ``compute()`` cached under
        it. Without a version, ``compute()`` is returned as is: not
        cached, not checkpointed, not counted."""
        if version is None:
            return compute()
        key = (spark.sparkContext.applicationId, version)
        with self._lock:
            hit = self._hit(key, spark)
            if hit is not None:
                return hit
            key_lock = self._key_locks.setdefault(key, threading.Lock())
        with key_lock:
            try:
                with self._lock:
                    hit = self._hit(key, spark)  # computed while we waited
                    if hit is not None:
                        return hit
                    self.misses += 1
                value = compute()
                if self.checkpoint:
                    value = value.localCheckpoint(eager=True)
                with self._lock:
                    self._entries[key] = (weakref.ref(spark), value)
                    while len(self._entries) > self.max_entries:
                        self._entries.pop(next(iter(self._entries)))
                        self.evictions += 1
            finally:
                with self._lock:
                    self._key_locks.pop(key, None)
        return value

    def _hit(self, key, spark):
        entry = self._entries.pop(key, None)
        if entry is None or entry[0]() is not spark:
            return None
        self._entries[key] = entry
        self.hits += 1
        return entry[1]

    def clear(self, release=None) -> None:
        """Drop every entry, first calling ``release(value)`` on each
        when given."""
        with self._lock:
            values = [v for _ref, v in self._entries.values()]
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
    """Hits, misses, evictions and live entries of every cache, by name."""
    return {
        name: {"hits": c.hits, "misses": c.misses,
               "evictions": c.evictions, "entries": len(c)}
        for name, c in list(_CACHES.items())
    }
