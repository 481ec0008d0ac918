"""Plan-handle memo shared by every file source of a session.

Building a DataFrame over a file costs py4j round trips plus a JVM
analysis pass (0.1-0.5 s per catalog table; thousands of round trips
for the eight audit normalizers of one findings pipeline), and the
queries of a session read the same files again and again: every query
call builds a fresh Catalog, every ``run_audit_pipeline`` re-normalizes
the same tool dumps, and TxTable lifecycles read one snapshot many
times. The memo holds lazy DataFrame HANDLES only — no rows, no
``.cache()``: every execution still scans the files.

An entry is keyed by ``(factory, path, *args, stamp)``, where ``stamp``
is the path's ``(st_mtime_ns, st_size, st_ino)``. A rewritten, replaced or
dropped-and-recreated file gets a new stamp and therefore a fresh
handle (Spark snapshots the file listing when the handle is built, so a
stale handle would serve the old listing or fail with FileNotFound).
Each ``(factory, path)`` keeps one entry: inserting a new stamp drops
the superseded one. Entries live in a bounded LRU per session; sessions
are held weakly and a stopped session's entries are dropped, so a dead
JVM's references are never served.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from collections.abc import Callable, Hashable
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession

# Stamp for paths whose content never changes once written (TxTable data
# files: staged once under fresh uuid paths, only ever deleted) — the
# path alone identifies the content, so no stat is needed.
IMMUTABLE: tuple = ()

_STAT = object()  # get(): stamp not given, stat the path

_MAX_ENTRIES = 1024  # handles kept per session


def file_stamp(path: str) -> tuple | None:
    """``(st_mtime_ns, st_size, st_ino)`` of ``path``; None if missing."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _stopped(spark: SparkSession) -> bool:
    sc = getattr(spark, "_sc", None)
    return sc is not None and sc._jsc is None


class HandleMemo:
    """Bounded, locked, session-weak LRU of plan handles."""

    def __init__(self):
        self._lock = threading.Lock()
        self._sessions: WeakKeyDictionary[SparkSession, OrderedDict] = (
            WeakKeyDictionary()
        )

    def get(
        self,
        spark: SparkSession,
        factory: Callable[..., DataFrame],
        path: Hashable,
        *args: Hashable,
        stamp: tuple | None | object = _STAT,
    ) -> DataFrame:
        """``factory(spark, path, *args)``, memoized per session under
        ``(factory, path, *args)`` and the path's stamp. ``stamp``
        defaults to :func:`file_stamp` of ``path``; pass
        :data:`IMMUTABLE` for write-once paths (``path`` may then be a
        tuple of them)."""
        if stamp is _STAT:
            stamp = file_stamp(path)
        slot = (factory, path, args)
        with self._lock:
            entries = self._entries(spark)
            hit = entries.get(slot)
            if hit is not None and hit[0] == stamp:
                entries.move_to_end(slot)
                return hit[1]
        # Build outside the lock: a build is py4j round trips, and
        # holding the lock would serialize every concurrent query's
        # planning. Two racing factories keep the first handle stored.
        df = factory(spark, path, *args)
        with self._lock:
            entries = self._entries(spark)
            hit = entries.get(slot)
            if hit is not None and hit[0] == stamp:
                df = hit[1]
            else:
                entries[slot] = (stamp, df)
            entries.move_to_end(slot)
            while len(entries) > _MAX_ENTRIES:
                entries.popitem(last=False)
        return df

    def _entries(self, spark: SparkSession) -> OrderedDict:
        # caller holds self._lock
        entries = self._sessions.get(spark)
        if entries is None:
            # Handles reference their session, so a weak key alone never
            # frees a stopped session's entries; drop them explicitly.
            for dead in [s for s in self._sessions if _stopped(s)]:
                del self._sessions[dead]
            entries = self._sessions[spark] = OrderedDict()
        return entries


# The one memo every file source of the process shares.
HANDLES = HandleMemo()
