"""Owner of operator-internal persisted DataFrames.

Several operators materialize a derived sketch before a self-join
(minhash/simhash/Hamming bands, LSH buckets, inverted indexes, oriented
edge lists): Catalyst re-executes a self-join's upstream once per branch
otherwise, so the persist is load-bearing for performance. But the
caller never sees these DataFrames and can't unpersist them, so
repeated operator calls in one long-lived session would accumulate
MEMORY_AND_DISK cache entries until executor storage evicts them.

``track_persist`` is the one persist call sites use. It registers each
persisted frame in a process-wide registry and in the innermost
``tracked_scope()`` of the calling thread (a ``ContextVar``). Leaving a
scope unpersists that scope's frames only, so a unit of work (a feed
sink's micro-batch) drops its own intermediates while a concurrent
query on the same session keeps its. ``release_tracked_caches()``
drains the whole registry; hosts that run one unit of work at a time
(a notebook between stages, ``perfbench/run.py`` and
``scripts/driver_sim.py`` between queries) call it in between. Callers that never release still work:
they just hold warm caches until storage pressure evicts them.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LOCK = threading.Lock()  # guards every change to _TRACKED
_TRACKED: list[DataFrame] = []
_SCOPE: ContextVar[list[DataFrame] | None] = ContextVar("tracked_scope", default=None)


def track_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """``df.persist(level)``, registered for later release."""
    persisted = df.persist(level)
    scope = _SCOPE.get()
    with _LOCK:
        _TRACKED.append(persisted)
    if scope is not None:
        scope.append(persisted)
    return persisted


def tracked_count() -> int:
    return len(_TRACKED)


@contextmanager
def tracked_scope() -> Iterator[None]:
    """Unpersist, on exit, the frames this thread tracked inside the
    block and outside any nested scope, unless a global release has
    already dropped them."""
    frames: list[DataFrame] = []
    token = _SCOPE.set(frames)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        mine = {id(df) for df in frames}
        with _LOCK:
            held = [df for df in _TRACKED if id(df) in mine]
            _TRACKED[:] = [df for df in _TRACKED if id(df) not in mine]
        _unpersist(held, blocking=False)


def release_tracked_caches(blocking: bool = False) -> int:
    """Unpersist every tracked intermediate; returns how many were
    released. Safe to call at any time: unpersist on an already-freed
    or garbage DataFrame is a no-op, and a dead session's failures are
    swallowed (the JVM-side cache died with the session)."""
    with _LOCK:
        held = _TRACKED[:]
        _TRACKED.clear()
    return _unpersist(held, blocking)


def _unpersist(frames: list[DataFrame], blocking: bool) -> int:
    released = 0
    for df in reversed(frames):  # newest first: a frame before those it reads
        try:
            df.unpersist(blocking)
            released += 1
        except Exception:
            pass
    return released
