"""The one owner of persisted DataFrames and scratch directories.

Several operators materialize a derived sketch before a self-join
(minhash/simhash/Hamming bands, LSH buckets, inverted indexes, oriented
edge lists): Catalyst re-executes a self-join's upstream once per branch
otherwise, so the persist is load-bearing for performance. But the
caller never sees these DataFrames and can't unpersist them, so
repeated operator calls in one long-lived session would accumulate
MEMORY_AND_DISK cache entries until executor storage evicts them.

The rules every engine module follows:

- Persist only through ``track_persist``; no other module calls
  ``.cache()``, ``.persist()`` or ``.unpersist()`` (the one exception
  is the per-round ``localCheckpoint`` release in ``operators/bpe.py``,
  which truncates lineage and must free each round's frame at once).
- A frame whose plan is already cached is the caller's: it is used
  as-is, never re-persisted and never released here. Spark's
  ``unpersist`` drops the cached *plan*, whoever persisted it, so a
  callee that released it would drop the caller's cache.
- Release happens by scope. ``track_persist`` registers each frame in
  a process-wide registry and in the innermost ``tracked_scope()`` of
  the calling thread (a ``ContextVar``). Leaving a scope unpersists
  that scope's frames only, so a unit of work drops its own
  intermediates while a concurrent query on the same session keeps
  its. A function that must free what it persisted before it returns
  runs inside its own scope, and every streaming sink micro-batch is a
  scope (``streaming/sinks.py``).
- A query that returns a lazy DataFrame reading its persisted frames
  leaves them registered: ``release_tracked_caches()`` drains the whole
  registry, and hosts that run one unit of work at a time (a notebook
  between stages, ``perfbench/run.py`` and ``scripts/driver_sim.py``
  between queries) call it in between. Callers that never release still
  work: they just hold warm caches until storage pressure evicts them.

``staging_dir`` is the one way a query makes a scratch directory (TxTable
files, stream checkpoints and sources) that its returned, still lazy
DataFrame reads. The directory follows the same rules as a persisted
frame: it is removed when its scope exits or the registry is drained,
never before, and removing one that is already gone is a no-op.
"""

from __future__ import annotations

import shutil
import tempfile
import threading
from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

# A tracked item is a persisted DataFrame or a staging directory path.
_LOCK = threading.Lock()  # guards every change to _TRACKED
_TRACKED: list[DataFrame | str] = []
_SCOPE: ContextVar[list[DataFrame | str] | None] = ContextVar("tracked_scope", default=None)


def _track(item: DataFrame | str) -> None:
    scope = _SCOPE.get()
    with _LOCK:
        _TRACKED.append(item)
    if scope is not None:
        scope.append(item)


def track_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """``df.persist(level)``, registered for release by the innermost
    ``tracked_scope()`` or by ``release_tracked_caches()``. A frame whose
    plan is already cached (the caller persisted it, or an enclosing
    unit of work did) is returned as-is and not tracked: releasing it
    here would drop a cache its owner still relies on."""
    if df.storageLevel != StorageLevel.NONE:
        return df
    persisted = df.persist(level)
    _track(persisted)
    return persisted


def staging_dir(prefix: str) -> str:
    """``tempfile.mkdtemp(prefix=prefix)``, registered for removal on
    release."""
    path = tempfile.mkdtemp(prefix=prefix)
    _track(path)
    return path


def tracked_count() -> int:
    """Persisted frames still tracked (staging directories not counted)."""
    with _LOCK:
        return sum(1 for item in _TRACKED if not isinstance(item, str))


@contextmanager
def tracked_scope() -> Iterator[None]:
    """Unpersist, on exit, the frames this thread tracked inside the
    block and outside any nested scope, and remove its staging
    directories, unless a global release has already dropped them."""
    items: list[DataFrame | str] = []
    token = _SCOPE.set(items)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        mine = {id(item) for item in items}
        with _LOCK:
            held = [item for item in _TRACKED if id(item) in mine]
            _TRACKED[:] = [item for item in _TRACKED if id(item) not in mine]
        _release(held, blocking=False)


def release_tracked_caches(blocking: bool = False) -> int:
    """Unpersist every tracked intermediate and remove every staging
    directory; returns how many frames were released. Safe to call at
    any time: unpersist on an already-freed or garbage DataFrame is a
    no-op, a dead session's failures are swallowed (the JVM-side cache
    died with the session), and a directory already gone is skipped."""
    with _LOCK:
        held = _TRACKED[:]
        _TRACKED.clear()
    return _release(held, blocking)


def _release(items: list[DataFrame | str], blocking: bool) -> int:
    released = 0
    for item in reversed(items):  # newest first: a frame before those it reads
        if isinstance(item, str):
            shutil.rmtree(item, ignore_errors=True)
            continue
        try:
            item.unpersist(blocking)
            released += 1
        except Exception:
            pass
    return released
