"""Tracked-persist registry (caching.py): operator-internal persisted
sketches must be drainable between queries so long-lived sessions don't
accumulate MEMORY_AND_DISK entries (ADVICE round 3)."""

from __future__ import annotations

from filesystemagent_spark import caching
from filesystemagent_spark.catalog import Catalog
from filesystemagent_spark.operators import dedup as D


def test_operator_persists_are_tracked_and_released(spark, sf_dir):
    caching.release_tracked_caches()
    docs = Catalog(spark, sf_dir).table("documents").limit(50)
    pairs = D.minhash_near_dup_pairs(
        docs, id_col="doc_id", text_col="text", num_hashes=8, bands=4
    )
    pairs.count()  # materialize: persists the shingle + band sketches
    assert caching.tracked_count() >= 2
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().size() >= 1
    released = caching.release_tracked_caches(blocking=True)
    assert released >= 2
    assert caching.tracked_count() == 0
    # releasing again is a harmless no-op
    assert caching.release_tracked_caches() == 0


def test_release_survives_already_unpersisted_frames(spark):
    df = spark.range(10)
    caching.track_persist(df)
    df.unpersist()
    assert caching.release_tracked_caches() == 1


def test_bench_drains_tracked_caches_between_queries():
    """Round-5 pin (verdict item): a 50-query grading or bench run must
    not accumulate every query's operator-internal MEMORY_AND_DISK
    sketches. driver_sim drains per query; bench.py must too (between
    queries, not between its warm min-of-3 runs)."""
    import inspect

    import bench

    src = inspect.getsource(bench)
    assert "release_tracked_caches()" in src


def test_scope_releases_only_its_own_threads_persists(spark):
    """Two threads on one session each persist inside their own
    tracked_scope(); A leaving its scope first must not unpersist B's
    frame (a shared mark/release position in the global registry
    did)."""
    import threading

    from pyspark.storagelevel import StorageLevel

    start = caching.tracked_count()
    a_marked, b_marked, a_persisted, b_persisted, a_released = (
        threading.Event() for _ in range(5)
    )
    frames: dict = {}
    b_level_after_a: list = []
    errors: list[BaseException] = []

    def wait(event):
        assert event.wait(60), "interleaving stalled"

    def thread_a():
        try:
            with caching.tracked_scope():
                a_marked.set()
                wait(b_marked)
                frames["a"] = caching.track_persist(spark.range(13).selectExpr("id * 3 AS a"))
                a_persisted.set()
                wait(b_persisted)
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errors.append(e)
        finally:
            a_released.set()

    def thread_b():
        try:
            wait(a_marked)
            with caching.tracked_scope():
                b_marked.set()
                wait(a_persisted)
                frames["b"] = caching.track_persist(spark.range(17).selectExpr("id * 5 AS b"))
                b_persisted.set()
                wait(a_released)
                b_level_after_a.append(frames["b"].storageLevel)
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=f) for f in (thread_a, thread_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert b_level_after_a and b_level_after_a[0] != StorageLevel.NONE
    assert frames["a"].storageLevel == StorageLevel.NONE
    assert frames["b"].storageLevel == StorageLevel.NONE
    assert caching.tracked_count() == start


class _Frame:
    """Stands in for a DataFrame: counts persist/unpersist calls."""

    def __init__(self):
        self.unpersisted = 0

    def persist(self, level):
        return self

    def unpersist(self, blocking=False):
        self.unpersisted += 1


def test_concurrent_scopes_release_each_frame_once():
    """8 threads x 200 scopes, two persists each, with a 10 us switch
    interval: a lost registry update would leave a frame tracked or
    release it twice."""
    import sys
    import threading

    start = caching.tracked_count()
    frames: list[_Frame] = []
    errors: list[BaseException] = []

    def worker():
        try:
            for _ in range(200):
                with caching.tracked_scope():
                    mine = [caching.track_persist(_Frame()) for _ in range(2)]
                frames.extend(mine)
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert caching.tracked_count() == start
    assert len(frames) == 8 * 200 * 2
    assert all(f.unpersisted == 1 for f in frames)
