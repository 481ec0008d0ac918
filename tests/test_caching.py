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


def test_embedding_knn_pq_leaves_no_session_cache(spark, sf_dir):
    """Every frame embedding_knn_pq persists is tracked, so releasing
    the tracked caches leaves the session's cache manager empty (a
    bare ``emb.cache()`` used to stay cached for the session's
    lifetime)."""
    import os

    from filesystemagent_spark.queries.embeddings import embedding_knn_pq

    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    caching.release_tracked_caches(blocking=True)
    spark.catalog.clearCache()
    assert embedding_knn_pq(spark, sf01).collect()
    caching.release_tracked_caches(blocking=True)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_queries_persist_only_through_track_persist():
    """No query module calls ``.cache()``, ``.persist(`` or
    ``tempfile.mkdtemp`` itself: persists there go through
    ``caching.track_persist`` and scratch directories through
    ``caching.staging_dir``, the one owner that can release them."""
    import ast
    import pathlib

    import filesystemagent_spark.queries as Q

    offenders = []
    for path in sorted(pathlib.Path(Q.__file__).parent.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("cache", "persist", "mkdtemp")
            ):
                offenders.append(f"{path.name}:{node.lineno}")
    assert offenders == []


def test_no_module_builds_an_empty_frame_over_python():
    """No engine module calls ``createDataFrame`` on an empty list
    literal. That frame is a Python RDD of ``defaultParallelism`` empty
    slices, and each slice that reaches an executed plan waits on a
    Python worker; ``schemas.empty_frame`` builds it on the JVM."""
    import ast
    import pathlib

    import filesystemagent_spark as fsa

    def empty_list(node):
        return isinstance(node, ast.List) and not node.elts

    offenders = []
    root = pathlib.Path(fsa.__file__).parent
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and (
                    (node.args and empty_list(node.args[0]))
                    or any(k.arg == "data" and empty_list(k.value)
                           for k in node.keywords)
                )
            ):
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert offenders == []


def test_staging_dirs_follow_scope_and_release_rules(tmp_path, monkeypatch):
    """A staging dir lives until its tracked_scope() exits or the
    registry is drained, and removing one already gone is a no-op (a
    host may clear its temp dir before it releases)."""
    import os
    import shutil
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    caching.release_tracked_caches()
    outer = caching.staging_dir("outer_")
    with caching.tracked_scope():
        inner = caching.staging_dir("inner_")
        assert os.path.isdir(inner)
    assert not os.path.exists(inner)
    assert os.path.isdir(outer)
    gone = caching.staging_dir("gone_")
    shutil.rmtree(gone)
    assert caching.tracked_count() == 0  # dirs are not persisted frames
    assert caching.release_tracked_caches() == 0
    assert not os.path.exists(outer)
    assert os.listdir(tmp_path) == []


def test_stored_minhash_index_leaves_no_staging_dir(spark, sf_dir):
    """doc_minhash_incremental_stored stages its band index as a
    TxTable under the temp dir; releasing after the collect must remove
    it (every call used to leave an ``mh_stored_idx_*`` directory)."""
    import os
    import tempfile

    from filesystemagent_spark.queries import registry

    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    tmp = tempfile.gettempdir()

    def staged() -> set[str]:
        return {n for n in os.listdir(tmp) if n.startswith("mh_stored_idx_")}

    caching.release_tracked_caches(blocking=True)
    before = staged()
    assert registry()["doc_minhash_incremental_stored"].fn(spark, sf01).collect()
    assert staged() - before  # the index is staged while the result is live
    caching.release_tracked_caches(blocking=True)
    assert staged() - before == set()
