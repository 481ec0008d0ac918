"""The session's plan-handle memo (filesystemagent_spark.handles):
handle reuse across audit-pipeline runs, stamp invalidation,
supersession, the LRU bound, stopped sessions and concurrent gets."""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time

from filesystemagent_spark import handles
from filesystemagent_spark.handles import HANDLES, IMMUTABLE, HandleMemo
from filesystemagent_spark.plans.pipeline import DEFAULT_SOURCES, run_audit_pipeline

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def _keys(memo, spark):
    """``(factory, path, *args, stamp)`` of ``spark``'s live entries,
    least recently used first."""
    entries = memo._sessions.get(spark) or {}
    return [(*slot[:2], *slot[2], st) for slot, (st, _) in entries.items()]


def _counting_sources():
    calls: list[str] = []

    def counted(tool, fn):
        def build(spark, path):
            calls.append(tool)
            return fn(spark, path)

        return build

    sources = {
        tool: (counted(tool, fn), filename)
        for tool, (fn, filename) in DEFAULT_SOURCES.items()
    }
    return sources, calls


def test_pipeline_reuses_normalizer_handles(spark):
    run_audit_pipeline(spark, FIXTURES)
    memo_paths = {k[1] for k in _keys(HANDLES, spark)}
    handles = {}
    for tool, (fn, filename) in DEFAULT_SOURCES.items():
        path = os.path.join(FIXTURES, filename)
        assert path in memo_paths, tool
        handles[tool] = HANDLES.get(spark, fn, path)
    n_keys = len(_keys(HANDLES, spark))

    res = run_audit_pipeline(spark, FIXTURES)
    assert sorted(res.sources_run) == sorted(DEFAULT_SOURCES)
    for tool, (fn, filename) in DEFAULT_SOURCES.items():
        path = os.path.join(FIXTURES, filename)
        assert HANDLES.get(spark, fn, path) is handles[tool], tool
    assert len(_keys(HANDLES, spark)) == n_keys  # the second run added nothing


def test_rewritten_dump_gets_fresh_handle_and_new_rows(spark, tmp_path):
    dumps = tmp_path / "dumps"
    shutil.copytree(FIXTURES, dumps)
    sources, calls = _counting_sources()

    first = run_audit_pipeline(spark, str(dumps), sources=sources)
    assert sorted(calls) == sorted(DEFAULT_SOURCES)
    n_before = first.findings.count()
    run_audit_pipeline(spark, str(dumps), sources=sources)
    assert len(calls) == len(DEFAULT_SOURCES)  # every normalizer reused

    log = dumps / "clamscan_scan.log"
    log.write_text(
        "/srv/new/dropper.elf: Unix.Trojan.Planted-1 FOUND\n" + log.read_text()
    )
    res = run_audit_pipeline(spark, str(dumps), sources=sources)
    assert calls[len(DEFAULT_SOURCES):] == ["clamscan"]  # only the rewrite
    rows = res.findings.filter("target = '/srv/new/dropper.elf'").collect()
    assert [r["title"] for r in rows] == ["ClamAV: Unix.Trojan.Planted-1"]
    assert res.findings.count() == n_before + 1


def _token(spark, path):
    return object()


def test_newer_stamp_evicts_superseded_key_and_lru_bound(spark, tmp_path):
    memo = HandleMemo()
    a = tmp_path / "a.txt"
    a.write_text("v1")
    h1 = memo.get(spark, _token, str(a))
    assert memo.get(spark, _token, str(a)) is h1
    (key1,) = _keys(memo, spark)

    a.write_text("version 2")
    h2 = memo.get(spark, _token, str(a))
    assert h2 is not h1
    (key2,) = _keys(memo, spark)  # the superseded stamp is gone
    assert key2[:2] == key1[:2] and key2[-1] != key1[-1]
    st = os.stat(a)
    assert key2[-1] == (st.st_mtime_ns, st.st_size, st.st_ino)

    # write-once paths need no file: fill the session to the bound
    paths = [f"immutable-{i}" for i in range(handles._MAX_ENTRIES)]
    for p in paths:
        memo.get(spark, _token, p, stamp=IMMUTABLE)
    assert [k[1] for k in _keys(memo, spark)] == paths  # LRU dropped a.txt


class _FakeContext:
    _jsc = "live"


class _FakeSession:
    def __init__(self):
        self._sc = _FakeContext()


def test_stopped_session_entries_are_dropped(tmp_path):
    memo = HandleMemo()
    a, b = _FakeSession(), _FakeSession()
    memo.get(a, _token, str(tmp_path))
    a._sc._jsc = None  # what SparkContext.stop() leaves behind
    memo.get(b, _token, str(tmp_path))
    assert _keys(memo, a) == []
    assert len(_keys(memo, b)) == 1


def test_concurrent_gets_share_one_handle_per_key(spark, tmp_path):
    memo = HandleMemo()
    paths = []
    for i in range(6):
        p = tmp_path / f"f{i}"
        p.write_text(str(i))
        paths.append(str(p))

    def slow_token(spark, path):
        time.sleep(0.001)  # widen the build race
        return object()

    seen: dict[str, set[int]] = {p: set() for p in paths}
    errors: list[BaseException] = []
    lock = threading.Lock()

    def worker(seed):
        try:
            for i in range(200):
                p = paths[(seed + i) % len(paths)]
                h = memo.get(spark, slow_token, p)
                with lock:
                    seen[p].add(id(h))
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(s,)) for s in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    # a lost update would hand different threads different handles
    assert all(len(ids) == 1 for ids in seen.values()), seen
    assert len(_keys(memo, spark)) == len(paths)


def test_catalog_handle_tracks_table_replace(spark, sf_dir, tmp_path):
    from filesystemagent_spark.catalog import Catalog

    table = "events"
    src = os.path.join(sf_dir, f"{table}.parquet")
    dst = tmp_path / f"{table}.parquet"
    shutil.copy(src, dst)
    h1 = Catalog(spark, str(tmp_path)).table(table)
    assert Catalog(spark, str(tmp_path)).table(table) is h1
    n = h1.count()
    shutil.copy(src, tmp_path / "tmp.parquet")
    os.replace(tmp_path / "tmp.parquet", dst)  # new inode at the same path
    h2 = Catalog(spark, str(tmp_path)).table(table)
    assert h2 is not h1
    assert h2.count() == n
