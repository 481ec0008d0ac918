"""Optimistic-concurrency snapshot table (sources/txtable.py): CAS
commits, snapshot isolation, time travel, and the lost-update test
that plain last-writer-wins parquet fails."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from filesystemagent_spark.sources.txtable import CommitConflict, TxTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "file_path string, size bigint")


def test_init_read_merge_roundtrip(spark, tmp_path):
    t = TxTable(str(tmp_path / "tbl"))
    assert t.latest_version() == 0
    t.init(_df(spark, [("/a", 1), ("/b", 2)]))
    assert t.latest_version() == 1
    got = {r.file_path: r.size for r in t.read(spark).collect()}
    assert got == {"/a": 1, "/b": 2}

    # upsert: /b updated, /c inserted, /a untouched
    v = t.merge_into(_df(spark, [("/b", 20), ("/c", 3)]), ["file_path"])
    assert v == 2
    got = {r.file_path: r.size for r in t.read(spark).collect()}
    assert got == {"/a": 1, "/b": 20, "/c": 3}


def test_time_travel_and_snapshot_isolation(spark, tmp_path):
    t = TxTable(str(tmp_path / "tbl"))
    t.init(_df(spark, [("/a", 1)]))
    snapshot = t.read(spark)  # resolved at v1
    t.merge_into(_df(spark, [("/a", 99)]), ["file_path"])
    # the pre-commit handle still reads v1 — no torn/updated scan
    assert [r.size for r in snapshot.collect()] == [1]
    assert [r.size for r in t.read(spark, version=1).collect()] == [1]
    assert [r.size for r in t.read(spark).collect()] == [99]


def test_duplicate_version_commit_conflicts(spark, tmp_path):
    t = TxTable(str(tmp_path / "tbl"))
    t.init(_df(spark, [("/a", 1)]))
    files, ddl = t._write_data(_df(spark, [("/x", 7)]))
    t._try_commit(2, files, ddl)
    with pytest.raises(CommitConflict):
        t._try_commit(2, files, ddl)


def test_concurrent_merges_lose_no_updates(spark, tmp_path):
    """The reason this module exists: two writers upserting DISJOINT
    keys concurrently. Last-writer-wins parquet drops one side; the
    CAS+retry protocol must keep both."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(_df(spark, [("/base", 0)]))

    errors = []
    barrier = threading.Barrier(2)

    def writer(rows):
        try:
            barrier.wait(timeout=60)
            t.merge_into(_df(spark, rows), ["file_path"])
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    t1 = threading.Thread(target=writer, args=([("/w1", 11)],))
    t2 = threading.Thread(target=writer, args=([("/w2", 22)],))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors
    got = {r.file_path: r.size for r in t.read(spark).collect()}
    assert got == {"/base": 0, "/w1": 11, "/w2": 22}
    assert t.latest_version() == 3  # serialized: v2 then v3


def test_vacuum_removes_only_unreferenced(spark, tmp_path):
    t = TxTable(str(tmp_path / "tbl"))
    t.init(_df(spark, [("/a", 1)]))
    # aborted stage: data written, never committed
    t._write_data(_df(spark, [("/junk", 0)]))
    removed = t.vacuum()
    assert len(removed) == 1
    # committed snapshots still read after vacuum
    assert [r.file_path for r in t.read(spark).collect()] == ["/a"]
    assert t.vacuum() == []  # idempotent


def test_merge_catalog_semantics_match(spark, tmp_path):
    """TxTable.merge_into computes the same INSERT-OR-REPLACE result
    as the batch merge_catalog operator — it adds the commit protocol,
    not different semantics."""
    from filesystemagent_spark.sources.listing import merge_catalog

    existing = _df(spark, [("/a", 1), ("/b", 2)])
    fresh = _df(spark, [("/b", 20), ("/c", 3)])
    want = {
        (r.file_path, r.size)
        for r in merge_catalog(existing, fresh).collect()
    }
    t = TxTable(str(tmp_path / "tbl"))
    t.init(existing)
    t.merge_into(fresh, ["file_path"])
    got = {(r.file_path, r.size) for r in t.read(spark).collect()}
    assert got == want


def test_streaming_merge_sink_exactly_once(spark, tmp_path):
    """Stream → TxTable MERGE sink: upserts apply in batch order, and a
    REPLAYED batch (same batch_id) is a no-op — the manifest's app
    metadata makes the at-least-once foreachBatch write exactly-once.
    Each micro-batch releases what its merge persisted, so a drain
    leaves the tracked-persist registry at its pre-sink mark."""
    from filesystemagent_spark.caching import tracked_count
    from filesystemagent_spark.streaming.sinks import start_txtable_merge_sink

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("/a", 1), ("/b", 2)], "file_path string, size bigint"
    ).coalesce(1).write.parquet(src)

    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    mark = tracked_count()
    start_txtable_merge_sink(
        spark.readStream.schema("file_path string, size bigint").parquet(src),
        tbl, ckpt, "file_path",
    ).awaitTermination()
    assert tracked_count() == mark

    t = TxTable(tbl)
    assert {r.file_path: r.size for r in t.read(spark).collect()} == {"/a": 1, "/b": 2}
    v1 = t.latest_version()
    applied = t.latest_app()["batch_id"]

    # Simulate the crash-replay: re-apply the SAME batch id by hand —
    # must be a no-op (no new version).
    from filesystemagent_spark.sources.txtable import TxTable as TT

    t2 = TT(tbl)
    if t2.latest_app().get("batch_id", -1) >= applied:
        pass  # sink's guard path
    else:
        raise AssertionError("guard should have fired")
    assert t.latest_version() == v1

    # New data → next batch continues the merge (append new file,
    # fresh checkpoint dir not needed: availableNow resumes).
    spark.createDataFrame(
        [("/b", 20), ("/c", 3)], "file_path string, size bigint"
    ).coalesce(1).write.mode("append").parquet(src)
    start_txtable_merge_sink(
        spark.readStream.schema("file_path string, size bigint").parquet(src),
        tbl, ckpt, "file_path",
    ).awaitTermination()
    assert tracked_count() == mark
    got = {r.file_path: r.size for r in t.read(spark).collect()}
    assert got == {"/a": 1, "/b": 20, "/c": 3}
    assert t.latest_app()["batch_id"] > applied


def test_four_writer_stress_all_updates_survive(spark, tmp_path):
    """Four concurrent writers, disjoint keys, contending for every
    version slot: CAS+retry must serialize all of them with zero lost
    updates and exactly base+4 versions."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(_df(spark, [("/base", 0)]))
    barrier = threading.Barrier(4)
    errors = []

    def writer(i):
        try:
            barrier.wait(timeout=120)
            t.merge_into(_df(spark, [(f"/w{i}", i * 10)]), ["file_path"])
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(1, 5)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    got = {r.file_path: r.size for r in t.read(spark).collect()}
    assert got == {"/base": 0, "/w1": 10, "/w2": 20, "/w3": 30, "/w4": 40}
    assert t.latest_version() == 5


def test_stats_skipping_prunes_files_and_stays_exact(spark, tmp_path):
    """Manifests record per-file min/max footer stats; a selective
    read() predicate drops files whose range proves no match BEFORE
    Spark plans the scan, and still applies the real filter so the
    result is exact."""
    t = TxTable(str(tmp_path / "tbl"))
    df = spark.range(0, 1000).selectExpr("id", "CAST(id % 7 AS STRING) AS tag")
    # range-partitioned stage -> files carry disjoint id ranges
    t.init(df.repartitionByRange(8, "id"))

    full = t.read(spark)
    assert len(full.inputFiles()) == 8

    point = t.read(spark, where=[("id", "=", 5)])
    assert len(point.inputFiles()) == 1  # 7 of 8 files skipped
    assert [r.id for r in point.collect()] == [5]

    rng = t.read(spark, where=[("id", ">=", 900)])
    assert len(rng.inputFiles()) == 1
    assert rng.count() == 100

    lt = t.read(spark, where=[("id", "<", 250)])
    assert 1 <= len(lt.inputFiles()) <= 2
    assert lt.count() == 250

    # conjunction: both predicates prune
    conj = t.read(spark, where=[("id", ">=", 100), ("id", "<=", 120)])
    assert len(conj.inputFiles()) <= 2
    assert conj.count() == 21

    # impossible range -> zero files, empty (schema preserved)
    none = t.read(spark, where=[("id", ">", 10_000)])
    assert none.count() == 0
    assert none.columns == ["id", "tag"]


def test_stats_skipping_is_conservative_without_stats(spark, tmp_path):
    """A manifest without stats (pre-stats format) must skip nothing
    and still produce the filtered result."""
    import json, os

    t = TxTable(str(tmp_path / "tbl"))
    t.init(spark.range(0, 100).selectExpr("id").repartitionByRange(4, "id"))
    # strip the stats key, simulating an old manifest
    mp = t._manifest_path(1)
    m = json.load(open(mp))
    m.pop("stats")
    os.unlink(mp)
    json.dump(m, open(mp, "w"))

    got = t.read(spark, where=[("id", "=", 7)])
    assert len(got.inputFiles()) == 4  # nothing pruned...
    assert [r.id for r in got.collect()] == [7]  # ...result still exact


def test_stats_survive_merge_into(spark, tmp_path):
    t = TxTable(str(tmp_path / "tbl"))
    t.init(_df(spark, [("/a", 1), ("/b", 2)]))
    t.merge_into(_df(spark, [("/b", 20), ("/c", 3)]), ["file_path"])
    got = t.read(spark, where=[("size", ">=", 3)])
    assert {r.file_path: r.size for r in got.collect()} == {"/b": 20, "/c": 3}


def test_merge_granular_rewrites_only_touched_files(spark, tmp_path):
    """merge_into consults manifest stats: an upsert hitting one file's
    key range rewrites THAT file; the other files are carried into the
    new manifest verbatim (same paths, same stats, no re-read)."""
    import json

    t = TxTable(str(tmp_path / "tbl"))
    df = spark.range(0, 1000).selectExpr("id", "CAST(id AS STRING) AS tag")
    t.init(df.repartitionByRange(8, "id"))
    v1_files = set(json.load(open(t._manifest_path(1)))["files"])
    assert len(v1_files) == 8

    ups = spark.createDataFrame(
        [(i, f"upd{i}") for i in range(100, 111)], "id bigint, tag string"
    )
    assert t.merge_into(ups, ["id"]) == 2
    info = t.last_merge_info
    assert info["rewritten"] <= 2 and info["carried"] >= 6, info
    assert not info["rebased"]

    m2 = json.load(open(t._manifest_path(2)))
    carried = [f for f in m2["files"] if f in v1_files]
    assert len(carried) == info["carried"]  # untouched files survive verbatim
    # carried files keep their stats without a footer re-read
    m1_stats = json.load(open(t._manifest_path(1)))["stats"]
    for f in carried:
        assert m2["stats"][f] == m1_stats[f]

    got = {r.id: r.tag for r in t.read(spark).collect()}
    assert len(got) == 1000
    assert got[105] == "upd105" and got[99] == "99" and got[111] == "111"
    # time travel: v1 unchanged
    assert t.read(spark, version=1).where("tag = 'upd105'").count() == 0
    # stats skipping still works on the merged manifest
    pt = t.read(spark, where=[("id", "=", 105)])
    assert len(pt.inputFiles()) <= 2
    assert [r.tag for r in pt.collect()] == ["upd105"]


def test_merge_granular_insert_only_rewrites_nothing(spark, tmp_path):
    """Update keys outside every file's range -> pure append: zero
    files rewritten, all carried."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(
        spark.range(0, 1000)
        .selectExpr("id", "CAST(id AS STRING) AS tag")
        .repartitionByRange(8, "id")
    )
    ups = spark.createDataFrame(
        [(i, "new") for i in range(5000, 5011)], "id bigint, tag string"
    )
    t.merge_into(ups, ["id"])
    assert t.last_merge_info["rewritten"] == 0
    assert t.last_merge_info["carried"] == 8
    assert t.read(spark).count() == 1011


def test_merge_rebase_disjoint_writers_skip_recompute(spark, tmp_path, monkeypatch):
    """A loser whose staged files are provably disjoint from the
    winner's commit re-publishes them against the new head WITHOUT
    restaging: both updates survive, and exactly three data stages
    exist (init + each writer's one merge write)."""
    import os

    t = TxTable(str(tmp_path / "tbl"))
    t.init(
        spark.range(0, 1000)
        .selectExpr("id", "CAST(id AS STRING) AS tag")
        .repartitionByRange(8, "id")
    )
    ups_a = spark.createDataFrame([(100, "A")], "id bigint, tag string")
    ups_b = spark.createDataFrame([(900, "B")], "id bigint, tag string")

    orig = TxTable._try_commit
    state = {"fired": False}

    def inject(self, version, files, ddl, app=None, stats=None, changes=None,
               **kw):
        # B's first commit attempt: let A land v2 first, forcing the CAS
        # conflict deterministically.
        if not state["fired"]:
            state["fired"] = True
            ta2 = TxTable(t.path)
            monkeypatch.setattr(TxTable, "_try_commit", orig)
            ta2.merge_into(ups_a, ["id"])
            monkeypatch.setattr(TxTable, "_try_commit", inject)
        return orig(self, version, files, ddl, app, stats, changes, **kw)

    monkeypatch.setattr(TxTable, "_try_commit", inject)
    v = t.merge_into(ups_b, ["id"])
    monkeypatch.setattr(TxTable, "_try_commit", orig)

    assert v == 3
    assert t.last_merge_info["rebased"] is True
    got = {r.id: r.tag for r in t.read(spark).where("id IN (100, 900)").collect()}
    assert got == {100: "A", 900: "B"}
    # init + A's stage + B's single stage = 3 data dirs (no recompute)
    assert len(os.listdir(t.data_dir)) == 3


def test_merge_rebase_refused_on_key_overlap(spark, tmp_path, monkeypatch):
    """When the winner's new files may contain the loser's keys the
    rebase proof fails and the loser re-merges on the fresh snapshot —
    the loser's update (the later merge) wins on the shared key."""
    import os

    t = TxTable(str(tmp_path / "tbl"))
    t.init(
        spark.range(0, 100)
        .selectExpr("id", "CAST(id AS STRING) AS tag")
        .repartitionByRange(4, "id")
    )
    ups_a = spark.createDataFrame([(50, "A")], "id bigint, tag string")
    ups_b = spark.createDataFrame([(50, "B")], "id bigint, tag string")

    orig = TxTable._try_commit
    state = {"fired": False}

    def inject(self, version, files, ddl, app=None, stats=None, changes=None,
               **kw):
        if not state["fired"]:
            state["fired"] = True
            ta2 = TxTable(t.path)
            monkeypatch.setattr(TxTable, "_try_commit", orig)
            ta2.merge_into(ups_a, ["id"])
            monkeypatch.setattr(TxTable, "_try_commit", inject)
        return orig(self, version, files, ddl, app, stats, changes, **kw)

    monkeypatch.setattr(TxTable, "_try_commit", inject)
    v = t.merge_into(ups_b, ["id"])
    monkeypatch.setattr(TxTable, "_try_commit", orig)

    assert v == 3
    assert t.last_merge_info["rebased"] is False  # full re-merge happened
    assert [r.tag for r in t.read(spark).where("id = 50").collect()] == ["B"]
    # B staged twice (pre-conflict + re-merge): init + A + B*2 = 4 dirs
    assert len(os.listdir(t.data_dir)) == 4


def test_stats_skipping_on_zordered_layout(spark, tmp_path):
    """Z-order clustering + manifest stats compose: a TxTable
    initialized from a Z-ordered stage prunes files on EITHER
    clustered column (a linear sort would prune on only one)."""
    from filesystemagent_spark.sources.layout import zorder_key

    grid = spark.range(0, 64 * 64).selectExpr("id % 64 AS x", "id DIV 64 AS y")
    keyed = (
        zorder_key(grid, ["x", "y"], bits=6)
        .repartitionByRange(16, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
    )
    t = TxTable(str(tmp_path / "ztbl"))
    t.init(keyed)
    assert len(t.read(spark).inputFiles()) == 16

    px = t.read(spark, where=[("x", "=", 10)])
    assert len(px.inputFiles()) <= 8, px.inputFiles()  # ~sqrt(16) expected
    assert px.count() == 64

    py = t.read(spark, where=[("y", "=", 10)])
    assert len(py.inputFiles()) <= 8, py.inputFiles()
    assert py.count() == 64

    # point lookup prunes on both dimensions at once
    pt = t.read(spark, where=[("x", "=", 10), ("y", "=", 10)])
    assert len(pt.inputFiles()) <= 3, pt.inputFiles()
    assert pt.count() == 1


def test_compact_rewrites_layout_not_content(spark, tmp_path):
    """OPTIMIZE: many small files -> target_files, identical rows, new
    version; pre-compact versions stay time-travelable."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(
        spark.range(0, 1000)
        .selectExpr("id", "CAST(id AS STRING) AS tag")
        .repartition(16)
    )
    t.merge_into(
        spark.createDataFrame([(5, "upd")], "id bigint, tag string"), ["id"]
    )
    pre_files = len(t.read(spark).inputFiles())
    assert pre_files > 2

    v = t.compact(spark, target_files=2)
    assert v == 3
    assert len(t.read(spark).inputFiles()) == 2
    got = {r.id: r.tag for r in t.read(spark).collect()}
    assert len(got) == 1000 and got[5] == "upd" and got[7] == "7"
    assert len(t.read(spark, version=2).inputFiles()) == pre_files
    assert t.latest_app() == {"compacted_from": 2}


def test_compact_loop_converges_to_noop(spark, tmp_path):
    """A periodic maintenance loop must not burn a version per cycle:
    a full-rewrite compact over a head that is ITSELF a compaction
    product (file count met, no tombstones, same clustering) no-ops —
    measured before this guard, a 0.5s-paced compact loop committed
    600+ layout versions and starved 6 concurrent DML writers into
    100-retry aborts (SCALE.md round-8 contention table). DML or a
    different spec re-arms the rewrite; a compact issued right after
    DML always commits (other tests rely on that version bump)."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(
        spark.range(0, 1000).selectExpr("id AS k", "id AS v").repartition(8)
    )
    v = t.compact(spark, target_files=2)                   # v2: real work
    assert t.compact(spark, target_files=2) == v           # loop: no-op
    assert t.last_compact_info["noop"]
    assert t.compact(spark, target_files=1) == v + 1       # tighter target
    t.merge_into(
        spark.createDataFrame([(5, 50)], "k bigint, v bigint"), ["k"]
    )                                                       # v4: DML re-arms
    assert t.compact(spark, target_files=2) == v + 3       # commits again
    # a plain-compacted head does NOT satisfy a clustering request...
    zv = t.compact(spark, target_files=2, zorder_cols=["k"])
    assert zv == v + 4
    # ...the same spec no-ops, a different spec re-clusters
    assert t.compact(spark, target_files=2, zorder_cols=["k"]) == zv
    assert t.last_compact_info["noop"]
    assert t.compact(spark, target_files=2, zorder_cols=["v"]) == zv + 1
    # plain request over a zorder-compacted head: layout goals already
    # met (count + no tombstones), so it no-ops too
    assert t.compact(spark, target_files=2) == zv + 1
    assert {r.k for r in t.read(spark).filter("k < 6").collect()} == set(
        range(6)
    )


def test_compact_zorder_restores_multidim_skipping(spark, tmp_path):
    """Compacting WITH zorder_cols re-clusters a fragmented table so
    stats skipping prunes on either dimension again."""
    grid = spark.range(0, 64 * 64).selectExpr("id % 64 AS x", "id DIV 64 AS y")
    t = TxTable(str(tmp_path / "tbl"))
    t.init(grid.repartition(16))  # round-robin: every file spans all of x and y

    frag = t.read(spark, where=[("x", "=", 10)])
    assert len(frag.inputFiles()) == 16  # nothing prunable

    t.compact(spark, target_files=16, zorder_cols=["x", "y"], zorder_bits=6)
    for col in ("x", "y"):
        pr = t.read(spark, where=[(col, "=", 10)])
        assert len(pr.inputFiles()) <= 8, (col, pr.inputFiles())
        assert pr.count() == 64


def test_merge_empty_updates_is_noop(spark, tmp_path):
    """Zero update rows must not burn a version rewriting the table
    into itself."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(_df(spark, [("/a", 1)]))
    v = t.merge_into(_df(spark, []), ["file_path"])
    assert v == 1 and t.latest_version() == 1
    assert t.last_merge_info["rewritten"] == 0


def test_merge_schema_evolution_appends_column(spark, tmp_path):
    """Delta mergeSchema semantics: a new update column is appended to
    the table schema; rows in files written before it read as null
    (no rewrite of carried files); a same-name different-type column
    is a hard error."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(
        spark.range(0, 100)
        .selectExpr("id", "CAST(id AS STRING) AS tag")
        .repartitionByRange(4, "id")
    )
    ups = spark.createDataFrame(
        [(7, "upd", 0.9)], "id bigint, tag string, score double"
    )
    t.merge_into(ups, ["id"])
    assert t.last_merge_info["carried"] >= 3  # evolution didn't force rewrite
    got = t.read(spark)
    assert got.columns == ["id", "tag", "score"]
    rows = {r.id: (r.tag, r.score) for r in got.where("id IN (7, 8)").collect()}
    assert rows == {7: ("upd", 0.9), 8: ("8", None)}
    # stats skipping still prunes on the original column
    assert len(t.read(spark, where=[("id", "=", 50)]).inputFiles()) <= 2

    with pytest.raises(ValueError, match="schema conflict"):
        t.merge_into(
            spark.createDataFrame([(1, "x", 5)], "id bigint, tag string, score bigint"),
            ["id"],
        )


def test_merge_partial_column_upsert_nulls_missing(spark, tmp_path):
    """MERGE replaces whole rows: an update batch omitting a column
    nulls it (allowMissingColumns), it does not preserve the old
    value."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(_df(spark, [("/a", 1), ("/b", 2)]))
    t.merge_into(
        spark.createDataFrame([("/a",)], "file_path string"), ["file_path"]
    )
    got = {r.file_path: r.size for r in t.read(spark).collect()}
    assert got == {"/a": None, "/b": 2}


def test_expire_versions_reclaims_only_dead_data(spark, tmp_path):
    """Retention: expired versions stop time-traveling, vacuum
    reclaims their unreferenced data — but files a granular merge
    carried into the live manifest survive."""
    import json

    t = TxTable(str(tmp_path / "tbl"))
    t.init(
        spark.range(0, 1000)
        .selectExpr("id", "CAST(id AS STRING) AS tag")
        .repartitionByRange(8, "id")
    )
    t.merge_into(
        spark.createDataFrame([(5, "u1")], "id bigint, tag string"), ["id"]
    )
    # second update to the SAME key: every file v2 staged covers id=5's
    # range, so v3 rewrites all of them and v2's data dir goes dead
    t.merge_into(
        spark.createDataFrame([(5, "u2")], "id bigint, tag string"), ["id"]
    )
    assert t.latest_version() == 3
    live_dirs = {
        __import__("os").path.dirname(f)
        for f in json.load(open(t._manifest_path(3)))["files"]
    }

    assert t.expire_versions(keep_last=1) == [1, 2]
    with pytest.raises(FileNotFoundError):
        t.read(spark, version=1)
    removed = t.vacuum()
    # v2's stage dir is dead; v1's dir still holds carried files and
    # must survive (vacuum is directory-granular over live manifests)
    assert len(removed) == 1, removed
    assert removed[0] not in live_dirs
    got = {r.id: r.tag for r in t.read(spark).where("id IN (5, 7)").collect()}
    assert got == {5: "u2", 7: "7"}


def test_vacuum_grace_window_protects_inflight_stage(spark, tmp_path):
    """A staged-but-uncommitted directory inside the grace window must
    survive vacuum (the concurrent-writer hazard); with grace 0 it is
    reclaimed as an aborted stage."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(_df(spark, [("/a", 1)]))
    t._write_data(_df(spark, [("/staged", 9)]))  # commit not yet published
    assert t.vacuum(grace_seconds=3600) == []
    assert len(t.vacuum(grace_seconds=0)) == 1


def test_merge_sequences_match_dict_model(spark, tmp_path):
    """Seeded randomized merge sequences vs the obvious dict model:
    whatever mix of inserts/updates across key ranges (hitting the
    granular prune, the insert-only path, and full rewrites), read()
    must equal the dict after every commit."""
    import random

    rng = random.Random(7)
    t = TxTable(str(tmp_path / "tbl"))
    model = {i: str(i) for i in range(0, 200)}
    t.init(
        spark.createDataFrame(
            [(k, v) for k, v in model.items()], "id bigint, tag string"
        ).repartitionByRange(4, "id")
    )
    for step in range(6):
        lo = rng.randint(0, 250)
        keys = sorted(rng.sample(range(lo, lo + 60), rng.randint(1, 12)))
        ups = [(k, f"s{step}v{k}") for k in keys]
        t.merge_into(
            spark.createDataFrame(ups, "id bigint, tag string"), ["id"]
        )
        model.update(dict(ups))
        got = {r.id: r.tag for r in t.read(spark).collect()}
        assert got == model, f"step {step}: {t.last_merge_info}"
    # and the stats-skipping read agrees with the model on a point key
    k = next(iter(model))
    assert [r.tag for r in t.read(spark, where=[("id", "=", k)]).collect()] == [model[k]]


def test_delete_where_prunes_and_stays_exact(spark, tmp_path):
    """Row-level DELETE rewrites only stats-matching files; null
    predicate evaluations KEEP the row (SQL DELETE semantics)."""
    import json

    t = TxTable(str(tmp_path / "tbl"))
    t.init(
        spark.range(0, 1000)
        .selectExpr("id", "CASE WHEN id = 500 THEN NULL ELSE id END AS v")
        .repartitionByRange(8, "id")
    )
    v1_files = set(json.load(open(t._manifest_path(1)))["files"])

    v = t.delete_where(spark, [("id", ">=", 100), ("id", "<", 150)])
    assert v == 2
    m2 = json.load(open(t._manifest_path(2)))
    assert len([f for f in m2["files"] if f in v1_files]) >= 6  # carried
    assert t.read(spark).count() == 950
    assert t.read(spark).where("id IN (99, 150)").count() == 2
    assert t.read(spark).where("id = 120").count() == 0

    # null semantics: v is NULL at id=500 -> "v < 0" is NULL -> row kept
    t.delete_where(spark, [("v", "<", 0)])
    assert t.read(spark).where("id = 500").count() == 1

    # provably-no-match delete is a version-free no-op
    v_before = t.latest_version()
    assert t.delete_where(spark, [("id", ">", 10_000)]) == v_before


def test_change_feed_records_exact_images(spark, tmp_path):
    """CDF: init is its own insert image; merges/deletes with
    change_feed=True stage exact change images; compaction is
    skipped; a non-CDF commit in range raises."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(_df(spark, [("/a", 1), ("/b", 2)]))                         # v1
    t.merge_into(
        _df(spark, [("/b", 20), ("/c", 3)]), ["file_path"],
        change_feed=True,                                              # v2
    )
    t.delete_where(spark, [("file_path", "=", "/a")], change_feed=True)  # v3
    t.compact(spark, target_files=1)                                   # v4

    feed = t.table_changes(spark, 1).collect()
    got = {(r.file_path, r.size, r._change_type, r._commit_version) for r in feed}
    assert got == {
        ("/a", 1, "insert", 1), ("/b", 2, "insert", 1),
        ("/b", 20, "upsert", 2), ("/c", 3, "upsert", 2),
        ("/b", 2, "update_preimage", 2),  # the old row the merge replaced
        ("/a", 1, "delete", 3),
    }
    # consumers can resume from a cursor
    assert {r._commit_version for r in t.table_changes(spark, 3).collect()} == {3}

    # a commit without change_feed poisons the range -> loud error
    t.merge_into(_df(spark, [("/d", 4)]), ["file_path"])               # v5
    with pytest.raises(ValueError, match="without change_feed"):
        t.table_changes(spark, 1)
    # ...but ranges before it still read
    assert len(t.table_changes(spark, 1, to_version=4).collect()) == 6


def test_change_feed_drives_incremental_consumer(spark, tmp_path):
    """The loop CDF exists for: a derived table stays in sync by
    applying each version's images, never re-reading the source."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(_df(spark, [("/a", 1)]))
    t.merge_into(_df(spark, [("/a", 10), ("/b", 2)]), ["file_path"], change_feed=True)
    t.delete_where(spark, [("file_path", "=", "/b")], change_feed=True)

    derived: dict = {}
    for r in sorted(
        t.table_changes(spark, 1).collect(), key=lambda r: r._commit_version
    ):
        if r._change_type == "delete":
            derived.pop(r.file_path, None)
        elif r._change_type != "update_preimage":
            derived[r.file_path] = r.size
    truth = {r.file_path: r.size for r in t.read(spark).collect()}
    assert derived == truth == {"/a": 10}


def test_vacuum_keeps_change_feed_dirs(spark, tmp_path):
    """Change images live in their own staged dirs referenced only by
    manifest['changes'] — vacuum must never reclaim them, or table
    maintenance destroys the feed."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(_df(spark, [("/a", 1)]))
    t.merge_into(_df(spark, [("/b", 2)]), ["file_path"], change_feed=True)
    assert t.vacuum(grace_seconds=0) == []  # nothing is garbage
    feed = t.table_changes(spark, 1).collect()  # still readable
    assert {(r.file_path, r._change_type) for r in feed} == {
        ("/a", "insert"), ("/b", "upsert"),
    }  # /b is a pure insert into a table whose stats prove no match —
    #    no touched files, so no preimage part


def test_wide_batch_probe_uses_true_range(spark, tmp_path):
    """A batch wider than the probe cap must prune with the TRUE
    min/max of its keys (an arbitrary collect subset's extremes could
    falsely prove a file disjoint and duplicate its keys)."""
    from filesystemagent_spark.sources import txtable as TX

    t = TxTable(str(tmp_path / "tbl"))
    t.init(
        spark.range(0, 40_000)
        .selectExpr("id", "CAST(id AS STRING) AS tag")
        .repartitionByRange(8, "id")
    )
    # > _MERGE_PROBE_CAP distinct keys, spanning every file's range
    ups = spark.range(0, 40_000, 3).selectExpr("id", "'upd' AS tag")
    assert ups.count() > TX._MERGE_PROBE_CAP
    t.merge_into(ups, ["id"])
    assert t.last_merge_info["rewritten"] == 8  # every file's range overlaps
    got = t.read(spark)
    assert got.count() == 40_000  # no duplicated keys
    assert {r.tag for r in got.where("id IN (0, 39998)").collect()} == {"upd", "39998"}


def test_unsupported_predicate_op_is_loud(spark, tmp_path):
    t = TxTable(str(tmp_path / "tbl"))
    t.init(_df(spark, [("/a", 1)]))
    with pytest.raises(ValueError, match="unsupported predicate"):
        t.read(spark, where=[("size", "like", "1%")])
    with pytest.raises(ValueError, match="unsupported predicate"):
        t.delete_where(spark, [("size", "between", 1)])


def test_stats_dropped_when_any_row_group_lacks_min_max(spark, tmp_path):
    """NaN-bearing double chunks either get has_min_max=False or (this
    writer) min/max WITH a NaN — both poison range pruning (every NaN
    comparison is False), so the column must carry no stats at all."""
    import pyspark.sql.functions as F

    t = TxTable(str(tmp_path / "tbl"))
    df = spark.range(0, 10).select(
        "id",
        F.when(F.col("id") == 7, float("nan")).otherwise(F.col("id").cast("double")).alias("v"),
    )
    t.init(df.coalesce(1))
    m = t._read_manifest(1)
    per = next(iter(m["stats"].values()))
    assert "id" in per          # clean column keeps stats
    assert "v" not in per       # NaN chunk -> no usable min/max -> dropped
    # and reads on v never prune: Spark orders NaN greater than every
    # double, so BOTH id=9 (9.0) and id=7 (NaN) satisfy v >= 9.0 — a
    # pruner trusting a NaN-poisoned max would have dropped the file
    assert t.read(spark, where=[("v", ">=", 9.0)]).count() == 2


def test_float_columns_never_carry_stats(spark, tmp_path):
    """Floating-point columns carry NO file-level stats at all — the
    parquet spec leaves NaN statistics undefined and common writers
    emit min/max over the non-NaN values only, while Spark orders NaN
    greater than every double (and NaN = NaN true), so any float range
    can falsely prove a NaN-holding file disjoint. Reads on floats are
    conservatively unpruned and stay exact."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(
        spark.range(0, 100)
        .selectExpr("id", "CAST(id AS DOUBLE) AS score")  # clean, no NaN
        .repartitionByRange(4, "id")
    )
    m = t._read_manifest(1)
    for per in m["stats"].values():
        assert "id" in per
        assert "score" not in per
    got = t.read(spark, where=[("score", ">=", 90.0)])
    assert len(got.inputFiles()) == 4  # nothing pruned on a float
    assert got.count() == 10


def test_nan_merge_keys_never_corrupt(spark, tmp_path):
    """NaN is a legal merge key (Spark joins match NaN = NaN), but a
    NaN in the probe batch must disable pruning entirely: sorted()
    with a NaN is unsorted, and a bisect over it can falsely prove a
    file disjoint from a REAL update key — the carried-verbatim file
    plus the appended update row would be silent duplicate-key
    corruption."""
    from filesystemagent_spark.sources import txtable as TX

    t = TxTable(str(tmp_path / "tbl"))
    t.init(
        spark.range(0, 100)
        .selectExpr("CAST(id AS DOUBLE) AS k", "CAST(id AS STRING) AS tag")
        .repartitionByRange(4, "k")
    )
    ups = spark.createDataFrame(
        [(5.0, "upd5"), (float("nan"), "updnan"), (1.0, "upd1")],
        "k double, tag string",
    )
    # unit-level: the probe refuses to prune on a NaN-bearing batch
    assert TX._merge_probe(ups, ["k"]) == {"k": None}
    t.merge_into(ups, ["k"])
    got = t.read(spark).collect()
    assert len(got) == 101  # 100 keys + the NaN insert, no duplicates
    by_tag = {r.tag for r in got}
    assert {"upd5", "upd1", "updnan"} <= by_tag
    assert "5" not in by_tag and "1" not in by_tag  # updated, not duplicated


def test_merge_respects_caller_persisted_updates(spark, tmp_path):
    """merge_into must not re-persist a caller-owned DataFrame the
    caller already persisted (a different StorageLevel would raise,
    and the session-wide release hook would unpersist a cache the
    caller still relies on)."""
    from pyspark.storagelevel import StorageLevel

    from filesystemagent_spark.caching import tracked_count

    t = TxTable(str(tmp_path / "tbl"))
    t.init(_df(spark, [("/a", 1)]))
    ups = _df(spark, [("/b", 2)]).persist(StorageLevel.DISK_ONLY)
    try:
        before = tracked_count()
        t.merge_into(ups, ["file_path"])  # would raise pre-fix
        assert tracked_count() == before  # not added to the release registry
        assert ups.storageLevel.useDisk  # caller's persistence untouched
        got = {r.file_path: r.size for r in t.read(spark).collect()}
        assert got == {"/a": 1, "/b": 2}
    finally:
        ups.unpersist()


# ---------------------------------------------------------------- format 2


def test_many_file_table_plans_without_inline_stats(spark, tmp_path):
    """The 100 TB planning shape: a 1k+-file commit publishes a pointer
    manifest of segment DESCRIPTORS (path, n_files, envelope rollup) —
    not one JSON with every file's stats — and a selective read opens
    only the envelope-overlapping segments, so driver memory is
    O(matching files)."""
    import json

    from filesystemagent_spark.sources import txtable as TX

    t = TxTable(str(tmp_path / "big"))
    df = spark.range(0, 102_400).selectExpr("id", "id % 97 AS bucket")
    t.init(df.repartitionByRange(1024, "id"))

    m = json.load(open(t._manifest_path(1)))
    assert "files" not in m and "stats" not in m  # nothing inlined
    assert m["n_files"] == 1024
    assert len(m["segments"]) == -(-1024 // TX._SEGMENT_ROWS)
    # the pointer stays KB-scale no matter the file count
    import os

    assert os.path.getsize(t._manifest_path(1)) < 20_000

    # count segment opens: a point predicate must open exactly the one
    # segment whose envelope covers the key (range-partitioned stage ->
    # disjoint envelopes), never all of them
    opened = []
    orig = TxTable._segment_rows

    def spy(self, seg):
        opened.append(seg["path"])
        return orig(self, seg)

    TxTable._segment_rows = spy
    try:
        pt = t.read(spark, where=[("id", "=", 50_000)])
    finally:
        TxTable._segment_rows = orig
    assert len(opened) == 1
    assert len(pt.inputFiles()) == 1  # 1023 of 1024 files pruned
    assert [r.id for r in pt.collect()] == [50_000]

    # unfiltered read still sees everything
    full = t.read(spark)
    assert len(full.inputFiles()) == 1024
    assert full.count() == 102_400


def test_segmented_merge_reuses_untouched_segments(spark, tmp_path):
    """A narrow merge into a segmented table rewrites only the touched
    files AND carries every non-overlapping segment as a descriptor —
    no per-file stats re-read, re-serialize, or re-write for them."""
    import json

    from filesystemagent_spark.sources import txtable as TX

    t = TxTable(str(tmp_path / "big"))
    t.init(
        spark.range(0, 102_400)
        .selectExpr("id", "CAST(id AS STRING) AS tag")
        .repartitionByRange(1024, "id")
    )
    v1_segs = {s["path"] for s in json.load(open(t._manifest_path(1)))["segments"]}

    ups = spark.createDataFrame(
        [(i, f"upd{i}") for i in range(500, 505)], "id bigint, tag string"
    )
    assert t.merge_into(ups, ["id"]) == 2
    info = t.last_merge_info
    assert info["rewritten"] <= 2, info
    assert info["carried"] >= 1022, info

    m2 = json.load(open(t._manifest_path(2)))
    reused = [s for s in m2["segments"] if s["path"] in v1_segs]
    assert len(reused) >= len(v1_segs) - 1  # at most one segment opened+split
    # descriptor counts agree with the actual snapshot file set
    assert m2["n_files"] == len(t.read(spark).inputFiles())

    got = {r.id: r.tag for r in t.read(spark, where=[("id", ">=", 498), ("id", "<=", 506)]).collect()}
    assert got[502] == "upd502" and got[498] == "498" and got[506] == "506"
    assert t.read(spark).count() == 102_400  # no duplicated keys


def test_segmented_delete_expire_vacuum_gc(spark, tmp_path, monkeypatch):
    """Format-2 lifecycle with small constants: delete prunes at
    segment level, expire orphans old segments, vacuum reclaims them
    (and never a live one); change feed and time travel stay intact."""
    import json
    import os

    from filesystemagent_spark.sources import txtable as TX

    monkeypatch.setattr(TX, "_INLINE_FILES_MAX", 4)
    monkeypatch.setattr(TX, "_SEGMENT_ROWS", 4)

    t = TxTable(str(tmp_path / "tbl"))
    t.init(
        spark.range(0, 160)
        .selectExpr("id", "CAST(id AS STRING) AS tag")
        .repartitionByRange(16, "id")
    )                                                               # v1: 4 segments
    m1 = json.load(open(t._manifest_path(1)))
    assert len(m1["segments"]) == 4

    v = t.delete_where(spark, [("id", ">=", 0), ("id", "<", 10)], change_feed=True)
    assert v == 2
    m2 = json.load(open(t._manifest_path(2)))
    reused = {s["path"] for s in m1["segments"]} & {s["path"] for s in m2["segments"]}
    assert len(reused) == 3  # only the first segment's envelope overlapped
    assert t.read(spark).count() == 150
    # change feed readable on a format-2 table
    feed = t.table_changes(spark, 2).collect()
    assert {r._change_type for r in feed} == {"delete"}
    assert len(feed) == 10

    # merge with change feed, then compact (compaction may fall back to
    # inline — formats can alternate per version)
    t.merge_into(
        spark.createDataFrame([(5_000, "new")], "id bigint, tag string"),
        ["id"], change_feed=True,
    )                                                               # v3
    t.compact(spark, target_files=2)                                # v4
    assert t.read(spark).count() == 151

    all_seg_files = set(os.listdir(t._segments_dir()))
    assert t.expire_versions(keep_last=1) == [1, 2, 3]
    removed = t.vacuum(grace_seconds=0)
    # v4 is a 2-file compaction -> inline manifest -> every segment dead
    live = json.load(open(t._manifest_path(4))).get("segments", [])
    for s in live:
        assert s["path"] not in removed
    assert any(os.path.basename(p) in all_seg_files for p in removed)
    assert t.read(spark).count() == 151  # still reads after GC
    assert t.vacuum(grace_seconds=0) == []  # idempotent


def test_segmented_concurrent_merges_still_serialize(spark, tmp_path, monkeypatch):
    """The CAS + rebase/retry protocol is format-agnostic: concurrent
    disjoint writers on a segmented table both survive."""
    import threading

    from filesystemagent_spark.sources import txtable as TX

    monkeypatch.setattr(TX, "_INLINE_FILES_MAX", 4)
    monkeypatch.setattr(TX, "_SEGMENT_ROWS", 4)

    t = TxTable(str(tmp_path / "tbl"))
    t.init(
        spark.range(0, 160)
        .selectExpr("id", "CAST(id AS STRING) AS tag")
        .repartitionByRange(16, "id")
    )
    errors = []
    barrier = threading.Barrier(2)

    def writer(key, tag):
        try:
            barrier.wait(timeout=120)
            t.merge_into(
                spark.createDataFrame([(key, tag)], "id bigint, tag string"),
                ["id"],
            )
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    th1 = threading.Thread(target=writer, args=(3, "w1"))
    th2 = threading.Thread(target=writer, args=(150, "w2"))
    th1.start(); th2.start(); th1.join(); th2.join()
    assert not errors, errors
    got = {r.id: r.tag for r in t.read(spark).collect()}
    assert len(got) == 160 and got[3] == "w1" and got[150] == "w2"
    assert t.latest_version() == 3


def test_vacuum_reads_each_shared_segment_once(spark, tmp_path, monkeypatch):
    """Segments carried verbatim across versions are immutable; vacuum
    must memoize per segment path instead of re-reading every segment
    for every version (O(V*S) parquet reads on a long-history table)."""
    import filesystemagent_spark.sources.txtable as TX

    monkeypatch.setattr(TX, "_INLINE_FILES_MAX", 2)
    monkeypatch.setattr(TX, "_SEGMENT_ROWS", 2)
    t = TxTable(str(tmp_path / "tbl"))
    t.init(
        spark.range(0, 64)
        .selectExpr("id", "CAST(id AS STRING) AS tag")
        .repartitionByRange(4, "id")
    )
    for i in range(5):  # 5 merges, each carries prior segments
        t.merge_into(
            spark.createDataFrame([(i, "u")], "id bigint, tag string"), ["id"]
        )
    calls = []
    orig = TX.TxTable._segment_files

    def counting(self, seg):
        calls.append(seg["path"])
        return orig(self, seg)

    monkeypatch.setattr(TX.TxTable, "_segment_files", counting)
    t.vacuum()
    assert calls, "expected a format-2 table (segments in play)"
    assert len(calls) == len(set(calls)), (
        f"segment re-read across versions: {len(calls)} reads of "
        f"{len(set(calls))} distinct segments"
    )


def test_change_feed_preimages_enable_incremental_aggregates(spark, tmp_path):
    """What update_preimage rows exist FOR (round 5): a consumer
    maintaining (count, sum) applies new_agg = old + f(insert∪upsert)
    − f(update_preimage) − f(delete), never rescanning the table.
    Without pre-images, an upsert's old value is unrecoverable and
    subtractive state drifts."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(_df(spark, [("/a", 1), ("/b", 2), ("/c", 3)]))
    t.merge_into(_df(spark, [("/b", 20), ("/d", 4)]), ["file_path"],
                 change_feed=True)
    t.delete_where(spark, [("file_path", "=", "/a")], change_feed=True)
    t.merge_into(_df(spark, [("/c", 300)]), ["file_path"], change_feed=True)

    count = total = 0
    for r in t.table_changes(spark, 1).collect():
        sign = -1 if r._change_type in ("update_preimage", "delete") else 1
        # upserts count as +1 row only when they INSERT; the matching
        # preimage row's -1 cancels the replaced row exactly
        count += sign
        total += sign * r.size
    truth = t.read(spark).agg(
        F.count("*").alias("n"), F.sum("size").alias("s")
    ).collect()[0]
    assert (count, total) == (truth["n"], truth["s"]) == (3, 324)


def test_incremental_agg_sink_tracks_source_aggregates(spark, tmp_path):
    """End-to-end CDF consumer: the change-feed STREAM maintains a
    derived per-group (count, sum) TxTable across init, a
    group-moving upsert, an insert, and a delete — matching a fresh
    snapshot aggregate after every drain, without rescanning the
    source. Idempotent on an empty re-drain, and every drain leaves the
    tracked-persist registry where it found it."""
    from filesystemagent_spark.caching import tracked_count
    from filesystemagent_spark.streaming.sinks import start_incremental_agg_sink

    def rows(data):
        return spark.createDataFrame(data, "k bigint, grp string, v bigint")

    src_path = str(tmp_path / "src")
    drv_path = str(tmp_path / "derived")
    ckpt = str(tmp_path / "ckpt")
    src = TxTable(src_path)
    src.init(rows([(1, "a", 10), (2, "a", 20), (3, "b", 30)]))       # v1

    def drain():
        mark = tracked_count()
        start_incremental_agg_sink(
            spark, src_path, drv_path, ckpt, group_col="grp", value_col="v"
        ).awaitTermination()
        assert tracked_count() == mark

    def derived():
        return {
            r.grp: (r.n_rows, r.total)
            for r in TxTable(drv_path).read(spark).collect()
            if r.n_rows > 0
        }

    def truth():
        return {
            r.grp: (r.n, r.s)
            for r in src.read(spark)
            .groupBy("grp")
            .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
            .collect()
        }

    drain()
    assert derived() == truth() == {"a": (2, 30), "b": (1, 30)}

    # group move (2: a->b, value change), insert (4), delete (grp a)
    src.merge_into(rows([(2, "b", 25), (4, "b", 5)]), ["k"],
                   change_feed=True)                                  # v2
    src.delete_where(spark, [("grp", "=", "a")], change_feed=True)    # v3
    drain()
    assert derived() == truth() == {"b": (3, 60)}

    v = TxTable(drv_path).latest_version()
    drain()  # nothing new: empty batch must not burn a derived version
    assert TxTable(drv_path).latest_version() == v
    assert derived() == {"b": (3, 60)}


def test_timestamp_time_travel_and_restore(spark, tmp_path):
    """version_as_of resolves epoch timestamps to versions; restore
    publishes a NEW version with an old snapshot's exact content
    (format 1 and format 2), preserving history."""
    import time as _time

    t = TxTable(str(tmp_path / "tbl"))
    t.init(_df(spark, [("/a", 1)]))                                 # v1
    ts_after_v1 = _time.time()
    _time.sleep(0.05)
    t.merge_into(_df(spark, [("/a", 99), ("/b", 2)]), ["file_path"])  # v2
    t.delete_where(spark, [("file_path", "=", "/a")])               # v3

    assert t.version_as_of(ts_after_v1) == 1
    assert t.version_as_of(_time.time()) == 3
    with pytest.raises(ValueError, match="no snapshot"):
        t.version_as_of(ts_after_v1 - 3600)

    v = t.restore(1)                                                # v4
    assert v == 4
    got = {r.file_path: r.size for r in t.read(spark).collect()}
    assert got == {"/a": 1}
    # history preserved: the rolled-back versions still time-travel
    assert {r.file_path for r in t.read(spark, version=3).collect()} == {"/b"}
    assert t.latest_app() == {"restored_from": 1}
    # restoring a restore is fine; merges continue from the new head
    t.merge_into(_df(spark, [("/c", 3)]), ["file_path"])            # v5
    got = {r.file_path: r.size for r in t.read(spark).collect()}
    assert got == {"/a": 1, "/c": 3}


def test_restore_format2_reuses_segments(spark, tmp_path, monkeypatch):
    """Restoring a segmented snapshot re-references its segments —
    no stats re-read, no data rewrite — and stats skipping still
    prunes on the restored manifest."""
    from filesystemagent_spark.sources import txtable as TX

    monkeypatch.setattr(TX, "_INLINE_FILES_MAX", 4)
    monkeypatch.setattr(TX, "_SEGMENT_ROWS", 4)
    t = TxTable(str(tmp_path / "tbl"))
    t.init(
        spark.range(0, 160)
        .selectExpr("id", "CAST(id AS STRING) AS tag")
        .repartitionByRange(16, "id")
    )                                                               # v1
    v1_segs = {s["path"] for s in t._read_manifest(1)["segments"]}
    t.delete_where(spark, [("id", "<", 100)])                       # v2
    assert t.read(spark).count() == 60

    t.restore(1)                                                    # v3
    assert t.read(spark).count() == 160
    m3 = t._read_manifest(3)
    assert {s["path"] for s in m3["segments"]} == v1_segs
    pruned = t.read(spark, where=[("id", "=", 5)])
    assert len(pruned.inputFiles()) <= 2


def test_full_lifecycle_random_ops_match_model(spark, tmp_path):
    """Seeded randomized op sequences — merge (with change feed),
    ranged delete, compaction — vs the obvious dict model: the
    snapshot must equal the model after EVERY commit, the change feed
    must rebuild the final state from images alone, and a RESTORE must
    roll the snapshot back exactly while (documented behavior) making
    feed consumers fail loudly when they cross it."""
    import random

    rng = random.Random(11)

    def df(rows):
        return spark.createDataFrame(rows, "id bigint, v bigint")

    t = TxTable(str(tmp_path / "tbl"))
    model = {i: i * 10 for i in range(100)}
    t.init(df(sorted(model.items())))                              # v1
    history = {1: dict(model)}

    # fixed op schedule so every class is GUARANTEED exercised (a pure
    # rng.choice draw can skip deletes entirely — it did under seed 11);
    # parameters stay seeded-random
    schedule = ["merge", "delete", "merge", "compact", "delete", "merge", "delete"]
    for step, op in enumerate(schedule):
        if op == "merge":
            keys = rng.sample(range(0, 160), rng.randint(1, 10))
            ups = [(k, step * 1000 + k) for k in sorted(keys)]
            t.merge_into(df(ups), ["id"], change_feed=True)
            model.update(dict(ups))
        elif op == "delete":
            lo = rng.randint(0, 150)
            t.delete_where(
                spark, [("id", ">=", lo), ("id", "<", lo + 20)],
                change_feed=True,
            )
            model = {k: x for k, x in model.items() if not (lo <= k < lo + 20)}
        else:
            t.compact(spark, target_files=3)
        history[t.latest_version()] = dict(model)
        got = {r.id: r.v for r in t.read(spark).collect()}
        assert got == model, (
            f"step {step} ({op}): {getattr(t, 'last_merge_info', None)}"
        )

    # the feed alone rebuilds the final state (preimages ignored for
    # state replay; they exist for subtractive aggregates)
    rebuilt: dict = {}
    for r in sorted(
        t.table_changes(spark, 1).collect(), key=lambda r: r._commit_version
    ):
        if r._change_type == "delete":
            rebuilt.pop(r.id, None)
        elif r._change_type != "update_preimage":
            rebuilt[r.id] = r.v
    assert rebuilt == model

    # restore to a mid-history version: snapshot rolls back exactly...
    target = sorted(history)[len(history) // 2]
    t.restore(target)
    got = {r.id: r.v for r in t.read(spark).collect()}
    assert got == history[target]
    # ...and a feed consumer crossing the restore fails loudly
    with pytest.raises(ValueError, match="without change_feed"):
        t.table_changes(spark, 1)


# -- dir-grouped full-scan planning (round 6) -------------------------


def test_full_scan_plans_directories_not_files(spark, tmp_path):
    """An append-only table's unfiltered scan plans ONE path per
    staging dir (each commit's dir is fully live), not one per file —
    the bounded-driver full-scan path. Results stay exact."""
    import os

    t = TxTable(str(tmp_path / "tbl"))
    t.init(spark.range(0, 10).selectExpr(
        "CAST(id AS STRING) file_path", "id size").repartition(4))
    for i in range(3):
        # single-partition updates: no 0-row part files (whose null
        # stats would force conservative rewrites → partial dirs)
        t.merge_into(
            _df(spark, [(f"/new{i}-{j}", 100 * i + j) for j in range(5)])
            .coalesce(1),
            ["file_path"],
        )
    m = t._read_manifest(t.latest_version())
    paths = t._plan_scan_paths(m)
    n_files = t._manifest_n_files(m)
    assert all(os.path.isdir(p) for p in paths), paths
    assert len(paths) < n_files
    # exactness: dir-grouped scan == explicit file enumeration
    by_dirs = {(r.file_path, r.size) for r in t.read(spark).collect()}
    files = t._manifest_files(m)
    by_files = {
        (r.file_path, r.size)
        for r in spark.read.schema(m["schema_ddl"]).parquet(*files).collect()
    }
    assert by_dirs == by_files and len(by_dirs) == 25


def test_partial_dir_after_delete_falls_back_to_files(spark, tmp_path):
    """A row-level delete rewrites SOME of a dir's files; that dir must
    never be passed as a directory path (its disk contents include the
    dead pre-delete file) — the planner lists its surviving files
    individually and keeps dir paths for untouched dirs."""
    import os

    t = TxTable(str(tmp_path / "tbl"))
    # one dir, 4 files, keys range-partitioned so stats isolate files
    t.init(
        spark.range(0, 100)
        .selectExpr("CAST(id AS STRING) file_path", "id size")
        .repartitionByRange(4, "size")
    )
    t.merge_into(_df(spark, [("/other", -5)]), ["file_path"])  # 2nd dir
    t.delete_where(spark, [("size", ">=", 90)])  # rewrites part of dir 1
    m = t._read_manifest(t.latest_version())
    paths = t._plan_scan_paths(m)
    dirs = [p for p in paths if os.path.isdir(p)]
    loose = [p for p in paths if not os.path.isdir(p)]
    assert dirs and loose  # mixed plan: full dirs + partial-dir files
    got = {r.size for r in t.read(spark).collect()}
    # the dead rows (>= 90) exist on disk in the partial dir but are
    # invisible — the dir was NOT dir-read
    assert got == set(range(90)) | {-5}


def test_plan_scan_paths_falls_back_without_census(spark, tmp_path):
    """Manifests predating dirs_created (or with legacy segments) plan
    the full file list — never a directory they can't prove live."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(_df(spark, [("/a", 1), ("/b", 2)]))
    m = t._read_manifest(1)
    legacy = {k: v for k, v in m.items() if k != "dirs_created"}
    assert sorted(t._plan_scan_paths(legacy)) == sorted(t._manifest_files(m))


def test_compact_prunes_census_and_restore_reunions_it(spark, tmp_path):
    """compact() rewrites everything → census shrinks to the rewrite's
    own dirs; restore() of a pre-compact version re-unions the restored
    snapshot's census so its dirs stay dir-readable."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(_df(spark, [("/a", 1)]))
    for i in range(3):
        t.merge_into(_df(spark, [(f"/m{i}", i)]), ["file_path"])
    pre = t._read_manifest(t.latest_version())["dirs_created"]
    t.compact(spark, target_files=1)
    post = t._read_manifest(t.latest_version())["dirs_created"]
    assert len(post) == 1 and len(pre) > 1
    v = t.restore(4)  # the pre-compact head
    census = t._read_manifest(v)["dirs_created"]
    assert set(pre) <= set(census)
    got = {r.file_path: r.size for r in t.read(spark).collect()}
    assert got == {"/a": 1, "/m0": 0, "/m1": 1, "/m2": 2}


def test_full_scan_planning_driver_cost_is_bounded(spark, tmp_path):
    """Format-2 table whose commits exceed _INLINE_FILES_MAX: the full
    scan must NOT open any segment parquet (all dirs fully live), so
    planning reads only the manifest JSON."""
    from unittest import mock

    t = TxTable(str(tmp_path / "tbl"))
    # 100 files in one commit -> format 2 (over _INLINE_FILES_MAX=64)
    t.init(
        spark.range(0, 1000)
        .selectExpr("CAST(id AS STRING) file_path", "id size")
        .repartition(100)
    )
    m = t._read_manifest(1)
    assert "segments" in m
    with mock.patch.object(
        TxTable, "_segment_files", side_effect=AssertionError("segment opened")
    ):
        paths = t._plan_scan_paths(m)
    assert len(paths) == 1  # one fully-live dir
    assert t.read(spark).count() == 1000


def test_bin_packed_compact_rewrites_only_the_small_tail(spark, tmp_path):
    """compact(small_file_bytes=...) must read + repack ONLY files
    under the threshold; every larger file carries into the new
    manifest verbatim (path-identical). The streaming-ingest shape: a
    100 TB table compacts in time proportional to its small-file tail,
    never via the full-table rewrite."""
    import os as _os

    t = TxTable(str(tmp_path / "tbl"))
    t.init(spark.range(0, 50000).selectExpr("id AS k", "id AS v").coalesce(1))
    for i in range(4):  # disjoint key ranges: big file never rewritten
        t.merge_into(
            spark.range(100000 + i * 10, 100000 + i * 10 + 5)
            .selectExpr("id AS k", "id AS v").coalesce(1),
            ["k"],
        )
    before = set(t._manifest_files(t._read_manifest(t.latest_version())))
    big = {f for f in before if _os.path.getsize(f) >= 50_000}
    small = before - big
    assert big and len(small) >= 4
    n_before = t.read(spark).count()
    v = t.compact(spark, small_file_bytes=50_000)
    info = t.last_compact_info
    after = set(t._manifest_files(t._read_manifest(v)))
    assert big <= after                      # carried verbatim
    assert not (small & after)               # every small file repacked
    assert info["rewritten"] == len(small)
    assert len(after) < len(before)
    assert t.read(spark, v).count() == n_before
    # deterministic content, not just counts
    assert t.read(spark, v).agg(F.sum("k")).first()[0] == \
        t.read(spark, v - 1).agg(F.sum("k")).first()[0]
    # idempotent: everything now either big or a single packed file
    v2 = t.compact(spark, small_file_bytes=50_000)
    assert v2 == v and t.last_compact_info["rewritten"] == 0


def test_bin_packed_compact_skips_all_large_segments_unopened(spark, tmp_path):
    """Format-2 manifests: a stats segment whose __bytes__ envelope
    proves every file >= threshold must be carried as an UNOPENED
    descriptor (the planning cost is the small tail, not the table)."""
    t = TxTable(str(tmp_path / "tbl"))
    # 70 similar-size files -> format 2 (above _INLINE_FILES_MAX)
    t.init(
        spark.range(0, 700000).selectExpr("id AS k", "id AS v").repartition(70)
    )
    m1 = t._read_manifest(1)
    assert "segments" in m1
    seg_files = sum(s["n_files"] for s in m1["segments"])
    # add a small-file tail with keys outside every big file's range
    t.merge_into(
        spark.range(900000, 900005).selectExpr("id AS k", "id AS v").coalesce(1),
        ["k"],
    )
    t.merge_into(
        spark.range(900100, 900105).selectExpr("id AS k", "id AS v").coalesce(1),
        ["k"],
    )
    v = t.compact(spark, small_file_bytes=10_000)
    info = t.last_compact_info
    assert info["segments_reused"] >= 1
    assert info["carried"] >= seg_files
    assert info["rewritten"] >= 2
    assert t.read(spark, v).count() == 700000 + 10


def test_bin_packed_compact_where_scopes_the_rewrite(spark, tmp_path):
    """compact(small_file_bytes=..., where=...) packs only small files
    whose stats may match the predicates — OPTIMIZE WHERE: the hot
    partition packs, cold history's small files stay untouched."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(spark.range(0, 10).selectExpr("id AS k", "id AS v").coalesce(1))
    # cold small files (k < 1000) and hot small files (k >= 10000)
    for lo in (100, 200, 10000, 10100, 10200):
        t.merge_into(
            spark.range(lo, lo + 5).selectExpr("id AS k", "id AS v").coalesce(1),
            ["k"],
        )
    before = set(t._manifest_files(t._read_manifest(t.latest_version())))
    n = t.read(spark).count()
    v = t.compact(spark, small_file_bytes=1 << 20, where=[("k", ">=", 10000)])
    after = set(t._manifest_files(t._read_manifest(v)))
    info = t.last_compact_info
    assert info["rewritten"] == 3            # exactly the hot small files
    cold = {f for f in before if f in after}
    assert len(cold) == len(before) - 3      # cold files carried verbatim
    assert t.read(spark, v).count() == n
    with pytest.raises(ValueError, match="requires small_file_bytes"):
        t.compact(spark, where=[("k", ">=", 0)])


def test_reserved_column_name_refused_at_write(spark, tmp_path):
    """A real column named __bytes__ would have its stats clobbered by
    the file-size pseudo-column and could then prune wrongly — every
    write chokepoint refuses it."""
    t = TxTable(str(tmp_path / "tbl"))
    bad = spark.range(0, 5).selectExpr("id AS k", "id AS `__bytes__`")
    with pytest.raises(ValueError, match="reserved"):
        t.init(bad)
    t.init(spark.range(0, 5).selectExpr("id AS k", "id AS v"))
    with pytest.raises(ValueError, match="reserved"):
        t.merge_into(bad, ["k"])


def test_bin_pack_converges_when_threshold_exceeds_target(spark, tmp_path):
    """small_file_bytes >= target_bytes: packed outputs stay under the
    threshold, so the convergence guard (packing must strictly reduce
    the file count) must stop the rewrite-forever churn."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(spark.range(0, 10).selectExpr("id AS k", "id AS v").coalesce(1))
    for lo in (1000, 2000, 3000, 4000):
        t.merge_into(
            spark.range(lo, lo + 5).selectExpr("id AS k", "id AS v").coalesce(1),
            ["k"],
        )
    # tiny target forces multiple outputs, all under the huge threshold;
    # every pass must strictly reduce the file count (monotone
    # convergence), reaching a version-free no-op within a few passes
    prev_files = None
    for _ in range(5):
        v = t.compact(spark, small_file_bytes=1 << 30, target_bytes=2048)
        info = t.last_compact_info
        nf = t._manifest_n_files(t._read_manifest(v))
        if info["noop"]:
            break
        assert prev_files is None or nf < prev_files
        prev_files = nf
    assert info["noop"] is True
    v2 = t.compact(spark, small_file_bytes=1 << 30, target_bytes=2048)
    assert v2 == v and t.last_compact_info["noop"] is True
    assert t.read(spark).count() == 30


# -------------------------------------------------- merge-on-read deletes


def _mor_table(spark, tmp_path, name="mor"):
    t = TxTable(str(tmp_path / name))
    # two files with disjoint key ranges
    t.init(spark.range(0, 100).selectExpr("id AS k", "id AS v").coalesce(1))
    t.merge_into(
        spark.range(1000, 1100).selectExpr("id AS k", "id AS v").coalesce(1),
        ["k"],
    )
    return t


def test_mor_delete_rewrites_nothing_and_filters_reads(spark, tmp_path):
    t = _mor_table(spark, tmp_path)
    before = set(t._manifest_files(t._read_manifest(t.latest_version())))
    v = t.delete_where(spark, [("k", "<", 10)], mode="mor")
    assert t.last_delete_info == {"mode": "mor", "touched": 1, "rewritten": 0}
    m = t._read_manifest(v)
    assert set(t._manifest_files(m)) == before          # zero rewrite
    assert len(m["tombstones"]) == 1
    assert t.read(spark).count() == 190
    assert t.read(spark).agg(F.min("k")).first()[0] == 10
    # stats-pruned read path applies the tombstone too
    assert t.read(spark, where=[("k", "<", 20)]).count() == 10
    # time travel: the pre-delete snapshot still shows everything
    assert t.read(spark, version=v - 1).count() == 200


def test_mor_scoping_reinserted_rows_survive(spark, tmp_path):
    """A tombstone covers only the files live at delete time: a row
    re-inserted afterwards with a MATCHING key must survive (the same
    scoping Iceberg delete files have)."""
    t = _mor_table(spark, tmp_path)
    t.delete_where(spark, [("k", "<", 10)], mode="mor")
    t.merge_into(
        spark.range(3, 5).selectExpr("id AS k", "id + 7777 AS v").coalesce(1),
        ["k"],
    )
    got = {r.k: r.v for r in t.read(spark).filter(F.col("k") < 10).collect()}
    assert got == {3: 7780, 4: 7781}


def test_mor_merge_rewriting_covered_file_does_not_resurrect(spark, tmp_path):
    """MERGE reads touched files THROUGH the tombstones, so rewriting a
    covered file physically drops the deleted rows and prunes the file
    out of the tombstone list."""
    t = _mor_table(spark, tmp_path)
    t.delete_where(spark, [("k", "<", 10)], mode="mor")
    # update a key in the SAME file the tombstone covers (k in [0,100))
    t.merge_into(
        spark.range(50, 51).selectExpr("id AS k", "id + 9000 AS v").coalesce(1),
        ["k"],
    )
    m = t._read_manifest(t.latest_version())
    assert not m.get("tombstones")           # pruned to empty -> dropped
    df = t.read(spark)
    assert df.count() == 190                 # update replaces, adds nothing
    assert df.filter(F.col("k") < 10).count() == 0   # still deleted
    assert df.filter(F.col("k") == 50).first().v == 9050


def test_mor_then_cow_delete_applies_tombstones(spark, tmp_path):
    t = _mor_table(spark, tmp_path)
    t.delete_where(spark, [("k", "<", 10)], mode="mor")
    v = t.delete_where(spark, [("k", "<", 20)])      # COW over the same file
    m = t._read_manifest(v)
    assert not m.get("tombstones")           # rewrite materialized + pruned
    assert t.read(spark).count() == 180
    assert t.read(spark).agg(F.min("k")).first()[0] == 20


def test_mor_compact_materializes(spark, tmp_path):
    t = _mor_table(spark, tmp_path)
    t.delete_where(spark, [("k", "<", 10)], mode="mor")
    t.delete_where(spark, [("k", ">=", 1090)], mode="mor")  # second file
    v = t.compact(spark, target_files=2)
    m = t._read_manifest(v)
    assert not m.get("tombstones")
    assert t.read(spark, v).count() == 180
    lo, hi = t.read(spark, v).agg(F.min("k"), F.max("k")).first()
    assert (lo, hi) == (10, 1089)


def test_mor_bin_pack_materializes_covered_small_files(spark, tmp_path):
    t = _mor_table(spark, tmp_path)
    t.delete_where(spark, [("k", "<", 10)], mode="mor")
    v = t.compact(spark, small_file_bytes=1 << 30, target_bytes=1 << 20)
    m = t._read_manifest(v)
    assert not m.get("tombstones")           # every covered file repacked
    assert t.read(spark, v).count() == 190
    assert t.read(spark, v).agg(F.min("k")).first()[0] == 10


def test_mor_change_feed_images_exact_and_not_rereported(spark, tmp_path):
    t = _mor_table(spark, tmp_path)
    v1 = t.delete_where(spark, [("k", "<", 10)], mode="mor", change_feed=True)
    ch1 = t.changes_for_version(v1)
    img1 = spark.read.schema(ch1[0]["schema_ddl"]).parquet(*ch1[0]["files"])
    assert ch1[0]["type"] == "delete"
    assert sorted(r.k for r in img1.collect()) == list(range(10))
    # a wider second MoR delete must NOT re-report the first 10 rows
    v2 = t.delete_where(spark, [("k", "<", 30)], mode="mor", change_feed=True)
    ch2 = t.changes_for_version(v2)
    img2 = spark.read.schema(ch2[0]["schema_ddl"]).parquet(*ch2[0]["files"])
    assert sorted(r.k for r in img2.collect()) == list(range(10, 30))
    assert t.read(spark).count() == 170


def test_mor_full_scan_keeps_dir_grouped_planning(spark, tmp_path):
    """A tombstone over a few files must not demote the whole full-scan
    plan to per-file enumeration: uncovered fully-live dirs still pass
    as single directory paths; only covered files plan per-file."""
    t = _mor_table(spark, tmp_path)
    v = t.delete_where(spark, [("k", "<", 10)], mode="mor")
    m = t._read_manifest(v)
    covered = set(m["tombstones"][0]["files"])
    clean = t._plan_scan_paths(m, exclude=covered)
    # the second commit's dir (k in [1000,1100), one file, untombstoned)
    # must appear as a DIRECTORY path, not a file path
    assert any(not p.endswith(".parquet") for p in clean)
    assert not (set(clean) & covered)
    assert t.read(spark, v).count() == 190  # plan change, same answer


def test_mor_bin_pack_guard_overridden_by_tombstone(spark, tmp_path):
    """A single covered small file would normally hit the can't-reduce
    no-op guard; the tombstone overrides it so bin-pack-only
    maintenance still materializes deletes."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(spark.range(0, 100).selectExpr("id AS k", "id AS v").coalesce(1))
    t.delete_where(spark, [("k", "<", 10)], mode="mor")
    v = t.compact(spark, small_file_bytes=1 << 30, target_bytes=1 << 30)
    m = t._read_manifest(v)
    assert not m.get("tombstones")
    assert t.last_compact_info["rewritten"] == 1
    assert t.read(spark, v).count() == 90
    # and now it converges: nothing covered, one file, no-op
    v2 = t.compact(spark, small_file_bytes=1 << 30, target_bytes=1 << 30)
    assert v2 == v and t.last_compact_info["noop"] is True


def test_incremental_join_sink_tracks_source_join(spark, tmp_path):
    """Incremental view maintenance for a JOIN: the change-feed stream
    maintains derived = L ⋈ R across init, a value update, a JOIN-KEY
    move (partners must switch), an insert, and a delete — matching a
    fresh snapshot join after every drain; the delete leg rides a
    merge-on-read key-list tombstone. Idempotent on an empty
    re-drain."""
    from filesystemagent_spark.streaming.sinks import start_incremental_join_sink

    def rows(data):
        return spark.createDataFrame(data, "pk bigint, jk string, v bigint")

    right = spark.createDataFrame(
        [("a", 100), ("b", 200), ("c", 300)], "jk string, dim bigint"
    )
    src_path, drv_path = str(tmp_path / "src"), str(tmp_path / "derived")
    ckpt = str(tmp_path / "ckpt")
    src = TxTable(src_path)
    src.init(rows([(1, "a", 10), (2, "b", 20), (3, "c", 30)]))        # v1

    def drain():
        start_incremental_join_sink(
            spark, src_path, right, drv_path, ckpt,
            on="jk", left_pk="pk", right_pk="jk",
        ).awaitTermination()

    def derived():
        return sorted(
            (r.pk, r.jk, r.v, r.dim)
            for r in TxTable(drv_path).read(spark).collect()
        )

    def truth():
        return sorted(
            (r.pk, r.jk, r.v, r.dim)
            for r in src.read(spark).join(right, "jk").collect()
        )

    drain()
    assert derived() == truth() == [
        (1, "a", 10, 100), (2, "b", 20, 200), (3, "c", 30, 300)
    ]
    # value update (1), join-key move (2: b->c), insert (4), delete (3)
    src.merge_into(rows([(1, "a", 11), (2, "c", 20), (4, "a", 40)]),
                   ["pk"], change_feed=True)                          # v2
    src.delete_where(spark, [("pk", "=", 3)], change_feed=True)       # v3
    drain()
    assert derived() == truth() == [
        (1, "a", 11, 100), (2, "c", 20, 300), (4, "a", 40, 100)
    ]
    # the delete leg used MoR: derived history holds a tombstone commit
    apps = [
        TxTable(drv_path)._read_manifest(v).get("app", {})
        for v in range(1, TxTable(drv_path).latest_version() + 1)
    ]
    assert any(a.get("mor") for a in apps)
    drain()  # empty re-drain: no new derived version
    head = TxTable(drv_path).latest_version()
    drain()
    assert TxTable(drv_path).latest_version() == head


def test_incremental_join_sink_single_drain_spanning_versions(spark, tmp_path):
    """One drain over ALL versions (the feed source batches several
    commits together): only each key's LATEST image may apply — an
    init-version insert for a since-updated/deleted key is superseded.
    Regression: the first cut merged every post-image and produced
    duplicate (old+new) rows and resurrected deletes."""
    from filesystemagent_spark.streaming.sinks import start_incremental_join_sink

    def rows(data):
        return spark.createDataFrame(data, "pk bigint, jk string, v bigint")

    right = spark.createDataFrame(
        [("a", 100), ("b", 200), ("c", 300)], "jk string, dim bigint"
    )
    src_path, drv_path = str(tmp_path / "src"), str(tmp_path / "derived")
    src = TxTable(src_path)
    src.init(rows([(1, "a", 10), (2, "b", 20), (3, "c", 30)]))        # v1
    src.merge_into(rows([(1, "a", 11), (2, "c", 20), (4, "a", 40)]),
                   ["pk"], change_feed=True)                          # v2
    src.delete_where(spark, [("pk", "=", 3)], change_feed=True)       # v3
    start_incremental_join_sink(
        spark, src_path, right, drv_path, str(tmp_path / "ckpt"),
        on="jk", left_pk="pk", right_pk="jk",
    ).awaitTermination()
    got = sorted(
        (r.pk, r.jk, r.v, r.dim)
        for r in TxTable(drv_path).read(spark).collect()
    )
    want = sorted(
        (r.pk, r.jk, r.v, r.dim)
        for r in src.read(spark).join(right, "jk").collect()
    )
    assert got == want == [
        (1, "a", 11, 100), (2, "c", 20, 300), (4, "a", 40, 100)
    ]


def test_in_predicate_read_delete_and_pruning(spark, tmp_path):
    """The `in` op works across the predicate grammar: stats-pruned
    reads (only files whose range covers a value scan), MoR key-list
    tombstones (JSON round-trip incl. tuples), COW deletes with SQL
    null semantics (null comparison keeps the row), empty list matches
    nothing."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(spark.range(0, 100).selectExpr("id AS k", "id AS v").repartition(4))
    assert t.read(spark, where=[("k", "in", [3, 7, 99])]).count() == 3
    assert t.read(spark, where=[("k", "in", [])]).count() == 0
    df = t.read(spark, where=[("k", "in", [1])])
    assert df.count() == 1 and len(df.inputFiles()) < 4  # file skipping
    t.delete_where(spark, [("k", "in", (3, 7, 99))], mode="mor")  # tuple ok
    assert t.read(spark).count() == 97
    assert t.read(spark, where=[("k", "in", (7, 8))]).count() == 1
    t2 = TxTable(str(tmp_path / "t2"))
    t2.init(
        spark.sql(
            "SELECT id AS k, CASE WHEN id = 5 THEN NULL ELSE id END AS v "
            "FROM range(10)"
        ).coalesce(1)
    )
    t2.delete_where(spark, [("v", "in", [5, 6])])
    assert t2.read(spark).count() == 9  # null-v row kept, v=6 deleted


def test_incremental_join_sink_delete_only_batch_stamps(spark, tmp_path):
    """A batch whose post-images are empty (pure deletes) must still
    stamp its batch_id — on the DELETE commit itself — so replays skip
    instead of appending a redundant tombstone version per restart."""
    from filesystemagent_spark.streaming.sinks import start_incremental_join_sink

    def rows(data):
        return spark.createDataFrame(data, "pk bigint, jk string, v bigint")

    right = spark.createDataFrame([("a", 100)], "jk string, dim bigint")
    src_path, drv_path = str(tmp_path / "src"), str(tmp_path / "derived")
    src = TxTable(src_path)
    src.init(rows([(1, "a", 10), (2, "a", 20)]))                      # v1

    def drain():
        start_incremental_join_sink(
            spark, src_path, right, drv_path, str(tmp_path / "ckpt"),
            on="jk", left_pk="pk", right_pk="jk",
        ).awaitTermination()

    drain()
    src.delete_where(spark, [("pk", "=", 2)], change_feed=True)       # v2
    drain()
    d = TxTable(drv_path)
    assert sorted(r.pk for r in d.read(spark).collect()) == [1]
    # the delete commit itself carries the stamp
    assert d.latest_app_value("batch_id") is not None
    head = d.latest_version()
    drain()  # replay-equivalent empty drain: no new version
    assert d.latest_version() == head

# -- delete_keys: file-backed key-list tombstones (Iceberg
# equality-delete-file shape) --------------------------------------


def test_delete_keys_mor_rewrites_nothing_and_filters_reads(spark, tmp_path):
    t = _mor_table(spark, tmp_path)
    before = set(t._manifest_files(t._read_manifest(t.latest_version())))
    keys = spark.range(0, 10).selectExpr("id AS k")
    v = t.delete_keys(keys, ["k"], mode="mor")
    assert t.last_delete_info == {"mode": "mor", "touched": 1, "rewritten": 0}
    m = t._read_manifest(v)
    assert set(t._manifest_files(m)) == before          # zero rewrite
    tb = m["tombstones"][0]
    assert tb["key_cols"] == ["k"] and tb["keyfiles"]   # file-backed
    assert "where" not in tb
    assert t.read(spark).count() == 190
    assert t.read(spark).agg(F.min("k")).first()[0] == 10
    # stats-pruned read path applies the key tombstone too
    assert t.read(spark, where=[("k", "<", 20)]).count() == 10
    # stats pruning: only the overlapping file is covered
    assert tb["files"] and len(tb["files"]) == 1
    # time travel: pre-delete snapshot intact
    assert t.read(spark, version=v - 1).count() == 200


def test_delete_keys_cow_and_change_feed(spark, tmp_path):
    t = _mor_table(spark, tmp_path)
    keys = spark.range(5, 15).selectExpr("id AS k")
    v = t.delete_keys(keys, ["k"], mode="cow", change_feed=True)
    m = t._read_manifest(v)
    assert not m.get("tombstones")
    assert t.last_delete_info["mode"] == "cow"
    assert t.read(spark).count() == 190
    assert t.read(spark).filter((F.col("k") >= 5) & (F.col("k") < 15)).count() == 0
    ch = t.changes_for_version(v)
    img = spark.read.schema(ch[0]["schema_ddl"]).parquet(*ch[0]["files"])
    assert ch[0]["type"] == "delete"
    assert sorted(r.k for r in img.collect()) == list(range(5, 15))
    # staged feed files keep the table's column ORDER (consumers read
    # them positionally under schema_ddl)
    assert img.columns == t.read(spark).columns


def test_delete_keys_null_keys_match_nothing(spark, tmp_path):
    """SQL IN semantics: a null key in the delete set matches no row,
    and a null-keyed ROW is never deleted by any key."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(
        spark.sql(
            "SELECT CASE WHEN id = 5 THEN NULL ELSE id END AS k, id AS v "
            "FROM range(10)"
        ).coalesce(1)
    )
    keys = spark.sql("SELECT CAST(NULL AS bigint) AS k UNION ALL SELECT 7")
    t.delete_keys(keys, ["k"], mode="mor")
    got = sorted(r.v for r in t.read(spark).collect())
    assert got == [0, 1, 2, 3, 4, 5, 6, 8, 9]  # only k=7 deleted


def test_delete_keys_empty_and_noop_stamp(spark, tmp_path):
    t = _mor_table(spark, tmp_path)
    head = t.latest_version()
    empty = spark.range(0).selectExpr("id AS k")
    assert t.delete_keys(empty, ["k"]) == head           # no-op, no commit
    # disjoint key set: stats prove nothing matches -> no-op
    miss = spark.range(5000, 5010).selectExpr("id AS k")
    assert t.delete_keys(miss, ["k"]) == head
    # ...but with app the commit is RECORDED (exactly-once stamp)
    v = t.delete_keys(miss, ["k"], app={"batch_id": 42})
    assert v == head + 1
    assert t.latest_app_value("batch_id") == 42
    assert t.read(spark).count() == 200                  # content unchanged
    # app-only commits are change-feed transparent (like compaction)
    assert t.changes_for_version(v) is None


def test_delete_keys_merge_and_compact_materialize(spark, tmp_path):
    t = _mor_table(spark, tmp_path)
    t.delete_keys(spark.range(0, 10).selectExpr("id AS k"), ["k"])
    # merge rewriting the covered file drops the rows physically and
    # prunes the tombstone (no resurrect)
    t.merge_into(
        spark.range(50, 51).selectExpr("id AS k", "id + 9000 AS v").coalesce(1),
        ["k"],
    )
    m = t._read_manifest(t.latest_version())
    assert not m.get("tombstones")
    df = t.read(spark)
    assert df.count() == 190
    assert df.filter(F.col("k") < 10).count() == 0
    # compact materializes a still-live key tombstone
    t2 = _mor_table(spark, tmp_path, name="mor2")
    t2.delete_keys(spark.range(0, 10).selectExpr("id AS k"), ["k"])
    v = t2.compact(spark, target_files=2)
    assert not t2._read_manifest(v).get("tombstones")
    assert t2.read(spark, v).count() == 190


def test_delete_keys_vacuum_keeps_side_files(spark, tmp_path):
    """The key side files are referenced only by the tombstone — vacuum
    must keep them while any manifest carries it, and reclaim them once
    every referencing version expires."""
    import os

    t = _mor_table(spark, tmp_path)
    v = t.delete_keys(spark.range(0, 10).selectExpr("id AS k"), ["k"])
    kf = t._read_manifest(v)["tombstones"][0]["keyfiles"]
    t.vacuum(grace_seconds=0)
    assert all(os.path.exists(f) for f in kf)
    assert t.read(spark).count() == 190                 # still applied
    # materialize + expire every version that referenced the tombstone
    t.compact(spark, target_files=1)
    t.expire_versions(keep_last=1)
    t.vacuum(grace_seconds=0)
    assert not any(os.path.exists(f) for f in kf)       # reclaimed
    assert t.read(spark).count() == 190


def test_delete_keys_million_keys_bounded_driver_and_manifest(spark, tmp_path):
    """The scale contract: one commit deleting 10^6 keys keeps the keys
    on the executors (parquet side file) and the manifest SMALL — the
    backfill case the old driver-collected `in`-list tombstone could
    not survive."""
    import os

    t = TxTable(str(tmp_path / "big"))
    t.init(
        spark.range(0, 2_000_000).selectExpr("id AS k", "id AS v")
        .repartition(4)
    )
    keys = spark.range(0, 1_000_000).selectExpr("id AS k")
    v = t.delete_keys(keys, ["k"], mode="mor")
    mpath = t._manifest_path(v)
    assert os.path.getsize(mpath) < 64 << 10     # manifest stays small
    m = t._read_manifest(v)
    tb = m["tombstones"][0]
    assert tb["keyfiles"]                         # keys live in parquet
    assert t.last_delete_info["rewritten"] == 0   # no data rewrite
    assert t.read(spark).count() == 1_000_000
    assert t.read(spark).agg(F.min("k")).first()[0] == 1_000_000


def test_commit_app_preserves_content_and_stamps(spark, tmp_path):
    t = _mor_table(spark, tmp_path)
    t.delete_where(spark, [("k", "<", 10)], mode="mor")
    head = t.latest_version()
    v = t.commit_app({"batch_id": 7})
    assert v == head + 1
    assert t.latest_app_value("batch_id") == 7
    # identical content: files, tombstones, counts all carried
    assert t.read(spark).count() == 190
    m_old, m_new = t._read_manifest(head), t._read_manifest(v)
    assert set(t._manifest_files(m_new)) == set(t._manifest_files(m_old))
    assert m_new.get("tombstones") == m_old.get("tombstones")
    assert t.changes_for_version(v) is None       # feed-transparent

# -- bidirectional join-view maintenance ---------------------------


def test_bidirectional_join_sinks_interleaved_dml(spark, tmp_path):
    """L ⋈ R under interleaved DML on BOTH sides: after each pair of
    drains the derived view equals the one-shot join of the two final
    snapshots — value updates, join-key moves, inserts and deletes on
    either side all converge; per-feed stamps keep re-drains no-ops."""
    from filesystemagent_spark.streaming.sinks import (
        start_bidirectional_join_sinks,
    )

    def lrows(data):
        return spark.createDataFrame(data, "pk bigint, jk string, v bigint")

    def rrows(data):
        return spark.createDataFrame(data, "jk string, dim bigint")

    lp, rp = str(tmp_path / "L"), str(tmp_path / "R")
    dp = str(tmp_path / "derived")
    ckl, ckr = str(tmp_path / "ckl"), str(tmp_path / "ckr")
    L, R = TxTable(lp), TxTable(rp)
    L.init(lrows([(1, "a", 10), (2, "b", 20), (3, "c", 30)]))
    R.init(rrows([("a", 100), ("b", 200), ("c", 300)]))

    def drain():
        ql, qr = start_bidirectional_join_sinks(
            spark, lp, rp, dp, ckl, ckr,
            on="jk", left_pk="pk", right_pk="jk",
        )
        ql.awaitTermination()
        qr.awaitTermination()

    def derived():
        return sorted(
            (r.pk, r.jk, r.v, r.dim)
            for r in TxTable(dp).read(spark).collect()
        )

    def truth():
        return sorted(
            (r.pk, r.jk, r.v, r.dim)
            for r in L.read(spark).join(R.read(spark), "jk").collect()
        )

    drain()
    assert derived() == truth()

    # L-side DML: update, join-key move, insert, delete
    L.merge_into(lrows([(1, "a", 11), (2, "c", 20), (4, "a", 40)]),
                 ["pk"], change_feed=True)
    L.delete_where(spark, [("pk", "=", 3)], change_feed=True)
    drain()
    assert derived() == truth()

    # R-side DML: dim update (fans out to every matching L row) and a
    # dimension delete (kills the whole slice)
    R.merge_into(rrows([("a", 101)]), ["jk"], change_feed=True)
    R.delete_where(spark, [("jk", "=", "c")], change_feed=True)
    drain()
    assert derived() == truth() == [(1, "a", 11, 101), (4, "a", 40, 101)]

    # BOTH sides in one drain window
    L.merge_into(lrows([(5, "b", 50)]), ["pk"], change_feed=True)
    R.merge_into(rrows([("b", 201)]), ["jk"], change_feed=True)
    drain()
    assert derived() == truth()
    assert (5, "b", 50, 201) in derived()

    # per-feed stamps: an empty re-drain publishes nothing
    head = TxTable(dp).latest_version()
    drain()
    assert TxTable(dp).latest_version() == head
    apps = [
        TxTable(dp)._read_manifest(v).get("app", {})
        for v in range(1, head + 1)
    ]
    assert any("batch_id_l" in a for a in apps)
    assert any("batch_id_r" in a for a in apps)


def test_bidirectional_join_sinks_concurrent_drain(spark, tmp_path):
    """Both legs drain CONCURRENTLY over a window where both sides
    changed (including the same key pair): the CAS serializes their
    commits, the (left_pk, right_pk) merge makes double writes
    idempotent, and the result equals the one-shot join."""
    from filesystemagent_spark.streaming.sinks import (
        start_bidirectional_join_sinks,
    )

    def lrows(data):
        return spark.createDataFrame(data, "pk bigint, jk string, v bigint")

    def rrows(data):
        return spark.createDataFrame(data, "jk string, dim bigint")

    lp, rp = str(tmp_path / "L"), str(tmp_path / "R")
    dp = str(tmp_path / "derived")
    ckl, ckr = str(tmp_path / "ckl"), str(tmp_path / "ckr")
    L, R = TxTable(lp), TxTable(rp)
    L.init(lrows([(i, chr(97 + i % 3), 10 * i) for i in range(1, 7)]))
    R.init(rrows([("a", 100), ("b", 200), ("c", 300)]))
    # touch BOTH sides of the same pair (pk=1 / jk='a') plus disjoint keys
    L.merge_into(lrows([(1, "a", 11), (7, "b", 70)]), ["pk"],
                 change_feed=True)
    R.merge_into(rrows([("a", 101), ("c", 301)]), ["jk"], change_feed=True)
    L.delete_where(spark, [("pk", "=", 6)], change_feed=True)

    ql, qr = start_bidirectional_join_sinks(
        spark, lp, rp, dp, ckl, ckr, on="jk", left_pk="pk", right_pk="jk",
    )
    ql.awaitTermination()   # started together -> batches interleave
    qr.awaitTermination()

    got = sorted(
        (r.pk, r.jk, r.v, r.dim) for r in TxTable(dp).read(spark).collect()
    )
    want = sorted(
        (r.pk, r.jk, r.v, r.dim)
        for r in L.read(spark).join(R.read(spark), "jk").collect()
    )
    assert got == want
    assert (1, "a", 11, 101) in got        # the doubly-touched pair
    assert all(pk != 6 for pk, *_ in got)  # the delete never resurrects


def test_bidirectional_join_crash_between_legs_replays_once(
    spark, tmp_path, monkeypatch
):
    """Round-9 worst-point crash audit (the BM25 sink's crash-replay
    pattern applied to the bidirectional join's two-phase shape): both
    sides mutate in one drain window, the L leg fully applies its batch
    (tombstone + merge + batch_id_l stamp), and the R leg crashes AFTER
    its key tombstone lands but BEFORE its merge stamps batch_id_r —
    the exact between-commits point. Restart must (a) leave the L leg
    alone (no double-apply: batch_id_l never advances again), (b)
    replay the R batch exactly once (the re-delete is a
    redundant-but-harmless tombstone, then the merge lands and stamps),
    (c) converge the derived view to the one-shot join of the two final
    snapshots with one row per (pk, jk), and (d) a disaster-recovery
    re-drain from FRESH checkpoints (batch ids restart at 0) must
    publish NOTHING — the per-feed stamps alone carry exactly-once when
    the checkpoints are gone."""
    from filesystemagent_spark.streaming.sinks import (
        start_bidirectional_join_sinks,
    )

    def lrows(data):
        return spark.createDataFrame(data, "pk bigint, jk string, v bigint")

    def rrows(data):
        return spark.createDataFrame(data, "jk string, dim bigint")

    lp, rp = str(tmp_path / "L"), str(tmp_path / "R")
    dp = str(tmp_path / "derived")
    ckl, ckr = str(tmp_path / "ckl"), str(tmp_path / "ckr")
    L, R = TxTable(lp), TxTable(rp)
    L.init(lrows([(1, "a", 10), (2, "b", 20), (3, "c", 30)]))
    R.init(rrows([("a", 100), ("b", 200), ("c", 300)]))

    def drain(ck_l=ckl, ck_r=ckr):
        ql, qr = start_bidirectional_join_sinks(
            spark, lp, rp, dp, ck_l, ck_r,
            on="jk", left_pk="pk", right_pk="jk",
        )
        ql.awaitTermination()
        qr.awaitTermination()

    def truth():
        return sorted(
            (r.pk, r.jk, r.v, r.dim)
            for r in L.read(spark).join(R.read(spark), "jk").collect()
        )

    drain()  # clean initial materialization, both stamps at batch 0
    d = TxTable(dp)
    al0, ar0 = d.latest_app_value("batch_id_l"), d.latest_app_value("batch_id_r")

    # both sides mutate, including the same pair (pk=1 / jk='a')
    L.merge_into(lrows([(1, "a", 11), (7, "b", 70)]), ["pk"],
                 change_feed=True)
    R.merge_into(rrows([("a", 101), ("c", 301)]), ["jk"], change_feed=True)

    orig = TxTable.merge_into
    boom = {"armed": True}

    def failing(self, *a, **kw):
        app = kw.get("app") or {}
        if boom["armed"] and "batch_id_r" in app:
            boom["armed"] = False
            raise RuntimeError("injected crash before the R leg's stamp")
        return orig(self, *a, **kw)

    monkeypatch.setattr(TxTable, "merge_into", failing)
    ql, qr = start_bidirectional_join_sinks(
        spark, lp, rp, dp, ckl, ckr, on="jk", left_pk="pk", right_pk="jk",
    )
    ql.awaitTermination()  # the L leg commits its batch in full
    with pytest.raises(Exception, match="injected crash"):
        qr.awaitTermination()
    al1 = d.latest_app_value("batch_id_l")
    assert al1 > al0                               # first leg committed...
    assert d.latest_app_value("batch_id_r") == ar0  # ...second never stamped

    drain()  # restart: only the R batch replays
    assert d.latest_app_value("batch_id_l") == al1  # no L double-apply
    assert d.latest_app_value("batch_id_r") > ar0   # R applied exactly once
    rows = [(r.pk, r.jk, r.v, r.dim) for r in d.read(spark).collect()]
    assert sorted(rows) == truth()                  # one-shot join
    assert (1, "a", 11, 101) in rows                # the doubly-touched pair
    assert len({(pk, jk) for pk, jk, *_ in rows}) == len(rows)  # no dups

    # checkpoints gone entirely: batch ids restart at 0, and the stamps
    # (already >= 0) must make the full-feed replay a pure no-op
    head = d.latest_version()
    drain(str(tmp_path / "ckl2"), str(tmp_path / "ckr2"))
    assert d.latest_version() == head
    assert sorted(
        (r.pk, r.jk, r.v, r.dim) for r in d.read(spark).collect()
    ) == truth()


def test_join_view_prunes_other_side_scan(spark, tmp_path, monkeypatch):
    """The 100 TB cost model for feed-driven join views: a micro-batch
    touching ONE key range of a CLUSTERED dimension must read ~1/N of
    its files, not the full snapshot — the leg derives the batch's
    join-key footprint from the post-images and stats-prunes the other
    side's read with it. Gated on the actual files scanned
    (df.inputFiles), plus result correctness."""
    from filesystemagent_spark.streaming.sinks import (
        start_bidirectional_join_sinks,
    )

    lp, rp = str(tmp_path / "L"), str(tmp_path / "R")
    dp = str(tmp_path / "derived")
    L, R = TxTable(lp), TxTable(rp)
    # dimension R: 800 keys clustered into 8 disjoint-range files
    R.init(
        spark.range(0, 800)
        .selectExpr("id AS jk", "id * 10 AS dim")
        .repartitionByRange(8, "jk")
    )
    n_dim_files = len(
        R._manifest_files(R._read_manifest(R.latest_version()))
    )
    assert n_dim_files == 8
    L.init(
        spark.range(0, 800).selectExpr("id AS pk", "id AS jk", "id AS v")
    )

    seen: list[tuple[object, int]] = []
    orig_read = TxTable.read

    def spy(self, spark_, version=None, where=None):
        df = orig_read(self, spark_, version, where)
        if self.path == rp:
            seen.append((where, len(df.inputFiles())))
        return df

    monkeypatch.setattr(TxTable, "read", spy)

    def drain():
        ql, qr = start_bidirectional_join_sinks(
            spark, lp, rp, dp,
            str(tmp_path / "ckl"), str(tmp_path / "ckr"),
            on="jk", left_pk="pk", right_pk="jk",
        )
        ql.awaitTermination()
        qr.awaitTermination()

    drain()  # init drain: footprint spans every range -> full read ok
    # batch touching ONE of the 8 key ranges (jk in [0, 10))
    L.merge_into(
        spark.range(0, 10).selectExpr("id AS pk", "id AS jk", "id + 1 AS v"),
        ["pk"], change_feed=True,
    )
    seen.clear()
    drain()
    pruned = [(w, n) for w, n in seen if w is not None]
    assert pruned, "the leg never passed a prune predicate to R's read"
    # every footprint-pruned R read this drain scanned ~1/8 of the
    # dimension (the touched range's file; <=2 tolerates a boundary)
    assert all(n <= 2 for _, n in pruned), pruned
    got = sorted(
        (r.pk, r.jk, r.v, r.dim) for r in TxTable(dp).read(spark).collect()
    )
    want = sorted(
        (r.pk, r.jk, r.v, r.dim)
        for r in L.read(spark).join(orig_read(R, spark), "jk").collect()
    )
    assert got == want and (5, 5, 6, 50) in got


def test_join_view_fold_thresholds_parameterized(spark, tmp_path):
    """The tombstone-fold policy is a sink parameter, not a constant: a
    delete-only batch leaves a depth-1 tombstone under the default
    thresholds (depth 1 <= 4, tiny coverage), while fold_depth=0 makes
    the same drain materialize it away — and fold_covered_frac alone
    triggers the fold too (a shallow tombstone covering most files
    costs like a deep one)."""
    from filesystemagent_spark.streaming.sinks import (
        start_incremental_join_sink,
    )

    right = spark.createDataFrame(
        [("a", 100), ("b", 200), ("c", 300)], "jk string, dim bigint"
    )

    def run(tag, **sink_kw):
        sp, dvp = str(tmp_path / f"src{tag}"), str(tmp_path / f"drv{tag}")
        src = TxTable(sp)
        src.init(spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
            "pk bigint, jk string, v bigint",
        ))
        start_incremental_join_sink(
            spark, sp, right, dvp, str(tmp_path / f"ck{tag}"),
            on="jk", left_pk="pk", right_pk="jk", **sink_kw,
        ).awaitTermination()
        src.delete_where(spark, [("pk", "=", 2)], change_feed=True)
        start_incremental_join_sink(
            spark, sp, right, dvp, str(tmp_path / f"ck{tag}"),
            on="jk", left_pk="pk", right_pk="jk", **sink_kw,
        ).awaitTermination()
        t = TxTable(dvp)
        assert sorted(r.pk for r in t.read(spark).collect()) == [1, 3]
        return t.tombstone_info()["depth"]

    assert run("default") >= 1            # kept: below both thresholds
    assert run("depth0", fold_depth=0) == 0
    assert run("frac0", fold_depth=10**6, fold_covered_frac=0.0) == 0


def test_maintenance_vs_dml_feed_consistency(spark, tmp_path):
    """Compaction + tombstone materialization running AGAINST
    concurrent merge/delete_keys writers (round-8 verdict item 6; the
    measured version is scripts/exp_contention.py::maintenance_vs_dml
    with results in SCALE.md). Invariants: no lost commits, the change
    feed stays gap-free across interleaved layout-only maintenance
    versions, and replaying the feed reconstructs the final snapshot
    exactly."""
    from filesystemagent_spark.sources.txtable import CommitConflict

    path = str(tmp_path / "tbl")
    TxTable(path).init(spark.range(0, 200).selectExpr("id AS k", "id AS v"))
    errs: list[Exception] = []
    merged: list[int] = []
    deleted: list[int] = []
    aborts = {"n": 0}
    maint = {"runs": 0, "conflicts": 0}
    lock = threading.Lock()
    stop = threading.Event()

    def writer(wid: int):
        t = TxTable(path)
        try:
            for i in range(2):
                base = 10_000 + wid * 1_000 + i * 100
                try:
                    t.merge_into(
                        spark.range(0, 20).selectExpr(f"id + {base} AS k",
                                                      "id AS v"),
                        ["k"], max_retries=100, change_feed=True,
                    )
                except CommitConflict:
                    with lock:
                        aborts["n"] += 1
                    continue
                with lock:
                    merged.append(base)
                try:
                    t.delete_keys(
                        spark.range(0, 10).selectExpr(f"id + {base} AS k"),
                        ["k"], max_retries=100, mode="mor",
                        change_feed=True,
                    )
                    with lock:
                        deleted.append(base)
                except CommitConflict:
                    with lock:
                        aborts["n"] += 1
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def maintainer():
        # paced, the deployment shape — a ZERO-pause loop can starve
        # DML outright (compaction rewrites every file, so merges
        # never rebase against it; measured in exp_contention.py)
        t = TxTable(path)
        while not stop.is_set():
            try:
                t.compact(spark, target_files=2, max_retries=20)
                t.materialize_tombstones(spark, max_retries=20)
                maint["runs"] += 1
            except CommitConflict:
                maint["conflicts"] += 1
            stop.wait(1.0)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(3)]
    mt = threading.Thread(target=maintainer)
    mt.start()
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    stop.set()
    mt.join()
    assert not errs, errs
    assert maint["runs"] >= 1        # maintenance really interleaved
    assert len(merged) >= 4          # DML makes progress under it

    t = TxTable(path)
    head = t.latest_version()
    final = {(r.k, r.v) for r in t.read(spark).collect()}
    # no lost commits: exactly the landed batches' keys survive
    assert len(final) == 200 + len(merged) * 20 - len(deleted) * 10

    # gap-free: table_changes resolves EVERY version (maintenance
    # commits are layout-only and feed-transparent; a non-CDF DML
    # version in between would raise here)
    feed = t.table_changes(spark, 1, to_version=head)
    pri = F.when(
        F.col("_change_type") == "update_preimage", F.lit(0)
    ).otherwise(F.lit(1))
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy(
        F.col("_commit_version").desc(), pri.desc()
    )
    replayed = {
        (r.k, r.v)
        for r in feed.withColumn("_rn", F.row_number().over(w))
        .filter(
            (F.col("_rn") == 1)
            & F.col("_change_type").isin("insert", "upsert")
        )
        .select("k", "v")
        .collect()
    }
    assert replayed == final  # feed replay converges to the snapshot

# -- tombstone read-amplification policy ----------------------------


def test_materialize_tombstones_rewrites_covered_only(spark, tmp_path):
    """The targeted maintenance action: ONLY covered files rewritten,
    uncovered files carried verbatim, all tombstones dropped, content
    identical — and the change feed treats it as layout-only."""
    t = _mor_table(spark, tmp_path)  # two files, disjoint ranges
    t.delete_where(spark, [("k", "<", 10)], mode="mor")
    t.delete_keys(spark.range(20, 25).selectExpr("id AS k"), ["k"])
    info = t.tombstone_info()
    assert info["depth"] == 2 and info["covered_files"] == 1
    assert 0 < info["covered_frac"] <= 0.5
    m_before = t._read_manifest(t.latest_version())
    uncovered = set(t._manifest_files(m_before)) - set(
        m_before["tombstones"][0]["files"]
    ) - set(m_before["tombstones"][1]["files"])
    v = t.materialize_tombstones(spark)
    m = t._read_manifest(v)
    assert not m.get("tombstones")
    assert uncovered <= set(t._manifest_files(m))   # carried verbatim
    assert t.tombstone_info() == {
        "depth": 0, "covered_files": 0, "covered_frac": 0.0,
    }
    assert t.read(spark).count() == 185
    assert t.read(spark).filter(
        (F.col("k") < 10) | ((F.col("k") >= 20) & (F.col("k") < 25))
    ).count() == 0
    assert t.changes_for_version(v) is None          # feed-transparent
    assert t.materialize_tombstones(spark) == v      # no-op converges


def test_cli_materialize_tombstones_policy(spark, tmp_path, capsys):
    """Maintenance CLI gates the rewrite on the measured thresholds:
    below max depth/coverage it refuses (read cost acceptable), above
    it materializes."""
    from filesystemagent_spark.__main__ import main

    tbl = str(tmp_path / "tbl")
    t = TxTable(tbl)
    t.init(spark.range(0, 100).selectExpr("id AS k", "id AS v").coalesce(1))
    t.delete_where(spark, [("k", "<", 5)], mode="mor")
    head = t.latest_version()
    # depth 1 <= default max 4, but covered_frac 100% > 0.5 -> rewrite
    assert main(["table", tbl, "--materialize-tombstones"]) == 0
    assert "materialized 1 tombstones" in capsys.readouterr().out
    assert t.latest_version() == head + 1
    # no tombstones left -> policy no-op
    t.delete_where(spark, [("k", "<", 7)], mode="mor")
    assert main([
        "table", tbl, "--materialize-tombstones",
        "--max-tombstone-depth", "4", "--max-covered-frac", "1.0",
    ]) == 0
    assert "no-op" in capsys.readouterr().out
    assert t.tombstone_info()["depth"] == 1          # left in place
    # depth threshold exceeded -> rewrite
    assert main([
        "table", tbl, "--materialize-tombstones",
        "--max-tombstone-depth", "0", "--max-covered-frac", "1.0",
    ]) == 0
    assert t.tombstone_info()["depth"] == 0
    assert t.read(spark).count() == 93

# -- update_where: the UPDATE ... SET ... WHERE DML verb -------------


def test_update_where_cow_with_stats_pruning(spark, tmp_path):
    t = _mor_table(spark, tmp_path)  # two files: k in [0,100), [1000,1100)
    before = set(t._manifest_files(t._read_manifest(t.latest_version())))
    v = t.update_where(
        spark, [("k", "<", 10)], {"v": "v * 10 + 1"},
    )
    assert t.last_update_info == {"mode": "cow", "touched": 1, "rewritten": 1}
    m = t._read_manifest(v)
    # only the overlapping file rewritten; the other carried verbatim
    assert len(set(t._manifest_files(m)) & before) >= 1
    got = {r.k: r.v for r in t.read(spark).filter(F.col("k") < 12).collect()}
    assert got == {**{i: i * 10 + 1 for i in range(10)}, 10: 10, 11: 11}
    assert t.read(spark).count() == 200                  # UPDATE adds nothing
    # time travel: pre-update snapshot intact
    assert t.read(spark, version=v - 1).filter(F.col("k") == 0).first().v == 0


def test_update_where_multi_assign_uses_old_values(spark, tmp_path):
    """Standard SQL UPDATE: every assignment sees the OLD row — a swap
    must not see its sibling's new value."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(spark.range(0, 10).selectExpr("id AS a", "id * 100 AS b").coalesce(1))
    t.update_where(spark, [("a", "<", 3)], {"a": "b", "b": "a"})
    got = {(r.a, r.b) for r in t.read(spark).collect()}
    swapped = {(0, 0), (100, 1), (200, 2)}
    untouched = {(i, i * 100) for i in range(3, 10)}
    assert got == swapped | untouched


def test_update_where_null_predicate_keeps_row_unchanged(spark, tmp_path):
    t = TxTable(str(tmp_path / "tbl"))
    t.init(
        spark.sql(
            "SELECT id AS k, CASE WHEN id = 5 THEN NULL ELSE id END AS v "
            "FROM range(10)"
        ).coalesce(1)
    )
    t.update_where(spark, [("v", ">=", 0)], {"v": "v + 1000"})
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got[5] is None                                # null pred -> unchanged
    assert all(got[i] == i + 1000 for i in range(10) if i != 5)


def test_update_where_change_feed_pre_and_post_images(spark, tmp_path):
    t = _mor_table(spark, tmp_path)
    v = t.update_where(
        spark, [("k", "<", 3)], {"v": "v + 7"}, change_feed=True,
    )
    parts = {p["type"]: p for p in t.changes_for_version(v)}
    pre = spark.read.schema(parts["update_preimage"]["schema_ddl"]).parquet(
        *parts["update_preimage"]["files"]
    )
    post = spark.read.schema(parts["upsert"]["schema_ddl"]).parquet(
        *parts["upsert"]["files"]
    )
    assert sorted((r.k, r.v) for r in pre.collect()) == [(0, 0), (1, 1), (2, 2)]
    assert sorted((r.k, r.v) for r in post.collect()) == [(0, 7), (1, 8), (2, 9)]
    # the feed drives the incremental-agg consumer unchanged: replay
    # via the batch reader matches the SQL delta
    assert t.table_changes(spark, v, v).count() == 6


def test_update_where_noop_stamp_and_validation(spark, tmp_path):
    t = _mor_table(spark, tmp_path)
    head = t.latest_version()
    assert t.update_where(spark, [("k", ">", 10_000)], {"v": "v"}) == head
    v = t.update_where(
        spark, [("k", ">", 10_000)], {"v": "v"}, app={"batch_id": 9}
    )
    assert v == head + 1 and t.latest_app_value("batch_id") == 9
    with pytest.raises(ValueError, match="unknown column"):
        t.update_where(spark, [("k", "<", 1)], {"nope": "k"})
    with pytest.raises(ValueError, match="at least one assignment"):
        t.update_where(spark, [("k", "<", 1)], {})
    # schema is stable: assignment casts back to the column type
    t.update_where(spark, [("k", "<", 1)], {"v": "CAST(1.9 AS DOUBLE)"})
    m = t._read_manifest(t.latest_version())
    assert "v bigint" in m["schema_ddl"]
    assert t.read(spark).filter(F.col("k") == 0).first().v == 1


def test_update_where_through_mor_tombstone_no_resurrect(spark, tmp_path):
    """Updating a file covered by a MoR tombstone must not resurrect
    the deleted rows (the rewrite reads THROUGH the tombstone) and
    prunes the file out of the tombstone list."""
    t = _mor_table(spark, tmp_path)
    t.delete_where(spark, [("k", "<", 10)], mode="mor")
    v = t.update_where(spark, [("k", "<", 50)], {"v": "v + 1"})
    m = t._read_manifest(v)
    assert not m.get("tombstones")                       # pruned to empty
    df = t.read(spark)
    assert df.count() == 190
    assert df.filter(F.col("k") < 10).count() == 0       # still deleted
    assert df.filter(F.col("k") == 20).first().v == 21

# -- round-7 DML verbs under the randomized lifecycle model ----------


def test_full_lifecycle_random_ops_with_round7_verbs(spark, tmp_path):
    """The lifecycle model test extended over the round-7 surface:
    UPDATE ... SET ... WHERE, key-set deletes (file-backed MoR
    tombstones), predicate MoR deletes, and tombstone materialization
    interleaved with merges/compaction — the snapshot must equal the
    dict model after EVERY commit, and the change feed alone must
    rebuild the final state (materialization is feed-transparent)."""
    import random

    rng = random.Random(7)

    def df(rows):
        return spark.createDataFrame(rows, "id bigint, v bigint")

    t = TxTable(str(tmp_path / "tbl"))
    model = {i: i * 10 for i in range(100)}
    t.init(df(sorted(model.items())).repartition(4))               # v1

    schedule = [
        "merge", "update", "delkeys", "mor", "merge",
        "materialize", "update", "delkeys", "compact", "mor",
    ]
    for step, op in enumerate(schedule):
        if op == "merge":
            keys = rng.sample(range(0, 160), rng.randint(1, 10))
            ups = [(k, step * 1000 + k) for k in sorted(keys)]
            t.merge_into(df(ups), ["id"], change_feed=True)
            model.update(dict(ups))
        elif op == "update":
            lo = rng.randint(0, 150)
            bump = (step + 1) * 10_000
            t.update_where(
                spark, [("id", ">=", lo), ("id", "<", lo + 15)],
                {"v": f"v + {bump}"}, change_feed=True,
            )
            model = {
                k: (x + bump if lo <= k < lo + 15 else x)
                for k, x in model.items()
            }
        elif op == "delkeys":
            keys = rng.sample(range(0, 160), rng.randint(1, 12))
            t.delete_keys(
                df([(k, 0) for k in sorted(keys)]).select("id"),
                ["id"], mode="mor", change_feed=True,
            )
            model = {k: x for k, x in model.items() if k not in set(keys)}
        elif op == "mor":
            lo = rng.randint(0, 150)
            t.delete_where(
                spark, [("id", ">=", lo), ("id", "<", lo + 20)],
                mode="mor", change_feed=True,
            )
            model = {k: x for k, x in model.items() if not (lo <= k < lo + 20)}
        elif op == "materialize":
            t.materialize_tombstones(spark)
        else:
            t.compact(spark, target_files=3)
        got = {r.id: r.v for r in t.read(spark).collect()}
        assert got == model, f"step {step} ({op})"

    # the feed alone rebuilds the final state across every verb
    rebuilt: dict = {}
    for r in sorted(
        t.table_changes(spark, 1).collect(), key=lambda r: r._commit_version
    ):
        if r._change_type == "delete":
            rebuilt.pop(r.id, None)
        elif r._change_type != "update_preimage":
            rebuilt[r.id] = r.v
    assert rebuilt == model


def test_incremental_agg_sink_tracks_update_where(spark, tmp_path):
    """The subtractive-state consumer handles an UPDATE commit with no
    special casing — update_where's preimage/upsert images are the
    merge shape, so new_agg = old + post − pre stays exact."""
    from filesystemagent_spark.streaming.sinks import (
        start_incremental_agg_sink,
    )

    src_path, drv_path = str(tmp_path / "src"), str(tmp_path / "derived")
    src = TxTable(src_path)
    src.init(
        spark.range(0, 90).selectExpr("id", "id % 3 AS grp", "id AS value")
    )

    def drain():
        start_incremental_agg_sink(
            spark, src_path, drv_path, str(tmp_path / "ckpt"),
            group_col="grp", value_col="value",
        ).awaitTermination()

    drain()
    src.update_where(
        spark, [("id", "<", 30)], {"value": "value + 1000"},
        change_feed=True,
    )
    src.delete_where(spark, [("id", ">=", 80)], change_feed=True)
    drain()
    got = {
        (r.grp, r.n_rows, r.total)
        for r in TxTable(drv_path).read(spark).collect()
    }
    want = {
        (r.grp, r.n_rows, r.total)
        for r in src.read(spark)
        .groupBy("grp")
        .agg(F.count("*").alias("n_rows"), F.sum("value").alias("total"))
        .collect()
    }
    assert got == want

def test_update_where_mor_appends_and_tombstones(spark, tmp_path):
    """MoR UPDATE: old versions of the matched rows die via a
    predicate tombstone (zero rewrite of the covered files) and the
    transformed post-images append as new files — which survive even
    when they STILL match the predicate (per-file scoping)."""
    t = _mor_table(spark, tmp_path)  # k in [0,100) and [1000,1100)
    before = set(t._manifest_files(t._read_manifest(t.latest_version())))
    v = t.update_where(
        spark, [("k", "<", 10)], {"v": "v + 1000"}, mode="mor",
    )
    assert t.last_update_info == {"mode": "mor", "touched": 1, "rewritten": 0}
    m = t._read_manifest(v)
    assert before <= set(t._manifest_files(m))      # nothing rewritten
    assert len(m["tombstones"]) == 1
    df = t.read(spark)
    assert df.count() == 200                        # UPDATE adds nothing
    got = {r.k: r.v for r in df.filter(F.col("k") < 12).collect()}
    assert got == {**{i: i + 1000 for i in range(10)}, 10: 10, 11: 11}
    # post rows still match k < 10 — a second MoR update hits THEM now
    t.update_where(spark, [("k", "<", 10)], {"v": "v + 1"}, mode="mor")
    got = {r.k: r.v for r in t.read(spark).filter(F.col("k") < 10).collect()}
    assert got == {i: i + 1001 for i in range(10)}
    # time travel across both updates
    assert t.read(spark, version=v - 1).filter(F.col("k") == 0).first().v == 0
    # materialization folds everything down
    t.materialize_tombstones(spark)
    assert not t._read_manifest(t.latest_version()).get("tombstones")
    assert t.read(spark).count() == 200
    assert t.read(spark).filter(F.col("k") == 0).first().v == 1001


def test_update_where_mor_change_feed_reuses_post_files(spark, tmp_path):
    """With the feed on, the staged upsert images double as the
    appended data files (identical content, written once), and the
    image set matches the COW variant's."""
    t = _mor_table(spark, tmp_path)
    v = t.update_where(
        spark, [("k", "<", 3)], {"v": "v + 7"}, mode="mor", change_feed=True,
    )
    m = t._read_manifest(v)
    parts = {p["type"]: p for p in t.changes_for_version(v)}
    assert set(parts["upsert"]["files"]) <= set(t._manifest_files(m))
    pre = spark.read.schema(parts["update_preimage"]["schema_ddl"]).parquet(
        *parts["update_preimage"]["files"]
    )
    post = spark.read.schema(parts["upsert"]["schema_ddl"]).parquet(
        *parts["upsert"]["files"]
    )
    assert sorted((r.k, r.v) for r in pre.collect()) == [(0, 0), (1, 1), (2, 2)]
    assert sorted((r.k, r.v) for r in post.collect()) == [(0, 7), (1, 8), (2, 9)]
    assert t.read(spark).count() == 200


def test_update_where_mor_on_top_of_delete_tombstone(spark, tmp_path):
    """UPDATE-MoR stacked on DELETE-MoR over the same file: deleted
    rows neither update nor resurrect; tombstone_info counts both."""
    t = _mor_table(spark, tmp_path)
    t.delete_where(spark, [("k", "<", 5)], mode="mor")
    t.update_where(spark, [("k", "<", 20)], {"v": "v + 100"}, mode="mor")
    assert t.tombstone_info()["depth"] == 2
    df = t.read(spark)
    assert df.count() == 195
    assert df.filter(F.col("k") < 5).count() == 0
    got = {r.k: r.v for r in df.filter(F.col("k") < 22).collect()}
    assert got == {**{i: i + 100 for i in range(5, 20)}, 20: 20, 21: 21}

def test_expire_versions_time_retention(spark, tmp_path):
    """older_than_seconds composes with keep_last: young versions stay
    time-travelable regardless of commit rate; old ones beyond
    keep_last expire."""
    import json
    import os

    t = TxTable(str(tmp_path / "tbl"))
    t.init(spark.range(0, 10).selectExpr("id AS k", "id AS v").coalesce(1))
    for i in range(3):
        t.merge_into(
            spark.range(i, i + 1).selectExpr("id AS k", "id + 99 AS v"),
            ["k"],
        )                                                      # v2..v4
    # everything is young: nothing expires under a 1-hour window
    assert t.expire_versions(keep_last=1, older_than_seconds=3600) == []
    assert t.read(spark, version=1).count() == 10              # still travelable
    # age v1/v2 artificially (rewrite committed_at in the manifest)
    for v in (1, 2):
        p = t._manifest_path(v)
        m = json.load(open(p))
        m["committed_at"] -= 10_000
        json.dump(m, open(p, "w"))
    t._committed_at_cache.clear()
    assert t.expire_versions(keep_last=1, older_than_seconds=3600) == [1, 2]
    assert not os.path.exists(t._manifest_path(1))
    assert os.path.exists(t._manifest_path(3))                 # young: kept
    assert t.read(spark).count() == 10                         # head unaffected

def test_row_count_metadata_only(spark, tmp_path):
    """COUNT(*) from manifest metadata: exact across init/merge/COW
    delete and format-2 (segment) manifests; honest None under live
    MoR tombstones and for legacy history without row stats."""
    import json

    t = TxTable(str(tmp_path / "tbl"))
    t.init(spark.range(0, 500).selectExpr("id AS k", "id AS v").repartition(4))
    assert t.row_count() == 500
    t.merge_into(
        spark.range(400, 600).selectExpr("id AS k", "id AS v"), ["k"]
    )
    assert t.row_count() == 600 == t.read(spark).count()
    t.delete_where(spark, [("k", "<", 50)])                   # COW: exact
    assert t.row_count() == 550
    t.delete_where(spark, [("k", "<", 100)], mode="mor")      # MoR: unknown
    assert t.row_count() is None
    t.materialize_tombstones(spark)
    assert t.row_count() == 500 == t.read(spark).count()
    # old versions answer too (time-travel count)
    assert t.row_count(version=1) == 500

    # format 2: spill into segments, totals ride the descriptors
    t2 = TxTable(str(tmp_path / "big"))
    t2.init(
        spark.range(0, 7000).selectExpr("id AS k", "id AS v").repartition(70)
    )
    m = t2._read_manifest(1)
    assert "segments" in m
    assert t2.row_count() == 7000
    # legacy segment (no 'rows' key): honest None, never a wrong number
    for seg in m["segments"]:
        seg.pop("rows", None)
    json.dump(m, open(t2._manifest_path(1), "w"))
    assert t2.row_count() is None

def test_check_constraints_enforced_on_every_write_path(spark, tmp_path):
    """CHECK constraints (Delta parity): adding validates existing
    data; init/merge/update writes that violate FAIL BEFORE commit
    (snapshot unchanged, staged litter vacuumable); NULL passes (SQL
    CHECK); drop re-permits."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(spark.range(0, 50).selectExpr("id AS k", "id AS v").coalesce(1))
    # refuses a constraint existing data violates
    with pytest.raises(ValueError, match="existing.*violate"):
        t.add_constraint(spark, "v_big", "v >= 10")
    t.add_constraint(spark, "v_nonneg", "v >= 0")
    t.add_constraint(spark, "k_mag", "k < 1000000")
    assert set(t.constraints()) == {"v_nonneg", "k_mag"}
    head = t.latest_version()
    # violating merge fails before commit
    with pytest.raises(ValueError, match="v_nonneg.*violate"):
        t.merge_into(
            spark.createDataFrame([(1, -5)], "k bigint, v bigint"), ["k"]
        )
    assert t.latest_version() == head                   # nothing committed
    assert t.read(spark).filter(F.col("k") == 1).first().v == 1
    # clean merge passes
    t.merge_into(spark.createDataFrame([(1, 7)], "k bigint, v bigint"), ["k"])
    # violating UPDATE fails (both modes)
    with pytest.raises(ValueError, match="v_nonneg"):
        t.update_where(spark, [("k", "<", 3)], {"v": "v - 100"})
    with pytest.raises(ValueError, match="v_nonneg"):
        t.update_where(spark, [("k", "<", 3)], {"v": "v - 100"}, mode="mor")
    # NULL passes CHECK (SQL semantics)
    t2 = TxTable(str(tmp_path / "t2"))
    t2.init(spark.createDataFrame([(1, None)], "k bigint, v bigint"))
    t2.add_constraint(spark, "v_pos", "v > 0")
    t2.merge_into(
        spark.createDataFrame([(2, None)], "k bigint, v bigint"), ["k"]
    )
    assert t2.read(spark).count() == 2
    # drop re-permits; violating init on a fresh table also blocked
    assert t.drop_constraint("v_nonneg") and not t.drop_constraint("v_nonneg")
    t.update_where(spark, [("k", "=", 1)], {"v": "v - 100"})
    assert t.read(spark).filter(F.col("k") == 1).first().v == -93
    t3 = TxTable(str(tmp_path / "t3"))
    t3.add_constraint(spark, "nn", "x IS NOT NULL")
    with pytest.raises(ValueError, match="nn"):
        t3.init(spark.createDataFrame([(None,)], "x bigint"))
    assert t3.latest_version() == 0

# -- DNF predicates: OR of conjunctions across the grammar -----------


def test_dnf_read_prunes_and_stays_exact(spark, tmp_path):
    """OR-of-conjunctions in read(where=): stats pruning distributes
    over the OR (a file survives if ANY disjunct may match), results
    exact."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(
        spark.range(0, 400).selectExpr("id AS k", "id AS v")
        .repartitionByRange(4, "id")
    )
    dnf = [[("k", "<", 10)], [("k", ">=", 390)]]
    df = t.read(spark, where=dnf)
    assert sorted(r.k for r in df.collect()) == list(range(10)) + list(
        range(390, 400)
    )
    # only the two boundary files scan (middle two pruned)
    assert len(df.inputFiles()) == 2
    # conjunction inside a disjunct
    got = t.read(
        spark, where=[[("k", ">=", 5), ("k", "<", 8)], [("k", "=", 395)]]
    )
    assert sorted(r.k for r in got.collect()) == [5, 6, 7, 395]
    # flat grammar unchanged
    assert t.read(spark, where=[("k", "<", 3)]).count() == 3


def test_dnf_delete_cow_and_mor_roundtrip(spark, tmp_path):
    t = _mor_table(spark, tmp_path)  # k in [0,100) + [1000,1100)
    dnf = [[("k", "<", 5)], [("k", ">=", 1095)]]
    v = t.delete_where(spark, dnf, mode="mor")
    m = t._read_manifest(v)
    # nested predicate round-trips manifest JSON and both files covered
    assert len(m["tombstones"][0]["files"]) == 2
    df = t.read(spark)
    assert df.count() == 190
    assert df.filter((F.col("k") < 5) | (F.col("k") >= 1095)).count() == 0
    # COW over a DNF too (materializes the tombstone on those files)
    v2 = t.delete_where(spark, [[("k", "=", 50)], [("k", "=", 1050)]])
    assert t.read(spark, version=v2).count() == 188
    # SQL null semantics hold through the OR
    t2 = TxTable(str(tmp_path / "t2"))
    t2.init(
        spark.sql(
            "SELECT id AS k, CASE WHEN id = 5 THEN NULL ELSE id END AS v "
            "FROM range(10)"
        ).coalesce(1)
    )
    t2.delete_where(spark, [[("v", "=", 3)], [("v", "=", 99)]])
    got = sorted(r.k for r in t2.read(spark).collect())
    assert got == [0, 1, 2, 4, 5, 6, 7, 8, 9]  # null row kept


def test_dnf_update_and_validation(spark, tmp_path):
    t = _mor_table(spark, tmp_path)
    t.update_where(
        spark, [[("k", "<", 2)], [("k", ">=", 1098)]], {"v": "v + 5000"},
    )
    got = {r.k: r.v for r in t.read(spark).filter(
        (F.col("k") < 2) | (F.col("k") >= 1098)
    ).collect()}
    assert got == {0: 5000, 1: 5001, 1098: 6098, 1099: 6099}
    with pytest.raises(ValueError, match="empty disjunct"):
        t.read(spark, where=[[("k", "=", 1)], []])
    with pytest.raises(ValueError, match="unsupported predicate"):
        t.delete_where(spark, [[("k", "like", "a%")]])

def test_incremental_join_sink_million_key_batch(spark, tmp_path):
    """The round-6 verdict's backfill case, end to end THROUGH the
    sink: one micro-batch whose change feed touches 1M left keys. The
    affected-key retraction must ride a file-backed tombstone (keys
    never enter the driver or the manifest — the manifest stays KB-
    scale) and the derived view must equal the one-shot join."""
    import os

    from filesystemagent_spark.streaming.sinks import (
        start_incremental_join_sink,
    )

    src_path, drv_path = str(tmp_path / "src"), str(tmp_path / "derived")
    right = spark.range(0, 100).selectExpr("id % 100 AS jk", "id AS dim")
    src = TxTable(src_path)
    src.init(
        spark.range(0, 1_000_000).selectExpr(
            "id AS pk", "id % 100 AS jk", "id AS v"
        ).repartition(8)
    )

    def drain():
        start_incremental_join_sink(
            spark, src_path, right, drv_path, str(tmp_path / "ckpt"),
            on="jk", left_pk="pk", right_pk="jk",
        ).awaitTermination()

    drain()  # bootstrap
    # ONE commit rewriting every key (the backfill someone runs anyway)
    src.merge_into(
        spark.range(0, 1_000_000).selectExpr(
            "id AS pk", "id % 100 AS jk", "id + 7 AS v"
        ).repartition(8),
        ["pk"], change_feed=True,
    )
    drain()  # 1M affected keys in one batch
    d = TxTable(drv_path)
    # retraction rode a key-list tombstone; the manifest stayed small
    head_manifest = os.path.getsize(d._manifest_path(d.latest_version()))
    assert head_manifest < 256 << 10, head_manifest
    hist_kinds = [
        d._read_manifest(v).get("app", {})
        for v in range(1, d.latest_version() + 1)
    ]
    assert any("deleted_keys" in a for a in hist_kinds)
    df = d.read(spark)
    assert df.count() == 1_000_000
    assert df.agg(F.min("v")).first()[0] == 7  # post-images landed

def test_reserved_rows_column_refused(spark, tmp_path):
    """__rows__ joined __bytes__ in the reserved stats namespace: a
    real column with that name would have its range clobbered by the
    footer row count and stats pruning would go unsound — refuse at
    the write chokepoint (review finding, round 7)."""
    t = TxTable(str(tmp_path / "tbl"))
    with pytest.raises(ValueError, match="reserved"):
        t.init(spark.range(3).selectExpr("id AS k", "id AS __rows__"))


def test_delete_keys_null_key_does_not_poison_pruning(spark, tmp_path):
    """A NULL in the key set matches nothing — it must also not defeat
    the coverage probe (a kept NULL made the probe unprunable and the
    tombstone covered EVERY file; review finding, round 7)."""
    t = _mor_table(spark, tmp_path)  # two files, disjoint k ranges
    keys = spark.sql(
        "SELECT CAST(NULL AS bigint) AS k UNION ALL SELECT 5"
    )
    v = t.delete_keys(keys, ["k"], mode="mor")
    tb = t._read_manifest(v)["tombstones"][0]
    assert len(tb["files"]) == 1            # only the overlapping file
    assert t.read(spark).count() == 199     # exactly k=5 gone
    assert t.read(spark).filter(F.col("k") == 5).count() == 0

def test_neq_and_null_test_predicates(spark, tmp_path):
    """Grammar extension: !=, isnull, notnull across read/delete/
    update. != prunes only the degenerate single-value file; null
    tests never prune (stats carry no null counts) but filter
    exactly."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(
        spark.sql(
            "SELECT id AS k, CASE WHEN id % 4 = 0 THEN NULL ELSE id END AS v "
            "FROM range(20)"
        ).coalesce(1)
    )
    # constant second file: != can prove it disjoint
    t.merge_into(
        spark.sql("SELECT 1000 + id AS k, CAST(7 AS BIGINT) AS v FROM range(5)").coalesce(1),
        ["k"],
    )
    assert t.read(spark, where=[("v", "isnull", None)]).count() == 5
    assert t.read(spark, where=[("v", "notnull", None)]).count() == 20
    df = t.read(spark, where=[("v", "!=", 7)])
    # null v rows do NOT match != (SQL); 7 itself excluded
    assert df.count() == 14
    assert len(df.inputFiles()) == 1      # constant-7 file pruned
    # DELETE WHERE v IS NULL
    v = t.delete_where(spark, [("v", "isnull", None)])
    assert t.read(spark).count() == 20
    assert t.read(spark, version=v).filter(F.col("v").isNull()).count() == 0
    # UPDATE ... WHERE v != 7 (nulls already gone; non-7 bump). Sevens
    # stay put: the 5 constant-file rows AND the base row with v=7
    t.update_where(spark, [("v", "!=", 7)], {"v": "v + 100"})
    got = t.read(spark)
    assert got.filter(F.col("v") == 7).count() == 6     # untouched
    assert got.filter((F.col("v") >= 100) & (F.col("v") < 200)).count() == 14
    # DNF composition with the new ops: 6 sevens ∪ {k=1} (k=0's row
    # died with the null delete)
    assert t.read(
        spark, where=[[("v", "=", 7)], [("k", "<", 2)]]
    ).count() == 7

def test_join_sink_bounds_tombstone_depth_under_delete_runs(spark, tmp_path):
    """Upsert batches self-materialize their retraction tombstones
    (the merge rewrites the covered files), so only a RUN of
    delete-only batches can stack read amplification — the sink folds
    it at the policy threshold instead of growing without bound."""
    from filesystemagent_spark.streaming.sinks import (
        start_incremental_join_sink,
    )

    src_path, drv_path = str(tmp_path / "src"), str(tmp_path / "derived")
    right = spark.range(0, 10).selectExpr("id AS jk", "id AS dim")
    src = TxTable(src_path)
    src.init(
        spark.range(0, 200).selectExpr("id AS pk", "id % 10 AS jk", "id AS v")
        .repartition(4)
    )

    def drain():
        start_incremental_join_sink(
            spark, src_path, right, drv_path, str(tmp_path / "ckpt"),
            on="jk", left_pk="pk", right_pk="jk",
        ).awaitTermination()

    drain()
    d = TxTable(drv_path)
    depths = []
    for i in range(8):  # 8 consecutive delete-only commits/batches
        src.delete_where(spark, [("pk", "=", i)], change_feed=True)
        drain()
        depths.append(d.tombstone_info()["depth"])
    assert max(depths) <= 5, depths            # folded at the threshold
    assert d.read(spark).count() == 192        # correctness unaffected
    want = sorted(
        (r.pk, r.dim)
        for r in src.read(spark).join(right, "jk").select("pk", "dim").collect()
    )
    got = sorted((r.pk, r.dim) for r in d.read(spark).select("pk", "dim").collect())
    assert got == want

def test_join_sink_bounds_tombstone_depth_under_mixed_batches(spark, tmp_path):
    """Review finding (round 7): a MIXED batch that deletes key A
    while upserting key B leaves A's tombstone standing (the merge
    probe spans only B's files), so the depth fold must run after
    EVERY batch — a sustained delete-one/insert-one stream would
    otherwise grow read amplification one tombstone per batch."""
    from filesystemagent_spark.streaming.sinks import (
        start_incremental_join_sink,
    )

    src_path, drv_path = str(tmp_path / "src"), str(tmp_path / "derived")
    right = spark.range(0, 10).selectExpr("id AS jk", "id AS dim")
    src = TxTable(src_path)
    # range-clustered files: low-pk deletes and high-pk inserts touch
    # DISJOINT files, so merges never rewrite the delete's coverage
    src.init(
        spark.range(0, 400).selectExpr("id AS pk", "id % 10 AS jk", "id AS v")
        .repartitionByRange(4, "pk")
    )

    def drain():
        start_incremental_join_sink(
            spark, src_path, right, drv_path, str(tmp_path / "ckpt"),
            on="jk", left_pk="pk", right_pk="jk",
        ).awaitTermination()

    drain()
    d = TxTable(drv_path)
    depths = []
    for i in range(8):  # delete one low key + insert one high key
        src.delete_where(spark, [("pk", "=", i)], change_feed=True)
        src.merge_into(
            spark.range(10_000 + i, 10_001 + i).selectExpr(
                "id AS pk", "id % 10 AS jk", "id AS v"
            ),
            ["pk"], change_feed=True,
        )
        drain()
        depths.append(d.tombstone_info()["depth"])
    assert max(depths) <= 5, depths
    want = sorted(
        (r.pk, r.v, r.dim)
        for r in src.read(spark).join(right, "jk")
        .select("pk", "v", "dim").collect()
    )
    got = sorted(
        (r.pk, r.v, r.dim)
        for r in d.read(spark).select("pk", "v", "dim").collect()
    )
    assert got == want


def test_batch_images_reduction_matches_model(spark):
    """Property test for the change-feed reduction every index sink
    now shares (streaming/sinks._batch_images): for random valid
    per-key op sequences spanning multiple commits, `latest` must be
    each key's final image (post-image of the last upsert/insert, or
    the delete/preimage row when the key ends deleted) and `before`
    must be exactly the pre-batch state of keys that existed before
    the batch (the first op's pre-image), absent for keys born inside
    the batch."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from filesystemagent_spark.streaming.sinks import _batch_images

    @settings(max_examples=12, deadline=None)
    @given(
        st.dictionaries(
            st.integers(min_value=0, max_value=5),       # key
            st.tuples(
                st.booleans(),                            # exists before?
                st.lists(
                    st.sampled_from(["insert", "update", "delete"]),
                    min_size=1, max_size=4,
                ),
            ),
            min_size=1, max_size=4,
        )
    )
    def check(spec):
        rows = []          # (key, value, change_type, version)
        want_latest = {}   # key -> (change_type, value)
        want_before = {}   # key -> value
        v = 0
        for key, (exists0, ops) in sorted(spec.items()):
            exists, val = exists0, (key * 1000 if exists0 else None)
            if exists0:
                want_before[key] = val
            touched = False
            for op in ops:
                # coerce invalid ops into valid ones instead of
                # discarding the example (keeps hypothesis efficient)
                if op == "insert" and exists:
                    op = "update"
                if op in ("update", "delete") and not exists:
                    op = "insert"
                v += 1
                if op == "insert":
                    val = key * 1000 + v
                    rows.append((key, val, "insert", v))
                    want_latest[key] = ("insert", val)
                    exists = True
                elif op == "update":
                    rows.append((key, val, "update_preimage", v))
                    val = key * 1000 + v
                    rows.append((key, val, "upsert", v))
                    want_latest[key] = ("upsert", val)
                else:  # delete
                    rows.append((key, val, "delete", v))
                    want_latest[key] = ("delete", val)
                    exists, val = False, None
                touched = True
            if not touched and exists0:
                del want_before[key]  # key never appears in the batch
        batch = spark.createDataFrame(
            rows, "k bigint, v bigint, _change_type string, "
            "_commit_version bigint",
        )
        imgs, latest, before = _batch_images(batch, "k")
        try:
            got_latest = {
                r.k: (r._change_type, r.v) for r in latest.collect()
            }
            got_before = {r.k: r.v for r in before.collect()}
        finally:
            imgs.unpersist()
        assert got_latest == want_latest
        assert got_before == want_before

    check()


def test_isin_large_list_json_path_matches_small_path(spark):
    """Round 10: `_isin` switches representation above
    _ISIN_LITERAL_MAX — one JSON literal parsed JVM-side +
    array_contains instead of per-value py4j literals (measured 45s to
    BUILD a 20k-value isin). The two paths must select identical rows,
    including the exactness edges: int64 magnitudes beyond 2^53 (a
    float round-trip would corrupt them), negatives, JSON-escaped and
    unicode strings."""
    from pyspark.sql import functions as F

    from filesystemagent_spark.sources.txtable import (
        _ISIN_LITERAL_MAX,
        _isin,
    )

    big = 2**60 + 12345  # would corrupt through a double round-trip
    ints = [big, -(2**61) + 7, 0, 42] + list(range(1000, 1000 + 2000))
    assert len(ints) > _ISIN_LITERAL_MAX
    df = spark.createDataFrame(
        [(big,), (-(2**61) + 7,), (41,), (1500,), (2**60,)], "v: bigint"
    )
    got = sorted(
        r.v for r in df.filter(_isin(F.col("v"), ints)).collect()
    )
    want = sorted(
        r.v for r in df.filter(F.col("v").isin(big, -(2**61) + 7, 1500)).collect()
    )
    assert got == want == sorted([big, -(2**61) + 7, 1500])

    strs = ['a"b', "unié", "tab\tx", "plain"] + [
        f"k{i}" for i in range(2000)
    ]
    sdf = spark.createDataFrame(
        [('a"b',), ("unié",), ("tab\tx",), ("nope",), ("k7",)],
        "s: string",
    )
    got_s = sorted(
        r.s for r in sdf.filter(_isin(F.col("s"), strs)).collect()
    )
    assert got_s == sorted(['a"b', "unié", "tab\tx", "k7"])

    # floats: finite-only lists take the json path; the filter matches
    fl = [0.5, -1.25, 3.0] + [float(i) + 0.125 for i in range(2000)]
    fdf = spark.createDataFrame([(0.5,), (7.125,), (9.0,)], "f: double")
    got_f = sorted(
        r.f for r in fdf.filter(_isin(F.col("f"), fl)).collect()
    )
    assert got_f == [0.5, 7.125]


def test_isin_int64_overflow_falls_back_loudly(spark):
    """Round-10 review finding: a Python int past 2^63 would overflow
    from_json's bigint parse, NULL the whole literal array, and make
    the predicate silently match NOTHING. Such lists must take the
    isin path (which raises a loud overflow error) instead."""
    from pyspark.sql import functions as F

    from filesystemagent_spark.sources.txtable import (
        _ISIN_LITERAL_MAX,
        _isin,
    )

    vals = [2**63 + 1] + list(range(2 * _ISIN_LITERAL_MAX))
    df = spark.createDataFrame([(5,), (99,)], "v: bigint")
    with pytest.raises(Exception):
        df.filter(_isin(F.col("v"), vals)).collect()
    # and the in-range twin still answers exactly
    ok = [2**62] + list(range(2 * _ISIN_LITERAL_MAX))
    got = sorted(r.v for r in df.filter(_isin(F.col("v"), ok)).collect())
    assert got == [5, 99]


def test_footer_stats_memo_matches_fresh_parse_and_tracks_rewrites(spark, tmp_path):
    """Round-10 optimization: staged-file footer stats are memoized
    (the 0-row staging check and the commit's stats collection used to
    parse every footer twice). The memo must (a) return exactly what a
    fresh parse returns, and (b) never serve stale stats after a path
    is rewritten with different content (keyed on the file stamp)."""
    import pyarrow.parquet as pq

    from filesystemagent_spark.handles import file_stamp
    from filesystemagent_spark.sources.txtable import (
        _FOOTER_MEMO,
        _collect_file_stats,
        _footer_stats_one,
        _stats_from_metadata,
    )

    d = tmp_path / "memo"
    spark.createDataFrame([(1, "a"), (9, "b")], "k: bigint, s: string").coalesce(
        1
    ).write.parquet(str(d))
    f = next(str(p) for p in d.iterdir() if p.suffix == ".parquet")

    got = _footer_stats_one(f)
    md = pq.ParquetFile(f).metadata
    want = _stats_from_metadata(md)
    assert {k: v for k, v in got.items() if not k.startswith("__")} == want
    assert got["__rows__"] == [2, 2]
    # second call is the cached object; thread-pool path agrees
    assert _footer_stats_one(f) is got
    assert _collect_file_stats([f])[f] is got

    # rewrite the same path with different content -> fresh stats
    import os as _os

    _os.unlink(f)
    spark.createDataFrame(
        [(100, "z"), (200, "z"), (300, "z")], "k: bigint, s: string"
    ).coalesce(1).write.parquet(str(tmp_path / "memo2"))
    src = next(
        str(p) for p in (tmp_path / "memo2").iterdir() if p.suffix == ".parquet"
    )
    _os.replace(src, f)
    got2 = _footer_stats_one(f)
    assert got2["__rows__"] == [3, 3]
    assert got2["k"] == [100, 300]
    # one entry for f, under the rewritten file's stamp: the superseded one is gone
    assert [(slot, st) for slot, (st, _) in _FOOTER_MEMO.items() if slot == f] == [
        (f, file_stamp(f))
    ]


def test_latest_app_values_one_walk_matches_per_key_and_skips_expired(
    spark, tmp_path
):
    """Round-11 optimization (guide §7.3): the sinks read several app
    scalars per micro-batch; latest_app_values resolves them in ONE
    manifest walk (over a memoized app column). Must (a) equal the
    per-key walks exactly — including keys from DIFFERENT commits and
    absent keys — and (b) keep skipping EXPIRED manifests even when
    their app was already memoized (the hit re-checks existence)."""
    from filesystemagent_spark.sources.txtable import TxTable

    t = TxTable(str(tmp_path / "appwalk"))
    t.init(
        spark.createDataFrame([(1, "a")], "k: bigint, s: string"),
        app={"batch_id": 0, "n_docs": 1.0},
    )
    t.merge_into(
        spark.createDataFrame([(2, "b")], "k: bigint, s: string"),
        ["k"],
        app={"batch_id": 1},
    )  # v2 carries the stamp but NOT n_docs — the walk must go past it
    t.commit_app({"other": "x"})  # v3: app-only maintenance commit
    want = {
        k: t.latest_app_value(k) for k in ("batch_id", "n_docs", "missing")
    }
    assert want == {"batch_id": 1, "n_docs": 1.0, "missing": None}
    assert t.latest_app_values(("batch_id", "n_docs", "missing")) == want

    # warm the memo on every version, then expire the oldest two: the
    # cached app of a deleted manifest must drop out of the walk
    assert t.latest_app_values(("n_docs",))["n_docs"] == 1.0
    expired = t.expire_versions(keep_last=1, older_than_seconds=0)
    assert 1 in expired
    assert t.latest_app_values(("n_docs", "other")) == {
        "n_docs": None,  # only v1 carried it, and v1 is gone
        "other": "x",
    }
    assert t.latest_app_value("n_docs") is None


def test_read_scan_handle_memo_and_commit_staleness(spark, tmp_path):
    """Round-11 optimization (guide §7.3): read() memoizes the scan
    handle per (schema, resolved file set) — repeated reads of one
    snapshot reuse one plan handle — and a COMMIT must invalidate it
    (the key is the file list, which the commit changes): the next
    read sees the new version's rows."""
    from filesystemagent_spark.sources.txtable import TxTable

    t = TxTable(str(tmp_path / "scanmemo"))
    t.init(spark.createDataFrame([(1, "a"), (2, "b")], "k: bigint, s: string"))
    r1 = t.read(spark)
    assert t.read(spark) is r1  # same snapshot -> same memoized handle
    assert r1.count() == 2

    t.merge_into(
        spark.createDataFrame([(3, "c")], "k: bigint, s: string"), ["k"]
    )
    r2 = t.read(spark)
    assert r2 is not r1  # new file set -> new key -> fresh handle
    assert r2.count() == 3
    assert {r["k"] for r in r2.collect()} == {1, 2, 3}
    # the old snapshot's handle still answers as-of reads consistently
    assert t.read(spark, version=1).count() == 2


def test_app_metadata_memo_survives_drop_and_recreate(spark, tmp_path):
    """A table dropped (rmtree) and re-init()ed at the same path writes
    new manifests under the old names; the app-metadata memo keys on
    the manifest's file stamp, so the re-created table's app is read,
    not the dropped one's."""
    import shutil

    from filesystemagent_spark.sources.txtable import TxTable

    path = str(tmp_path / "recreated")
    df = spark.createDataFrame([(1, "a")], "k: bigint, s: string")
    TxTable(path).init(df, app={"batch_id": 7})
    assert TxTable(path).latest_app_value("batch_id") == 7  # memoized

    shutil.rmtree(path)
    TxTable(path).init(df, app={"batch_id": 8})
    t = TxTable(path)
    assert t.latest_version() == 1
    assert t.latest_app_value("batch_id") == 8
    assert t.latest_app_values(("batch_id",)) == {"batch_id": 8}


def _assert_jvm_empty(df, expected_schema):
    """`df` is an empty frame with no Python RDD behind it: no
    LogicalRDD in its optimized plan, 0 rows, and exactly the schema
    (nullability included) the Python-backed empty frame had."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan, plan
    assert df.collect() == []
    assert df.schema == expected_schema


def test_pruned_read_returns_a_jvm_empty_frame(spark, tmp_path):
    t = TxTable(str(tmp_path / "tbl"))
    t.init(_df(spark, [("/a", 1), ("/b", 2)]))
    old = spark.createDataFrame([], "file_path string, size bigint")
    # stats prove no file holds a size > 100: no file is scanned
    _assert_jvm_empty(t.read(spark, where=[("size", ">", 100)]), old.schema)


def test_table_changes_without_change_files_is_a_jvm_empty_frame(spark, tmp_path):
    t = TxTable(str(tmp_path / "tbl"))
    t.init(_df(spark, [("/a", 1)]))
    t.commit_app({"batch_id": 1})  # v2: metadata only, no change images
    old = (
        spark.createDataFrame([], "file_path string, size bigint")
        .withColumn("_change_type", F.lit(""))
        .withColumn("_commit_version", F.lit(0).cast("long"))
    )
    _assert_jvm_empty(t.table_changes(spark, 2), old.schema)


def test_update_without_pre_images_stages_a_jvm_empty_frame(
    spark, tmp_path, monkeypatch
):
    """size=2 lies inside the file's [1, 3] stats range, so the file is
    touched, but no row matches: the post-image write gets the empty
    pre-image frame."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(_df(spark, [("/a", 1), ("/b", 3)]).coalesce(1))
    written = []
    real = TxTable._write_data

    def spy(self, df):
        written.append(df)
        return real(self, df)

    monkeypatch.setattr(TxTable, "_write_data", spy)
    t.update_where(spark, [("size", "=", 2)], {"size": "size + 1"},
                   change_feed=True)
    old = spark.createDataFrame([], "file_path string, size bigint")
    assert len(written) == 1  # the post-images of no pre-image rows
    _assert_jvm_empty(written[0], old.schema)
    assert t.table_changes(spark, 2).count() == 0


def test_change_feed_merge_stages_no_empty_tasks(spark, tmp_path, monkeypatch):
    """The change-feed merge's one staging write reads the touched file
    and the update batch, so it runs 2 tasks; an aligned batch built
    over a Python RDD added ``defaultParallelism`` empty ones."""
    t = TxTable(str(tmp_path / "tbl"))
    t.init(spark.sql("SELECT '/a' AS file_path, 1L AS size"))
    sc = spark.sparkContext
    group = f"stage-{tmp_path.name}"
    real = TxTable._write_data_parts

    def in_group(self, *args, **kwargs):
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            return real(self, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    monkeypatch.setattr(TxTable, "_write_data_parts", in_group)
    updates = spark.sql("SELECT '/a' AS file_path, 10L AS size")
    assert t.merge_into(updates, ["file_path"], change_feed=True) == 2
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert jobs
    # the key-distinct stage runs as its own 1-task job, the write as
    # one job of 2 tasks (the touched file and the batch)
    per_job = [
        sum(tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(j).stageIds)
        for j in jobs
    ]
    assert max(per_job) <= 2, per_job
    assert {r.size for r in t.read(spark).collect()} == {10}
