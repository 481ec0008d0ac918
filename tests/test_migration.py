"""Migration plan/execute/verify semantics vs the reference template
(etl_template_base.py:221-298, file_migration_template.py:117-258):
conflict modes, structure preservation, move-removes-source, counters,
and the independent hash audit."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from filesystemagent_spark.plans import migration as M
from filesystemagent_spark.sources.listing import list_files


def _mkfiles(root, files: dict[str, bytes]):
    for rel, content in files.items():
        p = os.path.join(root, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(content)


def _listing(spark, root):
    return list_files(spark, str(root))


@pytest.fixture()
def src_tree(tmp_path):
    src = tmp_path / "src"
    _mkfiles(str(src), {
        "a.txt": b"alpha",
        "sub/b.txt": b"bravo",
        "sub/deep/c.bin": b"\x00\x01charlie",
    })
    return src


def _plan(spark, src, dest, **kw):
    return M.plan_migration(
        _listing(spark, src), str(dest), source_root=str(src), **kw
    )


def test_plan_preserves_structure_and_is_dry(spark, src_tree, tmp_path):
    dest = tmp_path / "dst"
    plan = _plan(spark, src_tree, dest)
    rows = {r.src: r for r in plan.collect()}
    assert rows[str(src_tree / "sub/deep/c.bin")].dest == str(dest / "sub/deep/c.bin")
    assert all(r.action == "copy" and r.reason == "new" for r in rows.values())
    assert not os.path.exists(dest)  # planning touched nothing
    # with no destination listing the plan joins an empty JVM frame,
    # not a Python RDD of empty slices
    assert "LogicalRDD" not in plan._jdf.queryExecution().optimizedPlan().toString()


def test_flatten_mode_uses_basenames(spark, src_tree, tmp_path):
    dest = tmp_path / "dst"
    plan = M.plan_migration(
        _listing(spark, src_tree), str(dest),
        preserve_structure=False, conflict="rename",
    )
    dests = {r.dest for r in plan.collect()}
    assert str(dest / "b.txt") in dests and str(dest / "a.txt") in dests


def test_execute_copy_and_report(spark, src_tree, tmp_path):
    dest = tmp_path / "dst"
    plan = _plan(spark, src_tree, dest)
    status = M.execute_migration(plan)
    rep = M.migration_report(status).collect()[0]
    assert rep.successful_files == 3 and rep.failed_files == 0
    assert rep.bytes_transferred == len(b"alpha") + len(b"bravo") + len(b"\x00\x01charlie")
    assert (dest / "sub/b.txt").read_bytes() == b"bravo"
    assert (src_tree / "a.txt").exists()  # copy keeps sources


def test_execute_move_removes_sources(spark, src_tree, tmp_path):
    dest = tmp_path / "dst"
    plan = _plan(spark, src_tree, dest, operation="move")
    M.execute_migration(plan).count()
    assert not (src_tree / "a.txt").exists()
    assert (dest / "a.txt").read_bytes() == b"alpha"


def test_conflict_skip(spark, src_tree, tmp_path):
    dest = tmp_path / "dst"
    _mkfiles(str(dest), {"a.txt": b"OLD"})
    plan = _plan(spark, src_tree, dest, conflict="skip",
                 existing=_listing(spark, dest))
    st = {r.src: r.status for r in M.execute_migration(plan).collect()}
    assert st[str(src_tree / "a.txt")] == "skipped"
    assert (dest / "a.txt").read_bytes() == b"OLD"  # untouched
    assert (dest / "sub/b.txt").read_bytes() == b"bravo"  # others proceed


def test_conflict_overwrite(spark, src_tree, tmp_path):
    dest = tmp_path / "dst"
    _mkfiles(str(dest), {"a.txt": b"OLD"})
    plan = _plan(spark, src_tree, dest, conflict="overwrite",
                 existing=_listing(spark, dest))
    M.execute_migration(plan).count()
    assert (dest / "a.txt").read_bytes() == b"alpha"


def test_conflict_rename_continues_past_taken_counters(spark, src_tree, tmp_path):
    dest = tmp_path / "dst"
    # a.txt exists AND a_1.txt is already taken → incoming gets _2
    _mkfiles(str(dest), {"a.txt": b"OLD", "a_1.txt": b"OLD1"})
    plan = _plan(spark, src_tree, dest, conflict="rename",
                 existing=_listing(spark, dest))
    M.execute_migration(plan).count()
    assert (dest / "a_2.txt").read_bytes() == b"alpha"
    assert (dest / "a.txt").read_bytes() == b"OLD"


def test_conflict_backup(spark, src_tree, tmp_path):
    dest = tmp_path / "dst"
    _mkfiles(str(dest), {"a.txt": b"OLD"})
    plan = _plan(spark, src_tree, dest, conflict="backup",
                 existing=_listing(spark, dest))
    M.execute_migration(plan).count()
    assert (dest / "a.txt").read_bytes() == b"alpha"
    assert (dest / "a.txt.backup").read_bytes() == b"OLD"


def test_conflict_fail_raises(spark, src_tree, tmp_path):
    dest = tmp_path / "dst"
    _mkfiles(str(dest), {"a.txt": b"OLD"})
    with pytest.raises(FileExistsError):
        _plan(spark, src_tree, dest, conflict="fail",
              existing=_listing(spark, dest))


def test_intra_batch_collision_resolves_by_src_order(spark, tmp_path):
    src = tmp_path / "src"
    _mkfiles(str(src), {"d1/x.txt": b"one", "d2/x.txt": b"two"})
    dest = tmp_path / "dst"
    plan = M.plan_migration(
        list_files(spark, str(src)), str(dest),
        preserve_structure=False, conflict="rename",
    )
    rows = sorted(plan.collect(), key=lambda r: r.src)
    assert rows[0].dest == str(dest / "x.txt")      # d1 sorts first
    assert rows[1].dest == str(dest / "x_1.txt")
    M.execute_migration(plan).count()
    assert (dest / "x.txt").read_bytes() == b"one"
    assert (dest / "x_1.txt").read_bytes() == b"two"


def test_verify_catches_corruption(spark, src_tree, tmp_path):
    dest = tmp_path / "dst"
    plan = _plan(spark, src_tree, dest)
    M.execute_migration(plan).count()
    assert M.verify_migration(spark, plan, str(src_tree), str(dest)).count() == 0
    (dest / "sub/b.txt").write_bytes(b"CORRUPTED")
    bad = M.verify_migration(spark, plan, str(src_tree), str(dest)).collect()
    assert len(bad) == 1 and bad[0].dest == str(dest / "sub/b.txt")


def test_integrity_check_in_execute(spark, src_tree, tmp_path):
    dest = tmp_path / "dst"
    plan = _plan(spark, src_tree, dest)
    status = M.execute_migration(plan, verify_integrity=True).collect()
    assert all(r.src_hash == r.dest_hash and r.status == "done" for r in status)


def test_rename_never_collides_with_incoming_plain_names(spark, tmp_path):
    """Regression: a.txt's rename target must not land on a name
    another incoming file (a_1.txt) claims plainly."""
    src = tmp_path / "src"
    _mkfiles(str(src), {"a.txt": b"renamed-one", "a_1.txt": b"kept-one"})
    dest = tmp_path / "dst"
    _mkfiles(str(dest), {"a.txt": b"OLD"})
    plan = M.plan_migration(
        list_files(spark, str(src)), str(dest), preserve_structure=False,
        conflict="rename", existing=list_files(spark, str(dest)),
    )
    dests = [r.dest for r in plan.collect()]
    assert len(dests) == len(set(dests)), f"plan assigned duplicate dests: {dests}"
    M.execute_migration(plan).count()
    assert (dest / "a_1.txt").read_bytes() == b"kept-one"
    assert (dest / "a_2.txt").read_bytes() == b"renamed-one"
    assert (dest / "a.txt").read_bytes() == b"OLD"


def test_overwrite_intra_batch_collision_is_deterministic_skip(spark, tmp_path):
    """Regression: two sources flattening to one dest in overwrite
    mode must not race — first src proceeds, the later claimant is a
    visible skip row, never a silent last-writer-wins."""
    src = tmp_path / "src"
    _mkfiles(str(src), {"d1/x.txt": b"one", "d2/x.txt": b"two"})
    dest = tmp_path / "dst"
    plan = M.plan_migration(
        list_files(spark, str(src)), str(dest),
        preserve_structure=False, conflict="overwrite",
    )
    rows = {r.src: r for r in plan.collect()}
    assert rows[str(src / "d1/x.txt")].action == "copy"
    skipped = rows[str(src / "d2/x.txt")]
    assert skipped.action == "skip" and skipped.reason == "conflict-intra-batch"
    M.execute_migration(plan).count()
    assert (dest / "x.txt").read_bytes() == b"one"


def test_backup_intra_batch_collision_is_deterministic_skip(spark, tmp_path):
    src = tmp_path / "src"
    _mkfiles(str(src), {"d1/x.txt": b"one", "d2/x.txt": b"two"})
    dest = tmp_path / "dst"
    _mkfiles(str(dest), {"x.txt": b"OLD"})
    plan = M.plan_migration(
        list_files(spark, str(src)), str(dest), preserve_structure=False,
        conflict="backup", existing=list_files(spark, str(dest)),
    )
    M.execute_migration(plan).count()
    assert (dest / "x.txt").read_bytes() == b"one"        # first src won
    assert (dest / "x.txt.backup").read_bytes() == b"OLD"  # original kept


def test_overwrite_with_symlink_replaces_existing(spark, src_tree, tmp_path):
    """Regression: os.symlink refuses existing dests; overwrite mode
    must clear them first instead of failing the row."""
    dest = tmp_path / "dst"
    _mkfiles(str(dest), {"a.txt": b"OLD"})
    plan = _plan(spark, src_tree, dest, operation="symlink",
                 conflict="overwrite", existing=_listing(spark, dest))
    status = {r.dest: r.status for r in
              M.execute_migration(plan, verify_integrity=False).collect()}
    assert status[str(dest / "a.txt")] == "done"
    assert os.path.islink(dest / "a.txt")
    assert (dest / "a.txt").read_bytes() == b"alpha"


def test_stale_plan_symlink_fails_safe_instead_of_clobbering(spark, src_tree, tmp_path):
    """Regression: a 'new' symlink row whose dest unexpectedly exists
    (plan built against a stale/absent listing) must FAIL the row, not
    delete the unseen file. Clearing is sanctioned only for rows the
    plan explicitly marked conflict-overwrite."""
    dest = tmp_path / "dst"
    _mkfiles(str(dest), {"a.txt": b"PRECIOUS"})
    # plan built blind to the existing destination tree
    plan = _plan(spark, src_tree, dest, operation="symlink", conflict="skip")
    status = {r.dest: r for r in
              M.execute_migration(plan, verify_integrity=False).collect()}
    row = status[str(dest / "a.txt")]
    assert row.status == "failed"
    assert (dest / "a.txt").read_bytes() == b"PRECIOUS"  # survived
