"""Crash safety of the one stored-index commit protocol (streaming.txn):
writer-lock enforcement, teardown ordering, fully-published-leftover
recovery, marker retention, partitioned appends, replace targets and the
pre-replace manifest format. All pure-filesystem — the txn machinery
moves files; Spark never needs to run here."""

import os
import shutil

import pytest

from laradb_spark.streaming import txn
from laradb_spark.streaming.txn import (
    _is_published_leftover,
    exactly_once_apply,
    publish_pending_batch,
    staged_batch_publish,
    sweep_applied_markers,
    writer_lock,
)


def _stage_writer(payload: bytes = b"x"):
    """A stage callback writing one parquet-named file per target key.
    The filename embeds the payload — Spark part-file names carry task
    UUIDs, so distinct batches never collide in the live dir."""

    def stage(pend):
        os.makedirs(os.path.join(pend, "data"), exist_ok=True)
        fname = f"part-{payload.decode()}.parquet"
        with open(os.path.join(pend, "data", fname), "wb") as f:
            f.write(payload)

    return stage


def test_writer_lock_refuses_concurrent_and_names_holder(tmp_path):
    root = str(tmp_path / "idx")
    with writer_lock(root, "first_op"):
        with pytest.raises(RuntimeError, match="another maintainer"):
            with writer_lock(root, "second_op"):
                raise AssertionError("must not enter")
        # the refusal names the live holder for the operator
        with pytest.raises(RuntimeError, match="first_op"):
            exactly_once_apply(root, 0, "second_op", _stage_writer(), {})
    # released on clean exit
    assert not os.path.exists(os.path.join(root, txn.WRITER_LOCK))


def test_writer_lock_released_on_exception_and_breaks_stale(tmp_path):
    root = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="boom"):
        with writer_lock(root, "crasher"):
            raise ValueError("boom")
    assert not os.path.exists(os.path.join(root, txn.WRITER_LOCK))
    # a leaked lock (kill -9) older than stale_after_s is broken silently
    lock = os.path.join(root, txn.WRITER_LOCK)
    os.makedirs(root, exist_ok=True)
    open(lock, "w").write("pid=dead")
    os.utime(lock, (1, 1))  # ancient mtime
    with writer_lock(root, "successor"):
        assert open(lock).read().startswith("pid=")
    assert not os.path.exists(lock)


def test_publish_unlinks_staged_ok_before_rmtree(tmp_path, monkeypatch):
    """ADVICE r14: a crash during the final rmtree must never leave
    _STAGED_OK vouching for a manifest rmtree already deleted. The
    unlink commits the teardown first, so the crash leaves an un-marked
    husk: a publish retry reports completion ('no completed stage'), and
    the next batch discards the husk and proceeds."""
    root = str(tmp_path / "idx")
    live = str(tmp_path / "live")
    exactly_once_apply(
        root, 0, "t", _stage_writer(), {"data": live}
    )  # a normal batch first

    pend = os.path.join(root, txn.PENDING)
    real_rmtree = shutil.rmtree

    def crash_on_pend(path, *a, **kw):
        if os.path.abspath(path) == os.path.abspath(pend):
            raise OSError("injected crash mid-teardown")
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(shutil, "rmtree", crash_on_pend)
    with pytest.raises(OSError, match="injected"):
        exactly_once_apply(root, 1, "t", _stage_writer(b"y"), {"data": live})
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)

    # the data and the marker ARE live; only the husk remains, un-marked
    assert os.path.exists(os.path.join(root, txn.APPLIED, "batch_1"))
    assert os.path.isdir(pend)
    assert not os.path.exists(os.path.join(pend, txn.STAGED_OK))
    with pytest.raises(RuntimeError, match="no completed stage"):
        publish_pending_batch(root)
    # redelivery of batch 1 no-ops; batch 2 discards the husk and lands
    exactly_once_apply(root, 1, "t", _stage_writer(), {"data": live})
    exactly_once_apply(root, 2, "t", _stage_writer(b"z"), {"data": live})
    assert not os.path.exists(pend)
    assert len(os.listdir(live)) == 3  # batches 0, 1, 2 — each exactly once


def test_fully_published_leftover_is_finished_not_refused(tmp_path):
    """ADVICE r14: a completed stage whose markers are ALL already in
    _stream_applied is this stream's own finished batch (the writer died
    between landing markers and dropping the pending dir) — the next
    batch must finish the teardown and continue, not demand a spurious
    manual publish."""
    root = str(tmp_path / "idx")
    live = str(tmp_path / "live")
    # batch 3 published fully, but the pending dir survived with its
    # marker mirror and _STAGED_OK (crash after the marker-landing loop)
    os.makedirs(os.path.join(root, txn.APPLIED))
    open(os.path.join(root, txn.APPLIED, "batch_3"), "w").close()
    pend = os.path.join(root, txn.PENDING)
    os.makedirs(os.path.join(pend, txn.MARKERS))
    open(os.path.join(pend, txn.MARKERS, "batch_3"), "w").close()
    open(os.path.join(pend, txn.TARGETS), "w").close()  # staged dirs moved
    open(os.path.join(pend, txn.STAGED_OK), "w").close()
    assert _is_published_leftover(root, pend)

    exactly_once_apply(root, 4, "t", _stage_writer(), {"data": live})
    assert os.path.exists(os.path.join(root, txn.APPLIED, "batch_4"))
    assert not os.path.exists(pend)
    assert len(os.listdir(live)) == 1  # batch 4 only — 3 was already live


def test_foreign_unpublished_stage_still_refuses(tmp_path):
    """The leftover path must NOT weaken the foreign-stage guard: a
    completed stage whose marker is absent from _stream_applied is an
    UNPUBLISHED foreign batch — auto-publishing it would mask a
    two-writer bug, so the refusal stands. Marker-less stages (offline
    staged_batch_publish crashes) never qualify as leftovers either."""
    root = str(tmp_path / "idx")
    pend = os.path.join(root, txn.PENDING)
    os.makedirs(os.path.join(pend, txn.MARKERS))
    open(os.path.join(pend, txn.MARKERS, "batch_9"), "w").close()
    open(os.path.join(pend, txn.TARGETS), "w").close()
    open(os.path.join(pend, txn.STAGED_OK), "w").close()
    assert not _is_published_leftover(root, pend)
    with pytest.raises(RuntimeError, match="does NOT belong"):
        exactly_once_apply(root, 4, "t", _stage_writer(), {})
    # offline (marker-less) stage: also not a leftover
    shutil.rmtree(os.path.join(pend, txn.MARKERS))
    assert not _is_published_leftover(root, pend)


def test_sweep_applied_markers_bounds_the_directory(tmp_path):
    """ADVICE r14: markers below batch_id - MARKER_RETAIN are
    undeliverable (Spark's checkpoint committed them) and are swept;
    fresher markers and non-batch names survive."""
    root = str(tmp_path / "idx")
    applied = os.path.join(root, txn.APPLIED)
    os.makedirs(applied)
    for i in range(21):
        open(os.path.join(applied, f"batch_{i}"), "w").close()
    open(os.path.join(applied, "not_a_batch"), "w").close()
    swept = sweep_applied_markers(root, 20)
    floor = 20 - txn.MARKER_RETAIN
    assert swept == floor
    kept = sorted(os.listdir(applied))
    assert f"batch_{floor - 1}" not in kept
    assert f"batch_{floor}" in kept and "batch_20" in kept
    assert "not_a_batch" in kept


def test_sweep_runs_inside_exactly_once_apply(tmp_path):
    root = str(tmp_path / "idx")
    live = str(tmp_path / "live")
    applied = os.path.join(root, txn.APPLIED)
    os.makedirs(applied)
    for i in range(50):
        open(os.path.join(applied, f"batch_{i}"), "w").close()
    exactly_once_apply(root, 50, "t", _stage_writer(), {"data": live})
    names = {n for n in os.listdir(applied)}
    assert "batch_50" in names
    assert f"batch_{50 - txn.MARKER_RETAIN}" in names
    assert f"batch_{50 - txn.MARKER_RETAIN - 1}" not in names
    assert len(names) == txn.MARKER_RETAIN + 1


def test_staged_batch_publish_takes_the_lock(tmp_path):
    root = str(tmp_path / "idx")
    with writer_lock(root, "stream_loop"):
        with pytest.raises(RuntimeError, match="another maintainer"):
            staged_batch_publish(root, {}, _stage_writer(), "offline_append")


def _replace_layout(root):
    """A two-table live layout (old part-files), the stage callback that
    rewrites both tables, and their replace targets."""
    names = ("centroids", "corpus")
    for name in names:
        os.makedirs(os.path.join(root, name))
        with open(os.path.join(root, name, "old.parquet"), "w") as f:
            f.write("old")

    def stage(pend):
        for name in names:
            os.makedirs(os.path.join(pend, name))
            with open(os.path.join(pend, name, "new.parquet"), "w") as f:
                f.write("new")

    return stage, {n: txn.Replace(os.path.join(root, n)) for n in names}


def _assert_replaced(root):
    assert sorted(os.listdir(root)) == ["centroids", "corpus"]  # no aside, no stage
    for name in ("centroids", "corpus"):
        assert os.listdir(os.path.join(root, name)) == ["new.parquet"]


def test_partitioned_stage_keeps_partition_subdirs(tmp_path):
    """An append target's hive partition subdirectories land under the
    same relative paths in the live table (a stage written with
    partitionBy, like the BM25 postings), next to the existing lists."""
    root = str(tmp_path / "idx")
    live = str(tmp_path / "idx" / "postings")
    os.makedirs(os.path.join(live, "bucket=1"))
    open(os.path.join(live, "bucket=1", "part-old.parquet"), "w").close()

    def stage(pend):
        for sub in ("bucket=1", "bucket=2"):
            os.makedirs(os.path.join(pend, "postings", sub))
            open(os.path.join(pend, "postings", sub, "part-new.parquet"), "w").close()
        open(os.path.join(pend, "postings", "_SUCCESS"), "w").close()

    staged_batch_publish(root, {"postings": live}, stage, "t")
    assert sorted(os.listdir(live)) == ["bucket=1", "bucket=2"]
    assert sorted(os.listdir(os.path.join(live, "bucket=1"))) == [
        "part-new.parquet", "part-old.parquet"
    ]
    assert os.listdir(os.path.join(live, "bucket=2")) == ["part-new.parquet"]
    assert not os.path.exists(os.path.join(root, txn.PENDING))


def test_replace_target_resumes_from_a_crash_at_every_step(tmp_path, monkeypatch):
    """Crash the publish at each move and each aside sweep in turn: the
    aside copy is never beside a live table, a new write refuses, and the
    one recovery call, publish_pending_batch, lands both tables with no
    aside left anywhere."""
    real_move, real_rmtree = shutil.move, shutil.rmtree
    step = 0
    while True:
        step += 1
        root = str(tmp_path / f"idx{step}")
        stage, targets = _replace_layout(root)
        calls = {"n": 0}

        def crash_at_step(real):
            def wrapped(path, *args, **kwargs):
                if real is real_move or txn.ASIDE in str(path):
                    calls["n"] += 1
                    if calls["n"] == step:
                        raise OSError("injected crash")
                return real(path, *args, **kwargs)

            return wrapped

        monkeypatch.setattr(shutil, "move", crash_at_step(real_move))
        monkeypatch.setattr(shutil, "rmtree", crash_at_step(real_rmtree))
        try:
            staged_batch_publish(root, targets, stage, "t")
            crashed = False
        except OSError:
            crashed = True
        monkeypatch.setattr(shutil, "move", real_move)
        monkeypatch.setattr(shutil, "rmtree", real_rmtree)
        assert set(os.listdir(root)) <= {"centroids", "corpus", txn.PENDING}
        if not crashed:
            break
        with pytest.raises(RuntimeError, match="publish_pending_batch"):
            staged_batch_publish(root, targets, stage, "t")
        publish_pending_batch(root)
        _assert_replaced(root)
    _assert_replaced(root)
    # per table: pre-swap sweep, move aside, move in, post-swap sweep
    assert step == 4 * 2 + 1


def test_replace_target_unverified_stage_is_discarded(tmp_path):
    """A stage that dies before _STAGED_OK (a verification failure or a
    crash during the heavy writes) is never installed: the live tables
    are untouched, publish_pending_batch has nothing to publish, and the
    next write discards the half-stage."""
    root = str(tmp_path / "ivf")
    stage, targets = _replace_layout(root)

    def failing_stage(pend):
        stage(pend)
        raise RuntimeError("verification failed")

    with pytest.raises(RuntimeError, match="verification failed"):
        staged_batch_publish(root, targets, failing_stage, "t")
    assert not os.path.exists(os.path.join(root, txn.PENDING, txn.STAGED_OK))
    with pytest.raises(RuntimeError, match="no completed stage"):
        publish_pending_batch(root)
    for name in ("centroids", "corpus"):
        assert os.listdir(os.path.join(root, name)) == ["old.parquet"]
    staged_batch_publish(root, targets, stage, "t")
    _assert_replaced(root)


def test_replace_target_completes_verified_swap_and_leaves_no_aside(tmp_path, monkeypatch):
    """A completed replace stage whose publish crashed before any move is
    finished by publish_pending_batch; a second call finds nothing to do
    and leaves the settled layout as it is."""
    root = str(tmp_path / "ivf")
    stage, targets = _replace_layout(root)

    def crash_move(src, dst):
        raise OSError("injected crash")

    monkeypatch.setattr(shutil, "move", crash_move)
    with pytest.raises(OSError, match="injected"):
        staged_batch_publish(root, targets, stage, "t")
    monkeypatch.undo()
    assert os.path.exists(os.path.join(root, txn.PENDING, txn.STAGED_OK))
    publish_pending_batch(root)
    _assert_replaced(root)
    with pytest.raises(RuntimeError, match="no completed stage"):
        publish_pending_batch(root)
    _assert_replaced(root)


def test_two_field_manifest_still_publishes_as_append(tmp_path):
    """A stage whose _targets lines carry only (staged subdir, live dir)
    — the manifest format before replace targets — publishes each line
    as an append."""
    root = str(tmp_path / "idx")
    live = str(tmp_path / "live")
    os.makedirs(live)
    open(os.path.join(live, "part-old.parquet"), "w").close()
    pend = os.path.join(root, txn.PENDING)
    os.makedirs(os.path.join(pend, "data"))
    open(os.path.join(pend, "data", "part-new.parquet"), "w").close()
    with open(os.path.join(pend, txn.TARGETS), "w") as f:
        f.write(f"data\t{live}\n")
    open(os.path.join(pend, txn.STAGED_OK), "w").close()
    publish_pending_batch(root)
    assert sorted(os.listdir(live)) == ["part-new.parquet", "part-old.parquet"]
    assert not os.path.exists(pend)
