"""The one commit protocol for stored-index writes.

Every write that changes a stored index — the foreachBatch ingest loops,
``bm25_append_index`` and ``bm25_index_stream``, ``minhash_index_update``,
``ivf_recenter_index`` and the layout compactions — stages and publishes
through this module, and this module is the only code that knows the
on-disk stage layout:

- the write's outputs all land under ``{root}/_append_pending/<key>``
  first; none of the live tables is touched until staging completes;
- the ``_targets`` manifest records, per staged key, its live directory
  and whether it APPENDS (part-files move in, hive partition
  subdirectories such as ``bucket=N/`` kept) or REPLACES (the staged
  directory is swapped in rename-aside; the aside copy goes under
  ``_append_pending/_aside`` and is swept on every publish, a retry
  included). A two-field manifest line is an append;
- a stream's applied-marker is staged INSIDE the pending dir (under
  ``_markers/``) BEFORE the ``_STAGED_OK`` flag lands, so a stage is never
  "complete" without its ownership record — publish then lands data and
  marker together (the FUSED commit point: there is no crash window between
  publish and marker write through which a redelivery could re-append);
- publish is a short sequence of file moves, each tolerant of the thing it
  moves being already gone, so it is idempotent-resumable after ANY crash,
  and ``publish_pending_batch(root)`` is the one recovery call for every
  index;
- a completed stage found by a new write is a crashed publish: offline
  writes refuse (re-staging would double-count the published part), and a
  stream refuses unless the stage carries its own batch's marker —
  publishing a foreign stage and marking the batch applied would silently
  drop the batch's own data. Both direct the operator to
  :func:`publish_pending_batch`.

``root`` is the loop's stateful store (its index path): the pending dir,
the markers, and the txn metadata all live under it, and Spark/Hadoop
listing ignores underscore-prefixed children, so readers of the index
never see the machinery.

Single-writer contract (shared with every rewrite op in the package):
one maintainer per ``root`` at a time — the stream IS that writer while
it runs. Since r15 the contract is ENFORCED, not just documented:
every mutating entry point takes :func:`writer_lock` (a create-exclusive
``{root}/_WRITER_LOCK`` sentinel, stale-broken by age), so a second
concurrent maintainer gets a loud refusal naming the holder instead of
a silent two-writer corruption.

Applied-marker retention: each published batch leaves one empty marker
file under ``{root}/_stream_applied``. Markers exist only to detect
foreachBatch redelivery, and Spark's checkpoint makes every batch id
below the one currently being delivered undeliverable — so
:func:`exactly_once_apply` sweeps markers more than ``MARKER_RETAIN``
ids behind the current batch after each publish, bounding the directory
at ``MARKER_RETAIN + 1`` files for the life of the stream. (The retain
margin is pure paranoia: correctness needs only the current id.)
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from collections.abc import Callable

PENDING = "_append_pending"
STAGED_OK = "_STAGED_OK"
MARKERS = "_markers"
APPLIED = "_stream_applied"
TARGETS = "_targets"
ASIDE = "_aside"
WRITER_LOCK = "_WRITER_LOCK"
MARKER_RETAIN = 8


@contextlib.contextmanager
def writer_lock(root: str, name_hint: str, stale_after_s: float = 6 * 3600.0):
    """Enforce the one-maintainer-per-root contract (VERDICT r14 #5).

    Create-exclusive ``{root}/_WRITER_LOCK`` (underscore-prefixed, so
    Spark/Hadoop listing never surfaces it to readers). A second writer
    gets a RuntimeError naming the holder. A crashed writer leaks its
    lock; a lock older than ``stale_after_s`` (default 6 h — far above
    any maintenance op here) is broken automatically, and the refusal
    message tells the operator to remove the file when the holder is
    known dead sooner. Held per-operation (one micro-batch publish, one
    recenter, one compaction), released in ``finally`` — so a clean stop
    never leaks."""
    os.makedirs(root, exist_ok=True)
    lock = os.path.join(root, WRITER_LOCK)

    def _acquire() -> int:
        return os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)

    try:
        fd = _acquire()
    except FileExistsError:
        try:
            age = time.time() - os.path.getmtime(lock)
            holder = open(lock).read().strip()
        except FileNotFoundError:  # holder released between open and stat
            fd = _acquire()
        else:
            if age <= stale_after_s:
                raise RuntimeError(
                    f"{name_hint}: another maintainer holds {lock} "
                    f"({holder or 'no info'}, age {age:.0f}s). One writer "
                    "per index root — wait for it, or if the holder "
                    "crashed, remove the lock file and retry."
                )
            os.remove(lock)  # stale: holder died stale_after_s+ ago
            fd = _acquire()
    with os.fdopen(fd, "w") as f:
        f.write(f"pid={os.getpid()} op={name_hint} t={time.time():.0f}\n")
    try:
        yield
    finally:
        try:
            os.remove(lock)
        except FileNotFoundError:  # pragma: no cover - operator removed it
            pass


class Replace(str):
    """A ``targets`` value whose staged directory REPLACES the live one
    whole (the merged BM25 stats, a recentered IVF corpus, a compacted
    list). A plain ``str`` value is an APPEND target: the staged
    part-files join the live directory, hive partition subdirectories
    (``bucket=N/``, ``cid=N/``) kept."""


def _read_targets(pend: str) -> list[tuple[str, str, bool]]:
    """``(staged subdir, live dir, replace?)`` per manifest line. A
    two-field line (the pre-replace manifest format) is an append."""
    out = []
    with open(os.path.join(pend, TARGETS)) as f:
        for line in f:
            line = line.rstrip("\n")
            if line:
                sub, tgt, *mode = line.split("\t")
                out.append((sub, tgt, mode == ["replace"]))
    return out


def _move_parts(staged: str, live: str) -> None:
    """Move every parquet part-file under ``staged`` to the same relative
    path under ``live``. Spark part-file names carry task UUIDs, so moves
    never collide; a file already moved is simply no longer listed."""
    os.makedirs(live, exist_ok=True)
    for dirpath, _dirs, files in os.walk(staged):
        dest = os.path.normpath(os.path.join(live, os.path.relpath(dirpath, staged)))
        for fname in sorted(files):
            if fname.endswith(".parquet"):
                os.makedirs(dest, exist_ok=True)
                shutil.move(os.path.join(dirpath, fname), os.path.join(dest, fname))
    shutil.rmtree(staged)


def _swap_in(staged: str, live: str, aside: str) -> None:
    """Rename-aside swap of ``staged`` over ``live``. The aside copy goes
    under the pending dir, never beside the live table, and is swept
    unconditionally — a retry after a crash between the swap and the
    sweep still leaves no stale copy."""
    if os.path.isdir(staged):
        if os.path.isdir(live):
            shutil.rmtree(aside, ignore_errors=True)
            os.makedirs(os.path.dirname(aside), exist_ok=True)
            shutil.move(live, aside)
        # live absent here: renamed aside by this call, or by a publish
        # that crashed before its move — the staged table still lands
        os.makedirs(os.path.dirname(live), exist_ok=True)
        shutil.move(staged, live)
    shutil.rmtree(aside, ignore_errors=True)


def publish_pending_batch(root: str) -> None:
    """Publish the completed stage at ``{root}/_append_pending`` — the one
    recovery call for every stored index: per ``_targets`` manifest line,
    move an APPEND target's part-files into its live directory (partition
    subdirectories kept) or swap a REPLACE target in rename-aside; land
    the staged applied-markers into ``{root}/_stream_applied``; then drop
    the pending dir. Every step tolerates its object being already
    moved/created, so after ANY crash mid-publish calling this again
    completes the batch exactly once — data and marker together.

    The final teardown unlinks ``_STAGED_OK`` BEFORE rmtree-ing the
    pending dir (ADVICE r14): rmtree's removal order is unspecified, so
    a crash mid-rmtree could otherwise delete the ``_targets`` manifest
    while ``_STAGED_OK`` survived — and the documented retry would then
    die reading the manifest instead of completing. With the single
    atomic unlink first, everything is already live at that point, a
    crash leaves only an un-marked half-stage, and "no completed stage
    at {pend}" from a retry means the publish in fact COMPLETED (the
    next writer discards the husk)."""
    pend = os.path.join(root, PENDING)
    ok = os.path.join(pend, STAGED_OK)
    if not os.path.exists(ok):
        raise RuntimeError(
            f"publish_pending_batch: no completed stage at {pend}; nothing "
            "to publish (an un-marked pending dir is either an aborted "
            "stage — re-run the write, which discards and restages it — "
            "or the husk of a publish that already completed)."
        )
    for sub, tgt, replace in _read_targets(pend):
        staged = os.path.join(pend, sub)
        if replace:
            _swap_in(staged, tgt, os.path.join(pend, ASIDE, sub))
        elif os.path.isdir(staged):  # absent: moved by a crashed publish
            _move_parts(staged, tgt)
    markers = os.path.join(pend, MARKERS)
    if os.path.isdir(markers):
        applied = os.path.join(root, APPLIED)
        os.makedirs(applied, exist_ok=True)
        for fname in sorted(os.listdir(markers)):
            open(os.path.join(applied, fname), "w").close()
    os.remove(ok)  # atomic commit-of-teardown: data + markers are live
    shutil.rmtree(pend)


def _batch_marker_id(fname: str) -> "int | None":
    if fname.startswith("batch_"):
        try:
            return int(fname[len("batch_"):])
        except ValueError:
            return None
    return None


def sweep_applied_markers(root: str, current_batch_id: int) -> int:
    """Drop applied-markers that can never be redelivered (ADVICE r14):
    Spark delivers foreachBatch ids monotonically per checkpoint, and a
    batch below the one currently being delivered is already committed
    in the checkpoint — undeliverable. Keeping ``MARKER_RETAIN`` ids of
    slack costs nothing and guards against operator off-by-ones. Only
    ``batch_<int>``-shaped names are touched. Returns the sweep count.

    Caveat (pre-existing semantics, now load-bearing for the sweep too):
    restarting a stream with a FRESH checkpoint re-numbers batches from
    0 against the same root — that is a re-ingest, not a redelivery, and
    markers (swept or not) are not the dedup mechanism for it."""
    applied = os.path.join(root, APPLIED)
    if not os.path.isdir(applied):
        return 0
    floor = int(current_batch_id) - MARKER_RETAIN
    swept = 0
    for fname in os.listdir(applied):
        bid = _batch_marker_id(fname)
        if bid is not None and bid < floor:
            os.remove(os.path.join(applied, fname))
            swept += 1
    return swept


def _stage_and_publish(
    root: str,
    stage: "Callable[[str], dict | None]",
    targets: "dict[str, str] | None",
    marker: "str | None" = None,
) -> None:
    """The commit tail both entry points share: discard any aborted
    half-stage (nothing of it was published), run ``stage(pend)``, then
    land the ``_targets`` manifest, the applied-marker (BEFORE
    ``_STAGED_OK``, so a stage is never complete without its ownership
    record) and ``_STAGED_OK``, and publish. ``targets=None`` takes the
    mapping ``stage`` returns; an empty one commits nothing."""
    pend = os.path.join(root, PENDING)
    if os.path.isdir(pend):
        shutil.rmtree(pend)
    returned = stage(pend)
    targets = returned if targets is None else targets
    if not targets and marker is None:
        shutil.rmtree(pend, ignore_errors=True)
        return
    os.makedirs(pend, exist_ok=True)
    with open(os.path.join(pend, TARGETS), "w") as f:
        for sub, tgt in sorted(targets.items()):
            mode = "replace" if isinstance(tgt, Replace) else "append"
            f.write(f"{sub}\t{os.path.abspath(tgt)}\t{mode}\n")
    if marker is not None:
        os.makedirs(os.path.join(pend, MARKERS), exist_ok=True)
        open(os.path.join(pend, MARKERS, marker), "w").close()
    open(os.path.join(pend, STAGED_OK), "w").close()
    publish_pending_batch(root)


def staged_batch_publish(
    root: str,
    targets: "dict[str, str] | None",
    stage: "Callable[[str], dict | None]",
    name_hint: str,
) -> None:
    """Batch-side staged commit — the marker-less sibling of
    :func:`exactly_once_apply` for OFFLINE index writes (BM25 append,
    IVF recenter, layout compaction, the minhash sigs+bands pair): every
    table the write touches stages under ``{root}/_append_pending`` and
    publishes together, so a crash never leaves them inconsistent.

    ``targets`` maps each staged subdirectory to its live directory
    (:class:`Replace` marks a whole-table swap). Pass ``None`` when the
    targets depend on what ``stage`` reads of the live layout — it then
    returns the mapping, read under the writer lock like the rest of the
    stage. A completed stage found on disk is a previous writer's crashed
    publish: this function refuses (re-staging would double-append the
    published part) and directs to :func:`publish_pending_batch`; an
    un-marked half-stage is discarded and restaged."""
    with writer_lock(root, name_hint):
        pend = os.path.join(root, PENDING)
        if os.path.exists(os.path.join(pend, STAGED_OK)):
            raise RuntimeError(
                f"{name_hint}: found a fully-staged pending write at {pend} "
                "— a previous write crashed DURING publish. Run "
                "laradb_spark.streaming.txn.publish_pending_batch(root) to "
                "finish it; re-running the write would double-count the "
                "published part."
            )
        _stage_and_publish(root, stage, targets)


def exactly_once_apply(
    root: str,
    batch_id: int,
    name_hint: str,
    stage: "Callable[[str], None]",
    targets: "dict[str, str]",
) -> None:
    """The shared exactly-once ``foreachBatch`` skeleton. Call from inside
    a loop's ``_apply(batch_df, batch_id)``:

    - this batch's applied-marker already present → no-op (redelivery of
      a fully-committed batch);
    - a completed stage CARRYING this batch's marker → finish its publish
      (crash-during-publish recovery — never re-stage, the staged data IS
      this batch's);
    - a completed stage whose markers are ALL already in
      ``{root}/_stream_applied`` → a fully-published leftover of an
      earlier batch (the writer crashed between landing its markers and
      dropping the pending dir — ADVICE r14): its data and markers are
      live, so finish the teardown and CONTINUE with this batch instead
      of refusing;
    - a completed stage WITHOUT this batch's marker that is not such a
      leftover → raise (foreign writer's crashed publish; see module
      docstring);
    - otherwise: discard any half-stage (nothing was published, so a
      re-run recomputes the identical decision against the unchanged
      index), call ``stage(pend)`` — which must write each output as
      parquet under ``{pend}/<key>`` for every key in ``targets`` — then
      land the manifest + marker + ``_STAGED_OK`` and publish.

    ``targets`` maps each staged subdirectory to its live directory, as
    in :func:`staged_batch_publish`. The stage callback's reads of the
    live index are safe by construction: staging never mutates live
    tables, so a crash anywhere inside ``stage`` leaves the loop
    re-runnable."""
    name = f"batch_{int(batch_id)}"
    if os.path.exists(os.path.join(root, APPLIED, name)):
        return
    with writer_lock(root, name_hint):
        pend = os.path.join(root, PENDING)
        if os.path.exists(os.path.join(pend, STAGED_OK)):
            if os.path.exists(os.path.join(pend, MARKERS, name)):
                publish_pending_batch(root)
                sweep_applied_markers(root, batch_id)
                return
            if not _is_published_leftover(root, pend):
                raise RuntimeError(
                    f"{name_hint}: found a completed pending stage at "
                    f"{pend} that does NOT belong to this micro-batch "
                    f"({name}) — a foreign writer crashed mid-publish "
                    "before this stream ran. Publishing it here would "
                    "mark this batch applied without ingesting its data. "
                    "Run laradb_spark.streaming.txn.publish_pending_batch"
                    "(root) first, then restart the stream."
                )
            # its data AND markers are already live — the writer crashed
            # between landing markers and dropping pend (ADVICE r14).
            # Finish the teardown (idempotent: the staged dirs are gone,
            # markers re-create as no-ops) and stage THIS batch.
            publish_pending_batch(root)
        _stage_and_publish(root, stage, targets, marker=name)
        sweep_applied_markers(root, batch_id)


def _is_published_leftover(root: str, pend: str) -> bool:
    """True iff the completed stage at ``pend`` is a fully-published
    leftover: it carries at least one marker and EVERY marker name is
    already present in ``{root}/_stream_applied``. Markers land strictly
    AFTER the data moves in :func:`publish_pending_batch`, so all-markers-
    applied proves the data moves completed too. A marker-less stage
    (an offline ``staged_batch_publish`` crash) never qualifies — that
    path has no applied-record to prove publication by, and auto-
    publishing it would paper over a single-writer-contract violation."""
    markers = os.path.join(pend, MARKERS)
    if not os.path.isdir(markers):
        return False
    names = os.listdir(markers)
    applied = os.path.join(root, APPLIED)
    return bool(names) and all(
        os.path.exists(os.path.join(applied, n)) for n in names
    )
