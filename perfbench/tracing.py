"""Tracing for the benchmark: spans, call counters, the Spark event log
and process memory.

Everything here runs in the benchmark's one driver thread. Spans and
counters stay in memory and are written out once, when the run ends. The
event-log parser copies the job/stage/driver-gap logic of
``tools/profile_query.py`` (that tool is slated for removal) and adds
task CPU, GC, spill and input/output records and bytes.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import time


class Tracer:
    """Span recorder. A disabled tracer records nothing, so untraced and
    traced runs execute the same benchmark code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self.op_id: "int | None" = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "op": self.op_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, key: str, value: float = 1) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")

    def uncovered_s(self, op_span: int) -> float:
        """Wall time of span ``op_span`` that none of its children cover."""
        s = self.spans[op_span]
        kids = [(c["start"], c["end"]) for c in self.spans if c["parent"] == op_span]
        return max(0.0, (s["end"] - s["start"]) - _union_len(kids, s["start"], s["end"]))


def _union_len(intervals, lo: float, hi: float) -> float:
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def install_wrappers(tracer: Tracer):
    """Count and time the library's public helpers the issue names:
    ``util.literal_frame``, ``util.persist_once`` and the four Lara
    operators on ``LaraTable``. Modules bind ``literal_frame`` by name at
    import, so every loaded ``laradb_spark`` module attribute that is the
    original function is replaced, not only the one in ``util``.
    Returns a function that restores the originals."""
    import laradb_spark.table as table
    import laradb_spark.util as util

    undo: list[tuple] = []

    def patch(owner, name, value):
        undo.append((owner, name, owner.__dict__[name] if isinstance(owner, type) else getattr(owner, name)))
        setattr(owner, name, value)

    def timed(fn, key: str, span: bool):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            t0 = time.time()
            try:
                if span:
                    with tracer.span(key):
                        return fn(*a, **kw)
                return fn(*a, **kw)
            finally:
                tracer.add(f"{key}.calls")
                tracer.add(f"{key}.s", time.time() - t0)
        return wrapper

    for name in ("literal_frame", "persist_once"):
        orig = getattr(util, name)
        new = timed(orig, name, span=True)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("laradb_spark") and getattr(mod, name, None) is orig:
                patch(mod, name, new)
    # A Lara operator calls others (union_many → union), so only the
    # outermost call adds driver build time.
    depth = [0]

    def lara(fn, key):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            depth[0] += 1
            t0 = time.time()
            try:
                return fn(*a, **kw)
            finally:
                depth[0] -= 1
                tracer.add(f"table.{key}.calls")
                if depth[0] == 0:
                    tracer.add("table.build_s", time.time() - t0)
        return wrapper

    for key in ("ext", "union", "join", "agg"):
        patch(table.LaraTable, key, lara(getattr(table.LaraTable, key), key))
    union_many = table.LaraTable.__dict__["union_many"].__func__
    patch(table.LaraTable, "union_many", staticmethod(lara(union_many, "union")))

    def restore():
        for owner, name, value in reversed(undo):
            setattr(owner, name, value)

    return restore


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def event_log_conf(events_dir: str) -> list[str]:
    """spark-submit ``--conf`` flags that turn the event log on. They must
    be set before the JVM starts."""
    return [
        "spark.eventLog.enabled=true",
        f"spark.eventLog.dir=file://{events_dir}",
        "spark.eventLog.compress=false",
        "spark.eventLog.rolling.enabled=false",
    ]


def parse_event_log(path: str) -> tuple[dict, dict]:
    """Jobs ``{id: {t0, t1, stages}}`` and per-stage task sums."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    zero = dict.fromkeys((
        "tasks", "task_s", "task_cpu_s", "gc_s", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "input_records", "input_bytes",
        "output_records", "output_bytes"), 0)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "t0": ev["Submission Time"] / 1000.0,
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif e == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], dict(zero))
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                im = m.get("Input Metrics") or {}
                om = m.get("Output Metrics") or {}
                st["tasks"] += 1
                st["task_s"] += m.get("Executor Run Time", 0) / 1e3
                st["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                st["input_records"] += im.get("Records Read", 0)
                st["input_bytes"] += im.get("Bytes Read", 0)
                st["output_records"] += om.get("Records Written", 0)
                st["output_bytes"] += om.get("Bytes Written", 0)
    return jobs, stages


def op_engine_metrics(jobs: dict, stages: dict, t0: float, t1: float, cores: int) -> dict:
    """Engine totals for the jobs submitted inside one op's window. Ops
    run one at a time, so the submission time attributes each job."""
    sel = sorted((j for j in jobs.values() if t0 <= j["t0"] <= t1 and "t1" in j),
                 key=lambda j: j["t0"])
    out = dict.fromkeys((
        "tasks", "task_s", "task_cpu_s", "gc_s", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "input_records", "output_records",
        "output_bytes"), 0.0)
    seen: set[int] = set()
    for j in sel:
        for sid in j["stages"]:
            if sid in seen or sid not in stages:
                continue  # skipped stages (reused shuffle output) ran no tasks
            seen.add(sid)
            for k in out:
                out[k] += stages[sid][k]
    out["jobs"] = len(sel)
    out["stages"] = len(seen)
    wall = max(t1 - t0, 1e-9)
    out["driver_gap_s"] = wall - _union_len([(j["t0"], j["t1"]) for j in sel], t0, t1)
    out["core_util"] = out["task_s"] / (wall * cores)
    return out


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss_mb(root_pid: int) -> float:
    """Summed resident memory of ``root_pid`` and all its descendants: the
    driver, the JVM it launched and the JVM's Python workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass  # exited between the listing and the read
    return total / 2**20
