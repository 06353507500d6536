"""Layered benchmark for laradb_spark.

    python3 perfbench/run.py --workload serve|batch --seed N \\
        --seconds S --trace 0|1

Run from the root of a laradb_spark checkout. One process: it generates
the workload's inputs from the seed, starts a Spark session on
``local[<cores>]``, sets up, then runs whole rounds of ops until at least
``--seconds`` have passed. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``
(event log on, spans recorded). The line before it is the full record
(seed, git SHA, cores, Spark version, input sizes, check results, every
end-to-end figure with its unit, per-kind latencies). Everything the run writes goes
under ``.perfbench/`` in the checkout. ``perfbench/README.md`` says what
each workload and metric is for.
"""

from __future__ import annotations

import time

T_PROCESS_START = time.time()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
if __name__ == "__main__" and not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
                                   and os.path.isdir(os.path.join(ROOT, "laradb_spark"))):
    sys.exit(f"perfbench: {ROOT} is not a laradb_spark checkout")

from perfbench import tracing as T  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    BATCH_QUERIES, OP_TIMEOUT_S, SERVE_ORACLES, WORKLOADS, Op, Sizes)

# The end-to-end metrics of the result line: each one never 0, and steady
# enough across runs for a bound.
E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "input_rows_per_s": "rows/s",
}
# End-to-end figures the full record carries but the result line does
# not. ``failed_op_ratio`` is 0 on a healthy run, and is the result line's
# ``failed`` / ``attempted``. The tail is the maximum of under 20 rounds, and
# the peak RSS follows the JVM's heap growth; in trials of three to five
# seeds each spread by 20% to 58% of its median, beyond the largest bound.
# With one client, ``ops_per_s`` is the inverse of the mean latency and
# spread more across ten seeds than the latency and row rate did.
RECORD_UNITS = {"ops_per_s": "1/s", "latency_tail_s": "s", "peak_rss_mb": "MB",
                "failed_op_ratio": "ratio"}
SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "task_s": "s",
    "task_cpu_s": "s", "gc_s": "s", "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B", "spill_bytes": "B", "input_records": "count",
    "output_bytes": "B", "driver_gap_s": "s", "core_util": "ratio",
    "input_records_per_result_row": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, in a fixed order. A
    layer the workload does not run reads 0."""
    units = {"session.start_s": "s", "index_build_s": "s"}
    for kind in SERVE_ORACLES:
        units.update({f"{kind}.build_s": "s", f"{kind}.exec_s": "s", f"{kind}.jobs": "count"})
    units.update({"sensor.toX_s": "s", "sensor.toU_s": "s", "sensor.toC_s": "s",
                  "table.build_s": "s", "table.exec_s": "s"})
    for q in BATCH_QUERIES:
        units.update({f"{q}.build_s": "s", f"{q}.exec_s": "s"})
    units.update({"ingest.drain_s": "s", "ingest.startup_s": "s", "ingest.index_files": "count",
                  "ingest.bytes_written_per_doc": "B",
                  "literal_frame.calls": "count", "literal_frame.s": "s",
                  "persist_once.calls": "count"})
    units.update({f"spark.{k}": u for k, u in SPARK_UNITS.items()})
    units.update({"trace.uncovered_s": "s", "trace.latency_p50_s": "s"})
    return units


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, events_dir: "str | None"):
    """Spark session through the library's own factory, with every file it
    writes kept under ``work`` and the repo root on the workers' path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    # A JVM writes its perf counters under /tmp whatever java.io.tmpdir says.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    conf = [
        f"spark.sql.warehouse.dir={work}/warehouse",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        "spark.ui.showConsoleProgress=false",
    ] + (T.event_log_conf(events_dir) if events_dir else [])
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in conf) + " pyspark-shell"
    from laradb_spark.session import get_spark

    return get_spark("perfbench")


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.time() + 30
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def _descendants(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as f:
                if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                    out.append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    return out


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it. Below
    20 samples that percentile would sit under the median, so the
    maximum is reported instead; the label names which was used."""
    v = sorted(values)
    n = len(v)
    if n >= 20:
        return v[n - 11], f"p{100 * (n - 10) // n}"
    return v[-1], "max"


def run(spark, workload: str, seed: int, seconds: float, trace: bool, work: str,
        sizes: Sizes = Sizes(), session_start_s: float = 0.0,
        t_process_start: "float | None" = None) -> dict:
    """Set up and measure one workload on a running session. Returns the
    full record; ``record["result"]`` is the contract's JSON object."""
    tracer = T.Tracer(trace)
    rss = RssPeak()
    wl = WORKLOADS[workload](spark, work, seed, tracer, sizes)
    t_start = T_PROCESS_START if t_process_start is None else t_process_start
    wl.setup()
    rss.sample()
    restore = T.install_wrappers(tracer) if trace else None
    ops: list[Op] = []
    rounds: list[list[Op]] = []
    try:
        t0 = time.time()
        setup_s = t0 - t_start
        while not ops or time.time() - t0 < seconds:
            n = len(ops)
            for kind, rows_in, fn in wl.round():
                ops.append(run_op(spark, tracer, len(ops), kind, rows_in, fn))
                rss.sample()
            rounds.append(ops[n:])
        t1 = time.time()
    finally:
        if restore:
            restore()
    wl.final_check()
    rss.sample()

    good = [o for o in ops if o.ok]
    failed = len(ops) - len(good) + sum(1 for _, err in wl.checks if err)
    attempted = len(ops) + len(wl.checks)
    # A round is one op on serve and one pass of mixed ops on batch, so
    # latencies are per round: the median of a pass's ops would fall in
    # the gap between two kinds' times.
    walls = [r[-1].t1 - r[0].t0 for r in rounds]
    tail_s, tail_label = tail(walls)
    kinds = list(dict.fromkeys(o.kind for o in good))
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(walls),
        "latency_tail_s": tail_s,
        "ops_per_s": len(good) / (t1 - t0),
        "input_rows_per_s": statistics.median(
            sum(o.rows_in for o in r if o.ok) / w for r, w in zip(rounds, walls)),
        "peak_rss_mb": rss.peak,
        "failed_op_ratio": failed / attempted,
    }
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "git_sha": git_sha(), "cores": cores(), "spark_version": spark.version,
        "input_rows": wl.rows, "ops": len(ops),
        "op_walls_s": [[o.kind, o.wall] for o in ops],
        # The end-to-end figures of each op kind, for workloads that mix kinds.
        "op_latency_s": {k: statistics.median(o.wall for o in good if o.kind == k) for k in kinds},
        "op_rows_per_s": {k: sum(o.rows_in for o in good if o.kind == k)
                          / sum(o.wall for o in good if o.kind == k) for k in kinds},
        "setup_layers_s": wl.layers,
        "latency_tail_percentile": tail_label,
        "checks": {name: err or "ok" for name, err in wl.checks},
        "end_to_end": {k: {"value": v, "unit": {**E2E_UNITS, **RECORD_UNITS}[k]}
                       for k, v in e2e.items()},
    }
    if trace:
        layers = layer_metrics(spark, wl, ops, tracer, session_start_s, e2e["latency_p50_s"])
        record["per_layer"] = layers
        # Each op's wall time that no child span covers.
        record["op_uncovered_s"] = [[o.kind, tracer.uncovered_s(o.span)] for o in ops if o.ok]
        metrics = {k: {"value": layers[k], "unit": u} for k, u in per_layer_units().items()}
        tracer.write(os.path.join(os.path.dirname(work), "traces", f"{workload}-s{seed}-spans.jsonl"))
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    record["result"] = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                        "metrics": metrics}
    return record


class OpTimeout(Exception):
    pass


def _alarm(signum, frame):
    raise OpTimeout(f"op still running after {OP_TIMEOUT_S:.0f}s")


def run_op(spark, tracer, op_id: int, kind: str, rows_in: int, fn) -> Op:
    """Run one op. An op that raises, or is still running after
    ``OP_TIMEOUT_S`` (a SIGALRM interrupts the driver's wait and its Spark
    jobs are cancelled), is a failed op; the loop goes on."""
    op = Op(kind, rows_in)
    tracer.op_id = op_id
    op.span = len(tracer.spans)
    previous = signal.signal(signal.SIGALRM, _alarm)
    with tracer.span(f"op.{kind}"):
        op.t0 = time.time()
        try:
            signal.setitimer(signal.ITIMER_REAL, OP_TIMEOUT_S)
            op.parts = fn()
            op.ok = True
        except Exception as e:
            import traceback

            traceback.print_exc()
            if isinstance(e, OpTimeout):
                spark.sparkContext.cancelAllJobs()
        finally:
            signal.setitimer(signal.ITIMER_REAL, 0)
            signal.signal(signal.SIGALRM, previous)
        op.t1 = time.time()
    tracer.op_id = None
    return op


class RssPeak:
    """Peak of the summed RSS of this process and its descendants, sampled
    at op boundaries (the benchmark starts no sampling thread)."""

    def __init__(self):
        self.peak = 0.0

    def sample(self) -> None:
        self.peak = max(self.peak, T.tree_rss_mb(os.getpid()))


def layer_metrics(spark, wl, ops: list[Op], tracer, session_start_s: float, p50: float) -> dict:
    units = per_layer_units()
    out = dict.fromkeys(units, 0.0)
    good = [o for o in ops if o.ok]
    n_rounds = max(1, sum(o.kind == good[0].kind for o in good)) if good else 1
    out["session.start_s"] = session_start_s
    out["index_build_s"] = wl.layers.get("index_build_s", 0.0)

    def med(kind: str, part: str) -> float:
        vals = [o.parts[part] for o in good if o.kind == kind and part in o.parts]
        return statistics.median(vals) if vals else 0.0

    for o in good:
        for part in o.parts:
            key = f"{o.kind}.{part}"
            if key in out:
                out[key] = med(o.kind, part)
    out["table.exec_s"] = sum(out[f"{q}.exec_s"] for q in BATCH_QUERIES if q.startswith("lara_"))
    out["table.build_s"] = tracer.counts.get("table.build_s", 0.0) / n_rounds
    per_op = max(1, len(ops))
    for key in ("literal_frame.calls", "literal_frame.s", "persist_once.calls"):
        out[key] = tracer.counts.get(key, 0.0) / per_op

    # Engine metrics from the event log, attributed to ops by time window.
    jobs, stages = read_event_log(spark)
    eng = [(o, T.op_engine_metrics(jobs, stages, o.t0, o.t1, cores())) for o in good]
    for k in SPARK_UNITS:
        if k != "input_records_per_result_row":
            out[f"spark.{k}"] = sum(m[k] for _, m in eng) / max(1, len(eng))
    result_rows = sum(wl.result_rows.get(o.kind, o.rows_in) for o in good)
    out["spark.input_records_per_result_row"] = (
        sum(m["input_records"] for _, m in eng) / max(1, result_rows))
    for kind in SERVE_ORACLES:
        ms = [m["jobs"] for o, m in eng if o.kind == kind]
        out[f"{kind}.jobs"] = statistics.mean(ms) if ms else 0.0

    ingest = [(o, m) for o, m in eng if o.kind == "ingest"]
    if ingest:
        # Drain start to the stream's first job: micro-batch start-up.
        starts = [min((j["t0"] for j in jobs.values() if o.parts["drain_t0"] <= j["t0"] <= o.t1),
                      default=o.t1) - o.parts["drain_t0"] for o, _ in ingest]
        out["ingest.startup_s"] = statistics.median(starts)
        n_files, n_bytes = wl.ingest.stored_bytes()
        out["ingest.index_files"] = n_files
        out["ingest.bytes_written_per_doc"] = n_bytes / (wl.ingest.n_batches * wl.sizes.ingest_docs)

    spans = [tracer.uncovered_s(o.span) for o in good]
    out["trace.uncovered_s"] = statistics.median(spans) if spans else 0.0
    out["trace.latency_p50_s"] = p50
    return out


def read_event_log(spark) -> tuple[dict, dict]:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    d = sc.getConf().get("spark.eventLog.dir").removeprefix("file://")
    base = os.path.join(d, sc.applicationId)
    return T.parse_event_log(base + ".inprogress" if os.path.exists(base + ".inprogress") else base)


def tracing_overhead(results: str, record: dict) -> "dict | None":
    """The traced run's median op latency against the untraced run of the
    same workload and seed in this checkout (``None`` if there is none):
    what the event log, spans and wrappers cost."""
    path = os.path.join(results, f"{record['workload']}-s{record['seed']}-t0.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        untraced = json.load(f)["end_to_end"]["latency_p50_s"]["value"]
    traced = record["per_layer"]["trace.latency_p50_s"]
    return {"untraced_latency_p50_s": untraced, "traced_latency_p50_s": traced,
            "ratio": traced / untraced - 1.0}


def git_sha() -> str:
    """HEAD of the checkout, read from ``.git`` without running git; a
    checkout without ``.git`` reports ``unknown``."""
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
        if head.startswith("ref: "):
            ref = head[5:]
            ref_path = os.path.join(ROOT, ".git", ref)
            if os.path.exists(ref_path):
                with open(ref_path) as f:
                    return f.read().strip()
            with open(os.path.join(ROOT, ".git", "packed-refs")) as f:
                for line in f:
                    if line.rstrip().endswith(" " + ref):
                        return line.split()[0]
        return head
    except OSError:
        pass
    return "unknown"


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"run-{args.workload}-s{args.seed}-{os.getpid()}")
    events = os.path.join(work, "events") if args.trace else None
    if events:
        os.makedirs(events)
    try:
        t = time.time()
        spark = start_session(work, events)
        session_start_s = time.time() - t
        try:
            record = run(spark, args.workload, args.seed, args.seconds, bool(args.trace), work,
                         session_start_s=session_start_s)
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = os.path.join(out_dir, "results")
    os.makedirs(results, exist_ok=True)
    if args.trace:
        record["tracing_overhead"] = tracing_overhead(results, record)
    with open(os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: v for k, v in record.items() if k != "result"}))
    print(json.dumps(record["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
