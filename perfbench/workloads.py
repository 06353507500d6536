"""The benchmark's workloads.

Each workload generates its inputs from the seed, sets up (index build or
weight training, then one checked call of every op kind, which is also
the warm-up), and then yields rounds of ops for the timed loop. An op is
one call into the library's public functions, forced with the ``noop``
sink where it returns a DataFrame. Why each workload exists is in
``perfbench/README.md``.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow.parquet as pq

from perfbench import data as D
from perfbench.check import Oracle, compare, compare_close

# Registry queries of the batch pass, with the input table each one reads
# (its rows are the op's input rows): the four Lara kernels, then the
# curation queries. Every query costs a run its checked warm-up call as
# well as its timed call, so the pass keeps only the two curation queries
# that took longest at 10x sf0.1 on a 4-core host (5.1 s and 3.9 s);
# README.md lists the ones left out.
BATCH_QUERIES = {
    "lara_wordcount": "documents",
    "lara_wordcount_py": "documents",
    "lara_matmul_event_gram": "events",
    "lara_union_quarters": "orders",
    "dedup_minhash_lsh_fast": "documents",
    "c4_line_clean": "documents",
}
# Serve kinds and the registry query whose oracle checks each of them.
# Hybrid search reads both a BM25 index and a flat IVF index. The PQ,
# residual IVF-PQ and BM25-PRF kinds are left out: each adds an index
# build, a checked call and a warm-up call to every run's set-up, and
# mixing kinds put the median latency between two kinds' figures.
SERVE_ORACLES = {
    "hybrid": "hybrid_rrf_topk",
}
# The serve indexes use the registry's ANN recipe (bench.py's serve twins).
N_CENTROIDS = 16
N_PROBE = 4
WARM_ROUNDS = 3  # untimed serve calls after the checked one
SENSOR_BIN_MS = 120_000  # the reference's BIN_SIZE
OP_TIMEOUT_S = 120.0  # an op slower than this counts as failed


# Input sizes. Serve is sf0.01 (500 docs, 500 vectors) and the batch pass
# reads 10 copies of a 200-doc base, because every run, set-up included,
# must fit 3420 s / 48 runs: at sf0.1 the serve index build alone takes
# 49 s, and a 10x-of-sf0.1 pass with 8M-row sensor tables over a minute.
# CHANGES.md records the measured run times at these sizes.
@dataclass(frozen=True)
class Sizes:
    serve_docs: int = 500
    serve_vecs: int = 500
    base_docs: int = 200
    base_events: int = 2_000
    factor: int = 10
    orders: int = 10_000
    sensor_rows: int = 250_000
    sensor_classes: int = 50
    ingest_docs: int = 500


# Small enough that every workload sets up in seconds; the self-tests use it.
TINY = Sizes(serve_docs=100, serve_vecs=100, base_docs=40, base_events=300,
             factor=2, orders=500, sensor_rows=20_000,
             sensor_classes=10, ingest_docs=50)


@dataclass
class Op:
    kind: str
    rows_in: int
    t0: float = 0.0
    t1: float = 0.0
    ok: bool = False
    parts: dict = field(default_factory=dict)
    span: "int | None" = None

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


def collect_rows(df) -> tuple[list[str], list[tuple]]:
    """The program's result rows, as the output checks see them."""
    return df.columns, [tuple(r) for r in df.collect()]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def build_exec(tracer, build: Callable) -> dict:
    """Time the call that builds the plan (driver work, including any
    collects the library runs while planning) apart from its execution."""
    t0 = time.time()
    with tracer.span("build"):
        df = build()
    t1 = time.time()
    with tracer.span("exec"):
        noop(df)
    return {"build_s": t1 - t0, "exec_s": time.time() - t1}


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, tracer, sizes: Sizes):
        self.spark = spark
        self.work = work
        self.data = os.path.join(work, "data")
        self.tracer = tracer
        self.sizes = sizes
        self.rng = np.random.default_rng(seed)
        self.checks: list[tuple[str, "str | None"]] = []
        self.rows: dict[str, int] = {}  # input table -> rows
        self.result_rows: dict[str, int] = {}  # op kind -> rows of its checked result
        self.layers: dict[str, float] = {}  # set-up layer timings

    def setup(self) -> None:
        raise NotImplementedError

    def round(self) -> list[tuple[str, int, Callable[[], dict]]]:
        """One round of ops: (kind, input rows, call returning part timings)."""
        raise NotImplementedError

    def final_check(self) -> None:
        """Checks that need the whole timed run (the ingest workload)."""

    def check(self, name: str, fn: Callable[[], "str | None"]) -> None:
        """Run one output check; a raised error counts as a failed check."""
        t0 = time.time()
        try:
            err = fn()
        except Exception as e:  # a crashing check is a failed op, not a crash
            traceback.print_exc()
            err = f"{type(e).__name__}: {str(e)[:300]}"
        self.checks.append((name, err))
        self.layers[f"check.{name}_s"] = time.time() - t0
        if err:
            print(f"perfbench: check {name} failed: {err}", file=sys.stderr)

    def against_oracle(self, kind: str, oracle: Oracle, sql: str, df) -> "str | None":
        cols, rows = collect_rows(df)
        self.result_rows[kind] = len(rows)
        ocols, orows = oracle.rows(sql)
        return compare(cols, rows, ocols, orows)

    def write(self, table, name: str) -> None:
        D.write(table, f"{self.data}/{name}.parquet")
        self.rows[name] = table.num_rows


class Serve(Workload):
    """Closed loop, one client, read only. A round is one stored-index
    hybrid search on a query batch drawn by the seed. Set-up ends with
    untimed rounds: after the checked call alone, the first timed calls
    ran up to 30% slower than the later ones."""

    name = "serve"

    def setup(self) -> None:
        from laradb_spark.pipelines import retrieval as rt
        from laradb_spark.pipelines import similarity as sim
        from laradb_spark.workloads import all_specs, load
        from laradb_spark.workloads import pipelines_q as pq_

        s, spark = self.sizes, self.spark
        self.write(D.documents(self.rng, s.serve_docs), "documents")
        self.write(D.embeddings(self.rng, s.serve_vecs), "embeddings")
        self.emb = load(spark, self.data, "embeddings")
        idx = os.path.join(self.work, "index")
        self.paths = {k: f"{idx}/{k}" for k in ("bm25", "ivfflat")}
        builds = {
            "bm25": lambda p: rt.bm25_build_index(load(spark, self.data, "documents"), p),
            "ivfflat": lambda p: sim.ivf_build_index(self.emb, p, n_centroids=N_CENTROIDS),
        }
        t0 = time.time()
        with self.tracer.span("index_build"):
            for name, build in builds.items():
                t = time.time()
                build(self.paths[name])
                self.layers[f"index_build.{name}_s"] = time.time() - t
        self.layers["index_build_s"] = time.time() - t0

        # The checked call uses the registry's fixed query set. With every
        # list probed the dense side is exhaustive, so the stored hybrid
        # must equal the inline hybrid's oracle exactly.
        fixed_qids = [qid for qid, _ in pq_.BM25_QUERIES]
        oracle = Oracle(self.data, ["documents", "embeddings"])
        try:
            self.check("hybrid", lambda: self.against_oracle(
                "hybrid", oracle, all_specs()[SERVE_ORACLES["hybrid"]][1],
                self.search(self.vectors(fixed_qids), pq_.BM25_QUERIES, n_probe=N_CENTROIDS)))
        finally:
            oracle.close()
        t0 = time.time()
        for _ in range(WARM_ROUNDS):
            for _, _, fn in self.round():
                fn()
        self.layers["warm_rounds_s"] = time.time() - t0

    def vectors(self, ids):
        from pyspark.sql import functions as F

        return self.emb.filter(F.col("vec_id").isin([int(i) for i in ids])).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )

    def search(self, vecs, texts, n_probe: int = N_PROBE):
        from laradb_spark.pipelines import retrieval as rt
        from laradb_spark.workloads import pipelines_q as pq_

        return rt.hybrid_search_index(
            self.spark, self.paths["bm25"], self.paths["ivfflat"], texts, vecs,
            k=pq_.HYBRID_TOP_K, k_cand=pq_.HYBRID_K_CAND, n_probe=n_probe,
        )

    def round(self):
        from laradb_spark.workloads import pipelines_q as pq_

        n_text = len(pq_.BM25_QUERIES)

        def texts(qids):
            return [(int(q), " ".join(self.rng.choice(D.VOCAB, int(self.rng.integers(2, 4)), replace=False)))
                    for q in qids]

        ids = self.rng.choice(self.sizes.serve_vecs, n_text, replace=False)
        vecs, txt = self.vectors(ids), texts(ids)
        return [("hybrid", n_text, lambda: build_exec(self.tracer, lambda: self.search(vecs, txt)))]


class Batch(Workload):
    """One pass: the sensor X→U→C stages, then every registry query of
    ``BATCH_QUERIES`` over a 10× synthesized corpus, then one streaming
    ingest append (``IngestLoop``)."""

    name = "batch"

    def setup(self) -> None:
        import __spark_entry__
        from laradb_spark.workloads import all_specs

        s, rng = self.sizes, self.rng
        self.write(D.replicate(D.documents(rng, s.base_docs), s.factor, "doc_id", rng), "documents")
        self.write(D.replicate(D.events(rng, s.base_events), s.factor, "event_id", rng), "events")
        self.write(D.orders(rng, s.orders), "orders")
        self.write(D.sensor(rng, s.sensor_rows, s.sensor_classes), "sensor_a")
        self.write(D.sensor(rng, s.sensor_rows, s.sensor_classes), "sensor_b")
        self.queries = __spark_entry__.queries()
        specs = all_specs()
        oracle = Oracle(self.data, ["documents", "events", "orders", "sensor_a", "sensor_b"])
        try:
            self.check("sensor", lambda: self.sensor_check(oracle))
            for name in BATCH_QUERIES:
                self.check(name, lambda name=name: self.against_oracle(
                    name, oracle, specs[name][1], self.queries[name](self.spark, self.data)))
        finally:
            oracle.close()
        t0 = time.time()
        self.ingest = IngestLoop(self)
        self.layers["ingest_setup_s"] = time.time() - t0

    def sensor_stages(self, force: Callable) -> tuple[dict, Callable]:
        """X, U and C as the reference times them: X and U persisted, each
        stage forced on its own. Returns the stage times and an unpersist."""
        from laradb_spark.sensor import binned_mean, covariance, diff_x, mean_center

        spark, parts = self.spark, {}
        a = spark.read.parquet(f"{self.data}/sensor_a.parquet")
        b = spark.read.parquet(f"{self.data}/sensor_b.parquet")
        t = time.time()
        with self.tracer.span("sensor.toX"):
            x = diff_x(binned_mean(a, SENSOR_BIN_MS), binned_mean(b, SENSOR_BIN_MS)).persist()
            noop(x)
        parts["toX_s"] = time.time() - t
        t = time.time()
        with self.tracer.span("sensor.toU"):
            u = mean_center(x).persist()
            noop(u)
        parts["toU_s"] = time.time() - t
        t = time.time()
        with self.tracer.span("sensor.toC"):
            force(covariance(u))
        parts["toC_s"] = time.time() - t

        def release():
            x.unpersist()
            u.unpersist()
        return parts, release

    def sensor_check(self, oracle: Oracle) -> "str | None":
        got = []
        _, release = self.sensor_stages(lambda c: got.extend(tuple(r) for r in c.collect()))
        release()
        self.result_rows["sensor"] = len(got)
        _, want = oracle.rows(SENSOR_SQL)
        return compare_close(2, got, want)

    def sensor_op(self) -> dict:
        parts, release = self.sensor_stages(noop)
        release()
        return parts

    def round(self):
        # Queries that persist an intermediate would otherwise read the
        # previous pass's cache.
        self.spark.catalog.clearCache()
        ops = [("sensor", self.rows["sensor_a"] + self.rows["sensor_b"], self.sensor_op)]
        for name, table in BATCH_QUERIES.items():
            ops.append((name, self.rows[table], lambda name=name: build_exec(
                self.tracer, lambda: self.queries[name](self.spark, self.data))))
        ops.append(("ingest", self.sizes.ingest_docs, self.ingest.ingest))
        return ops

    def final_check(self) -> None:
        self.check("ingest", self.ingest.verify)


SENSOR_SQL = f"""
WITH a AS (SELECT CASE WHEN t % {SENSOR_BIN_MS} >= {SENSOR_BIN_MS // 2}
                       THEN t - t % {SENSOR_BIN_MS} + {SENSOR_BIN_MS}
                       ELSE t - t % {SENSOR_BIN_MS} END AS tp, c, v FROM sensor_a),
b AS (SELECT CASE WHEN t % {SENSOR_BIN_MS} >= {SENSOR_BIN_MS // 2}
                  THEN t - t % {SENSOR_BIN_MS} + {SENSOR_BIN_MS}
                  ELSE t - t % {SENSOR_BIN_MS} END AS tp, c, v FROM sensor_b),
ma AS (SELECT tp, c, AVG(v) AS v FROM a GROUP BY tp, c),
mb AS (SELECT tp, c, AVG(v) AS v FROM b GROUP BY tp, c),
x AS (SELECT ma.tp, ma.c, ma.v - mb.v AS v FROM ma JOIN mb ON ma.tp = mb.tp AND ma.c = mb.c),
n AS (SELECT COUNT(DISTINCT tp) AS n FROM x),
m AS (SELECT c, AVG(v) AS m FROM x GROUP BY c),
u AS (SELECT x.tp, x.c, x.v - m.m AS v FROM x JOIN m ON x.c = m.c)
SELECT u1.c AS c1, u2.c AS c2, SUM(u1.v * u2.v) / (MAX(n.n) - 1) AS cov
FROM u u1 JOIN u u2 ON u1.tp = u2.tp, n
WHERE u1.c <= u2.c
GROUP BY u1.c, u2.c
"""


class IngestLoop:
    """The write side of ``batch``: each op appends one batch of new
    documents and drains it with one ``availableNow`` run of
    ``streaming.ingest.curate_ingest_stream`` into a digest index and
    curated corpus that grow over the run."""

    def __init__(self, wl: Workload):
        from pyspark.sql import functions as F

        from laradb_spark.pipelines.curation import train_quality_weights

        self.spark, self.rng, self.tracer = wl.spark, wl.rng, wl.tracer
        self.base = D.documents(self.rng, wl.sizes.ingest_docs)
        wl.write(self.base, "ingest_seed")
        docs = self.spark.read.parquet(f"{wl.data}/ingest_seed.parquet")
        seed_src = F.col("source").isin("src0", "src1")
        # Stored, not cached: the batch pass clears the cache every round.
        weights = f"{wl.work}/quality_weights"
        train_quality_weights(docs.filter(seed_src), docs.filter(~seed_src)).write.parquet(weights)
        self.weights = self.spark.read.parquet(weights)
        self.schema = docs.select("doc_id", "source", "text").schema
        root = os.path.join(wl.work, "ingest")
        self.dirs = {k: f"{root}/{k}" for k in ("src", "index", "out", "stats", "ck")}
        os.makedirs(self.dirs["src"])
        self.prev_text: "list[str] | None" = None
        self.n_batches = 0
        # File mtimes are set, not slept for: one second apart, in the past.
        self.mtime0 = int(time.time()) - 100_000
        self.ingest()  # the first drain starts the stream's state: the warm-up

    def next_batch(self):
        """The base documents with ids shifted and one seed-drawn token
        appended; every 20th doc repeats the previous batch's text
        exactly, so the digest index screens real duplicates."""
        import pyarrow as pa
        import pyarrow.compute as pc

        k = self.n_batches
        tag = f" {D.VOCAB[int(self.rng.integers(0, len(D.VOCAB)))]}{k}x{int(self.rng.integers(0, 10**6))}"
        text = [t + tag for t in self.base["text"].to_pylist()]
        if self.prev_text is not None:
            for i in range(10, len(text), 20):
                text[i] = self.prev_text[i]
        self.prev_text = text
        return pa.table({
            "doc_id": pc.add(self.base["doc_id"], (k + 1) * 1_000_000),
            "source": self.base["source"],
            "text": text,
        })

    def ingest(self) -> dict:
        from laradb_spark.streaming.ingest import curate_ingest_stream

        d, k = self.dirs, self.n_batches
        t0 = time.time()
        path = f"{d['src']}/part-{k:05d}.parquet"
        pq.write_table(self.next_batch(), path)
        os.utime(path, (self.mtime0 + k, self.mtime0 + k))
        self.n_batches += 1
        t1 = time.time()
        with self.tracer.span("drain"):
            stream = self.spark.readStream.schema(self.schema).parquet(d["src"])
            q = curate_ingest_stream(stream, self.weights, d["index"], d["out"], d["stats"], d["ck"])
            try:
                if not q.awaitTermination(OP_TIMEOUT_S):
                    raise TimeoutError(f"drain of batch {k} still running after {OP_TIMEOUT_S}s")
            finally:
                q.stop()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return {"append_s": t1 - t0, "drain_s": time.time() - t1, "drain_t0": t1}

    def verify(self) -> "str | None":
        """The curated corpus equals a batch recomputation over every
        ingested batch: each distinct text once, kept iff the classifier
        keeps it; the ledger counts the same docs."""
        from pyspark.sql import functions as F

        from laradb_spark.pipelines.curation import quality_classifier_score

        spark, d = self.spark, self.dirs
        texts = spark.read.parquet(d["src"]).select("text").distinct().withColumn(
            "doc_id", F.xxhash64("text"))
        kept = quality_classifier_score(texts, self.weights).filter("keep = 1").join(texts, "doc_id")
        want = sorted(r.text for r in kept.select("text").collect())
        got = sorted(r.text for r in spark.read.parquet(d["out"]).select("text").collect())
        if got != want:
            return f"curated corpus has {len(got)} docs, batch recomputation {len(want)}"
        led = spark.read.parquet(d["stats"]).agg(F.sum("n_new"), F.sum("n_kept")).first()
        n_distinct = texts.count()
        if (led[0], led[1]) != (n_distinct, len(want)):
            return f"ledger counts {tuple(led)} != ({n_distinct}, {len(want)})"
        return None

    def stored_bytes(self) -> tuple[int, int]:
        """(index part files, bytes of every stored layout the loop wrote)."""
        n_files = total = 0
        for key in ("index", "out", "stats", "ck"):
            for root, _, files in os.walk(self.dirs[key]):
                for f in files:
                    total += os.path.getsize(os.path.join(root, f))
                    if key == "index" and f.endswith(".parquet"):
                        n_files += 1
        return n_files, total


WORKLOADS = {w.name: w for w in (Serve, Batch)}
