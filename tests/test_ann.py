"""ANN scale paths: multi-probe LSH beats single-probe recall; IVF-flat
retrieval quality on clustered data."""

import numpy as np
import pytest
from plan_helpers import find_file_scan, scan_num_files
from pyspark.sql import functions as F

from laradb_spark.pipelines import similarity as sim


@pytest.fixture(scope="module")
def clustered(spark):
    # 5 gaussian clusters in 8-d: realistic retrieval structure (unlike the
    # uniform fixture, where LSH recall is inherently poor).
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(5, 8)) * 4
    rows = []
    for i in range(200):
        c = i % 5
        rows.append((i, [float(x) for x in centers[c] + rng.normal(size=8) * 0.5]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _queries(df):
    return df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _pairs(df):
    return {(r.query_id, r.neighbor_id) for r in df.collect()}


def test_multiprobe_recall_improves(spark, clustered):
    q = _queries(clustered)
    exact = _pairs(sim.brute_force_topk(clustered, q, k=5))
    single = _pairs(sim.lsh_topk(clustered, q, dim=8, k=5, planes=6))
    multi = _pairs(sim.lsh_topk_multiprobe(clustered, q, dim=8, k=5, planes=6, probes=4))
    assert len(multi & exact) >= len(single & exact)
    assert len(multi & exact) >= len(exact) // 2  # decent recall on clustered data


def _sq8_replay(rows, qids, k):
    """Pure-Python SQ8 top-k: s = max|x|, q = floor(x·127/s) (zero codes
    for s = 0), score = (Σ qᵢcᵢ · s_q) · s_c, ranked by score desc then
    neighbor asc, self excluded — the SQL oracle's formula."""
    import math

    def quant(v):
        s = max(abs(x) for x in v)
        return ([0] * len(v), 0.0) if s == 0.0 else (
            [math.floor(x * 127.0 / s) for x in v], s)

    codes = {i: quant(v) for i, v in rows}
    out = set()
    for qid in qids:
        qq, qs = codes[qid]
        scored = sorted(
            ((-(sum(a * b for a, b in zip(qq, cq)) * qs) * cs, n)
             for n, (cq, cs) in codes.items() if n != qid)
        )
        out |= {(qid, n, r + 1) for r, (_, n) in enumerate(scored[:k])}
    return out


def test_sq8_vectorized_matches_expr(spark, clustered):
    """sq8_topk ranks exactly as the SQ8 formula does (floor
    quantization in the oracle's float association, exact integer dot,
    (idot·qs)·cs score) — on clustered data PLUS a zero vector and a
    negative-heavy vector (quantization edge cases)."""
    extra = [(500, [0.0] * 8), (501, [-3.7] * 4 + [0.0, 1e-9, -1e-9, 2.5])]
    corpus = clustered.unionByName(
        spark.createDataFrame(extra, "vec_id long, embedding array<double>")
    )
    q = _queries(corpus)
    rows = [(r.vec_id, list(r.embedding)) for r in corpus.collect()]
    assert _pairs_ranked(sim.sq8_topk(corpus, q, k=7)) == _sq8_replay(
        rows, range(5), 7
    )


def test_ivf_topk_recall(spark, clustered):
    q = _queries(clustered)
    exact = _pairs(sim.brute_force_topk(clustered, q, k=5))
    ivf = _pairs(sim.ivf_topk(clustered, q, n_centroids=8, n_probe=3, k=5))
    assert len(ivf) == len(exact) == 25
    assert len(ivf & exact) / len(exact) >= 0.6  # probing 3/8 lists on 5 clusters


def test_ivf_deterministic(spark, clustered):
    q = _queries(clustered)
    a = sorted(_pairs(sim.ivf_topk(clustered, q, n_centroids=8, n_probe=2, k=3)))
    b = sorted(_pairs(sim.ivf_topk(clustered, q, n_centroids=8, n_probe=2, k=3)))
    assert a == b  # no RNG anywhere — reruns identical


def test_ivf_exact_vs_numpy(spark, clustered):
    """Exact replication of ivf_topk in NumPy — deterministic init (lowest
    ids), argmax assignment with cid-asc ties, Lloyd mean updates, n_probe
    lists, rank ties by neighbor_id asc — asserting the exact (query,
    neighbor, rank) set, not just counts."""
    n_centroids, n_probe, k, iters = 8, 3, 5, 2
    rows = sorted(
        ((r.vec_id, np.array(r.embedding)) for r in clustered.collect()),
        key=lambda t: t[0],
    )
    ids = [i for i, _ in rows]
    V = {i: v for i, v in rows}

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    cents = {i: V[i].copy() for i in ids[:n_centroids]}

    def assign():
        out = {}
        for i in ids:
            best = max(sorted(cents), key=lambda c: (cos(V[i], cents[c]), -c))
            out[i] = best
        return out

    for _ in range(iters):
        a = assign()
        new = {}
        for c in set(a.values()):
            members = [V[i] for i in ids if a[i] == c]
            new[c] = np.mean(members, axis=0)
        cents = new
    a = assign()

    want = set()
    for qid in range(5):
        probes = sorted(sorted(cents), key=lambda c: (-cos(V[qid], cents[c]), c))[:n_probe]
        cands = [i for i in ids if a[i] in probes and i != qid]
        ranked = sorted(cands, key=lambda i: (-cos(V[qid], V[i]), i))[:k]
        want |= {(qid, n, r + 1) for r, n in enumerate(ranked)}

    q = _queries(clustered)
    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivf_topk(
            clustered, q, n_centroids=n_centroids, n_probe=n_probe, k=k, lloyd_iters=iters
        ).collect()
    }
    assert got == want


def test_ivf_stored_index_prunes_partitions(spark, clustered, tmp_path):
    """The stored layout returns exactly what inline ivf_topk computes
    (same deterministic training), and the probe scan reads ONLY the
    probed cid= directories — partition pruning, the reason the layout
    exists."""
    path = str(tmp_path / "ivf")
    q = _queries(clustered)
    sim.ivf_build_index(clustered, path, n_centroids=8, lloyd_iters=2)
    got = sim.ivf_search_index(spark, path, q, n_probe=3, k=5)
    want = _pairs_ranked(sim.ivf_topk(clustered, q, n_centroids=8, n_probe=3, k=5))
    assert _pairs_ranked(got) == want

    # pruning: a 1-query 1-probe search carries the literal cid predicate
    # as a PARTITION filter (not a data filter), and the executed scan's
    # numFiles metric shows it read fewer files than the full layout
    # (inputFiles() can't show this — it lists the pre-pruning relation).
    one = sim.ivf_search_index(spark, path, q.limit(1), n_probe=1, k=5)
    one.collect()
    # the parquet scan lives inside grouped_rank's cached input — find it
    # through the InMemoryRelation and read ITS PartitionFilters
    scan = find_file_scan(one, "cvec").toString()
    part = scan.split("PartitionFilters: [")[1].split("]")[0]
    assert "cid" in part and ("IN" in part or "=" in part)
    total_files = len(spark.read.parquet(f"{path}/corpus").inputFiles())
    read_files = scan_num_files(one, "cvec")
    assert 0 < read_files < total_files


def test_lsh_stored_index_matches_inline_and_prunes(spark, clustered, tmp_path):
    """The stored LSH layout reproduces the inline lsh_topk /
    lsh_topk_multiprobe results exactly (same fixed planes), and a
    single-query probe reads only its bucket partitions."""
    path = str(tmp_path / "lsh")
    q = _queries(clustered)
    sim.lsh_build_index(clustered, path, dim=8, planes=6)
    single = sim.lsh_search_index(spark, path, q, dim=8, k=5, planes=6)
    assert _pairs_ranked(single) == _pairs_ranked(
        sim.lsh_topk(clustered, q, dim=8, k=5, planes=6)
    )
    multi = sim.lsh_search_index(spark, path, q, dim=8, k=5, planes=6, probes=4)
    assert _pairs_ranked(multi) == _pairs_ranked(
        sim.lsh_topk_multiprobe(clustered, q, dim=8, k=5, planes=6, probes=4)
    )

    one = sim.lsh_search_index(spark, path, q.limit(1), dim=8, k=5, planes=6)
    one.collect()
    scan = find_file_scan(one, "cvec").toString()
    part = scan.split("PartitionFilters: [")[1].split("]")[0]
    assert "bucket" in part
    total_files = len(spark.read.parquet(f"{path}/corpus").inputFiles())
    read_files = scan_num_files(one, "cvec")
    assert 0 < read_files < total_files


def _pairs_ranked(df):
    return {(r.query_id, r.neighbor_id, r.rank) for r in df.collect()}


def test_sq8_quantization_and_recall(spark, clustered):
    """On clustered data SQ8 ranking recovers most of the exact MIPS
    top-5. (The quantizer is internal to sq8_topk: its formula is pinned
    by test_sq8_vectorized_matches_expr, the zero vector by
    test_exact_scorers_bad_vectors.)"""
    q = _queries(clustered)
    # exact MIPS baseline (sq8 ranks by inner product, not cosine)
    scored = (
        clustered.select(F.col("vec_id").alias("neighbor_id"),
                         F.col("embedding").cast("array<double>").alias("cvec"))
        .crossJoin(F.broadcast(q.select("query_id",
                   F.col("embedding").cast("array<double>").alias("qvec"))))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.dot(F.col("qvec"), F.col("cvec")).alias("d"))
    )
    from pyspark.sql.window import Window as W
    win = W.partitionBy("query_id").orderBy(F.desc("d"), F.asc("neighbor_id"))
    exact = scored.withColumn("rank", F.row_number().over(win)).filter(F.col("rank") <= 5)
    sq8 = sim.sq8_topk(clustered, q, k=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    s = {(r.query_id, r.neighbor_id) for r in sq8.collect()}
    assert len(e & s) / len(e) >= 0.8  # quantization barely moves the MIPS top-k


def test_batch_topk_prune_exact_and_small(spark, clustered):
    """_batch_topk_prune is an EXACT pre-prune: with Arrow batches forced
    tiny (many batch boundaries, so per-batch top-k actually prunes), the
    pruned frame (a) is far smaller than the full scored frame and (b)
    yields the SAME global top-k — including on a tie-heavy score column
    where the neighbor-asc tie-break decides the k boundary."""
    q = _queries(clustered)
    c = clustered.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cvec"),
    )
    # tie-heavy: score = round(cos, 1) → many equal scores at the boundary
    scored = (
        c.crossJoin(F.broadcast(q.select(
            "query_id", F.col("embedding").cast("array<double>").alias("qvec"))))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                F.round(sim.cosine(F.col("qvec"), F.col("cvec")), 1).alias("cos"))
    )
    # 2 partitions × ~500 rows ÷ 200-row batches = ~6 batches; each batch
    # keeps ≤ Q·k = 25 rows → output bounded by batches·Q·k, NOT by the
    # scored-pair count (the N×Q persist shrink, measured).
    scored2 = scored.repartition(2)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "200")
    try:
        pruned = sim._batch_topk_prune(scored2, "query_id", "cos", 5)
        n_full, n_pruned = scored2.count(), pruned.count()
        assert n_pruned <= 8 * 25  # ≤ batches·Q·k (slack for ragged batches)
        assert n_pruned < n_full / 4
        got = _pairs_ranked(sim._topk_per_query(pruned, "query_id", "cos", 5))
        want = _pairs_ranked(sim._topk_per_query(scored, "query_id", "cos", 5))
        assert got == want
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_vectorized_prune_batch_size_invariant(spark, clustered):
    """The fused scorer-side top-k must not depend on where Arrow batch
    boundaries fall: forcing 17-row batches gives bit-identical results
    to the default batch size, for both exact scorers."""
    q = _queries(clustered)
    for fn in (sim.sq8_topk, sim.brute_force_topk):
        want = sorted(map(tuple, fn(clustered, q, k=7).collect()))
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "17")
        try:
            tiny = sorted(map(tuple, fn(clustered, q, k=7).collect()))
        finally:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        assert tiny == want, fn.__name__


def test_brute_vectorized_zero_vector_matches_expr(spark, clustered):
    """Zero-norm guard: a zero corpus vector scores 0.0 (similar to
    nothing, as cosine's `when` gives it) — never NaN-similar — so the
    top-5 over the clustered corpus is unchanged by adding it."""
    extra = spark.createDataFrame(
        [(500, [0.0] * 8)], "vec_id long, embedding array<double>"
    )
    corpus = clustered.unionByName(extra)
    q = _queries(corpus)
    got = _pairs_ranked(sim.brute_force_topk(corpus, q, k=5))
    assert got == _pairs_ranked(sim.brute_force_topk(clustered, q, k=5))
    assert all(n != 500 for _, n, _ in got)  # zero vector never ranks


def test_vectorized_topk_null_corpus_raises(spark, clustered):
    """A NULL corpus vector is accepted: the cosine scorer gives it 0.0
    and SQ8 a NULL score ranked last, so with real neighbors to spare the
    top-3 is what the clean corpus gives."""
    bad = clustered.unionByName(spark.createDataFrame(
        [(600, None)], "vec_id long, embedding array<double>"
    ))
    q = _queries(clustered)
    for fn in (sim.sq8_topk, sim.brute_force_topk):
        assert _pairs_ranked(fn(bad, q, k=3)) == _pairs_ranked(
            fn(clustered, q, k=3)
        ), fn.__name__


def test_assign_vectorized_bit_identical(spark, clustered):
    """_assign_vectorized ≡ _assign exactly — same cid for every vector —
    on clustered data PLUS a zero vector (zero-norm guard) and vectors
    crafted to have equal cosine to two centroids (tie → smallest cid).
    The dim-sequential accumulation must reproduce the HOF fold's float
    association; np.dot's pairwise summation would not."""
    from pyspark.sql import functions as F

    extra = spark.createDataFrame(
        [(700, [0.0] * 8), (701, [1e-9] * 8), (702, [-2.5] * 8)],
        "vec_id long, embedding array<double>",
    )
    c = clustered.unionByName(extra).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cvec"),
    )
    cents = (
        c.orderBy("neighbor_id").limit(6)
        .select(F.col("neighbor_id").alias("cid"), F.col("cvec").alias("cent"))
    )
    expr = {r.neighbor_id: r.cid for r in sim._assign(c, cents).collect()}
    fast = {r.neighbor_id: r.cid for r in sim._assign_vectorized(c, cents).collect()}
    assert expr == fast
    # Training with the vectorized assignment yields the same cluster
    # STRUCTURE; centroid floats may differ in the last ulp because
    # F.avg's partial-sum order follows the partitioning — true of the
    # expression path across partition layouts too (the pipeline
    # tolerates this by design: assignments are far from cosine ties and
    # oracles compare rounded outputs).
    e_cents = {r.cid: list(r.cent) for r in sim._train_centroids(c, 6, 2, vectorized=False).collect()}
    v_cents = {r.cid: list(r.cent) for r in sim._train_centroids(c, 6, 2, vectorized=True).collect()}
    assert set(e_cents) == set(v_cents)
    for cid in e_cents:
        assert np.allclose(e_cents[cid], v_cents[cid], rtol=1e-12), cid


def test_sq8_null_corpus_rows_rank_last_through_prune(spark, clustered):
    """NULL corpus embeddings give NULL SQ8 scores, which Spark's desc
    ranking places LAST — the batch-local prune must preserve that
    (na_position='last'), not promote them: with tiny Arrow batches a
    NaN-first prune would evict true neighbors batch by batch."""
    nulls = spark.createDataFrame(
        [(900 + i, None) for i in range(40)], "vec_id long, embedding array<double>"
    )
    q = _queries(clustered)
    want = _pairs_ranked(sim.sq8_topk(clustered, q, k=5))
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "23")
    try:
        got = _pairs_ranked(sim.sq8_topk(clustered.unionByName(nulls), q, k=5))
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert got == want  # 200 real candidates ≫ k → no NULL row survives


def test_assign_twins_null_and_nan_parity(spark, clustered):
    """NULL vectors and NaN-component vectors assign identically on both
    twins: 0.0 score vs every centroid → smallest cid (the expression
    twin's three-valued `when`; the vectorized twin's zero-substitution).
    The _assign_auto size gate must never be a semantics switch."""
    from pyspark.sql import functions as F

    extra = spark.createDataFrame(
        [(800, None), (801, [float("nan")] + [1.0] * 7), (802, [0.0] * 8)],
        "vec_id long, embedding array<double>",
    )
    c = clustered.unionByName(extra).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cvec"),
    )
    cents = (
        c.filter("neighbor_id < 700").orderBy("neighbor_id").limit(4)
        .select(F.col("neighbor_id").alias("cid"), F.col("cvec").alias("cent"))
    )
    expr = {r.neighbor_id: r.cid for r in sim._assign(c, cents).collect()}
    fast = {r.neighbor_id: r.cid for r in sim._assign_vectorized(c, cents).collect()}
    assert expr == fast
    smallest = min(r.cid for r in cents.collect())
    assert fast[800] == fast[801] == fast[802] == smallest


def test_vectorized_topk_empty_and_null_queries(spark, clustered):
    """An EMPTY query set gives an empty frame, and a query set whose
    only vector is NULL is accepted: every score ties (0.0 cosine, NULL
    SQ8), so the ranks are the lowest neighbor ids, self excluded — the
    literal set the expression scorers returned."""
    empty_q = clustered.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    null_q = spark.createDataFrame(
        [(1, None)], "query_id long, embedding array<double>"
    )
    for fn in (sim.sq8_topk, sim.brute_force_topk):
        assert fn(clustered, empty_q, k=3).count() == 0
        assert _pairs_ranked(fn(clustered, null_q, k=3)) == {
            (1, 0, 1), (1, 2, 2), (1, 3, 3)
        }, fn.__name__


def test_exact_scorers_bad_vectors(spark):
    """Bad vectors through the one exact kernel per metric, with 7-row
    Arrow batches so the batch-local top-k prunes. Corpus ids 0-5 are a
    NULL vector, a NULL / NaN / +Inf / -Inf component and a zero vector;
    10-39 are real, only 13, 21 and 29 with a positive first component.
    Queries: e0 (300), real vector 17 (self excluded), NULL (301). The
    expected sets are literals the expression scorers returned before
    the NumPy kernels replaced them: a bad vector scores cosine 0.0 (so
    ties rank by id and never hit a decon threshold) and SQ8 0.0, except
    a NULL vector, whose SQ8 score is NULL and ranks last."""
    from laradb_spark.pipelines.labels import semantic_decontaminate

    real = [
        [-0.902, -1.324, -0.248, 0.42], [-1.236, 0.11, -0.553, -0.785],
        [-0.849, 1.635, 0.273, -1.233], [1.158, 1.6, 0.203, -1.732],
        [-0.184, -1.163, -0.629, -0.488], [-0.813, 0.553, -0.063, -0.589],
        [-0.51, 0.83, -1.643, -0.257], [-1.081, -0.173, -1.289, 0.021],
        [-0.138, -0.304, -1.048, -0.396], [-1.191, -1.355, 0.225, -1.109],
        [-1.27, 0.717, -1.998, 0.272], [1.302, 0.033, 0.044, -1.988],
        [-0.333, -0.256, 0.962, -1.181], [-0.838, -1.099, -0.331, -0.84],
        [-1.549, 0.568, 2.432, 0.642], [-0.945, 0.841, -0.607, -0.07],
        [-1.45, -0.397, 0.189, -0.021], [-0.709, -0.365, -0.152, 0.242],
        [-0.203, -0.865, 0.896, -1.298], [1.401, -1.282, 0.967, -0.361],
        [-1.071, -1.136, 0.421, -1.055], [-1.372, 0.614, -1.197, -0.322],
        [-0.107, -0.445, -0.054, 1.339], [-0.617, -1.259, -1.837, -0.205],
        [-0.452, 0.265, -0.464, -0.479], [-0.821, -0.52, 0.16, -0.38],
        [-0.2, 1.901, 0.479, -1.576], [-1.834, 0.348, -0.941, 0.907],
        [-0.118, -0.615, -0.634, -0.993], [-0.148, 1.069, -0.325, 0.421],
    ]
    nan, inf = float("nan"), float("inf")
    bad = [
        (0, None),
        (1, [1.0, None, 0.5, 0.2]),
        (2, [1.0, nan, 0.5, 0.2]),
        (3, [1.0, inf, 0.5, 0.2]),
        (4, [1.0, -inf, 0.5, 0.2]),
        (5, [0.0, 0.0, 0.0, 0.0]),
    ]
    corpus = spark.createDataFrame(
        bad + [(10 + i, v) for i, v in enumerate(real)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(300, [1.0, 0.0, 0.0, 0.0]), (17, real[7]), (301, None)],
        "query_id long, embedding array<double>",
    )
    bench = queries.select(F.col("query_id").alias("vec_id"), "embedding")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        brute = _pairs_ranked(sim.brute_force_topk(corpus, queries, k=4))
        sq8 = _pairs_ranked(sim.sq8_topk(corpus, queries, k=4))
        decon = {
            (r.vec_id, r.n_hits)
            for r in semantic_decontaminate(corpus, bench, tau=0.6).collect()
        }
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert brute == {
        (17, 20, 1), (17, 31, 2), (17, 33, 3), (17, 37, 4),
        (300, 29, 1), (300, 21, 2), (300, 13, 3), (300, 0, 4),
        (301, 0, 1), (301, 1, 2), (301, 2, 3), (301, 3, 4),
    }
    assert sq8 == {
        (17, 20, 1), (17, 33, 2), (17, 37, 3), (17, 31, 4),
        # Arrow hands vector 1's NULL component to the kernel as NaN, so
        # it scores 0.0 and takes rank 4 (the expression scorer gave it a
        # NULL score, ranked last, and ranked vector 2 here)
        (300, 29, 1), (300, 21, 2), (300, 13, 3), (300, 1, 4),
        (301, 0, 1), (301, 1, 2), (301, 2, 3), (301, 3, 4),
    }
    assert decon == {
        (11, 1), (16, 1), (17, 1), (18, 1), (20, 1), (25, 1),
        (27, 1), (29, 1), (31, 1), (33, 1), (34, 1), (37, 1),
    }


def test_nan_corpus_scores_fold_to_zero_through_prune(spark, clustered):
    """ADVICE r6: `NaN > 0` is TRUE in Spark, so the zero-norm `when`
    alone lets a NaN-component embedding emit a NaN cosine/SQ8 score —
    which Spark's desc rank orders FIRST while the Arrow prune sorts
    LAST. The scorers give such vectors exactly 0.0 (cosine's nanvl,
    the NumPy kernels' zero fill), so with tiny Arrow batches the
    NaN-poisoned corpus gives the SAME top-k as the clean corpus (200
    real candidates ≫ k → a 0.0-scored row never wins)."""
    poison = spark.createDataFrame(
        [(900 + i, [float("nan")] * 4 + [1.0] * 4) for i in range(30)]
        + [(950, [float("inf")] + [0.5] * 7)],
        "vec_id long, embedding array<double>",
    )
    q = _queries(clustered)
    dirty = clustered.unionByName(poison)
    want_brute = _pairs_ranked(sim.brute_force_topk(clustered, q, k=5))
    want_sq8 = _pairs_ranked(sim.sq8_topk(clustered, q, k=5))
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "19")
    try:
        assert _pairs_ranked(sim.brute_force_topk(dirty, q, k=5)) == want_brute
        assert _pairs_ranked(sim.sq8_topk(dirty, q, k=5)) == want_sq8
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    # and the score expressions themselves never emit NaN
    qv = q.select("query_id", F.col("embedding").cast("array<double>").alias("qvec"))
    cv = dirty.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cvec"),
    )
    scored = cv.crossJoin(F.broadcast(qv)).select(
        sim.cosine(F.col("qvec"), F.col("cvec")).alias("cos")
    )
    assert scored.filter(F.isnan("cos")).count() == 0


def test_assign_twins_null_and_nan_centroid_parity(spark, clustered):
    """ADVICE r6: a NULL embedding among the lowest-id init rows becomes
    a NULL CENTROID — the expression twin scores it 0.0 against every
    vector while the vectorized twin used to crash on `list(None)`. Both
    twins must agree: NULL/NaN-component centroids match nothing, and an
    all-degenerate centroid set sends every vector to the smallest cid."""
    extra = spark.createDataFrame(
        [(0, None), (1, [float("nan")] + [2.0] * 7)],
        "vec_id long, embedding array<double>",
    )
    c = clustered.filter("vec_id >= 2").unionByName(extra).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cvec"),
    )
    # init centroids = 4 lowest ids → includes the NULL (0) and NaN (1) rows
    cents = (
        c.orderBy("neighbor_id").limit(4)
        .select(F.col("neighbor_id").alias("cid"), F.col("cvec").alias("cent"))
    )
    expr = {r.neighbor_id: r.cid for r in sim._assign(c, cents).collect()}
    fast = {r.neighbor_id: r.cid for r in sim._assign_vectorized(c, cents).collect()}
    assert expr == fast
    # all-degenerate centroid set: every score 0.0 → smallest cid, both twins
    bad_cents = spark.createDataFrame(
        [(7, None), (9, None)], "cid long, cent array<double>"
    )
    expr2 = {r.neighbor_id: r.cid for r in sim._assign(c, bad_cents).collect()}
    fast2 = {r.neighbor_id: r.cid for r in sim._assign_vectorized(c, bad_cents).collect()}
    assert expr2 == fast2
    assert set(fast2.values()) == {7}


def test_semantic_dedup_twins_nan_null_parity(spark):
    """NaN-poisoned and NULL vectors are similar to NOTHING (an unguarded
    NaN cosine would drop every cluster-mate of a NaN vector; np.stack
    would crash on a NULL). The kept (vec_id, cid) set is the one the
    expression and NumPy pair stages both produced when both existed:
    ids 40..79 are near-copies of 0..39 and drop."""
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.normal(size=(40, 6))
    rows = [(i, [float(x) for x in base[i % 40] + rng.normal(size=6) * 0.01])
            for i in range(80)]
    rows += [(200, [float("nan")] * 6), (201, None), (202, [0.0] * 6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(tau=0.95, n_centroids=4, lloyd_iters=1)
    got = {(r.vec_id, r.cid) for r in sim.semantic_dedup(df, **kw).collect()}
    cids = [
        0, 1, 2, 3, 0, 1, 2, 2, 2, 2, 1, 2, 0, 0, 2, 1, 3, 1, 1, 1,
        2, 3, 0, 2, 2, 2, 2, 1, 3, 0, 3, 1, 2, 3, 1, 0, 1, 2, 2, 0,
    ]
    # degenerate vectors never get dropped
    assert got == set(enumerate(cids)) | {(200, 0), (201, 0), (202, 0)}


def test_assign_twins_inf_parity_and_validator_rejects_inf(spark, clustered):
    """Review r7: ±Inf components must not diverge the assign twins (the
    nanvl'd expression scores an Inf-poisoned vector/centroid 0.0 via
    x/Inf or the NaN fold; the vectorized twin zero-substitutes on
    ~isfinite, not just isnan). SQ8 zero-fills an Inf vector too, so
    floor(Inf·127/Inf) never wraps its int64 matmul into a score that
    outranks real neighbors; the raising validator that the Gram,
    whitening and PCA kernels keep still REJECTS Inf."""
    extra = spark.createDataFrame(
        [(800, [float("inf")] + [1.0] * 7), (801, [-float("inf")] * 8)],
        "vec_id long, embedding array<double>",
    )
    c = clustered.unionByName(extra).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cvec"),
    )
    # Inf row among the init centroids AND among the assigned vectors
    cents = (
        c.filter("neighbor_id >= 798").orderBy(F.desc("neighbor_id")).limit(3)
        .select(F.col("neighbor_id").alias("cid"), F.col("cvec").alias("cent"))
    )
    expr = {r.neighbor_id: r.cid for r in sim._assign(c, cents).collect()}
    fast = {r.neighbor_id: r.cid for r in sim._assign_vectorized(c, cents).collect()}
    assert expr == fast
    # SQ8 scores the Inf rows 0.0: the clean top-3 stands
    q = _queries(clustered)
    assert _pairs_ranked(
        sim.sq8_topk(clustered.unionByName(extra), q, k=3)
    ) == _pairs_ranked(sim.sq8_topk(clustered, q, k=3))
    import pandas as pd

    from laradb_spark.util import dense_matrix_fn

    with pytest.raises(ValueError, match="Inf"):
        dense_matrix_fn(8, "gram")(pd.Series([[float("inf")] + [1.0] * 7]))


def test_ivf_append_index_serves_new_vectors(spark, clustered, tmp_path):
    """ivf_append_index assigns a new shard with the frozen centroids and
    appends to the cid-partitioned layout: a later search returns the
    appended vectors exactly as an index rebuilt over the full corpus
    would (same centroids → same assignment → same probes)."""
    path = str(tmp_path / "ivf")
    old = clustered.filter("vec_id < 150")
    new = clustered.filter("vec_id >= 150")
    sim.ivf_build_index(old, path, n_centroids=8, lloyd_iters=1)
    sim.ivf_append_index(new, path)
    q = _queries(clustered)
    got = sim.ivf_search_index(spark, path, q, n_probe=8, k=5)
    # n_probe = n_centroids → every list probed → exact brute-force result
    want = sim.brute_force_topk(clustered, q, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # and the appended rows landed inside cid= partition dirs
    import os

    cids = [d for d in os.listdir(f"{path}/corpus") if d.startswith("cid=")]
    assert cids


def test_many_query_window_rank_parity_with_grouped_rank(spark):
    """_topk_per_query's many-queries gate (n_queries ≥ MANY_GROUPS_FACTOR
    × parallelism → plain per-group window) is pure cost selection: the
    rank order (score desc, neighbor_id asc) is total, so the window and
    grouped_rank formulations must emit bit-identical rows — including
    across score TIES, which range-partition boundaries could otherwise
    split differently."""
    import random

    rng = random.Random(23)
    # heavy ties: scores drawn from 5 distinct values across 40 queries
    rows = [
        (q, n, float(rng.choice([0.1, 0.25, 0.5, 0.75, 0.9])))
        for q in range(40)
        for n in range(30)
    ]
    scored = spark.createDataFrame(rows, "query_id long, neighbor_id long, cos double")
    via_grouped = sim._topk_per_query(scored, "query_id", "cos", 7, n_queries=None)
    via_window = sim._topk_per_query(scored, "query_id", "cos", 7, n_queries=10**9)
    assert sorted(map(tuple, via_grouped.collect())) == sorted(
        map(tuple, via_window.collect())
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ)
# ---------------------------------------------------------------------------


def test_pq_topk_matches_numpy_replay(spark, clustered):
    """pq_topk ≡ an independent NumPy replay of the whole flow (train per
    subspace with the deterministic recipe, encode, ADC-score, rank) —
    the same style of end-to-end pin as test_ivf_exact_vs_numpy."""
    q = _queries(clustered)
    got = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.pq_topk(clustered, q, dim=8, m=2, k_sub=4, k=3).collect()
    )

    data = {r["vec_id"]: np.array(r["embedding"], float) for r in clustered.collect()}
    ids = sorted(data)
    m, sd, ks, iters = 2, 4, 4, 2

    def cos(a, b):
        na, nb = np.sqrt(a @ a), np.sqrt(b @ b)
        return (a @ b) / (na * nb) if na > 0 and nb > 0 else 0.0

    books = []
    for s in range(m):
        sub = {i: data[i][s * sd:(s + 1) * sd] for i in ids}
        cents = {i: sub[i].copy() for i in ids[:ks]}
        for _ in range(iters):
            groups = {}
            for i in ids:
                best = max(sorted(cents), key=lambda c: (cos(sub[i], cents[c]), -c))
                groups.setdefault(best, []).append(sub[i])
            cents = {c: np.mean(v, axis=0) for c, v in groups.items()}
        books.append([cents[c] for c in sorted(cents)])

    def encode(i):
        return [
            max(
                range(len(books[s])),
                key=lambda c: (cos(data[i][s * sd:(s + 1) * sd], books[s][c]), -c),
            )
            for s in range(m)
        ]

    codes = {i: encode(i) for i in ids}
    expect = []
    for qi in range(5):
        qv = data[qi]
        nq = np.sqrt(qv @ qv)
        scores = []
        for i in ids:
            if i == qi:
                continue
            num = sum(qv[s * sd:(s + 1) * sd] @ books[s][codes[i][s]] for s in range(m))
            den = nq * np.sqrt(
                sum(books[s][codes[i][s]] @ books[s][codes[i][s]] for s in range(m))
            )
            scores.append((num / den if den > 0 else 0.0, i))
        for rk, (_sc, i) in enumerate(sorted(scores, key=lambda t: (-t[0], t[1]))[:3], 1):
            expect.append((qi, i, rk))
    assert got == sorted(expect)


def test_pq_stored_index_matches_inline(spark, clustered, tmp_path):
    """pq_build_index + pq_search_index reproduce pq_topk exactly (same
    deterministic training), and the stored code table really is the
    compressed shape: one codes array per vector, every code within
    [0, k_sub)."""
    q = _queries(clustered)
    inline = sorted(map(tuple, sim.pq_topk(clustered, q, dim=8, m=2, k_sub=4, k=3).collect()))
    path = str(tmp_path / "pq_index")
    sim.pq_build_index(clustered, path, dim=8, m=2, k_sub=4)
    stored = sorted(
        map(tuple, sim.pq_search_index(spark, path, q, dim=8, k=3).collect())
    )
    assert inline == stored
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.count() == clustered.count()
    bad = codes.filter(
        (F.size("codes") != 2)
        | F.exists("codes", lambda c: (c < 0) | (c >= 4))
    ).count()
    assert bad == 0


def test_pq_recall_reasonable_on_clustered(spark, clustered):
    """PQ is exhaustive (no candidate pruning), so recall loss comes only
    from code reconstruction error. On this deliberately hard config —
    8-d vectors cut into 4-d subspaces, 8 codes each — recall measures
    ~0.36, vs ~0.025 expected from random top-5s over 199 candidates;
    assert a third as the regression floor (the 64-d sf fixtures, with
    16-d subspaces, rank-match the NumPy replay exactly — see
    test_pq_topk_matches_numpy_replay for the correctness pin; this test
    only guards against a quality collapse)."""
    q = _queries(clustered)
    exact = _pairs(sim.brute_force_topk(clustered, q, k=5))
    pq = _pairs(sim.pq_topk(clustered, q, dim=8, m=2, k_sub=8, k=5))
    assert len(pq & exact) >= len(exact) // 3


def test_ivfpq_topk_reasonable_and_stored_index_matches(spark, clustered, tmp_path):
    """IVF-PQ inline ≡ stored-index search (same deterministic recipes);
    the stored codes are partitioned by cid and the probe scan prunes to
    the probed partitions; retrieval quality stays above the quality
    floor of the same-parameter pure-PQ path (probing can only remove
    candidates PQ would have scored)."""
    q = _queries(clustered)
    inline = sorted(
        map(
            tuple,
            sim.ivfpq_topk(
                clustered, q, dim=8, n_centroids=8, n_probe=4, m=2, k_sub=8, k=3
            ).collect(),
        )
    )
    path = str(tmp_path / "ivfpq")
    sim.ivfpq_build_index(clustered, path, dim=8, n_centroids=8, m=2, k_sub=8)
    stored_df = sim.ivfpq_search_index(spark, path, q, dim=8, n_probe=4, k=3)
    stored = sorted(map(tuple, stored_df.collect()))
    assert inline == stored
    # every query got k rows with ranks 1..k
    assert len(inline) == 5 * 3

    # pruning: a 1-query 1-probe search carries the literal cid predicate
    # as a PARTITION filter and reads fewer files than the full layout
    one = sim.ivfpq_search_index(spark, path, q.limit(1), dim=8, n_probe=1, k=3)
    one.collect()
    scan = find_file_scan(one, "codes").toString()
    part = scan.split("PartitionFilters: [")[1].split("]")[0]
    assert "cid" in part and ("IN" in part or "=" in part)
    total_files = len(spark.read.parquet(f"{path}/codes").inputFiles())
    read_files = scan_num_files(one, "codes")
    assert 0 < read_files < total_files


def test_ivfpq_append_index_serves_new_vectors(spark, clustered, tmp_path):
    """Appending without retraining: a near-clone of a query vector added
    via ivfpq_append_index becomes retrievable on the next search plan."""
    path = str(tmp_path / "ivfpq_app")
    sim.ivfpq_build_index(clustered, path, dim=8, n_centroids=8, m=2, k_sub=8)
    q = _queries(clustered).limit(1)
    before = {
        r.neighbor_id
        for r in sim.ivfpq_search_index(spark, path, q, dim=8, n_probe=4, k=3).collect()
    }
    [qrow] = q.collect()
    # PQ scores collide for identical code tuples and ties go to the
    # SMALLEST neighbor_id — so the appended clone gets an id below every
    # existing one to make "retrievable" assertable deterministically
    clone = spark.createDataFrame(
        [(-1, [float(x) * 1.0001 for x in qrow.embedding])],
        "vec_id long, embedding array<double>",
    )
    sim.ivfpq_append_index(clone, path, dim=8)
    after = {
        r.neighbor_id
        for r in sim.ivfpq_search_index(spark, path, q, dim=8, n_probe=4, k=3).collect()
    }
    assert -1 in after and -1 not in before


def test_hamming_topk_matches_numpy_replay_and_recall(spark, clustered):
    """Sign-binary ranks == a NumPy popcount replay exactly (integer
    scores, id ties); on clustered data the 8-bit sign pattern still
    beats chance comfortably."""
    q = _queries(clustered)
    got = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.hamming_topk(clustered, q, dim=8, k=5).collect()
    )
    data = {r.vec_id: np.array(r.embedding) for r in clustered.collect()}
    expect = []
    for qi in range(5):
        qb = [1 if x > 0 else 0 for x in data[qi]]
        scores = []
        for i, v in data.items():
            if i == qi:
                continue
            agree = sum(1 for a, b in zip(qb, [1 if x > 0 else 0 for x in v]) if a == b)
            scores.append((agree, i))
        top = sorted(scores, key=lambda t: (-t[0], t[1]))[:5]
        expect += [(qi, i, r + 1) for r, (_a, i) in enumerate(top)]
    assert got == sorted(expect)
    exact = _pairs(sim.brute_force_topk(clustered, q, k=5))
    ham = {(a, b) for a, b, _ in got}
    assert len(ham & exact) >= 3  # 8 sign bits: far above the ~0.6 chance overlap


def test_ivfpq_res_topk_shape_and_determinism(spark, clustered):
    """Residual IVFADC returns exactly k ranked rows per query (ranks
    1..k) and is deterministic run-to-run (fixed init, fixed Lloyd
    rounds, fixed tie-breaks)."""
    q = _queries(clustered)
    a = sim.ivfpq_res_topk(
        clustered, q, dim=8, n_centroids=8, n_probe=4, m=2, k_sub=8, k=3
    ).collect()
    by_q = {}
    for r in a:
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for ranks in by_q.values():
        assert sorted(ranks) == [1, 2, 3]
    b = sim.ivfpq_res_topk(
        clustered, q, dim=8, n_centroids=8, n_probe=4, m=2, k_sub=8, k=3
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_ivfpq_res_recall_beats_nonresidual_on_clustered(spark, clustered):
    """The point of the residual layer (Jégou et al. 2011 §III): on
    clustered data the coarse quantizer explains the between-cluster
    variance, so PQ codes spent on RESIDUALS resolve within-cluster
    detail that raw-vector codes waste on between-cluster structure. At
    equal (m, k_sub), every vector as its own query: residual recall
    must be strictly higher (measured on this fixture: 231 vs 82 hits
    of 600 — ~2.8×). Both flows are deterministic, so this is a stable
    pin, not a statistical assertion."""
    q = clustered.select(F.col("vec_id").alias("query_id"), "embedding")
    exact = _pairs(sim.brute_force_topk(clustered, q, k=3))

    def hits(fn):
        got = fn(
            clustered, q, dim=8, n_centroids=8, n_probe=2, m=2, k_sub=8, k=3
        )
        return sum(
            1 for r in got.collect() if (r.query_id, r.neighbor_id) in exact
        )

    h_res = hits(sim.ivfpq_res_topk)
    h_raw = hits(sim.ivfpq_topk)
    assert h_res > h_raw, (h_res, h_raw)
    assert h_res >= 2 * h_raw  # the improvement is structural, not noise


def test_ivfpq_res_stored_index_matches_inline_and_prunes(spark, clustered, tmp_path):
    """IVFADC stored-index search ≡ the inline residual flow (same frozen
    recipes), the probe scan partition-prunes to the probed cid lists,
    and append-without-retrain makes a near-clone retrievable."""
    q = _queries(clustered)
    inline = sorted(
        map(
            tuple,
            sim.ivfpq_res_topk(
                clustered, q, dim=8, n_centroids=8, n_probe=4, m=2, k_sub=8, k=3
            ).collect(),
        )
    )
    path = str(tmp_path / "ivfpq_res")
    sim.ivfpq_res_build_index(clustered, path, dim=8, n_centroids=8, m=2, k_sub=8)
    stored_df = sim.ivfpq_res_search_index(spark, path, q, dim=8, n_probe=4, k=3)
    stored = sorted(map(tuple, stored_df.collect()))
    assert inline == stored

    one = sim.ivfpq_res_search_index(spark, path, q.limit(1), dim=8, n_probe=1, k=3)
    one.collect()
    scan = find_file_scan(one, "codes").toString()
    part = scan.split("PartitionFilters: [")[1].split("]")[0]
    assert "cid" in part and ("IN" in part or "=" in part)
    total_files = len(spark.read.parquet(f"{path}/codes").inputFiles())
    read_files = scan_num_files(one, "codes")
    assert 0 < read_files < total_files

    # append-without-retrain: a near-clone of query 0 becomes retrievable
    [qrow] = q.limit(1).collect()
    clone = spark.createDataFrame(
        [(9_000, [x + 0.001 for x in qrow.embedding])],
        "vec_id long, embedding array<double>",
    )
    sim.ivfpq_res_append_index(clone, path, dim=8)
    after = sim.ivfpq_res_search_index(
        spark, path, q.limit(1), dim=8, n_probe=4, k=3
    )
    assert 9_000 in {r.neighbor_id for r in after.collect()}


def test_probe_curve_matches_per_level_topk(spark, clustered):
    """The one-pass probe-recall curve is EXACTLY the per-level
    ivfpq_res_topk runs folded together: for every level p, the curve's
    hits equal an independent search at n_probe=p scored against brute
    force — the prefix filter over probe ranks is semantics-preserving,
    not an approximation. (On this fixture the curve is flat: the top-1
    list already holds each query's true neighbors, so quantization —
    not probing — limits recall; that flatness is itself the signal the
    curve exists to surface.)"""
    q = _queries(clustered)
    exact = _pairs(sim.brute_force_topk(clustered, q, k=3))
    curve = {
        (r.n_probe, r.query_id): r.hits
        for r in sim.ivfpq_res_probe_curve(
            clustered, q, dim=8, probe_levels=(1, 2, 4), n_centroids=8,
            m=2, k_sub=8, k=3,
        ).collect()
    }
    assert len(curve) == 3 * 5
    for p in (1, 2, 4):
        ref = sim.ivfpq_res_topk(
            clustered, q, dim=8, n_centroids=8, n_probe=p, m=2, k_sub=8, k=3
        )
        hits: dict = {}
        for r in ref.collect():
            hits[r.query_id] = hits.get(r.query_id, 0) + (
                (r.query_id, r.neighbor_id) in exact
            )
        for qid in hits:
            assert curve[(p, qid)] == hits[qid], (p, qid)


def test_ivf_pair_scorer_twins_bit_identical(spark, clustered):
    """The cogrouped Arrow pair scorer IS the expression cosine, pair for
    pair — including a zero vector and a NaN-component vector (both
    score 0.0 against everything on both paths). The auto gate is
    therefore pure cost selection, never a semantics switch."""
    degen = spark.createDataFrame(
        [(500, [0.0] * 8), (501, [float("nan")] + [1.0] * 7)],
        "vec_id long, embedding array<double>",
    )
    emb = clustered.unionByName(degen)
    q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    expr = sorted(map(tuple, sim.ivf_topk(
        emb, q, n_centroids=8, n_probe=3, k=4, vectorized=False
    ).collect()))
    arrow = sorted(map(tuple, sim.ivf_topk(
        emb, q, n_centroids=8, n_probe=3, k=4, vectorized=True
    ).collect()))
    assert expr == arrow
    assert len(expr) > 0


def test_ivf_pair_scorer_nonlong_query_ids(spark, clustered):
    """ADVICE r10: the cogrouped scorer derives the query-id output type
    from the probes schema instead of hardcoding long, so the size-based
    auto gate can never crash a non-long-keyed audit at runtime. INT ids
    must agree pair for pair across both routes; STRING ids (which the
    expression path's self-pair filter cannot compare against a BIGINT
    neighbor under ANSI) must at least serve the Arrow route end-to-end
    with the string type preserved."""
    qi = _queries(clustered).select(
        F.col("query_id").cast("int").alias("query_id"), "embedding"
    )
    expr = sorted(map(tuple, sim.ivf_topk(
        clustered, qi, n_centroids=8, n_probe=3, k=4, vectorized=False
    ).collect()))
    arrow = sorted(map(tuple, sim.ivf_topk(
        clustered, qi, n_centroids=8, n_probe=3, k=4, vectorized=True
    ).collect()))
    assert expr == arrow and len(expr) > 0

    probes = spark.createDataFrame(
        [("q-1", [1.0] * 8, 0)], "query_id string, qvec array<double>, cid long"
    )
    assigned = clustered.select(
        F.lit(0).cast("long").alias("cid"),
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
    )
    out = sim._ivf_pair_scores_cogrouped(assigned, probes, "query_id").collect()
    assert len(out) > 0 and all(isinstance(r.query_id, str) for r in out)


def test_pq_l2_surrogate_uses_raw_squared_norm():
    """ADVICE r10: the l2 surrogate must subtract the RAW sequential-fold
    ‖c‖²/2 (what the oracle's list_dot_product(cent,cent)/2 states), not
    the re-squared sqrt'd norm — sqrt(2)**2 = 2.0000000000000004 flips
    this exact-tie argmax away from the smaller cid."""
    import pandas as pd

    from laradb_spark.pipelines.similarity import _pq_assign_fn, _pq_books

    # centroid 0 = [1,1] (fold ‖c‖² = 2 exactly; sqrt(2)**2 > 2),
    # centroid 1 = [2,0] (fold 4; sqrt round-trips exactly).
    # v = [1,0]: dot−‖c‖²/2 = 0 for BOTH → first-argmax must pick code 0.
    books = _pq_books([[(0, [1.0, 1.0]), (1, [2.0, 0.0])]], sd=2)
    assert books[0][3].tolist() == [2.0, 4.0]  # raw folds carried
    fn = _pq_assign_fn(books, dim=2, emit="code", with_vec=False, metric="l2")
    out = pd.concat(fn(iter([pd.DataFrame(
        {"neighbor_id": [7], "cvec": [[1.0, 0.0]]}
    )])))
    assert out["codes"].tolist() == [[0]]


def test_ivf_auto_centroids_sqrt_sizing(spark, clustered):
    """VERDICT r10 #5: n_centroids=None defaults every IVF entry point to
    √N sizing (max(16, ceil(√N))) so a corpus-as-queries audit's pair
    volume grows ~N^1.5 instead of N²/k_fixed; explicit counts (the
    oracle queries) are untouched."""
    assert sim.ivf_auto_centroids(clustered) == 16          # ceil(√200)=15 → floor 16
    big = spark.range(1, 10001).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding"),
    )
    assert sim.ivf_auto_centroids(big) == 100               # ceil(√10000)
    assert sim.ivf_auto_centroids(big.limit(9802)) == 100   # 99² < 9802 ≤ 100²
    assert sim.ivf_auto_centroids(big.limit(9801)) == 99    # = 99² exactly
    assert sim.ivf_auto_centroids(spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )) == 16
    # end-to-end: the default routes through training unchanged
    q = _queries(clustered)
    auto = _pairs(sim.ivf_topk(clustered, q, n_probe=3, k=5))
    explicit = _pairs(sim.ivf_topk(clustered, q, n_centroids=16, n_probe=3, k=5))
    assert auto == explicit                                  # √200 → the same 16


def test_ivf_list_stats_matches_assignment(spark, clustered):
    """The occupancy report IS the final assignment's group counts:
    members sum to N, shares are integral ppm of the total, and each
    list's count equals a direct groupBy over the same deterministic
    assignment."""
    stats = {r.cid: (r.n_members, r.share_ppm)
             for r in sim.ivf_list_stats(clustered, n_centroids=8, lloyd_iters=2).collect()}
    n = clustered.count()
    assert sum(m for m, _ in stats.values()) == n
    for cid, (m, ppm) in stats.items():
        assert ppm == (1_000_000 * m) // n
    c = clustered.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )
    cents = sim._train_centroids(c, 8, 2)
    direct = {r.cid: r.n for r in sim._assign_auto(c, cents)
              .groupBy("cid").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert {k: v for k, (v, _) in stats.items()} == direct


def test_ivf_recenter_index_equals_fresh_build(spark, clustered, tmp_path):
    """Recentering a drifted index (build + append under frozen
    centroids) must be EQUIVALENT to a fresh deterministic build over
    the union corpus — searches return identical ranked results, and the
    auto path re-sizes k to the grown corpus's √N."""
    path = str(tmp_path / "ivf_rc")
    old = clustered.filter(F.col("vec_id") < 150)
    drift = clustered.filter(F.col("vec_id") >= 150).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(9.0)).alias("embedding"),
    )
    sim.ivf_build_index(old, path, n_centroids=8, lloyd_iters=2)
    sim.ivf_append_index(drift, path)
    rep = sim.ivf_recenter_index(spark, path, lloyd_iters=2)
    full = old.unionByName(drift)
    n = full.count()
    assert rep == {"rows": n, "n_centroids_before": 8,
                   "n_centroids_after": max(16, int((n - 1) ** 0.5) + 1)}
    q = _queries(clustered)
    got = _pairs_ranked(sim.ivf_search_index(spark, path, q, n_probe=3, k=5))
    want = _pairs_ranked(sim.ivf_topk(
        full, q, n_centroids=rep["n_centroids_after"], n_probe=3, k=5, lloyd_iters=2
    ))
    assert got == want and len(got) > 0


def test_ivf_recenter_crash_mid_swap_is_resumable(spark, clustered, tmp_path, monkeypatch):
    """r14: the recenter swap is rename-aside and RESUMABLE — the old
    rmtree-then-rename had a window that lost the live corpus outright,
    and a crash between the corpus and centroid swaps left a new corpus
    paired with OLD centroids (inconsistent assignments). Inject a crash
    exactly there: the index is recoverable by ivf_finish_recenter, and
    the finished index searches identically to an uncrashed recenter."""
    import os

    a, b = str(tmp_path / "rc_a"), str(tmp_path / "rc_b")
    for path in (a, b):
        sim.ivf_build_index(
            clustered.filter(F.col("vec_id") < 150), path,
            n_centroids=8, lloyd_iters=2,
        )
        sim.ivf_append_index(clustered.filter(F.col("vec_id") >= 150), path)
    sim.ivf_recenter_index(spark, b, lloyd_iters=2)  # the uncrashed twin

    real_rename = os.rename
    state = {"n": 0}

    def crash_third_rename(src, dst):
        # renames: corpus cur->aside, corpus new->cur, centroids cur->aside
        state["n"] += 1
        if state["n"] == 3:
            raise OSError("injected crash between corpus and centroid swaps")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_third_rename)
    with pytest.raises(OSError, match="injected"):
        sim.ivf_recenter_index(spark, a, lloyd_iters=2)
    monkeypatch.setattr(os, "rename", real_rename)
    # crash state: new corpus live, OLD centroids live, centroids._new waiting
    assert os.path.isdir(f"{a}/centroids._new")
    sim.ivf_finish_recenter(a)
    assert not os.path.exists(f"{a}/centroids._new")
    assert not os.path.exists(f"{a}/corpus._old")
    assert not os.path.exists(f"{a}/centroids._old")
    q = _queries(clustered)
    got = _pairs_ranked(sim.ivf_search_index(spark, a, q, n_probe=3, k=5))
    want = _pairs_ranked(sim.ivf_search_index(spark, b, q, n_probe=3, k=5))
    assert got == want and len(got) > 0


def test_ivf_filtered_inline_and_stored_parity(spark, clustered, tmp_path):
    """Filtered ANN: ivf_topk_filtered returns only predicate-passing
    neighbors with contiguous per-query ranks (PRE-filter semantics —
    candidates are restricted before ranking, not a lossy post-filter of
    the unfiltered top-k), and filtered SERVING on a stored index built
    with meta_cols returns the identical result (both paths train on the
    full corpus, so centroids match)."""
    labeled = clustered.withColumn("label", F.col("vec_id") % 3)
    q = _queries(clustered)
    inline = sim.ivf_topk_filtered(
        labeled, q, "label = 1", n_centroids=8, n_probe=3, k=5
    )
    rows = inline.collect()
    assert rows and all(r.neighbor_id % 3 == 1 for r in rows)
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in by_q.values():  # contiguous 1..n — re-ranked post-filter
        assert sorted(ranks) == list(range(1, len(ranks) + 1))

    path = str(tmp_path / "ivf_meta")
    sim.ivf_build_index(
        labeled, path, n_centroids=8, lloyd_iters=2, meta_cols=["label"]
    )
    stored = sim.ivf_search_index(
        spark, path, q, n_probe=3, k=5, where="label = 1"
    )
    assert _pairs_ranked(stored) == _pairs_ranked(inline)
    # unfiltered search on the meta-bearing index is unchanged by the
    # extra stored column
    plain = sim.ivf_search_index(spark, path, q, n_probe=3, k=5)
    want = _pairs_ranked(sim.ivf_topk(clustered, q, n_centroids=8, n_probe=3, k=5))
    assert _pairs_ranked(plain) == want


def test_ivfpq_filtered_serving(spark, clustered, tmp_path):
    """Filtered serving across the PQ ladder: an index built with
    meta_cols serves where= as the order-preserving subsequence of the
    unfiltered ADC ranking restricted to predicate-passing members,
    re-numbered — exactly pre-filter semantics. Holds for both the
    plain IVF-PQ and the residual IVFADC layouts."""
    labeled = clustered.withColumn("label", F.col("vec_id") % 3)
    q = _queries(clustered)

    for build, search, sub in [
        (sim.ivfpq_build_index, sim.ivfpq_search_index, "pq"),
        (sim.ivfpq_res_build_index, sim.ivfpq_res_search_index, "res"),
    ]:
        path = str(tmp_path / f"ivfpq_meta_{sub}")
        build(labeled, path, dim=8, n_centroids=8, m=2, k_sub=8,
              lloyd_iters=2, meta_cols=["label"])
        # unfiltered full ranking (k = corpus size) → expected filtered
        # top-5 = label-1 subsequence re-ranked
        full = search(spark, path, q, dim=8, n_probe=3, k=10**6)
        by_q = {}
        for r in sorted(full.collect(), key=lambda r: (r.query_id, r.rank)):
            by_q.setdefault(r.query_id, []).append(r.neighbor_id)
        want = set()
        for qid, order in by_q.items():
            keep = [n for n in order if n % 3 == 1][:5]
            want |= {(qid, n, i + 1) for i, n in enumerate(keep)}
        got = search(spark, path, q, dim=8, n_probe=3, k=5, where="label = 1")
        assert _pairs_ranked(got) == want and len(want) > 0, sub
        # meta column is inert for unfiltered serving
        plain = search(spark, path, q, dim=8, n_probe=3, k=5)
        want_plain = {
            (qid, n, i + 1)
            for qid, order in by_q.items()
            for i, n in enumerate(order[:5])
        }
        assert _pairs_ranked(plain) == want_plain, sub


def test_ivf_append_with_meta_visible_to_filtered_search(spark, clustered, tmp_path):
    """Appends to a meta-built index must carry the same meta columns —
    otherwise NULL metadata after schema merge silently hides appended
    vectors from filtered serving. Pin: an appended predicate-passing
    near-clone of a query IS returned by the filtered search."""
    labeled = clustered.withColumn("label", F.col("vec_id") % 3)
    path = str(tmp_path / "ivf_meta_app")
    sim.ivf_build_index(labeled, path, n_centroids=8, lloyd_iters=2,
                        meta_cols=["label"])
    # append a near-clone of query 0 with label 1 (passes the filter).
    # meta TYPES must match the build's too — the build wrote label as
    # BIGINT (vec_id % 3), so an INT literal here would poison the
    # layout with mixed parquet physical types (read-time
    # SchemaColumnConvertNotSupportedException on whichever file loses
    # the schema-resolution race)
    clone = clustered.filter(F.col("vec_id") == 0).select(
        F.lit(9001).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(1e-6)).alias("embedding"),
        F.lit(1).cast("long").alias("label"),
    )
    sim.ivf_append_index(clone, path, meta_cols=["label"])
    q = _queries(clustered).filter(F.col("query_id") == 0)
    got = {r.neighbor_id for r in sim.ivf_search_index(
        spark, path, q, n_probe=3, k=5, where="label = 1").collect()}
    assert 9001 in got
    # and the write-time type guard: an INT label against the BIGINT
    # layout raises loudly instead of poisoning the directory
    bad = clone.withColumn("label", F.lit(2))
    with pytest.raises(ValueError, match="mixed parquet physical types"):
        sim.ivf_append_index(bad, path, meta_cols=["label"])


def test_ivf_compact_index(spark, clustered, tmp_path):
    """Append-driven small files compact down with row identity: search
    results are UNCHANGED, file counts drop, appended + built rows all
    survive; the codes layout compacts through the same path."""
    path = str(tmp_path / "ivf_cmp")
    old = clustered.filter(F.col("vec_id") < 150)
    sim.ivf_build_index(old, path, n_centroids=8, lloyd_iters=2)
    for lo in (150, 170, 190):
        sim.ivf_append_index(
            clustered.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 20)),
            path,
        )
    q = _queries(clustered)
    before = _pairs_ranked(sim.ivf_search_index(spark, path, q, n_probe=3, k=5))
    rep = sim.ivf_compact_index(spark, path)
    assert rep["lists_compacted"] > 0
    assert rep["files_after"] < rep["files_before"]
    assert rep["rows"] > 0
    after = _pairs_ranked(sim.ivf_search_index(spark, path, q, n_probe=3, k=5))
    assert after == before
    # idempotent-ish: a second pass finds nothing (or no-ops harmlessly)
    rep2 = sim.ivf_compact_index(spark, path)
    assert rep2["files_before"] == 0 or rep2["files_after"] <= rep2["files_before"]


def test_append_without_meta_to_meta_layout_raises(spark, clustered, tmp_path):
    """Appending WITHOUT meta_cols to a layout built WITH them must raise
    loudly: silent NULL metadata after parquet schema merge would hide the
    appended vectors from filtered serving (where=...) forever. All three
    append paths read the stored schema unconditionally and compare it to
    what the append supplies (ADVICE r11)."""
    labeled = clustered.withColumn("label", F.col("vec_id") % 3)
    new = clustered.filter(F.col("vec_id") >= 190)
    p1 = str(tmp_path / "flat")
    sim.ivf_build_index(labeled, p1, n_centroids=8, lloyd_iters=2,
                        meta_cols=["label"])
    with pytest.raises(ValueError, match="does not supply"):
        sim.ivf_append_index(new, p1)
    p2 = str(tmp_path / "pq")
    sim.ivfpq_build_index(labeled, p2, dim=8, n_centroids=8, lloyd_iters=2,
                          meta_cols=["label"])
    with pytest.raises(ValueError, match="does not supply"):
        sim.ivfpq_append_index(new, p2, dim=8)
    p3 = str(tmp_path / "res")
    sim.ivfpq_res_build_index(labeled, p3, dim=8, n_centroids=8,
                              lloyd_iters=2, meta_cols=["label"])
    with pytest.raises(ValueError, match="does not supply"):
        sim.ivfpq_res_append_index(new, p3, dim=8)
    # meta-less layouts still take meta-less appends (no false positives)
    p4 = str(tmp_path / "plain")
    sim.ivf_build_index(clustered.filter(F.col("vec_id") < 150), p4,
                        n_centroids=8, lloyd_iters=2)
    sim.ivf_append_index(new, p4)


@pytest.mark.slow  # driver-verify gate (r16): long-tail; run with -m ""
def test_ivf_compact_index_splits_hot_list(spark, clustered, tmp_path):
    """A hot list bigger than target_bytes must compact to MULTIPLE files
    (⌈bytes/target⌉), not one giant file per cid (ADVICE r11: repartition
    by cid alone made every list a single file). With a tiny target every
    multi-row list should end up with >1 parquet file, and results are
    still byte-identical."""
    import os

    path = str(tmp_path / "ivf_split")
    sim.ivf_build_index(clustered.filter(F.col("vec_id") < 150), path,
                        n_centroids=4, lloyd_iters=2)
    for lo in (150, 175):
        sim.ivf_append_index(
            clustered.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 25)),
            path,
        )
    q = _queries(clustered)
    before = _pairs_ranked(sim.ivf_search_index(spark, path, q, n_probe=4, k=5))
    rep = sim.ivf_compact_index(spark, path, target_bytes=1)  # force max splitting
    assert rep["lists_compacted"] > 0
    root = os.path.join(path, "corpus")
    per_cid_files = {}
    for d in os.listdir(root):
        if d.startswith("cid="):
            full = os.path.join(root, d)
            per_cid_files[d] = sum(
                1 for dp, _dn, fns in os.walk(full)
                for f in fns if f.endswith(".parquet")
            )
    # the corpus is 200 rows over 4 lists — every compacted list holds far
    # more than 1 byte, so the per-list split must kick in somewhere
    assert max(per_cid_files.values()) > 1, per_cid_files
    after = _pairs_ranked(sim.ivf_search_index(spark, path, q, n_probe=4, k=5))
    assert after == before


def test_ivf_compact_codes_layout_with_meta(spark, clustered, tmp_path):
    """The codes layout (IVF-PQ) compacts through the same path — claimed
    by the compactor's docstring, now pinned: append-driven small files
    in cid= dirs merge with row identity INCLUDING metadata columns, and
    filtered serving is unchanged after the swap."""
    labeled = clustered.withColumn("label", F.col("vec_id") % 3)
    path = str(tmp_path / "pq_cmp")
    sim.ivfpq_build_index(
        labeled.filter(F.col("vec_id") < 150), path, dim=8, n_centroids=8,
        lloyd_iters=2, meta_cols=["label"],
    )
    for lo in (150, 175):
        sim.ivfpq_append_index(
            labeled.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 25)),
            path, dim=8, meta_cols=["label"],
        )
    q = _queries(clustered)
    before = _pairs_ranked(
        sim.ivfpq_search_index(spark, path, q, dim=8, n_probe=3, k=5,
                               where="label = 1")
    )
    rep = sim.ivf_compact_index(spark, path, subdir="codes")
    assert rep["lists_compacted"] > 0
    assert rep["files_after"] < rep["files_before"]
    after = _pairs_ranked(
        sim.ivfpq_search_index(spark, path, q, dim=8, n_probe=3, k=5,
                               where="label = 1")
    )
    assert after == before and len(after) > 0
