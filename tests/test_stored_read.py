"""util.read_stored: stored index layouts are served without a
schema-inference job per call, and every rewrite of a layout is seen."""

import os

import pytest
from plan_helpers import count_jobs
from pyspark.sql import functions as F

from laradb_spark import util
from laradb_spark.pipelines import retrieval as rt
from laradb_spark.pipelines import similarity as sim


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [(i, [float((i * j) % 7 - 3) for j in range(8)]) for i in range(60)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _queries(df):
    return df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_second_search_runs_no_schema_inference_job(spark, vectors, tmp_path):
    # few distinct terms keep the postings under Spark's parallel-listing
    # threshold, so building the BM25 search plan runs no listing job and
    # every job it runs is a schema inference
    docs = spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 5} common") for i in range(40)], "doc_id long, text string"
    )
    bm25 = str(tmp_path / "bm25")
    rt.bm25_build_index(docs, bm25)
    qs = [(1, "w1 common"), (2, "w3")]
    first, n_first = count_jobs(spark, lambda: rt.bm25_search_index(spark, bm25, qs, k=3))
    second, n_second = count_jobs(spark, lambda: rt.bm25_search_index(spark, bm25, qs, k=3))
    assert n_first == 3  # postings, termstats, stats
    assert n_second == 0
    assert sorted(first.collect()) == sorted(second.collect())

    ivf = str(tmp_path / "ivf")
    sim.ivf_build_index(vectors, ivf, n_centroids=4)
    q = _queries(vectors)
    a, n_a = count_jobs(spark, lambda: sim.ivf_search_index(spark, ivf, q, k=3))
    b, n_b = count_jobs(spark, lambda: sim.ivf_search_index(spark, ivf, q, k=3))
    assert n_a - n_b == 2  # centroids, corpus
    assert sorted(a.collect()) == sorted(b.collect())


def test_rebuild_at_same_path_is_seen(spark, vectors, tmp_path):
    path = str(tmp_path / "ivf")
    q = _queries(vectors)
    sim.ivf_build_index(vectors, path, n_centroids=4)
    assert sim.ivf_search_index(spark, path, q, n_probe=4, k=3).count() > 0
    labeled = vectors.withColumn("label", F.col("vec_id") % 3)
    sim.ivf_build_index(labeled, path, n_centroids=4, meta_cols=["label"])
    got = sim.ivf_search_index(spark, path, q, n_probe=4, k=3, where="label = 1").collect()
    assert got and all(r.neighbor_id % 3 == 1 for r in got)
    assert "label" in util.read_stored(spark, f"{path}/corpus").columns


def _error_of(fn):
    with pytest.raises(Exception) as e:
        fn()
    return type(e.value), str(e.value)


def test_missing_or_empty_path_raises_like_spark(spark, tmp_path):
    missing = str(tmp_path / "missing")
    want = _error_of(lambda: spark.read.parquet(missing))
    assert _error_of(lambda: util.read_stored(spark, missing)) == want
    empty = tmp_path / "empty"
    empty.mkdir()
    want = _error_of(lambda: spark.read.parquet(str(empty)))
    assert _error_of(lambda: util.read_stored(spark, str(empty))) == want


def test_dir_identity_sees_local_paths_only(tmp_path):
    p = str(tmp_path)
    st = os.stat(p)
    want = (st.st_dev, st.st_ino, st.st_mtime_ns)
    assert util._dir_identity(p) == want
    assert util._dir_identity(f"file://{p}") == want
    assert util._dir_identity(f"s3a://bucket{p}") is None
    assert util._dir_identity(str(tmp_path / "missing")) is None


# Centroids and queries of the probe-order pins: ties (0 = 1, and 5 is 0
# scaled), a centroid with a NULL component (7), and queries that are
# zero, NaN, NULL, of another dim, or empty.
_NAN = float("nan")
_CENTS = [
    (0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]),
    (3, [0.0, 0.0, 1.0]), (4, [-1.0, 0.0, 0.0]), (5, [2.0, 0.0, 0.0]),
    (6, [0.5, 0.5, 0.5]), (7, [None, 1.0, 1.0]),
]
_PROBE_QUERIES = [
    (1, [1.0, 0.0, 0.0]), (2, [0.0, 0.0, 0.0]), (3, [_NAN, 1.0, 0.0]),
    (4, [None, 1.0, 0.0]), (5, [1.0, 2.0]), (6, None), (7, [0.3, -0.2, 0.9]),
    (8, [-1.0, 0.0, 0.0]), (9, []), (10, [0.0, 0.0]), (11, [_NAN, 1.0]),
]
# Every centroid in probe order per query, as the expression probe
# (crossJoin of the centroids + row_number over cosine desc, cid asc)
# ranked them. Queries 5 and 11 have another dim: the expression scores
# them NULL (last) against every live centroid and 0.0 against 7.
_PROBE_ORDER = {
    1: [0, 1, 5, 6, 2, 3, 7, 4], 2: [0, 1, 2, 3, 4, 5, 6, 7],
    3: [0, 1, 2, 3, 4, 5, 6, 7], 4: [0, 1, 2, 3, 4, 5, 6, 7],
    5: [7, 0, 1, 2, 3, 4, 5, 6], 6: [0, 1, 2, 3, 4, 5, 6, 7],
    7: [3, 6, 0, 1, 5, 7, 2, 4], 8: [4, 2, 3, 7, 6, 0, 1, 5],
    9: [0, 1, 2, 3, 4, 5, 6, 7], 10: [0, 1, 2, 3, 4, 5, 6, 7],
    11: [7, 0, 1, 2, 3, 4, 5, 6],
}


def test_driver_probes_equal_expression_probes(spark, tmp_path):
    path = str(tmp_path / "centroids")
    spark.createDataFrame(_CENTS, "cid long, cent array<double>").write.parquet(path)
    q = spark.createDataFrame(_PROBE_QUERIES, "query_id long, qvec array<double>")
    for n_probe in (3, 8):
        rows, schema = sim._driver_probes(spark, path, q, n_probe, "query_id")
        got: dict = {}
        for qid, _, cid in rows:
            got.setdefault(qid, []).append(cid)
        assert got == {qid: order[:n_probe] for qid, order in _PROBE_ORDER.items()}
        assert schema.simpleString() == "struct<query_id:bigint,qvec:array<double>,cid:bigint>"


def test_centroid_cosines_match_cosine_expression(spark, tmp_path):
    """The NumPy replay scores each (query, centroid) pair with the
    expression's exact double, and NULL where the expression is NULL."""
    path = str(tmp_path / "centroids")
    spark.createDataFrame(_CENTS, "cid long, cent array<double>").write.parquet(path)
    book = sim._stored_centroids(spark, path)
    want = {
        (r.query_id, r.cid): r.s
        for r in spark.createDataFrame(_PROBE_QUERIES, "query_id long, qvec array<double>")
        .crossJoin(spark.createDataFrame(_CENTS, "cid long, cent array<double>"))
        .select("query_id", "cid", sim.cosine(F.col("qvec"), F.col("cent")).alias("s"))
        .collect()
    }
    for qid, qvec in _PROBE_QUERIES:
        scores, null = sim._centroid_cosines(book, qvec)
        for cid, s, n in zip(book[1], scores, null):
            assert (None if n else float(s)) == want[(qid, int(cid))], (qid, cid)


def test_centroid_and_stats_memos_follow_rewrites(spark, vectors, tmp_path):
    """The driver-side memos of a stored index are tied to the table
    directory: a rebuild, a recenter and a BM25 append each serve the
    new table on the next call."""
    ivf = str(tmp_path / "ivf")
    sim.ivf_build_index(vectors, ivf, n_centroids=4)
    assert len(sim._stored_centroids(spark, f"{ivf}/centroids")[1]) == 4
    sim.ivf_build_index(vectors, ivf, n_centroids=5)
    assert len(sim._stored_centroids(spark, f"{ivf}/centroids")[1]) == 5
    sim.ivf_recenter_index(spark, ivf, n_centroids=3)
    cids = sim._stored_centroids(spark, f"{ivf}/centroids")[1]
    assert len(cids) == 3
    q = _queries(vectors).select("query_id", F.col("embedding").alias("qvec"))
    probes, _ = sim._driver_probes(spark, f"{ivf}/centroids", q, 8, "query_id")
    assert {cid for _, _, cid in probes} == set(cids.tolist())

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 5} common") for i in range(40)], "doc_id long, text string"
    )
    bm25 = str(tmp_path / "bm25")
    rt.bm25_build_index(docs.filter("doc_id < 20"), bm25)
    assert rt._stored_stats(spark, bm25) == (20, 60)
    rt.bm25_append_index(docs.filter("doc_id >= 20"), bm25)
    assert rt._stored_stats(spark, bm25) == (40, 120)
    rt.bm25_build_index(docs.filter("doc_id < 10"), bm25)
    assert rt._stored_stats(spark, bm25) == (10, 30)


@pytest.fixture(scope="module")
def hybrid_indexes(spark, vectors, tmp_path_factory):
    d = tmp_path_factory.mktemp("hybrid")
    docs = spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 5} common") for i in range(60)], "doc_id long, text string"
    )
    bm25, ivf = str(d / "bm25"), str(d / "ivf")
    rt.bm25_build_index(docs, bm25)
    sim.ivf_build_index(vectors, ivf, n_centroids=4)
    return bm25, ivf


def _hybrid(spark, vectors, hybrid_indexes):
    bm25, ivf = hybrid_indexes
    qs = [(0, "w1 common"), (1, "w3"), (2, "w2 w4")]
    return rt.hybrid_search_index(
        spark, bm25, ivf, qs, _queries(vectors), k=5, k_cand=8, n_probe=2
    )


def test_second_hybrid_search_runs_at_most_eight_jobs(spark, vectors, hybrid_indexes):
    """A warm hybrid call over unchanged indexes is one plan: one collect
    of the query vectors while building; the two literal broadcasts, the
    termstats broadcast, the BM25 partial-aggregate shuffle, the
    (query, list) rank exchange, the ``query_id`` exchange and the result
    stage while collecting — 8 jobs in all (13 before the driver probes)."""

    def call():
        return _hybrid(spark, vectors, hybrid_indexes).collect()

    first = call()
    second, n = count_jobs(spark, call)
    assert n <= 8
    assert sorted(first) == sorted(second) and len(second) == 15


def _depth(line):
    return len(line) - len(line.lstrip(" :+-"))


def test_hybrid_search_limits_each_list_before_its_exchange(
    spark, vectors, hybrid_indexes
):
    """The one ranking window stays bounded: Spark's partial group limit
    runs below the (query_id, _list) exchange, so no task receives more
    than k_cand rows per query and list from any map task. Past the
    session's group-limit threshold Spark plans no such limit, and each
    list is ranked by its own search instead, with the same result."""
    one = _hybrid(spark, vectors, hybrid_indexes)
    plan = one._jdf.queryExecution().executedPlan().toString().splitlines()
    at = next(
        i for i, line in enumerate(plan)
        if "Exchange hashpartitioning(query_id" in line and "_list" in line
    )
    below = []
    for line in plan[at + 1:]:
        if _depth(line) <= _depth(plan[at]):
            break
        below.append(line)
    assert any("WindowGroupLimit" in line and "Partial" in line for line in below), plan
    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    spark.conf.set(key, "7")
    try:
        per_list = _hybrid(spark, vectors, hybrid_indexes)
        assert "_list#" not in per_list._jdf.queryExecution().executedPlan().toString()
        assert sorted(per_list.collect()) == sorted(one.collect())
    finally:
        spark.conf.unset(key)
