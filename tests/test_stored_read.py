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
