"""Focused tests for the r16 dispatch optimizations: literal_frame
(LocalRelation-backed driver literals) and the trainer's driver-side
mean assembly — both must be value- and schema-identical to the
createDataFrame / aggregate formulations they replace."""

import math

import pytest
from plan_helpers import count_jobs
from pyspark.sql import functions as F

from laradb_spark import util
from laradb_spark.util import literal_frame


def _norm(rows):
    return sorted(str(tuple(r)) for r in rows)


CASES = [
    ([(1, "a'b\\c", 3.14), (2, "", float("nan")), (None, "x`y€", float("-inf"))],
     "id int, s string, d double"),
    ([(10**12, [1.5e-300, None, 0.1 + 0.2], True)],
     "id long, v array<double>, f boolean"),
    ([], "q int, vec array<double>"),
    ([(1, None), (2, [])], "i int, v array<double>"),
    ([(0, "t0", 1000), (1, "t1", 500)], "query_id int, term string, w_milli int"),
    ([(0, [1.0, 2.0]), (1, [3.0, 4.0])], "cid long, cent array<double>"),
]


@pytest.mark.parametrize("rows,schema", CASES)
def test_literal_frame_matches_createdataframe(spark, rows, schema):
    a = literal_frame(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert a.schema.json() == b.schema.json()  # nullability included
    assert _norm(a.collect()) == _norm(b.collect())


def _is_local(df):
    return "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()


def test_literal_frame_is_local_relation(spark):
    assert _is_local(literal_frame(spark, [(1, "x")], "i int, s string"))


def test_literal_frame_takes_an_iterator(spark):
    rows = [(1, "a"), (2, "b")]
    df = literal_frame(spark, iter(rows), "i int, s string")
    assert _is_local(df)
    assert _norm(df.collect()) == _norm(rows)
    # the fallback also gets every row, not what rendering left over
    m = [({"k": 1},), ({"k": 2},)]
    df = literal_frame(spark, (r for r in m), "m map<string,int>")
    assert sorted(r.m["k"] for r in df.collect()) == [1, 2]


def test_literal_frame_counts_array_elements(spark, monkeypatch):
    monkeypatch.setattr(util, "LITERAL_FRAME_MAX_CELLS", 100)
    schema = "i int, v array<double>"
    small = [(i, [float(i)] * 30) for i in range(3)]   # 93 cells
    big = [(i, [float(i)] * 30) for i in range(4)]     # 124 cells
    assert _is_local(literal_frame(spark, small, schema))
    df = literal_frame(spark, big, schema)
    assert not _is_local(df)
    assert _norm(df.collect()) == _norm(big)


def test_literal_frame_never_wraps_integers(spark):
    edges = [(127, -32768, 2**31 - 1, -(2**63))]
    schema = "a tinyint, b smallint, c int, d bigint"
    df = literal_frame(spark, edges, schema)
    assert _is_local(df)
    assert [tuple(r) for r in df.collect()] == edges
    # with ANSI off, CAST(300 AS tinyint) gives 44; the createDataFrame
    # fallback rejects the value instead, whatever the ANSI setting
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            for v, t in [(300, "tinyint"), (2**31, "int"), (2**63, "bigint")]:
                with pytest.raises(Exception) as want:
                    spark.createDataFrame([(v,)], f"x {t}")
                with pytest.raises(type(want.value)):
                    literal_frame(spark, [(v,)], f"x {t}")
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_literal_frame_double_exactness(spark):
    vals = [0.1 + 0.2, 1.5e-300, -0.0, float("inf"), float("nan")]
    got = [r[0] for r in literal_frame(
        spark, [(v,) for v in vals], "x double").collect()]
    assert got[0] == vals[0]
    assert got[1] == vals[1]
    assert got[2] == 0.0
    assert got[3] == float("inf")
    assert math.isnan(got[4])


def test_literal_frame_falls_back_on_unsupported(spark):
    # struct-typed rows are outside the rendered types — must still work
    rows = [((1, "a"),)]
    schema = "s struct<i:int,t:string>"
    a = literal_frame(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert _norm(a.collect()) == _norm(b.collect())


def test_train_centroids_vectorized_matches_expression(spark):
    """The driver-side mean assembly emits the centroid table the
    expression-path aggregate emitted (recorded from both before that
    path was deleted), including NULL vectors and NULL components."""
    import numpy as np

    from laradb_spark.pipelines.similarity import _train_centroids

    rows = [
        (0, [1.0, 2.0, 3.0, 4.0]),
        (1, [0.5, -1.0, 2.5, 0.0]),
        (2, None),
        (3, [4.0, 4.0, 4.0, 4.0]),
        (4, [1e-3, 2e-3, 3e-3, 4e-3]),
        (5, [-1.0, -2.0, -3.0, -4.0]),
    ]
    c = spark.createDataFrame(rows, "neighbor_id long, cvec array<double>")
    got = {r["cid"]: list(r["cent"]) for r in _train_centroids(c, 2, 2).collect()}
    want = {0: [1.37525, 1.2505, 2.37575, 2.001], 1: [-1.0, -2.0, -3.0, -4.0]}
    assert set(got) == set(want)
    for cid in want:
        assert np.allclose(got[cid], want[cid], rtol=1e-12), cid


def test_trainer_literal_frames_collect_without_jobs(spark, monkeypatch):
    """Trainers hand back their centroid and codebook frames with the
    rows attached (``_attach_rows``), so consumers that need them
    driver-side again collect them with no Spark job. A cap of 0 sends
    every literal down the createDataFrame fallback, whose collect runs
    a job, so the test sees whether the attached rows were used."""
    from laradb_spark.pipelines.similarity import (
        _collect_rows,
        _train_centroids,
        pq_train_codebooks,
    )

    monkeypatch.setattr(util, "LITERAL_FRAME_MAX_CELLS", 0)
    rows = [(i, [float((i * j) % 5 - 2) for j in range(4)]) for i in range(12)]
    c = spark.createDataFrame(rows, "neighbor_id long, cvec array<double>")
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for frame in (
        _train_centroids(c, 3, 2),
        pq_train_codebooks(emb, dim=4, m=2, k_sub=2),
    ):
        got, n_jobs = count_jobs(spark, lambda: _collect_rows(frame))
        want, n_plain = count_jobs(spark, frame.collect)
        assert n_jobs == 0 < n_plain
        assert _norm(got) == _norm(want)
