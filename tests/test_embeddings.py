"""Embedding linear algebra: exact integer Gram + ZCA whitening."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from laradb_spark.pipelines.embeddings import MICRO, embedding_gram_int, whiten_embeddings


@pytest.fixture(scope="module")
def small_emb(spark):
    rng = np.random.default_rng(11)
    # correlated dims so whitening has real work to do
    base = rng.normal(size=(300, 2))
    mix = np.array([[1.0, 0.4, 0.0, 0.1], [0.0, 0.3, 1.0, -0.2]])
    v = base @ mix + rng.normal(scale=0.05, size=(300, 4))
    rows = [(i, [float(x) for x in v[i]]) for i in range(300)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>"), v


def test_gram_matches_numpy_exactly(spark, small_emb):
    df, v = small_emb
    q = np.floor(v * MICRO + 0.5).astype(np.int64)
    want = q.T @ q
    got = embedding_gram_int(df, dim=4)
    cells = {(r.i, r.j): r.g for r in got.collect()}
    assert len(cells) == 10  # upper triangle of 4x4
    for i in range(4):
        for j in range(i, 4):
            assert cells[(i, j)] == want[i, j], (i, j)


def test_gram_is_partition_count_invariant(spark, small_emb):
    df, _ = small_emb
    a = {(r.i, r.j): r.g for r in embedding_gram_int(df.repartition(1), dim=4).collect()}
    b = {(r.i, r.j): r.g for r in embedding_gram_int(df.repartition(13), dim=4).collect()}
    assert a == b  # integer partial sums combine associatively


def test_whitening_identity_covariance(spark, small_emb):
    df, _ = small_emb
    out = whiten_embeddings(df, dim=4)
    w = np.stack([np.array(r.whitened) for r in out.collect()])
    assert w.shape == (300, 4)
    cov = np.cov(w, rowvar=False, bias=True)
    assert np.allclose(cov, np.eye(4), atol=0.05), cov


def test_whiten_then_semantic_dedup_composes(spark, small_emb):
    """Pipeline composition: whitened embeddings flow straight into
    semantic dedup (schema contract holds: (vec_id, whitened array) →
    rename → dedup), and exact duplicate vectors still collapse after
    whitening (an affine map preserves equality)."""
    from pyspark.sql import functions as F

    from laradb_spark.pipelines.embeddings import whiten_embeddings
    from laradb_spark.pipelines.similarity import semantic_dedup

    df, _ = small_emb
    # plant an exact twin of vec 0 with a high id
    twin = df.filter(F.col("vec_id") == 0).select(
        F.lit(9999).cast("long").alias("vec_id"), "embedding"
    )
    w = whiten_embeddings(df.unionByName(twin), dim=4).select(
        "vec_id", F.col("whitened").alias("embedding")
    )
    kept = {r.vec_id for r in semantic_dedup(
        w, tau=0.999999, n_centroids=4, lloyd_iters=1
    ).collect()}
    assert 0 in kept and 9999 not in kept   # twin dropped, original kept
    assert len(kept) >= 250                 # non-duplicates survive


def test_pca_project_matches_numpy_and_captures_variance(spark):
    """pca_project ≡ NumPy PCA on the same data (top-k eigvecs of the
    sample covariance, mean-centered, sign-pinned), and the top-2
    projection of data generated along 2 dominant axes captures nearly
    all the variance."""
    import numpy as np

    from laradb_spark.pipelines.embeddings import pca_project

    rng = np.random.default_rng(7)
    d, n, k = 6, 400, 2
    basis = rng.normal(size=(2, d))
    X = rng.normal(size=(n, 2)) @ (basis * 5) + rng.normal(size=(n, d)) * 0.05
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: np.array(r.pca) for r in pca_project(df, dim=d, k=k).collect()}

    # NumPy oracle — mirror the engine's integer-Gram covariance exactly:
    # vectors quantized to micro-units before the Gram (embeddings.MICRO)
    Xq = np.round(X * 1_000_000)
    mu = X.mean(axis=0)
    cov = (Xq.T @ Xq) / 1e12 / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)
    comps = vecs[:, np.argsort(vals)[::-1][:k]]
    flip = np.sign(comps[np.abs(comps).argmax(axis=0), np.arange(k)])
    comps = comps * np.where(flip == 0, 1.0, flip)
    want = (X - mu) @ comps
    for i in range(n):
        assert np.allclose(got[i], want[i], atol=1e-6), i

    # variance capture: projected variance ≈ total variance (axes dominate)
    P = np.stack([got[i] for i in range(n)])
    assert P.var(axis=0).sum() / ((X - mu).var(axis=0).sum()) > 0.99

    # empty input → empty frame, correct schema
    empty = df.filter("vec_id < 0")
    out = pca_project(empty, dim=d, k=k)
    assert out.count() == 0 and out.columns == ["vec_id", "pca"]


def test_pca_project_validates_inputs(spark):
    """k > dim raises up-front (a d-dim space has ≤ d components — the
    argsort slice would otherwise silently truncate), and a NULL
    embedding row raises an actionable ValueError from the projection
    batch instead of an obscure np.stack crash."""
    import pytest

    from laradb_spark.pipelines.embeddings import pca_project

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [2.0, 1.0, 0.0]), (2, [0.5, 0.5, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="k=5 > dim=3"):
        pca_project(df, dim=3, k=5)
    with_null = df.unionByName(
        spark.createDataFrame([(3, None)], "vec_id long, embedding array<double>")
    )
    with pytest.raises(Exception, match="non-null"):
        pca_project(with_null, dim=3, k=2).collect()
