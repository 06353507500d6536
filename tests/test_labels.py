"""Label/embedding QA audits: kNN label noise, semantic decon, centroid
outliers — each replayed in NumPy/pure Python on the same small input."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from laradb_spark.pipelines.labels import (
    knn_label_audit,
    label_centroid_outliers,
    label_centroids,
    semantic_decontaminate,
)
from laradb_spark.pipelines.similarity import brute_force_topk


def _cos(a, b):
    na, nb = np.linalg.norm(a), np.linalg.norm(b)
    return float(a @ b / (na * nb)) if na > 0 and nb > 0 else 0.0


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(7)
    v = rng.normal(size=(60, 8))
    labels = [i % 3 for i in range(60)]
    rows = [(i, [float(x) for x in v[i]], labels[i]) for i in range(60)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    return df, v, labels


def test_knn_audit_matches_numpy_vote(spark, emb):
    df, v, labels = emb
    k = 5
    queries = df.select(F.col("vec_id").alias("query_id"), "embedding")
    nbrs = brute_force_topk(df, queries, k=k)
    got = {
        r.vec_id: (r.label, r.knn_label, r.votes, r.mismatch)
        for r in knn_label_audit(nbrs, df.select("vec_id", "label")).collect()
    }
    assert len(got) == 60
    for q in range(60):
        sims = sorted(
            ((-_cos(v[q], v[c]), c) for c in range(60) if c != q),
        )[:k]  # (-cos asc, id asc) == (cos desc, id asc) tie-break
        votes: dict[int, int] = {}
        for _, c in sims:
            votes[labels[c]] = votes.get(labels[c], 0) + 1
        knn_label = min(votes, key=lambda l: (-votes[l], l))
        assert got[q] == (
            labels[q],
            knn_label,
            votes[knn_label],
            int(labels[q] != knn_label),
        ), q


def test_knn_audit_vote_tie_breaks_to_smallest_label(spark):
    # two neighbors each for labels 1 and 2 -> plurality tie -> label 1
    nbrs = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3), (0, 13, 4)],
        "query_id long, neighbor_id long, rank int",
    )
    labels = spark.createDataFrame(
        [(0, 2), (10, 2), (11, 2), (12, 1), (13, 1)], "vec_id long, label int"
    )
    row = knn_label_audit(nbrs, labels).collect()[0]
    assert (row.knn_label, row.votes, row.mismatch) == (1, 2, 1)


def test_knn_audit_string_labels_tie_break(spark):
    # label_col is generic and string labels are the common case; the
    # tie-break must not cast the label (ADVICE r7: unary minus on a
    # string column throws under ANSI mode). Plurality tie between 'cat'
    # and 'dog' -> smallest label 'cat'.
    nbrs = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3), (0, 13, 4)],
        "query_id long, neighbor_id long, rank int",
    )
    labels = spark.createDataFrame(
        [(0, "dog"), (10, "dog"), (11, "dog"), (12, "cat"), (13, "cat")],
        "vec_id long, label string",
    )
    row = knn_label_audit(nbrs, labels).collect()[0]
    assert (row.knn_label, row.votes, row.mismatch) == ("cat", 2, 1)


def test_knn_audit_composes_with_any_neighbor_source(spark, emb):
    # the audit is frame-shaped, not scorer-shaped: feeding it a truncated
    # neighbor frame (as an LSH/IVF candidate set would produce) works and
    # audits only the ids present.
    df, _, _ = emb
    queries = df.select(F.col("vec_id").alias("query_id"), "embedding")
    nbrs = brute_force_topk(df, queries, k=3).filter(F.col("query_id") < 10)
    out = knn_label_audit(nbrs, df.select("vec_id", "label"))
    assert out.count() == 10
    assert set(out.columns) == {"vec_id", "label", "knn_label", "votes", "mismatch"}


def test_semantic_decontaminate_matches_numpy(spark, emb):
    df, v, labels = emb
    tau = 0.2
    corpus = df.filter(F.col("label") != 0)
    bench = df.filter(F.col("label") == 0)
    got = {
        r.vec_id: r.n_hits
        for r in semantic_decontaminate(corpus, bench, tau=tau).collect()
    }
    want: dict[int, int] = {}
    for i in range(60):
        if labels[i] == 0:
            continue
        n = sum(
            1
            for j in range(60)
            if labels[j] == 0 and round(_cos(v[i], v[j]), 6) >= tau
        )
        if n:
            want[i] = n
    assert got == want
    assert want  # threshold chosen so the test is non-vacuous


def test_semantic_decontaminate_zero_vector_matches_nothing(spark):
    corpus = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    bench = spark.createDataFrame(
        [(9, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    got = {r.vec_id: r.n_hits for r in semantic_decontaminate(corpus, bench, 0.5).collect()}
    assert got == {1: 1}


def test_label_centroids_match_numpy_means(spark, emb):
    df, v, labels = emb
    cents = {r.label: np.array(r.centroid) for r in label_centroids(df).collect()}
    for lab in range(3):
        want = v[[i for i in range(60) if labels[i] == lab]].mean(axis=0)
        assert np.allclose(cents[lab], want, atol=1e-12), lab


def test_centroid_outliers_match_numpy(spark, emb):
    df, v, labels = emb
    tau = 0.1
    got = {
        r.label: (r.n_members, r.n_outliers)
        for r in label_centroid_outliers(df, tau=tau).collect()
    }
    for lab in range(3):
        members = [i for i in range(60) if labels[i] == lab]
        cent = v[members].mean(axis=0)
        n_out = sum(1 for i in members if round(_cos(v[i], cent), 6) < tau)
        assert got[lab] == (len(members), n_out), lab
    assert sum(o for _, o in got.values()) > 0  # non-vacuous threshold


def test_semantic_decon_twins_agree(spark, emb):
    """Bad vectors on both sides change nothing: adding a NULL vector, a
    NaN, an Inf and a zero vector to the corpus, and a NULL and a NaN
    vector to the benchmark, gives the same hits as the clean split (a
    bad vector scores 0.0, as ``cosine`` gives it), with 9-row Arrow
    batches."""
    df, _, _ = emb
    nan, inf = float("nan"), float("inf")
    dirty = spark.createDataFrame(
        [(900, None, 1), (901, [nan] * 8, 1), (902, [inf] + [1.0] * 7, 2),
         (903, [0.0] * 8, 2), (904, None, 0), (905, [1.0] * 7 + [nan], 0)],
        "vec_id long, embedding array<double>, label int",
    )
    both = df.unionByName(dirty)
    clean = {
        (r.vec_id, r.n_hits)
        for r in semantic_decontaminate(
            df.filter(F.col("label") != 0), df.filter(F.col("label") == 0), tau=0.2
        ).collect()
    }
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "9")
    try:
        got = {
            (r.vec_id, r.n_hits)
            for r in semantic_decontaminate(
                both.filter(F.col("label") != 0),
                both.filter(F.col("label") == 0),
                tau=0.2,
            ).collect()
        }
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert got == clean and clean


def test_semantic_decon_vectorized_empty_benchmark(spark, emb):
    df, _, _ = emb
    empty = df.filter(F.col("label") == 999)
    out = semantic_decontaminate(df, empty, tau=0.2)
    assert out.count() == 0
    assert out.columns == ["vec_id", "n_hits"]


def test_semantic_decon_vectorized_rejects_null_benchmark(spark):
    """A benchmark of NULL vectors is accepted and matches nothing (a
    NULL vector scores 0.0, as cosine gives it), so nothing hits."""
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    bench = spark.createDataFrame(
        [(9, None)], "vec_id long, embedding array<double>"
    )
    assert semantic_decontaminate(corpus, bench, tau=0.2).collect() == []


def test_semantic_decon_vectorized_zero_vectors_match_expr(spark):
    # zero-norm on either side scores 0.0 against everything, as
    # cosine's zero-norm guard gives it
    corpus = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    bench = spark.createDataFrame(
        [(9, [1.0, 0.0]), (10, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    got = {r.vec_id: r.n_hits for r in semantic_decontaminate(corpus, bench, 0.5).collect()}
    assert got == {1: 1}


def test_corpus_integrity_audit_counts_each_defect(spark):
    """One synthetic defect per rule: NULL text, blank text, NULL lang,
    doc without vector, NULL vec embedding... each lands in exactly the
    right (rule, n_violations) row; NULL rule results count as
    violations (3VL-hostile)."""
    from laradb_spark.pipelines.labels import corpus_integrity_audit

    docs = spark.createDataFrame(
        [
            (1, "good text", "en"),
            (2, None, "en"),        # text_not_null + text_nonblank
            (3, "   ", "en"),       # text_nonblank
            (4, "fine", None),      # lang_known
            (9, "orphan doc", "en"),  # no embedding row
        ],
        "doc_id long, text string, lang string",
    )
    emb = spark.createDataFrame(
        [
            (1, [1.0, 2.0]),
            (2, [float("nan"), 1.0]),   # vec_all_finite
            (3, [1.0, 2.0, 3.0]),       # vec_dim_ok
            (4, [0.0, 0.0]),            # vec_nonzero_norm
            (8, [1.0, 1.0]),            # no document row
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.rule: (r.n_rows, r.n_violations, r.violation_ppm)
        for r in corpus_integrity_audit(docs, emb, dim=2).collect()
    }
    assert got["doc_id_not_null"] == (5, 0, 0)
    assert got["text_not_null"] == (5, 1, 200000)
    assert got["text_nonblank"] == (5, 2, 400000)  # NULL text is a violation too
    assert got["lang_known"] == (5, 1, 200000)
    assert got["doc_has_embedding"] == (5, 1, 200000)
    assert got["vec_id_not_null"] == (5, 0, 0)
    assert got["vec_dim_ok"] == (5, 1, 200000)
    assert got["vec_all_finite"] == (5, 1, 200000)
    assert got["vec_nonzero_norm"] == (5, 1, 200000)
    assert got["embedding_has_doc"] == (5, 1, 200000)
