"""Empty-input robustness: every pipeline operator must return an empty
(or well-defined degenerate) result on an empty table — not throw. At
100 TB, empty partitions, empty sources after a filter, and empty
incremental batches are routine, and a driver-side `max()` or `[0]` on
an empty collect is the classic way pipelines die at 3am."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )


@pytest.fixture()
def empty_emb(spark):
    return spark.createDataFrame([], "vec_id long, embedding array<double>")


def test_text_ops_empty(spark, empty_docs):
    from laradb_spark.pipelines import text as tx

    assert tx.quality_features(empty_docs).count() == 0
    assert tx.repetition_stats(empty_docs).count() == 0
    assert tx.normalize_text(empty_docs).count() == 0
    assert tx.frequent_ngrams(empty_docs, n=2, k=5).count() == 0
    assert tx.boilerplate_ppm(empty_docs).count() == 0
    assert tx.tfidf_top_terms(empty_docs).count() == 0
    assert tx.fingerprint(empty_docs).count() == 0


def test_dedup_ops_empty(spark, empty_docs, tmp_path):
    from laradb_spark.pipelines import dedup as dd

    assert dd.exact_duplicates(empty_docs).count() == 0
    assert dd.drop_exact_duplicates(empty_docs).count() == 0
    assert dd.minhash_lsh_pairs(empty_docs).count() == 0
    assert dd.ngram_jaccard_pairs(empty_docs).count() == 0
    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dd.near_dup_components(empty_pairs).count() == 0
    assert dd.near_dup_components(empty_pairs, algorithm="star").count() == 0
    idx = str(tmp_path / "digests")
    dd.digest_build_index(empty_docs, idx)
    assert dd.drop_seen_digests(empty_docs, idx).count() == 0


def test_curation_ops_empty(spark, empty_docs):
    from laradb_spark.pipelines import curation as cu

    assert cu.decontaminate(empty_docs, empty_docs).count() == 0
    assert cu.trim_length_outliers(empty_docs).count() == 0
    assert cu.redact_pii(empty_docs).count() == 0
    packed = cu.pack_sequences(
        spark.createDataFrame([], "doc_id long, n_tokens long"), 512
    )
    assert packed.count() == 0


def test_similarity_ops_empty(spark, empty_emb):
    from laradb_spark.pipelines import similarity as sim

    q = spark.createDataFrame([], "query_id long, embedding array<double>")
    assert sim.brute_force_topk(empty_emb, q).count() == 0
    # k-means init on an empty corpus degenerates to zero centroids; the
    # dedup must come back empty, not divide-by-zero
    assert sim.semantic_dedup(empty_emb).count() == 0


def test_timeseries_and_graph_empty(spark):
    from laradb_spark.operators.graph import triangle_count
    from laradb_spark.operators.timeseries import fill_gaps_forward

    e = spark.createDataFrame([], "src long, dst long")
    assert triangle_count(e).first().n_triangles == 0
    s = spark.createDataFrame([], "k string, bin long, v long")
    assert fill_gaps_forward(s, "k", "bin", "v").count() == 0


def test_round4_ops_empty(spark, empty_docs, empty_emb):
    from laradb_spark.operators.quality import fk_violations, validate_constraints
    from laradb_spark.operators.ranking import (
        grouped_median,
        grouped_quantiles,
        grouped_rank,
    )
    from laradb_spark.operators.timeseries import time_weighted_avg
    from laradb_spark.pipelines.dedup import prefix_filter_jaccard_pairs
    from laradb_spark.pipelines.embeddings import embedding_gram_int
    from laradb_spark.pipelines.retrieval import bm25_topk
    from laradb_spark.pipelines.similarity import hard_negatives

    assert grouped_rank(empty_docs, ["source"], ["n_chars", "doc_id"]).count() == 0
    assert grouped_median(empty_docs, ["source"], "n_chars", ["doc_id"]).count() == 0
    assert (
        grouped_quantiles(empty_docs, ["source"], "n_chars", (10, 50, 90), ["doc_id"]).count()
        == 0
    )
    assert prefix_filter_jaccard_pairs(empty_docs).count() == 0
    assert bm25_topk(empty_docs, [(1, "hash join")]).count() == 0
    assert embedding_gram_int(empty_emb, dim=4).count() == 0
    empty_ev = spark.createDataFrame([], "k string, t long, v long, id long")
    assert time_weighted_avg(empty_ev, ["k"], "t", "v", ["id"]).count() == 0
    # validation on an empty table: rules report 0 rows, 0 violations
    rep = validate_constraints(empty_docs, {"has_text": F.col("text").isNotNull()})
    rows = rep.collect()
    assert len(rows) == 1 and rows[0].n_rows == 0 and rows[0].n_violations == 0
    assert fk_violations(empty_docs, empty_docs, "doc_id", "doc_id").collect()[0].n_orphans == 0
    q = empty_emb.select(F.col("vec_id").alias("query_id"), "embedding")
    assert hard_negatives(empty_emb, q).count() == 0


def test_merge_and_pit_empty(spark):
    from laradb_spark.operators.joins import point_in_time_join
    from laradb_spark.operators.scd import merge_upsert

    t = spark.createDataFrame([(1, "a")], "k long, v string")
    empty = spark.createDataFrame([], "k long, v string")
    assert {r.k for r in merge_upsert(t, empty, "k").collect()} == {1}
    assert merge_upsert(empty, empty, "k").count() == 0
    dim = spark.createDataFrame([], "k long, seg string, valid_from long, valid_to long")
    facts = spark.createDataFrame([(1, 5)], "fk long, day long")
    assert point_in_time_join(facts, dim, "fk", "k", "day").count() == 0


def test_pq_ops_empty(spark, empty_emb):
    """ADVICE r9: an empty training corpus yields an empty codebook frame;
    pq_encode and the topk paths must short-circuit to empty frames of the
    full schema instead of dividing by a zero subspace count."""
    from laradb_spark.pipelines import similarity as sim

    q = spark.createDataFrame(
        [(1, [1.0] * 8)], "query_id long, qvec array<double>"
    ).withColumnRenamed("qvec", "embedding")
    cbs = sim.pq_train_codebooks(empty_emb, dim=8, m=2, k_sub=4)
    assert cbs.count() == 0
    enc = sim.pq_encode(empty_emb, cbs, dim=8)
    assert enc.count() == 0
    assert [f.name for f in enc.schema.fields] == ["neighbor_id", "codes"]
    res = sim.pq_topk(empty_emb, q, dim=8, m=2, k_sub=4, k=3)
    assert res.count() == 0
    assert [f.name for f in res.schema.fields] == [
        "query_id", "neighbor_id", "cos", "rank",
    ]


def test_ivfpq_res_ops_empty(spark, empty_emb, tmp_path):
    """ADVICE r10: the residual (IVFADC) entry points must mirror
    ``_pq_adc_topk``'s typed short-circuit on an empty training corpus
    instead of letting ``_res_densq_frame`` divide by a zero subspace
    count — inline search, the probe curve, and a stored empty index."""
    from laradb_spark.pipelines import similarity as sim

    q = spark.createDataFrame(
        [(1, [1.0] * 8)], "query_id long, embedding array<double>"
    )
    res = sim.ivfpq_res_topk(empty_emb, q, dim=8, m=2, k_sub=4, k=3)
    assert res.count() == 0
    assert [f.name for f in res.schema.fields] == [
        "query_id", "neighbor_id", "cos", "rank",
    ]
    curve = sim.ivfpq_res_probe_curve(
        empty_emb, q, dim=8, probe_levels=(1, 2), m=2, k_sub=4, k=3
    )
    assert curve.count() == 0
    assert [f.name for f in curve.schema.fields] == [
        "n_probe", "query_id", "hits", "recall",
    ]
    path = str(tmp_path / "res_idx")
    sim.ivfpq_res_build_index(empty_emb, path, dim=8, m=2, k_sub=4)
    served = sim.ivfpq_res_search_index(spark, path, q, dim=8, k=3)
    assert served.count() == 0
    assert [f.name for f in served.schema.fields] == [
        "query_id", "neighbor_id", "cos", "rank",
    ]


def test_r11_late_ops_empty(spark, empty_docs, empty_emb):
    """The r11 late additions on empty inputs: RRF with empty ranked
    lists, KN-LM with an empty corpus AND an empty training slice,
    WordPiece/Unigram kernels, the LSH recall report (NULL ratios, zero
    counters — undefined-not-perfect), and filtered IVF."""
    from laradb_spark.pipelines import dedup as dd
    from laradb_spark.pipelines import similarity as sim
    from laradb_spark.pipelines import text as tx
    from laradb_spark.pipelines import tokenizer as tk
    from laradb_spark.pipelines.retrieval import rrf_fuse

    empty_ranked = spark.createDataFrame(
        [], "query_id int, doc_id long, rank int"
    )
    assert rrf_fuse([empty_ranked, empty_ranked], k=5).count() == 0

    assert tx.kn_bigram_score(empty_docs).count() == 0
    # non-empty corpus, EMPTY training slice: every bigram fully backs
    # off and ntypes=0 → all-zero scores, no division error
    one = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    row = tx.kn_bigram_score(one, train_where="false").collect()[0]
    assert (row.kn_score_ppm, row.oov_bigram_ppm) == (0, 1000000)

    assert tk.wordpiece_encode(empty_docs, ["a"]).count() == 0
    assert tk.unigram_encode(empty_docs, [("a", 1000)]).count() == 0
    # empty vocab: every word is [UNK], nothing throws
    r = tk.wordpiece_token_stats(one, []).collect()[0]
    assert (r.n_tokens, r.n_unk_words) == (3, 3)
    r = tk.unigram_token_stats(one, []).collect()[0]
    assert (r.n_tokens, r.n_unk_words) == (3, 3)

    rep = dd.lsh_recall_report(empty_docs).collect()[0]
    assert (rep.n_truth, rep.n_candidates, rep.n_hits) == (0, 0, 0)
    assert rep.recall_ppm is None and rep.precision_ppm is None

    q = spark.createDataFrame([], "query_id long, embedding array<double>")
    assert sim.ivf_topk_filtered(empty_emb, q, "vec_id > 0", n_centroids=4).count() == 0


def test_r13_sampled_trainers_empty_corpus_raise(spark, empty_docs):
    """The sample-then-train recipes fail loudly on an empty corpus (a
    silent empty merge table would make every downstream encode a no-op
    char split) — all three families."""
    from laradb_spark.pipelines.tokenizer import (
        bpe_train_bytes_sampled,
        bpe_train_sampled,
        wordpiece_train_sampled,
    )

    for fn in (bpe_train_sampled, bpe_train_bytes_sampled, wordpiece_train_sampled):
        with pytest.raises(ValueError, match="empty corpus"):
            fn(empty_docs, 5)


def test_bm25_compact_second_pass_noops(spark, tmp_path):
    """bm25_compact_index after a compaction has nothing to do (each
    bucket already one file at the default target) — the idempotent
    second-pass contract the IVF compaction pins."""
    from pyspark.sql import functions as F

    from laradb_spark.pipelines.retrieval import (
        bm25_append_index,
        bm25_build_index,
        bm25_compact_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = str(tmp_path / "bm")
    bm25_build_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
    bm25_append_index(docs.filter(F.col("doc_id") % 2 == 1), idx)
    first = bm25_compact_index(spark, idx)
    assert first["lists_compacted"] > 0
    assert first["doc_tf"]["lists_compacted"] > 0  # r15: the mirror accretes too
    second = bm25_compact_index(spark, idx)
    # r15: the postings report plus a doc_tf sub-report, both no-ops
    noop = {"lists_compacted": 0, "files_before": 0, "files_after": 0, "rows": 0}
    assert second == {**noop, "doc_tf": noop}
