"""Map-only curation/text operators run UNCHANGED on streams — the
unified batch/streaming contract extends to the pipeline surface: the
same `redact_pii` / `hash_split` / `mix_sources` / quality expressions
applied to a readStream produce exactly the batch rows (stateless ops
need no watermark; Spark plans them as streaming map stages)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from laradb_spark.pipelines import curation as cu
from laradb_spark.pipelines import text as tx
from laradb_spark.streaming.windows import run_stream_to_memory

DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("source", T.StringType()),
])

ROWS = [
    (1, "mail bob@corp.io or +1 555-123-4567 now", "src0"),
    (2, "plain text with the and of tokens", "src0"),
    (3, "short", "src1"),
    (4, "another document with a few more words in it", "src1"),
]


@pytest.fixture(scope="module")
def doc_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("docs_stream"))
    spark.createDataFrame(ROWS, DOC_SCHEMA).coalesce(1).write.mode("overwrite").parquet(d)
    return d


def _stream(spark, doc_dir):
    return (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(doc_dir)
    )


def _pipeline(df):
    """redact → split → mix: three stateless curation stages composed."""
    out = cu.redact_pii(df)
    out = cu.hash_split(out, val_frac=0.5)
    out = cu.mix_sources(out, {"src0": 1.0}, default_rate=0.5)
    return out.select("doc_id", "text", "split", "n_email", "n_phone")


def test_curation_pipeline_batch_stream_equivalence(spark, doc_dir):
    batch = _pipeline(spark.read.parquet(doc_dir))
    stream = _pipeline(_stream(spark, doc_dir))
    assert stream.isStreaming
    q = run_stream_to_memory(stream, "curation_out", "append")
    try:
        got = spark.sql("SELECT * FROM curation_out").collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, batch.collect()))
    finally:
        q.stop()


def test_text_quality_streams(spark, doc_dir):
    batch = tx.quality_features(spark.read.parquet(doc_dir))
    stream = tx.quality_features(_stream(spark, doc_dir))
    assert stream.isStreaming
    q = run_stream_to_memory(stream, "quality_out", "append")
    try:
        got = spark.sql("SELECT * FROM quality_out").collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, batch.collect()))
    finally:
        q.stop()


def test_quality_classifier_scores_streams(spark, doc_dir):
    """Classifier inference is a stream-static broadcast join + one
    streaming aggregate: offline-trained (static) weights score a
    readStream exactly as the batch plan — the FineWeb-style filter
    drops into an ingest pipeline unchanged."""
    batch_docs = spark.read.parquet(doc_dir)
    pos = batch_docs.filter(F.col("source") == "src0")
    neg = batch_docs.filter(F.col("source") != "src0")
    weights = cu.train_quality_weights(pos, neg)

    batch = cu.quality_classifier_score(batch_docs, weights)
    stream = cu.quality_classifier_score(_stream(spark, doc_dir), weights)
    assert stream.isStreaming
    q = run_stream_to_memory(stream, "clf_out", "complete")
    try:
        got = spark.sql("SELECT * FROM clf_out").collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, batch.collect()))
    finally:
        q.stop()


def test_curate_ingest_loop_dedups_gates_and_ledgers(spark, tmp_path):
    """The end-to-end incremental loop: batch 2's exact duplicate of a
    batch-1 text is dropped by the stored digest index; the classifier
    gate rejects the bad-bucket doc AND the token-less doc; the ledger
    records (n_new, n_kept, n_tokens_kept) per (batch, source); every
    first-seen digest (kept or rejected) lands in the index."""
    import os
    import time

    from laradb_spark.pipelines.curation import _hashed_feature_stream
    from laradb_spark.streaming.ingest import curate_ingest_stream

    # weights: every feature bucket the bad doc hits scores -1000 ppm;
    # buckets computed via the SAME hashed stream the scorer uses
    bad = spark.createDataFrame([(0, "bad bad bad")], "doc_id long, text string")
    bad_buckets = [r.b for r in _hashed_feature_stream(bad, "text", 4096).select("b").distinct().collect()]
    weights = spark.createDataFrame([(b, -1000) for b in bad_buckets], "b int, w long")

    src = str(tmp_path / "in")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, "good good good", "s1"), (2, "bad bad bad", "s1")], DOC_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)  # distinct mtimes → file 1 micro-batches before file 2
    spark.createDataFrame(
        [
            (3, "good good good", "s2"),   # exact dup of doc 1 → index drop
            (4, "fresh fresh fresh", "s2"),  # scores 0 → kept
            (5, "", "s2"),                   # token-less → rejected by gate
        ],
        DOC_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)

    idx, out, stats, ck = (str(tmp_path / d) for d in ("idx", "out", "stats", "ck"))
    stream = (
        spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = curate_ingest_stream(stream, weights, idx, out, stats, ck, threshold_ppm=0)
    q.awaitTermination(120)

    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [1, 4]
    assert spark.read.parquet(idx).distinct().count() == 4  # good, bad, fresh, ''
    ledger = {
        (r.batch_id, r.source): (r.n_new, r.n_kept, r.n_tokens_kept)
        for r in spark.read.parquet(stats).collect()
    }
    assert ledger[(0, "s1")] == (2, 1, 3)
    assert ledger[(1, "s2")] == (2, 1, 3)  # dup doc 3 never reaches the ledger

    # restart with new data: the grown index still screens batch-1 text,
    # and the gate decision for a dup of a REJECTED doc is never re-made
    time.sleep(1.1)
    spark.createDataFrame(
        [(6, "bad bad bad", "s3"), (7, "novel words here", "s3")], DOC_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    q2 = curate_ingest_stream(
        spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src),
        weights, idx, out, stats, ck, threshold_ppm=0,
    )
    q2.awaitTermination(120)
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [1, 4, 7]
    ledger2 = {
        (r.batch_id, r.source): (r.n_new, r.n_kept, r.n_tokens_kept)
        for r in spark.read.parquet(stats).collect()
    }
    assert ledger2[(2, "s3")] == (1, 1, 3)  # only doc 7 is new


def test_ann_serve_stream_matches_batch_and_sees_appends(spark, tmp_path):
    """The streaming serving loop: two query micro-batches against a
    stored IVF-PQ index reproduce the batch searcher's results exactly
    (deterministic per index state); after ivf-appending new vectors to
    a stored IVF index, a RESTARTED ivf serving loop sees them with no
    rebuild (parquet listing resolves per plan)."""
    import os
    import time

    import numpy as np

    from laradb_spark.pipelines import similarity as sim
    from laradb_spark.streaming.serve import ann_serve_stream

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(4, 8)) * 4
    rows = [
        (i, [float(x) for x in centers[i % 4] + rng.normal(size=8) * 0.5])
        for i in range(80)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "ivfpq_idx")
    sim.ivfpq_build_index(corpus, idx, dim=8, n_centroids=4, m=2, k_sub=4)

    qschema = "query_id long, embedding array<double>"
    src = str(tmp_path / "queries")
    os.makedirs(src)
    q1 = [(i, rows[i][1]) for i in range(2)]
    q2 = [(i, rows[i][1]) for i in range(2, 4)]
    spark.createDataFrame(q1, qschema).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(q2, qschema).coalesce(1).write.mode("append").parquet(src)

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    stream = (
        spark.readStream.schema(qschema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = ann_serve_stream(stream, idx, out, ck, kind="ivfpq", dim=8, n_probe=2, k=3)
    q.awaitTermination(120)

    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in spark.read.parquet(out).collect()
    }
    all_q = spark.createDataFrame(q1 + q2, qschema)
    want = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_search_index(spark, idx, all_q, dim=8, n_probe=2, k=3).collect()
    }
    assert got == want
    # two micro-batches ran (one file per trigger)
    batches = {r.batch_id for r in spark.read.parquet(out).collect()}
    assert batches == {0, 1}

    # IVF-flat: append new vectors to a stored index, restart the loop →
    # the new vectors are candidates with no rebuild
    ivf_idx = str(tmp_path / "ivf_idx")
    sim.ivf_build_index(corpus, ivf_idx, n_centroids=4)
    probe = spark.createDataFrame([q1[0]], qschema)
    before = {
        r.neighbor_id
        for r in sim.ivf_search_index(spark, ivf_idx, probe, n_probe=4, k=3).collect()
    }
    clone = spark.createDataFrame(
        [(1000, [float(x) * 1.0001 for x in q1[0][1]])], "vec_id long, embedding array<double>"
    )
    sim.ivf_append_index(clone, ivf_idx)
    src2, out2, ck2 = (str(tmp_path / d) for d in ("q2src", "out2", "ck2"))
    os.makedirs(src2)
    probe.coalesce(1).write.mode("append").parquet(src2)
    q2s = ann_serve_stream(
        spark.readStream.schema(qschema).parquet(src2),
        ivf_idx, out2, ck2, kind="ivf", n_probe=4, k=3,
    )
    q2s.awaitTermination(120)
    after = {r.neighbor_id for r in spark.read.parquet(out2).collect()}
    assert 1000 in after and 1000 not in before


def test_shard_ingest_stream_equals_batch_packing(spark, tmp_path):
    """Incremental shard materialization across two micro-batches (with a
    pack spanning the batch boundary) produces EXACTLY the packs the
    one-shot batch writer produces on the concatenated corpus, plus a
    state row holding the unwritten tail."""
    import os
    import time

    from laradb_spark.pipelines import shards as sh
    from laradb_spark.streaming.ingest import shard_ingest_stream

    MERGES = [("h", "e"), ("l", "l"), ("he", "ll")]
    L = 7
    batch1 = [(1, "hello hell"), (2, "")]
    batch2 = [(3, "shell hello"), (4, "llhe he hell")]
    schema = "doc_id long, text string"

    src = str(tmp_path / "in")
    os.makedirs(src)
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(src)

    shards, state, ck = (str(tmp_path / d) for d in ("shards", "state", "ck"))
    q = shard_ingest_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        MERGES, shards, state, ck, context_len=L,
    )
    q.awaitTermination(120)

    ref = str(tmp_path / "ref")
    sh.write_token_shards(
        spark.createDataFrame(batch1 + batch2, schema), MERGES, ref, context_len=L
    )
    want_rows = spark.read.parquet(ref).collect()
    want_full = {
        r.pack_id: (list(r.token_ids), [(s.pos, s.doc_id) for s in (r.doc_starts or [])])
        for r in want_rows
        if len(r.token_ids) == L
    }
    want_tail = {
        r.pack_id: (list(r.token_ids), [(s.pos, s.doc_id) for s in (r.doc_starts or [])])
        for r in want_rows
        if len(r.token_ids) < L
    }
    got = {
        r.pack_id: (list(r.token_ids), [(s.pos, s.doc_id) for s in (r.doc_starts or [])])
        for r in spark.read.parquet(shards).collect()
    }
    assert got == want_full  # every FULL pack, bit-identical incl. boundaries
    [st] = spark.read.parquet(state).collect()
    total_tokens = sum(len(ids) for ids, _ in want_full.values()) + sum(
        len(ids) for ids, _ in want_tail.values()
    )
    assert st.total == total_tokens
    if want_tail:
        [(tail_ids, tail_starts)] = want_tail.values()
        assert list(st.partial) == tail_ids
        assert [(s.pos, s.doc_id) for s in st.partial_starts] == tail_starts
    else:
        assert list(st.partial) == []

    # a third batch resumes from the stored state (restart, new loop)
    time.sleep(1.1)
    spark.createDataFrame([(5, "hehe shell llll")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q2 = shard_ingest_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        MERGES, shards, state, ck, context_len=L,
    )
    q2.awaitTermination(120)
    ref2 = str(tmp_path / "ref2")
    sh.write_token_shards(
        spark.createDataFrame(batch1 + batch2 + [(5, "hehe shell llll")], schema),
        MERGES, ref2, context_len=L,
    )
    want2 = {
        r.pack_id: list(r.token_ids)
        for r in spark.read.parquet(ref2).collect()
        if len(r.token_ids) == L
    }
    got2 = {
        r.pack_id: list(r.token_ids) for r in spark.read.parquet(shards).collect()
    }
    assert got2 == want2


def test_shard_ingest_stream_replays_are_noops(spark, tmp_path):
    """Exactly-once across replays: the state row records the last
    committed batch_id, so re-delivering already-committed batches (here:
    a wiped checkpoint restarts batch numbering at 0 over the same
    source) leaves the shard table and state byte-identical instead of
    re-appending the same packs on top of post-batch state."""
    import os
    import shutil
    import time

    from laradb_spark.streaming.ingest import shard_ingest_stream

    MERGES = [("h", "e"), ("l", "l"), ("he", "ll")]
    L = 7
    schema = "doc_id long, text string"
    src = str(tmp_path / "in")
    os.makedirs(src)
    spark.createDataFrame([(1, "hello hell"), (2, "llhe he")], schema).coalesce(
        1
    ).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame([(3, "shell hello")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    shards, state, ck = (str(tmp_path / d) for d in ("shards", "state", "ck"))
    q = shard_ingest_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        MERGES, shards, state, ck, context_len=L,
    )
    q.awaitTermination(120)

    before_packs = sorted(
        (r.pack_id, list(r.token_ids))
        for r in spark.read.parquet(shards).collect()
    )
    [before_state] = spark.read.parquet(state).collect()
    assert before_state.batch_id == 1  # two batches committed

    # wipe ONLY the checkpoint: the replayed run re-delivers the same two
    # batches with the same ids (0, 1), both <= state.batch_id -> no-ops
    shutil.rmtree(ck)
    q2 = shard_ingest_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        MERGES, shards, state, ck, context_len=L,
    )
    q2.awaitTermination(120)

    after_packs = sorted(
        (r.pack_id, list(r.token_ids))
        for r in spark.read.parquet(shards).collect()
    )
    [after_state] = spark.read.parquet(state).collect()
    assert after_packs == before_packs
    assert after_state.total == before_state.total
    assert list(after_state.partial) == list(before_state.partial)


def test_kn_score_stream_matches_batch(spark, doc_dir, tmp_path):
    """The stored-KN-LM scorer's streaming twin (foreachBatch loop, like
    the classifier/fuzzy-dedup/shard loops): scoring the doc stream
    against a frozen kn_build_lm artifact appends exactly the batch
    scorer's rows (VERDICT r11 #6)."""
    from laradb_spark.streaming.serve import kn_score_stream

    docs = spark.read.parquet(doc_dir)
    lm = str(tmp_path / "knlm")
    tx.kn_build_lm(docs.filter(F.col("source") == "src1"), lm)
    batch = tx.kn_score_indexed(docs, lm).collect()

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = kn_score_stream(_stream(spark, doc_dir), lm, out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out).drop("batch_id").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))


def test_wordpiece_encoder_streams(spark, doc_dir):
    """The WordPiece Arrow kernel is a stateless map stage — the same
    vocabulary artifact scores a readStream exactly as the batch plan
    (append mode, no watermark needed)."""
    from laradb_spark.pipelines import tokenizer as tk

    docs = spark.read.parquet(doc_dir)
    vocab = tk.wordpiece_train(docs, n_merges=6)
    batch = tk.wordpiece_token_stats(docs, vocab).collect()
    stream = tk.wordpiece_token_stats(_stream(spark, doc_dir), vocab)
    assert stream.isStreaming
    q = run_stream_to_memory(stream, "wp_stream_out", "append")
    try:
        got = spark.sql("SELECT * FROM wp_stream_out").collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, batch))
    finally:
        q.stop()


def test_unigram_encoder_streams(spark, doc_dir):
    """Same contract for the Unigram-LM Viterbi kernel."""
    from laradb_spark.pipelines import tokenizer as tk

    docs = spark.read.parquet(doc_dir)
    pieces = tk.unigram_train(docs, vocab_size=40)
    batch = tk.unigram_token_stats(docs, pieces).collect()
    stream = tk.unigram_token_stats(_stream(spark, doc_dir), pieces)
    assert stream.isStreaming
    q = run_stream_to_memory(stream, "ug_stream_out", "append")
    try:
        got = spark.sql("SELECT * FROM ug_stream_out").collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, batch))
    finally:
        q.stop()


def test_bm25_index_stream_matches_fresh_build_and_replays_noop(spark, tmp_path):
    """Streaming BM25 index maintenance (the lifecycle's online half):
    draining a doc stream into a stored layout via bm25_index_stream
    yields serving results EXACTLY equal to a fresh batch build over the
    union corpus, and a wiped-checkpoint replay (same batches, ids
    restarting at 0) no-ops on the _stream_applied markers instead of
    double-counting."""
    import os
    import shutil
    import time

    from laradb_spark.pipelines.retrieval import bm25_build_index, bm25_search_index
    from laradb_spark.streaming.ingest import bm25_index_stream

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    queries = [(1, "hash join"), (2, "stream window agg")]
    schema = "doc_id long, text string"
    idx = str(tmp_path / "bm_idx")
    fresh = str(tmp_path / "bm_fresh")
    src = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    os.makedirs(src)

    bm25_build_index(docs.filter(F.col("doc_id") % 3 == 0), idx)
    docs.filter(F.col("doc_id") % 3 == 1).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.mode("append").parquet(src)

    q = bm25_index_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        idx, ck,
    )
    q.awaitTermination(120)

    bm25_build_index(docs, fresh)
    want = sorted(map(tuple, bm25_search_index(spark, fresh, queries, k=5).collect()))
    got = sorted(map(tuple, bm25_search_index(spark, idx, queries, k=5).collect()))
    assert got == want and len(got) > 0
    assert os.path.exists(f"{idx}/_stream_applied/batch_0")
    assert os.path.exists(f"{idx}/_stream_applied/batch_1")

    # wiped checkpoint -> same two batches redeliver as ids 0 and 1 ->
    # markers make both no-ops; stats not double-counted
    shutil.rmtree(ck)
    q2 = bm25_index_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        idx, ck,
    )
    q2.awaitTermination(120)
    again = sorted(map(tuple, bm25_search_index(spark, idx, queries, k=5).collect()))
    assert again == want


def test_bm25_index_stream_resumes_crashed_publish(spark, tmp_path, monkeypatch):
    """A crash DURING the staged append's publish fails the streaming
    query; the restart redelivers the batch (checkpoint uncommitted),
    finds the completed stage, FINISHES the publish instead of re-staging,
    and the index ends exactly equal to a fresh union build — the
    exactly-once claim under the worst crash point."""
    import os
    import shutil
    import time

    from laradb_spark.pipelines.retrieval import bm25_build_index, bm25_search_index
    from laradb_spark.streaming.ingest import bm25_index_stream

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    queries = [(1, "hash join"), (2, "stream window agg")]
    schema = "doc_id long, text string"
    idx = str(tmp_path / "bm_idx")
    fresh = str(tmp_path / "bm_fresh")
    src = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    os.makedirs(src)

    bm25_build_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    real_move = shutil.move

    def crash_first_move(src_p, dst_p):
        raise OSError("injected mid-publish crash")

    monkeypatch.setattr(shutil, "move", crash_first_move)
    q = bm25_index_stream(
        spark.readStream.schema(schema).parquet(src), idx, ck,
    )
    try:
        q.awaitTermination(120)
    except Exception:
        pass  # the injected crash fails the query
    assert not q.isActive
    monkeypatch.setattr(shutil, "move", real_move)
    # the stage completed before the crash; nothing published, no applied
    # marker — but the stage CARRIES its owning batch's marker (fused
    # commit point, ADVICE r13), so the restart can prove the stage is its
    assert os.path.exists(f"{idx}/_append_pending/_STAGED_OK")
    assert os.path.exists(f"{idx}/_append_pending/_markers/batch_0")
    assert not os.path.exists(f"{idx}/_stream_applied/batch_0")

    q2 = bm25_index_stream(
        spark.readStream.schema(schema).parquet(src), idx, ck,
    )
    q2.awaitTermination(120)
    assert os.path.exists(f"{idx}/_stream_applied/batch_0")
    assert not os.path.exists(f"{idx}/_append_pending")

    bm25_build_index(docs, fresh)
    want = sorted(map(tuple, bm25_search_index(spark, fresh, queries, k=5).collect()))
    got = sorted(map(tuple, bm25_search_index(spark, idx, queries, k=5).collect()))
    assert got == want and len(got) > 0


def test_bm25_index_stream_refuses_foreign_stage(spark, tmp_path, monkeypatch):
    """ADVICE r13 (low): a completed stage left by a MANUAL
    bm25_append_index that crashed mid-publish before the stream started is
    NOT this batch's data — publishing it and marking the batch applied
    would silently drop the batch. The stream must fail loudly and direct
    the operator to txn.publish_pending_batch; after the operator
    publishes, the restarted stream appends its batch and the index ends
    exactly equal to a fresh union build."""
    import os
    import shutil

    from laradb_spark.pipelines import retrieval as rt
    from laradb_spark.streaming.ingest import bm25_index_stream
    from laradb_spark.streaming.txn import publish_pending_batch

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    queries = [(1, "hash join"), (2, "stream window agg")]
    schema = "doc_id long, text string"
    idx = str(tmp_path / "bm_idx")
    fresh = str(tmp_path / "bm_fresh")
    src = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    os.makedirs(src)

    rt.bm25_build_index(docs.filter(F.col("doc_id") % 3 == 0), idx)
    # a manual (marker-less) append crashes mid-publish -> completed
    # stage with _STAGED_OK but NO _markers entry
    real_move = shutil.move

    def crash_move(src_p, dst_p):
        raise OSError("injected mid-publish crash")

    monkeypatch.setattr(shutil, "move", crash_move)
    with pytest.raises(OSError, match="injected"):
        rt.bm25_append_index(docs.filter(F.col("doc_id") % 3 == 1), idx)
    monkeypatch.setattr(shutil, "move", real_move)
    assert os.path.exists(f"{idx}/_append_pending/_STAGED_OK")
    assert not os.path.isdir(f"{idx}/_append_pending/_markers")

    docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.mode("append").parquet(src)
    q = bm25_index_stream(
        spark.readStream.schema(schema).parquet(src), idx, ck,
    )
    try:
        q.awaitTermination(120)
    except Exception:
        pass  # the ownership refusal fails the query
    assert not q.isActive
    assert "publish_pending_batch" in str(q.exception())
    # the batch was NOT marked applied (that would be the silent data loss)
    assert not os.path.exists(f"{idx}/_stream_applied/batch_0")

    # operator recovery: finish the manual publish, restart the stream
    publish_pending_batch(idx)
    q2 = bm25_index_stream(
        spark.readStream.schema(schema).parquet(src), idx, ck,
    )
    q2.awaitTermination(120)
    assert os.path.exists(f"{idx}/_stream_applied/batch_0")

    rt.bm25_build_index(docs, fresh)
    want = sorted(map(tuple, rt.bm25_search_index(spark, fresh, queries, k=5).collect()))
    got = sorted(map(tuple, rt.bm25_search_index(spark, idx, queries, k=5).collect()))
    assert got == want and len(got) > 0
