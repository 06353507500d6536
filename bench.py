#!/usr/bin/env python
"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Execution is forced with the noop sink (full computation, no driver
collect) — the fair analogue of the reference's server-side write
(reference: opt/RemoteWriteIterator.kt:27-80 counts entries, never ships
rows to the client).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "lara_wordcount",
    "lara_matmul_event_gram",
    "sensor_covariance_events",
    "running_customer_totals",
    "sessionize_events",
    "tumbling_event_stats",
    "text_quality",
    "dedup_exact",
    "dedup_minhash_lsh_fast",
    "dedup_simhash_fast",
    "ann_brute_force_fast",
    "asof_last_order",
    "orders_within_30_days",
    "graph_brand_gram",
    "q7_nation_volume",
    "q10_returned_items",
    "q8_market_share",
    "decontaminate_docs",
    # round-3 operators. The _fast names of the minhash, simhash and
    # semantic-dedup rows are kept (bench records, the scale probe and
    # perfbench look them up by name); each has one implementation.
    "semantic_dedup_fast",
    "corpus_frequent_ngrams",
    "forward_fill_hourly",
    # round-4 operators (bm25 benched via its r8 Arrow sparse-tf twin —
    # same floor-div chain, same oracle, bit-identical ranks; the
    # expression path stays oracled as bm25_topk)
    "bm25_topk_fast",
    "embedding_gram",
    "twap_value_by_user_type",
    # round-5 operators (SQ8 benched via its NumPy int-matmul twin — same
    # ranks, same oracle; the ANN-family precedent)
    "ann_sq8_fast",
    # round-6 operators
    "gopher_quality",
    "bigram_lm",
    "contamination_report",
    # round-7 operators
    "dup_span_census",
    "strip_dup_spans",
    "dsir_importance",
    "token_apportionment",
    "gopher_funnel",
    "span_source_matrix",
    "ngram_diversity",
    "split_leakage",
    # round-7 label/embedding QA audits (decon benched via its NumPy-matmul
    # twin — the ANN-family precedent). knn_label_noise (exact-N² by its
    # oracle-harness role; the r10 probe sweep measured it 32× superlinear
    # at 10×) is DEMOTED to the correctness registry per VERDICT r10 #3 —
    # its certified scale path, knn_label_noise_ivf, is the headline entry.
    "semantic_decon_fast",
    "label_centroid_outliers",
    # round-8 operators
    "quality_classifier",
    "bpe_token_count",
    "approx_stats",
    "ccnet_lm_buckets",
    "source_datacard",
    "corpus_integrity",
    "lang_classifier",
    "c4_line_clean",
    "corpus_line_dedup",
    "alpha_mixture",
    "heavy_hitters",
    # round-9 operators (byte-BPE benched via its Arrow rank-priority
    # twin — the route real vocab sizes take)
    "bpe_byte_token_count_fast",
    "bpe_fertility",
    "url_dedup",
    # r13: ann_pq_topk / ann_ivfpq_topk DEMOTED to the correctness registry
    # (VERDICT r12 #3) — the headline carried ~29s of inline Lloyd training
    # across four entries whose serving twins are benched separately below;
    # ONE inline trainer stays as the training-path regression guard:
    # ann_ivfpq_res_topk (the residual trainer subsumes the PQ and IVF-PQ
    # trainer code paths — it runs coarse Lloyd + residual-space PQ Lloyd).
    "decon_fuzzy",
    "token_shard_stats",
    "fuzzy_cross_batch",
    # round-10: the ANN SERVING path, benched separately from training —
    # ann_pq_topk/ann_ivfpq_topk above retrain codebooks inline every run
    # (the build cost), but the 100 TB design target is stored-index
    # search; these twins search indexes built ONCE per bench session
    # (outside the timed loop), so a serving regression can't hide inside
    # training noise. ann_ivfpq_res_topk covers the residual trainer.
    "ann_pq_serve",
    "ann_ivfpq_serve",
    "ann_ivfpq_res_topk",
    # round-11: the residual-IVFADC SERVING twin (VERDICT r10 #4) — the
    # best-recall index's steady-state search cost, regression-guarded
    # like the pq/ivfpq serve entries above.
    "ann_ivfpq_res_serve",
    # r13: knn_label_noise_ivf (oracle-pinned k=16 — O(N²/16) pair volume
    # by construction, 13.4x at the 10x probe) and knn_label_noise_ivf_auto
    # (the sqrt(N) production route — 14s of inline Lloyd training per run)
    # DEMOTED to the correctness registry (VERDICT r12 #2/#3), the same
    # treatment the exact-N² twin got in r10. Both stay oracled; the auto
    # route stays in the 10x scale probe via tools/bench_scale_probe.py's
    # --queries list so its ~N^1.5-absorbed-by-parallelism ratio (1.08x at
    # r12) remains a recurring artifact without paying 19s of headline
    # training time every bench run.
    # round-11 late additions: hybrid retrieval fusion (BM25 ⊕ dense via
    # integer RRF), the Kneser-Ney LM (vocabulary-keyed join chain — a
    # heavier shape than the benched count-ratio bigram_lm), and the
    # WordPiece Arrow kernel (the third tokenizer family's encode cost)
    "hybrid_rrf_topk",
    # round-12: the stored-index hybrid serving twin (two pruned probes +
    # integer fusion — the steady-state cost the inline twin's training
    # noise would hide; the pq/ivfpq serve-entry precedent)
    "hybrid_serve",
    # round-15: the PRF stored-index steady-state twin (VERDICT r14 #4):
    # the registry's bm25_prf_serve necessarily builds its index inline
    # (the oracle replays the build), so ITS time is build-dominated;
    # this entry probes the same bm25_prf_search_index against the
    # session-prebuilt layout — two bucket-pruned passes + the
    # dbucket-pruned doc_tf feedback fetch, no build
    "bm25_prf_serve_steady",
    "kn_lm_score",
    "wordpiece_stats",
    # and the Unigram-LM Viterbi kernel (per-word DP — the costliest of
    # the three tokenizer families per word; guard it)
    "unigram_stats",
]


def _serve_entries(spark, sf_dirs: list) -> dict:
    """Bench-only stored-index search twins: build the PQ / IVF-PQ
    indexes once per (bench session, sf_dir) under a temp root, return
    callables that ONLY search them — the steady-state serving cost."""
    import tempfile

    from laradb_spark.pipelines import similarity as sim
    from laradb_spark.workloads.pipelines_q import (
        EMB_DIM,
        PQ_KSUB,
        PQ_M,
        TOP_K,
        _queries_df,
        load,
    )

    root = tempfile.mkdtemp(prefix="bench_ann_idx_")
    paths: dict[tuple, str] = {}
    for sf_dir in sf_dirs:
        emb = load(spark, sf_dir, "embeddings")
        tag = sf_dir.replace("/", "_")
        pq_path = f"{root}/pq{tag}"
        ivf_path = f"{root}/ivfpq{tag}"
        res_path = f"{root}/ivfpqres{tag}"
        sim.pq_build_index(emb, pq_path, dim=EMB_DIM, m=PQ_M, k_sub=PQ_KSUB)
        sim.ivfpq_build_index(
            emb, ivf_path, dim=EMB_DIM, n_centroids=16, m=PQ_M, k_sub=PQ_KSUB
        )
        sim.ivfpq_res_build_index(
            emb, res_path, dim=EMB_DIM, n_centroids=16, m=PQ_M, k_sub=PQ_KSUB
        )
        paths[("pq", sf_dir)] = pq_path
        paths[("ivfpq", sf_dir)] = ivf_path
        paths[("ivfpqres", sf_dir)] = res_path
        # hybrid serving: the BM25 inverted index + a flat IVF index,
        # probed together through rrf fusion (steady-state hybrid cost)
        from laradb_spark.pipelines import retrieval as rt

        bm_path = f"{root}/bm25{tag}"
        ivfflat_path = f"{root}/ivfflat{tag}"
        docs = load(spark, sf_dir, "documents")
        rt.bm25_build_index(docs, bm_path)
        sim.ivf_build_index(emb, ivfflat_path, n_centroids=16)
        paths[("bm25", sf_dir)] = bm_path
        paths[("ivfflat", sf_dir)] = ivfflat_path

    def pq_serve(spark, sf_dir):
        return sim.pq_search_index(
            spark, paths[("pq", sf_dir)], _queries_df(spark, sf_dir),
            dim=EMB_DIM, k=TOP_K,
        )

    def ivfpq_serve(spark, sf_dir):
        return sim.ivfpq_search_index(
            spark, paths[("ivfpq", sf_dir)], _queries_df(spark, sf_dir),
            dim=EMB_DIM, n_probe=4, k=TOP_K,
        )

    def ivfpq_res_serve(spark, sf_dir):
        return sim.ivfpq_res_search_index(
            spark, paths[("ivfpqres", sf_dir)], _queries_df(spark, sf_dir),
            dim=EMB_DIM, n_probe=4, k=TOP_K,
        )

    def bm25_prf_serve_steady(spark, sf_dir):
        from laradb_spark.pipelines import retrieval as rt
        from laradb_spark.workloads.pipelines_q import BM25_QUERIES

        return rt.bm25_prf_search_index(
            spark, paths[("bm25", sf_dir)], BM25_QUERIES, k=TOP_K
        )

    def hybrid_serve(spark, sf_dir):
        from laradb_spark.pipelines import retrieval as rt
        from laradb_spark.workloads.pipelines_q import (
            BM25_QUERIES,
            HYBRID_K_CAND,
            HYBRID_TOP_K,
            load,
        )
        from pyspark.sql import functions as F

        emb = load(spark, sf_dir, "embeddings")
        qids = [qid for qid, _ in BM25_QUERIES]
        qv = emb.filter(F.col("vec_id").isin(qids)).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return rt.hybrid_search_index(
            spark, paths[("bm25", sf_dir)], paths[("ivfflat", sf_dir)],
            BM25_QUERIES, qv, k=HYBRID_TOP_K, k_cand=HYBRID_K_CAND, n_probe=4,
        )

    return {
        "ann_pq_serve": pq_serve,
        "ann_ivfpq_serve": ivfpq_serve,
        "ann_ivfpq_res_serve": ivfpq_res_serve,
        "hybrid_serve": hybrid_serve,
        "bm25_prf_serve_steady": bm25_prf_serve_steady,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from laradb_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark("laradb-bench")
    qs = dict(entry_mod.queries())
    qs.update(_serve_entries(spark, ["/root/testdata/sf0.001", sf_dir]))

    # Warm each query once at the smallest SF: whole-stage-codegen compile
    # and Python-worker spawn are per-plan one-offs that amortize to zero at
    # scale; steady-state numbers measure the plan, not the JIT.
    for name in HEADLINE:
        qs[name](spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()

    # Min of three runs per query: measures the plan's steady-state cost,
    # not one-off scheduler/worker-respawn noise (observed a 6x spike on
    # the pandas_udf query when Python workers had idled out mid-bench).
    # Three (was two through r12) so the RECORDED artifact carries the
    # min-of-3 statistic BASELINE.md's bands use — closes the
    # single-run-vs-min-of-3 protocol gap VERDICT r11/r12 flagged on the
    # driver-recorded BENCH_r{N}.json.
    # clearCache() between runs: several queries persist_once() an
    # intermediate (grouped_rank's range-partitioned input, BM25's token
    # stream, LSH's bucket pairs) — without the clear, the second timed run
    # reads the first run's cache and min() reports a cache-fed time that
    # skips the dominant scoring stage entirely.
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        best = float("inf")
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    # Stamp the run with the git SHA and a hash of the headline set so
    # cross-round comparisons are mechanically apples-to-apples (two runs
    # compare directly iff queries_md5 matches).
    try:
        import subprocess

        sha = subprocess.run(
            ["git", "-C", os.path.dirname(os.path.abspath(__file__)), "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except Exception:
        sha = None
    import hashlib

    qhash = hashlib.md5("\n".join(HEADLINE).encode()).hexdigest()[:12]
    print(json.dumps({
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "git_sha": sha,
        "queries_md5": qhash,
        "n_queries": len(HEADLINE),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
