"""Workload-registry invariants the driver contract depends on."""

from laradb_spark.workloads import all_specs


def test_spec_shapes():
    specs = all_specs()
    assert len(specs) == len(set(specs)) >= 70
    for name, (fn, sql) in specs.items():
        assert callable(fn), name
        assert sql is None or isinstance(sql, str), name


def test_rows_only_queries_are_the_documented_ones():
    # every oracle-less query is a deliberate rows-only check, not an
    # accidentally-dropped oracle. As of r8 there are NONE: approx_stats
    # (the last one) now emits in-plan bound booleans + exact counts the
    # oracle states literally, so even the sketches hash-certify.
    no_oracle = {n for n, (_f, sql) in all_specs().items() if sql is None}
    assert no_oracle == set()


# Every group of registry rows that shares one oracle SQL string, each
# with the reason two or more plans for one answer earn their place. A
# twin row added without an entry here fails until it is justified.
SHARED_ORACLES = {
    ("lara_wordcount", "lara_wordcount_py"):
        "Lara Ext through a JVM expression versus the general mapInPandas ExtFun path",
    ("bpe_byte_token_count", "bpe_byte_token_count_fast"):
        "the Arrow encoder serves real 50k-merge vocabularies the expression chain cannot plan",
    ("dedup_ngram_jaccard", "dedup_prefix_jaccard"):
        "brute force versus lossless prefix-filter pruning: two algorithms, one exact answer",
    ("bm25_maintenance_cycle", "bm25_topk", "bm25_topk_fast"):
        "bm25_scores is shared with PRF and hybrid; the cycle serves the built+appended index",
    ("bm25_prf_serve", "bm25_prf_topk"):
        "the stored-index PRF route versus the inline route over the same scoring chain",
    ("decon_hashscreen", "decontaminate_docs"):
        "the xxhash64 prescreen must not change the exact decontamination result",
}


def test_shared_oracle_groups_are_justified():
    groups: dict[str, list[str]] = {}
    for name, (_fn, sql) in all_specs().items():
        groups.setdefault(sql, []).append(name)
    shared = {tuple(sorted(names)) for names in groups.values() if len(names) > 1}
    assert shared == set(SHARED_ORACLES)
