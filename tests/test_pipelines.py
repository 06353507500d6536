"""Unit tests for the training-data pipeline operators (dedup, similarity,
text, multimodal) against small in-memory fixtures with Python oracles."""

import pytest
from pyspark.sql import functions as F

from laradb_spark.pipelines import dedup as dd
from laradb_spark.pipelines import multimodal as mm
from laradb_spark.pipelines import similarity as sim
from laradb_spark.pipelines import text as tx

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
    (3, "completely different content about spark engines and data"),
    (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (5, "short"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    clusters = dd.exact_duplicates(docs).collect()
    by_n = sorted((r.n_copies, r.keep_id) for r in clusters)
    assert by_n == [(1, 2), (1, 3), (1, 5), (2, 1)]
    kept = dd.drop_exact_duplicates(docs)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2, 3, 5]


def test_ngram_jaccard(spark, docs):
    pairs = dd.ngram_jaccard_pairs(docs, threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    # docs 1,4 identical → jaccard 1.0; 1-2 and 2-4 share 6 of 8 shingles
    assert got[(1, 4)] == 1.0
    assert got[(1, 2)] == got[(2, 4)] == pytest.approx(6 / 8, abs=1e-6)
    assert (1, 3) not in got


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {(r.id_a, r.id_b) for r in dd.minhash_lsh_pairs(docs).collect()}
    assert (1, 4) in pairs  # identical docs always collide
    assert (1, 2) in pairs or (2, 4) in pairs  # 0.75-jaccard pair usually banded
    assert (1, 3) not in pairs and (3, 4) not in pairs


def test_minhash_vectorized_survives_second_source_compile(spark, docs):
    """Regression (r11): compiling the minhash signature pandas_udf
    against a SECOND source in one session must keep it extracted into
    ArrowEvalPython. A UDF argument containing the bind_once wrap
    (get(transform(array(...)))) trips a Spark 4.1 extraction skip on the
    second differing-source compile — the UDF is left inside ProjectExec
    and execution dies with INTERNAL_ERROR 'Cannot generate code'. The
    staged _toks projection in minhash_signatures is the guard, and every
    MinHash caller goes through it; this pins both public entry points."""
    other = spark.createDataFrame(
        [(100 + i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(6)],
        "doc_id long, text string",
    )
    for build in (dd.minhash_signatures, dd.minhash_lsh_pairs):
        build(docs).collect()
        second = build(other)
        plan = second._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in plan, f"{build.__name__}: sig UDF not extracted"
        second.collect()  # and it must actually execute


# Signature, band and SimHash values of three edge documents, recorded
# when the expression and NumPy kernels both existed and agreed. A NULL
# text tokenizes like "" (one empty shingle), so both share one
# signature; token_hashes gives NULL and [] there, both SimHash 0.
EDGE_SIG = [
    3389732057, 3691684997, 2638975488, 3688482037, 2418090112, 1032722124,
    4016550182, 1073511248, 395762339, 820701430, 1384854681, 53709767,
    289029894, 2402701913, 3031608769, 488550183, 3037426953, 1873876213,
    2234989470, 2765151881, 2483232211, 1995733441, 1425116460, 1021175596,
    3914254408, 1778715183, 3863509487, 1229913934, 2663638457, 1793125216,
    1691372048, 4232850580,
]
SOLO_SIG = [
    1450592751, 4037530212, 436028647, 2753372728, 1698654895, 2956015860,
    1097426850, 791353732, 3471941187, 43891635, 448163546, 145607493,
    1944113394, 249625659, 3865657327, 1001363003, 1832602220, 2341451455,
    1574429657, 3247974165, 293549448, 2800938590, 1299552503, 1992099016,
    1730692048, 3120327006, 1773722119, 183890832, 754050257, 2865514604,
    1681087455, 1993300105,
]
EDGE_BANDS = [
    "3e4c82fb32fb315221c1768771076692", "4ac59040a0ee4b98f23171d62ccf2ca6",
    "a694204fb20dc88b23c114ea4d2d9eed", "0769dc89e8d4050475551fb4739bfb22",
    "f0f245eaa90aeb95bd7c1c92e41c5c54", "9678caeffbb74b229e9f74f24b988d78",
    "9653f8b3f8e9ae4ce100f7f89e6745e4", "218301aef80eb3d06b8139d9f56e21df",
]
SOLO_BANDS = [
    "642347497419d26df800759904f69878", "76ed79a65f5684409326ae7afdc43f6e",
    "e2cfd3713f77433185f49dded0bf5b34", "53ff23dd2a4249c52510462415ae195d",
    "25c3c83a12f6c3b3023d8e972811ca92", "506e71509e30882bc4781f2df8244da2",
    "56ed4120895abecb7c27926fb44ac849", "6d420456605bbd437be8ab38ee45ea94",
]


def test_signature_kernels_on_null_empty_and_one_token_docs(spark):
    edge = spark.createDataFrame(
        [(1, None), (2, ""), (3, "solo")], "doc_id long, text string"
    )
    sigs = {r.id: r.sig for r in dd.minhash_signatures(edge).collect()}
    assert sigs == {1: EDGE_SIG, 2: EDGE_SIG, 3: SOLO_SIG}
    bands = {}
    for r in dd.minhash_band_buckets(edge).collect():
        bands.setdefault(r.id, [None] * dd.LSH_BANDS)[r.band] = r.bh
    assert bands == {1: EDGE_BANDS, 2: EDGE_BANDS, 3: SOLO_BANDS}
    sh = {r.id: r.simhash for r in dd.simhash_table(edge).collect()}
    assert sh == {1: 0, 2: 0, 3: 22099}


def test_simhash_similarity(spark, docs):
    sh = {r.id: r.simhash for r in dd.simhash_table(docs).collect()}
    assert sh[1] == sh[4]  # identical text → identical simhash
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert hamming(sh[1], sh[2]) < hamming(sh[1], sh[3])


def test_text_quality_and_langid(spark, docs):
    q = {r.doc_id: r for r in tx.quality_features(docs).collect()}
    assert q[1].n_tokens == 9
    assert q[5].n_tokens == 1
    assert q[1].stopword_ratio > q[3].stopword_ratio
    langs = {r.doc_id: r.pred_lang for r in tx.lang_id(docs).collect()}
    assert langs[1] == "en"
    assert langs[5] == "und"  # no stopwords


def test_fingerprint_stability(spark, docs):
    fp = {r.doc_id: r.fingerprint for r in tx.fingerprint(docs).collect()}
    assert fp[1] == fp[4]
    assert fp[1] != fp[3]
    assert len(fp[5]) == 32  # md5 hex of whole-short-doc


def test_brute_force_topk(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.9, 0.1]),   # closest to 2
        (4, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id").isin([0, 2])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.brute_force_topk(df, q, k=1)
    got = {(r.query_id, r.neighbor_id) for r in out.collect()}
    assert got == {(0, 1), (2, 3)}


def test_lsh_topk_self_consistent(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(20, 8))
    vecs = [(i, [float(x) for x in base[i]]) for i in range(20)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r.query_id, r.neighbor_id) for r in sim.brute_force_topk(df, q, k=3).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in sim.lsh_topk(df, q, dim=8, k=3, planes=4).collect()}
    # LSH returns a subset-ish of plausible neighbors; sanity: non-empty and
    # every returned neighbor shares the query's bucket by construction.
    assert approx
    assert len(approx & exact) > 0


def test_multimodal_plumbing(spark, docs):
    media = mm.synthesize_media_from_documents(
        docs.withColumn("n_chars", F.length("text"))
    )
    assert dict(media.dtypes)["content"] == "binary"
    feats = mm.extract_features(media, fake_codec=True).collect()
    by_id = {r.doc_id: r for r in feats}
    assert len(by_id) == 5
    assert by_id[1].digest == by_id[4].digest  # same payload, same digest
    assert by_id[1].n_bytes == len(DOCS[0][1].encode())
    assert len(by_id[1].feature) == mm.FEATURE_DIM
    assert by_id[1].feature == by_id[4].feature

    frames = mm.frame_sample(media, n_frames=4)
    assert frames.count() == 20
    assert frames.filter(F.col("frame_idx") == 0).count() == 5


def test_multimodal_resize_plumbing(spark, docs):
    """Binary in AND binary out through Arrow: row count preserved, payload
    deterministic from source digest, dims stamped without re-decode."""
    media = mm.synthesize_media_from_documents(
        docs.withColumn("n_chars", F.length("text"))
    )
    out = mm.resize_images(media, width=4, height=3, fake_codec=True)
    assert dict(out.dtypes)["content"] == "binary"
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == 5
    assert all(len(r.content) == 12 and (r.width, r.height) == (4, 3) for r in rows.values())
    # same source payload → same resized bytes (docs 1 and 4 share text)
    assert bytes(rows[1].content) == bytes(rows[4].content)
    import hashlib as _h

    want = _h.md5(DOCS[0][1].encode()).digest()
    assert bytes(rows[1].content) == bytes(want[i % 16] for i in range(12))


def test_multimodal_codec_without_pil_raises(spark):
    # r15: the real path is PIL behind a guarded import; only when the
    # environment lacks pillow does the non-fake call refuse
    if mm._pil() is not None:
        pytest.skip("pillow present — covered by test_multimodal_real_pil_codec")
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"bytes", "image/png", fake=False)
    with pytest.raises(NotImplementedError):
        mm.resize_image(b"bytes", 4, 4, fake=False)


def test_multimodal_real_pil_codec(spark):
    """VERDICT r14 #6: the real codec path, active the day the sandbox
    gains pillow (importorskip until then). A synthetic in-memory PNG
    goes through decode (header dims + 8-dim strip feature) and resize
    (re-encoded in the source format, new header dims) — both via the
    same mapInPandas plumbing the fake twin pins everywhere else."""
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    im = PIL_Image.new("RGB", (20, 10))
    im.putdata([(x % 256, 0, 0) for x in range(200)])
    buf = io.BytesIO()
    im.save(buf, format="PNG")
    payload = buf.getvalue()

    dec = mm.decode_image(payload, "image/png")
    assert (dec["width"], dec["height"]) == (20, 10)
    assert len(dec["feature"]) == mm.FEATURE_DIM
    assert all(0.0 <= v <= 1.0 for v in dec["feature"])
    # deterministic: same payload, same decode
    assert mm.decode_image(payload, "image/png") == dec

    resized = mm.resize_image(payload, 6, 4)
    with PIL_Image.open(io.BytesIO(resized)) as back:
        assert back.size == (6, 4)
        assert back.format == "PNG"

    # end-to-end through the Spark seam (non-fake codec on workers)
    media = spark.createDataFrame(
        [(1, payload, "image/png")], "doc_id long, content binary, media_type string"
    )
    feats = mm.extract_features(media).collect()
    assert len(feats) == 1 and feats[0].width == 20 and feats[0].height == 10
    out = mm.resize_images(media, width=6, height=4).collect()
    assert len(out) == 1 and (out[0].width, out[0].height) == (6, 4)


# --- LSH giant-bucket cap (scale hardening) ---------------------------------

def _bucket_rows(spark, n_big, n_small=4):
    """One giant LSH bucket with n_big members + one small bucket."""
    from pyspark.sql import functions as F

    rows = [(i, 0, "BIG") for i in range(n_big)]
    rows += [(10_000_000 + i, 1, "SMALL") for i in range(n_small)]
    return spark.createDataFrame(rows, "id long, band int, bh string")


@pytest.mark.slow  # driver-verify gate (r16): long-tail; run with -m ""
def test_lsh_giant_bucket_join_path_matches_expansion(spark):
    """oversize='join' must produce exactly the pairs the unbounded
    expansion would — here verified on a 10^4-member bucket, far above the
    cap, which completes because pair generation is distributed."""
    from laradb_spark.pipelines.dedup import _bucket_pairs

    bb = _bucket_rows(spark, n_big=10_000)
    out = _bucket_pairs(bb, max_bucket=64, oversize="join")
    # 10^4 choose 2 from the big bucket + 6 from the small one
    assert out.count() == 10_000 * 9_999 // 2 + 6


def test_lsh_giant_bucket_drop_path(spark):
    from laradb_spark.pipelines.dedup import _bucket_pairs, lsh_oversize_report

    bb = _bucket_rows(spark, n_big=200)
    out = _bucket_pairs(bb, max_bucket=64, oversize="drop")
    assert out.count() == 6  # only the small bucket's pairs survive
    report = lsh_oversize_report(bb, max_bucket=64).collect()
    assert len(report) == 1 and report[0].n == 200


def test_lsh_capped_equals_uncapped_on_real_docs(spark, sf_dir):
    """On the real documents table the capped path (tiny cap → every bucket
    takes the join route) must equal the in-memory expansion path."""
    from laradb_spark.pipelines.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fast = minhash_lsh_pairs(docs)  # default cap, expansion path
    forced = minhash_lsh_pairs(docs, max_bucket=1)  # everything via join
    a = {(r.id_a, r.id_b) for r in fast.collect()}
    b = {(r.id_a, r.id_b) for r in forced.collect()}
    assert a == b and len(a) > 0


# --- near-dup components + keeper --------------------------------------------

def test_near_dup_components_vs_union_find(spark):
    from laradb_spark.pipelines.dedup import near_dup_components

    edges = [(1, 2), (2, 3), (10, 11), (7, 3), (20, 21), (21, 22), (22, 20)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")

    # python union-find oracle
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}

    got = {r.id: r.component for r in near_dup_components(pairs).collect()}
    assert got == want


def test_drop_near_duplicates_keeps_representatives(spark, sf_dir):
    from laradb_spark.pipelines.dedup import (
        drop_near_duplicates,
        lsh_candidate_jaccard,
        near_dup_components,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = lsh_candidate_jaccard(docs, threshold=0.5).select("id_a", "id_b")
    kept = drop_near_duplicates(docs, pairs)
    comp = {r.id: r.component for r in near_dup_components(pairs).collect()}
    losers = {i for i, c in comp.items() if i != c}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert {r.doc_id for r in kept.select("doc_id").collect()} == all_ids - losers
    assert losers  # the fixture does contain near-dups


def test_star_components_vs_union_find_random_graphs(spark):
    """large/small-star CC on random graphs (chains force depth — the case
    label propagation is slow on and star contraction must still get
    right) vs a union-find oracle."""
    import random

    from laradb_spark.pipelines.dedup import near_dup_components

    rng = random.Random(17)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(50)]
    edges += [(100 + i, 101 + i) for i in range(30)]  # a 31-node chain
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}

    got = {
        r.id: r.component
        for r in near_dup_components(pairs, algorithm="star").collect()
    }
    assert got == want
    # and the two algorithms agree (the chain's diameter is 30, so label
    # propagation needs ≥30 rounds — its documented weakness vs star)
    lbl = {
        r.id: r.component
        for r in near_dup_components(pairs, max_iters=40).collect()
    }
    assert got == lbl
    # default round budget on a too-deep graph must raise, not silently
    # return wrong components
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        near_dup_components(pairs, max_iters=5).collect()


def test_star_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches star CC from executor-local localCheckpoint
    to reliable checkpoint(dir) — same answer, and RDD checkpoint files
    actually land under the given dir (the cluster fault-tolerance path)."""
    import os

    from laradb_spark.pipelines.dedup import near_dup_components

    edges = [(1, 2), (2, 3), (10, 11), (12, 11)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}

    ck = str(tmp_path / "ck")
    got = {
        r.id: r.component
        for r in near_dup_components(
            pairs, algorithm="star", checkpoint_dir=ck
        ).collect()
    }
    assert got == want
    assert any(os.scandir(ck)), "no checkpoint blocks written to checkpoint_dir"
    # local default still works (executor-local blocks, no dir needed)
    got_local = {
        r.id: r.component
        for r in near_dup_components(pairs, algorithm="star").collect()
    }
    assert got_local == want


def test_star_components_checkpoint_truncates_lineage(spark, tmp_path):
    """The reliable-checkpoint path must actually CUT lineage, not just
    write blocks: after materializing the result once, deleting the SOURCE
    parquet and re-collecting must still return the same components —
    every recompute path bottoms out in the checkpointed blocks under
    checkpoint_dir, never in the (gone) input. That's the failure-semantics
    contract on a real cluster: input retention can't be assumed across a
    long CC run."""
    import shutil

    from laradb_spark.pipelines.dedup import near_dup_components

    src = str(tmp_path / "pairs_src")
    spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (12, 11)], "id_a long, id_b long"
    ).write.parquet(src)
    pairs = spark.read.parquet(src)
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}

    cc = near_dup_components(
        pairs, algorithm="star", checkpoint_dir=str(tmp_path / "ck2")
    )
    first = {r.id: r.component for r in cc.collect()}
    assert first == want
    shutil.rmtree(src)  # simulate input loss mid-lifecycle
    again = {r.id: r.component for r in cc.collect()}
    assert again == want, "re-collect after source deletion diverged"


def test_semantic_dedup_fast_parity(spark):
    """The per-cluster NumPy pair stage on random vectors plus planted
    twins keeps exactly the (vec_id, cid) set the expression pair stage
    and the NumPy stage both produced when both existed."""
    import random

    from laradb_spark.pipelines.similarity import semantic_dedup

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ] + [(100 + i, [float(i % 3), 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]) for i in range(9)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(tau=0.9, n_centroids=4, lloyd_iters=1)
    got = {(r.vec_id, r.cid) for r in semantic_dedup(df, **kw).collect()}
    cids = [  # cid of vec_id 0..59; None: dropped
        0, 1, 2, 3, 1, 3, 0, 2, 0, 0, 3, 3, 0, 3, 2, 0, 0, 3, 1, 1,
        1, 3, 0, 2, 3, 0, 2, 3, 1, None, 3, 2, 1, 2, 2, 3, 0, 3, 2, 3,
        1, 1, 1, 3, 3, 0, 0, 3, 3, 0, 1, 3, 2, 0, 3, 2, 0, 2, 3, 1,
    ]
    want = {(i, c) for i, c in enumerate(cids) if c is not None}
    want |= {(100, 2), (101, 2)}  # 102..108: cosine ≥ 0.9 to 100 or 101
    assert got == want


def test_semantic_dedup_zero_norm_vectors_survive(spark):
    """Zero embeddings must never be dropped nor drop others: cosine vs a
    zero vector is NaN, so the pair stage guards the denominator (kept)."""
    from laradb_spark.pipelines.similarity import semantic_dedup

    rows = [
        (0, [0.0, 0.0, 0.0]),   # zero vector
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0]),   # second zero vector (zero-zero pair too)
        (3, [1.0, 0.0, 0.0]),   # true twin of 1 → dropped
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(tau=0.9, n_centroids=2, lloyd_iters=1)
    got = {(r.vec_id, r.cid) for r in semantic_dedup(df, **kw).collect()}
    assert got == {(0, 0), (1, 1), (2, 0)}


def test_fill_gaps_forward_random_series(spark):
    """fill_gaps_forward vs a pure-Python reference on random sparse
    series (random keys, gaps, leading-null runs)."""
    import random

    from laradb_spark.operators.timeseries import fill_gaps_forward

    rng = random.Random(23)
    rows = []
    for k in "abcd":
        for b in rng.sample(range(50, 70), rng.randint(1, 8)):
            rows.append((k, b, rng.randint(-5, 5)))
    series = spark.createDataFrame(rows, "k string, bin long, v long")
    got = {(r.k, r.bin): (r.v, r.was_gap) for r in fill_gaps_forward(series, "k", "bin", "v").collect()}

    present = {(k, b): v for k, b, v in rows}
    lo = min(b for _, b, _ in rows)
    hi = max(b for _, b, _ in rows)
    keys = sorted({k for k, _, _ in rows})
    want = {}
    for k in keys:
        carry = None
        for b in range(lo, hi + 1):
            if (k, b) in present:
                carry = present[(k, b)]
                want[(k, b)] = (carry, 0)
            else:
                want[(k, b)] = (carry, 1)
    assert got == want


def test_fill_gaps_forward(spark):
    from laradb_spark.operators.timeseries import fill_gaps_forward

    series = spark.createDataFrame(
        [("a", 10, 5), ("a", 13, 7), ("b", 11, 1)],
        "k string, bin long, v long",
    )
    out = {(r.k, r.bin): (r.v, r.was_gap) for r in fill_gaps_forward(series, "k", "bin", "v").collect()}
    # global grid 10..13 for both keys; leading gaps stay NULL
    assert out[("a", 10)] == (5, 0)
    assert out[("a", 11)] == (5, 1)
    assert out[("a", 12)] == (5, 1)
    assert out[("a", 13)] == (7, 0)
    assert out[("b", 10)] == (None, 1)
    assert out[("b", 11)] == (1, 0)
    assert out[("b", 12)] == (1, 1)
    assert len(out) == 8


def test_incremental_digest_dedup(spark, tmp_path):
    """Incremental exact dedup: new batch anti-joins the stored digest
    index; appending accepted shards' digests screens later shards."""
    from laradb_spark.pipelines.dedup import digest_build_index, drop_seen_digests

    hist = spark.createDataFrame([(1, "old doc"), (2, "shared doc")], ["doc_id", "text"])
    idx = str(tmp_path / "digests")
    digest_build_index(hist, idx)

    batch = spark.createDataFrame(
        [(10, "brand new"), (11, "shared doc"), (12, "old doc")], ["doc_id", "text"]
    )
    kept = {r.doc_id for r in drop_seen_digests(batch, idx).collect()}
    assert kept == {10}

    # accept the survivors, append their digests → a re-delivery is dropped
    from pyspark.sql import functions as F

    batch.filter(F.col("doc_id") == 10).select(
        F.md5("text").alias("digest")
    ).write.mode("append").parquet(idx)
    redeliver = spark.createDataFrame([(20, "brand new")], ["doc_id", "text"])
    assert drop_seen_digests(redeliver, idx).count() == 0


def test_frequent_ngrams_and_boilerplate(spark):
    from laradb_spark.pipelines.text import boilerplate_ppm, frequent_ngrams

    df = spark.createDataFrame(
        [
            (1, "a b a b"),      # bigrams: "a b","b a","a b"
            (2, "a b c"),        # "a b","b c"
            (3, "solo"),         # floor: whole text
        ],
        ["doc_id", "text"],
    )
    top = [(r.ng, r.n_occurrences) for r in frequent_ngrams(df, n=2, k=2).collect()]
    assert top == [("a b", 3), ("b a", 1)]  # tie (b a/b c/solo @1) → asc gram
    ppm = {r.doc_id: r.boilerplate_ppm for r in boilerplate_ppm(df, n=2, top_k=2).collect()}
    # top set = {"a b","b a"}: doc1 3/3, doc2 1/2, doc3 0/1
    assert ppm == {1: 1000000, 2: 500000, 3: 0}


def test_tfidf_top_terms(spark):
    from laradb_spark.pipelines.text import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "x x common", "s1"),
            (2, "y common", "s2"),
            (3, "common common", "s2"),
        ],
        ["doc_id", "text", "source"],
    )
    out = [(r.source, r.term, r.score, r.rank) for r in tfidf_top_terms(df, k=2).collect()]
    # N=3; df: x→1, y→1, common→3 → idf_int: x/y=3000000, common=1000000.
    # s2 scores TIE at 3000000 (y: 1·3M, common: 3·1M) → term-asc break.
    want = [
        ("s1", "x", 2 * 3_000_000, 1),
        ("s1", "common", 1 * 1_000_000, 2),
        ("s2", "common", 3 * 1_000_000, 1),
        ("s2", "y", 1 * 3_000_000, 2),
    ]
    assert sorted(out) == sorted(want)


def test_triangle_count(spark):
    from laradb_spark.operators.graph import triangle_count

    # K4 has C(4,3)=4 triangles; edges given in mixed orientation + a dup
    k4 = [(1, 2), (1, 3), (1, 4), (3, 2), (2, 4), (4, 3), (2, 1)]
    df = spark.createDataFrame(k4, "src long, dst long")
    assert triangle_count(df).first().n_triangles == 4
    chain = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    assert triangle_count(chain).first().n_triangles == 0


def test_normalize_text(spark):
    from laradb_spark.pipelines.text import normalize_text

    df = spark.createDataFrame(
        [(1, "<b>Hello</b>   WORLD "), (2, ""), (3, "a<br/>b"), (4, "  x  ")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in normalize_text(df).collect()}
    assert out[1].norm_text == "hello world"
    assert (out[1].n_chars_raw, out[1].n_chars_norm) == (21, 11)
    assert out[2].norm_text == ""
    assert out[3].norm_text == "a b"
    assert out[4].norm_text == "x"


def test_semantic_dedup_drops_higher_id_twin(spark):
    from laradb_spark.pipelines.similarity import semantic_dedup

    # vec 0/5 identical (cos=1 → 5 dropped); others orthogonal-ish survive
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [0.0, 0.0, 1.0]),
        (5, [1.0, 0.0, 0.0]),
        (7, [0.0, 0.7, 0.7]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = {r.vec_id for r in semantic_dedup(df, tau=0.95, n_centroids=2, lloyd_iters=1).collect()}
    assert 5 not in kept
    assert {0, 1, 2, 7} <= kept


def test_repetition_stats(spark):
    from laradb_spark.pipelines import text as tx

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),        # bigrams: ab,ba,ab,ba,ab → top 3/5, dup 3/5
            (2, "w x y z"),            # all distinct → top 1/3, dup 0
            (3, "solo"),               # short-doc floor: one 1-token gram
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in tx.repetition_stats(df).collect()}
    assert (out[1].top_ngram_ppm, out[1].dup_ngram_ppm) == (600000, 600000)
    assert (out[2].top_ngram_ppm, out[2].dup_ngram_ppm) == (333333, 0)
    assert (out[3].top_ngram_ppm, out[3].dup_ngram_ppm) == (1000000, 0)


def test_repetition_oracle_parity_adversarial(spark, tmp_path):
    """Spark repetition_stats must agree value-for-value AND type-for-type
    with TEXT_REPETITION_SQL on adversarial docs (the r2 driver red was a
    DuckDB HUGEINT-vs-BIGINT serialization divergence, not a value bug)."""
    import random

    import duckdb

    from laradb_spark.pipelines import text as tx
    from laradb_spark.workloads.pipelines_q import TEXT_REPETITION_SQL

    rng = random.Random(42)
    docs = [
        (0, ""),                       # empty → zero tokens
        (1, " "),                      # whitespace only
        (2, "solo"),                   # single token
        (3, "a a a a a a"),            # all-identical tokens
        (4, "a  b   a  b"),            # multi-space runs
        (5, " lead trail "),           # leading/trailing spaces
        (6, "ü ü ß é ü"),              # non-ascii tokens
        (7, "x"),                      # 1-char token
        (8, "a b"),                    # exactly one bigram
    ] + [
        (100 + i, " ".join(rng.choice("ab c  d") for _ in range(rng.randint(0, 12))))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r.doc_id: (r.top_ngram_ppm, r.dup_ngram_ppm)
           for r in tx.repetition_stats(df).collect()}

    pq = str(tmp_path / "documents.parquet")
    df.write.mode("overwrite").parquet(pq)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    rel = con.sql(TEXT_REPETITION_SQL)
    assert all(str(t).upper() == "BIGINT" for t in rel.types[1:]), rel.types
    want = {r[0]: (r[1], r[2]) for r in rel.fetchall()}
    assert got == want


def test_scd2_apply(spark):
    """SCD2 merge: unchanged stays open, changed closes + reopens, gone
    closes, new opens, closed history passes through, NULL attrs compare
    null-safely."""
    from laradb_spark.operators.scd import scd2_apply

    history = spark.createDataFrame(
        [
            (1, "gold", 0, None),      # unchanged → stays open
            (2, "silver", 0, None),    # changes → close + reopen
            (3, "bronze", 0, None),    # disappears → close
            (2, "lead", -50, 0),       # already closed → untouched
            (5, None, 0, None),        # NULL attr, unchanged → stays open
        ],
        "k long, seg string, valid_from long, valid_to long",
    )
    snapshot = spark.createDataFrame(
        [(1, "gold"), (2, "platinum"), (4, "new"), (5, None)],
        "k long, seg string",
    )
    out = {
        (r.k, r.seg, r.valid_from, r.valid_to)
        for r in scd2_apply(history, snapshot, "k", ["seg"], 100).collect()
    }
    assert out == {
        (1, "gold", 0, None),
        (2, "silver", 0, 100),
        (2, "platinum", 100, None),
        (2, "lead", -50, 0),
        (3, "bronze", 0, 100),
        (4, "new", 100, None),
        (5, None, 0, None),
    }


def test_chunk_documents(spark):
    from laradb_spark.pipelines.text import chunk_documents

    df = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),  # 10 toks, chunk 4/ov 1
            (2, "a b"),                                  # shorter than one chunk
            (3, ""),                                     # empty → one empty chunk
        ],
        ["doc_id", "text"],
    )
    out = {(r.doc_id, r.chunk_idx): (r.chunk_text, r.n_tokens)
           for r in chunk_documents(df, chunk_tokens=4, overlap=1).collect()}
    # stride 3: chunks at 0,3,6,9 → 1 + ceil((10-4)/3) = 3 chunks
    assert out[(1, 0)] == ("w0 w1 w2 w3", 4)
    assert out[(1, 1)] == ("w3 w4 w5 w6", 4)
    assert out[(1, 2)] == ("w6 w7 w8 w9", 4)
    assert (1, 3) not in out
    assert out[(2, 0)] == ("a b", 2)
    assert out[(3, 0)] == ("", 0)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_fuzzy_pairs(spark):
    from laradb_spark.pipelines.dedup import fuzzy_pairs

    rows = [
        (1, "b1", "widget red"),
        (2, "b1", "widget rad"),   # dist 1 from 1
        (3, "b1", "completely other"),
        (4, "b2", "widget red"),   # same name, DIFFERENT block → never paired
    ]
    df = spark.createDataFrame(rows, "id long, brand string, name string")
    got = {(r.id_a, r.id_b): r.dist
           for r in fuzzy_pairs(df, ["brand"], "id", "name", max_dist=3).collect()}
    assert got == {(1, 2): 1}


def test_observed_filter_metrics(spark):
    """df.observe metrics come from the SAME pass as the action — drop-rate
    accounting with zero extra scans."""
    from laradb_spark.operators.observe import observed_filter

    df = spark.range(100).select(F.col("id"), (F.col("id") % 10).alias("v"))
    kept, obs = observed_filter(df, F.col("v") < 3, name="quality")
    assert kept.count() == 30
    assert obs.get == {"quality_in": 100, "quality_kept": 30}


def test_python_udtf_sentence_split(spark):
    """Spark 4 Python UDTF surface: a table function exploding one input
    row into N output rows — the escape hatch when an operator's fan-out
    logic is genuinely imperative (here: accumulate-until-budget split,
    which pure expressions can't stream)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="part_idx: int, part: string, n_words: int")
    class BudgetSplit:
        def eval(self, text: str, budget: int):
            words = [w for w in (text or "").split(" ") if w]
            buf, idx = [], 0
            for w in words:
                buf.append(w)
                if len(buf) >= budget:
                    yield idx, " ".join(buf), len(buf)
                    idx += 1
                    buf = []
            if buf or idx == 0:
                yield idx, " ".join(buf), len(buf)

    spark.udtf.register("budget_split", BudgetSplit)
    rows = spark.sql(
        "SELECT * FROM budget_split('a b c d e', 2)"
    ).collect()
    got = [(r.part_idx, r.part, r.n_words) for r in rows]
    assert got == [(0, "a b", 2), (1, "c d", 2), (2, "e", 1)]
    # empty input yields exactly one empty part, mirroring chunk_documents
    rows = spark.sql("SELECT * FROM budget_split('', 3)").collect()
    assert [(r.part_idx, r.part, r.n_words) for r in rows] == [(0, "", 0)]


def test_prefix_filter_jaccard_parity_with_hot_token(spark):
    """Prefix filtering is LOSSLESS: same pairs as the brute-force join on
    a corpus with a ubiquitous shingle (the case the brute join explodes
    on and the prefix filter prunes)."""
    from laradb_spark.pipelines.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )

    hot = "the quick brown"          # shared 3-gram across all docs
    rows = [
        (i, f"the quick brown doc{i} token{i} alpha{i % 3} beta{i % 3} gamma{i % 3}")
        for i in range(30)
    ] + [(100, "the quick brown doc1 token1 alpha1 beta1 gamma1")]  # twin of doc 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    brute = sorted(map(tuple, ngram_jaccard_pairs(df, threshold=0.4).collect()))
    pref = sorted(map(tuple, prefix_filter_jaccard_pairs(df, threshold=0.4).collect()))
    assert brute == pref
    assert any(a == 1 and b == 100 for a, b, _ in pref)  # the planted twin


def test_bm25_ranking_sanity(spark):
    from laradb_spark.pipelines.retrieval import bm25_topk

    rows = [
        (1, "hash join hash join hash"),        # both terms, high tf
        (2, "hash scan scan scan scan scan"),   # one term, long doc
        (3, "join"),                            # one term, short doc
        (4, "scan filter sort"),                # no query terms
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.rank, r.score_ppm) for r in
           bm25_topk(df, [(7, "hash join")], k=10).collect()}
    assert 4 not in out                        # no shared term → unscored
    assert set(out) == {1, 2, 3}
    assert out[1][0] == 1                      # both-terms doc ranks first
    assert all(s > 0 for _, s in out.values())


def test_bm25_fast_twin_bit_identical_to_inline(spark, sf_dir):
    """The Arrow twin (sparse per-doc query-term tfs, docs-sized shuffle)
    must reproduce the expression path's integer scores and ranks exactly
    — same _score_terms chain, so any divergence is a tokenization or
    stats-assembly bug."""
    from laradb_spark.pipelines.retrieval import bm25_topk, bm25_topk_fast

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = [(1, "hash join"), (2, "stream window agg"), (3, "zzz-nohit")]
    inline = sorted(map(tuple, bm25_topk(docs, queries, k=7).collect()))
    fast = sorted(map(tuple, bm25_topk_fast(docs, queries, k=7).collect()))
    assert inline == fast and len(inline) > 0


def test_bm25_fast_twin_edge_docs(spark):
    """Token-less and no-hit docs: outside N for avgdl on both paths;
    repeated query terms in one query don't double-count."""
    from laradb_spark.pipelines.retrieval import bm25_topk, bm25_topk_fast

    rows = [
        (1, "hash join hash"),
        (2, ""),             # token-less: excluded from n_docs/n_toks
        (3, "   "),          # whitespace-only: ditto
        (4, "scan filter"),  # no query term but counts toward avgdl
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    queries = [(9, "hash hash join")]  # dup term: deduped by contract
    inline = sorted(map(tuple, bm25_topk(df, queries, k=10).collect()))
    fast = sorted(map(tuple, bm25_topk_fast(df, queries, k=10).collect()))
    assert inline == fast
    assert {t[1] for t in fast} == {1}


def test_bm25_fast_twin_string_ids(spark):
    """id_col generality: the twin's Arrow schema follows the input id
    type (a hardcoded `long` broke string doc ids — review r8)."""
    from laradb_spark.pipelines.retrieval import bm25_topk, bm25_topk_fast

    rows = [("u1", "hash join hash"), ("u2", "scan hash"), ("u3", "join")]
    df = spark.createDataFrame(rows, "url string, text string")
    queries = [(1, "hash join")]
    inline = sorted(map(tuple, bm25_topk(df, queries, k=5, id_col="url").collect()))
    fast = sorted(
        map(tuple, bm25_topk_fast(df, queries, k=5, id_col="url").collect())
    )
    assert inline == fast and len(fast) == 3


def test_time_weighted_avg_hand_computed(spark):
    from laradb_spark.operators.timeseries import time_weighted_avg

    # key A: v=10 held 3 ticks, v=40 held 1 tick → (30+40)/4 = 17 (floor)
    rows = [
        ("A", 0, 10, 1), ("A", 3, 40, 2), ("A", 4, 99, 3),
        ("B", 5, 7, 4),                       # single obs → dropped
        ("C", 2, 5, 5), ("C", 2, 11, 6), ("C", 6, 0, 7),  # equal-ts tie
    ]
    df = spark.createDataFrame(rows, "k string, t long, v long, id long")
    out = {r.k: (r.twap_scaled, r.n_obs) for r in
           time_weighted_avg(df, ["k"], "t", "v", tiebreak_cols=["id"]).collect()}
    assert out["A"] == ((10 * 3 + 40 * 1) // 4, 3)
    assert "B" not in out
    # C: id 5 at t=2 gets dt=0, id 6 at t=2 holds to t=6 → 11*4/4 = 11
    assert out["C"] == (11, 3)


def test_bm25_index_search_matches_inline(spark, tmp_path, sf_dir):
    """Stored inverted-index search ≡ inline bm25_topk (same floor-div
    scoring), and the posting scan prunes to the query terms' buckets."""
    from laradb_spark.pipelines.retrieval import (
        bm25_build_index,
        bm25_search_index,
        bm25_topk,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = [(1, "hash join"), (2, "stream window agg")]
    idx = str(tmp_path / "bm25_idx")
    bm25_build_index(docs, idx)
    inline = sorted(map(tuple, bm25_topk(docs, queries, k=5).collect()))
    stored = sorted(map(tuple, bm25_search_index(spark, idx, queries, k=5).collect()))
    assert inline == stored
    # partition pruning: the plan's scan must carry a bucket filter
    plan = bm25_search_index(spark, idx, queries, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan


def test_bm25_append_index_equals_fresh_build(spark, tmp_path, sf_dir):
    """Incremental BM25 ingest: build on a corpus slice, append the rest
    in two shards -> search results EXACTLY equal a fresh build over the
    union (BM25 stats are sums, and the append merges them; the swapped
    termstats/stats tables and the appended postings/doclens all agree).
    Also pins that per-doc rows never rewrite: dl rides in the postings,
    so appends only add files."""
    from laradb_spark.pipelines.retrieval import (
        bm25_append_index,
        bm25_build_index,
        bm25_search_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = [(1, "hash join"), (2, "stream window agg")]
    a = str(tmp_path / "appended")
    b = str(tmp_path / "fresh")
    bm25_build_index(docs.filter(F.col("doc_id") % 3 == 0), a)
    bm25_append_index(docs.filter(F.col("doc_id") % 3 == 1), a)
    bm25_append_index(docs.filter(F.col("doc_id") % 3 == 2), a)
    bm25_build_index(docs, b)
    got = sorted(map(tuple, bm25_search_index(spark, a, queries, k=5).collect()))
    want = sorted(map(tuple, bm25_search_index(spark, b, queries, k=5).collect()))
    assert got == want and len(got) > 0
    # staged appends clean up after themselves
    import os

    assert not os.path.exists(f"{a}/_append_pending")


def test_bm25_append_refuses_legacy_layout(spark, tmp_path, sf_dir):
    """ADVICE r12: appending dl-bearing postings into a pre-dl layout would
    mix parquet schemas and silently NULL-score legacy rows — the append
    must refuse up front and direct the caller to rebuild."""
    import shutil

    from laradb_spark.pipelines.retrieval import (
        bm25_append_index,
        bm25_build_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = str(tmp_path / "legacy")
    bm25_build_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
    # simulate the pre-r12 layout: postings without the denormalized dl
    legacy = (
        spark.read.option("basePath", f"{idx}/postings")
        .parquet(f"{idx}/postings")
        .drop("dl")
    )
    tmp_post = str(tmp_path / "legacy_postings")
    legacy.write.partitionBy("bucket").mode("overwrite").parquet(tmp_post)
    shutil.rmtree(f"{idx}/postings")
    shutil.move(tmp_post, f"{idx}/postings")
    with pytest.raises(ValueError, match="dl"):
        bm25_append_index(docs.filter(F.col("doc_id") % 2 == 1), idx)


def test_bm25_append_stage_crash_noop_and_publish_resumable(spark, tmp_path, sf_dir, monkeypatch):
    """Crash-safety of the staged append (ADVICE r12):
    (1) an aborted STAGE (pending dir, no _STAGED_OK marker) is invisible
        to readers and a re-run append discards it and lands correctly;
    (2) a crash MID-PUBLISH is recovered by
        txn.publish_pending_batch — idempotent file moves, no
        double-count — ending exactly equal to a fresh union build."""
    import os
    import shutil

    from laradb_spark.pipelines import retrieval as rt
    from laradb_spark.streaming.txn import publish_pending_batch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = [(1, "hash join"), (2, "stream window agg")]
    a = str(tmp_path / "staged")
    b = str(tmp_path / "fresh")
    rt.bm25_build_index(docs.filter(F.col("doc_id") % 2 == 0), a)
    rt.bm25_build_index(docs, b)
    base = sorted(map(tuple, rt.bm25_search_index(spark, a, queries, k=5).collect()))

    # (1) aborted stage: garbage pending dir without the marker
    os.makedirs(f"{a}/_append_pending/postings", exist_ok=True)
    assert sorted(map(tuple, rt.bm25_search_index(spark, a, queries, k=5).collect())) == base

    # (2) append whose publish crashes partway: let staging complete, then
    # fail the publish after the first few file moves
    real_move = shutil.move
    calls = {"n": 0}

    def flaky_move(src, dst):
        calls["n"] += 1
        if calls["n"] == 3:
            raise OSError("injected crash mid-publish")
        return real_move(src, dst)

    # txn's publish calls the global shutil module, so patching
    # shutil.move patches what it calls
    monkeypatch.setattr(shutil, "move", flaky_move)
    with pytest.raises(OSError, match="injected"):
        rt.bm25_append_index(docs.filter(F.col("doc_id") % 2 == 1), a)
    monkeypatch.setattr(shutil, "move", real_move)

    # re-running the APPEND must refuse (double-count hazard)...
    with pytest.raises(RuntimeError, match="publish_pending_batch"):
        rt.bm25_append_index(docs.filter(F.col("doc_id") % 2 == 1), a)
    # ...and the publish retry completes the append exactly once
    publish_pending_batch(a)
    assert not os.path.exists(f"{a}/_append_pending")
    got = sorted(map(tuple, rt.bm25_search_index(spark, a, queries, k=5).collect()))
    want = sorted(map(tuple, rt.bm25_search_index(spark, b, queries, k=5).collect()))
    assert got == want and len(got) > 0


def test_bm25_append_stream_marker_fused_commit(spark, tmp_path, sf_dir, monkeypatch):
    """ADVICE r13 (medium): the streaming applied-marker commits WITH the
    publish, not after it. The BM25 append's stage, applied exactly once
    per batch as bm25_index_stream does: (1) a normal batch lands the
    marker in _stream_applied as part of the publish; (2) a crash
    mid-publish leaves the marker STAGED inside the pending dir (ownership
    is on disk), and the publish retry lands data and marker together —
    there is no state in which the append published but the marker is
    missing, which is the window a redelivery would double-count through."""
    import os
    import shutil

    from laradb_spark.pipelines import retrieval as rt
    from laradb_spark.streaming.txn import exactly_once_apply, publish_pending_batch

    def apply_batch(batch, batch_id):
        stage, targets = rt._bm25_append_stage(batch, a, "doc_id", "text")
        exactly_once_apply(a, batch_id, "t", stage, targets)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = [(1, "hash join"), (2, "stream window agg")]
    a = str(tmp_path / "marked")
    b = str(tmp_path / "freshm")
    rt.bm25_build_index(docs.filter(F.col("doc_id") % 3 == 0), a)
    rt.bm25_build_index(docs, b)

    # (1) normal path: marker lands atomically with the publish
    apply_batch(docs.filter(F.col("doc_id") % 3 == 1), 7)
    assert os.path.exists(f"{a}/_stream_applied/batch_7")
    assert not os.path.exists(f"{a}/_append_pending")

    # (2) crash mid-publish: staged marker proves ownership; retry lands
    # data + marker exactly once
    real_move = shutil.move

    def crash_move(src, dst):
        raise OSError("injected crash mid-publish")

    monkeypatch.setattr(shutil, "move", crash_move)
    with pytest.raises(OSError, match="injected"):
        apply_batch(docs.filter(F.col("doc_id") % 3 == 2), 8)
    monkeypatch.setattr(shutil, "move", real_move)
    assert os.path.exists(f"{a}/_append_pending/_STAGED_OK")
    assert os.path.exists(f"{a}/_append_pending/_markers/batch_8")
    assert not os.path.exists(f"{a}/_stream_applied/batch_8")
    publish_pending_batch(a)
    assert os.path.exists(f"{a}/_stream_applied/batch_8")
    assert not os.path.exists(f"{a}/_append_pending")
    got = sorted(map(tuple, rt.bm25_search_index(spark, a, queries, k=5).collect()))
    want = sorted(map(tuple, rt.bm25_search_index(spark, b, queries, k=5).collect()))
    assert got == want and len(got) > 0


def test_bm25_publish_sweeps_stale_old_dirs(spark, tmp_path, sf_dir, monkeypatch):
    """ADVICE r13 (low): a crash between move(staged, cur) and the aside
    rmtree leaves the aside copy behind with the staged copy gone; the
    publish retry must still sweep it. The aside lives under the pending
    dir, never beside the live table."""
    import os
    import shutil

    from laradb_spark.pipelines import retrieval as rt
    from laradb_spark.streaming import txn

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = [(1, "hash join"), (2, "stream window agg")]
    a = str(tmp_path / "sweep")
    b = str(tmp_path / "freshs")
    rt.bm25_build_index(docs.filter(F.col("doc_id") % 2 == 0), a)
    rt.bm25_build_index(docs, b)

    real_rmtree = shutil.rmtree
    state = {"old_calls": 0}
    aside = f"{a}/{txn.PENDING}/{txn.ASIDE}"

    def flaky_rmtree(path, *args, **kwargs):
        # crash on the POST-move aside sweep (the 2nd aside-targeted call
        # for stats: the 1st is the pre-rename defensive sweep)
        if str(path).startswith(aside):
            state["old_calls"] += 1
            if state["old_calls"] == 2:
                raise OSError("injected crash before aside sweep")
        return real_rmtree(path, *args, **kwargs)

    monkeypatch.setattr(shutil, "rmtree", flaky_rmtree)
    with pytest.raises(OSError, match="injected"):
        rt.bm25_append_index(docs.filter(F.col("doc_id") % 2 == 1), a)
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)
    # crash point: stats swapped (staged gone), its aside left behind
    assert os.path.isdir(f"{aside}/stats")
    assert not os.path.isdir(f"{a}/{txn.PENDING}/stats")
    assert not [d for d in os.listdir(a) if d.endswith("._old")]
    txn.publish_pending_batch(a)
    assert not os.path.exists(f"{a}/{txn.PENDING}")
    got = sorted(map(tuple, rt.bm25_search_index(spark, a, queries, k=5).collect()))
    want = sorted(map(tuple, rt.bm25_search_index(spark, b, queries, k=5).collect()))
    assert got == want and len(got) > 0


def test_bm25_prf_search_index_equals_inline(spark, tmp_path, sf_dir):
    """VERDICT r13 #2: the PRF stored-index serving twin — two pruned
    probes + one bounded feedback fetch — returns EXACTLY the inline
    bm25_prf_topk's two-pass RM3 result (same _score_terms_weighted chain,
    same total orders at every selection stage), and pass-1's postings
    scan carries the bucket partition filter."""
    from laradb_spark.pipelines.retrieval import (
        bm25_build_index,
        bm25_prf_search_index,
        bm25_prf_topk,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = [(1, "hash join"), (2, "stream window agg")]
    idx = str(tmp_path / "prf_idx")
    bm25_build_index(docs, idx)
    inline = sorted(
        map(tuple, bm25_prf_topk(docs, queries, k=5, fb_docs=3, fb_terms=2).collect())
    )
    served = bm25_prf_search_index(spark, idx, queries, k=5, fb_docs=3, fb_terms=2)
    got = sorted(map(tuple, served.collect()))
    assert got == inline and len(got) > 0
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan


def test_bm25_prf_search_index_after_append(spark, tmp_path, sf_dir):
    """PRF serving stays inline-exact ACROSS the index lifecycle: build on
    two-thirds, staged-append the rest -> PRF over the maintained layout
    equals inline PRF over the full corpus (df/dl/stats merges feed both
    scoring passes and the feedback stage)."""
    from laradb_spark.pipelines.retrieval import (
        bm25_append_index,
        bm25_build_index,
        bm25_prf_search_index,
        bm25_prf_topk,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = [(1, "hash join"), (2, "stream window agg")]
    idx = str(tmp_path / "prf_app")
    bm25_build_index(docs.filter(F.col("doc_id") % 3 < 2), idx)
    bm25_append_index(docs.filter(F.col("doc_id") % 3 == 2), idx)
    inline = sorted(
        map(tuple, bm25_prf_topk(docs, queries, k=5).collect())
    )
    got = sorted(
        map(tuple, bm25_prf_search_index(spark, idx, queries, k=5).collect())
    )
    assert got == inline and len(got) > 0


def test_bm25_doc_tf_mirror_and_prf_fallback(spark, tmp_path, sf_dir):
    """r15 (VERDICT r14 #4): the doc-major ``doc_tf`` mirror. (a) The
    mirror's rows are exactly the postings' (id, term, tf) across
    build + append — the feedback fetch reads the same term vectors it
    used to scan the full postings for. (b) The driver-side dbucket twin
    matches Spark's partition values for every id (the pruning
    contract). (c) A layout stripped of the mirror takes the documented
    full-scan fallback and returns IDENTICAL PRF results."""
    import os
    import shutil

    from laradb_spark.pipelines.retrieval import (
        _dbucket_of,
        bm25_append_index,
        bm25_build_index,
        bm25_prf_search_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = [(1, "hash join"), (2, "stream window agg")]
    idx = str(tmp_path / "mirror_idx")
    bm25_build_index(docs.filter(F.col("doc_id") % 3 < 2), idx)
    bm25_append_index(docs.filter(F.col("doc_id") % 3 == 2), idx)

    mirror = spark.read.parquet(f"{idx}/doc_tf")
    post = spark.read.parquet(f"{idx}/postings")
    got = sorted(map(tuple, mirror.select("id", "term", "tf").collect()))
    want = sorted(map(tuple, post.select("id", "term", "tf").collect()))
    assert got == want and len(got) > 0
    for r in mirror.select("id", "dbucket").distinct().collect():
        assert _dbucket_of(r["id"]) == r["dbucket"]

    with_mirror = sorted(
        map(tuple, bm25_prf_search_index(spark, idx, queries, k=5).collect())
    )
    shutil.rmtree(f"{idx}/doc_tf")
    assert not os.path.isdir(f"{idx}/doc_tf")
    fallback = sorted(
        map(tuple, bm25_prf_search_index(spark, idx, queries, k=5).collect())
    )
    assert fallback == with_mirror and len(fallback) > 0
    # and an append onto the mirror-less layout stays mirror-less
    # (all-or-nothing per layout — no half-mirror truncation)
    bm25_append_index(docs.filter(F.col("doc_id") % 3 == 0), idx)
    assert not os.path.isdir(f"{idx}/doc_tf")


def test_bm25_prf_search_index_refuses_legacy_layout(spark, tmp_path, sf_dir):
    """The PRF twin needs the denormalized dl in the postings; on a pre-dl
    layout it must refuse up front (the append's schema-guard discipline),
    not NULL-score silently."""
    import shutil

    from laradb_spark.pipelines.retrieval import (
        bm25_build_index,
        bm25_prf_search_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = str(tmp_path / "prf_legacy")
    bm25_build_index(docs, idx)
    legacy = (
        spark.read.option("basePath", f"{idx}/postings")
        .parquet(f"{idx}/postings")
        .drop("dl")
    )
    tmp_post = str(tmp_path / "prf_legacy_postings")
    legacy.write.partitionBy("bucket").mode("overwrite").parquet(tmp_post)
    shutil.rmtree(f"{idx}/postings")
    shutil.move(tmp_post, f"{idx}/postings")
    with pytest.raises(ValueError, match="dl"):
        bm25_prf_search_index(spark, idx, [(1, "hash join")], k=5)


def test_bm25_search_inlist_cap_routes(spark, tmp_path, sf_dir):
    """VERDICT r12 #6: past ``inlist_max_terms`` distinct query terms the
    termstats prune switches from a driver-side IN list to a broadcast
    join — same rows, no megabyte predicate in the plan."""
    from laradb_spark.pipelines.retrieval import (
        bm25_build_index,
        bm25_search_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = [(1, "hash join"), (2, "stream window agg")]
    idx = str(tmp_path / "cap")
    bm25_build_index(docs, idx)
    small = bm25_search_index(spark, idx, queries, k=5)
    big = bm25_search_index(spark, idx, queries, k=5, inlist_max_terms=0)
    assert sorted(map(tuple, small.collect())) == sorted(map(tuple, big.collect()))
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    # IN-list route: term literals sit in the plan predicate; broadcast
    # route: one extra BroadcastHashJoin and NO term-literal IN predicate
    # ('stream' is a query term; physical plans print literals only inside
    # predicates, never LocalTableScan values)
    # (AQE repeats join nodes across stage sections, so compare >, not +1)
    assert plan_big.count("BroadcastHashJoin") > plan_small.count("BroadcastHashJoin")
    assert "stream" in plan_small and "stream" not in plan_big


def test_bm25_compact_index_preserves_results(spark, tmp_path, sf_dir):
    """VERDICT r12 #7: the append ≡ fresh-build pin extended ACROSS a
    postings compaction — row-identity-verified small-file merge on the
    bucket= layout (the ivf_compact_index machinery)."""
    import os

    from laradb_spark.pipelines.retrieval import (
        bm25_append_index,
        bm25_build_index,
        bm25_compact_index,
        bm25_search_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = [(1, "hash join"), (2, "stream window agg")]
    a = str(tmp_path / "compacted")
    b = str(tmp_path / "freshc")
    bm25_build_index(docs.filter(F.col("doc_id") % 3 == 0), a)
    bm25_append_index(docs.filter(F.col("doc_id") % 3 == 1), a)
    bm25_append_index(docs.filter(F.col("doc_id") % 3 == 2), a)
    bm25_build_index(docs, b)

    def nfiles(root):
        return sum(
            1 for dp, _d, fs in os.walk(root) for f in fs if f.endswith(".parquet")
        )

    before = nfiles(f"{a}/postings")
    dl_before_files = nfiles(f"{a}/doclens")
    dl_before_rows = sorted(
        map(tuple, spark.read.parquet(f"{a}/doclens").collect())
    )
    report = bm25_compact_index(spark, a, include_doclens=True)
    after = nfiles(f"{a}/postings")
    assert report["lists_compacted"] > 0 and report["files_before"] > report["files_after"]
    assert after < before
    # r15 (VERDICT r14 #3): doclens folds in behind the flag — file count
    # drops, corpus reporting (the rows themselves) is unchanged
    assert dl_before_files >= 3  # one per build/append — the storm source
    assert report["doclens"]["files_before"] == dl_before_files
    assert report["doclens"]["files_after"] < dl_before_files
    assert nfiles(f"{a}/doclens") == report["doclens"]["files_after"]
    dl_after_rows = sorted(
        map(tuple, spark.read.parquet(f"{a}/doclens").collect())
    )
    assert dl_after_rows == dl_before_rows
    assert report["doclens"]["rows"] == len(dl_before_rows)
    got = sorted(map(tuple, bm25_search_index(spark, a, queries, k=5).collect()))
    want = sorted(map(tuple, bm25_search_index(spark, b, queries, k=5).collect()))
    assert got == want and len(got) > 0
    # default call shape is byte-stable: no doclens key, doclens untouched
    report2 = bm25_compact_index(spark, a)
    assert "doclens" not in report2


def test_time_weighted_avg_random_series_property(spark):
    """TWAP vs a pure-Python reference on random irregular series with
    duplicate timestamps — the integral, the tiebreak, and the <2-obs
    drop all exercised."""
    import random

    from laradb_spark.operators.timeseries import time_weighted_avg

    rng = random.Random(42)
    rows = []
    rid = 0
    for k in range(40):
        n = rng.randrange(0, 6)
        for _ in range(n):
            rows.append((f"k{k}", rng.randrange(0, 50), rng.randrange(-100, 100), rid))
            rid += 1
    df = spark.createDataFrame(rows, "k string, t long, v long, id long")
    got = {
        r.k: (r.twap_scaled, r.n_obs)
        for r in time_weighted_avg(df, ["k"], "t", "v", tiebreak_cols=["id"]).collect()
    }

    from collections import defaultdict

    series = defaultdict(list)
    for k, t, v, i in rows:
        series[k].append((t, i, v))
    want = {}
    for k, obs in series.items():
        obs.sort()
        dur = obs[-1][0] - obs[0][0]
        if dur <= 0:
            continue  # <2 obs, or all at one instant (dur=0) → dropped
        wsum = sum(v * (obs[i + 1][0] - t) for i, (t, _, v) in enumerate(obs[:-1]))
        # Spark `div` truncates toward zero (Python // floors — differs on
        # negative weighted sums)
        q = wsum // dur if wsum >= 0 else -((-wsum) // dur)
        want[k] = (q, len(obs))
    assert got == want


def test_gopher_quality_flags_semantics(spark):
    """Hand-computed Gopher rules: one passing doc, one too short, one
    stopword-poor, one non-alphabetic, one empty (NULL stats, all-fail)."""
    from laradb_spark.pipelines.text import gopher_quality_flags

    good = "the cat sat with the dog and that was fine " * 6  # 60 words
    rows = [
        (0, good.strip()),
        (1, "the of short"),                          # 3 words < 50
        (2, ("word " * 60).strip()),                  # no stopword hits
        (3, ("123 " * 60).strip()),                   # alpha fraction 0
        (4, ""),                                      # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in gopher_quality_flags(df).collect()}
    assert got[0].pass_gopher
    assert got[0].word_count == 60 and got[0].ok_word_count
    # mean word length of the repeated sentence: 33 chars / 10 words
    assert got[0].mean_word_len_milli == (1000 * 6 * 33) // 60 == 3300
    assert not got[1].ok_word_count and not got[1].pass_gopher
    assert got[2].stopword_hits == 0 and not got[2].ok_stopwords
    assert got[3].alpha_word_ppm == 0 and not got[3].ok_alpha_words
    assert got[4].word_count == 0 and got[4].mean_word_len_milli is None
    assert not got[4].pass_gopher


def test_bigram_lm_score_semantics(spark):
    """Hand-computed count-ratio LM: corpus 'a b', 'a b', 'a c' →
    c(a,b)=2, c(a,c)=1, c(a·)=3; doc1 score = (1e6*2)//3 = 666666;
    doc3 = (1e6*1)//3 = 333333. One-token doc absent."""
    from laradb_spark.pipelines.text import bigram_lm_score

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "solo")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.lm_score_ppm, r.n_bigrams) for r in bigram_lm_score(df).collect()}
    assert got == {1: (666666, 1), 2: (666666, 1), 3: (333333, 1)}


def test_lm_quality_buckets_semantics(spark):
    """CCNet bucketing on a hand-built corpus: within each lang, rank by
    (lm_score_ppm desc, doc_id asc); bucket = ((rank-1)·3) div n + 1.
    Covers: group size not divisible by n_buckets (en: 4 docs → buckets
    1,1,2,3 by the rank-range formula), a score tie broken by doc_id,
    and a < 2-token doc absent from the output."""
    from laradb_spark.pipelines.text import bigram_lm_score, lm_quality_buckets

    df = spark.createDataFrame(
        [
            # en: 'a b' twice (typical) beats 'a c'; 'x y' is its own bigram
            (1, "a b", "en"),
            (2, "a b", "en"),  # tie with doc 1 → doc_id breaks it
            (3, "a c", "en"),
            (4, "x y", "en"),
            # de: two docs → buckets 1 and 3 (rank-range, not NTILE)
            (5, "p q", "de"),
            (6, "p r", "de"),
            (7, "solo", "de"),  # no bigrams → absent
        ],
        "doc_id long, text string, lang string",
    )
    got = {r.doc_id: (r.lang, r.bucket) for r in lm_quality_buckets(df).collect()}
    scores = {r.doc_id: r.lm_score_ppm for r in bigram_lm_score(df).collect()}
    # en ranks: 4 (1e6, 'x y' is the only x-bigram), then 1, 2 (666666,
    # tie → id asc), then 3 (333333). n=4 → buckets: r1→1, r2→1, r3→2, r4→3.
    assert scores[4] == 1000000 and scores[1] == scores[2] == 666666
    assert got[4] == ("en", 1) and got[1] == ("en", 1)
    assert got[2] == ("en", 2) and got[3] == ("en", 3)
    # de: 'p q' vs 'p r' both (1e6*1)//2 → tie → doc 5 rank 1. n=2 →
    # r1→bucket 1, r2→bucket 2 (((2-1)*3) div 2 + 1).
    assert got[5] == ("de", 1) and got[6] == ("de", 2)
    assert 7 not in got


def test_bigram_ppm_expr_survives_int64_cliff(spark):
    """ADVICE r6: corpus-wide bigram counts beyond ~9.2e12 overflow the
    old `1000000 * cb` int64 numerator (ANSI Spark throws). The shipped
    BIGRAM_PPM_EXPR widens to DECIMAL(38,0) and still returns BIGINT with
    the exact integral quotient, hash-compatible with the HUGEINT
    oracle."""
    from pyspark.sql import functions as F

    from laradb_spark.pipelines.text import BIGRAM_PPM_EXPR

    cb, cw = 9_300_000_000_000, 13_000_000_000_000  # past the cliff
    df = spark.createDataFrame([(cb, cw)], "cb long, cw long")
    out = df.select(F.expr(BIGRAM_PPM_EXPR).alias("ppm"))
    assert dict(out.dtypes) == {"ppm": "bigint"}
    assert out.collect()[0].ppm == (1_000_000 * cb) // cw  # Python ints are exact


def test_contamination_score_semantics(spark):
    """Hand-computed distinct-3-gram overlap: doc shares one of its two
    grams with the benchmark → 500000 ppm; untouched doc → 0; short doc
    floors to its whole text as one gram."""
    from laradb_spark.pipelines.curation import contamination_score

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),   # grams: 3 distinct
            (2, "totally unrelated words here"),
            (3, "hi"),                           # whole-text gram
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(99, "quick brown fox")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.total_grams, r.contaminated_grams, r.contamination_ppm)
        for r in contamination_score(corpus, bench, n=3).collect()
    }
    assert got[1] == (3, 1, 333333)
    assert got[2] == (2, 0, 0)
    assert got[3] == (1, 0, 0)


def test_duplicate_span_census_semantics(spark):
    """Hand-computed Lee-et-al-style span census, window=3: 'a b c'
    occurs in docs 1 and 2 → 3 covered positions each; within-doc
    repeats count too (doc 5's windows each occur twice INSIDE it →
    fully covered); short docs have no windows; clean docs report
    zeros."""
    from laradb_spark.pipelines.dedup import duplicate_span_census

    df = spark.createDataFrame(
        [
            (1, "a b c d e"),        # "a b c" dup with doc 2 → pos 1-3
            (2, "x a b c y"),        # dup window at pos 2 → pos 2-4
            (3, "p q r s t"),        # clean
            (4, "u v"),              # shorter than the window
            (5, "m n o m n o m n"),  # every window self-repeats
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_windows, r.dup_windows, r.dup_positions, r.dup_ppm)
        for r in duplicate_span_census(df, window=3).collect()
    }
    assert got == {
        1: (5, 3, 1, 3, 600000),
        2: (5, 3, 1, 3, 600000),
        3: (5, 3, 0, 0, 0),
        4: (2, 0, 0, 0, 0),
        5: (8, 6, 6, 8, 1000000),
    }


def test_strip_duplicate_spans_semantics(spark):
    """Stripping removes ALL occurrences of a duplicated window (the
    BFF-rule, per the module note) and merges overlapping spans; clean
    and too-short docs pass through verbatim."""
    from laradb_spark.pipelines.dedup import strip_duplicate_spans

    df = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "x a b c y"),
            (3, "p q r s t"),
            (4, "u v"),
            (5, "m n o m n o m n"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.clean_text, r.n_tokens, r.kept_tokens)
        for r in strip_duplicate_spans(df, window=3).collect()
    }
    assert got == {
        1: ("d e", 5, 2),
        2: ("x y", 5, 2),
        3: ("p q r s t", 5, 5),
        4: ("u v", 2, 2),
        5: ("", 8, 0),
    }


def test_gopher_funnel_first_failure_attribution(spark):
    """Funnel charges each doc to the FIRST Gopher rule it fails: a doc
    failing word_count (too short) never reaches later stages even if it
    would fail them too; n_in chains and killed+survivors == total."""
    from laradb_spark.pipelines.text import (
        GOPHER_MIN_WORDS,
        gopher_funnel,
        gopher_quality_flags,
    )

    long_ok = "the " * 60 + "quick brown fox jumps over lazy dogs today"
    df = spark.createDataFrame(
        [
            (1, long_ok),              # passes everything
            (2, "tiny doc"),           # fails word_count (and others) → stage 1
            (3, "zzzz " * 60),         # word count + mean len ok, no stopwords → stage 3
        ],
        "doc_id long, text string",
    )
    flags = {r.doc_id: r for r in gopher_quality_flags(df).collect()}
    assert flags[2].word_count < GOPHER_MIN_WORDS  # fixture sanity
    rows = {r.stage: r for r in gopher_funnel(df).collect()}
    assert [rows[s].filter_name for s in (1, 2, 3, 4)] == [
        "word_count", "mean_word_len", "stopwords", "alpha_words",
    ]
    assert (rows[1].n_in, rows[1].n_killed, rows[1].n_out) == (3, 1, 2)
    assert rows[2].n_in == 2
    assert rows[3].n_killed == 1          # doc 3 dies at the stopword stage
    assert rows[4].n_out == 1             # doc 1 survives the whole funnel
    assert sum(rows[s].n_killed for s in rows) + rows[4].n_out == 3


def test_span_index_incremental_strip(spark, tmp_path):
    """Incremental span dedup: history indexed once (count >= 1 — SEEN
    hashes, not corpus-duplicated), a new batch strips every window
    history already contains; novel text passes through verbatim, and an
    appended shard extends the index."""
    from laradb_spark.pipelines.dedup import span_build_index, strip_seen_spans

    hist = spark.createDataFrame(
        [(1, "a b c d e"), (2, "p q r s t")], "doc_id long, text string"
    )
    path = str(tmp_path / "span_idx")
    span_build_index(hist, path, window=3)
    batch = spark.createDataFrame(
        [
            (10, "x a b c y"),     # "a b c" seen in doc 1 → pos 2-4 stripped
            (11, "u v w x y z"),   # novel → verbatim
            (12, "a b"),           # shorter than the window → verbatim
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.clean_text, r.kept_tokens)
           for r in strip_seen_spans(batch, path, window=3).collect()}
    assert got == {10: ("x y", 2), 11: ("u v w x y z", 6), 12: ("a b", 2)}
    # append the accepted batch; its windows now strip a later shard
    from laradb_spark.pipelines.dedup import _span_window_hashes

    _span_window_hashes(batch, 3, "text").select("h").distinct().write.mode(
        "append"
    ).parquet(path)
    later = spark.createDataFrame([(20, "q u v w r")], "doc_id long, text string")
    got2 = {r.doc_id: r.clean_text for r in strip_seen_spans(later, path, window=3).collect()}
    assert got2 == {20: "q r"}  # "u v w" arrived with the appended shard


def test_span_census_and_strip_null_text(spark):
    """Review r7: NULL text ≡ empty doc — all-zero census row and ''
    clean_text, never NULL stats that silently poison downstream sums."""
    from laradb_spark.pipelines.dedup import duplicate_span_census, strip_duplicate_spans

    df = spark.createDataFrame(
        [(1, None), (2, "a b c d"), (3, "x a b c")], "doc_id long, text string"
    )
    census = {r.doc_id: (r.n_tokens, r.n_windows, r.dup_windows, r.dup_positions, r.dup_ppm)
              for r in duplicate_span_census(df, window=3).collect()}
    assert census[1] == (0, 0, 0, 0, 0)
    assert census[2] == (4, 2, 1, 3, 750000)
    stripped = {r.doc_id: (r.clean_text, r.n_tokens, r.kept_tokens)
                for r in strip_duplicate_spans(df, window=3).collect()}
    assert stripped[1] == ("", 0, 0)
    assert stripped[2] == ("d", 4, 1)
    assert stripped[3] == ("x", 4, 1)


def test_span_source_matrix_semantics(spark):
    """Hand-computed provenance matrix, window=3: sources A and B share
    exactly one duplicated window ("a b c"); C repeats "m n o" twice
    WITHIN itself (diagonal row); each hash counts once per pair no
    matter how often it repeats."""
    from laradb_spark.pipelines.dedup import span_source_matrix

    df = spark.createDataFrame(
        [
            (1, "a b c d", "A"),
            (2, "x a b c", "B"),
            (3, "m n o p m n o", "C"),   # "m n o" twice within C
            (4, "q r s t", "D"),         # clean
        ],
        "doc_id long, text string, source string",
    )
    got = {(r.source_a, r.source_b): r.shared_windows
           for r in span_source_matrix(df, window=3).collect()}
    assert got == {("A", "B"): 1, ("C", "C"): 1}
    # ubiquity cap: with max_sources=1 the A-B shared hash is dropped,
    # the within-C hash (one source) survives
    capped = {(r.source_a, r.source_b): r.shared_windows
              for r in span_source_matrix(df, window=3, max_sources=1).collect()}
    assert capped == {("C", "C"): 1}


def test_span_ops_match_python_reference_on_random_corpora(spark):
    """Exhaustive cross-check: census and strip against a brute-force
    pure-Python reference on seeded random corpora with a tiny
    vocabulary (forced window collisions), duplicate docs, empty and
    NULL texts. Also pins the cross-op invariant kept_tokens ==
    n_tokens − dup_positions (both derive from the same cover set)."""
    import random

    from laradb_spark.pipelines.dedup import duplicate_span_census, strip_duplicate_spans

    W = 3
    VOCAB = ["a", "b", "c", "d", "e", "f"]

    def py_reference(docs):
        from collections import Counter

        cnt = Counter()
        parsed = {}
        for did, text in docs:
            toks = [t for t in (text or "").split(" ") if t]
            ws = [(i + 1, " ".join(toks[i : i + W])) for i in range(len(toks) - W + 1)]
            parsed[did] = (toks, ws)
            for _, win in ws:
                cnt[win] += 1
        census, strip = {}, {}
        for did, (toks, ws) in parsed.items():
            dup = [(p, win) for p, win in ws if cnt[win] >= 2]
            cov = set()
            for p, _ in dup:
                cov.update(range(p, p + W))
            n = len(toks)
            census[did] = (n, max(n - W + 1, 0), len(dup), len(cov),
                           (1_000_000 * len(cov)) // n if n else 0)
            kept = [toks[p - 1] for p in range(1, n + 1) if p not in cov]
            strip[did] = (" ".join(kept), n, len(kept))
        return census, strip

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        docs = []
        for did in range(25):
            n = rng.randint(0, 12)
            docs.append((did, " ".join(rng.choice(VOCAB) for _ in range(n))))
        docs.append((100, docs[3][1]))  # exact duplicate doc
        docs.append((101, None))        # NULL text
        want_census, want_strip = py_reference(docs)
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got_census = {
            r.doc_id: (r.n_tokens, r.n_windows, r.dup_windows, r.dup_positions, r.dup_ppm)
            for r in duplicate_span_census(df, window=W).collect()
        }
        got_strip = {
            r.doc_id: (r.clean_text, r.n_tokens, r.kept_tokens)
            for r in strip_duplicate_spans(df, window=W).collect()
        }
        assert got_census == want_census, f"seed {seed}"
        assert got_strip == want_strip, f"seed {seed}"
        for did in got_census:
            assert got_strip[did][2] == got_census[did][0] - got_census[did][3]


def test_strip_hash_path_above_cover_gate(spark):
    """Docs whose covered set exceeds STRIP_SCAN_MAX_COVER take the
    hash-based rewrite path — same result as the python reference (and
    as the scan path on the small docs in the same frame)."""
    from laradb_spark.pipelines.dedup import (
        STRIP_SCAN_MAX_COVER,
        strip_duplicate_spans,
    )

    big = " ".join(f"t{i}" for i in range(100))  # 100 tokens, all covered
    df = spark.createDataFrame(
        [(1, big), (2, big), (3, "a b c d"), (4, "x a b c")],
        "doc_id long, text string",
    )
    assert 100 > STRIP_SCAN_MAX_COVER  # fixture really crosses the gate
    got = {r.doc_id: (r.clean_text, r.kept_tokens)
           for r in strip_duplicate_spans(df, window=3).collect()}
    assert got[1] == ("", 0) and got[2] == ("", 0)   # hash path, fully stripped
    assert got[3] == ("d", 1) and got[4] == ("x", 1)  # scan path


def test_ngram_diversity_semantics(spark):
    """Hand-computed distinct-2: source A has 4 bigram occurrences of
    which 3 distinct (750000 ppm); B is fully templated (1 distinct of
    2 → 500000); a short doc floors to its whole text as one gram."""
    from laradb_spark.pipelines.text import ngram_diversity

    df = spark.createDataFrame(
        [
            (1, "a b a b", "A"),     # bigrams: "a b","b a","a b" (3 occ, 2 distinct)
            (2, "c d", "A"),         # "c d" (1 occ)
            (3, "x y", "B"),
            (4, "x y", "B"),         # same bigram again
            (5, "solo", "C"),        # floors to whole-text gram "solo"
        ],
        "doc_id long, text string, source string",
    )
    got = {r.source: (r.total_ngrams, r.distinct_ngrams, r.diversity_ppm)
           for r in ngram_diversity(df, n=2).collect()}
    assert got == {"A": (4, 3, 750000), "B": (2, 1, 500000), "C": (1, 1, 1000000)}


def test_ngram_diversity_null_text_matches_oracle(spark):
    """NULL text folds to one '' gram on BOTH engines (ADVICE r7: Spark's
    concat_ws counted an '' gram that DuckDB's NULL gram dropped from
    COUNT(DISTINCT), diverging diversity_ppm on NULL-bearing corpora)."""
    import duckdb
    import pandas as pd

    from laradb_spark.pipelines.text import ngram_diversity
    from laradb_spark.workloads.pipelines_q import NGRAM_DIVERSITY_SQL

    rows = [(1, None, "A"), (2, "a b a b", "A"), (3, None, "B")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r.source: (r.total_ngrams, r.distinct_ngrams, r.diversity_ppm)
        for r in ngram_diversity(df, n=2).collect()
    }
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    )
    want = {
        r[0]: (r[1], r[2], r[3]) for r in con.execute(NGRAM_DIVERSITY_SQL).fetchall()
    }
    # A: NULL doc -> '' gram + 3 bigrams = 4 occ / 3 distinct; B: 1 occ ''.
    assert got == want == {"A": (4, 3, 750000), "B": (1, 1, 1000000)}


def test_mg_update_invariants():
    """Batched Misra–Gries compactor: ≤ cap entries survive, estimates
    underestimate true counts by at most the cumulative decrement, and
    no-compaction batches return 0."""
    from collections import Counter

    from laradb_spark.pipelines.text import _mg_update

    rng_tokens = [f"t{i}" for i in range(50)]
    stream = (rng_tokens * 3) + ["heavy"] * 40 + rng_tokens[:7] + ["heavy2"] * 25
    true = Counter(stream)
    counts, dec = {}, 0
    for i in range(0, len(stream), 17):  # 17-token "batches"
        batch = Counter(stream[i : i + 17])
        dec += _mg_update(counts, batch, cap=8)
        assert len(counts) <= 8
    assert dec > 0  # compaction actually happened
    for t, est in counts.items():
        assert est <= true[t]               # never overestimates
        assert true[t] - est <= dec         # bounded underestimate
    # every token heavier than the decrement must have survived
    for t, c in true.items():
        if c > dec:
            assert t in counts


def test_heavy_hitter_tokens_exact_output(spark):
    """Two-pass MG heavy hitters: output == the EXACT heavy-hitter set
    even when the vocabulary (303 tokens) far exceeds the sketch cap
    (32), i.e. compaction and the candidate bound are load-bearing."""
    from laradb_spark.pipelines.text import heavy_hitter_tokens

    # 300 singleton tokens + three genuinely heavy ones, spread over docs
    rare = [f"rare{i}" for i in range(300)]
    texts = []
    for i in range(0, 300, 10):
        texts.append(" ".join(rare[i : i + 10]))
    texts += ["alpha " * 60 + "beta " * 45, "alpha " * 40 + "gamma " * 55]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    n_total = 300 + 60 + 45 + 40 + 55  # 500
    got = {
        r.token: (r.n_occurrences, r.freq_ppm)
        for r in heavy_hitter_tokens(df, min_ppm=80_000, counters=32).collect()
    }
    # θN = 40: alpha(100), gamma(55), beta(45) qualify; every rare misses
    assert got == {
        "alpha": (100, 1_000_000 * 100 // n_total),
        "gamma": (55, 1_000_000 * 55 // n_total),
        "beta": (45, 1_000_000 * 45 // n_total),
    }


def test_heavy_hitter_tokens_edges(spark):
    import pytest as _pytest

    from laradb_spark.pipelines.text import heavy_hitter_tokens

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert heavy_hitter_tokens(empty, min_ppm=1000).count() == 0
    nulls = spark.createDataFrame([(1, None)], "doc_id long, text string")
    assert heavy_hitter_tokens(nulls, min_ppm=1000).count() == 0
    with _pytest.raises(ValueError):
        heavy_hitter_tokens(empty, min_ppm=1000, counters=10)  # cap < 1/θ


def test_minhash_index_cross_batch_fuzzy_dedup(spark, tmp_path):
    """The stored-signature fuzzy index: a near-duplicate (one word
    changed) of an indexed doc is dropped by signature agreement; a
    fresh doc and a sub-threshold doc survive; appending a screened
    batch makes ITS near-dups drop next round."""
    from laradb_spark.pipelines import dedup as dd

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    hist = spark.createDataFrame(
        [(1, base, "s"), (2, "totally different content about query engines and planners", "s")],
        ["doc_id", "text", "source"],
    )
    idx = str(tmp_path / "mh_idx")
    dd.minhash_index_build(hist, idx)

    near = base.replace("kilo", "zulu")
    batch1 = spark.createDataFrame(
        [
            (10, near, "s"),  # near-dup of doc 1 → dropped
            (11, "completely novel words never indexed anywhere at all", "s"),
        ],
        ["doc_id", "text", "source"],
    )
    kept = dd.drop_near_seen(batch1, idx, threshold=0.5)
    assert {r.doc_id for r in kept.select("doc_id").collect()} == {11}
    # threshold monotonicity: at an impossible threshold everything survives
    assert dd.drop_near_seen(batch1, idx, threshold=1.01).count() == 2

    # append the SCREENED batch; a near-dup of doc 11 now drops too
    dd.minhash_index_update(kept, idx)
    batch2 = spark.createDataFrame(
        [(20, "completely novel words never indexed anywhere at most", "s")],
        ["doc_id", "text", "source"],
    )
    assert dd.drop_near_seen(batch2, idx, threshold=0.5).count() == 0
    # history tables are scanned, never shuffled: no SortMergeJoin
    plan = dd.drop_near_seen(batch1, idx, threshold=0.5)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan


def test_drop_near_seen_runs_new_side_signatures_once(spark, tmp_path, sf_dir):
    """The new shard's signatures feed both the band candidates and the
    agreement check. Arrow UDF subtrees are not deduplicated across
    consumers, so reading them twice runs the signature kernel twice:
    against a stored index (no kernel on the history side) the screen
    plans exactly ONE ArrowEvalPython, and the fuzzy_cross_batch query,
    whose in-memory history signatures are persisted, one outside its
    cache."""
    from plan_helpers import count_plan_nodes

    from laradb_spark.workloads.pipelines_q import fuzzy_cross_batch_q

    idx = str(tmp_path / "mh_idx")
    hist = spark.createDataFrame(DOCS[:3], "doc_id long, text string")
    dd.minhash_index_build(hist, idx)
    batch = spark.createDataFrame(DOCS[3:], "doc_id long, text string")
    screened = dd.drop_near_seen(batch, idx, threshold=0.5)
    assert count_plan_nodes(screened, "ArrowEvalPythonExec") == 1
    assert {r.doc_id for r in screened.collect()} == {5}  # 4 ≡ 1, dropped
    q = fuzzy_cross_batch_q(spark, sf_dir)
    assert count_plan_nodes(q, "ArrowEvalPythonExec") == 1


def test_minhash_index_update_staged_atomic(spark, tmp_path, monkeypatch):
    """r14: the TWO-table minhash index append (sigs + bands) commits
    atomically through the batch-side txn — a crash cannot leave
    signatures without their band rows (which would silently exclude
    those docs from every future drop_near_seen candidate screen).
    Crash mid-publish: live tables stay the consistent pre-append pair;
    re-append refuses with the publish instruction; publish_pending_batch
    completes the append exactly once and screening behaves as an
    uncrashed append."""
    import os
    import shutil

    from laradb_spark.pipelines import dedup as dd
    from laradb_spark.streaming.txn import publish_pending_batch

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    hist = spark.createDataFrame([(1, base, "s")], ["doc_id", "text", "source"])
    idx = str(tmp_path / "mh_staged")
    dd.minhash_index_build(hist, idx)
    novel = "completely novel words never indexed anywhere at all"
    batch = spark.createDataFrame([(11, novel, "s")], ["doc_id", "text", "source"])

    real_move = shutil.move

    def crash_move(src_p, dst_p):
        raise OSError("injected mid-publish crash")

    monkeypatch.setattr(shutil, "move", crash_move)
    with pytest.raises(OSError, match="injected"):
        dd.minhash_index_update(batch, idx)
    monkeypatch.setattr(shutil, "move", real_move)
    # live pair untouched and CONSISTENT: doc 11's near-dup still passes
    assert os.path.exists(f"{idx}/_append_pending/_STAGED_OK")
    near11 = spark.createDataFrame(
        [(20, novel.replace("all", "most"), "s")], ["doc_id", "text", "source"]
    )
    assert dd.drop_near_seen(near11, idx, threshold=0.5).count() == 1
    # re-running the append must refuse (double-count hazard)...
    with pytest.raises(RuntimeError, match="publish_pending_batch"):
        dd.minhash_index_update(batch, idx)
    # ...and the publish retry completes it: the near-dup now drops
    publish_pending_batch(idx)
    assert not os.path.exists(f"{idx}/_append_pending")
    assert dd.drop_near_seen(near11, idx, threshold=0.5).count() == 0
    n_sigs = spark.read.parquet(f"{idx}/sigs").count()
    n_band_ids = spark.read.parquet(f"{idx}/bands").select("id").distinct().count()
    assert n_sigs == n_band_ids == 2  # one append, no double-count


def test_rrf_fuse_exact_integer_scores(spark):
    """RRF against hand arithmetic: 1_000_000 div (60 + rank) per list,
    summed; doc in both lists outranks every single-list doc; ties break
    by doc id; ranks re-number contiguously."""
    from laradb_spark.pipelines.retrieval import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)], "query_id int, doc_id long, rank int"
    )
    dense = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2)], "query_id int, doc_id long, rank int"
    )
    out = {
        r.doc_id: (r.rank, r.rrf_ppm, r.n_lists)
        for r in rrf_fuse([lex, dense], k=10).collect()
    }
    assert out[11] == (1, 1000000 // 62 + 1000000 // 61, 2)  # both lists
    assert out[10] == (2, 1000000 // 61, 1)
    assert out[13] == (3, 1000000 // 62, 1)
    assert out[12] == (4, 1000000 // 63, 1)

    # fusion is input-order invariant, and k caps per query
    swapped = {
        (r.query_id, r.doc_id, r.rank, r.rrf_ppm)
        for r in rrf_fuse([dense, lex], k=2).collect()
    }
    assert swapped == {(1, 11, 1, 1000000 // 62 + 1000000 // 61), (1, 10, 2, 1000000 // 61)}


def test_kn_bigram_score_hand_computed(spark):
    """Interpolated KN against hand arithmetic, including the three
    limbs: seen bigram (discount + continuation), unseen bigram under a
    seen head (continuation mass only — the case the raw count-ratio LM
    zeroes), and per-head probabilities summing to exactly 1e6 ppm over
    the seen vocabulary."""
    df = spark.createDataFrame(
        [(1, "a b a b", "t"), (2, "a b c", "s")],
        "doc_id long, text string, source string",
    )
    got = {
        r.doc_id: (r.kn_score_ppm, r.n_bigrams, r.oov_bigram_ppm)
        for r in tx.kn_bigram_score(df, train_where="source = 't'").collect()
    }
    # train corpus = doc 1 only: cb={(a,b):2,(b,a):1}; cw={a:2,b:1};
    # npost={a:1,b:1}; npre={b:1,a:1}; ntypes=2; D=0.75
    # p(b|a) = (1e6*(2000-750))div 2000 + ((750000*1)div 2 * 500000)div 1e6
    #        = 625000 + 187500 = 812500
    # p(a|b) = (1e6*250)div 1000 + (750000 * 500000)div 1e6 = 250000+375000 = 625000
    assert got[1] == ((2 * 812500 + 625000) // 3, 3, 0)
    # doc 2: (a,b) seen = 812500; (b,c) unseen under seen head b:
    # disc=0, lam=750000, pcont(c)=0 → 0; oov share = 1/2
    assert got[2] == ((812500 + 0) // 2, 2, 500000)
    # per-head completeness: Σ_w2 p(w2|a) over seen vocab {a,b} = 1e6
    # p(a|a) = 0 + (375000 * 500000)div 1e6 = 187500; 812500+187500 = 1e6
    assert 812500 + 187500 == 1000000


def test_kn_bigram_self_trained_matches_ratio_shape(spark, docs):
    """Self-trained KN (train_where=None) scores every multi-token doc,
    all scores in [0, 1e6], zero OOV (every bigram is in training), and
    exact dups score identically."""
    out = {r.doc_id: r for r in tx.kn_bigram_score(docs).collect()}
    assert set(out) == {1, 2, 3, 4}  # doc 5 has no bigrams
    for r in out.values():
        assert 0 <= r.kn_score_ppm <= 1000000 and r.oov_bigram_ppm == 0
    assert out[1].kn_score_ppm == out[4].kn_score_ppm  # exact dup


def test_lsh_recall_report_identical_docs(spark, docs):
    """On the fixture the exact-dup pair is both ground truth and an LSH
    certainty (identical signatures), so the counters are exact."""
    rep = dd.lsh_recall_report(docs, threshold=0.5).collect()
    assert len(rep) == 1
    r = rep[0]
    truth = {
        (x.id_a, x.id_b)
        for x in dd.prefix_filter_jaccard_pairs(docs, threshold=0.5).collect()
    }
    cand = {(x.id_a, x.id_b) for x in dd.minhash_lsh_pairs(docs).collect()}
    assert (r.n_truth, r.n_candidates, r.n_hits) == (
        len(truth), len(cand), len(truth & cand),
    )
    assert (1, 4) in truth and (1, 4) in cand  # the exact dup always hits
    assert r.recall_ppm == 1000000 * len(truth & cand) // len(truth)
    assert r.precision_ppm == 1000000 * len(truth & cand) // len(cand)



def test_lsh_recall_report_banding_sweep(spark, docs):
    """The report's banding parameters pass through to the candidate
    generator, so one call per configuration sweeps NUM_PERM/LSH_BANDS
    (ADVICE r11: without passthrough it could only ever evaluate the
    module defaults). Exact monotonicity pin: with num_perm=8, bands=8
    is 1 row/band — ANY agreeing minhash makes a candidate — a strict
    superset of bands=1 (all 8 rows must agree), while ground truth is
    banding-independent."""
    loose = dd.lsh_recall_report(docs, threshold=0.5, num_perm=8, bands=8).collect()[0]
    tight = dd.lsh_recall_report(docs, threshold=0.5, num_perm=8, bands=1).collect()[0]
    assert loose.n_truth == tight.n_truth
    assert loose.n_candidates >= tight.n_candidates
    assert loose.n_hits >= tight.n_hits
    # recall can only improve with looser banding
    if tight.recall_ppm is not None:
        assert loose.recall_ppm >= tight.recall_ppm

def test_hybrid_search_index_equals_inline(spark, tmp_path, sf_dir):
    """The stored-index hybrid (pruned BM25 posting probe + IVF list
    probe + RRF) returns EXACTLY the inline hybrid's fusion when the
    dense probe is exhaustive (n_probe = n_centroids ⇒ IVF scores every
    vector, ≡ brute force) — the serving composition certifies against
    the inline plan, not a parallel implementation."""
    from laradb_spark.pipelines.retrieval import (
        bm25_build_index,
        bm25_topk,
        hybrid_search_index,
        rrf_fuse,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 120
    )
    queries = [(1, "hash join"), (2, "stream window")]
    qv = emb.filter(F.col("vec_id").isin([1, 2])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    bm25_path = str(tmp_path / "bm25")
    ivf_path = str(tmp_path / "ivf")
    bm25_build_index(docs, bm25_path)
    sim.ivf_build_index(emb, ivf_path, n_centroids=8, lloyd_iters=2)

    got = {
        tuple(r)
        for r in hybrid_search_index(
            spark, bm25_path, ivf_path, queries, qv, k=5, k_cand=10, n_probe=8
        ).collect()
    }

    lex = bm25_topk(docs, queries, k=10).select(
        F.col("query_id").cast("long").alias("query_id"), "doc_id", "rank"
    )
    dense = sim.brute_force_topk(emb, qv, k=10).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").alias("doc_id"),
        "rank",
    )
    want = {tuple(r) for r in rrf_fuse([lex, dense], k=5).collect()}
    assert got == want and len(got) == 10


def test_kn_stored_lm_matches_inline(spark, docs, tmp_path):
    """kn_build_lm + kn_score_indexed ≡ kn_bigram_score under the same
    training slice — the stored LM scores new batches without touching
    the training corpus, identically."""
    path = str(tmp_path / "knlm")
    tx.kn_build_lm(docs, path, train_where="doc_id <= 3")
    batch = docs  # score everything, incl. docs outside the train slice
    got = sorted(map(tuple, tx.kn_score_indexed(batch, path).collect()))
    want = sorted(map(tuple, tx.kn_bigram_score(docs, train_where="doc_id <= 3").collect()))
    assert got == want and len(got) == 4


def test_bm25_prf_expands_recall_and_degenerates_to_plain(spark):
    """RM3 pseudo-relevance feedback: a doc sharing NO original query
    term but sharing the feedback docs' heavy terms is retrieved by the
    second pass (the recall win PRF exists for); with fb_terms=0 the
    two-pass chain degenerates to plain bm25_topk tuple-for-tuple."""
    from laradb_spark.pipelines.retrieval import bm25_prf_topk, bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "apple banana cherry"),
            (2, "apple banana date"),
            (3, "banana banana fig"),
            (4, "kiwi lemon"),
        ],
        "doc_id long, text string",
    )
    queries = [(1, "apple")]
    plain = bm25_topk(docs, queries, k=4).collect()
    assert {r.doc_id for r in plain} == {1, 2}  # no expansion: apple docs only
    prf = bm25_prf_topk(docs, queries, k=4, fb_docs=2, fb_terms=2).collect()
    got_ids = {r.doc_id for r in prf}
    assert 3 in got_ids  # banana is a feedback-heavy term -> d3 retrieved
    assert 4 not in got_ids  # unrelated doc still absent
    ranks = sorted(r.rank for r in prf)
    assert ranks == list(range(1, len(prf) + 1))
    # original-term docs outrank the expansion-only doc (w=1000 vs 500)
    by_id = {r.doc_id: r.rank for r in prf}
    assert by_id[1] < by_id[3] and by_id[2] < by_id[3]
    # degenerate: no expansion terms -> identical to plain BM25
    prf0 = sorted(map(tuple, bm25_prf_topk(docs, queries, k=4, fb_docs=2, fb_terms=0).collect()))
    assert prf0 == sorted(map(tuple, bm25_topk(docs, queries, k=4).collect()))
