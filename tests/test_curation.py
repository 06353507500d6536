"""Curation operators: decontamination, hash split, mixture sampling,
PII redaction. Semantics against hand-computed sets; physical shape
against the executed plan (the corpus payload must never shuffle)."""

import pytest
from pyspark.sql import functions as F

from laradb_spark.pipelines import curation as cu


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "src0"),
        (2, "pack my box with five dozen liquor jugs", "src0"),
        (3, "the quick brown fox jumps over the moon tonight ok", "src1"),  # shares 5-gram with 1
        (4, "completely unrelated text about sparkly distributed engines", "src1"),
        (5, "tiny doc", "src2"),  # < n tokens
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def test_word_ngrams_short_doc_floor(spark):
    df = spark.createDataFrame([("a b c",)], ["text"])
    [row] = df.select(cu.word_ngrams(F.col("text"), 5).alias("g")).collect()
    assert row.g == ["a b c"]  # whole text as one gram, never a countdown


def test_decontaminate_semantics(spark, docs):
    bench = docs.filter(F.col("doc_id") == 1)
    corpus = docs.filter(F.col("doc_id") != 1)
    clean = cu.decontaminate(corpus, bench, n=5)
    # doc 3 shares "the quick brown fox jumps" with the benchmark
    assert {r.doc_id for r in clean.select("doc_id").collect()} == {2, 4, 5}
    # both joins broadcast: the corpus text is never exchanged
    plan = clean._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hash_split_deterministic_and_layout_independent(spark, docs):
    a = cu.hash_split(docs, val_frac=0.5)
    b = cu.hash_split(docs.repartition(7), val_frac=0.5)
    amap = {r.doc_id: r.split for r in a.collect()}
    bmap = {r.doc_id: r.split for r in b.collect()}
    assert amap == bmap  # partition layout cannot change the split
    assert set(amap.values()) <= {"train", "val"}
    # growing the corpus never reassigns existing docs
    grown = docs.union(
        spark.createDataFrame([(99, "new doc arriving later", "src9")], docs.columns)
    )
    gmap = {r.doc_id: r.split for r in cu.hash_split(grown, val_frac=0.5).collect()}
    assert all(gmap[k] == v for k, v in amap.items())


def test_hash_split_frac_zero_and_one(spark, docs):
    assert cu.hash_split(docs, val_frac=0.0).filter(F.col("split") == "val").count() == 0
    assert cu.hash_split(docs, val_frac=1.0).filter(F.col("split") == "train").count() == 0


def test_mix_sources_rates(spark, docs):
    kept = cu.mix_sources(docs, {"src0": 1.0, "src1": 0.0}, default_rate=1.0)
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert {1, 2} <= ids          # rate 1.0 keeps everything
    assert not ({3, 4} & ids)     # rate 0.0 drops everything
    assert 5 in ids               # unlisted source honors default_rate
    # map-only: no exchange anywhere in the executed plan
    assert "Exchange" not in kept._jdf.queryExecution().executedPlan().toString()


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob@corp.io or +1 555-123-4567 from 10.0.0.1 now"),
            (2, "no pii here at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in cu.redact_pii(df).collect()}
    assert (out[1].n_email, out[1].n_phone, out[1].n_ip) == (1, 1, 1)
    assert "<EMAIL>" in out[1].text and "<PHONE>" in out[1].text and "<IP>" in out[1].text
    assert "bob@corp.io" not in out[1].text and "10.0.0.1" not in out[1].text
    assert (out[2].n_email, out[2].n_phone, out[2].n_ip) == (0, 0, 0)
    assert out[2].text == "no pii here at all"


def test_cap_per_group(spark, docs):
    capped = cu.cap_per_group(docs, "source", 1)
    rows = capped.groupBy("source").count().collect()
    assert all(r["count"] == 1 for r in rows)
    # deterministic: same choice on rerun and after repartition
    a = {r.doc_id for r in capped.collect()}
    b = {r.doc_id for r in cu.cap_per_group(docs.repartition(5), "source", 1).collect()}
    assert a == b
    # k larger than the group keeps everything
    assert cu.cap_per_group(docs, "source", 99).count() == docs.count()


def test_global_exclusive_cumsum_matches_sequential(spark):
    rows = [(i, (i * 7) % 5 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "n"])
    out = {r.id: r.offset for r in cu.global_exclusive_cumsum(df, ["id"], "n").collect()}
    acc = 0
    for i, n in rows:
        assert out[i] == acc, f"id {i}"
        acc += n


def test_pack_sequences(spark):
    df = spark.createDataFrame(
        [(1, 300), (2, 300), (3, 0), (4, 1000)], ["doc_id", "n_tokens"]
    )
    got = {r.doc_id: r for r in cu.pack_sequences(df, 512).collect()}
    assert (got[1].start_tok, got[1].pack_id, got[1].n_packs_spanned) == (0, 0, 1)
    assert (got[2].start_tok, got[2].pack_id, got[2].n_packs_spanned) == (300, 0, 2)
    assert (got[3].start_tok, got[3].pack_id, got[3].n_packs_spanned) == (600, 1, 1)
    assert (got[4].start_tok, got[4].pack_id, got[4].n_packs_spanned) == (600, 1, 3)


def test_shuffle_shards_deterministic_permutation(spark, docs):
    out = cu.shuffle_shards(docs, 3)
    rows = out.select("doc_id", "shard", "pos").collect()
    # every doc routed; positions within a shard are 0..len-1 dense
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss))), shard
    # layout-independent: identical assignment after repartition
    again = {(r.doc_id, r.shard, r.pos)
             for r in cu.shuffle_shards(docs.repartition(7), 3).collect()}
    assert {(r.doc_id, r.shard, r.pos) for r in rows} == again
    # order decorrelated from doc_id: at least one shard isn't id-sorted
    id_order = {s: [r.doc_id for r in sorted(rows, key=lambda x: x.pos) if r.shard == s]
                for s in by_shard}
    assert any(lst != sorted(lst) for lst in id_order.values())


def test_decon_stored_index_matches_inline(spark, docs, tmp_path):
    path = str(tmp_path / "decon_idx")
    bench = docs.filter(F.col("doc_id") == 1)
    corpus = docs.filter(F.col("doc_id") != 1)
    cu.decon_build_index(bench, path, n=5)
    stored = cu.decon_filter_indexed(spark, path, corpus, n=5)
    inline = cu.decontaminate(corpus, bench, n=5)
    assert {r.doc_id for r in stored.collect()} == {r.doc_id for r in inline.collect()}
    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_decon_hashscreen_matches_exact(spark, docs, tmp_path):
    """r15: the hash-prescreen (xxhash64 broadcast + exact string verify
    on survivors) returns EXACTLY the broadcast-exact result in both the
    frame and stored forms, and the screen stage is a broadcast semi-join
    (the whole point — the gram strings never broadcast)."""
    path = str(tmp_path / "decon_hs_idx")
    bench = docs.filter(F.col("doc_id") == 1)
    corpus = docs.filter(F.col("doc_id") != 1)
    want = {r.doc_id for r in cu.decontaminate(corpus, bench, n=5).collect()}
    assert 0 < len(want) < corpus.count() or len(want) > 0

    framed = cu.decontaminate_hashscreen(corpus, bench, n=5)
    assert {r.doc_id for r in framed.collect()} == want

    cu.decon_build_index(bench, path, n=5)
    stored = cu.decon_filter_hashscreen(spark, path, corpus, n=5)
    assert {r.doc_id for r in stored.collect()} == want
    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_pack_sequences_conservation_property(spark):
    """Invariant: packing is a bijection onto [0, total_tokens) — each
    doc's [start, start+n) interval tiles the line with no gaps/overlaps
    regardless of value distribution (exercises the two-phase cumsum on
    skewed and zero-heavy inputs)."""
    cases = [
        [(i, 0) for i in range(50)],                      # all-zero docs
        [(i, 10**9) for i in range(20)],                  # huge uniform
        [(i, (37 * i) % 97) for i in range(300)],         # skewed mix w/ zeros
    ]
    for rows in cases:
        df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
        out = sorted(
            ((r.doc_id, r.start_tok) for r in cu.pack_sequences(df, 512).collect())
        )
        acc = 0
        for (i, n), (gid, start) in zip(rows, out):
            assert (gid, start) == (i, acc)
            acc += n


def test_trim_length_outliers(spark):
    """Integer-rank tail trim vs a python reference: per group, drop the
    n·pct//100 shortest and longest (rank ties by id)."""
    rows = [("s1", i, 100 + i) for i in range(100)] + [
        ("s1", 200, 1),        # runt → trimmed
        ("s1", 201, 10**6),    # giant → trimmed
        ("s2", 300, 5),        # tiny group: n=3 → cut 0, all kept
        ("s2", 301, 6),
        ("s2", 302, 7),
    ]
    df = spark.createDataFrame(rows, ["source", "doc_id", "n_chars"])
    kept = {r.doc_id for r in cu.trim_length_outliers(df).collect()}

    expect = set()
    from collections import defaultdict
    groups = defaultdict(list)
    for s, i, n in rows:
        groups[s].append((n, i))
    for s, members in groups.items():
        members.sort()
        n = len(members)
        cut = n * 1 // 100
        expect |= {i for _, i in members[cut: n - cut]}
    assert kept == expect
    assert 200 not in kept and 201 not in kept and {300, 301, 302} <= kept


def test_dsir_importance_replays_hashed_counts(spark):
    """The integer DSIR score is exactly reproducible from the published
    recipe: replay the md5 bucket hash, the add-one-smoothed ppm deltas,
    and the per-doc sums in pure Python and demand equality — and the
    doc drawn from the target distribution must outrank the disjoint
    one on the per-feature mean."""
    import hashlib

    from laradb_spark.pipelines.curation import DSIR_BUCKETS, dsir_importance

    target = spark.createDataFrame(
        [(100, "cat dog"), (101, "cat fish")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [(1, "cat dog cat"), (2, "rocket launch pad"), (3, "")],
        "doc_id long, text string",
    )

    def feats(s):
        toks = [w for w in s.split(" ") if w]
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def bucket(f):
        return int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % DSIR_BUCKETS

    tgt_counts, raw_counts, per_doc = {}, {}, {}
    for _, txt in [(100, "cat dog"), (101, "cat fish")]:
        for f in feats(txt):
            tgt_counts[bucket(f)] = tgt_counts.get(bucket(f), 0) + 1
    for did, txt in [(1, "cat dog cat"), (2, "rocket launch pad"), (3, "")]:
        d = {}
        for f in feats(txt):
            d[bucket(f)] = d.get(bucket(f), 0) + 1
        per_doc[did] = d
        for b, c in d.items():
            raw_counts[b] = raw_counts.get(b, 0) + c
    T, R = sum(tgt_counts.values()), sum(raw_counts.values())

    def trunc_div(a, b):  # Spark `div` / DuckDB `//`: toward zero, not floor
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    def delta(b):
        return (1_000_000 * (tgt_counts.get(b, 0) + 1)) // (T + DSIR_BUCKETS) - (
            1_000_000 * (raw_counts.get(b, 0) + 1)
        ) // (R + DSIR_BUCKETS)

    want = {}
    for did, d in per_doc.items():
        if not d:
            continue  # empty doc: absent (score undefined)
        n = sum(d.values())
        score = sum(c * delta(b) for b, c in d.items())
        want[did] = (n, score, trunc_div(score, n))

    got = {
        r.doc_id: (r.n_features, r.importance_score, r.importance_avg_ppm)
        for r in dsir_importance(corpus, target).collect()
    }
    assert got == want
    assert got[1][2] > got[2][2]  # target-like doc outranks the disjoint one


def test_quality_classifier_replays_trained_weights(spark):
    """The trained linear scorer is exactly reproducible from the recipe:
    replay the md5 feature buckets, the add-one-smoothed ppm weight
    diffs, and the per-doc mean logit in pure Python and demand equality
    — and the positive-seed-like doc must score above the background-like
    one, with `keep` thresholded at 0."""
    import hashlib

    from laradb_spark.pipelines.curation import (
        DSIR_BUCKETS,
        quality_classifier_score,
        train_quality_weights,
    )

    pos_rows = [(100, "good clean prose"), (101, "clean good text")]
    neg_rows = [(200, "spam spam buy"), (201, "buy now spam")]
    score_rows = [(1, "good clean text"), (2, "buy spam now"), (3, "")]
    pos = spark.createDataFrame(pos_rows, "doc_id long, text string")
    neg = spark.createDataFrame(neg_rows, "doc_id long, text string")
    corpus = spark.createDataFrame(score_rows, "doc_id long, text string")

    def feats(s):
        toks = [w for w in s.split(" ") if w]
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def bucket(f):
        return int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % DSIR_BUCKETS

    pc, nc = {}, {}
    for _, txt in pos_rows:
        for f in feats(txt):
            pc[bucket(f)] = pc.get(bucket(f), 0) + 1
    for _, txt in neg_rows:
        for f in feats(txt):
            nc[bucket(f)] = nc.get(bucket(f), 0) + 1
    P, N = sum(pc.values()), sum(nc.values())

    def w(b):
        return (1_000_000 * (pc.get(b, 0) + 1)) // (P + DSIR_BUCKETS) - (
            1_000_000 * (nc.get(b, 0) + 1)
        ) // (N + DSIR_BUCKETS)

    def trunc_div(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    want = {}
    for did, txt in score_rows:
        fs = feats(txt)
        if not fs:
            continue  # token-less doc: absent, like dsir_importance
        dot = sum(w(bucket(f)) for f in fs)
        logit = trunc_div(dot, len(fs))
        want[did] = (len(fs), logit, int(logit >= 0))

    weights = train_quality_weights(pos, neg)
    got = {
        r.doc_id: (r.n_features, r.logit_ppm, r.keep)
        for r in quality_classifier_score(corpus, weights).collect()
    }
    assert got == want
    assert got[1][1] > got[2][1]  # seed-like doc outscores the spam-like one
    assert got[1][2] == 1 and got[2][2] == 0


def test_quality_classifier_sparse_external_weights(spark):
    """An offline-trained model quantized to ppm ints plugs into the same
    scorer: missing buckets score 0 (left join + coalesce), bias and
    threshold shift the keep decision. Weights pin exactly one unigram's
    bucket, so the logit is hand-computable without the trainer."""
    import hashlib

    from laradb_spark.pipelines.curation import (
        DSIR_BUCKETS,
        quality_classifier_score,
    )

    b_good = int(hashlib.md5(b"good").hexdigest()[:8], 16) % DSIR_BUCKETS
    weights = spark.createDataFrame([(b_good, 900)], "b long, w long")
    corpus = spark.createDataFrame(
        # "good good" -> feats: good, good, "good good" (3 features; the
        # bigram hashes elsewhere) -> dot 1800 div 3 = 600
        [(1, "good good"), (2, "other words")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_features, r.logit_ppm, r.keep)
        for r in quality_classifier_score(
            corpus, weights, bias_ppm=-100, threshold_ppm=200
        ).collect()
    }
    assert got[1] == (3, 500, 1)
    assert got[2] == (3, -100, 0)


def test_token_apportionment_hamilton_semantics(spark):
    """Hand-computed largest-remainder apportionment: budget 10 over
    token counts 5/3/2 ⇒ exact proportional floors already sum to the
    budget; budget 7 over 5/3/2 ⇒ floors (3,2,1)=6, the one leftover
    unit goes to the largest remainder (a: 7·5 mod 10 = 5). Σ alloc ==
    budget exactly in both cases."""
    from laradb_spark.pipelines.curation import token_apportionment

    df = spark.createDataFrame(
        [(1, "t1 t2 t3 t4 t5", "a"), (2, "t1 t2 t3", "b"), (3, "t1 t2", "c")],
        "doc_id long, text string, source string",
    )
    got10 = {r.source: (r.n_docs, r.n_tokens, r.share_ppm, r.alloc_tokens)
             for r in token_apportionment(df, budget=10).collect()}
    assert got10 == {
        "a": (1, 5, 500000, 5), "b": (1, 3, 300000, 3), "c": (1, 2, 200000, 2),
    }
    got7 = {r.source: r.alloc_tokens for r in token_apportionment(df, budget=7).collect()}
    assert got7 == {"a": 4, "b": 2, "c": 1}  # remainders 5, 1, 4 → a gets +1
    assert sum(got7.values()) == 7
    with __import__("pytest").raises(ValueError, match="budget"):
        token_apportionment(df, budget=-1)


def test_token_apportionment_zero_token_corpus(spark):
    """Review r7: a zero-token corpus yields all-zero shares and
    allocations (nothing to apportion over) instead of an ANSI
    divide-by-zero in the executor."""
    from laradb_spark.pipelines.curation import token_apportionment

    df = spark.createDataFrame(
        [(1, "", "a"), (2, "", "b")], "doc_id long, text string, source string"
    )
    got = {r.source: (r.n_tokens, r.share_ppm, r.alloc_tokens)
           for r in token_apportionment(df, budget=10).collect()}
    assert got == {"a": (0, 0, 0), "b": (0, 0, 0)}


def test_token_apportionment_sums_to_budget_on_random_corpora(spark):
    """Hamilton-apportionment invariants over seeded random corpora:
    Σ alloc == budget exactly whenever the corpus has tokens, every
    allocation is ≥ its proportional floor, and leftover units are ≤ 1
    per source."""
    import random

    from laradb_spark.pipelines.curation import token_apportionment

    for seed, budget in ((0, 997), (1, 10), (2, 1_000_003)):
        rng = random.Random(seed)
        docs = []
        for did in range(40):
            src = f"s{rng.randint(0, 6)}"
            docs.append((did, " ".join("w" for _ in range(rng.randint(0, 30))), src))
        df = spark.createDataFrame(docs, "doc_id long, text string, source string")
        rows = token_apportionment(df, budget=budget).collect()
        total_tokens = sum(r.n_tokens for r in rows)
        if total_tokens == 0:
            assert all(r.alloc_tokens == 0 for r in rows)
            continue
        assert sum(r.alloc_tokens for r in rows) == budget, f"seed {seed}"
        for r in rows:
            fl = (budget * r.n_tokens) // total_tokens
            assert fl <= r.alloc_tokens <= fl + 1, f"seed {seed} {r}"


def test_split_leakage_report_semantics(spark):
    """Leakage replayed by hand: compute the same md5 split driver-side,
    build the two distinct gram sets in Python, and demand the exact
    counts — plus the boundary cases (empty val split → zeros)."""
    import hashlib

    from laradb_spark.pipelines.curation import BUCKETS, split_leakage_report

    docs = [(i, f"w{i} common text here plus w{i} tail") for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    frac, n = 0.3, 3

    def bucket(did):
        return int(hashlib.md5(str(did).encode()).hexdigest()[:15], 16) % BUCKETS

    def grams(text):
        toks = text.split(" ")
        if len(toks) < n:
            return {text}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    cut = int(frac * BUCKETS)
    val_g, train_g = set(), set()
    for did, text in docs:
        (val_g if bucket(did) < cut else train_g).update(grams(text))
    want = (len(val_g), len(val_g & train_g),
            (1_000_000 * len(val_g & train_g)) // len(val_g) if val_g else 0)
    row = split_leakage_report(df, val_frac=frac, n=n).collect()[0]
    assert (row.val_distinct_grams, row.leaked_grams, row.leakage_ppm) == want
    assert row.leaked_grams > 0  # the shared "common text here" grams leak
    # empty val split: frac 0 → zeros, no div-by-zero
    z = split_leakage_report(df, val_frac=0.0, n=n).collect()[0]
    assert (z.val_distinct_grams, z.leaked_grams, z.leakage_ppm) == (0, 0, 0)


def test_source_datacard_semantics(spark):
    """Hand-computed card: dup rate counts byte-identical text within a
    source; NULL lang folds to 'unknown'; the dominant-language tie
    breaks to the smaller lang string; NULL text counts as one 0-token
    doc."""
    from laradb_spark.pipelines.curation import source_datacard

    df = spark.createDataFrame(
        [
            # s1: 4 docs, one exact dup pair; langs en,en,de,NULL
            (1, "a b c", "en", "s1"),
            (2, "a b c", "en", "s1"),
            (3, "d e", "de", "s1"),
            (4, None, None, "s1"),
            # s2: lang tie de=1, en=1 → top_lang 'de' (asc tie-break)
            (5, "x", "en", "s2"),
            (6, "y z", "de", "s2"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = {r.source: r for r in source_datacard(df).collect()}
    s1 = got["s1"]
    assert (s1.n_docs, s1.n_tokens, s1.mean_doc_tokens) == (4, 8, 2)
    assert (s1.n_langs, s1.top_lang, s1.top_lang_ppm) == (3, "en", 500000)
    # 4 docs, 3 distinct texts ('' for NULL) → (1e6*1)//4
    assert s1.exact_dup_ppm == 250000
    s2 = got["s2"]
    assert (s2.n_docs, s2.top_lang, s2.top_lang_ppm) == (2, "de", 500000)
    assert s2.exact_dup_ppm == 0


def test_alpha_mixture_matches_python_replay(spark):
    """α-temperature mixture vs a pure-Python replay at every dyadic α —
    identical weight quantization (floor(1000·n^(k/4)) via IEEE sqrt),
    exact Hamilton allocation (Σ alloc == budget), and the empty-source
    weight-0 convention."""
    import math

    rows = [
        (1, "a b c d e f g h i j", "big"),     # 10 tokens
        (2, "a b c d e f g h i j", "big"),     # big: 20
        (3, "a b c", "small"),                 # small: 3
        (4, "", "empty"),                      # empty: 0 tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    budget = 1001
    counts = {"big": 20, "small": 3, "empty": 0}

    for q in range(5):
        got = {r.source: r for r in cu.alpha_mixture(df, budget, alpha_quarters=q).collect()}

        def wq(n, q=q):
            if n == 0:
                return 0
            return math.floor(1000.0 * math.sqrt(math.sqrt(float(n))) ** q) if q else 1000

        # replay: q applications of quarter-power via float sqrt chain
        def wq_exact(n, q=q):
            if n == 0:
                return 0
            r2, r4 = math.sqrt(float(n)), math.sqrt(math.sqrt(float(n)))
            w = {0: 1.0, 1: r4, 2: r2, 3: r2 * r4, 4: float(n)}[q]
            return math.floor(1000.0 * w)

        W = {s: wq_exact(n) for s, n in counts.items()}
        tot = sum(W.values())
        fl = {s: budget * W[s] // tot for s in W}
        rem = {s: budget * W[s] % tot for s in W}
        left = budget - sum(fl.values())
        order = sorted(W, key=lambda s: (-rem[s], s))
        alloc = {s: fl[s] + (1 if order.index(s) < left else 0) for s in W}
        for s in counts:
            assert got[s].weight_q == W[s], (q, s)
            assert got[s].alloc_tokens == alloc[s], (q, s)
            assert got[s].sample_ppm == 1_000_000 * W[s] // tot
            exp_up = 1_000_000 * alloc[s] // counts[s] if counts[s] else 0
            assert got[s].upsample_ppm == exp_up
        assert sum(r.alloc_tokens for r in got.values()) == budget

    # α flattens: small source's share grows monotonically as α drops
    shares = [
        {r.source: r.sample_ppm for r in cu.alpha_mixture(df, budget, alpha_quarters=q).collect()}[
            "small"
        ]
        for q in (4, 2, 0)
    ]
    assert shares[0] < shares[1] < shares[2]

    with pytest.raises(ValueError):
        cu.alpha_mixture(df, budget, alpha_quarters=5)


def _unimax_replay(sizes, budget, max_epochs):
    """Pure-Python waterfill replay of cu.unimax_allocation."""
    caps = {s: max_epochs * n for s, n in sizes.items()}
    order = sorted(caps, key=lambda s: (caps[s], s))
    K = len(order)
    alloc, spent, m = {}, 0, 0
    for idx, s in enumerate(order, start=1):
        if caps[s] * (K - idx + 1) <= budget - spent:
            alloc[s] = caps[s]
            spent += caps[s]
            m = idx
        else:
            break
    unc = order[m:]
    if unc:
        R = budget - spent
        per, extra = divmod(R, len(unc))
        for j, s in enumerate(unc):
            alloc[s] = per + (1 if j < extra else 0)
    return alloc, m


def test_unimax_allocation_matches_python_replay(spark):
    """UniMax waterfill vs a pure-Python replay across regimes: mixed
    capped/uncapped, all-capped (budget > ΣC: leftover deliberately
    unallocated), none-capped (uniform + remainder order), a zero-token
    source, and Σ alloc == min(budget, ΣC) throughout."""
    rows = []
    sizes = {"a": 10, "b": 100, "c": 100, "d": 1000, "e": 0}
    did = 0
    for s, n in sizes.items():
        rows.append((did, " ".join(["w"] * n), s))
        did += 1
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")

    for budget, epochs in [(900, 2), (5000, 2), (3, 1), (0, 1), (121, 3)]:
        got = {
            r.source: r
            for r in cu.unimax_allocation(df, budget, max_epochs=epochs).collect()
        }
        want, _ = _unimax_replay(sizes, budget, epochs)
        assert {s: g.alloc_tokens for s, g in got.items()} == want, (budget, epochs)
        total_cap = sum(epochs * n for n in sizes.values())
        assert sum(want.values()) == min(budget, total_cap)
        for s, g in got.items():
            assert g.capacity_tokens == epochs * sizes[s]
            assert g.alloc_tokens <= g.capacity_tokens  # caps never breached
            exp_up = 1_000_000 * g.alloc_tokens // sizes[s] if sizes[s] else 0
            assert g.epochs_ppm == exp_up
            assert g.epochs_ppm <= 1_000_000 * epochs

    with pytest.raises(ValueError):
        cu.unimax_allocation(df, -1)
    with pytest.raises(ValueError):
        cu.unimax_allocation(df, 10, max_epochs=0)


def test_multiclass_classifier_matches_dense_python_replay(spark):
    """The engine's sparse-plus-floor decomposition must equal the DENSE
    per-class score computed by a pure-Python replay (same md5 buckets,
    same add-one ppm weights, same argmax with smallest-label ties) —
    including a doc whose features are all UNSEEN in training (pure
    floor scores — the ppm floors collapse to the same value across
    these class sizes, so the argmax is an exact tie broken to the
    smallest label) and a NULL training label folding to 'unknown'."""
    import hashlib

    from laradb_spark.pipelines.curation import (
        DSIR_BUCKETS,
        multiclass_classify,
        train_multiclass_weights,
    )

    B = DSIR_BUCKETS
    train_rows = [
        (1, "aa bb aa", "en"),
        (2, "cc dd cc", "es"),
        (3, "ee ff", None),  # NULL label → class 'unknown'
    ]
    test_rows = [
        (10, "aa bb"),       # en-ish
        (11, "cc dd dd"),    # es-ish
        (12, "zz yy"),       # unseen everywhere → floor tie-break
        (13, ""),            # token-less → absent
    ]
    train = spark.createDataFrame(train_rows, "doc_id long, text string, lang string")
    test = spark.createDataFrame(test_rows, "doc_id long, text string")
    w, st = train_multiclass_weights(train)
    got = {
        r.doc_id: (r.n_features, r.pred_label, r.score_ppm)
        for r in multiclass_classify(test, w, st).collect()
    }

    def feats(text):
        toks = [t for t in text.split(" ") if t]
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def bucket(f):
        return int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % B

    counts, totals = {}, {}
    for _, text, lang in train_rows:
        y = lang if lang is not None else "unknown"
        for f in feats(text):
            counts[(y, bucket(f))] = counts.get((y, bucket(f)), 0) + 1
            totals[y] = totals.get(y, 0) + 1
    want = {}
    for did, text in test_rows:
        fs = [bucket(f) for f in feats(text)]
        if not fs:
            continue
        scores = {
            y: sum((1_000_000 * (counts.get((y, b), 0) + 1)) // (totals[y] + B) for b in fs)
            for y in totals
        }
        best = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        want[did] = (len(fs), best[0], best[1] // len(fs))
    assert got == want
    assert 13 not in got
    # the replay itself must have exercised the advertised edges
    assert want[12][1] == min(totals)  # all-floor tie → smallest label
    assert "unknown" in totals


def test_multiclass_classifier_keeps_integer_labels(spark):
    """class_stats with integer labels classify like their string twins,
    and pred_label keeps the integer type; ties break to the smallest
    label in integer order (2 < 10, where the strings give '10')."""
    from laradb_spark.pipelines.curation import (
        multiclass_classify,
        train_multiclass_weights,
    )

    train = spark.createDataFrame(
        [(1, "aa bb aa", "2"), (2, "cc dd cc", "10"), (3, "ee ff", "7")],
        "doc_id long, text string, lang string",
    )
    test = spark.createDataFrame(
        [(10, "aa bb"), (11, "cc dd dd"), (12, "zz yy")], "doc_id long, text string"
    )
    w, st = train_multiclass_weights(train)
    as_int = F.col("label").cast("int")
    out = multiclass_classify(
        test, w.withColumn("label", as_int), st.withColumn("label", as_int)
    )
    assert out.schema["pred_label"].dataType.simpleString() == "int"
    got = {r.doc_id: (r.pred_label, r.score_ppm) for r in out.collect()}
    want = {r.doc_id: (r.pred_label, r.score_ppm) for r in multiclass_classify(test, w, st).collect()}
    assert {d: (int(lab), s) for d, (lab, s) in want.items() if d != 12} == {
        d: v for d, v in got.items() if d != 12
    }
    assert got[12] == (2, want[12][1]) and want[12][0] == "10"


def test_decontaminate_fuzzy_drops_near_dups_only(spark):
    """The fuzzy drop path genuinely fires: a training doc that is a
    lightly-edited copy of a bench doc (high 3-gram Jaccard, but NOT an
    exact 5-gram-sharing copy necessarily) is dropped; unrelated docs and
    low-overlap docs survive. Also pins the exact-Jaccard verification:
    a doc sharing a band bucket by minhash luck but below threshold must
    survive."""
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    near = "alpha bravo charlie delta echo foxtrot golf hotel india kilo"
    train = spark.createDataFrame(
        [
            (10, near, "s"),  # ~0.67 3-gram Jaccard with bench → dropped
            (11, "completely different text about sparkly query engines", "s"),
            (12, "alpha bravo charlie and then something entirely else here", "s"),
        ],
        ["doc_id", "text", "source"],
    )
    bench = spark.createDataFrame([(1, base, "s")], ["doc_id", "text", "source"])
    clean = cu.decontaminate_fuzzy(train, bench, threshold=0.5, n=3)
    assert {r.doc_id for r in clean.select("doc_id").collect()} == {11, 12}
    # tighter threshold: nothing reaches 0.9, everything survives
    loose = cu.decontaminate_fuzzy(train, bench, threshold=0.9, n=3)
    assert loose.count() == 3
    # bench side broadcasts; the train text is never sort-merge exchanged
    plan = clean._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan


def test_decontaminate_fuzzy_empty_bench_is_identity(spark):
    train = spark.createDataFrame(
        [(1, "some text here for the corpus", "s")], ["doc_id", "text", "source"]
    )
    bench = train.filter(F.col("doc_id") < 0)
    assert cu.decontaminate_fuzzy(train, bench).count() == 1


def test_materialize_mixture_full_and_fractional_epochs(spark):
    """r = 2 emits exactly two copies of every doc (full epochs are full);
    r = 1 emits exactly one; fractional r emits floor(r) everywhere plus
    the md5-selected extras, layout-independently."""
    rows = [(i, "w " * 10, "a") for i in range(1, 21)] + [
        (100 + i, "w " * 10, "b") for i in range(1, 21)
    ]
    df = spark.createDataFrame(
        [(d, t.strip(), s) for d, t, s in rows], ["doc_id", "text", "source"]
    )
    # a: 200 tokens avail, alloc 400 → r=2; b: alloc 200 → r=1
    alloc = spark.createDataFrame(
        [("a", 200, 400), ("b", 200, 200)],
        "source string, n_tokens long, alloc_tokens long",
    )
    out = cu.materialize_mixture(df, alloc)
    counts = {
        (r.source, r.doc_id): r.n
        for r in out.groupBy("source", "doc_id").agg(F.count("*").alias("n")).collect()
    }
    assert all(v == 2 for (s, _), v in counts.items() if s == "a")
    assert all(v == 1 for (s, _), v in counts.items() if s == "b")
    assert {r.epoch_idx for r in out.filter(F.col("source") == "a").collect()} == {0, 1}

    # fractional: r = 1.5 → every doc once, ~half twice; deterministic
    # under repartition (layout independence) and grows only ADDITIVELY
    frac = spark.createDataFrame(
        [("a", 200, 300)], "source string, n_tokens long, alloc_tokens long"
    )
    da = df.filter(F.col("source") == "a")
    c1 = {
        r.doc_id: r.n
        for r in cu.materialize_mixture(da, frac)
        .groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    c2 = {
        r.doc_id: r.n
        for r in cu.materialize_mixture(da.repartition(7), frac)
        .groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    assert c1 == c2
    assert set(c1.values()) == {1, 2} and len(c1) == 20
    # zero-avail and zero-alloc sources emit nothing
    z = spark.createDataFrame(
        [("a", 0, 100), ("b", 200, 0)],
        "source string, n_tokens long, alloc_tokens long",
    )
    assert cu.materialize_mixture(df, z).count() == 0
