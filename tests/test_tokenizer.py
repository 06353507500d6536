"""BPE-merge application: expression path, Arrow twin, Python encoders.

The equivalence chain under test: DuckDB oracle (checker) == Spark
expression chain == in-rank-order Python sweep == rank-priority GPT-2
loop == Arrow twin. The sweep/priority equivalence only holds for merge
tables that came out of BPE TRAINING (a pair can only involve symbols
that existed before it) — so the property test trains real tables from
random corpora instead of sampling arbitrary pair lists.
"""

import collections

from pyspark.sql import functions as F

from laradb_spark.pipelines.tokenizer import (
    BPE_SEP,
    DEMO_BPE_MERGES,
    bpe_encode,
    bpe_encode_str,
    bpe_encode_str_sweep,
    bpe_ranks,
    bpe_token_count,
    bpe_token_count_arrow,
)


def train_bpe(texts: list[str], n_merges: int) -> list[tuple[str, str]]:
    """Classic BPE trainer (most-frequent adjacent pair, ties to the
    lexicographically smallest, no end-of-word marker) — the same
    procedure that produced DEMO_BPE_MERGES from sf0.01."""
    wordfreq = collections.Counter(
        w for t in texts for w in t.split(" ") if w
    )
    vocab = {tuple(w): c for w, c in wordfreq.items()}
    merges = []
    for _ in range(n_merges):
        pairs = collections.Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        mx = max(pairs.values())
        a, b = sorted(p for p, c in pairs.items() if c == mx)[0]
        merges.append((a, b))
        new = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + c
        vocab = new
    return merges


def test_merge_application_hand_computed():
    # merges: (l,o) -> lo, (lo,w) -> low, (e,r) -> er
    merges = [("l", "o"), ("lo", "w"), ("e", "r")]
    assert bpe_encode_str_sweep("lower", merges) == ["low", "er"]
    assert bpe_encode_str_sweep("lolo", merges) == ["lo", "lo"]
    # left-to-right non-overlapping: "lll" + (l,l) merges the FIRST pair
    assert bpe_encode_str_sweep("lll", [("l", "l")]) == ["ll", "l"]
    # rank order matters: (o,w) never fires because (l,o) consumed the o
    assert bpe_encode_str_sweep("low", [("l", "o"), ("o", "w")]) == ["lo", "w"]


def test_sweep_equals_rank_priority_on_trained_tables():
    corpora = [
        ["the cat sat on the mat", "the cat ran", "a tall cattle call"],
        ["aaa aab aba abb baa", "ababab bababa", "aa bb ab ba"],
        ["spark shuffle partition join", "join scan filter join"],
    ]
    for texts in corpora:
        merges = train_bpe(texts, 12)
        ranks = bpe_ranks(merges)
        words = {w for t in texts for w in t.split(" ") if w}
        words |= {"unseen", "zzz", "thecat", "ababa"}
        for w in words:
            assert bpe_encode_str_sweep(w, merges) == bpe_encode_str(w, ranks), (
                w,
                merges,
            )


def test_expression_path_matches_python_sweep(spark):
    rows = [
        (1, "lower low lowest"),
        (2, ""),  # no words: absent
        (3, "er er lolo"),
        (4, f"bad{BPE_SEP}sep word"),  # reserved char stripped on entry
        (5, "emoji 🎉x cat"),  # astral codepoint must not split
    ]
    merges = [("l", "o"), ("lo", "w"), ("e", "r"), ("c", "a"), ("ca", "t")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in bpe_token_count(df, merges).collect()
    }
    want = {}
    for did, txt in rows:
        words = [w for w in txt.split(" ") if w]
        if not words:
            continue
        want[did] = (
            len(words),
            sum(len(bpe_encode_str_sweep(w, merges)) for w in words),
        )
    assert got == want
    assert 2 not in got


def test_arrow_twin_bit_identical_to_expression(spark):
    texts = [
        "the customer batch scan filter join row",
        "small column hash join lower",
        "",
        "zzz unseen wordforms everywhere",
    ]
    merges = train_bpe(texts, 15)
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    expr = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in bpe_token_count(df, merges).collect()
    }
    arrow = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in bpe_token_count_arrow(df, merges).collect()
    }
    assert expr == arrow and len(expr) == 3


def test_bpe_encode_preserves_token_order(spark):
    merges = [("l", "o"), ("lo", "w"), ("e", "r")]
    df = spark.createDataFrame([(1, "lower low er")], "doc_id long, text string")
    (row,) = bpe_encode(df, merges).collect()
    assert row.bpe_tokens == ["low", "er", "low", "er"]


def test_bpe_train_matches_python_trainer(spark):
    """The distributed trainer learns the exact merge sequence of the
    pure-Python classic trainer (same frequency counts, same
    lexicographic tie-break) on corpora with ties, repeats, and unicode;
    the learned table round-trips through apply."""
    from laradb_spark.pipelines.tokenizer import bpe_train

    corpora = [
        ["the cat sat on the mat", "the cat ran", "a tall cattle call"],
        ["aaa aab aba abb baa", "ababab bababa", "aa bb ab ba"],
        ["héllo wörld héllo", "naïve héllo"],
    ]
    for texts in corpora:
        want = train_bpe(texts, 10)
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = bpe_train(df, 10)
        assert got == want, (texts, got, want)
    # applying the in-engine-trained table == applying the python-trained
    texts = corpora[0]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    merges = bpe_train(df, 8)
    a = sorted(map(tuple, bpe_token_count(df, merges).collect()))
    b = sorted(map(tuple, bpe_token_count(df, train_bpe(texts, 8)).collect()))
    assert a == b


def test_bpe_train_exhausts_and_empty(spark):
    """More merges requested than pairs exist -> stops clean; an empty /
    token-less corpus trains an empty table."""
    from laradb_spark.pipelines.tokenizer import bpe_train

    df = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    got = bpe_train(df, 50)
    assert got == train_bpe(["ab ab"], 50) == [("a", "b")]
    empty = spark.createDataFrame([(1, ""), (2, None)], "doc_id long, text string")
    assert bpe_train(empty, 3) == []


def test_merge_table_roundtrip(spark, tmp_path):
    """Stored merge artifact: save → load preserves rank order exactly
    (rank column is the authority, not file row order), and applying the
    loaded table reproduces the original counts."""
    from laradb_spark.pipelines.tokenizer import bpe_load_merges, bpe_save_merges

    merges = train_bpe(["the cat sat on the mat", "a cattle call"], 10)
    p = str(tmp_path / "merges")
    bpe_save_merges(spark, merges, p)
    assert bpe_load_merges(spark, p) == merges
    df = spark.createDataFrame([(1, "the cattle sat")], "doc_id long, text string")
    a = bpe_token_count(df, merges).collect()
    b = bpe_token_count(df, bpe_load_merges(spark, p)).collect()
    assert a == b


def test_bpe_tokens_per_source_counts_and_apportionment(spark):
    """Per-source totals replay the Python sweep; token-less docs count
    toward n_docs with 0 tokens; the Hamilton core over BPE counts sums
    exactly to the budget."""
    from laradb_spark.pipelines.curation import apportion_token_counts
    from laradb_spark.pipelines.tokenizer import bpe_tokens_per_source

    merges = [("l", "o"), ("lo", "w"), ("e", "r")]
    rows = [
        (1, "lower lower", "A"),
        (2, "", "A"),          # token-less: n_docs yes, 0 tokens
        (3, "er", "B"),
        (4, "xyz lower", "B"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    per_src = bpe_tokens_per_source(df, merges)
    got = {r.source: (r.n_docs, r.n_tokens) for r in per_src.collect()}
    want = {}
    for _, txt, src in rows:
        nd, nt = want.get(src, (0, 0))
        want[src] = (
            nd + 1,
            nt
            + sum(
                len(bpe_encode_str_sweep(w, merges))
                for w in txt.split(" ")
                if w
            ),
        )
    assert got == want
    alloc = apportion_token_counts(per_src, budget=101).collect()
    assert sum(r.alloc_tokens for r in alloc) == 101


def test_bpe_fuzz_expression_matches_python(spark):
    """Seeded fuzz: one batch of adversarial words (unicode, astral,
    punctuation, the reserved US char, repeats) through a table trained
    on the same corpus — expression path, Arrow twin, and Python sweep
    must agree word for word."""
    import random

    rng = random.Random(0xBEEF)
    alphabet = "ab¢éxyz🎉._-\x1f"
    words = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12)))
        for _ in range(120)
    ]
    texts = [" ".join(words[i::6]) for i in range(6)]
    # the engine strips the reserved US char before char-splitting; the
    # pure-Python trainer must see the same stripped words
    merges = train_bpe([t.replace(BPE_SEP, "") for t in texts], 20)
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    expr = {r.doc_id: (r.n_words, r.n_bpe_tokens)
            for r in bpe_token_count(df, merges).collect()}
    arrow = {r.doc_id: (r.n_words, r.n_bpe_tokens)
             for r in bpe_token_count_arrow(df, merges).collect()}
    want = {}
    for did, txt in enumerate(texts):
        ws = [w for w in txt.split(" ") if w]
        if not ws:
            continue
        want[did] = (
            len(ws),
            sum(len(bpe_encode_str_sweep(w, merges)) for w in ws),
        )
    assert expr == arrow == want


def test_demo_merges_compress_the_corpus(spark, sf_dir):
    """On real documents the learned table must strictly compress
    vs characters and stay >= word count (merging never crosses words)."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = bpe_token_count(df, DEMO_BPE_MERGES)
    agg = out.agg(
        F.sum("n_words").alias("w"), F.sum("n_bpe_tokens").alias("t")
    ).collect()[0]
    chars = df.select(
        F.sum(F.length(F.regexp_replace("text", " ", ""))).alias("c")
    ).collect()[0].c
    assert agg.w <= agg.t < chars


# ---------------------------------------------------------------------------
# merge-table validation (round-8 ADVICE: untrained tables silently
# diverged between the sweep and the rank-priority encoder)
# ---------------------------------------------------------------------------

def test_validate_merges_rejects_untrained_tables():
    import pytest

    from laradb_spark.pipelines.tokenizer import bpe_validate_merges

    # the divergence example: sweep('abc') -> ['ab','c'] stays (rank-0
    # pair ('ab','c') needs symbol 'ab' which nothing built); priority
    # encoder would first apply ('a','b') then ('ab','c') -> ['abc'].
    bad = [("ab", "c"), ("a", "b")]
    with pytest.raises(ValueError, match="not trained-shaped"):
        bpe_validate_merges(bad)
    # every trained table passes, including multi-level products
    bpe_validate_merges(DEMO_BPE_MERGES)
    bpe_validate_merges(train_bpe(["the cat sat on the mat"] * 3, 10))
    bpe_validate_merges([])


def test_apply_and_load_paths_validate(spark, tmp_path):
    import pytest

    from laradb_spark.pipelines.tokenizer import bpe_load_merges, bpe_save_merges

    bad = [("ab", "c"), ("a", "b")]
    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    with pytest.raises(ValueError, match="not trained-shaped"):
        bpe_token_count(df, bad)
    with pytest.raises(ValueError, match="not trained-shaped"):
        bpe_token_count_arrow(df, bad)
    p = str(tmp_path / "badmerges")
    bpe_save_merges(spark, bad, p)
    with pytest.raises(ValueError, match="not trained-shaped"):
        bpe_load_merges(spark, p)


# ---------------------------------------------------------------------------
# byte-level BPE: pretokenizer, byte map, apply twins, trainer, auto route
# ---------------------------------------------------------------------------

NASTY_TEXTS = [
    "Hello, wörld's 42 tests!  \U0001F600end",
    "it's Dr. O'Neil who'll've seen 3.14159 and £5 — naïve café…",
    "tabs\tand\nnewlines\r\nmixed   runs    here",
    "'s't're've'm'll'd 'sx q'd 'Q",
    "ALL-CAPS? yes/no; «quotes» ¿señor?  nbsp  ls",
    "数字123と漢字テスト abc123def",
    "emoji run 🎉🎉🎉 then 🎉x, done.",
    "", "   ", "....", "1a2b3c",
    # multi-space runs donating INTO a contraction (ADVICE r10 high): the
    # original GPT-2 pattern yields " '" + re-scanned letters, never " 's"
    "he  's up",        # donated ' ' + bare contraction, letters stand alone
    "he  'ship out",    # contraction letters fuse into the following run
    "she   'll've gone",  # 3-run donation, 'll then 've chained
    "a\t\t't b",        # non-' ' donation: contraction survives intact
    "x  's",            # contraction at end of text
    "q  's's r",        # contraction followed by another contraction
    "n  's3 m",         # digits after the contraction letters don't fuse
    "p  'S t",          # uppercase: NOT a contraction, plain prepend
]


def _pytok_words():
    from laradb_spark.pipelines.tokenizer import byte_map_str, pretokenize_str

    import collections

    freq = collections.Counter()
    for t in NASTY_TEXTS:
        for p in pretokenize_str(t):
            freq[byte_map_str(p)] += 1
    return freq


def train_bpe_bytes_py(texts, n_merges):
    """Pure-Python byte-level trainer: pretokenize + byte-map, then the
    identical pair-count loop as train_bpe."""
    import collections

    from laradb_spark.pipelines.tokenizer import byte_map_str, pretokenize_str

    wordfreq = collections.Counter(
        byte_map_str(p) for t in texts for p in pretokenize_str(t)
    )
    vocab = {tuple(w): c for w, c in wordfreq.items()}
    merges = []
    for _ in range(n_merges):
        pairs = collections.Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        mx = max(pairs.values())
        a, b = sorted(p for p, c in pairs.items() if c == mx)[0]
        merges.append((a, b))
        new = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + c
        vocab = new
    return merges


def test_byte_alphabet_is_gpt2_shaped():
    from laradb_spark.pipelines.tokenizer import BPE_SEP, BYTE_ALPHABET

    assert len(BYTE_ALPHABET) == 256
    assert len(set(BYTE_ALPHABET)) == 256  # bijection
    assert BYTE_ALPHABET[0x20] == "Ġ"      # the famous GPT-2 space symbol
    assert BYTE_ALPHABET[0x0A] == "Ċ"      # newline
    assert BYTE_ALPHABET[ord("!")] == "!"  # printable ASCII keeps itself
    assert BYTE_ALPHABET[ord("~")] == "~"
    assert BYTE_ALPHABET[0xE9] == "é"      # latin-1 keep range
    # reserved separator / whitespace can never appear in mapped strings
    assert BPE_SEP not in BYTE_ALPHABET
    assert not any(c.isspace() for c in BYTE_ALPHABET)


def test_pretokenize_duckdb_cte_matches_scanner():
    """The DuckDB oracle fixup (``_pretok_fixed_ctes``) IS the scanner:
    per-doc token streams equal ``pretokenize_str`` ORDER-EXACTLY on the
    adversarial corpus — the third engine of the three-way parity that
    the r10 donation-into-contraction bug slipped through (the oracle
    replayed the Spark bug, so driver hashes couldn't catch it)."""
    import duckdb

    from laradb_spark.pipelines.tokenizer import pretokenize_str
    from laradb_spark.workloads.pipelines_q import _pretok_fixed_ctes

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs (doc_id BIGINT, text VARCHAR)"
    )
    con.executemany(
        "INSERT INTO docs VALUES (?, ?)", list(enumerate(NASTY_TEXTS))
    )
    sql = f"""WITH fabp AS (SELECT doc_id, text FROM docs),
{_pretok_fixed_ctes('doc_id')}
SELECT doc_id, toklist FROM pl ORDER BY doc_id"""
    got = {doc_id: toks for doc_id, toks in con.sql(sql).fetchall()}
    for did, txt in enumerate(NASTY_TEXTS):
        assert got[did] == pretokenize_str(txt), (did, txt)


def test_pretokenize_scanner_matches_spark(spark):
    """The hand-rolled Python scanner IS pretokens() (base regex + the
    trailing-space donation fixup) — parity on the adversarial corpus
    (astral, contractions, unicode digits, mixed whitespace runs,
    leading/trailing edge cases)."""
    from laradb_spark.pipelines.tokenizer import pretokenize_str, pretokens

    df = spark.createDataFrame(
        list(enumerate(NASTY_TEXTS)), "doc_id long, text string"
    )
    got = {
        r.doc_id: r.p
        for r in df.select("doc_id", pretokens(F.col("text")).alias("p")).collect()
    }
    for did, txt in enumerate(NASTY_TEXTS):
        assert got[did] == pretokenize_str(txt), (did, txt)
        assert "".join(pretokenize_str(txt)) == txt  # lossless cover


def test_pretokenize_matches_original_gpt2_regex_on_ascii():
    """GPT-2 parity oracle: on ASCII inputs the original GPT-2 pattern
    (lookahead included) runs verbatim under Python ``re`` with
    \\p{L}/\\p{N} narrowed to their ASCII subsets — an INDEPENDENT
    backtracking engine. The scanner (and by the parity test above, the
    Spark expression) must equal it exactly, including multi-space runs,
    tab/newline mixes, trailing whitespace, and contractions."""
    import re as _re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from laradb_spark.pipelines.tokenizer import pretokenize_str

    original = _re.compile(
        r"'s|'t|'re|'ve|'m|'ll|'d"
        r"| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+(?!\S)|\s+"
    )

    goldens = [
        "a   b", "a \t b", "a \tb", "ab  \n  cd", "x\n\n\ny",
        "  leading", "trailing   ", "one two", "tabs\t\t\tgo",
        "a  'quote'", "don't   stop", "num  42  end", "  ", " ", "",
        "mix \t\n f", "\n    indented line\n    again",
        # donation-into-contraction goldens (ADVICE r10 high)
        "he  's up", "he  'ship out", "she   'll've gone", "a\t\t't b",
        "x  's", "q  's's r", "n  's3 m", "it   'd've",
    ]
    # s/t/l/d/r/e/v/m spell every GPT-2 contraction — without them the
    # fuzzer can never produce a ws-run-before-contraction input, which
    # is exactly the class the r10 donation bug lived in
    alphabet = "abstldrevm9'.! \t\n\r\f"
    rand = st.text(alphabet=alphabet, max_size=40)

    @settings(max_examples=300, deadline=None)
    @given(rand)
    def check(txt):
        assert pretokenize_str(txt) == original.findall(txt), repr(txt)

    for g in goldens:
        assert pretokenize_str(g) == original.findall(g), repr(g)
    check()


def test_byte_map_expression_matches_python(spark):
    from laradb_spark.pipelines.tokenizer import _byte_mapped, byte_map_str, pretokenize_str

    toks = sorted({p for t in NASTY_TEXTS for p in pretokenize_str(t)})
    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    got = {r.tok: r.m for r in df.select("tok", _byte_mapped(F.col("tok")).alias("m")).collect()}
    for t in toks:
        assert got[t] == byte_map_str(t), repr(t)


def test_byte_expression_arrow_and_python_agree(spark):
    """Trained byte table: expression chain == Arrow rank-priority twin
    == pure-Python replay, per document, on the adversarial corpus."""
    from laradb_spark.pipelines.tokenizer import (
        bpe_byte_token_count,
        bpe_byte_token_count_arrow,
        byte_map_str,
        pretokenize_str,
    )

    merges = train_bpe_bytes_py(NASTY_TEXTS, 25)
    df = spark.createDataFrame(
        list(enumerate(NASTY_TEXTS)), "doc_id long, text string"
    )
    expr = {r.doc_id: (r.n_pretokens, r.n_bpe_tokens)
            for r in bpe_byte_token_count(df, merges).collect()}
    arrow = {r.doc_id: (r.n_pretokens, r.n_bpe_tokens)
             for r in bpe_byte_token_count_arrow(df, merges).collect()}
    want = {}
    for did, txt in enumerate(NASTY_TEXTS):
        pts = pretokenize_str(txt)
        if not pts:
            continue
        want[did] = (
            len(pts),
            sum(len(bpe_encode_str_sweep(byte_map_str(p), merges)) for p in pts),
        )
    assert expr == arrow == want
    assert 7 not in expr  # empty text ("") -> absent
    assert expr[8][0] == 1  # "   " is ONE whitespace-run pretoken


def test_bpe_train_bytes_matches_python_trainer(spark):
    from laradb_spark.pipelines.tokenizer import bpe_train_bytes

    df = spark.createDataFrame(
        list(enumerate(NASTY_TEXTS)), "doc_id long, text string"
    )
    got = bpe_train_bytes(df, 15)
    assert got == train_bpe_bytes_py(NASTY_TEXTS, 15)


def test_auto_route_gates_on_merge_count(spark):
    """The expression chain and the Arrow encoder return identical
    counts for the demo table AND for a trained-shaped table of 257
    merges — past the size at which the deleted router switched to
    the Arrow encoder."""
    from laradb_spark.pipelines.tokenizer import bpe_token_count_arrow

    df = spark.createDataFrame(
        [(1, "a" * 300 + " aa aaa"), (2, "aa a")], "doc_id long, text string"
    )
    # a synthetic TRAINED-shaped chain: ('a','a'), ('aa','a'), ('aaa','a') …
    # every product is a prefix of the previous + 'a', so validation holds
    big = [("a", "a")] + [("a" * k, "a") for k in range(2, 258)]
    assert len(big) == 257
    for merges in (DEMO_BPE_MERGES, big):
        a = sorted(map(tuple, bpe_token_count(df, merges).collect()))
        b = sorted(map(tuple, bpe_token_count_arrow(df, merges).collect()))
        assert a == b and len(a) == 2


def test_byte_auto_route_parity(spark):
    from laradb_spark.pipelines.tokenizer import (
        DEMO_BYTE_BPE_MERGES,
        bpe_byte_token_count,
        bpe_byte_token_count_arrow,
    )

    df = spark.createDataFrame(
        list(enumerate(NASTY_TEXTS)), "doc_id long, text string"
    )
    expr = sorted(map(tuple, bpe_byte_token_count(df, DEMO_BYTE_BPE_MERGES).collect()))
    arrow = sorted(map(tuple, bpe_byte_token_count_arrow(df, DEMO_BYTE_BPE_MERGES).collect()))
    assert expr == arrow and len(expr) > 0


def test_bpe_fertility_matches_python_replay(spark):
    """Per-group fertility == a pure-Python replay (pretokenize →
    byte-map → rank-priority encode → per-group sums, bytes via UTF-8
    encode), including the ratio rounding."""
    from laradb_spark.pipelines.tokenizer import (
        bpe_fertility,
        byte_map_str,
        pretokenize_str,
    )

    merges = train_bpe_bytes_py(NASTY_TEXTS, 25)
    rows = [
        (i, t, ["ascii", "unicode"][i % 2]) for i, t in enumerate(NASTY_TEXTS)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r.source: (r.n_docs, r.n_bytes, r.n_pretokens, r.n_bpe_tokens, r.bytes_per_token)
        for r in bpe_fertility(df, merges).collect()
    }
    agg: dict = {}
    for _i, t, src in rows:
        n_docs, n_bytes, n_pre, n_tok = agg.get(src, (0, 0, 0, 0))
        pts = pretokenize_str(t or "")
        agg[src] = (
            n_docs + 1,
            n_bytes + len((t or "").encode("utf-8")),
            n_pre + len(pts),
            n_tok + sum(
                len(bpe_encode_str_sweep(byte_map_str(p), merges)) for p in pts
            ),
        )
    assert set(got) == set(agg)
    for src, (n_docs, n_bytes, n_pre, n_tok) in agg.items():
        gd, gb, gp, gt, ratio = got[src]
        assert (gd, gb, gp, gt) == (n_docs, n_bytes, n_pre, n_tok), src
        assert ratio == round(n_bytes / n_tok, 6), src


def test_bpe_fertility_unicode_needs_more_tokens_per_byte(spark):
    """Sanity on the metric's point: unmerged multi-byte unicode sits at
    ~1 token per BYTE under a byte-level table (an astral emoji is 4
    tokens), while merged ASCII prose packs several bytes per token — so
    unicode-heavy text shows LOWER bytes_per_token, i.e. more compute
    per byte. That asymmetry is exactly what the report exists to
    surface."""
    from laradb_spark.pipelines.tokenizer import DEMO_BYTE_BPE_MERGES, bpe_fertility

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again", "ascii"),
            (2, "😀😀😀 café naïve — 😀 … 😀😀 ünïcödé 😀", "emoji"),
        ],
        "doc_id long, text string, source string",
    )
    got = {r.source: r.bytes_per_token for r in bpe_fertility(df, DEMO_BYTE_BPE_MERGES).collect()}
    assert got["emoji"] < got["ascii"]


def test_byte_bpe_roundtrip_is_lossless(spark):
    """decode(encode(t)) == t for EVERY string — byte-level BPE's
    defining property (no unknowns, no lossy normalization): pinned on
    the adversarial corpus plus hypothesis-generated unicode, via both
    the pure-Python pair and the Spark encode→decode pipeline."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from laradb_spark.pipelines.tokenizer import (
        bpe_byte_decode,
        bpe_byte_encode_ids,
        bpe_byte_vocab,
        bpe_decode_str,
        bpe_encode_str_sweep,
        byte_map_str,
        pretokenize_str,
    )

    merges = train_bpe_bytes_py(NASTY_TEXTS, 25)
    vocab = bpe_byte_vocab(merges)

    def encode_py(t):
        return [
            vocab[s]
            for p in pretokenize_str(t)
            for s in bpe_encode_str_sweep(byte_map_str(p), merges)
        ]

    @settings(max_examples=200, deadline=None)
    @given(st.text(max_size=60))
    def roundtrip(t):
        assert bpe_decode_str(encode_py(t), merges) == t

    roundtrip()

    # Spark pipeline round trip on the adversarial corpus
    df = spark.createDataFrame(list(enumerate(NASTY_TEXTS)), "doc_id long, text string")
    enc = bpe_byte_encode_ids(df, merges)
    got = {r.doc_id: r.text for r in bpe_byte_decode(enc, merges).collect()}
    for did, t in enumerate(NASTY_TEXTS):
        assert got[did] == t, repr(t)


# ---------------------------------------------------------------------------
# WordPiece
# ---------------------------------------------------------------------------


def test_wordpiece_greedy_goldens():
    """Greedy longest-match-first against hand-walked goldens, including
    the all-or-nothing [UNK] rule (a word failing at position 3 discards
    the pieces already matched) and the max-chars cap."""
    from laradb_spark.pipelines.tokenizer import (
        WORDPIECE_UNK,
        wordpiece_pieces_str,
    )

    v = frozenset(["un", "##aff", "##able", "##ffa", "u", "##n", "##a",
                   "##f", "##b", "##l", "##e", "hello"])
    wp = lambda w: wordpiece_pieces_str(w, v)
    assert wp("hello") == ["hello"]
    # greedy takes "un" (2) over "u" (1); then longest "##aff" over "##a"
    assert wp("unaffable") == ["un", "##aff", "##able"]
    # greedy is NOT optimal: "unffa" → "un" + "##ffa"; but "unffx" fails
    # at x and the ALREADY-MATCHED un/##ffa are discarded → one [UNK]
    assert wp("unffa") == ["un", "##ffa"]
    assert wp("unffx") == [WORDPIECE_UNK]
    assert wp("xyz") == [WORDPIECE_UNK]        # no initial match
    assert wp("") == [WORDPIECE_UNK]
    assert wp("u" * 101) == [WORDPIECE_UNK]    # max_input_chars_per_word


def test_wordpiece_encode_and_stats(spark):
    """The Arrow kernel ≡ the pure-Python twin word-for-word, and the
    stats view counts tokens/words/UNKs exactly."""
    from laradb_spark.pipelines import tokenizer as tk

    vocab = ["a", "b", "t", "##a", "##b", "ta", "##ble"]
    df = spark.createDataFrame(
        [(1, "table ab zz ba"), (2, "a a a"), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    enc = {r.doc_id: r for r in tk.wordpiece_encode(df, vocab).collect()}
    assert set(enc) == {1, 2}  # token-less docs dropped (kernel contract)
    assert enc[1].pieces == ["ta", "##ble", "a", "##b", "[UNK]", "b", "##a"]
    assert (enc[1].n_words, enc[1].n_unk_words) == (4, 1)
    assert enc[2].pieces == ["a", "a", "a"]
    want_twin = [
        p
        for w in "table ab zz ba".split()
        for p in tk.wordpiece_pieces_str(w, frozenset(vocab))
    ]
    assert enc[1].pieces == want_twin
    stats = {r.doc_id: r for r in tk.wordpiece_token_stats(df, vocab).collect()}
    assert (stats[1].n_tokens, stats[1].n_words, stats[1].n_unk_words) == (7, 4, 1)
    assert (stats[2].n_tokens, stats[2].n_words, stats[2].n_unk_words) == (3, 3, 0)


def test_unigram_viterbi_goldens():
    """Viterbi segmentation against hand arithmetic: global optimum
    beats greedy-longest, tie-breaks (fewer pieces, then lexicographic),
    UNK with the fixed cost."""
    from laradb_spark.pipelines.tokenizer import (
        UNIGRAM_UNK_COST_MILLI,
        UNIGRAM_WORD_MARK as M,
        WORDPIECE_UNK,
        unigram_pieces_str as up,
    )

    costs = {M + "ta": 8000, "ble": 9000, M + "tab": 20000, "l": 10000,
             "e": 10000, M + "t": 10000, "a": 10000, "b": 10000}
    assert up("table", costs) == ([M + "ta", "ble"], 17000)
    # greedy-longest would take ▁tab (20000); Viterbi finds ▁ta+b (18000)
    assert up("tab", costs) == ([M + "ta", "b"], 18000)
    assert up("xyz", costs) == ([WORDPIECE_UNK], UNIGRAM_UNK_COST_MILLI)
    assert up("ab", {M + "ab": 20000, M + "a": 10000, "b": 10000}) == (
        [M + "ab"], 20000)  # equal cost → fewer pieces wins
    ps, _ = up("abc", {M + "a": 10000, "bc": 15000, M + "ab": 15000, "c": 10000})
    assert ps == [M + "a", "bc"]  # equal cost AND count → lexicographic


def test_unigram_encode_and_stats(spark):
    """Arrow kernel ≡ the DP twin word-for-word; stats counters exact,
    including the summed Viterbi cost and UNK accounting."""
    from laradb_spark.pipelines import tokenizer as tk

    M = tk.UNIGRAM_WORD_MARK
    vocab = [(M + "ta", 8000), ("ble", 9000), (M + "t", 10000),
             ("a", 10000), ("b", 10000), ("le", 7000)]
    df = spark.createDataFrame(
        [(1, "table tab zz"), (2, "tat tat")], "doc_id long, text string"
    )
    enc = {r.doc_id: r for r in tk.unigram_encode(df, vocab).collect()}
    # table: ▁ta+ble(17000) vs ▁ta+b+le(25000) vs ▁t+a+ble(29000) → ▁ta+ble
    # tab: ▁ta+b = 18000; zz: UNK
    assert enc[1].pieces == [M + "ta", "ble", M + "ta", "b", tk.WORDPIECE_UNK]
    assert (enc[1].n_words, enc[1].n_unk_words) == (3, 1)
    assert enc[1].cost_milli == 17000 + 18000 + tk.UNIGRAM_UNK_COST_MILLI
    # tat: ▁ta+t? 't' bare not in vocab → ▁t+a+t? no bare t → UNK
    assert enc[2].pieces == [tk.WORDPIECE_UNK] * 2
    stats = {r.doc_id: r for r in tk.unigram_token_stats(df, vocab).collect()}
    assert (stats[1].n_tokens, stats[1].n_words, stats[1].n_unk_words) == (5, 3, 1)
    assert stats[2].cost_milli == 2 * tk.UNIGRAM_UNK_COST_MILLI


def test_wordpiece_train_likelihood_scoring(spark):
    """The WordPiece trainer picks the pair maximizing n/(cnt_a·cnt_b),
    NOT raw frequency (the property separating it from the BPE loop):
    (a,##b) appears 10× but its parts are common (score 10/100); (c,##d)
    appears 2× with exclusive parts (score 2/4) — WordPiece merges cd
    first. The learned vocab then segments the training corpus with
    zero UNKs."""
    from laradb_spark.pipelines import tokenizer as tk

    rows = [(i, "ab") for i in range(10)] + [(100 + i, "cd") for i in range(2)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vocab = tk.wordpiece_train(df, n_merges=1)
    assert "cd" in vocab and "ab" not in vocab
    assert set(vocab) == {"a", "##b", "c", "##d", "cd"}

    vocab2 = tk.wordpiece_train(df, n_merges=2)
    assert vocab2[-2:] == ["cd", "ab"]  # second round merges the other pair
    stats = {r.doc_id: r for r in tk.wordpiece_token_stats(df, vocab2).collect()}
    assert all(r.n_unk_words == 0 for r in stats.values())
    assert stats[0].n_tokens == 1 and stats[100].n_tokens == 1


def test_wordpiece_train_interior_merges(spark):
    """Interior merges keep the ## prefix (##b + ##c → ##bc) and merged
    pieces chain (a trained vocab reproduces whole training words)."""
    from laradb_spark.pipelines import tokenizer as tk

    df = spark.createDataFrame(
        [(i, "xbc xbc ybc") for i in range(5)], "doc_id long, text string"
    )
    vocab = tk.wordpiece_train(df, n_merges=3)
    assert "##bc" in vocab  # interior merge keeps the continuation prefix
    enc = tk.wordpiece_encode(
        spark.createDataFrame([(1, "xbc ybc zbc")], "doc_id long, text string"),
        vocab,
    ).collect()[0]
    # x/y words resolve through learned pieces; z was never seen → its
    # word still segments via z? no 'z' base piece → [UNK]
    assert enc.n_unk_words == 1 and enc.pieces.count("[UNK]") == 1


def test_unigram_train_em_and_roundtrip(spark):
    """The EM trainer: (1) learns the dominant whole-word pieces of a
    skewed corpus, (2) its vocab Viterbi-segments the training corpus
    with zero [UNK] (singles never pruned), (3) frequent pieces get
    LOWER costs than rare ones, and (4) the result is bit-stable across
    repartitionings (integer-quantized E-step sums)."""
    from laradb_spark.pipelines import tokenizer as tk

    rows = [(i, "scan scan table") for i in range(20)] + [
        (100 + i, "zq") for i in range(2)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vocab = tk.unigram_train(df, vocab_size=40, em_iters=2)
    costs = dict(vocab)
    # dominant words survive as multi-char pieces (seed_max_len=4 bounds
    # pieces to 4 chars: ▁sca / ▁tab etc. — at least SOME multis kept)
    assert any(len(p) > 1 for p in costs)
    # every training word segments without UNK
    stats = tk.unigram_token_stats(df, vocab).collect()
    assert all(r.n_unk_words == 0 for r in stats)
    # frequency → cost ordering: pieces of 'scan'-words cost less than
    # the rare z/q singles (floored through EM, never pruned)
    frequent = min(c for p, c in vocab if "s" in p or "c" in p)
    rare = costs.get("z", costs.get("q"))
    assert rare is not None and frequent < rare
    # determinism across partitionings
    vocab2 = tk.unigram_train(df.repartition(7), vocab_size=40, em_iters=2)
    assert vocab == vocab2


def test_vocab_artifacts_roundtrip(spark, tmp_path):
    """WordPiece and Unigram vocab artifacts: save → load preserves
    content (and the deterministic order), encoding through the loaded
    artifact is identical, and corrupted artifacts raise instead of
    silently inflating [UNK]s."""
    from laradb_spark.pipelines import tokenizer as tk

    df = spark.createDataFrame([(1, "scan scan table")], "doc_id long, text string")
    wp = tk.wordpiece_train(df, n_merges=2)
    wpath = str(tmp_path / "wp_vocab")
    tk.wordpiece_save_vocab(spark, wp, wpath)
    assert tk.wordpiece_load_vocab(spark, wpath) == wp
    a = tk.wordpiece_token_stats(df, wp).collect()
    b = tk.wordpiece_token_stats(df, tk.wordpiece_load_vocab(spark, wpath)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    ug = tk.unigram_train(df, vocab_size=30, em_iters=1)
    upath = str(tmp_path / "ug_vocab")
    tk.unigram_save_vocab(spark, ug, upath)
    assert tk.unigram_load_vocab(spark, upath) == ug

    import pytest as _pt

    tk.wordpiece_save_vocab(spark, ["a", "a"], wpath)
    with _pt.raises(ValueError, match="duplicate"):
        tk.wordpiece_load_vocab(spark, wpath)
    tk.unigram_save_vocab(spark, [("x", 0)], upath)
    with _pt.raises(ValueError, match="non-positive"):
        tk.unigram_load_vocab(spark, upath)


def test_wordpiece_greedy_properties_fuzzed():
    """Property check with an INDEPENDENT validator (not a twin copy):
    on random (vocab, word) pairs over a 3-letter alphabet, the output
    either is [UNK] (and then NO full greedy segmentation exists) or
    (a) concatenates back to the word with ## stripped, (b) uses only
    vocab pieces with correct initial/continuation shape, and (c) is
    GREEDY: at each emitted boundary no LONGER vocab piece matches."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from laradb_spark.pipelines.tokenizer import (
        WORDPIECE_UNK,
        wordpiece_pieces_str,
    )

    piece = st.text(alphabet="abc", min_size=1, max_size=3)
    vocab_s = st.sets(
        st.one_of(piece, piece.map(lambda p: "##" + p)), min_size=1, max_size=12
    )
    word_s = st.text(alphabet="abc", min_size=1, max_size=8)

    @settings(max_examples=300, deadline=None)
    @given(vocab_s, word_s)
    def run(vocab, word):
        out = wordpiece_pieces_str(word, frozenset(vocab))
        if out == [WORDPIECE_UNK]:
            # validator: greedy failure is genuine — walking greedily
            # with ANY longest-first choice must get stuck
            pos = 0
            stuck = False
            while pos < len(word):
                hit = None
                for end in range(len(word), pos, -1):
                    sub = word[pos:end]
                    if pos > 0:
                        sub = "##" + sub
                    if sub in vocab:
                        hit = end
                        break
                if hit is None:
                    stuck = True
                    break
                pos = hit
            assert stuck, (vocab, word, out)
            return
        # (a) reconstruction
        flat = "".join(p[2:] if p.startswith("##") else p for p in out)
        assert flat == word, (vocab, word, out)
        # (b) membership + shape
        pos = 0
        for i, p in enumerate(out):
            assert p in vocab
            assert p.startswith("##") == (i > 0)
            raw = p[2:] if p.startswith("##") else p
            # (c) greediness: no longer piece matches at this position
            for end in range(len(word), pos + len(raw), -1):
                sub = word[pos:end]
                if pos > 0:
                    sub = "##" + sub
                assert sub not in vocab, (vocab, word, out, pos, sub)
            pos += len(raw)

    run()


def test_unigram_viterbi_optimality_fuzzed():
    """Property check against exhaustive enumeration: on random scored
    vocabs and words, the suffix-DP's (cost, count, pieces) equals the
    minimum over ALL segmentations under the same total order — the
    exact claim the DuckDB oracle re-verifies at the driver gate, here
    fuzzed over vocab shapes the fixed oracle vocab can't reach."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from laradb_spark.pipelines.tokenizer import (
        UNIGRAM_UNK_COST_MILLI,
        UNIGRAM_WORD_MARK,
        WORDPIECE_UNK,
        unigram_pieces_str,
    )

    piece = st.text(alphabet="ab" + UNIGRAM_WORD_MARK, min_size=1, max_size=3)
    vocab_s = st.dictionaries(
        piece, st.integers(min_value=1, max_value=50_000), min_size=1, max_size=10
    )
    word_s = st.text(alphabet="ab", min_size=1, max_size=7)

    def all_segs(w, costs):
        if not w:
            yield (0, 0, ())
            return
        for j in range(1, len(w) + 1):
            c = costs.get(w[:j])
            if c is None:
                continue
            for sc, sk, st_ in all_segs(w[j:], costs):
                yield (c + sc, 1 + sk, (w[:j],) + st_)

    @settings(max_examples=300, deadline=None)
    @given(vocab_s, word_s)
    def run(costs, word):
        got = unigram_pieces_str(word, costs)
        best = min(all_segs(UNIGRAM_WORD_MARK + word, costs), default=None)
        if best is None:
            assert got == ([WORDPIECE_UNK], UNIGRAM_UNK_COST_MILLI)
        else:
            assert got == (list(best[2]), best[0]), (costs, word, got, best)

    run()
