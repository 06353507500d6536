"""BPE-merge tokenizer application against a broadcast merge table.

Token budgets (``curation.token_apportionment``, ``pack_sequences``) and
mixture planning count tokens; until now they inherited the
``text.bpe_ish_token_count`` approximation. This module applies a REAL
byte-pair-encoding merge table (Sennrich et al. 2016 shape, no
end-of-word marker): start from the word's codepoints, then apply each
merge ``(a, b) -> ab`` in rank order, replacing all non-overlapping
occurrences left to right. Because a trained pair can only involve
symbols that existed before it during training, the single in-rank-order
sweep is exactly equivalent to the repeatedly-merge-the-lowest-rank-pair
formulation (the GPT-2 encoder loop) — ``tests/test_tokenizer.py`` pins
that equivalence property.

Two engine paths, bit-identical FOR TRAINED MERGE TABLES (the
``bpe_validate_merges`` precondition: every pair's symbols are single
codepoints or products of earlier merges — exactly what the trainer
emits; a hand-edited table violating it would make the sweep and the
rank-priority encoder diverge, so every entry point validates and
raises instead):

* **expression path** (``bpe_token_count`` / ``bpe_encode``): each word's
  symbol sequence is a STRING ``\\x1f a \\x1f\\x1f b \\x1f ...`` — every
  symbol wrapped in a pair of US (unit-separator, 0x1f) chars, so a merge
  is one literal ``replace`` and symbol boundaries can never be crossed
  (no lookarounds needed, which keeps the very same chain replayable in
  DuckDB's RE2 dialect for the oracle). The merge chain is baked into the
  plan as literals: right for demo/oracle-sized tables (tens to hundreds
  of merges); the count path explodes words first so the whole chain runs
  under whole-stage codegen (the `_hashed_feature_stream` discipline —
  a `transform` lambda would run interpreted).
* **Arrow path** (``bpe_token_count_arrow``): real vocabularies carry
  ~50k merges — a 50k-deep literal expression chain is not a plan, it's a
  stack overflow. This twin broadcasts the rank dict and runs the
  rank-priority encoder per word with an LRU cache (word frequency is
  Zipfian: the cache turns corpus-scale encoding into vocab-scale work).
  Map-only; the shuffle is the same docs-sized count aggregate.

The US char 0x1f is RESERVED: both paths strip it from words on entry
(and the oracle mirrors), so a hostile byte can't forge a symbol
boundary.

Reference parity note: the reference engine has no sub-word tokenizer
(its tokenization surface is the WordCount ExtFun split,
`WordCountQuery.kt:33`); this extends the LLM-pipeline surface SURVEY.md
§2 prescribes beyond it.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import bind_once, fan_out, literal_frame
from .text import tokens

BPE_SEP = "\x1f"

# Demo merge table: 40 merges trained offline with the classic BPE
# procedure (most-frequent adjacent pair, ties to the lexicographically
# smallest pair, no end-of-word marker) on the synthetic sf0.01
# documents corpus — deterministic and re-derivable from public test
# data; real deployments pass their own exported merge list instead.
DEMO_BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("cu", "st"), ("cust", "o"),
    ("custo", "mer"), ("f", "i"), ("fi", "l"), ("fil", "t"),
    ("filt", "er"), ("a", "l"), ("al", "l"), ("m", "all"),
    ("s", "mall"), ("g", "e"), ("l", "ow"),
]


# Demo BYTE-LEVEL merge table: 48 merges trained with bpe_train_bytes on
# the synthetic sf0.01 documents corpus decorated with the deterministic
# punctuation/unicode suffixes the registry's byte-BPE queries fabricate
# (workloads/pipelines_q.py `_fab_punct_*`) — re-derivable from public test
# data in ~30s; 'Ġ' is the byte-0x20 (space) mapped symbol, exactly as in
# published GPT-2-family vocabularies. Real deployments pass their own
# exported byte-level merge list instead.
DEMO_BYTE_BPE_MERGES: list[tuple[str, str]] = [
    ("Ġ", "s"), ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"),
    ("Ġ", "c"), ("t", "a"), ("a", "s"), ("m", "er"), ("l", "u"),
    ("Ġ", "b"), ("Ġ", "v"), ("a", "r"), ("p", "ar"), ("Ġ", "f"),
    ("Ġ", "a"), ("as", "h"), ("Ġ", "d"), ("q", "u"), ("j", "o"),
    ("jo", "in"), ("h", "ash"), ("Ġ", "join"), ("s", "t"), ("r", "ow"),
    ("a", "t"), ("at", "c"), ("atc", "h"), ("a", "n"), ("c", "an"),
    ("lu", "m"), ("lum", "n"), ("o", "lumn"), ("o", "mer"),
    ("st", "omer"), ("u", "stomer"), ("i", "l"), ("il", "t"),
    ("ilt", "er"), ("Ġ", "hash"), ("a", "l"), ("al", "l"), ("m", "all"),
    ("Ġ", "row"), ("Ġs", "can"), ("g", "e"), ("l", "ow"), ("mer", "ge"),
]


def bpe_validate_merges(
    merges: list[tuple[str, str]],
) -> list[tuple[str, str]]:
    """Reject merge tables that are not TRAINED-shaped: each pair's two
    symbols must be single codepoints or the product of an EARLIER merge
    (``a+b`` of a lower rank). The classic BPE trainer can only ever emit
    such tables, and the property is what makes the in-rank-order sweep
    (expression path) and the rank-priority encoder (Arrow path)
    provably equivalent — e.g. ``[('ab','c'), ('a','b')]`` silently
    diverges between them on ``'abc'``, so it is an error here, not a
    table. Returns ``merges`` unchanged so call sites can validate
    inline. O(len(merges)); every public apply/load path calls this."""
    known: set[str] = set()
    for i, (a, b) in enumerate(merges):
        for s in (a, b):
            if len(s) != 1 and s not in known:
                raise ValueError(
                    f"merge table is not trained-shaped: merge {i} "
                    f"({a!r}, {b!r}) uses symbol {s!r} which is neither a "
                    "single codepoint nor the product of an earlier merge"
                )
        known.add(a + b)
    return merges


def _wrap(a: str) -> str:
    return f"{BPE_SEP}{a}{BPE_SEP}"


def _word_symbols(word: Column, merges: list[tuple[str, str]]) -> Column:
    """Wrapped symbol string for one word: strip the reserved US char,
    wrap every codepoint, then apply the merge chain in rank order."""
    sym = F.regexp_replace(
        F.regexp_replace(word, BPE_SEP, ""), "(?s)(.)", f"{BPE_SEP}$1{BPE_SEP}"
    )
    for a, b in merges:
        sym = F.replace(sym, F.lit(_wrap(a) + _wrap(b)), F.lit(_wrap(a + b)))
    return sym


#: fan_out sizing for the expression-path merge-chain COUNT stages: each
#: input byte runs the full len(merges) sequential literal-replace chain
#: (a demo table is already ~40 passes over every pretoken), so the
#: honest per-byte cost is ~an order of magnitude above the tokenize+md5
#: streams CPU_MODERATE models — size tasks accordingly (guide §2: match
#: partitioning to the WORK). Measured r15: the bpe_byte_token_count
#: stage under token_shard_stats ran 7-wide on 32 cores at the default.
#: At corpus scale the scan has thousands of splits and fan_out is a
#: no-op either way.
BPE_COUNT_BYTES_PER_TASK = 8 << 10


def _symbol_count(sym: Column) -> Column:
    """Symbols in a wrapped string: split on the \\x1f\\x1f boundary; ''
    (a word that was nothing but reserved chars) has zero symbols."""
    return (
        F.when(sym == F.lit(""), F.lit(0))
        .otherwise(F.size(F.split(sym, BPE_SEP + BPE_SEP)))
        .cast("long")
    )


def bpe_token_count(
    df: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    text: str = "text",
) -> DataFrame:
    """Per-document BPE token count under a merge table:
    ``(doc_id, n_words, n_bpe_tokens)``; docs with no words are absent
    (like ``dsir_importance`` — the statistic is undefined, not zero).

    Scale shape: explode words (map-only — the merge chain is a plain
    projection under whole-stage codegen, NOT an interpreted transform
    lambda), then one docs-sized count aggregate with map-side combine.
    The corpus text never shuffles."""
    merges = DEMO_BPE_MERGES if merges is None else bpe_validate_merges(merges)
    w = fan_out(df, BPE_COUNT_BYTES_PER_TASK).select(
        "doc_id", F.explode(tokens(F.col(text))).alias("_w")
    )
    cnt = _symbol_count(_word_symbols(F.col("_w"), merges))
    return (
        w.select("doc_id", cnt.alias("_c"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_c").alias("n_bpe_tokens"),
        )
    )


def bpe_tokens_per_source(
    df: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    source_col: str = "source",
    text: str = "text",
) -> DataFrame:
    """Per-source BPE token totals ``(source, n_docs, n_tokens)`` — the
    frame ``curation.apportion_token_counts`` apportions a budget over,
    replacing the whitespace approximation with real merge-table counts
    in mixture planning. ``n_docs`` counts EVERY doc of the source
    (token-less ones hold 0 tokens but exist); the counts come off the
    same codegen'd exploded-word chain as ``bpe_token_count``."""
    merges = DEMO_BPE_MERGES if merges is None else bpe_validate_merges(merges)
    n_docs = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_docs"))
    w = fan_out(df).select(
        F.col(source_col), F.explode(tokens(F.col(text))).alias("_w")
    )
    n_toks = (
        w.select(source_col, _symbol_count(_word_symbols(F.col("_w"), merges)).alias("_c"))
        .groupBy(source_col)
        .agg(F.sum("_c").alias("n_tokens"))
    )
    return n_docs.join(n_toks, on=source_col, how="left").select(
        source_col,
        "n_docs",
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
    )


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    text: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Per-document BPE token ARRAY (order-preserving): the words stay
    inside one `transform` lambda so token order needs no re-sort. The
    lambda runs interpreted — use ``bpe_token_count`` when only the
    statistic is needed (codegen path) and the Arrow twin for real
    vocabularies."""
    merges = DEMO_BPE_MERGES if merges is None else bpe_validate_merges(merges)
    toks = F.flatten(
        F.transform(
            tokens(F.col(text)),
            lambda w: F.filter(
                F.transform(
                    F.split(_word_symbols(w, merges), BPE_SEP + BPE_SEP),
                    lambda p: F.replace(p, F.lit(BPE_SEP), F.lit("")),
                ),
                lambda s: s != F.lit(""),
            ),
        )
    )
    return df.select("doc_id", toks.alias(out_col))


#: Default merge-batch width for the trainers: each driver round learns up
#: to this many PROVABLY order-independent merges from one pair-count job.
#: A 50k-merge production vocab needs one Spark job per merge without
#: batching — infeasible wall-clock; with batching the round count follows
#: the corpus' count structure (Zipf-distinct counts → wide batches).
TRAIN_MERGE_BATCH = 256

#: Distinct-word ceiling for the driver-local trainer route. The merge
#: loop's state is the DISTINCT-WORD frame — Zipf-bounded regardless of
#: corpus bytes (a 100 TB crawl has a few-million-word vocabulary), i.e.
#: the same driver-side size class as the centroid/codebook/vocab
#: collects everywhere else in this package. Below the ceiling the
#: trainers collect it and run the exact in-memory incremental loop
#: (the public HuggingFace-tokenizers / SentencePiece architecture:
#: distribute the corpus→word-count aggregate, train the merge loop
#: locally); above it they fall back to the distributed batched loop.
#: ~2M words × ~100 B ≈ 200 MB driver — comfortably inside the 8 GB
#: driver this repo configures.
TRAIN_DRIVER_VOCAB_MAX = 2_000_000


def bpe_train(
    df: DataFrame,
    n_merges: int,
    text: str = "text",
    batch: int = 0,
    driver_vocab_max: int = TRAIN_DRIVER_VOCAB_MAX,
) -> list[tuple[str, str]]:
    """Distributed BPE TRAINING (the classic Sennrich procedure, no
    end-of-word marker): learn ``n_merges`` merges from the corpus —
    most-frequent adjacent symbol pair per round, ties broken to the
    lexicographically smallest pair, all deterministic.

    Scale shape (the pagerank-style driver loop): the corpus tokenizes
    ONCE into a persisted ``(word, count)`` VOCAB frame — distinct words,
    not occurrences; Zipf makes this vocabulary-sized however big the
    corpus is. Each round is then two small jobs over the vocab frame:
    one pair-count aggregate (explode adjacent pairs weighted by word
    count, map-side combine) and one deterministic top-(batch+1)
    collect, from which :func:`_select_merge_batch` proves up to
    ``batch`` merges order-independent and applies them in ONE map-only
    rewrite before the new frame persists (old one unpersists — the
    Lloyd-loop discipline). Merge k+1's counts depend on merge k's
    rewrite, so BPE is inherently sequential — the batching extracts
    exactly the prefix where that dependency provably cannot bite,
    emitting the IDENTICAL merge table in ~n_merges/batch rounds on
    Zipf-distinct counts instead of one Spark job per merge.

    Rewrite semantics match ``_merge_once`` exactly (left-to-right
    non-overlapping), so the learned table replays bit-for-bit through
    every apply path; the pure-Python test trainer is the oracle."""
    vocab = (
        fan_out(df)
        .select(F.explode(tokens(F.col(text))).alias("_w"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            # codepoint-safe char split: the proven (?s)(.) trick from the
            # apply path (a lookaround split can land inside a surrogate
            # pair); empties filtered so a reserved-char-only word is []
            F.filter(
                F.split(
                    F.regexp_replace(
                        F.regexp_replace(F.col("_w"), BPE_SEP, ""),
                        "(?s)(.)",
                        "$1" + BPE_SEP,
                    ),
                    BPE_SEP,
                ),
                lambda s: s != F.lit(""),
            ).alias("syms"),
            "c",
        )
    )
    return _bpe_train_loop(vocab, n_merges, batch, driver_vocab_max)


def _bpe_train_loop(
    vocab0: DataFrame,
    n_merges: int,
    batch: int = 0,
    driver_vocab_max: int = TRAIN_DRIVER_VOCAB_MAX,
) -> list[tuple[str, str]]:
    """The shared merge-learning loop over a ``(syms array<string>, c)``
    vocab frame — codepoint-level (:func:`bpe_train`) and byte-level
    (:func:`bpe_train_bytes`) training differ only in how the vocab is
    built. Three routes, all emitting the IDENTICAL merge table (pinned
    + property-tested):

    - ``≤ driver_vocab_max`` distinct words (the production default —
      vocabularies are Zipf-bounded): collect the frame and run the
      exact in-memory incremental loop (:func:`_bpe_train_inmemory`),
      the HuggingFace/SentencePiece architecture — the corpus-sized
      work (tokenize + word count) is the one distributed aggregate;
      the merge loop itself is vocabulary-local. 50k merges take
      seconds, not 50k Spark jobs.
    - larger: the distributed loop, learning up to ``batch`` provably
      order-independent merges per round (:func:`_select_merge_batch`;
      0 means :data:`TRAIN_MERGE_BATCH`). Exact but fill-limited:
      consecutive top pairs share hot symbols on Zipf corpora, so
      expect a few merges per round — the no-approximation spill path.
      For a PRODUCTION >2M-distinct-word run use
      :func:`bpe_train_sampled` instead: top-K-by-mass vocabulary
      sampling with a pinned fertility-drift certificate against the
      full corpus (VERDICT r12 #4). Words reduced to a single symbol
      can never pair again and are dropped from the loop frame as it
      goes.
    - ``batch=1``: the legacy one-merge-per-round loop (kept as the
      equivalence oracle for the other two)."""
    from ..util import persist_once

    if n_merges < 0:
        raise ValueError("n_merges must be >= 0")
    batch = batch or TRAIN_MERGE_BATCH
    if batch < 1:
        raise ValueError("batch must be >= 1")
    vocab = persist_once(vocab0.filter(F.size("syms") >= 2))
    if driver_vocab_max and vocab.count() <= driver_vocab_max:
        rows = vocab.collect()
        vocab.unpersist()
        return _bpe_train_inmemory(
            [(r["syms"], r["c"]) for r in rows], n_merges
        )
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        k = min(batch, n_merges - len(merges))
        pairs = (
            vocab.select(
                F.explode(
                    F.zip_with(
                        F.slice(F.col("syms"), 1, F.greatest(F.size("syms") - 1, F.lit(0))),
                        F.slice(
                            F.col("syms"),
                            2,
                            F.greatest(F.size("syms") - 1, F.lit(0)),
                        ),
                        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                    )
                ).alias("p"),
                "c",
            )
            .groupBy("p")
            .agg(F.sum("c").alias("n"))
        )
        rows = (
            pairs.orderBy(F.desc("n"), F.asc("p.a"), F.asc("p.b"))
            .limit(k + 1)
            .collect()
        )
        sel = _select_merge_batch(
            [(r["p"]["a"], r["p"]["b"], r["n"]) for r in rows], k
        )
        if not sel:
            break
        merges.extend(sel)
        steps = [(a, b, a + b) for a, b in sel]
        old = vocab
        if len(steps) == 1:
            # the legacy expression fold; exhausted words ride along until
            # the next multi-merge round drops them — a chained size filter
            # here would defeat cache substitution and grow the plan
            # exponentially (see _batch_rewrite_arrow)
            rewritten = old.select(_pair_rewrite_fold(*steps[0]).alias("syms"), "c")
        else:
            rewritten = _batch_rewrite_arrow(old, steps, drop_exhausted=True)
        vocab = persist_once(rewritten)
        old.unpersist()
    vocab.unpersist()
    return merges


def _pair_rewrite_fold(a: str, b: str, merged: str) -> Column:
    """Left-to-right non-overlapping (a, b) → merged rewrite of the
    ``syms`` column as an aggregate fold carrying (out_array, skip_next)
    — ONE definition shared by the BPE trainer (merged = a + b) and the
    WordPiece trainer (merged strips b's ``##``)."""
    merged_lit = F.lit(merged)
    return F.aggregate(
        F.zip_with(
            F.col("syms"),
            F.concat(F.slice(F.col("syms"), 2, F.size("syms")), F.array(F.lit(None).cast("string"))),
            lambda x, y: F.struct(x.alias("x"), y.alias("y")),
        ),
        F.struct(
            F.expr("CAST(array() AS array<string>)").alias("out"),
            F.lit(False).alias("skip"),
        ),
        lambda acc, s: F.when(acc["skip"], F.struct(acc["out"].alias("out"), F.lit(False).alias("skip")))
        .when(
            (s["x"] == F.lit(a)) & (s["y"].eqNullSafe(F.lit(b))),
            F.struct(
                F.concat(acc["out"], F.array(merged_lit)).alias("out"),
                F.lit(True).alias("skip"),
            ),
        )
        .otherwise(
            F.struct(
                F.concat(acc["out"], F.array(s["x"])).alias("out"),
                F.lit(False).alias("skip"),
            )
        ),
        lambda acc: acc["out"],
    )


def _bpe_train_inmemory(
    words: "list[tuple[list[str], int]]", n_merges: int
) -> list[tuple[str, str]]:
    """EXACT in-memory incremental BPE merge loop over the collected
    distinct-word frame — bit-identical to the sequential distributed
    loop (same (count desc, pair lex asc) argmax, same left-to-right
    rewrite), property-tested against the naive recount trainer.

    Incremental state: pair counts, a pair→word-ids adjacency index, and
    a lazy max-heap keyed ``(-count, a, b)``. Every count INCREASE pushes
    a fresh entry (increases happen on pair creation, and in the corner
    where a merge's concat collides with an existing symbol), so the
    heap always holds a current entry for every up-ranked pair; a popped
    entry is then either current (argmax found — heap order equals the
    sequential (count desc, lex asc) tie-break) or stale (count shrank;
    re-push at the current count). Per merge the work is proportional to
    the words actually containing the pair — the classic trainer loop,
    O(occurrences touched), not O(vocab·merges)."""
    import collections
    import heapq

    words = [(list(syms), int(c)) for syms, c in words]
    pair_counts: collections.Counter = collections.Counter()
    where: dict = collections.defaultdict(set)
    for wi, (syms, c) in enumerate(words):
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] += c
            where[p].add(wi)
    heap = [(-n, p[0], p[1]) for p, n in pair_counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges and heap:
        neg, a, b = heapq.heappop(heap)
        cur = pair_counts.get((a, b), 0)
        if cur <= 0:
            continue
        if -neg != cur:  # stale: count shrank since push; re-rank
            heapq.heappush(heap, (-cur, a, b))
            continue
        merges.append((a, b))
        merged = a + b
        for wi in list(where[(a, b)]):
            syms, c = words[wi]
            new = _merge_once_to(syms, a, b, merged)
            if len(new) == len(syms):  # adjacency gone stale in the index
                continue
            delta: collections.Counter = collections.Counter()
            for i in range(len(syms) - 1):
                delta[(syms[i], syms[i + 1])] -= c
            for i in range(len(new) - 1):
                delta[(new[i], new[i + 1])] += c
            for p, d in delta.items():
                if d == 0:
                    continue
                had = pair_counts.get(p, 0)
                now = had + d
                if now > 0:
                    pair_counts[p] = now
                    if d > 0:
                        where[p].add(wi)
                        heapq.heappush(heap, (-now, p[0], p[1]))
                    # decreases re-rank lazily at pop time
                else:
                    pair_counts.pop(p, None)
                    where.pop(p, None)
            # membership upkeep for pairs that persist in other words but
            # left THIS word entirely
            old_pairs = {(syms[i], syms[i + 1]) for i in range(len(syms) - 1)}
            new_pairs = {(new[i], new[i + 1]) for i in range(len(new) - 1)}
            for p in old_pairs - new_pairs:
                s = where.get(p)
                if s is not None:
                    s.discard(wi)
            words[wi] = (new, c)
    return merges


def _select_merge_batch(
    rows: "list[tuple[str, str, int]]", batch: int
) -> list[tuple[str, str]]:
    """EXACT batched-merge selection for frequency-scored BPE: from the
    globally-ordered candidate pairs (``(count desc, a asc, b asc)`` —
    the sequential trainer's order), pick a batch the sequential trainer
    would provably have picked one-by-one, so the batched trainer emits
    the IDENTICAL merge table.

    ``rows`` must be a RANK-CONTIGUOUS head of the full pair ordering
    (``limit(batch+1)`` of the sorted aggregate). The walk keeps a
    prefix such that members are pairwise symbol-disjoint and no member
    symbol equals an earlier member's concatenation, CUTTING (never
    skipping) at the first violation:

    - A pair disjoint from every earlier member keeps its exact count
      through their application (rewrites only touch the merged pair's
      symbols; bans on concat collisions keep new symbols from matching
      member symbols), so prefix order + the sequential lex tie-break
      carry over unchanged.
    - Pairs OVERLAPPING a member can only lose occurrences, and by
      prefix contiguity every such pair ranks at/after the cut, so its
      count stays ≤ the cut count.
    - NEW pairs created by a member's application (x·a→x·ab etc.) are
      count-dominated by an overlapping old pair ((x,a) here), hence
      also ≤ the cut count — but their LEX position is arbitrary, so a
      tie with a member could steal the sequential argmax ("acz"/"bd":
      merging (a,c) creates ("ac","z") which lex-precedes ("b","d") at
      equal count). The final trim therefore keeps only members whose
      count STRICTLY exceeds the cut count; when ties reach the top the
      batch degenerates to the always-exact single global argmax.
    - EXCEPTION to the domination argument: a SELF-pair (u, u). Chains
      "u u u" leave a residual u adjacent to the merged uu, so its
      application creates pairs ((uu,u), (u,uu), (uu,uu)) whose only
      donor is the self-pair ITSELF — counts up to the member's own, not
      ≤ the cut (hypothesis-found: "aa cbcbcb cbcbcb"). A self-pair
      therefore always CLOSES the batch."""
    used: set[str] = set()
    concats: set[str] = set()
    kept: list[tuple[str, str, int]] = []
    cut_n = None
    for idx, (a, b, n) in enumerate(rows):
        if (
            len(kept) == batch
            or a in used
            or b in used
            or a in concats
            or b in concats
        ):
            cut_n = n
            break
        kept.append((a, b, n))
        used.update((a, b))
        concats.add(a + b)
        if a == b:
            cut_n = rows[idx + 1][2] if idx + 1 < len(rows) else 0
            break
    if cut_n is None:
        # the candidate list ran out before the window filled: rows is the
        # COMPLETE pair set (limit(batch+1) returned fewer), so nothing
        # outside the batch exists to tie with — new pairs then have no
        # overlapping donor either (any adjacency is a counted pair).
        cut_n = 0
    out = [(a, b) for a, b, n in kept if n > cut_n]
    if not out and rows:
        out = [(rows[0][0], rows[0][1])]
    return out


def _select_wordpiece_batch(
    rows: "list[tuple[str, str, int, int, int, int]]",
    batch: int,
    scale: int = 10**12,
) -> list[tuple[str, str]]:
    """EXACT batched-merge selection for likelihood-scored WordPiece —
    the :func:`_select_merge_batch` walk with one extra hazard: merging
    (a, b) SHRINKS the unit counts of a and b, so an overlapping pair's
    score ``n·scale/(cnt_a·cnt_b)`` can RISE past a later member's.
    Each accepted member therefore contributes a conservative ceiling on
    every score its application can create or inflate, and the walk cuts
    when a candidate's score no longer strictly exceeds that ceiling:

    - surviving pairs on a member unit u: score' ≤ scale/cnt'(u) (pair
      count ≤ unit count), with cnt'(u) ≥ cnt(u) − n (one occurrence
      consumed per merge; 2n when a == b);
    - pairs on the NEW merged unit: score' ≤ scale/m where m = merged
      occurrences ≥ ⌈n/2⌉ (adjacent occurrences only overlap when
      a == b).

    Scores of pairs disjoint from all members are exactly unchanged, so
    the prefix-contiguity + lex-tie argument of the BPE selector covers
    them without a trim. ``rows`` = ``(a, b, n, cnt_a, cnt_b, score)``
    in ``(score desc, a asc, b asc)`` order, rank-contiguous."""
    used: set[str] = set()
    concats: set[str] = set()
    out: list[tuple[str, str]] = []
    sbound = -1
    for a, b, n, ca, cb, score in rows:
        if (
            len(out) == batch
            or a in used
            or b in used
            or a in concats
            or b in concats
            or (out and score <= sbound)
        ):
            break
        out.append((a, b))
        merged = a + (b[2:] if b.startswith("##") else b)
        used.update((a, b))
        concats.add(merged)
        if a == b:
            residuals = (ca - 2 * n,)
            m_lo = (n + 1) // 2
        else:
            residuals = (ca - n, cb - n)
            m_lo = n
        for r in residuals:
            sbound = max(sbound, scale // max(1, r))
        sbound = max(sbound, scale // max(1, m_lo))
    return out


def _batch_rewrite_arrow(
    vocab: DataFrame,
    steps: "list[tuple[str, str, str]]",
    drop_exhausted: bool = False,
) -> DataFrame:
    """Apply a whole merge batch to the ``(syms, c)`` vocab frame in ONE
    Arrow map-only job — the multi-merge twin of chaining
    :func:`_pair_rewrite_fold` (same left-to-right non-overlapping
    semantics per step via :func:`_merge_once_to`, applied in batch
    order; route-parity pinned in tests). A depth-``batch`` expression
    fold would stress Catalyst/codegen for nothing: the vocab frame is
    distinct-word-sized (Zipf-bounded), so the per-word Python loop is
    trainer-side bounded work, not a corpus-path UDF.

    ``drop_exhausted`` drops words reduced to a single symbol (they can
    never pair again — BPE only; WordPiece needs them for unit counts).
    It MUST happen inside this job, not as a chained ``filter(size(syms)
    >= 2)``: a per-round filter node on top of the fold defeats the
    cached-plan substitution and the per-round plans grow exponentially
    until the JVM heap dies (measured: 0.6s → 21s → OOM by round 8)."""

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            keep_syms, keep_idx = [], []
            for i, syms in enumerate(pdf["syms"]):
                s = list(syms)
                for a, b, m in steps:
                    if len(s) < 2:
                        break
                    s = _merge_once_to(s, a, b, m)
                if drop_exhausted and len(s) < 2:
                    continue
                keep_syms.append(s)
                keep_idx.append(i)
            # build the output frame explicitly (object Series of python
            # lists + RangeIndex): assigning list-of-lists into an
            # iloc-subset frame can land on a numpy path Arrow refuses
            # ("NumPyConverter doesn't implement list<string>")
            out = pd.DataFrame(
                {
                    "syms": pd.Series(keep_syms, dtype=object),
                    "c": pdf["c"].to_numpy()[keep_idx],
                }
            )
            yield out

    return vocab.mapInPandas(fn, "syms array<string>, c bigint")


def bpe_train_sampled(
    df: DataFrame,
    n_merges: int,
    text: str = "text",
    sample_vocab: int = TRAIN_DRIVER_VOCAB_MAX,
    max_drift_ppm: "int | None" = None,
) -> "tuple[list[tuple[str, str]], dict]":
    """Sample-then-train: the PRODUCTION recipe for corpora whose
    DISTINCT-WORD count exceeds :data:`TRAIN_DRIVER_VOCAB_MAX` (VERDICT
    r12 #4). The exact distributed batched loop stays available as the
    no-approximation spill path, but its fill rate on Zipf corpora is
    ~1.5 merges/round (DEVNOTES #39 — consecutive top pairs share hot
    symbols, so the order-independence prefix cuts early), making a
    genuinely >2M-distinct-word training run thousands of rounds. This is
    the recipe real tokenizer trainers use instead (SentencePiece's
    ``input_sentence_size``/``shuffle_input_sentence`` sampling, Kudo &
    Richardson 2018 §4.2; GPT-2 trained on a WebText sample): train the
    merge table on a CAPPED vocabulary and certify it against the full
    corpus.

    Deterministic sampling, not row sampling: the top ``sample_vocab``
    distinct words by ``(count desc, word asc)`` — under a Zipf
    distribution that prefix carries nearly all occurrence mass, and a
    pair unseen in it cannot out-count pairs inside it by more than the
    tail mass. One distributed sort-limit (Spark executes order-by-limit
    as per-partition top-K + single merge, never a full sort) feeds the
    exact in-memory incremental trainer.

    The CERTIFICATE (returned; optionally enforced): occurrence-weighted
    fertility — tokens emitted per word occurrence, the standard
    tokenizer-quality statistic — of the learned table measured on the
    training sample vs on the FULL distinct-word frame, both through the
    identical rank-priority encoder (:func:`bpe_encode_str`), quantized
    to ppm with floor division (the package's cross-engine discipline).
    ``drift_ppm`` = |fert_full − fert_sample| · 10⁶ div fert_sample:
    small drift certifies the unsampled tail tokenizes like the sample
    did, i.e. the sample was representative. Keys:
    ``{n_words_full, n_words_sampled, mass_covered_ppm, fert_sample_ppm,
    fert_full_ppm, drift_ppm}``. With ``max_drift_ppm`` set, a breach
    raises ``ValueError`` carrying the certificate — the train job fails
    loudly instead of shipping an uncertified vocab.

    Exactness pin (tested): with ``sample_vocab`` ≥ the true distinct
    count the sample IS the vocabulary, the merges equal
    :func:`bpe_train`'s bit-for-bit, and ``drift_ppm == 0``."""
    vocab = (
        fan_out(df)
        .select(F.explode(tokens(F.col(text))).alias("_w"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return _bpe_train_sampled_over(
        vocab, _strip_sep, n_merges, sample_vocab, max_drift_ppm,
        "bpe_train_sampled",
    )


def bpe_train_bytes_sampled(
    df: DataFrame,
    n_merges: int,
    text: str = "text",
    sample_vocab: int = TRAIN_DRIVER_VOCAB_MAX,
    max_drift_ppm: "int | None" = None,
) -> "tuple[list[tuple[str, str]], dict]":
    """Byte-level twin of :func:`bpe_train_sampled` — the sample-then-
    train recipe over the GPT-2-style pretoken vocabulary (the route real
    50k-merge vocabs take): top-K distinct pretokens by mass, byte-mapped
    and trained in-memory, certified by occurrence-weighted fertility
    (tokens per pretoken occurrence) on the sample vs the FULL pretoken
    frame through the same rank-priority encoder the ``bpe_byte_*`` apply
    paths use. Same certificate keys / ``max_drift_ppm`` gate / exactness
    pin as the word-level recipe."""
    vocab = (
        fan_out(df)
        .select(F.explode(pretokens(F.col(text))).alias("_w"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return _bpe_train_sampled_over(
        vocab, byte_map_str, n_merges, sample_vocab, max_drift_ppm,
        "bpe_train_bytes_sampled",
    )


def _strip_sep(w: str) -> str:
    """Word → symbol string for codepoint-level BPE (reserved separator
    removed; its chars ARE the symbols). Module-level so the fertility
    Arrow job can pickle it."""
    return w.replace(BPE_SEP, "")


def _bpe_train_sampled_over(
    vocab0: DataFrame,
    prep,
    n_merges: int,
    sample_vocab: int,
    max_drift_ppm: "int | None",
    name: str,
) -> "tuple[list[tuple[str, str]], dict]":
    """Shared sample-then-train body over a distinct ``(_w, c)`` vocab
    frame: ``prep(word) -> mapped string`` whose characters are the merge
    symbols (identity-minus-separator for codepoint BPE,
    :func:`byte_map_str` for byte-level)."""
    import pandas as pd

    from ..util import persist_once

    if n_merges < 0:
        raise ValueError("n_merges must be >= 0")
    if sample_vocab < 1:
        raise ValueError("sample_vocab must be >= 1")
    vocab = persist_once(vocab0)
    sample = (
        vocab.orderBy(F.desc("c"), F.asc("_w")).limit(sample_vocab).collect()
    )
    if not sample:
        vocab.unpersist()
        raise ValueError(f"{name}: empty corpus")
    sample_words = [(list(prep(r["_w"])), int(r["c"])) for r in sample]
    merges = _bpe_train_inmemory(
        [(s, c) for s, c in sample_words if len(s) >= 2], n_merges
    )
    ranks = bpe_ranks(merges)

    def _fert(word_count_pairs):
        tot_t = tot_c = 0
        for w, c in word_count_pairs:
            tot_t += len(bpe_encode_str(prep(w), ranks)) * c
            tot_c += c
        return tot_t, tot_c

    s_toks, s_occ = _fert((r["_w"], int(r["c"])) for r in sample)

    # full-corpus side: one Arrow pass over the distinct-word frame (the
    # vocab is Zipf-bounded but may exceed the driver ceiling — that is
    # this function's premise — so the encode runs distributed and only
    # two longs come back per partition)
    def fert_partial(batches):
        for pdf in batches:
            t = c = 0
            for w, cnt in zip(pdf["_w"], pdf["c"]):
                t += len(bpe_encode_str(prep(w), ranks)) * int(cnt)
                c += int(cnt)
            yield pd.DataFrame({"t": [t], "c": [c]})

    row = (
        vocab.mapInPandas(fert_partial, "t long, c long")
        .agg(F.sum("t").alias("t"), F.sum("c").alias("c"))
        .collect()[0]
    )
    n_words_full = vocab.count()
    vocab.unpersist()
    f_toks, f_occ = int(row["t"]), int(row["c"])
    fert_sample_ppm = (1_000_000 * s_toks) // s_occ
    fert_full_ppm = (1_000_000 * f_toks) // f_occ
    cert = {
        "n_words_full": int(n_words_full),
        "n_words_sampled": len(sample_words),
        "mass_covered_ppm": (1_000_000 * s_occ) // f_occ,
        "fert_sample_ppm": fert_sample_ppm,
        "fert_full_ppm": fert_full_ppm,
        "drift_ppm": (1_000_000 * abs(fert_full_ppm - fert_sample_ppm))
        // fert_sample_ppm,
    }
    if max_drift_ppm is not None and cert["drift_ppm"] > max_drift_ppm:
        raise ValueError(
            f"{name}: fertility drift {cert['drift_ppm']} ppm "
            f"exceeds max_drift_ppm={max_drift_ppm}; the sample is not "
            f"representative — raise sample_vocab. Certificate: {cert}"
        )
    return merges, cert


def bpe_save_merges(
    spark, merges: list[tuple[str, str]], path: str
) -> None:
    """Persist a merge table as the shareable artifact ``(rank, a, b)``
    — the tokenizer analogue of the stored ANN/BM25 index layouts: train
    once (offline or via the test-suite trainer), apply everywhere.
    Rank IS the file's authority on order; row order on disk is not."""
    rows = [(i, a, b) for i, (a, b) in enumerate(merges)]
    literal_frame(spark, rows, "rank int, a string, b string").coalesce(
        1
    ).write.mode("overwrite").parquet(path)


def bpe_load_merges(spark, path: str) -> list[tuple[str, str]]:
    """Load a ``bpe_save_merges`` artifact back into rank order. The
    merge list is vocabulary-sized (tens of KB at 50k merges) — a
    bounded driver-side collect by construction. The loaded table is
    validated (:func:`bpe_validate_merges`): stored ranks are trusted
    for ORDER but not for trained-shape, so a hand-edited artifact
    raises here instead of silently diverging between apply paths."""
    rows = spark.read.parquet(path).orderBy("rank").collect()
    return bpe_validate_merges([(r.a, r.b) for r in rows])


def bpe_ranks(merges: list[tuple[str, str]]) -> dict[tuple[str, str], int]:
    return {pair: rank for rank, pair in enumerate(merges)}


def _merge_once_to(syms: list[str], a: str, b: str, merged: str) -> list[str]:
    """All non-overlapping (a, b) → ``merged`` occurrences left to right
    — the list twin of the wrapped-string literal replace, with the
    emitted symbol parameterized so the WordPiece trainer (which strips
    ``##`` off b) shares the exact rewrite."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _merge_once(syms: list[str], a: str, b: str) -> list[str]:
    """All non-overlapping (a, b) occurrences left to right — the list
    twin of the wrapped-string literal replace."""
    return _merge_once_to(syms, a, b, a + b)


def bpe_encode_str_sweep(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Reference encoder: the in-rank-order sweep, the exact Python twin
    of the expression path's replace chain. O(len(merges)) per word —
    use for tests/oracles, not corpus encoding."""
    syms = list(word.replace(BPE_SEP, ""))
    for a, b in merges:
        if len(syms) < 2:
            break
        syms = _merge_once(syms, a, b)
    return syms


def bpe_encode_str(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Fast encoder: repeatedly merge the lowest-rank pair PRESENT (the
    GPT-2 encoder loop) — equivalent to the sweep because a trained pair
    only involves symbols that existed before it (property-tested)."""
    syms = list(word.replace(BPE_SEP, ""))
    while len(syms) >= 2:
        best, best_rank = None, None
        for pair in zip(syms, syms[1:]):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = pair, r
        if best is None:
            break
        syms = _merge_once(syms, *best)
    return syms


def bpe_token_count_arrow(
    df: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    text: str = "text",
) -> DataFrame:
    """Arrow twin of ``bpe_token_count`` for REAL merge tables (~50k
    rules, far past literal-expression-chain territory). Bit-identical
    output contract; per-word LRU cache (Zipfian corpora: encoding cost
    collapses to distinct-word cost per partition)."""
    import pandas as pd

    from .text import tokenize_str

    merges = DEMO_BPE_MERGES if merges is None else bpe_validate_merges(merges)
    ranks = bpe_ranks(merges)

    def count(batches):
        # cache built executor-side (an lru_cache-decorated local can't
        # pickle into the Arrow worker); one cache per task is exactly the
        # partition-local reuse the Zipfian argument needs
        n_tokens = lru_cache(maxsize=1 << 20)(
            lambda word: len(bpe_encode_str(word, ranks))
        )
        for pdf in batches:
            if not len(pdf):
                continue
            doc_ids, n_words, n_toks = [], [], []
            for did, txt in zip(pdf["doc_id"], pdf[text]):
                words = tokenize_str(txt or "")
                if not words:
                    continue  # absent, like the expression path
                doc_ids.append(did)
                n_words.append(len(words))
                n_toks.append(sum(n_tokens(w) for w in words))
            yield pd.DataFrame(
                {"doc_id": doc_ids, "n_words": n_words, "n_bpe_tokens": n_toks}
            )

    return fan_out(df).select("doc_id", text).mapInPandas(
        count, "doc_id long, n_words long, n_bpe_tokens long"
    )


# ---------------------------------------------------------------------------
# Byte-level BPE (GPT-2 / Llama-family shape): regex pre-tokenization over
# the ORIGINAL text, then each pretoken's UTF-8 bytes map through the
# published byte<->unicode table, then merges apply over the 256-char mapped
# alphabet. Counts therefore track production byte-level tokenizers on
# punctuation / whitespace / unicode, where the whitespace-split codepoint
# path above diverges.
# ---------------------------------------------------------------------------

def bytes_to_unicode() -> dict[int, str]:
    """The public GPT-2 byte<->unicode table (Radford et al. 2019,
    byte-level BPE): visible single-byte chars — printable ASCII
    0x21-0x7E and latin-1 0xA1-0xAC / 0xAE-0xFF — map to themselves;
    every other byte b maps to ``chr(256 + k)`` with k assigned in
    ascending byte order. A bijection into 256 BMP codepoints none of
    which is whitespace, a control char, or the reserved 0x1f separator
    — which is exactly why merges over mapped symbols need no stripping
    and the ``(.)`` wrap regex needs no DOTALL."""
    keep = (
        set(range(ord("!"), ord("~") + 1))
        | set(range(0xA1, 0xAC + 1))
        | set(range(0xAE, 0xFF + 1))
    )
    table: dict[int, str] = {}
    shift = 0
    for b in range(256):
        if b in keep:
            table[b] = chr(b)
        else:
            table[b] = chr(256 + shift)
            shift += 1
    return table


#: mapped char for byte b == BYTE_ALPHABET[b] — the 256-char lookup string
#: both engines index by byte value (Spark ``substring``, DuckDB oracle
#: ``substring``; both are character-addressed).
BYTE_ALPHABET = "".join(bytes_to_unicode()[b] for b in range(256))

#: GPT-2-STYLE pre-tokenizer base regex, restricted to the regex subset
#: Java (Spark), RE2 (DuckDB), and the hand-rolled Python scanner all
#: agree on. Two deliberate deltas vs the original GPT-2 pattern, both
#: forced by RE2's no-lookaround dialect: (1) no ``\s+(?!\S)`` trailing-
#: space alternative — the post-split DONATION fixup below restores its
#: exact semantics, so the full ``pretokens()``/``pretokenize_str()``
#: output EQUALS the original GPT-2 split (property-tested against a
#: Python ``re`` run of the original pattern, lookahead included);
#: (2) whitespace is the EXPLICIT class ``[ \t\n\r\f]`` (Java \s
#: includes \x0B where RE2 does not — pinning the class removes the
#: disagreement). Leftmost-first alternation in all three engines.
#:
#: The donation rule (derived from leftmost-first backtracking of the
#: original alternation ``… |\s+(?!\S)|\s+``): every MAXIMAL whitespace
#: run W followed by a non-whitespace char splits as W[:-1] + W[-1],
#: where a trailing ' ' attaches to the next pretoken (the `` ?`` prefix
#: of the L/N/other alternatives) and any other trailing whitespace
#: char stands alone; a run at end-of-text stays whole. Runs of length
#: 1 are unchanged (covered by `` ?``/``\s+`` in both dialects).
PRETOKENIZE_RE = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?\p{L}+| ?\p{N}+| ?[^ \t\n\r\f\p{L}\p{N}]+|[ \t\n\r\f]+"
)

_PRETOK_WS = " \t\n\r\f"
_PRETOK_CONTRACTIONS = ("'s", "'t", "'re", "'ve", "'m", "'ll", "'d")


def pretokenize_str(text: str) -> list[str]:
    """Pure-Python twin of ``pretokens()`` — a hand-rolled leftmost-first
    scanner (Python ``re`` lacks ``\\p`` classes; ``unicodedata``
    categories are the same L*/N* definitions Java and RE2 use) with the
    trailing-space donation rule applied natively in the whitespace
    branch, so the output equals the ORIGINAL GPT-2 regex split.
    Property-tested equal to the Spark split and to a Python ``re`` run
    of the original pattern on ASCII inputs."""
    import unicodedata

    def cat(c: str) -> str:
        return unicodedata.category(c)[0]

    out: list[str] = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "'":
            for suf in _PRETOK_CONTRACTIONS:
                if text.startswith(suf, i):
                    out.append(suf)
                    i += len(suf)
                    break
            else:
                suf = None
            if suf is not None:
                continue
        j = i + 1 if c == " " else i
        if j < n and cat(text[j]) == "L":
            k = j + 1
            while k < n and cat(text[k]) == "L":
                k += 1
            out.append(text[i:k])
            i = k
            continue
        if j < n and cat(text[j]) == "N":
            k = j + 1
            while k < n and cat(text[k]) == "N":
                k += 1
            out.append(text[i:k])
            i = k
            continue

        def other(ch: str) -> bool:
            return ch not in _PRETOK_WS and cat(ch) not in ("L", "N")

        if j < n and other(text[j]):
            k = j + 1
            while k < n and other(text[k]):
                k += 1
            out.append(text[i:k])
            i = k
            continue
        if c in _PRETOK_WS:
            k = i + 1
            while k < n and text[k] in _PRETOK_WS:
                k += 1
            if k < n and k - i >= 2:
                # donation (original ``\s+(?!\S)``): the run's last char
                # re-enters the scan — a ' ' joins the next pretoken via
                # the `` ?`` prefixes, any other whitespace stands alone
                out.append(text[i : k - 1])
                i = k - 1
                continue
            out.append(text[i:k])
            i = k
            continue
        out.append(c)  # pragma: no cover — unreachable by construction
        i += 1
    return out


def byte_map_str(tok: str) -> str:
    """Pure-Python byte mapping: the pretoken's UTF-8 bytes through
    ``BYTE_ALPHABET``."""
    return "".join(BYTE_ALPHABET[b] for b in tok.encode("utf-8"))


def _byte_mapped(tok: Column) -> Column:
    """Expression-path byte mapping: hex the UTF-8 bytes (2 chars/byte),
    chunk into pairs, index ``BYTE_ALPHABET`` per pair — whole-stage-
    codegen string ops only, and the exact construction the DuckDB
    oracle replays (``hex(encode(..))`` + strpos digit arithmetic)."""
    hexed = F.hex(F.encode(tok, "UTF-8"))
    chunks = F.filter(
        F.split(F.regexp_replace(hexed, "(..)", "$1" + BPE_SEP), BPE_SEP),
        lambda s: s != F.lit(""),
    )
    return F.array_join(
        F.transform(
            chunks,
            lambda ch: F.substring(
                F.lit(BYTE_ALPHABET), F.conv(ch, 16, 10).cast("int") + 1, F.lit(1)
            ),
        ),
        "",
    )


def _mapped_symbols(mapped: Column, merges: list[tuple[str, str]]) -> Column:
    """Wrapped symbol string over an already byte-mapped pretoken: wrap
    every mapped char, apply the merge chain. No reserved-char strip —
    the mapped alphabet cannot contain 0x1f (see ``bytes_to_unicode``)."""
    sym = F.regexp_replace(mapped, "(.)", f"{BPE_SEP}$1{BPE_SEP}")
    for a, b in merges:
        sym = F.replace(sym, F.lit(_wrap(a) + _wrap(b)), F.lit(_wrap(a + b)))
    return sym


def _donate_trailing_space(arr: Column) -> Column:
    """The donation fixup as a whole-stage-codegen array transform: every
    pure-whitespace element of length ≥ 2 that is not the LAST element
    splits off its final char — a ' ' is prepended to the following
    element, any other whitespace char becomes its own pretoken. One
    indexed ``transform`` + ``flatten``; adjacent elements can never both
    be whitespace (the base regex emits maximal runs), so the donation
    and the prepend never collide.

    Contraction re-split: when the donation's recipient is a bare
    contraction token (``'s 't 're 've 'm 'll 'd`` — the base regex
    emits one exactly when the preceding char was consumed by a
    whitespace run), the original pattern would instead have matched
    ``" '"`` (via `` ?[^\\s\\p{L}\\p{N}]+``) and then re-scanned the
    letters: ``"he  's up"`` → ``he · ' ' · " '" · s · ' up'``, NOT
    ``" 's"``. So the recipient emits ``" '"`` plus the contraction's
    letters — and when the NEXT element is an unprefixed letter run
    (``"he  'ship"`` → base ``'s · hip``), the letters instead fuse
    into that following element (``" '" · ship``), exactly the
    original's ``\\p{L}+`` match. Both halves of the hand-off test the
    SAME next-starts-with-letter predicate, so they can never double-
    or zero-emit the letters.

    The whitespace-run test is ``translate(t, " \\t\\n\\r\\f", "") = ""``
    rather than an anchored rlike: Java's ``$`` matches BEFORE a final
    line terminator (\\u2028, \\u2029, \\x85 …), so ``^[ \\t\\n\\r\\f]+$``
    wrongly classifies a token like ``" \\u2028"`` as a whitespace run;
    the translate form is exact in every engine (and regex-free)."""
    n = F.size(arr)
    contractions = F.array(*[F.lit(c) for c in _PRETOK_CONTRACTIONS])

    def is_ws_run(t: Column) -> Column:
        return F.translate(t, _PRETOK_WS, "") == ""

    def is_donor(t: Column) -> Column:
        return (
            is_ws_run(t)
            & (F.length(t) >= 2)
            & (t.substr(F.length(t), F.lit(1)) == " ")
        )

    def fix(t: Column, i: Column) -> Column:
        ln = F.length(t)
        last = t.substr(ln, F.lit(1))
        head = t.substr(F.lit(1), ln - 1)
        donates = is_ws_run(t) & (ln >= 2) & (i < n - 1)
        prev = F.get(arr, i - 1)  # NULL-safe at the edges (F.get is 0-based)
        prevprev = F.get(arr, i - 2)
        nxt = F.get(arr, i + 1)
        prev_donated = (i > 0) & is_donor(prev)
        is_contr = F.array_contains(contractions, t)
        # NULL rlike NULL → NULL → falsy inside when(): edge-safe.
        next_is_letters = nxt.rlike(r"^\p{L}")
        letters_fuse_right = (
            (i >= 2)
            & F.array_contains(contractions, prev)
            & is_donor(prevprev)
            & t.rlike(r"^\p{L}")
        )
        return (
            F.when(
                donates,
                F.when(last == " ", F.array(head)).otherwise(F.array(head, last)),
            )
            .when(
                prev_donated & is_contr,
                F.when(next_is_letters, F.array(F.lit(" '"))).otherwise(
                    F.array(F.lit(" '"), t.substr(F.lit(2), ln - 1))
                ),
            )
            .when(prev_donated, F.array(F.concat(F.lit(" "), t)))
            .when(
                letters_fuse_right,
                F.array(F.concat(prev.substr(F.lit(2), F.length(prev) - 1), t)),
            )
            .otherwise(F.array(t))
        )

    return F.flatten(F.transform(arr, fix))


def pretokens(text_col: Column) -> Column:
    """NULL-safe array of GPT-2 pretokens: the ``PRETOKENIZE_RE`` base
    split plus the trailing-space donation fixup — together exactly the
    original GPT-2 pattern's output (see PRETOKENIZE_RE).

    The base array is BOUND ONCE as a lambda variable (the 1-element
    ``transform`` wrap): the donation transform references its input
    array several times per element (size, prev, prevprev, next), and
    HOF lambda bodies get no subexpression elimination — referencing
    the raw ``regexp_extract_all`` there re-runs the full-document
    regex PER ELEMENT (measured 4× on the sf0.1 byte-BPE bench)."""
    base = F.regexp_extract_all(
        F.coalesce(text_col, F.lit("")), F.lit(PRETOKENIZE_RE), F.lit(0)
    )
    return bind_once(base, _donate_trailing_space)


def bpe_byte_token_count(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text: str = "text",
) -> DataFrame:
    """Per-document BYTE-LEVEL BPE token count:
    ``(doc_id, n_pretokens, n_bpe_tokens)``; docs with no pretokens
    (empty/NULL text) are absent, like ``bpe_token_count``.

    Scale shape: identical to ``bpe_token_count`` — explode pretokens
    (map-only codegen projection: regex findall, hex byte map, literal
    merge chain), one docs-sized count aggregate with map-side combine.
    Expression path: demo/oracle-sized merge tables; real ~50k vocabs
    take :func:`bpe_byte_token_count_arrow` (or the auto route)."""
    bpe_validate_merges(merges)
    p = fan_out(df, BPE_COUNT_BYTES_PER_TASK).select(
        "doc_id", F.explode(pretokens(F.col(text))).alias("_p")
    )
    cnt = _symbol_count(_mapped_symbols(_byte_mapped(F.col("_p")), merges))
    return (
        p.select("doc_id", cnt.alias("_c"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_pretokens"),
            F.sum("_c").alias("n_bpe_tokens"),
        )
    )


def bpe_byte_token_count_arrow(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text: str = "text",
) -> DataFrame:
    """Arrow twin of :func:`bpe_byte_token_count` for real vocabularies:
    broadcast rank dict, per-pretoken LRU (Zipfian reuse), rank-priority
    encoder over the byte-mapped symbols. Bit-identical contract for
    trained tables (validated on entry)."""
    import pandas as pd

    bpe_validate_merges(merges)
    ranks = bpe_ranks(merges)

    def count(batches):
        n_tokens = lru_cache(maxsize=1 << 20)(
            lambda tok: len(bpe_encode_str(byte_map_str(tok), ranks))
        )
        for pdf in batches:
            if not len(pdf):
                continue
            doc_ids, n_pre, n_toks = [], [], []
            for did, txt in zip(pdf["doc_id"], pdf[text]):
                pts = pretokenize_str(txt or "")
                if not pts:
                    continue
                doc_ids.append(did)
                n_pre.append(len(pts))
                n_toks.append(sum(n_tokens(t) for t in pts))
            yield pd.DataFrame(
                {"doc_id": doc_ids, "n_pretokens": n_pre, "n_bpe_tokens": n_toks}
            )

    return fan_out(df).select("doc_id", text).mapInPandas(
        count, "doc_id long, n_pretokens long, n_bpe_tokens long"
    )


def bpe_train_bytes(
    df: DataFrame,
    n_merges: int,
    text: str = "text",
    batch: int = 0,
    driver_vocab_max: int = TRAIN_DRIVER_VOCAB_MAX,
) -> list[tuple[str, str]]:
    """Distributed BYTE-LEVEL BPE training: pretokenize with
    ``PRETOKENIZE_RE``, byte-map each distinct pretoken, then run the
    shared merge-learning loop (:func:`_bpe_train_loop` — same scale
    shape and determinism as :func:`bpe_train`). Learned symbols live in
    the mapped alphabet, so the table feeds every ``bpe_byte_*`` apply
    path and replays bit-for-bit through the pure-Python twin."""
    vocab = (
        fan_out(df)
        .select(F.explode(pretokens(F.col(text))).alias("_p"))
        .groupBy("_p")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.filter(
                F.split(
                    F.regexp_replace(_byte_mapped(F.col("_p")), "(.)", "$1" + BPE_SEP),
                    BPE_SEP,
                ),
                lambda s: s != F.lit(""),
            ).alias("syms"),
            "c",
        )
    )
    return _bpe_train_loop(vocab, n_merges, batch, driver_vocab_max)


#: Expression-path ceiling for the auto routes: each merge is one literal
#: ``replace`` node in the plan, so past a few hundred merges the chain
#: stops being a plan and starts being a codegen/stack liability; the
#: Arrow twin's per-task LRU wins well before 50k-merge production vocabs.
BPE_EXPR_MAX_MERGES = 256


def bpe_token_count_auto(
    df: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    text: str = "text",
) -> DataFrame:
    """Size-gated route between the codegen expression chain and the
    Arrow twin on ``len(merges)`` (the ``similarity._assign_auto``
    precedent): demo/oracle-sized tables stay JVM-side; production
    vocabularies take the Arrow encoder. Both sides are bit-identical
    for trained tables, so the gate changes the PLAN, never the answer
    (route-parity-tested)."""
    merges = DEMO_BPE_MERGES if merges is None else merges
    if len(merges) <= BPE_EXPR_MAX_MERGES:
        return bpe_token_count(df, merges, text=text)
    return bpe_token_count_arrow(df, merges, text=text)


def bpe_byte_token_count_auto(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text: str = "text",
) -> DataFrame:
    """Byte-level twin of :func:`bpe_token_count_auto`: same
    ``BPE_EXPR_MAX_MERGES`` gate, same bit-identical contract."""
    if len(merges) <= BPE_EXPR_MAX_MERGES:
        return bpe_byte_token_count(df, merges, text=text)
    return bpe_byte_token_count_arrow(df, merges, text=text)


def bpe_fertility(
    df: DataFrame,
    merges: list[tuple[str, str]],
    group_col: str = "source",
    text: str = "text",
) -> DataFrame:
    """Tokenizer fertility / compression report per group:
    ``(group, n_docs, n_bytes, n_pretokens, n_bpe_tokens,
    bytes_per_token)`` — the metric a production pipeline uses to budget
    compute per source or language (bytes-per-token varies 2-4× between
    English prose and code/unicode-heavy text under one vocab, so token
    budgets planned on a corpus-wide average misallocate).

    Scale shape: two map-side-combine aggregates over the same corpus
    scan — the byte-BPE token stream grouped DIRECTLY by the group key
    (no per-doc intermediate, so nothing docs-sized ever shuffles) and a
    per-group byte/doc count — joined on the group-sized key set.
    Groups whose docs yield zero pretokens (all-empty text) drop out
    with the inner join rather than emitting a 0/0 ratio."""
    bpe_validate_merges(merges)
    p = fan_out(df, BPE_COUNT_BYTES_PER_TASK).select(
        F.col(group_col).alias("_g"), F.explode(pretokens(F.col(text))).alias("_p")
    )
    cnt = _symbol_count(_mapped_symbols(_byte_mapped(F.col("_p")), merges))
    tok = (
        p.select("_g", cnt.alias("_c"))
        .groupBy("_g")
        .agg(
            F.count(F.lit(1)).alias("n_pretokens"),
            F.sum("_c").alias("n_bpe_tokens"),
        )
    )
    by = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.octet_length(F.coalesce(F.col(text), F.lit("")))).alias("n_bytes"),
    )
    return by.join(tok, "_g").select(
        F.col("_g").alias(group_col),
        "n_docs",
        "n_bytes",
        "n_pretokens",
        "n_bpe_tokens",
        F.round(F.col("n_bytes") / F.col("n_bpe_tokens"), 6).alias("bytes_per_token"),
    )


def bpe_byte_vocab(merges: list[tuple[str, str]]) -> dict[str, int]:
    """GPT-2-style id assignment over mapped symbols: the 256 base byte
    symbols get ids 0..255 in byte order (= their index in
    ``BYTE_ALPHABET``); merge product i gets 256+i. A bijection, since a
    trained table never re-produces an existing symbol."""
    vocab = {BYTE_ALPHABET[b]: b for b in range(256)}
    for i, (a, b) in enumerate(merges):
        vocab[a + b] = 256 + i
    return vocab


def bpe_byte_encode_ids(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text: str = "text",
    out_col: str = "token_ids",
) -> DataFrame:
    """Per-document ORDER-PRESERVING byte-level BPE encoding to integer
    ids: ``(doc_id, token_ids array<int>)``. Base bytes are ids 0..255,
    merge products 256+rank (``bpe_byte_vocab``) — the id scheme real
    byte-BPE vocabs use, so downstream shard consumers get contiguous
    dense ids.

    Pretokens stay inside one ``transform`` lambda so token order needs
    no re-sort; the symbol→id map is a literal MapType expression
    (vocab-sized — demo/oracle tables; a production ~50k vocab would
    broadcast-join a vocab table instead). Docs with NULL/empty text
    yield an empty array (kept — the shard writer's packing treats them
    as zero-length).

    ``fan_out(CPU_HEAVY)``: the per-pretoken merge chain is the hottest
    interpreted-HOF stage in the repo, and map-side parallelism follows
    the SCAN's split count — a one-file corpus would otherwise encode
    1-wide no matter how many cores exist (measured at sf0.1: 10.0 s →
    1.1 s from the fan-out alone; the 10× scale probe was FASTER than
    sf0.1 before this fix purely because more input files meant more
    tasks)."""
    merges = bpe_validate_merges(merges)
    vocab = bpe_byte_vocab(merges)
    id_map = F.create_map(*[F.lit(x) for kv in vocab.items() for x in kv])
    toks = F.flatten(
        F.transform(
            pretokens(F.col(text)),
            lambda p: F.filter(
                F.transform(
                    F.split(_mapped_symbols(_byte_mapped(p), merges), BPE_SEP + BPE_SEP),
                    lambda q: F.replace(q, F.lit(BPE_SEP), F.lit("")),
                ),
                lambda s: s != F.lit(""),
            ),
        )
    )
    from ..util import CPU_HEAVY

    return fan_out(df, CPU_HEAVY).select(
        "doc_id", F.transform(toks, lambda t: id_map[t].cast("int")).alias(out_col)
    )


def bpe_decode_str(ids: list[int], merges: list[tuple[str, str]]) -> str:
    """Pure-Python byte-level BPE decode: ids → mapped symbols → bytes →
    UTF-8 text. Byte-level BPE is LOSSLESS, so
    ``bpe_decode_str(encode(t)) == t`` for EVERY string — the round-trip
    property test pins it (the whole point of the byte alphabet: no
    unknown-token fallback, no lossy normalization)."""
    vocab = bpe_byte_vocab(merges)
    sym_of = {i: s for s, i in vocab.items()}
    byte_of = {ch: b for b, ch in enumerate(BYTE_ALPHABET)}
    mapped = "".join(sym_of[i] for i in ids)
    return bytes(byte_of[ch] for ch in mapped).decode("utf-8")


def bpe_byte_decode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    ids_col: str = "token_ids",
    out_col: str = "text",
) -> DataFrame:
    """Decode ``(doc_id, token_ids)`` back to text — the inspection /
    debugging path of the shard pipeline (read a pack, decode a window,
    eyeball what the model will see). Arrow-batched (binary assembly has
    no codegen expression form); exact inverse of
    :func:`bpe_byte_encode_ids` by the losslessness property."""
    import pandas as pd

    bpe_validate_merges(merges)
    vocab = bpe_byte_vocab(merges)
    sym_of = {i: s for s, i in vocab.items()}
    byte_of = {ch: b for b, ch in enumerate(BYTE_ALPHABET)}

    def decode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            texts = []
            for ids in pdf[ids_col]:
                mapped = "".join(sym_of[int(i)] for i in ids)
                texts.append(bytes(byte_of[ch] for ch in mapped).decode("utf-8"))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], out_col: texts})

    return df.select("doc_id", ids_col).mapInPandas(
        decode, f"doc_id long, {out_col} string"
    )


# ---------------------------------------------------------------------------
# WordPiece (BERT-family greedy longest-match-first segmentation)
# ---------------------------------------------------------------------------

WORDPIECE_UNK = "[UNK]"
WORDPIECE_MAX_CHARS = 100  # HuggingFace's max_input_chars_per_word default


def wordpiece_pieces_str(
    word: str, vocab: "frozenset[str] | set[str]", max_chars: int = WORDPIECE_MAX_CHARS
) -> list[str]:
    """Pure-Python WordPiece segmentation of ONE word — the greedy
    longest-match-first algorithm of BERT's tokenizer (Devlin et al.
    2019; the public BERT repo's ``WordpieceTokenizer``): at each
    position take the LONGEST vocab piece that matches (non-initial
    positions try ``##``-prefixed pieces), and if ANY position has no
    match the WHOLE word becomes one ``[UNK]`` — earlier pieces are
    discarded, not kept (the all-or-nothing rule real vocabularies rely
    on for clean UNK accounting). Driver-side twin of the Arrow kernel
    in :func:`wordpiece_encode` — one definition of the loop, tested
    against hand goldens; the DuckDB oracle replays it as a recursive
    CTE over a precomputed best-match table."""
    if not word or len(word) > max_chars:
        return [WORDPIECE_UNK]
    pieces: list[str] = []
    start = 0
    while start < len(word):
        end = len(word)
        cur = None
        while start < end:
            sub = word[start:end]
            if start > 0:
                sub = "##" + sub
            if sub in vocab:
                cur = sub
                break
            end -= 1
        if cur is None:
            return [WORDPIECE_UNK]
        pieces.append(cur)
        start = end
    return pieces


def wordpiece_encode(
    df: DataFrame,
    vocab: "list[str] | tuple[str, ...]",
    text: str = "text",
) -> DataFrame:
    """Per-document WordPiece encoding under a FIXED vocabulary — the
    BERT/encoder-model counterpart of the byte-BPE family (different
    segmentation principle: greedy longest-match against a closed vocab
    vs learned merge ranks; a pipeline feeding encoder pretraining needs
    this one). Vocabulary pieces are plain strings, continuations carry
    the standard ``##`` prefix; words over ``WORDPIECE_MAX_CHARS`` or
    with any unmatchable position become one ``[UNK]``.

    Returns ``(doc_id, pieces array<string>, n_words, n_unk_words)`` —
    the piece stream PLUS the per-word counters the stats query needs
    (word boundaries are not recoverable from the piece stream once a
    word collapses to ``[UNK]``). Token-less documents are dropped, like
    every tokenizer-family kernel here.

    Scale shape: one Arrow ``mapInPandas`` pass (fan_out sizes the
    CPU-heavy stage to core count — the single-file-fixture lesson);
    the vocab broadcasts by closure (30k pieces ≈ 300 KB — codebook-
    sized); a per-word LRU exploits the corpus's Zipfian word reuse
    exactly like the BPE kernels. Nothing token-sized shuffles — the
    output is docs-sized rows with piece arrays."""
    import pandas as pd

    from .text import tokenize_str

    vset = frozenset(vocab)

    def seg(batches):
        pieces_of = lru_cache(maxsize=1 << 20)(
            lambda w: tuple(wordpiece_pieces_str(w, vset))
        )
        for pdf in batches:
            if not len(pdf):
                continue
            ids, parr, nw, nu = [], [], [], []
            for did, txt in zip(pdf["doc_id"], pdf[text]):
                words = tokenize_str(txt or "")
                if not words:
                    continue
                out: list[str] = []
                unk = 0
                for w in words:
                    ps = pieces_of(w)
                    out.extend(ps)
                    if ps == (WORDPIECE_UNK,):
                        unk += 1
                ids.append(did)
                parr.append(out)
                nw.append(len(words))
                nu.append(unk)
            if not ids:
                continue  # all-token-less batch: empty list col infers float64
            yield pd.DataFrame(
                {"doc_id": ids, "pieces": parr, "n_words": nw, "n_unk_words": nu}
            )

    return fan_out(df).select("doc_id", text).mapInPandas(
        seg, "doc_id long, pieces array<string>, n_words long, n_unk_words long"
    )


def wordpiece_token_stats(
    df: DataFrame,
    vocab: "list[str] | tuple[str, ...]",
    text: str = "text",
) -> DataFrame:
    """Per-document WordPiece fertility counters over
    :func:`wordpiece_encode`: ``(doc_id, n_tokens, n_words,
    n_unk_words)``. n_tokens/n_words is the fertility a tokenizer team
    tracks per corpus slice; n_unk_words is the vocabulary-coverage
    alarm (a rising UNK share means the corpus drifted from the vocab's
    training domain)."""
    enc = wordpiece_encode(df, vocab, text)
    return enc.select(
        "doc_id",
        F.size("pieces").cast("long").alias("n_tokens"),
        "n_words",
        "n_unk_words",
    )


# ---------------------------------------------------------------------------
# Unigram LM (SentencePiece-family Viterbi segmentation)
# ---------------------------------------------------------------------------

UNIGRAM_WORD_MARK = "▁"  # ▁ — SentencePiece's word-boundary marker
UNIGRAM_UNK_COST_MILLI = 100_000  # fixed cost charged per [UNK] word


def unigram_pieces_str(
    word: str, costs: "dict[str, int]"
) -> "tuple[list[str], int]":
    """Viterbi segmentation of ONE word under a FIXED scored vocabulary —
    the Unigram-LM tokenizer family (Kudo 2018; SentencePiece's default):
    among all ways to cover ``▁word`` with vocab pieces, take the one
    minimizing total cost (integer milli-units — quantized −log p, so
    the choice is engine-exact, no float sums). Unlike WordPiece's
    greedy longest-match, this is GLOBALLY optimal: a long first piece
    loses to two short pieces whose costs sum lower.

    Deterministic total order: (total cost, piece count, piece list
    lexicographic) — additive in the first two keys and prefix-monotone
    in the third, so the suffix DP below has exact optimal substructure
    for it (each position keeps the best (cost, count, pieces) suffix;
    prepending a piece is order-preserving). The DuckDB oracle instead
    ENUMERATES every segmentation and sorts by the same triple — two
    entirely different algorithms, one answer.

    A word with no covering segmentation is one ``[UNK]`` at the fixed
    ``UNIGRAM_UNK_COST_MILLI``. Returns ``(pieces, cost_milli)``."""
    w = UNIGRAM_WORD_MARK + word
    n = len(w)
    best: "list[tuple[int, int, tuple[str, ...]] | None]" = [None] * (n + 1)
    best[n] = (0, 0, ())
    for i in range(n - 1, -1, -1):
        cand = None
        for j in range(i + 1, n + 1):
            p = w[i:j]
            c = costs.get(p)
            if c is None or best[j] is None:
                continue
            sc, sk, st = best[j]
            t = (c + sc, 1 + sk, (p,) + st)
            if cand is None or t < cand:
                cand = t
        best[i] = cand
    if best[0] is None:
        return [WORDPIECE_UNK], UNIGRAM_UNK_COST_MILLI
    c, _, t = best[0]
    return list(t), c


def unigram_encode(
    df: DataFrame,
    vocab: "Sequence[tuple[str, int]]",
    text: str = "text",
) -> DataFrame:
    """Per-document Unigram-LM encoding — the third tokenizer family
    next to byte-BPE (GPT: learned merges) and WordPiece (BERT: greedy
    closed vocab): T5/SentencePiece-style globally-optimal Viterbi
    under per-piece costs. ``vocab`` is a driver-side list of
    ``(piece, cost_milli)`` — pieces starting with ``▁`` match at word
    start, the rest word-internal, exactly SentencePiece's convention.

    Returns ``(doc_id, pieces, n_words, n_unk_words, cost_milli)`` —
    the piece stream plus the counters the stats view aggregates;
    ``cost_milli`` (Σ per-word Viterbi costs, UNKs at the fixed UNK
    cost) is the corpus-likelihood signal a tokenizer team tracks when
    comparing vocabularies. Token-less documents are dropped (kernel
    contract shared with the BPE/WordPiece kernels).

    Scale shape: identical to ``wordpiece_encode`` — one fan_out'd
    Arrow pass, closure-broadcast vocab, per-word LRU; per-word DP is
    O(len² · hit-rate) on words that are ≤ tens of chars."""
    import pandas as pd

    from .text import tokenize_str

    costs = dict(vocab)

    def seg(batches):
        pieces_of = lru_cache(maxsize=1 << 20)(
            lambda w: unigram_pieces_str(w, costs)
        )
        for pdf in batches:
            if not len(pdf):
                continue
            ids, parr, nw, nu, cm = [], [], [], [], []
            for did, txt in zip(pdf["doc_id"], pdf[text]):
                words = tokenize_str(txt or "")
                if not words:
                    continue
                out: list[str] = []
                unk = 0
                cost = 0
                for w in words:
                    ps, c = pieces_of(w)
                    out.extend(ps)
                    cost += c
                    if ps == [WORDPIECE_UNK]:
                        unk += 1
                ids.append(did)
                parr.append(out)
                nw.append(len(words))
                nu.append(unk)
                cm.append(cost)
            if not ids:
                continue
            yield pd.DataFrame(
                {"doc_id": ids, "pieces": parr, "n_words": nw,
                 "n_unk_words": nu, "cost_milli": cm}
            )

    return fan_out(df).select("doc_id", text).mapInPandas(
        seg,
        "doc_id long, pieces array<string>, n_words long, "
        "n_unk_words long, cost_milli long",
    )


def unigram_token_stats(
    df: DataFrame,
    vocab: "Sequence[tuple[str, int]]",
    text: str = "text",
) -> DataFrame:
    """Per-document Unigram-LM counters over :func:`unigram_encode`:
    ``(doc_id, n_tokens, n_words, n_unk_words, cost_milli)`` — fertility
    plus the Viterbi likelihood cost, the pair a vocabulary A/B test
    compares."""
    enc = unigram_encode(df, vocab, text)
    return enc.select(
        "doc_id",
        F.size("pieces").cast("long").alias("n_tokens"),
        "n_words",
        "n_unk_words",
        "cost_milli",
    )


def _wordpiece_train_inmemory(
    words: "list[tuple[list[str], int]]", n_merges: int, scale: int = 10**12
) -> list[str]:
    """EXACT in-memory incremental WordPiece merge loop — bit-identical
    to the sequential distributed loop (same integral PMI score
    ``(n·scale) // (cnt_a·cnt_b)``, same (score desc, a asc, b asc)
    argmax, same keep-left-prefix rewrite), property-tested against the
    recount trainer.

    Unlike BPE, a merge changes the SCORES of every pair sharing a unit
    with it (unit counts shrink → denominators shrink → scores can
    RISE), so lazy staleness alone is unsound. Invariant instead: after
    each merge, re-push a current entry for every pair containing a
    changed unit (only {a, b, merged} can change — rewrites touch no
    other symbol), so the heap always holds an up-to-date entry for
    every re-ranked pair; a popped entry is validated against the live
    score and re-pushed if stale."""
    import collections
    import heapq

    words = [(list(syms), int(c)) for syms, c in words]
    pair_counts: collections.Counter = collections.Counter()
    unit_counts: collections.Counter = collections.Counter()
    where: dict = collections.defaultdict(set)
    by_unit: dict = collections.defaultdict(set)
    for wi, (syms, c) in enumerate(words):
        for s in syms:
            unit_counts[s] += c
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] += c
            where[p].add(wi)
            by_unit[p[0]].add(p)
            by_unit[p[1]].add(p)

    def score(p) -> int:
        n = pair_counts.get(p, 0)
        if n <= 0:
            return -1
        return (n * scale) // (unit_counts[p[0]] * unit_counts[p[1]])

    heap = [(-score(p), p[0], p[1]) for p in pair_counts]
    heapq.heapify(heap)
    merges: list[str] = []
    while len(merges) < n_merges and heap:
        neg, a, b = heapq.heappop(heap)
        cur = score((a, b))
        if cur < 0:
            continue
        if -neg != cur:
            heapq.heappush(heap, (-cur, a, b))
            continue
        merged = a + (b[2:] if b.startswith("##") else b)
        merges.append(merged)
        for wi in list(where[(a, b)]):
            syms, c = words[wi]
            new = _merge_once_to(syms, a, b, merged)
            if len(new) == len(syms):  # pragma: no cover - stale index
                continue
            pdelta: collections.Counter = collections.Counter()
            udelta: collections.Counter = collections.Counter()
            for i in range(len(syms) - 1):
                pdelta[(syms[i], syms[i + 1])] -= c
            for i in range(len(new) - 1):
                pdelta[(new[i], new[i + 1])] += c
            for s in syms:
                udelta[s] -= c
            for s in new:
                udelta[s] += c
            for u, d in udelta.items():
                if d:
                    unit_counts[u] += d
                    if unit_counts[u] <= 0:
                        unit_counts.pop(u, None)
            for p, d in pdelta.items():
                if d == 0:
                    continue
                now = pair_counts.get(p, 0) + d
                if now > 0:
                    pair_counts[p] = now
                    if d > 0:
                        where[p].add(wi)
                        by_unit[p[0]].add(p)
                        by_unit[p[1]].add(p)
                else:
                    pair_counts.pop(p, None)
                    where.pop(p, None)
                    by_unit[p[0]].discard(p)
                    by_unit[p[1]].discard(p)
            old_pairs = {(syms[i], syms[i + 1]) for i in range(len(syms) - 1)}
            new_pairs = {(new[i], new[i + 1]) for i in range(len(new) - 1)}
            for p in old_pairs - new_pairs:
                s = where.get(p)
                if s is not None:
                    s.discard(wi)
            words[wi] = (new, c)
        # units a, b, merged changed count: every pair on them re-ranks
        for u in (a, b, merged):
            for p in by_unit.get(u, ()):
                sc = score(p)
                if sc >= 0:
                    heapq.heappush(heap, (-sc, p[0], p[1]))
    return merges


def wordpiece_train(
    df: DataFrame,
    n_merges: int,
    text: str = "text",
    batch: int = 0,
    driver_vocab_max: int = TRAIN_DRIVER_VOCAB_MAX,
) -> list[str]:
    """Distributed WordPiece TRAINING — the likelihood-scored merge loop
    of the public BERT/HuggingFace trainer: like BPE it repeatedly
    merges an adjacent symbol pair, but the pair chosen maximizes
    ``freq(ab) / (freq(a)·freq(b))`` (the pointwise-mutual-information
    surrogate), not raw frequency — a rarer pair whose parts occur
    almost only together beats a frequent pair of independently-common
    parts. Words start as (first char, ##-prefixed rest); merging keeps
    the left symbol's prefix (``a + ##b → ab``, ``##b + ##c → ##bc``),
    so learned symbols ARE WordPiece vocabulary pieces.

    Engine-exact selection: the score is quantized to an integral
    ``(n · 10¹²) div (cnt_a · cnt_b)`` with a DECIMAL(38,0) intermediate
    (counts at 100 TB overflow int64 when multiplied), ties broken by
    (a, b) ascending — deterministic across engines and runs.

    Returns the learned vocabulary: base single-char pieces (sorted) +
    merged pieces in learning order, ready for
    :func:`wordpiece_encode` — trained on a corpus, every training-
    corpus word segments without [UNK] by construction (all base chars
    are pieces).

    Scale shape: identical to :func:`bpe_train` — the loop runs over the
    DISTINCT-WORD frame (vocabulary-sized, not corpus-sized), one
    pair-count + one symbol-count aggregate per round (map-side
    combine); per-round driver traffic is the top-(batch+1) scored rows,
    from which :func:`_select_wordpiece_batch` proves up to ``batch``
    merges order-independent under the SCORE dynamics (overlap can
    inflate scores, so the selector carries a residual-count ceiling)
    and applies them in one rewrite — identical vocab to the
    merge-at-a-time loop, pinned + property-tested."""
    from ..util import persist_once

    if n_merges < 0:
        raise ValueError("n_merges must be >= 0")
    batch = batch or TRAIN_MERGE_BATCH
    if batch < 1:
        raise ValueError("batch must be >= 1")
    w = F.col("word")
    syms0 = F.transform(
        F.sequence(F.lit(1), F.length(w)),
        lambda i: F.when(i == 1, F.substring(w, 1, 1)).otherwise(
            F.concat(F.lit("##"), w.substr(i, F.lit(1)))
        ),
    )
    vocab = persist_once(
        fan_out(df)
        .select(F.explode(tokens(F.col(text))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(syms0.alias("syms"), "c")
    )
    base = sorted(
        r["s"]
        for r in vocab.select(F.explode("syms").alias("s")).distinct().collect()
    )
    if driver_vocab_max and vocab.count() <= driver_vocab_max:
        # production route (see _bpe_train_loop): one distributed word
        # count, then the exact in-memory incremental merge loop
        rows = vocab.collect()
        vocab.unpersist()
        merges = _wordpiece_train_inmemory(
            [(r["syms"], r["c"]) for r in rows], n_merges
        )
        out_local: list[str] = []
        for p in base + merges:
            if p not in out_local:
                out_local.append(p)
        return out_local
    merges: list[str] = []
    while len(merges) < n_merges:
        k = min(batch, n_merges - len(merges))
        pairs = (
            vocab.select(
                F.explode(
                    F.zip_with(
                        F.slice(F.col("syms"), 1, F.greatest(F.size("syms") - 1, F.lit(0))),
                        F.slice(F.col("syms"), 2, F.greatest(F.size("syms") - 1, F.lit(0))),
                        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                    )
                ).alias("p"),
                "c",
            )
            .groupBy("p")
            .agg(F.sum("c").alias("n"))
        )
        counts = (
            vocab.select(F.explode("syms").alias("s"), "c")
            .groupBy("s")
            .agg(F.sum("c").alias("cnt"))
        )
        scored = (
            pairs.join(counts.select(F.col("s").alias("_a"), F.col("cnt").alias("ca")),
                       pairs["p"]["a"] == F.col("_a"))
            .join(counts.select(F.col("s").alias("_b"), F.col("cnt").alias("cb")),
                  pairs["p"]["b"] == F.col("_b"))
            .select(
                F.col("p")["a"].alias("a"),
                F.col("p")["b"].alias("b"),
                "n",
                "ca",
                "cb",
                F.expr(
                    "(CAST(n AS DECIMAL(38,0)) * 1000000000000)"
                    " div (CAST(ca AS DECIMAL(38,0)) * cb)"
                ).alias("score"),
            )
        )
        rows = (
            scored.orderBy(F.desc("score"), F.asc("a"), F.asc("b"))
            .limit(k + 1)
            .collect()
        )
        sel = _select_wordpiece_batch(
            [(r["a"], r["b"], r["n"], r["ca"], r["cb"], r["score"]) for r in rows],
            k,
        )
        if not sel:
            break
        steps = [
            (a, b, a + (b[2:] if b.startswith("##") else b)) for a, b in sel
        ]
        merges.extend(m for _a, _b, m in steps)
        old = vocab
        if len(steps) == 1:
            rewritten = old.select(_pair_rewrite_fold(*steps[0]).alias("syms"), "c")
        else:
            rewritten = _batch_rewrite_arrow(old, steps)
        vocab = persist_once(rewritten)
        old.unpersist()
    vocab.unpersist()
    out: list[str] = []
    for p in base + merges:  # first occurrence wins on rare collisions
        if p not in out:
            out.append(p)
    return out


def wordpiece_train_sampled(
    df: DataFrame,
    n_merges: int,
    text: str = "text",
    sample_vocab: int = TRAIN_DRIVER_VOCAB_MAX,
    max_drift_ppm: "int | None" = None,
) -> "tuple[list[str], dict]":
    """WordPiece twin of :func:`bpe_train_sampled` — the sample-then-
    train production recipe for >driver-ceiling word vocabularies,
    completing the story across the trainer families (VERDICT r12 #4).

    Two-part sampling, deliberately asymmetric:

    - BASE pieces come from the FULL corpus (one distributed distinct
      over exploded symbols — alphabet-sized however big the corpus, so
      there is no reason to sample it). This removes the [UNK] cliff a
      naive sample would create: a tail word whose characters never made
      the sample would otherwise be unencodable forever.
    - MERGES train on the top ``sample_vocab`` distinct words by
      ``(count desc, word asc)`` through the exact in-memory likelihood
      loop — the same deterministic top-K sampling as the BPE recipe.

    Certificate: occurrence-weighted fertility (pieces per word
    occurrence, the greedy encoder) on the sample vs the FULL
    distinct-word frame, ppm-quantized, plus ``unk_sample_ppm`` /
    ``unk_full_ppm`` ([UNK]-word occurrence share — with full-corpus
    base pieces this is nonzero only for words over
    ``WORDPIECE_MAX_CHARS``, and the certificate proves it). Keys:
    ``{n_words_full, n_words_sampled, mass_covered_ppm, fert_sample_ppm,
    fert_full_ppm, drift_ppm, unk_sample_ppm, unk_full_ppm}``.
    ``max_drift_ppm`` gates fertility drift exactly like the BPE recipe.

    Exactness pin (tested): ``sample_vocab`` ≥ the true distinct count
    returns :func:`wordpiece_train`'s vocabulary bit-for-bit with zero
    drift."""
    import pandas as pd

    from ..util import persist_once

    if n_merges < 0:
        raise ValueError("n_merges must be >= 0")
    if sample_vocab < 1:
        raise ValueError("sample_vocab must be >= 1")
    w = F.col("word")
    syms0 = F.transform(
        F.sequence(F.lit(1), F.length(w)),
        lambda i: F.when(i == 1, F.substring(w, 1, 1)).otherwise(
            F.concat(F.lit("##"), w.substr(i, F.lit(1)))
        ),
    )
    vocab = persist_once(
        fan_out(df)
        .select(F.explode(tokens(F.col(text))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    base = sorted(
        r["s"]
        for r in vocab.select(syms0.alias("syms"), "c")
        .select(F.explode("syms").alias("s"))
        .distinct()
        .collect()
    )
    sample = (
        vocab.orderBy(F.desc("c"), F.asc("word")).limit(sample_vocab).collect()
    )
    if not sample:
        vocab.unpersist()
        raise ValueError("wordpiece_train_sampled: empty corpus")

    def _syms(word: str) -> list[str]:
        return [word[0]] + ["##" + ch for ch in word[1:]]

    merges = _wordpiece_train_inmemory(
        [(_syms(r["word"]), int(r["c"])) for r in sample], n_merges
    )
    out: list[str] = []
    for p in base + merges:  # the wordpiece_train dedup rule
        if p not in out:
            out.append(p)
    vset = frozenset(out)

    def _fert(word_count_pairs):
        tot_t = tot_c = tot_u = 0
        for word, c in word_count_pairs:
            pieces = wordpiece_pieces_str(word, vset)
            tot_t += len(pieces) * c
            tot_c += c
            if pieces == [WORDPIECE_UNK]:
                tot_u += c
        return tot_t, tot_c, tot_u

    s_toks, s_occ, s_unk = _fert((r["word"], int(r["c"])) for r in sample)

    def fert_partial(batches):
        for pdf in batches:
            t = c = u = 0
            for word, cnt in zip(pdf["word"], pdf["c"]):
                pieces = wordpiece_pieces_str(word, vset)
                t += len(pieces) * int(cnt)
                c += int(cnt)
                if pieces == [WORDPIECE_UNK]:
                    u += int(cnt)
            yield pd.DataFrame({"t": [t], "c": [c], "u": [u]})

    row = (
        vocab.mapInPandas(fert_partial, "t long, c long, u long")
        .agg(F.sum("t").alias("t"), F.sum("c").alias("c"), F.sum("u").alias("u"))
        .collect()[0]
    )
    n_words_full = vocab.count()
    vocab.unpersist()
    f_toks, f_occ, f_unk = int(row["t"]), int(row["c"]), int(row["u"])
    fert_sample_ppm = (1_000_000 * s_toks) // s_occ
    fert_full_ppm = (1_000_000 * f_toks) // f_occ
    cert = {
        "n_words_full": int(n_words_full),
        "n_words_sampled": len(sample),
        "mass_covered_ppm": (1_000_000 * s_occ) // f_occ,
        "fert_sample_ppm": fert_sample_ppm,
        "fert_full_ppm": fert_full_ppm,
        "drift_ppm": (1_000_000 * abs(fert_full_ppm - fert_sample_ppm))
        // fert_sample_ppm,
        "unk_sample_ppm": (1_000_000 * s_unk) // s_occ,
        "unk_full_ppm": (1_000_000 * f_unk) // f_occ,
    }
    if max_drift_ppm is not None and cert["drift_ppm"] > max_drift_ppm:
        raise ValueError(
            f"wordpiece_train_sampled: fertility drift {cert['drift_ppm']} "
            f"ppm exceeds max_drift_ppm={max_drift_ppm}; the sample is not "
            f"representative — raise sample_vocab. Certificate: {cert}"
        )
    return out, cert


def unigram_train(
    df: DataFrame,
    vocab_size: int,
    seed_min_count: int = 2,
    seed_max_len: int = 4,
    em_iters: int = 2,
    text: str = "text",
    driver_piece_max: int = TRAIN_DRIVER_VOCAB_MAX,
) -> "list[tuple[str, int]]":
    """Distributed Unigram-LM TRAINING (the SentencePiece algorithm
    shape, Kudo 2018 §3.2): seed a large candidate vocabulary, run EM
    over each word's segmentation lattice (E-step: forward-backward
    expected piece counts under the current unigram probabilities;
    M-step: renormalize), then prune to ``vocab_size`` keeping the
    highest-expected-count pieces — single-char pieces are never pruned,
    so every seen word stays segmentable (zero [UNK] on the training
    corpus by construction). Honest simplification vs SentencePiece:
    pruning ranks by expected count rather than by exact
    likelihood-loss-per-piece, and seeding enumerates substrings ≤
    ``seed_max_len`` instead of the suffix-automaton top-K — the EM core
    is the real thing.

    Returns ``[(piece, cost_milli)]`` for :func:`unigram_encode`: cost =
    −ln p quantized to milli-nats (ties in the final Viterbi resolved by
    the encode-side deterministic triple).

    Determinism at scale: the E-step runs as an Arrow pass over the
    DISTINCT-WORD frame (vocabulary-sized — the bpe_train discipline)
    with the current probabilities broadcast; each word's expected
    counts are quantized to INTEGER micro-units before the distributed
    sum, so the aggregate is order-independent (float partial sums are
    not) and the learned vocab is bit-stable across partitionings.

    Scale shape: seeding is one explode+count over distinct words
    (substring positions × ≤``seed_max_len`` lengths); each EM round is
    one Arrow map + one piece-keyed aggregate; only piece tables
    (vocabulary-sized) ever reach the driver. Those driver collects —
    the substring seed table and each EM round's expected-count table,
    the latter always a subset of the former — are guarded by
    ``driver_piece_max`` (VERDICT r13 #3, the ``bpe_train`` ceiling
    discipline): past it the trainer refuses and directs you to
    :func:`unigram_train_sampled`, the production sample-then-train
    recipe with a fertility-drift certificate."""
    w = F.col("word")
    words = (
        fan_out(df)
        .select(F.explode(tokens(F.col(text))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.concat(F.lit(UNIGRAM_WORD_MARK), w).alias("pw"), "c")
    )
    return _unigram_train_over(
        words,
        vocab_size,
        seed_min_count,
        seed_max_len,
        em_iters,
        driver_piece_max,
        "unigram_train",
    )


def _unigram_train_over(
    words0: DataFrame,
    vocab_size: int,
    seed_min_count: int,
    seed_max_len: int,
    em_iters: int,
    driver_piece_max: int,
    name: str,
    extra_singles: "set[str] | None" = None,
) -> "list[tuple[str, int]]":
    """The shared seed→EM→prune body over a distinct ``(pw, c)``
    marked-word frame — :func:`unigram_train` (full corpus, guarded) and
    :func:`unigram_train_sampled` (top-K-by-mass sample) differ only in
    how the frame is built. ``extra_singles`` injects single-char pieces
    seen only OUTSIDE the frame (the sampled route passes the FULL
    corpus's character set, the ``wordpiece_train_sampled`` full-corpus
    base-piece rule) at the survival floor, so the UNK-free guarantee
    covers words the sample never saw."""
    import pandas as pd

    from ..util import persist_once

    if vocab_size < 1:
        raise ValueError("vocab_size must be >= 1")
    words = persist_once(words0)
    # seed: every substring of length 1..seed_max_len, corpus count ≥ min
    pw = F.col("pw")
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length(pw)),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1), F.least(F.lit(seed_max_len), F.length(pw) - i + 1)
                ),
                lambda l: pw.substr(i, l),
            ),
        )
    )
    seed_df = (
        words.select(F.explode(subs).alias("piece"), "c")
        .groupBy("piece")
        .agg(F.sum("c").alias("n"))
        .filter(
            (F.col("n") >= seed_min_count) | (F.length("piece") == 1)
        )  # singles always survive seeding — the UNK-free floor
    )
    if driver_piece_max:
        n_seed = seed_df.count()
        if n_seed > driver_piece_max:
            words.unpersist()
            raise ValueError(
                f"{name}: the substring seed table has {n_seed} candidate "
                f"pieces, past driver_piece_max={driver_piece_max} — the "
                "seed and per-round EM expected-count collects would not "
                "fit the driver. For a production corpus this size use "
                "unigram_train_sampled (top-K-by-mass vocabulary sampling "
                "with a fertility-drift certificate), or raise "
                "driver_piece_max explicitly."
            )
    seed = seed_df.collect()
    # initial probabilities ∝ seed counts
    total0 = float(sum(r["n"] for r in seed))
    probs: dict[str, float] = {r["piece"]: r["n"] / total0 for r in seed}
    # the UNK-free floor: single-char pieces must survive EM even when a
    # longer piece explains all their mass (expected count rounds to 0) —
    # SentencePiece likewise never drops required characters
    seed_singles = {r["piece"] for r in seed if len(r["piece"]) == 1}
    SINGLE_FLOOR = 1e-9
    if extra_singles:
        seed_singles |= extra_singles
        for p1 in seed_singles:
            probs.setdefault(p1, SINGLE_FLOOR)

    def e_step_expected(probs_b: "dict[str, float]"):
        """Arrow E-step: per word, forward-backward over the lattice;
        emit (piece, expected count × word count) in integer micro-units."""

        maxlen = max(map(len, probs_b), default=1)  # lattice scan bound

        def run(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                acc: dict[str, int] = {}
                for word, cnt in zip(pdf["pw"], pdf["c"]):
                    n = len(word)
                    alpha = [0.0] * (n + 1)
                    alpha[0] = 1.0
                    for i in range(1, n + 1):
                        s = 0.0
                        for j in range(max(0, i - maxlen), i):
                            p = probs_b.get(word[j:i])
                            if p:
                                s += alpha[j] * p
                        alpha[i] = s
                    if alpha[n] <= 0.0:
                        continue  # unsegmentable under current vocab
                    beta = [0.0] * (n + 1)
                    beta[n] = 1.0
                    for i in range(n - 1, -1, -1):
                        s = 0.0
                        for j in range(i + 1, min(n, i + maxlen) + 1):
                            p = probs_b.get(word[i:j])
                            if p:
                                s += p * beta[j]
                        beta[i] = s
                    z = alpha[n]
                    for i in range(n):
                        for j in range(i + 1, min(n, i + maxlen) + 1):
                            piece = word[i:j]
                            p = probs_b.get(piece)
                            if p:
                                e = alpha[i] * p * beta[j] / z
                                if e > 0.0:
                                    q = int(e * 1_000_000 * cnt + 0.5)
                                    if q:
                                        acc[piece] = acc.get(piece, 0) + q
                if acc:
                    yield pd.DataFrame(
                        {"piece": list(acc), "e_micro": list(acc.values())}
                    )

        return run

    for _ in range(em_iters):
        expected = (
            words.mapInPandas(e_step_expected(probs), "piece string, e_micro long")
            .groupBy("piece")
            .agg(F.sum("e_micro").alias("e"))
            .collect()
        )
        tot = float(sum(r["e"] for r in expected))
        if tot <= 0:
            break
        probs = {r["piece"]: r["e"] / tot for r in expected if r["e"] > 0}
        for p1 in seed_singles:
            probs.setdefault(p1, SINGLE_FLOOR)

    # prune: keep all singles, then the highest-expected multis by
    # (prob desc, piece asc) until vocab_size
    import math

    singles = {p: v for p, v in probs.items() if len(p) == 1}
    multis = sorted(
        ((v, p) for p, v in probs.items() if len(p) > 1),
        key=lambda t: (-t[0], t[1]),
    )
    keep = dict(singles)
    for v, p in multis:
        if len(keep) >= max(vocab_size, len(singles)):
            break
        keep[p] = v
    tot = sum(keep.values())
    out = [
        (p, max(1, int(-math.log(v / tot) * 1000 + 0.5)))
        for p, v in keep.items()
    ]
    out.sort(key=lambda t: (t[1], t[0]))
    words.unpersist()
    return out


def unigram_train_sampled(
    df: DataFrame,
    vocab_size: int,
    seed_min_count: int = 2,
    seed_max_len: int = 4,
    em_iters: int = 2,
    text: str = "text",
    sample_vocab: int = TRAIN_DRIVER_VOCAB_MAX,
    max_drift_ppm: "int | None" = None,
) -> "tuple[list[tuple[str, int]], dict]":
    """Sample-then-train for the Unigram-LM family (VERDICT r13 #3 — the
    production recipe :func:`bpe_train_sampled` and
    :func:`wordpiece_train_sampled` already follow, completing the triad):
    seed+EM on the top ``sample_vocab`` distinct words by ``(count desc,
    word asc)`` — the deterministic mass-carrying Zipf prefix, one
    distributed order-by-limit — then certify the learned vocabulary
    against the FULL corpus. This is SentencePiece's own answer to large
    corpora (``input_sentence_size`` sampling, Kudo & Richardson 2018
    §4.2); the unsampled :func:`unigram_train` stays available below its
    ``driver_piece_max`` ceiling.

    UNK-free floor across the sample boundary: single-char pieces are
    taken from the FULL corpus's character set (one alphabet-sized
    distributed aggregate) and injected at the EM survival floor — the
    ``wordpiece_train_sampled`` full-corpus base-piece rule — so a tail
    word whose characters the sample never saw still segments (pinned:
    ``unk_full_ppm == 0``).

    The CERTIFICATE (returned; optionally enforced): occurrence-weighted
    fertility — pieces emitted per word occurrence through the identical
    Viterbi encoder (:func:`unigram_pieces_str`) — on the sample vs the
    FULL distinct-word frame, ppm-quantized with floor division. Keys:
    ``{n_words_full, n_words_sampled, mass_covered_ppm, fert_sample_ppm,
    fert_full_ppm, drift_ppm, unk_sample_ppm, unk_full_ppm}``. With
    ``max_drift_ppm`` set, a breach raises ``ValueError`` carrying the
    certificate. Exactness pin (tested): ``sample_vocab`` ≥ the true
    distinct count → the vocabulary equals :func:`unigram_train`'s
    bit-for-bit and ``drift_ppm == 0``."""
    import pandas as pd

    from ..util import persist_once

    if sample_vocab < 1:
        raise ValueError("sample_vocab must be >= 1")
    spark = df.sparkSession
    w = F.col("word")
    words = persist_once(
        fan_out(df)
        .select(F.explode(tokens(F.col(text))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.concat(F.lit(UNIGRAM_WORD_MARK), w).alias("pw"), "c")
    )
    sample = words.orderBy(F.desc("c"), F.asc("pw")).limit(sample_vocab).collect()
    if not sample:
        words.unpersist()
        raise ValueError("unigram_train_sampled: empty corpus")
    # full-corpus character set (alphabet-sized) — the UNK-free floor;
    # extracted with the SAME substr semantics the seeding enumerates, so
    # an injected single is exactly what a full-corpus seed would have held
    pw1 = F.col("pw")
    subs1 = F.transform(
        F.sequence(F.lit(1), F.length(pw1)), lambda i: pw1.substr(i, F.lit(1))
    )
    full_singles = {
        r["ch"]
        for r in words.select(F.explode(subs1).alias("ch")).distinct().collect()
    }
    sample_df = literal_frame(spark, 
        [(r["pw"], int(r["c"])) for r in sample], "pw string, c long"
    )
    vocab = _unigram_train_over(
        sample_df,
        vocab_size,
        seed_min_count,
        seed_max_len,
        em_iters,
        0,  # the sample is driver-bounded by construction — no ceiling
        "unigram_train_sampled",
        extra_singles=full_singles,
    )
    costs = dict(vocab)
    mark_len = len(UNIGRAM_WORD_MARK)

    def _fert(pairs):
        tot_t = tot_c = tot_u = 0
        for bare, c in pairs:
            ps, _cost = unigram_pieces_str(bare, costs)
            tot_t += len(ps) * c
            tot_c += c
            if ps == [WORDPIECE_UNK]:
                tot_u += c
        return tot_t, tot_c, tot_u

    s_toks, s_occ, s_unk = _fert(
        (r["pw"][mark_len:], int(r["c"])) for r in sample
    )

    def fert_partial(batches):
        for pdf in batches:
            t = c = u = 0
            for pw_, cnt in zip(pdf["pw"], pdf["c"]):
                ps, _cost = unigram_pieces_str(pw_[mark_len:], costs)
                t += len(ps) * int(cnt)
                c += int(cnt)
                if ps == [WORDPIECE_UNK]:
                    u += int(cnt)
            yield pd.DataFrame({"t": [t], "c": [c], "u": [u]})

    row = (
        words.mapInPandas(fert_partial, "t long, c long, u long")
        .agg(F.sum("t").alias("t"), F.sum("c").alias("c"), F.sum("u").alias("u"))
        .collect()[0]
    )
    n_words_full = words.count()
    words.unpersist()
    f_toks, f_occ, f_unk = int(row["t"]), int(row["c"]), int(row["u"])
    fert_sample_ppm = (1_000_000 * s_toks) // s_occ
    fert_full_ppm = (1_000_000 * f_toks) // f_occ
    cert = {
        "n_words_full": int(n_words_full),
        "n_words_sampled": len(sample),
        "mass_covered_ppm": (1_000_000 * s_occ) // f_occ,
        "fert_sample_ppm": fert_sample_ppm,
        "fert_full_ppm": fert_full_ppm,
        "drift_ppm": (1_000_000 * abs(fert_full_ppm - fert_sample_ppm))
        // fert_sample_ppm,
        "unk_sample_ppm": (1_000_000 * s_unk) // s_occ,
        "unk_full_ppm": (1_000_000 * f_unk) // f_occ,
    }
    if max_drift_ppm is not None and cert["drift_ppm"] > max_drift_ppm:
        raise ValueError(
            f"unigram_train_sampled: fertility drift {cert['drift_ppm']} "
            f"ppm exceeds max_drift_ppm={max_drift_ppm}; the sample is not "
            f"representative — raise sample_vocab. Certificate: {cert}"
        )
    return vocab, cert


def wordpiece_save_vocab(spark, vocab: "list[str]", path: str) -> None:
    """Persist a WordPiece vocabulary as the shareable artifact
    ``(idx, piece)`` — the tokenizer-artifact parity rule
    (:func:`bpe_save_merges`): train once, apply everywhere. ``idx``
    records the list order (base pieces then learned merges) though
    greedy encoding itself is order-independent."""
    rows = [(i, p) for i, p in enumerate(vocab)]
    literal_frame(spark, rows, "idx int, piece string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def wordpiece_load_vocab(spark, path: str) -> "list[str]":
    """Load a ``wordpiece_save_vocab`` artifact back in stored order,
    validated: pieces must be unique and non-empty, and a ``##``
    continuation must carry a non-empty stem — a corrupted artifact
    raises here, not as silent [UNK] inflation downstream."""
    rows = spark.read.parquet(path).orderBy("idx").collect()
    vocab = [r.piece for r in rows]
    seen = set()
    for p in vocab:
        if not p or (p.startswith("##") and len(p) == 2):
            raise ValueError(f"wordpiece vocab artifact has invalid piece {p!r}")
        if p in seen:
            raise ValueError(f"wordpiece vocab artifact has duplicate piece {p!r}")
        seen.add(p)
    return vocab


def unigram_save_vocab(
    spark, vocab: "list[tuple[str, int]]", path: str
) -> None:
    """Persist a scored Unigram-LM vocabulary as ``(piece, cost_milli)``
    parquet — the artifact :func:`unigram_encode` consumes; cost is the
    authority, row order is not."""
    literal_frame(spark, 
        list(vocab), "piece string, cost_milli long"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def unigram_load_vocab(spark, path: str) -> "list[tuple[str, int]]":
    """Load a ``unigram_save_vocab`` artifact, validated (unique
    non-empty pieces, strictly positive integer costs — a zero or
    negative cost would make the Viterbi prefer infinite segmentations
    of its piece) and returned in the deterministic (cost, piece)
    order :func:`unigram_train` emits."""
    rows = spark.read.parquet(path).collect()
    seen = set()
    out = []
    for r in rows:
        p, c = r.piece, int(r.cost_milli)
        if not p:
            raise ValueError("unigram vocab artifact has an empty piece")
        if p in seen:
            raise ValueError(f"unigram vocab artifact has duplicate piece {p!r}")
        if c <= 0:
            raise ValueError(
                f"unigram vocab artifact has non-positive cost for {p!r}"
            )
        seen.add(p)
        out.append((p, c))
    out.sort(key=lambda t: (t[1], t[0]))
    return out
