"""Corpus curation operators a pretraining pipeline runs between raw
ingest and tokenization: benchmark decontamination, deterministic
train/validation splitting, per-source mixture sampling, PII redaction.

Green-field relative to the reference (its surface stops at the Lara
algebra + sensor/graph workloads); these follow the same contract as the
rest of ``pipelines/``: built-in expressions only (JVM, whole-stage
codegen), every hash bottoms out in md5 so a SQL oracle can replay the
exact decision, and the 100 TB shape is stated per operator.

Scale notes
-----------
* ``decontaminate``: the benchmark side is an eval set — thousands of
  documents, megabytes — so its distinct n-gram set broadcasts; the
  corpus is scanned once, and the only shuffled payload is the distinct
  set of contaminated doc ids (then itself broadcast for the anti-join).
  The 100 TB corpus never shuffles its text.
* ``hash_split`` / ``mix_sources``: pure map-side expressions — no
  shuffle, no RNG state. Reproducibility across runs, engines, and
  cluster sizes comes from hashing the row key, not from a seeded RNG
  (Spark's ``sample`` is partition-layout-dependent; a hash split is
  not).
* ``redact_pii``: map-only regexp rewrites.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..util import bind_once, fan_out, literal_frame, md5_mod, persist_once
from .text import TOKEN_SEP, bigram_arrays, tokens

# Fraction denominators: splits are decided by md5(key) mod BUCKETS.
# 15 hex digits = 60 bits, positive in both engines' BIGINT.
BUCKETS = 10_000
_HEX_DIGITS = 15

# PII patterns — shared literals with the oracle; plain ASCII classes so
# Java regex (Spark) and RE2 (DuckDB) agree.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9]{3}-[0-9]{3}-[0-9]{4}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
REDACTIONS = (("email", EMAIL_RE), ("phone", PHONE_RE), ("ip", IPV4_RE))


def trim_length_outliers(
    df: DataFrame,
    group: str = "source",
    length_col: str = "n_chars",
    id_col: str = "doc_id",
    pct: int = 1,
    two_phase: bool = True,
) -> DataFrame:
    """Drop each group's shortest and longest ``pct``% of documents — the
    standard length-outlier filter (truncated/binary-garbage docs at one
    end, concatenation accidents at the other), decided in PURE INTEGER
    rank arithmetic: keep rows with n·pct//100 < rank ≤ n − n·pct//100,
    rank ties broken by id. No float percentile → no engine-boundary
    flakes (DEVNOTES gotcha #4).

    Groups are domains/sources — ~20 of them — so a plain
    ``Window.partitionBy(group)`` sorts N/20 rows in 20 tasks regardless
    of cluster size. Default is therefore the partition-count-independent
    two-phase ranking (``operators.ranking.grouped_rank``); pass
    ``two_phase=False`` to keep the simple window when the group key is
    high-cardinality (groups ≫ cores), where the naive window is already
    parallel and skips the offset-table job."""
    if two_phase:
        from ..operators.ranking import grouped_rank

        ranked = grouped_rank(df, [group], [F.asc(length_col), F.asc(id_col)])
    else:
        w = Window.partitionBy(group).orderBy(F.asc(length_col), F.asc(id_col))
        wg = Window.partitionBy(group)
        ranked = df.withColumn("_r", F.row_number().over(w)).withColumn(
            "_n", F.count(F.lit(1)).over(wg)
        )
    ranked = ranked.withColumn("_lo", F.expr(f"(_n * {pct}) div 100"))
    return (
        ranked.filter((F.col("_r") > F.col("_lo")) & (F.col("_r") <= F.col("_n") - F.col("_lo")))
        .drop("_r", "_lo", "_n")
    )


def hash_bucket(key: Column) -> Column:
    """Deterministic bucket in [0, BUCKETS): md5 of the key's string form,
    top 60 bits, mod BUCKETS (util.md5_mod — the shared formula).
    DuckDB twin: ``('0x' || substr(md5(key), 1, 15))::BIGINT % 10000``."""
    return md5_mod(key.cast("string"), _HEX_DIGITS, BUCKETS).alias("bucket")


def word_ngrams(text: Column, n: int) -> Column:
    """Distinct word n-grams (space-joined token windows) of ``text``.
    A document shorter than ``n`` tokens contributes its whole text as
    one gram (floor of 1 — Spark ``sequence(1, 0)`` would count DOWN,
    not empty; the oracle mirrors with ``GREATEST(..., 1)``)."""
    def build(toks: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
        )

    # bound once — an inline tokens() in the window lambda re-splits the
    # document per gram (util.bind_once; O(tokens²) otherwise)
    return bind_once(tokens(text), build)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop corpus documents that share any word ``n``-gram with the
    benchmark set — eval-set decontamination, the step that keeps test
    questions out of the training corpus.

    Physical shape: benchmark n-grams are exploded, made distinct, and
    broadcast; the corpus explodes (id, n-gram) pairs into a broadcast
    inner join, so a contamination hit never leaves its scan task. The
    distinct contaminated-id set (tiny) broadcasts back into a left-anti
    join against the corpus — the full corpus payload is never shuffled.
    """
    bench_grams = (
        benchmark.select(F.explode(word_ngrams(F.col(text), n)).alias("_g")).distinct()
    )
    # the corpus-side n-gram explode is the heavy map — fan the scan out
    # to core count (no-op when it already has ≥cores splits)
    hits = (
        fan_out(corpus).select(F.col(id_col), F.explode(word_ngrams(F.col(text), n)).alias("_g"))
        .join(F.broadcast(bench_grams), on="_g")
        .select(id_col)
        .distinct()
    )
    return corpus.join(F.broadcast(hits), on=id_col, how="left_anti")


def decontaminate_fuzzy(
    train: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text: str = "text",
    id_col: str = "doc_id",
    num_perm: "int | None" = None,
    bands: "int | None" = None,
) -> DataFrame:
    """NEAR-duplicate eval decontamination (the fuzzy companion to
    ``decontaminate``'s exact n-gram hit rule — GPT-3 App. C / Llama-report
    style): drop every training document whose word-``n``-gram Jaccard
    with ANY benchmark document is ≥ ``threshold``, so paraphrased or
    lightly-edited copies of eval items are caught, not just verbatim
    overlaps.

    Physical shape — nothing is all-pairs, and the 100 TB corpus never
    shuffles its text:
      * both sides get MinHash band buckets (``dedup.minhash_band_buckets``
        — staged md5 projections, the interpreted-HOF lesson);
      * the BENCHMARK side is eval-set-sized, so its bucket table
        broadcasts; candidates = train docs sharing any (band, band-hash)
        bucket with a bench doc — a broadcast equi-join on the train
        bucket stream;
      * exact Jaccard verifies ONLY the candidates (benchmark shingle
        arrays broadcast; the train side joins its candidate ids);
      * the flagged-id set (tiny) broadcasts back as a left-anti join.
    Recall follows the LSH banding guarantee: a pair at Jaccard j is
    proposed with probability 1-(1-j^r)^b — tune (num_perm, bands) for
    the threshold; the defaults match the dedup family."""
    from . import dedup as dd

    num_perm = dd.NUM_PERM if num_perm is None else num_perm
    bands = dd.LSH_BANDS if bands is None else bands
    bt = dd.minhash_band_buckets(train, n, id_col, text, num_perm, bands)
    be = dd.minhash_band_buckets(benchmark, n, id_col, text, num_perm, bands)
    cand = (
        bt.join(
            F.broadcast(be.select("band", "bh", F.col("id").alias("_eid"))),
            on=["band", "bh"],
        )
        .select("id", "_eid")
        .dropDuplicates(["id", "_eid"])
    )
    sh_t = fan_out(train).select(
        F.col(id_col).alias("id"), dd.word_shingles(F.col(text), n).alias("_sha")
    )
    sh_e = benchmark.select(
        F.col(id_col).alias("_eid"), dd.word_shingles(F.col(text), n).alias("_shb")
    )
    inter = F.size(F.array_intersect("_sha", "_shb"))
    union = F.size("_sha") + F.size("_shb") - inter
    # The candidate-pair set broadcasts INTO the train shingle stream
    # (ids only, bounded by |bench bands| × bucket occupancy — the eval
    # set is small by contract, like `decontaminate`'s hit set), so the
    # corpus-sized shingle scan is never exchanged.
    flagged = (
        sh_t.join(F.broadcast(cand), on="id")
        .join(F.broadcast(sh_e), on="_eid")
        .filter(F.round(inter / union, 6) >= threshold)
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return train.join(F.broadcast(flagged), on=id_col, how="left_anti")


def contamination_score(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Graded companion to ``decontaminate``: instead of dropping docs
    that share ANY benchmark n-gram, report per-doc contamination —
    (doc_id, total_grams, contaminated_grams, contamination_ppm) — so a
    pipeline owner can audit near-contamination and choose a threshold
    rather than a boolean. Integer ppm via integral division
    (engine-exact).

    Grams are per-doc DISTINCT (word_ngrams semantics — the same gram
    repeated inside one doc counts once), and word_ngrams floors short
    docs to one whole-text gram, so every corpus doc appears in the
    output. Same physical shape as decontaminate: benchmark n-grams
    distinct + broadcast, the corpus gram stream aggregates in its scan
    stage (left-join marker + one partial+final count), payload never
    shuffles."""
    bench_grams = (
        benchmark.select(F.explode(word_ngrams(F.col(text), n)).alias("_g"))
        .distinct()
        .withColumn("_hit", F.lit(1).cast("long"))
    )
    g = fan_out(corpus).select(
        F.col(id_col), F.explode(word_ngrams(F.col(text), n)).alias("_g")
    )
    return (
        g.join(F.broadcast(bench_grams), on="_g", how="left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("total_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("contaminated_grams"),
        )
        .select(
            id_col,
            "total_grams",
            "contaminated_grams",
            F.expr("(1000000 * contaminated_grams) div total_grams").alias(
                "contamination_ppm"
            ),
        )
    )


def decon_build_index(
    benchmark: DataFrame,
    path: str,
    n: int = 5,
    text: str = "text",
) -> None:
    """Materialize the benchmark's distinct n-gram set as parquet — the
    stored counterpart of ``decontaminate`` (same pattern as the stored
    LSH/IVF indexes): hash the eval set once, then screen any number of
    corpus batches against the frozen index without re-reading the
    benchmark."""
    (
        benchmark.select(F.explode(word_ngrams(F.col(text), n)).alias("_g"))
        .distinct()
        .write.mode("overwrite")
        .parquet(path)
    )


def decon_filter_indexed(
    spark,
    path: str,
    corpus: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """``decontaminate`` against a stored index: identical result, same
    broadcast shape (gram set + contaminated-id set both broadcast; the
    corpus payload never shuffles). ``n`` must match the build."""
    bench_grams = spark.read.parquet(path)
    hits = (
        corpus.select(F.col(id_col), F.explode(word_ngrams(F.col(text), n)).alias("_g"))
        .join(F.broadcast(bench_grams), on="_g")
        .select(id_col)
        .distinct()
    )
    return corpus.join(F.broadcast(hits), on=id_col, how="left_anti")


def decon_filter_hashscreen(
    spark,
    path: str,
    corpus: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """``decon_filter_indexed`` for benchmark batteries too big to
    broadcast as STRINGS (r15): identical result — pinned by test and by
    sharing the exact decontamination oracle — via a two-stage screen
    that is the Spark-native shape of a Bloom pre-filter
    (``bloom_filter_agg`` is not public SQL in this Spark, and any
    sketch with false positives needs the same exact verify stage
    anyway):

    1. SCREEN — the stored gram set reduced to distinct ``xxhash64``
       values (8 bytes/gram — roughly an order of magnitude smaller
       than the gram strings a 5-gram averages) broadcasts into a
       semi-join on the corpus gram stream. Survivors = true hits +
       64-bit-collision noise (~|bench|·|corpus grams|/2⁶⁴ — vanishing,
       but not provably zero, hence stage 2).
    2. VERIFY — survivors (hit-rate-sized, carrying their gram strings)
       join the stored grams on STRING equality. No broadcast needed:
       the join is survivor-sized, so Catalyst/AQE picks a cheap
       strategy either way, and the full string set never ships to
       executors.

    The contaminated-id set then anti-joins back exactly as in
    ``decontaminate``. When the battery fits comfortably as a string
    broadcast, plain ``decon_filter_indexed`` has one fewer stage — this
    variant is the 100 TB path where the broadcast budget, not the scan,
    is the binding constraint. ``n`` must match the build."""
    return _hashscreen_anti_join(
        corpus, spark.read.parquet(path), text, id_col, n
    )


def decontaminate_hashscreen(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Frame-to-frame twin of :func:`decon_filter_hashscreen` (the
    ``decontaminate`` ↔ ``decon_filter_indexed`` relationship): same
    two-stage hash screen + exact verify, benchmark supplied as a
    DataFrame. Result is identical to :func:`decontaminate` — the screen
    only reduces the stream the exact verify sees."""
    bench_grams = benchmark.select(
        F.explode(word_ngrams(F.col(text), n)).alias("_g")
    ).distinct()
    return _hashscreen_anti_join(corpus, bench_grams, text, id_col, n)


def _hashscreen_anti_join(
    corpus: DataFrame, bench_grams: DataFrame, text: str, id_col: str, n: int
) -> DataFrame:
    bench_h = bench_grams.select(F.xxhash64("_g").alias("_h")).distinct()
    grams = fan_out(corpus).select(
        F.col(id_col), F.explode(word_ngrams(F.col(text), n)).alias("_g")
    ).withColumn("_h", F.xxhash64("_g"))
    survivors = grams.join(F.broadcast(bench_h), on="_h", how="leftsemi")
    hits = survivors.join(bench_grams, on="_g").select(id_col).distinct()
    return corpus.join(F.broadcast(hits), on=id_col, how="left_anti")


def hash_split(
    df: DataFrame,
    val_frac: float = 0.1,
    key: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/validation split: a row is ``val`` iff
    md5-bucket(key) < val_frac * BUCKETS. Stable under reruns, engine
    changes, repartitioning, and corpus growth (a doc's split never
    changes when other docs are added — unlike ``randomSplit``)."""
    cut = int(val_frac * BUCKETS)
    return df.withColumn(
        split_col,
        F.when(hash_bucket(F.col(key)) < cut, F.lit("val")).otherwise(F.lit("train")),
    )


def mix_sources(
    df: DataFrame,
    rates: Mapping[str, float],
    source_col: str = "source",
    key: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Weighted mixture sampling: keep a ``rates[source]`` fraction of
    each source, decided per-row by md5-bucket(source || ':' || key) —
    the data-mixing step that up/down-weights domains in a training
    corpus. Unlisted sources keep ``default_rate``. Deterministic and
    map-only (contrast ``DataFrame.sampleBy``, which draws from a seeded
    RNG whose outcome depends on partition layout)."""
    bucket = hash_bucket(F.concat_ws(":", F.col(source_col), F.col(key).cast("string")))
    cut = None
    for src, rate in rates.items():
        cond = F.col(source_col) == src
        lit = F.lit(int(rate * BUCKETS))
        cut = F.when(cond, lit) if cut is None else cut.when(cond, lit)
    cut = F.lit(int(default_rate * BUCKETS)) if cut is None else cut.otherwise(
        F.lit(int(default_rate * BUCKETS))
    )
    return df.filter(bucket < cut)


def cap_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    key: str = "doc_id",
    two_phase: bool = True,
) -> DataFrame:
    """Keep at most ``k`` rows per group, chosen by md5(key) order — the
    "at most k documents per domain" curation cap. Deterministic (no RNG,
    no partition-layout dependence).

    Groups are sources/domains — often a handful — so the default ranks
    via the partition-count-independent two-phase
    ``operators.ranking.grouped_rank`` (same reasoning as
    ``trim_length_outliers``: ``Window.partitionBy(source)`` sorts N/20
    rows in 20 tasks no matter the cluster size). Pass
    ``two_phase=False`` for the plain window when the group key is
    high-cardinality (groups ≫ cores), where the naive window is already
    parallel and skips the offset-table job."""
    order = [F.md5(F.col(key).cast("string")).asc(), F.col(key).asc()]
    if two_phase:
        from ..operators.ranking import grouped_rank

        ranked = grouped_rank(df, [group_col], order, rank_col="_rn")
        return ranked.filter(F.col("_rn") <= k).drop("_rn", "_n")
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def global_exclusive_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "offset",
    caches: "list | None" = None,
) -> DataFrame:
    """Exact global running total (exclusive) of ``value_col`` in
    ``order_cols`` order, without a global single-task window.

    Two-phase scan (same pattern as customer_spend_quartiles):
    range-repartition on the order key → per-partition window (parallel)
    → add per-partition offsets from a #partitions-sized collect (bounded
    by the cluster's partition count, never by data size). The result is
    bit-identical to ``SUM() OVER (ORDER BY ...)`` at any scale; the
    sampled range boundaries affect the partitioning, never the output —
    PROVIDED the persist below stays: the totals collect and the final
    join are two actions, and an unpersisted repartitionByRange can
    sample different bounds per action (DEVNOTES gotcha 15).

    ``caches``: loop callers (a foreachBatch body builds a NEW plan per
    micro-batch, so the internal pin would accumulate one CacheManager
    entry per batch — the line-loop lesson) pass a list; the pinned
    frame is appended for the caller to unpersist after its consumers
    have run. One-shot callers omit it.
    """
    nparts = df.sparkSession.sparkContext.defaultParallelism
    from ..util import persist_once

    ranged = persist_once(
        df.repartitionByRange(nparts, *[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
    )
    if caches is not None:
        caches.append(ranged)
    totals = {
        r["_pid"]: r["tot"]
        for r in ranged.groupBy("_pid").agg(F.sum(value_col).alias("tot")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += int(totals[pid])
    off_df = literal_frame(df.sparkSession, offsets or [(0, 0)], "_pid int, _off long")
    lw = (
        Window.partitionBy("_pid")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = F.coalesce(F.sum(value_col).over(lw), F.lit(0))
    return (
        ranged.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, (F.col("_off") + local).cast("long"))
        .drop("_pid", "_off")
    )


def pack_sequences(
    df: DataFrame,
    context_len: int,
    n_tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are concatenated in
    ``id_col`` order and cut every ``context_len`` tokens — the standard
    pretraining packing (documents may span a chunk boundary). Emits each
    doc's global ``start_tok``, its first chunk ``pack_id``, and how many
    chunks it spans. Built on the two-phase cumsum, so every stage is
    parallel at any corpus size."""
    cum = global_exclusive_cumsum(df, [id_col], n_tokens_col, out_col="start_tok")
    # integral `div`, not double-divide-then-cast: exact past 2^53 (a
    # 100 TB corpus is ~10^13 tokens; headroom matters)
    pack_first = F.expr(f"start_tok div {int(context_len)}")
    pack_last = F.expr(f"(start_tok + {n_tokens_col} - 1) div {int(context_len)}")
    return cum.withColumn("pack_id", pack_first).withColumn(
        "n_packs_spanned",
        F.when(F.col(n_tokens_col) == 0, F.lit(1).cast("long")).otherwise(
            pack_last - F.col("pack_id") + 1
        ),
    )


def shuffle_shards(
    df: DataFrame,
    n_shards: int,
    key: str = "doc_id",
) -> DataFrame:
    """Deterministic corpus shuffle for training: each row gets a
    ``shard`` (md5-bucket of key mod n_shards) and a ``pos`` within its
    shard (rank by a second, independent md5 — salted so shard routing
    and intra-shard order don't correlate). The (shard, pos) order is a
    reproducible pseudo-random permutation of the corpus — same result
    on any cluster layout, unlike ``orderBy(rand())``. Scale shape: one
    hash expression plus a window partitioned by shard (parallel across
    shards; a shard streams through the rank-only window)."""
    route = F.md5(F.col(key).cast("string"))
    order = F.md5(F.concat(F.lit("pos:"), F.col(key).cast("string")))
    shard = (
        F.conv(F.substring(route, 1, _HEX_DIGITS), 16, 10).cast("long") % n_shards
    ).alias("shard")
    w = Window.partitionBy("shard").orderBy(order, F.col(key))
    return (
        df.withColumn("shard", shard)
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
    )


def redact_pii(df: DataFrame, text: str = "text") -> DataFrame:
    """Replace emails / phone numbers / IPv4 literals with ``<TYPE>``
    tokens and count replacements per kind. Map-only; patterns are the
    module constants (ASCII classes → Java/RE2 agree)."""
    out = df
    redacted = F.col(text)
    for kind, pat in REDACTIONS:
        out = out.withColumn(
            f"n_{kind}",
            F.size(F.regexp_extract_all(F.col(text), F.lit(pat), F.lit(0))).cast("long"),
        )
        redacted = F.regexp_replace(redacted, pat, f"<{kind.upper()}>")
    return out.withColumn(text, redacted)


# --- DSIR-shaped importance scoring ------------------------------------------

# Hashed n-gram feature space size. 2^12 buckets: small enough that the
# bucket histograms and the Δ table are trivially broadcastable, large
# enough that unigram+bigram mass spreads (DSIR's published configs hash
# into 10^4-ish buckets).
DSIR_BUCKETS = 4096


def _hashed_feature_stream(df: DataFrame, text: str, n_buckets: int) -> DataFrame:
    """(doc_id, b): one row per unigram and bigram OCCURRENCE, hashed to a
    feature bucket with the cross-engine md5 pattern (32-bit hex prefix →
    mod n_buckets). Map-only; empty docs emit nothing."""
    def feats_of(toks: Column) -> Column:
        # bound once (util.bind_once): toks feeds heads, tails AND the
        # concat — an inline tokens() splits three times per row
        heads, tails = bigram_arrays(toks)
        bigrams = F.zip_with(heads, tails, lambda a, b: F.concat_ws(TOKEN_SEP, a, b))
        return F.concat(toks, bigrams)

    feats = bind_once(tokens(F.col(text)), feats_of)
    # hash AFTER the explode: a projection compiles under whole-stage
    # codegen while a transform lambda runs interpreted (same stage, the
    # feature string never reaches a shuffle — see _span_window_hashes)
    return fan_out(df).select("doc_id", F.explode(feats).alias("_f")).select(
        "doc_id", md5_mod(F.col("_f"), 8, n_buckets).alias("b")
    )


def dsir_importance(
    corpus: DataFrame,
    target: DataFrame,
    n_buckets: int = DSIR_BUCKETS,
    text: str = "text",
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023) SHAPE
    with integer-exact arithmetic: score each raw-corpus document by how
    much its hashed-n-gram (unigram+bigram) distribution looks like the
    TARGET corpus rather than the raw corpus.

    DSIR weights log p_target(f)/p_raw(f); here the per-bucket delta is
    the add-one-smoothed probability DIFFERENCE in ppm —
    ``Δ_b = (10⁶·(t_b+1)) div (T+B) − (10⁶·(r_b+1)) div (R+B)`` — so the
    whole score is BIGINT and a SQL oracle replays it bit-for-bit (a
    float log would hash-diverge in the last ulp). A doc's score is
    ``Σ_b c_b·Δ_b`` over its bucket counts, plus the per-feature mean in
    ppm (comparable across lengths — the resampling key). Positive mean
    ⇒ target-like. Docs with no tokens have no features and are absent
    (score undefined, like bigram_lm).

    Scale shape: the feature stream is corpus-token-sized but aggregates
    to per-(doc, bucket) counts with map-side combine — that frame is
    the only persist; BOTH histograms derive from it or the (small)
    target's stream. The Δ table is ≤ n_buckets rows and broadcasts;
    the totals are a bounded 1-row aggregate each. The 100 TB corpus
    text never shuffles — only (doc_id, b, c) triples do.

    Overflow: corpus-wide bucket counts cross int64·10⁻⁶ at 100 TB, so
    the ppm numerators widen to DECIMAL(38,0) (oracle: HUGEINT), same
    cliff discipline as ``text.BIGRAM_PPM_EXPR``. ``Σ c_b·Δ_b`` is
    bounded by 10⁶ · doc features — int64-safe."""
    from ..util import persist_once

    spark = corpus.sparkSession
    cf = persist_once(
        _hashed_feature_stream(corpus, text, n_buckets)
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    raw_hist = cf.groupBy("b").agg(F.sum("c").alias("rc"))
    tgt_hist = (
        _hashed_feature_stream(target, text, n_buckets)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("tc"))
    )
    buckets = spark.range(n_buckets).select(F.col("id").alias("b"))
    # hist persists (≤ n_buckets rows, bounded at any corpus scale): it
    # feeds BOTH the totals aggregate and the Δ projection — unpinned,
    # the whole target feature stream + raw histogram re-computed once
    # per consumer inside the nested broadcast subtrees (r16 profile).
    hist = persist_once(
        buckets.join(tgt_hist, on="b", how="left")
        .join(raw_hist, on="b", how="left")
        .select(
            "b",
            F.coalesce("tc", F.lit(0)).alias("tc"),
            F.coalesce("rc", F.lit(0)).alias("rc"),
        )
    )
    totals = hist.agg(F.sum("tc").alias("T"), F.sum("rc").alias("R"))
    delta = hist.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            F.expr(f"(CAST(1000000 AS DECIMAL(38,0)) * (tc + 1)) div (T + {n_buckets})")
            - F.expr(f"(CAST(1000000 AS DECIMAL(38,0)) * (rc + 1)) div (R + {n_buckets})")
        ).alias("delta"),
    )
    return (
        cf.join(F.broadcast(delta), on="b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_features"),
            F.sum(F.col("c") * F.col("delta")).alias("importance_score"),
        )
        .select(
            "doc_id",
            "n_features",
            "importance_score",
            F.expr("importance_score div n_features").alias("importance_avg_ppm"),
        )
    )


def train_quality_weights(
    pos: DataFrame,
    neg: DataFrame,
    n_buckets: int = DSIR_BUCKETS,
    text: str = "text",
) -> DataFrame:
    """Generatively-trained linear weights over the hashed feature space —
    the in-engine trainer for ``quality_classifier_score``. Per-bucket
    weight is the add-one-smoothed probability DIFFERENCE between the
    positive (curated/high-quality seed) and negative (background) corpora
    in ppm — the integer-exact stand-in for naive-Bayes log-odds (same
    arithmetic discipline as ``dsir_importance``'s Δ table: a float log
    would hash-diverge in the last ulp; the ppm difference ranks buckets
    identically for the smoothed regime these histograms live in).

    Output: exactly ``n_buckets`` rows ``(b, w)`` with ``w`` BIGINT ppm —
    small enough to broadcast whole at any corpus scale. The offline
    alternative (a fastText/logistic model trained elsewhere, quantized to
    ppm ints) plugs into the same scorer; this trainer exists so the whole
    FineWeb-Edu-style loop (seed → weights → score → filter) runs
    in-engine with an exact SQL oracle."""
    spark = pos.sparkSession
    ph = (
        _hashed_feature_stream(pos, text, n_buckets)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("pc"))
    )
    nh = (
        _hashed_feature_stream(neg, text, n_buckets)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    buckets = spark.range(n_buckets).select(F.col("id").alias("b"))
    # hist persists (≤ n_buckets rows, bounded): it feeds both the totals
    # aggregate and the weight projection — the dsir_importance fix (r16).
    hist = persist_once(
        buckets.join(ph, on="b", how="left")
        .join(nh, on="b", how="left")
        .select(
            "b",
            F.coalesce("pc", F.lit(0)).alias("pc"),
            F.coalesce("nc", F.lit(0)).alias("nc"),
        )
    )
    totals = hist.agg(F.sum("pc").alias("P"), F.sum("nc").alias("N"))
    return hist.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            F.expr(f"(CAST(1000000 AS DECIMAL(38,0)) * (pc + 1)) div (P + {n_buckets})")
            - F.expr(f"(CAST(1000000 AS DECIMAL(38,0)) * (nc + 1)) div (N + {n_buckets})")
        ).alias("w"),
    )


def quality_classifier_score(
    df: DataFrame,
    weights: DataFrame,
    bias_ppm: int = 0,
    threshold_ppm: int = 0,
    n_buckets: int = DSIR_BUCKETS,
    text: str = "text",
) -> DataFrame:
    """Learned quality-classifier inference (the FineWeb-Edu / DCLM filter
    shape): score every document with a broadcast LINEAR model over its
    hashed unigram+bigram features and flag keepers. ``weights`` is any
    ``(b, w)`` frame — ``train_quality_weights`` output or an offline
    fastText/logistic model quantized to ppm integers; missing buckets
    score 0 so sparse external models work unchanged.

    Output, one row per doc WITH features (token-less docs are absent,
    like ``dsir_importance``): ``(doc_id, n_features, logit_ppm, keep)``
    where ``logit_ppm = bias_ppm + (Σ_occ w_b(occ)) div n_features`` —
    the per-feature mean (fastText's mean-of-embeddings normalization,
    length-comparable) — and ``keep = logit_ppm >= threshold_ppm``.
    The sigmoid is monotone, so thresholding the integer logit is exactly
    thresholding the probability; keeping the arithmetic in BIGINT ppm
    means a SQL oracle replays every score bit-for-bit.

    Scale shape (100 TB): map-only scoring — the feature stream explodes
    and hash-joins the broadcast weight table inside one stage (weights
    ≤ n_buckets rows, a few KB); the only shuffle is the per-doc partial
    sum (docs-sized, map-side combine). The corpus text never shuffles,
    and no per-(doc, bucket) frame is materialized: Σ c_b·w_b is folded
    as Σ over occurrences of w. No Python in the hot path — the whole
    plan is whole-stage-codegen JVM, which is why (unlike the ANN/decon
    family) there is no Arrow twin: an Arrow path could only re-implement
    a slower version of this join+agg."""
    occ = _hashed_feature_stream(df, text, n_buckets)
    w = weights.select("b", F.col("w").cast("long").alias("_w"))
    return (
        occ.join(F.broadcast(w), on="b", how="left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.sum(F.coalesce("_w", F.lit(0))).alias("_dot"),
        )
        .select(
            "doc_id",
            "n_features",
            (F.lit(bias_ppm) + F.expr("_dot div n_features")).alias("logit_ppm"),
            (
                F.lit(bias_ppm) + F.expr("_dot div n_features")
                >= F.lit(threshold_ppm)
            )
            .cast("int")
            .alias("keep"),
        )
    )


def token_apportionment(
    df: DataFrame,
    budget: int,
    source_col: str = "source",
    text: str = "text",
) -> DataFrame:
    """Largest-remainder apportionment of a token BUDGET across sources —
    the integer-exact core of mixture planning ("give each domain
    tokens ∝ its size, summing to exactly the budget"): the classic
    Hamilton method, fully deterministic and replayable by a SQL oracle
    (a float-weight normalization would last-ulp-diverge across
    engines).

    Per source s with t_s tokens (corpus total T):
    ``floor_alloc = (budget·t_s) div T``; the ``budget − Σ floor_alloc``
    leftover units go one each to the sources with the largest
    remainders (``(budget·t_s) mod T`` desc, source asc — total order,
    deterministic cut). Σ alloc_tokens == budget exactly whenever
    budget ≥ 0 and T > 0; a ZERO-token corpus (T == 0) yields all-zero
    shares and allocations rather than an ANSI divide-by-zero in the
    executor (there is nothing to apportion over — the budget is
    deliberately NOT distributed). Output per source: n_docs, n_tokens,
    share_ppm (of corpus), alloc_tokens.

    Scale shape: one map-side-combine aggregate to a SOURCES-sized frame
    (domains: thousands at most), then window arithmetic on that tiny
    frame — the corpus is scanned once and never shuffled. The
    ``budget·t_s`` product uses a DECIMAL(38,0) intermediate (oracle:
    HUGEINT): both factors can be ~10¹³ at 100 TB, and their product
    overflows int64 at ~9.2e18."""
    return apportion_token_counts(
        _per_source_tokens(df, source_col, text), budget, source_col
    )


def _per_source_tokens(df: DataFrame, source_col: str, text: str) -> DataFrame:
    """(source, n_docs, n_tokens) via one map-side-combine aggregate."""
    return (
        fan_out(df)
        .groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(tokens(F.col(text))).cast("long")).alias("n_tokens"),
        )
    )


def apportion_token_counts(
    per_src: DataFrame,
    budget: int,
    source_col: str = "source",
    weight_col: str = "n_tokens",
) -> DataFrame:
    """The Hamilton largest-remainder core of ``token_apportionment``,
    factored over a pre-aggregated ``(source, n_docs, n_tokens)`` frame
    so ANY token counter drives the same integer-exact allocation —
    whitespace counts (``token_apportionment``), real BPE counts
    (``bpe_token_apportionment_q``), or an offline tokenizer's exported
    per-source totals. ``weight_col`` picks the BIGINT column the
    proportions follow (default the raw token counts; ``alpha_mixture``
    passes its temperature-quantized weights), with every other input
    column passed through. Same output contract and overflow discipline
    as the wrapper (see its docstring); ``share_ppm`` is the weight
    share."""
    if budget < 0:
        raise ValueError("budget must be >= 0")
    tot = per_src.agg(F.sum(weight_col).alias("t_tot"))
    staged = per_src.crossJoin(F.broadcast(tot)).select(
        per_src["*"],
        F.expr(
            "CASE WHEN t_tot > 0 THEN"
            f" (CAST(1000000 AS DECIMAL(38,0)) * {weight_col}) div t_tot"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("share_ppm"),
        F.expr(
            f"CASE WHEN t_tot > 0 THEN"
            f" (CAST({budget} AS DECIMAL(38,0)) * {weight_col}) div t_tot"
            f" ELSE CAST(0 AS BIGINT) END"
        ).alias("_floor"),
        F.expr(
            f"CASE WHEN t_tot > 0 THEN"
            f" CAST((CAST({budget} AS DECIMAL(38,0)) * {weight_col}) % t_tot AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END"
        ).alias("_rem"),
    )
    # leftover units = budget − Σ floors; rank sources by remainder desc
    # (source asc tie-break) — both frames are sources-sized, the window
    # is the whole tiny frame (documented bounded single partition).
    # T == 0 → no leftover distribution either (floors are all 0)
    left = staged.agg(
        F.when(F.max(weight_col) > 0, F.lit(budget) - F.sum("_floor"))
        .otherwise(F.lit(0))
        .alias("_left")
    )
    w = Window.orderBy(F.desc("_rem"), F.asc(source_col))
    return (
        staged.crossJoin(F.broadcast(left))
        .withColumn("_rk", F.row_number().over(w))
        .select(
            *per_src.columns,
            "share_ppm",
            (F.col("_floor") + F.when(F.col("_rk") <= F.col("_left"), 1).otherwise(0))
            .cast("long")
            .alias("alloc_tokens"),
        )
    )


ALPHA_WEIGHT_SCALE = 1000  # milli-quantization of the tempered weight


def alpha_mixture(
    df: DataFrame,
    budget: int,
    alpha_quarters: int = 2,
    source_col: str = "source",
    text: str = "text",
) -> DataFrame:
    """Temperature-based mixture planning — the exponentiated-smoothing
    sampler of multilingual pretraining (Devlin et al. 2019 mBERT
    exponent 0.7; Conneau et al. 2020 XLM-R α = 0.3): sample source s
    with probability ``p_s ∝ n_s^α``, flattening the size distribution
    so low-resource sources are upsampled. α = ``alpha_quarters``/4 ∈
    {0, ¼, ½, ¾, 1}: dyadic quarters because ``n^(k/4)`` is a product of
    iterated ``sqrt`` calls, and IEEE-754 requires sqrt (and ×) to be
    correctly rounded — the weight doubles are therefore BIT-IDENTICAL
    across engines, unlike a ``pow()`` whose libm differs (gotcha #4's
    cross-engine float discipline, extended to roots). α = 0 weights
    every non-empty source equally (the T → ∞ uniform limit); empty
    sources get weight 0 at every α.

    The weight is milli-quantized (``floor(1000·n^α)`` BIGINT)
    immediately, so every downstream sum/ratio/apportionment is integer
    arithmetic — no float SUM order hazard. Output per source:
    ``n_docs, n_tokens, weight_q, sample_ppm`` (the tempered sampling
    probability), ``alloc_tokens`` (Hamilton largest-remainder share of
    ``budget`` by weight — Σ == budget exactly), and ``upsample_ppm``
    (alloc/n_tokens; > 10⁶ means the source repeats epochs — the
    UNIMAX-style signal planners cap on).

    Scale shape: one corpus scan into the sources-sized frame, then
    tiny-frame arithmetic (``apportion_token_counts``)."""
    if not 0 <= alpha_quarters <= 4:
        raise ValueError("alpha_quarters must be in [0, 4] (α = quarters/4)")
    per_src = _per_source_tokens(df, source_col, text)
    n = F.col("n_tokens").cast("double")
    r2 = F.sqrt(n)
    r4 = F.sqrt(r2)
    w = {
        0: F.when(n > 0, F.lit(1.0)).otherwise(F.lit(0.0)),
        1: r4,
        2: r2,
        3: r2 * r4,
        4: n,
    }[alpha_quarters]
    weighted = per_src.withColumn(
        "weight_q", F.floor(F.lit(float(ALPHA_WEIGHT_SCALE)) * w).cast("long")
    )
    out = apportion_token_counts(
        weighted, budget, source_col, weight_col="weight_q"
    ).withColumnRenamed("share_ppm", "sample_ppm")
    return out.withColumn(
        "upsample_ppm",
        F.expr(
            "CASE WHEN n_tokens > 0 THEN"
            " (CAST(1000000 AS DECIMAL(38,0)) * alloc_tokens) div n_tokens"
            " ELSE CAST(0 AS BIGINT) END"
        ),
    )


def unimax_allocation(
    df: DataFrame,
    budget: int,
    max_epochs: int = 4,
    source_col: str = "source",
    text: str = "text",
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023): distribute a token
    budget as UNIFORMLY as possible across sources, but never repeat a
    source beyond ``max_epochs`` passes — the fairness-first alternative
    to temperature sampling (:func:`alpha_mixture`) that provably
    minimizes worst-case per-source epochs. Output per source:
    ``n_docs, n_tokens, capacity_tokens (= max_epochs·n_tokens),
    alloc_tokens, capped, epochs_ppm``.

    Exact integer water-filling, closed-form over windows: sort sources
    ascending by (capacity, source). The capped set is a PREFIX of that
    order — if ``c_i·(K−i+1) > B − P_{i−1}`` fails at i it fails at
    every j > i (ascending capacities; the classic waterfill argument) —
    so ``capped_i ⇔ c_i·(K−i+1) ≤ B − P_{i−1}`` directly, no iteration.
    Capped sources take their full capacity; the remaining budget
    ``R = B − ΣC_capped`` splits evenly over the ``u`` uncapped sources
    (``R div u`` each, the ``R mod u`` leftover one-each to the first
    uncapped in sort order — which cannot breach a cap:
    ``c_i·u > R ⇒ c_i ≥ R div u + 1``). Σ alloc == min(budget, ΣC)
    exactly. Products go through DECIMAL(38,0) (100 TB token counts ×
    budget overflow int64 — the ``token_apportionment`` discipline).

    Scale shape: one corpus scan to the sources-sized frame, then
    whole-frame windows on that tiny frame (documented bounded single
    partition — the apportionment precedent)."""
    if budget < 0:
        raise ValueError("budget must be >= 0")
    if max_epochs < 1:
        raise ValueError("max_epochs must be >= 1")
    per_src = _per_source_tokens(df, source_col, text).withColumn(
        "capacity_tokens", (F.lit(max_epochs) * F.col("n_tokens")).cast("long")
    )
    w_ord = Window.orderBy(F.asc("capacity_tokens"), F.asc(source_col))
    staged = per_src.select(
        "*",
        F.row_number().over(w_ord).alias("_i"),
        F.coalesce(
            F.sum("capacity_tokens").over(
                w_ord.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_pprev"),
        F.count(F.lit(1)).over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("_k"),
    ).withColumn(
        "capped",
        F.expr(
            f"CAST(capacity_tokens AS DECIMAL(38,0)) * (_k - _i + 1)"
            f" <= CAST({budget} AS DECIMAL(38,0)) - _pprev"
        ),
    )
    tot = staged.agg(
        F.coalesce(F.sum(F.when(F.col("capped"), 1)), F.lit(0)).alias("_m"),
        F.coalesce(
            F.sum(F.when(F.col("capped"), F.col("capacity_tokens"))), F.lit(0)
        ).alias("_pm"),
    )
    alloc = F.when(F.col("capped"), F.col("capacity_tokens")).otherwise(
        F.expr(f"CAST(({budget} - _pm) AS BIGINT) div (_k - _m)")
        + F.when(
            (F.col("_i") - F.col("_m"))
            <= F.expr(f"CAST(({budget} - _pm) AS BIGINT) % (_k - _m)"),
            1,
        ).otherwise(0)
    )
    return (
        staged.crossJoin(F.broadcast(tot))
        .select(
            source_col,
            "n_docs",
            "n_tokens",
            "capacity_tokens",
            alloc.cast("long").alias("alloc_tokens"),
            "capped",
        )
        .withColumn(
            "epochs_ppm",
            F.expr(
                "CASE WHEN n_tokens > 0 THEN"
                " (CAST(1000000 AS DECIMAL(38,0)) * alloc_tokens) div n_tokens"
                " ELSE CAST(0 AS BIGINT) END"
            ),
        )
    )


def split_leakage_report(
    df: DataFrame,
    val_frac: float = 0.1,
    n: int = 5,
    key: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Train→validation n-gram leakage audit over the deterministic
    ``hash_split``: how many of the val split's distinct word n-grams
    also appear in train (the leakage the split is supposed to prevent
    for MEMORIZABLE spans — high ppm here means val loss measures recall
    of train text, not generalization). One summary row:
    (val_distinct_grams, leaked_grams, leakage_ppm).

    Shape: the (split, gram) stream is computed ONCE and persisted —
    its three consumers (val set, train set, val count) are distinct
    subtrees, so without the persist each action would re-scan and
    re-tokenize the corpus; each side then reduces to its DISTINCT gram
    set (hash aggregate), sized by vocabulary not corpus; the leak
    count is a join of those two sets on the gram. Integer ppm;
    0/0 → 0."""
    from ..util import persist_once

    split = hash_split(df, val_frac=val_frac, key=key)
    grams = persist_once(
        fan_out(split).select(
            "split", F.explode(word_ngrams(F.col(text), n)).alias("_g")
        )
    )
    # val_g persists (vocabulary-bounded): it feeds both the leak
    # semi-join and the val count — unpinned, each consumer re-ran the
    # distinct aggregate over the corpus-sized gram cache (r16).
    val_g = persist_once(
        grams.filter(F.col("split") == "val").select("_g").distinct()
    )
    train_g = grams.filter(F.col("split") == "train").select("_g").distinct()
    leaked = val_g.join(train_g, on="_g", how="left_semi")
    return (
        val_g.agg(F.count(F.lit(1)).alias("val_distinct_grams"))
        .crossJoin(F.broadcast(leaked.agg(F.count(F.lit(1)).alias("leaked_grams"))))
        .select(
            "val_distinct_grams",
            "leaked_grams",
            F.expr(
                "CASE WHEN val_distinct_grams > 0 THEN"
                " (1000000 * leaked_grams) div val_distinct_grams"
                " ELSE CAST(0 AS BIGINT) END"
            ).alias("leakage_ppm"),
        )
    )


def source_datacard(
    df: DataFrame, text: str = "text", source_col: str = "source"
) -> DataFrame:
    """Per-source corpus data card — the summary table a "Datasheets for
    Datasets" / data-card process asks for before a source enters a
    training mix, as ONE integer-exact report: volume (docs, tokens,
    mean doc length), language composition (distinct langs, dominant
    lang + its ppm share), and exact-duplicate contamination
    (``1e6·(n_docs − distinct md5(text)) div n_docs`` — the
    within-source rate of byte-identical repeats). All ratios are ppm
    via integral division, so a SQL oracle hash-matches bit-for-bit.

    Scale shape: two aggregates over one corpus scan — per-(source,
    lang) doc counts (a languages×sources-sized frame) and the
    per-source rollup with map-side partial aggregation
    (``count_distinct`` on the md5 digest expands to a two-stage
    distinct aggregate; the shuffled key is the 32-char digest, never
    the payload). The dominant-language rank windows the tiny
    (source, lang) frame PARTITIONED BY SOURCE — parallelism equals the
    source count, and both dimensions are catalog-sized (hundreds of
    sources × ~200 languages) at any corpus size. NULL lang is a
    composition bucket like any other ("unknown"); NULL text counts 0
    tokens and one doc.
    """
    from .text import tokens

    n_toks = F.size(tokens(F.coalesce(F.col(text), F.lit(""))))
    per = df.groupBy(
        source_col,
        F.coalesce(F.col("lang"), F.lit("unknown")).alias("_lang"),
    ).agg(F.count(F.lit(1)).alias("_lc"))
    w = Window.partitionBy(source_col).orderBy(F.desc("_lc"), F.asc("_lang"))
    lang_top = (
        per.withColumn("_rk", F.row_number().over(w))
        .groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("n_langs"),
            F.max(F.when(F.col("_rk") == 1, F.col("_lang"))).alias("top_lang"),
            F.max(F.when(F.col("_rk") == 1, F.col("_lc"))).alias("_top_n"),
        )
    )
    base = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_toks.cast("long")).alias("n_tokens"),
        F.count_distinct(F.md5(F.coalesce(F.col(text), F.lit("")))).alias("_uniq"),
    )
    return (
        base.join(lang_top, on=source_col)
        .select(
            source_col,
            "n_docs",
            "n_tokens",
            F.expr("n_tokens div n_docs").alias("mean_doc_tokens"),
            "n_langs",
            "top_lang",
            F.expr("(1000000 * _top_n) div n_docs").alias("top_lang_ppm"),
            F.expr("(1000000 * (n_docs - _uniq)) div n_docs").alias("exact_dup_ppm"),
        )
    )


def train_multiclass_weights(
    df: DataFrame,
    label_col: str = "lang",
    n_buckets: int = DSIR_BUCKETS,
    text: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """In-engine trainer for :func:`multiclass_classify` — the fastText
    supervised shape (Joulin et al. 2017: hashed n-gram features, linear
    per-class scores, mean-pooled) with the same generative integer-exact
    stand-in as ``train_quality_weights``, per CLASS: the add-one-smoothed
    probability of bucket b under class y, in ppm,
    ``w_{b,y} = (10⁶·(c_{b,y}+1)) div (C_y + B)``. The canonical use is
    learned language-ID (CCNet runs fastText langid before its LM
    buckets), but any label column works.

    Returns TWO frames shaped for the 100 TB scorer:
      * ``weights``: SPARSE ``(b, label, w)`` — only observed (c>0)
        buckets, ≤ min(corpus features, B·K) rows;
      * ``class_stats``: ``(label, n_feats, floor_w)`` with ``floor_w``
        the unobserved-bucket weight ``(10⁶·1) div (C_y+B)``.
    Dense scoring ≡ ``nf·floor_y + Σ_{observed} (w−floor_y)`` EXACTLY
    (integer arithmetic, no reassociation), so the scorer never
    materializes the dense bucket×class table — for a 200-language model
    that is the difference between joining the feature stream against
    4096·200 rows and against the observed sliver. NULL labels fold to
    'unknown' (a class like any other)."""
    lab = F.coalesce(F.col(label_col), F.lit("unknown"))

    def feats_of(toks: Column) -> Column:
        # bound once (util.bind_once) — same 3×-tokenize reason as
        # _hashed_feature_stream
        heads, tails = bigram_arrays(toks)
        return F.concat(
            toks, F.zip_with(heads, tails, lambda a, b: F.concat_ws(TOKEN_SEP, a, b))
        )

    feats = bind_once(tokens(F.col(text)), feats_of)
    # label rides the explode (no doc_id join — the stream never re-keys)
    ch = (
        fan_out(df)
        .select(lab.alias("label"), F.explode(feats).alias("_f"))
        .select("label", md5_mod(F.col("_f"), 8, n_buckets).alias("b"))
        .groupBy("label", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ch = persist_once(ch)
    stats = ch.groupBy("label").agg(F.sum("c").alias("n_feats")).select(
        "label",
        "n_feats",
        F.expr(
            f"cast((CAST(1000000 AS DECIMAL(38,0))) div (n_feats + {n_buckets}) as bigint)"
        ).alias("floor_w"),
    )
    weights = ch.join(F.broadcast(stats), on="label").select(
        "b",
        "label",
        F.expr(
            f"cast((CAST(1000000 AS DECIMAL(38,0)) * (c + 1)) div (n_feats + {n_buckets}) as bigint)"
        ).alias("w"),
    )
    return weights, stats


def multiclass_classify(
    df: DataFrame,
    weights: DataFrame,
    class_stats: DataFrame,
    n_buckets: int = DSIR_BUCKETS,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document against every class and emit the argmax —
    ``(id, n_features, pred_label, score_ppm)`` with ``score_ppm`` the
    winner's per-feature mean weight (length-comparable). Ties break to
    the SMALLEST label in the label type's order (labels keep
    ``class_stats``' type, string or integer); token-less docs have no
    features and are absent (``quality_classifier_score`` discipline).

    Scale shape: per-(doc, bucket) counts with map-side combine are the
    only persist (the ``dsir_importance`` frame); the sparse weight
    sliver and the K-row class table broadcast. Dense-equivalent scoring
    via the floor decomposition (see trainer) — Σ c·w over a dense
    bucket×class table would multiply the feature stream by K; here only
    OBSERVED (b, label) weight rows join. The argmax is one aggregate of
    ``max(struct(score, class_rank))`` — no per-doc window, no second
    shuffle beyond the docs×K score frame."""
    cf = persist_once(
        _hashed_feature_stream(df, text, n_buckets)
        .groupBy(id_col, "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # bounded collect: the whole class table (≤ a few hundred rows) — the
    # centroid/offset-table precedent. Collected ONCE and rebuilt as a
    # literal frame (r16): as a plan, the two broadcast consumers below
    # each re-aggregated the class stats from the trainer's cached count
    # frame, and the distinct-labels collect was a third pass. rank:
    # smaller label ↔ LARGER rank so max(struct(score, rank)) tie-breaks
    # to the smallest label.
    stats_rows = sorted(
        ({(r["label"], int(r["n_feats"]), int(r["floor_w"])) for r in class_stats.collect()}),
    )
    classes = sorted({lab for lab, _, _ in stats_rows})
    if not classes:
        raise ValueError("class_stats is empty — train on a non-empty corpus")
    label_t = class_stats.schema["label"].dataType.simpleString()
    class_stats = literal_frame(
        df.sparkSession, stats_rows, f"label {label_t}, n_feats long, floor_w long"
    )
    rank_of = {lab: len(classes) - i for i, lab in enumerate(classes)}
    label_of = F.create_map(
        *[x for lab in classes for x in (F.lit(rank_of[lab]), F.lit(lab))]
    )
    adj = (
        cf.join(
            F.broadcast(
                weights.join(F.broadcast(class_stats), on="label").select(
                    "b", "label", (F.col("w") - F.col("floor_w")).alias("_dw")
                )
            ),
            on="b",
        )
        .groupBy(id_col, "label")
        .agg(F.sum(F.col("c") * F.col("_dw")).alias("_adj"))
    )
    nf = cf.groupBy(id_col).agg(F.sum("c").alias("n_features"))
    scores = (
        nf.crossJoin(F.broadcast(class_stats.select("label", "floor_w")))
        .join(adj, on=[id_col, "label"], how="left")
        .select(
            id_col,
            "n_features",
            "label",
            (
                F.col("n_features") * F.col("floor_w")
                + F.coalesce(F.col("_adj"), F.lit(0))
            ).alias("_s"),
        )
    )
    rank_expr = F.element_at(
        F.create_map(*[x for lab in classes for x in (F.lit(lab), F.lit(rank_of[lab]))]),
        F.col("label"),
    )
    best = (
        scores.withColumn("_rk", rank_expr)
        .groupBy(id_col)
        .agg(
            F.max(F.struct(F.col("_s"), F.col("_rk"))).alias("_best"),
            F.first("n_features").alias("n_features"),
        )
    )
    return best.select(
        id_col,
        "n_features",
        F.element_at(label_of, F.col("_best._rk")).alias("pred_label"),
        F.expr("_best._s div n_features").alias("score_ppm"),
    )


def materialize_mixture(
    df: DataFrame,
    allocation: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic FRACTIONAL-EPOCH materialization of a per-source
    token allocation — the step after :func:`unimax_allocation` /
    :func:`alpha_mixture` DECIDE budgets: turn ``alloc_tokens`` into an
    actual instance stream with repeats.

    ``allocation`` is any ``(source, n_tokens, alloc_tokens)`` frame
    (both planners emit it). With per-source rate r = alloc/avail, every
    doc is emitted ``floor(r)`` times (full epochs — epoch semantics
    mean full bit-identical passes), plus ONE extra copy for the
    md5-selected fraction of docs: ``bucket("mix:"||id) <
    ((alloc mod avail)·BUCKETS) div avail``. All integer arithmetic, so
    the oracle replays every per-doc copy count; the hash key is
    namespaced so mixture selection is independent of ``hash_split``'s
    buckets. Like those, the choice is layout-independent and stable
    under corpus growth — reruns and engine changes emit the SAME
    instances (Spark ``sample`` can guarantee neither).

    The doc-count fraction is exact to 1/BUCKETS; emitted TOKENS hit the
    fractional budget in expectation (doc sizes vary — exact-token
    packing is a knapsack no production mixture bothers with). Sources
    with ``n_tokens = 0`` or ``alloc_tokens = 0`` emit nothing.

    Output: the input columns plus ``epoch_idx`` (0-based copy index).
    Scale shape: broadcast the sources-sized allocation, map-side
    explode — no shuffle at all."""
    alloc = allocation.select(
        source_col,
        F.col("n_tokens").alias("_avail"),
        F.col("alloc_tokens").alias("_alloc"),
    )
    j = fan_out(df).join(F.broadcast(alloc), on=source_col)
    full = F.expr("_alloc div _avail")
    frac_buckets = F.expr(f"((_alloc % _avail) * {BUCKETS}) div _avail")
    extra = F.when(
        md5_mod(
            F.concat(F.lit("mix:"), F.col(id_col).cast("string")),
            _HEX_DIGITS,
            BUCKETS,
        )
        < frac_buckets,
        1,
    ).otherwise(0)
    copies = F.when(F.col("_avail") > 0, full + extra).otherwise(F.lit(0))
    return (
        j.withColumn("_copies", copies.cast("int"))
        .filter(F.col("_copies") > 0)
        .select(
            *df.columns,
            F.explode(F.sequence(F.lit(0), F.col("_copies") - 1)).alias("epoch_idx"),
        )
    )
