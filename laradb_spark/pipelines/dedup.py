"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Cross-engine determinism: every hash bottoms out in md5 (bit-stable in
Spark and DuckDB); hex→int is Spark ``conv(hex,16,10)`` ≡ DuckDB
``('0x'||hex)::BIGINT`` (verified identical). MinHash permutations are
fixed literal (a,b) pairs over a >2^32 prime, so oracles can replay them.

Scale design:
  * exact dedup — one hash-shuffle on the digest; at 100 TB shuffle only
    (digest, id), never the payload.
  * minhash signatures — map-only (md5 shingle hashes JVM-side, the
    permutation mins in one NumPy pandas_udf);
    LSH banding turns all-pairs O(n²) into a groupBy on (band, hash) —
    the shuffle key is the band bucket, and skewed buckets (boilerplate
    docs) are exactly what AQE skew-split handles.
  * n-gram Jaccard all-pairs is provided for verification and small
    tables; production flow is minhash_lsh_pairs → jaccard on candidates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import CPU_HEAVY, bind_once, fan_out, persist_once
from .text import TOKEN_SEP, tokens

# MinHash parameters — frozen literals (the oracle embeds the same values).
MINHASH_PRIME = 4294967311  # smallest prime > 2^32
NUM_PERM = 32
LSH_BANDS = 8  # 8 bands × 4 rows
_A = [
    2946901401, 3733118389, 2546091183, 1537970091, 1336117351, 2699978677, 3683455469,
    2126739653, 3681294037, 1147297823, 3752143063, 2350680571, 3368653217, 2828672783,
    3877742507, 1133999011, 2513596241, 3827373293, 1222972351, 3311392021, 2146798463,
    1716862723, 3629379941, 2834395141, 3540370171, 2147934911, 1938953189, 3571288073,
    2780366567, 1281872813, 3920717293, 2300076001,
]
_B = [
    1163945558, 2525445144, 3698413170, 1520437606, 2568907826, 3346912824, 1102465520,
    2247129644, 3764508926, 1780200226, 2944006574, 3432044514, 1682894872, 2168662428,
    3542300888, 1922336672, 3174466262, 1436055766, 2851777264, 3994442236, 1374156898,
    2364337826, 3811932432, 1108975262, 2909025874, 3145994172, 1840013750, 2590123566,
    3960229870, 1286495950, 2415043780, 3696218774,
]
# Guard: a*s must not overflow int64 (DuckDB errors on BIGINT overflow).
# s < 2^32 and a < 2^32 would overflow; reduce s to 31 bits first.
SHINGLE_BITS_MOD = 2147483647  # 2^31 - 1


def _shingles_of(toks: Column, n: int) -> Column:
    """Distinct shingle windows over an ALREADY-STAGED token array — the
    shared builder behind ``word_shingles`` (which binds the split) and
    the staged-projection form the Python-UDF consumers need (see
    ``minhash_signatures``)."""
    cnt = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(cnt - n + 1, F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(TOKEN_SEP, F.slice(toks, i, n)))
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a document. Token array bound
    once (util.bind_once) — an inline ``tokens()`` in the window lambda
    re-splits the document per shingle, O(tokens²).

    Do NOT pass this bound form as a Python-UDF argument: Spark 4.1's
    UDF extraction intermittently leaves the UDF un-extracted when its
    argument contains ``get(transform(array(...)))`` and the session has
    already compiled the same query against a different source
    (internal-error crash at execution; reproduced). UDF consumers stage
    the token array as a real column and call ``_shingles_of`` on the
    attribute instead."""
    return bind_once(tokens(text), lambda tk: _shingles_of(tk, n))


def shingle_hash(sh: Column) -> Column:
    """Cross-engine-stable 31-bit shingle hash (util.md5_mod formula)."""
    from ..util import md5_mod

    return md5_mod(sh, 8, SHINGLE_BITS_MOD)


# --- exact dedup -------------------------------------------------------------

def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup by content digest: one row per content cluster with the
    representative (min id) and the cluster size."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def drop_exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Return df minus non-representative duplicate rows (keeps min id)."""
    keep = exact_duplicates(df, id_col, text_col).select(F.col("keep_id").alias(id_col))
    return df.join(keep, on=id_col, how="left_semi")


def digest_build_index(df: DataFrame, path: str, text_col: str = "text") -> None:
    """Materialize the corpus's distinct content-digest set as parquet —
    the frozen half of INCREMENTAL exact dedup (the production ingest
    shape: the historical corpus is hashed once; every new shard screens
    against the index instead of re-scanning history). Append new shards'
    digests with ``mode='append'`` after accepting them."""
    (
        df.select(F.md5(F.col(text_col)).alias("digest"))
        .distinct()
        .write.mode("overwrite")
        .parquet(path)
    )


def drop_seen_digests(df: DataFrame, index_path: str, text_col: str = "text") -> DataFrame:
    """Drop rows whose content digest already exists in the stored index —
    incremental exact dedup of a new batch against the historical corpus.

    Works on BATCH and STREAMING ``df`` alike: the plan is a stream-static
    left-anti join (supported by Structured Streaming). Caveat: a plain
    parquet static side resolves its FILE LISTING once at plan creation, so
    digests appended while a long-running stream is up are not seen until
    the query restarts (or, for per-batch freshness, re-invoke this inside
    ``foreachBatch`` so each micro-batch builds a fresh static plan — a
    Delta/Iceberg static side would refresh snapshots per batch, but those
    connectors aren't in this image). Only (digest) ever joins; the new
    shard's payload stays in
    its scan tasks, and at 100 TB the index side is a digest-only parquet
    that Spark/AQE broadcast when small and shuffle-hash otherwise."""
    seen = df.sparkSession.read.parquet(index_path)
    return (
        df.withColumn("_digest", F.md5(F.col(text_col)))
        .join(seen.withColumnRenamed("digest", "_digest"), on="_digest", how="left_anti")
        .drop("_digest")
    )


def fuzzy_pairs(
    df: DataFrame,
    block_cols: list[str],
    id_col: str,
    name_col: str,
    max_dist: int = 3,
) -> DataFrame:
    """Entity-resolution candidate pairs by edit distance WITHIN blocks:
    rows sharing ``block_cols`` are compared with ``levenshtein`` and
    pairs at distance ≤ ``max_dist`` emitted as (id_a < id_b, dist).

    The third member of the bounded-quadratic family (LSH buckets bound
    minhash pairs, k-means clusters bound semantic pairs, blocking keys
    bound edit-distance pairs): the join shuffles on the block key, the
    per-block comparison is quadratic only in block size, and AQE
    skew-split handles hot blocks. levenshtein is the classic DP — same
    integers in every engine, so results are exactly reproducible."""
    a = df.select(
        *block_cols, F.col(id_col).alias("id_a"), F.col(name_col).alias("_na")
    )
    b = df.select(
        *block_cols, F.col(id_col).alias("id_b"), F.col(name_col).alias("_nb")
    )
    return (
        a.join(b, on=list(block_cols))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.levenshtein("_na", "_nb").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


# --- n-gram Jaccard ----------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All-pairs exact n-gram Jaccard ≥ threshold (id_a < id_b).

    O(pairs-sharing-a-shingle): fine for verification / small tables; the
    100 TB path is minhash_lsh_pairs → this computation on candidates only.
    """
    df = fan_out(df)  # heavy shingle map — see minhash_signatures
    sh = df.select(
        F.col(id_col).alias("id"), F.explode(word_shingles(F.col(text_col), n)).alias("sh")
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, on="sh")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All-pairs exact n-gram Jaccard ≥ threshold via PREFIX FILTERING —
    the AllPairs/PPJoin family (Bayardo et al. WWW'07; Xiao et al.
    ICDE'08) — with output IDENTICAL to ``ngram_jaccard_pairs`` (it is a
    lossless candidate-pruning technique, not an approximation; same
    DuckDB oracle).

    Why it scales where the brute-force join doesn't: joining every
    (id, shingle) pair against itself explodes on common shingles —
    a stop-phrase shared by 1M docs contributes 10¹² join rows. Prefix
    filtering orders each doc's shingle set rarest-token-first (global
    document frequency asc, shingle asc) and keeps only each doc's first
    ``|S| − ⌈t·|S|⌉ + 1`` tokens as join keys: two sets with J ≥ t must
    intersect in ≥ ⌈t·|S|⌉ elements, so they MUST share a prefix token.
    Candidates therefore join only on each doc's RAREST tokens (hot
    tokens never become join keys unless a doc is tiny), and exact
    verification (array_intersect over the full sorted sets) runs only on
    surviving candidate pairs. An ε is subtracted inside the ceil so a
    float mis-round can only lengthen the prefix (extra candidates),
    never shorten it (missed pairs).
    """
    df = fan_out(df)  # heavy shingle map — see minhash_signatures
    sh = df.select(
        F.col(id_col).alias("id"), F.explode(word_shingles(F.col(text_col), n)).alias("sh")
    )
    freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    # docs fans out 3×: the prefix explosion plus BOTH sides of the verify
    # join below — persist the one aggregated pass.
    docs = persist_once(
        sh.join(freq, on="sh")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("_df", "sh"))).alias("_toks"))
        .select(
            "id",
            F.size("_toks").alias("sz"),
            F.transform("_toks", lambda s: s["sh"]).alias("full"),
        )
        .withColumn(
            # prefix length from threshold − 1e-6, not threshold: the FINAL
            # filter (matching the brute-force twin and its oracle) accepts
            # round(J, 6) ≥ t, which admits true J down to t − 5e-7 — the
            # prefix bound must cover those pairs too, or a boundary pair
            # the brute path emits could be pruned here. The looser prefix
            # only ever ADDS candidates.
            "_p",
            F.col("sz")
            - F.ceil(F.lit(threshold - 1e-6) * F.col("sz") - F.lit(1e-9)).cast("int")
            + 1,
        )
    )
    # Candidate generation is ID-ONLY: the full shingle arrays must not
    # ride through the prefix-token join and the pair-dedup shuffle (a
    # candidate pair found via several shared prefix tokens would move
    # both docs' arrays once PER shared token). Dedupe slim (id_a, id_b)
    # rows first; the arrays join back exactly once per side for the
    # exact verification.
    cand = docs.select("id", F.explode(F.expr("slice(full, 1, _p)")).alias("_pt"))
    pairs = (
        cand.select("_pt", F.col("id").alias("id_a"))
        .join(cand.select("_pt", F.col("id").alias("id_b")), on="_pt")
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    fa = docs.select(
        F.col("id").alias("id_a"), F.col("sz").alias("sz_a"), F.col("full").alias("_fa")
    )
    fb = docs.select(
        F.col("id").alias("id_b"), F.col("sz").alias("sz_b"), F.col("full").alias("_fb")
    )
    inter = F.size(F.array_intersect(F.col("_fa"), F.col("_fb")))
    return (
        pairs.join(fa, on="id_a")
        .join(fb, on="id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                inter / (F.col("sz_a") + F.col("sz_b") - inter), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --- MinHash + LSH -----------------------------------------------------------

def minhash_signature(hashes: Column, num_perm: int = NUM_PERM) -> Column:
    """array<long> MinHash signature over a pre-hashed shingle array.

    Takes the *hashed* shingles (see ``shingle_hash``) rather than raw
    text: the md5 stage stays JVM-side and only the 31-bit ints cross
    Arrow. The signature itself is a NumPy pandas_udf: one broadcast
    ``(a·h + b) mod P`` per row over the fixed (a, b, P) literals, int64
    exact (a·h < 2^62, no overflow), so the oracle replays it. The
    ``num_perm``-fold chain of interpreted higher-order functions it
    replaced ran outside whole-stage codegen: 1.7× slower on the 10×
    corpus (4-core host).

    ``hashes`` must be a staged column, never ``word_shingles``' bound
    form (see its docstring): ``minhash_signatures`` stages the token
    array first. A null or empty hash array gives a null signature.
    Arrow UDF subtrees are not deduplicated by exchange reuse, so every
    consumer of the result re-runs the kernel: consume it once (carry
    ``sig`` through the band explode) or persist it."""
    from pyspark.sql.types import ArrayType, LongType

    a = np.asarray(_A[:num_perm], dtype=np.int64)[:, None]
    b = np.asarray(_B[:num_perm], dtype=np.int64)[:, None]
    # NB: the per-row broadcast-matmul loop was A/B'd against a batched
    # concat + np.minimum.reduceat formulation (r15): reduceat's generic
    # segment loop was >100× SLOWER than these per-row whole-matrix mins
    # — keep the loop. r16 second negative result (VERDICT r15 #8): the
    # padded-2D formulation (pad ragged rows into one dense batch×maxlen
    # block, mask pads to MINHASH_PRIME, num_perm vectorized passes) was
    # also SLOWER — 1.61 s vs 1.45 s avg over three alternating
    # back-to-back dedup_minhash_lsh_fast A/B pairs: the per-row Python
    # padding/mask assignments cost more than the per-row compute loop
    # they replace at these shingle counts. Do not retry either batching.

    @F.pandas_udf(ArrayType(LongType()))
    def sig(hs: pd.Series) -> pd.Series:
        out = []
        for row in hs:
            if row is None or len(row) == 0:
                out.append(None)
                continue
            h = np.asarray(row, dtype=np.int64)[None, :]
            out.append(((a * h + b) % MINHASH_PRIME).min(axis=1))
        return pd.Series(out)

    return sig(hashes)


def _banded_explode(sig_name: str, num_perm: int, bands: int) -> Column:
    """``explode(array(named_struct('band', b, 'bh', md5(concat_ws(',',
    sig[b·rows] .. )))))`` over a signature column — ONE JVM-parsed SQL
    string instead of bands × rows per-element py4j column construction
    (~1.6 s of driver time per call site at the 8×4 default; the
    ``_pq_qlut`` r15 lesson). Identical Catalyst
    tree: Spark SQL ``sig[i]`` is 0-based extraction exactly like
    ``F.col("sig")[i]``, and named_struct ≡ F.struct with aliased
    fields."""
    rows = num_perm // bands
    parts = []
    for bi in range(bands):
        cols = ",".join(
            f"cast(`{sig_name}`[{bi * rows + r}] as string)" for r in range(rows)
        )
        parts.append(
            f"named_struct('band', {bi}, 'bh', md5(concat_ws(',', {cols})))"
        )
    return F.expr(f"explode(array({','.join(parts)}))")


def minhash_signatures(
    df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text",
    num_perm: int = NUM_PERM,
) -> DataFrame:
    """(id, sig array<long>): staged projections tokens → shingle md5
    hashes → signature, the input of banding, signature storage and
    agreement verification."""
    # Heavy per-row map: fan the scan out to core count first — one
    # small parquet file otherwise runs this whole stream in ONE task
    # (util.fan_out). The token array is staged as a REAL column, not
    # word_shingles' bind_once wrap, because the shingle hashes feed the
    # signature pandas_udf (Spark 4.1 extraction bug, see word_shingles).
    # Each stage's output is a named column, so the md5 array is computed
    # once (CollapseProject does not inline non-cheap aliases).
    toked = fan_out(df, CPU_HEAVY).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_toks")
    )
    hashed = toked.select(
        "id",
        F.transform(_shingles_of(F.col("_toks"), n), shingle_hash).alias("hs"),
    )
    return hashed.select("id", minhash_signature(F.col("hs"), num_perm).alias("sig"))


def bands_of_signatures(
    sigs: DataFrame, num_perm: int = NUM_PERM, bands: int = LSH_BANDS
) -> DataFrame:
    """(id, band, bh) from an (id, sig) frame: band b hashes signature
    components [b·rows, (b+1)·rows) with md5."""
    return sigs.select(
        "id", _banded_explode("sig", num_perm, bands).alias("b")
    ).select(
        "id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )


def minhash_band_buckets(
    df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text",
    num_perm: int = NUM_PERM, bands: int = LSH_BANDS,
) -> DataFrame:
    """(id, band_idx, band_hash) — one row per band; docs sharing a
    (band_idx, band_hash) bucket are near-dup candidates."""
    return bands_of_signatures(
        minhash_signatures(df, n, id_col, text_col, num_perm), num_perm, bands
    )


# In-bucket pair expansion is quadratic in bucket size and happens inside
# ONE task — bounded only if bucket size is. Above this cap, buckets route
# through the distributed self-join path instead (see _bucket_pairs).
MAX_LSH_BUCKET = 512


def lsh_oversize_report(bb: DataFrame, max_bucket: int = MAX_LSH_BUCKET) -> DataFrame:
    """(band, bh, n) for buckets larger than the in-memory expansion cap —
    the "log what was capped" companion to ``_bucket_pairs``: at 100 TB,
    boilerplate/empty documents WILL produce giant buckets no matter the
    banding parameters, and a pipeline owner needs to see them."""
    return (
        bb.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_bucket)
    )


def _bucket_pairs(
    bb: DataFrame, max_bucket: int = MAX_LSH_BUCKET, oversize: str = "join"
) -> DataFrame:
    """(band, bh, id) rows → distinct (id_a < id_b) pairs sharing a bucket.

    Small buckets (≤ ``max_bucket``): in-bucket array pair expansion — the
    quadratic work stays bounded by max_bucket² per task, so no giant
    bucket can OOM an executor on pair blowup.

    Oversized buckets (boilerplate/empty docs — inevitable at 100 TB):
      * ``oversize='join'`` (default): re-explode the membership array and
        self-join on the bucket key — the quadratic OUTPUT is unavoidable
        if those pairs are wanted, but it streams through the shuffle
        machinery (AQE skew-split) instead of materializing inside one
        task. Result set is identical to the uncapped expansion.
      * ``oversize='drop'``: exclude giant buckets entirely (members are
        all mutual near-dup candidates anyway — callers usually want the
        cluster, not 10⁸ pairs); ``lsh_oversize_report`` says what was
        dropped.

    Plan shape: in 'join' mode the plan reads bb three times (expansion +
    both self-join sides), and exchange/stage reuse does NOT dedupe plans
    containing Arrow-evaluated UDFs (measured: the signature pipeline ran
    3×, tripling runtime) — so bb, the minimal (id, band, bh) projection,
    is persisted (MEMORY_AND_DISK, spillable): the smallest possible
    candidate-set materialization, and the signature pipeline runs exactly
    once. 'drop' mode consumes bb once and persists nothing. The membership
    array is linear in bucket size; it is the *quadratic* expansion that
    kills executors, and that is what the cap bounds.
    """
    if oversize not in ("join", "drop"):
        raise ValueError("oversize must be 'join' or 'drop'")
    if oversize == "join":
        from ..util import persist_once

        bb = persist_once(bb)
    ids = F.array_sort(F.collect_set("id")).alias("ids")
    buckets = bb.groupBy("band", "bh").agg(ids).filter(F.size("ids") > 1)

    small = buckets.filter(F.size("ids") <= max_bucket)
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.greatest(F.size("ids") - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    out = (
        small.select(F.explode(pairs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
    )

    if oversize == "join":
        big = buckets.filter(F.size("ids") > max_bucket).select(
            "band", "bh", F.explode("ids").alias("id")
        )
        a, b = big.alias("a"), big.alias("b")
        big_pairs = (
            a.join(b, on=["band", "bh"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        )
        out = out.unionByName(big_pairs)
    return out.distinct()


def minhash_lsh_pairs(
    df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text",
    num_perm: int = NUM_PERM, bands: int = LSH_BANDS,
    max_bucket: int = MAX_LSH_BUCKET, oversize: str = "join",
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from LSH banding — the
    scalable dedup path: shuffle on band buckets, never all-pairs. Giant
    buckets are capped out of the in-task expansion (see _bucket_pairs)."""
    return _bucket_pairs(
        minhash_band_buckets(df, n, id_col, text_col, num_perm, bands),
        max_bucket=max_bucket,
        oversize=oversize,
    )


def lsh_candidate_jaccard(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    **lsh_kwargs,
) -> DataFrame:
    """THE production dedup flow: LSH banding proposes candidate pairs
    (shuffles band buckets, never all-pairs), exact n-gram Jaccard then
    verifies ONLY the candidates — |candidates| ≪ |all pairs| is the whole
    point of banding, so the verification join is small at any corpus
    size. Result ≡ ngram_jaccard_pairs restricted to LSH candidates."""
    pairs = minhash_lsh_pairs(df, n, id_col, text_col, **lsh_kwargs)
    sh = fan_out(df).select(
        F.col(id_col).alias("id"), word_shingles(F.col(text_col), n).alias("sh")
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("_sha"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("_shb"))
    inter = F.size(F.array_intersect("_sha", "_shb"))
    union = F.size("_sha") + F.size("_shb") - inter
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def near_dup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    algorithm: str = "label",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, component) for every id appearing in the near-dup pair list,
    where component = min id of its connected component.
    ``checkpoint_dir`` (star algorithm): use reliable ``checkpoint()``
    instead of executor-local ``localCheckpoint`` — see star_components.

    ``algorithm='label'`` (default): min-label propagation — each round
    every node takes the min of its own and its neighbors' labels;
    converges in ≤ graph-diameter rounds (dedup components are shallow:
    near-dup clusters of a document cluster around its variants). Each
    round is one join + one groupBy shuffle, ending in ``localCheckpoint``
    — each round joins labels against labels-derived neighbors, so without
    a true lineage cut the logical plan DOUBLES per round (persist caches
    data, not the plan) and deep graphs OOM on plan stringification alone.

    ``algorithm='star'``: alternating large-star/small-star (Kiveris et
    al., "Connected Components in MapReduce and Beyond") — O(log n)
    rounds regardless of diameter; the scale path for deep graphs.
    """
    if algorithm == "star":
        return star_components(pairs, id_a, id_b, max_iters, checkpoint_dir)
    und = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    und = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = (
        und.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    ).localCheckpoint()
    for _ in range(max_iters):
        nbr = (
            und.join(labels, und.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("_nl"))
        )
        new_labels = (
            labels.join(nbr, on="id", how="left")
            .select("id", F.least("label", F.coalesce("_nl", F.col("label"))).alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # silent truncation would return WRONG components
        raise RuntimeError(
            f"label propagation did not converge in {max_iters} rounds — the "
            "graph is deeper than expected; raise max_iters or use "
            "algorithm='star' (O(log n) rounds on any shape)"
        )
    und.unpersist()
    return labels.select("id", F.col("label").alias("component"))


def star_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components by alternating large-star/small-star rounds
    (Kiveris et al.): each round hangs nodes off the minimum of their
    neighborhood, halving tree heights — O(log n) rounds on ANY graph
    shape, vs diameter rounds for label propagation. Each star operation
    is one groupBy + one join on the same key (exchange reused); each
    round ends in a checkpoint — persist alone caches data but the
    LOGICAL plan still doubles per round (exceptAll references old and
    new edges) until even plan stringification OOMs; checkpointing
    truncates it. Converges to star graphs rooted at each component's
    min id.

    ``checkpoint_dir``: when given, rounds use RELIABLE ``checkpoint()``
    (blocks written to that fault-tolerant path). The default
    ``localCheckpoint`` stores blocks on executors only — fine on
    local[N], but on a real cluster losing one executor mid-iteration
    kills the lineage with no recompute path; pass an HDFS/S3 dir there."""
    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint() if checkpoint_dir is not None else df.localCheckpoint()

    e = ckpt(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def large_star(edges: DataFrame) -> DataFrame:
        b = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (
            b.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select("u", F.least("_mv", F.col("u")).alias("_m"))
        )
        return (
            b.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("_m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(edges: DataFrame) -> DataFrame:
        d = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        m = d.groupBy("u").agg(F.min("v").alias("_m"))
        hang = (
            d.join(m, "u")
            .select(F.col("v").alias("u"), F.col("_m").alias("v"))
        )
        own = m.select("u", F.col("_m").alias("v"))
        return (
            hang.unionByName(own)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    for _ in range(max_iters):
        new_e = ckpt(small_star(large_star(e)))
        # set-equality convergence: symmetric difference empty — both
        # directions in ONE job (each action has fixed scheduler cost;
        # this loop's wall-clock is action-count-bound, not data-bound)
        diff = (
            new_e.exceptAll(e).unionAll(e.exceptAll(new_e)).limit(1).count()
        )
        e = new_e
        if diff == 0:
            break

    roots = e.select(F.col("v").alias("id")).distinct().select(
        "id", F.col("id").alias("component")
    )
    return e.select(F.col("u").alias("id"), F.col("v").alias("component")).unionByName(
        roots
    ).distinct()


def drop_near_duplicates(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (min id) per near-dup component plus every
    unpaired document — the keeper step after candidate generation
    (lsh_candidate_jaccard → here). Anti-join on the non-representative
    set, so the corpus shuffles only its id column."""
    comp = near_dup_components(pairs)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


# --- SimHash ------------------------------------------------------------------

SIMHASH_BITS = 16  # oracle-reproducible width; production would use 64


def token_hashes(text: Column, bits: int = SIMHASH_BITS) -> Column:
    """Per-token md5-derived ``bits``-wide integer hashes."""
    return F.transform(
        tokens(text),
        lambda t: F.conv(F.substring(F.md5(t), 1, bits // 4), 16, 10).cast("long"),
    )


def simhash(toks_h: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over pre-hashed tokens: bit b of the signature is set iff
    Σ_tokens (±1 by token-hash bit b) > 0; a null or empty array gives 0.
    Takes the hashed-token array column so md5 stays JVM-side and only
    ints cross Arrow; the sign rule is one broadcast shift/sum per row in
    a NumPy pandas_udf (see ``minhash_signature``)."""
    from pyspark.sql.types import LongType

    shifts = np.arange(bits, dtype=np.int64)
    weights = np.int64(1) << shifts

    @F.pandas_udf(LongType())
    def sig(hs: pd.Series) -> pd.Series:
        out = []
        for row in hs:
            if row is None or len(row) == 0:
                out.append(0)
                continue
            h = np.asarray(row, dtype=np.int64)[:, None]
            s = (((h >> shifts) & 1) * 2 - 1).sum(axis=0)
            out.append(int(((s > 0) * weights).sum()))
        return pd.Series(out)

    return sig(toks_h)


def simhash_table(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash) per document over the token-hash stream."""
    df = fan_out(df, CPU_HEAVY)  # heavy md5 map — see minhash_signatures
    staged = df.select(F.col(id_col).alias("id"), token_hashes(F.col(text_col)).alias("hs"))
    return staged.select("id", simhash(F.col("hs")).alias("simhash"))


# --- embedding near-dup ---------------------------------------------------------

def embedding_near_dups(
    emb: DataFrame, threshold: float = 0.95, block_col: str = "label",
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate vectors by cosine ≥ threshold, blocked on ``block_col``
    (block-join, not all-pairs; at scale the block key is an LSH bucket —
    see similarity.py)."""
    from .similarity import cosine

    v = emb.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, on="blk")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cosine(F.col("a.vec"), F.col("b.vec")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


# --- exact substring (duplicate span) dedup ----------------------------------
#
# The Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
# Better") EXACTSUBSTR shape: find token windows that recur anywhere in the
# corpus and treat every covered token position as duplicated text. The
# published implementation builds a corpus-wide suffix array — inherently
# single-image; here the same decision ("does this W-token window occur
# ≥ 2 times corpus-wide?") distributes as one hash aggregate over the
# window stream, which is the standard Spark re-expression (a suffix array
# finds variable-length repeats; fixed-W windows find every repeat of
# length ≥ W, the documented approximation). The strip variant removes ALL
# occurrences of a duplicated window (the harsher BFF/C4-style rule) —
# deterministic and order-free, where Lee et al.'s keep-one-occurrence
# needs a global occurrence order.

SPAN_WINDOW = 8
_SPAN_HEX = 15  # 60-bit window hash: positive BIGINT in both engines


def _span_window_hashes(
    df: DataFrame, window: int, text: str, extra: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, *extra, pos, h): one row per W-token window occurrence; h
    is the cross-engine 60-bit md5 window hash, pos the 1-based token
    start. Docs shorter than ``window`` emit nothing (no full window —
    unlike shingles there is no whole-text floor: a span must be
    comparable across docs to count as a repeat). ``extra`` names
    passthrough columns (e.g. source) carried into every window row so
    consumers never join the corpus-token-sized stream back on doc_id."""
    # The transform builds only (pos, window-string); the md5→int hash
    # runs AFTER the explode as a plain projection — higher-order
    # functions execute interpreted (no whole-stage codegen), so hashing
    # inside the lambda pays interpreter overhead per window. Post-
    # explode it compiles; measured ~25% off the count stage at sf0.1.
    # Same stage either way — the window string never reaches a shuffle.
    # Token array bound once (util.bind_once): the window lambda slices
    # it per window; an inline tokens() there re-splits per window.
    from ..util import bind_once, md5_mod

    def build(toks: Column) -> Column:
        n = F.size(toks)
        starts = F.when(n >= window, F.sequence(F.lit(1), n - window + 1)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            starts,
            lambda i: F.struct(
                i.cast("int").alias("pos"),
                F.concat_ws(TOKEN_SEP, F.slice(toks, i, window)).alias("win"),
            ),
        )

    wins = bind_once(tokens(F.col(text)), build)
    return (
        fan_out(df, CPU_HEAVY)
        .select("doc_id", *extra, F.explode(wins).alias("w"))
        .select(
            "doc_id",
            *extra,
            "w.pos",
            md5_mod(F.col("w.win"), _SPAN_HEX, 1 << 60).alias("h"),
        )
    )


def _duplicated_occurrences(wins: DataFrame) -> DataFrame:
    """Window occurrences whose hash repeats corpus-wide (count ≥ 2 over
    ALL occurrences — within-doc repeats count too, matching suffix-array
    semantics where a self-repeat is still duplicated text)."""
    dup_h = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("h")
    )
    return wins.join(dup_h, on="h")


def duplicate_span_census(
    df: DataFrame, window: int = SPAN_WINDOW, text: str = "text"
) -> DataFrame:
    """Per-document duplicated-span census: how much of each doc is
    covered by a token window that occurs ≥ 2 times corpus-wide.

    Returns (doc_id, n_tokens, n_windows, dup_windows, dup_positions,
    dup_ppm): dup_windows = this doc's duplicated window occurrences,
    dup_positions = distinct token positions covered by any of them
    (overlapping windows merge — the SPAN, not windows × W), dup_ppm =
    covered fraction. Every doc appears; clean docs report zeros, and a
    NULL text counts as an empty doc (all-zero row, never NULL stats).

    Scale shape: the window stream is corpus-token-sized but each row is
    (doc_id, pos, 60-bit h) — the count aggregate combines map-side and
    shuffles only (h); the join back ships only duplicated hashes (AQE
    broadcasts that side when the dup set is small). The position
    explode multiplies ONLY duplicated occurrences by W. One persist
    (the window stream, consumed by count + join)."""
    wins = persist_once(_span_window_hashes(df, window, text))
    per_doc = (
        _duplicated_occurrences(wins)
        .select(
            "doc_id",
            "pos",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(window - 1))).alias("p"),
        )
        .groupBy("doc_id")
        .agg(
            F.countDistinct("pos").alias("dup_windows"),
            F.countDistinct("p").alias("dup_positions"),
        )
    )
    n = F.size(tokens(F.coalesce(F.col(text), F.lit(""))))
    base = df.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.greatest(n - window + 1, F.lit(0)).cast("long").alias("n_windows"),
    )
    return base.join(per_doc, on="doc_id", how="left").select(
        "doc_id",
        "n_tokens",
        "n_windows",
        F.coalesce(F.col("dup_windows"), F.lit(0)).cast("long").alias("dup_windows"),
        F.coalesce(F.col("dup_positions"), F.lit(0)).cast("long").alias("dup_positions"),
        F.when(
            F.col("n_tokens") > 0,
            F.expr("(1000000 * coalesce(dup_positions, 0)) div n_tokens"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("dup_ppm"),
    )


def strip_duplicate_spans(
    df: DataFrame, window: int = SPAN_WINDOW, text: str = "text"
) -> DataFrame:
    """Rewrite each document with every corpus-duplicated W-token span
    removed (ALL occurrences — see module note on the Lee et al. /
    BFF-rule difference). Returns (doc_id, clean_text, n_tokens,
    kept_tokens); docs with nothing duplicated pass through verbatim.

    The per-doc covered-position set is bounded by document length —
    the same "a document fits in a task" contract as every text
    operator here; the corpus never collects."""
    wins = persist_once(_span_window_hashes(df, window, text))
    return _strip_by_cover(df, _covered_positions(_duplicated_occurrences(wins), window), text)


def _covered_positions(dup_occ: DataFrame, window: int) -> DataFrame:
    """(doc_id, _cov): distinct token positions covered by any duplicated
    window occurrence — overlapping windows merge into the span."""
    return (
        dup_occ.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(window - 1))).alias("p"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("p").alias("_cov"))
    )


# Per-row rewrite-path gate: below this covered-set size the per-token
# array_contains scan wins (lower constants — measured 0.89 s vs 2.16 s
# for the whole strip at sf0.1, where docs are short and covers tiny);
# above it the hash-based array_except path caps the per-doc cost at
# O(len + covered) where the scan is O(len × covered) — quadratic
# exactly on the operator's target case (a long, heavily duplicated
# document). Both branches produce the identical kept array.
STRIP_SCAN_MAX_COVER = 64


def _strip_by_cover(df: DataFrame, covered: DataFrame, text: str) -> DataFrame:
    """Rewrite docs keeping only tokens whose position is NOT covered.
    NULL text ≡ empty doc: clean_text '', counts 0 (never NULL).

    Two per-row rewrite paths behind a size gate (STRIP_SCAN_MAX_COVER):
    a per-token ``array_contains`` scan for small covered sets, and a
    hash-based ``array_except(all_positions, covered)`` + O(1)
    ``element_at`` for large ones — linear in doc length, so a long
    mostly-duplicated doc can't go quadratic in one task."""
    toks = tokens(F.coalesce(F.col(text), F.lit("")))
    cov = F.coalesce(F.col("_cov"), F.array().cast("array<int>"))

    def kept_of(tk: Column) -> Column:
        # token array bound once (util.bind_once): kept_hash's lambda
        # does element_at(tk, p) per kept position — an inline tokens()
        # there re-splits the document per kept token
        n = F.size(tk)
        kept_scan = F.filter(
            tk, lambda x, i: ~F.array_contains(cov, (i + 1).cast("int"))
        )
        # sequence(1, 0) counts DOWN (gotcha) — guard the empty doc
        all_pos = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
            F.array().cast("array<int>")
        )
        kept_hash = F.transform(
            F.array_except(all_pos, cov), lambda p: F.element_at(tk, p)
        )
        return F.when(F.size(cov) <= STRIP_SCAN_MAX_COVER, kept_scan).otherwise(
            kept_hash
        )

    kept = bind_once(toks, kept_of)
    return (
        df.join(covered, on="doc_id", how="left")
        .select(
            "doc_id",
            F.concat_ws(TOKEN_SEP, kept).alias("clean_text"),
            F.size(toks).cast("long").alias("n_tokens"),
            F.size(kept).cast("long").alias("kept_tokens"),
        )
    )


def span_build_index(
    df: DataFrame, path: str, window: int = SPAN_WINDOW, text: str = "text"
) -> None:
    """Materialize the corpus's DISTINCT window-hash set as parquet — the
    frozen half of INCREMENTAL span dedup (the production ingest shape,
    same pattern as ``digest_build_index``): history is hashed once;
    every new shard strips against the index instead of re-scanning
    history. Append accepted shards' hashes with ``mode='append'``.

    Stores count ≥ 1 hashes (SEEN, not corpus-duplicated): a new
    occurrence of ANY historical window is by definition a repeat —
    the incremental reading of the Lee et al. rule."""
    (
        _span_window_hashes(df, window, text)
        .select("h")
        .distinct()
        .write.mode("overwrite")
        .parquet(path)
    )


def strip_seen_spans(
    df: DataFrame, index_path: str, window: int = SPAN_WINDOW, text: str = "text"
) -> DataFrame:
    """Rewrite a NEW batch's documents with every window already present
    in the stored span index removed — incremental
    ``strip_duplicate_spans`` against history. ``window`` must match the
    build. Batch-first; for a long-running stream, re-invoke inside
    ``foreachBatch`` per micro-batch (same static-side file-listing
    caveat as ``drop_seen_digests``). Only (doc_id, pos, h) triples join
    the index side — the batch payload never shuffles, and Spark/AQE
    broadcast the index when it is small."""
    seen = df.sparkSession.read.parquet(index_path)
    wins = _span_window_hashes(df, window, text)
    return _strip_by_cover(df, _covered_positions(wins.join(seen, on="h"), window), text)


def span_source_matrix(
    df: DataFrame,
    window: int = SPAN_WINDOW,
    text: str = "text",
    source_col: str = "source",
    max_sources: int | None = None,
) -> DataFrame:
    """Span-granularity cross-source provenance matrix: for every pair of
    sources, how many distinct duplicated windows they SHARE — "who
    copies from whom", the sub-document companion of the doc-level
    ``cross_source_dup_matrix``. Diagonal rows (a, a) count windows
    duplicated WITHIN one source (self-boilerplate).

    Semantics: each window hash contributes 1 to (a, b), a < b, for
    every pair of distinct sources containing it, and 1 to (a, a) when
    it occurs ≥ 2 times inside source a. Output
    (source_a, source_b, shared_windows), deduplicated by hash — a
    window repeated 50× between two sources still counts once (it is
    the SPAN relationship being counted, not volume).

    Scale: per-(hash, source) counts aggregate map-side; the pair join
    fans out |sources-containing-h|² per hash — bounded by the source
    count squared, fine for corpus-level sources (~dozens). For
    domain-level runs (thousands of sources) set ``max_sources`` to
    drop ubiquitous-boilerplate hashes above the cap (the LSH
    oversize-cap discipline); dropped hashes are exactly those whose
    pair lists stop being informative."""
    hs = (
        _span_window_hashes(df, window, text, extra=(source_col,))
        .groupBy("h", source_col)
        .agg(F.count(F.lit(1)).alias("_occ"))
    )
    if max_sources is not None:
        ok = (
            hs.groupBy("h").agg(F.count(F.lit(1)).alias("_ns"))
            .filter(F.col("_ns") <= max_sources)
            .select("h")
        )
        hs = hs.join(ok, on="h", how="left_semi")
    hs = persist_once(hs)
    a = hs.select("h", F.col(source_col).alias("source_a"))
    b = hs.select("h", F.col(source_col).alias("source_b"))
    cross = (
        a.join(b, on="h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_windows"))
    )
    diag = (
        hs.filter(F.col("_occ") >= 2)
        .groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("shared_windows"))
        .select(
            F.col(source_col).alias("source_a"),
            F.col(source_col).alias("source_b"),
            "shared_windows",
        )
    )
    return cross.unionByName(diag)


# --- stored MinHash signature index: incremental FUZZY dedup ----------------
#
# The fuzzy member of the stored-index family (digest/span/line/url indexes
# are all EXACT): history keeps each doc's minhash SIGNATURE (num_perm
# longs — fixed-size regardless of doc length) plus its band buckets; a
# new shard is screened by band-bucket candidate match, then verified by
# SIGNATURE AGREEMENT — the fraction of equal components is an unbiased
# estimator of true Jaccard (std ≈ sqrt(j(1-j)/num_perm)), deterministic
# under the fixed permutation table, so the whole decision is
# SQL-replayable without storing any shingle sets.

#: default signature-agreement threshold (matches/num_perm ≈ Jaccard)
MINHASH_AGREE_T = 0.5


def drop_near_seen_frames(
    new: DataFrame,
    history_sigs: DataFrame,
    history_bands: DataFrame,
    threshold: float = MINHASH_AGREE_T,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = NUM_PERM,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """Drop new docs whose signature agreement with ANY history doc is ≥
    ``threshold`` (integer compare: matches ≥ ceil(threshold·num_perm)).

    Scale shape: the NEW shard is batch-sized, so its band buckets and
    signatures broadcast; history tables are only ever SCANNED map-side
    (bands: candidate match against the broadcast batch buckets; sigs:
    semi-joined by the broadcast candidate ids) — no history-sized
    shuffle, the stored-index family contract."""
    import math

    thr = math.ceil(threshold * num_perm)
    sig_n = minhash_signatures(new, n, id_col, text_col, num_perm)
    # ONE consumer of the new side's signatures: ``sig`` rides through the
    # band explode into the candidate rows. A second reference (bands and
    # agreement read separately) re-runs the signature kernel, since Arrow
    # UDF subtrees are not deduplicated by exchange reuse.
    bb_n = sig_n.select(
        F.col("id").alias("_nid"),
        F.col("sig").alias("_nsig"),
        _banded_explode("sig", num_perm, bands).alias("b"),
    ).select("_nid", "_nsig", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))
    cand = (
        history_bands.join(F.broadcast(bb_n), on=["band", "bh"])
        .select(F.col("id").alias("_oid"), "_nid", "_nsig")
        .dropDuplicates(["_oid", "_nid"])
    )
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sig"), F.col("_nsig"), lambda a, b: a == b),
            lambda x: x,
        )
    )
    flagged = (
        history_sigs.join(F.broadcast(cand), history_sigs["id"] == F.col("_oid"))
        .filter(matches >= F.lit(thr))
        .select(F.col("_nid").alias(id_col))
        .distinct()
    )
    return new.join(F.broadcast(flagged), on=id_col, how="left_anti")


def _write_signature_index(
    sigs: DataFrame, path: str, num_perm: int, bands: int
) -> None:
    """Write (overwrite) the ``{path}/sigs`` and ``{path}/bands`` tables
    from one (id, sig) frame. Both writes read it and the signature kernel is an
    Arrow UDF, so the frame is persisted across the two writes and
    released before return: the kernel runs once."""
    sigs = sigs.persist()
    try:
        sigs.write.mode("overwrite").parquet(f"{path}/sigs")
        bands_of_signatures(sigs, num_perm, bands).write.mode("overwrite").parquet(
            f"{path}/bands"
        )
    finally:
        sigs.unpersist()


def minhash_index_build(
    df: DataFrame, path: str, n: int = 3, id_col: str = "doc_id",
    text_col: str = "text", num_perm: int = NUM_PERM, bands: int = LSH_BANDS,
) -> None:
    """Persist ``{path}/sigs`` (id, sig) and ``{path}/bands`` (id, band,
    bh) — fixed bytes per doc (num_perm longs + bands digests), no
    shingle sets, no raw text."""
    sigs = minhash_signatures(df, n, id_col, text_col, num_perm)
    _write_signature_index(sigs, path, num_perm, bands)


def minhash_index_update(
    df: DataFrame, path: str, n: int = 3, id_col: str = "doc_id",
    text_col: str = "text", num_perm: int = NUM_PERM, bands: int = LSH_BANDS,
) -> None:
    """Append a (screened) shard's signatures + bands to the index.

    The TWO tables stage under ``{path}/_append_pending`` and publish
    atomically (:func:`..streaming.txn.staged_batch_publish` — the BM25
    append discipline): a crash between the sigs and bands appends can
    no longer leave signatures without their band rows, which would
    silently exclude those docs from every future ``drop_near_seen``
    candidate screen (band join finds nothing → near-dups sail through).
    A crashed publish refuses re-append and is finished with
    ``streaming.txn.publish_pending_batch(path)``. The fuzzy ingest
    stream stages its whole micro-batch itself and writes the same
    layout with ``_write_signature_index``."""
    from ..streaming.txn import staged_batch_publish

    sigs = minhash_signatures(df, n, id_col, text_col, num_perm)
    staged_batch_publish(
        path,
        {"sigs": f"{path}/sigs", "bands": f"{path}/bands"},
        lambda pend: _write_signature_index(sigs, pend, num_perm, bands),
        "minhash_index_update",
    )


def drop_near_seen(
    df: DataFrame, index_path: str, threshold: float = MINHASH_AGREE_T,
    n: int = 3, id_col: str = "doc_id", text_col: str = "text",
    num_perm: int = NUM_PERM, bands: int = LSH_BANDS,
) -> DataFrame:
    """Screen a new shard against a stored minhash index
    (``minhash_index_build`` layout): cross-snapshot FUZZY dedup, the
    CommonCrawl snapshot-over-snapshot case exact digests cannot catch.
    Same freshness caveat as ``drop_seen_digests`` (parquet listing
    resolves per plan)."""
    spark = df.sparkSession
    return drop_near_seen_frames(
        df,
        spark.read.parquet(f"{index_path}/sigs"),
        spark.read.parquet(f"{index_path}/bands"),
        threshold, n, id_col, text_col, num_perm, bands,
    )


def lsh_recall_report(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = NUM_PERM,
    bands: int = LSH_BANDS,
    max_bucket: int = MAX_LSH_BUCKET,
    oversize: str = "join",
) -> DataFrame:
    """Candidate-generation QUALITY eval for the MinHash-LSH dedup flow —
    the tuning harness that answers "are NUM_PERM/LSH_BANDS right for
    this corpus?" the same way ``ann_probe_sweep`` answers it for IVF
    serving. Ground truth = EXACT n-gram Jaccard ≥ threshold via the
    lossless prefix-filter join (``prefix_filter_jaccard_pairs`` — same
    output as brute force, scale-safe); candidates = the production
    ``minhash_lsh_pairs`` banding. ``num_perm``/``bands``/``max_bucket``/
    ``oversize`` pass straight through to that candidate generator, so the
    report can SWEEP banding configurations (call it once per candidate
    config) rather than only evaluate the module defaults. One row:

      (n_truth, n_candidates, n_hits, recall_ppm, precision_ppm)

    recall = |truth ∩ candidates| / |truth| — the share of REAL near-dup
    pairs the banding surfaces (LSH's miss rate is the silent data-loss
    risk of fuzzy dedup: banding with too few rows/band drops true
    pairs); precision = hit share of candidates — the wasted-verification
    cost (`lsh_candidate_jaccard` pays one exact Jaccard per candidate).
    Integral ppm with floor div; NULL when a denominator is 0 (no truth
    pairs / no candidates — undefined, not perfect).

    Scale shape: both pair generators are the module's production scale
    paths; the eval adds ONE aggregate on the pair key plus a 1-row
    aggregate. On a 100 TB corpus you run this on a sampled slice
    (cap_per_group / hash_split give deterministic samples) — the
    report's point is choosing banding parameters BEFORE the full-corpus
    run, not auditing it after."""
    truth = prefix_filter_jaccard_pairs(df, threshold, n, id_col, text_col).select(
        "id_a", "id_b", F.lit(1).alias("_t"), F.lit(0).alias("_c")
    )
    cand = minhash_lsh_pairs(
        df, n, id_col, text_col, num_perm, bands, max_bucket, oversize
    ).select("id_a", "id_b", F.lit(0).alias("_t"), F.lit(1).alias("_c"))
    # per-pair membership counts: an aggregate on the pair key (map-side
    # combine), where a full-outer join would hash-join two pair sets
    per_pair = truth.unionByName(cand).groupBy("id_a", "id_b").agg(
        F.sum("_t").alias("_t"), F.sum("_c").alias("_c")
    )
    return per_pair.agg(
        F.coalesce(F.sum("_t"), F.lit(0)).cast("long").alias("n_truth"),
        F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias("n_candidates"),
        F.coalesce(F.sum(F.col("_t") * F.col("_c")), F.lit(0))
        .cast("long")
        .alias("n_hits"),
    ).select(
        "n_truth",
        "n_candidates",
        "n_hits",
        F.expr(
            "CASE WHEN n_truth > 0 THEN (1000000 * n_hits) div n_truth END"
        ).alias("recall_ppm"),
        F.expr(
            "CASE WHEN n_candidates > 0 THEN (1000000 * n_hits) div n_candidates END"
        ).alias("precision_ppm"),
    )
