"""Document retrieval: BM25 scoring + top-k, engine-exact.

Beyond the reference's surface (its text handling stops at wordcount-style
Ext functions — ``examples/.../WordCountExample`` family); a training-data
pipeline needs lexical retrieval for eval-set mining, hard-negative
sampling, and corpus QA ("which docs match this probe query").

Engine-exact scoring: classic BM25 uses ``ln`` IDF — a transcendental
whose last-ulp differs between JVM ``Math.log`` and libm, which is exactly
the class of cross-engine hash flake DEVNOTES gotcha #4 bans. This variant
quantizes every factor to integer milli/ppm units with floor division at
each step (both engines floor identically), so scores are BIGINTs and the
ranking is bit-reproducible anywhere:

  avgdl_milli = (1000·T) div N                  (T tokens total, N docs)
  r_milli     = (1_000_000·dl) div avgdl_milli  (dl/avgdl in milli)
  s_milli     = 250 + (750·r_milli) div 1000    ((1−b) + b·dl/avgdl, b=0.75)
  D_milli     = 1000·tf + (1200·s_milli) div 1000   (tf + k1·s, k1=1.2)
  idf_ppm     = (1_000_000·(2(N−df)+1)) div (2·df+1)   (rational IDF,
                monotone in df like ln-IDF; no transcendental)
  score_ppm   = Σ_terms (idf_ppm·2200·tf) div D_milli

Scale shape: tf/df/dl are hash aggregates over the exploded token stream
(map-side partial combine); corpus-level scalars (N, T) broadcast as a
one-row frame; the query-term table broadcasts (queries are human-sized);
top-k ranking uses the partition-count-independent two-phase
``grouped_rank`` rather than a per-query window, so a handful of queries
against 10¹⁰ docs never collapses to a handful of sort tasks.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ranking import grouped_rank
from ..util import (
    _sql_cell,
    fan_out,
    literal_frame,
    persist_once,
    read_stored,
    stored_memo,
)
from .text import tokenize_str, tokens

K1_MILLI = 1200  # k1 = 1.2
B_MILLI = 750    # b = 0.75


def _score_terms(scored: DataFrame, id_col: str) -> DataFrame:
    """The quantized-BM25 floor-div chain over a joined term frame with
    columns (query_id, id, tf, dl, df, n_docs, n_toks) → per-(query, doc)
    summed score_ppm. ONE definition shared by the inline and
    stored-index paths — tuning k1/b or fixing the quantization here
    cannot desynchronize them."""
    contrib = F.expr(
        f"""
        (((1000000 * (2 * (n_docs - df) + 1)) div (2 * df + 1))
          * {K1_MILLI + 1000} * tf)
        div (1000 * tf + ({K1_MILLI} * (250 + ({B_MILLI} * ((1000000 * dl) div ((1000 * n_toks) div n_docs))) div 1000)) div 1000)
        """
    )
    return (
        scored.select("query_id", F.col("id").alias(id_col), contrib.alias("_c"))
        .groupBy("query_id", id_col)
        .agg(F.sum("_c").alias("score_ppm"))
    )


def _score_terms_weighted(scored: DataFrame, id_col: str) -> DataFrame:
    """The quantized-BM25 floor-div chain with a per-term milli weight
    applied AFTER the per-term contribution (floor again on the weight, so
    the SQL oracle replays it exactly) over a joined term frame with
    columns (query_id, id, tf, dl, df, n_docs, n_toks, w_milli) →
    per-(query, doc) summed score_ppm. ONE definition shared by the inline
    PRF and its stored-index serving twin — the ``_score_terms``
    discipline: tuning k1/b or fixing the quantization here cannot
    desynchronize the two routes."""
    contrib = F.expr(
        f"""
        ((((1000000 * (2 * (n_docs - df) + 1)) div (2 * df + 1))
          * {K1_MILLI + 1000} * tf)
        div (1000 * tf + ({K1_MILLI} * (250 + ({B_MILLI} * ((1000000 * dl) div ((1000 * n_toks) div n_docs))) div 1000)) div 1000)
        * w_milli) div 1000
        """
    )
    return (
        scored.select("query_id", F.col("id").alias(id_col), contrib.alias("_c"))
        .groupBy("query_id", id_col)
        .agg(F.sum("_c").alias("score_ppm"))
    )


def _dbucket_col(id_colname: str):
    """Doc-bucket expression for the ``doc_tf`` doc-major mirror:
    crc32 of the id's STRING form, mod 256 — the string detour makes the
    bucket reproducible driver-side (:func:`_dbucket_of`) for partition
    pruning, exactly the term-bucket discipline (``zlib.crc32`` over the
    utf-8 bytes matches Spark's ``F.crc32`` on the same string)."""
    return F.crc32(F.col(id_colname).cast("string")) % 256


def _dbucket_of(doc_id) -> int:
    import zlib

    return zlib.crc32(str(doc_id).encode()) % 256


def _query_terms_df(spark: SparkSession, queries) -> DataFrame:
    # tokenize_str IS the tokens() contract — query terms must match the
    # corpus tokenization or probes silently miss postings.
    qrows = sorted(
        {(int(qid), w) for qid, qtext in queries for w in tokenize_str(str(qtext))}
    )
    # dedup driver-side: queries are a driver-side list already, so a
    # dropDuplicates() here would spend a whole shuffle exchange on a
    # human-sized frame (plan-diet, VERDICT r11 #5)
    return literal_frame(spark, qrows, "query_id int, term string")


def bm25_scores(
    docs: DataFrame,
    queries: Sequence[tuple[int, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(query_id, doc_id, score_ppm) for every document sharing ≥1 term
    with the query. ``queries`` is a driver-side list of (query_id, text)
    — human-sized by definition."""
    spark = docs.sparkSession
    # regex tokenize + explode is the heavy map — fan the scan out to
    # core count (one small parquet file otherwise runs it in ONE task;
    # no-op when the scan already has ≥cores splits — util.fan_out)
    toks = fan_out(docs).select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    # ONE pass over the corpus-sized token stream: tf aggregates it
    # (map-side partial combine), and dl/df/corpus stats all derive from
    # the smaller tf frame — dl = Σ tf per doc, n_toks = Σ tf, n_docs =
    # distinct ids (explode already dropped token-less docs on both
    # formulations). vs the former shape (persist the RAW token stream,
    # aggregate it 3×): the cached frame shrinks from every token
    # occurrence to one row per (doc, term) — on real long documents with
    # repeated terms that is the difference between caching the corpus
    # and caching its vocabulary profile — and consumers re-read the
    # aggregated frame, not the stream. Measured ~8% faster at 30×;
    # ~0.4 s slower at sf0.1, where the synthetic docs are short enough
    # that tf ≈ toks and the extra aggregate has nothing to compress.
    tf = persist_once(
        toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = tf.agg(
        F.count_distinct("id").alias("n_docs"), F.sum("tf").alias("n_toks")
    )

    q = _query_terms_df(spark, queries)
    scored = (
        tf.join(F.broadcast(q), on="term")
        .join(dl, on="id")
        .join(F.broadcast(dfreq.join(F.broadcast(q.select("term").distinct()), on="term")), on="term")
        .crossJoin(F.broadcast(stats))
    )
    return _score_terms(scored, id_col)


def bm25_topk(
    docs: DataFrame,
    queries: Sequence[tuple[int, str]],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k docs per query by quantized BM25, rank ties broken by doc id.
    Ranking via ``grouped_rank`` (two-phase range partition): a per-query
    window would sort every scored doc of a query in ONE task."""
    scored = bm25_scores(docs, queries, id_col, text_col)
    ranked = grouped_rank(
        scored, ["query_id"], [F.desc("score_ppm"), F.asc(id_col)]
    )
    return (
        ranked.filter(F.col("_r") <= k)
        .select("query_id", id_col, F.col("_r").cast("int").alias("rank"), "score_ppm")
    )


def bm25_topk_fast(
    docs: DataFrame,
    queries: Sequence[tuple[int, str]],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Arrow twin of ``bm25_topk`` — same integer floor-div chain
    (``_score_terms``), same ranking, same oracle; bit-identical scores.

    Why it's the scale path: the expression route explodes the corpus
    into a TOKEN-OCCURRENCE stream and shuffles its (doc, term) profile
    to build tf — a shuffle that scales with the vocabulary footprint of
    100 TB of text. Only QUERY terms ever contribute to a score, so this
    twin computes, per Arrow batch and per doc, exactly ``(dl, sparse
    tf over the broadcast query-term set)`` with one Python pass over the
    tokens (``tokenize_str`` — the tokens() contract, same split as the
    postings the oracle replays). ONE docs-sized row leaves the scorer
    per document (id, dl, matched terms+tfs); nothing token-sized ever
    shuffles. Corpus scalars (n_docs, n_toks), per-term df, and the join
    to the floor-div chain all derive from that frame in-plan, which is
    what keeps the twin certified by the SAME SQL oracle instead of a
    parallel reimplementation.

    The docs-sized per-doc frame persists once (three consumers: corpus
    scalars, df, scored stream — the DEVNOTES #3 Arrow-rerun guard)."""
    import pandas as pd

    spark = docs.sparkSession
    qterms = frozenset(
        w for _, qtext in queries for w in tokenize_str(str(qtext))
    )

    def doc_stats(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids, dls, terms, tfs = [], [], [], []
            for did, txt in zip(pdf["_id"], pdf["_txt"]):
                toks = tokenize_str(txt or "")
                if not toks:
                    continue  # token-less docs are outside N, like explode
                cnt: dict[str, int] = {}
                for w in toks:
                    if w in qterms:
                        cnt[w] = cnt.get(w, 0) + 1
                ids.append(did)
                dls.append(len(toks))
                terms.append(list(cnt.keys()))
                tfs.append(list(cnt.values()))
            if not ids:
                # a batch of only token-less docs: an empty frame's list
                # columns would infer float64 and break Arrow conversion
                continue
            yield pd.DataFrame({"id": ids, "dl": dls, "terms": terms, "tfs": tfs})

    base = fan_out(docs).select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_txt")
    )
    # id type follows the input (the expression path's joins are
    # type-agnostic; a hardcoded `long` would break string doc ids)
    id_type = docs.schema[id_col].dataType.simpleString()
    per_doc = persist_once(
        base.mapInPandas(
            doc_stats, f"id {id_type}, dl long, terms array<string>, tfs array<long>"
        )
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("n_toks")
    )
    hits = per_doc.select(
        "id", "dl", F.explode(F.arrays_zip("terms", "tfs")).alias("_z")
    ).select(
        "id", "dl", F.col("_z.terms").alias("term"), F.col("_z.tfs").alias("tf")
    )
    dfreq = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    q = _query_terms_df(spark, queries)
    scored = (
        hits.join(F.broadcast(q), on="term")
        .join(F.broadcast(dfreq), on="term")
        .crossJoin(F.broadcast(stats))
    )
    agg = _score_terms(scored, id_col)
    ranked = grouped_rank(agg, ["query_id"], [F.desc("score_ppm"), F.asc(id_col)])
    return ranked.filter(F.col("_r") <= k).select(
        "query_id", id_col, F.col("_r").cast("int").alias("rank"), "score_ppm"
    )


def bm25_build_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist the inverted-index layout BM25 search probes:
    ``{path}/postings``  = (term, id, tf, dl) written partitionBy(bucket)
    where bucket = crc32(term) % 256 — a probe for a q-term set prunes to
    its buckets instead of scanning all postings, and dl rides along so
    scoring never joins the corpus-sized doclens table;
    ``{path}/doclens``   = (id, dl) — corpus-level reporting;
    ``{path}/termstats`` = (term, df);
    ``{path}/stats``     = one row (n_docs, n_toks);
    ``{path}/doc_tf``    = (id, term, tf) written partitionBy(dbucket)
    where dbucket = crc32(cast(id as string)) % 256 — the DOC-MAJOR
    mirror of the postings (VERDICT r14 #4): a term-bucketed layout
    cannot doc-prune by construction, so before r15 the PRF feedback
    fetch (``bm25_prf_search_index``) paid one full postings scan per
    query batch; with the mirror it prunes to the ≤ (queries × fb_docs)
    buckets holding the pseudo-relevant docs. One extra build-time
    shuffle of the (id, term, tf) frame buys a bounded feedback fetch
    forever — the same pay-at-build trade as the denormalized dl.

    The 100 TB shape: tokenization + counting runs ONCE at index-build;
    each query batch then reads only the pruned posting buckets — compare
    ``bm25_topk``, which recomputes tf/df/dl inline per call."""
    toks = fan_out(docs).select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    # One pass over the token stream (same restructure as bm25_scores):
    # tf persists; dl/df/stats derive from it.
    tf = persist_once(toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf")))
    dl = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
    # dl is DENORMALIZED into the postings rows (one extra long per
    # posting, one build-time shuffle): without it every probe joins its
    # small pruned hits against the corpus-sized doclens table — a
    # per-query-batch corpus shuffle, the opposite of what a stored
    # index is for. doclens stays on disk for corpus-level reporting.
    # Both partitioned writes rebalance on their partition column first:
    # one file per bucket directory, where each input partition would
    # otherwise write its own file into every bucket it holds.
    (
        tf.join(dl, on="id")
        .withColumn("bucket", F.crc32(F.col("term")) % 256)
        .hint("rebalance", "bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(f"{path}/postings")
    )
    (
        tf.withColumn("dbucket", _dbucket_col("id"))
        .hint("rebalance", "dbucket")
        .write.partitionBy("dbucket")
        .mode("overwrite")
        .parquet(f"{path}/doc_tf")
    )
    dl.write.mode("overwrite").parquet(f"{path}/doclens")
    tf.groupBy("term").agg(F.count(F.lit(1)).alias("df")).write.mode(
        "overwrite"
    ).parquet(f"{path}/termstats")
    tf.agg(
        F.count_distinct("id").alias("n_docs"), F.sum("tf").alias("n_toks")
    ).write.mode("overwrite").parquet(f"{path}/stats")
    tf.unpersist()


def bm25_append_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append a shard of NEW documents to a stored ``bm25_build_index``
    layout without re-tokenizing the existing corpus — the incremental-
    ingest completion of the BM25 serving story (the digest / minhash /
    decon / vector indexes all have the same build/append/serve triple).

    Per-doc data (postings rows with their denormalized dl; doclens)
    simply APPENDS — existing rows never change because dl is a per-doc
    quantity. The corpus-level stats BM25 scores against (per-term df;
    the one-row n_docs/n_toks) do change with every append, so those two
    small tables — term-vocabulary-sized and 1-row respectively — are
    merged and swapped whole. Scores after an append are therefore
    EXACTLY a fresh build over the union corpus (test-pinned): BM25
    stats are sums, and sums merge.

    Caller contract (same as the other index appends): the batch's doc
    ids are NEW — re-appending an already-indexed id double-counts it;
    exact-dedup gates handle that upstream. Single-writer offline
    maintenance window assumed, like every rewrite op in this package.

    Crash safety: the whole batch commits through
    :func:`..streaming.txn.staged_batch_publish` — postings, doc_tf and
    doclens stage as appends, termstats and stats as replace targets. A
    crash while staging is a no-op on read and the append can simply be
    re-run; a crash mid-publish is recovered by
    ``txn.publish_pending_batch(path)`` — never by re-running the append,
    which refuses with that instruction (it would double-count the
    already-published part)."""
    from ..streaming.txn import staged_batch_publish

    stage, targets = _bm25_append_stage(docs, path, id_col, text_col)
    staged_batch_publish(path, targets, stage, "bm25_append_index")


def _bm25_append_stage(docs, path, id_col, text_col):
    """The stage callback and ``targets`` of one BM25 append, shared by
    :func:`bm25_append_index` and ``streaming.ingest.bm25_index_stream``."""
    import os

    from ..streaming.txn import Replace

    spark = docs.sparkSession

    def stage(pend: str) -> None:
        # Schema guard (ADVICE r12): a pre-r12 layout stores postings
        # WITHOUT the denormalized dl column. Appending dl-bearing rows to
        # it would mix parquet schemas inside {path}/postings, making
        # bm25_search_index's '"dl" not in postings.columns' probe depend
        # on which file wins schema resolution — and when dl wins, every
        # legacy row reads NULL dl and scores NULL silently. Refuse up
        # front (the _check_append_meta discipline of the vector indexes).
        if "dl" not in spark.read.parquet(f"{path}/postings").columns:
            raise ValueError(
                "bm25_append_index: stored postings lack the denormalized "
                "'dl' column (pre-dl layout); appending would mix parquet "
                "schemas and silently NULL-score legacy rows. Rebuild the "
                "index with bm25_build_index first."
            )
        toks = fan_out(docs).select(
            F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term")
        )
        tf = persist_once(toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf")))
        dl = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
        (
            tf.join(dl, on="id")
            .withColumn("bucket", F.crc32(F.col("term")) % 256)
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(f"{pend}/postings")
        )
        # maintain the doc-major mirror iff the layout has one (r15 — older
        # layouts stay mirror-less and PRF serving takes its full-scan
        # fallback; a half-mirrored layout would silently truncate feedback
        # term vectors, so the mirror is all-or-nothing per layout)
        if os.path.isdir(f"{path}/doc_tf"):
            (
                tf.withColumn("dbucket", _dbucket_col("id"))
                .write.partitionBy("dbucket")
                .mode("overwrite")
                .parquet(f"{pend}/doc_tf")
            )
        dl.write.mode("overwrite").parquet(f"{pend}/doclens")
        new_df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        (
            spark.read.parquet(f"{path}/termstats")
            .unionByName(new_df)
            .groupBy("term")
            .agg(F.sum("df").cast("long").alias("df"))
            .write.mode("overwrite")
            .parquet(f"{pend}/termstats")
        )
        new_stats = tf.agg(
            F.count_distinct("id").alias("n_docs"), F.sum("tf").alias("n_toks")
        )
        (
            spark.read.parquet(f"{path}/stats")
            .unionByName(new_stats)
            .agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("n_toks").cast("long").alias("n_toks"),
            )
            .write.mode("overwrite")
            .parquet(f"{pend}/stats")
        )
        tf.unpersist()

    targets = {
        "postings": f"{path}/postings",
        "doc_tf": f"{path}/doc_tf",  # staged only when the layout has it
        "doclens": f"{path}/doclens",
        "termstats": Replace(f"{path}/termstats"),
        "stats": Replace(f"{path}/stats"),
    }
    return stage, targets


def bm25_compact_index(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 << 20,
    min_files: int = 2,
    include_doclens: bool = False,
) -> dict:
    """Small-files maintenance for an appended ``bm25_build_index`` layout
    (VERDICT r12 #7): every append adds one-or-more small parquet files to
    each touched ``bucket=`` directory of ``{path}/postings``, and after
    thousands of shard appends a probe pays a per-bucket metadata storm.
    Delegates to the same row-identity-verified compaction the vector
    indexes use (``similarity.compact_partitioned_layout`` — staged
    write, per-bucket row-count + order-insensitive xxhash64 fingerprint
    verification BEFORE any source directory is touched, swap through
    ``streaming.txn``), just partitioned by ``bucket`` instead of ``cid``. The
    ``doclens`` table also accretes append files; it sits off the serving
    path (corpus-level reporting only), so compacting it is opt-in via
    ``include_doclens=True`` (VERDICT r13 #6 / r14 #3 — the default stays
    False so the postings-only report shape is byte-stable for existing
    callers): the flat-directory variant of the same verified discipline
    (``similarity.compact_flat_layout``), reported under a ``doclens``
    key. A layout carrying the r15 doc-major ``doc_tf`` mirror gets it
    compacted too (same verified per-dbucket discipline, reported under
    ``doc_tf``). Returns the compaction report dict ({lists_compacted,
    files_before, files_after, rows[, doc_tf][, doclens]})."""
    from .similarity import compact_flat_layout, compact_partitioned_layout

    import os

    report = compact_partitioned_layout(
        spark,
        f"{path}/postings",
        part_col="bucket",
        target_bytes=target_bytes,
        min_files=min_files,
        lock_root=path,
    )
    if os.path.isdir(f"{path}/doc_tf"):
        # the doc-major mirror (r15) accretes append files exactly like
        # the postings; same verified per-dbucket compaction
        report["doc_tf"] = compact_partitioned_layout(
            spark,
            f"{path}/doc_tf",
            part_col="dbucket",
            target_bytes=target_bytes,
            min_files=min_files,
            lock_root=path,
        )
    if include_doclens:
        report["doclens"] = compact_flat_layout(
            spark,
            f"{path}/doclens",
            target_bytes=target_bytes,
            min_files=min_files,
            lock_root=path,
        )
    return report


BM25_INLIST_MAX_TERMS = 5000  # IN-list → broadcast-join prune crossover


def bm25_search_index(
    spark: SparkSession,
    path: str,
    queries: Sequence[tuple[int, str]],
    k: int = 10,
    id_col: str = "doc_id",
    inlist_max_terms: int = BM25_INLIST_MAX_TERMS,
) -> DataFrame:
    """Search a stored ``bm25_build_index`` layout: identical scores and
    ranking to the inline ``bm25_topk`` (same floor-div chain), but the
    posting scan prunes to the query terms' crc32 buckets (partition
    pruning on the stored layout), df joins from the tiny stored
    termstats table instead of recomputing, and the one-row corpus stats
    are inlined as literals (``_stored_stats``)."""
    agg = _bm25_scored(spark, path, queries, id_col, inlist_max_terms)
    ranked = grouped_rank(agg, ["query_id"], [F.desc("score_ppm"), F.asc(id_col)])
    return ranked.filter(F.col("_r") <= k).select(
        "query_id", id_col, F.col("_r").cast("int").alias("rank"), "score_ppm"
    )


def _stored_stats(spark: SparkSession, path: str) -> tuple:
    """``(n_docs, n_toks)`` of a stored layout's one-row ``stats`` table,
    memoized per directory identity (``util.stored_memo``): the append's
    replace swap and every rebuild give the table a new identity.
    The read passes the table's schema, so it runs no inference job."""
    sp = f"{path}/stats"
    return stored_memo(
        sp,
        "bm25_stats",
        lambda: tuple(spark.read.schema("n_docs long, n_toks long").parquet(sp).collect()[0]),
    )


def _bm25_scored(
    spark: SparkSession,
    path: str,
    queries: Sequence[tuple[int, str]],
    id_col: str,
    inlist_max_terms: int,
) -> DataFrame:
    """The unranked ``(query_id, id_col, score_ppm)`` of
    :func:`bm25_search_index`, summed with a map-side partial aggregate."""
    import zlib

    from pyspark.sql.types import LongType

    q = _query_terms_df(spark, queries)
    qterms = sorted({w for _, t in queries for w in tokenize_str(str(t))})
    # bucket pruning from the SAME tokenization as the stored postings —
    # a probe derived from a different split would prune to the wrong
    # buckets and return silently-empty matches. The bucket set saturates
    # at 256 values, so THIS isin never bloats whatever the query count.
    buckets = sorted({zlib.crc32(w.encode()) % 256 for w in qterms})
    hits = read_stored(spark, f"{path}/postings").filter(F.col("bucket").isin(buckets))
    if "dl" not in hits.columns:
        # pre-r12 layout without denormalized dl: fall back to the
        # doclens join (corpus-sized shuffle — rebuild the index to fix)
        hits = hits.join(read_stored(spark, f"{path}/doclens"), on="id")
    # prune termstats to the query terms. Interactive-sized term sets use
    # a driver-side IN list (no shuffle, and the predicate reaches the
    # parquet scan); past ``inlist_max_terms`` distinct terms — a 10⁵-query
    # offline scoring job, say — the IN list would be a megabyte predicate
    # bloating the driver plan, so the prune switches to a broadcast join
    # against a driver-built term frame (VERDICT r12 #6). Same rows either
    # way (both routes keep exactly the stored (term, df) rows whose term
    # appears in the query set).
    termstats = read_stored(spark, f"{path}/termstats")
    if len(qterms) <= inlist_max_terms:
        dfreq = termstats.filter(F.col("term").isin(qterms))
    else:
        qt = literal_frame(spark, [(t,) for t in qterms], "term string")
        dfreq = termstats.join(F.broadcast(qt), on="term")
    n_docs, n_toks = _stored_stats(spark, path)
    scored = (
        hits.join(F.broadcast(q), on="term").join(F.broadcast(dfreq), on="term")
    ).selectExpr(
        "*",
        f"{_sql_cell(n_docs, LongType())} AS n_docs",
        f"{_sql_cell(n_toks, LongType())} AS n_toks",
    )
    return _score_terms(scored, id_col)


def bm25_prf_topk(
    docs: DataFrame,
    queries: Sequence[tuple[int, str]],
    k: int = 10,
    fb_docs: int = 3,
    fb_terms: int = 2,
    expansion_weight_milli: int = 500,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 with pseudo-relevance feedback — the RM3-family two-pass
    retrieval loop (Lavrenko & Croft 2001; Abdul-Jaleel et al. 2004,
    the public RM3 formulation): score the query, take the top
    ``fb_docs`` documents per query as pseudo-relevant, promote their
    ``fb_terms`` heaviest non-query terms (by summed tf across the
    feedback docs, ties term-ascending) into the query, and re-score
    with original terms at weight 1000 milli and expansion terms at
    ``expansion_weight_milli`` — query expansion is the standard recall
    lever for eval-set mining when the probe query undersamples the
    corpus vocabulary.

    Engine-exact like everything in this module: both passes run the
    shared quantized floor-div chain; the per-term contribution is
    weighted as ``(contrib · w_milli) div 1000`` (floor AFTER the
    multiply, so the oracle replays it exactly); every selection stage
    has a total order (pass-1: score desc / doc asc; expansion: tfsum
    desc / term asc; final: score desc / doc asc).

    Scale shape: ONE tokenize + tf aggregate feeds both passes (the
    bm25_scores restructure — tf persists, dl/dfreq/stats derive);
    pass-1 candidates prune to the broadcast query terms; the feedback
    frame is (queries × fb_docs)-bounded and broadcasts back onto tf to
    pick expansion terms; the expanded query table is (queries ×
    (q_terms + fb_terms))-bounded and broadcasts into pass 2. Rankings
    use ``grouped_rank`` except none is needed for the bounded frames.
    Nothing new is corpus-sized beyond the two pruned scoring passes."""
    spark = docs.sparkSession
    toks = fan_out(docs).select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = persist_once(
        toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = tf.agg(
        F.count_distinct("id").alias("n_docs"), F.sum("tf").alias("n_toks")
    )
    q = _query_terms_df(spark, queries)

    def score_pass(qterms: DataFrame) -> DataFrame:
        # qterms: (query_id, term, w_milli) — contribution weighted
        # AFTER the shared floor-div chain, floor again on the weight
        scored = (
            tf.join(F.broadcast(qterms), on="term")
            .join(dl, on="id")
            .join(
                F.broadcast(
                    dfreq.join(
                        F.broadcast(qterms.select("term").distinct()), on="term"
                    )
                ),
                on="term",
            )
            .crossJoin(F.broadcast(stats))
        )
        return _score_terms_weighted(scored, id_col)

    s1 = score_pass(q.withColumn("w_milli", F.lit(1000)))
    fb = (
        grouped_rank(s1, ["query_id"], [F.desc("score_ppm"), F.asc(id_col)])
        .filter(F.col("_r") <= fb_docs)
        .select("query_id", F.col(id_col).alias("id"))
    )
    # heaviest non-query terms across each query's feedback docs. The
    # anti-join's right side is the driver-built query-terms frame —
    # broadcast it (r15: the extended plan audit caught this pair as the
    # only SortMergeJoins in the PRF plans; a human-sized frame must
    # never be the sort-merge side of a corpus-derived join)
    exp = (
        tf.join(F.broadcast(fb), on="id")
        .groupBy("query_id", "term")
        .agg(F.sum("tf").alias("tfsum"))
        .join(F.broadcast(q), on=["query_id", "term"], how="left_anti")
    )
    # exp is (queries × feedback-doc vocabulary)-bounded — fb_docs docs'
    # distinct terms per query, never corpus-sized — so a plain per-query
    # window ranks it (the rrf_fuse plan-diet rule: grouped_rank's
    # range-partition machinery is for frames that dwarf the group count)
    from pyspark.sql import Window

    w_exp = Window.partitionBy("query_id").orderBy(F.desc("tfsum"), F.asc("term"))
    exp_top = (
        exp.withColumn("_r", F.row_number().over(w_exp))
        .filter(F.col("_r") <= fb_terms)
        .select("query_id", "term")
    )
    q2 = q.withColumn("w_milli", F.lit(1000)).unionByName(
        exp_top.withColumn("w_milli", F.lit(int(expansion_weight_milli)))
    )
    s2 = score_pass(q2)
    ranked = grouped_rank(s2, ["query_id"], [F.desc("score_ppm"), F.asc(id_col)])
    out = ranked.filter(F.col("_r") <= k).select(
        "query_id", id_col, F.col("_r").cast("int").alias("rank"), "score_ppm"
    )
    return out


def bm25_prf_search_index(
    spark: SparkSession,
    path: str,
    queries: Sequence[tuple[int, str]],
    k: int = 10,
    fb_docs: int = 3,
    fb_terms: int = 2,
    expansion_weight_milli: int = 500,
    id_col: str = "doc_id",
    inlist_max_terms: int = BM25_INLIST_MAX_TERMS,
) -> DataFrame:
    """Stored-index serving twin of :func:`bm25_prf_topk` (VERDICT r13 #2):
    identical scores and ranking — both passes run the shared
    ``_score_terms_weighted`` floor-div chain, every selection stage keeps
    the same total order — but against a ``bm25_build_index`` layout, so a
    PRF query batch costs two PRUNED probes plus one bounded feedback
    fetch instead of two corpus tokenizations:

    - pass 1 prunes the postings scan to the query terms' crc32 buckets
      (partition pruning) and the termstats prune takes the IN-list /
      broadcast-join route of ``bm25_search_index`` (VERDICT r12 #6 cap);
    - the feedback stage fetches the FULL term vectors of the (queries ×
      ``fb_docs``)-bounded pseudo-relevant set from the DOC-MAJOR
      ``doc_tf`` mirror (r15, VERDICT r14 #4): the pseudo-relevant ids
      are collected (bounded by construction) and the scan prunes to
      their crc32 dbuckets — ≤ (queries × fb_docs) of 256 partitions —
      plus a broadcast hash join, never a shuffle. A pre-r15 layout
      without the mirror falls back to the old single un-pruned postings
      pass (columnar-pruned to (id, term, tf), broadcast-joined);
    - the expansion pick collects the (queries × ``fb_terms``)-bounded
      winners driver-side — a documented bounded collect, and the reason
      pass 2 can bucket-prune: the expanded term set must be a driver
      literal to prune partitions before the scan;
    - pass 2 re-probes with original terms at weight 1000 milli and
      expansion terms at ``expansion_weight_milli``, pruned to the
      expanded term set's buckets.

    Requires the dl-denormalized layout (post-r12 ``bm25_build_index``);
    refuses the legacy layout like the append does."""
    import zlib

    postings = read_stored(spark, f"{path}/postings")
    if "dl" not in postings.columns:
        raise ValueError(
            "bm25_prf_search_index: stored postings lack the denormalized "
            "'dl' column (pre-dl layout). Rebuild the index with "
            "bm25_build_index first."
        )
    termstats = read_stored(spark, f"{path}/termstats")
    stats = read_stored(spark, f"{path}/stats")

    def score_pass(qterms: DataFrame, terms: list[str]) -> DataFrame:
        buckets = sorted({zlib.crc32(t.encode()) % 256 for t in terms})
        hits = postings.filter(F.col("bucket").isin(buckets))
        if len(terms) <= inlist_max_terms:
            dfreq = termstats.filter(F.col("term").isin(terms))
        else:
            tl = literal_frame(spark, [(t,) for t in terms], "term string")
            dfreq = termstats.join(F.broadcast(tl), on="term")
        scored = (
            hits.join(F.broadcast(qterms), on="term")
            .join(F.broadcast(dfreq), on="term")
            .crossJoin(F.broadcast(stats))
        )
        return _score_terms_weighted(scored, id_col)

    qrows = sorted(
        {(int(qid), w) for qid, qtext in queries for w in tokenize_str(str(qtext))}
    )
    q1 = literal_frame(spark, 
        [(qid, t, 1000) for qid, t in qrows],
        "query_id int, term string, w_milli int",
    )
    s1 = score_pass(q1, sorted({t for _, t in qrows}))
    fb_rows = (
        grouped_rank(s1, ["query_id"], [F.desc("score_ppm"), F.asc(id_col)])
        .filter(F.col("_r") <= fb_docs)
        .select("query_id", F.col(id_col).alias("id"))
        .collect()  # (queries × fb_docs)-bounded by construction; the
        # driver literal is what lets the doc_tf scan partition-prune
    )
    fb = literal_frame(spark, 
        [(int(r["query_id"]), r["id"]) for r in fb_rows],
        s1.select("query_id", F.col(id_col).alias("id")).schema,
    )
    import os as _os

    if _os.path.isdir(f"{path}/doc_tf"):
        dbuckets = sorted({_dbucket_of(r["id"]) for r in fb_rows})
        fetch_src = read_stored(spark, f"{path}/doc_tf").filter(
            F.col("dbucket").isin(dbuckets)
        )
    else:  # pre-r15 layout: full postings pass (see docstring)
        fetch_src = postings
    exp = (
        fetch_src.join(F.broadcast(fb), on="id")
        .groupBy("query_id", "term")
        .agg(F.sum("tf").alias("tfsum"))
        .join(
            # broadcast: q1 is the driver-built query-terms frame (r15 —
            # same SortMergeJoin catch as the inline twin)
            F.broadcast(q1.select("query_id", "term")),
            on=["query_id", "term"],
            how="left_anti",
        )
    )
    from pyspark.sql import Window

    w_exp = Window.partitionBy("query_id").orderBy(F.desc("tfsum"), F.asc("term"))
    exp_rows = (
        exp.withColumn("_r", F.row_number().over(w_exp))
        .filter(F.col("_r") <= fb_terms)
        .select("query_id", "term")
        .collect()  # (queries × fb_terms)-bounded by construction
    )
    q2_rows = [(qid, t, 1000) for qid, t in qrows] + sorted(
        (int(r["query_id"]), str(r["term"]), int(expansion_weight_milli))
        for r in exp_rows
    )
    q2 = literal_frame(spark, q2_rows, "query_id int, term string, w_milli int")
    s2 = score_pass(q2, sorted({t for _, t, _ in q2_rows}))
    ranked = grouped_rank(s2, ["query_id"], [F.desc("score_ppm"), F.asc(id_col)])
    return ranked.filter(F.col("_r") <= k).select(
        "query_id", id_col, F.col("_r").cast("int").alias("rank"), "score_ppm"
    )


RRF_K = 60  # the standard fusion constant (Cormack et al. 2009 use k=60)


def rrf_fuse(
    ranked: "Sequence[DataFrame]",
    k: int = 10,
    rrf_k: int = RRF_K,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hybrid-retrieval Reciprocal Rank Fusion (Cormack, Clarke &
    Buettcher, SIGIR 2009): fuse any number of per-query ranked lists —
    lexical BM25, dense cosine, sparse learned, ... — into one ranking
    by ``score(d) = Σ_lists 1 / (rrf_k + rank_list(d))``. RRF is the
    standard way a training-data pipeline combines lexical and embedding
    retrieval for eval-set mining and hard-negative sampling: it needs
    no score calibration between systems (ranks only), and a document
    found by several systems beats one found by a single system.

    Engine-exact scoring: the reciprocal is quantized to ppm with floor
    division — each list contributes ``1_000_000 div (rrf_k + rank)`` —
    so fused scores are BIGINTs and the ranking is bit-reproducible
    across engines (the retrieval-module discipline: no float sums whose
    last ulp could flip a rank between JVM and libm). With rrf_k = 60
    ranks 1.. map to 16393, 16129, ... — distinct well past any
    practical candidate depth, so quantization never collapses adjacent
    ranks.

    Scale shape: inputs are per-query TOP-K lists, so every frame here
    is (queries × k)-bounded — union + one hash aggregate, no
    corpus-sized stage. BECAUSE the frame is bounded, the final ranking
    uses a plain per-query window rather than the two-phase
    ``grouped_rank`` the corpus-sized rankings in this module need:
    grouped_rank's own guidance reserves the range-partition + offsets
    machinery for frames whose size dwarfs the group count — on a
    candidates-bounded frame it costs an extra job (offsets collect), a
    persist, and two exchanges for parallelism nothing here can use
    (plan-diet, VERDICT r11 #5). Ranks are bit-identical (row_number
    under the same total order). Ties break by doc id ascending.

    Returns ``(query_id, id_col, rank, rrf_ppm, n_lists)`` — ``n_lists``
    = how many input lists surfaced the doc (each list holds a doc at
    most once by the top-k contract), the agreement signal hybrid
    pipelines threshold on.
    """
    if not ranked:
        raise ValueError("rrf_fuse: need at least one ranked list")
    contrib = F.expr(f"1000000 div ({int(rrf_k)} + {rank_col})").alias("_c")
    parts = [
        df.select(F.col(query_id_col), F.col(id_col), contrib) for df in ranked
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy(query_id_col, id_col).agg(
        F.sum("_c").alias("rrf_ppm"), F.count(F.lit(1)).alias("n_lists")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("rrf_ppm"), F.asc(id_col)
    )
    return (
        fused.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .select(
            query_id_col,
            id_col,
            F.col("_r").cast("int").alias("rank"),
            F.col("rrf_ppm").cast("long").alias("rrf_ppm"),
            F.col("n_lists").cast("int").alias("n_lists"),
        )
    )


def hybrid_search_index(
    spark: SparkSession,
    bm25_path: str,
    ivf_path: str,
    queries: Sequence[tuple[int, str]],
    query_vectors: DataFrame,
    k: int = 10,
    k_cand: int = 20,
    n_probe: int = 4,
    rrf_k: int = RRF_K,
    id_col: str = "doc_id",
) -> DataFrame:
    """Hybrid retrieval over STORED indexes — the serving composition:
    probe a ``bm25_build_index`` layout (posting buckets pruned to the
    query terms) and an ``ivf_build_index`` layout (cid partitions
    pruned to the probed lists) for ``k_cand`` candidates each, then
    fuse with :func:`rrf_fuse`. ``queries`` are (query_id, text) pairs;
    ``query_vectors`` is the matching (query_id, embedding) frame —
    ids must align across the two modalities, which is the caller's
    contract (an embedding service keyed by the same query ids).

    One plan: the BM25 sums (map-side partial aggregate) and the scored
    IVF list rows are unioned and ranked per (query, list) by one window
    — its partial group limit keeps at most ``k_cand`` rows per query
    and list in every task before the exchange — then the RRF aggregate
    and the final rank share one ``query_id`` partitioning, bounded by
    queries × 2 × ``k_cand`` rows. The driver's part is one collect of
    the query vectors (the IVF probes, ``similarity._driver_probes``),
    and the centroid and stats tables are memoized per build, so a warm
    call over unchanged indexes runs 8 Spark jobs in all: that collect,
    the broadcasts of the query terms, the probes and the pruned
    termstats, and four for the plan's three exchanges and its result.
    Ranks equal
    :func:`bm25_search_index`'s and ``ivf_search_index``'s, whose
    orders are total.

    Steady-state cost = two pruned index probes + a (queries × k)-
    bounded fusion; neither corpus is re-scanned or re-hashed. With
    ``n_probe`` ≥ the index's centroid count the dense side is
    exhaustive and the result equals the inline hybrid exactly
    (test-pinned); at production probe counts it is the standard
    recall/cost trade the IVF family documents.

    Spark plans that partial group limit only for ``k_cand`` up to
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000 by default).
    Past it the one window would sort each query's whole candidate list
    in one task, so each list is ranked by its own search instead
    (``grouped_rank``'s parallel route) and the two are fused as before:
    same ranks, more jobs."""
    from pyspark.sql import Window

    from .similarity import _ivf_scored, ivf_search_index

    limit = spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold", "1000")
    if k_cand > int(limit):
        lists = [
            bm25_search_index(spark, bm25_path, queries, k=k_cand, id_col=id_col),
            ivf_search_index(
                spark, ivf_path, query_vectors, n_probe=n_probe, k=k_cand
            ).withColumnRenamed("neighbor_id", id_col),
        ]
        return rrf_fuse(
            [r.select(F.col("query_id").cast("long").alias("query_id"), id_col, "rank") for r in lists],
            k=k,
            rrf_k=rrf_k,
            id_col=id_col,
        )
    lex = _bm25_scored(spark, bm25_path, queries, id_col, BM25_INLIST_MAX_TERMS)
    dense = _ivf_scored(
        spark, ivf_path, query_vectors, n_probe, "embedding", "query_id", None
    )
    cands = lex.selectExpr(
        "CAST(query_id AS BIGINT) AS query_id",
        "0 AS _list",
        f"`{id_col}`",
        "score_ppm AS _lex",
        "CAST(NULL AS DOUBLE) AS _cos",
    ).unionByName(
        dense.selectExpr(
            "CAST(query_id AS BIGINT) AS query_id",
            "1 AS _list",
            f"neighbor_id AS `{id_col}`",
            "CAST(NULL AS BIGINT) AS _lex",
            "cos AS _cos",
        )
    )
    # one score column per list, NULL in the other: each list ranks by
    # its own score (desc, NULL last) then id, as its own search does
    w = Window.partitionBy("query_id", "_list").orderBy(
        F.desc("_lex"), F.desc("_cos"), F.asc(id_col)
    )
    ranked = cands.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k_cand
    )
    return rrf_fuse(
        [ranked.repartition("query_id")], k=k, rrf_k=rrf_k, id_col=id_col
    )
