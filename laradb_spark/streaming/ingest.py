"""End-to-end incremental curation ingest: the foreachBatch loop a
continuously-fed training corpus runs per micro-batch, composing the
stored-index dedup and classifier stages that exist separately in
``streaming.dedup`` and ``pipelines.curation`` into ONE pipeline:

  1. exact dedup — within the batch AND against the stored digest index
     (re-read per batch; same freshness rationale as
     ``dedup_ingest_stream``);
  2. learned quality-classifier gate over the surviving new docs
     (broadcast ppm-integer weights — ``quality_classifier_score``);
  3. keepers append to the curated corpus; EVERY first-seen digest
     (kept or rejected) appends to the index — so a later exact
     duplicate of a REJECTED doc is dropped at step 1 instead of being
     re-scored (the decision is deterministic, so recording it once is
     both cheaper and idempotent);
  4. an ingest ledger row per (batch, source) appends to ``stats_path``:
     (batch_id, source, n_new, n_kept, n_tokens_kept) — the frame
     ``apportion_token_counts`` / mixture planning reads to steer the
     NEXT ingestion round.

Green-field relative to the reference (SURVEY.md §2.4: no streaming).

Scale shape: every stage is the batch operator's own 100 TB shape — the
digest anti-join shuffles (digest, id) only, scoring is map-only against
broadcast weights, the ledger aggregate is sources-sized. State lives in
parquet indexes, not executor memory, so a month-long ingest holds no
stream state at all.

EXACTLY-once: every loop in this module and ``streaming.dedup``
commits each micro-batch through :func:`.txn.exactly_once_apply`, the
one commit protocol every stored-index write shares: outputs stage
beside the index with the batch's ownership marker, publish moves data
and marker together, crashed publishes resume through
``txn.publish_pending_batch``, and foreign stages refuse.
The dedup/score DECISIONS were already idempotent (hash + deterministic
model); the txn removes the remaining partial-write duplication window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def curate_ingest_stream(
    stream: DataFrame,
    weights: DataFrame,
    index_path: str,
    out_path: str,
    stats_path: str,
    checkpoint_path: str,
    threshold_ppm: int = 0,
    bias_ppm: int = 0,
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
):
    """Start the incremental curation loop (availableNow trigger — drain
    what's there, then stop; rerun to ingest new arrivals). ``weights``
    is any (b, w) classifier frame (``train_quality_weights`` output or
    an offline model quantized to ppm ints). Docs the classifier cannot
    score (no tokens → no features) are REJECTED — a token-less doc has
    no place in a text corpus, and silently passing it would bypass the
    quality gate. Returns the started StreamingQuery."""
    from pyspark.sql.utils import AnalysisException

    from ..pipelines.curation import quality_classifier_score
    from ..pipelines.text import token_count
    from .txn import exactly_once_apply

    def _stage_batch(batch_df: DataFrame, batch_id: int, pend: str) -> None:
        spark = batch_df.sparkSession
        fresh = batch_df.withColumn(
            "_digest", F.md5(F.coalesce(F.col(text_col), F.lit("")))
        ).dropDuplicates(["_digest"])
        try:
            seen = spark.read.parquet(index_path).withColumnRenamed(
                "digest", "_digest"
            )
            fresh = fresh.join(seen, on="_digest", how="left_anti")
        except AnalysisException:
            pass  # first batch: no index yet
        fresh.persist()
        gated = None
        try:
            scores = quality_classifier_score(
                fresh,
                weights,
                bias_ppm=bias_ppm,
                threshold_ppm=threshold_ppm,
                text=text_col,
            ).select(id_col, "keep")
            gated = fresh.join(scores, on=id_col, how="left").withColumn(
                "_keep", F.coalesce(F.col("keep"), F.lit(0)) == 1
            )
            gated.persist()
            kept = gated.filter(F.col("_keep")).drop("_digest", "keep", "_keep")
            kept.write.mode("overwrite").parquet(f"{pend}/out")
            gated.groupBy(F.col(source_col).alias("source")).agg(
                F.count(F.lit(1)).alias("n_new"),
                F.sum(F.col("_keep").cast("long")).alias("n_kept"),
                F.sum(
                    F.when(
                        F.col("_keep"),
                        token_count(F.coalesce(F.col(text_col), F.lit(""))),
                    ).otherwise(F.lit(0)).cast("long")
                ).alias("n_tokens_kept"),
            ).withColumn("batch_id", F.lit(batch_id)).write.mode("overwrite").parquet(
                f"{pend}/stats"
            )
            # coalesce(1): the digest frame is 16 bytes/row and map-only
            # (32 partitions -> 32 tiny part files per micro-batch, and
            # the per-batch index re-read pays the file listing forever —
            # measured in tools/bench_stream_probe.py); one write task per
            # batch is the right default at micro-batch sizes
            gated.select(F.col("_digest").alias("digest")).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{pend}/index")
        finally:
            if gated is not None:
                gated.unpersist()
            fresh.unpersist()

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        exactly_once_apply(
            index_path,
            batch_id,
            "curate_ingest_stream",
            lambda pend: _stage_batch(batch_df, batch_id, pend),
            {"out": out_path, "stats": stats_path, "index": index_path},
        )

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def sketch_ingest_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
    group_cols: "list[str] | None" = None,
    value_col: str = "doc_id",
    lg_k: int = 12,
):
    """Continuous HLL sketch-sidecar maintenance (r15 — the streaming
    completion of ``pipelines/sketches.py``, so every sidecar family has
    the batch/append/serve/stream quartet): each micro-batch reduces to
    one kilobyte-scale DataSketches HLL row per group and lands it in
    the store EXACTLY once via the shared :mod:`.txn` staged commit —
    a redelivered batch must not union its values twice (HLL tolerates
    re-INSERTION of the same values, but a re-appended sketch ROW is a
    second union input whose HIP-path estimate differs, silently
    shifting the merged estimate). ``hll_store_estimates`` then answers
    distinct-count questions from the sidecar alone, corpus never
    rescanned. Returns the started query (availableNow trigger)."""
    from ..pipelines.sketches import hll_sketch_batch
    from .txn import exactly_once_apply

    groups = list(group_cols) if group_cols else ["source"]

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return

        def stage(pend: str) -> None:
            # one row per (group, batch): coalesce(1) — the
            # curate_ingest_stream small-files rationale, and sketches
            # are kilobytes by construction
            hll_sketch_batch(batch_df, groups, value_col, lg_k).withColumn(
                "batch_id", F.lit(int(batch_id)).cast("long")
            ).coalesce(1).write.mode("overwrite").parquet(f"{pend}/sketches")

        exactly_once_apply(
            store_path,
            batch_id,
            "sketch_ingest_stream",
            stage,
            {"sketches": store_path},
        )

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def url_ingest_stream(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_path: str,
    blocked_domains: list[str] | None = None,
    url_col: str = "url",
):
    """The foreachBatch URL-screening loop — RefinedWeb §3.1's
    URL-filtering stage as a continuous ingest: per micro-batch, drop
    blocklisted domains, dedup on the CANONICAL url within the batch
    (first row per canonical wins) and against the stored canonical-
    digest index, append survivors to ``out_path`` and their digests to
    the index. A URL seen in any earlier batch — under ANY raw spelling
    that canonicalizes the same — never re-enters the corpus.

    Index re-read per batch (fresh static plan — the
    ``dedup_ingest_stream`` rationale and file-listing caveat).
    EXACTLY-once per micro-batch via the shared :mod:`.txn` staged
    commit (module docstring). Returns the started query
    (availableNow trigger)."""
    from pyspark.sql.utils import AnalysisException

    from ..pipelines.web import canonical_url, domain_blocklist_filter
    from .txn import exactly_once_apply

    def _stage_batch(batch_df: DataFrame, pend: str) -> None:
        spark = batch_df.sparkSession
        fresh = batch_df
        if blocked_domains:
            fresh = domain_blocklist_filter(fresh, blocked_domains, url_col=url_col)
        fresh = fresh.withColumn(
            "_digest", F.md5(canonical_url(F.col(url_col)))
        ).dropDuplicates(["_digest"])
        try:
            seen = spark.read.parquet(index_path).withColumnRenamed(
                "digest", "_digest"
            )
            fresh = fresh.join(seen, on="_digest", how="left_anti")
        except AnalysisException:
            pass  # first batch: no index yet
        fresh.persist()
        try:
            fresh.drop("_digest").write.mode("overwrite").parquet(f"{pend}/out")
            # coalesce(1): same many-small-files rationale as
            # curate_ingest_stream's index append
            fresh.select(F.col("_digest").alias("digest")).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{pend}/index")
        finally:
            fresh.unpersist()

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        exactly_once_apply(
            index_path,
            batch_id,
            "url_ingest_stream",
            lambda pend: _stage_batch(batch_df, pend),
            {"out": out_path, "index": index_path},
        )

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def shard_ingest_stream(
    stream: DataFrame,
    merges: list[tuple[str, str]],
    shards_path: str,
    state_path: str,
    checkpoint_path: str,
    context_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Incremental token-shard materialization: the streaming completion
    of ``pipelines.shards.write_token_shards``. Each micro-batch encodes
    its documents (byte-level BPE → integer ids), concatenates them onto
    the GLOBAL token stream (carrying the previous batch's unfinished
    pack), appends every COMPLETED fixed-length pack to ``shards_path``,
    and persists the new tail state — so a continuously-fed corpus
    materializes into training contexts without ever re-tokenizing or
    re-packing history.

    State (1 row at ``state_path``): ``total`` tokens ever ingested, the
    ≤ context_len unwritten ``partial`` token ids, and the doc-start
    offsets inside that partial pack. Bounded by context_len by
    construction — state never grows with corpus size.

    Scale shape per batch: encoding is the map-only expression chain;
    offsets come from the two-phase parallel cumsum (ordering: carry
    row first, then ``id_col`` ascending within the batch); pack
    assembly groups ≤ context_len tokens per pack. Driver-side collects
    are the single ≤ context_len partial pack and the batch's doc-start
    offsets (one (pos, id) pair per batch DOC — micro-batch-bounded by
    construction, never corpus- or token-bounded).

    Exactly-once mechanics (state is read-modify-write, so replays are
    sharper here than in the append-only dedup loops): (a) each batch's
    completed packs land under the deterministic directory
    ``{shards_path}/batch=<batch_id>`` in OVERWRITE mode — a retry that
    crashed between the pack write and the state write recomputes the
    identical packs (state unchanged) and overwrites the same directory,
    never duplicating; (b) the state row records the last committed
    ``batch_id``, so a replay arriving AFTER the state write (checkpoint
    lag) no-ops instead of re-applying the batch on top of post-batch
    state. Readers see ``batch_id`` as a hive partition column on the
    shard table; pack_ids stay globally unique and dense."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from ..pipelines.curation import global_exclusive_cumsum
    from ..pipelines.tokenizer import bpe_byte_encode_ids, bpe_validate_merges
    from ..util import literal_frame, persist_once

    bpe_validate_merges(merges)
    L = int(context_len)
    start_schema = ArrayType(
        StructType(
            [StructField("pos", IntegerType()), StructField("doc_id", LongType())]
        )
    )
    state_schema = StructType(
        [
            StructField("total", LongType()),
            StructField("partial", ArrayType(IntegerType())),
            StructField("partial_starts", start_schema),
            StructField("batch_id", LongType()),
        ]
    )

    def _apply(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        from pyspark.sql.utils import AnalysisException

        try:
            st = spark.read.parquet(state_path).collect()
            total = int(st[0]["total"]) if st else 0
            partial = list(st[0]["partial"]) if st else []
            partial_starts = (
                [(int(s["pos"]), int(s["doc_id"])) for s in st[0]["partial_starts"]]
                if st
                else []
            )
            # pre-batch_id state files lack the column; treat as "unknown,
            # assume not yet applied" (the overwrite dir still dedups)
            done = st[0].asDict().get("batch_id") if st else None
        except AnalysisException:  # first batch: no state yet
            total, partial, partial_starts, done = 0, [], [], None
        if done is not None and int(_batch_id) <= int(done):
            return  # replay of an already-committed batch: state and packs landed
        base = total - len(partial)  # L-aligned global start of the unwritten region

        enc = bpe_byte_encode_ids(
            batch_df.select(F.col(id_col).alias("doc_id"), F.col(text_col)), merges,
            text=text_col,
        )
        counted = enc.select(
            F.lit(1).alias("_ord"), "doc_id",
            F.size("token_ids").alias("_n"), "token_ids",
        )
        if partial:
            carry = literal_frame(spark, 
                [(0, -1, len(partial), partial)],
                "_ord int, doc_id long, _n long, token_ids array<int>",
            )
            counted = carry.unionByName(counted)
        caches: list = []
        cum = global_exclusive_cumsum(
            counted, ["_ord", "doc_id"], "_n", "start_tok", caches=caches
        )
        # total stream length off the PINNED ranged frame — no re-encode
        batch_tokens = caches[0].agg(F.sum("_n")).collect()[0][0] or 0
        new_total = base + int(batch_tokens)  # == total + new doc tokens
        complete = new_total // L  # packs [0, complete) are full

        tokpos = (
            cum.filter(F.col("_n") > 0)
            .select(
                (F.lit(base) + F.col("start_tok")).alias("_gs"),
                F.posexplode("token_ids").alias("_i", "_tid"),
            )
            .select((F.col("_gs") + F.col("_i")).alias("_g"), "_tid")
            .select(
                F.expr(f"_g div {L}").alias("pack_id"),
                (F.col("_g") % L).cast("int").alias("_pos"),
                "_tid",
            )
        )
        tokpos = persist_once(tokpos)
        try:
            # global doc-start positions: new docs' are absolute; the
            # carried-in ones are offsets within the partial pack, whose
            # global base is the L-aligned `base`
            starts_new = [
                (int(r["_s"]), int(r["doc_id"]))
                for r in cum.filter((F.col("_n") > 0) & (F.col("_ord") == 1))
                .select(
                    "doc_id", (F.lit(base) + F.col("start_tok")).alias("_s")
                )
                .collect()
            ]
            starts_all = [(base + p, d) for p, d in partial_starts] + starts_new

            full = tokpos.filter(F.col("pack_id") < complete)
            if complete > base // L:
                seqs = full.groupBy("pack_id").agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("_pos", "_tid"))),
                        lambda s: s["_tid"],
                    ).alias("token_ids")
                )
                sd = {}
                for g, d in starts_all:
                    if g // L < complete:
                        sd.setdefault(g // L, []).append((int(g % L), d))
                if sd:
                    sf = literal_frame(spark, 
                        [(p, sorted(v)) for p, v in sd.items()],
                        StructType(
                            [
                                StructField("pack_id", LongType()),
                                StructField("doc_starts", start_schema),
                            ]
                        ),
                    )
                    seqs = seqs.join(F.broadcast(sf), on="pack_id", how="left")
                # packs fully inside one long document carry an EMPTY
                # doc_starts array, not NULL — same stored format as the
                # batch writer (write_token_shards)
                empty = F.expr(f"CAST(array() AS {start_schema.simpleString()})")
                seqs = seqs.withColumn(
                    "doc_starts",
                    F.coalesce(F.col("doc_starts"), empty)
                    if "doc_starts" in seqs.columns
                    else empty,
                )
                # deterministic per-batch directory in overwrite mode: a
                # retry that recomputes this batch rewrites the SAME path
                seqs.write.mode("overwrite").parquet(
                    f"{shards_path}/batch={int(_batch_id)}"
                )

            tail_rows = sorted(
                (int(r["_pos"]), int(r["_tid"]))
                for r in tokpos.filter(F.col("pack_id") >= complete).collect()
            )
            new_partial = [t for _p, t in tail_rows]
            new_partial_starts = sorted(
                (int(g % L), d) for g, d in starts_all if g // L >= complete
            )
            literal_frame(spark, 
                [(new_total, new_partial, new_partial_starts, int(_batch_id))],
                state_schema,
            ).coalesce(1).write.mode("overwrite").parquet(state_path)
        finally:
            tokpos.unpersist()
            for c in caches:
                c.unpersist()

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def bm25_index_stream(
    stream: DataFrame,
    index_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Continuous BM25 index maintenance: each micro-batch of NEW
    documents lands in a stored ``bm25_build_index`` layout exactly as a
    ``bm25_append_index`` call would — the streaming completion of the
    build/append/compact/serve lifecycle (``bm25_maintenance_cycle`` is
    the batch twin; the digest / minhash / vector indexes all have the
    same ingest-stream counterpart).

    EXACTLY-once per micro-batch through :func:`.txn.exactly_once_apply`,
    with the append's own stage and targets: the batch's applied-marker
    is staged inside the pending dir and lands with the data (the fused
    commit point), so a redelivery after a completed publish no-ops, a
    redelivery after a crash mid-publish finishes that publish instead of
    re-staging, and a completed stage that is not this batch's (a manual
    ``bm25_append_index`` that crashed mid-publish before the stream
    started) fails the stream and directs the operator to
    ``txn.publish_pending_batch(index_path)``.

    Single-writer contract: don't run manual ``bm25_append_index`` calls
    against the same layout while the stream is live (every rewrite op in
    this package assumes the offline/single-writer window; the stream IS
    that single writer here). Interleave ``bm25_compact_index`` between
    stream drains, not during one. Token-less docs are absent from the
    postings by the tokenizer contract, exactly as in a batch build.

    Returns the started StreamingQuery (availableNow trigger — drain the
    queued batches, then stop; rerun to ingest new arrivals)."""
    from ..pipelines.retrieval import _bm25_append_stage
    from .txn import exactly_once_apply

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        stage, targets = _bm25_append_stage(batch_df, index_path, id_col, text_col)
        exactly_once_apply(index_path, batch_id, "bm25_index_stream", stage, targets)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
