"""Streaming deduplication — exactly-once event delivery over at-least-once
transports. Green-field relative to the reference (SURVEY.md §2.4: no
streaming); the batch twin is pipelines/dedup.exact semantics on ids.

``dropDuplicatesWithinWatermark`` keeps one state entry per id only until
event time passes the watermark horizon, so state is bounded by
(arrival rate × watermark) regardless of stream length — the only dedup
shape that survives an unbounded 100 TB/day stream. Plain
``dropDuplicates`` on a stream would grow state forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .windows import _with_event_time


def dedup_stream(
    df: DataFrame,
    id_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """First occurrence of each id wins; re-deliveries within the watermark
    horizon are dropped. Unified batch/streaming: a batch frame takes the
    plain dropDuplicates path (same visible result for on-time data)."""
    out = _with_event_time(df, ts_col)
    if out.isStreaming:
        out = out.withWatermark("_etime", watermark).dropDuplicatesWithinWatermark(
            list(id_cols)
        )
    else:
        out = out.dropDuplicates(list(id_cols))
    return out.drop("_etime")


def dedup_ingest_stream(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_path: str,
    text_col: str = "text",
):
    """The foreachBatch incremental-ingest dedup loop: per micro-batch,
    RE-READ the stored digest index (a fresh static plan every batch — so
    digests appended by earlier batches of this very run are visible,
    unlike a plan-frozen stream-static join whose parquet file listing is
    resolved once at stream start), drop already-seen and intra-batch
    duplicate texts, append survivors to ``out_path`` and their digests
    to the index.

    EXACTLY-once per micro-batch (r14 — the ``bm25_index_stream`` fused
    commit point, factored as :mod:`..streaming.txn` and shared by the
    whole ingest-loop family): survivors and digests stage under
    ``{index_path}/_append_pending`` and publish atomically with this
    batch's applied-marker, so a redelivery after any completed publish
    no-ops, a crash mid-stage discards and re-runs (the dedup decision is
    deterministic against the unchanged index), a crash mid-publish
    resumes, and a foreign writer's crashed stage fails loudly instead of
    being published as this batch.

    Returns the started StreamingQuery (availableNow trigger — the
    incremental batch-ingest shape: drain what's there, then stop).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    from .txn import exactly_once_apply

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession

        def stage(pend: str) -> None:
            fresh = batch_df.withColumn(
                "_digest", F.md5(F.col(text_col))
            ).dropDuplicates(["_digest"])
            try:
                seen = spark.read.parquet(index_path).withColumnRenamed(
                    "digest", "_digest"
                )
                fresh_out = fresh.join(seen, on="_digest", how="left_anti")
            except AnalysisException:
                fresh_out = fresh  # first batch: no index yet
            fresh_out.persist()
            fresh_out.drop("_digest").write.mode("overwrite").parquet(f"{pend}/out")
            fresh_out.select(F.col("_digest").alias("digest")).write.mode(
                "overwrite"
            ).parquet(f"{pend}/index")
            fresh_out.unpersist()

        exactly_once_apply(
            index_path,
            batch_id,
            "dedup_ingest_stream",
            stage,
            {"out": out_path, "index": index_path},
        )

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def line_ingest_stream(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_path: str,
    max_occurrences: int = 2,
    text_col: str = "text",
):
    """The foreachBatch incremental LINE-dedup loop — RefinedWeb
    boilerplate-line stripping as a continuous ingest: per micro-batch,
    strip every line whose cumulative count (stored line index + this
    batch) exceeds ``max_occurrences``, append the rewritten docs to
    ``out_path`` and the batch's per-hash line counts to the index.
    A nav banner crosses the threshold mid-stream and is stripped from
    every document after that point.

    Index re-read per batch (fresh static plan — same rationale and
    file-listing caveat as ``dedup_ingest_stream``). EXACTLY-once per
    micro-batch via the shared :mod:`..streaming.txn` staged commit —
    the COUNT index is the sharpest beneficiary: an at-least-once retry
    used to inflate counts, which (unlike duplicate survivor rows) is
    silent corruption of the strip threshold. The index is written
    ALWAYS, even for batches whose docs were all stripped empty: the
    counts are the history. Returns the started query (availableNow
    trigger)."""
    from pyspark.sql.utils import AnalysisException

    from ..pipelines.lines import (
        line_index_update,
        line_stream,
        strip_indexed_lines,
    )
    from .txn import exactly_once_apply

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # Build + persist the exploded line stream HERE and pass it down
        # via lines=: strip_indexed_lines' own persist_once cache is for
        # one-shot queries and would leak one cached plan per micro-batch
        # (round-8 ADVICE item) — the loop owns the cache lifecycle, same
        # try/finally discipline as curate_ingest_stream.
        def stage(pend: str) -> None:
            ls = line_stream(batch_df, text=text_col).persist()
            try:
                try:
                    stripped = strip_indexed_lines(
                        batch_df, index_path, max_occurrences, text=text_col, lines=ls
                    )
                except AnalysisException:
                    # first batch: no index yet — intra-batch threshold only
                    from ..pipelines.lines import corpus_line_dedup

                    stripped = corpus_line_dedup(
                        batch_df, max_occurrences, text=text_col, lines=ls
                    )
                stripped.write.mode("overwrite").parquet(f"{pend}/out")
                line_index_update(batch_df, f"{pend}/index", text=text_col, lines=ls)
            finally:
                ls.unpersist()

        exactly_once_apply(
            index_path,
            batch_id,
            "line_ingest_stream",
            stage,
            {"out": out_path, "index": index_path},
        )

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def span_ingest_stream(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_path: str,
    window: int | None = None,
    text_col: str = "text",
):
    """The foreachBatch incremental SPAN-dedup loop — the
    ``dedup_ingest_stream`` shape at sub-document granularity: per
    micro-batch, strip every token window that history (the stored span
    index) OR another occurrence within this batch already contains,
    append the rewritten docs to ``out_path`` and the batch's distinct
    window hashes to the index. Future batches then strip text that
    first appeared here; the cleaned output keeps nothing duplicated at
    window granularity, within or across batches.

    Index re-read per batch (fresh static plan — same rationale and
    file-listing caveat as ``dedup_ingest_stream``). EXACTLY-once per
    micro-batch via the shared :mod:`..streaming.txn` staged commit (the
    strip decision is deterministic against the unchanged index, so a
    discarded half-stage re-runs to the identical rewrite). Returns the
    started query (availableNow trigger)."""
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    from ..pipelines.dedup import (
        SPAN_WINDOW,
        _covered_positions,
        _span_window_hashes,
        _strip_by_cover,
    )
    from .txn import exactly_once_apply

    w = SPAN_WINDOW if window is None else window

    def _stage_batch(batch_df: DataFrame, pend: str) -> None:
        spark = batch_df.sparkSession
        batch_df.persist()
        wins = _span_window_hashes(batch_df, w, text_col).persist()
        try:
            # flagged occurrences = seen-in-history ∪ duplicated-within-
            # batch, as a union of LEFT SEMI joins of the batch's window
            # stream: semi joins cannot multiply wins rows however many
            # duplicate h rows the appended index accumulates, and there
            # is no distinct() over the ever-growing history per batch
            # (an occurrence flagged by BOTH sides appears twice in the
            # union — harmless, _covered_positions collect_set dedups).
            dup_in_batch = (
                wins.groupBy("h").agg(F.count(F.lit(1)).alias("_c"))
                .filter(F.col("_c") >= 2).select("h")
            )
            flagged_occ = wins.join(dup_in_batch, on="h", how="left_semi")
            try:
                seen = spark.read.parquet(index_path).select("h")
                flagged_occ = flagged_occ.unionByName(
                    wins.join(seen, on="h", how="left_semi")
                )
            except AnalysisException:
                pass  # first batch: no index yet
            cleaned = _strip_by_cover(
                batch_df,
                _covered_positions(flagged_occ, w),
                text_col,
            )
            cleaned.write.mode("overwrite").parquet(f"{pend}/out")
            wins.select("h").distinct().write.mode("overwrite").parquet(
                f"{pend}/index"
            )
        finally:
            wins.unpersist()
            batch_df.unpersist()

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        exactly_once_apply(
            index_path,
            batch_id,
            "span_ingest_stream",
            lambda pend: _stage_batch(batch_df, pend),
            {"out": out_path, "index": index_path},
        )

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def fuzzy_ingest_stream(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_path: str,
    threshold: "float | None" = None,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """The FUZZY member of the incremental-ingest loop family: per
    micro-batch, screen new docs against the stored minhash-signature
    index (``dedup.minhash_index_build`` layout — band candidates, then
    integer signature-agreement ≥ ceil(τ·num_perm)), ALSO drop
    within-batch near-dups — keep-one-per-CLUSTER: agreeing pairs are
    resolved transitively (connected components, min id kept), the same
    semantics as the batch family's ``drop_near_duplicates``, so a chain
    A~B~C keeps exactly A rather than greedy-pairwise dropping both B
    and C independently. Survivors append to ``out_path`` and their
    signatures+bands to the index. Catches the snapshot-over-snapshot
    near-duplicates the exact-digest loop cannot.

    Index re-read per batch (fresh static plan — earlier batches of this
    run are visible). EXACTLY-once per micro-batch via the shared
    :mod:`..streaming.txn` staged commit — the screening decision is
    deterministic under the fixed permutation table, so a discarded
    half-stage re-derives identical drops; survivors and their
    signatures+bands publish atomically with the batch marker."""
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    from ..pipelines import dedup as dd
    from .txn import exactly_once_apply

    tau = dd.MINHASH_AGREE_T if threshold is None else threshold

    def _stage_batch(batch_df: DataFrame, pend: str) -> None:
        # within-batch near-dup pass: band-candidate pairs (a < b), both
        # signatures joined back by key, agreement bar, then RESOLVE
        # TRANSITIVELY — keep min id per connected component (the batch
        # family's drop_near_duplicates) — the batch is batch-sized, so
        # every join side broadcasts and the component graph is tiny
        import math

        thr = math.ceil(tau * dd.NUM_PERM)
        # The batch signatures feed the band self-join, both agreement
        # joins and the index write. Arrow UDF subtrees are not reused
        # across consumers, so they are persisted once and released
        # before the micro-batch returns (a cache that outlived it would
        # leak one entry per batch in a long-running stream).
        sigs = dd.minhash_signatures(batch_df, id_col=id_col, text_col=text_col).persist()
        kept = None
        try:
            bb = dd.bands_of_signatures(sigs)
            cand = (
                bb.select("band", "bh", F.col("id").alias("_ia"))
                .join(
                    F.broadcast(bb.select("band", "bh", F.col("id").alias("_ib"))),
                    on=["band", "bh"],
                )
                .filter(F.col("_ia") < F.col("_ib"))
                .select("_ia", "_ib")
                .dropDuplicates(["_ia", "_ib"])
            )
            agree_pairs = (
                cand.join(
                    F.broadcast(sigs.select(F.col("id").alias("_ia"), F.col("sig").alias("_sa"))),
                    on="_ia",
                )
                .join(
                    F.broadcast(sigs.select(F.col("id").alias("_ib"), F.col("sig").alias("_sb"))),
                    on="_ib",
                )
                .filter(
                    F.size(
                        F.filter(
                            F.zip_with(F.col("_sa"), F.col("_sb"), lambda a, c: a == c),
                            lambda x: x,
                        )
                    )
                    >= F.lit(thr)
                )
                .select(F.col("_ia").alias("id_a"), F.col("_ib").alias("id_b"))
            )
            deduped = dd.drop_near_duplicates(batch_df, agree_pairs, id_col=id_col)
            try:
                kept = dd.drop_near_seen(deduped, index_path, threshold=tau,
                                         id_col=id_col, text_col=text_col)
            except AnalysisException:  # first batch: no index yet
                kept = deduped
            kept = kept.persist()
            kept.write.mode("overwrite").parquet(f"{pend}/out")
            # the index's {path}/sigs + {path}/bands layout written
            # DIRECTLY into the pend dir (the txn manifest maps each to
            # its live index subdirectory), from the persisted batch
            # signatures of the survivors — no second signature pass
            kept_sigs = sigs.join(
                kept.select(F.col(id_col).alias("id")), on="id", how="left_semi"
            )
            dd._write_signature_index(kept_sigs, pend, dd.NUM_PERM, dd.LSH_BANDS)
        finally:
            if kept is not None:
                kept.unpersist()
            sigs.unpersist()

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        exactly_once_apply(
            index_path,
            batch_id,
            "fuzzy_ingest_stream",
            lambda pend: _stage_batch(batch_df, pend),
            {
                "out": out_path,
                "sigs": f"{index_path}/sigs",
                "bands": f"{index_path}/bands",
            },
        )

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
