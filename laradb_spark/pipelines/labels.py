"""Label-quality and embedding-space QA audits over training corpora.

Three audits a labeled-embedding pipeline runs before training:

* ``knn_label_audit`` — confident-learning-style label-noise detection
  via k-nearest-neighbor majority vote (the Northcutt et al. 2021 /
  Deep-kNN shape): an example whose neighbors vote for a different
  label is a mislabel candidate. Source-agnostic over ANY
  ``(query_id, neighbor_id, rank)`` frame, so the exact brute-force
  scorer certifies it at oracle scale while the LSH/IVF candidate
  generators (``similarity.lsh_topk`` / ``ivf_topk``) drive the same
  audit at 100 TB without an N x N score.
* ``semantic_decontaminate`` — embedding-level benchmark contamination:
  flag corpus vectors whose cosine to ANY benchmark vector clears a
  threshold. The dense companion of ``curation.decontaminate``'s exact
  5-gram path (paraphrased contamination survives n-gram checks but not
  embedding similarity).
* ``label_centroid_outliers`` — per-label centroid-distance audit:
  members far from their own label's mean vector are either mislabels
  or hard examples worth review.

These extend the engine beyond the reference's operator surface the way
SURVEY.md SS2's LLM-pipeline section prescribes; the reference has no
embedding column type (its closest analogue is the Graphulo TableMult
vector algebra, `sensor.py`).

Scale shapes (100 TB discipline):

* the audit join (`knn_label_audit`) shuffles only the k*N neighbor
  frame and the (id, label) projection — never the vectors;
* `semantic_decontaminate` carries the benchmark matrix (small by
  definition) in the NumPy scorer of a single corpus scan; no corpus
  shuffle at all;
* `label_centroid_outliers`' centroid pass partial-aggregates the
  posexploded (label, pos) stream map-side, so the shuffle carries at
  most n_labels x dim rows per map partition; centroids (n_labels x
  dim doubles) broadcast back over one scoring scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import CPU_HEAVY, CPU_LIGHT, fan_out, literal_frame
from .similarity import _small_side_matrix, cosine


def knn_label_audit(
    neighbors: DataFrame,
    labels: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Majority-vote label audit over a precomputed neighbor frame.

    ``neighbors`` is ``(query_id, neighbor_id, rank)`` from any top-k
    source (``brute_force_topk``, ``lsh_topk``, ``ivf_topk``, or a
    stored-index search); ``labels`` maps ``id_col`` -> ``label_col``.
    Output, one row per audited id:
    ``(id_col, label, knn_label, votes, mismatch)`` where ``knn_label``
    is the plurality label among the neighbors (ties: most votes, then
    smallest label — deterministic), ``votes`` its count, and
    ``mismatch`` 1 when it disagrees with the example's own label.

    Shape: two hash joins on ids plus two label-cardinality-bounded
    aggregates; the vectors themselves never enter this operator."""
    nbr = labels.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_nlabel")
    )
    votes = (
        neighbors.join(nbr, "neighbor_id")
        .groupBy(query_id_col, "_nlabel")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    # plurality with a deterministic tie-break: min over the lexicographic
    # struct (-votes asc, label asc) picks highest votes, then lowest label.
    # votes is always a count (bigint), so negating IT is safe for any
    # label type — negating the LABEL (the old formulation) threw under
    # ANSI mode for the common string-label case.
    maj = votes.groupBy(query_id_col).agg(
        F.min_by(
            F.struct(
                F.col("_nlabel").alias("knn_label"), F.col("votes").alias("votes")
            ),
            F.struct((-F.col("votes")).alias("_nv"), F.col("_nlabel")),
        ).alias("_m")
    )
    own = labels.select(F.col(id_col), F.col(label_col).alias("label"))
    return (
        maj.join(own, on=maj[query_id_col] == own[id_col])
        .select(
            id_col,
            "label",
            F.col("_m.knn_label").alias("knn_label"),
            F.col("_m.votes").alias("votes"),
            (F.col("label") != F.col("_m.knn_label")).cast("int").alias("mismatch"),
        )
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    tau: float = 0.30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Flag corpus vectors cosine-similar to any benchmark vector.

    Output: ``(id_col, n_hits)`` for every corpus vector with at least
    one benchmark neighbor at ``round(cos, 6) >= tau`` (the rounding is
    mirrored in the SQL oracle so the threshold compare is stable across
    engines — same discipline as ``dedup.embedding_near_dups``). The
    rounding is HALF_UP (``sign * floor(abs * 1e6 + 0.5) / 1e6``), as in
    SQL; NumPy's ``round`` is banker's and would disagree on exact .5
    boundaries.

    Shape: the benchmark matrix (eval suites: thousands of rows) is
    collected and L2-normalized once on the driver; each Arrow batch of
    the corpus does one matmul against it and counts hits inside the
    batch, so at most one (id, n_hits) row per corpus vector leaves the
    scorer. No corpus shuffle, nothing pair-sized.

    A bad vector on either side (NULL, or a NULL, NaN or ±Inf component)
    or a zero vector scores 0.0 against everything, as in ``cosine``, so
    it never hits while ``tau > 0``. An empty benchmark gives an empty
    frame."""
    import numpy as np
    import pandas as pd

    out_schema = f"{id_col} long, n_hits long"
    bvecs = [
        r[0] for r in benchmark.select(F.col(vec_col).cast("array<double>")).collect()
    ]
    if not bvecs:
        return literal_frame(corpus.sparkSession, [], out_schema)
    B, to_matrix = _small_side_matrix(bvecs, "semantic_decontaminate")
    bn = np.linalg.norm(B, axis=1, keepdims=True)
    Bn = np.divide(B, bn, out=np.zeros_like(B), where=bn > 0)

    c = fan_out(corpus, CPU_LIGHT).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("cvec")
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = to_matrix(pdf["cvec"])
            cn = np.linalg.norm(C, axis=1, keepdims=True)
            Cn = np.divide(C, cn, out=np.zeros_like(C), where=cn > 0)
            S = Cn @ Bn.T
            R = np.sign(S) * np.floor(np.abs(S) * 1e6 + 0.5) / 1e6
            n = (R >= tau).sum(axis=1).astype(np.int64)
            mask = n > 0
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy()[mask], "n_hits": n[mask]}
            )

    return c.mapInPandas(score, out_schema)


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label mean vector: ``(label, centroid array<double>)``.

    posexplode -> avg per (label, pos) -> re-assemble ordered by pos.
    The exploded stream partial-aggregates map-side (classic two-stage
    hash agg), so the shuffle is n_labels x dim per map partition, not
    corpus-sized."""
    e = emb.select(
        F.col(label_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("_pos", "_x"),
    )
    cent = e.groupBy(label_col, "_pos").agg(F.avg("_x").alias("_cx"))
    return cent.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_pos", "_cx"))),
            lambda s: s["_cx"],
        ).alias("centroid")
    )


def label_centroid_outliers(
    emb: DataFrame,
    tau: float = 0.05,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label audit: how many members sit far from their own centroid.

    Output: ``(label, n_members, n_outliers)`` where an outlier has
    ``round(cos(member, centroid), 6) < tau`` (rounding mirrored in the
    oracle). Low cosine to the class mean marks mislabels / out-of-
    distribution members worth review.

    Shape: one centroid pass (see ``label_centroids``) + one scoring
    scan with the n_labels-row centroid frame broadcast; the final
    aggregate is label-cardinality-sized."""
    cents = label_centroids(emb, label_col=label_col, vec_col=vec_col)
    scored = (
        fan_out(emb, CPU_HEAVY)
        .join(F.broadcast(cents), label_col)
        .select(
            label_col,
            F.round(
                cosine(F.col(vec_col).cast("array<double>"), F.col("centroid")), 6
            ).alias("_cos"),
        )
    )
    return (
        scored.groupBy(label_col)
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.count_if(F.col("_cos") < tau).alias("n_outliers"),
        )
    )


def corpus_integrity_audit(
    docs: DataFrame,
    emb: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    text: str = "text",
) -> DataFrame:
    """Pre-flight integrity report over a (documents, embeddings) corpus
    pair — the contract check a pipeline runs BEFORE dedup/training so a
    broken export fails here, loudly, instead of as a silent quality
    regression downstream. One row per rule: (rule, n_rows,
    n_violations, violation_ppm); a NULL rule result is a violation
    (contracts are three-valued-logic-hostile — see operators.quality).

    Rules — document side: non-null id, non-null text, non-blank text,
    known language, HAS an embedding row; embedding side: non-null id,
    exact dimensionality, all-finite components, non-zero norm (a zero
    vector poisons cosine scoring: the ANN family's validators demand
    finiteness, this audit says WHICH export rows are to blame), HAS a
    document row.

    Scale shape: both referential rules ride the row streams as LEFT
    joins against the OTHER table's distinct id projection (ids only —
    payloads never join), so the whole report is two scans, each ending
    in operators.quality's one-pass conditional-sum aggregate. The
    element-wise finite/norm checks are higher-order expressions inside
    whole-stage codegen — no UDF, no explode."""
    from ..operators.quality import validate_constraints

    d = docs.join(
        emb.select(F.col(vec_id).alias(id_col)).distinct().withColumn(
            "_has_vec", F.lit(True)
        ),
        on=id_col,
        how="left",
    )
    doc_rules = {
        "doc_id_not_null": F.col(id_col).isNotNull(),
        "text_not_null": F.col(text).isNotNull(),
        "text_nonblank": F.length(F.trim(F.col(text))) > 0,
        "lang_known": F.col("lang").isNotNull(),
        "doc_has_embedding": F.coalesce(F.col("_has_vec"), F.lit(False)),
    }
    e = emb.join(
        docs.select(F.col(id_col).alias(vec_id)).distinct().withColumn(
            "_has_doc", F.lit(True)
        ),
        on=vec_id,
        how="left",
    )
    v = F.col(vec_col)
    emb_rules = {
        "vec_id_not_null": F.col(vec_id).isNotNull(),
        "vec_dim_ok": F.size(v) == dim,
        "vec_all_finite": F.forall(
            v, lambda x: ~F.isnan(x) & (F.abs(x) != F.lit(float("inf")))
        ),
        "vec_nonzero_norm": F.exists(v, lambda x: x != 0),
        "embedding_has_doc": F.coalesce(F.col("_has_doc"), F.lit(False)),
    }
    return validate_constraints(d, doc_rules).unionByName(
        validate_constraints(e, emb_rules)
    )
