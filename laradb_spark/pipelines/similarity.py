"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — the (small) query matrix rides in a
NumPy scorer that each corpus batch streams through; 100% recall,
scan-bound, embarrassingly parallel (no shuffle on the corpus side;
ranking is the two-phase ``grouped_rank``, so the few-queries ×
huge-corpus shape never funnels a query's whole candidate set through one
task).

Scale path: random-hyperplane LSH — deterministic planes, bucket the
corpus once (map-only), then search only matching buckets. At 100 TB the
bucketed corpus is written partitioned by bucket so a query probe prunes
partitions; multi-probe (flipping low-margin bits) trades recall for
probes. IVF-flat (``ivf_topk``) k-means the corpus instead;
``ivf_build_index``/``ivf_search_index`` persist that assignment as a
cid-partitioned parquet layout so probes become partition-pruned scans.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.ranking import grouped_rank
from ..util import (
    CPU_HEAVY,
    CPU_LIGHT,
    bind_once,
    fan_out,
    literal_frame,
    persist_once,
    plan_size_bytes,
    read_stored,
)


def _batch_topk_prune(
    scored: DataFrame, query_id_col: str, score_col: str, k: int
) -> DataFrame:
    """Map-only batch-local per-query top-k over a scored-pairs frame.

    EXACT pre-prune for the final global top-k: the rank order
    (score desc, neighbor_id asc) is TOTAL, so the global top-k per query
    is contained in the union of per-chunk top-k's under the same order,
    for ANY chunking of the rows — here the Arrow batches of a
    ``mapInPandas`` (no shuffle, no window; each batch sorts ≤
    maxRecordsPerBatch rows). Output size is ≤ n_batches · n_queries · k
    instead of corpus × queries, which is what downstream
    ``grouped_rank`` persists — the N×Q correctness-pin cache of the
    exact ANN paths shrinks to a candidates-sized frame and stops
    scaling with the corpus.

    Column-exact: passes every input column through (hard_negatives
    carries extra columns) and preserves float64 bits (Arrow). NULL
    scores sort LAST (``na_position='last'``), mirroring Spark's desc
    NULLS-LAST — a NULL-scored row only survives a batch with fewer than
    k real scores, exactly as the unpruned rank would place it. Caveat:
    Arrow folds NULL into NaN in a float64 column, so a GENUINE NaN
    score would also sort last here while Spark desc orders NaN greatest
    — so no caller may feed this a NaN-able score. That contract is
    ENFORCED at the score expressions, not assumed: ``cosine``
    nanvl-folds NaN (a NaN component passes ``NaN > 0``, so the
    zero-norm guard alone does NOT stop NaN) — every score reaching this
    prune is NULL or a real number, never NaN (test_ann NaN-corpus
    tests pin it)."""

    def prune(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            yield (
                pdf.sort_values(
                    [query_id_col, score_col, "neighbor_id"],
                    ascending=[True, False, True],
                    na_position="last",
                )
                .groupby(query_id_col, sort=False)
                .head(k)
            )

    return scored.mapInPandas(prune, scored.schema)


MANY_GROUPS_FACTOR = 8  # queries ≥ this × parallelism → plain window ranks


def _topk_per_query(
    scored: DataFrame,
    query_id_col: str,
    score_col: str,
    k: int,
    rank_col: str = "rank",
    prebatch_prune: bool = False,
    n_queries: int | None = None,
) -> DataFrame:
    """Per-query top-k over a ``(query_id, neighbor_id, score)`` frame via
    the two-phase ``grouped_rank`` (range partition → local row_number →
    offset add). The naive ``Window.partitionBy(query_id)`` parallelizes
    by QUERY: with a handful of queries against a huge corpus, each
    query's entire candidate set sorts in ONE task no matter how many
    executors exist. Here parallelism is the partition count — the
    few-queries × 100 TB-corpus shape stays distributed end to end.
    Ordering (score desc, neighbor_id asc) is total, so ranks are
    deterministic and bit-identical to the window formulation.

    grouped_rank persists the range-partitioned scored frame — REQUIRED
    for rank correctness (its two actions must see one pinned
    partitioning; see ranking.grouped_rank), and it also stops Arrow
    scorers from re-executing per consumer (DEVNOTES #3).

    ``prebatch_prune=True`` inserts the exact batch-local top-k
    (``_batch_topk_prune``) before the ranking, shrinking that persist
    from corpus×queries to n_batches·queries·k rows — set it on paths
    whose scored frame is CORPUS-sized (hard negatives, PQ ADC,
    Hamming). Candidate-pruned paths (LSH buckets, IVF lists) are
    already candidates-sized; a second Python stage there costs more
    than it saves.

    ``n_queries`` (when the caller knows it — the NumPy scorers
    collect the query matrix and do) flips MANY-query inputs to the
    plain per-group window: with groups ≥ ``MANY_GROUPS_FACTOR`` ×
    parallelism the window is already fully parallel, needs no persist
    and no offset collect, and grouped_rank's offset table
    (n_parts + n_groups − 1 rows) would only grow toward its
    MAX_OFFSET_ROWS loud failure (corpus-wide audits: every vector is a
    query). Pure cost selection, never semantics: the order
    (score desc, neighbor_id asc) is total, so both formulations emit
    bit-identical ranks — pinned by test_ann's parity test."""
    if prebatch_prune:
        scored = _batch_topk_prune(scored, query_id_col, score_col, k)
    spark = scored.sparkSession
    if (
        n_queries is not None
        and n_queries
        >= MANY_GROUPS_FACTOR * spark.sparkContext.defaultParallelism
    ):
        # persist here for the same reason grouped_rank does internally:
        # the scored frame is usually an expensive Arrow scorer, and a
        # downstream plan with multiple actions would re-execute it per
        # consumer without the pin (DEVNOTES #3). Ranks are deterministic
        # either way; this is purely a recompute guard.
        scored = persist_once(scored)
        ranked = scored.withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy(query_id_col).orderBy(
                    F.desc(score_col), F.asc("neighbor_id")
                )
            ),
        )
    else:
        ranked = grouped_rank(
            scored, [query_id_col], [F.desc(score_col), F.asc("neighbor_id")]
        )
    return (
        ranked.filter(F.col("_r") <= k)
        .select(query_id_col, "neighbor_id", F.col("_r").cast("int").alias(rank_col))
    )


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ via zip_with + aggregate — JVM-side, sequential fold (bit-stable
    across engines for oracle comparison)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def norm(a: Column) -> Column:
    """√Σ aᵢ² via the same sequential fold as ``dot`` (engine-exact)."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Zero-norm- and NaN-safe cosine: a degenerate vector is similar to
    NOTHING (0.0), never NaN-similar to everything. Two hazards, both
    guarded:

    * zero norm — under ANSI mode (Spark 4 default) a bare /0 THROWS in
      the executor; the ``when`` evaluates the division only where the
      denominator is positive.
    * NaN components — ``norm`` propagates them, and Spark treats NaN as
      GREATER than any number, so ``NaN > 0`` is TRUE and the ``when``
      branch would return a NaN score. A NaN score is poison downstream:
      Spark's desc sort ranks it FIRST while the Arrow-side
      ``_batch_topk_prune`` sorts it LAST (pandas ``na_position``), so
      the pruned and unpruned rankings would disagree. ``nanvl`` folds
      any NaN score to 0.0 — same "garbage matches nothing" semantics as
      the zero-vector case, and identical between the pruned and
      unpruned paths by construction.

    The NumPy kernels (``brute_force_topk``, ``semantic_decontaminate``,
    ``_assign_vectorized``) give a bad vector the same 0.0 by
    zero-filling it (``_zero_filled_matrix_fn``).

    The denominator is bound once (util.bind_once): it appears in both
    the guard and the division, and interpreted HOF folds get no
    subexpression elimination — an inline reference pays the two norm
    folds twice (5 array folds per pair instead of 3)."""
    return bind_once(
        norm(a) * norm(b),
        lambda d: F.nanvl(
            F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0)), F.lit(0.0)
        ),
    )


def _zero_filled_matrix_fn(dim: "int | None", who: str):
    """Build the per-batch embedding-matrix extractor of the cosine, SQ8
    and centroid-assignment kernels. Returned as a NESTED closure: the
    executor closures that call it are cloudpickled BY VALUE, so library
    users outside the repo path don't hit ModuleNotFoundError on workers
    (DEVNOTES gotcha #16).

    The extractor turns a sequence of vectors (one Arrow batch's pandas
    Series, or a collected small side) into a dense (n × dim) float64
    matrix. A bad vector — NULL, or with a NULL, NaN or ±Inf component —
    becomes the zero vector: under the zero-norm guard it scores exactly
    0.0 against everything, which is what the nanvl'd ``cosine`` gives
    it. (Arrow hands a NULL component over as NaN; numpy folds a
    collected ``None`` component to NaN too.) Mixed dims raise.
    ``dim=None`` means the small side had no live vector to take a dim
    from: the matrix has zero columns, so every score against it is 0.0.

    ``util.dense_matrix_fn`` is the raising counterpart for kernels
    whose output a bad vector would silently poison (Gram, whitening,
    PCA)."""

    def to_matrix(vecs):
        import numpy as np

        if dim is None:
            return np.zeros((len(vecs), 0))
        zero = [0.0] * dim
        try:
            M = np.asarray(
                [zero if v is None else v for v in vecs], dtype=np.float64
            )
        except (TypeError, ValueError) as e:
            raise ValueError(
                f"{who}: embeddings have mixed dims; normalize upstream"
            ) from e
        if M.shape[1:] != (dim,):
            raise ValueError(
                f"{who}: embedding dim {M.shape[1:]} != expected dim {dim}"
            )
        M[~np.isfinite(M).all(axis=1)] = 0.0
        return M

    return to_matrix


def _small_side_matrix(vecs: list, who: str):
    """Zero-filled matrix of a collected small side (queries, benchmark,
    centroids), plus the extractor for the big side's batches at the same
    dim. The dim is the live (non-NULL) vectors' one dim; mixed dims
    raise."""
    dims = {len(v) for v in vecs if v is not None}
    if len(dims) > 1:
        raise ValueError(f"{who}: embeddings have mixed dims {sorted(dims)}")
    to_matrix = _zero_filled_matrix_fn(dims.pop() if dims else None, who)
    return to_matrix(vecs), to_matrix


def _collect_queries(queries: DataFrame, query_id_col: str, vec_col: str):
    """Driver-side (ids, vectors) of the query set — bounded by the query
    set, the documented small side."""
    import numpy as np

    rows = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>")
    ).collect()
    return np.array([r[0] for r in rows], dtype=np.int64), [r[1] for r in rows]


def _empty_topk(spark, query_id_col, rank_col="rank"):
    return literal_frame(spark, 
        [], f"{query_id_col} long, neighbor_id long, {rank_col} int"
    )


def _batch_topk_fn(k: int, score_name: str):
    """Build the batch-local per-query top-k reducer for the NumPy
    scorers — nested-closure form for the same cloudpickle-by-value
    reason as ``_zero_filled_matrix_fn``.

    The reducer takes (qids, nb, S) — query ids, batch neighbor ids, and
    the (batch × queries) score matrix — excludes self-matches
    (neighbor_id == query_id), and emits each query's top-k of THIS
    batch: ≤ k rows per query instead of batch × queries rows, so the
    frame that leaves the scorer (and that grouped_rank persists) is
    k·n_batches·Q-sized, never corpus-sized. Order matches the global
    rank exactly: lexsort keys (neighbor asc under score desc) — a total
    order, so global top-k = top-k of the per-batch top-k union. A NaN
    score (SQ8's NULL vector) sorts after every real score, ties broken
    by neighbor asc — Spark's desc NULLS LAST, since Arrow returns the
    NaN as NULL."""

    def batch_topk(qids, nb, S):
        import numpy as np
        import pandas as pd

        out_q, out_n, out_s = [], [], []
        for j, qid in enumerate(qids):
            sel = nb != qid
            nbs, col = nb[sel], S[sel, j]
            order = np.lexsort((nbs, -col))[:k]
            out_q.append(np.full(len(order), qid, dtype=np.int64))
            out_n.append(nbs[order])
            out_s.append(col[order])
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                score_name: np.concatenate(out_s),
            }
        )

    return batch_topk


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k. Output: (query_id, neighbor_id, rank) — rank
    1 = most similar; deterministic tie-break on neighbor id.

    The (small) query matrix is normalized once on the driver and
    captured in the closure; each Arrow batch of the corpus scores
    against ALL queries with one matmul and emits its per-query top-k
    (``_batch_topk_fn``). The corpus never shuffles before the two-phase
    ranking. A bad vector on either side (NULL, or a NULL, NaN or ±Inf
    component) or a zero vector scores exactly 0.0, as in ``cosine``;
    an empty query set gives an empty frame."""
    import numpy as np

    qids, qvecs = _collect_queries(queries, query_id_col, vec_col)
    if not len(qids):
        return _empty_topk(corpus.sparkSession, query_id_col)
    Q, corpus_matrix = _small_side_matrix(qvecs, "brute_force_topk")
    # normalizing a zero row leaves the zero row: every dot with it is 0.0
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    Qn = np.divide(Q, qn, out=np.zeros_like(Q), where=qn > 0)

    c = fan_out(corpus, CPU_LIGHT).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cvec")
    )
    batch_topk = _batch_topk_fn(k, "cos")

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = corpus_matrix(pdf["cvec"])
            cn = np.linalg.norm(C, axis=1, keepdims=True)
            Cn = np.divide(C, cn, out=np.zeros_like(C), where=cn > 0)
            S = Cn @ Qn.T  # (batch × queries) cosine matrix
            yield batch_topk(qids, pdf["neighbor_id"].to_numpy(), S)

    scored = c.mapInPandas(score, "query_id long, neighbor_id long, cos double")
    # grouped_rank's persist also runs the ArrowEval scorer once, not
    # once per consumer (DEVNOTES #3).
    return _topk_per_query(
        scored, "query_id", "cos", k, n_queries=len(qids)
    ).withColumnRenamed("query_id", query_id_col)


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate max-inner-product top-k (MIPS — the retrieval/
    recommendation objective; normalize vectors upstream if cosine
    ranking is wanted) over int8 scalar-quantized (SQ8) codes: per-vector
    scale s = max|xᵢ|, qᵢ = floor(xᵢ·127/s) ∈ [-128, 127], score =
    (Σ qᵢcᵢ · s_q) · s_c. Each step is one IEEE double op + floor and the
    integer dot is exact, so the ranks are deterministic by construction
    and match the SQL oracle. Same shape as brute_force_topk:
    the queries quantize once on the driver; each corpus batch quantizes
    and scores against ALL queries in one int64 matmul.

    Bad vectors: a NULL vector on either side scores NULL, ranked after
    every real score. A zero vector, or one with a NaN or ±Inf component,
    quantizes to zero codes with scale 0.0 and scores 0.0. A NULL
    component counts as NaN (Arrow hands it to the corpus batches as
    NaN), so it scores 0.0 too. An empty query set gives an empty
    frame."""
    import numpy as np

    qids, qvecs = _collect_queries(queries, query_id_col, vec_col)
    if not len(qids):
        return _empty_topk(corpus.sparkSession, query_id_col)
    Q, corpus_matrix = _small_side_matrix(qvecs, "sq8_topk")
    q_null = np.array([v is None for v in qvecs])

    def _quantize(M: "np.ndarray") -> tuple["np.ndarray", "np.ndarray"]:
        # (x · 127.0) / s then floor, the oracle's association —
        # x·(127/s) can floor differently; a zero row keeps scale 0.0
        s = np.abs(M).max(axis=1, initial=0.0)
        safe = np.where(s == 0.0, 1.0, s)
        q = np.floor((M * 127.0) / safe[:, None]).astype(np.int64)
        return q, s

    Qq, Qs = _quantize(Q)

    c = fan_out(corpus, CPU_LIGHT).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cvec")
    )
    batch_topk = _batch_topk_fn(k, "iscore")

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Cq, Cs = _quantize(corpus_matrix(pdf["cvec"]))
            # exact int64 dot (|q| ≤ 128, so d·128² ≪ 2⁶³), then the
            # fixed float association: (idot · qs) · cs
            S = (Cq @ Qq.T).astype(np.float64) * Qs[None, :] * Cs[:, None]
            # NaN leaves the scorer as NULL (Arrow), ranked last
            S[pdf["cvec"].isna().to_numpy()] = np.nan
            S[:, q_null] = np.nan
            yield batch_topk(qids, pdf["neighbor_id"].to_numpy(), S)

    scored = c.mapInPandas(score, "query_id long, neighbor_id long, iscore double")
    return _topk_per_query(
        scored, "query_id", "iscore", k, n_queries=len(qids)
    ).withColumnRenamed("query_id", query_id_col)


# --- random-hyperplane LSH -----------------------------------------------------

LSH_PLANES = 12  # 2^12 buckets


def _plane_component(p: int, d: int) -> Column:
    """Deterministic pseudo-random plane component — sin-hash formula shared
    verbatim with the oracle (no RNG dependency across engines)."""
    return F.sin(F.lit(float(p * 131 + d * 7 + 1)))


def lsh_bucket(vec: Column, dim: int, planes: int = LSH_PLANES) -> Column:
    """Sign-pattern bucket id of a vector under ``planes`` fixed hyperplanes."""
    acc = F.lit(0).cast("long")
    for p in range(planes):
        proj = F.lit(0.0)
        for d in range(dim):
            proj = proj + vec[d] * _plane_component(p, d)
        acc = acc + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return acc


def lsh_topk_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    planes: int = LSH_PLANES,
    probes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Multi-probe LSH: each query also probes the buckets reachable by
    flipping one of the first ``probes-1`` sign bits (the classic recall
    booster — ~probes× candidates for the same corpus bucketing; corpus
    is still hashed exactly once)."""
    c = fan_out(corpus, CPU_HEAVY).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    ).withColumn("bucket", lsh_bucket(F.col("cvec"), dim, planes))
    q0 = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    ).withColumn("_b", lsh_bucket(F.col("qvec"), dim, planes))
    flips = F.array(
        F.col("_b"), *[F.col("_b").bitwiseXOR(F.lit(1 << p)) for p in range(probes - 1)]
    )
    q = q0.select(query_id_col, "qvec", F.explode(flips).alias("bucket"))
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id", cosine(F.col("qvec"), F.col("cvec")).alias("cos"))
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    return _topk_per_query(scored, query_id_col, "cos", k)


# Cut the Lloyd chain's lineage every N rounds: plan size grows linearly
# with chained rounds (each round's aggregation nests the previous one in
# its assignment broadcast), so short trainings run as ONE fused job while
# long ones still rebind through a bounded collect before the plan (and
# its codegen) get heavy. (Expression-assignment path only: the vectorized
# path must land centroids on the driver every round anyway, and its
# per-round job is matmul-cheap.)
LLOYD_CUT_EVERY = 2


def _attach_rows(df: DataFrame, rows: list) -> DataFrame:
    """Remember a driver-literal frame's rows on the DataFrame object so
    consumers that need them driver-side again skip the parallelize →
    collect round trip (a ~0.3 s 32-slice job for a 64-row literal at
    local core counts; r16 profile). Purely an attribute — any derived
    frame (filter/select) loses it and falls back to a real collect."""
    df._laradb_literal_rows = rows
    return df


def _collect_rows(df: DataFrame) -> list:
    """``df.collect()``, short-circuited to the attached literal rows
    when ``df`` is a frame ``_attach_rows`` built this session."""
    rows = getattr(df, "_laradb_literal_rows", None)
    return rows if rows is not None else df.collect()


def _assign_vectorized(c: DataFrame, cents: DataFrame) -> DataFrame:
    """Arrow twin of ``_assign`` — BIT-IDENTICAL assignments by
    construction, at NumPy speed instead of the interpreted per-(vector ×
    centroid) HOF cosine (the corpus-scale stage of SemDeDup/IVF; the
    expression form was the training bottleneck).

    Exactness argument, term by term:
      * dot and norm accumulate DIM-SEQUENTIALLY — a Python loop over
        dims of vectorized adds reproduces the HOF fold's association
        ``((0 + x₀) + x₁) + …`` element-for-element (no np.dot/matmul:
        those sum pairwise and can differ in the last ulp, which near a
        tie flips an assignment);
      * zero-norm guard mirrors ``when(d > 0, dot/d).otherwise(0.0)``;
      * centroid columns are processed in cid-ASC order and ``np.argmax``
        returns the FIRST maximum, reproducing
        ``max_by(cid, struct(_cc, -cid))``'s ties → smallest cid;
      * NULL vectors and NULL/NaN/±Inf components score 0.0 against
        every centroid (``_zero_filled_matrix_fn`` substitutes the zero
        vector, whose zero norm trips the same guard; the expression
        twin's nanvl'd scores for them are 0.0) → assigned to the
        smallest cid — exactly what the expression twin's three-valued
        ``when`` yields for them, so the ``_assign_auto`` size gate is
        pure cost selection, never a semantics switch. The SAME
        substitution applies on the CENTROID side: a NULL or
        NaN-component centroid (a NULL embedding among the lowest-id
        init rows) matches nothing, as the expression twin's
        NULL-``cent`` (null norm → ``when`` false → 0.0) does. If EVERY
        centroid is NULL all scores are 0.0 and every vector goes to the
        smallest cid. Ragged dims raise (the expression twin's
        zip_with-padding behavior there is undefined-by-contract).
    Pinned by test_ann::test_assign_vectorized_bit_identical.

    Centroids land driver-side (k × d, tiny by construction). Output
    matches ``_assign``: (cid, neighbor_id, cvec) — NULL vectors pass
    through as NULL."""
    import numpy as np
    import pandas as pd

    rows = sorted(
        ((r["cid"], None if r["cent"] is None else list(r["cent"])) for r in _collect_rows(cents)),
        key=lambda t: t[0],
    )
    if not rows:
        # empty corpus → empty centroid set → empty assignment (the
        # expression twin's empty join does the same)
        return literal_frame(c.sparkSession, 
            [], "cid long, neighbor_id long, cvec array<double>"
        )
    cids = np.asarray([t[0] for t in rows], dtype=np.int64)
    # bad centroids AND bad vectors become the zero vector: the nanvl'd
    # expression twin scores them 0.0 against everything (NaN folds; an
    # Inf norm makes every dot/d either x/Inf = 0.0 or NaN → 0.0),
    # exactly what a zero norm yields. With every centroid NULL the
    # matrices have zero columns and every vector ties at 0.0.
    C, to_matrix = _small_side_matrix([v for _, v in rows], "_assign_vectorized")
    dim = C.shape[1]
    nc = np.zeros(len(C))
    for j in range(dim):
        nc = nc + C[:, j] * C[:, j]
    nc = np.sqrt(nc)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = to_matrix(pdf["cvec"])
            nv = np.zeros(len(V))
            dot_m = np.zeros((len(V), len(C)))
            for j in range(dim):
                col = V[:, j]
                nv = nv + col * col
                dot_m = dot_m + col[:, None] * C[None, :, j]
            nv = np.sqrt(nv)
            denom = nv[:, None] * nc[None, :]
            pos = denom > 0
            cc = np.where(pos, dot_m / np.where(pos, denom, 1.0), 0.0)
            best = np.argmax(cc, axis=1)
            yield pd.DataFrame(
                {
                    "cid": cids[best],
                    "neighbor_id": pdf["neighbor_id"],
                    "cvec": pdf["cvec"],
                }
            )

    return c.select("neighbor_id", "cvec").mapInPandas(
        assign, "cid long, neighbor_id long, cvec array<double>"
    )


# Below this input size the vectorized assignment's fixed costs (Python
# worker spin-up + one materializing job per Lloyd round instead of one
# fused expression job) outweigh its matmul win: measured ~neutral-to-
# slower at 0.8 MB / 2k vectors, 6-10x faster at 24 MB / 60k vectors.
VEC_ASSIGN_MIN_BYTES = 2 << 20

#: ivf_topk pair-scorer gate: estimated (query_bytes x corpus_bytes x
#: probe_fraction) above which the cogrouped Arrow block scorer beats the
#: interpreted per-pair HOF cosine. Derivation: parquet plan stats run
#: ~500 bytes/row for 64-dim doubles, so 1e11 bytes-squared corresponds to
#: roughly 350k scored pairs - comfortably below the 6M-pair point where
#: the expression path measured 42 s vs ~2 s (sf0.1 corpus-wide audit),
#: and comfortably above oracle-scale inputs (sf0.01 estimates ~1.6e9, so
#: the checker keeps exercising the expression path).
PAIR_VEC_MIN_BYTES2 = 1e11


def _assign_auto(c: DataFrame, cents: DataFrame) -> DataFrame:
    """Pick the assignment twin by input size (plan stats, no job):
    expression HOF below VEC_ASSIGN_MIN_BYTES, Arrow matmul above. The
    twins are bit-identical (test_assign_vectorized_bit_identical), so
    the gate is pure cost selection, never a semantics switch."""
    size = plan_size_bytes(c)
    if size is not None and size < VEC_ASSIGN_MIN_BYTES:
        return _assign(c, cents)
    return _assign_vectorized(c, cents)


def _train_centroids(
    c: DataFrame,
    n_centroids: "int | None",
    lloyd_iters: int,
    vectorized: "bool | None" = None,
) -> DataFrame:
    """k-means-lite centroid training (deterministic init = the
    ``n_centroids`` lowest ids, ``lloyd_iters`` Lloyd rounds;
    ``n_centroids=None`` → :func:`ivf_auto_centroids`' √N sizing) over a
    ``(neighbor_id, cvec)`` frame. Returns a lineage-free literal
    ``(cid, cent)`` frame — bounded by n_centroids·dim values — so the
    several downstream consumers (full assignment, query probing, index
    writes) never re-execute training.

    Default path assigns with ``_assign_vectorized`` (bit-identical to
    the expression assignment — see its docstring) and materializes the
    tiny centroid frame every round, since the next round's scorer needs
    it driver-side anyway; the mean update stays the expression-side
    posexplode+avg on both paths, so centroid VALUES are identical.
    ``vectorized=False`` keeps the pure-expression Lloyd chain
    (lazily chained, cut every ``LLOYD_CUT_EVERY`` rounds)."""
    spark = c.sparkSession
    if n_centroids is None:
        n_centroids = ivf_auto_centroids(c)
    if vectorized is None:  # size-gated default — see _assign_auto
        size = plan_size_bytes(c)
        vectorized = size is None or size >= VEC_ASSIGN_MIN_BYTES
    # Pin the training frame on the VECTORIZED path: there every Lloyd
    # round is its own ACTION (the mean-update collect), so an unpinned
    # ``c`` re-runs its scan + fan-out exchange once per round —
    # lloyd_iters full corpus passes where one suffices (guide §1.2/§5:
    # cache only what is reused). Identical rows either way. The pin is
    # RELEASED before returning (cents is lineage-free by then): caching
    # exactly ``c`` would otherwise substitute into every later plan that
    # contains it as a subtree and swap plan_size_bytes gates
    # (_assign_auto, the pair-volume gate) from file-size estimates to
    # in-memory stats mid-session — measured as a twin-parity flip on
    # NaN corpora. The expression path chains rounds lazily (no
    # per-round action) and pins its own norm-augmented frame below.
    own_pin = False
    if vectorized and lloyd_iters > 0:
        lvl = c.storageLevel
        if not (lvl.useMemory or lvl.useDisk):
            c = c.persist()
            own_pin = True
    # per-vector norm computed ONCE for all rounds (each round's assignment
    # needs it; recomputing the 128-dim HOF fold per round doubles the loop)
    if not vectorized and lloyd_iters > 0 and "_nv" not in c.columns:
        c = persist_once(c.withColumn("_nv", norm(F.col("cvec"))))
    # try/finally: an exception between persist() and the release would
    # otherwise leak the pin — and a lingering cache of exactly ``c``
    # flips downstream plan_size_bytes gates for the rest of the session.
    try:
        cents = (
            c.orderBy("neighbor_id").limit(n_centroids)
            .select(F.col("neighbor_id").alias("cid"), F.col("cvec").alias("cent"))
        )
        for i in range(lloyd_iters):
            assigned = (_assign_vectorized if vectorized else _assign)(c, cents)
            # new centroid = element-wise mean of members (posexplode + avg)
            means_frame = (
                assigned.select("cid", F.posexplode("cvec").alias("d", "x"))
                .groupBy("cid", "d")
                .agg(F.avg("x").alias("m"))
            )
            if vectorized or i + 1 == lloyd_iters or (i + 1) % LLOYD_CUT_EVERY == 0:
                # Collect-and-assemble rounds (the vectorized path every
                # round — the next round's scorer needs the centroids
                # driver-side anyway — and the expression path's cut
                # rounds): the per-cid array assembly — previously a
                # second groupBy + array_sort(collect_list(struct))
                # aggregate, i.e. one more Exchange + AQE stage-job per
                # collected round — happens HERE on the (k × dim)-bounded
                # means rows instead: sort by d within cid replicates
                # array_sort(struct(d, m)) exactly (d is unique per cid),
                # values untouched (r16, guide §2.4).
                from pyspark.sql import Row

                cid_t = means_frame.schema["cid"].dataType.simpleString()
                means = means_frame.collect()
                agg: dict = {}
                for r in means:
                    agg.setdefault(r["cid"], {})[int(r["d"])] = r["m"]
                rows = [
                    Row(cid=cid, cent=[m for _, m in sorted(vals.items())])
                    for cid, vals in sorted(agg.items())
                ]
                cents = _attach_rows(
                    literal_frame(spark, rows, f"cid {cid_t}, cent array<double>"),
                    rows,
                )
                continue
            # lazily-chained (non-cut) expression rounds keep the frame
            # shape — no action runs here at all
            cents = (
                means_frame.groupBy("cid")
                .agg(F.array_sort(F.collect_list(F.struct("d", "m"))).alias("dm"))
                .select("cid", F.transform(F.col("dm"), lambda s: s["m"]).alias("cent"))
            )
    finally:
        if own_pin:
            c.unpersist()
    return cents


# Target expected cluster size for auto-scaled k-means k: keeps the
# within-cluster quadratic (pairs ≈ N·target/2) LINEAR in N as the corpus
# grows, instead of N²/k with a fixed k.
SEM_TARGET_CLUSTER = 256


def auto_centroids(c: DataFrame, target_cluster_size: int = SEM_TARGET_CLUSTER) -> int:
    """k ∝ N: ``max(16, ceil(count/target_cluster_size))`` via one bounded
    count (an aggregate job over the id column only — no payload collect).
    Callers that know their corpus size can pass ``n_centroids`` explicitly
    and skip the count job."""
    n = c.count()
    return max(16, -(-n // max(1, target_cluster_size)))


def ivf_auto_centroids(c: DataFrame) -> int:
    """k ∝ √N for the IVF family: ``max(16, ceil(√N))`` via one bounded
    count. The classical sizing — with √N lists of ~√N members, a probe
    scans O(n_probe·√N) rows instead of O(N/k_fixed), and a
    corpus-as-queries audit's pair volume grows ~N^1.5 instead of the
    N²/k_fixed a FIXED centroid count degenerates to (the DEVNOTES #35
    caveat; VERDICT r10 next-round #5). Every IVF entry point defaults to
    this when ``n_centroids`` is None; oracled queries pass an explicit
    count so the SQL replay never depends on a corpus-size job.

    Entry points resolve this on the RAW corpus frame before ``fan_out``:
    counting the fanned projection would execute its round-robin exchange
    — a corpus-sized shuffle paid for a scalar."""
    import math

    n = c.count()
    return max(16, math.isqrt(max(n - 1, 0)) + 1)  # = max(16, ceil(√n))


def _ivf_pair_scores_cogrouped(
    assigned: DataFrame, probes: DataFrame, query_id_col: str
) -> DataFrame:
    """Arrow pair scorer for list-pruned ANN: cogroup the assigned
    corpus with the probing queries BY LIST (cid) and score each list's
    (queries × members) block with dim-sequential NumPy folds —
    BIT-IDENTICAL to the expression ``cosine()`` per pair (the
    ``_assign_vectorized`` exactness recipe: sequential dim
    accumulation, ``denom > 0`` guard with NaN comparisons falling to
    the same 0.0 the expression's ``nanvl`` yields, NULL vectors zero
    via their zero norm). Per-group size = list members × probing
    queries — bounded by list size, which real IVF keeps ~√N by scaling
    n_centroids with the corpus.

    The query-id output type is DERIVED from the probes schema (like
    ``_pq_adc_topk``'s short-circuit) — ``ivf_topk``'s expression path
    accepts any id type, and the size-based auto gate must not change
    the result schema when it flips routes."""
    import numpy as np
    import pandas as pd

    qt = probes.schema[query_id_col].dataType.simpleString()

    def score(cdf, qdf):
        if not len(cdf) or not len(qdf):
            return pd.DataFrame(
                {query_id_col: pd.Series([], dtype=object), "neighbor_id": [], "cos": []}
            ).astype({"neighbor_id": "int64", "cos": "float64"})
        dims = {len(v) for v in list(cdf["cvec"]) + list(qdf["qvec"]) if v is not None}
        if len(dims) > 1:
            raise ValueError(f"ivf pair scorer: mixed dims {sorted(dims)}")
        dim = dims.pop() if dims else 1
        zero = [0.0] * dim
        C = np.asarray([zero if v is None else list(v) for v in cdf["cvec"]], dtype=np.float64)
        Q = np.asarray([zero if v is None else list(v) for v in qdf["qvec"]], dtype=np.float64)
        nc = np.zeros(len(C))
        nq = np.zeros(len(Q))
        dot_m = np.zeros((len(Q), len(C)))
        for j in range(dim):
            cc_j = C[:, j]
            qq_j = Q[:, j]
            nc = nc + cc_j * cc_j
            nq = nq + qq_j * qq_j
            dot_m = dot_m + qq_j[:, None] * cc_j[None, :]
        denom = np.sqrt(nq)[:, None] * np.sqrt(nc)[None, :]
        pos = denom > 0  # NaN/Inf denom → False → 0.0, = the nanvl'd expr
        cos = np.where(pos, dot_m / np.where(pos, denom, 1.0), 0.0)
        bad = np.isnan(cos)
        if bad.any():
            cos[bad] = 0.0
        qi = np.repeat(qdf[query_id_col].to_numpy(), len(C))
        ni = np.tile(cdf["neighbor_id"].to_numpy(), len(Q))
        flat = cos.ravel()
        keep = qi != ni
        return pd.DataFrame(
            {query_id_col: qi[keep], "neighbor_id": ni[keep], "cos": flat[keep]}
        )

    return (
        assigned.select("cid", "neighbor_id", "cvec")
        .groupby("cid")
        .cogroup(probes.select("cid", query_id_col, "qvec").groupby("cid"))
        .applyInPandas(score, f"{query_id_col} {qt}, neighbor_id long, cos double")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: "int | None" = None,
    n_probe: int = 4,
    k: int = 5,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    vectorized: "bool | None" = None,
) -> DataFrame:
    """IVF-flat ANN: k-means-lite centroids (see ``_train_centroids``),
    corpus partitioned by nearest centroid, queries probe the ``n_probe``
    nearest lists.

    Scale shape: centroids are tiny (driver-side after a distributed
    aggregate per round); assignment is a broadcast-join map stage; at
    100 TB the assigned corpus is written partitioned by ``cid`` so
    probes prune partitions — that stored layout is ``ivf_build_index``
    / ``ivf_search_index`` below.

    Pair scoring is size-gated like ``_assign_auto``: a handful of
    queries scores with the expression ``cosine()`` (no extra stage);
    a LARGE query side (corpus-wide audits — every vector a query)
    routes to the cogrouped Arrow scorer, which is bit-identical per
    pair (same fold association and degenerate-value semantics) but
    ~50× cheaper per pair than the interpreted HOF. Pure cost
    selection, never semantics — pinned by test_ann."""
    if n_centroids is None:  # √N default, counted pre-fan_out (no exchange)
        n_centroids = ivf_auto_centroids(corpus)
    c = fan_out(corpus, CPU_HEAVY).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cvec")
    )
    cents = _train_centroids(c, n_centroids, lloyd_iters)
    assigned = _assign_auto(c, cents)
    return _ivf_probe_score_rank(
        assigned, cents, c, queries, n_centroids, n_probe, k,
        vec_col, query_id_col, vectorized,
    )


def _ivf_probe_score_rank(
    assigned: DataFrame,
    cents: DataFrame,
    c: DataFrame,
    queries: DataFrame,
    n_centroids: int,
    n_probe: int,
    k: int,
    vec_col: str,
    query_id_col: str,
    vectorized: "bool | None",
) -> DataFrame:
    """The shared probe → score → rank tail of the inline IVF searches
    (``ivf_topk`` and its filtered variant): queries pick their
    ``n_probe`` nearest centroids, list members score against the
    probing queries (size-gated expression vs cogrouped-Arrow twins),
    top-k per query via the two-phase ranking. ``c`` is the corpus frame
    the pair-volume gate sizes against."""
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("qvec")
    )
    # each query probes its n_probe nearest centroids
    qc = q.crossJoin(F.broadcast(cents)).select(
        query_id_col, "qvec", "cid", cosine(F.col("qvec"), F.col("cent")).alias("_cc")
    )
    # Probe-selection window: input is queries × centroids — CENTROID-
    # bounded per query (n_centroids rows), never corpus-bounded, so the
    # per-query partition stays small by construction. The corpus-sized
    # final ranking below goes through grouped_rank instead.
    wq = Window.partitionBy(query_id_col).orderBy(F.desc("_cc"), F.asc("cid"))
    probes = qc.withColumn("_r", F.row_number().over(wq)).filter(F.col("_r") <= n_probe)
    if vectorized is None:
        # the cost driver is PAIRS (|Q|·|C|·probe fraction), not either
        # side's bytes: estimate it from the two plan sizes — at ~350k+
        # estimated pairs the interpreted HOF fold loses to the Arrow
        # block scorer (measured 42 s vs ~2 s at 6M pairs, sf0.1 audit)
        qsize = plan_size_bytes(q)
        csize = plan_size_bytes(c)
        if qsize is not None and csize is not None:
            vectorized = (
                qsize * csize * (n_probe / max(n_centroids, 1))
                >= PAIR_VEC_MIN_BYTES2
            )
        else:
            vectorized = qsize is not None and qsize >= VEC_ASSIGN_MIN_BYTES
    if vectorized:
        scored = _ivf_pair_scores_cogrouped(
            assigned, probes.select(query_id_col, "qvec", "cid"), query_id_col
        )
    else:
        scored = (
            assigned.join(F.broadcast(probes.select(query_id_col, "qvec", "cid")), on="cid")
            .filter(F.col("neighbor_id") != F.col(query_id_col))
            .select(query_id_col, "neighbor_id", cosine(F.col("qvec"), F.col("cvec")).alias("cos"))
        )
    return _topk_per_query(scored, query_id_col, "cos", k)


def ivf_topk_filtered(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_where: str,
    n_centroids: "int | None" = None,
    n_probe: int = 4,
    k: int = 5,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    vectorized: "bool | None" = None,
) -> DataFrame:
    """Metadata-FILTERED ANN — ``ivf_topk`` restricted to the corpus rows
    satisfying ``corpus_where`` (a SQL boolean over ``corpus``'s columns:
    ``"lang = 'en'"``, ``"label % 2 = 1"``, ...). The production filtered-
    vector-search shape: the predicate applies BEFORE ranking (pre-
    filtering — post-filtering a top-k is recall-lossy when the filter is
    selective, the classic filtered-ANN failure mode).

    Where the filter runs is the scale story: centroids train on the
    FULL corpus (the index is shared across predicates — same reason a
    stored IVF index serves every filter), but only the FILTERED rows are
    assigned and scored. Per-vector assignment is independent given fixed
    centroids, so filter-then-assign ≡ assign-then-filter member-for-
    member — and filter-then-assign puts the predicate on the corpus
    SCAN, where Catalyst pushes it into the parquet reader
    (PushedFilters) instead of paying a corpus-sized post-assignment
    join. On a stored index the same predicate goes to
    ``ivf_search_index(where=...)``, which prunes cid partitions AND
    pushes the row filter into the list scan."""
    if n_centroids is None:  # √N default, counted pre-fan_out (no exchange)
        n_centroids = ivf_auto_centroids(corpus)
    c_full = fan_out(corpus, CPU_HEAVY).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cvec")
    )
    cents = _train_centroids(c_full, n_centroids, lloyd_iters)
    c_kept = fan_out(corpus.filter(F.expr(corpus_where)), CPU_HEAVY).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cvec")
    )
    assigned = _assign_auto(c_kept, cents)
    return _ivf_probe_score_rank(
        assigned, cents, c_kept, queries, n_centroids, n_probe, k,
        vec_col, query_id_col, vectorized,
    )


def ivf_list_stats(
    corpus: DataFrame,
    n_centroids: "int | None" = None,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Inverted-list occupancy report — the operational metric behind the
    two IVF maintenance decisions: WHEN to re-center (drifted appends
    concentrate members in few lists, killing probe pruning) and WHEN to
    re-size (fixed k under corpus growth makes every list corpus/k-sized;
    the √N default exists for build time, this report is how serving
    notices). Returns one row per non-empty list:
    ``(cid, n_members, share_ppm)`` — BIGINT count and integral
    parts-per-million share (``div`` — a rounded double would flake on
    power-of-two denominators, the gotcha-#4b discipline). A healthy
    index reads ~uniform; max(share_ppm)·k/10⁶ is the probe-cost skew
    multiplier.

    Scale shape: training is the shared deterministic Lloyd; the report
    itself is one distributed ``groupBy(cid)`` count (map-side combine,
    k-sized result) plus a 1-row total broadcast — the corpus never
    shuffles beyond the count's partial aggregate."""
    if n_centroids is None:  # √N default, counted pre-fan_out (no exchange)
        n_centroids = ivf_auto_centroids(corpus)
    c = fan_out(corpus, CPU_HEAVY).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    cents = _train_centroids(c, n_centroids, lloyd_iters)
    counts = (
        _assign_auto(c, cents)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_members"))
    )
    total = counts.agg(F.sum("n_members").alias("_t"))
    return counts.crossJoin(F.broadcast(total)).select(
        "cid",
        F.col("n_members").cast("long").alias("n_members"),
        F.expr("(1000000 * n_members) div _t").alias("share_ppm"),
    )


def ivf_build_index(
    corpus: DataFrame,
    path: str,
    n_centroids: "int | None" = None,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_cols: "Sequence[str] | None" = None,
) -> None:
    """Train centroids and persist the IVF index as a stored layout:
    ``{path}/corpus`` = the assigned corpus written
    ``partitionBy("cid")`` (one parquet directory per inverted list) and
    ``{path}/centroids`` = the tiny ``(cid, cent)`` table.

    This is the 100 TB shape: the expensive part (train + assign + write)
    runs once; every subsequent search touches only the probed ``cid=``
    directories via partition pruning instead of re-scanning and
    re-hashing the corpus per query batch (compare ``ivf_topk``, which
    recomputes the assignment inline).

    ``meta_cols`` names metadata columns of ``corpus`` (label, lang,
    license, ...) to carry INTO the stored list rows, which is what makes
    ``ivf_search_index(where=...)`` filtered serving possible: the
    predicate lands in the probed lists' parquet scan as a pushed row
    filter instead of a post-hoc join. The meta join here is one
    build-time shuffle on the id — paid once, like the write itself."""
    if n_centroids is None:  # √N default, counted pre-fan_out (no exchange)
        n_centroids = ivf_auto_centroids(corpus)
    c = fan_out(corpus, CPU_HEAVY).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cvec")
    )
    cents = _train_centroids(c, n_centroids, lloyd_iters)
    assigned = _assign_auto(c, cents)
    if meta_cols:
        meta = corpus.select(F.col(id_col).alias("neighbor_id"), *meta_cols)
        assigned = assigned.join(meta, on="neighbor_id")
    assigned.write.partitionBy("cid").mode("overwrite").parquet(f"{path}/corpus")
    cents.write.mode("overwrite").parquet(f"{path}/centroids")


# Base (non-metadata) columns of each stored-index list layout; anything
# else in a stored schema is build-time ``meta_cols`` the appends must keep
# supplying (see _check_append_meta).
_IVF_BASE_COLS = frozenset({"neighbor_id", "cvec", "cid"})
_PQ_BASE_COLS = frozenset({"neighbor_id", "cid", "codes"})


def _check_append_meta(
    stored: DataFrame,
    appended: "DataFrame | None",
    meta_cols,
    base_cols: frozenset,
    op: str,
) -> None:
    """Loud write-time guard for the append paths, both directions.

    (1) Appending WITHOUT ``meta_cols`` to a layout built WITH them would
    write rows whose metadata is NULL after parquet schema merge —
    filtered serving (``where=...``) would then silently never return the
    appended vectors (silent result loss). The stored schema already
    tells us the build's metadata columns (everything beyond the layout's
    base columns), so raise instead of relying on a caller contract.

    (2) An appended meta column absent from the stored layout, or whose
    type differs from the stored layout's (INT vs BIGINT is the classic),
    poisons the directory with mixed parquet physical types — readers
    then fail or succeed depending on which file wins schema resolution
    (a read-time race). Raise here instead."""
    supplied = list(meta_cols or [])
    missing = sorted(set(stored.columns) - base_cols - set(supplied))
    if missing:
        raise ValueError(
            f"{op}: the stored layout carries metadata columns {missing} "
            "this append does not supply — appended rows would read back "
            "with NULL metadata after parquet schema merge, so filtered "
            "serving (where=...) would silently never return them; pass "
            "meta_cols matching the build's"
        )
    if not supplied:
        return
    st = dict(stored.dtypes)
    at = dict(appended.dtypes)
    for c in supplied:
        if c not in st:
            raise ValueError(
                f"append meta column {c!r} is not in the stored layout "
                f"(built without meta_cols?)"
            )
        if st[c] != at[c]:
            raise ValueError(
                f"append meta column {c!r} type {at[c]} != stored layout's "
                f"{st[c]} — mixed parquet physical types poison the index"
            )


def ivf_append_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_cols: "Sequence[str] | None" = None,
) -> None:
    """Append new vectors to a stored IVF index WITHOUT retraining: read
    the frozen ``(cid, cent)`` table, assign the (shard-sized) new batch
    with the same bit-identical twins training used, and append to the
    ``cid=`` partition directories — the incremental-ingest completion
    of the IVF serving story (digest/span/decon indexes have the same
    build/append/serve triple). Searches see appended vectors on their
    next plan (parquet listing resolves per query).

    Centroids are deliberately NOT updated: stable centroids keep every
    historical assignment valid (re-training would require re-assigning
    the full corpus — that is ``ivf_build_index``'s job, run when drift
    accumulates; the classic IVF maintenance trade).

    ``meta_cols`` MUST match the build's when the index carries
    metadata: appending meta-less rows to a meta-built layout leaves the
    new vectors with NULL metadata after parquet schema merge — filtered
    serving would silently never return them."""
    spark = new_vectors.sparkSession
    cents = spark.read.parquet(f"{path}/centroids")
    c = fan_out(new_vectors, CPU_HEAVY).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cvec")
    )
    assigned = _assign_auto(c, cents)
    meta = (
        new_vectors.select(F.col(id_col).alias("neighbor_id"), *meta_cols)
        if meta_cols
        else None
    )
    _check_append_meta(
        spark.read.parquet(f"{path}/corpus"),
        meta,
        meta_cols,
        _IVF_BASE_COLS,
        "ivf_append_index",
    )
    if meta is not None:
        assigned = assigned.join(meta, on="neighbor_id")
    from ..streaming.txn import writer_lock

    with writer_lock(path, "ivf_append_index"):
        assigned.write.partitionBy("cid").mode("append").parquet(f"{path}/corpus")


def ivf_recenter_index(
    spark,
    path: str,
    n_centroids: "int | None" = None,
    lloyd_iters: int = 2,
) -> dict:
    """Retrain a stored IVF index's centroids from its OWN corpus and
    rewrite the layout — the maintenance op :func:`ivf_list_stats` tells
    an operator to run: appends under frozen centroids
    (``ivf_append_index``) accumulate drift that concentrates members in
    few lists, and corpus growth under a fixed k makes every list
    corpus/k-sized. ``n_centroids=None`` re-SIZES to the √N default of
    the grown corpus; the deterministic recipe (lowest-id init, fixed
    Lloyd rounds) makes the result identical to ``ivf_build_index`` over
    the same rows, regardless of how they arrived — pinned by test_ann.

    Safety: the re-assigned corpus and new centroid table are written to
    sibling ``._new`` directories and VERIFIED (row count equality)
    before the swap; the swap itself is the rename-aside discipline
    (r14 — the old ``rmtree(cur); rename(new, cur)`` had a crash window
    that LOST the live table, and a crash between the corpus and
    centroid swaps left a new corpus paired with old centroids:
    inconsistent assignments). A ``{path}/_RECENTER_OK`` marker lands
    only AFTER both ``._new`` tables verify (ADVICE r14): the marker is
    what licenses the swap, so :func:`ivf_finish_recenter` after a crash
    DURING the heavy ``._new`` writes — when the staged tables are
    partial and unverified — discards them instead of installing them
    over the good live corpus; after a crash mid-swap (marker present)
    it completes the swap idempotently. The whole op holds the index
    root's ``_WRITER_LOCK`` (``txn.writer_lock``, VERDICT r14 #5).
    Local-filesystem moves via ``os``/``shutil`` — 1:1 with the Hadoop
    FileSystem API on a cluster.
    Returns ``{rows, n_centroids_before, n_centroids_after}``."""
    import os
    import shutil

    from ..streaming.txn import writer_lock

    with writer_lock(path, "ivf_recenter_index"):
        # a crashed previous recenter leaves either unverified ._new husks
        # (no marker — discard) or a verified half-swap (marker — finish);
        # settle it before reading the corpus so we read a consistent live
        # layout
        ivf_finish_recenter(path)
        corpus = spark.read.parquet(f"{path}/corpus").select("neighbor_id", "cvec")
        k_before = spark.read.parquet(f"{path}/centroids").count()
        n_rows = corpus.count()
        if n_centroids is None:
            import math

            n_centroids = max(16, math.isqrt(max(n_rows - 1, 0)) + 1)
        c = fan_out(corpus, CPU_HEAVY)
        cents = _train_centroids(c, n_centroids, lloyd_iters)
        new_corpus, new_cents = f"{path}/corpus._new", f"{path}/centroids._new"
        _assign_auto(c, cents).write.partitionBy("cid").mode("overwrite").parquet(
            new_corpus
        )
        cents.write.mode("overwrite").parquet(new_cents)
        got = spark.read.parquet(new_corpus).count()
        if got != n_rows:  # pragma: no cover - defense against a writer bug
            shutil.rmtree(new_corpus, ignore_errors=True)
            shutil.rmtree(new_cents, ignore_errors=True)
            raise RuntimeError(
                f"recenter verification failed: {got} rows written != {n_rows} "
                "read; index left untouched"
            )
        # verified → license the swap. From here ivf_finish_recenter
        # completes it after ANY crash.
        open(f"{path}/_RECENTER_OK", "w").close()
        ivf_finish_recenter(path)
    return {
        "rows": int(n_rows),
        "n_centroids_before": int(k_before),
        "n_centroids_after": int(n_centroids),
    }


def ivf_finish_recenter(path: str) -> bool:
    """Settle a crashed :func:`ivf_recenter_index` — and run the swap
    recenter itself performs (one definition). Marker-gated (ADVICE
    r14): ``{path}/_RECENTER_OK`` lands only after BOTH ``._new`` tables
    verified, so

    - marker present → the staged tables are verified-complete: for each
      of corpus/centroids, if a ``._new`` sibling exists, rename the
      live table aside, swap the new one in, and sweep the aside (a
      table whose ``._new`` is already gone was swapped before the
      crash and only needs its aside swept); the marker is removed LAST,
      after the layout is clean. Returns True.
    - marker absent → the crash happened DURING the ``._new`` writes:
      the staged tables are partial/unverified (or one of the pair never
      landed), and installing them would lose the good live corpus or
      pair a new corpus with old centroids. Discard the ``._new`` husks,
      leave the live layout untouched, return False — re-run
      ``ivf_recenter_index`` to retrain.

    Idempotent — re-running after a crash inside THIS function lands the
    same end state (a crash after the aside sweeps but before the marker
    unlink re-enters the marker-present path with nothing left to do)."""
    import os
    import shutil

    marker = f"{path}/_RECENTER_OK"
    if not os.path.exists(marker):
        for name in ("corpus", "centroids"):
            shutil.rmtree(f"{path}/{name}._new", ignore_errors=True)
        return False
    for name in ("corpus", "centroids"):
        cur = f"{path}/{name}"
        new = f"{cur}._new"
        aside = f"{cur}._old"
        if os.path.isdir(new):
            if os.path.isdir(cur):
                shutil.rmtree(aside, ignore_errors=True)
                os.rename(cur, aside)
            # cur absent here = a previous attempt crashed between its
            # rename-aside and this swap; the new table still lands
            os.rename(new, cur)
        shutil.rmtree(aside, ignore_errors=True)
    os.remove(marker)
    return True


def ivf_search_index(
    spark,
    path: str,
    queries: DataFrame,
    n_probe: int = 4,
    k: int = 5,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    where: "str | None" = None,
) -> DataFrame:
    """Probe a stored IVF index (``ivf_build_index`` layout).

    The union of probed centroid ids across the query batch is collected
    driver-side (bounded by n_centroids — centroids are by construction
    a tiny table) and pushed as a LITERAL ``cid IN (...)`` predicate on
    the partition column, so the parquet scan reads only the probed
    ``cid=`` directories (PartitionFilters — asserted in test_ann). The
    per-query restriction to its own n_probe lists then happens in the
    broadcast equi-join on ``cid``.

    ``where`` (a SQL boolean over the stored list rows' columns —
    requires the index to have been built with matching ``meta_cols``)
    is FILTERED SERVING: it composes with the partition pruning, landing
    as a pushed row-group filter inside the probed lists' scan, so a
    selective predicate costs less I/O, never more. Pre-filtering
    semantics: the predicate restricts candidates BEFORE ranking —
    identical member sets to ``ivf_topk_filtered`` under the same
    centroids."""
    cents = read_stored(spark, f"{path}/centroids")
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("qvec")
    )
    qc = q.crossJoin(F.broadcast(cents)).select(
        query_id_col, "qvec", "cid", cosine(F.col("qvec"), F.col("cent")).alias("_cc")
    )
    # Centroid-bounded probe-selection window (see ivf_topk).
    wq = Window.partitionBy(query_id_col).orderBy(F.desc("_cc"), F.asc("cid"))
    probes_plan = (
        qc.withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= n_probe)
        .select(query_id_col, "qvec", "cid")
    )
    # Land the (query-batch × n_probe)-sized probe set on the driver and
    # rebuild it as a literal frame: probe_cids needs a collect anyway,
    # and a persist here is never released — a serving loop calling this
    # per query batch would accumulate one CacheManager entry per call
    # (each batch is a new plan; the merge_upsert lesson). A literal
    # local relation has no cache entry and no lineage to recompute.
    probe_rows = probes_plan.collect()
    probes = literal_frame(spark, probe_rows, probes_plan.schema)
    probe_cids = sorted({r.cid for r in probe_rows})
    idx = read_stored(spark, f"{path}/corpus").filter(F.col("cid").isin(probe_cids))
    if where is not None:
        idx = idx.filter(F.expr(where))
    scored = (
        idx.join(F.broadcast(probes), on="cid")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id", cosine(F.col("qvec"), F.col("cvec")).alias("cos"))
    )
    return _topk_per_query(scored, query_id_col, "cos", k)


def lsh_build_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    planes: int = LSH_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the LSH-bucketed corpus partitioned by ``bucket`` — the
    stored analog of ``lsh_topk``'s inline bucketing (same fixed planes,
    so a later probe recomputes identical query buckets). Hash once,
    write once; every search after that is a partition-pruned scan."""
    c = fan_out(corpus, CPU_HEAVY).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    ).withColumn("bucket", lsh_bucket(F.col("cvec"), dim, planes))
    c.write.partitionBy("bucket").mode("overwrite").parquet(f"{path}/corpus")


def lsh_search_index(
    spark,
    path: str,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    planes: int = LSH_PLANES,
    probes: int = 1,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Probe a stored LSH index (``lsh_build_index`` layout), optionally
    multi-probe (flip one low bit per extra probe, as in
    ``lsh_topk_multiprobe``). The union of probed buckets is a literal
    ``bucket IN (...)`` on the partition column → partition-pruned scan;
    per-query bucket restriction happens in the broadcast equi-join."""
    q0 = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("qvec")
    ).withColumn("_b", lsh_bucket(F.col("qvec"), dim, planes))
    flips = F.array(
        F.col("_b"), *[F.col("_b").bitwiseXOR(F.lit(1 << p)) for p in range(probes - 1)]
    )
    q_plan = (
        q0.select(query_id_col, "qvec", F.explode(flips).alias("bucket"))
        .dropDuplicates([query_id_col, "bucket"])
    )
    # Collect the (query-batch × probes)-sized probe set and rebuild it
    # as a literal frame — same rationale as ivf_search_index: the bucket
    # list needs a collect anyway, and a per-call persist in a serving
    # loop accumulates unreleased CacheManager entries.
    q_rows = q_plan.collect()
    q = literal_frame(spark, q_rows, q_plan.schema)
    probe_buckets = sorted({r.bucket for r in q_rows})
    idx = read_stored(spark, f"{path}/corpus").filter(F.col("bucket").isin(probe_buckets))
    scored = (
        idx.join(F.broadcast(q), on="bucket")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id", cosine(F.col("qvec"), F.col("cvec")).alias("cos"))
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    return _topk_per_query(scored, query_id_col, "cos", k)


def semantic_dedup(
    emb: DataFrame,
    tau: float = 0.9,
    n_centroids: int | None = None,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    embeddings with k-means, compare pairs ONLY within a cluster, and for
    every within-cluster pair with cosine ≥ ``tau`` drop the higher id —
    the paper's greedy keep-one rule (not a transitive closure; a kept doc
    is one that is not dominated by any lower-id near-twin in its cluster).

    Returns the surviving ``(vec_id, cid)`` rows.

    Scale shape: clustering makes the quadratic comparison CLUSTER-local —
    the whole point vs all-pairs cosine. ``n_centroids=None`` (default)
    auto-scales k ∝ N via ``auto_centroids`` (one bounded count), keeping
    expected cluster size ≈ SEM_TARGET_CLUSTER constant — a fixed k would
    silently grow the within-cluster quadratic as N²/k at 100×. The
    pair stage is ONE NumPy similarity matrix per cluster via
    ``applyInPandas`` — the shape the SemDeDup paper computes
    (cluster-local V·Vᵀ): one shuffle on ``cid``, then a vectorized
    matmul inside each cluster's task, whose size that k bounds.
    Zero-norm, NaN and NULL vectors are similar to nothing: they
    never drop and are never dropped. Centroid training is the
    bounded-collect Lloyd loop shared with IVF (``_train_centroids``)."""
    import numpy as np
    import pandas as pd

    c = fan_out(emb, CPU_HEAVY).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cvec")
    )
    if n_centroids is None:
        n_centroids = auto_centroids(c)
    cents = _train_centroids(c, n_centroids, lloyd_iters)
    assigned = persist_once(_assign_auto(c, cents))

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType([StructField("neighbor_id", LongType())])

    def dropped_in_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        # NULL embeddings form no valid pairs: they neither drop nor get
        # dropped — leave them out of the matrix instead of crashing
        # np.stack on None
        pdf = pdf[pdf["cvec"].notna()].reset_index(drop=True)
        if len(pdf) < 2:
            return pdf.iloc[:0][["neighbor_id"]]
        v = np.stack(pdf["cvec"].to_numpy())            # m × d
        nrm = np.sqrt((v * v).sum(axis=1))
        # zero-norm guard: pairs involving a zero vector are never
        # similar, not NaN-similar (a NaN norm fails `denom > 0` too).
        denom = np.outer(nrm, nrm)
        valid = denom > 0
        with np.errstate(divide="ignore", invalid="ignore"):
            s = np.where(valid, (v @ v.T) / np.where(valid, denom, 1.0), -np.inf)
        # drop j if ANY lower-id i in the cluster has sim ≥ tau (strictly
        # the pairwise rule, not a greedy chain)
        mask = np.triu(s >= tau, k=1).any(axis=0)
        return pdf.loc[mask, ["neighbor_id"]]

    dropped = assigned.select("cid", "neighbor_id", "cvec").groupBy("cid").applyInPandas(
        dropped_in_cluster, out_schema
    )
    return (
        assigned.join(dropped, on="neighbor_id", how="left_anti")
        .select(F.col("neighbor_id").alias(id_col), "cid")
    )


def _assign(c: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast join + hash-aggregate argmax.

    ``max_by`` over a (score, -cid) struct replaces the former
    row_number window — same winner (ties → smallest cid, matching the
    oracle's ``ORDER BY cos DESC, cid ASC ... rn = 1``) but a partial+
    final HASH aggregate instead of a full shuffle+SORT of every
    (vector × centroid) row: at N vectors × k centroids the sort is
    O(Nk log Nk) through one exchange, the aggregate combines map-side
    to one row per vector before shuffling."""
    # Norms staged ONCE per vector / per centroid, NOT inside the pair
    # expression: HOFs run interpreted with no codegen CSE (DEVNOTES #2),
    # so an inline cosine() would recompute the 128-dim norm fold
    # k-centroids times per vector (and twice more under the zero-norm
    # `when`). Measured ~2× on the Lloyd loop at k=16.
    cn = c if "_nv" in c.columns else c.withColumn("_nv", norm(F.col("cvec")))
    ct = cents.withColumn("_nc", norm(F.col("cent")))
    d = F.col("_nv") * F.col("_nc")
    scored = cn.crossJoin(F.broadcast(ct)).select(
        "neighbor_id",
        "cvec",
        # nanvl mirrors cosine(): a NaN component passes `NaN > 0`, and an
        # un-folded NaN _cc would win max_by (Spark orders NaN greatest) —
        # the vectorized twin scores such rows/centroids 0.0 instead
        F.nanvl(
            F.when(d > 0, dot(F.col("cvec"), F.col("cent")) / d).otherwise(F.lit(0.0)),
            F.lit(0.0),
        ).alias("_cc"),
        "cid",
    )
    return (
        scored.groupBy("neighbor_id")
        .agg(
            F.expr("max_by(cid, struct(_cc, -cid))").alias("cid"),
            F.first("cvec").alias("cvec"),
        )
        .select("cid", "neighbor_id", "cvec")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    planes: int = LSH_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket; exact
    cosine + rank within candidates. Recall < 1 by construction (single
    probe); raise ``planes`` ↓bucket size, add probes ↑recall."""
    c = fan_out(corpus, CPU_HEAVY).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    ).withColumn("bucket", lsh_bucket(F.col("cvec"), dim, planes))
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    ).withColumn("bucket", lsh_bucket(F.col("qvec"), dim, planes))
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id", cosine(F.col("qvec"), F.col("cvec")).alias("cos"))
    )
    return _topk_per_query(scored, query_id_col, "cos", k)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dup_tau: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Contrastive-training hard-negative mining: per query, the top-k
    most similar corpus vectors AFTER excluding (a) the single nearest
    neighbor (the presumptive positive) and (b) anything with cosine ≥
    ``dup_tau`` (a near-duplicate is a FALSE negative — training on it
    teaches the model to push apart copies of the same thing).

    Output is (query_id, neighbor_id, neg_rank) — ids and integer ranks
    only, no float column, so downstream joins and oracle comparisons are
    exact. Scale shape mirrors ``brute_force_topk`` (broadcast queries,
    corpus never shuffles); swap the scorer for an ANN candidate set at
    100 TB. The rank-1 "positive" is found with a hash AGGREGATE
    (``max_by`` over (cos, −id) — ties → smallest id, exactly the window
    formulation's rank 1), not a full per-query ranking, and the negative
    ranking itself is the two-phase ``grouped_rank`` — no per-query
    window anywhere, so a handful of queries against a huge corpus never
    serializes into a handful of tasks."""
    c = fan_out(corpus, CPU_HEAVY).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("qvec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id", cosine(F.col("qvec"), F.col("cvec")).alias("_cos"))
    )
    # One row per query (broadcast-sized): the presumptive positive.
    # scored feeds this aggregate AND the candidate filter; the candidate
    # frame is then pinned by grouped_rank's correctness persist, so only
    # this aggregate recomputes the expression scan.
    top1 = scored.groupBy(query_id_col).agg(
        F.expr("max_by(neighbor_id, struct(_cos, -neighbor_id))").alias("_pos")
    )
    cand = scored.join(F.broadcast(top1), on=query_id_col).filter(
        (F.col("neighbor_id") != F.col("_pos")) & (F.col("_cos") < dup_tau)
    )
    return _topk_per_query(
        cand, query_id_col, "_cos", k, rank_col="neg_rank", prebatch_prune=True
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed exhaustive ANN with ADC scoring
# ---------------------------------------------------------------------------

def _pq_books(per_sub: "list[list[tuple[int, list | None]]]", sd: int):
    """Driver-side NumPy form of per-subspace codebooks: for each sub,
    (cid array sorted ASC, centroid matrix with None/non-finite rows
    zero-filled, dim-sequential norms, RAW squared-norm folds) — the same
    substitutions and fold association as ``_assign_vectorized`` (see its
    exactness argument). The squared fold is carried separately because
    ``sqrt(x)**2 != x`` in doubles, while the l2-surrogate oracle states
    ``list_dot_product(cent, cent)/2`` exactly — re-squaring the sqrt'd
    norm can flip a near-tie argmax and desync residual codes."""
    import numpy as np

    books = []
    for ents in per_sub:
        ents = sorted(ents, key=lambda t: t[0])
        cids = np.asarray([c for c, _ in ents], dtype=np.int64)
        C = _zero_filled_matrix_fn(sd, "pq codebooks")([v for _, v in ents])
        nc = np.zeros(len(C))
        for j in range(sd):
            nc = nc + C[:, j] * C[:, j]
        books.append((cids, C, np.sqrt(nc), nc))
    return books


def _pq_assign_fn(
    books, dim: int, emit: str, with_vec: bool, metric: str = "cos", coarse=None
):
    """mapInPandas kernel assigning ALL subspaces in one corpus pass —
    per sub, the exact ``_assign_vectorized`` math on the slice
    (dim-sequential dot/norm folds, zero-norm guard, per-SLICE
    non-finite → zero-vector substitution, first-argmax → smallest cid).
    ``emit='cid'`` yields centroid labels (training rounds need them for
    the mean update); ``emit='code'`` yields dense positions in cid-ASC
    order (= the stored PQ code).

    ``metric='l2'`` assigns by EUCLIDEAN nearest centroid via the
    monotone surrogate argmax(dot(v,c) − ‖c‖²/2) (‖v‖² is constant per
    row) — the right objective for RESIDUAL quantization (IVFADC:
    residuals are not unit-norm, so minimizing angle ignores the
    magnitude error that drives reconstruction quality). The surrogate
    is what the SQL oracle replays verbatim, dot-for-dot.

    ``coarse`` (a ``_coarse_book``) fuses the IVFADC front half into the
    SAME pass: each batch is coarse-assigned (the exact
    ``_assign_vectorized`` cosine math), the assigned centroid is
    subtracted, and the per-sub loop quantizes the RESIDUAL — so
    residual training/encoding costs ONE corpus scan per pass, no
    assignment pass, no residual join, no corpus×corpus code zip.
    With ``coarse``: ``with_vec`` emits the RESIDUAL as ``cvec`` (the
    mean update must average residuals) and a ``cid`` column is always
    emitted. Degenerate rows replicate the unfused chain exactly: a
    NULL vector's residual is the ZERO vector (unfused: zip_with(NULL,·)
    → NULL → zero-filled here), while NaN/±Inf components propagate
    through the subtraction into the per-slice non-finite → zero
    substitution (unfused: zip_with propagates them component-wise)."""
    import numpy as np
    import pandas as pd

    m = len(books)
    sd = dim // m

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vals = pdf["cvec"].tolist()
            zero = [0.0] * dim
            filled = [zero if v is None else v for v in vals]
            try:
                V = np.asarray(filled, dtype=np.float64)
            except (TypeError, ValueError) as e:
                raise ValueError(
                    "pq assignment: embeddings have mixed dims; normalize upstream"
                ) from e
            if V.shape[1] != dim:
                raise ValueError(
                    f"pq assignment: embedding dim {V.shape[1]} != {dim}"
                )
            coarse_cids = None
            if coarse is not None:
                null_rows = np.asarray([v is None for v in vals], dtype=bool)
                best = _coarse_argmax(V, coarse)
                coarse_cids = coarse[0][best]
                V = V - coarse[1][best]
                if null_rows.any():
                    V[null_rows] = 0.0
            out = np.empty((len(V), m), dtype=np.int64)
            for si in range(m):
                cids, C, nc, ncsq = books[si]
                Vs = V[:, si * sd : (si + 1) * sd].copy()
                bad = ~np.isfinite(Vs).all(axis=1)
                if bad.any():
                    Vs[bad] = 0.0
                nv = np.zeros(len(Vs))
                dot_m = np.zeros((len(Vs), len(C)))
                for j in range(sd):
                    col = Vs[:, j]
                    nv = nv + col * col
                    dot_m = dot_m + col[:, None] * C[None, :, j]
                if metric == "l2":
                    cc = dot_m - 0.5 * ncsq[None, :]
                else:
                    nv = np.sqrt(nv)
                    denom = nv[:, None] * nc[None, :]
                    pos = denom > 0
                    cc = np.where(pos, dot_m / np.where(pos, denom, 1.0), 0.0)
                best = np.argmax(cc, axis=1)
                out[:, si] = best if emit == "code" else cids[best]
            data = {"neighbor_id": pdf["neighbor_id"]}
            if coarse_cids is not None:
                data["cid"] = coarse_cids
            if with_vec:
                data["cvec"] = V.tolist() if coarse is not None else pdf["cvec"]
            data["codes" if emit == "code" else "cids"] = out.tolist()
            yield pd.DataFrame(data)

    return assign


def _pq_assign_fn_sig(emit: str, with_vec: bool, coarse) -> str:
    """Output schema matching ``_pq_assign_fn``'s emitted columns."""
    cols = ["neighbor_id long"]
    if coarse is not None:
        cols.append("cid long")
    if with_vec:
        cols.append("cvec array<double>")
    cols.append("codes array<int>" if emit == "code" else "cids array<long>")
    return ", ".join(cols)


def _coarse_book(coarse_rows: list, dim: int):
    """Driver-side NumPy form of the coarse centroid table for the fused
    IVFADC kernel: (cid array sorted ASC, centroid matrix with
    NULL/non-finite rows zero-filled, sequential-fold norms) — the exact
    substitutions of ``_assign_vectorized``."""
    import numpy as np

    rows = sorted(
        ((int(cid), None if cent is None else list(cent)) for cid, cent in coarse_rows),
        key=lambda t: t[0],
    )
    cids = np.asarray([t[0] for t in rows], dtype=np.int64)
    C = np.asarray(
        [([0.0] * dim if v is None else v) for _, v in rows], dtype=np.float64
    )
    bad = ~np.isfinite(C).all(axis=1)
    if bad.any():
        C[bad] = 0.0
    nc = np.zeros(len(C))
    for j in range(dim):
        nc = nc + C[:, j] * C[:, j]
    return cids, C, np.sqrt(nc)


def _coarse_argmax(V, coarse):
    """The ``_assign_vectorized`` cosine argmax over a full-dim batch:
    dim-sequential folds, zero-norm guard, first-argmax → smallest cid.
    ``V`` must already be NULL-row zero-filled; non-finite rows are
    zero-substituted on a scoring COPY only (the caller subtracts from
    the original so NaN/Inf propagate into the residual)."""
    import numpy as np

    _, C, nc = coarse
    S = V
    bad = ~np.isfinite(S).all(axis=1)
    if bad.any():
        S = V.copy()
        S[bad] = 0.0
    nv = np.zeros(len(S))
    dot_m = np.zeros((len(S), len(C)))
    for j in range(S.shape[1]):
        col = S[:, j]
        nv = nv + col * col
        dot_m = dot_m + col[:, None] * C[None, :, j]
    nv = np.sqrt(nv)
    denom = nv[:, None] * nc[None, :]
    pos = denom > 0
    cc = np.where(pos, dot_m / np.where(pos, denom, 1.0), 0.0)
    return np.argmax(cc, axis=1)


def pq_train_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 4,
    k_sub: int = 16,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cos",
    coarse: "list | None" = None,
) -> DataFrame:
    """Train per-subspace PQ codebooks (Jégou et al. 2011 shape): split
    each ``dim``-vector into ``m`` contiguous subvectors of ``dim/m``
    dims and k-means each subspace independently with the SAME
    deterministic recipe as IVF (init = the ``k_sub`` lowest-id
    subvectors, ``lloyd_iters`` cosine Lloyd rounds, smallest-cid ties)
    — so a SQL oracle can unroll the whole training per subspace,
    exactly like the IVF / SemDeDup oracles.

    The m subspace trainings are FUSED into one loop: each Lloyd round
    is ONE corpus pass (an Arrow kernel assigning all m subspaces at
    once — ``_pq_assign_fn``, per-sub math identical to the
    ``_assign_vectorized`` twin) plus one (sub, cid, dim)-grouped mean
    aggregate, instead of m independent chains — at 100 TB that is
    lloyd_iters corpus scans total, not m·lloyd_iters.

    Returns a LITERAL ``(sub, code, cid, cent)`` frame — m·k_sub rows,
    lineage-free. ``code`` is the dense rank of ``cid`` (cid ASC) within
    its subspace: codes are what get stored per vector (m small ints ≈
    m bytes at k_sub ≤ 256 — the 100 TB story: a 256-dim float32 corpus
    compresses ~256×, small enough that EXHAUSTIVE scoring of the codes
    is a map-only scan of a table ~0.4 % the original size)."""
    if dim % m != 0:
        raise ValueError(f"pq_train_codebooks: dim {dim} not divisible by m {m}")
    sd = dim // m
    spark = corpus.sparkSession
    c = fan_out(corpus, CPU_HEAVY).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    # Pin across the init collect + lloyd_iters mean-update actions (same
    # rationale as _train_centroids' pin, and released the same way
    # before returning — the returned codebook frame is lineage-free, and
    # leaving exactly-``c`` cached would flip downstream plan-size gates
    # from file estimates to in-memory stats).
    own_pin = False
    if lloyd_iters > 0:
        lvl = c.storageLevel
        if not (lvl.useMemory or lvl.useDisk):
            c = c.persist()
            own_pin = True
    # try/finally from here on: an exception mid-training would leak the
    # pin, and a lingering cache of exactly ``c`` flips downstream
    # plan_size_bytes gates for the rest of the session.
    try:
        return _pq_train_codebooks_pinned(
            spark, c, dim, m, sd, k_sub, lloyd_iters, metric, coarse
        )
    finally:
        if own_pin:
            c.unpersist()


def _pq_train_codebooks_pinned(
    spark, c, dim, m, sd, k_sub, lloyd_iters, metric, coarse
) -> DataFrame:
    init = c.orderBy("neighbor_id").limit(k_sub).collect()
    schema = "sub int, code int, cid long, cent array<double>"
    if not init:
        return _attach_rows(literal_frame(spark, [], schema), [])
    cbook = _coarse_book(coarse, dim) if coarse is not None else None
    init_vecs = [
        None if r["cvec"] is None else [float(x) for x in r["cvec"]] for r in init
    ]
    if cbook is not None:
        # init = slices of the lowest-id RESIDUALS — replicate the fused
        # kernel's math driver-side on the k_sub init rows
        import numpy as np

        filled = np.asarray(
            [([0.0] * dim if v is None else v) for v in init_vecs], dtype=np.float64
        )
        best = _coarse_argmax(filled, cbook)
        R = filled - cbook[1][best]
        for i, v in enumerate(init_vecs):
            if v is None:
                R[i] = 0.0
        init_vecs = [list(map(float, row)) for row in R]
    # per-sub state: [(cid, cent-or-None)] — init = slices of the lowest ids
    state: list[list] = [
        [
            (
                int(r["neighbor_id"]),
                None if v is None else v[s * sd : (s + 1) * sd],
            )
            for r, v in zip(init, init_vecs)
        ]
        for s in range(m)
    ]
    for _ in range(lloyd_iters):
        assigned = c.mapInPandas(
            _pq_assign_fn(
                _pq_books(state, sd), dim, emit="cid", with_vec=True,
                metric=metric, coarse=cbook,
            ),
            _pq_assign_fn_sig("cid", True, cbook),
        )
        # mean update for ALL subspaces in one aggregate: explode the
        # vector once, route each component to (its sub, that sub's
        # assigned cid, its within-sub dim) — m·k_sub·sd result rows
        means = (
            assigned.select("cids", F.posexplode("cvec").alias("d", "x"))
            .select(
                F.expr(f"d div {sd}").cast("int").alias("sub"),
                F.element_at("cids", F.expr(f"d div {sd}").cast("int") + 1).alias("cid"),
                (F.col("d") % sd).alias("dd"),
                "x",
            )
            .groupBy("sub", "cid", "dd")
            .agg(F.avg("x").alias("mv"))
            .collect()
        )
        agg: dict = {}
        for r in means:
            agg.setdefault((r["sub"], int(r["cid"])), {})[int(r["dd"])] = float(r["mv"])
        state = [
            [
                (cid, [vals[j] for j in range(sd)])
                for (s2, cid), vals in sorted(agg.items())
                if s2 == s
            ]
            for s in range(m)
        ]
    from pyspark.sql import Row

    rows = []
    for s in range(m):
        for code, (cid, cent) in enumerate(sorted(state[s], key=lambda t: t[0])):
            rows.append(Row(sub=s, code=code, cid=cid, cent=cent))
    return _attach_rows(literal_frame(spark, rows, schema), rows)


def _pq_codebook_rows(codebooks: DataFrame) -> list:
    """Collect a codebook frame driver-side, sorted (sub, code) — bounded
    by m·k_sub rows by construction. A trainer-built literal frame skips
    the parallelize → collect round trip (``_attach_rows``)."""
    return sorted(_collect_rows(codebooks), key=lambda r: (r["sub"], r["code"]))


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cos",
) -> DataFrame:
    """Encode each vector to its ``m`` PQ codes — ONE map-only Arrow pass
    assigning every subspace at once (encoding IS k-means assignment;
    same kernel the trainer uses, dense cid-ASC positions out). No
    shuffle at all: the 100 TB encode is a single scan writing m bytes
    per vector. Output: ``(neighbor_id, codes array<int>)``.

    An empty codebook frame (training ran over an empty corpus —
    ``pq_train_codebooks`` returns its empty-init frame) short-circuits
    to an empty result of the same schema instead of dividing by a zero
    subspace count."""
    cb = _pq_codebook_rows(codebooks)
    if not cb:
        return literal_frame(corpus.sparkSession, 
            [], "neighbor_id long, codes array<int>"
        )
    subs = sorted({r["sub"] for r in cb})
    sd = dim // len(subs)
    per_sub = [
        [
            (int(r["cid"]), None if r["cent"] is None else list(r["cent"]))
            for r in cb
            if r["sub"] == s
        ]
        for s in subs
    ]
    c = fan_out(corpus, CPU_HEAVY).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    return c.mapInPandas(
        _pq_assign_fn(
            _pq_books(per_sub, sd), dim, emit="code", with_vec=False, metric=metric
        ),
        "neighbor_id long, codes array<int>",
    )


def _pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    cb: list,
    dim: int,
    k: int,
    query_id_col: str,
) -> DataFrame:
    """Shared ADC scorer: per query build the m×k_sub lookup table of
    subvector·centroid dots AS EXPRESSIONS ON THE QUERY FRAME (the
    expensive interpreted HOF folds run once per query, not per corpus
    row — DEVNOTES gotcha #2), then score every code row with m
    ``element_at`` lookups and a fixed-order sum:

        cos ≈ (Σₛ lutₛ[codeₛ]) / (‖q‖ · sqrt(Σₛ ‖centₛ,codeₛ‖²))

    — the asymmetric-distance approximation of cosine (query exact,
    corpus reconstructed from centroids). The corpus side never touches
    floats wider than m ints per row; ranking is the two-phase
    grouped_rank with the exact batch-local pre-prune.

    An empty codebook list (empty training corpus) short-circuits to an
    empty ranked frame — there is nothing to reconstruct, and the LUT
    construction would otherwise emit zero ``_lut{s}`` columns and fail
    in ``_pq_cos``."""
    if not cb:
        qt = queries.schema[query_id_col].dataType.simpleString()
        return literal_frame(queries.sparkSession, 
            [], f"{query_id_col} {qt}, neighbor_id long, cos double, rank int"
        )
    qlut = _pq_qlut(queries, cb, dim, query_id_col)
    scored = (
        codes.crossJoin(F.broadcast(qlut))
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id", _pq_cos(cb).alias("cos"))
    )
    return _topk_per_query(scored, query_id_col, "cos", k, prebatch_prune=True)


def _sql_d(x: float) -> str:
    """SQL double literal for ``x`` — repr round-trips exactly (shortest
    decimal), with the three non-finite spellings Spark's parser needs."""
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"{x!r}D"


def _nan_safe_key(v):
    """Dict key for driver-side row dedup that collapses float NaNs the
    way Spark's dropDuplicates does (NaN = NaN in grouping) — distinct
    NaN objects hash unequal as plain dict keys."""
    if isinstance(v, float) and v != v:
        return ("__laradb_nan__",)
    return v


def _pq_qlut(
    queries: DataFrame,
    cb: list,
    dim: int,
    query_id_col: str,
    extra: tuple = (),
) -> DataFrame:
    """Per-query LUT frame: (query_id, _nq, _lut{s}…, *extra) — the m·k_sub
    dot folds evaluated once per query row.

    The m·k_sub ``dot(slice(qvec), literal-centroid)`` folds are built as
    ONE SQL string per ``_lut{s}`` column and parsed JVM-side (F.expr):
    the element-wise ``F.lit``/Python-lambda construction was ~10,000
    py4j round-trips ≈ 10 s of DRIVER time per search — ~90 % of every
    PQ-family serve query's wall clock (guide §5: the driver should do
    almost no work; measured with cProfile, r15). The parsed tree is the
    same Catalyst ``aggregate(zip_with(...))`` sequential fold with the
    same literals — scores are bit-identical (test_ann pins parity)."""
    subs = sorted({r["sub"] for r in cb})
    sd = dim // len(subs)
    lut_cols = []
    for s in subs:
        ents = [r for r in cb if r["sub"] == s]
        qs = f"slice(`qvec`, {s * sd + 1}, {sd})"
        terms = []
        for r in ents:
            if r["cent"] is None:
                terms.append("0.0D")
            else:
                arr = ",".join(_sql_d(x) for x in r["cent"])
                terms.append(
                    f"aggregate(zip_with({qs}, array({arr}), (x, y) -> x * y),"
                    " 0.0D, (s, v) -> s + v)"
                )
        lut_cols.append(F.expr("array(" + ",".join(terms) + ")").alias(f"_lut{s}"))
    nq = F.expr("sqrt(aggregate(`qvec`, 0.0D, (s, v) -> s + v * v))")
    return queries.select(query_id_col, nq.alias("_nq"), *lut_cols, *extra)


def _pq_cos(cb: list) -> Column:
    """ADC approximate-cosine over a row holding ``codes`` + the query's
    ``_nq``/``_lut{s}`` columns; fixed sub-ASC addition order on both the
    numerator and the reconstructed-norm sum. Centroid norms² are literal
    arrays (they depend only on the codebook, not the query). Built as
    ONE JVM-parsed SQL string — the per-literal py4j construction cost
    rationale of ``_pq_qlut``; same operator tree, bit-identical."""
    subs = sorted({r["sub"] for r in cb})
    num_terms = []
    den_terms = []
    for s in subs:
        ents = [r for r in cb if r["sub"] == s]
        nsq = ",".join(
            "0.0D" if r["cent"] is None else _sql_d(sum(x * x for x in r["cent"]))
            for r in ents
        )
        code_s = f"element_at(`codes`, {s + 1})"
        num_terms.append(f"element_at(`_lut{s}`, {code_s} + 1)")
        den_terms.append(f"element_at(array({nsq}), {code_s} + 1)")
    num = " + ".join(num_terms)
    den = f"(`_nq` * sqrt({' + '.join(den_terms)}))"
    return F.expr(
        f"CASE WHEN {den} > 0 THEN ({num}) / {den} ELSE 0.0D END"
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int = 4,
    k_sub: int = 16,
    k: int = 5,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ-compressed EXHAUSTIVE ANN: train codebooks, encode the corpus
    to m-byte codes, score every code row against every query via the
    ADC lookup table, rank top-k. Unlike LSH/IVF there is no candidate
    pruning — recall loss comes only from quantization — and the scan
    side is the compressed codes, not the vectors.

    Deterministic end to end (fixed init + fixed rounds + total rank
    order), so the full train→encode→score→rank flow is SQL-replayable
    and hash-checked, like IVF. Output: (query_id, neighbor_id, rank)."""
    cb_df = pq_train_codebooks(
        corpus, dim, m=m, k_sub=k_sub, lloyd_iters=lloyd_iters,
        id_col=id_col, vec_col=vec_col,
    )
    cb = _pq_codebook_rows(cb_df)
    codes = pq_encode(corpus, cb_df, dim, id_col=id_col, vec_col=vec_col)
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("qvec")
    )
    return _pq_adc_topk(codes, q, cb, dim, k, query_id_col)


def pq_build_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    m: int = 4,
    k_sub: int = 16,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train + encode once, persist ``{path}/codes`` (neighbor_id, codes
    — the ~m-bytes-per-vector compressed corpus) and
    ``{path}/codebooks`` (the tiny (sub, code, cid, cent) table). Every
    subsequent search scans ONLY the code table: at 100 TB of float32
    embeddings the index is hundreds of GB — the difference between
    re-scanning the corpus per query batch and a cheap map-only pass.
    Same build/serve split as ``ivf_build_index``; the two compose
    (IVF-PQ) by writing codes partitioned by an IVF cid."""
    cb_df = pq_train_codebooks(
        corpus, dim, m=m, k_sub=k_sub, lloyd_iters=lloyd_iters,
        id_col=id_col, vec_col=vec_col,
    )
    pq_encode(corpus, cb_df, dim, id_col=id_col, vec_col=vec_col).write.mode(
        "overwrite"
    ).parquet(f"{path}/codes")
    cb_df.write.mode("overwrite").parquet(f"{path}/codebooks")


def pq_search_index(
    spark,
    path: str,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ADC top-k over a stored PQ index (``pq_build_index`` layout): read
    the codebooks (m·k_sub rows, driver-side), build the per-query LUTs,
    map-scan the code table. No shuffle on the corpus side at all until
    the candidates-sized ranking."""
    cb = _pq_codebook_rows(read_stored(spark, f"{path}/codebooks"))
    codes = read_stored(spark, f"{path}/codes")
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("qvec")
    )
    return _pq_adc_topk(codes, q, cb, dim, k, query_id_col)


def pq_encode_res(
    corpus: DataFrame,
    codebooks: DataFrame,
    dim: int,
    coarse_rows: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fused IVFADC encode: ONE map-only Arrow pass per vector doing
    coarse assignment + residual + all-subspace L2 code assignment —
    output ``(cid, neighbor_id, codes)``, the stored inverted-list row.
    Replaces the unfused assign-pass + residual-join + corpus×corpus
    code zip (which the plan showed as a SortMergeJoin): the 100 TB
    encode is a single scan again, exactly like raw-vector
    ``pq_encode``."""
    cb = _pq_codebook_rows(codebooks)
    if not cb:
        return literal_frame(corpus.sparkSession, 
            [], "cid long, neighbor_id long, codes array<int>"
        )
    subs = sorted({r["sub"] for r in cb})
    sd = dim // len(subs)
    per_sub = [
        [
            (int(r["cid"]), None if r["cent"] is None else list(r["cent"]))
            for r in cb
            if r["sub"] == s
        ]
        for s in subs
    ]
    cbook = _coarse_book(coarse_rows, dim)
    c = fan_out(corpus, CPU_HEAVY).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    fn = _pq_assign_fn(
        _pq_books(per_sub, sd), dim, emit="code", with_vec=False,
        metric="l2", coarse=cbook,
    )
    return c.mapInPandas(fn, _pq_assign_fn_sig("code", False, cbook)).select(
        "cid", "neighbor_id", "codes"
    )


def _ivfpq_probes(
    q: DataFrame, coarse: DataFrame, n_probe: int, query_id_col: str
) -> DataFrame:
    """Each query's n_probe nearest coarse centroids — centroid-bounded
    window per query (see ivf_topk)."""
    qc = q.crossJoin(F.broadcast(coarse)).select(
        query_id_col, "qvec", "cid", cosine(F.col("qvec"), F.col("cent")).alias("_cc")
    )
    wq = Window.partitionBy(query_id_col).orderBy(F.desc("_cc"), F.asc("cid"))
    return (
        qc.withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= n_probe)
        .select(query_id_col, "qvec", "cid")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    n_centroids: "int | None" = None,
    n_probe: int = 4,
    m: int = 4,
    k_sub: int = 16,
    k: int = 5,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ: the coarse quantizer prunes WHICH lists a query reads
    (IVF), product quantization compresses WHAT each list stores (PQ
    codes of the raw vectors — the non-residual IVFPQ variant, so the
    same deterministic recipes compose and the whole flow stays
    SQL-replayable). This is the memory-AND-compute shape real
    100 TB vector serving uses: probes cut the scan to n_probe lists,
    codes cut the scanned bytes ~dim·4/m, and scoring is m array
    lookups per candidate.

    Both trainings run over the same corpus scan; the one corpus-sized
    shuffle is the build-time cid⋈codes zip (amortized across every
    query batch in the stored layout — ``ivfpq_build_index``)."""
    if n_centroids is None:  # √N default, counted pre-fan_out (no exchange)
        n_centroids = ivf_auto_centroids(corpus)
    c = fan_out(corpus, CPU_HEAVY).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    coarse = _train_centroids(c, n_centroids, lloyd_iters)
    assigned = _assign_auto(c, coarse).select("cid", "neighbor_id")
    cb_df = pq_train_codebooks(
        corpus, dim, m=m, k_sub=k_sub, lloyd_iters=lloyd_iters,
        id_col=id_col, vec_col=vec_col,
    )
    cb = _pq_codebook_rows(cb_df)
    coded = assigned.join(
        pq_encode(corpus, cb_df, dim, id_col=id_col, vec_col=vec_col), on="neighbor_id"
    )
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("qvec")
    )
    probes = _ivfpq_probes(q, coarse, n_probe, query_id_col)
    qlut = _pq_qlut(
        probes.select(query_id_col, "qvec").dropDuplicates([query_id_col]),
        cb, dim, query_id_col,
    )
    scored = (
        coded.join(F.broadcast(probes.select(query_id_col, "cid")), on="cid")
        .join(F.broadcast(qlut), on=query_id_col)
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id", _pq_cos(cb).alias("cos"))
    )
    return _topk_per_query(scored, query_id_col, "cos", k)


def ivfpq_build_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    n_centroids: "int | None" = None,
    m: int = 4,
    k_sub: int = 16,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_cols: "Sequence[str] | None" = None,
) -> None:
    """Persist the IVF-PQ layout: ``{path}/codes`` = (neighbor_id, codes)
    written ``partitionBy("cid")`` — compressed inverted lists, the
    serving artifact — plus the two tiny tables ``{path}/coarse`` and
    ``{path}/codebooks``. Build pays the one corpus-sized cid⋈codes
    shuffle; every search after that is a partition-pruned scan of
    ~m bytes/vector.

    ``meta_cols`` carries metadata columns into the stored code rows for
    ``ivfpq_search_index(where=...)`` filtered serving — rides the
    build's existing cid⋈codes shuffle (the encode join below), so it
    costs bytes, not an extra stage (compare ivf_build_index, which pays
    one extra join for it)."""
    if n_centroids is None:  # √N default, counted pre-fan_out (no exchange)
        n_centroids = ivf_auto_centroids(corpus)
    c = fan_out(corpus, CPU_HEAVY).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    coarse = _train_centroids(c, n_centroids, lloyd_iters)
    assigned = _assign_auto(c, coarse).select("cid", "neighbor_id")
    cb_df = pq_train_codebooks(
        corpus, dim, m=m, k_sub=k_sub, lloyd_iters=lloyd_iters,
        id_col=id_col, vec_col=vec_col,
    )
    enc = pq_encode(corpus, cb_df, dim, id_col=id_col, vec_col=vec_col)
    if meta_cols:
        enc = enc.join(
            corpus.select(F.col(id_col).alias("neighbor_id"), *meta_cols),
            on="neighbor_id",
        )
    coded = assigned.join(enc, on="neighbor_id")
    coded.write.partitionBy("cid").mode("overwrite").parquet(f"{path}/codes")
    coarse.write.mode("overwrite").parquet(f"{path}/coarse")
    cb_df.write.mode("overwrite").parquet(f"{path}/codebooks")


def ivfpq_append_index(
    new_vectors: DataFrame,
    path: str,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_cols: "Sequence[str] | None" = None,
) -> None:
    """Append new vectors to a stored IVF-PQ index WITHOUT retraining:
    frozen coarse centroids assign the (shard-sized) batch to lists,
    frozen codebooks encode it, codes append to the ``cid=`` partition
    directories. Same stable-centroid trade as ``ivf_append_index``
    (historical codes stay valid; retrain via ``ivfpq_build_index`` when
    drift accumulates). Searches see appended codes on their next plan.
    ``meta_cols`` must match the build's on a meta-built layout (see
    ivf_append_index — NULL metadata hides appends from filtered
    serving)."""
    spark = new_vectors.sparkSession
    coarse = spark.read.parquet(f"{path}/coarse")
    cb_df = spark.read.parquet(f"{path}/codebooks")
    c = fan_out(new_vectors, CPU_HEAVY).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    assigned = _assign_auto(c, coarse).select("cid", "neighbor_id")
    enc = pq_encode(new_vectors, cb_df, dim, id_col=id_col, vec_col=vec_col)
    meta = (
        new_vectors.select(F.col(id_col).alias("neighbor_id"), *meta_cols)
        if meta_cols
        else None
    )
    _check_append_meta(
        spark.read.parquet(f"{path}/codes"),
        meta,
        meta_cols,
        _PQ_BASE_COLS,
        "ivfpq_append_index",
    )
    if meta is not None:
        enc = enc.join(meta, on="neighbor_id")
    coded = assigned.join(enc, on="neighbor_id")
    from ..streaming.txn import writer_lock

    with writer_lock(path, "ivfpq_append_index"):
        coded.write.partitionBy("cid").mode("append").parquet(f"{path}/codes")


def ivfpq_search_index(
    spark,
    path: str,
    queries: DataFrame,
    dim: int,
    n_probe: int = 4,
    k: int = 5,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    where: "str | None" = None,
) -> DataFrame:
    """Probe a stored IVF-PQ index: the probed cid set lands as a literal
    ``cid IN (...)`` on the partition column (partition-pruned scan, as
    ivf_search_index), then ADC-score just those lists' codes. The
    probe set is collected and rebuilt as a literal frame — same
    serving-loop cache rationale as ivf_search_index.

    ``where`` = filtered serving over an index built with matching
    ``meta_cols`` (see ivf_search_index — same pre-filter semantics,
    same pushed-row-filter composition with the partition pruning)."""
    coarse = read_stored(spark, f"{path}/coarse")
    cb = _pq_codebook_rows(read_stored(spark, f"{path}/codebooks"))
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("qvec")
    )
    probes_plan = _ivfpq_probes(q, coarse, n_probe, query_id_col)
    probe_rows = probes_plan.collect()
    probes = literal_frame(spark, probe_rows, probes_plan.schema)
    probe_cids = sorted({r.cid for r in probe_rows})
    # Dedup the per-query vectors DRIVER-side: the rows are already
    # collected, so a dropDuplicates here would spend a whole exchange +
    # sort-aggregate pair on a (queries × n_probe)-sized frame (r15 plan
    # diet; same rows — one (query_id, qvec) per query either way).
    uniq = list({_nan_safe_key(r[query_id_col]): r for r in probe_rows}.values())
    qframe = literal_frame(spark, 
        [(r[query_id_col], r["qvec"]) for r in uniq],
        probes_plan.select(query_id_col, "qvec").schema,
    )
    qlut = _pq_qlut(qframe, cb, dim, query_id_col)
    idx = read_stored(spark, f"{path}/codes").filter(F.col("cid").isin(probe_cids))
    if where is not None:
        idx = idx.filter(F.expr(where))
    scored = (
        idx.join(F.broadcast(probes.select(query_id_col, "cid")), on="cid")
        .join(F.broadcast(qlut), on=query_id_col)
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id", _pq_cos(cb).alias("cos"))
    )
    return _topk_per_query(scored, query_id_col, "cos", k)


def _res_densq_frame(
    spark, coarse_rows: list, cb: list, dim: int
) -> tuple[DataFrame, list]:
    """The reconstructed-norm² lookup for residual ADC: for every
    (cid, sub, code), ‖c_sub + r̂_code‖² — the denominator term of
    cos(q, c + r̂). Size n_centroids·m·k_sub doubles, computed
    driver-side from the two already-literal tables and shipped as ONE
    broadcast frame (cid, _dsq0…_dsq{m-1}); scoring looks it up with
    ``element_at`` per code, exactly like the query LUT. A code whose
    centroid is None (empty training cluster) never appears in encoded
    output; its slot holds ‖c_sub‖² (zero residual) for definedness."""
    subs = sorted({r["sub"] for r in cb})
    sd = dim // len(subs)
    rows = []
    for cid, cent in sorted(coarse_rows):
        row: list = [int(cid)]
        for s in subs:
            csub = list(cent)[s * sd : (s + 1) * sd]
            ents = sorted((r for r in cb if r["sub"] == s), key=lambda r: r["code"])
            arr = []
            for r in ents:
                rc = list(r["cent"]) if r["cent"] is not None else [0.0] * sd
                arr.append(float(sum((a + b) * (a + b) for a, b in zip(csub, rc))))
            row.append(arr)
        rows.append(tuple(row))
    schema = "cid long, " + ", ".join(f"_dsq{s} array<double>" for s in subs)
    return literal_frame(spark, rows, schema), subs


def _res_adc_cos(subs: list) -> Column:
    """Residual-ADC approximate cosine over a row holding ``codes`` plus
    the probe's ``_qc`` (q·coarse-centroid), the query's ``_nq``/
    ``_lut{s}`` columns, and the list's ``_dsq{s}`` arrays:

        cos(q, c + r̂) = (q·c + Σₛ lutₛ[codeₛ])
                        / (‖q‖ · sqrt(Σₛ ‖c_s + r̂ₛ‖²))

    — same LUT mechanics as ``_pq_cos`` with the coarse centroid folded
    into both the numerator (one extra scalar per probe) and the
    reconstructed norm (the precomputed ``_dsq`` lookup)."""
    num_terms = ["`_qc`"]
    den_terms = []
    for s in subs:
        code_s = f"element_at(`codes`, {s + 1})"
        num_terms.append(f"element_at(`_lut{s}`, {code_s} + 1)")
        den_terms.append(f"element_at(`_dsq{s}`, {code_s} + 1)")
    num = " + ".join(num_terms)
    den = f"(`_nq` * sqrt({' + '.join(den_terms)}))"
    # one JVM-parsed string — the _pq_qlut/_pq_cos py4j-cost rationale
    return F.expr(
        f"CASE WHEN {den} > 0 THEN ({num}) / {den} ELSE 0.0D END"
    )


def ivfpq_res_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    n_centroids: "int | None" = None,
    n_probe: int = 4,
    m: int = 4,
    k_sub: int = 16,
    k: int = 5,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """TRUE IVFADC (Jégou et al. 2011 §III): like ``ivfpq_topk`` but the
    PQ codebooks quantize RESIDUALS r = x − c(x) against the assigned
    coarse centroid instead of raw vectors. At equal m the residual
    field has far less variance than the raw corpus (the coarse layer
    already explains the between-list structure), so quantization error
    — and therefore recall@k — improves; ``ann_ivfpq_res_recall``
    measures it against exact brute force alongside the non-residual
    twin.

    Scale shape is the non-residual variant's plus one broadcast join
    per corpus pass (residual = map-side subtract of a literal
    centroid): training is still ``lloyd_iters`` fused corpus passes,
    encoding one map-only pass, scoring broadcast-LUT + the tiny
    per-list ‖c+r̂‖² lookup (n_centroids·m·k_sub doubles, driver-built
    from two literal tables). Everything stays deterministic and
    SQL-replayable: the oracle unrolls coarse Lloyd, per-component
    residuals, per-subspace residual Lloyd, and scores by the identical
    q·c + Σₛ q_s·r̂ₛ decomposition."""
    if n_centroids is None:  # √N default, counted pre-fan_out (no exchange)
        n_centroids = ivf_auto_centroids(corpus)
    c = fan_out(corpus, CPU_HEAVY).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    # ONE pin shared by BOTH trainers (r16, guide §1.2): the coarse and
    # residual-PQ trainers derive the identical (neighbor_id, cvec) plan,
    # so pinning it here lets pq_train_codebooks' CacheManager lookup hit
    # this cache instead of re-scanning + re-fanning-out the corpus to
    # build a second identical one. Released before returning (the
    # returned frame is lazy; the encode pass re-reads the files once at
    # action time, exactly as before) — same no-lingering-cache
    # discipline as the trainers' own pins.
    own_pin = False
    if lloyd_iters > 0:
        lvl = c.storageLevel
        if not (lvl.useMemory or lvl.useDisk):
            c = c.persist()
            own_pin = True
    try:
        coarse = _train_centroids(c, n_centroids, lloyd_iters)
        coarse_rows = [(r["cid"], list(r["cent"])) for r in _collect_rows(coarse)]
        cb_df = pq_train_codebooks(
            corpus, dim, m=m, k_sub=k_sub, lloyd_iters=lloyd_iters,
            id_col=id_col, vec_col=vec_col, metric="l2", coarse=coarse_rows,
        )
        cb = _pq_codebook_rows(cb_df)
    finally:
        if own_pin:
            c.unpersist()
    spark = corpus.sparkSession
    if not cb or not coarse_rows:
        # empty training corpus → empty coarse/codebook tables; mirror
        # _pq_adc_topk's typed short-circuit instead of dividing by a
        # zero subspace count in _res_densq_frame
        qt = queries.schema[query_id_col].dataType.simpleString()
        return literal_frame(spark, 
            [], f"{query_id_col} {qt}, neighbor_id long, cos double, rank int"
        )
    coded = pq_encode_res(
        corpus, cb_df, dim, coarse_rows, id_col=id_col, vec_col=vec_col
    )
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("qvec")
    )
    # Collect the (queries × n_probe)-bounded probe set ONCE and rebuild
    # it as a literal frame (the ivfpq_search_index serving pattern, r16):
    # as a lazy plan it fed TWO broadcast subtrees (probes_qc and the
    # qlut input), each re-running the crossJoin + window ranking, plus a
    # dropDuplicates Exchange — now one bounded job, zero re-computation.
    probes_plan = _ivfpq_probes(q, coarse, n_probe, query_id_col)
    probe_rows = probes_plan.collect()
    probes = literal_frame(spark, probe_rows, probes_plan.schema)
    # q·c per probe: the numerator's coarse term, evaluated once per
    # (query, probed list) on the tiny probes frame
    probes_qc = probes.join(F.broadcast(coarse), on="cid").select(
        query_id_col, "cid", dot(F.col("qvec"), F.col("cent")).alias("_qc")
    )
    # Driver-side per-query dedup of the LUT input (the serve paths'
    # r15 plan-diet move — same rows, no Exchange + SortAggregate pair).
    uniq = list({_nan_safe_key(r[query_id_col]): r for r in probe_rows}.values())
    qframe = literal_frame(spark, 
        [(r[query_id_col], r["qvec"]) for r in uniq],
        probes_plan.select(query_id_col, "qvec").schema,
    )
    qlut = _pq_qlut(qframe, cb, dim, query_id_col)
    densq, subs = _res_densq_frame(spark, coarse_rows, cb, dim)
    scored = (
        coded.join(F.broadcast(probes_qc), on="cid")
        .join(F.broadcast(qlut), on=query_id_col)
        .join(F.broadcast(densq), on="cid")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id", _res_adc_cos(subs).alias("cos"))
    )
    return _topk_per_query(scored, query_id_col, "cos", k)


def ivfpq_res_probe_curve(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    probe_levels: tuple = (1, 2, 4, 8),
    n_centroids: "int | None" = None,
    m: int = 4,
    k_sub: int = 16,
    k: int = 5,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """The serving-parameter tuning curve: recall@k of the residual
    IVFADC index against exact brute force at EVERY probe level in one
    pass — ``(n_probe, query_id, hits, recall)``. n_probe is THE
    quality-vs-cost dial of IVF serving (scan cost ∝ probed lists); this
    emits the curve an operator reads before pinning it.

    One training + one encode + ONE scoring pass serve all levels: every
    candidate within max(probe_levels) lists is ADC-scored once, tagged
    with its list's probe rank, then each level ranks the prefix
    ``probe_rank ≤ level`` (candidates×levels rows — the per-(level,
    query) window is an EVAL over a query sample, hash-partitioned by
    (level, query)). Deterministic end to end, so the SQL oracle replays
    the whole curve and the recall fractions hash-certify."""
    if n_centroids is None:  # √N default, counted pre-fan_out (no exchange)
        n_centroids = ivf_auto_centroids(corpus)
    c = fan_out(corpus, CPU_HEAVY).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    max_probe = max(probe_levels)
    coarse = _train_centroids(c, n_centroids, lloyd_iters)
    coarse_rows = [(r["cid"], list(r["cent"])) for r in _collect_rows(coarse)]
    cb_df = pq_train_codebooks(
        corpus, dim, m=m, k_sub=k_sub, lloyd_iters=lloyd_iters,
        id_col=id_col, vec_col=vec_col, metric="l2", coarse=coarse_rows,
    )
    cb = _pq_codebook_rows(cb_df)
    spark = corpus.sparkSession
    if not cb or not coarse_rows:
        qt = queries.schema[query_id_col].dataType.simpleString()
        return literal_frame(spark, 
            [], f"n_probe int, {query_id_col} {qt}, hits int, recall double"
        )
    coded = pq_encode_res(
        corpus, cb_df, dim, coarse_rows, id_col=id_col, vec_col=vec_col
    )
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("qvec")
    )
    # probe RANK per (query, list), kept through scoring so every level's
    # candidate set is a prefix filter — one ranking of the centroids,
    # not one per level
    qc = q.crossJoin(F.broadcast(coarse)).select(
        query_id_col, "qvec", "cid",
        cosine(F.col("qvec"), F.col("cent")).alias("_cc"),
    )
    wq = Window.partitionBy(query_id_col).orderBy(F.desc("_cc"), F.asc("cid"))
    probes = (
        qc.withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= max_probe)
        .select(query_id_col, "qvec", "cid", "_pr")
    )
    probes_qc = probes.join(F.broadcast(coarse), on="cid").select(
        query_id_col, "cid", "_pr", dot(F.col("qvec"), F.col("cent")).alias("_qc")
    )
    qlut = _pq_qlut(
        probes.select(query_id_col, "qvec").dropDuplicates([query_id_col]),
        cb, dim, query_id_col,
    )
    densq, subs = _res_densq_frame(spark, coarse_rows, cb, dim)
    scored = (
        coded.join(F.broadcast(probes_qc), on="cid")
        .join(F.broadcast(qlut), on=query_id_col)
        .join(F.broadcast(densq), on="cid")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id", "_pr", _res_adc_cos(subs).alias("cos"))
    )
    levels = literal_frame(spark, 
        [(int(p),) for p in sorted(probe_levels)], "n_probe int"
    )
    wlq = Window.partitionBy("n_probe", query_id_col).orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    topk = (
        scored.crossJoin(F.broadcast(levels))
        .filter(F.col("_pr") <= F.col("n_probe"))
        .withColumn("_r", F.row_number().over(wlq))
        .filter(F.col("_r") <= k)
        .select("n_probe", query_id_col, "neighbor_id")
    )
    bf = brute_force_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
                          query_id_col=query_id_col)
    hits = (
        topk.join(bf.select(query_id_col, "neighbor_id"), [query_id_col, "neighbor_id"])
        .groupBy("n_probe", query_id_col)
        .agg(F.count("*").alias("_h"))
    )
    grid = levels.crossJoin(q.select(query_id_col).distinct())
    return grid.join(hits, ["n_probe", query_id_col], "left").select(
        "n_probe",
        query_id_col,
        F.coalesce(F.col("_h"), F.lit(0)).cast("int").alias("hits"),
        (F.coalesce(F.col("_h"), F.lit(0)) / F.lit(k)).alias("recall"),
    )


def ivfpq_res_build_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    n_centroids: "int | None" = None,
    m: int = 4,
    k_sub: int = 16,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_cols: "Sequence[str] | None" = None,
) -> None:
    """Persist the IVFADC layout (``meta_cols`` → filtered serving via
    ``ivfpq_res_search_index(where=...)``, one build-time meta join like
    ivf_build_index): ``{path}/codes`` = (neighbor_id,
    codes) of RESIDUAL encodings written ``partitionBy("cid")``, plus
    the two tiny tables ``{path}/coarse`` and ``{path}/codebooks``
    (residual codebooks, L2-trained). The reconstructed-norm table is
    NOT stored — search derives it driver-side from the two literal
    tables in O(n_centroids·m·k_sub) floats. Same build/serve split as
    ``ivfpq_build_index``."""
    if n_centroids is None:  # √N default, counted pre-fan_out (no exchange)
        n_centroids = ivf_auto_centroids(corpus)
    c = fan_out(corpus, CPU_HEAVY).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    coarse = _train_centroids(c, n_centroids, lloyd_iters)
    coarse_rows = [(r["cid"], list(r["cent"])) for r in _collect_rows(coarse)]
    cb_df = pq_train_codebooks(
        corpus, dim, m=m, k_sub=k_sub, lloyd_iters=lloyd_iters,
        id_col=id_col, vec_col=vec_col, metric="l2", coarse=coarse_rows,
    )
    coded = pq_encode_res(
        corpus, cb_df, dim, coarse_rows, id_col=id_col, vec_col=vec_col
    )
    if meta_cols:
        coded = coded.join(
            corpus.select(F.col(id_col).alias("neighbor_id"), *meta_cols),
            on="neighbor_id",
        )
    coded.write.partitionBy("cid").mode("overwrite").parquet(f"{path}/codes")
    coarse.write.mode("overwrite").parquet(f"{path}/coarse")
    cb_df.write.mode("overwrite").parquet(f"{path}/codebooks")


def ivfpq_res_append_index(
    new_vectors: DataFrame,
    path: str,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_cols: "Sequence[str] | None" = None,
) -> None:
    """Append to a stored IVFADC index WITHOUT retraining: frozen coarse
    centroids assign, residuals against them encode under the frozen
    residual codebooks, codes append to the ``cid=`` partitions — the
    ``ivfpq_append_index`` trade, residual flavor (and its ``meta_cols``
    contract: must match the build's on a meta-built layout)."""
    spark = new_vectors.sparkSession
    coarse = spark.read.parquet(f"{path}/coarse")
    cb_df = spark.read.parquet(f"{path}/codebooks")
    coarse_rows = [(r["cid"], list(r["cent"])) for r in coarse.collect()]
    coded = pq_encode_res(
        new_vectors, cb_df, dim, coarse_rows, id_col=id_col, vec_col=vec_col
    )
    meta = (
        new_vectors.select(F.col(id_col).alias("neighbor_id"), *meta_cols)
        if meta_cols
        else None
    )
    _check_append_meta(
        spark.read.parquet(f"{path}/codes"),
        meta,
        meta_cols,
        _PQ_BASE_COLS,
        "ivfpq_res_append_index",
    )
    if meta is not None:
        coded = coded.join(meta, on="neighbor_id")
    from ..streaming.txn import writer_lock

    with writer_lock(path, "ivfpq_res_append_index"):
        coded.write.partitionBy("cid").mode("append").parquet(f"{path}/codes")


def ivfpq_res_search_index(
    spark,
    path: str,
    queries: DataFrame,
    dim: int,
    n_probe: int = 4,
    k: int = 5,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    where: "str | None" = None,
) -> DataFrame:
    """Probe a stored IVFADC index: partition-pruned ``cid IN (...)``
    scan of the residual code lists, scored by the residual-ADC cosine
    (q·c per probe + residual LUT + the driver-derived reconstructed-
    norm lookup). Mirrors ``ivfpq_search_index``'s serving-loop
    mechanics (probe rows collected and rebuilt as a literal frame) and
    its ``where`` filtered serving (meta_cols-built index; pre-filter
    semantics, pushed row filter composed with partition pruning)."""
    coarse = read_stored(spark, f"{path}/coarse")
    cb = _pq_codebook_rows(read_stored(spark, f"{path}/codebooks"))
    coarse_rows = [(r["cid"], list(r["cent"])) for r in coarse.collect()]
    if not cb or not coarse_rows:
        # an index built from an empty corpus stores empty tables;
        # serve the same typed empty frame the inline path returns
        qt = queries.schema[query_id_col].dataType.simpleString()
        return literal_frame(spark, 
            [], f"{query_id_col} {qt}, neighbor_id long, cos double, rank int"
        )
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("qvec")
    )
    probes_plan = _ivfpq_probes(q, coarse, n_probe, query_id_col)
    probe_rows = probes_plan.collect()
    probes = literal_frame(spark, probe_rows, probes_plan.schema)
    probe_cids = sorted({r.cid for r in probe_rows})
    probes_qc = probes.join(F.broadcast(coarse), on="cid").select(
        query_id_col, "cid", dot(F.col("qvec"), F.col("cent")).alias("_qc")
    )
    # Driver-side dedup of the per-query vectors — the rows are already
    # collected; see ivfpq_search_index (same exchange-free shape).
    uniq = list({_nan_safe_key(r[query_id_col]): r for r in probe_rows}.values())
    qframe = literal_frame(spark, 
        [(r[query_id_col], r["qvec"]) for r in uniq],
        probes_plan.select(query_id_col, "qvec").schema,
    )
    qlut = _pq_qlut(qframe, cb, dim, query_id_col)
    densq, subs = _res_densq_frame(spark, coarse_rows, cb, dim)
    idx = read_stored(spark, f"{path}/codes").filter(F.col("cid").isin(probe_cids))
    if where is not None:
        idx = idx.filter(F.expr(where))
    scored = (
        idx.join(F.broadcast(probes_qc), on="cid")
        .join(F.broadcast(qlut), on=query_id_col)
        .join(F.broadcast(densq), on="cid")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id", _res_adc_cos(subs).alias("cos"))
    )
    return _topk_per_query(scored, query_id_col, "cos", k)


# ---------------------------------------------------------------------------
# binary sign-hash embeddings: Hamming-distance ANN
# ---------------------------------------------------------------------------

def sign_words(vec: Column, dim: int) -> list[Column]:
    """Pack the sign pattern of a ``dim``-vector into ⌈dim/32⌉ BIGINT
    words (bit i of word w set ⇔ component 32w+i > 0) — 32 bits per word
    keeps every literal and sum inside positive int64 on both engines.
    The extreme of the quantization ladder (float32 → SQ8 → PQ → 1 bit
    per dim): a 64-dim embedding becomes TWO integers, Hamming distance
    becomes two XOR+popcounts, and a 100 TB float corpus shrinks ~256×
    into something a single scan ranks exhaustively."""
    words = []
    for w in range((dim + 31) // 32):
        bits = [
            F.when(
                F.element_at(vec, w * 32 + i + 1) > 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
            for i in range(min(32, dim - w * 32))
        ]
        acc = bits[0]
        for b in bits[1:]:
            acc = acc + b
        words.append(acc.cast("long"))
    return words


def hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exhaustive sign-binary ANN: rank by ``dim − Hamming(sign(q),
    sign(x))`` (agreeing sign bits — for zero-mean embeddings an
    integer, monotone proxy of cosine), ties to the smaller neighbor id.
    All-integer scores, so ranks are exactly engine-portable; the
    corpus-side scan touches only the packed words. Same broadcast-query
    shape as brute_force_topk."""
    v = F.col(vec_col).cast("array<double>")
    cw = sign_words(v, dim)
    c = fan_out(corpus, CPU_HEAVY).select(
        F.col(id_col).alias("neighbor_id"),
        *[w.alias(f"_w{i}") for i, w in enumerate(cw)],
    )
    q = queries.select(
        F.col(query_id_col),
        *[w.alias(f"_q{i}") for i, w in enumerate(sign_words(v, dim))],
    )
    ham = None
    for i in range(len(cw)):
        t = F.bit_count(F.col(f"_w{i}").bitwiseXOR(F.col(f"_q{i}")))
        ham = t if ham is None else ham + t
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "neighbor_id",
            (F.lit(dim) - ham).cast("long").alias("agree"),
        )
    )
    return _topk_per_query(scored, query_id_col, "agree", k, prebatch_prune=True)


def ivf_compact_index(
    spark,
    path: str,
    subdir: str = "corpus",
    target_bytes: int = 128 << 20,
    min_files: int = 2,
) -> dict:
    """Small-files maintenance for an appended stored-index layout — the
    vector-store sibling of ``shards.compact_token_shards``: every
    ``*_append_index`` call adds one-or-more small parquet files to each
    touched ``cid=`` directory, and after thousands of shard appends a
    probe pays a metadata storm per list it reads. Compacts every list
    directory holding ≥ ``min_files`` files down to
    ⌈bytes/target_bytes⌉ files.

    Works on all three layouts: ``subdir="corpus"`` (flat IVF) or
    ``subdir="codes"`` (IVF-PQ / IVFADC — their list rows are just
    different columns; the compaction is column-agnostic).

    Safety (the compact_token_shards discipline): compacted lists are
    written to a scratch root and VERIFIED per cid — row count plus an
    order-insensitive xxhash64 column checksum — against the source
    BEFORE any source directory is touched; on any mismatch the scratch
    is deleted and the layout is left exactly as found. The per-cid dir
    swap assumes the offline single-writer maintenance window every
    rewrite op here assumes (``ivf_recenter_index`` likewise). Returns
    ``{lists_compacted, files_before, files_after, rows}``."""
    import os

    return compact_partitioned_layout(
        spark,
        os.path.join(path, subdir),
        part_col="cid",
        target_bytes=target_bytes,
        min_files=min_files,
    )


def compact_partitioned_layout(
    spark,
    root: str,
    part_col: str = "cid",
    target_bytes: int = 128 << 20,
    min_files: int = 2,
    lock_root: "str | None" = None,
) -> dict:
    """The partition-column-agnostic compaction body behind
    ``ivf_compact_index`` (and ``retrieval.bm25_compact_index``, whose
    postings partition by ``bucket=`` instead of ``cid=``): same
    scratch-write → per-partition row-count + order-insensitive xxhash64
    fingerprint verification → per-directory swap discipline; the
    ``lists_compacted`` key counts partition directories whatever the
    column is named.

    ``lock_root`` is where the single-writer ``_WRITER_LOCK`` is taken
    (VERDICT r14 #5) — the INDEX root, default ``dirname(root)``, so a
    compaction of ``{index}/corpus`` or ``{index}/postings`` excludes
    the appenders/recenterers that lock ``{index}`` itself."""
    import math
    import os
    import shutil

    from pyspark.sql import DataFrame

    from ..streaming.txn import writer_lock

    with writer_lock(
        lock_root or os.path.dirname(os.path.abspath(root)),
        "compact_partitioned_layout",
    ):
        return _compact_partitioned_locked(
            spark, root, part_col, target_bytes, min_files
        )


def _compact_partitioned_locked(
    spark,
    root: str,
    part_col: str,
    target_bytes: int,
    min_files: int,
) -> dict:
    import math
    import os
    import shutil

    from pyspark.sql import DataFrame

    prefix = f"{part_col}="

    def pq_files(d: str) -> list[str]:
        return [
            os.path.join(dp, f)
            for dp, _dn, fns in os.walk(d)
            for f in fns
            if f.endswith(".parquet")
        ]

    eligible = []
    for d in os.listdir(root):
        full = os.path.join(root, d)
        if d.startswith(prefix) and os.path.isdir(full):
            files = pq_files(full)
            if len(files) >= min_files:
                eligible.append((int(d.split("=", 1)[1]), full, files))
    if not eligible:
        return {"lists_compacted": 0, "files_before": 0, "files_after": 0, "rows": 0}

    def per_cid_fingerprint(df: DataFrame):
        cols = sorted(c for c in df.columns if c != part_col)
        return {
            (r[part_col]): (r["n"], r["s"])
            for r in df.select(
                part_col, F.xxhash64(*[F.col(c) for c in cols]).alias("_h")
            )
            .groupBy(part_col)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("_h").cast("decimal(38,0)")).alias("s"),
            )
            .collect()
        }

    src = spark.read.option("basePath", root).parquet(*[p for _c, p, _f in eligible])
    want = per_cid_fingerprint(src)
    # Lists whose files hold zero rows have nothing to rewrite (they are
    # absent from both fingerprints AND from the scratch output — swapping
    # them would delete the list directory); drop them up front.
    eligible = [e for e in eligible if e[0] in want]
    if not eligible:
        return {"lists_compacted": 0, "files_before": 0, "files_after": 0, "rows": 0}
    # Per-LIST split counts, not a global repartition(part_col): hashing by
    # the partition column alone sends every row of a list to ONE partition,
    # so each partition dir is rewritten as exactly one file and a multi-GB
    # hot list becomes a single giant file. Instead each list gets
    # ⌈list_bytes/target_bytes⌉ salt buckets (broadcast-joined — the list
    # count is centroid/bucket-bounded), and maxRecordsPerFile backstops the
    # size cap even where salts collide into one task.
    bytes_by_cid = {
        cid: sum(os.path.getsize(f) for f in fs) for cid, _p, fs in eligible
    }
    total_bytes = sum(bytes_by_cid.values())
    total_rows = sum(n for n, _s in want.values())
    avg_row_bytes = max(1, total_bytes // max(1, total_rows))
    records_per_file = max(1, target_bytes // avg_row_bytes)
    splits = literal_frame(spark, 
        [(cid, max(1, math.ceil(b / max(1, target_bytes)))) for cid, b in bytes_by_cid.items()],
        f"{part_col} long, _nsplit int",
    )
    n_out = sum(max(1, math.ceil(b / max(1, target_bytes))) for b in bytes_by_cid.values())
    data_cols = sorted(c for c in src.columns if c != part_col)
    salted = (
        src.join(F.broadcast(splits), on=part_col)
        .withColumn("_salt", F.pmod(F.xxhash64(*[F.col(c) for c in data_cols]), F.col("_nsplit")))
    )
    scratch = os.path.join(os.path.dirname(root), f"_{os.path.basename(root)}_compact_tmp")
    shutil.rmtree(scratch, ignore_errors=True)
    (
        salted.repartition(n_out, part_col, "_salt")
        .drop("_nsplit", "_salt")
        .write.option("maxRecordsPerFile", records_per_file)
        .partitionBy(part_col)
        .mode("overwrite")
        .parquet(scratch)
    )
    got = per_cid_fingerprint(spark.read.parquet(scratch))
    if got != want:
        shutil.rmtree(scratch, ignore_errors=True)
        raise RuntimeError(
            "compact_partitioned_layout: compacted lists failed row-identity "
            "verification; layout left untouched"
        )
    files_before = sum(len(fs) for _c, _p, fs in eligible)
    files_after = 0
    for cid, old_dir, _fs in eligible:
        new_dir = os.path.join(scratch, f"{part_col}={cid}")
        if not os.path.isdir(new_dir):  # pragma: no cover - defense in depth
            raise RuntimeError(
                f"compact_partitioned_layout: scratch dir for {part_col}={cid} "
                "missing after verification; aborting swap (source lists "
                "untouched so far)"
            )
        # Rename the source aside and delete it only AFTER the move lands,
        # so a failed move never loses the list directory.
        aside = old_dir + "._old"
        shutil.rmtree(aside, ignore_errors=True)
        os.rename(old_dir, aside)
        shutil.move(new_dir, old_dir)
        shutil.rmtree(aside)
        files_after += len(pq_files(old_dir))
    shutil.rmtree(scratch, ignore_errors=True)
    rows = int(sum(n for n, _s in want.values()))
    return {
        "lists_compacted": len(eligible),
        "files_before": files_before,
        "files_after": files_after,
        "rows": rows,
    }


def compact_flat_layout(
    spark,
    root: str,
    target_bytes: int = 128 << 20,
    min_files: int = 2,
    lock_root: "str | None" = None,
) -> dict:
    """The UNPARTITIONED sibling of :func:`compact_partitioned_layout`
    (VERDICT r13 #6 / r14 #3): merge a flat parquet directory's
    append-accreted small files down to ⌈bytes/target_bytes⌉ — the
    ``bm25_build_index`` ``doclens`` table is the motivating case
    (thousands of streamed appends each add a file; it sits off the
    serving path but corpus reporting pays the listing storm). Same
    safety discipline: the compacted copy is written to a scratch dir
    and VERIFIED (row count + order-insensitive xxhash64 over every
    column) against the source BEFORE the source is touched; the swap is
    rename-aside (source survives any failed move); the writer lock is
    taken at ``lock_root`` (default ``dirname(root)`` — the index root)
    so it excludes the appenders. Returns ``{files_before, files_after,
    rows}`` (``files_after == files_before`` means nothing to do)."""
    import os

    from ..streaming.txn import writer_lock

    with writer_lock(
        lock_root or os.path.dirname(os.path.abspath(root)), "compact_flat_layout"
    ):
        return _compact_flat_locked(spark, root, target_bytes, min_files)


def _compact_flat_locked(spark, root: str, target_bytes: int, min_files: int) -> dict:
    import math
    import os
    import shutil

    files = [
        os.path.join(dp, f)
        for dp, _dn, fns in os.walk(root)
        for f in fns
        if f.endswith(".parquet")
    ]
    if len(files) < min_files:
        return {"files_before": len(files), "files_after": len(files), "rows": 0}
    src = spark.read.parquet(root)
    cols = sorted(src.columns)

    def fingerprint(df):
        r = df.select(F.xxhash64(*[F.col(c) for c in cols]).alias("_h")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("_h").cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        return (r["n"], r["s"])

    want = fingerprint(src)
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total_bytes / max(1, target_bytes)))
    scratch = os.path.join(
        os.path.dirname(os.path.abspath(root)),
        f"_{os.path.basename(root)}_compact_tmp",
    )
    shutil.rmtree(scratch, ignore_errors=True)
    # full-shuffle repartition, not coalesce: even-sized output files at
    # any scale (coalesce concatenates input partitions and inherits
    # their skew), and the table being compacted is the job's whole input
    src.repartition(n_out).write.mode("overwrite").parquet(scratch)
    if fingerprint(spark.read.parquet(scratch)) != want:
        shutil.rmtree(scratch, ignore_errors=True)
        raise RuntimeError(
            "compact_flat_layout: compacted copy failed row-identity "
            "verification; layout left untouched"
        )
    aside = root + "._old"
    shutil.rmtree(aside, ignore_errors=True)
    os.rename(root, aside)
    os.rename(scratch, root)
    shutil.rmtree(aside)
    files_after = sum(
        1 for _dp, _dn, fns in os.walk(root) for f in fns if f.endswith(".parquet")
    )
    return {
        "files_before": len(files),
        "files_after": files_after,
        "rows": int(want[0]),
    }
