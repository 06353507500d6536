"""Partition-count-independent grouped ranking (two-phase order statistics).

The scale trap this module exists for: ``Window.partitionBy(g).orderBy(k)``
parallelizes by GROUP — with 5 event types (or ~20 sources) the sort of N
rows runs in 5 tasks no matter how many executors the cluster has; at 100×
data each task sorts N/5 rows alone. The fix is the classic two-phase
distributed order-statistics pattern already used for the GLOBAL case in
``workloads/misc_q.customer_spend_quartiles``; this generalizes it
per-group:

  1. ``repartitionByRange`` on (group…, order…) — each task holds a
     contiguous slice of the composite key space; parallelism is the
     PARTITION count, not the group count.
  2. per-(task, group) ``row_number`` — each window is at most one task's
     slice of one group, so every sort is partition-sized.
  3. per-group rank = shard offset + local row number. Offsets come from a
     per-(partition, group) count: groups are contiguous under range
     partitioning, so that table has at most n_partitions + n_groups − 1
     rows — bounded by cluster size + group count, never by data volume.
     It is collected driver-side (documented bounded collect, same family
     as ``customer_spend_quartiles``) and broadcast back.

Use when n_groups ≪ cores (the parallelism-collapse case). When groups are
plentiful — high-cardinality keys, groups ≫ cores — the plain per-group
window is already parallel and cheaper; keep it there.
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..util import (
    literal_frame,
    max_leaf_size_bytes,
    persist_once,
    plan_has_python_eval,
    plan_size_bytes,
)


# Guard for the offset-table collect: n_partitions + n_groups − 1 rows is
# "bounded" only while groups are few. A high-cardinality group key (urls,
# users) would silently stream millions of rows to the driver — fail loudly
# with the fix (the plain per-group window IS the right plan there).
MAX_OFFSET_ROWS = 1_000_000

# Target bytes per range partition when the caller does not pin a count:
# partitions sized for the sort work, not the core count (guide §2.2 —
# "fewer, larger reduce partitions"). The count is clamped UP to at most
# defaultParallelism, so at scale (estimate ≫ cores × target) behavior is
# exactly the old cores-wide shuffle; only provably-small inputs get
# fewer tasks. Ranks are partition-count-independent by construction
# (two-phase offsets), so this is pure cost, never semantics.
RANK_BYTES_PER_PART = 64 * 1024 * 1024

# Below this Catalyst size estimate the whole two-phase apparatus (range
# exchange + persist + offsets-collect job + broadcast join) costs more
# than the problem: a provably-small frame ranks in ONE plain window pass
# (one hash exchange, no extra action, no pin). Identical ranks — the
# caller-required total order makes row_number agree between the two
# formulations (r15 route gate; the _topk_per_query many-groups flip and
# the expr-vs-Arrow twin gates are the precedent). A misestimate only
# costs sort spill in a wide-ish window task, never correctness, and at
# corpus scale every estimate is far above the gate. Read at call time,
# so the plan-shape tests pin the at-scale route with a negative value.
RANK_WINDOW_MAX_BYTES = 32 * 1024 * 1024


def grouped_rank(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column | str],
    rank_col: str = "_r",
    count_col: str = "_n",
    num_partitions: int | None = None,
) -> DataFrame:
    """Return ``df`` plus per-group 1-based ``rank_col`` (row_number under
    ``order_cols`` within each ``group_cols`` group) and per-group size
    ``count_col`` — bit-identical to the naive
    ``row_number().over(Window.partitionBy(group).orderBy(order))`` +
    ``count().over(Window.partitionBy(group))`` pair, but with every stage
    parallel at any (data ÷ group-count) ratio.

    ``order_cols`` must define a TOTAL order within each group for the rank
    to be deterministic (ties that straddle a range boundary are numbered
    arbitrarily, exactly like window row_number ties).

    The persist of the range-partitioned input is LOAD-BEARING for
    correctness, not a cache optimization: the offset-table collect and
    the final rank join are two separate ACTIONS over the same frame, and
    ``repartitionByRange`` picks its partition bounds by sampling with a
    seed derived from the physical RDD id — which differs per action. An
    unpersisted frame can therefore land rows in DIFFERENT partitions in
    the two jobs, misaligning offsets against local row numbers
    (measured: 1.28M of 2M ranks wrong on a 37-partition input without
    the persist; cached blocks pin the partitioning, and even an evicted
    block recomputes inside the same RDD graph → same seed → same
    bounds). The memory cost of caching a corpus-sized frame is the price
    of that pin; at true corpus scale, prune candidates FIRST (LSH/IVF
    buckets, BM25 postings) so the ranked frame is candidates-sized —
    which is the documented scale path everywhere this is used.
    """
    spark = df.sparkSession
    order_exprs_gate = [F.asc(c) if isinstance(c, str) else c for c in order_cols]
    nparts = num_partitions
    if nparts is None:
        dp = spark.sparkContext.defaultParallelism
        est = plan_size_bytes(df)
        # The small-frame gate reads the MAX-LEAF estimate, not the plan
        # estimate: rank inputs routinely join a driver-literal query
        # frame (LogicalRDD, unknown stats → Long.MaxValue), and join
        # stats multiply — the honest corpus-scale signal is the biggest
        # file leaf (see util.max_leaf_size_bytes). Explode fanout can
        # make the true frame some multiple of the leaf bytes; the gate
        # has that headroom (a miss costs sort spill in a window task,
        # never correctness).
        leaf_est = max_leaf_size_bytes(df)
        if leaf_est is not None and leaf_est <= RANK_WINDOW_MAX_BYTES:
            # Small-frame route (see RANK_WINDOW_MAX_BYTES): one window
            # pass, bit-identical (rank cast to long to keep the
            # two-phase schema: _off + row_number is BIGINT there).
            # A Python-eval child still gets pinned: the two-phase path's
            # persist doubled as the DEVNOTES #3 recompute guard (Arrow
            # subplans execute once PER CONSUMER), and a gate-sized frame
            # makes the pin near-free.
            if plan_has_python_eval(df):
                df = persist_once(df)
            wc = Window.partitionBy(*group_cols)
            w = wc.orderBy(*order_exprs_gate)
            return df.withColumn(count_col, F.count(F.lit(1)).over(wc)).withColumn(
                rank_col, F.row_number().over(w).cast("long")
            )
        # floor 2, not 1: a provably-tiny frame still avoids the
        # Exchange SinglePartition shape the plan guard (and scale
        # hygiene) forbids, at the cost of one extra near-empty task
        nparts = (
            dp if est is None
            else max(2, min(dp, -(-est // RANK_BYTES_PER_PART)))
        )
    order_exprs = order_exprs_gate
    sort_exprs = [F.asc(c) for c in group_cols] + order_exprs
    # Pin the INPUT (released below) when it contains a Python-eval stage:
    # a range exchange executes its child TWICE — once for the range-bounds
    # sampling job, once for the real shuffle map — so an unpinned Arrow
    # scorer pays its whole serialize→Python→deserialize cost twice per
    # ranking (guide §1.2/§4; measured r15: semantic_dedup_fast 9.6→3.6 s
    # from this pin alone). For pure-JVM children the trade INVERTS: the
    # recompute is a codegen pass at scan speed, while the pin writes a
    # corpus-sized frame through the block manager — measured r15 as a
    # ~25% REGRESSION on ccnet_lm_buckets — so those keep the recompute.
    # Track whether WE created the pin so a caller's own persist is never
    # released here.
    input_was_cached = df.storageLevel.useMemory or df.storageLevel.useDisk
    own_pin = not input_was_cached and plan_has_python_eval(df)
    if own_pin:
        df = df.persist()
    ranged = persist_once(
        df.repartitionByRange(nparts, *sort_exprs).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    # Bounded collect: ≤ nparts + n_groups − 1 rows (group-contiguity under
    # range partitioning), never data-sized — enforced by the limit probe:
    # getting MAX_OFFSET_ROWS + 1 rows back means the group key is
    # high-cardinality and the collect would have been driver-sized.
    counts = (
        ranged.groupBy("_pid", *group_cols)
        .agg(F.count(F.lit(1)).alias("_c"))
        .limit(MAX_OFFSET_ROWS + 1)
        .collect()
    )
    # The offsets collect above fully materialized the ``ranged`` cache
    # (and its shuffle files), so the input pin has served its purpose —
    # release it (a caller's own persist is never released here). A later
    # eviction of a ranged block recomputes from the retained shuffle
    # output, not the child.
    if own_pin:
        df.unpersist()
    if len(counts) > MAX_OFFSET_ROWS:
        raise ValueError(
            f"grouped_rank: offset table exceeds {MAX_OFFSET_ROWS} rows — the "
            "group key is high-cardinality, so the plain per-group window is "
            "already parallel and the right plan; use it instead of grouped_rank"
        )
    per_group: dict[tuple, list[tuple[int, int]]] = defaultdict(list)
    for r in counts:
        per_group[tuple(r[g] for g in group_cols)].append((r["_pid"], r["_c"]))
    rows = []
    for key, shards in per_group.items():
        shards.sort()  # range partitions are ordered by pid
        total = sum(c for _, c in shards)
        acc = 0
        for pid, c in shards:
            rows.append((pid, *key, acc, total))
            acc += c
    schema = StructType(
        [StructField("_pid", IntegerType(), False)]
        + [df.schema[g] for g in group_cols]
        + [StructField("_off", LongType(), False), StructField(count_col, LongType(), False)]
    )
    off_df = literal_frame(spark, rows, schema)
    # Null-safe equality on the group keys: a NULL group is a real group to
    # window semantics, and a plain equi-join would silently drop its rows.
    cond = ranged["_pid"] == off_df["_pid"]
    for g in group_cols:
        cond = cond & ranged[g].eqNullSafe(off_df[g])
    joined = ranged.join(F.broadcast(off_df), cond).drop(
        off_df["_pid"], *[off_df[g] for g in group_cols]
    )
    lw = Window.partitionBy("_pid", *group_cols).orderBy(*order_exprs)
    return (
        joined.withColumn(rank_col, F.col("_off") + F.row_number().over(lw))
        .drop("_pid", "_off")
    )


def grouped_median(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    tiebreak_cols: Sequence[str] = (),
    out_col: str = "median",
    count_col: str = "n",
) -> DataFrame:
    """Exact lower median of ``value_col`` per group — the row at rank
    (n+1)//2 under (value, tiebreaks) — via the two-phase ``grouped_rank``
    (partition-count-independent). Pure rank arithmetic: no percentile
    interpolation, so the result is engine-exact for integer inputs."""
    order = [F.asc(value_col)] + [F.asc(t) for t in tiebreak_cols]
    ranked = grouped_rank(df, group_cols, order)
    return ranked.filter(F.expr("_r = (_n + 1) div 2")).select(
        *group_cols, F.col(value_col).alias(out_col), F.col("_n").alias(count_col)
    )


def grouped_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    quantiles_pct: Sequence[int] = (25, 50, 75),
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact per-group quantiles at the given integer percents, ALL from
    ONE two-phase ranking pass (vs one pass per quantile): the rank picked
    for percent q is the nearest-rank ``((n−1)·q) div 100 + 1`` — pure
    integer arithmetic, deterministic on every engine. Returns one row per
    (group, q): (group…, q_pct, value, n)."""
    order = [F.asc(value_col)] + [F.asc(t) for t in tiebreak_cols]
    ranked = grouped_rank(df, group_cols, order)
    # ONE pass, literally: a union of per-quantile filters would re-run
    # the window sort once per branch (only the exchange is reused) — so
    # collect each row's matched percents into an array and explode it;
    # a row matches ≥2 quantiles only in tiny groups.
    matched = F.filter(
        F.array(
            *[
                F.when(
                    F.expr(f"_r = ((_n - 1) * {q}) div 100 + 1"), F.lit(int(q))
                )
                for q in quantiles_pct
            ]
        ),
        lambda x: x.isNotNull(),  # not array_compact — that's 3.4+-only
    )
    return (
        ranked.select(*group_cols, value_col, "_n", matched.alias("_qs"))
        .filter(F.size("_qs") > 0)
        .select(
            *group_cols,
            F.explode("_qs").alias("q_pct"),  # elements are int literals
            F.col(value_col).alias("value"),
            F.col("_n").alias("n"),
        )
    )
