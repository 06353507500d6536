"""SparkSession factory with scale-oriented defaults.

The reference distributes work via Accumulo tablets + a 15-thread
BatchScanner (reference: api/ExecuteAccumulo.kt:120-149); here Spark's
own scheduler takes that role. These configs are the knobs that matter
at 100 TB: AQE (runtime re-planning, skew-join splitting, partition
coalescing), a broadcast threshold so dimension tables never shuffle,
and Arrow for any Python-side exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Core count for local runs ($SPARK_GRAFT_CPUS, else os.cpu_count)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "laradb-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    Local tests run ``local[N]``; on a real cluster the master comes from
    the environment (spark-submit), so we only set master when none is
    configured. Shuffle partitions default to the local core count —
    on a 1000-executor cluster this must be raised (AQE coalesces down,
    never up from too-few initial partitions).
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        # Runtime re-planning: coalesce small shuffle partitions, split skewed
        # ones, convert sort-merge → broadcast when a side turns out small.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalescing knobs pinned at their defaults DELIBERATELY (r15
        # A/B): parallelismFirst=false + the 64m advisory — the docs'
        # recommendation — was re-measured here and LOST on this harness
        # (min-of-3: token_shard_stats 3.7 vs 3.0 s, bm25_prf_serve_steady
        # 8.5 vs 6.4 s): collapsing KB-sized shuffles to one task
        # serializes multi-stage pipelines for no I/O win. At 100 TB the
        # flag is moot — post-shuffle partitions exceed the advisory size,
        # so AQE sizes by bytes either way.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Dimension tables (region/nation/supplier/part at any SF that fits)
        # should broadcast, never shuffle.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let the planner pick shuffled-hash over sort-merge when the
        # per-partition build side fits (guide §3.1): same rows, no sort.
        # Identical results — join strategy never changes values.
        # SCALE GUARD (VERDICT r15 #3): an SHJ build side cannot spill, so
        # a skewed/misestimated partition OOMs where SMJ would have
        # spilled. tools/audit_plans.py flags every SHJ in every audited
        # plan (PLANS.md lists one, in lang_classifier); the documented
        # OOM fallback is re-enabling SMJ via SPARK_GRAFT_PREFER_SMJ=1
        # below, no code change needed.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            "true" if os.environ.get("SPARK_GRAFT_PREFER_SMJ") == "1" else "false",
        )
        # Stored indexes / compacted layouts: zstd beats snappy at similar
        # read speed (guide §6) — build-time write cost, serving-read win.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Arrow for pandas_udf / mapInPandas / toPandas round-trips.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # DuckDB oracle comparability: timestamps must not be session-TZ-shifted.
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 3.x only: TIMESTAMP(NANOS) parquet reads as epoch-nanos long.
        # Spark 4.x accepts-and-IGNORES this conf (ts arrives as
        # timestamp_ntz) — load_events branches on the actual dtype, and
        # tests/test_env.py pins the behavior.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_MASTER") and "SPARK_CONNECT_MODE_ENABLED" not in os.environ:
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    return builder.getOrCreate()
