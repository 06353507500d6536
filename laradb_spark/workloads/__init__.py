"""Workload registry: every implemented query/operator from SURVEY.md §2
as a (spark_fn, oracle_sql) pair.

``spark_fn(spark, sf_dir) -> DataFrame`` builds the engine's plan;
``oracle_sql`` is the ANSI-SQL equivalent DuckDB runs on the same parquet
(views: region nation customer supplier part orders lineitem events
documents embeddings). ``oracle_sql=None`` marks genuinely
non-SQL-expressible ops (driver records a rows-only check).

Column-name and value discipline (driver hashes sorted columns):
  * alias every computed column identically on both sides;
  * round doubles (sums→2dp, avgs/ratios→4-6dp) identically on both sides;
  * emit BIGINT counts on both sides (DuckDB: CAST(count/sum AS BIGINT));
  * prefer DATE / epoch-ms BIGINT over raw timestamps (events.ts precision
    and surfaced dtype vary by engine/Spark version — see load_events).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QuerySpec = tuple[Callable[[SparkSession, str], DataFrame], "str | None"]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events plus a derived ``ts_ms`` epoch-millis BIGINT column.

    events.parquet stores ``ts`` as TIMESTAMP(NANOS). How Spark surfaces that
    depends on version: Spark 3.x with ``spark.sql.legacy.parquet.nanosAsLong``
    reads it as epoch-nanos BIGINT; Spark 4.x *silently ignores* that conf and
    reads TIMESTAMP_NTZ (micros, truncated from nanos). Branch on the dtype we
    actually got so both environments yield the same ``ts_ms``:

      * ``bigint``            → ``ts div 1000000`` (floor division — exact for
        the positive epoch range);
      * ``timestamp[_ntz]``   → ``unix_millis(cast(ts as timestamp))``; the
        session timezone is pinned to UTC (``__spark_entry__._configure``), so
        the ntz→ltz cast is the identity and matches DuckDB
        ``epoch_ms(CAST(ts AS TIMESTAMP))``.
    """
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events")
    ts_type = dict(ev.dtypes)["ts"]
    if ts_type == "bigint":
        ts_ms = F.expr("ts div 1000000")
    elif ts_type in ("timestamp", "timestamp_ntz"):
        ts_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    else:  # pragma: no cover - fail loudly on a new surprise, not downstream
        raise TypeError(f"events.ts has unexpected dtype {ts_type!r}")
    return ev.withColumn("ts_ms", ts_ms)


def all_specs() -> dict[str, QuerySpec]:
    from . import (
        advanced_q,
        lara_demos,
        misc_q,
        pipelines_q,
        relational,
        surface_q,
        tpch_more,
        windows_q,
    )

    specs: dict[str, QuerySpec] = {}
    for mod in (relational, lara_demos, windows_q, pipelines_q, advanced_q, surface_q,
                tpch_more, misc_q):
        overlap = specs.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {sorted(overlap)}")
        specs.update(mod.QUERIES)
    return specs
