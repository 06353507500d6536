"""Remaining relational-surface breadth: unpivot (stack), EXCEPT ALL,
ntile quantile bucketing, date_trunc calendar rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..util import literal_frame, persist_once
from . import load
from .relational import money2, _iscale


# --- unpivot / melt -----------------------------------------------------------

def unpivot_order_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → long: per order, (measure, value) rows via unpivot/stack."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    wide = orders.select(
        "o_orderkey",
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_custkey").cast("double").alias("custkey_d"),
    )
    return wide.unpivot(
        ids=["o_orderkey"],
        values=["totalprice", "custkey_d"],
        variableColumnName="measure",
        valueColumnName="value",
    ).select("o_orderkey", "measure", F.round("value", 2).alias("value"))


UNPIVOT_SQL = """
SELECT o_orderkey, measure, ROUND(value, 2) AS value FROM (
  SELECT o_orderkey, 'totalprice' AS measure, o_totalprice AS value
  FROM orders WHERE o_orderkey < 1000
  UNION ALL
  SELECT o_orderkey, 'custkey_d' AS measure, CAST(o_custkey AS DOUBLE) AS value
  FROM orders WHERE o_orderkey < 1000
)
"""


# --- EXCEPT ALL ----------------------------------------------------------------

def status_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset difference: order statuses of 1997 minus those of 1996 —
    surviving multiplicity preserved (EXCEPT ALL)."""
    orders = load(spark, sf_dir, "orders")
    y97 = orders.filter(F.year("o_orderdate") == 1997).select("o_orderstatus")
    y96 = orders.filter(F.year("o_orderdate") == 1996).select("o_orderstatus")
    return (
        y97.exceptAll(y96)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("surplus"))
    )


EXCEPT_ALL_SQL = """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS surplus FROM (
  SELECT o_orderstatus FROM orders WHERE YEAR(CAST(o_orderdate AS DATE)) = 1997
  EXCEPT ALL
  SELECT o_orderstatus FROM orders WHERE YEAR(CAST(o_orderdate AS DATE)) = 1996
)
GROUP BY o_orderstatus
"""


# --- ntile quantile buckets -----------------------------------------------------

def customer_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global NTILE(4) without a global window.

    ``Window.orderBy(...)`` with no partition key funnels every row through
    ONE task — a scale-killer. Instead: two-phase global ranking (the
    classic distributed order-statistics pattern):

      1. ``repartitionByRange`` on the sort key — each partition holds a
         contiguous key range, sorted ranges across partitions.
      2. per-partition ``row_number`` (parallel; no global exchange).
      3. global rank = partition offset + local row number, where offsets
         come from a tiny per-partition count (#partitions rows collected —
         bounded, never data-sized).
      4. NTILE(k) is a pure function of (rank, n): the first n%k tiles get
         n//k+1 rows, the rest n//k — computed map-side.

    Result is bit-identical to the oracle's NTILE and every stage is
    parallel at any scale.
    """
    orders = load(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(_iscale("o_totalprice", 100)).alias("_cents")
    )
    nparts = spark.sparkContext.defaultParallelism
    # persist pins ONE range partitioning across the sizes collect and
    # the final rank join (DEVNOTES gotcha 15) — do not remove.
    ranged = persist_once(
        spend.repartitionByRange(nparts, F.desc("_cents"), F.asc("o_custkey"))
        .withColumn("_pid", F.spark_partition_id())
    )
    sizes = {
        r["_pid"]: r["cnt"]
        for r in ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    n = sum(sizes.values())
    offsets, acc = [], 0
    for pid in sorted(sizes):
        offsets.append((pid, acc))
        acc += sizes[pid]
    off_df = literal_frame(spark, offsets or [(0, 0)], "_pid int, _off long")

    base, rem = n // 4, n % 4
    lw = Window.partitionBy("_pid").orderBy(F.desc("_cents"), F.asc("o_custkey"))
    rank = (F.col("_off") + F.row_number().over(lw)).alias("_rank")
    ranked = ranged.join(F.broadcast(off_df), "_pid").select("_cents", rank)
    # Exact-int ceil via double division: operands ≤ 2^53, quotient at an
    # integer is exactly representable, so ceil never mis-rounds.
    head = rem * (base + 1)
    tile = (
        F.when(F.col("_rank") <= head, F.ceil(F.col("_rank") / F.lit(float(base + 1))))
        .otherwise(rem + F.ceil((F.col("_rank") - head) / F.lit(float(max(base, 1)))))
        .cast("int")
    )
    return (
        ranked.groupBy(tile.alias("quartile"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money2(F.sum("_cents"), 2).alias("quartile_spend"),
        )
    )


NTILE_SQL = """
WITH spend AS (
  SELECT o_custkey, SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY o_custkey
),
q AS (
  SELECT o_custkey, cents,
         NTILE(4) OVER (ORDER BY cents DESC, o_custkey ASC) AS quartile
  FROM spend
)
SELECT CAST(quartile AS INT) AS quartile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ((2 * SUM(cents) + 1) // 2) / 100.0 AS quartile_spend
FROM q
GROUP BY quartile
"""


# --- calendar rollup (date_trunc) -------------------------------------------------

def monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    rev = _iscale(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10_000)
    return (
        li.groupBy(F.date_trunc("month", "l_shipdate").cast("date").alias("month"))
        .agg(money2(F.sum(rev), 4).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


MONTHLY_SQL = """
SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS month,
       ((2 * SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) + 100) // 200) / 100.0 AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
GROUP BY month
"""


# --- TPC-H Q6: the scan-bound filtered aggregate --------------------------------

def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(money2(F.sum(_iscale(F.col("l_extendedprice") * F.col("l_discount"), 10_000)), 4).alias("revenue"))
    )


Q6_SQL = """
SELECT ((2 * SUM(CAST(ROUND(l_extendedprice * l_discount * 10000) AS BIGINT)) + 100) // 200) / 100.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# --- histogram bucketing ----------------------------------------------------------

HIST_BUCKET = 50_000.0


def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / HIST_BUCKET).cast("long")
    return orders.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


HIST_SQL = f"""
SELECT CAST(FLOOR(o_totalprice / {HIST_BUCKET}) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(o_totalprice), 2) AS lo,
       ROUND(MAX(o_totalprice), 2) AS hi
FROM orders
GROUP BY bucket
"""


# --- GROUPING SETS (finer than CUBE/ROLLUP: an explicit lattice subset) ---------

def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by (status, priority), by (status), and grand total in ONE
    pass — GROUPING SETS, the general form the reference's Merger/union
    algebra covers via repeated MergeAgg; Spark computes all three
    aggregations in a single shuffle (one Expand node feeding one hash
    aggregate — .explain shows Expand, not three scans). GROUPING() flags
    disambiguate real NULLs from subtotal rows.

    ``DataFrame.groupingSets`` is a Spark 4.0+ API; on 3.x the same plan
    comes from the SQL form over a temp view (same Expand node), matching
    the dual-version handling in ``load_events``."""
    orders = load(spark, sf_dir, "orders")
    aggs = [
        F.count(F.lit(1)).alias("n_orders"),
        money2(F.sum(_iscale("o_totalprice", 100)), 2).alias("revenue"),
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
    ]
    if hasattr(orders, "groupingSets"):
        return orders.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        ).agg(*aggs)
    orders.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(1) AS n_orders,
               ((2 * SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) + 1) DIV 2) / 100.0 AS revenue,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ((2 * SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) + 1) // 2) / 100.0 AS revenue,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


# --- calendar heatmap in pure integer arithmetic (engine-exact) -----------------

def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event counts by (day-of-week, hour-of-day) — the usage-heatmap
    rollup. Both axes are integer arithmetic on epoch-millis (epoch day 0
    = Thursday; +4 → 0=Sunday..6=Saturday), NOT calendar functions, so
    Spark and the oracle agree bit-for-bit with no TZ/locale surface."""
    from . import load_events

    ev = load_events(spark, sf_dir)
    day = F.expr("ts_ms div 86400000")
    return (
        ev.groupBy(
            ((day + 4) % 7).cast("int").alias("dow"),
            F.expr("(ts_ms % 86400000) div 3600000").cast("int").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_iscale("value", 100)).alias("_cents"),
        )
        .select("dow", "hour", "n_events", money2(F.col("_cents"), 2).alias("sum_value"))
    )


DOW_HOUR_SQL = """
WITH e AS (SELECT epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, value FROM events)
SELECT CAST((ms // 86400000 + 4) % 7 AS INT) AS dow,
       CAST((ms % 86400000) // 3600000 AS INT) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ((2 * SUM(CAST(ROUND(value * 100) AS BIGINT)) + 1) // 2) / 100.0 AS sum_value
FROM e
GROUP BY dow, hour
"""


# --- exact sample variance in DECIMAL(38) (overflow-safe, engine-exact) --------

def value_variance_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type exact sample variance of value, in cent² integer
    units: var = (n·Σx² − (Σx)²) div (n(n−1)) over DECIMAL(38,0) cents.
    A float var_samp would hash-flake (summation order); DECIMAL(38)
    keeps Σx² exact far past int64 (cents² sums overflow BIGINT around
    10⁹ rows/group — routine at 100 TB), and n·Σx²−(Σx)² ≥ 0 makes
    floor ≡ truncation on both engines. n=1 groups: NULLIF guards the
    n(n−1) denominator on BOTH sides → variance NULL (Spark's non-ANSI
    decimal÷0 would already be NULL, but DuckDB's // would ERROR)."""
    from . import load_events

    ev = load_events(spark, sf_dir)
    cents = F.expr("cast(round(value * 100) as decimal(38,0))")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.sum(cents).alias("_s"),
        F.sum(cents * cents).alias("_ss"),
    )
    return agg.select(
        "event_type",
        F.col("_n").cast("long").alias("n_events"),
        F.expr(
            "cast(floor((_n * _ss - _s * _s) / nullif(_n * (_n - 1), 0)) as bigint)"
        ).alias("var_cents2"),
    )


VARIANCE_SQL = """
WITH a AS (
  SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CAST(ROUND(value * 100) AS HUGEINT)) AS s,
         SUM(CAST(ROUND(value * 100) AS HUGEINT) * CAST(ROUND(value * 100) AS HUGEINT)) AS ss
  FROM events GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_events,
       CAST((n * ss - s * s) // NULLIF(n * (n - 1), 0) AS BIGINT) AS var_cents2
FROM a
"""


# --- top event trigram paths (sequence mining) ----------------------------------

def event_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 3-step event-type paths across all users — the sequence
    pattern summary (extends event_transitions from bigrams): two lead()
    steps over the per-user ordered stream, then a count + distributed
    top-k (TakeOrderedAndProject, no global sort)."""
    from . import load_events

    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts_ms", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    paths = (
        ev.withColumn("_t2", F.lead("event_type", 1).over(w))
        .withColumn("_t3", F.lead("event_type", 2).over(w))
        .filter(F.col("_t3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "_t2", "_t3").alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(20)
    )


TRIGRAM_SQL = """
WITH ev AS (
  SELECT user_id, event_type, event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS tms
  FROM events
),
p AS (
  SELECT event_type || '>' ||
         LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY tms, event_id) || '>' ||
         LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY tms, event_id) AS path,
         LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY tms, event_id) AS t3
  FROM ev
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n
FROM p WHERE t3 IS NOT NULL
GROUP BY path
ORDER BY n DESC, path ASC
LIMIT 20
"""


# --- skew-salted aggregation (driver-oracled equivalence) -----------------------

def salted_lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag lineitem stats THROUGH the salted two-phase
    aggregation (operators/skew.salted_agg): l_returnflag has 3 values —
    the textbook hot-key shape — so the partial phase spreads each flag
    over 16 salt reducers before the 3-row fold. Integer-cents sums keep
    the salted partial-fold order irrelevant, so the oracle is the plain
    GROUP BY — the driver row proves salting is a pure physical rewrite."""
    from ..operators.skew import salted_agg

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        _iscale("l_extendedprice", 100).alias("_cents"),
        F.col("l_quantity").alias("_qty"),
    )
    out = salted_agg(
        li.select(
            "l_returnflag",
            F.col("_cents").alias("sum_cents"),
            F.col("_cents").alias("n_items"),
            F.col("_qty").alias("max_qty"),
        ),
        ["l_returnflag"],
        {"sum_cents": "sum", "n_items": "count", "max_qty": "max"},
    )
    return out.select(
        "l_returnflag",
        money2(F.col("sum_cents"), 2).alias("sum_price"),
        "n_items",
        F.round("max_qty", 2).alias("max_qty"),
    )


SALTED_SQL = """
SELECT l_returnflag,
       ((2 * SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) + 1) // 2) / 100.0 AS sum_price,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(MAX(l_quantity), 2) AS max_qty
FROM lineitem
GROUP BY l_returnflag
"""


# --- exact higher central moments (single pass, overflow-aware) -----------------

def moments_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type exact 2nd/3rd/4th central moments of value (cents) from
    ONE pass of raw power sums — the distributed-moments kernel behind
    skewness/kurtosis monitoring. Everything is DECIMAL(38) integer
    arithmetic (n³·Σx⁴ exceeds int64 by ~10¹⁸): mₖ = central-moment
    numerator div nᵏ, i.e. the exact floored per-row central moment in
    centsᵏ — no float power sums, no engine divergence. DECIMAL(38)
    bounds this at ~10⁶ rows/group × 5·10⁴ cents; larger groups pre-scale
    the units (documented, loud overflow under ANSI — never silent)."""
    from . import load_events

    ev = load_events(spark, sf_dir)
    x = F.expr("cast(round(value * 100) as decimal(38,0))")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.sum(x).alias("_s1"),
        F.sum(x * x).alias("_s2"),
        F.sum(x * x * x).alias("_s3"),
        F.sum(x * x * x * x).alias("_s4"),
    )
    return agg.select(
        "event_type",
        F.col("_n").cast("long").alias("n_events"),
        F.expr("cast((_n * _s2 - _s1 * _s1) div (_n * _n) as bigint)").alias("m2_c2"),
        F.expr(
            "cast((_n * _n * _s3 - 3 * _n * _s1 * _s2 + 2 * _s1 * _s1 * _s1)"
            " div (_n * _n * _n) as bigint)"
        ).alias("m3_c3"),
        F.expr(
            "cast((_n * _n * _n * _s4 - 4 * _n * _n * _s1 * _s3"
            " + 6 * _n * _s1 * _s1 * _s2 - 3 * _s1 * _s1 * _s1 * _s1)"
            " div (_n * _n * _n * _n) as bigint)"
        ).alias("m4_c4"),
    )


MOMENTS_SQL = """
WITH c AS (
  SELECT event_type, CAST(ROUND(value * 100) AS HUGEINT) AS x FROM events
),
a AS (
  SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(x) AS s1, SUM(x * x) AS s2, SUM(x * x * x) AS s3,
         SUM(x * x * x * x) AS s4
  FROM c GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_events,
       CAST((n * s2 - s1 * s1) // (n * n) AS BIGINT) AS m2_c2,
       CAST((n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1) // (n * n * n) AS BIGINT) AS m3_c3,
       CAST((n * n * n * s4 - 4 * n * n * s1 * s3 + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1) // (n * n * n * n) AS BIGINT) AS m4_c4
FROM a
"""


# --- percent-of-total (integer ppm, broadcast scalar denominator) --------------

def revenue_share_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each nation's share of total order revenue in integer ppm — the
    percent-of-total pattern without a global window: the denominator is
    a broadcast one-row aggregate, the division is integral."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(_iscale("o_totalprice", 100)).alias("_cents"))
    )
    total = per.agg(F.sum("_cents").alias("_tot"))
    return per.crossJoin(F.broadcast(total)).select(
        "n_name",
        money2(F.col("_cents"), 2).alias("revenue"),
        F.expr("(1000000 * _cents) div _tot").alias("share_ppm"),
    )


REVENUE_SHARE_SQL = """
WITH per AS (
  SELECT n_name, SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT n_name,
       ((2 * cents + 1) // 2) / 100.0 AS revenue,
       CAST((1000000 * cents) // (SELECT SUM(cents) FROM per) AS BIGINT) AS share_ppm
FROM per
"""


# --- SCD2 dimension merge (warehouse history maintenance) ----------------------

def scd2_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge exercised on a deterministic scenario: history = every
    customer's segment open since day 0; snapshot at day 100 moves every
    7th customer to segment 'MOVED' and drops every 13th customer
    entirely. Unchanged rows stay open, changed/gone rows close, changes
    reopen (operators/scd.py)."""
    from ..operators.scd import scd2_apply

    cust = load(spark, sf_dir, "customer")
    history = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    snapshot = cust.filter(F.col("c_custkey") % 13 != 0).select(
        F.col("c_custkey").alias("k"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit("MOVED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    )
    return scd2_apply(history, snapshot, "k", ["seg"], day=100)


SCD2_SQL = """
WITH open_rows AS (
  SELECT c_custkey AS k, c_mktsegment AS seg FROM customer
),
snap AS (
  SELECT c_custkey AS k,
         CASE WHEN c_custkey % 7 = 0 THEN 'MOVED' ELSE c_mktsegment END AS seg
  FROM customer WHERE c_custkey % 13 <> 0
)
SELECT o.k, o.seg, CAST(0 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to
FROM open_rows o JOIN snap s ON s.k = o.k AND s.seg = o.seg
UNION ALL
SELECT o.k, o.seg, CAST(0 AS BIGINT), CAST(100 AS BIGINT)
FROM open_rows o LEFT JOIN snap s ON s.k = o.k
WHERE s.k IS NULL OR s.seg <> o.seg
UNION ALL
SELECT s.k, s.seg, CAST(100 AS BIGINT), CAST(NULL AS BIGINT)
FROM snap s JOIN open_rows o ON o.k = s.k
WHERE s.seg <> o.seg
"""


# --- exact per-group median (deterministic rank pick, no float percentile) -----

def median_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact lower-median of value per event type: the row at rank
    (n+1)//2 under a TOTAL order (cents, event_id) — rank arithmetic
    only, so engines agree exactly where percentile interpolation would
    float-flake.

    Ranks come from ``operators.ranking.grouped_rank`` (two-phase
    range-partition ranking), NOT ``Window.partitionBy(event_type)``:
    with ~5 event types a per-group window sorts N/5 rows in 5 tasks no
    matter the cluster size — a parallelism collapse at 100×. The
    two-phase plan's sorts are all partition-sized and its only collect
    is the ≤ nparts+groups offset table."""
    from . import load_events
    from ..operators.ranking import grouped_median

    ev = load_events(spark, sf_dir).select(
        "event_type", "event_id", _iscale("value", 100).alias("_cents")
    )
    med = grouped_median(
        ev, ["event_type"], "_cents", tiebreak_cols=["event_id"],
        out_col="_med", count_col="n_events",
    )
    return med.select(
        "event_type", (F.col("_med") / 100.0).alias("median_value"), "n_events"
    )


MEDIAN_SQL = """
WITH ranked AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY CAST(ROUND(value * 100) AS BIGINT), event_id) AS r,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type, cents / 100.0 AS median_value, CAST(n AS BIGINT) AS n_events
FROM ranked WHERE r = (n + 1) // 2
"""


# --- ordered funnel (view → click → purchase, strictly increasing time) --------

def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel counts: users who viewed; of those, whose first
    click FOLLOWS their first view; of those, whose first purchase follows
    that click. Each stage is one type-filtered min-aggregate joined back
    on user_id — three cheap passes over a pruned scan (the filter and the
    two-column projection reach parquet), no window over raw events."""
    from . import load_events

    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts_ms")

    def first_after(event_type: str, prev: DataFrame, prev_col: str, out: str) -> DataFrame:
        t = ev.filter(F.col("event_type") == event_type)
        return (
            t.join(prev, on="user_id")
            .filter(F.col("ts_ms") > F.col(prev_col))
            .groupBy("user_id", prev_col)
            .agg(F.min("ts_ms").alias(out))
        )

    views = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts_ms").alias("t_view")
    )
    clicks = first_after("click", views, "t_view", "t_click")
    buys = first_after("purchase", clicks.select("user_id", "t_click"), "t_click", "t_buy")
    return (
        views.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(F.broadcast(clicks.agg(F.count(F.lit(1)).alias("n_click_after_view"))))
        .crossJoin(F.broadcast(buys.agg(F.count(F.lit(1)).alias("n_buy_after_click"))))
    )


FUNNEL_SQL = """
WITH ev AS (
  SELECT user_id, event_type, epoch_ms(CAST(ts AS TIMESTAMP)) AS tms FROM events
),
v AS (SELECT user_id, MIN(tms) AS t_view FROM ev WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT e.user_id, v.t_view, MIN(e.tms) AS t_click
  FROM ev e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.tms > v.t_view
  GROUP BY e.user_id, v.t_view
),
b AS (
  SELECT e.user_id, MIN(e.tms) AS t_buy
  FROM ev e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.tms > c.t_click
  GROUP BY e.user_id, c.t_click
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_view,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click_after_view,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_buy_after_click
"""


# --- retention cohorts (first-seen day × day offset) ---------------------------

def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention: users grouped by first-active epoch-day,
    counted per day-offset they return. Two aggregates (first day per
    user — reused via join — then distinct users per cohort × offset);
    all integer epoch-day arithmetic, no calendar surface."""
    from . import load_events

    ev = load_events(spark, sf_dir).select(
        "user_id", F.expr("ts_ms div 86400000").alias("day")
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(first, on="user_id")
        .groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


RETENTION_SQL = """
WITH ev AS (
  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) // 86400000 AS day FROM events
),
first AS (SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id)
SELECT f.cohort_day, e.day - f.cohort_day AS day_offset,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM ev e JOIN first f ON f.user_id = e.user_id
GROUP BY f.cohort_day, day_offset
"""


# --- time-weighted average (irregular-series integral) -------------------------

def twap_value_by_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, event_type) time-weighted average of value in integer
    cents: each reading held until the next one — the sensor/price TWAP
    a plain AVG mis-states on bursty series (operators/timeseries.py).
    High-cardinality keys → per-key windows parallelize fine."""
    from . import load_events
    from ..operators.timeseries import time_weighted_avg

    ev = load_events(spark, sf_dir).select(
        "user_id", "event_type", "ts_ms", "event_id",
        _iscale("value", 100).alias("_cents"),
    )
    return time_weighted_avg(
        ev, ["user_id", "event_type"], "ts_ms", "_cents", tiebreak_cols=["event_id"]
    )


TWAP_SQL = """
WITH ev AS (
  SELECT user_id, event_type, event_id,
         epoch_ms(CAST(ts AS TIMESTAMP)) AS tms,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
seg AS (
  SELECT user_id, event_type, tms, cents,
         LEAD(tms) OVER (PARTITION BY user_id, event_type
                         ORDER BY tms, event_id) - tms AS dt
  FROM ev
),
a AS (
  SELECT user_id, event_type,
         CAST(SUM(cents * dt) AS BIGINT) AS wsum,
         MAX(tms) - MIN(tms) AS dur,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM seg GROUP BY user_id, event_type
)
SELECT user_id, event_type,
       CAST(wsum // dur AS BIGINT) AS twap_scaled, n_obs
FROM a WHERE dur > 0
"""


# --- point-in-time join against SCD2 history -----------------------------------

def orders_segment_at_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup: each order (synthetic day = o_orderkey % 150,
    straddling the SCD2 scenario's day-100 segment change) joined to the
    customer-segment version VALID on that day, counted per segment.
    Equi-join on the key + interval filter — one hash join, no range join
    (operators/joins.py point_in_time_join)."""
    from ..operators.joins import point_in_time_join

    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", (F.col("o_orderkey") % 150).alias("day")
    )
    dim = scd2_customer_segments(spark, sf_dir)
    return (
        point_in_time_join(orders, dim, "o_custkey", "k", "day")
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


PIT_SQL = f"""
WITH scd AS ({SCD2_SQL})
SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
JOIN scd ON scd.k = o_custkey
        AND scd.valid_from <= (o_orderkey % 150)
        AND (scd.valid_to IS NULL OR (o_orderkey % 150) < scd.valid_to)
GROUP BY seg
"""


# --- event-sequence transition matrix ------------------------------------------

def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user next-event transition counts + probability in integer ppm
    — the Markov-chain summary sequence models are sanity-checked against.
    One lead() window per user (high cardinality), then a 5×5-ish
    aggregate; the ppm division is integral (no float)."""
    from . import load_events

    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts_ms", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    trans = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return trans.select(
        "from_type",
        "next_type",
        "n",
        F.expr("1000000 * n div sum(n) over (partition by from_type)").alias("p_ppm"),
    )


TRANSITIONS_SQL = """
WITH ev AS (
  SELECT user_id, event_type, event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS tms
  FROM events
),
nxt AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY tms, event_id) AS next_type
  FROM ev
),
t AS (
  SELECT from_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM nxt WHERE next_type IS NOT NULL
  GROUP BY from_type, next_type
)
SELECT from_type, next_type, n,
       CAST((1000000 * n) // CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS BIGINT) AS p_ppm
FROM t
"""


# --- month-over-month revenue change --------------------------------------------

def monthly_revenue_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue delta in integer ppm over the aggregated
    monthly series — the lag() runs on ~80 month rows (bounded by the
    calendar, not data volume), so a single-partition window over the
    AGGREGATE is the right plan; no per-row windows touch the fact
    table."""
    li = load(spark, sf_dir, "lineitem")
    rev = _iscale(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10_000)
    monthly = li.groupBy(
        F.date_trunc("month", "l_shipdate").cast("date").alias("month")
    ).agg(F.sum(rev).alias("_r"))
    w = Window.orderBy("month")
    # ppm delta on whole-currency units (r div 10000): keeps 1e6·delta
    # inside BIGINT at any realistic revenue. Negative deltas: Spark `div`
    # and DuckDB `//` BOTH truncate toward zero (verified: -7//2 = -3 in
    # DuckDB), so the plain integral division is engine-exact.
    return (
        monthly.withColumn("_rk", F.expr("_r div 10000"))
        .withColumn("_prevk", F.lag("_rk").over(w))
        .select(
            "month",
            money2(F.col("_r"), 4).alias("revenue"),
            F.expr(
                "case when _prevk is null or _prevk = 0 then null else "
                "(1000000 * (_rk - _prevk)) div _prevk end"
            ).alias("mom_ppm"),
        )
    )


MOM_SQL = """
WITH m AS (
  SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS month,
         SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS r
  FROM lineitem GROUP BY month
),
l AS (SELECT month, r, r // 10000 AS rk, LAG(r // 10000) OVER (ORDER BY month) AS prevk FROM m)
SELECT month,
       ((2 * r + 100) // 200) / 100.0 AS revenue,
       CASE WHEN prevk IS NULL OR prevk = 0 THEN NULL
            ELSE CAST((1000000 * (rk - prevk)) // prevk AS BIGINT) END AS mom_ppm
FROM l
"""


# --- MAD robust outliers (composed two-phase medians) ---------------------------

def mad_outliers_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census per event type: median, MAD (median absolute
    deviation), and the count of events with |x − median| > 3·MAD — the
    outlier rule that, unlike mean±kσ, is not dragged by the outliers
    themselves. Both medians run through the partition-count-independent
    ``grouped_median`` (5 groups would collapse a naive window), joined
    back as broadcast 5-row tables; everything is integer cents."""
    from . import load_events
    from ..operators.ranking import grouped_median

    ev = load_events(spark, sf_dir).select(
        "event_type", "event_id", _iscale("value", 100).alias("_cents")
    )
    med = grouped_median(
        ev, ["event_type"], "_cents", tiebreak_cols=["event_id"],
        out_col="median_cents", count_col="n_events",
    )
    dev = ev.join(F.broadcast(med), on="event_type").withColumn(
        "_d", F.abs(F.col("_cents") - F.col("median_cents"))
    )
    mad = grouped_median(
        dev.select("event_type", "event_id", "_d"), ["event_type"], "_d",
        tiebreak_cols=["event_id"], out_col="mad_cents", count_col="_n2",
    ).drop("_n2")
    outliers = (
        dev.join(F.broadcast(mad), on="event_type")
        .filter(F.col("_d") > 3 * F.col("mad_cents"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    return (
        med.join(F.broadcast(mad), on="event_type")
        .join(outliers, on="event_type", how="left")
        .select(
            "event_type", "median_cents", "mad_cents", "n_events",
            F.coalesce("n_outliers", F.lit(0)).alias("n_outliers"),
        )
    )


MAD_SQL = """
WITH ev AS (
  SELECT event_type, event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
r1 AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS r,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM ev
),
med AS (SELECT event_type, cents AS median_cents, CAST(n AS BIGINT) AS n_events
        FROM r1 WHERE r = (n + 1) // 2),
dev AS (
  SELECT e.event_type, e.event_id, ABS(e.cents - m.median_cents) AS d
  FROM ev e JOIN med m USING (event_type)
),
r2 AS (
  SELECT event_type, d,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d, event_id) AS r,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM dev
),
mad AS (SELECT event_type, d AS mad_cents FROM r2 WHERE r = (n + 1) // 2),
outl AS (
  SELECT dv.event_type, CAST(COUNT(*) AS BIGINT) AS n_outliers
  FROM dev dv JOIN mad USING (event_type)
  WHERE dv.d > 3 * mad.mad_cents
  GROUP BY dv.event_type
)
SELECT m.event_type, m.median_cents, mad.mad_cents, m.n_events,
       COALESCE(o.n_outliers, 0) AS n_outliers
FROM med m
JOIN mad USING (event_type)
LEFT JOIN outl o USING (event_type)
"""


# --- tie-inclusive top-k (dense_rank) -------------------------------------------

def top_prices_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts at each brand's top-2 DISTINCT price points — dense_rank, so
    price ties are all included (row_number's arbitrary-k cutoff drops
    tied peers; topk_parts_per_brand shows that variant). Integer-cents
    ordering; the part table is dimension-sized, so per-brand windows are
    fine here."""
    part = load(spark, sf_dir, "part")
    cents = _iscale("p_retailprice", 100)
    w = Window.partitionBy("p_brand").orderBy(F.desc(cents))
    return (
        part.select(
            "p_brand", "p_partkey", cents.alias("_cents"),
            F.dense_rank().over(w).alias("price_rank"),
        )
        .filter(F.col("price_rank") <= 2)
        .select(
            "p_brand", "p_partkey",
            (F.col("_cents") / 100.0).alias("retail_price"),
            F.col("price_rank").cast("int").alias("price_rank"),
        )
    )


TOP_TIES_SQL = """
WITH p AS (
  SELECT p_brand, p_partkey, CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents,
         DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY CAST(ROUND(p_retailprice * 100) AS BIGINT) DESC) AS rk
  FROM part
)
SELECT p_brand, p_partkey, cents / 100.0 AS retail_price, CAST(rk AS INT) AS price_rank
FROM p WHERE rk <= 2
"""


# --- data-contract validation gate ----------------------------------------------

def orders_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-quality gate over orders (operators/quality.py):
    named boolean contracts evaluated as conditional sums in a single
    aggregate, plus a referential-integrity rule (orders → customer) as a
    key-only left-anti count. Violation rates in integer ppm.

    Exactly TWO scans of orders: the constraint aggregate's and the FK
    anti-join's. Both collapse to one row, collected once (bounded), and
    the 5-row report is assembled driver-side — n_rows for the FK rule
    reuses the aggregate's ``_n`` instead of a third ``count()`` scan,
    and no one-row frame fans out into per-rule re-aggregation."""
    from ..operators.quality import constraint_counts, fk_violations

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    rules = {
        "positive_price": F.col("o_totalprice") > 0,
        "status_domain": F.col("o_orderstatus").isin("O", "F", "P"),
        "priority_domain": F.col("o_orderpriority").rlike("^[1-5]-"),
        "date_range": F.col("o_orderdate") >= F.lit("1992-01-01").cast("timestamp"),
    }
    agg = constraint_counts(orders, rules).collect()[0]  # bounded: 1 row
    n = agg["_n"]
    orphans = fk_violations(orders, cust, "o_custkey", "c_custkey").collect()[0][
        "n_orphans"
    ]
    rows = [
        (name, n, agg[f"_v_{i}"], 1_000_000 * agg[f"_v_{i}"] // max(n, 1))
        for i, name in enumerate(rules)
    ] + [("customer_fk", n, orphans, 1_000_000 * orphans // max(n, 1))]
    return literal_frame(spark, 
        rows, "rule string, n_rows long, n_violations long, violation_ppm long"
    )


QUALITY_SQL = """
WITH base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN NOT (o_totalprice > 0) OR o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') OR o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_status,
         CAST(SUM(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-') OR o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_prio,
         CAST(SUM(CASE WHEN NOT (CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1992-01-01') OR o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_date
  FROM orders
),
fk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v FROM orders
  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
     OR o_custkey IS NULL
)
SELECT 'positive_price' AS rule, n AS n_rows, v_price AS n_violations, CAST((1000000 * v_price) // n AS BIGINT) AS violation_ppm FROM base
UNION ALL SELECT 'status_domain', n, v_status, CAST((1000000 * v_status) // n AS BIGINT) FROM base
UNION ALL SELECT 'priority_domain', n, v_prio, CAST((1000000 * v_prio) // n AS BIGINT) FROM base
UNION ALL SELECT 'date_range', n, v_date, CAST((1000000 * v_date) // n AS BIGINT) FROM base
UNION ALL SELECT 'customer_fk', (SELECT n FROM base), v, CAST((1000000 * v) // (SELECT n FROM base) AS BIGINT) FROM fk
"""


# --- per-group exact quantile bands (one ranking pass) --------------------------

def value_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p10/p50/p90 of value per event type — all three from ONE
    two-phase ranking pass (operators/ranking.grouped_quantiles), not one
    window per quantile; nearest-rank picks in pure integer arithmetic."""
    from . import load_events
    from ..operators.ranking import grouped_quantiles

    ev = load_events(spark, sf_dir).select(
        "event_type", "event_id", _iscale("value", 100).alias("_cents")
    )
    q = grouped_quantiles(
        ev, ["event_type"], "_cents", quantiles_pct=(10, 50, 90),
        tiebreak_cols=["event_id"],
    )
    return q.select(
        "event_type", "q_pct", (F.col("value") / 100.0).alias("value"), "n"
    )


QUANTILES_SQL = """
WITH ev AS (
  SELECT event_type, event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
r AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM ev
)
SELECT event_type, CAST(q AS INT) AS q_pct, cents / 100.0 AS value, CAST(n AS BIGINT) AS n
FROM r CROSS JOIN (VALUES (10), (50), (90)) t(q)
WHERE rk = ((n - 1) * q) // 100 + 1
"""


# --- last-touch purchase attribution --------------------------------------------

def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credited to the user's most
    recent PRECEDING non-purchase event type (NULL when the purchase is
    the user's first touch). One carry-forward window per user
    (high-cardinality key) with an UNBOUNDED PRECEDING..1 PRECEDING
    frame, then a 5-row aggregate."""
    from . import load_events

    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts_ms", "event_id")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touched = ev.withColumn(
        "attributed_type",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        touched.filter(F.col("event_type") == "purchase")
        .groupBy("attributed_type")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )


ATTRIBUTION_SQL = """
WITH ev AS (
  SELECT user_id, event_type, event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS tms
  FROM events
),
t AS (
  SELECT event_type,
         LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY tms, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attributed_type
  FROM ev
)
SELECT attributed_type, CAST(COUNT(*) AS BIGINT) AS n_purchases
FROM t WHERE event_type = 'purchase'
GROUP BY attributed_type
"""


# --- CDC merge/upsert apply ----------------------------------------------------

def customer_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC batch apply (MERGE INTO emulation, operators/scd.py
    merge_upsert): a deterministic change batch — every 10th customer
    re-segmented to 'UPSERTED' at CDC sequence 1, every 21st deleted at
    sequence 2, five brand-new keys inserted — applied to the customer
    dimension; output is the resulting per-segment census. Keys divisible
    by both (k % 210 == 0) carry an upsert AND a later delete, so the
    batch is deliberately NOT key-unique: ``seq_col`` collapses it
    last-wins (the seq-2 delete beats the seq-1 upsert — CDC order, not
    op precedence). The target never shuffles: the change-key set
    broadcasts into one left-anti join."""
    from ..operators.scd import merge_upsert

    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_mktsegment").alias("seg")
    )
    maxk = 10_000_000  # new surrogate keys, disjoint from any SF's range
    upserts = cust.filter(F.col("k") % 10 == 0).withColumn("seg", F.lit("UPSERTED")) \
        .withColumn("_op", F.lit("U")).withColumn("_seq", F.lit(1))
    deletes = cust.filter(F.col("k") % 21 == 0).withColumn("_op", F.lit("D")) \
        .withColumn("_seq", F.lit(2))
    inserts = spark.range(5).select(
        (F.col("id") + maxk).alias("k"), F.lit("BRANDNEW").alias("seg"),
        F.lit("U").alias("_op"), F.lit(1).alias("_seq"),
    )
    changes = upserts.unionByName(deletes).unionByName(inserts)
    merged = merge_upsert(cust, changes, key="k", op_col="_op", seq_col="_seq")
    return merged.groupBy("seg").agg(F.count(F.lit(1)).alias("n"))


MERGE_UPSERT_SQL = """
WITH cust AS (SELECT c_custkey AS k, c_mktsegment AS seg FROM customer),
changes AS (
  SELECT k, 'UPSERTED' AS seg, 'U' AS op, 1 AS seq FROM cust WHERE k % 10 = 0
  UNION ALL
  SELECT k, seg, 'D', 2 FROM cust WHERE k % 21 = 0
  UNION ALL
  SELECT 10000000 + i AS k, 'BRANDNEW', 'U', 1 FROM generate_series(0, 4) t(i)
),
collapsed AS (
  SELECT k, arg_max(seg, seq) AS seg, arg_max(op, seq) AS op
  FROM changes GROUP BY k
),
merged AS (
  SELECT k, seg FROM cust WHERE k NOT IN (SELECT k FROM collapsed)
  UNION ALL
  SELECT k, seg FROM collapsed WHERE op <> 'D'
)
SELECT seg, CAST(COUNT(*) AS BIGINT) AS n FROM merged GROUP BY seg
"""


# --- trailing-window spike detection -------------------------------------------

def value_spikes_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitoring-style anomaly count: an event is a SPIKE when its value
    exceeds 3× the average of the user's previous 5 events. The compare is
    the INTEGER cross-multiplication cents·n > 3·Σprev (no division — no
    float boundary), the window partitions by user_id (high cardinality —
    the windows-are-fine regime), and the trailing frame is ROWS-bounded
    so state per row is O(1) at any scale."""
    from . import load_events

    ev = load_events(spark, sf_dir).select(
        "user_id", "event_type", "event_id", "ts_ms", _iscale("value", 100).alias("_cents")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(-5, -1)
    )
    flagged = ev.select(
        "event_type",
        F.sum("_cents").over(w).alias("_psum"),
        F.count(F.lit(1)).over(w).alias("_pn"),
        "_cents",
    ).filter((F.col("_pn") == 5) & (F.col("_cents") * F.col("_pn") > 3 * F.col("_psum")))
    return flagged.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_spikes"))


SPIKES_SQL = """
WITH ev AS (
  SELECT user_id, event_type, event_id,
         epoch_ms(CAST(ts AS TIMESTAMP)) AS tms,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
t AS (
  SELECT event_type, cents,
         CAST(SUM(cents) OVER (PARTITION BY user_id ORDER BY tms, event_id
                          ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS BIGINT) AS psum,
         CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY tms, event_id
                             ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS BIGINT) AS pn
  FROM ev
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_spikes
FROM t WHERE pn = 5 AND cents * pn > 3 * psum
GROUP BY event_type
"""


QUERIES = {
    "q6_forecast_revenue": (q6_forecast_revenue, Q6_SQL),
    "order_price_histogram": (order_price_histogram, HIST_SQL),
    "unpivot_order_measures": (unpivot_order_measures, UNPIVOT_SQL),
    "status_except_all": (status_except_all, EXCEPT_ALL_SQL),
    "customer_spend_quartiles": (customer_spend_quartiles, NTILE_SQL),
    "monthly_revenue": (monthly_revenue, MONTHLY_SQL),
    "grouping_sets_revenue": (grouping_sets_revenue, GROUPING_SETS_SQL),
    "events_dow_hour_heatmap": (events_dow_hour_heatmap, DOW_HOUR_SQL),
    "event_funnel": (event_funnel, FUNNEL_SQL),
    "user_retention_cohorts": (user_retention_cohorts, RETENTION_SQL),
    "value_variance_by_type": (value_variance_by_type, VARIANCE_SQL),
    "revenue_share_by_nation": (revenue_share_by_nation, REVENUE_SHARE_SQL),
    "scd2_customer_segments": (scd2_customer_segments, SCD2_SQL),
    "median_value_by_type": (median_value_by_type, MEDIAN_SQL),
    "twap_value_by_user_type": (twap_value_by_user_type, TWAP_SQL),
    "orders_segment_at_day": (orders_segment_at_day, PIT_SQL),
    "value_spikes_by_type": (value_spikes_by_type, SPIKES_SQL),
    "customer_merge_upsert": (customer_merge_upsert, MERGE_UPSERT_SQL),
    "event_transitions": (event_transitions, TRANSITIONS_SQL),
    "monthly_revenue_mom": (monthly_revenue_mom, MOM_SQL),
    "purchase_attribution": (purchase_attribution, ATTRIBUTION_SQL),
    "mad_outliers_by_type": (mad_outliers_by_type, MAD_SQL),
    "value_quantiles_by_type": (value_quantiles_by_type, QUANTILES_SQL),
    "orders_quality_report": (orders_quality_report, QUALITY_SQL),
    "top_prices_with_ties": (top_prices_with_ties, TOP_TIES_SQL),
    "moments_by_type": (moments_by_type, MOMENTS_SQL),
    "salted_lineitem_stats": (salted_lineitem_stats, SALTED_SQL),
    "event_trigram_paths": (event_trigram_paths, TRIGRAM_SQL),
}
