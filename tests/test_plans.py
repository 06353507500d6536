"""Plan-quality audits: assert the physical plans are the plans we want at
scale — pushdown reaches the scan, column pruning works, small dims
broadcast, partial aggregation happens, no unexpected cartesian products.
(The '.explain and iterate' discipline, mechanized.) ``test_registered_query``
is the registry's correctness gate: every registered query against its
DuckDB oracle and the plan invariants, in the default pass."""

import pytest
from pyspark.sql import functions as F

from laradb_spark.operators import ranking
from laradb_spark.operators.skew import salted_agg, salted_join_hot_keys
from laradb_spark.workloads import all_specs
from tools.check_correctness import (
    ON_EDITED_FIXTURE,
    check_query,
    oracle_connection,
    write_edited_fixture,
)

SPECS = all_specs()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _opt(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def sfq(spark, sf_dir):
    import __spark_entry__ as e

    return {name: fn for name, fn in e.queries().items()}, sf_dir


def test_q1_pushdown_and_pruning(spark, sfq):
    qs, sf = sfq
    df = qs["q1_pricing_summary"](spark, sf)
    plan = _plan(df)
    # filter reaches the parquet scan
    assert "PushedFilters:" in plan and "l_shipdate" in plan
    # column pruning: only the 7 needed columns are read, not all 11
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read and "l_partkey" not in read
    # partial+final hash aggregation
    assert plan.count("HashAggregate") >= 2


def test_q5_broadcasts_dimensions(spark, sfq):
    qs, sf = sfq
    plan = _plan(qs["q5_local_supplier_volume"](spark, sf))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sensor_covariance_no_cartesian(spark, sfq):
    qs, sf = sfq
    plan = _plan(qs["sensor_covariance_events"](spark, sf))
    # the c×c self-join goes through the t' equi-join, never a cartesian
    assert "CartesianProduct" not in plan
    # per-class means broadcast into the mean-center join
    assert "BroadcastHashJoin" in plan


def test_topk_uses_single_window_shuffle(spark, sfq):
    qs, sf = sfq
    plan = _plan(qs["topk_parts_per_brand"](spark, sf))
    assert plan.count("Exchange") <= 2  # one hash exchange for the window (+AQE read)


def test_lara_join_pushes_column_pruning(spark, sf_dir):
    from laradb_spark import LaraSchema, LaraTable
    from laradb_spark.workloads import load

    li = LaraTable(
        load(spark, sf_dir, "lineitem"),
        LaraSchema.of(
            [("l_orderkey", "LONG"), ("l_linenumber", "INT")],
            [("l_quantity", "DOUBLE", None)],
        ),
    )
    agg = li.agg(["l_orderkey"], {"l_quantity": "sum_null"})
    plan = _plan(agg.df)
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read and "l_shipdate" not in read


def test_salted_agg_matches_plain(spark, sf_dir):
    from laradb_spark.workloads import load

    li = load(spark, sf_dir, "lineitem")
    plain = {
        (r.l_returnflag): (r.s, r.n)
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count("l_quantity").alias("n"))
        .collect()
    }
    salted = {
        (r.l_returnflag): (r.l_quantity_s, r.l_quantity_n)
        for r in salted_agg(
            li.select("l_returnflag",
                      F.col("l_quantity").alias("l_quantity_s"),
                      F.col("l_quantity").alias("l_quantity_n")),
            ["l_returnflag"],
            {"l_quantity_s": "sum", "l_quantity_n": "count"},
        ).collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        assert salted[k][1] == plain[k][1]
        assert salted[k][0] == pytest.approx(plain[k][0], rel=1e-12)


def test_salted_join_matches_plain(spark):
    big = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, i) for i in range(10)], "k long, v long"
    )
    small = spark.createDataFrame([(1, "hot"), (2, "cold"), (3, "never")], "k long, tag string")
    plain = sorted(tuple(r) for r in big.join(small, "k").collect())
    salted = sorted(
        tuple(r) for r in salted_join_hot_keys(big, small, "k", hot_keys=[1]).collect()
    )
    assert plain == salted


def test_quartiles_no_global_single_partition_window(spark, sfq, monkeypatch):
    """customer_spend_quartiles must not funnel all rows through one task:
    no SinglePartition exchange, no partition-less Window sort — the
    two-phase rank (range partition + local row_number + offsets) keeps
    every stage parallel. The gate pin audits the AT-SCALE route: on a
    gate-sized fixture grouped_rank would take its small-frame window
    (legitimately per-group-partitioned), which is not the shape this
    test exists to certify."""
    monkeypatch.setattr(ranking, "RANK_WINDOW_MAX_BYTES", -1)
    qs, sf = sfq
    df = qs["customer_spend_quartiles"](spark, sf)
    plan = _plan(df)
    assert "SinglePartition" not in plan
    # the only window is partitioned by _pid (local rank), never global
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "_pid" in line


def test_grouped_rank_queries_no_low_cardinality_window(spark, sfq, monkeypatch):
    """median_value_by_type and trim_length_outliers rank via the two-phase
    grouped_rank, not Window.partitionBy(<5-or-20-value key>): every
    row_number window in their plans must be sharded by _pid, so no task
    ever sorts a whole group regardless of group cardinality. Gate pin:
    audit the at-scale route, not the small-frame window the gate picks
    on a fixture-sized input."""
    monkeypatch.setattr(ranking, "RANK_WINDOW_MAX_BYTES", -1)
    qs, sf = sfq
    for qname in ("median_value_by_type", "trim_length_outliers"):
        plan = _plan(qs[qname](spark, sf))
        assert "SinglePartition" not in plan, qname
        saw_window = False
        for line in plan.splitlines():
            if "Window" in line and "windowspecdefinition" in line:
                saw_window = True
                assert "_pid" in line, f"{qname}: un-sharded window: {line.strip()}"
        assert saw_window, qname


ANN_FAMILY = (
    "ann_brute_force_fast",
    "ann_sq8_fast",
    "ann_lsh_topk",
    "ann_lsh_multiprobe",
    "ann_ivf_topk",
    "hard_negatives",
    "tfidf_top_terms",
)


def test_ann_family_no_per_query_ranking_window(spark, sfq, monkeypatch):
    """The ANN/hard-negatives/tfidf family ranks via the two-phase
    grouped_rank: with few queries against a huge corpus, a
    Window.partitionBy(query_id) over the scored candidates would sort
    each query's whole candidate set in ONE task. Every row_number window
    in these plans must be sharded by _pid — except IVF's probe-selection
    window, whose input is queries × centroids (ordered by _cc), bounded
    by the centroid count, never the corpus. Gate pin: audit the at-scale
    route (see test_grouped_rank_queries_no_low_cardinality_window)."""
    monkeypatch.setattr(ranking, "RANK_WINDOW_MAX_BYTES", -1)
    qs, sf = sfq
    for qname in ANN_FAMILY:
        plan = _plan(qs[qname](spark, sf))
        saw_window = False
        for line in plan.splitlines():
            if "Window" in line and "windowspecdefinition" in line:
                saw_window = True
                assert "_pid" in line or "_cc" in line, (
                    f"{qname}: corpus-sized ranking window: {line.strip()}"
                )
        assert saw_window, qname


def test_grouped_rank_matches_naive_window(spark):
    """grouped_rank ≡ the naive per-group window on a fixture with NULL
    group keys, ties, and a group split across range partitions."""
    from pyspark.sql import Window

    from laradb_spark.operators.ranking import grouped_rank

    rows = [(g, i, (i * 7) % 5) for g in ["a", "b", None] for i in range(200)]
    df = spark.createDataFrame(rows, "g string, id int, v int")
    two = grouped_rank(df, ["g"], [F.asc("v"), F.asc("id")], num_partitions=8)
    w = Window.partitionBy("g").orderBy(F.asc("v"), F.asc("id"))
    wg = Window.partitionBy("g")
    naive = df.withColumn("_r", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(wg)
    )
    key = lambda r: (r["g"] or "", r["id"])
    assert sorted(map(tuple, two.select("g", "id", "v", "_r", "_n").collect()), key=lambda t: (t[0] or "", t[1])) == sorted(
        map(tuple, naive.select("g", "id", "v", "_r", "_n").collect()), key=lambda t: (t[0] or "", t[1])
    )


def test_grouped_rank_small_frame_route_parity(spark, monkeypatch, tmp_path):
    """The r15 size gate routes provably-small frames through one plain
    window instead of the two-phase machinery — ranks, counts, schema
    (both BIGINT) and column order must be identical between the routes
    on a fixture with NULL groups and ties. The fixture is parquet-backed
    because the gate reads the max FILE-leaf estimate (a driver-built
    frame alone has no estimable leaf and conservatively stays
    two-phase)."""
    from laradb_spark.operators.ranking import grouped_rank

    rows = [(g, i, (i * 7) % 5) for g in ["a", "b", None] for i in range(200)]
    spark.createDataFrame(rows, "g string, id int, v int").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "rank_fixture"))
    df = spark.read.parquet(str(tmp_path / "rank_fixture"))
    small = grouped_rank(df, ["g"], [F.asc("v"), F.asc("id")])
    # a createDataFrame plan has a size estimate well under the gate —
    # prove the route actually flipped (no _pid-sharded window)
    assert "_pid" not in small.columns
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "_pid" not in plan
    monkeypatch.setattr(ranking, "RANK_WINDOW_MAX_BYTES", -1)
    two = grouped_rank(df, ["g"], [F.asc("v"), F.asc("id")])
    assert small.columns == two.columns
    assert small.schema["_r"].dataType == two.schema["_r"].dataType
    assert small.schema["_n"].dataType == two.schema["_n"].dataType
    key = lambda t: (t[0] or "", t[1])
    assert sorted(map(tuple, small.collect()), key=key) == sorted(
        map(tuple, two.collect()), key=key
    )


def test_fan_out_gates_on_splits_and_size(spark, tmp_path):
    """util.fan_out fires ONLY in the few-splits regime and sizes the
    fan-out to the work: a KB-scale scan stays at 1 task (worker overhead
    would exceed the parallelism win), an MB-scale scan with a CPU_HEAVY
    hint fans to the core cap, and an already-wide frame is returned
    untouched (no extra shuffle node)."""
    from pyspark.sql.functions import md5, col

    from laradb_spark.util import CPU_HEAVY, fan_out

    tiny_p = str(tmp_path / "tiny.parquet")
    spark.range(100).coalesce(1).write.parquet(tiny_p)
    tiny = spark.read.parquet(tiny_p)
    assert tiny.rdd.getNumPartitions() == 1
    assert fan_out(tiny, CPU_HEAVY) is tiny

    big_p = str(tmp_path / "big.parquet")
    # ~60k random-ish md5 strings → an MB-scale, poorly-compressing file
    spark.range(60_000).select(md5(col("id").cast("string")).alias("s")) \
        .coalesce(1).write.parquet(big_p)
    big = spark.read.parquet(big_p)
    assert big.rdd.getNumPartitions() == 1
    fanned = fan_out(big, CPU_HEAVY)
    # expected target: clamp(size / 32 KB, 1, cores) — compute it rather
    # than equating to defaultParallelism, which only holds when cores ≤
    # size/32KB (a many-core machine legitimately clamps to the size term)
    from laradb_spark.util import plan_size_bytes

    want = max(1, min(
        spark.sparkContext.defaultParallelism,
        -(-plan_size_bytes(big) // CPU_HEAVY),
    ))
    assert fanned.rdd.getNumPartitions() == want > 1

    wide = big.repartition(spark.sparkContext.defaultParallelism)
    assert fan_out(wide, CPU_HEAVY) is wide


def test_join_strategy_hints(spark, sf_dir):
    """Hint surface: broadcast() forces BroadcastHashJoin; the merge hint
    forces SortMergeJoin even where AQE would broadcast — the escape
    hatches for when the optimizer's size estimate is wrong."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    bcast = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    assert "BroadcastHashJoin" in _plan(bcast)
    merged = orders.join(cust.hint("merge"), orders.o_custkey == cust.c_custkey)
    assert "SortMergeJoin" in _plan(merged)


def test_bm25_plan_broadcasts_query_terms(spark, sfq):
    """BM25's joins against the human-sized query-term and df tables must
    broadcast; the corpus-side tf aggregation must partial-combine."""
    qs, sf = sfq
    plan = _plan(qs["bm25_topk"](spark, sf))
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_embedding_gram_shuffles_cells_not_rows(spark, sfq):
    """The Gram plan is MapInPandas partial V'V per batch feeding a hash
    aggregate — the exchange carries d(d+1)/2 cells per partition, never
    row-sized data (no row-level Exchange below the python stage)."""
    qs, sf = sfq
    df = qs["embedding_gram"](spark, sf)
    plan = _plan(df)
    assert "MapInPandas" in plan
    # partial+final aggregation over the emitted cells
    assert plan.count("HashAggregate") >= 2
    # the scan feeds the python stage directly — the only Exchange in the
    # whole plan is the tiny cell aggregation's
    assert plan.count("Exchange") <= 2  # cell agg (+ AQE shuffle read)
    assert df.count() == 64 * 65 // 2


@pytest.fixture(scope="module")
def edited_sf_dir(sf_dir, tmp_path_factory):
    return write_edited_fixture(sf_dir, str(tmp_path_factory.mktemp("edited_fixture")))


@pytest.fixture(scope="module")
def oracle_cons(sf_dir, edited_sf_dir):
    cons = {d: oracle_connection(d) for d in (sf_dir, edited_sf_dir)}
    yield cons
    for con in cons.values():
        con.close()


@pytest.mark.parametrize("name", list(SPECS))
def test_registered_query(spark, sfq, edited_sf_dir, oracle_cons, name):
    """Build the query once: its plan passes the invariants (no cartesian
    product, single-partition exchange or shuffled-hash join outside the
    allowlists, no decimal column) and its non-empty result hash-matches
    the DuckDB oracle."""
    qs, sf = sfq
    if name in ON_EDITED_FIXTURE:
        sf = edited_sf_dir
    problems = check_query(oracle_cons[sf], name, qs[name](spark, sf), SPECS[name][1])
    assert not problems, f"{name}: {problems}"


def test_registered_query_gate_is_order_independent(spark, sfq, oracle_cons):
    """A query's plan gate does not depend on what ran before it in the
    session: ``ann_ivfpq_res_recall`` built right after
    ``ann_ivfpq_res_topk`` planned a ShuffledHashJoin while
    ``grouped_rank`` left the first query's ranked input pinned in the
    CacheManager. Nothing of the first query stays cached."""
    qs, sf = sfq
    spark.catalog.clearCache()
    for name in ("ann_ivfpq_res_topk", "ann_ivfpq_res_recall"):
        sdf = qs[name](spark, sf)
        assert check_query(oracle_cons[sf], name, sdf, SPECS[name][1]) == [], name
        del sdf
        cached = spark._jsparkSession.sharedState().cacheManager().isEmpty()
        assert cached, f"{name} left a frame in the CacheManager"


def test_check_query_reports_each_fault(spark):
    """The gate itself: check_query passes a matching frame and reports a
    wrong oracle value, a cartesian plan, a decimal column and an empty
    result — a comparator that returned [] for everything would pass
    every registered query."""
    import duckdb

    con = duckdb.connect()
    df = spark.createDataFrame([(1, 2.5), (2, 4.0)], "k long, v double")
    sql = "SELECT * FROM (VALUES (1::BIGINT, 2.5::DOUBLE), (2, 4.0)) t(k, v)"
    assert check_query(con, "probe", df, sql) == []
    assert "value-hash mismatch" in check_query(con, "probe", df, sql.replace("4.0", "4.5"))
    cross = df.hint("shuffle_replicate_nl").crossJoin(df.select(F.col("k").alias("k2")))
    assert "CartesianProduct" in _plan(cross)
    cross_sql = f"SELECT a.k, a.v, b.k AS k2 FROM ({sql}) a CROSS JOIN ({sql}) b"
    assert check_query(con, "probe", cross, cross_sql) == ["plan has a CartesianProduct"]
    assert check_query(con, "lara_cross_grid", cross, cross_sql) == []
    # a cross join broadcast only because its side is small is a cartesian
    # product at scale: the re-plan without size-based broadcast flags it
    small = spark.range(2).select(F.col("id").alias("k2"))
    small_sql = f"SELECT a.k, a.v, b.k2 FROM ({sql}) a CROSS JOIN range(2) b(k2)"
    sized = df.crossJoin(small)
    assert "CartesianProduct" not in _plan(sized)
    assert check_query(con, "probe", sized, small_sql) == ["plan has a CartesianProduct"]
    assert check_query(con, "probe", df.crossJoin(F.broadcast(small)), small_sql) == []
    dec = df.select("k", F.col("v").cast("decimal(10,2)").alias("v"))
    assert any("decimal" in p for p in check_query(con, "probe", dec, sql))
    assert any("empty" in p for p in check_query(con, "probe", df.limit(0), sql + " LIMIT 0"))
    con.close()
