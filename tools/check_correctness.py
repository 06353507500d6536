#!/usr/bin/env python
"""The registry's correctness gate: every ``queries()`` entry must pass the
plan invariants and hash-match its ``oracle_sql()`` on DuckDB (row count +
column names + order-insensitive value hash). ``check_query`` is the one
comparator; ``tests/test_plans.py::test_registered_query`` runs it over the
whole registry in the default test pass, and this CLI runs it at other
scales or for a few queries.

Usage: python tools/check_correctness.py [--sf-dir DIR] [--only name1,name2]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import sys
import tempfile
import time
from datetime import date, datetime
from decimal import Decimal

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v) -> str:
    if v is None:
        return "␀"
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # 12 significant digits — tolerant of last-ulp engine differences,
        # strict enough to catch real errors.
        return f"{v:.12g}"
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def check_approx_stats(con, scols: list[str], srows: list[tuple]) -> list[str]:
    """approx_stats is now oracle-certified by hash (the query emits exact
    counts plus in-plan bound booleans; the oracle states the expected
    TRUEs as literals). This bound check stays as defense in depth: a
    FALSE boolean should fail with a message that names the sketch, not
    just an anonymous hash mismatch, and the exact count is re-derived
    independently so a bug that breaks BOTH the in-plan exact and the
    boolean the same way still gets caught."""
    row = dict(zip(scols, srows[0]))
    (exact_n,) = con.sql("SELECT COUNT(DISTINCT l_orderkey) FROM lineitem").fetchall()[0]
    errs = []
    if row["exact_orders"] != exact_n:
        errs.append(f"exact_orders={row['exact_orders']} != DuckDB exact {exact_n}")
    if row["ndv_within_5pct"] is not True:
        errs.append("ndv_within_5pct is not TRUE: HLL++ rsd=0.01 sketch out of ±5%")
    if row["p50_within_rank_eps"] is not True:
        errs.append(
            "p50_within_rank_eps is not TRUE: percentile_approx outside rank ±1%"
        )
    return errs


# queries with a verifiable error bound vs exact DuckDB answers, checked in
# addition to the oracle hash so a sketch drifting out of bounds fails
# with a message that NAMES the sketch:
# name -> fn(con, spark_cols, spark_rows) returning [] when in-bounds.
BOUND_CHECKS = {
    "approx_stats": check_approx_stats,
}

# The one intentional cross product: a Lara join on disjoint key sets
# (5×5 pre-aggregates). A cross join that broadcasts only because the
# fixture is small would turn into a CartesianProduct at scale, so the
# gate re-plans every query with size-based broadcast off: a cross join
# must carry a broadcast hint (BroadcastNestedLoopJoin in both plans) or
# an entry here with its reason.
CARTESIAN_ALLOWED = {"lara_cross_grid"}

# Queries ALLOWED an Exchange SinglePartition: every one is a bounded
# one-row/scalar flow (global scalar aggregates, ≤50-row windows, bounded
# month/grid series) — the single partition carries rows counted in ones,
# never data-sized input. Anywhere else it means a query funnels
# data-sized input through one task. A query appearing here must
# document why.
SINGLE_PARTITION_ALLOWED = {
    "ann_ivf_list_skew",       # 1-row member-total broadcast; the count agg
                               # itself is a distributed groupBy(cid)
    "approx_stats",            # one-row sketch aggregate
    "bm25_topk",               # query-term/stats scalar flows
    "bm25_topk_fast",          # same scalar flows (n_docs/n_toks 1-row agg,
                               # query-terms-sized df) over the Arrow twin
    "hybrid_rrf_topk",         # contains bm25_topk verbatim (its scalar
                               # flows above); the fusion itself is
                               # (queries×k)-bounded + grouped_rank
    "bm25_prf_topk",           # TWO bm25 scalar flows by construction
                               # (both passes aggregate the 1-row
                               # n_docs/n_toks stats + broadcast the
                               # query-terms-sized frames); the corpus-
                               # sized rankings use grouped_rank, the
                               # bounded expansion selection a window
    "kn_lm_score",             # 1-row bigram-type-count broadcast (the
                               # heavy_hitters E/N-totals shape); every
                               # corpus-sized stat is a distributed groupBy
    "dedup_lsh_recall",        # deliberate 1-row eval report (counters
                               # aggregate pair frames that are themselves
                               # the production distributed paths)
    "quality_classifier",      # trainer totals: 1-row P/N aggregate over the
                               # 4096-bucket histogram spine
    "quality_classifier_eval", # same trainer flows + a 2-group report agg
    "corpus_integrity",        # 10-row rule report: two one-pass conditional-
                               # sum scalar aggregates (operators.quality),
                               # partials map-side; final agg is 1 row/side
    "bpe_token_apportionment", # sources-sized Hamilton tail (1-row total +
                               # whole-frame rank), same as token_apportionment
    "corpus_clean",            # scalar report row
    "dsir_importance",         # 1-row T/R totals over the 4096-bucket hist
    "gopher_funnel",           # 1-row conditional-count aggregate → 4-row stack
    "split_leakage",           # two 1-row distinct-set counts → one summary row
    "token_apportionment",     # sources-sized frame: 1-row total + whole-frame rank
    "alpha_mixture",           # sources-sized frame only: 1-row token total +
                               # whole-frame window over ~20 sources (curation.py)
    "unimax_allocation",       # closed-form waterfill over the sources-sized
                               # frame: 1-row totals + whole-frame sort (~20 rows)
    "mixture_materialize",     # runs the unimax waterfill above verbatim (same
                               # sources-sized windows + 1-row totals); the
                               # materialization itself is broadcast+explode,
                               # map-only (curation.materialize_mixture)
    "heavy_hitters",           # 1-row E/N totals aggregate; the candidate merge
                               # itself is a distributed groupBy("tok") (text.py)
    "shard_decode_roundtrip",  # head-segment ownership fill: ignorenulls
                               # last_value over PACK order — rows ∝ packs
                               # (tokens/context_len), never tokens; a 100 TB
                               # audit would range-partition it like the
                               # packing cumsum (shards.reassemble docstring)
    "curation_funnel",         # deliberate 1-row global per-stage survivor
                               # aggregates, 4-row report (pipelines_q.py)
    "event_funnel",            # three scalar counts
    "forward_fill_hourly",     # bounded time-grid series
    "monthly_revenue_mom",     # ~83-month aggregated series window
    "pagerank_supplier_part",  # per-iteration scalar N
    "q11_nation_balance_share",
    "q14_promo_share",
    "q15_top_supplier",
    "q19_disjunctive_revenue",
    "q22_idle_rich_customers",
    "q6_forecast_revenue",     # single-row revenue scalar
    "revenue_share_by_nation", # broadcast scalar denominator
    "sensor_covariance_events",  # scalar N broadcast
    "small_quantity_revenue",
    "source_drift_tv",         # one-row global token total
    "supplier_copart_triangles",  # scalar triangle count
    "tfidf_top_terms",         # bounded top-set flow
    "vocab_coverage",          # 50-row window by construction
}

# Queries ALLOWED a ShuffledHashJoin (session.py prefers SHJ over SMJ, and
# an SHJ build side cannot spill), each with the aggregate that bounds
# its build side. Every hit is a LeftOuter join that builds the left side.
SHJ_ALLOWED = {
    "lang_classifier": "the per-document feature-count aggregate "
                       "(groupBy(doc_id).sum) crossed with the K-row class "
                       "table: docs×K rows (multiclass_classify)",
    "lang_confusion": "the same multiclass_classify join as lang_classifier",
    "ann_probe_sweep": "the distinct query ids (groupBy(query_id)) crossed "
                       "with the n_probe sweep literal: queries×sweep rows",
    "pagerank_supplier_part": "the distinct node ids (groupBy(id)) with the "
                              "1-row node count, persisted once: one row per "
                              "node, never per edge",
}


def _plan_without_size_broadcast(sdf) -> str:
    """The physical plan of ``sdf`` re-planned with
    ``spark.sql.autoBroadcastJoinThreshold=-1``: planned only, nothing
    executes. A join that stays broadcast here is hinted, not sized."""
    conf = sdf.sparkSession.conf
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = conf.get(key)
    conf.set(key, "-1")
    try:
        return sdf.alias("_replan")._jdf.queryExecution().executedPlan().toString()
    finally:
        conf.set(key, old)


def plan_problems(name: str, sdf) -> list[str]:
    """Plan invariants, a string scan of the physical plan Spark will run
    (and, for the cartesian check, of its re-plan without size-based
    broadcast)."""
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    problems = []
    if name not in CARTESIAN_ALLOWED and (
        "CartesianProduct" in plan
        or "CartesianProduct" in _plan_without_size_broadcast(sdf)
    ):
        problems.append("plan has a CartesianProduct")
    if "Exchange SinglePartition" in plan and name not in SINGLE_PARTITION_ALLOWED:
        problems.append(
            "plan has an Exchange SinglePartition outside SINGLE_PARTITION_ALLOWED"
        )
    if "ShuffledHashJoin" in plan and name not in SHJ_ALLOWED:
        problems.append(
            "plan has a ShuffledHashJoin whose build side no SHJ_ALLOWED entry bounds"
        )
    return problems


# Queries whose result is empty on every generated fixture, sf0.001 to
# sf0.1: every supplier has post-2000 sales, every customer has orders and
# no two embeddings are near-duplicates. They run on a copy of the fixture
# with these tables edited so each of them returns rows.
ON_EDITED_FIXTURE = {
    "customers_without_orders",
    "suppliers_without_recent_sales",
    "dedup_embedding",
}
EDITED_TABLES = {
    # customers_without_orders: 1 customer in 10 loses its orders
    "orders": "SELECT * FROM read_parquet('{src}') WHERE o_custkey % 10 <> 0",
    # suppliers_without_recent_sales: 1 supplier in 3 loses its post-2000 sales
    "lineitem": "SELECT * FROM read_parquet('{src}') WHERE NOT "
                "(l_suppkey % 3 = 0 AND l_shipdate >= TIMESTAMP '2000-01-01')",
    # dedup_embedding: 20 shifted copies, each a near-duplicate of its source
    "embeddings": "SELECT * FROM read_parquet('{src}') UNION ALL "
                  "SELECT vec_id + 1000000, list_transform(embedding, "
                  "x -> CAST(x + 0.05 AS FLOAT)), label "
                  "FROM read_parquet('{src}') WHERE vec_id < 20",
}


def write_edited_fixture(sf_dir: str, out_dir: str) -> str:
    """Fill ``out_dir`` with the ``sf_dir`` fixture, ``EDITED_TABLES``
    rewritten and the other tables symlinked; returns ``out_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        src, dst = f"{sf_dir}/{t}.parquet", f"{out_dir}/{t}.parquet"
        if t in EDITED_TABLES:
            con.sql(f"COPY ({EDITED_TABLES[t].format(src=src)}) TO '{dst}' (FORMAT PARQUET)")
        else:
            os.symlink(os.path.abspath(src), dst)
    con.close()
    return out_dir


def oracle_connection(sf_dir: str):
    """DuckDB connection with one view per fixture table of ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def check_query(con, name: str, sdf, sql: "str | None") -> list[str]:
    """Every check registered query ``name`` must pass: the plan
    invariants, no decimal columns on either side, its ``BOUND_CHECKS``,
    then schema, row count and value hash against the oracle ``sql`` run
    on ``con``. Returns the problems found; ``[]`` means the query passes.
    An empty result is a problem too: parity on zero rows proves nothing."""
    problems = plan_problems(name, sdf)
    # Value-discipline enforcement (workloads/__init__ docstring): no
    # DecimalType output columns. Spark 4 types decimal-literal arithmetic
    # (SUM(bigint)/100.0) as decimal(p,s); DuckDB returns DOUBLE; the hash
    # stringifies the two differently even when every value is numerically
    # identical. Fix = CAST(... AS DOUBLE).
    dec_cols = [
        f.name for f in sdf.schema.fields if f.dataType.typeName().startswith("decimal")
    ]
    if dec_cols:
        problems.append(f"decimal-typed output {dec_cols}: CAST to DOUBLE")
    if sql is None:
        return problems + ["no oracle SQL"]
    rel = con.sql(sql)
    # Types that hash fine here (fetchall → Python int) but diverge under
    # a pandas/Arrow serialization (HUGEINT → float64): the fix is a CAST
    # in the oracle SQL (e.g. DuckDB SUM(BIGINT) returns HUGEINT). DECIMAL
    # mirrors the Spark-side gate above, from the oracle side.
    unsafe = [
        f"{c}:{t}" for c, t in zip(rel.columns, rel.types)
        if str(t).upper() in ("HUGEINT", "UHUGEINT", "UBIGINT")
        or str(t).upper().startswith("DECIMAL")
    ]
    if unsafe:
        problems.append(f"unsafe oracle column types {unsafe}: CAST(... AS BIGINT)")
    if problems:
        return problems
    scols = [c.lower() for c in sdf.columns]
    srows = [tuple(r) for r in sdf.collect()]
    ocols = [c.lower() for c in rel.columns]
    orows = rel.fetchall()
    if name in BOUND_CHECKS:
        problems.extend(BOUND_CHECKS[name](con, scols, srows))
    if sorted(scols) != sorted(ocols):
        problems.append(f"schema: spark={sorted(scols)} oracle={sorted(ocols)}")
    if len(srows) != len(orows):
        problems.append(f"rowcount: spark={len(srows)} oracle={len(orows)}")
    elif not srows:
        problems.append("empty result on both sides: parity proves nothing here")
    if not problems and table_hash(scols, srows) != table_hash(ocols, orows):
        sset = {"\x1f".join(norm_cell(c) for c in r) for r in srows}
        oset = {"\x1f".join(norm_cell(c) for c in r) for r in orows}
        problems += [
            "value-hash mismatch",
            f"spark-only sample: {sorted(sset - oset)[:3]}",
            f"oracle-only sample: {sorted(oset - sset)[:3]}",
        ]
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    from laradb_spark.session import get_spark
    from laradb_spark.workloads import all_specs

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    specs = all_specs()
    only = set(args.only.split(",")) if args.only else None
    unknown = only - qs.keys() if only else set()
    if unknown:
        ap.error(f"unknown query names: {sorted(unknown)}")

    spark = get_spark("check-correctness")
    edited_dir = write_edited_fixture(args.sf_dir, tempfile.mkdtemp(prefix="edited_fixture_"))
    cons = {d: oracle_connection(d) for d in (args.sf_dir, edited_dir)}
    checked = failed = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        sf = edited_dir if name in ON_EDITED_FIXTURE else args.sf_dir
        t0 = time.time()
        try:
            problems = check_query(cons[sf], name, fn(spark, sf), specs[name][1])
        except Exception as e:
            problems = [f"ERROR {str(e)[:200]}"]
        if problems:
            failed += 1
            print(f"✗ {name}: " + " | ".join(problems))
        else:
            print(f"✓ {name}: matches ({time.time() - t0:.1f}s)")

    print(json.dumps({"checked": checked, "failed": failed}))
    spark.stop()
    shutil.rmtree(edited_dir)
    return 1 if failed else 0


if __name__ == "__main__":
    # run as a script, sys.path[0] is tools/: put the repo root first so
    # __spark_entry__ and laradb_spark resolve to this checkout
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    raise SystemExit(main())
