"""Self-tests of the benchmark, at the tiny input size.

    python3 -m pytest perfbench/test_perfbench.py -q

One Spark session, with the event log on, serves every test. Each run
measures one round (``seconds=0``).
"""

from __future__ import annotations

import json
import math
import os
import time

import numpy as np
import pytest

from perfbench import data as D
from perfbench import run as R
from perfbench import workloads as W


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    events = os.path.join(work, "events")
    os.makedirs(events)
    spark = R.start_session(work, events)
    yield spark, work
    R.stop_session(spark)


_runs: dict[tuple, dict] = {}


def tiny_run(session, workload: str, seed: int, trace: bool) -> dict:
    key = (workload, seed, trace)
    if key not in _runs:
        spark, work = session
        _runs[key] = R.run(spark, workload, seed, 0, trace,
                           os.path.join(work, f"{workload}-s{seed}-t{int(trace)}"),
                           sizes=W.TINY, t_process_start=time.time())
    return _runs[key]


def benchmark_json() -> dict:
    with open(os.path.join(R.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_the_printed_metrics():
    spec = benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == R.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == R.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(W.WORKLOADS)


@pytest.mark.parametrize("trace", [False, True])
@pytest.mark.parametrize("workload", list(W.WORKLOADS))
def test_every_metric_with_its_unit(session, workload, trace):
    result = tiny_run(session, workload, 1, trace)["result"]
    units = R.per_layer_units() if trace else R.E2E_UNITS
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: m["unit"] for k, m in result["metrics"].items()} == units
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), name
        if not trace:
            assert m["value"] > 0, name


def test_wrong_output_row_is_a_failed_op(session, monkeypatch):
    collect = W.collect_rows
    calls = []

    def with_extra_row(df):
        cols, rows = collect(df)
        calls.append(df)
        if len(calls) == 1:  # only the first checked result is wrong
            rows = rows + [rows[0]] if rows else [tuple(range(len(cols)))]
        return cols, rows

    monkeypatch.setattr(W, "collect_rows", with_extra_row)
    record = tiny_run(session, "serve", 7, False)
    assert record["result"]["failed"] == 1 and not record["result"]["correct"]
    assert record["end_to_end"]["failed_op_ratio"]["value"] > 0


def test_seed_changes_inputs_not_metric_names(session):
    a = D.documents(np.random.default_rng(1), 50)
    b = D.documents(np.random.default_rng(2), 50)
    assert a["text"].to_pylist() != b["text"].to_pylist()
    assert a.equals(D.documents(np.random.default_rng(1), 50))
    one = tiny_run(session, "serve", 1, False)["result"]["metrics"]
    two = tiny_run(session, "serve", 2, False)["result"]["metrics"]
    assert list(one) == list(two)
