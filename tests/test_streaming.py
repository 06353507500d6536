"""Structured Streaming tests: batch≡stream window equivalence, watermark
late-data handling, custom stateful operator."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from laradb_spark.streaming import (
    session_window_agg,
    sliding_window_agg,
    stream_from_parquet_dir,
    tumbling_window_agg,
)
from laradb_spark.streaming.windows import run_stream_to_memory

EV_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.LongType()),  # epoch millis
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
])

H = 3_600_000
BASE = 1_700_000_000_000 - (1_700_000_000_000 % H)  # align to hour for stable windows


def _events(spark):
    rows = [
        (1, BASE + 5 * 60_000, 1, "click", 1.0),
        (2, BASE + 20 * 60_000, 1, "click", 2.0),
        (3, BASE + 70 * 60_000, 2, "view", 3.0),
        (4, BASE + 125 * 60_000, 1, "click", 4.0),
        (5, BASE + 200 * 60_000, 2, "view", 5.0),
    ]
    return spark.createDataFrame(rows, EV_SCHEMA)


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_stream"))
    _events(spark).coalesce(1).write.mode("overwrite").parquet(d)
    return d


def _sorted(rows):
    return sorted(tuple(r) for r in rows)


def test_tumbling_batch_stream_equivalence(spark, stream_dir):
    batch = tumbling_window_agg(spark.read.parquet(stream_dir))
    stream = tumbling_window_agg(stream_from_parquet_dir(spark, stream_dir, EV_SCHEMA))
    q = run_stream_to_memory(stream, "tumble_out", "complete")
    try:
        got = spark.sql("SELECT * FROM tumble_out").collect()
        assert _sorted(got) == _sorted(batch.collect())
        assert len(got) == 4  # (click: h0, h2) (view: h1, h3)
    finally:
        q.stop()


def test_sliding_batch_stream_equivalence(spark, stream_dir):
    batch = sliding_window_agg(spark.read.parquet(stream_dir))
    stream = sliding_window_agg(stream_from_parquet_dir(spark, stream_dir, EV_SCHEMA))
    q = run_stream_to_memory(stream, "slide_out", "complete")
    try:
        got = spark.sql("SELECT * FROM slide_out").collect()
        assert _sorted(got) == _sorted(batch.collect())
        # sliding 60/30: each event in 2 windows
        assert sum(r.n for r in got) == 10
    finally:
        q.stop()


def test_session_batch_stream_equivalence(spark, stream_dir):
    batch = session_window_agg(spark.read.parquet(stream_dir))
    stream = session_window_agg(stream_from_parquet_dir(spark, stream_dir, EV_SCHEMA))
    q = run_stream_to_memory(stream, "sess_out", "complete")
    try:
        got = spark.sql("SELECT * FROM sess_out").collect()
        assert _sorted(got) == _sorted(batch.collect())
        # user1: events at 5,20 (one session), 125 (new); user2: 70, 200 separate
        assert len(got) == 5 - 1
    finally:
        q.stop()


def test_watermark_drops_late_data(spark, tmp_path):
    """Append mode + watermark: a row arriving after the watermark passed
    its window is dropped (late-data contract)."""
    d = str(tmp_path / "late_stream")
    os.makedirs(d)
    f1 = _events(spark).filter(F.col("event_id").isin([1, 5]))  # t=0:05 and t=3:20
    f1.coalesce(1).write.mode("overwrite").parquet(d)

    stream = tumbling_window_agg(
        stream_from_parquet_dir(spark, d, EV_SCHEMA), watermark="10 minutes"
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .start()
    )
    try:
        q.processAllAvailable()
        # second file: late click at t=0:20 — watermark is 3:20-0:10=3:10,
        # way past window [0:00,1:00) → dropped.
        late = spark.createDataFrame([(9, BASE + 20 * 60_000, 1, "click", 99.0)], EV_SCHEMA)
        late.coalesce(1).write.mode("append").parquet(d)
        q.processAllAvailable()
        # and a fresh event to force final window emission
        fresh = spark.createDataFrame([(10, BASE + 6 * H, 1, "click", 1.0)], EV_SCHEMA)
        fresh.coalesce(1).write.mode("append").parquet(d)
        q.processAllAvailable()
        got = {(r.window_start_ms, r.event_type): (r.n, r.sum_value)
               for r in spark.sql("SELECT * FROM late_out").collect()}
        # window h0/click was finalized with ONLY the original event (n=1);
        # the late 99.0 never appears.
        assert got[(BASE, "click")] == (1, 1.0)
        assert all(v[1] != 99.0 and v[1] != 100.0 for v in got.values())
    finally:
        q.stop()


def test_stateful_running_total(spark, stream_dir):
    from laradb_spark.streaming.stateful import running_total_with_alerts

    stream = stream_from_parquet_dir(spark, stream_dir, EV_SCHEMA).select("user_id", "value")
    out = running_total_with_alerts(stream, threshold=6.0)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {r.user_id: (r.cum_value, r.cum_events, r.alert)
                for r in spark.sql("SELECT * FROM stateful_out").collect()}
        assert rows[1] == (7.0, 3, True)   # 1+2+4 crosses 6.0
        assert rows[2] == (8.0, 2, True)
    finally:
        q.stop()


def test_stateful_idle_session_close(spark, tmp_path):
    """Processing-time timeout: a key silent past the idle gap gets its
    closed-session row emitted by a timer batch and its state removed.

    NOTE: with ProcessingTimeTimeout the engine runs continuous timer
    micro-batches, so ``processAllAvailable()`` never quiesces — poll the
    sink with a deadline instead."""
    import time

    from laradb_spark.streaming.stateful import idle_session_close

    d = str(tmp_path / "idle_events")
    spark.createDataFrame(
        [(1, BASE, 1, "click", 2.0), (2, BASE, 1, "click", 3.0)], EV_SCHEMA
    ).coalesce(1).write.parquet(d)

    stream = (
        spark.readStream.schema(EV_SCHEMA).parquet(d).select("user_id", "value")
    )
    out = idle_session_close(stream, idle_gap_ms=2_000)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("idle_out")
        .start()
    )

    def poll(pred, deadline=90):
        t0 = time.time()
        rows = []
        while time.time() - t0 < deadline:
            rows = spark.sql("SELECT * FROM idle_out").collect()
            if pred(rows):
                return rows
            time.sleep(0.5)
        raise TimeoutError(f"sink never satisfied predicate: {rows}")

    try:
        opened = poll(lambda rs: any(r.user_id == 1 and not r.closed for r in rs))
        r = next(r for r in opened if r.user_id == 1 and not r.closed)
        assert (r.n_events, r.sum_value) == (2, 5.0)
        closed = poll(lambda rs: any(r.user_id == 1 and r.closed for r in rs))
        r = next(r for r in closed if r.user_id == 1 and r.closed)
        assert (r.n_events, r.sum_value) == (2, 5.0)
    finally:
        q.stop()
