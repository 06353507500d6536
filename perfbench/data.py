"""Seeded input generators for the benchmark workloads.

Every table copies the shape of the fixture table the registry queries
read (``documents``, ``embeddings``, ``events``, ``orders``), so the
library sees ordinary inputs and never the seed. Tables are written with
pyarrow, not Spark, so generation launches no Spark job and stays out of
the engine metrics.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The fixture corpus draws every word from this 30-word vocabulary.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# bench_scale_probe's recipe: copies keep disjoint keys by this id shift.
ID_OFFSET = 1_000_000_000
_EPOCH_2024_US = 1_704_067_200_000_000
_MONTH_US = 30 * 86_400_000_000


def documents(rng: np.random.Generator, n: int, id_base: int = 0) -> pa.Table:
    """``n`` docs of 10-100 vocabulary words; every 20th doc repeats an
    earlier doc's text plus `` dup``, the fixture's near-duplicate rate."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for i, ln in enumerate(lens):
        if i >= 20 and i % 20 == 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    ids = np.arange(id_base, id_base + n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` unit-norm float32 vectors of the fixture's 64 dimensions."""
    x = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, N_LABELS, n).astype(np.int32),
    })


def events(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` time-ordered events over one month, 1.5% as many users."""
    ts = np.sort(rng.integers(0, _MONTH_US, n)) + _EPOCH_2024_US
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, int(n * 0.015)), n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n).tolist(),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def orders(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` orders over 1995-2001 for n/10 customers."""
    start = 788_918_400_000_000  # 1995-01-01
    days = rng.integers(0, 2404, n).astype(np.int64) * 86_400_000_000
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, max(1, n // 10), n).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n).tolist(),
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n), 2),
        "o_orderdate": pa.array(start + days, type=pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
        ).tolist(),
    })


def sensor(rng: np.random.Generator, rows: int, classes: int) -> pa.Table:
    """One (t, c, v) sensor table in the shape ``tools/bench_sensor.py``
    generates: ~``classes`` classes, irregular times over 31 days."""
    t0, span = 1_484_000_000_000, 31 * 86_400_000
    return pa.table({
        "t": (t0 + rng.integers(0, span, rows)).astype(np.int64),
        "c": pa.array([f"class_{i}" for i in range(classes)]).take(
            pa.array(rng.integers(0, classes, rows))
        ),
        "v": rng.integers(0, 10_000, rows) / 100.0,
    })


def replicate(table: pa.Table, factor: int, id_col: str, rng: np.random.Generator) -> pa.Table:
    """``tools/bench_scale_probe.py``'s 10× recipe: ``factor`` copies with
    ids shifted by ``ID_OFFSET`` and, when the table has text, one
    seed-drawn token appended per copy so copies are near-duplicates
    rather than exact ones."""
    parts = []
    for i in range(factor):
        c = table.set_column(
            table.schema.get_field_index(id_col), id_col,
            pc.add(table[id_col], i * ID_OFFSET),
        )
        if "text" in c.column_names and i > 0:
            tag = f" {VOCAB[int(rng.integers(0, len(VOCAB)))]}{int(rng.integers(0, 1000))}"
            text = pc.binary_join_element_wise(c["text"], pa.scalar(tag), "")
            c = c.set_column(c.schema.get_field_index("text"), "text", text)
            c = c.set_column(
                c.schema.get_field_index("n_chars"), "n_chars",
                pc.utf8_length(text).cast(pa.int64()),
            )
        parts.append(c)
    return pa.concat_tables(parts)


def write(table: pa.Table, path: str) -> None:
    """Write one parquet file at ``path`` (parent directories created)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
