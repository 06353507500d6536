"""Output checks: a program result against a DuckDB oracle result.

The comparison is the order-insensitive value hash of the registry's
correctness gate, ``tools.check_correctness.table_hash``: same column
names, same row count, same multiset of rows with floats at 12
significant digits.
"""

from __future__ import annotations

import sys

_path = list(sys.path)
from tools.check_correctness import table_hash  # noqa: E402

# That module puts a fixed repo path first on ``sys.path``; keep the
# modules of the checkout under test first.
sys.path[:] = _path


def compare(cols: list[str], rows: list[tuple], ocols: list[str], orows: list[tuple]) -> "str | None":
    """``None`` when the two results are equal, else what differs."""
    cols, ocols = [c.lower() for c in cols], [c.lower() for c in ocols]
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"{len(rows)} rows != oracle {len(orows)}"
    if table_hash(cols, rows) != table_hash(ocols, orows):
        return "value hash differs from oracle"
    return None


def compare_close(key_cols: int, rows: list[tuple], orows: list[tuple], rel: float = 1e-9) -> "str | None":
    """Keyed comparison of the last column within ``rel`` of the largest
    oracle value, for float sums whose order differs between engines."""
    want = {tuple(r[:key_cols]): r[key_cols] for r in orows}
    got = {tuple(r[:key_cols]): r[key_cols] for r in rows}
    if len(got) != len(rows) or got.keys() != want.keys():
        return f"{len(rows)} rows with keys != oracle's {len(orows)}"
    tol = rel * max([1.0] + [abs(w) for w in want.values()])
    for k, w in want.items():
        if abs(got[k] - w) > tol:
            return f"{k}: {got[k]} != oracle {w}"
    return None


class Oracle:
    """DuckDB over the parquet files of one input directory, one view per
    table, the way the registry's oracle SQL expects them."""

    def __init__(self, data_dir: str, tables: list[str]):
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        rel = self.con.sql(sql)
        return list(rel.columns), rel.fetchall()

    def close(self) -> None:
        self.con.close()
