"""Output checks, run outside every timed region.

Results are compared with an independent computation: the DuckDB SQL
each registered query declares in ``registry.all_oracles()``, run on
the same snapshot. Comparison is order-insensitive: same column names,
same row count, same rows after rounding floats to 9 digits.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import pandas as pd
import pyarrow.dataset as ds

from inputs import TABLES


def duckdb_on(snapshot: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{snapshot}/{t}.parquet'")
    return con


def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, pd.Timestamp):
        return v.tz_localize(None) if v.tzinfo else v
    if isinstance(v, pd.Timedelta):
        return v.total_seconds()
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return _canon(v.asDict())
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_canon(x) for x in v)
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        v = v.item()  # numpy scalar
    if isinstance(v, float):
        return round(v, 9)
    return v


def _rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted((tuple(_canon(x) for x in row) for row in df[cols].itertuples(index=False)), key=repr)


def _close(a: tuple, b: tuple) -> bool:
    return len(a) == len(b) and all(
        x == y or (isinstance(x, float) and isinstance(y, float) and math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9))
        for x, y in zip(a, b)
    )


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows; otherwise what differs."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    bad = [(a, b) for a, b in zip(_rows(got), _rows(want)) if not _close(a, b)]
    return f"{len(bad)} rows differ, first {bad[0]}" if bad else None


def read_table(path: str) -> pd.DataFrame:
    """A Spark-written parquet directory, without Spark."""
    return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()


def parquet_files(path: str) -> dict[str, tuple[int, int]]:
    """(size, mtime_ns) of each parquet file under ``path``."""
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                st = os.stat(os.path.join(root, n))
                out[os.path.join(root, n)] = (st.st_size, st.st_mtime_ns)
    return out


def parquet_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet files under ``path``."""
    files = parquet_files(path)
    return sum(size for size, _ in files.values()), len(files)


def parquet_rows(path: str) -> int:
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


class Checks:
    """Records each output check as one attempted operation."""

    def __init__(self):
        self.results: list[tuple[str, str | None]] = []

    def add(self, name: str, problem: str | None) -> None:
        self.results.append((name, problem))

    def run(self, name: str, fn) -> None:
        try:
            self.add(name, fn())
        except Exception as e:  # a check that cannot run has failed
            self.add(name, f"{type(e).__name__}: {e}"[:300])

    @property
    def failed(self) -> list[tuple[str, str]]:
        return [(n, p) for n, p in self.results if p is not None]


def digest(ids) -> str:
    return hashlib.sha256(",".join(map(str, sorted(ids))).encode()).hexdigest()[:16]
