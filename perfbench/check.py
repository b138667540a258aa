"""Output check: each query's result against its DuckDB ``oracle_sql()``.

Results and oracle rows are canonicalized the way the driver's verify
does it (columns sorted by name, rows sorted by every column) and
compared value by value, floats with a 1e-9 tolerance, so a last-digit
rounding difference is not counted as a wrong answer. The canonical
oracle frame is cached on disk per input digest and per SQL text,
because it depends on neither the Spark code nor the run.

:func:`prefetch` fills the cache from a child process, so DuckDB's
memory is gone before the timed passes start.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import subprocess
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def input_digest(data_dir: str) -> str:
    h = hashlib.sha1()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _cell(v):
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple, dict, bytes, bytearray)):
        return repr(v)
    return v


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(_cell)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def same_values(left: pd.DataFrame, right: pd.DataFrame) -> bool:
    if list(left.columns) != list(right.columns) or len(left) != len(right):
        return False
    for c in left.columns:
        lv, rv = left[c].to_numpy(), right[c].to_numpy()
        if left[c].dtype.kind in "fc" or right[c].dtype.kind in "fc":
            for a, b in zip(lv, rv):
                if pd.isna(a) and pd.isna(b):
                    continue
                try:
                    if not math.isclose(float(a), float(b), rel_tol=1e-9,
                                        abs_tol=1e-9):
                        return False
                except (TypeError, ValueError):
                    return False
        elif not all(a == b or (pd.isna(a) and pd.isna(b))
                     for a, b in zip(lv, rv)):
            return False
    return True


class Oracle:
    """DuckDB oracle results for one input directory, cached on disk."""

    def __init__(self, data_dir: str, cache_dir: str):
        self.data_dir = data_dir
        self.cache_dir = os.path.join(cache_dir, input_digest(data_dir))
        os.makedirs(self.cache_dir, exist_ok=True)
        self._con = None
        self._mem: dict[str, pd.DataFrame] = {}

    def _duck(self) -> duckdb.DuckDBPyConnection:
        if self._con is None:
            # two threads: the prefetch runs beside the untimed warm pass
            self._con = duckdb.connect(config={"threads": 2})
            for t in TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.data_dir}/{t}.parquet')"
                )
        return self._con

    def expected(self, sql: str) -> pd.DataFrame:
        key = hashlib.sha1(sql.encode()).hexdigest()[:16]
        if key not in self._mem:
            path = os.path.join(self.cache_dir, f"{key}.pkl")
            if os.path.exists(path):
                frame = pd.read_pickle(path)
            else:
                frame = canon(self._duck().execute(sql).fetchdf())
                frame.to_pickle(path + ".tmp")
                os.replace(path + ".tmp", path)
            self._mem[key] = frame
        return self._mem[key]

    def matches(self, result: pd.DataFrame, sql: str) -> bool:
        return same_values(canon(result), self.expected(sql))

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


def prefetch(data_dir: str, cache_dir: str, sqls: list[str]) -> subprocess.Popen:
    """Start a child process that caches the oracle rows of ``sqls``."""
    proc = subprocess.Popen([sys.executable, os.path.abspath(__file__),
                             data_dir, cache_dir], stdin=subprocess.PIPE,
                            text=True)
    proc.stdin.write(json.dumps(sqls))
    proc.stdin.close()
    return proc


if __name__ == "__main__":
    oracle = Oracle(sys.argv[1], sys.argv[2])
    for sql in json.load(sys.stdin):
        oracle.expected(sql)
    oracle.close()
