"""DuckDB oracle: the registry's reference SQL over the same parquet
files, and an order-insensitive comparison of two pandas frames.

The input tables are fixed (they do not depend on the workload seed),
so an oracle's answer is kept per checkout, keyed by the tables'
directory and the SQL text, and computed again only when either
changes.

Cells are compared after both sides went through pandas, with floats
compared by full ``repr`` (the engine's contract is bit-identical
doubles) and midnight timestamps folded to dates (DuckDB returns DATE
columns as midnight datetimes)."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


class OracleDB:
    def __init__(self, data_dir: str, cache_dir: str):
        self.data_dir, self.cache_dir = data_dir, cache_dir
        self.con = None

    def _connect(self):
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con

    def query(self, sql: str) -> pd.DataFrame:
        key = hashlib.sha256(f"{os.path.basename(self.data_dir)}\n{sql}".encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, f"{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        if self.con is None:
            self.con = self._connect()
        df = self.con.execute(sql).fetchdf()
        os.makedirs(self.cache_dir, exist_ok=True)
        df.to_pickle(f"{path}.tmp")
        os.replace(f"{path}.tmp", path)
        return df

    def close(self) -> None:
        if self.con is not None:
            self.con.close()


def _cell(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if v is None or v is pd.NaT or v is pd.NA:
        return "NULL"
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, decimal.Decimal):
        return ("DECIMAL", str(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime):
        if v.tzinfo is None and v.hour == v.minute == v.second == v.microsecond == 0:
            return v.date().isoformat()
        return v.isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _rows(df: pd.DataFrame) -> "list[tuple]":
    cols = sorted(df.columns)
    return sorted((tuple(_cell(v) for v in row) for row in df[cols].itertuples(index=False, name=None)),
                  key=repr)


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> "tuple[bool, str]":
    """Same column names and the same multiset of rows."""
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return False, f"rows {len(got)} != {len(want)}"
    a, b = _rows(got), _rows(want)
    if a != b:
        diff = [r for r in a if r not in set(b)][:2]
        return False, f"values differ, e.g. {diff}"
    return True, f"{len(a)} rows"
