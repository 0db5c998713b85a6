"""Order-insensitive result hashes and the DuckDB oracle.

A result is hashed from its sorted column names and the sorted multiset of
its normalized rows, so a Spark result and a DuckDB result hash the same
exactly when they hold the same rows.  Normalization follows the engine's
differential test gate: floats are compared to 9 decimals, integral floats
equal their integers, timestamps to the second.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
from collections.abc import Sequence


def _norm(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, 9)
        return int(r) if r.is_integer() and abs(r) < 2**53 else r
    if isinstance(v, int):
        return v
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="seconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((_norm(k), _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def result_hash(columns: Sequence[str], rows: Sequence[Sequence]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    head = ",".join(columns[i] for i in order)
    return hashlib.md5("\n".join([head, *lines]).encode()).hexdigest()


def spark_hash(rows, columns: Sequence[str]) -> str:
    """Hash of collected Spark rows (`df.collect()` plus `df.columns`)."""
    return result_hash(list(columns), [tuple(r) for r in rows])


class Oracle:
    """DuckDB over the same parquet tables the engine reads."""

    def __init__(self, data_dir: str, tables: Sequence[str]):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def hash(self, sql: str) -> str:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return result_hash(cols, cur.fetchall())

    def close(self) -> None:
        self.con.close()
