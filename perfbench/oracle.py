"""Result checking: engine-neutral value hashes and DuckDB expectations.

The comparison rules are those of tools/correctness_all.py, copied so
the benchmark's verdict cannot change when that script does: columns
are compared sorted by name, values canonicalized (decimals and floats
unified and printed with repr, temporals stringified, containers
recursed), rows sorted with a None-safe key, then sha256-hashed.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os

from perfbench.datagen import TABLES


def canon(v):
    """Engine-neutral canonical form of one cell value."""
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v + 0.0)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return str(v)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return v


def _row_key(row):
    return tuple((v is None, str(type(v)), str(v)) for v in row)


def value_hash(columns, rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, each
    row canonicalized, rows sorted, then hashed with the column list."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon_rows = [tuple(canon(r[i]) for i in order) for r in rows]
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for row in sorted(canon_rows, key=_row_key):
        h.update(repr(row).encode())
    return h.hexdigest()


class Oracle:
    """DuckDB expectations over one dataset directory, cached on disk.

    ``expect(name, sql)`` returns (rows, hash); the cache key includes
    the SQL text, so an edited oracle is recomputed.
    """

    def __init__(self, data_dir: str, cache_path: str):
        self.data_dir = data_dir
        self.cache_path = cache_path
        self._con = None
        try:
            with open(cache_path) as f:
                self._cache = json.load(f)
        except (OSError, ValueError):
            self._cache = {}

    def _connect(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return self._con

    def expect(self, name: str, sql: str) -> tuple[int, str]:
        key = name + ":" + hashlib.sha256(sql.encode()).hexdigest()
        hit = self._cache.get(key)
        if hit is None:
            res = self._connect().execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            hit = [len(rows), value_hash(cols, rows)]
            self._cache[key] = hit
        return hit[0], hit[1]

    def save(self) -> None:
        tmp = self.cache_path + f".tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(self._cache, f)
        os.replace(tmp, self.cache_path)
        if self._con is not None:
            self._con.close()
            self._con = None
