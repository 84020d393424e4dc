"""Expected results and result comparison for the correctness gate.

The gate runs after the timed phase: DuckDB answers the read templates'
twin SQL and the analytics entries' ``oracle_sql()`` over the same parquet
files the engine read. Results are compared as multisets of rows; each
row is compared as a multiset of values, so the engine's column order and
names need not match the twin's. Numbers compare as floats within a
relative tolerance, since the two engines sum in different orders.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os

from datagen import TABLES

REL_TOL = 1e-9
ABS_TOL = 1e-9


def connect(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


class Oracle:
    """DuckDB over the benchmark's input tables.

    Answers are cached in a JSON file named after a hash of the input
    files, so a later run on identical inputs skips DuckDB (the analytics
    oracles replay whole iterative algorithms and take ~15 s).
    """

    def __init__(self, data_dir: str, cache_dir: str) -> None:
        self.data_dir = data_dir
        self.con = None
        digest = hashlib.sha256()
        for t in TABLES:
            with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
                digest.update(f.read())
        os.makedirs(cache_dir, exist_ok=True)
        self.cache_path = os.path.join(cache_dir, f"oracle-{digest.hexdigest()[:16]}.json")
        try:
            with open(self.cache_path) as f:
                self._cache: dict[str, list] = json.load(f)
        except FileNotFoundError:
            self._cache = {}
        self._dirty = False

    def rows(self, sql: str) -> list:
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key not in self._cache:
            if self.con is None:
                self.con = connect(self.data_dir)
            self._cache[key] = [[_norm(v) for v in r] for r in self.con.execute(sql).fetchall()]
            self._dirty = True
        return self._cache[key]

    def close(self) -> None:
        if self.con is not None:
            self.con.close()
        if self._dirty:
            tmp = f"{self.cache_path}.{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(self._cache, f)
            os.replace(tmp, self.cache_path)


def _norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return str(v)


def _key(v):
    if isinstance(v, float):
        return (1, round(v, 6) if math.isfinite(v) else str(v))
    return (0, str(type(v).__name__), str(v))


def _row(r) -> tuple:
    return tuple(sorted((_norm(v) for v in r), key=_key))


def _same_value(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL) or (
            math.isnan(a) and math.isnan(b)
        )
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same_value(x, y) for x, y in zip(a, b))
    return a == b


def _same_row(a: tuple, b: tuple) -> bool:
    return len(a) == len(b) and all(_same_value(x, y) for x, y in zip(a, b))


def same_rows(got, want) -> bool:
    """True when ``got`` and ``want`` hold the same rows in any order."""
    if len(got) != len(want):
        return False
    ga = sorted((_row(r) for r in got), key=lambda r: [_key(v) for v in r])
    wa = sorted((_row(r) for r in want), key=lambda r: [_key(v) for v in r])
    if all(_same_row(a, b) for a, b in zip(ga, wa)):
        return True
    # values that straddle a rounding boundary can sort differently:
    # fall back to matching each row against any unmatched row
    pool = list(wa)
    for r in ga:
        hit = next((i for i, w in enumerate(pool) if _same_row(r, w)), None)
        if hit is None:
            return False
        pool.pop(hit)
    return True
