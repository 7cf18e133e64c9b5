"""Output checks against DuckDB on the same parquet files.

Results are compared as an order-insensitive digest: every cell is put in one
canonical text form (floats to nine significant digits, temporal values as
the ISO text the NDJSON protocol serves, timestamps in naive UTC, decimals as
floats), rows are sorted and hashed. The DuckDB side of a
check depends only on the SQL and the corpus files, so its digest is cached
under the benchmark's work directory keyed by both; the program's side is
computed fresh in every run.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import os
from collections.abc import Iterable, Sequence
from typing import Any

import duckdb

from streams import NAMESPACE, TPCH_TABLES

#: every table the operator oracles read
CORPUS_TABLES = (*TPCH_TABLES, "events", "documents", "embeddings")
#: the explorer executor's default row cap
ROW_CAP = 10_000


def canonical_cell(value: Any) -> str:
    if value is None:
        return "null"
    if isinstance(value, bool):
        return f"b:{value}"
    if isinstance(value, int):
        return f"i:{value}"
    if isinstance(value, decimal.Decimal):
        value = float(value)
    if isinstance(value, float):
        return f"f:{value:.9g}"
    if isinstance(value, dt.datetime) and value.tzinfo is not None:
        value = value.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(value, (dt.date, dt.time)):
        # the ISO text the NDJSON protocol serves temporal values as
        value = value.isoformat()
    if isinstance(value, bytes):
        return f"x:{value.hex()}"
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(canonical_cell(v) for v in value) + "]"
    if isinstance(value, dict):
        return "{" + ",".join(
            f"{k}={canonical_cell(v)}" for k, v in sorted(value.items())
        ) + "}"
    return f"s:{value}"


def digest(columns: Sequence[str], rows: Iterable[Sequence[Any]]) -> dict:
    """Order-insensitive digest of a result: column names, row count, hash."""
    canon = sorted("\x1f".join(canonical_cell(v) for v in row) for row in rows)
    h = hashlib.sha256("\x1e".join(canon).encode())
    return {"columns": list(columns), "rows": len(canon), "sha256": h.hexdigest()}


def arrow_digest(table) -> dict:
    """Digest of a pyarrow table, columns sorted by name."""
    cols = sorted(table.column_names)
    data = table.select(cols).to_pylist()
    return digest(cols, ([row[c] for c in cols] for row in data))


def _corpus_stamp(corpus: str) -> str:
    """Identifies the oracle inputs: this module's code and the corpus files."""
    with open(__file__, "rb") as fh:
        parts = [hashlib.sha256(fh.read()).hexdigest()]
    for name in CORPUS_TABLES:
        st = os.stat(os.path.join(corpus, f"{name}.parquet"))
        parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts)


class Oracle:
    """DuckDB over one corpus directory, with a digest cache on disk."""

    def __init__(self, corpus: str, cache_path: str) -> None:
        self.corpus = corpus
        self.cache_path = cache_path
        self._stamp = _corpus_stamp(corpus)
        self._con: duckdb.DuckDBPyConnection | None = None
        try:
            with open(cache_path) as fh:
                self._cache: dict[str, dict] = json.load(fh)
        except (OSError, ValueError):
            self._cache = {}
        self._dirty = False

    def _connection(self) -> duckdb.DuckDBPyConnection:
        if self._con is None:
            con = duckdb.connect()
            con.execute(f"CREATE SCHEMA {NAMESPACE}")
            for name in CORPUS_TABLES:
                src = f"read_parquet('{os.path.join(self.corpus, name)}.parquet')"
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM {src}")
                con.execute(
                    f"CREATE VIEW {NAMESPACE}.{name} AS SELECT * FROM {src}"
                )
            self._con = con
        return self._con

    def expected(self, sql: str, *, arrow_columns_sorted: bool) -> dict:
        key = hashlib.sha256(
            f"{self._stamp}\x00{arrow_columns_sorted}\x00{sql}".encode()
        ).hexdigest()
        hit = self._cache.get(key)
        if hit is not None:
            return hit
        result = self._connection().execute(sql)
        if arrow_columns_sorted:
            want = arrow_digest(result.arrow())
        else:
            cols = [d[0] for d in result.description]
            want = digest(cols, result.fetchall())
        self._cache[key] = want
        self._dirty = True
        return want

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
        if self._dirty:
            tmp = f"{self.cache_path}.tmp"
            with open(tmp, "w") as fh:
                json.dump(self._cache, fh)
            os.replace(tmp, self.cache_path)
            self._dirty = False


def explorer_sql(sql: str) -> str:
    """The oracle form of an explorer query: the executor keeps the first
    ``ROW_CAP`` rows in the query's (total) order."""
    return f"{sql} LIMIT {ROW_CAP}"
