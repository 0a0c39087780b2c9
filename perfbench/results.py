"""Result checking: canonical result hashes and the DuckDB oracle.

A result is reduced to a hash that does not depend on column order, row
order or the engine that produced it: columns are sorted by name, every
value is rendered to one canonical text form (integral numbers as integers,
other floats by their shortest round-trip repr, decimals normalised,
timestamps in ISO form, NULL and NaN alike), and the rendered rows are
sorted before hashing. The same function hashes a Spark result fetched with
``toPandas`` and a DuckDB result, so a timed Spark result can be compared
with the oracle's answer by hash alone.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os
from collections.abc import Iterable, Sequence
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

_NULL = "\x00NULL"


def _render(v) -> str:
    if v is None or v is pd.NaT:
        return _NULL
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return _NULL
        if f.is_integer() and abs(f) < 2**53:
            return str(int(f))
        return repr(f)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return str(int(v))
        return format(v.normalize(), "f")
    if isinstance(v, str):
        return v
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None).isoformat()
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, np.datetime64):
        return _render(pd.Timestamp(v))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_render(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_render(x) for x in v) + "]"
    return repr(v)


def canonical_hash(columns: Sequence[str], rows: Iterable[Sequence]) -> tuple[str, int]:
    """(hash, row count) of a result, independent of column and row order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\t".join(_render(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\t".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest(), len(lines)


def frame_hash(pdf: pd.DataFrame) -> tuple[str, int]:
    return canonical_hash(list(pdf.columns), pdf.itertuples(index=False, name=None))


class Oracle:
    """DuckDB over the corpus parquet files, one view per table.

    Oracle answers are hashed and cached under ``cache_dir`` keyed by the
    corpus and the exact oracle SQL, so a changed oracle is re-run and an
    unchanged one is evaluated once per corpus."""

    def __init__(self, corpus: Path, tables: Iterable[str], cache_dir: Path):
        self.corpus = corpus
        self.cache_dir = cache_dir
        self._tables = tuple(tables)
        self._con: duckdb.DuckDBPyConnection | None = None

    def _connect(self) -> duckdb.DuckDBPyConnection:
        if self._con is None:
            con = duckdb.connect()
            con.execute("SET threads = 2")
            con.execute("SET memory_limit = '1GB'")
            for t in self._tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.corpus / t}.parquet'")
            self._con = con
        return self._con

    def answer(self, sql: str) -> tuple[str, int]:
        key = hashlib.sha256(f"{self.corpus.name}\n{sql}".encode()).hexdigest()[:24]
        path = self.cache_dir / f"{key}.json"
        if path.exists():
            cached = json.loads(path.read_text())
            return cached["hash"], cached["rows"]
        rel = self._connect().sql(sql)
        digest, n = canonical_hash(list(rel.columns), rel.fetchall())
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(f".{os.getpid()}.tmp")
        tmp.write_text(json.dumps({"hash": digest, "rows": n}))
        os.replace(tmp, path)
        return digest, n

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
