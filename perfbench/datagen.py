"""Deterministic input corpus for the benchmark.

Writes the ten tables the engine's catalog reads (``catalog.TABLE_NAMES``)
as one-row-group parquet files with the column names, types and value
domains of the engine's test data: a reduced TPC-H star schema, an
``events`` click stream, a ``documents`` text corpus with 5% near-duplicate
copies, and unit-norm 64-dimensional ``embeddings``. Every value comes from
one seeded generator, so the same ``(scale, seed)`` always yields the same
rows. Row counts follow the TPC-H scale factor (``scale=0.1`` gives 600,000
lineitem rows).

Beside the parquet files, ``dsv/<table>.tbl`` holds the seven TPC-H tables
as ``|``-separated text in the column order and types of
``benchmark/tpc-h/schema.sql`` (money as DECIMAL(10,2), DATETIME as
``yyyy-MM-ddTHH:mm:ss``): the files the dialect's ``IMPORT INTO … DSV``
statements read.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generator's output changes; part of the cache directory name
VERSION = 1

#: tables declared by benchmark/tpc-h/schema.sql, exported as DSV
DSV_TABLES = ("lineitem", "orders", "customer", "part", "supplier", "nation", "region")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_WEIGHTS = [0.14, 0.41, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _days(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def generate(scale: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at ``scale`` from one ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_events = int(1_000_000 * scale)
    n_users = max(int(15_000 * scale), 10)
    n_docs = max(int(50_000 * scale), 500)
    n_vecs = max(int(20_000 * scale), 500)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _keyed_names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _keyed_names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, rng),
        }
    )

    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": start + offsets.astype("timedelta64[us]"),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )

    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_WEIGHTS)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }
    )
    return out


def write_dsv(corpus: Path, out: Path) -> None:
    """Export the TPC-H tables of ``corpus`` as ``out/<table>.tbl``."""
    out.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        for name in DSV_TABLES:
            src = f"'{corpus / name}.parquet'"
            cols = []
            for col, typ, *_ in con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall():
                if typ == "DOUBLE":
                    cols.append(f"CAST({col} AS DECIMAL(10,2)) AS {col}")
                elif typ.startswith("TIMESTAMP"):
                    cols.append(f"strftime({col}, '%Y-%m-%dT%H:%M:%S') AS {col}")
                else:
                    cols.append(col)
            con.execute(
                f"COPY (SELECT {', '.join(cols)} FROM {src}) "
                f"TO '{out / name}.tbl' (DELIMITER '|', HEADER false)"
            )
    finally:
        con.close()


def ensure(root: Path, scale: float, seed: int) -> Path:
    """Directory holding the corpus for ``(scale, seed)``, generated on the
    first call and reused afterwards. Concurrent builders race on an atomic
    rename; the loser's copy is discarded."""
    dest = root / f"corpus-v{VERSION}-sf{scale:g}-seed{seed}"
    if (dest / "_SUCCESS").exists():
        return dest
    root.mkdir(parents=True, exist_ok=True)
    tmp = root / f".build-{dest.name}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    try:
        for name, table in generate(scale, seed).items():
            pq.write_table(table, tmp / f"{name}.parquet", row_group_size=max(table.num_rows, 1))
        write_dsv(tmp, tmp / "dsv")
        (tmp / "_SUCCESS").touch()
        os.rename(tmp, dest)
    except OSError:
        if not (dest / "_SUCCESS").exists():
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return dest

