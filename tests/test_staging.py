"""The build-once staging contract (`mutable_spark/staging.py`) and the
derived on-disk copies built on it: relayouts, IMPORT stores, format
round-trip fixtures and the TPC-H DSV export."""

from __future__ import annotations

import glob
import os
import shutil
import sys
import threading
import time
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from mutable_spark import registry, staging
from tests.conftest import SF_DIR

registry.load_all()


@pytest.fixture
def root(tmp_path, monkeypatch):
    r = tmp_path / "staged"
    monkeypatch.setenv("SPARK_GRAFT_RELAYOUT_DIR", str(r))
    return r


def _counting_write(calls: list):
    def write(tmp):
        calls.append(tmp)
        os.makedirs(tmp)
        Path(tmp, "part-0").write_text("x")

    return write


def _copies(root: Path) -> list[str]:
    return sorted(p.name for p in root.iterdir()) if root.exists() else []


def test_second_call_does_not_write(root, tmp_path):
    src = tmp_path / "src.bin"
    src.write_text("abc")
    calls: list = []
    first = staging.staged("t", [src], "r1", _counting_write(calls))
    second = staging.staged("t", [src], "r1", _counting_write(calls))
    assert first == second and Path(first).parent == root
    assert len(calls) == 1
    assert Path(first, "part-0").read_text() == "x"


def test_rewritten_source_rebuilds(root, tmp_path):
    src = tmp_path / "src.bin"
    src.write_text("abc")
    calls: list = []
    a = staging.staged("t", [src], "r1", _counting_write(calls))
    src.write_text("abcd")  # new size
    b = staging.staged("t", [src], "r1", _counting_write(calls))
    st = src.stat()
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))  # new mtime_ns only
    c = staging.staged("t", [src], "r1", _counting_write(calls))
    assert len({a, b, c}) == 3 and len(calls) == 3
    # a different recipe over the same source is a different copy too
    assert staging.staged("t", [src], "r2", _counting_write(calls)) != c


def test_racing_threads_share_one_complete_copy(root, tmp_path):
    src = tmp_path / "src.bin"
    src.write_text("abc")
    calls: list = []

    def slow_write(tmp):
        _counting_write(calls)(tmp)
        time.sleep(0.2)
        Path(tmp, "part-1").write_text("y")

    n = 2 * (os.cpu_count() or 1) + 2
    barrier = threading.Barrier(n)
    got: list = []

    def race():
        barrier.wait(timeout=30)
        got.append(staging.staged("t", [src], "r1", slow_write))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=race) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == n and len(set(got)) == 1
    assert sorted(os.listdir(got[0])) == ["part-0", "part-1"]
    assert len(calls) == 1
    assert _copies(root) == [Path(got[0]).name]


def test_failed_write_leaves_nothing(root, tmp_path):
    src = tmp_path / "src.bin"
    src.write_text("abc")

    def broken(tmp):
        _counting_write([])(tmp)
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError, match="write failed"):
        staging.staged("t", [src], "r1", broken)
    assert _copies(root) == []


def test_failed_relayout_and_import_fall_back_to_source(spark, root, tmp_path, monkeypatch):
    from mutable_spark import catalog
    from mutable_spark.sources import dsv
    import pyspark.sql.functions as F

    # one row group, enough rows to relayout; a session whose read fails
    src = tmp_path / "lineitem.parquet"
    shutil.copy(Path(SF_DIR) / "lineitem.parquet", src)

    class NoRead:
        @property
        def read(self):
            raise RuntimeError("read failed")

    assert catalog._maybe_relayout(NoRead(), src) == str(src)
    assert _copies(root) == []

    # an IMPORT whose frame fails mid-write: the CSV-backed frame comes back
    monkeypatch.setattr(dsv, "_MATERIALIZE_MIN_BYTES", 1)
    dsv_file = tmp_path / "t.tbl"
    dsv_file.write_text("1|a\n2|b\n")
    df = spark.range(100).select(
        F.when(F.col("id") > 50, F.raise_error(F.lit("boom"))).otherwise(F.col("id")).alias("x")
    )
    assert dsv.materialize_import(spark, df, str(dsv_file), "k") is df
    assert _copies(root) == []


# -- stale copies after the source is rewritten in the same process ---------

def _halve(path: Path) -> int:
    """Rewrite ``path`` in place with its first half of rows; return that count."""
    t = pq.read_table(path)
    t = t.slice(0, t.num_rows // 2)
    pq.write_table(t, path)
    return t.num_rows


@pytest.fixture
def sf_copy(tmp_path, root):
    d = tmp_path / "sf"
    shutil.copytree(SF_DIR, d)
    return d


def _n_docs(spark, path: str) -> int:
    return spark.read.orc(path).count()


def _n_csv(spark, path: str) -> int:
    from mutable_spark.sources.jsonl import DOCUMENTS_SCHEMA

    return spark.read.options(header=True, quote='"', escape='"').schema(DOCUMENTS_SCHEMA).csv(path).count()


def _n_jsonl(spark, path: str) -> int:
    from mutable_spark.sources.jsonl import DOCUMENTS_SCHEMA, read_jsonl

    return read_jsonl(spark, path, DOCUMENTS_SCHEMA)[0].count()


def _n_bin(spark, path: str) -> int:
    return len(glob.glob(os.path.join(path, "*.bin")))


def _bin_expected(t) -> int:
    ids, texts = t["doc_id"].to_pylist(), t["text"].to_pylist()
    return sum(d % 20 == 0 and x is not None for d, x in zip(ids, texts))


_STAGED_SOURCES = {
    "orc": ("mutable_spark.sources.orc", "_ensure_orc", "documents", _n_docs, None),
    "csv": ("mutable_spark.sources.csv", "_ensure_csv", "documents", _n_csv, None),
    "jsonl": ("mutable_spark.sources.jsonl", "_ensure_jsonl", "documents", _n_jsonl, None),
    "partitioning": (
        "mutable_spark.sources.partitioning",
        "_ensure_date_partitioned",
        "events",
        lambda spark, p: spark.read.parquet(p).count(),
        None,
    ),
    "binary": ("mutable_spark.sources.binary", "_ensure_bindir", "documents", _n_bin, _bin_expected),
}


@pytest.mark.parametrize("kind", sorted(_STAGED_SOURCES))
def test_staged_source_copy_follows_rewritten_source(spark, sf_copy, kind):
    import importlib

    module, fn, table, count, expected = _STAGED_SOURCES[kind]
    ensure = getattr(importlib.import_module(module), fn)
    src = sf_copy / f"{table}.parquet"
    before = ensure(spark, str(sf_copy))
    count(spark, before)  # the first copy is complete and readable
    n = _halve(src)
    if expected is not None:
        n = expected(pq.read_table(src))
    after = ensure(spark, str(sf_copy))
    assert after != before
    assert count(spark, after) == n


def test_tpch_dsv_export_follows_rewritten_testdata(spark, sf_copy):
    from mutable_spark.plans.dialect_tpch import _data_dir

    def n_region(data: str) -> int:
        return spark.read.csv(os.path.join(data, "region")).count()

    assert n_region(_data_dir(spark, str(sf_copy))) == 5
    n = _halve(sf_copy / "region.parquet")
    assert n_region(_data_dir(spark, str(sf_copy))) == n


# -- IMPORT staging -----------------------------------------------------------

def test_import_stages_one_parquet_store(spark, root, monkeypatch):
    from mutable_spark.plans.dialect_tpch import _data_dir, _engine_with_schema
    from mutable_spark.sources import dsv

    orders = os.path.join(_data_dir(spark, SF_DIR), "orders")

    def imported():
        eng = _engine_with_schema(spark)
        eng.execute(f'IMPORT INTO Orders DSV "{orders}" DELIMITER "|"')
        return eng.execute("SELECT * FROM Orders")

    csv_backed = imported()
    assert all(".csv" in f for f in csv_backed.inputFiles())
    assert not [c for c in _copies(root) if c.startswith("import-orders-")]

    monkeypatch.setattr(dsv, "_MATERIALIZE_MIN_BYTES", 1)
    first, second = imported(), imported()
    stores = [c for c in _copies(root) if c.startswith("import-orders-")]
    assert len(stores) == 1
    for df in (first, second):
        files = df.inputFiles()
        assert files and all(f.endswith(".parquet") and stores[0] in f for f in files)
    assert sorted(first.collect()) == sorted(csv_backed.collect())


# -- one staging root ---------------------------------------------------------

def test_staged_copies_stay_under_the_staging_root(spark, root):
    names = (
        "source_csv_roundtrip",
        "source_orc_roundtrip",
        "source_jsonl_roundtrip",
        "source_partitioned_scan",
        "source_binary_scan",
    )
    before = set(glob.glob("/tmp/mutable_spark_*"))
    for name in names:
        registry.QUERIES[name](spark, SF_DIR).collect()
    assert set(glob.glob("/tmp/mutable_spark_*")) == before
    copies = _copies(root)
    assert not [c for c in copies if c.startswith(".build-")]
    for prefix in ("csv-docs-", "orc-docs-", "jsonl-docs-", "events-by-date-", "bin-docs-"):
        assert [c for c in copies if c.startswith(prefix)], (prefix, copies)
