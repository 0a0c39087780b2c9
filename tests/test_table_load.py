"""Loading catalog tables submits no Spark job: relayout copies are written
on the driver with pyarrow, and read schemas come from parquet footers
(`catalog.footer_schema`), falling back to Spark's inference for footer
types the mapping does not cover."""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
import pyspark.sql.functions as F

from mutable_spark import catalog
from mutable_spark.session import state
from mutable_spark.sources.dsv import read_dsv
from tests.conftest import SF_DIR, TABLES


def _jobs(spark) -> int:
    """Jobs the session has submitted, once the listener bus has caught up."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore().jobsList(None).size()


def _same_rows(a, b) -> bool:
    return a.count() == b.count() and a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_load_tables_submits_no_job(spark, root, monkeypatch):
    monkeypatch.setattr(state(spark), "frames", {})
    before = _jobs(spark)
    first = catalog.load_tables(spark, SF_DIR)
    assert _jobs(spark) == before, "cold load_tables ran Spark jobs"
    assert [p.name for p in root.iterdir() if p.name.startswith("relayout-lineitem-")]

    # as a new session over the staged root: no frame cached
    monkeypatch.setattr(state(spark), "frames", {})
    before = _jobs(spark)
    second = catalog.load_tables(spark, SF_DIR)
    assert _jobs(spark) == before, "warm load_tables ran Spark jobs"
    for name in TABLES:
        assert getattr(second, name) is not getattr(first, name)
        assert getattr(second, name).schema == getattr(first, name).schema


@pytest.mark.parametrize("name", TABLES)
def test_footer_schema_equals_inferred(spark, root, name):
    src = Path(SF_DIR) / f"{name}.parquet"
    for path in (str(src), catalog._maybe_relayout(src)):
        assert catalog.footer_schema(path) == spark.read.parquet(path).schema, path


def test_uncovered_footer_types_load_with_the_inferred_schema(spark, root, tmp_path):
    n = 2 * catalog._RELAYOUT_MIN_ROWS  # enough rows to relayout too
    t0 = dt.datetime(2024, 1, 1)
    table = pa.table(
        {
            "id": pa.array(range(n), pa.int64()),
            "ts": pa.array([t0 + dt.timedelta(seconds=i) for i in range(n)], pa.timestamp("ns")),
            "u": pa.array([(1 << 32) - 1 - i for i in range(n)], pa.uint32()),
        }
    )
    sf = tmp_path / "legacy"
    sf.mkdir()
    src = sf / "legacy.parquet"
    pq.write_table(table, src, use_deprecated_int96_timestamps=True)
    assert catalog.footer_schema(src) is None

    copy = catalog._maybe_relayout(src)
    assert copy != str(src)
    assert catalog.footer_schema(copy) is None  # the copy keeps INT96
    df = catalog.load_table(spark, str(sf), "legacy")
    raw = spark.read.parquet(str(src))
    assert df.schema == raw.schema
    assert dict(df.dtypes) == {"id": "bigint", "ts": "timestamp", "u": "bigint"}
    assert _same_rows(df, raw)


def test_spark_written_footer_defers_to_inference(spark, tmp_path):
    # Spark stores its own schema in the footer, field metadata included,
    # and inference returns that schema rather than the parquet types
    path = str(tmp_path / "spark-written")
    spark.range(3).select(F.col("id").alias("id", metadata={"comment": "key"})).write.parquet(path)
    assert catalog.footer_schema(path) is None
    assert spark.read.parquet(path).schema["id"].metadata == {"comment": "key"}


@pytest.mark.parametrize("name", ["lineitem", "events"])
def test_relayout_splits_rows_unchanged(spark, root, monkeypatch, name):
    # sf0.001 events has 1000 rows: lower the floor so it is split too
    monkeypatch.setattr(catalog, "_RELAYOUT_MIN_ROWS", 100)
    monkeypatch.setattr(state(spark), "frames", {})
    src = Path(SF_DIR) / f"{name}.parquet"
    copy = catalog._maybe_relayout(src)
    parts = sorted(Path(copy).iterdir())
    assert [p.name for p in parts] == [f"part-{i:05d}.parquet" for i in range(catalog._RELAYOUT_PARTS)]
    assert sum(pq.read_metadata(p).num_rows for p in parts) == pq.read_metadata(src).num_rows
    loaded = catalog.load_table(spark, SF_DIR, name)
    assert loaded.inputFiles() and all(copy in f for f in loaded.inputFiles())

    # the same load served from the source file itself
    monkeypatch.setattr(catalog, "_RELAYOUT_MIN_ROWS", 1 << 62)
    monkeypatch.setattr(state(spark), "frames", {})
    direct = catalog.load_table(spark, SF_DIR, name)
    assert direct.inputFiles() == [src.resolve().as_uri()]
    assert loaded.schema == direct.schema
    assert _same_rows(loaded, direct)


def test_import_submits_no_job(spark, root):
    from mutable_spark.plans.dialect_tpch import _data_dir, _engine_with_schema

    data = _data_dir(spark, SF_DIR)  # the DSV export runs its own jobs

    def imported():
        eng = _engine_with_schema(spark)
        before = _jobs(spark)
        for table in ("Orders", "Lineitem"):
            eng.execute(f'IMPORT INTO {table} DSV "{data}/{table.lower()}" DELIMITER "|"')
        assert _jobs(spark) == before, "IMPORT ran Spark jobs"
        return eng

    cold = imported()
    assert len([p for p in root.iterdir() if p.name.startswith("import-")]) == 2
    warm = imported()  # served from the staged stores
    for table in ("Orders", "Lineitem"):
        schema = cold.catalog.record(table).schema
        parsed = read_dsv(spark, f"{data}/{table.lower()}", schema, delimiter="|")
        query = f"SELECT * FROM {table}"
        for eng in (cold, warm):
            assert eng.execute(query).schema == parsed.schema
            assert _same_rows(eng.execute(query), parsed)
