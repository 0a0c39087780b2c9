from __future__ import annotations

import os

import duckdb
import pytest

from mutable_spark.session import get_spark

SF_DIR = os.environ.get("MS_TEST_SF_DIR", "/root/testdata/sf0.001")
#: the directory holding every testdata scale: sf0.001, sf0.01 and sf0.1
TESTDATA = os.path.dirname(SF_DIR.rstrip("/"))

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


@pytest.fixture(scope="session")
def spark():
    s = get_spark("mutable_spark-tests", cpus=int(os.environ.get("MS_TEST_CPUS", "8")))
    yield s


@pytest.fixture
def root(tmp_path, monkeypatch):
    """An empty staging root (`mutable_spark/staging.py`) for one test."""
    r = tmp_path / "staged"
    monkeypatch.setenv("SPARK_GRAFT_RELAYOUT_DIR", str(r))
    return r


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()
