"""Row-count bounds on dialect tables (`dialect.engine.Table.rows`).

Every statement that writes a table keeps an upper bound on its row count
on the driver, without a Spark job; the compiler's grouped-sort gate
multiplies these bounds. A bound below the true count could send a large
sort to one task, so seeded random statement sequences check that the
bound never falls below ``count()`` and is exact wherever it should be."""

from __future__ import annotations

import random

import pytest

from mutable_spark import staging
from mutable_spark.dialect import Engine
from mutable_spark.session import local_frame


def _engine(spark) -> Engine:
    eng = Engine(spark)
    eng.execute("CREATE DATABASE bounds")
    eng.execute("USE bounds")
    eng.execute("CREATE TABLE t (k INT(4), v CHAR(4))")
    return eng


def _dsv(tmp_path, name: str, rows: list[tuple[int, str]]) -> str:
    f = tmp_path / name
    f.write_text("".join(f"{k}|{v}\n" for k, v in rows))
    return str(f)


@pytest.mark.parametrize("seed", range(3))
def test_bound_is_never_below_the_row_count(spark, root, tmp_path, seed):
    """CREATE, INSERT, IMPORT, UPDATE and unfiltered DELETE keep the bound
    exact; a filtered DELETE keeps the old bound, an upper bound."""
    rng = random.Random(seed)
    eng = _engine(spark)
    t = eng.catalog.record("t")
    assert t.rows == 0
    exact = True
    for i in range(8):
        op = rng.choice(("insert", "import", "update", "delete", "delete"))
        rows = [(rng.randrange(20), rng.choice("abc")) for _ in range(rng.randint(1, 6))]
        if op == "insert":
            values = ", ".join(f'({k}, "{v}")' for k, v in rows)
            eng.execute(f"INSERT INTO t VALUES {values}")
        elif op == "import":
            path = _dsv(tmp_path, f"s{seed}_{i}.tbl", rows)
            eng.execute(f'IMPORT INTO t DSV "{path}" DELIMITER "|"')
        elif op == "update":
            eng.execute(f'UPDATE t SET v = "z" WHERE k < {rng.randrange(20)}')
        elif rng.random() < 0.25:
            eng.execute("DELETE FROM t")
            exact = True
            assert t.rows == 0
        else:
            eng.execute(f"DELETE FROM t WHERE k < {rng.randrange(20)}")
            exact = False
        n = eng.execute("SELECT * FROM t").count()
        assert t.rows is not None and t.rows >= n, (op, t.rows, n)
        if exact:
            assert t.rows == n, (op, t.rows, n)


def test_spark_parsed_store_counts_its_footers(spark, root, tmp_path):
    """A quoted field sends the parse to Spark; the store it writes is
    still parquet, so its footers give an exact count."""
    eng = _engine(spark)
    path = tmp_path / "quoted.tbl"
    path.write_text('1|"a"\n2|"b"\n3|c\n')
    eng.execute(f'IMPORT INTO t DSV "{path}" DELIMITER "|"')
    assert eng.catalog.record("t").rows == 3


def test_import_without_a_store_has_no_bound(spark, root, tmp_path, monkeypatch):
    """When no store can be staged the rows are served from the text:
    counting them would take a job, so the bound becomes unknown, stays
    unknown through INSERT, and DELETE without WHERE makes it 0 again."""

    def no_store(*args, **kwargs):
        raise RuntimeError("store write failed")

    eng = _engine(spark)
    eng.execute('INSERT INTO t VALUES (1, "a")')
    monkeypatch.setattr(staging, "staged", no_store)
    eng.execute(f'IMPORT INTO t DSV "{_dsv(tmp_path, "x.tbl", [(2, "b"), (3, "c")])}" DELIMITER "|"')
    t = eng.catalog.record("t")
    assert t.rows is None
    assert eng.execute("SELECT * FROM t").count() == 3
    eng.execute('INSERT INTO t VALUES (4, "d")')
    assert t.rows is None
    eng.execute("DELETE FROM t")
    assert t.rows == 0


def test_registered_frames(spark, tmp_path):
    """``register`` takes Catalyst's ``maxRows`` when the plan defines
    one and leaves the bound unknown otherwise; a parquet-backed table
    reads its footers."""
    path = str(tmp_path / "p.parquet")
    spark.range(5).write.parquet(path)
    eng = Engine(spark)
    eng.register("local", local_frame(spark, [(1,), (2,)], "x int"))
    eng.register("limited", spark.read.parquet(path).limit(3))
    eng.register("scan", spark.read.parquet(path))
    eng.create_table_from_parquet("backed", path)
    bounds = {n: eng.catalog.record(n).rows for n in ("local", "limited", "scan", "backed")}
    assert bounds == {"local": 2, "limited": 3, "scan": None, "backed": 5}
