"""Several clients on one session: queries built and run from concurrent
threads over different corpora return what they return serially, and
leave the session's size posture as they found it. Dialect clients that
IMPORT the same DSV export build its staged stores concurrently."""

from __future__ import annotations

import hashlib
import threading
from concurrent.futures import ThreadPoolExecutor

from mutable_spark import registry
from mutable_spark.catalog import load_tables
from mutable_spark.dialect.engine import Engine
from mutable_spark.plans.dialect_tpch import _data_dir, _engine_with_schema
from mutable_spark.session import state
from tests.conftest import TESTDATA

registry.load_all()

SMALL, LARGER = f"{TESTDATA}/sf0.001", f"{TESTDATA}/sf0.01"


def _digest(df) -> str:
    return hashlib.sha256("\n".join(sorted(repr(tuple(r)) for r in df.collect())).encode()).hexdigest()


def _dialect_select(spark, sf_dir):
    eng = Engine(spark)
    eng.register("lineitem", load_tables(spark, sf_dir).lineitem)
    return eng.execute("SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag")


def _dialect_dml(spark, sf_dir):
    """IMPORT → UPDATE → SELECT; the IMPORT shares its store with
    `dialect_tpch_q3`'s IMPORT of Orders over the same corpus."""
    eng = _engine_with_schema(spark)
    eng.execute(f'IMPORT INTO Orders DSV "{_data_dir(spark, sf_dir)}/orders" DELIMITER "|"')
    eng.execute('UPDATE Orders SET o_totalprice = o_totalprice + 1 WHERE o_orderstatus = "F"')
    return eng.execute(
        "SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS total FROM Orders GROUP BY o_orderstatus"
    )


_CLIENTS = {"dialect_select": _dialect_select, "dialect_dml": _dialect_dml}


def test_bind_and_analyse_are_one_step(spark, monkeypatch):
    """``tpch._q`` binds its ``msq_*`` views and analyses its SQL under one
    lock. Two threads that both bind before either analyses (the barrier
    forces that order when nothing prevents it) would otherwise both read
    whichever corpus was bound last."""
    q6 = registry.QUERIES["tpch_q6"]
    serial = _digest(q6(spark, SMALL))
    frame = type(load_tables(spark, LARGER).lineitem)
    barrier = threading.Barrier(2)
    real_bind = frame.createOrReplaceTempView

    def bind_then_wait(self, name):
        real_bind(self, name)
        try:
            barrier.wait(timeout=3)
        except threading.BrokenBarrierError:
            pass  # the other thread is held off until this one has analysed

    monkeypatch.setattr(frame, "createOrReplaceTempView", bind_then_wait)
    state(spark).views.clear()
    with ThreadPoolExecutor(2) as pool:
        small, _ = pool.map(lambda sf: q6(spark, sf), (SMALL, LARGER))
    monkeypatch.undo()
    assert _digest(small) == serial


def test_four_clients_share_one_session(spark, root, tmp_path, monkeypatch):
    names = (
        "tpch_q1",
        "tpch_q3",
        "dedup_minhash_lsh",
        "text_bpe_train",
        "dialect_select",
        "dialect_tpch_q3",
        "dialect_dml",
    )
    tasks = [(name, sf) for sf in (SMALL, LARGER) for name in names]

    def run(task) -> str:
        name, sf = task
        return _digest(_CLIENTS.get(name, registry.QUERIES.get(name))(spark, sf))

    posture = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    load_tables(spark, SMALL)
    before = [spark.conf.get(k) for k in posture]
    serial = list(map(run, tasks))
    # an empty staging root: the threads build the DSV exports and IMPORT
    # stores themselves, two of them racing on each Orders store
    monkeypatch.setenv("SPARK_GRAFT_RELAYOUT_DIR", str(tmp_path / "threaded"))
    with ThreadPoolExecutor(4) as pool:
        threaded = list(pool.map(run, tasks))
    assert [spark.conf.get(k) for k in posture] == before
    assert threaded == serial
    assert len([p for p in (tmp_path / "threaded").iterdir() if p.name.startswith("import-orders-")]) == 2
