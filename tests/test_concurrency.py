"""Several clients on one session: queries built and run from concurrent
threads over different corpora return what they return serially, and
leave the session's size posture as they found it."""

from __future__ import annotations

import hashlib
import threading
from concurrent.futures import ThreadPoolExecutor

from mutable_spark import registry
from mutable_spark.catalog import load_tables
from mutable_spark.dialect.engine import Engine
from mutable_spark.plans import tpch
from tests.conftest import TESTDATA

registry.load_all()

SMALL, LARGER = f"{TESTDATA}/sf0.001", f"{TESTDATA}/sf0.01"


def _digest(df) -> str:
    return hashlib.sha256("\n".join(sorted(repr(tuple(r)) for r in df.collect())).encode()).hexdigest()


def _dialect_select(spark, sf_dir):
    eng = Engine(spark)
    eng.register("lineitem", load_tables(spark, sf_dir).lineitem)
    return eng.execute("SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag")


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
    tpch._VIEWS_BOUND.pop(spark, None)
    with ThreadPoolExecutor(2) as pool:
        small, _ = pool.map(lambda sf: q6(spark, sf), (SMALL, LARGER))
    monkeypatch.undo()
    assert _digest(small) == serial


def test_four_clients_share_one_session(spark):
    names = ("tpch_q1", "tpch_q3", "dedup_minhash_lsh", "text_bpe_train", "dialect_select")
    tasks = [(name, sf) for sf in (SMALL, LARGER) for name in names]

    def run(task) -> str:
        name, sf = task
        return _digest((_dialect_select if name == "dialect_select" else registry.QUERIES[name])(spark, sf))

    posture = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    load_tables(spark, SMALL)
    before = [spark.conf.get(k) for k in posture]
    serial = list(map(run, tasks))
    with ThreadPoolExecutor(4) as pool:
        threaded = list(pool.map(run, tasks))
    assert [spark.conf.get(k) for k in posture] == before
    assert threaded == serial
