"""The process-wide Column memo (`functions.memo_exprs`): keyed on a token
stored on the live py4j gateway, never on a lambda-rooted render, and the
unrolled dot served from it unchanged."""

from __future__ import annotations

import re
from types import SimpleNamespace

import pyspark.sql.functions as F
from pyspark import SparkContext

from mutable_spark import functions as MF


class _Gateway:
    pass


def _counting_build(builds: list):
    def build():
        builds.append(1)
        return object()

    return build


def test_memo_rebuilds_for_a_new_gateway_at_a_recycled_address(monkeypatch):
    monkeypatch.setattr(MF, "_EXPR_MEMO", {})
    builds: list = []

    sc = SimpleNamespace(_gateway=None)
    monkeypatch.setattr(SparkContext, "_active_spark_context", sc)

    def on(gateway):
        sc._gateway = gateway
        return MF.memo_exprs(("memo-test",), _counting_build(builds))

    old = _Gateway()
    first = on(old)
    assert on(old) is first and len(builds) == 1
    old_id = id(old)
    sc._gateway = None
    del old  # the gateway is torn down
    # a new gateway allocated at the dead one's address
    alive = []
    while (new := _Gateway()) and id(new) != old_id:
        alive.append(new)
        assert len(alive) < 10_000, "CPython did not reuse the address"
    assert on(new) is not first and len(builds) == 2
    assert list(MF._EXPR_MEMO.values()) == [on(new)]


def test_lambda_rooted_renders_are_built_fresh(monkeypatch):
    monkeypatch.setattr(MF, "_EXPR_MEMO", {})
    builds: list = []
    key = ("fold_dot", "Column<'namedlambdavariable()'>", "Column<'b'>")
    assert MF.memo_exprs(key, _counting_build(builds)) is not MF.memo_exprs(key, _counting_build(builds))
    assert len(builds) == 2 and MF._EXPR_MEMO == {}


def test_unrolled_dot_is_memoized_and_unchanged(spark):
    a, b = F.col("a"), F.col("b")
    dot = MF.vec_dot(a, b, 4)
    assert MF.vec_dot(F.col("a"), F.col("b"), 4) is dot
    fresh = F.when((F.size(a) == 4) & (F.size(b) == 4), MF._unrolled_dot(a, b, 4)).otherwise(
        MF._fold_dot(a, b)
    )

    def norm(c):  # HOF lambda variables get fresh names per build
        return re.sub(r"\b(\w+)_\d+\b", r"\1", str(c))

    assert norm(dot) == norm(fresh)
    df = spark.createDataFrame([([1.0, 2.0, 3.0, 4.0], [0.5, 0.25, 2.0, 1.0])], "a array<double>, b array<double>")
    assert df.select(dot.alias("d")).first().d == df.select(fresh.alias("d")).first().d == 11.0
