"""The shell's `.learn_spns` instruction — the reference's registered
instruction of the same name (`src/catalog/DatabaseCommand.cpp:23-45`):
one SPN per table in the current database, then planning uses the learned
estimates (SpnEstimator wired in)."""

from __future__ import annotations

from mutable_spark.dialect import Engine
from mutable_spark.dialect.compiler import _ONE_PARTITION_SORT_ROWS
from mutable_spark.session import local_frame
from mutable_spark.shell import learn_spns


def _engine(spark) -> Engine:
    """Tables over driver rows: their local relations give Catalyst a
    ``maxRows``, so each table's row bound is its exact size."""
    eng = Engine(spark)
    eng.execute("CREATE DATABASE spnshell")
    eng.execute("USE spnshell")
    eng.register(
        "r",
        local_frame(spark, [(i, float(i % 7)) for i in range(200)], "key int, val double"),
    )
    eng.register(
        "s",
        local_frame(spark, [(i % 50, i) for i in range(1000)], "rkey int, sval int"),
    )
    eng.register("names", local_frame(spark, [("a",), ("b",)], "label string"))
    return eng


def test_learn_spns_instruction(spark):
    eng = _engine(spark)
    assert eng.planner is None
    msgs = learn_spns(eng)
    assert "learned SPN on r (2 numeric columns)" in msgs
    assert "learned SPN on s (2 numeric columns)" in msgs
    assert "skipped names: no numeric columns" in msgs
    # models learned for every numeric table, estimates anchored on true size
    assert set(eng.spn_models) == {"r", "s"}
    assert eng.spn_models["r"].estimate_rows({}) == 200
    assert eng.spn_models["s"].estimate_rows({}) == 1000
    # an SPN-estimating planner is installed and planning still yields
    # correct results on a multi-table query
    assert eng.planner is not None
    rows = eng.execute(
        "SELECT COUNT(*) AS n FROM r, s WHERE r.key = s.rkey"
    ).collect()
    assert rows[0].n == 1000  # every s row matches exactly one r key


def test_plan_and_cardinalities_commands(spark, tmp_path):
    """`.plan` (the reference's --plan dump) and `.cardinalities` (the
    reference's --use-cardinality-file): the injected file drives the
    compiled join's broadcast side, visible in the plan text."""
    import json

    from mutable_spark.shell import install_cardinalities, plan_text

    eng = _engine(spark)
    ptext = plan_text(eng, "SELECT COUNT(*) AS n FROM r, s WHERE r.key = s.rkey")
    assert "== Physical Plan ==" in ptext
    # DDL/DML gets a usage message and is NOT executed (ADVICE r5: .plan
    # used to silently run the statement)
    assert plan_text(eng, 'CREATE TABLE t2 (key INT(4) PRIMARY KEY)').startswith("usage:")
    assert "t2" not in eng.catalog._db()

    f = tmp_path / "cards.json"
    f.write_text(json.dumps({"db": [
        {"relations": ["r"], "size": 5},
        {"relations": ["s"], "size": 5_000_000},
        {"relations": ["r", "s"], "size": 5_000_000},
    ]}))
    msg = install_cardinalities(eng, str(f))
    assert "2 relations" in msg
    assert eng.planner.should_broadcast("r", {}) and not eng.planner.should_broadcast("s", {})
    ptext = plan_text(eng, "SELECT COUNT(*) AS n FROM r, s WHERE r.key = s.rkey")
    assert "BroadcastHashJoin" in ptext or "broadcast" in ptext.lower()


def _plan(eng, q: str) -> str:
    return eng.execute(q)._jdf.queryExecution().executedPlan().toString()


def test_row_bound_sort_strategy(spark):
    """A grouped ORDER BY whose group count the tables' row bounds cap at
    ``_ONE_PARTITION_SORT_ROWS`` sorts in one partition: no
    rangepartitioning exchange, no boundary-sampling job. A bound over
    the cap, or an unknown one, keeps the scale-safe range sort, and a
    LIMIT query keeps TakeOrderedAndProject either way."""
    eng = _engine(spark)
    r = eng.catalog.record("r")
    assert r.rows == 200
    q = "SELECT val, COUNT(*) AS n FROM r GROUP BY val ORDER BY val"

    df = eng.execute(q)
    p1 = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in p1
    assert "Coalesce 1" in p1
    vals = [row.val for row in df.collect()]
    assert vals == sorted(vals) and len(vals) == 7

    # an expression key over a bounded table is bounded by that table
    p2 = _plan(eng, "SELECT key % 3 AS k, COUNT(*) AS n FROM r GROUP BY key % 3 AS k ORDER BY k")
    assert "rangepartitioning" not in p2

    # a key over two tables: the product of both bounds (200 × 1000)
    join = "SELECT val, sval, COUNT(*) AS n FROM r, s WHERE r.key = s.rkey GROUP BY val, sval ORDER BY val, sval"
    assert "rangepartitioning" not in _plan(eng, join)
    eng.catalog.record("s").rows = _ONE_PARTITION_SORT_ROWS // 200 + 1
    assert "rangepartitioning" in _plan(eng, join)

    # over the cap, or unknown: range sort
    for rows in (_ONE_PARTITION_SORT_ROWS + 1, None):
        r.rows = rows
        assert "rangepartitioning" in _plan(eng, q)
    r.rows = 200

    # a FROM-subquery source has no bound
    sub = "SELECT val, COUNT(*) AS n FROM (SELECT val FROM r) AS t GROUP BY val ORDER BY val"
    assert "rangepartitioning" in _plan(eng, sub)

    # LIMIT keeps the top-k sink, never a 1-partition global sort
    p3 = _plan(eng, "SELECT val, COUNT(*) AS n FROM r GROUP BY val ORDER BY val LIMIT 3")
    assert "TakeOrderedAndProject" in p3
