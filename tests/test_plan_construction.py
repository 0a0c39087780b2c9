"""Driver-side plan construction: py4j round trips per dialect statement
and per warm TPC-H build.

Every py4j call is a socket round trip to the JVM. `session.get_spark`
turns off PySpark's per-Column call-site capture (each wrapped Column
method and `F.col` otherwise adds ~6 calls), and the compiler binds a
source with one `toDF`. The budgets pin the counts of a warm statement on
a small table: the measured count plus 25%. With call-site capture on,
UPDATE, DELETE and SELECT cost over three times their budget.

A grouped ORDER BY over tables whose row bounds are small sorts in one
partition; the Spark jobs of those reads are pinned here too."""

from __future__ import annotations

import py4j.java_gateway as jg
import pytest
from pyspark.errors import ArithmeticException
from pyspark.errors import utils as error_utils
from pyspark.sql import functions as F

from mutable_spark import registry
from mutable_spark.catalog import load_tables
from mutable_spark.dialect import Engine
from mutable_spark.dialect.compiler import _ONE_PARTITION_SORT_ROWS
from mutable_spark.dialect.sema import SemaError
from mutable_spark.plans.dialect_tpch import _BENCH_DIR, _data_dir, _engine_with_schema
from perfbench.workloads import _READS
from tests.conftest import SF_DIR
from tests.test_table_load import _jobs

_STATEMENTS = {
    "create": "CREATE TABLE r{n} (id INT(4) PRIMARY KEY, name CHAR(5), val DOUBLE)",
    "insert": 'INSERT INTO r{n} VALUES (1, "aa", 1.5), (2, "bb", 2.5), (3, "cc", NULL)',
    "update": "UPDATE r{n} SET val = val + 1.0 WHERE id < 3",
    "delete": "DELETE FROM r{n} WHERE id = 2",
    "select": "SELECT name, SUM(val) AS s FROM r{n} WHERE id > 0 GROUP BY name ORDER BY name",
}

#: measured count (in the comment) + 25%
_BUDGET = {
    "create": 26,  # 21
    "insert": 63,  # 51
    "update": 120,  # 96
    "delete": 82,  # 66
    "select": 82,  # 67
}


@pytest.fixture
def round_trips(monkeypatch):
    """A counter of py4j commands sent, memory (GC) commands excluded:
    their first line is ``m`` and they go out whenever Python collects a
    JVM object reference."""
    sent = [0]
    send = jg.GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent[0] += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(jg.GatewayClient, "send_command", counting)
    return sent


def test_dialect_statements_stay_within_round_trip_budget(spark, round_trips):
    eng = Engine(spark)
    eng.execute("CREATE DATABASE plan_construction")
    eng.execute("USE plan_construction")
    counts: dict[str, int] = {}
    for n in range(2):  # round 0 warms caches and one-off conf sets
        for kind, sql in _STATEMENTS.items():
            before = round_trips[0]
            eng.execute(sql.format(n=n))
            counts[kind] = round_trips[0] - before
    assert eng.execute("SELECT * FROM r1").count() == 2
    over = {k: (c, _BUDGET[k]) for k, c in counts.items() if c > _BUDGET[k]}
    assert not over, f"round trips over budget (count, budget): {over}"


def test_warm_load_tables_makes_no_round_trip(spark, round_trips):
    load_tables(spark, SF_DIR)
    before = round_trips[0]
    load_tables(spark, SF_DIR)
    assert round_trips[0] - before == 0


def test_warm_tpch_build_stays_within_round_trip_budget(spark, round_trips):
    """A warm ``tpch_q3`` build reuses the session's frames and bound
    views: only ``spark.sql`` talks to the JVM."""
    registry.load_all()
    q3 = registry.QUERIES["tpch_q3"]
    q3(spark, SF_DIR)
    before = round_trips[0]
    q3(spark, SF_DIR)
    assert round_trips[0] - before <= 6  # 5


# --- grouped ORDER BY: one partition under small row bounds ------------------
#: the two reads of the DML benchmark workload and TPC-H Q1's script
_SORTED_READS = {
    "dml_join": _READS[0].format(date="d'1998-06-01'"),
    "dml_lineitem": _READS[1].format(date="d'1998-06-01'"),
    "script_q1": (_BENCH_DIR / "q1.sql").read_text().split(";")[1],
}
#: the table whose row bound sizes each read's sort
_GROUPED_TABLE = {"dml_join": "Orders", "dml_lineitem": "Lineitem", "script_q1": "Lineitem"}
#: Spark jobs of one read, with AQE on and off. The range sort cost two
#: more with AQE on (5, 4, 4) and one more with it off (3, 2, 2): the
#: boundary-sampling job and the stage behind its exchange
_JOBS = {
    ("dml_join", True): 3,
    ("dml_lineitem", True): 2,
    ("script_q1", True): 2,
    ("dml_join", False): 2,
    ("dml_lineitem", False): 1,
    ("script_q1", False): 1,
}


@pytest.fixture(scope="module")
def imported(spark):
    """Orders and Lineitem IMPORTed from the sf0.001 DSV export: the
    Arrow-parsed stores give exact row bounds (1,500 and 6,000)."""
    data = _data_dir(spark, SF_DIR)
    eng = _engine_with_schema(spark)
    for table in ("Orders", "Lineitem"):
        eng.execute(f'IMPORT INTO {table} DSV "{data}/{table.lower()}" DELIMITER "|"')
    return eng


@pytest.fixture(params=[True, False], ids=["aqe_on", "aqe_off"])
def aqe(spark, request):
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, str(request.param).lower())
    yield request.param
    spark.conf.set(key, old)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("read", list(_SORTED_READS))
def test_small_grouped_sort_runs_in_one_partition(spark, imported, aqe, read):
    imported.execute(_SORTED_READS[read]).collect()  # warm
    df = imported.execute(_SORTED_READS[read])  # a fresh plan reuses no shuffle
    before = _jobs(spark)
    rows = [tuple(r) for r in df.collect()]
    jobs = _jobs(spark) - before
    assert "rangepartitioning" not in _plan(df)
    assert jobs <= _JOBS[read, aqe], f"{jobs} jobs, budget {_JOBS[read, aqe]}"
    keys = [r[: 2 if read != "dml_join" else 1] for r in rows]
    assert len(keys) > 1 and keys == sorted(keys)


@pytest.mark.parametrize("rows", [_ONE_PARTITION_SORT_ROWS + 1, None], ids=["over", "unknown"])
def test_large_or_unknown_bound_keeps_the_range_sort(imported, monkeypatch, rows):
    for read, table in _GROUPED_TABLE.items():
        with monkeypatch.context() as m:
            m.setattr(imported.catalog.record(table), "rows", rows)
            assert "rangepartitioning" in _plan(imported.execute(_SORTED_READS[read]))


def test_limit_keeps_the_top_k_sort(imported):
    df = imported.execute(_SORTED_READS["script_q1"] + " LIMIT 3")
    assert "TakeOrderedAndProject" in _plan(df)


# --- the session and error contracts ---------------------------------------
def test_get_spark_turns_off_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert error_utils.is_debugging_enabled() is False


def test_runtime_error_keeps_its_error_class(spark):
    with pytest.raises(ArithmeticException) as exc:
        spark.range(1).select(F.lit(1) / F.lit(0)).collect()
    assert exc.value.getCondition() == "DIVIDE_BY_ZERO"


# --- source binding: one toDF, duplicates dropped ----------------------------
@pytest.fixture
def rs(spark):
    eng = Engine(spark)
    eng.execute("CREATE DATABASE binding")
    eng.execute("USE binding")
    eng.execute("CREATE TABLE R (k INT(4), x CHAR(3))")
    eng.execute("CREATE TABLE S (k INT(4), y INT(4))")
    eng.execute('INSERT INTO R VALUES (1, "abc"), (2, "de"), (3, "fg")')
    eng.execute("INSERT INTO S VALUES (1, 10), (2, 20), (4, 40)")
    return eng


_DUP = "(SELECT R.k, S.k, R.x, S.y FROM R, S WHERE R.k = S.k) AS T"


def test_subquery_with_duplicate_names_binds_the_rest(rs):
    rows = rs.execute(f"SELECT T.x, T.y FROM {_DUP}").collect()
    assert sorted(tuple(r) for r in rows) == [("abc", 10), ("de", 20)]


@pytest.mark.parametrize("items", ["T.k", "*"])
def test_access_to_a_duplicated_name_raises(rs, items):
    with pytest.raises(SemaError, match="Source T has multiple attributes k"):
        rs.execute(f"SELECT {items} FROM {_DUP}")


def test_star_over_sources_sharing_a_name_qualifies_it(rs):
    df = rs.execute("SELECT * FROM R, S WHERE R.k = S.k")
    assert df.columns == ["R.k", "x", "S.k", "y"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "abc", 1, 10), (2, "de", 2, 20)]
