"""Driver-built frames: `session.local_frame` turns rows built on the
driver into a JVM `LocalRelation`, so scanning them never starts a
Python worker. Covers the dialect's CREATE TABLE / INSERT path, the
DECIMAL and constraint semantics the list-based `createDataFrame`
had, and a source guard that keeps new driver-built frames on the one
mechanism."""

from __future__ import annotations

import ast
import datetime as dt
from decimal import Decimal
from pathlib import Path

import pytest
import pyspark.sql.types as T
from pyspark.errors import PySparkValueError

from mutable_spark.dialect import Engine
from mutable_spark.dialect.sema import SemaError
from mutable_spark.session import local_frame

PKG = Path(__file__).resolve().parents[1] / "mutable_spark"


def _engine(spark, db: str) -> Engine:
    eng = Engine(spark)
    eng.execute(f"CREATE DATABASE {db}")
    eng.execute(f"USE {db}")
    return eng


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_created_and_inserted_table_scans_locally(spark):
    eng = _engine(spark, "lf_scan")
    eng.execute("CREATE TABLE r (key INT(4) NOT NULL, name CHAR(3), v DECIMAL(6, 2))")
    eng.execute('INSERT INTO r VALUES (1, "abcd", 1.5), (2, NULL, DEFAULT)')
    eng.execute('INSERT INTO r VALUES (3, "x", -2.25)')
    df = eng.execute("SELECT key, name, v FROM r WHERE key > 0")
    plan = _executed_plan(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
    assert sorted(df.collect()) == [
        (1, "abc", Decimal("1.50")),
        (2, None, None),
        (3, "x", Decimal("-2.25")),
    ]


def test_out_of_range_decimal_is_rejected_and_table_stays_readable(spark):
    eng = _engine(spark, "lf_range")
    eng.execute("CREATE TABLE r (key INT(4), v DECIMAL(10, 2))")
    eng.execute("INSERT INTO r VALUES (1, 1.25)")
    with pytest.raises(SemaError, match=r"'v'"):
        eng.execute("INSERT INTO r VALUES (2, 3.5), (1, 123456789012.25)")
    # rounding up past the precision is out of range too
    with pytest.raises(SemaError, match=r"'v'"):
        eng.execute("INSERT INTO r VALUES (3, 99999999.995)")
    rows = eng.execute("SELECT key, v FROM r").collect()
    assert rows == [(1, Decimal("1.25"))]


def test_decimal_rounding_and_constraints_unchanged(spark):
    eng = _engine(spark, "lf_sema")
    eng.execute("CREATE TABLE r (key INT(2) NOT NULL, v DECIMAL(10, 2))")
    eng.execute("INSERT INTO r VALUES (1, 1.005), (2, -1.005), (3, 2.675)")
    rows = eng.execute("SELECT key, v FROM r ORDER BY key").collect()
    assert [r.v for r in rows] == [Decimal("1.01"), Decimal("-1.01"), Decimal("2.68")]

    with pytest.raises(PySparkValueError) as e:
        eng.execute("INSERT INTO r VALUES (NULL, 1.0)")
    assert e.value.getCondition().startswith("FIELD_NOT_NULLABLE")
    with pytest.raises(PySparkValueError) as e:
        eng.execute("INSERT INTO r VALUES (40000, 1.0)")
    assert e.value.getCondition() == "VALUE_OUT_OF_BOUNDS"
    assert eng.execute("SELECT COUNT(*) AS c FROM r").collect()[0].c == 3


def test_local_frame_round_trips_like_create_dataframe(spark):
    schema = T.StructType(
        [
            T.StructField("d", T.DateType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("f", T.FloatType()),
            T.StructField("s", T.StringType()),
            T.StructField("n", T.DecimalType(12, 3)),
            T.StructField("b", T.ByteType(), nullable=False),
        ]
    )
    rows = [
        (dt.date(1998, 12, 1), dt.datetime(2001, 2, 3, 4, 5, 6, 789), 1.1, "abc",
         Decimal("-12.5"), -128),
        (None, None, None, None, None, 127),
        (dt.date(1970, 1, 1), dt.datetime(1969, 12, 31, 23, 59, 59), -0.0, "",
         Decimal("123456789.123"), 0),
    ]
    ours = local_frame(spark, rows, schema)
    theirs = spark.createDataFrame(rows, schema)
    assert ours.schema == theirs.schema
    assert ours.collect() == theirs.collect()
    assert "LocalTableScan" in _executed_plan(ours)

    ddl = local_frame(spark, [(1, "a")], "k long, v string")
    assert ddl.schema == T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    assert ddl.collect() == [(1, "a")]
    assert local_frame(spark, [], schema).collect() == []


#: (file under mutable_spark/, enclosing function) pairs allowed to call
#: `createDataFrame` directly: the helper itself, and two join inputs
#: whose join strategy the plan-shape tests pin.
_ALLOWED = {
    ("session.py", "local_frame"),
    ("operators/text.py", "_bpe_syms_df"),
    ("operators/dedup.py", "connected_components"),
}


def _create_dataframe_calls(path: Path):
    tree = ast.parse(path.read_text(), filename=str(path))

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from walk(child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                yield fn, child.lineno
            yield from walk(child, fn)

    yield from walk(tree, None)


def test_driver_built_frames_go_through_local_frame():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for fn, line in _create_dataframe_calls(path):
            if (rel, fn) not in _ALLOWED:
                offenders.append(f"{rel}:{line} ({fn})")
    assert not offenders, (
        "build driver-side rows with session.local_frame: " + ", ".join(offenders)
    )
