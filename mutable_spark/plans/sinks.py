"""Result sinks — the reference's three root operators (SURVEY §2.1):

- PrintOperator  (`include/mutable/IR/Operator.hpp:222-234`): prints
  CSV-ish rows to an ostream.
- CallbackOperator (`Operator.hpp:201-219`): invokes a callback per result
  tuple.
- NoOpOperator   (`Operator.hpp:237-249`): counts result tuples only
  (benchmarking sink).

On Spark these are driver-side terminal actions over a DataFrame. The
print format matches the reference's goldens byte-for-byte
(`test/ours/end2end-pos-select-*.yml` out: blocks, print impl
`src/backend/Interpreter.cpp` print callback / `Type.hpp` value printing):
NULL prints as "NULL", strings are double-quoted, booleans are TRUE/FALSE,
dates print bare ISO (`2001-09-28`), datetimes `2001-09-28 20:38:40`,
FLOAT (32-bit) columns print as printf `%.8g` of the value, DOUBLE columns
as printf `%.16g` (integral doubles therefore drop the trailing `.0`:
AVG(key) of 6 prints `6`). Because Python
widens FLOAT columns to 64-bit on collect, the formatter is dtype-aware:
``print_result`` reads the DataFrame schema and applies the FLOAT format
to FloatType columns.

``print_result`` and ``callback_result`` are the scale-safe paths: they
stream partitions to the driver one at a time (`toLocalIterator`) instead
of materializing the whole result (`collect`), which is what you want when
the result itself is big. ``callback_result`` is also the embeddable API
surface (`m::execute_query` with a caller consumer,
`src/mutable.cpp:322-383`).
"""

from __future__ import annotations

import datetime as dt
import sys
from collections.abc import Callable
from typing import IO

import math

from pyspark.sql import DataFrame, Row
import pyspark.sql.types as T


def _fmt_double(v: float) -> str:
    """The reference prints DOUBLE with printf %.16g (goldens:
    `SUM(rfloat)` of one float32 6.80283 → `6.802830219268799`, integral
    AVG 6 → `6`)."""
    return "%.16g" % v


def format_value(v: object, is_float32: bool = False) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return f'"{v}"'
    if isinstance(v, dt.datetime):
        return f"{v:%Y-%m-%d %H:%M:%S}"
    if isinstance(v, dt.date):
        return f"{v:%Y-%m-%d}"
    if isinstance(v, float):
        return ("%.8g" % v) if is_float32 else _fmt_double(v)
    return str(v)


def print_result(df: DataFrame, out: IO[str] = sys.stdout) -> int:
    """PrintOperator: stream rows to ``out``; returns the row count."""
    f32 = [isinstance(f.dataType, T.FloatType) for f in df.schema.fields]
    n = 0
    for row in df.toLocalIterator():
        out.write(",".join(format_value(v, m) for v, m in zip(row, f32)) + "\n")
        n += 1
    return n


def callback_result(df: DataFrame, fn: Callable[[Row], None]) -> int:
    """CallbackOperator: invoke ``fn`` per result row (streamed)."""
    n = 0
    for row in df.toLocalIterator():
        fn(row)
        n += 1
    return n


def noop_result(df: DataFrame) -> int:
    """NoOpOperator: count only. On Spark this is *better* than the
    reference's version: `count()` prunes every column and aggregates
    partially per partition — no result materialization at all."""
    return df.count()
