"""IMPORT parses canonical DSV on the driver with Arrow and anything else
with Spark's CSV reader (`mutable_spark/sources/dsv.py`). Whichever path
runs, the imported rows equal `read_dsv`'s Spark parse of the same file;
each case also pins which path ran: the Arrow path submits no Spark job,
the Spark path writes its store in one."""

from __future__ import annotations

import gzip

import pyarrow as pa
import pyarrow.csv as pacsv
import pytest

from mutable_spark.dialect import Engine, parse
from mutable_spark.sources.dsv import read_dsv, truncate_chars
from tests.test_table_load import _jobs

ARROW, SPARK = "arrow", "spark"
_KV = "k INT(4), v CHAR(8)"

# (id, columns, file bytes, IMPORT options, path that must run)
CASES = [
    # canonical text: Arrow reads it exactly as Spark does
    ("empty_field_is_null", "a INT(4), b CHAR(5), c DOUBLE", b"1||2.5\n|x|\n", "", ARROW),
    ("crlf", _KV, b"1|a\r\n2|b\r\n", "", ARROW),
    ("no_trailing_newline", _KV, b"1|a\n2|b", "", ARROW),
    ("blank_lines", _KV, b"1|a\n\n2|b\n\n", "", ARROW),
    ("has_header", _KV, b"k|v\n1|a\n2|b\n", "HAS HEADER", ARROW),
    ("skip_header", _KV, b"k|v\n1|a\n2|b\n", "SKIP HEADER", ARROW),
    ("rows_n", _KV, b"1|a\n2|b\n3|c\n", "ROWS 2", ARROW),
    (
        "datetime_forms",
        "d DATETIME, e DATE",
        b"1996-01-02|1996-01-02\n1996-01-02T03:04:05|1997-12-31\n1996-01-02 03:04:05.25|2000-02-29\n",
        "",
        ARROW,
    ),
    ("char_truncation", "k INT(4), s CHAR(3)", "1|abcdef\n2|日本語テキスト\n3|ab\n".encode(), "", ARROW),
    (
        "every_type",
        "a INT(1), b INT(2), c INT(8), f FLOAT, d DOUBLE, m DECIMAL(10,2), t BOOL",
        b"-128|-32768|9223372036854775807|0.1|1e3|-12.5|true\n007|-0|0|-2.5E-3|0.30000000000000004|12|false\n",
        "",
        ARROW,
    ),
    ("comma_delimiter", "k INT(4), v CHAR(8)", b"1,a\n2,b\n", 'DELIMITER ","', ARROW),
    ("byte_order_mark", _KV, b"\xef\xbb\xbf1|a\n2|b\n", "", ARROW),  # both readers skip it
    # Arrow's default `null_values` read these as NULL; with `[""]` they are
    # the strings Spark reads, so no fallback is needed
    ("string_null_words", _KV, b"1|NULL\n2|NA\n3|N/A\n", "", ARROW),
    # text the two readers may read differently: the Spark path runs
    ("int_leading_blank", _KV, b" 12|a\n", "", SPARK),
    ("double_nan", "k INT(4), d DOUBLE", b"1|NaN\n", "", SPARK),
    ("double_inf", "k INT(4), d DOUBLE", b"1|inf\n2|Inf\n", "", SPARK),
    ("quoted_field", _KV, b'1|"p""q"\n', "", SPARK),
    ("quoted_value", _KV, b'1|"a"\n', "", SPARK),
    ("escape_char", _KV, b"1|p\\q\n", "", SPARK),  # escapes act inside quotes; refused all the same
    ("blank_line_one_column", "v CHAR(8)", b"a\n \nb\n", "", SPARK),
    ("blank_line_tab_delimited", _KV, b"1\ta\n\t\n2\tb\n", 'DELIMITER "\t"', SPARK),
    ("header_after_blank_line", "v CHAR(8), w CHAR(8)", b"\nk|v\na|b\n", "HAS HEADER", SPARK),
    ("gzip_suffix", _KV, gzip.compress(b"1|a\n2|b\n"), "", SPARK),
    # text Arrow refuses on its own
    ("short_row", _KV, b"1|a\n2\n", "", SPARK),
    ("long_row", _KV, b"1|a\n2|b|c\n", "", SPARK),
    ("int1_overflow", "k INT(1), v CHAR(8)", b"300|a\n", "", SPARK),
    ("decimal_rescale", "k INT(4), m DECIMAL(10,2)", b"1|1.005\n", "", SPARK),
    ("date_unpadded", "k INT(4), d DATE", b"1|1996-1-2\n", "", SPARK),
    ("bool_digit", "k INT(4), t BOOL", b"1|1\n", "", SPARK),
]


def _rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


def _spark_parse(spark, eng: Engine, text: str):
    stmt = parse(text)
    df = read_dsv(
        spark,
        stmt.path,
        eng.catalog.record("t").schema,
        delimiter=stmt.delimiter,
        quote=stmt.quote,
        escape=stmt.escape,
        header=stmt.has_header or stmt.skip_header,
        rows=stmt.rows,
    )
    return truncate_chars(df, eng.catalog.record("t").char_limits)


def _import(spark, columns: str, path, options: str):
    """An engine holding table ``t`` after one IMPORT, the IMPORT's text and
    the number of Spark jobs it submitted."""
    eng = Engine(spark)
    for stmt in ("CREATE DATABASE d", "USE d", f"CREATE TABLE t ({columns})"):
        eng.execute(stmt)
    delimiter = "" if "DELIMITER" in options else 'DELIMITER "|"'
    text = f'IMPORT INTO t DSV "{path}" {delimiter} {options}'
    before = _jobs(spark)
    eng.execute(text)
    return eng, text, _jobs(spark) - before


@pytest.mark.parametrize("case", CASES, ids=[c[0] for c in CASES])
def test_import_equals_spark_parse(spark, root, tmp_path, case):
    _, columns, data, options, path = case
    src = tmp_path / ("t.tbl.gz" if data[:2] == b"\x1f\x8b" else "t.tbl")
    src.write_bytes(data)
    eng, text, jobs = _import(spark, columns, src, options)
    assert (path, jobs > 0) in ((ARROW, False), (SPARK, True)), jobs
    got, want = eng.execute("SELECT * FROM t"), _spark_parse(spark, eng, text)
    assert got.dtypes == want.dtypes
    assert _rows(got) == _rows(want)
    assert got.inputFiles() and all(".parquet" in f for f in got.inputFiles())


def test_null_words_need_only_empty_null_values():
    data = b"1|NULL\n2|NA\n3|N/A\n"
    parse_options = pacsv.ParseOptions(delimiter="|")
    read = pacsv.ReadOptions(column_names=["k", "v"])
    types = {"k": pa.string(), "v": pa.string()}

    def words(**kw):
        convert = pacsv.ConvertOptions(column_types=types, strings_can_be_null=True, **kw)
        return pacsv.read_csv(pa.BufferReader(data), read, parse_options, convert)["v"].to_pylist()

    assert words() == [None, None, None]  # Arrow's default null spellings
    assert words(null_values=[""]) == ["NULL", "NA", "N/A"]


@pytest.mark.parametrize("options, path", [("HAS HEADER", ARROW), ("ROWS 1 HAS HEADER", SPARK)])
def test_directory_source(spark, root, tmp_path, options, path):
    """Spark reads a directory's files except those named ``_…`` or ``.…``,
    and skips the header of each; ROWS n over several files takes rows in
    Spark's split order, so it stays on Spark."""
    src = tmp_path / "orders"
    src.mkdir()
    (src / "part-00000.csv").write_bytes(b"k|v\n1|a\n2|b\n")
    (src / "part-00001.csv").write_bytes(b"k|v\n3|c\n")
    (src / "_SUCCESS").write_bytes(b"")
    (src / ".part-00000.csv.crc").write_bytes(b"\x00\x01|\xff\n")
    eng, text, jobs = _import(spark, _KV, src, options)
    assert (path, jobs > 0) in ((ARROW, False), (SPARK, True)), jobs
    got = eng.execute("SELECT * FROM t")
    assert _rows(got) == _rows(_spark_parse(spark, eng, text))
    if path == ARROW:
        assert sorted(r.k for r in got.collect()) == [1, 2, 3]
