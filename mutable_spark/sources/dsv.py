"""DSV (delimiter-separated values) import with the reference's IMPORT
semantics.

Reference surface: `IMPORT INTO t DSV "file" [ROWS n] [DELIMITER c]
[ESCAPE c] [QUOTE c] [HAS HEADER] [SKIP HEADER]` — grammar
`doc/syntax-grammar.md` import-statement; reader `src/io/DSVReader.cpp:23-40`;
CLI wiring `src/mutable.cpp:263-292`. DSV is the reference's *only* I/O
format; on Spark its meaning is the csv datasource with an explicit schema
(never inference — mutable schemas are declared, SURVEY §1.3), read in
PERMISSIVE mode (`read_dsv`).

IMPORT copies the text into the engine's store once, as the reference's
IMPORT copies it into its Store, and queries never parse the text again:
the parse is staged as parquet (`staging.staged`, keyed by the source
files and the statement's options) and read back with the declared
schema. A source up to `_ARROW_MAX_BYTES` whose text is canonical is
parsed on the driver by `pyarrow.csv` and written with `pyarrow.parquet`,
so its IMPORT starts no Spark job. Canonical means no quote or escape
character, every typed value in the one spelling both readers read alike
(`_CANONICAL`), and every cast exact; anything else (`" 12"` in an INT,
`NaN`, `1.005` into DECIMAL(10,2), a short row, …) is parsed by Spark, so
the two paths never disagree.

Scale note: above `_ARROW_MAX_BYTES` Spark parses over file splits in
parallel and writes the store in one job; ROWS n becomes a limit, which
Spark evaluates with an early-stop scan (LocalLimit), not a full read.
"""

from __future__ import annotations

import functools
import math
import os
from pathlib import Path
from typing import TYPE_CHECKING

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
import pyspark.sql.types as T

from mutable_spark import staging
from mutable_spark.plans.planner import parquet_row_count

if TYPE_CHECKING:  # the dialect's engine imports this module
    from mutable_spark.dialect import ast_nodes as A


def read_dsv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    delimiter: str = ",",
    quote: str = '"',
    escape: str = "\\",
    header: bool = False,
    rows: int | None = None,
) -> DataFrame:
    df = (
        spark.read.schema(schema)
        .option("sep", delimiter)
        .option("quote", quote)
        .option("escape", escape)
        .option("header", header)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    if rows is not None:
        df = df.limit(rows)
    return df


def truncate_chars(df: DataFrame, limits: dict[str, int]) -> DataFrame:
    """``df`` with each column in ``limits`` cut to that many characters:
    the reference stores CHAR(n) in n bytes (`Type.hpp:310-318`)."""
    if not limits:
        return df
    return df.select(
        *[F.substring(F.col(c), 1, limits[c]).alias(c) if c in limits else F.col(c) for c in df.columns]
    )


#: Sources up to this many bytes (one split at Spark's default
#: `spark.sql.files.maxPartitionBytes`) are parsed on the driver by Arrow,
#: which holds the text and its table in driver memory; above it Spark's
#: parallel parse and store write stay.
_ARROW_MAX_BYTES = 128 << 20

#: Hadoop picks a decompression codec by these suffixes; Arrow would read
#: the compressed bytes as text.
_CODEC_SUFFIXES = frozenset({".gz", ".bz2", ".deflate", ".lz4", ".snappy", ".zst"})

_INT = r"-?[0-9]+"
_DECIMAL = r"-?[0-9]+(\.[0-9]+)?"
_FLOAT = r"-?[0-9]+(\.[0-9]+)?([eE][-+]?[0-9]+)?"
_DATE = r"[1-9][0-9]{3}-[0-9]{2}-[0-9]{2}"

#: Spark type → (the text both readers parse alike, Arrow type); a string
#: column takes any text (``None``). `DecimalType` is handled in `_canonical`.
_CANONICAL = {
    T.ByteType(): (_INT, pa.int8()),
    T.ShortType(): (_INT, pa.int16()),
    T.IntegerType(): (_INT, pa.int32()),
    T.LongType(): (_INT, pa.int64()),
    T.FloatType(): (_FLOAT, pa.float32()),
    T.DoubleType(): (_FLOAT, pa.float64()),
    T.BooleanType(): ("true|false", pa.bool_()),
    T.DateType(): (_DATE, pa.date32()),
    T.TimestampNTZType(): (_DATE + r"([T ][0-9]{2}:[0-9]{2}:[0-9]{2}(\.[0-9]{1,6})?)?", pa.timestamp("us")),
    T.StringType(): (None, pa.string()),
}


def _canonical(dt: T.DataType) -> tuple[str | None, pa.DataType] | None:
    if isinstance(dt, T.DecimalType):
        return _DECIMAL, pa.decimal128(dt.precision, dt.scale)
    return _CANONICAL.get(dt)


def _blank(col) -> pa.ChunkedArray:
    """Values Java's ``String.trim`` empties (every char ≤ U+0020), or null."""
    return pc.or_kleene(pc.is_null(col), pc.match_substring_regex(col, r"^[\x00-\x20]*$"))


def _arrow_parse(
    files: list[Path], schema: T.StructType, stmt: A.ImportDSVStmt, limits: dict[str, int]
) -> pa.Table | None:
    """The rows Spark's `read_dsv` would give for the IMPORT ``stmt``, CHAR
    limits applied, parsed by Arrow; ``None`` when the text is not canonical."""
    header = stmt.has_header or stmt.skip_header
    kinds = [_canonical(f.dataType) for f in schema.fields]
    if None in kinds or len(stmt.delimiter.encode()) != 1 or (stmt.rows is not None and len(files) > 1):
        return None  # with ROWS n over several files, Spark's limit picks by split order
    special = {stmt.quote.encode(), stmt.escape.encode()} - {b""}
    read = pacsv.ReadOptions(column_names=schema.names, skip_rows=int(header))
    parse = pacsv.ParseOptions(delimiter=stmt.delimiter, quote_char=False, escape_char=False)
    convert = pacsv.ConvertOptions(
        column_types={n: pa.string() for n in schema.names}, null_values=[""], strings_can_be_null=True
    )
    parts = []
    for f in files:
        data = f.read_bytes()
        if f.suffix in _CODEC_SUFFIXES or any(c in data for c in special):
            return None
        if not data.strip(bytes(range(33))):
            continue  # Spark skips blank lines (`line.trim.isEmpty`)
        if header and data[0] <= 0x20:
            return None  # Spark's header is the first non-blank line
        try:
            parts.append(pacsv.read_csv(pa.BufferReader(data), read, parse, convert))
        except pa.ArrowException:  # short or long rows, invalid UTF-8
            return None
    if not parts:
        parts = [pa.table({n: pa.array([], pa.string()) for n in schema.names})]
    table = pa.concat_tables(parts)
    if stmt.rows is not None:
        table = table.slice(0, stmt.rows)
    if len(schema.names) == 1 or stmt.delimiter <= " ":
        # a line of blanks parses to a row here; Spark drops it
        if pc.any(functools.reduce(pc.and_kleene, map(_blank, table.columns))).as_py():
            return None
    columns = []
    for name, (pattern, atype), col in zip(schema.names, kinds, table.columns):
        if pattern is not None:
            if not pc.all(pc.match_substring_regex(col, f"^({pattern})$"), min_count=0).as_py():
                return None
            try:
                col = pc.cast(col, atype)  # safe: overflow and lossy rescale raise
            except pa.ArrowException:
                return None
        elif name in limits:
            col = pc.utf8_slice_codeunits(col, 0, limits[name])
        columns.append(col)
    return pa.table(columns, names=schema.names)


def import_dsv(
    spark: SparkSession, stmt: A.ImportDSVStmt, schema: T.StructType, limits: dict[str, int]
) -> tuple[DataFrame, int | None]:
    """The rows of the IMPORT ``stmt``, CHAR(n) ``limits`` applied, served
    from a parquet store staged once per (source files, options), and their
    count read from the store's footers. HAS HEADER and SKIP HEADER both
    consume each file's first line (with an explicit schema the header names
    are ignored, matching the reference where the declared table schema
    always wins). The store is a layout choice, never a correctness layer:
    when it cannot be built the CSV-backed frame is returned, with the count
    ``None`` (counting it would take a Spark job)."""

    def parsed_by_spark() -> DataFrame:
        df = read_dsv(
            spark,
            stmt.path,
            schema,
            delimiter=stmt.delimiter,
            quote=stmt.quote,
            escape=stmt.escape,
            header=stmt.has_header or stmt.skip_header,
            rows=stmt.rows,
        )
        return truncate_chars(df, limits)

    # the files Spark reads: it skips names starting with "_" or "."
    files = [f for f in staging.source_files([stmt.path]) if not f.name.startswith(("_", "."))]
    if not files:
        return parsed_by_spark(), None

    def write(tmp: str) -> None:
        size = sum(f.stat().st_size for f in files)
        table = _arrow_parse(files, schema, stmt, limits) if size <= _ARROW_MAX_BYTES else None
        if table is None:
            parsed_by_spark().write.parquet(tmp)
            return
        # one part file per split of text Spark's parse would read, so the
        # store is scanned by as many tasks as Spark's store would be
        split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        step = max(1, math.ceil(table.num_rows / math.ceil(size / split)))
        os.makedirs(tmp)
        for i, start in enumerate(range(0, max(table.num_rows, 1), step)):
            pq.write_table(table.slice(start, step), os.path.join(tmp, f"part-{i:05d}.parquet"))

    options = (stmt.delimiter, stmt.quote, stmt.escape, stmt.has_header, stmt.skip_header, stmt.rows)
    recipe = f"import:{schema.json()}:{options}:{sorted(limits.items())}"
    try:
        dest = staging.staged(f"import-{Path(stmt.path).name}", files, recipe, write)
    except Exception:
        return parsed_by_spark(), None
    return spark.read.schema(schema).parquet(dest), parquet_row_count(dest)
