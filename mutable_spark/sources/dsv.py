"""DSV (delimiter-separated values) import with the reference's IMPORT
semantics.

Reference surface: `IMPORT INTO t DSV "file" [ROWS n] [DELIMITER c]
[ESCAPE c] [QUOTE c] [HAS HEADER] [SKIP HEADER]` — grammar
`doc/syntax-grammar.md` import-statement; reader `src/io/DSVReader.cpp:23-40`;
CLI wiring `src/mutable.cpp:263-292`. DSV is the reference's *only* I/O
format; on Spark this maps to the csv datasource with an explicit schema
(never inference — mutable schemas are declared, SURVEY §1.3).

Scale note: spark.read.csv parallelizes over file splits; ROWS n becomes a
limit, which Spark evaluates with an early-stop scan (LocalLimit), not a
full read.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.types as T

from mutable_spark import staging
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


#: IMPORT-to-store staging: the reference's IMPORT copies the DSV into the
#: engine's store (`src/mutable.cpp:263-292`) and queries never re-parse
#: text; here the store is parquet. Sources below this size skip — for
#: tiny fixtures the parse costs nothing and the write would dominate.
_MATERIALIZE_MIN_BYTES = 4 * 1024 * 1024


def materialize_import(
    spark: SparkSession, df: DataFrame, source_path: str, key_parts: str
) -> DataFrame:
    """A parquet-backed copy of the imported frame, staged once per (source
    file identity, ``key_parts``). Falls back to the CSV-backed frame for
    small sources or on any staging failure (materialization is a layout
    choice, never a correctness layer)."""
    files = staging.source_files([source_path])
    if not files or sum(f.stat().st_size for f in files) < _MATERIALIZE_MIN_BYTES:
        return df
    try:
        dest = staging.staged(
            f"import-{Path(source_path).name}",
            files,
            f"import:{key_parts}",
            lambda tmp: df.write.mode("overwrite").parquet(tmp),
        )
        # the store holds ``df``, so its schema needs no inference job
        return spark.read.schema(df.schema).parquet(dest)
    except Exception:
        return df


def import_dsv(spark: SparkSession, stmt: A.ImportDSVStmt, schema: T.StructType) -> DataFrame:
    """Execute an ImportDSVStmt: HAS HEADER and SKIP HEADER both consume
    the first line (with an explicit schema the header names are ignored,
    matching the reference where the declared table schema always wins)."""
    return read_dsv(
        spark,
        stmt.path,
        schema,
        delimiter=stmt.delimiter,
        quote=stmt.quote,
        escape=stmt.escape,
        header=stmt.has_header or stmt.skip_header,
        rows=stmt.rows,
    )
