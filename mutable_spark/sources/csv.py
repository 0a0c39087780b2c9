"""CSV source/sink — the interchange format every upstream system can
emit, registered as a value-checked round-trip like ORC and JSONL.

The reference's only format is DSV (`src/io/DSVReader.cpp`, SURVEY §2.2)
— this engine runs the literal IMPORT DSV surface through
`sources/dsv.py`; this module is the Spark-native CSV datasource
counterpart with the production options spelled out:

- **Schema explicit, never inferred** (inference = an extra full pass;
  the corpus schemas are known contracts).
- **Quoting/escaping on by default**: the text column is arbitrary
  content; the writer quotes embedded delimiters/quotes/newlines and
  the reader must be configured `multiLine` only if newlines can occur
  (they cannot in the documents contract — pinned by the round-trip's
  md5 check, which would diverge on any mangling).
- **Malformed rows quarantined** via PERMISSIVE + corrupt-record column
  (same rule as `jsonl.py`: FAILFAST kills a 100 TB job for one bad
  line, DROPMALFORMED destroys the evidence).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from mutable_spark import staging
from mutable_spark.catalog import load_tables
from mutable_spark.registry import query
from mutable_spark.sources.jsonl import DOCUMENTS_SCHEMA


def _ensure_csv(spark: SparkSession, sf_dir: str) -> str:
    """Documents as quoted CSV, staged once per source identity."""
    return staging.staged(
        "csv-docs",
        [os.path.join(sf_dir, "documents.parquet")],
        "csv:v1",
        lambda tmp: (
            load_tables(spark, sf_dir)
            .documents.write.mode("overwrite")
            .options(header=True, quote='"', escape='"')
            .csv(tmp)
        ),
    )


@query(
    "source_csv_roundtrip",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           MIN(md5(text)) AS min_md5,
           MAX(md5(text)) AS max_md5
    FROM documents
    WHERE lang IN ('en', 'de')
    GROUP BY source
    """,
)
def source_csv_roundtrip(spark, sf_dir):
    """Documents written to quoted CSV and aggregated from the CSV copy —
    round-trip fidelity as a driver-gated value check against the
    original parquet (min/max md5 over the full text column catch any
    quoting/escaping mangling, the classic CSV failure mode, not just
    counts). Completes the format matrix: parquet (primary), ORC,
    JSONL, DSV (reference-literal), CSV.

    Scale shape: CSV is line-splittable under these options (no
    embedded newlines in the contract), the lang filter evaluates in
    the scan stage, and the aggregation partial-aggs before its single
    shuffle."""
    path = _ensure_csv(spark, sf_dir)
    d = spark.read.options(header=True, quote='"', escape='"').schema(
        DOCUMENTS_SCHEMA
    ).csv(path)
    return (
        d.filter(F.col("lang").isin("en", "de"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.min(F.md5("text")).alias("min_md5"),
            F.max(F.md5("text")).alias("max_md5"),
        )
    )
