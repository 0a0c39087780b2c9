"""JSONL (newline-delimited JSON) source/sink — the lingua franca of
LLM training corpora (raw crawls, instruction sets, and eval suites all
ship as .jsonl[.gz]).

The reference has no JSON I/O at all (DSV is its only format,
`src/io/DSVReader.cpp` — SURVEY §2.2), so this module is additive
capability on the training-data-pipeline axis, built on Spark's native
json datasource:

- **Schema is always explicit, never inferred.** Schema inference is a
  full extra pass over the data — at 100 TB that is a second job before
  the first real one. Corpus schemas are known (they are this repo's
  table contracts), so readers take a StructType.
- **Malformed lines are quarantined, not fatal.** A web-scale corpus
  always contains truncated/garbled lines. PERMISSIVE mode routes them
  to a `_corrupt_record` column so the pipeline can count and sample
  them (the `bad` frame below); DROPMALFORMED silently loses the
  evidence and FAILFAST kills a 100 TB job for one bad line.
- **Round-trip is exact for the corpus types.** documents columns are
  BIGINT/STRING — JSON-safe. Spark writes one .json part per partition,
  so the sink parallelism is the frame's partitioning (the same knob as
  every other writer here).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

#: the documents table contract (catalog.load_table normalizes parquet to
#: exactly these types, so a JSONL round-trip is type-stable)
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def write_jsonl(df: DataFrame, path: str) -> None:
    """Write a frame as JSONL: one JSON object per line, one part file per
    partition (repartition/coalesce upstream to size output files; a
    100 TB export targets ~1 GB parts, same rule as the parquet
    writers)."""
    df.write.mode("overwrite").json(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """Read a JSONL dataset with an explicit schema. Returns
    ``(good, bad)``: ``good`` holds the schema columns for parseable
    lines; ``bad`` holds the raw text of quarantined lines (parse
    failures — truncation, type mismatch, bare garbage), for the
    count-and-sample step a real ingest runs before trusting a crawl.

    Both views parse via the text datasource + ``from_json`` rather than
    the raw json datasource: Spark forbids plans whose only reference
    into a raw json scan is the internal corrupt column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN — and column
    pruning makes even ``good.count()`` such a plan; the documented
    workaround is caching the whole relation, which at 100 TB is not an
    option). text + from_json is the same Jackson parse with no such
    restriction, still line-splittable and codec-aware."""
    corrupt = T.StructField("_corrupt_record", T.StringType())
    full_schema = T.StructType(list(schema.fields) + [corrupt])
    parsed = F.from_json(
        F.col("value"),
        full_schema,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
    )
    raw = spark.read.text(path).select("value", parsed.alias("j"))
    good = raw.filter(F.col("j._corrupt_record").isNull()).select(
        *[F.col(f"j.{f.name}").alias(f.name) for f in schema.fields]
    )
    bad = raw.filter(F.col("j._corrupt_record").isNotNull()).select(
        F.col("value").alias("line")
    )
    return good, bad


# --- registered roundtrip (r11) --------------------------------------------

import os as _os

from mutable_spark import staging as _staging
from mutable_spark.catalog import load_tables as _load_tables
from mutable_spark.registry import query as _query


def _ensure_jsonl(spark: SparkSession, sf_dir: str) -> str:
    """Documents as JSONL, staged once per source identity."""
    return _staging.staged(
        "jsonl-docs",
        [_os.path.join(sf_dir, "documents.parquet")],
        "jsonl:v1",
        lambda tmp: write_jsonl(_load_tables(spark, sf_dir).documents, tmp),
    )


@_query(
    "source_jsonl_roundtrip",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           COUNT(DISTINCT source) AS n_sources,
           MIN(md5(text)) AS min_md5,
           CAST(0 AS BIGINT) AS n_quarantined
    FROM documents
    WHERE n_chars <= 400
    GROUP BY lang
    """,
)
def source_jsonl_roundtrip(spark, sf_dir):
    """Documents written to JSONL and aggregated from the JSONL copy via
    the schema-explicit quarantining reader above — format round-trip
    fidelity as a driver-gated value check (the oracle reads the
    ORIGINAL parquet; min_md5 over the text column catches any encoding
    or escaping drift, not just row counts). The quarantine channel is
    part of the checked contract: a clean export must parse with ZERO
    corrupt lines, surfaced as a constant-0 column that would go
    nonzero (and hash-mismatch) if the writer ever emitted a line the
    reader rejects.

    Scale shape: text source + from_json is line-splittable (a 100 TB
    crawl fans out by line ranges), the n_chars filter evaluates right
    after the parse projection, and the aggregation partial-aggs before
    its single shuffle. Schema is explicit — no inference pass."""
    path = _ensure_jsonl(spark, sf_dir)
    good, bad = read_jsonl(spark, path, DOCUMENTS_SCHEMA)
    n_bad = bad.count()  # bounded: quarantined lines of a staged copy
    return (
        good.filter(F.col("n_chars") <= 400)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.countDistinct("source").alias("n_sources"),
            F.min(F.md5("text")).alias("min_md5"),
            F.lit(n_bad).cast("long").alias("n_quarantined"),
        )
    )
