"""ORC source/sink: the second columnar lake format, demonstrating that
every operator in the engine is storage-agnostic.

The reference reads DSV only (`src/mutable.cpp` IMPORT DSV; SURVEY §2.2);
this engine additionally reads/writes parquet (primary), JSONL
(`sources/jsonl.py` — schema-explicit with per-line quarantine), and ORC
(here). ORC matters operationally because large lakes are frequently
mixed-format (Hive-era ORC + newer parquet); a pipeline that can scan
both without a conversion pass avoids rewriting petabytes before the
first query. Spark's ORC reader has the same predicate-pushdown +
column-pruning + vectorized-read surface as parquet, so every plan-shape
argument in SCALE.md carries over unchanged.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from mutable_spark import staging
from mutable_spark.catalog import load_tables
from mutable_spark.registry import query


def _ensure_orc(spark: SparkSession, sf_dir: str) -> str:
    """Documents as ORC, staged once per source identity."""
    return staging.staged(
        "orc-docs",
        [os.path.join(sf_dir, "documents.parquet")],
        "orc:v1",
        lambda tmp: load_tables(spark, sf_dir).documents.write.mode("overwrite").orc(tmp),
    )


@query(
    "source_orc_roundtrip",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           COUNT(DISTINCT lang) AS n_langs,
           MIN(md5(text)) AS min_md5
    FROM documents
    WHERE n_chars > 100
    GROUP BY source
    """,
)
def source_orc_roundtrip(spark, sf_dir):
    """Documents written to ORC and aggregated from the ORC copy —
    format round-trip fidelity as a driver-gated value check (the
    oracle reads the ORIGINAL parquet, so any loss/reorder/encoding
    drift in the ORC path would hash-mismatch; min_md5 over the full
    text column makes content corruption detectable, not just counts).

    Scale shape: identical to the parquet scan — the `n_chars`
    predicate pushes into the ORC reader (PushedFilters, pinned in
    tests), columns prune to the four referenced, and the aggregation
    partial-aggs before its single shuffle. The one-time ORC write is
    the point: NO conversion pass is needed to query mixed-format
    lakes, because the DataFrame plan is storage-agnostic."""
    path = _ensure_orc(spark, sf_dir)
    d = spark.read.orc(path)
    return (
        d.filter(F.col("n_chars") > 100)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.min(F.md5("text")).alias("min_md5"),
        )
    )
