"""Partitioned layout: directory-level pruning for time-filtered scans.

The reference has no partitioning at all (SURVEY §4.2: "Partitioning/
shuffling — absent"); at 100 TB, date-partitioned layout is what turns a
"scan everything" query into an I/O plan proportional to the queried
window. Writing facts as `.../year=YYYY/part-*.parquet` makes Catalyst
resolve time predicates at *planning* time (PartitionFilters — zero data
read for pruned partitions), and dynamic partition pruning extends that to
join-derived predicates at runtime.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def write_partitioned_by_year(
    df: DataFrame, ts_col: str, path: str
) -> None:
    """Persist with a derived year partition column (hive-style dirs)."""
    (
        df.withColumn("year", F.year(ts_col))
        .write.mode("overwrite")
        .partitionBy("year")
        .parquet(path)
    )


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


# --------------------------------------------------------------------------
# Registry op: partition-pruned scan as a driver-gated query (the module
# above was test-only until r9). Complements the zone index: partition
# dirs prune at PLANNING time from the path structure; the zone index
# prunes at file granularity from footer stats.

import os  # noqa: E402

from mutable_spark import staging  # noqa: E402
from mutable_spark.catalog import load_tables  # noqa: E402
from mutable_spark.functions import dsum, sql_dsum  # noqa: E402
from mutable_spark.registry import query  # noqa: E402


def _ensure_date_partitioned(spark: SparkSession, sf_dir: str) -> str:
    """Events date-partitioned — the ingest re-layout a real lake already
    provides — staged once per source identity."""
    return staging.staged(
        "events-by-date",
        [os.path.join(sf_dir, "events.parquet")],
        "partition:d:v1",
        lambda tmp: (
            load_tables(spark, sf_dir)
            .events.withColumn("d", F.to_date("ts"))
            .write.mode("overwrite")
            .partitionBy("d")
            .parquet(tmp)
        ),
    )


@query(
    "source_partitioned_scan",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           {sql_dsum("value")} AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
    GROUP BY event_type
    """,
)
def source_partitioned_scan(spark, sf_dir):
    """Time-window aggregation over a date-partitioned lake layout — THE
    100 TB scan pattern for event data: the 7-day predicate resolves at
    PLANNING time against the hive-style `d=YYYY-MM-DD` directories
    (PartitionFilters), so pruned days cost zero I/O — not even footer
    reads. Complements the zone index (file-level, footer-stats-driven,
    works without re-layout) the way a real deployment uses both:
    partition on the dominant predicate column, zone-map the rest.
    Partitioning is a physical property, so the driver checks values
    equal the full-scan oracle; tests pin the PartitionFilters prune.

    At 100 TB: ~daily partitions keep directory listings tractable
    (~10³ dirs for 3 years); finer grains explode small files —
    within-day selectivity belongs to row-group stats, not more dirs."""
    path = _ensure_date_partitioned(spark, sf_dir)
    e = spark.read.parquet(path)
    return (
        e.filter(
            (F.col("d") >= F.lit("2024-01-08").cast("date"))
            & (F.col("d") <= F.lit("2024-01-14").cast("date"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("sum_value"),
        )
    )
