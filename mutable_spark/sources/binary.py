"""Opaque-binary object ingestion via Spark's native ``binaryFile``
datasource — the entry point of every multimodal pipeline: images,
audio, video, and arbitrary attachments live as raw objects in the
store, and the first job turns (path, bytes) into a typed table that
downstream decode/feature ops (`operators/multimodal.py`) consume.

The reference has no binary I/O at all (DSV is its only format,
`src/io/DSVReader.cpp` — SURVEY §2.2), so this module is additive
capability on the training-data-pipeline axis:

- **Listing parallelizes; content never shuffles for the scan.** The
  binaryFile source distributes files across executors and reads each
  object once; `pathGlobFilter` prunes at LISTING time (no open() on
  non-matching objects) — at 100 TB of media the glob + partition-dir
  layout is the only thing standing between one job and a full-store
  walk.
- **Identity is checked per object, not per batch.** Each ingested row
  carries its byte length and a content digest (md5 over the hex
  expansion — binary-safe in both engines), plus a magic-byte
  validation column; a corrupted or truncated object surfaces as a row
  diff, not a silent pass.
- **modificationTime is deliberately dropped** — it is store metadata,
  not content, and any check including it would be flaky by
  construction.

The registered roundtrip stages a bounded MOD sample of the documents
table as `doc_<id>.bin` objects (4-byte 0x89 'M' 'S' 'B' magic header +
UTF-8 payload — a stand-in container format, same honesty rule as
`multimodal_extract`'s codec boundary), then reads them back through
the REAL distributed surface. The oracle recomputes every digest from
the original parquet via blob arithmetic (`'\\x89MSB'::BLOB ||
encode(text)`), so the driver check proves write→list→scan→digest
fidelity end to end without ever reading the staged copy itself.
"""

from __future__ import annotations

import os as _os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from mutable_spark import staging as _staging
from mutable_spark.catalog import load_tables as _load_tables
from mutable_spark.registry import query as _query

#: magic header every staged object carries (0x89 forces invalid UTF-8,
#: so the payload is honestly BINARY, never accidentally text)
MAGIC = b"\x89MSB"
_MAGIC_HEX = MAGIC.hex().upper()

#: systematic sample bound for the staged object set (≤ |documents|/20
#: files — listing cost stays trivial at every test SF)
_BIN_MOD = 20


def read_binary_dir(spark: SparkSession, path: str, glob: str = "*.bin") -> DataFrame:
    """The distributed ingestion surface: (path, length, content) for
    every object matching ``glob`` under ``path``. Schema is fixed by
    the datasource; modificationTime is dropped (store metadata, not
    content)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", F.col("length").cast("long").alias("length"), "content")
    )


def _ensure_bindir(spark: SparkSession, sf_dir: str) -> str:
    """The MOD-sampled documents as binary objects, staged once per source
    identity. Driver-side writes are fine HERE because staging is the test
    fixture, not the operator: in production the objects already exist in
    the store and only the read path below runs."""

    def write(path: str) -> None:
        _os.makedirs(path)
        rows = (
            _load_tables(spark, sf_dir)
            .documents.filter(
                (F.col("doc_id") % _BIN_MOD == 0) & F.col("text").isNotNull()
            )
            .select("doc_id", "text")
            .collect()  # bounded: |documents|/MOD staged fixture rows
        )
        for r in rows:
            with open(_os.path.join(path, f"doc_{r.doc_id}.bin"), "wb") as f:
                f.write(MAGIC + r.text.encode("utf-8"))

    return _staging.staged(
        "bin-docs",
        [_os.path.join(sf_dir, "documents.parquet")],
        f"binary:{_BIN_MOD}:v1",
        write,
    )


@_query(
    "source_binary_scan",
    oracle=rf"""
    SELECT doc_id,
           CAST({len(MAGIC)} + octet_length(encode(text)) AS BIGINT)
               AS n_bytes,
           md5(hex('\x89MSB'::BLOB || encode(text))) AS md5hex,
           CAST(1 AS BIGINT) AS magic_ok
    FROM documents
    WHERE doc_id % {_BIN_MOD} = 0 AND text IS NOT NULL
    """,
)
def source_binary_scan(spark, sf_dir):
    """Binary-object ingestion round-trip: the staged object store read
    back through the distributed ``binaryFile`` surface, one row per
    object — id parsed from the object path, exact byte length, a
    binary-safe content digest, and the magic-byte validation. The
    oracle recomputes every column from the ORIGINAL documents parquet
    via blob arithmetic, so a single corrupted, truncated, re-encoded,
    or mis-listed object hash-mismatches the driver row for exactly
    that doc_id.

    Scale shape: listing prunes by glob before any open; each object is
    read once on one executor (no shuffle — the frame is one map-side
    projection); the digest runs where the bytes land. The magic check
    is computed from the CONTENT (first {len(MAGIC)} bytes), so it
    is a real validation column, not a constant."""
    path = _ensure_bindir(spark, sf_dir)
    hexed = F.hex(F.col("content"))
    return read_binary_dir(spark, path).select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(hexed).alias("md5hex"),
        (F.substring(hexed, 1, len(_MAGIC_HEX)) == F.lit(_MAGIC_HEX))
        .cast("long")
        .alias("magic_ok"),
    )
