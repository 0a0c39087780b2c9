"""Table loading + type normalization for the driver testdata: named
DataFrames with normalized column types. Physical-layout concerns
(Row/PAX/Column stores, `src/storage/*Store.cpp`) have no semantic content
on Spark — parquet is already PAX-like — so they intentionally do not
appear here.

The dialect's catalog — the reference's `include/mutable/catalog/Schema.hpp:869`
Database of `:387` Tables — is `dialect.engine.Catalog`.
"""

from __future__ import annotations

import math
import os
import weakref
from pathlib import Path
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql.pandas.types import from_arrow_type

from mutable_spark import staging
from mutable_spark.session import apply_runtime_confs

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: (session id, sf_dir, table, source size and mtime_ns) → DataFrame: the
#: logical plan is immutable, so sharing it saves ~100 ms of footer reads
#: per query; a source rewritten in place gets a fresh frame.
_TABLE_CACHE: dict[tuple, DataFrame] = {}

# ---------------------------------------------------------------------------
# Size-aware AQE gate. AQE's value — runtime join re-planning, partition
# coalescing, skew splitting — scales with SHUFFLE BYTES; its cost is a
# fixed per-stage barrier (each exchange becomes its own job submission +
# re-optimization round). Measured on this box (same-session A/B, min-of-3
# per arm, 42 headliners at sf0.1): AQE on adds 30-240 ms per classic
# query (tpch_q3 0.67→0.51 s off, sessionize 0.42→0.18 s, legacy-21 total
# 11.36→9.89 s) while the data is far too small for any re-plan to change
# the answer. So the catalog makes the cost-based call the optimizer
# can't, from the corpus alone: a directory whose ``*.parquet`` files sum
# below _AQE_BYTES_THRESHOLD plans WITHOUT the barriers and with narrow
# shuffles; at or above it (the 100 TB design point), or when its layout
# is empty or unreadable, AQE stays on with the session's own shuffle
# width — exactly the regime where a wrong join strategy or a skewed key
# costs minutes, not milliseconds. No caller hint enters the decision, so
# every query over one corpus sees one posture. The session default
# (session.RUNTIME_CONFS) remains ON, so paths that never load catalog
# tables keep the scale posture.
# ---------------------------------------------------------------------------

_AQE_BYTES_THRESHOLD = 256 * 1024 * 1024
#: session → sf_dir whose posture the gate last applied (avoids a glob and
#: a py4j conf.set roundtrip per load_table call); weak keys so entries
#: die with their session instead of colliding on a reused address.
#: CONTRACT: confs are session-global and Spark reads them at EXECUTION
#: time, so a session interleaving builds against differently-postured
#: sf_dirs executes earlier-built plans under whichever posture applied
#: last. Every harness here (driver, gate_sim, bench, oracle suite) runs
#: one sf_dir per session; a caller mixing sizes inherits the scale-safe
#: direction only when the LAST dir is the big one — mixed-size sessions
#: should pin spark.sql.adaptive.enabled=true themselves.
_AQE_APPLIED: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)

#: shuffle width for below-threshold inputs. Same-session A/B at sf0.1
#: (min-of-3 per arm, both sweeps): 32 → 8 partitions takes the classic
#: legacy-21 from 9.3-9.6 s to 7.6-7.8 s and the 21 heavies from 35.3 to
#: 28.0 s (sim_pq_train −1.33 s, sim_ivf_train −1.03 s, source_overlap
#: −0.95 s) — at ~17 MB of input, 32-way exchanges are pure task-launch
#: overhead. Above the threshold the session default stands and AQE
#: coalesces from there (the 100 TB sizing rule: ~128 MB of shuffle data
#: per partition).
_SMALL_SHUFFLE_PARTITIONS = "8"


def _tune_aqe(spark: SparkSession, sf_dir: str) -> None:
    """Apply the size posture for ``sf_dir``, a function of its parquet
    bytes alone; the bytes are summed only when the session last applied
    another directory's posture."""
    key = sf_dir.rstrip("/")
    try:
        if _AQE_APPLIED.get(spark) == key:
            return
    except TypeError:
        pass  # non-weakref-able session stub (tests): fall through and set
    try:
        total = sum(f.stat().st_size for f in Path(key).glob("*.parquet") if f.is_file())
    except OSError:
        total = 0
    big = not total or total >= _AQE_BYTES_THRESHOLD
    try:
        if not hasattr(spark, "_msq_default_shuffle"):
            spark._msq_default_shuffle = spark.conf.get(
                "spark.sql.shuffle.partitions", "200"
            )
        spark.conf.set("spark.sql.adaptive.enabled", "true" if big else "false")
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            spark._msq_default_shuffle if big else _SMALL_SHUFFLE_PARTITIONS,
        )
        _AQE_APPLIED[spark] = key
    except Exception:
        pass

# ---------------------------------------------------------------------------
# Ingest re-layout: the driver's testdata parquet is written as ONE row group
# per table, so every scan is a single task and everything pipelined onto the
# scan (filters, explodes, partial aggregates) runs on one core no matter how
# many the session has. The reference has the same ingest boundary — IMPORT
# copies external data into its own store layout before queries run
# (`src/mutable.cpp` IMPORT DSV) — so we do the analogous thing once per
# source file: copy it into _RELAYOUT_PARTS splittable files, staged by
# source identity (`staging.py`) so a testdata refresh invalidates it.
# The copy is made on the driver with pyarrow and submits no Spark job: the
# source streams through in _RELAYOUT_PARTS contiguous row ranges, one in
# memory at a time, each written as one part file in the source's own Arrow
# schema. Pure row movement: values and types are the source's (a copy whose
# parquet schema differs from the source's is discarded), and every
# oracle-paired aggregate is partition-order-independent (decimal sums,
# per-row folds, min/max — see operators/* docstrings), so oracle parity is
# unaffected by row placement. On a 1000-executor cluster this step is the
# ingest job that already exists (data lands in many ≥128 MB files) and
# _maybe_relayout degrades to a no-op via the row-group check.
# ---------------------------------------------------------------------------

_RELAYOUT_PARTS = 8  # measured sweet spot at sf0.1 on local[32]: 32-way
# parallelizes the scan stage but ~10-30 ms/task launch overhead in local
# mode erases the gain on ~25 MB tables (bench A/B: 46.1 s vs 34.6 s
# control); 8-way keeps the scan-stage parallelism that matters (explode
# pipelines, python workers) at a quarter of the task count. On a real
# cluster the ingest job would target ≥128 MB splits instead.
_RELAYOUT_MIN_ROWS = 2000  # below this a single task wins; don't relayout


def _maybe_relayout(src: Path) -> str:
    """Path of an ``_RELAYOUT_PARTS``-way splittable copy of ``src``, staged
    once per source identity; ``src`` itself when not worth it or on failure."""
    try:
        source = pq.ParquetFile(src)
        meta = source.metadata
        if meta.num_rows < _RELAYOUT_MIN_ROWS or meta.num_row_groups >= 8:
            return str(src)
        int96 = any(c.physical_type == "INT96" for c in meta.schema)

        def write(tmp: str) -> None:
            os.makedirs(tmp)
            slices = source.iter_batches(batch_size=math.ceil(meta.num_rows / _RELAYOUT_PARTS))
            for i, batch in enumerate(slices):
                part = os.path.join(tmp, f"part-{i:05d}.parquet")
                pq.write_table(
                    pa.Table.from_batches([batch], source.schema_arrow),
                    part,
                    use_deprecated_int96_timestamps=int96,
                )
                if i == 0 and not pq.read_metadata(part).schema.equals(meta.schema):
                    raise TypeError(f"relayout of {src} would change its parquet schema")

        return staging.staged(f"relayout-{src.stem}", [src], f"relayout:{_RELAYOUT_PARTS}:arrow", write)
    except Exception:  # directory dataset, unreadable footer or failed build
        return str(src)


#: Arrow types whose Spark parquet read type is PySpark's Arrow mapping
_SCALAR_TYPES = (
    pa.types.is_boolean,
    pa.types.is_signed_integer,
    pa.types.is_floating,
    pa.types.is_decimal128,
    pa.types.is_string,
    pa.types.is_large_string,
    pa.types.is_binary,
    pa.types.is_large_binary,
    pa.types.is_date32,
    pa.types.is_timestamp,
)


def _spark_type(at: pa.DataType) -> T.DataType:
    """Spark's parquet read type for the footer's Arrow type ``at``; raises
    for types whose Spark mapping this does not vouch for."""
    if pa.types.is_timestamp(at) and at.unit == "ns":
        return T.LongType()  # spark.sql.legacy.parquet.nanosAsLong
    if pa.types.is_list(at):
        return T.ArrayType(_spark_type(at.value_type), True)
    for scalar in _SCALAR_TYPES:
        if scalar(at):
            return from_arrow_type(at, prefer_timestamp_ntz=True)
    raise TypeError(f"no footer mapping for {at}")


def footer_schema(path) -> T.StructType | None:
    """The schema ``spark.read.parquet(path)`` infers, taken from the footer
    of ``path`` (a parquet file, or the first part file of a directory)
    without a Spark job. ``None`` — infer instead — for a footer holding a
    type the mapping does not cover: physical INT96, unsigned ints, maps,
    structs, a Spark-written schema. Tz-less timestamps map to
    TIMESTAMP_NTZ, as Spark infers them by default
    (``spark.sql.parquet.inferTimestampNTZ.enabled``)."""
    try:
        p = Path(path)
        if p.is_dir():
            p = min(f for f in p.iterdir() if f.suffix == ".parquet" and f.name[0] not in "._")
        meta = pq.read_metadata(p)
        if b"org.apache.spark.sql.parquet.row.metadata" in (meta.metadata or {}):
            return None
        if any(c.physical_type == "INT96" for c in meta.schema):
            return None
        return T.StructType(
            [T.StructField(f.name, _spark_type(f.type), True) for f in meta.schema.to_arrow_schema()]
        )
    except (OSError, TypeError, ValueError, pa.ArrowException):
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with engine type normalization.

    - ``events.ts`` arrives as INT64 TIMESTAMP(NANOS) (Spark can't read it
      natively; `spark.sql.legacy.parquet.nanosAsLong` is set by
      ``apply_runtime_confs``). Convert nanos → TIMESTAMP_NTZ via exact
      integer division, matching DuckDB's ns→µs truncation.
    """
    apply_runtime_confs(spark)
    _tune_aqe(spark, sf_dir)
    # applicationId (not id(spark)): a stopped session's address can be
    # reused by a new one, which would serve dead plans from the cache
    try:
        app = spark.sparkContext.applicationId
    except Exception:
        app = id(spark)
    src = Path(sf_dir.rstrip("/")) / f"{name}.parquet"
    st = src.stat() if src.exists() else None
    key = (app, sf_dir.rstrip("/"), name, st and (st.st_size, st.st_mtime_ns))
    if key in _TABLE_CACHE:
        return _TABLE_CACHE[key]
    path = _maybe_relayout(src)
    schema = footer_schema(path)
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") in ("bigint", "long"):
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    _TABLE_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> SimpleNamespace:
    """All testdata tables as attributes: ``t.lineitem``, ``t.orders``, …"""
    return SimpleNamespace(**{name: load_table(spark, sf_dir, name) for name in TABLE_NAMES})


def table_backing_path(spark: SparkSession, sf_dir: str, name: str) -> str | None:
    """Parquet path backing ``load_table``'s frame, or None when the served
    frame is value-transformed from the raw file bytes (events: the ns→µs
    timestamp conversion — a file-zone index over the raw file would
    describe different values than the frame). Lets the shell register
    loaded tables as parquet-backed so ``CREATE INDEX`` builds a real
    file-zone index (`dialect/engine.py`)."""
    if name == "events":
        return None
    return _maybe_relayout(Path(sf_dir.rstrip("/")) / f"{name}.parquet")
