"""SparkSession factory tuned for the engine.

Design point: a 1000-executor cluster over ~100 TB. On such a cluster the
session would additionally set dynamic allocation, s3a committers, and a
shuffle service; locally we keep the subset that shapes plans the same way
(AQE, broadcast thresholds, partition sizing) so the plans we test are the
plans we'd ship.
"""

from __future__ import annotations

import decimal
import os
from dataclasses import dataclass, field

import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

#: Runtime-settable SQL confs applied to any session we are handed (the
#: driver owns the session in verify runs — these are all dynamic confs).
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic wall-clock semantics: testdata timestamps are naive
    # (parquet isAdjustedToUTC=false → TIMESTAMP_NTZ); anything that goes
    # through an instant conversion must do so in UTC.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS) which Spark's parquet reader
    # rejects; read as long and convert with integer division (catalog.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # AQE: runtime coalescing of shuffle partitions + skew-join splitting —
    # the 100 TB safety net for misestimated shuffles.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables (region/nation/part/supplier at test SFs) broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Join strategy (guide §3.1/§9): let the planner pick shuffled-hash
    # over sort-merge when its size conditions fit (drops the two full
    # sorts), and let AQE rewrite a planned SMJ to SHJ at runtime when
    # every post-shuffle partition of the build side measures under
    # 64 MB (the conf is 0 = off by default). Both rules are BYTES-
    # parameterized, not core-count tunes. Guard honesty (r16, advice
    # item): only the AQE rewrite gates on MEASURED partition bytes;
    # the static preferSortMergeJoin=false path trusts planner size
    # ESTIMATES (estimate < threshold × numShufflePartitions picks a
    # build side that cannot spill), so a badly misestimated derived
    # frame could OOM an executor at scale — the deployment posture is
    # that AQE re-plans every shuffle stage from runtime statistics
    # (adaptive.enabled above), which corrects the static pick before
    # the build materializes; a cluster without AQE should drop the
    # static flag and keep only the runtime rewrite. Measured (r15,
    # interleaved min-of-4 per arm, sf0.1): pipeline_split_leakage_safe
    # −0.36 s, pipeline_decontaminate_semantic −0.29, sim_ivf_train
    # −0.24, dedup_embedding_multiprobe −0.22, sim_semantic_dedup
    # −0.07; worst observed +0.06 (op_join_nary, within noise).
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": str(
        64 * 1024 * 1024
    ),
    # Scan split sizing. The default 128 MB bin + 4 MB open-cost packs the
    # catalog's 8-way re-layout copies (staging.staged) back into
    # 1-2 scan tasks, serializing every pipeline rooted at the scan. 16/16
    # gives one task per re-layout file. On a 1000-executor cluster over
    # 100 TB the data arrives in many ≥128 MB files and these would stay at
    # their defaults; here they express the same rule — roughly one scan
    # split per core — for ~25 MB inputs.
    "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": str(16 * 1024 * 1024),
    # InferFiltersFromGenerate adds `size(arr) > 0 AND isnotnull(arr)`
    # ahead of every explode/posexplode. The generate's child is a cheap
    # attribute at inference time, but PushDownPredicates then substitutes
    # the FULL producing expression through the projects below — for the
    # k-gram tier that pushes the entire 19-level zip_with chain (token-md5
    # transform inlined per slice) into an interpreted Filter, evaluated
    # once more per document. Measured r15: dedup_verbatim_ngrams 2.05 →
    # 0.43 s at sf0.1 with the rule excluded; the rule's only benefit
    # (scan-level pruning of rows whose array is empty) is semantics-free
    # here because a non-outer generate already emits nothing for
    # NULL/empty arrays. Cost grows with corpus size (per-row re-eval), so
    # exclusion is scale-honest, not a local[32] tune.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # Whole-stage codegen caps out at 100 fields by default, which silently
    # drops the MinHash signature build (128 min-aggregates) and other wide
    # sketch aggregates to interpreted evaluation — measured 3x slower at
    # sf0.1. 250 keeps every registered operator inside codegen; Spark still
    # splits the generated code into sub-8KB JIT-able methods.
    "spark.sql.codegen.maxFields": "250",
}


@dataclass
class SessionState:
    """What the engine remembers about one SparkSession, kept on the
    session object: a ``newSession()`` sibling (own confs and temp views)
    starts cold, and the record dies with its session.

    - ``posture``: the ``sf_dir`` whose size posture `catalog._tune_aqe`
      applied; ``default_shuffle``: the session's own
      ``shuffle.partitions``, captured before the first posture;
    - ``frames``: ``(sf_dir, table, size, mtime_ns)`` → `load_table`'s
      frame (its plan is immutable; a source rewritten in place gets a
      new key);
    - ``views``: temp view name → the frame `plans.tpch._q` bound to it,
      so re-binding the same frame costs no round trip.
    """

    posture: str | None = None
    default_shuffle: str | None = None
    frames: dict[tuple, DataFrame] = field(default_factory=dict)
    views: dict[str, DataFrame] = field(default_factory=dict)


def state(spark: SparkSession) -> SessionState:
    """The session's record; the first call applies `RUNTIME_CONFS` (each
    ``conf.set`` is a py4j round trip, so it is done once per session)."""
    st = vars(spark).get("_mutable_spark_state")
    if st is None:
        for k, v in RUNTIME_CONFS.items():
            try:
                spark.conf.set(k, v)
            except Exception:
                pass  # static conf on this build — session default applies
        # setdefault is atomic: threads racing on a new session apply the
        # same confs and share the one record stored
        st = vars(spark).setdefault("_mutable_spark_state", SessionState())
    return st


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    state(spark)
    return spark


def get_spark(app_name: str = "mutable_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a tuned local session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle partition
    count tracks parallelism; on a real cluster this would be sized to
    ~128 MB of shuffle data per partition and AQE coalesces from there.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        # local mode = driver-only JVM: this is the ONLY memory knob.
        # 32 executor threads + accumulated caches in a small heap means
        # GC pressure; the box has 128 GiB.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Whole-stage-codegen CLASS cache, sized to the workload (static
        # conf, so it lives here and not in RUNTIME_CONFS). The default
        # is 100 compiled classes, while this engine's query library
        # generates ~50-140 codegen units per HEAVY query (measured via
        # CodegenMetrics: sim_ivfpq_search alone is 106) — a single
        # query overflows the default cache, so EVERY invocation of
        # every query re-runs Janino even though the generated source
        # is byte-stable across re-plans. At 8192 entries a repeated
        # query recompiles nothing (measured r15 opt round: compiles
        # 571→0 on the 8-heavy-query loop's later passes; sim_pq_search
        # 2.9→1.2 s, sim_ivfpq_search 4.4→1.8 s warm). Not a local-mode
        # tune: any long-lived driver serving a multi-query workload
        # wants the cache sized to its distinct codegen units; memory
        # cost is bounded (generated classes are KBs — tens of MB total).
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        # No per-call call-site capture (static conf; PySpark also caches
        # it per process at the first wrapped call). With it on, every
        # Column method and F.col captures the Python stack and makes ~6
        # extra py4j round trips (active session, conf read, origin set
        # and clear): a dialect UPDATE cost ~590 round trips, ~140
        # without. What is lost: Spark errors no longer carry the
        # "== DataFrame ==" Python call-site fragment; the error class,
        # SQLSTATE and message are unchanged. For the dialect that call
        # site pointed into compiler.py, never at the user's SQL. A
        # session not built here keeps PySpark's default.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return apply_runtime_confs(builder.getOrCreate())


# --- driver-built frames ----------------------------------------------------
class DecimalRangeError(ValueError):
    """A DECIMAL value that does not fit its field's precision."""

    def __init__(self, field: T.StructField, value: decimal.Decimal):
        self.field, self.value = field, value
        super().__init__(
            f"value {value} does not fit field {field.name!r} of type "
            f"{field.dataType.simpleString()}"
        )


#: Quantizing context wide enough for any coefficient, so only the range
#: check in `_decimal_column` rejects a value.
_EXACT = decimal.Context(prec=decimal.MAX_PREC)


def _decimal_column(values: list, field: T.StructField) -> list:
    """Round to the field's scale half-up (the JVM's conversion of a
    Python ``Decimal``: 1.005 → 1.01, −1.005 → −1.01) and reject values
    whose integer part needs more than ``precision − scale`` digits."""
    step = decimal.Decimal(1).scaleb(-field.dataType.scale)
    bound = 10 ** (field.dataType.precision - field.dataType.scale)
    out = []
    for v in values:
        if v is not None:
            q = v.quantize(step, rounding=decimal.ROUND_HALF_UP, context=_EXACT)
            if abs(q) >= bound:
                raise DecimalRangeError(field, v)
            v = q
        out.append(v)
    return out


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: T.StructType | str
) -> DataFrame:
    """A DataFrame over driver-built rows (a list of tuples in ``schema``
    order) whose plan is a ``LocalRelation``.

    ``spark.createDataFrame(<list>, schema)`` pickles the rows into a
    Python-parallelized RDD: every later scan of that frame runs one
    Python-worker task per partition (``Scan ExistingRDD``), and Catalyst
    has no size for it. Here the rows are checked with PySpark's own type
    verifier (the same NOT NULL and integer-range errors as the list
    path), DECIMALs are quantized as the JVM would (a value that does not
    fit raises `DecimalRangeError` here, not on a later read), and the
    columns go to the JVM as one Arrow table: the scan is a
    ``LocalTableScan`` with real statistics and no Python worker."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    verify = T._make_type_verifier(schema)
    for r in rows:
        verify(r)
    arrow_schema = to_arrow_schema(schema)
    columns = []
    for i, field in enumerate(schema.fields):
        values = [r[i] for r in rows]
        if isinstance(field.dataType, T.DecimalType):
            values = _decimal_column(values, field)
        columns.append(pa.array(values, type=arrow_schema.field(i).type))
    return spark.createDataFrame(
        pa.Table.from_arrays(columns, schema=arrow_schema), schema
    )
