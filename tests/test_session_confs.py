"""Runtime-conf application is SESSION-scoped (ADVICE r10): confs set via
``spark.conf.set`` live on the SparkSession, not the SparkContext, so a
second session sharing the context (``spark.newSession()``) must get its
own application and its own table frames — memos keyed on the shared
application skipped the confs and served the first session's frames."""

from contextlib import contextmanager

from pyspark.sql.conf import RuntimeConfig

from mutable_spark import catalog as C, registry
from mutable_spark.catalog import load_tables
from mutable_spark.session import RUNTIME_CONFS, apply_runtime_confs, state
from tests.conftest import TESTDATA

# a conf that is runtime-settable and session-scoped
_PROBE = "spark.sql.codegen.maxFields"
_SF = f"{TESTDATA}/sf0.01"


def test_new_session_sharing_context_gets_runtime_confs(spark):
    apply_runtime_confs(spark)
    assert spark.conf.get(_PROBE) == RUNTIME_CONFS[_PROBE]

    sibling = spark.newSession()
    try:
        # fresh session: Spark default, not our tuned value
        sibling.conf.set(_PROBE, "100")
        apply_runtime_confs(sibling)
        assert sibling.conf.get(_PROBE) == RUNTIME_CONFS[_PROBE]
    finally:
        # leave the shared context's main session untouched
        assert spark.conf.get(_PROBE) == RUNTIME_CONFS[_PROBE]


def test_memo_is_per_session_object(spark):
    apply_runtime_confs(spark)
    assert "_mutable_spark_state" in vars(spark)
    sib = spark.newSession()
    assert "_mutable_spark_state" not in vars(sib)
    apply_runtime_confs(sib)
    assert state(sib) is vars(sib)["_mutable_spark_state"]
    assert state(sib) is not state(spark)


def test_sibling_session_reads_its_own_frames(spark):
    """A ``newSession()`` sibling shares the SparkContext but not temp
    views, so it must get its own table frames: a frame of the first
    session would bind `plans.tpch._q`'s views into that session."""
    registry.load_all()
    sf = f"{TESTDATA}/sf0.001"
    q6 = registry.QUERIES["tpch_q6"]
    expected = q6(spark, sf).collect()
    sib = spark.newSession()
    assert C.load_table(sib, sf, "lineitem").sparkSession is sib
    assert q6(sib, sf).collect() == expected


@contextmanager
def _big_corpus(spark, monkeypatch, sf_dir):
    """``sf_dir``'s posture under a 1-byte threshold: a simulated big
    deployment. The small-input posture is re-applied on exit."""
    try:
        with monkeypatch.context() as m:
            m.setattr(C, "_AQE_BYTES_THRESHOLD", 1)
            state(spark).posture = None
            C._tune_aqe(spark, sf_dir)
            yield
    finally:
        state(spark).posture = None
        C._tune_aqe(spark, sf_dir)


def test_size_aware_aqe_gate(spark, monkeypatch):
    """catalog._tune_aqe (r11): inputs below the threshold plan without
    AQE's per-stage barriers; at/above it (the 100 TB posture) AQE is on."""
    load_tables(spark, _SF)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    with _big_corpus(spark, monkeypatch, _SF):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"


def test_size_aware_shuffle_width(spark, monkeypatch):
    """Below the input threshold the gate narrows shuffles to 8
    partitions; at scale the session default (AQE-coalesced) returns."""
    load_tables(spark, _SF)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    with _big_corpus(spark, monkeypatch, _SF):
        assert (
            spark.conf.get("spark.sql.shuffle.partitions")
            == state(spark).default_shuffle
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_posture_is_a_function_of_the_corpus(spark, monkeypatch):
    """The gate reads the corpus directory and nothing else: once a corpus
    is loaded, building any op family over it sets no conf, and every
    testdata corpus gets the small-input posture."""
    registry.load_all()
    sf = f"{TESTDATA}/sf0.001"
    load_tables(spark, sf)
    calls = []
    real_set = RuntimeConfig.set

    def counting_set(self, key, value):
        calls.append(key)
        return real_set(self, key, value)

    with monkeypatch.context() as m:
        m.setattr(RuntimeConfig, "set", counting_set)
        # a TPC-H query, a shingle-tier dedup and BPE training
        for name in ("tpch_q1", "dedup_minhash_lsh", "text_bpe_train"):
            registry.QUERIES[name](spark, sf)
    assert calls == []

    for d in (sf, _SF, f"{TESTDATA}/sf0.1"):
        load_tables(spark, d)
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false", d
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8", d
