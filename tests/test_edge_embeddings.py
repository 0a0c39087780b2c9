"""Adversarial embeddings through the oracle-equality harness: zero
vectors (NaN cosines — both engines must place them identically in
rankings), exact duplicates (cos = 1 ties), antipodal pairs (cos = -1),
tiny magnitudes, and a constant dimension — the degenerate geometry a
real embedding table accumulates (failed encoder runs, padding rows).
"""

from __future__ import annotations

import duckdb
import pytest

from mutable_spark import registry
from tests.oracle_harness import compare

registry.load_all()

_DIM = 64


def _vec(fill=0.0, **at):
    v = [float(fill)] * _DIM
    for k, x in at.items():
        v[int(k[1:])] = float(x)
    return v


_BASE = _vec(0.1, d0=1.0, d1=-0.5)
#: (vec_id, embedding, label)
_EDGE_VECS = [
    (0, _BASE, 0),
    (1, _vec(), 1),  # the zero vector: cosine = 0/0 = NaN against anything
    (2, list(_BASE), 2),  # exact duplicate of 0 (cos = 1, tie-break on id)
    (3, [-x for x in _BASE], 3),  # antipodal (cos = -1)
    (4, _vec(1e-30, d5=1e-30), 4),  # tiny magnitude, same direction as d5
    (5, _vec(0.0, d5=1.0), 5),  # unit vector on d5 (cos 1 with #4)
    (6, _vec(0.25), 6),  # constant vector
    (7, _vec(0.1, d0=1.0, d1=-0.5, d63=0.01), 7),  # near-dup of 0
    (8, _vec(0.0, d2=2.0, d3=-3.0), 8),
    (9, _vec(0.0, d2=2.0, d3=3.0), 9),
    (10, _vec(0.5, d10=-5.0), 10),
    (11, _vec(0.5, d10=5.0), 11),
]

#: ops whose input is only the embeddings table. sim_knn_join's query set
#: (vec_id % 50 == 0) is just the base vector here; cosine_topk queries
#: from MIN(vec_id) = the base vector; the zero vector is a CANDIDATE in
#: both, so NaN ranking placement is exercised in both engines.
_EMB_OPS = [
    "sim_cosine_topk",
    "sim_nearest_pairs",
    "sim_knn_join",
    "sim_ann_lsh",
    "sim_ivf_topk",
    "sim_ivf_train",
    "dedup_embedding_cosine",
    "sim_semantic_dedup",
    "sim_quantize_embeddings",
    # r12 additions: the balance pre-flight and the multiprobe blocking
    # family (certifications + production tier + recall curve) — zero
    # vectors make centroid cosines NaN, so the rank-by-cosine assignment
    # must place NaN identically in both engines
    "sim_ivf_balance",
    "dedup_blocking_certification",
    "dedup_multiprobe_certification",
    "dedup_embedding_multiprobe",
    "dedup_multiprobe_sweep",
    # r13 additions: the Lloyd re-assignment pair — NaN centroid scores
    # (the zero vector) must rank identically in both engines' rk=1 slice
    "sim_cell_reassign",
    "dedup_reassign_certification",
    # r13: MRL two-stage serving — NULL prefix cosines (zero vector)
    # must shortlist identically in both engines
    "sim_matryoshka_search",
    # r13: LSH recall instrument — composes two edge-pinned paths
    "sim_ann_recall",
    # r14: the band-shape sweep — NaN cosines and the zero vector's
    # all-zero sign bits must band and rerank identically at every width
    "sim_lsh_band_sweep",
    # r14: the production re-trained √N quantizer — k and the derived
    # probe depth are computed from the corpus COUNT in both engines,
    # and the zero vector's NULL centroid scores must chain identically
    # through every Lloyd round
    "sim_retrained_cells",
    "sim_retrain_convergence",
    "pipeline_decontaminate_semantic",
]


@pytest.fixture(scope="module")
def emb_dir(spark, tmp_path_factory):
    import os

    from tests.conftest import SF_DIR

    path = tmp_path_factory.mktemp("edge_embeddings")
    df = spark.createDataFrame(_EDGE_VECS, "vec_id long, embedding array<float>, label int")
    df.coalesce(1).write.mode("overwrite").parquet(str(path / "embeddings.parquet"))
    for f in os.listdir(SF_DIR):
        if f.endswith(".parquet") and f != "embeddings.parquet":
            os.symlink(os.path.join(SF_DIR, f), str(path / f))
    return str(path)


@pytest.fixture(scope="module")
def emb_duck(emb_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{emb_dir}/embeddings.parquet/*.parquet'"
    )
    return con


@pytest.mark.parametrize("name", _EMB_OPS)
def test_edge_embeddings_match_oracle(name, spark, emb_duck, emb_dir):
    ok, msg = compare(name, spark, emb_duck, emb_dir)
    assert ok, msg


def test_vec_cosine_pre_is_bit_identical_to_vec_cosine(spark):
    """The norm-hoisted cosine (`vec_cosine_pre`, the r11 pair-loop
    optimization) must equal the per-pair `vec_cosine` BITWISE on
    adversarial vectors: zero vectors (NULL via try_divide), tiny and
    huge magnitudes, negatives, and denormal-adjacent values — the
    operands and operation sequence are identical, only the evaluation
    point of the norms moves."""
    import pyspark.sql.functions as F

    from mutable_spark.functions import vec_cosine, vec_cosine_pre, vec_norm

    vecs = [
        [0.0] * 4,
        [1.0, 0.0, 0.0, 0.0],
        [-1e-300, 1e-300, -1e-300, 1e-300],
        [1e150, -1e150, 1e150, -1e150],
        [0.1, 0.2, 0.3, 0.4],
        [-0.5, 0.25, -0.125, 0.0625],
        [3.141592653589793, -2.718281828459045, 1.4142135623730951, -1.7320508075688772],
    ]
    rows = [(i, j, a, b) for i, a in enumerate(vecs) for j, b in enumerate(vecs)]
    df = spark.createDataFrame(
        rows, "i int, j int, a array<double>, b array<double>"
    )
    out = df.select(
        vec_cosine(F.col("a"), F.col("b")).alias("plain"),
        vec_cosine_pre(
            F.col("a"),
            F.col("b"),
            vec_norm(F.col("a")),
            vec_norm(F.col("b")),
        ).alias("pre"),
    ).collect()
    for r in out:
        assert (r.plain is None) == (r.pre is None)
        if r.plain is not None:
            import struct

            assert struct.pack("d", r.plain) == struct.pack("d", r.pre)


# --- ragged corpus: the fixed-64-dim contract violated on purpose --------
# r13 self-review follow-through: the multiprobe assign fragment claims
# posexplode-presence semantics (empty/NULL vectors get NO assignment) and
# dimension-agnostic centroids (unnest(generate_series(1, len(embedding))),
# not a hardcoded 64-dim range). This corpus breaks both assumptions at
# once — empty array, all-NULL elements, and 4-dim vectors — and every
# assign-fragment consumer must still match its oracle exactly.
_RAGGED_VECS = [
    (0, [1.0, 2.0, 3.0, 4.0], 1),
    (7, [1.0, 2.0, 3.0, 4.0], 1),
    (14, [], 2),                       # empty: no posexploded rows at all
    (21, [None, None, None, None], 2),  # present dims, all-NULL elements
    (28, [9.0, -7.0, 5.0, -3.0], 3),
]

_RAGGED_OPS = [
    "sim_retrained_cells",
    # r15: the write-back store roundtrip must preserve ragged-corpus
    # labels bit-exactly in both engines: an empty vector gets no label
    # row at all, and an all-NULL vector scores NULL against every
    # centroid, so each Lloyd round's cell tiebreak moves it to the
    # lowest-numbered cell that has a centroid
    "sim_label_store_roundtrip",
    "sim_retrain_convergence",
    "pipeline_decontaminate_semantic",
    "sim_cell_reassign",
    "dedup_reassign_certification",
    "dedup_embedding_multiprobe",
    "dedup_multiprobe_certification",
    "dedup_multiprobe_sweep",
    "sim_semantic_dedup",
    # r15 (ADVICE r14): the hyperplane-LSH sig oracles now carry the
    # len(embedding) > 0 presence filter, pinning the empty-vector
    # contract to Spark's posexplode-built bit frame
    "sim_ann_lsh",
    "sim_lsh_band_sweep",
    "sim_ann_recall",
]


@pytest.fixture(scope="module")
def ragged_dir(spark, tmp_path_factory):
    import os

    from pyspark.sql import types as T

    from tests.conftest import SF_DIR

    path = tmp_path_factory.mktemp("ragged_embeddings")
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    df = spark.createDataFrame(_RAGGED_VECS, schema)
    df.coalesce(1).write.mode("overwrite").parquet(
        str(path / "embeddings.parquet")
    )
    for f in os.listdir(SF_DIR):
        if f.endswith(".parquet") and f != "embeddings.parquet":
            os.symlink(os.path.join(SF_DIR, f), str(path / f))
    return str(path)


@pytest.fixture(scope="module")
def ragged_duck(ragged_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{ragged_dir}/embeddings.parquet/*.parquet'"
    )
    return con


@pytest.mark.parametrize("name", _RAGGED_OPS)
def test_ragged_embeddings_match_oracle(name, spark, ragged_duck, ragged_dir):
    ok, msg = compare(name, spark, ragged_duck, ragged_dir)
    assert ok, msg


def test_ann_recall_denominator_on_sub_k_corpus(spark, tmp_path):
    """ADVICE r13: on a corpus whose exact top-k has FEWER than k rows,
    `sim_ann_recall` must divide by the exact side's actual row count —
    four near-identical vectors give a 3-row exact top-10, the LSH tier
    (identical signatures) finds all three, and the instrument must
    read 10000 bp, not the literal-denominator 3000."""
    import os

    import duckdb as _duck
    from pyspark.sql import types as T

    from mutable_spark import registry
    from tests.conftest import SF_DIR

    v = _vec(0.1, d0=1.0, d1=-0.5)
    rows = [(i, list(v), i) for i in range(4)]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "embeddings.parquet"))
    for f in os.listdir(SF_DIR):
        if f.endswith(".parquet") and f != "embeddings.parquet":
            os.symlink(os.path.join(SF_DIR, f), str(tmp_path / f))
    row = registry.QUERIES["sim_ann_recall"](spark, str(tmp_path)).collect()[0]
    assert row.n_exact == 3
    assert row.n_hits == 3
    assert row.recall_bp == 10000
    con = _duck.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path}/embeddings.parquet/*.parquet'"
    )
    ok, msg = compare("sim_ann_recall", spark, con, str(tmp_path))
    assert ok, msg
