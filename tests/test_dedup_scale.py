"""LSH skew guard: degenerate buckets (identical boilerplate docs) must not
expand quadratically. See ``mutable_spark.operators.dedup._bucket_pairs``."""

from __future__ import annotations

import time

import pyspark.sql.functions as F

from mutable_spark.operators.dedup import _MAX_BUCKET, _bucket_pairs, minhash_lsh_pairs


def _members(n):
    # member structs (doc_id, n): payload rides along with the id
    return [([(i, 100 + i) for i in range(n)],)]


_MEMBER_SCHEMA = "ms: array<struct<doc_id: long, n: long>>"


def test_bucket_pairs_small_bucket_full_expansion(spark):
    grouped = spark.createDataFrame(_members(10), _MEMBER_SCHEMA)
    pairs = _bucket_pairs(grouped).select("p.a.*", "p.b.*").collect()
    assert len(pairs) == 45  # C(10,2)
    rows = [(r[0], r[2]) for r in pairs]
    assert all(a < b for a, b in rows)
    # the payload field travels with each member
    assert all((r[1], r[3]) == (100 + r[0], 100 + r[2]) for r in pairs)


def test_bucket_pairs_oversized_bucket_star_expansion(spark):
    n = _MAX_BUCKET + 500
    grouped = spark.createDataFrame(_members(n), _MEMBER_SCHEMA)
    pairs = _bucket_pairs(grouped).select("p.a.*", "p.b.*").collect()
    # star pairs: every member linked to the bucket minimum — O(n), not C(n,2)
    assert len(pairs) == n - 1
    assert all(r[0] == 0 and r[2] > 0 for r in pairs)


def test_testdata_classes_under_cap(spark):
    """The exact pair-list oracle for dedup_minhash_lsh is only the full
    C(n,2) answer while every LSH bucket stays ≤ _MAX_BUCKET members
    (above that the operator's contract is a spanning star per duplicate
    class — see COVERAGE.md). Assert the driver's data actually satisfies
    that precondition, so an oracle mismatch can never silently stem from
    the cap."""
    import pyspark.sql.functions as FF

    from mutable_spark.catalog import load_tables
    from mutable_spark.operators.dedup import _shingle_df

    docs = load_tables(spark, "/root/testdata/sf0.01").documents
    # largest exact-duplicate class bounds the largest meaningful bucket;
    # identical texts collide in every band, so this is the worst case
    biggest = (
        docs.groupBy(FF.md5("text"))
        .count()
        .agg(FF.max("count"))
        .collect()[0][0]
    )
    assert biggest <= _MAX_BUCKET, (
        f"duplicate class of {biggest} docs exceeds the {_MAX_BUCKET} star-cap: "
        "the registered exact oracle no longer matches the operator contract"
    )


def test_minhash_degenerate_corpus_bounded(spark):
    """1,200 identical docs → one degenerate bucket per band. Without the
    cap this expands to C(1200,2) = 719,400 candidate pairs inside single
    tasks; with the star guard the whole run stays O(n) and fast."""
    n = _MAX_BUCKET + 200
    text = " ".join(f"tok{i % 7}" for i in range(20))
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(text).alias("text")
    )
    from mutable_spark.operators.dedup import _hashed_shingle_df

    g = _hashed_shingle_df(docs).cache()
    t0 = time.monotonic()
    pairs = minhash_lsh_pairs(g).collect()
    elapsed = time.monotonic() - t0
    g.unpersist()
    # identical docs: star candidates all verify at jac = 1.0
    assert len(pairs) == n - 1
    assert all(r.jac == 1.0 for r in pairs)
    # bounded expansion — generous wall-clock sanity bound for local[8]
    assert elapsed < 120, f"degenerate corpus took {elapsed:.0f}s — cap not effective?"


def test_simhash_chunk_buckets_under_cap(spark):
    """dedup_simhash's closed-pair oracle holds only while every pigeonhole
    chunk bucket stays <= _MAX_BUCKET members (above that _bucket_pairs
    emits star pairs, and star pairs failing hamming<=3 are dropped — see
    the operator docstring's OUTPUT CONTRACT). Assert the driver's data
    satisfies the precondition, mirroring test_testdata_classes_under_cap
    for minhash (ADVICE r5)."""
    import pyspark.sql.functions as FF

    from mutable_spark.operators import dedup as D
    from mutable_spark.catalog import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.01").documents
    g = D._shingle_df(docs, distinct=False)
    ex = g.select("doc_id", FF.explode("sh").alias("tok"))
    m = ex.select("doc_id", FF.md5("tok").alias("m"))
    th = m.select(
        "doc_id",
        FF.conv(FF.substring("m", 1, 8), 16, 10).cast("long").alias("h0"),
        FF.conv(FF.substring("m", 9, 8), 16, 10).cast("long").alias("h1"),
    )
    votes = th.groupBy("doc_id").agg(
        *[
            FF.sum(
                (FF.shiftrightunsigned(FF.col(f"h{b // 32}"), b % 32).bitwiseAND(FF.lit(1)) * 2 - 1)
            ).alias(f"b{b}")
            for b in range(64)
        ]
    )
    chunk = lambda c: sum(
        (FF.when(FF.col(f"b{16 * c + i}") > 0, 1).otherwise(0) * (1 << i)) for i in range(16)
    )
    sig = votes.select("doc_id", FF.array(*[chunk(c) for c in range(4)]).alias("chunks"))
    biggest = (
        sig.select(FF.posexplode("chunks").alias("pos", "val"))
        .groupBy("pos", "val")
        .count()
        .agg(FF.max("count"))
        .collect()[0][0]
    )
    assert biggest <= D._MAX_BUCKET, (
        f"simhash chunk bucket of {biggest} docs exceeds the {D._MAX_BUCKET} "
        "star-cap: the registered closed-pair oracle no longer matches the "
        "operator contract"
    )


def test_fuzzy_decontaminate_degenerate_bounded(spark):
    """Cross-corpus LSH under degenerate boilerplate: 1,200 identical docs
    (every 25th an eval member) collapse into one bucket per band. The
    eval-side cap bounds the expansion to |trs| x min(|evs|, cap) instead
    of |trs| x |evs| x 64 bands, and every train doc is still flagged
    contaminated (any one capped eval member attests it)."""
    import pyspark.sql.functions as FF

    from mutable_spark.operators.pipeline import fuzzy_contaminated_ids

    n = 1200
    text = " ".join(f"tok{i % 7}" for i in range(20))
    docs = spark.range(n).select(
        FF.col("id").alias("doc_id"), FF.lit(text).alias("text")
    )
    is_eval = FF.pmod(FF.col("doc_id"), FF.lit(25)) == 0
    t0 = time.monotonic()
    contaminated = {r.doc_id for r in fuzzy_contaminated_ids(docs, is_eval).collect()}
    elapsed = time.monotonic() - t0
    train = {i for i in range(n) if i % 25 != 0}
    assert contaminated == train  # every train doc is a verbatim eval dup
    assert elapsed < 120, f"degenerate corpus took {elapsed:.0f}s — cap not effective?"


def test_containment_finds_quote_jaccard_misses(spark, tmp_path):
    """The reason dedup_containment exists: a small document quoted WHOLE
    inside a much larger one has near-zero Jaccard (and the MinHash
    tier's size-ratio prune drops the pair outright) but containment
    1.0. Plant exactly that shape and assert the containment op reports
    it while the Jaccard pair tier does not."""
    import pyspark.sql.functions as F

    from mutable_spark import registry
    from mutable_spark.operators.dedup import (
        _hashed_shingle_df,
        minhash_lsh_pairs,
    )

    registry.load_all()
    quote = " ".join(f"tok{i}" for i in range(20))
    big = quote + " " + " ".join(f"filler{i}" for i in range(300))
    docs = [
        (1, quote, "en", "s", len(quote)),
        (2, big, "en", "s", len(big)),
        (3, "completely different text about nothing at all", "en", "s", 46),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    # load_tables reads every table name: link the rest from the testdata
    import os

    from tests.conftest import SF_DIR

    for f in os.listdir(SF_DIR):
        if f.endswith(".parquet") and f != "documents.parquet":
            os.symlink(os.path.join(SF_DIR, f), str(tmp_path / f))
    got = registry.QUERIES["dedup_containment"](spark, str(tmp_path)).collect()
    assert [(r.doc_a, r.doc_b) for r in got] == [(1, 2)]
    assert got[0].containment == 1.0
    # the Jaccard tier must NOT see this pair (size-ratio prune + threshold)
    jac_pairs = [
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(_hashed_shingle_df(df)).collect()
    ]
    assert (1, 2) not in jac_pairs


def _plant_corpus(spark, tmp_path, docs):
    import os

    from tests.conftest import SF_DIR

    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    for f in os.listdir(SF_DIR):
        if f.endswith(".parquet") and f != "documents.parquet":
            os.symlink(os.path.join(SF_DIR, f), str(tmp_path / f))


def test_tier_certification_mod1_is_full_corpus(spark, tmp_path, monkeypatch):
    """knob=1 ≡ pre-knob behavior: `doc_id % 1 == 0` keeps every doc, so
    the certification at _CERT_MOD=1 runs both tiers over the FULL
    corpus — pinned by planting a duplicate pair whose doc_ids would be
    dropped by any mod>1 slice and asserting mod=1 still counts it."""
    from mutable_spark import registry
    from mutable_spark.operators import dedup

    registry.load_all()
    text = " ".join(f"tok{i}" for i in range(30))
    near = " ".join(f"tok{i}" for i in range(29)) + " tail"
    docs = [
        (7, text, "en", "s", len(text)),      # 7 % m != 0 for m in 2..7
        (11, near, "en", "s", len(near)),     # ditto
        (13, "unrelated words entirely here now", "en", "s", 33),
    ]
    _plant_corpus(spark, tmp_path, docs)
    monkeypatch.setattr(dedup, "_CERT_MOD", 1)
    row = registry.QUERIES["dedup_tier_certification"](
        spark, str(tmp_path)
    ).collect()[0]
    assert row.n_exact == 1 and row.n_lsh == 1 and row.n_both == 1
    assert row.precision_bp == 10000 and row.recall_bp == 10000
    # ... while the default mod>1 slice sees none of these doc_ids
    monkeypatch.undo()
    if dedup._CERT_MOD > 1:
        row2 = registry.QUERIES["dedup_tier_certification"](
            spark, str(tmp_path)
        ).collect()[0]
        assert row2.n_exact == 0


def test_tier_certification_vacuous_zero_guard(spark, tmp_path, monkeypatch):
    """ADVICE r11: a corpus with NO qualifying pairs must certify
    vacuously (precision = recall = 10000 bp), not emit NULL from the
    0/0 integer division — matching the oracle's constant-10000
    empty-aggregate row."""
    from mutable_spark import registry
    from mutable_spark.operators import dedup

    registry.load_all()
    docs = [
        (0, "alpha beta gamma delta epsilon", "en", "s", 30),
        (3, "zeta eta theta iota kappa", "en", "s", 25),
        (6, "lambda mu nu xi omicron", "en", "s", 23),
    ]
    _plant_corpus(spark, tmp_path, docs)
    monkeypatch.setattr(dedup, "_CERT_MOD", 3)
    row = registry.QUERIES["dedup_tier_certification"](
        spark, str(tmp_path)
    ).collect()[0]
    assert row.n_exact == 0 and row.n_lsh == 0 and row.n_both == 0
    assert row.precision_bp == 10000 and row.recall_bp == 10000


def test_containment_certification_measures_df_cap_floor(spark, tmp_path):
    """r12: the containment certification's recall is a MEASURED number,
    not a pinned constant — a boilerplate clique whose every shingle
    exceeds the df cap is invisible to the tier (n_tier = 0) while the
    exact all-pairs baseline sees all C(n,2) containment-1.0 pairs.
    Precision certifies at 10000 (the tier-⊆-exact theorem, vacuously
    here); recall reads 0 — the documented visibility floor as a number."""
    from mutable_spark import registry
    from mutable_spark.operators import dedup

    registry.load_all()
    n = dedup._CONT_DF_CAP + 2
    text = " ".join(f"tok{i}" for i in range(10))
    docs = [
        (dedup._CERT_MOD * i, text, "en", "s", len(text)) for i in range(n)
    ]
    _plant_corpus(spark, tmp_path, docs)
    row = registry.QUERIES["dedup_containment_certification"](
        spark, str(tmp_path)
    ).collect()[0]
    assert row.n_tier == 0
    assert row.n_exact == n * (n - 1) // 2
    assert row.n_both == 0
    assert row.precision_bp == 10000
    assert row.recall_bp == 0


def test_blocking_certification_measures_cross_cell_loss(spark, tmp_path):
    """r12: the blocking certification's recall is a MEASURED number — a
    pair of near-identical vectors planted in DIFFERENT quantizer cells
    is invisible to the blocked tier but caught by the exact all-pairs
    baseline; an identical pair in the SAME cell is caught by both.
    Precision certifies at 10000 (tier verifies exact cosine in-block)."""
    import os

    from pyspark.sql import types as T

    from mutable_spark import registry
    from mutable_spark.operators import dedup
    from tests.conftest import SF_DIR

    registry.load_all()
    m = dedup._CERT_MOD
    v = [1.0, 2.0, 3.0, 4.0]
    rows = [
        (0 * m, v, 1),          # same-cell near-dup pair (0, m)
        (1 * m, v, 1),
        (2 * m, v, 2),          # CROSS-cell near-dup pair (2m, 3m)
        (3 * m, v, 3),
        (4 * m, [9.0, -7.0, 5.0, -3.0], 4),  # unrelated
    ]
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
    row = registry.QUERIES["dedup_blocking_certification"](
        spark, str(tmp_path)
    ).collect()[0]
    # exact sees all C(4,2)=6 identical-vector pairs; the tier sees only
    # the single same-cell pair
    assert row.n_exact == 6
    assert row.n_tier == 1
    assert row.n_both == 1
    assert row.precision_bp == 10000
    assert row.recall_bp == 1 * 10000 // 6


def test_reassign_certification_planted_drift(spark, tmp_path):
    """r13: the reassign certification measures real drift — a cluster of
    identical vectors SPLIT across two stored cells is partly invisible
    to stored-label blocking, but both cells' derived centroids equal the
    cluster vector, so nearest-derived-centroid re-assignment (cell
    tiebreak) reunites the cluster and recovers every pair."""
    import os

    from pyspark.sql import types as T

    from mutable_spark import registry
    from mutable_spark.operators import dedup
    from tests.conftest import SF_DIR

    registry.load_all()
    m = dedup._CERT_MOD
    v = [1.0, 2.0, 3.0, 4.0]
    rows = [
        (0 * m, v, 1),  # drifted cluster: identical vectors, labels 1,1,2
        (1 * m, v, 1),
        (2 * m, v, 2),
        (3 * m, [9.0, -7.0, 5.0, -3.0], 3),  # unrelated
    ]
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
    row = registry.QUERIES["dedup_reassign_certification"](
        spark, str(tmp_path)
    ).collect()[0]
    # exact: C(3,2)=3 pairs; stored blocking sees only (0, m); refreshed
    # re-assignment puts all three in one cell and recovers all 3 pairs
    assert row.n_exact == 3
    assert row.n_stored == 1
    assert row.n_refreshed == 3
    assert row.recall_stored_bp == 1 * 10000 // 3
    assert row.recall_refreshed_bp == 10000
    # the movement matrix records the reunification: every vector lands
    # in ONE refreshed cell, so exactly one stored cell shows a move
    mv = registry.QUERIES["sim_cell_reassign"](spark, str(tmp_path)).collect()
    cells = {r.new_cell for r in mv if r.old_cell in (1, 2)}
    assert len(cells) == 1


def test_reassign_certification_refreshed_not_worse_on_corpus(spark):
    """The registered claim on the real corpus: one Lloyd assignment step
    never reads LOWER single-cell blocking recall than the drifted
    stored labels (measured sf0.001: 1018 -> 2500 bp)."""
    from mutable_spark import registry
    from tests.conftest import SF_DIR

    registry.load_all()
    row = registry.QUERIES["dedup_reassign_certification"](
        spark, SF_DIR
    ).collect()[0]
    assert row.recall_refreshed_bp >= row.recall_stored_bp
    assert row.n_exact >= row.n_refreshed >= row.n_stored


def test_retrained_cells_reunites_planted_drift(spark, tmp_path):
    """r13: `retrained_cells` (the k-means behind the √N A/B) is Lloyd
    from a modulo init — on a corpus whose stored labels split an
    identical-vector cluster, ONE round already reunites the cluster in
    a single cell, and a second round is a fixpoint (assignments stop
    changing once centroids equal the cluster vectors)."""
    import os

    from pyspark.sql import types as T

    from mutable_spark.operators.dedup import retrained_cells
    from tests.conftest import SF_DIR

    v = [1.0, 2.0, 3.0, 4.0]
    w = [9.0, -7.0, 5.0, -3.0]
    rows = [(0, v, 1), (1, v, 2), (2, v, 1), (3, w, 2)]
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
    e = spark.read.parquet(str(tmp_path / "embeddings.parquet"))
    one = {r.vec_id: r.cell for r in retrained_cells(e, 2, rounds=1).collect()}
    two = {r.vec_id: r.cell for r in retrained_cells(e, 2, rounds=2).collect()}
    # the v-cluster lands in ONE cell, w in another, from round 1 on
    assert one[0] == one[1] == one[2] != one[3]
    assert two == one  # fixpoint


def test_semantic_decon_eval_mod_matches_pipeline():
    """`_SEM_EVAL_MOD` (dedup.py — local to avoid a circular import)
    must stay equal to the pipeline's `_EVAL_MOD`: the semantic and
    fuzzy decontamination screens claim the SAME systematic eval-set
    rule."""
    from mutable_spark.operators.dedup import _SEM_EVAL_MOD
    from mutable_spark.operators.pipeline import _EVAL_MOD

    assert _SEM_EVAL_MOD == _EVAL_MOD


def test_semantic_decon_drops_planted_contamination(spark, tmp_path):
    """A train vector identical to an eval vector (vec_id % 25 == 0)
    must be dropped; an orthogonal train vector must be kept — and the
    kept summary's counts exclude eval rows entirely."""
    import os

    from pyspark.sql import types as T

    from mutable_spark import registry
    from tests.conftest import SF_DIR

    v = [1.0, 2.0, 3.0, 4.0]
    rows = [
        (25, v, 1),                    # eval (25 % 25 == 0)
        (1, list(v), 1),               # train, identical -> contaminated
        (2, [-3.0, 4.0, -1.0, 0.5], 2),  # train, unrelated -> kept
    ]
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
    got = {
        r.label: (r.n_kept, r.min_id)
        for r in registry.QUERIES["pipeline_decontaminate_semantic"](
            spark, str(tmp_path)
        ).collect()
    }
    # label 1: the identical train vector dropped, eval row not counted
    assert 1 not in got
    assert got == {2: (1, 2)}


def test_bpe_train_greedy_run_parity(spark, tmp_path):
    """r14: the BPE merge pass must be GREEDY LEFT-TO-RIGHT on runs of
    identical symbols — 'aaaa' merges to [aa][aa] (two pairs, not
    three overlapping ones) and 'aaa' to [aa][a] — so with the corpus
    below round 1 learns (a, a) with count 5 (overlapping pair COUNTS:
    3 in 'aaaa' + 2 in 'aaa'), and round 2 hits a count tie — (aa, aa)
    from 'aaaa' vs (aa, a) from 'aaa', both 1 — resolved by the
    (a, b) string tiebreak: 'a' < 'aa', so (aa, a) wins round 2."""
    import os

    from mutable_spark import registry
    from tests.conftest import SF_DIR

    spark.createDataFrame(
        [(0, "aaaa aaa", "s", "en", 8)],
        "doc_id long, text string, source string, lang string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    for f in os.listdir(SF_DIR):
        if f.endswith(".parquet") and f != "documents.parquet":
            os.symlink(os.path.join(SF_DIR, f), str(tmp_path / f))
    rows = {
        r.round: (r.sym_a, r.sym_b, r.pair_count)
        for r in registry.QUERIES["text_bpe_train"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows[1] == ("a", "a", 5)
    assert rows[2] == ("aa", "a", 1)
    # round 3: 'aaa'->[aaa] (no pairs); 'aaaa' keeps its one (aa, aa)
    assert rows[3] == ("aa", "aa", 1)
    # encode consumer: after the 3 learned merges both words collapse
    # to ONE symbol each — 2 ws tokens, 2 BPE tokens for the doc
    enc = registry.QUERIES["text_bpe_encode"](spark, str(tmp_path)).collect()
    assert [(r.doc_id, r.n_ws_tokens, r.n_bpe_tokens) for r in enc] == [
        (0, 2, 2)
    ]


def test_bpe_local_fast_path_equals_distributed(spark):
    """r15 opt: the ≤`_BPE_LOCAL_MAX_WORDS` driver-local BPE loop (the
    components-tier fast-path pattern) must reproduce the distributed
    loop bit-for-bit — rules, sweep curve, final symbolization frame
    AND its dtypes — on a vocabulary stressing run-parity (identical-
    char runs), count ties, and unicode (code-point vs UTF8-binary
    ordering), for both the sequential and the batched trainer."""
    import mutable_spark.operators.text as T

    vocab = [
        ("aaaaaa", 7), ("aaab", 5), ("abab", 5), ("baaa", 3),
        ("ééé", 4), ("eé", 4), ("zzzz", 7), ("ab", 9), ("ba", 9),
        ("ccc", 1), ("x", 100),
    ]
    words = spark.createDataFrame(vocab, "w string, freq long")
    curve_l, curve_d = [], []
    rl, sl = T.bpe_rounds_from_vocab(words, curve_l)
    rbl, sbl = T.bpe_batched_rounds_from_vocab(words)
    old = T._BPE_LOCAL_MAX_WORDS
    T._BPE_LOCAL_MAX_WORDS = 0
    try:
        rd, sd = T.bpe_rounds_from_vocab(words, curve_d)
        rbd, sbd = T.bpe_batched_rounds_from_vocab(words)
    finally:
        T._BPE_LOCAL_MAX_WORDS = old

    def srt(df):
        return sorted(map(tuple, df.collect()))

    assert rl == rd
    assert curve_l == curve_d
    assert sl.dtypes == sd.dtypes
    assert srt(sl) == srt(sd)
    assert rbl == rbd
    assert sbl.dtypes == sbd.dtypes
    assert srt(sbl) == srt(sbd)


def test_duplicate_spans_planted_passage(spark, tmp_path):
    """r14: two documents sharing a 25-token verbatim passage at
    DIFFERENT offsets must each report exactly one maximal span
    covering the passage (k=20 grams → 6 duplicated gram positions →
    span width 25 tokens), at each doc's own offset; the surrounding
    unique text must stay outside the span."""
    import os

    from mutable_spark import registry
    from tests.conftest import SF_DIR

    passage = " ".join(f"shared{i}" for i in range(25))
    pre_a = " ".join(f"ua{i}" for i in range(30))
    pre_b = " ".join(f"ub{i}" for i in range(10))
    post = " ".join(f"tail{i}" for i in range(30))
    docs = [
        (0, f"{pre_a} {passage} {post}", "s", "en", 0),
        (1, f"{pre_b} {passage}", "s", "en", 0),
    ]
    spark.createDataFrame(
        docs,
        "doc_id long, text string, source string, lang string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    for f in os.listdir(SF_DIR):
        if f.endswith(".parquet") and f != "documents.parquet":
            os.symlink(os.path.join(SF_DIR, f), str(tmp_path / f))
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.n_grams)
        for r in registry.QUERIES["dedup_duplicate_spans"](
            spark, str(tmp_path)
        ).collect()
    )
    # doc 0: passage tokens occupy offsets 30..54; doc 1: 10..34.
    # 6 duplicated 20-gram positions each, one maximal run.
    assert got == [(0, 30, 54, 6), (1, 10, 34, 6)]
    # the scrub consumer: both docs lose exactly the 25 passage tokens,
    # and the rebuilt text is the surrounding unique tokens verbatim
    scrub = {
        r.doc_id: (r.n_tokens_kept, r.n_tokens_removed, r.scrubbed_text)
        for r in registry.QUERIES["dedup_scrub_spans"](
            spark, str(tmp_path)
        ).collect()
    }
    assert scrub[0] == (60, 25, f"{pre_a} {post}")
    assert scrub[1] == (10, 25, pre_b)


def test_label_store_amortizes_training(spark, monkeypatch):
    """r15 write-back store: the FIRST consumer of a corpus version
    trains and writes; every later consumer must READ the store and
    never re-enter the Lloyd chain (the r14 verdict's duplicated
    in-plan re-training `weak` item). Pinned by poisoning
    `retrained_cells` after the first call — a second training attempt
    would raise."""
    import os

    from mutable_spark.catalog import load_tables
    from mutable_spark.operators import dedup
    from tests.conftest import SF_DIR

    e = load_tables(spark, SF_DIR).embeddings
    lab1, k1, n1 = dedup.stored_retrained_labels(e, SF_DIR)
    (path,) = {os.path.dirname(f.removeprefix("file://")) for f in lab1.inputFiles()}
    assert os.path.dirname(path) == dedup._label_store_root()
    assert any(f.startswith("part-") for f in os.listdir(path))

    def boom(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("store hit expected: re-training is the bug")

    monkeypatch.setattr(dedup, "retrained_cells", boom)
    lab2, k2, n2 = dedup.stored_retrained_labels(e, SF_DIR)
    assert (k1, n1) == (k2, n2)
    a = sorted(map(tuple, lab1.collect()))
    b = sorted(map(tuple, lab2.collect()))
    assert a == b and len(a) == n1


def test_label_store_keeps_the_trained_corpus_count(spark, tmp_path):
    """A vector with no elements gets no label, so a store hit must take n
    (and k = ⌊√n⌋) from what was trained, not from the label rows: four
    vectors, one empty, train k = 2 cells into three labels."""
    from pyspark.sql import types as T

    from mutable_spark.operators import dedup

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    src = str(tmp_path / "vectors")
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0]), (3, [])]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    e = spark.read.parquet(src)
    root = str(tmp_path / "labels")
    cold = dedup.trained_labels(e, [src], "t", root)
    hit = dedup.trained_labels(e, [src], "t", root)
    assert cold[1:] == hit[1:] == (2, 4)
    assert hit[0].count() == 3


def test_canonical_scrub_keeps_exactly_one_copy(spark, tmp_path):
    """r15 keep-one scrub: with a 25-token passage planted in two docs,
    the CANONICAL copy — the globally first occurrence, doc 0 (min
    (doc_id, pos) per gram class) — must survive verbatim, while doc 1
    loses exactly the passage. The all-occurrence scrub drops both
    (pinned above); this pins the Lee-et-al difference."""
    import os

    from mutable_spark import registry
    from tests.conftest import SF_DIR

    passage = " ".join(f"shared{i}" for i in range(25))
    pre_a = " ".join(f"ua{i}" for i in range(30))
    pre_b = " ".join(f"ub{i}" for i in range(10))
    post = " ".join(f"tail{i}" for i in range(30))
    docs = [
        (0, f"{pre_a} {passage} {post}", "s", "en", 0),
        (1, f"{pre_b} {passage}", "s", "en", 0),
    ]
    spark.createDataFrame(
        docs,
        "doc_id long, text string, source string, lang string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    for f in os.listdir(SF_DIR):
        if f.endswith(".parquet") and f != "documents.parquet":
            os.symlink(os.path.join(SF_DIR, f), str(tmp_path / f))
    got = {
        r.doc_id: (r.n_tokens_kept, r.n_tokens_removed, r.scrubbed_text)
        for r in registry.QUERIES["dedup_scrub_spans_canonical"](
            spark, str(tmp_path)
        ).collect()
    }
    # doc 0 holds every gram class's first occurrence: untouched
    assert got[0] == (85, 0, f"{pre_a} {passage} {post}")
    # doc 1's copies are all rn >= 2: exactly the passage is cut
    assert got[1] == (10, 25, pre_b)
    # exactly ONE copy of the passage survives corpus-wide
    n_copies = sum(passage in t for _, _, t in got.values())
    assert n_copies == 1


def test_bpe_batched_equals_sequential_on_disjoint_rules(spark, tmp_path):
    """r15 batched BPE: when the top rules share no symbols AND merging
    one creates no pair that outranks the rest (each word is exactly
    one 2-char pair, so a merge collapses the word to a single symbol
    and creates nothing), one batched round must learn EXACTLY the
    rules sequential training learns one-per-round, in the same order
    — the commutation claim in the operator's docstring, pinned."""
    import os

    from mutable_spark import registry
    from mutable_spark.operators.text import _BPE_ROUNDS
    from tests.conftest import SF_DIR

    # four symbol-disjoint 2-char words with strictly ordered freqs
    docs = [
        (0, " ".join(["ab"] * 40), "s", "en", 0),
        (1, " ".join(["cd"] * 30), "s", "en", 0),
        (2, " ".join(["ef"] * 20), "s", "en", 0),
        (3, " ".join(["gh"] * 10), "s", "en", 0),
    ]
    spark.createDataFrame(
        docs,
        "doc_id long, text string, source string, lang string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    for f in os.listdir(SF_DIR):
        if f.endswith(".parquet") and f != "documents.parquet":
            os.symlink(os.path.join(SF_DIR, f), str(tmp_path / f))
    seq = [
        (r.sym_a, r.sym_b, r.pair_count)
        for r in registry.QUERIES["text_bpe_train"](spark, str(tmp_path))
        .orderBy("round")
        .collect()
    ]
    bat = [
        (r.sym_a, r.sym_b, r.pair_count)
        for r in registry.QUERIES["text_bpe_train_batched"](
            spark, str(tmp_path)
        )
        .orderBy("round", "sel")
        .collect()
    ]
    # batched round 1 accepts all four disjoint rules at once; the
    # sequential trainer learns the same rules one round at a time
    assert bat[: len(seq)] == seq and len(seq) == _BPE_ROUNDS
    assert bat == [
        ("a", "b", 40),
        ("c", "d", 30),
        ("e", "f", 20),
        ("g", "h", 10),
    ]


def test_dsir_selects_on_target_distribution(spark, tmp_path):
    """r15 DSIR selector: on a corpus where the benchmark stand-in
    (doc_id % 25 == 0) draws from vocabulary A, pool documents written
    in vocabulary A must score strictly above pool documents written in
    disjoint vocabulary B, every on-target pool document must be
    selected (its score IS the maximum, and the acceptance draw
    u < 1e6 always passes at p=1), and at least one off-target document
    must be rejected — the discrimination the production corpus cannot
    show (its languages share one uniform vocabulary; see the op
    docstring)."""
    import os

    from mutable_spark import registry
    from tests.conftest import SF_DIR

    registry.load_all()
    text_a = " ".join(["alpha beta gamma delta"] * 8)  # 32 tokens, vocab A
    text_b = " ".join(" ".join(f"off{i}" for i in range(20)) for _ in range(2))
    docs = [(i, text_a, "s", "en", 0) for i in (0, 25)]  # targets
    docs += [(i, text_a, "s", "en", 0) for i in (1, 2, 3)]  # on-target pool
    docs += [(i, text_b, "s", "en", 0) for i in (6, 7, 8, 9, 11)]  # off-target
    spark.createDataFrame(
        docs,
        "doc_id long, text string, source string, lang string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    for f in os.listdir(SF_DIR):
        if f.endswith(".parquet") and f != "documents.parquet":
            os.symlink(os.path.join(SF_DIR, f), str(tmp_path / f))
    rows = {
        r.doc_id: r
        for r in registry.QUERIES["pipeline_dsir_select"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(rows) == {1, 2, 3, 6, 7, 8, 9, 11}  # pool only, targets excluded
    a_scores = [rows[i].score for i in (1, 2, 3)]
    b_scores = [rows[i].score for i in (6, 7, 8, 9, 11)]
    assert min(a_scores) > max(b_scores)
    assert all(rows[i].selected for i in (1, 2, 3))
    assert not all(rows[i].selected for i in (6, 7, 8, 9, 11))


def test_unimax_waterfill_caps_small_language(spark, tmp_path):
    """r15 UniMax allocation: a hand-checkable three-language corpus
    (10/100/1000 tokens, budget = 555, cap = 3 epochs) must cap the
    smallest language at exactly 3 epochs and waterfill the leftover
    uniformly with the integer remainder granted in sort order:
    aa -> 30 (capped), bb -> 263, cc -> 262, summing EXACTLY to the
    budget — the branch the production corpus (no capped language at
    its token profile) cannot exercise."""
    import os

    from mutable_spark import registry
    from tests.conftest import SF_DIR

    registry.load_all()
    docs = [
        (1, " ".join(["w"] * 10), "s", "aa", 0),
        (2, " ".join(["w"] * 100), "s", "bb", 0),
        (3, " ".join(["w"] * 1000), "s", "cc", 0),
    ]
    spark.createDataFrame(
        docs,
        "doc_id long, text string, source string, lang string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    for f in os.listdir(SF_DIR):
        if f.endswith(".parquet") and f != "documents.parquet":
            os.symlink(os.path.join(SF_DIR, f), str(tmp_path / f))
    got = sorted(
        (r.lang, r.n_tok, r.alloc_tok, r.epochs_bp, r.capped)
        for r in registry.QUERIES["pipeline_mix_unimax"](
            spark, str(tmp_path)
        ).collect()
    )
    assert got == [
        ("aa", 10, 30, 30000, True),
        ("bb", 100, 263, 26300, False),
        ("cc", 1000, 262, 2620, False),
    ]
    assert sum(a for _, _, a, _, _ in got) == 555
