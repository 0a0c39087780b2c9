"""Periodic batch compaction for the fuzzy dedup tiers — the second half
of the lambda split `streaming/documents.py` documents.

The ingest stream runs the stages that are stateless or carry tiny state
(mix, decontaminate, PII scrub, exact-digest accounting) and STAGES the
surviving clean documents to a parquet directory. The fuzzy tiers
(MinHash/SimHash) cannot run per-microbatch: their candidate generation
is a global shuffle over *all-time* signatures, and a per-batch variant
would silently miss every near-dup pair that straddles a batch boundary.
So they run here, as a periodic batch job over the staged output:

1. read the staged clean docs and diff them against the all-time
   signature store (one LEFT ANTI on doc_id — already-signed docs are
   never re-shingled, so the expensive tokenize→shingle→hash pass runs
   once per document EVER, the incremental part);
2. append the new signatures to the store (parquet; at 100 TB a real
   deployment partitions the store by a doc_id hash so the append and
   the later scan parallelize — the append is the only write);
3. run the SAME LSH tier the batch operator registers
   (`operators.dedup.minhash_lsh_pairs` — shared verbatim, so
   stream+compaction can only ever equal the batch answer by
   construction) over the FULL store, then alternating-star connected
   components → merged duplicate classes.

Step 3 is a full re-run over all-time signatures, not an incremental
merge: near-dup classes are not decomposable across batches (a new doc
can merge two old classes), and the signature store is ~1% the corpus
(128 longs + hashed shingles per doc), so the periodic global pass is
the honest cost of exact class maintenance. Cadence is the deployment
knob: compaction cost grows with the store, staging lag with the
interval.

Reference parity: the reference has no streaming surface (SURVEY §2.10);
this module is additive, mirroring its batch dedup semantics
(`operators/dedup.py`) at ingest.
"""

from __future__ import annotations

from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from mutable_spark.session import local_frame


def stage_clean_stream(docs: DataFrame, eval_digests: DataFrame) -> DataFrame:
    """The ingest stages that gate admission to the staged clean corpus:
    source mixing (stateless stable-hash keep) → benchmark
    decontamination (stream-static broadcast LEFT ANTI). Both stateless,
    so the result is append-mode streamable straight to the staging
    parquet sink — exactly-once under checkpointing, no state store.
    Shares the literal frame builders with the batch operators, so the
    staged set IS the batch-clean set row-for-row."""
    from mutable_spark.operators.pipeline import mix_kept_frame
    from mutable_spark.streaming.documents import _digest

    kept = mix_kept_frame(docs)
    return kept.join(
        F.broadcast(eval_digests), _digest() == F.col("eval_md5"), "left_anti"
    ).select("doc_id", "source", "text")


def _read_store(spark: SparkSession, path: Path) -> DataFrame | None:
    """Read a parquet store directory, returning None ONLY when the store
    genuinely does not exist yet (directory absent, or no data files ever
    committed). Emptiness is probed on the filesystem BEFORE handing the
    path to Spark, so any read failure on a non-empty store — corrupt
    parquet footer during schema inference, schema drift, transient FS
    error — PROPAGATES and aborts the compaction. The r14 advice hazard:
    a gate that maps such failures to 'store empty' skips the anti-join
    dedup and re-appends the full staged set, permanently duplicating
    store rows (centroid-skew / self-satisfied span counts /
    double-counted BPE frequency). The local-Path probe matches this
    module's store layout (same boundary as the `_SUCCESS`-marker checks
    it replaces); an object-store deployment would probe with the
    FileSystem API instead."""
    if not path.exists():
        return None
    if not any(f.name.startswith("part-") for f in path.iterdir()):
        return None  # dir created but no data file ever committed
    return spark.read.parquet(str(path))


def _manifest_dir(data_dir: Path) -> Path:
    return data_dir.parent / (data_dir.name + "_seen")


def _seen_doc_ids(
    spark: SparkSession, data_dir: Path, id_col: str = "doc_id"
) -> DataFrame | None:
    """Ids already processed into the store at ``data_dir``: ids holding
    at least one store row UNION ids in the zero-output manifest. The
    manifest exists because some documents legitimately emit NO store
    rows (fewer tokens than the shingle/gram width, empty text) — gated
    on store rows alone they would be re-read and re-tokenized on every
    future compaction forever (r14 advice)."""
    store = _read_store(spark, data_dir)
    manifest = _read_store(spark, _manifest_dir(data_dir))
    parts = [df.select(id_col) for df in (store, manifest) if df is not None]
    if not parts:
        return None
    seen = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    return seen.distinct()


def _record_zero_output(
    staged_ids: DataFrame, emitted_ids: DataFrame, data_dir: Path
) -> None:
    """Append to the manifest every newly processed doc_id that emitted
    no store rows. Runs AFTER the store append: a crash between the two
    re-processes only zero-output docs on rerun (appending nothing to
    the store — harmless), whereas the opposite order would lose store
    rows for docs already manifested. Duplicate manifest rows are
    harmless (it is only ever an anti-join gate)."""
    zero = staged_ids.join(emitted_ids, "doc_id", "left_anti")
    if zero.limit(1).count():
        zero.write.mode("append").parquet(str(_manifest_dir(data_dir)))


def _signature_dir(store_dir: str) -> Path:
    return Path(store_dir) / "signatures"


def extend_signature_store(
    spark: SparkSession, staged_dir: str, store_dir: str
) -> int:
    """Incremental half of compaction: sign every staged doc not yet in
    the all-time store and append. Returns the number of newly PROCESSED
    docs — including sub-shingle-width docs that emit no signature,
    which go to the zero-output manifest so they are never re-read
    (r14 advice). Idempotent — a rerun after a crash between append and
    class emission re-diffs against the store and appends nothing. The
    store-exists gate READS committed part files rather than keying on
    the `_SUCCESS` marker (r14 verdict nit): duplicate signatures after
    a marker-less partial commit would inflate LSH bucket sizes toward
    `_MAX_BUCKET`, and the star-cap could then silently drop real
    candidate pairs."""
    from mutable_spark.operators.dedup import _hashed_shingle_df

    staged = spark.read.parquet(staged_dir)
    sig_dir = _signature_dir(store_dir)
    seen = _seen_doc_ids(spark, sig_dir)
    if seen is not None:
        staged = staged.join(seen, "doc_id", "left_anti")
    staged = staged.localCheckpoint(eager=True)
    n_new = staged.count()
    if not n_new:
        return 0
    new_sigs = _hashed_shingle_df(staged).localCheckpoint(eager=True)
    if new_sigs.limit(1).count():
        new_sigs.write.mode("append").parquet(str(sig_dir))
    _record_zero_output(
        staged.select("doc_id"), new_sigs.select("doc_id"), sig_dir
    )
    return n_new


def compact_fuzzy_classes(
    spark: SparkSession, staged_dir: str, store_dir: str
) -> DataFrame:
    """One compaction run: extend the signature store from the staged
    clean docs, then emit merged duplicate classes (doc_id, class_rep)
    over ALL-TIME signatures — the same (minhash_lsh_pairs →
    connected_components) composition `dedup_duplicate_classes`
    registers, so classes equal the batch answer on the same corpus."""
    from mutable_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    extend_signature_store(spark, staged_dir, store_dir)
    sig_dir = _signature_dir(store_dir)
    # cached: minhash_lsh_pairs reads g four times (signature build, the
    # size-prune frame, and two verification join-backs)
    g = spark.read.parquet(str(sig_dir)).cache()
    try:
        pairs = (
            minhash_lsh_pairs(g)
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )
        return connected_components(pairs)
    finally:
        g.unpersist()


# --- embedding (semantic) dedup twin ---------------------------------------
# The same lambda split applied to the EMBEDDING multiprobe tier — the one
# scale tier that had no ingest-side twin through r12. The argument is
# identical to the fuzzy-text case, with one addition: the multiprobe
# centroids are per-cell MEANS of the corpus, so candidate generation is
# doubly global — a per-microbatch variant would not only miss classes that
# straddle batch boundaries, it would assign against centroids that drift
# batch-to-batch. Compaction therefore RE-TRAINS the coarse quantizer over
# the ALL-TIME vector store each run (r14, with the production switch:
# `retrained_multiprobe_pairs` counts the store, re-trains k = ⌊√N⌋ cells,
# and probes at the derived depth — so k GROWS with the store and per-cell
# population stays bounded as ingest accumulates, exactly the batch path's
# scale argument) and re-emits classes; the store append is the only
# incremental write, and the per-compaction re-train keeps the assignment
# honest against exactly the drift `sim_cell_reassign` measures on the
# static corpus.


def _vector_dir(store_dir: str) -> Path:
    return Path(store_dir) / "vectors"


def extend_vector_store(
    spark: SparkSession, staged_dir: str, store_dir: str
) -> int:
    """Incremental half of embedding compaction: append every staged
    vector not yet in the all-time store (one LEFT ANTI on vec_id).
    Returns the number of newly stored vectors. Idempotent — a rerun
    after a crash between append and class emission re-diffs against
    the store and appends nothing. The store-exists gate READS the
    store rather than keying on the `_SUCCESS` marker: a partially
    committed append (crash mid-job, or a deleted marker) leaves part
    files without the marker, and a marker-keyed gate would then skip
    the LEFT ANTI and re-append the full staged set — permanently
    duplicating vectors, which silently skews every later compaction's
    per-cell centroid MEANS (unlike the fuzzy store, where a duplicate
    signature only re-emits identical pairs)."""
    staged = spark.read.parquet(staged_dir)
    vec_dir = _vector_dir(store_dir)
    seen = _read_store(spark, vec_dir)
    if seen is not None:
        staged = staged.join(seen.select("vec_id"), "vec_id", "left_anti")
    new_vecs = staged.localCheckpoint(eager=True)
    n_new = new_vecs.count()
    if n_new:
        new_vecs.write.mode("append").parquet(str(vec_dir))
    return n_new


def _label_dir(store_dir: str, n: int, rounds: int) -> Path:
    return Path(store_dir) / "labels" / f"n{n}_r{rounds}"


def compact_embedding_classes(
    spark: SparkSession, staged_dir: str, store_dir: str
) -> DataFrame:
    """One embedding-compaction run: extend the all-time vector store
    from the staged ingest output, then emit merged semantic-duplicate
    classes (doc_id, class_rep) over ALL-TIME vectors — the same
    (retrained_multiprobe_pairs → connected_components) composition
    `sim_semantic_dedup`'s production path runs, shared verbatim, so
    stream+compaction can only ever equal the batch answer by
    construction. With the r14 quantizer switch this means each
    compaction re-trains k = ⌊√(store size)⌋ cells — the cell count
    follows ingest growth and the stream operating point stays the
    batch operating point at every store size.

    r15: the compaction MAINTAINS the trained-label store beside the
    vectors — the streaming half of the write-back path the batch
    consumers read (`stored_retrained_labels`). Labels for the current
    store size are trained ONCE, written under
    ``labels/n{N}_r{rounds}``, and every same-size re-run (crash
    replay, idempotent re-delivery) READS them instead of re-entering
    the Lloyd chain; a grown store gets a fresh version directory, so
    the re-train follows ingest growth exactly as before. The Lloyd
    chain is bit-deterministic, so trained-then-stored and in-plan
    labels are identical and the stream==batch equality is unchanged."""
    import pyspark.sql.functions as F

    from mutable_spark.operators.dedup import (
        _RETRAIN_ROUNDS,
        _sqrt_cells,
        connected_components,
        retrained_cells,
        retrained_multiprobe_pairs,
    )

    extend_vector_store(spark, staged_dir, store_dir)
    # cached: the re-trained tier reads the store repeatedly (the Lloyd
    # rounds' staged joins plus the centroid aggregate, the dot
    # aggregate, and both pair-verify sides) — the same multi-read
    # reason compact_fuzzy_classes caches its signature store; without
    # it each compaction pays several full store scans that grow with
    # all-time corpus size
    e = spark.read.parquet(str(_vector_dir(store_dir))).cache()
    try:
        n = e.count()
        k = _sqrt_cells(n)
        lab_dir = _label_dir(store_dir, n, _RETRAIN_ROUNDS)
        lab = _read_store(spark, lab_dir)
        if lab is None:
            retrained_cells(e, k, _RETRAIN_ROUNDS).write.mode(
                "overwrite"
            ).parquet(str(lab_dir))
            lab = spark.read.parquet(str(lab_dir))
        pairs = (
            retrained_multiprobe_pairs(e, labels=lab, k=k, n_rows=n)
            .select(
                F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
            )
            .localCheckpoint(eager=True)
        )
        return connected_components(pairs)
    finally:
        e.unpersist()


# --- duplicated-span twin ---------------------------------------------------
# The lambda split applied to the exact-substring tier (r14): duplicated
# spans are a corpus-wide property — a newly ingested document can turn a
# previously-unique span in an OLD document into a duplicated one — so
# span extraction cannot run per-microbatch. The incremental half is the
# positional gram store (grams are deterministic per document, computed
# once per doc EVER); the global half (`spans_from_grams`: count window +
# run compression) re-runs over the all-time store each compaction, shared
# verbatim with `dedup_duplicate_spans` so stream+compaction can only ever
# equal the batch answer by construction. Like the VECTOR store (and
# unlike the signature store, where a duplicate row only re-emits an
# identical pair), duplicate gram rows here are HARMFUL — a re-appended
# (doc_id, pos, h) row self-satisfies the ≥2 duplication count and marks
# the whole document duplicated — so the store-exists gate reads committed
# part files rather than keying on the `_SUCCESS` marker.


def _gram_dir(store_dir: str) -> Path:
    return Path(store_dir) / "grams"


def extend_gram_store(
    spark: SparkSession, staged_dir: str, store_dir: str
) -> int:
    """Incremental half of span compaction: positional k-grams for
    every staged doc not yet in the all-time store, appended. Returns
    the number of newly PROCESSED documents — sub-k-token docs that
    emit no gram go to the zero-output manifest so they are never
    re-read (r14 advice). Idempotent via the read-detect gate (see
    module note: duplicate gram rows would self-satisfy the duplication
    count)."""
    from mutable_spark.operators.dedup import positional_gram_frame

    staged = spark.read.parquet(staged_dir)
    gram_dir = _gram_dir(store_dir)
    seen = _seen_doc_ids(spark, gram_dir)
    if seen is not None:
        staged = staged.join(seen, "doc_id", "left_anti")
    staged = staged.localCheckpoint(eager=True)
    n_new = staged.count()
    if not n_new:
        return 0
    new_grams = positional_gram_frame(staged).localCheckpoint(eager=True)
    if new_grams.limit(1).count():
        new_grams.write.mode("append").parquet(str(gram_dir))
    _record_zero_output(
        staged.select("doc_id"),
        new_grams.select("doc_id").distinct(),
        gram_dir,
    )
    return n_new


def compact_duplicate_spans(
    spark: SparkSession, staged_dir: str, store_dir: str
) -> DataFrame:
    """One span-compaction run: extend the all-time gram store from the
    staged ingest output, then emit maximal duplicated spans (doc_id,
    span_start, span_end, n_grams) over ALL-TIME grams — the same
    `spans_from_grams` composition `dedup_duplicate_spans` registers,
    shared verbatim. Spans for OLD documents can legitimately appear or
    grow as new deliveries land (that is the point of the global pass);
    the scrub consumer downstream re-reads the current span set."""
    from mutable_spark.operators.dedup import spans_from_grams

    extend_gram_store(spark, staged_dir, store_dir)
    g = spark.read.parquet(str(_gram_dir(store_dir)))
    return spans_from_grams(g)


# --- BPE trainer twin --------------------------------------------------------
# The lambda split applied to the multi-round BPE trainer (r14): the merge
# rules are corpus-global (each round's argmax ranges over ALL-TIME word
# frequencies — per-microbatch training would learn rules from whatever
# slice arrived last), so training runs at compaction. The incremental
# half is the per-document WORD-COUNT store: tokenize→count runs once per
# document EVER (the expensive linear pass), appended as (doc_id, w, cnt);
# compaction re-aggregates SUM(cnt) by w — append-only partial counts make
# the store upsert-free — and runs the LITERAL batch merge-round loop
# (`bpe_rounds_from_vocab`, shared verbatim) over the re-aggregated
# vocabulary. Like the gram/vector stores, duplicate rows are HARMFUL
# (double-counted frequency skews every argmax), so the idempotency gate
# reads committed part files, never the `_SUCCESS` marker.


def _wordcount_dir(store_dir: str) -> Path:
    return Path(store_dir) / "wordcounts"


def extend_wordcount_store(
    spark: SparkSession, staged_dir: str, store_dir: str
) -> int:
    """Incremental half of BPE compaction: per-document word counts for
    every staged doc not yet in the all-time store, appended. Returns
    the number of newly PROCESSED documents — empty-text docs that emit
    no count row go to the zero-output manifest so they are never
    re-read (r14 advice). Idempotent via the read-detect gate (duplicate
    rows would double-count frequency)."""
    staged = spark.read.parquet(staged_dir)
    wc_dir = _wordcount_dir(store_dir)
    seen = _seen_doc_ids(spark, wc_dir)
    if seen is not None:
        staged = staged.join(seen, "doc_id", "left_anti")
    staged = staged.localCheckpoint(eager=True)
    n_new = staged.count()
    if not n_new:
        return 0
    new_wc = (
        staged.select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"),
        )
        .filter(F.length("w") >= 1)
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    if new_wc.limit(1).count():
        new_wc.write.mode("append").parquet(str(wc_dir))
    _record_zero_output(
        staged.select("doc_id"),
        new_wc.select("doc_id").distinct(),
        wc_dir,
    )
    return n_new


def compact_bpe_rules(
    spark: SparkSession, staged_dir: str, store_dir: str
) -> DataFrame:
    """One BPE-compaction run: extend the all-time word-count store from
    the staged ingest output, re-aggregate the vocabulary, and learn the
    merge table — (round, sym_a, sym_b, pair_count) — with the batch
    trainer's literal loop over the re-aggregated (w, freq) frame, so
    the learned rules equal `text_bpe_train` on the same corpus by
    construction."""
    from mutable_spark.operators.text import bpe_rounds_from_vocab

    extend_wordcount_store(spark, staged_dir, store_dir)
    words = (
        spark.read.parquet(str(_wordcount_dir(store_dir)))
        .groupBy("w")
        .agg(F.sum("cnt").alias("freq"))
    )
    rules, _ = bpe_rounds_from_vocab(words)
    return local_frame(
        spark, rules, "round long, sym_a string, sym_b string, pair_count long"
    )


# --- DSIR selection twin ----------------------------------------------------
# The lambda split applied to the DSIR tier (r15): bucket weights are a
# CORPUS-GLOBAL property (smoothed target/raw rates over every token ever
# ingested), so a newly delivered document shifts every earlier document's
# score — selection cannot run per-microbatch. The incremental half is the
# token store (the `_dsir_tok_base` rows: doc_id, source, lang, is_target,
# 52-bit token hash — deterministic per document, computed once per doc
# EVER; every document emits ≥1 row because the whitespace split of empty
# text is the single '' token, so store presence IS the seen-set and no
# zero-output manifest is needed). The global half re-runs
# `_dsir_selection_frame` — the batch op's tail, shared VERBATIM — over
# the all-time store each compaction. Duplicate token rows are HARMFUL
# (they double-count a document in the global rates AND its own score
# denominator, shifting every weight), so the store-exists gate reads
# committed part files, never the `_SUCCESS` marker.


def _dsir_token_dir(store_dir: str) -> Path:
    return Path(store_dir) / "dsir_tokens"


def extend_dsir_token_store(
    spark: SparkSession, staged_dir: str, store_dir: str
) -> int:
    """Append the token rows of every staged document not yet in the
    all-time token store (one LEFT ANTI on doc_id). Returns the number
    of newly tokenized documents. Idempotent under crash replay and
    partial commits — same read-detect contract as the vector store."""
    from mutable_spark.operators.pipeline import _dsir_tok_base

    staged = spark.read.parquet(staged_dir)
    tok_dir = _dsir_token_dir(store_dir)
    seen = _read_store(spark, tok_dir)
    if seen is not None:
        staged = staged.join(
            seen.select("doc_id").distinct(), "doc_id", "left_anti"
        )
    new_docs = staged.localCheckpoint(eager=True)
    n_new = new_docs.count()
    if n_new:
        _dsir_tok_base(new_docs).write.mode("append").parquet(str(tok_dir))
    return n_new


def compact_dsir_selection(
    spark: SparkSession, staged_dir: str, store_dir: str
) -> DataFrame:
    """One DSIR-selection compaction run: extend the all-time token
    store from the staged ingest output, then re-score and re-draw the
    acceptance decision for EVERY raw-pool document over all-time
    tokens — `_dsir_selection_frame` shared verbatim with
    `pipeline_dsir_select`, so stream+compaction equals the batch
    answer by construction. The returned frame is localCheckpoint'ed so
    callers can unpersist the store read underneath it."""
    from mutable_spark.operators.pipeline import _dsir_selection_frame

    extend_dsir_token_store(spark, staged_dir, store_dir)
    # cached: the selection frame reads the token stream four times
    # (target counts, raw counts, totals, scoring) — same multi-read
    # contract as the batch op's .cache()
    tok = spark.read.parquet(str(_dsir_token_dir(store_dir))).cache()
    try:
        return _dsir_selection_frame(tok).localCheckpoint(eager=True)
    finally:
        tok.unpersist()


# --- UniMax allocation twin -------------------------------------------------
# The lambda split applied to the UniMax mix (r15): the waterfill is a
# corpus-global property of the per-language token totals (one new
# document can flip a language across the cap boundary and move every
# other language's share), so allocation cannot run per-microbatch. The
# incremental half is the per-document language/token-count store
# (`_unimax_doc_counts` rows — one row per document EVER, computed
# map-side; every document emits exactly one row, so store presence is
# the seen-set). The global half re-runs `_unimax_alloc_frame` — the
# batch op's tail, shared verbatim — over the store's per-language
# rollup. Duplicate count rows are HARMFUL (they double-count a
# document's tokens in its language's total), so the store gate reads
# committed part files, never the `_SUCCESS` marker.


def _langcount_dir(store_dir: str) -> Path:
    return Path(store_dir) / "lang_tokens"


def extend_langcount_store(
    spark: SparkSession, staged_dir: str, store_dir: str
) -> int:
    """Append the (doc_id, lang, n_tok) count row of every staged
    document not yet in the all-time store (one LEFT ANTI on doc_id).
    Returns the number of newly counted documents. Idempotent under
    crash replay and partial commits — same read-detect contract as the
    vector store."""
    from mutable_spark.operators.pipeline import _unimax_doc_counts

    staged = spark.read.parquet(staged_dir)
    cnt_dir = _langcount_dir(store_dir)
    seen = _read_store(spark, cnt_dir)
    if seen is not None:
        staged = staged.join(
            seen.select("doc_id").distinct(), "doc_id", "left_anti"
        )
    new_docs = staged.localCheckpoint(eager=True)
    n_new = new_docs.count()
    if n_new:
        _unimax_doc_counts(new_docs).write.mode("append").parquet(
            str(cnt_dir)
        )
    return n_new


def compact_unimax_alloc(
    spark: SparkSession, staged_dir: str, store_dir: str
) -> DataFrame:
    """One UniMax compaction run: extend the all-time count store from
    the staged ingest output, then re-run the waterfill over the
    store's per-language rollup — `_unimax_alloc_frame` shared verbatim
    with `pipeline_mix_unimax`, so stream+compaction equals the batch
    allocation by construction."""
    from mutable_spark.operators.pipeline import _unimax_alloc_frame

    extend_langcount_store(spark, staged_dir, store_dir)
    s = (
        spark.read.parquet(str(_langcount_dir(store_dir)))
        .groupBy("lang")
        .agg(F.sum("n_tok").cast("long").alias("n_tok"))
    )
    return _unimax_alloc_frame(s).localCheckpoint(eager=True)
