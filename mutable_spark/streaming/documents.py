"""Streaming twins for the ingest-side curation operators: the documents
table as a file stream; exact dedup as an incremental digest aggregation;
benchmark decontamination as a stream-static broadcast anti-join; PII
scrubbing and source mixing as stateless maps (r7); and the composed
mix → decontaminate → dedup pipeline as one streaming query (r7).

Why these: at 100 TB the curation pipeline is not a one-shot batch — new
shards arrive continuously, and the stages that must run *at ingest* are
exactly the ones here: duplicate accounting (state = one tiny row per
distinct digest), decontamination (stateless; static broadcast
blocklist), PII redaction (stateless — raw PII must never land in state
or storage), and mixing (stateless stable-hash keep). The fuzzy tiers
(MinHash/SimHash) stay batch: their candidate generation is a global
shuffle over all-time state and runs as periodic compaction, not
per-microbatch — the standard lambda split. That compaction job is
implemented in `streaming/compaction.py` (stage clean docs → extend the
all-time signature store incrementally → re-run the shared LSH tier +
components over the full store), with stream+compaction == batch pinned
end-to-end in `tests/test_streaming.py`.

Each streaming op is the *same declarative computation* as its registered
batch twin — the stateless ones share the literal frame builders
(`pii_scrub_frame`, `mix_kept_frame`) — so the stream==batch tests pin
results equal row-for-row under availableNow replay.
"""

from __future__ import annotations

from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from mutable_spark import staging
from mutable_spark.catalog import footer_schema
from mutable_spark.session import apply_runtime_confs


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents parquet. Same staging trick as
    `stream_events`: FileStreamSource needs a directory, so a staged dir
    holds one symlink to documents.parquet; the schema comes from the batch
    catalog's footer probe so stream and batch can never disagree on dtypes."""
    apply_runtime_confs(spark)
    src = Path(sf_dir.rstrip("/")) / "documents.parquet"
    stage = staging.linked("stream-docs", src)
    schema = footer_schema(src) or spark.read.parquet(str(src)).schema
    return spark.readStream.schema(schema).parquet(stage)


def _digest(col="text"):
    """The batch path's normalized content digest — md5 over the SAME
    `_normalize` the batch operators use (imported, not copied: the
    stream==batch contract would silently break if the normalization
    marker changed in one place only)."""
    from mutable_spark.operators.dedup import _normalize

    return F.md5(_normalize(F.col(col)))


def dedup_exact_stream(docs: DataFrame) -> DataFrame:
    """Streaming twin of ``dedup_exact``: incremental digest aggregation.
    State per distinct digest is (min doc_id, count) — 40-ish bytes,
    bounded by distinct-content count, and updated map-side per
    microbatch. First-arrival `dropDuplicates` would be arrival-order
    dependent; the min/count aggregate is deterministic and equals the
    batch answer exactly."""
    return (
        docs.select(_digest().alias("group_md5"), "doc_id")
        .groupBy("group_md5")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dupes"),
        )
    )


def decontaminate_stream(docs: DataFrame, eval_digests: DataFrame) -> DataFrame:
    """Streaming twin of ``pipeline_decontaminate``: per-microbatch LEFT
    ANTI hash join against the static broadcast digest blocklist — a
    stream-static join, stateless on the stream side, so contaminated
    rows never enter any downstream state. ``eval_digests`` is a static
    (batch) frame with one ``eval_md5`` column."""
    kept = docs.join(
        F.broadcast(eval_digests), _digest() == F.col("eval_md5"), "left_anti"
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"), F.min("doc_id").alias("min_id")
    )


def pii_scrub_stream(docs: DataFrame) -> DataFrame:
    """Streaming twin of ``text_pii_scrub``: the identical column
    expressions (shared builder `operators.text.pii_scrub_frame`) applied
    per microbatch — a stateless map, so redaction happens AT ingest and
    raw PII never lands in any downstream table or state store (the
    compliance property that makes scrub-at-ingest mandatory rather than
    a batch afterthought)."""
    from mutable_spark.operators.text import pii_scrub_frame

    return pii_scrub_frame(docs)


def mix_sources_stream(docs: DataFrame) -> DataFrame:
    """Streaming twin of ``pipeline_mix_sources``: the same stable-hash
    keep decision per arriving document (shared builder
    `operators.pipeline.mix_kept_frame` — stateless), followed by the
    incremental per-source summary aggregation (state: one tiny row per
    source). Because the hash fraction is fixed per doc_id, replaying,
    reordering, or re-sharding the stream can never change the kept
    set — the property that lets ingest mix continuously while batch
    re-mixes stay consistent."""
    from mutable_spark.operators.pipeline import mix_kept_frame

    return (
        mix_kept_frame(docs)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


def curate_ingest_stream(docs: DataFrame, eval_digests: DataFrame) -> DataFrame:
    """The ingest-side curation pipeline as ONE streaming query — the
    composition the individual twins exist for: source mixing (stateless
    stable-hash keep) → benchmark decontamination (stream-static
    broadcast LEFT ANTI) → exact-duplicate accounting (the only stateful
    stage: one tiny (min id, count) row per distinct digest). Catalyst
    sees the whole chain per microbatch, so the stateless stages fuse
    into the scan exactly as they do in batch; state size is bounded by
    distinct *clean, kept* content — strictly smaller than raw ingest.

    The fuzzy tiers stay periodic batch compaction (the lambda split
    documented in the module header). Equality with the identical batch
    composition is pinned under availableNow replay."""
    from mutable_spark.operators.pipeline import mix_kept_frame

    # digest projected ONCE: it is both the anti-join key and the group
    # key, and md5 over full documents is the chain's priciest column
    kept = mix_kept_frame(docs).select(_digest().alias("group_md5"), "doc_id")
    clean = kept.join(
        F.broadcast(eval_digests),
        F.col("group_md5") == F.col("eval_md5"),
        "left_anti",
    )
    return clean.groupBy("group_md5").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("dupes"),
    )


def contamination_matched_stream(docs: DataFrame, eval_hashes: DataFrame) -> DataFrame:
    """Streaming half of the contamination-rate report
    (``pipeline_contamination_stats``): as training documents arrive,
    explode their hashed shingles, semi-join the static broadcast eval
    hash set, and maintain (h, n_hits) — how often each eval n-gram has
    been seen in training data so far.

    State is one tiny row per MATCHED eval hash — bounded by the
    benchmark suite's n-gram count (MBs), not by the corpus — making
    this the rare fuzzy-adjacent signal that CAN run at ingest rather
    than in compaction: the match test is stateless (broadcast
    semi-join), only the counting aggregates. The per-eval-doc overlap
    report stays a cheap eval-side batch join against this table (the
    batch operator computes the same matched set from a bounded scan —
    pinned equal in tests/test_streaming.py)."""
    from mutable_spark.operators.dedup import _hashed_shingle_df

    ex = _hashed_shingle_df(docs).select(F.explode("shh").alias("h"))
    return (
        ex.join(F.broadcast(eval_hashes), "h", "left_semi")
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def lm_score_ingest(docs: DataFrame, c12, c1, v, sink: str, ckpt: str):
    """Quality-score-at-ingest: apply a PRETRAINED bigram surprisal model
    (`operators.text.lm_train_model`, trained offline on the reference
    slice — exactly how a CCNet-style filter deploys: the model is a
    static artifact, the corpus streams past it) to every arriving
    micro-batch, appending scores to ``sink``.

    Shape: foreachBatch, not a streaming aggregation — one input row IS
    one whole document, so each micro-batch scores completely inside the
    batch (`lm_score_frame`'s per-doc groupBy never needs cross-batch
    state), which is what makes the per-doc aggregate legal without
    watermarks and the output exactly-once under the sink's commit log.
    The model count-tables are ordinary static frames; Spark plans the
    stream-static joins per batch (broadcast under AQE, same as the
    registered batch query)."""
    from mutable_spark.operators.text import lm_score_frame

    return (
        docs.writeStream.foreachBatch(
            lambda b, _id: lm_score_frame(b, c12, c1, v)
            .write.mode("append")
            .parquet(sink)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def chunk_stream(docs: DataFrame) -> DataFrame:
    """Chunk-at-ingest: the sliding-window chunking
    (`operators.text.chunk_frame` — shared verbatim with the registered
    batch op) applied per micro-batch. Stateless (sequence→explode is a
    per-row map), so chunks append straight to the staging sink and the
    downstream embedding job consumes chunk rows as they land instead of
    waiting for a corpus-wide batch pass."""
    from mutable_spark.operators.text import chunk_frame

    return chunk_frame(docs)


def bpe_pairs_stream(docs: DataFrame) -> DataFrame:
    """Streaming twin of ``text_bpe_pairs``'s count map: tokenizer-merge
    statistics maintained AT INGEST. Each arriving document expands to
    its adjacent character pairs in-row (stateless — `bpe_word_pairs`
    shared verbatim with the batch op), and one stateful aggregation
    keeps the running total per pair. Per-occurrence counting over the
    stream equals the batch path's frequency-weighted counting over the
    vocabulary exactly (Σ_words freq·pairs_in_word ≡ per-occurrence
    sum), so the count map matches the batch frame bit-for-bit at any
    prefix of the stream.

    The batch-side finishes stay batch-side by design: the top-50 rank
    is a read-time sort over the tiny pair map, and n_words (distinct
    words per pair) would need unbounded per-pair word sets in state —
    the same lambda split as the fuzzy-dedup tiers. State here is one
    long per distinct pair (≤ alphabet², trivially bounded)."""
    from mutable_spark.operators.text import _toks, bpe_word_pairs

    pairs = docs.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.filter(_toks(), lambda w: F.length(w) >= 2),
                    bpe_word_pairs,
                )
            )
        ).alias("pair")
    )
    return pairs.groupBy("pair").agg(
        F.count(F.lit(1)).cast("long").alias("total_count")
    )


def boilerplate_scrub_stream(docs: DataFrame, boiler: list[int]) -> DataFrame:
    """Streaming twin of ``text_boilerplate_grams``: per arriving
    document, boilerplate accounting against a FIXED hot-gram dictionary
    (built batch-side by `operators.text.boilerplate_dictionary` — in
    production, refreshed by the compaction job the fuzzy tiers already
    run). The shared builder computes membership IN-ROW over the doc's
    distinct-gram array, so the twin is a stateless map: no shuffle, no
    state store, and a template-heavy document is flagged the moment it
    arrives rather than at the next batch sweep. The dictionary cap and
    the past-the-cap design (static-table semi join in the compaction
    layer) are documented at `text._BOILER_CAP`."""
    from mutable_spark.operators.text import boilerplate_stats_frame

    return boilerplate_stats_frame(docs, boiler)


def preference_pair_state(docs: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``pipeline_preference_pairs``: the
    per-(source, lang) chosen/rejected extremes maintained incrementally
    via applyInPandasWithState as documents arrive at ingest — the
    reward-model data-prep monitor that says, at any point of the
    crawl, which pair each group would currently contribute.

    Scoring happens UPSTREAM of the state function with the shared
    ``quality_expr`` (JVM-side, the identical IEEE sequence the batch op
    and its oracle use), so state only compares doubles; extremes use
    the batch tiebreaks exactly (quality DESC/ASC then smallest doc_id,
    NULL scores never beating real ones — the asc_nulls_last contract).
    State per group: (best_q, best_id, worst_q, worst_id, n). Each
    micro-batch emits the group's post-update pair with the batch op's
    gate evaluated into a ``qualifies`` column (distinct docs AND
    margin ≥ the shared ``_PREF_MIN_MARGIN``) — the last emission per
    group therefore equals the batch row set when filtered on it
    (asserted across a two-delivery replay in tests)."""
    import pandas as pd

    from mutable_spark.operators.pipeline import _PREF_MIN_MARGIN, quality_expr

    scored = docs.select(
        "source", "lang", "doc_id", quality_expr().alias("q")
    )

    def update(key, pdfs, state):
        if state.exists:
            best_q, best_id, worst_q, worst_id, n = state.get
        else:
            best_q, best_id, worst_q, worst_id, n = (None,) * 4 + (0,)
        for pdf in pdfs:
            n += len(pdf)
            real = pdf[pdf["q"].notna()]
            for doc_id, q in zip(real["doc_id"], real["q"]):
                doc_id, q = int(doc_id), float(q)
                if (
                    best_q is None
                    or q > best_q
                    or (q == best_q and doc_id < best_id)
                ):
                    best_q, best_id = q, doc_id
                if (
                    worst_q is None
                    or q < worst_q
                    or (q == worst_q and doc_id < worst_id)
                ):
                    worst_q, worst_id = q, doc_id
        state.update((best_q, best_id, worst_q, worst_id, n))
        if best_q is None:
            return iter(())  # no scored doc yet: nothing to monitor
        margin = best_q - worst_q
        return iter(
            [
                pd.DataFrame(
                    {
                        "source": [key[0]],
                        "lang": [key[1]],
                        "chosen_id": [best_id],
                        "rejected_id": [worst_id],
                        "chosen_q": [best_q],
                        "rejected_q": [worst_q],
                        "margin": [margin],
                        "n_docs": [n],
                        "qualifies": [
                            int(
                                best_id != worst_id
                                and margin >= _PREF_MIN_MARGIN
                            )
                        ],
                    }
                )
            ]
        )

    return scored.groupBy("source", "lang").applyInPandasWithState(
        update,
        outputStructType=(
            "source string, lang string, chosen_id long, rejected_id long,"
            " chosen_q double, rejected_q double, margin double,"
            " n_docs long, qualifies long"
        ),
        stateStructType=(
            "best_q double, best_id long, worst_q double, worst_id long,"
            " n long"
        ),
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def preference_topm_state(docs: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``pipeline_preference_topm`` (r14):
    per-(source, lang) TOP-m and BOTTOM-m score extremes maintained
    incrementally via applyInPandasWithState, emitting the gated m×m
    pair set after every micro-batch — the monitor that says, at any
    point of the crawl, which preference pairs each group would
    currently contribute to a DPO/RM set.

    Same contracts as the m=1 twin (`preference_pair_state`): scoring
    runs UPSTREAM in the JVM with the shared ``quality_expr`` (the
    identical IEEE sequence the batch op and its oracle use), state
    only compares doubles, extremes use the batch tiebreaks exactly
    (quality DESC/ASC then smallest doc_id; NULL scores never enter
    state), and the batch gate is emitted as a ``qualifies`` column —
    so the LAST emission per group, filtered on it, equals the batch
    op's row set. State per group is BOUNDED at 2m (score, id) pairs
    plus a count, regardless of stream length — the same 2m-structs
    bound the batch rollup carries per group."""
    import pandas as pd

    from mutable_spark.operators.pipeline import (
        _PREF_MIN_MARGIN,
        _PREF_TOP_M,
        quality_expr,
    )

    m = _PREF_TOP_M
    scored = docs.select(
        "source", "lang", "doc_id", quality_expr().alias("q")
    )

    def update(key, pdfs, state):
        if state.exists:
            top_q, top_id, bot_q, bot_id, n = state.get
            top = list(zip(list(top_q), list(top_id)))
            bot = list(zip(list(bot_q), list(bot_id)))
        else:
            top, bot, n = [], [], 0
        for pdf in pdfs:
            n += len(pdf)
            real = pdf[pdf["q"].notna()]
            for doc_id, q in zip(real["doc_id"], real["q"]):
                doc_id, q = int(doc_id), float(q)
                top.append((q, doc_id))
                bot.append((q, doc_id))
                # batch tiebreaks: quality DESC/ASC, then smallest id
                top.sort(key=lambda t: (-t[0], t[1]))
                bot.sort(key=lambda t: (t[0], t[1]))
                del top[m:], bot[m:]
        state.update(
            (
                [q for q, _ in top],
                [i for _, i in top],
                [q for q, _ in bot],
                [i for _, i in bot],
                n,
            )
        )
        if not top:
            return iter(())  # no scored doc yet: nothing to monitor
        rows = {
            "source": [], "lang": [], "chosen_id": [], "rejected_id": [],
            "chosen_q": [], "rejected_q": [], "margin": [],
            "chosen_rank": [], "rejected_rank": [], "n_docs": [],
            "qualifies": [],
        }
        for rc, (cq, cid) in enumerate(top, start=1):
            for rr, (wq, wid) in enumerate(bot, start=1):
                margin = cq - wq
                rows["source"].append(key[0])
                rows["lang"].append(key[1])
                rows["chosen_id"].append(cid)
                rows["rejected_id"].append(wid)
                rows["chosen_q"].append(cq)
                rows["rejected_q"].append(wq)
                rows["margin"].append(margin)
                rows["chosen_rank"].append(rc)
                rows["rejected_rank"].append(rr)
                rows["n_docs"].append(n)
                rows["qualifies"].append(
                    int(cid != wid and margin >= _PREF_MIN_MARGIN)
                )
        return iter([pd.DataFrame(rows)])

    return scored.groupBy("source", "lang").applyInPandasWithState(
        update,
        outputStructType=(
            "source string, lang string, chosen_id long, rejected_id long,"
            " chosen_q double, rejected_q double, margin double,"
            " chosen_rank long, rejected_rank long, n_docs long,"
            " qualifies long"
        ),
        stateStructType=(
            "top_q array<double>, top_id array<long>,"
            " bot_q array<double>, bot_id array<long>, n long"
        ),
        outputMode="update",
        timeoutConf="NoTimeout",
    )
