"""Streaming twins must produce exactly the batch results when replaying
the bounded testdata (the lambda-collapse guarantee)."""

from __future__ import annotations

from mutable_spark import registry
from mutable_spark.streaming.events import (
    run_available_now,
    sessionize,
    stream_events,
    tumbling_counts,
)
from tests.conftest import SF_DIR

registry.load_all()


def _rows(rows):
    return sorted(tuple(r) for r in rows)


def test_streaming_tumbling_equals_batch(spark):
    stream = stream_events(spark, SF_DIR)
    assert stream.isStreaming
    got = run_available_now(tumbling_counts(stream), "t_tumbling")
    want = registry.QUERIES["events_window_tumbling"](spark, SF_DIR).collect()
    assert _rows(got) == _rows(want)


def test_streaming_sessionize_counts(spark):
    stream = stream_events(spark, SF_DIR)
    got = run_available_now(sessionize(stream), "t_sessions")
    # session_window merges by gap like the batch lag/cumsum formulation:
    # same number of sessions per user, same per-session event counts
    want = registry.QUERIES["events_sessionize"](spark, SF_DIR).collect()
    got_key = sorted((r.user_id, r.session_start, r.n_events) for r in got)
    want_key = sorted((r.user_id, r.session_start, r.n_events) for r in want)
    assert got_key == want_key


def test_streaming_cooccurrence_rollup_equals_batch(spark):
    """The streaming session tier emits finalized per-session pair rows;
    rolling them up (the consumer's side of the documented lambda split)
    must reproduce the batch events_cooccurrence support counts exactly."""
    from collections import Counter, defaultdict

    from mutable_spark.streaming.events import cooccurrence_pairs

    stream = stream_events(spark, SF_DIR)
    got = run_available_now(cooccurrence_pairs(stream), "t_coocc")
    n_sessions: Counter = Counter()
    users: dict = defaultdict(set)
    for r in got:
        key = (r.type_a, r.type_b)
        n_sessions[key] += 1
        users[key].add(r.user_id)
    rolled = sorted(
        (a, b, n, len(users[(a, b)])) for (a, b), n in n_sessions.items()
    )
    want = sorted(
        (r.type_a, r.type_b, r.n_sessions, r.n_users)
        for r in registry.QUERIES["events_cooccurrence"](spark, SF_DIR).collect()
    )
    assert rolled == want


def test_stateful_running_totals(spark):
    import pyspark.sql.functions as F
    from mutable_spark.streaming.events import run_available_now, running_user_totals

    stream = stream_events(spark, SF_DIR)
    got = run_available_now(running_user_totals(stream), "t_state", mode="update")
    # single bounded replay → final state per user equals the batch totals
    from mutable_spark.catalog import load_tables

    want = (
        load_tables(spark, SF_DIR)
        .events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    )
    got_last = {}
    for r in got:  # update mode may emit once per batch; keep the last
        got_last[r.user_id] = r.n_events
    assert got_last == {r.user_id: r.n_events for r in want}


def test_streaming_sliding_equals_batch(spark):
    from mutable_spark.streaming.events import sliding_counts

    stream = stream_events(spark, SF_DIR)
    got = run_available_now(sliding_counts(stream), "t_sliding")
    want = registry.QUERIES["events_window_sliding"](spark, SF_DIR).collect()
    assert _rows(got) == _rows(want)


def test_streaming_json_extract_equals_batch(spark):
    from mutable_spark.streaming.events import json_extract_counts

    stream = stream_events(spark, SF_DIR)
    got = run_available_now(json_extract_counts(stream), "t_json")
    want = registry.QUERIES["events_json_extract"](spark, SF_DIR).collect()
    assert _rows(got) == _rows(want)


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Stop/restart recovery: run the tumbling aggregation in append mode
    with a checkpoint over half the input, then deliver the rest and
    restart with the SAME checkpoint. The file source must resume from its
    tracked offsets (no reprocessing), pending windows in the state store
    must absorb the new events, and the file sink's commit log must yield
    exactly-once output — the union of both runs equals the batch answer
    with no duplicates. A far-future sentinel event pushes the final
    watermark past every real window so append mode flushes them all."""
    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    from mutable_spark.catalog import load_tables
    from mutable_spark.functions import dsum

    ev = (
        load_tables(spark, SF_DIR)
        .events.select("event_id", F.col("ts").cast("timestamp").alias("ts"),
                       "user_id", "event_type", "value", "props")
    )
    lo, hi = ev.selectExpr("min(ts) l", "max(ts) m").collect()[0]
    split = lo + (hi - lo) / 2
    sentinel = spark.createDataFrame(
        [(10**9, hi + __import__("datetime").timedelta(hours=10),
          0, "sentinel", 0.0, "{}")],
        ev.schema,
    )

    src = tmp_path / "in"
    sink = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def deliver(df, name):
        df.coalesce(1).write.parquet(str(tmp_path / name))
        for i, f in enumerate(sorted((tmp_path / name).glob("*.parquet"))):
            f.rename(src / f"{name}_{i}.parquet")

    def run_once():
        stream = spark.readStream.schema(ev.schema).parquet(str(src))
        q = (
            tumbling_counts(stream)
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    deliver(ev.filter(F.col("ts") < F.lit(split)), "phase1")
    run_once()
    deliver(ev.filter(F.col("ts") >= F.lit(split)).unionByName(sentinel), "phase2")
    run_once()

    got = (
        spark.read.schema(
            T.StructType([
                T.StructField("bucket_start", T.TimestampType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("cnt", T.LongType()),
                T.StructField("sum_value", T.DoubleType()),
            ])
        )
        .parquet(str(sink))
        .filter(F.col("event_type") != "sentinel")
        .collect()
    )
    want = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value").alias("sum_value"))
        .select(F.col("w.start").alias("bucket_start"), "event_type", "cnt",
                "sum_value")
        .collect()
    )
    assert _rows(got) == _rows(want)


def test_streaming_funnel_equals_batch(spark):
    from mutable_spark.streaming.events import funnel_user_totals

    stream = stream_events(spark, SF_DIR)
    got = run_available_now(funnel_user_totals(stream), "t_funnel", mode="update")
    last = {}
    for r in got:  # update mode emits once per user per batch; keep last
        last[r.user_id] = (r.views, r.converted_views)
    want = {
        r.user_id: (r.views, r.converted_views)
        for r in registry.QUERIES["events_funnel"](spark, SF_DIR).collect()
    }
    # batch output covers users with >=1 view; the stream emits every user
    got_views = {u: v for u, v in last.items() if v[0] > 0}
    assert got_views == want


def test_streaming_funnel_state_survives_restart(spark, tmp_path):
    """Funnel state across a stop/restart: deliver the first half of each
    user's timeline, stop, deliver the rest against the same checkpoint.
    Pending views from phase 1 must wait in the state store and be settled
    by phase-2 clicks; final totals equal the batch funnel exactly."""
    import pyspark.sql.functions as F

    from mutable_spark.catalog import load_tables
    from mutable_spark.streaming.events import funnel_user_totals

    ev = (
        load_tables(spark, SF_DIR)
        .events.select("event_id", F.col("ts").cast("timestamp").alias("ts"),
                       "user_id", "event_type", "value", "props")
    )
    lo, hi = ev.selectExpr("min(ts) l", "max(ts) m").collect()[0]
    split = lo + (hi - lo) / 2

    src = tmp_path / "in"
    sink = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def deliver(df, name):
        df.coalesce(1).write.parquet(str(tmp_path / name))
        for i, f in enumerate(sorted((tmp_path / name).glob("*.parquet"))):
            f.rename(src / f"{name}_{i}.parquet")

    def run_once():
        stream = spark.readStream.schema(ev.schema).parquet(str(src))
        q = (
            funnel_user_totals(stream)
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(str(sink))
            )
            .option("checkpointLocation", str(ckpt))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    deliver(ev.filter(F.col("ts") < F.lit(split)), "phase1")
    run_once()
    deliver(ev.filter(F.col("ts") >= F.lit(split)), "phase2")
    run_once()

    import pyspark.sql.types as T

    out = spark.read.schema(
        T.StructType([
            T.StructField("user_id", T.LongType()),
            T.StructField("views", T.LongType()),
            T.StructField("converted_views", T.LongType()),
        ])
    ).parquet(str(sink))
    # each run emits one row per user seen in that run; the phase-2 row
    # (higher totals) is the final state — keep the max views per user
    last = {}
    for r in out.collect():
        if r.user_id not in last or r.views > last[r.user_id][0]:
            last[r.user_id] = (r.views, r.converted_views)
    want = {
        r.user_id: (r.views, r.converted_views)
        for r in registry.QUERIES["events_funnel"](spark, SF_DIR).collect()
    }
    got_views = {u: v for u, v in last.items() if v[0] > 0}
    assert got_views == want


def test_streaming_dedup_exact_equals_batch(spark):
    """Ingest-side exact dedup: the streaming digest aggregation replayed
    over the bounded documents equals the registered batch dedup_exact
    row-for-row."""
    from mutable_spark.streaming.documents import dedup_exact_stream, stream_documents

    stream = stream_documents(spark, SF_DIR)
    assert stream.isStreaming
    got = run_available_now(dedup_exact_stream(stream), "t_dedup_exact")
    want = registry.QUERIES["dedup_exact"](spark, SF_DIR).collect()
    assert _rows(got) == _rows(want)


def test_streaming_decontaminate_equals_batch(spark):
    """Ingest-side decontamination: stream-static broadcast anti-join
    against the eval digest blocklist equals the registered batch
    pipeline_decontaminate."""
    import pyspark.sql.functions as F

    from mutable_spark.catalog import load_tables
    from mutable_spark.operators.pipeline import _EVAL_MOD
    from mutable_spark.streaming.documents import (
        _digest,
        decontaminate_stream,
        stream_documents,
    )

    d = load_tables(spark, SF_DIR).documents
    evalset = (
        d.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select(_digest().alias("eval_md5"))
        .distinct()
    )
    stream = stream_documents(spark, SF_DIR)
    got = run_available_now(
        decontaminate_stream(stream, evalset), "t_decontaminate"
    )
    want = registry.QUERIES["pipeline_decontaminate"](spark, SF_DIR).collect()
    assert _rows(got) == _rows(want)


def test_streaming_pii_scrub_equals_batch(spark):
    """Scrub-at-ingest: the stateless streaming redaction map equals the
    registered batch text_pii_scrub row-for-row (append mode — no state)."""
    from mutable_spark.streaming.documents import pii_scrub_stream, stream_documents

    stream = stream_documents(spark, SF_DIR)
    got = run_available_now(pii_scrub_stream(stream), "t_pii", mode="append")
    want = registry.QUERIES["text_pii_scrub"](spark, SF_DIR).collect()
    assert _rows(got) == _rows(want)


def test_streaming_mix_sources_equals_batch(spark):
    """Mix-at-ingest: stable-hash keep decision + incremental per-source
    summary equals the registered batch pipeline_mix_sources."""
    from mutable_spark.streaming.documents import mix_sources_stream, stream_documents

    stream = stream_documents(spark, SF_DIR)
    got = run_available_now(mix_sources_stream(stream), "t_mix")
    want = registry.QUERIES["pipeline_mix_sources"](spark, SF_DIR).collect()
    assert _rows(got) == _rows(want)


def test_streaming_curate_composition_equals_batch(spark):
    """mix → decontaminate → dedup as ONE streaming query equals the
    identical batch composition of the shared frame builders."""
    import pyspark.sql.functions as F

    from mutable_spark.catalog import load_tables
    from mutable_spark.operators.pipeline import _EVAL_MOD, mix_kept_frame
    from mutable_spark.streaming.documents import (
        _digest,
        curate_ingest_stream,
        stream_documents,
    )

    d = load_tables(spark, SF_DIR).documents
    evalset = (
        d.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select(_digest().alias("eval_md5"))
        .distinct()
    )
    stream = stream_documents(spark, SF_DIR)
    got = run_available_now(curate_ingest_stream(stream, evalset), "t_curate")

    kept = mix_kept_frame(d)
    clean = kept.join(
        F.broadcast(evalset), _digest() == F.col("eval_md5"), "left_anti"
    )
    want = (
        clean.select(_digest().alias("group_md5"), "doc_id")
        .groupBy("group_md5")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dupes"))
        .collect()
    )
    assert _rows(got) == _rows(want)
    assert len(want) > 0


def test_streaming_retention_equals_batch(spark):
    """Two-level aggregation via per-user state: the latest emitted
    retention vector per user, reduced to (cohort_day, day_k) counts,
    equals the registered batch events_retention."""
    from mutable_spark.streaming.events import retention_user_days, stream_events

    stream = stream_events(spark, SF_DIR)
    rows = run_available_now(retention_user_days(stream), "t_retention", mode="update")
    latest: dict = {}
    for r in rows:  # memory sink appends per-batch updates; keep the
        latest.setdefault(r.user_id, []).append((r.cohort_day, r.day_k))
    # last emission per user = the rows whose cohort_day is the user's
    # minimal emitted cohort (late events only ever LOWER the cohort)
    from collections import Counter

    agg: Counter = Counter()
    for user, entries in latest.items():
        cohort = min(c for c, _ in entries)
        for k in {k for c, k in entries if c == cohort}:
            agg[(cohort.date(), k)] += 1
    want = {
        (r.cohort_day, r.day_k): r.n_users
        for r in registry.QUERIES["events_retention"](spark, SF_DIR).collect()
    }
    assert dict(agg) == want


def test_streaming_retention_state_survives_restart(spark, tmp_path):
    """Retention state across a stop/restart: phase 1 delivers each
    user's LATER activity days, phase 2 the earlier ones against the same
    checkpoint — so the restart must both recover the day-set state AND
    re-base cohorts when phase 2 lowers a user's first-seen day. The
    latest-per-user reduce over both phases' emissions equals batch."""
    import pyspark.sql.functions as F

    from mutable_spark.catalog import load_tables
    from mutable_spark.streaming.events import retention_user_days

    ev = (
        load_tables(spark, SF_DIR)
        .events.select("event_id", F.col("ts").cast("timestamp").alias("ts"),
                       "user_id", "event_type", "value", "props")
    )
    lo, hi = ev.selectExpr("min(ts) l", "max(ts) m").collect()[0]
    split = lo + (hi - lo) / 2

    src = tmp_path / "in"
    sink = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def deliver(df, name):
        df.coalesce(1).write.parquet(str(tmp_path / name))
        for i, f in enumerate(sorted((tmp_path / name).glob("*.parquet"))):
            f.rename(src / f"{name}_{i}.parquet")

    def run_once():
        stream = spark.readStream.schema(ev.schema).parquet(str(src))
        q = (
            retention_user_days(stream)
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(str(sink))
            )
            .option("checkpointLocation", str(ckpt))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # LATE-COHORT delivery order: newest half first
    deliver(ev.filter(F.col("ts") >= F.lit(split)), "phase1")
    run_once()
    deliver(ev.filter(F.col("ts") < F.lit(split)), "phase2")
    run_once()

    import pyspark.sql.types as T

    out = spark.read.schema(
        T.StructType([
            T.StructField("user_id", T.LongType()),
            T.StructField("cohort_day", T.TimestampType()),
            T.StructField("day_k", T.LongType()),
        ])
    ).parquet(str(sink))
    from collections import Counter

    per_user: dict = {}
    for r in out.collect():
        per_user.setdefault(r.user_id, []).append((r.cohort_day, r.day_k))
    agg: Counter = Counter()
    for user, entries in per_user.items():
        cohort = min(c for c, _ in entries)  # re-based (lowest) cohort wins
        for k in {k for c, k in entries if c == cohort}:
            agg[(cohort.date(), k)] += 1
    want = {
        (r.cohort_day, r.day_k): r.n_users
        for r in registry.QUERIES["events_retention"](spark, SF_DIR).collect()
    }
    assert dict(agg) == want


def test_streaming_windowed_topk_equals_batch(spark):
    """Live leaderboard: the latest emitted top-3 per hour bucket equals
    the batch events_windowed_topk exactly (same count-desc, user-asc tie
    rule)."""
    from mutable_spark.streaming.events import stream_events, windowed_topk_users

    stream = stream_events(spark, SF_DIR)
    rows = run_available_now(windowed_topk_users(stream), "t_wtopk", mode="update")
    # update-mode memory-sink rows arrive in emission order: the last
    # write per (bucket, rank) is the bucket's final leaderboard row
    by_rank: dict = {}
    for r in rows:
        by_rank[(r.bucket_start, r.rnk)] = r
    got = {
        (r.bucket_start, r.user_id, r.cnt, r.rnk) for r in by_rank.values()
    }
    want = {
        (r.bucket_start, r.user_id, r.cnt, r.rnk)
        for r in registry.QUERIES["events_windowed_topk"](spark, SF_DIR).collect()
    }
    assert got == want


def test_stream_plus_compaction_equals_batch_classes(spark, tmp_path):
    """The lambda split, end-to-end (VERDICT r7 item #8): the ingest
    stream stages clean kept documents in TWO deliveries (append-mode
    parquet sink, exactly-once checkpointing); a compaction run after
    each delivery extends the all-time signature store incrementally and
    re-runs the shared LSH tier + components. Final classes equal the
    batch (minhash_lsh_pairs -> connected_components) answer on the same
    clean corpus; the second compaction signs only the second delivery's
    docs (incrementality), and classes merged across the delivery
    boundary prove per-batch fuzzy dedup would have missed pairs."""
    import pyspark.sql.functions as F

    from mutable_spark.catalog import load_tables
    from mutable_spark.operators.dedup import (
        _hashed_shingle_df,
        connected_components,
        minhash_lsh_pairs,
    )
    from mutable_spark.operators.pipeline import _EVAL_MOD, mix_kept_frame
    from mutable_spark.streaming.compaction import (
        compact_fuzzy_classes,
        extend_signature_store,
        stage_clean_stream,
    )
    from mutable_spark.streaming.documents import _digest

    d = load_tables(spark, SF_DIR).documents
    evalset = (
        d.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select(_digest().alias("eval_md5"))
        .distinct()
    )

    src = tmp_path / "in"
    staged = tmp_path / "staged"
    ckpt = tmp_path / "ckpt"
    store = tmp_path / "store"
    src.mkdir()

    def deliver(df, name):
        df.coalesce(1).write.parquet(str(tmp_path / name))
        for i, f in enumerate(sorted((tmp_path / name).glob("*.parquet"))):
            f.rename(src / f"{name}_{i}.parquet")

    def run_once():
        stream = spark.readStream.schema(d.schema).parquet(str(src))
        q = (
            stage_clean_stream(stream, evalset)
            .writeStream.format("parquet")
            .option("path", str(staged))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    split = d.approxQuantile("doc_id", [0.5], 0.0)[0]
    deliver(d.filter(F.col("doc_id") <= split), "phase1")
    run_once()
    compact_fuzzy_classes(spark, str(staged), str(store)).collect()

    deliver(d.filter(F.col("doc_id") > split), "phase2")
    run_once()
    # incrementality: the second compaction signs ONLY the new delivery
    clean = stage_clean_stream(d, evalset)
    n_new = extend_signature_store(spark, str(staged), str(store))
    # newly PROCESSED docs == the delivery size (sub-shingle docs are
    # manifested, not skipped — r15 zero-output contract)
    n_phase2 = clean.filter(F.col("doc_id") > split).count()
    assert n_new == n_phase2 and n_new > 0
    got = compact_fuzzy_classes(spark, str(staged), str(store)).collect()

    # the staged corpus is exactly the batch-clean set, and the store
    # holds one signature per clean doc (no re-signing, no loss)
    assert _rows(
        spark.read.parquet(str(staged)).select("doc_id").collect()
    ) == _rows(clean.select("doc_id").collect())
    sigs = spark.read.parquet(str(store / "signatures"))
    assert sigs.count() == sigs.select("doc_id").distinct().count()

    g = _hashed_shingle_df(clean).cache()
    pairs = minhash_lsh_pairs(g).select("doc_a", "doc_b").localCheckpoint(True)
    want = connected_components(pairs).collect()
    g.unpersist()
    assert _rows(got) == _rows(want)
    assert len(want) > 0
    # at least one class straddles the delivery boundary: the pair its
    # members form would be invisible to any per-microbatch LSH pass
    straddles = [
        r
        for r in got
        if r["class_rep"] <= split and r["doc_id"] > split
    ]
    assert straddles, "no duplicate class crossed the delivery boundary"


def test_streaming_contamination_matched_equals_batch(spark):
    """Ingest-side contamination accounting: the streamed (h, n_hits)
    matched-hash state over arriving training docs equals the identical
    batch aggregation — the streaming half of
    pipeline_contamination_stats' report."""
    import pyspark.sql.functions as F

    from mutable_spark.catalog import load_tables
    from mutable_spark.operators.dedup import _hashed_shingle_df
    from mutable_spark.operators.pipeline import _EVAL_MOD
    from mutable_spark.streaming.documents import (
        contamination_matched_stream,
        stream_documents,
    )

    d = load_tables(spark, SF_DIR).documents
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    eval_hashes = (
        _hashed_shingle_df(d.filter(is_eval))
        .select(F.explode("shh").alias("h"))
        .distinct()
    )
    stream = stream_documents(spark, SF_DIR).filter(~is_eval)
    got = run_available_now(
        contamination_matched_stream(stream, eval_hashes), "t_contam"
    )
    want = (
        _hashed_shingle_df(d.filter(~is_eval))
        .select(F.explode("shh").alias("h"))
        .join(F.broadcast(eval_hashes), "h", "left_semi")
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .collect()
    )
    assert _rows(got) == _rows(want)
    assert len(want) > 0


def test_streaming_value_sketch_tracks_exact(spark, tmp_path):
    """Streaming percentile sketches merged across TWO microbatch
    deliveries stay within the batch-sketch tolerances of the exact
    per-group percentiles — the state-store merge path, which a
    single-batch replay never exercises."""
    import pyspark.sql.functions as F

    from mutable_spark.catalog import load_tables
    from mutable_spark.streaming.events import value_sketch_stream

    ev = load_tables(spark, SF_DIR).events.select("ts", "event_type", "value")
    src = tmp_path / "in"
    src.mkdir()

    def deliver(df, name):
        df.coalesce(1).write.parquet(str(tmp_path / name))
        for i, f in enumerate(sorted((tmp_path / name).glob("*.parquet"))):
            f.rename(src / f"{name}_{i}.parquet")

    split = ev.approxQuantile("value", [0.5], 0.0)[0]
    deliver(ev.filter(F.col("value") <= split), "phase1")
    deliver(ev.filter(F.col("value") > split), "phase2")

    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    q = (
        value_sketch_stream(stream)
        .writeStream.format("memory")
        .queryName("t_vsketch")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["event_type"]: r for r in spark.sql("SELECT * FROM t_vsketch").collect()}

    exact = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.percentile("value", 0.5).alias("p50"),
            F.percentile("value", 0.95).alias("p95"),
            F.percentile("value", 0.99).alias("p99"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert set(got) == set(exact) and len(exact) > 1
    # the Greenwald-Khanna contract is a RANK bound, not a value bound
    # (a sparse p99 tail can jump values across adjacent ranks): the
    # returned data value's true rank must sit within eps of the target
    # quantile. accuracy=10000 gives eps=1e-4 per summary; merged
    # summaries degrade, so pin a loose 0.02.
    for et, e in exact.items():
        g = got[et]
        assert g["n"] == e["n"], et  # counts merge exactly
        for i, p in enumerate([0.5, 0.95, 0.99]):
            v = g["q"][i]
            rank = (
                ev.filter(
                    (F.col("event_type") == et) & (F.col("value") <= F.lit(v))
                ).count()
                / e["n"]
            )
            assert abs(rank - p) <= 0.02, (et, p, v, rank)


def test_streaming_interarrival_equals_batch(spark):
    """Per-user cadence state: the latest emitted (n_events, n_gaps,
    max_gap_us, sum_gap_us) per user equals the batch
    events_interarrival exactly."""
    from mutable_spark.streaming.events import interarrival_user_stats, stream_events

    stream = stream_events(spark, SF_DIR)
    rows = run_available_now(
        interarrival_user_stats(stream), "t_interarrival", mode="update"
    )
    latest = {}
    for r in rows:  # memory sink appends per-batch; last write wins
        latest[r.user_id] = (r.n_events, r.n_gaps, r.max_gap_us, r.sum_gap_us)
    want = {
        r.user_id: (r.n_events, r.n_gaps, r.max_gap_us, r.sum_gap_us)
        for r in registry.QUERIES["events_interarrival"](spark, SF_DIR).collect()
    }
    assert latest == want
    assert len(want) > 0


def test_streaming_interarrival_rebases_out_of_order(spark, tmp_path):
    """Cadence across a stop/restart with the LATER half delivered first:
    phase 2's earlier events land BETWEEN already-seen ones and split
    phase 1's gaps, so the state re-base (recompute from the stored
    (ts, event_id) set) is load-bearing — a fold-forward twin would keep
    the stale large gaps. The latest emission per user over both phases
    equals batch."""
    import pyspark.sql.functions as F

    from mutable_spark.catalog import load_tables
    from mutable_spark.streaming.events import interarrival_user_stats

    ev = load_tables(spark, SF_DIR).events.select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    lo, hi = ev.selectExpr("min(ts) l", "max(ts) m").collect()[0]
    split = lo + (hi - lo) / 2

    src = tmp_path / "in"
    sink = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def deliver(df, name):
        df.coalesce(1).write.parquet(str(tmp_path / name))
        for i, f in enumerate(sorted((tmp_path / name).glob("*.parquet"))):
            f.rename(src / f"{name}_{i}.parquet")

    def run_once():
        stream = spark.readStream.schema(ev.schema).parquet(str(src))
        q = (
            interarrival_user_stats(stream)
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(str(sink))
            )
            .option("checkpointLocation", str(ckpt))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    deliver(ev.filter(F.col("ts") >= F.lit(split)), "phase1")
    run_once()
    deliver(ev.filter(F.col("ts") < F.lit(split)), "phase2")
    run_once()

    import pyspark.sql.types as T

    out = spark.read.schema(
        T.StructType([
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("n_gaps", T.LongType()),
            T.StructField("max_gap_us", T.LongType()),
            T.StructField("sum_gap_us", T.LongType()),
        ])
    ).parquet(str(sink))
    # phase-2 emissions strictly dominate (every user re-emits with more
    # events); latest per user = the row with the max n_events
    latest = {}
    for r in out.collect():
        cur = latest.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            latest[r.user_id] = (r.n_events, r.n_gaps, r.max_gap_us, r.sum_gap_us)
    want = {
        r.user_id: (r.n_events, r.n_gaps, r.max_gap_us, r.sum_gap_us)
        for r in registry.QUERIES["events_interarrival"](spark, SF_DIR).collect()
    }
    assert latest == want


def test_streaming_attribution_equals_batch(spark, tmp_path):
    """Stream-stream interval join + chained rank-1 aggregation: the
    watermarked attribution twin equals the registered batch
    events_attribution exactly across a TWO-delivery replay (state rows
    for pending purchases and lookback clicks must survive the batch
    boundary). Sentinel purchase/click events with unmatchable user ids
    push both sides' watermarks past every real event so append mode
    flushes all held groups; they join nothing, so the output is purely
    the real attribution rows."""
    import datetime

    import pyspark.sql.functions as F

    from mutable_spark.catalog import load_tables
    from mutable_spark.streaming.events import attribution_stream

    ev = load_tables(spark, SF_DIR).events.select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    lo, hi = ev.selectExpr("min(ts) l", "max(ts) m").collect()[0]
    split = lo + (hi - lo) / 2
    far = hi + datetime.timedelta(days=5)
    sentinels = spark.createDataFrame(
        [
            (10**9, far, -1, "purchase", 0.0, "{}"),
            (10**9 + 1, far, -2, "click", 0.0, "{}"),
        ],
        ev.schema,
    )

    src = tmp_path / "in"
    src.mkdir()

    def deliver(df, name):
        df.coalesce(1).write.parquet(str(tmp_path / name))
        for i, f in enumerate(sorted((tmp_path / name).glob("*.parquet"))):
            f.rename(src / f"{name}_{i}.parquet")

    def run_once(qname):
        stream = spark.readStream.schema(ev.schema).parquet(str(src))
        q = (
            attribution_stream(stream)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    deliver(ev.filter(F.col("ts") < F.lit(split)), "phase1")
    run_once("t_attr_p1")
    deliver(ev.filter(F.col("ts") >= F.lit(split)).unionByName(sentinels), "phase2")
    run_once("t_attr_p2")

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    want = sorted(
        tuple(r)
        for r in registry.QUERIES["events_attribution"](spark, SF_DIR).collect()
    )
    assert got == want


def test_streaming_lm_score_equals_batch(spark, tmp_path):
    """Score-at-ingest with a pretrained surprisal model: stream the
    corpus in TWO deliveries through lm_score_ingest (foreachBatch,
    per-doc scoring completes inside each batch); the union of appended
    scores equals the registered batch text_lm_surprisal exactly —
    the model is a static artifact, so per-doc scores are independent
    of how the corpus is batched."""
    import pyspark.sql.functions as F

    from mutable_spark.catalog import load_tables
    from mutable_spark.operators.text import lm_train_model
    from mutable_spark.streaming.documents import lm_score_ingest

    d = load_tables(spark, SF_DIR).documents
    model = lm_train_model(d)

    src = tmp_path / "in"
    src.mkdir()

    def deliver(df, name):
        df.coalesce(1).write.parquet(str(tmp_path / name))
        for i, f in enumerate(sorted((tmp_path / name).glob("*.parquet"))):
            f.rename(src / f"{name}_{i}.parquet")

    def run_once():
        stream = spark.readStream.schema(d.schema).parquet(str(src))
        q = lm_score_ingest(
            stream, *model, sink=str(tmp_path / "out"), ckpt=str(tmp_path / "ckpt")
        )
        q.awaitTermination(120)

    mid = d.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
    deliver(d.filter(F.col("doc_id") <= mid), "phase1")
    run_once()
    deliver(d.filter(F.col("doc_id") > mid), "phase2")
    run_once()

    got = sorted(
        tuple(r) for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    want = sorted(
        tuple(r)
        for r in registry.QUERIES["text_lm_surprisal"](spark, SF_DIR).collect()
    )
    assert got == want


def test_streaming_chunking_equals_batch(spark):
    """Chunk-at-ingest: the stateless streaming chunking map equals the
    registered batch text_chunk_sliding row-for-row (append mode — no
    state)."""
    from mutable_spark.streaming.documents import chunk_stream, stream_documents

    stream = stream_documents(spark, SF_DIR)
    got = run_available_now(chunk_stream(stream), "t_chunks", mode="append")
    want = registry.QUERIES["text_chunk_sliding"](spark, SF_DIR).collect()
    assert _rows(got) == _rows(want)


def test_streaming_markov_transitions_equals_batch(spark, tmp_path):
    """Incremental transition matrix: deliver the events OUT OF ORDER in
    two halves (odd event_ids then even — so late arrivals split
    already-observed transitions), keep each user's LATEST per-pair
    emission, sum across users, and require exact equality with the
    batch events_markov_transitions counts."""
    import pyspark.sql.functions as F

    from mutable_spark.catalog import load_tables
    from mutable_spark.streaming.events import markov_transitions_user

    ev = load_tables(spark, SF_DIR).events.select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    src = tmp_path / "in"
    src.mkdir()

    def deliver(df, name):
        df.coalesce(1).write.parquet(str(tmp_path / name))
        for i, f in enumerate(sorted((tmp_path / name).glob("*.parquet"))):
            f.rename(src / f"{name}_{i}.parquet")

    sink = tmp_path / "out"

    def run_once():
        stream = spark.readStream.schema(ev.schema).parquet(str(src))
        q = (
            markov_transitions_user(stream)
            .writeStream.foreachBatch(
                lambda df, bid: df.withColumn("bid", F.lit(bid))
                .write.mode("append")
                .parquet(str(sink))
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    deliver(ev.filter(F.col("event_id") % 2 == 1), "phase1")
    run_once()
    deliver(ev.filter(F.col("event_id") % 2 == 0), "phase2")
    run_once()

    # a user's latest emission REPLACES its whole transition vector (a
    # late insert can remove a pair), so reduce to each user's max-bid
    # rows; batch ids keep increasing across the checkpointed restart
    rows = spark.read.parquet(str(sink)).collect()
    max_bid = {}
    for r in rows:
        max_bid[r.user_id] = max(max_bid.get(r.user_id, -1), r.bid)
    import collections

    matrix = collections.Counter()
    for r in rows:
        if r.bid == max_bid[r.user_id]:
            matrix[(r.prev_type, r.next_type)] += r.n
    want = {
        (r.prev_type, r.next_type): r.n_transitions
        for r in registry.QUERIES["events_markov_transitions"](spark, SF_DIR).collect()
    }
    assert dict(matrix) == want


def test_streaming_bpe_pairs_equals_batch(spark):
    """Tokenizer-merge statistics at ingest: the streaming per-occurrence
    pair counts replayed over the bounded documents equal the batch
    vocabulary-weighted count map (the full map, not just the registered
    top-50) — Σ_words freq·pairs_in_word ≡ per-occurrence sum."""
    from mutable_spark.catalog import load_tables
    from mutable_spark.operators.text import bpe_pair_counts_frame
    from mutable_spark.streaming.documents import bpe_pairs_stream, stream_documents

    stream = stream_documents(spark, SF_DIR)
    assert stream.isStreaming
    got = run_available_now(bpe_pairs_stream(stream), "t_bpe_pairs")
    want = (
        bpe_pair_counts_frame(load_tables(spark, SF_DIR).documents)
        .select("pair", "total_count")
        .collect()
    )
    assert _rows(got) == _rows(want)


def test_streaming_boilerplate_scrub_equals_batch(spark):
    """Boilerplate-at-ingest: the stateless in-row membership map against
    the batch-built dictionary equals the registered batch
    text_boilerplate_grams (join formulation) row-for-row."""
    from mutable_spark.catalog import load_tables
    from mutable_spark.operators.text import boilerplate_dictionary
    from mutable_spark.streaming.documents import (
        boilerplate_scrub_stream,
        stream_documents,
    )

    d = load_tables(spark, SF_DIR).documents
    boiler = [r.h for r in boilerplate_dictionary(d).collect()]
    assert boiler, "testdata must contain some cross-document grams"
    stream = stream_documents(spark, SF_DIR)
    got = run_available_now(
        boilerplate_scrub_stream(stream, boiler), "t_boiler", mode="append"
    )
    want = registry.QUERIES["text_boilerplate_grams"](spark, SF_DIR).collect()
    assert _rows(got) == _rows(want)


def test_streaming_session_text_equals_batch(spark):
    """Session-text-at-ingest: the watermark-closed session strings equal
    the batch events_session_text corpus — same (user, start, n_events,
    seq_text) multiset (session_window merges by the same 10-min gap as
    the batch lag/cumsum rule)."""
    from mutable_spark.streaming.events import session_text, stream_events

    stream = stream_events(spark, SF_DIR)
    got = run_available_now(session_text(stream), "t_sess_text")
    want = registry.QUERIES["events_session_text"](spark, SF_DIR).collect()
    got_key = sorted((r.user_id, r.n_events, r.seq_text) for r in got)
    want_key = sorted((r.user_id, r.n_events, r.seq_text) for r in want)
    assert got_key == want_key


def test_streaming_session_text_state_survives_restart(spark, tmp_path):
    """Session-text across a stop/restart: deliver the first half of the
    event stream, stop, deliver the rest plus a far-future sentinel, and
    restart on the SAME checkpoint. Sessions that straddle the split must
    MERGE in the recovered session_window state (their halves arrive in
    different runs), and every finished session's string must appear
    exactly once — the union of both runs' append output equals the batch
    events_session_text corpus."""
    import datetime

    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    from mutable_spark.catalog import load_tables
    from mutable_spark.streaming.events import session_text

    ev = load_tables(spark, SF_DIR).events.select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    lo, hi = ev.selectExpr("min(ts) l", "max(ts) m").collect()[0]
    split = lo + (hi - lo) / 2
    sentinel = spark.createDataFrame(
        [(10**9, hi + datetime.timedelta(hours=10), -1, "sentinel", 0.0, "{}")],
        ev.schema,
    )

    src = tmp_path / "in"
    sink = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def deliver(df, name):
        df.coalesce(1).write.parquet(str(tmp_path / name))
        for i, f in enumerate(sorted((tmp_path / name).glob("*.parquet"))):
            f.rename(src / f"{name}_{i}.parquet")

    def run_once():
        stream = spark.readStream.schema(ev.schema).parquet(str(src))
        q = (
            session_text(stream)
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    deliver(ev.filter(F.col("ts") < F.lit(split)), "phase1")
    run_once()
    deliver(ev.filter(F.col("ts") >= F.lit(split)).unionByName(sentinel), "phase2")
    run_once()

    got = (
        spark.read.schema(
            T.StructType([
                T.StructField("user_id", T.LongType()),
                T.StructField("session_start", T.TimestampType()),
                T.StructField("n_events", T.LongType()),
                T.StructField("seq_text", T.StringType()),
            ])
        )
        .parquet(str(sink))
        .filter(F.col("user_id") >= 0)
        .collect()
    )
    want = registry.QUERIES["events_session_text"](spark, SF_DIR).collect()
    got_key = sorted((r.user_id, r.n_events, r.seq_text) for r in got)
    want_key = sorted((r.user_id, r.n_events, r.seq_text) for r in want)
    assert got_key == want_key


def test_streaming_cusum_equals_batch(spark):
    """cusum_monitor with the batch-trained reference mean must land
    exactly on the registered batch op's output after the bounded
    replay (the batch op's self-computed mean IS the reference the
    stream monitors against)."""
    import pyspark.sql.functions as F

    from mutable_spark import registry
    from mutable_spark.catalog import load_tables
    from mutable_spark.streaming.events import (
        cusum_monitor,
        run_available_now,
        stream_events,
    )

    registry.load_all()
    e = load_tables(spark, SF_DIR).events
    means = {
        r["event_type"]: r["m"]
        for r in e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("event_type")
        .agg(F.expr("(sum(cnt) * 1000) div count(*)").alias("m"))
        .collect()
    }
    rows = run_available_now(
        cusum_monitor(stream_events(spark, SF_DIR), means),
        "t_cusum",
        mode="update",
    )
    # update mode re-emits per micro-batch; the final state per type is
    # the row with the largest bucket count (monotone across batches)
    final = {}
    for r in rows:
        if (
            r.event_type not in final
            or r.n_buckets >= final[r.event_type].n_buckets
        ):
            final[r.event_type] = r
    want = {
        r.event_type: r
        for r in registry.QUERIES["events_changepoint_cusum"](
            spark, SF_DIR
        ).collect()
    }
    assert set(final) == set(want)
    for et, w in want.items():
        g = final[et]
        assert g.n_buckets == w.n_buckets, et
        assert g.peak_cusum_q == w.peak_cusum_q, et
        # batch emits TIMESTAMP_NTZ; the stream keeps long micros
        import calendar

        want_us = calendar.timegm(w.peak_hour.timetuple()) * 1_000_000
        assert g.peak_hour_us == want_us, (et, g.peak_hour_us, want_us)


def test_streaming_ab_monitor_equals_batch(spark):
    """ab_monitor over the full bounded replay must land bit-identically
    on the batch `events_ab_test` rows: the streaming agg folds the same
    DECIMAL sufficient sums, and the Welch t is the same scalar tree."""
    from mutable_spark import registry
    from mutable_spark.streaming.events import (
        ab_monitor,
        run_available_now,
        stream_events,
    )

    registry.load_all()
    rows = run_available_now(
        ab_monitor(stream_events(spark, SF_DIR)), "t_ab", mode="update"
    )
    final = {}
    for r in rows:  # update mode re-emits; keep the fullest row per type
        if r.event_type not in final or (r.n_a + r.n_b) >= (
            final[r.event_type].n_a + final[r.event_type].n_b
        ):
            final[r.event_type] = r
    want = {
        r.event_type: r
        for r in registry.QUERIES["events_ab_test"](spark, SF_DIR).collect()
    }
    assert set(final) == set(want)
    for et, w in want.items():
        g = final[et]
        assert (g.n_a, g.n_b) == (w.n_a, w.n_b), et
        # bit-identical floats: same exact decimal inputs, same IEEE tree
        assert g.mean_diff == w.mean_diff, et
        assert g.welch_t == w.welch_t, et


def test_streaming_ab_monitor_state_survives_restart(spark, tmp_path):
    """A/B monitor sufficient-sum state across a checkpointed
    stop/restart: deliver half the events, stop, deliver the rest —
    phase-2 events must fold into phase-1's restored per-type sums, and
    the final t statistics equal the batch op bit-for-bit."""
    import pyspark.sql.functions as F

    from mutable_spark import registry
    from mutable_spark.catalog import load_tables
    from mutable_spark.streaming.events import ab_monitor

    registry.load_all()
    ev = load_tables(spark, SF_DIR).events.select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    lo, hi = ev.selectExpr("min(ts) l", "max(ts) m").collect()[0]
    split = lo + (hi - lo) / 2

    src = tmp_path / "in"
    sink = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def deliver(df, name):
        df.coalesce(1).write.parquet(str(tmp_path / name))
        for i, f in enumerate(sorted((tmp_path / name).glob("*.parquet"))):
            f.rename(src / f"{name}_{i}.parquet")

    def run_once():
        stream = spark.readStream.schema(ev.schema).parquet(str(src))
        q = (
            ab_monitor(stream)
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(str(sink))
            )
            .option("checkpointLocation", str(ckpt))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    deliver(ev.filter(F.col("ts") < F.lit(split)), "phase1")
    run_once()
    deliver(ev.filter(F.col("ts") >= F.lit(split)), "phase2")
    run_once()

    out = spark.read.parquet(str(sink))
    final = {}
    for r in out.collect():
        if r.event_type not in final or (r.n_a + r.n_b) >= (
            final[r.event_type].n_a + final[r.event_type].n_b
        ):
            final[r.event_type] = r
    want = {
        r.event_type: r
        for r in registry.QUERIES["events_ab_test"](spark, SF_DIR).collect()
    }
    assert set(final) == set(want)
    for et, w in want.items():
        g = final[et]
        assert (g.n_a, g.n_b) == (w.n_a, w.n_b), et
        assert g.mean_diff == w.mean_diff, et
        assert g.welch_t == w.welch_t, et


def test_streaming_cusum_untrained_type_emits_null_not_crash(spark):
    """An event type arriving in the stream that was ABSENT from the
    batch-trained means must not kill the query (ADVICE r10: the
    KeyError inside applyInPandasWithState was fatal): it emits a
    null-CUSUM placeholder row while trained types keep scoring."""
    import pyspark.sql.functions as F

    from mutable_spark.catalog import load_tables
    from mutable_spark.streaming.events import (
        cusum_monitor,
        run_available_now,
        stream_events,
    )

    e = load_tables(spark, SF_DIR).events
    all_means = {
        r["event_type"]: r["m"]
        for r in e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("event_type")
        .agg(F.expr("(sum(cnt) * 1000) div count(*)").alias("m"))
        .collect()
    }
    dropped = sorted(all_means)[0]
    means = {k: v for k, v in all_means.items() if k != dropped}
    rows = run_available_now(
        cusum_monitor(stream_events(spark, SF_DIR), means),
        "t_cusum_untrained",
        mode="update",
    )
    by_type = {}
    for r in rows:
        if (
            r.event_type not in by_type
            or r.n_buckets >= by_type[r.event_type].n_buckets
        ):
            by_type[r.event_type] = r
    # the untrained type surfaced (query survived) with null scores...
    assert dropped in by_type
    assert by_type[dropped].peak_cusum_q is None
    assert by_type[dropped].n_buckets > 0  # state still accumulates
    # ...and at least one trained type still scored normally
    trained = [t for t in by_type if t != dropped]
    assert trained and all(
        by_type[t].peak_cusum_q is not None for t in trained
    )


def test_streaming_cusum_state_survives_restart(spark, tmp_path):
    """CUSUM monitor state across a checkpointed stop/restart: deliver the
    first half of the timeline, stop, deliver the rest. The split lands
    mid-hour, so phase-2 events must MERGE into phase-1's partial hour
    buckets from the restored state store — final peaks equal the batch
    op exactly."""
    import pyspark.sql.functions as F

    from mutable_spark.catalog import load_tables
    from mutable_spark.streaming.events import cusum_monitor

    ev = load_tables(spark, SF_DIR).events.select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    means = {
        r["event_type"]: r["m"]
        for r in ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("event_type")
        .agg(F.expr("(sum(cnt) * 1000) div count(*)").alias("m"))
        .collect()
    }
    lo, hi = ev.selectExpr("min(ts) l", "max(ts) m").collect()[0]
    # nudge the split off the hour boundary so a bucket genuinely straddles
    split = lo + (hi - lo) / 2

    src = tmp_path / "in"
    sink = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def deliver(df, name):
        df.coalesce(1).write.parquet(str(tmp_path / name))
        for i, f in enumerate(sorted((tmp_path / name).glob("*.parquet"))):
            f.rename(src / f"{name}_{i}.parquet")

    def run_once():
        stream = spark.readStream.schema(ev.schema).parquet(str(src))
        q = (
            cusum_monitor(stream, means)
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(str(sink))
            )
            .option("checkpointLocation", str(ckpt))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    deliver(ev.filter(F.col("ts") < F.lit(split)), "phase1")
    run_once()
    deliver(ev.filter(F.col("ts") >= F.lit(split)), "phase2")
    run_once()

    import pyspark.sql.types as T

    out = spark.read.schema(
        T.StructType([
            T.StructField("event_type", T.StringType()),
            T.StructField("n_buckets", T.LongType()),
            T.StructField("peak_cusum_q", T.LongType()),
            T.StructField("peak_hour_us", T.LongType()),
        ])
    ).parquet(str(sink))
    last = {}
    for r in out.collect():
        if r.event_type not in last or r.n_buckets >= last[r.event_type].n_buckets:
            last[r.event_type] = r
    want = {
        r.event_type: r
        for r in registry.QUERIES["events_changepoint_cusum"](
            spark, SF_DIR
        ).collect()
    }
    import calendar

    assert set(last) == set(want)
    for et, w in want.items():
        g = last[et]
        assert (g.n_buckets, g.peak_cusum_q) == (w.n_buckets, w.peak_cusum_q), et
        assert g.peak_hour_us == calendar.timegm(w.peak_hour.timetuple()) * 1_000_000


def test_streaming_upsert_equals_batch_merge(spark, tmp_path):
    """CDC upsert at ingest == batch MERGE: deliver the base snapshot
    (seq 0), checkpoint-stop, deliver the delta (seq 1), and the state
    store's final per-key rows must equal op_merge_upsert's arbitration
    (update rows take the delta price, keeps stay, inserts appear)."""
    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    from mutable_spark.catalog import load_tables
    from mutable_spark.streaming.cdc import upsert_stream

    o = load_tables(spark, SF_DIR).orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )
    base = o.withColumn("seq", F.lit(0).cast("long"))
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    delta = (
        o.filter(F.col("k") % 10 == 0)
        .select(
            "k",
            (dec("price") + F.lit(1.00).cast("decimal(18,2)"))
            .cast("double")
            .alias("price"),
        )
        .unionAll(
            o.filter(F.col("k") % 100 == 0).select(
                (F.col("k") + 1000000000).alias("k"),
                F.lit(99.99).cast("decimal(18,2)").cast("double").alias("price"),
            )
        )
        .withColumn("seq", F.lit(1).cast("long"))
    )

    src = tmp_path / "in"
    sink = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def deliver(df, name):
        df.coalesce(1).write.parquet(str(tmp_path / name))
        for i, f in enumerate(sorted((tmp_path / name).glob("*.parquet"))):
            f.rename(src / f"{name}_{i}.parquet")

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("seq", T.LongType()),
    ])

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            upsert_stream(stream)
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(str(sink))
            )
            .option("checkpointLocation", str(ckpt))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    deliver(base, "phase1")
    run_once()
    deliver(delta, "phase2")
    run_once()

    out = spark.read.schema(schema).parquet(str(sink))
    got = {}
    for r in out.collect():
        if r.k not in got or r.seq >= got[r.k][0]:
            got[r.k] = (r.seq, r.price)
    got_prices = {k: p for k, (s, p) in got.items()}

    # expected: the batch MERGE arbitration, reconstructed directly
    merged = o.join(
        delta.select(F.col("k").alias("dk"), F.col("price").alias("dp")),
        o.k == F.col("dk"),
        "full_outer",
    ).select(
        F.coalesce(o.k, F.col("dk")).alias("k"),
        F.coalesce(F.col("dp"), F.col("price")).alias("price"),
    )
    want = {r.k: r.price for r in merged.collect()}
    assert got_prices == want


def test_streaming_funnel_steps_out_of_order_restart(spark, tmp_path):
    """events_funnel_steps' streaming twin (r12): the per-user earliest
    chain is a pure SET function, so the stream must reproduce the batch
    chain even when the timeline arrives BACKWARDS across a checkpointed
    restart — phase 1 delivers the LATE half of each user's events,
    phase 2 the early half (late-arriving earlier views legitimately
    move t1 and re-open t2/t3). Final per-user rows are checked against
    an independent pandas recomputation, and the derived step totals
    against the registered batch op."""
    import pandas as pd
    import pyspark.sql.functions as F

    from mutable_spark.catalog import load_tables
    from mutable_spark.operators.events import _FUNNEL_STEP_GAP_US
    from mutable_spark.streaming.events import funnel_steps_user_chain

    ev = load_tables(spark, SF_DIR).events.select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
    )
    lo, hi = ev.selectExpr("min(ts) l", "max(ts) m").collect()[0]
    split = lo + (hi - lo) / 2

    src = tmp_path / "in"
    sink = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def deliver(df, name):
        df.coalesce(1).write.parquet(str(tmp_path / name))
        for i, f in enumerate(sorted((tmp_path / name).glob("*.parquet"))):
            f.rename(src / f"{name}_{i}.parquet")

    def run_once():
        stream = spark.readStream.schema(ev.schema).parquet(str(src))
        q = (
            funnel_steps_user_chain(stream)
            .writeStream.foreachBatch(
                lambda df, bid: df.withColumn("bid", F.lit(bid))
                .write.mode("append")
                .parquet(str(sink))
            )
            .option("checkpointLocation", str(ckpt))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # OUT OF ORDER: the late half first
    deliver(ev.filter(F.col("ts") >= F.lit(split)), "phase1")
    run_once()
    deliver(ev.filter(F.col("ts") < F.lit(split)), "phase2")
    run_once()

    out = spark.read.parquet(str(sink)).toPandas()
    final = (
        out.sort_values("bid").groupby("user_id").last()[["t1", "t2", "t3"]]
    )

    # independent expectation: pure-pandas earliest chain per user
    pdf = ev.toPandas()
    pdf["tsm"] = pdf["ts"].astype("int64") // 1000
    expect = {}
    for uid, g in pdf.groupby("user_id"):
        views = g.loc[g.event_type == "view", "tsm"]
        t1 = int(views.min()) if len(views) else None
        t2 = t3 = None
        if t1 is not None:
            c = g.loc[
                (g.event_type == "click")
                & (g.tsm > t1)
                & (g.tsm <= t1 + _FUNNEL_STEP_GAP_US),
                "tsm",
            ]
            t2 = int(c.min()) if len(c) else None
        if t2 is not None:
            p = g.loc[
                (g.event_type == "purchase")
                & (g.tsm > t2)
                & (g.tsm <= t2 + _FUNNEL_STEP_GAP_US),
                "tsm",
            ]
            t3 = int(p.min()) if len(p) else None
        expect[uid] = (t1, t2, t3)

    assert set(final.index) == set(expect)
    for uid, (t1, t2, t3) in expect.items():
        got = final.loc[uid]
        gv = tuple(None if pd.isna(x) else int(x) for x in got)
        assert gv == (t1, t2, t3), (uid, gv, (t1, t2, t3))

    # derived step totals == the registered batch op
    want = {
        r.step: r.n_users
        for r in registry.QUERIES["events_funnel_steps"](spark, SF_DIR).collect()
    }
    got_totals = {
        1: int(final["t1"].notna().sum()),
        2: int(final["t2"].notna().sum()),
        3: int(final["t3"].notna().sum()),
    }
    assert got_totals == want


def test_stream_plus_compaction_equals_batch_embedding_classes(spark, tmp_path):
    """The lambda split applied to the embedding multiprobe tier (r13,
    VERDICT r12 item #6): embeddings arrive in TWO deliveries through a
    real append-mode parquet ingest stream (exactly-once checkpointing);
    a compaction run after each delivery extends the all-time vector
    store incrementally, RE-TRAINS the √(store size) coarse quantizer
    over the FULL store (r14: the compaction refresh IS the production
    re-train, so the stream operating point follows the batch rule at
    every store size), and re-emits semantic-duplicate classes. Final
    classes equal the batch (retrained_multiprobe_pairs ->
    connected_components) answer — sim_semantic_dedup's production
    composition — on the same corpus; the second compaction stores only
    the second delivery's vectors (incrementality); and at least one
    class straddles the delivery boundary, proving a per-microbatch
    pass would both miss pairs AND assign against drifting centroids."""
    import pyspark.sql.functions as F

    from mutable_spark.catalog import load_tables
    from mutable_spark.operators.dedup import (
        connected_components,
        retrained_multiprobe_pairs,
    )
    from mutable_spark.streaming.compaction import (
        compact_embedding_classes,
        extend_vector_store,
    )

    e = load_tables(spark, SF_DIR).embeddings

    src = tmp_path / "in"
    staged = tmp_path / "staged"
    ckpt = tmp_path / "ckpt"
    store = tmp_path / "store"
    src.mkdir()

    def deliver(df, name):
        df.coalesce(1).write.parquet(str(tmp_path / name))
        for i, f in enumerate(sorted((tmp_path / name).glob("*.parquet"))):
            f.rename(src / f"{name}_{i}.parquet")

    def run_once():
        stream = spark.readStream.schema(e.schema).parquet(str(src))
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(staged))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # modulo split: near-dup pairs between even and odd vec_ids exist by
    # construction of the clustered corpus, so classes MUST straddle
    deliver(e.filter(F.col("vec_id") % 2 == 0), "phase1")
    run_once()
    compact_embedding_classes(spark, str(staged), str(store)).collect()

    deliver(e.filter(F.col("vec_id") % 2 == 1), "phase2")
    run_once()
    # incrementality: the second compaction stores ONLY the new delivery
    n_new = extend_vector_store(spark, str(staged), str(store))
    assert n_new == e.filter(F.col("vec_id") % 2 == 1).count() and n_new > 0
    got = compact_embedding_classes(spark, str(staged), str(store)).collect()

    # the store holds every vector exactly once (no re-store, no loss)
    vecs = spark.read.parquet(str(store / "vectors"))
    assert vecs.count() == e.count()
    assert vecs.select("vec_id").distinct().count() == e.count()

    pairs = (
        retrained_multiprobe_pairs(e)
        .select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
        .localCheckpoint(True)
    )
    want = connected_components(pairs).collect()
    assert _rows(got) == _rows(want)
    assert len(want) > 0
    straddles = [
        r for r in got if r["class_rep"] % 2 != r["doc_id"] % 2
    ]
    assert straddles, "no semantic class crossed the delivery boundary"

    # r15: the compaction maintained the trained-label store beside the
    # vectors — one version directory per store size, and the final
    # labels equal the batch re-train bit-for-bit
    from mutable_spark.operators import dedup

    versions = sorted((store / "labels").iterdir(), key=lambda p: p.stat().st_mtime_ns)
    assert len(versions) == 2
    lab_dir = versions[-1]
    assert any(f.name.startswith("part-") for f in lab_dir.iterdir())
    stored = sorted(
        map(tuple, spark.read.parquet(str(lab_dir)).collect())
    )
    batch_lab = sorted(
        map(
            tuple,
            dedup.retrained_cells(
                e, dedup._sqrt_cells(e.count()), dedup._RETRAIN_ROUNDS
            ).collect(),
        )
    )
    assert stored == batch_lab


def test_embedding_compaction_rerun_reads_label_store(
    spark, tmp_path, monkeypatch
):
    """r15: a same-size compaction re-run (crash replay / idempotent
    re-delivery) must READ the maintained label store instead of
    re-entering the Lloyd chain — pinned by poisoning
    `retrained_cells` after the first compaction; the re-run must still
    emit the identical classes."""
    from mutable_spark.catalog import load_tables
    from mutable_spark.operators import dedup
    from mutable_spark.streaming.compaction import compact_embedding_classes

    e = load_tables(spark, SF_DIR).embeddings
    staged = tmp_path / "staged"
    store = tmp_path / "store"
    e.coalesce(1).write.parquet(str(staged))

    first = compact_embedding_classes(spark, str(staged), str(store)).collect()

    def boom(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("label store hit expected: re-training is the bug")

    monkeypatch.setattr(dedup, "retrained_cells", boom)
    again = compact_embedding_classes(spark, str(staged), str(store)).collect()
    assert _rows(again) == _rows(first)


def test_extend_vector_store_idempotent_without_success_marker(
    spark, tmp_path
):
    """ADVICE r13: the vector store's idempotency gate must not key on
    the `_SUCCESS` marker — a partially committed append (simulated
    here by deleting the marker) must STILL be diffed against, or the
    rerun re-appends the full staged set and permanently duplicates
    vectors, silently skewing every later compaction's centroid means."""
    from mutable_spark.catalog import load_tables
    from mutable_spark.streaming.compaction import extend_vector_store

    e = load_tables(spark, SF_DIR).embeddings
    staged = tmp_path / "staged"
    store = tmp_path / "store"
    e.coalesce(1).write.parquet(str(staged))

    n1 = extend_vector_store(spark, str(staged), str(store))
    assert n1 == e.count()
    # simulate the crash/partial commit: part files present, marker gone
    marker = store / "vectors" / "_SUCCESS"
    assert marker.exists()
    marker.unlink()
    n2 = extend_vector_store(spark, str(staged), str(store))
    assert n2 == 0
    vecs = spark.read.parquet(str(store / "vectors"))
    assert vecs.count() == e.count()
    assert vecs.select("vec_id").distinct().count() == e.count()


def test_streaming_preference_pairs_two_phase_equals_batch(spark, tmp_path):
    """The preference-pair monitor settles to the batch answer across a
    TWO-phase delivery against one checkpoint (state survives the
    restart; extremes discovered in different phases combine): the last
    emission per (source, lang), filtered on the op's own `qualifies`
    gate, equals pipeline_preference_pairs' row set exactly — ids,
    IEEE scores, margin, and group sizes."""
    import pyspark.sql.functions as F

    from mutable_spark.catalog import load_tables
    from mutable_spark.streaming.documents import preference_pair_state

    d = load_tables(spark, SF_DIR).documents

    src = tmp_path / "in"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def deliver(df, name):
        df.coalesce(1).write.parquet(str(tmp_path / name))
        for i, f in enumerate(sorted((tmp_path / name).glob("*.parquet"))):
            f.rename(src / f"{name}_{i}.parquet")

    sink = tmp_path / "out"

    def run_once():
        stream = spark.readStream.schema(d.schema).parquet(str(src))
        q = (
            preference_pair_state(stream)
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(str(sink))
            )
            .option("checkpointLocation", str(ckpt))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # modulo split: both phases hit most groups, so extremes straddle
    deliver(d.filter(F.col("doc_id") % 2 == 0), "phase1")
    run_once()
    deliver(d.filter(F.col("doc_id") % 2 == 1), "phase2")
    run_once()

    # n_docs strictly grows per emission, so the settled pair per group
    # is its max-n_docs row (parquet sink keeps no emission order)
    by_group: dict = {}
    for r in spark.read.parquet(str(sink)).collect():
        k = (r.source, r.lang)
        if k not in by_group or r.n_docs > by_group[k].n_docs:
            by_group[k] = r
    got = _rows(
        (
            r.source, r.lang, r.chosen_id, r.rejected_id,
            r.chosen_q, r.rejected_q, r.margin, r.n_docs,
        )
        for r in by_group.values()
        if r.qualifies == 1
    )
    want = _rows(
        tuple(r)
        for r in registry.QUERIES["pipeline_preference_pairs"](
            spark, SF_DIR
        ).collect()
    )
    assert got == want and len(want) > 0


def test_streaming_preference_topm_two_phase_equals_batch(spark, tmp_path):
    """The r14 top-m monitor settles to the batch answer across a
    TWO-phase delivery against one checkpoint: the last emission per
    (source, lang) — all m x m rows share the group's n_docs — filtered
    on the op's own `qualifies` gate, equals pipeline_preference_topm's
    row set exactly, including both rank columns (state keeps the
    bounded top-m/bottom-m lists under the batch tiebreaks)."""
    import pyspark.sql.functions as F

    from mutable_spark.catalog import load_tables
    from mutable_spark.streaming.documents import preference_topm_state

    d = load_tables(spark, SF_DIR).documents

    src = tmp_path / "in"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def deliver(df, name):
        df.coalesce(1).write.parquet(str(tmp_path / name))
        for i, f in enumerate(sorted((tmp_path / name).glob("*.parquet"))):
            f.rename(src / f"{name}_{i}.parquet")

    sink = tmp_path / "out"

    def run_once():
        stream = spark.readStream.schema(d.schema).parquet(str(src))
        q = (
            preference_topm_state(stream)
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(str(sink))
            )
            .option("checkpointLocation", str(ckpt))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    deliver(d.filter(F.col("doc_id") % 2 == 0), "phase1")
    run_once()
    deliver(d.filter(F.col("doc_id") % 2 == 1), "phase2")
    run_once()

    # settled emission per group = its max-n_docs rows
    max_n: dict = {}
    for r in spark.read.parquet(str(sink)).collect():
        k = (r.source, r.lang)
        max_n[k] = max(max_n.get(k, 0), r.n_docs)
    got = _rows(
        (
            r.source, r.lang, r.chosen_id, r.rejected_id,
            r.chosen_q, r.rejected_q, r.margin,
            r.chosen_rank, r.rejected_rank, r.n_docs,
        )
        for r in spark.read.parquet(str(sink)).collect()
        if r.qualifies == 1 and r.n_docs == max_n[(r.source, r.lang)]
    )
    want = _rows(
        tuple(r)
        for r in registry.QUERIES["pipeline_preference_topm"](
            spark, SF_DIR
        ).collect()
    )
    assert got == want and len(want) > 0


def test_span_compaction_two_deliveries_equals_batch(spark, tmp_path):
    """r14 duplicated-span twin: two availableNow deliveries stage the
    clean corpus; each compaction extends the all-time POSITIONAL GRAM
    store incrementally and re-runs the shared global span pass
    (`spans_from_grams` — verbatim the batch op's composition). Final
    spans equal `duplicate_span_frame` on the same staged corpus; the
    second compaction grams only the second delivery's docs
    (incrementality); a marker-less partial-commit rerun appends
    NOTHING (duplicate gram rows would self-satisfy the >=2 duplication
    count — the advice-hardened read-detect gate); and at least one
    phase-1 document's span set CHANGED after phase 2 landed, proving a
    per-microbatch span pass misses cross-boundary duplication."""
    import pyspark.sql.functions as F

    from mutable_spark.catalog import load_tables
    from mutable_spark.operators.dedup import duplicate_span_frame
    from mutable_spark.operators.pipeline import _EVAL_MOD
    from mutable_spark.streaming.compaction import (
        compact_duplicate_spans,
        extend_gram_store,
        stage_clean_stream,
    )
    from mutable_spark.streaming.documents import _digest

    d = load_tables(spark, SF_DIR).documents
    evalset = (
        d.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select(_digest().alias("eval_md5"))
        .distinct()
    )

    src = tmp_path / "in"
    staged = tmp_path / "staged"
    ckpt = tmp_path / "ckpt"
    store = tmp_path / "store"
    src.mkdir()

    def deliver(df, name):
        df.coalesce(1).write.parquet(str(tmp_path / name))
        for i, f in enumerate(sorted((tmp_path / name).glob("*.parquet"))):
            f.rename(src / f"{name}_{i}.parquet")

    def run_once():
        stream = spark.readStream.schema(d.schema).parquet(str(src))
        q = (
            stage_clean_stream(stream, evalset)
            .writeStream.format("parquet")
            .option("path", str(staged))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    split = d.approxQuantile("doc_id", [0.5], 0.0)[0]
    deliver(d.filter(F.col("doc_id") <= split), "phase1")
    run_once()
    phase1_spans = _rows(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in compact_duplicate_spans(
            spark, str(staged), str(store)
        ).collect()
    )

    deliver(d.filter(F.col("doc_id") > split), "phase2")
    run_once()
    # incrementality: the second compaction grams ONLY the new delivery
    clean = stage_clean_stream(d, evalset)
    n_new = extend_gram_store(spark, str(staged), str(store))
    # newly PROCESSED docs == the delivery size (sub-k-token docs are
    # manifested, not skipped — r15 zero-output contract)
    n_phase2 = clean.filter(F.col("doc_id") > split).count()
    assert n_new == n_phase2 and n_new > 0
    got = compact_duplicate_spans(spark, str(staged), str(store)).collect()
    want = duplicate_span_frame(clean).collect()
    assert _rows(got) == _rows(want)
    assert len(want) > 0

    # partial-commit rerun: even with the marker gone, the read-detect
    # gate re-diffs and appends nothing (store row count unchanged)
    grams = spark.read.parquet(str(store / "grams"))
    n_rows_before = grams.count()
    marker = store / "grams" / "_SUCCESS"
    if marker.exists():
        marker.unlink()
    assert extend_gram_store(spark, str(staged), str(store)) == 0
    assert spark.read.parquet(str(store / "grams")).count() == n_rows_before

    # cross-boundary necessity: some phase-1 doc's spans changed once
    # phase 2 landed (a new delivery duplicated an old document's text)
    final_phase1 = _rows(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in got
        if r["doc_id"] <= split
    )
    assert final_phase1 != phase1_spans, (
        "no phase-1 span changed after phase 2 - the twin's global "
        "re-run would be unnecessary on this corpus"
    )


def test_bpe_compaction_two_deliveries_equals_batch(spark, tmp_path):
    """r14 BPE-trainer twin: two availableNow deliveries stage the clean
    corpus; each compaction extends the per-document WORD-COUNT store
    incrementally (tokenize->count once per doc ever) and learns the
    merge table with the batch trainer's literal loop over the
    re-aggregated vocabulary. Final rules equal `_bpe_merge_rounds` on
    the same staged corpus; the second compaction counts only the
    second delivery's docs (incrementality); a marker-less
    partial-commit rerun appends NOTHING (duplicate count rows would
    double-count frequency into every argmax); and the phase-1 rule
    table differs from the final one (per-microbatch training would
    have shipped it)."""
    import pyspark.sql.functions as F

    from mutable_spark.catalog import load_tables
    from mutable_spark.operators.pipeline import _EVAL_MOD
    from mutable_spark.operators.text import _bpe_merge_rounds
    from mutable_spark.streaming.compaction import (
        compact_bpe_rules,
        extend_wordcount_store,
        stage_clean_stream,
    )
    from mutable_spark.streaming.documents import _digest

    d = load_tables(spark, SF_DIR).documents
    evalset = (
        d.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select(_digest().alias("eval_md5"))
        .distinct()
    )

    src = tmp_path / "in"
    staged = tmp_path / "staged"
    ckpt = tmp_path / "ckpt"
    store = tmp_path / "store"
    src.mkdir()

    def deliver(df, name):
        df.coalesce(1).write.parquet(str(tmp_path / name))
        for i, f in enumerate(sorted((tmp_path / name).glob("*.parquet"))):
            f.rename(src / f"{name}_{i}.parquet")

    def run_once():
        stream = spark.readStream.schema(d.schema).parquet(str(src))
        q = (
            stage_clean_stream(stream, evalset)
            .writeStream.format("parquet")
            .option("path", str(staged))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    split = d.approxQuantile("doc_id", [0.5], 0.0)[0]
    deliver(d.filter(F.col("doc_id") <= split), "phase1")
    run_once()
    phase1_rules = [
        (r.round, r.sym_a, r.sym_b, r.pair_count)
        for r in compact_bpe_rules(spark, str(staged), str(store)).collect()
    ]

    deliver(d.filter(F.col("doc_id") > split), "phase2")
    run_once()
    clean = stage_clean_stream(d, evalset)
    n_new = extend_wordcount_store(spark, str(staged), str(store))
    n_phase2 = clean.filter(F.col("doc_id") > split).count()
    assert n_new == n_phase2 and n_new > 0
    got = [
        (r.round, r.sym_a, r.sym_b, r.pair_count)
        for r in compact_bpe_rules(spark, str(staged), str(store)).collect()
    ]
    want, _ = _bpe_merge_rounds(clean)
    assert got == [tuple(t) for t in want]
    assert len(got) > 0

    # partial-commit rerun: marker gone, read-detect gate still re-diffs
    wc = spark.read.parquet(str(store / "wordcounts"))
    n_rows_before = wc.count()
    marker = store / "wordcounts" / "_SUCCESS"
    if marker.exists():
        marker.unlink()
    assert extend_wordcount_store(spark, str(staged), str(store)) == 0
    assert (
        spark.read.parquet(str(store / "wordcounts")).count() == n_rows_before
    )

    # per-microbatch training would have shipped the phase-1 table
    assert phase1_rules != got


def test_store_gate_raises_on_corrupt_store(spark, tmp_path):
    """r15 (ADVICE r14): an unreadable NON-empty store must abort the
    compaction instead of being treated as 'store empty' — that would
    skip the anti-join dedup and re-append the full staged set,
    permanently duplicating store rows (double-counted BPE frequency
    here; centroid skew / self-satisfied span counts in the twins)."""
    import pytest as _pytest

    from mutable_spark.streaming.compaction import (
        _wordcount_dir,
        extend_wordcount_store,
    )

    staged = tmp_path / "staged"
    spark.createDataFrame(
        [(1, "s", "hello world"), (2, "s", "foo bar")],
        "doc_id long, source string, text string",
    ).write.parquet(str(staged))
    wc = _wordcount_dir(str(tmp_path / "store"))
    wc.mkdir(parents=True)
    (wc / "part-00000-corrupt.parquet").write_bytes(b"this is not parquet")
    with _pytest.raises(Exception):
        extend_wordcount_store(spark, str(staged), str(tmp_path / "store"))
    # nothing was appended beside the corrupt file
    assert sorted(f.name for f in wc.iterdir()) == [
        "part-00000-corrupt.parquet"
    ]


def test_zero_output_docs_processed_once(spark, tmp_path):
    """r15 (ADVICE r14): documents that emit ZERO store rows (fewer
    tokens than the shingle/gram width, empty text) are recorded in the
    zero-output manifest — they count as processed on first sight and
    are never re-read by later compactions (previously they were
    re-tokenized on every compaction forever)."""
    from mutable_spark.streaming.compaction import (
        extend_gram_store,
        extend_signature_store,
        extend_wordcount_store,
    )

    staged = tmp_path / "staged"
    spark.createDataFrame(
        [
            (1, "s", ""),  # empty text: zero rows in every store
            (2, "s", "only two"),  # sub-3-token: no shingle, no k-gram
            (3, "s", ("tok" + " word abc def" * 10)),  # emits rows
        ],
        "doc_id long, source string, text string",
    ).write.parquet(str(staged))
    for ext, sub in [
        (extend_signature_store, "signatures"),
        (extend_gram_store, "grams"),
        (extend_wordcount_store, "wordcounts"),
    ]:
        store = tmp_path / f"store_{sub}"
        assert ext(spark, str(staged), str(store)) == 3, sub
        assert ext(spark, str(staged), str(store)) == 0, sub


def test_stream_plus_compaction_equals_batch_dsir_selection(spark, tmp_path):
    """The lambda split applied to the DSIR tier (r15): documents arrive
    in TWO deliveries through a real append-mode parquet ingest stream;
    a compaction run after each delivery extends the all-time token
    store incrementally and re-scores EVERY raw-pool document over
    all-time tokens (`_dsir_selection_frame` shared verbatim with the
    batch op). Final selection equals `pipeline_dsir_select` on the
    same corpus row-for-row; the second compaction tokenizes only the
    second delivery's documents (incrementality); and at least one
    document's SCORE changed between the two compactions — bucket
    weights are corpus-global, so a per-microbatch pass would freeze
    phase-1 weights and mis-score every earlier document."""
    import pyspark.sql.functions as F

    from mutable_spark import registry
    from mutable_spark.catalog import load_tables
    from mutable_spark.streaming.compaction import (
        _dsir_token_dir,
        compact_dsir_selection,
        extend_dsir_token_store,
    )

    registry.load_all()
    d = load_tables(spark, SF_DIR).documents

    src = tmp_path / "in"
    staged = tmp_path / "staged"
    ckpt = tmp_path / "ckpt"
    store = tmp_path / "store"
    src.mkdir()

    def deliver(df, name):
        df.coalesce(1).write.parquet(str(tmp_path / name))
        for i, f in enumerate(sorted((tmp_path / name).glob("*.parquet"))):
            f.rename(src / f"{name}_{i}.parquet")

    def run_once():
        stream = spark.readStream.schema(d.schema).parquet(str(src))
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(staged))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # modulo split: both deliveries carry target (doc_id % 25 == 0) AND
    # pool documents, so phase-1 weights are estimated on half the
    # corpus and must shift when phase 2 lands
    deliver(d.filter(F.col("doc_id") % 2 == 0), "phase1")
    run_once()
    c1 = {
        r.doc_id: r.score
        for r in compact_dsir_selection(
            spark, str(staged), str(store)
        ).collect()
    }

    deliver(d.filter(F.col("doc_id") % 2 == 1), "phase2")
    run_once()
    n_new = extend_dsir_token_store(spark, str(staged), str(store))
    assert n_new == d.filter(F.col("doc_id") % 2 == 1).count() and n_new > 0
    got = compact_dsir_selection(spark, str(staged), str(store)).collect()

    want = registry.QUERIES["pipeline_dsir_select"](spark, SF_DIR).collect()
    assert _rows(got) == _rows(want)
    assert len(want) > 0

    # corpus-globality: some phase-1 document's score moved when the
    # second delivery shifted the global bucket weights
    final = {r.doc_id: r.score for r in got}
    assert any(final[i] != s for i, s in c1.items() if i in final)

    # the token store holds each document exactly once (read-detect
    # idempotency: a marker-less partial commit must still be diffed)
    marker = _dsir_token_dir(str(store)) / "_SUCCESS"
    assert marker.exists()
    marker.unlink()
    assert extend_dsir_token_store(spark, str(staged), str(store)) == 0
    tok = spark.read.parquet(str(_dsir_token_dir(str(store))))
    assert tok.select("doc_id").distinct().count() == d.count()


def test_stream_plus_compaction_equals_batch_unimax_alloc(spark, tmp_path):
    """The lambda split applied to the UniMax mix (r15): documents
    arrive in TWO deliveries through a real checkpointed parquet ingest
    stream; a compaction after each delivery extends the per-document
    count store incrementally and re-runs the waterfill over all-time
    per-language totals (`_unimax_alloc_frame` shared verbatim with the
    batch op). Final allocation equals `pipeline_mix_unimax` on the
    same corpus row-for-row; the second compaction counts only the
    second delivery's documents; and the phase-1 allocation DIFFERS
    from the final one (the budget doubles with the corpus — the
    per-microbatch impossibility argument, asserted); a marker-less
    partial commit still diffs to zero re-appends."""
    import pyspark.sql.functions as F

    from mutable_spark import registry
    from mutable_spark.catalog import load_tables
    from mutable_spark.streaming.compaction import (
        _langcount_dir,
        compact_unimax_alloc,
        extend_langcount_store,
    )

    registry.load_all()
    d = load_tables(spark, SF_DIR).documents

    src = tmp_path / "in"
    staged = tmp_path / "staged"
    ckpt = tmp_path / "ckpt"
    store = tmp_path / "store"
    src.mkdir()

    def deliver(df, name):
        df.coalesce(1).write.parquet(str(tmp_path / name))
        for i, f in enumerate(sorted((tmp_path / name).glob("*.parquet"))):
            f.rename(src / f"{name}_{i}.parquet")

    def run_once():
        stream = spark.readStream.schema(d.schema).parquet(str(src))
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(staged))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    deliver(d.filter(F.col("doc_id") % 2 == 0), "phase1")
    run_once()
    c1 = {
        r.lang: r.alloc_tok
        for r in compact_unimax_alloc(spark, str(staged), str(store)).collect()
    }

    deliver(d.filter(F.col("doc_id") % 2 == 1), "phase2")
    run_once()
    n_new = extend_langcount_store(spark, str(staged), str(store))
    assert n_new == d.filter(F.col("doc_id") % 2 == 1).count() and n_new > 0
    got = compact_unimax_alloc(spark, str(staged), str(store)).collect()

    want = registry.QUERIES["pipeline_mix_unimax"](spark, SF_DIR).collect()
    assert _rows(got) == _rows(want)
    assert len(want) > 0
    final = {r.lang: r.alloc_tok for r in got}
    assert c1 != final

    marker = _langcount_dir(str(store)) / "_SUCCESS"
    assert marker.exists()
    marker.unlink()
    assert extend_langcount_store(spark, str(staged), str(store)) == 0
    cnt = spark.read.parquet(str(_langcount_dir(str(store))))
    assert cnt.count() == d.count()
    assert cnt.select("doc_id").distinct().count() == d.count()
