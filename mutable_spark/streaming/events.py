"""Structured Streaming twins of the batch event operators
(`mutable_spark.operators.events`).

The reference has no streaming at all (SURVEY §2.10: no sources beyond DSV
files) — this module is the beyond-parity path: the same event analytics
expressed incrementally with watermarks, so the identical logic serves both
the batch backfill and the live pipeline (the lambda-architecture collapse
Structured Streaming exists for).

At production scale the source would be Kafka/files-on-arrival; here the
source is the testdata parquet driven with `Trigger.AvailableNow`, which
processes all existing data incrementally and stops — semantically a
replay of the stream. Tests assert the streaming results equal the batch
twins' results exactly.
"""

from __future__ import annotations

from pathlib import Path

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from mutable_spark import staging
from mutable_spark.catalog import footer_schema
from mutable_spark.functions import dsum
from mutable_spark.session import apply_runtime_confs

def _events_raw_schema(ts_type: T.DataType) -> T.StructType:
    """Raw file schema for the streaming source; ``ts`` is LongType for
    TIMESTAMP(NANOS) files (read via ``nanosAsLong``) or TimestampNTZType
    for ordinary timestamp[us] files."""
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the same timestamp
    normalization as the batch catalog (`catalog.load_table`): a footer
    schema probe decides whether the file stores INT64 nanos (read as long,
    divide to µs) or a plain timestamp[us] (read as TIMESTAMP_NTZ
    directly). Streaming and batch must agree on this guard or every
    watermark/window is silently 1000x off."""
    apply_runtime_confs(spark)
    src = Path(sf_dir.rstrip("/")) / "events.parquet"
    stage = staging.linked("stream-events", src)
    # Probe the footer through the same helper the batch path uses, so the
    # two can never disagree on the raw dtype.
    schema = footer_schema(src) or spark.read.parquet(str(src)).schema
    is_nanos = isinstance(schema["ts"].dataType, T.LongType)
    ts_type = T.LongType() if is_nanos else T.TimestampNTZType()
    raw = spark.readStream.schema(_events_raw_schema(ts_type)).parquet(stage)
    # NOTE: watermarks require TIMESTAMP (an instant), not TIMESTAMP_NTZ —
    # with the session timezone pinned to UTC (RUNTIME_CONFS) the collected
    # wall-clock values are identical to the batch twin's NTZ values.
    if is_nanos:
        out = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        out = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    assert dict(out.dtypes)["ts"] == "timestamp", dict(out.dtypes)
    return out


def tumbling_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of `events_window_tumbling`: 1-hour tumbling windows
    per event type with a watermark bounding state for late data. In
    append mode a window finalizes once the watermark passes its end —
    that bound is what keeps state finite on an unbounded stream."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value").alias("sum_value"))
        .select(F.col("w.start").alias("bucket_start"), "event_type", "cnt", "sum_value")
    )


def sessionize(events: DataFrame, gap: str = "10 minutes", watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of `events_sessionize` using the native
    session_window (gap-based merging state store) instead of the batch
    lag/cumsum formulation — same sessions, incremental state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("session_start"))
        .select("user_id", "session_start", F.col("w.end").alias("window_end"), "n_events")
    )


def cooccurrence_pairs(events: DataFrame, gap: str = "10 minutes", watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of `events_cooccurrence`'s session tier: the native
    session_window merges each user's gap-bounded session, collect_set
    collapses it to its sorted distinct type set, and the pair expansion
    is the SAME in-row transform as the batch op
    (`operators.events.type_pair_structs`, shared verbatim). Structured
    Streaming allows one stateful aggregation per query and the global
    support count is not time-windowed, so the twin emits the finalized
    per-session pair rows and leaves the (type_a, type_b) rollup to the
    consumer — the identical lambda split as the fuzzy-dedup compaction
    tier; stream-emitted pairs == batch pairs is pinned in
    tests/test_streaming.py."""
    from mutable_spark.operators.events import type_pair_structs

    sess = (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.array_sort(F.collect_set("event_type")).alias("es"))
    )
    return sess.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.explode(type_pair_structs(F.col("es"))).alias("p"),
    ).select("user_id", "session_start", "p.type_a", "p.type_b")


def sliding_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of `events_window_sliding`: 1-hour hopping windows
    every 30 minutes — each event enters exactly two open windows; the
    watermark bounds how long both stay in the state store."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "sum_value")
    )


def json_extract_counts(events: DataFrame) -> DataFrame:
    """Streaming twin of `events_json_extract`: the regexp extraction is
    stateless (map-only), so only the global aggregate needs streaming
    state — no watermark required for a complete-mode aggregate."""
    k = F.nullif(
        F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1), F.lit("")
    ).cast("long")
    return (
        events.select("event_type", "value", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("value").alias("sum_value"),
            (F.sum("k").cast("double") / F.count("k")).alias("avg_k"),
        )
    )


def run_available_now(df: DataFrame, name: str, mode: str = "complete"):
    """Drive a streaming frame over all currently-available input and
    return the materialized rows (memory sink). `complete` mode emits
    every window regardless of watermark — right for a bounded replay;
    a live deployment would use `append` + checkpointLocation."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    spark = df.sparkSession
    return spark.sql(f"SELECT * FROM {name}").collect()


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running totals (event count, value sum) maintained in the state store
    across micro-batches — the escape hatch for operators Structured
    Streaming's built-ins can't express (the reference has no analog at
    all; its extension point is C++ operator registration,
    `include/mutable/catalog/Catalog.hpp:343-660`).

    State: (cnt long, total double). Each micro-batch emits one row per
    updated user with the post-update totals. GroupStateTimeout-based
    eviction would bound state on a live stream; omitted for the bounded
    replay."""
    import pandas as pd

    def update(key, pdfs, state):
        cnt, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            cnt += len(pdf)
            total += float(pdf["value"].sum())
        state.update((cnt, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [cnt], "total_value": [total]}
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="cnt long, total double",
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def funnel_user_totals(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``events_funnel``: per-user view→click
    conversion totals maintained incrementally.

    The batch form needs *future* events (each view's next click), which a
    stream cannot see — the standard streaming-funnel answer is per-key
    state: pending view timestamps wait in the state store until the
    user's next click arrives. Because the batch rule resolves every view
    at its FIRST following click (converted iff that click is within the
    hour, dead otherwise), each click settles the whole pending list —
    state never grows past one inter-click gap's worth of views (a real
    deployment adds a GroupStateTimeout to expire users who never click;
    omitted for the bounded replay).

    State: (views long, converted long, pending array of epoch-micros).
    Events inside each micro-batch are replayed in the batch twin's
    (ts, event_id) total order, so a single-replay run reproduces the
    batch totals exactly (asserted in tests)."""
    import pandas as pd

    def update(key, pdfs, state):
        views, converted, pending = (
            state.get if state.exists else (0, 0, [])
        )
        pending = list(pending)
        rows = []
        for pdf in pdfs:
            rows.append(pdf[["ts", "event_id", "event_type"]])
        if rows:
            allr = pd.concat(rows).sort_values(["ts", "event_id"])
            for ts, _eid, etype in allr.itertuples(index=False):
                t_us = int(pd.Timestamp(ts).value // 1000)
                if etype == "view":
                    pending.append(t_us)
                    views += 1
                elif etype == "click":
                    converted += sum(
                        1 for p in pending if t_us - p <= 3_600_000_000
                    )
                    pending = []
        state.update((views, converted, pending))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "views": [views],
                "converted_views": [converted],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, views long, converted_views long",
        stateStructType="views long, converted long, pending array<long>",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def retention_user_days(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``events_retention`` (cohort × day-offset
    returns), maintained incrementally per user.

    Retention is a TWO-LEVEL aggregation — per-user cohort minimum, then a
    per-(cohort, offset) count — and Structured Streaming forbids chained
    streaming aggregations, so this is the canonical case for the
    `applyInPandasWithState` escape hatch: per-user state holds the
    cohort day and the distinct active-day set, and each emission is the
    user's CURRENT (cohort_day, day_k) retention vector. Late events that
    move the cohort minimum re-base the whole vector from the stored day
    set, so the latest emission per user always equals the batch answer
    over the data seen so far; the final (cohort_day, day_k) count is the
    consumer's reduce over latest-per-user (exactly how the funnel twin's
    totals are consumed). A production deployment bounds the day set with
    a watermark — a cohort is immutable once the watermark passes it —
    and expires idle users via GroupStateTimeout; both are omitted for
    the bounded replay.

    State: (cohort epoch-day int, active epoch-day array). Output rows
    per update: one per retained day within the {0..7} window."""
    import pandas as pd

    from mutable_spark.operators.events import _RETENTION_DAYS

    def update(key, pdfs, state):
        days = set(state.get[1]) if state.exists else set()
        for pdf in pdfs:
            for ts in pdf["ts"]:
                days.add(int(pd.Timestamp(ts).normalize().value // 86_400_000_000_000))
        cohort = min(days)
        state.update((cohort, sorted(days)))
        ks = sorted(d - cohort for d in days if d - cohort <= _RETENTION_DAYS)
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(ks),
                "cohort_day": [pd.Timestamp(cohort * 86_400_000_000_000)] * len(ks),
                "day_k": ks,
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, cohort_day timestamp, day_k long",
        stateStructType="cohort long, active array<long>",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def windowed_topk_users(events: DataFrame, k: int = 3) -> DataFrame:
    """Streaming twin of ``events_windowed_topk``: the live per-hour
    leaderboard. Ranking inside a window is (like retention) a two-level
    streaming aggregation — per-(bucket, user) counts, then a per-bucket
    rank — so it runs through `applyInPandasWithState` keyed by the hour
    bucket: state holds the bucket's per-user counts (bounded by active
    users per hour), each update emits the bucket's CURRENT top-k with
    the batch twin's exact tie rule (count desc, user_id asc). The
    latest emission per bucket is the leaderboard; a live deployment
    expires finished buckets via watermark-driven GroupStateTimeout —
    omitted for the bounded replay."""
    import pandas as pd

    bucketed = events.select(
        F.date_trunc("hour", F.col("ts")).alias("bucket_start"), "user_id"
    )

    def update(key, pdfs, state):
        users = dict(zip(*state.get)) if state.exists else {}
        for pdf in pdfs:
            for u in pdf["user_id"]:
                users[int(u)] = users.get(int(u), 0) + 1
        state.update((list(users.keys()), list(users.values())))
        top = sorted(users.items(), key=lambda uv: (-uv[1], uv[0]))[:k]
        yield pd.DataFrame(
            {
                "bucket_start": [key[0]] * len(top),
                "user_id": [u for u, _ in top],
                "cnt": [c for _, c in top],
                "rnk": list(range(1, len(top) + 1)),
            }
        )

    return bucketed.groupBy("bucket_start").applyInPandasWithState(
        update,
        outputStructType="bucket_start timestamp, user_id long, cnt long, rnk long",
        stateStructType="users array<long>, counts array<long>",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def value_sketch_stream(events: DataFrame) -> DataFrame:
    """Streaming value-percentile sketches per event type — the ingest
    half of the percentile story: ``events_value_percentiles`` is the
    exact batch answer for bounded groups, ``op_approx_sketches`` its
    approximate batch sibling, and THIS runs the sketch incrementally so
    an SLO dashboard reads p50/p95/p99 continuously without buffering any
    group's full value list. State per group is the bounded
    percentile_approx buffer (the Greenwald-Khanna summary Spark
    serializes into the state store), merged across microbatches — so
    the accuracy contract, unlike the batch sketch's, is exercised
    through real multi-batch merges (pinned as a RANK bound — the
    guarantee GK actually makes — against the exact batch percentiles
    across a two-delivery replay in tests/test_streaming.py)."""
    return events.groupBy("event_type").agg(
        F.percentile_approx(
            "value", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)), 10_000
        ).alias("q"),
        F.count(F.lit(1)).alias("n"),
    )


def interarrival_user_stats(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``events_interarrival``: per-user
    inter-arrival cadence (gap count / max / sum in exact epoch-µs)
    maintained incrementally.

    A LAG over event time cannot run inside a streaming aggregation, and
    a new event can land BETWEEN two already-seen events — splitting one
    old gap into two — so the twin keeps the user's (ts, event_id) set in
    state and re-derives the gap aggregates on every update (the
    re-basing discipline of ``retention_user_days``: the latest emission
    per user always equals the batch answer over the data seen so far,
    whatever the arrival order). A production deployment bounds the
    buffer with a watermark — gaps entirely below the frontier are
    frozen into running aggregates and their timestamps dropped, keeping
    only (frozen stats, frontier-adjacent buffer) per user;
    GroupStateTimeout expires idle users. Both are omitted for the
    bounded replay.

    State: (ts_us array, eid array), parallel arrays in (ts, event_id)
    order. Output per update: one row with the user's current
    (n_events, n_gaps, max_gap_us, sum_gap_us) — the exact columns of
    the batch twin."""
    import pandas as pd

    def update(key, pdfs, state):
        pairs = (
            list(zip(state.get[0], state.get[1])) if state.exists else []
        )
        for pdf in pdfs:
            for ts, eid in zip(pdf["ts"], pdf["event_id"]):
                pairs.append((int(pd.Timestamp(ts).value // 1000), int(eid)))
        pairs.sort()
        state.update(([t for t, _ in pairs], [e for _, e in pairs]))
        gaps = [b[0] - a[0] for a, b in zip(pairs, pairs[1:])]
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [len(pairs)],
                "n_gaps": [len(gaps)],
                "max_gap_us": [max(gaps) if gaps else None],
                "sum_gap_us": [sum(gaps) if gaps else None],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, n_events long, n_gaps long,"
            " max_gap_us long, sum_gap_us long"
        ),
        stateStructType="ts_us array<long>, eid array<long>",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def attribution_stream(events: DataFrame) -> DataFrame:
    """Watermarked stream-stream interval join — the twin of the batch
    ``events_attribution`` (`operators/events.py`), and the one
    Structured Streaming capability the module had not yet exercised:
    joining two live streams with a time-range predicate so Spark can
    BOUND both join states. Clicks hold a 25-hour watermark (the 24-hour
    attribution lookback + the purchase side's 1-hour delay tolerance):
    once the click watermark passes, no future purchase can reach back to
    it and its state row is evicted — state is O(click rate × lookback),
    not O(history). The rank-1 "latest click wins" step chains a second
    stateful operator (a streaming aggregation keyed on the purchase and
    its event time) after the join; grouping on the watermarked ``pts``
    instant itself keeps exactly one event-time column, which is what
    makes the chained pair legal in append mode."""
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("pts"),
        )
        .withWatermark("pts", "1 hour")
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("cts"),
        )
        .withWatermark("cts", "25 hours")
    )
    j = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 24 HOURS")),
    )
    return (
        j.groupBy("purchase_id", "user_id", "pts")
        .agg(F.max(F.struct("cts", "click_id")).alias("best"))
        .select(
            "purchase_id",
            "user_id",
            F.col("best.click_id").alias("click_id"),
            (F.unix_micros("pts") - F.unix_micros("best.cts")).alias("gap_us"),
        )
    )


def markov_transitions_user(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``events_markov_transitions``:
    per-user transition counts maintained incrementally. A late event
    can land BETWEEN two already-seen events — replacing one observed
    transition with two — so the twin keeps the user's
    (ts, event_id, type) buffer in state and re-derives the user's full
    transition vector on every update (the re-basing discipline of
    ``interarrival_user_stats``; the same watermark-freeze note applies
    for bounding the buffer in production). Each update emits the
    user's CURRENT per-(prev, next) counts; the corpus matrix is the
    per-user latest emissions summed — pinned equal to the batch
    operator across an out-of-order two-delivery replay."""
    import collections

    import pandas as pd

    def update(key, pdfs, state):
        rows = (
            list(zip(state.get[0], state.get[1], state.get[2]))
            if state.exists
            else []
        )
        for pdf in pdfs:
            for ts, eid, et in zip(pdf["ts"], pdf["event_id"], pdf["event_type"]):
                rows.append((int(pd.Timestamp(ts).value // 1000), int(eid), str(et)))
        rows.sort(key=lambda r: (r[0], r[1]))
        state.update((
            [r[0] for r in rows],
            [r[1] for r in rows],
            [r[2] for r in rows],
        ))
        counts = collections.Counter(
            (a[2], b[2]) for a, b in zip(rows, rows[1:])
        )
        pairs = sorted(counts)
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(pairs),
                "prev_type": [p for p, _ in pairs],
                "next_type": [n for _, n in pairs],
                "n": [counts[p] for p in pairs],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, prev_type string, next_type string, n long",
        stateStructType="ts_us array<long>, eid array<long>, et array<string>",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def session_text(
    events: DataFrame, gap: str = "10 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of `events_session_text`: the native session_window
    merges each user's gap-bounded session in the state store; when the
    watermark closes the session, its events render to the SAME
    space-joined event-type string as the batch op (identical
    sort-by-(ts, event_id) + transform + array_join expression), so the
    behavioral training corpus is emitted incrementally — a finished
    session becomes a training document the moment it can no longer
    change. State per open session is its (ts, event_id, event_type)
    triples, bounded by the gap rule, and append mode guarantees each
    session text is emitted exactly once."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                " ",
            ).alias("seq_text"),
        )
        .select("user_id", "session_start", "n_events", "seq_text")
    )


def cusum_monitor(events: DataFrame, mean_q_by_type: dict[str, int]) -> DataFrame:
    """Streaming twin of the batch ``events_changepoint_cusum``: an online
    one-sided CUSUM rate monitor per event type. The textbook streaming
    form monitors against a FIXED reference rate (Page's μ₀ — here the
    integer-quantized mean the caller trains batch-side; the batch op's
    self-computed mean is the same quantity, so on a bounded replay the
    final emission equals the batch op exactly — pinned in
    tests/test_streaming.py).

    State per type: the (hour → count) bucket series as two aligned
    arrays. That state is CALENDAR-bounded (~10⁴ entries/year — the same
    argument as the batch op's window: buckets, never events), which is
    why recomputing the closed form per micro-batch is O(hours), not
    O(events). Each micro-batch emits the type's current peak CUSUM and
    the earliest hour it peaked."""
    import pandas as pd

    def update(key, pdfs, state):
        et = key[0]
        if state.exists:
            hours, cnts = state.get
            acc = dict(zip(hours, cnts))
        else:
            acc = {}
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            hh = pdf["ts"].dt.floor("h").astype("int64") // 1000  # ns → µs
            for h, c in hh.value_counts().items():
                acc[int(h)] = acc.get(int(h), 0) + int(c)
        hours = sorted(acc)
        cnts = [acc[h] for h in hours]
        state.update((hours, cnts))
        m_raw = mean_q_by_type.get(et)
        if m_raw is None:
            # event type never seen by the batch-trained means: no
            # reference rate to monitor against — emit a null CUSUM row
            # (state is kept, so the type starts scoring the moment a
            # retrained mean map includes it) instead of raising inside
            # applyInPandasWithState and killing the whole query
            yield pd.DataFrame(
                {
                    "event_type": [et],
                    "n_buckets": [len(hours)],
                    "peak_cusum_q": [None],
                    "peak_hour_us": [None],
                }
            )
            return
        m = int(m_raw)
        prefix = 0
        run_min_prev = 0  # min(0, min prefix_{j<i}) — 0 for the first row
        best, best_h = None, None
        for h, c in zip(hours, cnts):
            prefix += c * 1000 - m
            cus = prefix - run_min_prev
            if best is None or cus > best:  # strict '>' keeps the EARLIEST peak
                best, best_h = cus, h
            run_min_prev = min(run_min_prev, prefix)
        yield pd.DataFrame(
            {
                "event_type": [et],
                "n_buckets": [len(hours)],
                "peak_cusum_q": [best],
                "peak_hour_us": [best_h],
            }
        )

    return events.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=(
            "event_type string, n_buckets long, peak_cusum_q long, "
            "peak_hour_us long"
        ),
        stateStructType="hours array<long>, cnts array<long>",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def ab_monitor(events: DataFrame) -> DataFrame:
    """Streaming twin of `events_ab_test` (VERDICT r10 item #7): the Welch
    comparison's state IS its sufficient statistics — per event type the
    six per-arm sums (n, Σx, Σx²) — which a built-in streaming
    aggregation maintains exactly. No stateful UDF and no stream-stream
    join: the batch op's per-arm split+self-join collapses into ONE
    groupBy(event_type) with per-arm CONDITIONAL sums, so the state store
    holds one row per event type and every micro-batch folds its events
    in and re-emits the updated t statistic (update mode — a live A/B
    dashboard's refresh semantics).

    Exactness, same argument as the batch op: the conditional Σx/Σx²
    fold in DECIMAL (exact under any micro-batch arrival order — the
    state-store fold is just another partial-agg order), and the t
    statistic is the identical one-scalar-expression tree over those
    exact inputs, so stream output lands bit-identical on the batch rows
    once all events are delivered (pinned, including across a
    checkpointed restart).

    Scale: state is O(#event types) rows of six numbers; events fold
    map-side before the ~10-key shuffle. This is the cheapest possible
    always-on experiment monitor — the same reason the batch op's
    DECIMAL sufficient sums were chosen is why the stream inherits them
    unchanged."""
    v = F.col("value").cast("decimal(18,2)")
    is_a = (F.col("user_id") % 2) == 0
    s = events.groupBy("event_type").agg(
        F.count(F.when(is_a, 1)).alias("n_a"),
        F.sum(F.when(is_a, v)).cast("double").alias("sx_a"),
        F.sum(F.when(is_a, v * v)).cast("double").alias("sxx_a"),
        F.count(F.when(~is_a, 1)).alias("n_b"),
        F.sum(F.when(~is_a, v)).cast("double").alias("sx_b"),
        F.sum(F.when(~is_a, v * v)).cast("double").alias("sxx_b"),
    )
    ma = F.col("sx_a") / F.col("n_a")
    mb = F.col("sx_b") / F.col("n_b")
    va = (F.col("sxx_a") / F.col("n_a") - ma * ma) / F.col("n_a")
    vb = (F.col("sxx_b") / F.col("n_b") - mb * mb) / F.col("n_b")
    return s.select(
        "event_type",
        "n_a",
        "n_b",
        (ma - mb).alias("mean_diff"),
        ((ma - mb) / F.sqrt(va + vb)).alias("welch_t"),
    )


def funnel_steps_user_chain(events: DataFrame) -> DataFrame:
    """Streaming twin of `events_funnel_steps` (r11 verdict item #6):
    per-user earliest-chain state — exactly the three timestamps the
    batch op's stacked window MINs compute — maintained incrementally
    through `applyInPandasWithState`.

    The chain (t1 = first view, t2 = first qualifying click after t1,
    t3 = first qualifying purchase after t2) is a pure function of the
    user's event SET, but NOT incrementally updatable from (t1,t2,t3)
    alone: a late-arriving earlier view moves t1 and can invalidate the
    settled t2/t3 (the gap window shifts). So the state keeps what the
    recomputation needs — the min view (one long: views only ever
    lower it) plus the click and purchase timestamp sets — and each
    micro-batch folds its events in and re-derives the chain from
    scratch. Set-function semantics make the output independent of
    arrival order, micro-batch boundaries, and restarts by
    construction (pinned in tests across a checkpointed OUT-OF-ORDER
    restart: the second half of the timeline delivered first).

    Scale: state per user is one long + the user's click/purchase
    timestamps — bounded by per-user activity, not stream length, and
    in a watermarked deployment compactable: once the watermark passes
    t1 + gap the click set collapses to the settled t2 (same for t3),
    shrinking state to three longs — the `funnel_user_totals` pending
    -list discipline applied per step. Omitted here for the bounded
    replay, like that twin's timeout."""
    import pandas as pd

    from mutable_spark.operators.events import _FUNNEL_STEP_GAP_US

    def update(key, pdfs, state):
        min_view, clicks, purchases = (
            state.get if state.exists else (None, [], [])
        )
        clicks, purchases = list(clicks), list(purchases)
        for pdf in pdfs:
            for ts, etype in pdf[["ts", "event_type"]].itertuples(index=False):
                t_us = int(pd.Timestamp(ts).value // 1000)
                if etype == "view":
                    min_view = t_us if min_view is None else min(min_view, t_us)
                elif etype == "click":
                    clicks.append(t_us)
                elif etype == "purchase":
                    purchases.append(t_us)
        t1 = min_view
        t2 = (
            min(
                (
                    c
                    for c in clicks
                    if t1 < c <= t1 + _FUNNEL_STEP_GAP_US
                ),
                default=None,
            )
            if t1 is not None
            else None
        )
        t3 = (
            min(
                (
                    p
                    for p in purchases
                    if t2 < p <= t2 + _FUNNEL_STEP_GAP_US
                ),
                default=None,
            )
            if t2 is not None
            else None
        )
        state.update((min_view, clicks, purchases))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "t1": pd.array([t1], dtype="Int64"),
                "t2": pd.array([t2], dtype="Int64"),
                "t3": pd.array([t3], dtype="Int64"),
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, t1 long, t2 long, t3 long",
        stateStructType=(
            "min_view long, clicks array<long>, purchases array<long>"
        ),
        outputMode="update",
        timeoutConf="NoTimeout",
    )
