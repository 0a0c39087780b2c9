"""Event-stream operators over the ``events`` table, exercised here in
batch mode with DuckDB oracles; `mutable_spark.streaming` runs the same
logic incrementally with Structured Streaming + watermarks.

The reference has no streaming at all (SURVEY §2.10) — this whole module is
beyond-parity capability for the training-data-pipeline north star.

Note ``events.ts`` is TIMESTAMP(NANOS) parquet: `catalog.load_table`
converts it (exact integer ns→µs division) to TIMESTAMP_NTZ, matching
DuckDB's read of the same file.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from mutable_spark.catalog import load_tables
from mutable_spark.functions import dsum, sql_dsum
from mutable_spark.registry import query


@query(
    "events_json_extract",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS cnt,
           {sql_dsum('value')} AS sum_value,
           CAST(SUM(CAST(NULLIF(regexp_extract(props, '"k":\\s*(\\d+)', 1), '') AS BIGINT)) AS DOUBLE)
             / COUNT(NULLIF(regexp_extract(props, '"k":\\s*(\\d+)', 1), '')) AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def events_json_extract(spark, sf_dir):
    """Semi-structured extraction: pull the integer `k` out of the JSON
    ``props`` string with a regexp (portable between engines; a production
    pipeline would use from_json with a schema — same plan shape), then
    aggregate per event type. NULLIF guards the no-match case under ANSI
    casting."""
    e = load_tables(spark, sf_dir).events
    k = F.nullif(F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1), F.lit("")).cast(
        "long"
    )
    return (
        e.select("event_type", "value", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("value").alias("sum_value"),
            (F.sum("k").cast("double") / F.count("k")).alias("avg_k"),
        )
    )


@query(
    "events_window_tumbling",
    oracle=f"""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket_start,
           event_type,
           COUNT(*) AS cnt,
           {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY time_bucket(INTERVAL 1 HOUR, ts), event_type
    """,
)
def events_window_tumbling(spark, sf_dir):
    """Tumbling 1-hour window aggregation — the batch twin of the
    Structured Streaming job in `mutable_spark.streaming.events`
    (watermark + window on the same column). Spark's window() start equals
    DuckDB's time_bucket for epoch-aligned hours."""
    e = load_tables(spark, sf_dir).events
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("bucket_start"), "event_type", "cnt", "sum_value"
        )
    )


@query(
    "events_sessionize",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        FROM flagged
    )
    SELECT user_id, session_idx,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_idx
    """,
)
def events_sessionize(spark, sf_dir):
    """Sessionization with a 10-minute inactivity gap: lag→flag→cumulative
    sum→group, the classic batch formulation (the streaming twin uses
    session_window + watermark). One shuffle on user_id; both window
    functions reuse the same (user_id, ts, event_id) sort order, so
    Catalyst plans a single Sort+Window stage."""
    e = load_tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            lag_ts.isNull() | (F.col("ts") > lag_ts + F.expr("INTERVAL 10 MINUTE")), 1
        )
        .otherwise(0)
        .alias("is_new"),
    )
    numbered = flagged.select(
        "user_id",
        "ts",
        F.sum("is_new")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_idx"),
    )
    return numbered.groupBy("user_id", "session_idx").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "events_window_sliding",
    oracle=f"""
    SELECT time_bucket(INTERVAL 30 MINUTE, ts) - k * INTERVAL 30 MINUTE AS window_start,
           event_type,
           COUNT(*) AS cnt,
           {sql_dsum('value')} AS sum_value
    FROM events, (VALUES (0), (1)) AS offs(k)
    GROUP BY 1, 2
    """,
)
def events_window_sliding(spark, sf_dir):
    """Sliding (hopping) windows: 1-hour windows every 30 minutes — each
    event lands in exactly two windows. The oracle reproduces Spark's
    window() expansion explicitly: cross join with the per-event window
    offsets (window/slide = 2 rows) and bucket arithmetic. Streaming twin
    works identically via F.window(ts, '1 hour', '30 minutes') with a
    watermark."""
    e = load_tables(spark, sf_dir).events
    return (
        e.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "cnt", "sum_value"
        )
    )


@query(
    "events_funnel",
    oracle="""
    SELECT user_id, views, converted_views,
           CAST(converted_views AS DOUBLE) / views AS conv_rate
    FROM (
        SELECT user_id,
               COUNT(*) AS views,
               COUNT(CASE WHEN next_click <= ts + INTERVAL 1 HOUR
                          THEN 1 END) AS converted_views
        FROM (
            SELECT user_id, ts, event_type,
                   min(CASE WHEN event_type = 'click' THEN ts END) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                   ) AS next_click
            FROM events
        )
        WHERE event_type = 'view'
        GROUP BY user_id
    )
    """,
)
def events_funnel(spark, sf_dir):
    """Funnel analysis: per user, how many 'view' events converted to a
    'click' within one hour. The classic formulation is a range self-join
    (view x later clicks); this is the single-shuffle window form — a
    reverse running-min over each user's timeline gives every event its
    *next* click timestamp, so conversion is a per-row comparison:

        next_click = MIN(ts if click) OVER (user, ORDER BY ts, event_id
                                            ROWS CURRENT..UNBOUNDED FOLLOWING)
        converted  = next_click <= ts + 1 hour   (on view rows)

    One hash-partition by user_id, no join, no second shuffle until the
    tiny per-user aggregate — at 100 TB this is the difference between a
    skew-prone interval join and a scan-shaped pass. The (ts, event_id)
    ordering makes the window total, so both engines compute identical
    next_click values."""
    e = load_tables(spark, sf_dir).events
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    next_click = F.min(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    per_view = (
        e.select("user_id", "ts", "event_type", "event_id")
        .withColumn("next_click", next_click)
        .filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("views"),
            F.count(
                F.when(
                    F.col("next_click")
                    <= F.col("ts") + F.expr("INTERVAL 1 HOUR"),
                    1,
                )
            ).alias("converted_views"),
        )
    )
    return per_view.select(
        "user_id",
        "views",
        "converted_views",
        (F.col("converted_views").cast("double") / F.col("views")).alias(
            "conv_rate"
        ),
    )


# --------------------------------------------------------------------------
#: retention horizon (day offsets 0..7 from the user's first-seen day)
_RETENTION_DAYS = 7


@query(
    "events_retention",
    oracle=f"""
    WITH activity AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    cohort AS (
        SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY user_id
    )
    SELECT c.cohort_day,
           CAST(a.day - c.cohort_day AS BIGINT) AS day_k,
           COUNT(*) AS n_users
    FROM cohort c JOIN activity a USING (user_id)
    WHERE a.day - c.cohort_day <= {_RETENTION_DAYS}
    GROUP BY 1, 2
    """,
)
def events_retention(spark, sf_dir):
    """Cohort retention — the third classic event-analytics shape beside
    sessionization and funnels: users cohorted by first-seen day, counted
    on each of the following {0..7} days they return.

    Plan shape at scale: events are scanned ONCE — the distinct
    (user, day) activity set is one shuffle, the cohort day comes from a
    window MIN over the (tiny, post-distinct) activity frame rather than
    a second aggregate branch re-scanning events (measured: the
    join-formulated twin planned a duplicate scan+distinct), and only
    the (cohort_day, day_k) summary shuffles again. COUNT(*) is exact
    per construction because activity is distinct."""
    e = load_tables(spark, sf_dir).events
    activity = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    cohort_day = F.min("day").over(Window.partitionBy("user_id"))
    return (
        activity.select(
            cohort_day.alias("cohort_day"),
            F.datediff("day", cohort_day).cast("long").alias("day_k"),
        )
        .filter(F.col("day_k") <= _RETENTION_DAYS)
        .groupBy("cohort_day", "day_k")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "events_windowed_topk",
    oracle="""
    SELECT bucket_start, user_id, cnt, rnk FROM (
        SELECT bucket_start, user_id, cnt,
               ROW_NUMBER() OVER (PARTITION BY bucket_start
                                  ORDER BY cnt DESC, user_id) AS rnk
        FROM (
            SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket_start,
                   user_id, COUNT(*) AS cnt
            FROM events
            GROUP BY 1, 2
        )
    ) WHERE rnk <= 3
    """,
)
def events_windowed_topk(spark, sf_dir):
    """Per-window heavy hitters: the top-3 most active users in every
    tumbling hour — the windowed-leaderboard composite (window agg +
    per-window ranking) every event pipeline ends up needing.

    Scale shape: one groupBy on (hour bucket, user) with map-side
    partials — the shuffle carries one row per active (bucket, user) —
    then a per-bucket row_number window over that already-aggregated
    (and therefore bounded: ≤ users per hour) frame. Counts are exact
    integers and ties break on user_id, so the oracle matches
    bit-for-bit."""
    e = load_tables(spark, sf_dir).events
    from pyspark.sql import Window

    counts = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("bucket_start"), "user_id", "cnt")
    )
    w = Window.partitionBy("bucket_start").orderBy(F.col("cnt").desc(), "user_id")
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )


@query(
    "events_value_percentiles",
    oracle="""
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.95) AS p95,
           quantile_cont(value, 0.99) AS p99
    FROM events
    GROUP BY event_type
    """,
)
def events_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per event type — the exact sibling
    of ``op_approx_sketches``' percentile_approx. Both engines implement
    the standard (n-1)·p linear interpolation over the sorted group in
    DOUBLE, so the oracle matches bit-for-bit (verified: p50/p95/p99
    identical across engines at every test SF).

    Scale note: exact percentile buffers each group's values — the right
    tool for bounded groups (5 event types here; dashboards, SLO
    reports). For unbounded cardinality at 100 TB the approximate sketch
    (`op_approx_sketches`) is the scale path, whose accuracy is pinned
    against this same exact-percentile aggregate in
    tests/test_sketches.py."""
    e = load_tables(spark, sf_dir).events
    return e.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("p50"),
        F.percentile("value", 0.95).alias("p95"),
        F.percentile("value", 0.99).alias("p99"),
    )


@query(
    "events_interarrival",
    oracle="""
    WITH g AS (
        SELECT user_id,
               date_diff('microsecond',
                         lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id),
                         ts) AS gap_us
        FROM events
    )
    SELECT user_id,
           COUNT(*)                     AS n_events,
           COUNT(gap_us)                AS n_gaps,
           MAX(gap_us)                  AS max_gap_us,
           CAST(SUM(gap_us) AS BIGINT)  AS sum_gap_us
    FROM g GROUP BY user_id
    """,
)
def events_interarrival(spark, sf_dir):
    """Per-user inter-arrival cadence: LAG over (ts, event_id) gives each
    event's gap to the previous one; the per-user aggregate keeps the
    exact-integer pieces (max gap, gap sum, gap count) from which any
    cadence statistic derives. Single-event users survive with zero gaps
    and NULL max/sum. All arithmetic is epoch-microsecond BIGINT — the
    session pins UTC, so Spark's `unix_micros(cast to timestamp)` equals
    DuckDB's `date_diff('microsecond', ...)` bit-for-bit, and the gap SUM
    is CAST back from DuckDB's HUGEINT. One shuffle on user_id; the
    window sort feeds the partial aggregate in the same stage."""
    e = load_tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    mu = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    g = e.select("user_id", (mu - prev).alias("gap_us"))
    return g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("gap_us").alias("n_gaps"),
        F.max("gap_us").alias("max_gap_us"),
        F.sum("gap_us").alias("sum_gap_us"),
    )


# --------------------------------------------------------------------------
#: attribution lookback: a purchase converts the latest same-user click
#: at most this far back
_ATTRIB_WINDOW = "24 HOURS"


@query(
    "events_attribution",
    oracle="""
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS pts
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS click_id, user_id, ts AS cts
          FROM events WHERE event_type = 'click'),
    j AS (SELECT p.purchase_id, p.user_id, p.pts, c.click_id, c.cts,
                 ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                    ORDER BY c.cts DESC, c.click_id DESC) AS rn
          FROM p JOIN c ON p.user_id = c.user_id
             AND c.cts <= p.pts
             AND c.cts >= p.pts - INTERVAL 24 HOUR)
    SELECT purchase_id, user_id, click_id,
           date_diff('microsecond', cts, pts) AS gap_us
    FROM j WHERE rn = 1
    """,
)
def events_attribution(spark, sf_dir):
    """Last-touch attribution — the canonical event-correlation join: each
    purchase is attributed to the LATEST click by the same user within
    the 24-hour lookback (ties broken by click_id, so the winner is
    deterministic in both engines). Emits one row per attributed
    purchase with the exact epoch-µs click→purchase gap (same
    `unix_micros`/`date_diff` parity as ``events_interarrival``).

    This is the batch twin of the one Structured Streaming capability the
    module had not yet exercised: the *watermarked stream-stream interval
    join* (`streaming.events.attribution_stream`), where the range
    predicate is exactly what lets Spark bound both join states — clicks
    older than the lookback + watermark are evicted, so state is
    O(click rate × lookback), not O(history).

    Scale shape: both sides shuffle once on user_id (the join key); the
    interval predicate prunes inside each user's partition, and the
    rank-1 window repartitions only the *matched* pairs by purchase_id —
    bounded by clicks-per-user-day, not by history. A celebrity-user key
    would skew the join; AQE skew-split handles it (same contract as
    every user-keyed shuffle in this module)."""
    e = load_tables(spark, sf_dir).events
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("cts"),
    )
    j = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr(f"INTERVAL {_ATTRIB_WINDOW}")),
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.col("cts").desc(), F.col("click_id").desc()
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "purchase_id",
            "user_id",
            "click_id",
            (
                F.unix_micros(F.col("pts").cast("timestamp"))
                - F.unix_micros(F.col("cts").cast("timestamp"))
            ).alias("gap_us"),
        )
    )


@query(
    "events_markov_transitions",
    oracle="""
    WITH g AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type,
           COUNT(*) AS n_transitions,
           COUNT(DISTINCT user_id) AS n_users
    FROM g WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def events_markov_transitions(spark, sf_dir):
    """Event-type transition matrix — the first-order sequence model
    behind next-event prediction and funnel design: for every ordered
    pair of event types, how many times a user's stream moved from one
    to the other (LAG over the same deterministic (ts, event_id) order
    as ``events_interarrival``), and how many distinct users exhibit the
    transition. Row probabilities (n / row total) are a downstream
    division — the registered result keeps the exact integer counts.

    Scale shape: one shuffle on user_id for the LAG window, then a
    partial-agg groupBy on the (|types|² ≤ tiny) transition key; the
    COUNT(DISTINCT user_id) expands to Spark's two-phase distinct over
    the already-aggregated pair stream."""
    e = load_tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        "user_id",
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    return g.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.countDistinct("user_id").alias("n_users"),
    )


def type_pair_structs(es):
    """All i<j (type_a, type_b) structs over a sorted distinct-type
    array column — the in-row pair expansion shared verbatim by
    ``events_cooccurrence`` and its streaming twin
    (`streaming.events.cooccurrence_pairs`)."""
    return F.flatten(
        F.transform(
            es,
            lambda a, i: F.transform(
                F.slice(es, i + F.lit(2), F.size(es)),
                lambda b: F.struct(a.alias("type_a"), b.alias("type_b")),
            ),
        )
    )


@query(
    "events_cooccurrence",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, event_type,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_idx
        FROM flagged
    ), st AS (
        SELECT DISTINCT user_id, session_idx, event_type FROM numbered
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           COUNT(*) AS n_sessions,
           COUNT(DISTINCT a.user_id) AS n_users
    FROM st a JOIN st b
      ON a.user_id = b.user_id AND a.session_idx = b.session_idx
     AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
)
def events_cooccurrence(spark, sf_dir):
    """Session-level event-type co-occurrence — the association-mining
    primitive ("users who do X in a session also do Y") behind basket
    analysis and feature co-activation reports: for every unordered pair
    of event types, in how many sessions (and for how many distinct
    users) both types occur.

    Shape: the ``events_sessionize`` lag→flag→cumulative-sum tier
    assigns session ids, each session collapses to its sorted DISTINCT
    type set (collect_set — co-occurrence is set-membership, not
    counts), and pairs expand IN-ROW over that array. No star cap is
    needed here, unlike the doc-id bucket tiers: the per-row expansion
    is bounded by |event-type vocabulary|² — a constant (~dozens), not
    a data-driven class size — so a degenerate million-event session
    still expands to the same tiny pair set.

    Shuffles: ONE on user_id for the window; the session groupBy reuses
    it (hash(user_id) satisfies the (user_id, session_idx) clustering),
    and the final pair count is a partial agg on a tiny key. The oracle
    self-joins the distinct (session, type) frame instead — the
    quadratic formulation the in-row expansion replaces."""
    e = load_tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            lag_ts.isNull() | (F.col("ts") > lag_ts + F.expr("INTERVAL 10 MINUTE")), 1
        )
        .otherwise(0)
        .alias("is_new"),
    )
    numbered = flagged.select(
        "user_id",
        "event_type",
        F.sum("is_new")
        .over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("session_idx"),
    )
    sess = numbered.groupBy("user_id", "session_idx").agg(
        F.array_sort(F.collect_set("event_type")).alias("es")
    )
    return (
        sess.select("user_id", F.explode(type_pair_structs(F.col("es"))).alias("p"))
        .groupBy(F.col("p.type_a").alias("type_a"), F.col("p.type_b").alias("type_b"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# --------------------------------------------------------------------------
@query(
    "events_path_trigrams",
    oracle="""
    WITH g AS (
        SELECT user_id, event_type AS t1,
               lead(event_type, 1) OVER w AS t2,
               lead(event_type, 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT t1, t2, t3,
           COUNT(*) AS n_paths,
           COUNT(DISTINCT user_id) AS n_users
    FROM g WHERE t3 IS NOT NULL
    GROUP BY t1, t2, t3
    """,
)
def events_path_trigrams(spark, sf_dir):
    """Second-order path mining — the 3-step extension of
    ``events_markov_transitions``: for every ordered triple of event
    types, how many times some user's stream ran exactly that
    three-event path (consecutive under the deterministic
    (ts, event_id) order), and how many distinct users exhibit it. The
    top triples are the "golden paths" a product funnel is designed
    around; second-order counts also feed a trigram sequence model the
    first-order matrix can't express.

    Scale shape: one user_id shuffle for the LEAD window (both leads
    share the single window sort — one exchange, one sort, two frame
    reads), then a partial-agg groupBy on the (|types|³ ≤ tiny) path
    key. COUNT(DISTINCT user_id) is Spark's two-phase distinct over the
    already-aggregated triple stream, exactly as the transition
    matrix argues."""
    e = load_tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        "user_id",
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return g.groupBy("t1", "t2", "t3").agg(
        F.count(F.lit(1)).alias("n_paths"),
        F.countDistinct("user_id").alias("n_users"),
    )


# --------------------------------------------------------------------------
@query(
    "events_anomaly_mad",
    oracle="""
    WITH w1 AS (
        SELECT event_type, value,
               quantile_cont(value, 0.5) OVER (PARTITION BY event_type) AS med
        FROM events
    ), w2 AS (
        SELECT event_type, value, med, abs(value - med) AS dev,
               quantile_cont(abs(value - med), 0.5)
                   OVER (PARTITION BY event_type) AS mad
        FROM w1
    )
    SELECT event_type, COUNT(*) AS n, MIN(med) AS med, MIN(mad) AS mad,
           CAST(SUM(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers
    FROM w2 GROUP BY event_type
    """,
)
def events_anomaly_mad(spark, sf_dir):
    """Robust anomaly detection per event type: median / median-absolute-
    deviation (the estimator that survives the very outliers it hunts —
    mean/stddev, `op_window_zscore`'s basis, are dragged by them) and
    the count of values beyond 3·MAD. Both medians are the same
    (n-1)·p interpolation both engines implement identically
    (`events_value_percentiles`), and the outlier comparison runs on
    bit-identical doubles, so the oracle matches exactly.

    Scale shape: ONE shuffle — the med window, the dev projection, the
    mad window, and the final groupBy all share the event_type hash
    partitioning, so Catalyst plans a single exchange feeding two
    window sorts and the aggregate. Exact medians buffer each group's
    values: right for bounded group cardinality (event types), while
    unbounded cardinality takes `op_approx_sketches`' percentile_approx
    — the same right-tool note as `events_value_percentiles`."""
    e = load_tables(spark, sf_dir).events
    wt = Window.partitionBy("event_type")
    w1 = e.select(
        "event_type",
        "value",
        F.percentile("value", 0.5).over(wt).alias("med"),
    )
    w2 = w1.select(
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("dev"),
    ).withColumn("mad", F.percentile(F.col("dev"), 0.5).over(wt))
    return w2.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("med").alias("med"),
        F.min("mad").alias("mad"),
        F.sum(F.when(F.col("dev") > 3 * F.col("mad"), 1).otherwise(0))
        .cast("long")
        .alias("n_outliers"),
    )


# --------------------------------------------------------------------------
#: PageRank fixed-point scale, damping (85/100), rounds (finite oracle —
#: a production job loops the same plan to convergence, as sim_ivf_train)
_PR_SCALE = 1_000_000_000_000
_PR_WQ = 1_000_000
_PR_ITERS = 2


def _sql_pagerank() -> str:
    """DuckDB twin of ``events_pagerank``: identical fixed-round power
    iteration in identical scaled-integer arithmetic (every SUM cast to
    BIGINT — DuckDB widens to HUGEINT otherwise, the r7 lesson)."""
    S, Q, D = _PR_SCALE, _PR_WQ, 85
    base = f"(({100 - D} * {S} // 100))"
    it = """
    c{i} AS (
        SELECT ed.v AS t,
               CAST(SUM((r{p}.rq * ed.wq) // {Q}) AS BIGINT) AS contrib
        FROM ed JOIN r{p} ON ed.u = r{p}.t
        GROUP BY ed.v
    ),
    r{i} AS (
        SELECT nodes.t,
               CAST(({base} // n.n)
                    + ({D} * COALESCE(c{i}.contrib, 0)) // 100 AS BIGINT) AS rq
        FROM nodes CROSS JOIN n LEFT JOIN c{i} ON nodes.t = c{i}.t
    )"""
    its = ",".join(
        it.format(i=i, p=i - 1, Q=Q, base=base, D=D)
        for i in range(1, _PR_ITERS + 1)
    )
    return f"""
    WITH g AS (
        SELECT event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    edw AS (
        SELECT prev_type AS u, event_type AS v, COUNT(*) AS w
        FROM g WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    outw AS (SELECT u, CAST(SUM(w) AS BIGINT) AS wu FROM edw GROUP BY u),
    ed AS (
        SELECT edw.u, edw.v,
               CAST((edw.w * {Q}) // outw.wu AS BIGINT) AS wq
        FROM edw JOIN outw USING (u)
    ),
    nodes AS (SELECT DISTINCT t FROM
              (SELECT u AS t FROM edw UNION SELECT v AS t FROM edw)),
    n AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT t, CAST({S} // n.n AS BIGINT) AS rq FROM nodes CROSS JOIN n),
    {its}
    SELECT t AS event_type, rq AS rank_q FROM r{_PR_ITERS}
    """


@query("events_pagerank", oracle=_sql_pagerank())
def events_pagerank(spark, sf_dir):
    """PageRank over the event-type transition graph — the iterative
    graph algorithm as a declarative fixed-round plan, with a full
    value-hash oracle. Every step is scaled-integer arithmetic
    engineered order-independent (the ``sim_ivf_train`` discipline
    applied to power iteration): edge weights quantize once to
    per-source millionths (``wq = w·1e6 div Σw`` — which also bounds
    ``rq·wq ≤ 1e18`` at ANY corpus scale, no overflow), contributions
    sum exact integers, and the damping mix is pure integer div — so
    Spark and DuckDB agree bit-for-bit after any number of rounds.

    Scale shape: per round, ONE join of the edge list against the rank
    vector + one partial-agg groupBy on the destination. Here the graph
    is |types|² and everything broadcasts; on a web-scale graph the
    edge list is the big side (shuffled on u, re-used every round from
    cache/bucketed storage) and the rank vector is the broadcast side —
    the classic iterate-over-static-edges shape. Rounds are a Python
    loop emitting ONE unrolled Catalyst plan: no driver-side data, no
    RDDs, lineage bounded by the fixed round count."""
    S, Q, D = _PR_SCALE, _PR_WQ, 85
    e = load_tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        F.col("event_type").alias("v"),
        F.lag("event_type").over(w).alias("u"),
    ).filter(F.col("u").isNotNull())
    edw = g.groupBy("u", "v").agg(F.count(F.lit(1)).alias("w"))
    outw = edw.groupBy("u").agg(F.sum("w").cast("long").alias("wu"))
    # the static side of power iteration is CACHED (r10): every unrolled
    # round consumed ed/nodes by re-deriving them from the events scan +
    # window otherwise — 32 parquet scans in the uncached plan for what
    # the docstring already called "re-used every round from cache"
    ed = edw.join(outw, "u").select(
        "u", "v", F.expr(f"CAST((w * {Q}) div wu AS BIGINT)").alias("wq")
    ).cache()
    nodes = (
        edw.select(F.col("u").alias("t"))
        .union(edw.select(F.col("v").alias("t")))
        .distinct()
    ).cache()
    n = nodes.agg(F.count(F.lit(1)).alias("n"))
    r = nodes.crossJoin(n).select(
        "t", F.expr(f"CAST({S} div n AS BIGINT)").alias("rq")
    )
    base = f"(({100 - D} * {S} div 100))"
    for _ in range(_PR_ITERS):
        c = (
            ed.join(r, ed["u"] == r["t"])
            .select("v", F.expr(f"(rq * wq) div {Q}").alias("part"))
            .groupBy("v")
            .agg(F.sum("part").cast("long").alias("contrib"))
        )
        r = (
            nodes.crossJoin(n)
            .join(c, nodes["t"] == c["v"], "left")
            .select(
                "t",
                F.expr(
                    f"CAST(({base} div n) + ({D} * COALESCE(contrib, 0)) div 100"
                    " AS BIGINT)"
                ).alias("rq"),
            )
        )
    return r.select(F.col("t").alias("event_type"), F.col("rq").alias("rank_q"))


@query(
    "events_session_text",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        FROM flagged
    )
    SELECT user_id, session_idx,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           string_agg(event_type, ' ' ORDER BY ts, event_id) AS seq_text
    FROM numbered
    GROUP BY user_id, session_idx
    """,
)
def events_session_text(spark, sf_dir):
    """Behavioral-sequence export: each session (the `events_sessionize`
    10-minute-gap rule) rendered as a space-joined event-type string in
    exact time order — the events→documents bridge that turns a clickstream
    into training text for a behavioral/sequence model (the per-session
    twin of what `events_path_trigrams` mines statistically). The emitted
    corpus feeds the text tier directly: token counting, dedup and packing
    treat `seq_text` exactly like `documents.text`.

    Determinism: events within a session are ordered by the total key
    (ts, event_id) before joining, mirrored by the oracle's ordered
    string_agg, so the string is bit-identical cross-engine.

    Scale shape: ONE shuffle on user_id; the same sorted window the
    sessionizer uses assigns session_idx, and the per-session collect is
    bounded by session length (minutes of activity), never a user's
    history. A session here is the natural training "document" — the
    state the streaming twin maintains with session_window + watermark."""
    e = load_tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            lag_ts.isNull() | (F.col("ts") > lag_ts + F.expr("INTERVAL 10 MINUTE")), 1
        )
        .otherwise(0)
        .alias("is_new"),
    )
    numbered = flagged.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum("is_new")
        .over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("session_idx"),
    )
    return numbered.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
            " ",
        ).alias("seq_text"),
    )


# --------------------------------------------------------------------------
# Change-point detection (r10): one-sided CUSUM over hourly event-rate
# series — the ops-monitoring primitive for "did this event type's rate
# shift, and when" (Page 1954). The sequential recurrence
# S_i = max(0, S_{i-1} + dev_i) is NOT a window function, but its closed
# form IS: S_i = prefix_i - min(0, min_{j<i} prefix_j) — a running sum
# minus a lagged running minimum, two frames over the same sort. All
# arithmetic is integer (counts x 1000 vs an integer-quantized mean), so
# both engines agree exactly.


@query(
    "events_changepoint_cusum",
    oracle="""
    WITH buckets AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    m AS (
        SELECT event_type,
               (CAST(SUM(cnt) AS BIGINT) * 1000) // COUNT(*) AS mean_q,
               CAST(COUNT(*) AS BIGINT) AS n_buckets
        FROM buckets GROUP BY event_type
    ),
    dev AS (
        SELECT b.event_type, b.h, b.cnt,
               b.cnt * 1000 - m.mean_q AS dev_q, m.n_buckets
        FROM buckets b JOIN m USING (event_type)
    ),
    pre AS (
        SELECT event_type, h, cnt, n_buckets,
               CAST(SUM(dev_q) OVER (PARTITION BY event_type ORDER BY h)
                    AS BIGINT) AS prefix
        FROM dev
    ),
    cus AS (
        SELECT event_type, h, cnt, n_buckets, prefix,
               prefix - LEAST(CAST(0 AS BIGINT), COALESCE(
                   CAST(MIN(prefix) OVER (PARTITION BY event_type ORDER BY h
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        AS BIGINT),
                   CAST(0 AS BIGINT))) AS cusum_q
        FROM pre
    )
    SELECT event_type,
           MIN(n_buckets) AS n_buckets,
           MAX(cusum_q) AS peak_cusum_q,
           MIN(CASE WHEN cusum_q = mx THEN h END) AS peak_hour
    FROM (SELECT *, MAX(cusum_q) OVER (PARTITION BY event_type) AS mx
          FROM cus)
    GROUP BY event_type
    """,
)
def events_changepoint_cusum(spark, sf_dir):
    """Per-event-type change-point scan: hourly counts → integer
    deviations from the type's quantized mean rate → one-sided CUSUM via
    the closed form in the module comment (running sum minus the lagged
    running minimum — two window frames over ONE sort, no recurrence,
    no iteration). Emits each type's peak CUSUM and the hour it peaked —
    "the strongest sustained upward rate shift and when it ended".

    Exactness: counts are integers, the mean is integer-quantized
    ((Σcnt·1000) div n), deviations/prefixes/minima stay BIGINT — the
    one engine hazard is DuckDB widening windowed SUM(BIGINT) to
    HUGEINT, pinned back with CASTs (the r7 lesson). The peak hour
    ties-break to the EARLIEST peaking bucket via min-over-argmax, a
    total order in both engines.

    Scale shape: the heavy work is the (type, hour) partial-agg count —
    events never sort. The windows run over the BUCKET series (per type:
    #hours rows, ~10⁴/year — KBs of state no matter how many trillion
    raw events fed them), so the per-type window partition is bounded by
    calendar time, not corpus size. One count shuffle + one tiny window
    exchange."""
    e = load_tables(spark, sf_dir).events
    buckets = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    m = buckets.groupBy("event_type").agg(
        F.expr("(sum(cnt) * 1000) div count(*)").alias("mean_q"),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    dev = buckets.join(m, "event_type").select(
        "event_type",
        "h",
        "n_buckets",
        (F.col("cnt") * 1000 - F.col("mean_q")).alias("dev_q"),
    )
    w = Window.partitionBy("event_type").orderBy("h")
    pre = dev.withColumn(
        "prefix", F.sum("dev_q").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    lagged_min = F.min("prefix").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    cus = pre.withColumn(
        "cusum_q",
        F.col("prefix")
        - F.least(F.lit(0).cast("long"), F.coalesce(lagged_min, F.lit(0).cast("long"))),
    )
    mx = cus.withColumn(
        "mx", F.max("cusum_q").over(Window.partitionBy("event_type"))
    )
    return mx.groupBy("event_type").agg(
        F.min("n_buckets").alias("n_buckets"),
        F.max("cusum_q").alias("peak_cusum_q"),
        F.min(F.when(F.col("cusum_q") == F.col("mx"), F.col("h"))).alias(
            "peak_hour"
        ),
    )


@query(
    "events_ab_test",
    oracle="""
    WITH s AS (
        SELECT event_type,
               CAST(user_id % 2 AS BIGINT) AS variant,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(value AS DECIMAL(18,2))
                        * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx
        FROM events GROUP BY event_type, user_id % 2
    )
    SELECT a.event_type,
           a.n AS n_a, b.n AS n_b,
           a.sx / a.n - b.sx / b.n AS mean_diff,
           (a.sx / a.n - b.sx / b.n)
           / sqrt( (a.sxx / a.n - (a.sx / a.n) * (a.sx / a.n)) / a.n
                 + (b.sxx / b.n - (b.sx / b.n) * (b.sx / b.n)) / b.n )
               AS welch_t
    FROM s a JOIN s b
      ON a.event_type = b.event_type AND a.variant = 0 AND b.variant = 1
    """,
)
def events_ab_test(spark, sf_dir):
    """Two-sample A/B comparison per event type (variant = user_id
    parity — the stable hash-split every experimentation platform uses):
    per-arm counts, the mean difference, and the Welch t statistic.

    Exactness without quantizing the statistic: the SUFFICIENT SUMS
    (Σx, Σx²) fold in DECIMAL — exact under any partial-agg order — and
    the t statistic is then ONE fixed scalar expression tree over those
    exact inputs. Every node (+, −, ×, /, sqrt) is an IEEE-754
    correctly-rounded operation, so identical inputs give bit-identical
    outputs in both engines with no reassociation anywhere (same
    argument as the cosine folds; `sqrt` is exactly rounded by the
    standard — it is log/pow that are not).

    Scale: one partial-agg shuffle on (event_type, variant) — ~10 keys;
    the self-join runs on the 10-row aggregate frame. Events never move
    twice. The variance term uses the population form (Σx²/n − mean²) on
    both sides — the algebra is mirrored, not re-derived."""
    e = load_tables(spark, sf_dir).events
    v = F.col("value").cast("decimal(18,2)")
    s = e.groupBy(
        "event_type", (F.col("user_id") % 2).cast("long").alias("variant")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).cast("double").alias("sx"),
        F.sum(v * v).cast("double").alias("sxx"),
    )
    a = s.filter(F.col("variant") == 0).select(
        "event_type",
        F.col("n").alias("n_a"),
        F.col("sx").alias("sx_a"),
        F.col("sxx").alias("sxx_a"),
    )
    b = s.filter(F.col("variant") == 1).select(
        F.col("event_type").alias("et_b"),
        F.col("n").alias("n_b"),
        F.col("sx").alias("sx_b"),
        F.col("sxx").alias("sxx_b"),
    )
    j = a.join(b, F.col("event_type") == F.col("et_b"))
    ma = F.col("sx_a") / F.col("n_a")
    mb = F.col("sx_b") / F.col("n_b")
    va = (F.col("sxx_a") / F.col("n_a") - ma * ma) / F.col("n_a")
    vb = (F.col("sxx_b") / F.col("n_b") - mb * mb) / F.col("n_b")
    return j.select(
        "event_type",
        "n_a",
        "n_b",
        (ma - mb).alias("mean_diff"),
        ((ma - mb) / F.sqrt(va + vb)).alias("welch_t"),
    )


# --------------------------------------------------------------------------
#: max gap between consecutive funnel steps (integer microseconds) —
#: 7 days fits the synthetic stream's cadence so every stage genuinely
#: attrites (150 -> 144 -> 138 users at sf0.01)
_FUNNEL_STEP_GAP_US = 7 * 86400 * 1_000_000
_SQL_TSM = "date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts)"


@query(
    "events_funnel_steps",
    oracle=f"""
    WITH base AS (
        SELECT user_id, event_type, {_SQL_TSM} AS tsm FROM events
    ),
    w1 AS (
        SELECT user_id, event_type, tsm,
               MIN(CASE WHEN event_type = 'view' THEN tsm END)
                   OVER (PARTITION BY user_id) AS t1
        FROM base
    ),
    w2 AS (
        SELECT user_id, event_type, tsm, t1,
               MIN(CASE WHEN event_type = 'click' AND tsm > t1
                         AND tsm <= t1 + {_FUNNEL_STEP_GAP_US} THEN tsm END)
                   OVER (PARTITION BY user_id) AS t2
        FROM w1
    ),
    w3 AS (
        SELECT user_id, t1, t2,
               MIN(CASE WHEN event_type = 'purchase' AND tsm > t2
                         AND tsm <= t2 + {_FUNNEL_STEP_GAP_US} THEN tsm END)
                   OVER (PARTITION BY user_id) AS t3
        FROM w2
    ),
    per_user AS (
        SELECT user_id, MIN(t1) AS t1, MIN(t2) AS t2, MIN(t3) AS t3
        FROM w3 GROUP BY user_id
    ),
    agg AS (
        SELECT CAST(COUNT(t1) AS BIGINT) AS c1,
               CAST(COUNT(t2) AS BIGINT) AS c2,
               CAST(COUNT(t3) AS BIGINT) AS c3
        FROM per_user
    )
    SELECT step, step_name, n_users FROM (
        SELECT 1 AS step, 'view' AS step_name, c1 AS n_users FROM agg
        UNION ALL SELECT 2, 'click', c2 FROM agg
        UNION ALL SELECT 3, 'purchase', c3 FROM agg
    ) ORDER BY step
    """,
)
def events_funnel_steps(spark, sf_dir):
    """Multi-step sequential funnel: view → click → purchase, each step
    within ``_FUNNEL_STEP_GAP_US`` of the previous step's EARLIEST
    completion — the k-step generalization of ``events_funnel``'s
    single conversion, i.e. sequential pattern matching with per-step
    gap constraints (the MATCH_RECOGNIZE-lite every product-analytics
    store ships). Earliest-chain semantics: t1 = the user's first view,
    t2 = first qualifying click after t1, t3 = first qualifying
    purchase after t2 — a deterministic chain, not best-of-all-chains
    (greedy-earliest is the standard funnel definition and makes the
    result a pure function of the set of events).

    Shape: ONE hash exchange on user_id feeding THREE stacked
    whole-partition window MINs (each conditional on the previous
    step's scalar — same partitioning, so Catalyst reuses the single
    exchange), then a per-user rollup and a 3-row unpivot of one global
    aggregate. No self-join: the classic formulation is a k-way
    interval self-join that explodes on active users; this is a
    scan-shaped pass whose state per user is three timestamps.

    Exactness: timestamps become integer epoch MICROSECONDS via the
    proven `unix_micros`/`date_diff` parity (events_interarrival), so
    every MIN and gap comparison is integer arithmetic; counts are
    integers."""
    e = load_tables(spark, sf_dir).events
    tsm = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id")
    base = e.select("user_id", "event_type", tsm.alias("tsm"))
    w1 = base.withColumn(
        "t1",
        F.min(F.when(F.col("event_type") == "view", F.col("tsm"))).over(w),
    )
    w2 = w1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("tsm") > F.col("t1"))
                & (F.col("tsm") <= F.col("t1") + _FUNNEL_STEP_GAP_US),
                F.col("tsm"),
            )
        ).over(w),
    )
    w3 = w2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("tsm") > F.col("t2"))
                & (F.col("tsm") <= F.col("t2") + _FUNNEL_STEP_GAP_US),
                F.col("tsm"),
            )
        ).over(w),
    )
    per_user = w3.groupBy("user_id").agg(
        F.min("t1").alias("t1"), F.min("t2").alias("t2"), F.min("t3").alias("t3")
    )
    agg = per_user.agg(
        F.count("t1").alias("c1"),
        F.count("t2").alias("c2"),
        F.count("t3").alias("c3"),
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).cast("int").alias("step"),
                F.lit(n).alias("step_name"),
                F.col(f"c{i + 1}").alias("n_users"),
            )
            for i, n in enumerate(["view", "click", "purchase"])
        ]
    )
    return (
        agg.select(F.explode(rows).alias("r"))
        .select("r.step", "r.step_name", "r.n_users")
        .orderBy("step")
    )
