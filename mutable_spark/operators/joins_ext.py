"""Join kinds beyond the reference's inner/theta surface.

The reference supports only inner joins — "no join-type field exists on
JoinOperator" (`include/mutable/IR/Operator.hpp:318-356`, SURVEY §2.4).
A complete analytics engine needs the rest; each is a registered query
with a DuckDB oracle:

- left outer, left semi (EXISTS), left anti (NOT EXISTS)
- as-of join (most recent prior event) — built from window functions, one
  shuffle on the partition key; the `applyInPandas + pd.merge_asof`
  formulation is the fallback when the window-state trick doesn't fit
- range join (value-in-band against a band dimension) — broadcast
  non-equi join; at scale, bucketize the range key and equi-join on
  bucket + residual filter
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from mutable_spark.catalog import load_tables
from mutable_spark.functions import dsum, sql_dsum
from mutable_spark.registry import query
from mutable_spark.session import local_frame


@query(
    "op_join_left_outer",
    oracle=f"""
    SELECT c_custkey, c_name,
           COUNT(o_orderkey)            AS n_orders,
           {sql_dsum('o_totalprice')}   AS spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def op_join_left_outer(spark, sf_dir):
    """Left outer join + aggregation: customers with zero orders survive
    with NULL-driven COUNT=0 / SUM=NULL — the join kind the reference
    cannot express."""
    t = load_tables(spark, sf_dir)
    return (
        t.customer.join(
            t.orders, t.customer.c_custkey == t.orders.o_custkey, "left"
        )
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum("o_totalprice").alias("spend"),
        )
    )


@query(
    "op_join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
    """,
)
def op_join_semi(spark, sf_dir):
    """Left semi join = EXISTS: emits each qualifying left row once, never
    duplicates, and never materializes right columns — at 100 TB this
    halves the shuffle vs join+distinct."""
    t = load_tables(spark, sf_dir)
    big = t.orders.filter(F.col("o_totalprice") > 400000.0)
    return t.customer.join(
        big, t.customer.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "op_join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def op_join_anti(spark, sf_dir):
    """Left anti join = NOT EXISTS: customers with no orders at all."""
    t = load_tables(spark, sf_dir)
    return t.customer.join(
        t.orders, t.customer.c_custkey == t.orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "op_join_asof",
    oracle="""
    WITH tagged AS (
        SELECT user_id, ts, event_id, event_type,
               MAX(CASE WHEN event_type = 'click' THEN ts END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS last_click_ts
        FROM events
        WHERE event_type = 'click' OR event_type = 'purchase'
    )
    SELECT event_id, user_id, ts, last_click_ts
    FROM tagged WHERE event_type = 'purchase'
    """,
)
def op_join_asof(spark, sf_dir):
    """As-of join: for every purchase, the most recent click of the same
    user at or before it. Spark has no native as-of join; the scalable
    formulation is union-the-streams + a running MAX window over
    (user_id, ts) — one shuffle, no range explosion, works at any scale.
    (Alternative for wide payloads: applyInPandas + pd.merge_asof per
    user-group.) MAX(CASE…) mirrors DuckDB because both fold the window
    left-to-right over the identical (ts, event_id) total order."""
    e = load_tables(spark, sf_dir).events
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tagged = e.filter(F.col("event_type").isin("click", "purchase")).withColumn(
        "last_click_ts",
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).over(w),
    )
    return tagged.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "last_click_ts"
    )


@query(
    "op_join_range",
    oracle=f"""
    WITH bands(band, lo, hi) AS (
        VALUES ('low', 0.0, 20000.0), ('mid', 20000.0, 60000.0),
               ('high', 60000.0, 1000000000.0)
    )
    SELECT band, COUNT(*) AS cnt, {sql_dsum('l_extendedprice')} AS total
    FROM lineitem JOIN bands
      ON l_extendedprice >= lo AND l_extendedprice < hi
    GROUP BY band
    """,
)
def op_join_range(spark, sf_dir):
    """Range join: fact value ∈ [lo, hi) against a band dimension. The
    dimension broadcasts, so the non-equi condition is evaluated in a
    BroadcastNestedLoopJoin — linear in the fact table, no shuffle. For a
    *large* range side, bucketize: add floor(value/width) to both sides
    and equi-join on the bucket with the residual range filter."""
    li = load_tables(spark, sf_dir).lineitem
    spark_bands = local_frame(
        spark,
        [("low", 0.0, 20000.0), ("mid", 20000.0, 60000.0), ("high", 60000.0, 1e9)],
        "band string, lo double, hi double",
    )
    return (
        li.join(
            F.broadcast(spark_bands),
            (F.col("l_extendedprice") >= F.col("lo"))
            & (F.col("l_extendedprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("l_extendedprice").alias("total"))
    )


@query(
    "op_join_full_outer",
    oracle="""
    WITH c AS (SELECT c_nationkey AS k, COUNT(*) AS n_premium_cust
               FROM customer WHERE c_acctbal > 9900 GROUP BY 1),
         s AS (SELECT s_nationkey AS k, COUNT(*) AS n_neg_supp
               FROM supplier WHERE s_acctbal < 0 GROUP BY 1)
    SELECT COALESCE(c.k, s.k) AS nationkey, n_premium_cust, n_neg_supp
    FROM c FULL JOIN s ON c.k = s.k
    """,
)
def op_join_full_outer(spark, sf_dir):
    """Full outer join: per-nation premium-customer counts vs
    negative-balance-supplier counts, keeping nations that appear on only
    one side (NULL-padded on the other). At sf0.01 the result has rows of
    all three shapes — matched, customer-only, supplier-only. Both inputs
    are post-aggregation frames (≤ |nation| rows), so the full outer is a
    tiny sort-merge; at 100 TB the aggregation shuffles do the heavy
    lifting map-side first and the join cost stays O(|nation|). Spark
    cannot broadcast a full-outer side (both sides may need NULL
    padding) — the shuffle here is on the already-aggregated frames, not
    the base tables."""
    t = load_tables(spark, sf_dir)
    c = (
        t.customer.filter(F.col("c_acctbal") > 9900)
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_premium_cust"))
    )
    s = (
        t.supplier.filter(F.col("s_acctbal") < 0)
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_neg_supp"))
    )
    return c.join(s, c.k == s.k, "full").select(
        F.coalesce(c.k, s.k).alias("nationkey"),
        "n_premium_cust",
        "n_neg_supp",
    )
