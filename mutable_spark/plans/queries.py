"""The reference's relational operator surface (SURVEY.md §2), one registered
query per operator kind, expressed as idiomatic DataFrame plans with DuckDB
oracle SQL.

Operator inventory covered here (logical ops list:
`include/mutable/IR/Operator.hpp:560-572` in /root/reference):

- ScanOperator            → op_scan
- FilterOperator (CNF)    → op_filter_cnf
- DisjunctiveFilter       → op_filter_disjunctive
- ProjectionOperator      → op_projection_expr / op_expr_string /
                            op_expr_isnull_intcast
- JoinOperator            → op_join_equi / op_join_theta / op_join_nary /
                            op_cross_product
- GroupingOperator        → op_group_all_aggs / op_group_expr_alias
- AggregationOperator     → op_agg_global
- SortingOperator+Limit   → op_order_limit_offset
- HAVING-as-subquery      → op_having  (`src/IR/QueryGraph.cpp:1773-1788`)
- FROM-subquery           → op_subquery_from
- correlated-scalar decorrelation → op_subquery_scalar
                            (`src/IR/QueryGraph.cpp:24-340`)

Expression surface (SURVEY §2.3, complete fn list
`include/mutable/tables/Functions.tbl:10-20`): arithmetic `+ - * / %`,
unary `-`, bitwise `~`, string concat `..`, LIKE, comparisons, NOT/AND/OR,
ISNULL(), INT() cast — all exercised below with Spark built-ins only
(JVM-side, whole-stage-codegen friendly; no Python UDFs).

Determinism note: every float aggregate goes through the exact-DECIMAL
helpers in `mutable_spark.functions` so results are bit-identical to the
DuckDB oracle regardless of partitioning/summation order — correctness that
survives a 1000-executor shuffle, not just local[32].
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import functions as _f  # noqa: F401

from mutable_spark.catalog import load_tables
from mutable_spark.functions import (
    cents,
    davg,
    dsum,
    split_sum,
    sql_cents,
    sql_davg,
    sql_dsum,
    sql_split_sum,
)
from mutable_spark.registry import query


def TS(s: str):
    """Naive timestamp literal (testdata timestamps are TIMESTAMP_NTZ)."""
    return F.lit(s).cast("timestamp_ntz")


# --------------------------------------------------------------------------
# Scan
# --------------------------------------------------------------------------
@query(
    "op_scan",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def op_scan(spark, sf_dir):
    """Full table scan (ScanOperator, `Operator.hpp:251-276`): parquet scan,
    all columns, no predicate. At 100 TB this is a columnar scan whose
    parallelism comes from file splits; nothing to tune."""
    return load_tables(spark, sf_dir).nation.select(
        "n_nationkey", "n_name", "n_regionkey"
    )


# --------------------------------------------------------------------------
# Filters
# --------------------------------------------------------------------------
@query(
    "op_filter_cnf",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity >= 10 AND l_discount < 0.05 AND l_returnflag = 'N'
    """,
)
def op_filter_cnf(spark, sf_dir):
    """Conjunctive (CNF) filter (FilterOperator, `Operator.hpp:278-299`).
    All three conjuncts reach the parquet scan as PushedFilters — verified
    via .explain("formatted") — so row groups that can't match are skipped
    by min/max stats. That pushdown is the 100 TB win; no UDFs here."""
    li = load_tables(spark, sf_dir).lineitem
    return li.filter(
        (F.col("l_quantity") >= 10)
        & (F.col("l_discount") < 0.05)
        & (F.col("l_returnflag") == "N")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


@query(
    "op_filter_disjunctive",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
    FROM lineitem
    WHERE l_returnflag = 'R' OR l_quantity < 2.0 OR l_extendedprice > 90000.0
    """,
)
def op_filter_disjunctive(spark, sf_dir):
    """Single multi-literal OR clause (DisjunctiveFilterOperator,
    `Operator.hpp:301-316`; the reference short-circuits lazily). Spark's
    codegen short-circuits `Or` natively; the disjunction is still pushed
    to parquet as an OR-of-predicates."""
    li = load_tables(spark, sf_dir).lineitem
    return li.filter(
        (F.col("l_returnflag") == "R")
        | (F.col("l_quantity") < 2.0)
        | (F.col("l_extendedprice") > 90000.0)
    ).select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")


# --------------------------------------------------------------------------
# Projections / expression surface
# --------------------------------------------------------------------------
@query(
    "op_projection_expr",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           l_orderkey % 10                          AS bucket,
           -l_linenumber                            AS neg_line,
           l_orderkey + l_linenumber * 3 - 2        AS mixed,
           l_orderkey // 4                          AS quarter,
           ~l_suppkey                               AS flipped,
           l_extendedprice * (1.0 - l_discount)     AS disc_price
    FROM lineitem
    """,
)
def op_projection_expr(spark, sf_dir):
    """Arithmetic expression surface (ProjectionOperator,
    `Operator.hpp:358-414`; opcodes `src/tables/Opcodes.tbl`): `% + - *`,
    integer division (C-style truncation, like the reference's StackMachine),
    unary minus, bitwise `~` (`Parser.cpp:24-26` precedence), and a
    double-precision expression. Per-row IEEE ops are deterministic, so the
    raw doubles hash-match the oracle."""
    li = load_tables(spark, sf_dir).lineitem
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_orderkey") % 10).alias("bucket"),
        (-F.col("l_linenumber")).alias("neg_line"),
        (F.col("l_orderkey") + F.col("l_linenumber") * 3 - 2).alias("mixed"),
        F.expr("l_orderkey div 4").alias("quarter"),
        F.bitwise_not(F.col("l_suppkey")).alias("flipped"),
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias(
            "disc_price"
        ),
    )


@query(
    "op_expr_string",
    oracle="""
    SELECT n_name || '/' || r_name AS tag, n_nationkey
    FROM nation JOIN region ON n_regionkey = r_regionkey
    WHERE n_name LIKE '%A%' AND NOT (r_name LIKE '_SIA%')
    """,
)
def op_expr_string(spark, sf_dir):
    """String surface: concat `..` (`src/parse/Sema.cpp:794-811`) and LIKE
    with `%`/`_` wildcards (`Sema.cpp:910-925`), plus NOT. The nation⋈region
    join broadcasts the 5-row region side (Catalyst does this automatically
    under the autoBroadcastJoinThreshold)."""
    t = load_tables(spark, sf_dir)
    return (
        t.nation.join(
            t.region,
            t.nation.n_regionkey == t.region.r_regionkey,
        )
        .filter(F.col("n_name").like("%A%") & ~F.col("r_name").like("_SIA%"))
        .select(
            F.concat(F.col("n_name"), F.lit("/"), F.col("r_name")).alias("tag"),
            "n_nationkey",
        )
    )


@query(
    "op_expr_isnull_intcast",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           (NULLIF(l_returnflag, 'N') IS NULL)   AS was_n,
           CAST(TRUNC(l_quantity) AS BIGINT)     AS qty_int
    FROM lineitem
    """,
)
def op_expr_isnull_intcast(spark, sf_dir):
    """ISNULL(x) (`Sema.cpp:644-660`) and the INT() cast
    (`Functions.tbl:20`). The reference's INT() truncates (C++ semantics);
    Spark's double→long cast truncates too, while DuckDB's CAST rounds —
    hence TRUNC in the oracle. NULLIF manufactures NULLs (testdata has
    none) so the null path is actually exercised."""
    li = load_tables(spark, sf_dir).lineitem
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr("nullif(l_returnflag, 'N')").isNull().alias("was_n"),
        F.col("l_quantity").cast("long").alias("qty_int"),
    )


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------
@query(
    "op_join_equi",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice > 150000.0
    """,
)
def op_join_equi(spark, sf_dir):
    """Inner equi-join (JoinOperator, `Operator.hpp:318-356`; physical
    SimpleHashJoin `WasmOperator.cpp:5001-5296`). The o_totalprice filter is
    pushed below the join to the scan; at bench scale customer fits under
    the broadcast threshold, and at 100 TB both sides shuffle on the key
    with AQE skew-splitting enabled."""
    t = load_tables(spark, sf_dir)
    return (
        t.orders.filter(F.col("o_totalprice") > 150000.0)
        .join(t.customer, t.orders.o_custkey == t.customer.c_custkey)
        .select("o_orderkey", "o_totalprice", "c_name")
    )


@query(
    "op_join_theta",
    oracle="""
    SELECT a.n_name AS n1, b.n_name AS n2
    FROM nation a, nation b
    WHERE a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    """,
)
def op_join_theta(spark, sf_dir):
    """Theta join: arbitrary CNF predicate over two sources (the reference
    runs these on NestedLoopsJoin, `WasmOperator.cpp:4847-5000`). Spark
    extracts the equi-conjunct (n_regionkey) as the join key and applies
    the `<` residual as a post-join condition — hash join, not a cartesian
    product, which is what you want at scale."""
    t = load_tables(spark, sf_dir)
    a = t.nation.alias("a")
    b = t.nation.alias("b")
    return a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
    ).select(F.col("a.n_name").alias("n1"), F.col("b.n_name").alias("n2"))


@query(
    "op_join_nary",
    oracle=f"""
    SELECT n_name,
           {sql_split_sum(sql_cents('l_extendedprice')
                          + ' * (100 - ' + sql_cents('l_discount') + ')', 4)}
               AS revenue,
           COUNT(*) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def op_join_nary(spark, sf_dir):
    """N-ary join (JoinOperator accepts >2 children, `Operator.hpp:330-346`)
    + grouped aggregation: revenue per nation. Join order matters at scale:
    lineitem⋈orders first (largest, same cluster of keys), then the
    customer dimension, then broadcast 25-row nation last. Revenue runs as
    exact integer cents through split accumulators (see functions.split_sum
    — the r11 migration off per-row BigDecimal, measured 502 → 426 ms at
    sf0.1, value-identical), mirrored expression-for-expression by the
    oracle."""
    t = load_tables(spark, sf_dir)
    dp_c = cents("l_extendedprice") * (100 - cents("l_discount"))
    return (
        t.lineitem.join(
            t.orders, t.lineitem.l_orderkey == t.orders.o_orderkey
        )
        .join(t.customer, t.orders.o_custkey == t.customer.c_custkey)
        .join(t.nation, t.customer.c_nationkey == t.nation.n_nationkey)
        .withColumn("dp_c", dp_c)
        .groupBy("n_name")
        .agg(
            split_sum("dp_c", 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "op_cross_product",
    oracle="""
    SELECT a.r_name AS r1, b.r_name AS r2
    FROM region a CROSS JOIN region b
    """,
)
def op_cross_product(spark, sf_dir):
    """Cartesian product (comma-FROM with no predicate; the reference's
    PEall enumerates these, `src/IR/PlanEnumerator.cpp:33-63`). Explicit
    crossJoin — only ever sane when at least one side is tiny, as the
    5-row region is: Catalyst broadcasts it by its exact size."""
    t = load_tables(spark, sf_dir)
    a = t.region.alias("a")
    b = t.region.alias("b")
    return a.crossJoin(b).select(
        F.col("a.r_name").alias("r1"), F.col("b.r_name").alias("r2")
    )


# --------------------------------------------------------------------------
# Grouping / aggregation
# --------------------------------------------------------------------------
@query(
    "op_group_all_aggs",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           COUNT(*)                                   AS cnt_all,
           COUNT(NULLIF(l_linenumber, 1))             AS cnt_nonnull,
           {sql_dsum('l_extendedprice')}              AS sum_price,
           {sql_davg('l_extendedprice')}              AS avg_price,
           MIN(l_extendedprice)                       AS min_price,
           MAX(l_extendedprice)                       AS max_price,
           MIN(l_shipdate)                            AS min_ship,
           MAX(l_shipdate)                            AS max_ship
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def op_group_all_aggs(spark, sf_dir):
    """GroupingOperator with the complete aggregate set — COUNT(*)/COUNT(x)
    (null-skipping via the NULLIF-manufactured nulls), SUM, AVG, MIN, MAX
    (`Functions.tbl:10-19`; result-type rules `Sema.cpp:554-647`: AVG is
    DOUBLE, SUM widens). Spark does partial (map-side) aggregation before
    the shuffle automatically — the thing that makes this work at 100 TB."""
    li = load_tables(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt_all"),
        F.count(F.expr("nullif(l_linenumber, 1)")).alias("cnt_nonnull"),
        dsum("l_extendedprice").alias("sum_price"),
        davg("l_extendedprice").alias("avg_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


@query(
    "op_group_expr_alias",
    oracle=f"""
    SELECT o_orderkey % 7 AS bucket,
           COUNT(*)       AS cnt,
           {sql_dsum('o_totalprice')} AS total
    FROM orders
    GROUP BY o_orderkey % 7
    """,
)
def op_group_expr_alias(spark, sf_dir):
    """The reference's nonstandard `GROUP BY expr AS alias`
    (grammar `doc/syntax-grammar.md` group_by-clause) → groupBy on an
    aliased expression column."""
    o = load_tables(spark, sf_dir).orders
    return o.groupBy((F.col("o_orderkey") % 7).alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum("o_totalprice").alias("total"),
    )


@query(
    "op_agg_global",
    oracle=f"""
    SELECT COUNT(*)                      AS cnt,
           {sql_dsum('l_extendedprice')} AS total,
           {sql_davg('l_quantity')}      AS avg_qty,
           MIN(l_shipdate)               AS first_ship,
           MAX(l_extendedprice)          AS max_price
    FROM lineitem
    """,
)
def op_agg_global(spark, sf_dir):
    """Global aggregation without grouping — exactly one output row
    (AggregationOperator, `Operator.hpp:503-538`)."""
    li = load_tables(spark, sf_dir).lineitem
    return li.agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum("l_extendedprice").alias("total"),
        davg("l_quantity").alias("avg_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_extendedprice").alias("max_price"),
    )


# --------------------------------------------------------------------------
# Sort / limit / offset
# --------------------------------------------------------------------------
@query(
    "op_order_limit_offset",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
    LIMIT 10 OFFSET 5
    """,
)
def op_order_limit_offset(spark, sf_dir):
    """SortingOperator (`Operator.hpp:540-558`) + LimitOperator with OFFSET
    (`Operator.hpp:416-440`). The sort key includes the unique
    (l_orderkey, l_linenumber) tiebreak so the limited prefix is
    deterministic. Catalyst turns orderBy+limit into TakeOrderedAndProject
    (distributed top-k: per-partition heaps, no global sort) — the
    reference needs a full materializing quicksort for this."""
    li = load_tables(spark, sf_dir).lineitem
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .offset(5)
        .limit(10)
    )


# --------------------------------------------------------------------------
# HAVING / subqueries
# --------------------------------------------------------------------------
@query(
    "op_having",
    oracle=f"""
    SELECT l_partkey, {sql_dsum('l_quantity')} AS qty
    FROM lineitem
    GROUP BY l_partkey
    HAVING {sql_dsum('l_quantity')} > 120.0
    """,
)
def op_having(spark, sf_dir):
    """HAVING — the reference rewrites it as a filter over a subquery
    wrapping the grouped query (`src/IR/QueryGraph.cpp:1773-1788`); the
    DataFrame equivalent is literally agg-then-filter, which is the same
    rewrite."""
    li = load_tables(spark, sf_dir).lineitem
    return (
        li.groupBy("l_partkey")
        .agg(dsum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 120.0)
    )


@query(
    "op_subquery_from",
    oracle=f"""
    SELECT c_name, spend
    FROM (
        SELECT o_custkey, {sql_dsum('o_totalprice')} AS spend
        FROM orders GROUP BY o_custkey
    ) s
    JOIN customer ON s.o_custkey = c_custkey
    WHERE spend > 1000000.0
    """,
)
def op_subquery_from(spark, sf_dir):
    """FROM-subquery with alias renaming (`Optimizer.cpp:242-249`): grouped
    subquery joined back to a dimension."""
    t = load_tables(spark, sf_dir)
    spend = t.orders.groupBy("o_custkey").agg(dsum("o_totalprice").alias("spend"))
    return (
        spend.filter(F.col("spend") > 1000000.0)
        .join(t.customer, spend.o_custkey == t.customer.c_custkey)
        .select("c_name", "spend")
    )


@query(
    "op_subquery_scalar",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, c.c_acctbal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT {sql_dsum('c2.c_acctbal')} / COUNT(*)
        FROM customer c2
        WHERE c2.c_nationkey = c.c_nationkey
    )
    """,
)
def op_subquery_scalar(spark, sf_dir):
    """Correlated scalar subquery, decorrelated exactly the way the
    reference's QueryGraph does it (`src/IR/QueryGraph.cpp:24-340`): group
    the inner query by the correlation key (c_nationkey), then join the
    aggregate back and filter. One shuffle on a low-cardinality key; the
    per-nation averages are tiny and broadcast back."""
    c = load_tables(spark, sf_dir).customer
    # dsum, not a decimal-sum cast: the oracle's sql_dsum moved to the
    # split-accumulator form in r11 and the two formulas differ bitwise
    # for 16/25 per-nation averages (r11 ADVICE) — both engines must run
    # the IDENTICAL recombination. c_acctbal is signed; split div/% parity
    # on negatives is verified engine-identical (functions module note).
    navg = c.groupBy("c_nationkey").agg(
        (dsum("c_acctbal") / F.count(F.lit(1))).alias("nation_avg")
    )
    return (
        c.join(
            F.broadcast(navg.withColumnRenamed("c_nationkey", "nk")),
            c.c_nationkey == F.col("nk"),
        )
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_name", "c_acctbal")
    )


@query(
    "op_group_join",
    oracle="""
    SELECT c_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_spent,
           MIN(o_orderdate) AS first_order
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def op_group_join(spark, sf_dir):
    """Group-join: aggregate the join result BY THE JOIN KEY — the shape
    the reference fuses into one physical HashBasedGroupJoin operator
    (`src/backend/WasmOperator.cpp` HashBasedGroupJoin;
    `benchmark/phys-cost-models/hash-based-group-join/hbgj_vs_shj_hbg.yml`
    measures it against SimpleHashJoin + separate grouping). SURVEY §2.1
    delegates the fusion to Catalyst, and this op makes that delegation a
    measured, driver-gated claim instead of a design note: the join
    shuffles both sides on the key, and because the grouping key IS the
    join key, the aggregation REUSES the join's hash partitioning — no
    third exchange exists in the plan (pinned in
    tests/test_plan_shape.py: exactly 2 Exchanges). That partitioning
    reuse is precisely what the reference's fusion buys; Spark gets it
    from the exchange-placement rule rather than a fused operator.

    The SHUFFLE_HASH hint pins the shuffled plan: at test SF customer
    would auto-broadcast, and a broadcast join provides no partitioning
    for the aggregation to reuse — the hinted plan is the honest 100 TB
    shape (neither side of customer⋈orders broadcasts there).

    Exactness: COUNT/MIN are order-free; the spend sum folds in
    DECIMAL(18,2) and casts to double once — bit-identical to the oracle
    at any parallelism."""
    t = load_tables(spark, sf_dir)
    joined = t.customer.select("c_custkey").hint("shuffle_hash").join(
        t.orders.select("o_custkey", "o_totalprice", "o_orderdate"),
        F.col("c_custkey") == F.col("o_custkey"),
    )
    return joined.groupBy("c_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_spent"),
        F.min("o_orderdate").alias("first_order"),
    )


@query(
    "op_merge_upsert",
    oracle="""
    WITH delta AS (
        SELECT o_orderkey AS k,
               CAST(CAST(o_totalprice AS DECIMAL(18,2))
                    + CAST(1.00 AS DECIMAL(18,2)) AS DOUBLE) AS new_price
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 1000000000 AS k,
               CAST(CAST(99.99 AS DECIMAL(18,2)) AS DOUBLE) AS new_price
        FROM orders WHERE o_orderkey % 100 = 0
    ),
    merged AS (
        SELECT COALESCE(o.o_orderkey, d.k) AS o_orderkey,
               CASE WHEN d.k IS NULL THEN 'keep'
                    WHEN o.o_orderkey IS NULL THEN 'insert'
                    ELSE 'update' END AS action,
               CASE WHEN d.k IS NULL THEN o.o_totalprice
                    ELSE d.new_price END AS price
        FROM orders o FULL OUTER JOIN delta d ON o.o_orderkey = d.k
    )
    SELECT action,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM merged GROUP BY action
    """,
)
def op_merge_upsert(spark, sf_dir):
    """MERGE INTO (upsert) semantics as one declarative plan — the
    lakehouse verb the reference's INSERT/UPDATE/DELETE surface stops
    short of (its UPDATE is parsed-unimplemented, `Sema.cpp:1884`; our
    dialect executes it copy-on-write, and this op completes the family):
    WHEN MATCHED THEN UPDATE, WHEN NOT MATCHED THEN INSERT, unmatched
    target rows kept. The delta is derived deterministically from the
    table itself (every 10th key updated +1.00, every 100th key
    re-keyed high as an insert), so the op needs no extra testdata and
    the oracle rebuilds the identical delta.

    The merge IS a FULL OUTER equi-join plus per-row CASE arbitration —
    exactly how Delta/Iceberg execute MERGE on Spark underneath (minus
    their file-level pruning, which is storage-format work, not plan
    work). Summary output (per-action counts + DECIMAL-exact totals)
    keeps the result driver-hashable while pinning every branch of the
    arbitration.

    Scale: one shuffle per side on the merge key; AQE handles the
    skew; the arbitration is a pure map. Copy-on-write semantics at
    100 TB mean the anti-join-rewrite pattern of `versioning.py` —
    this op pins the MERGE arbitration itself."""
    t = load_tables(spark, sf_dir)
    o = t.orders.select("o_orderkey", "o_totalprice")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    delta = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            (dec("o_totalprice") + F.lit(1.00).cast("decimal(18,2)"))
            .cast("double")
            .alias("new_price"),
        )
        .unionAll(
            o.filter(F.col("o_orderkey") % 100 == 0).select(
                (F.col("o_orderkey") + 1000000000).alias("k"),
                F.lit(99.99).cast("decimal(18,2)").cast("double").alias("new_price"),
            )
        )
    )
    merged = o.join(delta, o.o_orderkey == delta.k, "full_outer").select(
        F.coalesce(o.o_orderkey, F.col("k")).alias("o_orderkey"),
        F.when(F.col("k").isNull(), "keep")
        .when(o.o_orderkey.isNull(), "insert")
        .otherwise("update")
        .alias("action"),
        F.when(F.col("k").isNull(), F.col("o_totalprice"))
        .otherwise(F.col("new_price"))
        .alias("price"),
    )
    return merged.groupBy("action").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("price").cast("decimal(18,2)")).cast("double").alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )
