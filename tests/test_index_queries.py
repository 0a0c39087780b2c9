"""Plan-shape and pruning assertions for the zone-index scan and the
SPN-planned dialect join (`mutable_spark/plans/index_queries.py`) — the
oracle equality itself is covered by `test_queries_oracle.py`; these pin
the *mechanism*: files actually skipped, SPN estimates actually reaching
the planner's order/broadcast decisions."""

from __future__ import annotations

import pyspark.sql.functions as F

from mutable_spark.plans.index_queries import (
    _SPN_FILTERS,
    _key_range,
    _keyed_orders_layout,
    _spn_models,
    spn_planner,
)
from tests.conftest import SF_DIR


def test_zone_index_prunes_files_and_loses_no_rows(spark):
    from mutable_spark.sources.indexes import ZoneIndex

    layout = _keyed_orders_layout(spark, SF_DIR)
    lo, hi = _key_range(spark, layout)
    zi = ZoneIndex.build(str(layout), "o_custkey", learned=True)
    pruned = zi.files_for_range(lo, hi)
    # the range layout concentrates the key range in few files — most of
    # the dataset must be skipped, from footer metadata alone
    assert len(pruned) < len(zi.zones) / 2, (len(pruned), len(zi.zones))
    # pruning is an I/O layer, never a correctness layer: the pruned scan
    # equals the full scan + filter row-for-row
    full = (
        spark.read.parquet(str(layout))
        .filter(F.col("o_custkey").between(lo, hi))
        .count()
    )
    assert zi.read_pruned(spark, lo, hi).count() == full


def test_zone_index_scan_reads_only_pruned_files(spark):
    from mutable_spark.sources.indexes import ZoneIndex

    layout = _keyed_orders_layout(spark, SF_DIR)
    lo, hi = _key_range(spark, layout)
    zi = ZoneIndex.build(str(layout), "o_custkey", learned=True)
    pruned = set(zi.files_for_range(lo, hi))
    df = zi.read_pruned(spark, lo, hi)
    scanned = {
        r[0]
        for r in df.select(
            F.input_file_name().alias("f")
        ).distinct().collect()
    }
    # every scanned file is one the index admitted (file:// prefix aside)
    assert all(any(s.endswith(p.split("/")[-1]) for p in pruned) for s in scanned)
    assert len(scanned) <= len(pruned)


def test_spn_estimates_drive_order_and_broadcast(spark):
    """The SpnEstimator integration on real testdata: the o_totalprice
    filter shrinks orders' SPN estimate below the broadcast threshold,
    flipping it from the middle of the join order into a broadcast side."""
    models = _spn_models(spark, SF_DIR)
    unfiltered = spn_planner(spark, SF_DIR, None)
    filtered = spn_planner(spark, SF_DIR, _SPN_FILTERS)
    # the filter's SPN selectivity reaches the planner: orders' base
    # estimate collapses and the filtered side becomes a broadcast
    # candidate (at tiny SFs the unfiltered table may already be under the
    # absolute broadcast bar — the scale-invariant claim is the shrink)
    assert filtered.cards.base["o"] < unfiltered.cards.base["o"] / 5
    assert filtered.should_broadcast("o", {})
    # and the unfiltered estimate is sane vs truth (loose q-error bound)
    true_o = models["o"].n_rows
    assert 0.5 <= unfiltered.cards.base["o"] / true_o <= 2.0


def test_spn_planned_join_broadcasts_filtered_orders(spark):
    from mutable_spark.registry import QUERIES, load_all

    load_all()
    df = QUERIES["dialect_spn_planned_join"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_compiler_derives_spn_filters_from_where():
    """The compiler → SpnEstimator hand-off: single-source numeric AND
    string comparisons in WHERE become the planner's filter dict
    (including flipped literal-first comparisons; string values pass raw
    for the model's rank dictionary); everything else contributes nothing
    (selectivity 1)."""
    from mutable_spark.dialect import ast_nodes as A
    from mutable_spark.dialect.compiler import _spn_filter_dict

    des = lambda a: A.Designator(table="o", attr=a)
    num = lambda v: A.Literal(value=v, kind="float" if isinstance(v, float) else "int")
    conjuncts = [
        A.Binary(op=">", left=des("o_totalprice"), right=num(450_000.0)),
        A.Binary(op="<", left=num(7), right=des("o_shippriority")),  # flips to >
        A.Binary(op="=", left=des("o_orderstatus"), right=A.Literal(value="F", kind="str")),
        A.Binary(op="+", left=des("o_custkey"), right=num(1)),  # not a comparison
    ]
    assert _spn_filter_dict(conjuncts) == {
        "o_totalprice": [(">", 450_000.0)],
        "o_shippriority": [(">", 7.0)],
        "o_orderstatus": [("=", "F")],
    }


def test_with_spn_filters_reestimates_base_cards(spark):
    """JoinPlanner.with_spn_filters: derived filters shrink the filtered
    alias' base estimate exactly as the hand-fed dict did, and leave
    model-less aliases untouched."""
    planner = spn_planner(spark, SF_DIR)
    refined = planner.with_spn_filters(_SPN_FILTERS, {})
    assert refined.cards.base["o"] < planner.cards.base["o"] / 5
    assert refined.cards.base["l"] == planner.cards.base["l"]
    assert refined.should_broadcast("o", {})


def test_spn_models_estimate_date_filters(spark):
    """DATE columns are SPN-modeled as days-since-epoch (the reference's
    DATE is a 32-bit integer, `Type.hpp:334-360`): a shipdate range filter
    estimates within a loose q-error of the true count, and the dialect
    compiler's derived filter dict carries the same encoding."""
    import pyspark.sql.functions as F

    from mutable_spark.catalog import load_tables
    from mutable_spark.dialect import ast_nodes as A
    from mutable_spark.dialect.compiler import _spn_filter_dict
    from mutable_spark.plans.spn import date_to_spn_value

    models = _spn_models(spark, SF_DIR)
    cut = "1995-06-17"
    filt = {"l_shipdate": [("<=", date_to_spn_value(cut))]}
    est = models["l"].estimate_rows(filt)
    true = (
        load_tables(spark, SF_DIR)
        .lineitem.filter(F.col("l_shipdate") <= F.lit(cut).cast("date"))
        .count()
    )
    assert true / 4 <= est <= true * 4, (est, true)

    # the compiler derives the identical encoding from a date literal
    conj = [
        A.Binary(
            op="<=",
            left=A.Designator(table="l", attr="l_shipdate"),
            right=A.Literal(value=cut, kind="date"),
        )
    ]
    assert _spn_filter_dict(conj) == filt


# --- dialect-path zone index (VERDICT r5 item #4) --------------------------
def _zoned_engine(spark):
    from mutable_spark.dialect import Engine
    from mutable_spark.plans.index_queries import _keyed_orders_layout

    layout = _keyed_orders_layout(spark, SF_DIR)
    eng = Engine(spark)
    eng.catalog.create_database("zt")
    eng.catalog.use("zt")
    eng.create_table_from_parquet("orders", str(layout))
    return eng, layout


def test_create_index_builds_zone_layout(spark):
    """CREATE INDEX on a parquet-backed table builds a real file-zone
    index; DROP INDEX removes it; a second index on the same column keeps
    the zone index alive until the last name is dropped."""
    eng, _ = _zoned_engine(spark)
    orders = eng.catalog.record("orders")
    assert orders.zones == {}
    eng.execute("CREATE INDEX i1 ON orders USING rmi (o_custkey)")
    assert "o_custkey" in orders.zones and len(orders.zones["o_custkey"].zones) > 1
    eng.execute("CREATE INDEX i2 ON orders (o_custkey)")
    eng.execute("DROP INDEX i1")
    assert "o_custkey" in orders.zones  # i2 still covers
    eng.execute("DROP INDEX i2")
    assert "o_custkey" not in orders.zones


def test_create_index_without_backing_is_metadata_only(spark):
    """CREATE INDEX on an in-memory table stays catalog metadata (no file
    layout to prune) and SELECTs still work."""
    from mutable_spark.dialect import Engine

    eng = Engine(spark)
    eng.catalog.create_database("zm")
    eng.catalog.use("zm")
    eng.execute("CREATE TABLE r (key INT(4) PRIMARY KEY)")
    eng.execute("INSERT INTO r VALUES (1), (2), (3)")
    eng.execute("CREATE INDEX ri ON r (key)")
    assert eng.catalog.record("r").zones == {}
    assert len(eng.execute("SELECT key FROM r WHERE key >= 2").collect()) == 2


def test_dialect_range_scan_prunes_files(spark):
    """A dialect WHERE range over the indexed column reads a strict file
    subset; strict (>) bounds and extra predicates stay exact via the
    residual filters."""
    import pyspark.sql.functions as FF

    eng, layout = _zoned_engine(spark)
    eng.execute("CREATE INDEX i1 ON orders USING rmi (o_custkey)")
    total_files = len(spark.read.parquet(str(layout)).inputFiles())
    m = spark.read.parquet(str(layout)).agg(FF.max("o_custkey")).collect()[0][0]
    lo, hi = int(0.2 * m), int(0.3 * m)

    df = eng.execute(
        f"SELECT o_orderkey FROM orders WHERE o_custkey > {lo} AND o_custkey < {hi}"
    )
    assert 0 < len(df.inputFiles()) < total_files
    want = (
        spark.read.parquet(str(layout))
        .filter((FF.col("o_custkey") > lo) & (FF.col("o_custkey") < hi))
        .select("o_orderkey")
    )
    assert sorted(r[0] for r in df.collect()) == sorted(r[0] for r in want.collect())

    # no range predicate -> no pruning path, full scan, same engine
    full = eng.execute("SELECT COUNT() AS n FROM orders")
    assert full.collect()[0][0] == spark.read.parquet(str(layout)).count()


def test_dialect_zone_scan_joins_and_subqueries_unaffected(spark):
    """The pruned scan composes with a join: only the indexed side's scan
    shrinks, results equal the unpruned plan."""
    import pyspark.sql.functions as FF

    eng, layout = _zoned_engine(spark)
    eng.execute("CREATE INDEX i1 ON orders USING rmi (o_custkey)")
    eng.register("customer", spark.read.parquet(f"{SF_DIR}/customer.parquet"))
    m = spark.read.parquet(str(layout)).agg(FF.max("o_custkey")).collect()[0][0]
    lo, hi = int(0.2 * m), int(0.4 * m)
    df = eng.execute(
        f"""
        SELECT c.c_mktsegment, COUNT() AS n
        FROM orders AS o, customer AS c
        WHERE o.o_custkey = c.c_custkey AND o.o_custkey >= {lo} AND o.o_custkey <= {hi}
        GROUP BY c.c_mktsegment
        """
    )
    orders = spark.read.parquet(str(layout))
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    want = (
        orders.filter((FF.col("o_custkey") >= lo) & (FF.col("o_custkey") <= hi))
        .join(cust, FF.col("o_custkey") == FF.col("c_custkey"))
        .groupBy("c_mktsegment")
        .count()
    )
    got = {(r[0], r[1]) for r in df.collect()}
    assert got == {(r[0], r[1]) for r in want.collect()}


# --- SPN string leaves (VERDICT r5 item #5) --------------------------------
def test_spn_string_estimates_match_truth(spark):
    """Rank-dictionary discrete leaves estimate string equalities from
    data: single equality within a loose q-error of the true count,
    conjunction within q-error of the true joint count, unseen value -> 0,
    and lexicographic ranges behave like the data."""
    import pyspark.sql.functions as FF

    from mutable_spark.catalog import load_tables

    models = _spn_models(spark, SF_DIR)
    o = load_tables(spark, SF_DIR).orders
    m = models["o"]

    true_f = o.filter(FF.col("o_orderstatus") == "F").count()
    est_f = m.estimate_rows({"o_orderstatus": [("=", "F")]})
    assert true_f / 2 <= est_f <= true_f * 2

    true_both = o.filter(
        (FF.col("o_orderstatus") == "F") & (FF.col("o_orderpriority") == "1-URGENT")
    ).count()
    est_both = m.estimate_rows(
        {"o_orderstatus": [("=", "F")], "o_orderpriority": [("=", "1-URGENT")]}
    )
    assert true_both / 3 <= est_both <= true_both * 3

    assert m.estimate_rows({"o_orderstatus": [("=", "ZZZ")]}) == 0.0

    # order-preserving codes: a lexicographic range estimates like the data
    true_rng = o.filter(
        (FF.col("o_orderpriority") >= "1-URGENT")
        & (FF.col("o_orderpriority") <= "3-MEDIUM")
    ).count()
    est_rng = m.estimate_rows(
        {"o_orderpriority": [(">=", "1-URGENT"), ("<=", "3-MEDIUM")]}
    )
    assert true_rng / 2 <= est_rng <= true_rng * 2


def test_string_filter_flips_plan(spark):
    """The VERDICT r5 #5 flip: string-equality predicates pull orders'
    estimate under the broadcast bar (unfiltered it is above), and the
    compiled dialect query's physical plan broadcasts the filtered side."""
    from mutable_spark.registry import QUERIES, load_all

    unfiltered = spn_planner(spark, SF_DIR, None)
    sfilters = {
        "o": {
            "o_orderstatus": [("=", "F")],
            "o_orderpriority": [("=", "1-URGENT")],
        }
    }
    filtered = spn_planner(spark, SF_DIR, sfilters)
    # (at tiny SFs the unfiltered table may already be under the absolute
    # broadcast bar — the scale-invariant claims are the shrink and the
    # order relation vs customer)
    assert filtered.cards.base["o"] < unfiltered.cards.base["o"] / 5
    assert filtered.should_broadcast("o", {})
    # and the join tree changes: the filtered orders estimate drops below
    # customer, flipping which side of the first merge is smaller
    assert filtered.cards.base["o"] < filtered.cards.base["c"]
    assert unfiltered.cards.base["o"] > unfiltered.cards.base["c"]

    load_all()
    df = QUERIES["dialect_spn_string_filter"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_dialect_date_range_scan_prunes_files(spark, tmp_path):
    """Time-range pruning over a date-partitioned layout — the canonical
    100 TB pattern: a dialect WHERE over date literals reads only the
    files whose footer time range intersects, and results equal the full
    scan (residual predicates compiled with dialect coercion)."""
    import pyspark.sql.functions as FF

    from mutable_spark.dialect import Engine

    layout = tmp_path / "orders_by_date"
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    orders.repartitionByRange(8, "o_orderdate").write.parquet(str(layout))

    eng = Engine(spark)
    eng.catalog.create_database("zd")
    eng.catalog.use("zd")
    eng.create_table_from_parquet("orders", str(layout))
    eng.execute("CREATE INDEX od ON orders USING rmi (o_orderdate)")

    total_files = len(spark.read.parquet(str(layout)).inputFiles())
    df = eng.execute(
        "SELECT COUNT() AS n FROM orders "
        "WHERE o_orderdate >= d'1996-01-01' AND o_orderdate < d'1996-07-01'"
    )
    assert 0 < len(df.inputFiles()) < total_files, (
        f"{len(df.inputFiles())}/{total_files} files"
    )
    want = (
        spark.read.parquet(str(layout))
        .filter(
            (FF.col("o_orderdate") >= "1996-01-01")
            & (FF.col("o_orderdate") < "1996-07-01")
        )
        .count()
    )
    assert df.collect()[0][0] == want


def test_mutation_invalidates_zone_backing(spark):
    """INSERT/UPDATE/DELETE on a parquet-backed indexed table must drop
    the file-zone backing: a pruned scan over the ORIGINAL files would
    silently miss inserted rows and resurrect deleted ones (round-6
    review finding)."""
    eng, layout = _zoned_engine(spark)
    eng.execute("CREATE INDEX i1 ON orders USING rmi (o_custkey)")
    orders = eng.catalog.record("orders")
    assert orders.zones and orders.path == str(layout)  # index built
    total = spark.read.parquet(str(layout)).count()

    eng.execute(
        "INSERT INTO orders VALUES (999999001, 42, \"O\", 1.0, d'1996-01-01', \"1-URGENT\")"
    )
    assert orders.zones == {} and orders.path is None
    # the inserted row is visible through a range SELECT (no stale prune)
    n = eng.execute(
        "SELECT COUNT() AS n FROM orders WHERE o_custkey >= 42 AND o_custkey <= 42"
    ).collect()[0][0]
    want = (
        spark.read.parquet(str(layout))
        .filter("o_custkey = 42")
        .count()
        + 1
    )
    assert n == want
    assert eng.execute("SELECT COUNT() AS n FROM orders").collect()[0][0] == total + 1


def test_two_indexes_intersect_file_sets(spark, tmp_path):
    """With indexes on two columns, a query bounding both reads the
    INTERSECTION of the admissible file sets — a point predicate on the
    second index tightens a wide range on the first (round-6 review
    finding: first-index-wins ignored the tighter bound)."""
    import pyspark.sql.functions as FF

    from mutable_spark.dialect import Engine

    # k ascending, v descending: range layouts by k cluster v inversely,
    # so bounding both genuinely intersects different file subsets
    src = spark.range(0, 4000).select(
        FF.col("id").alias("k"), (3999 - FF.col("id")).alias("v")
    )
    layout = tmp_path / "two_idx"
    src.repartitionByRange(8, "k").write.parquet(str(layout))

    eng = Engine(spark)
    eng.catalog.create_database("zi2")
    eng.catalog.use("zi2")
    eng.create_table_from_parquet("t", str(layout))
    eng.execute("CREATE INDEX ik ON t (k)")
    eng.execute("CREATE INDEX iv ON t (v)")

    wide = eng.execute("SELECT COUNT() AS n FROM t WHERE k >= 0 AND k <= 3999")
    both = eng.execute(
        "SELECT COUNT() AS n FROM t WHERE k >= 0 AND k <= 3999 AND v >= 100 AND v <= 150"
    )
    assert len(both.inputFiles()) < len(wide.inputFiles())
    assert both.collect()[0][0] == 51


def test_drop_database_purges_zone_backing(spark):
    """DROP DATABASE must purge parquet-backing state for its tables: a
    recreated database+table would otherwise serve the dropped files
    through the pruned-scan swap (round-6 review finding)."""
    eng, layout = _zoned_engine(spark)  # creates+uses db 'zt'
    eng.execute("CREATE INDEX i1 ON orders USING rmi (o_custkey)")
    assert eng.catalog.record("orders").zones
    eng.catalog.create_database("other")
    eng.catalog.use("other")
    eng.execute("DROP DATABASE zt")
    assert "zt" not in eng.catalog.databases and "zt" not in eng.catalog.indexes
    # recreated db+table: in-memory, no stale pruning, fresh results
    eng.execute("CREATE DATABASE zt")
    eng.catalog.use("zt")
    eng.execute("CREATE TABLE orders (o_custkey INT(8) PRIMARY KEY)")
    orders = eng.catalog.record("orders")
    assert orders.path is None and orders.zones == {}
    eng.execute("INSERT INTO orders VALUES (7)")
    rows = eng.execute(
        "SELECT o_custkey FROM orders WHERE o_custkey >= 0"
    ).collect()
    assert [r[0] for r in rows] == [7]


def test_table_record_lives_and_dies_with_its_table(spark):
    """A table's CHAR limits, backing path and zone map belong to its
    catalog record: DROP TABLE takes them along, so a re-created table
    starts from its own declaration, and two databases that each hold a
    table ``t`` keep their own state across USE."""
    from mutable_spark.dialect import Engine
    from mutable_spark.plans.index_queries import _keyed_orders_layout

    def rows():
        return [tuple(r) for r in eng.execute("SELECT o_custkey, s FROM t").collect()]

    eng = Engine(spark)
    eng.execute("CREATE DATABASE za")
    eng.execute("USE za")
    eng.create_table_from_parquet("t", str(_keyed_orders_layout(spark, SF_DIR)))
    eng.execute("CREATE INDEX i ON t USING rmi (o_custkey)")
    eng.execute("CREATE DATABASE zb")
    eng.execute("USE zb")
    eng.execute("CREATE TABLE t (o_custkey INT(8), s CHAR(4))")
    eng.execute("CREATE INDEX i ON t (o_custkey)")
    eng.execute('INSERT INTO t VALUES (1, "abcdef")')
    assert rows() == [(1, "abcd")]
    assert eng.catalog.record("t").zones == {}

    eng.execute("USE za")
    assert "o_custkey" in eng.catalog.record("t").zones
    assert eng.catalog.record("t").char_limits == {}
    eng.execute("USE zb")
    assert eng.catalog.record("t").char_limits == {"s": 4}

    # re-created with a narrower CHAR: the old limit died with the table
    eng.execute("DROP TABLE t")
    eng.execute("CREATE TABLE t (o_custkey INT(8), s CHAR(2))")
    eng.execute('INSERT INTO t VALUES (2, "abcdef")')
    assert rows() == [(2, "ab")]

    # the parquet-backed table re-created in memory: its path died too,
    # so CREATE INDEX stays metadata and builds no zone map
    eng.execute("USE za")
    eng.execute("DROP TABLE t")
    eng.execute("CREATE TABLE t (o_custkey INT(8), s CHAR(3))")
    eng.execute("CREATE INDEX i ON t (o_custkey)")
    assert eng.catalog.record("t").path is None
    assert eng.catalog.record("t").zones == {}
    eng.execute('INSERT INTO t VALUES (3, "abcdef")')
    assert rows() == [(3, "abc")]

    eng.execute("USE zb")
    assert eng.catalog.record("t").char_limits == {"s": 2}
    assert rows() == [(2, "ab")]


# --- LIKE-prefix selectivity (VERDICT r7 item #7) --------------------------
def test_like_prefix_range_derivation():
    """`x LIKE 'abc%'` IS the lexicographic rank range ['abc', 'abd'):
    the estimable shapes, and the conservative None for everything the
    rank dictionary cannot integrate."""
    from mutable_spark.dialect.compiler import _like_prefix_range

    assert _like_prefix_range("abc%") == [(">=", "abc"), ("<", "abd")]
    assert _like_prefix_range("exact") == [("=", "exact")]  # no wildcard
    assert _like_prefix_range("%") == []  # matches every non-NULL string
    # non-prefix shapes estimate as selectivity 1, never a wrong range
    assert _like_prefix_range("a_c%") is None
    assert _like_prefix_range("a%b") is None
    assert _like_prefix_range("a\\%") is None


def test_compiler_derives_spn_filters_from_like_prefix():
    from mutable_spark.dialect import ast_nodes as A
    from mutable_spark.dialect.compiler import _spn_filter_dict

    conj = [
        A.Binary(
            op="LIKE",
            left=A.Designator(table="o", attr="o_orderstatus"),
            right=A.Literal(value="P%", kind="str"),
        ),
        A.Binary(
            op="LIKE",
            left=A.Designator(table="o", attr="o_orderpriority"),
            right=A.Literal(value="1%", kind="str"),
        ),
        # a non-prefix pattern contributes nothing
        A.Binary(
            op="LIKE",
            left=A.Designator(table="o", attr="o_comment"),
            right=A.Literal(value="%rare%", kind="str"),
        ),
    ]
    assert _spn_filter_dict(conj) == {
        "o_orderstatus": [(">=", "P"), ("<", "Q")],
        "o_orderpriority": [(">=", "1"), ("<", "2")],
    }


def test_like_prefix_filter_flips_join_order(spark):
    """The r7 item #7 flip: LIKE-prefix predicates, rank-range-estimated
    by the SPN's order-preserving string dictionaries, pull orders'
    estimate below customer's — flipping which side of the first merge
    is smaller — and under the broadcast bar."""
    from mutable_spark.dialect import ast_nodes as A
    from mutable_spark.dialect.compiler import _spn_filter_dict

    conj = [
        A.Binary(
            op="LIKE",
            left=A.Designator(table="o", attr="o_orderstatus"),
            right=A.Literal(value="P%", kind="str"),
        ),
        A.Binary(
            op="LIKE",
            left=A.Designator(table="o", attr="o_orderpriority"),
            right=A.Literal(value="1%", kind="str"),
        ),
    ]
    sfilters = {"o": _spn_filter_dict(conj)}
    unfiltered = spn_planner(spark, SF_DIR, None)
    filtered = spn_planner(spark, SF_DIR, sfilters)
    # the rank-range estimate lands near truth (~1/3 x ~1/5 of orders)
    true = 1 / 15
    est = filtered.cards.base["o"] / unfiltered.cards.base["o"]
    assert true / 2 <= est <= true * 2, (est, true)
    # and the join tree changes: orders drops below customer
    assert unfiltered.cards.base["o"] > unfiltered.cards.base["c"]
    assert filtered.cards.base["o"] < filtered.cards.base["c"]
    assert filtered.should_broadcast("o", {})


def test_like_prefix_prunes_zone_index_files(spark):
    """The LIKE-prefix rank range reaches the I/O layer too: a dialect
    `source LIKE 'src1%'` over a string-zone-indexed layout reads a
    strict file subset (['src1', 'src2') against the footer ranges) and
    returns exactly the full-scan answer — the same derivation the SPN
    estimator uses, applied to file pruning."""
    import pyspark.sql.functions as F

    from mutable_spark.dialect import Engine
    from mutable_spark.plans.index_queries import _source_sorted_docs_layout

    layout = _source_sorted_docs_layout(spark, SF_DIR)
    eng = Engine(spark)
    eng.catalog.create_database("zlike")
    eng.catalog.use("zlike")
    eng.create_table_from_parquet("documents", str(layout))
    eng.execute("CREATE INDEX doc_source ON documents USING array (source)")
    zi = eng.catalog.record("documents").zones["source"]
    df = eng.execute(
        """
        SELECT source, COUNT(*) AS cnt, MIN(doc_id) AS min_id
        FROM documents
        WHERE source LIKE "src1%"
        GROUP BY source
        """
    )
    n_layout_files = len([f for _, _, f in zi.zones])
    assert 0 < len(df.inputFiles()) < n_layout_files, (
        f"LIKE-prefix read {len(df.inputFiles())}/{n_layout_files} files"
    )
    # pruning is I/O only: results equal the full scan + filter
    want = (
        spark.read.parquet(str(layout))
        .filter(F.col("source").startswith("src1"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("doc_id").alias("min_id"))
        .collect()
    )
    got = df.collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0


def test_dialect_like_prefix_query_broadcasts(spark):
    """The registered dialect_spn_like_prefix query's PHYSICAL plan: the
    LIKE-prefix-estimated orders side broadcasts (the planner flip
    asserted above, observed in the executed plan)."""
    from mutable_spark.registry import QUERIES, load_all

    load_all()
    df = QUERIES["dialect_spn_like_prefix"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_like_prefix_range_equals_like_semantics():
    """Property: for any prefix pattern the derived rank range admits
    EXACTLY the strings LIKE admits — `s LIKE 'p%'` ⟺ `p <= s < succ(p)`
    (and the no-wildcard case is equality). Hypothesis over arbitrary
    unicode, including surrogate-adjacent code points."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mutable_spark.dialect.compiler import _like_prefix_range

    texts = st.text(
        alphabet=st.characters(blacklist_characters="%_\\"), max_size=12
    )

    @settings(max_examples=300, deadline=None)
    @given(prefix=texts, s=texts)
    def check(prefix, s):
        rng = _like_prefix_range(prefix + "%")
        likes = s.startswith(prefix)
        if rng is None:
            return  # conservatively non-derivable: never asserted
        admitted = all(
            (s >= v if op == ">=" else s < v if op == "<" else s == v)
            for op, v in rng
        )
        assert admitted == likes, (prefix, s, rng)

    check()
