"""Driver-visible gates for the learned-index and SPN-estimator surfaces.

Both layers were previously unit-tested only (`sources/indexes.py`,
`plans/spn.py`); these registry queries put them on the driver's
correctness gate:

- ``op_zoneindex_scan`` scans through ``ZoneIndex.read_pruned``
  (`sources/indexes.py`): a key-range-partitioned multi-file layout of
  ``orders`` is staged once (`staging.staged`, like every derived copy),
  the zone index selects the file subset that can contain the key range
  from parquet footers alone, and the residual filter is still applied —
  pruning is an I/O layer, never a correctness layer, so the result is
  bit-identical to the oracle's full-scan filter. The query asserts the
  prune actually dropped files; plan/file-count checks live in
  ``tests/test_index_queries.py``.

- ``dialect_spn_planned_join`` compiles dialect SQL with a ``JoinPlanner``
  whose cardinalities come from learned SPN models over the real tables
  (`plans/spn.py::spn_base_cardinalities` — the reference's SpnEstimator
  role, `include/mutable/catalog/CardinalityEstimator.hpp:321`): the
  selective ``o_totalprice`` filter shrinks the orders estimate, which
  flips the join order and marks the filtered side broadcast. Join results
  are plan-invariant, so the oracle match proves the SPN-planned pipeline
  end-to-end without pinning a plan in the correctness contract.
"""

from __future__ import annotations

from pathlib import Path

import pyspark.sql.functions as F

from mutable_spark import staging
from mutable_spark.catalog import load_tables
from mutable_spark.functions import dsum, sql_dsum
from mutable_spark.registry import query

_ZONE_PARTS = 16
#: key range as fractions of max(o_custkey) — custkey domains scale with
#: SF, so fixed constants would select everything at one SF and nothing at
#: another; both engines derive the same integer bounds from the same max.
_LO_FRAC, _HI_FRAC = 0.15, 0.45


def _key_range(spark, layout: str) -> tuple[int, int]:
    m = spark.read.parquet(layout).agg(F.max("o_custkey")).collect()[0][0]
    return int(_LO_FRAC * m), int(_HI_FRAC * m)


def _range_layout(spark, sf_dir: str, table: str, column: str) -> str:
    """``table`` range-partitioned on ``column``, staged once per source
    identity. A failed build degrades to the unsplit source so the scan
    still works; the zone gates' did-it-prune assertions then fail LOUDLY —
    an environment error the driver row should surface, not mask."""
    src = Path(sf_dir.rstrip("/")) / f"{table}.parquet"
    try:
        return staging.staged(
            f"zoned-{table}-{column}",
            [src],
            f"zone:{column}:{_ZONE_PARTS}:v1",
            lambda tmp: (
                spark.read.parquet(str(src))
                .repartitionByRange(_ZONE_PARTS, column)
                .write.mode("overwrite")
                .parquet(tmp)
            ),
        )
    except Exception:
        return str(src)


def _keyed_orders_layout(spark, sf_dir: str) -> str:
    """``orders`` range-partitioned on ``o_custkey``: the key-sorted layout
    a 100 TB table would already have, so zone maps prune."""
    return _range_layout(spark, sf_dir, "orders", "o_custkey")


@query(
    "op_zoneindex_scan",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS cnt,
           {sql_dsum("o_totalprice")} AS sum_price
    FROM orders
    WHERE o_custkey BETWEEN CAST(FLOOR({_LO_FRAC} * (SELECT MAX(o_custkey) FROM orders)) AS BIGINT)
                        AND CAST(FLOOR({_HI_FRAC} * (SELECT MAX(o_custkey) FROM orders)) AS BIGINT)
    GROUP BY o_orderpriority
    """,
)
def op_zoneindex_scan(spark, sf_dir):
    """Range aggregate over orders where the scan goes through the zone
    index: only files whose footer [min,max] intersects the custkey range
    are read (RMI-backed file map, `sources/indexes.py::ZoneIndex`), then
    the residual filter + groupBy run as normal. Identical results to a
    full scan by construction; the in-query assertion guarantees the
    driver row really exercised the pruned path."""
    from mutable_spark.sources.indexes import ZoneIndex

    layout = _keyed_orders_layout(spark, sf_dir)
    lo, hi = _key_range(spark, layout)
    zi = ZoneIndex.build(layout, "o_custkey", learned=True)
    pruned = zi.files_for_range(lo, hi)
    assert 0 < len(pruned) < len(zi.zones), (
        f"zone index did not prune: {len(pruned)}/{len(zi.zones)} files"
    )
    df = zi.read_pruned(spark, lo, hi)
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum("o_totalprice").alias("sum_price"),
    )


# --------------------------------------------------------------------------
@query(
    "dialect_zoneindex_scan",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS cnt,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM orders
    WHERE o_custkey >= CAST(FLOOR({_LO_FRAC} * (SELECT MAX(o_custkey) FROM orders)) AS BIGINT)
      AND o_custkey <= CAST(FLOOR({_HI_FRAC} * (SELECT MAX(o_custkey) FROM orders)) AS BIGINT)
    GROUP BY o_orderpriority
    """,
)
def dialect_zoneindex_scan(spark, sf_dir):
    """The zone index reached from *dialect SQL* (VERDICT r5 item #4): a
    parquet-backed ``orders`` registered on an ``Engine``, ``CREATE INDEX``
    building the real file-zone index over the layout, and a plain
    ``SELECT … WHERE o_custkey BETWEEN``-shaped range query whose scan the
    compiler swaps for the index's pruned file subset
    (`dialect/compiler.py::_zone_pruned_scan`, which intersects
    admissible file sets across every bounded indexed column) — the
    reference's
    Filter∘Scan → IndexScan physical rewrite
    (`src/backend/WasmOperator.hpp:397-405`), here as file-subset I/O
    pruning. The in-query assertions guarantee the driver row exercised
    the pruned path (index registered AND the compiled plan reads a
    strict file subset); aggregates are COUNT/MIN/MAX — exact under any
    aggregation order."""
    from mutable_spark.dialect import Engine

    layout = _keyed_orders_layout(spark, sf_dir)
    lo, hi = _key_range(spark, layout)
    eng = Engine(spark)
    eng.catalog.create_database("zx")
    eng.catalog.use("zx")
    eng.create_table_from_parquet("orders", layout)
    eng.execute("CREATE INDEX ord_custkey ON orders USING rmi (o_custkey)")
    zi = eng.catalog.record("orders").zones["o_custkey"]
    assert 0 < len(zi.files_for_range(lo, hi)) < len(zi.zones), (
        "zone index did not prune"
    )
    df = eng.execute(
        f"""
        SELECT o_orderpriority,
               COUNT(*) AS cnt,
               MIN(o_orderkey) AS min_key,
               MAX(o_orderkey) AS max_key
        FROM orders
        WHERE o_custkey >= {lo} AND o_custkey <= {hi}
        GROUP BY o_orderpriority
        """
    )
    n_layout_files = len([f for _, _, f in zi.zones])
    assert 0 < len(df.inputFiles()) < n_layout_files, (
        f"compiled plan reads {len(df.inputFiles())}/{n_layout_files} files "
        "— the dialect scan did not go through the zone index"
    )
    return df


# --------------------------------------------------------------------------
#: learned SPN models per sf_dir (driver-side, bounded samples); the learn
#: cost is paid once per process per scale factor.
_SPN_MODELS: dict[str, dict] = {}

#: the SQL's selective predicate, in SPN condition form — this is the
#: estimator input the dialect compiler would derive from the WHERE clause
_SPN_FILTERS = {"o": {"o_totalprice": [(">", 450_000.0)]}}
_TOTALPRICE_CUT = 450_000.0


def _spn_models(spark, sf_dir: str) -> dict:
    from mutable_spark.plans.spn import SpnTableModel

    key = sf_dir.rstrip("/")
    if key not in _SPN_MODELS:
        t = load_tables(spark, sf_dir)
        _SPN_MODELS[key] = {
            "c": SpnTableModel.from_dataframe(
                t.customer, ["c_acctbal", "c_mktsegment"]
            ),
            "o": SpnTableModel.from_dataframe(
                t.orders,
                ["o_totalprice", "o_orderdate", "o_orderstatus", "o_orderpriority"],
            ),
            "l": SpnTableModel.from_dataframe(
                t.lineitem, ["l_quantity", "l_shipdate"]
            ),
        }
    return _SPN_MODELS[key]


def spn_planner(spark, sf_dir: str, filters: dict | None = None):
    """A ``JoinPlanner`` whose base cardinalities are learned-SPN estimates
    under each table's local filter — the default estimator when no
    injected cardinality JSON is given (the reference's fallback chain:
    injected file → SpnEstimator → Cartesian/size heuristics)."""
    from mutable_spark.plans.planner import JoinPlanner
    from mutable_spark.plans.spn import spn_base_cardinalities

    models = _spn_models(spark, sf_dir)
    cards = spn_base_cardinalities(models, filters or {})
    # spn_models makes the planner self-estimating: the dialect compiler
    # derives each SELECT's per-alias numeric comparisons and calls
    # `with_spn_filters`, so explicit ``filters`` are only needed when
    # planning outside the compiler
    return JoinPlanner(cards, broadcast_rows=10_000, spn_models=models)


@query(
    "dialect_spn_planned_join",
    oracle=f"""
    SELECT o.o_orderpriority AS priority,
           COUNT(*) AS cnt,
           SUM(l.l_quantity) AS qty
    FROM customer c, orders o, lineitem l
    WHERE c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey
      AND o.o_totalprice > {_TOTALPRICE_CUT}
    GROUP BY o.o_orderpriority
    """,
)
def dialect_spn_planned_join(spark, sf_dir):
    """3-way join through the dialect frontend, planned by SPN estimates:
    the ``o_totalprice`` filter's SPN selectivity shrinks orders below the
    broadcast threshold, so the planner both reorders the join and
    broadcasts the filtered side (asserted in ``tests/test_index_queries.py``).
    SUM(l_quantity) is exact in any order (integral doubles ≤ 2^53)."""
    from mutable_spark.dialect import parse
    from mutable_spark.dialect.compiler import compile_select

    t = load_tables(spark, sf_dir)
    tables = {name: getattr(t, name) for name in vars(t)}
    stmt = parse(
        f"""
        SELECT o.o_orderpriority AS priority,
               COUNT(*) AS cnt,
               SUM(l.l_quantity) AS qty
        FROM customer AS c, orders AS o, lineitem AS l
        WHERE c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey
          AND o.o_totalprice > {_TOTALPRICE_CUT}
        GROUP BY o.o_orderpriority
        """
    )
    # no explicit filter dict: the compiler derives {"o": {"o_totalprice":
    # [(">", cut)]}} from the WHERE clause and re-estimates via the
    # planner's SPN models (JoinPlanner.with_spn_filters)
    return compile_select(stmt, tables, planner=spn_planner(spark, sf_dir))


@query(
    "dialect_spn_string_filter",
    oracle="""
    SELECT o.o_orderstatus AS status,
           COUNT(*) AS cnt,
           SUM(l.l_quantity) AS qty
    FROM customer c, orders o, lineitem l
    WHERE c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey
      AND o.o_orderstatus = 'F' AND o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderstatus
    """,
)
def dialect_spn_string_filter(spark, sf_dir):
    """String-equality predicates driving the SPN planner (VERDICT r5
    item #5): the compiler derives ``o_orderstatus = 'F' AND
    o_orderpriority = '1-URGENT'`` from the WHERE clause, the orders SPN
    estimates them through its rank-dictionary discrete leaves
    (`plans/spn.py`; reference: `src/util/Spn.cpp` discrete leaves over
    dictionary codes), and the resulting ~1/15 selectivity pulls orders
    under both the broadcast threshold and customer's size — flipping
    the join order AND the broadcast side (asserted in
    ``tests/test_index_queries.py::test_string_filter_flips_plan``).
    Results are plan-invariant, so the oracle match proves the
    string-estimating pipeline end-to-end."""
    from mutable_spark.dialect import parse
    from mutable_spark.dialect.compiler import compile_select

    t = load_tables(spark, sf_dir)
    tables = {name: getattr(t, name) for name in vars(t)}
    stmt = parse(
        """
        SELECT o.o_orderstatus AS status,
               COUNT(*) AS cnt,
               SUM(l.l_quantity) AS qty
        FROM customer AS c, orders AS o, lineitem AS l
        WHERE c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey
          AND o.o_orderstatus = "F" AND o.o_orderpriority = "1-URGENT"
        GROUP BY o.o_orderstatus
        """
    )
    return compile_select(stmt, tables, planner=spn_planner(spark, sf_dir))


@query(
    "dialect_spn_like_prefix",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           COUNT(*) AS cnt,
           SUM(l.l_quantity) AS qty
    FROM customer c, orders o, lineitem l
    WHERE c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey
      AND o.o_orderstatus LIKE 'P%' AND o.o_orderpriority LIKE '1%'
    GROUP BY o.o_orderpriority
    """,
)
def dialect_spn_like_prefix(spark, sf_dir):
    """LIKE-prefix predicates driving the SPN planner (VERDICT r7 item
    #7): ``x LIKE 'abc%'`` IS the lexicographic rank range
    ``['abc', 'abd')``, so the compiler derives a rank-range filter dict
    from the two prefixes (`compiler._like_prefix_range`), the orders
    SPN integrates them through its order-preserving string dictionaries
    (`plans/spn.py` discrete leaves; reference: `src/util/Spn.cpp`), and
    the ~1/15 combined selectivity pulls orders below customer AND the
    broadcast bar — flipping the join order (asserted in
    ``tests/test_index_queries.py::test_like_prefix_filter_flips_join_order``).
    Results are plan-invariant, so the oracle match proves the
    LIKE-estimating pipeline end-to-end."""
    from mutable_spark.dialect import parse
    from mutable_spark.dialect.compiler import compile_select

    t = load_tables(spark, sf_dir)
    tables = {name: getattr(t, name) for name in vars(t)}
    stmt = parse(
        """
        SELECT o.o_orderpriority AS priority,
               COUNT(*) AS cnt,
               SUM(l.l_quantity) AS qty
        FROM customer AS c, orders AS o, lineitem AS l
        WHERE c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey
          AND o.o_orderstatus LIKE "P%" AND o.o_orderpriority LIKE "1%"
        GROUP BY o.o_orderpriority
        """
    )
    return compile_select(stmt, tables, planner=spn_planner(spark, sf_dir))


# --------------------------------------------------------------------------
def _source_sorted_docs_layout(spark, sf_dir: str) -> str:
    """``documents`` range-partitioned on ``source``: the layout a
    domain-sharded 100 TB corpus would already have."""
    return _range_layout(spark, sf_dir, "documents", "source")


@query(
    "dialect_zoneindex_string",
    oracle="""
    SELECT source, COUNT(*) AS cnt, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM documents
    WHERE source >= 'src10' AND source <= 'src15'
    GROUP BY source
    """,
)
def dialect_zoneindex_string(spark, sf_dir):
    """Zone-index pruning over a STRING column from dialect SQL (extends
    the r6 numeric/date gates): CREATE INDEX on ``documents.source``
    builds file zones whose keys are the order-preserving 6-byte-prefix
    surrogate (`sources/indexes.py::_key_num`), and a lexicographic
    source range prunes the scan to the files whose [min, max] source
    intersects — domain/URL-prefix range scans over a domain-sharded
    corpus, the string twin of the canonical date-range prune. In-query
    assertions pin that the index pruned AND the compiled plan read a
    strict file subset; prefix ties can only over-read, never drop a
    file (the index is an I/O layer — every conjunct is still applied)."""
    from mutable_spark.dialect import Engine

    layout = _source_sorted_docs_layout(spark, sf_dir)
    eng = Engine(spark)
    eng.catalog.create_database("zs")
    eng.catalog.use("zs")
    eng.create_table_from_parquet("documents", layout)
    eng.execute("CREATE INDEX doc_source ON documents USING array (source)")
    zi = eng.catalog.record("documents").zones["source"]
    assert 0 < len(zi.files_for_range("src10", "src15")) < len(zi.zones), (
        "string zone index did not prune"
    )
    df = eng.execute(
        """
        SELECT source, COUNT(*) AS cnt, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        FROM documents
        WHERE source >= "src10" AND source <= "src15"
        GROUP BY source
        """
    )
    n_layout_files = len([f for _, _, f in zi.zones])
    assert 0 < len(df.inputFiles()) < n_layout_files, (
        f"compiled plan reads {len(df.inputFiles())}/{n_layout_files} files "
        "— the dialect scan did not go through the string zone index"
    )
    return df
