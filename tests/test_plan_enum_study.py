"""The reference's `benchmark/plan-enumerators/cardinality-agnostic` study,
run LITERALLY from its four topology YAMLs (chain/cycle/star/clique over
T0..Tn with key=fkey join predicates,
`/root/reference/benchmark/plan-enumerators/cardinality-agnostic/*.yml`).
The reference charts optimization TIME per enumerator; the portable
substance is (a) every enumerator produces a valid cross-product-free plan
on every topology, and (b) the exact DP family agrees on the optimum — so
this harness parses each case's SQL through the dialect frontend, builds
the join graph the same way the compiler does, and pins both properties.
Optimization time itself is recorded by `scripts/bench_plan_enum.py`
(PLANENUM.json); asserting wall-clock in CI on a shared VM would be noise.

Feasibility caps mirror the exponential spaces the study exists to chart:
subset-enumeration DPs (DPsub family: 3^n states) cap at n=12 — the same
`max_dp_relations` guard `JoinPlanner.plan` applies in production — and
clique graphs cap the whole exact family at n=10 (a 10-clique already has
~57k csg-cmp pairs). Cases beyond a cap are excluded per enumerator, not
silently skipped: the exclusion list is the test's parametrization.
"""

from __future__ import annotations

from pathlib import Path

import pytest

yaml = pytest.importorskip("yaml")

from mutable_spark.dialect import ast_nodes as A
from mutable_spark.dialect.parser import parse
from mutable_spark.plans.planner import (
    Cardinalities,
    dpccp_plan,
    dpsize_plan,
    dpsizeopt_plan,
    dpsizesub_plan,
    dpsub_plan,
    dpsubopt_plan,
    goo_order,
    hs_anytime_plan,
    hs_astar_plan,
    ikkbz_plan,
    plan_cost,
    tdbasic_plan,
    tdmincut_plan,
)

STUDY = Path("/root/reference/benchmark/plan-enumerators/cardinality-agnostic")

# property suite (the reference's 4-topology enumerator study — exact-DP
# agreement + validity over exponential spaces): opt-out of the default
# gate (see pytest.ini); test_planner.py keeps the exact-DP-vs-brute pins
# in the default gate. Run everything with `pytest -m ""`.
pytestmark = [
    pytest.mark.skipif(
        not STUDY.exists(), reason="reference benchmark corpus not available"
    ),
    pytest.mark.slow,
]

TOPOLOGIES = ("chain", "cycle", "star", "clique")

#: n caps per enumerator family: subset DPs are 3^n, csg-cmp DPs explode
#: on cliques; both bounds match JoinPlanner.max_dp_relations (12).
_N_CAP = 12
_CLIQUE_CAP = 10

EXACT = [
    dpccp_plan,
    dpsize_plan,
    dpsizeopt_plan,
    dpsizesub_plan,
    dpsub_plan,
    dpsubopt_plan,
    tdbasic_plan,
    tdmincut_plan,
    hs_astar_plan,
]


def graph_from_sql(sql: str):
    """(aliases, edges) from a study case: FROM aliases + the WHERE
    conjunction's equi-join predicates — the same CNF-split contract the
    dialect compiler applies (dialect/compiler.py)."""
    stmt = parse(sql)
    assert isinstance(stmt, A.SelectStmt)
    aliases = [t.alias or t.name for t in stmt.from_]
    edges: set[frozenset] = set()

    def walk(e):
        if isinstance(e, A.Binary) and e.op == "AND":
            walk(e.left)
            walk(e.right)
        elif isinstance(e, A.Binary) and e.op == "=":
            assert isinstance(e.left, A.Designator)
            assert isinstance(e.right, A.Designator)
            edges.add(frozenset({e.left.table, e.right.table}))
        else:  # pragma: no cover — the study is pure equi-joins
            raise AssertionError(f"unexpected predicate {e!r}")

    if stmt.where is not None:
        walk(stmt.where)
    return aliases, edges


def _cards(aliases) -> Cardinalities:
    # cardinality-AGNOSTIC: the reference runs these with no estimates;
    # uniform bases make every enumerator see the same flat cost surface
    return Cardinalities(base={a: 1000.0 for a in aliases})


def _tree_leaves(t) -> frozenset:
    if isinstance(t, str):
        return frozenset([t])
    return _tree_leaves(t[0]) | _tree_leaves(t[1])


def _assert_no_cross_product(tree, edges):
    """Every internal node must join two subtrees connected by >= 1 edge."""
    if isinstance(tree, str):
        return
    l, r = tree
    la, ra = _tree_leaves(l), _tree_leaves(r)
    assert any(
        frozenset({a, b}) in edges for a in la for b in ra
    ), f"cross product joining {sorted(la)} x {sorted(ra)}"
    _assert_no_cross_product(l, edges)
    _assert_no_cross_product(r, edges)


def _study_cases():
    out = []
    if not STUDY.exists():
        return out
    for topo in TOPOLOGIES:
        doc = yaml.safe_load((STUDY / f"{topo}.yml").read_text())
        cases = doc["systems"]["mutable"]["cases"]
        cap = _CLIQUE_CAP if topo == "clique" else _N_CAP
        for n, sql in sorted(cases.items()):
            if int(n) <= cap:
                out.append(pytest.param(topo, sql, id=f"{topo}-{n}"))
    return out


@pytest.mark.parametrize("topo,sql", _study_cases())
def test_exact_family_agrees_cross_product_free(topo, sql):
    aliases, edges = graph_from_sql(sql)
    cards = _cards(aliases)
    best = None
    for enum in EXACT:
        tree = enum(aliases, edges, cards)
        assert tree is not None, enum.__name__
        assert _tree_leaves(tree) == frozenset(aliases), enum.__name__
        _assert_no_cross_product(tree, edges)
        c = plan_cost(tree, cards)
        if best is None:
            best = c
        else:
            assert c == pytest.approx(best), (
                f"{enum.__name__} cost {c} != dpccp {best} on {topo}"
            )


@pytest.mark.parametrize("topo,sql", _study_cases())
def test_heuristic_family_valid_plans(topo, sql):
    """The polynomial/heuristic members must stay valid (full coverage,
    no cross products) on every topology — optimality is not claimed
    (ikkbz: optimal linear only; hs-anytime: bounded expansions)."""
    aliases, edges = graph_from_sql(sql)
    cards = _cards(aliases)
    for enum in (ikkbz_plan, hs_anytime_plan):
        tree = enum(aliases, edges, cards)
        assert tree is not None, enum.__name__
        assert _tree_leaves(tree) == frozenset(aliases), enum.__name__
        _assert_no_cross_product(tree, edges)
    order = goo_order(aliases, edges, cards)
    assert set(order) == set(aliases)
