"""The component registry (`mutable_spark/extensions.py`) — the Spark
analogue of the reference's Catalog extension surface
(`include/mutable/catalog/Catalog.hpp:343-660`): plan enumerators,
cardinality estimators, and shell instructions registered by name and
selected at runtime."""

from __future__ import annotations

import subprocess
import sys

import pytest

from mutable_spark import extensions as E
from mutable_spark.plans.planner import Cardinalities, JoinPlanner


def test_register_plan_enumerator_reaches_the_planner():
    """A user enumerator selected by name plans the join tree; returning
    None falls back to GOO exactly like the builtin DP family."""
    calls = []

    def rightdeep(aliases, edges, cards):
        calls.append(list(aliases))
        tree = aliases[-1]
        for a in reversed(aliases[:-1]):
            tree = (a, tree)
        return tree

    E.register_plan_enumerator("test-rightdeep", rightdeep, replace=True)
    try:
        cards = Cardinalities(base={"a": 10, "b": 20, "c": 30})
        p = JoinPlanner(cards, enumerator="test-rightdeep")
        tree = p.plan(["a", "b", "c"], {frozenset("ab"), frozenset("bc")})
        assert tree == ("a", ("b", "c"))
        assert calls  # the registered component really ran

        # None -> GOO fallback (left-deep order comes back)
        E.register_plan_enumerator(
            "test-none", lambda a, e, c: None, replace=True
        )
        p2 = JoinPlanner(cards, enumerator="test-none")
        t2 = p2.plan(["a", "b", "c"], {frozenset("ab"), frozenset("bc")})
        assert isinstance(t2, tuple)  # a plan still comes out

        # duplicates raise without replace
        with pytest.raises(ValueError):
            E.register_plan_enumerator("test-rightdeep", rightdeep)
    finally:
        E.PLAN_ENUMERATORS.pop("test-rightdeep", None)
        E.PLAN_ENUMERATORS.pop("test-none", None)


def test_builtin_enumerator_names_are_registry_entries():
    """A builtin enumerator is an entry of the same table: registering
    its name raises without ``replace``, and with it the user's
    function is the one the planner calls (no builtin shadows it)."""
    builtin = E.PLAN_ENUMERATORS["dpccp"]
    calls = []

    def mine(aliases, edges, cards):
        calls.append(list(aliases))
        return None

    with pytest.raises(ValueError):
        E.register_plan_enumerator("dpccp", mine)
    assert E.PLAN_ENUMERATORS["dpccp"] is builtin
    cards = Cardinalities(base={"a": 10, "b": 20, "c": 30})
    E.register_plan_enumerator("dpccp", mine, replace=True)
    try:
        tree = JoinPlanner(cards, enumerator="dpccp").plan(
            ["a", "b", "c"], {frozenset("ab"), frozenset("bc")}
        )
    finally:
        E.register_plan_enumerator("dpccp", builtin, replace=True)
    assert calls == [["a", "b", "c"]]
    assert isinstance(tree, tuple)  # None fell back to GOO


def test_builtin_estimators_registered():
    assert {"injected", "footer", "spn"} <= set(E.CARDINALITY_ESTIMATORS)
    cards = E.CARDINALITY_ESTIMATORS["footer"](None, "/root/testdata/sf0.001")
    assert cards.base["orders"] == 1500


def test_register_instruction_dispatches_in_shell():
    """A user-registered `.hello` instruction is dispatched by the real
    shell process (the reference's Catalog::register_instruction flow)."""
    code = (
        "import mutable_spark.extensions as E\n"
        "E.register_instruction('hello', lambda eng, raw: 'hi ' + raw)\n"
        "import io, sys\n"
        "sys.stdin = io.StringIO('.hello spark world\\n.nosuch\\n.quit\\n')\n"
        "import mutable_spark.shell as sh\n"
        "raise SystemExit(sh.main([]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/root/repo",
        # 4-slot subprocess session: the dispatch test runs no query at
        # scale; local[32] only adds startup/task overhead (the
        # test_shell_e2e.py rule)
        env={**__import__("os").environ, "SPARK_GRAFT_CPUS": "4"},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "hi spark world" in out.stdout
    assert "unknown instruction" in out.stderr
