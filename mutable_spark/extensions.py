"""Component registry — the reference's research-facing extension surface.

mutable's Catalog lets third-party code register components by name and
select them at runtime (`include/mutable/catalog/Catalog.hpp:343-660`:
stores, data layouts, cardinality estimators, plan enumerators, cost
functions, backends, shell instructions, pre/post optimizations). That
registry IS the reference's "UDF surface" (SURVEY §2.11) — research
plugs in a new enumerator or estimator without touching the engine.

The Spark engine's analogue, with the same name-keyed semantics
(register → duplicate raises unless replace → select by name):

- **plan enumerators**: ``register_plan_enumerator(name, fn)`` with
  ``fn(aliases, edges, cards) -> tree | None`` (None = "not applicable,
  fall back to GOO", exactly how the builtin DP family degrades).
  The builtin enumerators are entries of the same table, so
  ``JoinPlanner(enumerator=name)`` resolves every name through it —
  `Catalog::register_plan_enumerator`.
- **cardinality estimators**: ``register_cardinality_estimator(name,
  factory)`` with ``factory(spark, source, **kw) -> Cardinalities`` —
  `Catalog::register_cardinality_estimator`. ``source`` is whatever the
  estimator reads: an sf_dir for "footer"/"spn", a cardinality-JSON path
  for "injected" (the reference's --use-cardinality-file). Builtins
  mirror the reference's estimator set.
- **shell instructions**: ``register_instruction(name, handler)`` with
  ``handler(engine, raw: str) -> str | None`` — the reference's
  `Catalog::register_instruction`, whose registered names the shell
  dispatches as ``.name arg...`` (`src/shell.cpp` instruction loop).
  ``raw`` is the VERBATIM argument tail (whitespace preserved — `.plan`'s
  statement text and paths with spaces must not be re-tokenized); split
  it yourself if you want words. The builtin `.learn_spns` /
  `.cardinalities` / `.plan` / `.parquet` route through the same table,
  so user instructions are first-class.

Components that have no Spark-side meaning are deliberately absent:
stores/data layouts (Tungsten owns memory layout), Wasm backends
(whole-stage codegen), cost functions beyond cardinality (Catalyst's
CBO) — SURVEY §4.2 maps each to the Spark machinery that replaces it.
"""

from __future__ import annotations

from collections.abc import Callable

PLAN_ENUMERATORS: dict[str, Callable] = {}
CARDINALITY_ESTIMATORS: dict[str, Callable] = {}
SHELL_INSTRUCTIONS: dict[str, Callable] = {}


def _register(table: dict, kind: str, name: str, obj, replace: bool):
    if not replace and name in table:
        raise ValueError(f"{kind} {name!r} already registered")
    table[name] = obj
    return obj


def register_plan_enumerator(name: str, fn=None, *, replace: bool = False):
    """Register (or decorate) a join enumerator: ``fn(aliases, edges,
    cards) -> tree | None``. Returning None falls back to GOO."""
    if fn is None:
        return lambda f: _register(
            PLAN_ENUMERATORS, "plan enumerator", name, f, replace
        )
    return _register(PLAN_ENUMERATORS, "plan enumerator", name, fn, replace)


def register_cardinality_estimator(name: str, factory=None, *, replace: bool = False):
    """Register (or decorate) an estimator factory:
    ``factory(spark, sf_dir) -> Cardinalities``."""
    if factory is None:
        return lambda f: _register(
            CARDINALITY_ESTIMATORS, "cardinality estimator", name, f, replace
        )
    return _register(
        CARDINALITY_ESTIMATORS, "cardinality estimator", name, factory, replace
    )


def register_instruction(name: str, handler=None, *, replace: bool = False):
    """Register (or decorate) a shell instruction: ``handler(engine,
    raw) -> str | None`` with ``raw`` the verbatim argument tail; the
    shell dispatches ``.name arg...`` to it and prints the returned
    text."""
    if handler is None:
        return lambda f: _register(
            SHELL_INSTRUCTIONS, "instruction", name, f, replace
        )
    return _register(SHELL_INSTRUCTIONS, "instruction", name, handler, replace)


def _register_builtin_estimators() -> None:
    """The reference's estimator set, as registry entries."""

    def injected(spark, source, database=None):
        """`source` is the cardinality JSON path (the reference's
        --use-cardinality-file input); `spark` is unused but keeps the
        uniform factory(spark, source) dispatch shape."""
        from mutable_spark.plans.planner import Cardinalities

        return Cardinalities.from_json(source, database=database)

    def footer(spark, sf_dir):
        from mutable_spark.plans.planner import footer_cardinalities

        return footer_cardinalities(sf_dir)

    def spn(spark, sf_dir, filters=None):
        from mutable_spark.plans.index_queries import spn_planner

        return spn_planner(spark, sf_dir, filters).cards

    CARDINALITY_ESTIMATORS.setdefault("injected", injected)
    CARDINALITY_ESTIMATORS.setdefault("footer", footer)
    CARDINALITY_ESTIMATORS.setdefault("spn", spn)


def _register_builtin_enumerators() -> None:
    """The builtin join enumerators, as registry entries: a user
    registration under one of these names raises unless ``replace``."""
    from mutable_spark.plans import planner as P

    builtins = {
        "dpccp": P.dpccp_plan,
        "dpsize": P.dpsize_plan,
        "dpsizeopt": P.dpsizeopt_plan,
        "dpsizesub": P.dpsizesub_plan,
        "dpsub": P.dpsub_plan,
        "dpsubopt": P.dpsubopt_plan,
        "tdbasic": P.tdbasic_plan,
        "tdmincut": P.tdmincut_plan,
        "tdgoo": P.tdgoo_plan,
        "ikkbz": P.ikkbz_plan,
        "lineardp": P.linearizeddp_plan,
        "peall": P.peall_plan,
        # heuristic-search family (SIGMOD'23): hs-astar is exact
        # (admissible zero heuristic); the rest trade optimality for
        # bounded search effort
        "hs-astar": P.hs_astar_plan,
        "hs-weighted": P.hs_weighted_astar_plan,
        "hs-beam": P.hs_beam_plan,
        "hs-anytime": P.hs_anytime_plan,
    }
    for name, fn in builtins.items():
        PLAN_ENUMERATORS.setdefault(name, fn)


_register_builtin_estimators()
_register_builtin_enumerators()
