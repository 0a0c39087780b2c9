"""AST → DataFrame compiler.

This replaces the reference's QueryGraph construction + logical planning
(`src/IR/QueryGraph.cpp`, `src/IR/Optimizer.cpp`) with direct DataFrame
construction — Catalyst then performs join ordering, pushdown, pruning, and
physical selection (SURVEY §4: every reference rewrite is already a
Catalyst rule).

What *is* reproduced from the reference, because it's semantics rather than
optimization:
- WHERE → CNF split: single-source conjuncts become per-source filters,
  multi-source conjuncts become join predicates (GraphBuilder,
  `src/IR/QueryGraph.cpp:1740+`). Catalyst would re-derive this anyway;
  doing it at build time keeps the plan readable and the semantics obvious.
- HAVING compiles to a filter over the grouped frame
  (`QueryGraph.cpp:1773-1788`).
- mutable's result-type rules (`Sema.cpp:554-647`, `semantics.md:50-73`)
  via explicit casts: AVG→DOUBLE, SUM widening, INT()→64-bit, int/int
  division truncates like C++.
- ORDER BY on expressions outside the projection uses hidden sort columns
  + post-projection (`Optimizer.cpp:109-148,466-493`).
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from mutable_spark.dialect import ast_nodes as A
from mutable_spark.dialect.sema import (
    AGGREGATES,
    SemaError,
    arithmetic_join,
    check_stmt,
    contains_aggregate,
    designator_matches,
    is_int,
    is_numeric,
    walk,
)

SEP = "___"


def totext(e: A.Node) -> str:
    """Deterministic display name for an unaliased expression (the
    reference prints the expression text as the column header)."""
    if isinstance(e, A.Literal):
        return str(e.value)
    if isinstance(e, A.Designator):
        return e.attr if e.table is None else f"{e.table}.{e.attr}"
    if isinstance(e, A.FnApplication):
        inner = "*" if e.star else ", ".join(totext(a) for a in e.args)
        return f"{e.name}({inner})"
    if isinstance(e, A.Unary):
        return f"{e.op}{totext(e.operand)}"
    if isinstance(e, A.Binary):
        return f"({totext(e.left)} {e.op} {totext(e.right)})"
    return "expr"


_REDUNDANT_ALIAS_RULE = (
    "org.apache.spark.sql.catalyst.optimizer.RemoveRedundantAliases"
)


def _exclude_redundant_alias_rule() -> None:
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    cur = spark.conf.get("spark.sql.optimizer.excludedRules", None) or ""
    if _REDUNDANT_ALIAS_RULE not in cur:
        new = f"{cur},{_REDUNDANT_ALIAS_RULE}" if cur else _REDUNDANT_ALIAS_RULE
        spark.conf.set("spark.sql.optimizer.excludedRules", new)


@dataclass
class Source:
    alias: str
    df: DataFrame            # columns renamed to alias___attr
    attrs: dict[str, str]    # attr -> spark dtype
    #: attr names exported more than once (FROM-subquery like
    #: `SELECT R.key, S.key` — any access errors, `Sema.cpp:245,266`)
    dups: frozenset = frozenset()
    #: base table name when this source scans a catalog table directly
    #: (None for FROM-subqueries) — the key the zone-index lookup uses
    table: str | None = None


#: a grouped ORDER BY whose group count the catalog's row bounds cap at
#: or below this many rows sorts in one partition: no range exchange and
#: no boundary-sampling job. One task sorting 150k groups beat the range
#: sort on 4 cores; at 600k groups it lost (SCALE.md)
_ONE_PARTITION_SORT_ROWS = 2**18

#: comparison ops SpnTableModel understands (plans/spn.py leaf likelihoods)
_SPN_OPS = {"<", "<=", ">", ">=", "="}
_SPN_FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "="}


def _like_prefix_range(pattern: str) -> list[tuple[str, str]] | None:
    """SPN conditions for a LIKE pattern, or None when not derivable.

    `'abc%'` (a literal prefix, one trailing ``%``, no other
    metacharacters) is the lexicographic range ``>= 'abc' AND <
    succ('abc')`` where succ increments the prefix's last code point —
    every string starting with the prefix sorts inside, every other
    string outside, so the model's rank-dictionary leaves integrate it
    like any range. A metacharacter-free pattern is plain equality.
    Anything else (``_``, ``\\`` escapes, infix ``%``) returns None and
    estimates as selectivity 1."""
    if any(ch in pattern for ch in ("_", "\\")):
        return None
    if "%" not in pattern:
        return [("=", pattern)]
    if not pattern.endswith("%") or "%" in pattern[:-1]:
        return None
    prefix = pattern[:-1]
    if not prefix:
        return []  # bare '%': matches every non-NULL string
    # succ(): increment the last code point, dropping any trailing
    # U+10FFFF (for which no same-length successor exists)
    s = prefix
    while s and ord(s[-1]) >= 0x10FFFF:
        s = s[:-1]
    if not s:
        return [(">=", prefix)]
    upper = s[:-1] + chr(ord(s[-1]) + 1)
    return [(">=", prefix), ("<", upper)]


def _spn_filter_dict(conjuncts: list[A.Node]) -> dict:
    """{col: [(op, value)]} from one source's pushed conjuncts — the
    estimator input ``SpnTableModel.estimate_rows`` takes. Only the shapes
    `attr <cmp> literal` (either direction; numeric, date, or string
    literals) and `attr LIKE 'prefix%'` (a rank range — see
    ``_like_prefix_range``) contribute; anything else estimates as
    selectivity 1, so a
    non-extractable predicate can only make the SPN estimate an
    over-count, never an under-typed error. String values pass through
    raw and are rank-translated by the model's order-preserving
    dictionary (the reference's discrete leaves over dictionary codes,
    `src/util/Spn.cpp`)."""
    from mutable_spark.plans.spn import date_to_spn_value

    def as_value(lit: A.Literal) -> float | str | None:
        if lit.kind in ("int", "float"):
            return float(lit.value)
        if lit.kind in ("date", "datetime"):
            return date_to_spn_value(lit.value)
        if lit.kind == "str":
            # passed through raw: SpnTableModel rank-translates string
            # values against its order-preserving dictionary
            return lit.value
        return None

    out: dict[str, list] = {}
    for c in conjuncts:
        if (
            isinstance(c, A.Binary)
            and c.op == "LIKE"
            and isinstance(c.left, A.Designator)
            and isinstance(c.right, A.Literal)
            and c.right.kind == "str"
        ):
            # LIKE-prefix → rank range: the SPN's string leaves are
            # order-preserving rank dictionaries, and `x LIKE 'abc%'` is
            # exactly the lexicographic range ['abc', succ('abc')) — the
            # reference's estimator surface applied to the one predicate
            # family the dialect supports beyond plain comparisons.
            # Conservative scope: a literal prefix followed by one
            # trailing '%', no '_'/escape metacharacters (anything else
            # keeps selectivity 1, an over-count, never wrong-typed).
            rng = _like_prefix_range(c.right.value)
            if rng is not None:
                out.setdefault(c.left.attr, []).extend(rng)
            continue
        if not isinstance(c, A.Binary) or c.op not in _SPN_OPS:
            continue
        lhs, rhs = c.left, c.right
        if isinstance(lhs, A.Designator) and isinstance(rhs, A.Literal):
            v = as_value(rhs)
            if v is not None:
                out.setdefault(lhs.attr, []).append((c.op, v))
        elif isinstance(rhs, A.Designator) and isinstance(lhs, A.Literal):
            v = as_value(lhs)
            if v is not None:
                out.setdefault(rhs.attr, []).append((_SPN_FLIP[c.op], v))
    return out


class Compiler:
    def __init__(
        self, tables: dict[str, DataFrame], planner=None, zone_indexes=None, row_bounds=None
    ):
        self.tables = tables
        #: {table: {column: ZoneIndex}} for parquet-backed tables with a
        #: CREATE INDEX — the scan path swaps Filter∘Scan for a
        #: footer-pruned file-subset scan when a WHERE conjunct ranges
        #: over an indexed column (reference physical optimizer:
        #: `src/backend/WasmOperator.hpp:397-405` IndexScan replacement)
        self.zone_indexes: dict[str, dict[str, object]] = zone_indexes or {}
        #: {table: upper bound on its row count, or None} — what the
        #: grouped-sort gate (`_groups_fit_one_partition`) multiplies
        self.row_bounds: dict[str, int | None] = row_bounds or {}
        #: optional JoinPlanner (plans/planner.py): GOO join ordering from
        #: injected/footer cardinalities + broadcast decisions — the
        #: reference's plan-enumerator/estimator surface (SURVEY §4.1)
        self.planner = planner

    # ------------------------------------------------------------------
    def compile_select(self, stmt: A.SelectStmt) -> DataFrame:
        check_stmt(stmt)
        sources = self._bind_sources(stmt)
        self.sources = sources
        self.types: dict[str, str] = {}
        self.subq_map: list[tuple[A.Node, str, str]] = []
        self.deferred_where: list[A.Node] = []
        #: set once grouping is in effect: from then on a designator must
        #: resolve to a grouping key or aggregate, never to a raw source
        #: column (`Sema.cpp` vectorial-in-scalar-context sanction —
        #: sema-san-select-order_by_attribute_not_in_group_by et al.)
        self._post_group = False
        for s in sources:
            for a, t in s.attrs.items():
                self.types[f"{s.alias}{SEP}{a}"] = t

        df = self._build_joins(stmt, sources)
        df = self._attach_subqueries(stmt, df)
        for c in self.deferred_where:
            col, t = self._expr(c, [])
            if t != "boolean":
                raise SemaError("WHERE clause must be boolean")
            df = df.filter(col)

        grouped = bool(stmt.group_by) or any(
            it.expr is not None and contains_aggregate(it.expr) for it in stmt.items
        ) or (stmt.having is not None)

        agg_map: list[tuple[A.Node, str, str]] = []  # (ast, colname, dtype)
        if grouped:
            df, agg_map = self._aggregate(stmt, df)

        # --- projection + hidden sort columns --------------------------
        out_cols: list[Column] = []
        out_names: list[str] = []
        for it in stmt.items:
            if it.expr is None:
                if grouped:
                    names = [d for _, d in self.group_display]
                    for internal, display in self.group_display:
                        if names.count(display) > 1:
                            raise SemaError(
                                f"Designator {display} is ambiguous, multiple "
                                "occurrences in GROUP BY clause"
                            )
                        out_cols.append(F.col(internal))
                        out_names.append(display)
                else:
                    for s in sources:
                        if s.dups:
                            raise SemaError(
                                f"Source {s.alias} has multiple attributes "
                                f"{sorted(s.dups)[0]}"
                            )
                    seen: dict[str, int] = {}
                    for s in sources:
                        for a in s.attrs:
                            seen[a] = seen.get(a, 0) + 1
                    for s in sources:
                        for a in s.attrs:
                            nm = a if seen[a] == 1 else f"{s.alias}.{a}"
                            out_cols.append(F.col(f"{s.alias}{SEP}{a}"))
                            out_names.append(nm)
                continue
            c, t = self._expr(it.expr, agg_map)
            name = it.alias or (
                it.expr.attr if isinstance(it.expr, A.Designator) else totext(it.expr)
            )
            out_cols.append(c)
            out_names.append(name)
        out_cols = [c.alias(n) for c, n in zip(out_cols, out_names)]

        sort_cols: list[Column] = []
        hidden: list[str] = []
        for k, o in enumerate(stmt.order_by):
            # ORDER BY may name a SELECT alias (post-projection reference)
            if (
                isinstance(o.expr, A.Designator)
                and o.expr.table is None
                and o.expr.attr in out_names
            ):
                c = F.col(o.expr.attr)
            else:
                c, _ = self._expr(o.expr, agg_map)
                h = f"__sort{k}"
                out_cols.append(c.alias(h))
                hidden.append(h)
                c = F.col(h)
            sort_cols.append(c.asc() if o.asc else c.desc())

        names_all = out_names + hidden
        if len(set(names_all)) < len(names_all):
            # duplicate output names (SELECT key, key / SELECT *, key) are
            # legal in the dialect. When the duplicate name equals the
            # underlying scan attribute, Catalyst's RemoveRedundantAliases
            # collapses `key AS key` into two same-exprId attributes and
            # invalidates the plan (PLAN_VALIDATION_FAILED) — exclude that
            # purely-cosmetic rule for this session.
            _exclude_redundant_alias_rule()
            df = df.select(
                *[c.alias(f"__c{i}") for i, c in enumerate(out_cols)]
            ).toDF(*names_all)
        else:
            df = df.select(*out_cols)
        if sort_cols:
            if stmt.limit is None and self._groups_fit_one_partition(stmt):
                # a global ORDER BY plans a rangepartitioning Exchange
                # whose RangePartitioner runs a separate boundary-SAMPLING
                # job — pure overhead when the sort input is a grouped
                # aggregate the row bounds keep small. SinglePartition
                # satisfies OrderedDistribution outright, so coalesce(1)
                # below the sort removes both the exchange and the
                # sampling job, as the reference sorts on one node.
                # LIMIT queries skip this (sort+limit already plans
                # TakeOrderedAndProject, SURVEY §2.7).
                df = df.coalesce(1)
            df = df.orderBy(*sort_cols)
        if hidden:
            df = df.drop(*hidden)
        if stmt.offset:
            df = df.offset(stmt.offset)
        if stmt.limit is not None:
            df = df.limit(stmt.limit)
        return df

    # ------------------------------------------------------------------
    def _groups_fit_one_partition(self, stmt: A.SelectStmt) -> bool:
        """Gate for the single-partition sort: True when GROUP BY's group
        count is at most ``_ONE_PARTITION_SORT_ROWS``. Every group key is
        a function of the rows of the sources its designators name, so
        the product of those sources' row bounds caps the group count;
        the bounds come from the catalog, so the gate runs no Spark job.
        A source of unknown bound (a FROM-subquery, a frame Catalyst
        cannot bound) keeps the scale-safe range sort. Sema admits no
        nested query in a group key, so the designators are all a key
        reads."""
        if not stmt.group_by:
            return False
        owners = set().union(*(self._sources_of(g.expr) for g in stmt.group_by))
        bound = 1
        for s in self.sources:
            if s.alias in owners:
                rows = self.row_bounds.get(s.table)
                if rows is None:
                    return False
                bound *= rows
        return bound <= _ONE_PARTITION_SORT_ROWS

    def _sub(self) -> "Compiler":
        """A compiler for a nested query, over the same catalog state."""
        return Compiler(self.tables, self.planner, self.zone_indexes, self.row_bounds)

    # ------------------------------------------------------------------
    def _bind_sources(self, stmt: A.SelectStmt) -> list[Source]:
        sources: list[Source] = []
        for ref in stmt.from_:
            if ref.subquery is not None:
                sub = self._sub().compile_select(ref.subquery)
                alias = ref.alias
                base = sub
            else:
                if ref.name not in self.tables:
                    raise SemaError(f"table {ref.name!r} does not exist")
                base = self.tables[ref.name]
                alias = ref.alias or ref.name
            if any(s.alias == alias for s in sources):
                raise SemaError(f"duplicate table alias {alias!r}")
            attrs = dict(base.dtypes)
            dups = frozenset(
                c for c in attrs if base.columns.count(c) > 1
            )
            # rename positionally in one toDF (duplicate names never need
            # name-resolution): the first occurrence of a name becomes
            # alias___attr, later ones a placeholder dropped below; any
            # *access* to a duplicated attr raises in _resolve / star
            # expansion
            names, extra = [], []
            for i, c in enumerate(base.columns):
                if f"{alias}{SEP}{c}" in names:
                    extra.append(f"__b{i}")
                    names.append(extra[-1])
                else:
                    names.append(f"{alias}{SEP}{c}")
            renamed = base.toDF(*names)
            if extra:
                renamed = renamed.drop(*extra)
            sources.append(Source(alias, renamed, attrs, dups, table=ref.name))
        if not sources:
            # SELECT without FROM: single-row frame (the reference allows
            # constant queries)
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            sources.append(Source("", spark.range(1).select(), {}))
        return sources

    # ------------------------------------------------------------------
    def _resolve(self, d: A.Designator) -> tuple[Column, str]:
        if d.table is not None:
            for s in self.sources:
                if s.alias == d.table:
                    if d.attr in s.dups:
                        raise SemaError(
                            f"Source {d.table} has multiple attributes {d.attr}"
                        )
                    if d.attr not in s.attrs:
                        raise SemaError(f"no attribute {d.attr!r} in {d.table!r}")
                    name = f"{s.alias}{SEP}{d.attr}"
                    return F.col(name), self.types[name]
            raise SemaError(f"unknown table {d.table!r}")
        hits = [s for s in self.sources if d.attr in s.attrs]
        if not hits:
            raise SemaError(f"unknown attribute {d.attr!r}")
        if len(hits) > 1 or d.attr in hits[0].dups:
            raise SemaError(f"attribute {d.attr!r} is ambiguous")
        name = f"{hits[0].alias}{SEP}{d.attr}"
        return F.col(name), self.types[name]

    def _sources_of(self, e: A.Node) -> set[str]:
        out: set[str] = set()
        for n in walk(e):
            if isinstance(n, A.Designator):
                if n.table is not None:
                    out.add(n.table)
                else:
                    hits = [s for s in self.sources if n.attr in s.attrs]
                    if len(hits) == 1:
                        out.add(hits[0].alias)
                    elif not hits:
                        raise SemaError(f"unknown attribute {n.attr!r}")
                    else:
                        raise SemaError(f"attribute {n.attr!r} is ambiguous")
        return out

    # ------------------------------------------------------------------
    def _zone_pruned_scan(self, s: Source, conjuncts: list[A.Node]):
        """Filter∘Scan → pruned scan: when a pushed conjunct ranges over a
        zone-indexed column of this base table, read only the parquet
        files whose footer [min, max] intersects the derived bounds
        (`sources/indexes.py::ZoneIndex`; reference parity:
        `src/backend/WasmOperator.hpp:397-405` replaces Filter∘Scan with
        IndexScan). Returns None when no index applies.

        Pruning is an I/O layer, never a correctness layer: the caller
        still applies EVERY conjunct to the pruned frame, so strict
        bounds (`>`/`<` mapped to closed zone bounds) and non-indexed
        predicates stay exact — a stale or coarse index can only
        over-read."""
        zcols = self.zone_indexes.get(s.table) if s.table else None
        if not zcols:
            return None

        def bounds(c: A.Node, column: str) -> list | None:
            """(op, value) bounds one conjunct contributes to ``column``
            — a comparison contributes one, a LIKE-prefix its rank range
            (``x LIKE 'abc%'`` reads only files whose footer range
            intersects ['abc', 'abd') — same derivation the SPN
            estimator uses, applied to I/O)."""
            if (
                isinstance(c, A.Binary)
                and c.op == "LIKE"
                and isinstance(c.left, A.Designator)
                and c.left.attr == column
                and isinstance(c.right, A.Literal)
                and c.right.kind == "str"
            ):
                return _like_prefix_range(c.right.value)
            if not isinstance(c, A.Binary) or c.op not in _SPN_OPS:
                return None
            lhs, rhs = c.left, c.right
            if isinstance(lhs, A.Designator) and isinstance(rhs, A.Literal):
                d, lit, op = lhs, rhs, c.op
            elif isinstance(rhs, A.Designator) and isinstance(lhs, A.Literal):
                d, lit, op = rhs, lhs, _SPN_FLIP[c.op]
            else:
                return None
            if d.attr != column:
                return None
            if lit.kind in ("int", "float"):
                return [(op, lit.value)]
            if lit.kind == "str":
                # string ranges/equalities prune via the ZoneIndex's
                # order-preserving 6-byte-prefix key (over-read only)
                return [(op, str(lit.value))]
            if lit.kind in ("date", "datetime"):
                # time-range pruning over a date-partitioned layout — the
                # canonical 100 TB scan pattern; ZoneIndex normalizes
                # datetime bounds into its numeric key space
                import datetime as dt

                return [(op, dt.datetime.fromisoformat(str(lit.value).strip()))]
            return None

        # every bounded indexed column contributes its admissible file
        # set; the scan reads the INTERSECTION (each index is sound, so
        # intersecting can only prune more, never drop a matching file —
        # and a point predicate on a second index tightens a wide range
        # on the first)
        file_sets: list[set] = []
        all_files: list[str] | None = None
        for column, zi in zcols.items():
            if not zi.zones:
                # an index that maps no files cannot prune anything —
                # fall through to the registered frame rather than
                # fabricating an empty scan
                continue
            lo = hi = None
            mixed = False
            for c in conjuncts:
                bs = bounds(c, column)
                if not bs:
                    continue
                try:
                    for op, v in bs:
                        if op in (">", ">=", "="):
                            lo = v if lo is None else max(lo, v)
                        if op in ("<", "<=", "="):
                            hi = v if hi is None else min(hi, v)
                except TypeError:
                    # mixed literal types on one column (int vs date):
                    # skip pruning here and let sema raise its proper
                    # "invalid operands" error when the filter compiles
                    mixed = True
                    break
            if mixed or (lo is None and hi is None):
                continue
            file_sets.append(set(zi.files_for_range(lo, hi)))
            all_files = [f for _, _, f in zi.zones]
        if not file_sets:
            return None
        files = sorted(set.intersection(*file_sets))
        spark = s.df.sparkSession
        if not files:
            # no file can match: schema-preserving empty scan
            pruned = spark.read.parquet(*all_files).filter(F.lit(False))
        else:
            pruned = spark.read.parquet(*files)
        # no index-side bound filter: the caller compiles EVERY WHERE
        # conjunct onto this frame with the dialect's own coercion rules,
        # so a generic bound filter would be redundant (and for time
        # bounds, wrongly typed vs TIMESTAMP_NTZ columns)
        return pruned.select(
            *[F.col(a).alias(f"{s.alias}{SEP}{a}") for a in s.attrs]
        )

    # ------------------------------------------------------------------
    def _build_joins(self, stmt: A.SelectStmt, sources: list[Source]) -> DataFrame:
        conjuncts: list[A.Node] = []

        def flat(e: A.Node):
            if isinstance(e, A.Binary) and e.op == "AND":
                flat(e.left)
                flat(e.right)
            else:
                conjuncts.append(e)

        if stmt.where is not None:
            flat(stmt.where)

        per_source: dict[str, list[A.Node]] = {s.alias: [] for s in sources}
        multi: list[tuple[set[str], A.Node]] = []
        for c in conjuncts:
            if any(isinstance(n, A.QueryExpr) for n in walk(c)):
                # conjuncts over nested queries apply after the subquery
                # values are joined on (QueryGraph does the same: the
                # decorrelated join precedes the comparison filter)
                self.deferred_where.append(c)
                continue
            srcs = self._sources_of(c)
            if len(srcs) == 1:
                per_source[next(iter(srcs))].append(c)
            else:
                multi.append((srcs, c))

        # push single-source filters below the joins (GraphBuilder placement)
        frames: dict[str, DataFrame] = {}
        for s in sources:
            df = self._zone_pruned_scan(s, per_source[s.alias]) or s.df
            for c in per_source[s.alias]:
                col, t = self._expr(c, [])
                if t != "boolean":
                    raise SemaError("WHERE clause must be boolean")
                df = df.filter(col)
            frames[s.alias] = df

        aliases = [s.alias for s in sources]
        alias_table = {
            s.alias: r.name
            for s, r in zip(sources, stmt.from_)
            if r.name is not None
        }
        # default: left-deep in FROM order; with a planner: GOO left-deep
        # or DPccp bushy tree (plans/planner.py)
        tree: object = aliases[0]
        for a in aliases[1:]:
            tree = (tree, a)
        planner = self.planner
        if planner is not None and len(sources) > 1:
            # SpnEstimator integration: hand the planner each alias'
            # pushed numeric comparisons so base cardinalities become
            # filtered SPN estimates (no-op for planners without models)
            if hasattr(planner, "with_spn_filters"):
                spn_filters = {
                    a: d
                    for a, cs in per_source.items()
                    if (d := _spn_filter_dict(cs))
                }
                planner = planner.with_spn_filters(spn_filters, alias_table)
            edges = {frozenset(srcs) for srcs, _ in multi if len(srcs) == 2}
            tree = planner.plan(aliases, edges, alias_table)

        def leaf(alias: str, is_probe_root: bool) -> DataFrame:
            f = frames[alias]
            if (
                not is_probe_root
                and planner is not None
                and planner.should_broadcast(alias, alias_table)
            ):
                f = F.broadcast(f)
            return f

        pending = list(multi)

        def build(node, is_probe_root: bool) -> tuple[DataFrame, set[str]]:
            """Join the subtree; attach each multi-source conjunct at the
            lowest node covering all its sources (GraphBuilder placement)."""
            nonlocal pending
            if isinstance(node, str):
                return leaf(node, is_probe_root), {node}
            ldf, lcov = build(node[0], is_probe_root)
            rdf, rcov = build(node[1], False)
            covered = lcov | rcov
            now = [c for srcs, c in pending if srcs <= covered]
            pending = [(srcs, c) for srcs, c in pending if not (srcs <= covered)]
            if now:
                cond = None
                for c in now:
                    col, _ = self._expr(c, [])
                    cond = col if cond is None else (cond & col)
                return ldf.join(rdf, on=cond, how="inner"), covered
            return ldf.crossJoin(rdf), covered

        joined, _ = build(tree, True)
        for srcs, c in pending:
            col, _ = self._expr(c, [])
            joined = joined.filter(col)
        return joined

    # ------------------------------------------------------------------
    def _attach_subqueries(self, stmt: A.SelectStmt, df: DataFrame) -> DataFrame:
        """Find every QueryExpr in WHERE/SELECT and join its value onto the
        row frame, decorrelating exactly like the reference
        (`src/IR/QueryGraph.cpp:24-340`): group the inner query by its
        correlation keys, then join the aggregate back to the outer query
        on those keys. Uncorrelated scalars become a broadcast cross join
        of a single-row frame."""
        roots: list[A.Node] = list(self.deferred_where)
        roots += [it.expr for it in stmt.items if it.expr is not None]
        seen: list[A.QueryExpr] = []
        for r in roots:
            for n in walk(r):
                if isinstance(n, A.QueryExpr) and not any(n is s for s in seen):
                    seen.append(n)
        for i, qe in enumerate(seen):
            df = self._attach_one(qe, df, f"__sub{i}")
        return df

    def _attach_one(self, qe: A.QueryExpr, outer: DataFrame, name: str) -> DataFrame:
        inner = qe.stmt
        # inner scope: alias → attr set (without compiling yet)
        inner_attrs: dict[str, set[str]] = {}
        for ref in inner.from_:
            if ref.subquery is not None:
                cols = {
                    (it.alias or (it.expr.attr if isinstance(it.expr, A.Designator) else totext(it.expr)))
                    for it in ref.subquery.items
                    if it.expr is not None
                }
                inner_attrs[ref.alias] = cols
            else:
                if ref.name not in self.tables:
                    raise SemaError(f"table {ref.name!r} does not exist")
                inner_attrs[ref.alias or ref.name] = set(
                    dict(self.tables[ref.name].dtypes)
                )

        def scope_of(d: A.Designator) -> str:
            if d.table is not None:
                if d.table in inner_attrs:
                    return "inner"
                if any(s.alias == d.table for s in self.sources):
                    return "outer"
                raise SemaError(f"unknown table {d.table!r}")
            inner_hit = any(d.attr in attrs for attrs in inner_attrs.values())
            outer_hit = any(d.attr in s.attrs for s in self.sources)
            if inner_hit:
                return "inner"  # inner scope shadows outer (standard SQL)
            if outer_hit:
                return "outer"
            raise SemaError(f"unknown attribute {d.attr!r}")

        # split inner WHERE into pure-inner conjuncts and correlation
        # equalities (inner_col = outer_col)
        conjuncts: list[A.Node] = []

        def flat(e: A.Node):
            if isinstance(e, A.Binary) and e.op == "AND":
                flat(e.left)
                flat(e.right)
            else:
                conjuncts.append(e)

        if inner.where is not None:
            flat(inner.where)

        pure: list[A.Node] = []
        corr: list[tuple[A.Designator, A.Designator]] = []  # (inner, outer)
        for c in conjuncts:
            scopes = {
                scope_of(n) for n in walk(c) if isinstance(n, A.Designator)
            }
            if scopes <= {"inner"}:
                pure.append(c)
            elif (
                isinstance(c, A.Binary)
                and c.op == "="
                and isinstance(c.left, A.Designator)
                and isinstance(c.right, A.Designator)
                and {scope_of(c.left), scope_of(c.right)} == {"inner", "outer"}
            ):
                if scope_of(c.left) == "inner":
                    corr.append((c.left, c.right))
                else:
                    corr.append((c.right, c.left))
            else:
                raise SemaError(
                    "unsupported correlated predicate in nested query "
                    "(only conjunctive equality correlation is decorrelatable)"
                )

        if len(inner.items) != 1 or inner.items[0].expr is None:
            raise SemaError("nested query must select exactly one expression")

        remaining = None
        for c in pure:
            remaining = c if remaining is None else A.Binary("AND", remaining, c)

        if not corr:
            # uncorrelated scalar: compile as-is, broadcast cross join
            sub_stmt = A.SelectStmt(
                items=[A.SelectItem(inner.items[0].expr, alias=name)],
                from_=inner.from_,
                where=remaining,
                group_by=inner.group_by,
                having=inner.having,
                order_by=inner.order_by,
                limit=inner.limit,
                offset=inner.offset,
            )
            sub = self._sub().compile_select(sub_stmt)
            self.subq_map.append((qe, name, dict(sub.dtypes)[name]))
            # enforce scalar (≤1 row) semantics at runtime: probe at most 2
            # rows, then raise if a second exists — otherwise
            # `WHERE x > (SELECT k FROM t)` would silently multiply every
            # outer row by the subquery's cardinality. first() over the
            # ≤2-row probe is the value when the guard passes; empty
            # subquery yields NULL (standard scalar semantics).
            probe = sub.limit(2).agg(
                F.first(F.col(name)).alias(name),
                F.count(F.lit(1)).alias("__n"),
            )
            guarded = probe.select(
                F.when(F.col("__n") <= 1, F.col(name))
                .otherwise(F.raise_error("scalar subquery returned more than one row"))
                .alias(name)
            )
            return outer.crossJoin(F.broadcast(guarded))

        if inner.group_by:
            raise SemaError(
                "correlated nested query with its own GROUP BY is not supported"
            )
        # decorrelate: GROUP BY the correlation keys, join back on them
        key_items = [
            A.SelectItem(d, alias=f"{name}_k{j}") for j, (d, _) in enumerate(corr)
        ]
        sub_stmt = A.SelectStmt(
            items=[A.SelectItem(inner.items[0].expr, alias=name)] + key_items,
            from_=inner.from_,
            where=remaining,
            group_by=[A.GroupItem(d, alias=f"{name}_k{j}") for j, (d, _) in enumerate(corr)],
        )
        sub = self._sub().compile_select(sub_stmt)
        cond = None
        for j, (_, outer_d) in enumerate(corr):
            oc, _t = self._resolve(outer_d)
            c = oc == F.col(f"{name}_k{j}")
            cond = c if cond is None else (cond & c)
        self.subq_map.append((qe, name, dict(sub.dtypes)[name]))
        joined = outer.join(F.broadcast(sub), on=cond, how="left")
        return joined.drop(*[f"{name}_k{j}" for j in range(len(corr))])

    # ------------------------------------------------------------------
    def _aggregate(self, stmt: A.SelectStmt, df: DataFrame):
        agg_map: list[tuple[A.Node, str, str]] = []
        group_cols: list[Column] = []
        self.group_display: list[tuple[str, str]] = []
        for i, g in enumerate(stmt.group_by):
            if not any(isinstance(n, A.Designator) for n in walk(g.expr)):
                # the reference rejects attribute-free grouping keys
                # (sema-san-select-scalar_function_in_group_by: constant
                # expressions group nothing)
                raise SemaError(
                    f"grouping key {totext(g.expr)} references no attribute"
                )
            c, t = self._expr(g.expr, [])
            # internal names are dot/paren-free; display names are applied
            # at projection time (the reference's post-projection rename,
            # `Optimizer.cpp:466-493`)
            name = f"__key{i}"
            display = g.alias or (
                g.expr.attr if isinstance(g.expr, A.Designator) else totext(g.expr)
            )
            group_cols.append(c.alias(name))
            self.group_display.append((name, display))
            agg_map.append((g.expr, name, t))
            if g.alias:
                agg_map.append((A.Designator(None, g.alias), name, t))
            self.types[name] = t

        agg_asts: list[A.FnApplication] = []
        roots = [it.expr for it in stmt.items if it.expr is not None]
        if stmt.having is not None:
            roots.append(stmt.having)
        roots += [o.expr for o in stmt.order_by]
        for r in roots:
            for n in walk(r):
                if (
                    isinstance(n, A.FnApplication)
                    and n.name.upper() in AGGREGATES
                    and not any(n == a for a in agg_asts)
                ):
                    agg_asts.append(n)

        agg_exprs: list[Column] = []
        for i, a in enumerate(agg_asts):
            name = f"__agg{i}"
            fn = a.name.upper()
            if fn == "COUNT" and (a.star or not a.args):
                # COUNT(*) and the reference's bare COUNT() both count rows
                col, t = F.count(F.lit(1)), "bigint"
            else:
                if len(a.args) != 1:
                    raise SemaError(f"{fn} takes exactly one argument")
                arg, at = self._expr(a.args[0], [])
                if fn == "COUNT":
                    col, t = F.count(arg), "bigint"
                elif fn == "AVG":
                    # AVG is always DOUBLE (`Sema.cpp:600-605`)
                    if not is_numeric(at):
                        raise SemaError(f"AVG requires a numeric argument, got {at}")
                    col, t = F.avg(arg).cast("double"), "double"
                elif fn == "SUM":
                    # SUM widens: ints→INT(8), floats→DOUBLE (`Sema.cpp:607-626`)
                    if not is_numeric(at):
                        raise SemaError(f"SUM requires a numeric argument, got {at}")
                    if is_int(at):
                        col, t = F.sum(arg).cast("long"), "bigint"
                    elif at.startswith("decimal"):
                        col, t = F.sum(arg), at
                    else:
                        col, t = F.sum(arg.cast("double")), "double"
                else:  # MIN / MAX preserve the argument type (`Sema.cpp:554+`)
                    col, t = (F.min(arg) if fn == "MIN" else F.max(arg)), at
            agg_exprs.append(col.alias(name))
            agg_map.append((a, name, t))
            self.types[name] = t

        if group_cols:
            if agg_exprs:
                out = df.groupBy(*group_cols).agg(*agg_exprs)
            else:
                # pure GROUP BY with no aggregates: distinct key tuples
                out = df.groupBy(*group_cols).agg(
                    F.count(F.lit(1)).alias("__gdummy")
                )
        else:
            out = df.agg(*agg_exprs) if agg_exprs else df
        # grouping keys and aggregate arguments are compiled; everything
        # from HAVING on resolves against the grouped output only
        self._post_group = True
        if stmt.having is not None:
            cond, t = self._expr(stmt.having, agg_map)
            if t != "boolean":
                raise SemaError("HAVING clause must be boolean")
            out = out.filter(cond)
        return out, agg_map

    # ------------------------------------------------------------------
    def _expr(self, e: A.Node, agg_map) -> tuple[Column, str]:
        for ast, name, t in agg_map:
            if e == ast:
                return F.col(name), t
        # unqualified designator ↔ table-qualified grouping key (by attr
        # name, `Sema.cpp:262-276`); ambiguous when two keys share the attr
        if isinstance(e, A.Designator):
            hits = {
                name: t
                for ast, name, t in agg_map
                if isinstance(ast, A.Designator) and designator_matches(e, ast)
            }
            if len(hits) > 1:
                raise SemaError(
                    f"Designator {e.attr} is ambiguous, multiple occurrences "
                    "in GROUP BY clause"
                )
            if hits:
                name, t = next(iter(hits.items()))
                return F.col(name), t
        for ast, name, t in getattr(self, "subq_map", []):
            if e is ast or e == ast:
                return F.col(name), t
        if isinstance(e, A.QueryExpr):
            raise SemaError(
                "nested query not supported in this position (WHERE/SELECT only)"
            )

        if isinstance(e, A.Literal):
            if e.kind == "int":
                return F.lit(e.value), "int" if -(2**31) <= e.value < 2**31 else "bigint"
            if e.kind == "float":
                return F.lit(e.value), "double"
            if e.kind == "str":
                return F.lit(e.value), "string"
            if e.kind == "bool":
                return F.lit(e.value), "boolean"
            if e.kind == "null":
                return F.lit(None), "null"
            if e.kind == "date":
                return F.lit(e.value).cast("date"), "date"
            if e.kind == "datetime":
                return F.lit(e.value).cast("timestamp_ntz"), "timestamp_ntz"
            raise SemaError(f"unknown literal kind {e.kind}")

        if isinstance(e, A.Designator):
            if getattr(self, "_post_group", False):
                raise SemaError(
                    f"designator {e.attr} is not accessible after grouping "
                    "(not a grouping key or aggregate)"
                )
            return self._resolve(e)

        if isinstance(e, A.FnApplication):
            fn = e.name.upper()
            if fn == "ISNULL":
                if len(e.args) != 1:
                    raise SemaError("ISNULL takes exactly one argument")
                c, _ = self._expr(e.args[0], agg_map)
                return c.isNull(), "boolean"
            if fn == "INT":
                c, t = self._expr(e.args[0], agg_map)
                return c.cast("long"), "bigint"
            if fn in AGGREGATES:
                raise SemaError(f"aggregate {fn} is not allowed here")
            raise SemaError("User-defined functions are not yet supported")

        if isinstance(e, A.Unary):
            c, t = self._expr(e.operand, agg_map)
            if e.op == "NOT":
                if t != "boolean":
                    raise SemaError("NOT requires a boolean operand")
                return ~c, "boolean"
            if e.op == "~":
                if not is_int(t):
                    raise SemaError("~ requires an integer operand")
                return F.bitwise_not(c), t
            if not is_numeric(t):
                raise SemaError(f"unary {e.op} requires a numeric operand")
            return (c if e.op == "+" else -c), t

        if isinstance(e, A.Binary):
            lc, lt = self._expr(e.left, agg_map)
            rc, rt = self._expr(e.right, agg_map)
            op = e.op
            if op in ("AND", "OR"):
                if lt != "boolean" or rt != "boolean":
                    raise SemaError(f"{op} requires boolean operands")
                return (lc & rc) if op == "AND" else (lc | rc), "boolean"
            if op == "..":
                # string concatenation (`Sema.cpp:794-811`)
                if lt != "string" or rt != "string":
                    raise SemaError("operands of .. must be strings")
                return F.concat(lc, rc), "string"
            if op == "LIKE":
                if lt != "string" or rt != "string":
                    raise SemaError("operands of LIKE must be strings")
                return F.like(lc, rc), "boolean"
            if op in ("=", "!=", "<", ">", "<=", ">="):
                lc, rc = self._coerce_cmp(lc, lt, rc, rt, op)
                spark_op = {
                    "=": lambda a, b: a == b,
                    "!=": lambda a, b: a != b,
                    "<": lambda a, b: a < b,
                    ">": lambda a, b: a > b,
                    "<=": lambda a, b: a <= b,
                    ">=": lambda a, b: a >= b,
                }[op]
                return spark_op(lc, rc), "boolean"
            # arithmetic
            t = arithmetic_join(lt, rt, op)
            if op == "*":
                return lc * rc, t
            if op == "%":
                return lc % rc, t
            if op == "+":
                return lc + rc, t
            if op == "-":
                return lc - rc, t
            if op == "/":
                if is_int(lt) and is_int(rt):
                    # C++ integer division semantics (StackMachine Div_i):
                    # Spark's IntegralDivide truncates toward zero exactly
                    # on longs — no double round-trip, so operands past
                    # 2^53 stay exact
                    return F.call_function("div", lc, rc).cast(t), t
                return lc / rc, t
            raise SemaError(f"unknown operator {op}")

        raise SemaError(f"cannot compile expression {e!r}")

    def _coerce_cmp(self, lc, lt, rc, rt, op):
        """Comparison operand coercion (`Sema.cpp:813-905`): numerics
        compare via arithmetic join; DATE literals compare against
        DATETIME columns by widening to the timestamp side."""
        dateish = ("date", "timestamp", "timestamp_ntz")
        if lt in dateish and rt in dateish:
            if lt != rt:
                wide = "timestamp_ntz" if "timestamp_ntz" in (lt, rt) else "timestamp"
                return lc.cast(wide), rc.cast(wide)
            return lc, rc
        if lt == "string" and rt == "string":
            return lc, rc
        if lt == "boolean" and rt == "boolean":
            return lc, rc
        if is_numeric(lt) and is_numeric(rt):
            return lc, rc
        if "null" in (lt, rt):
            return lc, rc
        raise SemaError(f"invalid operands to {op}: {lt}, {rt}")


def compile_select(
    stmt: A.SelectStmt, tables: dict[str, DataFrame], planner=None, zone_indexes=None
) -> DataFrame:
    return Compiler(tables, planner, zone_indexes).compile_select(stmt)
