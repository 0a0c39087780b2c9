"""Planner parity knobs: injected cardinalities and Python-side join
ordering (SURVEY §4.1 "Join order search" / §7 phase 6).

The reference ships 13+ plan enumerators (`src/IR/PlanEnumerator.cpp:725-738`)
and a pluggable cardinality estimator with an *Injected* mode that reads
true cardinalities from a JSON file (`src/catalog/CardinalityEstimator.cpp:
801-804`, used by the TPC-H benchmarks via `--use-cardinality-file`).
On Spark the equivalent levers are (a) the order in which we build the
DataFrame join tree — Catalyst preserves a user-given join order unless
CBO reordering is enabled — and (b) `broadcast()` hints for sides we know
are small.

This module provides:
- ``Cardinalities``: subset-cardinality store in the reference's JSON
  shape (`benchmark/tpc-h/q1.json`: entries {"relations": [...],
  "size": n}), with parquet-footer row counts as the zero-cost fallback
  (metadata only — no scan).
- ``goo_order``: Greedy Operator Ordering (the reference's `GOO`
  enumerator, `PlanEnumerator.cpp`): repeatedly merge the connected pair
  with the smallest estimated result. O(n³) worst case, fine for the
  ≤ dozens of relations any sane query has.
- the reference's enumerator family re-expressed over (aliases, edges,
  cards): ``dpccp_plan`` (default exact DP, csg-cmp pairs),
  ``dpsize_plan`` / ``dpsub_plan`` (size- and subset-driven bottom-up
  DP), ``tdbasic_plan`` (memoized top-down partitioning) — all exact
  over cross-product-free bushy trees — and ``ikkbz_order`` /
  ``ikkbz_plan`` (polynomial rank-based linearization on the
  selectivity MST).
- ``JoinPlanner``: plugs cardinalities + a chosen enumerator into the
  dialect compiler (opt-in ``Compiler(tables, planner=...)``).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


def parquet_row_count(path: str) -> int | None:
    """Row count of a parquet file, or of a directory's ``*.parquet`` files
    at any depth, from their footers — metadata, not a scan. ``None`` when
    there is no file or any footer is unreadable."""
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    p = Path(path)
    files = sorted(p.glob("**/*.parquet")) if p.is_dir() else [p]
    if not files:
        return None
    try:
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except (OSError, pa.ArrowException):
        return None


@dataclass
class Cardinalities:
    """Subset cardinalities: frozenset of relation aliases → size."""

    base: dict[str, int] = field(default_factory=dict)
    subsets: dict[frozenset, int] = field(default_factory=dict)

    @classmethod
    def from_json(cls, path: str, database: str | None = None) -> "Cardinalities":
        """Reference format: {"<db>": [{"relations": ["A","B"], "size": n},
        ...]} or a flat list of the same entries. ``database`` selects the
        matching section of a multi-db file (the reference's
        InjectionCardinalityEstimator keys on the current database name);
        omitted, a single-section file is accepted as-is and a multi-db
        file raises rather than silently picking the first section."""
        with open(path) as f:
            doc = json.load(f)
        if isinstance(doc, list):
            entries = doc
        elif database is not None and database in doc:
            entries = doc[database]
        elif len(doc) == 1:
            # a lone section applies regardless of its label (common case:
            # the file was exported for exactly this database)
            entries = next(iter(doc.values()))
        else:
            raise KeyError(
                f"cardinality file has no section for database {database!r} "
                f"(sections: {sorted(doc)})"
            )
        c = cls()
        for e in entries:
            rels = frozenset(e["relations"])
            c.subsets[rels] = int(e["size"])
            if len(rels) == 1:
                c.base[next(iter(rels))] = int(e["size"])
        return c

    def est(self, aliases: frozenset) -> float:
        """Estimated cardinality of the join of ``aliases``. Exact if
        injected; otherwise the FK heuristic: a join is at most as large
        as its largest base relation (true for key/foreign-key joins,
        which is what star/snowflake queries are made of)."""
        if aliases in self.subsets:
            return float(self.subsets[aliases])
        sizes = [self.base.get(a, 1_000_000) for a in aliases]
        return float(max(sizes)) if sizes else 1.0


def goo_order(
    aliases: list[str],
    edges: set[frozenset],
    cards: Cardinalities,
) -> list[str]:
    """Greedy Operator Ordering: returns a left-deep join order. Each step
    merges the pair of partial joins with the smallest estimated result,
    preferring connected pairs (an edge between their alias sets) —
    cartesian products only when the graph is disconnected, mirroring the
    reference's GOO behavior."""
    parts: list[frozenset] = [frozenset([a]) for a in aliases]
    order_sets: list[frozenset] = []

    def connected(x: frozenset, y: frozenset) -> bool:
        return any(
            e <= (x | y) and e & x and e & y for e in edges
        )

    while len(parts) > 1:
        best = None
        for i in range(len(parts)):
            for j in range(i + 1, len(parts)):
                conn = connected(parts[i], parts[j])
                size = cards.est(parts[i] | parts[j])
                key = (not conn, size)  # connected pairs first, then size
                if best is None or key < best[0]:
                    best = (key, i, j)
        _, i, j = best
        merged = parts[i] | parts[j]
        order_sets.append(merged)
        parts = [p for k, p in enumerate(parts) if k not in (i, j)] + [merged]

    # linearize to a left-deep alias order: seed with the first merge,
    # then append whichever alias each subsequent merge introduces
    if not order_sets:
        return aliases
    out: list[str] = []
    for s in order_sets:
        new = sorted(s - set(out), key=lambda a: cards.base.get(a, 0))
        out.extend(new)
    return out


#: Join trees are nested 2-tuples over alias strings; a bare string is a
#: leaf. `("A", ("B", "C"))` joins A with the result of B⋈C.
JoinTree = object


class _BitGraph:
    """Bitset adjacency over an ordered alias list — the shared substrate
    of the DP enumerators (the reference's `AdjacencyMatrix`,
    `include/mutable/util/ADT.hpp`)."""

    def __init__(self, aliases: list[str], edges: set[frozenset]):
        self.aliases = aliases
        self.n = len(aliases)
        pos = {a: i for i, a in enumerate(aliases)}
        self.adj = [0] * self.n
        for e in edges:
            if len(e) != 2 or not e <= set(pos):
                continue
            a, b = sorted(e)
            self.adj[pos[a]] |= 1 << pos[b]
            self.adj[pos[b]] |= 1 << pos[a]

    def nbr(self, S: int) -> int:
        out, s = 0, S
        while s:
            i = (s & -s).bit_length() - 1
            out |= self.adj[i]
            s &= s - 1
        return out & ~S

    def connected(self, S: int) -> bool:
        if S == 0:
            return False
        seen = S & -S
        while True:
            grow = seen | (self.nbr(seen) & S)
            if grow == seen:
                break
            seen = grow
        return seen == S

    def mask_aliases(self, m: int) -> frozenset:
        return frozenset(
            self.aliases[i] for i in range(self.n) if (m >> i) & 1
        )


def _combine(best: dict, S1: int, S2: int, g: _BitGraph, cards: Cardinalities):
    """PT.update: fold the (S1, S2) join into the plan table under C_out,
    orienting the larger side left (probe) / smaller right (build)."""
    u = S1 | S2
    size = cards.est(g.mask_aliases(u))
    c1, t1 = best[S1]
    c2, t2 = best[S2]
    cost = c1 + c2 + size
    e1 = cards.est(g.mask_aliases(S1))
    e2 = cards.est(g.mask_aliases(S2))
    tree = (t1, t2) if e1 >= e2 else (t2, t1)
    if u not in best or cost < best[u][0]:
        best[u] = (cost, tree)


def dpsize_plan(
    aliases: list[str], edges: set[frozenset], cards: Cardinalities
) -> tuple | str | None:
    """DPsize (reference `src/IR/PlanEnumerator.cpp:69`): size-driven
    bottom-up DP — for each result size s, pair already-solved connected
    subproblems of sizes s1 + s2 = s that are disjoint and joined by an
    edge. Same optimum as DPccp/DPsub (all exact over cross-product-free
    bushy trees); kept for enumerator parity and as a cross-check. Subset
    pairing is O(4^n)-flavored — use for n ≤ ~10; DPccp is the scale
    choice."""
    g = _BitGraph(aliases, edges)
    n = g.n
    if n == 0:
        return None
    if n == 1:
        return aliases[0]
    full = (1 << n) - 1
    if not g.connected(full):
        return None  # cross products never emitted; caller falls back
    best: dict[int, tuple[float, object]] = {
        1 << i: (0.0, aliases[i]) for i in range(n)
    }

    def sized(k: int):
        """All n-bit masks of popcount k (Gosper's hack, like the
        reference's `GospersHack::enumerate_all`)."""
        s = (1 << k) - 1
        while s <= full:
            yield s
            c = s & -s
            r = s + c
            s = (((r ^ s) >> 2) // c) | r
            if c == 0:
                break

    for s in range(2, n + 1):
        for s1 in range(1, s):
            s2 = s - s1
            for S1 in sized(s1):
                if S1 not in best:
                    continue  # subproblem not connected
                for S2 in sized(s2):
                    if S2 not in best or (S1 & S2):
                        continue
                    if not g.nbr(S1) & S2:
                        continue  # no join edge between the sides
                    _combine(best, S1, S2, g, cards)
    return best[full][1]


def dpsub_plan(
    aliases: list[str], edges: set[frozenset], cards: Cardinalities
) -> tuple | str | None:
    """DPsub (reference `src/IR/PlanEnumerator.cpp:201`): subset-driven
    bottom-up DP — enumerate every connected mask S in integer order (so
    all strict subsets precede it) and split it into every (S1, S \\ S1)
    pair whose halves both have plans. Exact; O(3^n); n ≤ ~12."""
    g = _BitGraph(aliases, edges)
    n = g.n
    if n == 0:
        return None
    if n == 1:
        return aliases[0]
    full = (1 << n) - 1
    if not g.connected(full):
        return None
    best: dict[int, tuple[float, object]] = {
        1 << i: (0.0, aliases[i]) for i in range(n)
    }
    for S in range(3, full + 1):
        if S.bit_count() < 2 or not g.connected(S):
            continue
        S1 = (S - 1) & S
        while S1:
            S2 = S & ~S1
            if S2 and S1 in best and S2 in best:
                _combine(best, S1, S2, g, cards)
            S1 = (S1 - 1) & S
    return best[full][1]


def tdbasic_plan(
    aliases: list[str], edges: set[frozenset], cards: Cardinalities
) -> tuple | str | None:
    """TDbasic (reference `src/IR/PlanEnumerator.cpp:597`): top-down naive
    partitioning with memoization — recursively split each connected set
    into connected (sub, complement) pairs, deduplicating symmetric splits
    by lowest set bit. Same optimum as the bottom-up DPs."""
    g = _BitGraph(aliases, edges)
    n = g.n
    if n == 0:
        return None
    if n == 1:
        return aliases[0]
    full = (1 << n) - 1
    if not g.connected(full):
        return None
    best: dict[int, tuple[float, object]] = {
        1 << i: (0.0, aliases[i]) for i in range(n)
    }
    done: set[int] = {1 << i for i in range(n)}

    def plan_gen(S: int) -> None:
        if S in done:
            return
        sub = (S - 1) & S
        while sub:
            comp = S & ~sub
            if (
                comp
                and (sub & -sub) < (comp & -comp)
                and g.connected(sub)
                and g.connected(comp)
            ):
                plan_gen(sub)
                plan_gen(comp)
                _combine(best, sub, comp, g, cards)
            sub = (sub - 1) & S
        done.add(S)

    plan_gen(full)
    return best[full][1]


def ikkbz_order(
    aliases: list[str], edges: set[frozenset], cards: Cardinalities
) -> list[str]:
    """IKKBZ linearization (reference `src/IR/PlanEnumerator.cpp:298`;
    Krishnamurthy/Boral/Zaniolo "Optimization of Nonrecursive Queries").

    Build the minimum spanning forest of the join graph under edge
    *selectivity* |R⋈S| / |R| / |S|, then for every root greedily emit
    relations in ascending *rank* — (|parent⋈child| − |parent|) / |child|,
    growth per unit cost — along the precedence tree, keeping the
    linearization whose left-deep C_out is cheapest. Polynomial (the whole
    point: an exact-for-linear-trees algorithm that scales past DP range);
    the caller reconstructs a right-deep plan from the order, as the
    reference does."""
    import heapq

    n = len(aliases)
    if n <= 1:
        return list(aliases)

    def sel(u: str, v: str) -> float:
        cu, cv = cards.est(frozenset([u])), cards.est(frozenset([v]))
        return cards.est(frozenset([u, v])) / (cu * cv or 1.0)

    # Kruskal minimum spanning forest by selectivity
    parent = {a: a for a in aliases}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    mst: dict[str, set[str]] = {a: set() for a in aliases}
    weighted = sorted(
        (sel(*sorted(e)), tuple(sorted(e)))
        for e in edges
        if len(e) == 2 and e <= set(aliases)
    )
    for _, (u, v) in weighted:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            mst[u].add(v)
            mst[v].add(u)

    def rank(p: str, c: str) -> float:
        return (
            cards.est(frozenset([p, c])) - cards.est(frozenset([p]))
        ) / (cards.est(frozenset([c])) or 1.0)

    best_lin: list[str] | None = None
    best_cost = float("inf")
    for root in aliases:
        lin = [root]
        joined = {root}
        heap = [(rank(root, c), c, root) for c in mst[root]]
        heapq.heapify(heap)
        cost = 0.0
        while heap:
            _, child, _ = heapq.heappop(heap)
            if child in joined:
                continue
            lin.append(child)
            joined.add(child)
            cost += cards.est(frozenset(joined))
            for c2 in mst[child]:
                if c2 not in joined:
                    heapq.heappush(heap, (rank(child, c2), c2, child))
        # disconnected forest: append stranded components greedily
        for a in aliases:
            if a not in joined:
                lin.append(a)
                joined.add(a)
                cost += cards.est(frozenset(joined))
        if cost < best_cost:
            best_cost, best_lin = cost, lin
    return best_lin or list(aliases)


def ikkbz_plan(
    aliases: list[str], edges: set[frozenset], cards: Cardinalities
) -> tuple | str | None:
    """Right-deep plan from the IKKBZ linearization, mirroring the
    reference's reconstruction (each new relation joins as the left /
    build side against the accumulated chain)."""
    lin = ikkbz_order(aliases, edges, cards)
    if not lin:
        return None
    tree: object = lin[0]
    for a in lin[1:]:
        tree = (a, tree)
    return tree


def _tree_aliases(t) -> frozenset:
    if isinstance(t, str):
        return frozenset([t])
    return _tree_aliases(t[0]) | _tree_aliases(t[1])


def plan_cost(tree, cards: Cardinalities) -> float:
    """C_out of a join tree: the sum of estimated intermediate-result
    cardinalities over all internal nodes — the textbook cost function the
    reference's cost-function surface defaults to approximating."""
    if isinstance(tree, str):
        return 0.0
    l, r = tree
    return plan_cost(l, cards) + plan_cost(r, cards) + cards.est(
        _tree_aliases(tree)
    )


def dpccp_plan(
    aliases: list[str],
    edges: set[frozenset],
    cards: Cardinalities,
) -> tuple | str | None:
    """DPccp (Moerkotte & Neumann, "Analysis of Two Existing and One New
    Dynamic Programming Algorithm for the Generation of Optimal Bushy Join
    Trees without Cross Products", VLDB'06) — the reference's exact
    enumerator (`src/IR/PlanEnumerator.cpp` DPccp: connected-subgraph /
    complement pairs via `AdjacencyMatrix::for_each_CSG_pair_undirected`).

    Enumerates every connected subgraph S1 and every connected complement
    S2 (csg-cmp pairs), then solves the DP over C_out. Returns the optimal
    bushy join tree, or ``None`` when the join graph is disconnected
    (DPccp never emits cross products — the caller falls back to GOO,
    which does).

    Bitset-over-int implementation; intended for n ≤ ~12 relations (the
    csg-cmp pair count is exponential in the worst case, exactly like the
    reference's — JOB-scale queries are fine, hundreds of relations are
    not)."""
    n = len(aliases)
    if n == 0:
        return None
    if n == 1:
        return aliases[0]
    pos = {a: i for i, a in enumerate(aliases)}
    adj = [0] * n
    for e in edges:
        if len(e) != 2 or not e <= set(pos):
            continue
        a, b = sorted(e)
        adj[pos[a]] |= 1 << pos[b]
        adj[pos[b]] |= 1 << pos[a]

    def nbr(S: int) -> int:
        out = 0
        s = S
        while s:
            i = (s & -s).bit_length() - 1
            out |= adj[i]
            s &= s - 1
        return out & ~S

    full = (1 << n) - 1

    # connectivity check (disconnected graph → GOO handles the cartesian)
    seen = 1
    while True:
        grow = seen | (nbr(seen) & full)
        if grow == seen:
            break
        seen = grow
    if seen != full:
        return None

    def subsets(mask: int):
        """All non-empty submasks of ``mask``."""
        s = mask
        while s:
            yield s
            s = (s - 1) & mask

    def csg_rec(S: int, X: int, emit):
        N = nbr(S) & ~X
        for S1 in subsets(N):
            emit(S | S1)
        for S1 in subsets(N):
            csg_rec(S | S1, X | N, emit)

    csgs: list[int] = []
    for i in range(n - 1, -1, -1):
        csgs.append(1 << i)
        Bi = (1 << (i + 1)) - 1
        csg_rec(1 << i, Bi, csgs.append)

    pairs: list[tuple[int, int]] = []
    for S1 in csgs:
        lo = (S1 & -S1).bit_length() - 1
        X = ((1 << (lo + 1)) - 1) | S1
        N = nbr(S1) & ~X
        for i in range(n - 1, -1, -1):
            if not (N >> i) & 1:
                continue
            pairs.append((S1, 1 << i))
            Bi = (1 << (i + 1)) - 1
            csg_rec(1 << i, X | (Bi & N), lambda S2: pairs.append((S1, S2)))

    def mask_aliases(m: int) -> frozenset:
        return frozenset(aliases[i] for i in range(n) if (m >> i) & 1)

    best: dict[int, tuple[float, object]] = {
        1 << i: (0.0, aliases[i]) for i in range(n)
    }
    # process pairs grouped by result size so both subproblems are always
    # solved first (robust regardless of emission order)
    for S1, S2 in sorted(pairs, key=lambda p: (p[0] | p[1]).bit_count()):
        u = S1 | S2
        size = cards.est(mask_aliases(u))
        c1, t1 = best[S1]
        c2, t2 = best[S2]
        cost = c1 + c2 + size
        # orientation: larger side left (probe), smaller right (build /
        # broadcast candidate) — ties keep S1 left for determinism
        e1 = cards.est(mask_aliases(S1))
        e2 = cards.est(mask_aliases(S2))
        tree = (t1, t2) if e1 >= e2 else (t2, t1)
        if u not in best or cost < best[u][0]:
            best[u] = (cost, tree)
    return best[full][1]


def peall_plan(
    aliases: list[str], edges: set[frozenset], cards: Cardinalities
) -> tuple | str | None:
    """PEall (reference `src/IR/PlanEnumerator.cpp:33`): exhaustive DP over
    ALL partitions INCLUDING Cartesian products — every mask in integer
    order, split into every (S1, complement) pair, symmetric halves pruned
    by the reference's highest-bit break condition (S1 never contains S's
    top relation). The only enumerator whose space admits cross products,
    so it alone finds plans like a tiny-dim × tiny-dim pre-join; it never
    returns None on a disconnected graph. Honest results require the
    estimator to price disconnected sets as products (inject subset
    cardinalities); O(3^n)."""
    g = _BitGraph(aliases, edges)
    n = g.n
    if n == 0:
        return None
    if n == 1:
        return aliases[0]
    full = (1 << n) - 1
    best: dict[int, tuple[float, object]] = {
        1 << i: (0.0, aliases[i]) for i in range(n)
    }
    for S in range(3, full + 1):
        if S.bit_count() < 2:
            continue
        hi = 1 << (S.bit_length() - 1)
        sub = (S - 1) & S
        while sub:
            if not (sub & hi):  # commutativity: complement keeps the top bit
                _combine(best, sub, S & ~sub, g, cards)
            sub = (sub - 1) & S
    return best[full][1]


def dpsizeopt_plan(
    aliases: list[str], edges: set[frozenset], cards: Cardinalities
) -> tuple | str | None:
    """DPsizeOpt (reference `src/IR/PlanEnumerator.cpp:110`): DPsize with
    the symmetric-subproblem optimizations — sizes only up to s/2 and, for
    equal halves, only subset pairs in ascending order (commutativity
    supplies the mirror). Same optimum as DPsize/DPccp; ~half the pair
    visits."""
    g = _BitGraph(aliases, edges)
    n = g.n
    if n == 0:
        return None
    if n == 1:
        return aliases[0]
    full = (1 << n) - 1
    if not g.connected(full):
        return None
    best: dict[int, tuple[float, object]] = {
        1 << i: (0.0, aliases[i]) for i in range(n)
    }

    def sized(k: int):
        s = (1 << k) - 1
        while s <= full:
            yield s
            c = s & -s
            r = s + c
            s = (((r ^ s) >> 2) // c) | r
            if c == 0:
                break

    for s in range(2, n + 1):
        for s1 in range(1, s // 2 + 1):
            s2 = s - s1
            for S1 in sized(s1):
                if S1 not in best:
                    continue
                for S2 in sized(s2):
                    if s1 == s2 and S2 <= S1:
                        continue  # enumerate only subsets following S1
                    if S2 not in best or (S1 & S2):
                        continue
                    if not g.nbr(S1) & S2:
                        continue
                    _combine(best, S1, S2, g, cards)
    return best[full][1]


def dpsizesub_plan(
    aliases: list[str], edges: set[frozenset], cards: Cardinalities
) -> tuple | str | None:
    """DPsizeSub (reference `src/IR/PlanEnumerator.cpp:166`): size-driven
    outer loop like DPsize, but each connected result set S enumerates its
    own subset/complement pairs (like DPsub) instead of pairing two
    independent size classes. Same optimum; avoids the disjointness and
    edge re-checks of DPsize."""
    g = _BitGraph(aliases, edges)
    n = g.n
    if n == 0:
        return None
    if n == 1:
        return aliases[0]
    full = (1 << n) - 1
    if not g.connected(full):
        return None
    best: dict[int, tuple[float, object]] = {
        1 << i: (0.0, aliases[i]) for i in range(n)
    }

    def sized(k: int):
        s = (1 << k) - 1
        while s <= full:
            yield s
            c = s & -s
            r = s + c
            s = (((r ^ s) >> 2) // c) | r
            if c == 0:
                break

    for s in range(2, n + 1):
        for S in sized(s):
            if not g.connected(S):
                continue
            sub = (S - 1) & S
            while sub:
                comp = S & ~sub
                if comp and sub in best and comp in best:
                    _combine(best, sub, comp, g, cards)
                sub = (sub - 1) & S
    return best[full][1]


def dpsubopt_plan(
    aliases: list[str], edges: set[frozenset], cards: Cardinalities
) -> tuple | str | None:
    """DPsubOpt (reference `src/IR/PlanEnumerator.cpp:236`): DPsub with
    the symmetric-pair break condition — S1 never contains S's top
    relation, the complement does; commutativity supplies the mirror.
    Same optimum, half the splits."""
    g = _BitGraph(aliases, edges)
    n = g.n
    if n == 0:
        return None
    if n == 1:
        return aliases[0]
    full = (1 << n) - 1
    if not g.connected(full):
        return None
    best: dict[int, tuple[float, object]] = {
        1 << i: (0.0, aliases[i]) for i in range(n)
    }
    for S in range(3, full + 1):
        if S.bit_count() < 2 or not g.connected(S):
            continue
        hi = 1 << (S.bit_length() - 1)
        sub = (S - 1) & S
        while sub:
            if not (sub & hi):
                comp = S & ~sub
                if sub in best and comp in best:
                    _combine(best, sub, comp, g, cards)
            sub = (sub - 1) & S
    return best[full][1]


def _reachable(g: _BitGraph, start: int, within: int) -> int:
    """Vertices of ``within`` reachable from ``start`` (`AdjacencyMatrix::
    reachable`)."""
    seen = start & within
    if not seen:
        return 0
    while True:
        grow = seen | (g.nbr(seen) & within)
        if grow == seen:
            return seen
        seen = grow


def _mincut_agat_partitions(g: _BitGraph, S: int):
    """All ccp (C, S∖C) partitions of connected mask ``S``, enumerated with
    the reference's min-cut advanced generate-and-test
    (`include/mutable/util/MinCutAGaT.hpp:12`): grow a cut C from S's
    lowest vertex; emit (C, S−C) when the neighborhood of the
    newly-added vertices T stays reachable within S−C (the sufficient
    connectivity test), else remember C as T for the children; branch on
    C's not-yet-excluded neighborhood with an exclusion set X preventing
    duplicate cuts."""
    first = S & -S
    worklist: list[tuple[int, int, int]] = [(first, 0, first)]
    while worklist:
        C, X, T = worklist.pop()
        N_T = g.nbr(T) & S & ~C
        if N_T.bit_count() <= 1:
            is_conn = True
        else:
            n0 = N_T & -N_T
            is_conn = (N_T & ~_reachable(g, n0, S & ~C)) == 0
        T_tmp = 0
        if is_conn:
            yield C, S & ~C
        else:
            T_tmp = C
        if C.bit_count() + 1 >= S.bit_count():
            continue
        X_tmp = X
        N_C = g.nbr(C) & S & ~X_tmp
        while N_C:
            v = N_C & -N_C
            worklist.append((C | v, X_tmp, T_tmp | v))
            X_tmp |= v
            N_C &= N_C - 1
    return


def tdmincut_plan(
    aliases: list[str], edges: set[frozenset], cards: Cardinalities
) -> tuple | str | None:
    """TDMinCutAGaT (reference `src/IR/PlanEnumerator.cpp:643`): exact
    top-down enumeration where each connected set's ccp partitions come
    from the MinCutAGaT cut enumeration instead of naive
    generate-and-test. Same optimum as the bottom-up DPs."""
    g = _BitGraph(aliases, edges)
    n = g.n
    if n == 0:
        return None
    if n == 1:
        return aliases[0]
    full = (1 << n) - 1
    if not g.connected(full):
        return None
    best: dict[int, tuple[float, object]] = {
        1 << i: (0.0, aliases[i]) for i in range(n)
    }
    done: set[int] = {1 << i for i in range(n)}

    def plan_gen(S: int) -> None:
        if S in done:
            return
        for C, comp in _mincut_agat_partitions(g, S):
            plan_gen(C)
            plan_gen(comp)
            _combine(best, C, comp, g, cards)
        done.add(S)

    plan_gen(full)
    return best[full][1]


def tdgoo_plan(
    aliases: list[str], edges: set[frozenset], cards: Cardinalities
) -> tuple | str | None:
    """TDGOO (reference `src/IR/PlanEnumerator.cpp:707`,
    `PlanEnumerator.hpp:163`): top-down greedy operator ordering — cut
    each subproblem with the MinCutAGaT partition minimizing
    est(left) + est(right) (hpp:185) and recurse on both sides. Greedy:
    exactly n−1 cuts; no optimality guarantee, but each cut keeps the
    smallest intermediate frontier."""
    g = _BitGraph(aliases, edges)
    n = g.n
    if n == 0:
        return None
    if n == 1:
        return aliases[0]
    full = (1 << n) - 1
    if not g.connected(full):
        return None

    def split(S: int):
        if S.bit_count() == 1:
            return aliases[S.bit_length() - 1]
        best_cut = None
        for C, comp in _mincut_agat_partitions(g, S):
            c = cards.est(g.mask_aliases(C)) + cards.est(g.mask_aliases(comp))
            if best_cut is None or c < best_cut[0]:
                best_cut = (c, C, comp)
        _, l, r = best_cut
        tl, tr = split(l), split(r)
        el = cards.est(g.mask_aliases(l))
        er = cards.est(g.mask_aliases(r))
        return (tl, tr) if el >= er else (tr, tl)

    return split(full)


def linearizeddp_plan(
    aliases: list[str], edges: set[frozenset], cards: Cardinalities
) -> tuple | str | None:
    """LinearizedDP (reference `src/IR/PlanEnumerator.cpp:457`): exact DP
    restricted to subproblems *contiguous in the IKKBZ linearization* —
    interval DP over the linear order, splitting every connected interval
    at each midpoint whose halves both have plans. Polynomial — O(n²)
    intervals × O(n) splits — vs the exponential full DPs; the space
    contains IKKBZ's own left-deep plan (all prefixes are intervals), so
    the result is never worse than IKKBZ and often bushy-better."""
    n = len(aliases)
    if n == 0:
        return None
    if n == 1:
        return aliases[0]
    g = _BitGraph(aliases, edges)
    full = (1 << n) - 1
    if not g.connected(full):
        return None
    order = ikkbz_order(aliases, edges, cards)
    pos = {a: i for i, a in enumerate(aliases)}
    pre = [0] * (n + 1)  # pre[i] = mask of order[:i]
    for i, a in enumerate(order):
        pre[i + 1] = pre[i] | (1 << pos[a])

    def interval(b: int, e: int) -> int:
        return pre[e] & ~pre[b]

    best: dict[int, tuple[float, object]] = {
        1 << i: (0.0, aliases[i]) for i in range(n)
    }
    for length in range(2, n + 1):
        for b in range(0, n - length + 1):
            e = b + length
            S = interval(b, e)
            if not g.connected(S):
                continue
            for mid in range(b + 1, e):
                S1, S2 = interval(b, mid), interval(mid, e)
                if S1 in best and S2 in best:
                    _combine(best, S1, S2, g, cards)
    return best[full][1] if full in best else None


def hs_plan(
    aliases: list[str],
    edges: set[frozenset],
    cards: Cardinalities,
    *,
    heuristic: str = "zero",
    weight: float = 1.0,
    beam_width: int = 0,
    expansion_budget: int | None = None,
):
    """Heuristic-search join enumeration — the reference's flagship
    optimizer research (SIGMOD'23 "Efficiently Computing Join Orders with
    Heuristic Search", `include/mutable/IR/HeuristicSearchPlanEnumerator.hpp`,
    `README.md:62`), re-derived from the paper's structure:

    - a *state* is the set of subproblems yet to be joined
      (`search_states::SubproblemsArray`, hpp:196), starting from all
      singletons; the goal is a single subproblem covering the query;
    - *expansion* joins any two connected subproblems
      (`expansions::BottomUpComplete`, hpp:1251) — g accumulates C_out
      (each join adds the estimated cardinality of its result, the same
      cost `plan_cost` charges);
    - *h* is one of the reference's heuristics (hpp:1698):
      ``zero`` (admissible → optimal, the A* baseline), ``sum`` of
      remaining subproblem cardinalities (inadmissible bottom-up,
      hpp:1729), ``scaled_sum`` (hpp:1824), or ``goo`` — the cost of a
      greedy completion of the state (hpp:1958), the informative anytime
      heuristic;
    - config axes mirror the preconfigured strategies (hpp:2158-2169):
      ``weight`` > 1 multiplies h (weighted_AStar), ``beam_width`` > 0
      keeps only the k best successors per expansion (beam_search), and
      ``expansion_budget`` caps expansions, after which the best open
      state is completed greedily (`goo_path_completion`) — anytimeAStar's
      bounded-effort guarantee.

    Returns a join tree (nested 2-tuples), or None on a disconnected
    graph (the caller falls back to GOO, as with the exact DPs)."""
    import heapq
    import itertools

    if not aliases:
        return None
    if len(aliases) == 1:
        return aliases[0]

    def connected(x: frozenset, y: frozenset) -> bool:
        return any((e & x) and (e & y) for e in edges)

    def goo_complete(state):
        """Greedy completion of a partial state: (added C_out, merge list).
        The reference's `goo_path_completion` — both the ``goo`` heuristic
        and the anytime fallback use it."""
        parts = list(state)
        cost = 0.0
        merges: list[tuple[frozenset, frozenset]] = []
        while len(parts) > 1:
            best = None
            for i in range(len(parts)):
                for j in range(i + 1, len(parts)):
                    conn = connected(parts[i], parts[j])
                    size = cards.est(parts[i] | parts[j])
                    key = (not conn, size)
                    if best is None or key < best[0]:
                        best = (key, i, j)
            _, i, j = best
            merged = parts[i] | parts[j]
            cost += cards.est(merged)
            merges.append((parts[i], parts[j]))
            parts = [p for k, p in enumerate(parts) if k not in (i, j)] + [merged]
        return cost, merges

    def h(state) -> float:
        if len(state) == 1 or heuristic == "zero":
            return 0.0
        if heuristic == "sum":
            return sum(cards.est(s) for s in state)
        if heuristic == "scaled_sum":
            cs = sorted((cards.est(s) for s in state), reverse=True)
            return sum((i + 1) * c for i, c in enumerate(cs[:-1])) + (
                len(cs) - 1
            ) * cs[-1]
        if heuristic == "goo":
            return goo_complete(state)[0]
        raise ValueError(f"unknown heuristic {heuristic!r}")

    def finish_with_goo(state, trees):
        _, merges = goo_complete(state)
        trees = dict(trees)
        for x, y in merges:
            trees[x | y] = (trees[x], trees[y])
        return trees[frozenset(aliases)]

    start = frozenset(frozenset([a]) for a in aliases)
    start_trees = {frozenset([a]): a for a in aliases}
    tick = itertools.count()  # heap tiebreak: FIFO among equal f
    open_heap = [(weight * h(start), 0.0, next(tick), start, start_trees)]
    best_g = {start: 0.0}
    expansions = 0

    while open_heap:
        f, g, _, state, trees = heapq.heappop(open_heap)
        if len(state) == 1:
            return trees[next(iter(state))]
        if g > best_g.get(state, float("inf")):
            continue  # stale queue entry superseded by a cheaper path
        if expansion_budget is not None and expansions >= expansion_budget:
            return finish_with_goo(state, trees)
        expansions += 1
        ordered = sorted(state, key=lambda s: tuple(sorted(s)))
        succs = []
        for i in range(len(ordered)):
            for j in range(i + 1, len(ordered)):
                x, y = ordered[i], ordered[j]
                if not connected(x, y):
                    continue
                joined = x | y
                ng = g + cards.est(joined)
                ns = frozenset(s for s in state if s != x and s != y) | {joined}
                nt = dict(trees)
                nt[joined] = (nt.pop(x), nt.pop(y))
                succs.append((ng + weight * h(ns), ng, ns, nt))
        if beam_width:
            succs = sorted(succs, key=lambda t: t[0])[:beam_width]
        for fv, ng, ns, nt in succs:
            if ng < best_g.get(ns, float("inf")):
                best_g[ns] = ng
                heapq.heappush(open_heap, (fv, ng, next(tick), ns, nt))
    return None  # disconnected graph: no goal reachable without a cross product


# Preconfigured strategies in the reference's naming
# (`HeuristicSearchPlanEnumerator.hpp:2158-2169`).
def hs_astar_plan(aliases, edges, cards):
    """AStar: zero heuristic → uniform-cost search, provably C_out-optimal
    (pinned against the exact DPs in tests)."""
    return hs_plan(aliases, edges, cards, heuristic="zero")


def hs_weighted_astar_plan(aliases, edges, cards):
    """weighted_AStar: f = g + 2·h(sum) — faster goal-directed descent,
    bounded suboptimality in exchange."""
    return hs_plan(aliases, edges, cards, heuristic="sum", weight=2.0)


def hs_beam_plan(aliases, edges, cards):
    """beam_search: keep the 2 best successors per expansion under the
    GOO heuristic — near-linear states at the cost of optimality."""
    return hs_plan(aliases, edges, cards, heuristic="goo", beam_width=2)


def hs_anytime_plan(aliases, edges, cards, budget: int = 1_000):
    """anytimeAStar: full A* under the GOO heuristic until the expansion
    budget, then greedy completion of the best open state — optimal when
    the budget suffices, never worse than bounded-effort greedy."""
    return hs_plan(
        aliases, edges, cards, heuristic="goo", expansion_budget=budget
    )


@dataclass
class JoinPlanner:
    """Join-order + broadcast decisions for the dialect compiler.

    ``broadcast_rows``: sides whose (estimated) base cardinality is below
    this are marked broadcast — the reference's hash-join build-side
    choice, expressed as Spark's broadcast hint.
    """

    cards: Cardinalities
    broadcast_rows: int = 1_000_000
    #: "dpccp" = exact DP over csg-cmp pairs (bushy, cross-product-free),
    #: falling back to GOO for disconnected graphs or past
    #: ``max_dp_relations``; "goo" = always greedy left-deep. The other
    #: reference enumerators are available for parity experiments:
    #: "dpsize"/"dpsub"/"tdbasic" (exact, same optimum as dpccp) and
    #: "ikkbz" (polynomial, optimal linear order on the selectivity MST).
    enumerator: str = "dpccp"
    max_dp_relations: int = 12
    #: optional alias/table-name → SpnTableModel map. When set, the
    #: dialect compiler hands each SELECT's single-source numeric
    #: comparisons to ``with_spn_filters`` before planning, so base
    #: cardinalities become *filtered* SPN estimates — the reference's
    #: SpnEstimator estimating under the query's own predicates
    #: (`CardinalityEstimator.hpp:321`), not static table sizes.
    spn_models: dict | None = None

    def with_spn_filters(
        self,
        spn_filters: dict[str, dict],
        alias_table: dict[str, str] | None = None,
    ) -> "JoinPlanner":
        """A planner whose base cardinalities are SPN estimates under the
        given per-alias conjunctive filters ({alias: {col: [(op, val)]}}).
        Aliases without a model keep their existing injected/heuristic
        cardinality. No-op without ``spn_models``."""
        if not self.spn_models:
            return self
        from dataclasses import replace

        from mutable_spark.plans.spn import spn_base_cardinalities

        at = alias_table or {}
        by_alias = {}
        for alias in set(at) | set(spn_filters) | set(self.spn_models):
            m = self.spn_models.get(alias)
            if m is None:
                m = self.spn_models.get(at.get(alias))
            if m is not None:
                by_alias[alias] = m
        if not by_alias:
            return self
        est = spn_base_cardinalities(by_alias, spn_filters).base
        merged = dict(self.cards.base)
        merged.update(est)
        return replace(
            self,
            cards=Cardinalities(base=merged, subsets=dict(self.cards.subsets)),
        )

    def _base(self, alias: str, alias_table: dict[str, str]) -> float:
        """Base-cardinality lookup: by query alias first (the reference's
        injected JSON is alias-keyed), then by underlying table name."""
        if alias in self.cards.base:
            return self.cards.base[alias]
        t = alias_table.get(alias)
        if t in self.cards.base:
            return self.cards.base[t]
        return float("inf")

    def _effective(self, aliases, alias_table) -> Cardinalities:
        at = alias_table or {}
        return Cardinalities(
            base={
                a: (self._base(a, at) if self._base(a, at) != float("inf") else 1_000_000)
                for a in aliases
            },
            subsets=dict(self.cards.subsets),
        )

    def order(
        self,
        aliases: list[str],
        edges: set[frozenset],
        alias_table: dict[str, str] | None = None,
    ) -> list[str]:
        return goo_order(aliases, edges, self._effective(aliases, alias_table))

    def plan(
        self,
        aliases: list[str],
        edges: set[frozenset],
        alias_table: dict[str, str] | None = None,
    ):
        """Optimal bushy join tree via DPccp when the graph is connected
        and small enough for exact DP; greedy (GOO, left-deep) otherwise —
        the same exact-with-greedy-fallback pairing the reference's
        enumerator registry offers (`PlanEnumerator.cpp:725-738`)."""
        # one name-keyed table holds the builtins and user registrations
        # alike (the reference's Catalog::register_plan_enumerator); an
        # enumerator returns None to fall back to GOO
        from mutable_spark.extensions import PLAN_ENUMERATORS

        eff = self._effective(aliases, alias_table)
        exact = PLAN_ENUMERATORS.get(self.enumerator)
        if exact is not None and 1 < len(aliases) <= self.max_dp_relations:
            tree = exact(aliases, edges, eff)
            if tree is not None:
                return tree
        order = goo_order(aliases, edges, eff)
        tree: object = order[0]
        for a in order[1:]:
            tree = (tree, a)
        return tree

    def should_broadcast(
        self, alias: str, alias_table: dict[str, str] | None = None
    ) -> bool:
        return self._base(alias, alias_table or {}) <= self.broadcast_rows


def footer_cardinalities(sf_dir: str, tables=None) -> Cardinalities:
    """True base cardinalities for a testdata dir from parquet footers
    (metadata reads only) — the zero-cost stand-in for ANALYZE TABLE."""
    from mutable_spark.catalog import TABLE_NAMES

    c = Cardinalities()
    for t in tables or TABLE_NAMES:
        n = parquet_row_count(f"{sf_dir.rstrip('/')}/{t}.parquet")
        if n is not None:
            c.base[t] = n
    return c
