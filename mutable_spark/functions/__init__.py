"""Engine function library.

Two concerns live here:

1. **Deterministic aggregates** — the driver hash-compares our results
   against a DuckDB oracle. Floating-point SUM/AVG are order-dependent, and
   Spark's parallel partial aggregation sums in a different order than
   DuckDB. We therefore compute money-valued aggregates through exact
   DECIMAL arithmetic (cast each operand to DECIMAL first — a binary double
   is never exactly half-way between two 2-decimal values, so the rounding
   is unambiguous and both engines agree) and cast the exact result to
   DOUBLE at the end. Identical bits, any partitioning, any cluster size.

2. **Vector math** — fold-based dot products / norms over `array<float>`
   embedding columns using JVM-side higher-order functions (`aggregate`,
   `zip_with`) — no Python UDF in the hot path. Folds run left-to-right,
   matching DuckDB's `list_reduce`, so cosine scores are bit-identical too.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import Column
import pyspark.sql.functions as F

DEC = "decimal(18,2)"


def dec(col: Column | str) -> Column:
    """Exact 2-decimal view of a money/measure column."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def _split_parts(col: Column | str) -> tuple[Column, Column]:
    """Per-row (whole-units, sub-unit-cents) LONG pair of a 2-decimal-
    grid column, either sign — the split-accumulator inputs (module note
    below; signed exactness argument there: Spark and DuckDB both
    truncate toward zero with dividend-sign remainders, r11 ADVICE
    verification). Pure Column ops: lo = cents % 100; hi =
    (cents - lo) / 100, where the division is exact (an integer multiple
    of 100 divided by 100 is exactly representable, and IEEE division is
    correctly rounded)."""
    c_cents = cents(col)
    lo = c_cents % F.lit(100)
    hi = ((c_cents - lo) / F.lit(100)).cast("long")
    return hi, lo


def dsum(col: Column | str) -> Column:
    """Order-independent exact SUM of a 2-decimal-grid column (either
    sign — see the module note's signed-exactness argument; the int64
    bounds there are stated for non-negative money columns and a signed
    column needs |value|·rows inside int64 the same way), surfaced as
    DOUBLE via split LONG accumulators (r11: migrated
    off the decimal(28,2) sum buffer, which runs BigDecimal per row —
    see the module note; oracle twin `sql_dsum` mirrors the
    recombination expression-for-expression)."""
    hi, lo = _split_parts(col)
    return F.sum(hi).cast("double") + F.sum(lo).cast("double") / F.lit(100.0)


def davg(col: Column | str) -> Column:
    """AVG = exact split SUM / COUNT, surfaced as DOUBLE.

    Matches the reference's rule that AVG is always DOUBLE
    (`src/parse/Sema.cpp:600-605`).
    """
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c) / F.count(c)


def dsum_expr(col: Column) -> Column:
    """SUM of an already-exact decimal expression, surfaced as DOUBLE."""
    return F.sum(col).cast("double")


# --- split-accumulator exact decimal sums --------------------------------
# Spark's decimal SUM buffer (precision 28 after the +10 promotion) exceeds
# the compact-long threshold (18), so every row update runs BigDecimal
# arithmetic — measured ~17-35% of TPC-H Q1's total wall time at sf0.1.
# The split-accumulator formulation keeps exactness with pure LONG
# aggregates inside whole-stage codegen: scale the (2-decimal-grid) input
# to an integer, split it into whole units (div 10^s) and the sub-unit
# remainder (% 10^s), and SUM the two parts separately. Bounds at 100 TB
# (~6e11 TPC-H rows): the hi sum carries ≤ max_whole_units·rows (Q1's
# charge: ~3.7e4 · 6e11 ≈ 2e16) and the lo sum < 10^s·rows (≤ 6e17 for
# s=6) — both far inside int64, where the naive single-long accumulator
# for the charge product overflows at roughly sf 40. Signed inputs are
# exact too: Spark's `div`/`%` and DuckDB's `//`/`%` BOTH truncate toward
# zero with dividend-sign remainders (verified: -99428 div 100 = -994,
# -99428 % 100 = -28 in both engines — r11 ADVICE), so the split parts
# are engine-identical for any sign; the overflow BOUNDS above are stated
# for the non-negative TPC-H money columns, and a signed column just
# needs |value|·rows inside int64 the same way. The double recombination
# (hi + lo/10^s) is mirrored
# expression-for-expression by the SQL twins, so both engines perform the
# IDENTICAL IEEE operation sequence on identical exact integers.


def cents(col: Column | str) -> Column:
    """Exact integer cents of a 2-decimal-grid DOUBLE column (LONG).

    FLOOR(x*100 + 0.5), not ROUND: Spark's round() on DOUBLE routes
    through BigDecimal.setScale per row (measured: q1 at sf0.1
    345 ms -> 258 ms from this one change), while floor is a single
    Math.floor. Exactness is unchanged — x is the nearest double to
    k/100 with |k| ≤ ~1e16, so x*100 lands within ~1e-6 of the integer
    k and FLOOR(k ± 1e-6 + 0.5) = k for either sign (a CAST truncation
    instead of FLOOR would break negatives; asserted in tests against
    both round() and the DuckDB oracle's round())."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * 100 + F.lit(0.5)).cast("long")


def split_sum(name: str, s: int) -> Column:
    """Order-independent exact SUM of integer column ``name`` (in 10^-s
    units), surfaced as DOUBLE via split accumulators (see module note).
    Takes a column NAME so the integer `div` stays an exact SQL
    expression (Column `/` is float division)."""
    k = 10**s
    hi = F.sum(F.expr(f"`{name}` div {k}"))
    lo = F.sum(F.col(name) % F.lit(k))
    return hi.cast("double") + lo.cast("double") / F.lit(float(k))


# SQL-side twins for oracle strings (DuckDB dialect).
def sql_dsum(expr: str) -> str:
    # DuckDB twin of `dsum`: identical split-accumulator recombination
    # (r11 — changed in lockstep with dsum; both engines SUM the same
    # exact LONG pairs and recombine with the identical IEEE sequence).
    return sql_split_sum(sql_cents(expr), 2)


def sql_davg(expr: str) -> str:
    return f"({sql_dsum(expr)} / COUNT({expr}))"


def sql_cents(expr: str) -> str:
    return f"CAST(round(({expr})*100) AS BIGINT)"


def sql_split_sum(expr: str, s: int) -> str:
    # CAST each SUM to BIGINT: DuckDB widens SUM(BIGINT) to HUGEINT, whose
    # hash family can never match int64 (the r7 pack_sequences lesson).
    k = 10**s
    return (
        f"(CAST(CAST(SUM(({expr}) // {k}) AS BIGINT) AS DOUBLE)"
        f" + CAST(CAST(SUM(({expr}) % {k}) AS BIGINT) AS DOUBLE) / {float(k)})"
    )


# --- vector math over array<float/double> columns ------------------------

#: unroll width for `vec_dot`'s codegen fast path — the corpus' embedding
#: dimension (64 at every SF; TESTDATA). 0 disables unrolling (pure fold).
_DOT_UNROLL_DIM = int(os.environ.get("MUTABLE_SPARK_DOT_UNROLL_DIM", "64"))


def _fold_dot(a: Column, b: Column) -> Column:
    """Left-to-right fold dot product in DOUBLE (bit-matches list_reduce)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _unrolled_dot(a: Column, b: Column, dim: int) -> Column:
    """The same left-to-right IEEE add sequence as `_fold_dot`, written as
    an explicit ``dim``-term expression tree: ((0.0 + a0*b0) + a1*b1) + …
    Unlike the higher-order fold — whose lambda is CodegenFallback and
    evaluates interpreted, one boxed call per element — this is plain
    GetArrayItem/Multiply/Add arithmetic that whole-stage codegen compiles
    to straight-line JVM code. Each add is the identical double op on the
    identical operands, so the result is bit-equal to the fold's
    (r15 opt round: verified by hashing both over the 1.86M-pair
    multiprobe verify frame — equal; 5.87 → 1.25 s on that stage)."""
    acc: Column = F.lit(0.0)
    for d in range(dim):
        acc = acc + a[d].cast("double") * b[d].cast("double")
    return acc


def vec_dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Left-to-right fold dot product in DOUBLE (bit-matches list_reduce).

    Fast path (guide §4.1 — prefer codegen'd built-ins over interpreted
    lambdas): rows where BOTH arrays have exactly ``dim`` elements
    (default `_DOT_UNROLL_DIM`, the corpus' embedding width) take an
    unrolled expression with the identical IEEE add sequence; everything
    else — ragged, short, NULL arrays — falls back to the fold, whose
    NULL/padding semantics (zip_with pads the shorter side with NULL →
    NULL product → NULL sum) the guard preserves exactly: a size
    mismatch with `dim` routes to the fold, and `size(NULL) IS NULL`
    makes the CASE take the fallback branch too.

    The unroll is OPT-IN per call site (``dim=None`` → plain fold):
    measured per registered query (r15 opt round, interleaved min-of-5),
    the unrolled expression wins only where a single cosine site
    dominates row volume (the multiprobe verify: 1.86M pairs, −0.5 s);
    on small-N or many-instance plans the bigger tree's constant
    overheads (plan/codegen size) cost more than the interpreted fold —
    dedup_multiprobe_sweep read +0.56 s with a global default. Hot sites
    pass `_DOT_UNROLL_DIM`; everything else keeps the fold."""
    # memoized on the operands' renders (`memo_exprs`): rebuilding the
    # unrolled tree per query costs ~190 py4j round-trips (sim_knn_join
    # build 0.18 → 1.87 s). Call sites pass F.col()-rooted operands; a
    # df["x"] render drops its plan id and could collide.
    if dim is None or dim <= 0:
        return memo_exprs(("fold_dot", str(a), str(b)), lambda: _fold_dot(a, b))
    return memo_exprs(
        ("unrolled_dot", str(a), str(b), dim),
        lambda: F.when(
            (F.size(a) == dim) & (F.size(b) == dim), _unrolled_dot(a, b, dim)
        ).otherwise(_fold_dot(a, b)),
    )


def vec_norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(vec_dot(a, a, dim))


def vec_cosine_pre(
    a: Column, b: Column, na: Column, nb: Column, dim: int | None = None
) -> Column:
    """Cosine from PRECOMPUTED norms — IEEE-identical to `vec_cosine`
    (same operations on the same operands; the norms are just computed
    once per row instead of once per pair). Use on pair-expanded frames:
    a row participating in k pairs pays its norm fold once, not k times
    — measured 2× on the blocked near-dup join at sf0.1 (SCALE.md r11).
    Zero-norm sides still yield NULL via try_divide."""
    return F.try_divide(vec_dot(a, b, dim), na * nb)


def vec_cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    """Cosine in DOUBLE; a zero-norm side yields NULL, not an error.

    Under Spark's ANSI mode a plain `/` raises DIVIDE_BY_ZERO, so ONE
    corrupt (all-zero) embedding row would kill an entire batch k-NN
    job. `try_divide` returns NULL instead — exactly what DuckDB's
    double division by zero produces — and NULL sorts last under the
    DESC orderings every consumer uses, so zero vectors can never rank
    as top neighbors in either engine. Pinned by
    tests/test_edge_embeddings.py."""
    return F.try_divide(vec_dot(a, b, dim), vec_norm(a, dim) * vec_norm(b, dim))


#: (gateway token, *site key) → frame-independent Column tree(s). Py4j
#: Column construction can outweigh execution (dedup_simhash: 1.6 s of a
#: 1.8 s build; the k-gram zip_with chains ~0.3-0.5 s per build); a Column
#: built from F.col(fixed-name)/F.lit is unresolved and immutable, so one
#: build per process serves every plan. Cached Columns hold JVM refs, so
#: entries are keyed on a token stored on the live gateway object (never
#: its recyclable address) and dead-gateway entries are dropped eagerly.
_EXPR_MEMO: dict[tuple, object] = {}
_GATEWAY_TOKENS = itertools.count(1)


def _gateway_token() -> int:
    """Token stored on the active py4j gateway (0 before any JVM exists)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return 0
    # vars(), not hasattr: a JavaGateway forwards attribute misses to the JVM
    if "_memo_token" not in vars(sc._gateway):
        sc._gateway._memo_token = next(_GATEWAY_TOKENS)
    return sc._gateway._memo_token


def memo_exprs(key: tuple, build):
    """Return ``build()`` memoized per (py4j gateway, ``key``).

    ``build`` must construct Column trees from FIXED column names only
    (F.col/F.lit roots — no df["x"], no values read from data), so the
    cached object is equivalent to rebuilding it: plans are unchanged
    (pinned byte-identical in plans/r16), only the construction-side
    py4j round-trips are saved. A key whose render names a lambda
    variable (``namedlambdavariable``) is not unique to its lambda, so
    it is built fresh instead."""
    if "namedlambdavariable" in repr(key):
        return build()
    gw = _gateway_token()
    full = (gw, *key)
    v = _EXPR_MEMO.get(full)
    if v is None:
        for stale in [k for k in _EXPR_MEMO if k[0] != gw]:
            del _EXPR_MEMO[stale]
        v = build()
        _EXPR_MEMO[full] = v
    return v
