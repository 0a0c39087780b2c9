"""The benchmark's three closed-loop workloads.

Each workload runs one client: it sends the next operation only after the
previous one has returned its result. Operations come in passes; a pass is
one seeded permutation of the workload's operations, so every pass carries
the same work in a different order. The benchmark calls only the engine's
public entry points: ``session.get_spark`` (in ``run.py``),
``catalog.load_tables``, ``dialect.Engine.execute``, ``dialect.parse`` and
the ``registry.QUERIES`` builders, with oracles from ``registry.ORACLES``.

- ``sql_tpch``: eight ``tpch_q*`` DataFrame builders, the SELECTs of three
  reference scripts in ``benchmark/tpc-h/`` compiled by ``dialect.Engine``
  over tables IMPORTed once at setup, and two light curation builders.
- ``curation``: heavier corpus-curation builders (dedup, pipeline, text,
  events). ``BENCHMARK.json`` leaves it out to keep the full set of runs
  within its time budget; run it by name.
- ``dml_mixed``: tables IMPORTed fresh through the dialect at the start of
  every pass, then seeded rounds of UPDATE, DELETE and INSERT followed by
  one read SELECT, each read compared with the same statements replayed on
  DuckDB over the same DSV files.
"""

from __future__ import annotations

import contextlib
import itertools
import random
import sys
import time
import traceback
from collections import defaultdict
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

from mutable_spark import registry
from mutable_spark.catalog import load_tables
from mutable_spark.dialect import Engine, parse

from perfbench.results import Oracle, canonical_hash, frame_hash

registry.load_all()


class Stopwatch:
    """Summed wall seconds per named section."""

    def __init__(self) -> None:
        self.seconds: dict[str, float] = defaultdict(float)

    @contextlib.contextmanager
    def time(self, name: str) -> Iterator[None]:
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] += time.perf_counter() - t0


@dataclass
class Record:
    """One timed operation."""

    name: str
    kind: str  # "read" or "write"
    seconds: float
    ok: bool


@dataclass
class Ctx:
    spark: object
    corpus: Path
    repo: Path
    oracle: Oracle
    tracer: object
    corrupt: str | None = None
    errors: list[str] = field(default_factory=list)

    @property
    def sf_dir(self) -> str:
        return str(self.corpus)

    def fail(self, op: str, message: str) -> None:
        self.errors.append(f"{op}: {message}")
        print(f"perfbench: {op}: {message}", file=sys.stderr, flush=True)


def _layer(fn: Callable) -> str:
    """The engine layer a registry builder lives in: ``plans`` or ``operators``."""
    return "operators" if fn.__module__.startswith("mutable_spark.operators") else "plans"


def _release(spark) -> None:
    spark.catalog.clearCache()
    registry.release_caches(spark, blocking=True)


def _read(ctx: Ctx, op_id: str, name: str, build: Callable, layer: str):
    """Build and fetch one result; returns (seconds, pandas frame).

    The build runs inside a ``<layer>.build`` span and the Arrow fetch
    (``toPandas``) inside ``spark.fetch``; both tag their Spark jobs."""
    tracer = ctx.tracer
    t0 = time.perf_counter()
    with tracer.span("op", op_id, jobs=False):
        with tracer.span(f"{layer}.build", op_id):
            df = build(op_id)
            if name == ctx.corrupt:
                df = df.unionByName(df.limit(1))
        with tracer.span("spark.fetch", op_id):
            pdf = df.toPandas()
    seconds = time.perf_counter() - t0
    tracer.plan_seconds(op_id, df)
    return seconds, pdf


def _compile(tracer, eng: Engine, text: str, op_id: str):
    """``Engine.execute`` of a SELECT inside a ``dialect.compile`` span; the
    traced run first times ``parse`` alone in a ``dialect.parse`` span."""
    if tracer.enabled:
        with tracer.span("dialect.parse", op_id, jobs=False):
            parse(text)
    with tracer.span("dialect.compile", op_id):
        return eng.execute(text)


def _run_script_schema(eng: Engine, repo: Path) -> None:
    for stmt in _statements((repo / "benchmark" / "tpc-h" / "schema.sql").read_text()):
        eng.execute(stmt)


def _statements(text: str) -> list[str]:
    return [s.strip() for s in text.split(";") if s.strip()]


def _import(eng: Engine, corpus: Path, tables: tuple[str, ...]) -> None:
    for t in tables:
        eng.execute(f'IMPORT INTO {t} DSV "{corpus / "dsv" / t.lower()}.tbl" DELIMITER "|"')


class Workload:
    """Interface: ``setup`` and ``warmup`` run inside the timed set-up;
    ``verify`` checks every distinct operation once; ``run_pass`` runs one
    seeded pass and returns its timed records."""

    name = ""
    #: wall seconds of one warm pass at ``local[4]`` on the reference box
    #: (see README.md); sets how many passes ``--seconds`` buys
    pass_seconds: float

    def setup(self, ctx: Ctx, clock: Stopwatch) -> None:
        raise NotImplementedError

    def warmup(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def verify(self, ctx: Ctx, rng: random.Random) -> list[Record]:
        raise NotImplementedError

    def run_pass(self, ctx: Ctx, rng: random.Random, pass_id: str) -> list[Record]:
        raise NotImplementedError


class _ReadOnly(Workload):
    """A fixed set of read operations, each checked once against its DuckDB
    oracle and afterwards against the hash of that verified result."""

    def __init__(self, max_ops: int | None):
        self.names = self.op_names()[:max_ops]
        self.expected: dict[str, str] = {}

    def op_names(self) -> list[str]:
        raise NotImplementedError

    def build(self, ctx: Ctx, name: str) -> tuple[Callable, str]:
        """(op id → DataFrame, layer name) for operation ``name``."""
        fn = registry.QUERIES[name]
        return (lambda op_id: fn(ctx.spark, ctx.sf_dir)), _layer(fn)

    def oracle_sql(self, name: str) -> str:
        return registry.ORACLES[name]

    def setup(self, ctx: Ctx, clock: Stopwatch) -> None:
        with clock.time("catalog.load"):
            load_tables(ctx.spark, ctx.sf_dir)

    def warmup(self, ctx: Ctx) -> None:
        registry.QUERIES["tpch_q6"](ctx.spark, ctx.sf_dir).toPandas()

    def _one(self, ctx: Ctx, op_id: str, name: str) -> tuple[float, str | None]:
        build, layer = self.build(ctx, name)
        try:
            seconds, pdf = _read(ctx, op_id, name, build, layer)
        except Exception:  # an engine failure is a failed operation
            ctx.fail(name, traceback.format_exc(limit=3))
            return 0.0, None
        finally:
            _release(ctx.spark)
        return seconds, frame_hash(pdf)[0]

    def verify(self, ctx: Ctx, rng: random.Random) -> list[Record]:
        out = []
        for name in rng.sample(self.names, len(self.names)):
            seconds, got = self._one(ctx, f"verify.{name}", name)
            want, rows = ctx.oracle.answer(self.oracle_sql(name))
            ok = got == want
            if got is not None and not ok:
                ctx.fail(name, f"result differs from the DuckDB oracle ({rows} oracle rows)")
            self.expected[name] = want
            out.append(Record(name, "read", seconds, ok))
        return out

    def run_pass(self, ctx: Ctx, rng: random.Random, pass_id: str) -> list[Record]:
        out = []
        for i, name in enumerate(rng.sample(self.names, len(self.names))):
            seconds, got = self._one(ctx, f"{pass_id}.{i}.{name}", name)
            ok = got is not None and got == self.expected.get(name)
            if got is not None and not ok:
                ctx.fail(name, "timed result differs from the verified result")
            out.append(Record(name, "read", seconds, ok))
        return out


#: TPC-H builders and reference scripts in the workload: aggregation,
#: 3- to 6-way joins, outer and semi joins, EXISTS, scalar subqueries
TPCH_QUERIES = (1, 3, 5, 6, 13, 18, 21, 22)
SCRIPT_QUERIES = ("q1", "q6", "q14")
#: two light curation builders, so the operator library is measured on a
#: workload the benchmark runs by default: BPE submits jobs inside its
#: builder (driver rounds), sessionize is a window over the event stream
OPERATOR_OPS = ("text_bpe_train", "events_sessionize")
#: scripts whose registry twins (``dialect_tpch_q*``) compare DOUBLE-cast
#: decimals with their oracles; the same cast applies here
_DOUBLE_CAST = ("q1", "q5", "q10")
_TPCH_TABLES = ("Lineitem", "Orders", "Customer", "Part", "Supplier", "Nation", "Region")


class SqlTpch(_ReadOnly):
    name = "sql_tpch"
    pass_seconds = 6.0

    def op_names(self) -> list[str]:
        # the kinds interleaved, so ``--max-ops`` keeps each of them
        builders = [f"tpch_q{i}" for i in TPCH_QUERIES]
        scripts = [f"script_{q}" for q in SCRIPT_QUERIES]
        return [n for t in itertools.zip_longest(builders, scripts, OPERATOR_OPS) for n in t if n]

    def setup(self, ctx: Ctx, clock: Stopwatch) -> None:
        super().setup(ctx, clock)
        with clock.time("sources.import"):
            self.engine = Engine(ctx.spark)
            _run_script_schema(self.engine, ctx.repo)
            _import(self.engine, ctx.corpus, _TPCH_TABLES)
        self.selects = {}
        for q in SCRIPT_QUERIES:
            text = (ctx.repo / "benchmark" / "tpc-h" / f"{q}.sql").read_text()
            self.selects[q] = [s for s in _statements(text) if not s.upper().startswith("IMPORT")][-1]

    def build(self, ctx: Ctx, name: str) -> tuple[Callable, str]:
        if not name.startswith("script_"):
            return super().build(ctx, name)
        q = name.removeprefix("script_")
        text = self.selects[q]

        def compile_select(op_id):
            df = _compile(ctx.tracer, self.engine, text, op_id)
            if q in _DOUBLE_CAST:
                df = df.select(
                    *[
                        df[f.name].cast("double").alias(f.name)
                        if f.dataType.typeName() == "decimal"
                        else df[f.name]
                        for f in df.schema.fields
                    ]
                )
            return df

        return compile_select, "dialect"

    def oracle_sql(self, name: str) -> str:
        if name.startswith("script_"):
            return registry.ORACLES[f"dialect_tpch_{name.removeprefix('script_')}"]
        return super().oracle_sql(name)


class Curation(_ReadOnly):
    name = "curation"
    pass_seconds = 4.5

    def op_names(self) -> list[str]:
        return list(CURATION_OPS)


#: curation builders: eager jobs inside the builder (the multiprobe sweep
#: submits 8), an n-gram shingle tier, a composed curation pipeline,
#: iterative driver rounds (BPE) and a window over the event stream
CURATION_OPS = (
    "dedup_multiprobe_sweep",
    "dedup_verbatim_ngrams",
    "pipeline_end_to_end",
    "text_bpe_train",
    "events_sessionize",
)


# --- dml_mixed ---------------------------------------------------------------

_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
#: DuckDB column types of the mutated tables, as declared in schema.sql
_DUCK_TYPES = {
    "orders": {
        "o_orderkey": "BIGINT",
        "o_custkey": "BIGINT",
        "o_orderstatus": "VARCHAR",
        "o_totalprice": "DECIMAL(10,2)",
        "o_orderdate": "TIMESTAMP",
        "o_orderpriority": "VARCHAR",
    },
    "lineitem": {
        "l_orderkey": "BIGINT",
        "l_partkey": "BIGINT",
        "l_suppkey": "BIGINT",
        "l_linenumber": "INTEGER",
        "l_quantity": "DECIMAL(10,2)",
        "l_extendedprice": "DECIMAL(10,2)",
        "l_discount": "DECIMAL(10,2)",
        "l_tax": "DECIMAL(10,2)",
        "l_returnflag": "VARCHAR",
        "l_linestatus": "VARCHAR",
        "l_shipdate": "TIMESTAMP",
    },
}
_READS = (
    (
        "SELECT o_orderpriority, COUNT(*) AS n, "
        "SUM(l_extendedprice * (1 - l_discount)) AS revenue "
        "FROM Orders, Lineitem WHERE o_orderkey = l_orderkey AND l_shipdate >= {date} "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
    (
        "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS qty, COUNT(*) AS n "
        "FROM Lineitem WHERE l_shipdate < {date} "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
    ),
)


@dataclass
class Statement:
    kind: str  # "update", "delete", "insert" or "read"
    dialect: str
    duck: str


def _date(rng: random.Random) -> str:
    return f"{rng.randint(1995, 2001)}-{rng.randint(1, 12):02d}-01"


def _lit(s: str, duck: bool) -> str:
    return f"'{s}'" if duck else f'"{s}"'


def _ts(s: str, duck: bool) -> str:
    return f"TIMESTAMP '{s}'" if duck else f"d'{s}'"


#: rows each INSERT adds and the read's date cut-off; fixed, like the width
#: of the UPDATE and DELETE key ranges, so that every seed does the same work
_INSERT_ROWS = 10
_READ_DATE = "1998-06-01"


def dml_statements(rng: random.Random, rounds: int, n_orders: int) -> list[Statement]:
    """``rounds`` × (UPDATE, DELETE, INSERT, read) in the dialect and in
    DuckDB's SQL, from one seeded generator. The seed picks keys and values;
    the amount of work per round is the same for every seed."""
    out = []
    w = n_orders // 50
    for _ in range(rounds):
        a, b = rng.randrange(n_orders - w), rng.randrange(n_orders - w)
        prio = rng.choice(_PRIORITIES)
        flag = rng.choice("ANR")
        rows = [
            (
                rng.randrange(n_orders),
                rng.randrange(1000),
                rng.randrange(100),
                rng.randint(1, 7),
                f"{rng.randint(1, 50)}.00",
                f"{rng.randint(900, 104999)}.{rng.randint(0, 99):02d}",
                f"0.{rng.randint(0, 10):02d}",
                f"0.{rng.randint(0, 8):02d}",
                rng.choice("ANR"),
                rng.choice("FO"),
                _date(rng),
            )
            for _ in range(_INSERT_ROWS)
        ]
        read = _READS[len(out) // 4 % len(_READS)]
        pair = []
        for duck in (False, True):
            orders, lineitem = ("orders", "lineitem") if duck else ("Orders", "Lineitem")
            values = ", ".join(
                "(" + ", ".join([*map(str, r[:8]), _lit(r[8], duck), _lit(r[9], duck), _ts(r[10], duck)]) + ")"
                for r in rows
            )
            pair.append(
                [
                    f"UPDATE {orders} SET o_orderpriority = {_lit(prio, duck)} "
                    f"WHERE o_orderkey >= {a} AND o_orderkey < {a + w}",
                    f"DELETE FROM {lineitem} WHERE l_orderkey >= {b} AND l_orderkey < {b + w} "
                    f"AND l_returnflag = {_lit(flag, duck)}",
                    f"INSERT INTO {lineitem} VALUES {values}",
                    read.format(date=_ts(_READ_DATE, duck)),
                ]
            )
        for kind, d, q in zip(("update", "delete", "insert", "read"), *pair):
            out.append(Statement(kind, d, q))
    return out


def _duck_replay(corpus: Path, statements: list[Statement]) -> list[str]:
    """Canonical hashes of every read after replaying ``statements`` on
    DuckDB over the same DSV files the dialect IMPORTs."""
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        for t, cols in _DUCK_TYPES.items():
            columns = "{" + ", ".join(f"'{c}': '{ty}'" for c, ty in cols.items()) + "}"
            con.execute(
                f"CREATE TABLE {t} AS SELECT * FROM read_csv('{corpus / 'dsv' / t}.tbl', "
                f"delim='|', header=false, columns={columns})"
            )
        hashes = []
        for s in statements:
            if s.kind == "read":
                rel = con.sql(s.duck)
                hashes.append(canonical_hash(list(rel.columns), rel.fetchall())[0])
            else:
                con.execute(s.duck)
        return hashes
    finally:
        con.close()


class DmlMixed(Workload):
    name = "dml_mixed"
    pass_seconds = 9.5
    tables = ("Orders", "Lineitem")

    def __init__(self, max_ops: int | None, rounds: int = 4):
        self.rounds = rounds if max_ops is None else max(1, max_ops // 4)
        #: logical-plan lines of the mutated tables at the end of each traced pass
        self.lineage_nodes: list[int] = []

    def _fresh_engine(self, ctx: Ctx) -> Engine:
        eng = Engine(ctx.spark)
        _run_script_schema(eng, ctx.repo)
        _import(eng, ctx.corpus, self.tables)
        return eng

    def setup(self, ctx: Ctx, clock: Stopwatch) -> None:
        with clock.time("sources.import"):
            self.engine = self._fresh_engine(ctx)
        self.n_orders = pq.read_metadata(ctx.corpus / "orders.parquet").num_rows

    def warmup(self, ctx: Ctx) -> None:
        self.engine.execute(_READS[0].format(date="d'1998-01-01'")).toPandas()

    def verify(self, ctx: Ctx, rng: random.Random) -> list[Record]:
        # every timed read is checked against its own DuckDB replay, so the
        # untimed pass only needs one round to check and warm each statement kind
        return self.run_pass(ctx, rng, "verify", rounds=1)

    def run_pass(self, ctx: Ctx, rng: random.Random, pass_id: str, rounds: int | None = None) -> list[Record]:
        tracer = ctx.tracer
        statements = dml_statements(rng, rounds or self.rounds, self.n_orders)
        expected = iter(_duck_replay(ctx.corpus, statements))
        with tracer.span("sources.import", f"{pass_id}.import"):
            eng = self._fresh_engine(ctx)
        out = []
        for i, s in enumerate(statements):
            op_id = f"{pass_id}.{i}.{s.kind}"
            if s.kind != "read":
                t0 = time.perf_counter()
                try:
                    with tracer.span("op", op_id, jobs=False):
                        if tracer.enabled:
                            with tracer.span("dialect.parse", op_id, jobs=False):
                                parse(s.dialect)
                        with tracer.span("dialect.dml", op_id):
                            eng.execute(s.dialect)
                    out.append(Record(s.kind, "write", time.perf_counter() - t0, True))
                except Exception:  # an engine failure is a failed operation
                    ctx.fail(op_id, traceback.format_exc(limit=3))
                    out.append(Record(s.kind, "write", 0.0, False))
                continue

            def build(op_id, text=s.dialect):
                return _compile(tracer, eng, text, op_id)

            want = next(expected)
            try:
                seconds, pdf = _read(ctx, op_id, "dml_read", build, "dialect")
                ok = frame_hash(pdf)[0] == want
                if not ok:
                    ctx.fail(op_id, "read differs from the DuckDB replay")
            except Exception:  # an engine failure is a failed operation
                ctx.fail(op_id, traceback.format_exc(limit=3))
                seconds, ok = 0.0, False
            finally:
                _release(ctx.spark)
            out.append(Record("read", "read", seconds, ok))
        if tracer.enabled:
            self.lineage_nodes.append(
                sum(
                    eng.catalog.table(t)._jdf.queryExecution().logical().toString().count("\n") + 1
                    for t in self.tables
                )
            )
        return out


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (SqlTpch, Curation, DmlMixed)}
