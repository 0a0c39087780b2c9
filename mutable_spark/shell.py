"""Interactive shell for the dialect — the counterpart of the reference's
`src/shell.cpp` REPL: reads mutable-dialect statements (semicolon- or
newline-terminated), executes them through `dialect.Engine`, and prints
result rows with the reference's literal formats (`plans/sinks.py`).

Usage:
    python -m mutable_spark.shell                 # interactive
    python -m mutable_spark.shell script.sql      # run a .sql script
    echo 'SELECT 1 + 1 AS x;' | python -m mutable_spark.shell
    # reference-parity output options (src/shell.cpp option table):
    python -m mutable_spark.shell -t --echo --ast --plan -q --noprompt

Meta-commands (reference `\\instructions` analog): `.quit`, `.tables`,
`.load <sf_dir>` registers the testdata tables into the current database,
`.learn_spns` mirrors the reference's registered instruction of the same
name ("create an SPN for every table in the database",
`src/catalog/DatabaseCommand.cpp:23-45`): learns an SPN per table over its
numeric/date columns and installs an SPN-estimating JoinPlanner on the
engine, so subsequent multi-table SELECTs are join-ordered by learned
estimates — the reference's `--cardinality-estimator Spn` behavior.
`.cardinalities <file>` installs an injected-cardinality planner from the
reference's JSON format (`--use-cardinality-file`; Injected beats Spn in
the estimator precedence). `.plan <select>` emits the chosen plan without
executing (`--plan`). `.parquet <table> <path>` registers a parquet-backed
table (CREATE INDEX on it builds a real file-zone index). All instructions
— builtin and user-registered — resolve from the extension registry
(`mutable_spark/extensions.py`, the reference's Catalog::register_instruction).
"""

from __future__ import annotations

import sys


def run_statement(eng, text: str, out=sys.stdout, options=None) -> None:
    from mutable_spark.plans.sinks import print_result

    text = text.strip()
    if not text:
        return
    opt = options or {}
    if opt.get("echo"):  # reference --echo: echo statements
        out.write(text + "\n")
    if opt.get("ast"):  # reference --ast: print the AST of statements
        from mutable_spark.dialect import parse

        out.write(repr(parse(text)) + "\n")
    import time

    t0 = time.perf_counter()
    df = eng.execute(text)
    t_compile = time.perf_counter() - t0
    if df is not None:
        if opt.get("plan"):  # reference --plan: emit the chosen plan
            out.write(_explain(eng, df) + "\n")
        t1 = time.perf_counter()
        n = print_result(df, out)
        t_exec = time.perf_counter() - t1
        if not opt.get("quiet"):
            out.write(f"({n} rows)\n")
        if opt.get("times"):  # reference -t/--times: report exact timings
            out.write(
                f"compile: {t_compile * 1e3:.3f} ms, "
                f"execute: {t_exec * 1e3:.3f} ms\n"
            )
    else:
        if not opt.get("quiet"):
            out.write("ok\n")
        if opt.get("times"):
            out.write(f"execute: {t_compile * 1e3:.3f} ms\n")


#: SPN-modelable column types: numerics plus DATE/DATETIME (encoded as
#: days / epoch seconds — see SpnTableModel.from_dataframe)
_NUMERIC_TYPES = (
    "byte", "short", "integer", "long", "float", "double", "decimal",
    "date", "timestamp", "timestamp_ntz",
)


def learn_spns(eng) -> list[str]:
    """The reference's `learn_spns` instruction
    (`src/catalog/DatabaseCommand.cpp:23-45`): learn an SPN for every
    table in the current database (numeric columns; tables without any
    are skipped, matching `SpnWrapper`'s column filter), stash the models
    on the engine, and install a `JoinPlanner` whose base cardinalities
    are the SPN estimates — the reference's SpnEstimator wired into
    planning. Returns the per-table status lines the shell prints."""
    from mutable_spark.plans.planner import JoinPlanner
    from mutable_spark.plans.spn import SpnTableModel, spn_base_cardinalities

    msgs, models = [], {}
    for name, t in sorted(eng.catalog._db().items()):
        df = t.df
        cols = [
            f.name
            for f in df.schema.fields
            if f.dataType.typeName().split("(")[0] in _NUMERIC_TYPES
        ]
        if not cols:
            msgs.append(f"skipped {name}: no numeric columns")
            continue
        models[name] = SpnTableModel.from_dataframe(df, cols)
        msgs.append(f"learned SPN on {name} ({len(cols)} numeric columns)")
    eng.spn_models = models
    # spn_models on the planner lets the compiler re-estimate each query's
    # base cardinalities under its own WHERE comparisons (with_spn_filters)
    eng.planner = JoinPlanner(
        spn_base_cardinalities(models, {}),
        broadcast_rows=10_000,
        spn_models=models,
    )
    return msgs


def install_cardinalities(eng, path: str) -> str:
    """The reference's `--use-cardinality-file` flag as a shell command:
    load an injected-cardinality JSON (the reference's format —
    `{"<db>": [{"relations": [...], "size": n}, ...]}`) and install a
    JoinPlanner over it, replacing any SPN-estimating planner (the
    reference's estimator precedence: Injected beats Spn)."""
    from mutable_spark.plans.planner import Cardinalities, JoinPlanner

    # a multi-db file selects the section for the session's current
    # database, mirroring InjectionCardinalityEstimator's db-name keying
    cards = Cardinalities.from_json(path, database=eng.catalog.current)
    eng.planner = JoinPlanner(cards, broadcast_rows=10_000)
    return f"installed injected cardinalities for {len(cards.base)} relations"


def _explain(eng, df) -> str:
    return df._jdf.queryExecution().explainString(
        eng.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def plan_text(eng, statement: str) -> str:
    """The reference's `--plan` dump ("Emit the logical query plan") for
    one SELECT statement: compile without executing and render the physical
    plan Catalyst chose — join order, broadcast sides, pushed filters.

    DDL/DML is rejected up front: Engine.execute would *run* it (an
    INSERT/UPDATE mutates the table), and a user asking for a plan must
    never get a side effect."""
    if statement.strip().split(None, 1)[0].upper() != "SELECT":
        return "usage: .plan SELECT ... (DDL/DML statements have no plan and are not executed)"
    return _explain(eng, eng.execute(statement))


def _register_builtin_instructions() -> None:
    """The shell's builtin instructions live in the same registry user
    instructions do (the reference registers `learn_spns` through the
    identical Catalog mechanism, `DatabaseCommand.cpp:40-48`)."""
    from mutable_spark.extensions import SHELL_INSTRUCTIONS

    def _learn_spns(eng, raw):
        return "\n".join(learn_spns(eng))

    def _cardinalities(eng, raw):
        if not raw:
            print("usage: .cardinalities <json-file>", file=sys.stderr)
            return None
        return install_cardinalities(eng, raw)

    def _plan(eng, raw):
        if not raw:
            print("usage: .plan SELECT ...", file=sys.stderr)
            return None
        return plan_text(eng, raw)

    def _parquet(eng, raw):
        parts = raw.split(None, 1)
        if len(parts) != 2:
            print("usage: .parquet <table> <path>", file=sys.stderr)
            return None
        table, path = parts[0], parts[1].strip()
        eng.create_table_from_parquet(table, path)
        # the footer row count registration read — no scan job over an
        # arbitrarily large layout just for a message
        n = eng.catalog.record(table).rows
        if n is None:
            # unreadable/unknown footers: say so rather than undercount
            return f"registered {table} from {path} (parquet-backed)"
        return f"registered {table} from {path} ({n} rows, parquet-backed)"

    SHELL_INSTRUCTIONS.setdefault("learn_spns", _learn_spns)
    SHELL_INSTRUCTIONS.setdefault("cardinalities", _cardinalities)
    SHELL_INSTRUCTIONS.setdefault("plan", _plan)
    # parquet-backed table registration: the Spark-native ingest path
    # (beyond the reference's DSV-only IMPORT); CREATE INDEX on such a
    # table builds a real file-zone index over the layout
    SHELL_INSTRUCTIONS.setdefault("parquet", _parquet)


_register_builtin_instructions()


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    import argparse

    ap = argparse.ArgumentParser(
        prog="mutable_spark.shell",
        description="mutable-dialect shell on Spark (reference: src/shell.cpp)",
    )
    # the reference shell's additional-output options (`src/shell.cpp`
    # option table): -t/--times, --echo, --ast, --plan, -q/--quiet,
    # --noprompt. --astdot/--graphdot (graphviz dumps) are omitted — no
    # display surface here; --plan prints the formatted physical plan,
    # which is this engine's query-graph dump.
    ap.add_argument("-t", "--times", action="store_true", help="report exact timings")
    ap.add_argument("--echo", action="store_true", help="echo statements")
    ap.add_argument("--ast", action="store_true", help="print the AST of statements")
    ap.add_argument("--plan", action="store_true", help="emit the query plan")
    ap.add_argument("-q", "--quiet", action="store_true", help="work in quiet mode")
    ap.add_argument("--noprompt", action="store_true", help="disable prompt")
    ap.add_argument("script", nargs="?", help="SQL script to run")
    args = ap.parse_args(argv)
    options = {
        k: getattr(args, k) for k in ("times", "echo", "ast", "plan", "quiet")
    }

    from mutable_spark.dialect import Engine
    from mutable_spark.session import get_spark

    spark = get_spark("mutable_spark-shell")
    spark.sparkContext.setLogLevel("ERROR")
    eng = Engine(spark)
    eng.catalog.create_database("default")
    eng.catalog.use("default")

    def handle(line: str) -> bool:
        line = line.strip()
        if not line:
            return True
        if line in (".quit", ".exit", "\\q"):
            return False
        if line == ".tables":
            print(" ".join(sorted(eng.catalog._db())))
            return True
        if line.startswith(".load"):
            parts = line.split()
            sf_dir = parts[1] if len(parts) > 1 else "/root/testdata/sf0.001"
            from mutable_spark.catalog import (
                TABLE_NAMES,
                load_table,
                table_backing_path,
            )

            from mutable_spark.plans.planner import parquet_row_count

            for t in TABLE_NAMES:
                if t not in eng.catalog._db():
                    rows = parquet_row_count(f"{sf_dir.rstrip('/')}/{t}.parquet")
                    eng.register(t, load_table(spark, sf_dir, t), rows)
                    # parquet-backed registration: CREATE INDEX on a loaded
                    # table builds a real file-zone index over the layout
                    eng.catalog.record(t).path = table_backing_path(spark, sf_dir, t)
            print(f"loaded {len(TABLE_NAMES)} tables from {sf_dir}")
            return True
        if line.startswith("."):
            # instruction dispatch (the reference's
            # Catalog::register_instruction surface, `src/shell.cpp`):
            # builtins (.learn_spns/.cardinalities/.plan) and
            # user-registered instructions resolve from the same table.
            # The handler receives the VERBATIM argument tail — .plan's
            # statement text and paths must not have whitespace collapsed
            from mutable_spark.extensions import SHELL_INSTRUCTIONS

            head = line[1:].split(None, 1)
            handler = SHELL_INSTRUCTIONS.get(head[0]) if head else None
            if handler is not None:
                try:
                    out = handler(eng, head[1].strip() if len(head) > 1 else "")
                    if out is not None:
                        print(out)
                except Exception as e:
                    print(f"error: {e}", file=sys.stderr)
                return True
            print(f"unknown instruction {line.split()[0]!r}", file=sys.stderr)
            return True
        try:
            run_statement(eng, line, options=options)
        except Exception as e:  # surface, keep the session alive
            print(f"error: {e}", file=sys.stderr)
        return True

    if args.script:
        text = open(args.script).read()
        for stmt in text.split(";"):
            if stmt.strip():
                handle(stmt)
        return 0

    interactive = sys.stdin.isatty() and not args.noprompt
    if interactive:
        print("mutable_spark shell — .load [sf_dir], .tables, .quit")
    buf = ""
    for line in sys.stdin:
        buf += line
        if ";" in buf or line.strip().startswith("."):
            for stmt in buf.split(";"):
                if stmt.strip() and not handle(stmt):
                    return 0
            buf = ""
    if buf.strip():
        handle(buf)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
