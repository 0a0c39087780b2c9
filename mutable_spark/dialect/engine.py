"""Statement execution engine — the dialect's counterpart of the
reference's entry points (`src/mutable.cpp:67-95` process_stream and
`:189-292` execute_statement): CREATE/DROP DATABASE, USE, CREATE/DROP
TABLE, CREATE/DROP INDEX (metadata no-ops, SURVEY §2.2), INSERT VALUES,
IMPORT DSV, SELECT, UPDATE, DELETE.

The reference parses UPDATE/DELETE but leaves them unimplemented
(`src/catalog/DatabaseCommand.cpp:189-196`); here both run as
copy-on-write over the catalog's DataFrames (see `_execute_update`).

Rows built on the driver (the empty CREATE TABLE frame, INSERT VALUES,
the CHECK probe) become JVM local relations through
`session.local_frame`, so reading them back never starts a Python worker.

The engine's catalog (`Catalog`, db → name → `Table`) is the reference's
`Schema.hpp:869` Database of `Schema.hpp:387` Tables: each `Table` owns
its rows, declared schema, CHAR limits, backing parquet path, file-zone
indexes and row-count bound, so dropping a table or database drops all
of them.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.types as T

from mutable_spark.dialect import ast_nodes as A
from mutable_spark.dialect.compiler import Compiler
from mutable_spark.dialect.parser import parse
from mutable_spark.dialect.sema import SemaError
from mutable_spark.plans.planner import parquet_row_count
from mutable_spark.session import DecimalRangeError, local_frame
from mutable_spark.sources.dsv import import_dsv, truncate_chars


def _spark_type(c: A.ColumnDef) -> T.DataType:
    """mutable type → Spark type (SURVEY §1.2 mapping table)."""
    n = c.type_name
    if n == "INT":
        width = c.params[0] if c.params else 4
        return {1: T.ByteType(), 2: T.ShortType(), 4: T.IntegerType(), 8: T.LongType()}[
            width
        ]
    if n == "FLOAT":
        return T.FloatType()
    if n == "DOUBLE":
        return T.DoubleType()
    if n == "DECIMAL":
        p = c.params[0] if c.params else 10
        s = c.params[1] if len(c.params) > 1 else 0
        return T.DecimalType(p, s)
    if n == "BOOL":
        return T.BooleanType()
    if n in ("CHAR", "VARCHAR"):
        return T.StringType()
    if n == "DATE":
        return T.DateType()
    if n == "DATETIME":
        return T.TimestampNTZType()
    raise SemaError(f"unknown type {n}")


def _pyvalue(node: A.Node | str, dtype: T.DataType):
    """Evaluate an INSERT literal (the reference compiles these through a
    StackMachine writer, `src/mutable.cpp:189-221`; we only need constant
    folding)."""
    if node == "DEFAULT":
        return None
    if isinstance(node, A.Unary) and node.op == "-":
        v = _pyvalue(node.operand, dtype)
        return None if v is None else -v
    if not isinstance(node, A.Literal):
        raise SemaError("INSERT VALUES entries must be literals")
    v = node.value
    if v is None:
        return None
    if isinstance(dtype, T.DateType):
        return dt.date.fromisoformat(str(v))
    if isinstance(dtype, T.TimestampNTZType):
        return dt.datetime.fromisoformat(str(v))
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float(v)
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(v)
    if isinstance(dtype, T.DecimalType):
        from decimal import Decimal

        return Decimal(str(v))
    return v


@dataclass
class Table:
    """One dialect table (`Schema.hpp:387`) and the state that belongs to it.

    ``schema`` is the declared schema INSERT and IMPORT write to.
    ``char_limits`` holds the CHAR(n)/VARCHAR(n) lengths: the reference
    stores CHAR(n) in exactly n bytes (NUL-padded, `Type.hpp:310-318`),
    so over-length strings are truncated at ingest; the padding NULs end
    the string on read, so the observable value is the unpadded string.
    ``path`` is the parquet directory the rows are read from, when known:
    a backed table is what makes CREATE INDEX build a real file-zone
    index. ``zones`` maps a column to that index; the compiler's scan
    path prunes with it (the reference's physical optimizer replaces
    Filter∘Scan with IndexScan the same way,
    `src/backend/WasmOperator.hpp:397-405`). ``rows`` is an upper bound
    on the row count, kept on the driver by every statement that writes
    the table (``None`` when unknown); the compiler sizes a grouped
    ORDER BY's sort from it without a Spark job."""

    df: DataFrame
    schema: T.StructType
    char_limits: dict[str, int] = field(default_factory=dict)
    path: str | None = None
    zones: dict[str, object] = field(default_factory=dict)
    rows: int | None = None

    def write(self, df: DataFrame, rows: int | None) -> None:
        """Replace the rows with ``df``, at most ``rows`` of them. They no
        longer equal the backing parquet files, so the path and the
        file-zone indexes go with them and the pruned-scan swap can never
        serve stale data (the CREATE INDEX metadata stays, as the
        reference keeps the index object)."""
        self.df = df
        self.rows = rows
        self.path = None
        self.zones = {}

    def grow(self, df: DataFrame, added: int | None) -> None:
        """Append ``df``, which holds at most ``added`` rows."""
        rows = None if self.rows is None or added is None else self.rows + added
        self.write(self.df.unionByName(df), rows)


@dataclass
class Catalog:
    """Databases of tables (`Schema.hpp:869` Database), plus declared
    constraints that Spark does not enforce (the reference parses but
    does not enforce CHECK either, `src/mutable.cpp:238-256`)."""

    databases: dict[str, dict[str, Table]] = field(default_factory=dict)
    #: per-database index metadata: db → index name → (table, attribute).
    #: Indexes are catalog objects with full existence/typing sema
    #: (`Sema.cpp:1611` CreateIndexStmt); their physical side is the
    #: indexed table's `Table.zones`, when it is parquet-backed.
    indexes: dict[str, dict[str, tuple[str, str]]] = field(default_factory=dict)
    current: str | None = None

    def create_database(self, name: str) -> None:
        if name in self.databases:
            raise SemaError(f"database {name!r} already exists")
        self.databases[name] = {}
        self.indexes[name] = {}

    def drop_database(self, name: str) -> None:
        if name not in self.databases:
            raise SemaError(f"database {name!r} does not exist")
        del self.databases[name]
        del self.indexes[name]

    def use(self, name: str) -> None:
        if name not in self.databases:
            raise SemaError(f"database {name!r} does not exist")
        self.current = name

    def _db(self) -> dict[str, Table]:
        """`Sema.cpp` RequireContext: every statement that names a table
        first requires a database in use."""
        if self.current is None:
            raise SemaError("no database selected")
        return self.databases[self.current]

    def create_table(self, name: str, table: Table) -> None:
        db = self._db()
        if name in db:
            raise SemaError(f"table {name!r} already exists")
        db[name] = table

    def drop_table(self, name: str) -> None:
        del self._db()[name]
        idx = self.db_indexes()
        for iname in [i for i, (t, _) in idx.items() if t == name]:
            del idx[iname]

    def db_indexes(self) -> dict[str, tuple[str, str]]:
        self._db()
        return self.indexes[self.current]

    def record(self, name: str) -> Table:
        db = self._db()
        if name not in db:
            raise SemaError(f"table {name!r} does not exist")
        return db[name]

    def table(self, name: str) -> DataFrame:
        return self.record(name).df


class Engine:
    """A mutable-dialect session on Spark: a `Catalog` of databases of
    `Table` records, each serving its rows as a DataFrame.

    >>> eng = Engine(spark)
    >>> eng.execute("CREATE DATABASE d"); eng.execute("USE d")
    >>> eng.execute('CREATE TABLE r (key INT(4) PRIMARY KEY, name CHAR(10))')
    >>> eng.execute("INSERT INTO r VALUES (1, \\"a\\"), (2, \\"b\\")")
    >>> eng.execute("SELECT * FROM r WHERE key < 2").collect()
    """

    def __init__(self, spark: SparkSession, planner=None):
        self.spark = spark
        #: optional JoinPlanner (plans/planner.py). The estimator chain
        #: mirrors the reference's: injected cardinality JSON when given
        #: (`--use-cardinality-file`), else learned SPN estimates
        #: (`plans/index_queries.spn_planner`), else Catalyst's own stats.
        self.planner = planner
        self.catalog = Catalog()

    # -- bulk registration of existing DataFrames (testdata interop) -----
    def register(self, name: str, df: DataFrame, rows: int | None = None) -> None:
        """Add ``df`` as table ``name``. Its row bound is ``rows`` when
        given, else the analyzed plan's ``maxRows`` when Catalyst defines
        one (a local relation, a LIMIT), else unknown."""
        if self.catalog.current is None:
            self.catalog.create_database("default")
            self.catalog.use("default")
        if rows is None:
            bound = df._jdf.queryExecution().analyzed().maxRows()
            rows = bound.get() if bound.isDefined() else None
        self.catalog.create_table(name, Table(df, df.schema, rows=rows))

    def create_table_from_parquet(self, name: str, path: str) -> None:
        """Register a table served directly from a parquet directory — the
        engine's analogue of a reference table whose Store lives in files.
        Recording the backing path is what lets ``CREATE INDEX`` build a
        real file-zone index over the layout (see ``_execute_create_index``)
        and the compiler prune the scan through it; the row bound comes
        from the footers."""
        self.register(name, self.spark.read.parquet(path), parquet_row_count(path))
        self.catalog.record(name).path = path

    def _compiler(self) -> Compiler:
        """A SELECT compiler over the current database's tables, the
        file-zone indexes of its parquet-backed ones and their row bounds."""
        db = self.catalog._db()
        return Compiler(
            {name: t.df for name, t in db.items()},
            self.planner,
            zone_indexes={name: t.zones for name, t in db.items()},
            row_bounds={name: t.rows for name, t in db.items()},
        )

    def execute(self, text: str) -> DataFrame | None:
        stmt = parse(text)
        if isinstance(stmt, A.SelectStmt):
            return self._compiler().compile_select(stmt)
        if isinstance(stmt, A.CreateDatabaseStmt):
            self.catalog.create_database(stmt.name)
            return None
        if isinstance(stmt, A.UseStmt):
            self.catalog.use(stmt.name)
            return None
        if isinstance(stmt, A.CreateTableStmt):
            self._sema_create_table(stmt)
            fields = [
                T.StructField(c.name, _spark_type(c), nullable=not c.not_null)
                for c in stmt.columns
            ]
            schema = T.StructType(fields)
            limits = {
                c.name: c.params[0]
                for c in stmt.columns
                if c.type_name in ("CHAR", "VARCHAR") and c.params
            }
            df = local_frame(self.spark, [], schema)
            self.catalog.create_table(stmt.name, Table(df, schema, limits, rows=0))
            return None
        if isinstance(stmt, A.DropStmt):
            self._execute_drop(stmt)
            return None
        if isinstance(stmt, A.CreateIndexStmt):
            self._execute_create_index(stmt)
            return None
        if isinstance(stmt, A.InsertStmt):
            t = self.catalog.record(stmt.table)
            rows = []
            for r in stmt.rows:
                if len(r) != len(t.schema.fields):
                    raise SemaError(
                        f"INSERT row has {len(r)} values, table has "
                        f"{len(t.schema.fields)} attributes"
                    )
                rows.append(
                    tuple(_pyvalue(v, f.dataType) for v, f in zip(r, t.schema.fields))
                )
            try:
                new = local_frame(self.spark, rows, t.schema)
            except DecimalRangeError as e:
                raise SemaError(
                    f"value {e.value} out of range for attribute "
                    f"{e.field.name!r} of type {e.field.dataType.simpleString()}"
                ) from None
            t.grow(truncate_chars(new, t.char_limits), len(rows))
            return None
        if isinstance(stmt, A.ImportDSVStmt):
            t = self.catalog.record(stmt.table)
            # IMPORT-to-store: parse DSV once, serve queries from the
            # engine's columnar layout — the reference's IMPORT semantics
            # (`src/mutable.cpp:263-292` copies into the Store).
            t.grow(*import_dsv(self.spark, stmt, t.schema, t.char_limits))
            return None
        if isinstance(stmt, A.UpdateStmt):
            return self._execute_update(stmt)
        if isinstance(stmt, A.DeleteStmt):
            return self._execute_delete(stmt)
        raise SemaError(f"unsupported statement {type(stmt).__name__}")

    # -- UPDATE / DELETE ---------------------------------------------------
    # The reference parses both (grammar update/delete-statement) but sema
    # and execution are `M_unreachable` (`Sema.cpp:1884,1892`,
    # `DatabaseCommand.cpp:189-196`). Completed here (additive):
    # copy-on-write over the catalog's immutable DataFrames — the same
    # model `versioning.MultiVersioningTable` uses with history retained.
    _AGG_FNS = frozenset({"COUNT", "SUM", "AVG", "MIN", "MAX"})

    def _reject_aggregates(self, node, ctx: str) -> None:
        """Vectorial context: aggregates are meaningless row-wise
        (`Sema.cpp` scalar/vector sanction)."""
        if isinstance(node, A.FnApplication) and node.name.upper() in self._AGG_FNS:
            raise SemaError(f"aggregate function not allowed in {ctx}")
        for f in getattr(node, "__dataclass_fields__", {}):
            v = getattr(node, f)
            for x in v if isinstance(v, list) else [v]:
                if isinstance(x, A.Node) and not isinstance(x, A.SelectStmt):
                    self._reject_aggregates(x, ctx)

    def _compile_row_exprs(self, table: str, exprs: list[tuple[str, A.Node]]) -> DataFrame:
        """Compile expressions row-wise against ``table`` by routing them
        through the SELECT compiler (full sema: name resolution, typing,
        subqueries) with every original column carried alongside."""
        sel = A.SelectStmt()
        sel.items = [
            A.SelectItem(expr=A.Designator(None, c), alias=c)
            for c in self.catalog.table(table).columns
        ] + [A.SelectItem(expr=e, alias=alias) for alias, e in exprs]
        sel.from_ = [A.TableRef(name=table, subquery=None, alias=None)]
        return self._compiler().compile_select(sel)

    @staticmethod
    def _type_category(dt: T.DataType) -> str:
        if isinstance(
            dt,
            (
                T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                T.FloatType, T.DoubleType, T.DecimalType,
            ),
        ):
            return "numeric"
        if isinstance(dt, T.BooleanType):
            return "bool"
        if isinstance(dt, T.StringType):
            return "string"
        if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
            return "datetime"
        return "other"

    def _execute_delete(self, stmt: A.DeleteStmt) -> None:
        import pyspark.sql.functions as F

        t = self.catalog.record(stmt.table)
        if stmt.where is None:
            t.write(t.df.limit(0), 0)
            return None
        self._reject_aggregates(stmt.where, "WHERE clause")
        out = self._compile_row_exprs(stmt.table, [("__pred", stmt.where)])
        if not isinstance(out.schema["__pred"].dataType, T.BooleanType):
            raise SemaError("WHERE clause must be of type BOOL")
        # DELETE removes rows where the predicate is TRUE; NULL keeps
        t.write(out.filter(~F.coalesce(F.col("__pred"), F.lit(False))).drop("__pred"), t.rows)
        return None

    def _execute_update(self, stmt: A.UpdateStmt) -> None:
        import pyspark.sql.functions as F

        t = self.catalog.record(stmt.table)
        types = {f.name: f.dataType for f in t.df.schema.fields}
        seen: set[str] = set()
        for name, e in stmt.assignments:
            if name not in types:
                raise SemaError(
                    f"attribute {name!r} not found in table {stmt.table!r}"
                )
            if name in seen:
                raise SemaError(f"duplicate assignment to attribute {name!r}")
            seen.add(name)
            self._reject_aggregates(e, "UPDATE assignment")
        if stmt.where is not None:
            self._reject_aggregates(stmt.where, "WHERE clause")

        exprs = [(f"__set__{n}", e) for n, e in stmt.assignments]
        if stmt.where is not None:
            exprs.append(("__pred", stmt.where))
        out = self._compile_row_exprs(stmt.table, exprs)
        out_types = {f.name: f.dataType for f in out.schema.fields}
        if stmt.where is not None:
            if not isinstance(out_types["__pred"], T.BooleanType):
                raise SemaError("WHERE clause must be of type BOOL")
            pred = F.coalesce(F.col("__pred"), F.lit(False))
        else:
            pred = F.lit(True)
        for name, _ in stmt.assignments:
            src = out_types[f"__set__{name}"]
            if isinstance(src, T.NullType):
                continue  # NULL is assignable to any attribute
            if self._type_category(src) != self._type_category(types[name]):
                raise SemaError(
                    f"cannot assign value of type {src.simpleString()} to "
                    f"attribute {name!r} of type {types[name].simpleString()}"
                )
        assigned = {n for n, _ in stmt.assignments}
        limits = t.char_limits
        new_cols = []
        for c in t.df.columns:
            if c in assigned:
                v = F.col(f"__set__{c}").cast(types[c])
                if c in limits:  # CHAR(n)/VARCHAR(n) truncation at write
                    v = F.substring(v, 1, limits[c])
                new_cols.append(F.when(pred, v).otherwise(F.col(c)).alias(c))
            else:
                new_cols.append(F.col(c))
        t.write(out.select(*new_cols), t.rows)
        return None

    # -- DDL sema + execution (`Sema.cpp:1431-1788` Drop*/CreateIndex) ----
    def _sema_create_table(self, stmt: A.CreateTableStmt) -> None:
        """CREATE TABLE constraint sema, mirroring `Sema.cpp:1466-1580`:
        duplicate attribute names, at most one PRIMARY KEY per table, at
        most one REFERENCES per attribute, referenced table/attribute must
        exist with the SAME type, CHECK conditions must type to boolean
        (resolved against the table's own attributes)."""
        db = self.catalog._db()
        if stmt.name in db:
            raise SemaError(
                f"table {stmt.name!r} already exists in database "
                f"{self.catalog.current}"
            )
        seen: set[str] = set()
        for c in stmt.columns:
            if c.name in seen:
                raise SemaError(
                    f"attribute {c.name!r} occurs multiple times in "
                    f"definition of table {stmt.name!r}"
                )
            seen.add(c.name)
        if sum(1 for c in stmt.columns if c.primary_key) > 1:
            raise SemaError("duplicate definition of primary key")
        for c in stmt.columns:
            if len(c.references) > 1:
                raise SemaError(
                    f"attribute {c.name!r} must not have multiple references"
                )
            for rtable, rattr in c.references:
                if rtable not in db:
                    raise SemaError(f"invalid reference, table {rtable!r} not found")
                rfields = {f.name: f.dataType for f in db[rtable].schema.fields}
                if rattr not in rfields:
                    raise SemaError(
                        f"invalid reference, attribute {rattr!r} not found "
                        f"in table {rtable!r}"
                    )
                # same-type requirement (`Sema.cpp:1560-1562` compares the
                # interned PrimitiveType); Spark dtype equality covers the
                # width/precision distinctions the corpus exercises
                # (INT(4) vs INT(8), DECIMAL(p,s))
                if _spark_type(c) != rfields[rattr]:
                    raise SemaError("referenced attribute has different type")
        checks = [(c.name, e) for c in stmt.columns for e in c.checks]
        if checks:
            probe = local_frame(
                self.spark,
                [],
                T.StructType(
                    [
                        T.StructField(c.name, _spark_type(c), True)
                        for c in stmt.columns
                    ]
                ),
            )
            for cname, expr in checks:
                sel = A.SelectStmt()
                sel.items = [A.SelectItem(expr=expr, alias="chk")]
                sel.from_ = [A.TableRef(name=stmt.name, subquery=None, alias=None)]
                out = Compiler({stmt.name: probe}).compile_select(sel)
                if not isinstance(out.schema.fields[0].dataType, T.BooleanType):
                    raise SemaError(
                        f"CHECK condition on attribute {cname!r} is not boolean"
                    )

    def _execute_drop(self, stmt: A.DropStmt) -> None:
        if stmt.kind == "DATABASE":
            name = stmt.names[0]
            # the in-use check precedes existence and is NOT bypassed by
            # IF EXISTS (`Sema.cpp:1437-1442`; sema-san-drop_database-
            # in_use_if_exists expects the error)
            if self.catalog.current == name:
                raise SemaError(f"database {name!r} is in use")
            if stmt.if_exists and name not in self.catalog.databases:
                return  # warn-and-skip
            self.catalog.drop_database(name)
            return
        # TABLE / INDEX: validate ALL names first, then drop (the reference
        # builds the full name list and only emits the command when every
        # name resolved, `Sema.cpp:1571-1579,1780-1788`)
        db = self.catalog._db()
        idx = self.catalog.db_indexes()
        pool = db if stmt.kind == "TABLE" else idx
        found = []
        for name in stmt.names:
            if name in pool:
                found.append(name)
            elif not stmt.if_exists:
                raise SemaError(
                    f"{stmt.kind.lower()} {name!r} does not exist in database "
                    f"{self.catalog.current}"
                )
        for name in found:
            if stmt.kind == "TABLE":
                self.catalog.drop_table(name)
            else:
                table, attr = idx[name]
                del idx[name]
                # drop the zone index only when no other named index
                # still covers the same (table, column)
                if not any(v == (table, attr) for v in idx.values()):
                    db[table].zones.pop(attr, None)

    def _execute_create_index(self, stmt: A.CreateIndexStmt) -> None:
        """Sema order mirrors `Sema.cpp:1611-1703`: db-in-use → UNIQUE
        unsupported → anonymous unsupported → duplicate name (IF NOT EXISTS
        downgrades to skip) → table exists → method ∈ {DEFAULT, array, rmi}
        → single key field → key field is an existing attribute. On an
        in-memory table the index is catalog metadata only (SURVEY §2.2):
        Spark's scan path covers point/range access via parquet stats +
        pushdown. On a parquet-backed one it also builds a file-zone index."""
        db = self.catalog._db()
        if stmt.has_unique:
            raise SemaError("keyword UNIQUE not supported")
        if stmt.name is None:
            raise SemaError("indexes without name not supported")
        idx = self.catalog.db_indexes()
        if stmt.name in idx:
            if stmt.if_not_exists:
                return  # warn-and-skip
            raise SemaError(
                f"index {stmt.name!r} already exists in database "
                f"{self.catalog.current}"
            )
        if stmt.table not in db:
            raise SemaError(
                f"table {stmt.table!r} does not exist in database "
                f"{self.catalog.current}"
            )
        if stmt.method not in (None, "DEFAULT", "array", "rmi"):
            raise SemaError(f"index method {stmt.method!r} not supported")
        if len(stmt.key_fields) > 1:
            raise SemaError("more than one key field for indexes not supported")
        key = stmt.key_fields[0]
        if not isinstance(key, A.Designator):
            raise SemaError("non-attribute key fields for indexes not supported")
        t = db[stmt.table]
        if key.attr not in t.df.columns:
            raise SemaError(
                f"attribute {key.attr!r} does not exist in table {stmt.table!r}"
            )
        idx[stmt.name] = (stmt.table, key.attr)
        # Parquet-backed table: build a real file-zone index over the
        # layout from footer metadata alone (reference: CREATE INDEX
        # bulkloads an ArrayIndex/RMI, `DatabaseCommand.cpp` CreateIndex;
        # on Spark the index's job is file pruning — sources/indexes.py).
        # `rmi` → learned file map; DEFAULT/`array` → sorted-array map.
        if t.path is not None:
            from mutable_spark.sources.indexes import ZoneIndex

            t.zones[key.attr] = ZoneIndex.build(t.path, key.attr, learned=stmt.method == "rmi")
