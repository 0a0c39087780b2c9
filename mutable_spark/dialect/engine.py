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
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.types as T

from mutable_spark.dialect import ast_nodes as A
from mutable_spark.dialect.compiler import Compiler
from mutable_spark.dialect.parser import parse
from mutable_spark.dialect.sema import SemaError
from mutable_spark.session import DecimalRangeError, local_frame


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


class Engine:
    """A mutable-dialect session on Spark: databases of named DataFrames.

    >>> eng = Engine(spark)
    >>> eng.execute("CREATE DATABASE d"); eng.execute("USE d")
    >>> eng.execute('CREATE TABLE r (key INT(4) PRIMARY KEY, name CHAR(10))')
    >>> eng.execute("INSERT INTO r VALUES (1, \\"a\\"), (2, \\"b\\")")
    >>> eng.execute("SELECT * FROM r WHERE key < 2").collect()
    """

    def __init__(self, spark: SparkSession, planner=None):
        self.spark = spark
        from mutable_spark.catalog import Catalog

        #: optional JoinPlanner (plans/planner.py). The estimator chain
        #: mirrors the reference's: injected cardinality JSON when given
        #: (`--use-cardinality-file`), else learned SPN estimates
        #: (`plans/index_queries.spn_planner`), else Catalyst's own stats.
        self.planner = planner
        self.catalog = Catalog(spark)
        self.schemas: dict[tuple[str, str], T.StructType] = {}
        #: parquet directory backing a table, when known ((db, table) →
        #: path). A backed table is what makes CREATE INDEX build a real
        #: file-zone index instead of catalog metadata only.
        self.table_paths: dict[tuple[str, str], str] = {}
        #: (db, table) → {column: ZoneIndex} — built by CREATE INDEX over
        #: parquet-backed tables; the compiler's scan path prunes with
        #: these (the reference's physical optimizer replaces Filter∘Scan
        #: with IndexScan the same way, `src/backend/WasmOperator.hpp:397-405`)
        self.zone_indexes: dict[tuple[str, str], dict[str, object]] = {}
        #: CHAR(n)/VARCHAR(n) declared lengths per (db, table): the
        #: reference stores CHAR(n) in exactly n bytes (NUL-padded,
        #: `Type.hpp:310-318`), so over-length strings are truncated at
        #: ingest; the padding NULs terminate the string on read, so the
        #: *observable* value is the unpadded string — plain Spark strings
        #: capped at n reproduce the contract.
        self.char_limits: dict[tuple[str, str], dict[str, int]] = {}

    def _apply_char_limits(self, table: str, df: DataFrame) -> DataFrame:
        """Truncate CHAR(n)/VARCHAR(n) columns to their declared length
        at ingest (the reference's fixed-width storage contract)."""
        import pyspark.sql.functions as F

        limits = self.char_limits.get((self.catalog.current, table))
        if not limits:
            return df
        return df.select(
            *[
                F.substring(F.col(c), 1, limits[c]).alias(c) if c in limits else F.col(c)
                for c in df.columns
            ]
        )

    # -- bulk registration of existing DataFrames (testdata interop) -----
    def register(self, name: str, df: DataFrame) -> None:
        if self.catalog.current is None:
            self.catalog.create_database("default")
            self.catalog.use("default")
        self.catalog.create_table(name, df)

    def create_table_from_parquet(self, name: str, path: str) -> None:
        """Register a table served directly from a parquet directory — the
        engine's analogue of a reference table whose Store lives in files.
        Recording the backing path is what lets ``CREATE INDEX`` build a
        real file-zone index over the layout (see ``_execute_create_index``)
        and the compiler prune the scan through it."""
        self.register(name, self.spark.read.parquet(path))
        self.table_paths[(self.catalog.current, name)] = path

    def sql(self, text: str) -> DataFrame | None:
        return self.execute(text)

    def _invalidate_backing(self, table: str) -> None:
        """A mutated table no longer equals its backing parquet files:
        drop the path registration and any file-zone indexes so the
        compiler's pruned-scan swap can never serve stale data (the
        CREATE INDEX catalog metadata itself stays — the reference keeps
        the index object too; only the physical file map is gone)."""
        self.table_paths.pop((self.catalog.current, table), None)
        self.zone_indexes.pop((self.catalog.current, table), None)

    def _zone_indexes_in_use(self) -> dict[str, dict[str, object]]:
        db = self.catalog.current
        return {
            table: cols
            for (dbname, table), cols in self.zone_indexes.items()
            if dbname == db and cols
        }

    def execute(self, text: str) -> DataFrame | None:
        stmt = parse(text)
        if isinstance(stmt, A.SelectStmt):
            return Compiler(
                self.catalog._db(),
                self.planner,
                zone_indexes=self._zone_indexes_in_use(),
            ).compile_select(stmt)
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
            df = local_frame(self.spark, [], schema)
            self.catalog.create_table(stmt.name, df)
            self.schemas[(self.catalog.current, stmt.name)] = schema
            self.char_limits[(self.catalog.current, stmt.name)] = {
                c.name: c.params[0]
                for c in stmt.columns
                if c.type_name in ("CHAR", "VARCHAR") and c.params
            }
            return None
        if isinstance(stmt, A.DropStmt):
            self._execute_drop(stmt)
            return None
        if isinstance(stmt, A.CreateIndexStmt):
            self._execute_create_index(stmt)
            return None
        if isinstance(stmt, A.InsertStmt):
            db = self.catalog._db()
            if stmt.table not in db:
                raise SemaError(f"table {stmt.table!r} does not exist")
            schema = self.schemas.get((self.catalog.current, stmt.table))
            if schema is None:
                schema = db[stmt.table].schema
            rows = []
            for r in stmt.rows:
                if len(r) != len(schema.fields):
                    raise SemaError(
                        f"INSERT row has {len(r)} values, table has "
                        f"{len(schema.fields)} attributes"
                    )
                rows.append(
                    tuple(_pyvalue(v, f.dataType) for v, f in zip(r, schema.fields))
                )
            try:
                new = local_frame(self.spark, rows, schema)
            except DecimalRangeError as e:
                raise SemaError(
                    f"value {e.value} out of range for attribute "
                    f"{e.field.name!r} of type {e.field.dataType.simpleString()}"
                ) from None
            new = self._apply_char_limits(stmt.table, new)
            db[stmt.table] = db[stmt.table].unionByName(new)
            self._invalidate_backing(stmt.table)
            return None
        if isinstance(stmt, A.ImportDSVStmt):
            from mutable_spark.sources.dsv import import_dsv, materialize_import

            db = self.catalog._db()
            if stmt.table not in db:
                raise SemaError(f"table {stmt.table!r} does not exist")
            schema = self.schemas.get((self.catalog.current, stmt.table))
            if schema is None:
                schema = db[stmt.table].schema
            imported = import_dsv(self.spark, stmt, schema)
            imported = self._apply_char_limits(stmt.table, imported)
            # IMPORT-to-store: parse DSV once, serve queries from the
            # engine's columnar layout — the reference's IMPORT semantics
            # (`src/mutable.cpp:263-292` copies into the Store).
            key = repr(
                (
                    schema.json(),
                    stmt.delimiter,
                    stmt.quote,
                    stmt.escape,
                    stmt.has_header,
                    stmt.skip_header,
                    stmt.rows,
                    sorted(
                        (self.char_limits.get((self.catalog.current, stmt.table)) or {}).items()
                    ),
                )
            )
            imported = materialize_import(self.spark, imported, stmt.path, key)
            db[stmt.table] = db[stmt.table].unionByName(imported)
            self._invalidate_backing(stmt.table)
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
        db = self.catalog._db()
        df = db[table]
        sel = A.SelectStmt()
        sel.items = [
            A.SelectItem(expr=A.Designator(None, c), alias=c) for c in df.columns
        ] + [A.SelectItem(expr=e, alias=alias) for alias, e in exprs]
        sel.from_ = [A.TableRef(name=table, subquery=None, alias=None)]
        return Compiler(
            db, self.planner, self._zone_indexes_in_use()
        ).compile_select(sel)

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

        db = self.catalog._db()
        if stmt.table not in db:
            raise SemaError(f"table {stmt.table!r} does not exist")
        if stmt.where is None:
            db[stmt.table] = db[stmt.table].limit(0)
            self._invalidate_backing(stmt.table)
            return None
        self._reject_aggregates(stmt.where, "WHERE clause")
        out = self._compile_row_exprs(stmt.table, [("__pred", stmt.where)])
        if not isinstance(out.schema["__pred"].dataType, T.BooleanType):
            raise SemaError("WHERE clause must be of type BOOL")
        # DELETE removes rows where the predicate is TRUE; NULL keeps
        db[stmt.table] = out.filter(
            ~F.coalesce(F.col("__pred"), F.lit(False))
        ).drop("__pred")
        self._invalidate_backing(stmt.table)
        return None

    def _execute_update(self, stmt: A.UpdateStmt) -> None:
        import pyspark.sql.functions as F

        db = self.catalog._db()
        if stmt.table not in db:
            raise SemaError(f"table {stmt.table!r} does not exist")
        df = db[stmt.table]
        types = {f.name: f.dataType for f in df.schema.fields}
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
        limits = self.char_limits.get((self.catalog.current, stmt.table)) or {}
        new_cols = []
        for c in df.columns:
            if c in assigned:
                v = F.col(f"__set__{c}").cast(types[c])
                if c in limits:  # CHAR(n)/VARCHAR(n) truncation at write
                    v = F.substring(v, 1, limits[c])
                new_cols.append(F.when(pred, v).otherwise(F.col(c)).alias(c))
            else:
                new_cols.append(F.col(c))
        db[stmt.table] = out.select(*new_cols)
        self._invalidate_backing(stmt.table)
        return None

    # -- DDL sema + execution (`Sema.cpp:1431-1788` Drop*/CreateIndex) ----
    def _sema_create_table(self, stmt: A.CreateTableStmt) -> None:
        """CREATE TABLE constraint sema, mirroring `Sema.cpp:1466-1580`:
        duplicate attribute names, at most one PRIMARY KEY per table, at
        most one REFERENCES per attribute, referenced table/attribute must
        exist with the SAME type, CHECK conditions must type to boolean
        (resolved against the table's own attributes)."""
        db = self._db_in_use()
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
                rschema = self.schemas.get((self.catalog.current, rtable))
                rfields = {
                    f.name: f.dataType
                    for f in (rschema or db[rtable].schema).fields
                }
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

    def _db_in_use(self):
        """`Sema.cpp` RequireContext: every DDL visitor first requires a
        database in use; surface that as the sema error it is."""
        try:
            return self.catalog._db()
        except ValueError as e:
            raise SemaError(str(e)) from None

    def _execute_drop(self, stmt: A.DropStmt) -> None:
        if stmt.kind == "DATABASE":
            name = stmt.names[0]
            # the in-use check precedes existence and is NOT bypassed by
            # IF EXISTS (`Sema.cpp:1437-1442`; sema-san-drop_database-
            # in_use_if_exists expects the error)
            if self.catalog.current == name:
                raise SemaError(f"database {name!r} is in use")
            if name not in self.catalog.databases:
                if stmt.if_exists:
                    return  # warn-and-skip
                raise SemaError(f"database {name!r} does not exist")
            self.catalog.drop_database(name)
            # purge parquet-backing state keyed by the dropped db: a
            # recreated database+table must never serve the old files
            # through the pruned-scan swap (same invariant as
            # _invalidate_backing, at database granularity)
            for d in (self.table_paths, self.zone_indexes, self.schemas, self.char_limits):
                for key in [k for k in d if k[0] == name]:
                    del d[key]
            return
        # TABLE / INDEX: validate ALL names first, then drop (the reference
        # builds the full name list and only emits the command when every
        # name resolved, `Sema.cpp:1571-1579,1780-1788`)
        db = self._db_in_use()
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
                self.schemas.pop((self.catalog.current, name), None)
                self.char_limits.pop((self.catalog.current, name), None)
                self.table_paths.pop((self.catalog.current, name), None)
                self.zone_indexes.pop((self.catalog.current, name), None)
            else:
                table, attr = idx[name]
                del idx[name]
                # drop the zone index only when no other named index
                # still covers the same (table, column)
                if not any(v == (table, attr) for v in idx.values()):
                    cols = self.zone_indexes.get((self.catalog.current, table))
                    if cols is not None:
                        cols.pop(attr, None)

    def _execute_create_index(self, stmt: A.CreateIndexStmt) -> None:
        """Sema order mirrors `Sema.cpp:1611-1703`: db-in-use → UNIQUE
        unsupported → anonymous unsupported → duplicate name (IF NOT EXISTS
        downgrades to skip) → table exists → method ∈ {DEFAULT, array, rmi}
        → single key field → key field is an existing attribute. The index
        itself is catalog metadata only (SURVEY §2.2): Spark's scan path
        covers point/range access via parquet stats + pushdown."""
        db = self._db_in_use()
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
        field = stmt.key_fields[0]
        if not isinstance(field, A.Designator):
            raise SemaError("non-attribute key fields for indexes not supported")
        if field.attr not in db[stmt.table].columns:
            raise SemaError(
                f"attribute {field.attr!r} does not exist in table {stmt.table!r}"
            )
        idx[stmt.name] = (stmt.table, field.attr)
        # Parquet-backed table: build a real file-zone index over the
        # layout from footer metadata alone (reference: CREATE INDEX
        # bulkloads an ArrayIndex/RMI, `DatabaseCommand.cpp` CreateIndex;
        # on Spark the index's job is file pruning — sources/indexes.py).
        # `rmi` → learned file map; DEFAULT/`array` → sorted-array map.
        path = self.table_paths.get((self.catalog.current, stmt.table))
        if path is not None:
            from mutable_spark.sources.indexes import ZoneIndex

            self.zone_indexes.setdefault((self.catalog.current, stmt.table), {})[
                field.attr
            ] = ZoneIndex.build(path, field.attr, learned=stmt.method == "rmi")
