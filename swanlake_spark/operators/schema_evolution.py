"""ALTER TABLE DROP COLUMN / RENAME COLUMN for parquet tables.

DuckDB — the reference's engine — supports both (its SQL surface
reaches the engine verbatim, swanlake-core/src/engine/connection.rs);
Spark's v1 parquet catalog tables support neither, so the engine
supplies them as a copy-on-write SCHEMA rewrite on the same publish
machinery as DML:

1. dependency checks first (DuckDB semantics): a column referenced by
   the table's own PRIMARY KEY / CHECK / FOREIGN KEY, referenced by a
   child table's FK, or used as a partition column blocks a DROP — and
   a TYPE change too (DuckDB refuses dependent-constraint retypes; a
   silently retyped PK/FK column would change FK-probe join semantics);
   RENAME is allowed on key columns because the registrations are
   rewritten to the new name;
2. under the table write lock, the new contents are staged from the
   table as it is then to the ``_staging`` sibling (cluster-visible),
   ``dml.publish`` swaps them in for every
   pre-ALTER file (add first, then retire into the snapshot store, so
   ``AT (VERSION => n)`` reads the old contents with their old schema;
   per-file renames merge into existing partition dirs), the catalog's
   column list changes in place (``alterTableDataSchema``: no DROP, so
   the table never leaves the catalog), and a manifest records the new
   files and schema (op ``alter_drop_column`` / ``alter_rename_column``
   / ``alter_column_type``). Every session then reads the new schema
   from that manifest (``sync.py``). A crash anywhere in the window
   leaves a table with data present (possibly briefly doubled for
   directory-scan readers — the documented publish window), never an
   empty or missing one;
3. constraint registrations survive: RENAME rewrites the PK/FK column
   lists and re-persists the sidecar (CHECK expressions referencing the
   column are rejected rather than text-rewritten — expression surgery
   on SQL text is how silent corruption happens).

Scale: one full-table rewrite — the same cost DuckLake pays for a
column rewrite on immutable parquet; at 100 TB you schedule it like a
compaction.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from swanlake_spark.errors import InvalidArgument


def _guard_dependencies(table: str, column: str, mode: str) -> None:
    """``mode``: ``"drop"`` | ``"rename"`` | ``"retype"``. Key
    membership (PK / own FK) blocks drop AND retype; rename passes
    because the registrations are rewritten. CHECK references and
    child-table FK references block every mode."""
    from swanlake_spark import constraints

    col = column.lower()
    key_change = mode in ("drop", "retype")
    pk = constraints.pk_columns(table) or []
    if key_change and col in [c.lower() for c in pk]:
        raise InvalidArgument(
            f"cannot {mode} {column}: part of the PRIMARY KEY of {table}"
        )
    for name, expr in constraints.check_exprs(table):
        # word-boundary containment: good enough to be safe (false
        # positives block, never corrupt)
        import re

        if re.search(rf"\b{re.escape(column)}\b", expr, re.IGNORECASE):
            raise InvalidArgument(
                f"cannot alter {column}: referenced by CHECK {name} "
                f"({expr}) — drop the constraint first"
            )
    for child_cols, parent, parent_cols in constraints.fk_list(table):
        if key_change and col in [c.lower() for c in child_cols]:
            raise InvalidArgument(
                f"cannot {mode} {column}: part of a FOREIGN KEY of {table}"
            )
    for child, child_cols, parent_cols in constraints.referencing_children(
        table
    ):
        if col in [c.lower() for c in parent_cols]:
            raise InvalidArgument(
                f"cannot alter {column}: referenced by FOREIGN KEY rows "
                f"in {child}"
            )


def _rename_registrations(table: str, old: str, new: str) -> None:
    """Carry PK/FK registrations across a column rename and re-persist
    the sidecar."""
    from swanlake_spark import constraints as C

    t = C._norm_table(table)
    C._ensure_loaded(t)
    pk = C._PK_REGISTRY.get(t)
    if pk:
        C._PK_REGISTRY[t] = [
            new if c.lower() == old.lower() else c for c in pk
        ]
    fks = C._FK_REGISTRY.get(t)
    if fks:
        C._FK_REGISTRY[t] = [
            (
                [new if c.lower() == old.lower() else c for c in cc],
                p,
                pc,
            )
            for cc, p, pc in fks
        ]
    C._persist(t)


def _rewrite_schema(spark: SparkSession, table: str, build, op: str) -> None:
    """The COW schema-rewrite publish (see module docstring): ``build``
    maps the table's rows to the new contents."""
    from swanlake_spark import constraints, sync, versions
    from swanlake_spark.operators import dml

    loc, part_cols, _ = dml._table_meta(spark, table)
    if loc is None:
        raise InvalidArgument(
            f"{table} has no resolvable location; cannot rewrite schema"
        )
    staging = dml.staging_dir(spark, table, loc)
    with dml.table_write_lock(spark, table, loc=loc):
        schema = dml._stage_frame(build(spark.table(table)), staging, part_cols)
        dml.publish(spark, table, staging, None, loc)
        dml._rm_path(spark, staging)
        data = T.StructType([f for f in schema.fields if f.name not in part_cols])
        js = spark._jsparkSession
        js.sharedState().externalCatalog().alterTableDataSchema(
            *versions.qualified(spark, table), js.parseDataType(data.json())
        )
        sync._invalidate(spark, table)
        versions.record_version(spark, table, op, loc, schema)
        # re-persist whatever the registries still hold (rename paths
        # already updated them)
        constraints._persist(table)


def drop_column(spark: SparkSession, table: str, column: str) -> None:
    from swanlake_spark.operators import dml

    df = spark.table(table)
    names = {f.name.lower(): f.name for f in df.schema.fields}
    if column.lower() not in names:
        raise InvalidArgument(f"no column {column} in {table}")
    if len(df.columns) == 1:
        raise InvalidArgument(f"cannot drop the only column of {table}")
    if column.lower() in [
        c.lower() for c in dml._table_meta(spark, table)[1]
    ]:
        raise InvalidArgument(
            f"cannot drop partition column {column} of {table}"
        )
    _guard_dependencies(table, column, mode="drop")
    _rewrite_schema(
        spark, table, lambda d: d.drop(names[column.lower()]), "alter_drop_column"
    )


def alter_column_type(
    spark: SparkSession, table: str, column: str, new_type: str
) -> None:
    """``ALTER TABLE t ALTER COLUMN c TYPE <t>`` (DuckDB's spelling) —
    the same COW rewrite with an ANSI cast. The engine runs ANSI mode,
    so a narrowing cast that would truncate raises instead of silently
    corrupting (DuckDB errors on lossy casts too)."""
    from pyspark.sql import functions as F

    from swanlake_spark.operators import dml

    df = spark.table(table)
    names = {f.name.lower(): f.name for f in df.schema.fields}
    if column.lower() not in names:
        raise InvalidArgument(f"no column {column} in {table}")
    if column.lower() in [
        c.lower() for c in dml._table_meta(spark, table)[1]
    ]:
        raise InvalidArgument(
            f"cannot retype partition column {column} of {table}"
        )
    _guard_dependencies(table, column, mode="retype")
    real = names[column.lower()]
    try:
        df.withColumn(real, F.col(real).cast(new_type))
    except Exception as e:
        raise InvalidArgument(
            f"cannot cast {column} to {new_type}: {e}"
        ) from e
    _rewrite_schema(
        spark, table, lambda d: d.withColumn(real, F.col(real).cast(new_type)),
        "alter_column_type",
    )


def rename_column(
    spark: SparkSession, table: str, old: str, new: str
) -> None:
    from swanlake_spark.operators import dml

    df = spark.table(table)
    names = {f.name.lower(): f.name for f in df.schema.fields}
    if old.lower() not in names:
        raise InvalidArgument(f"no column {old} in {table}")
    if new.lower() in names:
        raise InvalidArgument(f"column {new} already exists in {table}")
    if old.lower() in [
        c.lower() for c in dml._table_meta(spark, table)[1]
    ]:
        raise InvalidArgument(
            f"cannot rename partition column {old} of {table}"
        )
    _guard_dependencies(table, old, mode="rename")
    _rewrite_schema(
        spark,
        table,
        lambda d: d.withColumnRenamed(names[old.lower()], new),
        "alter_rename_column",
    )
    _rename_registrations(table, old, new)
