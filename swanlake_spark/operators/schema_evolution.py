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
2. the new contents stage to the ``_staging`` sibling (cluster-visible);
3. under the table write lock, ``dml.publish`` swaps the staged files
   in for every pre-ALTER file (add first, then retire into the
   snapshot store, so ``AT (VERSION => n)`` reads the old contents with
   their old schema; per-file renames merge into existing partition
   dirs), and only then does the catalog entry swap to the new column
   list at the SAME location, with a manifest recording the new state
   (op ``alter_drop_column`` / ``alter_rename_column`` /
   ``alter_column_type``). A crash anywhere in the window leaves a
   table with data present (possibly briefly doubled for directory-scan
   readers — the documented publish window), never an empty or missing
   one;
4. the catalog swap itself (DROP → CREATE, Spark v1 parquet has no
   in-place column DDL) is registered in an in-process swap table so
   concurrent engine readers that hit table-not-found inside the
   window wait for the swap and retry instead of erroring
   (``swap_in_progress`` / engine.query's retry);
5. constraint registrations survive: RENAME rewrites the PK/FK column
   lists and re-persists the sidecar (CHECK expressions referencing the
   column are rejected rather than text-rewritten — expression surgery
   on SQL text is how silent corruption happens).

Scale: one full-table rewrite — the same cost DuckLake pays for a
column rewrite on immutable parquet; at 100 TB you schedule it like a
compaction.
"""

from __future__ import annotations

import threading

from pyspark.sql import SparkSession

from swanlake_spark.errors import InvalidArgument
from swanlake_spark.plans.quoting import quote_identifier

# tables whose publish section is in flight (staged-files rename-in →
# retire → DROP→CREATE catalog swap → refresh): engine readers consult
# this — new queries wait before planning (so they can't plan against a
# half-published file listing), and queries that planned BEFORE the
# window and hit a moved file or the briefly-absent catalog entry wait
# it out and retry instead of failing
_SWAP_LOCK = threading.Lock()
_SWAPPING: dict[str, threading.Event] = {}
# completed-publish times (monotonic) per table: a reader that hit the
# DROP→CREATE gap but whose exception surfaced AFTER the swap finished
# finds the table absent from _SWAPPING — this record makes that
# "swap recently completed for this table" case retryable
_RECENT_SWAPS: dict[str, float] = {}


def swap_in_progress(table: str | None = None) -> list[threading.Event]:
    """Events for schema-rewrite publishes currently in flight. With
    ``table``, only that table's publish (engine retry decisions key on
    the table named in the error — a query on a genuinely nonexistent
    table must not wait out an unrelated ALTER); without, every
    in-flight publish (the cheap pre-planning wait — ALTERs are rare
    DDL, so waiting on all of them before planning is simpler and
    safe)."""
    with _SWAP_LOCK:
        if table is None:
            return list(_SWAPPING.values())
        ev = _SWAPPING.get(table.strip('`"').lower())
        return [ev] if ev is not None else []


def recently_swapped(table: str, horizon_s: float = 120.0) -> bool:
    """True when ``table``'s publish completed within ``horizon_s`` —
    the window in which an already-failed reader may still surface a
    stale TABLE_OR_VIEW_NOT_FOUND for it."""
    import time

    with _SWAP_LOCK:
        ts = _RECENT_SWAPS.get(table.strip('`"').lower())
    return ts is not None and (time.monotonic() - ts) <= horizon_s


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


def _rewrite_schema(
    spark: SparkSession, table: str, new_df, op: str
) -> None:
    """The COW schema-rewrite publish (see module docstring)."""
    from swanlake_spark import constraints, versions
    from swanlake_spark.operators import dml

    loc, part_cols = dml._table_info(spark, table)
    if loc is None:
        raise InvalidArgument(
            f"{table} has no resolvable location; cannot rewrite schema"
        )
    staging = dml.staging_dir(spark, table, loc)
    with dml.table_write_lock(spark, table, loc=loc):
        schema = dml._stage_frame(new_df, staging, part_cols)
        cols_ddl = ", ".join(
            f"{quote_identifier(f.name)} {f.dataType.simpleString()}"
            for f in schema.fields
        )
        # The whole publish section registers in _SWAPPING: new engine
        # queries pre-wait (no planning against a half-published file
        # listing = no doubled/missing rows), and in-flight readers
        # that hit a moved file or the DROP→CREATE gap retry after it.
        t_norm = table.strip('`"').lower()
        ev = threading.Event()
        with _SWAP_LOCK:
            _SWAPPING[t_norm] = ev
        try:
            # ADD-THEN-RETIRE (see module docstring), then the catalog
            # swap to the new column list
            dml.publish(spark, table, staging, None, loc)
            dml._rm_path(spark, staging)
            spark.sql(f"DROP TABLE {table}")  # direct: keep _versions root
            part_sql = (
                " PARTITIONED BY ("
                + ", ".join(quote_identifier(c) for c in part_cols)
                + ")"
                if part_cols
                else ""
            )
            spark.sql(
                f"CREATE TABLE {table} ({cols_ddl}) USING parquet"
                f"{part_sql} LOCATION '{loc}'"
            )
            if part_cols:
                spark.sql(f"ALTER TABLE {table} RECOVER PARTITIONS")
            spark.catalog.refreshTable(table)
        finally:
            import time

            with _SWAP_LOCK:
                _SWAPPING.pop(t_norm, None)
                _RECENT_SWAPS[t_norm] = time.monotonic()
            ev.set()
        versions.record_version(spark, table, op, loc=loc)
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
        c.lower() for c in dml._partition_columns(spark, table)
    ]:
        raise InvalidArgument(
            f"cannot drop partition column {column} of {table}"
        )
    _guard_dependencies(table, column, mode="drop")
    _rewrite_schema(
        spark, table, df.drop(names[column.lower()]), "alter_drop_column"
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
        c.lower() for c in dml._partition_columns(spark, table)
    ]:
        raise InvalidArgument(
            f"cannot retype partition column {column} of {table}"
        )
    _guard_dependencies(table, column, mode="retype")
    real = names[column.lower()]
    try:
        new_df = df.withColumn(real, F.col(real).cast(new_type))
    except Exception as e:
        raise InvalidArgument(
            f"cannot cast {column} to {new_type}: {e}"
        ) from e
    _rewrite_schema(spark, table, new_df, "alter_column_type")


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
        c.lower() for c in dml._partition_columns(spark, table)
    ]:
        raise InvalidArgument(
            f"cannot rename partition column {old} of {table}"
        )
    _guard_dependencies(table, old, mode="rename")
    _rewrite_schema(
        spark,
        table,
        df.withColumnRenamed(names[old.lower()], new),
        "alter_rename_column",
    )
    _rename_registrations(table, old, new)
