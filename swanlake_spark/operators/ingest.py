"""Bulk Arrow ingest: the appender fast path.

Re-expresses the reference's performance-critical write path
(``/root/reference/swanlake-core/src/engine/connection.rs:163-196`` —
Arrow appender; ``engine/batch.rs:180-259`` — batch→table alignment;
``batch.rs:10-115`` — Go-driver positional reshape) on Spark:

Arrow batches → ``spark.createDataFrame`` (Arrow-native in Spark 4) →
column alignment (reorder by name / INSERT column list, cast mismatched
types, NULL-fill missing, ignore extras) → ``df.write.insertInto`` —
append = new immutable Parquet part-files, physically identical to a
DuckLake appender flush.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from swanlake_spark.errors import InvalidArgument


def source_columns(
    batch_cols: list[str],
    target: T.StructType,
    insert_columns: list[str] | None = None,
) -> dict[str, str | None]:
    """Target field name → the batch column feeding it (None: the
    column is NULL-filled):

    - with ``insert_columns``: batch columns are positionally mapped onto
      the named table columns (partial-column INSERT);
    - otherwise columns are matched by (case-insensitive) name;
    - extra batch columns feed nothing.
    """
    by_lower = {c.lower(): c for c in batch_cols}
    if insert_columns is not None:
        if len(insert_columns) != len(batch_cols):
            # positional map needs matching arity unless batch already
            # carries the right names
            named = all(c.lower() in {ic.lower() for ic in insert_columns} for c in batch_cols)
            if not named:
                raise InvalidArgument(
                    f"batch has {len(batch_cols)} columns but INSERT names "
                    f"{len(insert_columns)}"
                )
            source_for = {ic.lower(): by_lower.get(ic.lower()) for ic in insert_columns}
        else:
            source_for = {
                ic.lower(): batch_cols[i] for i, ic in enumerate(insert_columns)
            }
    else:
        source_for = by_lower
    return {f.name: source_for.get(f.name.lower()) for f in target.fields}


def align_to_schema(
    df: DataFrame,
    target: T.StructType,
    insert_columns: list[str] | None = None,
) -> DataFrame:
    """Align a batch DataFrame to a table schema: columns map as
    :func:`source_columns` says, type mismatches are cast, missing
    columns NULL-filled, extra batch columns ignored.

    Reference behavior: ``align_batch_to_table_schema``
    (``engine/batch.rs:180-259``), exercised by partial_insert.test and
    the appender scenarios.
    """
    sources = source_columns(df.columns, target, insert_columns)
    out = []
    for field in target.fields:
        src = sources[field.name]
        if src is not None:
            out.append(F.col(src).cast(field.dataType).alias(field.name))
        else:
            out.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*out)


def normalize_arrow_for_spark(
    tbl: pa.Table, target: T.StructType | None = None
) -> pa.Table:
    """Convert Arrow column types Spark's Arrow conversion rejects into
    supported equivalents, so the appender accepts the full parameter
    surface the reference's does (``scenarios/parameter_types.rs`` —
    date32/date64, all four time units, intervals, all four timestamp
    units):

    - date64 → date32
    - time32[s/ms] / time64[ns] → time64[us]; → int64 micros-since-
      midnight when the target table column is BIGINT (the engine's TIME
      mapping, SURVEY §1.2)
    - month-day-nano interval → duration[us] (month component must be 0:
      Spark's day-time interval has no month field)
    - duration[s/ms/ns] → duration[us]
    """
    by_lower = (
        {f.name.lower(): f for f in target.fields} if target is not None else {}
    )
    out_cols, changed = [], False
    for i, field in enumerate(tbl.schema):
        col = tbl.column(i)
        t = field.type
        tf = by_lower.get(field.name.lower())
        want_long = tf is not None and isinstance(tf.dataType, T.LongType)
        if pa.types.is_date64(t):
            col, changed = col.cast(pa.date32()), True
        elif pa.types.is_time32(t) or pa.types.is_time64(t):
            if not (pa.types.is_time64(t) and t.unit == "us"):
                col = col.cast(pa.time64("us"))
                changed = True
            if want_long:
                col = col.cast(pa.int64())
                changed = True
        elif pa.types.is_interval(t):
            vals = []
            for v in col.to_pylist():
                if v is None:
                    vals.append(None)
                    continue
                if getattr(v, "months", 0):
                    raise InvalidArgument(
                        "month-day-nano interval with a month component "
                        "cannot map to Spark's day-time interval; bind an "
                        "INTERVAL YEAR TO MONTH column instead"
                    )
                vals.append(
                    v.days * 86_400_000_000 + v.nanoseconds // 1_000
                )
            col = pa.chunked_array([pa.array(vals, pa.duration("us"))])
            changed = True
        elif pa.types.is_duration(t) and t.unit != "us":
            col, changed = col.cast(pa.duration("us")), True
        out_cols.append(col)
    if not changed:
        return tbl
    return pa.table(dict(zip(tbl.column_names, out_cols)))


def reshape_positional_batch(table: pa.Table, columns_per_row: int) -> pa.Table:
    """Detect the Go-ADBC positional layout — field names ``"1","2",...``,
    a single row per batch, N = rows×cols values spread across N columns
    for a ``columns_per_row``-column multi-row INSERT — and transpose it
    into a proper (N/cols)-row × cols-column batch.

    Reference: ``reshape_batch_for_multi_row_insert`` (``batch.rs:10-115``).
    """
    names = table.column_names
    if (
        not names
        or any(not n.isdigit() for n in names)
        or table.num_rows != 1
        or columns_per_row <= 0
        or len(names) % columns_per_row != 0
    ):
        return table
    order = sorted(range(len(names)), key=lambda i: int(names[i]))
    flat = [table.column(i)[0].as_py() for i in order]
    n_rows = len(flat) // columns_per_row
    cols = {
        str(j + 1): [flat[i * columns_per_row + j] for i in range(n_rows)]
        for j in range(columns_per_row)
    }
    return pa.table(cols)


def insert_arrow(
    spark: SparkSession,
    table: str,
    batches: pa.Table | pa.RecordBatch | list[pa.RecordBatch],
    insert_columns: list[str] | None = None,
) -> int:
    """The appender: Arrow data → aligned DataFrame → append to table.
    Returns the appended row count (the reference returns the same from
    ``insert_with_appender``)."""
    if isinstance(batches, pa.RecordBatch):
        tbl = pa.Table.from_batches([batches])
    elif isinstance(batches, list):
        tbl = pa.Table.from_batches(batches)
    else:
        tbl = batches
    target = spark.table(table).schema
    tbl = normalize_arrow_for_spark(tbl, target)
    df = spark.createDataFrame(tbl)
    aligned = align_to_schema(df, target, insert_columns)
    sources = source_columns(tbl.column_names, target, insert_columns)
    by_target = pa.table(
        {name: tbl.column(src) for name, src in sources.items() if src is not None}
    )
    from swanlake_spark import constraints, versions
    from swanlake_spark.operators.dml import _table_location, table_write_lock

    # Serialized per table (engine INSERT takes the same lock): two
    # concurrent append jobs on one path share the committer's
    # _temporary dir, and manifests must be ordered. The constraint
    # check runs under the lock too, so a concurrent append of the same
    # key cannot pass it before this one lands.
    loc = _table_location(spark, table)
    with table_write_lock(spark, table, loc=loc):
        # PK enforcement applies on every write path in the reference
        # (DuckDB enforces the constraint under the appender too,
        # error_status.test:6-13).
        constraints.check_insert_batch(
            spark, table, aligned, arrow=by_target, loc=loc
        )
        aligned.write.insertInto(table)
        versions.record_version(spark, table, "append", loc=loc)
    return tbl.num_rows
