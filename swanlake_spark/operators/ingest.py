"""Bulk Arrow ingest: the appender.

Re-expresses the reference's performance-critical write path
(``/root/reference/swanlake-core/src/engine/connection.rs:163-196`` —
Arrow appender; ``engine/batch.rs:180-259`` — batch→table alignment;
``batch.rs:10-115`` — Go-driver positional reshape) on Spark. An append
adds new immutable Parquet part-files, physically identical to a
DuckLake appender flush. Columns align the same way on both of its two
producers (reorder by name / INSERT column list, cast mismatched types,
NULL-fill missing, ignore extras):

- **driver-side**, when pyarrow computes exactly what Spark would: the
  table is unpartitioned at a local location, every column is nullable
  with a plain integral, boolean, float, double, string, binary or date
  type, and each batch column casts within its type family (integer to
  integer without overflow, string to string). The batch aligns in
  Arrow and the primary-key check reads pyarrow statistics and the live
  files' footer key ranges: no Spark job runs unless the check needs one;
- **Spark** for every other batch: ``spark.createDataFrame`` (Arrow-
  native in Spark 4) → :func:`align_to_schema`, so Spark's own cast and
  type errors stay.

Every append (``COPY … FROM`` and the streaming sinks too) ends in
:func:`append`: staged outside the table write lock, checked and
published under it.
"""

from __future__ import annotations

import weakref

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from swanlake_spark import constraints
from swanlake_spark.errors import InvalidArgument
from swanlake_spark.operators import dml


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


def _driver_aligned(
    tbl: pa.Table, target: T.StructType, sources: dict[str, str | None]
) -> pa.Table | None:
    """``tbl`` aligned to ``target`` in Arrow (``sources`` as
    :func:`source_columns` maps them), or None when the driver-side
    append does not apply: a field that is not nullable, carries
    metadata or has a type outside ``point.DRIVER_TYPES``, or a batch
    column that does not cast within its type family."""
    from swanlake_spark.operators.point import driver_arrow_schema

    schema = driver_arrow_schema(target)
    if schema is None or not all(f.nullable for f in target.fields):
        return None
    cols = []
    for field in schema:
        src = sources[field.name]
        col = (
            tbl.column(src)
            if src is not None
            else pa.nulls(tbl.num_rows, field.type)
        )
        have, want = col.type, field.type
        if have != want:
            if not (
                pa.types.is_null(have)
                or (pa.types.is_integer(have) and pa.types.is_integer(want))
                or (pa.types.is_large_string(have) and pa.types.is_string(want))
            ):
                return None
            try:
                col = col.cast(want)  # safe: an overflow raises
            except pa.ArrowInvalid:
                return None
        cols.append(col)
    return pa.Table.from_arrays(cols, schema=schema)


def insert_arrow(
    spark: SparkSession,
    table: str,
    batches: pa.Table | pa.RecordBatch | list[pa.RecordBatch],
    insert_columns: list[str] | None = None,
    meta: tuple | None = None,
) -> int:
    """The appender: Arrow data → aligned → appended to ``table`` (see
    the module docstring for its two producers). Returns the appended
    row count (the reference returns the same from
    ``insert_with_appender``). ``meta`` is the table's
    ``dml._table_meta`` when the caller already looked it up."""
    if isinstance(batches, pa.RecordBatch):
        tbl = pa.Table.from_batches([batches])
    elif isinstance(batches, list):
        tbl = pa.Table.from_batches(batches)
    else:
        tbl = batches
    loc, part_cols, target = meta = meta or dml._table_meta(spark, table)
    tbl = normalize_arrow_for_spark(tbl, target)
    rows = None
    if tbl.num_rows and not part_cols and loc and dml._local_os_path(loc):
        sources = source_columns(tbl.column_names, target, insert_columns)
        rows = _driver_aligned(tbl, target, sources)
    if rows is None:
        rows = align_to_schema(spark.createDataFrame(tbl), target, insert_columns)
    append(spark, table, meta, rows, "append")
    return tbl.num_rows


def append(
    spark: SparkSession, table: str, meta: tuple, rows: pa.Table | DataFrame, op: str
) -> None:
    """The one tail of every append. ``rows``, aligned to ``table``
    (``meta`` is its ``dml._table_meta``) as an Arrow table
    (:func:`_driver_aligned`) or a DataFrame (:func:`align_to_schema`),
    are staged as new files outside the table write lock: pyarrow writes
    even slices, as many files as Spark's write makes; Spark writes the
    table's layout (``dml._stage_frame``). Then one lock hold checks them
    against the live files (``constraints.check_insert_batch``, so a
    concurrent append of the same key cannot pass before this one lands)
    and publishes them as version ``op`` (``dml.publish``). The staging
    dir goes afterwards, unless the publish failed (see ``dml.publish``)."""
    loc, part_cols, target = meta
    staged = dml.staging_dir(spark, table, loc)
    arrow = rows if isinstance(rows, pa.Table) else None
    # the check builds a DataFrame of Arrow rows only if it needs one
    new_rows = rows if arrow is None else (lambda: spark.createDataFrame(rows))
    publishing = False
    try:
        if arrow is None:
            dml._stage_frame(rows, staged, part_cols, target)
        else:
            slices = min(_parallelism(spark), rows.num_rows)
            dml._write_staged_arrow(dml._local_os_path(staged), rows, slices)
        with dml.table_write_lock(spark, table, loc=loc):
            constraints.check_insert_batch(
                spark, table, new_rows, arrow=arrow, loc=loc, schema=target
            )
            publishing = True
            dml.publish(spark, table, staged, [], loc, op=op, schema=target)
            publishing = False
    finally:
        if not publishing:
            dml._rm_path(spark, staged)


# per SparkContext: its default parallelism
_PARALLELISM: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _parallelism(spark: SparkSession) -> int:
    """Spark's default parallelism, looked up once per SparkContext: the
    slice count of a driver-side append, as many files as Spark's write
    of the batch makes."""
    sc = spark.sparkContext
    if sc not in _PARALLELISM:
        _PARALLELISM[sc] = sc.defaultParallelism
    return _PARALLELISM[sc]
