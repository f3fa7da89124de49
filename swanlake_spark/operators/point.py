"""Point statements on the driver: one recognizer and one Arrow reader
for point writes and point reads.

DuckLake answers a point lookup by pruning data files with the per-file
min/max its catalog keeps (SURVEY §0/§1). The engine reads the same
facts from each live file's Parquet footer (``filestats.py``), and this
module holds what the driver-side paths share:

- the recognizer: a WHERE that is an AND of integer bounds on integral
  columns (:func:`_conjuncts`, :func:`_term_bound`);
- the Arrow reader: the candidate files read as Spark's scan with the
  table schema reads them (:data:`DRIVER_TYPES`,
  :func:`driver_arrow_schema`, :func:`_read_candidates`), masked by the
  bounds (:func:`_bounds_mask`).

Point UPDATE/DELETE (``operators/dml.py``) rewrite with them, and
``Engine.query`` answers point SELECTs with them (:func:`read_shape`,
:func:`read`): no Spark job runs for either. The README's "Point reads"
and "Point writes" sections state the rules.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass

from swanlake_spark import filestats
from swanlake_spark.plans.parser import _keyword_at_depth0, _mask_literals, _unquote

# Spark SQL identifiers: a double-quoted token is a string literal there
_SPARK_IDENT = r"(?:[A-Za-z_][A-Za-z0-9_]*|`(?:[^`]|``)+`)"
_TERM_COL = rf"(?:(?P<q>{_SPARK_IDENT})\.)?(?P<col>{_SPARK_IDENT})"
_INT_LIT = r"-?\d+"
_OP = r"(?P<op><=|>=|=|<|>)"
_COL_OP_INT = re.compile(rf"^\s*{_TERM_COL}\s*{_OP}\s*(?P<v>{_INT_LIT})\s*$")
_INT_OP_COL = re.compile(rf"^\s*(?P<v>{_INT_LIT})\s*{_OP}\s*{_TERM_COL}\s*$")
_BETWEEN_TERM = re.compile(
    rf"^\s*{_TERM_COL}\s+BETWEEN\s+(?P<lo>{_INT_LIT})\s+AND\s+(?P<hi>{_INT_LIT})\s*$",
    re.IGNORECASE,
)
_IN_TERM = re.compile(
    rf"^\s*{_TERM_COL}\s+IN\s*\((?P<vs>\s*{_INT_LIT}\s*(?:,\s*{_INT_LIT}\s*)*)\)\s*$",
    re.IGNORECASE,
)
_TERMS = (_COL_OP_INT, _INT_OP_COL, _BETWEEN_TERM, _IN_TERM)
_FLIPPED = {"=": "=", "<": ">", "<=": ">=", ">": "<", ">=": "<="}
# the column each candidate row carries its source file name in
_SRC = "_swl_src_file"


def _conjuncts(where: str) -> list[str]:
    """The depth-0 AND terms of ``where``; none when an OR or NOT at
    depth 0 leaves no term a necessary condition, or when a CASE at
    depth 0 may hold ANDs that split nothing. The AND of each
    ``BETWEEN`` stays inside its term."""
    masked = _mask_literals(where)
    if any(_keyword_at_depth0(masked, w) >= 0 for w in ("OR", "NOT", "CASE")):
        return []
    terms: list[str] = []
    term_start = piece_start = owed = 0
    while True:
        cut = _keyword_at_depth0(masked, "AND", piece_start)
        end = cut if cut >= 0 else len(where)
        pos = _keyword_at_depth0(masked, "BETWEEN", piece_start)
        while 0 <= pos < end:
            owed += 1
            pos = _keyword_at_depth0(masked, "BETWEEN", pos + 7)
        if owed and cut >= 0:
            owed -= 1  # this AND closes a BETWEEN
        else:
            terms.append(where[term_start:end])
            term_start, owed = end + 3, 0
        if cut < 0:
            return terms
        piece_start = cut + 3


def _term_bound(term: str, bare: str, types: dict[str, str]):
    """``(column, intervals)`` when ``term`` bounds an integral column of
    the table by integer literals, else None."""
    m = next((m for rx in _TERMS if (m := rx.match(term))), None)
    if m is None:
        return None
    q, col = m.group("q"), m.group("col")
    if q is not None and _unquote(q).lower() != bare.lower():
        return None
    if not col.startswith("`") and col.upper() in ("NULL", "TRUE", "FALSE"):
        return None
    col = _unquote(col)
    if types.get(col.lower()) not in filestats.INTEGRAL_TYPES:
        return None
    if m.re is _IN_TERM:
        return col, [(int(v), int(v)) for v in m.group("vs").split(",")]
    if m.re is _BETWEEN_TERM:
        return col, [(int(m.group("lo")), int(m.group("hi")))]
    v, op = int(m.group("v")), m.group("op")
    if m.re is _INT_OP_COL:
        op = _FLIPPED[op]
    return col, [{
        "=": (v, v), "<": (None, v - 1), "<=": (None, v),
        ">": (v + 1, None), ">=": (v, None),
    }[op]]


# Spark types whose values pyarrow reads, compares, assigns and writes
# exactly as Spark does: the driver-side paths (point reads below, the
# point-write rewrite in operators/dml.py and the appender in
# operators/ingest.py) take only tables whose every column has one of
# them and carries no metadata (CHAR/VARCHAR(n) lengths live in field
# metadata)
DRIVER_TYPES = frozenset(
    filestats.INTEGRAL_TYPES
    + ("boolean", "float", "double", "string", "binary", "date")
)
_INT64 = (-(1 << 63), (1 << 63) - 1)


def driver_arrow_schema(schema):
    """The Arrow schema Spark's ``toArrow`` gives ``schema``, every
    field nullable as in the files Spark writes, or None unless every
    field has a :data:`DRIVER_TYPES` type and no metadata."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    if not all(
        f.dataType.simpleString() in DRIVER_TYPES and not f.metadata
        for f in schema.fields
    ):
        return None
    return to_arrow_schema(
        T.StructType([T.StructField(f.name, f.dataType) for f in schema.fields])
    )


def _read_candidates(hits, arrow_schema):
    """The rows of the ``hits`` files in ``arrow_schema``, each tagged
    with its file name under ``_SRC``, as Spark's scan with the table
    schema reads them: columns match case-insensitively and a column a
    file lacks reads as NULLs. None when a file's column has another
    type than the table's (Spark's reader decides those)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    parts = [
        pa.schema(list(arrow_schema) + [pa.field(_SRC, pa.string())]).empty_table()
    ]
    for f in hits:
        ft = pq.ParquetFile(f.path).read()
        by_lower: dict[str, list[int]] = {}
        for i, name in enumerate(ft.column_names):
            by_lower.setdefault(name.lower(), []).append(i)
        cols = []
        for field in arrow_schema:
            idx = by_lower.get(field.name.lower(), [])
            if len(idx) > 1:
                return None
            if not idx:
                cols.append(pa.nulls(ft.num_rows, field.type))
                continue
            col = ft.column(idx[0])
            if col.type != field.type:
                if col.type not in (pa.large_string(), pa.large_binary()):
                    return None
                col = col.cast(field.type)  # the same values, 32-bit offsets
            cols.append(col)
        cols.append(pa.array([f.name] * ft.num_rows, pa.string()))
        parts.append(pa.Table.from_arrays(cols, names=arrow_schema.names + [_SRC]))
    return pa.concat_tables(parts)


def _bounds_mask(tbl, bounds, names: dict[str, str]):
    """Rows of ``tbl`` inside every ``(column, intervals)`` bound; a
    NULL key never matches. None when a bound lies outside BIGINT."""
    import pyarrow as pa
    import pyarrow.compute as pc

    mask = None
    for col, intervals in bounds:
        c = tbl[names[col.lower()]]
        term = None
        for lo, hi in intervals:
            sides = []
            for v, cmp in ((lo, pc.greater_equal), (hi, pc.less_equal)):
                if v is None:
                    continue
                if not _INT64[0] <= v <= _INT64[1]:
                    return None
                sides.append(cmp(c, pa.scalar(v, pa.int64())))
            m = sides[0] if len(sides) == 1 else pc.and_(*sides)
            term = m if term is None else pc.or_(term, m)
        mask = term if mask is None else pc.and_(mask, term)
    return pc.fill_null(mask, False)


# -- point reads ----------------------------------------------------------------
#
# SELECT <* | bare columns> FROM <table> WHERE <AND of integer bounds>
# [ORDER BY <a bounded column> [ASC|DESC] [NULLS FIRST|LAST]]

_SELECT = re.compile(
    rf"^\s*SELECT\s+(?P<cols>\*|{_SPARK_IDENT}(?:\s*,\s*{_SPARK_IDENT})*)"
    rf"\s+FROM\s+(?P<table>{_SPARK_IDENT}(?:\.{_SPARK_IDENT})?)"
    rf"\s+WHERE\s+(?P<where>.+?)"
    rf"(?:\s+ORDER\s+BY\s+(?P<order>{_SPARK_IDENT})"
    rf"(?:\s+(?P<dir>ASC|DESC))?(?:\s+NULLS\s+(?:FIRST|LAST))?)?"
    rf"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# tries to read the newest manifest's candidates: a try fails when a
# publish retired one of them before its manifest was recorded
_READ_TRIES = 6


@dataclass(frozen=True)
class PointRead:
    """A SELECT the driver may answer: ``columns`` None selects ``*``;
    ``where`` has every ``?`` bound."""

    table: str
    columns: tuple[str, ...] | None
    where: str
    order: str | None
    descending: bool


def read_shape(sql: str, args: list | None) -> PointRead | None:
    """The :class:`PointRead` of one Spark SQL SELECT whose WHERE has
    only integer-bound-shaped terms and whose every ``?`` binds a Python
    int; None for any other statement (Spark runs it). Text only: the
    table's types are checked by :func:`read`."""
    if args:
        if not all(type(a) is int for a in args):
            return None
        from swanlake_spark.session import bind_parameters

        sql = bind_parameters(sql, list(args))
    m = _SELECT.match(sql)
    if m is None:
        return None
    terms = _conjuncts(m.group("where"))
    if not terms or not all(any(rx.match(t) for rx in _TERMS) for t in terms):
        return None
    cols = m.group("cols")
    return PointRead(
        table=m.group("table"),
        columns=None if cols == "*" else tuple(
            _unquote(c) for c in re.findall(_SPARK_IDENT, cols)
        ),
        where=m.group("where"),
        order=_unquote(m.group("order")) if m.group("order") else None,
        descending=(m.group("dir") or "").upper() == "DESC",
    )


def read(spark, shape: PointRead):
    """``(Arrow table, Spark schema)`` of ``shape`` computed on the
    driver, the rows Spark would return, or None: Spark runs the
    statement. One catalog lookup gives the location, the partition
    columns and the schema; the table must be unpartitioned, local,
    typed with :data:`DRIVER_TYPES` only, and every WHERE term must
    bound an integral column (``ORDER BY`` names one of them). The rows
    come from the newest manifest's files (:func:`_snapshot_rows`)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    from swanlake_spark.operators import dml

    try:
        loc, part_cols, schema = dml._table_meta(spark, shape.table)
    except Exception:  # noqa: BLE001 — Spark resolves (or reports) it
        return None
    if loc is None or part_cols or dml._local_os_path(loc) is None:
        return None
    arrow_schema = driver_arrow_schema(schema)
    if arrow_schema is None:
        return None
    names = {n.lower(): n for n in arrow_schema.names}
    if len(names) < len(arrow_schema.names):
        return None
    types = {f.name.lower(): f.dataType.simpleString() for f in schema.fields}
    bare = _unquote(shape.table.split(".")[-1])
    bounds = [_term_bound(t, bare, types) for t in _conjuncts(shape.where)]
    if not all(bounds):
        return None
    # output columns: (table column, name Spark gives it)
    if shape.columns is None:
        out = [(n, n) for n in arrow_schema.names]
    else:
        out = [(names.get(c.lower()), c) for c in shape.columns]
        if not all(n for n, _ in out) or len({n for n, _ in out}) < len(out):
            return None
    order = None
    if shape.order is not None:
        order = names.get(shape.order.lower())
        if order is None or order.lower() not in {c.lower() for c, _ in bounds}:
            return None
    tbl = _snapshot_rows(spark, shape.table, loc, bounds, arrow_schema)
    if tbl is None:
        return None
    mask = _bounds_mask(tbl, bounds, names)
    if mask is None:
        return None
    tbl = tbl.filter(mask)
    if order is not None:
        # the bounds leave no NULL in the column, so NULLS FIRST/LAST
        # orders nothing
        tbl = tbl.take(pc.sort_indices(
            tbl[order], sort_keys=[("", "descending" if shape.descending else "ascending")]
        ))
    fields = {f.name: f for f in schema.fields}
    result = pa.Table.from_arrays(
        [tbl[n] for n, _ in out],
        schema=pa.schema([pa.field(c, arrow_schema.field(n).type) for n, c in out]),
    )
    return result, T.StructType(
        [T.StructField(c, fields[n].dataType, True) for n, c in out]
    )


def _snapshot_rows(spark, table: str, loc: str, bounds, arrow_schema):
    """The candidate rows (:func:`_read_candidates`) of the table's
    newest manifest (``versions.newest``, held in memory), or None:
    Spark reads the table. The candidates are read whole into driver
    memory, so they are capped like a point write's
    (``dml._DRIVER_REWRITE_MAX_BYTES``). A candidate that a later
    publish moved away before it was read re-reads the then newest
    manifest, up to :data:`_READ_TRIES` times."""
    from swanlake_spark import versions
    from swanlake_spark.operators import dml

    for attempt in range(_READ_TRIES):
        if attempt:
            time.sleep(min(0.005 * 2 ** (attempt - 1), 0.05))
        m = versions.newest(spark, table, loc)
        if m is None:
            return None
        try:
            files = filestats.snapshot_files(m)
            if files is None:
                return None
            hits = filestats.candidates(files, bounds)
            if sum(f.size for f in hits) > dml._DRIVER_REWRITE_MAX_BYTES:
                return None
            return _read_candidates(hits, arrow_schema)
        except FileNotFoundError:
            continue
    return None
