"""PRIMARY KEY constraint enforcement.

The reference rejects duplicate-PK inserts
(``/root/reference/tests/sql/error_status.test:6-13`` — DuckDB enforces
the constraint). Spark's Parquet tables have no constraints, so the
engine enforces them (SURVEY §7.3 "hard parts": engine-level pre-insert
check):

- ``CREATE TABLE`` DDL may declare ``PRIMARY KEY`` (column- or
  table-level); the clause is stripped before Catalyst sees the DDL and
  the key is recorded in an engine-level registry.
- ``INSERT`` into a keyed table evaluates the incoming rows first and
  rejects the batch if it collides with existing keys or contains
  internal duplicates.

Scale: the existence check is a broadcast-able semi join on the key
column only (column-pruned scan of the target); the incoming batch is
typically small relative to the table.
"""

from __future__ import annotations

import functools
import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swanlake_spark.errors import InvalidArgument

# table (lower, unquoted) -> pk column list
_PK_REGISTRY: dict[str, list[str]] = {}

# -- durable definitions ------------------------------------------------------
#
# The reference persists constraints in the DuckLake catalog, so they
# survive re-attach (``/root/reference/tests/sql/ducklake_basic.test:54-86``;
# PK rejection ``tests/sql/error_status.test:6-13``). The in-memory dicts
# here are only a CACHE: the source of truth is a JSON sidecar stored in
# the table's ``_versions`` sibling directory
# (``<parent>/_versions/<table>/_swl_constraints.json``), lazy-loaded on
# first touch per table, so a restarted engine keeps enforcing every
# previously declared constraint. The ``_versions`` sibling — not the
# table root — is deliberate: a user's SQL INSERT OVERWRITE clears the
# TABLE ROOT, and a root-resident sidecar silently vanished with it
# while the in-process cache masked the loss until restart.
# The sibling dir survives every data publish and is removed by the same
# engine paths that remove a dropped/CTAS-replaced table's version
# history, so constraint lifetime tracks table lifetime exactly. Legacy
# root-resident sidecars (written by earlier builds) are migrated on
# first load. FK definitions are mirrored into the PARENT's sidecar as a
# ``referenced_by`` reverse index, so parent-side DELETE/UPDATE guards
# work even when the restarted engine never touched the child table.

# tables whose sidecar has been consulted this process
_LOADED: set[str] = set()
# parent table -> [(child_table, child_cols, parent_cols)] (durable mirror)
_REFBY_REGISTRY: dict[str, list[tuple[str, list[str], list[str]]]] = {}

_SIDECAR_NAME = "_swl_constraints.json"


def _active_spark() -> SparkSession | None:
    return SparkSession.getActiveSession()


def _sidecar_path(spark: SparkSession, table: str) -> str | None:
    from swanlake_spark import versions as _versions

    root = _versions.versions_root(spark, table)
    if root is None:
        return None
    return root + "/" + _SIDECAR_NAME


def _legacy_sidecar_path(spark: SparkSession, table: str) -> str | None:
    """Pre-r5 location inside the table root (cleared by overwrite
    publishes — the reason it moved). Read-only: consulted for
    migration, deleted after a successful persist to the new path."""
    from swanlake_spark.operators.dml import _table_meta

    try:
        loc = _table_meta(spark, table)[0]
    except Exception:  # noqa: BLE001 — no such table: no sidecar
        return None
    if loc is None:
        return None
    return loc.rstrip("/") + "/" + _SIDECAR_NAME


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _ensure_loaded(table: str) -> None:
    """Populate the in-memory cache from the table's sidecar on first
    touch. No-op when already consulted, when no session is active, or
    when the table has no resolvable location (temp views)."""
    t = _norm_table(table)
    if t in _LOADED:
        return
    _LOADED.add(t)  # even a miss is an answer; don't re-probe per call
    spark = _active_spark()
    if spark is None:
        return
    payload = None
    from_legacy = False
    for is_legacy, path in (
        (False, _sidecar_path(spark, t)),
        (True, _legacy_sidecar_path(spark, t)),
    ):
        if path is None:
            continue
        try:
            jvm, fs, p = _fs(spark, path)
            if not fs.exists(p):
                continue
            stream = fs.open(p)
            try:
                data = bytes(
                    jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
                )
            finally:
                stream.close()
            payload = json.loads(data.decode("utf-8"))
            from_legacy = is_legacy
            break
        except Exception:
            continue  # unreadable sidecar: try the other location
    if payload is None:
        return
    if payload.get("pk") and t not in _PK_REGISTRY:
        _PK_REGISTRY[t] = list(payload["pk"])
    if payload.get("checks") and t not in _CHECK_REGISTRY:
        _CHECK_REGISTRY[t] = [(n, e) for n, e in payload["checks"]]
    if payload.get("fks") and t not in _FK_REGISTRY:
        _FK_REGISTRY[t] = [
            (list(cc), pt, list(pc)) for cc, pt, pc in payload["fks"]
        ]
    if payload.get("referenced_by") and t not in _REFBY_REGISTRY:
        _REFBY_REGISTRY[t] = [
            (ch, list(cc), list(pc))
            for ch, cc, pc in payload["referenced_by"]
        ]
    if from_legacy:
        # one-time migration: re-persist to the overwrite-safe location
        # (also removes the root-resident copy on success)
        _persist(t)


def _persist(table: str) -> None:
    """Write (or remove, when empty) the table's constraint sidecar from
    the current cache state. Best-effort: tables without a resolvable
    location keep in-memory-only enforcement."""
    spark = _active_spark()
    if spark is None:
        return
    t = _norm_table(table)
    path = _sidecar_path(spark, t)
    if path is None:
        return
    payload = {
        "pk": _PK_REGISTRY.get(t),
        "checks": _CHECK_REGISTRY.get(t),
        "fks": _FK_REGISTRY.get(t),
        "referenced_by": _REFBY_REGISTRY.get(t),
    }
    try:
        jvm, fs, p = _fs(spark, path)
        if not any(payload.values()):
            fs.delete(p, False)
        else:
            fs.mkdirs(p.getParent())
            out = fs.create(p, True)
            try:
                out.write(bytearray(json.dumps(payload).encode("utf-8")))
            finally:
                out.close()
        # retire any pre-r5 root-resident copy so an overwrite publish
        # can't resurrect a stale definition set
        legacy = _legacy_sidecar_path(spark, t)
        if legacy is not None:
            _, lfs, lp = _fs(spark, legacy)
            if lfs.exists(lp):
                lfs.delete(lp, False)
    except Exception:
        pass


def _update_refby(child: str, fks, add: bool) -> None:
    """Mirror ``child``'s FK list into each parent's reverse index (and
    sidecar)."""
    c = _norm_table(child)
    for child_cols, parent, parent_cols in fks:
        p = _norm_table(parent)
        _ensure_loaded(p)
        entries = _REFBY_REGISTRY.setdefault(p, [])
        entry = (c, list(child_cols), list(parent_cols))
        if add:
            if entry not in entries:
                entries.append(entry)
        else:
            _REFBY_REGISTRY[p] = [
                e for e in entries if e[0] != c
            ]
            if not _REFBY_REGISTRY[p]:
                _REFBY_REGISTRY.pop(p, None)
        _persist(p)


def reset_memory() -> None:
    """Forget every in-memory registration and cache mark (test hook:
    simulates an engine restart — enforcement must come back from the
    sidecars alone)."""
    _PK_REGISTRY.clear()
    _CHECK_REGISTRY.clear()
    _FK_REGISTRY.clear()
    _REFBY_REGISTRY.clear()
    _LOADED.clear()

_TABLE_LEVEL_PK = re.compile(
    r",?\s*PRIMARY\s+KEY\s*\(([^)]*)\)", re.IGNORECASE
)
_COLUMN_LEVEL_PK = re.compile(r"\bPRIMARY\s+KEY\b", re.IGNORECASE)
_CREATE_RE = re.compile(
    r"^(?P<prefix>\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<table>[\w.`\"]+)\s*)"
    r"\((?P<body>.*)\)(?P<tail>[^)]*)$",
    re.IGNORECASE | re.DOTALL,
)


def _norm_table(name: str) -> str:
    return name.strip('`"').lower()


def extract_and_strip_pk(create_sql: str) -> tuple[str, str | None, list[str]]:
    """Parse a CREATE TABLE statement; returns (rewritten_sql, table,
    pk_columns). If no PK is declared, sql is returned unchanged."""
    m = _CREATE_RE.match(create_sql)
    if not m:
        return create_sql, None, []
    prefix, table, body, tail = (
        m.group("prefix"),
        m.group("table"),
        m.group("body"),
        m.group("tail"),
    )
    pk_cols: list[str] = []

    tm = _TABLE_LEVEL_PK.search(body)
    if tm:
        pk_cols = [c.strip().strip('`"') for c in tm.group(1).split(",") if c.strip()]
        body = body[: tm.start()] + body[tm.end():]
    else:
        # column-level: "<name> <type> PRIMARY KEY"
        parts, depth, cur = [], 0, []
        for ch in body:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        parts.append("".join(cur))
        new_parts = []
        for part in parts:
            if _COLUMN_LEVEL_PK.search(part):
                colname = part.strip().split()[0].strip('`"')
                pk_cols.append(colname)
                part = _COLUMN_LEVEL_PK.sub("", part)
            new_parts.append(part)
        body = ",".join(new_parts)
    if not pk_cols:
        return create_sql, None, []
    rewritten = f"{prefix}({body}){tail}"
    return rewritten, table, pk_cols


def register_pk(table: str, columns: list[str]) -> None:
    _ensure_loaded(table)
    _PK_REGISTRY[_norm_table(table)] = columns
    _persist(table)


def pk_columns(table: str) -> list[str] | None:
    _ensure_loaded(table)
    return _PK_REGISTRY.get(_norm_table(table))


def drop_pk(table: str) -> None:
    _ensure_loaded(table)
    if _PK_REGISTRY.pop(_norm_table(table), None) is not None:
        _persist(table)


_INSERT_RE = re.compile(
    r"^\s*INSERT\s+(?P<mode>INTO|OVERWRITE)\s+(?:TABLE\s+)?(?P<table>[\w.`\"]+)\s*"
    r"(?:\((?P<cols>[^)]*)\)\s*)?(?P<src>(?:VALUES|SELECT|WITH|TABLE|FROM)\b.*)$",
    re.IGNORECASE | re.DOTALL,
)


def check_insert_sql(spark: SparkSession, insert_sql: str, loc=None) -> None:
    """If ``insert_sql`` targets a PK-registered table, evaluate its source
    rows and run :func:`check_insert_batch` before the insert executes
    (``loc`` as there).

    No-op for tables without a registered key, so the normal path pays
    nothing. The source is re-expressed as a plain SELECT; for VALUES the
    columns are aliased positionally to the target schema (the same
    alignment Spark itself applies)."""
    m = _INSERT_RE.match(insert_sql)
    if not m:
        return
    table = _norm_table(m.group("table"))
    cols = pk_columns(table)
    if not cols and not check_exprs(table) and not fk_list(table):
        return
    src = m.group("src").rstrip().rstrip(";")
    if src.upper().startswith("VALUES"):
        src_df = spark.sql(f"SELECT * FROM ({src})")
    else:
        src_df = spark.sql(src)
    if m.group("cols"):
        names = [c.strip().strip('`"') for c in m.group("cols").split(",")]
    else:
        names = [f.name for f in spark.table(table).schema.fields]
    src_df = src_df.toDF(*names[: len(src_df.columns)])
    # Partial-column INSERT: table columns absent from the batch land as
    # NULL — pad them so CHECK/FK expressions referencing them resolve
    # (NULL passes CHECK per the SQL standard; a NULL FK tuple is
    # dropped by the probe's na.drop) instead of raising an
    # unresolved-column error on inserts DuckDB accepts.
    have = {c.lower() for c in src_df.columns}
    for f in spark.table(table).schema.fields:
        if f.name.lower() not in have:
            src_df = src_df.withColumn(f.name, F.lit(None).cast(f.dataType))
    # INSERT OVERWRITE replaces the table: only the batch-internal
    # uniqueness check applies.
    overwrite = m.group("mode").upper() == "OVERWRITE"
    check_insert_batch(
        spark, table, src_df, check_existing=not overwrite, loc=loc
    )


def bounded_existing_probe(
    spark: SparkSession, table: str, keys: list[str], stats, loc=None, schema=None
) -> DataFrame | None:
    """Key-column scan of ``table`` restricted to the batch's key range.

    The ``k BETWEEN min AND max`` predicates push into the Parquet scan
    (row-group/page skipping on column min/max statistics), so at 100 TB
    an appender batch probes only the row groups its key range can
    touch instead of scanning the whole table. Falls back to the
    unbounded scan if a bound is NULL (all-null key batch).

    With the table's location ``loc`` (resolved by a caller holding the
    table write lock, under which the newest manifest names exactly the
    table's files) and integral keys, the scan reads only the files
    whose footer key range can hold a batch key (:mod:`filestats`); None
    means no live file can, so there is nothing to probe. ``schema`` is
    the table's, when the caller has it."""
    bounds = []
    for c in keys:
        lo, hi = stats[f"_min_{c}"], stats[f"_max_{c}"]
        if lo is None or hi is None:
            return spark.table(table).select(*keys)
        bounds.append((c, [(lo, hi)]))
    from swanlake_spark import filestats, versions

    if schema is None:
        schema = spark.table(table).schema
    types = {f.name.lower(): f.dataType.simpleString() for f in schema}
    existing = None
    if loc is not None and all(
        types.get(c.lower()) in filestats.INTEGRAL_TYPES for c in keys
    ):
        try:
            files = filestats.snapshot_files(versions.newest(spark, table, loc))
        except FileNotFoundError:
            files = None  # a file the manifest names is gone: scan the table
        if files is not None:
            hits = filestats.candidates(files, bounds)
            if not hits:
                return None
            existing = spark.read.schema(schema).parquet(
                *["file:" + f.path for f in hits]
            )
    if existing is None:
        existing = spark.table(table)
    # the Column range is built only for a probe that runs: each F.col
    # and F.lit is a Py4J call
    cond = functools.reduce(
        lambda a, b: a & b,
        [
            (F.col(c) >= F.lit(lo)) & (F.col(c) <= F.lit(hi))
            for c, [(lo, hi)] in bounds
        ],
    )
    return existing.select(*keys).filter(cond)


def _arrow_key_stats(arrow, keys: list[str], schema) -> dict | None:
    """The aggregate :func:`check_insert_batch` needs (row count,
    distinct keys, per-column min/max), computed in pyarrow without a
    Spark job. ``arrow`` holds the batch's columns under their target
    names. None unless every key column is present, integral in both
    the batch and the table, fits the table type and holds no NULL —
    the Spark aggregation decides every other case."""
    import pyarrow as pa
    import pyarrow.compute as pc

    by_name = {n.lower(): n for n in arrow.column_names}
    table_types = {f.name.lower(): f.dataType.simpleString() for f in schema}
    arrow_types = {
        "tinyint": pa.int8(), "smallint": pa.int16(),
        "int": pa.int32(), "bigint": pa.int64(),
    }
    stats: dict = {"_n": arrow.num_rows}
    cols = []
    for c in keys:
        name = by_name.get(c.lower())
        want = arrow_types.get(table_types.get(c.lower(), ""))
        if name is None or want is None:
            return None
        col = arrow.column(name)
        if not pa.types.is_integer(col.type) or col.null_count:
            return None
        try:
            col = col.cast(want)  # safe cast: overflow raises
        except pa.ArrowInvalid:
            return None
        mm = pc.min_max(col)
        stats[f"_min_{c}"], stats[f"_max_{c}"] = mm["min"].as_py(), mm["max"].as_py()
        cols.append(col)
    if len(cols) == 1:
        stats["_nd"] = pc.count_distinct(cols[0]).as_py()
    else:
        names = [f"k{i}" for i in range(len(cols))]
        stats["_nd"] = pa.table(cols, names=names).group_by(names).aggregate([]).num_rows
    return stats


def check_insert_batch(
    spark: SparkSession,
    table: str,
    new_rows,
    check_existing: bool = True,
    arrow=None,
    loc=None,
    schema=None,
) -> None:
    """Raise InvalidArgument if inserting ``new_rows`` would violate the
    table's primary key (collision with existing rows or duplicates
    within the batch).

    One aggregation computes the internal-duplicate check (distinct key
    count vs row count) AND the per-column key min/max in a single
    driver action; the existing-table probe is then bounded to the
    batch's key range (see :func:`bounded_existing_probe`). When the
    caller passes the batch as an Arrow table (``arrow``, columns under
    their target names), integral non-null keys take those statistics
    from pyarrow instead. ``loc`` is the table location, passed only by
    callers holding the table write lock; it lets the probe skip files
    by their footer key ranges.

    ``new_rows`` is the batch's DataFrame, or a zero-argument callable
    that builds it, with the table's ``schema``: the driver-side
    appender passes one, so a batch whose key statistics pyarrow takes
    and whose key range no live file's footer overlaps never becomes a
    DataFrame.

    Also the single choke point for CHECK and child-side FOREIGN KEY
    constraints: every write path (INSERT SQL and the Arrow appender)
    lands here, so those are enforced before any PK probe runs."""
    if isinstance(new_rows, DataFrame):
        rows = lambda: new_rows  # noqa: E731
    else:
        rows = functools.cache(new_rows)
    if check_exprs(table) or fk_list(table):
        enforce_checks(spark, table, rows())
        enforce_fks_insert(spark, table, rows())
    cols = pk_columns(table)
    if not cols:
        return
    keys = list(cols)
    stats = None
    if arrow is not None:
        stats = _arrow_key_stats(
            arrow, keys, rows().schema if schema is None else schema
        )
    if stats is None:
        aggs = [
            F.count(F.lit(1)).alias("_n"),
            F.count_distinct(F.struct(*[F.col(c) for c in keys])).alias("_nd"),
        ]
        for c in keys:
            aggs.append(F.min(c).alias(f"_min_{c}"))
            aggs.append(F.max(c).alias(f"_max_{c}"))
        stats = rows().select(*keys).agg(*aggs).collect()[0]
    if stats["_nd"] < stats["_n"]:
        raise InvalidArgument(
            f"duplicate key in INSERT batch violates PRIMARY KEY ({', '.join(cols)}) "
            f"of {table}"
        )
    if not check_existing or stats["_n"] == 0:
        return
    existing = bounded_existing_probe(
        spark, table, keys, stats, loc=loc, schema=schema
    )
    if existing is None:
        return
    clash = rows().select(*keys).join(existing, keys, "left_semi").limit(1).collect()
    if clash:
        raise InvalidArgument(
            f"duplicate key value violates PRIMARY KEY ({', '.join(cols)}) of {table}"
        )


# -- CHECK constraints --------------------------------------------------------
#
# DuckDB (the reference's engine) enforces CHECK constraints on INSERT
# and UPDATE; Spark parquet tables have none, so the engine supplies the
# same gate: the clause is stripped from the DDL before Catalyst sees
# it, registered here, and every write evaluates the expressions over
# the incoming/rewritten rows in ONE aggregate pass (the same
# sum(when(...)) compilation as operators/validate.py). SQL semantics:
# a NULL verdict passes (standard CHECK), a FALSE verdict rejects the
# whole statement.

# table (lower, unquoted) -> [(constraint_name, boolean_sql_expr)]
_CHECK_REGISTRY: dict[str, list[tuple[str, str]]] = {}

_CHECK_HEAD = re.compile(
    r"^\s*(?:CONSTRAINT\s+(?P<name>[\w`\"]+)\s+)?CHECK\s*\(", re.IGNORECASE
)
_INLINE_CHECK = re.compile(r"\bCHECK\s*\(", re.IGNORECASE)


def _split_depth0(body: str) -> list[str]:
    parts, depth, cur = [], 0, []
    for ch in body:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts


def _balanced(text: str, open_idx: int) -> int:
    """Index just past the ')' matching the '(' at open_idx."""
    depth = 0
    for i in range(open_idx, len(text)):
        if text[i] == "(":
            depth += 1
        elif text[i] == ")":
            depth -= 1
            if depth == 0:
                return i + 1
    raise ValueError("unbalanced parentheses in CHECK clause")


def extract_and_strip_checks(
    create_sql: str,
) -> tuple[str, str | None, list[tuple[str, str]]]:
    """Parse CREATE TABLE; return (rewritten_sql, table, checks) where
    each check is (name, boolean_expr). Handles table-level
    ``[CONSTRAINT name] CHECK (expr)`` parts and column-level
    ``<col> <type> CHECK (expr)`` suffixes; parentheses inside the
    expression are balanced-matched, not regex-matched."""
    m = _CREATE_RE.match(create_sql)
    if not m:
        return create_sql, None, []
    prefix, table, body, tail = (
        m.group("prefix"), m.group("table"), m.group("body"), m.group("tail")
    )
    checks: list[tuple[str, str]] = []
    new_parts: list[str] = []
    for part in _split_depth0(body):
        hm = _CHECK_HEAD.match(part)
        if hm:  # table-level part
            open_idx = hm.end() - 1
            end = _balanced(part, open_idx)
            expr = part[open_idx + 1: end - 1].strip()
            name = (hm.group("name") or f"check_{len(checks) + 1}").strip('`"')
            checks.append((name, expr))
            rest = part[end:].strip()
            if rest:
                new_parts.append(rest)
            continue
        im = _INLINE_CHECK.search(part)
        if im:  # column-level suffix
            open_idx = im.end() - 1
            end = _balanced(part, open_idx)
            expr = part[open_idx + 1: end - 1].strip()
            colname = part.strip().split()[0].strip('`"')
            checks.append((f"check_{colname}", expr))
            part = part[: im.start()] + part[end:]
        new_parts.append(part)
    if not checks:
        return create_sql, None, []
    rewritten = f"{prefix}({','.join(new_parts)}){tail}"
    return rewritten, table, checks


def register_checks(table: str, checks: list[tuple[str, str]]) -> None:
    if checks:
        _ensure_loaded(table)
        _CHECK_REGISTRY[_norm_table(table)] = checks
        _persist(table)


def check_exprs(table: str) -> list[tuple[str, str]]:
    _ensure_loaded(table)
    return _CHECK_REGISTRY.get(_norm_table(table), [])


def drop_checks(table: str) -> None:
    _ensure_loaded(table)
    if _CHECK_REGISTRY.pop(_norm_table(table), None) is not None:
        _persist(table)


def enforce_checks(spark: SparkSession, table: str, rows: DataFrame) -> None:
    """Reject ``rows`` if any registered CHECK fails: all expressions
    evaluate in one aggregate over one pass (no per-rule scans)."""
    checks = check_exprs(table)
    if not checks:
        return
    aggs = [
        F.sum(
            F.when(~F.coalesce(F.expr(expr), F.lit(True)), 1).otherwise(0)
        ).alias(f"_c{i}")
        for i, (_, expr) in enumerate(checks)
    ]
    stats = rows.agg(*aggs).collect()[0]
    for i, (name, expr) in enumerate(checks):
        if (stats[f"_c{i}"] or 0) > 0:
            raise InvalidArgument(
                f"CHECK constraint {name} ({expr}) of {table} failed"
            )


# -- FOREIGN KEY constraints --------------------------------------------------
#
# DuckDB enforces referential integrity on both ends; the engine mirrors
# it at the same choke points as PK/CHECK:
# - child INSERT/append: non-null FK values must exist in the parent
#   (one broadcast LEFT ANTI probe per FK — parent key column only,
#   column-pruned scan);
# - parent DELETE/TRUNCATE: rejected if any child still references a
#   deleted key (one semi-join per referencing child, computed before
#   any rewrite happens);
# - parent UPDATE touching a referenced key column: children are
#   re-validated against the complete new key set before publish
#   (dml._update_table_locked's _fk_checked).

# child table -> [(child_cols, parent_table, parent_cols)]
_FK_REGISTRY: dict[str, list[tuple[list[str], str, list[str]]]] = {}

_TABLE_LEVEL_FK = re.compile(
    r"^\s*(?:CONSTRAINT\s+[\w`\"]+\s+)?FOREIGN\s+KEY\s*\(([^)]*)\)\s*"
    r"REFERENCES\s+([\w.`\"]+)\s*\(([^)]*)\)\s*$",
    re.IGNORECASE,
)
_COLUMN_LEVEL_FK = re.compile(
    r"\bREFERENCES\s+([\w.`\"]+)\s*\(([^)]*)\)", re.IGNORECASE
)


def extract_and_strip_fks(
    create_sql: str,
) -> tuple[str, str | None, list[tuple[list[str], str, list[str]]]]:
    """Parse CREATE TABLE; return (rewritten_sql, table, fks) where each
    fk is (child_cols, parent_table, parent_cols)."""
    m = _CREATE_RE.match(create_sql)
    if not m:
        return create_sql, None, []
    prefix, table, body, tail = (
        m.group("prefix"), m.group("table"), m.group("body"), m.group("tail")
    )
    fks: list[tuple[list[str], str, list[str]]] = []
    new_parts: list[str] = []
    for part in _split_depth0(body):
        tm = _TABLE_LEVEL_FK.match(part)
        if tm:
            child_cols = [c.strip().strip('`"') for c in tm.group(1).split(",")]
            parent = tm.group(2).strip('`"')
            parent_cols = [c.strip().strip('`"') for c in tm.group(3).split(",")]
            fks.append((child_cols, parent, parent_cols))
            continue  # drop the whole table-level part
        cm = _COLUMN_LEVEL_FK.search(part)
        if cm:
            colname = part.strip().split()[0].strip('`"')
            parent = cm.group(1).strip('`"')
            parent_cols = [c.strip().strip('`"') for c in cm.group(2).split(",")]
            fks.append(([colname], parent, parent_cols))
            part = part[: cm.start()] + part[cm.end():]
        new_parts.append(part)
    if not fks:
        return create_sql, None, []
    rewritten = f"{prefix}({','.join(new_parts)}){tail}"
    return rewritten, table, fks


def register_fks(
    table: str, fks: list[tuple[list[str], str, list[str]]]
) -> None:
    if fks:
        _ensure_loaded(table)
        _FK_REGISTRY[_norm_table(table)] = fks
        _persist(table)
        _update_refby(table, fks, add=True)


def fk_list(table: str) -> list[tuple[list[str], str, list[str]]]:
    _ensure_loaded(table)
    return _FK_REGISTRY.get(_norm_table(table), [])


def drop_fks(table: str) -> None:
    _ensure_loaded(table)
    gone = _FK_REGISTRY.pop(_norm_table(table), None)
    if gone is not None:
        _persist(table)
        _update_refby(table, gone, add=False)


def referencing_children(
    parent: str,
) -> list[tuple[str, list[str], list[str]]]:
    """Every (child_table, child_cols, parent_cols) referencing
    ``parent`` — union of the in-memory FK cache and the parent
    sidecar's durable ``referenced_by`` mirror (covers restarts where
    the child table was never touched)."""
    p = _norm_table(parent)
    _ensure_loaded(p)
    out = []
    for child, fks in _FK_REGISTRY.items():
        for child_cols, parent_table, parent_cols in fks:
            if _norm_table(parent_table) == p:
                out.append((child, child_cols, parent_cols))
    seen = {(c, tuple(cc), tuple(pc)) for c, cc, pc in out}
    for child, child_cols, parent_cols in _REFBY_REGISTRY.get(p, []):
        key = (child, tuple(child_cols), tuple(parent_cols))
        if key not in seen:
            # trust the mirror only while the child still declares the
            # FK (its own sidecar is authoritative)
            if any(
                _norm_table(pt) == p and list(cc) == list(child_cols)
                for cc, pt, _ in fk_list(child)
            ):
                out.append((child, child_cols, parent_cols))
    return out


def enforce_fks_insert(
    spark: SparkSession, table: str, new_rows: DataFrame
) -> None:
    """Child-side enforcement: every non-null FK tuple in the batch must
    exist in its parent. Broadcast anti-join per FK (parents are the
    small side by construction)."""
    for child_cols, parent, parent_cols in fk_list(table):
        probe = new_rows.select(
            *[F.col(c).alias(p) for c, p in zip(child_cols, parent_cols)]
        ).na.drop()
        parent_keys = spark.table(parent).select(*parent_cols).distinct()
        orphan = (
            probe.join(F.broadcast(parent_keys), parent_cols, "left_anti")
            .limit(1)
            .collect()
        )
        if orphan:
            raise InvalidArgument(
                f"insert into {table} violates FOREIGN KEY "
                f"({', '.join(child_cols)}) REFERENCES {parent}"
                f"({', '.join(parent_cols)})"
            )


def enforce_fks_delete(
    spark: SparkSession, parent: str, deleted_keys: DataFrame | None
) -> None:
    """Parent-side enforcement before a DELETE/TRUNCATE publishes:
    reject if any child row references a key being deleted.
    ``deleted_keys=None`` means every row goes (TRUNCATE)."""
    for child, child_cols, parent_cols in referencing_children(parent):
        try:
            child_df = spark.table(child)
        except Exception:
            continue  # child table dropped without deregistration
        refs = child_df.select(*child_cols).na.drop()
        if deleted_keys is not None:
            keys = deleted_keys.select(
                *[F.col(p).alias(c) for p, c in zip(parent_cols, child_cols)]
            ).distinct()
            refs = refs.join(F.broadcast(keys), child_cols, "left_semi")
        if refs.limit(1).collect():
            raise InvalidArgument(
                f"delete from {parent} violates FOREIGN KEY on {child} "
                f"({', '.join(child_cols)})"
            )


# -- ALTER TABLE ADD/DROP CONSTRAINT ------------------------------------------


def add_constraint(spark: SparkSession, table: str, clause: str) -> str:
    """``ALTER TABLE t ADD [CONSTRAINT name] <PK|CHECK|FK clause>`` —
    DuckDB semantics: the EXISTING rows are validated first (the ADD
    fails if they violate), then the constraint registers for future
    writes. The clause is parsed by wrapping it in a synthetic CREATE
    body so the battle-tested extractors do the parsing."""
    fake = f"CREATE TABLE {table} (__x INT, {clause})"
    _, _, pk = extract_and_strip_pk(fake)
    if pk:
        df = spark.table(table)
        stats = df.agg(
            F.count(F.lit(1)).alias("_n"),
            F.count_distinct(F.struct(*[F.col(c) for c in pk])).alias("_nd"),
        ).collect()[0]
        if stats["_nd"] < stats["_n"]:
            raise InvalidArgument(
                f"existing rows of {table} violate PRIMARY KEY "
                f"({', '.join(pk)})"
            )
        register_pk(table, pk)
        return "primary key"
    _, _, cks = extract_and_strip_checks(fake)
    if cks:
        df = spark.table(table)
        aggs = [
            F.sum(
                F.when(~F.coalesce(F.expr(expr), F.lit(True)), 1).otherwise(0)
            ).alias(f"_c{i}")
            for i, (_, expr) in enumerate(cks)
        ]
        stats = df.agg(*aggs).collect()[0]
        for i, (name, expr) in enumerate(cks):
            if (stats[f"_c{i}"] or 0) > 0:
                raise InvalidArgument(
                    f"existing rows of {table} violate CHECK {name} ({expr})"
                )
        register_checks(table, check_exprs(table) + cks)
        return "check"
    _, _, fks = extract_and_strip_fks(fake)
    if fks:
        # validate existing rows against the new FKs only; the trial
        # registration is in-memory only (direct dict write, no sidecar)
        # so a failed ADD leaves no durable trace
        old = fk_list(table)
        t = _norm_table(table)
        _FK_REGISTRY[t] = fks
        try:
            enforce_fks_insert(spark, table, spark.table(table))
        except InvalidArgument:
            if old:
                _FK_REGISTRY[t] = old
            else:
                _FK_REGISTRY.pop(t, None)
            raise
        register_fks(table, (old or []) + fks)
        return "foreign key"
    raise InvalidArgument(f"unsupported constraint clause: {clause.strip()!r}")


def drop_constraint(table: str, name: str) -> bool:
    """``ALTER TABLE t DROP CONSTRAINT name`` for named CHECK
    constraints (PK/FK registrations are unnamed; drop them by
    recreating the table)."""
    t = _norm_table(table)
    _ensure_loaded(t)
    checks = _CHECK_REGISTRY.get(t, [])
    kept = [(n, e) for n, e in checks if n != name.strip('`"')]
    if len(kept) == len(checks):
        return False
    if kept:
        _CHECK_REGISTRY[t] = kept
    else:
        _CHECK_REGISTRY.pop(t, None)
    _persist(t)
    return True
