"""One snapshot per statement: every session reads each engine table
from its newest manifest (``versions.newest``), as DuckLake gives every
connection the catalog's latest snapshot (SURVEY §0).

Spark caches a table's file listing per session, and every
``newSession()`` fork has its own cache. So at the start of every
statement (``Engine._run_script``) a session looks at each table whose
manifest moved since it last looked (:func:`sync`): a table the
statement names is installed in its cache as a scan of exactly the
manifest's files with the manifest's schema (:func:`_pin`), and any
other loses its cached relation. The target of a write is not
installed: a Spark write plans against the catalog's relation, and under
the table write lock (:func:`release`) the directory is the newest
manifest. A query plans while the session's snapshot is held
(:func:`planning`), so no other thread of the session moves it between
two scans of one statement.
"""

from __future__ import annotations

import functools
import json
import re
import threading
import time
import weakref
from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from swanlake_spark import versions
from swanlake_spark.plans.parser import TABLE_NAME, table_parts

# the head of a statement that writes the table it names
_WRITE_TARGET = re.compile(
    r"^\s*(?:INSERT\s+(?:INTO|OVERWRITE)(?:\s+TABLE)?|UPDATE|DELETE\s+FROM"
    r"|MERGE\s+INTO|TRUNCATE(?:\s+TABLE)?|ALTER\s+TABLE"
    rf"|DROP\s+TABLE(?:\s+IF\s+EXISTS)?)\s+({TABLE_NAME})",
    re.IGNORECASE,
)
# Hadoop glob metacharacters, escaped in the file-name filter
_GLOB_SPECIAL = re.compile(r"([\\\[\]{}*?,^!])")
# tries to find the directory holding exactly the newest manifest's
# files: a publish renames its files in before it records the manifest
_PIN_TRIES = 4


class _State:
    """One session's view: per table location, the manifest ``seq`` it
    last synced and whether its cache holds that manifest's scan (True),
    holds nothing (False) or could not be given it (None)."""

    def __init__(self) -> None:
        self.lock = threading.RLock()
        # a new session's cache is empty: nothing to drop
        self.seen = {m.loc: (m.seq, False) for m in list(versions._NEWEST.values())}
        # the session's SessionCatalog, and its TableIdentifier per name,
        # looked up once (:func:`_invalidate`)
        self.catalog = None
        self.idents: dict[str, object] = {}


_STATES: "weakref.WeakKeyDictionary[SparkSession, _State]" = weakref.WeakKeyDictionary()
_STATES_LOCK = threading.Lock()


def _state(spark: SparkSession) -> _State:
    with _STATES_LOCK:
        if spark not in _STATES:
            _STATES[spark] = _State()
        return _STATES[spark]


def sync(spark: SparkSession, sql: str) -> None:
    """Bring ``spark``'s cached relations up to the newest manifests
    before the statement ``sql`` plans (see the module docstring)."""
    st = _state(spark)
    moved = [m for m in list(versions._NEWEST.values()) if st.seen.get(m.loc) != (m.seq, True)]
    if not moved:
        return
    named = set(re.findall(r"[\w$]+", sql.lower()))
    target = _WRITE_TARGET.match(sql)
    if target:
        named.discard(table_parts(target.group(1))[-1].lower())
    with st.lock:
        for m in moved:
            seen = st.seen.get(m.loc)
            if m.table[1] in named:
                if seen not in ((m.seq, True), (m.seq, None)):
                    st.seen[m.loc] = (m.seq, _pin(spark, m) or None)
            elif seen is None or seen[0] != m.seq:
                _invalidate(spark, m.table)
                st.seen[m.loc] = (m.seq, False)


def release(spark: SparkSession, table: str, loc: str | None) -> None:
    """Drop ``spark``'s cached relation of ``table`` at ``loc`` unless
    it already lists the newest manifest: the caller holds the table's
    write lock, under which the directory is the newest manifest, and a
    Spark write plans against the catalog's relation."""
    if loc is None:
        return
    st = _state(spark)
    m = versions._NEWEST.get(loc.rstrip("/"))
    seq = m.seq if m is not None else 0
    with st.lock:
        if st.seen.get(loc.rstrip("/")) != (seq, False):
            _invalidate(spark, table)
            st.seen[loc.rstrip("/")] = (seq, False)


def listed(spark: SparkSession, m: versions.Manifest) -> None:
    """Note that ``spark``'s cache holds no relation of ``m``'s table
    older than ``m``: the session has just written ``m``."""
    st = _state(spark)
    with st.lock:
        st.seen[m.loc] = (m.seq, False)


@contextmanager
def planning(spark: SparkSession):
    """Hold ``spark``'s snapshot while a statement plans: no other
    thread of the session re-installs a table between two of its
    scans."""
    with _state(spark).lock:
        yield


def _invalidate(spark: SparkSession, table) -> None:
    """Drop the session's cached relation of ``table`` (a name, or a
    ``(database, table)`` pair): one Py4J call once the session has
    parsed the name, where ``refreshTable`` re-lists the table. A name
    the table-identifier parser cannot take is refreshed with
    ``refreshTable``."""
    if not isinstance(table, str):
        table = ".".join(f"`{p}`" for p in table)
    try:
        catalog, ident = _catalog_ident(spark, table)
    except Exception:  # noqa: BLE001 — refreshTable resolves it
        spark.catalog.refreshTable(table)
        return
    catalog.invalidateCachedTable(ident)


def _catalog_ident(spark: SparkSession, table: str):
    """``(SessionCatalog, TableIdentifier)`` of the name ``table`` in
    ``spark``, each looked up once per session (the identifier's
    database, when the name has none, resolves at each use). Raises for
    a name the parser cannot take."""
    st = _state(spark)
    ident = st.idents.get(table)
    if ident is None:
        state = spark._jsparkSession.sessionState()
        ident = state.sqlParser().parseTableIdentifier(table)
        st.catalog = st.catalog or state.catalog()
        st.idents[table] = ident
    return st.catalog, ident


@functools.lru_cache(maxsize=None)
def _jvm_classes(jvm):
    """``(QualifiedTableName, scala.Some)`` of one JVM, looked up once."""
    return jvm.org.apache.spark.sql.catalyst.QualifiedTableName, jvm.scala.Some


def _pin(spark: SparkSession, m: versions.Manifest) -> bool:
    """Install a scan of exactly ``m``'s files, with ``m``'s schema and
    the table's catalog entry (its statistics), as the session's cached
    relation of ``m``'s table; True when installed. The scan lists the
    table directory through a file-name glob (no Spark job, where over
    32 explicit paths start a listing job) and is installed only when it
    found exactly ``m``'s files. Otherwise the relation is dropped and
    Spark lists the table itself: a partitioned table (its catalog
    relation prunes partitions before the scan), files not named
    ``*.parquet``, a table the catalog no longer has, or a publish
    between its rename-in and its manifest that outlasts the tries."""
    try:
        catalog, ident = _catalog_ident(spark, ".".join(f"`{p}`" for p in m.table))
        meta = catalog.getTableMetadata(ident)
    except Exception:  # noqa: BLE001 — e.g. dropped outside the engine
        meta = None
    if meta is None or not all("/" not in n and n.endswith(".parquet") for n, _ in m.files):
        _invalidate(spark, m.table)
        return False
    schema = m.schema or T.StructType.fromJson(json.loads(meta.schema().json()))
    qualified_name, some = _jvm_classes(spark.sparkContext._jvm)
    for attempt in range(_PIN_TRIES):
        if attempt:
            time.sleep(0.005 * 2**attempt)
            m = versions._NEWEST.get(m.loc, m)
        if not m.files:
            rel = spark.createDataFrame([], m.schema or schema)._jdf.queryExecution().analyzed()
            break
        glob = ",".join(_GLOB_SPECIAL.sub(r"\\\1", n) for n, _ in m.files)
        read = spark.read.schema(m.schema or schema).option("pathGlobFilter", "{" + glob + "}")
        try:
            rel = read.parquet(m.loc)._jdf.queryExecution().analyzed()
        except Exception:  # noqa: BLE001 — e.g. a directory moved meanwhile
            continue
        index = rel.relation().location()
        if len(index.inputFiles()) == len(m.files) and index.sizeInBytes() == sum(
            size for _, size in m.files
        ):
            rel = rel.copy(
                rel.relation(), rel.output(), some(meta), rel.isStreaming(), rel.stream()
            )
            break
    else:
        _invalidate(spark, m.table)
        return False
    catalog.cacheTable(qualified_name("spark_catalog", *m.table), rel)
    return True
