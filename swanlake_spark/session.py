"""Per-client sessions: registry, prepared statements, transactions.

Maps the reference's session layer onto Spark:

- :class:`SessionRegistry` ≈ ``SessionRegistry::get_or_create_by_id`` with
  a max-sessions limit and idle-timeout eviction
  (``/root/reference/swanlake-core/src/session/registry.rs:116-243``;
  janitor cadence ``swanlake-server/src/main.rs:42-52``).
- :class:`Session` wraps ``spark.newSession()`` — isolated temp views and
  current database per client, exactly the isolation the reference gets
  from one DuckDB connection per session.
- Prepared statements ≈ ``create/get/close_prepared_statement`` handles
  (``session/mod.rs:465-609``), including the ephemeral one-shot variant
  and last-handle fallback (``service/handlers/prepared.rs:38-68``).
- Transactions ≈ BEGIN/COMMIT/ROLLBACK with auto-rollback-and-one-retry
  on abort (``session/mod.rs:185-299,611-686``). Spark has no
  multi-statement ACID on plain Parquet; writes inside a transaction are
  staged (table → pending DataFrame) and atomically published on COMMIT,
  discarded on ROLLBACK — single-session snapshot semantics, documented
  divergence from serializable claims.
"""

from __future__ import annotations

import itertools
import re
import threading
import time
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from swanlake_spark.errors import (
    EngineError,
    FailedPrecondition,
    InvalidArgument,
    ResourceExhausted,
)
from swanlake_spark.engine import Engine, Statement
from swanlake_spark.operators.dml import forget_meta
from swanlake_spark.plans import split_statements
from swanlake_spark.plans.parser import (
    _scan,
    count_placeholders,
    insert_info,
    parameter_columns,
)


@dataclass
class PreparedStatement:
    handle: int
    statement: Statement  # built once, at prepare time
    schema: T.StructType | None = None  # cached on first plan
    parameter_schema: T.StructType | None = None
    pending_params: list[list] | None = None
    ephemeral: bool = False

    @property
    def sql(self) -> str:
        return self.statement.sql

    @property
    def is_query(self) -> bool:
        return self.statement.parsed.is_query

    @property
    def parameter_count(self) -> int:
        return self.statement.parameter_count


_TARGET_TABLE_RE = re.compile(
    r"^\s*(?:UPDATE|DELETE\s+FROM)\s+([\w.`\"]+)"
    r"|\bFROM\s+([\w.`\"]+)",
    re.IGNORECASE,
)


def infer_parameter_schema(spark: SparkSession, sql: str) -> T.StructType:
    """Expected parameter schema for a statement's ``?`` placeholders.

    The reference's algorithm (``prepared.rs:123-242``):

    - INSERT with all-placeholder VALUES → the target table's column
      types, in INSERT-column-list order, repeated per VALUES row.
    - UPDATE / DELETE / SELECT → map each placeholder to the column it
      constrains (A13, ``parser.rs:103-133``) and take that column's
      type from the statement's target table.
    - anything unresolvable → all-string fields named ``"1".."n"``
      (``prepared.rs:123-135``).
    """
    n = count_placeholders(sql)

    def fallback() -> T.StructType:
        return T.StructType(
            [T.StructField(str(i + 1), T.StringType()) for i in range(n)]
        )

    if n == 0:
        return T.StructType([])
    info = insert_info(sql)
    try:
        if info is not None and info.source == "VALUES" and info.all_placeholders:
            table_schema = spark.table(info.table).schema
            cols = info.columns or [f.name for f in table_schema.fields]
            by_name = {f.name.lower(): f for f in table_schema.fields}
            fields = [by_name[c.lower()] for c in cols]
            rows = info.values_rows or 1
            if len(fields) * rows == n:
                return T.StructType(
                    [T.StructField(f.name, f.dataType) for f in fields] * rows
                )
            return fallback()
        cols = parameter_columns(sql)
        if not cols:
            return fallback()
        m = _TARGET_TABLE_RE.search(sql)
        if not m:
            return fallback()
        table = (m.group(1) or m.group(2)).strip('`"')
        by_name = {f.name.lower(): f for f in spark.table(table).schema.fields}
        fields = []
        for c in cols:
            f = by_name.get(c.lower())
            if f is None:
                return fallback()
            fields.append(T.StructField(f.name, f.dataType))
        return T.StructType(fields)
    except Exception:
        return fallback()


def _render_literal(v) -> str:
    """Render a Python value as a type-correct Spark SQL literal (the
    binding path the reference implements as Arrow→DuckDB values,
    ``types.rs:133-353``)."""
    import datetime

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, bytes):
        return f"X'{v.hex()}'"
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    # backslashes FIRST (Spark's literal layer consumes one escape
    # level; a bound Windows path or regex must survive verbatim),
    # then quote doubling
    s = str(v).replace("\\", "\\\\").replace("'", "''")
    return f"'{s}'"


def bind_parameters(sql: str, params: list) -> str:
    """Substitute ``?`` placeholders (outside literals) with rendered
    values. Spark's ``spark.sql(args=...)`` only supports named/positional
    markers in some statement positions; literal substitution keeps the
    full statement surface (INSERT/UPDATE/DELETE/SELECT) uniform."""
    n = count_placeholders(sql)
    if n != len(params):
        raise InvalidArgument(f"statement has {n} placeholders, got {len(params)} params")
    # Drive substitution off the SAME scanner positions count_placeholders
    # uses (skips comments, double-quoted and backtick identifiers too) —
    # a '?' inside a comment or quoted identifier must be neither counted
    # nor substituted.
    positions = [i for i, c in _scan(sql) if c == "?"]
    out, last = [], 0
    for pos, val in zip(positions, params):
        out.append(sql[last:pos])
        out.append(_render_literal(val))
        last = pos + 1
    out.append(sql[last:])
    return "".join(out)


def _bind(st: Statement, params: list) -> Statement:
    """``st`` with its ``?`` markers rendered as typed literals."""
    return replace(st, sql=bind_parameters(st.sql, params), parameter_count=0)


class Session:
    """One client session: isolated SparkSession fork + handles + txn."""

    def __init__(self, session_id: str, engine) -> None:
        self.session_id = session_id
        self.engine = engine
        # newSession(): shared SparkContext/cached data, isolated temp
        # views, SQL conf and current database — the Spark analogue of
        # one engine connection per client.
        self.spark: SparkSession = engine.spark.newSession()
        # warehouse attachments are engine-wide (one shared catalog in
        # the reference); temp views don't cross newSession forks, so
        # re-register them in this session's namespace
        from swanlake_spark.sources import register_tables

        for sf_dir, tables in getattr(engine, "_attached_warehouses", []):
            register_tables(self.spark, sf_dir, tables)
        self.created_at = time.time()
        self.last_used = time.time()
        self._handles: dict[int, PreparedStatement] = {}
        self._handle_seq = itertools.count(1)
        self._last_handle: int | None = None
        self._txn_seq = itertools.count(1)
        self.txn_id: int | None = None
        self._txn_staged: dict[str, DataFrame] = {}  # table -> pending content
        # table -> (was_temp_view, original DataFrame) for rollback
        self._txn_backup: dict[str, tuple[bool, DataFrame]] = {}
        self._aborted_txns: set[int] = set()
        self._lock = threading.RLock()
        # client dialect (EngineConfig.client_dialect): "duckdb"
        # transpiles every statement this session runs — the
        # reference's ADBC/Flight clients speak DuckDB SQL
        self.dialect: str | None = engine.config.client_dialect
        # The engine bound to this session's fork, built once: it applies
        # the server's EngineConfig to the fork's SQL conf and holds no
        # per-call state, so every request and connection of the session
        # shares it. Metrics stay the server's.
        self.session_engine = Engine(spark=self.spark, config=engine.config)
        self.session_engine.metrics = engine.metrics

    def touch(self) -> None:
        self.last_used = time.time()

    # -- SQL ----------------------------------------------------------------

    def statement(self, sql: str) -> Statement:
        """Client SQL in this session's dialect → a :class:`Statement`,
        built against this session's Spark fork."""
        return self.session_engine.statement(sql, self.dialect)

    def query(self, sql: "str | Statement", params: list | None = None):
        """Execute through the engine, but against this session's Spark
        fork (temp views, USE state), with transaction staging applied.
        ``sql`` is client SQL or a :class:`Statement` built from it
        (prepared statements), which runs as it is."""
        self.touch()
        eng = self.session_engine
        st = sql if isinstance(sql, Statement) else self.statement(sql)
        try:
            if params and self.txn_id is None and st.parsed.all_queries:
                # Native parameterized SQL (typed, injection-safe — the
                # Spark analogue of the reference's Arrow value binding),
                # but ONLY for pure-query scripts: a script with writes
                # could have partially applied before an error, and the
                # literal-binding fallback would re-run it — double-
                # applying the earlier statements. Queries are side-
                # effect-free, so falling back after a marker-position
                # error is safe; write statements go straight to typed
                # literal rendering (engine-routed statements — COW DML,
                # PK-checked INSERT, COPY — can't resolve markers anyway).
                try:
                    return eng.query(st, args=list(params))
                except EngineError:
                    pass
            if params:
                st = _bind(st, params)
            if self.txn_id is not None:
                return eng.post_pass(
                    self._transactional_execute(eng, st.sql), st
                )
            return eng.query(st)
        finally:
            # touch on completion too: a query running longer than the
            # idle timeout must not leave the session looking idle to
            # the janitor (it was busy, not abandoned)
            self.touch()

    def execute_update(
        self, sql: "str | Statement", params: list | None = None
    ) -> int:
        return self.query(sql, params).affected_rows

    # -- prepared statements -----------------------------------------------

    def create_prepared_statement(self, sql: str, ephemeral: bool = False) -> PreparedStatement:
        self.touch()
        statement = self.statement(sql)
        handle = next(self._handle_seq)
        st = PreparedStatement(
            handle=handle,
            statement=statement,
            parameter_schema=infer_parameter_schema(self.spark, statement.sql),
            ephemeral=ephemeral,
        )
        with self._lock:
            self._handles[handle] = st
            self._last_handle = handle
        return st

    def get_prepared_statement(self, handle: int | None) -> PreparedStatement:
        with self._lock:
            # empty-handle fallback to the most recent handle, matching
            # prepared.rs:38-68 (clients that send empty handles).
            if handle is None or handle == 0:
                handle = self._last_handle
            if handle is None or handle not in self._handles:
                raise InvalidArgument(f"unknown prepared statement handle: {handle}")
            return self._handles[handle]

    def set_parameters(self, handle: int | None, param_sets: list[list]) -> None:
        st = self.get_prepared_statement(handle)
        st.pending_params = param_sets

    def close_prepared_statement(self, handle: int | None) -> None:
        with self._lock:
            if handle in self._handles:
                del self._handles[handle]
                if self._last_handle == handle:
                    self._last_handle = max(self._handles) if self._handles else None

    def schema_for_prepared(self, handle: int | None) -> T.StructType | None:
        """Cached result schema; planned with NULL-filled parameters on
        first access (reference: NULL-fill unbound params to probe
        schemas, connection.rs:286-294)."""
        st = self.get_prepared_statement(handle)
        if st.schema is None and st.is_query:
            st.schema = self.session_engine.schema_for_query(
                _bind(st.statement, [None] * st.parameter_count)
            )
        return st.schema

    def execute_prepared(self, handle: int | None = None):
        """Execute with pending params (one result per parameter set;
        results summed for updates, last result returned for queries).
        Ephemeral statements close after execution."""
        st = self.get_prepared_statement(handle)
        param_sets = st.pending_params or [[]]
        st.pending_params = None
        result = None
        total_affected = 0
        for params in param_sets:
            result = self.query(
                st.statement, params if st.parameter_count else None
            )
            if result.affected_rows > 0:
                total_affected += result.affected_rows
        if result is not None and not st.is_query:
            result.affected_rows = total_affected
        if st.ephemeral:
            self.close_prepared_statement(st.handle)
        return result

    # -- transactions --------------------------------------------------------

    def begin_transaction(self) -> int:
        self.touch()
        if self.txn_id is not None:
            raise FailedPrecondition("transaction already in progress")
        self.txn_id = next(self._txn_seq)
        self._txn_staged = {}
        self._txn_backup = {}
        return self.txn_id

    def _table_snapshot(self, table: str) -> DataFrame:
        if table in self._txn_staged:
            return self._txn_staged[table]
        return self.spark.table(table)

    def _stage(self, table: str, df: DataFrame) -> None:
        """Record pending table content and shadow the name with a temp
        view so reads inside the transaction see staged state."""
        if table not in self._txn_backup:
            was_temp = any(
                t.name == table and t.isTemporary
                for t in self.spark.catalog.listTables()
            )
            self._txn_backup[table] = (was_temp, self.spark.table(table))
        self._txn_staged[table] = df
        df.createOrReplaceTempView(table)
        forget_meta(self.spark)

    def _unshadow(self) -> None:
        for table, (was_temp, orig) in self._txn_backup.items():
            if was_temp:
                orig.createOrReplaceTempView(table)
            else:
                self.spark.catalog.dropTempView(table)
        self._txn_backup = {}
        forget_meta(self.spark)

    def _transactional_execute(self, eng, sql: str):
        """Run statements against staged state. DML targets are staged
        rather than written; reads see staged content via temp-view
        overlay. One automatic retry after rollback on an abort-class
        failure (reference: with_transaction_recovery,
        session/mod.rs:185-211)."""
        from swanlake_spark.operators import dml as dml_ops

        from swanlake_spark import sync

        stmts = split_statements(sql)
        last = None
        for stmt in stmts:
            sync.sync(self.spark, stmt)
            upd = dml_ops.parse_update(stmt)
            dele = dml_ops.parse_delete(stmt) if upd is None else None
            if upd is not None:
                table, sets, where = upd
                self._stage(
                    table,
                    dml_ops.apply_update(
                        self._table_snapshot(table), sets, where, alias=table
                    ),
                )
                continue
            if dele is not None:
                table, where = dele
                self._stage(
                    table,
                    dml_ops.apply_delete(self._table_snapshot(table), where, alias=table),
                )
                continue
            mg = dml_ops.parse_merge(stmt)
            if mg is not None:
                table, t_alias, source_text, cond, cls = mg
                new_df, _ = dml_ops.apply_merge(
                    self.spark,
                    self._table_snapshot(table),
                    table,
                    t_alias,
                    source_text,
                    cond,
                    cls,
                )
                self._stage(table, new_df)
                continue
            if self._stage_insert(stmt):
                continue
            last = eng.query(stmt)
        return last if last is not None else eng.query("SELECT 1 AS ok")

    def _stage_insert(self, stmt: str) -> bool:
        """Stage an INSERT's rows instead of writing them, so ROLLBACK
        discards and COMMIT publishes atomically with the rest of the
        transaction. Returns False for non-INSERT statements."""
        from swanlake_spark import constraints
        from swanlake_spark.constraints import _INSERT_RE
        from swanlake_spark.operators.ingest import align_to_schema

        m = _INSERT_RE.match(stmt)
        if not m:
            return False
        table = m.group("table").strip('`"')
        src = m.group("src").rstrip().rstrip(";")
        if src.upper().startswith("VALUES"):
            src_df = self.spark.sql(f"SELECT * FROM ({src})")
        else:
            src_df = self.spark.sql(src)
        snap = self._table_snapshot(table)
        if m.group("cols"):
            cols = [c.strip().strip('`"') for c in m.group("cols").split(",")]
        else:
            # SQL INSERT without a column list maps source columns
            # positionally over the full table schema (a VALUES source
            # arrives as col1..colN, so by-name matching would NULL-fill)
            cols = [f.name for f in snap.schema.fields]
        aligned = align_to_schema(src_df, snap.schema, cols)
        overwrite = m.group("mode").upper() == "OVERWRITE"
        # PK check runs against staged state (the shadow view), matching
        # in-transaction enforcement (error_status.test semantics).
        constraints.check_insert_batch(
            self.spark, table, aligned, check_existing=not overwrite
        )
        self._stage(table, aligned if overwrite else snap.unionByName(aligned))
        return True

    def commit_transaction(self) -> None:
        self.touch()
        if self.txn_id is None:
            # autocommit no-op tolerance (reference allows COMMIT outside
            # txn without error, transaction.rs)
            return
        try:
            self._unshadow()
            for table, df in self._txn_staged.items():
                from swanlake_spark.operators.dml import (
                    StagingPin,
                    _table_meta,
                    table_write_lock,
                )

                # COMMIT is a publish like any other: serialized under
                # the per-table write lock (a concurrent UPDATE must not
                # interleave its file swap with ours) and recorded as a
                # snapshot so the transaction's result is visible to
                # AT (VERSION =>) / read_current and the pre-commit
                # state stays time-travelable.
                loc, part_cols, schema = _table_meta(self.spark, table)
                with table_write_lock(self.spark, table, loc=loc):
                    StagingPin(
                        self.spark, table, loc, part_cols,
                        op="txn_commit", schema=schema,
                    ).publish(df, None)
        except Exception as e:
            self._aborted_txns.add(self.txn_id)
            self.txn_id = None
            self._txn_staged = {}
            raise FailedPrecondition(f"transaction aborted on commit: {e}") from e
        self.txn_id = None
        self._txn_staged = {}

    def rollback_transaction(self) -> None:
        self.touch()
        self._unshadow()
        self.txn_id = None
        self._txn_staged = {}

    def was_aborted(self, txn_id: int) -> bool:
        return txn_id in self._aborted_txns


class SessionRegistry:
    """get-or-create by client id; max-sessions cap; idle eviction."""

    def __init__(
        self,
        engine,
        max_sessions: int = 100,
        idle_timeout_s: float = 3600.0,
    ) -> None:
        self.engine = engine
        self.max_sessions = max_sessions
        self.idle_timeout_s = idle_timeout_s
        self._sessions: dict[str, Session] = {}
        self._lock = threading.Lock()

    def get_or_create(self, session_id: str) -> Session:
        with self._lock:
            s = self._sessions.get(session_id)
            if s is not None:
                s.touch()
                return s
            if len(self._sessions) >= self.max_sessions:
                raise ResourceExhausted(
                    f"max sessions ({self.max_sessions}) reached"
                )
            s = Session(session_id, self.engine)
            self._sessions[session_id] = s
            return s

    def remove(self, session_id: str) -> None:
        with self._lock:
            self._sessions.pop(session_id, None)

    def cleanup_idle_sessions(self) -> int:
        """Evict sessions idle past the timeout; returns evicted count
        (the reference janitor runs this every 300 s)."""
        now = time.time()
        with self._lock:
            dead = [
                sid
                for sid, s in self._sessions.items()
                if now - s.last_used > self.idle_timeout_s
            ]
            for sid in dead:
                del self._sessions[sid]
        return len(dead)

    def __len__(self) -> int:
        with self._lock:
            return len(self._sessions)

    def start_janitor(self, interval_s: float = 300.0) -> None:
        """Background idle-eviction loop — the reference spawns this at
        server start with a 300 s cadence
        (``swanlake-server/src/main.rs:42-52``)."""
        if getattr(self, "_janitor", None) is not None:
            return
        self._janitor_stop = threading.Event()

        def loop() -> None:
            while not self._janitor_stop.wait(interval_s):
                self.cleanup_idle_sessions()

        self._janitor = threading.Thread(
            target=loop, daemon=True, name="session-janitor"
        )
        self._janitor.start()

    def stop_janitor(self) -> None:
        if getattr(self, "_janitor", None) is not None:
            self._janitor_stop.set()
            self._janitor.join(timeout=5)
            self._janitor = None
