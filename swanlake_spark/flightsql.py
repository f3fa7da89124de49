"""Arrow Flight SQL endpoint (gRPC) + client.

The reference serves remote clients over Arrow Flight SQL
(``/root/reference/swanlake-server/src/main.rs:115-122``, handlers in
``swanlake-core/src/service/handlers/``). This module provides the same
protocol on the Spark engine: a real gRPC Flight server
(:class:`pyarrow.flight.FlightServerBase`) speaking the Flight SQL
command vocabulary, so Flight SQL clients interoperate at the wire
level.

No protobuf library ships in this environment, so the handful of Flight
SQL command messages are encoded/decoded directly against protobuf's
public, stable wire format (field numbers from the public
``FlightSql.proto``; each codec notes its fields). This is ~150 lines of
varint/length-delimited framing — not a protobuf implementation.

Method surface (mirrors ``handlers/README.md``):

- ``GetFlightInfo(CommandStatementQuery)`` → plans the result schema
  (empty schema for commands, like ``statement.rs``
  ``get_flight_info_statement``) and returns a ticket carrying the
  session id + SQL + returns_rows (the reference's ticket payload shape,
  ``ticket.rs``).
- ``DoGet(TicketStatementQuery | CommandPreparedStatementQuery)`` →
  executes and streams Arrow batches; non-query tickets execute and
  return an empty stream (``do_get_statement``).
- ``DoPut(CommandStatementUpdate | CommandPreparedStatementQuery |
  CommandPreparedStatementUpdate)`` → ad-hoc updates, parameter binding,
  prepared updates; affected rows returned as ``DoPutUpdateResult``
  app metadata (``do_put_statement_update`` /
  ``do_put_prepared_statement_update``).
- ``DoAction(CreatePreparedStatement / ClosePreparedStatement /
  BeginTransaction / EndTransaction)`` (``prepared.rs`` /
  ``transaction.rs``).
- Metadata commands ``CommandGetCatalogs / GetDbSchemas / GetTables /
  GetTableTypes / GetPrimaryKeys / GetExportedKeys / GetImportedKeys /
  GetSqlInfo`` with the spec's fixed result schemas (``metadata.rs``,
  ``sql_info.rs``).

Sessions ride a ``x-swanlake-session`` gRPC header (captured by server
middleware), exactly how the reference rehydrates per-client state
(``session/README.md``: ``prepare_request`` extracts the session ID
before handing off to handlers). Clients that send no header share the
``flight-anonymous`` session.

Every statement goes through the engine's one front end
(``Engine.statement``); GetFlightInfo announces the schema
``Engine.schema_for_query`` derives from it, the schema DoGet streams.

Scale note: this is a control-plane veneer — results materialize on the
driver before streaming, the reference's own materialize-then-stream shape
(``connection.rs:302-307``). Bulk extracts belong in COPY-to-storage.
"""

from __future__ import annotations

import json
import logging
import threading
import uuid

import pyarrow as pa
import pyarrow.flight as fl

from swanlake_spark.errors import EngineError, InvalidArgument

# --------------------------------------------------------------------------
# Minimal protobuf wire codec (public wire format: varints + tag/length
# framing). Wire types: 0 = varint, 2 = length-delimited.
# --------------------------------------------------------------------------


def _uvarint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_uvarint(buf: bytes, i: int) -> tuple[int, int]:
    shift = 0
    val = 0
    while True:
        b = buf[i]
        i += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, i
        shift += 7


def _enc_varint(field: int, n: int) -> bytes:
    return _uvarint(field << 3 | 0) + _uvarint(n)


def _enc_bytes(field: int, b: bytes) -> bytes:
    return _uvarint(field << 3 | 2) + _uvarint(len(b)) + b


def _enc_str(field: int, s: str) -> bytes:
    return _enc_bytes(field, s.encode("utf-8"))


def pb_fields(buf: bytes) -> dict[int, list]:
    """Decode a message into {field_number: [values]} — bytes for
    length-delimited fields, int for varints. Unknown wire types raise
    (none appear in the Flight SQL command set)."""
    out: dict[int, list] = {}
    i = 0
    while i < len(buf):
        tag, i = _read_uvarint(buf, i)
        field, wire = tag >> 3, tag & 0x7
        if wire == 0:
            val, i = _read_uvarint(buf, i)
        elif wire == 2:
            ln, i = _read_uvarint(buf, i)
            val = buf[i : i + ln]
            i += ln
        else:
            raise InvalidArgument(f"unsupported protobuf wire type {wire}")
        out.setdefault(field, []).append(val)
    return out


def _str_field(fields: dict, num: int, default: str | None = None) -> str | None:
    if num in fields:
        return fields[num][0].decode("utf-8")
    return default


def _bytes_field(fields: dict, num: int, default: bytes = b"") -> bytes:
    if num in fields:
        return fields[num][0]
    return default


# google.protobuf.Any: type_url = 1 (string), value = 2 (bytes)
_SQL_NS = "type.googleapis.com/arrow.flight.protocol.sql."


def any_pack(name: str, payload: bytes) -> bytes:
    return _enc_str(1, _SQL_NS + name) + _enc_bytes(2, payload)


def any_unpack(buf: bytes) -> tuple[str, bytes]:
    fields = pb_fields(buf)
    url = _str_field(fields, 1, "")
    return url.rsplit(".", 1)[-1], _bytes_field(fields, 2)


# --------------------------------------------------------------------------
# Flight SQL fixed metadata schemas (public spec)
# --------------------------------------------------------------------------

_CATALOGS_SCHEMA = pa.schema([pa.field("catalog_name", pa.string(), False)])
_DB_SCHEMAS_SCHEMA = pa.schema(
    [
        pa.field("catalog_name", pa.string()),
        pa.field("db_schema_name", pa.string(), False),
    ]
)
_TABLE_TYPES_SCHEMA = pa.schema([pa.field("table_type", pa.string(), False)])
_KEYS_SCHEMA = pa.schema(
    [
        pa.field("catalog_name", pa.string()),
        pa.field("db_schema_name", pa.string()),
        pa.field("table_name", pa.string(), False),
        pa.field("column_name", pa.string(), False),
        pa.field("key_name", pa.string()),
        pa.field("key_sequence", pa.int32(), False),
    ]
)

_SQL_INFO_VALUE_FIELDS = [
    pa.field("string_value", pa.string()),
    pa.field("bool_value", pa.bool_()),
    pa.field("bigint_value", pa.int64()),
    pa.field("int32_bitmask", pa.int32()),
    pa.field("string_list", pa.list_(pa.string())),
    pa.field(
        "int32_to_int32_list_map", pa.map_(pa.int32(), pa.list_(pa.int32()))
    ),
]
_SQL_INFO_SCHEMA = pa.schema(
    [
        pa.field("info_name", pa.uint32(), False),
        pa.field(
            "value",
            pa.dense_union(_SQL_INFO_VALUE_FIELDS, list(range(6))),
            False,
        ),
    ]
)

# Flight SQL info ids (public SqlInfo enum): 0 server name, 1 server
# version, 2 arrow version, 3 read-only, 8 transaction support.
_INFO_SERVER_NAME = 0
_INFO_SERVER_VERSION = 1
_INFO_ARROW_VERSION = 2
_INFO_READ_ONLY = 3
_INFO_TRANSACTION = 8


def _tables_schema(include_schema: bool) -> pa.Schema:
    fields = [
        pa.field("catalog_name", pa.string()),
        pa.field("db_schema_name", pa.string()),
        pa.field("table_name", pa.string(), False),
        pa.field("table_type", pa.string(), False),
    ]
    if include_schema:
        fields.append(pa.field("table_schema", pa.binary(), False))
    return pa.schema(fields)


def _like_match(pattern: str | None, value: str | None) -> bool:
    """SQL LIKE pattern (%/_) match, the filter semantics of
    CommandGetDbSchemas/GetTables."""
    if pattern is None or pattern == "":
        return True
    if value is None:
        return False
    import re

    rx = re.escape(pattern).replace("%", ".*").replace("_", ".")
    return re.fullmatch(rx, value, flags=re.IGNORECASE) is not None


def _spark_to_arrow_schema(spark_schema) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    try:
        return to_arrow_schema(spark_schema)
    except Exception:
        # exotic types (e.g. CalendarInterval) — string-render columns
        return pa.schema([pa.field(f.name, pa.string()) for f in spark_schema])


def _serialized_schema(schema: pa.Schema) -> bytes:
    return schema.serialize().to_pybytes()


def _empty_table() -> pa.Table:
    return pa.Table.from_pydict({})


# --------------------------------------------------------------------------
# Server
# --------------------------------------------------------------------------

_SESSION_HEADER = "x-swanlake-session"
# the longest error message a status carries: gRPC refuses response
# metadata past its limit (8 KB by default), and a client then sees only
# "received initial metadata size exceeds limit" instead of the error
STATUS_MESSAGE_MAX = 1024


class _HeaderMiddleware(fl.ServerMiddleware):
    def __init__(self, session_id: str | None):
        self.session_id = session_id


class _HeaderMiddlewareFactory(fl.ServerMiddlewareFactory):
    def start_call(self, info, headers):
        vals = headers.get(_SESSION_HEADER) or headers.get(
            _SESSION_HEADER.encode()
        )
        sid = None
        if vals:
            sid = vals[0]
            if isinstance(sid, bytes):
                sid = sid.decode("utf-8")
        return _HeaderMiddleware(sid)


class FlightSqlServer(fl.FlightServerBase):
    """Flight SQL facade over :class:`swanlake_spark.engine.Engine`."""

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 0):
        self._location = f"grpc://{host}:{port}"
        super().__init__(
            self._location,
            middleware={"session": _HeaderMiddlewareFactory()},
        )
        self.engine = engine
        self._lock = threading.Lock()

    # -- helpers -----------------------------------------------------------

    def _session(self, context):
        mw = context.get_middleware("session")
        sid = (mw.session_id if mw else None) or "flight-anonymous"
        return self.engine.sessions.get_or_create(sid), sid

    @staticmethod
    def _error(exc: Exception):
        """Map the engine exception taxonomy onto Flight/gRPC statuses,
        the reference's status_from_error (service/mod.rs:84-121):
        invalid_argument / failed_precondition / resource_exhausted /
        not_found keep their codes; everything else is internal.

        The server log gets the whole exception, JVM stack trace
        included; the status carries only the message's first line, cut
        to ``STATUS_MESSAGE_MAX`` characters."""
        if isinstance(exc, (fl.FlightError,)):
            return exc
        from swanlake_spark import errors as E

        logging.getLogger(__name__).exception(
            "Flight SQL request failed", exc_info=exc
        )
        lines = str(exc).strip().splitlines()
        if len(lines) > 1 and lines[0].startswith("An error occurred while calling"):
            # Py4J's wrapper line names only the JVM call; the Java
            # exception's own first line follows it
            lines = [lines[1].lstrip(": ")]
        msg = (lines[0] if lines else type(exc).__name__)[:STATUS_MESSAGE_MAX]
        if isinstance(exc, E.ResourceExhausted):
            # closest status pyarrow can raise client-side
            return fl.FlightUnavailableError(f"{exc.code}: {msg}")
        if isinstance(exc, E.EngineError) and exc.code != "internal":
            # pyarrow exposes no invalid_argument/failed_precondition
            # exception classes; carry the taxonomy code in-message
            return fl.FlightServerError(f"{exc.code}: {msg}")
        return fl.FlightServerError(msg)

    def _flight_info(self, descriptor, schema, ticket_bytes) -> fl.FlightInfo:
        endpoint = fl.FlightEndpoint(fl.Ticket(ticket_bytes), [])
        return fl.FlightInfo(schema, descriptor, [endpoint], -1, -1)

    # -- GetFlightInfo -----------------------------------------------------

    def get_flight_info(self, context, descriptor):
        try:
            name, payload = any_unpack(descriptor.command)
            sess, sid = self._session(context)
            if name == "CommandStatementQuery":
                # CommandStatementQuery: query = 1 (string)
                sql = _str_field(pb_fields(payload), 1, "")
                st = sess.statement(sql)
                # the schema of the stream DoGet sends for this text; a
                # script or command announces none (schema at DoGet)
                returns_rows = st.parsed.is_query
                schema = pa.schema([])
                if returns_rows:
                    schema = _spark_to_arrow_schema(
                        sess.session_engine.schema_for_query(st)
                    )
                handle = json.dumps(
                    {"session": sid, "sql": sql, "returns_rows": returns_rows}
                ).encode()
                # TicketStatementQuery: statement_handle = 1 (bytes)
                ticket = any_pack(
                    "TicketStatementQuery", _enc_bytes(1, handle)
                )
                return self._flight_info(descriptor, schema, ticket)
            if name == "CommandPreparedStatementQuery":
                # prepared_statement_handle = 1 (bytes)
                handle = _bytes_field(pb_fields(payload), 1)
                info = json.loads(handle.decode() or "{}")
                st_schema = sess.schema_for_prepared(info.get("handle"))
                schema = (
                    _spark_to_arrow_schema(st_schema)
                    if st_schema is not None
                    else pa.schema([])
                )
                return self._flight_info(descriptor, schema, descriptor.command)
            if name in _METADATA_SCHEMAS or name == "CommandGetTables":
                schema = self._metadata_schema(name, payload)
                return self._flight_info(descriptor, schema, descriptor.command)
            raise InvalidArgument(f"unsupported Flight SQL command: {name}")
        except Exception as e:  # gRPC boundary: map to Flight status
            raise self._error(e) from e

    def _metadata_schema(self, name: str, payload: bytes) -> pa.Schema:
        if name == "CommandGetTables":
            fields = pb_fields(payload)
            include_schema = bool(fields.get(5, [0])[0])
            return _tables_schema(include_schema)
        return _METADATA_SCHEMAS[name]

    # -- DoGet -------------------------------------------------------------

    def do_get(self, context, ticket):
        try:
            name, payload = any_unpack(ticket.ticket)
            sess, _sid = self._session(context)
            if name == "TicketStatementQuery":
                info = json.loads(
                    _bytes_field(pb_fields(payload), 1).decode() or "{}"
                )
                res = sess.query(info.get("sql", ""))
                if res.df is None or not res.is_query:
                    return fl.RecordBatchStream(_empty_table())
                return fl.RecordBatchStream(res.to_arrow())
            if name == "CommandPreparedStatementQuery":
                handle = _bytes_field(pb_fields(payload), 1)
                info = json.loads(handle.decode() or "{}")
                res = sess.execute_prepared(info.get("handle"))
                if res is None or res.df is None or not res.is_query:
                    return fl.RecordBatchStream(_empty_table())
                return fl.RecordBatchStream(res.to_arrow())
            if name in _METADATA_SCHEMAS or name == "CommandGetTables":
                return fl.RecordBatchStream(
                    self._metadata_table(name, payload, sess)
                )
            raise InvalidArgument(f"unsupported ticket: {name}")
        except Exception as e:
            raise self._error(e) from e

    # -- metadata results --------------------------------------------------

    def _metadata_table(self, name: str, payload: bytes, sess) -> pa.Table:
        # the session's engine: metadata sees its temp views
        eng = sess.session_engine
        fields = pb_fields(payload)
        if name == "CommandGetCatalogs":
            return pa.Table.from_pydict(
                {"catalog_name": eng.list_catalogs()}, _CATALOGS_SCHEMA
            )
        if name == "CommandGetDbSchemas":
            # catalog = 1, db_schema_filter_pattern = 2
            pattern = _str_field(fields, 2)
            names = [s for s in eng.list_schemas() if _like_match(pattern, s)]
            return pa.Table.from_pydict(
                {
                    "catalog_name": ["spark_catalog"] * len(names),
                    "db_schema_name": names,
                },
                _DB_SCHEMAS_SCHEMA,
            )
        if name == "CommandGetTables":
            # catalog=1, db_schema_filter=2, table_name_filter=3,
            # table_types=4 (repeated), include_schema=5 (bool)
            schema_pat = _str_field(fields, 2)
            table_pat = _str_field(fields, 3)
            types = [b.decode() for b in fields.get(4, [])]
            include_schema = bool(fields.get(5, [0])[0])
            rows = [
                t
                for t in eng.list_tables()
                if _like_match(schema_pat, t["schema"])
                and _like_match(table_pat, t["name"])
                and (not types or t["type"] in types)
            ]
            cols = {
                "catalog_name": [t["catalog"] for t in rows],
                "db_schema_name": [t["schema"] for t in rows],
                "table_name": [t["name"] for t in rows],
                "table_type": [t["type"] for t in rows],
            }
            if include_schema:
                cols["table_schema"] = [
                    _serialized_schema(
                        _spark_to_arrow_schema(eng.table_schema(t["name"]))
                    )
                    for t in rows
                ]
            return pa.Table.from_pydict(cols, _tables_schema(include_schema))
        if name == "CommandGetTableTypes":
            return pa.Table.from_pydict(
                {"table_type": eng.table_types()}, _TABLE_TYPES_SCHEMA
            )
        if name in ("CommandGetPrimaryKeys", "CommandGetExportedKeys",
                    "CommandGetImportedKeys"):
            # catalog = 1, db_schema = 2, table = 3
            table = _str_field(fields, 3, "")
            df = (
                eng.primary_keys(table)
                if name == "CommandGetPrimaryKeys"
                else eng.foreign_keys(table)
            )
            rows = df.collect()
            return pa.Table.from_pydict(
                {
                    "catalog_name": [r.catalog_name for r in rows],
                    "db_schema_name": [r.db_schema_name for r in rows],
                    "table_name": [r.table_name for r in rows],
                    "column_name": [r.column_name for r in rows],
                    "key_name": [r.key_name for r in rows],
                    "key_sequence": [r.key_sequence for r in rows],
                },
                _KEYS_SCHEMA,
            )
        if name == "CommandGetSqlInfo":
            requested = set(fields.get(1, []))
            return _sql_info_table(eng.sql_info(), requested or None)
        raise InvalidArgument(f"unsupported metadata command: {name}")

    # -- DoPut -------------------------------------------------------------

    def do_put(self, context, descriptor, reader, writer):
        try:
            name, payload = any_unpack(descriptor.command)
            sess, _sid = self._session(context)
            params = _read_put_table(reader)
            if name == "CommandStatementUpdate":
                st = sess.statement(_str_field(pb_fields(payload), 1, ""))
                affected = 0
                for row in _param_sets(params) or [None]:
                    affected += max(sess.execute_update(st, row), 0)
                writer.write(
                    pa.py_buffer(_enc_varint(1, affected))
                )  # DoPutUpdateResult: record_count = 1
                return
            handle_info = json.loads(
                _bytes_field(pb_fields(payload), 1).decode() or "{}"
            )
            handle = handle_info.get("handle")
            if name == "CommandPreparedStatementQuery":
                # bind only — execution happens on DoGet
                param_sets = _param_sets(params)
                if param_sets:
                    sess.set_parameters(handle, param_sets)
                return
            if name == "CommandPreparedStatementUpdate":
                st = sess.get_prepared_statement(handle)
                affected = self._prepared_update(sess, st, params)
                writer.write(pa.py_buffer(_enc_varint(1, max(affected, 0))))
                return
            raise InvalidArgument(f"unsupported DoPut command: {name}")
        except Exception as e:
            raise self._error(e) from e

    def _prepared_update(self, sess, st, params: pa.Table | None) -> int:
        """Prepared update execution with the reference's insert fast
        path (prepared.rs:394-553 → appender): an all-placeholder INSERT
        VALUES batch goes through the Arrow appender in one aligned
        write, its columns kept as the client sent them; everything
        else runs once per parameter set, summing affected counts."""
        from swanlake_spark.plans.parser import insert_info

        info = insert_info(st.sql)
        if (
            params is not None
            and info is not None
            and info.source == "VALUES"
            and info.all_placeholders
        ):
            from swanlake_spark.operators.ingest import insert_arrow

            # parameter batches carry positional values — name them after
            # the INSERT's explicit column list, else the table's columns
            names = info.columns or list(
                sess.spark.table(info.table).columns
            )[: params.num_columns]
            batch = pa.table(dict(zip(names, params.columns)))
            return insert_arrow(sess.spark, info.table, batch, info.columns)
        total = 0
        for row in _param_sets(params) or [None]:
            total += max(sess.execute_update(st.statement, row), 0)
        return total

    # -- DoAction ----------------------------------------------------------

    def do_action(self, context, action):
        try:
            sess, sid = self._session(context)
            body = action.body.to_pybytes() if action.body else b""
            atype = action.type
            if atype == "CreatePreparedStatement":
                name, payload = any_unpack(body)
                # ActionCreatePreparedStatementRequest: query = 1
                sql = _str_field(pb_fields(payload), 1, "")
                st = sess.create_prepared_statement(sql)
                handle = json.dumps(
                    {"session": sid, "handle": st.handle}
                ).encode()
                dataset_schema = b""
                if st.is_query:
                    probed = sess.schema_for_prepared(st.handle)
                    if probed is not None:
                        dataset_schema = _serialized_schema(
                            _spark_to_arrow_schema(probed)
                        )
                param_schema = _serialized_schema(
                    _spark_to_arrow_schema(st.parameter_schema)
                )
                # ActionCreatePreparedStatementResult:
                #   prepared_statement_handle=1, dataset_schema=2,
                #   parameter_schema=3
                result = any_pack(
                    "ActionCreatePreparedStatementResult",
                    _enc_bytes(1, handle)
                    + _enc_bytes(2, dataset_schema)
                    + _enc_bytes(3, param_schema),
                )
                return iter([fl.Result(pa.py_buffer(result))])
            if atype == "ClosePreparedStatement":
                name, payload = any_unpack(body)
                info = json.loads(
                    _bytes_field(pb_fields(payload), 1).decode() or "{}"
                )
                sess.close_prepared_statement(info.get("handle"))
                return iter([])
            if atype == "BeginTransaction":
                txn = sess.begin_transaction()
                # ActionBeginTransactionResult: transaction_id = 1
                result = any_pack(
                    "ActionBeginTransactionResult",
                    _enc_bytes(1, str(txn).encode()),
                )
                return iter([fl.Result(pa.py_buffer(result))])
            if atype == "EndTransaction":
                name, payload = any_unpack(body)
                fields = pb_fields(payload)
                # ActionEndTransactionRequest: transaction_id=1, action=2
                # (1 = COMMIT, 2 = ROLLBACK)
                end = fields.get(2, [1])[0]
                if end == 2:
                    sess.rollback_transaction()
                else:
                    sess.commit_transaction()
                return iter([])
            raise InvalidArgument(f"unsupported action: {atype}")
        except Exception as e:
            raise self._error(e) from e

    def list_actions(self, context):
        return [
            ("CreatePreparedStatement", "Create a prepared statement"),
            ("ClosePreparedStatement", "Close a prepared statement"),
            ("BeginTransaction", "Begin a transaction"),
            ("EndTransaction", "Commit or roll back a transaction"),
        ]


_METADATA_SCHEMAS = {
    "CommandGetCatalogs": _CATALOGS_SCHEMA,
    "CommandGetDbSchemas": _DB_SCHEMAS_SCHEMA,
    "CommandGetTableTypes": _TABLE_TYPES_SCHEMA,
    "CommandGetPrimaryKeys": _KEYS_SCHEMA,
    "CommandGetExportedKeys": _KEYS_SCHEMA,
    "CommandGetImportedKeys": _KEYS_SCHEMA,
    "CommandGetSqlInfo": _SQL_INFO_SCHEMA,
}


def _read_put_table(reader) -> pa.Table | None:
    """Drain a DoPut stream; None when it holds no row."""
    try:
        table = reader.read_all()
    except Exception:
        return None
    return table if table.num_rows and table.num_columns else None


def _param_sets(table: pa.Table | None) -> list[list]:
    """One parameter set per row of a DoPut table."""
    if table is None:
        return []
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    return [list(vals) for vals in zip(*cols)]


def _sql_info_table(info: dict, requested: set | None) -> pa.Table:
    """Build the GetSqlInfo dense-union result (sql_info.rs:20-36)."""
    entries: list[tuple[int, int, object]] = [  # (id, union code, value)
        (_INFO_SERVER_NAME, 0, info.get("engine", "swanlake-spark")),
        (_INFO_SERVER_VERSION, 0, "3.0"),
        (_INFO_ARROW_VERSION, 0, pa.__version__),
        (_INFO_READ_ONLY, 1, bool(info.get("read_only", False))),
        (_INFO_TRANSACTION, 2, 2 if info.get("transactions_supported") else 0),
    ]
    if requested:
        entries = [e for e in entries if e[0] in requested]
    strings, bools, bigints = [], [], []
    type_ids, offsets = [], []
    for _id, code, val in entries:
        type_ids.append(code)
        if code == 0:
            offsets.append(len(strings))
            strings.append(str(val))
        elif code == 1:
            offsets.append(len(bools))
            bools.append(bool(val))
        else:
            offsets.append(len(bigints))
            bigints.append(int(val))
    children = [
        pa.array(strings, pa.string()),
        pa.array(bools, pa.bool_()),
        pa.array(bigints, pa.int64()),
        pa.array([], pa.int32()),
        pa.array([], pa.list_(pa.string())),
        pa.array([], pa.map_(pa.int32(), pa.list_(pa.int32()))),
    ]
    value = pa.UnionArray.from_dense(
        pa.array(type_ids, pa.int8()),
        pa.array(offsets, pa.int32()),
        children,
        [f.name for f in _SQL_INFO_VALUE_FIELDS],
        list(range(6)),
    )
    names = pa.array([e[0] for e in entries], pa.uint32())
    return pa.Table.from_arrays([names, value], schema=_SQL_INFO_SCHEMA)


def start_flight_server(
    engine, host: str = "127.0.0.1", port: int = 0
) -> tuple[FlightSqlServer, int]:
    """Start the Flight SQL server in a daemon thread; returns
    ``(server, bound_port)``. Call ``server.shutdown()`` to stop."""
    server = FlightSqlServer(engine, host=host, port=port)
    t = threading.Thread(target=server.serve, daemon=True)
    t.start()
    return server, server.port


# --------------------------------------------------------------------------
# Client (mirrors swanlake-client/src/client.rs:109-172)
# --------------------------------------------------------------------------


class FlightSqlPrepared:
    """Client-side prepared statement handle."""

    def __init__(self, client: "FlightSqlClient", handle: bytes,
                 dataset_schema: pa.Schema | None,
                 parameter_schema: pa.Schema | None):
        self._client = client
        self.handle = handle
        self.dataset_schema = dataset_schema
        self.parameter_schema = parameter_schema

    def _command(self, name: str) -> bytes:
        return any_pack(name, _enc_bytes(1, self.handle))

    def execute(self, params: list | None = None) -> pa.Table:
        c = self._client
        if params:
            c._put_params(
                self._command("CommandPreparedStatementQuery"), [params]
            )
        descriptor = fl.FlightDescriptor.for_command(
            self._command("CommandPreparedStatementQuery")
        )
        try:
            info = c._client.get_flight_info(descriptor, c._opts)
        except fl.FlightError as e:
            raise EngineError(_clean_flight_message(e)) from e
        return c._read_endpoint(info)

    def execute_update(self, param_sets: list[list] | None = None) -> int:
        return self._client._do_put_update(
            self._command("CommandPreparedStatementUpdate"),
            param_sets,
        )

    def close(self) -> None:
        body = any_pack(
            "ActionClosePreparedStatementRequest", _enc_bytes(1, self.handle)
        )
        self._client._action("ClosePreparedStatement", body)


class FlightSqlClient:
    """Flight SQL client over ``pyarrow.flight``: execute / update /
    prepared statements / metadata / transactions."""

    def __init__(self, location: str, session_id: str | None = None):
        self._client = fl.FlightClient(location)
        self.session_id = session_id or f"flight-{uuid.uuid4().hex[:12]}"
        self._opts = fl.FlightCallOptions(
            headers=[(_SESSION_HEADER.encode(), self.session_id.encode())]
        )

    # -- internals ---------------------------------------------------------

    def _read_endpoint(self, info) -> pa.Table:
        ticket = info.endpoints[0].ticket
        try:
            return self._client.do_get(ticket, self._opts).read_all()
        except fl.FlightError as e:
            raise EngineError(_clean_flight_message(e)) from e

    def _do_put_update(
        self, command: bytes, param_sets: list[list] | None = None
    ) -> int:
        descriptor = fl.FlightDescriptor.for_command(command)
        schema = pa.schema([])
        batch = None
        if param_sets:
            cols = list(zip(*param_sets))
            arrays = [pa.array(list(c)) for c in cols]
            schema = pa.schema(
                [
                    pa.field(f"param_{i}", a.type)
                    for i, a in enumerate(arrays)
                ]
            )
            batch = pa.RecordBatch.from_arrays(arrays, schema=schema)
        try:
            writer, meta_reader = self._client.do_put(
                descriptor, schema, self._opts
            )
            with writer:
                if batch is not None:
                    writer.write_batch(batch)
                writer.done_writing()
                buf = meta_reader.read()
        except fl.FlightError as e:
            raise EngineError(_clean_flight_message(e)) from e
        if buf is None:
            return 0
        fields = pb_fields(buf.to_pybytes())
        return fields.get(1, [0])[0]  # DoPutUpdateResult.record_count

    def _put_params(self, command: bytes, param_sets: list[list]) -> None:
        descriptor = fl.FlightDescriptor.for_command(command)
        cols = list(zip(*param_sets))
        arrays = [pa.array(list(c)) for c in cols]
        schema = pa.schema(
            [pa.field(f"param_{i}", a.type) for i, a in enumerate(arrays)]
        )
        batch = pa.RecordBatch.from_arrays(arrays, schema=schema)
        try:
            writer, meta_reader = self._client.do_put(
                descriptor, schema, self._opts
            )
            with writer:
                writer.write_batch(batch)
                writer.done_writing()
                meta_reader.read()
        except fl.FlightError as e:
            raise EngineError(_clean_flight_message(e)) from e

    def _action(self, atype: str, body: bytes) -> list[bytes]:
        try:
            results = self._client.do_action(
                fl.Action(atype, body), self._opts
            )
            return [r.body.to_pybytes() for r in results]
        except fl.FlightError as e:
            raise EngineError(_clean_flight_message(e)) from e

    def _metadata(self, name: str, payload: bytes = b"") -> pa.Table:
        command = any_pack(name, payload)
        descriptor = fl.FlightDescriptor.for_command(command)
        try:
            info = self._client.get_flight_info(descriptor, self._opts)
        except fl.FlightError as e:
            raise EngineError(_clean_flight_message(e)) from e
        return self._read_endpoint(info)

    # -- statements --------------------------------------------------------

    def execute(self, sql: str) -> pa.Table:
        command = any_pack("CommandStatementQuery", _enc_str(1, sql))
        descriptor = fl.FlightDescriptor.for_command(command)
        try:
            info = self._client.get_flight_info(descriptor, self._opts)
        except fl.FlightError as e:
            raise EngineError(_clean_flight_message(e)) from e
        return self._read_endpoint(info)

    def execute_update(self, sql: str) -> int:
        command = any_pack("CommandStatementUpdate", _enc_str(1, sql))
        return self._do_put_update(command)

    def prepare(self, sql: str) -> FlightSqlPrepared:
        body = any_pack(
            "ActionCreatePreparedStatementRequest", _enc_str(1, sql)
        )
        results = self._action("CreatePreparedStatement", body)
        if not results:
            raise EngineError("CreatePreparedStatement returned no result")
        _name, payload = any_unpack(results[0])
        fields = pb_fields(payload)
        handle = _bytes_field(fields, 1)
        dataset_schema = _maybe_schema(_bytes_field(fields, 2))
        parameter_schema = _maybe_schema(_bytes_field(fields, 3))
        return FlightSqlPrepared(self, handle, dataset_schema, parameter_schema)

    # -- metadata ----------------------------------------------------------

    def get_catalogs(self) -> pa.Table:
        return self._metadata("CommandGetCatalogs")

    def get_db_schemas(self, pattern: str | None = None) -> pa.Table:
        payload = _enc_str(2, pattern) if pattern else b""
        return self._metadata("CommandGetDbSchemas", payload)

    def get_tables(
        self,
        schema_pattern: str | None = None,
        table_pattern: str | None = None,
        table_types: list[str] | None = None,
        include_schema: bool = False,
    ) -> pa.Table:
        payload = b""
        if schema_pattern:
            payload += _enc_str(2, schema_pattern)
        if table_pattern:
            payload += _enc_str(3, table_pattern)
        for t in table_types or []:
            payload += _enc_str(4, t)
        if include_schema:
            payload += _enc_varint(5, 1)
        return self._metadata("CommandGetTables", payload)

    def get_table_types(self) -> pa.Table:
        return self._metadata("CommandGetTableTypes")

    def get_primary_keys(self, table: str) -> pa.Table:
        return self._metadata("CommandGetPrimaryKeys", _enc_str(3, table))

    def get_sql_info(self, ids: list[int] | None = None) -> pa.Table:
        payload = b"".join(_enc_varint(1, i) for i in ids or [])
        return self._metadata("CommandGetSqlInfo", payload)

    # -- transactions ------------------------------------------------------

    def begin_transaction(self) -> bytes:
        results = self._action("BeginTransaction", b"")
        if not results:
            return b""
        _name, payload = any_unpack(results[0])
        return _bytes_field(pb_fields(payload), 1)

    def _end_transaction(self, txn: bytes, action: int) -> None:
        body = any_pack(
            "ActionEndTransactionRequest",
            _enc_bytes(1, txn) + _enc_varint(2, action),
        )
        self._action("EndTransaction", body)

    def commit(self, txn: bytes = b"") -> None:
        self._end_transaction(txn, 1)

    def rollback(self, txn: bytes = b"") -> None:
        self._end_transaction(txn, 2)

    def close(self) -> None:
        self._client.close()


def _maybe_schema(buf: bytes) -> pa.Schema | None:
    if not buf:
        return None
    return pa.ipc.read_schema(pa.py_buffer(buf))


def _clean_flight_message(e: Exception) -> str:
    """Strip the gRPC framing noise; keep the server's message."""
    msg = str(e)
    for marker in ("detail: ", "message: "):
        if marker in msg:
            msg = msg.split(marker, 1)[1]
            break
    return msg.split(". gRPC client debug context")[0].strip().strip('"')
