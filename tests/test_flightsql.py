"""True Arrow Flight SQL endpoint over gRPC (the reference's actual
transport: swanlake-server/src/main.rs:115-122, handlers in
swanlake-core/src/service/handlers/)."""

import tempfile
import uuid

import pytest

from swanlake_spark.errors import EngineError
from swanlake_spark.flightsql import (
    FlightSqlClient,
    _enc_bytes,
    _enc_str,
    _enc_varint,
    any_pack,
    any_unpack,
    pb_fields,
    start_flight_server,
)
from swanlake_spark.queries.tpch import TPCH_QUERIES


@pytest.fixture(scope="module")
def flight(engine, sf_dir):
    engine.attach_warehouse(sf_dir)
    server, port = start_flight_server(engine)
    yield f"grpc://127.0.0.1:{port}"
    server.shutdown()


class TestProtobufCodec:
    def test_roundtrip_string_field(self):
        buf = _enc_str(1, "SELECT 1") + _enc_bytes(2, b"\x01\x02")
        fields = pb_fields(buf)
        assert fields[1][0].decode() == "SELECT 1"
        assert fields[2][0] == b"\x01\x02"

    def test_roundtrip_varint(self):
        for n in (0, 1, 127, 128, 300, 2**32, 2**60):
            fields = pb_fields(_enc_varint(1, n))
            assert fields[1][0] == n

    def test_any_pack_unpack(self):
        name, payload = any_unpack(any_pack("CommandStatementQuery", b"xyz"))
        assert name == "CommandStatementQuery"
        assert payload == b"xyz"

    def test_repeated_fields(self):
        buf = _enc_str(4, "TABLE") + _enc_str(4, "VIEW")
        assert [b.decode() for b in pb_fields(buf)[4]] == ["TABLE", "VIEW"]


class TestFlightSqlQueries:
    def test_simple_query(self, flight):
        tbl = FlightSqlClient(flight).execute(
            "SELECT count(*) AS c FROM nation"
        )
        assert tbl.column("c")[0].as_py() == 25

    def test_flight_info_carries_schema(self, flight):
        import pyarrow.flight as fl

        from swanlake_spark.flightsql import _enc_str as enc

        c = FlightSqlClient(flight)
        command = any_pack(
            "CommandStatementQuery",
            enc(1, "SELECT n_name, n_nationkey FROM nation"),
        )
        info = c._client.get_flight_info(
            fl.FlightDescriptor.for_command(command), c._opts
        )
        assert [f.name for f in info.schema] == ["n_name", "n_nationkey"]

    def test_query_result_values(self, flight):
        tbl = FlightSqlClient(flight).execute(
            "SELECT n_nationkey FROM nation WHERE n_nationkey < 3 "
            "ORDER BY n_nationkey"
        )
        assert tbl.column("n_nationkey").to_pylist() == [0, 1, 2]

    def test_session_isolation(self, flight):
        a = FlightSqlClient(flight)
        b = FlightSqlClient(flight)
        a.execute("CREATE OR REPLACE TEMP VIEW fsql_v AS SELECT 7 AS v")
        assert a.execute("SELECT v FROM fsql_v").column("v")[0].as_py() == 7
        with pytest.raises(EngineError):
            b.execute("SELECT v FROM fsql_v")

    def test_error_propagates_with_message(self, flight):
        with pytest.raises(EngineError, match="snarkle"):
            FlightSqlClient(flight).execute("SELECT * FROM snarkle_missing")

    def test_long_spark_error_reaches_client_short(self, flight, caplog):
        """A task failure's message carries JVM stack traces far past
        gRPC's metadata limit: the client gets the Java exception's first
        line (not Py4J's wrapper line), the server log the whole
        exception."""
        import logging

        import pyarrow.flight as fl

        from swanlake_spark.flightsql import STATUS_MESSAGE_MAX

        client = fl.FlightClient(flight)
        sql = "SELECT java_method('java.lang.Integer', 'parseInt', 'zz') AS v"
        info = client.get_flight_info(
            fl.FlightDescriptor.for_command(
                any_pack("CommandStatementQuery", _enc_str(1, sql))
            )
        )
        with caplog.at_level(logging.ERROR, logger="swanlake_spark.flightsql"):
            with pytest.raises(fl.FlightServerError) as err:
                client.do_get(info.endpoints[0].ticket).read_all()
        msg = str(err.value)
        assert msg.startswith("org.apache.spark.SparkException: ")
        assert "\tat " not in msg and len(msg) < STATUS_MESSAGE_MAX + 500
        logged = "\n".join(caplog.text.splitlines())
        assert "NumberFormatException" in logged and "\tat " in logged


class TestFlightSqlUpdates:
    def test_update_via_do_put(self, flight):
        c = FlightSqlClient(flight)
        t = f"fs_{uuid.uuid4().hex[:8]}"
        loc = tempfile.mkdtemp(prefix="swl_fsql_")
        c.execute(
            f"CREATE TABLE {t} (id INT, v STRING) USING parquet "
            f"LOCATION '{loc}'"
        )
        c.execute(f"INSERT INTO {t} VALUES (1, 'a'), (2, 'b'), (3, 'c')")
        assert c.execute_update(f"UPDATE {t} SET v = 'z' WHERE id >= 2") == 2
        tbl = c.execute(f"SELECT v FROM {t} ORDER BY id")
        assert tbl.column("v").to_pylist() == ["a", "z", "z"]

    def test_delete_via_do_put(self, flight):
        c = FlightSqlClient(flight)
        t = f"fs_{uuid.uuid4().hex[:8]}"
        loc = tempfile.mkdtemp(prefix="swl_fsql_")
        c.execute(
            f"CREATE TABLE {t} (id INT) USING parquet LOCATION '{loc}'"
        )
        c.execute(f"INSERT INTO {t} VALUES (1), (2), (3)")
        assert c.execute_update(f"DELETE FROM {t} WHERE id = 2") == 1
        assert c.execute(f"SELECT count(*) AS c FROM {t}").column("c")[
            0
        ].as_py() == 2


class TestFlightSqlPrepared:
    def test_prepared_query_with_params(self, flight):
        c = FlightSqlClient(flight)
        st = c.prepare(
            "SELECT n_name FROM nation WHERE n_nationkey = ? ORDER BY 1"
        )
        assert st.dataset_schema is not None
        assert [f.name for f in st.dataset_schema] == ["n_name"]
        tbl = st.execute([3])
        assert tbl.num_rows == 1
        tbl2 = st.execute([5])
        assert tbl2.num_rows == 1
        assert tbl.column("n_name")[0].as_py() != tbl2.column("n_name")[
            0
        ].as_py()
        st.close()

    def test_prepared_update_batched_params(self, flight):
        c = FlightSqlClient(flight)
        t = f"fs_{uuid.uuid4().hex[:8]}"
        loc = tempfile.mkdtemp(prefix="swl_fsql_")
        c.execute(
            f"CREATE TABLE {t} (id INT, v STRING) USING parquet "
            f"LOCATION '{loc}'"
        )
        st = c.prepare(f"INSERT INTO {t} VALUES (?, ?)")
        affected = st.execute_update([[1, "a"], [2, "b"], [3, "c"]])
        assert affected == 3
        st.close()
        tbl = c.execute(f"SELECT id FROM {t} ORDER BY id")
        assert tbl.column("id").to_pylist() == [1, 2, 3]

    def test_close_invalidates_handle(self, flight):
        c = FlightSqlClient(flight)
        st = c.prepare("SELECT 1 AS one")
        st.close()
        with pytest.raises(EngineError):
            st.execute()


class TestFlightSqlMetadata:
    def test_get_catalogs(self, flight):
        tbl = FlightSqlClient(flight).get_catalogs()
        assert "spark_catalog" in tbl.column("catalog_name").to_pylist()

    def test_get_db_schemas(self, flight):
        tbl = FlightSqlClient(flight).get_db_schemas()
        assert "default" in tbl.column("db_schema_name").to_pylist()

    def test_get_tables_with_pattern(self, flight):
        tbl = FlightSqlClient(flight).get_tables(table_pattern="nation")
        assert tbl.column("table_name").to_pylist() == ["nation"]

    def test_get_tables_include_schema(self, flight):
        import pyarrow as pa

        tbl = FlightSqlClient(flight).get_tables(
            table_pattern="nation", include_schema=True
        )
        raw = tbl.column("table_schema")[0].as_py()
        schema = pa.ipc.read_schema(pa.py_buffer(raw))
        assert "n_nationkey" in [f.name for f in schema]

    def test_get_table_types(self, flight):
        tbl = FlightSqlClient(flight).get_table_types()
        assert set(tbl.column("table_type").to_pylist()) == {"TABLE", "VIEW"}

    def test_get_sql_info(self, flight):
        tbl = FlightSqlClient(flight).get_sql_info()
        names = tbl.column("info_name").to_pylist()
        assert 0 in names  # server name
        vals = tbl.column("value").to_pylist()
        assert "swanlake-spark" in [
            v for v in vals if isinstance(v, str)
        ]

    def test_get_primary_keys(self, flight, engine):
        c = FlightSqlClient(flight)
        t = f"fs_{uuid.uuid4().hex[:8]}"
        loc = tempfile.mkdtemp(prefix="swl_fsql_")
        c.execute(
            f"CREATE TABLE {t} (id INT PRIMARY KEY, v STRING) "
            f"USING parquet LOCATION '{loc}'"
        )
        tbl = c.get_primary_keys(t)
        assert tbl.column("column_name").to_pylist() == ["id"]
        assert tbl.column("key_sequence").to_pylist() == [1]


class TestFlightSqlTransactions:
    def test_commit_makes_changes_visible(self, flight):
        c = FlightSqlClient(flight)
        t = f"fs_{uuid.uuid4().hex[:8]}"
        loc = tempfile.mkdtemp(prefix="swl_fsql_")
        c.execute(
            f"CREATE TABLE {t} (id INT) USING parquet LOCATION '{loc}'"
        )
        c.execute(f"INSERT INTO {t} VALUES (1)")
        txn = c.begin_transaction()
        assert txn
        c.execute(f"INSERT INTO {t} VALUES (2)")
        c.commit(txn)
        other = FlightSqlClient(flight)
        tbl = other.execute(f"SELECT count(*) AS c FROM {t}")
        assert tbl.column("c")[0].as_py() == 2

    def test_rollback_discards_changes(self, flight):
        c = FlightSqlClient(flight)
        t = f"fs_{uuid.uuid4().hex[:8]}"
        loc = tempfile.mkdtemp(prefix="swl_fsql_")
        c.execute(
            f"CREATE TABLE {t} (id INT) USING parquet LOCATION '{loc}'"
        )
        c.execute(f"INSERT INTO {t} VALUES (1)")
        txn = c.begin_transaction()
        c.execute(f"INSERT INTO {t} VALUES (2), (3)")
        c.rollback(txn)
        tbl = c.execute(f"SELECT count(*) AS c FROM {t}")
        assert tbl.column("c")[0].as_py() == 1


# One statement per defect each entry point used to get differently
# wrong (ids name the defect): (id, DuckDB SQL, parameters or None).
_ROUTE_CASES = [
    ("unprepared_transpile", "SELECT strftime(DATE '1995-03-15', '%Y') AS y", None),
    (
        "pivot_post_pass",
        "SELECT * FROM (SELECT * FROM VALUES ('a', 'x', 1) v(k, p, n)) "
        "PIVOT (count(*) AS c FOR p IN ('x' AS cx, 'y' AS cy))",
        None,
    ),
    (
        "replace_order",
        "SELECT * REPLACE (n_nationkey + 100 AS n_nationkey) FROM nation "
        "ORDER BY n_name",
        None,
    ),
    ("pragma", "PRAGMA table_info('nation')", None),
    ("summarize", "SUMMARIZE region", None),
    ("tpch_q3", TPCH_QUERIES["tpch_q3"].oracle, None),
    (
        "marker",
        "SELECT * REPLACE (upper(n_name) AS n_name) FROM nation "
        "WHERE n_regionkey = ? ORDER BY n_nationkey",
        [1],
    ),
    ("columns", "SELECT COLUMNS('^n_') FROM nation ORDER BY n_nationkey", None),
]


@pytest.fixture(scope="module")
def duckdb_server(spark, sf_dir):
    """A Flight SQL server whose clients speak DuckDB SQL, on a fork of
    the test session."""
    from swanlake_spark.config import EngineConfig
    from swanlake_spark.engine import Engine

    eng = Engine(
        spark=spark.newSession(),
        config=EngineConfig(client_dialect="duckdb", cpus=4),
    )
    eng.attach_warehouse(sf_dir)
    server, port = start_flight_server(eng)
    yield eng, f"grpc://127.0.0.1:{port}"
    server.shutdown()


class TestRouteEquivalence:
    """Every entry point runs a statement through the one front end, so
    each returns the same columns and rows, and every announced schema
    is the schema of the stream that follows."""

    @pytest.mark.parametrize(
        "sql,params",
        [c[1:] for c in _ROUTE_CASES],
        ids=[c[0] for c in _ROUTE_CASES],
    )
    def test_routes_agree(self, duckdb_server, sql, params):
        import pyarrow.flight as fl

        from swanlake_spark.flightsql import _spark_to_arrow_schema

        eng, location = duckdb_server
        sess = eng.sessions.get_or_create(f"routes-{uuid.uuid4().hex[:8]}")
        c = FlightSqlClient(location)
        # route -> (announced schema or None, streamed table)
        got = {
            "engine": (
                None, eng.query(sql, dialect="duckdb", args=params).to_arrow()
            ),
            "session": (None, sess.query(sql, params).to_arrow()),
        }
        st = sess.create_prepared_statement(sql)
        if params:
            sess.set_parameters(st.handle, [params])
        got["prepared"] = (
            _spark_to_arrow_schema(sess.schema_for_prepared(st.handle)),
            sess.execute_prepared(st.handle).to_arrow(),
        )
        if params is None:  # an unprepared statement binds nothing
            info = c._client.get_flight_info(
                fl.FlightDescriptor.for_command(
                    any_pack("CommandStatementQuery", _enc_str(1, sql))
                ),
                c._opts,
            )
            got["flight"] = (info.schema, c._read_endpoint(info))
        fst = c.prepare(sql)
        got["flight_prepared"] = (fst.dataset_schema, fst.execute(params))
        fst.close()
        eng.sessions.remove(sess.session_id)

        names, rows = got["engine"][1].column_names, got["engine"][1].to_pylist()
        for route, (announced, table) in got.items():
            assert table.column_names == names, route
            assert table.to_pylist() == rows, route
            if announced is not None:
                assert announced.names == names, route
                assert announced.types == table.schema.types, route


class TestCrossProcessClient:
    def test_independent_process_speaks_flight_sql(self, flight):
        """A SEPARATE OS process with its own hand-rolled Flight SQL
        protobuf encoding (no swanlake import — only pyarrow.flight and
        20 lines of varint framing against the public FlightSql.proto
        field numbers) queries the server over real gRPC — the closest
        available stand-in for an external ADBC client (no ADBC libs in
        this environment; reference clients are ADBC,
        swanlake-client/src/client.rs:109-172)."""
        import subprocess
        import sys

        script = r'''
import sys
import pyarrow.flight as fl

def tag(field, wire):
    return bytes([(field << 3) | wire])

def varint(n):
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)

def ld(field, data):  # length-delimited field
    return tag(field, 2) + varint(len(data)) + data

query = ld(1, sys.argv[2].encode())
type_url = b"type.googleapis.com/arrow.flight.protocol.sql.CommandStatementQuery"
any_msg = ld(1, type_url) + ld(2, query)
client = fl.connect(sys.argv[1])
info = client.get_flight_info(fl.FlightDescriptor.for_command(any_msg))
tbl = client.do_get(info.endpoints[0].ticket).read_all()
print("XP_RESULT:", tbl.num_rows, tbl.column(0).to_pylist())
'''
        out = subprocess.run(
            [
                sys.executable, "-c", script, flight,
                "SELECT n_nationkey FROM nation "
                "WHERE n_nationkey < 3 ORDER BY n_nationkey",
            ],
            capture_output=True,
            text=True,
            timeout=120,
        )
        assert "XP_RESULT: 3 [0, 1, 2]" in out.stdout, (
            out.stdout, out.stderr[-800:]
        )
