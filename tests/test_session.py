"""Session layer tests: registry limits/eviction, prepared statements,
parameter binding, transactions.

Models the reference's integration scenarios
(``tests/runner/src/scenarios/{prepared_statements,transaction_recovery,
concurrent_sessions}.rs``) and registry unit tests
(``session/registry.rs:246-399``).
"""

import tempfile
import time
import uuid

import pytest

from swanlake_spark.errors import FailedPrecondition, InvalidArgument, ResourceExhausted
from swanlake_spark.session import SessionRegistry, bind_parameters


@pytest.fixture(scope="module")
def registry(engine):
    return SessionRegistry(engine, max_sessions=50, idle_timeout_s=3600)


def _mktable(sess, cols="id INT, val STRING"):
    name = f"s_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix="swl_test_")
    sess.query(f"CREATE TABLE {name} ({cols}) USING parquet LOCATION '{loc}'")
    return name


class TestBinding:
    def test_basic_types(self):
        out = bind_parameters("SELECT ? AS a, ? AS b, ? AS c, ? AS d", [1, 2.5, "x", None])
        assert out == "SELECT 1 AS a, 2.5 AS b, 'x' AS c, NULL AS d"

    def test_string_escaping(self):
        assert bind_parameters("SELECT ?", ["O'Brien"]) == "SELECT 'O''Brien'"

    def test_bytes(self):
        assert bind_parameters("SELECT ?", [b"\x01\x02"]) == "SELECT X'0102'"

    def test_bool(self):
        assert bind_parameters("SELECT ?, ?", [True, False]) == "SELECT TRUE, FALSE"

    def test_dates(self):
        import datetime

        out = bind_parameters(
            "SELECT ?, ?",
            [datetime.date(2024, 1, 2), datetime.datetime(2024, 1, 2, 3, 4, 5)],
        )
        assert "DATE '2024-01-02'" in out
        assert "TIMESTAMP '2024-01-02 03:04:05.000000'" in out

    def test_placeholder_in_literal_not_bound(self):
        out = bind_parameters("SELECT '?' , ?", [7])
        assert out == "SELECT '?' , 7"

    def test_arity_mismatch(self):
        with pytest.raises(InvalidArgument):
            bind_parameters("SELECT ?, ?", [1])


class TestRegistry:
    def test_get_or_create_stable(self, registry):
        a = registry.get_or_create("client-1")
        b = registry.get_or_create("client-1")
        assert a is b

    def test_max_sessions(self, engine):
        reg = SessionRegistry(engine, max_sessions=2)
        reg.get_or_create("a")
        reg.get_or_create("b")
        with pytest.raises(ResourceExhausted):
            reg.get_or_create("c")

    def test_idle_eviction(self, engine):
        reg = SessionRegistry(engine, max_sessions=10, idle_timeout_s=0.01)
        reg.get_or_create("x")
        time.sleep(0.05)
        assert reg.cleanup_idle_sessions() == 1
        assert len(reg) == 0

    def test_session_isolation_temp_views(self, registry):
        s1 = registry.get_or_create("iso-1")
        s2 = registry.get_or_create("iso-2")
        s1.query("CREATE OR REPLACE TEMP VIEW iso_v AS SELECT 1 AS x")
        assert s1.query("SELECT x FROM iso_v").collect()[0].x == 1
        with pytest.raises(Exception):
            s2.query("SELECT x FROM iso_v").collect()


class TestPreparedStatements:
    def test_query_with_params(self, registry):
        s = registry.get_or_create("ps-1")
        st = s.create_prepared_statement("SELECT ? + 1 AS v")
        assert st.parameter_count == 1
        s.set_parameters(st.handle, [[41]])
        res = s.execute_prepared(st.handle)
        assert res.collect()[0].v == 42

    def test_schema_cached_with_null_fill(self, registry):
        s = registry.get_or_create("ps-2")
        st = s.create_prepared_statement("SELECT CAST(? AS INT) AS a")
        schema = s.schema_for_prepared(st.handle)
        assert schema.fields[0].name == "a"
        assert st.schema is not None  # cached

    def test_empty_handle_fallback(self, registry):
        # reference prepared.rs:38-68: empty handle → most recent
        s = registry.get_or_create("ps-3")
        s.create_prepared_statement("SELECT 7 AS seven")
        res = s.execute_prepared(None)
        assert res.collect()[0].seven == 7

    def test_unknown_handle(self, registry):
        s = registry.get_or_create("ps-4")
        with pytest.raises(InvalidArgument):
            s.get_prepared_statement(9999)

    def test_ephemeral_closes_after_execute(self, registry):
        s = registry.get_or_create("ps-5")
        st = s.create_prepared_statement("SELECT 1 AS one", ephemeral=True)
        s.execute_prepared(st.handle)
        with pytest.raises(InvalidArgument):
            s.get_prepared_statement(st.handle)

    def test_prepared_insert_param_sets(self, registry):
        s = registry.get_or_create("ps-6")
        t = _mktable(s)
        st = s.create_prepared_statement(f"INSERT INTO {t} VALUES (?, ?)")
        s.set_parameters(st.handle, [[1, "a"], [2, "b"], [3, None]])
        s.execute_prepared(st.handle)
        rows = s.query(f"SELECT id, val FROM {t} ORDER BY id").collect()
        assert [(r.id, r.val) for r in rows] == [(1, "a"), (2, "b"), (3, None)]

    def test_prepared_update_accumulates_affected(self, registry):
        s = registry.get_or_create("ps-7")
        t = _mktable(s)
        s.query(f"INSERT INTO {t} VALUES (1,'a'), (2,'b'), (3,'c')")
        st = s.create_prepared_statement(f"UPDATE {t} SET val = 'z' WHERE id = ?")
        s.set_parameters(st.handle, [[1], [3]])
        res = s.execute_prepared(st.handle)
        assert res.affected_rows == 2
        rows = s.query(f"SELECT val FROM {t} ORDER BY id").collect()
        assert [r.val for r in rows] == ["z", "b", "z"]

    def test_close(self, registry):
        s = registry.get_or_create("ps-8")
        st = s.create_prepared_statement("SELECT 1")
        s.close_prepared_statement(st.handle)
        with pytest.raises(InvalidArgument):
            s.get_prepared_statement(st.handle)


class TestNativeBinding:
    """Spark-native parameterized SQL with literal-rendering fallback."""

    def test_native_query_binding(self, registry):
        sess = registry.get_or_create(f"nb_{uuid.uuid4().hex[:6]}")
        t = _mktable(sess)
        sess.query(f"INSERT INTO {t} VALUES (1, 'a'), (2, 'b')")
        rows = sess.query(f"SELECT val FROM {t} WHERE id = ?", params=[2]).collect()
        assert [r.val for r in rows] == ["b"]

    def test_injection_string_binds_as_value(self, registry):
        sess = registry.get_or_create(f"nb_{uuid.uuid4().hex[:6]}")
        t = _mktable(sess)
        hostile = "x'; DROP TABLE important; --"
        sess.query(f"INSERT INTO {t} (id, val) VALUES (?, ?)", params=[1, hostile])
        rows = sess.query(f"SELECT val FROM {t} WHERE val = ?", params=[hostile]).collect()
        assert [r.val for r in rows] == [hostile]

    def test_fallback_for_cow_update(self, registry):
        # UPDATE routes through copy-on-write parsing → literal fallback
        sess = registry.get_or_create(f"nb_{uuid.uuid4().hex[:6]}")
        t = _mktable(sess)
        sess.query(f"INSERT INTO {t} VALUES (1, 'a'), (2, 'b')")
        assert sess.execute_update(f"UPDATE {t} SET val = ? WHERE id = ?", ["Z", 1]) == 1
        rows = sess.query(f"SELECT val FROM {t} WHERE id = 1").collect()
        assert rows[0].val == "Z"

    def test_integer_division_dialect(self, registry):
        sess = registry.get_or_create(f"nb_{uuid.uuid4().hex[:6]}")
        from swanlake_spark.engine import Engine

        eng = Engine(spark=sess.spark)
        r = eng.query("SELECT 7 // 2 AS d, '//' AS lit", dialect="duckdb").collect()[0]
        assert r.d == 3 and r.lit == "//"


class TestJanitor:
    def test_background_eviction(self, engine):
        reg = SessionRegistry(engine, max_sessions=10, idle_timeout_s=0.2)
        reg.get_or_create("idle-client")
        reg.start_janitor(interval_s=0.1)
        try:
            deadline = time.time() + 5
            while len(reg) > 0 and time.time() < deadline:
                time.sleep(0.1)
            assert len(reg) == 0  # evicted without a manual cleanup call
        finally:
            reg.stop_janitor()

    def test_start_idempotent_and_stop(self, engine):
        reg = SessionRegistry(engine, max_sessions=10, idle_timeout_s=3600)
        reg.start_janitor(interval_s=60)
        reg.start_janitor(interval_s=60)  # no second thread
        reg.stop_janitor()
        assert getattr(reg, "_janitor", None) is None


class TestParameterSchema:
    """A13 (parameter-column inference, parser.rs:103-133,323-404) and
    A30 (parameter schema inference, prepared.rs:123-242)."""

    def test_parameter_columns_forms(self):
        from swanlake_spark.plans.parser import parameter_columns

        assert parameter_columns("SELECT * FROM t WHERE ycsb_key = ?") == ["ycsb_key"]
        assert parameter_columns(
            "SELECT * FROM t WHERE ycsb_key > ? AND ycsb_key < ?"
        ) == ["ycsb_key", "ycsb_key"]
        assert parameter_columns("SELECT * FROM t WHERE a BETWEEN ? AND ?") == ["a", "a"]
        assert parameter_columns("SELECT * FROM t WHERE a IN (?, ?, ?)") == ["a", "a", "a"]
        assert parameter_columns("UPDATE t SET v = ?, w = ? WHERE id = ?") == [
            "v",
            "w",
            "id",
        ]
        assert parameter_columns("SELECT * FROM t WHERE ? = id") == ["id"]
        assert parameter_columns("SELECT * FROM t WHERE t.id = ?") == ["id"]
        # literal '?' must not count
        assert parameter_columns("SELECT * FROM t WHERE v = '?' AND id = ?") == ["id"]
        # unresolvable → None (all-or-nothing)
        assert parameter_columns("SELECT * FROM t WHERE f(?) = 1") is None

    def test_insert_schema_repeats_per_row(self, registry):
        from swanlake_spark.session import infer_parameter_schema

        sess = registry.get_or_create(f"ps_{uuid.uuid4().hex[:6]}")
        t = _mktable(sess, "id INT, val STRING")
        schema = infer_parameter_schema(sess.spark, f"INSERT INTO {t} VALUES (?, ?), (?, ?)")
        assert [f.name for f in schema.fields] == ["id", "val", "id", "val"]
        assert [f.dataType.simpleString() for f in schema.fields] == [
            "int",
            "string",
            "int",
            "string",
        ]

    def test_insert_schema_partial_columns(self, registry):
        from swanlake_spark.session import infer_parameter_schema

        sess = registry.get_or_create(f"ps_{uuid.uuid4().hex[:6]}")
        t = _mktable(sess, "id INT, val STRING, extra DOUBLE")
        schema = infer_parameter_schema(sess.spark, f"INSERT INTO {t} (val, id) VALUES (?, ?)")
        assert [(f.name, f.dataType.simpleString()) for f in schema.fields] == [
            ("val", "string"),
            ("id", "int"),
        ]

    def test_where_schema_from_table(self, registry):
        from swanlake_spark.session import infer_parameter_schema

        sess = registry.get_or_create(f"ps_{uuid.uuid4().hex[:6]}")
        t = _mktable(sess, "id INT, val STRING")
        schema = infer_parameter_schema(
            sess.spark, f"SELECT val FROM {t} WHERE id = ? AND val = ?"
        )
        assert [(f.name, f.dataType.simpleString()) for f in schema.fields] == [
            ("id", "int"),
            ("val", "string"),
        ]

    def test_fallback_all_strings(self, registry):
        from swanlake_spark.session import infer_parameter_schema

        sess = registry.get_or_create(f"ps_{uuid.uuid4().hex[:6]}")
        schema = infer_parameter_schema(sess.spark, "SELECT * FROM nowhere_tbl WHERE f(?) > ?")
        assert [f.name for f in schema.fields] == ["1", "2"]
        assert all(f.dataType.simpleString() == "string" for f in schema.fields)

    def test_prepared_statement_carries_schema(self, registry):
        sess = registry.get_or_create(f"ps_{uuid.uuid4().hex[:6]}")
        t = _mktable(sess, "id INT, val STRING")
        st = sess.create_prepared_statement(f"SELECT * FROM {t} WHERE id = ?")
        assert st.parameter_schema is not None
        assert [(f.name, f.dataType.simpleString()) for f in st.parameter_schema.fields] == [
            ("id", "int")
        ]


class TestTransactions:
    def test_commit_publishes(self, registry):
        s = registry.get_or_create("tx-1")
        t = _mktable(s)
        s.query(f"INSERT INTO {t} VALUES (1,'a'), (2,'b')")
        s.begin_transaction()
        s.query(f"UPDATE {t} SET val = 'updated' WHERE id = 1")
        s.query(f"DELETE FROM {t} WHERE id = 2")
        # staged state visible inside the txn
        rows = s.query(f"SELECT id, val FROM {t} ORDER BY id").collect()
        assert [(r.id, r.val) for r in rows] == [(1, "updated")]
        s.commit_transaction()
        rows = s.query(f"SELECT id, val FROM {t} ORDER BY id").collect()
        assert [(r.id, r.val) for r in rows] == [(1, "updated")]

    def test_check_constraint_enforced_in_transaction(self, registry):
        """Staged-transaction INSERTs ride check_insert_batch, so CHECK
        constraints gate in-transaction writes too."""
        from swanlake_spark.errors import InvalidArgument

        s = registry.get_or_create("tx-ck")
        t = _mktable(s, cols="id INT, qty INT CHECK (qty >= 0)")
        s.begin_transaction()
        s.query(f"INSERT INTO {t} VALUES (1, 5)")
        with pytest.raises(InvalidArgument, match="CHECK constraint"):
            s.query(f"INSERT INTO {t} VALUES (2, -1)")
        s.commit_transaction()
        assert s.query(f"SELECT count(*) AS c FROM {t}").collect()[0].c == 1

    def test_rollback_discards(self, registry):
        s = registry.get_or_create("tx-2")
        t = _mktable(s)
        s.query(f"INSERT INTO {t} VALUES (1,'a')")
        s.begin_transaction()
        s.query(f"DELETE FROM {t} WHERE id = 1")
        assert s.query(f"SELECT count(*) AS c FROM {t}").collect()[0].c == 0
        s.rollback_transaction()
        assert s.query(f"SELECT count(*) AS c FROM {t}").collect()[0].c == 1

    def test_merge_staged_and_rolled_back(self, registry):
        s = registry.get_or_create("tx-merge")
        t = _mktable(s, cols="id INT, v INT")
        src = _mktable(s, cols="id INT, v INT")
        s.query(f"INSERT INTO {t} VALUES (1, 10), (2, 20)")
        s.query(f"INSERT INTO {src} VALUES (2, 99), (3, 30)")
        s.begin_transaction()
        s.query(
            f"MERGE INTO {t} USING {src} ON {t}.id = {src}.id "
            f"WHEN MATCHED THEN UPDATE SET v = {src}.v "
            f"WHEN NOT MATCHED THEN INSERT (id, v) VALUES ({src}.id, {src}.v)"
        )
        rows = s.query(f"SELECT id, v FROM {t} ORDER BY id").collect()
        assert [(r.id, r.v) for r in rows] == [(1, 10), (2, 99), (3, 30)]
        s.rollback_transaction()
        rows = s.query(f"SELECT id, v FROM {t} ORDER BY id").collect()
        assert [(r.id, r.v) for r in rows] == [(1, 10), (2, 20)]

    def test_txn_subquery_sees_prior_staged_write(self, registry):
        # A subquery predicate inside a transaction must read the
        # transaction's own staged state (the shadow temp view), not the
        # committed table image.
        s = registry.get_or_create("tx-subq")
        t = _mktable(s, cols="id INT, v INT")
        s.query(f"INSERT INTO {t} VALUES (1, 1), (2, 2)")
        s.begin_transaction()
        s.query(f"UPDATE {t} SET v = 100 WHERE id = 1")
        # subquery over t: max(v) must see the staged 100
        s.query(f"UPDATE {t} SET v = (SELECT max(v) FROM {t}) WHERE id = 2")
        rows = s.query(f"SELECT id, v FROM {t} ORDER BY id").collect()
        assert [(r.id, r.v) for r in rows] == [(1, 100), (2, 100)]
        s.commit_transaction()
        rows = s.query(f"SELECT id, v FROM {t} ORDER BY id").collect()
        assert [(r.id, r.v) for r in rows] == [(1, 100), (2, 100)]

    def test_double_begin_fails(self, registry):
        s = registry.get_or_create("tx-3")
        s.begin_transaction()
        with pytest.raises(FailedPrecondition):
            s.begin_transaction()
        s.rollback_transaction()

    def test_commit_outside_txn_tolerated(self, registry):
        # reference tolerates autocommit no-ops (transaction.rs)
        s = registry.get_or_create("tx-4")
        s.commit_transaction()
        s.rollback_transaction()


class TestTransactionSnapshots:
    def test_commit_records_snapshot_and_is_time_travelable(self, registry):
        """COMMIT publishes under the table write lock and records a
        manifest like every other write path — a transaction's result
        must be visible to AT (VERSION =>) / read_current, and the
        pre-commit state must stay readable."""
        from swanlake_spark import versions

        s = registry.get_or_create("tx-snap")
        t = _mktable(s)
        s.query(f"INSERT INTO {t} VALUES (1,'a'), (2,'b')")
        spark = s.spark
        v_before = versions.current_version(spark, t)
        assert v_before >= 1
        s.begin_transaction()
        s.query(f"UPDATE {t} SET val = 'committed' WHERE id = 1")
        s.commit_transaction()
        v_after = versions.current_version(spark, t)
        assert v_after > v_before
        ops = [r.op for r in versions.snapshots(spark, t).collect()]
        assert ops[-1] == "txn_commit"
        old = versions.read_version(spark, t, v_before).collect()
        assert {(r.id, r.val) for r in old} == {(1, "a"), (2, "b")}
        cur = versions.read_current(spark, t).collect()
        assert {(r.id, r.val) for r in cur} == {(1, "committed"), (2, "b")}


class TestClientDialect:
    """EngineConfig.client_dialect='duckdb' makes every session (the
    Flight SQL / wire surface) transpile DuckDB spellings — the
    reference's ADBC clients speak DuckDB SQL (r8)."""

    def test_session_transpiles_duckdb_spellings(self, spark, engine):
        from swanlake_spark.config import EngineConfig
        from swanlake_spark.engine import Engine

        eng = Engine(spark=spark, config=EngineConfig(
            client_dialect="duckdb", cpus=4,
        ))
        sess = eng.sessions.get_or_create("dialect-client")
        try:
            # FROM-first + a DuckDB-only function through the session
            rows = sess.query(
                "FROM (SELECT * FROM VALUES (1,'b'),(2,'a') v(n, s)) "
                "SELECT string_agg(s, '-' ORDER BY n) AS agg"
            ).collect()
            assert rows[0].agg == "b-a"
            # prepared statement with a DuckDB spelling + ? parameter
            st = sess.create_prepared_statement(
                "FROM (SELECT * FROM VALUES (1),(2),(3) v(x)) "
                "SELECT list_sum(array(x, NULL)) AS s WHERE x > ?"
            )
            sess.set_parameters(st.handle, [[1]])
            got = sorted(
                r.s for r in sess.execute_prepared(st.handle).collect()
            )
            assert got == [2, 3]
            # PIVOT post-pass applies on the session path too (review
            # r8): empty count cells zero-fill, aliased-agg renames
            res = sess.query(
                "SELECT * FROM (SELECT * FROM VALUES ('a','x',1) "
                "v(k, p, n)) PIVOT (count(*) AS c "
                "FOR p IN ('x' AS cx, 'y' AS cy))"
            )
            assert res.df.columns == ["k", "n", "cx_c", "cy_c"]
            r = res.collect()[0]
            assert r.cx_c == 1 and r.cy_c == 0
            # a rewrite that would duplicate a ? marker refuses and
            # fails loud instead of corrupting positional binding
            import pytest

            from swanlake_spark.errors import EngineError

            st2 = sess.create_prepared_statement(
                "SELECT array_slice(array(1, 2, 3), ?, ?) AS s"
            )
            assert st2.parameter_count == 2  # markers NOT duplicated
            sess.set_parameters(st2.handle, [[1, 2]])
            with pytest.raises(EngineError):
                sess.execute_prepared(st2.handle).collect()
        finally:
            eng.sessions.remove("dialect-client")

    def test_default_sessions_stay_spark_native(self, engine):
        # default sessions stay Spark-native: 3-arg regexp_replace
        # keeps Spark's replace-ALL (no silent dialect flip)
        plain = engine.sessions.get_or_create("plain-client")
        try:
            r = plain.query(
                "SELECT regexp_replace('banana', 'an', 'X') AS r"
            ).collect()[0]
            assert r.r == "bXXa"
        finally:
            engine.sessions.remove("plain-client")

    def test_prepared_backslash_regex_single_transpile(self, spark):
        """A '\\d' regex through create_prepared + execute_prepared:
        the escape pass must run exactly once (a prepared statement
        stores its built Statement) — a double transpile would turn
        '\\\\d' into '\\\\\\\\d' and silently match nothing; no transpile at
        all silently matched the letter 'd' (the pre-r9 bug). The same
        holds for a prepared UPDATE sent through Flight SQL DoPut."""
        from swanlake_spark.config import EngineConfig
        from swanlake_spark.engine import Engine
        from swanlake_spark.flightsql import FlightSqlClient, start_flight_server

        eng = Engine(spark=spark, config=EngineConfig(
            client_dialect="duckdb", cpus=4,
        ))
        sess = eng.sessions.get_or_create("bslash-client")
        try:
            # direct query path
            r = sess.query(
                r"SELECT regexp_extract('abc123', '\d+', 0) AS m"
            ).collect()[0]
            assert r.m == "123"  # DuckDB's answer
            # prepared path (transpile at create, NOT at execute)
            st = sess.create_prepared_statement(
                r"SELECT regexp_extract('a7b42', '\d+', 0) AS m"
            )
            r = sess.execute_prepared(st.handle).collect()[0]
            assert r.m == "7"
            # bound string parameters keep their backslashes verbatim
            st2 = sess.create_prepared_statement(
                "SELECT ? AS p"
            )
            sess.set_parameters(st2.handle, [["C:\\tmp\\new"]])
            r = sess.execute_prepared(st2.handle).collect()[0]
            assert r.p == "C:\\tmp\\new"
        finally:
            eng.sessions.remove("bslash-client")
        # Flight SQL: unprepared and prepared UPDATE store the same
        # 3-character DuckDB literal 'a\b'
        server, port = start_flight_server(eng)
        t = f"bs_{uuid.uuid4().hex[:8]}"
        try:
            c = FlightSqlClient(f"grpc://127.0.0.1:{port}")
            loc = tempfile.mkdtemp(prefix="swl_bs_")
            c.execute(
                f"CREATE TABLE {t} (id INT, s STRING) USING parquet "
                f"LOCATION '{loc}'"
            )
            c.execute(f"INSERT INTO {t} VALUES (1, 'x'), (2, 'y')")
            assert c.execute_update(
                rf"UPDATE {t} SET s = 'a\b' WHERE id = 1"
            ) == 1
            st3 = c.prepare(rf"UPDATE {t} SET s = 'a\b' WHERE id = ?")
            assert st3.execute_update([[2]]) == 1
            got = c.execute(f"SELECT s FROM {t} ORDER BY id").column("s")
            assert got.to_pylist() == ["a\\b", "a\\b"]
        finally:
            server.shutdown()
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def _server_engine(spark, **cfg):
    """A server Engine on a fork of the test session, so its confs stay
    off the shared one."""
    from swanlake_spark.config import EngineConfig
    from swanlake_spark.engine import Engine

    return Engine(spark=spark.newSession(), config=EngineConfig(cpus=4, **cfg))


class TestSessionEngine:
    """Each session builds one Engine on its Spark fork, from the
    server's EngineConfig, and every request reuses it."""

    def test_server_conf_survives_requests(self, spark):
        eng = _server_engine(
            spark, shuffle_partitions=7, broadcast_threshold_bytes=12345
        )
        sess = eng.sessions.get_or_create("conf-client")
        try:
            sess.query("SELECT 1 AS one").collect()
            st = sess.create_prepared_statement("SELECT ? AS p")
            sess.set_parameters(st.handle, [[2]])
            assert sess.execute_prepared(st.handle).collect()[0].p == 2
            assert sess.spark.conf.get("spark.sql.shuffle.partitions") == "7"
            assert (
                sess.spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
                == "12345"
            )
        finally:
            eng.sessions.remove("conf-client")

    def test_requests_build_no_engine(self, spark, monkeypatch):
        from swanlake_spark import engine as engine_mod

        eng = _server_engine(spark, client_dialect="duckdb")
        sess = eng.sessions.get_or_create("no-engine-client")
        built = []
        init = engine_mod.Engine.__init__

        def counting_init(self, *args, **kwargs):
            built.append(1)
            init(self, *args, **kwargs)

        monkeypatch.setattr(engine_mod.Engine, "__init__", counting_init)
        try:
            assert sess.query("SELECT 1 AS one").collect()[0].one == 1
            st = sess.create_prepared_statement("SELECT list_sum([1, 2]) AS s")
            assert sess.execute_prepared(st.handle).collect()[0].s == 3
            assert sess.session_engine.metrics is eng.metrics
            assert built == []
        finally:
            eng.sessions.remove("no-engine-client")


class TestCodegenCache:
    def test_tpch_second_pass_reuses_generated_code(self, spark, sf_dir):
        """The 22 prepared TPC-H statements need about 310 generated
        classes; with Spark's default codegen cache (100 entries) every
        pass evicts and recompiles them. Compares compile deltas only:
        other tests share the JVM."""
        from swanlake_spark.metrics import jvm_counters
        from swanlake_spark.queries.tpch import TPCH_QUERIES

        eng = _server_engine(spark, client_dialect="duckdb")
        eng.attach_warehouse(sf_dir)
        sess = eng.sessions.get_or_create("codegen-client")
        try:
            handles = [
                sess.create_prepared_statement(q.oracle).handle
                for q in TPCH_QUERIES.values()
            ]
            assert len(handles) == 22

            def compiles_per_pass() -> int:
                before = jvm_counters(spark)["janino_compiles"]
                for h in handles:
                    sess.execute_prepared(h).to_arrow()
                return jvm_counters(spark)["janino_compiles"] - before

            first = compiles_per_pass()
            second = compiles_per_pass()
            assert second * 10 <= first, (first, second)
        finally:
            eng.sessions.remove("codegen-client")
