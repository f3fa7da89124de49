"""Bulk ingest tests: batch alignment (A7), positional reshape (A8),
Arrow appender (A6). Models the reference's appender scenarios
(``tests/runner/src/scenarios/appender_insert.rs:9-160``) and batch
alignment unit tests (``engine/batch.rs:261-431``)."""

import tempfile
import uuid

import pyarrow as pa
import pytest

from swanlake_spark.errors import InvalidArgument
from swanlake_spark.operators.ingest import (
    align_to_schema,
    insert_arrow,
    reshape_positional_batch,
)


def _mktable(engine, cols="id INT, name STRING, age INT"):
    name = f"i_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix="swl_test_")
    engine.execute(f"CREATE TABLE {name} ({cols}) USING parquet LOCATION '{loc}'")
    return name


class TestAlign:
    def test_reorder_by_name(self, engine, spark):
        t = _mktable(engine)
        df = spark.createDataFrame([("bob", 1)], ["name", "id"])
        aligned = align_to_schema(df, spark.table(t).schema)
        assert aligned.columns == ["id", "name", "age"]
        row = aligned.collect()[0]
        assert (row.id, row.name, row.age) == (1, "bob", None)

    def test_cast_mismatched_types(self, engine, spark):
        t = _mktable(engine)
        df = spark.createDataFrame([("1", "x", "30")], ["id", "name", "age"])
        row = align_to_schema(df, spark.table(t).schema).collect()[0]
        assert (row.id, row.age) == (1, 30)

    def test_extra_columns_ignored(self, engine, spark):
        t = _mktable(engine)
        df = spark.createDataFrame([(1, "a", 5, "junk")], ["id", "name", "age", "extra"])
        aligned = align_to_schema(df, spark.table(t).schema)
        assert aligned.columns == ["id", "name", "age"]

    def test_case_insensitive_match(self, engine, spark):
        t = _mktable(engine)
        df = spark.createDataFrame([(1, "a")], ["ID", "NAME"])
        row = align_to_schema(df, spark.table(t).schema).collect()[0]
        assert (row.id, row.name) == (1, "a")

    def test_insert_column_list_positional(self, engine, spark):
        # batch columns f0,f1 mapped positionally onto (id, name)
        t = _mktable(engine)
        df = spark.createDataFrame([(10, "x")], ["f0", "f1"])
        row = align_to_schema(df, spark.table(t).schema, ["id", "name"]).collect()[0]
        assert (row.id, row.name, row.age) == (10, "x", None)

    def test_arity_mismatch_rejected(self, engine, spark):
        t = _mktable(engine)
        df = spark.createDataFrame([(1, "a", 2)], ["a", "b", "c"])
        with pytest.raises(InvalidArgument):
            align_to_schema(df, spark.table(t).schema, ["id", "name"])


class TestReshape:
    def test_positional_transposed(self):
        # 4 values across 4 columns, 1 row each = 2-column INSERT × 2 rows
        tbl = pa.table({"1": [1], "2": ["a"], "3": [2], "4": ["b"]})
        out = reshape_positional_batch(tbl, columns_per_row=2)
        assert out.num_rows == 2
        assert out.column("1").to_pylist() == [1, 2]
        assert out.column("2").to_pylist() == ["a", "b"]

    def test_named_untouched(self):
        tbl = pa.table({"id": [1, 2], "name": ["a", "b"]})
        assert reshape_positional_batch(tbl, 2) is tbl

    def test_arity_mismatch_untouched(self):
        tbl = pa.table({"1": [1], "2": ["a"], "3": [2]})
        assert reshape_positional_batch(tbl, 2) is tbl


class TestAppender:
    def test_insert_arrow_roundtrip(self, engine, spark):
        t = _mktable(engine)
        batch = pa.table({"id": [1, 2, 3], "name": ["a", "b", "c"], "age": [10, None, 30]})
        n = insert_arrow(spark, t, batch)
        assert n == 3
        rows = engine.query(f"SELECT id, name, age FROM {t} ORDER BY id").collect()
        assert [(r.id, r.name, r.age) for r in rows] == [
            (1, "a", 10),
            (2, "b", None),
            (3, "c", 30),
        ]

    def test_insert_arrow_partial_columns(self, engine, spark):
        t = _mktable(engine)
        batch = pa.table({"id": [1], "name": ["only"]})
        insert_arrow(spark, t, batch, insert_columns=["id", "name"])
        row = engine.query(f"SELECT * FROM {t}").collect()[0]
        assert (row.id, row.name, row.age) == (1, "only", None)

    def test_insert_arrow_record_batches(self, engine, spark):
        t = _mktable(engine)
        b1 = pa.record_batch({"id": [1], "name": ["a"], "age": [1]})
        b2 = pa.record_batch({"id": [2], "name": ["b"], "age": [2]})
        n = insert_arrow(spark, t, [b1, b2])
        assert n == 2
        assert engine.query(f"SELECT count(*) AS c FROM {t}").collect()[0].c == 2

    def test_hostile_column_names(self, engine, spark):
        # Spark's catalog restricts TABLE names to [A-Za-z0-9_] (documented
        # divergence from DuckDB's quoted table names), but hostile COLUMN
        # names work via backtick quoting (reference
        # sql_injection_identifiers.test exercises both).
        name = f"h_{uuid.uuid4().hex[:8]}"
        loc = tempfile.mkdtemp(prefix="swl_test_")
        engine.execute(
            f"CREATE TABLE {name} (`col;drop` INT, `col -- comment` STRING) "
            f"USING parquet LOCATION '{loc}'"
        )
        engine.execute(f"INSERT INTO {name} VALUES (1, 'x')")
        row = engine.query(
            f"SELECT `col;drop` AS a, `col -- comment` AS b FROM {name}"
        ).collect()[0]
        assert (row.a, row.b) == (1, "x")


class TestParameterTypesScenario:
    """Mirror of the reference integration scenario parameter_types.rs:
    one Arrow batch carrying dates (both widths), all four time units,
    intervals, and all four timestamp units, appended via the appender
    and verified by count + per-column non-null probes."""

    def test_full_parameter_type_batch(self, engine):
        import tempfile
        import uuid

        import pyarrow as pa

        from swanlake_spark.client import Client

        t = f"ptypes_{uuid.uuid4().hex[:8]}"
        loc = tempfile.mkdtemp(prefix="swl_pt_")
        engine.execute(
            f"""CREATE TABLE {t} (
                id INT,
                date32_col DATE, date64_col DATE,
                time32_sec_col BIGINT, time32_ms_col BIGINT,
                time64_us_col BIGINT, time64_ns_col BIGINT,
                interval_dt_col INTERVAL DAY TO SECOND,
                timestamp_sec_col TIMESTAMP_NTZ, timestamp_ms_col TIMESTAMP_NTZ,
                timestamp_us_col TIMESTAMP_NTZ, timestamp_ns_col TIMESTAMP_NTZ
            ) USING parquet LOCATION '{loc}'"""
        )
        day = 19000
        hour_us = 3_600_000_000
        ts = 1_700_000_000
        batch = pa.table(
            {
                "id": pa.array([1], pa.int32()),
                "date32_col": pa.array([day], pa.date32()),
                "date64_col": pa.array([day * 86_400_000], pa.date64()),
                "time32_sec_col": pa.array([3600], pa.time32("s")),
                "time32_ms_col": pa.array([3_600_000], pa.time32("ms")),
                "time64_us_col": pa.array([hour_us], pa.time64("us")),
                "time64_ns_col": pa.array([hour_us * 1000], pa.time64("ns")),
                "interval_dt_col": pa.array([90_061_000_000], pa.duration("us")),
                "timestamp_sec_col": pa.array([ts], pa.timestamp("s")),
                "timestamp_ms_col": pa.array([ts * 1000], pa.timestamp("ms")),
                "timestamp_us_col": pa.array([ts * 1_000_000], pa.timestamp("us")),
                "timestamp_ns_col": pa.array([ts * 1_000_000_000], pa.timestamp("ns")),
            }
        )
        c = Client.connect(engine)
        res = c.update_with_record_batch(f"INSERT INTO {t} VALUES ({','.join('?'*12)})", batch)
        assert res.rows_affected == 1
        row = engine.query(f"SELECT * FROM {t}").collect()[0]
        # every column non-null (scenario's per-column probe)
        for fname in row.asDict():
            assert row[fname] is not None, f"{fname} was NULL"
        # value spot checks: all four time encodings land on the same
        # micros-since-midnight; dates agree across widths
        assert row.time32_sec_col == row.time32_ms_col == row.time64_us_col == row.time64_ns_col == 3_600_000_000
        assert row.date32_col == row.date64_col
        assert (
            row.timestamp_sec_col == row.timestamp_ms_col
            == row.timestamp_us_col == row.timestamp_ns_col
        )

    def test_month_day_nano_with_months_rejected(self, engine):
        import tempfile
        import uuid

        import pyarrow as pa
        import pytest

        from swanlake_spark.errors import InvalidArgument
        from swanlake_spark.operators.ingest import normalize_arrow_for_spark

        tbl = pa.table({"iv": pa.array([(1, 2, 3)], pa.month_day_nano_interval())})
        with pytest.raises(InvalidArgument, match="month"):
            normalize_arrow_for_spark(tbl)

    def test_month_day_nano_without_months(self, engine):
        import pyarrow as pa

        from swanlake_spark.operators.ingest import normalize_arrow_for_spark

        tbl = pa.table({"iv": pa.array([(0, 1, 5000)], pa.month_day_nano_interval())})
        out = normalize_arrow_for_spark(tbl)
        assert out.column("iv").type == pa.duration("us")
        assert out.column("iv")[0].as_py().total_seconds() == 86400.000005


class TestAppenderChecks:
    def test_insert_arrow_enforces_check_constraints(self, engine, spark):
        """The appender rides the same constraint choke point as INSERT
        SQL (constraints.check_insert_batch): a CHECK violation rejects
        the Arrow batch; balanced-paren expressions parse correctly."""
        import uuid

        import pytest as _pytest

        from swanlake_spark.errors import InvalidArgument

        name = f"swl_ck_{uuid.uuid4().hex[:8]}"
        engine.execute(
            f"CREATE TABLE {name} (id INT, qty INT, "
            f"CHECK (qty IN (0, 1, 2, 3))) "
            f"USING parquet LOCATION '{engine.spark.conf.get('spark.sql.warehouse.dir')}/{name}'"
        )
        try:
            assert insert_arrow(spark, name, pa.table({"id": [1], "qty": [2]})) == 1
            with _pytest.raises(InvalidArgument, match="CHECK constraint"):
                insert_arrow(spark, name, pa.table({"id": [2], "qty": [9]}))
            assert (
                engine.query(f"SELECT count(*) AS c FROM {name}").collect()[0].c
                == 1
            )
        finally:
            engine.execute(f"DROP TABLE IF EXISTS {name}")



def _loc(spark, table: str) -> str:
    from swanlake_spark.operators.dml import _local_os_path, _table_meta

    return _local_os_path(_table_meta(spark, table)[0])


def _data_files(loc: str) -> set[str]:
    import os

    return {n for n in os.listdir(loc) if not n.startswith(("_", "."))}


class TestDriverAppender:
    """The driver-side appender writes the files Spark's insertInto
    would (the same count and row split) without a Spark job, keeps the
    primary-key checks, and leaves every batch it does not compute
    exactly to insertInto."""

    @staticmethod
    def _insert_into_calls(monkeypatch) -> list[str]:
        from pyspark.sql import DataFrameWriter

        calls: list[str] = []
        orig = DataFrameWriter.insertInto

        def recording(self, table, *args, **kwargs):
            calls.append(table)
            return orig(self, table, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "insertInto", recording)
        return calls

    @pytest.mark.parametrize("n", [1, 3, 2_000, 25_000])
    def test_file_split_matches_spark(self, engine, spark, monkeypatch, n):
        import pyarrow.parquet as pq

        from swanlake_spark.operators import ingest

        calls = self._insert_into_calls(monkeypatch)
        batch = pa.table(
            {"id": pa.array(range(n), pa.int64()), "name": ["x"] * n, "age": [1] * n}
        )
        splits = []
        for driver in (True, False):
            t = _mktable(engine, "id INT PRIMARY KEY, name STRING, age INT")
            loc = _loc(spark, t)
            with monkeypatch.context() as m:
                if not driver:
                    m.setattr(ingest, "_driver_aligned", lambda *a: None)
                assert insert_arrow(spark, t, batch) == n
            # (rows, first key) of each new file
            splits.append(sorted(
                (pq.read_metadata(f"{loc}/{f}").num_rows,
                 pq.read_table(f"{loc}/{f}").column("id")[0].as_py())
                for f in _data_files(loc)
            ))
            got = engine.query(f"SELECT id FROM {t} ORDER BY id").collect()
            assert [r.id for r in got] == list(range(n))
        assert calls == [t]  # the forced Spark append only
        assert splits[0] == splits[1]

    def test_primary_key_still_enforced(self, engine, spark, monkeypatch):
        calls = self._insert_into_calls(monkeypatch)
        t = _mktable(engine, "id INT PRIMARY KEY, name STRING, age INT")
        insert_arrow(spark, t, pa.table({"id": [0, 2, 4, 6], "name": ["a"] * 4}))
        insert_arrow(spark, t, pa.table({"id": [100, 102], "name": ["b"] * 2}))
        with pytest.raises(InvalidArgument, match="duplicate key in INSERT batch"):
            insert_arrow(spark, t, pa.table({"id": [7, 8, 7], "name": ["c"] * 3}))
        # inside a file's key range: the footers cannot clear it
        with pytest.raises(InvalidArgument, match="PRIMARY KEY"):
            insert_arrow(spark, t, pa.table({"id": [4], "name": ["dup"]}))
        insert_arrow(spark, t, pa.table({"id": [3], "name": ["new"]}))
        assert engine.query(f"SELECT count(*) AS c FROM {t}").collect()[0].c == 7
        assert calls == []

    @pytest.mark.parametrize(
        "cols, partitioned, batch",
        [
            ("id INT, name STRING, age INT", True,
             pa.table({"id": [1], "name": ["a"], "age": [3]})),
            ("id INT, name VARCHAR(5), age INT", False,
             pa.table({"id": [1], "name": ["a"]})),
            ("id INT, name STRING, age INT", False,
             pa.table({"id": ["1"], "name": ["a"]})),
        ],
        ids=["partitioned", "varchar_n", "string_into_int"],
    )
    def test_fallbacks_reach_insert_into(
        self, engine, spark, monkeypatch, cols, partitioned, batch
    ):
        calls = self._insert_into_calls(monkeypatch)
        t = f"i_{uuid.uuid4().hex[:8]}"
        loc = tempfile.mkdtemp(prefix="swl_test_")
        part = "PARTITIONED BY (age) " if partitioned else ""
        engine.execute(
            f"CREATE TABLE {t} ({cols}) USING parquet {part}LOCATION '{loc}'"
        )
        assert insert_arrow(spark, t, batch) == 1
        assert calls == [t]
        row = engine.query(f"SELECT id, name FROM {t}").collect()[0]
        assert (row.id, row.name) == (1, "a")

    def test_not_null_field_takes_spark(self):
        """Spark's Parquet catalog records every column as nullable, so
        no DDL reaches this case: a NOT NULL field, should a schema
        carry one, leaves the batch to insertInto."""
        from pyspark.sql import types as T

        from swanlake_spark.operators.ingest import _driver_aligned, source_columns

        batch = pa.table({"id": [1]})
        for nullable in (True, False):
            target = T.StructType([T.StructField("id", T.IntegerType(), nullable)])
            sources = source_columns(batch.column_names, target)
            assert (_driver_aligned(batch, target, sources) is not None) is nullable
