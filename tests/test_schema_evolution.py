"""ALTER TABLE DROP COLUMN / RENAME COLUMN (schema_evolution.py):
COW schema rewrite with constraint-dependency guards, snapshot
continuity, and durable constraint carry-over."""

import tempfile

import pytest

from swanlake_spark import constraints, versions
from swanlake_spark.errors import InvalidArgument


@pytest.fixture()
def eng(spark):
    from swanlake_spark.engine import Engine

    return Engine(spark=spark)


def _loc():
    return tempfile.mkdtemp(prefix="swl_sev_")


class TestDropColumn:
    def test_drop_column_rewrites_and_keeps_history(self, spark, eng):
        eng.execute(
            f"CREATE TABLE se_t (id INT, junk STRING, v INT) "
            f"USING parquet LOCATION '{_loc()}'"
        )
        try:
            eng.execute("INSERT INTO se_t VALUES (1, 'x', 10), (2, 'y', 20)")
            v_before = versions.current_version(spark, "se_t")
            eng.execute("ALTER TABLE se_t DROP COLUMN junk")
            assert [f.name for f in spark.table("se_t").schema.fields] == [
                "id", "v",
            ]
            assert {
                (r.id, r.v) for r in spark.table("se_t").collect()
            } == {(1, 10), (2, 20)}
            # pre-ALTER snapshot still reads WITH the dropped column
            old = versions.read_version(spark, "se_t", v_before)
            assert "junk" in old.columns
            assert {(r.id, r.junk) for r in old.collect()} == {
                (1, "x"), (2, "y"),
            }
            ops = [r.op for r in versions.snapshots(spark, "se_t").collect()]
            assert ops[-1] == "alter_drop_column"
            # table still writable after the rewrite
            eng.execute("INSERT INTO se_t VALUES (3, 30)")
            assert spark.table("se_t").count() == 3
        finally:
            eng.execute("DROP TABLE IF EXISTS se_t")

    def test_drop_guards(self, spark, eng):
        eng.execute(
            f"CREATE TABLE se_par (pid INT PRIMARY KEY, label STRING) "
            f"USING parquet LOCATION '{_loc()}'"
        )
        eng.execute(
            f"CREATE TABLE se_g (id INT PRIMARY KEY, "
            f"qty INT CHECK (qty > 0), pid INT REFERENCES se_par(pid)) "
            f"USING parquet LOCATION '{_loc()}'"
        )
        try:
            with pytest.raises(InvalidArgument, match="PRIMARY KEY"):
                eng.execute("ALTER TABLE se_g DROP COLUMN id")
            with pytest.raises(InvalidArgument, match="CHECK"):
                eng.execute("ALTER TABLE se_g DROP COLUMN qty")
            with pytest.raises(InvalidArgument, match="FOREIGN KEY"):
                eng.execute("ALTER TABLE se_g DROP COLUMN pid")
            with pytest.raises(
                InvalidArgument, match="PRIMARY KEY|referenced by"
            ):
                eng.execute("ALTER TABLE se_par DROP COLUMN pid")
            # a non-key parent column referenced by nothing still drops
            eng.execute("ALTER TABLE se_par DROP COLUMN label")
        finally:
            eng.execute("DROP TABLE IF EXISTS se_g")
            eng.execute("DROP TABLE IF EXISTS se_par")

    def test_drop_partitioned_non_partition_column(self, spark, eng):
        loc = _loc()
        spark.sql(
            f"CREATE TABLE se_p (id INT, junk STRING, day STRING) "
            f"USING parquet PARTITIONED BY (day) LOCATION '{loc}'"
        )
        try:
            eng.execute(
                "INSERT INTO se_p VALUES (1, 'x', 'd1'), (2, 'y', 'd2')"
            )
            with pytest.raises(InvalidArgument, match="partition column"):
                eng.execute("ALTER TABLE se_p DROP COLUMN day")
            eng.execute("ALTER TABLE se_p DROP COLUMN junk")
            assert {
                (r.id, r.day) for r in spark.table("se_p").collect()
            } == {(1, "d1"), (2, "d2")}
            # partition pruning still works on the rewritten layout
            plan = (
                spark.table("se_p").filter("day = 'd1'")
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert "PartitionFilters" in plan
        finally:
            eng.execute("DROP TABLE IF EXISTS se_p")


class TestRenameColumn:
    def test_rename_carries_data_and_pk(self, spark, eng):
        eng.execute(
            f"CREATE TABLE se_r (id INT PRIMARY KEY, v INT) "
            f"USING parquet LOCATION '{_loc()}'"
        )
        try:
            eng.execute("INSERT INTO se_r VALUES (1, 10)")
            eng.execute("ALTER TABLE se_r RENAME COLUMN id TO rid")
            assert [f.name for f in spark.table("se_r").schema.fields] == [
                "rid", "v",
            ]
            assert constraints.pk_columns("se_r") == ["rid"]
            # the PK still enforces under the new name — and survives a
            # restart (sidecar re-persisted with the renamed columns)
            constraints.reset_memory()
            from swanlake_spark.engine import Engine

            eng2 = Engine(spark=spark)
            with pytest.raises(InvalidArgument, match="PRIMARY KEY"):
                eng2.execute("INSERT INTO se_r VALUES (1, 99)")
            eng2.execute("INSERT INTO se_r VALUES (2, 20)")
            assert spark.table("se_r").count() == 2
        finally:
            eng.execute("DROP TABLE IF EXISTS se_r")

    def test_rename_rejected_when_check_references(self, spark, eng):
        eng.execute(
            f"CREATE TABLE se_rc (id INT, qty INT CHECK (qty > 0)) "
            f"USING parquet LOCATION '{_loc()}'"
        )
        try:
            with pytest.raises(InvalidArgument, match="CHECK"):
                eng.execute("ALTER TABLE se_rc RENAME COLUMN qty TO amount")
            # dropping the constraint unblocks the rename
            eng.execute("ALTER TABLE se_rc DROP CONSTRAINT check_qty")
            eng.execute("ALTER TABLE se_rc RENAME COLUMN qty TO amount")
            assert "amount" in spark.table("se_rc").columns
        finally:
            eng.execute("DROP TABLE IF EXISTS se_rc")


class TestAlterColumnType:
    def test_widen_int_to_bigint(self, spark, eng):
        eng.execute(
            f"CREATE TABLE se_w (id INT, v INT) "
            f"USING parquet LOCATION '{_loc()}'"
        )
        try:
            eng.execute("INSERT INTO se_w VALUES (1, 100)")
            eng.execute("ALTER TABLE se_w ALTER COLUMN v TYPE BIGINT")
            f = {x.name: x.dataType.simpleString()
                 for x in spark.table("se_w").schema.fields}
            assert f["v"] == "bigint"
            assert spark.table("se_w").collect()[0].v == 100
            ops = [r.op for r in versions.snapshots(spark, "se_w").collect()]
            assert ops[-1] == "alter_column_type"
            # still writable with the new type
            eng.execute("INSERT INTO se_w VALUES (2, 9223372036854775806)")
            assert spark.table("se_w").count() == 2
        finally:
            eng.execute("DROP TABLE IF EXISTS se_w")

    def test_string_to_int_on_numeric_strings(self, spark, eng):
        eng.execute(
            f"CREATE TABLE se_s (id INT, n STRING) "
            f"USING parquet LOCATION '{_loc()}'"
        )
        try:
            eng.execute("INSERT INTO se_s VALUES (1, '42')")
            eng.execute("ALTER TABLE se_s ALTER COLUMN n TYPE INT")
            assert spark.table("se_s").collect()[0].n == 42
        finally:
            eng.execute("DROP TABLE IF EXISTS se_s")


class TestRetypeGuards:
    """DuckDB refuses ALTER COLUMN TYPE on constraint-dependent columns;
    a silently retyped PK/FK column would change FK-probe join
    semantics (r4 advisor finding)."""

    def test_retype_pk_column_blocked(self, spark, eng):
        eng.execute(
            f"CREATE TABLE se_rt (id INT PRIMARY KEY, v INT) "
            f"USING parquet LOCATION '{_loc()}'"
        )
        try:
            with pytest.raises(InvalidArgument, match="PRIMARY KEY"):
                eng.execute("ALTER TABLE se_rt ALTER COLUMN id TYPE BIGINT")
            # non-key column retype still fine
            eng.execute("ALTER TABLE se_rt ALTER COLUMN v TYPE BIGINT")
        finally:
            eng.execute("DROP TABLE IF EXISTS se_rt")

    def test_retype_fk_columns_blocked_both_ends(self, spark, eng):
        eng.execute(
            f"CREATE TABLE se_rtp (pid INT PRIMARY KEY) "
            f"USING parquet LOCATION '{_loc()}'"
        )
        eng.execute(
            f"CREATE TABLE se_rtc (cid INT, pid INT REFERENCES se_rtp(pid)) "
            f"USING parquet LOCATION '{_loc()}'"
        )
        try:
            with pytest.raises(InvalidArgument, match="FOREIGN KEY"):
                eng.execute("ALTER TABLE se_rtc ALTER COLUMN pid TYPE BIGINT")
            with pytest.raises(InvalidArgument, match="PRIMARY KEY|FOREIGN KEY"):
                eng.execute("ALTER TABLE se_rtp ALTER COLUMN pid TYPE BIGINT")
        finally:
            eng.execute("DROP TABLE IF EXISTS se_rtc")
            eng.execute("DROP TABLE IF EXISTS se_rtp")


class TestConcurrentReaderDuringAlter:
    def test_reader_never_sees_missing_table(self, spark, eng):
        """Readers racing an ALTER must observe the old or new schema —
        never table-not-found: the catalog schema changes in place and
        every statement reads the newest manifest."""
        import threading

        eng.execute(
            f"CREATE TABLE se_cc (id INT, junk STRING, v INT) "
            f"USING parquet LOCATION '{_loc()}'"
        )
        try:
            eng.execute(
                "INSERT INTO se_cc SELECT id, 'x', id FROM RANGE(2000) t(id)"
            )
            errors: list[str] = []
            counts: list[int] = []
            stop = threading.Event()

            def reader():
                while not stop.is_set():
                    try:
                        n = eng.query(
                            "SELECT count(*) AS n FROM se_cc"
                        ).collect()[0].n
                        counts.append(n)
                    except Exception as e:  # any error = the bug
                        errors.append(str(e))
                        return

            threads = [threading.Thread(target=reader) for _ in range(4)]
            for t in threads:
                t.start()
            try:
                eng.execute("ALTER TABLE se_cc DROP COLUMN junk")
                eng.execute("ALTER TABLE se_cc RENAME COLUMN v TO val")
            finally:
                stop.set()
                for t in threads:
                    t.join(60)
            assert errors == []
            assert set(counts) == {2000}
            assert [f.name for f in spark.table("se_cc").schema.fields] == [
                "id", "val",
            ]
        finally:
            eng.execute("DROP TABLE IF EXISTS se_cc")


class TestCrashMidPublish:
    def test_crash_between_add_and_retire_leaves_superset(
        self, spark, eng, monkeypatch
    ):
        """The r5 ADD-THEN-RETIRE reorder's crash contract: an abort
        after the staged files renamed in but before retirement leaves
        the table READABLE with at least all pre-ALTER rows (a
        transient superset for directory scans — never an empty or
        missing table, which is what the pre-r5 retire-then-add
        ordering produced)."""
        from swanlake_spark import versions
        from swanlake_spark.errors import EngineError

        eng.execute(
            f"CREATE TABLE se_crash (id INT, junk STRING) "
            f"USING parquet LOCATION '{_loc()}'"
        )
        try:
            eng.execute("INSERT INTO se_crash VALUES (1, 'x'), (2, 'y')")
            v_before = versions.current_version(spark, "se_crash")

            def boom(*a, **k):
                raise RuntimeError("injected crash mid-publish")

            monkeypatch.setattr(versions, "retire_files", boom)
            with pytest.raises((EngineError, RuntimeError)):
                eng.execute("ALTER TABLE se_crash DROP COLUMN junk")
            monkeypatch.undo()
            # catalog entry intact (old schema), data present — the
            # staged copy joined the old files, so ids survive (twice)
            df = spark.table("se_crash")
            assert "junk" in df.columns
            ids = [r.id for r in df.collect()]
            assert set(ids) == {1, 2} and len(ids) >= 2
            # pre-crash snapshot still reads exactly the old contents
            old = versions.read_version(spark, "se_crash", v_before)
            assert {(r.id, r.junk) for r in old.collect()} == {
                (1, "x"), (2, "y"),
            }
            # and the write lock was released: a fresh ALTER succeeds
            # after manual cleanup of the duplicate-producing extras
            eng.execute("DELETE FROM se_crash WHERE junk IS NULL")
            eng.execute("ALTER TABLE se_crash DROP COLUMN junk")
            assert [f.name for f in spark.table("se_crash").schema.fields] == [
                "id"
            ]
            assert {r.id for r in spark.table("se_crash").collect()} == {1, 2}
        finally:
            eng.execute("DROP TABLE IF EXISTS se_crash")
