"""Constraint definitions survive engine restart (constraints.py
sidecars).

The reference persists constraints in the DuckLake catalog and its
tests exercise persistence across re-attach
(/root/reference/tests/sql/ducklake_basic.test:54-86; PK rejection
tests/sql/error_status.test:6-13). Here "restart" =
constraints.reset_memory(): every in-memory registration is forgotten
and enforcement must come back from the JSON sidecars alone.
"""

import tempfile

import pytest

from swanlake_spark import constraints
from swanlake_spark.errors import InvalidArgument


@pytest.fixture()
def eng(spark):
    from swanlake_spark.engine import Engine

    return Engine(spark=spark)


def _fresh_engine(spark):
    from swanlake_spark.engine import Engine

    constraints.reset_memory()
    return Engine(spark=spark)


def _loc():
    return tempfile.mkdtemp(prefix="swl_cdur_")


class TestPkDurability:
    def test_pk_enforced_after_restart(self, spark, eng):
        eng.execute(
            f"CREATE TABLE cd_pk (id INT PRIMARY KEY, v INT) "
            f"USING parquet LOCATION '{_loc()}'"
        )
        try:
            eng.execute("INSERT INTO cd_pk VALUES (1, 10)")
            eng2 = _fresh_engine(spark)
            with pytest.raises(InvalidArgument, match="PRIMARY KEY"):
                eng2.execute("INSERT INTO cd_pk VALUES (1, 99)")
            eng2.execute("INSERT INTO cd_pk VALUES (2, 20)")  # still writable
            assert eng2.query(
                "SELECT count(*) AS n FROM cd_pk"
            ).df.collect()[0].n == 2
        finally:
            eng.execute("DROP TABLE IF EXISTS cd_pk")

    def test_drop_table_clears_sidecar(self, spark, eng):
        loc = _loc()
        eng.execute(
            f"CREATE TABLE cd_pk2 (id INT PRIMARY KEY) "
            f"USING parquet LOCATION '{loc}'"
        )
        eng.execute("INSERT INTO cd_pk2 VALUES (1)")
        eng.execute("DROP TABLE cd_pk2")
        # same name + same location, NO constraints this time: the old
        # sidecar must not resurrect enforcement
        eng.execute(
            f"CREATE TABLE cd_pk2 (id INT) USING parquet LOCATION '{loc}'"
        )
        try:
            eng2 = _fresh_engine(spark)
            eng2.execute("INSERT INTO cd_pk2 VALUES (1), (1)")  # dups OK now
            # 3 rows: external-table DROP keeps the old data file, plus
            # the two duplicates the (now unconstrained) insert accepted
            assert eng2.query(
                "SELECT count(*) AS n FROM cd_pk2"
            ).df.collect()[0].n == 3
        finally:
            eng.execute("DROP TABLE IF EXISTS cd_pk2")


class TestOverwriteDurability:
    """Overwrite-shaped publishes clear the TABLE ROOT; the sidecar
    lives in the ``_versions`` sibling precisely so these paths can't
    erase the constraint definitions (r5; pre-r5 the root-resident
    sidecar silently vanished and only the in-process cache masked it)."""

    def test_insert_overwrite_keeps_pk_after_restart(self, spark, eng):
        eng.execute(
            f"CREATE TABLE cd_ow (id INT PRIMARY KEY, v INT) "
            f"USING parquet LOCATION '{_loc()}'"
        )
        try:
            eng.execute("INSERT INTO cd_ow VALUES (1, 10), (2, 20)")
            eng.execute("INSERT OVERWRITE cd_ow VALUES (3, 30)")
            eng2 = _fresh_engine(spark)
            with pytest.raises(InvalidArgument, match="PRIMARY KEY"):
                eng2.execute("INSERT INTO cd_ow VALUES (3, 99)")
            eng2.execute("INSERT INTO cd_ow VALUES (4, 40)")
        finally:
            eng.execute("DROP TABLE IF EXISTS cd_ow")

    def test_partitioned_update_keeps_check_after_restart(self, spark, eng):
        """A partitioned UPDATE rewrites files in partition directories;
        the CHECK registration, kept outside the table root, survives
        it and a restart."""
        eng.execute(
            f"CREATE TABLE cd_owp (id INT, qty INT CHECK (qty > 0), p INT) "
            f"USING parquet PARTITIONED BY (p) LOCATION '{_loc()}'"
        )
        try:
            eng.execute(
                "INSERT INTO cd_owp VALUES (1, 5, 0), (2, 6, 0), (3, 7, 1)"
            )
            eng.execute("UPDATE cd_owp SET qty = qty + 1 WHERE id = 1")
            eng2 = _fresh_engine(spark)
            with pytest.raises(InvalidArgument, match="CHECK"):
                eng2.execute("INSERT INTO cd_owp VALUES (9, -1, 0)")
            eng2.execute("INSERT INTO cd_owp VALUES (9, 1, 0)")
        finally:
            eng.execute("DROP TABLE IF EXISTS cd_owp")

    def test_legacy_root_sidecar_migrates(self, spark, eng):
        """A pre-r5 sidecar inside the table root still loads, then
        moves to the overwrite-safe ``_versions`` location."""
        import json
        import os

        loc = _loc()
        eng.execute(
            f"CREATE TABLE cd_leg (id INT, v INT) "
            f"USING parquet LOCATION '{loc}'"
        )
        try:
            with open(os.path.join(loc, "_swl_constraints.json"), "w") as f:
                json.dump({"pk": ["id"], "checks": None, "fks": None,
                           "referenced_by": None}, f)
            eng2 = _fresh_engine(spark)
            eng2.execute("INSERT INTO cd_leg VALUES (1, 10)")
            with pytest.raises(InvalidArgument, match="PRIMARY KEY"):
                eng2.execute("INSERT INTO cd_leg VALUES (1, 99)")
            # migrated: legacy copy retired, survives an overwrite +
            # restart purely from the new location
            assert not os.path.exists(
                os.path.join(loc, "_swl_constraints.json")
            )
            eng2.execute("INSERT OVERWRITE cd_leg VALUES (2, 20)")
            eng3 = _fresh_engine(spark)
            with pytest.raises(InvalidArgument, match="PRIMARY KEY"):
                eng3.execute("INSERT INTO cd_leg VALUES (2, 99)")
        finally:
            eng.execute("DROP TABLE IF EXISTS cd_leg")


class TestCheckDurability:
    def test_check_enforced_after_restart(self, spark, eng):
        eng.execute(
            f"CREATE TABLE cd_ck (id INT, qty INT CHECK (qty > 0)) "
            f"USING parquet LOCATION '{_loc()}'"
        )
        try:
            eng2 = _fresh_engine(spark)
            with pytest.raises(InvalidArgument, match="CHECK"):
                eng2.execute("INSERT INTO cd_ck VALUES (1, -5)")
            eng2.execute("INSERT INTO cd_ck VALUES (1, 5)")
        finally:
            eng.execute("DROP TABLE IF EXISTS cd_ck")

    def test_alter_add_and_drop_constraint_persist(self, spark, eng):
        eng.execute(
            f"CREATE TABLE cd_ck2 (id INT, qty INT) "
            f"USING parquet LOCATION '{_loc()}'"
        )
        try:
            eng.execute(
                "ALTER TABLE cd_ck2 ADD CONSTRAINT pos CHECK (qty > 0)"
            )
            eng2 = _fresh_engine(spark)
            with pytest.raises(InvalidArgument, match="CHECK"):
                eng2.execute("INSERT INTO cd_ck2 VALUES (1, -1)")
            eng2.execute("ALTER TABLE cd_ck2 DROP CONSTRAINT pos")
            eng3 = _fresh_engine(spark)
            eng3.execute("INSERT INTO cd_ck2 VALUES (1, -1)")  # gone durably
        finally:
            eng.execute("DROP TABLE IF EXISTS cd_ck2")


class TestFkDurability:
    def test_child_insert_enforced_after_restart(self, spark, eng):
        eng.execute(
            f"CREATE TABLE cd_par (pid INT PRIMARY KEY) "
            f"USING parquet LOCATION '{_loc()}'"
        )
        eng.execute(
            f"CREATE TABLE cd_chi (cid INT, pid INT REFERENCES cd_par(pid)) "
            f"USING parquet LOCATION '{_loc()}'"
        )
        try:
            eng.execute("INSERT INTO cd_par VALUES (1)")
            eng2 = _fresh_engine(spark)
            with pytest.raises(InvalidArgument, match="FOREIGN KEY"):
                eng2.execute("INSERT INTO cd_chi VALUES (10, 99)")
            eng2.execute("INSERT INTO cd_chi VALUES (10, 1)")
        finally:
            eng.execute("DROP TABLE IF EXISTS cd_chi")
            eng.execute("DROP TABLE IF EXISTS cd_par")

    def test_parent_delete_guard_after_restart_without_touching_child(
        self, spark, eng
    ):
        """The parent sidecar's referenced_by mirror alone must protect
        the parent: after restart the engine never reads the child's
        sidecar before the DELETE."""
        eng.execute(
            f"CREATE TABLE cd_par2 (pid INT PRIMARY KEY) "
            f"USING parquet LOCATION '{_loc()}'"
        )
        eng.execute(
            f"CREATE TABLE cd_chi2 (cid INT, pid INT REFERENCES cd_par2(pid)) "
            f"USING parquet LOCATION '{_loc()}'"
        )
        try:
            eng.execute("INSERT INTO cd_par2 VALUES (1)")
            eng.execute("INSERT INTO cd_chi2 VALUES (10, 1)")
            eng2 = _fresh_engine(spark)
            with pytest.raises(InvalidArgument, match="FOREIGN KEY"):
                eng2.execute("DELETE FROM cd_par2 WHERE pid = 1")
            eng2.execute("DELETE FROM cd_chi2 WHERE cid = 10")
            eng2.execute("DELETE FROM cd_par2 WHERE pid = 1")  # now allowed
        finally:
            eng.execute("DROP TABLE IF EXISTS cd_chi2")
            eng.execute("DROP TABLE IF EXISTS cd_par2")

    def test_dropping_child_clears_parent_mirror(self, spark, eng):
        eng.execute(
            f"CREATE TABLE cd_par3 (pid INT) USING parquet LOCATION '{_loc()}'"
        )
        eng.execute(
            f"CREATE TABLE cd_chi3 (cid INT, pid INT REFERENCES cd_par3(pid)) "
            f"USING parquet LOCATION '{_loc()}'"
        )
        eng.execute("INSERT INTO cd_par3 VALUES (1)")
        eng.execute("DROP TABLE cd_chi3")
        try:
            eng2 = _fresh_engine(spark)
            eng2.execute("DELETE FROM cd_par3 WHERE pid = 1")  # no child left
            assert eng2.query(
                "SELECT count(*) AS n FROM cd_par3"
            ).df.collect()[0].n == 0
        finally:
            eng.execute("DROP TABLE IF EXISTS cd_par3")
