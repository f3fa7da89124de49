"""Snapshots + time travel (versions.py): every COW write appends a
manifest, retired files move aside instead of dying, and any older
version stays queryable — the capability DuckLake gives the reference
(factory.rs:38-39 loads ducklake; its catalog versions every commit)."""

import tempfile

import pytest

from swanlake_spark import versions


@pytest.fixture()
def vtable(spark):
    loc = tempfile.mkdtemp(prefix="swl_vt_")
    spark.sql(
        f"CREATE TABLE vt (id INT, v STRING) USING parquet LOCATION '{loc}'"
    )
    yield "vt"
    spark.sql("DROP TABLE IF EXISTS vt")


class TestSnapshots:
    def _engine(self, spark):
        from swanlake_spark.engine import Engine

        return Engine(spark=spark)

    def test_write_chain_and_read_back(self, spark, vtable):
        eng = self._engine(spark)
        eng.execute("INSERT INTO vt VALUES (1, 'a'), (2, 'b'), (3, 'c')")
        v1 = versions.current_version(spark, "vt")
        assert v1 >= 1
        eng.execute("UPDATE vt SET v = 'B' WHERE id = 2")
        eng.execute("DELETE FROM vt WHERE id = 3")
        hist = versions.snapshots(spark, "vt").collect()
        assert [r.op for r in hist][-2:] == ["update", "delete"]
        # current table state
        assert {(r.id, r.v) for r in spark.table("vt").collect()} == {
            (1, "a"), (2, "B")
        }
        # the pre-update snapshot still reads the original rows
        old = versions.read_version(spark, "vt", v1).collect()
        assert {(r.id, r.v) for r in old} == {(1, "a"), (2, "b"), (3, "c")}

    def test_sql_time_travel_and_snapshots_fn(self, spark, vtable):
        eng = self._engine(spark)
        eng.execute("INSERT INTO vt VALUES (1, 'a'), (2, 'b')")
        v1 = versions.current_version(spark, "vt")
        eng.execute("DELETE FROM vt WHERE id = 2")
        rows = eng.query(
            f"SELECT id, v FROM vt AT (VERSION => {v1}) ORDER BY id"
        ).df.collect()
        assert [(r.id, r.v) for r in rows] == [(1, "a"), (2, "b")]
        snaps = eng.query(
            "SELECT version, op FROM snapshots('vt') ORDER BY version"
        ).df.collect()
        assert snaps[-1].op == "delete"
        # timestamp resolution: latest snapshot at/past the last commit ts
        last_ts = versions.snapshots(spark, "vt").collect()[-1].ts
        rows2 = eng.query(
            f"SELECT count(*) AS n FROM vt AT (TIMESTAMP => {last_ts + 1})"
        ).df.collect()
        assert rows2[0].n == 1

    def test_file_swap_update_retains_old_file(self, spark, vtable):
        """The file-granular COW path must retire the swapped file, not
        delete it — multi-file table, point update, old version reads."""
        eng = self._engine(spark)
        for i in range(4):  # four separate inserts → four+ files
            eng.execute(f"INSERT INTO vt VALUES ({i}, 'x{i}')")
        v_before = versions.current_version(spark, "vt")
        eng.execute("UPDATE vt SET v = 'updated' WHERE id = 2")
        old = versions.read_version(spark, "vt", v_before).collect()
        assert {(r.id, r.v) for r in old} == {
            (0, "x0"), (1, "x1"), (2, "x2"), (3, "x3")
        }
        assert {r.v for r in spark.table("vt").collect() if r.id == 2} == {
            "updated"
        }

    def test_rollback_restores_as_new_version(self, spark, vtable):
        eng = self._engine(spark)
        eng.execute("INSERT INTO vt VALUES (1, 'keep'), (2, 'keep')")
        v1 = versions.current_version(spark, "vt")
        eng.execute("DELETE FROM vt WHERE id = 2")
        n = versions.rollback(spark, "vt", v1)
        assert n > v1
        assert spark.table("vt").count() == 2
        ops = [r.op for r in versions.snapshots(spark, "vt").collect()]
        assert ops[-1] == f"rollback_to_v{v1}"
        # the rolled-back-over state (post-delete) is itself still readable
        mid = versions.read_version(spark, "vt", n - 1).collect()
        assert len(mid) == 1

    def test_expire_reclaims_unreferenced_retained(self, spark, vtable):
        eng = self._engine(spark)
        eng.execute("INSERT INTO vt VALUES (1, 'a')")
        v1 = versions.current_version(spark, "vt")
        eng.execute("UPDATE vt SET v = 'b' WHERE id = 1")
        eng.execute("UPDATE vt SET v = 'c' WHERE id = 1")
        stats = versions.expire(spark, "vt", keep_last=1)
        assert stats["manifests_removed"] >= 2
        with pytest.raises(versions.NotFound):
            versions.resolve_files(spark, "vt", v1)
        # the current version is untouched
        assert {r.v for r in spark.table("vt").collect()} == {"c"}

    def test_vacuum_statement_expires_snapshots(self, spark, vtable):
        """`VACUUM t RETAIN 0 SECONDS` runs the snapshot retention sweep
        alongside staging reclamation (Delta's VACUUM contract)."""
        eng = self._engine(spark)
        eng.execute("INSERT INTO vt VALUES (1, 'a')")
        eng.execute("UPDATE vt SET v = 'b' WHERE id = 1")
        eng.execute("UPDATE vt SET v = 'c' WHERE id = 1")
        row = eng.query("VACUUM vt RETAIN 0 SECONDS").df.collect()[0]
        assert row.snapshots_expired >= 2
        assert versions.current_version(spark, "vt") >= 1
        # latest snapshot still resolvable; older ones are gone
        v_now = versions.current_version(spark, "vt")
        assert versions.resolve_files(spark, "vt", v_now)

    def test_partitioned_dynamic_overwrite_retains(self, spark):
        """A partitioned UPDATE retires the files it rewrites, so older
        snapshots of partitioned tables stay readable."""
        import tempfile

        eng = self._engine(spark)
        loc = tempfile.mkdtemp(prefix="swl_vp_")
        spark.sql(
            f"CREATE TABLE vpt (id INT, v STRING, p INT) USING parquet "
            f"PARTITIONED BY (p) LOCATION '{loc}'"
        )
        try:
            eng.execute(
                "INSERT INTO vpt VALUES (1, 'a', 1), (2, 'b', 1), (3, 'c', 2)"
            )
            v1 = versions.current_version(spark, "vpt")
            eng.execute("UPDATE vpt SET v = 'X' WHERE p = 1")
            # current state reflects the update
            assert {
                (r.id, r.v) for r in spark.table("vpt").collect()
            } == {(1, "X"), (2, "X"), (3, "c")}
            # the pre-update snapshot reads the original partition files
            # WITH the directory-encoded partition column recovered
            old = versions.read_version(spark, "vpt", v1)
            assert "p" in old.columns
            assert {(r.id, r.v, r.p) for r in old.collect()} == {
                (1, "a", 1), (2, "b", 1), (3, "c", 2)
            }
        finally:
            spark.sql("DROP TABLE IF EXISTS vpt")

    def test_partitioned_rollback(self, spark):
        """Rollback of a partitioned table stages the restored rows in
        partition directories and publishes them like any rewrite."""
        import tempfile

        eng = self._engine(spark)
        loc = tempfile.mkdtemp(prefix="swl_vr_")
        spark.sql(
            f"CREATE TABLE vrt (id INT, v STRING, p INT) USING parquet "
            f"PARTITIONED BY (p) LOCATION '{loc}'"
        )
        try:
            eng.execute(
                "INSERT INTO vrt VALUES (1, 'a', 1), (2, 'b', 2)"
            )
            v1 = versions.current_version(spark, "vrt")
            eng.execute("UPDATE vrt SET v = 'Z' WHERE p = 1")
            n = versions.rollback(spark, "vrt", v1)
            assert n > v1
            assert {
                (r.id, r.v, r.p) for r in spark.table("vrt").collect()
            } == {(1, "a", 1), (2, "b", 2)}
            # partition pruning still works on the restored layout
            plan = spark.table("vrt").filter("p = 1")._jdf.queryExecution() \
                .executedPlan().toString()
            assert "PartitionFilters" in plan
        finally:
            spark.sql("DROP TABLE IF EXISTS vrt")


class TestAtomicPublish:
    """Add-then-retire publish ordering + manifest-primary reads: a
    reader racing a COW publish observes exactly the pre- or
    post-publish snapshot, never a partial table (the DuckLake atomic
    catalog-pointer-swap model, maintenance/mod.rs:192-222)."""

    def _engine(self, spark):
        from swanlake_spark.engine import Engine

        return Engine(spark=spark)

    def test_concurrent_reader_sees_only_whole_snapshots(self, spark):
        import threading

        eng = self._engine(spark)
        loc = tempfile.mkdtemp(prefix="swl_pub_")
        spark.sql(
            f"CREATE TABLE pub_t (id INT, v INT) "
            f"USING parquet LOCATION '{loc}'"
        )
        try:
            vals = ", ".join(f"({i}, 0)" for i in range(200))
            eng.execute(f"INSERT INTO pub_t VALUES {vals}")
            errors: list = []
            transient = [0]
            stop = threading.Event()

            def reader():
                while not stop.is_set():
                    try:
                        rows = (
                            versions.read_current(spark, "pub_t")
                            .groupBy("v")
                            .count()
                            .collect()
                        )
                        distinct_vs = {r["v"] for r in rows}
                        total = sum(r["count"] for r in rows)
                        if len(distinct_vs) != 1 or total != 200:
                            errors.append((distinct_vs, total))
                    except Exception as e:  # noqa: BLE001
                        # A reader that resolved a live file strictly
                        # before its retirement fails LOUDLY and
                        # re-resolves (optimistic snapshot read) — that
                        # is the allowed outcome; silent partial or
                        # mixed results are not.
                        msg = f"{type(e).__name__}: {e}"
                        if (
                            "FILE_NOT_EXIST" in msg
                            or "PATH_NOT_FOUND" in msg
                            or "does not exist" in msg
                            or "NOT_EXIST" in msg
                            or "FileNotFound" in msg
                            or "CANNOT_READ_FILE_FOOTER" in msg
                            or "UNABLE_TO_INFER_SCHEMA" in msg
                        ):
                            transient[0] += 1
                        else:
                            errors.append(msg)

            t = threading.Thread(target=reader, daemon=True)
            t.start()
            for i in range(1, 5):
                # full-table rewrite through the move publish path
                eng.execute(f"UPDATE pub_t SET v = {i}")
            stop.set()
            t.join(timeout=60)
            assert errors == []
            assert {
                r.v for r in spark.table("pub_t").select("v").distinct().collect()
            } == {4}
        finally:
            spark.sql("DROP TABLE IF EXISTS pub_t")

    def test_concurrent_appends_never_lose_a_snapshot(self, spark):
        """record_version claims version numbers create-exclusive:
        concurrent appends (the one write path outside the table write
        lock) each land their own manifest."""
        from concurrent.futures import ThreadPoolExecutor

        eng = self._engine(spark)
        loc = tempfile.mkdtemp(prefix="swl_pubA_")
        spark.sql(
            f"CREATE TABLE pub_a (id INT) USING parquet LOCATION '{loc}'"
        )
        try:
            eng.execute("INSERT INTO pub_a VALUES (0)")
            base = versions.current_version(spark, "pub_a")

            def ins(i):
                eng.execute(f"INSERT INTO pub_a VALUES ({i})")

            with ThreadPoolExecutor(max_workers=8) as ex:
                list(ex.map(ins, range(1, 9)))
            assert versions.current_version(spark, "pub_a") == base + 8
            assert spark.table("pub_a").count() == 9
        finally:
            spark.sql("DROP TABLE IF EXISTS pub_a")

    def test_explicit_manifest_matches_directory(self, spark):
        """The publish path's explicit file list must agree with what a
        directory walk would record (same names, sizes)."""
        eng = self._engine(spark)
        loc = tempfile.mkdtemp(prefix="swl_pubE_")
        spark.sql(
            f"CREATE TABLE pub_e (id INT, v STRING) "
            f"USING parquet LOCATION '{loc}'"
        )
        try:
            eng.execute("INSERT INTO pub_e VALUES (1, 'a'), (2, 'b')")
            eng.execute("UPDATE pub_e SET v = 'X' WHERE id = 1")
            v = versions.current_version(spark, "pub_e")
            root = versions.versions_root(spark, "pub_e")
            manifest = versions._read_json(
                spark, f"{versions._manifest_dir(root)}/v{v:08d}.json"
            )
            walked = versions._list_data_files(spark, loc)
            assert sorted(
                (f["name"], f["size"]) for f in manifest["files"]
            ) == walked
            # and the snapshot resolves + reads cleanly
            got = {
                (r.id, r.v)
                for r in versions.read_version(spark, "pub_e", v).collect()
            }
            assert got == {(1, "X"), (2, "b")}
        finally:
            spark.sql("DROP TABLE IF EXISTS pub_e")

    def test_record_version_create_exclusive(self, spark):
        """Direct concurrent record_version calls (no lock held): the
        create-exclusive claim + retry must land every manifest."""
        from concurrent.futures import ThreadPoolExecutor

        eng = self._engine(spark)
        loc = tempfile.mkdtemp(prefix="swl_pubX_")
        spark.sql(
            f"CREATE TABLE pub_x (id INT) USING parquet LOCATION '{loc}'"
        )
        try:
            eng.execute("INSERT INTO pub_x VALUES (1)")
            base = versions.current_version(spark, "pub_x")
            with ThreadPoolExecutor(max_workers=4) as ex:
                list(
                    ex.map(
                        lambda i: versions.record_version(
                            spark, "pub_x", f"op{i}"
                        ),
                        range(12),
                    )
                )
            assert versions.current_version(spark, "pub_x") == base + 12
        finally:
            spark.sql("DROP TABLE IF EXISTS pub_x")


class TestNullPartitionDml:
    """Regression (r3 review 'What's wrong' #3): UPDATE/DELETE on a
    partition whose key is NULL — Spark encodes it as
    __HIVE_DEFAULT_PARTITION__, and the `p = null` DROP PARTITION spec
    must actually remove the catalog entry and the directory."""

    def _engine(self, spark):
        from swanlake_spark.engine import Engine

        return Engine(spark=spark)

    def test_delete_empties_null_partition_and_removes_files(self, spark):
        import os

        eng = self._engine(spark)
        loc = tempfile.mkdtemp(prefix="swl_nullp_")
        spark.sql(
            f"CREATE TABLE npt (id INT, v STRING, p STRING) USING parquet "
            f"PARTITIONED BY (p) LOCATION '{loc}'"
        )
        try:
            eng.execute(
                "INSERT INTO npt VALUES (1, 'a', 'x'), (2, 'b', NULL), "
                "(3, 'c', NULL)"
            )
            assert os.path.isdir(f"{loc}/p=__HIVE_DEFAULT_PARTITION__")
            res = eng.execute("DELETE FROM npt WHERE p IS NULL")
            assert res.affected_rows == 2
            assert sorted(
                (r.id, r.p) for r in spark.table("npt").collect()
            ) == [(1, "x")]
            # the emptied NULL partition's directory is gone (files
            # would otherwise resurrect on the next NULL-key insert)
            assert not os.path.exists(f"{loc}/p=__HIVE_DEFAULT_PARTITION__")
            # and a later NULL-key insert starts clean
            eng.execute("INSERT INTO npt VALUES (4, 'd', NULL)")
            assert eng.execute(
                "UPDATE npt SET v = 'D' WHERE p IS NULL"
            ).affected_rows == 1
            assert sorted(
                (r.id, r.v) for r in spark.table("npt").collect()
            ) == [(1, "a"), (4, "D")]
        finally:
            spark.sql("DROP TABLE IF EXISTS npt")


class TestTableChanges:
    """Net row-level change feed between snapshots
    (versions.table_changes; Delta's table_changes TVF shape over the
    manifest chain the reference's DuckLake catalog implies)."""

    def _engine(self, spark):
        from swanlake_spark.engine import Engine

        return Engine(spark=spark)

    def _changes(self, spark, t, a, b):
        return sorted(
            (r.id, r.v, r._change_type)
            for r in versions.table_changes(spark, t, a, b).collect()
        )

    def test_insert_update_delete_feed(self, spark, vtable):
        eng = self._engine(spark)
        eng.execute("INSERT INTO vt VALUES (1,'a'), (2,'b'), (3,'c')")
        v_ins = versions.current_version(spark, "vt")
        eng.execute("UPDATE vt SET v = 'B' WHERE id = 2")
        v_upd = versions.current_version(spark, "vt")
        eng.execute("DELETE FROM vt WHERE id = 1")
        v_del = versions.current_version(spark, "vt")

        # update = delete+insert pair ONLY; the rewritten file's
        # unchanged rows cancel in the exceptAll
        assert self._changes(spark, "vt", v_ins, v_upd) == [
            (2, "B", "insert"), (2, "b", "delete")
        ]
        assert self._changes(spark, "vt", v_upd, v_del) == [
            (1, "a", "delete")
        ]
        # v_from=0 is the empty pre-history state
        assert self._changes(spark, "vt", 0, v_ins) == [
            (1, "a", "insert"), (2, "b", "insert"), (3, "c", "insert")
        ]
        # multi-commit net diff composes
        assert self._changes(spark, "vt", v_ins, v_del) == [
            (1, "a", "delete"), (2, "B", "insert"), (2, "b", "delete")
        ]
        # self-diff is empty but keeps the schema
        empty = versions.table_changes(spark, "vt", v_del, v_del)
        assert empty.count() == 0
        assert empty.columns == ["id", "v", "_change_type"]

    def test_sql_surface_and_bad_range(self, spark, vtable):
        eng = self._engine(spark)
        eng.execute("INSERT INTO vt VALUES (1,'a'), (2,'b')")
        v1 = versions.current_version(spark, "vt")
        eng.execute("DELETE FROM vt WHERE id = 2")
        v2 = versions.current_version(spark, "vt")
        rows = eng.query(
            f"SELECT _change_type, id, v FROM table_changes('vt', {v1}, {v2})"
            " ORDER BY id"
        ).df.collect()
        assert [(r._change_type, r.id, r.v) for r in rows] == [
            ("delete", 2, "b")
        ]
        from swanlake_spark.errors import InvalidArgument

        with pytest.raises(InvalidArgument):
            versions.table_changes(spark, "vt", v2, v1)

    def test_duplicate_rows_are_multiset_diffed(self, spark, vtable):
        eng = self._engine(spark)
        eng.execute("INSERT INTO vt VALUES (7,'x'), (7,'x'), (7,'x')")
        v1 = versions.current_version(spark, "vt")
        # delete drops ALL copies; the feed must carry each one
        eng.execute("DELETE FROM vt WHERE id = 7")
        v2 = versions.current_version(spark, "vt")
        assert self._changes(spark, "vt", v1, v2) == [
            (7, "x", "delete")
        ] * 3
