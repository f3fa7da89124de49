"""The one publish rule: every table rewrite stages its files and swaps
them in under the table write lock (``dml.publish``).

- Appends overlapping CHECKPOINT or OPTIMIZE ZORDER are never lost, on
  unpartitioned and partitioned tables alike, and the manifests stay
  one ordered chain.
- ``CheckpointService`` logs a failing pass and keeps looping.
- Which rewrites retain the files they replace: every one, on
  partitioned tables too, except compaction, which deletes its inputs.
- On a partitioned table the publish keeps the catalog's partition list
  equal to the non-empty partition directories, rewrites only the files
  holding matched rows, and CHECKPOINT holds the table lock only to
  publish.
"""

from __future__ import annotations

import logging
import os
import tempfile
import threading
import time
import uuid

import pyarrow as pa
import pytest

from swanlake_spark import maintenance, versions
from swanlake_spark.errors import FailedPrecondition
from swanlake_spark.operators import dml
from swanlake_spark.operators.ingest import insert_arrow
from swanlake_spark.session import SessionRegistry

APPEND_S = 4.0
BATCH = 50


@pytest.fixture()
def db(engine):
    name = f"pub_{uuid.uuid4().hex[:8]}"
    engine.execute(f"CREATE DATABASE {name}")
    yield name
    engine.spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")


def _create(engine, table: str, partitioned: bool = False) -> None:
    part = " PARTITIONED BY (p)" if partitioned else ""
    engine.execute(
        f"CREATE TABLE {table} (id BIGINT, v STRING, p INT) USING parquet"
        f"{part} LOCATION '{tempfile.mkdtemp(prefix='swl_pub_')}'"
    )
    for i in range(6):  # six small files: compaction has work at once
        engine.execute(f"INSERT INTO {table} VALUES ({i}, 'seed', 0)")


def _append_while(spark, table: str, maintain) -> tuple[int, int]:
    """Append ``BATCH``-row batches for ``APPEND_S`` seconds while
    ``maintain()`` runs in a loop on another thread; returns the rows
    acknowledged and how many maintenance calls rewrote the table."""
    acked, rewrites, errors = 0, 0, []
    done = threading.Event()

    def appender():
        nonlocal acked
        next_id = 1_000
        deadline = time.time() + APPEND_S
        try:
            while time.time() < deadline:
                ids = list(range(next_id, next_id + BATCH))
                batch = pa.table({
                    "id": pa.array(ids, pa.int64()),
                    "v": ["row"] * BATCH,
                    "p": pa.array([0] * BATCH, pa.int32()),
                })
                acked += insert_arrow(spark, table, batch)
                next_id += BATCH
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)
        finally:
            done.set()

    def maintainer():
        nonlocal rewrites
        try:
            while not done.is_set():
                rewrites += bool(maintain())
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    threads = [threading.Thread(target=f) for f in (appender, maintainer)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    assert not errors, errors
    return acked, rewrites


def _assert_no_lost_rows(spark, table: str, acked: int, rewrites: int) -> None:
    assert rewrites > 0, "no rewrite overlapped the appends"
    expected = 6 + acked
    assert spark.table(table).count() == expected
    hist = versions.snapshots(spark, table).collect()
    nums = [r.version for r in hist]
    assert nums == list(range(nums[0], nums[0] + len(nums)))
    assert [r.ts for r in hist] == sorted(r.ts for r in hist)
    # the newest manifest lists exactly the live files
    latest = versions.read_version(spark, table, nums[-1])
    assert latest.count() == expected


class TestConcurrentRewrite:
    """An append that lands while CHECKPOINT or OPTIMIZE ZORDER rewrites
    the table survives the publish."""

    def test_checkpoint_overlapping_appends(self, engine, db):
        t = f"{db}.t"
        _create(engine, t)

        def checkpoint():
            rows = engine.query(f"CHECKPOINT {db}").collect()
            return any(r.compacted for r in rows)

        acked, rewrites = _append_while(engine.spark, t, checkpoint)
        _assert_no_lost_rows(engine.spark, t, acked, rewrites)

    def test_checkpoint_partitioned_overlapping_appends(self, engine, db):
        t = f"{db}.t"
        _create(engine, t, partitioned=True)

        def checkpoint():
            rows = engine.query(f"CHECKPOINT {db}").collect()
            return any(r.compacted for r in rows)

        acked, rewrites = _append_while(engine.spark, t, checkpoint)
        _assert_no_lost_rows(engine.spark, t, acked, rewrites)

    def test_cluster_overlapping_appends(self, engine, db):
        t = f"{db}.t"
        _create(engine, t)

        def cluster():
            return maintenance.cluster_table(engine.spark, t, ["id", "p"])[
                "clustered"
            ]

        acked, rewrites = _append_while(engine.spark, t, cluster)
        _assert_no_lost_rows(engine.spark, t, acked, rewrites)

    def test_rewrite_of_a_replaced_file_publishes_nothing(self, engine, db):
        """A rewrite whose input file a concurrent write retired, before
        or after the rewrite read it, publishes nothing."""
        t = f"{db}.t"
        _create(engine, t)
        spark = engine.spark
        loc = dml._table_meta(spark, t)[0]

        def retire_after_read(df):
            pinned = df.localCheckpoint()
            engine.execute(f"UPDATE {t} SET v = 'mid' WHERE id = 0")
            return pinned

        parts = versions._list_data_files(spark, loc)
        assert not maintenance._rewrite_files(
            spark, t, loc, parts, retire_after_read, "compact", retain=False
        )
        engine.execute(f"UPDATE {t} SET v = 'before' WHERE id = 1")
        assert not maintenance._rewrite_files(
            spark, t, loc, parts, lambda df: df, "compact", retain=False
        )
        staging = dml.staging_dir(spark, t, loc)
        spark.range(1).write.parquet(staging)
        try:
            with pytest.raises(FailedPrecondition):
                dml.publish(
                    spark, t, staging, [f"{loc}/{r}" for r, _ in parts], loc
                )
        finally:
            dml._rm_path(spark, staging)
        rows = sorted((r.id, r.v) for r in spark.table(t).collect())
        assert rows == [(0, "mid"), (1, "before")] + [
            (i, "seed") for i in range(2, 6)
        ]


class TestCheckpointServiceLogs:
    def test_failed_pass_is_logged_and_the_loop_continues(
        self, spark, tmp_path, caplog
    ):
        svc = maintenance.CheckpointService(
            spark,
            [f"no_such_table_{uuid.uuid4().hex[:8]}"],
            interval_s=0.05,
            state_dir=str(tmp_path),
        )
        with caplog.at_level(logging.ERROR, logger=maintenance.__name__):
            svc.run_loop()
            deadline = time.time() + 60
            while time.time() < deadline:
                failures = [
                    r for r in caplog.records
                    if r.name == maintenance.__name__ and r.exc_info
                ]
                if len(failures) >= 2:  # logged, and looped again
                    break
                time.sleep(0.05)
            svc.stop()
            svc._thread.join(timeout=30)
        assert not svc._thread.is_alive()
        assert len(failures) >= 2
        assert "checkpoint pass failed" in failures[0].getMessage()


class TestSnapshotContract:
    """Which rewrites keep the files they replace readable by older
    snapshots."""

    def test_cluster_retains(self, engine, db):
        t = f"{db}.t"
        _create(engine, t)
        v = versions.current_version(engine.spark, t)
        engine.query(f"OPTIMIZE {t} ZORDER BY (id, p)").collect()
        assert versions.snapshots(engine.spark, t).collect()[-1].op == "cluster"
        old = versions.read_version(engine.spark, t, v).collect()
        assert sorted(r.id for r in old) == list(range(6))

    def test_compaction_deletes_its_inputs(self, engine, db):
        """The documented hole: compaction does not retain, so an older
        snapshot whose files it compacted is unavailable."""
        t = f"{db}.t"
        _create(engine, t)
        v = versions.current_version(engine.spark, t)
        rows = engine.query(f"CHECKPOINT {db}").collect()
        assert rows[0].compacted
        with pytest.raises(versions.SnapshotUnavailable):
            versions.read_version(engine.spark, t, v).collect()

    def test_alter_retains(self, engine, db):
        t = f"{db}.t"
        _create(engine, t)
        v = versions.current_version(engine.spark, t)
        engine.execute(f"ALTER TABLE {t} DROP COLUMN v")
        assert [f.name for f in engine.spark.table(t).schema.fields] == ["id", "p"]
        rows = engine.query(
            f"SELECT id, v FROM {t} AT (VERSION => {v}) ORDER BY id"
        ).df.collect()
        assert [(r.id, r.v) for r in rows] == [(i, "seed") for i in range(6)]

    def _assert_retains(self, spark, t: str, write) -> None:
        """``write()``, run from ``spark``'s session, changes ``t``; the
        snapshot taken before it still reads back the rows it held."""
        v = versions.current_version(spark, t)
        before = sorted(tuple(r) for r in spark.table(t).collect())
        write()
        assert versions.current_version(spark, t) > v
        assert sorted(tuple(r) for r in spark.table(t).collect()) != before
        old = versions.read_version(spark, t, v).select(*spark.table(t).columns)
        assert sorted(tuple(r) for r in old.collect()) == before

    def test_partitioned_update_moving_rows_retains(self, engine, db):
        t = f"{db}.t"
        _create(engine, t, partitioned=True)
        engine.execute(f"INSERT INTO {t} VALUES (10, 'x', 1), (11, 'y', 1)")
        self._assert_retains(
            engine.spark, t,
            lambda: engine.execute(f"UPDATE {t} SET p = 7 WHERE id = 10"),
        )
        self._assert_retains(
            engine.spark, t,
            lambda: engine.execute(f"UPDATE {t} SET p = NULL WHERE id IN (0, 11)"),
        )
        rows = engine.query(f"SELECT id, p FROM {t} WHERE id >= 10 OR id = 0")
        assert sorted(tuple(r) for r in rows.collect()) == [
            (0, None), (10, 7), (11, None),
        ]

    def test_delete_across_70_partitions_retains(self, engine, db):
        t = f"{db}.t"
        _create(engine, t, partitioned=True)
        engine.execute(
            f"INSERT INTO {t} SELECT /*+ COALESCE(1) */ id + 100, 'w', "
            f"CAST(id % 72 + 1 AS INT) FROM range(144)"
        )
        self._assert_retains(
            engine.spark, t,
            lambda: engine.execute(f"DELETE FROM {t} WHERE id BETWEEN 100 AND 169"),
        )
        assert engine.spark.table(t).count() == 6 + 74

    def test_partitioned_merge_retains(self, engine, db):
        t, s = f"{db}.t", f"{db}.s"
        _create(engine, t, partitioned=True)
        engine.execute(f"INSERT INTO {t} VALUES (10, 'x', 1)")
        engine.execute(f"CREATE TABLE {s} (id BIGINT, v STRING, p INT) USING parquet")
        engine.execute(f"INSERT INTO {s} VALUES (10, 'm', 2), (20, 'n', 3)")
        self._assert_retains(
            engine.spark, t,
            lambda: engine.execute_update(
                f"MERGE INTO {t} AS tt USING {s} AS ss ON tt.id = ss.id "
                f"WHEN MATCHED THEN UPDATE SET v = ss.v, p = ss.p "
                f"WHEN NOT MATCHED THEN INSERT *"
            ),
        )
        rows = engine.query(f"SELECT id, v, p FROM {t} WHERE id >= 10")
        assert sorted(tuple(r) for r in rows.collect()) == [
            (10, "m", 2), (20, "n", 3),
        ]

    def test_txn_commit_retains(self, engine):
        t = f"txp_{uuid.uuid4().hex[:8]}"  # transactions take one-part names
        _create(engine, t, partitioned=True)
        sess = SessionRegistry(engine).get_or_create(f"tx_{uuid.uuid4().hex[:6]}")

        def commit():
            sess.begin_transaction()
            sess.query(f"UPDATE {t} SET v = 'tx' WHERE id = 1")
            sess.query(f"INSERT INTO {t} VALUES (30, 'tx', 4)")
            sess.commit_transaction()

        try:
            self._assert_retains(sess.spark, t, commit)
            assert sess.spark.table(t).filter("v = 'tx'").count() == 2
        finally:
            engine.spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_partitioned_rollback_retains(self, engine, db):
        t = f"{db}.t"
        _create(engine, t, partitioned=True)
        v = versions.current_version(engine.spark, t)
        engine.execute(f"UPDATE {t} SET p = 5 WHERE id < 3")
        self._assert_retains(
            engine.spark, t, lambda: versions.rollback(engine.spark, t, v)
        )
        assert sorted(tuple(r) for r in engine.spark.table(t).collect()) == [
            (i, "seed", 0) for i in range(6)
        ]


def _partitions(spark, table: str) -> list[str]:
    return sorted(r.partition for r in spark.sql(f"SHOW PARTITIONS {table}").collect())


def _partition_dirs(spark, table: str) -> list[str]:
    loc = dml._table_meta(spark, table)[0]
    return sorted({
        rel.rpartition("/")[0] for rel, _ in versions._list_data_files(spark, loc)
    })


class TestPartitionedPublish:
    """A partitioned table publishes like any other: the catalog follows
    the directories, the rewrite is file-granular, and CHECKPOINT holds
    the lock only to publish."""

    def test_catalog_follows_the_directories(self, engine, db):
        spark = engine.spark
        t = f"{db}.t"
        _create(engine, t, partitioned=True)
        engine.execute(f"INSERT INTO {t} VALUES (10, 'x', 1), (11, 'y', 2)")
        engine.execute(f"UPDATE {t} SET p = 7 WHERE id = 10")
        assert _partitions(spark, t) == _partition_dirs(spark, t) == [
            "p=0", "p=2", "p=7",
        ]
        df = spark.table(t).filter("p = 7")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan and "PartitionFilters: []" not in plan
        assert [r.id for r in df.collect()] == [10]
        engine.execute(f"DELETE FROM {t} WHERE p = 2")
        assert _partitions(spark, t) == _partition_dirs(spark, t) == ["p=0", "p=7"]
        loc = dml._local_os_path(dml._table_meta(spark, t)[0])
        assert not os.path.exists(f"{loc}/p=2")

    def test_point_update_rewrites_only_its_file(self, engine, db):
        spark = engine.spark
        t = f"{db}.t"
        _create(engine, t, partitioned=True)
        for i in range(3):
            engine.execute(f"INSERT INTO {t} VALUES ({20 + i}, 'z', 1)")
        loc = dml._table_meta(spark, t)[0]
        before = dict(versions._list_data_files(spark, loc))
        engine.execute(f"UPDATE {t} SET v = 'hit' WHERE id = 21")
        after = dict(versions._list_data_files(spark, loc))
        gone = set(before) - set(after)
        assert len(gone) == 1 and gone.pop().startswith("p=1/")
        kept = {rel: size for rel, size in before.items() if rel in after}
        assert all(after[rel] == size for rel, size in kept.items())
        assert spark.table(t).filter("v = 'hit'").count() == 1

    def test_checkpoint_holds_the_lock_only_to_publish(self, engine, db, monkeypatch):
        """While a partition leaf's compaction is still building its
        files, an append to the same table goes through."""
        spark = engine.spark
        t = f"{db}.t"
        _create(engine, t, partitioned=True)
        building, release = threading.Event(), threading.Event()
        frame = type(spark.range(1))  # the session's DataFrame class
        repartition = frame.repartition

        def blocked(self, *args, **kwargs):
            if threading.current_thread().name == "compactor":
                building.set()
                release.wait(timeout=60)
            return repartition(self, *args, **kwargs)

        monkeypatch.setattr(frame, "repartition", blocked)
        stats = {}
        compactor = threading.Thread(
            name="compactor",
            target=lambda: stats.update(
                maintenance.compact_table(spark, t, min_files=2)
            ),
        )
        compactor.start()
        try:
            assert building.wait(timeout=60)
            appender = threading.Thread(
                target=insert_arrow,
                args=(spark, t, pa.table({
                    "id": pa.array([99], pa.int64()), "v": ["new"],
                    "p": pa.array([0], pa.int32()),
                })),
            )
            appender.start()
            appender.join(timeout=30)
            appended = not appender.is_alive()
        finally:
            release.set()
            compactor.join(timeout=120)
        assert appended, "the append waited for the compaction's rewrite"
        appender.join(timeout=120)
        assert stats["compacted"]
        assert sorted(r.id for r in spark.table(t).collect()) == [0, 1, 2, 3, 4, 5, 99]

    def test_append_holds_the_lock_only_to_publish(self, engine, db, monkeypatch):
        """While an append's Spark staging write is paused, a point
        UPDATE on the same table goes through."""
        spark = engine.spark
        t = f"{db}.t"
        _create(engine, t, partitioned=True)
        staging, release = threading.Event(), threading.Event()
        stage = dml._stage_frame

        def blocked(*args, **kwargs):
            if threading.current_thread().name == "appender":
                staging.set()
                release.wait(timeout=60)
            return stage(*args, **kwargs)

        monkeypatch.setattr(dml, "_stage_frame", blocked)
        appender = threading.Thread(
            name="appender",
            target=insert_arrow,
            args=(spark, t, pa.table({
                "id": pa.array([99], pa.int64()), "v": ["new"],
                "p": pa.array([0], pa.int32()),
            })),
        )
        appender.start()
        updated = []
        try:
            assert staging.wait(timeout=60)
            updater = threading.Thread(
                target=lambda: updated.append(
                    engine.execute_update(f"UPDATE {t} SET v = 'hit' WHERE id = 3")
                ),
            )
            updater.start()
            updater.join(timeout=30)
            done = not updater.is_alive()
        finally:
            release.set()
            appender.join(timeout=120)
        assert done, "the UPDATE waited for the append's staging write"
        assert updated == [1]
        assert sorted((r.id, r.v) for r in spark.table(t).collect()) == [
            (0, "seed"), (1, "seed"), (2, "seed"), (3, "hit"), (4, "seed"),
            (5, "seed"), (99, "new"),
        ]
