"""Every session reads a table from its newest manifest.

Each SparkSession fork caches its own file listing of a table; a write
in one session used to leave every other session reading the files it
had listed first (wrong counts, then FILE_NOT_EXIST once a publish moved
them). ``swanlake_spark/sync.py`` re-installs each moved table at the
start of every statement as a scan of exactly its newest manifest's
files, with the manifest's schema.
"""

from __future__ import annotations

import random
import tempfile
import threading
import time
import uuid

import pyarrow as pa
import pytest

from swanlake_spark.operators.ingest import insert_arrow


def _loc() -> str:
    return tempfile.mkdtemp(prefix="swl_sync_")


@pytest.mark.parametrize("reader", ["session", "base"])
def test_second_session_reads_every_write(engine, reader):
    """Session A writes; reader B — another client session, or the
    engine's base session — has read the table before each write, and
    its next Spark-routed read returns A's rows and schema."""
    t = f"sync_{uuid.uuid4().hex[:8]}"
    a = engine.sessions.get_or_create(f"writer-{t}")
    if reader == "session":
        b = engine.sessions.get_or_create(f"reader-{t}")
        read = lambda sql: b.query(sql).df  # noqa: E731
    else:
        read = lambda sql: engine.query(sql).df  # noqa: E731

    def rows():
        df = read(f"SELECT * FROM {t} ORDER BY k")
        return [f.name for f in df.schema.fields], [tuple(r) for r in df.collect()]

    a.query(f"CREATE TABLE {t} (k INT, v STRING, w INT) USING parquet LOCATION '{_loc()}'")
    a.query(f"INSERT INTO {t} VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)")
    assert read(f"SELECT count(*) AS n FROM {t}").collect()[0].n == 3
    a.query(f"INSERT INTO {t} VALUES (4, 'd', 40)")
    assert read(f"SELECT count(*) AS n FROM {t}").collect()[0].n == 4
    a.query(f"UPDATE {t} SET v = 'z' WHERE k = 2")
    assert rows()[1][1] == (2, "z", 20)
    a.query(f"DELETE FROM {t} WHERE k = 1")
    assert rows() == (["k", "v", "w"], [(2, "z", 20), (3, "c", 30), (4, "d", 40)])
    a.query("CHECKPOINT")
    assert rows() == (["k", "v", "w"], [(2, "z", 20), (3, "c", 30), (4, "d", 40)])
    a.query(f"ALTER TABLE {t} RENAME COLUMN v TO s")
    assert rows() == (["k", "s", "w"], [(2, "z", 20), (3, "c", 30), (4, "d", 40)])
    a.query(f"ALTER TABLE {t} DROP COLUMN w")
    assert rows() == (["k", "s"], [(2, "z"), (3, "c"), (4, "d")])
    a.query(f"ALTER TABLE {t} ALTER COLUMN k TYPE BIGINT")
    df = read(f"SELECT * FROM {t} ORDER BY k")
    assert df.schema["k"].dataType.simpleString() == "bigint"
    assert [tuple(r) for r in df.collect()] == [(2, "z"), (3, "c"), (4, "d")]
    a.query(f"DROP TABLE {t}")
    a.query(f"CREATE TABLE {t} (x INT) USING parquet LOCATION '{_loc()}'")
    a.query(f"INSERT INTO {t} VALUES (7)")
    df = read(f"SELECT * FROM {t}")
    assert [f.name for f in df.schema.fields] == ["x"]
    assert [tuple(r) for r in df.collect()] == [(7,)]
    a.query(f"DROP TABLE {t}")


_STABLE = 100  # keys 0..99 are updated, never deleted
_SECONDS = 5.0


def test_spark_readers_see_one_version_while_writers_publish(engine):
    """Three sessions scan one table through Spark while point UPDATEs,
    appends, DELETEs and CHECKPOINT publish. Every scan returns each
    stable key exactly once, and a statement that scans the table twice
    (a ``max`` subquery beside the main scan) sees one version: its two
    counts agree. A scan whose files a later publish moved away fails
    loudly once its re-runs are spent (the retired-file window, until
    files stay in place until expiry); that is counted, never a wrong
    answer."""
    db = f"sync_stress_{uuid.uuid4().hex[:8]}"
    engine.execute(f"CREATE DATABASE {db}")
    table = f"{db}.t"
    engine.execute(f"CREATE TABLE {table} (k BIGINT, v BIGINT) USING parquet LOCATION '{_loc()}'")
    insert_arrow(engine.spark, table, pa.table({"k": list(range(_STABLE)), "v": [0] * _STABLE}))
    sessions = [engine.sessions.get_or_create(f"{db}-reader-{i}") for i in range(3)]
    deadline = time.time() + _SECONDS
    quiet = threading.Event()  # set while a CHECKPOINT runs
    writers_done = threading.Event()
    failures: list[str] = []
    errors: list[BaseException] = []
    counts: dict[str, int] = {}

    def loop(kind, fn, until):
        def run():
            rng = random.Random(kind)
            try:
                while until():
                    fn(rng)
                    counts[kind] = counts.get(kind, 0) + 1
            except BaseException as e:  # noqa: BLE001 — reported below
                errors.append(e)

        return threading.Thread(target=run, name=kind)

    def writing():
        return time.time() < deadline

    def update(rng):
        while quiet.is_set():
            time.sleep(0.01)
        k, v = rng.randrange(_STABLE), rng.randrange(10**6)
        assert engine.execute_update(f"UPDATE {table} SET v = {v} WHERE k = {k}") == 1

    churn_key = [10_000]

    def churn(rng):
        k = churn_key[0]
        churn_key[0] += 1
        insert_arrow(engine.spark, table, pa.table({"k": [k], "v": [k]}))
        while quiet.is_set():
            time.sleep(0.01)
        if k % 2:
            assert engine.execute_update(f"DELETE FROM {table} WHERE k = {k}") == 1

    def checkpoint(rng):
        time.sleep(1.5)  # the other writers' turn
        quiet.set()
        try:
            for r in engine.query(f"CHECKPOINT {db}").collect():
                counts["compacted"] = counts.get("compacted", 0) + r.compacted
        finally:
            quiet.clear()

    def reader(i, session):
        def read(rng):
            try:
                keys = [r.k for r in session.query(f"SELECT k FROM {table}").collect()]
                r = session.query(
                    f"SELECT (SELECT count(*) FROM {table}) AS a, "
                    f"(SELECT count(*) FROM {table} WHERE k <= (SELECT max(k) FROM {table})) AS b"
                ).collect()[0]
            except Exception as e:  # noqa: BLE001 — anything else is reported
                if "FILE_NOT_EXIST" not in str(e):
                    raise
                counts[f"moved-{i}"] = counts.get(f"moved-{i}", 0) + 1
                return
            stable = sorted(x for x in keys if x < _STABLE)
            if stable != list(range(_STABLE)) or len(set(keys)) != len(keys):
                failures.append(f"scan: {len(keys)} keys, {len(set(keys))} distinct")
            if r.a != r.b:
                failures.append(f"two versions in one statement: {r.a} != {r.b}")
            counts[f"ok-{i}"] = counts.get(f"ok-{i}", 0) + 1

        return read

    writers = [
        loop("update", update, writing),
        loop("churn", churn, writing),
        loop("checkpoint", checkpoint, writing),
    ]
    readers = [
        # each reader goes on until the writers are done and it has
        # completed a scan
        loop(
            f"read-{i}",
            reader(i, session),
            lambda i=i: not writers_done.is_set() or f"ok-{i}" not in counts,
        )
        for i, session in enumerate(sessions)
    ]
    try:
        for t in writers + readers:
            t.start()
        for t in writers:
            t.join()
        writers_done.set()
        for t in readers:
            t.join()
        assert not errors, errors
        assert not failures, failures[:5]
        assert all(counts.get(f"ok-{i}", 0) >= 1 for i in range(3)), counts
        assert counts["update"] >= 2 and counts.get("compacted", 0) >= 1, counts
    finally:
        engine.execute(f"DROP TABLE {table}")
        engine.execute(f"DROP DATABASE {db}")


def test_time_travel_helper_views_are_dropped(engine):
    """``AT (VERSION => n)`` plans against a helper temp view; the view
    is dropped once the statement has planned, so the catalog listing
    (Flight GetTables) keeps only the table, and the lazy result still
    collects."""
    from swanlake_spark.engine import Engine

    # a fresh session: no other test's temp views in its listing
    eng = Engine(spark=engine.spark.newSession())
    db = f"sync_tt_{uuid.uuid4().hex[:8]}"
    eng.execute(f"CREATE DATABASE {db}")
    try:
        eng.execute(f"CREATE TABLE {db}.t (k INT) USING parquet LOCATION '{_loc()}'")
        eng.execute(f"INSERT INTO {db}.t VALUES (1), (2)")
        eng.execute(f"INSERT INTO {db}.t VALUES (3)")
        results = [
            eng.query(f"SELECT count(*) AS n FROM {db}.t AT (VERSION => 2)") for _ in range(2)
        ]
        assert [t["name"] for t in eng.list_tables(db)] == ["t"]
        assert [r.collect()[0].n for r in results] == [2, 2]
    finally:
        eng.execute(f"DROP TABLE IF EXISTS {db}.t")
        eng.execute(f"DROP DATABASE {db}")
