"""What a point statement costs on a warm table, and when the engine's
table-metadata memo must let go.

A point read, UPDATE, DELETE or one-row append consults the table's
newest manifest in memory (``versions.newest``) and the session's memo
of its catalog entry (``dml._table_meta``): the read makes no JVM call,
a write a few, and none lists the table directory or its manifest
directory. The memo is dropped whenever a name may resolve to another
object: a catalog change (through the engine or straight through
Spark), a temp view, a transaction's staging view, USE.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from contextlib import contextmanager
from unittest import mock

import pyarrow as pa
import pytest

from swanlake_spark import versions
from swanlake_spark.flightsql import append_parameters
from swanlake_spark.plans.parser import insert_info
from swanlake_spark.testing import py4j_calls


@contextmanager
def _listings(*dirs: str):
    """Count the ``os.scandir`` and ``os.listdir`` calls on ``dirs``."""
    wanted = {os.path.realpath(d) for d in dirs}
    count = [0]
    scandir, listdir = os.scandir, os.listdir

    def counted(fn):
        def wrapper(path=".", *args, **kwargs):
            if isinstance(path, str) and os.path.realpath(path) in wanted:
                count[0] += 1
            return fn(path, *args, **kwargs)

        return wrapper

    with mock.patch.object(os, "scandir", counted(scandir)), mock.patch.object(
        os, "listdir", counted(listdir)
    ):
        yield count


def _point_table(engine, rows: int = 400, files: int = 20) -> tuple[str, str]:
    """A primary-keyed table of ``rows`` keys in ``files`` key-range files,
    written through the driver-side append."""
    from swanlake_spark.operators.ingest import insert_arrow

    name = f"pc_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix="swl_pc_")
    engine.execute(
        f"CREATE TABLE {name} (k INT PRIMARY KEY, s STRING) USING parquet LOCATION '{loc}'"
    )
    step = rows // files
    for lo in range(0, rows, step):
        keys = list(range(lo, lo + step))
        insert_arrow(
            engine.spark, name,
            pa.table({"k": pa.array(keys, pa.int32()), "s": [f"v{k}" for k in keys]}),
        )
    return name, loc


def test_warm_point_statements_make_few_jvm_calls_and_list_nothing(engine):
    spark = engine.spark
    name, loc = _point_table(engine)
    mdir = versions.versions_root(spark, name, loc).replace("file:", "") + "/manifests"
    read = engine.statement(f"SELECT * FROM {name} WHERE k = ?")
    insert = insert_info(f"INSERT INTO {name} VALUES (?, ?)")
    fresh, gone = iter(range(10_000, 20_000)), iter(range(100, 400))
    ops = {
        "read": lambda: engine.query(read, args=[7]).to_arrow().num_rows == 1,
        "update": lambda: engine.execute_update(f"UPDATE {name} SET s = 'u' WHERE k = 8") == 1,
        "delete": lambda: engine.execute_update(f"DELETE FROM {name} WHERE k = {next(gone)}") == 1,
        "append": lambda: append_parameters(
            spark, insert, pa.table({"p0": pa.array([next(fresh)], pa.int32()), "p1": ["a"]})
        ) == 1,
    }
    limits = {"read": 0, "update": 3, "delete": 3, "append": 5}
    try:
        for op, fn in ops.items():
            assert fn(), op  # warm-up
            with _listings(loc, mdir) as listed, py4j_calls(spark) as calls:
                assert fn(), op
            assert calls[0] <= limits[op], (op, calls[0])
            assert listed[0] == 0, (op, listed[0])
        assert engine.query(read, args=[8]).to_arrow().column("s").to_pylist() == ["u"]
    finally:
        engine.execute(f"DROP TABLE {name}")


def test_point_write_manifest_bytes_do_not_grow_with_files(engine):
    """A point write records a delta manifest of the same size on a table
    of ten times the files, and a full listing at most once per about a
    listing's worth of deltas."""
    spark = engine.spark
    medians = []
    for rows, files in ((200, 20), (2000, 200)):
        name, loc = _point_table(engine, rows=rows, files=files)
        mdir = versions.versions_root(spark, name, loc).replace("file:", "") + "/manifests"
        try:
            sizes = []
            for k in range(0, 200, 10):
                before = set(os.listdir(mdir))
                assert engine.execute_update(f"UPDATE {name} SET s = 'u' WHERE k = {k}") == 1
                (new,) = set(os.listdir(mdir)) - before
                sizes.append(os.path.getsize(f"{mdir}/{new}"))
            medians.append(sorted(sizes)[len(sizes) // 2])
            listing = versions._listing_bytes(versions.newest(spark, name, loc).files, "")
            fulls = sum(size > 2 * medians[-1] for size in sizes)
            assert fulls <= 1 + sum(sizes) // listing, (sizes, listing)
        finally:
            engine.execute(f"DROP TABLE {name}")
    assert medians[0] < 400 and abs(medians[1] - medians[0]) <= 4, medians


# -- memo invalidation ------------------------------------------------------------


def _reads(engine, name: str, key: int):
    """The point read's rows as (k, s) pairs."""
    got = engine.query(f"SELECT k, s FROM {name} WHERE k = {key}").to_arrow()
    return list(zip(got.column("k").to_pylist(), got.column("s").to_pylist()))


def _warm(engine, name: str) -> None:
    _reads(engine, name, 1)
    engine.execute_update(f"UPDATE {name} SET s = 'warm' WHERE k = 2")


def _small_table(engine, name: str, tag: str, create=None) -> str:
    loc = tempfile.mkdtemp(prefix="swl_pcm_")
    (create or engine.execute)(
        f"CREATE TABLE {name} (k INT, s STRING) USING parquet LOCATION '{loc}'"
    )
    engine.execute(f"INSERT INTO {name} VALUES (1, '{tag}'), (2, '{tag}')")
    return loc


@pytest.mark.parametrize("through", ["engine", "spark"])
def test_memo_follows_drop_and_recreate_at_a_new_location(engine, through):
    name = f"pcm_{uuid.uuid4().hex[:8]}"
    run = engine.execute if through == "engine" else engine.spark.sql
    old = _small_table(engine, name, "old")
    _warm(engine, name)
    run(f"DROP TABLE {name}")
    new = _small_table(engine, name, "new", create=run)
    try:
        assert _reads(engine, name, 1) == [(1, "new")]
        assert engine.execute_update(f"UPDATE {name} SET s = 'x' WHERE k = 1") == 1
        assert _reads(engine, name, 1) == [(1, "x")]
        assert versions.newest(engine.spark, name, new).loc.endswith(os.path.basename(new))
        assert sorted(engine.query(f"SELECT s FROM parquet.`{old}`").collect()) == [
            ("old",), ("warm",)
        ]
    finally:
        engine.execute(f"DROP TABLE {name}")


def test_memo_follows_rename(engine):
    name = f"pcm_{uuid.uuid4().hex[:8]}"
    _small_table(engine, name, "a")
    _warm(engine, name)
    engine.execute(f"ALTER TABLE {name} RENAME TO {name}_r")
    try:
        assert _reads(engine, f"{name}_r", 1) == [(1, "a")]
        assert engine.execute_update(f"UPDATE {name}_r SET s = 'b' WHERE k = 1") == 1
        assert _reads(engine, f"{name}_r", 1) == [(1, "b")]
        with pytest.raises(Exception):
            _reads(engine, name, 1)
        with pytest.raises(Exception):
            engine.execute_update(f"UPDATE {name} SET s = 'c' WHERE k = 1")
    finally:
        engine.execute(f"DROP TABLE {name}_r")


def test_memo_follows_add_columns(engine):
    name = f"pcm_{uuid.uuid4().hex[:8]}"
    _small_table(engine, name, "a")
    _warm(engine, name)
    engine.execute(f"ALTER TABLE {name} ADD COLUMNS (n INT)")
    try:
        got = engine.query(f"SELECT * FROM {name} WHERE k = 1").to_arrow()
        assert got.column_names == ["k", "s", "n"] and got.column("n").to_pylist() == [None]
        assert engine.execute_update(f"UPDATE {name} SET n = 5 WHERE k = 1") == 1
        got = engine.query(f"SELECT * FROM {name} WHERE k = 1").to_arrow()
        assert got.column("n").to_pylist() == [5]
    finally:
        engine.execute(f"DROP TABLE {name}")


def test_memo_follows_a_shadowing_temp_view(engine):
    name = f"pcm_{uuid.uuid4().hex[:8]}"
    _small_table(engine, name, "table")
    _warm(engine, name)
    engine.execute(f"CREATE TEMP VIEW {name} AS SELECT 1 AS k, 'view' AS s")
    try:
        assert _reads(engine, name, 1) == [(1, "view")]
    finally:
        engine.execute(f"DROP VIEW {name}")
    try:
        assert _reads(engine, name, 1) == [(1, "table")]
        assert engine.execute_update(f"UPDATE {name} SET s = 'x' WHERE k = 1") == 1
        assert _reads(engine, name, 1) == [(1, "x")]
    finally:
        engine.execute(f"DROP TABLE {name}")


def test_memo_follows_a_transaction_staging_view(engine):
    name = f"pcm_{uuid.uuid4().hex[:8]}"
    _small_table(engine, name, "a")
    sess = engine.sessions.get_or_create(f"pcm-{uuid.uuid4().hex[:8]}")
    try:
        sess.query(f"SELECT k, s FROM {name} WHERE k = 1")
        sess.execute_update(f"UPDATE {name} SET s = 'w' WHERE k = 2")
        sess.begin_transaction()
        sess.execute_update(f"UPDATE {name} SET s = 'staged' WHERE k = 1")
        got = sess.query(f"SELECT k, s FROM {name} WHERE k = 1").to_arrow()
        assert got.column("s").to_pylist() == ["staged"]
        sess.commit_transaction()
        got = sess.query(f"SELECT k, s FROM {name} WHERE k = 1").to_arrow()
        assert got.column("s").to_pylist() == ["staged"]
        assert sess.execute_update(f"UPDATE {name} SET s = 'after' WHERE k = 1") == 1
        assert _reads(engine, name, 1) == [(1, "after")]
    finally:
        engine.sessions.remove(sess.session_id)
        engine.execute(f"DROP TABLE {name}")


def test_memo_follows_use(engine):
    name = f"pcm_{uuid.uuid4().hex[:8]}"
    db = f"pcm_db_{uuid.uuid4().hex[:8]}"
    _small_table(engine, name, "default")
    engine.execute(f"CREATE DATABASE {db}")
    _small_table(engine, f"{db}.{name}", "other")
    _warm(engine, name)
    try:
        engine.execute(f"USE {db}")
        assert _reads(engine, name, 1) == [(1, "other")]
        assert engine.execute_update(f"UPDATE {name} SET s = 'x' WHERE k = 1") == 1
        assert _reads(engine, f"{db}.{name}", 1) == [(1, "x")]
    finally:
        engine.execute("USE default")
    try:
        assert _reads(engine, name, 1) == [(1, "default")]
    finally:
        engine.execute(f"DROP TABLE {name}")
        engine.execute(f"DROP TABLE {db}.{name}")
        engine.execute(f"DROP DATABASE {db}")


@pytest.mark.parametrize("route", ["driver", "spark", "copy", "stream"])
def test_append_lists_nothing(engine, tmp_path, route):
    """Every append route stages its files, then publishes them with
    the new live set, so none lists the table directory: the
    driver-side and the Spark producer of ``insert_arrow``, ``COPY …
    FROM`` and the streaming sink."""
    from swanlake_spark.operators.ingest import insert_arrow
    from swanlake_spark.streaming import (
        stream_events_from_directory,
        streaming_append_to_table,
    )

    spark = engine.spark
    name = f"pc_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix="swl_pc_")
    # a TIMESTAMP column: Spark stages the batch
    ts = "" if route == "driver" else ", ts TIMESTAMP"
    engine.execute(
        f"CREATE TABLE {name} (event_id BIGINT, user_id BIGINT, event_type STRING{ts}) "
        f"USING parquet LOCATION '{loc}'"
    )
    rows = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([7, 8], pa.int64()),
        "event_type": ["click", "view"],
    })
    src = tmp_path / "src"
    src.mkdir()
    if route == "copy":
        import pyarrow.parquet as pq

        pq.write_table(rows, src / "rows.parquet")
    elif route == "stream":
        (src / "rows.json").write_text(
            '{"event_id": 1, "ts": "2025-01-01T00:00:00.000Z", "user_id": 7}\n'
            '{"event_id": 2, "ts": "2025-01-01T00:00:01.000Z", "user_id": 8}\n'
        )
    append = {
        "driver": lambda: insert_arrow(spark, name, rows),
        "spark": lambda: insert_arrow(spark, name, rows),
        "copy": lambda: engine.execute_update(f"COPY {name} FROM '{src}/rows.parquet'"),
        "stream": lambda: streaming_append_to_table(
            stream_events_from_directory(spark, str(src)), name, str(tmp_path / "ckpt")
        ).awaitTermination(120),
    }[route]
    with _listings(loc) as listed:
        append()
    assert listed[0] == 0
    assert engine.query(f"SELECT count(*) AS n FROM {name}").collect()[0].n == 2
