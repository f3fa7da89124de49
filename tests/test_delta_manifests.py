"""Delta manifests: a version records the files it added and removed,
and every reader rebuilds the full listing from the chain
(``versions._reconstruct``).

A seeded random run of appends (driver-side and Spark), point writes,
CHECKPOINT and ALTER records the table directory's listing and rows at
every version; each version must read back as exactly that, through
``AT (VERSION => n)``, ``snapshots()``, ``table_changes``, ``rollback``
and ``expire``, and again after the process forgets every manifest it
held, as an engine started on the same warehouse would.
"""

from __future__ import annotations

import json
import os
import random
import tempfile
import uuid
from collections import Counter

import pyarrow as pa
import pytest

from swanlake_spark import filestats, versions
from swanlake_spark.engine import Engine
from swanlake_spark.errors import NotFound
from swanlake_spark.operators.ingest import insert_arrow
from swanlake_spark.versions import SnapshotUnavailable


def _rows(engine, sql: str) -> Counter:
    return Counter((r.k, r.s) for r in engine.query(sql).df.select("k", "s").collect())


def _changes(spark, table: str, a: int, b: int) -> Counter:
    got = Counter()
    for r in versions.table_changes(spark, table, a, b).select("k", "s", "_change_type").collect():
        got[(r.k, r.s, r._change_type)] += 1
    return got


def _readable(engine, table: str, v: int) -> bool:
    try:
        _rows(engine, f"SELECT * FROM {table} AT (VERSION => {v})")
    except SnapshotUnavailable:
        return False  # CHECKPOINT deleted its inputs
    return True


@pytest.fixture()
def chain(engine):
    """``(table, loc, {version: (listing, rows)})`` after a seeded random
    sequence of writes on a table of its own database. Each version is
    read back through ``AT (VERSION => n)`` and ``table_changes`` as it
    lands, before the CHECKPOINT deletes the files older ones read."""
    spark = engine.spark
    db = f"dm_{uuid.uuid4().hex[:8]}"
    table = f"{db}.t"
    loc = tempfile.mkdtemp(prefix="swl_dm_")
    engine.execute(f"CREATE DATABASE {db}")
    engine.execute(
        f"CREATE TABLE {table} (k INT, s STRING) USING parquet LOCATION '{loc}'"
    )
    rng = random.Random(1401)
    live: list[int] = []
    next_key = 0
    seen: dict[int, tuple] = {}

    def note(compacted: bool = False) -> None:
        v = versions.current_version(spark, table)
        rows = _rows(engine, f"SELECT * FROM {table}")
        assert _rows(engine, f"SELECT * FROM {table} AT (VERSION => {v})") == rows, v
        if seen and not compacted:  # a compaction deleted the older files
            p, (_, was) = max(seen.items())
            assert _changes(spark, table, p, v) == Counter(
                {(k, s, "insert"): n for (k, s), n in (rows - was).items()}
            ) + Counter({(k, s, "delete"): n for (k, s), n in (was - rows).items()}), (p, v)
        seen[v] = (versions._list_data_files(spark, loc), rows)

    note()
    ops = ["append"] * 3 + ["insert"] + ["update"] * 3 + ["delete"] * 2
    for step in range(30):
        op = {12: "alter", 20: "checkpoint"}.get(step) or (rng.choice(ops) if live else "append")
        if op == "append":
            keys = list(range(next_key, next_key + rng.randint(1, 30)))
            next_key += len(keys)
            insert_arrow(spark, table, pa.table(
                {"k": pa.array(keys, pa.int32()), "s": [f"a{step}"] * len(keys)}
            ))
            live += keys
        elif op == "insert":
            engine.execute(f"INSERT INTO {table} (k, s) VALUES ({next_key}, 'i{step}')")
            live.append(next_key)
            next_key += 1
        elif op == "update":
            k = rng.choice(live)
            assert engine.execute_update(f"UPDATE {table} SET s = 'u{step}' WHERE k = {k}") == 1
        elif op == "delete":
            k = live.pop(rng.randrange(len(live)))
            assert engine.execute_update(f"DELETE FROM {table} WHERE k = {k}") == 1
        elif op == "alter":
            engine.execute(f"ALTER TABLE {table} ADD COLUMNS (c{step} INT)")
        else:
            assert engine.query(f"CHECKPOINT {db}").collect()[0].compacted
        note(op == "checkpoint")
    yield table, loc, seen
    engine.execute(f"DROP TABLE {table}")
    engine.execute(f"DROP DATABASE {db}")


def _listing(spark, table: str, v: int) -> list[tuple[str, int]]:
    return [(f["name"], f["size"]) for f in versions._manifest(spark, table, v)["files"]]


def _check(engine, table: str, seen: dict, only=None) -> None:
    """Every noted version reconstructs to its listing, and reads back
    its rows unless a compaction deleted its files."""
    spark = engine.spark
    snaps = {r.version: r for r in versions.snapshots(spark, table).collect()}
    for v, (files, rows) in seen.items():
        if only is not None and v not in only:
            continue
        assert _listing(spark, table, v) == files, v
        assert (snaps[v].n_files, snaps[v].bytes) == (len(files), sum(s for _, s in files))
        if _readable(engine, table, v):
            assert _rows(engine, f"SELECT * FROM {table} AT (VERSION => {v})") == rows, v


def test_every_version_reads_back_exactly(engine, chain):
    table, loc, seen = chain
    spark = engine.spark
    mdir = versions.versions_root(spark, table, loc).replace("file:", "") + "/manifests"
    kinds = Counter(
        "delta" if "prev" in json.load(open(f"{mdir}/{n}")) else "full"
        for n in os.listdir(mdir) if n.endswith(".json")
    )
    assert kinds["delta"] > kinds["full"] >= 1, kinds
    _check(engine, table, seen)


def test_rollback_and_expire_keep_every_kept_version(engine, chain):
    table, loc, seen = chain
    spark = engine.spark
    target = max(v for v in seen if v < max(seen) - 3 and _readable(engine, table, v))
    v = versions.rollback(spark, table, target)
    assert _rows(engine, f"SELECT * FROM {table}") == seen[target][1]
    seen[v] = (versions._list_data_files(spark, loc), seen[target][1])
    _check(engine, table, seen, only={v})
    kept = sorted(seen)[-4:]
    versions.expire(spark, table, keep_last=v - kept[0] + 1)
    _check(engine, table, seen, only=set(kept))
    with pytest.raises(NotFound):
        versions._manifest(spark, table, min(seen))


def test_a_fresh_process_reads_the_chain(engine, chain):
    """Forget every manifest this process holds, as an engine started on
    the same warehouse would, then read and write through a new Engine."""
    table, loc, seen = chain
    spark = engine.spark
    versions._NEWEST.pop(loc.rstrip("/"), None)
    filestats._SNAPSHOT.clear()
    fresh = Engine(spark=spark)
    m = versions.newest(spark, table, loc)
    files, rows = seen[max(seen)]
    assert list(m.files) == files and m.version == max(seen)
    _check(fresh, table, seen)
    k, _ = sorted(rows)[0]
    assert fresh.execute_update(f"UPDATE {table} SET s = 'fresh' WHERE k = {k}") == 1
    v = versions.current_version(spark, table)
    assert v == max(seen) + 1
    assert _listing(spark, table, v) == versions._list_data_files(spark, loc)
    got = fresh.query(f"SELECT k, s FROM {table} WHERE k = {k}").to_arrow()
    assert got.column("s").to_pylist() == ["fresh"]
