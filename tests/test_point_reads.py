"""Point reads served on the driver while writers publish.

A point SELECT reads the files of the table's newest snapshot: the
newest manifest when it equals the live listing, or, while a writer
holds the table write lock, the manifest's files resolved
retained-first. A read that took the live listing alone would see a
copy-on-write publish half done (old and new files together) and return
a key twice.
"""

from __future__ import annotations

import random
import tempfile
import threading
import time
import uuid
from collections import Counter

import pyarrow as pa
import pytest

from swanlake_spark.operators.ingest import insert_arrow

_STABLE = 200  # keys 0..199 are updated, never deleted
_SECONDS = 4.0


@pytest.fixture
def stress_table(engine):
    """``db.t (k BIGINT, v BIGINT)`` in a database of its own (CHECKPOINT
    compacts every table of one database), holding the stable keys."""
    db = f"pr_stress_{uuid.uuid4().hex[:8]}"
    engine.execute(f"CREATE DATABASE {db}")
    table = f"{db}.t"
    engine.execute(
        f"CREATE TABLE {table} (k BIGINT, v BIGINT) USING parquet "
        f"LOCATION '{tempfile.mkdtemp(prefix='swl_pr_')}'"
    )
    keys = list(range(_STABLE))
    insert_arrow(engine.spark, table, pa.table({"k": keys, "v": [0] * _STABLE}))
    yield db, table
    engine.execute(f"DROP TABLE {table}")
    engine.execute(f"DROP DATABASE {db}")


def test_reads_overlapping_writes_see_each_live_key_once(engine, stress_table):
    """For a few seconds, point reads and scans run beside a point
    UPDATE loop, an append-then-DELETE loop and a CHECKPOINT loop on one
    table, and go on until the last writer is done. Every scan returns
    each stable key exactly once and each churned key at most once, and
    every point read one row. UPDATE and DELETE pause while a CHECKPOINT
    runs: compaction publishes only when no file it read was replaced
    meanwhile, so at least one of its publishes lands during the reads."""
    db, table = stress_table
    deadline = time.time() + _SECONDS
    quiet = threading.Event()  # set while a CHECKPOINT runs
    writers_done = threading.Event()
    failures: list[str] = []
    errors: list[BaseException] = []
    counts: Counter = Counter()

    def loop(kind, fn, until):
        def run():
            rng = random.Random(kind)
            try:
                while until():
                    fn(rng)
                    counts[kind] += 1
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
        assert engine.execute_update(f"DELETE FROM {table} WHERE k = {k}") == 1

    def checkpoint(rng):
        time.sleep(2.0)  # the other writers' turn
        quiet.set()
        try:
            for r in engine.query(f"CHECKPOINT {db}").collect():
                counts["compacted"] += r.compacted
        finally:
            quiet.clear()

    def read(rng):
        time.sleep(0.01)  # leave the writers' Python threads some time
        k = rng.randrange(_STABLE)
        rows = engine.query(f"SELECT k, v FROM {table} WHERE k = {k}").to_arrow()
        if rows.column("k").to_pylist() != [k]:
            failures.append(f"k = {k}: {rows.column('k').to_pylist()}")
        keys = engine.query(
            f"SELECT * FROM {table} WHERE k >= 0 AND k < 20000 ORDER BY k"
        ).to_arrow().column("k").to_pylist()
        stable = [x for x in keys if x < _STABLE]
        if stable != list(range(_STABLE)) or len(set(keys)) != len(keys):
            dup = sorted({x for x in keys if keys.count(x) > 1})
            missing = sorted(set(range(_STABLE)) - set(keys))
            failures.append(f"scan: duplicated {dup}, missing {missing}")

    before = engine.metrics.snapshot()
    writers = [
        loop("update", update, writing),
        loop("churn", churn, writing),
        loop("checkpoint", checkpoint, writing),
    ]
    readers = [
        loop(f"read-{i}", read, lambda: not writers_done.is_set()) for i in range(2)
    ]
    for t in writers + readers:
        t.start()
    for t in writers:
        t.join()
    writers_done.set()
    for t in readers:
        t.join()
    after = engine.metrics.snapshot()
    assert not errors, errors
    assert not failures, failures[:5]
    reads = counts["read-0"] + counts["read-1"]
    assert reads >= 10 and counts["update"] >= 2 and counts["compacted"] >= 1, counts
    # each read is two point reads, which the driver serves
    served = after.driver_reads - before.driver_reads
    assert served >= 0.9 * 2 * reads, (served, reads)
