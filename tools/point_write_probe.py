"""In-process cost of the point statements a YCSB client sends, no server.

Usage: python tools/point_write_probe.py [--files N] [--rows N] [--reps N]
                                         [--cpus N] [--seed N]

Builds an Engine, creates a YCSB-shaped table (``ycsb_key INT PRIMARY
KEY`` plus ten 100-character string fields) as ``--files`` Parquet files
over ``--rows`` keys, records them as the table's snapshot, and then
times ``--reps`` calls each of

- a prepared point read, ``SELECT * … WHERE ycsb_key = ?``
  (``Engine.query`` with the key bound, then ``to_arrow``), which
  pyarrow answers on the driver,
- a prepared ``SCAN_KEYS``-key scan, ``WHERE ycsb_key >= ? AND ycsb_key
  < ? ORDER BY ycsb_key NULLS LAST`` (the transpiled YCSB scan), also
  answered on the driver,
- a point UPDATE setting all ten fields (``Engine.execute_update``),
  which pyarrow rewrites on the driver,
- the same UPDATE with an extra term the footer bounds do not cover
  (``AND field0 <> ''``), which takes the Spark producer,
- the same UPDATE with a predicate that bounds no integral column
  (``WHERE ycsb_key + 0 = …``): a probe job finds the file holding the
  key, then the Spark producer rewrites it,
- a ``count(*)`` that Spark runs in a second client session, each after
  an untimed point UPDATE in the first: the second session re-installs
  the table from its newest manifest before it plans (``sync.py``),
- a point DELETE of one existing key (``Engine.execute_update``),
- a one-row append of a fresh key as Flight SQL's DoPut sends it: the
  positional parameter batch of a prepared ``INSERT … VALUES (?, …)``
  (``flightsql.append_parameters``, which names the columns after the
  table's and appends them with ``operators.ingest.insert_arrow``),
- a ``CHECKPOINT`` (the compaction that stages the table's files and
  publishes them under the table write lock), each after
  ``APPENDS_PER_CHECKPOINT`` untimed one-row appends,
- a ``BULK_ROWS``-row append of fresh keys, the size of one perfbench
  ``ycsb_mix`` load batch,
- a ``SPARK_ROWS``-row ``insert_arrow`` into a second, events-shaped
  table (perfbench ``ingest_dashboard``'s ``events``, in a database of
  its own): its TIMESTAMP column takes the append's Spark producer.

For each it prints the median and quartiles of milliseconds per call, the
Spark jobs per call (counted with a job group and the status tracker),
the Py4J round trips to the JVM per call (``testing.py4j_calls``), the
listings of either table's directory and manifest directory per call
(``os.scandir`` and ``os.listdir`` calls on them), the manifest bytes
each call wrote, and the milliseconds per call spent holding a table
write lock (``dml.table_write_lock``). The first call of each kind is a
warm-up and is not counted.
"""

from __future__ import annotations

import argparse
import os
import random
import statistics
import sys
import tempfile
import time
import uuid
from contextlib import contextmanager
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_FIELDS = [f"field{i}" for i in range(10)]
_FIELD_LEN = 100
APPENDS_PER_CHECKPOINT = 8
BULK_ROWS = 25_000
SPARK_ROWS = 2_000
SCAN_KEYS = 40


def _value(rng: random.Random) -> str:
    return "".join(rng.choices("abcdefghijklmnopqrstuvwxyz", k=_FIELD_LEN))


@contextmanager
def _listings(*dirs: str):
    """Count the ``os.scandir`` and ``os.listdir`` calls on ``dirs``:
    yields a one-item list whose item is the count."""
    wanted = {os.path.realpath(d) for d in dirs}
    count = [0]

    def counted(fn):
        def wrapper(path=".", *args, **kwargs):
            if isinstance(path, str) and os.path.realpath(path) in wanted:
                count[0] += 1
            return fn(path, *args, **kwargs)

        return wrapper

    with mock.patch.object(os, "scandir", counted(os.scandir)), mock.patch.object(
        os, "listdir", counted(os.listdir)
    ):
        yield count


def _dir_sizes(d: str) -> dict[str, int]:
    return {e.path: e.stat().st_size for e in os.scandir(d)}


def _lock_hold_timer() -> list[float]:
    """Point every loaded ``swanlake_spark`` module's
    ``table_write_lock`` at a wrapper that adds the seconds each hold
    lasts to the one-item list it returns."""
    from swanlake_spark.operators import dml

    held = [0.0]
    lock = dml.table_write_lock

    @contextmanager
    def timed(*args, **kwargs):
        with lock(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                yield
            finally:
                held[0] += time.perf_counter() - t0

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("swanlake_spark") and (
            getattr(mod, "table_write_lock", None) is lock
        ):
            mod.table_write_lock = timed
    return held


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--files", type=int, default=16)
    ap.add_argument("--rows", type=int, default=100_000)
    ap.add_argument("--reps", type=int, default=20)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    import pyarrow as pa
    import pyarrow.parquet as pq

    from swanlake_spark import versions
    from swanlake_spark.config import EngineConfig
    from swanlake_spark.engine import Engine
    from swanlake_spark.flightsql import append_parameters
    from swanlake_spark.operators.ingest import insert_arrow
    from swanlake_spark.plans.parser import insert_info
    from swanlake_spark.testing import py4j_calls

    rng = random.Random(args.seed)
    eng = Engine(
        config=EngineConfig(
            app_name="point-write-probe",
            cpus=args.cpus,
            warehouse_dir=tempfile.mkdtemp(prefix="swl_pwp_wh_"),
        )
    )
    spark = eng.spark
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    table = f"usertable_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix="swl_pwp_")
    cols = ", ".join(f"{f} STRING" for f in _FIELDS)
    eng.execute(
        f"CREATE TABLE {table} (ycsb_key INT PRIMARY KEY, {cols}) "
        f"USING parquet LOCATION '{loc}'"
    )
    pool = [_value(rng) for _ in range(256)]
    step = -(-args.rows // args.files)
    for i, lo in enumerate(range(0, args.rows, step)):
        keys = list(range(lo, min(lo + step, args.rows)))
        data = {"ycsb_key": pa.array(keys, pa.int32())}
        for f in _FIELDS:
            data[f] = [rng.choice(pool) for _ in keys]
        pq.write_table(pa.table(data), f"{loc}/part-{i:05d}.parquet")
    spark.catalog.refreshTable(table)
    versions.record_version(spark, table, "load")
    mdir = versions.versions_root(spark, table, loc).replace("file:", "") + "/manifests"
    # in a database of its own, so CHECKPOINT (of the current one) leaves it be
    events = f"pwp_{uuid.uuid4().hex[:8]}.events"
    eng.execute(f"CREATE DATABASE {events.split('.')[0]}")
    ev_loc = tempfile.mkdtemp(prefix="swl_pwp_")
    eng.execute(
        f"CREATE TABLE {events} (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        f"event_type STRING, value DOUBLE, props STRING) USING parquet LOCATION '{ev_loc}'"
    )
    ev_mdir = versions.versions_root(spark, events, ev_loc).replace("file:", "") + "/manifests"
    held = _lock_hold_timer()

    live = list(range(args.rows))
    rng.shuffle(live)
    next_key = args.rows

    point_read = eng.statement(f"SELECT * FROM {table} WHERE ycsb_key = ?")
    insert = insert_info(
        f"INSERT INTO {table} VALUES ({', '.join('?' * (1 + len(_FIELDS)))})"
    )
    scan_keys = eng.statement(
        f"SELECT * FROM {table} WHERE ycsb_key >= ? AND ycsb_key < ? "
        "ORDER BY ycsb_key NULLS LAST"
    )

    def read() -> None:
        key = live[rng.randrange(len(live))]
        assert eng.query(point_read, args=[key]).to_arrow().num_rows == 1

    def scan() -> None:
        lo = live[rng.randrange(len(live))]
        keys = eng.query(scan_keys, args=[lo, lo + SCAN_KEYS]).to_arrow().column(0)
        assert 0 < len(keys) <= SCAN_KEYS and keys.to_pylist() == sorted(keys.to_pylist())

    def update(where: str = "ycsb_key = {}") -> None:
        sets = ", ".join(f"{f} = '{_value(rng)}'" for f in _FIELDS)
        key = live[rng.randrange(len(live))]
        sql = f"UPDATE {table} SET {sets} WHERE {where.format(key)}"
        assert eng.execute_update(sql) == 1

    reader = eng.sessions.get_or_create("point-write-probe-reader")

    def spark_read() -> None:
        assert reader.query(f"SELECT count(*) AS n FROM {table}").collect()[0].n == len(live)

    def delete() -> None:
        assert eng.execute_update(f"DELETE FROM {table} WHERE ycsb_key = {live.pop()}") == 1

    def append() -> None:
        nonlocal next_key
        values = [pa.array([next_key], pa.int32())] + [[_value(rng)] for _ in _FIELDS]
        params = pa.table({f"p{i}": v for i, v in enumerate(values)})
        assert append_parameters(spark, insert, params) == 1
        live.append(next_key)
        next_key += 1

    def bulk_append() -> None:
        nonlocal next_key
        keys = list(range(next_key, next_key + BULK_ROWS))
        row = {"ycsb_key": keys} | {f: [rng.choice(pool) for _ in keys] for f in _FIELDS}
        insert_arrow(spark, table, pa.table(row))
        live.extend(keys)
        next_key += BULK_ROWS

    next_event = 0

    def spark_append() -> None:
        nonlocal next_event
        ids = list(range(next_event, next_event + SPARK_ROWS))
        insert_arrow(spark, events, pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array([i * 10_000 for i in ids], pa.timestamp("us")),
            "user_id": pa.array([i % 5000 for i in ids], pa.int64()),
            "event_type": [("click", "view", "purchase")[i % 3] for i in ids],
            "value": [i % 100_000 / 100 for i in ids],
            "props": [f'{{"src":"app","n":{i % 97}}}' for i in ids],
        }))
        next_event += SPARK_ROWS

    def appends() -> None:
        for _ in range(APPENDS_PER_CHECKPOINT):
            append()

    def checkpoint() -> None:
        assert eng.query("CHECKPOINT").collect()[0].compacted

    print(f"table: {args.files} files, {args.rows} rows; {args.reps} calls per kind")
    kinds = [
        ("read", read, None),
        ("scan", scan, None),
        ("update", update, None),
        ("update-spark", lambda: update("ycsb_key = {} AND field0 <> ''"), None),
        ("update-probe", lambda: update("ycsb_key + 0 = {}"), None),
        ("spark-read", spark_read, update),
        ("delete", delete, None),
        ("append", append, None),
        ("append-spark", spark_append, None),
        ("checkpoint", checkpoint, appends),
        # last: the rows it adds would grow the table CHECKPOINT rewrites
        ("append-25k", bulk_append, None),
    ]
    for name, fn, prep in kinds:
        if prep:
            prep()
        fn()  # warm-up
        ms, jobs, calls, lists, written, locked = [], [], [], [], [], []
        for _ in range(args.reps):
            if prep:
                prep()
            group = f"pwp_{uuid.uuid4().hex}"
            sc.setJobGroup(group, name)
            before = _dir_sizes(mdir) | _dir_sizes(ev_mdir)
            held[0] = 0.0
            with _listings(loc, mdir, ev_loc, ev_mdir) as listed, py4j_calls(spark) as n:
                t0 = time.perf_counter()
                fn()
                ms.append((time.perf_counter() - t0) * 1000)
            locked.append(held[0] * 1000)
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            calls.append(n[0])
            lists.append(listed[0])
            written.append(sum(
                size for f, size in (_dir_sizes(mdir) | _dir_sizes(ev_mdir)).items()
                if f not in before
            ))
        q1, med, q3 = statistics.quantiles(ms, n=4)
        print(
            f"{name:12s} ms/call median {med:7.1f} (quartiles {q1:.1f}-{q3:.1f})"
            f"  spark jobs/call {statistics.mean(jobs):.2f}"
            f"  py4j calls/call {statistics.mean(calls):.1f}"
            f"  listings/call {statistics.mean(lists):.1f}"
            f"  manifest bytes/call {statistics.mean(written):.0f}"
            f"  lock ms/call {statistics.median(locked):.1f}"
        )
    eng.stop()


if __name__ == "__main__":
    main()
