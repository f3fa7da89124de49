"""In-process cost of the point writes a YCSB client sends, no server.

Usage: python tools/point_write_probe.py [--files N] [--rows N] [--reps N]
                                         [--cpus N] [--seed N]

Builds an Engine, creates a YCSB-shaped table (``ycsb_key INT PRIMARY
KEY`` plus ten 100-character string fields) as ``--files`` Parquet files
over ``--rows`` keys, and then times ``--reps`` calls each of

- a point UPDATE setting all ten fields (``Engine.execute_update``),
- a point DELETE of one existing key (``Engine.execute_update``),
- a one-row append of a fresh key (``operators.ingest.insert_arrow``,
  the Flight SQL prepared-INSERT path).

For each it prints the median and quartiles of milliseconds per call and
the Spark jobs per call (counted with a job group and the status
tracker). The first call of each kind is a warm-up and is not counted.
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

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_FIELDS = [f"field{i}" for i in range(10)]
_FIELD_LEN = 100


def _value(rng: random.Random) -> str:
    return "".join(rng.choices("abcdefghijklmnopqrstuvwxyz", k=_FIELD_LEN))


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

    from swanlake_spark.config import EngineConfig
    from swanlake_spark.engine import Engine
    from swanlake_spark.operators.ingest import insert_arrow

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
        pq.write_table(pa.table(data), f"{loc}/part-{i:05d}.snappy.parquet")
    spark.catalog.refreshTable(table)

    live = list(range(args.rows))
    rng.shuffle(live)
    next_key = args.rows

    def update() -> None:
        sets = ", ".join(f"{f} = '{_value(rng)}'" for f in _FIELDS)
        key = live[rng.randrange(len(live))]
        assert eng.execute_update(f"UPDATE {table} SET {sets} WHERE ycsb_key = {key}") == 1

    def delete() -> None:
        assert eng.execute_update(f"DELETE FROM {table} WHERE ycsb_key = {live.pop()}") == 1

    def append() -> None:
        nonlocal next_key
        row = {"ycsb_key": [next_key]} | {f: [_value(rng)] for f in _FIELDS}
        insert_arrow(spark, table, pa.table(row))
        live.append(next_key)
        next_key += 1

    print(f"table: {args.files} files, {args.rows} rows; {args.reps} calls per kind")
    for name, fn in (("update", update), ("delete", delete), ("append", append)):
        fn()  # warm-up
        ms, jobs = [], []
        for _ in range(args.reps):
            group = f"pwp_{uuid.uuid4().hex}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            fn()
            ms.append((time.perf_counter() - t0) * 1000)
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        q1, med, q3 = statistics.quantiles(ms, n=4)
        print(
            f"{name:7s} ms/call median {med:7.1f} (quartiles {q1:.1f}-{q3:.1f})"
            f"  spark jobs/call {statistics.mean(jobs):.2f}"
        )
    eng.stop()


if __name__ == "__main__":
    main()
