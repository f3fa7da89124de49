"""Per-cycle compile churn of the 22 TPC-H statements, run in process.

Usage: python tools/codegen_churn.py --sf-dir DIR [--cycles N] [--cpus N]
                                     [--cache-entries N]

Builds an Engine configured like a deployed server
(``client_dialect="duckdb"``), attaches the TPC-H parquet tables in
``--sf-dir`` (default: ``$SPARK_GRAFT_SF_DIR``), prepares the 22 queries
once in one Session (their DuckDB text, as a Flight SQL client sends it)
and runs all 22 through ``Session.execute_prepared`` + ``to_arrow`` for N
cycles. Per cycle it prints the Janino compiles, classes loaded, JIT ms
and wall seconds, as deltas of ``swanlake_spark.metrics.jvm_counters``.

``--cache-entries`` overrides ``spark.sql.codegen.cache.maxEntries`` at
session build time (100 is Spark's default), so the engine's setting can
be compared against another on the same tree.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--cycles", type=int, default=5)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--cache-entries", type=int)
    args = ap.parse_args()
    if not args.sf_dir:
        ap.error("--sf-dir (or SPARK_GRAFT_SF_DIR) is required")

    from pyspark.sql import SparkSession

    from swanlake_spark.config import EngineConfig
    from swanlake_spark.engine import Engine
    from swanlake_spark.metrics import jvm_counters
    from swanlake_spark.queries.tpch import TPCH_QUERIES

    cfg = EngineConfig(
        app_name="codegen-churn",
        cpus=args.cpus,
        client_dialect="duckdb",
        warehouse_dir=tempfile.mkdtemp(prefix="swl_churn_wh_"),
    )
    confs = cfg.spark_confs()
    if args.cache_entries is not None:
        confs[_CACHE_CONF] = str(args.cache_entries)
    confs["spark.ui.showConsoleProgress"] = "false"
    builder = SparkSession.builder.appName(cfg.app_name).master(f"local[{cfg.cpus}]")
    for k, v in confs.items():
        builder = builder.config(k, v)
    engine = Engine(spark=builder.getOrCreate(), config=cfg)
    engine.spark.sparkContext.setLogLevel("ERROR")
    engine.attach_warehouse(args.sf_dir)
    sess = engine.sessions.get_or_create("codegen-churn")
    handles = {
        name: sess.create_prepared_statement(q.oracle).handle
        for name, q in TPCH_QUERIES.items()
    }
    print(f"{_CACHE_CONF}={confs[_CACHE_CONF]} cpus={cfg.cpus} statements={len(handles)}")
    print(f"{'cycle':>5} {'compiles':>9} {'compile_ms':>11} {'classes':>8} {'jit_ms':>8} {'wall_s':>7}")
    before = jvm_counters(engine.spark)
    for cycle in range(1, args.cycles + 1):
        t0 = time.perf_counter()
        for handle in handles.values():
            sess.execute_prepared(handle).to_arrow()
        wall = time.perf_counter() - t0
        after = jvm_counters(engine.spark)
        d = {k: after[k] - before[k] for k in after}
        before = after
        print(
            f"{cycle:>5} {d['janino_compiles']:>9} {d['janino_compile_ms']:>11.0f} "
            f"{d['classes_loaded']:>8} {d['jit_ms']:>8.0f} {wall:>7.2f}",
            flush=True,
        )
    engine.stop()


if __name__ == "__main__":
    main()
