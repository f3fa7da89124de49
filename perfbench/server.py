"""Server entry point: one Flight SQL engine process, configured as
deployed (``EngineConfig(client_dialect="duckdb")``, all cores).

    python3 perfbench/server.py --ready-file PATH [--trace-file PATH]

Writes ``{"port", "pid", "ui", "app_id", "ready_ts"}`` to
``--ready-file`` once the server answers, then serves until SIGTERM and
exits without stopping Spark: the launcher kills the process group, so a
JVM shutdown would only add seconds to every run. With ``--trace-file``
the layer tracer (``perfbench.tracing``) is installed before the server
starts and its spans are written to that file on exit.

Run it with the working directory it may write into: Spark's scratch,
derby metastore and managed-table warehouse land there.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


ERROR_PREFIX = "perfbench-server-error: "


def _log_request_errors() -> None:
    """Log the first lines of every error a Flight handler returns: the
    client often sees only gRPC's "metadata size exceeds limit" when the
    engine's message carries a JVM stack trace."""
    from swanlake_spark.flightsql import FlightSqlServer

    to_status = FlightSqlServer._error

    def log_and_map(exc):
        text = " | ".join(str(exc).splitlines()[:3])[:600]
        print(f"{ERROR_PREFIX}{type(exc).__name__}: {text}", file=sys.stderr, flush=True)
        return to_status(exc)

    FlightSqlServer._error = staticmethod(log_and_map)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ready-file", required=True)
    ap.add_argument("--trace-file")
    args = ap.parse_args()

    from perfbench import tracing
    from perfbench.harness import nproc
    from swanlake_spark.config import EngineConfig
    from swanlake_spark.engine import Engine
    from swanlake_spark.flightsql import start_flight_server

    if args.trace_file:
        tracing.install()
    _log_request_errors()
    cfg = EngineConfig(
        app_name="perfbench",
        cpus=nproc(),
        client_dialect="duckdb",
        warehouse_dir=os.path.join(os.getcwd(), "warehouse"),
    )
    engine = Engine(config=cfg)
    engine.spark.sparkContext.setLogLevel("ERROR")
    server, port = start_flight_server(engine)

    stop = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: stop.set())
    signal.signal(signal.SIGINT, lambda *_: stop.set())
    info = {
        "port": port,
        "pid": os.getpid(),
        "ui": engine.spark.sparkContext.uiWebUrl,
        "app_id": engine.spark.sparkContext.applicationId,
        "ready_ts": time.time(),
    }
    tmp = args.ready_file + ".tmp"
    with open(tmp, "w") as f:
        json.dump(info, f)
    os.replace(tmp, args.ready_file)
    while not stop.wait(0.2):
        pass
    if args.trace_file:
        tracing.dump(args.trace_file, {"span_cost_s": tracing.span_cost_s()})
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
