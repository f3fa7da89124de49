"""Flight SQL serving benchmark.

    python3 perfbench/run.py --workload {tpch_olap,ycsb_mix,ingest_dashboard}
                             --seed N --seconds S --trace {0,1} [--small]

Launches a fresh engine server (``perfbench/server.py``) in its own
process, drives it from ``min(4, nproc)`` closed-loop terminal threads
(one Flight SQL connection and session each), checks every answer, and
prints a report followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones from a run with
the layer tracer installed in the server. ``--small`` shrinks the data
for the self-test. Scratch files live under ``.perfbench/`` in the
checkout and are removed at exit; the traced run's span dump is kept in
``.perfbench/spans/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the end-to-end metrics of the JSON line (BENCHMARK.json's end_to_end):
# the ones defined, non-zero and steady on every workload. The report
# prints the rest of ``end_to_end()`` too.
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "stored_bytes_per_user_byte": "ratio",
}
UNITS = {
    **END_TO_END,
    "read_p50_ms": "ms",
    "latency_p50_ms": "ms",
    "latency_p95_ms": "ms",
    "read_p95_ms": "ms",
    "write_p50_ms": "ms",
    "write_p95_ms": "ms",
    "failed_frac": "ratio",
}
#: operations a p95 needs for ten samples beyond it
P95_MIN_SAMPLES = 200

# per-layer metrics every workload reports (the JSON line under --trace 1)
PER_LAYER = {
    "flightsql.rpcs_per_op": "count",
    "flightsql.get_flight_info.ms_per_op": "ms",
    "flightsql.do_get.ms_per_op": "ms",
    "flightsql.transport_ms_per_op": "ms",
    "flightsql.result_bytes_per_op": "bytes",
    "session.query.ms_per_op": "ms",
    "session.create_prepared_statement.ms_per_call": "ms",
    "engine.query.ms_per_op": "ms",
    "engine.schema_for_query.calls_per_op": "count",
    "engine.to_arrow.ms_per_op": "ms",
    "plans.classify.ms_per_op": "ms",
    "functions.transpile_duckdb.calls_per_op": "count",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_run_ms_per_op": "ms",
    "spark.executor_cpu_ms_per_op": "ms",
    "spark.jvm_gc_ms_per_op": "ms",
    "spark.input_bytes_per_op": "bytes",
    "spark.shuffle_read_bytes_per_op": "bytes",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "dml.calls_per_op": "count",
    "ingest.insert_arrow.calls_per_op": "count",
    "versions.record_version.calls_per_op": "count",
    "versions.snapshots_end": "count",
    "maintenance.compact_table.calls_per_op": "count",
    "storage.files_per_table_end": "count",
    "server.cpu_ms_per_op": "ms",
    "server.peak_rss_mb": "MB",
    "loadgen.cpu_frac": "ratio",
    "trace.overhead_ms_per_op": "ms",
}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="tiny data, for the self-test")
    return ap.parse_args(argv)


def run(workload: str, seed: int, seconds: float, trace: bool, small: bool = False, tamper=None) -> dict:
    """One benchmark run against a freshly launched server; returns the
    raw report that ``end_to_end`` and ``per_layer`` turn into metrics.
    ``tamper(workload)`` runs after input generation (the self-test uses
    it to plant a wrong expected answer)."""
    from perfbench import harness, tracing
    from perfbench.workloads import WORKLOADS, Window
    from swanlake_spark.flightsql import FlightSqlClient

    n = min(4, harness.nproc())
    wl = WORKLOADS[workload](seed, n, small)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rep: dict = {"workload": workload, "seed": seed, "window_s": seconds, "terminals": n}
    srv = None
    try:
        wl.generate(os.path.join(work, "data"))
        if tamper:
            tamper(wl)
        srv = harness.ServerProcess(os.path.join(work, "server"), trace)
        srv.wait_ready()
        wl.phases["boot"] = srv.info["ready_ts"] - srv.launched
        sessions = [f"perfbench-{workload}" if wl.shared_session else f"perfbench-{workload}-{t}" for t in range(n)]
        clients = [FlightSqlClient(srv.location, sid) for sid in sessions]
        rep["connections"] = len(clients)
        with ThreadPoolExecutor(n) as pool:
            wl.setup(clients, pool)
        rep["setup_s"] = time.time() - srv.launched
        spark0 = harness.spark_totals(srv.info["ui"], srv.info["app_id"]) if trace else None
        cpu0, lg0, host0 = srv.cpu_s(), time.process_time(), harness.host_cpu_ticks()
        now = time.time()
        win = Window(now + 0.1, now + 0.1 + seconds)
        ops: list[list] = [[] for _ in range(n)]

        def terminal(t: int) -> None:
            time.sleep(max(0.0, win.start - time.time()))
            wl.terminal(t, clients[t], win, ops[t])

        threads = [threading.Thread(target=terminal, args=(t,), name=f"terminal-{t}") for t in range(n)]
        for th in threads:
            th.start()
        max_threads = threading.active_count() - 1
        while any(th.is_alive() for th in threads):
            max_threads = max(max_threads, threading.active_count() - 1)
            time.sleep(0.1)
        for th in threads:
            th.join()
        rep["threads_max"] = max_threads
        rep["drain_s"] = time.time() - win.end
        rep["server_cpu_s"] = srv.cpu_s() - cpu0
        rep["loadgen_cpu_s"] = time.process_time() - lg0
        host1 = harness.host_cpu_ticks()
        rep["steal_frac"] = (host1[0] - host0[0]) / max(1, host1[1] - host0[1])
        if trace:
            spark1 = harness.spark_totals(srv.info["ui"], srv.info["app_id"])
            rep["spark"] = {k: spark1[k] - spark0[k] for k in spark1}
        wl.finish(clients[0])
        rep["peak_rss_bytes"] = srv.peak_rss_bytes()
        warehouse = os.path.join(srv.work, "warehouse")
        rep["stored_bytes"] = harness.tree_bytes(warehouse)
        rep["files_per_table"] = [harness.data_files(os.path.join(warehouse, t)) for t in wl.tables]
        rep["snapshots"] = sum(
            harness.data_files(os.path.join(warehouse, "_versions", t, "manifests"), ".json") for t in wl.tables
        )
        for c in clients:
            c.close()
        srv.stop()
        rep["server_errors"] = srv.errors()
        if trace:
            meta, spans = tracing.load(srv.trace_file)
            keep = os.path.join(base, "spans")
            os.makedirs(keep, exist_ok=True)
            rep["span_dump"] = os.path.join(keep, f"{workload}-seed{seed}.jsonl")
            shutil.copyfile(srv.trace_file, rep["span_dump"])
            rep["span_cost_s"] = meta["span_cost_s"]
            rep["all_spans"] = spans
            rep["spans"] = [s for s in spans if win.start <= s["start"] < win.end]
        wl.check()
    except BaseException:
        if srv is not None:
            print(srv.log_tail(), file=sys.stderr)
        raise
    finally:
        if srv is not None:
            srv.stop()
        shutil.rmtree(work, ignore_errors=True)
    measured = [[o for o in t_ops if win.start <= o.start < win.end] for t_ops in ops]
    rep["ops"] = [o for t_ops in measured for o in t_ops]
    # each terminal's correct operations over the time they took to
    # complete: counting whole operations against the time they really
    # covered, not against a window the last one overran
    rep["ops_per_s"] = sum(
        sum(o.ok for o in t_ops) / (max(o.end for o in t_ops) - win.start) for t_ops in measured if t_ops
    )
    rep["phases"] = wl.phases
    rep["answers_wrong"] = wl.answers.wrong
    from perfbench.workloads import _errors

    rep["answer_notes"] = wl.answers.notes + _errors.notes
    rep["logical_bytes"] = wl.logical_bytes()
    return rep


def _ms(ops) -> list[float]:
    """Latencies in ms; a failed operation misses every limit."""
    return [(o.end - o.start) * 1000 if o.ok else math.inf for o in ops]


def end_to_end(rep: dict) -> dict[str, float]:
    from perfbench.harness import percentile

    ops = rep["ops"]
    reads = [o for o in ops if o.read]
    writes = [o for o in ops if not o.read]
    failed = sum(not o.ok for o in ops) + rep["answers_wrong"]
    return {
        "setup_s": rep["setup_s"],
        "ops_per_s": rep["ops_per_s"],
        "latency_p50_ms": percentile(_ms(ops), 50),
        "latency_p95_ms": percentile(_ms(ops), 95),
        "read_p50_ms": percentile(_ms(reads), 50),
        "read_p95_ms": percentile(_ms(reads), 95),
        "write_p50_ms": percentile(_ms(writes), 50),
        "write_p95_ms": percentile(_ms(writes), 95),
        "failed_frac": failed / max(1, len(ops)),
        "stored_bytes_per_user_byte": rep["stored_bytes"] / rep["logical_bytes"],
    }


def per_layer(rep: dict) -> dict[str, float]:
    """Every per-layer figure the traced run can give; ``PER_LAYER``
    names the ones every workload reports."""
    from perfbench.harness import percentile
    from perfbench.tracing import layer_totals

    ops = rep["ops"]
    n = max(1, len(ops))
    tot = layer_totals(rep["spans"])
    out: dict[str, float] = {}

    def calls(name):
        return tot.get(name, {}).get("calls", 0)

    def total_ms(name):
        return tot.get(name, {}).get("total_s", 0.0) * 1000

    def per_call(name, scale=1000):
        c = calls(name)
        return tot[name]["total_s"] * scale / c if c else math.nan

    handlers = [f"flightsql.{h}" for h in ("get_flight_info", "do_get", "do_put", "do_action")]
    out["flightsql.rpcs_per_op"] = sum(calls(h) for h in handlers) / n
    for h in handlers:
        out[f"{h}.ms_per_op"] = total_ms(h) / n
        out[f"{h}.self_ms_per_op"] = tot.get(h, {}).get("self_s", 0.0) * 1000 / n
    client_ms = sum((o.end - o.sent) * 1000 for o in ops)
    out["flightsql.transport_ms_per_op"] = (client_ms - sum(total_ms(h) for h in handlers)) / n
    arrow = [s for s in rep["spans"] if s["name"] == "engine.to_arrow" and s["attrs"]]
    out["flightsql.result_bytes_per_op"] = sum(s["attrs"]["bytes"] for s in arrow) / n
    for m in ("query", "execute_prepared", "schema_for_prepared"):
        out[f"session.{m}.ms_per_op"] = total_ms(f"session.{m}") / n
    setup_prep = layer_totals([s for s in rep["all_spans"] if s["name"] == "session.create_prepared_statement"])
    prep = setup_prep.get("session.create_prepared_statement")
    out["session.create_prepared_statement.ms_per_call"] = (
        prep["total_s"] * 1000 / prep["calls"] if prep else math.nan
    )
    out["engine.query.ms_per_op"] = total_ms("engine.query") / n
    out["engine.query.self_ms_per_op"] = tot.get("engine.query", {}).get("self_s", 0.0) * 1000 / n
    out["engine.schema_for_query.calls_per_op"] = calls("engine.schema_for_query") / n
    out["engine.to_arrow.ms_per_op"] = total_ms("engine.to_arrow") / n
    out["plans.classify.ms_per_op"] = total_ms("plans.classify") / n
    out["functions.transpile_duckdb.calls_per_op"] = calls("functions.transpile_duckdb") / n
    out["functions.transpile_duckdb.ms_per_op"] = total_ms("functions.transpile_duckdb") / n
    for k, v in rep["spark"].items():
        out[f"spark.{k}_per_op"] = v / n
    out["dml.calls_per_op"] = (calls("dml.update_table") + calls("dml.delete_from")) / n
    out["dml.update_table.ms_per_call"] = per_call("dml.update_table")
    out["dml.delete_from.ms_per_call"] = per_call("dml.delete_from")
    waits = [d * 1000 for d in tot.get("dml.table_write_lock.wait", {}).get("durations", [])]
    out["dml.table_write_lock.wait_ms_p50"] = percentile(waits, 50)
    out["dml.table_write_lock.wait_ms_p95"] = percentile(waits, 95)
    out["ingest.insert_arrow.calls_per_op"] = calls("ingest.insert_arrow") / n
    out["ingest.insert_arrow.ms_per_call"] = per_call("ingest.insert_arrow")
    out["constraints.check_insert_batch.ms_per_call"] = per_call("constraints.check_insert_batch")
    out["versions.record_version.calls_per_op"] = calls("versions.record_version") / n
    out["versions.record_version.ms_per_call"] = per_call("versions.record_version")
    out["versions.snapshots_end"] = rep["snapshots"]
    compactions = [s["attrs"] for s in rep["spans"] if s["name"] == "maintenance.compact_table"]
    out["maintenance.compact_table.calls_per_op"] = len(compactions) / n
    out["maintenance.compact_table.s_per_call"] = per_call("maintenance.compact_table", scale=1)
    out["maintenance.files_before"] = sum(c["files_before"] for c in compactions)
    out["maintenance.files_after"] = sum(c["files_after"] for c in compactions)
    out["maintenance.bytes_rewritten"] = sum(c["bytes"] for c in compactions if c["compacted"])
    checkpoints = [o for o in ops if o.kind == "checkpoint"]
    during = [o for o in ops if o.read and any(o.start < c.end and c.start < o.end for c in checkpoints)]
    out["maintenance.read_p95_during_checkpoint_ms"] = percentile(_ms(during), 95)
    files = rep["files_per_table"]
    out["storage.files_per_table_end"] = sum(files) / max(1, len(files))
    out["server.cpu_ms_per_op"] = rep["server_cpu_s"] * 1000 / n
    out["server.peak_rss_mb"] = rep["peak_rss_bytes"] / 2**20
    late = [o.late * 1000 for o in ops if o.kind == "append"]
    out["loadgen.late_ms_p95"] = percentile(late, 95)
    out["loadgen.cpu_frac"] = rep["loadgen_cpu_s"] / (rep["window_s"] + rep["drain_s"])
    out["trace.overhead_ms_per_op"] = len(rep["spans"]) * rep["span_cost_s"] * 1000 / n
    for kind in sorted({o.kind for o in ops}):
        out[f"op.{kind}.p50_ms"] = percentile(_ms([o for o in ops if o.kind == kind]), 50)
    return out


def source_id() -> str:
    """Digest of the engine's and the benchmark's Python sources: a traced
    run compares itself only with an untraced run of the same code."""
    h = hashlib.sha1()
    for top in ("swanlake_spark", "perfbench"):
        for root, dirs, names in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for name in sorted(n for n in names if n.endswith(".py")):
                path = os.path.join(root, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def _layer_unit(name: str) -> str:
    if name in PER_LAYER:
        return PER_LAYER[name]
    if "bytes" in name:
        return "bytes"
    if name.endswith(".s_per_call"):
        return "s"
    return "ms" if "ms" in name else "count"


def _fmt(v: float) -> str:
    return "n/a" if isinstance(v, float) and math.isnan(v) else f"{v:.6g}"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "swanlake_spark", "flightsql.py")):
        _fail(f"no swanlake_spark package beside {HERE}; run from a full checkout")
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {', '.join(WORKLOADS)}")
    rep = run(args.workload, args.seed, args.seconds, bool(args.trace), args.small)
    e2e = end_to_end(rep)
    attempted = len(rep["ops"])
    failed = round(e2e["failed_frac"] * max(1, attempted))
    print(f"# {args.workload} seed={args.seed} terminals={rep['terminals']} "
          f"window={args.seconds:g}s ops={attempted} drain={rep['drain_s']:.2f}s "
          f"threads_max={rep['threads_max']} connections={rep['connections']} "
          f"server_cpu={rep['server_cpu_s'] * 1000 / max(1, attempted):.0f}ms/op cpu_steal={rep['steal_frac']:.1%}")
    print("# setup phases: " + " ".join(f"{k}={v:.2f}s" for k, v in rep["phases"].items()))
    for note in rep["answer_notes"]:
        print(f"# wrong answer: {note}")
    for err in rep["server_errors"]:
        print(f"# server error: {err}")
    for k, v in e2e.items():
        print(f"{k} {_fmt(v)} {UNITS[k]}")
    # the highest percentile with ten samples beyond it, and the count
    from perfbench.harness import percentile

    ops = rep["ops"]
    for what, group in (("latency", ops), ("read", [o for o in ops if o.read]), ("write", [o for o in ops if not o.read])):
        n = len(group)
        if n < P95_MIN_SAMPLES:
            print(f"# {what}_p95_ms is over {n} operations, fewer than the {P95_MIN_SAMPLES} that put ten beyond it")
        if n >= 20:
            q = min(95, math.floor(100 * (1 - 10 / n)))
            print(f"{what}_p{q}_ms {_fmt(percentile(_ms(group), q))} ms (highest percentile with ten of {n} beyond it)")
    print(f"server_peak_rss_mb {_fmt(rep['peak_rss_bytes'] / 2**20)} MB")
    results = os.path.join(ROOT, ".perfbench", "results")
    key = f"{args.workload}-seed{args.seed}-{args.seconds:g}s.json"
    if args.trace:
        layers = per_layer(rep)
        print(f"# span dump: {rep['span_dump']}")
        for k, v in layers.items():
            print(f"{k} {_fmt(v)} {_layer_unit(k)}")
        try:
            with open(os.path.join(results, key)) as f:
                plain = json.load(f)
            if plain["source"] != source_id():
                raise ValueError("untraced run of other code")
            for k in ("latency_p50_ms", "ops_per_s"):
                print(f"trace.overhead.{k} {_fmt(e2e[k] / plain['metrics'][k] - 1)} ratio (traced vs untraced run)")
        except (OSError, ValueError, KeyError):
            print("# no untraced run of this code, workload, seed and window to compare the traced run with")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, key), "w") as f:
            json.dump({"source": source_id(), "metrics": e2e}, f)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
