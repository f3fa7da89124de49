"""Span tracing of the engine's layers, installed from outside the
program by rebinding module attributes to timing wrappers.

``install()`` runs in the server process before the Flight server
starts. Each wrapped call records one span ``(name, start, end, parent,
request, attrs)``; spans live in an in-memory list and ``dump()`` writes
them as JSON lines at exit. A Flight handler span opens a new request
id for its thread, so every span below it carries the request it
served.

The analysis half (``layer_totals``) runs in the load generator over
the dump: per-span self time is its duration minus the union of its
children's intervals.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import sys
import threading
import time

SPANS: list[tuple] = []
_ids = itertools.count(1)
_local = threading.local()


def _stack() -> list:
    s = getattr(_local, "stack", None)
    if s is None:
        s = _local.stack = []
    return s


def _timed(name: str, fn, new_request: bool = False, attrs_of=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        stack = _stack()
        sid = next(_ids)
        parent = stack[-1] if stack else 0
        if new_request or not stack:
            _local.request = sid
        req = _local.request
        stack.append(sid)
        t0 = time.time()
        try:
            out = fn(*args, **kwargs)
        finally:
            t1 = time.time()
            stack.pop()
        attrs = attrs_of(args, out) if attrs_of else None
        SPANS.append((sid, name, t0, t1, parent, req, attrs))
        return out

    wrapper.__perfbench_original__ = fn
    return wrapper


def _timed_lock(name: str, cm_fn):
    """Wrap a lock context manager: one span for the wait, one for the
    hold, both children of the caller's span."""

    @contextlib.contextmanager
    def wrapper(*args, **kwargs):
        stack = _stack()
        parent = stack[-1] if stack else 0
        req = getattr(_local, "request", 0)
        t0 = time.time()
        with cm_fn(*args, **kwargs):
            t1 = time.time()
            SPANS.append((next(_ids), name + ".wait", t0, t1, parent, req, None))
            try:
                yield
            finally:
                SPANS.append((next(_ids), name + ".hold", t1, time.time(), parent, req, None))

    wrapper.__perfbench_original__ = cm_fn
    return wrapper


def _rebind(module, attr: str, wrapper) -> None:
    """Point ``module.attr`` and every other loaded module's by-name
    import of the same function at ``wrapper``."""
    original = getattr(module, attr)
    for mod in list(sys.modules.values()):
        if mod is None or not getattr(mod, "__name__", "").startswith("swanlake_spark"):
            continue
        if getattr(mod, attr, None) is original:
            setattr(mod, attr, wrapper)


def _patch(module, attr: str, name: str, **kw) -> None:
    _rebind(module, attr, _timed(name, getattr(module, attr), **kw))


def _result_bytes(args, out):
    return {"bytes": getattr(out, "nbytes", 0)} if out is not None else None


def _compact_stats(args, out):
    return {k: out.get(k) for k in ("files_before", "files_after", "bytes", "compacted")}


def install() -> None:
    """Wrap the public entry points of each layer the benchmark reports."""
    import swanlake_spark.constraints as constraints
    import swanlake_spark.engine as engine
    import swanlake_spark.flightsql as flightsql
    import swanlake_spark.functions as functions
    import swanlake_spark.maintenance as maintenance
    import swanlake_spark.operators.dml as dml
    import swanlake_spark.operators.ingest as ingest
    import swanlake_spark.plans.parser as parser
    import swanlake_spark.session as session
    import swanlake_spark.versions as versions

    server = flightsql.FlightSqlServer
    for handler in ("get_flight_info", "do_get", "do_put", "do_action"):
        setattr(server, handler, _timed(f"flightsql.{handler}", getattr(server, handler), new_request=True))
    for method in ("query", "execute_prepared", "schema_for_prepared", "create_prepared_statement"):
        setattr(session.Session, method, _timed(f"session.{method}", getattr(session.Session, method)))
    engine.Engine.query = _timed("engine.query", engine.Engine.query)
    engine.Engine.schema_for_query = _timed("engine.schema_for_query", engine.Engine.schema_for_query)
    engine.QueryResult.to_arrow = _timed("engine.to_arrow", engine.QueryResult.to_arrow, attrs_of=_result_bytes)
    _patch(parser, "classify", "plans.classify")
    _patch(functions, "transpile_duckdb", "functions.transpile_duckdb")
    _patch(dml, "update_table", "dml.update_table")
    _patch(dml, "delete_from", "dml.delete_from")
    _rebind(dml, "table_write_lock", _timed_lock("dml.table_write_lock", dml.table_write_lock))
    _patch(ingest, "insert_arrow", "ingest.insert_arrow")
    _patch(constraints, "check_insert_batch", "constraints.check_insert_batch")
    _patch(versions, "record_version", "versions.record_version")
    _patch(maintenance, "compact_table", "maintenance.compact_table", attrs_of=_compact_stats)


def span_cost_s(n: int = 20000) -> float:
    """Measured cost of recording one span around a no-op call."""
    f = _timed("calibrate", lambda: None)
    t0 = time.perf_counter()
    for _ in range(n):
        f()
    cost = (time.perf_counter() - t0) / n
    del SPANS[-n:]
    return cost


def dump(path: str, meta: dict) -> None:
    keys = ("id", "name", "start", "end", "parent", "request", "attrs")
    with open(path, "w") as f:
        f.write(json.dumps({"meta": meta}) + "\n")
        for s in list(SPANS):
            f.write(json.dumps(dict(zip(keys, s))) + "\n")


# -- analysis (load-generator side) -------------------------------------------


def load(path: str) -> tuple[dict, list[dict]]:
    with open(path) as f:
        meta = json.loads(f.readline())["meta"]
        return meta, [json.loads(line) for line in f]


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer_totals(spans: list[dict]) -> dict[str, dict]:
    """Per span name: call count, total and self seconds, and the
    list of durations."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, dict] = {}
    for s in spans:
        d = s["end"] - s["start"]
        self_s = d - _covered(children.get(s["id"], []))
        agg = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0, "durations": []})
        agg["calls"] += 1
        agg["total_s"] += d
        agg["self_s"] += max(self_s, 0.0)
        agg["durations"].append(d)
    return out
