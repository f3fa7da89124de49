"""Engine metrics: totals, latency percentiles, slow-query log, status page.

Re-expresses the reference's observability surface:

- counters / in-flight gauges / latency ring with p50/p95/p99
  (``/root/reference/swanlake-core/src/metrics.rs:133-420``)
- slow-query log with inferred reasons (``metrics.rs:481-535``) and
  per-statement slow groups (count/avg/max, ``metrics.rs:54-63``)
- recent error events with message + context (``metrics.rs:46-52``)
- status JSON + HTML page (``swanlake-server/src/status.rs:25-101``) —
  served here as plain functions; callers can mount them on any HTTP
  framework (the engine itself stays transport-free).
- JVM compile churn (:func:`jvm_counters`): Janino compiles of Spark's
  generated code, HotSpot JIT time and classes loaded, read when a
  snapshot is taken.
"""

from __future__ import annotations

import html as _html
import json
import threading
import time
from collections import deque
from dataclasses import asdict, dataclass, field
from typing import Callable


def jvm_counters(spark) -> dict[str, float]:
    """JVM-wide compile counters, cumulative since the JVM started:

    - ``janino_compiles`` / ``janino_compile_ms``: classes Spark compiled
      from generated code (``CodegenMetrics`` compilation-time histogram
      count, ``CodeGenerator.compileTime`` in ns). A compile means the
      generated-code cache missed.
    - ``jit_ms``: HotSpot JIT compiler time (``CompilationMXBean``).
    - ``classes_loaded``: total classes loaded (``ClassLoadingMXBean``);
      every Janino compile loads new classes.

    In local mode the executors share the driver JVM, so task-side
    compiles count too. Five py4j calls: read per snapshot, never per
    request, and compare deltas."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return {
        "janino_compiles": int(hist.getCount()),
        "janino_compile_ms": codegen.CodeGenerator.compileTime() / 1e6,
        "jit_ms": float(mf.getCompilationMXBean().getTotalCompilationTime()),
        "classes_loaded": int(mf.getClassLoadingMXBean().getTotalLoadedClassCount()),
    }


def infer_reasons(
    sql: str,
    is_query: bool = True,
    rows: int | None = None,
    bytes_: int | None = None,
    duration_ms: float = 0.0,
    slow_threshold_ms: float = 1000.0,
    had_error: bool = False,
) -> list[str]:
    """Heuristic slow-query reasons (reference ``infer_reasons``,
    metrics.rs:481-535)."""
    reasons: list[str] = []
    lower = f" {sql.lower()} "
    if rows is not None and rows >= 100_000:
        reasons.append("Large result set")
    if bytes_ is not None and bytes_ >= 50 * 1024 * 1024:
        reasons.append("Large payload")
    if any(
        k in lower
        for k in (" join ", " group by ", " order by ", " distinct ", " union ", " window ")
    ):
        reasons.append("Join/aggregation/sort")
    if "select *" in lower:
        reasons.append("Wide select")
    if " like '%" in lower or " ilike '%" in lower:
        reasons.append("Leading wildcard match")
    if not is_query:
        reasons.append("Write-heavy statement")
    if duration_ms >= slow_threshold_ms * 3:
        reasons.append("Very long-running")
    if had_error:
        reasons.append("Errored before completion")
    return reasons


@dataclass
class Snapshot:
    started_at_ms: int
    uptime_ms: int
    slow_query_threshold_ms: float
    total_queries: int
    total_updates: int
    total_errors: int
    in_flight_queries: int
    in_flight_updates: int
    avg_ms: float
    p50_ms: float
    p95_ms: float
    p99_ms: float
    max_ms: float
    slow_queries: list[dict]
    slow_query_groups: list[dict]
    recent_errors: list[dict]
    history_size: int
    # jvm_counters() at snapshot time: empty without a reader, {"error"}
    # when the read failed
    jvm: dict = field(default_factory=dict)

    # kept for backward compatibility with earlier callers
    @property
    def in_flight(self) -> int:
        return self.in_flight_queries + self.in_flight_updates

    @property
    def recent_error_count(self) -> int:
        return len(self.recent_errors)


class _InFlightGuard:
    """Decrements the gauge on exit (reference ``InFlightGuard``,
    metrics.rs:118-128)."""

    def __init__(self, metrics: "Metrics", attr: str) -> None:
        self._m = metrics
        self._attr = attr

    def __enter__(self) -> "_InFlightGuard":
        return self

    def __exit__(self, *exc) -> None:
        with self._m._lock:
            setattr(self._m, self._attr, getattr(self._m, self._attr) - 1)


class Metrics:
    RING_SIZE = 1024
    SLOW_LOG_SIZE = 32
    ERROR_LOG_SIZE = 32

    def __init__(
        self,
        slow_threshold_s: float = 1.0,
        jvm_counters: Callable[[], dict] | None = None,
    ) -> None:
        self._jvm_counters = jvm_counters
        self._lock = threading.Lock()
        self._latencies: deque[float] = deque(maxlen=self.RING_SIZE)
        self._slow: deque[dict] = deque(maxlen=self.SLOW_LOG_SIZE)
        self._errors: deque[dict] = deque(maxlen=self.ERROR_LOG_SIZE)
        self._total_queries = 0
        self._total_updates = 0
        self._total_errors = 0
        self._in_flight_queries = 0
        self._in_flight_updates = 0
        self._started_at = time.time()
        self.slow_threshold_s = slow_threshold_s

    # -- gauges ------------------------------------------------------------

    def start_query(self) -> _InFlightGuard:
        with self._lock:
            self._in_flight_queries += 1
        return _InFlightGuard(self, "_in_flight_queries")

    def start_update(self) -> _InFlightGuard:
        with self._lock:
            self._in_flight_updates += 1
        return _InFlightGuard(self, "_in_flight_updates")

    # -- recording ---------------------------------------------------------

    def record_query(
        self,
        elapsed_s: float,
        sql: str = "",
        is_query: bool = True,
        rows: int | None = None,
        bytes_: int | None = None,
    ) -> None:
        with self._lock:
            if is_query:
                self._total_queries += 1
            else:
                self._total_updates += 1
            self._latencies.append(elapsed_s)
            if elapsed_s >= self.slow_threshold_s:
                self._slow.append(
                    {
                        "sql": sql[:500],
                        "elapsed_s": elapsed_s,
                        "is_query": is_query,
                        "at": time.time(),
                        "reasons": infer_reasons(
                            sql,
                            is_query,
                            rows,
                            bytes_,
                            elapsed_s * 1000.0,
                            self.slow_threshold_s * 1000.0,
                        ),
                    }
                )

    def record_error(
        self, message: str = "", sql: str | None = None, context: str = "query"
    ) -> None:
        with self._lock:
            self._total_errors += 1
            self._errors.append(
                {
                    "at": time.time(),
                    "message": str(message)[:500],
                    "sql": sql[:500] if sql else None,
                    "context": context,
                }
            )

    # -- snapshot ----------------------------------------------------------

    @staticmethod
    def _pct(sorted_lat: list[float], q: float) -> float:
        if not sorted_lat:
            return 0.0
        idx = min(len(sorted_lat) - 1, int(q * len(sorted_lat)))
        return sorted_lat[idx] * 1000.0

    def _slow_groups(self) -> list[dict]:
        """Per-statement aggregation of the slow log (reference
        SlowQueryGroup, metrics.rs:54-63)."""
        groups: dict[str, dict] = {}
        for ev in self._slow:
            g = groups.setdefault(
                ev["sql"],
                {
                    "sql": ev["sql"],
                    "is_query": ev["is_query"],
                    "count": 0,
                    "total_ms": 0.0,
                    "max_ms": 0.0,
                    "latest_at": 0.0,
                },
            )
            ms = ev["elapsed_s"] * 1000.0
            g["count"] += 1
            g["total_ms"] += ms
            g["max_ms"] = max(g["max_ms"], ms)
            g["latest_at"] = max(g["latest_at"], ev["at"])
        out = []
        for g in groups.values():
            g["avg_ms"] = g["total_ms"] / g["count"]
            out.append(g)
        return sorted(out, key=lambda g: -g["total_ms"])

    def _read_jvm(self) -> dict:
        if self._jvm_counters is None:
            return {}
        try:
            return self._jvm_counters()
        except Exception as e:  # e.g. JVM stopped: report it, keep the rest
            return {"error": f"{type(e).__name__}: {e}"[:200]}

    def snapshot(self) -> Snapshot:
        # py4j round trips stay outside the lock that recording takes
        jvm = self._read_jvm()
        with self._lock:
            lat = sorted(self._latencies)
            now = time.time()
            return Snapshot(
                started_at_ms=int(self._started_at * 1000),
                uptime_ms=int((now - self._started_at) * 1000),
                slow_query_threshold_ms=self.slow_threshold_s * 1000.0,
                total_queries=self._total_queries,
                total_updates=self._total_updates,
                total_errors=self._total_errors,
                in_flight_queries=self._in_flight_queries,
                in_flight_updates=self._in_flight_updates,
                avg_ms=(sum(lat) / len(lat) * 1000.0) if lat else 0.0,
                p50_ms=self._pct(lat, 0.50),
                p95_ms=self._pct(lat, 0.95),
                p99_ms=self._pct(lat, 0.99),
                max_ms=(lat[-1] * 1000.0) if lat else 0.0,
                slow_queries=list(self._slow),
                slow_query_groups=self._slow_groups(),
                recent_errors=list(self._errors),
                history_size=self.RING_SIZE,
                jvm=jvm,
            )

    # -- status endpoints --------------------------------------------------

    def status_json(self) -> str:
        """The /status JSON payload (reference status.rs:70-77)."""
        return json.dumps(asdict(self.snapshot()), default=str)

    def status_html(self) -> str:
        """A minimal self-contained status page (reference serves an
        embedded status.html, status.rs:66-68,97)."""
        s = self.snapshot()
        rows = "".join(
            f"<tr><td><code>{_html.escape(g['sql'][:120])}</code></td>"
            f"<td>{g['count']}</td><td>{g['avg_ms']:.0f}</td>"
            f"<td>{g['max_ms']:.0f}</td></tr>"
            for g in s.slow_query_groups[:20]
        )
        errors = "".join(
            f"<li><code>{_html.escape(e['message'][:200])}</code></li>"
            for e in s.recent_errors[-10:]
        )
        jvm = ""
        if "janino_compiles" in s.jvm:
            jvm = (
                f"<h2>JVM</h2><p>{s.jvm['janino_compiles']} Janino compiles "
                f"({s.jvm['janino_compile_ms']:.0f} ms), JIT "
                f"{s.jvm['jit_ms']:.0f} ms, {s.jvm['classes_loaded']} classes "
                "loaded</p>"
            )
        return (
            "<!doctype html><title>engine status</title>"
            "<h1>Engine status</h1>"
            f"<p>uptime {s.uptime_ms // 1000}s — {s.total_queries} queries, "
            f"{s.total_updates} updates, {s.total_errors} errors; "
            f"in flight: {s.in_flight_queries}q/{s.in_flight_updates}u</p>"
            f"<p>latency ms: avg {s.avg_ms:.1f} / p50 {s.p50_ms:.1f} / "
            f"p95 {s.p95_ms:.1f} / p99 {s.p99_ms:.1f} / max {s.max_ms:.1f}</p>"
            "<h2>Slow statements</h2>"
            f"<table border=1><tr><th>sql</th><th>n</th><th>avg ms</th>"
            f"<th>max ms</th></tr>{rows}</table>"
            f"<h2>Recent errors</h2><ul>{errors}</ul>"
            f"{jvm}"
        )
