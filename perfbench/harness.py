"""Process plumbing for the load generator: launching and stopping the
server process, reading its memory and CPU from ``/proc``, Spark's
REST totals, directory sizes and percentiles."""

from __future__ import annotations

import json
import math
import os
import shlex
import signal
import subprocess
import sys
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
_CLK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class ServerProcess:
    """``perfbench/server.py`` in its own process group, with every file
    it writes (Spark scratch, JVM temp, warehouse) under ``work``."""

    def __init__(self, work: str, trace: bool):
        self.work = work
        self.ready_file = os.path.join(work, "ready.json")
        self.trace_file = os.path.join(work, "spans.jsonl") if trace else None
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        env.update(
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
            PYTHONDONTWRITEBYTECODE="1",
        )
        env.pop("SPARK_GRAFT_CPUS", None)
        if trace:
            # keep every job and stage in the UI store so the REST API
            # totals cover the whole window
            env["PYSPARK_SUBMIT_ARGS"] = shlex.join(
                [
                    "--conf", "spark.ui.retainedJobs=1000000",
                    "--conf", "spark.ui.retainedStages=1000000",
                    "pyspark-shell",
                ]
            )
        cmd = [sys.executable, os.path.join(HERE, "server.py"), "--ready-file", self.ready_file]
        if trace:
            cmd += ["--trace-file", self.trace_file]
        self.log_path = os.path.join(work, "server.log")
        self.launched = time.time()
        with open(self.log_path, "wb") as log:
            self.proc = subprocess.Popen(
                cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, start_new_session=True,
            )
        self.info: dict = {}

    def wait_ready(self, timeout: float = 120.0) -> dict:
        deadline = time.time() + timeout
        while not os.path.exists(self.ready_file):
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited with {self.proc.returncode}: {self.log_tail()}")
            if time.time() > deadline:
                raise RuntimeError(f"server not ready after {timeout:.0f} s: {self.log_tail()}")
            time.sleep(0.05)
        with open(self.ready_file) as f:
            self.info = json.load(f)
        return self.info

    @property
    def location(self) -> str:
        return f"grpc://127.0.0.1:{self.info['port']}"

    def log_tail(self, n: int = 2000) -> str:
        try:
            with open(self.log_path, "rb") as f:
                return f.read()[-n:].decode(errors="replace")
        except OSError:
            return ""

    def errors(self, n: int = 5) -> list[str]:
        """The first ``n`` request errors the server logged."""
        from perfbench.server import ERROR_PREFIX

        with open(self.log_path, errors="replace") as f:
            return [line[len(ERROR_PREFIX):].strip() for line in f if line.startswith(ERROR_PREFIX)][:n]

    def pids(self) -> list[int]:
        """Every live process in the server's process group (the Python
        server, its JVM and the JVM's Python workers)."""
        out = []
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == self.proc.pid and fields[0] != "Z":
                out.append(int(d))
        return out

    def peak_rss_bytes(self) -> int:
        """Sum over the group of each process's peak resident set."""
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1]) * 1024
            except OSError:
                pass
        return total

    def cpu_s(self) -> float:
        total = 0.0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            total += (int(fields[11]) + int(fields[12])) / _CLK
        return total

    def stop(self, timeout: float = 40.0) -> None:
        """SIGTERM (the server writes its span dump and exits), then kill
        whatever of the group is left, and wait until all of it is gone."""
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout)
            except subprocess.TimeoutExpired:
                pass
        deadline = time.time() + 20
        while True:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            if self.proc.poll() is None:
                try:
                    self.proc.wait(1)
                except subprocess.TimeoutExpired:
                    pass
            if not self.pids() or time.time() > deadline:
                break
            time.sleep(0.05)


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot: time the
    hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def spark_totals(ui: str, app_id: str) -> dict:
    """Cumulative Spark work from the REST API: job and stage ids are
    sequential, executor counters are totals since start."""
    base = f"{ui}/api/v1/applications/{app_id}"

    def get(path: str):
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    jobs = get("/jobs")
    stages = get("/stages")
    execs = get("/allexecutors")
    return {
        "jobs": 1 + max((j["jobId"] for j in jobs), default=-1),
        "stages": 1 + max((s["stageId"] for s in stages), default=-1),
        "tasks": sum(e["totalTasks"] for e in execs),
        "executor_run_ms": sum(s.get("executorRunTime", 0) for s in stages),
        "executor_cpu_ms": sum(s.get("executorCpuTime", 0) for s in stages) / 1e6,
        "jvm_gc_ms": sum(e["totalGCTime"] for e in execs),
        "input_bytes": sum(e["totalInputBytes"] for e in execs),
        "shuffle_read_bytes": sum(e["totalShuffleRead"] for e in execs),
        "shuffle_write_bytes": sum(e["totalShuffleWrite"] for e in execs),
    }


def tree_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
            except OSError:
                continue
    return size


def data_files(path: str, suffix: str = ".parquet") -> int:
    """Files ending in ``suffix`` directly in ``path`` (for a table
    directory: its live data files, not version or staging copies)."""
    try:
        return sum(1 for n in os.listdir(path) if n.endswith(suffix))
    except OSError:
        return 0


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not values:
        return float("nan")
    v = sorted(values)
    k = (len(v) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)
