"""The three traffic mixes. Each workload generates its inputs from the
seed, sets the server up over Flight SQL, runs one terminal body per
load-generator thread, and checks every answer.

A terminal appends one ``Op`` per operation it issues. ``start`` is when
the request was sent, or for the open-loop writer when it was due.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import random
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from perfbench import datagen


@dataclass
class Op:
    kind: str
    start: float
    end: float
    ok: bool
    read: bool
    #: when the request was actually sent (later than ``start`` for an
    #: open-loop request sent behind schedule)
    sent: float | None = None
    #: how late the generator itself was in sending it
    late: float = 0.0

    def __post_init__(self):
        if self.sent is None:
            self.sent = self.start


@dataclass
class Window:
    start: float
    end: float


@dataclass
class Answers:
    """Answers kept for checking after the window: ``(key, table)``."""

    items: list = field(default_factory=list)
    wrong: int = 0
    notes: list = field(default_factory=list)

    def mismatch(self, what: str) -> None:
        """A wrong answer found after the fact (its op looked fine)."""
        self.wrong += 1
        self.note(what)

    def note(self, what: str) -> None:
        if len(self.notes) < 5:
            self.notes.append(what)


def _norm(v):
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _close(a: float, b: float, rel: float) -> bool:
    if math.isclose(a, b, rel_tol=rel, abs_tol=1e-9):
        return True
    # a value the query rounds to cents lands one cent apart when two
    # engines' float sums straddle a half cent (q9 does, on some seeds)
    return abs(a - b) < 0.0100001 and round(a, 2) == a and round(b, 2) == b


def rows_equal(got: list[tuple], want: list[tuple], rel: float = 1e-9) -> bool:
    """Row-for-row equality with a relative tolerance on floats."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            a, b = _norm(a), _norm(b)
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None:
                    if a is not b:
                        return False
                elif not _close(float(a), float(b), rel):
                    return False
            elif a != b:
                return False
    return True


def arrow_rows(tbl: pa.Table) -> list[tuple]:
    cols = [c.to_pylist() for c in tbl.columns]
    return list(zip(*cols)) if cols else []


class Workload:
    name = ""
    #: tables the workload writes, for the storage metrics
    tables: tuple[str, ...] = ()
    #: all terminals' connections join one server session. Workloads that
    #: write need it: a session does not see files another session's
    #: write published (its cached listing goes stale, reads miss rows or
    #: fail on files a copy-on-write swap deleted; see README.md)
    shared_session = False

    def __init__(self, seed: int, terminals: int, small: bool):
        self.seed = seed
        self.terminals = terminals
        self.answers = Answers()
        #: set-up phase -> seconds, for the report
        self.phases: dict[str, float] = {}

    def phase(self, name: str, fn, *args):
        t0 = time.time()
        out = fn(*args)
        self.phases[name] = time.time() - t0
        return out

    def generate(self, data_dir: str) -> None:
        """Inputs, made before the server starts."""

    def setup(self, clients, pool) -> None:
        raise NotImplementedError

    def terminal(self, t: int, client, win: Window, ops: list[Op]) -> None:
        raise NotImplementedError

    def finish(self, client) -> None:
        """Checks that need the server, after every terminal stopped."""

    def check(self) -> None:
        """Checks that need no server (oracles), after it stopped."""

    def logical_bytes(self) -> int:
        raise NotImplementedError


_errors = Answers()  # first few request errors of the process, for the report


def _timed(ops: list[Op], kind: str, read: bool, fn):
    t0 = time.time()
    try:
        out = fn()
        ok = True
    except Exception as e:  # a failed request counts in failed_frac
        out, ok = None, False
        _errors.note(f"{kind}: {str(e)[:300]}")
    ops.append(Op(kind, t0, time.time(), ok, read))
    return out, ops[-1]


# -- tpch_olap ----------------------------------------------------------------


class TpchOlap(Workload):
    """22 TPC-H queries, prepared once per terminal, executed in a seeded
    random order."""

    name = "tpch_olap"
    tables = datagen.TPCH_TABLES

    def __init__(self, seed, terminals, small):
        super().__init__(seed, terminals, small)
        from swanlake_spark.queries.tpch import TPCH_QUERIES

        # SF 0.1 would be 46 s of set-up and 2-3 s per query on 4 cores:
        # more than a run may take (see README.md)
        self.sf = 0.001 if small else 0.01
        self.queries = {n.removeprefix("tpch_"): q.oracle for n, q in TPCH_QUERIES.items()}
        self.prepared: list[dict] = []

    def generate(self, data_dir):
        self.data_dir = data_dir
        tables = datagen.tpch_tables(self.seed, self.sf)
        self._logical = sum(t.nbytes for t in tables.values())
        datagen.write_tables(tables, data_dir)

    def setup(self, clients, pool):
        parts = max(1, self.terminals)

        def load(t: int) -> None:
            for name in self.tables[t :: len(clients)]:
                path = os.path.join(self.data_dir, f"{name}.parquet")
                clients[t].execute_update(
                    f"CREATE TABLE {name} USING parquet AS "
                    f"SELECT /*+ REPARTITION({parts}) */ * FROM parquet.`{path}`"
                )

        def prepare(t: int) -> dict:
            return {q: clients[t].prepare(sql) for q, sql in self.queries.items()}

        names = list(self.queries)

        def warm(t: int) -> None:
            for q in names[t :: len(clients)]:
                self.prepared[t][q].execute()

        self.phase("load", lambda: list(pool.map(load, range(len(clients)))))
        self.prepared = self.phase("prepare", lambda: list(pool.map(prepare, range(len(clients)))))
        # warm-up: every query once, spread over the terminals
        self.phase("warm", lambda: list(pool.map(warm, range(len(clients)))))

    def terminal(self, t, client, win, ops):
        # one seeded order of the 22 queries; terminal t starts t/n of the
        # way through it, so even a short window runs about the whole set
        order = list(self.queries)
        random.Random(f"{self.seed}/tpch").shuffle(order)
        i = round(t * len(order) / self.terminals)
        while time.time() < win.end:
            q = order[i % len(order)]
            i += 1
            tbl, op = _timed(ops, q, True, self.prepared[t][q].execute)
            if op.ok:
                self.answers.items.append((q, tbl))

    def check(self):
        import duckdb

        con = duckdb.connect()
        for name in self.tables:
            path = os.path.join(self.data_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        want = {q: con.execute(sql).fetchall() for q, sql in self.queries.items()}
        for q, tbl in self.answers.items:
            got = arrow_rows(tbl)
            if not rows_equal(got, want[q]):
                diff = [(g, w) for g, w in zip(got, want[q]) if not rows_equal([g], [w])][:1]
                self.answers.mismatch(
                    f"{q}: {len(got)} rows ({len(want[q])} from the oracle), first difference {diff}"
                )

    def logical_bytes(self):
        return self._logical


# -- ycsb_mix -----------------------------------------------------------------

_YCSB_MIX = [("read", 50), ("insert", 5), ("scan", 15), ("update", 10), ("delete", 10), ("rmw", 10)]
_SCAN_SPAN = 10  # own keys a scan range covers


class _YcsbTerminal:
    """One terminal's share of the key space (keys with key % n == t),
    its model of their live values, and its prepared statements."""

    def __init__(self, seed, t, n, keys, values, zipf):
        self.t, self.n = t, n
        self.rng = np.random.default_rng([seed, 4, t])
        self.live = [k for k in keys if k % n == t]
        self.model = {k: values[k] for k in self.live}
        self.next_key = len(keys) + t
        self.zipf = zipf
        self.stmts: dict = {}

    def pick(self) -> int:
        return self.live[self.zipf.rank(self.rng, len(self.live))]

    def remove(self, key: int) -> None:
        i = self.live.index(key)
        self.live[i] = self.live[-1]
        self.live.pop()
        del self.model[key]


class YcsbMix(Workload):
    name = "ycsb_mix"
    tables = ("usertable",)
    shared_session = True
    LOAD_BATCHES = 4

    def __init__(self, seed, terminals, small):
        super().__init__(seed, terminals, small)
        self.rows = 2_000 if small else 100_000
        # held around every write: an INSERT checks its primary key
        # outside the engine's table write lock, and fails reading a file
        # that a concurrent copy-on-write UPDATE or DELETE removed (see
        # README.md). The engine serializes the writes anyway.
        self._writes = threading.Lock()

    def generate(self, data_dir):
        self.keys, self.values = datagen.ycsb_rows(self.seed, self.rows)
        zipf = datagen.Zipfian(self.rows)
        self.terms = [
            _YcsbTerminal(self.seed, t, self.terminals, self.keys, self.values, zipf)
            for t in range(self.terminals)
        ]

    def setup(self, clients, pool):
        cols = ", ".join(f"{f} STRING" for f in datagen.YCSB_FIELDS)
        clients[0].execute_update(f"CREATE TABLE usertable (ycsb_key INT PRIMARY KEY, {cols})")
        sets = ", ".join(f"{f} = ?" for f in datagen.YCSB_FIELDS)
        sql = {
            "read": "SELECT * FROM usertable WHERE ycsb_key = ?",
            "scan": "SELECT * FROM usertable WHERE ycsb_key >= ? AND ycsb_key < ? ORDER BY ycsb_key",
            "insert": f"INSERT INTO usertable VALUES ({', '.join(['?'] * 11)})",
            "update": f"UPDATE usertable SET {sets} WHERE ycsb_key = ?",
            "delete": "DELETE FROM usertable WHERE ycsb_key = ?",
        }
        def load() -> None:
            # in LOAD_BATCHES appends, so the table is many small files and
            # a copy-on-write write rewrites one of them, not a quarter of
            # the table
            insert = clients[0].prepare(sql["insert"])
            rows = [[k] + v for k, v in zip(self.keys, self.values)]
            step = -(-len(rows) // self.LOAD_BATCHES)
            for i in range(0, len(rows), step):
                if insert.execute_update(rows[i : i + step]) != len(rows[i : i + step]):
                    raise RuntimeError("usertable load acknowledged a wrong row count")

        def prepare(t: int) -> None:
            self.terms[t].stmts = {k: clients[t].prepare(s) for k, s in sql.items()}

        def warm(t: int) -> None:
            for kind, _ in _YCSB_MIX[t :: len(clients)]:
                self._op(self.terms[t], kind, [])

        self.phase("load", load)
        self.phase("prepare", lambda: list(pool.map(prepare, range(len(clients)))))
        # warm-up: one operation of each kind, spread over the terminals
        self.phase("warm", lambda: list(pool.map(warm, range(len(clients)))))

    def terminal(self, t, client, win, ops):
        # the mix is dealt from a shuffled deck of 20 operations, so every
        # 20 a terminal issues hold exactly the 50/5/15/10/10/10 shares
        term = self.terms[t]
        deck = [k for k, w in _YCSB_MIX for _ in range(w // 5)]
        while True:
            term.rng.shuffle(deck)
            for kind in deck:
                if time.time() >= win.end:
                    return
                self._op(term, kind, ops)

    def _new_values(self, term) -> list[str]:
        return datagen.ycsb_values(term.rng, 1)[0]

    def _read(self, term, key: int, ops, kind: str = "read") -> bool:
        tbl, op = _timed(ops, kind, True, lambda: term.stmts["read"].execute([key]))
        if op.ok and arrow_rows(tbl) != [tuple([key] + term.model[key])]:
            self.answers.note(f"{kind} of key {key} returned {arrow_rows(tbl)[:1]}")
            op.ok = False
        return op.ok

    def _write(self, term, kind: str, stmt: str, params: list, ops) -> bool:
        sent = []

        def send() -> int:
            with self._writes:
                sent.append(time.time())
                return term.stmts[stmt].execute_update([params])

        n, op = _timed(ops, kind, False, send)
        if sent:  # the wait for the lock is latency, not transport
            op.sent = sent[0]
        if op.ok and n != 1:
            self.answers.note(f"{kind} reported {n} affected rows")
            op.ok = False
        return op.ok

    def _op(self, term, kind: str, ops) -> None:
        if kind == "read":
            self._read(term, term.pick(), ops)
        elif kind == "scan":
            lo = term.pick()
            hi = lo + _SCAN_SPAN * term.n
            tbl, op = _timed(ops, "scan", True, lambda: term.stmts["scan"].execute([lo, hi]))
            if op.ok:
                got = arrow_rows(tbl)
                keys = [r[0] for r in got]
                mine = [r for r in got if r[0] % term.n == term.t]
                want = [tuple([k] + term.model[k]) for k in sorted(term.model) if lo <= k < hi]
                if keys != sorted(keys) or any(not lo <= k < hi for k in keys) or mine != want:
                    self.answers.note(f"scan [{lo}, {hi}) differs from the model")
                    op.ok = False
        elif kind == "insert":
            key, vals = term.next_key, self._new_values(term)
            term.next_key += term.n
            if self._write(term, "insert", "insert", [key] + vals, ops):
                term.live.append(key)
                term.model[key] = vals
        elif kind == "update":
            key, vals = term.pick(), self._new_values(term)
            if self._write(term, "update", "update", vals + [key], ops):
                term.model[key] = vals
        elif kind == "delete":
            key = term.pick()
            if self._write(term, "delete", "delete", [key], ops):
                term.remove(key)
        else:  # read-modify-write: one operation, timed end to end
            key, vals = term.pick(), self._new_values(term)
            inner: list[Op] = []
            ok = self._read(term, key, inner) and self._write(term, "rmw", "update", vals + [key], inner)
            if ok:
                term.model[key] = vals
            lock_wait = inner[-1].sent - inner[-1].start
            ops.append(Op("rmw", inner[0].start, inner[-1].end, ok, False, sent=inner[0].start + lock_wait))

    def logical_bytes(self):
        live = sum(len(t.live) for t in self.terms)
        return live * (4 + 10 * datagen.YCSB_FIELD_LEN)


# -- ingest_dashboard ---------------------------------------------------------

DASHBOARD = {
    "by_type": "SELECT event_type, count(*) AS n, sum(value) AS total FROM events "
    "GROUP BY event_type ORDER BY event_type",
    "totals": "SELECT count(*) AS n, count(DISTINCT user_id) AS users, max(event_id) AS last_id FROM events",
    "top_users": "SELECT user_id, count(*) AS n FROM events GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10",
    # one scan per query: a query that reads the growing table twice (say a
    # max(ts) subquery) can see two different appends (see README.md)
    "last_minutes": "SELECT date_trunc('minute', ts) AS minute, count(*) AS n, avg(value) AS avg_value "
    "FROM events GROUP BY 1 ORDER BY 1 DESC LIMIT 5",
}


class IngestDashboard(Workload):
    """Terminal 0 appends on a fixed schedule (open loop), terminal 1
    runs CHECKPOINT on a fixed cadence, the rest read dashboards."""

    name = "ingest_dashboard"
    tables = ("events",)
    shared_session = True
    period_s = 1.5
    checkpoint_every_s = 5.0

    def __init__(self, seed, terminals, small):
        super().__init__(seed, terminals, small)
        self.initial = 2_000 if small else 20_000
        self.batch = 200 if small else 2_000
        self.acked = 0  # batches acknowledged
        self.sent = 0  # batches sent
        self._lock = threading.Lock()
        # held around every append and CHECKPOINT: the engine's compaction
        # does not take the table write lock, and an append that lands
        # while it rewrites the table is lost (see README.md)
        self._maintenance = threading.Lock()

    def generate(self, data_dir):
        self.rows = datagen.event_rows(self.seed, 0, self.initial)

    def _batch_rows(self, i: int) -> list[list]:
        first = self.initial + i * self.batch
        while len(self.rows) < first + self.batch:
            self.rows += datagen.event_rows(self.seed, len(self.rows), self.batch)
        return self.rows[first : first + self.batch]

    def setup(self, clients, pool):
        def load() -> None:
            clients[0].execute_update(datagen.EVENTS_DDL)
            self.insert = clients[0].prepare("INSERT INTO events VALUES (?, ?, ?, ?, ?, ?)")
            if self.insert.execute_update(self.rows) != self.initial:
                raise RuntimeError("events load acknowledged a wrong row count")

        def warm(t: int) -> None:
            if t == 1 % len(clients):
                clients[t].execute("CHECKPOINT")
            else:
                for sql in list(DASHBOARD.values())[t % 2 :: 2]:
                    clients[t].execute(sql)

        self.phase("load", load)
        self._batch_rows(0)
        # warm-up: each dashboard twice, one checkpoint
        self.phase("warm", lambda: list(pool.map(warm, range(len(clients)))))

    def terminal(self, t, client, win, ops):
        if t == 0:
            self._writer(win, ops)
        elif t == 1 and self.terminals > 2:
            self._checkpointer(client, win, ops)
        else:
            self._reader(t, client, win, ops)

    def _writer(self, win, ops):
        prev_end = win.start
        i = 0
        while True:
            due = win.start + i * self.period_s
            if due >= win.end:
                return
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            rows = self._batch_rows(i)
            start = time.time()
            with self._lock:
                self.sent = i + 1
            try:
                with self._maintenance:
                    ok = self.insert.execute_update(rows) == len(rows)
            except Exception as e:
                ok = False
                _errors.note(f"append: {str(e)[:300]}")
            end = time.time()
            if ok:
                with self._lock:
                    self.acked = i + 1
            else:
                self.answers.note(f"append {i} failed or miscounted")
            ops.append(Op("append", due, end, ok, False, sent=start, late=max(0.0, start - max(due, prev_end))))
            prev_end = end
            i += 1

    def _checkpointer(self, client, win, ops):
        k = 1
        while True:
            due = win.start + k * self.checkpoint_every_s - self.checkpoint_every_s / 2
            if due >= win.end:
                return
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            with self._maintenance:
                _timed(ops, "checkpoint", False, lambda: client.execute("CHECKPOINT"))
            k += 1

    def _reader(self, t, client, win, ops):
        rng = random.Random(f"{self.seed}/dash/{t}")
        names = list(DASHBOARD)
        while time.time() < win.end:
            q = rng.choice(names)
            with self._lock:
                lo = self.acked
            tbl, op = _timed(ops, q, True, lambda: client.execute(DASHBOARD[q]))
            with self._lock:
                hi = self.sent
            if op.ok:
                self.answers.items.append((q, tbl, lo, hi))

    def finish(self, client):
        n = client.execute("SELECT count(*) AS n FROM events").column(0)[0].as_py()
        want = self.initial + self.acked * self.batch
        if n != want:
            self.answers.mismatch(f"final count(*) {n} != {want} rows acknowledged")

    def check(self):
        import duckdb

        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        cols = list(zip(*self.rows))
        names = ["event_id", "ts", "user_id", "event_type", "value", "props"]
        full = pa.table(dict(zip(names, [pa.array(c) for c in cols])))
        cache: dict = {}

        def expected(q: str, k: int):
            if (q, k) not in cache:
                con.register("events", full.slice(0, self.initial + k * self.batch))
                cache[q, k] = con.execute(DASHBOARD[q]).fetchall()
            return cache[q, k]

        for q, tbl, lo, hi in self.answers.items:
            got = arrow_rows(tbl)
            if not any(rows_equal(got, expected(q, k)) for k in range(lo, hi + 1)):
                want = expected(q, lo)
                diff = [(g, w) for g, w in zip(got, want) if not rows_equal([g], [w])][:1]
                self.answers.mismatch(
                    f"{q} matches no snapshot between {lo} and {hi} appended batches "
                    f"({len(got)} rows; {len(want)} at {lo}, first difference {diff})"
                )

    def logical_bytes(self):
        n = self.initial + self.acked * self.batch
        live = self.rows[:n]
        props = sum(len(r[5]) for r in live)
        return n * (8 + 8 + 8 + 8) + sum(len(r[3]) for r in live) + props


WORKLOADS = {w.name: w for w in (TpchOlap, YcsbMix, IngestDashboard)}
