"""Point writes pruned by Parquet-footer key ranges.

A point UPDATE/DELETE reads only the files whose footer range can hold
a match, and the appender's primary-key check probes only the files
whose key range overlaps the batch. These tests hold the pruned path to
the unpruned one (same affected counts, rows and retired files), count
the Spark jobs it saves, and cover the write-lock and session-conf
defects that rode along with it.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import uuid
from unittest import mock

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from swanlake_spark import constraints, filestats
from swanlake_spark.errors import InvalidArgument
from swanlake_spark.operators import dml
from swanlake_spark.operators.ingest import insert_arrow

_SCHEMA = pa.schema(
    [("k", pa.int64()), ("g", pa.int32()), ("s", pa.string()), ("d", pa.float64())]
)


def _table_from_files(spark, files: list[list[tuple]], no_stats: int) -> tuple[str, str]:
    """An unpartitioned table whose data files are exactly ``files``
    (fixed names, so two copies retire comparable names); file
    ``no_stats`` is written without column statistics."""
    name = f"pw_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix="swl_pw_")
    spark.sql(
        f"CREATE TABLE {name} (k BIGINT, g INT, s STRING, d DOUBLE) "
        f"USING parquet LOCATION '{loc}'"
    )
    for i, rows in enumerate(files):
        cols = list(zip(*rows)) if rows else [[], [], [], []]
        tbl = pa.table([list(c) for c in cols], schema=_SCHEMA)
        pq.write_table(
            tbl, f"{loc}/part-{i:05d}.parquet", write_statistics=i != no_stats
        )
    spark.catalog.refreshTable(name)
    return name, loc


def _data_files(loc: str) -> set[str]:
    return {n for n in os.listdir(loc) if not n.startswith(("_", "."))}


def _rows(spark, table: str) -> list[tuple]:
    return sorted(
        (tuple(r) for r in spark.table(table).collect()),
        key=lambda r: tuple((v is None, v) for v in r),
    )


_row = st.tuples(
    st.one_of(st.none(), st.integers(-3, 3)),
    st.integers(-3, 3),
    st.sampled_from(["a", "b", "x"]),
    st.sampled_from([0.5, 3.0]),
)


@st.composite
def _file(draw):
    """Rows whose keys cluster near one base, so file ranges differ but
    may overlap (a key can repeat across files)."""
    base = draw(st.integers(-20, 20))
    return [
        (None if k is None else base + k, g, s, d)
        for k, g, s, d in draw(st.lists(_row, max_size=6))
    ]


_files = st.lists(_file(), min_size=2, max_size=5)

_PREDICATES = [
    # the recognized grammar
    "k = {a}", "{a} = k", "k < {a}", "k <= {a}", "k > {a}", "{a} >= k",
    "k BETWEEN {a} AND {b}", "k IN ({a}, {b})", "{t}.k = {a}",
    "k = {a} AND s = 'x'", "g >= {b} AND k BETWEEN {a} AND {b}",
    "s = 'a' AND k BETWEEN {a} AND {b} AND g < 2",
    # near-misses: nothing may be pruned on these
    "k = {a} OR g = {b}", "NOT k = {a}", "k = NULL", "k = {a}.5",
    "k = '{a}'", "d = 3", "s = 'x'", "k IS NOT NULL AND k = {a}",
    # the AND belongs to the BETWEEN, whose upper bound is `k = a`
    "(k > 0) BETWEEN false AND k = {a}",
    # the ANDs belong to the CASE: `k = a` is no necessary condition
    "CASE WHEN g = 1 AND k = {a} AND g = 1 THEN false ELSE true END",
    "k >= {a} AND CASE WHEN g = 1 AND k = {b} AND g = 1 THEN false ELSE true END",
]
_SETS = [{"s": "'u'"}, {"g": "g + 1", "s": "'v'"}, {"k": "k + 100"}]


@settings(
    max_examples=40,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    files=_files,
    no_stats=st.integers(0, 4),
    template=st.sampled_from(_PREDICATES),
    sets=st.sampled_from(_SETS + [None]),
    data=st.data(),
)
def test_pruned_dml_matches_unpruned(spark, files, no_stats, template, sets, data):
    """UPDATE (``sets``) or DELETE (``sets`` None) through the pruned
    path and, on an identical copy, through today's path (the predicate
    recognizer forced to find nothing): same affected count, same final
    rows, same retired files."""
    keys = sorted({r[0] for rows in files for r in rows if r[0] is not None})
    bound = st.integers(-24, 24)
    if keys:  # mostly constants that hit a stored key
        bound = st.one_of(st.sampled_from(keys), bound)
    a, b = sorted((data.draw(bound), data.draw(bound)))
    results = []
    for prune in (True, False):
        table, loc = _table_from_files(spark, files, no_stats)
        where = template.format(a=a, b=b, t=table)
        before = _data_files(loc)
        with mock.patch.object(
            dml, "_term_bound", dml._term_bound if prune else lambda *a: None
        ):
            if sets is None:
                affected = dml.delete_from(spark, table, where)
            else:
                affected = dml.update_table(spark, table, sets, where)
        results.append((affected, _rows(spark, table), before - _data_files(loc)))
        spark.sql(f"DROP TABLE {table}")
    assert results[0] == results[1]


def _mktable(spark, decl: str, batches: list[pa.Table]) -> str:
    name = f"pwk_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix="swl_pw_")
    from swanlake_spark.engine import Engine

    Engine(spark=spark).execute(
        f"CREATE TABLE {name} ({decl}) USING parquet LOCATION '{loc}'"
    )
    for b in batches:
        insert_arrow(spark, name, b)
    return name


def _count(spark, table: str) -> int:
    return spark.table(table).count()


class TestPrunedPrimaryKey:
    def test_duplicate_inside_batch(self, spark):
        t = _mktable(spark, "id INT PRIMARY KEY, v STRING", [])
        with pytest.raises(InvalidArgument, match="duplicate key in INSERT batch"):
            insert_arrow(spark, t, pa.table({"id": [5, 6, 5], "v": ["a", "b", "c"]}))
        assert _count(spark, t) == 0

    def test_clash_inside_another_files_range(self, spark):
        t = _mktable(
            spark,
            "id INT PRIMARY KEY, v STRING",
            [
                pa.table({"id": [0, 2, 4, 6], "v": ["a"] * 4}),
                pa.table({"id": [100, 102], "v": ["b"] * 2}),
            ],
        )
        with pytest.raises(InvalidArgument, match="PRIMARY KEY"):
            insert_arrow(spark, t, pa.table({"id": [4], "v": ["dup"]}))
        # inside the range but absent: accepted
        insert_arrow(spark, t, pa.table({"id": [3], "v": ["new"]}))
        assert _count(spark, t) == 7

    def test_fresh_key_above_every_range(self, spark):
        t = _mktable(
            spark,
            "id BIGINT PRIMARY KEY, v STRING",
            [pa.table({"id": [1, 2], "v": ["a", "b"]})],
        )
        insert_arrow(spark, t, pa.table({"id": [10**12], "v": ["c"]}))
        with pytest.raises(InvalidArgument, match="PRIMARY KEY"):
            insert_arrow(spark, t, pa.table({"id": [10**12], "v": ["again"]}))
        assert _count(spark, t) == 3

    def test_multi_column_key(self, spark):
        t = _mktable(
            spark,
            "a INT, b INT, v STRING, PRIMARY KEY (a, b)",
            [pa.table({"a": [1, 1], "b": [1, 2], "v": ["x", "y"]})],
        )
        with pytest.raises(InvalidArgument, match="PRIMARY KEY"):
            insert_arrow(spark, t, pa.table({"a": [1], "b": [2], "v": ["dup"]}))
        insert_arrow(spark, t, pa.table({"a": [2, 1], "b": [2, 3], "v": ["p", "q"]}))
        with pytest.raises(InvalidArgument, match="duplicate key in INSERT batch"):
            insert_arrow(spark, t, pa.table({"a": [7, 7], "b": [1, 1], "v": ["r", "s"]}))
        assert _count(spark, t) == 4

    def test_null_key_takes_the_spark_check(self, spark):
        t = _mktable(
            spark,
            "id INT PRIMARY KEY, v STRING",
            [pa.table({"id": [1, 2], "v": ["a", "b"]})],
        )
        with pytest.raises(InvalidArgument, match="PRIMARY KEY"):
            insert_arrow(spark, t, pa.table({"id": [None, 2], "v": ["n", "dup"]}))
        assert _count(spark, t) == 2


def test_failed_collect_takes_unpruned_path(spark, monkeypatch):
    """A pruned rewrite whose Arrow collect fails hands the statement to
    the unpruned path, which writes without a driver collect."""
    t = _mktable(
        spark,
        "k INT, v STRING",
        [pa.table({"k": [i], "v": ["a"]}) for i in range(3)],
    )

    def failing(self):
        raise RuntimeError("collect failed")

    monkeypatch.setattr(type(spark.range(1)), "toArrow", failing)
    assert dml.update_table(spark, t, {"v": "'u'"}, "k = 1") == 1
    monkeypatch.undo()
    assert [tuple(r) for r in spark.sql(f"SELECT * FROM {t} ORDER BY k").collect()] == [
        (0, "a"), (1, "u"), (2, "a")
    ]


def test_case_ands_bound_nothing(spark):
    """A depth-0 CASE whose WHEN holds ANDs yields no term: its middle
    fragment ``k = 5`` is not a necessary condition, and the predicate
    holds for rows in files whose range misses 5."""
    where = "CASE WHEN g = 1 AND k = 5 AND g = 1 THEN false ELSE true END"
    assert dml._conjuncts(where) == []
    assert dml._conjuncts(f"k > 0 AND {where}") == []
    table, _ = _table_from_files(
        spark, [[(5, 0, "a", 0.5)], [(100, 0, "b", 0.5), (101, 1, "c", 0.5)]], -1
    )
    assert dml.delete_from(spark, table, where) == 3
    assert _rows(spark, table) == []


def test_unpruned_rewrite_resolves_qualified_columns(spark):
    """The file-granular rewrite of today's path reads the matched files
    under the table's name, so `t.col` in the WHERE resolves."""
    table, _ = _table_from_files(
        spark, [[(1, 0, "a", 0.5)], [(2, 0, "b", 0.5)]], -1
    )
    assert dml.update_table(spark, table, {"g": "9"}, f"{table}.s = 'a'") == 1
    assert dml.delete_from(spark, table, f"{table}.s = 'b'") == 1
    assert _rows(spark, table) == [(1, 9, "a", 0.5)]


def test_footer_memo_sees_a_same_size_rewrite(tmp_path):
    """A file replaced in place under the same name and size (as an
    outside writer may do) is read again: the memo key holds the mtime."""
    path = tmp_path / "part-0.parquet"
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64())}), path)
    assert [f.ranges["k"] for f in filestats.live_files(str(tmp_path))] == [(1, 2)]
    size, mtime = path.stat().st_size, path.stat().st_mtime_ns
    pq.write_table(pa.table({"k": pa.array([7, 8], pa.int64())}), path)
    assert path.stat().st_size == size
    os.utime(path, ns=(mtime + 10**9, mtime + 10**9))  # past a coarse clock tick
    assert [f.ranges["k"] for f in filestats.live_files(str(tmp_path))] == [(7, 8)]


def test_footer_memo_forgets_a_dropped_directory(tmp_path):
    loc = tmp_path / "t"
    loc.mkdir()
    pq.write_table(pa.table({"k": [1]}), loc / "part-0.parquet")
    assert len(filestats.live_files(str(loc))) == 1
    assert str(loc) in filestats._MEMO
    shutil.rmtree(loc)
    assert filestats.live_files(str(loc)) is None
    assert str(loc) not in filestats._MEMO


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs on this thread."""
    sc = spark.sparkContext
    group = f"pw_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "point-write job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_point_writes_run_one_job(spark):
    """On a 16-file table a point UPDATE and a point DELETE each run one
    Spark job (the rewrite's collect), and a fresh-key append's PK check
    runs none."""
    t = _mktable(
        spark,
        "k INT PRIMARY KEY, v STRING",
        [
            pa.table({"k": list(range(i * 50, i * 50 + 50)), "v": ["x"] * 50})
            for i in range(16)
        ],
    )
    loc = dml._table_location(spark, t)
    assert len(_data_files(dml._local_os_path(loc))) >= 16
    assert _jobs(spark, lambda: dml.update_table(spark, t, {"v": "'u'"}, "k = 120")) == 1
    assert _jobs(spark, lambda: dml.delete_from(spark, t, "k = 121")) == 1
    batch = pa.table({"k": [10_000], "v": ["new"]})
    rows = spark.createDataFrame(batch)
    assert _jobs(
        spark,
        lambda: constraints.check_insert_batch(spark, t, rows, arrow=batch, loc=loc),
    ) == 0
    assert spark.sql(f"SELECT v FROM {t} WHERE k = 120").collect()[0].v == "u"
    assert _count(spark, t) == 799


@pytest.mark.parametrize("route", ["appender", "sql"])
def test_concurrent_appends_of_one_new_key(spark, monkeypatch, route):
    """Two sessions append the same new key at once: the constraint
    check runs under the table write lock, so exactly one append lands.
    The first append pauses after its check until the second has
    checked too, or for a bounded wait (under the lock the second check
    cannot run while the first holds it)."""
    from swanlake_spark.engine import Engine

    t = _mktable(spark, "id INT PRIMARY KEY, v STRING", [pa.table({"id": [1], "v": ["a"]})])
    orig = constraints.check_insert_batch
    first, second = threading.Event(), threading.Event()

    def paused(*args, **kwargs):
        orig(*args, **kwargs)
        if first.is_set():
            second.set()
        else:
            first.set()
            second.wait(timeout=3)

    monkeypatch.setattr(constraints, "check_insert_batch", paused)
    outcomes: list[str] = []

    def append():
        try:
            if route == "appender":
                insert_arrow(spark, t, pa.table({"id": [7], "v": ["x"]}))
            else:
                Engine(spark=spark).execute(f"INSERT INTO {t} VALUES (7, 'x')")
            outcomes.append("ok")
        except InvalidArgument:
            outcomes.append("rejected")

    threads = [threading.Thread(target=append) for _ in range(2)]
    threads[0].start()
    assert first.wait(timeout=120)
    threads[1].start()
    for th in threads:
        th.join(timeout=180)
        assert not th.is_alive()
    assert sorted(outcomes) == ["ok", "rejected"]
    assert spark.sql(f"SELECT count(*) c FROM {t} WHERE id = 7").collect()[0].c == 1


def test_interleaved_updates_leave_session_conf(spark, monkeypatch):
    """Two unpruned point UPDATEs on two tables of one session, the
    second inside its statement while the first runs and finishing after
    it: the session's AQE setting is untouched afterwards."""
    tables = []
    for _ in range(2):
        t = _mktable(spark, "k INT, v STRING", [])
        for i in range(2):
            insert_arrow(spark, t, pa.table({"k": [i], "v": [f"s{i}"]}))
        tables.append(t)
    server_value = spark.conf.get("spark.sql.adaptive.enabled")
    orig = dml._matched_files
    a_in, b_in, a_done = threading.Event(), threading.Event(), threading.Event()

    def hooked(spark_, table, *args, **kwargs):
        # A probes only once B is inside its own statement; B probes
        # only once A has finished
        if table == tables[0]:
            a_in.set()
            b_in.wait(timeout=60)
        else:
            b_in.set()
            a_done.wait(timeout=60)
        return orig(spark_, table, *args, **kwargs)

    monkeypatch.setattr(dml, "_matched_files", hooked)
    errors: list[BaseException] = []

    def update(i):
        try:
            # a string predicate: no footer range applies
            assert dml.update_table(spark, tables[i], {"v": "'u'"}, "v = 's1'") == 1
        except BaseException as e:  # surfaced below
            errors.append(e)
        finally:
            if i == 0:
                a_done.set()

    th_a = threading.Thread(target=update, args=(0,))
    th_a.start()
    assert a_in.wait(timeout=120)
    th_b = threading.Thread(target=update, args=(1,))
    th_b.start()
    for th in (th_a, th_b):
        th.join(timeout=180)
        assert not th.is_alive()
    assert errors == []
    assert spark.conf.get("spark.sql.adaptive.enabled") == server_value
