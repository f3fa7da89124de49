"""Point statements pruned by Parquet-footer key ranges.

A point UPDATE/DELETE reads only the files whose footer range can hold
a match, a point SELECT is answered from the same files on the driver,
and the appender's primary-key check probes only the files whose key
range overlaps the batch. These tests hold the pruned paths to the
unpruned ones (same affected counts, rows and retired files; the same
SELECT result), count the Spark jobs they save, and cover the
write-lock and session-conf defects that rode along with them.
"""

from __future__ import annotations

import os
import re
import tempfile
import threading
import uuid
from unittest import mock

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from swanlake_spark import constraints, filestats, versions
from swanlake_spark.errors import InvalidArgument
from swanlake_spark.operators import dml, point
from swanlake_spark.operators.ingest import insert_arrow
from swanlake_spark.session import _render_literal

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
_SETS = [
    {"s": "'u'"}, {"g": "g + 1", "s": "'v'"}, {"k": "k + 100"},
    # bound parameters, rendered as a prepared statement renders them
    {"s": _render_literal("it's a \\ path '' \\'")},
    {"s": _render_literal(None), "g": _render_literal(None)},
    {"g": _render_literal(7), "k": _render_literal(-3), "d": _render_literal(2)},
    {"d": _render_literal(-1.5), "s": _render_literal("")},
    # overflows INT: raises wherever a row matches
    {"g": _render_literal(2**31)},
]


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
    path with each of its producers — pyarrow where it applies, Spark
    forced by patching the Arrow producer away — and, on identical
    copies, through the unpruned path (the predicate recognizer forced
    to find nothing) and through the distributed tail (the driver-collect
    bound set to 0, so Spark writes the rewritten files): the same
    affected count (or the same failure), the same final rows, the same
    retired files."""
    keys = sorted({r[0] for rows in files for r in rows if r[0] is not None})
    bound = st.integers(-24, 24)
    if keys:  # mostly constants that hit a stored key
        bound = st.one_of(st.sampled_from(keys), bound)
    a, b = sorted((data.draw(bound), data.draw(bound)))
    results = []
    for route in ("arrow", "spark", "unpruned", "distributed"):
        table, loc = _table_from_files(spark, files, no_stats)
        where = template.format(a=a, b=b, t=table)
        before = _data_files(loc)
        if route == "unpruned":
            patched = mock.patch.object(point, "_term_bound", lambda *a: None)
        elif route == "distributed":
            patched = mock.patch.object(dml, "_DRIVER_REWRITE_MAX_BYTES", 0)
        else:
            patched = mock.patch.object(
                dml, "_arrow_point_rows",
                dml._arrow_point_rows if route == "arrow" else lambda *a: None,
            )
        with patched:
            try:
                if sets is None:
                    affected = dml.delete_from(spark, table, where)
                else:
                    affected = dml.update_table(spark, table, sets, where)
            except Exception:  # e.g. the INT overflow: each route raises
                affected = "raised"
        results.append((affected, _rows(spark, table), before - _data_files(loc)))
        spark.sql(f"DROP TABLE {table}")
    assert results[0] == results[1] == results[2]
    assert results[3] == results[0]


# (WHERE template, the columns it bounds): the recognized grammar
_READ_PREDICATES = [
    ("k = {a}", "k"), ("{a} = k", "k"), ("k < {a}", "k"), ("{a} >= k", "k"),
    ("k >= {a} AND k < {b}", "k"), ("k BETWEEN {a} AND {b}", "k"),
    ("k IN ({a}, {b})", "k"), ("{t}.k > {a}", "k"),
    ("g >= {b} AND k BETWEEN {a} AND {b}", "gk"), ("k <= {b} AND g IN ({a}, {b})", "gk"),
]
# near-misses: Spark answers every one of them
_READ_NEAR_MISSES = [
    "k = {a} OR g = {b}", "NOT k = {a}", "CASE WHEN k = {a} THEN true ELSE false END",
    "k = '{a}'", "k = {a}.5", "d = 3", "d >= {a}", "s = 'x'", "k = NULL",
    "k IS NOT NULL AND k = {a}", "(k = {a})",
]
_READ_SELECTS = ["*", "k, s", "s, K", "d, g, `k`"]
_READ_ORDERS = [None, "k", "k DESC", "k NULLS LAST", "k DESC NULLS FIRST", "g", "s"]


def _read_rows(tbl: pa.Table) -> list[tuple]:
    return sorted(
        (tuple(r.values()) for r in tbl.to_pylist()),
        key=lambda r: tuple((v is None, v) for v in r),
    )


@settings(
    max_examples=60,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    files=_files,
    no_stats=st.integers(0, 4),
    older=st.booleans(),
    template=st.sampled_from([p for p, _ in _READ_PREDICATES] + _READ_NEAR_MISSES),
    select=st.sampled_from(_READ_SELECTS),
    order=st.sampled_from(_READ_ORDERS),
    prepared=st.booleans(),
    data=st.data(),
)
def test_point_read_matches_spark(
    engine, files, no_stats, older, template, select, order, prepared, data
):
    """A point SELECT answered by pyarrow on the driver returns what
    Spark returns for it, Arrow schema included, on tables with negative,
    repeated and NULL keys, a file without statistics and (``older``) a
    file written before column ``s`` existed; ``prepared`` binds the
    bounds as ``?`` parameters. The driver serves exactly the recognized
    predicates whose ORDER BY names a bounded column; every near-miss
    goes to Spark. Rows compare as multisets; an ORDER BY must also give
    the same key sequence (ties may come in any order)."""
    from swanlake_spark import versions

    spark = engine.spark
    keys = sorted({r[0] for rows in files for r in rows if r[0] is not None})
    bound = st.integers(-24, 24)
    if keys:
        bound = st.one_of(st.sampled_from(keys), bound)
    a, b = sorted((data.draw(bound), data.draw(bound)))
    table, loc = _table_from_files(spark, files, no_stats)
    if older:
        pq.write_table(
            pa.table({"k": pa.array([a, None], pa.int64()), "g": pa.array([1, 2], pa.int32()),
                      "d": [0.5, 0.5]}),
            f"{loc}/part-old.parquet",
        )
        spark.catalog.refreshTable(table)
    versions.record_version(spark, table, "create")
    bounded = dict(_READ_PREDICATES).get(template)
    args = None
    if prepared and bounded:
        args = [{"{a}": a, "{b}": b}[m] for m in re.findall(r"\{[ab]\}", template)]
        where = template.format(a="?", b="?", t=table)
    else:
        where = template.format(a=a, b=b, t=table)
    sql = f"SELECT {select} FROM {table} WHERE {where}"
    if order:
        sql += f" ORDER BY {order}"
    served = bool(bounded) and (order is None or order.split()[0] in bounded)

    def run():
        try:
            return engine.query(sql, args=args).to_arrow()
        except Exception as e:  # e.g. k = '{a}' under ANSI: each route raises
            return type(e).__name__

    before = engine.metrics.snapshot().driver_reads
    got = run()
    assert engine.metrics.snapshot().driver_reads - before == int(served), sql
    with mock.patch.object(point, "read_shape", lambda *a: None):
        want = run()
    spark.sql(f"DROP TABLE {table}")
    if isinstance(want, str):
        assert got == want, sql
        return
    assert got.schema == want.schema, sql
    assert _read_rows(got) == _read_rows(want), sql
    names = [n.lower() for n in got.column_names]
    if order and order.split()[0] in names:  # the ORDER BY column is selected
        i = names.index(order.split()[0])
        assert got.column(i).to_pylist() == want.column(i).to_pylist(), sql


def test_point_rewrite_splits_a_large_file(spark):
    """A point write's output past ``_POINT_FILE_BYTES`` lands as
    key-sorted files with disjoint footer ranges, so the next point
    write near the same key rewrites, and retires, one small file."""
    import random

    keys = list(range(20_000))
    random.Random(7).shuffle(keys)
    name = f"pw_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix="swl_pw_")
    spark.sql(f"CREATE TABLE {name} (k BIGINT, s STRING) USING parquet LOCATION '{loc}'")
    tbl = pa.table({"k": pa.array(keys, pa.int64()), "s": [f"{k:020d}" for k in keys]})
    assert tbl.nbytes > 2 * dml._POINT_FILE_BYTES
    pq.write_table(tbl, f"{loc}/part-00000.parquet")
    # a second file, so the point write prunes to the first
    pq.write_table(pa.table({"k": pa.array([50_000], pa.int64()), "s": ["x"]}),
                   f"{loc}/part-00001.parquet")
    spark.catalog.refreshTable(name)

    assert dml.update_table(spark, name, {"s": "'u'"}, "k = 5") == 1
    ranges = sorted(
        (f.ranges["k"], f.name)
        for f in filestats.snapshot_files(versions.newest(spark, name, loc))
        if f.name != "part-00001.parquet"
    )
    assert len(ranges) == min(-(-tbl.nbytes // dml._POINT_FILE_BYTES), dml._POINT_SPLIT)
    assert all(a[0][1] < b[0][0] for a, b in zip(ranges, ranges[1:]))
    before = _data_files(loc)
    assert dml.delete_from(spark, name, "k = 6") == 1
    assert before - _data_files(loc) == {ranges[0][1]}
    assert _count(spark, name) == 20_000
    assert spark.sql(f"SELECT s FROM {name} WHERE k = 5").collect()[0].s == "u"
    spark.sql(f"DROP TABLE {name}")


def test_arrow_producer_reads_older_files(spark):
    """A file written before a column existed reads that column as NULLs,
    and a file column matches its table column case-insensitively, in
    the Arrow producer as in Spark's scan; the Arrow producer runs no
    job doing it."""
    results = []
    for route in ("arrow", "spark"):
        table, loc = _table_from_files(spark, [[(5, 1, "b", 0.5)]] * 2, -1)
        os.remove(f"{loc}/part-00000.parquet")
        pq.write_table(
            pa.table({"K": pa.array([1, 2], pa.int64()), "g": pa.array([0, 0], pa.int32()),
                      "s": ["a", "a"]}),
            f"{loc}/part-00000.parquet",
        )
        spark.catalog.refreshTable(table)
        with mock.patch.object(
            dml, "_arrow_point_rows",
            dml._arrow_point_rows if route == "arrow" else lambda *a: None,
        ):
            jobs = _jobs(
                spark, lambda: dml.update_table(spark, table, {"s": "'u'"}, "k = 1")
            )
        assert jobs == (0 if route == "arrow" else 1)
        results.append(_rows(spark, table))
        spark.sql(f"DROP TABLE {table}")
    assert results[0] == results[1] == [
        (1, 0, "u", None), (2, 0, "a", None), (5, 1, "b", 0.5)
    ]


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
    """A rewrite whose Arrow collect fails is written by Spark instead
    (the distributed tail), without a second driver collect."""
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
    assert point._conjuncts(where) == []
    assert point._conjuncts(f"k > 0 AND {where}") == []
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
    """On a 16-file table a fully bounded point UPDATE, a point DELETE
    and a fresh-key one-row append run no Spark job (pyarrow builds
    their files on the driver), and a fresh-key PK check runs none. A
    point UPDATE with a term the bounds do not cover, or one that sets
    the primary key, takes the Spark producer: one job, the rewrite's
    collect. An UPDATE whose predicate bounds no integral column finds
    its files with the probe (a groupBy: under adaptive execution its
    map stage and its result are two jobs) before the collect. A
    bounded point UPDATE of a one-file table is pyarrow's too: no job."""
    t = _mktable(
        spark,
        "k INT PRIMARY KEY, v STRING",
        [
            pa.table({"k": list(range(i * 50, i * 50 + 50)), "v": ["x"] * 50})
            for i in range(16)
        ],
    )
    loc = dml._table_meta(spark, t)[0]
    assert len(_data_files(dml._local_os_path(loc))) >= 16
    assert _jobs(spark, lambda: dml.update_table(spark, t, {"v": "'u'"}, "k = 120")) == 0
    assert _jobs(spark, lambda: dml.delete_from(spark, t, "k = 121")) == 0
    assert _jobs(
        spark, lambda: insert_arrow(spark, t, pa.table({"k": [20_000], "v": ["a"]}))
    ) == 0
    assert _jobs(
        spark, lambda: dml.update_table(spark, t, {"v": "'w'"}, "k = 122 AND v = 'x'")
    ) == 1
    # a SET of the primary key takes the Spark producer too
    assert _jobs(spark, lambda: dml.update_table(spark, t, {"k": "5000"}, "k = 130")) == 1
    batch = pa.table({"k": [10_000], "v": ["new"]})
    rows = spark.createDataFrame(batch)
    assert _jobs(
        spark,
        lambda: constraints.check_insert_batch(spark, t, rows, arrow=batch, loc=loc),
    ) == 0
    assert spark.sql(f"SELECT v FROM {t} WHERE k = 120").collect()[0].v == "u"
    assert spark.sql(f"SELECT v FROM {t} WHERE k = 122").collect()[0].v == "w"
    assert spark.sql(f"SELECT v FROM {t} WHERE k = 5000").collect()[0].v == "x"
    assert _count(spark, t) == 800
    # no integral bound: the probe finds the one file holding k = 140
    assert _jobs(
        spark, lambda: dml.update_table(spark, t, {"v": "'p'"}, "k + 0 = 140")
    ) == 3
    assert spark.sql(f"SELECT v FROM {t} WHERE k = 140").collect()[0].v == "p"
    one, _ = _table_from_files(spark, [[(1, 0, "a", 0.5), (2, 0, "b", 0.5)]], -1)
    assert _jobs(spark, lambda: dml.update_table(spark, one, {"s": "'u'"}, "k = 1")) == 0
    assert _rows(spark, one) == [(1, 0, "u", 0.5), (2, 0, "b", 0.5)]


def _table_files(loc: str) -> set[str]:
    """The data files under ``loc``, partition directories included,
    as paths relative to it."""
    out = set()
    for d, dirs, names in os.walk(loc):
        dirs[:] = [n for n in dirs if not n.startswith(("_", "."))]
        out |= {
            os.path.relpath(os.path.join(d, n), loc)
            for n in names if not n.startswith(("_", "."))
        }
    return out


@pytest.mark.parametrize("stmt", ["update", "delete"])
@pytest.mark.parametrize("tail", ["collect", "distributed"])
@pytest.mark.parametrize("shape", ["partitioned", "checked"])
def test_cow_retires_only_matched_files(spark, monkeypatch, shape, tail, stmt):
    """A partitioned table (its candidates come from the probe, and
    Spark writes its files) and a CHECK-constrained one (its candidates
    come from the footers, its rows from Spark), with the rows collected
    to the driver or written by Spark (the collect bound set to 0): a
    point UPDATE or DELETE retires exactly the files holding a match. An
    UPDATE that breaks the CHECK raises and publishes nothing."""
    from swanlake_spark.engine import Engine

    name = f"pwc_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix="swl_pw_")
    decl = "k INT, g INT, p INT" + (", CHECK (g >= 0)" if shape == "checked" else "")
    parts = "PARTITIONED BY (p) " if shape == "partitioned" else ""
    Engine(spark=spark).execute(
        f"CREATE TABLE {name} ({decl}) USING parquet {parts}LOCATION '{loc}'"
    )
    for i in range(4):
        insert_arrow(spark, name, pa.table({
            "k": pa.array([3 * i, 3 * i + 1, 3 * i + 2], pa.int32()),
            "g": pa.array([0, 0, 0], pa.int32()),
            "p": pa.array([i % 2] * 3, pa.int32()),
        }))
    if tail == "distributed":
        monkeypatch.setattr(dml, "_DRIVER_REWRITE_MAX_BYTES", 0)
    spark_writes = []
    stage_frame = dml._stage_frame
    monkeypatch.setattr(
        dml, "_stage_frame", lambda *a: spark_writes.append(1) or stage_frame(*a)
    )
    before = _table_files(loc)
    holding = {
        f for f in before
        if {4, 7} & set(pq.read_table(f"{loc}/{f}", columns=["k"])["k"].to_pylist())
    }
    assert 0 < len(holding) < len(before)
    want = {(k, 0, k // 3 % 2) for k in range(12)}
    if stmt == "update":
        assert dml.update_table(spark, name, {"g": "g + 1"}, "k IN (4, 7)") == 2
        want = {(k, int(k in (4, 7)), p) for k, _, p in want}
    else:
        assert dml.delete_from(spark, name, "k IN (4, 7)") == 2
        want = {r for r in want if r[0] not in (4, 7)}
    assert before - _table_files(loc) == holding
    assert len(spark_writes) == int(tail == "distributed" or shape == "partitioned")
    got = spark.table(name).select("k", "g", "p").collect()
    assert sorted(tuple(r) for r in got) == sorted(want)
    if shape == "checked":
        before = _table_files(loc)
        version = versions.newest(spark, name, dml._table_meta(spark, name)[0]).version
        with pytest.raises(InvalidArgument, match="CHECK"):
            dml.update_table(spark, name, {"g": "-1"}, "k = 5")
        assert _table_files(loc) == before
        assert versions.newest(spark, name, dml._table_meta(spark, name)[0]).version == version
        got = spark.table(name).select("k", "g", "p").collect()
        assert sorted(tuple(r) for r in got) == sorted(want)
    spark.sql(f"DROP TABLE {name}")


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


def test_table_info_reads_partition_columns(spark):
    """One catalog lookup gives a table's location, its partition
    columns in declared order and its schema; the DESCRIBE fallback (a
    three-part name the lookup does not take) gives the same; a temp
    view has no location and no partitions."""
    name = f"pwp_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix="swl_pw_")
    spark.sql(
        f"CREATE TABLE {name} (v STRING, b INT, a STRING) USING parquet "
        f"PARTITIONED BY (b, a) LOCATION '{loc}'"
    )
    got_loc, parts, schema = dml._table_meta(spark, name)
    assert dml._local_os_path(got_loc) == loc
    assert parts == ["b", "a"]
    assert schema == spark.table(name).schema
    described = dml._table_meta(spark, f"spark_catalog.default.{name}")
    assert described == (got_loc, ["b", "a"], schema)
    spark.range(1).createOrReplaceTempView(name + "_v")
    assert dml._table_meta(spark, name + "_v") == (None, [], spark.range(1).schema)
    spark.sql(f"DROP TABLE {name}")
