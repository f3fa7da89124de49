"""Point writes and appends commit on a local table with few JVM calls.

A point UPDATE, a point DELETE and a one-row append take the table's
location, partition columns and schema from one catalog lookup, publish
with OS renames and deletes, drop the session's cached relation instead
of re-listing the table, and compute a SET value in Python where it is
exactly its literal. These tests bound the Py4J round trips each write
makes, check that Spark still sees every write (with and without
``CACHE TABLE``), hold the lookup's schema to ``spark.table``'s and the
Python literals to Spark's, and pin the local file operations' refusals.
"""

from __future__ import annotations

import os
import tempfile
import uuid

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from swanlake_spark.engine import Engine
from swanlake_spark.flightsql import append_parameters
from swanlake_spark.operators import dml, point
from swanlake_spark.operators.ingest import insert_arrow
from swanlake_spark.plans.parser import insert_info
from swanlake_spark.session import _render_literal
from swanlake_spark.testing import py4j_calls

# Py4J round trips one driver-side point write or one-row append may
# make on a local table (each is ~1 ms of the write's wall time)
PY4J_BUDGET = 25


def _table(spark, decl: str, files: int = 0, extra: str = "") -> tuple[str, str]:
    name = f"lc_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix="swl_lc_")
    Engine(spark=spark).execute(
        f"CREATE TABLE {name} ({decl}) USING parquet {extra}LOCATION '{loc}'"
    )
    for i in range(files):
        insert_arrow(
            spark, name,
            pa.table({"k": list(range(i * 50, i * 50 + 50)), "v": ["x"] * 50}),
        )
    return name, loc


def _calls(spark, fn) -> int:
    with py4j_calls(spark) as n:
        fn()
    return n[0]


def test_point_writes_stay_within_py4j_budget(spark):
    """On a 16-file table with a primary key, a point UPDATE, a point
    DELETE, a one-row append and the same append as Flight SQL's DoPut
    sends it (positional parameters named from the same lookup) each
    make at most ``PY4J_BUDGET`` round trips to the JVM."""
    t, _ = _table(spark, "k INT PRIMARY KEY, v STRING", files=16)
    dml.update_table(spark, t, {"v": "'w'"}, "k = 1")  # first touch: warm
    insert = insert_info(f"INSERT INTO {t} VALUES (?, ?)")
    params = pa.table({"p0": pa.array([20_001], pa.int32()), "p1": ["b"]})
    counts = {
        "update": _calls(spark, lambda: dml.update_table(spark, t, {"v": "'u'"}, "k = 120")),
        "delete": _calls(spark, lambda: dml.delete_from(spark, t, "k = 121")),
        "append": _calls(
            spark, lambda: insert_arrow(spark, t, pa.table({"k": [20_000], "v": ["a"]}))
        ),
        "doput": _calls(spark, lambda: append_parameters(spark, insert, params)),
    }
    assert all(n <= PY4J_BUDGET for n in counts.values()), counts
    rows = {r.k: r.v for r in spark.sql(f"SELECT k, v FROM {t} WHERE k > 100").collect()}
    assert rows[120] == "u" and 121 not in rows
    assert rows[20_000] == "a" and rows[20_001] == "b"


@pytest.mark.parametrize("cached", [False, True])
def test_spark_sees_each_point_write(spark, cached):
    """A Spark query in the writing session, whose earlier scan cached
    the table's relation (and, with ``CACHE TABLE``, its rows), sees
    each point UPDATE, DELETE and append; the retired files are gone
    from the table directory, so a stale listing would fail the scan."""
    t, _ = _table(spark, "k INT, v STRING", files=4)

    def rows():
        return sorted(tuple(r) for r in spark.sql(f"SELECT k, v FROM {t}").collect())

    if cached:
        spark.sql(f"CACHE TABLE {t}")
    try:
        want = rows()
        assert len(want) == 200
        assert dml.update_table(spark, t, {"v": "'u'"}, "k = 7") == 1
        want = [(k, "u" if k == 7 else v) for k, v in want]
        assert rows() == want
        assert dml.delete_from(spark, t, "k = 60") == 1
        want = [r for r in want if r[0] != 60]
        assert rows() == want
        insert_arrow(spark, t, pa.table({"k": [500], "v": ["n"]}))
        assert rows() == sorted(want + [(500, "n")])
        assert spark.catalog.isCached(t) is cached
    finally:
        if cached:
            spark.sql(f"UNCACHE TABLE {t}")


@pytest.mark.parametrize(
    "decl, extra, alter",
    [
        ("k INT, s STRING, d DOUBLE", "", None),
        ("k INT, s VARCHAR(8), c CHAR(3)", "", None),
        ("k INT, s STRING, p INT", "PARTITIONED BY (p) ", None),
        ("k INT, s STRING", "", "ALTER TABLE {t} ADD COLUMN z BIGINT"),
    ],
    ids=["plain", "varchar", "partitioned", "added-column"],
)
@pytest.mark.parametrize("route", ["engine", "spark"])
def test_lookup_schema_is_spark_tables(spark, decl, extra, alter, route):
    """The schema the one catalog lookup gives equals
    ``spark.table(t).schema``, field metadata included, for tables
    created through the engine and through Spark directly."""
    name = f"lc_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix="swl_lc_")
    run = Engine(spark=spark).execute if route == "engine" else spark.sql
    run(f"CREATE TABLE {name} ({decl}) USING parquet {extra}LOCATION '{loc}'")
    if alter:
        run(alter.format(t=name))
    got_loc, parts, schema = dml._table_meta(spark, name)
    assert dml._local_os_path(got_loc) == loc
    assert parts == (["p"] if extra else [])
    want = spark.table(name).schema
    assert schema == want
    assert [f.metadata for f in schema.fields] == [f.metadata for f in want.fields]
    spark.sql(f"DROP TABLE {name}")


_STRING = T.StructType([T.StructField("s", T.StringType())])


def _spark_value(spark, text: str, type_name: str):
    return spark.sql(f"SELECT CAST(({text}) AS {type_name}) AS v").collect()[0].v


@settings(
    max_examples=60, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(value=st.one_of(
    st.none(),
    st.text(),
    st.text(alphabet="'\\ab\n\"%_u"),
))
def test_rendered_string_literal_is_computed_in_python(spark, value):
    """A bound string (quotes, backslashes, unicode, empty) or NULL, as
    ``session._render_literal`` renders it into a STRING SET value, is
    computed in Python with no JVM call, and equals Spark's value."""
    text = _render_literal(value)
    with py4j_calls(spark) as n:
        got = dml._set_values(
            spark, _STRING, {"s": text}, point.driver_arrow_schema(_STRING)
        )["s"].as_py()
    assert n[0] == 0
    assert got == value == _spark_value(spark, text, "string")


@pytest.mark.parametrize(
    "text, type_name",
    [
        ("'5'", "int"),
        ("DATE '2020-01-02'", "date"),
        ("'2020-01-02'", "date"),
        ("'a' || 'b'", "string"),
        ("'a''' || 'b'", "string"),
        ("'a\\'b'", "string"),
        ("'\\n'", "string"),
        ("5", "bigint"),
        ("'x'", "binary"),
    ],
)
def test_other_literals_go_to_spark(spark, text, type_name):
    """Every other literal and type pair — a string into a non-string
    column, a typed or concatenated literal, an escape the renderer
    never writes, a number — is evaluated by Spark, with Spark's
    value."""
    schema = T.StructType([T.StructField("c", T.DataType.fromDDL(type_name))])
    assert dml._literal_value(text, type_name) is dml._SPARK
    with py4j_calls(spark) as n:
        got = dml._set_values(
            spark, schema, {"c": text}, point.driver_arrow_schema(schema)
        )["c"].as_py()
    assert n[0] > 0
    want = _spark_value(spark, text, type_name)
    assert got == (bytes(want) if isinstance(want, bytearray) else want)


def test_null_into_any_column_is_computed_in_python():
    for type_name in ("int", "bigint", "date", "double", "binary", "string"):
        assert dml._literal_value(" null ", type_name) is None


def test_local_rename_never_replaces_a_file(spark, tmp_path):
    """A local rename refuses an existing target (POSIX rename would
    replace it) and leaves both files; otherwise it creates the target's
    directories and carries the file's Hadoop checksum sidecar along. A
    publish whose staged file already exists in the table raises and
    keeps the incumbent."""
    stage, table = tmp_path / "_staging", tmp_path / "t"
    stage.mkdir()
    (stage / "part-0.parquet").write_bytes(b"new")
    (stage / ".part-0.parquet.crc").write_bytes(b"crc")
    files = dml._Files(spark, f"file:{table}")
    assert files.rename(f"file:{stage}/part-0.parquet", f"file:{table}/sub/part-0.parquet")
    assert (table / "sub" / "part-0.parquet").read_bytes() == b"new"
    assert (table / "sub" / ".part-0.parquet.crc").read_bytes() == b"crc"
    assert not (stage / ".part-0.parquet.crc").exists()

    (stage / "part-0.parquet").write_bytes(b"again")
    assert not files.rename(f"{stage}/part-0.parquet", f"{table}/sub/part-0.parquet")
    assert (table / "sub" / "part-0.parquet").read_bytes() == b"new"
    assert (stage / "part-0.parquet").read_bytes() == b"again"

    files.delete(f"{table}/sub/part-0.parquet")
    assert os.listdir(table / "sub") == []
    files.delete(f"{table}/sub/part-0.parquet")  # already gone: no error

    name, loc = _table(spark, "k INT, v STRING")
    insert_arrow(spark, name, pa.table({"k": [1], "v": ["a"]}))
    (live,) = [n for n in os.listdir(loc) if not n.startswith(("_", "."))]
    staged = tmp_path / "_staging2"
    staged.mkdir()
    (staged / live).write_bytes(b"clash")
    with pytest.raises(IOError, match="publish rename failed"):
        dml.publish(spark, name, f"file:{staged}", [], f"file:{loc}")
    assert spark.sql(f"SELECT v FROM {name}").collect()[0].v == "a"


def test_driver_files_dictionary_encode_only_repeating_columns(tmp_path):
    """A driver-written file keeps a dictionary for a column that repeats
    its values and writes a mostly-unique column plain, which is the
    smaller encoding for it."""
    import random

    import pyarrow.parquet as pq

    rng = random.Random(5)
    n = 2000
    tbl = pa.table({
        "k": pa.array(range(n), pa.int64()),
        "u": ["".join(rng.choices("abcdefghij", k=16)) for _ in range(n)],
        "r": [rng.choice(["red", "green", "blue"]) for _ in range(n)],
    })
    dml._write_staged_arrow(str(tmp_path / "chosen"), tbl)
    (path,) = (tmp_path / "chosen").iterdir()
    meta = pq.ParquetFile(path).metadata.row_group(0)
    dictionary = {
        meta.column(i).path_in_schema: "RLE_DICTIONARY" in meta.column(i).encodings
        for i in range(meta.num_columns)
    }
    assert dictionary == {"k": False, "u": False, "r": True}
    pq.write_table(tbl, tmp_path / "all.parquet", compression="zstd")
    assert path.stat().st_size < (tmp_path / "all.parquet").stat().st_size
