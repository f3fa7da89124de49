"""Property-based tests (hypothesis) for the DML/MERGE statement
scanners. The scanners' whole job is to find keywords at paren-depth 0
OUTSIDE string/identifier literals — adversarial literals containing
keywords, quotes, commas, and parens are exactly the inputs a
property-based generator covers better than example tests.

Pure string-level properties — no SparkSession needed, so this module
runs in milliseconds and shakes thousands of statements.
"""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st

from swanlake_spark.operators.dml import (
    _split_depth0_commas,
    parse_delete,
    parse_merge,
    parse_update,
)
from swanlake_spark.plans.parser import _mask_literals, _scan

# -- building blocks ----------------------------------------------------------

_ident = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,10}", fullmatch=True).filter(
    # bare identifiers must not collide with the keywords the scanners
    # look for (a column literally named WHERE needs quoting — as in SQL)
    lambda s: s.upper()
    not in {
        "WHERE", "SET", "VALUES", "USING", "ON", "WHEN", "THEN", "MATCHED",
        "NOT", "AND", "UPDATE", "DELETE", "INSERT", "MERGE", "INTO", "FROM",
        "CASE", "END", "AS", "SELECT", "EXISTS", "IN", "IS", "NULL",
    }
)

# string literals may contain ANYTHING once quotes are doubled —
# including keywords, parens, and commas
_str_literal = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=30
).map(lambda s: "'" + s.replace("'", "''") + "'")

_number = st.integers(-10**6, 10**6).map(str)

# simple scalar expression: literal, number, column, or a parenthesized
# two-term combination of those
_atom = st.one_of(_str_literal, _number, _ident)
_expr = st.one_of(
    _atom,
    st.tuples(_atom, _atom).map(lambda t: f"({t[0]} + {t[1]})"),
    st.tuples(_atom, _atom).map(lambda t: f"coalesce({t[0]}, {t[1]})"),
)


# -- _mask_literals invariants ------------------------------------------------


@given(st.text(max_size=80))
@settings(max_examples=300, deadline=None)
def test_mask_preserves_length_and_structure(text):
    masked = _mask_literals(text)
    assert len(masked) == len(text)
    # every kept position holds the original character
    kept = {i for i, _ in _scan(text)}
    for i, ch in enumerate(masked):
        if i in kept:
            assert ch == text[i]
        else:
            assert ch == " "


@given(st.lists(_str_literal, min_size=1, max_size=5))
@settings(max_examples=200, deadline=None)
def test_mask_blanks_every_literal(literals):
    stmt = "SELECT " + ", ".join(literals)
    masked = _mask_literals(stmt)
    # no quote contents survive: after masking, the only non-space chars
    # are the SELECT head, commas, and the quote marks themselves
    body = masked[len("SELECT "):]
    assert set(body) <= set(" ,'")


# -- depth-0 comma splitting --------------------------------------------------


@given(st.lists(_expr, min_size=1, max_size=6))
@settings(max_examples=300, deadline=None)
def test_split_depth0_commas_roundtrip(parts):
    joined = ",".join(parts)
    got = _split_depth0_commas(joined)
    assert [p.strip() for p in got] == [p.strip() for p in parts]


# -- UPDATE / DELETE scanners -------------------------------------------------


@given(
    table=_ident,
    cols=st.lists(_ident, min_size=1, max_size=4, unique=True),
    vals=st.lists(_expr, min_size=4, max_size=4),
    where=st.one_of(st.none(), _expr),
)
@settings(max_examples=300, deadline=None)
def test_parse_update_roundtrip(table, cols, vals, where):
    sets_sql = ", ".join(f"{c} = {v}" for c, v in zip(cols, vals))
    stmt = f"UPDATE {table} SET {sets_sql}"
    if where is not None:
        stmt += f" WHERE {where} = 1"
    parsed = parse_update(stmt)
    assert parsed is not None
    ptable, psets, pwhere = parsed
    assert ptable == table
    assert psets == {c: v for c, v in zip(cols, vals)}
    if where is None:
        assert pwhere is None
    else:
        assert pwhere == f"{where} = 1"


@given(table=_ident, where=st.one_of(st.none(), _expr))
@settings(max_examples=200, deadline=None)
def test_parse_delete_roundtrip(table, where):
    stmt = f"DELETE FROM {table}"
    if where is not None:
        stmt += f" WHERE {where} = 1"
    parsed = parse_delete(stmt)
    assert parsed is not None
    ptable, pwhere = parsed
    assert ptable == table
    assert pwhere == (None if where is None else f"{where} = 1")


@given(payload=_str_literal)
@settings(max_examples=200, deadline=None)
def test_update_keywords_inside_literals_ignored(payload):
    """A SET value that is a string literal containing ' WHERE ', ' SET ',
    commas, or parens must not derail the scanner."""
    poisoned = "'" + (" WHERE x SET y, (z " + payload[1:-1]).replace(
        "'", "''"
    ) + "'"
    stmt = f"UPDATE t SET a = {poisoned}, b = 2 WHERE c = {poisoned}"
    parsed = parse_update(stmt)
    assert parsed is not None
    table, sets, where = parsed
    assert table == "t"
    assert sets == {"a": poisoned, "b": "2"}
    assert where == f"c = {poisoned}"


# -- MERGE scanner ------------------------------------------------------------


@given(
    t=_ident,
    s=_ident,
    setval=_expr,
    cond=st.one_of(st.none(), _expr),
    insval=_expr,
)
@settings(max_examples=200, deadline=None)
def test_parse_merge_roundtrip(t, s, setval, cond, insval):
    arms = ""
    if cond is not None:
        arms += f" WHEN MATCHED AND {cond} = 1 THEN DELETE"
    arms += f" WHEN MATCHED THEN UPDATE SET v = {setval}"
    arms += f" WHEN NOT MATCHED THEN INSERT (id, v) VALUES ({s}.id, {insval})"
    stmt = f"MERGE INTO {t} USING {s} ON {t}.id = {s}.id{arms}"
    parsed = parse_merge(stmt)
    assert parsed is not None
    table, t_alias, source_text, on_cond, clauses = parsed
    assert table == t
    assert source_text == s
    assert on_cond == f"{t}.id = {s}.id"
    kinds = [c.kind() for c in clauses]
    if cond is not None:
        assert kinds == ["delete", "update", "insert"]
        assert clauses[0].condition == f"{cond} = 1"
    else:
        assert kinds == ["update", "insert"]


@given(payload=_str_literal)
@settings(max_examples=150, deadline=None)
def test_merge_keywords_inside_literals_ignored(payload):
    poisoned = "'" + (
        " WHEN MATCHED THEN USING ON " + payload[1:-1]
    ).replace("'", "''") + "'"
    stmt = (
        f"MERGE INTO t USING s ON t.id = s.id "
        f"WHEN MATCHED THEN UPDATE SET v = {poisoned} "
        f"WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, {poisoned})"
    )
    parsed = parse_merge(stmt)
    assert parsed is not None
    _, _, source_text, _, clauses = parsed
    assert source_text == "s"
    assert len(clauses) == 2
    assert clauses[0].kind() == "update"
    assert clauses[1].kind() == "insert"


# -- constraint DDL extractors ------------------------------------------------
#
# extract_and_strip_{pk,checks,fks} must (a) find every declared
# constraint, (b) remove exactly the constraint text, leaving a DDL body
# Catalyst can parse, and (c) never fire on look-alike text inside the
# remaining column definitions.

from swanlake_spark.constraints import (  # noqa: E402
    extract_and_strip_checks,
    extract_and_strip_fks,
)

_col = st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True).filter(
    lambda s: s.upper() not in {"CHECK", "CONSTRAINT", "FOREIGN", "KEY",
                                "PRIMARY", "REFERENCES", "INT"}
)
_cmp_expr = st.builds(
    lambda c, lo, hi: f"{c} BETWEEN {lo} AND {hi}",
    _col, st.integers(-100, 0), st.integers(1, 100),
)
_nested_expr = st.builds(
    lambda c, vals: f"{c} IN ({', '.join(str(v) for v in vals)})",
    _col, st.lists(st.integers(0, 9), min_size=1, max_size=4),
)


@given(
    cols=st.lists(_col, min_size=2, max_size=5, unique=True),
    exprs=st.lists(st.one_of(_cmp_expr, _nested_expr), min_size=1, max_size=3),
)
@settings(max_examples=200, deadline=None)
def test_extract_checks_finds_all_and_strips_clean(cols, exprs):
    body = ", ".join(f"{c} INT" for c in cols)
    checks_sql = ", ".join(
        f"CONSTRAINT ck{i} CHECK ({e})" for i, e in enumerate(exprs)
    )
    sql = f"CREATE TABLE t ({body}, {checks_sql})"
    stripped, table, checks = extract_and_strip_checks(sql)
    assert table == "t"
    assert [e for _, e in checks] == exprs
    up = stripped.upper()
    assert "CHECK" not in up
    # every column definition survives
    for c in cols:
        assert f"{c} INT".upper() in up


@given(
    cols=st.lists(_col, min_size=2, max_size=4, unique=True),
    expr=_nested_expr,
)
@settings(max_examples=200, deadline=None)
def test_extract_checks_column_level_balanced_parens(cols, expr):
    defs = [f"{c} INT" for c in cols]
    defs[0] = f"{cols[0]} INT CHECK ({expr})"
    sql = f"CREATE TABLE t ({', '.join(defs)})"
    stripped, table, checks = extract_and_strip_checks(sql)
    assert table == "t" and len(checks) == 1
    assert checks[0][1] == expr
    assert "CHECK" not in stripped.upper()


@given(
    child=st.lists(_col, min_size=1, max_size=3, unique=True),
    parent_t=_col,
    parent_c=st.lists(_col, min_size=1, max_size=3, unique=True),
)
@settings(max_examples=200, deadline=None)
def test_extract_fks_table_level_roundtrip(child, parent_t, parent_c):
    n = min(len(child), len(parent_c))
    child, parent_c = child[:n], parent_c[:n]
    sql = (
        f"CREATE TABLE t ({', '.join(f'{c} INT' for c in child)}, "
        f"FOREIGN KEY ({', '.join(child)}) "
        f"REFERENCES {parent_t}({', '.join(parent_c)}))"
    )
    stripped, table, fks = extract_and_strip_fks(sql)
    assert table == "t" and len(fks) == 1
    assert fks[0] == (child, parent_t, parent_c)
    assert "REFERENCES" not in stripped.upper()


# -- dialect transpiler invariants (r8) ---------------------------------------

_DIALECT_BAIT = st.sampled_from([
    "date_add(x, INTERVAL 1 DAY)",
    "* REPLACE (a AS b)",
    "list_sum(array(1))",
    "struct_pack(a := 1)",
    "generate_series(5, 1)",
    "string_agg(x, ',' ORDER BY n)",
    "USING SAMPLE 10%",
    "a // b",
    "x SIMILAR TO 'p'",
    "regexp_extract_all(s, 'a{2,3}')",
    "time_bucket(INTERVAL 1 DAY, ts)",
    "PIVOT (count(*) FOR p IN ('x' AS cx))",
    "epoch(ts)",
    "list_element(l, 0)",
    "to_base(-5, 2)",
    "substring(s, 0, 3)",
    "left(s, -2)",
    "trim(s, 'x')",
    "split_part(s, ',', 0)",
    "extract(dow FROM d)",
    "jaccard(a, b)",
    # r9 syntax layer: brackets, struct/list literals, power, arrows,
    # division, quantified comparisons, lexical forms — a literal whose
    # CONTENT spells any of these must survive byte-for-byte (modulo
    # the backslash escape pass)
    "[1, 2, 3]",
    "l[1:2]",
    "{a: 1}",
    "2 ^ 3",
    "2 ** n",
    "j->k",
    "x::INT",
    "1 / 0",
    "n % 2",
    "a GLOB p",
    "x = ANY (SELECT 1)",
    "lag(x IGNORE NULLS)",
    "1_000_000",
    "$tag$ body $tag$",
    "ORDER BY x",
    "3 !",
])


@given(
    st.lists(_DIALECT_BAIT, min_size=1, max_size=4),
    st.text(
        alphabet=st.characters(
            blacklist_characters="'\"`", max_codepoint=0x7E
        ),
        max_size=12,
    ),
)
@settings(max_examples=60, deadline=None)
@example(
    baits=["regexp_extract_all(s, 'a{2,3}')"],
    pad='',  # or any other generated value
).via('discovered failure')
def test_transpile_never_rewrites_inside_string_literals(baits, pad):
    """EVERY dialect rewrite must leave string-literal contents intact:
    a literal whose content spells any rewritable syntax survives
    transpile_duckdb verbatim (the r8 mask-span contract, fuzzed)."""
    from swanlake_spark.functions.dialect import transpile_duckdb

    lit = (pad + " ".join(baits) + pad).replace("\x00", "")
    sql = f"SELECT '{lit}' AS c, length('{lit}') AS n FROM t"
    out = transpile_duckdb(sql)
    # the final escape pass doubles backslashes (Spark's literal layer
    # consumes one level — the SEMANTIC content is preserved verbatim);
    # everything else in the literal must survive byte-for-byte
    expected = lit.replace("\\", "\\\\")
    assert f"'{expected}'" in out, (lit, out)
    assert out.count(f"'{expected}'") == 2


def test_transpile_is_idempotent_on_rewritten_output():
    """The session layer may transpile a statement twice (prepared
    create + execute); every rewrite's output must be a fixed point."""
    from swanlake_spark.functions.dialect import transpile_duckdb

    corpus = [
        "FROM t SELECT a WHERE b > 2 ORDER BY a",
        "SELECT list_sum(array(1, NULL, 2)) AS s FROM t",
        "SELECT list_unique(array(1, 2)) FROM t",
        "SELECT generate_series(1, 5), generate_series(5, 1) FROM t",
        "SELECT range(1, 5), range(10, 1, -3) FROM t",
        "SELECT string_agg(x, ', ' ORDER BY n) FROM t GROUP BY g",
        "SELECT regexp_replace(s, 'an', 'X') FROM t",
        "SELECT regexp_replace(s, 'an', 'X', 'g') FROM t",
        "SELECT quantile_disc(x, 0.5) FROM t",
        "SELECT * REPLACE (a * 2 AS a) FROM t",
        "SELECT struct_pack(a := 1), time_bucket(INTERVAL 1 DAY, ts) FROM t",
        "SELECT x FROM t USING SAMPLE 10%",
        "SELECT a // b, x SIMILAR TO 'p', isodow(d), list_reduce(l, (p, q) -> p + q) FROM t",
        "SELECT sha256(s), to_base(n, 16), dayname(d), json_valid(j) FROM t",
        "SELECT epoch(ts), list_element(l, 3), to_base(n, 2, 8) FROM t",
        "SHOW TABLES FROM db",
        "SELECT substring(s, 0, 3), left(s, -2), right(s, n) FROM t",
        "SELECT trim(s, 'x'), ltrim(s, c), rtrim(s, c) FROM t",
        "SELECT split_part(s, ',', i), even(x), trunc(x) FROM t",
        "SELECT extract(dow FROM d), dayofweek(d), weekday(d) FROM t",
        "SELECT format('{}-{}', a, b), jaccard(a, b), hamming(a, b) FROM t",
        "SELECT list_element('abcde', 3), isodow(d) FROM t",
        "INSERT INTO t FROM src",
        "SELECT string_split('a.b', '.'), list_prepend(0, l) FROM t",
        "SELECT list_aggregate(l, 'avg'), quantile(x, 0.9) FROM t QUALIFY row_number() OVER (ORDER BY x) = 1",
        "SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v",
        "SELECT [1, 2], l[2], l[1:2], 'abc'[2], ARRAY[1] FROM t",
        "SELECT {'a': 1, 'b': x}.b, 2 ^ 3, 2 ** n FROM t",
        "SELECT j->'a'->>'b', j->0, x::JSON FROM t",
        "SELECT [y + 1 FOR y IN l IF y > 0] FROM t",
        "CREATE TABLE tt (x INTEGER[], y VARCHAR[3])",
        "SELECT x FROM t ORDER BY x DESC, y, z NULLS FIRST LIMIT 3",
        "SELECT rank() OVER (ORDER BY x) FROM t ORDER BY ALL",
        "SELECT date_diff('month', a, b), date_trunc('week', d) FROM t",
        "SELECT 2.5::INT, CAST(x AS BIGINT), typeof(x), gcd(a, b) FROM t",
        "SELECT concat(a, b), list_cat(l, m), skewness(x), product(y) FROM t",
    ]
    import re as _re

    for sql in corpus:
        once = transpile_duckdb(sql)
        twice = transpile_duckdb(once)
        # Two rewrite families are non-idempotent BY NATURE and covered
        # by the structural exactly-once guarantee instead (a Statement
        # is never transpiled again; see test_prepared_backslash_regex_...):
        # - the literal-escape pass (backslash doubling)
        # - DuckDB division/modulo semantics (re-wrapping an already
        #   emitted `/ nullif(...)` is a semantic no-op but not a
        #   textual fixed point)
        # Everything else must be a strict fixed point.
        if not _re.search(r"[\\/%]", once):
            assert twice == once, (sql, once, twice)


def test_literal_escape_pass_duckdb_semantics():
    """DuckDB string literals are SQL-standard (backslash = plain
    char); Spark's literal layer consumes one escape level. The final
    transpile pass doubles backslashes so '\\d' means regex-digit all
    the way through; E'...' escape-strings drop the E and keep their
    (already Spark-compatible) escapes."""
    from swanlake_spark.functions.dialect import transpile_duckdb

    out = transpile_duckdb(r"SELECT regexp_extract(s, '\d+', 0) FROM t")
    assert r"'\\d+'" in out
    out = transpile_duckdb(r"SELECT 'C:\tmp\new' AS p")
    assert r"'C:\\tmp\\new'" in out
    # E-string: E dropped, escapes preserved for Spark's layer
    out = transpile_duckdb(r"SELECT E'a\nb' AS x")
    assert r"'a\nb'" in out and "E'" not in out
    # injected split regex is doubled exactly once
    out = transpile_duckdb("SELECT string_split('a.b', '.') AS l")
    assert r"'\\.'" in out
    # no backslash, no E-string: byte-identical fast path
    assert transpile_duckdb("SELECT 'plain' AS s") == "SELECT 'plain' AS s"


def test_prepared_statement_single_transpile():
    """Prepared statements store their built Statement and never
    transpile it again — the escape pass must not run twice (a
    double-run would corrupt '\\d' into '\\\\d')."""
    from swanlake_spark.functions.dialect import transpile_duckdb

    once = transpile_duckdb(r"SELECT regexp_extract(s, '\d+', 0) FROM t")
    twice = transpile_duckdb(once)
    assert once != twice  # doubling is real — exactly-once is load-bearing
