"""Statement splitting, classification and INSERT introspection.

Re-implements (behaviorally) the reference's sqlparser-based layer:

- ``split_statements``  — ``;``-separated scripts → statements, honoring
  string literals, quoted identifiers and comments
  (reference: ``execute_batch`` + ``statement_count``,
  ``swanlake-core/src/engine/connection.rs:135-146``,
  ``swanlake-core/src/sql/parser.rs:278-291``).
- ``classify``          — is-query (returns rows): SELECT / VALUES /
  WITH / SHOW / EXPLAIN / DESCRIBE / PRAGMA / TABLE
  (reference: ``ParsedStatement::is_query``, ``sql/parser.rs:34-74``).
- ``insert_info``       — target table + column list + VALUES shape for
  routing ingest to the bulk-append fast path
  (reference: ``sql/parser.rs:77-227``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from swanlake_spark.errors import InvalidArgument

_QUERY_LEADERS = {
    "SELECT",
    "VALUES",
    "WITH",
    "SHOW",
    "EXPLAIN",
    "DESCRIBE",
    "DESC",
    "PRAGMA",
    "TABLE",
    "FROM",  # DuckDB leading-FROM shorthand (engine rewrites to SELECT *)
    "SUMMARIZE",
}


def _scan(sql: str):
    """Yield (index, char) of chars outside strings/quotes/comments."""
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":  # string literal ('' escapes)
            i += 1
            while i < n:
                if sql[i] == "'" and i + 1 < n and sql[i + 1] == "'":
                    i += 2
                elif sql[i] == "'":
                    i += 1
                    break
                else:
                    i += 1
            continue
        if c == '"':  # quoted identifier ("" escapes)
            i += 1
            while i < n:
                if sql[i] == '"' and i + 1 < n and sql[i + 1] == '"':
                    i += 2
                elif sql[i] == '"':
                    i += 1
                    break
                else:
                    i += 1
            continue
        if c == "`":  # Spark backtick identifier (`` escapes)
            i += 1
            while i < n:
                if sql[i] == "`" and i + 1 < n and sql[i + 1] == "`":
                    i += 2
                elif sql[i] == "`":
                    i += 1
                    break
                else:
                    i += 1
            continue
        if c == "-" and i + 1 < n and sql[i + 1] == "-":  # line comment
            while i < n and sql[i] != "\n":
                i += 1
            continue
        if c == "/" and i + 1 < n and sql[i + 1] == "*":  # block comment
            i += 2
            while i + 1 < n and not (sql[i] == "*" and sql[i + 1] == "/"):
                i += 1
            i += 2
            continue
        yield i, c
        i += 1


def split_statements(sql: str) -> list[str]:
    """Split a ``;``-separated script into individual statements."""
    if "\x00" in sql:
        # Reference rejects NULL bytes in SQL (engine/connection.rs:245-252).
        raise InvalidArgument("SQL contains NULL bytes")
    cuts = [i for i, c in _scan(sql) if c == ";"]
    parts, start = [], 0
    for cut in cuts:
        parts.append(sql[start:cut])
        start = cut + 1
    parts.append(sql[start:])
    return [p.strip() for p in parts if p.strip()]


def _first_keyword(stmt: str) -> str:
    # strip leading comments/whitespace via the scanner
    for i, c in _scan(stmt):
        if not c.isspace():
            m = re.match(r"[A-Za-z_]+", stmt[i:])
            return m.group(0).upper() if m else ""
    return ""


@dataclass
class ParsedStatement:
    """Classification of a (possibly multi-statement) SQL script."""

    statements: list[str] = field(default_factory=list)

    @property
    def statement_count(self) -> int:
        return len(self.statements)

    @property
    def is_query(self) -> bool:
        """True iff a single statement that returns rows."""
        return self.statement_count == 1 and _first_keyword(self.statements[0]) in _QUERY_LEADERS

    @property
    def contains_query(self) -> bool:
        return any(_first_keyword(s) in _QUERY_LEADERS for s in self.statements)

    @property
    def all_queries(self) -> bool:
        """True iff every statement is side-effect-free (returns rows) —
        safe to re-run on a fallback path."""
        return bool(self.statements) and all(
            _first_keyword(s) in _QUERY_LEADERS for s in self.statements
        )


def classify(sql: str) -> ParsedStatement:
    return ParsedStatement(statements=split_statements(sql))


_IDENT = r'(?:[A-Za-z_][A-Za-z0-9_]*|"(?:[^"]|"")+"|`(?:[^`]|``)+`)'


@dataclass
class InsertInfo:
    table: str
    columns: list[str] | None
    source: str  # VALUES | SELECT | WITH | TABLE | ""
    values_rows: int | None = None
    values_cols: int | None = None
    all_placeholders: bool = False


def _unquote(ident: str) -> str:
    ident = ident.strip()
    if ident.startswith('"') and ident.endswith('"'):
        return ident[1:-1].replace('""', '"')
    if ident.startswith("`") and ident.endswith("`"):
        return ident[1:-1].replace("``", "`")
    return ident


# a table name as a statement writes it: one to three dot-separated
# parts, each a plain word or a quoted identifier, which may hold spaces
# and dots (every statement-head pattern shares it: the engine's, sync's,
# UPDATE/DELETE/MERGE's and INSERT's)
_TABLE_PART = r'(?:\w+|"(?:[^"]|"")+"|`(?:[^`]|``)+`)'
TABLE_NAME = rf"{_TABLE_PART}(?:\.{_TABLE_PART}){{0,2}}"
_INSERT_RE = re.compile(
    rf"^\s*INSERT\s+INTO\s+(?P<table>{TABLE_NAME})"
    rf"\s*(?:\((?P<cols>[^)]*)\))?\s*(?P<rest>VALUES|SELECT|WITH|TABLE)?",
    re.IGNORECASE | re.DOTALL,
)


def table_parts(text: str) -> list[str]:
    """The unquoted parts of a :data:`TABLE_NAME`."""
    return [_unquote(p) for p in re.findall(_TABLE_PART, text)]


def table_ref(text: str) -> str:
    """A :data:`TABLE_NAME` as the catalog lookups take it: each part
    unquoted, and back-quoted again only when it is not a plain word."""
    from swanlake_spark.plans.quoting import quote_identifier

    return ".".join(
        u if re.fullmatch(r"\w+", u) else quote_identifier(u)
        for u in table_parts(text)
    )


def insert_info(stmt: str) -> InsertInfo | None:
    """Introspect an INSERT statement (target, column list, VALUES shape).

    Reference: INSERT introspection in ``sql/parser.rs:77-227`` — used to
    route bulk ingest to the appender fast path and to infer parameter
    schemas for multi-row VALUES.
    """
    m = _INSERT_RE.match(stmt)
    if not m:
        return None
    cols = None
    if m.group("cols") is not None:
        cols = [_unquote(c) for c in m.group("cols").split(",") if c.strip()]
    info = InsertInfo(
        table=m.group("table"),
        columns=cols,
        source=(m.group("rest") or "").upper(),
    )
    if info.source == "VALUES":
        tail = stmt[m.end():]
        # count top-level parenthesized tuples and the arity of the first
        depth = 0
        rows = 0
        first_cols = 0
        commas = 0
        placeholders = 0
        items = 0
        for i, c in _scan(tail):
            if c == "(":
                depth += 1
                if depth == 1:
                    rows += 1
            elif c == ")":
                depth -= 1
                if depth == 0 and rows == 1 and first_cols == 0:
                    first_cols = commas + 1
            elif c == "," and depth == 1 and rows == 1:
                commas += 1
            elif c == "?" and depth >= 1:
                placeholders += 1
            elif depth >= 1 and not c.isspace() and c not in ",()":
                items += 1
        info.values_rows = rows
        info.values_cols = first_cols or None
        info.all_placeholders = placeholders > 0 and items == 0
    return info


def count_placeholders(stmt: str) -> int:
    """Number of ``?`` parameter placeholders outside literals."""
    return sum(1 for _, c in _scan(stmt) if c == "?")


def _mask_literals(stmt: str) -> str:
    """Same text with string/identifier literals and comments blanked
    (positions preserved) so regexes can't match inside them."""
    keep = {i for i, _ in _scan(stmt)}
    return "".join(c if i in keep else " " for i, c in enumerate(stmt))


def _keyword_at_depth0(masked: str, word: str, start: int = 0) -> int:
    """Position of the first occurrence of ``word`` at paren-depth 0 in
    the literal-masked statement, or -1. Masking + depth tracking means
    keywords inside strings, comments, quoted identifiers, or subqueries
    never match."""
    up = masked.upper()
    depth = 0
    for i, ch in enumerate(masked):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and i >= start and up.startswith(word, i):
            before_ok = i == 0 or not (masked[i - 1].isalnum() or masked[i - 1] in '_"`')
            j = i + len(word)
            after_ok = j >= len(masked) or not (masked[j].isalnum() or masked[j] in '_"`')
            if before_ok and after_ok:
                return i
    return -1


_COL = rf"{_IDENT}(?:\.{_IDENT})*"
_CMP = r"(?:=|<=|>=|<>|!=|<|>)"
_BEHIND_CMP = re.compile(rf"({_COL})\s*{_CMP}\s*$", re.DOTALL)
_AHEAD_CMP = re.compile(rf"^\s*{_CMP}\s*({_COL})")
_BEHIND_BETWEEN_LOW = re.compile(
    rf"({_COL})\s+(?:NOT\s+)?BETWEEN\s*$", re.IGNORECASE | re.DOTALL
)
_BEHIND_BETWEEN_HIGH = re.compile(
    rf"({_COL})\s+(?:NOT\s+)?BETWEEN\s+\S+\s+AND\s*$", re.IGNORECASE | re.DOTALL
)
_BEHIND_IN = re.compile(
    rf"({_COL})\s+(?:NOT\s+)?IN\s*\([^()]*$", re.IGNORECASE | re.DOTALL
)


def parameter_columns(stmt: str) -> list[str] | None:
    """Map each ``?`` placeholder to the column it constrains, for
    parameter-schema inference: ``col = ?``, comparisons (either operand
    order), ``col BETWEEN ? AND ?``, ``col IN (?, ...)``, and UPDATE
    ``SET col = ?``. Returns None unless *every* placeholder resolves —
    matching the reference's all-or-nothing contract
    (``sql/parser.rs:103-133,323-404``)."""
    masked = _mask_literals(stmt)
    positions = [i for i, c in _scan(stmt) if c == "?"]
    if not positions:
        return []
    cols: list[str] = []
    for pos in positions:
        before, after = masked[:pos], masked[pos + 1 :]
        m = (
            _BEHIND_CMP.search(before)
            or _BEHIND_BETWEEN_LOW.search(before)
            or _BEHIND_BETWEEN_HIGH.search(before)
            or _BEHIND_IN.search(before)
        )
        if not m:
            m = _AHEAD_CMP.match(after)
        if not m:
            return None
        # qualified names bind to their final segment
        cols.append(_unquote(m.group(1).split(".")[-1]))
    return cols
