"""Per-file column ranges from Parquet footers.

DuckLake's catalog keeps a min/max per data file, so a point write opens
only the files whose range can hold its key. Spark's Parquet tables keep
no catalog statistics, but every file carries the same facts in its
footer (row-group min/max and the row count). This module reads them
once per file and answers: which live files of a table can hold a value
of column ``c`` inside these bounds?

The memo is keyed per table directory by ``(file name, size, mtime)``.
A copy-on-write publish never edits a file in place — a rewrite always
gets a new name — and the mtime catches a file an outside writer
replaced under the same name and size. Entries whose file has left the
listing are dropped on the next lookup, and a table directory that is
gone drops all of its entries, which bounds the memo by the live files.

Writers list the directory under the table write lock, so no writer can
publish between the listing and the rewrite that relies on it. Point
reads take the files of the table's newest manifest instead, without a
listing (:func:`snapshot_files`, ``operators/point.py``). Any case the
statistics cannot vouch for answers ``None`` and the caller takes its
unpruned path: a non-local location, a subdirectory in the table root,
or an unreadable footer.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

import pyarrow.parquet as pq

# Spark types whose footer min/max bound values (Parquet INT32/INT64)
INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")
# an inclusive interval; None on a side means unbounded
Interval = tuple[int | None, int | None]


@dataclass(frozen=True)
class FileStats:
    name: str
    path: str
    size: int
    rows: int
    # lower-cased column name -> (min, max) over every row group; a
    # column is absent when some row group carries no integral min/max
    ranges: dict[str, tuple[int, int]]

    def may_hold(self, column: str, intervals: list[Interval]) -> bool:
        """False only when no row of this file can have ``column`` in
        any of ``intervals``."""
        if self.rows == 0:
            return False
        rng = self.ranges.get(column.lower())
        if rng is None:
            return True
        lo, hi = rng
        return any(
            (a is None or a <= hi) and (b is None or b >= lo)
            for a, b in intervals
        )


_MEMO: dict[str, dict[tuple[str, int, int], FileStats]] = {}
# per table directory: (manifest seq, its files' statistics)
_SNAPSHOT: dict[str, tuple[int, list[FileStats]]] = {}
_MEMO_LOCK = threading.Lock()


def is_hidden(name: str) -> bool:
    """Spark's rule: a name starting with ``_`` or ``.`` is not data.
    Every listing of a table's data files applies it."""
    return name.startswith(("_", "."))


def _read_footer(name: str, path: str, size: int) -> FileStats:
    md = pq.read_metadata(path)
    ranges: dict[str, tuple[int, int]] = {}
    for i in range(md.num_columns):
        column = md.schema.column(i)
        if "." in column.path or column.physical_type not in ("INT32", "INT64"):
            continue  # only top-level integer columns are ever bounded
        lo = hi = None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(i).statistics
            if (
                st is None
                or not st.has_min_max
                or not isinstance(st.min, int)
                or not isinstance(st.max, int)
            ):
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        else:
            if lo is not None:
                ranges[column.name.lower()] = (lo, hi)
    return FileStats(name, path, size, md.num_rows, ranges)


def snapshot_files(m) -> list[FileStats] | None:
    """Footer statistics of every file the manifest ``m`` (a
    ``versions.Manifest``) names, or None when they cannot vouch for
    them: a non-local location, a file in a subdirectory, or a footer
    that does not read as Parquet. Built once per manifest, reusing
    the statistics of the previous manifest's files by name and size (a
    publish never rewrites a file in place). Raises FileNotFoundError
    for a file that a later publish moved away before its footer was
    read."""
    from swanlake_spark.operators.dml import _local_os_path

    osp = _local_os_path(m.loc)
    with _MEMO_LOCK:
        got = _SNAPSHOT.get(osp)
        if got is not None and got[0] == m.seq:
            return got[1]
    if osp is None or any("/" in name for name, _ in m.files):
        return None
    known = {(f.name, f.size): f for f in got[1]} if got else {}
    out: list[FileStats] = []
    for name, size in m.files:
        fs = known.get((name, size))
        if fs is None:
            try:
                fs = _read_footer(name, f"{osp}/{name}", size)
            except FileNotFoundError:
                raise
            except (OSError, ValueError):
                return None  # includes pyarrow's ArrowInvalid
        out.append(fs)
    with _MEMO_LOCK:
        if osp not in _SNAPSHOT or _SNAPSHOT[osp][0] < m.seq:
            _SNAPSHOT[osp] = (m.seq, out)
    return out


def live_files(loc: str | None) -> list[FileStats] | None:
    """Footer statistics of every live data file under the table
    location ``loc``, or None when they cannot vouch for the table's
    contents: a non-local location, a non-hidden subdirectory (Spark
    would read files the top-level listing does not show), or a file
    whose footer does not read as Parquet. Its callers hold the table
    write lock, so no file leaves the directory meanwhile."""
    from swanlake_spark.operators.dml import _local_os_path

    osp = _local_os_path(loc) if loc else None
    if osp is None:
        return None
    osp = osp.rstrip("/")
    try:
        entries = [e for e in os.scandir(osp) if not is_hidden(e.name)]
        if not all(e.is_file() for e in entries):
            return None
        listing = sorted(
            (e.name, st.st_size, st.st_mtime_ns)
            for e in entries
            for st in (e.stat(),)
        )
        with _MEMO_LOCK:
            known = dict(_MEMO.get(osp, {}))
        out = [
            known.get(key) or _read_footer(key[0], f"{osp}/{key[0]}", key[1])
            for key in listing
        ]
    except (OSError, ValueError):  # includes pyarrow's ArrowInvalid
        out = []  # e.g. a dropped table's directory
        listing = None
    with _MEMO_LOCK:
        if out:
            _MEMO[osp] = dict(zip(listing, out))
        else:
            _MEMO.pop(osp, None)
    return out if listing is not None else None


def candidates(
    files: list[FileStats], bounds: list[tuple[str, list[Interval]]]
) -> list[FileStats]:
    """The files that may hold a row satisfying every ``(column,
    intervals)`` bound."""
    for c, iv in bounds:
        files = [f for f in files if f.may_hold(c, iv)]
    return files
