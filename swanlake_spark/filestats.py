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
reads list it without the lock and serve it only when it agrees with
the table's newest manifest (``operators/point.py``). Any case
the statistics cannot vouch for answers ``None`` and the caller takes
its unpruned path: a non-local location, a subdirectory in the table
root, or an unreadable footer.
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


def file_stats(name: str, path: str) -> FileStats:
    """Footer statistics of the one Parquet file at OS path ``path``
    (not memoized: point reads ask this of a retained file)."""
    return _read_footer(name, path, os.stat(path).st_size)


def live_files(loc: str | None) -> list[FileStats] | None:
    """Footer statistics of every live data file under the table
    location ``loc``, or None when they cannot vouch for the table's
    contents: a non-local location, a non-hidden subdirectory (Spark
    would read files the top-level listing does not show), or a file
    whose footer does not read as Parquet. A file that leaves the
    directory between the listing and its footer read (a reader
    outside the table write lock racing a publish) lists again."""
    from swanlake_spark.operators.dml import _local_os_path

    osp = _local_os_path(loc) if loc else None
    if osp is None:
        return None
    osp = osp.rstrip("/")
    for _ in range(3):
        try:
            return _live_files(osp)
        except FileNotFoundError:
            continue
    return None


def _live_files(osp: str) -> list[FileStats] | None:
    """:func:`live_files` of the OS directory ``osp``; raises
    FileNotFoundError when a listed file is gone before it is read."""
    try:
        entries = [e for e in os.scandir(osp) if not is_hidden(e.name)]
    except OSError:
        with _MEMO_LOCK:
            _MEMO.pop(osp, None)  # e.g. a dropped table's directory
        return None
    if not all(e.is_file() for e in entries):
        return None
    try:
        listing = sorted(
            (e.name, st.st_size, st.st_mtime_ns)
            for e in entries
            for st in (e.stat(),)
        )
    except FileNotFoundError:
        raise
    except OSError:
        return None
    with _MEMO_LOCK:
        known = dict(_MEMO.get(osp, {}))
    out: list[FileStats] = []
    for key in listing:
        fs = known.get(key)
        if fs is None:
            name, size, _ = key
            try:
                fs = _read_footer(name, f"{osp}/{name}", size)
            except FileNotFoundError:
                raise
            except (OSError, ValueError):
                return None  # includes pyarrow's ArrowInvalid
        out.append(fs)
    with _MEMO_LOCK:
        if out:
            _MEMO[osp] = dict(zip(listing, out))
        else:
            _MEMO.pop(osp, None)
    return out


def candidates(
    files: list[FileStats], bounds: list[tuple[str, list[Interval]]]
) -> list[FileStats]:
    """The files that may hold a row satisfying every ``(column,
    intervals)`` bound."""
    return [
        f for f in files if all(f.may_hold(c, iv) for c, iv in bounds)
    ]
