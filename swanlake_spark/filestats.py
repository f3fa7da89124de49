"""Per-file column ranges from Parquet footers.

DuckLake's catalog keeps a min/max per data file, so a point write opens
only the files whose range can hold its key. Spark's Parquet tables keep
no catalog statistics, but every file carries the same facts in its
footer (row-group min/max and the row count). This module reads them
once per file and answers: which live files of a table can hold a value
of column ``c`` inside these bounds?

The statistics are kept per table directory for its newest manifest
(:func:`snapshot_files`). A copy-on-write publish never edits a file in
place — a rewrite always gets a new name — so the next manifest reuses
the statistics of every file it shares with the previous one, and only
the files a write added have their footers read.

Every caller takes the files from the table's newest manifest
(``versions.newest``), without a directory listing: point reads
(``operators/point.py``), and writers, which hold the table write lock,
under which that manifest names exactly the table's files
(``versions.held``) — UPDATE/DELETE (``dml._cow``) and the
primary-key probe of an append (``constraints.bounded_existing_probe``).
Any case the statistics cannot vouch for answers ``None`` and the
caller takes its unpruned path: no manifest, a non-local location, a
file in a subdirectory, or an unreadable footer.
"""

from __future__ import annotations

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
    them: no manifest, a non-local location, a file in a subdirectory,
    or a footer that does not read as Parquet. Built once per manifest, reusing
    the statistics of the previous manifest's files by name and size (a
    publish never rewrites a file in place). Raises FileNotFoundError
    for a file that a later publish moved away before its footer was
    read."""
    from swanlake_spark.operators.dml import _local_os_path

    if m is None:
        return None
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


def candidates(
    files: list[FileStats], bounds: list[tuple[str, list[Interval]]]
) -> list[FileStats]:
    """The files that may hold a row satisfying every ``(column,
    intervals)`` bound."""
    for c, iv in bounds:
        files = [f for f in files if f.may_hold(c, iv)]
    return files
