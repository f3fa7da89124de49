"""Table snapshots and time travel over the copy-on-write publish path.

The reference's embedded DuckLake catalog versions every commit: each
write produces a new snapshot and any older snapshot stays queryable
(``/root/reference/swanlake-core/src/engine/factory.rs:38-39`` loads the
ducklake extension whose catalog tables carry the snapshot chain). Spark
parquet tables have no catalog pointer, so this module supplies the same
capability with directory-level metadata:

- Every engine write (INSERT / UPDATE / DELETE / MERGE / TRUNCATE /
  compaction / clustering / rollback) appends a tiny JSON **manifest**
  ``v<version>.json`` under a ``_versions/<table>/manifests`` sibling
  of the table location (same FileSystem as the data, like the
  ``_staging`` sibling; the ``_`` prefix hides it from directory
  scans). A manifest is either a full listing of the live data files
  (relative path + size) and the schema, or a **delta** naming the
  version it applies to and the files added and removed since (the
  schema only when it changed), like a DuckLake snapshot that records
  only the files its commit changed. :func:`record_version` writes a
  full listing whenever the deltas since the last one would outweigh
  it, and :func:`_reconstruct` turns any version back into its full
  listing for every reader.
- When a publish retires data files (``dml.publish``, the one swap
  step of every table rewrite), the files are **renamed** into
  ``_versions/<table>/retained/`` instead of deleted — a metadata move
  on HDFS/local. Part-file names are globally unique (task UUIDs), so
  a flat retained dir cannot collide.
- Reading version N resolves each manifest entry to its live path if
  the file still exists in the table dir, else to its retained path,
  and scans exactly that file list: ``spark.read.parquet(*files)``.

Scale notes (100 TB):
- A snapshot is O(#files) driver-side JSON — no data copy, ever. The
  only data-volume cost is deferred deletion (retained files hold disk
  until ``expire``/VACUUM), identical to DuckLake/Delta retention.
- On object stores rename is a server-side copy; there the honest
  configuration is bucket versioning, or a manifest-primary table
  format (Delta/Iceberg) — documented divergence, same as the COW
  publish itself.
- The newest manifest is the table: :func:`record_version` also keeps
  it in memory (:func:`newest`), with the table's schema, and every
  engine read takes its files and schema from there
  (``swanlake_spark/sync.py``, ``operators/point.py``). Under the table
  write lock it names exactly the table's files (:func:`held`), so
  writers take their live set from it too and list no directory.
- Every rewrite retires the files it replaces through ``dml.publish``,
  partitioned table or not, so every older snapshot stays readable.
  The one exception is compaction, which deletes its inputs: a
  manifest still records the new state, and an older snapshot whose
  files it destroyed raises :class:`SnapshotUnavailable` instead of
  silently returning wrong rows.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
import uuid
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from swanlake_spark.errors import InvalidArgument, NotFound


class SnapshotUnavailable(NotFound):
    """A manifest references files that a non-retaining write path has
    since destroyed (or that expire()/VACUUM reclaimed)."""


# -- paths & FS plumbing ------------------------------------------------------


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def versions_root(
    spark: SparkSession, table: str, loc: str | None = None
) -> str | None:
    """``<parent>/_versions/<table-dir-name>`` beside the table location
    (stable per table, unlike the per-op ``_staging/<uuid>``). Callers
    that already resolved the table location pass it via ``loc`` —
    ``DESCRIBE FORMATTED`` costs a Catalyst round-trip, so the write
    paths resolve it once and thread it through."""
    if loc is None:
        from swanlake_spark.operators.dml import _table_meta

        try:
            loc = _table_meta(spark, table)[0]
        except Exception:  # noqa: BLE001 — no such table: no root
            return None
    if loc is None:
        return None
    loc = loc.rstrip("/")
    if "/" not in loc:
        return None
    parent, name = loc.rsplit("/", 1)
    return f"{parent}/_versions/{name}"


def _manifest_dir(root: str) -> str:
    return root + "/manifests"


def _retained_dir(root: str) -> str:
    return root + "/retained"


def _list_data_files(spark: SparkSession, loc: str) -> list[tuple[str, int]]:
    """Recursive (relpath, size) listing of the table's data files,
    skipping hidden (``_``/``.``) names at every level — metadata only,
    no read."""
    from swanlake_spark.filestats import is_hidden
    from swanlake_spark.operators.dml import _local_os_path

    osp = _local_os_path(loc)
    if osp is not None:
        # local scheme: one scandir per directory vs ~3 Py4J round
        # trips per child — this walk runs after every publish that
        # didn't stash its file list (same fast-path policy as
        # _read_json/_manifest_paths above)
        out_l: list[tuple[str, int]] = []

        def walk_os(d: str, rel: str) -> None:
            try:
                entries = list(os.scandir(d))
            except OSError:
                return
            for e in entries:
                if is_hidden(e.name):
                    continue
                if e.is_dir(follow_symlinks=True):
                    walk_os(e.path, f"{rel}{e.name}/")
                else:
                    out_l.append((rel + e.name, e.stat().st_size))

        walk_os(osp.rstrip("/"), "")
        return sorted(out_l)
    jvm, fs, base = _fs(spark, loc)
    out: list[tuple[str, int]] = []
    # listStatus renders fully-qualified child paths (file:/...); the
    # base must be qualified the same way or the relpath slice is wrong
    # for scheme-less ``loc`` arguments.
    base = fs.makeQualified(base)
    base_str = base.toString().rstrip("/")

    def walk(p):
        for st in fs.listStatus(p):
            if is_hidden(st.getPath().getName()):
                continue
            if st.isDirectory():
                walk(st.getPath())
            else:
                rel = st.getPath().toString()[len(base_str) + 1 :]
                out.append((rel, int(st.getLen())))

    if fs.exists(base):
        walk(base)
    return sorted(out)


def _read_json(spark: SparkSession, path: str) -> dict:
    from swanlake_spark.operators.dml import _local_os_path

    osp = _local_os_path(path)
    if osp is not None:
        # local scheme: read directly — a Py4J open/toByteArray pair
        # costs ~50 ms and manifest reads sit on every snapshot probe
        with open(osp, "rb") as f:
            return json.loads(f.read().decode("utf-8"))
    jvm, fs, p = _fs(spark, path)
    stream = fs.open(p)
    try:
        data = bytes(
            jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))


def _manifest_paths(spark: SparkSession, root: str) -> list[tuple[int, str]]:
    mdir_str = _manifest_dir(root)
    from swanlake_spark.operators.dml import _local_os_path

    osp = _local_os_path(mdir_str)
    if osp is not None:
        # local scheme: one scandir vs a Py4J listStatus plus ~3 Java
        # round-trips per manifest — version probes run on every
        # snapshot-aware statement
        try:
            entries = os.listdir(osp)
        except OSError:
            return []
        out = []
        for name in entries:
            if name.startswith("v") and name.endswith(".json"):
                try:
                    out.append((int(name[1:-5]), f"{mdir_str}/{name}"))
                except ValueError:
                    continue
        return sorted(out)
    jvm, fs, mdir = _fs(spark, mdir_str)
    if not fs.exists(mdir):
        return []
    out = []
    for st in fs.listStatus(mdir):
        name = st.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append((int(name[1:-5]), st.getPath().toString()))
            except ValueError:
                continue
    return sorted(out)


# -- snapshot recording -------------------------------------------------------


def current_version(
    spark: SparkSession, table: str, loc: str | None = None
) -> int:
    root = versions_root(spark, table, loc)
    if root is None:
        return 0
    ms = _manifest_paths(spark, root)
    return ms[-1][0] if ms else 0


def _dumps(payload: dict) -> bytes:
    # compact separators: manifests count towards stored bytes
    return json.dumps(payload, separators=(",", ":")).encode("utf-8")


def _write_json_exclusive(spark: SparkSession, path: str, payload: dict) -> bool:
    """Create-exclusive JSON write: False when the path already exists
    (another writer claimed this version number).

    Local file: scheme writes a hidden temp file and hard-links it to
    the path — the link fails if the path exists, like ``O_EXCL``, and
    the manifest appears with its whole content, so a reader never
    parses a half-written one (point reads read the newest manifest
    without the table lock). Hadoop's
    ``RawLocalFileSystem.create(overwrite=false)`` is CHECK-THEN-ACT
    (exists() then create), and two in-process threads racing the same
    version number could both "win", silently losing one manifest
    (caught by the 16-thread claim stress test). Other schemes keep the
    FileSystem call: HDFS create is atomic server-side; object stores
    without atomic create are documented in SCALE.md as needing an
    external coordinator."""
    from swanlake_spark.operators.dml import _local_os_path

    osp = _local_os_path(path)
    if osp is not None:
        d, name = os.path.split(osp)
        os.makedirs(d, exist_ok=True)
        tmp = f"{d}/.{name}.{uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(_dumps(payload))
        try:
            os.link(tmp, osp)
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        return True
    jvm, fs, p = _fs(spark, path)
    try:
        out = fs.create(p, False)
    except Exception as e:  # FileAlreadyExistsException via py4j
        if "exists" in str(e).lower():
            return False
        raise
    try:
        out.write(bytearray(_dumps(payload)))
    finally:
        out.close()
    return True


def _write_json_replace(spark: SparkSession, path: str, payload: dict) -> None:
    """Replace the JSON file at ``path``: locally a rename over it, so a
    reader sees the old or the new content whole; elsewhere an
    overwriting create."""
    from swanlake_spark.operators.dml import _local_os_path

    osp = _local_os_path(path)
    if osp is not None:
        d, name = os.path.split(osp)
        tmp = f"{d}/.{name}.{uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(_dumps(payload))
        os.replace(tmp, osp)
        return
    _, fs, p = _fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(_dumps(payload)))
    finally:
        out.close()


@dataclass(frozen=True)
class Manifest:
    """A table's newest snapshot as this process knows it: what every
    engine read of the table scans (``sync.py``, ``operators/point.py``)
    and, under the table write lock, what every writer takes as the
    table's live files. ``seq`` orders every manifest the process has
    taken in, across tables, so a session can tell which tables moved
    since it looked."""

    seq: int
    table: tuple[str, str]  # (database, table), lower-cased
    loc: str
    files: tuple[tuple[str, int], ...]  # (table-relative name, size), sorted
    schema: T.StructType | None  # None for a manifest older than schemas
    version: int
    # bytes of the delta manifests written since the chain's last full
    # listing; None when unknown (read from disk), which makes the next
    # record a full listing
    chain: int | None = None
    # :func:`_dir_stamp` of the table's directories once the table held
    # exactly ``files``; None when unknown (read from disk, non-local)
    stamp: int | None = None


# the newest manifest of every table this process recorded or read, by
# table location (single dict operations: atomic under the GIL; a
# record replaces an entry only with a newer version, under _INSTALL)
_NEWEST: dict[str, Manifest] = {}
_SEQ = itertools.count(1)
_INSTALL = threading.Lock()


def qualified(spark: SparkSession, table: str) -> tuple[str, str]:
    """``(database, table)`` of a one-, two- or three-part name,
    lower-cased; a bare name is in the session's current database."""
    parts = [p.strip('`"').lower() for p in table.split(".")]
    if len(parts) == 1:
        return spark.catalog.currentDatabase().lower(), parts[0]
    return parts[-2], parts[-1]


def _install(m: Manifest) -> Manifest:
    """Make ``m`` its table's newest manifest in memory unless a newer
    version is already there; returns the one in memory."""
    with _INSTALL:
        cur = _NEWEST.get(m.loc)
        if cur is None or cur.version < m.version:
            _NEWEST[m.loc] = cur = m
        return cur


def newest(spark: SparkSession, table: str, loc: str) -> Manifest | None:
    """The newest manifest of ``table`` at ``loc``, or None when it has
    none. A table this process has not recorded is read from its newest
    manifest file once."""
    m = _NEWEST.get(loc.rstrip("/"))
    if m is not None:
        return m
    root = versions_root(spark, table, loc)
    paths = dict(_manifest_paths(spark, root)) if root else {}
    if not paths:
        return None
    d = _reconstruct(spark, paths, max(paths))
    return _install(Manifest(
        next(_SEQ), qualified(spark, table), loc.rstrip("/"),
        tuple((f["name"], f["size"]) for f in d["files"]), _schema_of(d),
        int(d["version"]),
    ))


def held(spark: SparkSession, table: str, loc: str) -> Manifest | None:
    """The newest manifest of ``table`` at ``loc`` for a caller holding
    its write lock, made to name exactly the table's files. The one in
    memory is checked without a listing: two file probes (its own
    manifest file is there, the next version's is not, so no other
    process recorded one since) and the modification times of the
    table's directories (:func:`_dir_stamp`: nothing outside the engine
    added or removed a file since it was recorded). Otherwise the
    newest manifest is read from disk and compared with one listing of
    the table directory; a table with no manifest, or files the
    manifest does not name (a writer outside the engine, or a publish
    cut short between its rename-in and its manifest), gets a manifest
    of that listing (op ``adopt``). None for a location that cannot be
    versioned."""
    loc = loc.rstrip("/")
    root = versions_root(spark, table, loc)
    if root is None:
        return None
    m = _NEWEST.get(loc)
    if m is not None:
        mdir = _manifest_dir(root)
        if (
            _exists(spark, f"{mdir}/v{m.version:08d}.json")
            and not _exists(spark, f"{mdir}/v{m.version + 1:08d}.json")
            and m.stamp is not None
            and m.stamp == _dir_stamp(loc, m.files)
        ):
            return m
        with _INSTALL:
            if _NEWEST.get(loc) is m:
                del _NEWEST[loc]
    m = newest(spark, table, loc)
    files = _list_data_files(spark, loc)
    if m is None or list(m.files) != files:
        record_version(spark, table, "adopt", loc, files=files)
        return _NEWEST[loc]
    with _INSTALL:
        if _NEWEST.get(loc) is m:
            m = _NEWEST[loc] = replace(m, stamp=_dir_stamp(loc, files))
    return m


def _dir_stamp(loc: str, files) -> int | None:
    """The latest modification time (ns) of the table directory at
    ``loc`` and of every directory holding one of ``files``: any file
    added to, removed from or renamed in any of them moves it. None for
    a non-local location or a directory that is gone."""
    from swanlake_spark.operators.dml import _local_os_path

    osp = _local_os_path(loc)
    if osp is None:
        return None
    dirs = {""}
    for name, _ in files:
        parts = name.split("/")[:-1]
        dirs.update("/".join(parts[: i + 1]) for i in range(len(parts)))
    try:
        return max(os.stat(f"{osp}/{d}" if d else osp).st_mtime_ns for d in dirs)
    except OSError:
        return None


def _exists(spark: SparkSession, path: str) -> bool:
    from swanlake_spark.operators.dml import _local_os_path

    osp = _local_os_path(path)
    if osp is not None:
        return os.path.exists(osp)
    jvm, fs, p = _fs(spark, path)
    return bool(fs.exists(p))


def forget(spark: SparkSession, loc: str | None) -> None:
    """Drop the snapshot history (in memory and on disk) of a dropped
    table at ``loc``: a same-named table would otherwise continue the
    old manifest chain, and ``AT (VERSION => n)`` would return the
    dropped table's rows."""
    if loc:
        from swanlake_spark.operators.dml import _rm_path

        _NEWEST.pop(loc.rstrip("/"), None)
        try:
            _rm_path(spark, versions_root(spark, "", loc))
        except Exception:  # noqa: BLE001 — best effort, as the DROP is done
            pass


def _schema_of(manifest: dict) -> T.StructType | None:
    s = manifest.get("schema")
    return T.StructType.fromJson(s) if s is not None else None


def _listing_bytes(files, schema_json: str) -> int:
    """About the size of a full listing of ``files``: each entry is
    ``{"name":"…","size":…},``."""
    return len(schema_json) + sum(len(n) + len(str(s)) + 20 for n, s in files)


def record_version(
    spark: SparkSession,
    table: str,
    op: str,
    loc: str | None = None,
    schema: T.StructType | None = None,
    files: list[tuple[str, int]] | None = None,
) -> int:
    """Append a manifest of the table's live files and schema, and make
    it the table's newest in memory (:func:`newest`). ``files`` is the
    new live set (table-relative name, size) when the caller knows it
    (``dml.publish`` does); otherwise the table directory is listed
    once, as after a write Spark planned (SQL ``INSERT``, CTAS). Callers
    that already looked the table up pass its location and schema.

    The manifest is a **delta** against the newest one in memory — the
    files it added and removed, and the schema only when it changed —
    unless the deltas since the chain's last full listing would then
    outweigh one listing, or there is no newest manifest: then it is a
    full listing (:func:`_reconstruct` reads both). So a point write
    writes a few hundred bytes whatever the table's file count, and
    reading any version replays at most about one listing's worth of
    deltas.

    The version number is the next after the newest one's, claimed
    create-exclusive and retried on collision, so a caller outside the
    table write lock can never silently overwrite another's snapshot;
    a delta names the version it applies to (``prev``), so it stays
    exact whichever number it lands on. Raises when the manifest cannot
    be written: the newest manifest is what every engine read scans, so
    a missing one would hide the write."""
    if loc is None or schema is None:
        from swanlake_spark.operators.dml import _table_meta

        found, _, found_schema = _table_meta(spark, table)
        loc, schema = loc or found, schema or found_schema
    root = versions_root(spark, table, loc)
    if loc is None or root is None:
        raise InvalidArgument(f"{table} has no resolvable location to version")
    loc = loc.rstrip("/")
    files = tuple(sorted(_list_data_files(spark, loc) if files is None else files))
    mdir = _manifest_dir(root)
    prev = _NEWEST.get(loc)
    if prev is not None and not _exists(spark, f"{mdir}/v{prev.version:08d}.json"):
        prev = None  # its chain is gone: start a new one
    n = prev.version + 1 if prev is not None else current_version(spark, table, loc) + 1
    schema_value = schema.jsonValue() if schema is not None else None
    schema_json = json.dumps(schema_value)
    payload = {"version": n, "ts": time.time(), "op": op}
    chain = 0
    if prev is not None and prev.chain is not None:
        old, new = dict(prev.files), dict(files)
        payload |= {
            "prev": prev.version,
            "add": [{"name": r, "size": s} for r, s in files if old.get(r) != s],
            "remove": [r for r in old if r not in new],
        }
        if schema != prev.schema:
            payload["schema"] = schema_value
        chain = prev.chain + len(_dumps(payload))
        if chain > _listing_bytes(files, schema_json):
            payload, chain = {"version": n, "ts": payload["ts"], "op": op}, 0
    if "prev" not in payload:
        payload["files"] = [{"name": r, "size": s} for r, s in files]
        payload["schema"] = schema_value
    transient = 0
    for _ in range(64):
        payload["version"] = n
        try:
            claimed = _write_json_exclusive(spark, f"{mdir}/v{n:08d}.json", payload)
        except Exception:
            # a non-"exists" error here is a transient FS/Py4J hiccup
            # under load, not a version collision — retry the SAME
            # number a few times before giving up loudly
            transient += 1
            if transient > 3:
                raise
            continue
        if claimed:
            from swanlake_spark import sync

            name = table.split(".")[-1].strip('`"').lower()
            m = Manifest(
                next(_SEQ),
                prev.table if prev and prev.table[1] == name else qualified(spark, table),
                loc, files, schema, n, chain, _dir_stamp(loc, files),
            )
            if _install(m) is m:
                # the write itself refreshed the recording session's cache
                sync.listed(spark, m)
            return n
        n += 1
    raise IOError(
        f"could not claim a manifest version for {table} after 64 attempts"
    )


def retire_files(
    spark: SparkSession,
    table: str,
    paths: list[str],
    loc: str | None = None,
) -> bool:
    """Move retiring data files into the retained dir instead of
    deleting them (rename = metadata op on a real FileSystem; OS calls
    for a local location, see ``dml._Files``). Returns False when a
    move isn't possible — the caller falls back to deletion (snapshot
    hole, resolved loudly at read time)."""
    from swanlake_spark.operators import dml

    if loc is None:
        loc = dml._table_meta(spark, table)[0]
    if loc is None:
        return False
    root = versions_root(spark, table, loc)
    if root is None:
        return False
    files = dml._Files(spark, loc)
    rdir = _retained_dir(root)
    loc = loc.rstrip("/")
    base = dml._local_os_path(loc) or loc
    for f in paths:
        kind = files.kind(f)
        if kind is None:
            continue
        if kind == "dir":
            # whole-directory retirement isn't modeled; the caller
            # deletes it (documented hole)
            return False
        if files.local:
            p = dml._local_os_path(f)
        else:
            p = dml._hadoop_path(spark.sparkContext._jvm)(f).toString()
        rel = p[len(base) + 1 :] if p.startswith(base + "/") else p.rsplit("/", 1)[-1]
        # MIRROR the table-relative path under retained/ (not a flat
        # rename): partition-dir structure survives, so snapshot reads
        # recover directory-encoded partition values via basePath.
        if not files.rename(f, f"{rdir}/{rel}"):
            return False
    return True


# -- reading snapshots --------------------------------------------------------


def snapshots(spark: SparkSession, table: str) -> DataFrame:
    """One row per snapshot: (version, ts, op, n_files, bytes) — the
    shape of DuckLake's ``ducklake_snapshots()``."""
    root = versions_root(spark, table)
    rows = []
    if root is not None:
        paths = dict(_manifest_paths(spark, root))
        m = None
        for n in sorted(paths):
            m = _reconstruct(spark, paths, n, m)
            rows.append((
                n,
                float(m["ts"]),
                str(m["op"]),
                len(m["files"]),
                int(sum(f["size"] for f in m["files"])),
            ))
    return spark.createDataFrame(
        rows,
        schema="version int, ts double, op string, n_files int, bytes long",
    ).orderBy("version")


def snapshot_file_names(
    spark: SparkSession, table: str, version: int, loc: str | None = None
) -> list[str]:
    """Table-relative data-file names recorded in snapshot
    ``version``'s manifest (metadata only — no existence resolution;
    delta computations diff these sets across versions)."""
    return [f["name"] for f in _manifest(spark, table, version, loc)["files"]]


def _reconstruct(
    spark: SparkSession, paths: dict[int, str], version: int, known: dict | None = None
) -> dict:
    """Version ``version``'s manifest as a full listing — ``version``,
    ``ts``, ``op``, ``files`` and ``schema`` — whether its file holds a
    full listing or a delta: the one place a manifest chain is read
    (:func:`record_version` writes it). A delta's files are its ``prev``
    version's, less ``remove``, plus ``add``; its schema is its own when
    it carries one, else ``prev``'s. ``paths`` maps each version on disk
    to its file; ``known``, a version already reconstructed (a forward
    replay passes the previous one), ends a chain early. Raises
    SnapshotUnavailable when a chain reaches a version with no file."""
    deltas = []
    v = version
    while known is None or v != known["version"]:
        if v not in paths:
            raise SnapshotUnavailable(
                f"snapshot v{version}: manifest v{v} of its chain is gone"
            )
        d = _read_json(spark, paths[v])
        if "prev" not in d:
            known = d
            break
        deltas.append(d)
        v = d["prev"]
    if not deltas:
        return known
    files = {f["name"]: f["size"] for f in known["files"]}
    schema = known.get("schema")
    for d in reversed(deltas):
        for name in d["remove"]:
            files.pop(name, None)
        for f in d["add"]:
            files[f["name"]] = f["size"]
        schema = d.get("schema", schema)
    top = deltas[0]
    return {
        "version": top["version"], "ts": top["ts"], "op": top["op"],
        "files": [{"name": k, "size": files[k]} for k in sorted(files)],
        "schema": schema,
    }


def _manifest(
    spark: SparkSession, table: str, version: int, loc: str | None = None
) -> dict:
    """Snapshot ``version`` of ``table`` as a full listing
    (:func:`_reconstruct`). A chain that :func:`expire` shortened
    meanwhile is listed and read once more."""
    root = versions_root(spark, table, loc)
    if root is None:
        raise InvalidArgument(f"table {table} has no resolvable location")
    paths = dict(_manifest_paths(spark, root))
    if version not in paths:
        raise NotFound(f"no snapshot v{version} for {table}")
    try:
        return _reconstruct(spark, paths, version)
    except (SnapshotUnavailable, FileNotFoundError):
        return _reconstruct(spark, dict(_manifest_paths(spark, root)), version)


def resolve_files(
    spark: SparkSession, table: str, version: int, loc: str | None = None
) -> list[str]:
    """Absolute paths backing snapshot ``version``. The RETAINED copy is
    preferred when it exists: retired files are immutable until
    expire/VACUUM, whereas a live file can be retired (renamed away) by
    a concurrent COW publish — resolving retained-first means only
    readers that resolved strictly before the retirement can race it,
    and such a reader fails LOUDLY (FILE_NOT_EXIST) and re-resolves;
    partial or duplicated rows are never observable (optimistic
    snapshot reads, the MVCC retry discipline)."""
    m = _manifest(spark, table, version, loc)
    return _resolve_names(
        spark, table, [f["name"] for f in m["files"]], f"v{version}", loc
    )


def _resolve_names(
    spark: SparkSession,
    table: str,
    names: list[str],
    label: str,
    loc: str | None = None,
) -> list[str]:
    """Resolve table-relative file names to absolute live-or-retained
    paths (the resolve_files discipline, over an explicit name subset —
    delta readers resolve only the files two manifests disagree on).
    ``loc`` threads a pre-resolved table location (DESCRIBE FORMATTED
    costs a Catalyst round-trip per call — the metadata tax dominates
    small incremental refreshes otherwise)."""
    if loc is None:
        from swanlake_spark.operators.dml import _table_meta

        loc = _table_meta(spark, table)[0]
    root = versions_root(spark, table, loc)
    loc = loc.rstrip("/")
    rdir = _retained_dir(root)

    def _missing(name: str):
        return SnapshotUnavailable(
            f"{table} snapshot {label}: file {name} was removed "
            "by a non-retaining write path or reclaimed by expire/VACUUM"
        )

    from swanlake_spark.operators.dml import _local_os_path

    rd_os, loc_os = _local_os_path(rdir), _local_os_path(loc)
    if rd_os is not None and loc_os is not None:
        # local scheme: existence is one C syscall per file; a Py4J
        # fs.exists costs ~2 ms each, and delta resolves routinely
        # touch tens of files (a 32-core INSERT writes 32)
        import os as _os

        out = []
        for name in names:
            if _os.path.exists(f"{rd_os}/{name}"):
                out.append(f"{rdir}/{name}")
            elif _os.path.exists(f"{loc_os}/{name}"):
                out.append(f"{loc}/{name}")
            else:
                raise _missing(name)
        return out
    jvm, fs, _ = _fs(spark, loc)
    out = []
    for name in names:
        kept = f"{rdir}/{name}"
        if fs.exists(jvm.org.apache.hadoop.fs.Path(kept)):
            out.append(kept)
            continue
        live = f"{loc}/{name}"
        if fs.exists(jvm.org.apache.hadoop.fs.Path(live)):
            out.append(live)
            continue
        raise _missing(name)
    return out


def version_at_timestamp(spark: SparkSession, table: str, ts: float) -> int:
    """Latest snapshot whose commit time is <= ts (DuckLake's
    ``AT (TIMESTAMP => ...)`` resolution)."""
    root = versions_root(spark, table)
    best = 0
    if root is not None:
        for n, path in _manifest_paths(spark, root):
            if float(_read_json(spark, path)["ts"]) <= ts:
                best = n
    if best == 0:
        raise NotFound(f"no snapshot of {table} at or before {ts}")
    return best


def read_version(
    spark: SparkSession, table: str, version: int, loc: str | None = None
) -> DataFrame:
    """Scan exactly the snapshot's file list with the schema its
    manifest records (a manifest written before manifests carried a
    schema keeps parquet schema inference). Files are read under their
    tree's basePath (table dir or the mirrored retained dir) so
    directory-encoded partition values are recovered on partitioned
    tables; a snapshot spanning both trees unions the two scans."""
    m = _manifest(spark, table, version, loc)
    files = _resolve_names(
        spark, table, [f["name"] for f in m["files"]], f"v{version}", loc
    )
    return _read_files(spark, table, files, loc, _schema_of(m))


def _read_files(
    spark: SparkSession,
    table: str,
    files: list[str],
    loc: str | None = None,
    schema=None,
) -> DataFrame:
    """Scan an explicit resolved file list of ``table``. Files are read
    under their tree's basePath (table dir or the mirrored retained
    dir) so directory-encoded partition values are recovered on
    partitioned tables; a list spanning both trees unions the two
    scans.

    ``schema`` (optional StructType) skips parquet schema inference —
    one driver job per read call otherwise. Callers that pin the
    CURRENT catalog schema anyway (maintenance/CDC paths that
    ``.select`` the base's columns right after) pass it; time-travel
    readers keep inference so historical files surface their own
    schema."""
    if not files:
        return spark.table(table).limit(0)
    if loc is None:
        from swanlake_spark.operators.dml import _table_meta

        loc = _table_meta(spark, table)[0]
    loc = loc.rstrip("/")
    root = versions_root(spark, table, loc)
    rdir = _retained_dir(root)
    live = [f for f in files if f.startswith(loc + "/")]
    kept = [f for f in files if not f.startswith(loc + "/")]
    def _rd():
        return spark.read.schema(schema) if schema is not None else spark.read

    parts = []
    if live:
        parts.append(_rd().option("basePath", loc).parquet(*live))
    if kept:
        parts.append(_rd().option("basePath", rdir).parquet(*kept))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def read_current(spark: SparkSession, table: str) -> DataFrame:
    """Scan the LATEST snapshot by manifest (Delta-style
    manifest-primary read): the file list comes from the newest
    manifest, never from a directory listing, so a reader racing a COW
    publish sees exactly the pre- or post-publish snapshot — the
    add-then-retire publish ordering keeps every manifest entry
    resolvable (live or retained), and a file retired between
    resolution and scan fails loudly. Falls back to the catalog table
    when no snapshot exists (a table no engine write recorded)."""
    v = current_version(spark, table)
    return read_version(spark, table, v) if v else spark.table(table)


def table_changes(
    spark: SparkSession, table: str, v_from: int, v_to: int
) -> DataFrame:
    """Net row-level changes between two snapshots (change data feed).

    Returns the table's columns plus ``_change_type`` ('insert' rows
    present in ``v_to`` but not ``v_from``, 'delete' the reverse); an
    UPDATE surfaces as its delete+insert pair. ``v_from = 0`` means the
    empty pre-history state (every ``v_to`` row is an insert).

    The reference's snapshot catalog keeps every version queryable
    (``swanlake-core/src/engine/factory.rs:38-39``); this derives the
    row-level delta the DuckLake model implies, shaped like Delta
    Lake's ``table_changes`` TVF.

    Scale: the manifests are diffed driver-side (O(#files) JSON), and
    ONLY files the two snapshots disagree on are scanned — under
    file-granular COW a point UPDATE contributes one old + one new
    file, never the table. The two ``exceptAll``s cancel
    rewritten-but-unchanged rows; their shuffle is bounded by the
    changed-file bytes, not the table size."""
    if v_from > v_to:
        raise InvalidArgument(
            f"table_changes: from-version {v_from} > to-version {v_to}"
        )
    names_from = (
        set(snapshot_file_names(spark, table, v_from)) if v_from else set()
    )
    names_to = set(snapshot_file_names(spark, table, v_to))
    # the .select(*cols) below already pins the CURRENT catalog schema
    # on both sides — passing it to the read skips one parquet
    # schema-inference driver job per side (r12)
    cur_schema = spark.table(table).schema
    cols = [f.name for f in cur_schema.fields]
    added = _read_files(
        spark, table,
        _resolve_names(spark, table, sorted(names_to - names_from),
                       f"v{v_to}"),
        schema=cur_schema,
    ).select(*cols)
    removed = _read_files(
        spark, table,
        _resolve_names(spark, table, sorted(names_from - names_to),
                       f"v{v_from}"),
        schema=cur_schema,
    ).select(*cols)
    from pyspark.sql import functions as F

    return (
        added.exceptAll(removed)
        .withColumn("_change_type", F.lit("insert"))
        .unionByName(
            removed.exceptAll(added)
            .withColumn("_change_type", F.lit("delete"))
        )
    )


# -- rollback & retention -----------------------------------------------------


def rollback(spark: SparkSession, table: str, version: int) -> int:
    """Restore the table to snapshot ``version`` as a NEW snapshot (the
    history keeps going forward — DuckLake semantics). The restored
    contents publish like any COW rewrite (``dml.publish``, retaining
    the replaced files), so the pre-rollback state stays readable too."""
    from swanlake_spark.operators import dml

    loc, part_cols, schema = dml._table_meta(spark, table)
    old = read_version(spark, table, version)
    old = old.select(*[f.name for f in schema.fields])
    staging = dml.staging_dir(spark, table, loc)
    try:
        dml._stage_frame(old, staging, part_cols, schema)
        with dml.table_write_lock(spark, table, loc=loc):
            v = dml.publish(
                spark, table, staging, None, loc,
                op=f"rollback_to_v{version}", schema=schema,
            )
    finally:
        dml._rm_path(spark, staging)
    return v


def expire(
    spark: SparkSession,
    table: str,
    keep_last: int = 1,
    min_age_s: float = 0.0,
) -> dict:
    """Drop manifests beyond the newest ``keep_last`` (and older than
    ``min_age_s``), then delete retained files no remaining manifest
    references — the DuckLake/Delta retention sweep. Live table files
    are never touched. A kept delta manifest whose chain runs through a
    dropped version is first rewritten as the full listing it stands
    for, so every kept version still reads."""
    root = versions_root(spark, table)
    stats = {"table": table, "manifests_removed": 0, "files_removed": 0,
             "bytes_reclaimed": 0}
    if root is None:
        return stats
    paths = dict(_manifest_paths(spark, root))
    if not paths:
        return stats
    cutoff_ts = time.time() - min_age_s
    newest_kept = set(sorted(paths)[-max(keep_last, 1):])
    kept: dict[int, dict] = {}
    m = None
    for n in sorted(paths):
        m = _reconstruct(spark, paths, n, m)
        if n in newest_kept or float(m["ts"]) > cutoff_ts:
            kept[n] = m
    for n, m in kept.items():  # ascending: a kept prev reads by then
        prev = _read_json(spark, paths[n]).get("prev")
        if prev is not None and prev not in kept:
            _write_json_replace(spark, paths[n], m)
    jvm, fs, _ = _fs(spark, root)
    for n, path in paths.items():
        if n not in kept:
            fs.delete(jvm.org.apache.hadoop.fs.Path(path), False)
            stats["manifests_removed"] += 1
    referenced = {f["name"] for m in kept.values() for f in m["files"]}
    rdir = _retained_dir(root)
    _, fs2, rpath = _fs(spark, rdir)
    if fs2.exists(rpath):
        base = rpath.toString().rstrip("/")

        def sweep(p):
            children = fs2.listStatus(p)
            for st in children:
                if st.isDirectory():
                    sweep(st.getPath())
                else:
                    rel = st.getPath().toString()[len(base) + 1 :]
                    if rel not in referenced:
                        stats["files_removed"] += 1
                        stats["bytes_reclaimed"] += int(st.getLen())
                        fs2.delete(st.getPath(), False)
            if p.toString() != base and len(fs2.listStatus(p)) == 0:
                fs2.delete(p, False)  # prune emptied partition dirs

        sweep(rpath)
    return stats
