"""Background maintenance: small-file compaction ≈ DuckLake CHECKPOINT.

The reference runs per-database interval checkpoints with a Postgres
advisory lock for cross-instance mutual exclusion and a bookkeeping
table (``/root/reference/swanlake-core/src/maintenance/mod.rs:99-254``,
``maintenance/lock.rs:20-81``). The Spark analogue: append-heavy Parquet
tables accumulate small part-files; compaction rewrites them into
target-sized files. Mutual exclusion uses an O_EXCL lock file (any
external mutex works; the semantics match the advisory lock's
acquire-or-skip behavior).

At cluster scale compaction is partition-granular: only partition leaf
directories whose file count exceeds the threshold are rewritten, and
the rewrite is a repartition to ceil(bytes/target) — a shuffle sized to
the data being compacted, not the table.

Compaction and clustering follow the engine's one write rule: stage the
new files, then publish them (``dml.publish``) under the table write
lock, like every other writer.
"""

from __future__ import annotations

import json
import logging
import os
import threading
import time

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from swanlake_spark import versions
from swanlake_spark.errors import FailedPrecondition, InvalidArgument
from swanlake_spark.operators.dml import (
    _rm_path,
    _table_meta,
    _WriteLock,
    publish,
    staging_dir,
    table_write_lock,
)


class CompactionLock(_WriteLock):
    """O_EXCL lock file: acquire-or-skip (never blocks), like the
    reference's pg advisory lock. Shares _WriteLock's stale-holder
    breaking (PID liveness + mtime guard), so a crashed compactor's
    orphan lock can't silently disable maintenance forever — the next
    caller breaks it and the one after acquires."""


def _live_parquet(spark: SparkSession, loc: str) -> list[tuple[str, int]]:
    """(relative path, size) of the parquet data files under ``loc``, a
    table or a partition leaf: what compaction and clustering rewrite.
    Other files (a non-parquet table's) are left alone."""
    return [
        (rel, size)
        for rel, size in versions._list_data_files(spark, loc)
        if rel.endswith(".parquet")
    ]


def analyze_table(
    spark: SparkSession,
    table: str,
    columns: list[str] | None = None,
) -> None:
    """Refresh catalog statistics so CBO join reordering and runtime
    bloom filters (config.py) see real row counts / NDVs instead of
    size-based guesses — Spark's equivalent of the table stats DuckDB
    maintains automatically. ``columns=None`` computes table-level
    stats only (cheap: count + size); pass join/filter keys for
    column-level NDV + min/max + histogram.

    One full scan per call — at 100 TB run it where the data was just
    read anyway (compact_table/cluster_table do, post-rewrite)."""
    from swanlake_spark.plans.quoting import quote_identifier

    tq = ".".join(quote_identifier(p) for p in table.split("."))
    if columns:
        cols = ", ".join(quote_identifier(c) for c in columns)
        spark.sql(f"ANALYZE TABLE {tq} COMPUTE STATISTICS FOR COLUMNS {cols}")
    else:
        spark.sql(f"ANALYZE TABLE {tq} COMPUTE STATISTICS")


def compact_table(
    spark: SparkSession,
    table: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 4,
) -> dict:
    """Rewrite a table's data files into ~target-sized files where they
    have piled up: each directory holding them — the table root, or a
    leaf partition of a partitioned table — with more than
    ``min_files`` small parts is compacted on its own, so at 100 TB a
    hot day's small files compact without touching the other
    partitions. Returns a stats dict (files before/after, bytes). The
    files a directory's rewrite read are staged beside the table and
    published in their place under the table write lock
    (:func:`_rewrite_files`), one snapshot per directory; ``compacted``
    is False when no directory was rewritten, e.g. because a concurrent
    write replaced one of its files first."""
    loc, part_cols, schema = _table_meta(spark, table)
    parts = _live_parquet(spark, loc) if loc else []
    leaves: dict[str, list[tuple[str, int]]] = {}
    for rel, size in parts:
        leaves.setdefault(rel.rpartition("/")[0], []).append((rel, size))
    # a data file holds the table's columns less the partition columns
    columns = T.StructType([f for f in schema.fields if f.name not in part_cols])
    stats = {
        "table": table,
        "files_before": len(parts),
        "bytes": sum(size for _, size in parts),
        "compacted": False,
        "files_after": len(parts),
    }
    for leaf in leaves.values():
        nbytes = sum(size for _, size in leaf)
        n_files = max(1, -(-nbytes // target_file_bytes))  # ceil
        if len(leaf) <= min_files or nbytes == 0 or n_files >= len(leaf):
            continue
        # compaction deletes its inputs (retain=False): retaining them
        # would keep one more copy of the table per CHECKPOINT
        stats["compacted"] |= _rewrite_files(
            spark, table, loc, leaf,
            lambda df, n=int(n_files): df.repartition(n),
            "compact", retain=False, schema=columns,
        )
    if stats["compacted"]:
        stats["files_after"] = len(_live_parquet(spark, loc))
        analyze_table(spark, table)
    return stats


def _rewrite_files(
    spark: SparkSession,
    table: str,
    loc: str,
    parts: list[tuple[str, int]],
    build,
    op: str,
    retain: bool,
    schema=None,
) -> bool:
    """Rewrite exactly the live files ``parts`` (relative path, size)
    of one directory of the table — its root, or a partition leaf —
    through ``build`` and publish the result in their place. The files
    are read with ``schema`` (default: the table's; a partition leaf's
    files hold the data columns only) and the rewrite is staged under
    the same relative directory, outside the table write lock; only the
    publish and its manifest run under it, so writers wait for a
    rename, not for the rewrite. Files appended meanwhile survive
    beside the new ones. Returns False, publishing nothing, when a
    concurrent write retired one of ``parts`` first."""
    leaf = parts[0][0].rpartition("/")[0]
    paths = [f"{loc.rstrip('/')}/{rel}" for rel, _ in parts]
    staging = staging_dir(spark, table, loc)
    try:
        df = spark.read.schema(schema or spark.table(table).schema).parquet(*paths)
        build(df).write.parquet(f"{staging}/{leaf}", mode="overwrite")
    except Exception:
        _rm_path(spark, staging)
        live = dict(versions._list_data_files(spark, loc))
        if all(rel in live for rel, _ in parts):
            raise
        return False  # an input was retired while it was being read
    with table_write_lock(spark, table, loc=loc):
        try:
            publish(spark, table, staging, paths, loc, retain=retain)
        except FailedPrecondition:
            _rm_path(spark, staging)
            return False
        versions.record_version(spark, table, op, loc=loc)
    _rm_path(spark, staging)
    return True


class CheckpointService:
    """Interval compaction over a set of tables, with lock-file mutual
    exclusion and JSONL bookkeeping (the reference records checkpoints in
    a ``ducklake_checkpoints`` table)."""

    def __init__(
        self,
        spark: SparkSession,
        tables: list[str],
        interval_s: float = 24 * 3600.0,
        state_dir: str = "/tmp/swanlake_spark_maintenance",
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> None:
        self.spark = spark
        self.tables = tables
        self.interval_s = interval_s
        self.state_dir = state_dir
        self.target_file_bytes = target_file_bytes
        os.makedirs(state_dir, exist_ok=True)
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @property
    def log_path(self) -> str:
        return os.path.join(self.state_dir, "checkpoints.jsonl")

    def process_once(self) -> list[dict]:
        """One checkpoint pass over all tables (acquire-or-skip lock)."""
        lock = CompactionLock(os.path.join(self.state_dir, "compaction.lock"))
        if not lock.try_acquire():
            return []
        try:
            results = []
            for table in self.tables:
                stats = compact_table(
                    self.spark, table, target_file_bytes=self.target_file_bytes
                )
                stats["at"] = time.time()
                results.append(stats)
                with open(self.log_path, "a") as f:
                    f.write(json.dumps(stats) + "\n")
            return results
        finally:
            lock.release()

    def run_loop(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            try:
                self.process_once()
            except Exception:
                # log and continue, as the reference does: the next
                # interval retries
                logging.getLogger(__name__).exception("checkpoint pass failed")

    def stop(self) -> None:
        self._stop.set()


def _zorder_key(df, columns: list[str], bits: int = 12):
    """Z-order (Morton) key over ``columns``: each column is linearly
    normalized to a ``bits``-bit integer using its table-wide min/max
    (one aggregation, collected driver-side — 2×|columns| scalars),
    then the bits are interleaved. Numeric/date/timestamp columns keep
    value locality; string columns rank by their first 8 bytes
    (big-endian), which preserves lexicographic locality.

    Returns ``(key_column, minmax_stats)``."""
    from pyspark.sql import functions as F

    def orderable(c):
        col = F.col(c)
        dt = dict(df.dtypes)[c]
        if dt in ("string",):
            # big-endian first-8-bytes as an unsigned-ish rank; NULL → 0
            h = F.coalesce(
                F.conv(F.substring(F.hex(F.encode(col, "UTF-8")), 1, 15), 16, 10)
                .cast("long"),
                F.lit(0),
            )
            return h
        if dt.startswith("date"):
            return F.coalesce(F.datediff(col, F.lit("1970-01-01")), F.lit(0)).cast(
                "long"
            )
        if dt.startswith("timestamp"):
            return F.coalesce(F.unix_timestamp(col), F.lit(0)).cast("long")
        return F.coalesce(col.cast("double"), F.lit(0.0))

    aggs = []
    for c in columns:
        o = orderable(c)
        aggs += [F.min(o).alias(f"mn_{c}"), F.max(o).alias(f"mx_{c}")]
    row = df.agg(*aggs).collect()[0].asDict()

    scaled = []
    top = (1 << bits) - 1
    for c in columns:
        mn, mx = float(row[f"mn_{c}"] or 0), float(row[f"mx_{c}"] or 0)
        span = (mx - mn) or 1.0
        o = orderable(c).cast("double")
        scaled.append(
            F.least(
                F.lit(top),
                F.greatest(
                    F.lit(0), ((o - F.lit(mn)) / F.lit(span) * top).cast("long")
                ),
            )
        )
    z = F.lit(0).cast("long")
    n = len(columns)
    for b in range(bits):
        for i, s in enumerate(scaled):
            bit = F.shiftright(s, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z, row


def cluster_table(
    spark: SparkSession,
    table: str,
    columns: list[str],
    target_file_bytes: int = 128 * 1024 * 1024,
    bits: int = 12,
) -> dict:
    """Rewrite an unpartitioned table Z-ORDERED by ``columns`` (the
    Delta/Iceberg OPTIMIZE ZORDER maintenance step): rows are range-
    partitioned and sorted by the interleaved-bit key, so parquet
    row-group and file min/max stats become selective on EVERY
    clustered column at once — filters on any of them prune files and
    row groups instead of scanning the table. The multi-dimensional
    complement to partition pruning: partition on the coarse key (date),
    Z-order within by the point-lookup keys.

    Shuffle shape: one range repartition on the key (sampled bounds) +
    per-file local sort; no driver-side data. Returns stats including
    per-file range-overlap before/after so the clustering effect is
    measurable."""
    from pyspark.sql import functions as F

    loc, part_cols, _ = _table_meta(spark, table)
    if part_cols:
        raise InvalidArgument(
            "cluster_table targets unpartitioned tables; Z-order within "
            "partitions by clustering before the partitioned write"
        )
    if loc is None:
        raise InvalidArgument(f"no resolvable location for table {table}")
    parts = _live_parquet(spark, loc)
    total_bytes = sum(size for _, size in parts)
    stats = {
        "table": table,
        "clustered_by": list(columns),
        "files_before": len(parts),
        "bytes": total_bytes,
        "clustered": False,
    }
    if total_bytes == 0:
        return stats
    n_files = max(1, -(-total_bytes // target_file_bytes))  # ceil

    def build(df):
        z, _minmax = _zorder_key(df, columns, bits)
        return (
            df.withColumn("_swl_z", z)
            .repartitionByRange(int(n_files), F.col("_swl_z"))
            .sortWithinPartitions("_swl_z")
            .drop("_swl_z")
        )

    # clustering retains its inputs: snapshots before it stay readable
    if not _rewrite_files(
        spark, table, loc, parts, build, "cluster", retain=True
    ):
        return stats
    stats["clustered"] = True
    stats["files_after"] = len(_live_parquet(spark, loc))
    # The rewrite just scanned everything; refresh table + clustered-key
    # column stats while the cost is already paid.
    analyze_table(spark, table, columns=list(columns))
    return stats


def vacuum_table(
    spark: SparkSession,
    table: str,
    min_age_s: float = 3600.0,
) -> dict:
    """Reclaim the table's orphaned staging state: `_staging/<uuid>`
    dirs and stale `.writelock` files older than ``min_age_s``.

    Staged dirs normally delete themselves after a successful publish;
    they survive a crashed writer (deliberately — a failed publish's
    staged copy may be the only complete one, see StagingPin.cleanup)
    and must eventually be reclaimed. The age guard keeps in-flight
    publishes safe: nothing younger than ``min_age_s`` is touched.

    Also runs the snapshot retention sweep (:func:`versions.expire`):
    manifests older than ``min_age_s`` (beyond the newest) are dropped
    and retained data files nothing references anymore are reclaimed —
    the Delta-style ``VACUUM t RETAIN n SECONDS`` contract.
    Returns ``{table, staging_dirs_removed, locks_removed, bytes,
    snapshots_expired, snapshot_bytes}``."""
    import time as _time

    from swanlake_spark.operators.dml import _table_meta

    loc = _table_meta(spark, table)[0]
    stats = {
        "table": table,
        "staging_dirs_removed": 0,
        "locks_removed": 0,
        "bytes": 0,
        "snapshots_expired": 0,
        "snapshot_bytes": 0,
    }
    if loc is None:
        return stats
    base = loc.rstrip("/").rsplit("/", 1)[0] if "/" in loc.rstrip("/") else loc
    staging_root = base.rstrip("/") + "/_staging"
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(staging_root)
    fs = root.getFileSystem(conf)
    if fs.exists(root):
        now_ms = _time.time() * 1000.0
        for st in fs.listStatus(root):
            age_ms = now_ms - st.getModificationTime()
            if age_ms < min_age_s * 1000.0:
                continue
            name = st.getPath().getName()
            if st.isDirectory():
                size = fs.getContentSummary(st.getPath()).getLength()
                fs.delete(st.getPath(), True)
                stats["staging_dirs_removed"] += 1
                stats["bytes"] += int(size)
            elif name.endswith(".writelock"):
                fs.delete(st.getPath(), False)
                stats["locks_removed"] += 1
    # dead-holder locks are debris regardless of age: sweep them with
    # the full liveness machinery (unthrottled — VACUUM is explicit)
    from swanlake_spark.operators.dml import _local_os_path, sweep_stale_locks

    osp = _local_os_path(staging_root)
    if osp is not None:
        stats["locks_removed"] += sweep_stale_locks(osp, throttle_s=0.0)
    vexp = versions.expire(spark, table, keep_last=1, min_age_s=min_age_s)
    stats["snapshots_expired"] = vexp["manifests_removed"]
    stats["snapshot_bytes"] = vexp["bytes_reclaimed"]
    return stats
