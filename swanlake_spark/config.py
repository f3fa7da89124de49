"""Engine configuration.

Defaults mirror the reference server's config surface
(``/root/reference/swanlake-core/src/config.rs:49-70``): session limits,
idle timeout + janitor interval, maintenance (checkpoint/compaction)
interval — re-expressed for a Spark deployment, plus the Spark-side
tuning knobs (shuffle partitions, AQE, broadcast threshold) that the
reference delegates to DuckDB's ``SET threads``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


# The one Parquet codec every writer uses: Spark's writes
# (spark.sql.parquet.compression.codec) and the driver-side pyarrow
# writes (point writes and appends, matview refreshes, object-store
# exports). A copy-on-write table keeps every retired file until expiry,
# so file size is stored bytes; zstd writes the benchmark's rows at
# 0.63-0.98 of snappy's size.
PARQUET_CODEC = "zstd"


def _default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


@dataclass
class ObjectStoreConfig:
    """Object-store (S3 / Cloudflare R2 / MinIO) data path via Hadoop's
    ``s3a://`` connector — the deployment the reference benches with
    DuckLake-on-S3/R2 (``/root/reference/BENCHMARK.md:43-44``,
    ``performance.yml:153-183``). Attach a warehouse or point table
    LOCATIONs at ``s3a://bucket/path`` and every executor streams
    directly from the store (no driver data path). Requires the
    ``hadoop-aws`` jars on the cluster classpath (standard on managed
    Spark; not present in this test sandbox, so this is config surface
    only — exercised by unit tests, not a live store)."""

    endpoint: str | None = None  # e.g. https://<account>.r2.cloudflarestorage.com
    region: str | None = None
    access_key: str | None = None
    secret_key: str | None = None
    # R2/MinIO need path-style; AWS S3 works either way
    path_style_access: bool = True
    # S3A committer: "magic" commits task output without the
    # rename-based O(data) commit that object stores can't do atomically
    committer: str = "magic"
    connection_maximum: int = 96

    def spark_confs(self) -> dict[str, str]:
        confs = {
            "spark.hadoop.fs.s3a.connection.maximum": str(self.connection_maximum),
            "spark.hadoop.fs.s3a.fast.upload": "true",
            "spark.hadoop.fs.s3a.path.style.access": (
                "true" if self.path_style_access else "false"
            ),
            "spark.hadoop.fs.s3a.committer.name": self.committer,
            "spark.sql.sources.commitProtocolClass": (
                "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
            ),
            "spark.sql.parquet.output.committer.class": (
                "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
            ),
        }
        if self.endpoint:
            confs["spark.hadoop.fs.s3a.endpoint"] = self.endpoint
        if self.region:
            confs["spark.hadoop.fs.s3a.endpoint.region"] = self.region
        if self.access_key and self.secret_key:
            confs["spark.hadoop.fs.s3a.access.key"] = self.access_key
            confs["spark.hadoop.fs.s3a.secret.key"] = self.secret_key
        # else: default AWS credential provider chain (env/IAM role)
        return confs


@dataclass
class EngineConfig:
    app_name: str = "swanlake-spark"
    master: str | None = None  # default: local[cpus]
    cpus: int = field(default_factory=_default_cpus)

    # Session registry (reference: max_sessions semaphore + idle eviction,
    # session/registry.rs:116-243).
    max_sessions: int = 100
    session_idle_timeout_s: float = 3600.0
    session_janitor_interval_s: float = 300.0

    # Maintenance (reference: DuckLake CHECKPOINT default 24h,
    # maintenance/mod.rs:24).
    compaction_interval_s: float = 24 * 3600.0
    compaction_target_file_bytes: int = 128 * 1024 * 1024

    # Spark tuning. shuffle_partitions sizes the reduce side of wide ops;
    # AQE coalesces it back down at runtime, so a cluster-scale default is
    # safe on local[32] too.
    shuffle_partitions: int | None = None  # default: cpus
    # Static conf, honored only when this Engine builds the session. In
    # local mode the driver JVM hosts all executor threads; the 1g JVM
    # default starves broadcast builds and shuffle buffers long before
    # the machine does (reference analogue: DuckDB uses 80% of RAM).
    driver_memory: str = "8g"
    broadcast_threshold_bytes: int = 64 * 1024 * 1024
    max_partition_bytes: int = 128 * 1024 * 1024
    warehouse_dir: str | None = None
    # Optional s3a object-store data path (see ObjectStoreConfig).
    object_store: "ObjectStoreConfig | None" = None
    session_timezone: str = "UTC"
    # ANSI mode matches DuckDB's error-on-overflow semantics
    # (SURVEY.md §7.4 risk #3).
    ansi: bool = True
    # SQL dialect applied to CLIENT sessions (Flight SQL and the
    # session API): "duckdb" transpiles DuckDB-only spellings before
    # execution — the reference's clients speak DuckDB SQL, so a
    # deployment serving them sets this. Default None keeps the session
    # contract Spark-SQL-native (the duckdb transpile is not an
    # identity on shared spellings: e.g. 3-arg regexp_replace means
    # replace-ALL in Spark but replace-FIRST in DuckDB).
    client_dialect: str | None = None

    def spark_confs(self) -> dict[str, str]:
        parts = self.shuffle_partitions or self.cpus
        confs = {
            "spark.sql.shuffle.partitions": str(parts),
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.coalescePartitions.enabled": "true",
            # parallelismFirst (default true) coalesces only down to
            # default parallelism (= all cores), so a 2 kB post-filter
            # dimension stage still schedules `cpus` tasks; false makes
            # AQE honor advisoryPartitionSizeInBytes and collapse tiny
            # stages to 1 task — the Spark docs' own recommendation.
            "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
            # Floor for AQE-coalesced partitions (default 1MB): small
            # post-filter stages collapse into fewer tasks, shaving
            # scheduling overhead on sub-second queries; at cluster scale
            # 8MB is still far below the 64MB advisory target, so big
            # stages are unaffected.
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "8MB",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            # Cost-based optimization: DuckDB always has table/column
            # stats for join ordering; Spark needs CBO on + ANALYZE'd
            # tables (maintenance.analyze_table, auto-run after
            # compaction). Catalog tables without stats fall back to
            # size-based estimates — same behavior as before, so this
            # is strictly additive. At 100 TB, join reorder on starved
            # stats is the difference between a fact-fact shuffle and a
            # dim-first broadcast chain.
            "spark.sql.cbo.enabled": "true",
            "spark.sql.cbo.joinReorder.enabled": "true",
            "spark.sql.statistics.histogram.enabled": "true",
            # Row-level runtime filters: a selective dim-side filter is
            # pushed to the fact scan as a bloom filter before the
            # shuffle (Spark's equivalent of DuckDB's perfect hash-join
            # pushdown). On by default in Spark 4 — pinned explicitly so
            # a default change can't silently regress the 100 TB plan.
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.autoBroadcastJoinThreshold": str(self.broadcast_threshold_bytes),
            "spark.sql.files.maxPartitionBytes": str(self.max_partition_bytes),
            "spark.sql.parquet.filterPushdown": "true",
            "spark.sql.parquet.compression.codec": PARQUET_CODEC,
            "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
            "spark.sql.session.timeZone": self.session_timezone,
            "spark.sql.ansi.enabled": "true" if self.ansi else "false",
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark has
            # no native type for; read as long nanoseconds.
            "spark.sql.legacy.parquet.nanosAsLong": "true",
            # JVM-wide LRU of compiled generated classes (static conf,
            # builder time only). Spark's default of 100 is smaller than
            # the working set of the statements a server repeats: the 22
            # TPC-H queries need about 310 classes (about 14 each), so
            # with 100 entries every execution evicted and recompiled its
            # classes with Janino and re-warmed the JIT. Measured with
            # tools/codegen_churn.py at sf0.01 on 4 cores: 313 compiles
            # per pass of the 22 with 100 entries, 0 with 2000 after the
            # first pass. 2000 fits about 140 statement shapes; an entry
            # is one class plus its bytecode stats (a few KB to ~100 KB).
            "spark.sql.codegen.cache.maxEntries": "2000",
        }
        if self.driver_memory:
            confs["spark.driver.memory"] = self.driver_memory
        if self.warehouse_dir:
            confs["spark.sql.warehouse.dir"] = self.warehouse_dir
        if self.object_store:
            confs.update(self.object_store.spark_confs())
        return confs
