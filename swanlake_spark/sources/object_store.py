"""Object-store (S3-API) parquet exchange, driver-mediated.

The reference's benchmark runs its lakehouse on S3
(``/root/reference/BENCHMARK.md:43-44``); the Spark-native way to do
that is executor-side ``s3a://`` I/O, whose configuration this repo
already ships (``config.py`` — committers, endpoint, path-style). That
path needs the hadoop-aws jars on the cluster's classpath, which a
jar-less deployment (or this sandbox) doesn't have.

This module is the DRIVER-MEDIATED fallback that works with zero JVM
additions: parquet bytes move between the store and the driver as ONE
object per call (boto3 put/get of an Arrow buffer — no multipart,
which some S3 implementations negotiate differently), and Spark sees
plain Arrow batches. That bounds it to driver-RAM-sized objects — the
right tool for metadata-scale exchange (model exports, eval sets,
config tables, COPY of query results), NOT for bulk table I/O, which
should flip to ``s3a://`` the moment the jars exist. COPY statements
route here automatically for ``s3://`` URIs (engine._copy).

Credentials/endpoint come from the standard AWS environment variables
(``AWS_ACCESS_KEY_ID``, ``AWS_SECRET_ACCESS_KEY``, ``AWS_ENDPOINT_URL``,
``AWS_DEFAULT_REGION``) — the contract every AWS SDK uses; an
``AWS_ENDPOINT_URL`` pointing at any S3-compatible server (MinIO,
localstack, moto) works unchanged, which is how the round-trip test
drives a REAL S3 API in-process (tests/test_object_store.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from swanlake_spark.config import PARQUET_CODEC


def parse_s3_uri(uri: str) -> tuple[str, str]:
    """``s3://bucket/key`` (or s3a://, s3n://) → (bucket, key)."""
    for scheme in ("s3://", "s3a://", "s3n://"):
        if uri.startswith(scheme):
            rest = uri[len(scheme):]
            bucket, _, key = rest.partition("/")
            if not bucket or not key:
                raise ValueError(f"need s3://bucket/key, got {uri!r}")
            return bucket, key
    raise ValueError(f"not an S3 URI: {uri!r}")


def s3_client():
    """boto3 S3 client from the standard AWS environment."""
    import boto3

    return boto3.client(
        "s3", endpoint_url=os.environ.get("AWS_ENDPOINT_URL")
    )


# Pre-flight bound for the driver-mediated path: Catalyst's optimized-plan
# size estimate (sum of surviving scan file bytes for table/file sources,
# actual data size for local relations) must stay under this cap, else the
# collect would materialize a bulk table on the driver. Overridable per
# deployment; 0/negative disables the guard (explicit opt-out).
DEFAULT_MAX_COPY_BYTES = 256 * 1024 * 1024


def estimated_plan_bytes(df: DataFrame) -> int:
    """Catalyst's ``optimizedPlan().stats().sizeInBytes`` for *df* —
    the same estimate broadcast-join planning trusts. For parquet scans
    this is the (pruned) file byte sum, a sound upper bound on what the
    driver collect will hold."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def check_driver_bound(df: DataFrame, uri: str) -> None:
    """Refuse a driver-mediated transfer whose input-size estimate
    exceeds the cap — a 100 GB ``COPY t TO 's3://…'`` must fail loudly,
    not OOM the driver (this path is for metadata-scale objects)."""
    cap = int(
        os.environ.get("SWL_S3_COPY_MAX_BYTES", DEFAULT_MAX_COPY_BYTES)
    )
    if cap <= 0:
        return
    est = estimated_plan_bytes(df)
    if est > cap:
        from swanlake_spark.errors import InvalidArgument

        raise InvalidArgument(
            f"COPY to {uri!r} would move an estimated {est:,} bytes "
            f"through the driver (cap {cap:,}); the driver-mediated "
            "s3:// path is for metadata-scale objects only. For bulk "
            "table I/O use an s3a:// path with the hadoop-aws jars on "
            "the classpath (executor-parallel; see config.py), or "
            "raise SWL_S3_COPY_MAX_BYTES explicitly."
        )


def write_parquet(df: DataFrame, uri: str) -> int:
    """Write a DataFrame to ``s3://bucket/key`` as ONE parquet object
    via a driver Arrow collect. Returns the row count. Driver-RAM
    bounded by design (module docstring) and enforced by a pre-flight
    plan-size check."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    check_driver_bound(df, uri)
    bucket, key = parse_s3_uri(uri)
    tbl = df.toArrow()
    sink = pa.BufferOutputStream()
    pq.write_table(tbl, sink, compression=PARQUET_CODEC)
    s3_client().put_object(
        Bucket=bucket, Key=key, Body=sink.getvalue().to_pybytes()
    )
    return tbl.num_rows


def read_parquet(spark: SparkSession, uri: str) -> DataFrame:
    """Read ``s3://bucket/key`` (one parquet object) into a DataFrame
    through the driver."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    bucket, key = parse_s3_uri(uri)
    body = s3_client().get_object(Bucket=bucket, Key=key)["Body"].read()
    tbl = pq.read_table(pa.BufferReader(body))
    try:
        return spark.createDataFrame(tbl)  # Arrow-native (Spark 4)
    except Exception:  # noqa: BLE001 — older createDataFrame surface
        return spark.createDataFrame(tbl.to_pandas())
