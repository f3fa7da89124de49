"""Shared helpers for tests and tools: order-insensitive DataFrame
comparison against a DuckDB oracle, mirroring the driver's row-count +
columns + value check (tools/compare_oracle.py), and a count of the
Py4J round trips a block of code makes (tools/point_write_probe.py)."""

from __future__ import annotations

import math
import os
import threading
from contextlib import contextmanager

import pandas as pd


def duck_connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
            drop=True
        )
    return df


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(af) and math.isnan(bf):
            return True
        return af == bf or math.isclose(af, bf, rel_tol=1e-12, abs_tol=1e-12)
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if pd.isna(a) or pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    return str(a) == str(b)


def compare_frames(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    """Returns a list of mismatch descriptions (empty = equal)."""
    issues: list[str] = []
    s, d = normalize(spark_df), normalize(duck_df)
    if list(s.columns) != list(d.columns):
        issues.append(
            f"columns differ: spark={list(s.columns)} duck={list(d.columns)}"
        )
        return issues
    if len(s) != len(d):
        issues.append(f"row count differs: spark={len(s)} duck={len(d)}")
        return issues
    for col in s.columns:
        for i, (x, y) in enumerate(zip(s[col].tolist(), d[col].tolist())):
            if not values_equal(x, y):
                issues.append(
                    f"value mismatch col={col} row={i}: spark={x!r} duck={y!r}"
                )
                if len(issues) > 3:
                    return issues
    return issues


@contextmanager
def py4j_calls(spark):
    """Count the Py4J round trips this thread makes to the JVM inside the
    block: yields a one-item list whose item is the count. Every Java
    call, field read and object lookup is one ``send_command`` on the
    gateway client; calls from other threads (py4j's finalizer thread
    releasing Java objects, other sessions) pass through uncounted."""
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    me = threading.get_ident()
    count = [0]

    def counted(*args, **kwargs):
        if threading.get_ident() == me:
            count[0] += 1
        return orig(*args, **kwargs)

    client.send_command = counted
    try:
        yield count
    finally:
        client.send_command = orig
