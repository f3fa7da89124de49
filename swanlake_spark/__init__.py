"""swanlake_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference system
(an Arrow Flight SQL server over embedded DuckDB with DuckLake parquet
storage — see SURVEY.md) as an idiomatic Spark engine:

- SQL front door (``Engine.query`` / ``Engine.execute``) → ``spark.sql``
  → Catalyst/Tungsten execution.
- Parquet warehouse tables (append = new immutable files, periodic
  compaction — same physical model as DuckLake).
- Per-client sessions with prepared statements, parameter binding and
  transaction emulation.
- Large-scale training-data operators (dedup, similarity search, text
  analysis, multimodal plumbing) built on DataFrame primitives.

Nothing here is ported from the reference's Rust code; the reference
defines WHAT to compute (operator inventory in SURVEY.md §2), Spark
decides HOW.
"""

from swanlake_spark.client import Client, ClientPool, PoolConfig, UpdateResult
from swanlake_spark.config import EngineConfig, ObjectStoreConfig
from swanlake_spark.engine import Engine, QueryResult
from swanlake_spark.errors import (
    EngineError,
    FailedPrecondition,
    InvalidArgument,
    NotFound,
    ResourceExhausted,
)
from swanlake_spark.session import Session, SessionRegistry

__version__ = "0.2.0"

__all__ = [
    "Engine",
    "EngineConfig",
    "ObjectStoreConfig",
    "QueryResult",
    "Client",
    "ClientPool",
    "PoolConfig",
    "UpdateResult",
    "Session",
    "SessionRegistry",
    "EngineError",
    "InvalidArgument",
    "FailedPrecondition",
    "NotFound",
    "ResourceExhausted",
]
