"""Streamed materialized-view maintenance.

The streaming twin of ``matview.refresh_incremental``: a foreachBatch
sink appends each micro-batch to the snapshot-tracked base table and
folds exactly the appended files into the rollup view — the Delta Live
Tables / continuous-rollup shape, built from the pieces the engine
already has (the streaming appender's version recording plus the
manifest-diff incremental fold; cf. the DuckLake maintenance model the
reference ships, ``/root/reference/README.md``).

Failure semantics are the strong part, and they come from MANIFESTS,
not batches:

- ``refresh_incremental`` folds the delta between the view's stamped
  base version and the base's current version. A refresh that never
  ran (crash between append and refresh) is self-healing — the NEXT
  refresh's manifest diff simply spans two batches. A refresh replayed
  against an unchanged base is a no-op (empty set-diff). The view
  therefore converges to the base under any crash/replay interleaving
  of the REFRESH side.
- The APPEND side is the plain streaming appender's
  (``streaming_append_to_table``), with its at-least-once caveat: a
  crash between the publish and the checkpoint commit replays the
  batch's rows.
  Exactly-once ingest needs an idempotent upstream key + dedup, which
  is orthogonal to view maintenance.

State cost per batch: one manifest set-diff (metadata), one aggregation
over the batch's files, one view-sized merge join — the view's refresh
cost tracks the BATCH, not the base, so a 100 TB base with minute-level
micro-batches pays minute-level deltas forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def maintain_matview_stream(
    rows: DataFrame,
    base_table: str,
    view: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Start a stream that appends ``rows`` to ``base_table`` and keeps
    materialized view ``view`` (defined over ``base_table``) current,
    micro-batch by micro-batch. Returns the StreamingQuery."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from swanlake_spark import matview
        from swanlake_spark.streaming.ingest import append_batch

        append_batch(batch_df, base_table, batch_id)
        # empty batches publish no files; the set-diff is empty and the
        # fold returns 0 — cheap, so no need to special-case them
        matview.refresh_incremental(batch_df.sparkSession, view)

    writer = rows.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
