"""Streaming ingest and analytics over the events stream.

Shapes covered (all standard Structured Streaming, scale-ready):

- directory-watch ingest (the streaming analogue of the reference's
  appender: new files land, rows append downstream exactly-once);
- watermarked tumbling/sliding window aggregation with late-data
  handling;
- streaming dedup within a watermark (``dropDuplicatesWithinWatermark``);
- append into a warehouse table via ``foreachBatch`` (reusing the batch
  alignment operator, so stream and appender ingest share one code path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events_from_directory(
    spark: SparkSession,
    source_dir: str,
    fmt: str = "json",
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """File-source stream of events. New files in ``source_dir`` are
    discovered per micro-batch; ``maxFilesPerTrigger`` bounds batch size
    so executor memory is independent of backlog length."""
    reader = (
        spark.readStream.format(fmt)
        .schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
    )
    return reader.load(source_dir)


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 minute",
    slide: str | None = None,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked windowed aggregation: counts + value sums per
    (window, event_type). Late rows beyond the watermark are dropped;
    state is bounded by watermark horizon — the canonical streaming-agg
    memory contract."""
    w = (
        F.window("ts", window_duration, slide)
        if slide
        else F.window("ts", window_duration)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exactly-once-per-key stream dedup within the watermark horizon —
    the streaming form of exact dedup (state expires with the watermark,
    so memory is bounded)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def sessionize(
    events: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Custom stateful operator: event-time sessionization per user via
    ``applyInPandasWithState`` — the escape hatch for semantics Spark's
    built-in streaming operators can't express (SURVEY §2.6 extension
    path). A session is a run of events for one user with no gap longer
    than ``gap``; a session row is emitted when event time (the
    watermark) passes ``last_event + gap``.

    State per user is the OPEN session runs — gap-separated
    ``(start, last, n, sum)`` intervals. Multiple runs exist exactly
    when one micro-batch (or late data) carries events more than
    ``gap`` apart whose sessions the watermark has not yet sealed:
    closing them eagerly would be wrong, because an allowed-late event
    can still arrive between two runs and BRIDGE them into one session.
    Runs are emitted only once the watermark passes ``last + gap`` —
    the same decision rule, and the same results, as the batch operator
    (operators/events.sessionize_batch) once all data is in; the parity
    test in tests/test_streaming.py asserts exactly that. Memory is
    O(active users × runs inside the lateness horizon) — bounded by the
    watermark, the contract that makes this safe on an unbounded
    stream.
    """
    import pandas as pd  # noqa: F401 (applyInPandasWithState ships pandas)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from swanlake_spark.pyship import ship_package

    ship_package(events.sparkSession)

    gap_ms = _duration_ms(gap)
    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long, sum_value double"
    )
    state_schema = (
        "starts array<long>, lasts array<long>, ns array<long>, "
        "ss array<double>"
    )

    def _emit(user_id, runs):
        return pd.DataFrame(
            {
                "user_id": [user_id] * len(runs),
                "session_start": [
                    pd.Timestamp(r[0], unit="ms") for r in runs
                ],
                "session_end": [pd.Timestamp(r[1], unit="ms") for r in runs],
                "n_events": [r[2] for r in runs],
                "sum_value": [r[3] for r in runs],
            }
        )

    def _flush(state, runs, wm):
        """Emit watermark-sealed runs; keep/re-arm the rest."""
        closed = [r for r in runs if r[1] + gap_ms <= wm]
        keep = [r for r in runs if r[1] + gap_ms > wm]
        if keep:
            state.update((
                [r[0] for r in keep],
                [r[1] for r in keep],
                [r[2] for r in keep],
                [r[3] for r in keep],
            ))
            state.setTimeoutTimestamp(
                max(min(r[1] + gap_ms for r in keep), wm + 1)
            )
        else:
            state.remove()
        return closed

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            starts, lasts, ns, ss = state.get
            runs = list(zip(starts, lasts, ns, ss))
            closed = _flush(state, runs, state.getCurrentWatermarkMs())
            if closed:
                yield _emit(user_id, closed)
            return
        runs: list[tuple[int, int, int, float]] = []
        if state.exists:
            starts, lasts, ns, ss = state.get
            runs = [list(r) for r in zip(starts, lasts, ns, ss)]
        for pdf in pdf_iter:
            ts_ms = (pdf["ts"].astype("int64") // 1_000_000).tolist()
            vals = pdf["value"].fillna(0.0).tolist()
            for t, v in sorted(zip(ts_ms, vals)):
                # place the event: extend/join a run within gap, else
                # open a new run (kept sorted by start)
                hit = None
                for r in runs:
                    if r[0] - gap_ms <= t <= r[1] + gap_ms:
                        hit = r
                        break
                if hit is None:
                    runs.append([t, t, 1, float(v)])
                    runs.sort(key=lambda r: r[0])
                else:
                    hit[0] = min(hit[0], t)
                    hit[1] = max(hit[1], t)
                    hit[2] += 1
                    hit[3] += float(v)
                    # the grown run may now bridge its neighbours
                    runs.sort(key=lambda r: r[0])
                    merged = [runs[0]]
                    for r in runs[1:]:
                        p = merged[-1]
                        if r[0] <= p[1] + gap_ms:
                            p[1] = max(p[1], r[1])
                            p[0] = min(p[0], r[0])
                            p[2] += r[2]
                            p[3] += r[3]
                        else:
                            merged.append(r)
                    runs = merged
        # Late rows are NOT auto-dropped for flatMapGroupsWithState
        # (only aggregations drop them), so a run can already lie
        # behind the watermark — _flush emits those immediately and the
        # timeout clamp keeps Spark's past-timestamp check happy.
        closed = _flush(
            state,
            [tuple(r) for r in runs],
            state.getCurrentWatermarkMs(),
        )
        if closed:
            yield _emit(user_id, closed)

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _duration_ms(text: str) -> int:
    m = {"second": 1000, "minute": 60_000, "hour": 3_600_000, "day": 86_400_000}
    parts = text.strip().split()
    qty = int(parts[0])
    unit = parts[1].rstrip("s")
    if unit not in m:
        raise ValueError(f"unsupported duration: {text!r}")
    return qty * m[unit]


def append_batch(batch_df: DataFrame, table: str, batch_id: int) -> None:
    """Append one micro-batch to ``table`` like any other append
    (``ingest.append``: a batch its constraints refuse fails)."""
    from swanlake_spark.operators.dml import _table_meta
    from swanlake_spark.operators.ingest import align_to_schema, append

    spark = batch_df.sparkSession
    meta = _table_meta(spark, table)
    rows = align_to_schema(batch_df, meta[2])
    append(spark, table, meta, rows, f"stream_batch_{batch_id}")


def streaming_append_to_table(
    events: DataFrame,
    table: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Sink a stream into a warehouse table via foreachBatch
    (:func:`append_batch`) — the streaming appender. Exactly-once per
    micro-batch via the checkpoint; append = new immutable parquet
    part-files (compaction handles the small files, maintenance.py)."""
    writer = events.writeStream.foreachBatch(
        lambda batch_df, batch_id: append_batch(batch_df, table, batch_id)
    ).option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def session_stats_stream(
    events: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-session rollup via Spark's NATIVE session windows
    (``F.session_window`` — JVM-side merging-window state, no Python in
    the loop): one ``(user_id, session_start, session_end, n_events,
    sum_value)`` row per closed session, append-mode, emitted when the
    watermark passes the session's end + gap.

    This is the built-in twin of ``sessionize`` above: identical
    gap-session semantics (the batch oracle is
    ``operators/events.session_stats``), but the state machine lives in
    Tungsten rows and merges sessions engine-side — the path to prefer
    whenever per-session AGGREGATES are enough. ``sessionize`` remains
    for semantics the native operator can't express (per-event session
    ids, custom emission rules). One caveat inherited from Spark's
    session windows: ``session_window``'s end is ``last_event + gap``,
    so ``session_end`` here is trimmed back to the observed
    ``max(ts)`` to match the batch operator's (start, end, duration)
    convention exactly."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.max("ts").alias("last_ts"),
            F.min("ts").alias("first_ts"),
        )
        .select(
            "user_id",
            F.col("first_ts").alias("session_start"),
            F.col("last_ts").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
