"""Structured Streaming tests: file-source ingest, watermarked windowed
aggregation, stream dedup, foreachBatch table sink — all with
availableNow triggers so they run bounded in CI."""

import json
import os
import tempfile
import uuid

import pytest

from swanlake_spark.streaming import (
    stream_events_from_directory,
    streaming_append_to_table,
    streaming_dedup,
    windowed_event_counts,
)


@pytest.fixture()
def event_dir():
    d = tempfile.mkdtemp(prefix="swl_stream_")
    rows = []
    for i in range(100):
        rows.append(
            {
                "event_id": i,
                "ts": f"2025-01-01T00:{i % 60:02d}:{i % 10:02d}.000Z",
                "user_id": i % 5,
                "event_type": ["click", "view"][i % 2],
                "value": float(i),
                "props": "{}",
            }
        )
    # a duplicate event for dedup testing
    rows.append(dict(rows[0]))
    with open(os.path.join(d, "batch1.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return d


def _run_to_memory(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append" if not df.isStreaming or True else "complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_stream_windowed_counts(spark, event_dir):
    events = stream_events_from_directory(spark, event_dir)
    agg = windowed_event_counts(events, "1 minute", watermark="2 minutes")
    name = f"m_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(f"SELECT * FROM {name}").collect()
    # Append mode emits only windows closed by the final watermark
    # (max ts 00:59:09 − 2 min ⇒ windows ending after 00:57:09 are
    # withheld): events at minutes 57–59 (i=57,58,59) stay in state.
    assert sum(r.cnt for r in out) == 98
    assert {r.event_type for r in out} == {"click", "view"}
    # window [00:00,00:01) holds i=0, i=60 and the duplicate of i=0 — all clicks
    w0 = [r for r in out if r.window_start.minute == 0 and r.window_start.hour == 0]
    assert {(r.event_type, r.cnt) for r in w0} == {("click", 3)}


def test_stream_dedup(spark, event_dir):
    events = stream_events_from_directory(spark, event_dir)
    deduped = streaming_dedup(events, keys=["event_id"], watermark="10 minutes")
    name = f"m_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(f"SELECT count(*) AS c, count(DISTINCT event_id) AS d FROM {name}").collect()[0]
    assert out.c == 100  # duplicate dropped
    assert out.d == 100


def test_stream_append_to_table(spark, engine, event_dir):
    name = f"ev_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix="swl_test_")
    engine.execute(
        f"CREATE TABLE {name} (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        f"event_type STRING, value DOUBLE, props STRING) "
        f"USING parquet LOCATION '{loc}'"
    )
    events = stream_events_from_directory(spark, event_dir)
    ckpt = tempfile.mkdtemp(prefix="swl_ckpt_")
    q = streaming_append_to_table(events, name, ckpt)
    q.awaitTermination(120)
    assert engine.query(f"SELECT count(*) AS c FROM {name}").collect()[0].c == 101



def test_stream_append_enforces_primary_key(spark, engine, event_dir):
    """A micro-batch is checked like every other append: the fixture's
    duplicate event fails it on an ``event_id`` PRIMARY KEY table, and
    nothing is published."""
    from pyspark.errors import StreamingQueryException

    name = f"ev_{uuid.uuid4().hex[:8]}"
    engine.execute(
        f"CREATE TABLE {name} (event_id BIGINT PRIMARY KEY, ts TIMESTAMP, "
        f"user_id BIGINT, event_type STRING, value DOUBLE, props STRING) "
        f"USING parquet LOCATION '{tempfile.mkdtemp(prefix='swl_test_')}'"
    )
    events = stream_events_from_directory(spark, event_dir)
    q = streaming_append_to_table(events, name, tempfile.mkdtemp(prefix="swl_ckpt_"))
    with pytest.raises(StreamingQueryException, match="PRIMARY KEY"):
        q.awaitTermination(120)
    assert engine.query(f"SELECT count(*) AS c FROM {name}").collect()[0].c == 0

def _write_events(d, fname, ids):
    rows = []
    for i in ids:
        rows.append(
            {
                "event_id": i,
                "ts": f"2025-01-01T00:{i % 60:02d}:{i % 10 + 1:02d}.000Z",
                "user_id": i % 5,
                "event_type": ["click", "view"][i % 2],
                "value": float(i),
                "props": "{}",
            }
        )
    with open(os.path.join(d, fname), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_stream_windowed_append_hash_matches_batch_oracle(spark, engine):
    """End-to-end evidence-class parity for the streaming path: stream →
    watermarked windowed agg → foreachBatch into a warehouse table, then
    the final table must hash-match (same compare gate as the DuckDB
    oracle corpus) a batch computation over the same fixture files. The
    only streaming-specific semantic is the final watermark cutoff —
    append mode withholds windows the watermark hasn't closed — which
    the batch oracle reproduces exactly as window_end <= max(ts) - wm."""
    from datetime import timedelta

    from pyspark.sql import functions as F

    from swanlake_spark.streaming.ingest import EVENT_SCHEMA
    from swanlake_spark.testing import compare_frames

    d = tempfile.mkdtemp(prefix="swl_stream_e2e_")
    _write_events(d, "b1.json", range(0, 30))    # minutes 00-29
    _write_events(d, "b2.json", range(30, 60))   # minutes 30-59 (no late data)

    name = f"agg_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix="swl_test_")
    engine.execute(
        f"CREATE TABLE {name} (window_start TIMESTAMP, window_end TIMESTAMP, "
        f"event_type STRING, cnt BIGINT, sum_value DOUBLE) "
        f"USING parquet LOCATION '{loc}'"
    )
    events = stream_events_from_directory(spark, d, max_files_per_trigger=1)
    agg = windowed_event_counts(events, "1 minute", watermark="2 minutes")
    q = streaming_append_to_table(agg, name, tempfile.mkdtemp(prefix="swl_ckpt_"))
    q.awaitTermination(180)

    batch = spark.read.schema(EVENT_SCHEMA).json(d)
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - timedelta(minutes=2)
    expected = (
        batch.groupBy(F.window("ts", "1 minute").alias("win"), "event_type")
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "cnt",
            "sum_value",
        )
        .filter(F.col("window_end") <= F.lit(cutoff))
    )
    got = spark.table(name).toPandas()
    want = expected.toPandas()
    assert len(got) > 0
    issues = compare_frames(got, want)
    assert not issues, issues


def test_stream_dedup_append_hash_matches_batch_oracle(spark, engine):
    """Streaming dedup → foreachBatch table sink must equal batch
    dropDuplicates over the same fixtures, value-for-value."""
    from pyspark.sql import functions as F  # noqa: F401

    from swanlake_spark.streaming.ingest import EVENT_SCHEMA
    from swanlake_spark.testing import compare_frames

    d = tempfile.mkdtemp(prefix="swl_stream_dd_")
    _write_events(d, "b1.json", list(range(0, 40)) + [0, 7])   # dups of 0, 7
    _write_events(d, "b2.json", list(range(40, 60)) + [41])    # dup of 41

    name = f"dd_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix="swl_test_")
    engine.execute(
        f"CREATE TABLE {name} (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        f"event_type STRING, value DOUBLE, props STRING) "
        f"USING parquet LOCATION '{loc}'"
    )
    events = stream_events_from_directory(spark, d, max_files_per_trigger=1)
    deduped = streaming_dedup(events, keys=["event_id"], watermark="10 minutes")
    q = streaming_append_to_table(deduped, name, tempfile.mkdtemp(prefix="swl_ckpt_"))
    q.awaitTermination(180)

    batch = spark.read.schema(EVENT_SCHEMA).json(d).dropDuplicates(["event_id"])
    issues = compare_frames(spark.table(name).toPandas(), batch.toPandas())
    assert not issues, issues
    assert spark.table(name).count() == 60


def test_sessionize_stateful(spark):
    """Custom stateful operator (applyInPandasWithState): sessions close
    when the watermark passes last_event + gap. Two files → two
    micro-batches (maxFilesPerTrigger=1); the second batch's events push
    the watermark far past the first users' sessions."""
    import json
    import os
    import tempfile

    from swanlake_spark.streaming import sessionize, stream_events_from_directory

    d = tempfile.mkdtemp(prefix="swl_sess_")

    def write(fname, rows):
        with open(os.path.join(d, fname), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    # user 1: two events 30s apart (one session); user 2: one event
    write(
        "b1.json",
        [
            {"event_id": 1, "ts": "2025-01-01T00:00:00.000Z", "user_id": 1,
             "event_type": "click", "value": 1.0, "props": "{}"},
            {"event_id": 2, "ts": "2025-01-01T00:00:30.000Z", "user_id": 1,
             "event_type": "view", "value": 2.0, "props": "{}"},
            {"event_id": 3, "ts": "2025-01-01T00:00:10.000Z", "user_id": 2,
             "event_type": "click", "value": 5.0, "props": "{}"},
        ],
    )
    # an hour later: advances the watermark beyond gap for users 1 and 2
    write(
        "b2.json",
        [
            {"event_id": 9, "ts": "2025-01-01T01:00:00.000Z", "user_id": 3,
             "event_type": "click", "value": 0.0, "props": "{}"},
        ],
    )

    events = stream_events_from_directory(spark, d, max_files_per_trigger=1)
    sessions = sessionize(events, gap="5 minutes", watermark="1 minute")
    name = "sess_out"
    q = (
        sessions.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = {r.user_id: r for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert 1 in rows and 2 in rows
    s1 = rows[1]
    assert s1.n_events == 2 and s1.sum_value == 3.0
    assert (s1.session_end - s1.session_start).total_seconds() == 30.0
    s2 = rows[2]
    assert s2.n_events == 1 and s2.sum_value == 5.0
    # user 3's session is still open (watermark never passed its gap)
    assert 3 not in rows


class TestStreamingNearDup:
    """Stream-static LSH near-dup: incoming docs checked against a
    historical band index (streaming/dedup.py)."""

    def _docs_dir(self, tmp_path, docs):
        import json
        import os

        d = tmp_path / "docs_in"
        os.makedirs(d, exist_ok=True)
        with open(d / "batch0.json", "w") as f:
            for doc_id, text in docs:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        return str(d)

    def test_incoming_near_dup_flagged(self, spark, tmp_path):
        from swanlake_spark.streaming import dedup as sdedup

        base = (
            "the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep green forest to hide from every hunter"
        )
        hist = spark.createDataFrame(
            [(1, base), (2, "completely different text about spark engines "
                            "processing massive distributed datasets with "
                            "columnar formats and vectorized execution")],
            ["doc_id", "text"],
        )
        index = sdedup.historical_band_index(hist)
        # doc 100 = near-copy of hist 1 (one word changed); doc 101 = novel
        incoming = [
            (100, base.replace("green", "blue")),
            (101, "entirely novel content with no overlap whatsoever in any "
                  "shingle of length five across the whole document text here "
                  "nothing matches anything stored before"),
        ]
        src = self._docs_dir(tmp_path, incoming)
        stream = sdedup.stream_docs_from_directory(spark, src)
        matches = sdedup.streaming_near_dup_matches(stream, index)
        q = (
            matches.writeStream.format("memory")
            .queryName("near_dup_out")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql(
            "SELECT DISTINCT doc_id, hist_id FROM near_dup_out"
        ).collect()
        got = {(r.doc_id, r.hist_id) for r in rows}
        assert (100, 1) in got, got
        assert all(d != 101 for d, _ in got), got

    def test_rowlocal_signature_matches_batch_signature(self, spark):
        from swanlake_spark.operators import dedup

        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
             (2, "one two three four five six seven eight nine ten eleven")],
            ["doc_id", "text"],
        )
        a = {r.doc_id: r.sig for r in dedup.minhash_signature(df).collect()}
        b = {r.doc_id: r.sig for r in dedup.minhash_signature_rowlocal(df).collect()}
        assert a == b


def test_streaming_curation_pipeline_matches_batch(spark, tmp_path):
    """The narrow curation operators (chunking, quality signals) apply
    unchanged to a readStream source — evidence that the per-row corpus
    pipeline runs as-is in Structured Streaming. The streamed result
    must equal the batch result on the same files."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from swanlake_spark.operators import curation

    src = tmp_path / "docs_in"
    src.mkdir()
    with open(src / "docs.jsonl", "w") as f:
        for i in range(40):
            f.write(
                _json.dumps(
                    {"doc_id": i, "text": ("tok%d " % (i % 7)) * (20 + i % 13)}
                )
                + "\n"
            )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def pipeline(df):
        return curation.chunk_documents(df, chunk_tokens=16, overlap=4)

    stream = spark.readStream.schema(schema).json(str(src))
    out_dir = tmp_path / "chunks_out"
    ckpt = tmp_path / "ckpt"
    q = (
        pipeline(stream)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = (
        spark.read.parquet(str(out_dir))
        .orderBy("doc_id", "chunk_id")
        .collect()
    )
    batch = (
        pipeline(spark.read.schema(schema).json(str(src)))
        .orderBy("doc_id", "chunk_id")
        .collect()
    )
    assert streamed == batch
    assert len(batch) > 40  # long docs chunked into multiple rows


def test_sessionize_stream_matches_batch_operator(spark):
    """Parity: the streaming sessionizer's CLOSED sessions must equal
    operators/events.sessionize_batch over the same events — the two
    operators implement one gap semantics (batch is hash-verified
    against a DuckDB window-SQL oracle, so this transitively anchors
    the streaming path to SQL semantics too). A far-future sentinel
    event pushes the watermark past every real session's gap so all of
    them close and emit."""
    import json
    import os
    import tempfile

    from pyspark.sql import functions as F

    from swanlake_spark.operators import events as EV
    from swanlake_spark.streaming import (
        sessionize,
        stream_events_from_directory,
    )

    d = tempfile.mkdtemp(prefix="swl_sesspar_")
    base = [
        # user 1: two sessions (gap 10 min > 5-minute threshold)
        {"event_id": 1, "ts": "2025-01-01T00:00:00.000Z", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2025-01-01T00:02:00.000Z", "user_id": 1,
         "event_type": "view", "value": 2.0, "props": "{}"},
        {"event_id": 3, "ts": "2025-01-01T00:12:30.000Z", "user_id": 1,
         "event_type": "click", "value": 4.0, "props": "{}"},
        # user 2: one session of three events
        {"event_id": 4, "ts": "2025-01-01T00:01:00.000Z", "user_id": 2,
         "event_type": "click", "value": 5.0, "props": "{}"},
        {"event_id": 5, "ts": "2025-01-01T00:04:00.000Z", "user_id": 2,
         "event_type": "view", "value": 6.0, "props": "{}"},
        {"event_id": 6, "ts": "2025-01-01T00:05:30.000Z", "user_id": 2,
         "event_type": "view", "value": 7.0, "props": "{}"},
    ]
    with open(os.path.join(d, "b1.json"), "w") as f:
        for r in base:
            f.write(json.dumps(r) + "\n")
    with open(os.path.join(d, "b2.json"), "w") as f:
        f.write(json.dumps(
            {"event_id": 99, "ts": "2025-01-01T12:00:00.000Z", "user_id": 9,
             "event_type": "click", "value": 0.0, "props": "{}"}
        ) + "\n")

    events = stream_events_from_directory(spark, d, max_files_per_trigger=1)
    sessions = sessionize(events, gap="5 minutes", watermark="1 minute")
    name = "sess_parity"
    q = (
        sessions.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
        if r.user_id in (1, 2)
    }
    bdf = spark.createDataFrame(
        [(r["user_id"], r["ts"]) for r in base], "user_id long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    expected = {
        (r.user_id, str(r.start), str(r.end), r.n_events)
        for r in EV.session_stats(bdf, gap_minutes=5.0).collect()
    }
    assert got == expected
    assert len(expected) == 3  # 2 sessions for user 1, 1 for user 2


class TestStreamingFunnel:
    """funnel_stream parity vs the batch operator (which is
    DuckDB-oracle-anchored), including out-of-order delivery."""

    def _run(self, spark, batches, within_s=None):
        import json
        import os
        import tempfile

        from swanlake_spark.streaming import (
            funnel_stream,
            stream_events_from_directory,
        )

        d = tempfile.mkdtemp(prefix="swl_funstr_")
        base = 1_700_000_000
        for i, batch in enumerate(batches):
            p = os.path.join(d, f"b{i}.json")
            with open(p, "w") as f:
                for r in batch:
                    f.write(json.dumps(r) + "\n")
            # distinct mtimes: the file source orders batches by
            # modification time, and same-ms ties make delivery order
            # (and thus watermark advancement) nondeterministic
            os.utime(p, (base + i, base + i))
        events = stream_events_from_directory(
            spark, d, max_files_per_trigger=1
        )
        out = funnel_stream(
            events, ["signup", "view", "purchase"], watermark="1 minute",
            within_s=within_s,
        )
        name = f"funnel_par_{abs(hash(str(batches))) % 10**8}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        # availableNow terminates on completion; assert it actually
        # finished so a loaded box can't hand us a partial sink
        assert q.awaitTermination(300)
        return {
            (r.user_id, r.step_index, r.step, str(r.step_ts))
            for r in spark.sql(f"SELECT * FROM {name}").collect()
            if r.user_id != 999  # watermark sentinel
        }

    @staticmethod
    def _ev(eid, ts, uid, ty):
        return {"event_id": eid, "ts": ts, "user_id": uid,
                "event_type": ty, "value": 0.0, "props": "{}"}

    def _batch_expected(self, spark, rows, within_s=None):
        from pyspark.sql import functions as F

        from swanlake_spark.operators import events as EV

        bdf = spark.createDataFrame(
            [(r["user_id"], r["ts"], r["event_type"]) for r in rows],
            "user_id long, ts string, event_type string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        reach = EV.funnel_reach(
            bdf, ["signup", "view", "purchase"], within_s=within_s
        ).collect()
        expected = set()
        steps = ["signup", "view", "purchase"]
        for r in reach:
            for i, s in enumerate(steps):
                t = r[f"_t{i}"]
                if t is not None:
                    import datetime

                    ts = datetime.datetime.utcfromtimestamp(t)
                    expected.add((r._u, i + 1, s, str(ts)))
        return expected

    def test_in_order_matches_batch(self, spark):
        rows = [
            self._ev(1, "2025-01-01T00:00:00.000Z", 1, "signup"),
            self._ev(2, "2025-01-01T00:01:00.000Z", 1, "view"),
            self._ev(3, "2025-01-01T00:02:00.000Z", 1, "purchase"),
            # user 2 purchases BEFORE viewing: funnel stops at signup+view
            self._ev(4, "2025-01-01T00:00:30.000Z", 2, "signup"),
            self._ev(5, "2025-01-01T00:00:40.000Z", 2, "purchase"),
            self._ev(6, "2025-01-01T00:03:00.000Z", 2, "view"),
        ]
        sentinel = [self._ev(99, "2025-01-01T12:00:00.000Z", 999, "signup")]
        got = self._run(spark, [rows, sentinel])
        assert got == self._batch_expected(spark, rows)
        assert {(u, i) for u, i, _, _ in got} == {
            (1, 1), (1, 2), (1, 3), (2, 1), (2, 2),
        }

    def test_out_of_order_late_step0_matches_batch(self, spark):
        """The user's view events arrive FIRST; the signup that makes
        one of them qualify arrives late (within the watermark) in a
        later micro-batch. Pending view candidates must survive until
        the late signup lands — then the funnel matches batch."""
        early = [
            self._ev(1, "2025-01-01T00:00:20.000Z", 7, "view"),
            self._ev(2, "2025-01-01T00:00:40.000Z", 7, "view"),
        ]
        late = [self._ev(3, "2025-01-01T00:00:30.000Z", 7, "signup")]
        sentinel = [self._ev(99, "2025-01-01T12:00:00.000Z", 999, "signup")]
        rows = early + late
        got = self._run(spark, [early, late, sentinel])
        expected = self._batch_expected(spark, rows)
        assert got == expected
        # the qualifying view is the 00:00:40 one (>= signup 00:00:30)
        assert (7, 2, "view", "2025-01-01 00:00:40") in got

    def test_hot_user_spamming_one_step_emits_nothing(self, spark):
        """A bot emitting only step-1 events never converts and never
        blocks: no rows for it, stream completes (its candidates are
        watermark-pruned, not accumulated)."""
        bot = [
            self._ev(i, f"2025-01-01T00:{m:02d}:{s:02d}.000Z", 13, "view")
            for i, (m, s) in enumerate(
                (m, s) for m in range(8) for s in (0, 30)
            )
        ]
        # the control user rides in the SAME batch as the bot burst
        # (delivering it later would make it genuinely too late under
        # the bot-advanced watermark, and drop-late would discard it)
        real = [
            self._ev(100, "2025-01-01T00:00:00.000Z", 14, "signup"),
            self._ev(101, "2025-01-01T00:00:10.000Z", 14, "view"),
        ]
        sentinel = [self._ev(99, "2025-01-01T12:00:00.000Z", 999, "signup")]
        got = self._run(spark, [bot + real, sentinel])
        assert {(u, i) for u, i, _, _ in got} == {(14, 1), (14, 2)}

    def test_conversion_window_matches_batch(self, spark):
        """within_s parity: step-1 events outside the window after the
        (late-arriving, earlier) signup must not convert — the moving
        deadline re-evaluates when t0 drops."""
        rows = [
            # signup lands LATE (but within the watermark: batch 1's
            # max ts keeps the watermark below 00:00:00); its arrival
            # moves the deadline earlier
            self._ev(1, "2025-01-01T00:00:10.000Z", 21, "view"),
            self._ev(2, "2025-01-01T00:05:00.000Z", 21, "view"),
            self._ev(3, "2025-01-01T00:00:00.000Z", 21, "signup"),
            # user 22: view inside its window
            self._ev(4, "2025-01-01T00:00:00.000Z", 22, "signup"),
            self._ev(5, "2025-01-01T00:01:00.000Z", 22, "view"),
        ]
        batches = [rows[:1], rows[1:]]
        sentinel = [self._ev(99, "2025-01-01T12:00:00.000Z", 999, "signup")]
        got = self._run(spark, batches + [sentinel], within_s=120.0)
        assert got == self._batch_expected(spark, rows, within_s=120.0)
        # user 21 converts via the 00:00:10 view (inside 2 min of
        # 00:00:00); the 00:05:00 one alone would have been outside
        assert (21, 2, "view", "2025-01-01 00:00:10") in got


    def test_too_late_event_is_dropped_not_folded(self, spark):
        """ADVICE r5: applyInPandasWithState does NOT auto-drop late
        rows — the operator must enforce the documented drop-late
        contract itself. A purchase arriving BELOW the watermark (after
        the sentinel pushed it hours past the event time) must not
        finalize step 3; admitting it would alter pending-step times in
        the same invocation it arrives."""
        ontime = [
            self._ev(1, "2025-01-01T00:00:00.000Z", 31, "signup"),
            self._ev(2, "2025-01-01T00:00:10.000Z", 31, "view"),
        ]
        sentinel = [self._ev(99, "2025-01-01T12:00:00.000Z", 999, "signup")]
        too_late = [self._ev(3, "2025-01-01T00:00:20.000Z", 31, "purchase")]
        got = self._run(spark, [ontime, sentinel, too_late, sentinel])
        # steps 1-2 finalized by the sentinel; the below-watermark
        # purchase is dropped, so step 3 never emits
        assert {(u, i) for u, i, _, _ in got} == {(31, 1), (31, 2)}


class TestStreamingRetention:
    """retention_stream parity vs the batch operator (DuckDB-anchored):
    grouped emission counts must equal batch retention, including when
    the cohort-defining first event arrives LATE."""

    @staticmethod
    def _ev(eid, ts, uid):
        return {"event_id": eid, "ts": ts, "user_id": uid,
                "event_type": "click", "value": 0.0, "props": "{}"}

    def _run(self, spark, batches, period="day"):
        import json
        import os
        import tempfile

        from swanlake_spark.streaming import (
            retention_stream,
            stream_events_from_directory,
        )

        d = tempfile.mkdtemp(prefix="swl_retstr_")
        base = 1_700_000_000
        for i, batch in enumerate(batches):
            p = os.path.join(d, f"b{i}.json")
            with open(p, "w") as f:
                for r in batch:
                    f.write(json.dumps(r) + "\n")
            os.utime(p, (base + i, base + i))
        events = stream_events_from_directory(
            spark, d, max_files_per_trigger=1
        )
        out = retention_stream(events, period=period, watermark="1 minute")
        name = f"ret_par_{abs(hash(str(batches))) % 10**8}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        return [
            (r.user_id, str(r.cohort), r.offset, str(r.period))
            for r in spark.sql(f"SELECT * FROM {name}").collect()
            if r.user_id != 999
        ]

    def _batch_counts(self, spark, rows, period="day"):
        from pyspark.sql import functions as F

        from swanlake_spark.operators import events as EV

        bdf = spark.createDataFrame(
            [(r["user_id"], r["ts"]) for r in rows],
            "user_id long, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        return {
            (str(r.cohort), r.offset): r.users
            for r in EV.retention(bdf, period=period).collect()
        }

    def test_counts_match_batch_with_late_cohort_event(self, spark):
        rows = [
            # user 1 active day 2 FIRST; the day-1 (cohort-defining)
            # event arrives in a later micro-batch 30s out of order —
            # INSIDE the 1-minute watermark contract (after batch 1 the
            # watermark sits at 01-01T23:59:20, before the day
            # boundary, so the day-1 period is still admissible)
            self._ev(1, "2025-01-02T00:00:20.000Z", 1),
            self._ev(2, "2025-01-01T23:59:50.000Z", 1),
            self._ev(3, "2025-01-03T00:00:10.000Z", 1),
            # user 2: two days, in order
            self._ev(4, "2025-01-01T10:00:00.000Z", 2),
            self._ev(5, "2025-01-03T10:00:00.000Z", 2),
            # user 3: single day, duplicate events collapse
            self._ev(6, "2025-01-02T09:00:00.000Z", 3),
            self._ev(7, "2025-01-02T09:30:00.000Z", 3),
        ]
        batches = [rows[:1], rows[1:]]
        sentinel = [self._ev(99, "2025-02-01T00:00:00.000Z", 999)]
        got = self._run(spark, batches + [sentinel])
        # emissions unique per (user, period)
        assert len(got) == len(set(got))
        from collections import Counter

        counts = Counter((c, o) for _, c, o, _ in got)
        assert dict(counts) == self._batch_counts(spark, rows)
        # user 1's cohort settled on the LATE day-1 event
        u1 = {(c, o) for u, c, o, _ in got if u == 1}
        assert u1 == {
            ("2025-01-01 00:00:00", 0),
            ("2025-01-01 00:00:00", 1),
            ("2025-01-01 00:00:00", 2),
        }

    def test_weekly_period_matches_batch(self, spark):
        rows = [
            self._ev(1, "2025-01-06T08:00:00.000Z", 5),   # Mon wk1
            self._ev(2, "2025-01-15T08:00:00.000Z", 5),   # wk2
            self._ev(3, "2025-01-22T08:00:00.000Z", 5),   # wk3
            self._ev(4, "2025-01-14T08:00:00.000Z", 6),   # wk2 cohort
        ]
        sentinel = [self._ev(99, "2025-03-01T00:00:00.000Z", 999)]
        got = self._run(spark, [rows, sentinel], period="week")
        from collections import Counter

        counts = Counter((c, o) for _, c, o, _ in got)
        assert dict(counts) == self._batch_counts(spark, rows, "week")


class TestStreamingMatview:
    """maintain_matview_stream: per-micro-batch append + incremental
    fold. Parity target = a full recompute over the final base; the
    crash test exercises the manifest-diff self-healing (a refresh
    skipped for one batch is folded by the next)."""

    def _setup(self, spark, engine, tag):
        import tempfile

        from swanlake_spark import matview

        base = f"smv_base_{tag}"
        view = f"smv_view_{tag}"
        loc = tempfile.mkdtemp(prefix="swl_smv_")
        spark.sql(
            f"CREATE TABLE {base} (event_id BIGINT, ts TIMESTAMP, "
            f"user_id BIGINT, event_type STRING, value DOUBLE, "
            f"props STRING) USING parquet LOCATION '{loc}'"
        )
        engine.execute(
            f"INSERT INTO {base} VALUES "
            f"(1000000, TIMESTAMP '2025-01-01 00:00:00', 1, 'click', 1.0, '{{}}')"
        )
        matview.create(
            spark,
            view,
            f"SELECT event_type, count(*) AS n, sum(value) AS total, "
            f"avg(value) AS mean FROM {base} GROUP BY event_type",
            location=tempfile.mkdtemp(prefix="swl_smv_v_"),
        )
        return base, view

    def _recompute(self, spark, base):
        spark.catalog.refreshTable(base)  # appends from the stream's clone
        return {
            (r.event_type, r.n, round(r.total, 6), round(r.mean, 6))
            for r in spark.sql(
                f"SELECT event_type, count(*) AS n, sum(value) AS total, "
                f"avg(value) AS mean FROM {base} GROUP BY event_type"
            ).collect()
        }

    def _view_rows(self, spark, view):
        # the stream's foreachBatch publishes from a CLONED session, so
        # this session's cached file listing for the view is stale after
        # the COW publish; reads go through the engine front door (its
        # FAILED_READ_FILE re-resolve), as an interactive user's would —
        # here the plain-session equivalent:
        spark.catalog.refreshTable(view)
        return {
            (r.event_type, r.n, round(r.total, 6), round(r.mean, 6))
            for r in spark.table(view).collect()
        }

    def test_multi_batch_parity(self, spark, engine, event_dir):
        import tempfile

        from swanlake_spark.streaming import maintain_matview_stream

        base, view = self._setup(spark, engine, "par")
        try:
            # several waves -> several micro-batches (1 file per trigger)
            _write_events(event_dir, "wave2.json", range(200, 260))
            _write_events(event_dir, "wave3.json", range(300, 330))
            events = stream_events_from_directory(
                spark, event_dir, max_files_per_trigger=1
            )
            q = maintain_matview_stream(
                events, base, view, tempfile.mkdtemp(prefix="swl_smv_ck_")
            )
            assert q.awaitTermination(180)
            assert self._view_rows(spark, view) == self._recompute(
                spark, base
            )
            # the view is stamped at the base's current version: one
            # more refresh is a no-op fold of an empty delta
            from swanlake_spark import matview

            assert matview.refresh_incremental(spark, view) == 0
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {base}")

    def test_join_view_streamed_maintenance(self, spark, engine, event_dir):
        # r7: refresh_incremental handles n-ary equi-join views, so the
        # streamed maintainer gets fact-stream⋈dim⋈dim STAR rollups for
        # free — each batch's appended files broadcast-join both dim
        # snapshots (the ΔT0 term; the dims are static here, so the
        # dim-delta terms never run)
        import tempfile

        from swanlake_spark import matview
        from swanlake_spark.streaming import maintain_matview_stream

        base = "smv_base_join"
        view = "smv_view_join"
        loc = tempfile.mkdtemp(prefix="swl_smvj_")
        dloc = tempfile.mkdtemp(prefix="swl_smvj_d_")
        d2loc = tempfile.mkdtemp(prefix="swl_smvj_d2_")
        spark.sql(
            f"CREATE TABLE {base} (event_id BIGINT, ts TIMESTAMP, "
            f"user_id BIGINT, event_type STRING, value DOUBLE, "
            f"props STRING) USING parquet LOCATION '{loc}'"
        )
        spark.sql(
            f"CREATE TABLE smv_dim_join (et STRING, category STRING) "
            f"USING parquet LOCATION '{dloc}'"
        )
        spark.sql(
            f"CREATE TABLE smv_dim_join2 (uk BIGINT, cohort STRING) "
            f"USING parquet LOCATION '{d2loc}'"
        )
        engine.execute(
            "INSERT INTO smv_dim_join VALUES ('click', 'engage'), "
            "('view', 'engage'), ('purchase', 'convert')"
        )
        engine.execute(
            "INSERT INTO smv_dim_join2 SELECT id, "
            "CASE WHEN id < 3 THEN 'early' ELSE 'late' END "
            "FROM RANGE(5) t(id)"
        )
        engine.execute(
            f"INSERT INTO {base} VALUES "
            f"(1000001, TIMESTAMP '2025-01-01 00:00:00', 1, 'click', "
            f"1.0, '{{}}')"
        )
        q_def = (
            f"SELECT category, cohort, count(*) AS n, sum(value) AS total "
            f"FROM {base} JOIN smv_dim_join ON event_type = et "
            f"JOIN smv_dim_join2 ON user_id = uk "
            f"GROUP BY category, cohort"
        )
        matview.create(
            spark, view, q_def,
            location=tempfile.mkdtemp(prefix="swl_smvj_v_"),
        )
        try:
            _write_events(event_dir, "jwave2.json", range(500, 560))
            _write_events(event_dir, "jwave3.json", range(600, 630))
            events = stream_events_from_directory(
                spark, event_dir, max_files_per_trigger=1
            )
            q = maintain_matview_stream(
                events, base, view, tempfile.mkdtemp(prefix="swl_smvj_ck_")
            )
            assert q.awaitTermination(180)
            spark.catalog.refreshTable(base)
            spark.catalog.refreshTable(view)
            got = {
                (r.category, r.cohort, r.n, round(r.total, 6))
                for r in spark.table(view).collect()
            }
            assert got == {
                (r.category, r.cohort, r.n, round(r.total, 6))
                for r in spark.sql(q_def).collect()
            }
            assert matview.refresh_incremental(spark, view) == 0
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {base}")
            spark.sql("DROP TABLE IF EXISTS smv_dim_join")
            spark.sql("DROP TABLE IF EXISTS smv_dim_join2")

    def test_skipped_refresh_self_heals(self, spark, engine, event_dir):
        import tempfile

        from swanlake_spark.streaming import (
            maintain_matview_stream,
            streaming_append_to_table,
        )

        base, view = self._setup(spark, engine, "heal")
        try:
            # wave 1 appends WITHOUT view maintenance (simulates a crash
            # after the append, before refresh)
            events = stream_events_from_directory(
                spark, event_dir, max_files_per_trigger=1
            )
            q = streaming_append_to_table(
                events, base, tempfile.mkdtemp(prefix="swl_smv_ck1_")
            )
            assert q.awaitTermination(120)
            stale = self._view_rows(spark, view)
            assert stale != self._recompute(spark, base)
            # wave 2 runs maintained: its first fold spans BOTH deltas
            _write_events(event_dir, "heal2.json", range(400, 440))
            events2 = stream_events_from_directory(
                spark, event_dir, max_files_per_trigger=4
            )
            q2 = maintain_matview_stream(
                events2, base, view, tempfile.mkdtemp(prefix="swl_smv_ck2_")
            )
            assert q2.awaitTermination(180)
            assert self._view_rows(spark, view) == self._recompute(
                spark, base
            )
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {base}")


class TestStreamingHeavyHitters:
    """heavy_hitters_stream: cross-batch count-min candidates. The
    contract is no-false-negatives (candidates is a superset of the
    true heavy set) with upper-bound estimates; at sane geometry the
    candidate VALUES equal the exact heavy set."""

    def _docs_stream(self, spark, d, files):
        import json as _json
        import os

        for fname, vals in files.items():
            with open(os.path.join(d, fname), "w") as f:
                for i, v in enumerate(vals):
                    f.write(_json.dumps({
                        "event_id": i, "ts": "2025-01-01T00:00:00.000Z",
                        "user_id": 0, "event_type": v, "value": 0.0,
                        "props": "{}",
                    }) + "\n")
        return stream_events_from_directory(
            spark, d, max_files_per_trigger=1
        )

    def test_cross_batch_accumulation(self, spark):
        import tempfile

        from swanlake_spark.streaming import (
            heavy_hitters_stream,
            read_candidates,
        )

        d = tempfile.mkdtemp(prefix="swl_hhs_src_")
        # 'hot' is NOT heavy in any single batch (20+20+20) but is
        # across the stream; 'cold*' values never reach the threshold
        files = {
            "b1.json": ["hot"] * 20 + [f"cold{i}" for i in range(30)],
            "b2.json": ["hot"] * 20 + ["warm"] * 45,
            "b3.json": ["hot"] * 20 + ["warm"] * 5,
        }
        state = tempfile.mkdtemp(prefix="swl_hhs_state_")
        q = heavy_hitters_stream(
            self._docs_stream(spark, d, files), "event_type", 50,
            state, tempfile.mkdtemp(prefix="swl_hhs_ck_"),
        )
        assert q.awaitTermination(180)
        got = {
            r["value"]: r["est"]
            for r in read_candidates(spark, state).collect()
        }
        assert set(got) == {"hot", "warm"}
        # upper bounds: est >= true
        assert got["hot"] >= 60 and got["warm"] >= 50

    def test_no_false_negatives_under_collisions(self, spark):
        import tempfile

        from swanlake_spark.streaming import (
            heavy_hitters_stream,
            read_candidates,
        )

        d = tempfile.mkdtemp(prefix="swl_hhs2_src_")
        files = {
            "b1.json": [f"v{i % 40}" for i in range(400)],
            "b2.json": [f"v{i % 40}" for i in range(400)],
        }
        state = tempfile.mkdtemp(prefix="swl_hhs2_state_")
        q = heavy_hitters_stream(
            self._docs_stream(spark, d, files), "event_type", 20,
            state, tempfile.mkdtemp(prefix="swl_hhs2_ck_"),
            d=2, w=8,  # nearly everything collides
        )
        assert q.awaitTermination(180)
        cands = {
            r["value"] for r in read_candidates(spark, state).collect()
        }
        # every one of the 40 values hits 20 across the stream
        assert cands >= {f"v{i}" for i in range(40)}


class TestStreamingKmvDistinct:
    """kmv_distinct_stream: cross-batch KMV sketch. The fold is a set
    union of hash minima, so the streamed sketch must equal the batch
    sketch of the concatenated input BIT-EXACTLY — including replays
    (idempotent merge), and in the exact regime the estimate equals
    the true distinct count."""

    def _docs_stream(self, spark, d, files):
        import json as _json
        import os

        for fname, vals in files.items():
            with open(os.path.join(d, fname), "w") as f:
                for i, v in enumerate(vals):
                    f.write(_json.dumps({
                        "event_id": i, "ts": "2025-01-01T00:00:00.000Z",
                        "user_id": 0, "event_type": v, "value": 0.0,
                        "props": "{}",
                    }) + "\n")
        return stream_events_from_directory(
            spark, d, max_files_per_trigger=1
        )

    def test_streamed_equals_batch_sketch(self, spark):
        import tempfile

        from swanlake_spark.operators import sketch
        from swanlake_spark.streaming import (
            kmv_distinct_stream,
            read_kmv,
        )

        d = tempfile.mkdtemp(prefix="swl_kmvs_src_")
        files = {
            "b1.json": [f"u{i}" for i in range(200)],
            "b2.json": [f"u{i}" for i in range(100, 350)],  # 150 new
            "b3.json": [f"u{i}" for i in range(300, 400)],  # 50 new
        }
        state = tempfile.mkdtemp(prefix="swl_kmvs_state_")
        k = 64  # estimation regime: 400 distinct >> k
        q = kmv_distinct_stream(
            self._docs_stream(spark, d, files), "event_type",
            state, tempfile.mkdtemp(prefix="swl_kmvs_ck_"), k=k,
        )
        assert q.awaitTermination(180)
        got = read_kmv(spark, state, k).collect()[0]
        all_vals = spark.createDataFrame(
            [(v,) for vs in files.values() for v in vs], ["event_type"]
        )
        want = sketch.kmv_sketch(all_vals, "event_type", k=k).collect()[0]
        assert got["kmv"] == want["kmv"]  # bit-exact state parity
        # estimator sanity at 4-sigma (~1/sqrt(62) RSE)
        assert abs(got["distinct_est"] - 400) / 400 < 0.55

    def test_exact_regime_counts_exactly_per_group(self, spark):
        import tempfile

        from swanlake_spark.streaming import (
            kmv_distinct_stream,
            read_kmv,
        )

        d = tempfile.mkdtemp(prefix="swl_kmvg_src_")
        # group key = user_id parity via event_type prefix: use
        # event_type itself as group ('a:*' vs 'b:*' values)
        files = {
            "b1.json": [f"a:{i % 7}" for i in range(40)],
            "b2.json": [f"a:{i % 13}" for i in range(40)]
            + [f"b:{i % 5}" for i in range(20)],
        }
        from pyspark.sql import functions as F

        state = tempfile.mkdtemp(prefix="swl_kmvg_state_")
        src = self._docs_stream(spark, d, files).withColumn(
            "grp", F.substring("event_type", 1, 1)
        )
        q = kmv_distinct_stream(
            src, "event_type", state,
            tempfile.mkdtemp(prefix="swl_kmvg_ck_"), k=1024, by=["grp"],
        )
        assert q.awaitTermination(180)
        got = {
            r["grp"]: int(r["distinct_est"])
            for r in read_kmv(spark, state, 1024).collect()
        }
        assert got == {"a": 13, "b": 5}


class TestNativeSessionWindows:
    """session_stats_stream: Spark's built-in F.session_window path.
    Must produce the same closed sessions as the applyInPandasWithState
    sessionizer AND the batch session_stats operator — one gap
    semantics, three implementations."""

    _BASE = [
        {"event_id": 1, "ts": "2025-01-01T00:00:00.000Z", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2025-01-01T00:02:00.000Z", "user_id": 1,
         "event_type": "view", "value": 2.0, "props": "{}"},
        {"event_id": 3, "ts": "2025-01-01T00:12:30.000Z", "user_id": 1,
         "event_type": "click", "value": 4.0, "props": "{}"},
        {"event_id": 4, "ts": "2025-01-01T00:01:00.000Z", "user_id": 2,
         "event_type": "click", "value": 5.0, "props": "{}"},
        {"event_id": 5, "ts": "2025-01-01T00:04:00.000Z", "user_id": 2,
         "event_type": "view", "value": 6.0, "props": "{}"},
        {"event_id": 6, "ts": "2025-01-01T00:05:30.000Z", "user_id": 2,
         "event_type": "view", "value": 7.0, "props": "{}"},
    ]

    def test_matches_batch_session_stats(self, spark):
        import json
        import os
        import tempfile

        from pyspark.sql import functions as F

        from swanlake_spark.operators import events as EV
        from swanlake_spark.streaming.ingest import (
            session_stats_stream,
            stream_events_from_directory,
        )

        d = tempfile.mkdtemp(prefix="swl_nsess_")
        with open(os.path.join(d, "b1.json"), "w") as f:
            for r in self._BASE:
                f.write(json.dumps(r) + "\n")
        # sentinel closes every real session
        with open(os.path.join(d, "b2.json"), "w") as f:
            f.write(json.dumps(
                {"event_id": 99, "ts": "2025-01-01T12:00:00.000Z",
                 "user_id": 9, "event_type": "click", "value": 0.0,
                 "props": "{}"}
            ) + "\n")
        events = stream_events_from_directory(
            spark, d, max_files_per_trigger=1
        )
        out = session_stats_stream(
            events, gap="5 minutes", watermark="1 minute"
        )
        name = "nsess_out"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        got = {
            (r.user_id, str(r.session_start), str(r.session_end),
             r.n_events, r.sum_value)
            for r in spark.sql(f"SELECT * FROM {name}").collect()
            if r.user_id in (1, 2)
        }
        bdf = spark.createDataFrame(
            [(r["user_id"], r["ts"], r["value"]) for r in self._BASE],
            "user_id long, ts string, value double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        # batch oracle: session_stats for the frame, sessionize_batch
        # for the per-session value sums
        want = {
            (r["user_id"], str(r["start"]), str(r["end"]),
             r["n_events"], r["sum_v"])
            for r in EV.session_stats(bdf, gap_minutes=5.0)
            .join(
                EV.sessionize_batch(bdf, gap_minutes=5.0)
                .groupBy("user_id", "session_id")
                .agg(F.sum("value").alias("sum_v")),
                ["user_id", "session_id"],
            )
            .collect()
        }
        assert got == want and len(got) == 3


class TestStreamingHistogram:
    """histogram_stream: cross-batch fold is one elementwise add, so
    the streamed counts must equal the batch sketch of the
    concatenated input BIT-EXACTLY."""

    def test_streamed_counts_equal_batch_sketch(self, spark):
        import tempfile

        from pyspark.sql import functions as F

        from swanlake_spark.operators import sketch
        from swanlake_spark.streaming.sketch import (
            histogram_stream,
            read_histogram,
        )

        d = tempfile.mkdtemp(prefix="swl_hist_src_")
        waves = {
            "b1.json": [float(i % 50) for i in range(300)],
            "b2.json": [float(i % 80) for i in range(200)],
            "b3.json": [float(99 - i % 100) for i in range(150)],
        }
        for fname, vals in waves.items():
            with open(os.path.join(d, fname), "w") as f:
                for i, v in enumerate(vals):
                    f.write(json.dumps({
                        "event_id": i, "ts": "2025-01-01T00:00:00.000Z",
                        "user_id": 0, "event_type": "x", "value": v,
                        "props": "{}",
                    }) + "\n")
        state = tempfile.mkdtemp(prefix="swl_hist_state_")
        q = histogram_stream(
            stream_events_from_directory(spark, d, max_files_per_trigger=1),
            "value", 0.0, 100.0, state,
            tempfile.mkdtemp(prefix="swl_hist_ck_"), bins=64,
        )
        assert q.awaitTermination(180)
        got = read_histogram(spark, state, quantiles=[0.5]).collect()[0]
        all_vals = spark.createDataFrame(
            [(v,) for vs in waves.values() for v in vs], ["value"]
        )
        want = sketch.histogram_sketch(
            all_vals, "value", bins=64, lo=0.0, hi=100.0
        ).collect()[0]
        assert got["counts"] == want["counts"]  # bit-exact fold
        # the streamed quantile carries the sketch's error contract
        exact = all_vals.selectExpr(
            "percentile(value, 0.5) AS m"
        ).collect()[0]["m"]
        assert abs(got["q_50"] - exact) <= 100.0 / 64 + 1e-9

    def test_replay_is_exact_noop(self, spark):
        """REAL at-least-once replay: delete the checkpoint's newest
        commit marker and restart the query — Structured Streaming
        re-delivers the last batch with the same batch_id. The
        high-water-mark guard must make the re-fold a no-op, so the
        state stays BIT-EXACT vs the batch sketch (the r7 contract let
        replays inflate bin mass; this pins the upgrade)."""
        import os as _os
        import tempfile

        from swanlake_spark.operators import sketch
        from swanlake_spark.streaming.sketch import (
            histogram_stream,
            read_histogram,
        )

        d = tempfile.mkdtemp(prefix="swl_hrp_src_")
        waves = {
            "b1.json": [float(i % 50) for i in range(200)],
            "b2.json": [float(i % 90) for i in range(150)],
        }
        for fname, vals in waves.items():
            with open(os.path.join(d, fname), "w") as f:
                for i, v in enumerate(vals):
                    f.write(json.dumps({
                        "event_id": i, "ts": "2025-01-01T00:00:00.000Z",
                        "user_id": 0, "event_type": "x", "value": v,
                        "props": "{}",
                    }) + "\n")
        state = tempfile.mkdtemp(prefix="swl_hrp_state_")
        ck = tempfile.mkdtemp(prefix="swl_hrp_ck_")

        def run(ckdir):
            q = histogram_stream(
                stream_events_from_directory(
                    spark, d, max_files_per_trigger=1
                ),
                "value", 0.0, 100.0, state, ckdir, bins=32,
            )
            assert q.awaitTermination(180)

        run(ck)
        all_vals = spark.createDataFrame(
            [(v,) for vs in waves.values() for v in vs], ["value"]
        )
        want = sketch.histogram_sketch(
            all_vals, "value", bins=32, lo=0.0, hi=100.0
        ).collect()[0]["counts"]
        assert read_histogram(spark, state).collect()[0]["counts"] == want
        # crash simulation: the last batch committed its state publish
        # but "lost" its checkpoint commit → the restart replays that
        # batch with the same batch_id. The checkpoint is COPIED to a
        # fresh path first: Spark caches metadata logs per checkpoint
        # path in the JVM, so mutating the original dir in place trips
        # its concurrent-use detector instead of simulating a restart.
        import shutil as _sh

        import pytest

        ck2 = ck + "_replayed"
        _sh.copytree(ck, ck2)
        commits = sorted(
            int(n) for n in _os.listdir(f"{ck2}/commits") if n.isdigit()
        )
        _os.unlink(f"{ck2}/commits/{commits[-1]}")
        crc = f"{ck2}/commits/.{commits[-1]}.crc"  # Hadoop checksum twin
        if _os.path.exists(crc):
            _os.unlink(crc)
        # the state is BOUND to its original checkpoint (r8 _ckpt
        # marker): a different checkpoint path fails loud instead of
        # silently misfolding
        with pytest.raises(Exception, match="bound to checkpoint"):
            run(ck2)
        # re-bind to the copied checkpoint (the copy IS the same
        # logical query for this replay simulation), then the
        # high-water mark makes the replayed batch an exact no-op
        with open(f"{state}/_ckpt", "w") as f:
            f.write(ck2)
        run(ck2)
        got = read_histogram(spark, state).collect()[0]["counts"]
        assert got == want  # replay did not re-add the batch's mass

    def test_checkpoint_reset_against_stale_state_fails_loud(self, spark):
        """A FRESH checkpoint (batch ids restart at 0) pointed at an
        EXISTING state root is not a replay — treating it as one would
        silently drop every new batch. _already_folded must raise
        (review r8)."""
        import tempfile

        import pytest

        from swanlake_spark.streaming.sketch import (
            _already_folded,
            _publish,
        )

        root = tempfile.mkdtemp(prefix="swl_hwm_") + "/hist"
        df = spark.createDataFrame([(1,)], ["x"])
        _publish(spark, root, df, 5)
        assert _already_folded(spark, root, 5) is True  # replay: no-op
        assert _already_folded(spark, root, 6) is False  # next batch
        with pytest.raises(ValueError, match="fresh state_dir"):
            _already_folded(spark, root, 0)  # checkpoint reset
