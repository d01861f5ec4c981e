"""Streaming-mode tests (SURVEY.md §5: file sources + availableNow
triggers asserting window / session / dedup / batching semantics)."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from otel_arrow_collector_spark.sources import load_table
from otel_arrow_collector_spark.streaming import (MetadataShardedBatcher,
                                                  TooManyShardsError,
                                                  dedup_stream,
                                                  size_capped_chunks,
                                                  stream_in_batches,
                                                  sessionized,
                                                  windowed_counts)
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def stream_dir(spark):
    """events written as 4 files — a replayable file 'stream'."""
    d = tempfile.mkdtemp(prefix="events_stream_")
    (load_table(spark, SF_SMALL, "events")
     .repartition(4).write.mode("overwrite").parquet(d))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _read_stream(spark, stream_dir, files_per_trigger=1):
    schema = load_table(spark, SF_SMALL, "events") \
        .limit(0)._jdf.schema().toDDL()
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", files_per_trigger)
            .parquet(stream_dir))


def _drain(q, max_wait=120.0, settle_s=3.0):
    """Wait until the stream has drained its input, then stop it.

    The sharded-batcher queries never self-terminate even under
    availableNow — applyInPandasWithState keeps scheduling empty batches
    to fire pending processing-time timers — so a bare awaitTermination
    waits out its full timeout.  Instead: poll lastProgress until no-input
    batches have run for ``settle_s`` (long enough for the 50ms flush
    timers to fire), then stop.  Query errors are re-raised.
    """
    import time
    deadline = time.time() + max_wait
    idle_since = None
    while time.time() < deadline:
        if not q.isActive or q.exception() is not None:
            break
        p = q.lastProgress
        if p and p.get("numInputRows", 0) == 0:
            idle_since = idle_since or time.time()
            if time.time() - idle_since >= settle_s:
                break
        else:
            idle_since = None
        time.sleep(0.25)
    exc = q.exception()
    q.stop()
    if exc is not None:
        raise exc


def _run_to_memory(df, name, ckpt, output_mode="append"):
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode(output_mode)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    try:
        # a run still going would leave partial output to assert on
        assert q.awaitTermination(120), f"stream {name!r} still running"
    finally:
        q.stop()


def test_streaming_windowed_counts_match_batch(spark, stream_dir, tmp_path):
    """The streaming tumbling window must converge to the batch Q31 answer
    once all files are processed.

    Files arrive round-robin (not time-ordered), so a tight watermark with
    per-file triggers would *correctly* close windows early — real late-data
    semantics.  Draining in one trigger keeps every window complete, which
    is what makes exact equality a valid assertion.
    """
    stream = _read_stream(spark, stream_dir, files_per_trigger=4)
    agg = windowed_counts(stream, watermark="0 seconds")
    _run_to_memory(agg, "win_counts", str(tmp_path / "ck"), "append")
    got = {(r.w_start, r.n, r.s)
           for r in spark.sql("SELECT * FROM win_counts").collect()}
    batch = {(r.w_start, r.n, r.s)
             for r in windowed_counts(
                 load_table(spark, SF_SMALL, "events")).collect()}
    # append-mode withholds windows not yet closed by the final watermark
    # (the one containing max ts); everything emitted must match exactly.
    assert got <= batch
    assert len(batch) - len(got) <= 1


def test_streaming_sessionization(spark, stream_dir, tmp_path):
    stream = _read_stream(spark, stream_dir, files_per_trigger=4)
    sess = sessionized(stream, watermark="0 seconds")
    _run_to_memory(sess, "sessions", str(tmp_path / "ck2"), "append")
    got = spark.sql(
        "SELECT user_id, COUNT(*) AS n_sessions FROM sessions GROUP BY user_id")
    got = {(r.user_id, r.n_sessions) for r in got.collect()}
    from otel_arrow_collector_spark.operators.relational import QUERIES
    want = {(r.user_id, r.n_sessions)
            for r in QUERIES["q32_sessionization"](spark, SF_SMALL).collect()}
    overlap = got & want
    assert len(overlap) >= 0.9 * len(want)   # open sessions at stream end differ


def test_stream_dedup_drops_redelivered(spark, tmp_path):
    """Redelivery (union of the stream with itself, as after a crash
    replay) must be deduped by event_id within the watermark.

    The 200 events span 5.7 days and each of the 6 files holds events
    from the whole span, so the watermark must cover the span: with a
    shorter one, every row of the third trigger older than the second
    trigger's watermark is dropped as late, and the count then depends
    on which files each trigger takes (142 when both copies of a third
    of the ids fall in the last two files)."""
    ev = load_table(spark, SF_SMALL, "events").limit(200)
    d = str(tmp_path / "dup_stream")
    ev.unionAll(ev).repartition(6).write.parquet(d)
    schema = ev.limit(0)._jdf.schema().toDDL()
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 2).parquet(d))
    deduped = dedup_stream(stream, ["event_id"], watermark="7 days")
    _run_to_memory(deduped, "deduped", str(tmp_path / "ck3"))
    assert spark.sql("SELECT COUNT(DISTINCT event_id) c FROM deduped").first().c \
        == spark.sql("SELECT COUNT(*) c FROM deduped").first().c == 200


def test_size_capped_chunks(spark):
    ev = load_table(spark, SF_SMALL, "events").limit(950)
    with size_capped_chunks(ev, 300) as chunks:
        sizes = [c.count() for c in chunks]
    assert sum(sizes) == 950
    assert max(sizes) <= 300          # HARD cap (splitTraces guarantee)
    assert len(chunks) == 4           # exactly ceil(950/300) chunks


def test_size_capped_chunks_hard_cap_skewed_partitions(spark):
    """The cap holds for any input partitioning (round-robin repartition
    only bounds the average — this is the regression ADVICE flagged)."""
    base = spark.range(0, 20, 1, 8).toDF("id")   # 20 rows over 8 partitions
    with size_capped_chunks(base, 7) as chunks:
        sizes = sorted(c.count() for c in chunks)
    assert sum(sizes) == 20
    assert max(sizes) <= 7
    assert sizes == [6, 7, 7]


def test_size_capped_chunks_single_source_pass(spark, tmp_path):
    """Chunking + consuming all chunks executes the source exactly once
    (the count job materializes the cache; chunk filters read it back)."""
    marker = tmp_path / "passes"
    marker.mkdir()

    def tag(batches):
        import uuid
        (marker / uuid.uuid4().hex).touch()
        for b in batches:
            yield b

    base = spark.range(0, 1000, 1, 8).mapInPandas(tag, "id long")
    with size_capped_chunks(base, 300) as chunks:
        total = sum(c.count() for c in chunks)
    assert total == 1000
    assert len(list(marker.iterdir())) == 8   # 8 partitions, one pass each


def test_stream_in_batches_size_cap(spark, stream_dir, tmp_path):
    """foreachBatch re-chunking: every delivered chunk respects
    send_batch_max_size (batch_processor max-size split semantics)."""
    stream = _read_stream(spark, stream_dir, files_per_trigger=2)
    delivered: list[int] = []

    def sink(chunk, batch_id, idx):
        delivered.append(chunk.count())

    q = stream_in_batches(stream, sink, send_batch_max_size=400,
                          checkpoint=str(tmp_path / "ck4"),
                          available_now=True)
    q.awaitTermination(120)
    total = load_table(spark, SF_SMALL, "events").count()
    assert sum(delivered) == total
    assert max(delivered) <= 400


@pytest.mark.slow
def test_sharded_batcher_size_trigger(spark, stream_dir, tmp_path):
    """Per-shard (event_type) batchers emit complete batches of exactly
    send_batch_size; remainders stay pending (flushed by timeout in a live
    stream)."""
    stream = _read_stream(spark, stream_dir, files_per_trigger=4)
    # timeout effectively disabled -> pure size-trigger behavior
    batcher = MetadataShardedBatcher(["event_type"], send_batch_size=100,
                                     cardinality_limit=100,
                                     flush_timeout_ms=3_600_000)
    out: list = []
    q = batcher.run(stream, sink=lambda pdf: out.append(pdf),
                    checkpoint=str(tmp_path / "ck5"))
    _drain(q)
    import pandas as pd
    emitted = pd.concat(out) if out else pd.DataFrame(
        columns=["event_type", "batch_rows", "complete"])
    per_type = (load_table(spark, SF_SMALL, "events")
                .groupBy("event_type").count().collect())
    for r in per_type:
        full = emitted[emitted.event_type == r.event_type]
        assert (full.batch_rows == 100).all()
        assert len(full) == r["count"] // 100, r
        assert full.complete.all()


@pytest.mark.slow
def test_sharded_batcher_timeout_flush(spark, stream_dir, tmp_path):
    """With a short flush timeout, partial batches (complete=False) may be
    flushed between micro-batches — the shard-timer semantics.  Invariants:
    complete batches are exactly send_batch_size, partials are smaller,
    and nothing is emitted twice (sum <= per-shard totals)."""
    stream = _read_stream(spark, stream_dir, files_per_trigger=1)
    batcher = MetadataShardedBatcher(["event_type"], send_batch_size=100,
                                     cardinality_limit=100,
                                     flush_timeout_ms=50)
    out: list = []
    q = batcher.run(stream, sink=lambda pdf: out.append(pdf),
                    checkpoint=str(tmp_path / "ck7"))
    _drain(q)
    import pandas as pd
    emitted = pd.concat(out)
    assert (emitted.loc[emitted.complete, "batch_rows"] == 100).all()
    assert (emitted.loc[~emitted.complete, "batch_rows"] < 100).all()
    totals = {r.event_type: r["count"] for r in
              load_table(spark, SF_SMALL, "events")
              .groupBy("event_type").count().collect()}
    for et, grp in emitted.groupby("event_type"):
        assert grp.batch_rows.sum() <= totals[et]


def test_sharded_batcher_cardinality_cap(spark, stream_dir, tmp_path):
    """errTooManyBatchers: >limit distinct metadata combinations fail the
    query (refusal, not silent drop)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException
    stream = _read_stream(spark, stream_dir, files_per_trigger=4)
    batcher = MetadataShardedBatcher(["event_type"], send_batch_size=10,
                                     cardinality_limit=2)
    q = batcher.run(stream, checkpoint=str(tmp_path / "ck6"))
    with pytest.raises(StreamingQueryException, match="too many metadata-key"):
        q.awaitTermination(120)


@pytest.mark.slow
def test_sharded_batcher_guard_never_collects_batches(
        spark, stream_dir, tmp_path, monkeypatch):
    """The cardinality guard must count distinct keys distributively —
    without a sink it may never materialize a micro-batch to the driver
    (batch_processor.go:277-330's cap tracks shard keys, not data; a full
    toPandas of a big shard batch would OOM the driver at scale)."""
    from pyspark.sql import DataFrame

    def _boom(self, *a, **k):
        raise AssertionError(
            "guard materialized a full micro-batch via toPandas()")

    monkeypatch.setattr(DataFrame, "toPandas", _boom)
    stream = _read_stream(spark, stream_dir, files_per_trigger=4)
    batcher = MetadataShardedBatcher(["event_type"], send_batch_size=100,
                                     cardinality_limit=100,
                                     flush_timeout_ms=3_600_000)
    q = batcher.run(stream, checkpoint=str(tmp_path / "ck8"))
    _drain(q)   # raises if the guard called toPandas


def test_hopping_counts_stream_matches_batch_and_q47(spark, tmp_path):
    """The hopping-window streaming twin: streamed counts == batch counts
    on the same frame, and both agree with q47's explicit explode plan
    (windows starting on the half-hour grid)."""
    import shutil
    import tempfile

    from otel_arrow_collector_spark.operators.relational import QUERIES
    from otel_arrow_collector_spark.sources.tables import load_table
    from otel_arrow_collector_spark.streaming.windows import hopping_counts
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    batch = hopping_counts(ev, "1 hour", "30 minutes")

    src = tempfile.mkdtemp(prefix="hop_src_")
    try:
        ev.select("ts", "event_type", "value") \
          .coalesce(2).write.mode("append").parquet(src)
        schema = ev.select("ts", "event_type", "value") \
                   .limit(0)._jdf.schema().toDDL()
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (hopping_counts(stream, "1 hour", "30 minutes",
                            watermark="0 seconds")
             .writeStream.format("memory").queryName("hop_stream")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt_hop"))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        got = spark.table("hop_stream")
        key = ["event_type", "w_start", "n"]
        got_set = {tuple(r) for r in got.select(*key).collect()}
        batch_set = {tuple(r) for r in batch.select(*key).collect()}
        # append mode withholds windows still open at the final watermark
        # (w_end > max event time); every EMITTED window must match batch,
        # and every batch window closed by the watermark must be emitted
        assert got_set <= batch_set
        max_ts = ev.agg(F.max("ts")).first()[0]
        closed = {tuple(r) for r in
                  batch.filter(F.col("w_end") <= F.lit(max_ts))
                       .select(*key).collect()}
        assert closed <= got_set and len(got_set) >= len(closed) > 0

        # agreement with q47's integer half-hour-slot plan: per (type,
        # slot) the q47 count equals the window starting at slot*30min
        q47 = {(r.event_type, r.window_slot): r.n
               for r in QUERIES["q47_hopping_window"](
                   spark, SF_SMALL).collect()}
        import calendar
        for r in got.collect():
            slot = calendar.timegm(r.w_start.timetuple()) // 1800
            assert q47[(r.event_type, slot)] == r.n
    finally:
        shutil.rmtree(src, ignore_errors=True)
