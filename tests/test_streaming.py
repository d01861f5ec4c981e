"""Streaming-mode tests (SURVEY.md §5): size-capped batching, the
foreachBatch re-chunker and the metadata-sharded batcher.  The window,
session, hopping and dedup twins run through the harness
(``tests/stream_twins.py``); their names below are cases of it."""

from __future__ import annotations

import time

import pytest

from otel_arrow_collector_spark.sources import load_table
from otel_arrow_collector_spark.streaming import (MetadataShardedBatcher,
                                                  size_capped_chunks,
                                                  stream_in_batches)
from tests import stream_twins as st
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def stream_dir(spark):
    """The events feed as 4 files — a replayable file 'stream'."""
    d, rows = st.fresh_dir("events_stream"), st.event_rows(spark)
    st.write_files(d, st.EVENTS, [rows[i::4] for i in range(4)])
    return d


def _drain_until_idle(q, max_wait=120.0, settle_s=3.0):
    """Wait until the stream has drained its input, then stop it.

    The sharded-batcher queries never self-terminate even under
    availableNow — applyInPandasWithState keeps scheduling empty batches
    to fire pending processing-time timers — so a bare awaitTermination
    waits out its full timeout.  Instead: poll lastProgress until no-input
    batches have run for ``settle_s`` (long enough for the 50ms flush
    timers to fire), then stop.  Query errors are re-raised.
    """
    deadline = time.time() + max_wait
    idle_since = None
    try:
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
    finally:
        q.stop()
    if exc is not None:
        raise exc


def test_streaming_windowed_counts_match_batch(spark):
    """The tumbling window converges to the batch Q31 answer."""
    st.assert_twin(spark, "windowed_counts", "split0", "split1")


def test_streaming_sessionization(spark):
    """Session windows equal the batch answer; q32's per-user counts
    agree."""
    st.assert_twin(spark, "sessionized", "split0", "split1", "check")


def test_stream_dedup_drops_redelivered(spark):
    """Every file delivered twice, as after a crash replay: each
    event_id is emitted once."""
    st.assert_twin(spark, "dedup", "split0", "redelivery")


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
    stream = st.source(spark, stream_dir, st.EVENTS)
    delivered: list[int] = []

    def sink(chunk, batch_id, idx):
        delivered.append(chunk.count())

    st.finish(stream_in_batches(stream, sink, send_batch_max_size=400,
                                checkpoint=str(tmp_path / "ck4"),
                                available_now=True))
    total = load_table(spark, SF_SMALL, "events").count()
    assert sum(delivered) == total
    assert max(delivered) <= 400


@pytest.mark.slow
def test_sharded_batcher_size_trigger(spark, stream_dir, tmp_path):
    """Per-shard (event_type) batchers emit complete batches of exactly
    send_batch_size; remainders stay pending (flushed by timeout in a live
    stream)."""
    stream = st.source(spark, stream_dir, st.EVENTS)
    # timeout effectively disabled -> pure size-trigger behavior
    batcher = MetadataShardedBatcher(["event_type"], send_batch_size=100,
                                     cardinality_limit=100,
                                     flush_timeout_ms=3_600_000)
    out: list = []
    q = batcher.run(stream, sink=lambda pdf: out.append(pdf),
                    checkpoint=str(tmp_path / "ck5"))
    _drain_until_idle(q)
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
    stream = st.source(spark, stream_dir, st.EVENTS)
    batcher = MetadataShardedBatcher(["event_type"], send_batch_size=100,
                                     cardinality_limit=100,
                                     flush_timeout_ms=50)
    out: list = []
    q = batcher.run(stream, sink=lambda pdf: out.append(pdf),
                    checkpoint=str(tmp_path / "ck7"))
    _drain_until_idle(q)
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
    stream = st.source(spark, stream_dir, st.EVENTS)
    batcher = MetadataShardedBatcher(["event_type"], send_batch_size=10,
                                     cardinality_limit=2)
    q = batcher.run(stream, checkpoint=str(tmp_path / "ck6"))
    with pytest.raises(StreamingQueryException, match="too many metadata-key"):
        st.finish(q)


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
    stream = st.source(spark, stream_dir, st.EVENTS)
    batcher = MetadataShardedBatcher(["event_type"], send_batch_size=100,
                                     cardinality_limit=100,
                                     flush_timeout_ms=3_600_000)
    q = batcher.run(stream, checkpoint=str(tmp_path / "ck8"))
    _drain_until_idle(q)   # raises if the guard called toPandas


def test_hopping_counts_stream_matches_batch_and_q47(spark):
    """The hopping-window twin: streamed counts == batch counts, and
    both agree with q47's explicit explode plan."""
    st.assert_twin(spark, "hopping", "split0", "split1", "check")
