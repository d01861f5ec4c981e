"""Scraper controller (pull-based periodic source,
scrapercontroller.go:67-125), Arrow-first exporter downgrade
(arrow/exporter.go:120-172), and checkpoint recovery (persistent queue
semantics, persistent_storage.go:278-345)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from otel_arrow_collector_spark.exporters.arrow_exporter import (
    ArrowFirstExporter, ArrowUnsupportedError, DowngradeDisabledError)
from otel_arrow_collector_spark.model import generate_metrics
from otel_arrow_collector_spark.sources import load_table
from otel_arrow_collector_spark.streaming.scraper import ScraperController
from tests.conftest import SF_SMALL


# ---------------------------------------------------------------------------
# scraper controller
# ---------------------------------------------------------------------------

def test_scraper_ticks_and_counts(spark):
    ctrl = ScraperController(collection_interval=0.01)
    ctrl.add_scraper("mem", lambda: generate_metrics(spark, 2))
    got = []
    ctrl.run_ticks(3, sink=lambda df: got.append(df.count()))
    assert len(got) == 3 and all(n > 0 for n in got)
    assert ctrl.obsreport.get("mem", "metrics", "scraped_metric_points") \
        == sum(got)


def test_scraper_error_is_nonfatal(spark):
    """A failing scraper is counted and skipped; healthy ones still emit
    (scraperhelper partial-error semantics)."""
    ctrl = ScraperController()

    def bad():
        raise RuntimeError("scrape target down")

    ctrl.add_scraper("bad", bad)
    ctrl.add_scraper("good", lambda: generate_metrics(spark, 1))
    got = []
    ctrl.run_ticks(2, sink=lambda df: got.append(df.count()))
    assert len(got) == 2
    assert ctrl.obsreport.get("bad", "metrics", "errored_metric_points") == 2
    assert ctrl.obsreport.get("good", "metrics", "scraped_metric_points") > 0


def test_scraper_duplicate_id_rejected(spark):
    ctrl = ScraperController()
    ctrl.add_scraper("x", lambda: generate_metrics(spark, 1))
    with pytest.raises(ValueError, match="duplicate"):
        ctrl.add_scraper("x", lambda: generate_metrics(spark, 1))


# ---------------------------------------------------------------------------
# Arrow-first exporter: downgrade semantics
# ---------------------------------------------------------------------------

def _sink_recorder():
    calls = {"arrow": [], "unary": []}

    def arrow_push(frames_df):
        calls["arrow"].append(frames_df.agg(F.sum("n_rows")).first()[0])

    def unary_push(df):
        calls["unary"].append(df.count())
    return calls, arrow_push, unary_push


def test_arrow_path_preferred(spark):
    calls, arrow_push, unary_push = _sink_recorder()
    exp = ArrowFirstExporter(arrow_push, unary_push, num_streams=2)
    td = load_table(spark, SF_SMALL, "events").limit(10)
    assert exp.send(td) == "arrow"
    assert calls["arrow"] == [10] and calls["unary"] == []
    assert not exp.downgraded


def test_downgrade_after_streams_exhausted(spark):
    """Each ArrowUnsupportedError burns one stream; after num_streams
    failures the SAME batch goes out unary — nothing is dropped."""
    calls, _, unary_push = _sink_recorder()

    def refuse(frames_df):
        raise ArrowUnsupportedError("endpoint speaks only unary OTLP")

    exp = ArrowFirstExporter(refuse, unary_push, num_streams=3)
    td = load_table(spark, SF_SMALL, "events").limit(7)
    assert exp.send(td) == "unary"
    assert calls["unary"] == [7]
    assert exp.downgraded
    # later sends skip Arrow entirely (streams stay down, exporter.go:136)
    assert exp.send(td) == "unary"
    assert calls["unary"] == [7, 7]


def test_disable_downgrade_fails_instead(spark):
    def refuse(frames_df):
        raise ArrowUnsupportedError("nope")

    exp = ArrowFirstExporter(refuse, lambda df: None, num_streams=1,
                             disable_downgrade=True)
    td = load_table(spark, SF_SMALL, "events").limit(3)
    with pytest.raises(DowngradeDisabledError):
        exp.send(td)


def test_num_streams_validated(spark):
    with pytest.raises(ValueError, match="num_streams"):
        ArrowFirstExporter(lambda d: None, lambda d: None, num_streams=0)


# ---------------------------------------------------------------------------
# checkpoint recovery — the persistent-queue analogue
# ---------------------------------------------------------------------------

def test_checkpoint_resume_no_loss_no_dup(spark, tmp_path):
    """Structured Streaming checkpointing IS the reference's persistent
    queue (WAL + resume, persistent_storage.go:203-345): stop a query
    mid-stream, deliver more data, restart with the same checkpoint —
    every record arrives exactly once."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    events = load_table(spark, SF_SMALL, "events")
    schema = events.limit(0)._jdf.schema().toDDL()

    first = events.filter(F.col("event_id") % 2 == 0)
    second = events.filter(F.col("event_id") % 2 == 1)
    first.write.mode("overwrite").parquet(src)

    def drain():
        # file sink: the fault-tolerant (WAL + commit-log) path — the
        # memory sink deliberately refuses checkpoint recovery
        q = (spark.readStream.schema(schema).parquet(src)
             .writeStream.format("parquet").option("path", out)
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    n_first = spark.read.parquet(out).count()
    assert n_first == first.count()

    second.write.mode("append").parquet(src)   # arrives while "down"
    drain()   # same checkpoint -> only the delta is replayed
    sunk = spark.read.parquet(out)
    assert sunk.count() == events.count()   # no loss, no re-delivery
    assert sunk.select("event_id").distinct().count() == \
        events.select("event_id").distinct().count()


@pytest.mark.slow
def test_chunked_sink_crash_between_chunks_resumes_exactly_once(
        spark, tmp_path):
    """Exactly-once at CHUNK granularity (size_capped_chunks + retry x
    checkpoint interaction, persistent_storage.go:278-345): the exporter
    crashes BETWEEN chunk writes of a micro-batch — chunk 0 is already on
    disk, the batch never commits.  On restart the whole micro-batch
    replays (at-least-once) and idempotent chunk paths (batch_id,
    chunk_idx) overwrite the partial output: the sunk union equals the
    source exactly — no loss, no duplicates — and every chunk honors the
    hard size cap."""
    import os

    from pyspark.sql.streaming import StreamingQueryException

    from otel_arrow_collector_spark.streaming.batching import \
        stream_in_batches

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    crashed_flag = str(tmp_path / "crashed_once")

    events = load_table(spark, SF_SMALL, "events").select(
        "event_id", "user_id", "value")
    schema = events.limit(0)._jdf.schema().toDDL()
    # two source files -> two micro-batches under maxFilesPerTrigger=1
    events.filter(F.col("event_id") % 2 == 0) \
          .coalesce(1).write.mode("append").parquet(src)
    events.filter(F.col("event_id") % 2 == 1) \
          .coalesce(1).write.mode("append").parquet(src)

    max_size = 40

    def sink(chunk_df, batch_id, chunk_idx):
        # crash once, after batch 1 chunk 0 is durably written
        if batch_id == 1 and chunk_idx == 1 \
                and not os.path.exists(crashed_flag):
            with open(crashed_flag, "w") as fh:
                fh.write("x")
            raise RuntimeError("injected exporter crash between chunks")
        (chunk_df.coalesce(1).write.mode("overwrite")
         .parquet(os.path.join(out, f"batch={batch_id}",
                               f"chunk={chunk_idx}")))
        assert chunk_df.count() <= max_size      # hard cap per send

    def drain():
        q = stream_in_batches(
            spark.readStream.schema(schema)
                 .option("maxFilesPerTrigger", 1).parquet(src),
            sink, send_batch_max_size=max_size,
            checkpoint=ckpt, available_now=True)
        q.awaitTermination(180)

    with pytest.raises(StreamingQueryException, match="injected"):
        drain()
    assert os.path.exists(crashed_flag)          # partial batch on disk

    drain()                                      # resume, same checkpoint

    sunk = spark.read.parquet(os.path.join(out, "*", "*"))
    assert sunk.count() == events.count()        # no loss
    assert sunk.select("event_id").distinct().count() == events.count()
    assert ({r.event_id for r in sunk.collect()}
            == {r.event_id for r in events.collect()})   # no dup, no gap


@pytest.mark.slow
def test_dispatched_unacked_chunk_replays_exactly_once(spark, tmp_path):
    """The reference re-enqueues CURRENTLY-DISPATCHED items on restart
    (persistent_storage.go:278-345: the dispatched-but-unacked index is
    folded back into the queue).  Same condition here: the exporter
    crashes AFTER a chunk's bytes are durably written but BEFORE the
    micro-batch commits (the ack).  On resume the whole batch — acked
    chunk 0 AND in-flight chunk 1 — is re-dispatched, and idempotent
    chunk paths make the replay exactly-once: the dispatch log shows the
    in-flight chunk sent twice, the sunk rows show it landed once."""
    import os

    import pytest
    from pyspark.sql.streaming import StreamingQueryException

    from otel_arrow_collector_spark.streaming.batching import \
        stream_in_batches

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    dispatch_log = str(tmp_path / "dispatch")
    crashed_flag = str(tmp_path / "crashed_once")
    os.makedirs(dispatch_log)

    events = load_table(spark, SF_SMALL, "events").select(
        "event_id", "user_id", "value")
    schema = events.limit(0)._jdf.schema().toDDL()
    events.coalesce(1).write.mode("append").parquet(src)

    max_size = 40

    def sink(chunk_df, batch_id, chunk_idx):
        with open(os.path.join(dispatch_log,
                               f"b{batch_id}_c{chunk_idx}"), "a") as fh:
            fh.write("sent\n")
        (chunk_df.coalesce(1).write.mode("overwrite")
         .parquet(os.path.join(out, f"batch={batch_id}",
                               f"chunk={chunk_idx}")))
        # crash AFTER the write, BEFORE the ack: the chunk is dispatched
        # and durable, but the batch never commits
        if batch_id == 0 and chunk_idx == 1 \
                and not os.path.exists(crashed_flag):
            with open(crashed_flag, "w") as fh:
                fh.write("x")
            raise RuntimeError("injected crash after dispatch before ack")

    def drain():
        q = stream_in_batches(
            spark.readStream.schema(schema).parquet(src),
            sink, send_batch_max_size=max_size,
            checkpoint=ckpt, available_now=True)
        q.awaitTermination(180)

    with pytest.raises(StreamingQueryException, match="injected"):
        drain()
    assert os.path.exists(
        os.path.join(out, "batch=0", "chunk=1"))     # dispatched + durable

    drain()                                          # re-enqueue + replay

    # the in-flight chunk was re-dispatched exactly once more
    with open(os.path.join(dispatch_log, "b0_c1")) as fh:
        assert fh.read().count("sent") == 2
    # ...and its data landed exactly once (idempotent chunk path)
    sunk = spark.read.parquet(os.path.join(out, "*", "*"))
    assert sunk.count() == events.count()
    assert ({r.event_id for r in sunk.collect()}
            == {r.event_id for r in events.collect()})
