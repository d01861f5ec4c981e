"""Stream-stream interval join must converge to the batch Q18 answer and
must reject unwatermarked inputs (unbounded state)."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from otel_arrow_collector_spark import plan_tree
from otel_arrow_collector_spark.sources import load_table
from otel_arrow_collector_spark.streaming.joins import interval_join_stream
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def event_stream_dir(spark):
    d = tempfile.mkdtemp(prefix="events_join_stream_")
    (load_table(spark, SF_SMALL, "events")
     .select("event_id", "ts", "user_id", "event_type")
     .repartition(3).write.mode("overwrite").parquet(d))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _stream(spark, d):
    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string")
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(d))


def test_streaming_interval_join_matches_batch_q18(spark, event_stream_dir,
                                                   tmp_path):
    ev = _stream(spark, event_stream_dir)
    joined = interval_join_stream(
        ev.filter("event_type = 'signup'"),
        ev.filter("event_type = 'purchase'"),
        key="user_id", interval="1 hour", watermark="30 days")
    q = (joined.writeStream.format("memory").queryName("ij")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = spark.table("ij").count()

    e = load_table(spark, SF_SMALL, "events")
    want = (e.alias("e1").filter("e1.event_type = 'signup'")
            .join(e.alias("e2").filter("e2.event_type = 'purchase'"),
                  (F.col("e1.user_id") == F.col("e2.user_id"))
                  & (F.col("e2.ts") > F.col("e1.ts"))
                  & (F.col("e2.ts") <= F.col("e1.ts")
                     + F.expr("INTERVAL 1 HOUR"))).count())
    assert got == want and got > 0


def test_operator_always_bounds_state_with_watermarks(spark,
                                                      event_stream_dir):
    """Spark permits an unwatermarked inner stream-stream join (state then
    grows forever); the engine operator must never produce that plan —
    both inputs carry EventTimeWatermark and the condition carries the
    upper time bound, so join state is evictable."""
    ev = _stream(spark, event_stream_dir)
    joined = interval_join_stream(
        ev.filter("event_type = 'signup'"),
        ev.filter("event_type = 'purchase'"),
        key="user_id", interval="1 hour", watermark="2 hours")
    plan = plan_tree.read(joined._jdf.queryExecution().analyzed())
    assert plan.count("EventTimeWatermark") == 2   # both sides bounded
    assert joined.isStreaming


def test_stream_static_enrichment(spark, event_stream_dir, tmp_path):
    """Stream-static broadcast enrichment: every streamed event carries
    its dimension row; unknown keys survive (left join)."""
    from otel_arrow_collector_spark.streaming.joins import enrich_stream
    ev = _stream(spark, event_stream_dir)
    dim = (load_table(spark, SF_SMALL, "events")
           .select("user_id").distinct()
           .withColumn("segment",
                       (F.col("user_id") % 3).cast("string")))
    # drop some keys from the dim to exercise missing-dimension tolerance
    dim_partial = dim.filter(F.col("user_id") % 5 != 0)
    out = enrich_stream(ev, dim_partial, "user_id")
    q = (out.writeStream.format("memory").queryName("enriched")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "enrich_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = spark.table("enriched")
    total = load_table(spark, SF_SMALL, "events").count()
    assert got.count() == total                      # nothing dropped
    assert got.filter("segment IS NULL").count() == \
        load_table(spark, SF_SMALL, "events") \
        .filter("user_id % 5 = 0").count()           # unknowns null-padded


def test_streaming_asof_matches_batch_single_trigger(spark, event_stream_dir,
                                                     tmp_path):
    """One availableNow batch containing everything == the batch q37 plan
    (same union+last-signup semantics) on the same files."""
    from pyspark.sql import Window
    from otel_arrow_collector_spark.streaming.joins import asof_join_stream

    # ONE batch containing all files (no maxFilesPerTrigger): in-batch
    # event-time ordering makes streaming == batch exactly
    ev = (spark.readStream
          .schema("event_id bigint, ts timestamp, user_id bigint, "
                  "event_type string")
          .parquet(event_stream_dir))
    q = (asof_join_stream(ev).writeStream.format("memory").queryName("asof1")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_asof"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r.user_id, r.purchase_id, r.signup_id, r.gap_us)
           for r in spark.table("asof1").collect()}

    # batch expectation: q37's union+window plan on the SAME parquet
    e = spark.read.parquet(event_stream_dir)
    s = (e.filter("event_type = 'signup'")
          .selectExpr("user_id", "unix_micros(ts) AS us", "event_id",
                      "0 AS kind", "event_id AS s_id",
                      "unix_micros(ts) AS s_us"))
    p = (e.filter("event_type = 'purchase'")
          .selectExpr("user_id", "unix_micros(ts) AS us", "event_id",
                      "1 AS kind", "CAST(NULL AS BIGINT) AS s_id",
                      "CAST(NULL AS BIGINT) AS s_us"))
    w = (Window.partitionBy("user_id").orderBy("us", "kind", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    f = (s.unionByName(p)
          .withColumn("ls_id", F.last("s_id", ignorenulls=True).over(w))
          .withColumn("ls_us", F.last("s_us", ignorenulls=True).over(w)))
    want = {(r.user_id, r.event_id, r.ls_id, r.us - r.ls_us)
            for r in f.filter("kind = 1 AND ls_id IS NOT NULL").collect()}
    assert got == want and len(got) > 0


def test_streaming_asof_state_survives_batches(spark, tmp_path):
    """Two time-ordered files, one per trigger: a purchase in batch 2
    must match the signup from batch 1 (state crosses the boundary)."""
    import os
    from otel_arrow_collector_spark.streaming.joins import asof_join_stream

    d = tmp_path / "ev"
    d.mkdir()
    base = "2024-01-01 00:{m:02d}:00"
    rows0 = [(1, base.format(m=0), 100, "signup")]
    rows1 = [(1, base.format(m=5), 200, "purchase"),
             (1, base.format(m=6), 300, "purchase")]
    schema = "user_id long, ts_s string, event_id long, event_type string"
    for i, rows in enumerate((rows0, rows1)):
        (spark.createDataFrame(rows, schema)
         .selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts",
                     "event_id", "event_type")
         .coalesce(1).write.mode("overwrite")
         .parquet(str(d / f"f{i}")))
    # one file dir per trigger, oldest mtime first
    files = sorted(str(p) for p in d.glob("f*/part-*.parquet"))
    flat = tmp_path / "flat"
    flat.mkdir()
    for i, f in enumerate(files):
        dst = str(flat / f"{i}.parquet")
        os.link(f, dst)
        os.utime(dst, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    ev = (spark.readStream
          .schema("user_id long, ts timestamp, event_id long, "
                  "event_type string")
          .option("maxFilesPerTrigger", 1).parquet(str(flat)))
    q = (asof_join_stream(ev).writeStream.format("memory").queryName("asof2")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_asof2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r.purchase_id, r.signup_id) for r in spark.table("asof2").collect()}
    assert got == {(200, 100), (300, 100)}
