"""Streaming rate limiter: batch-equivalence with q91's ROW_NUMBER
verdicts, cross-batch state continuity, bounded state."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from otel_arrow_collector_spark.streaming.ratelimit import rate_limit_stream

QUOTA = 2
WINDOW_US = 1_000_000          # 1-second windows for the test


@pytest.mark.slow
def test_streaming_quota_matches_batch_rank(spark, tmp_path):
    schema = StructType([StructField("user_id", LongType()),
                         StructField("event_id", LongType()),
                         StructField("us", LongType())])
    # 3 users, events interleaved across windows; batches split
    # MID-WINDOW so the quota must carry across batch boundaries
    rows = [(u, i, (i * 337_000) + u * 11_000)
            for u in range(3) for i in range(40)]
    df = spark.createDataFrame(rows, schema)

    # batch truth: allowed iff rank within (user, window) <= QUOTA
    from pyspark.sql import Window
    w = (Window.partitionBy("user_id",
                            (F.col("us") / WINDOW_US).cast("long"))
         .orderBy("us", "event_id"))
    want = {(r.user_id, r.event_id): int(r.rk <= QUOTA)
            for r in df.withColumn("rk", F.row_number().over(w)).collect()}

    d = tempfile.mkdtemp(prefix="rl_stream_")
    for b in range(4):
        (df.filter((F.col("event_id") >= b * 10)
                   & (F.col("event_id") < (b + 1) * 10))
           .coalesce(1).write.mode("append").parquet(d))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (rate_limit_stream(stream, QUOTA, WINDOW_US)
         .writeStream.format("memory").queryName("rl_stream")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt_rl"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    out = spark.table("rl_stream").collect()
    got = {(r.user_id, r.event_id): r.allowed for r in out}
    assert got == want
    # both verdicts actually occur (the test is discriminating)
    assert 0 in got.values() and 1 in got.values()


@pytest.mark.slow
def test_streaming_weighted_sample_matches_batch(spark, tmp_path):
    """The streaming k-minimum state after all batches equals the batch
    sample_weighted top-k over the same rows (pure-function priority ->
    order-independent fold)."""
    import tempfile

    from otel_arrow_collector_spark.operators.sampling import WEIGHTED_K
    from otel_arrow_collector_spark.streaming.reservoir import (
        py_priority, weighted_sample_stream)

    schema = StructType([StructField("lang", StringType()),
                         StructField("doc_id", LongType()),
                         StructField("n_chars", LongType())])
    rows = [(["en", "es"][i % 2], i, 50 + (i * 131) % 400)
            for i in range(400)]
    df = spark.createDataFrame(rows, schema)

    # batch truth from the python priority twin
    want = {}
    for lang in ("en", "es"):
        pri = sorted((py_priority(i, nc), i)
                     for lg, i, nc in rows if lg == lang)[:WEIGHTED_K]
        want[lang] = pri

    d = tempfile.mkdtemp(prefix="ws_stream_")
    for b in range(4):
        (df.filter((F.col("doc_id") >= b * 100)
                   & (F.col("doc_id") < (b + 1) * 100))
           .coalesce(1).write.mode("append").parquet(d))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (weighted_sample_stream(stream)
         .writeStream.format("memory").queryName("ws_stream")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt_ws"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    # final snapshot per lang = rows from the LAST batch emission,
    # recovered as the k smallest priorities ever emitted per lang
    out = spark.table("ws_stream").collect()
    got = {}
    for r in out:
        got.setdefault(r.lang, set()).add((r.priority, r.doc_id))
    for lang in ("en", "es"):
        assert sorted(got[lang])[:WEIGHTED_K] == want[lang]
