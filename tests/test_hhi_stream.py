"""Streaming HHI twin: EXACT equality with batch q114 under shuffled
splits (sums are commutative), restart-from-checkpoint resumes the
revenue vector."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from otel_arrow_collector_spark.sources.tables import load_table
from otel_arrow_collector_spark.streaming.hhi import hhi_stream
from tests.conftest import SF_SMALL

SCHEMA = StructType([StructField("nation", LongType()),
                     StructField("suppkey", LongType()),
                     StructField("cents", LongType())])


def _rows(spark):
    """Per-lineitem (nation, suppkey, cents) deltas — the fact feed."""
    li = load_table(spark, SF_SMALL, "lineitem")
    su = load_table(spark, SF_SMALL, "supplier")
    return [(r.nation, r.suppkey, r.cents) for r in
            li.join(F.broadcast(su),
                    F.col("s_suppkey") == F.col("l_suppkey"))
            .select(F.col("s_nationkey").cast("long").alias("nation"),
                    F.col("l_suppkey").alias("suppkey"),
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                    .alias("cents"))
            .collect()]


def _expected(spark):
    from otel_arrow_collector_spark.operators.relational import QUERIES
    return {r.nation: (r.n_suppliers, r.total_cents, r.hhi_bp) for r in
            QUERIES["q114_herfindahl"](spark, SF_SMALL).collect()}


def _run(spark, d, ckpt):
    latest: dict = {}

    def grab(batch_df, _bid):
        for r in batch_df.collect():
            latest[r.nation] = (r.n_suppliers, r.total_cents, r.hhi_bp)

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (hhi_stream(stream)
         .writeStream.foreachBatch(grab)
         .outputMode("update")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    try:
        assert q.awaitTermination(180), "stream did not terminate in 180s"
    finally:
        q.stop()
    return latest


@pytest.mark.slow
def test_stream_equals_batch_exactly(spark, tmp_path):
    """5 shuffled micro-batches: the final per-nation emission equals
    batch q114 EXACTLY — commutative sums make arrival order and batch
    splits invisible, including the floor-bp share arithmetic."""
    rows = _rows(spark)
    random.Random(41).shuffle(rows)
    d = str(tmp_path / "hhi_stream")
    per = (len(rows) + 4) // 5
    for b in range(5):
        spark.createDataFrame(rows[b * per:(b + 1) * per], SCHEMA) \
             .coalesce(1).write.mode("append").parquet(d)
    assert _run(spark, d, str(tmp_path / "ck1")) == _expected(spark)


@pytest.mark.slow
def test_restart_from_checkpoint_resumes_vector(spark, tmp_path):
    """Half the feed, stop, append the rest, restart on the SAME
    checkpoint: exactly-once delivery makes the resumed totals equal
    the batch answer (the additive-delta contract)."""
    rows = _rows(spark)
    d = str(tmp_path / "hhi_restart")
    ck = str(tmp_path / "ck2")
    half = len(rows) // 2
    spark.createDataFrame(rows[:half], SCHEMA).coalesce(1) \
         .write.mode("append").parquet(d)
    first = _run(spark, d, ck)
    assert first
    spark.createDataFrame(rows[half:], SCHEMA).coalesce(1) \
         .write.mode("append").parquet(d)
    second = _run(spark, d, ck)
    merged = {**first, **second}
    assert merged == _expected(spark)
