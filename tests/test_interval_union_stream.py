"""Streaming interval-union twin: the final per-key emission equals the
batch sweep (operators.relational.interval_islands) aggregated per key,
under batch splits, shuffled arrival, duplication, and restart; the
island state cap refuses unmergeable keys loudly."""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from otel_arrow_collector_spark.sources.tables import load_table
from otel_arrow_collector_spark.streaming.interval_union import (
    LEASE_US, IslandStateOverflowError, _merge, interval_union_stream)
from tests.conftest import SF_SMALL

SCHEMA = StructType([StructField("event_type", StringType()),
                     StructField("user_id", LongType()),
                     StructField("s", LongType())])


def _events(spark):
    return [(r.event_type, r.user_id, r.s) for r in
            load_table(spark, SF_SMALL, "events")
            .select("event_type", "user_id",
                    F.expr("ts_ns div 1000").cast("long").alias("s"))
            .collect()]


def _expected(spark):
    """Per-key aggregate recomputed with the BATCH sweep itself."""
    from otel_arrow_collector_spark.operators.relational import (
        interval_islands)
    e = (load_table(spark, SF_SMALL, "events")
         .select("event_type", "user_id",
                 F.expr("ts_ns div 1000").cast("long").alias("s"),
                 (F.expr("ts_ns div 1000").cast("long")
                  + F.lit(LEASE_US)).alias("t"),
                 "event_id"))
    return {(r.event_type, r.user_id): (r.n_islands, r.covered_us)
            for r in interval_islands(e)
            .groupBy("event_type", "user_id")
            .agg(F.count(F.lit(1)).alias("n_islands"),
                 F.sum(F.col("en") - F.col("st")).alias("covered_us"))
            .collect()}


def _run(spark, d, ckpt):
    latest: dict = {}

    def grab(batch_df, _bid):
        for r in batch_df.collect():
            latest[(r.event_type, r.user_id)] = (r.n_islands,
                                                 r.covered_us)

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (interval_union_stream(stream)
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
def test_stream_equals_batch_sweep(spark, tmp_path):
    """4 shuffled micro-batches with ~25% of events re-delivered: the
    final per-key (n_islands, covered_us) equals the batch sweep —
    interval union is idempotent, so duplication changes nothing."""
    rows = _events(spark)
    rng = random.Random(23)
    rows = rows + rng.sample(rows, k=len(rows) // 4)
    rng.shuffle(rows)
    d = str(tmp_path / "interval_union_stream")
    per = (len(rows) + 3) // 4
    for b in range(4):
        spark.createDataFrame(rows[b * per:(b + 1) * per], SCHEMA) \
             .coalesce(1).write.mode("append").parquet(d)
    got = _run(spark, d, str(tmp_path / "ck1"))
    assert got == _expected(spark)


@pytest.mark.slow
def test_batch_split_invariant(spark, tmp_path):
    """1 batch vs 7 batches: identical final state."""
    rows = _events(spark)
    d1 = str(tmp_path / "iu_one")
    spark.createDataFrame(rows, SCHEMA).coalesce(1) \
         .write.mode("append").parquet(d1)
    one = _run(spark, d1, str(tmp_path / "ck_one"))
    d7 = str(tmp_path / "iu_seven")
    per = (len(rows) + 6) // 7
    for b in range(7):
        spark.createDataFrame(rows[b * per:(b + 1) * per], SCHEMA) \
             .coalesce(1).write.mode("append").parquet(d7)
    seven = _run(spark, d7, str(tmp_path / "ck_seven"))
    assert one == seven


def test_merge_micro():
    assert _merge([], [(0, 60), (30, 90), (200, 260)]) == \
        [(0, 90), (200, 260)]
    # touching endpoints merge (half-open leases: end == next start)
    assert _merge([(0, 60)], [(60, 120)]) == [(0, 120)]
    # idempotence: re-merging an existing lease is a no-op
    assert _merge([(0, 90), (200, 260)], [(30, 90)]) == \
        [(0, 90), (200, 260)]


def test_island_state_cap(spark, tmp_path):
    """A key emitting only disjoint leases must hit the cap loudly."""
    rows = [("t", 1, i * 10 * LEASE_US) for i in range(25)]
    d = str(tmp_path / "iu_cap")
    spark.createDataFrame(rows, SCHEMA).coalesce(1) \
         .write.mode("append").parquet(d)
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (interval_union_stream(stream, max_islands=20)
         .writeStream.format("memory").queryName("iu_cap")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck_cap"))
         .trigger(availableNow=True).start())
    try:
        finished = q.awaitTermination(180)
    except Exception as e:          # the expected failure path
        assert "IslandStateOverflowError" in str(e)
    else:
        q.stop()
        if not finished:
            pytest.fail("query did not terminate in 180s")
        exc = q.exception()
        if exc is None:
            pytest.fail("query finished cleanly; expected "
                        "IslandStateOverflowError")
        assert "IslandStateOverflowError" in str(exc)


def test_bounded_key_passes_cap(spark, tmp_path):
    """Overlapping leases merge to ONE island and sail under the cap."""
    rows = [("t", 1, i * (LEASE_US // 2)) for i in range(50)]
    d = str(tmp_path / "iu_ok")
    spark.createDataFrame(rows, SCHEMA).coalesce(1) \
         .write.mode("append").parquet(d)
    got = {}

    def grab(batch_df, _bid):
        for r in batch_df.collect():
            got[(r.event_type, r.user_id)] = (r.n_islands, r.covered_us)

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (interval_union_stream(stream, max_islands=20)
         .writeStream.foreachBatch(grab)
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck_ok"))
         .trigger(availableNow=True).start())
    try:
        assert q.awaitTermination(180), "stream did not terminate in 180s"
    finally:
        q.stop()
    assert got == {("t", 1): (1, 49 * (LEASE_US // 2) + LEASE_US)}
