"""Streaming streaks twin: the final per-user emission equals the batch
gaps-and-islands derivation (operators.relational.streak_runs), under
batch splits, shuffled out-of-order arrival, duplication, and restart."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from otel_arrow_collector_spark.sources.tables import load_table
from otel_arrow_collector_spark.streaming.streaks import (
    _longest_run, user_streaks_stream)
from tests.conftest import SF_SMALL

SCHEMA = StructType([StructField("user_id", LongType()),
                     StructField("day", LongType())])


def _days(spark):
    return [(r.user_id, r.day) for r in
            load_table(spark, SF_SMALL, "events")
            .select("user_id",
                    F.expr("ts_ns div 1000 div 86400000000")
                    .cast("long").alias("day"))
            .collect()]


def _expected(spark):
    from otel_arrow_collector_spark.operators.relational import streak_runs
    d = (load_table(spark, SF_SMALL, "events")
         .select("user_id",
                 F.expr("ts_ns div 1000 div 86400000000")
                 .cast("long").alias("day"))
         .distinct())
    return {r.user_id: (r.longest_streak, r.n_active_days)
            for r in streak_runs(d).groupBy("user_id")
            .agg(F.max("len").alias("longest_streak"),
                 F.sum("len").alias("n_active_days")).collect()}


def _run(spark, d, ckpt):
    latest: dict = {}

    def grab(batch_df, _bid):
        for r in batch_df.collect():
            latest[r.user_id] = (r.longest_streak, r.n_active_days)

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (user_streaks_stream(stream)
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
def test_stream_equals_batch_runs(spark, tmp_path):
    """5 shuffled micro-batches (out-of-order days, ~30% re-delivered):
    final per-user state == the batch gaps-and-islands aggregate."""
    rows = _days(spark)
    rng = random.Random(31)
    rows = rows + rng.sample(rows, k=len(rows) // 3)
    rng.shuffle(rows)
    d = str(tmp_path / "streaks_stream")
    per = (len(rows) + 4) // 5
    for b in range(5):
        spark.createDataFrame(rows[b * per:(b + 1) * per], SCHEMA) \
             .coalesce(1).write.mode("append").parquet(d)
    assert _run(spark, d, str(tmp_path / "ck1")) == _expected(spark)


def test_restart_from_checkpoint_resumes_state(spark, tmp_path):
    """Half the files, stop, append the rest, restart on the SAME
    checkpoint: the resumed run must converge to the full answer
    (state survives the restart)."""
    rows = sorted(_days(spark))
    d = str(tmp_path / "streaks_restart")
    ck = str(tmp_path / "ck2")
    half = len(rows) // 2
    spark.createDataFrame(rows[:half], SCHEMA).coalesce(1) \
         .write.mode("append").parquet(d)
    first = _run(spark, d, ck)
    assert first  # some users emitted
    spark.createDataFrame(rows[half:], SCHEMA).coalesce(1) \
         .write.mode("append").parquet(d)
    second = _run(spark, d, ck)
    merged = {**first, **second}
    assert merged == _expected(spark)


def test_longest_run_micro():
    assert _longest_run([]) == 0
    assert _longest_run([5]) == 1
    assert _longest_run([1, 2, 3, 7, 8, 10]) == 3
    assert _longest_run([1, 2, 4, 5, 6, 9]) == 3
