"""Streaming CDC apply: the live LWW view converges to q95's batch
result under shuffled arrival, tombstones retract, and the state
survives restart-from-checkpoint."""

from __future__ import annotations

import random
import tempfile

import pytest
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType)

from otel_arrow_collector_spark.streaming.cdc import (cdc_apply_stream,
                                                      latest_view)

SCHEMA = StructType([StructField("user_id", LongType()),
                     StructField("event_type", StringType()),
                     StructField("value", DoubleType()),
                     StructField("us", LongType()),
                     StructField("event_id", LongType())])


def _mk_rows():
    """Keys exercising every branch: plain upsert chains, a key whose
    LATEST change is a tombstone (must vanish), a key that was
    tombstoned then re-upserted (must live), and an out-of-order pair
    (older version arrives later, must NOT win)."""
    rows, eid = [], 0
    rng = random.Random(95)
    for u in range(12):
        for v in range(1 + u % 4):
            eid += 1
            et = "error" if (u == 3 and v == u % 4) else \
                rng.choice(["click", "view", "signup", "purchase"])
            rows.append((u, et, round(rng.uniform(1, 99), 2),
                         1_000_000 + v * 1_000_000, eid))
    # u=3's last change above is a tombstone (v == u%4 is the max v)
    rows.append((20, "error", 1.0, 1_000_000, 9001))      # tombstone...
    rows.append((20, "view", 2.0, 2_000_000, 9002))       # ...then re-upsert
    rows.append((21, "view", 3.0, 9_000_000, 9003))       # newer first
    rows.append((21, "click", 4.0, 1_000_000, 9004))      # stale later
    return rows


def _batch_truth(rows):
    best: dict = {}
    for u, et, v, us, eid in rows:
        n, b = best.get(u, (0, None))
        cand = (us, eid, et, v)
        best[u] = (n + 1, cand if b is None or cand[:2] > b[:2] else b)
    return {u: (n, b[2], b[3]) for u, (n, b) in best.items()
            if b[2] != "error"}


def _run(spark, d, ckpt, results):
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (cdc_apply_stream(stream)
         .writeStream
         .foreachBatch(lambda df, _b: results.extend(df.collect()))
         .outputMode("update")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)


@pytest.mark.slow
def test_streaming_view_converges_to_batch_q95(spark, tmp_path):
    rows = _mk_rows()
    want = _batch_truth(rows)
    shuffled = rows[:]
    random.Random(5).shuffle(shuffled)
    d = tempfile.mkdtemp(prefix="cdc_stream_")
    per = (len(shuffled) + 3) // 4
    for b in range(4):
        batch = shuffled[b * per:(b + 1) * per]
        if batch:
            (spark.createDataFrame(batch, SCHEMA)
             .coalesce(1).write.mode("append").parquet(d))
    results: list = []
    _run(spark, d, str(tmp_path / "ckpt_cdc"), results)
    view = latest_view(results)
    got = {u: (r.n_versions, r.last_type, r.last_value)
           for u, r in view.items()}
    assert got == want
    assert 3 not in got and 20 in got            # tombstone semantics
    assert got[21] == (2, "view", 3.0)           # stale arrival lost LWW


@pytest.mark.slow
def test_cdc_state_survives_restart(spark, tmp_path):
    """A second run from the same checkpoint resumes the version
    counters and LWW winners instead of restarting from zero."""
    d = tempfile.mkdtemp(prefix="cdc_restart_")
    (spark.createDataFrame([(1, "view", 5.0, 1_000_000, 1)], SCHEMA)
     .coalesce(1).write.mode("append").parquet(d))
    results: list = []
    ckpt = str(tmp_path / "ckpt_cdc_r")
    _run(spark, d, ckpt, results)
    assert [(r.n_versions, r.last_type) for r in results] == [(1, "view")]
    # new change after restart: counter continues, winner updates
    (spark.createDataFrame([(1, "click", 6.0, 2_000_000, 2)], SCHEMA)
     .coalesce(1).write.mode("append").parquet(d))
    _run(spark, d, ckpt, results)
    assert [(r.n_versions, r.last_type) for r in results][-1] == (2, "click")
