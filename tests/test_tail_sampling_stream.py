"""Streaming tail sampling: batch-equivalence with q90's per-trace
policy aggregation under hash-shuffled arrival, exactly-once verdicts
with late spans, bounded state via the decision-cache TTL."""

from __future__ import annotations

import hashlib
import random
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from otel_arrow_collector_spark.streaming.tailsampling import (
    LATENCY_THRESHOLD_US, decide_policy, tail_sample_stream)

SCHEMA = StructType([StructField("user_id", LongType()),
                     StructField("event_type", StringType()),
                     StructField("us", LongType())])

DAY_US = 86_400_000_000
#: decision wait longer than the dataset's full time spread, so a
#: hash-shuffled arrival (spans of one trace in ANY micro-batch) never
#: makes a span late relative to the watermark — every trace then
#: decides exactly once when the flush sentinel advances the watermark
WAIT_US = 5 * DAY_US


def _mk_rows():
    """Traces engineered to hit every policy branch: errors, a
    20h+ span, and enough plain traces that the 2/16 hash policy
    fires for some and not others."""
    rows = []
    for u in range(40):
        day = u % 3
        base = day * DAY_US + 1_000_000 + u * 7_000
        n = 3 + (u % 4)
        for i in range(n):
            et = "error" if (u % 7 == 0 and i == 1) else "view"
            rows.append((u, et, base + i * 900_000))
        if u % 11 == 3:        # latency trace: spread past threshold
            rows.append((u, "view", base + LATENCY_THRESHOLD_US + 5))
    return rows


def _batch_truth(rows):
    """q90's decision table applied per trace in plain Python."""
    traces = {}
    for u, et, us in rows:
        key = (u, us // DAY_US)
        t = traces.setdefault(key, {"n": 0, "err": 0, "mn": us, "mx": us})
        t["n"] += 1
        t["err"] = max(t["err"], int(et == "error"))
        t["mn"], t["mx"] = min(t["mn"], us), max(t["mx"], us)
    out = {}
    for (u, day), t in traces.items():
        out[(u, day)] = (decide_policy(u, day, t["err"],
                                       t["mx"] - t["mn"]), t["n"])
    return out


def test_decide_policy_matches_q90_expression():
    # md5 parity with the SQL/batch substring(md5(...), 1, 1) check
    for u, day in [(1, 0), (7, 2), (123, 1)]:
        h = hashlib.md5(f"ts:{u}:{day}".encode()).hexdigest()
        want = "probabilistic" if h[0] in "01" else "drop"
        assert decide_policy(u, day, 0, 0) == want
    assert decide_policy(5, 0, 1, 0) == "error"
    assert decide_policy(5, 0, 0, LATENCY_THRESHOLD_US) == "latency"


@pytest.mark.slow
def test_streaming_verdicts_match_batch_q90(spark, tmp_path):
    rows = _mk_rows()
    want = _batch_truth(rows)

    # hash-shuffled arrival: spans of one trace deliberately straddle
    # micro-batches (deterministic seed)
    shuffled = rows[:]
    random.Random(90).shuffle(shuffled)
    d = tempfile.mkdtemp(prefix="ts_stream_")
    per = (len(shuffled) + 3) // 4
    for b in range(4):
        batch = shuffled[b * per:(b + 1) * per]
        if batch:
            (spark.createDataFrame(batch, SCHEMA)
             .coalesce(1).write.mode("append").parquet(d))
    # watermark flush: a sentinel trace far past every decision point
    flush_us = 20 * DAY_US
    (spark.createDataFrame([(999, "view", flush_us)], SCHEMA)
     .coalesce(1).write.mode("append").parquet(d))

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (tail_sample_stream(stream, WAIT_US)
         .writeStream.format("memory").queryName("ts_stream")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt_ts"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    out = [r for r in spark.table("ts_stream").collect()
           if r.user_id != 999]
    got = {(r.user_id, r.day): (r.policy, r.n_events) for r in out}
    # exactly one verdict per trace
    assert len(out) == len(got)
    assert got == want
    # the test data exercises every policy branch
    assert {p for p, _ in got.values()} == \
        {"error", "latency", "probabilistic", "drop"}


@pytest.mark.slow
def test_late_span_follows_cached_decision_exactly_once(spark, tmp_path):
    """groupbytrace decision cache: a span arriving after its trace's
    verdict neither re-opens the trace nor duplicates the verdict."""
    d = tempfile.mkdtemp(prefix="ts_late_")
    rows = [(1, "error", 1_000_000), (1, "view", 2_000_000)]
    (spark.createDataFrame(rows, SCHEMA)
     .coalesce(1).write.mode("append").parquet(d))
    (spark.createDataFrame([(999, "view", 20 * DAY_US)], SCHEMA)
     .coalesce(1).write.mode("append").parquet(d))

    results: list = []

    def run():
        # foreachBatch sink: restartable from the checkpoint (the
        # memory sink is not), so the second run resumes state
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(d))
        q = (tail_sample_stream(stream, WAIT_US)
             .writeStream
             .foreachBatch(lambda df, _b: results.extend(df.collect()))
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ckpt_late"))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    run()
    first = [r for r in results if r.user_id != 999]
    assert [(r.policy, r.n_events) for r in first] == [("error", 2)]
    # the late span + a further flush: state must hold the decided
    # marker, so no second verdict row appears for trace (1, 0)
    (spark.createDataFrame([(1, "view", 3_000_000)], SCHEMA)
     .coalesce(1).write.mode("append").parquet(d))
    (spark.createDataFrame([(999, "view", 40 * DAY_US)], SCHEMA)
     .coalesce(1).write.mode("append").parquet(d))
    run()
    second = [r for r in results if r.user_id != 999]
    assert [(r.policy, r.n_events) for r in second] == [("error", 2)]
