"""Streaming sessionization: batch-equivalence with q80's per-session
aggregate under hash-shuffled arrival, cross-batch session merging,
and the exact 30-minute boundary contract."""

from __future__ import annotations

import random
import tempfile

import pytest
from pyspark.sql.types import LongType, StructField, StructType

from otel_arrow_collector_spark.streaming.sessions import (
    SESSION_GAP_US, sessionize_stream)

SCHEMA = StructType([StructField("user_id", LongType()),
                     StructField("us", LongType())])

DAY_US = 86_400_000_000
#: watermark delay longer than the dataset's full time spread so a
#: hash-shuffled arrival is never late (same discipline as the
#: tail-sampling twin); the flush sentinel then closes every session
WAIT_US = 5 * DAY_US


def _mk_rows():
    """Users with multi-session histories: bursts split by > 30 min
    gaps, one exact-30:00 gap (must MERGE, q80's closed boundary), and
    one 30:00.000001 gap (must CUT)."""
    rows = []
    for u in range(25):
        base = 1_000_000 + u * 13_000
        t = base
        for s in range(1 + u % 3):            # sessions per user
            for i in range(2 + (u + s) % 4):  # events per session
                rows.append((u, t))
                t += 60_000_000               # 1 min within session
            t += SESSION_GAP_US + 600_000_000  # 40 min gap: new session
    rows += [(100, 0), (100, SESSION_GAP_US)]          # exact 30:00 gap
    rows += [(101, 0), (101, SESSION_GAP_US + 1)]      # 30:00.000001
    return rows


def _batch_truth(rows):
    """q80's gaps-and-islands per-session aggregate in plain Python
    (new session iff gap STRICTLY exceeds 30 min)."""
    byu: dict = {}
    for u, us in rows:
        byu.setdefault(u, []).append(us)
    out = []
    for u, ts in byu.items():
        ts.sort()
        cur = [ts[0]]
        for prev, nxt in zip(ts, ts[1:]):
            if nxt - prev > SESSION_GAP_US:
                out.append((u, cur[0], len(cur), (cur[-1] - cur[0]) // 10**6))
                cur = [nxt]
            else:
                cur.append(nxt)
        out.append((u, cur[0], len(cur), (cur[-1] - cur[0]) // 10**6))
    return sorted(out)


@pytest.mark.slow
def test_streaming_sessions_match_batch_q80_shape(spark, tmp_path):
    rows = _mk_rows()
    want = _batch_truth(rows)
    # hash-shuffled arrival: fragments of one session straddle
    # micro-batches in arbitrary order (deterministic seed)
    shuffled = rows[:]
    random.Random(80).shuffle(shuffled)
    d = tempfile.mkdtemp(prefix="sess_stream_")
    per = (len(shuffled) + 3) // 4
    for b in range(4):
        batch = shuffled[b * per:(b + 1) * per]
        if batch:
            (spark.createDataFrame(batch, SCHEMA)
             .coalesce(1).write.mode("append").parquet(d))
    # watermark flush: a sentinel far past every session end
    (spark.createDataFrame([(999, 20 * DAY_US)], SCHEMA)
     .coalesce(1).write.mode("append").parquet(d))

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (sessionize_stream(stream, watermark_us=WAIT_US)
         .writeStream.format("memory").queryName("sess_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = sorted((r.user_id, r.start_us, r.n_events, r.dur_sec)
                 for r in spark.table("sess_stream").collect()
                 if r.user_id != 999)
    assert got == want
    # the boundary rows pin the contract: exact 30:00 merges (one
    # 2-event session), +1us cuts (two 1-event sessions)
    assert (100, 0, 2, 1800) in got
    assert (101, 0, 1, 0) in got and (101, SESSION_GAP_US + 1, 1, 0) in got


def test_cross_batch_session_fragments_merge(spark, tmp_path):
    """Two fragments of ONE session arriving in different micro-batches
    (later fragment first) coalesce in the session-window state store
    and emit exactly one session row."""
    d = tempfile.mkdtemp(prefix="sess_merge_")
    # fragment B (later half) lands in the first file
    (spark.createDataFrame([(7, 10 * 60_000_000), (7, 11 * 60_000_000)],
                           SCHEMA)
     .coalesce(1).write.mode("append").parquet(d))
    # fragment A (earlier half, bridges via a <30min gap) lands second
    (spark.createDataFrame([(7, 0), (7, 60_000_000)], SCHEMA)
     .coalesce(1).write.mode("append").parquet(d))
    (spark.createDataFrame([(999, 20 * DAY_US)], SCHEMA)
     .coalesce(1).write.mode("append").parquet(d))
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (sessionize_stream(stream, watermark_us=WAIT_US)
         .writeStream.format("memory").queryName("sess_merge")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_merge"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = [(r.user_id, r.start_us, r.n_events, r.dur_sec)
           for r in spark.table("sess_merge").collect() if r.user_id != 999]
    assert got == [(7, 0, 4, 660)]


def test_session_state_survives_restart(spark, tmp_path):
    """The native session-window state store resumes from the
    checkpoint: a fragment arriving in a SECOND run merges into the
    session opened in the first run and the session emits once, after
    the post-restart flush."""
    d = tempfile.mkdtemp(prefix="sess_restart_")
    results: list = []

    def run():
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(d))
        q = (sessionize_stream(stream, watermark_us=WAIT_US)
             .writeStream
             .foreachBatch(lambda df, _b: results.extend(df.collect()))
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt_sr"))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    (spark.createDataFrame([(5, 0), (5, 60_000_000)], SCHEMA)
     .coalesce(1).write.mode("append").parquet(d))
    run()
    assert [r for r in results if r.user_id == 5] == []   # still open
    # second run: a bridging fragment + the watermark flush sentinel
    (spark.createDataFrame([(5, 2 * 60_000_000)], SCHEMA)
     .coalesce(1).write.mode("append").parquet(d))
    (spark.createDataFrame([(999, 20 * DAY_US)], SCHEMA)
     .coalesce(1).write.mode("append").parquet(d))
    run()
    got = [(r.user_id, r.start_us, r.n_events, r.dur_sec)
           for r in results if r.user_id == 5]
    assert got == [(5, 0, 3, 120)]
