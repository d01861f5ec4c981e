"""Streaming SLO burn twin: batch-equivalence with q92 under shuffled
arrival, restart-from-checkpoint, and the watermark contract."""

from __future__ import annotations

import random
import tempfile

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from otel_arrow_collector_spark.streaming.slo import (HOUR_US,
                                                      slo_burn_stream)

SCHEMA = StructType([StructField("us", LongType()),
                     StructField("event_type", StringType())])

#: longer than the dataset's whole spread (so shuffled arrival is never
#: late) but short enough that the 350h flush sentinel advances the
#: watermark past every real hour end
WAIT_US = 100 * HOUR_US


def _mk_rows():
    """24 hours of traffic with a burn episode: background 2% errors,
    hours 4-7 at 60% (burning), hour 16 a single-hour blip (1h burns,
    but its trailing 6h window sees only background hours 11-16 so the
    6h must not page), hours 18-19 silent (gap in the hourly frame)."""
    rng = random.Random(92)
    rows = []
    for h in range(24):
        if h in (18, 19):
            continue
        n = 40 + (h * 7) % 13
        err_rate = 0.6 if 4 <= h <= 7 else (0.9 if h == 16 else 0.02)
        for i in range(n):
            us = h * HOUR_US + rng.randrange(HOUR_US)
            et = "error" if rng.random() < err_rate else "ok"
            rows.append((us, et))
    return rows


def _batch_truth(rows):
    """q92's plan in plain Python: hourly frame, RANGE 5-preceding
    trailing sums over existing hours, integer cross-multiplication."""
    hourly: dict[int, tuple[int, int]] = {}
    for us, et in rows:
        h = us // HOUR_US
        t, e = hourly.get(h, (0, 0))
        hourly[h] = (t + 1, e + (1 if et == "error" else 0))
    out = []
    for h in sorted(hourly):
        total, errors = hourly[h]
        t6 = sum(hourly[g][0] for g in hourly if h - 5 <= g <= h)
        e6 = sum(hourly[g][1] for g in hourly if h - 5 <= g <= h)
        out.append((h, total, errors,
                    errors * 100000 // (21 * total),
                    e6 * 100000 // (21 * t6),
                    errors * 100 > 21 * total and e6 * 100 > 21 * t6))
    return out


def _write_batches(spark, d, rows, n_batches=4, seed=1):
    shuffled = rows[:]
    random.Random(seed).shuffle(shuffled)
    per = (len(shuffled) + n_batches - 1) // n_batches
    for b in range(n_batches):
        batch = shuffled[b * per:(b + 1) * per]
        if batch:
            (spark.createDataFrame(batch, SCHEMA)
             .coalesce(1).write.mode("append").parquet(d))


def _run(spark, d, ckpt, name):
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (slo_burn_stream(stream, watermark_us=WAIT_US)
         .writeStream.format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    return sorted((r.hour, r.total, r.errors, r.burn_permille_1h,
                   r.burn_permille_6h, r.is_burning)
                  for r in spark.table(name).collect()
                  if r.hour < 300)              # drop the flush sentinel


@pytest.mark.slow
def test_streaming_burn_matches_q92_shape(spark, tmp_path):
    rows = _mk_rows()
    want = _batch_truth(rows)
    d = tempfile.mkdtemp(prefix="slo_stream_")
    _write_batches(spark, d, rows)
    # flush sentinel far past every hour end
    (spark.createDataFrame([(350 * HOUR_US, "ok")], SCHEMA)
     .coalesce(1).write.mode("append").parquet(d))
    got = _run(spark, d, str(tmp_path / "ckpt"), "slo_stream")
    assert got == want
    # the episode pins the multi-window rule: sustained burn pages,
    # the single-hour blip does not page on the 6h window
    byh = {r[0]: r for r in got}
    assert byh[6][5] is True                   # inside the episode
    assert byh[16][3] > 1000                   # 1h burn rate > 1x: hot
    assert byh[16][5] is False                 # ...but 6h doesn't page
    # silent hours produce no rows (q92's hourly groupBy)
    assert 18 not in byh and 19 not in byh


def _run_foreach(spark, d, ckpt):
    """foreachBatch capture (the memory sink cannot recover from a
    checkpoint; foreachBatch can — the sessions-twin discipline)."""
    rows: list = []

    def grab(batch_df, _bid):
        rows.extend(batch_df.collect())

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (slo_burn_stream(stream, watermark_us=WAIT_US)
         .writeStream.foreachBatch(grab)
         .outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    return sorted((r.hour, r.total, r.errors, r.burn_permille_1h,
                   r.burn_permille_6h, r.is_burning)
                  for r in rows if r.hour < 300)


@pytest.mark.slow
def test_restart_from_checkpoint_resumes_exactly(spark, tmp_path):
    rows = _mk_rows()
    want = _batch_truth(rows)
    half = len(rows) // 2
    d = tempfile.mkdtemp(prefix="slo_restart_")
    ckpt = str(tmp_path / "ckpt2")
    _write_batches(spark, d, rows[:half], n_batches=2, seed=2)
    got1 = _run_foreach(spark, d, ckpt)
    _write_batches(spark, d, rows[half:], n_batches=2, seed=3)
    (spark.createDataFrame([(350 * HOUR_US, "ok")], SCHEMA)
     .coalesce(1).write.mode("append").parquet(d))
    got2 = _run_foreach(spark, d, ckpt)
    # each closed hour appended exactly once across the two runs
    merged = sorted(got1 + got2)
    assert merged == want
    assert len({h for h, *_ in got1} & {h for h, *_ in got2}) == 0


def test_watermark_contract_enforced():
    with pytest.raises(ValueError, match="5-hour shift"):
        slo_burn_stream(None, watermark_us=4 * HOUR_US)
