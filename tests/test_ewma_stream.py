"""Streaming EWMA twin: batch-equivalence with q101's kernel under
shuffled arrival, restart-from-checkpoint, and the watermark contract."""

from __future__ import annotations

import random
import tempfile

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from otel_arrow_collector_spark.operators.relational import EWMA_W
from otel_arrow_collector_spark.streaming.ewma import DAY_US, ewma_stream

SCHEMA = StructType([StructField("pr", StringType()),
                     StructField("day_us", LongType()),
                     StructField("cents", LongType())])

#: longer than the dataset's whole spread (shuffled arrival is never
#: late) but short enough that the 350-day flush sentinel advances the
#: watermark past every real day end
WAIT_US = 100 * DAY_US


def _mk_rows():
    """60 days, 2 priorities, bursty revenue with silent days (gaps in
    the daily frame — the sparse-EWMA case the hop explosion handles
    for free) and a zero-revenue-priority day."""
    rng = random.Random(101)
    rows = []
    for day in range(60):
        for pr in ("1-URGENT", "3-MEDIUM"):
            if (day * 7 + len(pr)) % 11 == 0:
                continue                      # silent day for this pr
            for _ in range(rng.randrange(1, 5)):
                us = day * DAY_US + rng.randrange(DAY_US)
                rows.append((pr, us, rng.randrange(100, 500_000)))
    return rows


def _batch_truth(rows):
    """q101's kernel in plain Python integers: daily sums, then
    smoothed = sum(daily[d-lag] * 3^lag * 4^(W-lag)) // 4^W over
    OBSERVED days only, published for days with traffic."""
    daily: dict[tuple[str, int], int] = {}
    for pr, us, cents in rows:
        k = (pr, us // DAY_US)
        daily[k] = daily.get(k, 0) + cents
    out = []
    for (pr, d), cents in sorted(daily.items()):
        num = sum(x * 3 ** (d - g) * 4 ** (EWMA_W - (d - g))
                  for (p, g), x in daily.items()
                  if p == pr and 0 <= d - g <= EWMA_W)
        out.append((pr, d, cents, num // 4 ** EWMA_W))
    return sorted(out)


def _write_batches(spark, d, rows, n_batches=4, seed=1):
    shuffled = rows[:]
    random.Random(seed).shuffle(shuffled)
    per = (len(shuffled) + n_batches - 1) // n_batches
    for b in range(n_batches):
        batch = shuffled[b * per:(b + 1) * per]
        if batch:
            (spark.createDataFrame(batch, SCHEMA)
             .coalesce(1).write.mode("append").parquet(d))


def _day_index(r):
    import datetime
    return (r.day - datetime.date(1970, 1, 1)).days


def _run_foreach(spark, d, ckpt):
    rows: list = []

    def grab(batch_df, _bid):
        rows.extend(batch_df.collect())

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (ewma_stream(stream, watermark_us=WAIT_US)
         .writeStream.foreachBatch(grab)
         .outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    return sorted((r.pr, _day_index(r), r.revenue_cents, r.ewma_scaled)
                  for r in rows if _day_index(r) < 300)


@pytest.mark.slow
def test_streaming_ewma_matches_batch_kernel(spark, tmp_path):
    rows = _mk_rows()
    want = _batch_truth(rows)
    d = tempfile.mkdtemp(prefix="ewma_stream_")
    _write_batches(spark, d, rows)
    # flush sentinel far past every day end
    (spark.createDataFrame([("1-URGENT", 350 * DAY_US, 0)], SCHEMA)
     .coalesce(1).write.mode("append").parquet(d))
    got = _run_foreach(spark, d, str(tmp_path / "ckpt"))
    assert got == want
    # silent days produce no rows (q101's inner join to daily)
    have = {(pr, dd) for pr, dd, *_ in got}
    all_days = {(pr, dd) for pr in ("1-URGENT", "3-MEDIUM")
                for dd in range(60)}
    assert have < all_days                 # gaps really exist
    # a day right after a silent day still smooths over the gap
    # (sparse kernel: absent days contribute nothing, not zero-fill
    # errors) — guaranteed by equality with _batch_truth above


@pytest.mark.slow
def test_restart_from_checkpoint_resumes_exactly(spark, tmp_path):
    rows = _mk_rows()
    want = _batch_truth(rows)
    half = len(rows) // 2
    d = tempfile.mkdtemp(prefix="ewma_restart_")
    ckpt = str(tmp_path / "ckpt2")
    _write_batches(spark, d, rows[:half], n_batches=2, seed=2)
    got1 = _run_foreach(spark, d, ckpt)
    _write_batches(spark, d, rows[half:], n_batches=2, seed=3)
    (spark.createDataFrame([("1-URGENT", 350 * DAY_US, 0)], SCHEMA)
     .coalesce(1).write.mode("append").parquet(d))
    got2 = _run_foreach(spark, d, ckpt)
    merged = sorted(got1 + got2)
    assert merged == want
    assert len({(p, dd) for p, dd, *_ in got1}
               & {(p, dd) for p, dd, *_ in got2}) == 0


def test_watermark_contract_enforced():
    with pytest.raises(ValueError, match="day"):
        ewma_stream(None, watermark_us=EWMA_W * DAY_US)
