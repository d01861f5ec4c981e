"""Streaming seasonal-spike twin: convergence to the batch q97 answer
under shuffled arrival, and restart-from-checkpoint."""

from __future__ import annotations

import random
import tempfile

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from otel_arrow_collector_spark.streaming.seasonal import (
    seasonal_spike_stream)

SCHEMA = StructType([StructField("event_type", StringType()),
                     StructField("day", LongType()),
                     StructField("hod", LongType())])


def _mk_rows():
    """Background traffic of 2/day-hour across 14 days x 4 hours, with
    one genuine spike (day 9 hour 3 at 9x background) and one early
    fake (day 0 hour 1 hot, then history grows past it)."""
    rows = []
    for d in range(14):
        for h in (1, 3, 5, 7):
            n = 2
            if (d, h) == (9, 3):
                n = 18
            if (d, h) == (0, 1):
                n = 4          # hot vs an empty history, sub-2x overall
            for _ in range(n):
                rows.append(("svc", d, h))
    return rows


def _batch_truth(rows):
    """q97's plan in plain Python: full-history per-cell baseline,
    spike iff c * n_cells > 2 * s."""
    cells: dict[tuple[str, int], dict[int, int]] = {}
    for et, d, h in rows:
        cell = cells.setdefault((et, h), {})
        cell[d] = cell.get(d, 0) + 1
    out = []
    for (et, h), by_day in cells.items():
        n, s = len(by_day), sum(by_day.values())
        for d, c in by_day.items():
            if c * n > 2 * s:
                out.append((et, d, h, c, s, n))
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


def _run_foreach(spark, d, ckpt):
    rows: list = []

    def grab(batch_df, _bid):
        rows.extend(batch_df.collect())

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (seasonal_spike_stream(stream)
         .writeStream.foreachBatch(grab)
         .outputMode("update")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    return rows


def _final_spikes(rows):
    """Update-mode log -> final spike set (last verdict per cell-day)."""
    last = {}
    for r in rows:
        last[(r.event_type, r.day, r.hod)] = r
    return sorted((r.event_type, r.day, r.hod, r.c, r.hod_total, r.n_cells)
                  for r in last.values() if r.is_spike)


@pytest.mark.slow
def test_stream_converges_to_batch_q97(spark, tmp_path):
    rows = _mk_rows()
    d = tempfile.mkdtemp(prefix="season_stream_")
    _write_batches(spark, d, rows)
    got = _run_foreach(spark, d, str(tmp_path / "ckpt"))
    want = _batch_truth(rows)
    assert _final_spikes(got) == want
    # the real spike survives; the early-history fake is retracted
    assert ("svc", 9, 3, 18, 18 * 1 + 2 * 13, 14) in _final_spikes(got)
    assert not any(r[1] == 0 and r[2] == 1 for r in _final_spikes(got))


@pytest.mark.slow
def test_restart_from_checkpoint_resumes_exactly(spark, tmp_path):
    rows = _mk_rows()
    half = len(rows) // 2
    d = tempfile.mkdtemp(prefix="season_restart_")
    ckpt = str(tmp_path / "ckpt2")
    _write_batches(spark, d, rows[:half], n_batches=2, seed=2)
    got1 = _run_foreach(spark, d, ckpt)
    _write_batches(spark, d, rows[half:], n_batches=2, seed=3)
    got2 = _run_foreach(spark, d, ckpt)
    assert _final_spikes(got1 + got2) == _batch_truth(rows)
    # the second leg resumed from state: its verdicts already include
    # the first leg's counts
    assert _final_spikes(got2) == _batch_truth(rows)


def test_stream_matches_real_q97_on_testdata(spark, tmp_path):
    """End-to-end equivalence against the ACTUAL q97 batch query over
    the sf0.001 events table."""
    from pyspark.sql import functions as F
    from otel_arrow_collector_spark.operators import collect_registry
    from otel_arrow_collector_spark.sources.tables import load_table
    q, _ = collect_registry()
    sf = "/root/testdata/sf0.001"
    want = sorted((r.event_type, r.day, r.hod, r.c, r.hod_total, r.n_cells)
                  for r in q["q97_seasonal_spike"](spark, sf).collect())
    d = tempfile.mkdtemp(prefix="season_real_")
    (load_table(spark, sf, "events")
     .select("event_type",
             F.expr("ts_ns div 1000 div 86400000000").cast("long")
              .alias("day"),
             F.expr("(ts_ns div 1000 % 86400000000) div 3600000000")
              .cast("long").alias("hod"))
     .write.mode("overwrite").parquet(d))
    got = _run_foreach(spark, d, str(tmp_path / "ckpt3"))
    assert _final_spikes(got) == want
