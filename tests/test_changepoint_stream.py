"""Streaming changepoint twin: convergence to the batch q96 answer
under shuffled arrival, and restart-from-checkpoint."""

from __future__ import annotations

import random
import tempfile

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from otel_arrow_collector_spark.streaming.changepoint import (
    _argmax_cusum, changepoint_stream)

SCHEMA = StructType([StructField("event_type", StringType()),
                     StructField("day", LongType())])


def _mk_rows():
    """Three series with distinct shapes: a clean level shift at day 40
    (5 -> 12 events/day), a flat series (CUSUM extremum still well
    defined by the tie-break), and a short spiky one."""
    rows = []
    for d in range(60):
        for _ in range(5 if d < 40 else 12):
            rows.append(("shift", d))
    for d in range(30):
        for _ in range(4):
            rows.append(("flat", d))
    rng = random.Random(96)
    for d in range(20):
        for _ in range(rng.randrange(1, 9)):
            rows.append(("spiky", d))
    return rows


def _batch_truth(rows):
    """q96's plan in plain Python (the oracle the driver runs in SQL)."""
    series: dict[str, dict[int, int]] = {}
    for et, d in rows:
        series.setdefault(et, {})[d] = series.setdefault(et, {}).get(d, 0) + 1
    return sorted((et,) + _argmax_cusum(by_day)
                  for et, by_day in series.items())


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
    q = (changepoint_stream(stream)
         .writeStream.foreachBatch(grab)
         .outputMode("update")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    return rows


def _final(rows):
    """Update-mode log -> final view (last emission per key wins)."""
    last = {}
    for r in rows:
        last[r.event_type] = (r.event_type, r.change_day,
                              r.max_abs_cusum, r.n_days)
    return sorted(last.values())


@pytest.mark.slow
def test_stream_converges_to_batch_q96(spark, tmp_path):
    rows = _mk_rows()
    d = tempfile.mkdtemp(prefix="cp_stream_")
    _write_batches(spark, d, rows)
    got = _run_foreach(spark, d, str(tmp_path / "ckpt"))
    assert _final(got) == _batch_truth(rows)
    # the level shift is located at its true onset
    byk = {r[0]: r for r in _final(got)}
    assert byk["shift"][1] == 39          # CUSUM extremum: last pre-shift day
    assert byk["shift"][3] == 60


@pytest.mark.slow
def test_restart_from_checkpoint_resumes_exactly(spark, tmp_path):
    rows = _mk_rows()
    half = len(rows) // 2
    d = tempfile.mkdtemp(prefix="cp_restart_")
    ckpt = str(tmp_path / "ckpt2")
    _write_batches(spark, d, rows[:half], n_batches=2, seed=2)
    got1 = _run_foreach(spark, d, ckpt)
    _write_batches(spark, d, rows[half:], n_batches=2, seed=3)
    got2 = _run_foreach(spark, d, ckpt)
    # the monitor's view after the second leg equals the batch answer
    assert _final(got1 + got2) == _batch_truth(rows)
    # and the second leg resumed from state, not from scratch: its first
    # emissions already include the first leg's day counts
    assert _final(got2) == _batch_truth(rows)


def test_argmax_matches_q96_tie_break():
    # flat series: every prefix CUSUM is 0 -> earliest day wins the tie
    assert _argmax_cusum({3: 2, 4: 2, 5: 2}) == (3, 0, 3)
    # shift at the end: extremum at the last pre-shift day
    assert _argmax_cusum({0: 1, 1: 1, 2: 10})[0] == 1


def test_stream_matches_real_q96_on_testdata(spark, tmp_path):
    """End-to-end equivalence against the ACTUAL q96 batch query over
    the sf0.001 events table (not just the plain-Python mirror)."""
    from pyspark.sql import functions as F
    from otel_arrow_collector_spark.operators import collect_registry
    from otel_arrow_collector_spark.sources.tables import load_table
    q, _ = collect_registry()
    sf = "/root/testdata/sf0.001"
    want = sorted((r.event_type, r.change_day, r.max_abs_cusum, r.n_days)
                  for r in q["q96_changepoint"](spark, sf).collect())
    d = tempfile.mkdtemp(prefix="cp_real_")
    (load_table(spark, sf, "events")
     .select("event_type",
             F.expr("ts_ns div 1000 div 86400000000").cast("long")
              .alias("day"))
     .write.mode("overwrite").parquet(d))
    got = _run_foreach(spark, d, str(tmp_path / "ckpt3"))
    assert _final(got) == want
