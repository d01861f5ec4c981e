"""Streaming seasonal-spike monitor — the stateful twin of
q97_seasonal_spike.

q97's baseline is the FULL-history cross-day mean per (event_type,
hour-of-day) cell, so — like q96's CUSUM — no prefix of the stream can
finalize a verdict: a day-hour that spikes against an early baseline
may fall under it once more history accumulates.  The honest streaming
form is a live monitor: per (event_type, hod) key the state holds the
day -> count vector, a ``sum`` merge by day on the keyed-merge operator
(``keyed_merge``; calendar-bounded — |days| entries per cell no
matter the event volume), and every micro-batch that touches a cell
re-emits ALL of that cell's day rows with their CURRENT verdict in
update mode (is_spike carries the q97 predicate c * n_cells > 2 * s in
exact integers).  Once the feed drains, the last emission per
(event_type, day, hod) filtered to is_spike IS the batch q97 result.

Summed state updates are commutative over arrival order, so the
monitor converges under ANY shuffling of events across micro-batches,
including restart from a checkpoint mid-feed (pinned in
tests/test_seasonal_stream.py, incl. against the real q97 on testdata).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, LongType, StringType,
                               StructField, StructType)

from .keyed_merge import keyed_merge_stream

OUT_SCHEMA = StructType([
    StructField("event_type", StringType()),
    StructField("day", LongType()),
    StructField("hod", LongType()),
    StructField("c", LongType()),
    StructField("hod_total", LongType()),
    StructField("n_cells", LongType()),
    StructField("is_spike", BooleanType()),
])


def _emit(key, by_day: pd.DataFrame) -> pd.DataFrame:
    """Every day row of the (event_type, hod) cell with its verdict."""
    c = by_day["c"].astype(object)       # Python ints: exact predicate
    n_cells, s = len(by_day), c.sum()
    return pd.DataFrame({
        "event_type": str(key[0]), "day": by_day["day"], "hod": key[1],
        "c": by_day["c"], "hod_total": s, "n_cells": n_cells,
        "is_spike": (c * n_cells > 2 * s).astype(bool)})


def seasonal_spike_stream(events: DataFrame) -> DataFrame:
    """Live seasonal-spike monitor.  ``events`` needs ``event_type``
    plus pre-derived epoch-day ``day`` and hour-of-day ``hod`` columns;
    emits every touched cell's day rows with current verdicts each
    micro-batch in update mode."""
    return keyed_merge_stream(
        events.withColumn("c", F.lit(1).cast("long")),
        ["event_type", "hod"], ["day"], {"c": "sum"}, _emit, OUT_SCHEMA)
