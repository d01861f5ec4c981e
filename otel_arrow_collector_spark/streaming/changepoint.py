"""Streaming changepoint monitor — the stateful twin of q96_changepoint.

q96's CUSUM argmax is retrospective: the deviation of every day is
measured against the FULL-series mean, so no prefix of the stream can
finalize it.  The honest streaming form is therefore a live monitor:
per series key the state holds the per-day count vector, a ``sum``
merge by day on the keyed-merge operator (``keyed_merge``), calendar-
bounded — |days| entries regardless of event volume, the q92/q96 spine
adjudication — and every micro-batch that touches a key re-emits the
key's CURRENT retrospective changepoint estimate in update mode.  Once
the feed drains, the last emission per key IS the batch q96 row.

The CUSUM itself is q96's exact integer form — deviation_i = n_days *
c_i - S cross-multiplies the mean away, the running sum telescopes to 0
at the series end, and the argmax tie-breaks on the earliest day — so
the twin needs no float tolerance to pin equivalence.

State updates are commutative over arrival order (a day -> count
sum), so the monitor converges to the batch answer under ANY
shuffling of events across micro-batches, including restart from a
checkpoint mid-feed (pinned in tests/test_changepoint_stream.py).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .keyed_merge import keyed_merge_stream

OUT_SCHEMA = StructType([
    StructField("event_type", StringType()),
    StructField("change_day", LongType()),
    StructField("max_abs_cusum", LongType()),
    StructField("n_days", LongType()),
])


def _argmax_cusum(by_day) -> tuple[int, int, int]:
    """q96's exact-integer retrospective CUSUM argmax over a day ->
    count mapping: returns (change_day, max_abs_cusum, n_days) with the
    ABS(cusum) DESC, day ASC tie-break."""
    c = pd.Series(by_day, dtype=object).sort_index()   # Python ints
    dev = (len(c) * c - c.sum()).cumsum().abs().to_numpy()
    i = dev.argmax()          # first maximum: the earliest day wins ties
    return int(c.index[i]), int(dev[i]), len(c)


def _emit(key, by_day: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame(
        [(str(key[0]), *_argmax_cusum(by_day.set_index("day")["n"]))],
        columns=["event_type", "change_day", "max_abs_cusum", "n_days"])


def changepoint_stream(events: DataFrame) -> DataFrame:
    """Live changepoint monitor.  ``events`` needs ``event_type`` and an
    epoch-day ``day`` column (pre-derived, e.g. ``ts_ns div 1000 div
    86400000000``); emits the current q96 row per touched key each
    micro-batch in update mode."""
    return keyed_merge_stream(
        events.withColumn("n", F.lit(1).cast("long")), ["event_type"],
        ["day"], {"n": "sum"}, _emit, OUT_SCHEMA)
