"""Streaming longest-streak maintenance — the stateful twin of
``operators/relational.q109_user_streaks`` (micro-batch = event
arrivals, per-user active-day set = keyed state).

The batch query's gaps-and-islands rewrite needs the FULL ordered day
relation; the stream instead keeps each user's DISTINCT active-day set
as state (a distinct merge on the keyed-merge operator,
``keyed_merge``) and re-emits the user's CURRENT (longest_streak,
n_active_days) whenever a batch touches them — update mode, latest row
per key wins, exactly re-running the batch aggregate over everything
seen so far.  Out-of-order days are free: the state is a SET, so a
late day lands in its calendar position and the recomputed runs are
identical to in-order delivery (the same commutative-state argument as
the changepoint twin's day -> count vector).  Re-delivery of a seen day is
a set-semantics no-op.

State bound: days are CALENDAR-bounded — a user active every single
day for 30 years holds ~11k longs — the changepoint/seasonal twins'
state class (bounded by time, not by traffic).  The recompute per
touched user is a sort and one vectorised run scan of a bounded set.

Equivalence (pytest-pinned): after any batch split / shuffled arrival /
duplication, the final per-user emission equals the shared batch
derivation ``operators.relational.streak_runs`` aggregated per user —
the pin recomputes the expected side with the batch code itself.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType

from .keyed_merge import keyed_merge_stream

OUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("longest_streak", LongType()),
    StructField("n_active_days", LongType()),
])


def _longest_run(days) -> int:
    """Longest consecutive run in a sorted distinct day list."""
    d = np.asarray(days, dtype=np.int64)
    if not len(d):
        return 0
    ends = np.flatnonzero(np.diff(d) != 1)       # last index of each run
    return int(np.diff(np.concatenate(([-1], ends, [len(d) - 1]))).max())


def _emit_streaks(key, days: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({"user_id": [key[0]],
                         "longest_streak": [_longest_run(days["day"])],
                         "n_active_days": [len(days)]})


def user_streaks_stream(events: DataFrame) -> DataFrame:
    """Streaming streaks: ``events`` (user_id, day) -> update-mode
    (user_id, longest_streak, n_active_days), the running
    gaps-and-islands aggregate per user."""
    return keyed_merge_stream(events, ["user_id"], ["day"], None,
                              _emit_streaks, OUT_SCHEMA)
