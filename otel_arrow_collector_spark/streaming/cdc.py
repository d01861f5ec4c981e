"""Streaming CDC apply — the stateful twin of q95_cdc_apply.

A keyed change feed (upserts + tombstone deletes) maintained as a live
materialized view by a plain update-mode streaming aggregation: per key
the state holds the version count and the WINNING version under
last-writer-wins order (commit time, then event id) — ``max`` over the
``(us, event_id, event_type, value)`` struct, O(1) per key regardless of
how many versions flow through.  Every micro-batch that touches a key
re-emits the key's CURRENT view row in update mode; a key whose winner
is a tombstone emits ``deleted=true`` (the retraction a downstream sink
needs to drop the key).

Out-of-order tolerant by construction: LWW compares (us, event_id), so
an older version arriving AFTER a newer one cannot win — count and max
are commutative over arrival order, which is what makes the view
eventually equal to the batch q95 result under ANY shuffling of the
feed across micro-batches (pinned in tests/test_cdc_stream.py,
including restart-from-checkpoint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, DoubleType, LongType,
                               StringType, StructField, StructType)

OUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_versions", LongType()),
    StructField("last_type", StringType()),
    StructField("last_value", DoubleType()),
    StructField("deleted", BooleanType()),
])


def cdc_apply_stream(changes: DataFrame) -> DataFrame:
    """Live LWW view over a change feed.  ``changes`` needs user_id,
    event_type, value, an epoch-microsecond ``us`` and event_id."""
    win = F.max(F.struct("us", "event_id",
                         F.col("event_type").cast("string").alias("t"),
                         F.col("value").cast("double").alias("v")))
    return (changes.groupBy(F.col("user_id").cast("long").alias("user_id"))
            .agg(F.count(F.lit(1)).alias("n_versions"), win.alias("w"))
            .select("user_id", "n_versions",
                    F.col("w.t").alias("last_type"),
                    F.col("w.v").alias("last_value"),
                    (F.col("w.t") == "error").alias("deleted")))


def latest_view(rows) -> dict:
    """Collapse an update-mode emission log to the final view: the last
    emission per key wins; tombstoned keys drop (the sink-side apply)."""
    final: dict = {}
    for r in rows:
        final[r.user_id] = r
    return {u: r for u, r in final.items() if not r.deleted}
