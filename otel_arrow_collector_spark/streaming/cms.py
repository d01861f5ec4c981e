"""Streaming count-min sketch — the stateful twin of the batch CMS in
``operators/sketches.py``.

The d x w counter matrix is Spark's own update-mode streaming
aggregation: the batch operator ``cms_counters`` run on the stream,
with the non-empty cells kept in the state store and merged across
micro-batches by ADDITION (CMS counters are linear — the property that
also makes the sketch mergeable across days/tenants).  Each batch
emits the cells it changed (update mode); the last emission per cell is
exactly the batch operator's counter over batches 1..k, which the
batch-equivalence test pins.  State is bounded by d*w cells total no
matter how much data flows through.  Counts are additive, so the
stream sits behind a checkpointed exactly-once source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.sketches import cms_counters


def cms_stream(events: DataFrame, key_col: str) -> DataFrame:
    """Streaming CMS counters: update-mode (row_id, col, cnt) cells."""
    return cms_counters(events, key_col)
