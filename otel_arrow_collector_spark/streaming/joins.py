"""Stream-stream interval join — the streaming twin of declared query
Q18 (timestamp-correlation theta join, SURVEY.md §2.8): correlate two
event streams on an equi-key within a bounded time interval.

Structured Streaming requires watermarks on BOTH sides plus a time-range
join condition so it can bound the join state: each side buffers only
rows younger than (watermark + interval).  That state bound is exactly
what makes the operator viable on an unbounded 100 TB/day stream — the
batch Q18 plan would buffer everything.

Reference parity: the reference correlates telemetry by trace context in
stateless pass-through fashion; interval correlation (signup→purchase,
span→log, request→retry) is the analytical extension the engine adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join_stream(left: DataFrame, right: DataFrame,
                         key: str = "user_id",
                         ts_col: str = "ts",
                         interval: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """Join rows of ``right`` occurring in (left.ts, left.ts + interval]
    for the same ``key``.  Both inputs may be streaming DataFrames; each
    gets a watermark so the join state is bounded.

    Returns (key, l_ts, r_ts, l_event_id, r_event_id).
    """
    lw = (left.withWatermark(ts_col, watermark)
              .select(F.col(key).alias("l_key"),
                      F.col(ts_col).alias("l_ts"),
                      F.col("event_id").alias("l_event_id")))
    rw = (right.withWatermark(ts_col, watermark)
               .select(F.col(key).alias("r_key"),
                       F.col(ts_col).alias("r_ts"),
                       F.col("event_id").alias("r_event_id")))
    cond = ((F.col("l_key") == F.col("r_key"))
            & (F.col("r_ts") > F.col("l_ts"))
            & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {interval}")))
    return (lw.join(rw, cond)
              .select(F.col("l_key").alias(key),
                      "l_ts", "r_ts", "l_event_id", "r_event_id"))


def enrich_stream(stream: DataFrame, dim: DataFrame, key: str,
                  how: str = "left") -> DataFrame:
    """Stream-static enrichment join — the streaming form of attaching
    resource/dimension attributes to records
    (docs/processing.md:210-214 ``set(attributes[...],
    resource.attributes[...])``; Q12's enrichment join).

    No stream state at all: the static side is a scan the optimizer
    sizes, so a dimension under ``autoBroadcastJoinThreshold`` is
    broadcast to every task of every micro-batch, and the dimension may
    be refreshed between batches (Spark re-resolves the static plan per
    micro-batch).  Default LEFT join: an unknown key must not drop
    telemetry (missing-dimension tolerance, Q14).
    """
    return stream.join(dim, key, how)


# ---------------------------------------------------------------------------
# stream as-of join (streaming twin of declared query q37)
# ---------------------------------------------------------------------------

from collections.abc import Iterator as _Iterator

import pandas as _pd

from pyspark.sql.streaming.state import (GroupState as _GroupState,
                                         GroupStateTimeout as _Timeout)
from pyspark.sql.types import (LongType as _Long, StructField as _Field,
                               StructType as _Struct)

ASOF_SCHEMA = _Struct([
    _Field("user_id", _Long()),
    _Field("purchase_id", _Long()),
    _Field("signup_id", _Long()),
    _Field("gap_us", _Long()),
])

_ASOF_STATE = _Struct([
    _Field("s_id", _Long()),
    _Field("s_us", _Long()),
])


def _asof(key: tuple, pdfs: _Iterator[_pd.DataFrame],
          state: _GroupState) -> _Iterator[_pd.DataFrame]:
    s_id, s_us = state.get if state.exists else (None, None)
    rows = _pd.concat(list(pdfs), ignore_index=True)
    if not len(rows):
        return
    # event-time order within the batch; signup before purchase on ties
    rows = rows.sort_values(["us", "kind", "event_id"], kind="mergesort")
    out = []
    for r in rows.itertuples(index=False):
        if r.kind == 0:
            s_id, s_us = int(r.event_id), int(r.us)
        elif s_id is not None:
            out.append(dict(user_id=key[0], purchase_id=int(r.event_id),
                            signup_id=s_id, gap_us=int(r.us) - s_us))
    state.update((s_id, s_us))
    if out:
        yield _pd.DataFrame(out)


def asof_join_stream(events: DataFrame) -> DataFrame:
    """Streaming as-of join: each purchase is matched to the same user's
    most recent at-or-before signup — the stateful twin of declared query
    q37 (which runs the merge-sort union+window plan in batch).

    Structured Streaming's built-in stream-stream join cannot express
    "latest one match" (it emits ALL matches in the interval), so this is
    an ``applyInPandasWithState`` operator: state per user is ONE row
    (last seen signup id + µs timestamp) — bounded regardless of stream
    length, the property that keeps it viable on an unbounded stream.

    Arrival-order stance (same as the temporality converter): within a
    micro-batch rows are processed in event-time order; across batches a
    late signup does not retro-match earlier purchases — the reference's
    arrival-time-driven semantics (SURVEY.md §2.9).
    """
    tagged = (events
              .filter(F.col("event_type").isin("signup", "purchase"))
              .select("user_id",
                      F.unix_micros("ts").alias("us"),
                      "event_id",
                      F.when(F.col("event_type") == "signup", 0)
                       .otherwise(1).alias("kind")))
    return (tagged.groupBy("user_id")
                  .applyInPandasWithState(
                      _asof, ASOF_SCHEMA, _ASOF_STATE,
                      "append", _Timeout.NoTimeout))
