"""Streaming conversion-funnel state — the stateful twin of q71.

The per-user first timestamp per stage is Spark's own update-mode
streaming aggregation, ``groupBy(user).agg(min(when(stage)))`` — the
batch query's conditional aggregation run on the stream, with the
per-user minimums kept in the state store.  Each batch emits the users
it touched with their current stage timestamps.  Because the per-stage
aggregate is MIN (order-independent and idempotent), the final
streaming state equals the batch aggregation exactly, for ANY arrival
order — the equivalence the tests pin.

The funnel predicate itself (signup < first view < first purchase) is a
stateless projection over the emitted state, shared with the batch
query's definition.

Scale: state is one timestamp per stage per live user; the shuffle keys
on user_id (high cardinality).  Idle users can be expired with an
event-time timeout in production; kept forever here, mirroring the
reference's stream-lifetime state (arrow/stream.go:34-69).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Funnel stages in order (event_type values).
STAGES = ("signup", "view", "purchase")


def funnel_stream(events: DataFrame) -> DataFrame:
    """events(user_id, event_type, ts) -> update-mode per-user min
    timestamp per stage (user_id, t_signup, t_view, t_purchase)."""
    ts_ns = F.col("ts").cast("long")
    return (events.groupBy(F.col("user_id").cast("long").alias("user_id"))
            .agg(*[F.min(F.when(F.col("event_type") == s, ts_ns))
                   .alias(f"t_{s}") for s in STAGES]))


def funnel_flags(firsts: DataFrame) -> DataFrame:
    """Stage-completion flags over first-timestamp rows (shared by the
    batch and streaming paths): ordered-sequence semantics."""
    s1 = F.col("t_signup").isNotNull()
    s2 = s1 & (F.col("t_view") > F.col("t_signup"))
    s3 = s2 & (F.col("t_purchase") > F.col("t_view"))
    return firsts.select(
        "user_id", s1.alias("did_signup"), s2.alias("did_view_after"),
        s3.alias("did_full_funnel"))
