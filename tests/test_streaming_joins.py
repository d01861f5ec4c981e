"""Stream joins: the interval join always bounds its state with
watermarks, and the as-of join matches q37 in one trigger and carries
its state across triggers.  The interval join, the stream-static
enrichment and the as-of join's arrival-order fold run through the
harness (``tests/stream_twins.py``)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from otel_arrow_collector_spark import plan_tree
from otel_arrow_collector_spark.streaming.joins import interval_join_stream
from tests import stream_twins as st


def test_streaming_interval_join_matches_batch_q18(spark):
    st.assert_twin(spark, "interval_join", "split0", "split1", "check")


def test_operator_always_bounds_state_with_watermarks(spark):
    """Spark permits an unwatermarked inner stream-stream join (state then
    grows forever); the engine operator must never produce that plan —
    both inputs carry EventTimeWatermark and the condition carries the
    upper time bound, so join state is evictable."""
    ev = st.source(spark, st.fresh_dir("events"), st.EVENTS)
    joined = interval_join_stream(
        ev.filter("event_type = 'signup'"),
        ev.filter("event_type = 'purchase'"),
        key="user_id", interval="1 hour", watermark="2 hours")
    plan = plan_tree.read(joined._jdf.queryExecution().analyzed())
    assert plan.count("EventTimeWatermark") == 2   # both sides bounded
    assert joined.isStreaming


def test_stream_static_enrichment(spark):
    """Every streamed event carries its dimension row; unknown keys
    survive (left join)."""
    st.assert_twin(spark, "enrich", "split0", "split1", "check")


def test_streaming_asof_matches_batch_single_trigger(spark):
    """One trigger holding every event == the batch q37 plan (union and
    last signup at or before each purchase) on the same rows."""
    rows = st.feed(spark, st.TWINS["asof"])
    got = st.drain(spark, st.TWINS["asof"], [rows]).final
    e = st.frame(spark, st.EVENTS, rows)
    s = e.filter("event_type = 'signup'").selectExpr(
        "user_id", "unix_micros(ts) AS us", "event_id", "0 AS kind",
        "event_id AS s_id", "unix_micros(ts) AS s_us")
    p = e.filter("event_type = 'purchase'").selectExpr(
        "user_id", "unix_micros(ts) AS us", "event_id", "1 AS kind",
        "CAST(NULL AS BIGINT) AS s_id", "CAST(NULL AS BIGINT) AS s_us")
    w = (Window.partitionBy("user_id").orderBy("us", "kind", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    f = (s.unionByName(p)
         .withColumn("ls_id", F.last("s_id", ignorenulls=True).over(w))
         .withColumn("ls_us", F.last("s_us", ignorenulls=True).over(w)))
    assert got == {r.event_id: (r.user_id, r.ls_id, r.us - r.ls_us)
                   for r in f.filter("kind = 1 AND ls_id IS NOT NULL")
                   .collect()}
    assert got


def test_streaming_asof_state_survives_batches(spark):
    """Two time-ordered files, one per trigger: a purchase in batch 2
    matches the signup from batch 1 (state crosses the boundary)."""
    t0 = 1_704_067_200_000_000                  # 2024-01-01
    got = st.drain(spark, st.TWINS["asof"], [
        [(100, t0, 1, "signup", 0.0)],
        [(200, t0 + 5 * 60_000_000, 1, "purchase", 0.0),
         (300, t0 + 6 * 60_000_000, 1, "purchase", 0.0)]])
    assert {p: s for p, (_u, s, _gap) in got.final.items()} == \
        {200: 100, 300: 100}
