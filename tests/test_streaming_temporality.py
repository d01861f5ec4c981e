"""Temporality twins: delta -> cumulative, counter rate, and the
histogram merges run through the harness (``tests/stream_twins.py``),
whose checks pin each against its batch operator; the names below are
cases of it.  Here: mixed bounds are refused, and spanmetrics compose
with the stateful merge."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests import stream_twins as st


def test_stream_matches_batch_totals(spark):
    """Cross-micro-batch state reproduces the per-series totals."""
    st.assert_twin(spark, "cumulative", "split0", "split1", "check")


def test_stream_matches_batch_converter_pointwise(spark):
    """Time-ordered arrival: every point equals the batch converter's."""
    st.assert_twin(spark, "cumulative", "split0", "check")


def test_counter_rate_stream_matches_batch_window(spark):
    """Stream rate == batch lag-window rate with the same reset
    semantics (q40), and late points get no rate."""
    st.assert_twin(spark, "counter_rate", "split0", "split1", "check")


def test_histogram_merge_stream_rejects_mixed_bounds(spark):
    """Mixing bounds within one series fails loudly (the batch
    BoundsMismatchError contract, not a silent mis-merge)."""
    with pytest.raises(Exception, match="explicit_bounds|mixes"):
        st.drain(spark, st.TWINS["histogram_merge"], [[
            ("m", "|x", 1, 1, 1.0, [10.0], [1, 0]),
            ("m", "|x", 2, 1, 1.0, [20.0], [0, 1])]])


@pytest.mark.slow
def test_streaming_spanmetrics_composition(spark):
    """Traces stream -> per-micro-batch span_red_metrics (delta
    histograms) -> histogram_merge_stream (cumulative) == batch
    span_red_metrics over ALL spans: the traces->metrics connector
    composes with the stateful merge exactly as the batch path."""
    from otel_arrow_collector_spark.model.telemetry import generate_traces
    from otel_arrow_collector_spark.operators.spans import span_red_metrics

    spans = generate_traces(spark, 12)
    bounds = [1000.0, 2000.0]
    src, pts_dir = st.fresh_dir("spans"), st.fresh_dir("red_points")
    for i in range(3):                          # 3 files -> 3 batches
        (spans.filter(F.expr(
            f"pmod(hash(span_id, name, start_time_unix_nano), 3) = {i}"))
         .coalesce(1).write.mode("append").parquet(src))

    def to_red(batch_df, _bid):
        """Spanmetrics per micro-batch -> delta points for the merge."""
        (span_red_metrics(batch_df, bounds_ms=bounds).select(
            "metric_name",
            F.expr("concat(attributes['span.name'].s, '|', "
                   "CAST(attributes['status.code'].i AS STRING))")
            .alias("series_fp"),
            "time_unix_nano", "count", "sum", "explicit_bounds",
            "bucket_counts")
         .coalesce(1).write.mode("append").parquet(pts_dir))

    st.finish(st.source(spark, src, spans.schema).writeStream
              .foreachBatch(to_red)
              .option("checkpointLocation", st.fresh_dir("ckpt"))
              .trigger(availableNow=True).start())
    twin = st.TWINS["histogram_merge"]
    batches: list = []
    st.finish(st.start(twin, st.source(spark, pts_dir, twin.schema),
                       lambda df, _bid: batches.append(df.collect()),
                       st.fresh_dir("ckpt")))
    got = st.result(twin, batches, None)
    want = {(r.metric_name, f"{r.attributes['span.name'].s}|"
             f"{r.attributes['status.code'].i}"): r
            for r in span_red_metrics(spans, bounds_ms=bounds).collect()}
    assert set(got) == set(want)
    for k, (_t, count, total, _b, buckets) in got.items():
        assert (count, buckets) == (want[k]["count"],
                                    list(want[k].bucket_counts))
        assert total == pytest.approx(want[k]["sum"])
