"""Span-structure operators over the canonical trace fixtures
(internal/testdata/trace.go semantics: alternating operationA/B spans,
events on A-spans, links on B-spans)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from otel_arrow_collector_spark.model import generate_traces
from otel_arrow_collector_spark.operators.spans import (explode_events,
                                                        explode_links,
                                                        parent_child_edges,
                                                        root_spans,
                                                        span_durations)


def test_explode_events_keeps_context(spark):
    td = generate_traces(spark, 6)
    ev = explode_events(td)
    assert ev.count() == td.select(F.sum(F.size(F.coalesce(
        "events", F.array())))).first()[0]
    r = ev.first()
    assert r.trace_id and r.event_name
    assert "event_attributes" in ev.columns


def test_explode_links(spark):
    td = generate_traces(spark, 6)
    lk = explode_links(td)
    n_links = td.select(F.sum(F.size(F.coalesce(
        "links", F.array())))).first()[0]
    assert lk.count() == n_links
    assert {"linked_trace_id", "linked_span_id",
            "link_attributes"} <= set(lk.columns)


def test_span_durations_nonnegative(spark):
    td = generate_traces(spark, 8)
    d = span_durations(td)
    assert d.filter(F.col("duration_ns") < 0).count() == 0
    assert d.select(F.max("duration_ns")).first()[0] > 0


def test_parent_child_and_roots_partition_spans(spark):
    td = generate_traces(spark, 8)
    edges = parent_child_edges(td)
    roots = root_spans(td)
    # every span is a root or a child reachable via an edge (fixture traces
    # are single-level), and no span is both
    n = td.count()
    assert roots.count() + edges.count() >= n or edges.count() == 0
    assert roots.count() <= n


# ---------------------------------------------------------------------------
# spanmetrics (traces -> RED metrics connector)
# ---------------------------------------------------------------------------

@pytest.mark.slow
def test_span_red_metrics_histogram_points(spark):
    """Counts, error dimension, duration buckets and schema conformance:
    the output is METRIC_POINT_SCHEMA and feeds merge/quantile as-is."""
    from otel_arrow_collector_spark.model.telemetry import (
        METRIC_POINT_SCHEMA, generate_traces)
    from otel_arrow_collector_spark.operators.metrics import (
        histogram_quantile_col, merge_histograms)
    from otel_arrow_collector_spark.operators.spans import span_red_metrics

    spans = generate_traces(spark, 8)       # 4x operationA(err) + 4x opB(ok)
    pts = span_red_metrics(spans, bounds_ms=[1000.0, 2000.0])
    assert pts.schema.simpleString() == METRIC_POINT_SCHEMA.simpleString()
    rows = {(r.attributes["span.name"].s, r.attributes["status.code"].i): r
            for r in pts.collect()}
    assert set(rows) == {("operationA", 2), ("operationB", 0)}
    a = rows[("operationA", 2)]
    # golden duration: end-start = 1s + 468ns -> 1000.000468 ms, bucket
    # [1000, 2000)
    assert a["count"] == 4 and list(a.bucket_counts) == [0, 4, 0]
    assert a["metric_type"] == 3 and a["unit"] == "ms"
    assert a["sum"] == pytest.approx(4 * 1000.000468)

    # the §2.7 read side consumes the connector output unchanged
    merged = merge_histograms(pts)
    assert merged.count() == 2
    q = merged.select(histogram_quantile_col(
        0.5, "bucket_counts", "explicit_bounds").alias("p50")).collect()
    assert all(1000.0 <= r.p50 <= 2000.0 for r in q)


def test_spanmetrics_connector_bridges_pipelines(spark):
    """traces pipeline -> spanmetrics connector -> metrics pipeline."""
    from otel_arrow_collector_spark.model.telemetry import generate_traces
    from otel_arrow_collector_spark.plans.pipeline import PipelineGraph

    src = generate_traces(spark, 6)
    g = PipelineGraph({
        "receivers": {"tr": {"kind": "memory"}},
        "connectors": {"sm": {"kind": "spanmetrics",
                              "latency_bounds_ms": [1000.0, 2000.0]}},
        "exporters": {"out": {"kind": "memory"}},
        "pipelines": {
            "traces": {"receivers": ["tr"], "exporters": ["sm"]},
            "metrics": {"receivers": ["sm"], "exporters": ["out"]},
        },
    })
    rows = g.compile(spark, sources={"tr": src}).run()["metrics/out"]
    assert len(rows) == 2                    # (opA, err) + (opB, ok)
    assert {r.metric_name for r in rows} == {"duration_ms"}
    assert sum(r["count"] for r in rows) == 6
