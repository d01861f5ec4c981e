"""Flattened telemetry row schemas + canonical fixture generators.

Data model (SURVEY.md §1.5): one DataFrame row per span / datapoint / log
record; the 3-level nesting (Resource -> Scope -> record) becomes struct/map
columns carried on every row — the same flattening the reference's OTTL
design presents for processing (docs/processing.md:107-117).

Any-typed attributes (pcommon.Value, pdata/pcommon/value.go:17-29) use a
**tagged variant struct** ``{s, i, d, b}`` (string/int64/double/bool — one
non-null); log bodies add a ``json`` arm for map/array bodies.  This is the
§1.5 "variant-struct encoding": typed, lossless, and accessible from pure
SQL (``attributes['k'].s``) with no UDFs.

Timestamps are int64 **nanoseconds** (pdata/pcommon/timestamp.go:15); ids
are lowercase hex strings (TraceID 32 chars, SpanID 16,
pdata/internal/data/traceid.go).

Fixture generators mirror the reference's canonical test inputs so operator
tests assert against the same golden values as the reference's own suite:
- generate_traces  <- internal/testdata/trace.go:19-71 (GenerateTraces)
- generate_logs    <- internal/testdata/log.go:17-59  (GenerateLogs)
- generate_metrics <- internal/testdata/metric.go:82-271 (GenerateMetrics;
  one row per datapoint, 2 datapoints per metric, 7 metric kinds cycled)
"""

from __future__ import annotations

import calendar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (ArrayType, BooleanType, DoubleType,
                               IntegerType, LongType, MapType, StringType,
                               StructField, StructType)

from ..session import local_frame


def _ns(y, mo, d, h, mi, s, nanos) -> int:
    return calendar.timegm((y, mo, d, h, mi, s)) * 1_000_000_000 + nanos


#: Golden timestamps (trace.go:13-17, log.go:13-14, metric.go:13-17).
SPAN_START_NS = _ns(2020, 2, 11, 20, 26, 12, 321)
SPAN_EVENT_NS = _ns(2020, 2, 11, 20, 26, 13, 123)
SPAN_END_NS = _ns(2020, 2, 11, 20, 26, 13, 789)
LOG_TS_NS = SPAN_END_NS
METRIC_START_NS, METRIC_EXEMPLAR_NS, METRIC_TS_NS = (
    SPAN_START_NS, SPAN_EVENT_NS, SPAN_END_NS)

#: Tagged variant value (pcommon.Value scalar arms).
VALUE_TYPE = StructType([
    StructField("s", StringType()),
    StructField("i", LongType()),
    StructField("d", DoubleType()),
    StructField("b", BooleanType()),
    StructField("json", StringType()),   # Map/Slice bodies as JSON text
])

ATTR_TYPE = MapType(StringType(), VALUE_TYPE)


def attr(v) -> dict:
    """Build one tagged attribute value from a python scalar."""
    if isinstance(v, bool):
        return {"b": v}
    if isinstance(v, int):
        return {"i": v}
    if isinstance(v, float):
        return {"d": v}
    if isinstance(v, str):
        return {"s": v}
    import json as _json
    return {"json": _json.dumps(v, separators=(",", ":"))}


_EVENT_TYPE = StructType([
    StructField("time_unix_nano", LongType()),
    StructField("name", StringType()),
    StructField("attributes", ATTR_TYPE),
    StructField("dropped_attributes_count", IntegerType()),
])
_LINK_TYPE = StructType([
    StructField("trace_id", StringType()),
    StructField("span_id", StringType()),
    StructField("trace_state", StringType()),
    StructField("attributes", ATTR_TYPE),
    StructField("dropped_attributes_count", IntegerType()),
])

_ENVELOPE = [   # Resource + Scope columns carried on every row (§1.1)
    StructField("resource_attributes", ATTR_TYPE),
    StructField("scope_name", StringType()),
    StructField("scope_version", StringType()),
]

#: Span rows (ptrace/generated_span.go:48-173).
SPAN_SCHEMA = StructType([
    StructField("trace_id", StringType()),
    StructField("span_id", StringType()),
    StructField("parent_span_id", StringType()),
    StructField("trace_state", StringType()),
    StructField("name", StringType()),
    StructField("kind", IntegerType()),
    StructField("start_time_unix_nano", LongType()),
    StructField("end_time_unix_nano", LongType()),
    StructField("attributes", ATTR_TYPE),
    StructField("dropped_attributes_count", IntegerType()),
    StructField("events", ArrayType(_EVENT_TYPE)),
    StructField("dropped_events_count", IntegerType()),
    StructField("links", ArrayType(_LINK_TYPE)),
    StructField("dropped_links_count", IntegerType()),
    StructField("status_code", IntegerType()),
    StructField("status_message", StringType()),
] + _ENVELOPE)

#: Log-record rows (plog/generated_logrecord.go:47-136).
LOG_SCHEMA = StructType([
    StructField("time_unix_nano", LongType()),
    StructField("observed_time_unix_nano", LongType()),
    StructField("trace_id", StringType()),
    StructField("span_id", StringType()),
    StructField("flags", IntegerType()),
    StructField("severity_number", IntegerType()),
    StructField("severity_text", StringType()),
    StructField("body", VALUE_TYPE),
    StructField("attributes", ATTR_TYPE),
    StructField("dropped_attributes_count", IntegerType()),
] + _ENVELOPE)

_EXEMPLAR_TYPE = StructType([
    StructField("filtered_attributes", ATTR_TYPE),
    StructField("time_unix_nano", LongType()),
    StructField("value_double", DoubleType()),
    StructField("value_int", LongType()),
    StructField("span_id", StringType()),
    StructField("trace_id", StringType()),
])
_QUANTILE_TYPE = StructType([
    StructField("quantile", DoubleType()),
    StructField("value", DoubleType()),
])

#: Metric datapoint rows (pmetric/generated_metric.go:45-217 oneof flattened;
#: metric_type discriminates, pmetric/metric_type.go:10-17).
METRIC_POINT_SCHEMA = StructType([
    StructField("metric_name", StringType()),
    StructField("description", StringType()),
    StructField("unit", StringType()),
    StructField("metric_type", IntegerType()),          # 0-5
    StructField("aggregation_temporality", IntegerType()),  # 0-2
    StructField("is_monotonic", BooleanType()),
    StructField("start_time_unix_nano", LongType()),
    StructField("time_unix_nano", LongType()),
    StructField("attributes", ATTR_TYPE),
    StructField("value_int", LongType()),
    StructField("value_double", DoubleType()),
    StructField("count", LongType()),
    StructField("sum", DoubleType()),
    StructField("min", DoubleType()),
    StructField("max", DoubleType()),
    StructField("bucket_counts", ArrayType(LongType())),
    StructField("explicit_bounds", ArrayType(DoubleType())),
    StructField("scale", IntegerType()),
    StructField("zero_count", LongType()),
    StructField("positive_offset", IntegerType()),
    StructField("positive_bucket_counts", ArrayType(LongType())),
    StructField("negative_offset", IntegerType()),
    StructField("negative_bucket_counts", ArrayType(LongType())),
    StructField("quantile_values", ArrayType(_QUANTILE_TYPE)),
    StructField("exemplars", ArrayType(_EXEMPLAR_TYPE)),
    StructField("flags", IntegerType()),
] + _ENVELOPE)


_RESOURCE = {"resource-attr": attr("resource-attr-val-1")}   # resource.go:9


def _envelope() -> dict:
    return {"resource_attributes": _RESOURCE, "scope_name": "",
            "scope_version": ""}


# ----------------------------- traces -------------------------------------

def generate_traces(spark: SparkSession, span_count: int) -> DataFrame:
    """GenerateTraces (trace.go:19-71): alternating operationA/operationB."""
    rows = []
    for i in range(span_count):
        if i % 2 == 0:   # fillSpanOne (trace.go:35-58)
            rows.append(dict(
                trace_id="0102030405060708090a0b0c0d0e0f10",
                span_id="1112131415161718",
                parent_span_id=None, trace_state="", name="operationA",
                kind=0, start_time_unix_nano=SPAN_START_NS,
                end_time_unix_nano=SPAN_END_NS,
                attributes={}, dropped_attributes_count=1,
                events=[
                    dict(time_unix_nano=SPAN_EVENT_NS, name="event",
                         attributes={}, dropped_attributes_count=2),
                    dict(time_unix_nano=SPAN_EVENT_NS, name="event-with-attr",
                         attributes={"span-event-attr":
                                     attr("span-event-attr-val")},
                         dropped_attributes_count=2),
                ],
                dropped_events_count=1, links=None, dropped_links_count=0,
                status_code=2, status_message="status-cancelled",
                **_envelope()))
        else:            # fillSpanTwo (trace.go:60-71)
            rows.append(dict(
                trace_id="", span_id="", parent_span_id=None,
                trace_state="", name="operationB", kind=0,
                start_time_unix_nano=SPAN_START_NS,
                end_time_unix_nano=SPAN_END_NS,
                attributes={}, dropped_attributes_count=0,
                events=None, dropped_events_count=0,
                links=[
                    dict(trace_id="", span_id="", trace_state="",
                         attributes={"span-link-attr":
                                     attr("span-link-attr-val")},
                         dropped_attributes_count=4),
                    dict(trace_id="", span_id="", trace_state="",
                         attributes={}, dropped_attributes_count=4),
                ],
                dropped_links_count=3, status_code=0, status_message="",
                **_envelope()))
    return local_frame(spark, rows, SPAN_SCHEMA)


# ------------------------------ logs ---------------------------------------

def generate_logs(spark: SparkSession, count: int) -> DataFrame:
    """GenerateLogs (log.go:17-59): alternating logTwo/logOne (even i ->
    fillLogTwo, matching the reference's switch)."""
    rows = []
    for i in range(count):
        if i % 2 == 0:   # fillLogTwo (log.go:47-59)
            rows.append(dict(
                time_unix_nano=LOG_TS_NS + 1, observed_time_unix_nano=0,
                trace_id=None, span_id=None, flags=0,
                severity_number=9, severity_text="Info",
                body={"s": "something happened"},
                attributes={"customer": attr("acme"), "env": attr("dev")},
                dropped_attributes_count=1, **_envelope()))
        else:            # fillLogOne (log.go:32-45)
            rows.append(dict(
                time_unix_nano=LOG_TS_NS, observed_time_unix_nano=0,
                trace_id="08040201000000000000000000000000",
                span_id="0102040800000000", flags=0,
                severity_number=9, severity_text="Info",
                body={"s": "This is a log message"},
                attributes={"app": attr("server"), "instance_num": attr(1)},
                dropped_attributes_count=1, **_envelope()))
    return local_frame(spark, rows, LOG_SCHEMA)


# ----------------------------- metrics -------------------------------------

_A1 = {"label-1": attr("label-value-1")}
_A2 = {"label-2": attr("label-value-2")}
_A12 = {**_A1, **_A2}
_A13 = {**_A1, "label-3": attr("label-value-3")}
_AEX = {"exemplar-attachment": attr("exemplar-attachment-value")}


def _dp(name, mtype, **kw) -> dict:
    base = dict(metric_name=name, description="", unit="1",
                metric_type=mtype, aggregation_temporality=0,
                is_monotonic=None, start_time_unix_nano=METRIC_START_NS,
                time_unix_nano=METRIC_TS_NS, attributes={}, value_int=None,
                value_double=None, count=None, sum=None, min=None, max=None,
                bucket_counts=None, explicit_bounds=None, scale=None,
                zero_count=None, positive_offset=None,
                positive_bucket_counts=None, negative_offset=None,
                negative_bucket_counts=None, quantile_values=None,
                exemplars=None, flags=0, **_envelope())
    base.update(kw)
    return base


def _metric_dps(kind: int) -> list[dict]:
    """Datapoints for GenerateMetrics' 7-way cycle (metric.go:82-271)."""
    ex = [dict(filtered_attributes=_AEX, time_unix_nano=METRIC_EXEMPLAR_NS,
               value_double=15.0, value_int=None, span_id=None, trace_id=None)]
    if kind == 0:    # gauge-int (metric.go:107-120)
        return [_dp("gauge-int", 1, attributes=_A1, value_int=123),
                _dp("gauge-int", 1, attributes=_A2, value_int=456)]
    if kind == 1:    # gauge-double (metric.go:122-137)
        return [_dp("gauge-double", 1, attributes=_A12, value_double=1.23),
                _dp("gauge-double", 1, attributes=_A13, value_double=4.56)]
    if kind == 2:    # sum-int: monotonic cumulative (metric.go:139-152,272-305)
        return [_dp("sum-int", 2, aggregation_temporality=2,
                    is_monotonic=True, attributes=_A1, value_int=123),
                _dp("sum-int", 2, aggregation_temporality=2,
                    is_monotonic=True, attributes=_A2, value_int=456)]
    if kind == 3:    # sum-double
        return [_dp("sum-double", 2, aggregation_temporality=2,
                    is_monotonic=True, attributes=_A12, value_double=1.23),
                _dp("sum-double", 2, aggregation_temporality=2,
                    is_monotonic=True, attributes=_A13, value_double=4.56)]
    if kind == 4:    # histogram (metric.go:170-196)
        return [_dp("histogram", 3, aggregation_temporality=2,
                    attributes=_A13, count=1, sum=15.0),
                _dp("histogram", 3, aggregation_temporality=2,
                    attributes=_A2, count=1, sum=15.0, min=15.0, max=15.0,
                    bucket_counts=[0, 1], explicit_bounds=[1.0],
                    exemplars=ex)]
    if kind == 5:    # exponential-histogram (metric.go:198-246)
        return [_dp("exponential-histogram", 4, aggregation_temporality=1,
                    attributes=_A13, count=5, sum=0.15, zero_count=1,
                    scale=1, positive_offset=1,
                    positive_bucket_counts=[1, 1], negative_offset=-1,
                    negative_bucket_counts=[1, 1]),
                _dp("exponential-histogram", 4, aggregation_temporality=1,
                    attributes=_A2, count=3, sum=1.25, min=0.0, max=1.0,
                    zero_count=1, scale=-1, positive_offset=-1,
                    positive_bucket_counts=[1, 1], exemplars=ex)]
    # kind == 6: summary (metric.go:248-271)
    return [_dp("summary", 5, attributes=_A13, count=1, sum=15.0),
            _dp("summary", 5, attributes=_A2, count=1, sum=15.0,
                quantile_values=[dict(quantile=0.01, value=15.0)])]


def generate_metrics(spark: SparkSession, metric_count: int) -> DataFrame:
    """GenerateMetrics (metric.go:82-104): cycles the 7 metric kinds;
    one row per datapoint (2 per metric)."""
    rows = []
    for i in range(metric_count):
        rows.extend(_metric_dps(i % 7))
    return local_frame(spark, rows, METRIC_POINT_SCHEMA)


# ----------------------------- counts --------------------------------------

def span_count(df: DataFrame) -> int:
    """Traces.SpanCount (ptrace/traces.go:33-45) — rows ARE spans here."""
    return df.count()


def log_record_count(df: DataFrame) -> int:
    """Logs.LogRecordCount (plog/logs.go:34-47)."""
    return df.count()


def metric_point_count(df: DataFrame) -> int:
    """Metrics.DataPointCount (pmetric/metrics.go:39-65)."""
    return df.count()
