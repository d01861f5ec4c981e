"""The Arrow <-> row bridge (``otlp_pb.batch_to_rows`` / ``rows_to_batch``).

Every OTLP row crosses the Spark/Python boundary through this pair: the
``read_otlp_pb`` decode stage builds Arrow batches with ``rows_to_batch``,
and ``write_otlp_pb`` and the unary exporters' ``_push_stage`` read the
encoder's row dicts with ``batch_to_rows``.  The row-wise conversions
they replaced are kept here as the oracle: ``RecordBatch.from_pylist``
on the build side, ``to_pylist`` + ``_plainify`` on the read side.
"""

from __future__ import annotations

import json
import math
import struct

import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import ArrayType, MapType, StructType

from otel_arrow_collector_spark.model.telemetry import attr
from otel_arrow_collector_spark.sources.otlp_pb import (_SCHEMAS,
                                                        batch_to_rows,
                                                        decode_request,
                                                        encode_request,
                                                        rows_to_batch)

SIGNALS = ("traces", "logs", "metrics")
I64_MIN, I64_MAX = -(1 << 63), (1 << 63) - 1
NAN = float("nan")


# --- the replaced row-wise conversions, kept as the oracle ----------------

def _plainify(val, dt):
    if val is None:
        return None
    if isinstance(dt, MapType):
        items = val.items() if isinstance(val, dict) else val
        return {k: _plainify(v, dt.valueType) for k, v in items}
    if isinstance(dt, ArrayType):
        return [_plainify(x, dt.elementType) for x in val]
    if isinstance(dt, StructType):
        d = val if isinstance(val, dict) else val.asDict()
        return {f.name: _plainify(d.get(f.name), f.dataType)
                for f in dt.fields}
    if isinstance(val, bytearray):
        return bytes(val)
    return val


def _old_rows(batch, signal):
    fields = _SCHEMAS[signal].fields
    return [{f.name: _plainify(rec.get(f.name), f.dataType) for f in fields}
            for rec in batch.to_pylist()]


def _old_batch(rows, schema):
    return pa.RecordBatch.from_pylist(rows, schema=schema)


def _canon(x):
    """A comparable form that keeps what ``==`` would hide: dict entry
    order, int versus float, NaN (equal to itself here) versus null."""
    if isinstance(x, dict):
        return ("map", [(k, _canon(v)) for k, v in x.items()])
    if isinstance(x, (list, tuple)):
        return (type(x).__name__, [_canon(v) for v in x])
    if isinstance(x, float):
        return ("f", struct.pack("<d", x) if not math.isnan(x) else "nan")
    return (type(x).__name__, x)


def _same_batch(a, b) -> bool:
    """``RecordBatch.equals`` with NaN equal to NaN (``equals`` alone
    calls two batches that both hold a NaN different)."""
    return a.schema == b.schema and (_canon(a.to_pylist())
                                     == _canon(b.to_pylist()))


def _arrow_schema(signal):
    return to_arrow_schema(_SCHEMAS[signal])


# --- inputs ---------------------------------------------------------------

def _variants():
    return {"s": attr("str"), "e": {"s": ""}, "i": attr(-7),
            "d": attr(2.5), "n": {"d": NAN}, "b": attr(False),
            "j": attr({"k": [1, "x", None]})}


def _edge_rows(signal):
    """Rows the fixtures do not reach: null versus empty maps, lists and
    structs, NaN versus null doubles, int64 extremes, unsorted map
    entries, and keys left out of a row."""
    env = dict(resource_attributes={"z": attr("last"), "a": attr(1)},
               scope_name="s", scope_version="1")
    if signal == "traces":
        ev = dict(time_unix_nano=I64_MAX, name="e",
                  attributes=_variants(), dropped_attributes_count=0)
        ln = dict(trace_id="ab" * 16, span_id="cd" * 8, trace_state="",
                  attributes={}, dropped_attributes_count=3)
        return [
            dict(trace_id="01" * 16, span_id="02" * 8, name="full",
                 kind=2, start_time_unix_nano=I64_MIN,
                 end_time_unix_nano=I64_MAX, attributes=_variants(),
                 events=[ev, dict(ev, attributes=None)], links=[ln],
                 status_code=1, status_message="m", **env),
            dict(trace_id="03" * 16, span_id="04" * 8, attributes={},
                 events=[], links=None, resource_attributes=None),
            dict(trace_id="05" * 16, span_id="06" * 8, attributes=None,
                 events=None, links=[], scope_name=None),
            {"span_id": "07" * 8},
        ]
    if signal == "logs":
        return [
            dict(time_unix_nano=I64_MAX, observed_time_unix_nano=0,
                 severity_number=9, severity_text="INFO",
                 body=attr({"nested": {"a": [1.5, True]}}),
                 attributes=_variants(), flags=1, **env),
            dict(time_unix_nano=I64_MIN, body=None, attributes={}),
            dict(body={"s": None, "i": None, "d": None, "b": None,
                       "json": None}, attributes=None),
            dict(body={"d": NAN}, resource_attributes={}),
            {},
        ]
    ex = dict(filtered_attributes={"k": attr("v")}, time_unix_nano=1,
              value_double=NAN, value_int=None, span_id="08" * 8,
              trace_id="09" * 16)
    return [
        dict(metric_name="h", metric_type=3, aggregation_temporality=2,
             time_unix_nano=I64_MAX, attributes=_variants(), count=I64_MAX,
             sum=NAN, min=None, max=-0.0, bucket_counts=[0, I64_MAX, 2],
             explicit_bounds=[NAN, 1.0], exemplars=[ex, dict(
                 ex, filtered_attributes={}, value_double=None,
                 value_int=I64_MIN)], **env),
        dict(metric_name="e", metric_type=4, scale=-3, zero_count=0,
             positive_offset=-2, positive_bucket_counts=[],
             negative_offset=None, negative_bucket_counts=None,
             exemplars=[]),
        dict(metric_name="q", metric_type=5, sum=None, quantile_values=[
            dict(quantile=0.5, value=NAN), dict(quantile=1.0, value=None)]),
        dict(metric_name="g", metric_type=1, value_int=I64_MIN,
             attributes=None, bucket_counts=None),
        {"metric_name": "only a name", "metric_type": 1},
    ]


@pytest.fixture(scope="module")
def signal_rows(spark):
    """Per signal: the model fixtures as the encoder sees them (through a
    Spark collect), their decoded form (what the read stage builds
    batches from), and the edge rows."""
    from otel_arrow_collector_spark.model import (generate_logs,
                                                  generate_metrics,
                                                  generate_traces)
    out = {}
    for signal, gen, n in (("traces", generate_traces, 6),
                           ("logs", generate_logs, 5),
                           ("metrics", generate_metrics, 7)):
        fixture = [r.asDict(recursive=True) for r in gen(spark, n).collect()]
        decoded = decode_request(encode_request(fixture, signal), signal)
        out[signal] = fixture + decoded + _edge_rows(signal)
    return out


# --- rows -> batch --------------------------------------------------------

@pytest.mark.parametrize("signal", SIGNALS)
def test_rows_to_batch_equals_from_pylist(signal_rows, signal):
    rows, schema = signal_rows[signal], _arrow_schema(signal)
    got = rows_to_batch(rows, schema)
    assert got.schema == schema
    assert _same_batch(got, _old_batch(rows, schema))
    finite = [r for r in rows if "nan" not in repr(r)]
    assert rows_to_batch(finite, schema).equals(_old_batch(finite, schema))


@pytest.mark.parametrize("column, value", [
    ("kind", 1 << 31), ("kind", -(1 << 31) - 1),
    ("start_time_unix_nano", 1 << 63), ("start_time_unix_nano", 1 << 64),
    ("dropped_attributes_count", True), ("name", 5)])
def test_out_of_range_values_raise_as_from_pylist(column, value):
    schema = _arrow_schema("traces")
    rows = [{"span_id": "01" * 8}, {"span_id": "02" * 8, column: value}]
    with pytest.raises(Exception) as old:
        _old_batch(rows, schema)
    with pytest.raises(type(old.value)):
        rows_to_batch(rows, schema)


# --- batch -> rows --------------------------------------------------------

@pytest.mark.parametrize("signal", SIGNALS)
def test_batch_to_rows_equals_plainify(signal_rows, signal):
    batch = _old_batch(signal_rows[signal], _arrow_schema(signal))
    names = _SCHEMAS[signal].names
    got, want = batch_to_rows(batch, names), _old_rows(batch, signal)
    assert _canon(got) == _canon(want)
    assert encode_request(got, signal) == encode_request(want, signal)


@pytest.mark.parametrize("signal", SIGNALS)
def test_sliced_batches(signal_rows, signal):
    """Slices start at non-zero offsets into every child array."""
    batch = _old_batch(signal_rows[signal], _arrow_schema(signal))
    names = _SCHEMAS[signal].names
    n = batch.num_rows
    for lo, ln in ((1, n - 2), (n - 3, 3), (n // 2, 1), (n - 1, 0)):
        part = batch.slice(lo, ln)
        assert _canon(batch_to_rows(part, names)) \
            == _canon(_old_rows(part, signal)), (lo, ln)


def test_map_order_nulls_nan_and_extremes():
    schema = _arrow_schema("traces")
    rows = _edge_rows("traces")
    got = batch_to_rows(rows_to_batch(rows, schema), _SCHEMAS["traces"].names)
    full, empty, null, sparse = got
    assert list(full["resource_attributes"]) == ["z", "a"]
    assert list(full["attributes"]) == list(_variants())
    assert full["start_time_unix_nano"] == I64_MIN
    assert full["end_time_unix_nano"] == I64_MAX
    assert math.isnan(full["attributes"]["n"]["d"])
    assert full["attributes"]["s"] == dict(s="str", i=None, d=None,
                                           b=None, json=None)
    assert full["events"][1]["attributes"] is None
    assert (empty["attributes"], empty["events"], empty["links"],
            empty["resource_attributes"]) == ({}, [], None, None)
    assert (null["attributes"], null["events"], null["links"]) \
        == (None, None, [])
    assert sparse["span_id"] == "07" * 8
    assert all(v is None for k, v in sparse.items() if k != "span_id")


def test_columns_missing_from_the_batch_read_as_null():
    batch = pa.RecordBatch.from_pylist(
        [{"span_id": "01" * 8, "extra": 1}])
    got = batch_to_rows(batch, _SCHEMAS["traces"].names)
    assert list(got[0]) == _SCHEMAS["traces"].names
    assert got[0]["span_id"] == "01" * 8
    assert got[0]["trace_id"] is None and "extra" not in got[0]


# --- a batch as Spark's own mapInArrow ships it ---------------------------

def test_spark_batch_with_nested_column_null_in_every_row(spark):
    """Spark ships the zero-length child of a list column that is null
    (or empty) in every row without usable offsets: the nested map's
    offsets read as garbage.  The bridge must read such columns without
    touching those offsets: ``links`` is null in every row, ``events``
    alternates null and empty."""
    from otel_arrow_collector_spark.model.telemetry import SPAN_SCHEMA
    rows = [dict(trace_id="%032x" % i, span_id="%016x" % i, name=f"s{i}",
                 kind=1, start_time_unix_nano=I64_MAX - i,
                 attributes={"k": attr(i), "a": attr(float(i) / 3)},
                 events=[] if i % 2 else None, links=None,
                 resource_attributes={"service.name": attr("svc")})
            for i in range(40)]
    names = SPAN_SCHEMA.names

    def to_json(batches):
        from otel_arrow_collector_spark.sources.otlp_pb import (
            batch_to_rows)
        for batch in batches:
            yield pa.RecordBatch.from_pylist(
                [{"rows": json.dumps(batch_to_rows(batch, names))}])

    df = spark.createDataFrame(rows, SPAN_SCHEMA).repartition(3)
    got = [r for row in df.mapInArrow(to_json, "rows string").collect()
           for r in json.loads(row.rows)]
    want = [r.asDict(recursive=True) for r in df.collect()]
    key = lambda r: r["span_id"]             # noqa: E731
    assert len(got) == len(rows)
    assert _canon(sorted(got, key=key)) == _canon(sorted(want, key=key))
    assert {r["links"] is None and r["events"] in (None, []) for r in got} \
        == {True}
