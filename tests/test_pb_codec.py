"""OTLP protobuf wire codec tests (ptrace/pb.go, plog/pb.go, pmetric/pb.go
marshal surface): roundtrips through real proto3 wire bytes, wire-level
golden checks, and cross-codec (pb vs JSON) agreement."""

from __future__ import annotations

import pytest

from otel_arrow_collector_spark.model import (generate_logs,
                                              generate_metrics,
                                              generate_traces)
from otel_arrow_collector_spark.sources.otlp_pb import (_dec_varint,
                                                        _enc_varint,
                                                        _unzigzag, _zigzag,
                                                        decode_request,
                                                        encode_request,
                                                        read_otlp_pb,
                                                        write_otlp_pb)
from tests.test_codecs import _canon


def test_varint_roundtrip_edges():
    for n in (0, 1, 127, 128, 300, (1 << 32) - 1, (1 << 63) - 1, -1, -5):
        enc = _enc_varint(n)
        dec, pos = _dec_varint(enc, 0)
        assert pos == len(enc)
        expect = n if n >= 0 else n + (1 << 64)
        assert dec == expect


def test_zigzag_roundtrip():
    for n in (0, -1, 1, -2, 2, -(1 << 30), 1 << 30):
        assert _unzigzag(_zigzag(n)) == n


def test_span_wire_golden():
    """Hand-check a minimal span against the proto3 wire format: field 5
    (name) tag 0x2A, field 6 (kind) tag 0x30, fixed64 timestamps."""
    row = dict(trace_id="00000000000000000000000000000001",
               span_id="0000000000000002", name="op", kind=2,
               start_time_unix_nano=1, end_time_unix_nano=2,
               resource_attributes={}, scope_name="", scope_version="")
    payload = encode_request([row], "traces")
    assert b"\x2a\x02op" in payload          # name field
    assert b"\x30\x02" in payload            # kind varint
    back = decode_request(payload, "traces")
    assert back[0]["name"] == "op" and back[0]["kind"] == 2
    assert back[0]["start_time_unix_nano"] == 1
    assert back[0]["trace_id"].endswith("01")


@pytest.mark.parametrize("gen,signal,n", [
    (generate_traces, "traces", 8),
    (generate_logs, "logs", 8),
    (generate_metrics, "metrics", 7),
])
def test_pb_file_roundtrip(spark, tmp_path, gen, signal, n):
    """df -> pb files -> df is canonical-identical for all three signals
    (the pb twin of the OTLP/JSON roundtrip tests)."""
    df = gen(spark, n)
    p = str(tmp_path / f"{signal}_pb")
    nfiles = write_otlp_pb(df, p, signal)
    assert nfiles >= 1
    back = read_otlp_pb(spark, p, signal)
    assert back.schema.simpleString() == df.schema.simpleString()
    assert _canon(back, []) == _canon(df, [])


def test_pb_agrees_with_json_codec(spark, tmp_path):
    """The pb decode of what pb encode produced equals the JSON decode of
    what JSON encode produced — one row model, two wire formats."""
    from otel_arrow_collector_spark.sources.otlp_json import (
        read_otlp_json, write_otlp_json)
    td = generate_traces(spark, 4)
    pj = str(tmp_path / "tr_json")
    pp = str(tmp_path / "tr_pb")
    write_otlp_json(td, pj, "traces")
    write_otlp_pb(td, pp, "traces")
    via_json = read_otlp_json(spark, pj, "traces")
    via_pb = read_otlp_pb(spark, pp, "traces")
    assert _canon(via_pb, []) == _canon(via_json, [])


def test_pb_roundtrip_exact_large_int64_with_nulls(spark, tmp_path):
    """Nullable int64 columns must survive the Spark file paths EXACTLY.

    Regression for the mapInPandas paths: pandas promotes a LongType
    column containing any null to float64, corrupting values beyond 2**53
    (1581452772000000321 -> ...256).  The mapInArrow paths keep exact ints
    with null distinct from NaN — the reference's uint64-nanos model
    (pdata/pcommon/timestamp.go:15)."""
    import math

    from otel_arrow_collector_spark.model.telemetry import (
        METRIC_POINT_SCHEMA, attr)

    big = 1581452772000000321          # > 2**53, not float64-representable
    base = dict(metric_name="gauge-int", description="", unit="1",
                metric_type=1, aggregation_temporality=0, is_monotonic=None,
                attributes={"k": attr("v")}, value_double=None, count=None,
                sum=None, min=None, max=None, bucket_counts=None,
                explicit_bounds=None, scale=None, zero_count=None,
                positive_offset=None, positive_bucket_counts=None,
                negative_offset=None, negative_bucket_counts=None,
                quantile_values=None, exemplars=None, flags=0,
                resource_attributes={}, scope_name="", scope_version="")
    rows = [
        # the null in value_int here is what used to trigger the float64
        # promotion of the whole column
        dict(base, start_time_unix_nano=big, time_unix_nano=big + 1,
             value_int=None),
        dict(base, start_time_unix_nano=None, time_unix_nano=big + 3,
             value_int=big + 2),
    ]
    df = spark.createDataFrame(rows, METRIC_POINT_SCHEMA)
    p = str(tmp_path / "bigint_pb")
    write_otlp_pb(df, p, "metrics")
    got = {r.time_unix_nano: r
           for r in read_otlp_pb(spark, p, "metrics").collect()}
    assert set(got) == {big + 1, big + 3}
    assert got[big + 1].start_time_unix_nano == big
    assert got[big + 1].value_int is None
    assert got[big + 3].value_int == big + 2
    assert got[big + 3].start_time_unix_nano is None
    assert not any(isinstance(v, float) and math.isnan(v)
                   for r in got.values() for v in r.asDict().values()
                   if v is not None and not isinstance(v, (dict, list)))


def test_pb_roundtrip_preserves_nan_double(spark, tmp_path):
    """A genuine NaN double (histogram sum) is written as a NaN double on
    the wire, not conflated with null (Arrow null != NaN)."""
    import math

    from otel_arrow_collector_spark.model.telemetry import (
        METRIC_POINT_SCHEMA)

    row = dict(metric_name="histogram", description="", unit="1",
               metric_type=3, aggregation_temporality=2, is_monotonic=None,
               start_time_unix_nano=1, time_unix_nano=2, attributes={},
               value_int=None, value_double=None, count=3,
               sum=float("nan"), min=None, max=None,
               bucket_counts=[1, 2], explicit_bounds=[1.0], scale=None,
               zero_count=None, positive_offset=None,
               positive_bucket_counts=None, negative_offset=None,
               negative_bucket_counts=None, quantile_values=None,
               exemplars=None, flags=0, resource_attributes={},
               scope_name="", scope_version="")
    df = spark.createDataFrame([row], METRIC_POINT_SCHEMA)
    p = str(tmp_path / "nan_pb")
    write_otlp_pb(df, p, "metrics")
    back = read_otlp_pb(spark, p, "metrics").collect()
    assert len(back) == 1
    assert math.isnan(back[0]["sum"])
    assert back[0]["min"] is None          # null stayed null
    assert back[0]["count"] == 3


def test_pb_unknown_signal_raises(spark, tmp_path):
    df = generate_logs(spark, 1)
    with pytest.raises(NotImplementedError, match="profiles"):
        write_otlp_pb(df, str(tmp_path / "x"), "profiles")


def _resource_rows() -> list[dict]:
    """Spans over three resources: one map spelled in two key orders and
    with and without None-valued variant slots, one other map, and no
    map at all (None and empty), interleaved across two scopes."""
    def var(**kw):
        return {"s": None, "i": None, "d": None, "b": None, "json": None,
                **kw}
    cart = {"service.name": var(s="cart"), "host": var(s="h1"),
            "pid": var(i=7)}
    cart_reordered = {"pid": {"i": 7}, "host": {"b": None, "s": "h1"},
                      "service.name": {"s": "cart"}}
    pay = {"service.name": var(s="pay"), "ratio": var(d=0.5)}
    order = [cart, pay, cart_reordered, None, cart_reordered, {}, pay, cart]
    return [dict(trace_id=f"{i + 1:032x}", span_id=f"{i + 1:016x}",
                 name=f"op{i}", kind=1, start_time_unix_nano=10 * i,
                 end_time_unix_nano=10 * i + 5, resource_attributes=res,
                 scope_name="lib" if i % 3 else None,
                 scope_version="1" if i % 3 else None)
            for i, res in enumerate(order)]


def test_resource_grouping_ignores_key_order_and_none_slots():
    """Rows group by the canonical resource map (sorted entries, None
    slots dropped), keeping row order within a group and ordering groups
    by the canonical JSON text; the encoded bytes are pinned."""
    import hashlib
    import json

    from otel_arrow_collector_spark.sources.otlp_pb import _group_rows
    rows = _resource_rows()
    want: dict = {}
    for r in rows:
        key = (json.dumps(sorted(
                   (k, tuple(sorted((a, b) for a, b in v.items()
                                    if b is not None)))
                   for k, v in (r["resource_attributes"] or {}).items())),
               r["scope_name"] or "", r["scope_version"] or "")
        want.setdefault(key, []).append(r)
    got = _group_rows(rows)
    assert list(got) == list(want)
    assert {k: [id(r) for r in v] for k, v in got.items()} \
        == {k: [id(r) for r in v] for k, v in want.items()}
    assert len(got) == 6
    body = encode_request(rows, "traces")
    assert hashlib.sha256(body).hexdigest() == RESOURCE_ROWS_SHA256


#: sha256 of ``encode_request(_resource_rows(), "traces")``, as encoded
#: by the per-row JSON key grouping that preceded the per-resource one
RESOURCE_ROWS_SHA256 = \
    "a7035d7c70b861b6512e3f75bf7537f550351033f4393a007a499a92d67edd34"
