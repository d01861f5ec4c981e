"""Property-based codec roundtrips (hypothesis): arbitrary canonical
metric datapoints and log records must survive rows -> OTLP/JSON -> rows
bit-exactly.  Mirrors the reference's per-type round-trip tests
(pdata/ptrace/json_test.go strategy) with generated rather than golden
inputs.

Canonical-form constraints the generators respect (what the codec
guarantees for its own output): value oneof has exactly one arm set,
repeated fields are NULL when absent (never []), description/unit/scope
default to ''.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from otel_arrow_collector_spark.model.telemetry import (LOG_SCHEMA,
                                                        METRIC_POINT_SCHEMA,
                                                        attr)
from otel_arrow_collector_spark.sources.otlp_json import (
    logs_from_otlp_json, logs_to_otlp_json, metrics_from_otlp_json,
    metrics_to_otlp_json)

_SPARK = [None]   # session injected by the autouse fixture below

import pytest


@pytest.fixture(autouse=True)
def _grab_spark(spark):
    _SPARK[0] = spark
    yield


def _norm(v):
    if hasattr(v, "asDict"):
        return ("D", tuple(sorted((k, _norm(x)) for k, x in v.asDict().items())))
    if isinstance(v, dict):
        return ("D", tuple(sorted((k, _norm(x)) for k, x in v.items())))
    if isinstance(v, (list, tuple)):
        return ("L", tuple(_norm(x) for x in v))
    return ("S", repr(v))


def _canon(df):
    return sorted(_norm(r) for r in df.collect())


# --------------------------- strategies ------------------------------------

_name = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"),
                           whitelist_characters="_.-"),
    min_size=1, max_size=12)
_ts = st.integers(min_value=1, max_value=2**62)
_finite = st.floats(allow_nan=False, allow_infinity=False, width=64)
_attrs = st.dictionaries(
    _name, st.one_of(st.booleans(), st.integers(-2**53, 2**53),
                     _finite, _name,
                     # structured values -> the json arm of the variant
                     st.lists(st.integers(0, 9), max_size=3),
                     st.dictionaries(_name, _name, max_size=2)).map(attr),
    max_size=3)


@st.composite
def metric_point(draw):
    mtype = draw(st.integers(1, 5))
    base = dict(
        metric_name=draw(_name), description=draw(st.sampled_from(["", "d"])),
        unit=draw(st.sampled_from(["", "1", "ms"])), metric_type=mtype,
        aggregation_temporality=(draw(st.integers(0, 2))
                                 if mtype in (2, 3, 4) else 0),
        is_monotonic=draw(st.booleans()) if mtype == 2 else None,
        start_time_unix_nano=draw(_ts), time_unix_nano=draw(_ts),
        attributes=draw(_attrs), value_int=None, value_double=None,
        count=None, sum=None, min=None, max=None, bucket_counts=None,
        explicit_bounds=None, scale=None, zero_count=None,
        positive_offset=None, positive_bucket_counts=None,
        negative_offset=None, negative_bucket_counts=None,
        quantile_values=None, exemplars=None, flags=draw(st.integers(0, 1)),
        resource_attributes=draw(_attrs),
        scope_name=draw(st.sampled_from(["", "scope"])), scope_version="")
    if mtype in (1, 2):   # number point: exactly one value arm
        if draw(st.booleans()):
            base["value_int"] = draw(st.integers(-2**53, 2**53))
        else:
            base["value_double"] = draw(_finite)
    elif mtype == 3:      # histogram
        n = draw(st.integers(1, 4))
        base.update(count=draw(st.integers(0, 10**9)), sum=draw(_finite),
                    bucket_counts=[draw(st.integers(0, 10**6))
                                   for _ in range(n + 1)],
                    explicit_bounds=sorted(
                        draw(st.lists(_finite, min_size=n, max_size=n,
                                      unique=True))))
    elif mtype == 4:      # exponential histogram
        base.update(count=draw(st.integers(0, 10**9)),
                    scale=draw(st.integers(-4, 20)),
                    zero_count=draw(st.integers(0, 10**6)),
                    positive_offset=draw(st.integers(-10, 10)),
                    positive_bucket_counts=[draw(st.integers(0, 100))
                                            for _ in range(draw(st.integers(1, 3)))])
    else:                 # summary
        base.update(count=draw(st.integers(0, 10**9)), sum=draw(_finite),
                    quantile_values=[
                        {"quantile": q, "value": draw(_finite)}
                        for q in (0.5, 0.99)[:draw(st.integers(1, 2))]])
    return base


@st.composite
def log_record(draw):
    body_kind = draw(st.integers(0, 3))
    body = {"s": None, "i": None, "d": None, "b": None, "json": None}
    if body_kind == 0:
        body["s"] = draw(_name)
    elif body_kind == 1:
        body["i"] = draw(st.integers(-2**53, 2**53))
    elif body_kind == 2:
        body["d"] = draw(_finite)
    else:
        body["json"] = '{"k":1}'
    return dict(
        time_unix_nano=draw(_ts), observed_time_unix_nano=draw(_ts),
        trace_id=draw(st.sampled_from(["", "0102030405060708090a0b0c0d0e0f10"])),
        span_id=draw(st.sampled_from(["", "1112131415161718"])),
        flags=draw(st.integers(0, 1)),
        severity_number=draw(st.integers(0, 24)),
        severity_text=draw(st.sampled_from(["", "Info", "Error"])),
        body=body, attributes=draw(_attrs),
        dropped_attributes_count=draw(st.integers(0, 3)),
        resource_attributes=draw(_attrs), scope_name="", scope_version="")


# ----------------------------- properties ----------------------------------

@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@pytest.mark.slow
@given(st.lists(metric_point(), min_size=1, max_size=6))
def test_metrics_roundtrip_property(points):
    spark = _SPARK[0]
    df = spark.createDataFrame(points, METRIC_POINT_SCHEMA)
    back = metrics_from_otlp_json(metrics_to_otlp_json(df))
    assert back.schema.simpleString() == df.schema.simpleString()
    assert _canon(back) == _canon(df)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@pytest.mark.slow
@given(st.lists(log_record(), min_size=1, max_size=6))
def test_logs_roundtrip_property(records):
    spark = _SPARK[0]
    df = spark.createDataFrame(records, LOG_SCHEMA)
    back = logs_from_otlp_json(logs_to_otlp_json(df))
    assert back.schema.simpleString() == df.schema.simpleString()
    assert _canon(back) == _canon(df)


@st.composite
def span_row(draw):
    has_status = draw(st.booleans())
    t0 = draw(_ts)
    return dict(
        trace_id=draw(st.sampled_from(
            ["0102030405060708090a0b0c0d0e0f10",
             "ffeeddccbbaa99887766554433221100"])),
        span_id=draw(st.sampled_from(["1112131415161718", "a1a2a3a4a5a6a7a8"])),
        parent_span_id=draw(st.sampled_from(["", "0a0b0c0d0e0f0102"])),
        trace_state=draw(st.sampled_from(["", "k=v"])),
        name=draw(_name), kind=draw(st.integers(0, 5)),
        start_time_unix_nano=t0,
        end_time_unix_nano=t0 + draw(st.integers(0, 10**9)),
        attributes=draw(_attrs), dropped_attributes_count=draw(st.integers(0, 2)),
        events=None, dropped_events_count=0,
        links=None, dropped_links_count=0,
        status_code=draw(st.integers(0, 2)) if has_status else 0,
        status_message=draw(st.sampled_from(["", "cancelled"])),
        resource_attributes=draw(_attrs), scope_name="", scope_version="")


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@pytest.mark.slow
@given(st.lists(span_row(), min_size=1, max_size=6))
def test_traces_roundtrip_property(rows):
    from otel_arrow_collector_spark.model.telemetry import SPAN_SCHEMA
    from otel_arrow_collector_spark.sources.otlp_json import (
        spans_from_otlp_json, spans_to_otlp_json)
    spark = _SPARK[0]
    df = spark.createDataFrame(rows, SPAN_SCHEMA)
    back = spans_from_otlp_json(spans_to_otlp_json(df))
    assert back.schema.simpleString() == df.schema.simpleString()
    assert _canon(back) == _canon(df)


# ---------------------------------------------------------------------------
# PNG codec properties (pure-Python, no Spark): arbitrary pixels, dims and
# per-scanline filter choices must round-trip byte-exactly
# ---------------------------------------------------------------------------

@given(st.data())
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_arbitrary_pixels(data):
    from otel_arrow_collector_spark.operators.multimodal import (_png_pixels,
                                                                 encode_png)
    w = data.draw(st.integers(1, 9), label="w")
    h = data.draw(st.integers(1, 9), label="h")
    pix = bytes(data.draw(
        st.lists(st.integers(0, 255), min_size=3 * w * h,
                 max_size=3 * w * h), label="pix"))
    gw, gh, rgb = _png_pixels(encode_png(pix, w, h))
    assert (gw, gh) == (w, h) and rgb == pix


@given(st.data())
@settings(max_examples=40, deadline=None)
def test_png_unfilter_inverts_any_filter_sequence(data):
    """Forward-filter random scanlines with a RANDOM per-row filter type
    (0-4) and assert the decoder recovers the pixels — the unfilter is a
    true inverse for every filter/neighbor combination, not just the
    fixed pattern in the golden test."""
    import struct
    import zlib

    from otel_arrow_collector_spark.operators.multimodal import (_paeth,
                                                                 _png_chunk,
                                                                 _png_pixels)
    w = data.draw(st.integers(1, 6), label="w")
    h = data.draw(st.integers(1, 6), label="h")
    nch, stride = 3, 3 * w
    pix = bytes(data.draw(
        st.lists(st.integers(0, 255), min_size=stride * h,
                 max_size=stride * h), label="pix"))
    filters = data.draw(
        st.lists(st.integers(0, 4), min_size=h, max_size=h), label="f")
    raw = bytearray()
    prev = bytearray(stride)
    for y, ft in enumerate(filters):
        line = bytearray(pix[y * stride:(y + 1) * stride])
        enc = bytearray(stride)
        for i in range(stride):
            left = line[i - nch] if i >= nch else 0
            up = prev[i]
            ul = prev[i - nch] if i >= nch else 0
            pred = {0: 0, 1: left, 2: up, 3: (left + up) // 2,
                    4: _paeth(left, up, ul)}[ft]
            enc[i] = (line[i] - pred) & 0xFF
        raw += bytes([ft]) + enc
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
           + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
           + _png_chunk(b"IEND", b""))
    assert _png_pixels(png) == (w, h, pix)


@given(st.data())
@settings(max_examples=30, deadline=None)
def test_png_roundtrip_adam7_and_16bit(data):
    """Adam7-interlaced and 16-bit (and their combination) round-trip to
    the same RGB bytes as the plain encoding: pass split + per-pass
    unfilter + pixel scatter is lossless, and the 16-bit high-byte
    reduction inverts the v<<8|v widening exactly."""
    from otel_arrow_collector_spark.operators.multimodal import (_png_pixels,
                                                                 encode_png)
    w = data.draw(st.integers(1, 11), label="w")
    h = data.draw(st.integers(1, 11), label="h")
    pix = bytes(data.draw(
        st.lists(st.integers(0, 255), min_size=3 * w * h,
                 max_size=3 * w * h), label="pix"))
    for interlace in (False, True):
        for depth in (8, 16):
            got = _png_pixels(encode_png(pix, w, h,
                                         interlace=interlace, depth=depth))
            assert got == (w, h, pix), (interlace, depth)


def test_png_adam7_16bit_gray_and_rgba():
    """Adam7 + 16-bit decode also covers gray (expand to RGB) and RGBA
    (drop alpha) color types, with per-pass filtered scanlines."""
    import struct
    import zlib

    from otel_arrow_collector_spark.operators.multimodal import (
        _ADAM7, _png_chunk, _png_pixels)

    w = h = 5
    for color, nch in ((0, 1), (6, 4)):
        vals = bytes((x * 37 + y * 11 + c * 5) & 0xFF
                     for y in range(h) for x in range(w)
                     for c in range(nch))
        arr = [vals[(y * w + x) * nch:(y * w + x) * nch + nch]
               for y in range(h) for x in range(w)]
        # 16-bit widen + Adam7 pass split, filter 2 (Up) per scanline
        raw = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            xs = range(x0, w, dx)
            ys = range(y0, h, dy)
            if not xs or not ys:
                continue
            prev = bytearray(2 * nch * len(xs))
            for y in ys:
                line = bytearray()
                for x in xs:
                    for c in arr[y * w + x]:
                        line += bytes((c, c))
                enc = bytes((line[i] - prev[i]) & 0xFF
                            for i in range(len(line)))
                raw += b"\x02" + enc
                prev = line
        ihdr = struct.pack(">IIBBBBB", w, h, 16, color, 0, 0, 1)
        png = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
               + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
               + _png_chunk(b"IEND", b""))
        gw, gh, rgb = _png_pixels(png)
        assert (gw, gh) == (w, h)
        want = bytearray()
        for y in range(h):
            for x in range(w):
                px = arr[y * w + x]
                if color == 0:
                    want += bytes((px[0], px[0], px[0]))
                else:
                    want += px[:3]
        assert rgb == bytes(want)


@given(st.data())
@settings(max_examples=20, deadline=None)
def test_progressive_jpeg_equals_baseline_property(data):
    """For ANY image geometry/content/quality/subsampling, the
    progressive and baseline encodes carry identical coefficients and
    must decode byte-identically — one property covering every decoder
    scan path (DC/AC first, refinement, EOB runs, subsampled grids)."""
    from otel_arrow_collector_spark.operators.jpeg import (
        decode_jpeg, encode_jpeg, encode_jpeg_progressive)
    w = data.draw(st.integers(1, 26))
    h = data.draw(st.integers(1, 26))
    q = data.draw(st.sampled_from([10, 60, 76, 90, 100]))
    sub = data.draw(st.sampled_from(["444", "422", "420"]))
    pix = bytes(data.draw(st.binary(min_size=3 * w * h,
                                    max_size=3 * w * h)))
    base = decode_jpeg(encode_jpeg(pix, w, h, quality=q, subsampling=sub))
    prog = decode_jpeg(encode_jpeg_progressive(
        pix, w, h, quality=q, subsampling=sub))
    assert base == prog


@given(st.data())
@settings(max_examples=25, deadline=None)
def test_arrow_stream_state_any_fragmentation(data):
    """ArrowStreamState: for ANY message-aligned fragmentation of an IPC
    stream (random batch contents, random cut points at message
    boundaries), the consumer yields every batch exactly once in order —
    the invariant the live bidi stream relies on."""
    import io

    import pyarrow as pa

    from otel_arrow_collector_spark.sources.arrow_service import \
        ArrowStreamState
    n_batches = data.draw(st.integers(1, 5), label="n_batches")
    batches = []
    for _ in range(n_batches):
        vals = data.draw(st.lists(st.integers(-2**40, 2**40),
                                  min_size=1, max_size=8))
        batches.append(pa.record_batch({"v": pa.array(vals,
                                                      pa.int64())}))
    sink = io.BytesIO()
    w = pa.ipc.new_stream(sink, batches[0].schema)
    cuts = []
    for b in batches:
        w.write_batch(b)
        cuts.append(sink.getvalue())
    # fragment at a random subset of batch boundaries (message-aligned)
    idxs = sorted(data.draw(st.sets(st.integers(0, n_batches - 1),
                                    min_size=1)))
    if idxs[-1] != n_batches - 1:
        idxs.append(n_batches - 1)
    frags, prev = [], b""
    for i in idxs:
        frags.append(cuts[i][len(prev):])
        prev = cuts[i]
    state = ArrowStreamState()
    got = []
    for f in frags:
        got.extend(state.consume("s", f))
    assert [b.column(0).to_pylist() for b in got] \
        == [b.column(0).to_pylist() for b in batches]
