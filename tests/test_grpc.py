"""Live OTLP/gRPC pair: stdlib HTTP/2 + RFC 7541 HPACK + gRPC framing,
real sockets end to end (receiver/otlpreceiver/otlp.go:93-110 service
registration; exporter/otlpexporter/otlp.go:121-176 status mapping).

The reference runs on grpc-go; this container has no grpcio, so BOTH
halves here are the repo's own wire implementation — the tests prove
protocol-level self-consistency plus spec-pinned constants (service
paths, status codes, length-prefixed message layout)."""

from __future__ import annotations

import struct

import pytest

from otel_arrow_collector_spark import plan_tree
from otel_arrow_collector_spark.exporters.grpc_exporter import (
    _PATHS, ArrowStreamClient, ClientStream, GrpcCallError, export_grpc_now,
    grpc_call)
from otel_arrow_collector_spark.exporters.retry import RetryConfig
from otel_arrow_collector_spark.model import generate_traces
from otel_arrow_collector_spark.sources import h2
from otel_arrow_collector_spark.sources.grpc_receiver import OtlpGrpcReceiver
from otel_arrow_collector_spark.sources.otlp_pb import (decode_request,
                                                        encode_request)

_FAST = RetryConfig(initial_interval_s=0.05, max_elapsed_s=0.3)


@pytest.fixture()
def rcv(tmp_path):
    r = OtlpGrpcReceiver(str(tmp_path / "spool"))
    r.start()
    yield r
    r.stop()


def _pb_body(spark, n=4):
    df = generate_traces(spark, n)
    rows = [r.asDict(recursive=True) for r in df.collect()]
    return encode_request(rows, "traces"), n


# ------------------------------------------------------------- wire level

def test_grpc_unary_roundtrip_and_spool(spark, rcv):
    body, n = _pb_body(spark, 4)
    resp = grpc_call(rcv.host, rcv._port, _PATHS["traces"], body)
    assert resp == b""                     # empty ExportTraceServiceResponse
    assert rcv.counters["accepted_traces"] == 1
    assert rcv.read_spool(spark, "traces").count() == n


def test_grpc_gzip_message(spark, rcv):
    body, n = _pb_body(spark, 3)
    grpc_call(rcv.host, rcv._port, _PATHS["traces"], body, compress=True)
    assert rcv.read_spool(spark, "traces").count() == n


def test_grpc_unknown_method_unimplemented(rcv):
    with pytest.raises(GrpcCallError) as ei:
        grpc_call(rcv.host, rcv._port, "/foo.Bar/Baz", b"")
    assert ei.value.status == 12           # UNIMPLEMENTED


def test_grpc_bad_payload_invalid_argument(rcv):
    with pytest.raises(GrpcCallError) as ei:
        grpc_call(rcv.host, rcv._port, _PATHS["traces"],
                  b"\xff\xff\xff not protobuf")
    assert ei.value.status == 3            # INVALID_ARGUMENT
    assert rcv.counters.get("refused_bad_payload_traces") == 1


def test_grpc_auth(spark, tmp_path):
    r = OtlpGrpcReceiver(str(tmp_path / "auth_spool"), token="sekrit")
    r.start()
    try:
        body, _ = _pb_body(spark, 1)
        with pytest.raises(GrpcCallError) as ei:
            grpc_call(r.host, r._port, _PATHS["traces"], body)
        assert ei.value.status == 16       # UNAUTHENTICATED
        grpc_call(r.host, r._port, _PATHS["traces"], body, token="sekrit")
        assert r.counters["accepted_traces"] == 1
    finally:
        r.stop()


def test_grpc_backpressure_resource_exhausted_with_pushback(spark, tmp_path):
    r = OtlpGrpcReceiver(str(tmp_path / "bp_spool"), max_pending_files=1,
                         retry_pushback_ms=250)
    r.start()
    try:
        body, _ = _pb_body(spark, 1)
        grpc_call(r.host, r._port, _PATHS["traces"], body)   # fills spool
        with pytest.raises(GrpcCallError) as ei:
            grpc_call(r.host, r._port, _PATHS["traces"], body)
        assert ei.value.status == 8        # RESOURCE_EXHAUSTED
        assert ei.value.pushback_ms == 250 # the throttle hint
        assert r.counters["refused_backpressure_traces"] == 1
    finally:
        r.stop()


def test_grpc_large_body_spans_multiple_data_frames(spark, rcv):
    """A body > SETTINGS_MAX_FRAME_SIZE must arrive intact (DATA
    fragmentation + reassembly + WINDOW_UPDATE replenishment)."""
    df = generate_traces(spark, 600)       # ~hundreds of KB encoded
    rows = [r.asDict(recursive=True) for r in df.collect()]
    body = encode_request(rows, "traces")
    assert len(body) > h2.DEFAULT_MAX_FRAME
    grpc_call(rcv.host, rcv._port, _PATHS["traces"], body)
    assert rcv.read_spool(spark, "traces").count() == 600


def test_grpc_all_three_signals(spark, rcv):
    from otel_arrow_collector_spark.model import (generate_logs,
                                                  generate_metrics)
    for signal, gen, n in (("logs", generate_logs, 5),
                           ("metrics", generate_metrics, 6)):
        df = gen(spark, n)               # metrics expand to datapoint rows
        rows = [r.asDict(recursive=True) for r in df.collect()]
        grpc_call(rcv.host, rcv._port, _PATHS[signal],
                  encode_request(rows, signal))
        assert rcv.read_spool(spark, signal).count() == len(rows)


# ------------------------------------------------------- Spark export stage

def test_grpc_exporter_mapinarrow_roundtrip(spark, rcv):
    df = generate_traces(spark, 8)
    res = export_grpc_now(df.coalesce(2), rcv.endpoint, "traces")
    assert res["rows_sent"] == 8 and res["n_tasks"] == 2
    assert rcv.read_spool(spark, "traces").count() == 8


def test_grpc_exporter_throttle_then_success(spark, tmp_path):
    """RESOURCE_EXHAUSTED + pushback -> ThrottleError -> retry succeeds
    once the spool drains (the exporterhelper throttle path)."""
    import os
    import shutil
    r = OtlpGrpcReceiver(str(tmp_path / "thr_spool"), max_pending_files=1,
                         retry_pushback_ms=100)
    r.start()
    try:
        body, _ = _pb_body(spark, 1)
        grpc_call(r.host, r._port, _PATHS["traces"], body)   # fill
        pb_dir = os.path.join(r.spool_dir, "traces_pb")

        # drain the spool shortly after, from a helper thread
        import threading

        def drain():
            # wait until the exporter has actually been throttled once,
            # then free the spool — deterministic, no sleep race
            import time
            t0 = time.time()
            while time.time() - t0 < 30:
                if r.counters.get("refused_backpressure_traces", 0) >= 1:
                    for f in os.listdir(pb_dir):
                        os.unlink(os.path.join(pb_dir, f))
                    return
                time.sleep(0.05)
        threading.Thread(target=drain, daemon=True).start()

        df = generate_traces(spark, 2)
        res = export_grpc_now(
            df.coalesce(1), r.endpoint, "traces",
            retry_config=RetryConfig(initial_interval_s=0.2,
                                     max_elapsed_s=10.0))
        assert res["rows_sent"] == 2
        assert res["n_attempts"] >= 2      # at least one throttled retry
    finally:
        r.stop()
        shutil.rmtree(str(tmp_path / "thr_spool"), ignore_errors=True)


def test_grpc_exporter_permanent_on_unauth(spark, tmp_path):
    r = OtlpGrpcReceiver(str(tmp_path / "unauth_spool"), token="x")
    r.start()
    try:
        df = generate_traces(spark, 1)
        with pytest.raises(Exception, match="grpc-status 16"):
            export_grpc_now(df.coalesce(1), r.endpoint, "traces",
                            token="wrong", retry_config=_FAST)
        assert r.counters.get("accepted_traces") is None
    finally:
        r.stop()


# ----------------------------------------------------- protocol edge cases

def test_grpc_frame_layout_is_spec_exact():
    """Length-prefixed message: 1-byte compressed flag + 4-byte BE length
    (gRPC-over-HTTP2 spec) — pinned so neither half can drift."""
    f = h2.grpc_frame(b"abc")
    assert f == b"\x00" + struct.pack(">I", 3) + b"abc"
    assert h2.parse_grpc_frames(f) == [(False, b"abc")]
    with pytest.raises(h2.H2Error):
        h2.parse_grpc_frames(f[:-1])       # truncated body is loud


def test_every_grpc_socket_has_nodelay(rcv, monkeypatch):
    """TCP_NODELAY is set on the receiver's accepted sockets, on
    grpc_call's socket and on ArrowStreamClient.sock, as Go's net does
    for every TCPConn.  With Nagle on, each small reply waits for the
    peer's delayed ACK, about 40 ms."""
    import socket as _socket

    from otel_arrow_collector_spark.exporters.grpc_exporter import \
        ArrowStreamClient

    def nodelay(sock):
        return sock.getsockopt(_socket.IPPROTO_TCP, _socket.TCP_NODELAY)

    accepted, connected = [], []
    serve, connect = rcv._serve_conn, h2.connect

    def spy_serve(sock):
        accepted.append(nodelay(sock))
        serve(sock)

    def spy_connect(*a, **kw):
        sock = connect(*a, **kw)
        connected.append(nodelay(sock))
        return sock

    monkeypatch.setattr(rcv, "_serve_conn", spy_serve)
    monkeypatch.setattr(h2, "connect", spy_connect)
    with pytest.raises(GrpcCallError):
        grpc_call(rcv.host, rcv._port, "/foo.Bar/Baz", b"")
    c = ArrowStreamClient(rcv.host, rcv._port)
    assert nodelay(c.sock)
    assert c.close()["grpc-status"] == "0"
    assert len(connected) == 2 and all(connected)
    assert len(accepted) == 2 and all(accepted)


def test_grpc_receiver_rejects_two_messages_on_unary(spark, rcv):
    """Two length-prefixed messages on a unary call -> INVALID_ARGUMENT
    (pre-framed DATA body; grpc_call can't express this)."""
    body, _ = _pb_body(spark, 1)
    call = ClientStream(rcv.host, rcv._port, _PATHS["traces"], 10)
    with call.sock:
        call.send(h2.grpc_frame(body) + h2.grpc_frame(body), end=True)
        assert int(call.finish()["grpc-status"]) == 3   # INVALID_ARGUMENT


def test_grpc_pipeline_kinds_end_to_end(spark, tmp_path, rcv):
    """Pipeline compiler round trip: kind:grpc exporter pushes through the
    live server; kind:grpc_spool receiver reads the spool back."""
    from otel_arrow_collector_spark.plans.pipeline import PipelineGraph
    df = generate_traces(spark, 6)
    g = PipelineGraph({
        "receivers": {"mem": {"kind": "memory"}},
        "exporters": {"push": {"kind": "grpc", "endpoint": rcv.endpoint,
                               "signal": "traces",
                               "max_rows_per_request": 2}},
        "pipelines": {"traces": {"receivers": ["mem"],
                                 "exporters": ["push"]}},
    })
    stats = g.compile(spark, sources={"mem": df}).run()["traces/push"]
    assert stats["rows_sent"] == 6 and stats["n_requests"] >= 3
    g2 = PipelineGraph({
        "receivers": {"spool": {"kind": "grpc_spool",
                                "path": rcv.spool_dir,
                                "signal": "traces"}},
        "exporters": {"sink": {"kind": "null"}},
        "pipelines": {"traces": {"receivers": ["spool"],
                                 "exporters": ["sink"]}},
    })
    assert g2.compile(spark).run()["traces/sink"] == 6


# --- OTel-Arrow bidi stream service (arrow.go:251-349) ---------------------

def _ipc_fragments(batches):
    """One logical IPC stream split at batch boundaries (the reference
    producer's per-batch record fragments)."""
    import io

    import pyarrow as pa
    sink = io.BytesIO()
    w = pa.ipc.new_stream(sink, batches[0].schema)
    cuts = []
    for b in batches:
        w.write_batch(b)
        cuts.append(sink.getvalue())
    frags, prev = [], b""
    for c in cuts:
        frags.append(c[len(prev):])
        prev = c
    return frags


def test_arrow_service_codec_roundtrip():
    from otel_arrow_collector_spark.sources.arrow_service import (
        PAYLOAD_LOGS, PAYLOAD_SPANS, STATUS_UNAVAILABLE, decode_batch,
        decode_status, encode_batch, encode_status)
    b = encode_batch(7, [("s1", PAYLOAD_SPANS, b"abc"),
                         ("s2", PAYLOAD_LOGS, b"xy")], b"hdr")
    assert decode_batch(b) == {
        "batch_id": 7,
        "payloads": [("s1", PAYLOAD_SPANS, b"abc"),
                     ("s2", PAYLOAD_LOGS, b"xy")],
        "headers": b"hdr"}
    st = encode_status(9, STATUS_UNAVAILABLE, "spool full")
    assert decode_status(st) == {"batch_id": 9, "status_code": 14,
                                 "status_message": "spool full"}


def test_arrow_stream_end_to_end(spark, rcv):
    """The fork's signature RPC against the live server: cross-fragment
    IPC continuation on one schema id, a second signal on the same
    stream, a bad-framing batch that gets INVALID_ARGUMENT without
    killing the stream, per-batch acks in order, clean half-close."""
    import pyarrow as pa

    from otel_arrow_collector_spark.exporters.grpc_exporter import \
        ArrowStreamClient
    from otel_arrow_collector_spark.sources.arrow_service import (
        PAYLOAD_METRICS, PAYLOAD_SPANS)
    receiver = rcv
    host, port = receiver.host, receiver._port
    frags = _ipc_fragments([
        pa.record_batch({"trace_id": pa.array(["a", "b"]),
                         "n": pa.array([1, 2])}),
        pa.record_batch({"trace_id": pa.array(["c"]),
                         "n": pa.array([9])})])
    mfrag = _ipc_fragments(
        [pa.record_batch({"v": pa.array([1.5, 2.5])})])[0]
    c = ArrowStreamClient(host, port)
    assert c.send_batch(1, [("s0", PAYLOAD_SPANS, frags[0])]) \
        == {"batch_id": 1, "status_code": 0, "status_message": ""}
    st = c.send_batch(2, [("s0", PAYLOAD_SPANS, b"\xde\xad\xbe\xef")])
    assert st["batch_id"] == 2 and st["status_code"] == 3
    assert c.send_batch(3, [("s0", PAYLOAD_SPANS, frags[1]),
                            ("m0", PAYLOAD_METRICS, mfrag)]) \
        == {"batch_id": 3, "status_code": 0, "status_message": ""}
    assert c.close() == {"grpc-status": "0"}
    got = receiver.read_arrow_spool(spark, "traces")
    assert sorted((r.trace_id, r.n) for r in got.collect()) \
        == [("a", 1), ("b", 2), ("c", 9)]
    m = receiver.read_arrow_spool(spark, "metrics")
    assert sorted(r.v for r in m.collect()) == [1.5, 2.5]
    assert receiver.counters["accepted_arrow_traces"] == 2
    assert receiver.counters["refused_bad_arrow"] == 1


def test_arrow_stream_auth_and_per_batch_headers(tmp_path):
    """Token-guarded stream: wrong bearer ends the stream with
    UNAUTHENTICATED trailers; with the right token, per-batch hpack
    headers decode through the stream's stateful codec."""
    import pyarrow as pa

    from otel_arrow_collector_spark.exporters.grpc_exporter import (
        ArrowStreamClient, GrpcCallError)
    from otel_arrow_collector_spark.sources.arrow_service import \
        PAYLOAD_SPANS
    from otel_arrow_collector_spark.sources.hpack import HpackEncoder
    r = OtlpGrpcReceiver(str(tmp_path / "spool"), token="s3cr3t")
    host, port = r.start()
    try:
        bad = ArrowStreamClient(host, port, token="wrong")
        frag = _ipc_fragments(
            [pa.record_batch({"trace_id": pa.array(["x"])})])[0]
        with pytest.raises((GrpcCallError, h2.H2Error)):
            bad.send_batch(1, [("s0", PAYLOAD_SPANS, frag)])
        hdrs = HpackEncoder().encode([("tenant", "acme")])
        ok = ArrowStreamClient(host, port, token="s3cr3t")
        st = ok.send_batch(1, [("s0", PAYLOAD_SPANS, frag)], headers=hdrs)
        assert st["status_code"] == 0
        assert ok.close()["grpc-status"] == "0"
    finally:
        r.stop()


def test_arrow_stream_zstd_payloads_and_pipeline_receiver(spark, rcv):
    """zstd-compressed IPC payloads (the reference's Arrow-stream zstd
    negotiation) decode through the stream service unchanged, and the
    spool feeds a `kind: arrow_spool` pipeline receiver."""
    import pyarrow as pa

    from otel_arrow_collector_spark.exporters.grpc_exporter import \
        ArrowStreamClient
    from otel_arrow_collector_spark.plans.pipeline import PipelineGraph
    from otel_arrow_collector_spark.sources.arrow_service import \
        PAYLOAD_SPANS
    receiver = rcv
    import io
    sink = io.BytesIO()
    b = pa.record_batch({"trace_id": pa.array(["z1", "z2"]),
                         "n": pa.array([5, 6])})
    w = pa.ipc.new_stream(sink, b.schema,
                          options=pa.ipc.IpcWriteOptions(
                              compression="zstd"))
    w.write_batch(b)
    c = ArrowStreamClient(receiver.host, receiver._port)
    assert c.send_batch(1, [("z", PAYLOAD_SPANS,
                             sink.getvalue())])["status_code"] == 0
    c.close()
    spec = {
        "receivers": {"in": {"kind": "arrow_spool",
                             "path": receiver.spool_dir,
                             "signal": "traces"}},
        "processors": {"f": {"kind": "filter", "where": "n > 5"}},
        "exporters": {"out": {"kind": "memory"}},
        "pipelines": {"traces": {"receivers": ["in"],
                                 "processors": ["f"],
                                 "exporters": ["out"]}},
    }
    rows = PipelineGraph(spec).compile(spark).run()["traces/out"]
    assert [(r.trace_id, r.n) for r in rows] == [("z2", 6)]


def test_otap_roundtrip_and_spark_reassembly(spark, rcv):
    """The fork's full data model end-to-end: golden spans -> OTAP
    normalized payload set (SPANS + RESOURCE/SPAN/EVENT/LINK attr
    tables) -> live bidi stream -> per-payload-type parquet spool ->
    SPARK-side reassembly (hash joins + collect_list) == the original
    rows; plus the driver-side decode_spans golden inverse."""
    import io

    import pyarrow as pa

    from otel_arrow_collector_spark.exporters.grpc_exporter import \
        ArrowStreamClient
    from otel_arrow_collector_spark.sources import otap
    receiver = rcv
    rows = [r.asDict(recursive=True)
            for r in generate_traces(spark, 4).collect()]
    payloads = otap.encode_spans(rows)

    # driver-side golden inverse
    back = otap.decode_spans({pt: t for _s, pt, t in payloads})
    canon = lambda rs: sorted(repr(sorted(r.items())) for r in rs)  # noqa
    assert canon(back) == canon(rows)

    # over the wire: each table as one self-contained IPC stream payload
    def ipc(t):
        sink = io.BytesIO()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        return sink.getvalue()

    c = ArrowStreamClient(receiver.host, receiver._port)
    st = c.send_batch(1, [(sid, pt, ipc(t)) for sid, pt, t in payloads])
    assert st["status_code"] == 0
    c.close()

    tables = receiver.read_arrow_payloads(spark)
    # empty satellite tables (no span attrs in the golden set) spool no
    # file; assemble_spans_df treats absence as empty
    assert otap.SPANS in tables and otap.RESOURCE_ATTRS in tables
    assert otap.SPAN_EVENTS in tables and otap.SPAN_EVENT_ATTRS in tables
    got = otap.assemble_spans_df(spark, tables)
    g = {r.id: r for r in got.collect()}
    assert len(g) == len(rows)
    for i, r in enumerate(rows):
        row = g[i].asDict()
        assert row["name"] == r["name"]
        assert row["trace_id"] == r["trace_id"]
        got_attrs = {k: v.asDict() for k, v in
                     (row.get("attributes") or {}).items()}
        assert got_attrs == (r["attributes"] or {})
        got_res = {k: v.asDict() for k, v in
                   (row.get("resource_attributes") or {}).items()}
        assert got_res == (r["resource_attributes"] or {})
        want_events = r["events"] or []
        got_events = sorted(
            [e.asDict(recursive=True) for e in row.get("events") or []],
            key=lambda e: e["time_unix_nano"])
        assert len(got_events) == len(want_events)
        for ge, we in zip(got_events,
                          sorted(want_events,
                                 key=lambda e: e["time_unix_nano"])):
            assert ge["name"] == we["name"]
            assert (ge["attributes"] or {}) == (we["attributes"] or {})
        # links re-nest too (ADVICE r5: reassembly must not drop them)
        want_links = r["links"] or []
        got_links = [x.asDict(recursive=True)
                     for x in row.get("links") or []]
        assert len(got_links) == len(want_links)
        got_link_attrs = sorted(repr(sorted((x["attributes"] or {}).items()))
                                for x in got_links)
        want_link_attrs = sorted(repr(sorted((x["attributes"] or {}).items()))
                                 for x in want_links)
        assert got_link_attrs == want_link_attrs
        for x in got_links:
            assert x["dropped_attributes_count"] == 4


def test_otap_logs_roundtrip_over_stream(spark, rcv):
    """OTAP logs: tagged body flattened to body_* columns, LOG_ATTRS +
    deduplicated RESOURCE_ATTRS; golden inverse equality, then the set
    rides the live stream into the per-payload-type spool."""
    import io

    import pyarrow as pa

    from otel_arrow_collector_spark.exporters.grpc_exporter import \
        ArrowStreamClient
    from otel_arrow_collector_spark.model import generate_logs
    from otel_arrow_collector_spark.sources import otap
    receiver = rcv
    rows = [r.asDict(recursive=True)
            for r in generate_logs(spark, 4).collect()]
    payloads = otap.encode_logs(rows)
    back = otap.decode_logs({pt: t for _s, pt, t in payloads})
    canon = lambda rs: sorted(repr(sorted(r.items())) for r in rs)  # noqa
    assert canon(back) == canon(rows)

    def ipc(t):
        sink = io.BytesIO()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        return sink.getvalue()

    c = ArrowStreamClient(receiver.host, receiver._port)
    assert c.send_batch(1, [(s_, pt, ipc(t))
                            for s_, pt, t in payloads])["status_code"] == 0
    c.close()
    tables = receiver.read_arrow_payloads(spark)
    assert otap.LOGS in tables and otap.LOG_ATTRS in tables
    main = tables[otap.LOGS]
    assert main.count() == len(rows)
    assert receiver.counters["accepted_arrow_logs"] == 1


def test_otap_metrics_roundtrip_over_stream(spark, rcv):
    """OTAP metrics: all five point families (number/summary/histogram/
    exp-histogram) as separate datapoint tables with attr + exemplar +
    exemplar-attr satellites, descriptor dedup on the main table;
    golden-inverse equality over the 7-kind fixture cycle, then the
    full payload set rides the live stream."""
    import io
    import json

    import pyarrow as pa

    from otel_arrow_collector_spark.exporters.grpc_exporter import \
        ArrowStreamClient
    from otel_arrow_collector_spark.model import generate_metrics
    from otel_arrow_collector_spark.sources import otap
    receiver = rcv
    rows = [r.asDict(recursive=True)
            for r in generate_metrics(spark, 7).collect()]
    payloads = otap.encode_metrics(rows)
    ptypes = {pt for _s, pt, _t in payloads}
    assert {otap.UNIVARIATE_METRICS, otap.NUMBER_DATA_POINTS,
            otap.SUMMARY_DATA_POINTS, otap.HISTOGRAM_DATA_POINTS,
            otap.EXP_HISTOGRAM_DATA_POINTS,
            otap.HISTOGRAM_DP_EXEMPLARS} <= ptypes
    back = otap.decode_metrics({pt: t for _s, pt, t in payloads})
    canon = lambda rs: sorted(                                    # noqa
        json.dumps(r, sort_keys=True, default=str) for r in rs)
    assert canon(back) == canon(rows)

    def ipc(t):
        sink = io.BytesIO()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        return sink.getvalue()

    c = ArrowStreamClient(receiver.host, receiver._port)
    assert c.send_batch(1, [(s_, pt, ipc(t))
                            for s_, pt, t in payloads])["status_code"] == 0
    c.close()
    tables = receiver.read_arrow_payloads(spark)
    assert tables[otap.UNIVARIATE_METRICS].count() == 7
    assert tables[otap.NUMBER_DATA_POINTS].count() == 8
    assert receiver.counters["accepted_arrow_metrics"] == 1


def test_arrow_spool_streaming_ingest(spark, rcv, tmp_path):
    """The Arrow-stream spool feeds Structured Streaming: batches acked
    over the bidi stream appear in a checkpointed streaming query."""
    import io

    import pyarrow as pa

    from otel_arrow_collector_spark.exporters.grpc_exporter import \
        ArrowStreamClient
    from otel_arrow_collector_spark.sources.arrow_service import \
        PAYLOAD_SPANS
    receiver = rcv

    def ship(vals, batch_id):
        sink = io.BytesIO()
        b = pa.record_batch({"trace_id": pa.array(vals),
                             "n": pa.array(list(range(len(vals))))})
        with pa.ipc.new_stream(sink, b.schema) as w:
            w.write_batch(b)
        c = ArrowStreamClient(receiver.host, receiver._port)
        assert c.send_batch(batch_id, [(f"s{batch_id}", PAYLOAD_SPANS,
                                        sink.getvalue())])["status_code"] == 0
        c.close()

    ship(["a", "b"], 1)
    ship(["c"], 2)
    stream = receiver.stream_arrow_spool(spark, "traces")
    q = (stream.groupBy("trace_id").count()
         .writeStream.format("memory").queryName("arrow_stream_ingest")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt_arrow"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.trace_id: r["count"]
           for r in spark.table("arrow_stream_ingest").collect()}
    assert got == {"a": 1, "b": 1, "c": 1}


def test_export_arrow_stream_from_executors(spark, rcv):
    """Executor-side Arrow-stream export: DataFrame partitions ship over
    per-partition bidi streams (schema once + record-batch
    continuations), every batch acked, and the receiver's spool holds
    exactly the exported rows."""
    from otel_arrow_collector_spark.exporters.grpc_exporter import \
        export_arrow_stream
    receiver = rcv
    df = spark.range(0, 100).selectExpr(
        "id AS trace_id_num", "CAST(id % 7 AS LONG) AS n").repartition(4)
    audit = export_arrow_stream(
        df, f"grpc://{receiver.host}:{receiver._port}").collect()
    assert sum(r.rows_sent for r in audit) == 100
    assert all(r.all_acked for r in audit)
    got = receiver.read_arrow_spool(spark, "traces")
    assert got.count() == 100
    assert got.agg({"trace_id_num": "sum"}).first()[0] == sum(range(100))


def test_pipeline_arrow_stream_exporter(spark, rcv):
    """kind: arrow_stream closes the loop inside the DAG compiler:
    table receiver -> filter -> live Arrow-stream push -> spool."""
    from otel_arrow_collector_spark.plans.pipeline import PipelineGraph
    from tests.conftest import SF_SMALL
    receiver = rcv
    spec = {
        "receivers": {"in": {"kind": "table", "table": "events"}},
        "processors": {"f": {"kind": "filter",
                             "where": "event_type = 'error'"}},
        "exporters": {"out": {
            "kind": "arrow_stream",
            "endpoint": f"grpc://{receiver.host}:{receiver._port}"}},
        "pipelines": {"t": {"receivers": ["in"], "processors": ["f"],
                            "exporters": ["out"]}},
    }
    res = PipelineGraph(spec).compile(spark, sf_dir=SF_SMALL).run()["t/out"]
    assert res["all_acked"] and res["rows_sent"] > 0
    got = receiver.read_arrow_spool(spark, "traces")
    assert got.count() == res["rows_sent"]
    assert {r.event_type for r in got.select("event_type").collect()} \
        == {"error"}


def test_arrow_stream_backpressure_unavailable(spark, tmp_path):
    """Spool-full backpressure acks UNAVAILABLE (the transient code the
    reference maps consumer errors to, arrow.go:344) without killing
    the stream."""
    import io

    import pyarrow as pa

    from otel_arrow_collector_spark.exporters.grpc_exporter import \
        ArrowStreamClient
    from otel_arrow_collector_spark.sources.arrow_service import (
        PAYLOAD_SPANS, STATUS_UNAVAILABLE)
    r = OtlpGrpcReceiver(str(tmp_path / "spool"), max_pending_files=0)
    host, port = r.start()
    try:
        sink = io.BytesIO()
        b = pa.record_batch({"x": pa.array([1])})
        with pa.ipc.new_stream(sink, b.schema) as w:
            w.write_batch(b)
        c = ArrowStreamClient(host, port)
        st = c.send_batch(1, [("s", PAYLOAD_SPANS, sink.getvalue())])
        assert st["status_code"] == STATUS_UNAVAILABLE
        assert "spool full" in st["status_message"]
        # stream is still alive: half-close cleanly
        assert c.close()["grpc-status"] == "0"
        assert r.counters.get("refused_backpressure_traces") == 1
    finally:
        r.stop()


def test_otap_reassembly_plan_joins_on_ids(spark, rcv):
    """assemble_spans_df's physical plan: id-keyed equi-joins only — no
    cartesian/broadcast-nested-loop blowup from the flat-to-nested
    reconstruction."""
    import io

    import pyarrow as pa

    from otel_arrow_collector_spark.exporters.grpc_exporter import \
        ArrowStreamClient
    from otel_arrow_collector_spark.sources import otap
    receiver = rcv
    rows = [r.asDict(recursive=True)
            for r in generate_traces(spark, 4).collect()]

    def ipc(t):
        sink = io.BytesIO()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        return sink.getvalue()

    c = ArrowStreamClient(receiver.host, receiver._port)
    c.send_batch(1, [(s_, pt, ipc(t))
                     for s_, pt, t in otap.encode_spans(rows)])
    c.close()
    got = otap.assemble_spans_df(
        spark, receiver.read_arrow_payloads(spark))
    assert not plan_tree.read(got).find("CartesianProduct",
                                        "BroadcastNestedLoopJoin")


def test_full_system_grpc_to_arrow_pipeline(spark, tmp_path):
    """Capstone composition: live unary gRPC ingest -> pb spool ->
    YAML pipeline (OTTL statement transform + filter) -> executor-side
    Arrow-stream egress -> a SECOND live receiver's spool.  Every hop
    is the real wire path; the final spool holds exactly the
    transformed record set."""
    from otel_arrow_collector_spark.exporters.grpc_exporter import \
        export_grpc_now
    from otel_arrow_collector_spark.plans.pipeline import PipelineGraph
    a = OtlpGrpcReceiver(str(tmp_path / "in"))
    b = OtlpGrpcReceiver(str(tmp_path / "out"))
    a.start()
    b.start()
    try:
        src = generate_traces(spark, 6)
        res = export_grpc_now(src, a.endpoint, "traces")
        assert res["rows_sent"] == src.count()
        spec = {
            "receivers": {"in": {"kind": "grpc_spool",
                                 "path": a.spool_dir,
                                 "signal": "traces"}},
            "processors": {
                "xform": {"kind": "transform", "statements": [
                    'set(attributes["pipeline"], "edge")',
                    'drop() where name == "operationB"']},
            },
            "exporters": {"out": {
                "kind": "arrow_stream",
                "endpoint": f"grpc://{b.host}:{b._port}"}},
            "pipelines": {"t": {"receivers": ["in"],
                                "processors": ["xform"],
                                "exporters": ["out"]}},
        }
        sink = PipelineGraph(spec).compile(spark).run()["t/out"]
        assert sink["all_acked"]
        got = b.read_arrow_spool(spark, "traces")
        rows = got.collect()
        assert len(rows) == sink["rows_sent"] > 0
        assert all(r.name == "operationA" for r in rows)
        assert all(r.attributes["pipeline"].s == "edge" for r in rows)
    finally:
        a.stop()
        b.stop()


def test_arrow_per_signal_service_paths(spark, rcv):
    """All four Arrow services answer: the mixed ArrowStream plus the
    per-signal ArrowTraces/ArrowLogs/ArrowMetrics variants route to the
    same stream loop (arrow.go:251-263)."""
    import io

    import pyarrow as pa

    from otel_arrow_collector_spark.exporters.grpc_exporter import \
        ArrowStreamClient
    from otel_arrow_collector_spark.sources.arrow_service import (
        PAYLOAD_LOGS, PAYLOAD_METRICS, PAYLOAD_SPANS)
    receiver = rcv
    base = "/opentelemetry.proto.experimental.arrow.v1"
    for path, ptype in [
            (f"{base}.ArrowTracesService/ArrowTraces", PAYLOAD_SPANS),
            (f"{base}.ArrowLogsService/ArrowLogs", PAYLOAD_LOGS),
            (f"{base}.ArrowMetricsService/ArrowMetrics", PAYLOAD_METRICS)]:
        sink = io.BytesIO()
        b = pa.record_batch({"v": pa.array([1, 2])})
        with pa.ipc.new_stream(sink, b.schema) as w:
            w.write_batch(b)
        c = ArrowStreamClient(receiver.host, receiver._port, path=path)
        assert c.send_batch(1, [("s", ptype,
                                 sink.getvalue())])["status_code"] == 0
        assert c.close()["grpc-status"] == "0"
    assert receiver.counters["accepted_arrow_traces"] >= 1
    assert receiver.counters["accepted_arrow_logs"] >= 1
    assert receiver.counters["accepted_arrow_metrics"] >= 1


def test_grpc_zstd_message_and_unknown_coding(spark, rcv):
    """configgrpc's compressor registry beyond gzip (configgrpc.go:
    384-392): zstd round-trips through the live server with the capped
    frame-header decoder; an unknown grpc-encoding on a compressed
    message is INVALID_ARGUMENT, not a crash."""
    body, n = _pb_body(spark, 3)
    grpc_call(rcv.host, rcv._port, _PATHS["traces"], body, compress="zstd")
    assert rcv.read_spool(spark, "traces").count() == n
    # snappy: the reference registry's third coding (framed stream
    # format, CRC32C-verified) round-trips through the live server
    grpc_call(rcv.host, rcv._port, _PATHS["traces"], body,
              compress="snappy")
    assert rcv.read_spool(spark, "traces").count() == 2 * n
    # a corrupted snappy chunk CRC is INVALID_ARGUMENT, not a crash
    from otel_arrow_collector_spark.sources.snappy import frame_compress
    blob = bytearray(frame_compress(body))
    blob[len(blob) // 2] ^= 0xFF
    with pytest.raises(GrpcCallError) as ei:
        _raw_call_with_encoding(rcv, _PATHS["traces"], bytes(blob),
                                "snappy", client_refuses=False)
    assert ei.value.status == 3          # INVALID_ARGUMENT
    import gzip as _g
    # hand-rolled call claiming an unregistered coding: refused cleanly
    with pytest.raises(GrpcCallError) as ei:
        _raw_call_with_encoding(rcv, _PATHS["traces"],
                                _g.compress(body), "br")
    assert ei.value.status == 3          # INVALID_ARGUMENT
    assert "unsupported" in ei.value.message


def _raw_call_with_encoding(rcv, path, compressed_body, coding,
                            client_refuses=True):
    """grpc_call but with an arbitrary grpc-encoding header (the client
    helper itself refuses unknown codings, which is also pinned here;
    ``client_refuses=False`` for codings the client DOES support when
    the point is sending a hand-corrupted body)."""
    if client_refuses:
        with pytest.raises(ValueError, match="unsupported grpc compression"):
            grpc_call(rcv.host, rcv._port, path, b"", compress=coding)
    call = ClientStream(rcv.host, rcv._port, path, 10,
                        extra=[("grpc-encoding", coding)])
    with call.sock:
        call.send(h2.grpc_frame(compressed_body, compressed=True), end=True)
        call.finish()
        call.raise_for_status()


# --- the one HTTP/2 connection reader (h2.ConnectionReader) ----------------

def _split_block(sid, block):
    """One header block as HEADERS (carrying END_STREAM, not END_HEADERS)
    plus a CONTINUATION that ends it (RFC 7540 §6.2)."""
    return (h2.pack_frame(h2.HEADERS, h2.FLAG_END_STREAM, sid, block[:1])
            + h2.pack_frame(h2.CONTINUATION, h2.FLAG_END_HEADERS, sid,
                            block[1:]))


def _fake_server(reply: bytes):
    """A one-connection server: it reads the request up to its END_STREAM
    DATA frame, sends ``reply``, then waits for the client to hang up."""
    import threading
    srv = h2.listen("127.0.0.1", 0)

    def serve():
        with srv, h2.accept(srv) as conn:
            conn.settimeout(10)
            assert h2.recv_exact(conn, len(h2.PREFACE)) == h2.PREFACE
            while True:
                ftype, flags, _sid, _payload = h2.recv_frame(conn)
                if ftype == h2.DATA and flags & h2.FLAG_END_STREAM:
                    break
            conn.sendall(reply)
            try:
                while conn.recv(1 << 16):
                    pass
            except OSError:
                pass

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    return srv.getsockname()[1], t


def test_grpc_call_reads_trailers_split_across_continuation():
    """Trailers as HEADERS(END_STREAM) + CONTINUATION(END_HEADERS): the
    call ends at END_HEADERS, with the trailers decoded."""
    from otel_arrow_collector_spark.sources.hpack import HpackEncoder
    enc = HpackEncoder()
    head = enc.encode([(":status", "200"),
                       ("content-type", "application/grpc")])
    trailers = enc.encode([("grpc-status", "0"), ("grpc-message", "")])
    port, t = _fake_server(
        h2.pack_frame(h2.HEADERS, h2.FLAG_END_HEADERS, 1, head)
        + h2.pack_frame(h2.DATA, 0, 1, h2.grpc_frame(b"pong"))
        + _split_block(1, trailers))
    assert grpc_call("127.0.0.1", port, "/x.Y/Z", b"ping",
                     timeout_s=5) == b"pong"
    t.join(5)
    assert not t.is_alive()


def test_arrow_close_reads_split_trailers():
    """A trailers-only reply split across CONTINUATION: close() returns
    the decoded trailers, not an empty dict."""
    from otel_arrow_collector_spark.sources.hpack import HpackEncoder
    block = HpackEncoder().encode([(":status", "200"),
                                   ("content-type", "application/grpc"),
                                   ("grpc-status", "0")])
    port, t = _fake_server(_split_block(1, block))
    c = ArrowStreamClient("127.0.0.1", port, timeout_s=5)
    assert c.close()["grpc-status"] == "0"
    t.join(5)
    assert not t.is_alive()


def _raw_conn(rcv, frames: bytes):
    """A client connection to ``rcv`` that has sent the preface, an empty
    SETTINGS and ``frames``; -> (socket, reader)."""
    sock = h2.connect(rcv.host, rcv._port, 5)
    sock.sendall(h2.PREFACE + h2.pack_frame(h2.SETTINGS, 0, 0) + frames)
    return sock, h2.ConnectionReader(sock)


def _request_block(path):
    from otel_arrow_collector_spark.sources.hpack import HpackEncoder
    return HpackEncoder().encode([
        (":method", "POST"), (":scheme", "http"), (":path", path),
        (":authority", "t"), ("content-type", "application/grpc"),
        ("te", "trailers")])


def test_receiver_answers_split_headers_with_end_stream(rcv):
    """ArrowStream request headers as HEADERS(END_STREAM) + CONTINUATION:
    the receiver sees the half-close and answers with OK trailers."""
    sock, reader = _raw_conn(
        rcv, _split_block(1, _request_block(ArrowStreamClient.MIXED_PATH)))
    with sock:
        kind, sid, hdrs, end = reader.next_event()
    assert (kind, sid, end) == (h2.HEADERS, 1, True)
    assert hdrs["grpc-status"] == "0"


def test_receiver_rst_stream_drops_stream_and_keeps_serving(rcv):
    """RST_STREAM drops a half-sent stream; the next stream on the same
    connection is answered."""
    frames = (h2.pack_frame(h2.HEADERS, h2.FLAG_END_HEADERS, 1,
                            _request_block(_PATHS["traces"]))
              + h2.pack_frame(h2.DATA, 0, 1, b"\x00\x00\x00")
              + h2.pack_frame(h2.RST_STREAM, 0, 1, struct.pack(">I", 8))
              + h2.pack_frame(h2.HEADERS, h2.FLAG_END_HEADERS, 3,
                              _request_block("/foo.Bar/Baz"))
              + h2.pack_frame(h2.DATA, h2.FLAG_END_STREAM, 3,
                              h2.grpc_frame(b"")))
    sock, reader = _raw_conn(rcv, frames)
    with sock:
        while True:
            kind, sid, hdrs, end = reader.next_event()
            assert sid == 3
            if end:
                break
    assert hdrs["grpc-status"] == "12"     # UNIMPLEMENTED, stream 3 only
    assert "conn_error" not in rcv.counters


def test_receiver_goaway_ends_connection(rcv):
    sock, _ = _raw_conn(rcv, h2.pack_frame(h2.GOAWAY, 0, 0, bytes(8)))
    with sock, pytest.raises(h2.H2Closed):
        while True:                        # SETTINGS, its ack, then EOF
            h2.recv_frame(sock)
    assert "conn_error" not in rcv.counters


def _reader_pair():
    import socket as _socket
    a, b = _socket.socketpair()
    a.settimeout(5)
    b.settimeout(5)
    return a, h2.ConnectionReader(b)


def test_reader_acks_ping_and_settings():
    peer, reader = _reader_pair()
    with peer, reader.sock:
        peer.sendall(h2.pack_frame(h2.PING, 0, 0, b"12345678")
                     + h2.pack_frame(h2.SETTINGS, 0, 0, h2.settings_payload(
                         {h2.SETTINGS_MAX_FRAME_SIZE: 1 << 14}))
                     + h2.pack_frame(h2.WINDOW_UPDATE, 0, 0,
                                     struct.pack(">I", 1))
                     + h2.pack_frame(h2.DATA, h2.FLAG_END_STREAM, 1, b"x"))
        assert reader.next_event() == (h2.DATA, 1, b"x", True)
        assert h2.recv_frame(peer) == (h2.PING, h2.FLAG_ACK, 0, b"12345678")
        assert h2.recv_frame(peer) == (h2.SETTINGS, h2.FLAG_ACK, 0, b"")


def test_reader_strips_padding_and_priority():
    from otel_arrow_collector_spark.sources.hpack import HpackEncoder
    block = HpackEncoder().encode([(":path", "/a")])
    prio = struct.pack(">IB", 0, 15)       # stream dependency + weight
    peer, reader = _reader_pair()
    with peer, reader.sock:
        peer.sendall(
            h2.pack_frame(h2.HEADERS, h2.FLAG_PADDED | h2.FLAG_PRIORITY
                          | h2.FLAG_END_HEADERS, 5,
                          b"\x03" + prio + block + b"\x00" * 3)
            + h2.pack_frame(h2.DATA, h2.FLAG_PADDED | h2.FLAG_END_STREAM, 5,
                            b"\x02abc\x00\x00"))
        assert reader.next_event() == (h2.HEADERS, 5, {":path": "/a"},
                                       False)
        assert reader.next_event() == (h2.DATA, 5, b"abc", True)


def test_reader_rejects_frame_inside_header_block():
    peer, reader = _reader_pair()
    with peer, reader.sock:
        peer.sendall(h2.pack_frame(h2.HEADERS, 0, 1, b"\x82")
                     + h2.pack_frame(h2.DATA, 0, 1, b"x"))
        with pytest.raises(h2.H2Error, match="inside a header block"):
            reader.next_event()


def test_receiver_counts_undecodable_header_block(rcv):
    """An HPACK error ends the connection as a counted connection error
    (§4.3), not as an exception escaping the serving thread."""
    sock, _ = _raw_conn(rcv, h2.pack_frame(h2.HEADERS, h2.FLAG_END_HEADERS,
                                           1, b"\x80"))  # index 0
    with sock, pytest.raises(h2.H2Closed):
        while True:
            h2.recv_frame(sock)
    assert rcv.counters["conn_error"] == 1   # counted before the close


def test_reader_returns_reset_and_goaway():
    peer, reader = _reader_pair()
    with peer, reader.sock:
        peer.sendall(h2.pack_frame(h2.RST_STREAM, 0, 3, struct.pack(">I", 8))
                     + h2.pack_frame(h2.GOAWAY, 0, 0,
                                     struct.pack(">II", 3, 0)))
        assert reader.next_event() == (h2.RST_STREAM, 3, 8, True)
        assert reader.next_event() == (h2.GOAWAY, 3, 0, True)


def test_pop_grpc_message_caps_and_waits_for_whole_message():
    buf = bytearray(h2.grpc_frame(b"abc") + h2.grpc_frame(b"de")[:4])
    assert h2.pop_grpc_message(buf) == (False, b"abc")
    assert h2.pop_grpc_message(buf) is None        # incomplete: kept
    assert len(buf) == 4
    with pytest.raises(h2.H2Error, match="size cap"):
        h2.pop_grpc_message(bytearray(h2.grpc_frame(b"abcd")), cap=3)


# --- RFC 7540 frame rules: unknown types (§4.1, §5.5), size (§4.2) --------

def test_reader_ignores_unknown_frame_types():
    peer, reader = _reader_pair()
    with peer, reader.sock:
        peer.sendall(h2.pack_frame(0xA, 0, 0, b"\x00\x03abc")
                     + h2.pack_frame(0xFF, 0xFF, 1, b"x" * 10)
                     + h2.pack_frame(h2.DATA, h2.FLAG_END_STREAM, 1, b"x"))
        assert reader.next_event() == (h2.DATA, 1, b"x", True)


def test_reader_rejects_unknown_frame_inside_header_block():
    peer, reader = _reader_pair()
    with peer, reader.sock:
        peer.sendall(h2.pack_frame(h2.HEADERS, 0, 1, b"\x82")
                     + h2.pack_frame(0xA, 0, 1, b""))
        with pytest.raises(h2.H2Error, match="inside a header block"):
            reader.next_event()


def test_receiver_answers_a_call_after_an_unknown_frame(spark, rcv):
    """A type-0xA frame after the preface is ignored: the Export on the
    same connection is answered and no connection error is counted."""
    body, n = _pb_body(spark, 3)
    frames = (h2.pack_frame(0xA, 0, 0, b"\x00\x03abc")
              + h2.pack_frame(h2.HEADERS, h2.FLAG_END_HEADERS, 1,
                              _request_block(_PATHS["traces"]))
              + b"".join(h2.chunk_data_frames(1, h2.grpc_frame(body), True)))
    sock, reader = _raw_conn(rcv, frames)
    with sock:
        end = False
        while not end:
            kind, sid, val, end = reader.next_event()
    assert (kind, sid, val["grpc-status"]) == (h2.HEADERS, 1, "0")
    assert rcv.counters.get("conn_error", 0) == 0
    assert rcv.read_spool(spark, "traces").count() == n


def test_recv_frame_refuses_oversize_frame_before_its_payload():
    """FRAME_SIZE_ERROR comes from the 9-byte header alone: the payload
    is never sent here, so reading it would time out instead."""
    peer, reader = _reader_pair()
    with peer, reader.sock:
        reader.sock.settimeout(2)
        peer.sendall(h2.pack_frame(h2.DATA, 0, 1, b"x" * h2.DEFAULT_MAX_FRAME)
                     + struct.pack(">I", h2.DEFAULT_MAX_FRAME + 1)[1:]
                     + bytes((h2.DATA, 0)) + struct.pack(">I", 1))
        assert len(h2.recv_frame(reader.sock)[3]) == h2.DEFAULT_MAX_FRAME
        with pytest.raises(h2.H2Error, match="FRAME_SIZE_ERROR"):
            h2.recv_frame(reader.sock)


def test_receiver_refuses_an_oversize_frame(rcv):
    sock, _ = _raw_conn(rcv, h2.pack_frame(
        h2.HEADERS, h2.FLAG_END_HEADERS, 1, _request_block("/foo.Bar/Baz"))
        + h2.pack_frame(h2.DATA, h2.FLAG_END_STREAM, 1,
                        b"\x00" * (h2.DEFAULT_MAX_FRAME + 1)))
    with sock, pytest.raises((h2.H2Closed, ConnectionResetError)):
        while True:                        # SETTINGS, its ack, then EOF
            h2.recv_frame(sock)
    assert rcv.counters["conn_error"] == 1


def test_no_endpoint_sends_a_frame_over_the_max(spark, rcv, monkeypatch):
    """Both clients and the receiver split what they send at
    SETTINGS_MAX_FRAME_SIZE: every frame any reader here reads (the
    receiver's and both clients') is at most 16384 bytes, and the large
    bodies fill frames exactly to it."""
    import pyarrow as pa

    from otel_arrow_collector_spark.sources.arrow_service import \
        PAYLOAD_SPANS
    sizes = []
    real = h2.recv_frame

    def recording(sock):
        frame = real(sock)
        sizes.append(len(frame[3]))
        return frame
    monkeypatch.setattr(h2, "recv_frame", recording)
    body, n = _pb_body(spark, 600)
    assert len(body) > 3 * h2.DEFAULT_MAX_FRAME
    grpc_call(rcv.host, rcv._port, _PATHS["traces"], body)
    frag = _ipc_fragments([pa.record_batch(
        {"trace_id": pa.array(["x" * (3 * h2.DEFAULT_MAX_FRAME)])})])[0]
    c = ArrowStreamClient(rcv.host, rcv._port)
    assert c.send_batch(1, [("s0", PAYLOAD_SPANS, frag)])["status_code"] == 0
    assert c.close()["grpc-status"] == "0"
    assert max(sizes) == h2.DEFAULT_MAX_FRAME
    assert sizes.count(h2.DEFAULT_MAX_FRAME) >= 6
