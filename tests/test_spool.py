"""The spool (``sources/spool.py``): the one on-disk hand-off between the
live receivers and Spark.

- an acked request is never replaced by a later one: receivers that
  restart on, or share, one spool directory name their files apart;
- backpressure counts request files, not the per-client directories;
- one writer's files keep the format they had: file bytes, directory
  names and the ``req-``/``batch-`` name shapes;
- the HTTP receiver reads a body only by its Content-Length, and counts
  a handler error as ``conn_error``.
"""

from __future__ import annotations

import http.client
import io
import os
import socket

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from otel_arrow_collector_spark.exporters.grpc_exporter import (
    ArrowStreamClient, grpc_call)
from otel_arrow_collector_spark.model import generate_traces
from otel_arrow_collector_spark.sources import spool
from otel_arrow_collector_spark.sources.arrow_service import PAYLOAD_SPANS
from otel_arrow_collector_spark.sources.grpc_receiver import OtlpGrpcReceiver
from otel_arrow_collector_spark.sources.http_receiver import OtlpHttpReceiver
from otel_arrow_collector_spark.sources.otlp_pb import (decode_request,
                                                        encode_request)

TRACES = "/opentelemetry.proto.collector.trace.v1.TraceService/Export"
PB = "application/x-protobuf"


@pytest.fixture(scope="module")
def one_span(spark) -> bytes:
    """One OTLP/pb Export request holding one span."""
    rows = [r.asDict(recursive=True)
            for r in generate_traces(spark, 1).collect()]
    return encode_request(rows, "traces")


def _post(rcv, body, ctype=PB, headers=None) -> int:
    conn = http.client.HTTPConnection(rcv.host, rcv._port, timeout=10)
    try:
        conn.request("POST", "/v1/traces", body,
                     {"Content-Type": ctype, **(headers or {})})
        return conn.getresponse().status
    finally:
        conn.close()


def _raw_post(rcv, head: bytes, body: bytes = b"") -> int:
    """POST with hand-written framing headers, then hang up the sending
    side; returns the status (0 for no reply)."""
    with socket.create_connection((rcv.host, rcv._port), timeout=10) as s:
        s.sendall(b"POST /v1/traces HTTP/1.1\r\nHost: x\r\n"
                  b"Content-Type: application/x-protobuf\r\n"
                  + head + b"\r\n" + body)
        s.shutdown(socket.SHUT_WR)
        line = s.makefile("rb").readline()
    return int(line.split()[1]) if line else 0


def _files(d: str) -> list[str]:
    return sorted(os.path.join(dp, f) for dp, _, fs in os.walk(d)
                  for f in fs)


def _spans(spool_dir: str) -> int:
    total = 0
    for p in _files(os.path.join(spool_dir, "traces_pb")):
        with open(p, "rb") as fh:
            total += len(decode_request(fh.read(), "traces"))
    return total


def _arrow_fragment() -> bytes:
    batch = pa.record_batch({"v": pa.array([1, 2], pa.int64())})
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, batch.schema) as w:
        w.write_batch(batch)
    return sink.getvalue()


def _grpc_once(spool_dir: str, body: bytes) -> None:
    r = OtlpGrpcReceiver(spool_dir)
    host, port = r.start()
    try:
        grpc_call(host, port, TRACES, body)
    finally:
        r.stop()


# -- names never collide ------------------------------------------------------

def test_restarted_grpc_receiver_keeps_unconsumed_files(one_span, tmp_path):
    d = str(tmp_path / "spool")
    _grpc_once(d, one_span)
    _grpc_once(d, one_span)             # same spool, nothing consumed
    assert _spans(d) == 2


def test_http_and_grpc_receivers_share_one_spool(one_span, tmp_path):
    d = str(tmp_path / "spool")
    h, g = OtlpHttpReceiver(d), OtlpGrpcReceiver(d)
    h.start()
    host, port = g.start()
    try:
        assert _post(h, one_span) == 200
        grpc_call(host, port, TRACES, one_span)
    finally:
        h.stop()
        g.stop()
    assert _spans(d) == 2


def test_two_http_receivers_share_the_json_spool(tmp_path):
    d = str(tmp_path / "spool")
    a, b = OtlpHttpReceiver(d), OtlpHttpReceiver(d)
    a.start()
    b.start()
    try:
        for r in (a, b):
            assert _post(r, b'{"resourceSpans":[]}',
                         "application/json") == 200
    finally:
        a.stop()
        b.stop()
    assert len(_files(os.path.join(d, "traces_json"))) == 2


def test_restarted_receiver_keeps_unconsumed_arrow_batches(tmp_path):
    d = str(tmp_path / "spool")
    frag = _arrow_fragment()
    for _ in range(2):
        r = OtlpGrpcReceiver(d)
        host, port = r.start()
        try:
            c = ArrowStreamClient(host, port)
            assert c.send_batch(1, [("s", PAYLOAD_SPANS, frag)])[
                "status_code"] == 0
            c.close()
        finally:
            r.stop()
    files = _files(os.path.join(d, "arrow", "040"))
    assert len(files) == 2
    assert sum(pq.read_metadata(f).num_rows for f in files) == 4


# -- backpressure counts files ------------------------------------------------

def _drain(d: str) -> None:
    """A consumer took every file; the per-client directories stay."""
    for p in _files(d):
        os.unlink(p)


def test_http_backpressure_after_drained_client_info_spool(one_span,
                                                           tmp_path):
    d = str(tmp_path / "spool")
    r = OtlpHttpReceiver(d, max_pending_files=2, record_client_info=True)
    r.start()
    try:
        assert [_post(r, one_span) for _ in range(2)] == [200, 200]
        assert _post(r, one_span) == 503
        _drain(d)
        assert _post(r, one_span) == 200
        assert r.counters["refused_backpressure_traces"] == 1
    finally:
        r.stop()


def test_grpc_backpressure_after_drained_client_info_spool(one_span,
                                                           tmp_path):
    d = str(tmp_path / "spool")
    r = OtlpGrpcReceiver(d, max_pending_files=2, record_client_info=True)
    host, port = r.start()
    try:
        for _ in range(2):
            grpc_call(host, port, TRACES, one_span)
        _drain(d)
        grpc_call(host, port, TRACES, one_span)   # raises if refused
        assert "refused_backpressure_traces" not in r.counters
        assert r.counters["accepted_traces"] == 3
    finally:
        r.stop()


def test_pending_skips_temp_files_and_client_dirs(tmp_path):
    d = str(tmp_path)
    w = spool.Writer(d, ("pb",))
    w.write_request(b"", "traces", "pb", ("1.2.3.4:5", "alice"))
    w.write_request(b"", "traces", "pb")
    open(os.path.join(spool.signal_dir(d, "traces", "pb"),
                      ".tmp-in-flight"), "wb").close()
    assert w.pending("traces") == 2


# -- one writer's format is unchanged -----------------------------------------

def test_spool_format_for_one_writer(one_span, tmp_path):
    d = str(tmp_path)
    w = spool.Writer(d, ("json", "pb"))
    assert sorted(os.listdir(d)) == [f"{s}_{x}" for s in
                                     ("logs", "metrics", "traces")
                                     for x in ("json", "pb")]
    doc = b'{"resourceSpans":[]}'
    w.write_request(one_span, "traces", "pb")
    w.write_request(doc, "traces", "json")
    w.write_request(one_span, "traces", "pb", ("127.0.0.1:9", "a/b c"))
    batch = pa.record_batch({"v": pa.array([1, 2], pa.int64())})
    w.write_arrow(batch, PAYLOAD_SPANS)
    pb = _files(os.path.join(d, "traces_pb"))
    assert [os.path.relpath(p, d).rsplit("/", 1)[0] for p in pb] == [
        "traces_pb/client_addr=127.0.0.1%3A9/client_principal=a%2Fb%20c",
        "traces_pb"]
    assert spool.client_of(pb[0]) == ("127.0.0.1:9", "a/b c")
    assert spool.client_of(pb[1]) == (None, None)
    for p in pb:
        assert os.path.basename(p).startswith("req-") and p.endswith(".pb")
        with open(p, "rb") as fh:
            assert fh.read() == one_span
    [js] = _files(os.path.join(d, "traces_json"))
    assert os.path.basename(js).startswith("req-") and js.endswith(".json")
    with open(js, "rb") as fh:
        assert fh.read() == doc + b"\n"
    [pq_file] = _files(os.path.join(d, "arrow"))
    assert os.path.relpath(pq_file, d).startswith("arrow/040/batch-")
    assert pq_file.endswith(".parquet")
    want = io.BytesIO()
    pq.write_table(pa.Table.from_batches([batch]), want)
    with open(pq_file, "rb") as fh:
        assert fh.read() == want.getvalue()


def test_write_durable_removes_temp_on_failure(tmp_path):
    with pytest.raises(TypeError):
        spool.write_durable(str(tmp_path / "f"), object())
    assert os.listdir(tmp_path) == []


# -- an empty spool reads as empty, in the shape a full one has ---------------

def test_relay_runs_before_the_first_arrow_batch(spark, one_span, tmp_path):
    """A relay over both spools (the OTLP/pb and the OTel-Arrow one,
    unioned) compiles and runs while only pb requests have arrived."""
    from otel_arrow_collector_spark.plans.pipeline import PipelineGraph
    d = str(tmp_path)
    spool.Writer(d, ("pb",)).write_request(one_span, "traces", "pb")
    plan = PipelineGraph({
        "receivers": {
            "otlp/pb": {"kind": "grpc_spool", "path": d, "signal": "traces"},
            "otlp/arrow": {"kind": "arrow_spool", "path": d,
                           "signal": "traces"}},
        "processors": {
            "transform/tag": {"kind": "transform", "statements": [
                'set(attributes["relay"], "test")']},
            "batch": {"kind": "batch", "send_batch_size": 512}},
        "exporters": {"sink": {"kind": "memory"}},
        "pipelines": {"traces": {
            "receivers": ["otlp/pb", "otlp/arrow"],
            "processors": ["transform/tag", "batch"],
            "exporters": ["sink"]}},
    }).compile(spark)
    rows = plan.run()["traces/sink"]
    assert [r.span_id for r in rows] == [
        r["span_id"] for r in decode_request(one_span, "traces")]


def test_empty_client_info_spool_keeps_its_columns(spark, one_span,
                                                    tmp_path):
    full = str(tmp_path / "full")
    spool.Writer(full, ("pb",)).write_request(
        one_span, "traces", "pb", client=("10.0.0.1:5", "alice"))
    want = spool.read_spool(spark, full, "traces", client_info=True)
    empty = spool.read_spool(spark, str(tmp_path / "empty"), "traces",
                             client_info=True)
    assert empty.schema.simpleString() == want.schema.simpleString()
    assert empty.count() == 0


# -- HTTP body framing and the error counter ----------------------------------

@pytest.fixture()
def rcv(tmp_path):
    r = OtlpHttpReceiver(str(tmp_path / "spool"))
    r.start()
    yield r
    r.stop()


def test_http_chunked_body_is_411(rcv, one_span):
    chunk = b"%x\r\n%s\r\n0\r\n\r\n" % (len(one_span), one_span)
    assert _raw_post(rcv, b"Transfer-Encoding: chunked\r\n", chunk) == 411
    assert rcv.counters == {"refused_length_required_traces": 1}
    assert _files(rcv.spool_dir) == []


def test_http_missing_content_length_is_411(rcv):
    assert _raw_post(rcv, b"") == 411
    assert rcv.counters == {"refused_length_required_traces": 1}


@pytest.mark.parametrize("length", [b"abc", b"-1"])
def test_http_malformed_content_length_is_400(rcv, one_span, length):
    assert _raw_post(rcv, b"Content-Length: %s\r\n" % length,
                     one_span) == 400
    assert rcv.counters == {"refused_bad_length_traces": 1}
    assert _files(rcv.spool_dir) == []


def test_http_short_body_is_400(rcv, one_span):
    """A client that hangs up inside its body is not acked."""
    head = b"Content-Length: %d\r\n" % (len(one_span) + 10)
    assert _raw_post(rcv, head, one_span) == 400
    assert rcv.counters == {"refused_bad_payload_traces": 1}
    assert _files(rcv.spool_dir) == []


def test_http_handler_error_counts_conn_error(tmp_path):
    class Broken:
        def render(self):
            raise RuntimeError("exposition failed")

    r = OtlpHttpReceiver(str(tmp_path / "spool"), exposition=Broken())
    r.start()
    try:
        conn = http.client.HTTPConnection(r.host, r._port, timeout=10)
        try:
            # the server closes without a reply once the error is counted
            with pytest.raises(http.client.RemoteDisconnected):
                conn.request("GET", "/metrics")
                conn.getresponse()
        finally:
            conn.close()
        assert r.counters == {"conn_error": 1}
    finally:
        r.stop()
